"""End-to-end training-corpus build lifecycle — the LLM-data analog of
the MEF transform→load→serve pipeline (`plans/mef_pipeline.py`).

Stages, each a parquet zone under ``out_dir`` (so every intermediate is
inspectable and each stage restartable — the same zone discipline as the
warehouse):

1. ``profile/``  — per-doc quality signals + language ID (one scan,
   pure expression chains appended as columns).
2. ``clean/``    — the quality × language × token-band gate, then
   near-duplicate removal keeping each Jaccard cluster's minimum-id
   representative (DF-capped candidate generation — the skew-surviving
   posting-join shape).  Mirrors the declared `corpus_clean_final`
   exactly.
3. ``splits/``   — leakage-free train/val/test assignment: near-dup
   CLUSTERS assign atomically (`sampling.cluster_split`), written
   partitioned by split so a trainer reads its split via partition
   pruning.
4. ``packed/``   — train-split docs chunked into token windows and
   packed into training sequences by running offset (window function,
   no iterative bin state).
5. ``report/``   — one-row build report (stage counts, token economics)
   for the run log.

Scale: every stage is the already-audited operator (no new shuffles
beyond their documented inventory); stages communicate through parquet,
so a 100 TB build checkpoints between stages for free and each stage's
partitioning is re-planned from real on-disk sizes.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..operators import chunking, dedup, sampling, textstats
from ..sources.tables import load_table
from .extension_queries import (
    CHUNK_SIZE,
    CHUNK_STRIDE,
    JACCARD_T,
    NGRAM_MAX_DF,
    PACK_BUDGET,
)

#: the profile-zone signals the ``classifier-eval`` CLI cross-validates
#: the quality classifier on — the ratio features are scale-free, so a
#: model trained at one corpus size scores any other.
QUALITY_FEATURES: tuple[str, ...] = (
    "mean_token_len",
    "punct_ratio",
    "upper_ratio",
    "stopword_ratio",
)


def build_corpus(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    *,
    lang: str = "en",
    min_tokens: int = 5,
    max_tokens: int = 500,
    val_fraction: float = 0.01,
    test_fraction: float = 0.01,
    source_cap_n: int | None = None,
    mixture_allocations: dict[str, int] | None = None,
    dsir_target_sources: tuple[str, ...] | None = None,
    dsir_keep_frac: float = 0.5,
    dsir_sample_permille: int | None = None,
) -> dict:
    """Run the full corpus build; returns the report row as a dict.

    ``source_cap_n`` / ``mixture_allocations``: optional mixture
    controls applied to the TRAIN split before packing (eval splits are
    never resampled — their job is to represent the cleaned
    distribution): at most ``source_cap_n`` docs per source
    (``curation.source_cap``), then per-language token budgets
    (``curation.mixture_fill``, two-phase quota fill).  Both are
    deterministic hash-order selections; the chosen ids persist to the
    ``selected/`` zone for audit.

    ``dsir_target_sources``: optional DSIR importance resampling on the
    train split — docs from the named sources act as the target-domain
    exemplar (kept unconditionally), every other train doc is scored by
    ``curation.dsir_importance`` and only the top ``dsir_keep_frac`` by
    weight survive (``curation.dsir_threshold_select``, sampled-quantile
    threshold at ``dsir_sample_permille``/1000; the default ``None``
    auto-bounds the driver-side sample — exact at small corpora, sampled
    above ~256k docs).  Runs before the cap / quota controls so those
    operate on the domain-matched pool."""
    docs = load_table(spark, sf_dir, "documents")

    # 1. profile: one scan, expression-chain columns
    profiled = textstats.lang_id(textstats.quality_stats(docs))
    profiled.write.mode("overwrite").parquet(f"{out_dir}/profile")
    profiled = spark.read.parquet(f"{out_dir}/profile")

    # 2. clean: gates + near-dup removal (capped candidates, exact verify)
    selected = profiled.where(
        F.col("quality_ok")
        & (F.col("lang_pred") == lang)
        & F.col("n_tokens").between(min_tokens, max_tokens)
    )
    clusters = dedup.cluster_duplicates(
        dedup.ngram_jaccard_pairs(
            docs, threshold=JACCARD_T, max_df=NGRAM_MAX_DF
        )
    )
    non_rep = clusters.filter(
        F.col("cluster_id") != F.col("doc_id")
    ).select("doc_id")
    clean = selected.join(non_rep, "doc_id", "left_anti")
    clean.write.mode("overwrite").parquet(f"{out_dir}/clean")
    clean = spark.read.parquet(f"{out_dir}/clean")

    # 3. splits: cluster-aware so near-dups never straddle train/eval
    split = sampling.cluster_split(
        clean, clusters, val_fraction=val_fraction,
        test_fraction=test_fraction,
    )
    split.write.mode("overwrite").partitionBy("split").parquet(
        f"{out_dir}/splits"
    )
    split = spark.read.parquet(f"{out_dir}/splits")

    # 4. mixture controls on the train split (eval splits untouched),
    #    then pack into training sequences
    train = split.where(F.col("split") == "train")
    n_train_presel = None
    if (
        source_cap_n is not None
        or mixture_allocations is not None
        or dsir_target_sources is not None
    ):
        n_train_presel = train.count()
        from ..operators import curation

        if dsir_target_sources is not None:
            weights = curation.dsir_importance(
                train, F.col("source").isin(*dsir_target_sources)
            )
            kept_raw = curation.dsir_threshold_select(
                weights,
                dsir_keep_frac,
                sample_permille=dsir_sample_permille,
            ).select("doc_id")
            target_ids = train.where(
                F.col("source").isin(*dsir_target_sources)
            ).select("doc_id")
            train = train.join(
                kept_raw.unionByName(target_ids), "doc_id", "left_semi"
            )
        if source_cap_n is not None:
            capped = curation.source_cap(train, source_cap_n).select(
                "doc_id"
            )
            train = train.join(capped, "doc_id", "left_semi")
        if mixture_allocations is not None:
            filled = curation.mixture_fill(
                train, mixture_allocations
            ).select("doc_id")
            train = train.join(filled, "doc_id", "left_semi")
        train.select("doc_id", "source", "lang").write.mode(
            "overwrite"
        ).parquet(f"{out_dir}/selected")
        train = split.where(F.col("split") == "train").join(
            spark.read.parquet(f"{out_dir}/selected").select("doc_id"),
            "doc_id",
            "left_semi",
        )
    chunks = chunking.chunk_documents(
        train, size=CHUNK_SIZE, stride=CHUNK_STRIDE
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy("doc")
        .orderBy("chunk_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = (
        chunks.withColumn("cum", F.sum("n_tokens").over(w))
        .withColumn(
            "seq_id",
            F.floor((F.col("cum") - F.col("n_tokens")) / PACK_BUDGET).cast(
                "int"
            ),
        )
        .drop("cum")
    )
    packed.write.mode("overwrite").parquet(f"{out_dir}/packed")
    packed = spark.read.parquet(f"{out_dir}/packed")

    # 5. report: a handful of scalar aggregates (run-log metadata, the
    # one place a lifecycle job legitimately collects)
    n_docs = docs.count()
    n_clean = clean.count()
    split_counts = {
        r["split"]: r["n"]
        for r in split.groupBy("split").agg(F.count("*").alias("n")).collect()
    }
    pack_stats = packed.agg(
        F.count("*").alias("n_chunks"),
        F.count_distinct(F.col("doc"), F.col("seq_id")).alias("n_seqs"),
        F.sum("n_tokens").alias("train_tokens"),
    ).collect()[0]
    report = {
        "n_docs_in": n_docs,
        "n_docs_clean": n_clean,
        "n_train_selected": (
            train.count()
            if n_train_presel is not None
            else split_counts.get("train", 0)
        ),
        "n_train": split_counts.get("train", 0),
        "n_val": split_counts.get("val", 0),
        "n_test": split_counts.get("test", 0),
        "n_chunks": pack_stats["n_chunks"],
        "n_sequences": pack_stats["n_seqs"],
        "train_tokens": int(pack_stats["train_tokens"] or 0),
    }
    spark.createDataFrame(
        [tuple(report.values())], list(report.keys())
    ).write.mode("overwrite").parquet(f"{out_dir}/report")
    return report
