"""Measured-scaling probe for the heaviest extension plans (round-8
task 3): build a K× replica corpus from an sf dir, run a declared query
at 1× and K×, and report the scaling exponent log(t_K/t_1)/log(K).

Replica construction keeps the 1× workload's SHAPE constant per
replica so the exponent measures plan scaling, not a changed problem:

- documents: replica r>0 suffixes every token with ``_r{r}`` — an
  injective token rename, so each replica's internal shingle-equality
  (and therefore near-dup/cluster) structure is IDENTICAL to the
  original while cross-replica shingles are disjoint (no artificial
  100%-duplication blowup).  doc_id offsets by replica.  Caveat: the
  renamed replicas' stopword/quality profile differs, so
  quality-filter selectivity shifts slightly — fine for timing, not
  for value comparisons.
- embeddings: replica r rotates the 64 dims by 13·r positions — an
  orthogonal transform, so within-replica cosines (and the near-dup
  graph per replica) are bit-identical in structure; cross-replica
  cosines of the near-uniform synthetic vectors sit far below the
  near-dup threshold.

Usage: python tools/scaling_probe.py [sf_dir] [K] [query ...]
"""

from __future__ import annotations

import json
import math
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from proyecto_gasto_publico_etl_per__spark.session import get_spark
from proyecto_gasto_publico_etl_per__spark.sources.tables import load_table

DEFAULT_QUERIES = ["corpus_clean_final", "dedup_clusters", "semantic_dedup_keep"]


def build_replicated(
    spark, sf_dir: str, k: int, out_dir: str, hot_token: str | None = None
) -> None:
    docs = load_table(spark, sf_dir, "documents")
    max_doc = docs.agg(F.max("doc_id")).collect()[0][0] + 1
    doc_parts = []
    for r in range(k):
        rep = docs.withColumn("doc_id", F.col("doc_id") + F.lit(r * max_doc))
        if r > 0:
            rep = rep.withColumn(
                "text", F.regexp_replace("text", r"(\S+)", f"$1_r{r}")
            )
        if hot_token is not None:
            # appended AFTER the rename so the token is shared by every
            # replica: the injective rename otherwise guarantees no
            # term's df grows with the corpus — the one input shape the
            # serve ladder can't produce naturally (a df≈N stopword,
            # round-14 hot-term lane)
            rep = rep.withColumn(
                "text",
                F.concat_ws(
                    " ",
                    F.coalesce(F.col("text"), F.lit("")),
                    F.lit(hot_token),
                ),
            )
        doc_parts.append(rep)
    out = doc_parts[0]
    for p in doc_parts[1:]:
        out = out.unionByName(p)
    # single file, like the driver's testdata — keeps the 1x and Kx
    # scan shapes comparable (sf parquet is single-row-group files;
    # a multi-file Kx dir would get extra scan parallelism for free)
    out.coalesce(1).write.mode("overwrite").parquet(
        f"{out_dir}/documents.parquet"
    )

    emb = load_table(spark, sf_dir, "embeddings")
    max_vec = emb.agg(F.max("vec_id")).collect()[0][0] + 1
    dim = len(emb.select("embedding").first()[0])
    emb_parts = []
    for r in range(k):
        rep = emb.withColumn("vec_id", F.col("vec_id") + F.lit(r * max_vec))
        if r > 0:
            shift = (13 * r) % dim
            rep = rep.withColumn(
                "embedding",
                F.concat(
                    F.slice("embedding", shift + 1, dim - shift),
                    F.slice("embedding", 1, shift),
                ),
            )
        emb_parts.append(rep)
    out = emb_parts[0]
    for p in emb_parts[1:]:
        out = out.unionByName(p)
    out.coalesce(1).write.mode("overwrite").parquet(
        f"{out_dir}/embeddings.parquet"
    )

    # orders/lineitem (round 9, for the graph queries): replica r offsets
    # every key space, so the Kx corpus is K structurally identical,
    # key-disjoint copies — the trade graph becomes K disjoint components
    # with the 1x component's exact shape
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    max_ok = orders.agg(F.max("o_orderkey")).collect()[0][0] + 1
    max_ck = orders.agg(F.max("o_custkey")).collect()[0][0] + 1
    max_sk = li.agg(F.max("l_suppkey")).collect()[0][0] + 1
    o_parts = [
        orders.withColumn("o_orderkey", F.col("o_orderkey") + F.lit(r * max_ok))
        .withColumn("o_custkey", F.col("o_custkey") + F.lit(r * max_ck))
        for r in range(k)
    ]
    out = o_parts[0]
    for p in o_parts[1:]:
        out = out.unionByName(p)
    out.coalesce(1).write.mode("overwrite").parquet(f"{out_dir}/orders.parquet")
    l_parts = [
        li.withColumn("l_orderkey", F.col("l_orderkey") + F.lit(r * max_ok))
        .withColumn("l_suppkey", F.col("l_suppkey") + F.lit(r * max_sk))
        for r in range(k)
    ]
    out = l_parts[0]
    for p in l_parts[1:]:
        out = out.unionByName(p)
    out.coalesce(1).write.mode("overwrite").parquet(
        f"{out_dir}/lineitem.parquet"
    )


def _ladder_of(k: int) -> list[int]:
    """Geometric ×3 ladder up to K (shared by the query and text-index
    lanes): a single leg at 2-5 s walls is scheduling-floor-dominated;
    the per-leg exponents + whole-ladder fit separate floor from data
    term, and the top leg is the number to trust."""
    if k < 2:
        raise SystemExit(
            "scaling probe needs k >= 2: a single-rung ladder has no "
            "leg to fit an exponent over (log-log fit denominator is "
            "zero at k=1)"
        )
    ladder = [1]
    while ladder[-1] * 3 <= k:
        ladder.append(ladder[-1] * 3)
    if ladder[-1] != k:
        ladder.append(k)
    return ladder


def _exp_report(name: str, times: dict[int, float], **extra) -> None:
    ladder = sorted(times)
    legs = {
        f"exp_{a}x_{b}x": round(
            math.log(times[b] / times[a]) / math.log(b / a), 3
        )
        for a, b in zip(ladder, ladder[1:])
    }
    xs = [math.log(m) for m in ladder]
    ys = [math.log(times[m]) for m in ladder]
    mx, my = sum(xs) / len(xs), sum(ys) / len(ys)
    fit = sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sum(
        (x - mx) ** 2 for x in xs
    )
    print(
        json.dumps(
            {
                "query": name,
                "t_sec": {f"{m}x": round(times[m], 2) for m in ladder},
                **legs,
                "exp_fit": round(fit, 3),
                "exp_top": legs[f"exp_{ladder[-2]}x_{ladder[-1]}x"],
                **extra,
            }
        ),
        flush=True,
    )


def text_index_probe(spark, sf_dir: str, k: int) -> None:
    """Round-14 verdict task 6+7: the BM25 index BUILD ladder (the
    serve side is proven flat; the build is claimed linear — one
    corpus-sized job — measure it), plus the hot-term serving legs: a
    shared df==N token is injected into every replica (the injective
    rename never produces one), making |postings(hot)| corpus-sized —
    unguarded serving of it must scale ~linearly, and the max_df_frac
    guard must hold it flat."""
    import gc

    from proyecto_gasto_publico_etl_per__spark.operators.retrieval import (
        bm25_serve,
        build_bm25_index,
    )

    HOT = "zzhot"
    ladder = _ladder_of(k)
    builds: dict[int, float] = {}
    serves: dict[int, float] = {}
    hot_unguarded: dict[int, float] = {}
    hot_guarded: dict[int, float] = {}
    for mult in ladder:
        gc.collect()
        d = tempfile.mkdtemp(prefix=f"tiscale{mult}x_")
        build_replicated(spark, sf_dir, mult, d, hot_token=HOT)
        docs = spark.read.parquet(f"{d}/documents.parquet").select(
            "doc_id", "text"
        )
        # min-of-2 fresh builds (fresh root each: the build is the
        # corpus-sized job being measured, warm caches would lie)
        runs = []
        roots = []
        for _ in range(2):
            t0 = time.monotonic()
            roots.append(build_bm25_index(spark, docs))
            runs.append(time.monotonic() - t0)
        builds[mult] = min(runs)
        root = [roots[-1]]

        def timed(terms, **kw):
            bm25_serve(spark, root, terms, **kw).count()  # warm
            out = []
            for _ in range(2):
                t0 = time.monotonic()
                bm25_serve(spark, root, terms, **kw).count()
                out.append(time.monotonic() - t0)
            return min(out)

        serves[mult] = timed(("spark", "hash", "merge"))
        hot_unguarded[mult] = timed(("spark", HOT))
        hot_guarded[mult] = timed(("spark", HOT), max_df_frac=0.5)
    _exp_report("bm25_index_build", builds, sf_dir=sf_dir)
    _exp_report("bm25_serve_selective", serves, sf_dir=sf_dir)
    _exp_report("bm25_serve_hot_unguarded", hot_unguarded, sf_dir=sf_dir)
    _exp_report(
        "bm25_serve_hot_guarded_0.5",
        hot_guarded,
        sf_dir=sf_dir,
    )


def phrase_hot_probe(spark, sf_dir: str, k: int) -> None:
    """Round-15 verdict task 3: the phrase lane's hot-term cost bound.
    Exact phrase semantics forbid dropping a saturated term (the BM25
    ``max_df_frac`` remedy), so a stopword INSIDE a phrase would stream
    its corpus-sized posting list into the doc_id join.  phrase_serve
    now (a) joins ascending-df and (b) semi-joins every non-rarest
    side against the BROADCAST rarest doc_id set before the positional
    intersect.  This probe injects the shared df==N token (``zzhot``,
    the r14 hot-term lane) and serves the phrase ("spark", zzhot) —
    "spark"'s df is CONSTANT across rungs (the injective rename keeps
    bare tokens in replica 0 only) while zzhot's postings grow exactly
    linearly — with the semi-join on (default cap) and off (cap=0),
    asserting result identity per rung."""
    import gc

    from proyecto_gasto_publico_etl_per__spark.operators.retrieval import (
        build_bm25_index,
        phrase_serve,
    )

    HOT = "zzhot"
    ladder = _ladder_of(k)
    semi: dict[int, float] = {}
    nosemi: dict[int, float] = {}
    hot_rows: dict[int, int] = {}
    for mult in ladder:
        gc.collect()
        d = tempfile.mkdtemp(prefix=f"phscale{mult}x_")
        build_replicated(spark, sf_dir, mult, d, hot_token=HOT)
        docs = spark.read.parquet(f"{d}/documents.parquet").select(
            "doc_id", "text"
        )
        root = [build_bm25_index(spark, docs)]
        hot_rows[mult] = docs.count()  # zzhot rides in EVERY doc

        def timed(**kw):
            phrase_serve(spark, root, ("spark", HOT), **kw).count()  # warm
            out = []
            for _ in range(2):
                t0 = time.monotonic()
                phrase_serve(spark, root, ("spark", HOT), **kw).count()
                out.append(time.monotonic() - t0)
            return min(out)

        semi[mult] = timed()
        nosemi[mult] = timed(rarest_semijoin_cap=0)
        # identity at scale: the semi-join removes only rows the inner
        # join drops — same result set on every rung
        a = {
            tuple(r)
            for r in phrase_serve(spark, root, ("spark", HOT)).collect()
        }
        b = {
            tuple(r)
            for r in phrase_serve(
                spark, root, ("spark", HOT), rarest_semijoin_cap=0
            ).collect()
        }
        assert a == b, f"semi-join changed the result at {mult}x"
    _exp_report(
        "phrase_hot_semijoin",
        semi,
        sf_dir=sf_dir,
        hot_posting_rows={f"{m}x": hot_rows[m] for m in sorted(hot_rows)},
    )
    _exp_report("phrase_hot_no_semijoin", nosemi, sf_dir=sf_dir)


def delete_ladder_probe(spark, sf_dir: str, k: int) -> None:
    """Round-15: measure the DELETE operators of both index lanes —
    the lifecycle's claim is "delete latency ∝ delete batch, never a
    corpus re-tokenize/re-encode".  Per corpus rung (×1 … ×k), build
    each index once, then time `delete_from_bm25_index` /
    `delete_from_ann_index` for exponentially growing DISJOINT id
    batches (disjoint because re-deleting tombstoned ids anti-joins to
    a no-op, which would time nothing).  Honest caveat printed with
    the numbers: both deletes do one keyed semi-join against a
    corpus-sized per-doc zone (doclen / index_assigned), so the data
    term is a columnar scan that grows with the corpus — bounded and
    shuffle-free, but not zero; the measurement separates that scan
    floor from the per-batch cost."""
    import gc

    from proyecto_gasto_publico_etl_per__spark.operators.retrieval import (
        build_bm25_index,
        delete_from_bm25_index,
    )
    from proyecto_gasto_publico_etl_per__spark.operators.similarity import (
        delete_from_ann_index,
        ivf_centroids,
        ivf_pq_build_index,
        sampled_codebook,
    )

    ladder = _ladder_of(k)
    batches = (8, 64, 512)
    for mult in ladder:
        gc.collect()
        d = tempfile.mkdtemp(prefix=f"delscale{mult}x_")
        build_replicated(spark, sf_dir, mult, d)
        docs = spark.read.parquet(f"{d}/documents.parquet").select(
            "doc_id", "text"
        )
        emb = spark.read.parquet(f"{d}/embeddings.parquet")
        text_root = build_bm25_index(spark, docs)
        ann_base = f"{d}/annidx"
        cents = ivf_centroids(emb, "vec_id", "embedding", 16)
        cb = sampled_codebook(emb, "vec_id", "embedding", 16, 16)
        assigned, codes = ivf_pq_build_index(
            emb, m=16, n_codes=16, codebook=cb, centroids=cents
        )
        assigned.write.parquet(f"{ann_base}/index_assigned")
        codes.write.parquet(f"{ann_base}/index_codes")
        row = {"corpus_mult": mult, "bm25_delete_sec": {},
               "ann_delete_sec": {}}
        lo = 0
        for b in batches:
            ids = list(range(lo, lo + b))
            lo += b
            t0 = time.monotonic()
            n = delete_from_bm25_index(spark, [text_root], ids)
            row["bm25_delete_sec"][f"batch_{b}"] = round(
                time.monotonic() - t0, 2
            )
            assert n > 0
            t0 = time.monotonic()
            n = delete_from_ann_index(spark, ann_base, ids)
            row["ann_delete_sec"][f"batch_{b}"] = round(
                time.monotonic() - t0, 2
            )
            assert n > 0
        print(json.dumps(row), flush=True)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    k = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    names = sys.argv[3:] or DEFAULT_QUERIES
    if names == ["delete-ladder"]:
        delete_ladder_probe(get_spark(), sf_dir, k)
        return
    if names == ["text-index"]:
        text_index_probe(get_spark(), sf_dir, k)
        return
    if names == ["phrase-hot"]:
        phrase_hot_probe(get_spark(), sf_dir, k)
        return
    spark = get_spark()
    ladder = _ladder_of(k)
    dirs = {1: sf_dir}
    for mult in ladder[1:]:
        d = tempfile.mkdtemp(prefix=f"scale{mult}x_")
        build_replicated(spark, sf_dir, mult, d)
        dirs[mult] = d

    from proyecto_gasto_publico_etl_per__spark.plans import driver_queries

    import gc

    queries = driver_queries.all_queries()
    for name in names:
        fn = queries[name]
        times = {}
        for mult in ladder:
            gc.collect()  # let ContextCleaner drop the last leg's blocks
            # warm once (scan caches, codegen), then min-of-2
            fn(spark, dirs[mult]).count()
            runs = []
            for _ in range(2):
                t0 = time.monotonic()
                fn(spark, dirs[mult]).count()
                runs.append(time.monotonic() - t0)
            times[mult] = min(runs)
        _exp_report(name, times, sf_dir=sf_dir)


if __name__ == "__main__":
    main()
