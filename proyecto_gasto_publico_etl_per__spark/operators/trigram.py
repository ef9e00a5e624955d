"""Trigram substring index: LIKE '%needle%' without a corpus scan.

The retrieval lanes cover token queries (BM25 bag-of-terms) and
adjacent-token phrases (positional postings) — neither can answer a
SUBSTRING containment query (`position('window sc' IN text) > 0`):
tokenization erases intra-/cross-token character structure, so the
only token-index answer is a corpus scan.  This is the pg_trgm idea
rebuilt on the engine's zone discipline: index every distinct
3-character window of the (lowercased) text, and a needle's candidate
set is the docs containing ALL of the needle's trigrams — a superset
of the true matches by construction (a string containing the needle
contains every one of its trigrams), shrunk to exact by one verify
pass over candidates only.

Zone layout per root (the `operators.retrieval` conventions: explicit
read schemas so empty zones stay readable, crc32 bucketing so the
partition count is CONSTANT under vocabulary/corpus growth):

- ``postings``  (tri, doc_id) PARTITIONED BY ``tri_bucket =
  crc32(tri) % N_TRI_BUCKETS`` — a query reads only its trigrams'
  bucket directories (partition pruning is the index seek) and the
  exact ``tri IN (...)`` predicate pushes into parquet row groups;
- ``stats``     one row (n_docs) — the fallback-decision input.

Zones over DISJOINT doc subsets union exactly (postings are a set,
stats add), so append-maintained multi-root serving == a full rebuild
— the same associativity contract as the BM25 lane, here at set
rather than aggregate level.  Roots, tombstones (doc_id), the URI
boundary, the compaction guard and the index-directory layout follow
the shared zone lifecycle in `sources.zones`; a delete tombstones the
ids as given.

Serving cost: |postings(needle's trigrams)| rows into one doc-grouped
count (docs with all k trigrams), then the verify pass touches ONLY
candidate docs (a semi-join keyed lookup, at scale a pruned read).
The one needle shape that degenerates is a needle SHORTER than 3
chars — no trigram exists, so `serve` REFUSES it loudly (the caller
can run the exact scan it would have cost anyway) rather than
silently scanning.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import zones

#: posting-zone partition fan-out — constant under vocab/corpus growth
N_TRI_BUCKETS = 64

_POSTINGS_SCHEMA = "doc_id LONG, tri STRING, tri_bucket LONG"
#: deletion markers — serving anti-joins them out of the candidate
#: set, compaction folds them out physically
_TOMBSTONES_SCHEMA = "doc_id LONG"

MIN_NEEDLE = 3


def _norm(col) -> F.Column:
    """The index's normalization: lowercase only — substring search
    runs over the text's real character stream (whitespace collapse
    would change which substrings exist).  The DuckDB oracle mirrors
    ``lower(coalesce(text, ''))``."""
    c = F.col(col) if isinstance(col, str) else col
    return F.lower(F.coalesce(c, F.lit("")))


def _trigrams(col) -> F.Column:
    """Distinct 3-char windows of ``col`` — JVM-side higher-order
    functions, no Python in the path.  A string shorter than 3 chars
    yields an empty array (sequence would count DOWN otherwise — the
    r5 F.sequence trap, guarded here)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(
        F.length(c) >= MIN_NEEDLE,
        F.array_distinct(
            F.expr(
                f"transform(sequence(1, length({col}) - 2), "
                f"i -> substring({col}, i, 3))"
            )
        ),
    ).otherwise(F.array().cast("array<string>"))


def needle_trigrams(needle: str) -> list[str]:
    """Python twin of `_trigrams` for the plan-time query side."""
    s = needle.lower()
    return sorted({s[i : i + 3] for i in range(len(s) - 2)})


def build_trigram_index(
    spark: SparkSession, docs: DataFrame, root: str | None = None
) -> str:
    """One pass over ``docs`` (doc_id, text) → postings + stats zones
    under ``root`` (fresh tempdir when None).  Returns the root.  An
    explicit root is rewritten in place (`zones.build_root`)."""
    root, mode = zones.build_root(root, "trigram_index_")
    norm = docs.select("doc_id", _norm("text").alias("__t"))
    postings = (
        norm.select(
            "doc_id", F.explode(_trigrams("__t")).alias("tri")
        )
        .withColumn(
            "tri_bucket", F.pmod(F.crc32(F.col("tri")), N_TRI_BUCKETS)
        )
        .repartition(F.col("tri_bucket"))
    )
    postings.write.mode(mode).partitionBy("tri_bucket").parquet(
        f"{root}/postings"
    )
    docs.groupBy().agg(F.count(F.lit(1)).alias("n_docs")).write.mode(
        mode
    ).parquet(f"{root}/stats")
    return root


def _read_postings(spark: SparkSession, roots: Sequence[str]) -> DataFrame:
    return zones.read_zone(spark, roots, "postings", _POSTINGS_SCHEMA)


def _read_tombstones(
    spark: SparkSession, roots: Sequence[str]
) -> DataFrame | None:
    return zones.read_tombstones(spark, roots, _TOMBSTONES_SCHEMA)


def delete_from_trigram_index(
    spark: SparkSession, roots: Sequence[str], ids: DataFrame | Sequence[int]
) -> int:
    """Tombstone documents (takedown/retraction without rebuild):
    appends the ids (a frame's first column, or a list) as (doc_id)
    tombstones under ``roots[0]`` — a delete-batch-sized write, never
    a postings rewrite.  Serving anti-joins candidates against the
    union of all roots' tombstones; `compact_trigram_index` later
    folds them out physically.  Returns the number of newly tombstoned
    ids (a re-delete appends nothing)."""
    batch = zones.id_frame(spark, ids, "doc_id").distinct()
    return zones.append_tombstones(
        spark, roots, batch, _TOMBSTONES_SCHEMA, None
    )


def compact_trigram_index(
    spark: SparkSession, roots: Sequence[str], out_root: str
) -> str:
    """Fold many zone roots into ONE: postings union with tombstoned
    docs anti-joined OUT, stats recomputed from the folded postings'
    distinct docs (plus indexed-but-trigramless docs cannot be
    recovered from postings — their absence only affects the stats
    count, never results, documented).  The output root carries NO
    tombstones zone; ``out_root`` is guarded by `zones.compact_root`."""
    out_root = zones.compact_root(out_root, roots)
    posts = zones.drop_tombstoned(
        _read_postings(spark, roots), _read_tombstones(spark, roots)
    )
    posts.repartition(F.col("tri_bucket")).write.mode(
        "overwrite"
    ).partitionBy("tri_bucket").parquet(f"{out_root}/postings")
    (
        _read_postings(spark, [out_root])
        .agg(F.count_distinct("doc_id").alias("n_docs"))
        .write.mode("overwrite")
        .parquet(f"{out_root}/stats")
    )
    return out_root


def trigram_candidates(
    spark: SparkSession, roots: Sequence[str], needle: str
) -> DataFrame:
    """doc_ids whose indexed text contains ALL of the needle's
    trigrams — the exact candidate superset.  The postings read is
    partition-pruned to the trigrams' buckets and row-group-pruned by
    the ``tri IN`` predicate; the doc-grouped count is one hash agg
    over |postings(trigrams)| rows."""
    tris = needle_trigrams(needle)
    if not tris:
        raise ValueError(
            f"trigram: needle {needle!r} is shorter than {MIN_NEEDLE} "
            "chars — no trigram exists, so the index cannot prune; "
            "run an exact scan for micro-needles"
        )
    buckets = sorted(
        {__import__("zlib").crc32(t.encode("utf-8")) % N_TRI_BUCKETS for t in tris}
    )
    posts = _read_postings(spark, roots).where(
        F.col("tri_bucket").isin(buckets) & F.col("tri").isin(tris)
    )
    cands = (
        posts.groupBy("doc_id")
        .agg(F.count_distinct("tri").alias("__k"))
        .where(F.col("__k") == len(tris))
        .select("doc_id")
    )
    # deletion adjustment on the ALREADY-PRUNED candidate set: a
    # broadcast anti-join of the delete-batch-sized tombstones — serving
    # stays |postings(needle)|-bounded with deletes pending
    return zones.drop_tombstoned(cands, _read_tombstones(spark, roots))


def trigram_serve(
    spark: SparkSession,
    roots: Sequence[str],
    needle: str,
    docs: DataFrame,
) -> DataFrame:
    """doc_ids whose text CONTAINS ``needle`` (case-insensitive) —
    exact, via candidates ∩ verify: the candidate set from the index
    (a superset by construction — false positives are docs with all
    trigrams in the wrong order/positions), then one contains() check
    over the candidate docs only (semi-join of the candidate ids into
    the docs read — AQE promotes the small candidate side to a
    broadcast at runtime, and at 100 TB this is a keyed pruned
    lookup, never a corpus text scan)."""
    cands = trigram_candidates(spark, roots, needle)
    return (
        docs.join(cands, "doc_id", "leftsemi")
        .where(F.instr(_norm("text"), F.lit(needle.lower())) > 0)
        .select("doc_id")
    )
