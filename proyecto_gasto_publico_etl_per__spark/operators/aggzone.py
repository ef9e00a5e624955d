"""Incremental materialized aggregates — partial-aggregate zones that
merge-serve instead of recompute.

The reference recomputes every aggregate view from the base table on
each load (`CreacionDeDataWareHouse.sql` rebuilds its summary queries
per run; SURVEY.md §2.6).  That is fine at reference scale and fatal at
100 TB: a daily ingest of 0.1% of the corpus would pay a corpus-sized
aggregation every day.  This module is the engine's materialized-view
maintenance lane, on the zone lifecycle the BM25/ANN/trigram lanes
share (`sources.zones`: roots, the URI boundary, the compaction guard,
the base/delta=N layout): each ingest batch writes its OWN
small zone of per-group PARTIAL aggregates, serving merges the zones'
partials (cost: |groups| × |zones| rows, independent of base-table
size), and a periodic compaction folds zones into one.

Zone layout per root:

- ``partials``   one row per group: the group keys, ``cnt`` (LONG),
  ``sum_<c>`` (DECIMAL(38,s) — overflow-safe partial sums, the
  BM25-scoring DECIMAL lesson applied to rollups), ``min_<c>`` /
  ``max_<c>`` (native type), and ``kmv_<c>`` (ARRAY<LONG>: the group's
  k smallest distinct portable hashes of ``c`` — a K-Minimum-Values
  distinct sketch, Beyer et al. 2007);
- ``spec.json``  the zone's build spec (keys/measures/k) plus the
  partials schema as JSON — zones are self-describing, so an
  empty-input zone (no parquet data files under a partitioned write)
  stays readable via a declared schema, and serving can refuse a
  root built under a DIFFERENT spec loudly instead of mis-merging.

Everything in a zone is a MERGEABLE partial:

- cnt / sum:  add across zones (sums carried in DECIMAL(38,s), exact);
- min / max:  min / max across zones;
- kmv:        union the hash arrays, re-take the k smallest distinct —
  the union of two groups' k-minima contains the union's k minima, so
  the merged sketch is IDENTICAL to the sketch a single pass over the
  union would build.  That hash-level determinism (portable md5-prefix
  hash, same value in DuckDB) is what lets the merged estimate sit
  under the driver's hash gate.

Because every partial is associative and zones are built over DISJOINT
row subsets, merge-served results are EXACTLY the full recompute's —
the contract `plans.extension_queries.incr_agg_serving` puts under the
DuckDB oracle and `tests/test_aggzone.py` pins zone-split-invariance
for.  Deliberately NOT supported: deletion/retraction zones.  cnt and
sum are invertible (a negative-partials zone would work) but min, max,
and the KMV sketch are not — a retraction that removes the current
minimum or an already-sketched hash cannot be applied without
re-reading the survivors.  Deletes here mean: rebuild the affected
partition's zone (partition-scoped, not corpus-scoped), which is the
same answer every production cube store gives.

Distinct estimation: with ``h_k`` the k-th smallest of the distinct
32-bit hashes, the KMV estimator is ``(k-1) * 2^32 div h_k`` (integer
floor division — identical in both engines); a group with fewer than k
distinct hashes reports its EXACT distinct count (the sketch saw every
value).  Standard error is ~1/sqrt(k-2) (≈13% at the default k=64);
hash collisions (~n²/2^33) are immaterial because the oracle applies
the same hash before the same formula.
"""

from __future__ import annotations

import json
import os
import tempfile
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources import zones

#: default KMV sketch size: ~13% rsd, 64×8 bytes per group per zone
KMV_K = 64

#: 2^32 — the portable hash's value space (uint32 from an md5 prefix)
_HASH_SPACE = 1 << 32


def kmv_hash(col: Column | str) -> Column:
    """Portable uint32 hash for the KMV sketch: the first 8 hex digits
    of ``md5('k|' || value)`` as a BIGINT.  DuckDB twin (the oracle's
    mirror, the md5-prefix hash of ``functions/hashing.py``)::

        CAST(('0x' || substr(md5('k|' || CAST(c AS VARCHAR)), 1, 8))
             AS BIGINT)

    NULL values hash to NULL and are dropped by the sketch builder —
    matching COUNT(DISTINCT c)'s null semantics in both engines."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(
        F.substring(
            F.md5(F.concat(F.lit("k|"), c.cast("string"))), 1, 8
        ),
        16,
        10,
    ).cast("long")


def _spec_dict(
    keys: Sequence[str],
    sums: Sequence[str],
    mins: Sequence[str],
    maxs: Sequence[str],
    kmvs: Sequence[str],
    k: int,
) -> dict:
    return {
        "keys": list(keys),
        "sums": list(sums),
        "mins": list(mins),
        "maxs": list(maxs),
        "kmvs": list(kmvs),
        "k": int(k),
    }


def _check_sum_type(col: str, dtype: T.DataType) -> T.DecimalType:
    """Partial-sum carry type for ``dtype`` — DECIMAL(38,s), exact and
    overflow-safe to 1e38.  Float/double sum columns are REFUSED: a
    floating sum is not associative, so two zone layouts could serve
    two different answers for the same data — the caller must convert
    money-like doubles to an integer grid first (the engine-wide
    cents/micros convention, e.g. ``floor(x * 10000 + 0.5)``)."""
    if isinstance(dtype, (T.FloatType, T.DoubleType)):
        raise ValueError(
            f"aggzone: sum column {col!r} is {dtype.simpleString()} — "
            "floating sums are not associative across zone layouts; "
            "convert to an integer grid (cents/micros) first"
        )
    if isinstance(dtype, T.DecimalType):
        return T.DecimalType(38, dtype.scale)
    if isinstance(
        dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    ):
        return T.DecimalType(38, 0)
    raise ValueError(
        f"aggzone: sum column {col!r} has unsupported type "
        f"{dtype.simpleString()}"
    )


def _kmv_partial(
    df: DataFrame, keys: Sequence[str], col: str, k: int
) -> DataFrame:
    """Per-group array of the k smallest DISTINCT hashes of ``col``.

    Two-stage shape for scale: the (keys, hash) distinct is a hash
    aggregate (map-side combinable — each executor dedups its split
    before the one shuffle), then a per-group window takes the k
    smallest (a disk-backed sort of the DISTINCT hashes only — the
    same cost class as the exact COUNT DISTINCT this sketch replaces,
    paid ONCE at build; every serve afterwards touches k·|groups|
    values).  collect_list runs on ≤ k rows per group."""
    from pyspark.sql import Window

    hashes = (
        df.select(*keys, kmv_hash(col).alias("__h"))
        .where(F.col("__h").isNotNull())
        .distinct()
    )
    w = Window.partitionBy(*[F.col(c) for c in keys]).orderBy("__h")
    return (
        hashes.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .groupBy(*keys)
        .agg(F.sort_array(F.collect_list("__h")).alias(f"kmv_{col}"))
    )


def _nullsafe_join(
    left: DataFrame, right: DataFrame, keys: Sequence[str]
) -> DataFrame:
    """Left join on the group keys with null-safe equality — a NULL
    group key is a real group to groupBy, so the kmv partial for that
    group must attach to its base row, not fall out of the join.
    Explicit side aliases: both frames derive from the same lineage,
    so bare ``left[c] == right[c]`` resolves ambiguously (Spark's
    trivially-true-predicate trap)."""
    l, r = left.alias("__agg_l"), right.alias("__agg_r")
    cond = None
    for c in keys:
        term = F.col(f"__agg_l.{c}").eqNullSafe(F.col(f"__agg_r.{c}"))
        cond = term if cond is None else cond & term
    out = l.join(r, cond, "left")
    keep = [F.col(f"__agg_l.{c}") for c in left.columns] + [
        F.col(f"__agg_r.{c}") for c in right.columns if c not in keys
    ]
    return out.select(*keep)


def build_agg_zone(
    spark: SparkSession,
    df: DataFrame,
    keys: Sequence[str],
    sums: Sequence[str] = (),
    mins: Sequence[str] = (),
    maxs: Sequence[str] = (),
    kmvs: Sequence[str] = (),
    k: int = KMV_K,
    root: str | None = None,
) -> str:
    """One pass over ``df`` → a partial-aggregate zone under ``root``
    (a fresh tempdir when None).  Returns the root.

    The build is the only job that touches the input rows: one hash
    aggregate for cnt/sum/min/max (map-side combinable, one shuffle on
    the group keys) plus, per kmv column, one distinct + bounded
    window (see `_kmv_partial`).  An explicit root is rewritten in
    place (`zones.build_root`)."""
    if not keys:
        raise ValueError("aggzone: need at least one group key")
    root, mode = zones.build_root(root, "agg_zone_")

    dtypes = dict(zip(df.schema.names, [f.dataType for f in df.schema]))
    aggs: list[Column] = [F.count(F.lit(1)).alias("cnt")]
    for c in sums:
        carry = _check_sum_type(c, dtypes[c])
        aggs.append(
            F.sum(F.col(c).cast(carry)).alias(f"sum_{c}")
        )
    for c in mins:
        aggs.append(F.min(c).alias(f"min_{c}"))
    for c in maxs:
        aggs.append(F.max(c).alias(f"max_{c}"))
    partials = df.groupBy(*keys).agg(*aggs)
    for c in kmvs:
        partials = _nullsafe_join(
            partials, _kmv_partial(df, keys, c, k), keys
        )
        # a group whose kmv column is all-NULL carries an EMPTY sketch,
        # not a NULL one — merge's flatten(collect_list(...)) then
        # needs no null-handling and the estimate is exactly 0
        partials = partials.withColumn(
            f"kmv_{c}",
            F.coalesce(
                F.col(f"kmv_{c}"), F.array().cast("array<long>")
            ),
        )

    partials.write.mode(mode).parquet(f"{root}/partials")
    spec = _spec_dict(keys, sums, mins, maxs, kmvs, k)
    spec["schema"] = partials.schema.jsonValue()
    with open(f"{root}/spec.json", "w") as fh:
        json.dump(spec, fh)
    return root


def _load_spec(root: str) -> dict:
    path = f"{root}/spec.json"
    if not os.path.isfile(path):
        raise ValueError(
            f"aggzone: {root!r} has no spec.json — not an agg zone "
            "root (or a partial write; rebuild the zone)"
        )
    with open(path) as fh:
        return json.load(fh)


def zone_spec(root: str) -> dict:
    """The zone's build spec (keys/measures/k, schema omitted) — the
    CLI's append path derives its build arguments from the BASE zone's
    spec, so an append can never silently diverge from the base."""
    return {
        k: v
        for k, v in _load_spec(zones.as_local_path(root)).items()
        if k != "schema"
    }


def read_partials(
    spark: SparkSession, roots: Sequence[str]
) -> tuple[DataFrame, dict]:
    """Schema-declared union of the ``partials`` zone across roots,
    plus the shared spec.  Roots built under DIFFERENT specs refuse to
    merge loudly — adding zones' cnt columns is only meaningful when
    every zone aggregated the same keys and measures."""
    roots = zones.local_roots(roots)
    specs = [_load_spec(r) for r in roots]
    spec0 = {
        k: v for k, v in specs[0].items() if k != "schema"
    }
    for r, s in zip(roots[1:], specs[1:]):
        if {k: v for k, v in s.items() if k != "schema"} != spec0:
            raise ValueError(
                f"aggzone: root {r!r} was built under a different "
                f"spec than {roots[0]!r} — zones only merge when "
                "keys, measures, and k agree"
            )
    schema = T.StructType.fromJson(specs[0]["schema"])
    return zones.read_zone(spark, roots, "partials", schema), specs[0]


def _merge_partials(partials: DataFrame, spec: dict) -> DataFrame:
    """Partial-level merge across zones: the output is again a valid
    partials frame under the same spec (what compaction writes)."""
    k = spec["k"]
    aggs: list[Column] = [F.sum("cnt").alias("cnt")]
    for c in spec["sums"]:
        aggs.append(F.sum(f"sum_{c}").alias(f"sum_{c}"))
    for c in spec["mins"]:
        aggs.append(F.min(f"min_{c}").alias(f"min_{c}"))
    for c in spec["maxs"]:
        aggs.append(F.max(f"max_{c}").alias(f"max_{c}"))
    for c in spec["kmvs"]:
        aggs.append(
            F.slice(
                F.sort_array(
                    F.array_distinct(
                        F.flatten(F.collect_list(f"kmv_{c}"))
                    )
                ),
                1,
                k,
            ).alias(f"kmv_{c}")
        )
    return partials.groupBy(*spec["keys"]).agg(*aggs)


def _finalize(merged: DataFrame, spec: dict) -> DataFrame:
    """Partials → final measures: the KMV arrays become
    ``distinct_<c>_est`` (exact below k, ``(k-1)·2^32 div h_k`` at or
    above — integer floor division, engine-identical), the carries
    keep their exact types."""
    k = spec["k"]
    out = merged
    for c in spec["kmvs"]:
        arr = f"kmv_{c}"
        n = F.size(arr)
        est = F.when(n < k, n.cast("long")).otherwise(
            F.expr(
                f"CAST({(k - 1) * _HASH_SPACE} AS BIGINT) div "
                f"greatest(element_at({arr}, {k}), CAST(1 AS BIGINT))"
            )
        )
        out = out.withColumn(f"distinct_{c}_est", est).drop(arr)
    return out


def serve_agg(spark: SparkSession, roots: Sequence[str]) -> DataFrame:
    """Final aggregates over the union of the roots' partials.

    The serving plan never touches base-table rows: it reads
    |groups|·|roots| partial rows, re-merges (one small hash agg), and
    finalizes.  At 100 TB this is the whole point — a dashboard query
    over a year of zones costs megabytes while the base table costs
    terabytes; correctness rides on zone disjointness, which the
    producers (the base build and each append's delta) guarantee."""
    partials, spec = read_partials(spark, roots)
    return _finalize(_merge_partials(partials, spec), spec)


def compact_agg_zones(
    spark: SparkSession, roots: Sequence[str], out_root: str | None = None
) -> str:
    """Fold many zone roots (a base and its append deltas) into ONE —
    a partial-level merge only, never a base-table re-read.  Serving
    the compacted root equals serving the inputs by the same
    associativity serving itself relies on (pytest-pinned); at scale
    this is the periodic job that keeps the per-query zone fan-in
    bounded while ingest keeps appending deltas.  ``out_root`` is
    guarded by `zones.compact_root`."""
    if out_root is None:
        out_root = tempfile.mkdtemp(prefix="agg_zone_compacted_") + "/zone"
    out_root = zones.compact_root(out_root, roots)
    partials, spec = read_partials(spark, roots)
    merged = _merge_partials(partials, spec)
    merged.write.mode("overwrite").parquet(f"{out_root}/partials")
    spec_out = dict(spec)
    spec_out["schema"] = merged.schema.jsonValue()
    with open(f"{out_root}/spec.json", "w") as fh:
        json.dump(spec_out, fh)
    return out_root
