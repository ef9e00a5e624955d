"""Deterministic sampling for training-data pipelines.

``df.sample(seed=...)`` is only reproducible for a fixed partitioning —
repartition the input and the sample changes.  Hash-based sampling is the
scale-correct alternative: membership depends only on the row's key, so
the sample is stable across runs, partitionings, engines, and incremental
loads (a document keeps its in/out status forever — critical when a
corpus is resampled after appends).

Both operators are pure column expressions (md5 → bucket in [0, 10000)),
mirrored exactly by the DuckDB oracles of the declared queries.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: bucket resolution: fractions are exact multiples of 0.01%
BUCKETS = 10_000


def hash_bucket(key: Column | str, salt: str = "sample") -> Column:
    """Stable bucket in [0, BUCKETS) from the md5 of (salt, key)."""
    c = F.col(key) if isinstance(key, str) else key
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"{salt}:"), c.cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("bigint")
        % BUCKETS
    )


def hash_sample(
    df: DataFrame,
    key_col: str,
    fraction: float,
    salt: str = "sample",
) -> DataFrame:
    """Keep ~``fraction`` of rows, chosen by key hash (deterministic).

    Rows with a NULL key hash to NULL and are always excluded — sample
    on a non-null key (or coalesce first) if NULL rows must be eligible.
    """
    return df.filter(hash_bucket(key_col, salt) < int(fraction * BUCKETS))


def stratified_hash_sample(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    fractions: Mapping[str, float],
    default: float = 0.0,
    salt: str = "sample",
) -> DataFrame:
    """Per-stratum deterministic sampling — e.g. keep 100% of rare
    languages and 5% of English.  Strata not listed keep ``default``."""
    threshold: Column = F.lit(int(default * BUCKETS))
    for value, frac in sorted(fractions.items()):
        threshold = F.when(
            F.col(strata_col) == value, F.lit(int(frac * BUCKETS))
        ).otherwise(threshold)
    return df.filter(hash_bucket(key_col, salt) < threshold)


def dataset_split(
    df: DataFrame,
    key_col: str,
    val_fraction: float = 0.01,
    test_fraction: float = 0.01,
    salt: str = "split",
) -> DataFrame:
    """Deterministic train/val/test assignment by key hash.

    The same key lands in the same split forever — across runs,
    partitionings, engines, and incremental corpus appends (the property
    that prevents eval-set contamination when a corpus is re-split after
    new data lands).  Buckets: [0, val) → val, [val, val+test) → test,
    rest → train.
    """
    val_t = int(val_fraction * BUCKETS)
    test_t = val_t + int(test_fraction * BUCKETS)
    b = hash_bucket(key_col, salt)
    return df.withColumn(
        "split",
        F.when(b < val_t, F.lit("val"))
        .when(b < test_t, F.lit("test"))
        .otherwise(F.lit("train")),
    )


def cluster_split(
    df: DataFrame,
    cluster_labels: DataFrame,
    id_col: str = "doc_id",
    val_fraction: float = 0.01,
    test_fraction: float = 0.01,
    salt: str = "split",
) -> DataFrame:
    """Leakage-free train/val/test split: near-duplicate documents land
    in the SAME split.

    Splitting on the document id puts two near-identical documents on
    opposite sides of the train/eval fence — the eval set then "tests"
    memorized training text (the classic contamination path a plain
    ``dataset_split`` cannot see).  The split key is the document's
    duplicate-CLUSTER id (``cluster_labels`` = the
    ``cluster_duplicates`` output, (doc_id, cluster_id)); unpaired
    documents fall back to their own id, preserving the 98/1/1
    proportions.  Same deterministic hash-bucket mechanics as
    ``dataset_split``, so assignments survive re-splits and appends.

    Scale: one left join against the (pairs-sized, far smaller than the
    corpus) label table, then the map-only bucket expression.
    """
    labels = cluster_labels.select(
        F.col("doc_id").alias(id_col), "cluster_id"
    )
    keyed = df.join(labels, id_col, "left").withColumn(
        "split_key",
        F.coalesce(F.col("cluster_id"), F.col(id_col)).cast("long"),
    )
    out = dataset_split(
        keyed, "split_key", val_fraction, test_fraction, salt
    )
    return out.drop("cluster_id")


def bucketed_cumsum(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    n_buckets: int = 256,
    salt: str = "cumsum",
) -> DataFrame:
    """Exact global cumulative sum of an integer weight over the
    deterministic total order ``(bucket(key), key)`` — WITHOUT a
    single-partition global window.

    The classic scale trap for a running total is
    ``Window.orderBy(key)`` with no partitioning: Spark executes it as
    one task holding the whole dataset.  This operator is the standard
    two-pass fix: hash the key into ``n_buckets`` range-acting buckets,
    run the window cumsum WITHIN each bucket (parallel, partitioned
    sort), aggregate one total per bucket, prefix-sum those totals on a
    bounded ``n_buckets``-row frame (model-artifact-sized, so its
    single-partition window is fine), and broadcast-join the offsets
    back.  ``cum(row) = bucket_prefix + within_bucket_cum``.

    Exactness: weights are summed as BIGINT (associative/commutative),
    so the result is independent of partitioning and bit-identical to a
    sequential scan in the oracle order — the same discipline as the
    rest of the repo (plans/driver_queries.py module docstring).

    Requires ``key_col`` globally unique (it breaks the total order's
    ties) and ``weight_col`` integral.  Size ``n_buckets`` to ~5M rows
    per bucket at the target scale; the default 256 suits up to ~1B
    rows.

    Returns ``df`` plus ``cum`` (inclusive cumulative weight in total
    order) and ``wtot`` (the grand total, attached via the same bounded
    offsets frame — no scalar cross join).
    """
    from pyspark.sql import Window

    bkt = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(f"{salt}:"), F.col(key_col).cast("string")
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % n_buckets
    )
    w = df.withColumn("_bkt", bkt)
    in_bucket = (
        Window.partitionBy("_bkt")
        .orderBy(key_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = w.withColumn(
        "_lcum", F.sum(F.col(weight_col).cast("long")).over(in_bucket)
    )
    totals = w.groupBy("_bkt").agg(
        F.sum(F.col(weight_col).cast("long")).alias("_btot")
    )
    # n_buckets rows: the single-partition windows here are bounded by
    # construction (the offsets frame IS the model artifact)
    prefix = Window.orderBy("_bkt").rowsBetween(
        Window.unboundedPreceding, -1
    )
    full = Window.orderBy("_bkt").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    offsets = totals.select(
        "_bkt",
        F.coalesce(F.sum("_btot").over(prefix), F.lit(0)).alias("_boff"),
        F.sum("_btot").over(full).alias("wtot"),
    )
    return (
        local.join(F.broadcast(offsets), "_bkt")
        .withColumn("cum", (F.col("_boff") + F.col("_lcum")).cast("long"))
        .drop("_bkt", "_lcum", "_boff")
    )


def pps_systematic_sample(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    k: int,
    salt: str = "pps",
) -> DataFrame:
    """Systematic probability-proportional-to-size sample of ~``k`` rows.

    Survey-sampling PPS: lay every row's integer weight end-to-end along
    a line in the deterministic ``bucketed_cumsum`` order, place ``k``
    equally-spaced selection points (``step = wtot div k``, first point
    at ``step div 2``), and keep each row whose weight interval contains
    ≥ 1 point.  Heavy rows are selected with probability proportional to
    their weight (a row with weight ≥ step is ALWAYS selected, with
    ``n_hits`` recording its multiplicity — standard PPS-with-
    replacement accounting).

    Why not exponential/A-ES keys: those need ``ln``/``pow``, whose
    last-ulp libm differences across engines can flip a selection at the
    k-th boundary.  Here every operation is BIGINT (the point-count
    below x is ``(x + step - start) div step``, kept on non-negative
    operands so truncating division equals floor in both engines) — the
    sample is bit-deterministic across runs, partitionings, and engines.

    Returns the selected rows with ``cum`` (inclusive cumulative
    weight), ``wtot``, and ``n_hits``.
    """
    c = bucketed_cumsum(df, key_col, weight_col, salt=salt)
    # k >= total weight would give step 0 (division by zero in the point
    # count); floor at 1 — every weight unit is then a point, so every
    # row is selected with n_hits == its weight, the sensible limit
    c = c.withColumn("_step", F.greatest(F.expr(f"wtot div {k}"), F.lit(1)))
    # points ≤ x, for x ≥ -1 and start = step div 2 ≤ step - 1:
    #   f(x) = (x + step - start) div step   (operand always ≥ 0, so
    #   truncating div == floor in both engines)
    f_hi = F.expr("(cum - 1 + _step - (_step div 2)) div _step")
    f_lo = F.expr(
        f"(cum - cast({weight_col} as long)"
        " - 1 + _step - (_step div 2)) div _step"
    )
    c = c.withColumn("n_hits", (f_hi - f_lo).cast("long"))
    return c.filter(F.col("n_hits") >= 1).drop("_step")
