"""Star-schema construction: surrogate keys, idempotent dim and fact
deltas, FK resolution, grain consolidation.

This is the Spark restatement of the reference's load stage
(``ETL Gasto publico Perú/etl/cargar_postgres.py:270-388``).  The reference
round-trips to PostgreSQL on every dim read/insert and fact sub-batch; here
all state lives as Parquet tables and each step is one lazy plan:

- dim "INSERT ... ON CONFLICT DO NOTHING" (L:127-152)  →  dedup + null-safe
  left-anti join (``new_dim_rows``, the delta a load appends),
  property-tested idempotent;
- client-side dim key→id caches (L:283-320)            →  inline hash ids
  over the normalized keys (``resolve_fks``, two projections for all dims);
- SERIAL surrogate ids                                  →  xxhash64 natural-
  key hashes (functions/hashing.py) — no sequence, no coordination;
- grain consolidation group-by-sum (L:374-375)          →  shuffle hash agg
  with map-side partial aggregation (``consolidate``), then a grain-keyed
  anti-join (``new_fact_rows``).

Scale notes (100 TB): dims stay broadcast-sized (≤ tens of thousands of
rows, SURVEY.md §1.4) so the dim anti-joins broadcast the stored dim and
FK resolution never shuffles the fact; the only fact shuffles are the
grain consolidation and the grain anti-join against the batch's own year
partitions.  The deltas are what a load writes (``mode("append")``), so a
load costs O(batch), and a replay computes empty deltas and writes nothing.
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import surrogate_key
from ..schema import DIMENSIONS, FACT_FKS, METRICS, Dim


def _key_expr(dim: Dim, k: str) -> Column:
    """Key-type normalization at join time (cargar_postgres.py:120-123):
    every key compared as a trimmed string, except declared int keys
    (``tipo_transaccion``, L:214) compared numerically.  Replicating this
    exactly is what keeps joins from silently missing (SURVEY.md §7.4)."""
    if k in dim.int_keys:
        return F.col(k).try_cast("int")
    # NULL → "" like the loader's string normalization — otherwise a NULL
    # key never equals itself in the upsert anti-join and the same dim row
    # re-appends on every load
    return F.coalesce(F.trim(F.col(k).cast("string")), F.lit(""))


def normalize_key_cols(df: DataFrame, dim: Dim) -> DataFrame:
    """Normalize every key column of ``dim`` in one projection."""
    return df.withColumns({k: _key_expr(dim, k) for k in dim.key})


def extract_dim(records: DataFrame, dim: Dim) -> DataFrame:
    """Distinct natural keys (+ attributes) from a batch, with surrogate id.

    Mirrors the loader's "new keys from this batch" extraction (L:353-357)
    but keeps attributes too, first-writer-wins on duplicates via max —
    deterministic, unlike pandas drop_duplicates order dependence.
    """
    base = normalize_key_cols(records.select(*dim.columns), dim)
    agg = [F.max(a).alias(a) for a in dim.attrs]
    deduped = base.groupBy(*dim.key).agg(*agg) if agg else base.distinct()
    return deduped.select(
        surrogate_key(*dim.key).alias(dim.id_col), *dim.columns
    )


def new_dim_rows(
    existing: DataFrame | None, incoming: DataFrame, keys: Sequence[str]
) -> DataFrame:
    """The dim delta: incoming ∖ existing on the natural key, in the stored
    dim's column order — exactly the rows an append must add.  Empty when
    the batch brings no new key, so a replayed load appends nothing."""
    fresh = incoming.dropDuplicates(list(keys))
    if existing is None:
        return fresh
    inc, ex = fresh.alias("inc"), existing.alias("ex")
    # null-safe equality: an int key may legitimately be NULL (e.g. a dim
    # whose raw column is absent); NULL must match NULL or the row
    # re-appends forever
    cond = reduce(
        lambda a, b: a & b,
        [F.col(f"inc.{k}").eqNullSafe(F.col(f"ex.{k}")) for k in keys],
    )
    new_rows = inc.join(F.broadcast(ex), cond, "left_anti")
    return new_rows.select(existing.columns)


def resolve_fks(
    records: DataFrame, dims: Sequence[Dim] = DIMENSIONS
) -> DataFrame:
    """JN3 — resolve each dimension's surrogate id onto the fact batch via
    broadcast left equi-joins on the natural key (cargar_postgres.py:353-363).

    Because surrogate ids are pure hashes of the natural key, no join against
    stored dim state is needed: the id is computed inline.  (The stored dims
    exist to serve attributes at query time, not to mint ids — this is what
    deletes the reference's per-batch read-dim/insert/re-read cycle.)
    """
    keys = {k: _key_expr(dim, k) for dim in dims for k in dim.key}
    # two projections for any number of dims: the ids hash the
    # normalized keys, so they come after them
    return records.withColumns(keys).withColumns(
        {dim.id_col: surrogate_key(*dim.key) for dim in dims}
    )


def fk_complete_filter(df: DataFrame, fks: Sequence[str] = FACT_FKS) -> DataFrame:
    """FLT6 — keep rows with all FKs resolved (cargar_postgres.py:365-372)."""
    pred: Column = reduce(
        lambda a, b: a & b, [F.col(k).isNotNull() for k in fks]
    )
    return df.filter(pred)


def consolidate(
    df: DataFrame,
    grain: Sequence[str] = FACT_FKS,
    metrics: Sequence[str] = METRICS,
) -> DataFrame:
    """AGG1 — collapse duplicate natural-grain rows by summing the 7 metrics
    (cargar_postgres.py:374-375).  Spark plans a partial (map-side) + final
    hash aggregate; with AQE the shuffle partition count adapts to the
    actual grain cardinality."""
    return df.groupBy(*grain).agg(
        *[F.sum(m).alias(m) for m in metrics]
    )


def new_fact_rows(
    existing: DataFrame | None,
    incoming: DataFrame,
    grain: Sequence[str] = FACT_FKS,
    metrics: Sequence[str] = METRICS,
) -> DataFrame:
    """The fact delta: the batch consolidated to the grain, minus the grain
    keys already stored (the fact-side ``ON CONFLICT DO NOTHING``,
    cargar_postgres.py:236-267, 379-388).  Empty on a replayed batch."""
    batch = consolidate(incoming, grain, metrics)
    if existing is None:
        return batch
    return batch.join(existing.select(*grain), list(grain), "left_anti")


def scd1_merge(
    existing: DataFrame,
    updates: DataFrame,
    keys: Sequence[str],
    attrs: Sequence[str],
) -> DataFrame:
    """SCD1 MERGE (upsert with update-on-match): the warehouse-standard
    ``MERGE INTO … WHEN MATCHED THEN UPDATE WHEN NOT MATCHED THEN INSERT``.

    The reference's dim maintenance is insert-only (``ON CONFLICT DO
    NOTHING``, cargar_postgres.py:127-152) — first-seen attributes stick
    forever.  This extension completes the pair: update rows overwrite
    matching keys, new keys append, untouched rows pass through.

    Updates are first consolidated to key grain with a deterministic
    ``max`` per attribute (same discipline as the dim build — never
    ``dropDuplicates``, whose survivor is partition-order dependent).
    Plan: one full-outer shuffle join on the key (dims at 100 TB may
    exceed broadcast size; AQE downgrades to broadcast when small), then
    a per-column ``coalesce(update, existing)``.
    """
    upd = (
        updates.groupBy(*keys)
        .agg(*[F.max(a).alias(a) for a in attrs])
        # presence marker: a key column may legitimately be NULL (the
        # join is null-safe), so "matched" must not key off inc.<key>
        .withColumn("_m", F.lit(1))
    )
    ex, inc = existing.alias("ex"), upd.alias("inc")
    cond = reduce(
        lambda a, b: a & b,
        [F.col(f"inc.{k}").eqNullSafe(F.col(f"ex.{k}")) for k in keys],
    )
    joined = ex.join(inc, cond, "full_outer")
    return joined.select(
        *[
            F.coalesce(F.col(f"inc.{k}"), F.col(f"ex.{k}")).alias(k)
            for k in keys
        ],
        *[
            # matched or insert row -> update attrs win, even when NULL
            F.when(F.col("inc._m").isNotNull(), F.col(f"inc.{a}"))
            .otherwise(F.col(f"ex.{a}"))
            .alias(a)
            for a in attrs
        ],
    )


def scd2_history(
    snapshots: DataFrame,
    keys: Sequence[str],
    attrs: Sequence[str],
    period_col: str,
) -> DataFrame:
    """Type-2 slowly-changing-dimension history from periodic snapshots.

    The reference's dim upsert is SCD1 (``ON CONFLICT DO NOTHING`` keeps
    the first-seen attributes forever, cargar_postgres.py:127-152); this
    extension derives the full version history instead: one row per
    (key, attribute-state) run, with ``valid_from`` (the period the state
    first appeared), ``valid_to`` (the period the NEXT state starts;
    NULL while current) and an ``is_current`` flag.

    Implementation is two window passes over the key partition, ordered
    by period — no self-joins, no driver state:

    1. change detection: a row opens a version iff it is the key's first
       snapshot (lag(period) IS NULL — period is never null, so this
       cleanly distinguishes "first row" from "previous attr was NULL")
       or any attribute differs null-safely from its lag;
    2. interval close: ``lead(period)`` over the surviving version rows.

    Scale: both windows partition by the dimension key, so the work is
    one shuffle of the (already snapshot-grained) input; runs of
    unchanged snapshots collapse early, keeping the second window's
    input at version cardinality.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(*keys).orderBy(period_col)
    changed: Column = F.lag(period_col).over(w).isNull()
    for a in attrs:
        changed = changed | ~F.col(a).eqNullSafe(F.lag(a).over(w))
    versions = snapshots.withColumn("_chg", changed).filter(F.col("_chg"))
    w2 = Window.partitionBy(*keys).orderBy(period_col)
    valid_to = F.lead(period_col).over(w2)
    return versions.select(
        *keys,
        *attrs,
        F.col(period_col).alias("valid_from"),
        valid_to.alias("valid_to"),
        valid_to.isNull().cast("int").alias("is_current"),
    )
