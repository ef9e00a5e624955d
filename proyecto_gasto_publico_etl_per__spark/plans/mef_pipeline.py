"""End-to-end MEF pipeline: the reference's three entry points, Spark-first.

Reference lifecycle (SURVEY.md §3):

1. transform — ``python etl/transformar_mensual.py [years] [--overwrite]``
   (ETL Gasto publico Perú/etl/transformar_mensual.py:201-239): CSV →
   normalize → one Parquet per year.
2. load — ``python etl/cargar_postgres.py [years] ...``
   (etl/cargar_postgres.py:270-388): Parquet → dims upsert → FK resolve →
   consolidate → fact insert.
3. serve — views + the five analytics queries
   (sql/CreacionDeUsuariosyVistas.sql, sql/ConsultasAlDataWarehouse.sql).

Here each step is ONE lazy Spark plan; there is no chunk loop, no driver
concat, no per-batch DB round-trip.  The warehouse is a directory of
Parquet tables:

    <warehouse>/dim_tiempo/            (252-row generated calendar)
    <warehouse>/dim_<name>/            (7 extracted dimensions)
    <warehouse>/fact_gasto_mensual/    (partitioned by anio)

The load is append-only, like the reference's insert-only loader
(``ON CONFLICT DO NOTHING``, etl/cargar_postgres.py:127-152,379-388): it
writes ``dim_tiempo`` once, appends each dim's new natural keys and the
fact's new grain rows, and never rewrites a stored file.  A dim gains at
most one file per load that brings new keys; a fact year partition gains
files only when the load brings new grain rows for that year (one per
writing task, one at monthly-delta size).  A replay writes nothing.
Nothing compacts those files: a fact year partition's file count grows
with every load that adds rows to it.

Scale: the fact is partitioned by ``anio`` so every year-filtered query
prunes partitions; dims stay broadcast-sized; the fact's wide shuffles in
the load are the grain consolidation and the grain anti-join against the
batch's own year partitions.
"""

from __future__ import annotations

from collections.abc import Sequence
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import normalize, star
from ..operators.timedim import build_time_dim
from ..schema import DIMENSIONS, FACT_FKS, METRICS, raw_name
from ..schema_comments import with_column_comments
from ..sources.csv_source import read_monthly_csv
from . import views as V

#: raw UPPER column → star snake column.  The reference's PRJ7 rename
#: (cargar_postgres.py:159-233); generated from the schema (including its
#: irregular DEPARTAMENTO_*/EJECUTORA raw spellings) so the two can never
#: drift.
RENAME_MAP: dict[str, str] = {
    "ANO_EJE": "anio",
    "MES_EJE": "mes",
    "NIVEL_GOBIERNO": "nivel_gobierno_codigo",
    "NIVEL_GOBIERNO_NOMBRE": "nivel_gobierno_nombre",
    **{
        raw_name(c): c
        for dim in DIMENSIONS[1:]
        for c in dim.columns
    },
    **{m.upper(): m for m in METRICS},
}


def transform(
    spark: SparkSession,
    raw_csv: str | list[str],
    out_dir: str,
    overwrite: bool = False,
) -> DataFrame:
    """Transform stage: raw CSV(s) → normalized Parquet partitioned by year.

    Accepts one path or a list (the CLI's year-filtered file set) — a
    multi-file input is ONE lazy plan, not the reference's per-file loop
    (transformar_mensual.py:226-239).  ``mode=ignore`` reproduces the
    skip-if-exists idempotency gate (transformar_mensual.py:121-123)."""
    df = read_monthly_csv(spark, raw_csv)
    normalized = normalize.normalize_monthly(df)
    normalized.write.mode("overwrite" if overwrite else "ignore").partitionBy(
        "ANO_EJE"
    ).parquet(out_dir)
    return normalized


def _star_records(normalized: DataFrame) -> DataFrame:
    """PRJ7: rename to star vocabulary and attach tiempo_id."""
    renamed = normalized.select(
        *[
            F.col(raw).alias(snake)
            for raw, snake in RENAME_MAP.items()
            if raw in normalized.columns
        ]
    )
    return renamed.withColumn(
        "tiempo_id", F.col("anio").cast("long") * 100 + F.col("mes")
    )


def load(
    spark: SparkSession, normalized_dir: str, warehouse: str
) -> DataFrame:
    """Load stage: normalized Parquet → star warehouse (idempotent).

    Replaces the reference's per-batch read-dim/insert/re-read/join cycle
    (cargar_postgres.py:283-363) with: per-dim anti-join against the stored
    dim appending only new keys, inline hash surrogate ids on the fact
    side, one grain consolidation, and a grain-keyed anti-join fact append.
    Re-loading the same input is a no-op that writes no file (the ON
    CONFLICT DO NOTHING property)."""
    return load_frame(spark, spark.read.parquet(normalized_dir), warehouse)


def load_frame(
    spark: SparkSession, normalized: DataFrame, warehouse: str
) -> DataFrame:
    """The load stage on an already-materialized normalized frame — shared
    by the batch CLI and the streaming loader's per-micro-batch handler.

    Writes only the delta, never rewriting a stored file: the calendar
    when it is absent, each dim's new natural keys, and the fact grain
    rows its years do not hold yet.  A replay of the same input writes
    nothing."""
    wh = Path(warehouse)
    # business-meaning column comments (CreacionDBOrigen.sql:75-137) ride
    # along as field metadata into every dim/fact parquet written below
    records = with_column_comments(_star_records(normalized))

    time_path = wh / "dim_tiempo"
    if not time_path.exists():
        with_column_comments(build_time_dim(spark)).write.parquet(
            str(time_path)
        )

    for dim in DIMENSIONS:
        dim_path = wh / dim.name
        existing = (
            spark.read.parquet(str(dim_path)) if dim_path.exists() else None
        )
        new_rows = star.new_dim_rows(
            existing, star.extract_dim(records, dim), dim.key
        )
        # a flat append of an empty frame still writes an empty part
        # file; dim deltas are broadcast-sized, so one file per load
        if not new_rows.isEmpty():
            new_rows.coalesce(1).write.mode("append").parquet(str(dim_path))

    resolved = star.resolve_fks(records, DIMENSIONS)
    complete = star.fk_complete_filter(
        resolved, [d.id_col for d in DIMENSIONS]
    )
    fact_cols = [*FACT_FKS, *METRICS, "anio"]
    batch = complete.select(
        *[c for c in fact_cols if c in complete.columns]
    )
    fact_path = wh / "fact_gasto_mensual"
    if fact_path.exists():
        # partition-scoped anti-join: it only needs the years present in
        # this batch (a handful of values — a metadata collect, not a data
        # collect), so an incremental month reads O(one year partition),
        # never O(warehouse)
        years = [
            r.anio for r in batch.select("anio").distinct().collect()
        ]
        existing_fact = spark.read.parquet(str(fact_path)).filter(
            F.col("anio").isin(years)
        )
    else:
        existing_fact = None
    new_rows = star.new_fact_rows(
        existing_fact, batch, grain=[*FACT_FKS, "anio"], metrics=METRICS
    )
    # appended files land only under the batch's own anio partitions
    # (a partitioned append of an empty delta writes no file); every
    # stored file keeps its bytes
    new_rows.write.mode("append").partitionBy("anio").parquet(str(fact_path))
    return spark.read.parquet(str(fact_path))


def streaming_load(
    spark: SparkSession,
    normalized_dir: str,
    warehouse: str,
    checkpoint_dir: str,
):
    """Continuous load: normalized Parquet files land, each micro-batch
    runs the SAME idempotent star load (dims upsert, FK resolve,
    consolidate, grain anti-join append) via ``foreachBatch``.

    Two idempotency layers compose: checkpointed source offsets give
    exactly-once per FILE, and the grain anti-join makes even a replayed
    batch a no-op — the streaming restatement of the reference's
    resumable batch ranges + ``ON CONFLICT DO NOTHING``
    (cargar_postgres.py:322-330,379-388).

    Returns the finished StreamingQuery (already awaited).
    """
    schema = spark.read.parquet(normalized_dir).schema

    def handle(batch: DataFrame, _batch_id: int) -> None:
        load_frame(spark, batch, warehouse)

    query = (
        spark.readStream.schema(schema)
        .parquet(normalized_dir)
        .writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return query


def materialize_agg_mensual(
    spark: SparkSession,
    warehouse: str,
    agg_path: str,
    years: Sequence[int] | None = None,
) -> None:
    """Materialize ``vw_gasto_agregado_mensual`` as a partitioned table —
    full build (``years=None``) or INCREMENTAL partition-scoped refresh.

    The reference serves this as a live PostgreSQL view (V:119-179),
    recomputed per query; at warehouse scale the serving copy is a
    materialized table refreshed after each load.  The refresh is exact
    per-partition because ``anio`` is both the fact's partition column
    and an aggregate group key: no group ever crosses a year boundary,
    so recomputing only the loaded years from the (pruned) fact and
    dynamic-partition-overwriting them reproduces byte-for-byte what a
    full rebuild would put in those partitions — untouched years keep
    their files.  Cost per load: O(loaded years), never O(warehouse).

    ``load_frame`` already knows the loaded years (its own partition
    scoping); pass them straight through.
    """
    wh = Path(warehouse)
    fact = spark.read.parquet(str(wh / "fact_gasto_mensual"))
    if years is not None:
        # lands on the partition column → file pruning at the scan
        fact = fact.filter(F.col("anio").isin([int(y) for y in years]))
    time_dim = spark.read.parquet(str(wh / "dim_tiempo"))
    dims = {
        d.name: spark.read.parquet(str(wh / d.name)) for d in DIMENSIONS
    }
    agg = V.vw_gasto_agregado_mensual_star(fact, time_dim, dims)
    agg.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("anio").parquet(str(agg_path))


def register_views(spark: SparkSession, warehouse: str) -> DataFrame:
    """Serve stage: register vw_gasto_mensual / agregado views (V:21-196)."""
    wh = Path(warehouse)
    fact = spark.read.parquet(str(wh / "fact_gasto_mensual"))
    time_dim = spark.read.parquet(str(wh / "dim_tiempo"))
    dims = {
        d.name: spark.read.parquet(str(wh / d.name)) for d in DIMENSIONS
    }
    # serve the FACT's anio (the partition column) and the calendar's
    # mes/trimestre: a year predicate on the view then lands on the
    # partition column and prunes fact files; the dropped calendar anio
    # is identical by construction (tiempo_id = anio*100 + mes)
    base = V.star_denormalize(fact, time_dim.drop("anio"), dims)
    base.createOrReplaceTempView("vw_gasto_mensual")
    # the aggregate views use the agg-below-join rewrite (exact; see
    # plans/views.py): fact pre-aggregates on the contributing FK ids, so
    # the dim joins run on group-cardinality rows, not fact-cardinality
    V.vw_gasto_agregado_mensual_star(fact, time_dim, dims).createOrReplaceTempView(
        "vw_gasto_agregado_mensual"
    )
    V.vw_gasto_agregado_anual_star(fact, time_dim, dims).createOrReplaceTempView(
        "vw_gasto_agregado_anual"
    )
    return base
