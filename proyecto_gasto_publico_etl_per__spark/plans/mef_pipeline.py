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

    <warehouse>/dim_tiempo/            (generated calendar, 2010-2030 and
                                        any later-loaded year)
    <warehouse>/dim_<name>/            (7 extracted dimensions)
    <warehouse>/fact_gasto_mensual/    (partitioned by anio)
    <warehouse>/_loads/_<sha256>.json  (load ledger, one entry per input)

The load is append-only, like the reference's insert-only loader
(``ON CONFLICT DO NOTHING``, etl/cargar_postgres.py:127-152,379-388): it
writes ``dim_tiempo`` once, appends the calendar years a batch brings
beyond it, each dim's new natural keys and the fact's new grain rows,
and never rewrites a stored file.  One probe job finds which dims the
batch brings new surrogate ids to, which years it touches and which of
those the calendar lacks; a dim gains one file per load that brings it
new keys, and a fact year partition gains files only when the load
brings new grain rows for that year (one per writing task, one at
monthly-delta size).
Nothing compacts those files: a fact year partition's file count grows
with every load that adds rows to it.

A replay runs no Spark job.  ``transform`` skips an ``out_dir`` that
exists before it reads the CSV (the reference's gate,
transformar_mensual.py:121-123), and ``load`` keeps a ledger: the entry
``_loads/_<sha256>.json`` is keyed by the sorted relative paths and bytes
of the normalized dir's data files, written once the fact append
commits, and lists the dim, calendar and loaded-year fact files stored
at that point.  A load whose entry exists and whose listed files all
still exist returns the fact read without running a job; any other
load runs in full, and its grain and key anti-joins keep a lost or
stale ledger from duplicating or dropping rows.  The ``_`` prefix hides
the ledger from Spark readers and data-file listings, like ``_SUCCESS``.

Scale: the fact is partitioned by ``anio`` so every year-filtered query
prunes partitions; dims stay broadcast-sized; the fact's wide shuffles in
the load are the grain consolidation and the grain anti-join against the
batch's own year partitions.

Schemas: ``WAREHOUSE`` declares every stored table, derived from
``schema.DIMENSIONS``/``FACT_FKS``/``METRICS``/``COLS_CLAVE``.  The
normalized zone's entry governs ``load``'s read of the transform
output; the dim, ``dim_tiempo`` and fact entries govern both sides of
the warehouse: every write is conformed to its entry (``_conform``,
which also carries the business comments into the parquet footers) and
every read in this module goes through ``read_warehouse`` with it.  No
read here infers a schema, so building a load, a refresh or the views
runs no Spark job of its own.
"""

from __future__ import annotations

import hashlib
import json
from collections.abc import Sequence
from functools import reduce
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators import normalize, star
from ..operators.timedim import build_time_dim
from ..schema import (
    COLS_CLAVE,
    DIMENSIONS,
    FACT_FKS,
    METRICS,
    RAW_INT_COLS,
    RAW_METRIC_COLS,
    Dim,
    raw_name,
)
from ..schema_comments import COLUMN_COMMENTS
from ..sources.csv_source import read_monthly_csv
from ..sources.manifest import data_files
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


_INT, _LONG, _TEXT = T.IntegerType(), T.LongType(), T.StringType()


def _field(name: str, dtype: T.DataType) -> T.StructField:
    """A catalog column carrying its business comment
    (CreacionDBOrigen.sql:75-137) as Spark field metadata."""
    comment = COLUMN_COMMENTS.get(name)
    return T.StructField(
        name, dtype, True, {"comment": comment} if comment else {}
    )


def _dim_schema(dim: Dim) -> T.StructType:
    """Stored dim: surrogate id, then natural keys (trimmed strings, or
    ints for ``int_keys``), then attributes (``star.extract_dim``)."""
    return T.StructType(
        [
            _field(dim.id_col, _LONG),
            *(_field(k, _INT if k in dim.int_keys else _TEXT) for k in dim.key),
            *(_field(a, _TEXT) for a in dim.attrs),
        ]
    )


#: stored table → declared schema: the normalized zone (``transform``'s
#: output, partitioned by ``ANO_EJE``), the calendar, the 7 dims and the
#: fact (partitioned by ``anio``; partition columns come last).  Metrics
#: are ``money.DEC`` (decimal(18,4)) when normalized and decimal(28,4) in
#: the fact, the type of Spark's sum over them in ``star.consolidate``.
WAREHOUSE: dict[str, T.StructType] = {
    "normalized": T.StructType(
        [
            T.StructField(
                c,
                _INT
                if c in RAW_INT_COLS
                else T.DecimalType(18, 4)
                if c in RAW_METRIC_COLS
                else _TEXT,
            )
            for c in COLS_CLAVE
            if c != "ANO_EJE"
        ]
        + [T.StructField("FECHA", T.DateType()), T.StructField("ANO_EJE", _INT)]
    ),
    "dim_tiempo": T.StructType(
        [
            _field("tiempo_id", _LONG),
            _field("fecha", T.DateType()),
            *(_field(c, _INT) for c in ("anio", "mes", "trimestre")),
        ]
    ),
    **{dim.name: _dim_schema(dim) for dim in DIMENSIONS},
    "fact_gasto_mensual": T.StructType(
        [
            *(_field(k, _LONG) for k in FACT_FKS),
            *(_field(m, T.DecimalType(28, 4)) for m in METRICS),
            _field("anio", _INT),
        ]
    ),
}


def read_warehouse(
    spark: SparkSession, path: str | Path, table: str
) -> DataFrame:
    """Read stored ``table`` at ``path`` under its ``WAREHOUSE`` schema:
    no schema-inference job, and the comments ride on the columns."""
    schema = WAREHOUSE[table]
    df = spark.read.schema(schema).parquet(str(path))
    if table == "fact_gasto_mensual":
        # the scan drops a partition column's field metadata
        df = df.withMetadata("anio", schema["anio"].metadata)
    return df


def _read_star(spark: SparkSession, warehouse: str) -> V.WarehouseStar:
    """(fact, dim_tiempo, dims by name) of a loaded warehouse."""
    wh = Path(warehouse)
    return V.WarehouseStar(
        read_warehouse(spark, wh / "fact_gasto_mensual", "fact_gasto_mensual"),
        read_warehouse(spark, wh / "dim_tiempo", "dim_tiempo"),
        {d.name: read_warehouse(spark, wh / d.name, d.name) for d in DIMENSIONS},
    )


def _conform(df: DataFrame, table: str) -> DataFrame:
    """``df`` in ``table``'s catalog column order with the catalog's field
    metadata, ready to write.  A column missing or typed otherwise than
    the catalog raises ``ValueError``: what is written must be what every
    read declares."""
    schema = WAREHOUSE[table]
    have = {f.name: f.dataType for f in df.schema.fields}
    bad = [
        f"{f.name}: frame "
        f"{have[f.name].simpleString() if f.name in have else 'none'}, "
        f"catalog {f.dataType.simpleString()}"
        for f in schema.fields
        if have.get(f.name) != f.dataType
    ]
    if bad:
        raise ValueError(
            f"{table} write disagrees with the catalog: " + "; ".join(bad)
        )
    return df.select(
        *[F.col(f.name).alias(f.name, metadata=f.metadata) for f in schema]
    )


def transform(
    spark: SparkSession,
    raw_csv: str | list[str],
    out_dir: str,
    overwrite: bool = False,
) -> DataFrame:
    """Transform stage: raw CSV(s) → normalized Parquet partitioned by year.

    Accepts one path or a list (the CLI's year-filtered file set) — a
    multi-file input is ONE lazy plan, not the reference's per-file loop
    (transformar_mensual.py:226-239).  Without ``overwrite`` an existing
    local ``out_dir`` is returned as stored before the CSV is read (the
    reference's skip-if-exists gate, transformar_mensual.py:121-123), so
    the CSV read and its corruption-ratio gate run only when the
    transform writes; ``mode=ignore`` keeps the gate for non-local
    paths."""
    if not overwrite and Path(out_dir).exists():
        return read_warehouse(spark, out_dir, "normalized")
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


#: the load ledger's directory under the warehouse root
LEDGER = "_loads"


def _input_key(normalized_dir: Path) -> str:
    """sha256 over the sorted relative paths, sizes and bytes of the
    normalized dir's data files: the load ledger's key."""
    h = hashlib.sha256()
    for f in map(Path, data_files(str(normalized_dir))):
        rel = f.relative_to(normalized_dir)
        h.update(f"{rel}\0{f.stat().st_size}\0".encode())
        with f.open("rb") as fh:
            while chunk := fh.read(1 << 20):
                h.update(chunk)
    return h.hexdigest()


def _stored_files(wh: Path, years: Sequence[int]) -> list[str]:
    """Warehouse-relative paths of the calendar and dim data files and of
    the fact data files under ``years``' partitions."""
    roots = [wh / "dim_tiempo", *(wh / d.name for d in DIMENSIONS)]
    roots += [wh / "fact_gasto_mensual" / f"anio={y}" for y in years]
    return [
        str(Path(f).relative_to(wh)) for r in roots for f in data_files(str(r))
    ]


def _ledger_hit(entry: Path, wh: Path) -> bool:
    """The entry exists and every file it lists is still stored."""
    try:
        listed = json.loads(entry.read_text())["files"]
    except (OSError, ValueError, KeyError, TypeError):
        return False
    return (wh / "fact_gasto_mensual").is_dir() and all(
        (wh / rel).is_file() for rel in listed
    )


def load(
    spark: SparkSession, normalized_dir: str, warehouse: str
) -> DataFrame:
    """Load stage: normalized Parquet → star warehouse (idempotent).

    Replaces the reference's per-batch read-dim/insert/re-read/join cycle
    (cargar_postgres.py:283-363) with ``load_frame``'s steps: one probe,
    dim deltas, inline hash surrogate ids, one grain consolidation and a
    grain-keyed anti-join fact append.  A local ``normalized_dir`` whose
    data files match a ledger entry (module docstring) whose listed files
    are all still stored is not loaded again: the replay runs no Spark job
    (the ON CONFLICT DO NOTHING property).  Returns the whole stored fact,
    read under the catalog."""
    wh = Path(warehouse)
    src = Path(normalized_dir)
    entry = wh / LEDGER / f"_{_input_key(src)}.json" if src.is_dir() else None
    if entry is None or not _ledger_hit(entry, wh):
        normalized = read_warehouse(spark, normalized_dir, "normalized")
        years = _load_delta(spark, normalized, wh)
        if entry is not None:
            # written only once the fact append has committed
            entry.parent.mkdir(parents=True, exist_ok=True)
            tmp = entry.with_suffix(".tmp")
            tmp.write_text(json.dumps({"files": _stored_files(wh, years)}))
            tmp.replace(entry)
    fact_path = wh / "fact_gasto_mensual"
    return read_warehouse(spark, fact_path, "fact_gasto_mensual")


def load_frame(
    spark: SparkSession, normalized: DataFrame, warehouse: str
) -> DataFrame:
    """The load stage on an already-materialized normalized frame — the
    CLI's filtered load calls it; ``load`` runs the same steps behind its
    ledger.  It keeps no ledger: a replay of the same frame pays the
    probe and the fact anti-join, and writes nothing.

    ``WAREHOUSE`` governs both sides: each written frame is conformed to
    its table's entry, which also stores the business comments
    (CreacionDBOrigen.sql:75-137) in every dim/fact/calendar footer, and
    the stored dims and fact are read back with it.  The caller's
    ``normalized`` frame keeps whatever schema it came with.  Returns the
    whole stored fact, read under the catalog."""
    wh = Path(warehouse)
    _load_delta(spark, normalized, wh)
    fact_path = wh / "fact_gasto_mensual"
    return read_warehouse(spark, fact_path, "fact_gasto_mensual")


def _probe(
    spark: SparkSession, resolved: DataFrame, wh: Path
) -> tuple[set[str], list[int], list[int]]:
    """One collect of at most 9 rows: the dims the batch brings new
    surrogate ids to, the batch's years, and those of its years the
    stored calendar lacks.

    The batch's ``(dim name, id)`` pairs plus its ``("anio", year)`` and
    ``("dim_tiempo", year)`` pairs are left-anti joined against the
    stored dims' pairs and the stored calendar's ``("dim_tiempo", anio)``
    pairs, then grouped by name (the map-side partial aggregate absorbs
    duplicates).  Id equality stands in for null-safe natural-key
    equality: ``surrogate_key`` hashes exactly the ``_key_expr``-
    normalized keys on both sides, so the two differ only on a 64-bit
    collision, which the fact FKs already assume (functions/hashing.py)."""
    pairs = resolved.select(
        F.inline(
            F.array(
                *[
                    F.struct(
                        F.lit(d.name).alias("name"),
                        F.col(d.id_col).alias("id"),
                    )
                    for d in DIMENSIONS
                ],
                *[
                    F.struct(
                        F.lit(name).alias("name"),
                        F.col("anio").cast("long").alias("id"),
                    )
                    for name in ("anio", "dim_tiempo")
                ],
            )
        )
    )
    stored = [
        read_warehouse(spark, wh / d.name, d.name).select(
            F.lit(d.name).alias("name"), F.col(d.id_col).alias("id")
        )
        for d in DIMENSIONS
        if (wh / d.name).exists()
    ]
    stored.append(
        read_warehouse(spark, wh / "dim_tiempo", "dim_tiempo").select(
            F.lit("dim_tiempo").alias("name"),
            F.col("anio").cast("long").alias("id"),
        )
    )
    pairs = pairs.join(
        F.broadcast(reduce(DataFrame.union, stored)),
        ["name", "id"],
        "left_anti",
    )
    year = F.when(F.col("name").isin("anio", "dim_tiempo"), F.col("id"))
    rows = (
        pairs.groupBy("name")
        .agg(F.collect_set(year).alias("years"))
        .collect()
    )
    by_name = {r.name: sorted(int(y) for y in r.years) for r in rows}
    new_dims = set(by_name) - {"anio", "dim_tiempo"}
    return new_dims, by_name.get("anio", []), by_name.get("dim_tiempo", [])


def _load_delta(
    spark: SparkSession, normalized: DataFrame, wh: Path
) -> list[int]:
    """Write the load's delta, never rewriting a stored file: the calendar
    when it is absent, the calendar years the batch brings beyond it,
    each dim's new natural keys, and the fact grain rows its years do not
    hold yet.  Returns the batch's years.

    Every stored fact row thus has its calendar and dim rows, so the
    serving joins drop none; the serving planner (``views.plan_star``)
    relies on this to join only the dims a query reads and no calendar.
    The reference instead drops a row whose month its fixed 2010-2030
    calendar lacks (cargar_postgres.py:365-372).
    """
    records = _star_records(normalized)

    time_path = wh / "dim_tiempo"
    if not time_path.exists():
        _conform(build_time_dim(spark), "dim_tiempo").write.parquet(
            str(time_path)
        )

    resolved = star.resolve_fks(records, DIMENSIONS)
    new_dims, years, new_years = _probe(spark, resolved, wh)
    if new_years:
        calendar = build_time_dim(
            spark, f"{new_years[0]}-01-01", f"{new_years[-1]}-12-01"
        ).filter(F.col("anio").isin(new_years))
        _conform(calendar, "dim_tiempo").coalesce(1).write.mode(
            "append"
        ).parquet(str(time_path))
    for dim in DIMENSIONS:
        if dim.name not in new_dims:
            continue
        dim_path = wh / dim.name
        existing = (
            read_warehouse(spark, dim_path, dim.name)
            if dim_path.exists()
            else None
        )
        new_rows = star.new_dim_rows(
            existing, star.extract_dim(records, dim), dim.key
        )
        # dim deltas are broadcast-sized: one file per load
        _conform(new_rows, dim.name).coalesce(1).write.mode("append").parquet(
            str(dim_path)
        )

    complete = star.fk_complete_filter(
        resolved, [d.id_col for d in DIMENSIONS]
    )
    fact_cols = [*FACT_FKS, *METRICS, "anio"]
    batch = complete.select(
        *[c for c in fact_cols if c in complete.columns]
    )
    fact_path = wh / "fact_gasto_mensual"
    if fact_path.exists():
        # partition-scoped anti-join over the probe's years, so an
        # incremental month reads O(one year partition), never
        # O(warehouse)
        existing_fact = read_warehouse(
            spark, fact_path, "fact_gasto_mensual"
        ).filter(F.col("anio").isin(years))
    else:
        existing_fact = None
    new_rows = star.new_fact_rows(
        existing_fact, batch, grain=[*FACT_FKS, "anio"], metrics=METRICS
    )
    # appended files land only under the batch's own anio partitions
    # (a partitioned append of an empty delta writes no file); every
    # stored file keeps its bytes
    _conform(new_rows, "fact_gasto_mensual").write.mode(
        "append"
    ).partitionBy("anio").parquet(str(fact_path))
    return years


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

    Pass the years the load touched: the same set its fact anti-join
    was scoped to.
    """
    source = _read_star(spark, warehouse)
    if years is not None:
        # lands on the partition column → file pruning at the scan
        source = source._replace(
            fact=source.fact.filter(F.col("anio").isin([int(y) for y in years]))
        )
    agg = V.vw_gasto_agregado_mensual_star(source)
    agg.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("anio").parquet(str(agg_path))


def register_views(spark: SparkSession, warehouse: str) -> V.WarehouseStar:
    """Serve stage: register vw_gasto_mensual / agregado views (V:21-196)
    and return the warehouse source the ``plans.queries`` builders take.

    The star is read under ``WAREHOUSE``, so registering runs no Spark job
    and the served columns carry the catalog's business comments.  Every
    view comes from the serving planner (``views.plan_star``): the monthly
    view is its all-columns case, and the aggregate views pre-aggregate
    the fact on the FK ids of the dims they read before joining those
    dims alone.  A query built on the returned source joins only the dims
    it reads, not the whole view."""
    source = _read_star(spark, warehouse)
    V.vw_gasto_mensual(source).createOrReplaceTempView("vw_gasto_mensual")
    V.vw_gasto_agregado_mensual_star(source).createOrReplaceTempView(
        "vw_gasto_agregado_mensual"
    )
    V.vw_gasto_agregado_anual_star(source).createOrReplaceTempView(
        "vw_gasto_agregado_anual"
    )
    return source
