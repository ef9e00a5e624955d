"""Parquet read/write conventions (SRC3, SNK1/SNK2).

- Reads push projection to the Parquet reader via ``.select`` (Catalyst
  column pruning) — the reference does this by hand with
  ``iter_batches(columns=...)`` (etl/cargar_postgres.py:275-280).
- Writes partition the fact by ``anio``: the reference already writes one
  Parquet per year (etl/transformar_mensual.py:119,186); partitioning is the
  scale-out version (partition pruning on year predicates at 100 TB).
- ``mode="ignore"`` reproduces the skip-if-exists idempotency gate
  (etl/transformar_mensual.py:121-123); ``overwrite`` the ``--overwrite``
  flag.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession


def read_parquet(
    spark: SparkSession,
    path: str,
    columns: Sequence[str] | None = None,
    merge_schema: bool = False,
) -> DataFrame:
    """``merge_schema=True`` unions the schemas of all files — the engine
    form of the reference's late ``ALTER TABLE ADD COLUMN`` evolution
    (CreacionDeDataWareHouse.sql:149-150): files written before a column
    existed read it as NULL."""
    reader = spark.read
    if merge_schema:
        reader = reader.option("mergeSchema", True)
    df = reader.parquet(path)
    if columns:
        df = df.select(*columns)
    return df


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: Sequence[str] | None = None,
) -> None:
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


#: columnar formats the warehouse round-trips losslessly (both support
#: predicate pushdown, column pruning, and hive-style partition dirs)
_COLUMNAR = ("parquet", "orc")


def write_table(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    mode: str = "overwrite",
    partition_by: Sequence[str] | None = None,
) -> None:
    """Format-generic columnar sink: Parquet is the house format, ORC the
    interchange path for warehouses already standardized on it (both are
    first-class in Spark: vectorized reader, pushdown, partition dirs —
    the choice is an ecosystem question, not a capability one)."""
    if fmt not in _COLUMNAR:
        raise ValueError(f"columnar format required, got {fmt!r}")
    writer = df.write.mode(mode).format(fmt)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(path)
