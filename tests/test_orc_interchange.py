"""ORC interchange sink: lossless round-trip + partition pruning on read."""

from __future__ import annotations

from pyspark.sql import functions as F

from proyecto_gasto_publico_etl_per__spark.sources.parquet_source import (
    write_table,
)
from proyecto_gasto_publico_etl_per__spark.sources.tables import load_table

from conftest import SF_SMOKE


def test_orc_roundtrip_matches_parquet(spark, tmp_path):
    orders = load_table(spark, SF_SMOKE, "orders").withColumn(
        "anio", F.year("o_orderdate")
    )
    pq, orc = str(tmp_path / "pq"), str(tmp_path / "orc")
    write_table(orders, pq, "parquet", partition_by=["anio"])
    write_table(orders, orc, "orc", partition_by=["anio"])

    a = {tuple(r) for r in spark.read.parquet(pq).collect()}
    b = {tuple(r) for r in spark.read.orc(orc).collect()}
    assert a == b and a


def test_orc_partition_pruning_and_pushdown(spark, tmp_path):
    orders = load_table(spark, SF_SMOKE, "orders").withColumn(
        "anio", F.year("o_orderdate")
    )
    orc = str(tmp_path / "orc")
    write_table(orders, orc, "orc", partition_by=["anio"])
    years = [r["anio"] for r in orders.select("anio").distinct().collect()]
    assert len(years) > 1
    one = spark.read.orc(orc).where(F.col("anio") == years[0])
    plan = one._jdf.queryExecution().executedPlan().toString()
    # partition filter reached the scan (pruned directory listing), and
    # only the matching year's rows come back
    assert "PartitionFilters" in plan and f"= {years[0]}" in plan.replace(
        "cast(", ""
    )
    assert one.select("anio").distinct().collect()[0]["anio"] == years[0]
    # projection pushes down too (ReadSchema narrows)
    proj = spark.read.orc(orc).select("o_orderkey")
    assert proj.columns == ["o_orderkey"]


def test_write_table_rejects_row_formats(spark, tmp_path):
    import pytest

    orders = load_table(spark, SF_SMOKE, "orders")
    with pytest.raises(ValueError):
        write_table(orders, str(tmp_path / "x"), "csv")
