"""Time dimension + column-function tests."""

from __future__ import annotations

from proyecto_gasto_publico_etl_per__spark.functions.cleaning import (
    label_or_placeholder,
    region_map_label,
)
from proyecto_gasto_publico_etl_per__spark.functions.money import dsum
from proyecto_gasto_publico_etl_per__spark.operators.timedim import build_time_dim
from proyecto_gasto_publico_etl_per__spark.plans import views as V


def test_time_dim_shape(spark):
    td = build_time_dim(spark)
    rows = td.collect()
    assert len(rows) == 252  # 2010-01 .. 2030-12 (CreacionDeDataWareHouse.sql:18-24)
    first, last = rows[0], rows[-1]
    assert (first.anio, first.mes, first.trimestre) == (2010, 1, 1)
    assert (last.anio, last.mes, last.trimestre) == (2030, 12, 4)
    assert first.tiempo_id == 201001 and last.tiempo_id == 203012
    assert td.select("tiempo_id").distinct().count() == 252


def test_planner_calendar_arithmetic_matches_the_calendar(spark):
    """The serving planner derives ``fecha``/``mes``/``trimestre`` from
    ``tiempo_id`` alone; for every month of 2009-2031 (years beyond the
    default 2010-2030 calendar included) they equal the generated
    calendar row for row, with its types."""
    calendar = build_time_dim(spark, "2009-01-01", "2031-12-01")
    source = V.WarehouseStar(
        fact=calendar.select("tiempo_id", "anio"), calendar=calendar, dims={}
    )
    planned = V.plan_star(source, V.CALENDAR_SQL).select(*calendar.columns)
    assert planned.schema.simpleString() == calendar.schema.simpleString()
    got = planned.orderBy("tiempo_id").collect()
    want = calendar.orderBy("tiempo_id").collect()
    assert len(want) == 23 * 12
    assert got == want


def test_label_or_placeholder(spark):
    df = spark.createDataFrame(
        [("SALUD",), ("   ",), ("",), (None,)], ["s"]
    )
    out = [r.x for r in df.select(label_or_placeholder("s", "SIN SECTOR").alias("x")).collect()]
    assert out == ["SALUD", "SIN SECTOR", "SIN SECTOR", "SIN SECTOR"]


def test_region_map_label(spark):
    df = spark.createDataFrame([("LIMA",), (None,)], ["dep"])
    out = [r.x for r in df.select(region_map_label("dep").alias("x")).collect()]
    assert out == [
        "Departamento de LIMA, Perú",
        "Departamento de SIN DEPARTAMENTO, Perú",
    ]


def test_dsum_exact_decimal(spark):
    # 0.1 + 0.2 style float traps must not leak into money sums
    df = spark.createDataFrame([(0.1,), (0.2,), (0.3,)], ["m"])
    out = df.agg(dsum("m", "s")).collect()[0].s
    assert out == 0.6
