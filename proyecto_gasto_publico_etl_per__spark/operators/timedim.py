"""Generated monthly calendar dimension (SRC7/PRJ8).

Reference: ``generate_series('2010-01-01','2030-12-01', interval '1 month')``
with EXTRACT(YEAR/MONTH/QUARTER) (sql/CreacionDeDataWareHouse.sql:18-24) —
252 rows.

``tiempo_id`` is deterministic arithmetic (anio*100+mes) rather than a
SERIAL sequence: stable across runs and engines, order-free, and trivially
reconstructible from any (year, month) pair, which lets the time-FK lookup
join (JN1) be replaced by pure column arithmetic when desired — a join
eliminated entirely at 100 TB scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

START = "2010-01-01"
END = "2030-12-01"


def build_time_dim(
    spark: SparkSession, start: str = START, end: str = END
) -> DataFrame:
    """Monthly calendar: fecha, anio, mes, trimestre, tiempo_id."""
    months = spark.range(1).select(
        F.explode(
            F.sequence(
                F.to_date(F.lit(start)),
                F.to_date(F.lit(end)),
                F.expr("interval 1 month"),
            )
        ).alias("fecha")
    )
    return months.select(
        (F.year("fecha").cast("long") * 100 + F.month("fecha")).alias("tiempo_id"),
        "fecha",
        F.year("fecha").alias("anio"),
        F.month("fecha").alias("mes"),
        F.quarter("fecha").alias("trimestre"),
    )
