"""Raw-record normalization (the reference's transform stage).

Reproduces, as one lazy Spark plan per input, the per-chunk pandas pipeline
of ``ETL Gasto publico Perú/etl/transformar_mensual.py:110-197``:

  header-normalize → conform-schema → fixed projection → numeric coercion →
  text cleaning → derive FECHA → validity filter

The reference runs this eagerly one 300k-row chunk at a time in a single
thread and concatenates the whole year in driver memory (T:185).  Here the
same dataflow is declared once; executors parallelize the scan and nothing
is ever concatenated driver-side.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.cleaning import clean_text
from ..functions.money import DEC
from ..schema import COLS_CLAVE, RAW_INT_COLS, RAW_METRIC_COLS


def normalize_headers(df: DataFrame) -> DataFrame:
    """PRJ1 — uppercase + strip every column name (transformar_mensual.py:81-82)."""
    return df.toDF(*[c.strip().upper() for c in df.columns])


def conform_schema(df: DataFrame, columns: Sequence[str]) -> DataFrame:
    """PRJ2+PRJ3 — add missing expected columns as NULL, project in order
    (transformar_mensual.py:140-143; cargar_postgres.py:338-340)."""
    present = set(df.columns)
    cols = [
        F.col(c) if c in present else F.lit(None).cast("string").alias(c)
        for c in columns
    ]
    return df.select(*cols)


def coerce_numeric(
    df: DataFrame,
    int_cols: Sequence[str] = RAW_INT_COLS,
    metric_cols: Sequence[str] = RAW_METRIC_COLS,
) -> DataFrame:
    """PRJ4 — ``to_numeric(errors="coerce")`` semantics: try_cast, junk → NULL (Spark 4 ANSI CAST throws)
    (transformar_mensual.py:86-87,144-145).  Metrics go to exact decimal,
    not float64 — see functions/money.py."""
    present = set(df.columns)
    casts = {c: F.col(c).try_cast("int") for c in int_cols if c in present}
    casts.update(
        {c: F.col(c).try_cast(DEC) for c in metric_cols if c in present}
    )
    return df.withColumns(casts)


def clean_text_cols(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """PRJ5 — NULL→"" → strip → collapse whitespace on every text column
    (transformar_mensual.py:91-94,146-147)."""
    return df.withColumns({c: clean_text(c) for c in cols})


def with_month_date(
    df: DataFrame,
    year_col: str = "ANO_EJE",
    month_col: str = "MES_EJE",
    out_col: str = "FECHA",
) -> DataFrame:
    """PRJ6 — month-start date from (year, month); NULL if either is NULL
    (transformar_mensual.py:98-105).  Out-of-range periods yield NULL,
    matching the reference's NaT on bad input — ANSI ``make_date`` would
    throw, so the validity predicate gates it row-wise."""
    valid = (
        F.col(year_col).isNotNull()
        & (F.col(year_col) > 0)
        & F.col(month_col).between(1, 12)
    )
    return df.withColumn(
        out_col,
        F.when(valid, F.make_date(F.col(year_col), F.col(month_col), F.lit(1))),
    )


def filter_valid_period(
    df: DataFrame, year_col: str = "ANO_EJE", month_col: str = "MES_EJE"
) -> DataFrame:
    """FLT1 — keep rows with a plausible period (transformar_mensual.py:149):
    year > 0 and month in 1..12.  NULLs fail the predicate, as in pandas."""
    return df.filter(
        (F.col(year_col) > 0) & F.col(month_col).between(1, 12)
    )


def normalize_monthly(df: DataFrame) -> DataFrame:
    """The full transform pipeline over a raw all-string frame.

    Text columns are every conformed column that is not numeric — same rule
    as the reference, which cleans all non-``COLS_NUM`` columns (T:146-147).
    """
    df = normalize_headers(df)
    df = conform_schema(df, COLS_CLAVE)
    df = coerce_numeric(df)
    numeric = set(RAW_INT_COLS) | set(RAW_METRIC_COLS)
    df = clean_text_cols(df, [c for c in COLS_CLAVE if c not in numeric])
    df = with_month_date(df)
    return filter_valid_period(df)
