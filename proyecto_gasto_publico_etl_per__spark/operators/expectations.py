"""Data-quality expectations: declarative row-level checks in one pass.

The reference validates operationally — per-batch row accounting and
per-FK null diagnostics printed to the log (``ETL Gasto publico
Perú/etl/cargar_postgres.py:366-377``).  Here the same idea is an
engine operator: declare named boolean expectations, get back one
summary row counting violations of each, computed in a SINGLE scan
(conditional sums — no per-check pass, no driver loop).

Use at load boundaries: ``check(normalized, STANDARD_CHECKS)`` after
transform, or on a batch before ``mef_pipeline.load_frame``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Row
from pyspark.sql import functions as F


def check(df: DataFrame, expectations: dict[str, Column]) -> Row:
    """Evaluate all expectations in one aggregate pass.

    Returns a Row with ``n_rows`` plus one ``<name>_violations`` count
    per expectation (rows where the expectation is NOT satisfied; NULL
    counts as a violation — an unknown is not a pass).
    """
    aggs = [F.count("*").alias("n_rows")]
    for name, cond in expectations.items():
        aggs.append(
            F.sum(
                F.when(F.coalesce(cond, F.lit(False)), 0).otherwise(1)
            ).alias(f"{name}_violations")
        )
    return df.agg(*aggs).collect()[0]


def assert_ok(df: DataFrame, expectations: dict[str, Column]) -> Row:
    """``check`` + raise with the violation summary if any check fails —
    the fail-loud form for pipeline gates."""
    row = check(df, expectations)
    bad = {
        k: v for k, v in row.asDict().items()
        if k.endswith("_violations") and v
    }
    if bad:
        raise ValueError(f"expectations failed on {row.n_rows} rows: {bad}")
    return row


def standard_monthly_checks() -> dict[str, Column]:
    """The MEF normalized-record invariants (SURVEY.md §1.3)."""
    return {
        "valid_year": F.col("ANO_EJE").between(2000, 2100),
        "valid_month": F.col("MES_EJE").between(1, 12),
        "fecha_present": F.col("FECHA").isNotNull(),
        "pia_non_negative": F.col("MONTO_PIA").isNull()
        | (F.col("MONTO_PIA") >= 0),
        "devengado_non_negative": F.col("MONTO_DEVENGADO").isNull()
        | (F.col("MONTO_DEVENGADO") >= 0),
    }
