"""Test-side reference for the driver window: which declared names the
committed CORRECTNESS artifacts record as green."""

from __future__ import annotations

from proyecto_gasto_publico_etl_per__spark.plans import driver_queries as DQ


def driver_green_names() -> set[str]:
    """Names whose most recent driver row is green (all recorded checks
    passed, no error).  ``DQ._latest_check_rows`` decides latest-wins."""
    return {
        n for n, (_, row) in DQ._latest_check_rows().items()
        if DQ._is_green(row)
    }
