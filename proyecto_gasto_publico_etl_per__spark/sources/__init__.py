"""Data sources: CSV with encoding fallback and the declared testdata
tables.  Parquet is read under a declared schema, never inferred:
``load_table`` for the testdata tables, ``plans/mef_pipeline.read_warehouse``
for the warehouse."""

from .csv_source import read_monthly_csv
from .tables import TABLES, load_table

__all__ = [
    "read_monthly_csv",
    "TABLES",
    "load_table",
]
