"""Data sources: CSV with encoding fallback, Parquet, testdata tables."""

from .csv_source import read_monthly_csv
from .parquet_source import read_parquet, write_parquet
from .tables import TABLES, load_table

__all__ = [
    "read_monthly_csv",
    "read_parquet",
    "write_parquet",
    "TABLES",
    "load_table",
]
