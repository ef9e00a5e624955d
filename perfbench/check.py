"""Output checks against DuckDB, with the package's correctness gate's own
helpers (``tools/check_correctness.py``): row count, column names, Arrow
column types and an order-insensitive value hash."""

from __future__ import annotations

import duckdb
import pyarrow as pa

from tools.check_correctness import _rows_from_arrow, dtype_mismatches, value_hash


def compare(name: str, got: pa.Table, want: pa.Table) -> str | None:
    """None when equal, else a one-line reason naming ``name``."""
    if got.num_rows != want.num_rows:
        return f"{name}: rows spark={got.num_rows} duckdb={want.num_rows}"
    g_cols, w_cols = sorted(got.schema.names), sorted(want.schema.names)
    if g_cols != w_cols:
        return f"{name}: columns spark={g_cols} duckdb={w_cols}"
    types = dtype_mismatches(got, want)
    if types:
        return f"{name}: dtypes {'; '.join(types)}"
    g = value_hash(_rows_from_arrow(got), got.schema.names)
    w = value_hash(_rows_from_arrow(want), want.schema.names)
    if g != w:
        return f"{name}: value hash spark={g} duckdb={w}"
    return None


def star_connection(sf_dir: str, tables: tuple[str, ...]) -> duckdb.DuckDBPyConnection:
    """DuckDB connection with one view per generated parquet table."""
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con
