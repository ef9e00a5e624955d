"""Deterministic hashing: surrogate keys and cross-engine stable hashes.

Surrogate keys: the reference uses PostgreSQL SERIAL sequences
(CreacionDeDataWareHouse.sql:10,29,36,...).  Sequences don't exist in a
distributed engine; ``monotonically_increasing_id`` is neither stable across
runs nor dense.  We use ``xxhash64`` over the natural key instead —
deterministic, computable in parallel with no coordination, stable across
incremental loads (the same natural key always maps to the same id, which is
exactly the property the loader's upsert-by-natural-key provides,
cargar_postgres.py:127-152).  Collision risk at dim cardinalities (≤ 10^6
rows vs 2^64 space) is ~1e-7 — negligible, and detectable by a
count-distinct audit.

Cross-engine hashes: ``xxhash64`` is Spark-specific, so a query whose
result must be reproducible outside Spark (MinHash signatures checked
against a DuckDB oracle) uses the first 8 hex digits of md5 as a uint32,
identical in any engine with ``md5()``.  Each such query writes the hash
inline, with its own salt: ``conv(substring(md5(x), 1, 8), 16, 10)`` on
the Spark side (in SQL or as the same ``F.conv`` Column), and
``CAST(('0x' || substr(md5(x), 1, 8)) AS BIGINT)`` in the oracle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Separator unlikely to occur in key text; prevents ("ab","c") == ("a","bc").
_SEP = "\x1f"


def surrogate_key(*cols: Column | str) -> Column:
    """Stable 64-bit surrogate id from a natural key.

    Key parts are trimmed strings (matching the loader's key normalization,
    cargar_postgres.py:120-123); NULL parts hash as the empty string so a
    NULL and a missing column don't collide with real values accidentally
    shifting positions.
    """
    parts = []
    for c in cols:
        col = F.col(c) if isinstance(c, str) else c
        parts.append(F.coalesce(F.trim(col.cast("string")), F.lit("")))
    return F.xxhash64(F.concat_ws(_SEP, *parts))

