"""PySpark-native analytics engine with the query and data-processing
capabilities of the reference repo ``DiegoCA2803/Proyecto-Gasto-Publico-ETL-Per-``.

The reference is a pandas + PostgreSQL ETL/star-schema warehouse for Peru's
MEF "Presupuesto y Ejecución de Gasto" open dataset.  This package re-expresses
every operator it implements (SURVEY.md §2) Spark-first:

- ``sources``   — CSV/Parquet scans with encoding fallback and projection
- ``operators`` — normalization, time dimension, star-schema build
                  (surrogate keys, anti-join upsert, FK resolution, grain
                  consolidation), plus large-scale extensions (dedup,
                  similarity search, text stats, binary-payload
                  plumbing that decodes no media)
- ``functions`` — reusable column expressions (text cleaning, labels,
                  exact-decimal money math, cross-engine stable hashing)
- ``plans``     — the analytic views and parameterized queries (Q1-Q7,
                  V-base / V-aggm / V-agga) as DataFrame builders
- ``streaming`` — event-time window operators (batch or streaming frames)

Everything is DataFrame API + Spark SQL; Catalyst/AQE does the physical
planning.  No declared query runs Python per row: ``tools/plan_audit.py``
fails on any Python exec node in a declared plan, with no allowlist.
pandas runs in one place: the parquet footer reader that builds the
stats manifest (``sources/manifest.py``, ``mapInPandas`` over file
paths, one row per file, run before the pruned scan is planned).
"""

__version__ = "0.1.0"
