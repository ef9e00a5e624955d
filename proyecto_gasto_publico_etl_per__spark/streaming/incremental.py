"""Event-time streaming operators.

The reference is batch with *incremental flavor*: new monthly CSVs are
appended idempotently — skip-if-processed (transformar_mensual.py:121-123),
``ON CONFLICT DO NOTHING`` (cargar_postgres.py:135,248), resumable batch
ranges (cargar_postgres.py:322-330).  The paper's load is batch, so the
engine has no streaming ingest lane: ``plans/mef_pipeline.py``'s ledgered
load is the one skip-if-processed gate.  What stays here are the two
event-time operators whose same code runs on a batch or a streaming frame:

- ``windowed_event_counts`` — event-time tumbling window with a watermark:
  the streaming form of the batch ``events_window_agg`` declared query.
  Late rows beyond the watermark are dropped (the reference has no
  late-data policy at all — this is strictly stronger).
- ``session_window_agg`` — gap-based sessions through Spark's native
  ``session_window``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Event-time tumbling-window aggregate with late-data watermark.

    Works on both a batch and a streaming ``events`` frame (same code path
    — the Structured Streaming promise); in streaming mode state for
    windows older than the watermark is evicted, bounding memory.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)"))
            .cast("double")
            .alias("value_sum"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "value_sum",
        )
    )


def session_window_agg(
    events: DataFrame,
    gap: str = "30 minutes",
    key_col: str = "user_id",
    ts_col: str = "ts",
    watermark: str | None = None,
) -> DataFrame:
    """Gap-based sessionization via the NATIVE ``session_window``
    aggregate — Catalyst's merging-session-window exec, fully JVM-side.

    The engine's two sessionizers, by execution strategy:

    1. ``sessionize`` (declared query): two window functions + groupBy —
       batch-only, oracle-checkable in plain SQL.
    2. this — the built-in operator: one shuffle on the key, sessions
       merged by the dedicated exec node, and the SAME code runs batch
       or streaming (pass ``watermark`` on a stream; required there for
       state eviction).

    Boundary semantics match the declared query: an event exactly
    ``gap`` after the previous one EXTENDS the session (Spark merges
    adjacent windows; the query's ``new_session`` fires only on
    ``gap_us > gap``).

    At 100 TB: state/shuffle is one (key, open-session) pair per key,
    without Python.
    """
    ev = events.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    if watermark is not None:
        ev = ev.withWatermark(ts_col, watermark)
    return (
        ev.groupBy(key_col, F.session_window(ts_col, gap).alias("sw"))
        .agg(
            F.count("*").alias("n_events"),
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
        )
        .select(key_col, "session_start", "session_end", "n_events")
    )
