"""Incremental / streaming ingestion.

The reference is batch with *incremental flavor*: new monthly CSVs are
appended idempotently — skip-if-processed (transformar_mensual.py:121-123),
``ON CONFLICT DO NOTHING`` (cargar_postgres.py:135,248), resumable batch
ranges (cargar_postgres.py:322-330).  SURVEY.md §2.11: batch-incremental
parity is the requirement; streaming is the scale extension.

Spark restatement:

- ``incremental_load`` — file-source Structured Streaming over a raw zone
  with ``Trigger.AvailableNow``: processes exactly the files not yet seen
  (checkpointed source offsets = the reference's skip-if-processed gate),
  applies a transform, and appends.  Exactly-once per file, resumable by
  construction.
- ``windowed_event_counts`` — event-time tumbling window with a watermark:
  the streaming form of the batch ``events_window_agg`` declared query.
  Late rows beyond the watermark are dropped (the reference has no
  late-data policy at all — this is strictly stronger).
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators import normalize


def incremental_load(
    spark: SparkSession,
    source_dir: str,
    target_dir: str,
    checkpoint_dir: str,
    schema: T.StructType,
    transform: Callable[[DataFrame], DataFrame] | None = None,
    fmt: str = "parquet",
):
    """Idempotent incremental append: process files that arrived since the
    last run, then stop (AvailableNow).  Re-running with the same
    checkpoint never reprocesses a file — the engine-level equivalent of
    the reference's skip-if-exists + ON CONFLICT DO NOTHING pair.

    Returns the finished StreamingQuery (already awaited).
    """
    stream = (
        spark.readStream.format(fmt)
        .schema(schema)
        .option("maxFilesPerTrigger", 16)
        .load(source_dir)
    )
    if transform is not None:
        stream = transform(stream)
    query = (
        stream.writeStream.format("parquet")
        .option("path", target_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return query


def streaming_transform(
    spark: SparkSession,
    raw_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    raw_columns: Sequence[str],
    max_files_per_trigger: int = 16,
):
    """The reference's transform CLI as a continuous pipeline: raw monthly
    CSVs land in ``raw_dir``, and each run normalizes exactly the files
    not yet seen into year-partitioned Parquet.

    Replaces the reference's skip-if-exists gate + per-file loop
    (``ETL Gasto publico Perú/etl/transformar_mensual.py:121-123,201-239``)
    with checkpointed source offsets — per-FILE exactly-once, so a
    half-written month never double-counts.  ``raw_columns`` is the raw
    header set (CSV streams need a declared schema; all-string, types are
    normalization's job).

    Returns the finished StreamingQuery (already awaited).
    """
    schema = T.StructType(
        [T.StructField(c, T.StringType()) for c in raw_columns]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("header", True)
        .option("quote", '"')
        .option("escape", '"')
        .option("mode", "DROPMALFORMED")
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .csv(raw_dir)
    )
    normalized = normalize.normalize_monthly(stream)
    query = (
        normalized.writeStream.format("parquet")
        .partitionBy("ANO_EJE")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return query


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


def dedup_ingest(
    stream: DataFrame,
    existing: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ts_col: str = "ingest_ts",
    delay: str = "1 hour",
) -> DataFrame:
    """Corpus ingestion that never re-admits a duplicate: two dedup
    layers over an arriving document stream, both exact (content-hash)
    and both bounded.

    1. IN-STREAM: ``dropDuplicatesWithinWatermark`` on the content hash —
       duplicates arriving within ``delay`` of each other collapse to
       one, across micro-batch boundaries, with state evicted past the
       watermark (bounded by arrival rate × delay, never by history).
    2. AGAINST HISTORY: stream-static LEFT ANTI join on the existing
       corpus's content hashes — the static side re-resolves per
       micro-batch, so a compaction/backfill of the warehouse is picked
       up without restarting the query.  The hash projection of the
       static side is all the join reads (column pruning), and the
       per-batch join broadcasts it when small; at 100 TB the static
       side should be a hash-bucketed table so the anti-join co-locates.

    The streaming twin of the batch pipeline ``exact_dedup_groups →
    anti-join append`` (the reference's ON CONFLICT DO NOTHING, applied
    to corpus content instead of warehouse keys).  Returns the deduped
    stream; attach your sink.
    """
    from ..operators.textstats import fingerprint

    hashed = stream.withColumn("content_hash", fingerprint(text_col))
    fresh = hashed.withWatermark(
        ts_col, delay
    ).dropDuplicatesWithinWatermark(["content_hash"])
    seen = existing.select(
        fingerprint(text_col).alias("content_hash")
    ).distinct()
    return fresh.join(seen, "content_hash", "left_anti")


def streaming_neardup_ingest(
    stream: DataFrame,
    corpus_dir: str,
    buckets_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
):
    """NEAR-dup-free corpus ingestion: MinHash-LSH at the door.

    The streaming complement of ``dedup_corpus_stream`` (exact content
    hash): an arriving document is dropped when any of its LSH band
    signatures collides with the admitted corpus — so ~same-but-edited
    re-crawls never enter, not just byte-identical ones.

    ``foreachBatch`` composition, per micro-batch:

    1. band-sign the batch (``dedup.band_signatures`` — the same code
       path the batch pipeline buckets with);
    2. drop docs colliding with the HISTORY bucket table (broadcastable
       left-semi on (band, band_sig); the table holds bands × 1 row per
       admitted doc, distinct-ed on read so at-least-once replays of a
       failed epoch stay harmless);
    3. within the batch, keep the smallest id per colliding bucket
       (deterministic first-wins, same rule as the batch keeper policy);
    4. write survivors to the corpus zone and their signatures to the
       bucket table, each under an ``epoch=<id>`` partition with
       per-epoch OVERWRITE — a replayed epoch (foreachBatch is
       at-least-once) rewrites its own partitions with identical
       content instead of appending duplicates, so a crash between the
       two writes is healed, not amplified, on restart.  The epoch
       column doubles as ingest provenance in the corpus zone.

    Collision = LSH candidate, not verified Jaccard: admission control
    trades the s-curve's false-positive rate (≈ bands ×
    jaccard^(num_hashes/bands) for dissimilar docs — tune bands/hashes)
    for never holding shingle sets in state.  At 100 TB the bucket table
    is the ONLY state: O(bands) rows per admitted doc, hash-bucketed on
    (band, band_sig) so the per-batch semi-join co-locates; the full
    batch MinHash pipeline (verify + clustering) remains the offline
    compaction pass.  The bucket table is a frozen-artifact serving
    path: it shares the staleness contract in SCALE.md
    §"Frozen-artifact serving" (here narrowed to within-one-micro-batch
    by the per-epoch signature write + the in-batch keeper policy),
    pinned by ``tests/test_frozen_contract.py``.

    Returns the started StreamingQuery (AvailableNow trigger).
    """
    from ..operators.dedup import band_signatures

    from pyspark.errors import AnalysisException

    def admit(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        if batch_df.isEmpty():
            return
        sigs = band_signatures(
            batch_df, id_col, text_col, n, num_hashes, bands
        ).localCheckpoint(eager=True)  # 2 consumers; shingle once
        try:
            hist = (
                spark.read.parquet(buckets_dir)
                # a replayed epoch must not collide with its own earlier
                # write: exclude this epoch's partition from history
                .where(F.col("epoch") != F.lit(epoch_id))
                .select("band", "band_sig")
                .distinct()
            )
        except AnalysisException as exc:
            # ONLY first-batch path-missing is expected; anything else
            # (corrupt footer, IO error) must fail the epoch loudly —
            # silently admitting with empty history would let near-dups
            # through for good.  Match the stable error CLASS first
            # (message wording varies across Spark versions/locales:
            # 'PATH_NOT_FOUND' vs 'Path does not exist'), with the
            # substring probes as a fallback for engines whose
            # exceptions predate error classes.
            # getCondition is the Spark 4 name; getErrorClass the
            # deprecated 3.x one — probe in that order
            getter = getattr(exc, "getCondition", None) or getattr(
                exc, "getErrorClass", None
            )
            err_class = getter() if getter is not None else None
            msg = str(exc)
            if err_class != "PATH_NOT_FOUND" and not (
                "PATH_NOT_FOUND" in msg or "Path does not exist" in msg
            ):
                raise
            hist = None
        collide = (
            sigs.join(hist, ["band", "band_sig"], "left_semi")
            .select("doc")
            if hist is not None
            else sigs.limit(0).select("doc")
        )
        keepers = sigs.groupBy("band", "band_sig").agg(
            F.min("doc").alias("keep")
        )
        in_batch = (
            sigs.join(keepers, ["band", "band_sig"])
            .where(F.col("doc") != F.col("keep"))
            .select("doc")
        )
        drops = collide.union(in_batch).distinct()
        admitted = batch_df.join(
            drops.withColumnRenamed("doc", id_col), id_col, "left_anti"
        )
        # per-epoch overwrite = idempotent replay (at-least-once safe)
        admitted.write.mode("overwrite").parquet(
            f"{corpus_dir}/epoch={epoch_id}"
        )
        sigs.join(drops, "doc", "left_anti").write.mode("overwrite").parquet(
            f"{buckets_dir}/epoch={epoch_id}"
        )

    return (
        stream.writeStream.foreachBatch(admit)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
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


def join_streams(
    left: DataFrame,
    right: DataFrame,
    key: str,
    *,
    left_ts: str = "ts",
    right_ts: str = "ts",
    within: str = "1 hour",
    watermark: str = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream join: correlate two event streams on a key within an
    event-time window (e.g. click → purchase attribution).

    Both sides get a watermark and the join carries an event-time RANGE
    condition (``right_ts ∈ [left_ts, left_ts + within]``) — the two
    requirements Structured Streaming imposes so buffered state is
    evictable: without them the engine must hold every past row forever
    waiting for a future match.  State per side is therefore bounded by
    (watermark + within) of data, not history.

    Right-side columns are prefixed ``r_`` (except the key) so the
    result is unambiguous whatever the payload schemas are.  ``how``
    supports ``inner`` and ``leftOuter`` (outer emits the unmatched left
    row only once its window fully expires past the watermark — correct
    but late by design).

    Works identically on batch frames (watermark is a no-op there), which
    is how the equivalence test pins semantics to a plain batch join.
    """
    if how not in ("inner", "leftOuter"):
        raise ValueError(
            f"join_streams supports how='inner'|'leftOuter', got {how!r}: "
            "other outer modes have untested watermark-eviction semantics "
            "here and would otherwise surface only as a late runtime error"
        )
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    taken = set(lw.columns) | set(rw.columns)

    def fresh(c: str) -> str:
        # uniquify instead of colliding when some side already has r_<c>
        cand = f"r_{c}"
        while cand in taken:
            cand = f"r_{cand}"
        taken.add(cand)
        return cand

    renames = {c: fresh(c) for c in rw.columns if c != key}
    for old, new in renames.items():
        rw = rw.withColumnRenamed(old, new)
    r_ts = renames.get(right_ts, right_ts)
    cond = (
        (lw[key] == rw[key])
        & (rw[r_ts] >= lw[left_ts])
        & (rw[r_ts] <= lw[left_ts] + F.expr(f"INTERVAL {within}"))
    )
    return lw.join(rw, cond, how).drop(rw[key])


def enrich_stream(
    stream: DataFrame,
    dim: DataFrame,
    keys: list[str],
    how: str = "left",
) -> DataFrame:
    """Stream-static enrichment join: attach dimension attributes to a
    stream without any stream state.

    The static side is re-resolved against its source per micro-batch
    (so a dim refresh is picked up without restarting the query) and is
    broadcast — the streaming side never shuffles, which is the whole
    point: enrichment stays map-side no matter how large the stream
    grows.  Left join keeps unmatched events (the dim may lag the
    stream); use inner only when the dim is guaranteed complete.
    """
    return stream.join(F.broadcast(dim), keys, how)


def streaming_drift_monitor(
    stream: DataFrame,
    ref_dir: str,
    scores_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
):
    """Distribution-drift monitoring at the ingest door: score every
    arriving micro-batch's token distribution against a FROZEN corpus
    reference (``textstats.token_distribution`` persisted at ``ref_dir``)
    with the goodness-of-fit χ² — a spiking score flags a crawler
    regression / template flood / domain shift while the batch is still
    in flight, before it skews the training mixture.

    ``foreachBatch`` composition, per micro-batch: one tokenize + hash
    agg over the batch, then all remaining work happens on the
    broadcast V-row reference — the monitor's cost is O(batch), with no
    corpus access at all (the frozen-artifact serving contract, SCALE.md
    §"Frozen-artifact serving": drift is measured against the
    distribution as of the last artifact rebuild).  One
    ``(n_tokens, chi2_micro)`` row lands per epoch under
    ``scores_dir/epoch=<id>`` with per-epoch OVERWRITE, so at-least-once
    replays rewrite their own row instead of duplicating it.

    Batch twin: ``textstats.chi2_against_reference`` — streamed scores
    are pytest-proven equal to scoring the same files as batch frames.

    Returns the started StreamingQuery (AvailableNow trigger).
    """
    from ..operators.textstats import chi2_against_reference

    def score(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        ref = batch_df.sparkSession.read.parquet(ref_dir)
        row = chi2_against_reference(batch_df, ref, text_col)
        row.write.mode("overwrite").parquet(f"{scores_dir}/epoch={epoch_id}")

    return (
        stream.writeStream.foreachBatch(score)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def zone_epoch_ingest(
    stream: DataFrame,
    zones_dir: str,
    checkpoint_dir: str,
    build: Callable[..., str],
):
    """Living zone maintenance at the ingest door: every arriving
    micro-batch is built into its OWN zone root under
    ``zones_dir/epoch=<id>`` by the lane's ``build(spark, batch,
    root=...)`` — `retrieval.build_bm25_index`,
    `trigram.build_trigram_index`, or `aggzone.build_agg_zone` with its
    spec bound.

    A file-source epoch owns a disjoint slice of the input and every
    lane's zones merge associatively, so serving over all epoch roots
    (`sources.zones.index_roots`) reproduces one batch build EXACTLY
    (streamed==batch, pinned per lane by test).  A replayed epoch
    rewrites its own root in place (`zones.build_root`), so an
    at-least-once retry cannot double-count.  Cost per batch is
    O(batch); earlier epochs are never touched, and the lane's
    compaction folds them.

    Returns the started StreamingQuery (AvailableNow trigger).
    """

    def index(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        build(
            batch_df.sparkSession,
            batch_df,
            root=f"{zones_dir}/epoch={epoch_id}",
        )

    return (
        stream.writeStream.foreachBatch(index)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def zone_delete_ingest(
    stream: DataFrame,
    checkpoint_dir: str,
    delete: Callable[[SparkSession, DataFrame], int],
):
    """Takedowns at the ingest door: every arriving micro-batch of
    delete requests (one id column) goes to the lane's
    ``delete(spark, ids)`` — e.g. `retrieval.delete_from_bm25_index`
    over the index's current roots, or `similarity.
    delete_from_ann_index` on a persisted base — a delete-batch-sized
    tombstone append, never a rebuild, so a living index honors
    retractions at the cadence it honors appends.

    Replays need no per-epoch overwrite: the shared tombstone append
    (`sources.zones.append_tombstones`) skips ids already tombstoned,
    so a replayed batch appends nothing.  Streamed-delete ==
    batch-delete is pinned per lane in tests/test_streaming.py.

    Returns the started StreamingQuery (AvailableNow trigger).
    """

    def tombstone(batch_df: DataFrame, epoch_id: int) -> None:
        if not batch_df.isEmpty():
            delete(batch_df.sparkSession, batch_df)

    return (
        stream.writeStream.foreachBatch(tombstone)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
