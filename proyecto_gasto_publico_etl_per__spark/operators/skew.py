"""Skew-mitigation joins.

The reference never meets skew (PostgreSQL single-node hash joins,
``ETL Gasto publico Perú/sql/ConsultasAlDataWarehouse.sql``), but at 100 TB
a shuffle join on a hot key (one giant ejecutora, one dominant expense
classifier) stalls a whole stage on one task.  Two engine answers:

1. AQE skew-join splitting (on by default, session.py) — handles skew the
   optimizer can SEE at runtime.
2. ``salted_join`` below — explicit salting for the planned-ahead case:
   the big side scatters each hot key across ``n_salt`` shuffle partitions
   with a deterministic per-row salt; the small side is replicated
   ``n_salt``× so every (key, salt) pair still meets its match.  Result is
   row-for-row identical to the unsalted join (the declared
   ``skew_salted_join`` query proves it against a plain-SQL oracle).

Use ``salted_join`` when the small side is too big to broadcast but small
enough to replicate n_salt times — the gap between broadcast-hash-join
and a skew-split shuffle join.
"""

from __future__ import annotations

import os

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SALT_COL = "__gasto_salt"

#: every frame ``broadcast_if_bounded`` has pinned and not yet released
#: (round-9 lifecycle: persist() leaked executor memory across long
#: sessions — the 151-query bench held ~5 vocab frames forever)
_PINNED: list[DataFrame] = []

#: checkpoint-pinned frames (``pin`` in local/reliable mode) awaiting
#: release — dropping the Python reference makes the JVM-side plan (and
#: its checkpoint RDD blocks) collectable; ``release_pinned`` clears the
#: list and nudges the JVM GC so ContextCleaner frees the blocks between
#: queries instead of at an arbitrary later GC (round-16 advice: long
#: 189-query sessions otherwise hold every query's checkpoint blocks
#: until driver GC happens to run)
_CKPT_PINNED: list[DataFrame] = []

#: ``pin`` barrier-mode knob.  ``local`` (default) = executor-local
#: checkpoint — fastest, but severs lineage and the pinned frame must
#: fit executor-local storage; ``reliable`` = reliable-storage
#: ``DataFrame.checkpoint`` (survives executor loss; requires a
#: checkpoint dir, see ``SPARK_GRAFT_CHECKPOINT_DIR``); ``persist`` =
#: MEMORY_AND_DISK cache — keeps lineage (recomputable on executor
#: loss, safe at any frame size because it spills/evicts) at the cost
#: of weaker plan-dedup guarantees under memory pressure.  SCALE.md
#: §"Pinned-frame inventory" documents per-site expected sizes.
PIN_MODE_ENV = "SPARK_GRAFT_PIN_MODE"
CHECKPOINT_DIR_ENV = "SPARK_GRAFT_CHECKPOINT_DIR"
_PIN_MODES = ("local", "reliable", "persist")


def pin_mode() -> str:
    """The validated ``SPARK_GRAFT_PIN_MODE`` that ``pin`` applies
    (``local`` when unset); a bad value raises here, not at a pin site."""
    mode = os.environ.get(PIN_MODE_ENV, "local").strip().lower() or "local"
    if mode not in _PIN_MODES:
        raise ValueError(
            f"{PIN_MODE_ENV}={mode!r}: expected one of {_PIN_MODES}"
        )
    return mode


def pin(df: DataFrame, eager: bool = False) -> DataFrame:
    """Plan-dedup barrier: materialize ``df`` once so that 2+ downstream
    consumers (whose differing column pruning defeats ReuseExchange —
    the round-6 lesson) share one execution instead of re-expanding the
    subtree per consumer.

    This is the engine-wide seam for the 100 TB trade the round-15
    advice flagged: a bare ``localCheckpoint`` pins corpus-scale frames
    to executor-local storage and severs lineage (an executor loss
    fails the job; the frame must fit local disk).  ``pin`` keeps the
    local default (right for the bench and for bounded frames) but lets
    a deployment switch EVERY pin site at once via
    ``SPARK_GRAFT_PIN_MODE``:

    - ``local`` (default): ``df.localCheckpoint(eager)``.
    - ``reliable``: ``df.checkpoint(eager)`` to the configured
      checkpoint dir (``SPARK_GRAFT_CHECKPOINT_DIR`` or a dir already
      set on the SparkContext) — lineage still severed, but blocks
      live on reliable storage so executor loss is survivable.
    - ``persist``: ``df.persist(MEMORY_AND_DISK)`` — lineage KEPT
      (fault-tolerant and size-safe: blocks spill and can be evicted
      and recomputed), registered for ``release_pinned``.

    Batch only (checkpoint/persist are illegal on streaming frames —
    callers already guard).  NOT a write barrier: a frame that must be
    materialized before its own input directory is overwritten (the
    mef_pipeline pattern) needs an eager checkpoint regardless of any
    knob and therefore calls ``localCheckpoint`` directly.  Lineage-
    CUTTING sites (iterative loops whose plans otherwise grow per
    round) also stay on explicit checkpoints — ``persist`` would keep
    the growing lineage alive.
    """
    mode = pin_mode()
    if mode == "persist":
        out = df.persist(StorageLevel.MEMORY_AND_DISK)
        _PINNED.append(out)
        if eager:
            out.count()
        return out
    if mode == "reliable":
        sc = df.sparkSession.sparkContext
        if sc.getCheckpointDir() is None:
            ckpt_dir = os.environ.get(CHECKPOINT_DIR_ENV)
            if not ckpt_dir:
                raise ValueError(
                    f"{PIN_MODE_ENV}=reliable needs a checkpoint dir: "
                    f"set {CHECKPOINT_DIR_ENV} or call "
                    "SparkContext.setCheckpointDir first"
                )
            sc.setCheckpointDir(ckpt_dir)
        out = df.checkpoint(eager=eager)
    else:
        out = df.localCheckpoint(eager=eager)
    _CKPT_PINNED.append(out)
    return out


def broadcast_if_bounded(
    df: DataFrame, max_rows: int = 8_000_000
) -> DataFrame:
    """Guarded broadcast hint for vocab-shaped small sides (round-7
    advice): count the frame and attach ``F.broadcast`` only below
    ``max_rows``; above it, return the frame unhinted so the join falls
    back to a shuffled plan (AQE skew-split handles the hot keys)
    instead of failing on Spark's 8 GB broadcast hard cap.  The frame
    is ``persist()``ed first so the guard count feeds the subsequent
    join rather than being a wasted extra pass (and the cached blocks
    stay recomputable from lineage on executor loss, unlike a
    localCheckpoint pin).

    Default 8M rows: a vocab row (short string key + a count long) is
    ≲100 B serialized, keeping the broadcast well under 1 GB — an order
    of magnitude inside the hard limit.  Batch-only: the count is an
    eager action, so never call this on a streaming frame.

    Lifecycle: the pin is registered module-side; call
    ``release_pinned()`` between queries in a long-lived session to
    return the cached blocks (the operator itself cannot unpersist —
    its caller returns a LAZY frame, so the pin must survive until the
    caller's action has run).
    """
    pinned = df.persist(StorageLevel.MEMORY_AND_DISK)
    _PINNED.append(pinned)
    if pinned.count() <= max_rows:
        return F.broadcast(pinned)
    return pinned


def _stopped(df: DataFrame) -> bool:
    """True once ``df``'s SparkContext is stopped (``stop()`` drops its
    JVM handle)."""
    return df.sparkSession.sparkContext._jsc is None


def release_pinned() -> int:
    """Unpersist every frame ``broadcast_if_bounded`` has pinned since
    the last release and return how many were freed.  Safe to call at
    any query boundary: a released frame that some still-lazy plan
    references is simply recomputed from lineage on the next action
    (correctness is unaffected — only the cache is dropped).  Long
    sessions (the 151-query bench loop, the correctness gate) call
    this between queries so vocab caches don't accumulate executor
    memory for the whole run.

    Checkpoint-pinned frames (``pin`` local/reliable) are released by
    dropping the registry's references and prompting one JVM GC:
    checkpoint blocks belong to the plan's RDD, which ContextCleaner
    frees when the JVM object is unreachable — reference-dropping (not
    a forced unpersist) is the SAFE release, because a frame the
    caller still holds (a lazy result a later action will run) stays
    reachable and keeps its blocks.

    Frames whose SparkContext has been stopped are dropped from both
    registries without any JVM call: their blocks died with the
    context, and the stopped context's block manager would raise."""
    pinned, ckpt = list(_PINNED), list(_CKPT_PINNED)
    _PINNED.clear()
    _CKPT_PINNED.clear()
    for df in pinned:
        if not _stopped(df):
            df.unpersist()
    live = [df for df in ckpt if not _stopped(df)]
    if live:
        # nudge ContextCleaner: checkpoint RDD blocks free on JVM GC
        live[0].sparkSession.sparkContext._jvm.System.gc()
    return len(pinned) + len(ckpt)


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: list[str],
    how: str = "inner",
    n_salt: int = 16,
) -> DataFrame:
    """Equi-join with the big side's hot keys scattered over ``n_salt``
    shuffle partitions.

    The per-row salt is ``xxhash64`` of the whole row (deterministic under
    task retry, unlike a random or monotonic id); the small side is
    exploded ``n_salt``× so matching pairs co-locate on (key, salt).
    Supports ``inner`` and ``left`` joins — the join types the engine's
    FK-resolution path uses (SURVEY.md §2.5).
    """
    if how not in ("inner", "left"):
        raise ValueError(f"salted_join supports inner/left, got {how!r}")
    if SALT_COL in big.columns or SALT_COL in small.columns:
        raise ValueError(f"{SALT_COL} column name is reserved")

    salted_big = big.withColumn(
        SALT_COL,
        F.pmod(F.xxhash64(*[F.col(c) for c in big.columns]), F.lit(n_salt)),
    )
    salted_small = small.withColumn(
        SALT_COL, F.explode(F.array(*[F.lit(i) for i in range(n_salt)]))
    )
    joined = salted_big.join(salted_small, [*on, SALT_COL], how)
    return joined.drop(SALT_COL)
