"""Salted-join skew mitigation (operators/skew.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from proyecto_gasto_publico_etl_per__spark.operators.skew import (
    SALT_COL,
    salted_join,
)


@pytest.fixture()
def skewed(spark):
    # 97% of rows share one hot key — the shape salting exists for
    big = spark.range(0, 1000).select(
        F.when(F.col("id") < 970, F.lit("HOT")).otherwise(
            F.concat(F.lit("k"), F.col("id"))
        ).alias("k"),
        F.col("id").alias("payload"),
    )
    small = spark.createDataFrame(
        [("HOT", "hot-label"), ("k995", "cold-label")], "k STRING, label STRING"
    )
    return big, small


def test_salted_inner_equals_plain_join(spark, skewed):
    big, small = skewed
    plain = big.join(small, ["k"]).collect()
    salted = salted_join(big, small, ["k"], n_salt=8).collect()
    key = lambda r: (r.k, r.payload, r.label)  # noqa: E731
    assert sorted(map(key, salted)) == sorted(map(key, plain))
    assert len(salted) == 971  # 970 HOT + 1 cold


def test_salted_left_keeps_unmatched(spark, skewed):
    big, small = skewed
    out = salted_join(big, small, ["k"], how="left", n_salt=4)
    assert out.count() == 1000
    assert out.filter(F.col("label").isNull()).count() == 29


def test_salt_reaches_the_join_keys(spark, skewed):
    big, small = skewed
    plan = salted_join(big, small, ["k"], n_salt=8)._jdf.queryExecution().toString()
    assert SALT_COL in plan  # the physical join really keys on (k, salt)


def test_salted_join_rejects_other_join_types(spark, skewed):
    big, small = skewed
    with pytest.raises(ValueError):
        salted_join(big, small, ["k"], how="full")


def test_salt_column_name_collision_rejected(spark, skewed):
    big, small = skewed
    with pytest.raises(ValueError):
        salted_join(big.withColumn(SALT_COL, F.lit(1)), small, ["k"])


def test_broadcast_if_bounded_hints_small_side(spark, skewed):
    from proyecto_gasto_publico_etl_per__spark.operators.skew import (
        broadcast_if_bounded,
    )

    big, small = skewed
    joined = big.join(broadcast_if_bounded(small), "k")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert joined.count() == 971


def test_broadcast_if_bounded_falls_back_over_limit(spark, skewed):
    """Over the row bound the hint is withheld: the join plans as a
    shuffle (AQE skew-split territory) instead of dying on the 8 GB
    broadcast cap — and the result is identical either way."""
    from proyecto_gasto_publico_etl_per__spark.operators.skew import (
        broadcast_if_bounded,
    )

    big, small = skewed
    guarded = broadcast_if_bounded(small, max_rows=1)  # 2 rows > 1
    joined = big.join(guarded, "k")
    # the HINT must be absent (AQE may still auto-broadcast a tiny
    # side from its own stats — that adaptive path degrades gracefully
    # at scale, which is the whole point of withholding the hint)
    analyzed = joined._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed
    hinted = big.join(broadcast_if_bounded(small, max_rows=10), "k")
    assert "ResolvedHint" in hinted._jdf.queryExecution().analyzed().toString()
    key = lambda r: (r.k, r.payload, r.label)  # noqa: E731
    assert sorted(map(key, joined.collect())) == sorted(
        map(key, big.join(small, "k").collect())
    )


def test_broadcast_if_bounded_release_lifecycle(spark, skewed):
    """Round-9 lifecycle: every broadcast_if_bounded pin is registered
    and release_pinned() frees them all (storage level drops to NONE),
    returning the freed count; a released frame still recomputes
    correctly from lineage on the next action."""
    from proyecto_gasto_publico_etl_per__spark.operators import skew
    from proyecto_gasto_publico_etl_per__spark.operators.skew import (
        broadcast_if_bounded,
        release_pinned,
    )

    release_pinned()  # clean slate — other tests may have pinned
    big, small = skewed
    hinted = broadcast_if_bounded(small)
    assert len(skew._PINNED) == 1
    pinned = skew._PINNED[-1]
    assert pinned.storageLevel.useMemory or pinned.storageLevel.useDisk
    joined = big.join(hinted, "k")
    n_before = joined.count()
    assert release_pinned() == 1
    assert not skew._PINNED
    assert not (pinned.storageLevel.useMemory or pinned.storageLevel.useDisk)
    # lineage recompute after release: same result, no error
    assert big.join(broadcast_if_bounded(small), "k").count() == n_before
    assert release_pinned() == 1
    assert release_pinned() == 0  # idempotent on an empty registry


# --- pin(): the knob-switchable plan-dedup barrier (round 16) -----------------


def _pin_env(monkeypatch, mode=None, ckpt_dir=None):
    from proyecto_gasto_publico_etl_per__spark.operators import skew

    if mode is None:
        monkeypatch.delenv(skew.PIN_MODE_ENV, raising=False)
    else:
        monkeypatch.setenv(skew.PIN_MODE_ENV, mode)
    if ckpt_dir is None:
        monkeypatch.delenv(skew.CHECKPOINT_DIR_ENV, raising=False)
    else:
        monkeypatch.setenv(skew.CHECKPOINT_DIR_ENV, str(ckpt_dir))


def test_pin_default_is_local_checkpoint(spark, monkeypatch):
    from proyecto_gasto_publico_etl_per__spark.operators import skew

    _pin_env(monkeypatch)
    skew.release_pinned()
    df = spark.range(0, 10)
    out = skew.pin(df, eager=True)
    assert out.collect() == df.collect()
    # a checkpointed plan is a LogicalRDD scan, not the original Range
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "Range" not in plan
    assert skew._CKPT_PINNED, "local pin must register for release"
    assert skew.release_pinned() >= 1
    assert not skew._CKPT_PINNED


def test_pin_reliable_without_dir_raises(spark, monkeypatch):
    import pytest as _pytest

    from proyecto_gasto_publico_etl_per__spark.operators import skew

    if spark.sparkContext.getCheckpointDir() is not None:
        _pytest.skip("checkpoint dir already set on this session")
    _pin_env(monkeypatch, "reliable")
    with _pytest.raises(ValueError, match="SPARK_GRAFT_CHECKPOINT_DIR"):
        skew.pin(spark.range(3))


def test_pin_reliable_writes_to_checkpoint_dir(spark, monkeypatch, tmp_path):
    import os

    from proyecto_gasto_publico_etl_per__spark.operators import skew

    ckpt = tmp_path / "ckpt"
    _pin_env(monkeypatch, "reliable", ckpt)
    skew.release_pinned()
    df = spark.range(0, 10)
    out = skew.pin(df, eager=True)
    assert out.collect() == df.collect()
    # reliable checkpoints materialize as files under the configured dir
    found = [
        os.path.join(r, f)
        for r, _, fs in os.walk(ckpt)
        for f in fs
    ]
    assert found, "reliable pin must write checkpoint files"
    assert skew.release_pinned() >= 1


def test_pin_persist_keeps_lineage_and_registers(spark, monkeypatch):
    from proyecto_gasto_publico_etl_per__spark.operators import skew

    _pin_env(monkeypatch, "persist")
    skew.release_pinned()
    df = spark.range(0, 10)
    out = skew.pin(df, eager=True)
    assert out.storageLevel.useMemory or out.storageLevel.useDisk
    # lineage kept: the plan still shows the original source
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "Range" in plan
    assert out in skew._PINNED
    assert skew.release_pinned() >= 1
    assert not (out.storageLevel.useMemory or out.storageLevel.useDisk)


def test_pin_rejects_unknown_mode(spark, monkeypatch):
    import pytest as _pytest

    from proyecto_gasto_publico_etl_per__spark.operators import skew

    _pin_env(monkeypatch, "bogus")
    with _pytest.raises(ValueError, match="SPARK_GRAFT_PIN_MODE"):
        skew.pin(spark.range(3))


_RELEASE_AFTER_STOP = """
import json
from pyspark.sql import SparkSession
from proyecto_gasto_publico_etl_per__spark.operators import skew

spark = (
    SparkSession.builder.master("local[1]")
    .config("spark.ui.enabled", "false")
    .config("spark.driver.memory", "512m")
    .getOrCreate()
)
skew.pin(spark.range(0, 10), eager=True)
skew.broadcast_if_bounded(spark.range(0, 5))
spark.stop()
first = skew.release_pinned()
print(json.dumps({
    "released": first,
    "again": skew.release_pinned(),
    "pinned": len(skew._PINNED),
    "ckpt_pinned": len(skew._CKPT_PINNED),
}))
"""


def test_release_pinned_after_stop_is_a_no_op_on_the_jvm():
    """A long-lived caller may stop its session before the query-boundary
    release runs.  release_pinned() must then return the number of
    frames it dropped, raise nothing, and leave both registries empty —
    the stopped context's block manager would otherwise fail the
    unpersist.  Runs in a child process: stopping the suite's shared
    session would break every later test."""
    import json
    import os
    import subprocess
    import sys
    from pathlib import Path

    from proyecto_gasto_publico_etl_per__spark.operators import skew

    env = {k: v for k, v in os.environ.items() if k != skew.PIN_MODE_ENV}
    out = subprocess.run(
        [sys.executable, "-c", _RELEASE_AFTER_STOP],
        cwd=Path(__file__).resolve().parent.parent,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert got == {"released": 2, "again": 0, "pinned": 0, "ckpt_pinned": 0}
