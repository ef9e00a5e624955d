"""Contract tests for bench.py — the round-over-round comparability
artifact.  No Spark session needed: these check the name sets and
emission shape, the two things whose silent breakage corrupted past
round artifacts (r6: unparseable stdout line; the silent-skip hazard
bench.py now guards against)."""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import bench  # noqa: E402
from proyecto_gasto_publico_etl_per__spark.plans.driver_queries import (  # noqa: E402
    all_queries,
)


def test_bench_names_are_registered():
    """Every HEADLINE and EXTENSIONS name must be a declared query —
    a typo would otherwise shrink the round's totals while reading as
    a speedup (bench.main also raises at runtime; this catches it in
    CI without paying a Spark session)."""
    reg = set(all_queries())
    missing = [n for n in (*bench.HEADLINE, *bench.EXTENSIONS) if n not in reg]
    assert not missing, missing


def test_bench_headline_set_is_frozen():
    """The headline set is the round-over-round comparability contract
    (r6 verdict task 8: totals only mean something if the set never
    drifts).  Changing it requires changing this test CONSCIOUSLY."""
    assert bench.HEADLINE == (
        "star_join_base",
        "agg_monthly_view",
        "agg_annual_view",
        "ytd_by_group",
        "topk_by_group",
        "share_of_total",
        "backlog_having",
        "quarterly_evolution",
        "rollup_year_sector",
        "topn_year",
        "consolidate_grain",
        "running_ytd_window",
        "events_window_agg",
        "sessionize",
    )


def test_bench_sets_are_disjoint():
    """An entry in both sets would be double-timed and double-counted."""
    assert not set(bench.HEADLINE) & set(bench.EXTENSIONS)


def test_bench_lanes_cover_extensions():
    """Every REBUILD_LANE name must be a current extension entry (a
    stale lane entry would silently un-gate a renamed serving query),
    and the serving lane — everything else — must be non-empty."""
    assert bench.REBUILD_LANE <= set(bench.EXTENSIONS), (
        bench.REBUILD_LANE - set(bench.EXTENSIONS)
    )
    assert set(bench.EXTENSIONS) - bench.REBUILD_LANE


def test_bench_floor_names_are_current():
    """BENCH_FLOOR.json is the committed clean-run baseline the serving
    gate compares against — every floored name must still be an
    extension entry, and every SERVING entry should carry a floor once
    the file exists (a new entry may lag one round; assert only that
    floors aren't stale, which is the silent-false-green hazard)."""
    import json

    if not bench.FLOOR_PATH.exists():
        return  # seeded by the first quiet-box run of the round
    floors = json.loads(bench.FLOOR_PATH.read_text())["extension_min_sec"]
    stale = set(floors) - set(bench.EXTENSIONS)
    assert not stale, stale
    assert all(v > 0 for v in floors.values())


def test_check_regressions_gates_serving_lane_only(tmp_path):
    """The gate fires on a serving entry above FACTOR×floor, skips
    rebuild-lane entries entirely, and skips entries without a floor
    (append-only growth must never break the bench)."""
    import json

    floor = tmp_path / "floor.json"
    serving = next(iter(set(bench.EXTENSIONS) - bench.REBUILD_LANE))
    rebuild = next(iter(bench.REBUILD_LANE))
    floor.write_text(
        json.dumps({"extension_min_sec": {serving: 1.0, rebuild: 1.0}})
    )
    hot = bench.REGRESSION_FACTOR + 0.1
    out = bench.check_regressions(
        {serving: hot, rebuild: 99.0, "brand_new_entry": 99.0}, floor
    )
    assert [r["query"] for r in out] == [serving]
    assert out[0]["ratio"] == round(hot, 2)
    # inside the gate: no finding
    assert not bench.check_regressions({serving: 1.4}, floor)


def test_headline_floor_lane_gates_every_headline_query(tmp_path):
    """Round-10 verdict task 2: the floor gate extends to the headline
    set with its own lane — no rebuild exemptions (every headline query
    is a serving-shaped read path), keyed under headline_min_sec."""
    import json

    floor = tmp_path / "floor.json"
    floor.write_text(
        json.dumps(
            {
                "headline_min_sec": {"agg_annual_view": 1.0},
                # the extension lane must not leak into the headline gate
                "extension_min_sec": {"agg_annual_view": 99.0},
            }
        )
    )
    hot = bench.REGRESSION_FACTOR + 0.1
    out = bench.check_regressions(
        {"agg_annual_view": hot, "topk_by_group": 9.9},
        floor,
        lane_key="headline_min_sec",
        skip=frozenset(),
    )
    assert [r["query"] for r in out] == ["agg_annual_view"]
    assert not bench.check_regressions(
        {"agg_annual_view": 1.4}, floor,
        lane_key="headline_min_sec", skip=frozenset(),
    )


def test_merge_floors_union_min_and_prune():
    """r10 ADVICE: the floor refresh keeps entries absent from the
    current run (union of keys), takes elementwise min for present
    ones, and prunes names no longer in the registry."""
    merged = bench.merge_floors(
        {"keep_absent": 2.0, "tighten": 3.0, "renamed_away": 1.0},
        {"tighten": 1.5, "contended": 9.0, "brand_new": 0.7},
        ("keep_absent", "tighten", "contended", "brand_new"),
    )
    assert merged == {
        "keep_absent": 2.0,   # absent from this run: floor preserved
        "tighten": 1.5,       # elementwise min
        "contended": 9.0,     # new entry seeds at its first measurement
        "brand_new": 0.7,
    }
    # a slower (contended) re-run can never RAISE a floor
    again = bench.merge_floors(
        merged, {"tighten": 4.0}, tuple(merged)
    )
    assert again["tighten"] == 1.5


def test_bench_headline_floor_names_are_current():
    """Same staleness hazard as the extension lane: every floored
    headline name must still be a headline query."""
    import json

    if not bench.FLOOR_PATH.exists():
        return
    doc = json.loads(bench.FLOOR_PATH.read_text())
    floors = doc.get("headline_min_sec", {})
    stale = set(floors) - set(bench.HEADLINE)
    assert not stale, stale
    assert all(v > 0 for v in floors.values())


def test_subsecond_floors_are_report_only(tmp_path):
    """Round-14 rule (closes the two-round pps_sample_docs watchlist):
    a flag against a sub-second floor is marked report_only — at that
    absolute wall the box's demonstrated non-code variance (bimodal
    JIT) exceeds the gate's 1.5x headroom, so the strict gate must not
    trip on it — while floors >= 1 s keep the hard gate."""
    import json

    floor = tmp_path / "floor.json"
    serving = sorted(set(bench.EXTENSIONS) - bench.REBUILD_LANE)[:2]
    floor.write_text(
        json.dumps(
            {"extension_min_sec": {serving[0]: 0.5, serving[1]: 2.0}}
        )
    )
    out = bench.check_regressions(
        {serving[0]: 0.9, serving[1]: 3.6}, floor
    )
    flags = {r["query"]: r["report_only"] for r in out}
    assert flags == {serving[0]: True, serving[1]: False}
    assert bench.SUBSECOND_REPORT_ONLY_SEC == 1.0


def test_run_env_states_cpus_master_partitions_and_pin_mode(monkeypatch):
    """The env block is the run's ledger: host CPUs, the session's master
    and shuffle partitions, and the pin mode ``pin()`` applies — the
    validated value, so a bad knob fails the run instead of being
    reported."""
    from types import SimpleNamespace

    import pytest

    spark = SimpleNamespace(
        sparkContext=SimpleNamespace(master="local[3]"),
        conf=SimpleNamespace(
            get={"spark.sql.shuffle.partitions": "7"}.__getitem__
        ),
    )
    monkeypatch.setenv("SPARK_GRAFT_PIN_MODE", " Persist ")
    env = bench._run_env(spark)
    assert env["master"] == "local[3]"
    assert env["shuffle_partitions"] == 7
    assert env["pin_mode"] == "persist"
    assert env["cpus"] >= 1 and {"python", "pyspark"} <= set(env)
    monkeypatch.setenv("SPARK_GRAFT_PIN_MODE", "bogus")
    with pytest.raises(ValueError, match="SPARK_GRAFT_PIN_MODE"):
        bench._run_env(spark)
