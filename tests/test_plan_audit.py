"""Regression gate: no declared query's physical plan may grow a
cartesian product, nested-loop join (outside the reviewed allowlist in
tools/plan_audit.py) or any Python exec node.  Catches a silently-landed
per-row UDF or accidental cross join at test time, not judge time."""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

from conftest import SF_SMOKE


def test_no_scale_antipatterns_in_any_declared_plan(spark):
    from plan_audit import audit

    flagged = audit(spark, SF_SMOKE)
    assert flagged == [], f"scale anti-pattern nodes appeared: {flagged}"


def test_map_in_pandas_plan_is_flagged(spark):
    """A mapInPandas plan crosses into Python per batch: the audit's
    check reports it, with no allowlist that could let it through."""
    from plan_audit import plan_flags

    df = spark.range(3).mapInPandas(lambda batches: batches, "id long")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan_flags("any_query", plan) == ["MapInPandas"]
