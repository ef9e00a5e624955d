"""Physical-plan audit: flag scale anti-patterns across ALL declared queries.

Usage: python tools/plan_audit.py [sf_dir]

For every query in the registry, prints any red-flag physical nodes:
- CartesianProduct / BroadcastNestedLoopJoin — O(N·M) joins;
- any Python exec node — a per-row or per-batch crossing into Python
  (UDFs, pandas UDFs, mapInPandas/mapInArrow, grouped and cogrouped
  applyIn*).  No declared query may run Python per row: every plan is
  relational, so Catalyst sees through all of it;
- SortMergeJoin on a side we expected broadcast is NOT flagged here
  (size-dependent, AQE decides) — this audit is about structural
  mistakes, not tuning.

Exit code 1 if any flag fires outside the reviewed CARTESIAN_OK
allowlist, so it can run as a gate.  Python exec nodes have no
allowlist.
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

#: matched as substrings of the executed plan, so a node name also
#: catches its suffixed variants (BatchEvalPythonUDTF, ArrowEvalPythonUDTF,
#: FlatMapGroupsInPandasWithState)
RED_FLAGS = (
    "CartesianProduct",
    "BroadcastNestedLoopJoin",
    # Python exec nodes, as pyspark 4.1 names them
    # (org.apache.spark.sql.execution.python.*Exec)
    "BatchEvalPython",  # @udf
    "ArrowEvalPython",  # scalar pandas_udf
    "ArrowAggregatePython",  # grouped-aggregate pandas_udf
    "ArrowWindowPython",  # pandas_udf over a window
    "MapInPandas",
    "MapInArrow",
    "FlatMapGroupsInPandas",  # groupBy().applyInPandas
    "FlatMapGroupsInArrow",  # groupBy().applyInArrow
    "FlatMapCoGroupsInPandas",  # cogroup().applyInPandas
    "FlatMapCoGroupsInArrow",  # cogroup().applyInArrow
    "TransformWithStateInPySpark",  # streaming transformWithState*
)

#: queries whose nested-loop/cartesian node is BY DESIGN over a
#: provably tiny side (reviewed 2026-08-13):
CARTESIAN_OK = {
    "month_spine_gapfill",  # |sectors| × 12-row generated month spine
    "sim_topk_brute",  # brute-force baseline: corpus × 10-probe set
    "tfidf_top_terms",  # 1-row corpus-size scalar broadcast
    "bm25_topk",  # 1-row corpus-stats (n_docs, s_tokens) scalar broadcast
    #               onto the query-term-filtered posting list (r13)
    "bm25_serving",  # same 1-row stats scalar, read from the persisted
    #                  index zone (r13)
    "bm25_append_serving",  # same 1-row stats scalar, summed across the
    #                         base+delta zone pair (r13)
    "bm25_delete_serving",  # same 1-row stats scalar, minus the 1-row
    #                         tombstone (count, Σdl) adjustment (r14)
    "bm25_compacted_serving",  # same 1-row stats scalar, read from the
    #                            compacted zone root (r14)
    "hybrid_retrieval_topk",  # composes bm25_serving, inheriting its
    #                           allowlisted 1-row stats broadcast (r14)
    "unigram_freq_score",  # 1-row corpus-total scalar broadcast
    "ann_recall_eval",  # brute ground truth (corpus × 10 probes) +
    #                     1-row n_expected scalar broadcast
    "ann_mrr_eval",  # same brute ground-truth cross product (r8)
    "ann_ndcg_eval",  # same brute ground-truth cross product (r9)
    "ann_rrf_fusion",  # composes sim_topk_sq8, inheriting its allowlisted
    #                    corpus × 10-probe broadcast scan (r9)
    "chi2_domain_shift",  # |sources| × top-V generated zero-cell matrix,
    #                       bounded by construction (r9)
    "hard_negative_mining",  # exact mining baseline: corpus × 10 probes
    "dq_rule_violations",  # 1-row denominator scalar broadcast onto
    #                        1-row referential-rule aggregates
    "pmi_bigram_lift",  # 1-row corpus-total (n_uni, n_bi) scalar
    #                     broadcasts onto the vocab-bounded bigram table
    "sq8_encode_audit",  # 1-row per-dim min/max codebook broadcast (the
    #                      SQ model artifact, like IVF centroids)
    "sim_topk_sq8",  # SQ8 scan path: corpus codes × 10-probe broadcast
    #                  (SQ compresses, it does not prune — reviewed r8)
    "mmr_diverse_topk",  # candidate generation = the same brute
    #                      corpus × 10-probe pass (oracle exactness;
    #                      production swaps in an index path — r9)
    "rfm_segments",  # 1-row corpus-horizon (max orderdate) scalar broadcast
    "basket_brand_pairs",  # 1-row basket-total scalar broadcast onto the
    #                        |brands|²-bounded pair table
    "basket_size_histogram",  # 1-row order-total scalar broadcast onto
    #                           the |sizes|-bounded histogram
    "kmv_jaccard_priorities",  # |priorities|² sketch-pair generation:
    #                            a non-equi (pa < pb) join of the
    #                            5-row sketch frame with itself —
    #                            model-artifact-sized at any SF (r15)
}


def plan_flags(name: str, plan: str) -> list[str]:
    """The red-flag nodes in one query's executed-plan string, after the
    CARTESIAN_OK allowlist."""
    hits = [f for f in RED_FLAGS if f in plan]
    if name in CARTESIAN_OK:
        hits = [
            h
            for h in hits
            if h not in ("CartesianProduct", "BroadcastNestedLoopJoin")
        ]
    return hits


def audit(spark, sf_dir: str, verbose: bool = False) -> list[tuple[str, list[str]]]:
    """Audit every declared query's physical plan; returns the flagged
    (name, red-flag nodes) pairs after allowlisting.  Importable so the
    pytest suite can run the same gate (tests/test_plan_audit.py)."""
    import __spark_entry__ as entry

    from proyecto_gasto_publico_etl_per__spark.operators.skew import (
        release_pinned,
    )

    flagged: list[tuple[str, list[str]]] = []
    for name, fn in sorted(entry.queries().items()):
        plan = fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        hits = plan_flags(name, plan)
        if hits:
            flagged.append((name, hits))
            print(f"FLAG  {name:30s} {','.join(hits)}")
        elif verbose:
            print(f"ok    {name}")
        # plan BUILD can eagerly pin guarded-broadcast vocab frames
        # (broadcast_if_bounded counts during construction) — release
        # at each query boundary (round-9 lifecycle)
        release_pinned()
    return flagged


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    flagged = audit(spark, sf_dir, verbose=True)
    print(f"\n{len(flagged)} flagged")
    return 1 if flagged else 0


if __name__ == "__main__":
    raise SystemExit(main())
