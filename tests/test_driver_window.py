"""Driver-contract window invariants: the driver hashes only the FIRST
50 registered queries per round, and the registry self-rotates
never-checked names to the front.  These guards keep future query
additions from silently overflowing that verification budget."""

from __future__ import annotations

import __spark_entry__ as entry
from driver_ref import driver_green_names
from proyecto_gasto_publico_etl_per__spark.plans import driver_queries as DQ


def test_every_query_has_an_oracle():
    qs, os_ = entry.queries(), entry.oracle_sql()
    missing = [n for n in qs if n not in os_]
    assert missing == [], f"queries without oracles (weaker check): {missing}"


def test_unchecked_queries_fit_the_window():
    """Adding queries is fine only while every never-driver-checked name
    still lands inside the 50-slot window — otherwise a declared query
    can NEVER earn a driver correctness row."""
    names = list(entry.queries())
    green = driver_green_names()
    unchecked = [n for n in names if n not in green]
    assert len(unchecked) <= 50, (
        f"{len(unchecked)} never-checked queries exceed the 50-slot "
        "driver window; wait for a round's artifacts before adding more"
    )
    # and the rotation actually front-loads them
    assert set(unchecked) <= set(names[:50])


def test_green_names_rotate_stalest_first():
    """Once every name is ever-green the window must not fossilize: green
    names sort by ascending last-checked artifact round, so the
    earliest-verified core re-greens under the current runtime every few
    rounds (round-5 verdict task 2)."""
    names = list(entry.queries())
    latest = DQ._latest_check_rows()
    green_round = {
        n: rnd for n, (rnd, row) in latest.items() if DQ._is_green(row)
    }
    rounds_in_order = [green_round[n] for n in names if n in green_round]
    assert rounds_in_order == sorted(rounds_in_order), (
        "green names are not ordered oldest-check-first"
    )
    # never-green names (if any) still precede every green name
    first_green_pos = next(
        (i for i, n in enumerate(names) if n in green_round), len(names)
    )
    assert all(n in green_round for n in names[first_green_pos:])


def test_column_names_match_between_engines():
    """The driver's comparator sorts columns by NAME before hashing —
    a Spark/oracle alias mismatch fails even with identical values.
    Static smoke: oracle SQL must mention every output alias it needs
    (full verification is tools/check_correctness.py)."""
    os_ = entry.oracle_sql()
    assert all(isinstance(v, str) and v.strip() for v in os_.values())


def test_r8_window_surfaces_the_stalest_greens():
    """Round-7 verdict task 6: with the committed r7 artifact in place,
    the 50-slot window must hold exactly the stalest greens — no name
    checked in a NEWER round may occupy a slot while an older-checked
    name sits outside.  The specific r8 expectation (zero r7-fresh
    names in the window, r5-era names at the front) is guarded on the
    artifact state so the test stays valid in later rounds."""
    names = list(entry.queries())
    latest = DQ._latest_check_rows()
    green_round = {
        n: rnd for n, (rnd, row) in latest.items() if DQ._is_green(row)
    }
    window = [n for n in names[:50] if n in green_round]
    outside = [n for n in names[50:] if n in green_round]
    if window and outside:
        assert max(green_round[n] for n in window) <= min(
            green_round[n] for n in outside
        ), "a freshly-checked name occupies a slot a staler name needs"
    newest = max(green_round.values(), default=0)
    if newest == 7 and len(green_round) == len(names):
        # the exact r8 state: every green, r7 artifact committed
        assert all(green_round[n] < 7 for n in window), (
            "r7-fresh names must rotate OUT of the r8 window"
        )
        assert green_round[names[0]] == min(green_round.values())


def test_r9_window_front_loads_the_new_queries_then_stalest_greens():
    """Round-8 verdict task 1: with the r8 artifact committed, the r9
    window must front-load the round-9 never-green names (the residual
    IVF-PQ, composed IVF×SQ8, and MMR queries), then hold ONLY
    r5/r6-era greens — every r7/r8-fresh name rotates outside.  Guarded
    on the artifact state (newest green round == 8) so the test stays
    valid after later rounds commit newer artifacts."""
    names = list(entry.queries())
    latest = DQ._latest_check_rows()
    green_round = {
        n: rnd for n, (rnd, row) in latest.items() if DQ._is_green(row)
    }
    newest = max(green_round.values(), default=0)
    if newest != 8:
        return  # a later round's artifact landed; generic tests cover it
    window = names[:50]
    nevers = {n for n in window if n not in green_round}
    assert nevers == {
        "ann_ivf_pq_residual",
        "sim_topk_ivf_sq8",
        "mmr_diverse_topk",
        "ann_append_serving",
        "ann_ndcg_eval",
        "pagerank_centrality",
        "pps_sample_docs",
        "ann_rrf_fusion",
        "chi2_domain_shift",
        "salsa_trade_rank",
    }
    assert set(names[: len(nevers)]) == nevers  # never-green sorts first
    assert all(green_round[n] <= 6 for n in window if n in green_round), (
        "an r7/r8-fresh name occupies an r9 slot a staler name needs"
    )


def test_r10_window_rotates_in_the_r6_stale_names():
    """Round-9 verdict task 1: with the r9 artifact committed (newest
    green round == 9), the r10 window must front-load any never-green
    round-10 additions, then the 11 names whose latest green is round 6
    — the stalest cohort — and fill the rest with r7 greens only (every
    r8/r9-fresh name rotates outside).  Guarded on the artifact state so
    the test stays valid after later rounds commit newer artifacts."""
    names = list(entry.queries())
    latest = DQ._latest_check_rows()
    green_round = {
        n: rnd for n, (rnd, row) in latest.items() if DQ._is_green(row)
    }
    newest = max(green_round.values(), default=0)
    if newest != 9:
        return  # a later round's artifact landed; generic tests cover it
    never = [n for n in names if n not in green_round]
    assert set(never) >= {"classifier_auc_eval"}  # the r10 addition
    r6_stale = {
        "sessionize_native",
        "trend_sector_monthly",
        "semi_join_exists",
        "full_outer_reconcile",
        "grouping_sets_mix",
        "month_spine_gapfill",
        "ntile_quartiles",
        "argmax_latest_event",
        "small_group_suppression",
        "bigram_fluency",
        "dsir_importance",
    }
    k = len(never)
    assert set(names[:k]) == set(never)  # never-green sorts first
    assert set(names[k : k + 11]) == r6_stale  # then the stalest cohort
    window = names[:50]
    assert all(
        green_round[n] <= 7 for n in window if n in green_round
    ), "an r8/r9-fresh name occupies an r10 slot a staler name needs"


def test_r12_window_front_loads_the_new_query_then_r8_stale_names():
    """Round 12: with the r11 artifact committed (newest green round ==
    11) and ONE new declared query (neardup_hamming_pairs — the shared
    pigeonhole generator's oracle row, verdict task 4), the r12 window
    must lead with that never-green name, then the 12 r8-era greens —
    the stalest cohort — and fill the rest with r9 greens only (every
    r10/r11-fresh name rotates outside).  Guarded on the artifact state
    so the test stays valid after later rounds."""
    names = list(entry.queries())
    latest = DQ._latest_check_rows()
    green_round = {
        n: rnd for n, (rnd, row) in latest.items() if DQ._is_green(row)
    }
    newest = max(green_round.values(), default=0)
    if newest != 11:
        return  # a later round's artifact landed; generic tests cover it
    never = [n for n in names if n not in green_round]
    assert "neardup_hamming_pairs" in never
    k = len(never)
    assert set(names[:k]) == set(never)  # never-green sorts first
    window = names[:50]
    greens_in_window = [n for n in window if n in green_round]
    assert sum(green_round[n] == 8 for n in greens_in_window) == 12
    assert all(
        green_round[n] <= 9 for n in greens_in_window
    ), "an r10/r11-fresh name occupies an r12 slot a staler name needs"


def test_r11_window_rotates_in_the_r7_stale_names():
    """Round-10 verdict task 1: with the r10 artifact committed (newest
    green round == 10) and zero new declared queries this round, the
    r11 window must lead with the 12 names whose latest green is round
    7 — the stalest cohort — and fill the remaining 38 slots with r8
    greens only (every r9/r10-fresh name rotates outside).  Guarded on
    the artifact state so the test stays valid after later rounds."""
    names = list(entry.queries())
    latest = DQ._latest_check_rows()
    green_round = {
        n: rnd for n, (rnd, row) in latest.items() if DQ._is_green(row)
    }
    newest = max(green_round.values(), default=0)
    if newest != 10:
        return  # a later round's artifact landed; generic tests cover it
    never = [n for n in names if n not in green_round]
    k = len(never)
    assert set(names[:k]) == set(never)  # never-green sorts first
    r7_stale = {
        "ann_ivf_pq_serving",
        "dsir_score_serving",
        "first_last_events",
        "funnel_stage_times",
        "pipeline_e2e_monthly",
        "range_join_windows",
        "rank_ties",
        "rolling_range_frame",
        "scd2_customer_history",
        "scd2_pit_lookup",
        "union_years",
        "unpivot_metrics",
    }
    assert set(names[k : k + 12]) == r7_stale  # then the stalest cohort
    window = names[:50]
    assert all(
        green_round[n] <= 8 for n in window if n in green_round
    ), "an r9/r10-fresh name occupies an r11 slot a staler name needs"


def test_r13_window_front_loads_the_new_queries_then_r9_stale_names():
    """Round 13: with the r12 artifact committed (newest green round ==
    12) and THREE new declared queries (audio_neardup_pairs — the audio
    lane's oracle row, r12 verdict task 3 — plus the BM25 retrieval
    pair bm25_topk / bm25_serving), the r13 window must lead with the
    never-green names, then the 15 r9-era greens — the stalest
    cohort — and fill the remaining slots with r10 greens only
    (every r11/r12-fresh name rotates outside).  Guarded on the
    artifact state so the test stays valid after later rounds."""
    names = list(entry.queries())
    latest = DQ._latest_check_rows()
    green_round = {
        n: rnd for n, (rnd, row) in latest.items() if DQ._is_green(row)
    }
    newest = max(green_round.values(), default=0)
    if newest != 12:
        return  # a later round's artifact landed; generic tests cover it
    never = [n for n in names if n not in green_round]
    assert {
        "audio_neardup_pairs",
        "bm25_topk",
        "bm25_serving",
        "bm25_append_serving",
        "phrase_topk",
        "phrase_serving",
    } <= set(never)
    k = len(never)
    assert set(names[:k]) == set(never)  # never-green sorts first
    r9_stale = {
        "ann_append_serving",
        "ann_ivf_pq_residual",
        "ann_ndcg_eval",
        "ann_rrf_fusion",
        "chi2_domain_shift",
        "decontaminate_report",
        "events_window_agg",
        "json_extract_typed",
        "mmr_diverse_topk",
        "pagerank_centrality",
        "percentile_by_sector",
        "pps_sample_docs",
        "salsa_trade_rank",
        "sim_topk_ivf_sq8",
        "skew_salted_join",
    }
    assert set(names[k : k + 15]) == r9_stale  # then the stalest cohort
    window = names[:50]
    assert all(
        green_round[n] <= 10 for n in window if n in green_round
    ), "an r11/r12-fresh name occupies an r13 slot a staler name needs"


def test_r14_window_front_loads_the_new_queries_then_r10_stale_names():
    """Round 14: with the r13 artifact committed (newest green round ==
    13) and THREE new declared queries (the index-lifecycle closers
    bm25_delete_serving / bm25_compacted_serving plus the RAG-stack
    composition hybrid_retrieval_topk), the window must lead with the
    never-green names, then contain the ENTIRE r10-stale cohort (21
    names, 3 driver rounds old — the r13 verdict's rotation ask).
    Guarded on the artifact state so the test stays valid later."""
    names = list(entry.queries())
    latest = DQ._latest_check_rows()
    green_round = {
        n: rnd for n, (rnd, row) in latest.items() if DQ._is_green(row)
    }
    newest = max(green_round.values(), default=0)
    if newest != 13:
        return  # a later round's artifact landed; generic tests cover it
    never = [n for n in names if n not in green_round]
    assert {
        "bm25_delete_serving",
        "bm25_compacted_serving",
        "hybrid_retrieval_topk",
    } <= set(never)
    k = len(never)
    assert set(names[:k]) == set(never)  # never-green sorts first
    r10_stale = {n for n, rnd in green_round.items() if rnd == 10}
    assert len(r10_stale) == 21
    assert r10_stale <= set(names[:50])  # whole stale cohort in-window
