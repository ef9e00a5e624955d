"""Generic near-duplicate pair operators: the pigeonhole Hamming pair
generator (``dedup.hamming_pairs``), connected components over its pairs
(``dedup.cluster_duplicates``) and the LSH-bucketed embedding cosine
pairs (``similarity.embedding_neardup_pairs``) — the collapse and
hot-bucket-cap guards and their recall bounds."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from proyecto_gasto_publico_etl_per__spark.operators.dedup import (  # noqa: E402
    cluster_duplicates,
    hamming_pairs,
)
from proyecto_gasto_publico_etl_per__spark.operators.similarity import (  # noqa: E402
    embedding_neardup_pairs,
    hyperplane_buckets,
)

#: the pair columns the 64-bit perceptual-hash callers name their output
_IMG = {"out_a": "img_a", "out_b": "img_b"}


def test_hamming_pairs_pigeonhole_and_cluster_pipeline(spark):
    """Pigeonhole pair-gen finds exactly the within-radius pairs (bucket
    equi-join, no cartesian in the plan), identical negative hashes
    pair at distance 0, and connected components over the pairs group
    the near cohort while a far hash keeps its own id."""
    from pyspark.sql import functions as F

    # hashes with known distances: 10/11 differ by 2 bits, 12 by 1 bit
    # from 10, 20/21 identical, 30 far from everything
    rows = [
        (10, 0b1010_1100),
        (11, 0b1010_1111),  # d(10,11)=2
        (12, 0b1010_1101),  # d(10,12)=1, d(11,12)=1
        (20, -(1 << 62) + 5),
        (21, -(1 << 62) + 5),  # identical negative hashes
        (30, (1 << 55) - 1),
    ]
    hashes = spark.createDataFrame(rows, "asset_id long, phash64 long")
    pairs = hamming_pairs(hashes, "asset_id", "phash64", 3, bits=64, **_IMG)
    got = {
        (r["img_a"], r["img_b"]): r["hamming"] for r in pairs.collect()
    }
    assert got == {
        (10, 11): 2,
        (10, 12): 1,
        (11, 12): 1,
        (20, 21): 0,
    }
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

    # components over the pairs, singletons labelled by their own id
    clustered = cluster_duplicates(pairs, id_a="img_a", id_b="img_b")
    out = {
        r["asset_id"]: r["cluster_id"]
        for r in hashes.join(
            clustered, hashes.asset_id == clustered.doc_id, "left"
        )
        .select(
            "asset_id",
            F.coalesce(F.col("cluster_id"), F.col("asset_id")).alias(
                "cluster_id"
            ),
        )
        .collect()
    }
    assert out == {10: 10, 11: 10, 12: 10, 20: 20, 21: 20, 30: 30}


def test_hamming_pairs_degenerate_corpus_stays_linear(spark):
    """VERDICT r12 task 2: a 10k-identical-hash cohort (constant-color /
    letterboxed crawl segment) must NOT go quadratic.  Collapse
    semantics: 9 999 star edges from the min-id rep, not ~50M clique
    pairs — and the near-dup neighbor attaches at rep level only."""
    const_hash = -(1 << 61) + 12345
    rows = [(i, const_hash) for i in range(10_000)]
    rows.append((20_000, const_hash ^ 0b11))  # distance-2 neighbor
    hashes = spark.createDataFrame(rows, "asset_id long, phash64 long")
    pairs = hamming_pairs(hashes, "asset_id", "phash64", 3, bits=64, **_IMG)
    assert pairs.count() == 10_000  # 9 999 star + 1 rep-level cross
    got = pairs.where("hamming > 0").collect()
    assert [(r.img_a, r.img_b, r.hamming) for r in got] == [
        (0, 20_000, 2)
    ]
    star = pairs.where("hamming = 0")
    assert star.where("img_a <> 0").count() == 0  # all attach to the rep
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_hamming_pairs_radius_zero_is_exact_dup_stars(spark):
    """max_hamming=0 (one 64-bit chunk — the mask must not overflow
    BIGINT) degenerates to exact-duplicate grouping: star edges only,
    no cross pairs."""
    rows = [(1, 42), (2, 42), (3, 42), (4, -7), (5, -7), (6, 99)]
    pairs = hamming_pairs(
        spark.createDataFrame(rows, "asset_id long, phash64 long"),
        "asset_id", "phash64", 0, bits=64, **_IMG,
    )
    got = {(r.img_a, r.img_b, r.hamming) for r in pairs.collect()}
    assert got == {(1, 2, 0), (1, 3, 0), (4, 5, 0)}


def test_hamming_pairs_rejects_streaming_input(spark):
    """Batch-only contract: the collapse window and bucket self-join
    have no streaming plan — a stream must go through foreachBatch."""
    stream = spark.readStream.format("rate").load()
    with pytest.raises(ValueError, match="batch-only"):
        hamming_pairs(stream, "value", "value", 3, 64)


def test_hamming_pairs_hot_bucket_cap_logs_and_bounds(spark, caplog):
    """Distinct hashes engineered to share one chunk-0 value collapse
    that bucket; with max_bucket set the bucket is dropped (pairs whose
    only shared chunk was hot are missed — the documented recall
    trade), the drop is logged (INFO on the operator logger — the
    round-13 advice moved the accounting off stdout), and pairs sharing
    another chunk survive."""
    import logging

    caplog.set_level(
        logging.INFO,
        logger="proyecto_gasto_publico_etl_per__spark.operators.dedup",
    )
    # 64-bit / radius 3 → 16-bit chunks.  All rows share chunk 0
    # (=0xBEEF); ids 0/1 also share chunks 1-3 (distance 2 pair);
    # the rest differ everywhere above chunk 0.
    base = 0xBEEF
    rows = [(0, (0xAAAA0000 << 16) | base), (1, (0xAAAA0003 << 16) | base)]
    rows += [(i, ((0x1000 + i * 7) << 16) | base) for i in range(2, 40)]
    hashes = spark.createDataFrame(rows, "asset_id long, phash64 long")
    uncapped = hamming_pairs(
        hashes, "asset_id", "phash64", 3, bits=64, max_bucket=None, **_IMG
    )
    got_all = {(r.img_a, r.img_b) for r in uncapped.collect()}
    assert (0, 1) in got_all
    capped = hamming_pairs(
        hashes, "asset_id", "phash64", 3, bits=64,
        max_bucket=10, log_capped=True, **_IMG,
    )
    got_capped = {(r.img_a, r.img_b) for r in capped.collect()}
    out = caplog.text
    # hot buckets: (0, 0xBEEF) size 40, plus the shared-zero high
    # chunks (2, 0) size 38 and (3, 0) size 40
    assert "capped 3 hot bucket(s) over 10 distinct hashes" in out
    assert "largest 40" in out
    # the (0,1) pair shares chunks 1-3 too, so it survives the cap
    assert (0, 1) in got_capped
    # nothing else was within radius anyway; capping added no pairs
    assert got_capped <= got_all


def _spread(g: int) -> int:
    """Group base with non-overlapping shifted copies: cross-group
    distance = 3·bit_count(g1^g2)."""
    return (g << 40) ^ (g << 20) ^ (g << 4)


def _cc_min_label(ids, pairs) -> dict:
    """Union-find connected components labeled by min id."""
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in ids}


def test_collapse_pairs_preserve_components_property(spark):
    """The r12 collapse contract, property-checked: over random corpora
    with identical / near / far hash cohorts, (1) the Spark pair set
    equals a pure-python mirror of the collapse semantics exactly, and
    (2) connected components over the collapsed pairs equal components
    over the BRUTE-FORCE full pair set — the invariant that makes star
    edges a safe replacement for cliques."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    masks = st.sampled_from([0, 0, 0, 1, 3, 7, 255, 1 << 20, (1 << 20) | 1])
    hv = st.tuples(st.integers(0, 5), masks).map(
        lambda t: _spread(t[0]) ^ t[1]
    )

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(hvs=st.lists(hv, min_size=1, max_size=25))
    def run(hvs):
        ids = list(range(len(hvs)))
        got = {
            (r.img_a, r.img_b, r.hamming)
            for r in hamming_pairs(
                spark.createDataFrame(
                    list(zip(ids, hvs)), "asset_id long, phash64 long"
                ),
                "asset_id", "phash64", 3, bits=64, **_IMG,
            ).collect()
        }
        # python mirror of the collapse contract
        groups: dict = {}
        for i, h in zip(ids, hvs):
            groups.setdefault(h, []).append(i)
        star = {
            (min(g), m, 0) for g in groups.values() for m in g if m != min(g)
        }
        reps = {h: min(g) for h, g in groups.items()}
        cross = set()
        for ha, ra in reps.items():
            for hb, rb in reps.items():
                d = bin((ha ^ hb) & ((1 << 64) - 1)).count("1")
                if ra < rb and 1 <= d <= 3:
                    cross.add((ra, rb, d))
        assert got == star | cross
        # component identity vs brute-force full-pair semantics
        brute = [
            (a, b)
            for ai, a in enumerate(ids)
            for b in ids[ai + 1 :]
            if bin((hvs[a] ^ hvs[b]) & ((1 << 64) - 1)).count("1") <= 3
        ]
        assert _cc_min_label(ids, [(a, b) for a, b, _ in got]) == \
            _cc_min_label(ids, brute)

    run()


def test_hamming_cap_recall_bound_property(spark):
    """The r12 hot-bucket cap, property-checked the way r12 pinned
    ``video_pairs`` (round-13 verdict task 4): over random corpora with
    identical / near / shared-chunk cohorts and small ``max_bucket``
    values that actually fire, (1) the Spark pair set equals a
    pure-python mirror of the documented algorithm — buckets counted
    over DISTINCT hash values, dropped past the cap, pairs kept iff
    SOME shared chunk survived — both with and without the cap, and
    (2) the documented recall bound holds: a within-radius rep pair is
    missed ONLY if every chunk it shares was hot (dedup.hamming_pairs
    docstring), and capping never invents pairs."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    M64 = (1 << 64) - 1

    def chunk(h: int, i: int) -> int:
        return ((h & M64) >> (16 * i)) & 0xFFFF

    # _spread groups 0-5 share chunk 3 (= 0): a natural hot bucket.
    # The sign mask exercises negative int64 hashes (perceptual-hash
    # territory, where shiftrightunsigned vs arithmetic shift matters).
    masks = st.sampled_from(
        [0, 0, 0, 1, 3, 7, 255, 1 << 20, (1 << 20) | 1, 0xFFFF << 48]
    )
    hv = st.tuples(st.integers(0, 5), masks).map(
        lambda t: _spread(t[0]) ^ t[1]
    )

    def ref(hvs, max_bucket):
        """Pure-python mirror: collapse + bucket cap + verify."""
        groups: dict = {}
        for i, h in enumerate(hvs):
            groups.setdefault(h, []).append(i)
        star = {
            (min(g), m, 0) for g in groups.values() for m in g if m != min(g)
        }
        reps = {h: min(g) for h, g in groups.items()}
        occ: dict = {}
        for h in reps:
            for i in range(4):
                k = (i, chunk(h, i))
                occ[k] = occ.get(k, 0) + 1
        hot = {
            k
            for k, c in occ.items()
            if max_bucket is not None and c > max_bucket
        }
        cross = set()
        for ha, ra in reps.items():
            for hb, rb in reps.items():
                if ra >= rb:
                    continue
                d = bin((ha ^ hb) & M64).count("1")
                shared = [i for i in range(4) if chunk(ha, i) == chunk(hb, i)]
                if 1 <= d <= 3 and any(
                    (i, chunk(ha, i)) not in hot for i in shared
                ):
                    cross.add((ra, rb, d))
        return star | cross

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        hvs=st.lists(hv, min_size=1, max_size=25),
        cap=st.sampled_from([1, 2, 3]),
    )
    def run(hvs, cap):
        signed = [h - (1 << 64) if h >= (1 << 63) else h for h in hvs]
        frame = spark.createDataFrame(
            list(enumerate(signed)), "asset_id long, phash64 long"
        )

        def pairs(max_bucket):
            return {
                (r.doc_a, r.doc_b, r.hamming)
                for r in hamming_pairs(
                    frame, "asset_id", "phash64", 3, 64,
                    max_bucket=max_bucket,
                ).collect()
            }

        exact, capped = pairs(None), pairs(cap)
        assert exact == ref(hvs, None)
        assert capped == ref(hvs, cap)
        # the documented recall bound, stated directly: capping only
        # ever REMOVES pairs, and a removed pair had every shared
        # chunk in a hot bucket
        assert capped <= exact
        occ: dict = {}
        for h in {hh & M64 for hh in hvs}:
            for i in range(4):
                k = (i, chunk(h, i))
                occ[k] = occ.get(k, 0) + 1
        rep_hv = {}
        for i, h in enumerate(hvs):
            rep_hv.setdefault(h, i)
        by_rep = {i: h for h, i in rep_hv.items()}
        for ra, rb, d in exact - capped:
            assert d >= 1  # star edges are never capped
            shared = [
                i
                for i in range(4)
                if chunk(by_rep[ra], i) == chunk(by_rep[rb], i)
            ]
            assert shared and all(
                occ[(i, chunk(by_rep[ra], i))] > cap for i in shared
            )

    run()


def test_embedding_neardup_hot_bucket_cap(spark, caplog):
    """The r12 LSH cap: near-identical (but not bit-equal) vectors all
    land in one hyperplane bucket — the low-rank hazard
    hyperplane_buckets documents.  Past max_bucket the bucket drops
    from candidate generation with a logged accounting (bounded recall
    trade — INFO on the operator logger since round 13); None keeps the
    exact test-scale semantics the declared oracles pin."""
    import logging

    caplog.set_level(
        logging.INFO,
        logger="proyecto_gasto_publico_etl_per__spark.operators.similarity",
    )
    # one direction, tiny per-row jitter: same sign pattern under any
    # hyperplane, cosine ~1
    rows = [
        (i, [1.0 + i * 1e-6, 2.0, -1.0, 0.5]) for i in range(30)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    uncapped = embedding_neardup_pairs(df, threshold=0.9, n_planes=4)
    assert uncapped.count() == 30 * 29 // 2
    capped = embedding_neardup_pairs(
        df, threshold=0.9, n_planes=4, max_bucket=10, log_capped=True
    )
    assert capped.count() == 0  # the single hot bucket was dropped
    out = caplog.text
    assert "capped 1 hot LSH bucket(s) over 10 vectors" in out
    assert "largest 30" in out


def test_embedding_lsh_cap_recall_bound_property(spark):
    """The LSH cap's recall bound, property-pinned the way round 13
    pinned ``hamming_pairs`` (above): over corpora
    mixing several direction cohorts so the cap fires PARTIALLY — some
    buckets hot, some not — (1) the uncapped pair set is exactly the
    same-direction pairs (cross-direction candidates sharing a sign
    pattern are rejected by the exact-cosine verify), (2) capping only
    removes pairs, (3) the capped set is exactly the uncapped pairs
    whose one shared bucket stayed at or under ``max_bucket`` — a pair
    is missed ONLY if its single shared bucket was hot, the
    embedding_neardup_pairs docstring's bound stated directly.

    Vectors are ±one-hot with per-coordinate jitter ≤ 1e-3, so the
    hyperplane sign pattern cannot flip (|⟨v, plane⟩| ≥ 1 − 3e-3) and
    every cosine sits far from the 0.9 threshold's quantization grid
    (same direction ≈ 1, cross direction ≈ 0 or −1)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    member = st.tuples(
        st.integers(0, 7),  # direction: ±e_d over 4 dims
        st.integers(0, 999),  # jitter seed
    )

    @settings(
        max_examples=6,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        members=st.lists(member, min_size=2, max_size=24),
        cap=st.sampled_from([1, 2, 4]),
    )
    def run(members, cap):
        rows = []
        for i, (direction, seed) in enumerate(members):
            d, sign = direction % 4, 1.0 if direction < 4 else -1.0
            vec = [((seed * (j + 1)) % 7) * 1e-4 for j in range(4)]
            vec[d] += sign
            rows.append((i, direction, vec))
        df = spark.createDataFrame(
            [(i, v) for i, _, v in rows],
            "vec_id long, embedding array<double>",
        )

        def pairs(max_bucket):
            return {
                (r.id_a, r.id_b)
                for r in embedding_neardup_pairs(
                    df, threshold=0.9, n_planes=4, max_bucket=max_bucket
                ).collect()
            }

        uncapped, capped = pairs(None), pairs(cap)
        same_direction = {
            (a, b)
            for a in range(len(rows))
            for b in range(a + 1, len(rows))
            if rows[a][1] == rows[b][1]
        }
        assert uncapped == same_direction
        # bucket ground truth from the operator's own bucketing pass
        # (its determinism is pinned elsewhere); the cap counts FULL
        # bucket occupancy, so an unrelated cohort sharing a sign
        # pattern can push a small cohort's bucket over the cap
        bucket_of = {
            r.doc: r.bucket
            for r in hyperplane_buckets(
                df, "vec_id", "embedding", n_planes=4
            ).collect()
        }
        size = {}
        for b in bucket_of.values():
            size[b] = size.get(b, 0) + 1
        assert capped <= uncapped
        assert capped == {
            (a, b) for a, b in uncapped if size[bucket_of[a]] <= cap
        }
        for a, b in uncapped - capped:
            assert bucket_of[a] == bucket_of[b]
            assert size[bucket_of[a]] > cap

    run()



def test_band_signatures_partition_invariant(spark):
    """MinHash band signatures must not depend on physical partitioning
    (min is associative; the band md5 is over a sorted slice) — the
    property that makes the streaming bucket table consistent with any
    batch recomputation."""
    from proyecto_gasto_publico_etl_per__spark.operators.dedup import (
        band_signatures,
    )

    rows = [(i, f"doc {i} body text with shared words {i%3}") for i in range(20)]
    df1 = spark.createDataFrame(rows, "doc_id LONG, text STRING").repartition(1)
    df8 = spark.createDataFrame(rows, "doc_id LONG, text STRING").repartition(8)
    sig = lambda df: {  # noqa: E731
        (r.doc, r.band): r.band_sig for r in band_signatures(df).collect()
    }
    assert sig(df1) == sig(df8)
