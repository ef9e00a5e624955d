"""Tests for the training-data-pipeline extensions: dedup, similarity,
text stats, multimodal plumbing."""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import functions as F

from proyecto_gasto_publico_etl_per__spark.operators import (
    dedup,
    multimodal,
    similarity,
    textstats,
)

from conftest import SF_SMOKE
from zone_lanes import LANES


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),  # near-dup of 1
            (3, "completely different content about spark engines"),
            (4, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
            (5, ""),
            (6, None),
        ],
        "doc_id INT, text STRING",
    )


def test_exact_dedup(docs):
    groups = dedup.exact_dedup_groups(docs).collect()
    by_keep = {r.keep_id: r.n_dups for r in groups}
    assert by_keep[1] == 2  # docs 1 and 4 collapse
    assert by_keep[5] == 2  # "" and NULL normalize identically (ref contract)
    assert by_keep[2] == 1 and by_keep[3] == 1


def test_ngram_jaccard_finds_neardup(docs):
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.4).collect()
    keyed = {(r.doc_a, r.doc_b): r.jaccard for r in pairs}
    assert keyed[(1, 4)] == 1.0  # identical
    assert 0.4 <= keyed[(1, 2)] < 1.0  # one-word change
    assert (1, 3) not in keyed and (2, 3) not in keyed


def test_minhash_pipeline_recalls_strong_pairs(docs):
    pairs = dedup.minhash_dedup_pairs(docs, threshold=0.4).collect()
    found = {(r.doc_a, r.doc_b) for r in pairs}
    assert (1, 4) in found  # identical docs always share every band


def test_minhash_verification_is_candidate_scoped(docs):
    """The LSH pipeline must never run the corpus-wide posting self-join:
    no physical join keyed on a shingle column — verification joins on
    doc ids only (the property that makes LSH pruning worth anything)."""
    plan = (
        dedup.minhash_dedup_pairs(docs, threshold=0.4)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    import re

    joins_on_shingle = re.findall(r"Join[^\n]*shingle", plan)
    assert not joins_on_shingle, joins_on_shingle


def test_ngram_capped_subset_with_exact_values(docs):
    """The DF-capped path returns a subset of the exact pair list with
    identical jaccard values (candidates shrink, verification is exact)."""
    exact = {
        (r.doc_a, r.doc_b): (r.n_common, r.jaccard)
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.4).collect()
    }
    capped = {
        (r.doc_a, r.doc_b): (r.n_common, r.jaccard)
        for r in dedup.ngram_jaccard_pairs(
            docs, threshold=0.4, max_df=2
        ).collect()
    }
    assert set(capped) <= set(exact)
    for k, v in capped.items():
        assert exact[k] == v
    # a generous cap changes nothing
    uncapped_equiv = {
        (r.doc_a, r.doc_b): (r.n_common, r.jaccard)
        for r in dedup.ngram_jaccard_pairs(
            docs, threshold=0.4, max_df=10_000
        ).collect()
    }
    assert uncapped_equiv == exact


def test_simhash_pigeonhole_candidates_complete(spark):
    """The pigeonhole guarantee: EVERY pair within Hamming ≤ max_hamming
    must surface (4 chunks, ≤3 differing bits → some chunk is identical
    → the bucket join finds it).  Verified against brute-force Hamming
    over all simhash pairs on a randomized corpus."""
    import random

    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(30)]
    rows = []
    base = [rng.choice(vocab) for _ in range(40)]
    for i in range(40):
        doc = list(base)
        # perturb a few tokens so some pairs are near, some far
        for _ in range(rng.randrange(0, 8)):
            doc[rng.randrange(len(doc))] = rng.choice(vocab)
        rows.append((i, " ".join(doc)))
    df = spark.createDataFrame(rows, "doc_id INT, text STRING")

    hashes = {
        r.doc: r.simhash for r in dedup.simhash(df).collect()
    }
    # brute-force reference under the r12 collapse contract: identical
    # hashes → star edges from the min-id rep; cross pairs at rep level
    groups: dict = {}
    for doc, h in hashes.items():
        groups.setdefault(h, []).append(doc)
    star = {
        (min(ids), d) for ids in groups.values() for d in ids
        if d != min(ids)
    }
    reps = {h: min(ids) for h, ids in groups.items()}
    cross = {
        tuple(sorted((reps[ha], reps[hb])))
        for ha in reps
        for hb in reps
        if ha < hb and bin(ha ^ hb).count("1") <= 3
    }
    expect = star | cross
    got = {
        (r.doc_a, r.doc_b)
        for r in dedup.simhash_pairs(df, max_hamming=3).collect()
    }
    assert got == expect  # complete (pigeonhole) AND no false positives
    assert expect  # the fixture actually exercises near pairs


def test_simhash_identical_docs_distance_zero(docs):
    pairs = dedup.simhash_pairs(docs, max_hamming=3).collect()
    keyed = {(r.doc_a, r.doc_b): r.hamming for r in pairs}
    assert keyed[(1, 4)] == 0


def test_lang_id_markers(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog is of the house to be"),
            (2, "el perro de la casa que los gatos"),
            (3, "der hund und die katze das nicht"),
            (4, "le chien et les chats des maisons une"),
        ],
        "doc_id INT, text STRING",
    )
    out = {r.doc_id: r.lang_pred for r in textstats.lang_id(df).collect()}
    assert out == {1: "en", 2: "es", 3: "de", 4: "fr"}


def test_quality_stats_flags(spark):
    df = spark.createDataFrame(
        [
            (1, "a normal sentence with several reasonable words here"),
            (2, "!!! ??? ... ;;; :::"),
            (3, "ab"),
        ],
        "doc_id INT, text STRING",
    )
    out = {r.doc_id: r for r in textstats.quality_stats(df).collect()}
    assert out[1].quality_ok is True
    assert out[2].quality_ok is False  # punctuation soup
    assert out[3].quality_ok is False  # too short


def test_token_counts(spark):
    df = spark.createDataFrame(
        [(1, "one two  three"), (2, ""), (3, None), (4, "hello, world!")],
        "doc_id INT, text STRING",
    )
    rows = {
        r.doc_id: r
        for r in df.select(
            "doc_id",
            textstats.token_count("text").alias("n"),
            textstats.bpe_ish_token_count("text").alias("s"),
        ).collect()
    }
    assert rows[1].n == 3 and rows[2].n == 0 and rows[3].n == 0
    # "hello, world!" -> hell+o+, + worl+d+! = 6 BPE-ish pieces
    assert rows[4].s == 6


def test_fingerprint_robustness(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox ran far away today"),
         (2, "the quick brown fox ran far away todayX")],
        "doc_id INT, text STRING",
    )
    rows = {
        r.doc_id: r
        for r in df.select(
            "doc_id",
            textstats.fingerprint("text").alias("fp"),
            textstats.shingle_fingerprint("text").alias("sfp"),
        ).collect()
    }
    assert rows[1].fp != rows[2].fp  # exact hash: any edit changes it
    assert rows[1].sfp == rows[2].sfp  # min-shingle survives a suffix edit


def test_brute_force_topk_selfcheck(spark):
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 3)
    out = similarity.brute_force_topk(emb, queries, k=4).collect()
    assert len(out) == 12
    for r in out:
        assert r.query_id != r.neighbor_id
        assert 1 <= r.rk <= 4
    # scores are sorted within each query
    from collections import defaultdict

    g = defaultdict(list)
    for r in out:
        g[r.query_id].append((r.rk, r.score_q3))
    for seq in g.values():
        seq.sort()
        scores = [s for _, s in seq]
        assert scores == sorted(scores, reverse=True)


def test_lsh_topk_subset_of_bucket(spark):
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 3)
    brute = similarity.brute_force_topk(emb, queries, k=5).collect()
    lsh = similarity.lsh_topk(emb, queries, k=5).collect()
    # approximate results score no better than exact ones per query
    best_brute = {}
    for r in brute:
        if r.rk == 1:
            best_brute[r.query_id] = r.score_q3
    for r in lsh:
        if r.rk == 1:
            assert r.score_q3 <= best_brute[r.query_id]


def test_ivf_topk_valid_and_bounded_by_brute(spark):
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 3)
    brute = similarity.brute_force_topk(emb, queries, k=5).collect()
    ivf = similarity.ivf_topk(emb, queries, k=5, n_centroids=8, nprobe=3).collect()
    for r in ivf:
        assert r.query_id != r.neighbor_id
        assert 1 <= r.rk <= 5
    # IVF's best hit can't beat the exact best, and a wide probe over a
    # small corpus should recall a good chunk of the true top-5
    best_brute = {r.query_id: r.score_q3 for r in brute if r.rk == 1}
    for r in ivf:
        if r.rk == 1:
            assert r.score_q3 <= best_brute[r.query_id]
    true_pairs = {(r.query_id, r.neighbor_id) for r in brute}
    got_pairs = {(r.query_id, r.neighbor_id) for r in ivf}
    assert len(got_pairs & true_pairs) >= len(true_pairs) // 3


def test_ivf_centroid_seed_is_hash_sample(spark):
    """Centroid init must be the documented md5 hash-sample, NOT
    first-N-by-id: ids correlate with content in ingest order, and a
    low-id seed set also used to overlap the fixture probe sets
    (queries vec_id<10 WERE centroids), inflating measured recall.
    The hash rule keeps selection deterministic and oracle-mirrorable."""
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    cents = similarity.ivf_centroids(emb, n_centroids=8)
    ids = [int(r.vec_id) for r in cents]
    # decorrelated from ingest order: not simply the lowest ids
    n_ids = emb.count()
    assert sorted(ids) != list(range(8))
    # reproduces the md5-bucket ordering rule exactly
    import hashlib

    def bucket(i):
        return int(hashlib.md5(f"ivf:{i}".encode()).hexdigest()[:8], 16) % 10000

    expected = sorted(range(n_ids), key=lambda i: (bucket(i), i))[:8]
    assert ids == expected


def test_ivf_assignment_is_total_and_single(spark):
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    cents = similarity.ivf_centroids(emb, n_centroids=8)
    lit = similarity.centroid_sql([(r.vec_id, r.embedding) for r in cents])
    assigned = similarity.ivf_assign(emb, lit, "embedding")
    n = emb.count()
    assert assigned.count() == n  # map-only: no row lost or duplicated
    assert assigned.filter(F.col("cid").isNull()).count() == 0
    cids = {r.cid for r in assigned.select("cid").distinct().collect()}
    assert cids <= {int(r.vec_id) for r in cents}
    # a centroid vector is its own nearest centroid
    cent_ids = [int(r.vec_id) for r in cents]
    self_rows = {
        r.vec_id: r.cid
        for r in assigned.filter(F.col("vec_id").isin(cent_ids)).collect()
    }
    assert all(v == c for v, c in self_rows.items())


def test_multimodal_plumbing(spark):
    docs = spark.createDataFrame(
        [(1, "hello", "en", "s", 5), (2, "world!", "en", "s", 6)],
        "doc_id INT, text STRING, lang STRING, source STRING, n_chars INT",
    )
    assets = multimodal.documents_as_assets(docs)
    assert [f.name for f in assets.schema.fields] == [
        "asset_id",
        "media_type",
        "payload",
        "meta",
    ]
    feats = {r.asset_id: r for r in multimodal.extract_features(assets).collect()}
    import hashlib

    assert feats[1].n_bytes == 5
    assert feats[1].byte_md5 == hashlib.md5(b"hello").hexdigest()
    assert feats[1].features == [
        hashlib.md5(b"hello").digest()[i] / 255.0 for i in range(4)
    ]


def test_cluster_duplicates_components(spark):
    from proyecto_gasto_publico_etl_per__spark.operators.dedup import (
        cluster_duplicates,
    )

    # two components: a chain {1-2, 2-3, 3-4} and a pair {10-11}
    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (11, 10)], "doc_a BIGINT, doc_b BIGINT"
    )
    got = {
        r.doc_id: r.cluster_id for r in cluster_duplicates(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_redact_pii(spark):
    df = spark.createDataFrame(
        [
            (1, "contact me at john.doe+spam@example.co.uk thanks"),
            (2, "call 5551234567 or 123456 (short stays)"),
            (3, "no pii here"),
        ],
        "doc_id INT, text STRING",
    )
    out = {
        r.doc_id: r.red
        for r in df.select(
            "doc_id", textstats.redact_pii("text").alias("red")
        ).collect()
    }
    assert out[1] == "contact me at <EMAIL> thanks"
    assert out[2] == "call <NUM> or 123456 (short stays)"  # 6 digits kept
    assert out[3] == "no pii here"


def test_cluster_duplicates_matches_union_find_on_random_graphs(spark):
    """Property: the distributed label propagation equals a driver-side
    union-find on randomized pair graphs (seeded for reproducibility)."""
    import random

    from proyecto_gasto_publico_etl_per__spark.operators.dedup import (
        cluster_duplicates,
    )

    rng = random.Random(42)
    for trial in range(3):
        n = 40
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(25)
        ]
        edges = [(a, b) for a, b in edges if a != b]

        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        nodes = {v for e in edges for v in e}
        expected = {v: find(v) for v in nodes}

        pairs = spark.createDataFrame(edges, "doc_a BIGINT, doc_b BIGINT")
        got = {
            r.doc_id: r.cluster_id
            for r in cluster_duplicates(pairs).collect()
        }
        assert got == expected, f"trial {trial}"


def test_hash_sample_deterministic_and_stable_under_repartition(spark):
    from proyecto_gasto_publico_etl_per__spark.operators import sampling

    docs = spark.range(0, 2000).select(F.col("id").alias("doc_id"))
    a = {r.doc_id for r in sampling.hash_sample(docs, "doc_id", 0.2).collect()}
    b = {
        r.doc_id
        for r in sampling.hash_sample(
            docs.repartition(13), "doc_id", 0.2
        ).collect()
    }
    assert a == b  # membership is a pure function of the key
    assert 0.15 < len(a) / 2000 < 0.25  # ~20%
    # different salt → a different (but equally stable) sample
    c = {
        r.doc_id
        for r in sampling.hash_sample(docs, "doc_id", 0.2, salt="v2").collect()
    }
    assert c != a


def test_stratified_hash_sample_quotas(spark):
    from proyecto_gasto_publico_etl_per__spark.operators import sampling

    rows = [(i, "en" if i % 2 else "rare") for i in range(2000)]
    docs = spark.createDataFrame(rows, "doc_id LONG, lang STRING")
    out = sampling.stratified_hash_sample(
        docs, "doc_id", "lang", {"rare": 1.0, "en": 0.1}
    ).collect()
    by_lang = {"en": 0, "rare": 0}
    for r in out:
        by_lang[r.lang] += 1
    assert by_lang["rare"] == 1000  # keep-all stratum intact
    assert 50 < by_lang["en"] < 200  # ~10% of 1000


def test_expression_heavy_queries_fully_codegen(spark):
    """Whole-stage codegen must COMPILE for the expression-heaviest
    declared queries — a nested/duplicated expression tree that exceeds
    the JVM method limit silently drops Spark to interpreted execution
    (the lang_pred argmax regression)."""
    from proyecto_gasto_publico_etl_per__spark.plans.driver_queries import (
        all_queries,
    )

    reg = all_queries()
    saved = {
        k: spark.conf.get(k, None)
        for k in ("spark.sql.codegen.fallback", "spark.sql.codegen.factoryMode")
    }
    spark.conf.set("spark.sql.codegen.fallback", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try:
        for name in ("lang_id", "quality_stats", "corpus_select",
                      "dedup_simhash", "sim_topk_ivf"):
            reg[name](spark, SF_SMOKE).collect()  # throws if codegen fails
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_chunk_documents_windows(spark):
    from proyecto_gasto_publico_etl_per__spark.operators import chunking

    docs = spark.createDataFrame(
        [
            (1, " ".join(f"w{i}" for i in range(10))),  # 10 toks: 2 chunks
            (2, "short doc"),                            # < size: 1 chunk
            (3, ""),                                     # empty: none
            (4, None),                                   # null: none
        ],
        "doc_id INT, text STRING",
    )
    out = chunking.chunk_documents(docs, size=6, stride=4).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc, []).append(r)
    assert 3 not in by_doc and 4 not in by_doc
    c1 = sorted(by_doc[1], key=lambda r: r.chunk_id)
    assert [r.chunk_id for r in c1] == [0, 1]
    assert c1[0].chunk == "w0 w1 w2 w3 w4 w5" and c1[0].n_tokens == 6
    # second window starts at token 5 (stride 4) and clamps at the tail
    assert c1[1].chunk == "w4 w5 w6 w7 w8 w9" and c1[1].n_tokens == 6
    assert by_doc[2][0].chunk == "short doc" and by_doc[2][0].n_tokens == 2


def test_repetition_ratio_orders_docs(spark):
    from proyecto_gasto_publico_etl_per__spark.operators import textstats

    docs = spark.createDataFrame(
        [
            (1, "spam spam spam spam spam"),   # 4 bigrams, 1 distinct
            (2, "all words here are unique"),  # 4 bigrams, 4 distinct
            (3, "one"),                        # no bigrams
        ],
        "doc_id INT, text STRING",
    )
    rows = {r.doc: r for r in textstats.repetition_stats(docs).collect()}
    assert rows[1].repetition == 0.75
    assert rows[2].repetition == 0.0
    assert rows[3].repetition == 0.0 and rows[3].n_bigrams == 0


def test_knn_join_is_bucket_scoped(spark):
    """The kNN self-join must join on the LSH bucket, never cross-join
    the corpus with itself."""
    from proyecto_gasto_publico_etl_per__spark.operators import similarity
    from conftest import SF_SMOKE
    from proyecto_gasto_publico_etl_per__spark.sources.tables import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    out = similarity.knn_join_lsh(emb, k=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    rows = out.collect()
    per_query = {}
    for r in rows:
        per_query.setdefault(r.query_id, []).append(r.rk)
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in per_query.values())
    assert all(len(v) <= 2 for v in per_query.values())


def test_cluster_split_never_straddles_a_cluster(spark):
    """Leakage invariant: every doc in one near-dup cluster gets the
    SAME split; unpaired docs still split ~98/1/1 by their own id."""
    from proyecto_gasto_publico_etl_per__spark.operators import sampling

    # 3 clusters of near-identical docs (distinct base text per cluster,
    # so Jaccard separates them) + 200 unique docs
    bases = [
        "the quick brown fox jumps over the lazy dog tonight",
        "spark engines shuffle data between executors very efficiently",
        "public spending records aggregate by sector and year monthly",
    ]
    rows = []
    for c, base in enumerate(bases):
        for j in range(4):
            rows.append((c * 10 + j, base + f" copy {j}"))
    rows += [(1000 + i, f"unique document number {i} " * 3) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")

    labels = dedup.cluster_duplicates(
        dedup.ngram_jaccard_pairs(df, threshold=0.4)
    )
    out = sampling.cluster_split(df, labels).collect()
    by_key = {}
    for r in out:
        by_key.setdefault(r.split_key, set()).add(r.split)
    # every split_key (cluster or singleton) maps to exactly one split
    assert all(len(s) == 1 for s in by_key.values())
    # the three clusters collapsed to three keys covering 12 docs
    clustered = [r for r in out if r.doc_id < 100]
    assert len(clustered) == 12
    assert len({r.split_key for r in clustered}) == 3
    for key, grp in (
        (k, [r for r in clustered if r.split_key == k])
        for k in {r.split_key for r in clustered}
    ):
        assert len({r.split for r in grp}) == 1


def test_ivf_pq_search_composes(spark):
    """IVF→PQ→exact-rerank serving path: returned scores are EXACT
    cosine (the rerank contract), ranks are consistent, and recall@k vs
    brute force clears a floor on the sf0.001 embeddings."""
    from proyecto_gasto_publico_etl_per__spark.operators import similarity
    from proyecto_gasto_publico_etl_per__spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    queries = emb.orderBy("vec_id").limit(5)
    got = similarity.ivf_pq_search(
        emb, queries, k=5, n_centroids=8, nprobe=4, m=16, n_codes=16,
        rerank=8,
    )
    rows = got.collect()
    assert rows, "no results"
    # per query: exactly k (or fewer) rows, ranks 1..n, scores non-increasing
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r.rk)
        assert [r.rk for r in rs] == list(range(1, len(rs) + 1))
        scores = [r.score_q3 for r in rs]
        assert scores == sorted(scores, reverse=True)
    # scores are exact cosine: cross-check against brute force scores
    brute = similarity.brute_force_topk(emb, queries, k=50)
    brute_scores = {
        (r.query_id, r.neighbor_id): r.score_q3 for r in brute.collect()
    }
    matched = [
        (r.query_id, r.neighbor_id)
        for r in rows
        if (r.query_id, r.neighbor_id) in brute_scores
    ]
    assert matched, "no overlap with brute-force top-50 at all"
    for r in rows:
        key = (r.query_id, r.neighbor_id)
        if key in brute_scores:
            assert r.score_q3 == brute_scores[key], key
    # recall@5 floor vs brute force
    brute5 = {
        (r.query_id, r.neighbor_id)
        for r in brute.collect()
        if r.rk <= 5
    }
    got_pairs = {(r.query_id, r.neighbor_id) for r in rows}
    recall = len(got_pairs & brute5) / max(1, len(brute5))
    assert recall >= 0.5, f"recall@5 {recall:.2f} below floor"


def test_ivf_pq_index_path_matches_inline(spark, tmp_path):
    """The index-vs-serve split: searching through a persisted
    (assigned, codes) index — parquet round-trip included — returns
    EXACTLY the inline build's rows (round 7; the contract that lets a
    100 TB deployment build the index once and serve from it)."""
    from proyecto_gasto_publico_etl_per__spark.operators import similarity
    from proyecto_gasto_publico_etl_per__spark.sources.tables import load_table

    import pytest

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    queries = emb.orderBy("vec_id").limit(5)
    # explicit artifacts — the contract: an index is only valid with
    # the codebook/centroids it was built with (round-8 advice guard)
    cents = similarity.ivf_centroids(emb, "vec_id", "embedding", 8)
    pairs = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in cents
    ]
    cb = similarity.sampled_codebook(emb, "vec_id", "embedding", 4, 16)
    kw = dict(
        k=5, nprobe=4, m=4, n_codes=16, rerank=8,
        codebook=cb, centroids=pairs,
    )
    inline = {
        (r.query_id, r.neighbor_id, r.score_q3, r.rk)
        for r in similarity.ivf_pq_search(emb, queries, **kw).collect()
    }
    assigned, codes = similarity.ivf_pq_build_index(
        emb, m=4, n_codes=16, codebook=cb, centroids=pairs
    )
    assigned.write.parquet(str(tmp_path / "assigned"))
    codes.write.parquet(str(tmp_path / "codes"))
    index = (
        spark.read.parquet(str(tmp_path / "assigned")),
        spark.read.parquet(str(tmp_path / "codes")),
    )
    served = {
        (r.query_id, r.neighbor_id, r.score_q3, r.rk)
        for r in similarity.ivf_pq_search(
            emb, queries, index=index, **kw
        ).collect()
    }
    assert served == inline
    # index without its build artifacts is rejected, not silently
    # re-derived (corpus drift would mismatch the persisted codes)
    with pytest.raises(ValueError, match="codebook"):
        similarity.ivf_pq_search(emb, queries, k=5, index=index)


def test_nonfinite_model_values_rejected_at_source(spark):
    """A NaN/Inf in a codebook or centroid (degenerate training data)
    raises a descriptive ValueError instead of rendering as 'nanD' in
    the literal SQL and dying in the parser far from the cause."""
    import pytest

    from proyecto_gasto_publico_etl_per__spark.operators import similarity

    with pytest.raises(ValueError, match="non-finite"):
        similarity.centroid_sql([(0, [1.0, float("nan")])])
    bad_cb = [[[1.0, float("inf")], [0.0, 0.0]]]
    docs = spark.createDataFrame(
        [(1, [1.0, 2.0])], "vec_id INT, embedding ARRAY<DOUBLE>"
    )
    with pytest.raises(ValueError, match="non-finite"):
        similarity.pq_encode(docs, codebook=bad_cb).collect()


def test_pq_train_codebook_improves_quantization(spark):
    """Lloyd-refined codebook must reduce total quantization distortion
    vs the sampled init (the monotone-improvement property of k-means),
    and shapes must hold."""
    from proyecto_gasto_publico_etl_per__spark.operators import similarity
    from proyecto_gasto_publico_etl_per__spark.sources.tables import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    m, nc = 8, 8
    sampled = similarity.sampled_codebook(emb, "vec_id", "embedding", m, nc)
    trained = similarity.pq_train_codebook(
        emb, m=m, n_codes=nc, n_iters=2
    )
    assert len(trained) == m and all(len(s) == nc for s in trained)
    sub = len(sampled[0][0])
    assert all(len(cw) == sub for s in trained for cw in s)

    def distortion(cb):
        codes = similarity.pq_encode(
            emb, m=m, n_codes=nc, codebook=cb
        )
        return codes.agg(F.sum("dist_q6")).collect()[0][0]

    assert distortion(trained) < distortion(sampled)


def test_pq_codebook_persistence(spark, tmp_path):
    from proyecto_gasto_publico_etl_per__spark.operators import (
        model_store,
        similarity,
    )
    from proyecto_gasto_publico_etl_per__spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    cb = similarity.sampled_codebook(emb, "vec_id", "embedding", 4, 4)
    p = str(tmp_path / "pq")
    model_store.save_pq_codebook(spark, p, cb)
    assert model_store.load_pq_codebook(spark, p) == cb


def test_model_store_roundtrip(spark, tmp_path):
    from proyecto_gasto_publico_etl_per__spark.operators import model_store

    merges = [("e", "s"), ("es", "t"), ("l", "o")]
    p = str(tmp_path / "merges_model")
    model_store.save_model(spark, p, "merges", [list(m) for m in merges])

    with pytest.raises(ValueError, match="kind"):
        model_store.load_model(spark, p, "logreg")
    payload, version = model_store.load_model(spark, p, "merges")
    assert (payload, version) == ([list(m) for m in merges], 1)


def test_pq_codebook_geometry_guards(spark):
    """dim % m != 0 fails loudly; a supplied codebook's geometry wins
    over mismatched m/n_codes defaults (r6 review findings)."""
    from proyecto_gasto_publico_etl_per__spark.operators import similarity
    from proyecto_gasto_publico_etl_per__spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    with pytest.raises(ValueError, match="dim % m"):
        similarity.sampled_codebook(emb, "vec_id", "embedding", 5, 8)
    # trained with m=4 defaults, served through ivf_pq_search's m=16
    # defaults: must run (codebook geometry wins), not IndexError
    cb = similarity.pq_train_codebook(emb, m=4, n_codes=4, n_iters=1)
    queries = emb.orderBy("vec_id").limit(2)
    out = similarity.ivf_pq_search(
        emb, queries, k=3, n_centroids=4, nprobe=2, codebook=cb
    )
    assert out.count() > 0


def test_pq_train_codebook_partition_invariant(spark):
    """Quantized sums make the trained codebook identical under any
    partitioning (the engine's determinism contract)."""
    from proyecto_gasto_publico_etl_per__spark.operators import similarity
    from proyecto_gasto_publico_etl_per__spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").limit(100)
    cb1 = similarity.pq_train_codebook(
        emb.repartition(1), m=4, n_codes=4, n_iters=2
    )
    cb8 = similarity.pq_train_codebook(
        emb.repartition(8), m=4, n_codes=4, n_iters=2
    )
    assert cb1 == cb8


def test_ivf_trained_centroids_serving(spark):
    """kmeans_refine output plugs into ivf_topk/ivf_pq_search as the
    coarse quantizer; results keep the output contract."""
    from proyecto_gasto_publico_etl_per__spark.operators import similarity
    from proyecto_gasto_publico_etl_per__spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").limit(200)
    refined = similarity.kmeans_refine(emb, n_centroids=4, iters=2)
    assert len(refined) <= 4 and all(len(v) == 64 for _, v in refined)
    queries = emb.orderBy("vec_id").limit(2)
    out = similarity.ivf_topk(
        emb, queries, k=3, nprobe=2, centroids=refined
    ).collect()
    assert out and all(r.rk <= 3 and r.query_id != r.neighbor_id for r in out)


def test_ivf_pq_search_partition_invariant(spark):
    """The whole composed path is exact-integer at every cross-row
    reduction (ADC = sum of long pd_q6; rerank = quantized cosine), so
    results are identical under any partitioning."""
    from proyecto_gasto_publico_etl_per__spark.operators import similarity
    from proyecto_gasto_publico_etl_per__spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").limit(150)
    queries = emb.orderBy("vec_id").limit(3)

    def run(df):
        return sorted(
            (r.query_id, r.neighbor_id, r.score_q3, r.rk)
            for r in similarity.ivf_pq_search(
                df, queries, k=4, n_centroids=4, nprobe=2, m=8, n_codes=8
            ).collect()
        )

    assert run(emb.repartition(1)) == run(emb.repartition(8))


def test_suppress_small_groups(spark):
    df = spark.createDataFrame(
        [("a", i) for i in range(5)]
        + [("b", i) for i in range(2)]
        + [("c", i) for i in range(7)],
        "g STRING, v INT",
    )
    out = textstats.suppress_small_groups(df, ["g"], k=5)
    got = {r.g for r in out.collect()}
    assert got == {"a", "c"}
    assert out.count() == 12
    assert out.columns == ["g", "v"]  # helper column dropped


def test_suppress_small_groups_null_keys_and_k1(spark):
    """NULL group keys form a group of their own (window partitioning
    groups NULLs together — they are suppressible like any other cell),
    and k=1 is an exact no-op."""
    df = spark.createDataFrame(
        [(None, 1), (None, 2), ("a", 3), ("a", 4), ("a", 5), ("b", 6)],
        "g STRING, v INT",
    )
    out = textstats.suppress_small_groups(df, ["g"], k=3)
    got = [(r.g, r.v) for r in out.collect()]
    assert sorted(got, key=lambda t: t[1]) == [("a", 3), ("a", 4), ("a", 5)]
    # the 2-row NULL group and the 1-row 'b' group are both suppressed
    assert textstats.suppress_small_groups(df, ["g"], k=1).count() == 6


def test_dup_span_scrub_semantics(spark):
    """The keeper (minimum-id) doc keeps a shared 5-gram span; every
    other doc containing it loses exactly the covered tokens; unique
    content and short/empty docs pass through untouched."""
    boiler = "subscribe to our newsletter for weekly updates"  # 7 tokens
    corpus = spark.createDataFrame(
        [
            (1, f"alpha beta gamma {boiler} delta"),
            (2, f"{boiler} totally unrelated trailing content here"),
            (3, "no shared spans anywhere in this document at all"),
            (4, "tiny doc"),
            (5, ""),
        ],
        "doc_id INT, text STRING",
    )
    out = {r.doc_id: r for r in dedup.dup_span_scrub(corpus).collect()}
    # doc 1 is the keeper: everything survives
    assert out[1].n_dup_tokens == 0
    assert out[1].text_scrubbed == f"alpha beta gamma {boiler} delta"
    # doc 2 loses the full 7-token boilerplate (the union of its
    # duplicated 5-gram windows), keeps its unique tail
    assert out[2].n_dup_tokens == 7
    assert out[2].text_scrubbed == "totally unrelated trailing content here"
    # untouched docs
    assert out[3].n_dup_tokens == 0 and out[4].n_dup_tokens == 0
    assert out[5].n_tokens == 0 and out[5].text_scrubbed == ""


def test_dup_span_scrub_partition_invariant(spark):
    docs = spark.createDataFrame(
        [(i, f"common prefix shared by many docs tail{i} end") for i in range(8)],
        "doc_id INT, text STRING",
    )
    a = sorted(map(tuple, dedup.dup_span_scrub(docs.repartition(1)).collect()))
    b = sorted(map(tuple, dedup.dup_span_scrub(docs.repartition(8)).collect()))
    assert a == b
    # keeper doc 0 intact, all others lose the 6-token shared prefix
    rows = {r[0]: r for r in a}
    assert rows[0][3] == 0 and all(rows[i][3] == 6 for i in range(1, 8))


def test_sq8_encode_bounds_and_degenerate_dims(spark):
    emb = spark.createDataFrame(
        [(1, [0.0, 5.0, 7.0]), (2, [10.0, 5.0, 3.0]), (3, [5.0, 5.0, 11.0])],
        "vec_id INT, embedding ARRAY<DOUBLE>",
    )
    rows = {r.vec_id: r.codes for r in similarity.sq8_encode(emb).collect()}
    for codes in rows.values():
        assert all(0 <= c <= 255 for c in codes)
    # dim 2 is constant (5.0 everywhere) -> degenerate, always code 0
    assert all(rows[i][1] == 0 for i in (1, 2, 3))
    # min maps to 0, max clamps to 255 on a live dim
    assert rows[1][0] == 0 and rows[2][0] == 255


def test_sq8_topk_recall_and_contract(spark):
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 10)
    brute5 = {
        (r.query_id, r.neighbor_id)
        for r in similarity.brute_force_topk(emb, queries, k=5).collect()
    }
    out = similarity.sq8_topk(emb, queries, k=5, rerank=4).collect()
    got = {(r.query_id, r.neighbor_id) for r in out}
    # exact-score contract: every returned score equals brute cosine
    brute_scores = {
        (r.query_id, r.neighbor_id): r.score_q3
        for r in similarity.brute_force_topk(emb, queries, k=2000).collect()
    }
    for r in out:
        assert r.score_q3 == brute_scores[(r.query_id, r.neighbor_id)]
    recall = len(got & brute5) / max(1, len(brute5))
    # 8-bit cells are tiny vs the vector spread: SQ8 recall should sit
    # far above the coarse-index floors
    assert recall >= 0.9, f"SQ8 recall@5 {recall:.2f} below floor"


def test_sq8_topk_partition_invariant(spark):
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5)
    a = sorted(
        map(
            tuple,
            similarity.sq8_topk(emb.repartition(1), queries, k=3).collect(),
        )
    )
    b = sorted(
        map(
            tuple,
            similarity.sq8_topk(emb.repartition(16), queries, k=3).collect(),
        )
    )
    assert a == b


def test_ivf_pq_index_append_equals_full_rebuild(spark):
    """Index refresh contract: appending a delta batch encoded with the
    FROZEN artifacts yields exactly the index a full rebuild over the
    grown corpus would produce under the same artifacts — and serving
    over the merged zones equals serving over the rebuilt index."""
    from proyecto_gasto_publico_etl_per__spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    base = emb.filter(F.col("vec_id") < 400)
    delta = emb.filter(F.col("vec_id") >= 400)
    cents = similarity.ivf_centroids(base, "vec_id", "embedding", 8)
    pairs = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in cents
    ]
    cb = similarity.sampled_codebook(base, "vec_id", "embedding", 4, 16)
    a_base, c_base = similarity.ivf_pq_build_index(
        base, codebook=cb, centroids=pairs
    )
    a_delta, c_delta = similarity.ivf_pq_index_append(delta, cb, pairs)
    a_full, c_full = similarity.ivf_pq_build_index(
        emb, codebook=cb, centroids=pairs
    )
    merged_a = sorted(map(tuple, a_base.unionByName(a_delta).collect()))
    merged_c = sorted(map(tuple, c_base.unionByName(c_delta).collect()))
    assert merged_a == sorted(map(tuple, a_full.collect()))
    assert merged_c == sorted(map(tuple, c_full.collect()))
    # serving equivalence over the merged index
    queries = emb.orderBy("vec_id").limit(3)
    kw = dict(k=3, nprobe=4, m=4, n_codes=16, rerank=8,
              codebook=cb, centroids=pairs)
    via_merge = {
        tuple(r)
        for r in similarity.ivf_pq_search(
            emb, queries,
            index=(a_base.unionByName(a_delta), c_base.unionByName(c_delta)),
            **kw,
        ).collect()
    }
    via_full = {
        tuple(r)
        for r in similarity.ivf_pq_search(
            emb, queries, index=(a_full, c_full), **kw
        ).collect()
    }
    assert via_merge == via_full
    with pytest.raises(ValueError, match="frozen"):
        similarity.ivf_pq_index_append(delta, None, pairs)


def test_ann_rank_quality_contract(spark):
    """MRR is bounded by recall logic: a method whose top-1 equals
    brute's top-1 for every query has mrr == 1.0; rr integers are exact
    1000000 DIV rank values; no-hit queries still count in n."""
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 10)
    out = {r.method: r for r in
           similarity.ann_rank_quality(emb, queries, k=5).collect()}
    assert set(out) == {"ivf", "lsh"}
    for r in out.values():
        assert r.n_queries == 10
        assert 0 <= r.sum_rr_micro <= 10 * 1_000_000
        assert abs(r.mrr - r.sum_rr_micro / 10 / 1_000_000) < 1e-12
    # sanity: the exact index (brute vs itself) would be mrr=1; the
    # approximate ones must be in (0, 1]
    assert 0 < out["ivf"].mrr <= 1.0


def test_lsh_multiprobe_dominates_plain(spark):
    """Multi-probe candidates are a superset of plain LSH candidates
    (the identity probe is included), so recall@k can only improve —
    measured 0.04 -> 0.14 at sf0.1 on the structureless synthetic
    vectors (SCALE.md; near-uniform data is LSH's adversarial case)."""
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 10)
    truth = {
        (r.query_id, r.neighbor_id)
        for r in similarity.brute_force_topk(emb, q, k=5).collect()
    }
    plain = {
        (r.query_id, r.neighbor_id)
        for r in similarity.lsh_topk(emb, q, k=5).collect()
    }
    multi = {
        (r.query_id, r.neighbor_id)
        for r in similarity.lsh_multiprobe_topk(emb, q, k=5).collect()
    }
    assert len(multi & truth) >= len(plain & truth)
    # scores in the output are exact brute cosines (same contract)
    brute_all = {
        (r.query_id, r.neighbor_id): r.score_q3
        for r in similarity.brute_force_topk(emb, q, k=2000).collect()
    }
    for r in similarity.lsh_multiprobe_topk(emb, q, k=5).collect():
        assert brute_all[(r.query_id, r.neighbor_id)] == r.score_q3


def test_ivf_sq8_composition(spark):
    """IVF restriction × SQ8 scoring: results carry exact brute scores
    (shortlist-then-rerank contract), recall tracks the IVF candidate
    ceiling (SQ8's 8-bit cells lose almost nothing), and the whole
    path is partition-invariant."""
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 10)
    out = similarity.ivf_sq8_topk(
        emb, queries, k=5, n_centroids=8, nprobe=4, rerank=4
    ).collect()
    brute_all = {
        (r.query_id, r.neighbor_id): r.score_q3
        for r in similarity.brute_force_topk(emb, queries, k=2000).collect()
    }
    for r in out:
        assert brute_all[(r.query_id, r.neighbor_id)] == r.score_q3
    # recall floor: the IVF stage alone at these knobs reaches ~0.76 on
    # this corpus (docstring ladder); the SQ8 scorer should hold most
    # of it — well above the plain-LSH noise floor
    truth = {
        (r.query_id, r.neighbor_id)
        for r in similarity.brute_force_topk(emb, queries, k=5).collect()
    }
    got = {(r.query_id, r.neighbor_id) for r in out}
    ivf_only = {
        (r.query_id, r.neighbor_id)
        for r in similarity.ivf_topk(
            emb, queries, k=5, n_centroids=8, nprobe=4
        ).collect()
    }
    recall = len(got & truth) / max(1, len(truth))
    ivf_recall = len(ivf_only & truth) / max(1, len(truth))
    assert recall >= ivf_recall - 0.15, (recall, ivf_recall)
    assert recall >= 0.5
    a = sorted(
        map(
            tuple,
            similarity.ivf_sq8_topk(
                emb.repartition(1), queries, k=3, n_centroids=8
            ).collect(),
        )
    )
    b = sorted(
        map(
            tuple,
            similarity.ivf_sq8_topk(
                emb.repartition(16), queries, k=3, n_centroids=8
            ).collect(),
        )
    )
    assert a == b


def test_ann_ndcg_matches_python_reference(spark):
    import math

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 10)
    k = 5
    truth = {
        (r.query_id, r.neighbor_id)
        for r in similarity.brute_force_topk(emb, queries, k=k).collect()
    }
    out = {r.method: r for r in similarity.ann_ndcg(emb, queries, k=k).collect()}
    idcg = sum(math.floor(1_000_000 / math.log2(i + 1)) for i in range(1, k + 1))
    for method, fn in (
        ("lsh", similarity.lsh_topk),
        ("ivf", similarity.ivf_topk),
    ):
        res = fn(emb, queries, k=k).collect()
        dcg = sum(
            math.floor(1_000_000 / math.log2(r.rk + 1))
            for r in res
            if (r.query_id, r.neighbor_id) in truth
        )
        row = out[method]
        assert row.sum_dcg_micro == dcg, method
        assert row.idcg_micro == idcg
        assert 0.0 <= row.ndcg <= 1.0
        assert abs(row.ndcg - dcg / 10 / idcg) < 1e-12
    # on this corpus IVF is far stronger than plain LSH
    assert out["ivf"].ndcg > out["lsh"].ndcg


def test_ivf_pq_residual_matches_inline_and_append(spark):
    """Residual-encoded IVF-PQ (round 9): (a) searching a persisted
    residual index equals the inline build-and-search under the same
    frozen artifacts; (b) the delta-append path residual-encodes
    against the frozen centroids, so merged zones equal a full rebuild;
    (c) residual codes genuinely differ from raw codes (the flag is
    doing something)."""
    from proyecto_gasto_publico_etl_per__spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    cents = similarity.ivf_centroids(emb, "vec_id", "embedding", 8)
    pairs = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in cents
    ]
    cent_lit = similarity.centroid_sql(pairs)
    resid = similarity.residualize(
        similarity.ivf_assign(
            emb.select("vec_id", "embedding"), cent_lit, "embedding"
        ),
        cent_lit,
        "embedding",
    )
    cb = similarity.sampled_codebook(resid, "vec_id", "rvec", 4, 16)
    idx = similarity.ivf_pq_build_index(
        emb, codebook=cb, centroids=pairs, residual=True
    )
    queries = emb.orderBy("vec_id").limit(3)
    kw = dict(k=3, nprobe=4, m=4, n_codes=16, rerank=8,
              codebook=cb, centroids=pairs, residual=True)
    inline = sorted(
        map(tuple, similarity.ivf_pq_search(emb, queries, **kw).collect())
    )
    via_idx = sorted(
        map(
            tuple,
            similarity.ivf_pq_search(
                emb, queries, index=idx, **kw
            ).collect(),
        )
    )
    assert inline == via_idx and len(inline) == 9
    # (b) append == rebuild under frozen artifacts
    base = emb.filter(F.col("vec_id") < 400)
    delta = emb.filter(F.col("vec_id") >= 400)
    a_base, c_base = similarity.ivf_pq_build_index(
        base, codebook=cb, centroids=pairs, residual=True
    )
    a_delta, c_delta = similarity.ivf_pq_index_append(
        delta, cb, pairs, residual=True
    )
    a_full, c_full = similarity.ivf_pq_build_index(
        emb, codebook=cb, centroids=pairs, residual=True
    )
    assert sorted(map(tuple, a_base.unionByName(a_delta).collect())) == sorted(
        map(tuple, a_full.collect())
    )
    assert sorted(map(tuple, c_base.unionByName(c_delta).collect())) == sorted(
        map(tuple, c_full.collect())
    )
    # (c) residual codes differ from raw codes under a raw codebook of
    # the same geometry (sanity that the flag changes the encoding)
    raw_cb = similarity.sampled_codebook(emb, "vec_id", "embedding", 4, 16)
    _, raw_codes = similarity.ivf_pq_build_index(
        emb, codebook=raw_cb, centroids=pairs, residual=False
    )
    assert sorted(map(tuple, c_full.collect())) != sorted(
        map(tuple, raw_codes.collect())
    )


def test_residualize_reconstructs(spark):
    """centroid(cid) + rvec reconstructs the original vector exactly
    (double arithmetic: (x - c) + c == x is not an IEEE identity, so
    allow 1e-12; the ADC path never relies on reconstruction — this
    pins that residualize subtracts the RIGHT centroid per row)."""
    from proyecto_gasto_publico_etl_per__spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").limit(50)
    cents = similarity.ivf_centroids(emb, "vec_id", "embedding", 8)
    pairs = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in cents
    ]
    by_cid = {c: v for c, v in pairs}
    cent_lit = similarity.centroid_sql(pairs)
    rows = similarity.residualize(
        similarity.ivf_assign(
            emb.select("vec_id", "embedding"), cent_lit, "embedding"
        ),
        cent_lit,
        "embedding",
    ).collect()
    assert len(rows) == 50
    for r in rows:
        c = by_cid[r.cid]
        for orig, res, cv in zip(r.embedding, r.rvec, c):
            assert abs((res + cv) - float(orig)) < 1e-12


def test_lsh_multiprobe_recall_dominance_property(spark):
    """Property (round-9 verdict task 6): at EVERY plane count, multi-
    probe recall@k >= single-probe recall@k on the same deterministic
    planes — Hamming-1 buckets are a candidate superset, and under the
    shared total order (score desc, id asc) a superset's top-k can
    never lose a true neighbor the subset's top-k had.  Pinned across
    plane counts and two query sets on a 50-vector corpus."""
    from proyecto_gasto_publico_etl_per__spark.sources.tables import load_table

    emb = load_table(
        spark, "/root/testdata/sf0.001", "embeddings"
    ).filter(F.col("vec_id") < 50).cache()
    try:
        for qlo, qhi in ((0, 6), (20, 26)):
            q = emb.filter(
                (F.col("vec_id") >= qlo) & (F.col("vec_id") < qhi)
            )
            truth = {
                (r.query_id, r.neighbor_id)
                for r in similarity.brute_force_topk(emb, q, k=5).collect()
            }
            for n_planes in (4, 6, 8, 10):
                plain = {
                    (r.query_id, r.neighbor_id)
                    for r in similarity.lsh_topk(
                        emb, q, k=5, n_planes=n_planes
                    ).collect()
                }
                multi = {
                    (r.query_id, r.neighbor_id)
                    for r in similarity.lsh_multiprobe_topk(
                        emb, q, k=5, n_planes=n_planes
                    ).collect()
                }
                assert len(multi & truth) >= len(plain & truth), (
                    n_planes,
                    qlo,
                )
    finally:
        emb.unpersist()


def test_mmr_select_reduces_to_topk_at_lambda_one(spark):
    """MMR invariants (round 9): (a) at lambda=1 the diversity term
    vanishes, so the greedy selection IS the plain top-k by score
    (same set, same order); (b) at lambda=1/2 each query still gets
    exactly k distinct picks drawn from its candidate set; (c) rank 1
    is always the relevance argmax regardless of lambda."""
    from proyecto_gasto_publico_etl_per__spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    plain = {
        (r.query_id, r.rk): r.neighbor_id
        for r in similarity.brute_force_topk(emb, q, k=3).collect()
    }
    lam1 = {
        (r.query_id, r.mmr_rank): r.neighbor_id
        for r in similarity.mmr_select(
            emb, q, k=3, n_candidates=10, lam_num=1, lam_den=1
        ).collect()
    }
    assert lam1 == plain
    half = similarity.mmr_select(emb, q, k=3, n_candidates=10).collect()
    by_q = {}
    for r in half:
        by_q.setdefault(r.query_id, []).append(r)
    cand = {
        (r.query_id, r.neighbor_id)
        for r in similarity.brute_force_topk(emb, q, k=10).collect()
    }
    for qid, rows in by_q.items():
        assert sorted(r.mmr_rank for r in rows) == [1, 2, 3]
        assert len({r.neighbor_id for r in rows}) == 3
        assert all((qid, r.neighbor_id) in cand for r in rows)
        first = next(r for r in rows if r.mmr_rank == 1)
        assert first.neighbor_id == plain[(qid, 1)]


def test_rrf_fuse_matches_python_reference(spark):
    from proyecto_gasto_publico_etl_per__spark.operators import similarity

    # two queries, three lists with partial overlap and disagreements
    l1 = [(0, 10, 1), (0, 11, 2), (1, 20, 1)]
    l2 = [(0, 11, 1), (0, 12, 2), (1, 21, 1)]
    l3 = [(0, 10, 1), (0, 12, 2), (1, 20, 1), (1, 21, 2)]
    schema = "query_id LONG, neighbor_id LONG, rk INT"
    frames = [spark.createDataFrame(r, schema) for r in (l1, l2, l3)]
    got = {
        (r["query_id"], r["neighbor_id"]): (
            r["rrf_score"],
            r["n_lists"],
            r["rk"],
        )
        for r in similarity.rrf_fuse(frames, k_const=60, topk=5).collect()
    }

    from collections import defaultdict

    scores = defaultdict(lambda: [0, 0])
    for lst in (l1, l2, l3):
        for q, d, rk in lst:
            scores[(q, d)][0] += 1_000_000 // (60 + rk)
            scores[(q, d)][1] += 1
    ref = {}
    for q in {k[0] for k in scores}:
        members = sorted(
            (k for k in scores if k[0] == q),
            key=lambda k: (-scores[k][0], k[1]),
        )
        for i, k in enumerate(members[:5]):
            ref[k] = (scores[k][0], scores[k][1], i + 1)
    assert got == ref
    # consensus doc (in all three lists) outranks single-list docs
    assert got[(0, 10)][1] == 2 and got[(0, 11)][1] == 2
    assert got[(1, 20)][0] > got[(1, 21)][0]  # two rank-1s beat 1st+2nd


def test_chi2_source_drift_matches_python_reference(spark):
    from collections import Counter

    from proyecto_gasto_publico_etl_per__spark.operators import textstats

    rows = [
        (0, "a", "x x y z"),
        (1, "a", "x y y w"),
        (2, "b", "z z z w"),
        (3, "b", "x w w w"),
        (4, "c", "y y z x"),
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, source STRING, text STRING")
    got = {
        r["source"]: (r["n_tokens"], r["chi2_micro"])
        for r in textstats.chi2_source_drift(df, top_v=3).collect()
    }

    toks = [(s, t) for _, s, txt in rows for t in txt.split()]
    gc = Counter(t for _, t in toks)
    topv = sorted(gc, key=lambda t: (-gc[t], t))[:3]
    n_total = sum(gc[t] for t in topv)
    ref = {}
    for s in {s for s, _ in toks}:
        oc = Counter(t for src, t in toks if src == s)
        n_s = sum(oc[t] for t in topv)
        chi = 0
        for t in topv:
            e = float(n_s) * float(gc[t]) / float(n_total)
            d = float(oc[t]) - e
            chi += int(d * d / e * 1000000.0 + 0.5)  # floor of positive
        ref[s] = (n_s, chi)
    assert got == ref
    # skewed source 'b' (z/w heavy) drifts more than the near-uniform 'a'
    assert got["b"][1] > got["a"][1]


def test_chi2_source_drift_partitioning_invariant(spark):
    from proyecto_gasto_publico_etl_per__spark.operators import textstats

    rows = [
        (i, ["a", "b", "c"][i % 3], f"tok{i % 7} tok{i % 5} common word")
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, source STRING, text STRING")
    one = textstats.chi2_source_drift(df.coalesce(1), top_v=10).collect()
    many = textstats.chi2_source_drift(df.repartition(13), top_v=10).collect()
    assert sorted(map(tuple, one)) == sorted(map(tuple, many))


def test_chi2_source_drift_zero_for_identical_distributions(spark):
    """Three sources with IDENTICAL token distributions score exactly
    zero: o == e term-for-term when proportions match and divide evenly
    (the null-hypothesis fixed point of the integer-exact formulation)."""
    from proyecto_gasto_publico_etl_per__spark.operators import textstats

    doc = "alpha beta beta gamma gamma gamma"
    rows = [
        (s * 10 + i, f"s{s}", doc) for s in range(3) for i in range(4)
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, source STRING, text STRING")
    out = textstats.chi2_source_drift(df, top_v=3).collect()
    assert len(out) == 3
    assert all(r["chi2_micro"] == 0 for r in out)
    assert all(r["n_tokens"] == 4 * 6 for r in out)


def test_chi2_source_drift_zero_mass_group(spark):
    """A source whose docs are empty or share NO top-V tokens has n_s = 0
    and e = 0 for every cell — χ² is 0 by convention (mirrors
    chi2_against_reference's n_b == 0 guard).  Regression: before the
    guard, ANSI mode raised DIVIDE_BY_ZERO on this degenerate ingest."""
    from proyecto_gasto_publico_etl_per__spark.operators import textstats

    rows = [
        (0, "live", "x x y z x y"),
        (1, "live", "x y y w z w"),
        (2, "empty", ""),  # all-empty source → zero token mass
        (3, "empty", "   "),
        # tokens entirely outside the top-3 universe → zero top-V mass
        (4, "offgrid", "q1 q2 q3 q4 q5 q6"),
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, source STRING, text STRING")
    out = {
        r["source"]: (r["n_tokens"], r["chi2_micro"])
        for r in textstats.chi2_source_drift(df, top_v=3).collect()
    }
    assert out["empty"] == (0, 0)
    assert out["offgrid"] == (0, 0)
    assert out["live"][0] > 0  # the live source still scores normally


def test_rrf_single_list_preserves_component_order(spark):
    """RRF of ONE list is order-isomorphic to that list: rank positions
    carry over (monotone contribution) and scores are the pure 1/(60+rk)
    grid values."""
    from proyecto_gasto_publico_etl_per__spark.operators import similarity

    rows = [(0, 100 + i, i + 1) for i in range(7)]
    df = spark.createDataFrame(rows, "query_id LONG, neighbor_id LONG, rk INT")
    out = similarity.rrf_fuse([df], topk=5).collect()
    got = sorted(out, key=lambda r: r["rk"])
    assert [r["neighbor_id"] for r in got] == [100, 101, 102, 103, 104]
    assert [r["rrf_score"] for r in got] == [
        1_000_000 // (60 + i) for i in range(1, 6)
    ]
    assert all(r["n_lists"] == 1 for r in got)


def test_token_distribution_deterministic_tie_cut(spark):
    """The top-V cut breaks count ties by token ascending — the property
    that makes the frozen artifact reproducible."""
    from proyecto_gasto_publico_etl_per__spark.operators import textstats

    # four tokens, all with count 2; top_v=2 must pick the two smallest
    df = spark.createDataFrame(
        [(0, "dd cc bb aa dd cc bb aa")], "doc_id LONG, text STRING"
    )
    out = sorted(
        r["tok"] for r in textstats.token_distribution(df, top_v=2).collect()
    )
    assert out == ["aa", "bb"]


def test_bm25_serving_equals_inline_and_prunes_partitions(spark):
    """bm25_serving must (a) return value-identical rows to bm25_topk
    (the build==inline identity both entries' shared oracle rests on)
    and (b) read the postings zone through a tok partition filter —
    the inverted-index seek, not a corpus scan."""
    from proyecto_gasto_publico_etl_per__spark.plans.extension_queries import (
        _BM25_TERMS,
        bm25_serving,
        bm25_topk,
    )

    sf = "/root/testdata/sf0.001"
    inline = {tuple(r) for r in bm25_topk(spark, sf).collect()}
    serving_df = bm25_serving(spark, sf)
    served = {tuple(r) for r in serving_df.collect()}
    assert served == inline and len(served) == 10

    plan = serving_df._jdf.queryExecution().executedPlan().toString()
    # the postings scan must carry the tok_bucket partition filter (the
    # bounded-directory inverted-index seek) AND push the exact tok
    # predicate into the parquet row groups
    from proyecto_gasto_publico_etl_per__spark.operators.retrieval import (
        tok_bucket_of,
    )

    start = plan.index("zones/postings")
    window = plan[start : start + 800]
    pf = window.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "tok_bucket" in pf
    assert all(str(tok_bucket_of(t)) in pf for t in _BM25_TERMS)
    pushed = window.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "In(tok" in pushed


def test_bm25_matches_python_reference_property(spark, tmp_path):
    """End-to-end BM25 pin against an independent pure-python reference:
    random mini-corpora (vocab includes the fixed query terms) written
    as a documents.parquet zone, then bm25_topk's top-10 must equal the
    reference's — same rational idf (2(N-df)+1)/(2df+1), same k1=6/5 /
    b=3/4 folded to the integer coefficients, per-term scores quantized
    to 1e-9-grid longs before the per-doc sum (Python float division is
    the same IEEE double the engines use, so the pin is exact, not
    approximate)."""
    import math

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from proyecto_gasto_publico_etl_per__spark.plans.extension_queries import (
        _BM25_TERMS,
        bm25_topk,
    )

    vocab = list(_BM25_TERMS) + ["agg", "row", "scan", "table", "value"]

    def reference_topk(texts):
        toks = {i: t.split() for i, t in enumerate(texts) if t.split()}
        dl = {i: len(ws) for i, ws in toks.items()}
        n_docs, s_tokens = len(toks), sum(dl.values())
        df = {}
        for ws in toks.values():
            for w in set(ws):
                df[w] = df.get(w, 0) + 1
        scores = {}
        for i, ws in toks.items():
            total = 0
            for term in _BM25_TERMS:
                cnt = ws.count(term)
                if cnt == 0:
                    continue
                num = (2 * (n_docs - df[term]) + 1) * 22 * cnt * s_tokens
                den = (2 * df[term] + 1) * (
                    10 * s_tokens * cnt + 3 * s_tokens + 9 * dl[i] * n_docs
                )
                total += math.floor(num / den * 1000000000 + 0.5)
            if total:
                scores[i] = total
        ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))
        return [
            (doc_id, sc, rk + 1)
            for rk, (doc_id, sc) in enumerate(ranked[:10])
        ]

    counter = [0]

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        docs=st.lists(
            st.lists(st.sampled_from(vocab), min_size=0, max_size=30),
            min_size=1,
            max_size=16,
        )
    )
    def run(docs):
        texts = [" ".join(ws) for ws in docs]
        counter[0] += 1
        zone = tmp_path / f"corpus_{counter[0]}"
        zone.mkdir()
        spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)],
            "doc_id LONG, text STRING",
        ).coalesce(1).write.parquet(str(zone / "documents.parquet"))
        got = sorted(
            (r.doc_id, r.bm25_q, r.rk)
            for r in bm25_topk(spark, str(zone)).collect()
        )
        assert got == sorted(reference_topk(texts))

    run()


def test_bm25_append_serving_equals_rebuild_and_prunes_both_roots(spark):
    """The append contract: serving over base+delta zones must equal
    the full-rebuild serving rows exactly (associative integer zones
    over disjoint doc subsets), and BOTH postings scans must carry the
    tok partition filter — pruning survives the union."""
    from proyecto_gasto_publico_etl_per__spark.plans.extension_queries import (
        _BM25_TERMS,
        bm25_append_serving,
        bm25_serving,
    )

    sf = "/root/testdata/sf0.001"
    rebuilt = {tuple(r) for r in bm25_serving(spark, sf).collect()}
    appended_df = bm25_append_serving(spark, sf)
    appended = {tuple(r) for r in appended_df.collect()}
    assert appended == rebuilt and len(appended) == 10

    plan = appended_df._jdf.queryExecution().executedPlan().toString()
    scans = [
        seg
        for seg in plan.split("FileScan parquet ")
        if "zones/postings" in seg.split("\n", 1)[0][:600]
    ]
    # ≥2 (base + delta); the printer may repeat subtrees under reused
    # broadcast stages / dynamic-pruning subqueries
    assert len(scans) >= 2, "expected base and delta postings scans"
    for seg in scans:
        pf = seg.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
        assert "tok_bucket" in pf
        pushed = seg.split("PushedFilters: [", 1)[1].split("]", 1)[0]
        assert "In(tok" in pushed


def test_cli_text_index_lifecycle(spark, tmp_path, capsys):
    """text-index-build → text-search → text-index-append →
    text-search (== rebuilding over the full corpus) →
    text-index-compact → text-search on the bare compacted root:
    one user-facing lifecycle over the persisted inverted index."""
    from proyecto_gasto_publico_etl_per__spark import cli
    from proyecto_gasto_publico_etl_per__spark.operators.retrieval import (
        bm25_serve,
        build_bm25_index,
    )

    schema = "doc_id LONG, text STRING"
    batch1 = [(1, "spark hash merge spark table"), (2, "hash value row")]
    batch2 = [(3, "merge merge spark"), (4, "table value agg")]
    d1, d2 = str(tmp_path / "d1"), str(tmp_path / "d2")
    spark.createDataFrame(batch1, schema).write.parquet(d1)
    spark.createDataFrame(batch2, schema).write.parquet(d2)
    idx = str(tmp_path / "idx")

    cli.main(["text-index-build", d1, idx])
    assert "indexed 2 documents" in capsys.readouterr().out
    cli.main(["text-search", idx, "spark", "hash", "merge"])
    out1 = capsys.readouterr().out
    assert "doc 1" in out1 and "doc 2" in out1 and "doc 3" not in out1

    cli.main(["text-index-append", d2, idx])
    assert "appended 2 documents" in capsys.readouterr().out
    cli.main(["text-search", idx, "spark", "hash", "merge"])
    out2 = capsys.readouterr().out

    # append == rebuild over the full corpus
    full_root = build_bm25_index(
        spark, spark.createDataFrame(batch1 + batch2, schema)
    )
    want = {
        (r.rk, r.doc_id, r.bm25_q)
        for r in bm25_serve(
            spark, [full_root], ("spark", "hash", "merge")
        ).collect()
    }
    got = {
        (int(m[0]), int(m[1]), int(m[2]))
        for m in (
            line.split()[0:1] + [line.split()[2], line.split()[4]]
            for line in out2.strip().splitlines()
        )
    }
    assert got == want

    out_dir = str(tmp_path / "compacted")
    cli.main(["text-index-compact", idx, out_dir])
    assert "compacted 2 roots" in capsys.readouterr().out
    cli.main(["text-search", out_dir, "spark", "hash", "merge"])
    assert capsys.readouterr().out == out2


def test_tok_bucket_python_twin_matches_spark_crc32(spark):
    """tok_bucket_of must equal the zone's pmod(crc32(tok), N) for any
    token the tokenizer can emit — a drifting twin would silently
    prune away the query's own postings directories."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from proyecto_gasto_publico_etl_per__spark.operators.retrieval import (
        N_TOK_BUCKETS,
        tok_bucket_of,
    )

    tokens = []

    @settings(max_examples=50, deadline=None)
    @given(
        st.text(
            alphabet=st.characters(
                whitelist_categories=("Ll", "Lu", "Nd"),
                max_codepoint=0x2FFF,
            ),
            min_size=1,
            max_size=24,
        )
    )
    def collect(tok):
        tokens.append(tok)

    collect()
    df = spark.createDataFrame([(t,) for t in tokens], "tok STRING")
    got = {
        r.tok: r.b
        for r in df.select(
            "tok",
            F.pmod(F.crc32(F.col("tok")), F.lit(N_TOK_BUCKETS)).alias("b"),
        ).collect()
    }
    assert got == {t: tok_bucket_of(t) for t in tokens}


def test_bm25_edge_cases(spark, tmp_path):
    """Zone robustness: an all-empty corpus builds a valid (zero-row)
    index that serves an empty result; a query whose terms miss the
    vocabulary serves empty; a dir without zones fails loudly."""
    import pytest as _pytest
    from pyspark.sql.utils import AnalysisException

    from proyecto_gasto_publico_etl_per__spark.operators.retrieval import (
        bm25_serve,
        build_bm25_index,
    )

    schema = "doc_id LONG, text STRING"
    empty_root = build_bm25_index(
        spark,
        spark.createDataFrame([(1, ""), (2, None), (3, "   ")], schema),
    )
    assert bm25_serve(spark, [empty_root], ("spark",)).count() == 0

    root = build_bm25_index(
        spark, spark.createDataFrame([(1, "spark hash")], schema)
    )
    assert (
        bm25_serve(spark, [root], ("nonexistent_term_xyz",)).count() == 0
    )

    with _pytest.raises(ValueError):
        bm25_serve(spark, [], ("spark",))
    with _pytest.raises(ValueError):
        bm25_serve(spark, [root], ())
    with _pytest.raises(AnalysisException):
        bm25_serve(
            spark, [str(tmp_path / "not_an_index")], ("spark",)
        ).count()


def test_cli_text_index_build_refuses_stale_deltas(spark, tmp_path):
    """Rebuilding base while delta zones survive would double-count
    every delta document at search time — the CLI must refuse."""
    import pytest as _pytest

    from proyecto_gasto_publico_etl_per__spark import cli

    schema = "doc_id LONG, text STRING"
    d1 = str(tmp_path / "d1")
    spark.createDataFrame([(1, "spark hash")], schema).write.parquet(d1)
    idx = str(tmp_path / "idx")
    cli.main(["text-index-build", d1, idx])
    cli.main(["text-index-append", d1, idx])
    with _pytest.raises(SystemExit, match="double-counts"):
        cli.main(["text-index-build", d1, idx])


def test_phrase_serve_matches_python_reference_property(spark):
    """Positional-index phrase counting pinned against a pure-python
    brute count over random corpora — phrases of length 2 AND 3, docs
    with repeats/overlaps ("spark spark hash"), empty docs.  This is
    the regression net for the F.transform arity trap (a two-arg
    lambda silently receives (element, index)) that shipped the first
    version counting the wrong pairs."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from proyecto_gasto_publico_etl_per__spark.operators.retrieval import (
        build_bm25_index,
        phrase_serve,
    )

    vocab = ["spark", "hash", "merge", "agg", "row"]

    def brute(texts, phrase):
        out = {}
        for i, t in enumerate(texts):
            ws = t.split()
            n = sum(
                1
                for j in range(len(ws) - len(phrase) + 1)
                if tuple(ws[j : j + len(phrase)]) == tuple(phrase)
            )
            if n:
                out[i] = n
        ranked = sorted(out.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
        return {
            (doc, n, rk + 1) for rk, (doc, n) in enumerate(ranked)
        }

    @settings(
        max_examples=6,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        docs=st.lists(
            st.lists(st.sampled_from(vocab), min_size=0, max_size=25),
            min_size=1,
            max_size=10,
        ),
        plen=st.sampled_from([2, 3]),
    )
    def run(docs, plen):
        phrase = ("spark", "hash", "spark")[:plen]
        texts = [" ".join(ws) for ws in docs]
        root = build_bm25_index(
            spark,
            spark.createDataFrame(
                [(i, t) for i, t in enumerate(texts)],
                "doc_id LONG, text STRING",
            ),
        )
        got = {
            tuple(r) for r in phrase_serve(spark, [root], phrase).collect()
        }
        assert got == brute(texts, phrase)

    run()


def test_cli_text_search_phrase_mode(spark, tmp_path, capsys):
    """text-search --phrase serves exact-phrase counts from the same
    index the BM25 mode reads."""
    from proyecto_gasto_publico_etl_per__spark import cli

    schema = "doc_id LONG, text STRING"
    d = str(tmp_path / "docs")
    spark.createDataFrame(
        [
            (1, "spark hash merge"),
            (2, "hash spark x spark hash"),
            (3, "hash spark"),
        ],
        schema,
    ).write.parquet(d)
    idx = str(tmp_path / "idx")
    cli.main(["text-index-build", d, idx])
    capsys.readouterr()
    cli.main(["text-search", idx, "spark", "hash", "--phrase"])
    out = capsys.readouterr().out
    lines = [ln for ln in out.strip().splitlines() if "doc " in ln]
    assert len(lines) == 2  # docs 1 and 2 contain "spark hash"; 3 not
    assert "doc 1" in out and "doc 2" in out and "doc 3" not in out


# --- index deletion (tombstones) ----------------------------------------------


_TOMB_SCHEMA = "doc_id LONG, text STRING"
_TOMB_DOCS = [
    (1, "spark hash merge spark table"),
    (2, "hash value row hash"),
    (3, "merge merge spark hash"),
    (4, "table value agg"),
    (5, "spark spark spark"),
    (6, "hash merge"),
]
_TOMB_TERMS = ("spark", "hash", "merge")


def _serve_set(spark, roots, terms=_TOMB_TERMS):
    from proyecto_gasto_publico_etl_per__spark.operators.retrieval import (
        bm25_serve,
    )

    return {tuple(r) for r in bm25_serve(spark, roots, terms).collect()}


def test_bm25_delete_equals_rebuild_and_is_idempotent(spark):
    """delete == rebuild-on-remaining, exactly (the append==rebuild
    contract inverted): tombstoned docs drop out of the ranking, the
    survivors' scores equal a fresh build over the remaining docs
    (df/stats adjustments included — scores CHANGE for survivors when
    the corpus shrinks, so a bare row-filter would fail this).
    Deletes are idempotent and ignore ids absent from the index."""
    from proyecto_gasto_publico_etl_per__spark.operators.retrieval import (
        build_bm25_index,
        delete_from_bm25_index,
        phrase_serve,
    )

    docs = spark.createDataFrame(_TOMB_DOCS, _TOMB_SCHEMA)
    full = build_bm25_index(spark, docs)
    before = _serve_set(spark, [full])

    n = delete_from_bm25_index(spark, [full], [2, 5])
    assert n == 2
    rebuilt = build_bm25_index(
        spark, docs.where(~F.col("doc_id").isin(2, 5))
    )
    after = _serve_set(spark, [full])
    assert after == _serve_set(spark, [rebuilt])
    assert after != before  # survivors' scores shifted with the stats
    assert not any(row[0] in (2, 5) for row in after)

    # phrase lane honors tombstones through the same zone
    pa = {
        tuple(r)
        for r in phrase_serve(spark, [full], ("spark", "hash")).collect()
    }
    pb = {
        tuple(r)
        for r in phrase_serve(
            spark, [rebuilt], ("spark", "hash")
        ).collect()
    }
    assert pa == pb

    # idempotent: re-delete (overlapping + absent ids) adds nothing
    assert delete_from_bm25_index(spark, [full], [2, 5, 999]) == 0
    assert _serve_set(spark, [full]) == after

    # DataFrame-shaped delete batch works too
    assert (
        delete_from_bm25_index(
            spark, [full], spark.createDataFrame([(4,)], "doc_id LONG")
        )
        == 1
    )
    rebuilt2 = build_bm25_index(
        spark, docs.where(~F.col("doc_id").isin(2, 4, 5))
    )
    assert _serve_set(spark, [full]) == _serve_set(spark, [rebuilt2])


def test_bm25_delete_spans_multi_root_indexes(spark):
    """Tombstones live in ONE root (the first by default) but apply to
    the merged view — deleting a base doc and a delta doc in one batch
    must equal the rebuild over the remaining docs of BOTH roots."""
    from proyecto_gasto_publico_etl_per__spark.operators.retrieval import (
        build_bm25_index,
        delete_from_bm25_index,
    )

    docs = spark.createDataFrame(_TOMB_DOCS, _TOMB_SCHEMA)
    base = build_bm25_index(spark, docs.where(F.col("doc_id") <= 4))
    delta = build_bm25_index(spark, docs.where(F.col("doc_id") > 4))
    assert delete_from_bm25_index(spark, [base, delta], [1, 6]) == 2
    rebuilt = build_bm25_index(
        spark, docs.where(~F.col("doc_id").isin(1, 6))
    )
    assert _serve_set(spark, [base, delta]) == _serve_set(
        spark, [rebuilt]
    )


def test_bm25_compaction_folds_tombstones(spark, tmp_path):
    """Compacting a tombstoned index folds the deletions out
    PHYSICALLY: the output root serves identically, carries no
    tombstones zone, and its dfreq/stats zones equal a fresh build
    over the remaining docs (zone-level equality, stronger than
    serving equality for the query terms)."""
    import os

    from proyecto_gasto_publico_etl_per__spark.operators.retrieval import (
        build_bm25_index,
        compact_bm25_index,
        delete_from_bm25_index,
    )

    docs = spark.createDataFrame(_TOMB_DOCS, _TOMB_SCHEMA)
    full = build_bm25_index(spark, docs)
    delete_from_bm25_index(spark, [full], [1, 4])
    out = str(tmp_path / "compacted")
    compact_bm25_index(spark, [full], out)

    rebuilt = build_bm25_index(
        spark, docs.where(~F.col("doc_id").isin(1, 4))
    )
    assert _serve_set(spark, [out]) == _serve_set(spark, [rebuilt])
    assert not os.path.isdir(f"{out}/tombstones")
    for zone in ("dfreq", "doclen", "stats"):
        got = {
            tuple(r)
            for r in spark.read.parquet(f"{out}/{zone}").collect()
        }
        want = {
            tuple(r)
            for r in spark.read.parquet(f"{rebuilt}/{zone}").collect()
        }
        assert got == want, zone


def test_bm25_delete_every_doc_with_a_term(spark):
    """Deleting every doc containing a term empties that term's
    serving result (df reaches 0 with no posting rows left) without
    touching other terms."""
    from proyecto_gasto_publico_etl_per__spark.operators.retrieval import (
        build_bm25_index,
        delete_from_bm25_index,
    )

    docs = spark.createDataFrame(_TOMB_DOCS, _TOMB_SCHEMA)
    full = build_bm25_index(spark, docs)
    # 'merge' appears only in docs 1, 3, 6
    delete_from_bm25_index(spark, [full], [1, 3, 6])
    assert _serve_set(spark, [full], ("merge",)) == set()
    rebuilt = build_bm25_index(
        spark, docs.where(~F.col("doc_id").isin(1, 3, 6))
    )
    assert _serve_set(spark, [full], ("spark", "hash")) == _serve_set(
        spark, [rebuilt], ("spark", "hash")
    )


def test_ivf_pq_search_tombstones_equal_rebuilt_index(spark):
    """The ANN twin of the BM25 delete contract: searching a persisted
    index with tombstones == searching the index rebuilt on the
    remaining vectors (same codebook/centroids — assign/encode are
    per-row maps, so filtering the index IS the rebuild)."""
    from proyecto_gasto_publico_etl_per__spark.operators.similarity import (
        ivf_centroids,
        ivf_pq_build_index,
        ivf_pq_search,
        sampled_codebook,
    )
    from proyecto_gasto_publico_etl_per__spark.sources.tables import (
        load_table,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3)
    cents = ivf_centroids(emb, "vec_id", "embedding", 8)
    cb = sampled_codebook(emb, "vec_id", "embedding", 16, 8)
    full_idx = ivf_pq_build_index(
        emb, n_centroids=8, m=16, n_codes=8, codebook=cb, centroids=cents
    )
    tomb = emb.select("vec_id").where(
        (F.col("vec_id") % 7 == 0) & (F.col("vec_id") >= 3)
    )
    kw = dict(
        k=5,
        n_centroids=8,
        nprobe=4,
        m=16,
        n_codes=8,
        rerank=8,
        codebook=cb,
        centroids=cents,
    )
    got = {
        tuple(r)
        for r in ivf_pq_search(
            emb, queries, index=full_idx, tombstones=tomb, **kw
        ).collect()
    }
    remaining = emb.join(tomb, "vec_id", "left_anti")
    rebuilt_idx = ivf_pq_build_index(
        remaining,
        n_centroids=8,
        m=16,
        n_codes=8,
        codebook=cb,
        centroids=cents,
    )
    want = {
        tuple(r)
        for r in ivf_pq_search(
            remaining, queries, index=rebuilt_idx, **kw
        ).collect()
    }
    assert got == want
    tomb_ids = {r.vec_id for r in tomb.collect()}
    assert not any(row[1] in tomb_ids for row in got)


def test_cli_text_index_delete_and_guards(spark, tmp_path, capsys):
    """text-index-delete tombstones through the CLI; the r13-review
    guards fire: bare-root build/append refusal, ambiguous-index
    refusal, compact-overlap refusal."""
    from proyecto_gasto_publico_etl_per__spark import cli

    d = str(tmp_path / "docs")
    spark.createDataFrame(_TOMB_DOCS, _TOMB_SCHEMA).write.parquet(d)
    idx = str(tmp_path / "idx")
    cli.main(["text-index-build", d, idx])
    capsys.readouterr()

    cli.main(["text-index-delete", idx, "1", "4"])
    assert "tombstoned 2 documents" in capsys.readouterr().out
    cli.main(["text-search", idx, "spark", "hash"])
    out = capsys.readouterr().out
    assert "doc 1 " not in out and "doc 4 " not in out

    # ids-parquet form
    ids = str(tmp_path / "ids")
    spark.createDataFrame([(2,)], "doc_id LONG").write.parquet(ids)
    cli.main(["text-index-delete", idx, "--ids-parquet", ids])
    assert "tombstoned 1 documents" in capsys.readouterr().out

    # compact folds; compacted output serves without the deleted docs
    out_dir = str(tmp_path / "compacted")
    cli.main(["text-index-compact", idx, out_dir])
    capsys.readouterr()
    cli.main(["text-search", out_dir, "spark", "hash"])
    assert "doc 2 " not in capsys.readouterr().out

    # guards
    with pytest.raises(SystemExit, match="bare zone root"):
        cli.main(["text-index-build", d, out_dir])
    with pytest.raises(SystemExit, match="bare zone root"):
        cli.main(["text-index-append", d, out_dir])
    with pytest.raises(SystemExit, match="overlaps"):
        cli.main(["text-index-compact", idx, f"{idx}/sub"])
    with pytest.raises(SystemExit, match="overlaps"):
        cli.main(["text-index-compact", idx, idx])
    # an index dir that is BOTH bare and structured is refused
    import os

    os.makedirs(f"{idx}/postings", exist_ok=True)
    with pytest.raises(SystemExit, match="ambiguous"):
        cli.main(["text-search", idx, "spark"])
    with pytest.raises(SystemExit, match="no text index"):
        cli.main(["text-search", str(tmp_path / "nothing"), "spark"])


def test_bm25_hot_term_guard(spark, caplog):
    """max_df_frac drops saturated terms (with the firing count
    logged) and is score-IDENTICAL to the unguarded query when no term
    is hot — the max_bucket cap discipline applied to postings."""
    import logging

    from proyecto_gasto_publico_etl_per__spark.operators.retrieval import (
        build_bm25_index,
        delete_from_bm25_index,
    )

    # 'the' saturates (every doc), 'spark'/'merge' stay selective
    docs = spark.createDataFrame(
        [
            (1, "the spark merge the"),
            (2, "the value row"),
            (3, "the merge spark the the"),
            (4, "the table"),
            (5, "the spark"),
        ],
        _TOMB_SCHEMA,
    )
    root = build_bm25_index(spark, docs)
    terms = ("spark", "merge", "the")

    # no term hot at frac=1.0 (df == N is not > 1.0*N): identical to
    # the unguarded query
    from proyecto_gasto_publico_etl_per__spark.operators.retrieval import (
        bm25_serve,
    )

    unguarded = {tuple(r) for r in bm25_serve(spark, [root], terms).collect()}
    assert {
        tuple(r)
        for r in bm25_serve(
            spark, [root], terms, max_df_frac=1.0
        ).collect()
    } == unguarded

    # at frac=0.8 'the' (df=5=N) is dropped: result == querying only
    # the surviving terms, and the drop is logged with the count
    with caplog.at_level(
        logging.WARNING,
        logger="proyecto_gasto_publico_etl_per__spark.operators.retrieval",
    ):
        guarded = {
            tuple(r)
            for r in bm25_serve(
                spark, [root], terms, max_df_frac=0.8
            ).collect()
        }
    assert guarded == {
        tuple(r)
        for r in bm25_serve(spark, [root], ("spark", "merge")).collect()
    }
    assert any(
        "dropped 1 of 3" in rec.getMessage() for rec in caplog.records
    )

    # a query of ONLY hot terms returns empty with the right schema
    only_hot = bm25_serve(spark, [root], ("the",), max_df_frac=0.8)
    assert only_hot.count() == 0
    assert [f.name for f in only_hot.schema.fields] == [
        "doc_id",
        "bm25_q",
        "rk",
    ]

    # guard uses the ZONE df (pre-tombstone): still fires after deletes
    delete_from_bm25_index(spark, [root], [2])
    assert {
        tuple(r)
        for r in bm25_serve(
            spark, [root], terms, max_df_frac=0.8
        ).collect()
    } == {
        tuple(r)
        for r in bm25_serve(spark, [root], ("spark", "merge")).collect()
    }


def test_bm25_rebuild_clears_stale_tombstones(spark, tmp_path):
    """r14 review: a rebuild into a root (and a compaction into a
    reused out_root) must clear any surviving tombstones zone — a
    stale zone would silently anti-join the NEW corpus's matching
    doc_ids and mis-adjust every score."""
    import os

    from proyecto_gasto_publico_etl_per__spark.operators.retrieval import (
        build_bm25_index,
        compact_bm25_index,
        delete_from_bm25_index,
    )

    docs = spark.createDataFrame(_TOMB_DOCS, _TOMB_SCHEMA)
    root = str(tmp_path / "idx")
    build_bm25_index(spark, docs, root=root)
    delete_from_bm25_index(spark, [root], [1, 4])
    assert os.path.isdir(f"{root}/tombstones")

    # rebuild over a different corpus: doc 1/4 of the NEW index must
    # NOT be ghost-deleted, and the stale zone is gone
    build_bm25_index(spark, docs, root=root)
    assert not os.path.isdir(f"{root}/tombstones")
    fresh = build_bm25_index(spark, docs)
    assert _serve_set(spark, [root]) == _serve_set(spark, [fresh])

    # compaction into a previously-tombstoned out_root likewise
    out = str(tmp_path / "out")
    build_bm25_index(spark, docs, root=out)
    delete_from_bm25_index(spark, [out], [2])
    compact_bm25_index(spark, [root], out)
    assert not os.path.isdir(f"{out}/tombstones")
    assert _serve_set(spark, [out]) == _serve_set(spark, [fresh])


def test_bm25_full_takedown_compacts_to_empty_index(spark, tmp_path):
    """r14 review: tombstoning EVERY doc then compacting must produce
    a valid empty index (declared-schema read-back of the empty
    partitioned postings zone), not an AnalysisException."""
    from proyecto_gasto_publico_etl_per__spark.operators.retrieval import (
        bm25_serve,
        build_bm25_index,
        compact_bm25_index,
        delete_from_bm25_index,
    )

    docs = spark.createDataFrame(_TOMB_DOCS, _TOMB_SCHEMA)
    root = build_bm25_index(spark, docs)
    delete_from_bm25_index(spark, [root], [r[0] for r in _TOMB_DOCS])
    assert _serve_set(spark, [root]) == set()
    out = str(tmp_path / "empty")
    compact_bm25_index(spark, [root], out)
    assert bm25_serve(spark, [out], _TOMB_TERMS).count() == 0
    stats = spark.read.parquet(f"{out}/stats").collect()[0]
    assert (stats.n_docs, stats.s_tokens) == (0, 0)


def test_bm25_delete_rejects_foreign_tomb_root(spark, tmp_path):
    """r14 review: a tomb_root outside the served roots would make the
    delete invisible to serving AND break re-delete idempotence — it
    must be rejected loudly."""
    from proyecto_gasto_publico_etl_per__spark.operators.retrieval import (
        build_bm25_index,
        delete_from_bm25_index,
    )

    docs = spark.createDataFrame(_TOMB_DOCS, _TOMB_SCHEMA)
    root = build_bm25_index(spark, docs)
    with pytest.raises(ValueError, match="tomb_root"):
        delete_from_bm25_index(
            spark, [root], [1], tomb_root=str(tmp_path / "elsewhere")
        )
    # an explicit tomb_root that IS one of the roots still works
    assert delete_from_bm25_index(spark, [root], [1], tomb_root=root) == 1


@pytest.mark.parametrize("lane", sorted(LANES))
def test_retrieval_uri_roots_see_tombstones_or_fail_loud(spark, tmp_path, lane):
    """r14 review: tombstone presence (and an aggregate zone's
    spec.json) is detected via a local filesystem probe — a root
    spelled as a file: URI (which Spark's readers accept) must still
    see an existing tombstones zone instead of silently resurrecting
    deleted rows, and a non-local scheme must fail loudly rather than
    drop deletions.  One boundary (`sources.zones.as_local_path`) for
    every lane."""
    lane = LANES[lane]
    root = lane.build(spark, f"file:{tmp_path}/idx")
    assert not root.startswith("file:")
    plain = lane.serve(spark, [root])
    if lane.tombstoned:
        victims = sorted({lane.id_of(r) for r in plain})[:2]
        assert lane.delete(spark, [root], victims) == 2
        plain = lane.serve(spark, [root])
        assert plain and not {lane.id_of(r) for r in plain} & set(victims)
    # all three file: URI spellings resolve to the same local zones
    for uri in (f"file:{root}", f"file://{root}", f"file:///{root.lstrip('/')}"):
        assert lane.serve(spark, [uri]) == plain, uri
    # a remote scheme cannot be probed locally — loud, not silent
    with pytest.raises(ValueError, match="scheme"):
        lane.serve(spark, [f"s3://bucket{root}"])
    if lane.tombstoned:
        with pytest.raises(ValueError, match="scheme"):
            lane.delete(spark, [f"hdfs://nn{root}"], [1])


def test_compact_refuses_overlapping_out_root_in_library(spark, tmp_path):
    """r14 review: compact_bm25_index rmtree's out_root/tombstones
    BEFORE reading any input — with out_root == roots[0] that would
    destroy the input's tombstones and silently resurrect deleted
    docs.  The overlap guard must live in the library, not only the
    CLI, and must fire before anything is deleted."""
    from proyecto_gasto_publico_etl_per__spark.operators.retrieval import (
        build_bm25_index,
        compact_bm25_index,
        delete_from_bm25_index,
    )

    docs = spark.createDataFrame(_TOMB_DOCS, _TOMB_SCHEMA)
    root = build_bm25_index(spark, docs)
    delete_from_bm25_index(spark, [root], [2])
    before = _serve_set(spark, [root])
    for bad in (root, f"{root}/nested", str(Path(root).parent)):
        with pytest.raises(ValueError, match="overlap"):
            compact_bm25_index(spark, [root], bad)
    # the guard fired BEFORE the rmtree: tombstones intact
    assert _serve_set(spark, [root]) == before
    # a disjoint out_root still compacts fine
    out = compact_bm25_index(spark, [root], str(tmp_path / "zones"))
    assert _serve_set(spark, [out]) == before


def test_reingest_conflicts_and_cli_append_guard(spark, tmp_path, capsys):
    """r14 review: appending a doc under a TOMBSTONED id (takedown →
    re-crawl) leaves it permanently invisible while its delta stats
    still count — reingest_conflicts must surface the collision and
    the CLI append must refuse it until a compact folds the tombstone
    out.  The substring lane's append runs the same check with the
    same message."""
    from proyecto_gasto_publico_etl_per__spark.cli import main
    from proyecto_gasto_publico_etl_per__spark.operators.retrieval import (
        build_bm25_index,
        delete_from_bm25_index,
    )
    from proyecto_gasto_publico_etl_per__spark.operators.trigram import (
        build_trigram_index,
        delete_from_trigram_index,
    )
    from proyecto_gasto_publico_etl_per__spark.sources.zones import (
        reingest_conflicts,
    )

    docs = spark.createDataFrame(_TOMB_DOCS, _TOMB_SCHEMA)
    idx = tmp_path / "tindex"
    build_bm25_index(spark, docs, root=f"{idx}/base")
    # no tombstones anywhere: zero reads, no conflicts
    assert reingest_conflicts(spark, [f"{idx}/base"], docs, "doc_id") == []
    delete_from_bm25_index(spark, [f"{idx}/base"], [2, 5])
    batch = spark.createDataFrame(
        [(5, "row value table"), (9, "fresh doc")], _TOMB_SCHEMA
    )
    assert reingest_conflicts(spark, [f"{idx}/base"], batch, "doc_id") == [5]

    pq = tmp_path / "batch.parquet"
    batch.write.parquet(str(pq))
    with pytest.raises(SystemExit, match="tombstoned") as text_exit:
        main(["text-index-append", str(pq), str(idx)])
    # conflict-free batches still append
    ok = tmp_path / "ok.parquet"
    batch.where(F.col("doc_id") == 9).write.parquet(str(ok))
    main(["text-index-append", str(ok), str(idx)])
    assert "appended 1 documents" in capsys.readouterr().out

    # the trigram lane: same check, same refusal message
    tidx = tmp_path / "sindex"
    build_trigram_index(spark, docs, root=f"{tidx}/base")
    assert reingest_conflicts(spark, [f"{tidx}/base"], batch, "doc_id") == []
    delete_from_trigram_index(spark, [f"{tidx}/base"], [2, 5])
    assert reingest_conflicts(spark, [f"{tidx}/base"], batch, "doc_id") == [5]
    with pytest.raises(SystemExit, match="tombstoned") as sub_exit:
        main(["substring-index-append", str(pq), str(tidx)])
    assert str(sub_exit.value) == str(text_exit.value)
    main(["substring-index-append", str(ok), str(tidx)])
    assert "trigram-indexed 1 documents" in capsys.readouterr().out


def test_phrase_serve_rarest_first_semijoin_identity(spark):
    """Round 15: phrase_serve joins ascending-df and semi-joins hot
    terms' postings by the broadcast rarest doc_id set — both must be
    RESULT-IDENTICAL to the naive plan (inner joins commute; the
    semi-join removes only rows the join would drop).  A term absent
    from the index short-circuits to empty without reading postings."""
    from proyecto_gasto_publico_etl_per__spark.operators.retrieval import (
        build_bm25_index,
        phrase_serve,
    )

    # "the" is a stopword present in every doc; "spark hash" rides
    # behind it so the phrase "the spark hash" has one rare + one hot
    # neighbour term
    docs = spark.createDataFrame(
        [
            (1, "the spark hash the value the"),
            (2, "the the hash value the spark"),
            (3, "the spark hash the spark hash"),
            (4, "the table the value the row"),
            (5, "spark hash the end"),
        ],
        _TOMB_SCHEMA,
    )
    root = build_bm25_index(spark, docs)

    def serve(phrase, **kw):
        return {
            tuple(r)
            for r in phrase_serve(spark, [root], phrase, **kw).collect()
        }

    want = {(3, 2, 1), (1, 1, 2), (5, 1, 3)}
    assert serve(("spark", "hash")) == want
    # hot leading term: "the spark hash" occurs twice in doc 3, once in
    # doc 1 (doc 5's "hash the" has the stopword AFTER the pair)
    want_hot = {(3, 2, 1), (1, 1, 2)}
    assert serve(("the", "spark", "hash")) == want_hot
    # cap=0 disables the broadcast semi-join: ascending-df joins only,
    # same result (the fallback path is result-identical)
    assert serve(("the", "spark", "hash"), rarest_semijoin_cap=0) == want_hot
    # a term not in the index: empty, no postings read needed
    assert serve(("spark", "zzz_missing")) == set()


def test_ann_delete_lifecycle_persisted_zones(spark, tmp_path):
    """Round 15, the BM25 lifecycle's ANN twin on PERSISTED zones:
    delete_from_ann_index appends tombstones beside the index, serving
    with the auto-detected tombstones == search over the index rebuilt
    on the remaining vectors (same frozen artifacts), deletes are
    idempotent and ignore absent ids, compact_ann_index folds the
    tombstones out physically (identical serving, no tombstones zone,
    overlap-guarded), and ann_reingest_conflicts flags a tombstoned id
    until the compact erases it."""
    from proyecto_gasto_publico_etl_per__spark.operators.similarity import (
        ANN_TOMBSTONES_SCHEMA,
        compact_ann_index,
        delete_from_ann_index,
        ivf_centroids,
        ivf_pq_build_index,
        ivf_pq_search,
        sampled_codebook,
    )
    from proyecto_gasto_publico_etl_per__spark.sources.tables import (
        load_table,
    )
    from proyecto_gasto_publico_etl_per__spark.sources.zones import (
        read_tombstones,
        reingest_conflicts,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3)
    cents = ivf_centroids(emb, "vec_id", "embedding", 8)
    cb = sampled_codebook(emb, "vec_id", "embedding", 16, 8)
    base = str(tmp_path / "idx")
    assigned, codes = ivf_pq_build_index(
        emb, n_centroids=8, m=16, n_codes=8, codebook=cb, centroids=cents
    )
    assigned.write.parquet(f"{base}/index_assigned")
    codes.write.parquet(f"{base}/index_codes")
    kw = dict(
        k=5, n_centroids=8, nprobe=4, m=16, n_codes=8, rerank=8,
        codebook=cb, centroids=cents,
    )

    def serve(b, corpus=emb):
        idx = (
            spark.read.parquet(f"{b}/index_assigned"),
            spark.read.parquet(f"{b}/index_codes"),
        )
        return {
            tuple(r)
            for r in ivf_pq_search(
                corpus, queries, index=idx,
                tombstones=read_tombstones(
                    spark, [b], ANN_TOMBSTONES_SCHEMA
                ),
                **kw,
            ).collect()
        }

    assert read_tombstones(spark, [base], ANN_TOMBSTONES_SCHEMA) is None
    before = serve(base)

    tomb_pred = (F.col("vec_id") % 7 == 0) & (F.col("vec_id") >= 3)
    tomb = emb.select("vec_id").where(tomb_pred)
    n = delete_from_ann_index(spark, base, tomb)
    assert n == tomb.count() > 0
    # idempotent re-delete + absent id: nothing new
    assert delete_from_ann_index(spark, base, [7, 10**9]) == 0

    after = serve(base)
    assert after != before
    tomb_ids = {r.vec_id for r in tomb.collect()}
    assert not any(row[1] in tomb_ids for row in after)
    # delete == rebuild-on-remaining under the same frozen artifacts
    remaining = emb.join(tomb, "vec_id", "left_anti")
    rebuilt = ivf_pq_build_index(
        remaining, n_centroids=8, m=16, n_codes=8,
        codebook=cb, centroids=cents,
    )
    want = {
        tuple(r)
        for r in ivf_pq_search(
            remaining, queries, index=rebuilt, **kw
        ).collect()
    }
    assert after == want

    # re-ingest guard: a tombstoned id conflicts until compacted out
    batch = spark.createDataFrame([(7,), (1,)], "vec_id LONG")
    assert reingest_conflicts(spark, [base], batch, "neighbor_id") == [7]

    # file: URI roots still see the tombstones; remote schemes fail loud
    assert (
        read_tombstones(spark, [f"file:{base}"], ANN_TOMBSTONES_SCHEMA)
        is not None
    )
    with pytest.raises(ValueError, match="scheme"):
        read_tombstones(spark, [f"s3://bucket{base}"], ANN_TOMBSTONES_SCHEMA)

    # compact: overlap guard fires BEFORE anything is touched
    for bad in (base, f"{base}/nested", str(tmp_path)):
        with pytest.raises(ValueError, match="overlap"):
            compact_ann_index(spark, base, bad)
    assert serve(base) == after

    out = compact_ann_index(spark, base, str(tmp_path / "folded"))
    assert read_tombstones(spark, [out], ANN_TOMBSTONES_SCHEMA) is None
    assert serve(out) == after
    # the folded zones carry no tombstoned rows at all
    folded_ids = {
        r.neighbor_id
        for r in spark.read.parquet(f"{out}/index_assigned").collect()
    }
    assert not (folded_ids & tomb_ids)
    assert reingest_conflicts(spark, [out], batch, "neighbor_id") == []


def test_max_df_frac_reaches_hybrid_and_cli(spark, tmp_path, caplog, capsys):
    """Round 15 (r14 follow-through): the hot-term guard is reachable
    END-TO-END — `hybrid_retrieval_topk`'s BM25 component accepts
    max_df_frac (default None is value-identical to the driver-gated
    composition), and `text-search --max-df-frac` fires the guard with
    the logged drop count."""
    import logging

    from proyecto_gasto_publico_etl_per__spark.cli import main
    from proyecto_gasto_publico_etl_per__spark.plans.extension_queries import (
        hybrid_retrieval_topk,
    )

    logger = "proyecto_gasto_publico_etl_per__spark.operators.retrieval"

    # hybrid passthrough: frac=1.0 can drop nothing → identical rows
    default = {
        tuple(r) for r in hybrid_retrieval_topk(spark, SF_SMOKE).collect()
    }
    assert {
        tuple(r)
        for r in hybrid_retrieval_topk(
            spark, SF_SMOKE, max_df_frac=1.0
        ).collect()
    } == default
    # a tiny frac drops every query term: guard fires (logged), the
    # lexical leg contributes nothing, fusion degrades to dense-only
    with caplog.at_level(logging.WARNING, logger=logger):
        dense_only = hybrid_retrieval_topk(
            spark, SF_SMOKE, max_df_frac=1e-9
        )
        assert dense_only.agg(F.max("n_lists")).collect()[0][0] == 1
    assert any("dropped" in rec.getMessage() for rec in caplog.records)
    caplog.clear()

    # CLI: the flag reaches bm25_serve and the firing count is logged
    docs = spark.createDataFrame(
        [
            (1, "the spark merge the"),
            (2, "the value row"),
            (3, "the merge spark the the"),
        ],
        _TOMB_SCHEMA,
    )
    pq = tmp_path / "docs.parquet"
    docs.write.parquet(str(pq))
    idx = str(tmp_path / "cli_index")
    main(["text-index-build", str(pq), idx])
    capsys.readouterr()
    with caplog.at_level(logging.WARNING, logger=logger):
        main(
            ["text-search", idx, "spark", "the", "--max-df-frac", "0.8"]
        )
    assert any(
        "dropped 1 of 2" in rec.getMessage() for rec in caplog.records
    )
    # the served rows are the surviving-term query's
    printed = capsys.readouterr().out
    assert "doc 1" in printed and "doc 3" in printed
