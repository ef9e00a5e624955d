"""Similarity search over embedding columns (``array<float>``).

- Brute-force cosine top-k: the exact baseline.  The k-NN product is
  expressed as a join + window rank so Spark distributes it; at 100 TB the
  query side is small (a probe set) and broadcast, making this a
  broadcast-nested-loop over the corpus — embarrassingly parallel, no
  shuffle of the corpus.
- Random-hyperplane LSH buckets: the scale path.  Deterministic ±1
  hyperplanes derived from md5 (functions/hashing.py) so bucket ids are
  reproducible in any engine; candidates bucket-join, then exact cosine
  ranks within the bucket.
- Embedding near-dup pairs: cosine ≥ threshold via the same LSH buckets
  (dedup family member, SURVEY extension).
- IVF (inverted-file) top-k: the other classic scale path.  A tiny coarse
  quantizer (the centroid set) is the model artifact; every corpus vector
  is assigned to its nearest centroid in a single map-only pass (centroids
  ride along as a literal/broadcast — no shuffle), and queries search only
  their ``nprobe`` nearest inverted lists.

All cosine math is double-precision, presented on an integer grid
(``_sql_score_q``) so thresholds and rank order are engine-reproducible.
Every vector expression is one SQL fragment (see the one-form block
below).
"""

from __future__ import annotations

import hashlib
import logging
import math
import warnings
from collections.abc import Sequence
from functools import lru_cache

from pyspark.sql import DataFrame, Row, Window
from pyspark.sql import functions as F

from ..sources import zones
from ..sources.tables import fan_out
from .skew import pin

log = logging.getLogger(__name__)


# --- One expression form -----------------------------------------------------
#
# Every vector expression in this module is defined once, as a SQL
# fragment string; a caller that needs a Column wraps the fragment in
# ``F.expr``.  A fragment costs one Py4J parse however deep it is (the
# Column API pays one JVM call per node), and Spark's parser builds the
# same Catalyst tree the Column API would — same IEEE ops in the same
# fold order — so a second form could add nothing but drift.
# ``tests/test_similarity_one_form.py`` keeps the higher-order Column
# builders out of this file.


def _q(col: str) -> str:
    """Backtick-quote a column name for embedding in a SQL fragment."""
    return f"`{col}`"


def _sql_as_double(v: str) -> str:
    return f"transform({v}, x -> CAST(x AS DOUBLE))"


def _sql_dot(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0D,"
        " (acc, v) -> acc + v)"
    )


def _sql_norm(a: str) -> str:
    return f"sqrt(aggregate({a}, 0.0D, (acc, v) -> acc + v * v))"


def _sql_cosine(a: str, b: str) -> str:
    """Raw cosine similarity of two float vectors (double math)."""
    ad, bd = _sql_as_double(a), _sql_as_double(b)
    return f"({_sql_dot(ad, bd)} / ({_sql_norm(ad)} * {_sql_norm(bd)}))"


def _sql_score_q(a: str, b: str, scale: int = 1000) -> str:
    """Cosine quantized to an integer grid (floor(cos*scale + 0.5)).

    floor() of a double is exact in every engine, unlike round(), whose
    half-up implementations differ — so thresholds, ranks, and outputs
    built on this are engine-reproducible (double noise ~1e-15 sits ten
    orders below the 1/scale quantum).
    """
    return (
        f"CAST(floor({_sql_cosine(a, b)} * {scale} + 0.5D) AS BIGINT)"
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact top-k neighbors of each query vector over the corpus.

    ``queries`` is expected to be small (probe set) → broadcast; ties on
    the rounded score break by neighbor id, so results are deterministic.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    c = fan_out(corpus).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("score_q3", F.expr(_sql_score_q("qvec", "cvec")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score_q3"), "neighbor_id"
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "score_q3", "rk")
    )


#: dim width of the precomputed hyperplane weight masks.  4096 (round
#: 16, was 256) covers every embedding width in practical use — the
#: round-15 advice's capability gap — at the cost of ONE 4096-char
#: string literal per plane (a single expression node; NOT the
#: rejected per-element array literal, and NOT a per-row fallback
#: branch: an inline-md5 fallback branch was measured to push the
#: bucket expression ~50% slower even when never taken, because both
#: branch trees sit in every consumer's generated code).  Vectors
#: wider than the mask still raise loudly (a silently-wrong weight
#: would quietly wreck recall); widening further is one constant.
_PLANE_MAX_DIMS = 4096


@lru_cache(maxsize=None)
def _plane_mask(p: int) -> str:
    """Per-dimension sign mask for hyperplane ``p``: char d is '1' for
    weight +1.0, '0' for -1.0 — the SAME parity-of-md5("p:d") value the
    per-row expression used to compute, evaluated once per (plane, dim)
    in Python at plan-build time instead of once per (row, plane, dim)
    at runtime.  Encoded as ONE string literal per plane rather than an
    array of ±1.0 literals: a 256-double array literal per plane made
    every consumer's plan ~2k expression nodes heavier and Catalyst
    re-optimization of the replicated subtrees DOUBLED wall time on the
    LSH query family (measured r15: sim_topk_lsh 1.0 s → 2.9 s); the
    mask keeps the plan one small literal per plane."""
    return "".join(
        "1"
        if int(hashlib.md5(f"{p}:{d}".encode()).hexdigest()[0], 16) % 2 == 0
        else "0"
        for d in range(_PLANE_MAX_DIMS)
    )


def hyperplane_buckets(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
) -> DataFrame:
    """Deterministic random-hyperplane LSH bucket per vector.

    Plane p's weight for dimension d is ±1 by parity of the portable
    md5 hash of "p:d" — reproducible anywhere, no stored model.  Bucket =
    integer of sign bits of ⟨v, plane_p⟩.

    ``n_planes`` is the scale knob, NOT a constant: 2^n_planes buckets
    must keep the in-bucket candidate join subquadratic, so size it as
    ~log2(N / target_bucket_size) — 8 planes (256 buckets) fits the
    test corpus; a billion-vector corpus wants 20+ planes (and multiple
    hash tables to recover the recall each added plane costs).
    Measured: 200k vectors at the default 8 planes OOMed the in-bucket
    join; at 14 planes the same pass ran in under a minute.

    Degenerate-input hazard: a LOW-RANK embedding collection (vectors
    confined to a d'-dim subspace, d' ≪ dims — what a collapsed
    embedding model emits) can only realize a few sign patterns, so the
    corpus lands in a handful of buckets NO MATTER how many planes you
    add.  Audit ``count_distinct(bucket)`` against 2^n_planes before
    committing a bucket-join pass over a new embedding source.

    Weight evaluation (optimization r15): the ±1 weights depend only on
    (plane, dim), so they are computed ONCE at plan-build time in Python
    (``_plane_mask`` — the identical md5 parity rule) and embedded as
    one sign-mask string literal per plane; the per-element weight is a
    1-char substring compare instead of an interpreted
    md5+conv+substring per (row, plane, dim) — dims × n_planes md5
    evaluations per corpus ROW removed (guide §1.2 step 2 / §4.2: hoist
    data-independent work out of the per-row path).  ``x * (+1.0/-1.0)``
    is the same IEEE op in the same fold order as the md5 form, an empty
    or NULL vector still yields a NULL dot (no bit set), and dims beyond
    the mask raise instead of silently flipping weights.  The whole
    bucket — every plane's term — is ONE SQL fragment, so building it
    costs one Py4J parse at any plane count.
    """
    df = fan_out(df)
    v = _sql_as_double("vec")
    # the sequence() shape gives an empty/NULL vector a NULL dot (no bit
    # set); only the beyond-mask case needs an explicit loud guard.  (A
    # per-row inline-md5 FALLBACK branch was tried for the round-15
    # advice and rejected by measurement: carrying both branch trees made
    # the bucket pass ~50% slower for every masked-width row — the
    # capability gap is closed by the 4096-dim mask instead.)
    too_wide = (
        f"CAST(raise_error('hyperplane_buckets: vector dims exceed "
        f"_PLANE_MAX_DIMS={_PLANE_MAX_DIMS}; raise the constant') AS DOUBLE)"
    )
    terms = [
        f"CASE WHEN (CASE WHEN size(vec) > {_PLANE_MAX_DIMS} THEN {too_wide}"
        f" ELSE aggregate(zip_with({v}, sequence(0, size(vec) - 1), (x, d) ->"
        f" x * CASE WHEN substr('{_plane_mask(p)}', d + 1, 1) = '1'"
        " THEN 1.0D ELSE -1.0D END), 0.0D, (acc, x) -> acc + x) END) >= 0"
        f" THEN {1 << p} ELSE 0 END"
        for p in range(n_planes)
    ]
    return df.select(
        F.col(id_col).alias("doc"), F.col(vec_col).alias("vec")
    ).withColumn("bucket", F.expr(" + ".join(["CAST(0 AS BIGINT)", *terms])))


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_planes: int = 8,
) -> DataFrame:
    """Approximate top-k: exact cosine rank within the query's LSH bucket.

    At 100 TB the bucket join replaces the full cross product with a
    1/2^planes-selectivity equi-join on the bucket id.
    """
    cb = hyperplane_buckets(corpus, id_col, vec_col, n_planes)
    qb = hyperplane_buckets(queries, id_col, vec_col, n_planes)
    joined = (
        cb.withColumnRenamed("doc", "neighbor_id")
        .join(
            F.broadcast(
                qb.select(
                    F.col("doc").alias("query_id"),
                    F.col("vec").alias("qvec"),
                    "bucket",
                )
            ),
            "bucket",
        )
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("score_q3", F.expr(_sql_score_q("qvec", "vec")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score_q3"), "neighbor_id")
    return (
        joined.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "score_q3", "rk")
    )


def knn_join_lsh(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    n_planes: int = 8,
) -> DataFrame:
    """All-corpus approximate k-NN JOIN: every vector's top-k neighbors
    from its own LSH bucket.

    The self-join shape where NEITHER side is a broadcastable probe set —
    both sides shuffle once on the bucket id, so cost is Σ bucket² (2^-
    planes selectivity), never the N² cross product.  The top-k window
    partitions by query id, so rank state is per-vector.  Skew note: a
    degenerate bucket (many near-identical vectors) concentrates one
    join key — at scale raise n_planes (halves expected bucket size per
    plane) or pre-split hot buckets with a salt on the SECOND join key.
    Ties break by neighbor id → deterministic output.
    """
    b = hyperplane_buckets(corpus, id_col, vec_col, n_planes)
    left = b.select(
        F.col("doc").alias("query_id"), F.col("vec").alias("qvec"), "bucket"
    )
    right = b.select(
        F.col("doc").alias("neighbor_id"), F.col("vec").alias("cvec"), "bucket"
    )
    scored = (
        left.join(right, "bucket")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("score_q3", F.expr(_sql_score_q("qvec", "cvec")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score_q3"), "neighbor_id")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "score_q3", "rk")
    )


def ivf_centroids(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
) -> list[Row]:
    """Coarse-quantizer centroids: a deterministic hash-sample of the
    corpus — the ``n_centroids`` vectors ranked first by the md5
    hash-bucket of their id (ties by id).

    First-N-by-id is biased whenever ids correlate with content (the
    common case: corpus ingest order), and a degenerate codebook silently
    wrecks IVF recall even after ``kmeans_refine``.  Hashing the id
    decorrelates the seed set from ingest order while staying exactly
    mirrorable in the oracle SQL (same md5-prefix rule as
    ``sampling.hash_bucket``).  At scale you would refine these offline
    and store them — the engine only needs SOME small centroid set, and
    which one is a quality knob, not a correctness one.  The collect is
    a model artifact a few KB in size, not a data collect.
    """
    from .sampling import hash_bucket

    return (
        corpus.select(id_col, vec_col)
        .orderBy(hash_bucket(id_col, "ivf"), id_col)
        .limit(n_centroids)
        .collect()
    )


def centroid_sql(pairs: Sequence[tuple[int, Sequence[float]]]) -> str:
    """(cid, vector) pairs — the hash-sampled set or a ``kmeans_refine``
    result — as the literal ``array<struct<cid,cvec>>`` SQL fragment
    that ``ivf_assign``/``ivf_probe``/``residualize`` embed: assignment
    is then whole-stage-codegen map work with no join at all, and the
    literal is ONE parsed expression (per-element ``F.lit`` chains cost
    seconds of driver-side plan build)."""
    entries = ",".join(
        "named_struct('cid',{cid}L,'cvec',array({vec}))".format(
            cid=int(cid),
            vec=",".join(f"{_finite(x, 'centroid')!r}D" for x in vec),
        )
        for cid, vec in pairs
    )
    return f"array({entries})"


def _ivf_centroid_sql(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    n_centroids: int,
    centroids: Sequence[tuple[int, Sequence[float]]] | None,
) -> str:
    """``centroid_sql`` of the caller's trained ``centroids``, or of the
    hash-sampled ``ivf_centroids`` default when there are none."""
    if centroids is None:
        centroids = [
            (r[id_col], r[vec_col])
            for r in ivf_centroids(corpus, id_col, vec_col, n_centroids)
        ]
    return centroid_sql(centroids)


def ivf_assign(
    df: DataFrame,
    cent_sql: str,
    vec_col: str,
    out: str = "cid",
) -> DataFrame:
    """Assign each vector to its nearest centroid (max quantized cosine,
    ties to the lowest centroid id).  Map-only: argmax over the literal
    centroid array (``cent_sql``, a ``centroid_sql`` fragment) — the
    inverted-list build never shuffles the corpus."""
    score = _sql_score_q(_q(vec_col), "c.cvec")
    return fan_out(df).withColumn(
        out,
        F.expr(
            f"CAST(-(array_max(transform({cent_sql}, c -> "
            f"struct({score} AS s, -c.cid AS ncid)))).ncid AS INT)"
        ),
    )


def ivf_probe(
    df: DataFrame,
    cent_sql: str,
    vec_col: str,
    nprobe: int,
    out: str = "cid",
) -> DataFrame:
    """Explode each query row into its ``nprobe`` nearest centroid ids
    (score desc, centroid id asc on ties).  ``cent_sql`` as in
    ``ivf_assign``."""
    score = _sql_score_q(_q(vec_col), "c.cvec")
    return df.withColumn(
        out,
        F.explode(
            F.expr(
                f"transform(slice(array_sort(transform({cent_sql}, "
                f"c -> struct(-{score} AS ns, c.cid AS cid))), 1, "
                f"{int(nprobe)}), p -> p.cid)"
            )
        ),
    )


def residualize(
    df: DataFrame,
    cent_sql: str,
    vec_col: str,
    cid_col: str = "cid",
    out: str = "rvec",
) -> DataFrame:
    """Attach the coarse-quantizer residual ``x − centroid(cid)`` as
    ``out`` (array<double>).  Map-only: the centroid is looked up inside
    the literal ``cent_sql`` array (a handful of comparisons per row), so
    residualizing a 100 TB corpus is part of the same single encode scan
    as assignment — no join, no shuffle.

    This is the standard IVF-PQ trick (Jégou et al., "Product
    Quantization for Nearest Neighbor Search", §IV): PQ-encoding the
    residual instead of the raw vector removes the coarse cell's mean
    from every code, concentrating what the codebook must explain into
    a much smaller ball — measurably higher recall at identical
    m/n_codes (see the SCALE.md serving ladder)."""
    cvec = (
        f"(element_at(filter({cent_sql}, c -> c.cid = "
        f"CAST({_q(cid_col)} AS BIGINT)), 1)).cvec"
    )
    return df.withColumn(
        out,
        F.expr(
            f"zip_with({_sql_as_double(_q(vec_col))}, {cvec}, "
            "(a, b) -> a - b)"
        ),
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    centroids: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """IVF approximate top-k: exact cosine rank over the ``nprobe``
    inverted lists nearest to each query.

    ``centroids``: optional trained coarse quantizer ((cid, vector)
    pairs, e.g. from ``kmeans_refine``) — default is the hash-sampled
    set, same convention as everywhere else.

    At 100 TB: assignment is a map-only pass over the corpus (typically
    persisted once, partitioned BY cid so a probe prunes partitions); the
    probe side is small and broadcast, so search touches only
    nprobe/n_centroids of the data and never shuffles the corpus.
    """
    cent_sql = _ivf_centroid_sql(
        corpus, id_col, vec_col, n_centroids, centroids
    )
    assigned = ivf_assign(
        corpus.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec")
        ),
        cent_sql,
        "cvec",
    )
    probed = ivf_probe(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
        ),
        cent_sql,
        "qvec",
        nprobe,
    )
    cand = (
        assigned.join(F.broadcast(probed), "cid")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("score_q3", F.expr(_sql_score_q("qvec", "cvec")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score_q3"), "neighbor_id")
    return (
        cand.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "score_q3", "rk")
    )


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 5,
) -> DataFrame:
    """Hard-negative mining: each query vector's top-k most similar
    corpus vectors with a DIFFERENT label — the negatives that teach an
    embedding model its decision boundary (random negatives are too easy
    to separate; contrastive training needs near-misses).

    Exact brute force over a broadcast probe set, like
    ``brute_force_topk`` plus the label-inequality filter (pushed below
    the ranking window, so the top-k is over negatives only).  At scale
    mine from an IVF/LSH candidate set instead of the full corpus — the
    filter composes the same way.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        F.col(label_col).alias("qlabel"),
    )
    c = fan_out(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        F.col(label_col).alias("nlabel"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("qlabel") != F.col("nlabel"))
        .withColumn("score_q3", F.expr(_sql_score_q("qvec", "cvec")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score_q3"), "neighbor_id"
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "nlabel", "score_q3", "rk")
    )


def ann_recall(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_planes: int = 8,
    n_centroids: int = 16,
    nprobe: int = 4,
) -> DataFrame:
    """Recall@k evaluation of the approximate indexes against exact
    brute-force ground truth — the quality gate every ANN deployment
    tunes against (bucket width / nprobe trade recall for cost).

    One row per method with exact integer hit counts and a single
    final double division (hits/expected — both exact ints, one IEEE
    op, engine-reproducible).  Scale shape: ground truth over a PROBE
    SET (queries are broadcast-small, never the corpus), so the brute
    pass is a single corpus scan; the per-method hit join keys on
    (query_id, neighbor_id) — probe-set-sized, trivially broadcast.
    """
    truth = brute_force_topk(corpus, queries, id_col, vec_col, k)
    if not corpus.isStreaming:
        # truth feeds the per-method hit joins AND the n_expected
        # aggregate; each reference re-expands the brute corpus×probe
        # pass — pin it to one execution (optimization r15; knob-gated
        # via skew.pin since round 16)
        truth = pin(truth)
    approx = {
        "lsh": lsh_topk(corpus, queries, id_col, vec_col, k, n_planes),
        "ivf": ivf_topk(
            corpus, queries, id_col, vec_col, k, n_centroids, nprobe
        ),
    }
    truth_keys = truth.select("query_id", "neighbor_id")
    n_expected = truth.agg(
        F.count("*").cast("bigint").alias("n_expected")
    )
    per_method = [
        res.select("query_id", "neighbor_id")
        .withColumn("_hit", F.lit(1))
        .join(F.broadcast(truth_keys.withColumn("_t", F.lit(1))),
              ["query_id", "neighbor_id"], "left")
        .agg(
            F.lit(name).alias("method"),
            F.count("*").cast("bigint").alias("n_returned"),
            F.count("_t").cast("bigint").alias("n_hits"),
        )
        for name, res in sorted(approx.items())
    ]
    unioned = per_method[0]
    for m in per_method[1:]:
        unioned = unioned.unionByName(m)
    return (
        unioned.crossJoin(F.broadcast(n_expected))
        # a method with zero candidates has no group under the oracle's
        # GROUP BY method — drop its global-agg row so both engines agree
        # on degenerate corpora (e.g. every vector in pruned buckets);
        # guard the recall division the same way (empty probe set →
        # n_expected = 0 → NULL, not NaN)
        .where(F.col("n_returned") > 0)
        .select(
            "method",
            "n_returned",
            "n_hits",
            "n_expected",
            F.when(
                F.col("n_expected") > 0,
                F.col("n_hits").cast("double")
                / F.col("n_expected").cast("double"),
            ).alias("recall_at_k"),
        )
    )


def kmeans_step(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    quant: int = 1_000_000,
) -> DataFrame:
    """One distributed Lloyd (k-means) iteration in long format:
    assign every vector to its nearest centroid (map-only argmax over
    the literal centroid set — no join), then the new centroid means per
    (centroid, dimension) from EXACT quantized sums — a single partial+
    final hash aggregate, deterministic under any partitioning (a
    ``sum(double)`` mean would be merge-order dependent).

    Long format (cid, pos, n, sum_q6, mean_val) keeps every output cell
    a scalar: oracle-hashable, and trivially pivoted back to vectors.
    The iterative refinement loop (re-literalize means, repeat) is the
    offline model-build path; each step is this one shuffle.
    """
    cent_sql = _ivf_centroid_sql(df, id_col, vec_col, n_centroids, None)
    assigned = ivf_assign(df, cent_sql, vec_col)
    pe = assigned.select(
        "cid",
        F.posexplode(F.expr(_sql_as_double(_q(vec_col)))).alias("pos", "val"),
    ).select("cid", (F.col("pos") + 1).alias("pos"), "val")
    agg = pe.groupBy("cid", "pos").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(
            F.floor(F.col("val") * quant + F.lit(0.5)).cast("long")
        ).alias("sum_q6"),
    )
    return agg.select(
        # int64, not int32: every integer output is presented as BIGINT so
        # both engines materialize identical Arrow types (duck row ids /
        # subscripts are int64 natively)
        F.col("cid").cast("long").alias("cid"),
        F.col("pos").cast("long").alias("pos"),
        "n",
        "sum_q6",
        (
            F.col("sum_q6").cast("double")
            / F.col("n").cast("double")
            / F.lit(float(quant))
        ).alias("mean_val"),
    )


def kmeans_refine(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    iters: int = 3,
) -> list[tuple[int, list[float]]]:
    """Offline Lloyd refinement loop: run ``kmeans_step``, pivot the
    long-format means back to centroid vectors driver-side (a few-KB
    model artifact, same class as ``ivf_centroids``'s collect), reassign
    against the refined literals, repeat.  Returns the final centroids
    as (cid, vector) pairs — feed them to ``centroid_sql`` (or as
    ``centroids=`` to the IVF builders) for serving.

    Each iteration is one scan + one hash aggregate; nothing corpus-
    sized ever reaches the driver.
    """
    cents = ivf_centroids(df, id_col, vec_col, n_centroids)
    current: list[tuple[int, list[float]]] = [
        (int(r[id_col]), [float(x) for x in r[vec_col]]) for r in cents
    ]
    for _ in range(iters):
        assigned = ivf_assign(df, centroid_sql(current), vec_col)
        pe = assigned.select(
            "cid",
            F.posexplode(F.expr(_sql_as_double(_q(vec_col)))).alias(
                "pos", "val"
            ),
        )
        rows = (
            pe.groupBy("cid", "pos")
            .agg(
                F.count("*").alias("n"),
                F.sum(
                    F.floor(F.col("val") * 1_000_000 + F.lit(0.5)).cast(
                        "long"
                    )
                ).alias("s"),
            )
            .collect()
        )
        by_cid: dict[int, dict[int, float]] = {}
        for r in rows:
            by_cid.setdefault(int(r["cid"]), {})[int(r["pos"])] = (
                r["s"] / r["n"] / 1_000_000.0
            )
        current = [
            (cid, [dims[p] for p in sorted(dims)])
            for cid, dims in sorted(by_cid.items())
        ]
    return current


#: codebook type: codebook[s][c] = the ``sub``-dim codeword ``c`` of
#: subspace ``s`` (plain Python floats — a driver-side model artifact).
Codebook = list[list[list[float]]]


def sampled_codebook(
    df: DataFrame, id_col: str, vec_col: str, m: int, n_codes: int
) -> Codebook:
    """The default codebook: slices of the ``n_codes`` hash-sampled
    vectors (same sample-init convention as ``ivf_centroids``)."""
    cents = ivf_centroids(df, id_col, vec_col, n_codes)
    dim = len(cents[0][vec_col])
    if dim % m:
        raise ValueError(
            f"PQ requires dim % m == 0: dim={dim}, m={m} would silently "
            f"drop the trailing {dim % m} dimensions from every distance"
        )
    sub = dim // m
    return [
        [
            [float(x) for x in r[vec_col][s * sub : (s + 1) * sub]]
            for r in cents
        ]
        for s in range(m)
    ]


def _dlit_sql(vals: Sequence[float]) -> str:
    """Literal array<double> as ONE SQL fragment.

    A per-element ``F.array(*[F.lit(x) ...])`` chain costs a Py4J round
    trip per element — a 16×16×16-dim codebook plus centroids is
    thousands of driver-side JVM calls, measured at ~3s of plan-build
    latency per ivf_pq_search (the serving path pays it on every run).
    One parsed SQL string is a single call; ``repr(float)`` is the
    shortest exact round-trip decimal and Java's parseDouble is
    correctly rounded, so the literal is bit-identical to ``F.lit``'s.
    """
    return (
        "array(" + ",".join(f"{_finite(x, 'codebook')!r}D" for x in vals) + ")"
    )


def _sql_quant_sq_l2(xs: str, cw: str, quant: int) -> str:
    """Quantized squared-L2 between a slice and a codeword (a literal
    or a column) — THE one distance used by encode, training
    assignment, and the ADC table (they must stay bit-identical for
    codes and scores to agree; IEEE ops are value-deterministic, so
    literal-vs-column operand sourcing cannot change the result)."""
    return (
        f"CAST(floor(aggregate(zip_with({xs}, {cw}, "
        "(a, b) -> (a - b) * (a - b)), 0.0D, (acc, x) -> acc + x) "
        f"* {int(quant)} + 0.5D) AS BIGINT)"
    )


def _sql_pq_slices(v: str, m: int, sub: int) -> list[str]:
    """The ``m`` subvectors (``sub`` dims each) of vector fragment ``v``
    — the one slicing rule of encode, training and the ADC table."""
    return [f"slice({v}, {s * sub + 1}, {sub})" for s in range(m)]


def _sql_pq_nearest(xs: str, codewords: list[list[float]], quant: int) -> str:
    """``struct(d, code)`` of the codeword nearest to slice ``xs``
    (argmin quantized squared-L2, ties to the lowest code) — the one PQ
    assignment, shared by ``pq_encode`` and ``pq_train_codebook``."""
    scored = ",".join(
        f"struct({_sql_quant_sq_l2(xs, _dlit_sql(cw), quant)} AS d, "
        f"{code} AS code)"
        for code, cw in enumerate(codewords)
    )
    return f"array_min(array({scored}))"


def _finite(x: float, what: str) -> float:
    """Guard a model value before it is formatted into a SQL literal:
    a NaN/Inf from degenerate training data would render as ``nanD``
    and surface as an obscure parser error far from the cause — raise
    a descriptive error at the source instead."""
    v = float(x)
    if not math.isfinite(v):
        raise ValueError(
            f"non-finite value {v!r} in {what}: the trained artifact is "
            "degenerate (NaN/Inf cannot be a centroid or codeword) — "
            "check the training input for empty clusters or zero "
            "vectors"
        )
    return v


def pq_encode(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    n_codes: int = 16,
    quant: int = 1_000_000,
    codebook: Codebook | None = None,
) -> DataFrame:
    """Product-quantization encoding (the IVF-PQ compression path):
    split each vector into ``m`` subvectors, assign each to its nearest
    codeword (argmin quantized squared-L2, ties to the lowest code) from
    ``codebook`` (default: the ``n_codes`` hash-sampled vectors'
    slices; pass a ``pq_train_codebook`` result for a trained one).

    Map-only: the codebook is a literal array per subspace, distances
    are sequential ``aggregate`` folds (fixed order — deterministic,
    unlike a shuffle-dependent sum), and all ``m`` assignments ride one
    ``posexplode`` — a 100 TB corpus PQ-encodes in a single scan with
    zero joins.  The whole m × n_codes argmin forest is one SQL
    fragment (one Py4J parse at any codebook size).  Long format
    (vec_id, subspace, code, dist_q6).
    """
    if codebook is None:
        codebook = sampled_codebook(df, id_col, vec_col, m, n_codes)
    # a supplied codebook IS the geometry: derive m/sub from it so a
    # caller's m/n_codes defaults can never mismatch it (r6 review)
    m = len(codebook)
    sub = len(codebook[0][0])
    slices = _sql_pq_slices(_sql_as_double(_q(vec_col)), m, sub)
    nearest = ",".join(
        _sql_pq_nearest(xs, codebook[s], quant) for s, xs in enumerate(slices)
    )
    return (
        fan_out(df)
        .select(
            F.col(id_col),
            F.posexplode(F.expr(f"array({nearest})")).alias("pos", "b"),
        )
        .select(
            id_col,
            (F.col("pos") + 1).cast("int").alias("subspace"),
            F.col("b.code").cast("int").alias("code"),
            F.col("b.d").alias("dist_q6"),
        )
    )


def pq_train_codebook(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    n_codes: int = 16,
    n_iters: int = 3,
    quant: int = 1_000_000,
) -> Codebook:
    """Per-subspace Lloyd refinement of the PQ codebook: iterate
    (assign slices to nearest codeword → replace each codeword with the
    mean of its assigned slices).  Closes the recall gap the sampled
    codebook leaves (see ``ivf_pq_search``'s measured ladder).

    Iterative contract (kmeans/CC/BPE pattern): per iteration the
    distributed work is one encode pass (map-only) plus one
    (subspace, code, position) sum/count aggregate whose output is
    m × n_codes × sub rows — the codebook itself, a driver-side model
    artifact collected each round.  Empty cells keep their previous
    codeword (standard Lloyd empty-cluster handling, deterministic).

    Determinism: per-position coordinates are QUANTIZED to the
    ``quant`` grid before summing (exact long sums, the kmeans_refine
    pattern), and the mean divides exact integers driver-side — the
    trained codebook is bit-identical under any partitioning, so a
    persisted ``save_pq_codebook`` artifact always reproduces.
    """
    codebook = sampled_codebook(df, id_col, vec_col, m, n_codes)
    sub = len(codebook[0][0])
    slices = ",".join(_sql_pq_slices(_sql_as_double(_q(vec_col)), m, sub))
    sliced = fan_out(df).select(
        F.col(id_col),
        F.posexplode(F.expr(f"array({slices})")).alias("pos", "xs"),
    ).select((F.col("pos") + 1).cast("int").alias("subspace"), "xs")
    for _ in range(n_iters):
        # per-subspace argmin over the slice frame: pq_encode's own
        # _sql_pq_nearest, so training and encoding assign alike
        assign = " ".join(
            f"WHEN subspace = {s + 1} THEN "
            f"({_sql_pq_nearest('xs', codebook[s], quant)}).code"
            for s in range(m)
        )
        xq = F.floor(F.col("x") * quant + F.lit(0.5)).cast("long")
        stats = (
            sliced.withColumn("code", F.expr(f"CASE {assign} END"))
            .select("subspace", "code", F.posexplode("xs").alias("p", "x"))
            .groupBy("subspace", "code", "p")
            .agg(
                F.sum(xq).alias("sum_q"),  # exact long: order-invariant
                F.count("*").alias("n"),
            )
            .collect()  # m × n_codes × sub rows: the model artifact
        )
        new_cb = [
            [list(cw) for cw in subspace_cb] for subspace_cb in codebook
        ]
        for r in stats:
            # exact-integer mean on the quant grid, divided driver-side
            new_cb[r.subspace - 1][r.code][r.p] = r.sum_q / r.n / quant
        codebook = new_cb
    return codebook


def _pq_dtable(
    queries: DataFrame,
    codebook: "Codebook",
    id_col: str,
    vec_col: str,
    quant: int,
) -> DataFrame:
    """Per-query ADC distance table: one row per (query, subspace, code)
    with the precomputed query-slice → codeword squared-L2 (quantized).
    |queries| × m × n_codes rows — a broadcastable model artifact.

    Built as query-slices ⋈ broadcast codeword FRAME (m × n_codes rows
    from the driver) rather than m × n_codes inlined literal
    expressions: the literal form cost one Py4J call per codeword
    element at plan build (~2s per search for a 16×16×16 codebook —
    the dominant serving-path latency) and a codebook-sized codegen
    unit; the join form is one fixed plan shape at any codebook size.
    The distance values are bit-identical (same ``_sql_quant_sq_l2``
    fragment; IEEE ops don't care whether an operand is literal or
    column)."""
    return _pq_dtable_from(
        queries.select(F.col(id_col).alias("query_id"), vec_col),
        codebook,
        vec_col,
        quant,
        ["query_id"],
    )


def _pq_dtable_from(
    qframe: DataFrame,
    codebook: "Codebook",
    vec_col: str,
    quant: int,
    keys: list[str],
) -> DataFrame:
    """ADC distance-table builder over an arbitrary key set: one row
    per (*keys, subspace, code).  ``keys=["query_id"]`` is the plain
    PQ table; ``keys=["query_id", "cid"]`` is the residual-encoding
    table, where each probed centroid gets its own query-residual
    distances (|queries| × nprobe × m × n_codes rows — still a
    broadcastable model artifact)."""
    m = len(codebook)
    sub = len(codebook[0][0])
    spark = qframe.sparkSession
    cw = spark.createDataFrame(
        [
            (s + 1, code, [float(x) for x in codebook[s][code]])
            for s in range(m)
            for code in range(len(codebook[s]))
        ],
        "subspace INT, code INT, cvec ARRAY<DOUBLE>",
    )
    slices = ",".join(_sql_pq_slices(_sql_as_double(_q(vec_col)), m, sub))
    qslices = qframe.select(
        *keys,
        F.posexplode(F.expr(f"array({slices})")).alias("pos", "xs"),
    ).select(
        *keys, (F.col("pos") + 1).cast("int").alias("subspace"), "xs"
    )
    return qslices.join(F.broadcast(cw), "subspace").select(
        *keys,
        "subspace",
        "code",
        F.expr(_sql_quant_sq_l2("xs", "cvec", quant)).alias("pd_q6"),
    )


def ivf_pq_build_index(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    m: int = 4,
    n_codes: int = 16,
    quant: int = 1_000_000,
    codebook: "Codebook | None" = None,
    centroids: list[tuple[int, list[float]]] | None = None,
    residual: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """The index-build half of IVF-PQ: the two corpus-sized, map-only
    passes — coarse assignment ``(neighbor_id, cid)`` and PQ codes
    ``(<id_col>, subspace, code)`` — returned as frames for the caller
    to persist (parquet zones, like any other derived table).  At 100 TB
    this runs once per index refresh; every query run then reads the
    stored index through ``ivf_pq_search(..., index=...)`` instead of
    re-encoding the corpus.  Artifacts must be persisted together with
    the centroids/codebook that produced them.

    ``residual=True`` PQ-encodes ``x − centroid(cid)`` instead of the
    raw vector (standard IVF-PQ, see ``residualize``): assignment,
    residual subtraction, and encoding fuse into the SAME single
    map-only scan (the centroid set is a literal), so the build cost is
    unchanged.  The residual flag is part of the index's identity —
    persist it in the index manifest next to the codebook/centroids,
    and search with the matching ``ivf_pq_search(..., residual=True)``;
    a default-codebook residual build samples codewords from residual
    space, which is where a trained codebook should live too
    (``pq_train_codebook`` over the residualized frame)."""
    cent_sql = _ivf_centroid_sql(
        corpus, id_col, vec_col, n_centroids, centroids
    )
    if residual:
        base = ivf_assign(corpus.select(id_col, vec_col), cent_sql, vec_col)
        resid = residualize(base, cent_sql, vec_col)
        if codebook is None:
            codebook = sampled_codebook(resid, id_col, "rvec", m, n_codes)
        assigned = resid.select(F.col(id_col).alias("neighbor_id"), "cid")
        codes = pq_encode(
            resid, id_col, "rvec", m, n_codes, quant, codebook
        ).select(id_col, "subspace", "code")
        return assigned, codes
    if codebook is None:
        codebook = sampled_codebook(corpus, id_col, vec_col, m, n_codes)
    assigned = ivf_assign(
        corpus.select(F.col(id_col).alias("neighbor_id"), vec_col),
        cent_sql,
        vec_col,
    ).select("neighbor_id", "cid")
    codes = pq_encode(
        corpus, id_col, vec_col, m, n_codes, quant, codebook
    ).select(id_col, "subspace", "code")
    return assigned, codes


#: appended-vector fraction past which a build-time recall ladder no
#: longer describes the index it serves (the measured recalls were
#: taken against a corpus this much smaller) — re-measure with
#: tools/ann_knob_sweep.py --write-manifest
LADDER_MAX_GROWTH_FRAC = 0.25


def resolve_nprobe(
    ladder: list[dict],
    target_recall: float,
    *,
    ladder_index_n: int | None = None,
    index_n: int | None = None,
    max_growth_frac: float = LADDER_MAX_GROWTH_FRAC,
    allow_stale: bool = False,
) -> int:
    """Resolve a serving ``nprobe`` from a measured recall ladder
    (``measure_recall_ladder`` output stored in the index manifest):
    the SMALLEST measured nprobe whose build-time recall meets the
    target — the knee of the latency/recall trade, by measurement
    rather than folklore.  An unreachable target falls back to the
    largest measured nprobe (the best this index can do; raising would
    turn a quality preference into an outage) — with a loud
    ``warnings.warn`` carrying the achieved recall, so serving configs
    can distinguish "target met" from "best effort below target".

    Staleness contract (round 11): the ladder is measured at build
    time; ``ivf_pq_index_append`` grows the index WITHOUT re-measuring,
    so past a growth fraction the resolved nprobe silently serves a
    recall estimate for a smaller corpus.  When both ``ladder_index_n``
    (indexed vectors at measurement time, from the manifest) and
    ``index_n`` (indexed vectors now) are known, a growth beyond
    ``max_growth_frac`` raises — or warns with ``allow_stale=True`` —
    instead of resolving as if the measurement still held.  The SHRINK
    direction (round 15, now that deletions/compaction exist) only
    warns: fewer corpus vectors at fixed knobs usually means
    equal-or-better recall, so the stale estimate is conservative."""
    if not ladder:
        raise ValueError("empty recall ladder")
    if ladder_index_n is not None and index_n is not None:
        if ladder_index_n > 0 and index_n > ladder_index_n * (
            1.0 + max_growth_frac
        ):
            msg = (
                f"recall ladder is STALE: measured over {ladder_index_n} "
                f"indexed vectors but the index now holds {index_n} "
                f"(> {max_growth_frac:.0%} growth) — its recalls no "
                "longer describe this index. Re-measure with "
                "tools/ann_knob_sweep.py --write-manifest, or pass "
                "allow_stale=True to serve on the stale estimate."
            )
            if not allow_stale:
                raise ValueError(msg)
            warnings.warn(msg, stacklevel=2)
        elif ladder_index_n > 0 and index_n < ladder_index_n * (
            1.0 - max_growth_frac
        ):
            # the shrink direction (round 15 — deletions/compaction
            # exist now): a mass takedown also moves the measurement's
            # ground truth (deleted vectors were among the true
            # neighbors the ladder's recalls were scored against).
            # Shrink only WARNS — the usual effect of fewer corpus
            # vectors at fixed knobs is equal-or-better recall, so
            # serving on the stale estimate is conservative, unlike
            # growth where it silently overstates quality.
            warnings.warn(
                f"recall ladder measured over {ladder_index_n} indexed "
                f"vectors but the index now holds {index_n} "
                f"(> {max_growth_frac:.0%} shrink — deletions/"
                "compaction): the measured recalls are a conservative "
                "estimate for the smaller index; re-measure with "
                "tools/ann_knob_sweep.py --write-manifest to serve on "
                "current numbers.",
                stacklevel=2,
            )
    pts = sorted(ladder, key=lambda p: int(p["nprobe"]))
    for p in pts:
        if float(p["recall_at_k"]) >= target_recall:
            return int(p["nprobe"])
    best = pts[-1]
    warnings.warn(
        f"recall target {target_recall} is unreachable on the measured "
        f"ladder (best recall@k {float(best['recall_at_k'])} at "
        f"nprobe={int(best['nprobe'])}); serving BEST EFFORT below "
        "target",
        stacklevel=2,
    )
    return int(best["nprobe"])


def measure_recall_ladder(
    corpus: DataFrame,
    probes: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nprobes: tuple[int, ...] = (2, 4, 8, 16),
    m: int = 16,
    n_codes: int = 16,
    rerank: int = 8,
    codebook: "Codebook | None" = None,
    centroids: list[tuple[int, list[float]]] | None = None,
    index: tuple[DataFrame, DataFrame] | None = None,
    residual: bool = False,
) -> list[dict]:
    """Measure the recall@k ladder of ``ivf_pq_search`` over a set of
    nprobe values against brute-force ground truth on a PROBE sample —
    the build-time measurement the index manifest persists so serving
    can autotune nprobe from a recall target (``resolve_nprobe``).

    Scale shape: ground truth is one reviewed probe-set × corpus
    cross product (the ann_recall eval-baseline pattern — probe-sized,
    never corpus×corpus), and each ladder point is one serving-shaped
    search; all collects are |probes|×k rows.  This runs ONCE per index
    build/refresh, amortized like the index itself.  Artifacts must be
    the ones the index was built with (same identity contract as
    ``ivf_pq_search(index=...)``)."""
    truth = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(
            corpus, probes, id_col, vec_col, k
        ).collect()
    }
    ladder = []
    for np_ in nprobes:
        got = {
            (r["query_id"], r["neighbor_id"])
            for r in ivf_pq_search(
                corpus,
                probes,
                id_col,
                vec_col,
                k=k,
                nprobe=np_,
                m=m,
                n_codes=n_codes,
                rerank=rerank,
                codebook=codebook,
                centroids=centroids,
                index=index,
                residual=residual,
            ).collect()
        }
        ladder.append(
            {
                "nprobe": np_,
                "k": k,
                "recall_at_k": round(len(got & truth) / max(1, len(truth)), 4),
            }
        )
    return ladder


def remeasure_manifest_ladder(
    spark,
    corpus: DataFrame,
    probes: DataFrame,
    base: str,
    nprobes: tuple[int, ...] = (2, 4, 8, 16),
    fallback_rerank: int = 8,
) -> dict:
    """Re-measure a persisted index's recall ladder ON its current
    zones and write it back into the manifest with a fresh
    ``ladder_index_n`` staleness anchor — the one-command refresh after
    appends grow the index past ``LADDER_MAX_GROWTH_FRAC`` (used by
    ``ann-append-index --remeasure-ladder`` and the knob-sweep tool's
    --write-manifest mode).  Geometry and the serving rerank come from
    the manifest, never re-defaulted; the manifest kind round-trips so
    both the CLI-built (``ann_index_manifest``) and serving-split
    (``ivf_pq_manifest``) layouts keep loading with their kind
    assertions.  Returns the updated manifest."""
    from . import model_store

    import json

    payload, _ = model_store.load_model(
        spark, f"{base}/centroids", "ivf_centroids"
    )
    pairs = [(int(c), [float(x) for x in v]) for c, v in payload]
    cb = model_store.load_pq_codebook(spark, f"{base}/codebook")
    # one read: payload AND kind from the same single manifest row
    # (kind must round-trip so kind-asserting loads keep working)
    from pyspark.errors import AnalysisException

    try:
        rows = spark.read.parquet(f"{base}/manifest").collect()
    except AnalysisException as e:
        # ONLY a genuinely absent zone (legacy layout) may default; a
        # manifest that exists but cannot be READ (truncated parquet,
        # IO error) must raise like an unparseable one — defaulting
        # would re-measure at mismatched geometry and overwrite kind
        if e.getCondition() != "PATH_NOT_FOUND":
            raise
        rows = None
    if rows is not None and not rows:
        raise ValueError(
            f"manifest zone at {base}/manifest exists but holds no rows "
            "— refusing to re-default geometry over a corrupt manifest"
        )
    if rows:
        # a manifest that EXISTS but cannot be parsed must raise, not
        # re-default: re-measuring at mismatched PQ geometry would write
        # back a corrupt staleness anchor
        row = rows[0]
        manifest = json.loads(row.payload)
        kind = row.kind
    else:
        warnings.warn(
            f"no manifest at {base}/manifest — re-measuring with default "
            "geometry (m=16, n_codes=16); verify it matches the index",
            stacklevel=2,
        )
        manifest = {"residual": False, "m": 16, "n_codes": 16}
        kind = "ivf_pq_manifest"
    index = (
        spark.read.parquet(f"{base}/index_assigned"),
        spark.read.parquet(f"{base}/index_codes"),
    )
    # k comes from the EXISTING ladder when there is one — a remeasure
    # must not silently change the k the serving pin reads back
    prev = manifest.get("recall_ladder") or []
    k = int(prev[0]["k"]) if prev else 5
    manifest["recall_ladder"] = measure_recall_ladder(
        corpus,
        probes,
        k=k,
        nprobes=tuple(nprobes),
        m=manifest["m"],
        n_codes=manifest["n_codes"],
        rerank=manifest.get("rerank", fallback_rerank),
        codebook=cb,
        centroids=pairs,
        index=index,
        residual=manifest.get("residual", False),
    )
    manifest["ladder_index_n"] = index[0].count()
    manifest.setdefault("rerank", fallback_rerank)
    model_store.save_model(spark, f"{base}/manifest", kind, manifest)
    return manifest


def ivf_pq_search(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    m: int = 16,
    n_codes: int = 16,
    rerank: int = 8,
    quant: int = 1_000_000,
    codebook: "Codebook | None" = None,
    centroids: list[tuple[int, list[float]]] | None = None,
    index: tuple[DataFrame, DataFrame] | None = None,
    residual: bool = False,
    target_recall: float | None = None,
    recall_ladder: list[dict] | None = None,
    ladder_index_n: int | None = None,
    tombstones: DataFrame | None = None,
) -> DataFrame:
    """The full production ANN serving path, composed from the audited
    pieces: IVF coarse quantizer restricts candidates to ``nprobe``
    inverted lists → PQ asymmetric distances (ADC) score the candidates
    from their m-code table → the top ``rerank × k`` per query re-rank
    with EXACT cosine before the final top-k cut.

    ``target_recall`` (round 10) autotunes ``nprobe`` instead of taking
    it as a knob: pass the MEASURED ladder from the index manifest
    (``measure_recall_ladder`` output, written at build time — by the
    serving build path or ``tools/ann_knob_sweep.py --write-manifest``)
    and the smallest measured nprobe whose build-time recall meets the
    target is used (``resolve_nprobe``).  This keeps the serving knob
    tied to an observable ("give me ≥0.7 recall@5 as measured on THIS
    index") instead of a magic number that silently decays when the
    corpus or artifacts change.

    Recall knobs, measured on the sf0.001 embeddings (500×64-dim,
    recall@5 vs brute force; IVF alone at nprobe=4/8 centroids = 0.76,
    the composed path's ceiling): m=4/codes=8/rerank=3 → 0.24;
    m=16/codes=16/rerank=8 → 0.60 sampled, **0.72 with a
    ``pq_train_codebook`` 3-iteration Lloyd codebook** — training the
    codebook closes most of the gap to the IVF ceiling.  Subvector
    width (dim/m) dominates the sampled numbers (a 16-dim slice
    quantizes far worse than a 4-dim one).  ``dim % m`` must be 0.

    Scale shape, stage by stage:
    - candidate restriction: corpus assignment is map-only
      (``ivf_assign`` over a literal centroid array); the probe frame is
      |queries| × nprobe and broadcasts, so candidates are
      ~nprobe/n_centroids of the corpus and the corpus never shuffles.
    - ADC scoring: candidates join their codes (m small ints each, from
      the map-only ``pq_encode`` scan) and the broadcast per-query
      distance table; the only shuffle is the (query, neighbor)
      partial-sum, bounded by |candidates| × m.
    - re-rank: exact cosine touches just rerank×k FULL vectors per
      query (the broadcast-joined tail), which is what makes PQ's
      approximation error survivable in serving — codes pick the
      shortlist, floats order it.

    Output: (query_id, neighbor_id, score_q3, rk) — same contract as
    ``ivf_topk``/``brute_force_topk`` so recall eval composes.

    ``centroids``: optional trained coarse quantizer (``kmeans_refine``
    pairs), as in ``ivf_topk``.

    ``index``: optional PREBUILT index — ``(assigned, codes)`` frames
    with schemas ``(neighbor_id, cid)`` and ``(<id_col>, subspace,
    code)``, e.g. the persisted output of a prior build (see
    ``ivf_pq_build_index``).  This is the true serving split: in
    production the corpus-sized assign/encode passes run ONCE at index
    build and are stored alongside the vectors; a query run reads the
    index, never re-encodes the corpus.  The codebook/centroids must be
    the ones the index was built with (same persistence story as the
    index itself) and are therefore REQUIRED alongside ``index`` — if
    either were re-derived from the current corpus, ADC distances would
    silently mismatch the persisted codes whenever the corpus drifted
    since index build.

    ``residual``: the index's codes are residual-encoded
    (``ivf_pq_build_index(..., residual=True)``) — the textbook IVF-PQ
    formulation.  The only serving-plan change is the distance table:
    each probed (query, cid) pair gets its OWN table row set, built
    from the query residual ``q − centroid(cid)``, so the table grows
    by a factor of nprobe (|queries| × nprobe × m × n_codes — still a
    broadcastable artifact) and the ADC join keys gain ``cid``.  The
    candidate's probed cid IS its assigned cid (candidates come from
    the cid-equijoin), so the residual geometries on both sides agree
    by construction.  The flag must match the index build — it is part
    of the index identity, persisted in the same manifest as the
    codebook/centroids.  Measured on the sf0.1 ladder
    (tools/ann_knob_sweep.py --residual): residual codes lift recall@5
    over raw codes at identical knobs because no codebook capacity is
    spent explaining the coarse cell means; see SCALE.md's serving
    ladder for the numbers.

    ``tombstones``: optional deletion markers (any one-column id
    frame) — tombstoned vectors are anti-joined out of the assigned
    zone before candidate generation, making a takedown on a living
    index a delete-batch-sized operation instead of a rebuild.  Search
    with tombstones == search over the index rebuilt on the remaining
    vectors (same codebook/centroids), exactly, because assign/encode
    are per-row maps (test-pinned; the BM25 lane's
    ``delete_from_bm25_index`` contract applied to ANN).
    """
    if index is not None and (codebook is None or centroids is None):
        raise ValueError(
            "ivf_pq_search(index=...) requires the explicit `codebook` "
            "and `centroids` the index was built with; re-deriving "
            "either from the current corpus would silently mismatch the "
            "persisted codes. Load them from the same manifest as the "
            "index."
        )
    if target_recall is not None:
        if recall_ladder is None:
            raise ValueError(
                "ivf_pq_search(target_recall=...) requires the index "
                "manifest's measured `recall_ladder` (write it at build "
                "time: measure_recall_ladder / ann_knob_sweep.py "
                "--write-manifest) — without a measurement there is "
                "nothing to resolve the target against."
            )
        # staleness guard: when the manifest recorded the index size the
        # ladder was measured at, compare it against the size being
        # served (one metadata-cheap count on the assigned zone) — an
        # append-grown index must not serve a stale recall estimate
        index_n = (
            index[0].count()
            if (ladder_index_n is not None and index is not None)
            else None
        )
        nprobe = resolve_nprobe(
            recall_ladder,
            target_recall,
            ladder_index_n=ladder_index_n,
            index_n=index_n,
        )
    cent_sql = _ivf_centroid_sql(
        corpus, id_col, vec_col, n_centroids, centroids
    )
    # codebook: caller-supplied (pq_train_codebook) or the hash-sample
    # default; encode and dtable must share it exactly — for residual
    # indexes the default samples from residual space, matching
    # ivf_pq_build_index's default
    resid_corpus = None
    if residual and (codebook is None or index is None):
        resid_corpus = residualize(
            ivf_assign(corpus.select(id_col, vec_col), cent_sql, vec_col),
            cent_sql,
            vec_col,
        )
    if codebook is None:
        if residual:
            codebook = sampled_codebook(
                resid_corpus, id_col, "rvec", m, n_codes
            )
        else:
            codebook = sampled_codebook(corpus, id_col, vec_col, m, n_codes)
    if index is not None:
        assigned, codes = index
        assigned = assigned.select("neighbor_id", "cid")
    elif residual:
        assigned = resid_corpus.select(
            F.col(id_col).alias("neighbor_id"), "cid"
        )
        codes = pq_encode(
            resid_corpus, id_col, "rvec", m, n_codes, quant, codebook
        )
    else:
        assigned = ivf_assign(
            corpus.select(F.col(id_col).alias("neighbor_id"), vec_col),
            cent_sql,
            vec_col,
        ).select("neighbor_id", "cid")
        codes = pq_encode(corpus, id_col, vec_col, m, n_codes, quant, codebook)
    if tombstones is not None:
        # index deletion (the BM25 tombstone lane's ANN twin): drop
        # tombstoned vectors from the assigned zone BEFORE candidate
        # generation — assign/encode are per-row maps, so a filtered
        # persisted index is EXACTLY the index rebuilt on the
        # remaining vectors under the same codebook/centroids
        # (test-pinned), and the delete costs one broadcast anti-join
        # instead of a corpus re-encode.  The exact re-rank below
        # looks up only shortlist ids, which the filter already
        # excludes, so the full corpus frame needs no second filter.
        assigned = assigned.join(
            F.broadcast(
                tombstones.select(
                    F.col(tombstones.columns[0]).alias("neighbor_id")
                ).distinct()
            ),
            "neighbor_id",
            "left_anti",
        )
    probed = ivf_probe(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
        ),
        cent_sql,
        "qvec",
        nprobe,
    )
    # residual serving: the ADC table is keyed by (query, cid) — the
    # query residual against EACH probed centroid — and the candidate
    # rows carry the cid they were probed through, which by the
    # cid-equijoin below is also the neighbor's assigned (encoding) cid
    cand_keys = ["query_id", "neighbor_id", "cid"] if residual else [
        "query_id", "neighbor_id"
    ]
    cand = (
        assigned.join(
            F.broadcast(probed.select("query_id", "cid")), "cid"
        )
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(*cand_keys)
    )
    if residual:
        qres = residualize(probed, cent_sql, "qvec")
        dtable = _pq_dtable_from(
            qres.select("query_id", "cid", "rvec"),
            codebook,
            "rvec",
            quant,
            ["query_id", "cid"],
        )
        adc_keys = ["query_id", "cid", "subspace", "code"]
    else:
        dtable = _pq_dtable(queries, codebook, id_col, vec_col, quant)
        adc_keys = ["query_id", "subspace", "code"]
    adc = (
        cand.join(
            codes.withColumnRenamed(id_col, "neighbor_id"), "neighbor_id"
        )
        .join(F.broadcast(dtable), adc_keys)
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("pd_q6").cast("bigint").alias("adist_q6"))
    )
    w_adc = Window.partitionBy("query_id").orderBy("adist_q6", "neighbor_id")
    shortlist = (
        adc.withColumn("ark", F.row_number().over(w_adc))
        .where(F.col("ark") <= rerank * k)
        .select("query_id", "neighbor_id")
    )
    # exact re-rank on the shortlist only — the shortlist is
    # |queries| × rerank×k rows (bounded by the query batch, never the
    # corpus), so it broadcasts into the vector lookup: the corpus
    # vector table is probed map-side, not shuffled
    qvecs = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    nvecs = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("nvec")
    )
    exact = (
        nvecs.join(F.broadcast(shortlist), "neighbor_id")
        .join(F.broadcast(qvecs), "query_id")
        .withColumn("score_q3", F.expr(_sql_score_q("qvec", "nvec")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score_q3"), "neighbor_id"
    )
    return (
        exact.withColumn("rk", F.row_number().over(w).cast("int"))
        .where(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "score_q3", "rk")
    )


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int = 4,
    max_bucket: int | None = None,
    log_capped: bool = False,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cos ≥ threshold).

    Pairs are generated within LSH buckets (few planes → high recall at
    high thresholds) and verified with exact cosine.

    ``max_bucket`` (round 12, the ``hamming_pairs`` cap pattern): LSH
    buckets holding more than this many vectors are dropped from
    candidate generation — the guard against the low-rank-collection
    hazard ``hyperplane_buckets`` documents, where a collapsed
    embedding source realizes only a few sign patterns and one bucket
    holds most of the corpus.  Bounded recall trade (a pair is missed
    only if its one shared bucket was hot); the bucket-size window
    pre-shuffles on the join key, so the cap adds no exchange.
    ``None`` (the default — existing oracle semantics) disables;
    ``log_capped=True`` logs what was dropped (one eager count over
    the bucketed frame — batch only)."""
    b = hyperplane_buckets(df, id_col, vec_col, n_planes)
    if max_bucket is not None:
        bw = Window.partitionBy("bucket")
        b = b.withColumn("bsz", F.count("*").over(bw))
        if log_capped and not df.isStreaming:
            # pin the bucketing pass: the eager hot-bucket count would
            # otherwise recompute the md5-per-plane aggregate a second
            # time when the pair join runs (review r12)
            b = pin(b)
            hot = (
                b.where(F.col("bsz") > max_bucket)
                .agg(
                    F.countDistinct("bucket").alias("n_buckets"),
                    F.max("bsz").alias("largest"),
                )
                .collect()[0]
            )
            if hot["n_buckets"]:
                log.warning(
                    "embedding_neardup_pairs: capped %s hot LSH "
                    "bucket(s) over %s vectors (largest %s) — raise "
                    "n_planes or check for a low-rank embedding source",
                    hot["n_buckets"], max_bucket, hot["largest"],
                )
        b = b.where(F.col("bsz") <= max_bucket).drop("bsz")
    a, c = b.alias("a"), b.alias("b")
    return (
        a.join(c, "bucket")
        .where(F.col("a.doc") < F.col("b.doc"))
        .select(
            F.col("a.doc").alias("id_a"),
            F.col("b.doc").alias("id_b"),
            F.expr(_sql_score_q("a.vec", "b.vec")).alias("score_q3"),
        )
        .where(F.col("score_q3") >= int(threshold * 1000))
        .distinct()
    )


# --- SQ8 scalar quantization (per-dimension int8 codes) ----------------------


def sq8_minmax(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[float, float]]:
    """Per-dimension (min, max) over the corpus — the SQ8 model
    artifact.  Driver state is dims×2 doubles (the IVF-centroid bounded
    pattern): one partial+final hash aggregate keyed on the dimension
    index, never a corpus collect."""
    rows = (
        fan_out(corpus)
        .select(
            F.posexplode(F.expr(_sql_as_double(_q(vec_col)))).alias(
                "pos", "val"
            )
        )
        .groupBy("pos")
        .agg(F.min("val").alias("mn"), F.max("val").alias("mx"))
        .orderBy("pos")
        .collect()
    )
    return [(float(r.mn), float(r.mx)) for r in rows]


def _sql_sq8_dequant(codes: str, minmax: list[tuple[float, float]]) -> str:
    """Reconstruction values of a codes array: mid-point of each code's
    cell — mn + (code+0.5)·(mx−mn)/256 (degenerate dims reconstruct to
    mn)."""
    mns = _dlit_sql([m for m, _ in minmax])
    mxs = _dlit_sql([m for _, m in minmax])
    return (
        f"transform({codes}, (c, i) -> "
        f"CASE WHEN element_at({mxs}, i + 1) > element_at({mns}, i + 1) "
        f"THEN element_at({mns}, i + 1) + (CAST(c AS DOUBLE) + 0.5D) "
        f"* (element_at({mxs}, i + 1) - element_at({mns}, i + 1)) "
        f"/ 256.0D "
        f"ELSE element_at({mns}, i + 1) END)"
    )


def sq8_encode(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    minmax: list[tuple[float, float]] | None = None,
) -> DataFrame:
    """SQ8 encoding: each float dimension to an int8 code
    ``clamp(floor((x−mn)/(mx−mn)·256), 0, 255)`` against the corpus
    per-dim min/max — 4× (vs float32) / 8× (vs float64) index
    compression with NO candidate pruning (the orthogonal axis to
    IVF/PQ: SQ shrinks memory per vector, IVF shrinks vectors
    touched; production stacks compose them).  Map-only after the
    dims-sized min/max aggregate: a 100 TB corpus encodes in one scan.

    Output ``(<id_col>, codes array<int>)``; clamping makes encoding
    total for out-of-range QUERY vectors against a frozen corpus
    min/max (the serving case).

    Convention note: this is the CELL-BINNING variant (floor into 256
    cells, reconstruct at the cell midpoint — the FAISS
    ScalarQuantizer shape), chosen because midpoint reconstruction
    pairs with binning to bound |x − dq| ≤ cell/2 for in-range x.  The
    declared ``sq8_encode_audit`` query audits the LEVEL-ROUNDING
    variant (round to the nearest of 256 levels, reconstruct at the
    level) — both are standard; each is internally consistent with its
    own reconstruction rule.
    """
    if minmax is None:
        minmax = sq8_minmax(df, id_col, vec_col)
    mns = _dlit_sql([m for m, _ in minmax])
    mxs = _dlit_sql([m for _, m in minmax])
    codes = F.expr(
        f"transform({_sql_as_double(_q(vec_col))}, (x, i) -> "
        f"CAST(CASE WHEN element_at({mxs}, i + 1) > "
        f"element_at({mns}, i + 1) "
        f"THEN least(255, greatest(0, floor((x - element_at({mns}, i + 1)) "
        f"/ (element_at({mxs}, i + 1) - element_at({mns}, i + 1)) "
        f"* 256.0D))) "
        f"ELSE 0 END AS INT))"
    )
    return fan_out(df).select(F.col(id_col), codes.alias("codes"))


def sq8_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    rerank: int = 4,
    minmax: list[tuple[float, float]] | None = None,
) -> DataFrame:
    """Top-k search over SQ8 codes: approximate cosine on the
    DEQUANTIZED (cell-midpoint) vectors ranks a per-query shortlist of
    ``rerank × k``, then exact cosine on the original floats orders the
    final top-k — the same shortlist-then-rerank contract as
    ``ivf_pq_search`` (codes pick, floats order).

    Determinism: per-vector norms and the per-pair dot are sequential
    double folds (left-to-right — engine-reproducible, mirrored by
    DuckDB ``list_reduce``), and the approximate score lands on a 1e-6
    integer grid before ranking.  Scale: the scan touches every code
    row (SQ8 compresses, it does not prune) — compose with IVF list
    restriction when candidates must shrink too; queries broadcast.

    Output: (query_id, neighbor_id, score_q3, rk).
    """
    if minmax is None:
        minmax = sq8_minmax(corpus, id_col, vec_col)
    ndq = sq8_encode(corpus, id_col, vec_col, minmax).select(
        F.col(id_col).alias("neighbor_id"),
        F.expr(_sql_sq8_dequant("codes", minmax)).alias("ndq"),
    )
    qdq = sq8_encode(queries, id_col, vec_col, minmax).select(
        F.col(id_col).alias("query_id"),
        F.expr(_sql_sq8_dequant("codes", minmax)).alias("qdq"),
    )
    n = ndq.withColumn("nnm", F.expr(_sql_norm("ndq")))
    q = qdq.withColumn("qnm", F.expr(_sql_norm("qdq")))
    scored = (
        n.crossJoin(F.broadcast(q))
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "approx_q6",
            F.expr(
                f"CAST(floor({_sql_dot('qdq', 'ndq')} / (qnm * nnm) "
                "* 1000000 + 0.5D) AS BIGINT)"
            ),
        )
    )
    w_a = Window.partitionBy("query_id").orderBy(
        F.desc("approx_q6"), "neighbor_id"
    )
    shortlist = (
        scored.withColumn("ark", F.row_number().over(w_a))
        .where(F.col("ark") <= rerank * k)
        .select("query_id", "neighbor_id")
    )
    qvecs = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    nvecs = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("nvec")
    )
    exact = (
        nvecs.join(F.broadcast(shortlist), "neighbor_id")
        .join(F.broadcast(qvecs), "query_id")
        .withColumn("score_q3", F.expr(_sql_score_q("qvec", "nvec")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score_q3"), "neighbor_id"
    )
    return (
        exact.withColumn("rk", F.row_number().over(w).cast("int"))
        .where(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "score_q3", "rk")
    )


def ivf_pq_index_append(
    delta: DataFrame,
    codebook: "Codebook",
    centroids: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quant: int = 1_000_000,
    residual: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Incremental IVF-PQ index maintenance: encode ONLY a delta batch
    with the FROZEN artifacts and return its ``(assigned, codes)``
    frames for appending to the persisted index zones — the refresh
    path between full rebuilds (new vectors land in the index at ingest
    cadence; artifacts retrain on the slow cadence when drift warrants
    a rebuild).

    Because assignment and encoding are map-only functions of
    (vector, artifacts), appended frames are row-identical to what a
    full ``ivf_pq_build_index`` over the grown corpus would emit for
    those ids under the SAME artifacts — the union of zones IS the full
    index (test-pinned).  Artifacts are REQUIRED, not derived: deriving
    them from a delta batch would silently fork the quantizer away from
    the persisted codes (same contract as ``ivf_pq_search(index=...)``).
    The caller owns id-disjointness: appending ids already present in
    the zones duplicates their rows (as any append-mode parquet write
    would) — route re-ingested ids through a rebuild or an anti-join
    against the assigned zone first.  This is one of the three
    frozen-artifact serving paths sharing the staleness contract in
    SCALE.md §"Frozen-artifact serving", pinned by
    ``tests/test_frozen_contract.py``.

    ``residual`` must match the index being appended to (it is part of
    the index identity, persisted in the same manifest as the
    codebook/centroids): delta vectors are then residual-encoded
    against the SAME frozen centroids the zones were built with, so
    the appended codes stay row-identical to a full rebuild's.
    """
    if codebook is None or centroids is None:
        raise ValueError(
            "ivf_pq_index_append requires the frozen codebook and "
            "centroids the index was built with; deriving them from a "
            "delta batch would fork the quantizer away from the "
            "persisted codes"
        )
    return ivf_pq_build_index(
        delta,
        id_col=id_col,
        vec_col=vec_col,
        quant=quant,
        codebook=codebook,
        centroids=centroids,
        residual=residual,
    )


def ann_rank_quality(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_planes: int = 8,
    n_centroids: int = 16,
    nprobe: int = 4,
) -> DataFrame:
    """MRR@k of the approximate indexes vs brute-force ground truth —
    the rank-sensitive companion to ``ann_recall`` (recall@k treats all
    k slots equally; MRR rewards putting a true neighbor FIRST, the
    metric retrieval-augmented pipelines tune for).

    Per query, the reciprocal rank of the first true neighbor in the
    approximate top-k, as the exact integer ``1000000 DIV first_hit``
    (integer division — engine-reproducible, no float in any sum);
    queries with no hit contribute 0.  One row per method with
    ``(n_queries, sum_rr_micro, mrr)``, the only double being the final
    sum/n division.  Scale shape mirrors ``ann_recall``: probe-set
    ground truth, broadcast hit joins, no corpus-sized shuffle.
    """
    truth = brute_force_topk(corpus, queries, id_col, vec_col, k)
    if not corpus.isStreaming:
        # truth feeds BOTH methods' hit joins; each reference re-expands
        # the brute corpus×probe pass — pin it to one execution (round 16,
        # the ann_recall r15 fix applied to the rank-metric twins)
        truth = pin(truth)
    approx = {
        "lsh": lsh_topk(corpus, queries, id_col, vec_col, k, n_planes),
        "ivf": ivf_topk(
            corpus, queries, id_col, vec_col, k, n_centroids, nprobe
        ),
    }
    truth_keys = truth.select("query_id", "neighbor_id")
    qids = queries.select(F.col(id_col).alias("query_id"))
    per_method = []
    for name, res in sorted(approx.items()):
        first_hit = (
            res.join(
                F.broadcast(truth_keys), ["query_id", "neighbor_id"]
            )
            .groupBy("query_id")
            .agg(F.min("rk").cast("bigint").alias("first_hit"))
        )
        rr = qids.join(first_hit, "query_id", "left").select(
            F.coalesce(
                F.expr("CAST(1000000 DIV first_hit AS BIGINT)"), F.lit(0)
            ).alias("rr_micro")
        )
        per_method.append(
            rr.agg(
                F.lit(name).alias("method"),
                F.count("*").cast("bigint").alias("n_queries"),
                F.sum("rr_micro").cast("bigint").alias("sum_rr_micro"),
            )
        )
    unioned = per_method[0]
    for m in per_method[1:]:
        unioned = unioned.unionByName(m)
    return unioned.select(
        "method",
        "n_queries",
        "sum_rr_micro",
        F.when(
            F.col("n_queries") > 0,
            F.col("sum_rr_micro").cast("double")
            / F.col("n_queries").cast("double")
            / F.lit(1_000_000.0),
        ).alias("mrr"),
    )


def lsh_multiprobe_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_planes: int = 8,
) -> DataFrame:
    """Multi-probe LSH top-k: each query searches its own bucket PLUS
    every Hamming-1 neighbor bucket (``n_planes`` extra probes per
    query) — the standard recall lever that avoids maintaining extra
    hash tables.  A true neighbor separated from the query by ONE
    flipped hyperplane (the dominant miss mode as planes are added) is
    recovered by the corresponding flipped-bit probe.

    Scale shape: the probe frame is |queries| × (n_planes+1) rows and
    broadcasts; the corpus side is the SAME one bucket equi-join as
    ``lsh_topk`` (each corpus vector still carries exactly one bucket —
    multi-probe inflates the query side only, never the corpus).
    Candidate cost grows ~(n_planes+1)× per query at equal plane
    count; the usual production setting trades it against plane count
    (more planes = smaller buckets, multi-probe wins the recall back).
    """
    cb = hyperplane_buckets(corpus, id_col, vec_col, n_planes)
    qb = hyperplane_buckets(queries, id_col, vec_col, n_planes)
    probe_arr = F.array(
        F.col("bucket"),
        *[
            F.col("bucket").bitwiseXOR(F.lit(1 << p))
            for p in range(n_planes)
        ],
    )
    probes = qb.select(
        F.col("doc").alias("query_id"),
        F.col("vec").alias("qvec"),
        F.explode(probe_arr).alias("bucket"),
    )
    joined = (
        cb.withColumnRenamed("doc", "neighbor_id")
        .join(F.broadcast(probes), "bucket")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("score_q3", F.expr(_sql_score_q("qvec", "vec")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score_q3"), "neighbor_id"
    )
    return (
        joined.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "score_q3", "rk")
    )


def ivf_sq8_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    rerank: int = 4,
    minmax: list[tuple[float, float]] | None = None,
    centroids: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """IVF candidate restriction composed with SQ8 scoring — the
    composition both families' docstrings promise: IVF shrinks the
    vectors TOUCHED (~nprobe/n_centroids of the corpus), SQ8 shrinks
    the bytes PER vector (int8 codes, 4-8× vs floats), so the scan
    cost of the approximate stage is the product of both savings.
    Candidates come from the probed inverted lists; SQ8
    dequantized-midpoint cosine ranks them to a rerank×k shortlist;
    exact cosine on the original floats orders the final top-k (same
    contract as ``ivf_pq_search`` / ``sq8_topk``).

    The trained artifacts (centroids, per-dim min/max) follow the same
    frozen-artifact persistence story as IVF-PQ; both default to the
    deterministic sample-init/corpus-scan derivations for tests.
    """
    cent_sql = _ivf_centroid_sql(
        corpus, id_col, vec_col, n_centroids, centroids
    )
    if minmax is None:
        minmax = sq8_minmax(corpus, id_col, vec_col)
    assigned = ivf_assign(
        corpus.select(F.col(id_col).alias("neighbor_id"), vec_col),
        cent_sql,
        vec_col,
    ).select("neighbor_id", "cid")
    probed = ivf_probe(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
        ),
        cent_sql,
        "qvec",
        nprobe,
    ).select("query_id", "cid")
    cand = (
        assigned.join(F.broadcast(probed), "cid")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
    )
    ndq = sq8_encode(corpus, id_col, vec_col, minmax).select(
        F.col(id_col).alias("neighbor_id"),
        F.expr(_sql_sq8_dequant("codes", minmax)).alias("ndq"),
    ).withColumn("nnm", F.expr(_sql_norm("ndq")))
    qdq = sq8_encode(queries, id_col, vec_col, minmax).select(
        F.col(id_col).alias("query_id"),
        F.expr(_sql_sq8_dequant("codes", minmax)).alias("qdq"),
    ).withColumn("qnm", F.expr(_sql_norm("qdq")))
    scored = (
        cand.join(ndq, "neighbor_id")
        .join(F.broadcast(qdq), "query_id")
        .withColumn(
            "approx_q6",
            F.expr(
                f"CAST(floor({_sql_dot('qdq', 'ndq')} / (qnm * nnm) "
                "* 1000000 + 0.5D) AS BIGINT)"
            ),
        )
    )
    w_a = Window.partitionBy("query_id").orderBy(
        F.desc("approx_q6"), "neighbor_id"
    )
    shortlist = (
        scored.withColumn("ark", F.row_number().over(w_a))
        .where(F.col("ark") <= rerank * k)
        .select("query_id", "neighbor_id")
    )
    qvecs = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    nvecs = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("nvec")
    )
    exact = (
        nvecs.join(F.broadcast(shortlist), "neighbor_id")
        .join(F.broadcast(qvecs), "query_id")
        .withColumn("score_q3", F.expr(_sql_score_q("qvec", "nvec")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score_q3"), "neighbor_id"
    )
    return (
        exact.withColumn("rk", F.row_number().over(w).cast("int"))
        .where(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "score_q3", "rk")
    )


def ndcg_ideal_micro(k: int) -> int:
    """Ideal DCG of ``k`` all-relevant slots on the nDCG micro grid:
    the sum of ``floor(1e6 / log2(rank+1))`` over ranks 1..k."""
    return sum(
        math.floor(1_000_000 / math.log2(i + 1)) for i in range(1, k + 1)
    )


def ann_ndcg(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_planes: int = 8,
    n_centroids: int = 16,
    nprobe: int = 4,
) -> DataFrame:
    """nDCG@k of the approximate indexes vs brute-force ground truth
    (binary relevance: a returned neighbor is relevant iff it is in the
    brute top-k) — completes the rank-metric family with the
    position-discounted view (MRR sees only the FIRST hit; nDCG
    rewards every hit, discounted by log2(rank+1)).

    Determinism discipline: each positional gain quantizes to
    ``floor(1e6 / log2(rank+1))`` BEFORE any summation (integer sums
    are order-free), and the ideal DCG is the closed-form constant for
    k all-relevant slots — the final ndcg is one double division.
    """
    idcg_micro = ndcg_ideal_micro(k)
    truth_keys = brute_force_topk(corpus, queries, id_col, vec_col, k).select(
        "query_id", "neighbor_id"
    )
    if not corpus.isStreaming:
        # both methods' gain joins reference the brute truth — pin it
        # (round 16, the ann_recall r15 fix applied to the nDCG twin)
        truth_keys = pin(truth_keys)
    approx = {
        "lsh": lsh_topk(corpus, queries, id_col, vec_col, k, n_planes),
        "ivf": ivf_topk(
            corpus, queries, id_col, vec_col, k, n_centroids, nprobe
        ),
    }
    qids = queries.select(F.col(id_col).alias("query_id"))
    per_method = []
    for name, res in sorted(approx.items()):
        gains = (
            res.join(F.broadcast(truth_keys), ["query_id", "neighbor_id"])
            .withColumn(
                "gain_micro",
                F.floor(
                    F.lit(1_000_000)
                    / F.log2(F.col("rk").cast("double") + F.lit(1.0))
                ).cast("bigint"),
            )
            .groupBy("query_id")
            .agg(F.sum("gain_micro").cast("bigint").alias("dcg_micro"))
        )
        per_q = qids.join(gains, "query_id", "left").select(
            F.coalesce("dcg_micro", F.lit(0)).cast("bigint").alias(
                "dcg_micro"
            )
        )
        per_method.append(
            per_q.agg(
                F.lit(name).alias("method"),
                F.count("*").cast("bigint").alias("n_queries"),
                F.sum("dcg_micro").cast("bigint").alias("sum_dcg_micro"),
            )
        )
    unioned = per_method[0]
    for m in per_method[1:]:
        unioned = unioned.unionByName(m)
    return unioned.select(
        "method",
        "n_queries",
        "sum_dcg_micro",
        F.lit(idcg_micro).cast("bigint").alias("idcg_micro"),
        F.when(
            F.col("n_queries") > 0,
            F.col("sum_dcg_micro").cast("double")
            / F.col("n_queries").cast("double")
            / F.lit(float(idcg_micro)),
        ).alias("ndcg"),
    )


def mmr_select(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    n_candidates: int = 10,
    lam_num: int = 1,
    lam_den: int = 2,
) -> DataFrame:
    """Maximal-marginal-relevance diverse top-k (Carbonell & Goldstein
    1998): greedily pick the candidate maximizing
    ``λ·relevance − (1−λ)·max_similarity_to_already_selected`` — the
    standard redundancy-aware selection for retrieval-augmented
    pipelines and for picking diverse exemplars from a near-duplicate
    cluster (where plain top-k returns k copies of the same content).

    Returns (query_id, neighbor_id, score_q3, mmr_rank 1..k).

    Spark shape, and why it scales: the ONLY corpus-sized stage is
    candidate generation (brute force here for oracle exactness — swap
    any index path, ``ivf_pq_search``/``ivf_sq8_topk``, at scale).
    Everything after operates on |Q|×n_candidates rows: the pairwise
    candidate-similarity table is |Q|×N² with N a bounded knob (10 →
    100 rows/query), and each of the k greedy steps is a window argmax
    plus a broadcast-sized join — the plan is k steps deep but every
    frame in it is probe-sized, never corpus-sized.

    Determinism: λ is a rational (lam_num/lam_den) applied as integer
    multipliers over the q3-quantized scores, so the greedy argmax
    compares exact integers — cross-engine reproducible, ties broken
    by neighbor_id.
    """
    if not (0 < lam_num <= lam_den):
        raise ValueError("lambda must be a rational in (0, 1]")
    # localCheckpoint (eager) the two probe-sized frames: every greedy
    # step — and every branch inside one — references cand/pair, and
    # without a barrier Catalyst re-expands the whole candidate subtree
    # (brute corpus scan included) under EACH reference: the k=3 plan
    # printed 70 static shuffles and re-scanned the corpus per step.
    # With the barrier the corpus is touched exactly once and the loop
    # runs entirely on |Q|×N(²) checkpointed rows.
    cand = pin(
        brute_force_topk(
            corpus, queries, id_col, vec_col, k=n_candidates
        ).select("query_id", "neighbor_id", "score_q3"),
        eager=True,
    )
    vecs = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    )
    cv = cand.join(vecs, "neighbor_id").select(
        "query_id", "neighbor_id", "cv"
    )
    a = cv.select(
        "query_id",
        F.col("neighbor_id").alias("a_id"),
        F.col("cv").alias("av"),
    )
    b = cv.select(
        "query_id",
        F.col("neighbor_id").alias("b_id"),
        F.col("cv").alias("bv"),
    )
    pair = pin(
        a.join(b, "query_id")
        .where(F.col("a_id") != F.col("b_id"))
        .select(
            "query_id",
            "a_id",
            "b_id",
            F.expr(_sql_score_q("av", "bv")).alias("sim_q3"),
        ),
        eager=True,
    )
    w1 = Window.partitionBy("query_id").orderBy(
        F.desc("score_q3"), "neighbor_id"
    )
    selected = (
        cand.withColumn("rn", F.row_number().over(w1))
        .where(F.col("rn") == 1)
        .select(
            "query_id",
            "neighbor_id",
            "score_q3",
            F.lit(1).cast("int").alias("mmr_rank"),
        )
    )
    for step in range(2, k + 1):
        # checkpointed frames carry no size stats, so Spark would plan
        # SMJ for these probe-sized joins — hint every small side to
        # broadcast, and re-checkpoint `selected` each step so later
        # steps reference a flat table instead of re-expanding the
        # previous steps' window subtrees under every consumer
        selected = selected.localCheckpoint()
        remaining = cand.join(
            F.broadcast(selected.select("query_id", "neighbor_id")),
            ["query_id", "neighbor_id"],
            "left_anti",
        )
        maxsim = (
            pair.withColumnRenamed("a_id", "neighbor_id")
            .join(
                F.broadcast(remaining), ["query_id", "neighbor_id"]
            )
            .join(
                F.broadcast(
                    selected.select(
                        "query_id", F.col("neighbor_id").alias("b_id")
                    )
                ),
                ["query_id", "b_id"],
            )
            .groupBy("query_id", "neighbor_id", "score_q3")
            .agg(F.max("sim_q3").alias("maxsim_q3"))
        )
        wm = Window.partitionBy("query_id").orderBy(
            F.desc(
                F.lit(lam_num) * F.col("score_q3")
                - F.lit(lam_den - lam_num) * F.col("maxsim_q3")
            ),
            "neighbor_id",
        )
        pick = (
            maxsim.withColumn("rn", F.row_number().over(wm))
            .where(F.col("rn") == 1)
            .select(
                "query_id",
                "neighbor_id",
                "score_q3",
                F.lit(step).cast("int").alias("mmr_rank"),
            )
        )
        selected = selected.unionByName(pick)
    return selected


def rrf_fuse(
    rankings: list[DataFrame],
    k_const: int = 60,
    topk: int = 5,
    query_col: str = "query_id",
    id_col: str = "neighbor_id",
    rank_col: str = "rk",
) -> DataFrame:
    """Reciprocal-rank fusion of per-query candidate rankings — the
    standard hybrid-retrieval combiner (dense + sparse + filtered lists
    into one ranking; Cormack et al.'s RRF).

    ``fused(q, d) = Σ_lists scale div (k + rank(q, d))`` with the
    conventional k = 60, on the repo's exact-integer grid
    (``1_000_000 div (k + rank)`` — Spark ``div`` and DuckDB ``//``
    agree, so fused scores are BIGINT sums, order-independent and
    bit-identical across engines).  A document missing from a list
    contributes nothing (the outer-union semantics of RRF).

    Scale shape: one union of the (probe-sized) ranking frames, one
    hash aggregate keyed by (query, doc), one per-query top-k window —
    nothing corpus-sized is touched; RRF fuses OUTPUTS, so its cost is
    O(k · |lists| · |queries|) regardless of corpus size.

    Returns (query_id, neighbor_id, rrf_score, n_lists, rk) — rk the
    fused 1-based rank, ties broken by id.
    """
    from pyspark.sql import Window

    contrib = F.expr(f"1000000 div ({k_const} + {rank_col})")
    parts = [
        r.select(
            F.col(query_col),
            F.col(id_col),
            contrib.alias("_c"),
        )
        for r in rankings
    ]
    allc = parts[0]
    for p in parts[1:]:
        allc = allc.unionByName(p)
    fused = allc.groupBy(query_col, id_col).agg(
        F.sum("_c").cast("long").alias("rrf_score"),
        F.count("*").cast("long").alias("n_lists"),
    )
    w = (
        Window.partitionBy(query_col)
        .orderBy(F.desc("rrf_score"), F.col(id_col))
    )
    return (
        fused.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= topk)
        .withColumn("rk", F.col("rk").cast("int"))
    )


#: persisted ANN-index tombstones: one row per deleted vector, kept
#: beside the index zones under ``<base>/tombstones`` and read with
#: `sources.zones.read_tombstones(spark, [base], ANN_TOMBSTONES_SCHEMA)`
#: (None when no delete ever happened, so serving plans stay the
#: pre-deletion ones).  The base dir follows the shared zone lifecycle
#: (`sources.zones`) as one bare root.
ANN_TOMBSTONES_SCHEMA = "neighbor_id LONG"


def delete_from_ann_index(
    spark, base: str, vec_ids: "DataFrame | Sequence[int]"
) -> int:
    """Delete vectors from a persisted IVF-PQ index WITHOUT a rebuild:
    append (neighbor_id) tombstones under ``<base>/tombstones`` and
    return the number of newly tombstoned vectors — the BM25 lane's
    `retrieval.delete_from_bm25_index` contract applied to ANN
    (takedown/retraction on a 100 TB vector corpus must not cost a
    corpus re-encode).

    Serving anti-joins the tombstones out of the assigned zone BEFORE
    candidate generation (`ivf_pq_search(tombstones=...)`); because
    assign/encode are per-row maps, the filtered index is EXACTLY the
    index rebuilt on the remaining vectors under the same frozen
    codebook/centroids (driver-oracle-gated via
    ``plans.extension_queries.ann_delete_serving``).  The next
    `compact_ann_index` folds them out physically.

    Cost is one broadcast semi-join of the delete batch against the
    assigned zone's id column (to ignore ids absent from the index)
    plus an anti-join against existing tombstones (re-delete is a
    no-op) — delete latency is proportional to the delete batch.

    RE-INSERT after delete: a tombstone anti-joins its id out of the
    WHOLE assigned zone, including rows appended later — so
    re-appending a deleted id (takedown then re-crawl) would leave the
    vector permanently invisible while its rows still sit in the
    zones.  Compact first (the fold erases the tombstone) or assign a
    fresh id; `zones.reingest_conflicts` detects the collision and the
    CLI append path refuses it."""
    base = zones.as_local_path(base)
    ids = zones.id_frame(spark, vec_ids, "neighbor_id")
    batch = (
        spark.read.parquet(f"{base}/index_assigned")
        .select("neighbor_id")
        .join(F.broadcast(ids.distinct()), "neighbor_id")
    )
    return zones.append_tombstones(
        spark, [base], batch, ANN_TOMBSTONES_SCHEMA, None
    )


def compact_ann_index(spark, base: str, out_base: str) -> str:
    """Fold a tombstoned IVF-PQ index into a fresh base dir: the
    assigned and codes zones are rewritten WITHOUT the tombstoned
    vectors (one anti-join each — never a re-encode), the frozen
    artifacts (centroids / codebook / manifest) are copied verbatim
    (they ARE the index identity; a compaction must not fork the
    quantizer), and the output carries NO tombstones zone — serving it
    needs no per-query adjustment, completing the delete lifecycle:
    delete appends a tombstone, serve anti-joins it, compact erases it
    physically (the `retrieval.compact_bm25_index` fold applied to
    ANN, oracle-gated via ``ann_compacted_serving``).  ``out_base`` is
    guarded by `zones.compact_root`."""
    import os
    import shutil

    base = zones.as_local_path(base)
    out_base = zones.compact_root(out_base, [base])
    tomb = zones.read_tombstones(spark, [base], ANN_TOMBSTONES_SCHEMA)
    assigned = zones.drop_tombstoned(
        spark.read.parquet(f"{base}/index_assigned"), tomb
    )
    codes = spark.read.parquet(f"{base}/index_codes")
    if tomb is not None:
        # the codes zone is keyed by the build's id_col (first column)
        codes = zones.drop_tombstoned(
            codes, tomb.withColumnRenamed("neighbor_id", codes.columns[0])
        )
    assigned.write.mode("overwrite").parquet(f"{out_base}/index_assigned")
    codes.write.mode("overwrite").parquet(f"{out_base}/index_codes")
    for artifact in ("centroids", "codebook", "manifest"):
        src = f"{base}/{artifact}"
        if os.path.isdir(src):
            dst = f"{out_base}/{artifact}"
            shutil.rmtree(dst, ignore_errors=True)
            shutil.copytree(src, dst)
    return out_base
