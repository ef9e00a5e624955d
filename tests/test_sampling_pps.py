"""operators/sampling.py — bucketed cumulative sum + systematic PPS.

Contracts: the distributed cumsum equals a sequential scan in the
(bucket, key) total order, is invariant to input partitioning, and the
PPS selection matches a pure-Python integer reference (same floor
arithmetic, same md5 buckets).
"""

import hashlib

from proyecto_gasto_publico_etl_per__spark.operators import sampling


def _bucket(key, salt="cumsum", n=256):
    return int(hashlib.md5(f"{salt}:{key}".encode()).hexdigest()[:8], 16) % n


def _rows():
    # weights spanning tiny to dominating so a heavy row exists
    return [(i, (i * 37) % 97 + 1) for i in range(200)] + [(999, 5000)]


def _ref_cumsum(rows, salt="cumsum"):
    ordered = sorted(rows, key=lambda r: (_bucket(r[0], salt), r[0]))
    out, cum = {}, 0
    for k, w in ordered:
        cum += w
        out[k] = cum
    return out, cum


def test_bucketed_cumsum_matches_sequential_reference(spark):
    rows = _rows()
    df = spark.createDataFrame(rows, "id LONG, w LONG")
    got = {
        r["id"]: (r["cum"], r["wtot"])
        for r in sampling.bucketed_cumsum(df, "id", "w").collect()
    }
    ref, total = _ref_cumsum(rows)
    assert {k: c for k, (c, _) in got.items()} == ref
    assert all(t == total for _, t in got.values())


def test_bucketed_cumsum_partitioning_invariant(spark):
    rows = _rows()
    one = sampling.bucketed_cumsum(
        spark.createDataFrame(rows, "id LONG, w LONG").coalesce(1), "id", "w"
    )
    many = sampling.bucketed_cumsum(
        spark.createDataFrame(rows, "id LONG, w LONG").repartition(13),
        "id",
        "w",
    )
    assert sorted(map(tuple, one.collect())) == sorted(
        map(tuple, many.collect())
    )


def _ref_pps(rows, k, salt="pps"):
    ref, total = _ref_cumsum(rows, salt)
    step = total // k
    start = step // 2

    def f(x):  # points <= x (x >= -1)
        return (x + step - start) // step

    out = {}
    for key, w in rows:
        cum = ref[key]
        hits = f(cum - 1) - f(cum - w - 1)
        if hits >= 1:
            out[key] = hits
    return out


def test_pps_matches_python_reference_and_hits_heavy_rows(spark):
    rows = _rows()
    df = spark.createDataFrame(rows, "id LONG, w LONG")
    got = {
        r["id"]: r["n_hits"]
        for r in sampling.pps_systematic_sample(df, "id", "w", k=20).collect()
    }
    ref = _ref_pps(rows, k=20)
    assert got == ref
    # the dominating row's weight exceeds step => always selected
    total = sum(w for _, w in rows)
    assert rows[-1][1] > total // 20
    assert got[999] >= 1
    # systematic design: total multiplicity == number of points placed
    step = total // 20
    assert sum(got.values()) == (total - 1 + step - step // 2) // step


def test_pps_sample_size_tracks_k(spark):
    rows = [(i, 10) for i in range(500)]  # uniform weights
    df = spark.createDataFrame(rows, "id LONG, w LONG")
    n = sampling.pps_systematic_sample(df, "id", "w", k=25).count()
    assert 24 <= n <= 26  # floor rounding can add/drop one point


def test_pps_k_exceeding_total_weight_selects_everything(spark):
    # step floors at 1: every weight unit is a point, n_hits == weight
    rows = [(1, 3), (2, 1), (3, 2)]
    df = spark.createDataFrame(rows, "id LONG, w LONG")
    got = {
        r["id"]: r["n_hits"]
        for r in sampling.pps_systematic_sample(df, "id", "w", k=100).collect()
    }
    assert got == {1: 3, 2: 1, 3: 2}
