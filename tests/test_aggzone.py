"""Incremental materialized aggregates (operators/aggzone.py): zone
build/serve/compact identities, KMV sketch branches, and the guards.

The lane's contract ladder:

1. one zone serves exactly the direct groupBy (build is lossless);
2. N disjoint zones serve exactly the one-zone answer (merge is
   associative — the incr_agg_serving driver contract);
3. compaction preserves the serve (the incr_agg_compacted contract);
4. the KMV estimate is EXACT below k and within the analytic error
   bound above it;
5. non-associative specs are refused loudly (the shared compaction
   guard and URI boundary are pinned per lane in tests/test_zones.py
   and tests/test_extensions.py).
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from proyecto_gasto_publico_etl_per__spark.operators import aggzone

from conftest import SF_SMOKE


def _orders_input(spark):
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    return orders.select(
        F.col("o_orderpriority").alias("prio"),
        F.year("o_orderdate").alias("anio"),
        F.floor(F.col("o_totalprice") * 10000 + F.lit(0.5))
        .cast("long")
        .alias("price"),
        F.col("o_custkey").alias("cust"),
        F.col("o_orderkey").alias("okey"),
    )


_SPEC = dict(
    keys=["prio", "anio"],
    sums=["price"],
    mins=["price"],
    maxs=["price"],
    kmvs=["cust"],
)


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _direct(df, k=aggzone.KMV_K):
    """The recompute the zones must reproduce: groupBy + the same KMV
    math on the same portable hash."""
    from pyspark.sql import Window

    base = df.groupBy("prio", "anio").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.col("price").cast("decimal(38,0)")).alias("sum_price"),
        F.min("price").alias("min_price"),
        F.max("price").alias("max_price"),
    )
    hashes = (
        df.select("prio", "anio", aggzone.kmv_hash("cust").alias("h"))
        .where(F.col("h").isNotNull())
        .distinct()
    )
    w = Window.partitionBy("prio", "anio").orderBy("h")
    kmv = (
        hashes.withColumn("rn", F.row_number().over(w))
        .groupBy("prio", "anio")
        .agg(
            F.max("rn").alias("nd"),
            F.max(F.when(F.col("rn") == k, F.col("h"))).alias("hk"),
        )
        .select(
            "prio",
            "anio",
            F.when(F.col("nd") < k, F.col("nd").cast("long"))
            .otherwise(
                F.expr(
                    f"CAST({(k - 1) * (1 << 32)} AS BIGINT) div "
                    "greatest(hk, CAST(1 AS BIGINT))"
                )
            )
            .alias("distinct_cust_est"),
        )
    )
    return base.join(kmv, ["prio", "anio"])


def test_single_zone_equals_direct(spark):
    df = _orders_input(spark).drop("okey")
    root = aggzone.build_agg_zone(spark, df, **_SPEC)
    served = aggzone.serve_agg(spark, [root])
    assert _rows(served) == _rows(
        _direct(df).select(*served.columns)
    )


def test_zone_split_invariance_and_compaction(spark):
    """Three disjoint zones == one zone == compacted fold — and zone
    ORDER is irrelevant (merge commutes)."""
    df = _orders_input(spark)
    whole = aggzone.build_agg_zone(spark, df.drop("okey"), **_SPEC)
    parts = [
        aggzone.build_agg_zone(
            spark,
            df.where(F.col("okey") % 3 == i).drop("okey"),
            **_SPEC,
        )
        for i in range(3)
    ]
    want = _rows(aggzone.serve_agg(spark, [whole]))
    assert _rows(aggzone.serve_agg(spark, parts)) == want
    assert _rows(aggzone.serve_agg(spark, parts[::-1])) == want

    folded = aggzone.compact_agg_zones(spark, parts)
    assert _rows(aggzone.serve_agg(spark, [folded])) == want
    # the compacted root is a full-fledged zone: it merges with others
    refolded = aggzone.compact_agg_zones(spark, [folded, whole])
    doubled = _rows(aggzone.serve_agg(spark, [refolded]))
    assert [r[2] for r in doubled] == [2 * r[2] for r in want]


def test_kmv_exact_below_k(spark):
    """Groups with fewer than k distinct values report the EXACT
    distinct count (the sketch saw every hash)."""
    df = _orders_input(spark).drop("okey")
    root = aggzone.build_agg_zone(spark, df, **_SPEC)
    served = aggzone.serve_agg(spark, [root]).collect()
    exact = {
        (r.prio, r.anio): r.nd
        for r in df.groupBy("prio", "anio")
        .agg(F.countDistinct("cust").alias("nd"))
        .collect()
    }
    below = [r for r in served if exact[(r.prio, r.anio)] < aggzone.KMV_K]
    assert below, "sf0.001 groups should sit below k=64"
    for r in below:
        assert r.distinct_cust_est == exact[(r.prio, r.anio)]


def test_kmv_error_bound_above_k(spark):
    """A 5000-distinct single group estimates within 4 standard errors
    (rsd ~ 1/sqrt(k-2) ≈ 12.7% at k=64)."""
    n = 5000
    df = spark.range(n).select(
        F.lit("g").alias("g"), F.col("id").alias("v")
    )
    root = aggzone.build_agg_zone(spark, df, keys=["g"], kmvs=["v"])
    [row] = aggzone.serve_agg(spark, [root]).collect()
    assert abs(row.distinct_v_est - n) / n < 4 * (62 ** -0.5)


def test_kmv_null_and_empty_semantics(spark):
    """NULLs don't count (COUNT DISTINCT semantics); an all-NULL group
    carries an empty sketch and estimates 0."""
    rows = [("a", 1), ("a", None), ("b", None)]
    df = spark.createDataFrame(rows, "g STRING, v INT")
    root = aggzone.build_agg_zone(spark, df, keys=["g"], kmvs=["v"])
    got = {
        r.g: (r.cnt, r.distinct_v_est)
        for r in aggzone.serve_agg(spark, [root]).collect()
    }
    assert got == {"a": (2, 1), "b": (1, 0)}


def test_null_group_key_carries_sketch(spark):
    """A NULL group key is a real group: its kmv partial must attach
    through the null-safe join, not fall out."""
    rows = [(None, 7), (None, 8), ("x", 7)]
    df = spark.createDataFrame(rows, "g STRING, v INT")
    root = aggzone.build_agg_zone(spark, df, keys=["g"], kmvs=["v"])
    got = {
        r.g: (r.cnt, r.distinct_v_est)
        for r in aggzone.serve_agg(spark, [root]).collect()
    }
    assert got == {None: (2, 2), "x": (1, 1)}


def test_double_sum_refused(spark):
    df = spark.createDataFrame([("a", 1.5)], "g STRING, v DOUBLE")
    with pytest.raises(ValueError, match="not associative"):
        aggzone.build_agg_zone(spark, df, keys=["g"], sums=["v"])


def test_decimal_sum_keeps_scale(spark):
    df = spark.createDataFrame(
        [("a", "1.25"), ("a", "2.50")], "g STRING, v STRING"
    ).select("g", F.col("v").cast("decimal(12,2)").alias("v"))
    root = aggzone.build_agg_zone(spark, df, keys=["g"], sums=["v"])
    [row] = aggzone.serve_agg(spark, [root]).collect()
    assert str(row.sum_v) == "3.75"


def test_spec_mismatch_refused(spark):
    df = spark.createDataFrame([("a", 1)], "g STRING, v INT")
    r1 = aggzone.build_agg_zone(spark, df, keys=["g"], sums=["v"])
    r2 = aggzone.build_agg_zone(spark, df, keys=["g"], maxs=["v"])
    with pytest.raises(ValueError, match="different .*spec|different spec"):
        aggzone.serve_agg(spark, [r1, r2])


def test_non_zone_root_refused(spark):
    with pytest.raises(ValueError, match="spec.json"):
        aggzone.serve_agg(spark, ["/tmp/definitely-not-a-zone"])


def test_empty_input_zone_tolerated(spark):
    """A zone built over zero rows (an empty ingest batch) must stay
    readable and act as the merge identity — the declared-schema
    discipline of the retrieval zones."""
    df = _orders_input(spark).drop("okey")
    full = aggzone.build_agg_zone(spark, df, **_SPEC)
    empty = aggzone.build_agg_zone(
        spark, df.where(F.lit(False)), **_SPEC
    )
    assert _rows(aggzone.serve_agg(spark, [full, empty])) == _rows(
        aggzone.serve_agg(spark, [full])
    )


def test_zone_is_self_describing(spark):
    """spec.json records the build spec verbatim — the artifact a
    catalog would register."""
    df = spark.createDataFrame([("a", 1, 2)], "g STRING, v INT, w INT")
    root = aggzone.build_agg_zone(
        spark, df, keys=["g"], sums=["v"], mins=["w"], kmvs=["w"], k=8
    )
    with open(f"{root}/spec.json") as fh:
        spec = json.load(fh)
    assert spec["keys"] == ["g"] and spec["k"] == 8
    assert spec["sums"] == ["v"] and spec["kmvs"] == ["w"]
    assert "schema" in spec


def test_cli_agg_zone_lifecycle(spark, tmp_path, capsys):
    """agg-zone-build → agg-zone-append → agg-zone-serve (== one-zone
    build over the full input) → agg-zone-compact → serve on the bare
    compacted root: the user-facing incremental-rollup lifecycle."""
    from proyecto_gasto_publico_etl_per__spark import cli

    schema = "g STRING, v INT, c INT"
    b1 = [("a", 1, 10), ("a", 2, 11), ("b", 3, 12)]
    b2 = [("a", 4, 10), ("b", 5, 13)]
    d1, d2 = str(tmp_path / "d1"), str(tmp_path / "d2")
    spark.createDataFrame(b1, schema).write.parquet(d1)
    spark.createDataFrame(b2, schema).write.parquet(d2)
    agg = str(tmp_path / "agg")

    cli.main(
        ["agg-zone-build", d1, agg, "--keys", "g", "--sums", "v",
         "--kmvs", "c"]
    )
    assert "materialized 2 group partials" in capsys.readouterr().out
    cli.main(["agg-zone-append", d2, agg])
    assert "appended 2 group partials" in capsys.readouterr().out

    cli.main(["agg-zone-serve", agg])
    served = capsys.readouterr().out
    whole = aggzone.build_agg_zone(
        spark,
        spark.createDataFrame(b1 + b2, schema),
        keys=["g"],
        sums=["v"],
        kmvs=["c"],
    )
    for r in aggzone.serve_agg(spark, [whole]).collect():
        line = f"{r.g}\t{r.cnt}\t{r.sum_v}\t{r.distinct_c_est}"
        assert line in served, f"missing {line!r} in {served!r}"

    out_dir = str(tmp_path / "folded")
    cli.main(["agg-zone-compact", agg, out_dir])
    assert "compacted 2 zone root(s)" in capsys.readouterr().out
    cli.main(["agg-zone-serve", out_dir])
    assert capsys.readouterr().out == served


def test_cli_agg_zone_guards(spark, tmp_path, capsys):
    """The layout guards: build refuses a dir with stale deltas,
    append refuses a missing base, compact refuses overlap."""
    import pytest as _pytest

    from proyecto_gasto_publico_etl_per__spark import cli

    d = str(tmp_path / "d")
    spark.createDataFrame([("a", 1)], "g STRING, v INT").write.parquet(d)
    agg = str(tmp_path / "agg")
    cli.main(["agg-zone-build", d, agg, "--keys", "g", "--sums", "v"])
    cli.main(["agg-zone-append", d, agg])
    capsys.readouterr()

    with _pytest.raises(SystemExit, match="existing zone roots"):
        cli.main(["agg-zone-build", d, agg, "--keys", "g"])
    with _pytest.raises(SystemExit, match="no base"):
        cli.main(["agg-zone-append", d, str(tmp_path / "nothere")])
    with _pytest.raises(SystemExit, match="overlaps"):
        cli.main(["agg-zone-compact", agg, f"{agg}/out"])
    # appends inherit the BASE spec: v stays a sum column
    spec = aggzone.zone_spec(f"{agg}/base")
    assert spec["sums"] == ["v"] and spec["keys"] == ["g"]


def test_kmv_est_quality_exact_branch(spark):
    """At sf0.001 every (prio, anio) customer set sits below k=64, so
    the quality gate must report EXACTLY zero error everywhere."""
    from proyecto_gasto_publico_etl_per__spark.plans.extension_queries import (
        kmv_est_quality,
    )

    rows = kmv_est_quality(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert r.nd_est == r.nd_exact and r.err_ppm == 0


def test_kmv_jaccard_estimator_bound(spark):
    """Sketch Jaccard vs exact on the real sets: every estimate lands
    in [0, 1e6] and within ~4 standard errors of the exact value
    (sd ≈ sqrt(J(1-J)/k) ≤ 1/(2·sqrt(64)) = 62500 ppm)."""
    from proyecto_gasto_publico_etl_per__spark.plans.extension_queries import (
        kmv_jaccard_priorities,
    )

    rows = kmv_jaccard_priorities(spark, SF_SMOKE).collect()
    assert len(rows) == 10, "5 priorities -> 10 unordered pairs"
    for r in rows:
        assert 0 <= r.j_est_ppm <= 1_000_000
        assert abs(r.j_est_ppm - r.j_exact_ppm) <= 250_000
