"""File-stats manifest + pruned scans (sources/manifest.py): skip
correctness, conservativeness, and the staleness guard.

The contract ladder:

1. pruned scan == full scan + filter, while actually skipping files;
2. bounds are inclusive and NULL/statless bounds keep the file
   (pruning may be useless, never wrong);
3. a manifest that doesn't know a live data file REFUSES — the one
   silent-wrong-results mode a skipping layer can have;
4. the manifest directory is invisible to plain table reads.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from proyecto_gasto_publico_etl_per__spark.sources import manifest

from conftest import SF_SMOKE


@pytest.fixture(scope="module")
def clustered(spark, tmp_path_factory):
    """orders → (ym, price, key), range-clustered into 6 files on ym,
    manifest built over ym and key."""
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    copy = orders.select(
        (F.year("o_orderdate") * 100 + F.month("o_orderdate")).alias("ym"),
        F.floor(F.col("o_totalprice") * 10000 + F.lit(0.5))
        .cast("long")
        .alias("price"),
        F.col("o_orderkey").alias("key"),
    )
    root = str(tmp_path_factory.mktemp("mf") / "orders_ym")
    (
        copy.repartitionByRange(6, "ym")
        .sortWithinPartitions("ym")
        .write.parquet(root)
    )
    manifest.build_stats_manifest(spark, root, ["ym", "key"])
    return root, copy


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_pruned_scan_identity(spark, clustered):
    root, copy = clustered
    got = manifest.pruned_scan(spark, root, "ym", 199606, 199711)
    want = copy.where((F.col("ym") >= 199606) & (F.col("ym") <= 199711))
    assert _rows(got) == _rows(want)


def test_pruning_actually_skips(spark, clustered):
    root, _ = clustered
    kept, total = manifest.select_files(spark, root, "ym", 199606, 199711)
    assert total == 6
    assert 0 < len(kept) < total, "18 months of 7 years must skip files"
    # full range keeps everything
    kept_all, _ = manifest.select_files(spark, root, "ym", None, None)
    assert len(kept_all) == total


def test_bounds_inclusive(spark, clustered):
    """A query range that EQUALS a file's max bound must keep that
    file and return its boundary rows."""
    root, copy = clustered
    mf = spark.read.parquet(os.path.join(root, manifest.MANIFEST_DIR))
    some_max = mf.select("max_ym").collect()[0][0]
    got = manifest.pruned_scan(spark, root, "ym", some_max, some_max)
    want = copy.where(F.col("ym") == some_max)
    assert _rows(got) == _rows(want)
    assert got.count() > 0


def test_second_tracked_column(spark, clustered):
    """Stats tracked on a NON-cluster column still prune correctly
    (maybe uselessly — key ranges overlap across ym files — but the
    result is identical)."""
    root, copy = clustered
    got = manifest.pruned_scan(spark, root, "key", 100, 5000)
    want = copy.where((F.col("key") >= 100) & (F.col("key") <= 5000))
    assert _rows(got) == _rows(want)


def test_untracked_column_refused(spark, clustered):
    root, _ = clustered
    with pytest.raises(ValueError, match="not tracked"):
        manifest.select_files(spark, root, "price", 0, 1)


def test_null_bounds_keep_file(spark, tmp_path):
    """A file whose tracked column is ALL NULL has NULL bounds and is
    always kept — its rows can never be proven absent."""
    a = spark.createDataFrame([(1, "x"), (2, "y")], "v INT, s STRING")
    b = spark.createDataFrame(
        [(None, "z")], "v INT, s STRING"
    )
    root = str(tmp_path / "t")
    a.coalesce(1).write.parquet(root)
    b.coalesce(1).write.mode("append").parquet(root)
    manifest.build_stats_manifest(spark, root, ["v"])
    kept, total = manifest.select_files(spark, root, "v", 100, 200)
    assert total == 2
    names = {os.path.basename(f) for f in kept}
    mf = spark.read.parquet(os.path.join(root, manifest.MANIFEST_DIR))
    null_file = mf.where(F.col("min_v").isNull()).collect()[0]["file"]
    assert names == {null_file}, "out-of-range file skipped, null kept"


def test_string_column_pruning(spark, tmp_path):
    df = spark.createDataFrame(
        [("apple",), ("banana",), ("cherry",), ("plum",), ("quince",)],
        "s STRING",
    )
    root = str(tmp_path / "t")
    df.repartitionByRange(2, "s").sortWithinPartitions("s").write.parquet(
        root
    )
    manifest.build_stats_manifest(spark, root, ["s"])
    got = manifest.pruned_scan(spark, root, "s", "b", "d")
    assert {r.s for r in got.collect()} == {"banana", "cherry"}


def test_stale_manifest_refused(spark, tmp_path):
    df = spark.createDataFrame([(1,)], "v INT")
    root = str(tmp_path / "t")
    df.coalesce(1).write.parquet(root)
    manifest.build_stats_manifest(spark, root, ["v"])
    df.coalesce(1).write.mode("append").parquet(root)
    with pytest.raises(ValueError, match="not in the manifest"):
        manifest.pruned_scan(spark, root, "v", 0, 10)
    # rebuild heals
    manifest.build_stats_manifest(spark, root, ["v"])
    assert manifest.pruned_scan(spark, root, "v", 0, 10).count() == 2


def test_compacted_file_tolerated(spark, tmp_path):
    """A manifest row for a file that no longer exists (compacted
    away) is harmless — only LIVE unknown files are a hazard."""
    df = spark.createDataFrame([(1,), (2,)], "v INT")
    root = str(tmp_path / "t")
    df.repartition(2).write.parquet(root)
    manifest.build_stats_manifest(spark, root, ["v"])
    victims = manifest.data_files(root)
    os.remove(victims[0])
    kept, total = manifest.select_files(spark, root, "v", 0, 10)
    assert total == 1 and len(kept) == 1


def test_manifest_invisible_to_table_reads(spark, clustered):
    root, copy = clustered
    assert spark.read.parquet(root).count() == copy.count()
    assert "ym" in spark.read.parquet(root).columns
    assert "min_ym" not in spark.read.parquet(root).columns


def test_empty_selection_keeps_schema(spark, clustered):
    root, copy = clustered
    got = manifest.pruned_scan(spark, root, "ym", 300001, 300012)
    assert got.count() == 0
    assert got.schema == spark.read.parquet(root).schema


def test_no_manifest_refused(spark, tmp_path):
    df = spark.createDataFrame([(1,)], "v INT")
    root = str(tmp_path / "t")
    df.write.parquet(root)
    with pytest.raises(ValueError, match="_stats_manifest"):
        manifest.pruned_scan(spark, root, "v", 0, 1)


def test_cli_table_stats_and_scan(spark, tmp_path, capsys):
    """table-stats → table-scan: the user-facing data-skipping pair,
    with the typed-bound parsing exercised on an int column."""
    from proyecto_gasto_publico_etl_per__spark import cli

    df = spark.createDataFrame([(i,) for i in range(100)], "v INT")
    root = str(tmp_path / "t")
    df.repartitionByRange(4, "v").sortWithinPartitions("v").write.parquet(
        root
    )
    cli.main(["table-stats", root, "v"])
    assert "collected stats for 4 file(s)" in capsys.readouterr().out

    cli.main(["table-scan", root, "v", "--lower", "10", "--upper", "30"])
    out = capsys.readouterr().out
    assert "21 matching row(s)" in out
    kept = int(out.split("scanned ", 1)[1].split("/", 1)[0])
    assert kept < 4, "a quarter-range scan must skip files"

    out_dir = str(tmp_path / "rows")
    cli.main(
        ["table-scan", root, "v", "--lower", "10", "--upper", "30",
         "--out", out_dir]
    )
    assert spark.read.parquet(out_dir).count() == 21


@pytest.fixture(scope="module")
def hash_clustered(spark, tmp_path_factory):
    """orders → (key, price), HASH-clustered into 8 files on key (each
    customer's rows co-located in one file), manifest with range stats
    AND a bloom over the key."""
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    copy = orders.select(
        F.col("o_custkey").alias("key"),
        F.floor(F.col("o_totalprice") * 10000 + F.lit(0.5))
        .cast("long")
        .alias("price"),
    )
    root = str(tmp_path_factory.mktemp("bloom") / "orders_ck")
    copy.repartition(8, "key").write.parquet(root)
    manifest.build_stats_manifest(spark, root, ["key"], blooms=["key"])
    return root, copy


def test_bloom_point_lookup_identity(spark, hash_clustered):
    root, copy = hash_clustered
    keys = [r.key for r in copy.select("key").distinct().limit(5).collect()]
    for k in keys:
        got = manifest.point_lookup(spark, root, "key", k)
        want = copy.where(F.col("key") == k)
        assert _rows(got) == _rows(want)
        assert got.count() > 0


def test_bloom_skips_on_hash_layout(spark, hash_clustered):
    """Range stats keep ALL files on a hash layout (every file spans
    the key range); the bloom keeps ~1."""
    root, copy = hash_clustered
    k = copy.select("key").distinct().limit(1).collect()[0].key
    kept_range, total = manifest.select_files(spark, root, "key", k, k)
    assert len(kept_range) == total == 8, "hash layout defeats min/max"
    kept_eq, _ = manifest.select_files_eq(spark, root, "key", k)
    assert len(kept_eq) <= 2, "bloom must prune a hash-clustered lookup"


def test_bloom_absent_value_and_fp_tolerance(spark, hash_clustered):
    """An absent key keeps ~FPR of the files (usually 0 at 8 files)
    and ALWAYS returns zero rows; sweeping many absent keys bounds the
    observed FPR."""
    root, _ = hash_clustered
    kept_sum = 0
    for probe in range(10_000_000, 10_000_040):
        kept, total = manifest.select_files_eq(spark, root, "key", probe)
        kept_sum += len(kept)
        if kept:
            assert (
                manifest.point_lookup(spark, root, "key", probe).count()
                == 0
            )
    # 40 probes × 8 files = 320 membership tests; FPR ≈ 2.4% at 1024
    # ndv/file — these files hold ~19 keys each, so expect ~0 hits;
    # allow a loose bound for hash luck
    assert kept_sum <= 8


def test_bloom_positions_build_probe_agree(spark):
    """The Spark build expressions and the Python probe compute the
    SAME bit positions — the soundness contract (a mismatch would
    create false negatives = silently dropped rows)."""
    vals = [(0,), (42,), (123456789,), (-7,)]
    df = spark.createDataFrame(vals, "v LONG")
    cols = manifest._bloom_pos_cols("v", manifest.BLOOM_BITS,
                                    manifest.BLOOM_HASHES)
    got = {
        r.v: [r[f"p{i}"] for i in range(manifest.BLOOM_HASHES)]
        for r in df.select(
            "v", *[c.alias(f"p{i}") for i, c in enumerate(cols)]
        ).collect()
    }
    for (v,) in vals:
        assert got[v] == manifest.bloom_positions(v)


def test_bloom_string_column(spark, tmp_path):
    df = spark.createDataFrame(
        [(w,) for w in ["ash", "birch", "cedar", "oak", "pine"] * 4],
        "s STRING",
    )
    root = str(tmp_path / "t")
    df.repartition(4, "s").write.parquet(root)
    manifest.build_stats_manifest(spark, root, [], blooms=["s"])
    got = manifest.point_lookup(spark, root, "s", "cedar")
    assert got.count() == 4
    kept, total = manifest.select_files_eq(spark, root, "s", "cedar")
    assert len(kept) < total


def test_bloom_null_values_set_no_bits(spark, tmp_path):
    """NULLs never match an equality probe, so they set no bloom bits;
    an all-NULL file has an empty bloom and is always skipped."""
    a = spark.createDataFrame([(None,)], "v INT")
    b = spark.createDataFrame([(5,)], "v INT")
    root = str(tmp_path / "t")
    a.coalesce(1).write.parquet(root)
    b.coalesce(1).write.mode("append").parquet(root)
    manifest.build_stats_manifest(spark, root, [], blooms=["v"])
    kept, total = manifest.select_files_eq(spark, root, "v", 5)
    assert total == 2 and len(kept) == 1


def test_eq_without_bloom_falls_back_to_range(spark, clustered):
    """A manifest with only range stats still answers equality
    selection (bounds check) — blooms are an upgrade, not a
    requirement."""
    root, copy = clustered
    got = manifest.point_lookup(spark, root, "ym", 199607)
    want = copy.where(F.col("ym") == 199607)
    assert _rows(got) == _rows(want)
    kept, total = manifest.select_files_eq(spark, root, "ym", 199607)
    assert len(kept) < total, "range-clustered layout prunes equality"


def test_cli_bloom_lookup(spark, tmp_path, capsys):
    """table-stats --blooms → table-scan --equals: the point-lookup
    pair on a hash-clustered layout."""
    from proyecto_gasto_publico_etl_per__spark import cli

    df = spark.createDataFrame(
        [(i % 10, i) for i in range(200)], "k INT, v INT"
    )
    root = str(tmp_path / "t")
    df.repartition(5, "k").write.parquet(root)
    cli.main(["table-stats", root, "--blooms", "k"])
    assert "collected stats for 5 file(s)" in capsys.readouterr().out

    cli.main(["table-scan", root, "k", "--equals", "3"])
    out = capsys.readouterr().out
    assert "20 matching row(s)" in out
    kept = int(out.split("scanned ", 1)[1].split("/", 1)[0])
    assert kept < 5, "bloom must skip files for a point key"

    with pytest.raises(SystemExit, match="mutually exclusive"):
        cli.main(
            ["table-scan", root, "k", "--equals", "3", "--lower", "0"]
        )
