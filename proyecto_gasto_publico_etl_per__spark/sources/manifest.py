"""File-statistics manifest + pruned scans: data skipping made explicit.

A range-clustered layout (``repartitionByRange`` + ``sortWithinPartitions``)
makes each file cover a narrow range of the cluster columns; Spark's parquet
reader then skips ROW GROUPS via footer min/max once a file is open.
What that leaves on the table at 100 TB is the listing-and-footer bill
itself: a range query over one month of a year-clustered fact still
schedules a task per file and opens every footer.  This module is the
catalog layer the table formats (Iceberg manifests, Delta's stats in
the log) add on top: per-FILE min/max/null-count/row-count collected
ONCE into a tiny manifest, and a scan planner that consults the
manifest first and hands Spark only the files that can match — the
skip happens before any task is scheduled or any footer opened.

Layout: the manifest is one small parquet table under
``<table>/_stats_manifest`` — the underscore prefix keeps it invisible
to Hadoop's listing filter, so plain ``spark.read.parquet(table)``
still sees only data files (test-pinned).  One row per data file:
``file`` (name), ``row_count``, and per tracked column ``min_<c>`` /
``max_<c>`` (the column's own type) and ``nulls_<c>``.

Build is metadata-only and distributed: the file list fans out over
executors and each partition reads ONLY parquet footers
(`pyarrow.parquet`), aggregating row-group stats per file — at a
million files that is a million footer reads once, instead of per
query.  Parquet writers may TRUNCATE long binary min/max stats, but
the spec requires truncated bounds to stay valid (max rounds UP, min
rounds DOWN), so pruning on them is conservative, never wrong; a
row group carrying no stats for a tracked column marks the file's
bound NULL, and NULL-bounded files are always kept.

Staleness is refused, not guessed: `pruned_scan` cross-checks the
live file listing against the manifest and raises on any data file
the manifest doesn't know (a file appended after the build would
otherwise be SILENTLY dropped from results — the one failure mode a
skipping layer must never have).  Re-running `build_stats_manifest`
refreshes the whole manifest; at scale the refresh is incremental by
construction (footers of new files only — the old rows are still
valid because parquet files are immutable).
"""

from __future__ import annotations

import os
from collections.abc import Iterator, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MANIFEST_DIR = "_stats_manifest"

#: footer-read fan-out: files per executor task during a manifest build
_FILES_PER_TASK = 64

#: per-file bloom geometry: 8192 bits / 4 hashes ≈ 2.4% false-positive
#: rate at 1024 distinct values per file, stored SPARSE (set-bit
#:positions) so low-cardinality files cost bytes, not bits
BLOOM_BITS = 8192
BLOOM_HASHES = 4


def bloom_positions(value, bits: int = BLOOM_BITS, k: int = BLOOM_HASHES):
    """The k bloom bit positions of ``value`` — md5-prefix hashes with
    the hash index as salt (the engine's portable-hash discipline;
    `_bloom_pos_cols` is the Spark twin, and build/probe sharing THIS
    function is what makes the filter sound)."""
    import hashlib

    out = []
    for i in range(k):
        h = hashlib.md5(f"b{i}|{value}".encode("utf-8")).hexdigest()
        out.append(int(h[:8], 16) % bits)
    return out


def _bloom_pos_cols(col: str, bits: int, k: int) -> list:
    """Spark expressions mirroring `bloom_positions` — same md5, same
    salt, same modulus, so a bit set at build time is exactly the bit
    probed at plan time."""
    c = F.col(col).cast("string")
    return [
        F.pmod(
            F.conv(
                F.substring(F.md5(F.concat(F.lit(f"b{i}|"), c)), 1, 8),
                16,
                10,
            ).cast("long"),
            bits,
        ).cast("int")
        for i in range(k)
    ]


def data_files(path: str) -> list[str]:
    """The table's parquet data files (top-level part files and
    Hive-style partition subdirs), excluding ``_``/``.``-prefixed
    entries — the same visibility rule Hadoop's listing applies."""
    out: list[str] = []
    for dirpath, dirnames, filenames in os.walk(path):
        dirnames[:] = [
            d for d in dirnames if not d.startswith(("_", "."))
        ]
        for f in filenames:
            if f.startswith(("_", ".")) or not f.endswith(".parquet"):
                continue
            out.append(os.path.join(dirpath, f))
    return sorted(out)


def _stat_ddl(spark: SparkSession, path: str, cols: Sequence[str]) -> str:
    """Manifest schema DDL: per tracked column, min/max in the
    column's OWN Spark type (so range comparisons at plan time use the
    column's native ordering) plus a null count."""
    table_schema = spark.read.parquet(path).schema
    types = {f.name: f.dataType.simpleString() for f in table_schema}
    missing = [c for c in cols if c not in types]
    if missing:
        raise ValueError(
            f"manifest: columns {missing} not in table {path!r} "
            f"(has {sorted(types)})"
        )
    parts = ["file STRING", "row_count LONG"]
    for c in cols:
        t = types[c]
        parts += [f"min_{c} {t}", f"max_{c} {t}", f"nulls_{c} LONG"]
    return ", ".join(parts)


def build_stats_manifest(
    spark: SparkSession,
    path: str,
    cols: Sequence[str],
    blooms: Sequence[str] = (),
) -> str:
    """Collect per-file stats for ``cols`` (plus optional per-file
    bloom filters for ``blooms``) into ``<path>/_stats_manifest``;
    returns the manifest directory.

    The job shape at scale: the file list becomes a DataFrame, fans
    out ~64 files per task, and each task opens only FOOTERS —
    `pyarrow.parquet.ParquetFile(...).metadata` — folding row-group
    stats into one row per file.  No data page is ever read for the
    min/max stats.  Bloom columns DO cost one data scan of just those
    columns (hash → distinct (file, bit) → per-file sparse bitset,
    map-side combinable), because equality skipping needs membership,
    not bounds — min/max cannot prune a point lookup on a
    hash-clustered key whose range spans every file.  The bloom rides
    in the same manifest row as ``bloom_<c>`` (sorted set-bit
    positions, ≤ BLOOM_BITS ints per file)."""
    if not cols and not blooms:
        raise ValueError("manifest: need at least one tracked column")
    files = data_files(path)
    if not files:
        raise ValueError(f"manifest: no parquet data files under {path!r}")
    table_cols = set(spark.read.parquet(path).schema.names)
    bad = [c for c in blooms if c not in table_cols]
    if bad:
        raise ValueError(
            f"manifest: bloom columns {bad} not in table {path!r}"
        )
    ddl = _stat_ddl(spark, path, cols)
    cols = list(cols)

    def read_footers(batches: Iterator) -> Iterator:
        import pandas as pd
        import pyarrow.parquet as pq

        for pdf in batches:
            rows = []
            for full in pdf["file"]:
                md = pq.ParquetFile(full).metadata
                idx = {
                    md.schema.column(i).name: i
                    for i in range(md.num_columns)
                }
                rec: dict = {
                    "file": os.path.basename(full),
                    "row_count": md.num_rows,
                }
                for c in cols:
                    mn = mx = None
                    nulls = 0
                    ok = True
                    for rg in range(md.num_row_groups):
                        st = md.row_group(rg).column(idx[c]).statistics
                        if st is None or not st.has_min_max:
                            # a stats-less row group poisons the file's
                            # bounds (they would no longer bound it) —
                            # NULL bounds mean "always keep this file"
                            ok = False
                        else:
                            mn = st.min if mn is None else min(mn, st.min)
                            mx = st.max if mx is None else max(mx, st.max)
                        if st is not None and st.null_count is not None:
                            nulls += st.null_count
                    rec[f"min_{c}"] = mn if ok else None
                    rec[f"max_{c}"] = mx if ok else None
                    rec[f"nulls_{c}"] = nulls
                rows.append(rec)
            yield pd.DataFrame(rows)

    n_tasks = max(1, (len(files) + _FILES_PER_TASK - 1) // _FILES_PER_TASK)
    stats = (
        spark.createDataFrame([(f,) for f in files], "file STRING")
        .repartition(n_tasks)
        .mapInPandas(read_footers, ddl)
    )
    for c in blooms:
        # one column-pruned scan: value → k bit positions → distinct
        # (file, bit) — a hash aggregate that combines map-side, so the
        # shuffle carries at most |files|·BLOOM_BITS rows — → per-file
        # sparse bitset.  NULLs set no bits (a NULL never equals the
        # probe value).
        fname = F.element_at(F.split(F.input_file_name(), "/"), -1)
        bloom = (
            spark.read.parquet(path)
            .where(F.col(c).isNotNull())
            .select(
                fname.alias("file"),
                F.explode(
                    F.array(*_bloom_pos_cols(c, BLOOM_BITS, BLOOM_HASHES))
                ).alias("bit"),
            )
            .distinct()
            .groupBy("file")
            .agg(F.sort_array(F.collect_list("bit")).alias(f"bloom_{c}"))
        )
        stats = stats.join(bloom, "file", "left").withColumn(
            f"bloom_{c}",
            F.coalesce(F.col(f"bloom_{c}"), F.array().cast("array<int>")),
        )
    out = os.path.join(path, MANIFEST_DIR)
    stats.write.mode("overwrite").parquet(out)
    return out


def read_manifest(spark: SparkSession, path: str) -> DataFrame:
    mpath = os.path.join(path, MANIFEST_DIR)
    if not os.path.isdir(mpath):
        raise ValueError(
            f"manifest: {path!r} has no {MANIFEST_DIR} — run "
            "build_stats_manifest first"
        )
    return spark.read.parquet(mpath)


def select_files(
    spark: SparkSession,
    path: str,
    col: str,
    lower=None,
    upper=None,
) -> tuple[list[str], int]:
    """(files that can hold rows with ``lower <= col <= upper``, total
    file count).  Bounds are inclusive; ``None`` means unbounded.  A
    file is kept unless its stats PROVE it cannot match — NULL bounds
    keep the file (conservative), and truncated writer stats are
    already widened by the parquet spec, so keep/skip is never wrong.

    The decision runs on the collected manifest — deliberately
    driver-side: the manifest is metadata (one row per file), and this
    IS the planning step every table format runs on the coordinator.

    Staleness guard: any data file missing from the manifest raises —
    a skipped-because-unknown file would silently drop rows."""
    mf = read_manifest(spark, path)
    if f"min_{col}" not in mf.columns:
        raise ValueError(
            f"manifest: column {col!r} is not tracked "
            f"(tracked: {[c[4:] for c in mf.columns if c.startswith('min_')]})"
        )
    rows = mf.select("file", f"min_{col}", f"max_{col}").collect()
    known = {r["file"] for r in rows}
    live = data_files(path)
    unknown = [f for f in live if os.path.basename(f) not in known]
    if unknown:
        raise ValueError(
            f"manifest: {len(unknown)} data file(s) under {path!r} are "
            "not in the manifest (appended after the build?) — rebuild "
            f"with build_stats_manifest; first: {unknown[0]!r}"
        )
    by_name = {os.path.basename(f): f for f in live}
    kept = []
    for r in rows:
        name = r["file"]
        if name not in by_name:
            continue  # file compacted away since the build — harmless
        mn, mx = r[f"min_{col}"], r[f"max_{col}"]
        if mn is None or mx is None:
            kept.append(by_name[name])
            continue
        if lower is not None and mx < lower:
            continue
        if upper is not None and mn > upper:
            continue
        kept.append(by_name[name])
    return kept, len(live)


def pruned_scan(
    spark: SparkSession,
    path: str,
    col: str,
    lower=None,
    upper=None,
) -> DataFrame:
    """Scan only the files whose stats admit ``lower <= col <=
    upper``, then apply the EXACT predicate (file stats bound ranges,
    they don't filter rows).  Result-identical to a full scan + filter
    (test- and oracle-pinned); the saving is that skipped files cost
    nothing — no task, no footer, no page.  An empty selection returns
    an empty frame with the table's schema."""
    schema = spark.read.parquet(path).schema
    kept, _total = select_files(spark, path, col, lower, upper)
    if not kept:
        df = spark.createDataFrame([], schema)
    else:
        df = spark.read.schema(schema).parquet(*kept)
    pred = None
    if lower is not None:
        pred = F.col(col) >= F.lit(lower)
    if upper is not None:
        up = F.col(col) <= F.lit(upper)
        pred = up if pred is None else pred & up
    return df if pred is None else df.where(pred)


def select_files_eq(
    spark: SparkSession, path: str, col: str, value
) -> tuple[list[str], int]:
    """(files that can contain ``col == value``, total file count) —
    the EQUALITY twin of `select_files`: min/max bounds first (a value
    outside a file's range is proven absent), then the per-file bloom
    when the manifest carries one (``blooms=[col]`` at build time) —
    a file is kept only if ALL k probe bits are set.  Blooms answer
    the query ranges cannot: on a HASH-clustered key every file spans
    the whole value range, so min/max keeps everything, while the
    bloom keeps ~FPR·|files| — the point-lookup skipping a clustered
    layout can't provide.  False positives only cost a wasted scan of
    one file (the exact predicate still filters rows); false negatives
    cannot happen because build and probe share `bloom_positions`.
    Same staleness guard as the range path."""
    mf = read_manifest(spark, path)
    has_range = f"min_{col}" in mf.columns
    has_bloom = f"bloom_{col}" in mf.columns
    if not has_range and not has_bloom:
        raise ValueError(
            f"manifest: column {col!r} has neither range stats nor a "
            "bloom filter in the manifest"
        )
    sel = ["file"]
    if has_range:
        sel += [f"min_{col}", f"max_{col}"]
    if has_bloom:
        sel.append(f"bloom_{col}")
    rows = mf.select(*sel).collect()
    known = {r["file"] for r in rows}
    live = data_files(path)
    unknown = [f for f in live if os.path.basename(f) not in known]
    if unknown:
        raise ValueError(
            f"manifest: {len(unknown)} data file(s) under {path!r} are "
            "not in the manifest (appended after the build?) — rebuild "
            f"with build_stats_manifest; first: {unknown[0]!r}"
        )
    by_name = {os.path.basename(f): f for f in live}
    probe = set(bloom_positions(value))
    kept = []
    for r in rows:
        name = r["file"]
        if name not in by_name:
            continue
        if has_range:
            mn, mx = r[f"min_{col}"], r[f"max_{col}"]
            if mn is not None and mx is not None and not (
                mn <= value <= mx
            ):
                continue
        if has_bloom and not probe.issubset(set(r[f"bloom_{col}"])):
            continue
        kept.append(by_name[name])
    return kept, len(live)


def point_lookup(
    spark: SparkSession, path: str, col: str, value
) -> DataFrame:
    """Rows with ``col == value``, scanning only the files the
    manifest cannot rule out (`select_files_eq`) — result-identical to
    a full scan + equality filter, at the cost of the surviving files
    only.  At 100 TB with a hash-clustered key and a bloom'd manifest
    this is the index-free point lookup: ~FPR·|files| + true-match
    files scanned instead of the table."""
    schema = spark.read.parquet(path).schema
    kept, _total = select_files_eq(spark, path, col, value)
    if not kept:
        df = spark.createDataFrame([], schema)
    else:
        df = spark.read.schema(schema).parquet(*kept)
    return df.where(F.col(col) == F.lit(value))
