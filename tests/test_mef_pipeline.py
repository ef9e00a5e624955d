"""End-to-end MEF pipeline test: CSV → transform → load → views → Q1.

Exercises the full reference lifecycle (SURVEY.md §3) on a tiny synthetic
raw file, including the idempotent re-load property."""

from __future__ import annotations

import csv
import json
import os
import re
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from proyecto_gasto_publico_etl_per__spark.plans import mef_pipeline
from proyecto_gasto_publico_etl_per__spark.plans import queries as Q
from proyecto_gasto_publico_etl_per__spark.schema import DIMENSIONS

#: Reference-true raw headers (transformar_mensual.py:32-69): the ejecutora
#: code column is ``EJECUTORA`` (no _CODIGO suffix) and the sector code is
#: ``SECTOR``, exactly as in the MEF extracts.
HEADER = [
    "ANO_EJE", "MES_EJE", "NIVEL_GOBIERNO", "NIVEL_GOBIERNO_NOMBRE",
    "SEC_EJEC", "EJECUTORA", "EJECUTORA_NOMBRE", "SECTOR",
    "SECTOR_NOMBRE", "MONTO_PIA", "MONTO_PIM", "MONTO_DEVENGADO",
]


def _write_csv(
    path: Path, rows: list[list[str]], header: list[str] = HEADER
) -> None:
    with open(path, "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(header)
        w.writerows(rows)


#: the ``raw_csv`` fixture's rows: a duplicate grain, a junk year and an
#: out-of-range month among them
RAW_ROWS = [
    ["2024", "1", "E", "GOBIERNO NACIONAL", "001", "E1",
     " Ejecutora   Uno ", "01", "SALUD", "100.5", "110", "90"],
    ["2024", "1", "E", "GOBIERNO NACIONAL", "001", "E1",
     "Ejecutora Uno", "01", "SALUD", "50", "55", "45.25"],  # same grain
    ["2024", "2", "R", "GOBIERNO REGIONAL", "002", "E2",
     "Ejecutora Dos", "02", "EDUCACION", "200", "220", "180"],
    ["bad", "1", "E", "x", "003", "E3", "x", "03", "x", "1", "1", "1"],
    ["2024", "13", "E", "x", "004", "E4", "x", "04", "x", "1", "1", "1"],
]


@pytest.fixture()
def raw_csv(tmp_path):
    p = tmp_path / "2024-Gasto-Mensual.csv"
    _write_csv(p, RAW_ROWS)
    return str(p)


def test_full_pipeline(spark, tmp_path, raw_csv):
    norm_dir = str(tmp_path / "normalized")
    wh = str(tmp_path / "warehouse")

    normalized = mef_pipeline.transform(spark, raw_csv, norm_dir)
    stored = spark.read.parquet(norm_dir)
    assert stored.count() == 3  # two junk rows filtered

    fact = mef_pipeline.load(spark, norm_dir, wh)
    # grain consolidation collapsed the duplicate (2024-01, E1) rows
    assert fact.count() == 2
    sums = {
        r.anio_mes: float(r.pia)
        for r in fact.groupBy(
            F.col("tiempo_id").alias("anio_mes")
        ).agg(F.sum("monto_pia").alias("pia")).collect()
    }
    assert sums[202401] == 150.5
    assert sums[202402] == 200.0

    # idempotency: re-loading the same input must not change the fact
    fact2 = mef_pipeline.load(spark, norm_dir, wh)
    assert fact2.count() == 2
    total = fact2.agg(F.sum("monto_pia").alias("t")).collect()[0].t
    assert float(total) == 350.5

    source = mef_pipeline.register_views(spark, wh)
    base = spark.table("vw_gasto_mensual")
    # the denormalized view carries dim attributes + calendar columns
    assert {"anio", "mes", "trimestre", "sector_nombre",
            "ejecutora_nombre"} <= set(base.columns)
    # text cleaning normalized the dim attribute at extraction time
    names = {r.ejecutora_nombre for r in base.select("ejecutora_nombre").collect()}
    assert "Ejecutora Uno" in names

    q1 = Q.q1_ytd_by_sector(source, 2024, 6).collect()
    by_sector = {r.sector_nombre: r.devengado_ytd for r in q1}
    assert by_sector == {"EDUCACION": 180.0, "SALUD": 135.25}

    # views are queryable through Spark SQL (the BI path, SURVEY.md §3.3)
    n = spark.sql("SELECT count(*) AS n FROM vw_gasto_mensual").collect()[0].n
    assert n == 2


def test_fact_year_filter_prunes_partitions(spark, tmp_path, raw_csv):
    """The fact is partitioned by anio; a year predicate must reach the
    scan as a partition filter (file-level pruning — the property that
    keeps year-scoped queries O(year) not O(warehouse) at 100 TB)."""
    norm_dir = str(tmp_path / "normalized")
    wh = str(tmp_path / "warehouse")
    mef_pipeline.transform(spark, raw_csv, norm_dir)
    mef_pipeline.load(spark, norm_dir, wh)

    fact = spark.read.parquet(f"{wh}/fact_gasto_mensual")
    plan = (
        fact.filter(F.col("anio") == 2024)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    import re

    m = re.search(r"PartitionFilters: \[[^\]]*anio[^\]]*\]", plan)
    assert m, f"no partition filter on anio in plan:\n{plan[:2000]}"


def test_discover_year_files(tmp_path):
    from proyecto_gasto_publico_etl_per__spark.sources.csv_source import (
        discover_year_files,
    )

    names = [
        "2023-Gasto.csv", "2024-Gasto-Mensual.csv", "2022-Gasto-Diario.csv",
        "notes.csv", "2021-Gasto-Mensual.csv", "readme.txt",
    ]
    for n in names:
        (tmp_path / n).write_text("x\n")
    got = [p.name for p in discover_year_files(tmp_path)]
    assert got == ["2021-Gasto-Mensual.csv", "2023-Gasto.csv",
                   "2024-Gasto-Mensual.csv"]
    got = [p.name for p in discover_year_files(tmp_path, years=[2023, 2024])]
    assert got == ["2023-Gasto.csv", "2024-Gasto-Mensual.csv"]


def test_cli_transform_directory_with_year_filter(spark, tmp_path):
    from proyecto_gasto_publico_etl_per__spark import cli

    raw = tmp_path / "raw"
    raw.mkdir()
    for year, mes in [("2023", "3"), ("2024", "1"), ("2025", "7")]:
        _write_csv(
            raw / f"{year}-Gasto-Mensual.csv",
            [[year, mes, "E", "NACIONAL", "001", "E1", "Ej",
              "01", "SALUD", "10", "11", "9"]],
        )
    out = str(tmp_path / "norm")
    cli.main(["transform", str(raw), out, "2023", "2024"])
    years = sorted(r.ANO_EJE for r in spark.read.parquet(out).collect())
    assert years == [2023, 2024]  # 2025 excluded by the year filter


def test_incremental_load_touches_only_affected_year_partitions(
    spark, tmp_path
):
    """Loading a new year's data must not rewrite existing year
    partitions (partitioned append + partition-scoped
    anti-join) — the property that keeps incremental loads O(year),
    not O(warehouse)."""
    import os

    wh = str(tmp_path / "warehouse")

    def _load_year(year, mes, monto):
        raw = tmp_path / f"{year}-Gasto-Mensual.csv"
        _write_csv(
            raw,
            [[str(year), mes, "E", "NACIONAL", "001", f"E{year}", "Ej",
              "01", "SALUD", monto, "1", "1"]],
        )
        nd = str(tmp_path / f"norm{year}_{mes}")
        mef_pipeline.transform(spark, str(raw), nd)
        mef_pipeline.load(spark, nd, wh)

    _load_year(2023, "1", "10")
    p2023 = Path(wh, "fact_gasto_mensual", "anio=2023")
    files_before = {
        f: os.path.getmtime(p2023 / f) for f in os.listdir(p2023)
        if f.endswith(".parquet")
    }

    _load_year(2024, "1", "20")
    files_after = {
        f: os.path.getmtime(p2023 / f) for f in os.listdir(p2023)
        if f.endswith(".parquet")
    }
    assert files_before == files_after  # 2023 partition untouched
    fact = spark.read.parquet(f"{wh}/fact_gasto_mensual")
    assert sorted(r.anio for r in fact.collect()) == [2023, 2024]


def test_view_year_filter_prunes_fact_partitions(spark, tmp_path, raw_csv):
    """A year predicate issued through the serving view must still prune
    fact partitions — the view serves the fact's own anio column."""
    norm_dir = str(tmp_path / "normalized")
    wh = str(tmp_path / "warehouse")
    mef_pipeline.transform(spark, raw_csv, norm_dir)
    mef_pipeline.load(spark, norm_dir, wh)
    mef_pipeline.register_views(spark, wh)

    plan = (
        spark.sql("SELECT sum(monto_devengado) FROM vw_gasto_mensual "
                  "WHERE anio = 2024")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    import re

    m = re.search(r"PartitionFilters: \[[^\]]*anio[^\]]*2024[^\]]*\]", plan)
    assert m, f"view year filter did not prune fact partitions:\n{plan[:3000]}"


def test_cli_load_year_filter(spark, tmp_path):
    from proyecto_gasto_publico_etl_per__spark import cli

    raw = tmp_path / "raw"
    raw.mkdir()
    for year in ("2023", "2024"):
        _write_csv(
            raw / f"{year}-Gasto-Mensual.csv",
            [[year, "1", "E", "NACIONAL", "001", "E1", "Ej",
              "01", "SALUD", "10", "11", "9"]],
        )
    norm = str(tmp_path / "norm")
    wh = str(tmp_path / "wh")
    cli.main(["transform", str(raw), norm])
    cli.main(["load", norm, wh, "2024"])
    years = [r.anio for r in spark.read.parquet(f"{wh}/fact_gasto_mensual").collect()]
    assert years == [2024]  # 2023 excluded by the load year filter
    # a filtered load is not the file set the ledger keys on
    assert not _ledger_entries(wh)

    # the whole dir goes through mef_pipeline.load and its ledger
    cli.main(["load", norm, wh])
    assert len(_ledger_entries(wh)) == 1
    years = sorted(
        r.anio for r in spark.read.parquet(f"{wh}/fact_gasto_mensual").collect()
    )
    assert years == [2023, 2024]


def test_cli_sniff_and_inspect(tmp_path, capsys, spark):
    from proyecto_gasto_publico_etl_per__spark import cli

    p = tmp_path / "2024-Gasto.csv"
    p.write_bytes("A;B;C\n1;2;3\n".encode("latin-1"))
    cli.main(["sniff", str(p)])
    out = capsys.readouterr().out
    assert "separator: ';'" in out and "columns: 3" in out

    q = tmp_path / "2024-Gasto-Mensual.csv"
    _write_csv(q, [["2024", "1", "E", "N", "1", "E1", "X", "01", "S",
                    "1", "2", "3"]])
    cli.main(["inspect", str(q), "--rows", "5"])
    out = capsys.readouterr().out
    assert "ANO_EJE" in out and "2024" in out


def test_load_of_all_invalid_month_is_safe_noop(spark, tmp_path):
    """A raw file whose every row fails validity produces an empty
    normalized set; loading it must neither fail nor disturb the
    existing warehouse (the reference logs-and-continues,
    transformar_mensual.py:181-183)."""
    wh = str(tmp_path / "wh")

    good = tmp_path / "2024-Gasto-Mensual.csv"
    _write_csv(good, [["2024", "1", "E", "N", "1", "E1", "X", "01", "S",
                       "5", "5", "5"]])
    nd1 = str(tmp_path / "n1")
    mef_pipeline.transform(spark, str(good), nd1)
    mef_pipeline.load(spark, nd1, wh)
    assert spark.read.parquet(f"{wh}/fact_gasto_mensual").count() == 1

    bad = tmp_path / "2025-Gasto-Mensual.csv"
    _write_csv(bad, [["bad", "1", "E", "N", "1", "E1", "X", "01", "S",
                      "1", "1", "1"],
                     ["2025", "99", "E", "N", "1", "E1", "X", "01", "S",
                      "1", "1", "1"]])
    # the all-invalid normalized frame loads as a harmless no-op
    from proyecto_gasto_publico_etl_per__spark.operators import normalize
    from proyecto_gasto_publico_etl_per__spark.sources.csv_source import (
        read_monthly_csv,
    )

    empty = normalize.normalize_monthly(read_monthly_csv(spark, str(bad)))
    assert empty.count() == 0
    mef_pipeline.load_frame(spark, empty, wh)
    fact = spark.read.parquet(f"{wh}/fact_gasto_mensual")
    assert fact.count() == 1  # warehouse untouched


def test_materialized_agg_incremental_refresh_equals_full_rebuild(
    spark, tmp_path
):
    """Incremental materialized-aggregate maintenance: refreshing only the
    loaded year reproduces the full rebuild exactly, and untouched year
    partitions keep their files byte-for-byte."""
    import os

    wh = str(tmp_path / "warehouse")
    agg = str(tmp_path / "agg_mensual")

    def _load_year(year, mes, monto):
        raw = tmp_path / f"{year}-Gasto-Mensual.csv"
        _write_csv(
            raw,
            [[str(year), mes, "E", "NACIONAL", "001", f"E{year}", "Ej",
              "01", "SALUD", monto, "1", "1"]],
        )
        nd = str(tmp_path / f"magg{year}_{mes}")
        mef_pipeline.transform(spark, str(raw), nd)
        mef_pipeline.load(spark, nd, wh)

    _load_year(2023, "1", "10")
    mef_pipeline.materialize_agg_mensual(spark, wh, agg)  # full build
    p2023 = Path(agg, "anio=2023")
    before = {
        f: os.path.getmtime(p2023 / f) for f in os.listdir(p2023)
        if f.endswith(".parquet")
    }

    _load_year(2024, "1", "20")
    mef_pipeline.materialize_agg_mensual(spark, wh, agg, years=[2024])

    after = {
        f: os.path.getmtime(p2023 / f) for f in os.listdir(p2023)
        if f.endswith(".parquet")
    }
    assert before == after  # 2023 aggregate partition untouched

    full = str(tmp_path / "agg_full")
    mef_pipeline.materialize_agg_mensual(spark, wh, full)
    got = {tuple(r) for r in spark.read.parquet(agg).collect()}
    want = {tuple(r) for r in spark.read.parquet(full).collect()}
    assert got == want and got


def test_cli_sql_and_refresh_agg(spark, tmp_path, raw_csv, capsys):
    """`sql` serves ad-hoc SQL over the registered views; `refresh-agg`
    drives the materialized aggregate from the command line."""
    from proyecto_gasto_publico_etl_per__spark import cli

    norm = str(tmp_path / "norm")
    wh = str(tmp_path / "wh")
    mef_pipeline.transform(spark, raw_csv, norm)
    mef_pipeline.load(spark, norm, wh)

    cli.main(
        ["sql", wh,
         "SELECT count(*) AS n FROM vw_gasto_agregado_mensual"]
    )
    out = capsys.readouterr().out
    assert "n" in out and "| 0" not in out.split("\n")[3]

    agg = str(tmp_path / "agg")
    cli.main(["refresh-agg", wh, agg])
    assert spark.read.parquet(agg).count() > 0


def _data_files(root: str) -> dict[str, int]:
    """relative path → mtime (ns) of every data file under ``root``."""
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            if not f.startswith((".", "_")):
                p = Path(dirpath, f)
                out[str(p.relative_to(root))] = p.stat().st_mtime_ns
    return out


def test_load_appends_only_the_delta(spark, tmp_path, raw_csv):
    """The load is append-only: a replay writes no file, and a month that
    brings no new dim key leaves every dim file alone and adds fact files
    only under its own year partition — stored files are never rewritten."""
    wh = str(tmp_path / "warehouse")
    norm_dir = str(tmp_path / "normalized")
    mef_pipeline.transform(spark, raw_csv, norm_dir)
    mef_pipeline.load(spark, norm_dir, wh)
    first = _data_files(wh)
    assert any(rel.startswith("dim_ejecutora/") for rel in first)

    mef_pipeline.load(spark, norm_dir, wh)
    assert _data_files(wh) == first

    march = tmp_path / "2024-03-Gasto-Mensual.csv"
    _write_csv(
        march,
        [["2024", "3", "E", "GOBIERNO NACIONAL", "001", "E1",
          "Ejecutora Uno", "01", "SALUD", "7", "8", "9"]],
    )
    nd = str(tmp_path / "normalized_march")
    mef_pipeline.transform(spark, str(march), nd)
    mef_pipeline.load(spark, nd, wh)
    after = _data_files(wh)
    assert {rel: after.get(rel) for rel in first} == first
    added = set(after) - set(first)
    assert added
    assert all(
        rel.startswith("fact_gasto_mensual/anio=2024/") for rel in added
    ), added
    assert spark.read.parquet(f"{wh}/fact_gasto_mensual").count() == 3


def _project_count(df) -> int:
    plan = df._jdf.queryExecution().logical().toString()
    return len(re.findall(r"^[\s+:-]*'?Project ", plan, re.M))


def test_wide_etl_steps_are_one_projection(spark):
    """Each wide ETL step adds one Project to the logical plan (two for
    FK resolution: keys, then ids) whatever its column count — a
    per-column chain adds one per column, each re-analyzed by Catalyst."""
    from proyecto_gasto_publico_etl_per__spark.operators import (
        normalize,
        star,
    )
    from proyecto_gasto_publico_etl_per__spark.schema import (
        COLS_CLAVE,
        DIMENSIONS,
        RAW_INT_COLS,
        RAW_METRIC_COLS,
    )

    def added(before, after) -> int:
        return _project_count(after) - _project_count(before)

    raw = spark.createDataFrame([["1"] * len(COLS_CLAVE)], list(COLS_CLAVE))
    numeric = set(RAW_INT_COLS) | set(RAW_METRIC_COLS)
    text = [c for c in COLS_CLAVE if c not in numeric]

    coerced = normalize.coerce_numeric(raw)
    assert len(numeric) == 10 and added(raw, coerced) == 1
    cleaned = normalize.clean_text_cols(coerced, text)
    assert len(text) == 54 and added(coerced, cleaned) == 1
    records = mef_pipeline._star_records(cleaned)
    resolved = star.resolve_fks(records, DIMENSIONS)
    assert len(DIMENSIONS) == 7 and added(records, resolved) == 2


def _jobs_of(spark, group: str, run) -> int:
    """Spark jobs started while ``run()`` ran under job group ``group``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "mef load job-count gate")
    try:
        run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _ledger_entries(wh: str) -> list[Path]:
    return sorted(Path(wh, mef_pipeline.LEDGER).glob("_*.json"))


def _month(spark, tmp_path, name: str, rows: list[list[str]]) -> str:
    """Transform a one-off raw month into its own normalized dir."""
    raw = tmp_path / f"{name}.csv"
    _write_csv(raw, rows)
    nd = str(tmp_path / f"normalized_{name}")
    mef_pipeline.transform(spark, str(raw), nd)
    return nd


def test_replay_runs_no_spark_job(spark, tmp_path, raw_csv):
    """A replay of transform + load stops at the transform gate and the
    load ledger: no Spark job, no file written."""
    norm_dir = str(tmp_path / "normalized")
    wh = str(tmp_path / "warehouse")
    mef_pipeline.transform(spark, raw_csv, norm_dir)
    mef_pipeline.load(spark, norm_dir, wh)
    assert len(_ledger_entries(wh)) == 1
    first = _data_files(wh)

    def replay():
        mef_pipeline.transform(spark, raw_csv, norm_dir)
        mef_pipeline.load(spark, norm_dir, wh)

    assert _jobs_of(spark, "mef-replay", replay) == 0
    assert _data_files(wh) == first
    assert spark.read.parquet(f"{wh}/fact_gasto_mensual").count() == 2


def test_changed_file_under_same_name_is_loaded(spark, tmp_path, raw_csv):
    """The ledger keys on the normalized bytes, not on names: a re-transform
    of a changed raw file into the same dir loads its new grain rows."""
    norm_dir = str(tmp_path / "normalized")
    wh = str(tmp_path / "warehouse")
    mef_pipeline.transform(spark, raw_csv, norm_dir)
    mef_pipeline.load(spark, norm_dir, wh)

    with open(raw_csv, "a", newline="") as fh:
        csv.writer(fh).writerow(
            ["2024", "4", "E", "GOBIERNO NACIONAL", "001", "E1",
             "Ejecutora Uno", "01", "SALUD", "7", "8", "9"]
        )
    mef_pipeline.transform(spark, raw_csv, norm_dir, overwrite=True)
    fact = mef_pipeline.load(spark, norm_dir, wh)
    assert sorted(r.tiempo_id for r in fact.collect()) == [
        202401, 202402, 202404
    ]
    assert len(_ledger_entries(wh)) == 2


def test_stale_ledger_reloads_missing_rows(spark, tmp_path, raw_csv):
    """A ledger entry whose recorded fact file is gone does not skip the
    load: the grain anti-join re-appends exactly the missing rows."""
    norm_dir = str(tmp_path / "normalized")
    wh = str(tmp_path / "warehouse")
    mef_pipeline.transform(spark, raw_csv, norm_dir)
    want = {tuple(r) for r in mef_pipeline.load(spark, norm_dir, wh).collect()}
    (entry,) = _ledger_entries(wh)
    recorded = json.loads(entry.read_text())["files"]
    fact_files = [f for f in recorded if f.startswith("fact_gasto_mensual/")]
    assert fact_files
    for rel in fact_files:
        Path(wh, rel).unlink()
    assert mef_pipeline.read_warehouse(
        spark, f"{wh}/fact_gasto_mensual", "fact_gasto_mensual"
    ).count() == 0

    got = {tuple(r) for r in mef_pipeline.load(spark, norm_dir, wh).collect()}
    assert got == want
    # the reload re-recorded the entry, so the next replay is free again
    assert _jobs_of(
        spark, "mef-stale-replay", lambda: mef_pipeline.load(spark, norm_dir, wh)
    ) == 0


def test_one_new_ejecutora_appends_one_dim_row(spark, tmp_path, raw_csv):
    """A month whose only new natural key is one ejecutora appends one row
    to ``dim_ejecutora`` and no file to any other dim."""
    norm_dir = str(tmp_path / "normalized")
    wh = str(tmp_path / "warehouse")
    mef_pipeline.transform(spark, raw_csv, norm_dir)
    mef_pipeline.load(spark, norm_dir, wh)
    before = _data_files(wh)
    n_ejec = spark.read.parquet(f"{wh}/dim_ejecutora").count()

    nd = _month(spark, tmp_path, "2024-05-Gasto-Mensual", [
        ["2024", "5", "E", "GOBIERNO NACIONAL", "009", "E9",
         "Ejecutora Nueve", "01", "SALUD", "1", "2", "3"],
        ["2024", "5", "R", "GOBIERNO REGIONAL", "002", "E2",
         "Ejecutora Dos", "02", "EDUCACION", "4", "5", "6"],
    ])
    mef_pipeline.load(spark, nd, wh)
    added = set(_data_files(wh)) - set(before)
    dim_files = {rel for rel in added if rel.startswith("dim_")}
    assert len(dim_files) == 1 and next(iter(dim_files)).startswith(
        "dim_ejecutora/"
    ), added
    assert spark.read.parquet(f"{wh}/dim_ejecutora").count() == n_ejec + 1
    new = spark.read.parquet(f"{wh}/{next(iter(dim_files))}").collect()
    assert [(r.sec_ejec, r.ejecutora_codigo) for r in new] == [("009", "E9")]


#: Spark jobs of a monthly load into an existing year that brings no new
#: dim key, on the small fixture: the probe's collect, then the fact's
#: grain consolidation and partition-scoped anti-join append.
REFRESH_LOAD_JOB_BUDGET = 6


def test_refresh_load_job_budget(spark, tmp_path, raw_csv):
    """The refresh load runs one probe, not a probe per dim: a change that
    adds probe jobs back fails here."""
    norm_dir = str(tmp_path / "normalized")
    wh = str(tmp_path / "warehouse")
    mef_pipeline.transform(spark, raw_csv, norm_dir)
    mef_pipeline.load(spark, norm_dir, wh)
    nd = _month(spark, tmp_path, "2024-03-Gasto-Mensual", [
        ["2024", "3", "E", "GOBIERNO NACIONAL", "001", "E1",
         "Ejecutora Uno", "01", "SALUD", "7", "8", "9"],
    ])
    n = _jobs_of(spark, "mef-refresh", lambda: mef_pipeline.load(spark, nd, wh))
    assert n <= REFRESH_LOAD_JOB_BUDGET, n
    assert spark.read.parquet(f"{wh}/fact_gasto_mensual").count() == 3


def _orphan_fact_rows(spark, wh: str) -> int:
    """Stored fact rows without their calendar row or a dim row."""
    fact, time_dim, dims = mef_pipeline._read_star(spark, wh)
    parents = [(time_dim, "tiempo_id")]
    parents += [(dims[d.name], d.id_col) for d in DIMENSIONS]
    return sum(
        fact.join(parent.select(key), key, "left_anti").count()
        for parent, key in parents
    )


def test_months_beyond_the_calendar_are_served(spark, tmp_path, raw_csv):
    """Months of 2031 and 2009 lie outside the generated 2010-2030
    calendar: the load appends those years' calendar rows, so
    ``vw_gasto_mensual`` serves them instead of silently dropping them,
    and no stored fact row lacks its calendar or dim row."""
    norm_dir = str(tmp_path / "normalized")
    wh = str(tmp_path / "warehouse")
    mef_pipeline.transform(spark, raw_csv, norm_dir)
    mef_pipeline.load(spark, norm_dir, wh)
    assert _orphan_fact_rows(spark, wh) == 0
    calendar = spark.read.parquet(f"{wh}/dim_tiempo")
    assert calendar.count() == 252

    nd = _month(spark, tmp_path, "2031-and-2009-Gasto-Mensual", [
        ["2031", "7", "E", "GOBIERNO NACIONAL", "001", "E1",
         "Ejecutora Uno", "01", "SALUD", "7", "8", "9"],
        ["2009", "12", "R", "GOBIERNO REGIONAL", "002", "E2",
         "Ejecutora Dos", "02", "EDUCACION", "4", "5", "6"],
    ])
    mef_pipeline.load(spark, nd, wh)
    mef_pipeline.register_views(spark, wh)
    served = spark.sql(
        "SELECT anio, mes, trimestre, monto_devengado FROM vw_gasto_mensual "
        "WHERE anio IN (2009, 2031)"
    ).collect()
    assert sorted((r.anio, r.mes, r.trimestre) for r in served) == [
        (2009, 12, 4), (2031, 7, 3)
    ]
    assert _orphan_fact_rows(spark, wh) == 0
    calendar = spark.read.parquet(f"{wh}/dim_tiempo")
    assert calendar.count() == 252 + 24
    assert calendar.select("tiempo_id").distinct().count() == 252 + 24

    # a load whose years the calendar now covers appends no calendar file
    before = _data_files(f"{wh}/dim_tiempo")
    nd = _month(spark, tmp_path, "2031-08-Gasto-Mensual", [
        ["2031", "8", "E", "GOBIERNO NACIONAL", "001", "E1",
         "Ejecutora Uno", "01", "SALUD", "1", "2", "3"],
    ])
    mef_pipeline.load(spark, nd, wh)
    assert _data_files(f"{wh}/dim_tiempo") == before
    assert _orphan_fact_rows(spark, wh) == 0


# --- serving over the warehouse ---------------------------------------------

#: a wider extract: its clasificador keys and comprometido give one
#: específica a positive backlog, so Q4 serves rows
Q4_HEADER = [
    *HEADER, "GENERICA", "ESPECIFICA", "ESPECIFICA_NOMBRE", "MONTO_COMPROMETIDO",
]


@pytest.fixture(scope="module")
def served_warehouse(spark, tmp_path_factory):
    """A warehouse of the ``raw_csv`` rows, months of 2031 and 2009 (beyond
    the generated calendar) and a month in which one específica has
    committed more than it accrued."""
    root = tmp_path_factory.mktemp("served")
    wh = str(root / "warehouse")
    months = {
        "2024-Gasto-Mensual": (HEADER, RAW_ROWS),
        "2031-and-2009-Gasto-Mensual": (HEADER, [
            ["2031", "7", "E", "GOBIERNO NACIONAL", "001", "E1",
             "Ejecutora Uno", "01", "SALUD", "7", "8", "9"],
            ["2009", "12", "R", "GOBIERNO REGIONAL", "002", "E2",
             "Ejecutora Dos", "02", "EDUCACION", "4", "5", "6"],
        ]),
        "2024-03-Gasto-Mensual": (Q4_HEADER, [
            ["2024", "3", "E", "GOBIERNO NACIONAL", "001", "E1",
             "Ejecutora Uno", "01", "SALUD", "10", "20", "5.5",
             "2", "1", "ESP UNO", "30.25"],
            ["2024", "3", "R", "GOBIERNO REGIONAL", "003", "E3",
             "Ejecutora Tres", "01", "SALUD", "1", "2", "3",
             "2", "1", "ESP UNO", "4"],
            ["2024", "4", "R", "GOBIERNO REGIONAL", "002", "E2",
             "Ejecutora Dos", "02", "EDUCACION", "10", "60", "50",
             "2", "2", "ESP DOS", "40"],
        ]),
    }
    for name, (header, rows) in months.items():
        raw = root / f"{name}.csv"
        _write_csv(raw, rows, header)
        nd = str(root / f"normalized_{name}")
        mef_pipeline.transform(spark, str(raw), nd)
        mef_pipeline.load(spark, nd, wh)
    return wh


def _serving_ops(spark, source) -> dict:
    """The paper's seven star-serving operations over a registered
    warehouse: Q1-Q5 for 2024 up to June, and both aggregate views."""
    return {
        "q1": lambda: Q.q1_ytd_by_sector(source, 2024, 6),
        "q2": lambda: Q.q2_top_ejecutoras(source, 2024),
        "q3": lambda: Q.q3_share_of_total(source, 2024, 6, "SALUD"),
        "q4": lambda: Q.q4_backlog(source, 2024, 6),
        "q5": lambda: Q.q5_quarterly_evolution(source, 2009, 2031),
        "vw_gasto_agregado_mensual": lambda: spark.table(
            "vw_gasto_agregado_mensual"
        ),
        "vw_gasto_agregado_anual": lambda: spark.table(
            "vw_gasto_agregado_anual"
        ),
    }


#: Spark jobs of one star-serving operation (build, plan, run, fetch as
#: Arrow) or of the aggregate refresh on the small fixture: a broadcast
#: per dim read plus the aggregate's stages.  Q1-Q5 run 3-5, the monthly
#: view and the materialize 6, so a calendar join added back to those
#: two fails; over the full star (fact ⋈ calendar ⋈ 7 dims) each ran
#: 10-12.
SERVING_JOB_BUDGET = 6


def test_serving_job_budget(spark, tmp_path, served_warehouse):
    """Each serving operation and the refresh's materialize join only the
    dims they read and no calendar: a change that joins them back fails
    here."""
    wh = served_warehouse
    source = mef_pipeline.register_views(spark, wh)
    jobs = {
        name: _jobs_of(spark, f"mef-serve-{name}", lambda b=build: b().toArrow())
        for name, build in _serving_ops(spark, source).items()
    }
    jobs["materialize"] = _jobs_of(
        spark,
        "mef-serve-materialize",
        lambda: mef_pipeline.materialize_agg_mensual(
            spark, wh, str(tmp_path / "agg"), years=[2024]
        ),
    )
    assert max(jobs.values()) <= SERVING_JOB_BUDGET, jobs


def _reference_star(wh: str):
    """DuckDB over the stored parquet with the reference's star
    (V:21-114): the fact inner-joined to ``dim_tiempo`` and all 7 dims,
    serving the calendar's anio/mes/trimestre."""
    import duckdb

    con = duckdb.connect()
    for table in ("dim_tiempo", *(d.name for d in DIMENSIONS)):
        con.execute(
            f"CREATE VIEW {table} AS "
            f"SELECT * FROM read_parquet('{wh}/{table}/*.parquet')"
        )
    con.execute(
        "CREATE VIEW fact_gasto_mensual AS SELECT * FROM read_parquet("
        f"'{wh}/fact_gasto_mensual/*/*.parquet', hive_partitioning = false)"
    )
    joins = " ".join(f"JOIN {d.name} USING ({d.id_col})" for d in DIMENSIONS)
    con.execute(
        "CREATE VIEW vw_gasto_mensual AS SELECT * FROM fact_gasto_mensual "
        f"JOIN dim_tiempo USING (tiempo_id) {joins}"
    )
    return con


#: the reference SQL of the serving operations (Q:3-101, README:244-265,
#: V:119-196) with ``_serving_ops``' parameters, over ``_reference_star``
REFERENCE_SQL = {
    "q1": """
        SELECT sector_nombre,
               CAST(SUM(monto_devengado) AS DOUBLE) AS devengado_ytd
        FROM vw_gasto_mensual
        WHERE anio = 2024 AND mes BETWEEN 1 AND 6
        GROUP BY sector_nombre""",
    "q2": """
        SELECT ejecutora_nombre,
               CAST(SUM(monto_devengado) AS DOUBLE) AS devengado_total
        FROM vw_gasto_mensual
        WHERE anio = 2024
        GROUP BY ejecutora_nombre
        ORDER BY devengado_total DESC, ejecutora_nombre
        LIMIT 5""",
    "q3": """
        WITH ytd AS (
            SELECT ejecutora_nombre, SUM(monto_devengado) AS dev
            FROM vw_gasto_mensual
            WHERE anio = 2024 AND mes BETWEEN 1 AND 6
              AND sector_nombre = 'SALUD'
            GROUP BY ejecutora_nombre
        )
        SELECT ejecutora_nombre,
               CAST(dev AS DOUBLE) AS devengado_ytd,
               CASE WHEN SUM(dev) OVER () > 0
                    THEN CAST(dev AS DOUBLE) / CAST(SUM(dev) OVER () AS DOUBLE)
                    ELSE 0 END AS participacion
        FROM ytd""",
    "q4": """
        SELECT especifica_nombre,
               CAST(SUM(monto_comprometido) AS DOUBLE) AS comprometido,
               CAST(SUM(monto_devengado) AS DOUBLE) AS devengado,
               CAST(SUM(monto_comprometido) AS DOUBLE)
                 - CAST(SUM(monto_devengado) AS DOUBLE) AS backlog
        FROM vw_gasto_mensual
        WHERE anio = 2024 AND mes BETWEEN 1 AND 6
        GROUP BY especifica_nombre
        HAVING CAST(SUM(monto_comprometido) AS DOUBLE)
                 - CAST(SUM(monto_devengado) AS DOUBLE) > 0
        ORDER BY backlog DESC, especifica_nombre
        LIMIT 20""",
    "q5": """
        SELECT anio, trimestre, nivel_gobierno_nombre,
               CAST(SUM(monto_devengado) AS DOUBLE) AS devengado
        FROM vw_gasto_mensual
        WHERE anio BETWEEN 2009 AND 2031
        GROUP BY 1, 2, 3""",
    "q6": """
        SELECT anio, sector_nombre,
               CAST(SUM(monto_devengado) AS DOUBLE) AS ejecutado_total
        FROM vw_gasto_mensual
        GROUP BY 1, 2""",
    "q7": """
        SELECT sector_nombre, ejecutora_nombre,
               CAST(SUM(monto_devengado) AS DOUBLE) AS devengado_total
        FROM vw_gasto_mensual
        WHERE anio = 2024
        GROUP BY 1, 2
        ORDER BY devengado_total DESC, ejecutora_nombre, sector_nombre
        LIMIT 10""",
    "vw_gasto_agregado_mensual": """
        WITH labeled AS (
            SELECT anio, mes, trimestre, ejecutora_nombre,
                   COALESCE(NULLIF(TRIM(sector_nombre), ''), 'SIN SECTOR')
                       AS sector_nombre,
                   COALESCE(NULLIF(TRIM(pliego_nombre), ''), 'SIN PLIEGO')
                       AS pliego_nombre,
                   COALESCE(NULLIF(TRIM(dep_ejecutora_nombre), ''),
                            'SIN DEPARTAMENTO') AS dep_ejecutora_nombre,
                   COALESCE(NULLIF(TRIM(prov_ejecutora_nombre), ''),
                            'SIN PROVINCIA') AS prov_ejecutora_nombre,
                   COALESCE(NULLIF(TRIM(dist_ejecutora_nombre), ''),
                            'SIN DISTRITO') AS dist_ejecutora_nombre,
                   fuente_financiamiento_nombre, categoria_gasto_nombre,
                   generica_nombre, especifica_nombre,
                   monto_pia, monto_pim, monto_certificado,
                   monto_comprometido_anual, monto_comprometido,
                   monto_devengado, monto_girado
            FROM vw_gasto_mensual
        )
        SELECT anio, mes, trimestre, ejecutora_nombre, sector_nombre,
               pliego_nombre, dep_ejecutora_nombre, prov_ejecutora_nombre,
               dist_ejecutora_nombre,
               'Departamento de ' || dep_ejecutora_nombre || ', Perú'
                   AS region_mapa,
               fuente_financiamiento_nombre, categoria_gasto_nombre,
               generica_nombre, especifica_nombre,
               CAST(SUM(COALESCE(monto_pia, 0)) AS DOUBLE) AS pia,
               CAST(SUM(COALESCE(monto_pim, 0)) AS DOUBLE) AS pim,
               CAST(SUM(COALESCE(monto_certificado, 0)) AS DOUBLE)
                   AS certificado,
               CAST(SUM(COALESCE(monto_comprometido_anual, 0)) AS DOUBLE)
                   AS comprometido_anual,
               CAST(SUM(COALESCE(monto_comprometido, 0)) AS DOUBLE)
                   AS comprometido,
               CAST(SUM(COALESCE(monto_devengado, 0)) AS DOUBLE) AS devengado,
               CAST(SUM(COALESCE(monto_girado, 0)) AS DOUBLE) AS girado
        FROM labeled
        GROUP BY 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14""",
    "vw_gasto_agregado_anual": """
        SELECT anio, sector_nombre, pliego_nombre,
               CAST(SUM(COALESCE(monto_pim, 0)) AS DOUBLE) AS pim_total,
               CAST(SUM(COALESCE(monto_devengado, 0)) AS DOUBLE)
                   AS devengado_total,
               CAST(SUM(COALESCE(monto_girado, 0)) AS DOUBLE) AS girado_total
        FROM vw_gasto_mensual
        GROUP BY 1, 2, 3""",
}


def test_serving_equals_the_reference_star_sql(spark, served_warehouse):
    """Q1-Q7 built on ``register_views``' source, and the registered
    aggregate views, equal the reference SQL over the full star join in
    DuckDB: rows, columns, Arrow types and value hash
    (``tools/check_correctness``' comparison)."""
    from perfbench.check import compare

    wh = served_warehouse
    source = mef_pipeline.register_views(spark, wh)
    builders = {
        **_serving_ops(spark, source),
        "q6": lambda: Q.q6_rollup_year_sector(source),
        "q7": lambda: Q.q7_topn_year(source, 2024),
    }
    con = _reference_star(wh)
    try:
        want = {
            name: con.execute(sql).arrow() for name, sql in REFERENCE_SQL.items()
        }
    finally:
        con.close()
    assert want["q4"].num_rows == 1
    assert set(want["q5"].column("anio").to_pylist()) == {2009, 2024, 2031}
    failures = [
        reason
        for name, build in builders.items()
        if (reason := compare(name, build().toArrow(), want[name]))
    ]
    assert not failures, failures
