"""End-to-end MEF pipeline test: CSV → transform → load → views → Q1.

Exercises the full reference lifecycle (SURVEY.md §3) on a tiny synthetic
raw file, including the idempotent re-load property."""

from __future__ import annotations

import csv
import os
import re
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from proyecto_gasto_publico_etl_per__spark.plans import mef_pipeline
from proyecto_gasto_publico_etl_per__spark.plans import queries as Q

#: Reference-true raw headers (transformar_mensual.py:32-69): the ejecutora
#: code column is ``EJECUTORA`` (no _CODIGO suffix) and the sector code is
#: ``SECTOR``, exactly as in the MEF extracts.
HEADER = [
    "ANO_EJE", "MES_EJE", "NIVEL_GOBIERNO", "NIVEL_GOBIERNO_NOMBRE",
    "SEC_EJEC", "EJECUTORA", "EJECUTORA_NOMBRE", "SECTOR",
    "SECTOR_NOMBRE", "MONTO_PIA", "MONTO_PIM", "MONTO_DEVENGADO",
]


def _write_csv(path: Path, rows: list[list[str]]) -> None:
    with open(path, "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(HEADER)
        w.writerows(rows)


@pytest.fixture()
def raw_csv(tmp_path):
    p = tmp_path / "2024-Gasto-Mensual.csv"
    _write_csv(
        p,
        [
            ["2024", "1", "E", "GOBIERNO NACIONAL", "001", "E1",
             " Ejecutora   Uno ", "01", "SALUD", "100.5", "110", "90"],
            ["2024", "1", "E", "GOBIERNO NACIONAL", "001", "E1",
             "Ejecutora Uno", "01", "SALUD", "50", "55", "45.25"],  # same grain
            ["2024", "2", "R", "GOBIERNO REGIONAL", "002", "E2",
             "Ejecutora Dos", "02", "EDUCACION", "200", "220", "180"],
            ["bad", "1", "E", "x", "003", "E3", "x", "03", "x", "1", "1", "1"],
            ["2024", "13", "E", "x", "004", "E4", "x", "04", "x", "1", "1", "1"],
        ],
    )
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

    base = mef_pipeline.register_views(spark, wh)
    # the denormalized view carries dim attributes + calendar columns
    assert {"anio", "mes", "trimestre", "sector_nombre",
            "ejecutora_nombre"} <= set(base.columns)
    # text cleaning normalized the dim attribute at extraction time
    names = {r.ejecutora_nombre for r in base.select("ejecutora_nombre").collect()}
    assert "Ejecutora Uno" in names

    q1 = Q.q1_ytd_by_sector(base, 2024, 6).collect()
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


def test_streaming_load_continuous_warehouse(spark, tmp_path, raw_csv):
    """Normalized files arrive over time; each streaming_load run folds
    exactly the new ones into the star warehouse, idempotently."""
    norm_dir = str(tmp_path / "normalized")
    wh = str(tmp_path / "warehouse")
    ckpt = str(tmp_path / "ckpt")

    mef_pipeline.transform(spark, raw_csv, norm_dir)
    mef_pipeline.streaming_load(spark, norm_dir, wh, ckpt)
    fact = spark.read.parquet(f"{wh}/fact_gasto_mensual")
    assert fact.count() == 2  # consolidated grain, as in the batch load

    # nothing new: re-run leaves the warehouse untouched
    mef_pipeline.streaming_load(spark, norm_dir, wh, ckpt)
    assert spark.read.parquet(f"{wh}/fact_gasto_mensual").count() == 2

    # a new month lands in the normalized zone
    extra = tmp_path / "2024-extra.csv"
    _write_csv(
        extra,
        [["2024", "3", "M", "GOBIERNO LOCAL", "003", "E3", "Ejecutora Tres",
          "03", "TRANSPORTE", "70", "77", "60"]],
    )
    # (transform's mode=ignore skips an existing dir — append directly)
    from proyecto_gasto_publico_etl_per__spark.operators import normalize
    from proyecto_gasto_publico_etl_per__spark.sources.csv_source import (
        read_monthly_csv,
    )

    normalize.normalize_monthly(
        read_monthly_csv(spark, str(extra))
    ).write.mode("append").partitionBy("ANO_EJE").parquet(norm_dir)

    mef_pipeline.streaming_load(spark, norm_dir, wh, ckpt)
    fact3 = spark.read.parquet(f"{wh}/fact_gasto_mensual")
    assert fact3.count() == 3
    total = fact3.agg(F.sum("monto_pia").alias("t")).collect()[0].t
    assert float(total) == 420.5  # 350.5 + 70


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
    from proyecto_gasto_publico_etl_per__spark.schema_comments import (
        with_column_comments,
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
    commented = with_column_comments(records)
    assert added(records, commented) == 1
    resolved = star.resolve_fks(commented, DIMENSIONS)
    assert len(DIMENSIONS) == 7 and added(commented, resolved) == 2
