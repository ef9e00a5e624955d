"""Unit tests for the normalization pipeline (reference transform parity:
ETL Gasto publico Perú/etl/transformar_mensual.py:110-197)."""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import functions as F

from proyecto_gasto_publico_etl_per__spark.operators import normalize
from proyecto_gasto_publico_etl_per__spark.schema import COLS_CLAVE


def test_normalize_headers(spark):
    df = spark.createDataFrame([("a", "b")], ["  ano_eje ", "Mes_Eje"])
    out = normalize.normalize_headers(df)
    assert out.columns == ["ANO_EJE", "MES_EJE"]


def test_conform_schema_adds_missing_and_orders(spark):
    df = spark.createDataFrame([("2020", "x")], ["MES_EJE", "JUNK"])
    out = normalize.conform_schema(df, ["ANO_EJE", "MES_EJE"])
    assert out.columns == ["ANO_EJE", "MES_EJE"]
    row = out.collect()[0]
    assert row.ANO_EJE is None and row.MES_EJE == "2020"


def test_coerce_numeric_junk_to_null(spark):
    df = spark.createDataFrame(
        [("2020", "7", "12.50"), ("junk", "x", "n/a")],
        ["ANO_EJE", "MES_EJE", "MONTO_PIA"],
    )
    out = normalize.coerce_numeric(df).collect()
    assert out[0].ANO_EJE == 2020 and out[0].MES_EJE == 7
    assert out[0].MONTO_PIA == Decimal("12.5000")
    assert out[1].ANO_EJE is None and out[1].MES_EJE is None
    assert out[1].MONTO_PIA is None


def test_clean_text_collapses_whitespace_and_nulls(spark):
    df = spark.createDataFrame([("  a   b \t c  ",), (None,)], ["TXT"])
    out = normalize.clean_text_cols(df, ["TXT"]).collect()
    assert out[0].TXT == "a b c"
    assert out[1].TXT == ""  # NULL -> "" (transformar_mensual.py:92)


def test_with_month_date_and_nulls(spark):
    df = spark.createDataFrame(
        [(2020, 7), (2020, None), (None, 3), (2020, 13)],
        "ANO_EJE INT, MES_EJE INT",
    )
    out = {
        (r.ANO_EJE, r.MES_EJE): r.FECHA
        for r in normalize.with_month_date(df).collect()
    }
    assert str(out[(2020, 7)]) == "2020-07-01"
    assert out[(2020, None)] is None
    assert out[(None, 3)] is None
    assert out[(2020, 13)] is None  # out-of-range month -> NULL, as NaT


def test_filter_valid_period(spark):
    df = spark.createDataFrame(
        [(2020, 7), (0, 5), (2020, 0), (2020, 13), (None, 5), (2020, None)],
        "ANO_EJE INT, MES_EJE INT",
    )
    kept = normalize.filter_valid_period(df).collect()
    assert [(r.ANO_EJE, r.MES_EJE) for r in kept] == [(2020, 7)]


def test_normalize_monthly_end_to_end(spark):
    # A raw chunk with extra junk column, missing most canonical columns,
    # dirty headers, junk numerics, dirty text: the full T:110-197 path.
    df = spark.createDataFrame(
        [
            ("2021", "3", "  SALUD   CENTRAL ", "100.25", "zzz"),
            ("bad", "3", "X", "1", "zzz"),
        ],
        ["ano_eje ", " MES_EJE", "sector_nombre", "monto_pia", "JUNK"],
    )
    out = normalize.normalize_monthly(df)
    assert out.columns == [*COLS_CLAVE, "FECHA"]
    rows = out.collect()
    assert len(rows) == 1  # junk-year row filtered
    r = rows[0]
    assert r.ANO_EJE == 2021 and r.MES_EJE == 3
    assert r.SECTOR_NOMBRE == "SALUD CENTRAL"
    assert r.MONTO_PIA == Decimal("100.2500")
    assert str(r.FECHA) == "2021-03-01"
    # missing text columns conformed to NULL then cleaned to ""
    assert r.PLIEGO_NOMBRE == ""


def test_schema_evolution_merge_schema(spark, tmp_path):
    """A warehouse file written before a column existed reads it as NULL
    under the declared schema: the reference's ALTER TABLE ADD COLUMN
    path (CreacionDeDataWareHouse.sql:149-150 add ``finalidad_nombre``
    and ``meta_nombre`` to ``dim_meta``) without a migration."""
    from proyecto_gasto_publico_etl_per__spark.plans.mef_pipeline import (
        read_warehouse,
    )

    p = str(tmp_path / "dim_meta")
    spark.createDataFrame(
        [(1, "0001", "F1", "D1", "dep 1")],
        "meta_id BIGINT, meta STRING, finalidad STRING, "
        "dep_meta_codigo STRING, dep_meta_nombre STRING",
    ).write.parquet(p)
    spark.createDataFrame(
        [(2, "0002", "F2", "D2", "fin 2", "meta 2", "dep 2")],
        "meta_id BIGINT, meta STRING, finalidad STRING, "
        "dep_meta_codigo STRING, finalidad_nombre STRING, "
        "meta_nombre STRING, dep_meta_nombre STRING",
    ).write.mode("append").parquet(p)

    df = read_warehouse(spark, p, "dim_meta")
    rows = {r.meta_id: r for r in df.collect()}
    # old file: the late columns are NULL
    assert rows[1].finalidad_nombre is None
    assert rows[1].meta_nombre is None
    assert rows[1].dep_meta_nombre == "dep 1"
    assert rows[2].finalidad_nombre == "fin 2"
    assert rows[2].meta_nombre == "meta 2"


def test_malformed_csv_lines_counted_never_silently_dropped(
    spark, tmp_path
):
    """SRC1 parity with visibility: the reference re-parses bad lines with
    the python engine and skips the irrecoverable ones with a warning
    (transformar_mensual.py:152-179).  The engine's PERMISSIVE scan must
    land-or-count a quote-mangled line — never silently vanish it — and
    fail loudly past the corruption threshold."""
    import pytest

    from proyecto_gasto_publico_etl_per__spark.sources.csv_source import (
        CORRUPT_COL,
        read_monthly_csv,
    )

    p = tmp_path / "2024-Gasto-Mensual.csv"
    p.write_text(
        'A,B,C\n'
        '1,"ok",3\n'
        '2,"unclosed quote,3\n'    # malformed: quote never closes
        '4,fine,6\n'
    )
    # audit view: every input line is accounted for — landed or captured
    audit = read_monthly_csv(spark, str(p), keep_corrupt=True)
    rows = audit.collect()
    assert len(rows) == 3  # no line vanished
    bad = [r for r in rows if r[CORRUPT_COL] is not None]
    landed = {r.A for r in rows if r[CORRUPT_COL] is None}
    assert {"1", "4"} <= landed
    # the mangled line either conformed (landed) or was captured raw
    assert bad or "2" in landed

    # loud gate: a tight threshold refuses the load instead of dropping
    if bad:
        with pytest.raises(ValueError, match="corruption ratio"):
            read_monthly_csv(spark, str(p), max_corrupt_ratio=0.0)

    # permissive-threshold load drops ONLY counted-bad rows
    df = read_monthly_csv(spark, str(p), max_corrupt_ratio=0.5)
    assert CORRUPT_COL not in df.columns
    assert {r.A for r in df.collect()} >= {"1", "4"}


def test_latin1_file_reads_correctly(spark, tmp_path):
    """SRC2 parity: a latin-1 MEF extract (accented bytes appearing only
    deep in the file, NOT in row 1) must read as real text, never U+FFFD
    mojibake — the per-file byte sniff decides the encoding before Spark
    ever scans (transformar_mensual.py:131-179)."""
    from proyecto_gasto_publico_etl_per__spark.sources.csv_source import (
        detect_encoding,
        read_monthly_csv,
    )

    p = tmp_path / "2023-Gasto.csv"
    rows = ["SECTOR_NOMBRE,MONTO_PIA"] + [f"PLAIN{i},1" for i in range(50)]
    rows.append("EDUCACIÓN,2")  # the only accented row, far from row 1
    p.write_bytes(("\n".join(rows) + "\n").encode("latin-1"))
    assert detect_encoding(p) == "ISO-8859-1"
    vals = {r.SECTOR_NOMBRE for r in read_monthly_csv(spark, str(p)).collect()}
    assert "EDUCACIÓN" in vals
    assert not any("�" in v for v in vals)


def test_mixed_encoding_multifile_scan(spark, tmp_path):
    """One scan over a utf-8 file and a latin-1 file: each file decodes
    with its OWN encoding (the reference retries per file; a single-scan
    probe can't express that)."""
    from proyecto_gasto_publico_etl_per__spark.sources.csv_source import (
        read_monthly_csv,
    )

    utf8 = tmp_path / "2024-Gasto-Mensual.csv"
    utf8.write_bytes("SECTOR_NOMBRE,MONTO_PIA\nEDUCACIÓN,1\n".encode())
    lat1 = tmp_path / "2023-Gasto.csv"
    lat1.write_bytes(
        "SECTOR_NOMBRE,MONTO_PIA\nSANEAMIENTO Y AÑOS,2\n".encode("latin-1")
    )
    df = read_monthly_csv(spark, [str(utf8), str(lat1)])
    vals = {r.SECTOR_NOMBRE for r in df.collect()}
    assert vals == {"EDUCACIÓN", "SANEAMIENTO Y AÑOS"}


def test_same_encoding_different_column_order(spark, tmp_path):
    """Two files with the same encoding but swapped column ORDER must
    conform by NAME, not position: headers are skipped positionally, so
    a shared schema would silently land values in the wrong columns."""
    from proyecto_gasto_publico_etl_per__spark.sources.csv_source import (
        read_monthly_csv,
    )

    a = tmp_path / "2024-Gasto-Mensual.csv"
    a.write_bytes(b"SECTOR_NOMBRE,MONTO_PIA\nSALUD,1\n")
    b = tmp_path / "2023-Gasto.csv"
    b.write_bytes(b"MONTO_PIA,SECTOR_NOMBRE\n2,EDUCACION\n")
    rows = {
        r.SECTOR_NOMBRE: r.MONTO_PIA
        for r in read_monthly_csv(spark, [str(a), str(b)]).collect()
    }
    assert rows == {"SALUD": "1", "EDUCACION": "2"}


def test_utf8_sig_bom_consumed(spark, tmp_path):
    """A utf-8-sig BOM must not leak into the first header name
    (Spark's UTF-8 reader strips it; the sniff maps BOM → UTF-8)."""
    from proyecto_gasto_publico_etl_per__spark.sources.csv_source import (
        read_monthly_csv,
    )

    p = tmp_path / "2025-Gasto-Mensual.csv"
    p.write_bytes(b"\xef\xbb\xbf" + "ANO_EJE,MES_EJE\n2025,1\n".encode())
    df = read_monthly_csv(spark, str(p))
    assert df.columns[0] == "ANO_EJE"
    assert df.collect()[0].ANO_EJE == "2025"
