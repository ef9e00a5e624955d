"""The declared table catalogs: the ten testdata tables
(``sources.tables.TABLES``) and the MEF warehouse
(``plans.mef_pipeline.WAREHOUSE``).

Every read hands Spark its schema, so these pins hold the catalogs to the
stored data (the footers at each scale factor, the benchmark's generated
tables, a freshly loaded warehouse), make drift fail loudly, and gate the
job count of building reads at zero."""

from __future__ import annotations

import csv
import json
import shutil
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from conftest import SF_ORACLE, SF_SMOKE

from proyecto_gasto_publico_etl_per__spark.plans import mef_pipeline
from proyecto_gasto_publico_etl_per__spark.schema import COLS_CLAVE
from proyecto_gasto_publico_etl_per__spark.schema_comments import (
    COLUMN_COMMENTS,
)
from proyecto_gasto_publico_etl_per__spark.sources import tables
from proyecto_gasto_publico_etl_per__spark.sources.tables import (
    TABLES,
    load_table,
)

#: the testdata at every scale factor: sf0.001, sf0.01, sf0.1
SF_DIRS = (SF_SMOKE, SF_ORACLE, str(Path(SF_SMOKE).with_name("sf0.1")))


def _jobs_of(spark, group: str, build) -> list[int]:
    """Spark job ids started while ``build()`` ran under job group ``group``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "catalog job-count gate")
    try:
        build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_catalog_matches_testdata_footers(spark, sf_dir):
    """At each scale factor, Spark's own inference over every footer gives
    the catalog's columns, order and types, and the catalog read returns
    exactly that schema."""
    for name, declared in TABLES.items():
        path = f"{sf_dir}/{name}.parquet"
        inferred = spark.read.parquet(path).schema
        assert inferred.simpleString() == declared.simpleString(), name
        assert load_table(spark, sf_dir, name).schema.simpleString() == (
            declared.simpleString()
        ), name


def test_catalog_matches_benchmark_tables(spark, tmp_path):
    from perfbench import gen

    gen.write_star_tables(tmp_path, seed=3, sf=0.001)
    for name, declared in TABLES.items():
        inferred = spark.read.parquet(f"{tmp_path}/{name}.parquet").schema
        assert inferred.simpleString() == declared.simpleString(), name


def test_load_table_starts_no_spark_job(spark):
    """Building the read of all ten tables — footer check included — runs
    no Spark job (the inferred read ran one footer job per table)."""
    frames = {}

    def build():
        for name in TABLES:
            frames[name] = load_table(spark, SF_DIRS[0], name, widen=True)

    assert _jobs_of(spark, "catalog_load_table", build) == []
    assert set(frames) == set(TABLES)


def _drifted_nation(tmp_path: Path) -> str:
    """``nation`` with ``n_name`` renamed and ``n_regionkey`` retyped."""
    t = pq.read_table(f"{SF_DIRS[0]}/nation.parquet")
    drifted = pa.table(
        {
            "n_nationkey": t["n_nationkey"],
            "n_label": t["n_name"],
            "n_regionkey": t["n_regionkey"].cast(pa.int64()),
        }
    )
    pq.write_table(drifted, tmp_path / "nation.parquet")
    return str(tmp_path)


def test_drifted_footer_raises(spark, tmp_path):
    sf = _drifted_nation(tmp_path)
    with pytest.raises(ValueError) as err:
        load_table(spark, sf, "nation")
    msg = str(err.value)
    assert "'nation'" in msg
    assert "n_label: stored string, catalog none" in msg
    assert "n_regionkey: stored bigint, catalog int" in msg
    assert "n_name string" in msg  # the catalog column the rename lost


def test_drift_raises_on_the_inferred_path(spark, tmp_path, monkeypatch):
    """A non-local path keeps the inferred read and checks its schema the
    same way (forced here on a local copy)."""
    sf = _drifted_nation(tmp_path)
    monkeypatch.setattr(tables, "_local_files", lambda path: None)
    with pytest.raises(ValueError, match="n_regionkey: stored bigint"):
        load_table(spark, sf, "nation")
    good = load_table(spark, SF_DIRS[0], "nation")
    assert good.schema.simpleString() == TABLES["nation"].simpleString()


def test_footer_subset_reads_only_stored_columns(spark, tmp_path):
    """A footer holding part of the catalog reads as just those columns: a
    query naming an absent one fails at analysis, never reads NULLs."""
    from pyspark.errors import AnalysisException

    pq.write_table(
        pa.table({"doc_id": pa.array([1, 2], pa.int64()), "text": ["a", "b"]}),
        tmp_path / "documents.parquet",
    )
    df = load_table(spark, str(tmp_path), "documents")
    assert df.columns == ["doc_id", "text"]
    with pytest.raises(AnalysisException):
        df.select("lang").collect()


def test_events_nanos_timestamps_truncate_to_micros(spark, tmp_path):
    """An unadjusted TIMESTAMP(NANOS) ``ts`` reads as bigint nanos and is
    rebuilt as the catalog's ``timestamp_ntz``, truncated to micros —
    the values pyarrow's own truncating cast gives."""
    ts = pa.array(
        [
            1_704_067_200_123_456_789,  # 2024-01-01 00:00:00.123456789
            1_717_245_296_000_000_999,
            86_400_000_000_001,
            None,
        ],
        pa.timestamp("ns"),
    )
    n = len(ts)
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(n), pa.int64()),
                "ts": ts,
                "user_id": pa.array(range(n), pa.int64()),
                "event_type": ["click"] * n,
                "value": [1.0] * n,
                "props": ["{}"] * n,
            }
        ),
        tmp_path / "events.parquet",
    )
    footer = pq.read_metadata(tmp_path / "events.parquet")
    assert footer.schema.to_arrow_schema().field("ts").type == pa.timestamp("ns")

    df = load_table(spark, str(tmp_path), "events")
    assert df.schema.simpleString() == TABLES["events"].simpleString()
    got = [r.ts for r in df.orderBy("event_id").collect()]
    assert got == ts.cast(pa.timestamp("us"), safe=False).to_pylist()
    assert got[0].microsecond == 123456


# --- the warehouse ----------------------------------------------------------


def _write_mef_csv(path: Path, rows: list[dict[str, str]]) -> None:
    """A raw monthly extract carrying every retained column."""
    with open(path, "w", newline="") as fh:
        w = csv.DictWriter(fh, fieldnames=list(COLS_CLAVE))
        w.writeheader()
        for row in rows:
            w.writerow({c: row.get(c, f"{c.lower()}_x") for c in COLS_CLAVE})


@pytest.fixture(scope="module")
def warehouse(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("catalog_wh")
    raw = root / "2024-Gasto-Mensual.csv"
    _write_mef_csv(
        raw,
        [
            {"ANO_EJE": "2024", "MES_EJE": m, "TIPO_TRANSACCION": "2",
             "SEC_EJEC": sec, "MONTO_PIA": "10.5", "MONTO_PIM": "11",
             "MONTO_CERTIFICADO": "3", "MONTO_COMPROMETIDO_ANUAL": "4",
             "MONTO_COMPROMETIDO": "5", "MONTO_DEVENGADO": "6",
             "MONTO_GIRADO": "7"}
            for m, sec in (("1", "001"), ("2", "001"), ("2", "002"))
        ],
    )
    norm, wh = root / "normalized", root / "warehouse"
    mef_pipeline.transform(spark, str(raw), str(norm))
    mef_pipeline.load(spark, str(norm), str(wh))
    yield norm, wh
    shutil.rmtree(root, ignore_errors=True)


def test_catalog_matches_loaded_warehouse(spark, warehouse):
    norm, wh = warehouse
    for table, declared in mef_pipeline.WAREHOUSE.items():
        path = norm if table == "normalized" else wh / table
        inferred = spark.read.parquet(str(path)).schema
        assert inferred.simpleString() == declared.simpleString(), table


def test_column_comments_stored_and_served(spark, warehouse):
    """Every commented column carries its comment in the Spark row
    metadata of each stored footer that holds it, and on the served
    ``vw_gasto_mensual``."""
    _, wh = warehouse
    stored: dict[str, set] = {}
    for f in wh.rglob("*.parquet"):
        kv = pq.read_metadata(f).metadata
        row = json.loads(kv[b"org.apache.spark.sql.parquet.row.metadata"])
        for field in row["fields"]:
            if field["name"] in COLUMN_COMMENTS:
                stored.setdefault(field["name"], set()).add(
                    field["metadata"].get("comment")
                )
    assert set(stored) == set(COLUMN_COMMENTS)
    for col, comment in COLUMN_COMMENTS.items():
        assert stored[col] == {comment}, col

    mef_pipeline.register_views(spark, str(wh))
    served = spark.table("vw_gasto_mensual").schema
    for col, comment in COLUMN_COMMENTS.items():
        assert served[col].metadata.get("comment") == comment, col


#: ``vw_gasto_mensual``'s served columns and types, in order: the FK ids
#: (last dim first), ``tiempo_id``, the metrics and the fact's ``anio``,
#: the calendar columns, then each dim's keys and attributes.
VIEW_SCHEMA = [
    ("clasif_gasto_id", "bigint"),
    ("financiera_id", "bigint"),
    ("meta_id", "bigint"),
    ("funcional_id", "bigint"),
    ("programatica_id", "bigint"),
    ("ejecutora_id", "bigint"),
    ("nivel_gobierno_id", "bigint"),
    ("tiempo_id", "bigint"),
    ("monto_pia", "decimal(28,4)"),
    ("monto_pim", "decimal(28,4)"),
    ("monto_certificado", "decimal(28,4)"),
    ("monto_comprometido_anual", "decimal(28,4)"),
    ("monto_comprometido", "decimal(28,4)"),
    ("monto_devengado", "decimal(28,4)"),
    ("monto_girado", "decimal(28,4)"),
    ("anio", "int"),
    ("fecha", "date"),
    ("mes", "int"),
    ("trimestre", "int"),
    ("nivel_gobierno_codigo", "string"),
    ("nivel_gobierno_nombre", "string"),
    ("sec_ejec", "string"),
    ("ejecutora_codigo", "string"),
    ("ejecutora_nombre", "string"),
    ("sector", "string"),
    ("sector_nombre", "string"),
    ("pliego", "string"),
    ("pliego_nombre", "string"),
    ("dep_ejecutora_codigo", "string"),
    ("dep_ejecutora_nombre", "string"),
    ("prov_ejecutora_codigo", "string"),
    ("prov_ejecutora_nombre", "string"),
    ("dist_ejecutora_codigo", "string"),
    ("dist_ejecutora_nombre", "string"),
    ("programa_ppto", "string"),
    ("tipo_act_proy", "string"),
    ("producto_proyecto", "string"),
    ("actividad_accion_obra", "string"),
    ("sec_func", "string"),
    ("programa_ppto_nombre", "string"),
    ("producto_proyecto_nombre", "string"),
    ("actividad_accion_obra_nombre", "string"),
    ("tipo_act_proy_nombre", "string"),
    ("funcion", "string"),
    ("division_funcional", "string"),
    ("grupo_funcional", "string"),
    ("funcion_nombre", "string"),
    ("division_funcional_nombre", "string"),
    ("grupo_funcional_nombre", "string"),
    ("meta", "string"),
    ("finalidad", "string"),
    ("dep_meta_codigo", "string"),
    ("finalidad_nombre", "string"),
    ("meta_nombre", "string"),
    ("dep_meta_nombre", "string"),
    ("fuente_financiamiento", "string"),
    ("rubro", "string"),
    ("tipo_recurso", "string"),
    ("categoria_gasto", "string"),
    ("fuente_financiamiento_nombre", "string"),
    ("rubro_nombre", "string"),
    ("tipo_recurso_nombre", "string"),
    ("categoria_gasto_nombre", "string"),
    ("tipo_transaccion", "int"),
    ("generica", "string"),
    ("subgenerica", "string"),
    ("subgenerica_det", "string"),
    ("especifica", "string"),
    ("especifica_det", "string"),
    ("generica_nombre", "string"),
    ("subgenerica_nombre", "string"),
    ("subgenerica_det_nombre", "string"),
    ("especifica_nombre", "string"),
    ("especifica_det_nombre", "string"),
]


def test_monthly_view_schema_is_pinned(spark, warehouse):
    """``vw_gasto_mensual`` serves these names, in this order, with these
    types, each nullable and carrying its catalog comment (none on the
    surrogate ids)."""
    _, wh = warehouse
    mef_pipeline.register_views(spark, str(wh))
    served = spark.table("vw_gasto_mensual").schema
    assert [(f.name, f.dataType.simpleString()) for f in served] == VIEW_SCHEMA
    assert all(f.nullable for f in served)
    assert {f.name: f.metadata.get("comment") for f in served} == {
        name: COLUMN_COMMENTS.get(name) for name, _ in VIEW_SCHEMA
    }


def test_register_views_starts_no_spark_job(spark, warehouse):
    _, wh = warehouse
    jobs = _jobs_of(
        spark,
        "catalog_register_views",
        lambda: mef_pipeline.register_views(spark, str(wh)),
    )
    assert jobs == []


def test_conform_rejects_an_off_catalog_write(spark):
    frame = spark.range(1).toDF("tiempo_id").selectExpr(
        "tiempo_id", "current_date() AS fecha", "1 AS anio", "1 AS mes",
        "CAST(1 AS BIGINT) AS trimestre",
    )
    with pytest.raises(ValueError, match="trimestre: frame bigint, catalog int"):
        mef_pipeline._conform(frame, "dim_tiempo")
