"""Schema parity pins against the reference's public column contracts.

Two contracts a reference user depends on, frozen here so they can't drift:

1. the 64 raw CSV columns the transform retains
   (``ETL Gasto publico Perú/etl/transformar_mensual.py:32-69``, COLS_CLAVE);
2. the serving views' output columns
   (``sql/CreacionDeUsuariosyVistas.sql:119-196``).
"""

from __future__ import annotations

from proyecto_gasto_publico_etl_per__spark import schema
from proyecto_gasto_publico_etl_per__spark.plans import views as V
from proyecto_gasto_publico_etl_per__spark.plans.mef_pipeline import RENAME_MAP

#: transformar_mensual.py:32-69, verbatim (the reference's COLS_CLAVE).
REFERENCE_COLS_CLAVE = [
    "ANO_EJE", "MES_EJE",
    "NIVEL_GOBIERNO", "NIVEL_GOBIERNO_NOMBRE",
    "SEC_EJEC", "EJECUTORA", "EJECUTORA_NOMBRE",
    "SECTOR", "SECTOR_NOMBRE", "PLIEGO", "PLIEGO_NOMBRE",
    "DEPARTAMENTO_EJECUTORA", "DEPARTAMENTO_EJECUTORA_NOMBRE",
    "PROVINCIA_EJECUTORA", "PROVINCIA_EJECUTORA_NOMBRE",
    "DISTRITO_EJECUTORA", "DISTRITO_EJECUTORA_NOMBRE",
    "PROGRAMA_PPTO", "PROGRAMA_PPTO_NOMBRE",
    "TIPO_ACT_PROY", "TIPO_ACT_PROY_NOMBRE",
    "PRODUCTO_PROYECTO", "PRODUCTO_PROYECTO_NOMBRE",
    "ACTIVIDAD_ACCION_OBRA", "ACTIVIDAD_ACCION_OBRA_NOMBRE",
    "SEC_FUNC",
    "FUNCION", "FUNCION_NOMBRE",
    "DIVISION_FUNCIONAL", "DIVISION_FUNCIONAL_NOMBRE",
    "GRUPO_FUNCIONAL", "GRUPO_FUNCIONAL_NOMBRE",
    "META", "FINALIDAD", "META_NOMBRE",
    "DEPARTAMENTO_META", "DEPARTAMENTO_META_NOMBRE", "FINALIDAD_NOMBRE",
    "FUENTE_FINANCIAMIENTO", "FUENTE_FINANCIAMIENTO_NOMBRE",
    "RUBRO", "RUBRO_NOMBRE", "TIPO_RECURSO", "TIPO_RECURSO_NOMBRE",
    "CATEGORIA_GASTO", "CATEGORIA_GASTO_NOMBRE",
    "TIPO_TRANSACCION",
    "GENERICA", "GENERICA_NOMBRE",
    "SUBGENERICA", "SUBGENERICA_NOMBRE",
    "SUBGENERICA_DET", "SUBGENERICA_DET_NOMBRE",
    "ESPECIFICA", "ESPECIFICA_NOMBRE",
    "ESPECIFICA_DET", "ESPECIFICA_DET_NOMBRE",
    "MONTO_PIA", "MONTO_PIM", "MONTO_CERTIFICADO",
    "MONTO_COMPROMETIDO_ANUAL", "MONTO_COMPROMETIDO",
    "MONTO_DEVENGADO", "MONTO_GIRADO",
]

#: vw_gasto_agregado_mensual output columns in select order (V:121-156).
REFERENCE_MONTHLY_VIEW_COLS = [
    "anio", "mes", "trimestre",
    "ejecutora_nombre", "sector_nombre", "pliego_nombre",
    "dep_ejecutora_nombre", "prov_ejecutora_nombre", "dist_ejecutora_nombre",
    "region_mapa",
    "fuente_financiamiento_nombre", "categoria_gasto_nombre",
    "generica_nombre", "especifica_nombre",
    "pia", "pim", "certificado", "comprometido_anual", "comprometido",
    "devengado", "girado",
]


def _preagg(base, group_cols, metric_cols):
    """The serving form's first stage over a test frame: NULL-safe long
    micros partials per group, as ``views._star_preagg`` builds them."""
    return base.groupBy(*group_cols).agg(*V.micros_sums(metric_cols))


def test_cols_clave_matches_reference():
    """The engine accepts exactly the reference's raw header set — a real
    MEF extract (DEPARTAMENTO_EJECUTORA, EJECUTORA, DEPARTAMENTO_META …)
    maps with no column silently NULL-conformed away."""
    assert sorted(schema.COLS_CLAVE) == sorted(REFERENCE_COLS_CLAVE)


def test_rename_map_covers_every_raw_column():
    """PRJ7: every retained raw column lands on a star column (FECHA is
    derived, not renamed)."""
    unmapped = set(schema.COLS_CLAVE) - set(RENAME_MAP)
    assert unmapped == set()


def test_monthly_view_columns_match_reference(spark):
    """vw_gasto_agregado_mensual serves the reference's exact select list,
    in order (V:119-179) — the BI-facing contract."""
    base = spark.createDataFrame(
        [],
        schema=(
            "anio int, mes int, trimestre int, ejecutora_nombre string, "
            "sector_nombre string, pliego_nombre string, "
            "dep_ejecutora_nombre string, prov_ejecutora_nombre string, "
            "dist_ejecutora_nombre string, fuente_financiamiento_nombre "
            "string, categoria_gasto_nombre string, generica_nombre string, "
            "especifica_nombre string, monto_pia decimal(18,4), monto_pim "
            "decimal(18,4), monto_certificado decimal(18,4), "
            "monto_comprometido_anual decimal(18,4), monto_comprometido "
            "decimal(18,4), monto_devengado decimal(18,4), monto_girado "
            "decimal(18,4)"
        ),
    )
    out = V.finalize_agg_mensual(
        _preagg(base, V.AGG_GROUP_COLS, schema.METRICS)
    )
    assert out.columns == REFERENCE_MONTHLY_VIEW_COLS


def test_annual_view_columns_match_reference(spark):
    """vw_gasto_agregado_anual's select list (V:185-196)."""
    base = spark.createDataFrame(
        [],
        schema=(
            "anio int, sector_nombre string, pliego_nombre string, "
            "monto_pim decimal(18,4), monto_devengado decimal(18,4), "
            "monto_girado decimal(18,4)"
        ),
    )
    out = V.finalize_agg_anual(
        _preagg(
            base,
            ("anio", "sector_nombre", "pliego_nombre"),
            [m for m, _ in V.ANNUAL_METRIC_ALIASES],
        )
    )
    assert out.columns == [
        "anio", "sector_nombre", "pliego_nombre",
        "pim_total", "devengado_total", "girado_total",
    ]


def test_placeholder_labels_split_no_groups(spark):
    """NULL, '', and whitespace-only labels all land on the same
    placeholder group (the NULL→''→'SIN …' two-step, V:127-133)."""
    rows = [
        (2024, 1, 1, "E1", None, "P", "", None, "  ", "F", "C", "G", "S",
         *([1.0] * 7)),
        (2024, 1, 1, "E1", "", "P", "  ", "", None, "F", "C", "G", "S",
         *([1.0] * 7)),
        (2024, 1, 1, "E1", "   ", "P", None, "  ", "", "F", "C", "G", "S",
         *([1.0] * 7)),
    ]
    base = spark.createDataFrame(
        rows,
        schema=(
            "anio int, mes int, trimestre int, ejecutora_nombre string, "
            "sector_nombre string, pliego_nombre string, "
            "dep_ejecutora_nombre string, prov_ejecutora_nombre string, "
            "dist_ejecutora_nombre string, fuente_financiamiento_nombre "
            "string, categoria_gasto_nombre string, generica_nombre string, "
            "especifica_nombre string, monto_pia double, monto_pim double, "
            "monto_certificado double, monto_comprometido_anual double, "
            "monto_comprometido double, monto_devengado double, "
            "monto_girado double"
        ),
    )
    out = V.finalize_agg_mensual(
        _preagg(base, V.AGG_GROUP_COLS, schema.METRICS)
    ).collect()
    assert len(out) == 1
    row = out[0]
    assert row.sector_nombre == "SIN SECTOR"
    assert row.dep_ejecutora_nombre == "SIN DEPARTAMENTO"
    assert row.prov_ejecutora_nombre == "SIN PROVINCIA"
    assert row.dist_ejecutora_nombre == "SIN DISTRITO"
    assert row.region_mapa == "Departamento de SIN DEPARTAMENTO, Perú"
    assert row.pia == 3.0


def test_comments_cover_all_star_columns():
    """Every dimension key/attr, metric, and calendar column has a
    business description (the 63-comment contract + dim_tiempo)."""
    from proyecto_gasto_publico_etl_per__spark import schema
    from proyecto_gasto_publico_etl_per__spark.schema_comments import (
        COLUMN_COMMENTS,
    )

    star_cols = {
        c for dim in schema.DIMENSIONS for c in dim.columns
    } | set(schema.METRICS) | {"anio", "mes", "trimestre", "fecha"}
    missing = star_cols - set(COLUMN_COMMENTS)
    assert missing == set()
