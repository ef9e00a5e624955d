"""Canonical schemas for the MEF budget-execution star model.

Derived from the reference DDL and ETL column contracts (cited per item):

- dimension natural keys / attributes:
  ``ETL Gasto publico Perú/sql/CreacionDeDataWareHouse.sql:9-110``
- fact grain + metrics: same file, lines 114-138
- the 67 retained raw columns: ``etl/transformar_mensual.py:32-69`` and
  ``etl/cargar_postgres.py:46-75``
- the numeric subset: ``etl/transformar_mensual.py:71-75``

Organization differs deliberately from the reference (which keeps one flat
column list): here every raw column is declared inside the dimension (or
fact) it belongs to, and the flat lists are derived.  That is the shape the
Spark star-builder needs (``operators/star.py``).
"""

from __future__ import annotations

#: The 7 additive budget-execution measures (transformar_mensual.py:67-68,
#: CreacionDeDataWareHouse.sql:127-133).  Order = funnel order.
METRICS: tuple[str, ...] = (
    "monto_pia",
    "monto_pim",
    "monto_certificado",
    "monto_comprometido_anual",
    "monto_comprometido",
    "monto_devengado",
    "monto_girado",
)


class Dim:
    """A star-schema dimension: natural key columns + descriptive attributes.

    ``key`` columns are compared as trimmed strings at join time (the
    reference's subtlest semantic, cargar_postgres.py:120-123) except those
    listed in ``int_keys`` which are numeric (``tipo_transaccion``,
    cargar_postgres.py:214).
    """

    def __init__(
        self,
        name: str,
        key: tuple[str, ...],
        attrs: tuple[str, ...] = (),
        int_keys: tuple[str, ...] = (),
        id_col: str | None = None,
    ) -> None:
        self.name = name
        self.key = key
        self.attrs = attrs
        self.int_keys = int_keys
        self.id_col = id_col or f"{name.removeprefix('dim_')}_id"

    @property
    def columns(self) -> tuple[str, ...]:
        return self.key + self.attrs


#: The 8 dimensions (CreacionDeDataWareHouse.sql:9-110; natural keys per the
#: loader's unique indexes, cargar_postgres.py:101-113).  dim_tiempo is
#: generated, not extracted (operators/timedim.py), so it is not listed here.
DIMENSIONS: tuple[Dim, ...] = (
    Dim(
        "dim_nivel_gobierno",
        key=("nivel_gobierno_codigo",),
        attrs=("nivel_gobierno_nombre",),
    ),
    Dim(
        "dim_ejecutora",
        key=("sec_ejec", "ejecutora_codigo"),
        attrs=(
            "ejecutora_nombre",
            "sector",
            "sector_nombre",
            "pliego",
            "pliego_nombre",
            "dep_ejecutora_codigo",
            "dep_ejecutora_nombre",
            "prov_ejecutora_codigo",
            "prov_ejecutora_nombre",
            "dist_ejecutora_codigo",
            "dist_ejecutora_nombre",
        ),
    ),
    Dim(
        "dim_programatica",
        key=(
            "programa_ppto",
            "tipo_act_proy",
            "producto_proyecto",
            "actividad_accion_obra",
            "sec_func",
        ),
        attrs=(
            "programa_ppto_nombre",
            "producto_proyecto_nombre",
            "actividad_accion_obra_nombre",
            "tipo_act_proy_nombre",
        ),
    ),
    Dim(
        "dim_funcional",
        key=("funcion", "division_funcional", "grupo_funcional"),
        attrs=(
            "funcion_nombre",
            "division_funcional_nombre",
            "grupo_funcional_nombre",
        ),
    ),
    Dim(
        "dim_meta",
        key=("meta", "finalidad", "dep_meta_codigo"),
        attrs=("finalidad_nombre", "meta_nombre", "dep_meta_nombre"),
    ),
    Dim(
        "dim_financiera",
        key=(
            "fuente_financiamiento",
            "rubro",
            "tipo_recurso",
            "categoria_gasto",
        ),
        attrs=(
            "fuente_financiamiento_nombre",
            "rubro_nombre",
            "tipo_recurso_nombre",
            "categoria_gasto_nombre",
        ),
    ),
    Dim(
        "dim_clasificador_gasto",
        key=(
            "tipo_transaccion",
            "generica",
            "subgenerica",
            "subgenerica_det",
            "especifica",
            "especifica_det",
        ),
        attrs=(
            "generica_nombre",
            "subgenerica_nombre",
            "subgenerica_det_nombre",
            "especifica_nombre",
            "especifica_det_nombre",
        ),
        int_keys=("tipo_transaccion",),
        # the reference abbreviates this FK (CreacionDeDataWareHouse.sql:124)
        id_col="clasif_gasto_id",
    ),
)

#: Fact FK columns in grain order (CreacionDeDataWareHouse.sql:117-124,
#: grain UNIQUE constraint at 136-137).
FACT_FKS: tuple[str, ...] = (
    "tiempo_id",
    "nivel_gobierno_id",
    "ejecutora_id",
    "programatica_id",
    "funcional_id",
    "meta_id",
    "financiera_id",
    "clasif_gasto_id",
)


# --- raw (normalized-parquet) record -----------------------------------------

#: Raw-side period + numeric columns (transformar_mensual.py:71-75).
RAW_PERIOD_COLS: tuple[str, ...] = ("ANO_EJE", "MES_EJE")
RAW_INT_COLS: tuple[str, ...] = ("ANO_EJE", "MES_EJE", "TIPO_TRANSACCION")
RAW_METRIC_COLS: tuple[str, ...] = tuple(m.upper() for m in METRICS)


#: star column → raw MEF header where the loader renames irregularly
#: (cargar_postgres.py:159-233): the warehouse abbreviates the raw
#: DEPARTAMENTO/PROVINCIA/DISTRITO prefixes and ``EJECUTORA`` carries no
#: ``_CODIGO`` suffix in the raw extract.
RAW_NAME_OVERRIDES: dict[str, str] = {
    "ejecutora_codigo": "EJECUTORA",
    "dep_ejecutora_codigo": "DEPARTAMENTO_EJECUTORA",
    "dep_ejecutora_nombre": "DEPARTAMENTO_EJECUTORA_NOMBRE",
    "prov_ejecutora_codigo": "PROVINCIA_EJECUTORA",
    "prov_ejecutora_nombre": "PROVINCIA_EJECUTORA_NOMBRE",
    "dist_ejecutora_codigo": "DISTRITO_EJECUTORA",
    "dist_ejecutora_nombre": "DISTRITO_EJECUTORA_NOMBRE",
    "dep_meta_codigo": "DEPARTAMENTO_META",
    "dep_meta_nombre": "DEPARTAMENTO_META_NOMBRE",
}


def raw_name(col: str) -> str:
    """Raw MEF header for a star column (COLS_CLAVE derivation + PRJ7 inverse)."""
    return RAW_NAME_OVERRIDES.get(col, col.upper())


#: The 67 canonical raw columns (transformar_mensual.py:32-69), derived from
#: the star structure above: period + per-dimension keys/attrs (raw files
#: carry dim attributes denormalized) + metrics.  ``nivel_gobierno`` raw
#: columns keep the reference's raw naming (sql/CreacionDBOrigen.sql:77-78).
COLS_CLAVE: tuple[str, ...] = (
    *RAW_PERIOD_COLS,
    "NIVEL_GOBIERNO",
    "NIVEL_GOBIERNO_NOMBRE",
    *(
        raw_name(c)
        for dim in DIMENSIONS[1:]  # dim_nivel_gobierno handled above
        for c in dim.columns
    ),
    *RAW_METRIC_COLS,
)

