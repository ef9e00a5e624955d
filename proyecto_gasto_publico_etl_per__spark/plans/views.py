"""The serving views and the one serving planner.

Reference: ``ETL Gasto publico Perú/sql/CreacionDeUsuariosyVistas.sql`` —
``vw_gasto_mensual`` (V:21-114, the 8-way denormalizing star join),
``vw_gasto_agregado_mensual`` (V:119-179) and ``vw_gasto_agregado_anual``
(V:185-196).

``plan_star`` is the only code that attaches dims to a warehouse serving
plan.  A loaded warehouse keeps a referential invariant: every stored
fact FK has its dim row and every ``tiempo_id`` its calendar row
(``mef_pipeline._load_delta``).  Every join of the reference's star is
then a row-preserving lookup, so the planner joins only the broadcast
dims holding a column its caller reads, and serves ``fecha``/``mes``/
``trimestre`` by arithmetic on ``tiempo_id`` (= anio*100 + mes,
operators/timedim.py): no calendar join, and no join kept only to filter
rows.  Spark's catalog records no FK constraint, so Catalyst cannot drop
those joins on its own.  ``vw_gasto_mensual`` is the planner's
all-columns case.

The aggregate views group by *computed* label columns — the reference
groups directly by ``COALESCE(...)``/``CONCAT(...)`` expressions
(V:161-179); per SURVEY.md §7.4 we materialize those as named columns
before ``groupBy`` so select-list and grouping expressions are identical
by construction.
"""

from __future__ import annotations

from collections.abc import Iterable, Mapping, Sequence
from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.cleaning import label_or_placeholder, region_map_label
from ..functions.money import GRID, gmicros
from ..schema import DIMENSIONS, METRICS, Dim


class WarehouseStar(NamedTuple):
    """A loaded warehouse's tables, read under the catalog: the fact, the
    calendar (whose schema types and comments the derived calendar
    columns carry; no plan joins it) and the 7 dims by name."""

    fact: DataFrame
    calendar: DataFrame
    dims: Mapping[str, DataFrame]


#: what a serving query reads: a loaded warehouse, or an already
#: denormalized star frame (the testdata adapter,
#: ``testdata_star.build_star``), which passes through unchanged.
StarSource = WarehouseStar | DataFrame

#: calendar column → its SQL over ``tiempo_id`` (= anio*100 + mes), in
#: the calendar's column order.
CALENDAR_SQL: dict[str, str] = {
    "fecha": "make_date(tiempo_id div 100, tiempo_id % 100, 1)",
    "mes": "tiempo_id % 100",
    "trimestre": "(tiempo_id % 100 - 1) div 3 + 1",
}

#: ``vw_gasto_mensual``'s columns in served order — the order the
#: reference-shaped chain of USING joins (fact ⋈ calendar ⋈ 7 dims)
#: served: the FK ids (last dim first), ``tiempo_id``, the metrics and
#: the fact's ``anio``, the calendar columns, then each dim's natural
#: keys and attributes.
VIEW_COLUMNS: tuple[str, ...] = (
    *(d.id_col for d in reversed(DIMENSIONS)),
    "tiempo_id",
    *METRICS,
    "anio",
    *CALENDAR_SQL,
    *(c for d in DIMENSIONS for c in d.columns),
)


def _dims_read(columns: set[str]) -> list[Dim]:
    """The dims holding at least one of ``columns``."""
    return [d for d in DIMENSIONS if columns & set(d.columns)]


def plan_star(
    star: StarSource,
    columns: Iterable[str],
    rows: DataFrame | None = None,
) -> DataFrame:
    """The frame a serving plan reads ``columns`` from.

    A DataFrame ``star`` passes through unchanged.  For a warehouse,
    ``rows`` (the fact, or a pre-aggregate of it keyed on ``tiempo_id``
    and dim FK ids) gets the calendar columns among ``columns`` derived
    from ``tiempo_id`` with the calendar's types and comments, and one
    broadcast inner join per dim holding one of ``columns``, on that
    dim's id and those columns only.  The load's invariant makes each
    join drop no row, so the result serves the same rows as the full
    star join.
    """
    if isinstance(star, DataFrame):
        return star
    wanted = set(columns)
    out = star.fact if rows is None else rows
    derived = [c for c in CALENDAR_SQL if c in wanted]
    if derived:
        calendar = star.calendar.schema
        out = out.select(
            "*",
            *[
                F.expr(CALENDAR_SQL[c])
                .cast(calendar[c].dataType)
                .alias(c, metadata=calendar[c].metadata)
                for c in derived
            ],
        )
    for d in _dims_read(wanted):
        cols = [c for c in d.columns if c in wanted]
        out = out.join(
            F.broadcast(star.dims[d.name].select(d.id_col, *cols)), d.id_col
        )
    return out


def vw_gasto_mensual(star: WarehouseStar) -> DataFrame:
    """V-base (JN4, V:21-114): the fact with every calendar and dim
    column, in ``VIEW_COLUMNS`` order.  The fact's own ``anio`` (its
    partition column) is served, so a year predicate on the view prunes
    fact files."""
    return plan_star(star, VIEW_COLUMNS).select(*VIEW_COLUMNS)


#: (column, placeholder) — the five labels the view wraps in
#: ``COALESCE(NULLIF(TRIM(x),''), 'SIN …')`` (V:127-133).  The remaining
#: group columns (ejecutora/fuente/categoria/generica/especifica names,
#: V:126,143-147) are grouped raw, exactly as the reference does.
AGG_LABELS: tuple[tuple[str, str], ...] = (
    ("sector_nombre", "SIN SECTOR"),
    ("pliego_nombre", "SIN PLIEGO"),
    ("dep_ejecutora_nombre", "SIN DEPARTAMENTO"),
    ("prov_ejecutora_nombre", "SIN PROVINCIA"),
    ("dist_ejecutora_nombre", "SIN DISTRITO"),
)


def _agg_labels() -> dict:
    """``AGG_LABELS`` as one ``withColumns`` map: column → label expression."""
    return {
        col: label_or_placeholder(col, placeholder)
        for col, placeholder in AGG_LABELS
    }


#: The view's group columns in the reference's select order (V:121-147),
#: after label substitution.  ``region_mapa`` (V:136-140) is a pure
#: function of the coalesced departamento and is attached after the agg.
AGG_GROUP_COLS: tuple[str, ...] = (
    "anio",
    "mes",
    "trimestre",
    "ejecutora_nombre",
    "sector_nombre",
    "pliego_nombre",
    "dep_ejecutora_nombre",
    "prov_ejecutora_nombre",
    "dist_ejecutora_nombre",
    "fuente_financiamiento_nombre",
    "categoria_gasto_nombre",
    "generica_nombre",
    "especifica_nombre",
)

#: output metric alias per fact metric — the view drops the ``monto_``
#: prefix (V:150-156).
AGG_METRIC_ALIASES: tuple[tuple[str, str], ...] = tuple(
    (m, m.removeprefix("monto_")) for m in METRICS
)


# --- agg-below-join rewrite ---------------------------------------------
#
# The reference views (V:119-196) join the full star THEN group.  Because
# every dimension is unique on its surrogate id (the dim builders assign
# ids over distinct natural keys) and holds every id the fact stores (the
# load's invariant), the inner dim joins are row-preserving lookups, so
# aggregating the fact FIRST on the FK ids of the dims the view reads and
# joining those (broadcast) dims onto group-cardinality rows is an EXACT
# rewrite: the join input shrinks from fact-cardinality to
# group-cardinality, and the map-side partial aggregate hashes narrow int
# ids instead of 13 label strings.  Exactness of the two-stage sum: the
# metrics live on the 1e-4 grid, so their long micros are exact integers
# and partial-sum → final-sum is the same rational total (gsum's argument),
# presented through the identical ``(sum / GRID)::double`` expression.

#: pre-aggregated metric column name for a fact metric.
MICROS_PREFIX = "__micros_"

#: V-agga's three metrics and output aliases (V:189-191).
ANNUAL_METRIC_ALIASES: tuple[tuple[str, str], ...] = (
    ("monto_pim", "pim_total"),
    ("monto_devengado", "devengado_total"),
    ("monto_girado", "girado_total"),
)


def micros_col(metric: str) -> str:
    return f"{MICROS_PREFIX}{metric}"


def micros_sums(metric_cols: Sequence[str]) -> list:
    """Partial-aggregate expressions: NULL-safe exact long micros per
    metric (``COALESCE(gmicros(m), 0)`` ≡ ``gmicros(COALESCE(m, 0))``)."""
    return [
        F.sum(F.coalesce(gmicros(m), F.lit(0))).alias(micros_col(m))
        for m in metric_cols
    ]


def _present(metric: str, alias: str):
    """Final sum of micros partials, presented exactly like ``gsum``."""
    return (F.sum(F.col(micros_col(metric))) / GRID).cast("double").alias(alias)


def finalize_agg_mensual(preagg: DataFrame) -> DataFrame:
    """V-aggm (AGG8, V:119-179) over a micros-pre-aggregated base:
    labels the view's group source columns, sums the
    ``__micros_<metric>`` partials per label group, and serves the
    reference's select list (13 group columns + ``region_mapa`` + the 7
    un-prefixed metric totals).  ``region_mapa`` is a pure function of
    the coalesced departamento group key, so it is attached after the
    aggregate and never widens the shuffle key."""
    labeled = preagg.withColumns(_agg_labels())
    agg = labeled.groupBy(*AGG_GROUP_COLS).agg(
        *[_present(m, out) for m, out in AGG_METRIC_ALIASES]
    )
    return agg.select(
        *AGG_GROUP_COLS[:9],
        region_map_label("dep_ejecutora_nombre").alias("region_mapa"),
        *AGG_GROUP_COLS[9:],
        *[out for _, out in AGG_METRIC_ALIASES],
    )


def finalize_agg_anual(preagg: DataFrame) -> DataFrame:
    """V-agga (AGG9, V:185-196) over a micros-pre-aggregated base:
    pim, devengado and girado totals per anio, sector and pliego."""
    return preagg.groupBy("anio", "sector_nombre", "pliego_nombre").agg(
        *[_present(m, out) for m, out in ANNUAL_METRIC_ALIASES]
    )


def _star_preagg(
    star: WarehouseStar,
    columns: set[str],
    metric_cols: Sequence[str],
) -> DataFrame:
    """Pre-aggregate the fact's metric micros below the dim joins, then
    attach ``columns`` with ``plan_star``.

    The fact groups on ``anio``, on ``tiempo_id`` when a calendar column
    is read, and on the FK id of each dim holding a read column, so the
    dims join group-cardinality rows.  No other dim and no calendar is
    joined: the load's invariant means they would drop no row.
    """
    keys = ["anio"]
    if columns & CALENDAR_SQL.keys():
        keys.append("tiempo_id")
    keys += [d.id_col for d in _dims_read(columns)]
    pre = star.fact.groupBy(*keys).agg(*micros_sums(metric_cols))
    return plan_star(star, columns, rows=pre)


def vw_gasto_agregado_mensual_star(star: WarehouseStar) -> DataFrame:
    """AGG8 via agg-below-join: an exact rewrite of the reference view,
    which groups ``vw_gasto_mensual(star)`` after the full star join."""
    pre = _star_preagg(star, set(AGG_GROUP_COLS[1:]), METRICS)
    return finalize_agg_mensual(pre)


def vw_gasto_agregado_anual_star(star: WarehouseStar) -> DataFrame:
    """AGG9 via agg-below-join: an exact rewrite of the reference view,
    which groups ``vw_gasto_mensual(star)`` after the full star join."""
    pre = _star_preagg(
        star,
        {"sector_nombre", "pliego_nombre"},
        [m for m, _ in ANNUAL_METRIC_ALIASES],
    )
    return finalize_agg_anual(pre)
