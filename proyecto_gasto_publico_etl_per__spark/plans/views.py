"""The serving views as DataFrame builders.

Reference: ``ETL Gasto publico Perú/sql/CreacionDeUsuariosyVistas.sql`` —
``vw_gasto_mensual`` (V:21-114, the 8-way denormalizing star join),
``vw_gasto_agregado_mensual`` (V:119-179) and ``vw_gasto_agregado_anual``
(V:185-196).

``star_denormalize`` is the V-base join: fact × 8 broadcast dims.  The
aggregate views then group the denormalized frame by *computed* label
columns — the reference groups directly by ``COALESCE(...)``/``CONCAT(...)``
expressions (V:161-179); per SURVEY.md §7.4 we materialize those as named
columns before ``groupBy`` so select-list and grouping expressions are
identical by construction.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.cleaning import label_or_placeholder, region_map_label
from ..functions.money import GRID, gmicros, gsum
from ..schema import DIMENSIONS, METRICS


def star_denormalize(
    fact: DataFrame,
    time_dim: DataFrame,
    dims: Mapping[str, DataFrame],
) -> DataFrame:
    """V-base (JN4): fact inner-joined to dim_tiempo + all dimensions on
    surrogate ids.  Every dim is broadcast — the fact never shuffles for
    this join."""
    out = fact.join(F.broadcast(time_dim), "tiempo_id")
    for dim in DIMENSIONS:
        out = out.join(F.broadcast(dims[dim.name]), dim.id_col)
    return out


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


def vw_gasto_agregado_mensual(base: DataFrame) -> DataFrame:
    """V-aggm (AGG8): monthly rollup grouped by time + ejecutora + cleaned
    location/sector labels + financiera/clasificador names, with NULL-safe
    SUMs (``SUM(COALESCE(m,0))``, V:149-155).

    Column-for-column the reference view (V:119-179): 13 group columns +
    ``region_mapa`` + the 7 un-prefixed metric totals.
    """
    labeled = base.withColumns(_agg_labels())
    sums = [
        gsum(F.coalesce(F.col(m), F.lit(0)), out)  # NULL-safe exact grid sum
        for m, out in AGG_METRIC_ALIASES
    ]
    agg = labeled.groupBy(*AGG_GROUP_COLS).agg(*sums)
    # region_mapa is a pure function of the (already-coalesced) departamento
    # group key — attach it AFTER the aggregate so it never widens the
    # shuffle key (same result set as grouping by it; V:161-179 groups by
    # the expression because SQL must).  The inner coalesce is a no-op on
    # the placeholder-substituted column but keeps the expression the
    # reference's exact V:136-140 composition.
    return agg.select(
        *AGG_GROUP_COLS[:9],
        region_map_label("dep_ejecutora_nombre").alias("region_mapa"),
        *AGG_GROUP_COLS[9:],
        *[out for _, out in AGG_METRIC_ALIASES],
    )


def vw_gasto_agregado_anual(base: DataFrame) -> DataFrame:
    """V-agga (AGG9): ``SUM(pim), SUM(devengado), SUM(girado) GROUP BY anio,
    sector_nombre, pliego_nombre`` (V:185-196)."""
    return base.groupBy("anio", "sector_nombre", "pliego_nombre").agg(
        gsum(F.coalesce(F.col("monto_pim"), F.lit(0)), "pim_total"),
        gsum(F.coalesce(F.col("monto_devengado"), F.lit(0)), "devengado_total"),
        gsum(F.coalesce(F.col("monto_girado"), F.lit(0)), "girado_total"),
    )


# --- agg-below-join rewrite ---------------------------------------------
#
# The reference views (V:119-196) join the full star THEN group.  Because
# every dimension is unique on its surrogate id (the dim builders assign
# ids over distinct natural keys), the inner dim joins are row-preserving
# lookups, so aggregating the fact FIRST on the surviving FK subset and
# joining the (broadcast) dims onto group-cardinality rows is an EXACT
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
    """Final aggregate of a micros-pre-aggregated base: same output as
    ``vw_gasto_agregado_mensual(base)`` when ``preagg`` carries the view's
    group source columns plus ``__micros_<metric>`` partial sums."""
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
    """Final aggregate of a micros-pre-aggregated base for V-agga."""
    return preagg.groupBy("anio", "sector_nombre", "pliego_nombre").agg(
        *[_present(m, out) for m, out in ANNUAL_METRIC_ALIASES]
    )


def _star_preagg(
    fact: DataFrame,
    time_dim: DataFrame,
    dims: Mapping[str, DataFrame],
    needed_attrs: set[str],
    time_cols: Sequence[str],
    metric_cols: Sequence[str],
) -> DataFrame:
    """Pre-aggregate fact metric micros below the dim joins (warehouse path).

    Non-contributing dims get a broadcast LEFT SEMI join (reproducing the
    inner join's row set without widening rows); contributing dims join
    AFTER the pre-aggregate, on group-cardinality rows — an unmatched id
    then drops the whole group, exactly as the pre-join inner would have
    dropped its rows.
    """
    contributing = [d for d in DIMENSIONS if set(d.attrs) & needed_attrs]
    rest = [d for d in DIMENSIONS if not (set(d.attrs) & needed_attrs)]
    out = fact
    for d in rest:
        out = out.join(
            F.broadcast(dims[d.name].select(d.id_col)), d.id_col, "left_semi"
        )
    if not time_cols:
        # anio is served from the fact itself; the time join only gates rows
        out = out.join(
            F.broadcast(time_dim.select("tiempo_id")), "tiempo_id", "left_semi"
        )
    keys = ["anio"] + (["tiempo_id"] if time_cols else [])
    keys += [d.id_col for d in contributing]
    pre = out.groupBy(*keys).agg(*micros_sums(metric_cols))
    if time_cols:
        pre = pre.join(
            F.broadcast(time_dim.select("tiempo_id", *time_cols)), "tiempo_id"
        )
    for d in contributing:
        attrs = [a for a in d.attrs if a in needed_attrs]
        pre = pre.join(
            F.broadcast(dims[d.name].select(d.id_col, *attrs)), d.id_col
        )
    return pre


def vw_gasto_agregado_mensual_star(
    fact: DataFrame,
    time_dim: DataFrame,
    dims: Mapping[str, DataFrame],
) -> DataFrame:
    """AGG8 via agg-below-join: exact rewrite of
    ``vw_gasto_agregado_mensual(star_denormalize(fact, time_dim, dims))``."""
    needed = set(AGG_GROUP_COLS[3:])
    pre = _star_preagg(
        fact, time_dim, dims, needed,
        time_cols=("mes", "trimestre"), metric_cols=METRICS,
    )
    return finalize_agg_mensual(pre)


def vw_gasto_agregado_anual_star(
    fact: DataFrame,
    time_dim: DataFrame,
    dims: Mapping[str, DataFrame],
) -> DataFrame:
    """AGG9 via agg-below-join: exact rewrite of
    ``vw_gasto_agregado_anual(star_denormalize(fact, time_dim, dims))``."""
    needed = {"sector_nombre", "pliego_nombre"}
    pre = _star_preagg(
        fact, time_dim, dims, needed,
        time_cols=(), metric_cols=[m for m, _ in ANNUAL_METRIC_ALIASES],
    )
    return finalize_agg_anual(pre)
