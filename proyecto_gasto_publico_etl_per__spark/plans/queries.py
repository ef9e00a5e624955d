"""The reference's five analytics queries (plus the two README rollups) as
parameterized DataFrame builders.

Reference: ``ETL Gasto publico Perú/sql/ConsultasAlDataWarehouse.sql`` (Q) and
``README.md:244-265``.  The reference parameterizes via a 1-row ``params``
CTE cross-joined into each query (Q:3-5 etc.); in Spark the parameters are
Python arguments folded into the plan as literals — Catalyst constant-folds
and pushes them into the scan (partition pruning on ``anio`` at scale).

All builders take a star source (``views.StarSource``) and first ask the
serving planner (``views.plan_star``) for the columns they read, in the
standard MEF names: ``anio, mes, trimestre, sector_nombre,
ejecutora_nombre, nivel_gobierno_nombre, especifica_nombre`` + the 7
``monto_*`` metrics as exact decimals.  A loaded warehouse
(``mef_pipeline.register_views``'s return value) is planned as its fact
joined to only the dims those columns live in, with the calendar columns
derived from ``tiempo_id``; a denormalized star frame (the testdata
adapter, plans/testdata_star.py) passes through unchanged.  Money outputs
are presented as double after exact decimal aggregation
(functions/money.py).

Ordering: every top-k query breaks ties on the group key so results are
deterministic — the reference relies on PostgreSQL's incidental ordering.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.money import gsum
from .views import StarSource, plan_star


def q1_ytd_by_sector(star: StarSource, anio: int, mes_corte: int) -> DataFrame:
    """Q1 (Q:3-16) — YTD devengado by sector for a year, descending."""
    star = plan_star(star, ("anio", "mes", "sector_nombre", "monto_devengado"))
    return (
        star.filter((F.col("anio") == anio) & F.col("mes").between(1, mes_corte))
        .groupBy("sector_nombre")
        .agg(gsum("monto_devengado", "devengado_ytd"))
        .orderBy(F.desc("devengado_ytd"), "sector_nombre")
    )


def q2_top_ejecutoras(star: StarSource, anio: int, k: int = 5) -> DataFrame:
    """Q2 (Q:20-33) — top-k ejecutoras by annual devengado.

    Spark plans TakeOrderedAndProject: per-partition top-k then a driver
    merge — no global sort of the aggregate at scale.
    """
    star = plan_star(star, ("anio", "ejecutora_nombre", "monto_devengado"))
    return (
        star.filter(F.col("anio") == anio)
        .groupBy("ejecutora_nombre")
        .agg(gsum("monto_devengado", "devengado_total"))
        .orderBy(F.desc("devengado_total"), "ejecutora_nombre")
        .limit(k)
    )


def q3_share_of_total(
    star: StarSource, anio: int, mes_corte: int, sector: str
) -> DataFrame:
    """Q3 (Q:36-60) — each ejecutora's share of its sector's YTD total.

    The reference computes the grand total in a separate CTE and CROSS
    JOINs it back (Q:52-59); here an empty-partition window computes it
    without a second scan or a join (SURVEY.md §2.7).
    """
    from ..functions.money import GRID, gmicros

    star = plan_star(
        star,
        ("anio", "mes", "sector_nombre", "ejecutora_nombre", "monto_devengado"),
    )
    # Keep the YTD sums exact (long micros) through the window total so
    # the grand total is order-independent; divide the PRESENTED doubles
    # only once at the end (one deterministic FP op in any engine).
    ytd = (
        star.filter(
            (F.col("anio") == anio)
            & F.col("mes").between(1, mes_corte)
            & (F.col("sector_nombre") == sector)
        )
        .groupBy("ejecutora_nombre")
        .agg(F.sum(gmicros("monto_devengado")).alias("dev_mic"))
    )
    # INTENTIONAL empty-partition window (r10 verdict task 7): its input
    # is the already-aggregated per-ejecutora frame — |ejecutoras in one
    # sector| rows at ANY scale, never the fact table — so the
    # "WindowExec: No Partition Defined" warning in run logs is the
    # single-node grand total a |rows|-bounded frame is SUPPOSED to use.
    # Do not "fix" it into a join or a repartition; the plan-contract
    # test pins that this window sits above the HashAggregate.
    total_mic = F.sum("dev_mic").over(Window.partitionBy())
    dev_dbl = (F.col("dev_mic") / GRID).cast("double")
    total_dbl = (total_mic / GRID).cast("double")
    return ytd.select(
        "ejecutora_nombre",
        dev_dbl.alias("devengado_ytd"),
        F.when(total_mic > 0, dev_dbl / total_dbl)
        .otherwise(F.lit(0.0))
        .alias("participacion"),
    ).orderBy(F.desc("devengado_ytd"), "ejecutora_nombre")


def q4_backlog(star: StarSource, anio: int, mes_corte: int, k: int = 20) -> DataFrame:
    """Q4 (Q:64-83) — committed-but-not-accrued backlog by específica:
    SUM(comprometido) − SUM(devengado), HAVING backlog > 0, top-k."""
    star = plan_star(
        star,
        ("anio", "mes", "especifica_nombre", "monto_comprometido",
         "monto_devengado"),
    )
    agg = (
        star.filter((F.col("anio") == anio) & F.col("mes").between(1, mes_corte))
        .groupBy("especifica_nombre")
        .agg(
            gsum("monto_comprometido", "comprometido"),
            gsum("monto_devengado", "devengado"),
        )
        .withColumn("backlog", F.col("comprometido") - F.col("devengado"))
    )
    return (
        agg.filter(F.col("backlog") > 0)
        .orderBy(F.desc("backlog"), "especifica_nombre")
        .limit(k)
    )


def q5_quarterly_evolution(
    star: StarSource, anio_ini: int, anio_fin: int
) -> DataFrame:
    """Q5 (Q:86-101) — devengado by (anio, trimestre, nivel de gobierno)."""
    star = plan_star(
        star, ("anio", "trimestre", "nivel_gobierno_nombre", "monto_devengado")
    )
    return (
        star.filter(F.col("anio").between(anio_ini, anio_fin))
        .groupBy("anio", "trimestre", "nivel_gobierno_nombre")
        .agg(gsum("monto_devengado", "devengado"))
        .orderBy("anio", "trimestre", "nivel_gobierno_nombre")
    )


def q6_rollup_year_sector(star: StarSource) -> DataFrame:
    """Q6 (README.md:244-251) — total executed per year × sector."""
    star = plan_star(star, ("anio", "sector_nombre", "monto_devengado"))
    return (
        star.groupBy("anio", "sector_nombre")
        .agg(gsum("monto_devengado", "ejecutado_total"))
        .orderBy("anio", F.desc("ejecutado_total"), "sector_nombre")
    )


def q7_topn_year(star: StarSource, anio: int, n: int = 10) -> DataFrame:
    """Q7 (README.md:255-265) — top-n ejecutoras for one year, with sector."""
    star = plan_star(
        star, ("anio", "sector_nombre", "ejecutora_nombre", "monto_devengado")
    )
    return (
        star.filter(F.col("anio") == anio)
        .groupBy("sector_nombre", "ejecutora_nombre")
        .agg(gsum("monto_devengado", "devengado_total"))
        .orderBy(F.desc("devengado_total"), "ejecutora_nombre", "sector_nombre")
        .limit(n)
    )


def topk_per_group(
    star: StarSource,
    group_col: str,
    rank_col: str = "monto_devengado",
    k: int = 3,
) -> DataFrame:
    """Per-group top-k via row_number window (SURVEY.md §2.7 extension):
    the distributed generalization of Q2's global LIMIT."""
    star = plan_star(star, (group_col, "ejecutora_nombre", rank_col))
    agg = star.groupBy(group_col, "ejecutora_nombre").agg(
        gsum(rank_col, "total")
    )
    w = Window.partitionBy(group_col).orderBy(
        F.desc("total"), "ejecutora_nombre"
    )
    return (
        agg.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .orderBy(group_col, "rk")
    )


def running_ytd(star: StarSource) -> DataFrame:
    """[OP-ytd-window] — running YTD per (anio, sector) ordered by month:
    the windowed generalization of Q1's filter+sum (SURVEY.md §2.7)."""
    star = plan_star(star, ("anio", "mes", "sector_nombre", "monto_devengado"))
    monthly = star.groupBy("anio", "mes", "sector_nombre").agg(
        gsum("monto_devengado", "devengado_mes")
    )
    w = (
        Window.partitionBy("anio", "sector_nombre")
        .orderBy("mes")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return monthly.select(
        "anio",
        "mes",
        "sector_nombre",
        "devengado_mes",
        F.sum("devengado_mes").over(w).alias("devengado_ytd"),
    ).orderBy("anio", "sector_nombre", "mes")
