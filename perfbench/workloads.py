"""The benchmark's workloads.

Every workload has the same life: one ``setup`` (session start, seeded
input generation, and for the ETL workload the bulk load), then whole
passes until the measuring window is used up, then one check of the
outputs, outside the window.  Every serving operation builds, plans and
executes one query and returns its result to the client as Arrow; the
last pass's results are the ones checked.

- ``serve_star``: the 14 headline registry queries plus three index/zone
  lanes over generated star tables.  The pass is the first call of each
  query in the process — what a batch job or CLI call pays — so it
  includes schema inference, JIT warm-up and the lanes' zone builds.
- ``etl_incremental``: set-up bulk-loads the first half of a year of
  generated MEF CSVs into a warehouse snapshot; each pass restores the
  snapshot, lands one held-out month into that (existing) year partition, runs
  transform → load → partition refresh of the aggregate → serves it,
  replays the same file, and serves both aggregate views and the five
  analytics queries.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

from perfbench import check, gen

#: bench.py's frozen headline set, copied so that later edits to bench.py
#: cannot change what this benchmark measures
HEADLINE = (
    "star_join_base", "agg_monthly_view", "agg_annual_view", "ytd_by_group",
    "topk_by_group", "share_of_total", "backlog_having",
    "quarterly_evolution", "rollup_year_sector", "topn_year",
    "consolidate_grain", "running_ytd_window", "events_window_agg",
    "sessionize",
)

#: index/zone-serving lanes that ride along in ``serve_star``: trigram
#: substring with tombstones (trigram), the aggregate zones (aggzone) and
#: MinHash dedup (dedup, the ``skew.pin`` seam).  A lane's first call in
#: the process builds its zones.  The BM25 and graph lanes are left out
#: to keep a run inside the run budget on a busy host.
LANES = ("substring_delete_serving", "incr_agg_serving", "dedup_minhash_lsh")


@dataclass
class OpResult:
    name: str
    latency: float
    cpu: float
    ok: bool


@dataclass
class PassResult:
    wall: float
    cpu: float
    ops: list[OpResult] = field(default_factory=list)
    extra: dict = field(default_factory=dict)


class Stopwatch:
    """Wall and CPU seconds of one pass, less the stretches run under
    ``unmeasured`` (the benchmark's own bookkeeping)."""

    def __init__(self, rt) -> None:
        self.rt = rt
        self.wall0, self.cpu0 = time.perf_counter(), rt.cpu_s()
        self.skip_wall = self.skip_cpu = 0.0

    @contextmanager
    def unmeasured(self):
        wall, cpu = time.perf_counter(), self.rt.cpu_s()
        try:
            yield
        finally:
            self.skip_wall += time.perf_counter() - wall
            self.skip_cpu += self.rt.cpu_s() - cpu

    def wall(self) -> float:
        return time.perf_counter() - self.wall0 - self.skip_wall

    def result(self, ops, extra=None) -> PassResult:
        cpu = self.rt.cpu_s() - self.cpu0 - self.skip_cpu
        return PassResult(self.wall(), cpu, ops, extra or {})


def serve(rt, op_id: str, name: str, build) -> tuple[OpResult, object]:
    """One serving operation through ``rt.run_op``: (its record, its result)."""
    lat, cpu, result = rt.run_op(op_id, name, build)
    return OpResult(name, lat or 0.0, cpu or 0.0, lat is not None), result


class RegistryWorkload:
    """Registry queries over generated star tables."""

    def __init__(self, queries: tuple[str, ...], sf: float) -> None:
        self.queries = queries
        self.sf = sf
        self.sf_dir = ""
        self.outputs: dict = {}
        self.input_rows = 0

    def setup(self, rt) -> None:
        rt.start_session()
        self.sf_dir = str(rt.work / "inputs" / "star")
        with rt.tracer.span("perfbench.generate", op="setup"):
            rows = gen.write_star_tables(self.sf_dir, rt.seed, self.sf)
        self.input_rows = sum(rows.values())

    def run_pass(self, rt, idx: int) -> PassResult:
        from proyecto_gasto_publico_etl_per__spark.plans.driver_queries import (
            all_queries,
        )

        reg = all_queries()
        watch = Stopwatch(rt)
        ops = []
        self.outputs = {}
        for q in self.queries:
            op, self.outputs[q] = serve(
                rt, f"p{idx}:{q}", q, lambda q=q: reg[q](rt.spark, self.sf_dir)
            )
            ops.append(op)
        return watch.result(ops)

    def check(self, rt) -> tuple[int, list[str]]:
        from proyecto_gasto_publico_etl_per__spark.plans.driver_queries import (
            all_oracles,
        )

        oracles = all_oracles()
        con = check.star_connection(self.sf_dir, gen.TABLES)
        failures = []
        try:
            for q in self.queries:
                got = self.outputs.get(q)
                if got is None:
                    failures.append(f"{q}: no output")
                    continue
                if q not in oracles:
                    continue
                reason = check.compare(q, got, con.execute(oracles[q]).arrow())
                if reason:
                    failures.append(reason)
        finally:
            con.close()
        return len(self.queries), failures

    def describe(self) -> dict:
        return {"sf": self.sf, "queries": list(self.queries),
                "input_rows": self.input_rows}


def _tree_files(root: Path) -> dict[str, tuple[int, str]]:
    """relative path → (size, sha256) for every data file under ``root``."""
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            if f.startswith((".", "_")):
                continue
            p = Path(dirpath) / f
            out[str(p.relative_to(root))] = (
                p.stat().st_size, hashlib.sha256(p.read_bytes()).hexdigest()
            )
    return out


def _content_digest(root: Path) -> list[tuple[str, str]]:
    """Sorted (directory, content hash) of every data file: identical
    bytes under identical partitions, whatever the files are named."""
    return sorted(
        (str(Path(rel).parent), h) for rel, (_, h) in _tree_files(root).items()
    )


class EtlIncremental:
    """Monthly incremental refresh beside serving (see module docstring)."""

    # one year keeps a run's wall time inside the run budget on a busy
    # host, where the Parquet writes of the bulk load slow down most
    YEARS = (2023,)
    HELD_OUT = (7, 8, 9, 10, 11, 12)

    def __init__(self, rows_per_year: int, rows_per_month: int) -> None:
        self.rows_per_year = rows_per_year
        self.rows_per_month = rows_per_month
        self.inputs: dict = {}
        self.snapshot = Path()
        self.live = Path()
        self.last_landed = ""
        self.served: dict = {}
        self.replays: list[bool] = []
        self.bulk_rows_per_s = 0.0

    # paths inside one warehouse root
    @staticmethod
    def _wh(root: Path) -> str:
        return str(root / "warehouse")

    @staticmethod
    def _agg(root: Path) -> str:
        return str(root / "agg_mensual")

    def setup(self, rt) -> None:
        from proyecto_gasto_publico_etl_per__spark.plans import mef_pipeline

        rt.start_session()
        base = rt.work / "inputs"
        with rt.tracer.span("perfbench.generate", op="setup"):
            self.inputs = gen.write_mef_csvs(
                base / "mef", rt.seed, self.YEARS, self.rows_per_year,
                self.HELD_OUT, self.rows_per_month,
            )
        self.snapshot = base / "snapshot"
        op = "setup:bulk"
        t0 = time.perf_counter()
        with rt.tracer.span("plans.mef_pipeline.transform", op=op):
            mef_pipeline.transform(
                rt.spark, self.inputs["bulk"], str(self.snapshot / "normalized")
            )
        with rt.tracer.span("plans.mef_pipeline.load", op=op):
            mef_pipeline.load(
                rt.spark, str(self.snapshot / "normalized"), self._wh(self.snapshot)
            )
        self.bulk_rows_per_s = self.inputs["bulk_rows"] / (time.perf_counter() - t0)
        self.live = base / "live"

    def _restore(self) -> None:
        if self.live.exists():
            shutil.rmtree(self.live)
        shutil.copytree(self.snapshot, self.live)

    def run_pass(self, rt, idx: int) -> PassResult:
        from proyecto_gasto_publico_etl_per__spark.plans import mef_pipeline
        from proyecto_gasto_publico_etl_per__spark.plans import queries as Q

        self._restore()
        before = _tree_files(self.live) if rt.tracer.enabled else {}
        src = Path(self.inputs["landing"][idx % len(self.inputs["landing"])])
        year, month = self.YEARS[-1], int(src.stem.split("-")[1])
        wh, agg = self._wh(self.live), self._agg(self.live)
        norm = str(self.live / "normalized_inc" / src.stem)
        op = f"p{idx}:refresh"
        ops: list[OpResult] = []
        extra: dict = {}
        spark = rt.spark
        self.served = {}
        watch = Stopwatch(rt)
        landed = self.live / "landing" / src.name
        landed.parent.mkdir(parents=True, exist_ok=True)
        shutil.copyfile(src, landed)
        self.last_landed = str(src)
        try:
            ta = time.perf_counter()
            with rt.tracer.span("plans.mef_pipeline.transform", op=op):
                mef_pipeline.transform(spark, str(landed), norm)
            with rt.tracer.span("plans.mef_pipeline.load", op=op):
                mef_pipeline.load(spark, norm, wh)
            extra["load_rows_per_s"] = self.rows_per_month / (time.perf_counter() - ta)
            with rt.tracer.span("plans.mef_pipeline.materialize", op=op):
                mef_pipeline.materialize_agg_mensual(spark, wh, agg, years=[year])
        except Exception as exc:  # noqa: BLE001 — counted as a failed op
            rt.record_failure(op, exc)
            return watch.result(ops, extra)
        op_result, self.served["agg_refreshed"] = serve(
            rt, f"p{idx}:agg_refreshed", "agg_refreshed",
            lambda: spark.read.parquet(agg).filter(f"anio = {year}"),
        )
        ops.append(op_result)
        extra["freshness_s"] = watch.wall()
        with watch.unmeasured():
            if rt.tracer.enabled:
                extra.update(self._written(before, landed))
            digest = _content_digest(self.live / "warehouse")
        tr = time.perf_counter()
        try:
            with rt.tracer.span("plans.mef_pipeline.replay", op=f"p{idx}:replay"):
                mef_pipeline.transform(spark, str(landed), norm)
                mef_pipeline.load(spark, norm, wh)
            extra["replay_s"] = time.perf_counter() - tr
        except Exception as exc:  # noqa: BLE001
            rt.record_failure(f"p{idx}:replay", exc)
        with watch.unmeasured():
            extra["replay_identical"] = (
                _content_digest(self.live / "warehouse") == digest
            )
        try:
            with rt.tracer.span("plans.mef_pipeline.register_views",
                                op=f"p{idx}:views"):
                star = mef_pipeline.register_views(spark, wh)
        except Exception as exc:  # noqa: BLE001
            rt.record_failure(f"p{idx}:views", exc)
            return watch.result(ops, extra)
        serving = {
            "vw_gasto_agregado_mensual": lambda: spark.table(
                "vw_gasto_agregado_mensual"
            ),
            "vw_gasto_agregado_anual": lambda: spark.table(
                "vw_gasto_agregado_anual"
            ),
        }
        # the five analytics queries for every loaded year, newest first
        # (the dashboard view of the refresh)
        for y in reversed(self.YEARS):
            serving.update({
                f"q1_ytd_by_sector:{y}": lambda y=y: Q.q1_ytd_by_sector(star, y, month),
                f"q2_top_ejecutoras:{y}": lambda y=y: Q.q2_top_ejecutoras(star, y),
                f"q3_share_of_total:{y}": lambda y=y: Q.q3_share_of_total(
                    star, y, month, "SECTOR 3"
                ),
                f"q4_backlog:{y}": lambda y=y: Q.q4_backlog(star, y, month),
                f"q5_quarterly_evolution:{y}": lambda y=y: Q.q5_quarterly_evolution(
                    star, self.YEARS[0], y
                ),
            })
        for name, build in serving.items():
            op_result, self.served[name] = serve(rt, f"p{idx}:{name}", name, build)
            ops.append(op_result)
        self.replays.append(extra["replay_identical"])
        return watch.result(ops, extra)

    def _written(self, before: dict, landed: Path) -> dict:
        """Bytes the refresh wrote and the bytes stored, per input byte,
        and the partitions it rewrote, from file listings taken before
        and after it (traced passes only)."""
        after = _tree_files(self.live)
        changed = {
            rel for rel, v in after.items()
            if before.get(rel) != v and not rel.startswith("landing")
        }
        parts = {
            str(Path(rel).parent) for rel in changed
            if "anio=" in rel
        }
        stored = sum(
            size for rel, (size, _) in after.items()
            if rel.startswith(("warehouse", "agg_mensual"))
        )
        inputs = self.inputs["bulk_bytes"] + landed.stat().st_size
        return {
            "written_bytes_per_input_byte": sum(after[r][0] for r in changed)
            / landed.stat().st_size,
            "stored_bytes_per_input_byte": stored / inputs,
            "partitions_rewritten": len(parts),
        }

    def check(self, rt) -> tuple[int, list[str]]:
        """The last pass's served monthly aggregate view, and its refreshed
        materialized year, against DuckDB over the CSVs it was loaded
        from; and every pass's replay must have left the warehouse
        byte-identical."""
        import duckdb

        files = "[" + ", ".join(
            f"'{f}'" for f in (*self.inputs["bulk"], self.last_landed)
        ) + "]"
        sql = gen.MEF_ORACLE_SQL.format(files=files)
        year = self.YEARS[-1]
        con = duckdb.connect()
        try:
            want = con.execute(sql).arrow()
            want_year = con.execute(
                f"SELECT * FROM ({sql}) WHERE anio = {year}"
            ).arrow()
        finally:
            con.close()
        failures = []
        for name, expected in (
            ("vw_gasto_agregado_mensual", want),
            ("agg_refreshed", want_year),
        ):
            got = self.served.get(name)
            reason = (
                check.compare(name, got, expected) if got is not None
                else f"{name}: no output"
            )
            if reason:
                failures.append(reason)
        if not self.replays or not all(self.replays):
            failures.append(
                f"replay changed the warehouse bytes in "
                f"{self.replays.count(False)} of {len(self.replays)} passes"
            )
        return 3, failures

    def describe(self) -> dict:
        return {
            "years": list(self.YEARS),
            "rows_per_year": self.rows_per_year,
            "rows_per_month": self.rows_per_month,
            "bulk_rows": self.inputs.get("bulk_rows"),
            "bulk_csv_bytes": self.inputs.get("bulk_bytes"),
            "landing_order": [Path(p).name for p in self.inputs.get("landing", [])],
        }


def make(name: str):
    # sizes keep one run of either workload under a minute on a 4-vCPU box
    if name == "serve_star":
        return RegistryWorkload(HEADLINE + LANES, sf=0.001)
    if name == "etl_incremental":
        return EtlIncremental(rows_per_year=3000, rows_per_month=500)
    raise KeyError(name)


WORKLOADS = ("serve_star", "etl_incremental")
