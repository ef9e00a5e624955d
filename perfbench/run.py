"""Benchmark entry point.

    python3 perfbench/run.py --workload serve_star --seed 1 --seconds 1 --trace 0

Runs one workload against the package's public entry points from one
process and one client in a closed loop (the next operation starts when
the previous one has finished), on ``local[N]`` with N at most the
number of usable CPUs.  A run measures whole passes until ``--seconds``
have gone by, at least one.  Prints an env block, then as its last line one
JSON object ``{"correct", "attempted", "failed", "metrics"}``: with
``--trace 0`` the end-to-end metrics, with ``--trace 1`` the per-layer
metrics of a traced run.  The full record (every sample, span totals,
failures, env) goes to ``.perfbench_out/`` under the checkout.

Everything it writes stays under the checkout (``.perfbench_work/`` is
removed at exit) and it stops the Spark JVM it starts before exiting.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import platform
import resource
import shutil
import statistics
import sys
import tempfile
import time
from collections import Counter, defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "proyecto_gasto_publico_etl_per__spark"

#: local[N] threads.  The workloads are driver-bound (many small jobs on
#: small inputs): on a 4-vCPU box local[2] ran the same serve_star pass
#: about 15% faster than local[4], leaving cores to the driver and JIT
#: threads.
DEFAULT_CPUS = 2
#: maximum driver heap, in place of the package's 8g default (sized for
#: inputs ten times sf0.1); the benchmark's inputs fit well under it.
#: The heap starts small and grows with the program, so ``peak_rss_mb``
#: follows what the program keeps live.
DRIVER_MEMORY = "1g"


def usable_cpus() -> int:
    return len(os.sched_getaffinity(0))


class Runtime:
    """The session, the tracer and the failure ledger of one run."""

    def __init__(self, work: Path, seed: int, trace: bool, cpus: int,
                 log) -> None:
        from perfbench.trace import Tracer

        self.work = work
        self.seed = seed
        self.trace = trace
        self.cpus = cpus
        self.log = log
        self.tracer = Tracer(enabled=False)
        self.spark = None
        self.attempted = 0
        self.failures: list[str] = []
        self.exceptions: Counter = Counter()
        self.op_exceptions: dict[str, Counter] = {}
        self.exception_lines: list[str] = []

    def conf(self) -> dict[str, str]:
        jtmp = self.work / "jvm-tmp"
        jtmp.mkdir(parents=True, exist_ok=True)
        conf = {
            "spark.driver.memory": DRIVER_MEMORY,
            # no perf-data file, which the JVM would write under /tmp
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={jtmp} -XX:-UsePerfData"
            ),
            "spark.local.dir": str(self.work / "spark-local"),
            "spark.sql.warehouse.dir": str(self.work / "spark-warehouse"),
            "spark.sql.shuffle.partitions": str(self.cpus),
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            ev = self.work / "eventlog"
            ev.mkdir(parents=True, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": ev.as_uri(),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        return conf

    def start_session(self) -> None:
        """(Re)start the SparkSession.  The JVM is launched once per run;
        a restart builds a fresh SparkContext inside it."""
        from proyecto_gasto_publico_etl_per__spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        with self.tracer.span("session.get_spark", op="setup"):
            self.spark = get_spark(
                "perfbench", master=f"local[{self.cpus}]", extra_conf=self.conf()
            )
        self.spark.sparkContext.setLogLevel("WARN")
        if self.trace:
            self.tracer.sc = self.spark.sparkContext

    def record_failure(self, op: str, exc: BaseException) -> None:
        msg = str(exc).strip().splitlines()[0][:200] if str(exc).strip() else ""
        self.failures.append(f"{op}: {type(exc).__name__}: {msg}")

    def run_op(self, op_id: str, name: str, build):
        """Build, plan and execute one query and return its result to the
        client as Arrow.  Returns (latency, CPU seconds, the result); all
        None on failure."""
        from perfbench.trace import EXC_RE, exception_names
        from proyecto_gasto_publico_etl_per__spark.operators import skew

        self.attempted += 1
        offset = self.log.offset()
        tr = self.tracer
        latency = cpu = result = None
        try:
            c0, t0 = self.cpu_s(), time.perf_counter()
            with tr.span(name, op=op_id) as op_span:
                with tr.span("plans.build"):
                    df = build()
                with tr.span("spark.exec"):
                    result = df.toArrow()
                latency = time.perf_counter() - t0
                cpu = self.cpu_s() - c0
                if op_span is not None:
                    op_span.counts["pins_live"] += len(skew._PINNED) + len(
                        skew._CKPT_PINNED
                    )
            with tr.span("operators.skew.release", op=op_id):
                skew.release_pinned()
        except Exception as exc:  # noqa: BLE001 — a failed op is counted
            self.record_failure(op_id, exc)
            latency = cpu = result = None
        text = self.log.since(offset)
        found = exception_names(text)
        if found:
            self.op_exceptions[op_id] = found
            self.exceptions.update(found)
            self.exception_lines.extend(
                line[:300] for line in text.splitlines()
                if EXC_RE.search(line)
            )
            del self.exception_lines[20:]
        return latency, cpu, result

    def peak_rss_mb(self) -> float:
        """Peak resident memory of this Python process plus the driver JVM."""
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        jvm_kb = 0
        proc = _gateway_proc()
        if proc is not None:
            try:
                for line in Path(f"/proc/{proc.pid}/status").read_text().splitlines():
                    if line.startswith("VmHWM:"):
                        jvm_kb = int(line.split()[1])
            except OSError:
                pass
        return (py_kb + jvm_kb) / 1024.0

    def cpu_s(self) -> float:
        """CPU time (user + system) of this Python process and the driver
        JVM so far.  Unlike wall time it leaves out the time the host
        gives the CPUs to other guests and the time spent waiting on a
        shared disk."""
        ru = resource.getrusage(resource.RUSAGE_SELF)
        total = ru.ru_utime + ru.ru_stime
        proc = _gateway_proc()
        if proc is not None:
            stat = Path(f"/proc/{proc.pid}/stat").read_text()
            fields = stat.rsplit(")", 1)[1].split()  # from field 3, state
            total += (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")
        return total

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        proc = _gateway_proc()
        if gw is not None:
            try:
                gw.shutdown()
            except Exception:  # noqa: BLE001 — the JVM is stopped below anyway
                pass
        if proc is not None:
            try:
                proc.stdin.close()
            except OSError:
                pass
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None


def _gateway_proc():
    from pyspark import SparkContext

    gw = SparkContext._gateway
    return getattr(gw, "proc", None) if gw is not None else None


# --- instrumentation (traced runs) ----------------------------------------------

def instrument(rt: Runtime) -> None:
    """Wrap the package's layer entry points so each call records a span.

    Modules bind these functions by name at import, so every package
    module holding the original is patched.  A wrapper costs one flag
    test when the tracer is off."""
    import py4j.java_gateway as jg

    from proyecto_gasto_publico_etl_per__spark.operators import aggzone, skew, trigram
    from proyecto_gasto_publico_etl_per__spark.sources import csv_source, tables

    tr = rt.tracer

    def wrap(orig, span_name, on_call=None):
        def wrapper(*args, **kwargs):
            if not tr.enabled:
                return orig(*args, **kwargs)
            with tr.span(span_name) as s:
                if on_call is not None:
                    on_call(s, args, kwargs)
                return orig(*args, **kwargs)
        wrapper.__wrapped__ = orig
        return wrapper

    def csv_bytes(s, args, kwargs):
        path = args[1] if len(args) > 1 else kwargs.get("path")
        paths = path if isinstance(path, list) else [path]
        total = 0
        for p in paths:
            p = Path(p)
            files = sorted(p.glob("*.csv")) if p.is_dir() else [p]
            total += sum(f.stat().st_size for f in files)
        s.counts["csv_bytes"] += total

    def pin_count(s, args, kwargs):
        s.counts["pins"] += 1

    wrappers = {  # by identity: module attributes need not be hashable
        id(fn): wrap(fn, name, on_call)
        for fn, name, on_call in (
            (tables.load_table, "sources.load_table", None),
            (csv_source.read_monthly_csv, "sources.read_monthly_csv", csv_bytes),
            (skew.pin, "operators.skew.pin", pin_count),
            (skew.broadcast_if_bounded, "operators.skew.pin", pin_count),
            (aggzone.build_agg_zone, "operators.zone_build", None),
            (trigram.build_trigram_index, "operators.zone_build", None),
        )
    }
    for mod in list(sys.modules.values()):
        if not getattr(mod, "__name__", "").startswith(PACKAGE):
            continue
        for attr, val in list(vars(mod).items()):
            if id(val) in wrappers:
                setattr(mod, attr, wrappers[id(val)])

    orig_call = jg.JavaMember.__call__

    def counted_call(self, *args):
        if tr.enabled:
            tr.count("py4j")
        return orig_call(self, *args)

    jg.JavaMember.__call__ = counted_call


# --- metrics --------------------------------------------------------------------

def median(values, default=0.0):
    return statistics.median(values) if values else default


def geomean(values) -> float:
    return math.exp(statistics.fmean(math.log(v) for v in values)) if values else 0.0


def end_to_end(setup_cpu: float, passes, rt: Runtime) -> dict:
    """Timings are CPU seconds of the Python process plus the driver JVM
    (see ``Runtime.cpu_s``); the wall times go to the detail file."""
    cpu = [o.cpu for p in passes for o in p.ops if o.ok]
    return {
        "setup_s": {"value": setup_cpu, "unit": "s"},
        "pass_cpu_s": {"value": median([p.cpu for p in passes]), "unit": "s"},
        "query_cpu_geomean_s": {"value": geomean(cpu), "unit": "s"},
        "peak_rss_mb": {"value": rt.peak_rss_mb(), "unit": "MB"},
    }


def per_layer(rt: Runtime, passes, engine: dict, bulk_rows_per_s: float) -> dict:
    """Per-layer totals per pass of a traced run."""
    from perfbench.trace import ENGINE_KEYS, self_times

    spans = rt.tracer.spans
    selfs = self_times(spans)
    n = len(passes)

    def in_pass(op: str) -> bool:  # set-up spans carry op "setup…"
        return op.startswith("p")

    incl: dict[str, float] = defaultdict(float)
    slf: dict[str, float] = defaultdict(float)
    calls: Counter = Counter()
    counts: Counter = Counter()
    plan_s = 0.0
    sql_starts = engine.get("sql_starts_ms", [])
    for s, st in zip(spans, selfs):
        if not in_pass(s.op):
            continue
        incl[s.name] += s.duration
        slf[s.name] += st
        calls[s.name] += 1
        for k, v in s.counts.items():
            counts[(s.name, k)] += v
        if s.name == "spark.exec":
            starts = [t for t in sql_starts if s.wall_start_ms <= t <= s.wall_end_ms]
            if starts:
                plan_s += (starts[0] - s.wall_start_ms) / 1000.0

    eng: Counter = Counter()
    by_layer: dict[str, Counter] = defaultdict(Counter)
    for group, c in engine.get("groups", {}).items():
        op, _, layer = group.partition("|")
        if not in_pass(op):
            continue
        eng.update(c)
        by_layer[layer].update(c)

    def total(key):
        return sum(v for (name, k), v in counts.items() if k == key)

    def pass_extra(key):
        return median([p.extra[key] for p in passes if key in p.extra])

    get_spark = [s.duration for s in spans if s.name == "session.get_spark"]
    m = {
        "session.get_spark_s": (sum(get_spark), "s"),
        "sources.load_table_calls": (calls["sources.load_table"] / n, "count"),
        "sources.load_table_s": (incl["sources.load_table"] / n, "s"),
        "sources.schema_jobs": (by_layer["sources.load_table"]["jobs"] / n, "count"),
        "sources.read_monthly_csv_s": (incl["sources.read_monthly_csv"] / n, "s"),
        "sources.csv_bytes_read": (total("csv_bytes") / n, "bytes"),
        "plans.build_s": (slf["plans.build"] / n, "s"),
        "plans.build_jobs": (by_layer["plans.build"]["jobs"] / n, "count"),
        "plans.py4j_calls": (counts[("plans.build", "py4j")] / n, "count"),
        "plans.mef_pipeline.transform_s": (incl["plans.mef_pipeline.transform"] / n, "s"),
        "plans.mef_pipeline.load_s": (incl["plans.mef_pipeline.load"] / n, "s"),
        "plans.mef_pipeline.materialize_s": (incl["plans.mef_pipeline.materialize"] / n, "s"),
        "plans.mef_pipeline.replay_s": (incl["plans.mef_pipeline.replay"] / n, "s"),
        "plans.mef_pipeline.partitions_rewritten": (pass_extra("partitions_rewritten"), "count"),
        "plans.mef_pipeline.freshness_s": (pass_extra("freshness_s"), "s"),
        "plans.mef_pipeline.load_rows_per_s": (pass_extra("load_rows_per_s"), "1/s"),
        "plans.mef_pipeline.bulk_rows_per_s": (bulk_rows_per_s, "1/s"),
        "plans.mef_pipeline.written_bytes_per_input_byte": (
            pass_extra("written_bytes_per_input_byte"), "ratio"),
        "plans.mef_pipeline.stored_bytes_per_input_byte": (
            pass_extra("stored_bytes_per_input_byte"), "ratio"),
        "operators.skew.pins_created": (total("pins") / n, "count"),
        "operators.skew.pins_live": (total("pins_live") / n, "count"),
        "operators.skew.release_s": (incl["operators.skew.release"] / n, "s"),
        "operators.zone_build_s": (incl["operators.zone_build"] / n, "s"),
        "spark.plan_s": (plan_s / n, "s"),
        "spark.exec_s": (incl["spark.exec"] / n, "s"),
    }
    for k in ENGINE_KEYS:
        unit = "ms" if k.endswith("_ms") else ("bytes" if k.endswith("bytes") else "count")
        m[f"spark.{k}"] = (eng[k] / n, unit)
    m["spark.shuffle_to_input_ratio"] = (
        eng["shuffle_write_bytes"] / eng["input_bytes"] if eng["input_bytes"] else 0.0,
        "ratio",
    )
    m["spark.logged_exceptions"] = (sum(rt.exceptions.values()) / max(1, len(passes)), "count")
    m["trace.pass_s"] = (median([p.wall for p in passes]), "s")
    m["trace.pass_cpu_s"] = (median([p.cpu for p in passes]), "s")
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


# --- driver ---------------------------------------------------------------------

def env_block(args, cpus: int, workload) -> dict:
    import duckdb
    import pyspark

    return {
        "nproc": usable_cpus(),
        "master": f"local[{cpus}]",
        "shuffle_partitions": cpus,
        "pin_mode": os.environ.get("SPARK_GRAFT_PIN_MODE", "local"),
        "driver_memory": DRIVER_MEMORY,
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "workload": args.workload,
        "inputs": workload.describe(),
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, default=None,
                    help=f"local[N] threads (default: min({DEFAULT_CPUS}, usable CPUs))")
    args = ap.parse_args(argv)

    if not (ROOT / PACKAGE).is_dir():
        print(f"perfbench: package {PACKAGE}/ not found under {ROOT}", file=sys.stderr)
        return 2
    nproc = usable_cpus()
    cpus = args.cpus or min(DEFAULT_CPUS, nproc)
    if cpus > nproc:
        print(f"perfbench: refusing local[{cpus}] on {nproc} usable CPUs",
              file=sys.stderr)
        return 2

    sys.path.insert(0, str(ROOT))
    from perfbench import workloads
    from perfbench.trace import LogCapture, parse_event_log

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {workloads.WORKLOADS}", file=sys.stderr)
        return 2

    work = ROOT / ".perfbench_work" / f"{args.workload}-s{args.seed}-{os.getpid()}"
    out_dir = ROOT / ".perfbench_out"
    work.mkdir(parents=True)
    out_dir.mkdir(exist_ok=True)
    (work / "tmp").mkdir()
    os.environ["TMPDIR"] = str(work / "tmp")
    # would override spark.local.dir and put shuffle files outside
    os.environ.pop("SPARK_LOCAL_DIRS", None)
    tempfile.tempdir = str(work / "tmp")

    log = LogCapture(work / "driver.log")
    log.start()
    rt = Runtime(work, args.seed, bool(args.trace), cpus, log)
    wl = workloads.make(args.workload)
    try:
        from proyecto_gasto_publico_etl_per__spark.plans.driver_queries import (
            all_queries,
        )

        all_queries()  # import every query module before instrumenting
        if args.trace:
            instrument(rt)
        rt.tracer.enabled = bool(args.trace)
        c0, t0 = rt.cpu_s(), time.perf_counter()
        wl.setup(rt)
        setup_wall = time.perf_counter() - t0
        setup_cpu = rt.cpu_s() - c0

        passes = []
        t_start = time.perf_counter()
        while not passes or time.perf_counter() - t_start < args.seconds:
            passes.append(wl.run_pass(rt, len(passes)))
        rt.tracer.enabled = False
        window_s = time.perf_counter() - t_start

        failures_before_check = len(rt.failures)
        try:
            checked, check_failures = wl.check(rt)
        except Exception as exc:  # noqa: BLE001 — a check that cannot run fails
            checked, check_failures = 1, [f"check: {type(exc).__name__}: {exc}"]
        rt.failures.extend(check_failures)
        e2e = end_to_end(setup_cpu, passes, rt)
        rt.spark.stop()
        rt.spark = None
        engine = parse_event_log(work / "eventlog") if args.trace else {}
        layers = (
            per_layer(rt, passes, engine, getattr(wl, "bulk_rows_per_s", 0.0))
            if args.trace else {}
        )
    except Exception:
        tail = log.tail()
        rt.shutdown()
        log.stop()  # fd 2 is the real stderr again
        sys.stderr.write(tail + "\n")
        raise
    finally:
        rt.shutdown()
        log.stop()
        shutil.rmtree(work, ignore_errors=True)

    lat = [o.latency for p in passes for o in p.ops if o.ok]
    from perfbench import stats

    detail = {
        "env": env_block(args, cpus, wl),
        "window_s": window_s,
        "setup_wall_s": setup_wall,
        "pass_wall_s": median([p.wall for p in passes]),
        "query_geomean_wall_s": geomean(lat),
        "passes": [
            {"wall": p.wall, "cpu": p.cpu, "extra": p.extra,
             "ops": {o.name: {"wall": o.latency, "cpu": o.cpu} for o in p.ops}}
            for p in passes
        ],
        "query_samples": len(lat),
        "query_p50_s": stats.percentile(lat, 0.50) if lat else None,
        "query_p75_s": stats.percentile(lat, 0.75) if lat else None,
        "query_p50_supported": stats.supported(len(lat), 0.50),
        "query_p75_supported": stats.supported(len(lat), 0.75),
        "failures": rt.failures,
        "failed_in_window": failures_before_check,
        "logged_exceptions": dict(rt.exceptions),
        "op_exceptions": {k: dict(v) for k, v in rt.op_exceptions.items()},
        "exception_lines": rt.exception_lines,
        "end_to_end": e2e,
        "per_layer": layers,
        "engine_groups": engine.get("groups", {}),
    }
    stem = f"{args.workload}-s{args.seed}-t{args.trace}"
    untraced = out_dir / f"{args.workload}-s{args.seed}-t0.json"
    if args.trace and untraced.exists():
        # tracing overhead: this traced run's pass against the untraced
        # run of the same workload and seed
        base = json.loads(untraced.read_text())
        detail["tracing_overhead_s"] = detail["pass_wall_s"] - base["pass_wall_s"]
        detail["tracing_overhead_cpu_s"] = (
            median([p.cpu for p in passes])
            - base["end_to_end"]["pass_cpu_s"]["value"]
        )
    (out_dir / f"{stem}.json").write_text(json.dumps(detail, indent=1) + "\n")
    if args.trace:
        rt.tracer.dump(out_dir / f"{stem}.spans.json")

    attempted = rt.attempted + checked
    result = {
        "correct": not rt.failures,
        "attempted": attempted,
        "failed": len(rt.failures),
        "metrics": layers if args.trace else e2e,
    }
    print(json.dumps({"env": detail["env"]}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
