"""Spans, self time, driver-log capture and the Spark event-log parser.

Spans are recorded from the benchmark's own code around each call into a
layer of the package; nothing inside the package is edited.  They live in
memory and are written out when the run ends.  In a traced run each span
that can run Spark jobs also sets the job group ``<op id>|<span name>``,
so the event log attributes every job, stage and task to the layer that
caused it.
"""

from __future__ import annotations

import json
import os
import re
import time
from collections import Counter, defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path


@dataclass
class Span:
    name: str
    op: str
    start: float  # perf_counter seconds
    end: float = 0.0
    parent: int | None = None
    wall_start_ms: int = 0  # epoch ms, comparable with event-log times
    wall_end_ms: int = 0
    counts: Counter = field(default_factory=Counter)

    @property
    def duration(self) -> float:
        return self.end - self.start


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Per span: its duration minus the part of its interval that its
    direct children cover (children are clipped to the parent)."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            p = spans[s.parent]
            children[s.parent].append(
                (max(s.start, p.start), min(s.end, p.end))
            )
    return [
        max(0.0, s.duration - _covered(children.get(i, [])))
        for i, s in enumerate(spans)
    ]


class Tracer:
    """In-memory span recorder.  Disabled, ``span`` only yields."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        #: set in traced runs: spans then label Spark jobs with job groups
        self.sc = None
        self._own_call = False  # the tracer's own Py4J call is not counted

    def current(self) -> Span | None:
        return self.spans[self._stack[-1]] if self._stack else None

    def count(self, key: str, n: int = 1) -> None:
        cur = self.current()
        if cur is not None and not self._own_call:
            cur.counts[key] += n

    def _set_group(self, op: str, name: str) -> None:
        self._own_call = True
        try:
            self.sc.setJobGroup(f"{op}|{name}", name)
        finally:
            self._own_call = False

    @contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if op is None:
            op = self.spans[parent].op if parent is not None else "-"
        s = Span(name, op, time.perf_counter(), parent=parent,
                 wall_start_ms=int(time.time() * 1000))
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        if self.sc is not None:
            self._set_group(op, name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            s.wall_end_ms = int(time.time() * 1000)
            self._stack.pop()
            if self.sc is not None:
                outer = self.current()
                if outer is not None:
                    self._set_group(outer.op, outer.name)
                else:
                    self._set_group("-", "untraced")

    def dump(self, path: Path) -> None:
        rows = [
            {
                "id": i, "name": s.name, "op": s.op, "parent": s.parent,
                "start": s.start, "end": s.end, "self": st,
                "counts": dict(s.counts),
            }
            for i, (s, st) in enumerate(zip(self.spans, self_times(self.spans)))
        ]
        path.write_text(json.dumps(rows) + "\n")


# --- driver log -----------------------------------------------------------------

#: a JVM (or Python) exception class name, package-qualified for the JVM
EXC_RE = re.compile(
    r"\b((?:[a-z_][\w$]*\.)+[A-Z][\w$]*(?:Exception|Error))\b"
)


def exception_names(text: str) -> Counter:
    """Exception class names in a chunk of log text, one per line at most
    (a stack trace's ``Caused by`` lines each count)."""
    out: Counter = Counter()
    for line in text.splitlines():
        m = EXC_RE.search(line)
        if m:
            out[m.group(1)] += 1
    return out


class LogCapture:
    """Redirect file descriptor 2 into a file for the life of the run.

    Started before the JVM launches, so the driver JVM inherits the file
    as its stderr: Spark's log lines and Python warnings land in one file
    that ``since`` reads back per operation."""

    def __init__(self, path: Path) -> None:
        self.path = path
        self._saved: int | None = None
        self._fh = None

    def start(self) -> None:
        self._fh = open(self.path, "ab")
        self._saved = os.dup(2)
        os.dup2(self._fh.fileno(), 2)

    def offset(self) -> int:
        return os.fstat(2).st_size if self._fh else 0

    def since(self, offset: int) -> str:
        with open(self.path, "rb") as fh:
            fh.seek(offset)
            return fh.read().decode("utf-8", "replace")

    def stop(self) -> None:
        if self._saved is not None:
            os.dup2(self._saved, 2)
            os.close(self._saved)
            self._saved = None
        if self._fh is not None:
            self._fh.close()
            self._fh = None

    def tail(self, n: int = 40) -> str:
        lines = self.path.read_text(errors="replace").splitlines()
        return "\n".join(lines[-n:])


# --- Spark event log ------------------------------------------------------------

ENGINE_KEYS = (
    "jobs", "stages", "tasks", "executor_run_ms", "deserialize_ms", "gc_ms",
    "input_bytes", "shuffle_write_bytes", "spill_bytes",
)


def _event_files(root: Path) -> list[Path]:
    if root.is_file():
        return [root]
    files = [
        p for p in root.rglob("*")
        if p.is_file() and not p.name.startswith(("appstatus", "."))
    ]

    def order(p: Path):
        m = re.match(r"events_(\d+)_", p.name)
        return (str(p.parent), int(m.group(1)) if m else 0, p.name)

    return sorted(files, key=order)


def parse_event_log(root: str | Path) -> dict:
    """Attribute engine work to job groups.

    Reads every uncompressed event-log file under ``root`` (a plain
    application log, or Spark's rolling ``eventlog_v2_*`` directories).
    Returns ``{"groups": {group: {jobs, stages, tasks, executor_run_ms,
    deserialize_ms, gc_ms, input_bytes, shuffle_write_bytes,
    spill_bytes}}, "sql_starts_ms": [...]}``.  Stages are counted when
    they complete (stages skipped through shuffle reuse never do); tasks
    and their metrics when they end.  Events of several applications in
    one directory are kept apart by application."""
    groups: dict[str, Counter] = defaultdict(Counter)
    sql_starts: list[int] = []
    # stage → job group, per application: a rolling log's files share one
    stage_groups: dict[str, dict[int, str]] = defaultdict(dict)
    for path in _event_files(Path(root)):
        app = (
            str(path.parent) if path.parent.name.startswith("eventlog_v2_")
            else str(path)
        )
        stage_group = stage_groups[app]
        with open(path, encoding="utf-8", errors="replace") as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except ValueError:
                    continue  # a torn last line of an unfinished log
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    g = props.get("spark.jobGroup.id") or "-|untraced"
                    groups[g]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, g)
                elif kind == "SparkListenerStageCompleted":
                    info = ev.get("Stage Info", {})
                    g = stage_group.get(info.get("Stage ID"), "-|untraced")
                    groups[g]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev.get("Stage ID"), "-|untraced")
                    m = ev.get("Task Metrics") or {}
                    c = groups[g]
                    c["tasks"] += 1
                    c["executor_run_ms"] += m.get("Executor Run Time", 0)
                    c["deserialize_ms"] += m.get("Executor Deserialize Time", 0)
                    c["gc_ms"] += m.get("JVM GC Time", 0)
                    c["input_bytes"] += (m.get("Input Metrics") or {}).get(
                        "Bytes Read", 0
                    )
                    c["shuffle_write_bytes"] += (
                        m.get("Shuffle Write Metrics") or {}
                    ).get("Shuffle Bytes Written", 0)
                    c["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                elif kind.endswith("SparkListenerSQLExecutionStart"):
                    sql_starts.append(int(ev.get("time", 0)))
    return {
        "groups": {g: dict(c) for g, c in groups.items()},
        "sql_starts_ms": sorted(sql_starts),
    }
