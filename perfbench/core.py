"""Measurement helpers shared by the benchmark workloads.

Pure functions (statistics, span self-time, plan-node counting, config keys,
result hashing) are kept free of Spark so the unit tests run without a JVM.
The Spark-facing helpers (job counters, persistent-RDD count, plan size) take
a live session as an argument.
"""

from __future__ import annotations

import contextlib
import datetime
import hashlib
import json
import math
import os
import re
import statistics
import time
from dataclasses import dataclass, field
from typing import Any, Iterable, Iterator

import numpy as np

# a tail needs this many samples strictly above it
TAIL_BEYOND = 10
TAIL_GRID = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


# -- statistics -----------------------------------------------------------


def tail_percentile(samples: Iterable[float], beyond: int = TAIL_BEYOND) -> tuple[float, float]:
    """The highest percentile of TAIL_GRID that has at least ``beyond``
    samples above it, as ``(value, percentile)``; nearest-rank, so the value
    is a sample. With too few samples for any tail the median is returned,
    at percentile 50."""
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    best = None
    for p in TAIL_GRID:
        rank = math.ceil(p / 100.0 * n)  # 1-based nearest rank
        if n - rank >= beyond:
            best = (xs[rank - 1], p)
    return best if best is not None else (statistics.median(xs), 50.0)


def median(samples: Iterable[float]) -> float:
    return statistics.median(list(samples))


# -- spans and self time --------------------------------------------------


@dataclass
class Span:
    id: int
    name: str
    phase: str
    parent: int | None
    op: int | None
    start: float
    end: float = math.nan
    counts: dict[str, int] = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: Iterable[Span]) -> dict[int, float]:
    """Each span's duration minus the part of its interval that its child
    spans cover. Overlapping children are counted once (their union)."""
    spans = list(spans)
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: s.seconds - _covered(children.get(s.id, []), s.start, s.end) for s in spans
    }


class Tracer:
    """Records spans around the benchmark's calls into the program.

    Spans live in memory until ``dump``. A disabled tracer records nothing
    and costs one attribute test per call. Once ``counter`` is set (an object
    with ``snapshot()``/``delta(before)``, such as a JobCounter), each span
    also gets the Spark jobs, stages and tasks launched inside it."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.counter: Any = None
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._op: int | None = None

    @contextlib.contextmanager
    def op(self, op_id: int) -> Iterator[None]:
        """Tag every span opened inside with one operation id."""
        prev, self._op = self._op, op_id
        try:
            yield
        finally:
            self._op = prev

    @contextlib.contextmanager
    def span(self, name: str, phase: str = "") -> Iterator[Span | None]:
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1].id if self._stack else None
        before = self.counter.snapshot() if self.counter is not None else None
        s = Span(len(self.spans), name, phase, parent, self._op, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if before is not None:
                s.counts.update(self.counter.delta(before))

    def dump(self, path: str, extra: dict[str, Any]) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        selfs = self_times(self.spans)
        doc = dict(extra)
        doc["spans"] = [
            {
                "id": s.id,
                "name": s.name,
                "phase": s.phase,
                "parent": s.parent,
                "op": s.op,
                "start": s.start,
                "end": s.end,
                "self_s": selfs[s.id],
                **s.counts,
            }
            for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump(doc, f)


def layer_of(name: str) -> str:
    return name.split(".", 1)[0]


def span_metrics(spans: list[Span]) -> dict[str, float]:
    """Per-name numbers from a finished trace.

    A program call is one unphased span, optionally with ``build`` and
    ``exec`` phase spans inside it. For each name: ``<name>.calls``,
    ``<name>.ms`` (median per call), ``<name>.<phase>_ms`` and the mean
    Spark ``jobs``/``stages``/``tasks`` per call, plus ``<name>.<phase>_jobs``."""
    out: dict[str, float] = {}
    groups: dict[str, list[Span]] = {}
    for s in spans:
        groups.setdefault(s.name, []).append(s)
    for name, group in groups.items():
        calls = [s for s in group if not s.phase]
        out[f"{name}.calls"] = len(calls)
        if calls:
            out[f"{name}.ms"] = 1000.0 * median(s.seconds for s in calls)
        for c in ("jobs", "stages", "tasks"):
            out[f"{name}.{c}"] = sum(s.counts.get(c, 0) for s in calls) / max(1, len(calls))
        for phase in sorted({s.phase for s in group if s.phase}):
            ph = [s for s in group if s.phase == phase]
            out[f"{name}.{phase}_ms"] = 1000.0 * median(s.seconds for s in ph)
            out[f"{name}.{phase}_jobs"] = sum(s.counts.get("jobs", 0) for s in ph) / len(ph)
    return out


def self_pct(spans: list[Span]) -> dict[str, float]:
    """Each layer's self time as a share of the wall time its root spans cover."""
    selfs = self_times(spans)
    wall = sum(s.seconds for s in spans if s.parent is None)
    per_layer: dict[str, float] = {}
    for s in spans:
        per_layer[layer_of(s.name)] = per_layer.get(layer_of(s.name), 0.0) + selfs[s.id]
    return {layer: 100.0 * secs / wall for layer, secs in per_layer.items()} if wall > 0 else {}


# -- Spark counters -------------------------------------------------------


class JobCounter:
    """Exact jobs/stages/tasks launched between two points. Spark numbers
    jobs consecutively, so a snapshot is the scheduler's next job id and the
    delta walks the new ids through the JVM status tracker."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext._jsc.sc()
        self._dag = sc.dagScheduler()
        self._st = sc.statusTracker()

    def snapshot(self) -> int:
        nxt = self._dag.nextJobId()  # py4j hands the AtomicInteger over as its value
        return nxt if isinstance(nxt, int) else nxt.get()

    def delta(self, before: int) -> dict[str, int]:
        after = self.snapshot()
        stages = tasks = 0
        for j in range(before, after):
            info = self._st.getJobInfo(j)
            if not info.isDefined():
                continue
            for sid in info.get().stageIds():
                si = self._st.getStageInfo(sid)
                if si.isDefined():
                    stages += 1
                    tasks += si.get().numTasks()
        return {"jobs": after - before, "stages": stages, "tasks": tasks}


def persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


_CHILD_LINE = re.compile(r"[ :]*[+:]- ")


def count_plan_nodes(tree_string: str) -> int:
    """Number of operators in a Catalyst ``treeString``: the first line is the
    root, every other operator line starts (after indentation and ``:``
    continuation bars) with ``+- `` or ``:- ``."""
    lines = [ln for ln in tree_string.splitlines() if ln.strip()]
    if not lines:
        return 0
    return 1 + sum(1 for ln in lines[1:] if _CHILD_LINE.match(ln))


def plan_nodes(df) -> int:
    return count_plan_nodes(df._jdf.queryExecution().logical().treeString())


def dir_bytes_files(path: str) -> tuple[int, int]:
    """Bytes and number of data files under a directory (hidden files, which
    hold Spark's checksums and markers, excluded)."""
    nbytes = nfiles = 0
    for root, _, files in os.walk(path):
        for f in files:
            if f.startswith((".", "_")):
                continue
            nbytes += os.path.getsize(os.path.join(root, f))
            nfiles += 1
    return nbytes, nfiles


# -- host -----------------------------------------------------------------


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate cpu line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    return 100.0 * (after[0] - before[0]) / max(1, after[1] - before[1])


def tree_cpu_seconds(roots: Iterable[int]) -> float:
    """User plus system CPU seconds of the given live processes and all their
    descendants, from /proc/<pid>/stat. Unlike wall time, this does not
    grow with time the host steals from the machine."""
    parent: dict[int, int] = {}
    ticks: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        pid = int(name)
        parent[pid] = int(fields[1])
        ticks[pid] = int(fields[11]) + int(fields[12])  # utime, stime
    wanted = set(roots)
    grew = True
    while grew:
        kids = {p for p, pp in parent.items() if pp in wanted} - wanted
        grew = bool(kids)
        wanted |= kids
    return sum(ticks.get(p, 0) for p in wanted) / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(pids: Iterable[int]) -> float:
    """Sum of each process's peak resident set (VmHWM) in MiB."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


# -- records --------------------------------------------------------------


def config_key(config: dict[str, Any]) -> str:
    """Stable identity of a run configuration; records are only ever compared
    with records of the same key."""
    return hashlib.sha256(json.dumps(config, sort_keys=True).encode()).hexdigest()[:16]


def baseline_for(records: Iterable[dict[str, Any]], config: dict[str, Any]) -> dict | None:
    """The latest earlier record made under exactly this config, or None. A
    record from any other config is never a baseline."""
    key = config_key(config)
    match = None
    for rec in records:
        if rec.get("config_key") == key:
            match = rec
    return match


def read_records(path: str) -> list[dict[str, Any]]:
    try:
        with open(path) as f:
            return [json.loads(line) for line in f if line.strip()]
    except OSError:
        return []


def append_record(path: str, record: dict[str, Any]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "a") as f:
        f.write(json.dumps(record, sort_keys=True) + "\n")


# -- result hashing (the oracle-parity canonical form) --------------------


def _is_missing(v: Any) -> bool:
    return v is None or (isinstance(v, float) and math.isnan(v))


def canon(v: Any) -> str:
    if isinstance(v, np.generic):
        v = v.item()
    if _is_missing(v):
        return "∅"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(round(v, 9))
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat(sep=" ")
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def hash_rows(columns: list[str], rows: Iterable[Iterable[Any]]) -> str:
    """Order-insensitive hash of a result: columns sorted by name, each value
    in canonical form, rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("|".join(canon(r[i]) for i in order) for r in (tuple(x) for x in rows))
    return hashlib.sha256(("\n".join(lines)).encode()).hexdigest()
