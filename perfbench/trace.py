"""Spans around calls into the program's layers, with Spark's own counters.

A :class:`Tracer` keeps spans in memory (name, start, end, parent, run id)
and is written out once, at the end of a run.  Each span also marks the
Spark engine state at its boundaries:

* the SQL status store's execution count (SQL metrics are harvested for
  the executions that ran inside the span, after the pass, untimed);
* a job group of its own, so every Spark job is owned by the innermost
  open span;
* the Spark driver's codegen counters (``CodegenMetrics`` compile count and
  ``CodeGenerator.compileTime``).

A span's self value (time or counter) is its inclusive value minus what
its child spans cover.  :func:`patched` swaps a program function for a
span-recording wrapper in every loaded module that bound it, and puts the
originals back on exit, so the program's files are never touched.
"""

from __future__ import annotations

import contextlib
import dataclasses
import re
import sys
import time
from collections.abc import Callable, Iterator
from dataclasses import dataclass, field

SQL_COUNTERS = {
    # SQL metric name -> counter (bytes or milliseconds)
    "shuffle bytes written": "shuffle_bytes",
    "spill size": "spill_bytes",
    "time to build": "broadcast_build_ms",  # BroadcastExchange build
    "size of files read": "scan_bytes",
    "scan time": "scan_ms",
    "time to run Python workers": "python_ms",
    "data sent to Python workers": "arrow_bytes",
    "data returned from Python workers": "arrow_bytes",
}

_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME_UNITS = {"ns": 1e-6, "ms": 1.0, "s": 1e3, "m": 6e4, "min": 6e4, "h": 3.6e6}
_VALUE_RE = re.compile(r"(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]+)?")


def parse_metric_value(text: str) -> float:
    """Total of a formatted SQL metric ("1,024.0 KiB", "1.2 s", "6,000").

    Multi-task metrics are formatted as a ``total (min, med, max ...)``
    header line followed by the values; the total is the first number
    of the last line."""
    line = text.strip().splitlines()[-1]
    m = _VALUE_RE.search(line)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2) or ""
    return value * _SIZE_UNITS.get(unit, _TIME_UNITS.get(unit, 1.0))


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, reach = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, reach), min(b, hi)
        if b > a:
            total += b - a
            reach = b
    return total


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    exec_range: tuple[int, int] = (0, 0)  # SQL execution list positions [a, b)
    counters: dict[str, float] = field(default_factory=dict)  # inclusive
    result_id: int | None = None  # identity of the wrapped call's result

    @property
    def duration(self) -> float:
        return self.end - self.start


class SparkProbe:
    """Reads engine counters from a live session (py4j; ``spark.ui.enabled``
    may be false: the status store is kept regardless)."""

    def __init__(self, spark) -> None:
        jvm = spark._jvm
        self.sc = spark.sparkContext
        self._store = spark._jsparkSession.sharedState().statusStore()
        self._codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        self._compiler = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

    def exec_count(self) -> int:
        return int(self._store.executionsCount())

    def codegen(self) -> tuple[int, float]:
        """(classes compiled, compile milliseconds) since JVM start."""
        return int(self._codegen.getCount()), self._compiler.compileTime() / 1e6

    def set_group(self, group: str | None) -> None:
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(group, group)

    def executions(self, lo: int, hi: int) -> list[dict[str, float]]:
        """Counters of the SQL executions at list positions [lo, hi)."""
        if hi <= lo:
            return []
        out = []
        it = self._store.executionsList(lo, hi - lo).iterator()
        while it.hasNext():
            e = it.next()
            row: dict[str, float] = {"sql_executions": 1.0}
            done = e.completionTime()
            if done.isDefined():
                row["exec_ms"] = float(done.get().getTime() - e.submissionTime())
            wanted = [
                (name, int(acc))
                for name, acc, _ in re.findall(
                    r"SQLPlanMetric\(([^,]+),(\d+),(\w+)\)", e.metrics().toString()
                )
                if name in SQL_COUNTERS
            ]
            if wanted:
                values = self._store.executionMetrics(e.executionId())
                for name, acc in wanted:
                    v = values.get(acc)
                    if v.isDefined():
                        counter = SQL_COUNTERS[name]
                        row[counter] = row.get(counter, 0.0) + parse_metric_value(v.get())
            out.append(row)
        return out

    def jobs(self, group: str) -> dict[str, float]:
        """Jobs and tasks of one job group."""
        tracker = self.sc.statusTracker()
        ids = tracker.getJobIdsForGroup(group)
        row = {"jobs": float(len(ids)), "tasks": 0.0}
        for jid in ids:
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in list(info.stageIds):
                stage = tracker.getStageInfo(sid)
                if stage is not None:
                    row["tasks"] += stage.numTasks
        return row


class Tracer:
    """In-memory spans for one run; see the module docstring."""

    def __init__(self, run_id: str, probe: SparkProbe | None = None) -> None:
        self.run_id = run_id
        self.probe = probe
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str) -> Iterator[Span]:
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.id if parent else None, self.run_id, 0.0)
        self.spans.append(s)
        self._stack.append(s)
        p = self.probe
        if p is not None:
            p.set_group(f"span-{self.run_id}-{s.id}")
            cg0, ex0 = p.codegen(), p.exec_count()
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if p is not None:
                cg1 = p.codegen()
                s.exec_range = (ex0, p.exec_count())
                s.counters["codegen_compiles"] = float(cg1[0] - cg0[0])
                s.counters["codegen_compile_ms"] = cg1[1] - cg0[1]
                p.set_group(f"span-{self.run_id}-{parent.id}" if parent else None)

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def self_time(self, span: Span) -> float:
        kids = [(c.start, c.end) for c in self.children(span)]
        return span.duration - covered(kids, span.start, span.end)

    def harvest(self) -> None:
        """Fill each span's inclusive Spark counters (after the timed work)."""
        p = self.probe
        if p is None or not self.spans:
            return
        lo = min(s.exec_range[0] for s in self.spans)
        hi = max(s.exec_range[1] for s in self.spans)
        rows = p.executions(lo, hi)
        for s in self.spans:
            for row in rows[s.exec_range[0] - lo : s.exec_range[1] - lo]:
                for k, v in row.items():
                    s.counters[k] = s.counters.get(k, 0.0) + v
        # Jobs are owned by the innermost span (job groups): add each
        # span's own jobs to it and to every ancestor, so every counter
        # is inclusive and self values come from one subtraction rule.
        by_id = {s.id: s for s in self.spans}
        for s in self.spans:
            own = p.jobs(f"span-{self.run_id}-{s.id}")
            node: Span | None = s
            while node is not None:
                for k, v in own.items():
                    node.counters[k] = node.counters.get(k, 0.0) + v
                node = by_id[node.parent] if node.parent is not None else None

    def self_counters(self, span: Span) -> dict[str, float]:
        out = dict(span.counters)
        for c in self.children(span):
            for k, v in c.counters.items():
                out[k] = out.get(k, 0.0) - v
        return out

    def records(self) -> list[dict]:
        return [
            {
                **{k: v for k, v in dataclasses.asdict(s).items() if k not in ("exec_range", "result_id")},
                "self_s": self.self_time(s),
                "self_counters": self.self_counters(s),
            }
            for s in self.spans
        ]


def _spanned(tracer: Tracer, name: str, fn: Callable, materialize: bool) -> Callable:
    def wrapper(*args, **kwargs):
        with tracer.span(name) as s:
            out = fn(*args, **kwargs)
            s.result_id = id(out)
            # Materializing a lazy result at the layer boundary puts its
            # work in this span: computed, then cut from its lineage.
            return out.localCheckpoint(eager=True) if materialize else out

    wrapper.__wrapped__ = fn  # type: ignore[attr-defined]
    return wrapper


@contextlib.contextmanager
def patched(
    tracer: Tracer,
    targets: dict[str, Callable],
    materialize_names: frozenset[str] = frozenset(),
) -> Iterator[None]:
    """Wrap each ``targets`` function (span name -> function) in a span.

    Every loaded module of the program whose global binds the function is
    rebound to the wrapper (``from x import f`` copies included), and the
    originals are restored on exit.  DataFrame results of spans named in
    ``materialize_names`` are materialized inside the span."""
    package = "processo_etl_spark"
    undo: list[tuple[object, str, Callable]] = []
    wrappers = {
        id(fn): _spanned(tracer, name, fn, name in materialize_names)
        for name, fn in targets.items()
    }
    try:
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not (mod_name == package or mod_name.startswith(package + ".")):
                continue
            for attr, value in list(vars(mod).items()):
                w = wrappers.get(id(value))
                if w is not None:
                    undo.append((mod, attr, value))
                    setattr(mod, attr, w)
        yield
    finally:
        for mod, attr, value in reversed(undo):
            setattr(mod, attr, value)
