"""Spans, self-time reduction, latency statistics and Spark counters.

Everything here observes the engine from outside the package: spans are
opened around the public calls the benchmark makes, Spark jobs become
child spans from the status store's submission and completion times, and
counters are read at the same boundaries.

A span's self time is its duration minus the part of its interval that
its child spans cover. Sibling job spans overlap when Spark runs jobs
concurrently (broadcast and AQE sub-jobs), so overlapping siblings of the
same name are merged into one interval before the reduction; otherwise
their self times would double count the wall time they share.
"""

from __future__ import annotations

import math
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

#: candidate tail percentiles, highest first
TAIL_GRID = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


@dataclass
class Span:
    id: int
    name: str
    op_id: int
    parent: int | None
    start: float
    end: float
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span log; spans are written out once, at the end."""

    def __init__(self) -> None:
        self.spans: list[Span] = []

    def add(self, name: str, op_id: int, parent: int | None, start: float, end: float, **attrs) -> Span:
        s = Span(len(self.spans), name, op_id, parent, start, end, attrs)
        self.spans.append(s)
        return s

    @contextmanager
    def span(self, name: str, op_id: int, parent: int | None = None, **attrs):
        s = self.add(name, op_id, parent, time.time(), math.nan, **attrs)
        try:
            yield s
        finally:
            s.end = time.time()


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def merge_siblings(spans: list[Span], name: str = "job") -> list[Span]:
    """Replace overlapping sibling spans called ``name`` by their union.

    The merged span keeps the earliest member's id and sums the members'
    attributes that are numbers."""
    by_parent: dict[int | None, list[Span]] = defaultdict(list)
    out = []
    for s in spans:
        (by_parent[s.parent] if s.name == name else out).append(s)
    for group in by_parent.values():
        group.sort(key=lambda s: s.start)
        cur = None
        for s in group:
            if cur is not None and s.start < cur.end:
                cur.end = max(cur.end, s.end)
                for k, v in s.attrs.items():
                    if isinstance(v, (int, float)):
                        cur.attrs[k] = cur.attrs.get(k, 0) + v
                continue
            cur = Span(s.id, s.name, s.op_id, s.parent, s.start, s.end, dict(s.attrs))
            out.append(cur)
    return sorted(out, key=lambda s: s.id)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the union of its children, each child
    clipped to the parent's interval."""
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    by_id = {s.id: s for s in spans}
    for s in spans:
        p = by_id.get(s.parent) if s.parent is not None else None
        if p is not None:
            kids[p.id].append((max(s.start, p.start), min(s.end, p.end)))
    return {s.id: s.duration - union_length(kids[s.id]) for s in spans}


def layer_self_times(spans: list[Span], layer_of) -> dict[str, float]:
    """Sum self times by layer; ``layer_of(span)`` names a span's layer."""
    merged = merge_siblings(spans)
    st = self_times(merged)
    out: dict[str, float] = defaultdict(float)
    for s in merged:
        out[layer_of(s)] += st[s.id]
    return dict(out)


def _rank(p: float, n: int) -> int:
    """Nearest rank (1-based) of percentile ``p`` among ``n`` samples;
    rounding first keeps 99.9% of 10000 at rank 9990, not 9991."""
    return max(1, math.ceil(round(p * n / 100.0, 9)))


def tail_percentile(n: int) -> float | None:
    """Highest percentile of ``TAIL_GRID`` with at least 10 of ``n``
    samples strictly beyond it (nearest-rank), or None when n < 20."""
    for p in TAIL_GRID:
        if n - _rank(p, n) >= 10:
            return p
    return None


def percentile(values, p: float) -> float:
    """Nearest-rank percentile."""
    v = sorted(values)
    return v[_rank(p, len(v)) - 1]


def latency_stats(values) -> dict:
    """Median, tail and which percentile the tail is, plus the count.

    With fewer than 20 samples no percentile has ten samples beyond it
    and the median itself does not, so the tail is the maximum (p100)."""
    n = len(values)
    if n == 0:
        return {"n": 0, "p50": math.nan, "tail": math.nan, "tail_pct": None}
    p = tail_percentile(n)
    return {
        "n": n,
        "p50": statistics.median(values),
        "tail": percentile(values, p) if p is not None else max(values),
        "tail_pct": p if p is not None else 100.0,
    }


class SparkCounters:
    """Exact job/stage/task counters read from the driver's scheduler and
    status store through py4j."""

    def __init__(self, spark) -> None:
        self.jsc = spark.sparkContext._jsc.sc()

    def next_job_id(self) -> int:
        # counts jobs submitted from every thread, AQE and broadcast
        # sub-jobs included
        n = self.jsc.dagScheduler().nextJobId()
        return int(n if isinstance(n, int) else n.get())

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status store holds the jobs that just ended."""
        self.jsc.listenerBus().waitUntilEmpty()

    def job_spans(self, first: int, last: int, seen_stages: set) -> list[dict]:
        """Submission/completion epoch seconds and stage metrics of jobs
        ``first`` .. ``last - 1``. A stage is counted once: the first time
        it appears that is not skipped (``seen_stages`` carries the ids
        across calls)."""
        from py4j.protocol import Py4JJavaError

        store = self.jsc.statusStore()
        out = []
        for j in range(first, last):
            try:
                jd = store.job(j)
            except Py4JJavaError:  # a job the store has already evicted
                continue
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isEmpty() or done.isEmpty():
                continue
            m = defaultdict(float)
            ids = jd.stageIds()  # a Scala Seq
            for sid in (int(ids.apply(i)) for i in range(ids.size())):
                if sid in seen_stages:
                    continue
                try:
                    sd = store.lastStageAttempt(sid)
                except Py4JJavaError:  # a stage that never ran
                    continue
                if str(sd.status()) == "SKIPPED":
                    continue
                seen_stages.add(sid)
                m["stages"] += 1
                m["tasks"] += sd.numCompleteTasks()
                m["executor_run_s"] += sd.executorRunTime() / 1e3
                m["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                m["input_bytes"] += sd.inputBytes()
                m["shuffle_read_bytes"] += sd.shuffleReadBytes()
                m["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                m["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                m["gc_s"] += sd.jvmGcTime() / 1e3
            out.append({"job": j, "start": sub.get().getTime() / 1e3, "end": done.get().getTime() / 1e3, **m})
        return out


def catalyst_phases(jdf) -> dict[str, tuple[float, float]]:
    """Catalyst analysis/optimization/planning (start, end) epoch seconds
    from ``queryExecution().tracker().phases()``."""
    phases = jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        if not opt.isEmpty():
            ph = opt.get()
            out[name] = (ph.startTimeMs() / 1e3, ph.endTimeMs() / 1e3)
    return out


class Py4jCallCounter:
    """Counts py4j commands the driver sends while installed."""

    def __init__(self) -> None:
        self.calls = 0
        self._orig = None

    def install(self) -> None:
        from py4j.clientserver import ClientServerConnection
        from py4j.java_gateway import GatewayConnection

        self._orig = [(cls, cls.send_command) for cls in (ClientServerConnection, GatewayConnection)]
        counter = self

        def wrap(orig):
            def send_command(conn, command):
                counter.calls += 1
                return orig(conn, command)

            return send_command

        for cls, orig in self._orig:
            cls.send_command = wrap(orig)

    def uninstall(self) -> None:
        for cls, orig in self._orig or ():
            cls.send_command = orig
        self._orig = None
