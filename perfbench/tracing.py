"""Measurement plumbing for the benchmark: spans, process-tree CPU and
RSS, and Spark's own listener state.

Nothing here launches a Spark job. Per-layer numbers come from spans
recorded around the calls into each layer, plus what Spark's status
stores already hold (final AQE plans, node metrics, stage and task
metrics), read after the iteration has ended.
"""

from __future__ import annotations

import os
import re
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------


@dataclass
class Span:
    name: str
    sid: int
    parent: int | None
    start: float
    end: float = 0.0
    cpu_s: float = 0.0

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    """Records nested spans in memory. A disabled tracer records
    nothing and reads no clock, so untraced iterations pay nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.overhead_s = 0.0  # wall time spent in the tracer's own hooks
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        t0 = time.time()
        parent = self._stack[-1].sid if self._stack else None
        s = Span(name, len(self.spans), parent, 0.0)
        self.spans.append(s)
        self._stack.append(s)
        cpu0 = tree_cpu_s()
        s.start = time.time()
        self.overhead_s += s.start - t0
        try:
            yield
        finally:
            t1 = time.time()
            s.end = t1
            s.cpu_s = tree_cpu_s() - cpu0
            self._stack.pop()
            self.overhead_s += time.time() - t1


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of its interval that its child
    spans cover (children clipped to the parent's interval)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    out = {}
    for s in spans:
        clipped = [
            (max(a, s.start), min(b, s.end))
            for a, b in kids.get(s.sid, [])
            if min(b, s.end) > max(a, s.start)
        ]
        out[s.sid] = s.wall_s - union_length(clipped)
    return out


def innermost_span(spans: list[Span], t: float) -> Span | None:
    """The deepest span whose interval contains time t."""
    best = None
    for s in spans:
        if s.start <= t <= s.end and (best is None or s.start >= best.start):
            best = s
    return best


# ---------------------------------------------------------------------------
# Process tree: CPU that survives worker churn, and RSS
# ---------------------------------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _proc_stats() -> dict[int, tuple[int, float, int]]:
    """pid -> (ppid, utime+stime+cutime+cstime in s, rss bytes)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                raw = f.read()
        except OSError:  # exited between listdir and open
            continue
        fields = raw[raw.rindex(")") + 2 :].split()
        cpu = sum(int(v) for v in fields[11:15]) / _TICK
        out[int(name)] = (int(fields[1]), cpu, int(fields[21]) * _PAGE)
    return out


def _tree(stats, root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds of `root` and every live descendant, each counted
    with the CPU of the children it has reaped (cutime/cstime). A
    Python worker that exits and is reaped moves its CPU into its
    parent's cutime, so the total never drops when workers churn —
    summing only live processes' utime+stime does."""
    stats = _proc_stats()
    return sum(stats[p][1] for p in _tree(stats, root or os.getpid()))


def host_ticks() -> list[int]:
    """The machine-wide CPU time counters of /proc/stat (user, nice,
    system, idle, iowait, irq, softirq, steal), in clock ticks."""
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of the CPU time wanted between two `host_ticks` readings
    that the hypervisor gave to other guests instead: steal over busy
    time plus steal. Idle and iowait time are left out, since a CPU
    with nothing to run loses nothing to steal."""
    d = [b - a for a, b in zip(before, after)]
    wanted = sum(d) - d[3] - d[4]
    return d[7] / wanted if wanted > 0 else 0.0


def _pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:  # exited
        pass
    return 0


def tree_rss_bytes(root: int | None = None) -> int:
    """Resident memory of the process tree, with pages shared between
    processes (forked Python workers) split among them (PSS), so a
    varying number of idle workers does not count the same pages
    several times."""
    stats = _proc_stats()
    return sum(_pss_bytes(p) for p in _tree(stats, root or os.getpid()))


class RssPeak:
    """Samples the process tree's summed resident memory on a daemon
    thread and keeps the maximum."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval_s)

    def sample(self) -> None:
        self.peak = max(self.peak, tree_rss_bytes())

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()


# ---------------------------------------------------------------------------
# Spark listener state
# ---------------------------------------------------------------------------

_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
               "TiB": 1 << 40}
_JOINS = ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin",
          "BroadcastNestedLoopJoin", "CartesianProduct")


def metric_value(text: str) -> float | None:
    """Total of a formatted SQL metric: '4,210', '2.5 MiB', '13 ms',
    or the multi-line 'total (min, med, max ...)\\n62.1 MiB (...)'
    form; None for metrics that print no total (averages). Sizes come
    back in bytes and timings in ms; Spark formats sizes to one
    decimal, so bytes read back from node metrics are exact to that
    rounding only."""
    line = text.strip().splitlines()[-1]
    m = re.match(r"\s*([-\d,.]+)\s*([A-Za-z]*)", line)
    if not m:
        return None
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _SIZE_UNITS:
        return num * _SIZE_UNITS[unit]
    return num * {"ms": 1, "s": 1000, "m": 60_000, "h": 3_600_000}.get(unit, 1)


@dataclass
class Node:
    name: str
    desc: str
    metrics: dict[str, float]


@dataclass
class Execution:
    eid: int
    start_ms: int
    end_ms: int | None
    nodes: list[Node]
    stage_ids: set[int]
    job_ids: set[int]

    def rows(self, name_prefix: str, desc_re: str | None = None) -> float:
        """Summed `number of output rows` of matching plan nodes."""
        return sum(
            n.metrics.get("number of output rows", 0.0)
            for n in self.nodes
            if n.name.startswith(name_prefix)
            and (desc_re is None or re.search(desc_re, n.desc))
        )

    def count(self, name_prefix: str) -> int:
        return sum(1 for n in self.nodes if n.name.startswith(name_prefix))

    def metric(self, node_prefix: str, metric: str) -> float:
        return sum(
            n.metrics.get(metric, 0.0)
            for n in self.nodes
            if n.name.startswith(node_prefix)
        )


@dataclass
class Stage:
    sid: int
    cpu_s: float
    run_s: float
    shuffle_write_bytes: int
    spill_bytes: int
    gc_s: float
    task_p50_ms: float
    task_max_ms: float


@dataclass
class Job:
    jid: int
    start_ms: int
    end_ms: int


@dataclass
class Ledger:
    """What Spark recorded between two watermarks."""

    executions: list[Execution] = field(default_factory=list)
    stages: dict[int, Stage] = field(default_factory=dict)
    jobs: list[Job] = field(default_factory=list)


def _iter(scala_seq):
    it = scala_seq.iterator()
    while it.hasNext():
        yield it.next()


def _opt_ms(opt) -> int | None:
    return opt.get().getTime() if opt.isDefined() else None


class SparkStatus:
    """Reads the SQL and core status stores of a live session. These
    stores are kept even with the UI disabled; reading them runs no
    Spark job."""

    def __init__(self, spark):
        self._spark = spark
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._core = spark.sparkContext._jsc.sc().statusStore()
        jvm = spark.sparkContext._jvm
        gw = spark.sparkContext._gateway
        self._no_quantiles = gw.new_array(jvm.double, 0)
        self._quantiles = gw.new_array(jvm.double, 2)
        self._quantiles[0], self._quantiles[1] = 0.5, 1.0

    def watermark(self) -> tuple[int, int]:
        """(number of SQL executions, number of jobs) recorded so far."""
        return (int(self._sql.executionsCount()),
                int(self._core.jobsList(None).size()))

    def since(self, mark: tuple[int, int]) -> Ledger:
        led = Ledger()
        for e in _iter(self._sql.executionsList()):
            eid = int(e.executionId())
            if eid < mark[0]:
                continue
            led.executions.append(self._execution(e))
        wanted = set().union(*(x.stage_ids for x in led.executions)) \
            if led.executions else set()
        for s in _iter(self._core.stageList(
                None, False, False, self._no_quantiles, None)):
            sid = int(s.stageId())
            if sid in wanted and sid not in led.stages:
                led.stages[sid] = self._stage(s)
        for j in _iter(self._core.jobsList(None)):
            start, end = _opt_ms(j.submissionTime()), _opt_ms(j.completionTime())
            if int(j.jobId()) >= mark[1] and start is not None and end is not None:
                led.jobs.append(Job(int(j.jobId()), start, end))
        return led

    def _execution(self, e) -> Execution:
        eid = int(e.executionId())
        values = self._sql.executionMetrics(eid)
        nodes = []
        for n in _iter(self._sql.planGraph(eid).allNodes()):
            ms = {}
            for m in _iter(n.metrics()):
                v = values.get(m.accumulatorId())
                x = metric_value(v.get()) if v.isDefined() else None
                if x is not None:
                    ms[m.name()] = ms.get(m.name(), 0.0) + x
            nodes.append(Node(n.name(), n.desc(), ms))
        end = e.completionTime()
        return Execution(
            eid,
            int(e.submissionTime()),
            _opt_ms(end),
            nodes,
            {int(s) for s in _iter(e.stages())},
            {int(j) for j in _iter(e.jobs().keys())},
        )

    def _stage(self, s) -> Stage:
        summ = self._core.taskSummary(s.stageId(), s.attemptId(), self._quantiles)
        p50 = mx = 0.0
        if summ.isDefined():
            rt = summ.get().executorRunTime()
            p50, mx = float(rt.apply(0)), float(rt.apply(1))
        return Stage(
            int(s.stageId()),
            s.executorCpuTime() / 1e9,
            s.executorRunTime() / 1e3,
            int(s.shuffleWriteBytes()),
            int(s.memoryBytesSpilled()) + int(s.diskBytesSpilled()),
            s.jvmGcTime() / 1e3,
            p50,
            mx,
        )


# ---------------------------------------------------------------------------
# Attribution of Spark work to spans
# ---------------------------------------------------------------------------


def by_span(led: Ledger, spans: list[Span]) -> dict[str, Ledger]:
    """Split a ledger by the innermost span (by name) in which each
    execution and job was submitted."""
    out: dict[str, Ledger] = {}
    for e in led.executions:
        s = innermost_span(spans, e.start_ms / 1000.0)
        if s is None:
            continue
        part = out.setdefault(s.name, Ledger())
        part.executions.append(e)
        for sid in e.stage_ids:
            if sid in led.stages:
                part.stages[sid] = led.stages[sid]
    for j in led.jobs:
        s = innermost_span(spans, j.start_ms / 1000.0)
        if s is not None:
            out.setdefault(s.name, Ledger()).jobs.append(j)
    return out


def merge(ledgers) -> Ledger:
    out = Ledger()
    for led in ledgers:
        out.executions.extend(led.executions)
        out.stages.update(led.stages)
        out.jobs.extend(led.jobs)
    return out


def shuffle_bytes(led: Ledger) -> int:
    return sum(s.shuffle_write_bytes for s in led.stages.values())


def idle_s(span: Span, jobs: list[Job]) -> float:
    """Span time during which no Spark job of the span was running."""
    busy = [
        (max(j.start_ms / 1000.0, span.start), min(j.end_ms / 1000.0, span.end))
        for j in jobs
    ]
    return span.wall_s - union_length([(a, b) for a, b in busy if b > a])


def engine_metrics(led: Ledger) -> dict[str, float]:
    """Engine-wide numbers over everything in the ledger."""
    stages = list(led.stages.values())
    longest = max(stages, key=lambda s: s.run_s, default=None)
    skew = 0.0
    if longest is not None and longest.task_p50_ms > 0:
        skew = longest.task_max_ms / longest.task_p50_ms
    joins = {j: sum(e.count(j) for e in led.executions) for j in _JOINS}
    return {
        "spark.shuffle_bytes": float(shuffle_bytes(led)),
        "spark.spill_bytes": float(sum(s.spill_bytes for s in stages)),
        "spark.gc_s": sum(s.gc_s for s in stages),
        "spark.executor_cpu_s": sum(s.cpu_s for s in stages),
        "spark.task_skew": skew,
        "spark.smj_joins": float(joins["SortMergeJoin"]),
        "spark.shj_joins": float(joins["ShuffledHashJoin"]),
        "spark.bhj_joins": float(joins["BroadcastHashJoin"]),
    }


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0
