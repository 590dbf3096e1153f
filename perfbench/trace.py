"""Spans, Spark metric collection and the process-tree RSS sampler.

A span records a name, a layer, its start and end, and its parent.
With tracing on, each span also sets a Spark job group named after
itself, so every job the call starts can be traced back to it. After
the run, :func:`collect` reads Spark's own status stores:

- per stage (``statusStore().lastStageAttempt``): run, CPU, GC and
  result-size figures, shuffle-write and spill bytes, failed tasks;
- per Python SQL plan node (the SQL status store's ``executionMetrics``
  and ``planGraph``): Python-worker time and bytes sent and returned;
- per LSH bucket join (a join on the band signature): its output rows,
  the candidate pairs the dedup core generated;

and attributes both to the innermost span whose job group started the
job. Nothing here reaches inside the package under test.
"""

from __future__ import annotations

import os
import re
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass

from py4j.protocol import Py4JError


@dataclass
class Span:
    sid: int
    name: str
    layer: str
    parent: int | None
    start: float
    epoch: float  # wall-clock start, to line up with Spark's stage times
    traced: bool
    end: float = 0.0
    cpu_s: float = 0.0  # CPU seconds the process tree used meanwhile

    @property
    def group(self) -> str:
        return f"perfbench-{self.sid}-{self.name}"

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. Wall and CPU timing are always on (the
    end-to-end metrics come from spans); Spark job groups are set only
    when ``enabled``, which is what the traced run adds. ``cpu_clock``
    returns the CPU seconds used so far by the processes measured."""

    def __init__(self, sc=None, enabled: bool = False, cpu_clock=None):
        self.sc = sc
        self.enabled = enabled and sc is not None
        self.cpu_clock = cpu_clock or (lambda: tree_cpu_s(os.getpid()))
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.jobgroup_s = 0.0  # time spent in the job-group calls

    def _group(self, sp: Span | None) -> None:
        t = time.perf_counter()
        if sp is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(sp.group, sp.name)
        self.jobgroup_s += time.perf_counter() - t

    @contextmanager
    def span(self, name: str, layer: str = "step"):
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, layer,
                  None if parent is None else parent.sid, time.perf_counter(),
                  time.time(), self.enabled)
        self.spans.append(sp)
        self._stack.append(sp)
        if self.enabled:
            self._group(sp)
        cpu0 = self.cpu_clock()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            sp.cpu_s = self.cpu_clock() - cpu0
            self._stack.pop()
            if self.enabled:
                self._group(parent)


# ------------------------------------------------------ metric parsing
_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_TOTAL = re.compile(r"^\s*([-\d.,]+)\s*([A-Za-z]*)")
_PY_NODE = re.compile(r"Python|Pandas|Arrow")
BAND_JOIN = "LSHBandJoin"  # NodeRec name given to joins on band_sig


def _watched(name: str, desc: str) -> str | None:
    """The name a plan node is recorded under, or None to skip it."""
    if _PY_NODE.search(name):
        return name
    if "Join" in name and "band_sig" in desc:
        return BAND_JOIN
    return None


def parse_sql_metric(text: str | None) -> float | None:
    """Total of a formatted SQL metric: '3,219' -> 3219, '1.9 s' -> 1.9,
    '482.9 KiB' -> bytes. Multi-task values carry their total on the
    line after the 'total (min, med, max ...)' header."""
    if text is None:
        return None
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _TOTAL.match(line)
    if not m:
        return None
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _SIZE:
        return num * _SIZE[unit]
    if unit in _TIME:
        return num * _TIME[unit]
    return num


# ------------------------------------------------------ Spark collection
@dataclass
class StageRec:
    sid: int
    span: int
    run_s: float
    cpu_s: float
    gc_s: float
    result_bytes: float
    shuffle_write: float
    spill: float
    tasks: int
    failed_tasks: int
    start: float | None  # epoch seconds
    end: float | None
    ops: frozenset  # names of the physical operators the stage ran


@dataclass
class NodeRec:
    span: int
    name: str
    metrics: dict  # metric name -> parsed total
    # metric name -> accumulator id. A node under a cached relation shows
    # up again, with the same accumulators, in every later execution that
    # reads the cache.
    accs: dict


@dataclass
class SparkTrace:
    jobs: dict  # span id -> [job ids]
    stages: list  # [StageRec]
    nodes: list  # [NodeRec]


def _seq(jvm, scala_seq):
    return list(jvm.scala.jdk.javaapi.CollectionConverters.asJava(scala_seq))


def _map(jvm, scala_map):
    return dict(jvm.scala.jdk.javaapi.CollectionConverters.asJava(scala_map))


def _opt_time(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def _stage_ops(jvm, store, stage_id: int) -> frozenset:
    """Operator names in the stage's RDD operation graph (the scopes the
    UI draws: 'WholeStageCodegen (2)', 'FlatMapGroupsInPandas', ...)."""
    try:
        todo = [store.operationGraphForStage(stage_id).rootCluster()]
    except Py4JError:
        return frozenset()
    names = set()
    while todo:
        c = todo.pop()
        names.add(c.name())
        todo.extend(_seq(jvm, c.childClusters()))
    return frozenset(names)


def collect(spark, tracer: Tracer, extra_groups: dict | None = None) -> SparkTrace:
    """Read stage and SQL-node metrics for every span's job group.

    ``extra_groups`` maps a job-group id Spark set itself (a streaming
    query's run id) to the span its jobs belong to."""
    sc = spark.sparkContext
    jvm = sc._jvm
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    tracker = sc.statusTracker()
    groups = {sp.group: sp.sid for sp in tracer.spans}
    groups.update(extra_groups or {})
    job_span, jobs = {}, {}
    for group, sid in groups.items():
        ids = list(tracker.getJobIdsForGroup(group))
        jobs.setdefault(sid, []).extend(ids)
        job_span.update({j: sid for j in ids})
    store = sc._jsc.sc().statusStore()
    stages, seen = [], set()
    for jid in sorted(job_span):
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        for s in info.stageIds:
            if s in seen:
                continue
            seen.add(s)
            try:
                sd = store.lastStageAttempt(s)
            except Py4JError:  # stage evicted or never ran
                continue
            if str(sd.status()) == "SKIPPED":
                continue
            stages.append(StageRec(
                s, job_span[jid], sd.executorRunTime() / 1e3,
                sd.executorCpuTime() / 1e9, sd.jvmGcTime() / 1e3,
                float(sd.resultSize()), float(sd.shuffleWriteBytes()),
                float(sd.memoryBytesSpilled() + sd.diskBytesSpilled()),
                sd.numTasks(), sd.numFailedTasks(),
                _opt_time(sd.submissionTime()), _opt_time(sd.completionTime()),
                _stage_ops(jvm, store, s),
            ))
    sql = spark._jsparkSession.sharedState().statusStore()
    nodes = []
    for ex in _seq(jvm, sql.executionsList()):
        ex_jobs = [int(j) for j in _map(jvm, ex.jobs())]
        owners = {job_span[j] for j in ex_jobs if j in job_span}
        if not owners:
            continue
        sid = min(owners)
        eid = ex.executionId()
        try:
            values = _map(jvm, sql.executionMetrics(eid))
            graph = _seq(jvm, sql.planGraph(eid).allNodes())
        except Py4JError:  # execution evicted from the store
            continue
        for node in graph:
            name = _watched(node.name(), node.desc())
            if name is None:
                continue
            mets, accs = {}, {}
            for m in _seq(jvm, node.metrics()):
                txt = values.get(m.accumulatorId())
                v = parse_sql_metric(txt)
                if v is not None:
                    mets[m.name()] = v
                    accs[m.name()] = m.accumulatorId()
            if mets:
                nodes.append(NodeRec(sid, name, mets, accs))
    return SparkTrace(jobs, stages, nodes)


# ------------------------------------------------------ RSS sampler
def _children(pid: int) -> list[int]:
    out = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:  # the JVM forks Python workers from non-main threads
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out.extend(int(x) for x in fh.read().split())
        except OSError:
            pass
    return out


def _tree(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(_children(pid))
    return out


_TICK = os.sysconf("SC_CLK_TCK")


# the JVM's own threads, by the name the JVM gives them: the JIT
# compilers, whose work depends on how warm the JVM already is, and the
# garbage collector, whose concurrent cycles start when the heap's state
# says so and so fall into one timed step or the next (the benchmark's
# JVM options keep the compiler threads alive, so their CPU time never
# leaves the count). Spark's task metrics still report GC time.
JVM_THREAD = re.compile(r"^(C[12] CompilerThre|GC Thread|G1 |VM Thread)")


def _jvm_ticks(pid: int) -> int:
    ticks = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as fh:
                if not JVM_THREAD.match(fh.read()):
                    continue
            with open(f"/proc/{pid}/task/{tid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += int(fields[11]) + int(fields[12])  # utime stime
    return ticks


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) used so far by ``root`` and its live
    descendants, including the children each has reaped (the JVM, the
    Python worker daemon and its workers), less the JVM's JIT compiler
    and garbage collector threads."""
    total = 0
    for pid in _tree(root):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        total -= _jvm_ticks(pid)
    return total / _TICK


def _pss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as fh:
        for line in fh:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def tree_rss_bytes(root: int) -> int:
    """Resident memory of ``root`` and all its descendants, from /proc.
    Counted as PSS, so pages that forked Python workers share with their
    parent count once rather than once per worker."""
    total = 0
    for pid in _tree(root):
        try:
            total += _pss_bytes(pid)
        except OSError:
            pass
    return total


class RssSampler:
    """Samples the process tree's RSS on a daemon thread; ``peak`` is the
    largest sample seen (driver + JVM + Python workers). ``cpu_s`` is the
    CPU time the sampling itself has taken, so that it can be left out of
    the CPU figures."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak = 0
        self.cpu_s = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        root, t0 = os.getpid(), time.thread_time()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(root))
            self.cpu_s = time.thread_time() - t0
            self._stop.wait(self.interval)

    def work_cpu_s(self) -> float:
        """CPU seconds of the process tree so far, less the sampler's."""
        return tree_cpu_s(os.getpid()) - self.cpu_s

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
