"""Spans around the benchmark's calls into each layer, and the counters
read from Spark's own status stores and from ``/proc``.

A span is one call the benchmark makes into a layer's public function
(``catalog.extract_sql``, ``queries.q1_pricing_summary``, ...), split into
``build`` (the call itself, including any eager jobs it launches) and
``exec`` (the action the benchmark runs on the returned DataFrame).  Each
span runs under its own Spark job group, ``<workload>.<layer>.<fn>.<phase>.<seq>``,
so that after the run the jobs and stages in Spark's status store can be
charged to the span that launched them.  Spans stay in memory; the store
is read once, at the end.

The host counters (``cpu_tree_seconds``, ``host_snapshot``,
``retained_heap_mb``) are used by untraced runs as well.
"""

from __future__ import annotations

import gc
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass

_CLK_TCK = os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------------------
# host counters
# ---------------------------------------------------------------------------


def _proc_stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name may hold spaces; fields restart after its ')'
    return raw[raw.rindex(")") + 2 :].split()


def process_tree(root: int) -> dict[int, list[str]]:
    """``/proc/<pid>/stat`` fields of ``root`` and every live descendant."""
    children: dict[int, list[int]] = defaultdict(list)
    stats: dict[int, list[str]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _proc_stat_fields(int(name))
        if f is None:
            continue
        stats[int(name)] = f
        children[int(f[1])].append(int(name))
    tree, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            tree[pid] = stats[pid]
            todo.extend(children.get(pid, ()))
    return tree


def cpu_tree_seconds(root: int | None = None) -> float:
    """User + system CPU of ``root`` and every live descendant, plus what
    their already-reaped children used (cutime/cstime): the JVM, the
    Python daemon and its workers all count."""
    tree = process_tree(os.getpid() if root is None else root)
    # utime stime cutime cstime are fields 14-17 (1-based) of stat
    return sum(int(x) for f in tree.values() for x in f[11:15]) / _CLK_TCK


def host_snapshot() -> dict:
    """Steal jiffies and load average, so runs made while the host was
    stalled can be told apart from their numbers."""
    with open("/proc/stat") as fh:
        cpu = fh.readline().split()
    with open("/proc/loadavg") as fh:
        load = fh.read().split()
    return {"steal_jiffies": int(cpu[8]), "loadavg_1m": float(load[0])}


def retained_heap_mb(spark, max_rounds: int = 8) -> float:
    """JVM heap in use after forced GC, repeated until two readings agree
    within 1%."""
    # Python proxies in reference cycles keep their JVM objects alive
    gc.collect()
    jvm = spark.sparkContext._jvm
    # events still queued for the listeners are heap too, and how many are
    # queued depends on timing
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    rt = jvm.java.lang.Runtime.getRuntime()
    prev = None
    for _ in range(max_rounds):
        jvm.java.lang.System.gc()
        used = rt.totalMemory() - rt.freeMemory()
        if prev is not None and abs(used - prev) <= 0.01 * prev:
            break
        prev = used
    return used / 1e6


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


@dataclass
class Span:
    group: str  # job group id, unique per span
    layer: str
    fn: str
    phase: str  # build | exec | wall
    stage: str  # setup | warmup | timed | check
    start: float
    end: float = 0.0
    depth: int = 0  # number of open spans around this one

    @property
    def name(self) -> str:
        return f"{self.layer}.{self.fn}"

    @property
    def seconds(self) -> float:
        return self.end - self.start


@dataclass
class StageStats:
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    input_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    output_bytes: int = 0
    tasks: int = 0
    stages: int = 0
    jobs: int = 0

    def add(self, other: "StageStats") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(other, k))


class Tracer:
    """Records spans when enabled; a disabled tracer costs one branch.

    ``stage`` is set by the runner and stamped on each span.
    ``overhead_s`` is the time the tracer itself spent labelling jobs
    inside the timed phase."""

    def __init__(self, spark, workload: str, enabled: bool):
        self.spark = spark
        self.workload = workload
        self.enabled = enabled
        self.spans: list[Span] = []
        self.progress: list[dict] = []
        self.stage = "setup"
        self.overhead_s = 0.0
        self._seq = 0
        self._open: list[Span] = []
        self._listener = None
        #: job group of a stream run (its run id) -> the span that started it
        self.aliases: dict[str, str] = {}
        if enabled:
            self._listener = _progress_listener(self.progress)
            spark.streams.addListener(self._listener)

    def _set_group(self, group: str, description: str) -> None:
        t0 = time.perf_counter()
        self.spark.sparkContext.setJobGroup(group, description)
        if self.stage == "timed":
            self.overhead_s += time.perf_counter() - t0

    def begin(self, stage: str) -> None:
        """Enter a stage of the run; jobs outside spans get its group."""
        self.stage = stage
        if self.enabled:
            self._set_group(f"{self.workload}.{stage}.untraced", "benchmark")

    def alias(self, group: str) -> None:
        """Charge jobs of ``group`` (set by a thread the engine owns, such
        as a stream's micro-batch thread) to the innermost open span."""
        if self.enabled and self._open:
            self.aliases[group] = self._open[-1].group

    @contextmanager
    def span(self, layer: str, fn: str, phase: str = "wall"):
        if not self.enabled:
            yield
            return
        self._seq += 1
        group = f"{self.workload}.{layer}.{fn}.{phase}.{self._seq}"
        self._set_group(group, f"{layer}.{fn} {phase}")
        s = Span(group, layer, fn, phase, self.stage, time.perf_counter(), depth=len(self._open))
        self._open.append(s)
        try:
            yield
        finally:
            s.end = time.perf_counter()
            self._open.pop()
            self.spans.append(s)
            # jobs after the span belong to the enclosing span, if any
            outer = self._open[-1].group if self._open else f"{self.workload}.{self.stage}.untraced"
            self._set_group(outer, "benchmark")

    def close(self) -> None:
        if self._listener is not None:
            self.spark.streams.removeListener(self._listener)
            self._listener = None


def _progress_listener(sink: list[dict]):
    """A listener that keeps each micro-batch's progress in ``sink``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            ops = p.stateOperators
            sink.append(
                {
                    "rows": p.numInputRows,
                    "durationMs": dict(p.durationMs),
                    "state_rows": sum(o.numRowsTotal for o in ops),
                    "state_memory_bytes": sum(o.memoryUsedBytes for o in ops),
                }
            )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Listener()


# ---------------------------------------------------------------------------
# reading the status stores
# ---------------------------------------------------------------------------


def _seq(scala_seq):
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def collect(tracer: Tracer) -> tuple[dict[str, StageStats], int, int]:
    """Charge every job in the status store to its span's group.

    Returns ``(stats by group, unattributed jobs, total jobs)``.  A job
    with no group was launched from a thread the benchmark did not label
    (lane-internal threads); it counts as unattributed, as does a
    job of the timed phase that ran outside every span."""
    spark = tracer.spark
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    groups = {s.group for s in tracer.spans}
    timed_untraced = f"{tracer.workload}.timed.untraced"
    by_group: dict[str, StageStats] = defaultdict(StageStats)
    unattributed = 0
    jobs = _seq(store.jobsList(None))
    for job in jobs:
        g = job.jobGroup()
        group = tracer.aliases.get(g.get(), g.get()) if g.isDefined() else None
        if group not in groups:
            # no group: launched from a thread the benchmark did not label
            if group is None or group == timed_untraced:
                unattributed += 1
            continue
        acc = by_group[group]
        acc.jobs += 1
        for sid in _seq(job.stageIds()):
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 — a stage evicted from the store
                continue
            if st.status().toString() == "SKIPPED":
                continue
            acc.stages += 1
            acc.tasks += st.numTasks()
            acc.run_s += st.executorRunTime() / 1e3
            acc.cpu_s += st.executorCpuTime() / 1e9
            acc.gc_s += st.jvmGcTime() / 1e3
            acc.input_bytes += st.inputBytes()
            acc.shuffle_read_bytes += st.shuffleReadBytes()
            acc.shuffle_write_bytes += st.shuffleWriteBytes()
            acc.output_bytes += st.outputBytes()
    return by_group, unattributed, len(jobs)


# ---------------------------------------------------------------------------
# per-layer report
# ---------------------------------------------------------------------------


def self_seconds(spans: list[Span]) -> dict[str, float]:
    """Span duration minus the part its direct child spans cover, by group."""
    out = {}
    for s in spans:
        inner = sum(
            c.seconds
            for c in spans
            if c.depth == s.depth + 1 and s.start <= c.start and c.end <= s.end
        )
        out[s.group] = s.seconds - inner
    return out


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def by_function(tracer: Tracer, stats: dict[str, StageStats]) -> dict[str, dict]:
    """Per ``layer.fn``: calls, median build/exec/wall seconds, self time,
    and the status-store counters of its jobs, per call."""
    selfs = self_seconds(tracer.spans)
    spans: dict[str, list[Span]] = defaultdict(list)
    for s in tracer.spans:
        spans[s.name].append(s)
    out = {}
    for name, group in sorted(spans.items()):
        acc = StageStats()
        for s in group:
            acc.add(stats.get(s.group, StageStats()))
        calls = sum(1 for s in group if s.phase != "exec") or len(group)
        row = {"calls": calls, "self_s": sum(selfs[s.group] for s in group)}
        for phase in ("build", "exec", "wall"):
            secs = [s.seconds for s in group if s.phase == phase]
            if secs:
                row[f"{phase}_s"] = _median(secs)
        build_jobs = sum(stats[s.group].jobs for s in group if s.phase == "build" and s.group in stats)
        if build_jobs:
            row["build_jobs"] = build_jobs / calls
        for k, v in asdict(acc).items():
            if v:
                row[k] = v / calls
        out[name] = row
    return out


def stream_progress(tracer: Tracer) -> dict[str, float]:
    """Medians over the micro-batches that read rows, from the listener."""
    batches = [p for p in tracer.progress if p["rows"] > 0]
    out = {}
    for key in ("addBatch", "queryPlanning", "getBatch", "walCommit", "commitOffsets"):
        out[f"streaming.{key}_ms"] = _median([p["durationMs"].get(key, 0) for p in batches])
    out["streaming.state_rows"] = _median([p["state_rows"] for p in batches])
    out["streaming.state_memory_bytes"] = _median([p["state_memory_bytes"] for p in batches])
    out["streaming.batches"] = len(batches)
    return out


def spark_per_op(
    tracer: Tracer, stats: dict[str, StageStats], ops: int, wall: float, cores: int
) -> dict[str, float]:
    """Engine counters of the timed phase's jobs, per timed op."""
    acc = StageStats()
    for s in tracer.spans:
        if s.stage == "timed" and s.group in stats:
            acc.add(stats[s.group])
    busy = acc.run_s / cores
    return {
        "spark.jobs_per_op": acc.jobs / ops,
        "spark.tasks_per_op": acc.tasks / ops,
        "spark.driver_idle_s": max(wall - busy, 0.0) / ops,
        "spark.task_run_s": acc.run_s / ops,
        "spark.task_cpu_s": acc.cpu_s / ops,
        "spark.gc_s": acc.gc_s / ops,
        "spark.executor_busy_frac": busy / wall,
    }
