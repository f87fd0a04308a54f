"""Shared benchmark machinery: host pinning, the Spark session, the
process-tree memory sampler, medians, and the tracer.

The tracer lives entirely in the benchmark: a span is a timed block
around a call into one of the engine's public functions, every span
sets its own Spark job group, and the Spark status store is read per
group afterwards, so task counters are attributed to the span that
launched the jobs.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# --------------------------------------------------------------------------
# host pinning (must run before the JVM starts)
# --------------------------------------------------------------------------


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


# Spark task slots. Two on a 4-core host leave the other cores to the
# rest of the process tree (driver, Python UDF workers, JIT and GC
# threads); with four, ingest's micro-batch p50 varied by 35 % between
# runs (IQR/median over ten runs).
TASK_SLOTS = 2


def pin_host(run_dir: str, root: str) -> dict:
    """Fix every engine setting that would otherwise come from the host
    or from engine defaults sized for a bigger machine. Returns the
    settings, which the run's detail line records."""
    cpus = min(TASK_SLOTS, host_cpus())
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    pinned = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": "1g",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": os.environ.get("PYSPARK_PYTHON") or "python3",
        "PYTHONPATH": root,  # Python workers import the engine from the checkout
        "OMP_NUM_THREADS": "1",
        "ARROW_NUM_THREADS": "1",
        # every JVM (the launcher too) would otherwise write a perf-data
        # file under /tmp, outside the checkout
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
    }
    os.environ.update(pinned)
    import tempfile

    tempfile.tempdir = tmp
    return {"cpus": cpus, "shuffle_partitions": cpus, **pinned}


def start_session(run_dir: str, pinned: dict, extra: dict | None = None):
    from electrician_spark.session import get_session

    conf = {
        "spark.local.dir": pinned["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        # a fixed-size heap: a heap that grows on demand made peak PSS
        # vary by a tenth between runs of the same inputs
        "spark.driver.extraJavaOptions": (
            f"-Xms{pinned['SPARK_GRAFT_DRIVER_MEM']} -Djava.io.tmpdir={pinned['TMPDIR']} "
            f"-Dderby.system.home={run_dir}"
        ),
        "spark.ui.showConsoleProgress": "false",
        **(extra or {}),
    }
    spark = get_session(
        "loadbench",
        cpus=pinned["cpus"],
        shuffle_partitions=pinned["shuffle_partitions"],
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, conf


def warm_python_workers(spark) -> None:
    """Start the pandas-UDF worker pool once, outside timing."""
    from pyspark.sql import functions as F

    def plus_one(batches):
        for b in batches:
            yield b + 1

    n = spark.sparkContext.defaultParallelism
    spark.range(0, 4096, 1, n).mapInPandas(plus_one, "id long").agg(F.sum("id")).collect()


# --------------------------------------------------------------------------
# memory: proportional set size of this process and all its descendants
# --------------------------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pss_bytes(root: int) -> int:
    kids = _children()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


class PeakPss:
    """Background sampler of the process tree's PSS; ``peak`` in bytes."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_pss_bytes(me))
            self._stop.wait(self.interval)

    def __enter__(self) -> "PeakPss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


# --------------------------------------------------------------------------
# statistics
# --------------------------------------------------------------------------


def median(xs: list[float]) -> float:
    s = sorted(xs)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def halves(xs: list[float]) -> tuple[float, float]:
    """Median of the first and of the second half of a run, in order,
    so drift with run length shows."""
    h = len(xs) // 2
    if h == 0:
        return xs[0], xs[0]
    return median(xs[:h]), median(xs[h:])


# --------------------------------------------------------------------------
# tracing
# --------------------------------------------------------------------------


@dataclass
class Span:
    index: int
    name: str
    start: float
    parent: int | None
    group: str
    end: float = 0.0
    counts: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000


STAGE_FIELDS = {
    "tasks": "numCompleteTasks",
    "task_ms": "executorRunTime",
    "cpu_ns": "executorCpuTime",
    "gc_ms": "jvmGcTime",
    "input_bytes": "inputBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "memory_spill_bytes": "memoryBytesSpilled",
    "disk_spill_bytes": "diskBytesSpilled",
}


class StatusStore:
    """Job and stage counters from the driver's Spark status store, as
    JSON through the JVM's own Jackson mapper."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jvm = self.sc._jvm
        self.store = self.sc._jsc.sc().statusStore()
        self.mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self.mapper.registerModule(jvm.com.fasterxml.jackson.module.scala.DefaultScalaModule())
        self._empty = jvm.java.util.ArrayList()
        self._no_q = self.sc._gateway.new_array(jvm.double, 0)

    def group_counts(self, group: str) -> dict:
        """Summed stage counters of every job in ``group``, plus the
        (submitted, completed) epoch-ms interval of each of its stages."""
        out = {k: 0 for k in STAGE_FIELDS}
        out["jobs"] = 0
        stage_ids = set()
        for jid in self.sc.statusTracker().getJobIdsForGroup(group):
            job = json.loads(self.mapper.writeValueAsString(self.store.job(jid)))
            out["jobs"] += 1
            stage_ids.update(job["stageIds"])
        intervals = []
        for sid in sorted(stage_ids):
            raw = self.store.stageData(sid, False, self._empty, False, self._no_q)
            for st in json.loads(self.mapper.writeValueAsString(raw)):
                if st.get("status") != "COMPLETE":
                    continue
                for k, f in STAGE_FIELDS.items():
                    out[k] += st.get(f) or 0
                if st.get("submissionTime") and st.get("completionTime"):
                    intervals.append((st["submissionTime"], st["completionTime"]))
        out["stage_intervals"] = intervals
        return out


def union_ms(intervals: list[tuple[int, int]]) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


class Tracer:
    """Spans around calls into engine layers, each with its own job
    group. Disabled tracers cost one attribute check per span."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.on = False  # true only inside a traced operation
        self.spark = spark
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._store = StatusStore(spark) if enabled else None
        self._lock = threading.Lock()

    @contextmanager
    def op(self, traced: bool):
        """One benchmark operation; its spans are recorded only when
        the tracer is enabled and ``traced`` is set, so a traced run
        can alternate traced and untraced operations."""
        prev, self.on = self.on, self.enabled and traced
        try:
            with self.span("op") as root:
                yield root
        finally:
            self.on = prev

    @contextmanager
    def span(self, name: str):
        if not self.on:
            yield None
            return
        sc = self.spark.sparkContext
        with self._lock:
            idx = len(self.spans)
            parent = self._stack[-1] if self._stack else None
            sp = Span(idx, name, time.perf_counter(), parent, f"loadbench-{os.getpid()}-{idx}")
            self.spans.append(sp)
            self._stack.append(idx)
        sc.setJobGroup(sp.group, name, False)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            with self._lock:
                self._stack.pop()
                restore = self.spans[self._stack[-1]].group if self._stack else None
            if restore is None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            else:
                sc.setJobGroup(restore, self.spans[self._stack[-1]].name, False)
            sp.counts = self._store.group_counts(sp.group)

    def wrap(self, name: str, fn):
        """``fn`` with a span around every call."""

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced

    # -- analysis ---------------------------------------------------------

    def subtree(self, root: int) -> list[int]:
        out, seen = [root], {root}
        for i in range(root + 1, len(self.spans)):
            if self.spans[i].parent in seen:
                out.append(i)
                seen.add(i)
        return out

    def self_ms(self, idx: int) -> float:
        kids = [s for s in self.spans if s.parent == idx]
        return self.spans[idx].ms - sum(k.ms for k in kids)

    def op_summary(self, root: int) -> dict:
        """Per-layer self time, summed counters, and how much of the
        root's wall time its direct children cover."""
        ids = self.subtree(root)
        by_name: dict[str, float] = {}
        counts: dict[str, float] = {}
        for i in ids:
            sp = self.spans[i]
            if i != root:
                by_name[sp.name] = by_name.get(sp.name, 0.0) + self.self_ms(i)
            for k, v in sp.counts.items():
                if k != "stage_intervals":
                    counts[k] = counts.get(k, 0) + v
        kids = [self.spans[i] for i in ids if self.spans[i].parent == root]
        root_ms = self.spans[root].ms
        return {
            "self_ms": by_name,
            "counts": counts,
            "covered_share": sum(k.ms for k in kids) / root_ms if root_ms else 0.0,
        }


@contextmanager
def patched(tracer: Tracer, targets: list[tuple[object, str, str]]):
    """In a traced run, temporarily replace each ``(owner, attribute,
    span name)`` module or class attribute with a traced wrapper. Every
    module that imported the same function object by name is patched
    too, so calls the engine makes internally are traced as well."""
    import sys

    if not tracer.enabled:
        yield
        return
    saved = []
    for owner, attr, name in targets:
        orig = getattr(owner, attr)
        wrapped = tracer.wrap(name, orig)
        holders = [owner]
        for mod_name, mod in list(sys.modules.items()):
            if mod_name.startswith("electrician_spark") and mod is not owner and getattr(mod, attr, None) is orig:
                holders.append(mod)
        for h in holders:
            saved.append((h, attr, orig))
            setattr(h, attr, wrapped)
    try:
        yield
    finally:
        for h, attr, orig in reversed(saved):
            setattr(h, attr, orig)
