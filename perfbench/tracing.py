"""Measurement from outside the program: spans kept in memory, Spark's
in-process status stores, streaming progress, file-system scans and
process memory.

Nothing here changes the package.  Spans are recorded around the calls
the benchmark makes into each layer; ``ManagedTable`` methods are
wrapped at class level only while a traced round runs.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import resource
import threading
import time
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql.streaming import StreamingQueryListener


def union_len(intervals) -> float:
    """Length of the union of (start, end) intervals."""
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


def clip(intervals, lo: float, hi: float):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    run: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Spans with name, start, end, parent and run id.  Entering a span
    also sets the Spark job group of the calling thread to the span id,
    so every job the call submits is attributed to it — including jobs
    from the planner's worker threads, which open their own spans."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.enabled = False
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self.sc = None
        #: parent for spans opened on threads with no open span
        self.fallback_parent: int | None = None

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def current(self) -> int | None:
        st = self._stack()
        return st[-1].sid if st else self.fallback_parent

    @contextlib.contextmanager
    def span(self, name: str, parent: int | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        st = self._stack()
        sp = Span(
            next(self._ids), name,
            parent if parent is not None else self.current(),
            self.run_id, time.time(), attrs=attrs,
        )
        st.append(sp)
        prev = None
        if self.sc is not None:
            prev = self.sc.getLocalProperty("spark.jobGroup.id")
            self.sc.setLocalProperty("spark.jobGroup.id", f"pb-{sp.sid}")
        try:
            yield sp
        finally:
            sp.end = time.time()
            st.pop()
            if self.sc is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", prev)
            with self._lock:
                self.spans.append(sp)

    def dump(self, path: Path) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.start):
                f.write(json.dumps({
                    "id": s.sid, "name": s.name, "parent": s.parent,
                    "run": s.run, "start": s.start, "end": s.end, **s.attrs,
                }) + "\n")


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of it its children cover."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    return {
        s.sid: (s.end - s.start)
        - union_len(clip([(c.start, c.end) for c in kids.get(s.sid, [])],
                         s.start, s.end))
        for s in spans
    }


def wrap_methods(cls, tracer: Tracer, names: dict[str, str]):
    """Wrap ``cls`` methods in spans; returns a function restoring them."""
    saved = {m: cls.__dict__[m] for m in names}

    def make(fn, span_name):
        def wrapped(*a, **kw):
            with tracer.span(span_name):
                return fn(*a, **kw)
        wrapped.__wrapped__ = fn
        return wrapped

    for m, span_name in names.items():
        setattr(cls, m, make(saved[m], span_name))

    def restore():
        for m, fn in saved.items():
            setattr(cls, m, fn)

    return restore


class SparkStatus:
    """Reads the live AppStatusStore and SQL status store of a session
    (works with ``spark.ui.enabled=false``).  Call :meth:`drain` before
    reading: the listener bus delivers events asynchronously."""

    def __init__(self, spark):
        jvm = spark._jvm
        self.jsc = spark.sparkContext._jsc.sc()
        self.store = self.jsc.statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_mod = getattr(jvm.com.fasterxml.jackson.module.scala,
                            "DefaultScalaModule$")
        self.mapper.registerModule(getattr(scala_mod, "MODULE$"))
        self._no_quantiles = spark.sparkContext._gateway.new_array(jvm.double, 0)
        self._empty = jvm.java.util.ArrayList()

    def drain(self) -> None:
        self.jsc.listenerBus().waitUntilEmpty(60_000)

    def jobs(self) -> list[dict]:
        return json.loads(self.mapper.writeValueAsString(self.store.jobsList(None)))

    def stages(self) -> list[dict]:
        return json.loads(self.mapper.writeValueAsString(
            self.store.stageList(None, False, False, self._no_quantiles,
                                 self._empty)))

    def sql_executions(self) -> list[dict]:
        return json.loads(self.mapper.writeValueAsString(
            self.sql.executionsList()))

    def storage_blocks(self) -> int:
        return sum(
            int(r.get("numCachedPartitions") or 0)
            for r in json.loads(self.mapper.writeValueAsString(
                self.store.rddList(True)))
        )

    def planning_phases(self, df) -> dict[str, float]:
        """QueryPlanningTracker phase durations (s) of a DataFrame that
        has been executed."""
        ph = json.loads(self.mapper.writeValueAsString(
            df._jdf.queryExecution().tracker().phases()))
        return {
            k: (v["endTimeMs"] - v["startTimeMs"]) / 1000.0
            for k, v in ph.items()
        }


def spark_layer(jobs: list[dict], stages: list[dict], lo: float, hi: float,
                slots: int) -> dict[str, float]:
    """Spark job/stage/task totals for jobs submitted in [lo, hi] (epoch
    seconds), plus job time as the union of job intervals and the gap
    between jobs as the rest of the window."""
    sel = [
        j for j in jobs
        if j.get("submissionTime") is not None
        and lo * 1000 <= j["submissionTime"] <= hi * 1000
    ]
    stage_ids = {s for j in sel for s in j["stageIds"]}
    run = [
        s for s in stages
        if s["stageId"] in stage_ids and s["status"] != "SKIPPED"
    ]
    ivs = clip([
        (j["submissionTime"] / 1000, (j.get("completionTime") or hi * 1000) / 1000)
        for j in sel
    ], lo, hi)
    job_s = union_len(ivs)
    task_s = sum(s["executorRunTime"] for s in run) / 1000
    wall = hi - lo
    return {
        "spark.jobs": len(sel),
        "spark.stages": len(run),
        "spark.tasks": sum(s["numCompleteTasks"] + s["numFailedTasks"] for s in run),
        "spark.job_s": job_s,
        "spark.task_s": task_s,
        "spark.driver_gap_s": max(wall - job_s, 0.0),
        "spark.slot_util": task_s / (slots * wall) if wall > 0 else 0.0,
        "spark.shuffle_read_bytes": sum(s["shuffleReadBytes"] for s in run),
        "spark.shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in run),
        "spark.spill_bytes": sum(
            s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in run),
        "spark.input_bytes": sum(s["inputBytes"] for s in run),
        "spark.output_bytes": sum(s["outputBytes"] for s in run),
        "spark.failed_tasks": sum(s["numFailedTasks"] for s in run),
    }


def jobs_by_group(jobs: list[dict]) -> dict[int, list[tuple[float, float]]]:
    out: dict[int, list[tuple[float, float]]] = {}
    for j in jobs:
        g = j.get("jobGroup") or ""
        if g.startswith("pb-") and j.get("submissionTime") is not None:
            out.setdefault(int(g[3:]), []).append((
                j["submissionTime"] / 1000,
                (j.get("completionTime") or j["submissionTime"]) / 1000,
            ))
    return out


class ProgressListener(StreamingQueryListener):
    """Keeps streaming progress that ``stream_near_dup_ingest`` (which
    returns ``None`` for an availableNow drain) would otherwise drop."""

    def __init__(self):
        self.progress: list[dict] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        self.progress.append({
            "numInputRows": p.numInputRows,
            "durationMs": dict(p.durationMs),
        })

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


# -- files and memory ----------------------------------------------------


class FileLedger:
    """Files under a directory, keyed by identity (inode, mtime, size), so
    hard links made by scoped merges are not counted as writes and
    files removed by vacuum are not counted twice."""

    def __init__(self, root: Path):
        self.root = Path(root)
        self.seen: set[tuple[int, int, int]] = set()

    def scan(self) -> dict[tuple[int, int, int], int]:
        out = {}
        for dirpath, _, files in os.walk(self.root):
            for f in files:
                try:
                    st = os.stat(os.path.join(dirpath, f))
                except FileNotFoundError:
                    continue
                out[(st.st_ino, st.st_mtime_ns, st.st_size)] = st.st_size
        return out

    def new_since_last(self) -> tuple[int, int]:
        """(files, bytes) that appeared since the previous call."""
        cur = self.scan()
        new = [k for k in cur if k not in self.seen]
        self.seen = set(cur)
        return len(new), sum(cur[k] for k in new)


def parquet_bytes(root: Path) -> int:
    """Bytes of distinct parquet files under ``root`` (hard links once)."""
    seen = {}
    for p in Path(root).rglob("*.parquet"):
        st = p.stat()
        seen[(st.st_dev, st.st_ino)] = st.st_size
    return sum(seen.values())


def rss_peak_mb(jvm_pid: int | None) -> float:
    """Peak RSS of this Python process plus the Spark JVM, in MB."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    if jvm_pid:
        with open(f"/proc/{jvm_pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


def cpu_s(jvm_pid: int | None) -> float:
    """CPU seconds (user + system) used so far by this Python process and
    the Spark JVM.  The kernel leaves out time the hypervisor steals."""
    t = os.times()
    total = t.user + t.system
    if jvm_pid:
        with open(f"/proc/{jvm_pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        total += (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")
    return total


def steal_s() -> float:
    """CPU seconds the hypervisor has stolen from this machine so far,
    summed over its CPUs (0 where the kernel does not report it)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0
