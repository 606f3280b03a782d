"""Measurement from outside the program: /proc process stats and peak RSS,
spans around public layer functions, and Spark's status store.

Nothing here is imported by the program; the traced run installs its span
wrappers on the program's classes from this file (:func:`install_spans`).
"""

from __future__ import annotations

import contextlib
import itertools
import os
import time

_TICK = os.sysconf("SC_CLK_TCK")


# -- /proc ------------------------------------------------------------------
def _stat(pid: int) -> tuple[int, str, float, float] | None:
    """(ppid, comm, own cpu s, reaped-children cpu s) or None."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("latin-1")
    except OSError:
        return None
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    fields = raw[raw.rindex(")") + 2 :].split()
    # fields[0] is state (stat field 3); utime..cstime are stat fields 14-17
    utime, stime, cutime, cstime = (int(x) for x in fields[11:15])
    return int(fields[1]), comm, (utime + stime) / _TICK, (cutime + cstime) / _TICK


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is not None:
            kids.setdefault(st[0], []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def find_jvm(pid: int) -> int:
    """The java process among ``pid`` (the launcher Spark started) and its
    descendants."""
    for p in [pid, *descendants(pid)]:
        st = _stat(p)
        if st is not None and st[1] == "java":
            return p
    return pid


class ProcessTree:
    """CPU and peak RSS of the program's processes: this driver process, the JVM
    it launched and the JVM's Python workers. Helpers the benchmark starts
    (the fake API, the probe) are children of the driver, not of the JVM,
    so they are not counted."""

    def __init__(self, jvm_pid: int) -> None:
        self.driver = os.getpid()
        self.jvm = jvm_pid

    def cpu(self) -> dict[str, float]:
        """Cumulative CPU seconds by role. Workers that exited have their
        time in their parent's reaped-children counter, which is added."""
        d = _stat(self.driver)
        j = _stat(self.jvm)
        workers = 0.0
        for pid in descendants(self.jvm):
            st = _stat(pid)
            if st is not None:
                workers += st[2] + st[3]
        return {
            "driver": d[2] if d else 0.0,
            "jvm": j[2] if j else 0.0,
            "workers": workers,
        }

    def reset_peak_rss(self) -> None:
        """Restart every process's RSS high-water mark (VmHWM) from now."""
        for pid in [self.driver, self.jvm, *descendants(self.jvm)]:
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as f:
                    f.write("5")
            except OSError:
                pass  # exited meanwhile

    def peak_rss(self) -> tuple[int, int]:
        """(JVM, sum over the Python processes) of the RSS high-water marks
        since :meth:`reset_peak_rss`, in bytes. High-water marks catch
        spikes that sampling misses (a driver-side spike of ~1.6 GB showed
        in 3 of 10 sampled runs of one workload)."""
        python = sum(_hwm(pid) for pid in [self.driver, *descendants(self.jvm)])
        return _hwm(self.jvm), python


def _hwm(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class PeakRss:
    """Peak RSS of the program's processes over a ``with`` block: the JVM,
    the Python processes (driver and workers), and their sum (a sum of
    per-process peaks, so at least the peak of the total)."""

    def __init__(self, tree: ProcessTree) -> None:
        self._tree = tree
        self.jvm_mb = self.python_mb = 0.0

    def __enter__(self) -> "PeakRss":
        self._tree.reset_peak_rss()
        return self

    def __exit__(self, *exc) -> None:
        jvm, python = self._tree.peak_rss()
        self.jvm_mb, self.python_mb = jvm / 1e6, python / 1e6

    @property
    def total_mb(self) -> float:
        return self.jvm_mb + self.python_mb


# -- spans ------------------------------------------------------------------
class Tracer:
    """In-memory spans. Each span also becomes the Spark job description
    (``pb:<span id>``) for its duration, so jobs can be attributed to the
    innermost span that was open when they ran."""

    def __init__(self, spark, run_id: str) -> None:
        self._sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._ids = itertools.count(1)

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sid = next(self._ids)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start_ms": time.time() * 1000.0,
            **attrs,
        }
        self._stack.append(sid)
        self._sc.setJobDescription(f"pb:{sid}")
        try:
            yield rec
        finally:
            rec["end_ms"] = time.time() * 1000.0
            self._stack.pop()
            self._sc.setJobDescription(f"pb:{self._stack[-1]}" if self._stack else None)
            self.spans.append(rec)

    def wrap(self, name: str, fn):
        def wrapper(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return wrapper


def install_spans(tracer: Tracer) -> None:
    """Wrap the orchestration layer's public functions with spans."""
    from distributed_api_etl_spark.orchestration.batch_handler import BronzeBatchHandler
    from distributed_api_etl_spark.orchestration.batch_processor import BatchProcessor

    BatchProcessor.process = tracer.wrap("batch_processor.process", BatchProcessor.process)
    BatchProcessor.remaining = staticmethod(
        tracer.wrap("batch_processor.remaining", BatchProcessor.remaining)
    )
    BronzeBatchHandler.process = tracer.wrap(
        "batch_handler.process", BronzeBatchHandler.process
    )


# -- Spark status store -----------------------------------------------------
class SparkJobs:
    """Reads finished jobs and their stages from the driver's AppStatusStore
    (populated with the UI disabled too)."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self._jsc = spark.sparkContext._jsc.sc()
        self._seen = -1

    def drain(self) -> None:
        """Wait for the listener bus, so finished jobs are in the store."""
        self._jsc.listenerBus().waitUntilEmpty()

    def new_jobs(self) -> list[dict]:
        """Jobs finished since the last call, oldest first, with stage sums."""
        self.drain()
        store = self._jsc.statusStore()
        jvm = self._sc._jvm
        jobs = store.jobsList(None)
        out = []
        top = self._seen
        for i in range(jobs.size()):
            j = jobs.apply(i)
            jid = j.jobId()
            if jid <= self._seen:
                continue
            top = max(top, jid)
            desc = j.description()
            sub, done = j.submissionTime(), j.completionTime()
            rec = {
                "job": jid,
                "span": int(desc.get().split(":")[1])
                if desc.isDefined() and desc.get().startswith("pb:")
                else None,
                "start_ms": float(sub.get().getTime()) if sub.isDefined() else None,
                "end_ms": float(done.get().getTime()) if done.isDefined() else None,
                "stages": 0,
                "tasks": 0,
                "run_s": 0.0,
                "cpu_s": 0.0,
                "input_mb": 0.0,
                "shuffle_write_mb": 0.0,
            }
            sids = j.stageIds()
            for k in range(sids.size()):
                data = store.stageData(
                    sids.apply(k), False, jvm.java.util.ArrayList(), False,
                    self._sc._gateway.new_array(jvm.double, 0),
                )
                for m in range(data.size()):
                    s = data.apply(m)
                    if str(s.status()) == "SKIPPED":
                        continue
                    rec["stages"] += 1
                    rec["tasks"] += s.numCompleteTasks()
                    rec["run_s"] += s.executorRunTime() / 1e3
                    rec["cpu_s"] += s.executorCpuTime() / 1e9
                    rec["input_mb"] += s.inputBytes() / 1e6
                    rec["shuffle_write_mb"] += s.shuffleWriteBytes() / 1e6
            out.append(rec)
        self._seen = top
        return sorted(out, key=lambda r: r["job"])


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Seconds covered by the union of (start_ms, end_ms) intervals."""
    total = 0.0
    end = None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total / 1000.0


def attribute(jobs: list[dict], spans: list[dict]) -> None:
    """Give each job without a span label the innermost span open when it
    was submitted. Jobs started on other driver threads (streaming
    micro-batches, for one) do not inherit the job description."""
    for j in jobs:
        if j["span"] is not None or j["start_ms"] is None:
            continue
        open_ = [s for s in spans if s["start_ms"] <= j["start_ms"] <= s["end_ms"]]
        if open_:
            j["span"] = max(open_, key=lambda s: s["start_ms"])["id"]


def job_intervals(jobs: list[dict]) -> list[tuple[float, float]]:
    return [(j["start_ms"], j["end_ms"]) for j in jobs if j["start_ms"] and j["end_ms"]]


def spark_totals(jobs: list[dict]) -> dict[str, float]:
    return {
        "jobs": len(jobs),
        "stages": sum(j["stages"] for j in jobs),
        "tasks": sum(j["tasks"] for j in jobs),
        "executor_run_s": sum(j["run_s"] for j in jobs),
        "executor_cpu_s": sum(j["cpu_s"] for j in jobs),
        "shuffle_write_mb": sum(j["shuffle_write_mb"] for j in jobs),
        "input_mb": sum(j["input_mb"] for j in jobs),
    }
