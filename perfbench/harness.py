"""Measurement plumbing shared by the workloads.

Everything here observes the program from outside: spans come from the
benchmark's own wrappers around public calls, Spark counters come from the
application status store (no Spark job is started to read them), and memory
is sampled from /proc.
"""

from __future__ import annotations

import math
import os
import statistics
import threading
import time
from contextlib import contextmanager


# --------------------------------------------------------------------------
# spans
class Tracer:
    """In-memory span recorder. ``enabled`` can be flipped between units of
    work so one run alternates traced and untraced units; a disabled tracer
    records nothing and its wrappers cost one attribute test per call."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "run": self.run_id,
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def wrap(self, obj, attr: str, name: str) -> None:
        """Replace ``obj.attr`` with a spanned wrapper (instance or module)."""
        fn = getattr(obj, attr)

        def traced(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        setattr(obj, attr, traced)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name and s["end"]]

    def self_times(self, name: str) -> list[float]:
        """Span duration minus the union of its direct children's intervals."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"]:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = []
        for s in self.spans:
            if s["name"] != name or not s["end"]:
                continue
            covered, cur_s, cur_e = 0.0, None, None
            for a, b in sorted(kids.get(s["id"], [])):
                if cur_e is None or a > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = a, b
                else:
                    cur_e = max(cur_e, b)
            if cur_e is not None:
                covered += cur_e - cur_s
            out.append(s["end"] - s["start"] - covered)
        return out

    def dump(self, path: str) -> None:
        import json

        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


# --------------------------------------------------------------------------
# Spark status store
class SparkCounters:
    """Reads jobs/stages from the application status store through py4j.
    Reading the store schedules nothing, so it adds no Spark job."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self._jvm = self.sc._jvm
        self._gw = self.sc._gateway

    def job_count(self) -> int:
        """Jobs started so far (job ids are dense from 0)."""
        return int(self.store.jobsList(None).size())

    def group_jobs(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def jobs_metrics(self, job_ids) -> dict:
        stage_ids: set[int] = set()
        for j in job_ids:
            try:
                ids = self.store.job(int(j)).stageIds().mkString(",")
            except Exception:  # noqa: BLE001 - job evicted from the store
                continue
            stage_ids.update(int(x) for x in ids.split(",") if x)
        out = {"jobs": len(list(job_ids)), "stages": 0, "tasks": 0, "run_s": 0.0,
               "cpu_s": 0.0, "gc_s": 0.0, "shuffle_write_mb": 0.0, "output_mb": 0.0}
        empty = self._jvm.java.util.ArrayList()
        quantiles = self._gw.new_array(self._jvm.double, 0)
        for sid in sorted(stage_ids):
            try:
                sd = self.store.stageAttempt(sid, 0, False, empty, False, quantiles)._1()
            except Exception:  # noqa: BLE001 - stage skipped (shuffle reused)
                continue
            if str(sd.status()) != "COMPLETE":
                continue
            out["stages"] += 1
            out["tasks"] += int(sd.numTasks())
            out["run_s"] += sd.executorRunTime() / 1e3
            out["cpu_s"] += sd.executorCpuTime() / 1e9
            out["gc_s"] += sd.jvmGcTime() / 1e3
            out["shuffle_write_mb"] += sd.shuffleWriteBytes() / 2**20
            out["output_mb"] += sd.outputBytes() / 2**20
        return out


def neighbor_diff(values, traced, ratio: bool = False) -> float:
    """Median over traced units of (value - mean of its untraced
    neighbours), or of their ratio. Comparing each traced unit with the
    units just before and after it cancels a warm-up trend that a plain
    traced-minus-untraced median would attribute to tracing."""
    out = []
    for i, t in enumerate(traced):
        nb = [values[j] for j in (i - 1, i + 1) if t and 0 <= j < len(values) and not traced[j]]
        if nb:
            ref = sum(nb) / len(nb)
            out.append(values[i] / ref if ratio else values[i] - ref)
    return median(out)


def unit_metrics(spark_m: list[dict], self_s, durations, jobs, traced) -> dict:
    """The layer metrics every workload reports per unit of work (a
    micro-batch or a suite pass): medians over traced units of status-store
    counters and of the unit span's self time, and the tracing overhead in
    time and in Spark jobs started (see neighbor_diff)."""
    def med(key):
        return median([m[key] for m in spark_m])

    return {
        "spark.jobs_per_unit": ("count", med("jobs")),
        "spark.stages_per_unit": ("count", med("stages")),
        "spark.tasks_per_unit": ("count", med("tasks")),
        "spark.executor_run_s_per_unit": ("s", med("run_s")),
        "spark.executor_cpu_s_per_unit": ("s", med("cpu_s")),
        "spark.shuffle_write_mb_per_unit": ("MB", med("shuffle_write_mb")),
        "unit.self_s": ("s", median(self_s)),
        "trace.overhead_s": ("s", neighbor_diff(durations, traced)),
        "trace.extra_jobs": ("count", neighbor_diff(jobs, traced)),
        "trace.jobs_ratio": ("ratio", neighbor_diff(jobs, traced, ratio=True)),
    }


# --------------------------------------------------------------------------
# memory
def _children(pid: int) -> list[int]:
    kids = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                kids.extend(int(x) for x in f.read().split())
    except OSError:
        pass
    return kids


def _rss_kb(pid: int) -> int:
    """Proportional resident size: pages shared between processes, such as
    a forked Python worker's copy-on-write pages, are split among them."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def tree_rss_mb(root: int | None = None) -> tuple[float, float]:
    """Resident memory (MB, proportional) of a process and all its
    descendants (driver, JVM, Python workers), and of the root alone.

    A child the JVM has started but that has not exec'd yet still runs the
    java binary in the JVM's own address space, so its pages are the JVM's:
    it is skipped, or the JVM would be counted twice."""
    root = root or os.getpid()
    todo, total = [root], 0
    while todo:
        p = todo.pop()
        total += _rss_kb(p)
        exe = _exe(p)
        todo.extend(c for c in _children(p)
                    if not (exe.endswith("/java") and _exe(c) == exe))
    return total / 1024, _rss_kb(root) / 1024


class RssSampler:
    """Background sampler of the process tree's peak RSS."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak_mb = 0.0
        self.peak_driver_mb = 0.0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._loop, daemon=True)

    def _sample(self):
        tree, driver = tree_rss_mb()
        self.peak_mb = max(self.peak_mb, tree)
        self.peak_driver_mb = max(self.peak_driver_mb, driver)

    def _loop(self):
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def __enter__(self):
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join(timeout=5)
        self._sample()


# --------------------------------------------------------------------------
# statistics
def median(xs) -> float:
    return float(statistics.median(xs))


def pct(xs, p: float) -> float:
    """Nearest-rank percentile (p in 0..100)."""
    s = sorted(xs)
    k = max(0, math.ceil(p / 100 * len(s)) - 1)
    return float(s[k])


def geomean(xs) -> float:
    return float(math.exp(sum(math.log(max(x, 1e-9)) for x in xs) / len(xs)))


# --------------------------------------------------------------------------
def cpu_jiffies() -> dict:
    """Machine-wide CPU time counters (busy and steal) from /proc/stat, in s."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    hz = os.sysconf("SC_CLK_TCK")
    return {"busy_s": (sum(v[:3]) + sum(v[5:7])) / hz, "steal_s": v[7] / hz}


def busy_s() -> float:
    """CPU seconds every process of the machine has run so far (user, nice,
    system, irq, softirq). Time the hypervisor gave to other guests (steal)
    is not in it, so an interval's busy time measures the work done in it
    however slowly the shared host ran it. The benchmark is the only
    workload on the machine, so the interval's busy time is the program's
    CPU cost, plus the small, constant cost of the benchmark's own memory
    sampler."""
    return cpu_jiffies()["busy_s"]


def loadavg() -> float | None:
    try:
        return round(os.getloadavg()[0], 2)
    except OSError:
        return None
