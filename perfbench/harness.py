"""Measurement plumbing shared by the workloads: spans, Spark stage
metrics per job group, process-tree CPU/RSS from ``/proc``, host
provenance and summary statistics.

Nothing here touches the program under test except through Spark's
public status store; the spans wrap calls made from the benchmark's own
workload files.
"""

from __future__ import annotations

import contextlib
import itertools
import os
import statistics
import time

MB = 1e6
_TICK = os.sysconf("SC_CLK_TCK")


def median(values):
    return statistics.median(values) if values else 0.0


# --- spans ---------------------------------------------------------------


class Tracer:
    """In-memory span recorder. Each span that issues Spark work gets
    its own job group (the span id), so the status store can attribute
    stage task metrics to it. Disabled, ``span`` is a no-op context and
    no job group is set, so untraced jobs pay nothing."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self._sc = spark.sparkContext if spark is not None else None
        self._ids = itertools.count(1)
        self._stack: list[dict] = []
        self.spans: list[dict] = []
        self.job = 0

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sp = {
            "id": f"pb-{next(self._ids)}",
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "job": self.job,
            "start": time.perf_counter(),
        }
        self._stack.append(sp)
        self._sc.setJobGroup(sp["id"], name)
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                self._sc.setJobGroup(self._stack[-1]["id"], self._stack[-1]["name"])
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append(sp)

    def of_job(self, job: int) -> list[dict]:
        return [s for s in self.spans if s["job"] == job]


def subtree(spans: list[dict], root: dict) -> list[dict]:
    """``root`` and every span below it."""
    kids: dict[str, list[dict]] = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out, todo = [], [root]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids.get(s["id"], ()))
    return out


def duration(sp: dict) -> float:
    return sp["end"] - sp["start"]


# --- Spark status store --------------------------------------------------

STAGE_FIELDS = (
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "input_mb",
    "shuffle_read_mb",
    "shuffle_write_mb",
    "spill_mb",
    "tasks",
    "tasks_failed",
)


def _stage_record(s) -> dict:
    sub, done = s.submissionTime(), s.completionTime()
    wall = (done.get().getTime() - sub.get().getTime()) / 1e3 if sub.isDefined() and done.isDefined() else 0.0
    return {
        "stage": s.stageId(),
        "status": s.status().toString(),
        "wall_s": wall,
        "executor_run_s": s.executorRunTime() / 1e3,
        "executor_cpu_s": s.executorCpuTime() / 1e9,
        "gc_s": s.jvmGcTime() / 1e3,
        "input_mb": s.inputBytes() / MB,
        "shuffle_read_mb": s.shuffleReadBytes() / MB,
        "shuffle_write_mb": s.shuffleWriteBytes() / MB,
        "spill_mb": s.diskBytesSpilled() / MB,
        "tasks": s.numCompleteTasks(),
        "tasks_failed": s.numFailedTasks(),
    }


def stage_metrics(spark, groups: set[str]) -> dict[str, dict]:
    """Per job group in ``groups``: the number of Spark jobs it ran and
    the task metrics of each of their stages, read from the status
    store after the listener bus has drained."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    jobs = store.jobsList(None)
    out: dict[str, dict] = {}
    seen: set[int] = set()
    for i in range(jobs.size()):
        job = jobs.apply(i)
        g = job.jobGroup()
        if not g.isDefined() or g.get() not in groups:
            continue
        rec = out.setdefault(g.get(), {"jobs": 0, "stages": []})
        rec["jobs"] += 1
        ids = job.stageIds()
        for k in range(ids.size()):
            sid = ids.apply(k)
            if sid in seen:
                continue
            seen.add(sid)
            with contextlib.suppress(Exception):  # evicted or never-run (skipped) stage
                rec["stages"].append(_stage_record(store.lastStageAttempt(sid)))
    return out


def sum_stages(stages: list[dict]) -> dict:
    return {f: sum(s[f] for s in stages) for f in STAGE_FIELDS}


def stages_under(spans: list[dict], root: dict, metrics: dict[str, dict]) -> tuple[list[dict], int]:
    """Stages and Spark job count of every job group in ``root``'s subtree."""
    stages, jobs = [], 0
    for s in subtree(spans, root):
        rec = metrics.get(s["id"])
        if rec:
            stages.extend(rec["stages"])
            jobs += rec["jobs"]
    return stages, jobs


def spark_layer(stages: list[dict], jobs: int, job_s: float, cores: int) -> dict:
    """The Spark-runtime per-layer metrics of one benchmark job."""
    t = sum_stages(stages)
    return {
        "spark.executor_run_s": t["executor_run_s"],
        "spark.executor_cpu_s": t["executor_cpu_s"],
        "spark.core_busy_frac": t["executor_run_s"] / (job_s * cores) if job_s > 0 else 0.0,
        "spark.gc_s": t["gc_s"],
        "spark.shuffle_read_mb": t["shuffle_read_mb"],
        "spark.spill_mb": t["spill_mb"],
        "spark.tasks": t["tasks"],
        "spark.tasks_failed": t["tasks_failed"],
        "spark.jobs": jobs,
    }


# --- process tree ---------------------------------------------------------


class ProcTree:
    """CPU seconds and peak RSS of this process and all its descendants
    (the driver JVM and the Python workers it forks). A child that exits
    and is reaped inside the tree moves its CPU time into its parent's
    ``cutime``/``cstime``, so the sum is preserved."""

    def __init__(self, root: int | None = None):
        self.root = root or os.getpid()

    def pids(self) -> list[int]:
        parent: dict[int, int] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            parent[int(d)] = int(stat.rsplit(")", 1)[1].split()[1])
        tree, todo = [], [self.root]
        children: dict[int, list[int]] = {}
        for pid, ppid in parent.items():
            children.setdefault(ppid, []).append(pid)
        while todo:
            p = todo.pop()
            tree.append(p)
            todo.extend(children.get(p, ()))
        return tree

    def cpu_s(self) -> float:
        ticks = 0
        for pid in self.pids():
            try:
                with open(f"/proc/{pid}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        return ticks / _TICK

    def peak_rss_mb(self) -> float:
        kb = 0
        for pid in self.pids():
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            kb += int(line.split()[1])
            except OSError:
                continue
        return kb * 1024 / MB


# --- host provenance ------------------------------------------------------


def _cpu_jiffies() -> tuple[int, int]:
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return sum(vals), vals[7] if len(vals) > 7 else 0


class HostProbe:
    """Steal share and load average over a run. Provenance only: no run
    is retried, dropped or merged because of these figures."""

    def __init__(self):
        self.t0, self.s0 = _cpu_jiffies()
        self.load0 = os.getloadavg()[0]

    def report(self) -> dict:
        t1, s1 = _cpu_jiffies()
        return {
            "steal_frac": (s1 - self.s0) / (t1 - self.t0) if t1 > self.t0 else 0.0,
            "load1_start": self.load0,
            "load1_end": os.getloadavg()[0],
        }


def fs_type(path: str) -> str:
    """Filesystem type of the mount holding ``path`` (longest prefix)."""
    path = os.path.realpath(path)
    best, kind = "", "unknown"
    with open("/proc/mounts") as f:
        for line in f:
            parts = line.split()
            mnt = parts[1]
            if (path == mnt or path.startswith(mnt.rstrip("/") + "/")) and len(mnt) >= len(best):
                best, kind = mnt, parts[2]
    return kind
