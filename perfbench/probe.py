"""Measurement probes: cold Spark set-up, /proc readers and the Spark
scheduler, GC and cache counters read around one op.

Run as a script it is the set-up probe: a fresh process that times
imports, ``session.get_spark`` and a first trivial job, prints the
timings as one JSON line, and stops its JVM before it exits.
"""

from __future__ import annotations

import os
import time

TICK = os.sysconf("SC_CLK_TCK")


# --- /proc -----------------------------------------------------------

def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:  # exited between listing and reading
        return None
    # comm may hold spaces; the fields after it start past the last ')'
    return s[s.rindex(")") + 2 :].split()


def process_tree(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and every live descendant."""
    root = root or os.getpid()
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat(int(name))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def tree_cpu_s() -> float:
    """User + system CPU seconds of this process and its live
    descendants."""
    total = 0
    for p in process_tree():
        f = _stat(p)
        if f is not None:
            total += int(f[11]) + int(f[12])  # utime, stime
    return total / TICK


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """Peak resident set (VmHWM) of the JVM plus that of the largest
    Python worker, in MB.  Python workers are the JVM's descendants."""
    pids = process_tree()
    jvms = [p for p in pids if _comm(p) == "java"]
    jvm = max((_hwm_kb(p) for p in jvms), default=0)
    workers = [p for j in jvms for p in process_tree(j) if _comm(p).startswith("python")]
    worker = max((_hwm_kb(p) for p in workers), default=0)
    return (jvm + worker) / 1024


# --- Spark -----------------------------------------------------------

def bench_env(root: str, work: str) -> dict[str, str]:
    """Environment for every process that starts Spark: the repo on
    the Python workers' path, core count and driver heap explicit, and
    all scratch (shuffle, warehouse, temp files) inside ``work``, which
    the caller removes when the run ends.  ``JAVA_TOOL_OPTIONS`` reaches
    every JVM, the spark-submit launcher too, and keeps their temp and
    perf-data files out of /tmp."""
    cpus = str(len(os.sched_getaffinity(0)))
    tmp = os.path.join(work, "tmp")
    java = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    env = {
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_DRIVER_MEM": "4g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_SCRATCH": os.path.join(work, "scratch"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": " ".join(
            p for p in (os.environ.get("JAVA_TOOL_OPTIONS"), java) if p
        ),
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p
        ),
    }
    for k in ("SPARK_LOCAL_DIRS", "SPARK_GRAFT_SCRATCH", "TMPDIR"):
        os.makedirs(env[k], exist_ok=True)
    return env


def cold_setup(t0: float):
    """Imports, ``get_spark`` and a first trivial job; ``t0`` is the
    caller's process-start timestamp.  Returns (spark, timings)."""
    from raster2points_spark.session import get_spark

    t_import = time.perf_counter()
    spark = get_spark("perfbench", extra_conf={"spark.ui.showConsoleProgress": "false"})
    t_spark = time.perf_counter()
    spark.range(16).count()
    t_job = time.perf_counter()
    return spark, {
        "setup_s": t_job - t0,
        "session.get_spark_s": t_spark - t_import,
        "session.first_job_s": t_job - t_spark,
    }


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    worker daemon) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when this pipe closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


class SparkCounters:
    """Job, stage and task counts of one job group, plus JVM GC time and
    cached bytes, read through the driver's status tracker."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jvm = self.sc._jvm
        self._n = 0

    def start_group(self) -> str:
        self._n += 1
        gid = f"perfbench-{self._n}"
        self.sc.setJobGroup(gid, gid)
        return gid

    def group_stats(self, gid: str) -> dict[str, float]:
        tr = self.sc.statusTracker()
        stages = []
        jobs = tr.getJobIdsForGroup(gid)
        for j in jobs:
            info = tr.getJobInfo(j)
            if info is not None:
                stages.extend(info.stageIds)
        tasks = []
        for s in set(stages):
            info = tr.getStageInfo(s)
            if info is not None:
                tasks.append(info.numTasks)
        return {
            "spark.jobs": len(jobs),
            "spark.stages": len(tasks),
            "spark.tasks": sum(tasks),
            "spark.max_stage_tasks": max(tasks, default=0),
        }

    def gc_s(self) -> float:
        beans = self.jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(max(0, b.getCollectionTime()) for b in beans) / 1000

    def cached_bytes(self) -> int:
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos)


if __name__ == "__main__":
    import json
    import sys

    t0 = time.perf_counter()
    spark, timings = cold_setup(t0)
    stop_spark(spark)
    json.dump(timings, sys.stdout)
