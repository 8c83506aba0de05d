"""Benchmark of the raster pipeline, end to end and layer by layer.

    python3 perfbench/run.py --workload tif2csv|cogify --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout.  One driver process, one client
thread, closed loop, Spark ``local[nproc]``.  A run:

1. writes the seed's inputs in a child process (re-used when present;
   outside every clock);
2. ``--trace 0``: times one cold set-up in a probe process, then its
   own; ``--trace 1``: only its own;
3. runs ``WARMUP_OPS`` untimed warm-up ops on the same input;
4. runs ops until their summed wall time reaches ``--seconds``,
   deleting the output and clearing Spark's cache before each op,
   outside the clock, and checking each op's output after it;
5. ``--trace 1`` alternates untraced and traced ops (spans, job-group
   scheduler counts, process-tree CPU, GC) and then runs the layer
   sweep and the query pass (``layers.py``), whose checked ops count
   in ``attempted`` and ``failed`` too.

The last stdout line is the JSON result; the line before it carries
the sample count, nproc, git SHA and seed.  Scratch, outputs and
traces go to ``.perfbench_work/`` in the checkout; a run's own scratch
directory there is removed when it ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import layers
import probe
from spans import Tracer
from workloads import COG_ARGS, WORKLOADS, Tif2Csv

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
CHILD_TIMEOUT = 60
# The first op of a process pays for JIT and Python worker start; it
# stays out of timing, and the median drops the slower early timed ops.
WARMUP_OPS = 1


def _child_json(script: str, *args: str) -> dict:
    r = subprocess.run(
        [sys.executable, os.path.join(HERE, script), *args],
        capture_output=True, text=True, timeout=CHILD_TIMEOUT, cwd=ROOT,
    )
    if r.returncode != 0:
        sys.stderr.write(r.stderr[-4000:])
        raise RuntimeError(f"{script} exited with {r.returncode}")
    return json.loads(r.stdout.strip().splitlines()[-1])


def _units(kind: str) -> dict[str, str]:
    """Metric name -> unit of BENCHMARK.json's ``kind`` list."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def _git_sha() -> str:
    """The checkout may not be a git repository; then 'unknown'."""
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True,
                           text=True, cwd=ROOT, timeout=10)
    except OSError:
        return "unknown"
    return r.stdout.strip() if r.returncode == 0 else "unknown"


class Runner:
    """Runs ops of one workload and keeps their outcomes."""

    def __init__(self, spark, workload, out: str):
        self.spark, self.out = spark, out
        self.W = workload
        self.wl = workload(spark)
        self.walls: list[float] = []
        self.points = 0
        self.mpx = 0.0
        self.failed = 0
        self.untimed = 0  # checked ops outside the timed loop
        self.problems: list[str] = []

    def op(self, paths: dict, exp: dict, body=None) -> tuple[float, bool, dict]:
        """One op: clean up outside the clock, time ``body`` (default:
        the workload's op), check the output.  Returns (wall, passed,
        the check's counters)."""
        shutil.rmtree(self.out, ignore_errors=True)
        self.spark.catalog.clearCache()
        run = body or (lambda: self.wl.run(paths, self.out))
        t0 = time.perf_counter()
        try:
            run()
            err = None
        except Exception as e:  # a failed op is counted, not fatal
            err = f"{type(e).__name__}: {e}"
        wall = time.perf_counter() - t0
        if err is None:
            problems, info = self.W.check(exp, self.out)
        else:
            problems, info = [err], {}
        if problems:
            self.problems.extend(problems)
        return wall, not problems, info

    def count_checked(self, checks: dict[str, list[str]]) -> None:
        """Outcomes of checked ops that ran outside the timed loop: the
        traced run's layer sweep and query pass."""
        self.untimed += len(checks)
        for name, problems in checks.items():
            if problems:
                self.failed += 1
                self.problems += [f"{name}: {p}" for p in problems]

    def timed(self, paths: dict, exp: dict, body=None) -> float:
        wall, ok, info = self.op(paths, exp, body)
        self.walls.append(wall)
        if ok:
            self.points += info["points"]
            self.mpx += self.W.mpx
        else:
            self.failed += 1
        return wall


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "raster2points_spark", "__init__.py")):
        print(f"{ROOT} holds no raster2points_spark package to measure", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    try:
        return _run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, run_dir: str) -> int:
    W = WORKLOADS[args.workload]
    os.environ.update(probe.bench_env(ROOT, run_dir))

    sizes = {W.size, layers.SWEEP_SIZE} if args.trace else {W.size}
    gen_args = ["--root", os.path.join(WORK, "inputs"), "--seed", str(args.seed),
                "--size", *map(str, sorted(sizes))]
    if args.trace:
        gen_args += ["--side", "--corpus"]
    g = _child_json("gen.py", *gen_args)
    extra = {k: g["paths"].pop(k, None) for k in ("side", "corpus")}
    paths = {int(k): v for k, v in g["paths"].items()}

    setups = [] if args.trace else [_child_json("probe.py")["setup_s"]]
    spark, timings = probe.cold_setup(time.perf_counter())
    setups.append(timings["setup_s"])
    try:
        metrics, runner = measure(spark, W, args, paths, extra, timings,
                                  os.path.join(run_dir, "out"))
        peak = probe.peak_rss_mb()
    finally:
        probe.stop_spark(spark)

    n = len(runner.walls) + runner.untimed
    wall = sum(runner.walls)
    if not args.trace:
        metrics = {
            "setup_s": statistics.median(setups),
            "op_s": statistics.median(runner.walls),
            "points_per_s": runner.points / wall,
            "mpx_per_s": runner.mpx / wall,
        }
    else:
        metrics["peak_rss_mb"] = peak
    units = _units("per_layer" if args.trace else "end_to_end")
    print(json.dumps({
        "workload": W.name, "seed": args.seed, "trace": args.trace,
        "nproc": len(os.sched_getaffinity(0)), "git_sha": _git_sha(),
        "ops": n, "failed_ops": runner.failed,
        "op_walls": [round(w, 3) for w in runner.walls],
        "setup_samples": [round(s, 3) for s in setups],
        "gen_s": round(g["gen_s"], 3), "problems": runner.problems[:5],
    }))
    print(json.dumps({
        "correct": not runner.problems,
        "attempted": n,
        "failed": runner.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0


def measure(spark, W, args, paths: dict, extra: dict, timings: dict, out: str):
    runner = Runner(spark, W, out)
    main_in, exp = paths[W.size], W.expected(args.seed, W.size)
    for _ in range(WARMUP_OPS):
        if not runner.op(main_in, exp)[1]:
            print(f"warm-up op failed: {runner.problems}", file=sys.stderr)
    if not args.trace:
        while sum(runner.walls) < args.seconds:
            runner.timed(main_in, exp)
        return {}, runner

    tracer = Tracer()
    counters = probe.SparkCounters(spark)
    nproc = len(os.sched_getaffinity(0))
    plain, traced, per_op = [], [], []

    def traced_op():
        gid = counters.start_group()
        gc0, cpu0 = counters.gc_s(), probe.tree_cpu_s()
        t0 = time.perf_counter()
        with tracer.span("op", workload=W.name):
            if W is Tif2Csv:
                with tracer.span("api.raster2csv"):
                    runner.wl.run(main_in, out)
            else:
                for kind in COG_ARGS:
                    with tracer.span(f"cli.main.{kind}"):
                        runner.wl.run_one(kind, main_in, out)
        wall = time.perf_counter() - t0
        stats = counters.group_stats(gid)
        stats["cpu.util"] = (probe.tree_cpu_s() - cpu0) / (wall * nproc)
        stats["jvm.gc_s"] = counters.gc_s() - gc0
        per_op.append(stats)

    # pairs alternate which op runs first, so the op-to-op drift of a
    # young process does not land on one side of the overhead estimate;
    # a traced op's wall holds all of its tracing work
    while not plain or sum(runner.walls) < args.seconds:
        if len(plain) % 2:
            traced.append(runner.timed(main_in, exp, body=traced_op))
            plain.append(runner.timed(main_in, exp))
        else:
            plain.append(runner.timed(main_in, exp))
            traced.append(runner.timed(main_in, exp, body=traced_op))
    if not per_op:
        raise RuntimeError(f"traced ops failed: {runner.problems[:3]}")

    m = {k: timings[k] for k in ("session.get_spark_s", "session.first_job_s")}
    for k in per_op[0]:
        m[k] = statistics.median(s[k] for s in per_op)
    m["trace.op_s"] = statistics.median(traced)
    m["trace.overhead_s"] = m["trace.op_s"] - statistics.median(plain)
    layer_m, checks = layers.sweep(spark, tracer, args.seed, paths, extra["side"], out)
    m.update(layer_m)
    runner.count_checked(checks)
    query_m, checks = layers.query_pass(spark, tracer, counters, extra["corpus"])
    m.update(query_m)
    runner.count_checked(checks)
    tracer.dump(os.path.join(WORK, f"trace-{W.name}-{args.seed}.json"))
    return m, runner


if __name__ == "__main__":
    sys.exit(main())
