"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --smoke

Run from the repository root. One run starts a local Spark session
(``local[<cores>]``, one driver), generates the workload's inputs from
``--seed``, runs two warm-up jobs, then a fixed number of measured
jobs back to back (closed loop, one client), and checks every job's
output.

``--trace 0`` measures one job and reports the end-to-end metrics.
``--trace 1`` runs an untraced, a traced and an untraced job and
reports the per-layer metrics of the traced one plus the tracing
overhead; its spans are written to
``.perfbench/spans-<workload>-<seed>.json``. The number of measured
jobs is fixed so that a faster program does not also get more samples;
``--seconds`` is accepted for the benchmark's command-line interface
and does not change it.

The last line of standard output is the result object; the line before
it carries sample counts, the environment and host provenance. The exit
status is non-zero if any output check failed.
``--smoke`` runs every workload at a tiny size in one session, prints
every metric name with its unit, and shows that each output check
rejects a corrupted result.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import tempfile
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench")

#: workloads and metrics, as declared in BENCHMARK.json
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]

#: jobs run before measuring: the cold first job, and one more because
#: the job after the cold one still varies by about 15 % from run to
#: run, the one after that by about 5 %
WARMUP_JOBS = 2

#: which jobs a run measures after its warm-up, by --trace: False is an
#: untraced job, True a traced one
MEASURED = {0: (False,), 1: (False, True, False)}

#: driver heap for the run: the session's own default (48g) is larger
#: than a small host's memory
DRIVER_MEM = "2g"

#: input scale per workload in --smoke mode
SMOKE_SCALE = {"tera_files": 0.01, "query_mix": 0.02}


def prepare_env(work: str, cores: int) -> None:
    """Point every file Spark and Python write at ``work`` and make the
    program importable by the driver and its Python workers. Must run
    before pyspark is imported."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.pop("SPARK_MASTER_URL", None)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p),
        # -XX:-UsePerfData: the JVM would otherwise keep a counters file
        # in /tmp, outside the checkout
        PYSPARK_SUBMIT_ARGS=shlex.join(
            [
                "--driver-java-options",
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
                "--conf",
                f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
                "pyspark-shell",
            ]
        ),
    )
    tempfile.tempdir = tmp
    sys.path.insert(0, ROOT)


def workload_class(name: str):
    if name == "tera_files":
        from tera_files import TeraFiles

        return TeraFiles
    from query_mix import QueryMix

    return QueryMix


def start_session():
    from pandamapreduce_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    return spark, time.perf_counter() - t0


def stop_session(spark, tree) -> None:
    """Stop Spark, then the JVM, and wait until every process the
    session started (JVM, Python daemon and workers) has exited."""
    from pyspark import SparkContext

    started = [p for p in tree.pids() if p != tree.root]
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 60
    while started and time.monotonic() < deadline:
        started = [p for p in started if alive(p)]
        if started:
            time.sleep(0.1)
    for p in started:
        with contextlib.suppress(ProcessLookupError):
            os.kill(p, signal.SIGKILL)


def alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def run_checked(wl, tr, tree, failures: list) -> dict:
    """Run one job and check its output. Returns its record: wall time,
    CPU seconds of the process tree, checks attempted and failed."""
    cpu0 = tree.cpu_s()
    t0 = time.perf_counter()
    try:
        out = wl.run(tr)
    except Exception:
        traceback.print_exc()
        out = None
    job_s = time.perf_counter() - t0
    cpu = tree.cpu_s() - cpu0
    if out is None:
        attempted = failed = wl.checks_per_job
    else:
        attempted, failed = wl.check(out)
    if failed:
        failures.append(f"{wl.name} job {tr.job}: {failed}/{attempted} output checks failed")
    return {"job_s": job_s, "cpu_s": cpu, "attempted": attempted, "failed": failed, "out": out}


def bench(args) -> int:
    from harness import HostProbe, ProcTree, Tracer, fs_type, median, stage_metrics

    cores = len(os.sched_getaffinity(0))
    host = HostProbe()
    tree = ProcTree()
    failures: list[str] = []

    t_setup = time.perf_counter()
    wl = workload_class(args.workload)(args.work, args.seed)
    with ThreadPoolExecutor(1) as pool:  # generate inputs while the JVM starts
        gen = pool.submit(wl.generate)
        spark, get_spark_s = start_session()
    try:
        gen.result()
        wl.start(spark)
        off = Tracer(None, False)
        warm = [run_checked(wl, off, tree, failures) for _ in range(WARMUP_JOBS)]
        setup_s = time.perf_counter() - t_setup

        traced = Tracer(spark, True)
        jobs, layers = [], []
        # a traced run puts its traced job between the two untraced jobs
        # it is compared with, so the warm-up curve does not bias the
        # overhead
        for i, on in enumerate(MEASURED[args.trace]):
            tr = traced if on else off
            tr.job = i
            rec = run_checked(wl, tr, tree, failures)
            rec["traced"] = tr.enabled
            if tr.enabled and rec["out"] is not None:
                spans = tr.of_job(i)
                metrics = stage_metrics(spark, {s["id"] for s in spans})
                layers.append(wl.layers(spans, metrics, rec["job_s"], cores))
            rec.pop("out")
            jobs.append(rec)
        peak_rss_mb = tree.peak_rss_mb()
    finally:
        stop_session(spark, tree)

    attempted = sum(j["attempted"] for j in warm + jobs)
    failed = sum(j["failed"] for j in warm + jobs)
    plain = [j for j in jobs if not j["traced"]]
    job_s = median([j["job_s"] for j in plain])
    if args.trace:
        units = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
        metrics = {n: median([lay.get(n, 0.0) for lay in layers]) for n in units}
        metrics["session.get_spark_s"] = get_spark_s
        metrics["trace.overhead_s"] = median([j["job_s"] for j in jobs if j["traced"]]) - job_s
        os.makedirs(OUT, exist_ok=True)
        with open(os.path.join(OUT, f"spans-{args.workload}-{args.seed}.json"), "w") as f:
            json.dump(traced.spans, f)
    else:
        metrics = {"setup_s": setup_s, "job_s": job_s, "cpu_s": median([j["cpu_s"] for j in plain])}
        units = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "jobs": len(plain),
        "traced_jobs": len(jobs) - len(plain),
        "job_s_samples": [round(j["job_s"], 4) for j in plain],
        "input_mb": wl.input_mb,
        "throughput_mb_s": wl.input_mb / job_s if job_s else 0.0,
        "peak_rss_mb": peak_rss_mb,
        "run_wall_s": time.perf_counter() - T_START,
        "failures": failures,
        "env": {
            "cores": cores,
            "driver_mem": DRIVER_MEM,
            "local_dir_fs": fs_type(args.work),
            "input_dir_fs": fs_type(args.work),
            "python": sys.version.split()[0],
        },
        "host": host.report(),
    }
    print(json.dumps(detail))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
            }
        ),
        flush=True,
    )
    return 0 if failed == 0 else 1


def smoke(args) -> int:
    """Every workload at a tiny size: checks pass on real output, reject
    corrupted output, and every metric is produced."""
    from harness import ProcTree, Tracer, stage_metrics

    cores = len(os.sched_getaffinity(0))
    tree = ProcTree()
    problems: list[str] = []
    spark, _ = start_session()
    try:
        for name in WORKLOADS:
            work = os.path.join(args.work, name)
            os.makedirs(work, exist_ok=True)
            wl = workload_class(name)(work, args.seed, SMOKE_SCALE[name])
            wl.generate()
            wl.start(spark)
            run_checked(wl, Tracer(None, False), tree, problems)
            tr = Tracer(spark, True)
            rec = run_checked(wl, tr, tree, problems)
            metrics = stage_metrics(spark, {s["id"] for s in tr.spans})
            got = wl.layers(tr.spans, metrics, rec["job_s"], cores)
            unknown = set(got) - {m["name"] for m in SPEC["per_layer"]}
            if unknown:
                problems.append(f"{name}: layer metrics not declared: {sorted(unknown)}")
            print(f"{name}: job {rec['job_s']:.2f} s, output check {'FAILED' if rec['failed'] else 'ok'}")
            for label, bad in wl.corruptions(rec["out"], Tracer(None, False)).items():
                _, failed = wl.check(bad)
                print(f"  {label}: {'rejected' if failed else 'ACCEPTED'}")
                if not failed:
                    problems.append(f"{name}: {label} was accepted")
            print("  " + ", ".join(f"{k}={v:.4g}" for k, v in sorted(got.items())))
    finally:
        stop_session(spark, tree)
    print("end-to-end metrics (--trace 0):")
    for m in SPEC["end_to_end"]:
        print(f"  {m['name']} [{m['unit']}] {m['better']} is better, bound {m['bound']}")
    print("per-layer metrics (--trace 1):")
    for m in SPEC["per_layer"]:
        print(f"  {m['name']} [{m['unit']}] {m['better']} is better")
    for p in problems:
        print("SMOKE FAILURE:", p)
    return 1 if problems else 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args(argv)
    if not args.smoke and not args.workload:
        ap.error("--workload is required unless --smoke is given")
    if not os.path.isfile(os.path.join(ROOT, "pandamapreduce_spark", "__init__.py")):
        print(f"perfbench: the pandamapreduce_spark package is not under {ROOT}", file=sys.stderr)
        return 2
    args.work = os.path.join(OUT, f"work-{os.getpid()}")
    prepare_env(args.work, len(os.sched_getaffinity(0)))
    try:
        return smoke(args) if args.smoke else bench(args)
    finally:
        shutil.rmtree(args.work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
