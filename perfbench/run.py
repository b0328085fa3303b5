"""Repository benchmark: three single-client closed-loop workloads.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Every input the program receives (query
order, key picks, the DML sequence, the block-access sequence) is drawn
from ``--seed``; the tables are the frozen sf0.1 dataset under
``perfbench/data``. With ``--trace 0`` the last stdout line is one JSON
object carrying the end-to-end metrics listed in ``BENCHMARK.json``;
with ``--trace 1`` it carries the per-layer metrics, and the spans are
written to ``.perfbench_work/traces/``. The lines before it print every
end-to-end metric of the workload by name and unit, the pinned
environment, and any failed op. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import signal
import sys
import time

from harness import MAX_WINDOW_S

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
# A frozen copy of the repository's sf0.1 test tables (TESTDATA.md),
# kept with the benchmark so a bare checkout runs on the same data.
DATA_DIR = os.path.join(ROOT, "perfbench", "data", "sf0.1")
WORKLOADS = ("headline_mix", "engine_rw", "block_replay")

# Every end-to-end metric a workload can report, with its unit. A
# workload leaves a metric it has no ops for as None; BENCHMARK.json
# gates the subset that every workload reports.
E2E_UNITS = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "read_mean_ms": "ms",
    "read_p50_ms": "ms",
    "read_p90_ms": "ms",
    "write_p50_ms": "ms",
    "write_p75_ms": "ms",
    "write_kb_per_op": "KiB/op",
    "space_amp": "ratio",
    "peak_rss_mb": "MiB",
    "fail_ratio": "ratio",
}


def pin_env(run_dir: str) -> dict[str, str]:
    """Environment the program sees; returned so the run records it."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        total_gb = int(fh.readline().split()[1]) // (1024 * 1024)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    pinned = {
        # the package defaults to 32 cores and a 48g driver
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{max(1, min(4, total_gb // 4))}g",
        # one BLAS thread per process: the program's numpy matmuls
        # (the LSTM's) are tiny, and a BLAS pool in every process
        # oversubscribes a few shared cores
        "OPENBLAS_NUM_THREADS": "1",
        "OMP_NUM_THREADS": "1",
        "MKL_NUM_THREADS": "1",
        # Python workers import the package by name
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "TMPDIR": tmp,
        "SPARK_GRAFT_ORACLE_SF_DIR": DATA_DIR,
    }
    os.environ.update(pinned)
    return pinned


def start_spark(run_dir: str):
    from columnar_database_project_spark.session import get_spark

    tmp = os.path.join(run_dir, "tmp")
    return get_spark(
        "perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session, end the JVM, and wait for every process this
    run started (JVM and Python workers) to exit."""
    from pyspark import SparkContext

    from harness import process_tree

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 30
    while True:
        rest = [p for p in process_tree() if p != os.getpid()]
        if not rest:
            return
        if time.time() > deadline:
            for p in rest:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            deadline = time.time() + 10
        time.sleep(0.2)


def fmt(name: str, value, unit: str, note: str = "") -> str:
    shown = "n/a" if value is None else f"{value:.6g}"
    return f"  {name:<42} {shown:>14} {unit:<8} {note}".rstrip()


def measure(args, env: dict[str, str], run_dir: str):
    """Set up and run one workload; return its context, its result, the
    peak RSS of the process tree and the session start time."""
    import columnar_database_project_spark  # noqa: F401  (fails fast without the program)

    from harness import Context, Recorder, peak_rss_mb, process_tree
    from spans import Tracer

    data_dir = env["SPARK_GRAFT_ORACLE_SF_DIR"]
    workload = importlib.import_module(args.workload)
    tracer = Tracer(enabled=bool(args.trace))
    ctx = Context(
        seed=args.seed, seconds=args.seconds,
        data_dir=data_dir, run_dir=run_dir, work_dir=WORK,
        tracer=tracer, rec=Recorder(tracer=tracer),
    )
    workload.instrument(ctx)
    t0 = time.perf_counter()
    try:
        if getattr(workload, "USES_SPARK", True):
            ctx.spark = start_spark(run_dir)
            ctx.session_start_s = time.perf_counter() - t0
        out = workload.run(ctx)
        ctx.enter("end")
        rss = peak_rss_mb(process_tree())
    finally:
        if ctx.spark is not None:
            stop_spark(ctx.spark)
        tracer.restore()
    return ctx, out, rss, t0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not 0 < args.seconds <= MAX_WINDOW_S:
        ap.error(f"--seconds must be in (0, {MAX_WINDOW_S:g}]")

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        env = pin_env(run_dir)  # before the package reads it at import
        sys.path.insert(0, ROOT)
        os.chdir(run_dir)  # anything Spark writes relative to cwd stays here
        ctx, out, rss, t0 = measure(args, env, run_dir)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)

    rec = ctx.rec
    e2e = dict(out["end_to_end"])
    e2e["peak_rss_mb"] = rss
    e2e["fail_ratio"] = rec.failed / max(1, rec.attempted)
    notes = out.get("notes", {})
    correct = rec.failed == 0

    print(f"workload {args.workload} seed {args.seed} seconds {args.seconds:g} trace {args.trace}")
    print("env " + " ".join(f"{k}={v}" for k, v in sorted(env.items())))
    print(f"ops attempted {rec.attempted} failed {rec.failed} ({', '.join(f'{k}={len(v)}' for k, v in sorted(rec.samples.items()))} samples)")
    marks = [("session", t0)] + ctx.phases
    print("phase seconds " + " ".join(
        f"{name}={t1 - t:.1f}" for (name, t), (_next, t1) in zip(marks, marks[1:])
    ))
    label = "end-to-end (traced)" if args.trace else "end-to-end"
    print(label)
    for name, unit in E2E_UNITS.items():
        print(fmt(name, e2e.get(name), unit, notes.get(name, "")))
    for p in rec.problems:
        print("FAILED " + p.replace("\n", " | "))

    if args.trace:
        per_layer = out["per_layer"]
        print("per-layer")
        for m in spec["per_layer"]:
            print(fmt(m["name"], per_layer.get(m["name"], 0.0), m["unit"]))
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        path = os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.json")
        ctx.tracer.dump(path, env=env, end_to_end=e2e, per_layer=per_layer)
        print(f"trace written to {os.path.relpath(path, ROOT)}")
        metrics = {m["name"]: {"value": float(per_layer.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        metrics = {}
        for m in spec["end_to_end"]:
            value = e2e.get(m["name"])
            if value is None:
                correct = False
                value = 0.0
            metrics[m["name"]] = {"value": float(value), "unit": m["unit"]}
    print(json.dumps({
        "correct": correct,
        "attempted": max(1, rec.attempted),
        "failed": rec.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
