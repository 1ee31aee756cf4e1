"""Benchmark entry point: one workload, one seed, one process.

    python3 perfbench/run.py --workload pipeline_dense_rowgrain \
        --seed 1 --seconds 20 --trace 0

Run from the repository root. Builds inputs from the seed (cached under
``.perfbench/inputs``), starts Spark on ``local[<cores>]``, runs the
workload, checks the outputs, and prints human-readable lines followed by
one JSON line: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1`` the
per-layer ones. Exits non-zero when an operation or a check failed.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import dataclasses  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

from pipeline import WORKLOADS, PipelineRun  # noqa: E402

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench")


def _prepare_env(run_dir: str) -> None:
    """Keep Spark's files inside the run directory and make the engine
    importable by Python workers."""
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    sys.path.insert(0, ROOT)


def _prune_inputs(inputs_root: str, workload: str, seed: int) -> None:
    """Inputs are cached per seed; keep only this seed's for the workload."""
    keep = f"{workload}-s{seed}"
    if os.path.isdir(inputs_root):
        for entry in os.listdir(inputs_root):
            if entry.startswith(f"{workload}-s") and entry != keep:
                shutil.rmtree(os.path.join(inputs_root, entry), ignore_errors=True)


def _start_spark(name: str, run_dir: str):
    from hauser_spark.session import build_session

    spark = build_session(
        app_name=f"perfbench-{name}",
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
            "spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "hauser_spark", "service.py")):
        print("perfbench: run from the repository root (hauser_spark/ not found)",
              file=sys.stderr)
        return 2

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        _prepare_env(run_dir)
        bench = PipelineRun(args.workload, args.seed, args.seconds, bool(args.trace))
        inputs_root = os.path.join(WORK, "inputs")
        _prune_inputs(inputs_root, args.workload, args.seed)
        gen_s = bench.make_inputs(inputs_root)
        spark = _start_spark(args.workload, run_dir)
        session_s = time.perf_counter() - T_START - gen_s
        try:
            result = bench.run(spark, run_dir, session_s)
        finally:
            _stop_spark(spark)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if bench.tracer is not None:
        spans_path = os.path.join(WORK, f"spans-{args.workload}-s{args.seed}.jsonl")
        with open(spans_path, "w") as f:
            for span in bench.tracer.spans:
                f.write(json.dumps(dataclasses.asdict(span)) + "\n")
        bench.notes.append(f"spans written to {os.path.relpath(spans_path, ROOT)}")

    print(f"perfbench: workload={args.workload} seed={args.seed} "
          f"seconds={args.seconds:g} trace={args.trace} inputs={gen_s:.3f} s")
    for note in bench.notes:
        print(f"perfbench: {note}")
    for name, (value, unit) in result["metrics"].items():
        print(f"metric {name} = {value:.6g} {unit}")
    print(json.dumps({
        "correct": result["correct"],
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in result["metrics"].items()},
    }))
    return 0 if result["correct"] and result["failed"] == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
