"""Host level: a fixed Python loop and a fixed tiny Spark job.

Recorded before and after each workload and printed next to the metrics,
so an unsteady set of runs can be traced to the host. No benchmark number
is ever scaled by these.
"""

from __future__ import annotations

import statistics
import time

LOOP_ITERATIONS = 1_000_000
REPEATS = 3


def _python_loop() -> float:
    t0 = time.perf_counter()
    acc = 0
    for i in range(LOOP_ITERATIONS):
        acc += i
    return time.perf_counter() - t0


def _spark_job(spark) -> float:
    t0 = time.perf_counter()
    spark.range(0, 1_000_000, 1, 4).selectExpr("sum(id % 7) AS s").collect()
    return time.perf_counter() - t0


def host_probe(spark) -> str:
    _spark_job(spark)  # untimed: compile the job's plan first
    loop = statistics.median(_python_loop() for _ in range(REPEATS))
    job = statistics.median(_spark_job(spark) for _ in range(REPEATS))
    return f"python_loop_s={loop:.4f} spark_job_s={job:.4f}"
