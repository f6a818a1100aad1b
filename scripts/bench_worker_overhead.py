"""Fixed per-task cost of Python stages: wall time of trivial stages.

    python scripts/bench_worker_overhead.py [reps]

Times four stage shapes over 4 and 16 tasks of near-empty partitions,
so the wall time is scheduling plus per-task worker overhead, not
work:

    jvm          spark.range(...).count()            no Python
    rdd          parallelize(...).mapPartitions(id)  RDD worker pool
    mapInPandas  spark.range(...).mapInPandas(id)    Arrow worker
    pandas_udf   sum of a +1 pandas_udf over range   Arrow eval

Each figure is the min of ``reps`` runs (default 5), each on a freshly
built DataFrame/RDD. Cores follow $SPARK_GRAFT_CPUS (or all cores);
the 1-minute load average is printed with every row.
"""

from __future__ import annotations

import os
import platform
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from geo_inference_spark.session import get_spark  # noqa: E402


def _identity(batches):
    yield from batches


def _plus_one(s):
    return s + 1


def shapes(spark):
    sc = spark.sparkContext
    plus_one = F.pandas_udf(_plus_one, "long")
    return {
        "jvm": lambda t: spark.range(0, t, 1, t).count(),
        "rdd": lambda t: sc.parallelize(range(t), t).mapPartitions(
            lambda it: it).count(),
        "mapInPandas": lambda t: spark.range(0, t, 1, t).mapInPandas(
            _identity, "id long").count(),
        "pandas_udf": lambda t: spark.range(0, t, 1, t).select(
            plus_one("id").alias("v")).agg(F.sum("v")).collect(),
    }


def main() -> None:
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 5
    spark = get_spark("bench-worker-overhead")
    spark.sparkContext.setLogLevel("ERROR")
    cores = spark.sparkContext.defaultParallelism
    print(f"# python {platform.python_version()} pyspark {pyspark.__version__}"
          f" local[{cores}] reps={reps}")
    print(f"{'stage':<12} {'tasks':>5} {'min_s':>7} {'max_s':>7} {'load1':>6}")
    for name, run in shapes(spark).items():
        for tasks in (4, 16):
            walls = []
            for _ in range(reps):  # each run builds its own frame
                t0 = time.perf_counter()
                run(tasks)
                walls.append(time.perf_counter() - t0)
            print(f"{name:<12} {tasks:>5} {min(walls):>7.3f} "
                  f"{max(walls):>7.3f} {os.getloadavg()[0]:>6.2f}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
