"""Fixed cost of a Spark job with and without Python tasks, warm.

Times three jobs of ``--cores`` tasks each, interleaved, on one
``local[--cores]`` session, after untimed warm-up rounds that start and
reuse the Python workers:

- ``jvm_job_s``: a range sum, no Python;
- ``map_in_pandas_s``: an identity ``mapInPandas`` over one row per task
  (the function is defined here, so its tasks import no engine module);
- ``engine_udf_s``: the engine's ``cell_ixiy`` Arrow UDF over 1000 rows
  per task.

The difference between the first and the other two is the per-stage
latency of Python tasks: worker hand-off, set-up, function unpickle and
Arrow stream set-up.  Prints one JSON line with the median and quartiles
of each job over ``--runs`` rounds.

Run from the checkout to measure (the Python workers import the engine
from the working directory):

    python tools/python_task_probe.py --cores 4 --runs 15
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np

_WARMUP = 3  # untimed rounds: start the workers, import the engine in them


def _identity(batches):
    yield from batches


def _quartiles(xs):
    q1, q2, q3 = np.percentile(xs, [25, 50, 75])
    return {"median": round(float(q2), 4), "q1": round(float(q1), 4), "q3": round(float(q3), 4)}


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--cores", type=int, default=4)
    ap.add_argument("--runs", type=int, default=15)
    args = ap.parse_args(argv)
    if args.runs < 10:
        ap.error("--runs must be at least 10")

    from pyspark.sql import functions as F

    from shapefile_rs_spark.operators.spatial_join import cell_ixiy
    from shapefile_rs_spark.session import get_spark

    n = args.cores
    spark = get_spark(app_name="python_task_probe", master=f"local[{n}]")
    spark.sparkContext.setLogLevel("ERROR")
    jobs = {
        "jvm_job_s": lambda: spark.range(0, 1000 * n, numPartitions=n)
        .agg(F.sum("id"))
        .collect(),
        "map_in_pandas_s": lambda: spark.range(0, n, numPartitions=n)
        .mapInPandas(_identity, "id long")
        .collect(),
        "engine_udf_s": lambda: spark.range(0, 1000 * n, numPartitions=n)
        .select(cell_ixiy(F.col("id")).alias("d"))
        .agg(F.sum("d.ix"))
        .collect(),
    }
    times = {name: [] for name in jobs}
    try:
        for rnd in range(_WARMUP + args.runs):
            # the engine job runs first in each round, so every worker a
            # round uses has imported the engine before the other jobs
            for name in ("engine_udf_s", "jvm_job_s", "map_in_pandas_s"):
                t0 = time.perf_counter()
                jobs[name]()
                if rnd >= _WARMUP:
                    times[name].append(time.perf_counter() - t0)
    finally:
        spark.stop()
    out = {
        "master": f"local[{n}]",
        "runs": args.runs,
        "python": ".".join(map(str, sys.version_info[:3])),
    }
    out.update({name: _quartiles(ts) for name, ts in times.items()})
    print(json.dumps(out))


if __name__ == "__main__":
    main()
