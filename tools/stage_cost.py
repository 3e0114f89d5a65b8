"""Fixed cost of a Python stage against a JVM-only job.

Over ``repeats`` runs on 4 cached partitions, prints the median and
quartiles of two timings:

* ``python_first_entry_s`` -- from job submit on the driver to the
  first entry into a trivial ``mapInPandas`` function (earliest task);
* ``jvm_job_s`` -- the wall time of a JVM-only job (a ``sum`` over the
  same cached partitions).

The first timing compares driver and worker clocks, so it is meaningful
in ``local[n]`` mode only. One warm-up run of each job comes first.

Usage: python tools/stage_cost.py [repeats]
"""

from __future__ import annotations

import json
import os
import sys
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _entry_time(batches):
    t = time.time()
    import pandas as pd
    for _ in batches:
        pass
    yield pd.DataFrame({"t": [t]})


def _quartiles(xs: list[float]) -> dict:
    q1, med, q3 = np.percentile(xs, [25, 50, 75])
    return {"median": round(float(med), 4), "q1": round(float(q1), 4),
            "q3": round(float(q3), 4), "n": len(xs)}


def main() -> None:
    repeats = int(sys.argv[1]) if len(sys.argv) > 1 else 20

    from pyspark.sql import functions as F

    from cuvs_spark import get_spark

    spark = get_spark("stage_cost")
    spark.sparkContext.setLogLevel("ERROR")
    df = spark.range(0, 4000, 1, 4).withColumn("x", F.col("id").cast("double")).cache()
    df.count()

    def python_stage() -> float:
        t0 = time.time()
        rows = df.mapInPandas(_entry_time, "t double").collect()
        return min(r.t for r in rows) - t0

    def jvm_job() -> float:
        t0 = time.perf_counter()
        df.agg(F.sum("x")).collect()
        return time.perf_counter() - t0

    python_stage(), jvm_job()
    first_entry, jvm = [], []
    for _ in range(repeats):
        first_entry.append(python_stage())
        jvm.append(jvm_job())
    print(json.dumps({"python_first_entry_s": _quartiles(first_entry),
                      "jvm_job_s": _quartiles(jvm)}))
    spark.stop()


if __name__ == "__main__":
    main()
