"""Fixed cost of one Python crossing, apart from the data it carries.

On a warm ``get_session()`` session, times two plans over the same
``spark.range``, alternating, each checkpointed eagerly
(``localCheckpoint``): one identity ``mapInArrow`` (a Python task per
partition) and the same range checkpointed in the JVM alone.  Prints
the median of each over ``runs`` and their difference, the per-crossing
fixed cost that splitting a layer's time into kernel CPU and
Arrow-crossing overhead needs.  With the default ``rows`` the batches
are small, so the difference is almost all fixed cost.

Usage:
  PYTHONPATH=. python tools/crossing_cost.py [runs] [rows]
"""

from __future__ import annotations

import json
import statistics
import sys
import time

WARM_RUNS = 3


def identity(batches):
    yield from batches


def timed(df) -> float:
    t0 = time.perf_counter()
    df.localCheckpoint(eager=True)
    return time.perf_counter() - t0


def main() -> None:
    from rex_spark.session import get_session

    args = [int(a) for a in sys.argv[1:]]
    runs = args[0] if args else 20
    rows = args[1] if len(args) > 1 else 10_000
    spark = get_session()
    parts = spark.sparkContext.defaultParallelism
    base = spark.range(rows, numPartitions=parts)
    crossing = base.mapInArrow(identity, base.schema)
    jvm = base.selectExpr("id")
    for _ in range(WARM_RUNS):
        timed(crossing)
        timed(jvm)
    py_s, jvm_s = [], []
    for _ in range(runs):
        py_s.append(timed(crossing))
        jvm_s.append(timed(jvm))
    py_med, jvm_med = statistics.median(py_s), statistics.median(jvm_s)
    print(json.dumps({
        "runs": runs,
        "rows": rows,
        "partitions": parts,
        "daemon_module": spark.conf.get("spark.python.daemon.module", "pyspark.daemon"),
        "python_s": round(py_med, 4),
        "jvm_s": round(jvm_med, 4),
        "crossing_s": round(py_med - jvm_med, 4),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
