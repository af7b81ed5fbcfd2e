"""Python-stage floor probe: what a Spark job costs before any tile work.

On ``local[N]`` (N = cores, default the machine's), times three jobs
over a ``session.local_frame`` and prints the median of each (each
``mapInPandas`` body imports ``gfw_pixetl_spark``, as every engine UDF
does):

* ``jvm_only_s``: a projection of an N-row frame, no Python worker;
* ``map_1row_s``: a 1-row identity ``mapInPandas`` (one Python task);
* ``map_nrow_s``: an N-row identity ``mapInPandas`` (N Python tasks);

and two worker-side medians from a 1-row ``mapInPandas``:

* ``first_batch_ms``: the wait from the UDF's first line to its first
  Arrow batch. It shows the JVM<->worker transport: ~40 ms is TCP's
  Nagle algorithm meeting delayed ACK, ~2 ms a Unix domain socket
  (4 vCPUs);
* ``worker_invalidate_ms``: one ``importlib.invalidate_caches()``, the
  call PySpark makes before every task
  (``pyspark/worker_util.py::setup_spark_files``).

Each job is materialised with a ``noop`` write after two warm-up runs.
The difference ``map_1row_s - jvm_only_s`` is the fixed price of one
Python stage.

Usage:
  python tools/python_task_floor.py [--reps 9] [--cores N]

Prints one JSON line. Do not run it next to another Spark JVM.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path
from statistics import median

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from gfw_pixetl_spark.session import get_spark, local_frame


def _identity(batches):
    import gfw_pixetl_spark  # noqa: F401  (what every engine UDF imports)

    yield from batches


def _worker_ms(batches):
    t0 = time.perf_counter()
    import importlib

    import pandas as pd

    import gfw_pixetl_spark  # noqa: F401

    it = iter(batches)
    next(it, None)
    first_batch = (time.perf_counter() - t0) * 1e3
    for _ in it:
        pass
    t0 = time.perf_counter()
    importlib.invalidate_caches()
    yield pd.DataFrame({"first_batch_ms": [first_batch],
                        "invalidate_ms": [(time.perf_counter() - t0) * 1e3]})


def _timed(df, reps: int) -> float:
    """Median wall seconds of a ``noop`` write of ``df``."""
    out = []
    for i in range(reps + 2):
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        if i >= 2:
            out.append(time.perf_counter() - t0)
    return median(out)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(prog="tools/python_task_floor.py")
    p.add_argument("--reps", type=int, default=9)
    p.add_argument("--cores", type=int, default=os.cpu_count())
    args = p.parse_args(argv)
    n = args.cores
    # Python workers import the package from this checkout.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get(
            "PYTHONPATH", "").split(os.pathsep) if p])
    spark = get_spark("python_task_floor", master=f"local[{n}]",
                      shuffle_partitions=n,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    one = local_frame(spark, [(0,)], "i long")
    many = local_frame(spark, [(i,) for i in range(n)], "i long")
    res = {
        "cores": n,
        "reps": args.reps,
        "jvm_only_s": _timed(many.selectExpr("i * 2 AS j"), args.reps),
        "map_1row_s": _timed(one.mapInPandas(_identity, "i long"), args.reps),
        "map_nrow_s": _timed(many.mapInPandas(_identity, "i long"),
                             args.reps),
    }
    probe = one.mapInPandas(
        _worker_ms, "first_batch_ms double, invalidate_ms double")
    rows = [r for _ in range(args.reps + 2) for r in probe.collect()][2:]
    res["first_batch_ms"] = median(r.first_batch_ms for r in rows)
    res["worker_invalidate_ms"] = median(r.invalidate_ms for r in rows)
    print(json.dumps({k: round(v, 4) if isinstance(v, float) else v
                      for k, v in res.items()}))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
