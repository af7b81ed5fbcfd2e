"""SparkSession factory with scale-aware defaults.

Local testing runs ``local[N]``; the same config block is what we would ship
to a 1000-executor cluster — AQE on (runtime re-planning, skew-join
splitting, partition coalescing), Arrow enabled for the pandas-UDF kernels,
and a UTC session timezone so timestamp semantics match external oracles and
naive-parquet producers.
"""

from __future__ import annotations

import os
import stat

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

# Local cores when SPARK_GRAFT_CPUS is unset.
DEFAULT_CPUS = 32


def _default_driver_memory() -> str:
    """Size the driver heap to the machine: in ``local[N]`` the driver
    JVM IS every executor, so the 32 concurrent tasks' execution+storage
    memory all come out of this one heap. A fixed small heap turns the
    heavy join/aggregation queries GC-bound (measured ~40% slower at
    8 g vs 24 g on a 128 GiB box). Take ~25% of physical RAM, clamped
    to [8 g, 32 g]; on a real cluster the driver does no data work and
    ``SPARK_DRIVER_MEMORY`` overrides this entirely.
    """
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    total_gib = int(line.split()[1]) / (1024 * 1024)
                    return f"{max(8, min(32, int(total_gib // 4)))}g"
    except OSError:
        pass
    return "8g"


def _python_socket_dir() -> str | None:
    """A short directory, private to this user, for the Unix domain
    sockets between the JVM and its Python workers; None if it cannot
    be had. It is fixed under ``/tmp`` and reused by every session,
    whatever ``TMPDIR`` or ``java.io.tmpdir`` say: a socket path
    ``<dir>/.<uuid4>.sock`` must fit ``AF_UNIX``'s 107 bytes, and a
    directory under a deep checkout does not. Spark removes each
    socket file when its server closes. A path that is not a directory
    of this user's (a file, a link, another user's) is not used."""
    if os.name != "posix":
        return None
    path = f"/tmp/gfw_pixetl_spark-{os.getuid()}"
    try:
        os.mkdir(path, 0o700)
    except FileExistsError:
        pass
    except OSError:
        return None
    st = os.lstat(path)
    if not stat.S_ISDIR(st.st_mode) or st.st_uid != os.getuid():
        return None
    if stat.S_IMODE(st.st_mode) != 0o700:
        os.chmod(path, 0o700)
    return path


def get_spark(
    app_name: str = "gfw_pixetl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for the engine.

    ``shuffle_partitions`` defaults to the parallelism of the master; on a
    real cluster you would size it to ~2-3x total cores and let AQE coalesce.

    DataFrame debugging is off: with it on, every ``F.*``/DataFrame call
    goes through ``pyspark/errors/utils.py::_with_origin``, which walks
    the stack, retries a failing ``import IPython`` and adds py4j round
    trips (perfbench ``query_mix``, which runs no Python task: median
    ``wall_s`` 3.65 -> 3.24 s over 6 pairs on 4 vCPUs). The cost is that
    analysis errors no longer carry PySpark's DataFrame call-site
    context.

    On a ``local`` master, where the driver JVM is the executor, Python
    workers talk to the JVM over Unix domain sockets
    (``spark.python.unix.domain.socket.enabled``) in
    :func:`_python_socket_dir`. Over TCP, Spark's Python runner leaves
    Nagle's algorithm on, and it meets the worker's delayed ACK: every
    Python task waited ~40 ms for its first Arrow batch (4 vCPUs; ~1.5
    ms over a Unix socket). Other masters keep Spark's default transport.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(DEFAULT_CPUS))
    master = master or f"local[{cpus}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # --- optimizer / runtime ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Prefer shuffled-hash over sort-merge when the per-partition
        # build side fits (guide: SHJ skips both sorts; SMJ remains the
        # planner's fallback when sizes don't qualify), and let AQE
        # rewrite SMJ -> SHJ at runtime when every post-shuffle partition
        # is under the threshold. Join strategy never changes results.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            str(64 * 1024 * 1024),
        )
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        # --- Arrow for pandas_udf / mapInPandas kernels ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # --- deterministic timestamp semantics (naive parquet == UTC) ---
        .config("spark.sql.session.timeZone", "UTC")
        # read TIMESTAMP(NANOS) parquet as long; loaders truncate to micros
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # --- scan sizing: 128 MiB splits is the parquet sweet spot ---
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get(
            "SPARK_DRIVER_MEMORY", _default_driver_memory()))
        .config("spark.ui.enabled", "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    sock_dir = (_python_socket_dir()
                if master == "local" or master.startswith("local[")
                else None)
    if sock_dir is not None:
        builder = (
            builder.config("spark.python.unix.domain.socket.enabled", "true")
            .config("spark.python.unix.domain.socket.dir", sock_dir)
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_frame(
    spark: SparkSession, rows: list[tuple], schema: str
) -> DataFrame:
    """A DataFrame over driver-side rows that plans as a ``LocalTableScan``.

    The rows travel as one Arrow table inside the plan, so building or
    scanning the frame starts no Python worker. ``createDataFrame(list)``
    and ``parallelize(rows, 1)`` are both RDD scans that run a Python task
    (a 14-row frame built and scanned on a 4-vCPU host: 0.06 s this way,
    against 0.32 s and 0.25 s). For metadata-sized frames: catalogs, tile-id lists.
    """
    struct = StructType.fromDDL(schema)
    table = pa.Table.from_pandas(
        pd.DataFrame(rows, columns=struct.names),
        schema=to_arrow_schema(struct), preserve_index=False,
    )
    return spark.createDataFrame(table)
