"""SparkSession factory tuned for this engine.

Local mode is the test bed; the configs are chosen so the same code
runs unchanged on a multi-executor cluster: AQE handles runtime
coalescing/skew, shuffle partitions scale with parallelism, Arrow is on
for every pandas-kernel boundary.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession

# the directory holding this package: Python workers need it on their
# path to start the daemon module below, wherever the driver started
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Spark names a worker socket ``<dir>/.<uuid4>.sock`` (43 chars past the
# directory) in a ``sun_path`` of 107, and itself rejects a socket
# directory of 61 chars or more (at the first local-data transfer, not
# at start-up), so a longer directory keeps TCP
_SOCKET_DIR_MAX = 60


def worker_socket_conf(sock_dir: str) -> dict:
    """The Python-worker socket settings for ``sock_dir``: Unix-domain
    sockets in that directory, or TCP when the directory is too long to
    hold a socket path.  Over TCP the JVM's read of a task's result
    stalls ~40 ms: a one-task ``mapInArrow`` job measured 84 ms over TCP
    and 43 ms over a Unix socket (4-core box; JVM-only job 31 ms)."""
    if len(sock_dir) > _SOCKET_DIR_MAX:
        return {"spark.python.unix.domain.socket.enabled": "false"}
    return {
        "spark.python.unix.domain.socket.enabled": "true",
        "spark.python.unix.domain.socket.dir": sock_dir,
    }


def get_spark(
    app_name: str = "vectordb_retrieval_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Defaults: ``local[$SPARK_GRAFT_CPUS]`` (falls back to ``local[*]``),
    shuffle partitions ~= cores (not the 200 default, which
    over-parallelizes local runs), AQE + skew-join handling enabled so
    the same plans re-optimize at cluster scale.  Python workers start
    from :mod:`vectordb_retrieval_spark.pyworker`, which stops each task
    re-reading Spark's zip archives, and talk to the JVM over Unix-domain
    sockets in ``tempfile.gettempdir()`` (so ``TMPDIR`` decides where the
    socket files live; a directory too long for a socket path keeps TCP,
    see ``worker_socket_conf``).  ``extra_conf`` overrides any of these —
    e.g. ``spark.python.daemon.module`` back to ``pyspark.daemon`` — and
    a ``spark.executorEnv.PYTHONPATH`` it gives is kept after this
    package's directory.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus else 32

    # one BLAS thread per python worker: every task already owns one
    # core, so letting each worker's OpenBLAS/MKL spawn n_cores threads
    # oversubscribes cores² ways (measured ~5× slowdown on the GEMM
    # kernels with 32 concurrent workers).  Set BEFORE the JVM launches
    # so the python-worker daemon inherits it; setdefault keeps user
    # overrides.  On a real cluster executors get the same via
    # spark.executorEnv.
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # ORDER BY hash LIMIT n (the bounded k-means train sample) must
        # plan as TakeOrdered (per-partition top-n + driver merge, one
        # scan), not the full-sort fallback Spark switches to past 10k
        # rows.  2^21 covers every sample with dim >= 64 under the
        # LLOYD_COLLECT gate (2^27 cells / 64); lower-dim high-nlist
        # builds past 2^21 sampled rows fall back to the full-sort plan
        # — a perf difference only, results unchanged (advisor r12).
        .config("spark.sql.execution.topKSortFallbackThreshold", str(1 << 21))
        .config("spark.ui.enabled", "false")
        # testdata events.parquet carries TIMESTAMP(NANOS) which Spark
        # rejects by default; read as long nanos and convert at use sites.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
        .config("spark.python.daemon.module", "vectordb_retrieval_spark.pyworker")
    )
    extra_conf = {**worker_socket_conf(tempfile.gettempdir()), **(extra_conf or {})}
    worker_path = [_PACKAGE_PARENT, extra_conf.pop("spark.executorEnv.PYTHONPATH", "")]
    builder = builder.config("spark.executorEnv.PYTHONPATH", os.pathsep.join(filter(None, worker_path)))
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
