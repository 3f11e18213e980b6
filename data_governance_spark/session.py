"""SparkSession factory tuned for this engine.

Local testing runs on ``local[N]`` but every config here is chosen to
also make sense on a large cluster: AQE for runtime re-planning and
skew-join handling, Arrow for the (rare) Pandas-UDF paths, UTC session
time so timestamp semantics are deployment-independent.
"""

from __future__ import annotations

import os

# Pin BLAS libraries to ONE thread per process, for the driver's JVM
# children and every forked Python worker (they inherit this env via
# the JVM -> pyspark.daemon chain, and numpy reads it at import, which
# happens post-fork). Spark already owns the parallelism — N concurrent
# worker processes per host — so per-process BLAS thread pools only
# oversubscribe the cores, and OpenBLAS's threaded path is catastrophic
# on the small matmuls the ANN/PQ operators do per Arrow batch
# (measured, r15: the 8 LUT matmuls of pq_knn/ivfadc_knn take 45 ms
# under OPENBLAS_NUM_THREADS=1 across 32 concurrent workers vs 11.8 s
# with the default threading — a 260x difference; even ONE solo process
# pays 2.3 s on the threaded path). Same rule a cluster deployment
# would apply via spark.executorEnv below. setdefault: an operator that
# genuinely wants threaded BLAS can still export its own value first.
for _v in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ.setdefault(_v, "1")

from pyspark.sql import SparkSession  # noqa: E402

DEFAULT_SHUFFLE_PARTITIONS = 32


def df_debug_conf(value: str | None) -> str:
    """``SPARK_GRAFT_DF_DEBUG`` -> the DataFrame-debugging conf value:
    "true" for 1/true/yes (any case, surrounding blanks ignored), else
    "false"."""
    return "true" if (value or "").strip().lower() in ("1", "true", "yes") else "false"


def get_spark(
    app_name: str = "data_governance_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the SparkSession.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (driver harness
    contract); on a real cluster the master/resource settings come from
    spark-submit and these local settings are ignored.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
        )
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # The PySpark-4 DataFrame-debugging origin capture wraps EVERY
        # Column/DataFrame method with ~4 py4j round trips (getActiveSession,
        # conf.get, PySparkCurrentOrigin.set/clear) plus a Python stack walk —
        # measured 50% of q36's plan-construction round trips (23.4k -> 11.9k).
        # It only enriches error messages with user call sites; plans, results
        # and executor behavior are untouched. To debug with it, it must be
        # "true" BEFORE the process's first DataFrame/Column op: PySpark
        # caches the flag process-wide on first use (_enable_debugging_cache
        # in pyspark/errors/utils.py), and builder.config is ignored when
        # getOrCreate returns an existing session — flipping it later (e.g.
        # via extra_conf on a second get_spark call) silently does nothing.
        # Set env SPARK_GRAFT_DF_DEBUG=1 (or true/yes) for that (read
        # here, early), don't edit this literal mid-process. (ADVICE r14)
        .config(
            "spark.python.sql.dataFrameDebugging.enabled",
            df_debug_conf(os.environ.get("SPARK_GRAFT_DF_DEBUG")),
        )
        # Cluster twin of the process-env pin above: executors must
        # hand their Python workers single-threaded BLAS too (local
        # mode inherits the driver env; a real deployment needs these)
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
