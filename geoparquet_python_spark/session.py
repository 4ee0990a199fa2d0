"""SparkSession construction for local testing.

At 100 TB on a real cluster these settings come from spark-submit /
cluster defaults; everything here is also safe to apply at runtime via
``spark.conf.set`` on a session handed to us (see :func:`prepare`).
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import SparkSession

# Runtime-settable confs applied to ANY session (including the driver's):
# deterministic-oracle requirements + sane local-mode shuffle sizing.
_RUNTIME_CONF = {
    # DuckDB timestamps are UTC-naive; Spark TIMESTAMP is session-TZ —
    # pin UTC so collected values agree with the oracle bit-for-bit.
    "spark.sql.session.timeZone": "UTC",
    # AQE: runtime partition coalescing + skew-join splitting. On by
    # default in 4.x but pin explicitly — the 100 TB plan depends on it.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for pandas UDFs / toPandas (vectorized JVM<->Python hops).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Spark 4 rejects TIMESTAMP(NANOS) parquet (PARQUET_TYPE_ILLEGAL);
    # read nanos as raw int64 and let sources/events.py convert — the
    # only ns-precision table is `events` (TESTDATA.md).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


_PREPARE_LOCK = threading.Lock()


def prepare(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to an externally-created session (idempotent).

    The verify driver hands us its own SparkSession; every query entry
    point calls this first so correctness does not depend on who built
    the session. The body runs under one module-level lock, so the
    check-then-set of ``spark.sql.shuffle.partitions`` below is atomic
    when build_concurrently legs call load_table from several threads.
    """
    with _PREPARE_LOCK:
        for k, v in _RUNTIME_CONF.items():
            try:
                spark.conf.set(k, v)
            except Exception:
                pass  # non-runtime conf on this build — leave session default
        # Size reducer count to the session's real parallelism when the
        # session is still on the stock 200 default (an explicitly tuned
        # value — ours in get_spark, or a cluster admin's — is respected):
        # 2× cores as the AQE *upper* bound (coalesce shrinks below it at
        # runtime). Proportional, so the same rule holds on a
        # 1000-executor cluster; also sizes streaming state-store
        # partition count, which is NOT AQE-managed and costs a fixed
        # per-partition overhead every microbatch.
        try:
            if spark.conf.get("spark.sql.shuffle.partitions") == "200":
                cores = spark.sparkContext.defaultParallelism
                spark.conf.set(
                    "spark.sql.shuffle.partitions", str(max(2 * cores, 16))
                )
        except Exception:
            pass
    return spark


def get_spark(app_name: str = "geoparquet-python-spark") -> SparkSession:
    """Local session builder used by tests and bench.py.

    local[$SPARK_GRAFT_CPUS] with shuffle partitions ≈ cores: the local
    box has no network shuffle, so partition count only needs to cover
    the cores; on a real cluster you size shuffle.partitions so each
    partition is ~100-200 MB at the target scale (documented knob, see
    SURVEY.md §4.3).

    Python workers fork from ``geoparquet_python_spark._daemon``
    (``spark.python.daemon.module``, a static conf): on Python < 3.12 the
    stock daemon's workers re-read every zip-archive directory on the
    import path before each task, ~120 ms of CPU a task over
    ``pyspark.zip``; this one re-reads an archive only when it changed.
    ``spark.executorEnv.PYTHONPATH`` carries the package's parent
    directory so workers can import the daemon from any working
    directory. Sessions built elsewhere (the verify driver's, any handed
    to :func:`prepare`) keep the stock daemon; nothing else depends on it.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    package_root = os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))
    )
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Djava.net.preferIPv4Stack=true")
        .config("spark.python.daemon.module", "geoparquet_python_spark._daemon")
        .config("spark.executorEnv.PYTHONPATH", package_root)
    )
    for k, v in _RUNTIME_CONF.items():
        builder = builder.config(k, v)
    return prepare(builder.getOrCreate())
