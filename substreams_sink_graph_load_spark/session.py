"""SparkSession factory tuned for this engine.

Local testing runs on ``local[N]``; the config choices below are the ones
that matter at cluster scale too (AQE, adaptive skew handling, broadcast
threshold, Arrow for the pandas-UDF paths).
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.errors import SparkRuntimeException
from pyspark.sql import SparkSession

# A JVM that lives for minutes earns back its C2 compiles: a long-lived
# caller passes this as ``spark.driver.extraJavaOptions``.
KEEP_C2 = "-XX:TieredStopAtLevel=4"


@contextmanager
def user_errors() -> Iterator[None]:
    """Re-raise a job failed by a ``raise_error`` check as a ``ValueError``
    with just its message: the fatal input the CLI reports in one line."""
    try:
        yield
    except SparkRuntimeException as e:
        if e.getCondition() != "USER_RAISED_EXCEPTION":
            raise
        raise ValueError(e.getMessageParameters()["errorMessage"]) from e


_SHIPPED: set[int] = set()


def ship_package(spark: SparkSession) -> None:
    """Make this package importable on Spark Python workers regardless of
    the caller's cwd.

    Pandas-UDF closures are cloudpickled by name; the worker re-imports
    the package to unpickle them.  A driver that merely sys.path-inserted
    the repo leaves workers blind to it, so ship a zip via ``addPyFile``
    once per SparkContext.  Library users get this automatically through
    ``get_spark``; callers who built their own session can call it
    directly.
    """
    key = id(spark.sparkContext)
    if key in _SHIPPED:
        return
    import zipfile

    pkg = os.path.dirname(os.path.abspath(__file__))
    zip_path = os.path.join(
        spark.sparkContext._temp_dir, "substreams_sink_graph_load_spark.zip"
    )
    if not os.path.exists(zip_path):
        with zipfile.ZipFile(zip_path, "w") as zf:
            for root, _dirs, files in os.walk(pkg):
                for fn in files:
                    if fn.endswith(".py"):
                        full = os.path.join(root, fn)
                        zf.write(
                            full,
                            os.path.relpath(full, os.path.dirname(pkg)),
                        )
    spark.sparkContext.addPyFile(zip_path)
    _SHIPPED.add(key)


def get_spark(
    app_name: str = "substreams-sink-graph-load-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    Defaults are chosen for correctness + scale:
    - AQE on: runtime coalescing of shuffle partitions, skew-join splitting.
    - Arrow on: every pandas UDF / mapInPandas path transfers via Arrow.
    - UTC session timezone: deterministic timestamp semantics across engines
      (the DuckDB oracle is timezone-naive).
    - C1 only (``-XX:TieredStopAtLevel=1`` as the driver's default Java
      option): each CLI command starts a JVM that lives well under a
      minute, and its C2 compiles mostly do not pay back before it exits.
      In local mode the driver JVM also runs the tasks.  Spark puts a
      caller's ``spark.driver.extraJavaOptions`` after this default, so a
      long-lived caller keeps C2 by passing :data:`KEEP_C2` there
      (``bench.py``, ``scripts/oracle_check.py`` and the test suite do).
      When PySpark launches the JVM, this setting replaces any
      ``spark.driver.defaultJavaOptions`` in ``spark-defaults.conf``;
      pass such options in ``extra_conf``'s
      ``spark.driver.extraJavaOptions`` instead.  Under ``spark-submit``
      the driver JVM is already running and the setting has no effect.
    """
    # default: the cores this process may run on (its CPU affinity)
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", cpus))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.defaultJavaOptions", "-XX:TieredStopAtLevel=1")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    ship_package(spark)
    return spark
