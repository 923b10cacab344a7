"""SparkSession factory with scale-oriented defaults.

local[*] here; on a real cluster the same confs apply (AQE, skew join,
Arrow batching).  Nothing in the engine assumes local mode.

Python workers start from ``cep_spark._pydaemon`` (see its docstring),
which removes a fixed ~0.3 s from every Python task.  The executors need
``cep_spark`` importable for that: ``spark.executorEnv.PYTHONPATH``
carries the directory that holds the package.  Where executors cannot
import it, pass ``extra_conf={"spark.python.daemon.module":
"pyspark.daemon"}``.

PySpark's per-call call-site capture is off
(``spark.python.sql.dataFrameDebugging.enabled=false``): with it on,
every DataFrame and Column call also reads the active session and a
conf, sets and clears a JVM-side origin over Py4J and walks the Python
stack, which about triples the driver-side round trips of building a
query.  Errors then lack PySpark's Python call-site block; pass
``extra_conf={"spark.python.sql.dataFrameDebugging.enabled": "true"}``
to get it back.

``read_parquet`` reads a parquet table with its schema inferred once
per Spark application: a table path's schema is fixed for the life of
an application (``cep_spark.pipeline.release_caches()`` forgets the
memoized schemas).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

# the directory that holds the cep_spark package, for the daemon's import
_PKG_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

DEFAULTS = {
    # let AQE re-plan shuffles at runtime (coalesce + skew-join splitting)
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow everywhere the Python boundary is crossed
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # timestamps: engine semantics are tz-naive event time
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.shuffle.partitions": "32",
    # quiet progress bars in tests
    "spark.ui.showConsoleProgress": "false",
    "spark.ui.enabled": "false",
    # worker daemon with a stat-keyed zipimport directory cache
    "spark.python.daemon.module": "cep_spark._pydaemon",
    "spark.executorEnv.PYTHONPATH": _PKG_ROOT,
    # no per-call Python call-site capture (a Py4J set + clear per call)
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}

# (application id, path) -> StructType inferred by the first read; two
# concurrent first reads both infer, which is harmless
_SCHEMAS: dict = {}


def get_spark(
    master: str | None = None,
    app_name: str = "cep-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
    driver_memory: str | None = None,
) -> SparkSession:
    """``driver_memory`` only takes effect for a fresh JVM (local mode
    runs everything in the driver; the 1g default is far too small for
    multi-million-row sorts — size it like cluster executor memory)."""
    master = master or os.environ.get("CEP_SPARK_MASTER", "local[*]")
    b = SparkSession.builder.master(master).appName(app_name)
    conf = dict(DEFAULTS)
    if driver_memory or os.environ.get("CEP_DRIVER_MEM"):
        conf["spark.driver.memory"] = driver_memory or os.environ["CEP_DRIVER_MEM"]
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
        if "spark.executorEnv.PYTHONPATH" in extra_conf:  # keep the daemon importable
            conf["spark.executorEnv.PYTHONPATH"] = os.pathsep.join(
                [extra_conf["spark.executorEnv.PYTHONPATH"], _PKG_ROOT])
    for k, v in conf.items():
        b = b.config(k, v)
    return b.getOrCreate()


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the schema inferred once per
    Spark application and given to every later read.  Inference runs a
    Spark job on each call (sf0.1 events, local[2], 4-CPU host: a median
    228 ms against 59 ms with the schema given); the file listing stays
    per call, so files added under ``path`` are read."""
    key = (spark.sparkContext.applicationId, path)
    schema = _SCHEMAS.get(key)
    if schema is None:
        df = spark.read.parquet(path)
        _SCHEMAS[key] = df.schema
        return df
    return spark.read.schema(schema).parquet(path)


def forget_schemas() -> int:
    """Drop every memoized ``read_parquet`` schema; returns the count."""
    n = len(_SCHEMAS)
    _SCHEMAS.clear()
    return n
