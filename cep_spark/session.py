"""SparkSession factory with scale-oriented defaults.

local[*] here; on a real cluster the same confs apply (AQE, skew join,
Arrow batching).  Nothing in the engine assumes local mode.

Python workers start from ``cep_spark._pydaemon`` (see its docstring),
which removes a fixed ~0.3 s from every Python task.  The executors need
``cep_spark`` importable for that: ``spark.executorEnv.PYTHONPATH``
carries the directory that holds the package.  Where executors cannot
import it, pass ``extra_conf={"spark.python.daemon.module":
"pyspark.daemon"}``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

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
}


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
