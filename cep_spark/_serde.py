"""Executor shippability.

Closures shipped to Python workers refer to engine functions and
classes.  When the session's executors can import ``cep_spark`` (a
``get_spark`` session puts the directory that holds the package on
``spark.executorEnv.PYTHONPATH``), cloudpickle pickles those by
reference and the worker imports the package once.  Otherwise (a plain
``SparkSession`` in a notebook, tests run from any cwd without
``--py-files``) the engine modules are registered for *by-value*
pickling, so the closures are self-contained.  By value costs the
driver ~30 ms per ``mapInPandas`` / ``applyInPandas(WithState)`` build
and the worker a median 13 ms per task to unpickle the code (timing
``pyspark.worker.read_command`` on ``cep_kleene_unbounded`` /
``cep_kleene_and_group``, sf0.01, local[2], 4-CPU host: quartiles
8.5-16 ms over 30 tasks on reused workers, about a fifth of such a
task's 57 ms in the worker).
"""

from __future__ import annotations

import os

_by_value = False


def _modules():
    import cep_spark

    from . import batch, compiler, conditions, merge, pattern, skew, stream
    from .pipeline import multimodal

    return (cep_spark, conditions, pattern, compiler, batch, merge, skew, stream,
            multimodal)


def ensure_shippable(spark) -> None:
    """Pickle the engine modules by value unless ``spark``'s executors
    import ``cep_spark`` from its ``spark.executorEnv.PYTHONPATH``."""
    global _by_value
    try:
        from pyspark import cloudpickle  # vendored in pyspark
    except ImportError:  # pragma: no cover
        import cloudpickle  # type: ignore
    from .session import _PKG_ROOT

    path = spark.conf.get("spark.executorEnv.PYTHONPATH", None) or ""
    want = _PKG_ROOT not in path.split(os.pathsep)
    if want == _by_value:
        return
    for m in _modules():
        if want:
            cloudpickle.register_pickle_by_value(m)
        else:
            cloudpickle.unregister_pickle_by_value(m)
    _by_value = want
