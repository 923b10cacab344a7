"""Executor shippability.

On a real cluster the package ships via ``spark-submit --py-files
cep_spark.zip`` (see bench.py / BENCH notes).  For library ergonomics
(driver-side `pip`-less use, notebooks, tests run from any cwd) we also
register the engine modules for *by-value* cloudpickle serialization, so
closures shipped to Python workers are self-contained even when the
package is not importable on the worker path.  The cost is paid on
the worker, once per task, when it unpickles the command: timing
``pyspark.worker.read_command`` on the NFA entries
``cep_kleene_unbounded`` / ``cep_kleene_and_group`` (sf0.01, local[2],
4-CPU host, ``cep_spark._pydaemon`` workers) gave a median of 13 ms per
task on a reused worker (quartiles 8.5-16 ms, max 23 ms, 30 tasks),
about a fifth of such a task's 57 ms in the worker, and 0.6-0.7 s on a
worker's first task, which also imports NumPy, pandas and PyArrow.
"""

from __future__ import annotations

_done = False


def ensure_shippable() -> None:
    global _done
    if _done:
        return
    try:
        from pyspark import cloudpickle  # vendored in pyspark
    except ImportError:  # pragma: no cover
        import cloudpickle  # type: ignore
    import cep_spark
    from . import batch, compiler, conditions, merge, pattern, skew, stream
    from .pipeline import multimodal

    for m in (cep_spark, conditions, pattern, compiler, batch, merge, skew,
              stream, multimodal):
        try:
            cloudpickle.register_pickle_by_value(m)
        except Exception:  # pragma: no cover - old cloudpickle
            pass
    _done = True
