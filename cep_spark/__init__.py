"""cep_spark — a PySpark-native complex-event-processing engine.

Brand-new implementation of the query capabilities of yuvadius/CEP
(SASE-style SEQ / AND / OR / Kleene / negation patterns with predicate
conditions over a time window), re-expressed Spark-first:

* batch:     partition-amortized mapInPandas NFA (default), per-key
             applyInPandas, or pure-DataFrame self-joins (join_planner)
* streaming: applyInPandasWithState NFA with event-time watermarks,
             watermark-sealed exactly-once emission (stream / sink)
* windows:   tumbling / sliding / session (windows)
* skew:      window-sliced hot-key decomposition (skew)
* plus large-scale pipeline operators: dedup (exact / fingerprint /
  n-gram Jaccard / MinHash-LSH / SimHash), kNN + hyperplane-LSH
  similarity, text stats, multimodal binary plumbing (pipeline)

See SURVEY.md for the blueprint and semantics pinning.

The exports below load on first use (PEP 562), so importing a light
submodule — the Python worker daemon ``cep_spark._pydaemon`` — does not
pull in NumPy, pandas or PyArrow.
"""

from importlib import import_module

_EXPORTS = {
    "PushStream": "sources",
    "attr": "conditions",
    "lit": "conditions",
    "TRUE": "conditions",
    "And_": "pattern",
    "Ev": "pattern",
    "Kleene": "pattern",
    "Neg": "pattern",
    "Or_": "pattern",
    "Pattern": "pattern",
    "Seq": "pattern",
    "compile_pattern": "compiler",
    "run_batch": "batch",
    "CepEngine": "engine",
}

__all__ = list(_EXPORTS)


def __getattr__(name):
    mod = _EXPORTS.get(name)
    if mod is None:
        raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
    value = getattr(import_module(f".{mod}", __name__), name)
    globals()[name] = value
    return value
