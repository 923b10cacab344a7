"""Engine facade — the reference's `CEP(eval_mechanism, patterns,
events)` surface (reference `CEP.py`, SURVEY.md §2.3 E1/E7) on Spark
idioms: construct once with one or more patterns, then run over batch
DataFrames or streaming sources.

    eng = CepEngine(pat)                  # or CepEngine(p1, p2, ...)
    eng.run_batch(df)                     # flat rows (single pattern)
    eng.run_batch(df, mode="array")       # array rows (+pattern_id)
    eng.run_stream(stream_df, "10 minutes")
    eng.explain(df)                       # physical plan of the batch lowering
"""

from __future__ import annotations

from .batch import run_batch, run_batch_multi
from .compiler import compile_pattern
from .join_planner import oracle_sql_for, plan_join
from .pattern import Pattern
from .stream import stream_matches, stream_matches_multi

__all__ = ["CepEngine"]


class CepEngine:
    def __init__(self, *patterns: Pattern):
        if not patterns:
            raise ValueError("CepEngine needs at least one pattern")
        self.patterns = patterns
        self.compiled = [compile_pattern(p) for p in patterns]

    @property
    def _single(self):
        return self.compiled[0] if len(self.compiled) == 1 else None

    _DEFAULT_EMIT = ("turn_idx", "role", "tool", "ts")

    def run_batch(self, df, mode: str | None = None, emit_cols=_DEFAULT_EMIT,
                  max_partials_per_state: int | None = None):
        """NFA execution over a batch DataFrame.  mode=None auto-picks:
        flat for a single pattern, array (pattern_id column) for multi.
        Explicitly asking a multi-pattern engine for mode='flat' is an
        error, as is customizing emit_cols on the flat path (the flat
        schema is fixed) — no silent schema surprises.

        ``max_partials_per_state``: opt-in hot-key state guard (bound
        per-key per-NFA-state partial tables, drop oldest, counted on
        the result's ``guard_drops`` accumulator — batch.run_batch).

        A multi-pattern engine runs run_batch_multi: patterns sharing
        automaton states run as one prefix-shared automaton
        (merge.plan_units)."""
        if mode is None:
            mode = "flat" if self._single is not None else "array"
        if mode not in ("flat", "array"):
            raise ValueError(f"mode must be 'flat' or 'array', got {mode!r}")
        if mode == "flat":
            if self._single is None:
                raise ValueError(
                    "mode='flat' is only valid for single-pattern engines; "
                    "multi-pattern output carries a pattern_id column — use "
                    "mode='array'"
                )
            if tuple(emit_cols) != self._DEFAULT_EMIT:
                raise ValueError(
                    "emit_cols has no effect on the flat path (fixed schema); "
                    "use mode='array' to select emitted columns"
                )
            return run_batch(df, self._single, mode="flat",
                             max_partials_per_state=max_partials_per_state)
        if self._single is not None:
            return run_batch(df, self._single, mode="array", emit_cols=emit_cols,
                             max_partials_per_state=max_partials_per_state)
        return run_batch_multi(df, self.compiled, emit_cols=emit_cols,
                               max_partials_per_state=max_partials_per_state)

    def run_join(self, df, kleene_arities: int | None = None):
        """Catalyst self-join lowering (single fixed-arity pattern)."""
        if self._single is None:
            raise ValueError("run_join supports a single pattern; use run_batch")
        return plan_join(df, self._single, kleene_arities)

    def run_stream(self, stream_df, watermark: str, mode: str | None = None,
                   emit_cols=_DEFAULT_EMIT,
                   max_partials_per_state: int | None = None):
        """Stateful streaming execution (watermark-sealed emission).
        mode=None auto-picks like run_batch.  A single-pattern engine
        runs stream_matches (the one-pattern case of the multi-pattern
        state function), a multi-pattern engine stream_matches_multi
        over the same execution units as run_batch.
        ``max_partials_per_state`` is the opt-in hot-key state guard."""
        if mode is None:
            mode = "flat" if self._single is not None else "array"
        if mode == "flat" and self._single is None:
            raise ValueError(
                "mode='flat' is only valid for single-pattern engines; "
                "multi-pattern output carries a pattern_id column"
            )
        if self._single is not None:
            return stream_matches(stream_df, self._single, watermark, mode=mode,
                                  emit_cols=emit_cols,
                                  max_partials_per_state=max_partials_per_state)
        return stream_matches_multi(stream_df, self.compiled, watermark,
                                    emit_cols=emit_cols,
                                    max_partials_per_state=max_partials_per_state)

    def oracle_sql(self, table: str, kleene_arities: int | None = None) -> list[str]:
        """Equivalent ANSI SQL per pattern (DuckDB-compatible)."""
        return [oracle_sql_for(cp, table, kleene_arities) for cp in self.compiled]

    def explain(self, df) -> str:
        return self.run_batch(df)._jdf.queryExecution().toString()
