"""Hot-key (skewed conversation) handling for the batch NFA path.

SURVEY.md §7.4 item 2: NFA evaluation is order-dependent per key, so
classic value-salting cannot split one key's *state*.  What CAN be
split is TIME, because the pattern window bounds every match span:

    slice width = window W
    event with ts in [kW, (k+1)W)  ->  groups (key, k) and (key, k-1)
    group (key, k) holds events with ts in [kW, (k+2)W)
    a match whose FIRST event is in [kW, (k+1)W) spans < W
        => fully contained in group (key, k)
    emit a match from group k iff first_ts in [kW, (k+1)W)

Each match is found in exactly one group: exact all-matches semantics,
2x event duplication, and a hot conversation now parallelizes across
ceil(span/W) tasks instead of serializing on one core.  This is the
batch-mode answer to "salted repartitioning" — the shuffle key becomes
(conv_id, time_slice), which is exactly a salt whose correctness is
carried by the window bound.

`run_batch_auto` picks the sliced path for keys above a hotness
threshold and the plain path for the rest, unioning the results —
the common case pays no duplication.
"""

from __future__ import annotations

from datetime import timedelta

import numpy as np

from .compiler import CompiledPattern

__all__ = [
    "run_batch_sliced",
    "run_batch_auto",
    "run_batch_multi_sliced",
    "run_batch_multi_auto",
]


def _slice_expr(ts_col: str, w_us: int):
    """floor(epoch_us / w_us) in exact integer arithmetic.

    unix_timestamp() truncates to whole seconds, which mis-buckets events
    when the window is not a whole number of seconds (timedelta carries
    ms/us); unix_micros keeps full precision and timedelta resolution IS
    microseconds, so this is exact.  pmod-based floordiv keeps floor
    semantics for any sign; (m - pmod) / w is an exact double division
    because both operands and the integer quotient fit in 53 bits."""
    from pyspark.sql import functions as F

    # cast handles TIMESTAMP_NTZ parquet columns; the session timezone is
    # pinned to UTC (session.py), so the cast is shift-free and the slice
    # agrees with the naive pandas-side ns bounds in gen()
    m = F.unix_micros(F.col(ts_col).cast("timestamp"))
    return ((m - F.pmod(m, F.lit(w_us))) / F.lit(w_us)).cast("long")


def run_batch_sliced(df, cp: CompiledPattern):
    """Window-sliced NFA execution of one pattern, flat output: the
    one-pattern case of ``run_batch_multi_sliced``."""
    return _run_sliced(df, [cp], (), mode="flat")


def run_batch_multi_sliced(df, cps, emit_cols=("turn_idx", "role", "tool", "ts")):
    """Window-sliced MULTI-pattern execution: a hot conversation running
    N rules parallelizes across ceil(span/W) tasks AND runs the
    family's execution units (merge.plan_units — prefix-shared
    automata where patterns share states) per slice: the composition
    of the two hot-key answers.  Windows may differ: the slice width is
    the MAX window (every pattern's match span fits in one slice + its
    predecessor replica), and per-tag span re-checks at accept keep
    each pattern exact (merge.py).  Output is the array schema with
    ``pattern_id``, identical to run_batch_multi."""
    return _run_sliced(df, cps, emit_cols, mode="array")


def _run_sliced(df, cps, emit_cols, mode):
    """The sliced executor over ``merge.plan_units(cps)``.
    ``mode='flat'`` (one pattern) builds run_batch's flat rows and
    reads no emit columns; ``'array'`` builds array rows."""
    from pyspark.sql import functions as F

    from ._serde import ensure_shippable
    from .batch import (
        _ColStore,
        advance_groups,
        cpu_parallelism,
        group_bounds,
        match_schema_array,
        match_schema_flat,
        prefilter_multi,
        unary_masks,
        unit_matches,
        unit_rows,
    )
    from .merge import plan_units

    units = plan_units(cps)  # validates the family before any df use
    if any(cp.pattern.window is None for cp in cps):
        raise ValueError(
            "run_batch_multi_sliced requires a window on every pattern "
            "(the max window is the slice width)"
        )
    ensure_shippable(df.sparkSession)
    pat = cps[0].pattern
    # slice width = the shared horizon (max window)
    w_us = max(cp.pattern.window for cp in cps) // timedelta(microseconds=1)
    w_ns = w_us * 1000
    key_type = df.schema[pat.key].dataType
    if mode == "flat":
        schema = match_schema_flat(cps[0], key_type)
    else:
        schema = match_schema_array(pat, emit_cols, key_type)
    base = prefilter_multi(df, cps, extra_cols=emit_cols)

    own = _slice_expr(pat.ts_col, w_us)
    # group k normally holds events in [kW, (k+2)W): every match whose
    # first event lies in [kW, (k+1)W) is contained (span <= W), and so
    # are gap/span/trailing negation candidates.  LEADING negation looks
    # BACK up to W before the first event — into [(k-1)W, kW) — so those
    # patterns replicate events into a third group (own+1): 3x
    # duplication instead of 2x, still exact.
    has_leading = any(
        n.kind == "leading"
        for cp in cps for alt in cp.alternatives for n in alt.negs
    )
    replicas = [own, own - 1] + ([own + 1] if has_leading else [])
    sliced = base.withColumn("__slice", F.explode(F.array(*replicas)))

    ts_col, tb_col, key_col = pat.ts_col, pat.tiebreak_col, pat.key
    out_cols = schema.fieldNames()

    # partition-amortized execution (mirrors batch._run_batch_multi_
    # partition): repartition on (key, slice), sort within partitions,
    # then ONE mapInPandas pass per partition — unary masks evaluate
    # once over the whole partition and every (key, slice) group is a
    # numpy slice of it.  The pinned repartition also keeps AQE's
    # byte-based coalescing from collapsing the CPU-bound matcher stage
    # (the whole point of slicing is parallelism; batch.cpu_parallelism).
    sliced = sliced.repartition(
        cpu_parallelism(df), key_col, "__slice"
    ).sortWithinPartitions(key_col, "__slice", ts_col, tb_col)

    def gen(batches):
        import pandas as pd

        chunks = list(batches)
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True) if len(chunks) > 1 else chunks[0]
        n = len(pdf)
        if n == 0:
            return
        cols_all = {c: pdf[c].to_numpy() for c in pdf.columns}
        keys = cols_all[key_col]
        slices = cols_all["__slice"]
        bounds = group_bounds(keys, slices)
        ts_all = cols_all[ts_col].astype("datetime64[ns]").astype(np.int64)
        store = _ColStore.from_cols(cols_all)
        shared = {}
        rows = []
        for ucp, idxs in units:
            res, grp, _ = advance_groups(
                ucp, store, ts_all, unary_masks(ucp, cols_all, n, cache=shared),
                bounds,
            )
            # a (key, slice) group owns the matches whose first event
            # lies in its slice [k*W, (k+1)*W)
            first = np.fromiter(
                (min(pos for p in b.values()
                     for pos in (p if isinstance(p, tuple) else (p,)))
                 for _, b in res),
                dtype=np.int64, count=len(res),
            )
            lo = slices[bounds[grp]].astype(np.int64) * w_ns
            own = np.nonzero((ts_all[first] >= lo) & (ts_all[first] < lo + w_ns))[0]
            kept = unit_matches(ucp, [res[k] for k in own])
            rows.extend(unit_rows([cps[i] for i in idxs], kept,
                                  keys[bounds[grp[own]]], mode, emit_cols, cols_all))
        if rows:
            yield pd.DataFrame(rows, columns=out_cols)

    return sliced.mapInPandas(gen, schema=schema)


def hot_keys(df, cps, threshold: int):
    """Keys whose (pattern-relevant) event count exceeds `threshold`, as
    a one-column DataFrame — never collected to the driver, so a skewed
    tail with many hot keys cannot blow up driver memory; callers route
    with a broadcast semi/anti join."""
    from pyspark.sql import functions as F

    from .batch import prefilter_multi

    key = cps[0].pattern.key
    return (
        prefilter_multi(df, cps)
        .filter(F.col(key).isNotNull())
        .groupBy(key)
        .count()
        .filter(F.col("count") > threshold)
        .select(key)
    )


def run_batch_auto(df, cp: CompiledPattern, hot_threshold: int = 100_000):
    """Plain per-key NFA for normal keys; window-sliced for hot keys
    (flat output): the one-pattern case of ``run_batch_multi_auto``."""
    return _run_auto(df, [cp], (), hot_threshold, mode="flat")


def run_batch_multi_auto(df, cps, emit_cols=("turn_idx", "role", "tool", "ts"),
                         hot_threshold: int = 100_000):
    """Normal keys run ``run_batch_multi``; keys whose
    pattern-relevant event count exceeds ``hot_threshold`` run
    window-sliced (``run_batch_multi_sliced``).  Both run the same
    execution units (merge.plan_units); the sliced path needs a window
    on every pattern (the slice width is the max window)."""
    return _run_auto(df, cps, emit_cols, hot_threshold, mode="array")


def _run_auto(df, cps, emit_cols, hot_threshold, mode):
    """Hot/cold routing is a broadcast semi/anti join against the hot-key
    aggregate (no collect + isin literals).  Null-key rows never match
    the semi join and always survive the anti join, so they flow down
    the plain path — identical grouping to ``run_batch``."""
    from pyspark.sql import functions as F

    from .batch import run_batch, run_batch_multi

    def plain(d):
        if mode == "flat":
            return run_batch(d, cps[0], mode="flat")
        return run_batch_multi(d, cps, emit_cols=emit_cols)

    pat = cps[0].pattern
    if pat.window is None:
        return plain(df)
    # localCheckpoint (not cache): the aggregate feeds isEmpty + two
    # broadcast joins — one scan, not three, the checkpointed side is
    # tiny (only keys above threshold), and its blocks are released by
    # the ContextCleaner once the plan is unreferenced instead of
    # leaking a session-lifetime cache entry per invocation.
    hot = hot_keys(df, cps, hot_threshold).localCheckpoint()
    if hot.isEmpty():
        return plain(df)
    cold_df = df.join(F.broadcast(hot), on=pat.key, how="left_anti")
    hot_df = df.join(F.broadcast(hot), on=pat.key, how="left_semi")
    return plain(cold_df).unionByName(
        _run_sliced(hot_df, cps, emit_cols, mode)
    )
