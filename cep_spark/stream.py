"""Structured-Streaming execution of compiled patterns.

flatMapGroupsWithState-style stateful processing (SURVEY.md §3.4, M3;
replaces the reference's push-loop over an in-memory queue — reference
`CEP.py` run loop, SURVEY.md §3.1):

    events readStream
      .filter(union of unary conditions)        <- Catalyst pushdown
      .withWatermark(ts, delay)
      .groupBy(key)
      .applyInPandasWithState(state fn)         <- per-key event buffer and
                                                   partial-match tables in
                                                   the state store; NFA
                                                   advance over newly
                                                   sealed events only;
                                                   watermark-sealed emission

Semantics (the parity contract — BASELINE "same input stream and
watermark"):

* A match is EMITTED in the first micro-batch whose watermark W is >=
  the match's last event-time ("sealed"): no in-order event arriving
  later can create, extend, or (via gap-negation) invalidate a match
  with last.ts <= W, because such events have ts > W.  A match of an
  alternative with a trailing negation seals at first.ts + window
  instead (its look-ahead must close first).
* An arrival whose ts is <= the PREVIOUS emission watermark is LATE and
  dropped (counted in state): admitting it could mint a match that was
  already sealed shut, breaking exactly-once.  Arrivals inside the
  current bracket (prev_wm, W] are admitted even though they are
  behind max(event time) — bounded disorder is handled for free.
* State per key: the sealed buffer (events with ts <= watermark inside
  the retention horizon, the attribute store for partial positions and
  negation candidates), the limbo (events above the watermark, not yet
  matched), the persisted partial-match tables, and parked matches
  (accepted, waiting for a trailing negation's look-ahead to seal).
  Partials that can no longer complete and buffer rows older than
  watermark - window are pruned whenever the state is rebuilt, so with
  a window state is bounded by the key's event rate x window span.
  Unbounded-window patterns keep the full key history (documented
  limit; the reference behaves the same).
* State layout (``fmt`` ``units-v6``): the buffer and
  the limbo are pickled ``{column: ndarray}`` dicts (the ``_ColStore``
  layout; the key column is left out unless a condition or emit column
  reads it), the partial tables and parked matches pickled column
  tables.  pandas appears only at the edges: the input frames are
  turned into column arrays on entry, and each call's matches become
  one output frame.  A call where no limbo row seals, no parked match
  is due and no rematch fallback runs (every data-batch call of an
  in-order stream) decodes and re-encodes only the limbo: buffer,
  partial tables and parked matches are written back as the same
  bytes.  Partial tables, parked matches and the rematch-fallback
  bitmask are kept per execution unit (merge.plan_units); parked
  matches are keyed ``(local pattern idx, alt_id)``.  Checkpoints of
  earlier layouts (Arrow-IPC frames, earlier family fingerprints, or
  the separate per-pattern / shared layouts) are refused.
* Exactly-once: a match seals in exactly one bracket (last_emit_wm, W].
  On failure Spark replays the batch from the checkpoint with the same
  state and the same watermark, reproducing the bracket byte-for-byte;
  the sink (sink.py) is idempotent per batch id.

The matcher is the SAME advance as batch mode (batch.advance_core) —
batch ≡ stream parity is structural.  It runs incrementally: each batch
advances the persisted partial tables over ONLY the events that sealed
in it (a sealed match involves only sealed events), so every event is
matched once, in the batch where it seals.  A key whose partial tables
outgrow 8x its buffer (Kleene-dense input) falls back, per execution
unit, to re-running the matcher (``match_core``) over the retained
buffer each batch.

One state function (``_make_multi_fn``) serves every query over the
execution units of ``merge.plan_units`` — the plan ``run_batch_multi``
runs too: a single-pattern query (``stream_matches`` / ``run_stream``)
is the one-pattern case of ``stream_matches_multi``, with flat rows
when ``mode='flat'``.
"""

from __future__ import annotations

import pickle
from itertools import repeat

import numpy as np
import pandas as pd

from .batch import (
    CompiledPattern,
    _ColStore,
    _Partials,
    _obj_array,
    advance_core,
    flat_columns,
    match_core,
    match_schema_array,
    match_schema_flat,
    prefilter_multi,
    unary_masks,
    unit_matches,
    unit_rows,
)
from .merge import plan_units, retention_ns, window_ns

__all__ = ["run_stream", "stream_matches"]


# --------------------------------------------------------------------------
# event blocks: the sealed buffer and the limbo as {column: ndarray}


def _nrows(cols: dict | None) -> int:
    return len(next(iter(cols.values()))) if cols else 0


def _take(cols: dict, idx) -> dict:
    return {c: a[idx] for c, a in cols.items()}


def _cat(a: dict | None, b: dict | None) -> dict | None:
    if not _nrows(a):
        return b if _nrows(b) else None
    if not _nrows(b):
        return a
    return {c: np.concatenate([a[c], b[c]]) for c in a}


def _ns(ts: np.ndarray) -> np.ndarray:
    """Event time as int64 ns (a view when already datetime64[ns])."""
    return ts.astype("datetime64[ns]", copy=False).view(np.int64)


def _enc_cols(cols: dict | None) -> bytes | None:
    """State-store value of an event block: the pickled column dict."""
    return pickle.dumps(cols, protocol=5) if _nrows(cols) else None


def _dec_cols(raw: bytes | None) -> dict | None:
    return pickle.loads(raw) if raw else None


# --------------------------------------------------------------------------
# partial-table (de)serialization for the incremental executor


def _ser_tables(tables) -> bytes | None:
    """pickle the non-empty per-state partial tables ({alt: {sid: ...}})."""
    plain = {}
    total = 0
    for alt_id, tmap in tables.items():
        sub = {}
        for sid, p in tmap.items():
            if len(p) == 0:
                continue
            sub[sid] = (p.scalar, p.kleene, p.first_pos, p.last_pos, p.first_ts)
            total += len(p)
        if sub:
            plain[alt_id] = sub
    if not total:
        return None
    return pickle.dumps(plain, protocol=5)


def _de_tables(raw: bytes | None) -> dict:
    if not raw:
        return {}
    out = {}
    for alt_id, sub in pickle.loads(raw).items():
        tmap = {}
        for sid, (scalar, kleene, fp, lp, fts) in sub.items():
            # one key per table: every row is group 0
            tmap[sid] = _Partials.of(scalar, kleene, fp, lp, fts,
                                     np.zeros(len(fp), dtype=np.int64))
        out[alt_id] = tmap
    return out


def _tables_rows(tables) -> int:
    return sum(len(p) for tmap in tables.values() for p in tmap.values())


def _prune_tables(tables, min_first_ts_excl: int) -> None:
    """Drop partials that can no longer complete: a future event has
    ts' > wm, so completable partials have first_ts > wm - W."""
    for tmap in tables.values():
        for sid, p in list(tmap.items()):
            if len(p):
                alive = p.first_ts > min_first_ts_excl
                if not alive.all():
                    tmap[sid] = p.select(alive)


def _shift_tables(tables, off: int) -> None:
    """Re-base stored positions after evicting `off` prefix rows of the
    sealed buffer (eviction is always a sorted-order prefix, so the
    shift is uniform)."""
    if off == 0:
        return
    for tmap in tables.values():
        for p in tmap.values():
            if len(p) == 0:
                continue
            for v in p.scalar:
                p.scalar[v] = p.scalar[v] - off
            for v in p.kleene:
                p.kleene[v] = _obj_array(
                    [tuple(x - off for x in t) for t in p.kleene[v]]
                )
            p.first_pos = p.first_pos - off
            p.last_pos = p.last_pos - off


def _trailing_alt_ids(cp: CompiledPattern) -> frozenset:
    """Alternatives carrying a trailing negation: their matches can be
    invalidated by a neg event up to first.ts + window, so they seal at
    that instant instead of the match's last event-time."""
    return frozenset(
        alt.alt_id
        for alt in cp.alternatives
        if any(n.kind == "trailing" for n in alt.negs)
    )


def _seal_ts_ns(binding: dict, ts_ns: np.ndarray, alt_id, trailing_ids, w_ns) -> int:
    """Watermark instant at which a match becomes immutable."""
    first, last = None, -1
    for p in binding.values():
        for pos in p if isinstance(p, tuple) else (p,):
            t = int(ts_ns[pos])
            if t > last:
                last = t
            if first is None or t < first:
                first = t
    if alt_id in trailing_ids:
        return first + w_ns
    return last


def stream_matches(df, cp: CompiledPattern, watermark: str, mode: str = "flat",
                   emit_cols=("turn_idx", "role", "tool", "ts"),
                   max_partials_per_state=None):
    """Attach the stateful NFA to a streaming DataFrame.

    Returns the streaming match DataFrame (append mode); the caller
    attaches the sink (memory sink in tests, exactly-once parquet via
    sink.py in production).  ``mode='flat'`` emits run_batch's flat
    schema; ``'array'`` the array schema with ``emit_cols``.

    Runs as the one-pattern case of ``stream_matches_multi`` on its
    incremental executor (module docstring): persisted partial tables
    advanced over newly-sealed events only, trailing negations handled
    by parking accepted matches until first.ts + window, and a per-key
    rematch fallback when the partial set outgrows the buffer.

    ``max_partials_per_state``: the opt-in hot-key state guard
    (stream_matches_multi docstring); drops are counted on the result's
    ``guard_drops`` accumulator, late arrivals on ``late_dropped``.

    The state store uses the multi-pattern layout (with its ``fmt``
    fingerprint column).  Checkpoints written by the earlier
    single-pattern executors have a different state schema and are
    refused at restart; start a fresh checkpoint (README, "Streaming
    state-schema migration").
    """
    return _stream_query(df, [cp], watermark, emit_cols, mode=mode,
                         cap=max_partials_per_state)


def _binding_of(p: "_Partials", j: int) -> dict:
    """Reconstruct a matcher binding from row j of a partial table.
    An empty kleene tuple means an Or_-branch variable no repetition
    chose (see _park_partials) — the matcher represents that as an
    ABSENT key, and flat emission turns it into NULL columns."""
    b = {v: int(p.scalar[v][j]) for v in p.scalar}
    for v in p.kleene:
        t = p.kleene[v][j]
        if len(t):
            b[v] = tuple(t)
    return b


def _park_partials(alt, bindings, ts_ns) -> "_Partials":
    """Pack accepted (not yet sealed) trailing-neg matches into a
    _Partials table so the parked set reuses the partial-table helpers
    (serialization, eviction shift, _edge_ok re-verification)."""
    kleene_vars = set(alt.kleene_vars)
    svars = [v for v in alt.var_order if v not in kleene_vars]
    kvars = [v for v in alt.var_order if v in kleene_vars]
    p = _Partials(svars, kvars)
    m = len(bindings)
    p.scalar = {
        v: np.fromiter((b[v] for b in bindings), dtype=np.int64, count=m)
        for v in svars
    }
    # b.get: an Or_-branch variable is ABSENT from bindings whose
    # repetitions all chose a sibling branch — park it as the empty
    # tuple (a real kleene bind is never empty; min one repetition),
    # _binding_of reconstructs the absence on unpark
    p.kleene = {v: _obj_array([b.get(v, ()) for b in bindings]) for v in kvars}
    firsts = np.empty(m, dtype=np.int64)
    lasts = np.empty(m, dtype=np.int64)
    for j, b in enumerate(bindings):
        pos = [
            x for vv in b.values()
            for x in (vv if isinstance(vv, tuple) else (vv,))
        ]
        firsts[j] = min(pos)
        lasts[j] = max(pos)
    p.first_pos = firsts
    p.last_pos = lasts
    p.first_ts = ts_ns[firsts]
    p.grp = np.zeros(m, dtype=np.int64)
    return p


def run_stream(
    spark,
    source_dir: str,
    cp: CompiledPattern,
    watermark: str,
    schema=None,
    mode: str = "flat",
    emit_cols=("turn_idx", "role", "tool", "ts"),
    max_files_per_trigger: int | None = 1,
):
    """readStream a parquet directory -> streaming match DataFrame
    (stream_matches).

    The parquet-dir source stands in for the BASELINE's Iceberg stream
    (the Iceberg runtime jar is unavailable offline); the source is
    behind this one call site so Iceberg drops in:
    ``spark.readStream.format("iceberg").load(table)``.
    """
    reader = spark.readStream
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.schema(spark.read.parquet(source_dir).schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    df = reader.parquet(source_dir)
    return stream_matches(df, cp, watermark, mode=mode, emit_cols=emit_cols)


def stream_matches_multi(df, cps, watermark: str,
                         emit_cols=("turn_idx", "role", "tool", "ts"),
                         max_partials_per_state=None):
    """Streaming multi-pattern execution (reference `CEP(patterns=[...])`,
    SURVEY.md §2.3 E7): ONE keyed state stream runs every compiled
    pattern — one watermark, one shuffle, one event buffer per key
    (retention = the LARGEST pattern window).  Output is the array
    schema with ``pattern_id``.

    The family runs as ``merge.plan_units(cps)``, the same execution
    units as ``run_batch_multi``: patterns sharing a non-initial
    automaton state (windows within 16x) run as ONE prefix-shared
    automaton whose shared prefix states live once in the state store
    and advance once per sealed event, with acceptance per pattern tag;
    every other pattern runs its own automaton.  Each unit uses the
    incremental executor (persisted partial tables, advance over
    newly-sealed events; trailing negations handled by PARKING
    accepted matches until their first.ts + window seal) unless its
    partial set outgrew the buffer (per-unit rematch fallback, tracked
    as a state bitmask).  The state's format fingerprint covers the
    plan, so a checkpoint of an edited or reordered family is refused
    loudly.

    ``max_partials_per_state`` (opt-in hot-key guard, default None=exact):
    bound on each unit's persisted partial tables AND on the in-flight
    matcher tables of its rematch fallback — per pattern state for a
    one-pattern unit, per MERGED state otherwise (a shared prefix
    state's table serves every pattern that owns it, so the cap bounds
    their combined partials once).  Oldest partials are dropped
    deterministically, loss-only, warn-logged (batch.advance_core).

    The result carries two accumulators: ``guard_drops`` (partials the
    guard dropped; None when it is off) and ``late_dropped`` (late
    arrivals dropped, module docstring).
    """
    return _stream_query(df, cps, watermark, emit_cols, mode="array",
                         cap=max_partials_per_state)


def _stream_query(df, cps, watermark, emit_cols, mode, cap):
    """The keyed stateful query behind stream_matches (one pattern) and
    stream_matches_multi: watermark, union prefilter, one
    applyInPandasWithState running ``_make_multi_fn`` over
    ``merge.plan_units(cps)``."""
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ._serde import ensure_shippable
    from .batch import _guard_drops_acc

    units = plan_units(cps)  # validates the family before any df use
    ensure_shippable(df.sparkSession)
    p0 = cps[0].pattern
    key_type = df.schema[p0.key].dataType

    # watermarks require TIMESTAMP (tz-aware); the engine's event time is
    # tz-naive — reinterpret under the pinned UTC session timezone
    if isinstance(df.schema[p0.ts_col].dataType, T.TimestampNTZType):
        df = df.withColumn(p0.ts_col, df[p0.ts_col].cast(T.TimestampType()))
    # Watermark semantics: Spark advances the watermark from the rows
    # reaching the EventTimeWatermark node, and Catalyst pushes the
    # deterministic unary prefilter below it — so the effective
    # watermark tracks PATTERN-RELEVANT events (standard Spark
    # behavior).  Parity is stated against that watermark ("same input
    # stream and watermark").
    df = df.withWatermark(p0.ts_col, watermark)
    if mode == "flat":
        out_schema = match_schema_flat(cps[0], key_type)
        emit_cols = ()
    else:
        out_schema = match_schema_array(p0, emit_cols, key_type)
    df = prefilter_multi(df, cps, extra_cols=emit_cols)
    state_schema = T.StructType(
        [
            T.StructField("buf", T.BinaryType()),
            T.StructField("limbo", T.BinaryType()),
            T.StructField("parts", T.BinaryType()),
            T.StructField("parked", T.BinaryType()),  # {ci: parked tables}
            T.StructField("last_emit_wm_ms", T.LongType()),
            T.StructField("late_dropped", T.LongType()),
            T.StructField("fellback", T.LongType()),  # per-unit bitmask
            # format indicator (layout + family fingerprint), written
            # UNCONDITIONALLY on every update and validated on every
            # restore: the fellback bitmask and partial tables are keyed
            # by unit index, and a unit that fell back to rematch
            # persists its bit with NO tables — without this column a
            # restart under another plan would silently reinterpret
            # that state.
            T.StructField("fmt", T.StringType()),
        ]
    )
    acc = _guard_drops_acc(df, cap)
    late_acc = df.sparkSession.sparkContext.accumulator(0)
    fn = _make_multi_fn(cps, emit_cols, mode=mode, cap=cap, units=units,
                        acc=acc, late_acc=late_acc)

    out = df.groupBy(p0.key).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    # dropped-partial count (None when the guard is off) — same contract
    # as run_batch_multi; feed to CepMetricsListener(guard_drops=...)
    out.guard_drops = acc
    # late arrivals dropped (ts <= the key's last emission watermark);
    # like every Spark accumulator it counts a replayed batch again
    out.late_dropped = late_acc
    return out


def _cond_fp(cond):
    """Canonical token for one condition in the family fingerprint.

    Uses the same ``cond.sql()`` faithfulness contract that backs the
    unary-mask cache and merge signatures; conditions with no SQL
    lowering (UserPred) fall back to a structural token — name + arg
    refs — which is deterministic across processes (never ``repr(fn)``,
    whose address changes per run)."""
    try:
        return cond.sql({v: v for v in cond.vars()})
    except NotImplementedError:
        return (
            "nosql",
            type(cond).__name__,
            getattr(cond, "name", ""),
            tuple(sorted(cond.vars())),
            tuple(sorted(cond.cols())),
        )


def _pattern_fp(cp, w_ns):
    """Structural fingerprint of one compiled pattern: slots (with
    group/kleene shape), negation specs, variable order, window.
    Transitions/states derive deterministically from these at compile
    time, so slot structure suffices for identity.  Every shape field
    is a plain entry; frozensets are sorted and conditions go through
    ``_cond_fp``, so the value is stable across processes."""
    pat = cp.pattern
    alts = []
    for alt in cp.alternatives:
        slots = tuple(
            (s.sid, s.var, _cond_fp(s.unary), s.kleene, s.kleene_max,
             tuple(sorted(s.prereq)),
             None if s.adjacent is None else _cond_fp(s.adjacent),
             s.group, s.grp_idx, s.br, s.br_idx, s.br_len, s.mem,
             s.grp_loop)
            for s in alt.slots
        )
        negs = tuple(
            (sp.var, _cond_fp(sp.unary),
             tuple(_cond_fp(c) for c in sp.multi), sp.kind,
             tuple(sorted(sp.post_slots)), sp.per_repeat, sp.repeat_only,
             tuple(sp.pre_vars), tuple(sp.br_guard), sp.mem_gap,
             sp.mem_lead)
            for sp in alt.negs
        )
        alts.append((alt.alt_id, slots, negs, tuple(alt.var_order)))
    return (pat.key, pat.ts_col, pat.tiebreak_col, w_ns, tuple(alts))


def _family_fp(cps, w_ns_of, unit_pats) -> str:
    """12-hex fingerprint of the whole pattern family INCLUDING the
    unit plan and pattern order — persisted state keys partial tables
    by unit index and merged-state sids, so an
    edited or reordered pattern list must refuse a stale checkpoint
    loudly (ADVICE r4) instead of restoring tables against a different
    automaton."""
    import hashlib

    fam = tuple(
        tuple(_pattern_fp(cps[gi], w_ns_of[gi]) for gi in idxs)
        for idxs in unit_pats
    )
    return hashlib.md5(repr(fam).encode()).hexdigest()[:12]


def _make_multi_fn(cps, emit_cols=(), mode="array", force_rematch: bool = False,
                   cap=None, units=None, acc=None, late_acc=None):
    """The per-key state function of every streaming query (module
    docstring), exposed for the fake-GroupState property harness.

    ``units``: the execution units, ``[(unit_cp, global idxs)]``;
    default ``merge.plan_units(cps)``.  Passing an explicit list is the
    A/B seam — e.g. one singleton unit per pattern, the per-pattern
    reference the merged plan is checked against.  Every unit's
    emissions are keyed ``(local pattern idx, alt_id)``
    (``batch.unit_matches``), and so are the per-unit lookup tables
    below (trailing set, alt objects) and the parked matches; parked-match re-verification evaluates the
    ORIGINAL patterns' negation masks (parked bindings carry original
    variable names — the shared predicate-mask cache makes those
    evaluations hits, not re-work).

    ``mode``: ``'array'`` rows (array schema, ``emit_cols``) or
    ``'flat'`` rows (run_batch's flat schema; one pattern only — the
    single-pattern surface).

    ``force_rematch``: every unit re-runs the matcher over the retained
    buffer each batch instead of advancing persisted partial tables —
    the per-key fallback path, forced (the replica sweeps and the
    fellback-state guard test reach it this way).

    ``cap``: per-unit per-NFA-state partial-table bound (advance_core's
    state guard) — see stream_matches_multi.

    ``acc`` / ``late_acc``: accumulators (anything with ``add``) for the
    guard's dropped partials and for dropped late arrivals."""
    from .batch import _edge_ok, _flush_guard_stats
    if mode not in ("flat", "array"):
        raise ValueError(f"mode must be 'flat' or 'array', got {mode!r}")
    if mode == "flat" and len(cps) != 1:
        raise ValueError("flat rows need exactly one pattern")
    if units is None:
        units = plan_units(cps)
    p0 = cps[0].pattern
    ts_col, tb_col = p0.ts_col, p0.tiebreak_col
    w_ns_of = [window_ns(cp) for cp in cps]
    rets = [retention_ns(cp) for cp in cps]
    # shared eviction horizon = the largest per-pattern retention
    w_ns = None if any(r is None for r in rets) else max(rets)
    # v6: one unit layout for every plan; every earlier layout refuses
    # loudly, naming what changed since it
    _FMT = "units-v6"
    ipc_why = ("per-key state moved from Arrow-IPC frames to pickled "
               "column arrays")
    fp_why = ("the pattern-family fingerprint was redefined (Kleene over "
              "an And_ of leaves now compiles to one conjunctive position)")
    pos_why = ("the pattern-family fingerprint was redefined (every "
               "composite-Kleene group position is now conjunctive: the "
               "pos_all slot field is gone and every group slot names its "
               "member)")
    unit_why = ("the per-pattern and shared layouts were replaced by one "
                "execution-unit layout (merge.plan_units), whose parked "
                "matches are keyed by (pattern, alternative)")
    changed_since = {"shared-v2": ipc_why, "perpat-v1": ipc_why,
                     "shared-v3": fp_why, "perpat-v2": fp_why,
                     "shared-v4": pos_why, "perpat-v3": pos_why,
                     "shared-v5": unit_why, "perpat-v4": unit_why}
    # the key column is the call's key: stored only if something reads it
    need = set(emit_cols) | {ts_col, tb_col}
    for cp in cps:
        for cs_ in cp.needed_cols.values():
            need.update(cs_)
    drop = () if p0.key in need else (p0.key,)
    run_cps = [ucp for ucp, _ in units]
    unit_pats = [idxs for _, idxs in units]
    # per-unit PRUNING horizon = the unit's max window (None = unbounded
    # wins); per-TAG window math (seal instants, park deadlines, edge-neg
    # intervals) uses tag_w below
    unit_w_ns = [
        None if any(w_ns_of[i] is None for i in idxs)
        else max(w_ns_of[i] for i in idxs)
        for idxs in unit_pats
    ]
    unit_alts = [
        {(li, alt.alt_id): alt
         for li, gi in enumerate(idxs) for alt in cps[gi].alternatives}
        for idxs in unit_pats
    ]
    unit_trailing = [
        frozenset((li, aid) for li, gi in enumerate(idxs)
                  for aid in _trailing_alt_ids(cps[gi]))
        for idxs in unit_pats
    ]
    static_rematch = (1 << len(run_cps)) - 1 if force_rematch else 0

    # fmt = <layout>:<family fingerprint> — both validated on every
    # restore.  The fingerprint covers pattern structure, windows, order
    # AND the unit plan, so restarting a checkpoint with an
    # edited/reordered pattern list (which reshuffles the plan and the
    # unit-index state keys) refuses loudly instead of restoring partial
    # tables against a different automaton.
    my_fmt = f"{_FMT}:{_family_fp(cps, w_ns_of, unit_pats)}"

    def refusal(fmt) -> RuntimeError:
        layout = fmt.split(":", 1)[0] if isinstance(fmt, str) else fmt
        if layout == _FMT:
            return RuntimeError(
                f"state store fingerprint {fmt!r} does not match "
                f"this query's pattern family {my_fmt!r}: the "
                "pattern list was edited or reordered since the "
                "checkpoint was written (persisted partial tables "
                "are keyed by unit index and merged-state sids); "
                "restart from a fresh checkpoint"
            )
        why = changed_since.get(layout, "the layout is unknown")
        return RuntimeError(
            f"state store format {layout!r} is not this version's "
            f"{_FMT!r}: {why}, and checkpoints written before the "
            "format change cannot be read; restart from a fresh "
            "checkpoint (README, 'Streaming state-schema migration')"
        )

    def tag_w(ci, key):
        """The window of emission ``key`` = (local idx, alt_id) of unit ci."""
        return w_ns_of[unit_pats[ci][key[0]]]

    def rows_of(cols, key_val, res, ci) -> list:
        """Output rows for unit ci's matches (bindings index ``cols``)."""
        return unit_rows([cps[gi] for gi in unit_pats[ci]], res, repeat(key_val),
                         mode, emit_cols, cols)

    out_cols = (flat_columns(cps[0]) if mode == "flat"
                else [p0.key, "pattern_id", "alt_id", "matched"])

    def next_parked_seal(parked_by_ci) -> int | None:
        """Earliest seal instant of any parked match."""
        m = None
        for ci, raw in parked_by_ci.items():
            for key, tmap in _de_tables(raw).items():
                s = int(tmap[0].first_ts.min()) + tag_w(ci, key)
                m = s if m is None else min(m, s)
        return m

    def rebuild(key_val, sealed, n_new, limbo, parts, parked_by_ci, fellback,
                lo_ns, wm_ns):
        """Advance every unit over the ``n_new`` freshly sealed rows at the
        end of ``sealed``, emit what sealed in (lo_ns, wm_ns], then prune
        and evict.  Returns (output rows, buf / parts / parked state
        bytes, fellback, min_unsealed_ns)."""
        n_s = _nrows(sealed)
        ts_s = _ns(sealed[ts_col]) if n_s else None
        store = _ColStore.from_cols(sealed) if n_s else None
        rematch_mask = static_rematch | fellback
        min_unsealed_ns = None
        rows = []
        all_cols = ts_all = None
        all_cache: dict = {}  # predicate masks over sealed + limbo
        tables_out = {}
        parked_out_by_ci = {}
        mask_cache = {}  # shared predicate masks across patterns, per batch
        masks_of = {}  # id(compiled pattern) -> its masks over the fresh rows

        for ci, cp in enumerate(run_cps):
            if rematch_mask & (1 << ci):
                if all_cols is None:
                    all_cols = _cat(sealed, limbo)
                    if all_cols is None:
                        continue
                    ts_all = _ns(all_cols[ts_col])
                    order = np.lexsort((all_cols[tb_col], ts_all))
                    all_cols, ts_all = _take(all_cols, order), ts_all[order]
                res_sealed = []
                fb_stats = {}
                masks = unary_masks(cp, all_cols, len(ts_all), cache=all_cache)
                for a, b in unit_matches(cp, match_core(
                        cp, _ColStore.from_cols(all_cols), ts_all, masks,
                        cap=cap, stats=fb_stats)):
                    lts = _seal_ts_ns(b, ts_all, a, unit_trailing[ci], tag_w(ci, a))
                    if lo_ns < lts <= wm_ns:
                        res_sealed.append((a, b))
                    elif lts > wm_ns and (min_unsealed_ns is None or lts < min_unsealed_ns):
                        min_unsealed_ns = lts
                _flush_guard_stats(fb_stats, acc)
                if res_sealed:
                    rows.extend(rows_of(all_cols, key_val, res_sealed, ci))
                continue
            tables = _de_tables(parts.get(ci))
            parked = _de_tables(parked_by_ci.get(ci))
            res = []
            if n_new:
                start = n_s - n_new
                masks_ci = masks_of[id(cp)] = unary_masks(
                    cp, sealed, n_s, start=start, cache=mask_cache)
                stats = {}
                res, tables = advance_core(
                    cp, store, ts_s, masks_ci,
                    tables_in=tables or None, start=start,
                    cap=cap, stats=stats,
                )
                res = unit_matches(cp, res)
                _flush_guard_stats(stats, acc)
                # re-verify parked matches against ONLY the freshly-
                # sealed trailing-negation candidates (earlier sealed
                # candidates were checked at accept / prior batches;
                # later ones are above the watermark and cannot
                # belong to a parked match's look-ahead once it seals)
                for alt_id in list(parked):
                    p = parked[alt_id].get(0)
                    if p is None or len(p) == 0:
                        del parked[alt_id]
                        continue
                    alt = unit_alts[ci][alt_id]
                    # parked bindings use ORIGINAL var names: evaluate
                    # the original pattern's neg masks (a one-pattern
                    # unit's are masks_ci; a merged unit's hit the
                    # shared predicate cache)
                    ocp = cps[unit_pats[ci][alt_id[0]]]
                    if id(ocp) not in masks_of:
                        masks_of[id(ocp)] = unary_masks(
                            ocp, sealed, n_s, start=start, cache=mask_cache)
                    _, neg_mask = masks_of[id(ocp)][alt_id[1]]
                    ok = np.ones(len(p), dtype=bool)
                    for si, spec in enumerate(alt.negs):
                        if spec.kind != "trailing":
                            continue
                        fresh_pos = np.nonzero(neg_mask[si][start:])[0] + start
                        if len(fresh_pos):
                            ok &= _edge_ok(
                                fresh_pos, spec, store, p,
                                ts_s, tag_w(ci, alt_id), leading=False,
                                bounds=np.array([0, n_s]),
                            )
                    if not ok.all():
                        p = p.select(ok)
                    if len(p):
                        parked[alt_id] = {0: p}
                    else:
                        del parked[alt_id]
                # split fresh accepts: trailing matches whose look-ahead
                # is still open get parked; the rest emit now
                if res and unit_trailing[ci]:
                    now = []
                    to_park: dict = {}
                    for a, b in res:
                        if a in unit_trailing[ci]:
                            pos = [
                                x for vv in b.values()
                                for x in (vv if isinstance(vv, tuple) else (vv,))
                            ]
                            seal = int(ts_s[min(pos)]) + tag_w(ci, a)
                            if seal <= wm_ns:
                                now.append((a, b))
                            else:
                                to_park.setdefault(a, []).append(b)
                        else:
                            now.append((a, b))
                    for a, blist in to_park.items():
                        newp = _park_partials(unit_alts[ci][a], blist, ts_s)
                        old = parked.get(a, {}).get(0)
                        if old is not None and len(old):
                            parked[a][0] = _Partials.concat([old, newp])
                        else:
                            parked[a] = {0: newp}
                    res = now
            # emit parked matches whose seal the watermark crossed
            for alt_id in list(parked):
                p = parked[alt_id][0]
                seal_arr = p.first_ts + tag_w(ci, alt_id)
                emit_mask = (seal_arr > lo_ns) & (seal_arr <= wm_ns)
                if emit_mask.any():
                    sel = p.select(emit_mask)
                    res.extend(
                        (alt_id, _binding_of(sel, j)) for j in range(len(sel))
                    )
                    p = p.select(~emit_mask)
                if len(p):
                    parked[alt_id] = {0: p}
                    m = int((p.first_ts + tag_w(ci, alt_id)).min())
                    if min_unsealed_ns is None or m < min_unsealed_ns:
                        min_unsealed_ns = m
                else:
                    del parked[alt_id]
            if res:
                rows.extend(rows_of(sealed, key_val, res, ci))
            tables_out[ci] = tables
            if parked:
                parked_out_by_ci[ci] = parked

        # prune each unit's partials; evict at the SHARED max-retention
        # horizon; shift positions by the shared prefix offset
        if w_ns is not None and wm_ns > 0:
            for ci, tables in tables_out.items():
                if unit_w_ns[ci] is not None:
                    _prune_tables(tables, wm_ns - unit_w_ns[ci])
            if n_s:
                keep = ts_s > wm_ns - w_ns
                off = int((~keep).sum())
                if off:
                    sealed = _take(sealed, keep) if off < n_s else None
                    for tables in tables_out.values():
                        _shift_tables(tables, off)
                    # parked rows survive eviction by construction: seal
                    # first_ts + W_ci > wm ⇒ first_ts > wm - W_ci ≥ wm - w_ns
                    for parked in parked_out_by_ci.values():
                        _shift_tables(parked, off)

        buflen = _nrows(sealed) + _nrows(limbo)
        parts_out = {}
        for ci, tables in tables_out.items():
            if _tables_rows(tables) > max(256, 8 * buflen):
                fellback |= 1 << ci
                # the rematch fallback re-derives pending trailing
                # matches every batch — drop this unit's parked set
                parked_out_by_ci.pop(ci, None)
            else:
                raw = _ser_tables(tables)
                if raw is not None:
                    parts_out[ci] = raw
        parked_ser = {}
        for ci, parked in parked_out_by_ci.items():
            raw = _ser_tables(parked)
            if raw is not None:
                parked_ser[ci] = raw
        return (
            rows,
            _enc_cols(sealed),
            pickle.dumps(parts_out, protocol=5) if parts_out else None,
            pickle.dumps(parked_ser, protocol=5) if parked_ser else None,
            fellback,
            min_unsealed_ns,
        )

    def fn(key, pdf_iter, state):
        wm_ms = state.getCurrentWatermarkMs()
        wm_ns = wm_ms * 1_000_000
        if state.exists:
            (buf_raw, limbo_raw, parts_raw, parked_raw,
             last_emit_wm_ms, late_dropped, fellback, fmt) = state.get
            # validate on EVERY restore, not only when partial tables
            # exist: a unit that fell back to rematch persists its
            # fellback bit with no tables — reinterpreting that bitmask
            # under another plan would silently drop matches.
            if fmt != my_fmt:
                raise refusal(fmt)
        else:
            buf_raw = limbo_raw = parts_raw = parked_raw = None
            last_emit_wm_ms, late_dropped, fellback = -1, 0, 0
        lo_ns = last_emit_wm_ms * 1_000_000

        limbo = _dec_cols(limbo_raw)
        n_late = 0
        if not state.hasTimedOut:
            for pdf in pdf_iter:
                if not len(pdf):
                    continue
                cols = {c: pdf[c].to_numpy() for c in pdf.columns if c not in drop}
                late = _ns(cols[ts_col]) <= lo_ns
                if late.any():
                    n_late += int(late.sum())
                    cols = _take(cols, ~late)
                limbo = _cat(limbo, cols)
        if n_late:
            late_dropped += n_late
            if late_acc is not None:
                late_acc.add(n_late)

        fresh = None
        if limbo is not None:
            seal = _ns(limbo[ts_col]) <= wm_ns
            if seal.any():
                fresh = _take(limbo, seal)
                fresh = _take(fresh, np.lexsort((fresh[tb_col], _ns(fresh[ts_col]))))
                limbo = None if seal.all() else _take(limbo, ~seal)

        # pass-through: nothing seals, no fallback re-runs and no parked
        # match is due — the buffer, partial tables and parked matches
        # are written back as the bytes they were read as (pruning and
        # eviction wait for the next rebuild, which the timer below
        # brings: a timed-out call always rebuilds)
        parked_by_ci = pickle.loads(parked_raw) if parked_raw else {}
        min_unsealed_ns = None
        passthrough = (fresh is None and not (static_rematch | fellback)
                       and not state.hasTimedOut)
        if passthrough and parked_by_ci:
            min_unsealed_ns = next_parked_seal(parked_by_ci)
            passthrough = min_unsealed_ns > wm_ns
        if passthrough:
            rows = ()
        else:
            (rows, buf_raw, parts_raw, parked_raw, fellback,
             min_unsealed_ns) = rebuild(
                key[0], _cat(_dec_cols(buf_raw), fresh), _nrows(fresh), limbo,
                pickle.loads(parts_raw) if parts_raw else {}, parked_by_ci,
                fellback, lo_ns, wm_ns,
            )

        if (buf_raw is None and limbo is None and parts_raw is None
                and parked_raw is None and min_unsealed_ns is None):
            state.remove()
        else:
            state.update(
                (
                    buf_raw,
                    _enc_cols(limbo),
                    parts_raw,
                    parked_raw,
                    max(wm_ms, last_emit_wm_ms),
                    late_dropped,
                    fellback,
                    my_fmt,
                )
            )
            timer = None
            if limbo is not None:
                min_limbo = int(_ns(limbo[ts_col]).min())
                timer = max(-(-min_limbo // 1_000_000), wm_ms + 1)
            if min_unsealed_ns is not None:
                t2 = max(-(-min_unsealed_ns // 1_000_000), wm_ms + 1)
                timer = t2 if timer is None else min(timer, t2)
            if (timer is None and (buf_raw is not None or parts_raw is not None)
                    and w_ns is not None):
                timer = max(wm_ms + w_ns // 1_000_000 + 1, 1)
            if timer is not None:
                state.setTimeoutTimestamp(timer)
        if rows:
            yield pd.DataFrame(rows, columns=out_cols)

    return fn
