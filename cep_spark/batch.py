"""Batch execution of compiled patterns.

Two physical strategies (SURVEY.md §3.4 / §4.2):

* ``run_batch``  — repartition(key) + sortWithinPartitions(key, ts,
  tiebreak) + one mapInPandas per partition.  The compiled NFA advances
  every key group of the partition in LOCKSTEP (``advance_groups``):
  step t applies the t-th firing event of each key that has one, as
  NumPy operations over the union of all keys' partial-match tables,
  so a partition costs as many Python steps as its busiest key has
  firing events — not one per event.  Handles everything incl.
  unbounded Kleene.  The streaming processor (stream.py) runs the same
  advance over one key (``advance_core``), so batch≡stream parity is
  structural.

* ``plan_join``  (join_planner.py) — fixed-arity patterns lowered to
  SQL self-joins run by ``spark.sql``: all-Catalyst,
  whole-stage-codegen'd, the 100-TB scale path for batch, and the very
  text the DuckDB oracle runs.

Replaces the reference's single-threaded evaluation-tree loop
(reference `TreeBasedEvaluationMechanism.py`, SURVEY.md §2.3 E6).
"""

from __future__ import annotations

from itertools import repeat

import numpy as np
import pandas as pd

from .compiler import CompiledPattern

__all__ = [
    "match_group_nfa",
    "run_batch",
    "match_schema_array",
    "match_schema_flat",
    "cpu_parallelism",
]


def cpu_parallelism(df) -> int:
    """Target partition count for CPU-bound Python matcher stages.

    AQE's byte-based partition coalescing
    (spark.sql.adaptive.coalescePartitions) judges a shuffle stage by its
    BYTES, which under-parallelizes NFA stages catastrophically: matcher
    input is a few pruned columns (tiny bytes) with heavy Python compute
    per row, so AQE happily coalesces the exchange down to ONE task and
    serializes the whole matcher (measured 6.3s -> 1.1s at sf0.1 /
    local[32] when pinned).  Pinning the repartition count makes AQE
    leave the exchange alone; we pin to the session's shuffle
    parallelism, which a cluster deployment sizes to its executor-core
    count."""
    spark = df.sparkSession
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        return spark.sparkContext.defaultParallelism


def group_bounds(*cols) -> np.ndarray:
    """Row offsets of the key groups of a frame sorted by ``cols``:
    group g is rows [bounds[g], bounds[g + 1])."""
    n = len(cols[0])
    change = np.zeros(max(n - 1, 0), dtype=bool)
    for c in cols:
        change |= c[1:] != c[:-1]
    return np.concatenate([[0], np.nonzero(change)[0] + 1, [n]]).astype(np.int64)


def _obj_array(items) -> np.ndarray:
    """1-D object ndarray of tuples (np.array would collapse to 2-D)."""
    a = np.empty(len(items), dtype=object)
    for j, t in enumerate(items):
        a[j] = t
    return a


class _ColStore:
    """Column arrays for one sorted group; gathers return raw NumPy views.

    ``need`` restricts the pandas→NumPy conversion to the columns the
    matcher can actually reference (condition columns + ts) — per-group
    ``to_numpy`` of never-read columns was ~18% of matcher time."""

    def __init__(self, gdf: pd.DataFrame, need=None):
        cs = gdf.columns if need is None else [c for c in gdf.columns if c in need]
        self._cols = {c: gdf[c].to_numpy() for c in cs}

    @classmethod
    def from_cols(cls, cols: dict) -> "_ColStore":
        self = cls.__new__(cls)
        self._cols = cols
        return self

    def row(self, i: int) -> dict:
        return {c: v[i] for c, v in self._cols.items()}

    def gather(self, positions: np.ndarray) -> "_VarView":
        return _VarView(self._cols, positions)


class _VarView:
    """Lazy per-variable attribute view: ``view[col]`` gathers the raw
    NumPy array (no pandas Series wrapper — Series construction was ~20%
    of matcher time; every condition ``pd()`` implementation is
    NumPy-compatible, and UserPred re-wraps for its user-facing
    contract)."""

    def __init__(self, cols, positions):
        self._cols = cols
        self._pos = positions

    def __getitem__(self, col):
        return self._cols[col][self._pos]


class _Partials:
    """Columnar partial-match table for one NFA state.

    One table holds the partials of EVERY key group of a partition:
    row j belongs to key group ``grp[j]`` and its positions index the
    partition-wide column store.  Rows of one group keep their
    insertion order (oldest first), which the state guard and the
    emission order rely on."""

    __slots__ = ("scalar", "kleene", "first_pos", "last_pos", "first_ts", "grp")

    def __init__(self, scalar_vars, kleene_vars):
        self.scalar = {v: np.empty(0, dtype=np.int64) for v in scalar_vars}
        self.kleene = {v: np.empty(0, dtype=object) for v in kleene_vars}
        self.first_pos = np.empty(0, dtype=np.int64)
        self.last_pos = np.empty(0, dtype=np.int64)
        self.first_ts = np.empty(0, dtype=np.int64)  # ns epoch
        self.grp = np.empty(0, dtype=np.int64)

    @classmethod
    def of(cls, scalar, kleene, first_pos, last_pos, first_ts, grp) -> "_Partials":
        out = cls.__new__(cls)
        out.scalar, out.kleene = scalar, kleene
        out.first_pos, out.last_pos, out.first_ts, out.grp = first_pos, last_pos, first_ts, grp
        return out

    def __len__(self):
        return len(self.first_pos)

    def select(self, mask_or_idx):
        return _Partials.of(
            {v: a[mask_or_idx] for v, a in self.scalar.items()},
            {v: a[mask_or_idx] for v, a in self.kleene.items()},
            self.first_pos[mask_or_idx], self.last_pos[mask_or_idx],
            self.first_ts[mask_or_idx], self.grp[mask_or_idx],
        )

    @staticmethod
    def concat(parts: list) -> "_Partials":
        if len(parts) == 1:
            return parts[0]
        p0 = parts[0]
        return _Partials.of(
            {v: np.concatenate([p.scalar[v] for p in parts]) for v in p0.scalar},
            {v: np.concatenate([p.kleene[v] for p in parts]) for v in p0.kleene},
            np.concatenate([p.first_pos for p in parts]),
            np.concatenate([p.last_pos for p in parts]),
            np.concatenate([p.first_ts for p in parts]),
            np.concatenate([p.grp for p in parts]),
        )


def _last_elems(tuples, n: int, k: int = 1) -> np.ndarray:
    """k-th-from-last element of each Kleene tuple (-1 when shorter)."""
    return np.fromiter(
        (t[-k] if len(t) >= k else -1 for t in tuples), dtype=np.int64, count=n
    )


def _ranges(lo, hi):
    """Expand per-row half-open index ranges [lo, hi) into (row, index)
    pairs, row-major — the vectorized form of concatenating
    ``arange(lo[j], hi[j])`` over rows j with a non-empty range."""
    counts = np.maximum(hi - lo, 0)
    rows = np.repeat(np.arange(len(counts)), counts)
    offs = np.cumsum(counts) - counts
    idx = np.arange(len(rows)) - offs[rows] + lo[rows]
    return rows, idx


def _seg_searchsorted(a, lo, hi, x, side):
    """``np.searchsorted`` of each x[j] within its own sorted segment
    a[lo[j]:hi[j]], returning indices into ``a``.  A partition's
    timestamps are sorted only within each key group, so a window bound
    is searched inside the group's slice: one vectorized bisection
    step over all queries per halving."""
    lo = np.asarray(lo, dtype=np.int64).copy()
    hi = np.asarray(hi, dtype=np.int64).copy()
    while True:
        act = lo < hi
        if not act.any():
            return lo
        mid = (lo + hi) // 2
        v = a[np.where(act, mid, 0)]
        right = act & ((v < x) if side == "left" else (v <= x))
        lo = np.where(right, mid + 1, lo)
        hi = np.where(act & ~right, mid, hi)


def _eval_conds(conds, store, partials, cur_var, cur, extra_scalar=None,
                var_group=None, aligned=()):
    """Vectorized evaluation of conjuncts over a partial table.

    ``cur`` holds, per partial, the position of its key's current event:
    cur_var's attributes gather from there; bound vars gather from the
    store.  A conjunct referencing an already-bound Kleene variable
    evaluates per ELEMENT of each partial's tuple via (partial, element)
    pair expansion — ALL elements must satisfy it.  ``aligned``
    (composite-Kleene group mates of the slot being bound) evaluate as
    the CURRENT repetition's element — the last element of their tuple.
    Returns boolean ndarray."""
    n = len(partials)
    mask = np.ones(n, dtype=bool)
    if not conds:
        return mask

    aligned_pos = None
    if aligned:
        extra = dict(extra_scalar) if extra_scalar else {}
        aligned_pos = {}
        for v in aligned:
            if v in partials.kleene and v not in extra:
                last_pos = _last_elems(partials.kleene[v], n)
                extra[v] = store.gather(last_pos)
                # pair-expansion path (a conjunct ALSO referencing an
                # independent leaf Kleene var) needs the raw positions
                # to gather per (partial, element) pair
                aligned_pos[v] = last_pos
        extra_scalar = extra
    cur_row = store.gather(cur)

    class _Env:
        def __getitem__(self, var):
            if var == cur_var:
                return cur_row
            if extra_scalar and var in extra_scalar:
                return extra_scalar[var]
            if var in partials.scalar:
                return store.gather(partials.scalar[var])
            raise KeyError(var)

    env = _Env()
    for c in conds:
        kref = [
            v for v in c.vars()
            if v != cur_var and v in partials.kleene
            and not (extra_scalar and v in extra_scalar)
        ]
        if kref:
            mask &= _eval_kleene_cond(
                c, kref, store, partials, cur_var, cur, var_group,
                extra_pos=aligned_pos,
            )
            continue
        r = c.pd(env)
        if isinstance(r, (bool, np.bool_)):
            if not r:
                return np.zeros(n, dtype=bool)
        else:
            mask &= np.asarray(r, dtype=bool)
    return mask


def _eval_kleene_cond(c, kref, store, partials, cur_var, cur, var_group=None,
                      extra_pos=None):
    """ALL-combinations evaluation of a conjunct over each partial's
    bound Kleene tuples for variables `kref` (cross-variable conditions
    like `k.value > c.value` where c binds after the closure).

    One Kleene variable -> per-element ALL.  Two or more independent
    Kleene variables -> CROSS PRODUCT of their element tuples (the
    reference's lambda formulas quantify over every pair of bindings;
    SURVEY.md §2.2).  Variables sharing an entry in ``var_group`` (an
    unbounded composite-Kleene group) form ONE dimension: their tuples
    are zip-ALIGNED per repetition instead of crossed — matching the
    bounded chain expansion, which replicates the conjunct per
    repetition index (compiler._expand_composite_kleene).

    ``extra_pos``: per-partial positions for ALIGNED group mates of the
    slot being bound (their evaluation element is the CURRENT
    repetition's, i.e. the last of their tuple — _eval_conds keeps them
    out of kref); a conjunct pairing such a var with an independent
    leaf Kleene var gathers them per expanded pair here, as it does
    the current event (``cur``).  Over the run, each repetition's
    completing bind contributes (all leaf elements) x (that
    repetition's element) — accumulating to exactly the chain
    expansion's cross product."""
    n = len(partials)
    if n == 0:
        return np.ones(0, dtype=bool)

    # dimensions: one per composite-Kleene group (aligned vars), one per
    # independent leaf Kleene variable
    dim_vars: list[list] = []
    if var_group:
        by_g: dict = {}
        for v in kref:
            g = var_group.get(v)
            if g is None:
                dim_vars.append([v])
            else:
                by_g.setdefault(g, []).append(v)
        dim_vars = list(by_g.values()) + dim_vars
    else:
        dim_vars = [[v] for v in kref]

    dim_lens = []
    for vs in dim_vars:
        ls = [
            np.fromiter((len(t) for t in partials.kleene[v]), dtype=np.int64, count=n)
            for v in vs
        ]
        # aligned vars zip over the completed repetitions (min length —
        # equal once the group is complete; an in-progress repetition's
        # unmatched head is checked at its own later sub-slot bind)
        dim_lens.append(ls[0] if len(ls) == 1 else np.minimum.reduce(ls))

    total = dim_lens[0].copy()
    for l in dim_lens[1:]:
        total = total * l
    tsum = int(total.sum())
    if tsum == 0:
        return np.ones(n, dtype=bool)  # vacuous (some tuple empty)

    pair_partial = np.repeat(np.arange(n), total)
    starts = np.cumsum(total) - total
    seq = np.arange(tsum) - np.repeat(starts, total)  # within-partial counter

    # mixed-radix decode: stride of dim d = product of lens of later dims
    strides = [np.ones(n, dtype=np.int64) for _ in dim_vars]
    for d in range(len(dim_vars) - 2, -1, -1):
        strides[d] = strides[d + 1] * dim_lens[d + 1]

    views = {}
    for d, vs in enumerate(dim_vars):
        idx = (seq // strides[d][pair_partial]) % dim_lens[d][pair_partial]
        for v in vs:
            flat = np.concatenate(
                [np.asarray(t, dtype=np.int64) for t in partials.kleene[v] if len(t)]
            ) if tsum else np.empty(0, dtype=np.int64)
            vlens = np.fromiter(
                (len(t) for t in partials.kleene[v]), dtype=np.int64, count=n
            )
            voff = np.cumsum(vlens) - vlens
            views[v] = store.gather(flat[voff[pair_partial] + idx])

    sub = partials.select(pair_partial)

    class _Env:
        def __getitem__(self, var):
            if var in views:
                return views[var]
            if var == cur_var:
                return store.gather(cur[pair_partial])
            if extra_pos is not None and var in extra_pos:
                # aligned group mate: current repetition's element,
                # gathered per expanded pair
                return store.gather(extra_pos[var][pair_partial])
            return store.gather(sub.scalar[var])

    r = c.pd(_Env())
    if isinstance(r, (bool, np.bool_)):
        m = np.full(tsum, bool(r))
    else:
        m = np.asarray(r, dtype=bool)
    ok = np.bincount(pair_partial, weights=m.astype(np.int64), minlength=n)
    return ok == total


def _br_guard_applies(spec, partials):
    """Branch gate for a trailing Neg inside an Or_ branch
    (NegSpec.br_guard = (branch_last_leaf_var, *position_vars)): the
    spec applies to a partial iff the latest bound position across ALL
    of the position's sub-slot vars belongs to the guarded branch's
    last leaf.  Strict repetition interleaving makes that latest bind
    exactly the relevant repetition's bind at the position, so this
    holds iff that repetition CHOSE the branch — the bounded chain
    expansion's per-instance spec existence, evaluated dynamically."""
    n = len(partials)

    def lastel(v):
        if v in partials.kleene:
            return _last_elems(partials.kleene[v], n)
        if v in partials.scalar:
            return partials.scalar[v]
        return np.full(n, -1, dtype=np.int64)

    bl = lastel(spec.br_guard[0])
    mx = bl.copy()
    for v in spec.br_guard[1:]:
        if v != spec.br_guard[0]:
            np.maximum(mx, lastel(v), out=mx)
    # returns (applies, branch_last_element): the second is the gap's
    # true left boundary wherever the guard applies — pre_vars may miss
    # it when the position's own slots are the spec's post slots (a
    # bare-Or_ group's loop-back)
    return (bl >= 0) & (bl == mx), bl


def _neg_pairs_bad(np_pos, lo, hi, spec, store, partials, env_extra, exclude_bound):
    """Shared tail of the negation checks: expand each partial's
    candidate range np_pos[lo:hi] into (partial, neg event) pairs,
    optionally drop events bound to the partial's own variables, apply
    the spec's multi-variable conjuncts, and return per-partial
    "a qualifying negative event exists"."""
    n = len(partials)
    pair_partial, idx = _ranges(lo, hi)
    if len(pair_partial) == 0:
        return np.zeros(n, dtype=bool)
    pair_neg = np_pos[idx]
    sub = partials.select(pair_partial)
    keep = np.ones(len(pair_partial), dtype=bool)
    if exclude_bound:
        for arr in sub.scalar.values():
            keep &= pair_neg != arr
        for karr in sub.kleene.values():
            keep &= np.fromiter(
                (int(pn) not in t for pn, t in zip(pair_neg, karr)),
                dtype=bool, count=len(pair_partial),
            )
    if spec.multi:
        neg_view = store.gather(pair_neg)
        extra = env_extra(pair_partial) if env_extra else {}

        class _Env:
            def __getitem__(self, var):
                if var == spec.var:
                    return neg_view
                if var in extra:
                    return extra[var]
                return store.gather(sub.scalar[var])

        env = _Env()
        for c in spec.multi:
            r = c.pd(env)
            keep = keep & (np.asarray(r, dtype=bool)
                           if not isinstance(r, (bool, np.bool_)) else r)
    return np.bincount(pair_partial[keep], minlength=n) > 0


def _gap_ok(spec_positions, spec, store, partials, cur_var, cur, seg_lo,
            pre_off=None):
    """For each partial: True if NO qualifying negative event lies strictly
    inside the gap ending at its key's current event ``cur``.  The
    gap's left boundary is the latest bound position among the spec's
    STRUCTURAL predecessors (pre_vars) — NOT the partial's last_pos,
    which overshoots when another variable (an And_ sibling) binds
    inside the gap — and never reaches below the key's first row
    ``seg_lo``.  Events bound to other variables of the partial are
    not negation candidates (pinned semantics, same as _span_ok and
    the replica).  Vectorized via searchsorted (+ pair expansion only
    when the neg condition references bound variables)."""
    np_pos = spec_positions
    n = len(partials)
    if len(np_pos) == 0:
        return np.ones(n, dtype=bool)
    if spec.pre_vars:
        left = np.full(n, -1, dtype=np.int64)
        for v in spec.pre_vars:
            if v in partials.scalar:
                np.maximum(left, partials.scalar[v], out=left)
            elif v in partials.kleene:
                np.maximum(left, _last_elems(partials.kleene[v], n), out=left)
    else:
        left = partials.last_pos
    if spec.br_guard:
        applies, bl = _br_guard_applies(spec, partials)
        left = np.maximum(left, bl)
    if pre_off is not None:
        # leading member gap in a single-position group: per-transition
        # boundary override (Transition.gap_pre) — off1 vars contribute
        # their LAST element, off2 vars (mid-repetition in the source
        # state) their SECOND-TO-LAST (their last element belongs to
        # the CURRENT repetition and must not shrink the interval)
        if left is partials.last_pos:
            left = np.full(n, -1, dtype=np.int64)
        off1, off2 = pre_off
        for v in off1:
            if v in partials.kleene:
                np.maximum(left, _last_elems(partials.kleene[v], n), out=left)
            elif v in partials.scalar:
                np.maximum(left, partials.scalar[v], out=left)
        for v in off2:
            if v in partials.kleene:
                np.maximum(left, _last_elems(partials.kleene[v], n, 2), out=left)
    left = np.maximum(left, seg_lo - 1)
    lo = np.searchsorted(np_pos, left, side="right")
    hi = np.searchsorted(np_pos, cur, side="left")
    if spec.br_guard:
        hi = np.where(applies, hi, lo)
    if not (hi > lo).any():
        return np.ones(n, dtype=bool)
    # expand (partial, neg event) pairs; exclude events bound to the
    # partial's own positive variables, then evaluate any multi-var
    # conditions vectorized
    return ~_neg_pairs_bad(
        np_pos, lo, hi, spec, store, partials,
        lambda pp: {cur_var: store.gather(cur[pp])}, exclude_bound=True,
    )


def _span_ok(spec_positions, spec, store, partials, alt):
    """Span-scoped negation (Neg inside And_): no qualifying negative event
    strictly inside (first_pos, last_pos), excluding the bound events."""
    if len(spec_positions) == 0:
        return np.ones(len(partials), dtype=bool)
    np_pos = spec_positions
    lo = np.searchsorted(np_pos, partials.first_pos, side="right")
    hi = np.searchsorted(np_pos, partials.last_pos, side="left")
    if not (hi > lo).any():
        return np.ones(len(partials), dtype=bool)
    return ~_neg_pairs_bad(np_pos, lo, hi, spec, store, partials, None,
                           exclude_bound=True)


def _edge_ok(spec_positions, spec, store, partials, ts_ns, w_ns, leading: bool,
             bounds):
    """Leading/trailing negation (accept-time, window-bounded).

    leading:  no qualifying neg strictly before first_pos with
              last.ts - neg.ts <= window;
    trailing: no qualifying neg strictly after last_pos with
              neg.ts - first.ts <= window.
    Positions are (ts, tiebreak)-sorted within a key, so position order
    IS the event order and ts_ns[spec_positions] is non-decreasing per
    key — both bounds are searchsorted lookups.  ``bounds`` (the key
    groups' row offsets) confines each partial's look-back/look-ahead to
    its own key's rows."""
    if len(spec_positions) == 0:
        return np.ones(len(partials), dtype=bool)
    np_pos = spec_positions
    neg_ts = ts_ns[np_pos]
    if leading:
        hi = np.searchsorted(np_pos, partials.first_pos, side="left")
        glo = np.searchsorted(np_pos, bounds[partials.grp], side="left")
        lo = _seg_searchsorted(neg_ts, glo, hi, ts_ns[partials.last_pos] - w_ns, "left")
    else:
        lo = np.searchsorted(np_pos, partials.last_pos, side="right")
        ghi = np.searchsorted(np_pos, bounds[partials.grp + 1], side="left")
        hi = _seg_searchsorted(neg_ts, lo, ghi, partials.first_ts + w_ns, "right")
    if spec.br_guard:
        # trailing Neg inside an Or_ branch: window-bounded look-ahead
        # applies only when the FINAL repetition chose the branch
        hi = np.where(_br_guard_applies(spec, partials)[0], hi, lo)
    if not spec.multi:
        return hi <= lo
    if not (hi > lo).any():
        return np.ones(len(partials), dtype=bool)
    return ~_neg_pairs_bad(np_pos, lo, hi, spec, store, partials, None,
                           exclude_bound=False)


def unary_masks(cp: CompiledPattern, cols: dict, n: int, start: int = 0,
                cache: dict | None = None):
    """Vectorized unary-condition masks over `n` rows for every slot and
    negation of every alternative: {alt_id: ({sid: bool[n]}, [bool[n]])}.

    Evaluated ONCE per pandas frame — per-partition in the partition
    executor, per-group in the classic one.

    ``start`` > 0 (the incremental streaming executor resuming over a
    persisted buffer): SLOT masks are evaluated only over rows
    [start, n) — `advance_groups` never probes a slot mask below its
    resume point, so rows [0, start) are left False.  NEGATION masks
    stay full-range: gap/span/edge checks scan candidate positions
    across the whole retained buffer.  This keeps per-batch mask cost
    O(new events) for the slot side instead of O(buffer).

    Identical unary conditions are evaluated ONCE per frame: masks are
    memoized on the condition's canonical SQL (var normalized) — OR
    expansion repeats each slot across alternatives, and multi-pattern
    execution repeats predicates like role='user' across patterns.
    Pass a shared ``cache`` dict to extend the memo across patterns
    within one frame (run_batch_multi / stream_matches_multi); masks
    are returned by reference and must not be mutated by callers."""
    out = {}
    if cache is None:
        cache = {}  # always share across this pattern's alternatives
    rng = np.arange(start, n) if start else np.arange(n)
    for alt in cp.alternatives:
        def mask_of(var, cond, full):
            full_range = bool(full and start) or not start
            try:
                ckey = (cond.sql({var: "e"}), full_range)
            except Exception:  # UserPred & friends: no SQL form
                ckey = None
            if ckey is not None and ckey in cache:
                return cache[ckey]
            idx = np.arange(n) if (full and start) else rng
            env = {var: _VarView(cols, idx)}
            r = cond.pd(env)
            if isinstance(r, (bool, np.bool_)):
                m = np.full(len(idx), bool(r))
            else:
                m = np.asarray(r, dtype=bool)
            if len(idx) != n:
                outm = np.zeros(n, dtype=bool)
                outm[start:] = m
                m = outm
            if ckey is not None:
                cache[ckey] = m
            return m

        slot_mask = {s.sid: mask_of(s.var, s.unary, False) for s in alt.slots}
        neg_mask = [mask_of(sp.var, sp.unary, True) for sp in alt.negs]
        out[alt.alt_id] = (slot_mask, neg_mask)
    return out


def match_group_nfa(cp: CompiledPattern, gdf: pd.DataFrame, cap=None, stats=None) -> list:
    """All matches in one key-group (gdf sorted by (ts, tiebreak)).

    Returns list of (alt_id, {var: pos | tuple(pos)}).  Same contract as
    tests/oracle_cep.match_group — the two are cross-checked in tests."""
    n = len(gdf)
    if n == 0:
        return []
    need = {cp.pattern.ts_col}
    for cs_ in cp.needed_cols.values():
        need.update(cs_)
    store = _ColStore(gdf, need=need)
    ts_ns = store._cols[cp.pattern.ts_col].astype("datetime64[ns]").astype(np.int64)
    masks = unary_masks(cp, store._cols, n)
    return match_core(cp, store, ts_ns, masks, cap=cap, stats=stats)


def match_core(cp: CompiledPattern, store, ts_ns, masks, cap=None, stats=None) -> list:
    """NFA advance over one sorted group given precomputed unary masks."""
    out, _ = advance_core(cp, store, ts_ns, masks, cap=cap, stats=stats)
    return out


def advance_core(cp: CompiledPattern, store, ts_ns, masks, tables_in=None, start=0,
                 cap=None, stats=None):
    """Resumable NFA advance over ONE key group: ``advance_groups`` with
    the whole store as the group.  The incremental streaming executor
    persists the returned tables in the state store and resumes over
    newly-sealed arrivals (``tables_in``, ``start``) — stream.py.
    Returns (matches, tables_out)."""
    res, _, tables = advance_groups(
        cp, store, ts_ns, masks, np.array([0, len(ts_ns)], dtype=np.int64),
        tables_in=tables_in, start=start, cap=cap, stats=stats,
    )
    return res, tables


def advance_groups(cp: CompiledPattern, store, ts_ns, masks, bounds, tables_in=None,
                   start=0, cap=None, stats=None):
    """Lockstep NFA advance over every key group of a sorted partition.

    ``store``/``ts_ns``/``masks`` cover the whole partition, sorted by
    (key, ts, tiebreak); key group g is rows [bounds[g], bounds[g+1]).
    Step t applies the t-th FIRING event (an event some slot's unary
    mask accepts) of every group that has one, so a partition takes as
    many steps as its busiest key has firing events.  Each step is a
    NumPy operation over the union of all groups' partial tables
    (_Partials rows carry their group); the current position, its
    timestamp and the slot-mask gate are per-partial arrays gathered at
    the current event of the partial's key.  Keys never interact:
    negation searches are clamped to the key's own rows, window expiry
    and the state guard touch only keys stepping now, and a key's
    partials leave the working tables after its last firing event.
    The result is exactly the per-key advance of each group,
    concatenated in group order.

    Skipping non-firing events is exact: an event on which NO slot's
    unary mask is true cannot start, extend, loop or complete anything,
    and window expiry at the key's NEXT firing event (later cur_ts)
    prunes at least as much as it would have at the skipped one.

    ``tables_in`` maps alt_id -> {state_sid: _Partials} with positions
    indexing ``store``; events below ``start`` are already consumed.
    Returns (matches, match_groups, tables_out): matches are
    (alt_id | merge tag, {var: pos | tuple(pos)}) in per-key emission
    order, match_groups the key group of each, and tables_out is safe
    to persist.

    ``cap`` (state guard, opt-in): hard bound on the number of partial
    matches retained per NFA state per key.  On breach the OLDEST
    partials of that key (front of its insertion-ordered rows —
    earliest starts) are dropped deterministically and counted into
    ``stats["dropped_partials"]``.  Dropping a partial can only LOSE
    matches, never fabricate one; with cap=None semantics are exact.
    This is the hot-key safety valve for powerset-Kleene patterns whose
    partial count is exponential in the number of matching events
    inside the window — at 100 TB one adversarial conversation must
    not OOM its executor or blow the state store."""
    pat = cp.pattern
    n = len(ts_ns)
    bounds = np.asarray(bounds, dtype=np.int64)
    n_groups = len(bounds) - 1
    w_ns = None if pat.window is None else int(pat.window.total_seconds() * 1e9)
    out, out_grp = [], []
    tables_out = {}

    for alt in cp.alternatives:
        slots = {s.sid: s for s in alt.slots}
        svars = {st.sid: [slots[x].var for x in st.bound if not slots[x].kleene] for st in alt.states}
        kvars = {st.sid: [slots[x].var for x in st.bound if slots[x].kleene] for st in alt.states}
        slot_mask, neg_mask = masks[alt.alt_id]
        neg_positions = [np.nonzero(m)[0] for m in neg_mask]
        # composite-Kleene groups: same-group mates evaluate zip-aligned
        var_group = getattr(alt, "var_group", None) or None
        slot_aligned = {}
        if var_group:
            for s in alt.slots:
                if s.group is not None:
                    slot_aligned[s.sid] = frozenset(
                        x.var for x in alt.slots
                        if x.group == s.group and x.sid != s.sid
                    )

        if tables_in is not None and alt.alt_id in tables_in:
            tables = tables_in[alt.alt_id]
            for st in alt.states:  # serialization skips empty states
                if st.sid not in tables:
                    tables[st.sid] = _Partials(svars[st.sid], kvars[st.sid])
        else:
            tables = {st.sid: _Partials(svars[st.sid], kvars[st.sid]) for st in alt.states}

        # repetition-count ANCHOR variables per group: the
        # repetition count of a partial is the TOTAL number of binds at
        # the group's first NON-loop position — with Or_ branches that
        # is a SUM across branch vars (each repetition binds exactly
        # one of them).  An unbounded nested leaf Kleene's looping
        # position (session 17: allowed at position 0 too) binds a
        # VARIABLE number of elements per repetition, so it cannot
        # anchor the count; the cap check only fires at loop-back binds
        # (group COMPLETE), where every finished repetition has bound
        # every position once — any non-loop position counts them
        # (validation guarantees one exists)
        grp_anchor_vars: dict = {}
        anchor_idx: dict = {}
        for s in alt.slots:
            if s.group is not None and not s.grp_loop:
                j = anchor_idx.get(s.group)
                anchor_idx[s.group] = (
                    s.grp_idx if j is None else min(j, s.grp_idx)
                )
        for s in alt.slots:
            if (s.group is not None
                    and s.grp_idx == anchor_idx.get(s.group, 0)
                    and not s.grp_loop and s.br_idx == 0 and s.mem == 0):
                # entry sub-slots of member 0 only: each repetition
                # binds every member of the position once, through
                # exactly one of its units (an Or_ branch, or the
                # member itself), at that unit's br_idx-0 event — so
                # summing across member 0's units counts one per
                # repetition
                grp_anchor_vars.setdefault(s.group, []).append(s.var)

        def _accept_negs(sub, neg_indices, edge_w=None):
            # accept-time negation checks: span + leading/trailing edges
            if edge_w is None:
                edge_w = w_ns
            okm = np.ones(len(sub), dtype=bool)
            for si in neg_indices:
                spec = alt.negs[si]
                if spec.kind == "span":
                    okm &= _span_ok(neg_positions[si], spec, store, sub, alt)
                else:
                    okm &= _edge_ok(
                        neg_positions[si], spec, store, sub, ts_ns, edge_w,
                        leading=(spec.kind == "leading"), bounds=bounds,
                    )
            return okm

        def _bind(sel, tag, vmap=None):
            scal = [(v if vmap is None else vmap[v], a.tolist()) for v, a in sel.scalar.items()]
            kle = [(v if vmap is None else vmap[v], a) for v, a in sel.kleene.items()]
            for j in range(len(sel)):
                b = {v: a[j] for v, a in scal}
                for v, a in kle:
                    b[v] = tuple(a[j])
                out.append((tag, b))
            out_grp.extend(sel.grp.tolist())

        def emit(sub: _Partials, state_sid):
            if alt.accept_tags is not None:
                # merged multi-pattern automaton: acceptance is per TAG
                # (merge.merge_compiled) — each tag applies its own
                # accept-time negs and renames canonical vars back to
                # the owning pattern's variable names.  Under MIXED
                # windows the merged automaton prunes at the max window,
                # so each tag re-checks span <= W_tag here (exact: see
                # merge.py module docstring) and bounds its edge-neg
                # intervals by its own window.
                for tag in alt.accept_tags.get(state_sid, ()):
                    tw = tag.w_ns if tag.w_ns is not None else w_ns
                    okm = _accept_negs(sub, tag.accept_negs, edge_w=tw)
                    if tag.w_ns is not None and (
                        w_ns is None or tag.w_ns < w_ns
                    ):
                        okm &= (
                            sub.first_ts
                            >= ts_ns[sub.last_pos] - tag.w_ns
                        )
                    _bind(sub.select(okm) if not okm.all() else sub, tag.key, tag.var_map)
                return
            okm = _accept_negs(sub, alt.span_negs)
            _bind(sub.select(okm) if not okm.all() else sub, alt.alt_id)

        # step schedule: firing events ordered by (rank within key, key)
        any_fire = np.zeros(n, dtype=bool)
        for m in slot_mask.values():  # masks may be shared: never in place
            np.logical_or(any_fire, m, out=any_fire)
        fire_pos = np.nonzero(any_fire)[0]
        if start:
            fire_pos = fire_pos[fire_pos >= start]
        sids = list(slot_mask)
        slot_k = {sid: k for k, sid in enumerate(sids)}
        fire_grp = np.searchsorted(bounds, fire_pos, side="right") - 1
        n_fire = np.bincount(fire_grp, minlength=n_groups)
        rank = np.arange(len(fire_pos)) - (np.cumsum(n_fire) - n_fire)[fire_grp]
        order = np.argsort(rank, kind="stable")
        step_pos, step_grp = fire_pos[order], fire_grp[order]
        offs = np.concatenate([[0], np.cumsum(np.bincount(rank))]).tolist()
        steps = list(zip(offs[:-1], offs[1:]))
        fire_mat = np.stack([slot_mask[sid][step_pos] for sid in sids])
        if steps:
            fire_any = np.logical_or.reduceat(fire_mat, offs[:-1], axis=1).T.tolist()
            fire_all = np.logical_and.reduceat(fire_mat, offs[:-1], axis=1).T.tolist()
        last_step = n_fire - 1
        n_steps = len(steps)
        # a key's partials leave the working tables after its last firing
        # step (keys with none never enter them), so every working row
        # belongs to a key stepping now
        retired = {sid: [] for sid in tables}

        def retire(done):
            for sid, tbl in tables.items():
                if len(tbl):
                    m = done[tbl.grp]
                    if m.any():
                        retired[sid].append(tbl.select(m))
                        tables[sid] = tbl.select(~m)

        if n_steps and (last_step < 0).any():
            retire(last_step < 0)
        ends = set(last_step[last_step >= 0].tolist())
        ends.discard(n_steps - 1)  # the final step's keys simply stay put

        trans = [
            (st, [
                (tr, slots[tr.slot],
                 {g: (o1, o2) for g, o1, o2 in tr.gap_pre} if tr.gap_pre else None)
                for tr in st.transitions
            ], [(ksid, kconds, slots[ksid]) for ksid, kconds in st.kleene_loops])
            for st in alt.states
        ]
        cur_g = np.zeros(n_groups, dtype=np.int64)  # group -> current event

        for t, (a, b) in enumerate(steps):
            ev, eg = step_pos[a:b], step_grp[a:b]
            cur_g[eg] = ev
            f_any, f_all = fire_any[t], fire_all[t]
            staged: dict = {}  # target state -> [_Partials], in stage order

            for st, st_trans, st_loops in trans:
                tbl = tables[st.sid]

                # initial transitions out of the empty state
                if st.sid == 0 and not st.bound:
                    for tr, s, _ in st_trans:
                        k = slot_k[tr.slot]
                        if not f_any[k]:
                            continue
                        pos, g = ev, eg
                        if not f_all[k]:
                            f = slot_mask[tr.slot][ev]
                            pos, g = ev[f], eg[f]
                        tup = _obj_array([(p,) for p in pos.tolist()])
                        npart = _Partials.of(
                            {v: pos for v in svars[tr.target]},
                            {v: tup for v in kvars[tr.target]},
                            pos, pos, ts_ns[pos], g,
                        )
                        staged.setdefault(tr.target, []).append(npart)
                        if tr.accepting:
                            emit(npart, tr.target)
                    continue

                if not len(tbl.first_pos):
                    continue
                cur = cur_g[tbl.grp]  # each row's key's current event
                # window expiry: partials that can no longer complete
                if w_ns is not None:
                    alive = tbl.first_ts >= ts_ns[cur] - w_ns
                    if not alive.all():
                        tbl = tbl.select(alive)
                        cur = cur[alive]
                        tables[st.sid] = tbl
                        if not len(tbl.first_pos):
                            continue

                # regular transitions
                for tr, s, gp in st_trans:
                    ptbl, pcur = _gate(slot_mask, slot_k, tr.slot, tbl, cur, f_any, f_all)
                    if ptbl is None:
                        continue
                    mask = _eval_conds(
                        tr.conds, store, ptbl, s.var, pcur,
                        var_group=var_group,
                        aligned=slot_aligned.get(tr.slot, ()),
                    )
                    if tr.loop_cont and s.adjacent is not None:
                        # unbounded nested Kleene (session 16):
                        # adjacent-pair condition between the run's
                        # consecutive chosen events — continue binds
                        # only (an entry bind starts a fresh run; the
                        # tuple's last element is always the CURRENT
                        # repetition's previous choice here)
                        prev_pos = _last_elems(ptbl.kleene[s.var], len(ptbl))
                        mask &= _eval_conds(
                            (s.adjacent,), store, ptbl, s.var, pcur,
                            extra_scalar={
                                f"{s.var}__prev": store.gather(prev_pos)
                            },
                        )
                    if tr.rep_start and s.kleene_max is not None:
                        # bounded composite under group lowering: cap
                        # the repetition count at the loop-back bind
                        # (SUM of the anchor position's branch tuple
                        # lengths — one bind per repetition; a branch
                        # never bound contributes 0; the anchor is the
                        # first NON-loop position, see grp_anchor_vars
                        # above)
                        lens = np.zeros(len(ptbl), dtype=np.int64)
                        for v in grp_anchor_vars[s.group]:
                            if v in ptbl.kleene:
                                lens += np.fromiter(
                                    (len(t) for t in ptbl.kleene[v]),
                                    dtype=np.int64, count=len(ptbl),
                                )
                        mask &= lens < s.kleene_max
                    for gi in tr.gap_negs:
                        mask &= _gap_ok(
                            neg_positions[gi], alt.negs[gi], store, ptbl, s.var, pcur,
                            bounds[ptbl.grp], pre_off=None if gp is None else gp.get(gi),
                        )
                    if not mask.any():
                        continue
                    if mask.all():
                        sub, last = ptbl, pcur
                    else:
                        sub, last = ptbl.select(mask), pcur[mask]
                    kleene = {}
                    for v in kvars[tr.target]:
                        if v not in sub.kleene:
                            kleene[v] = _obj_array([(c,) for c in last.tolist()])
                        elif tr.repeat and v == s.var:
                            kleene[v] = _appended(sub.kleene[v], last)
                        else:
                            kleene[v] = sub.kleene[v]
                    npart = _Partials.of(
                        {v: sub.scalar.get(v, last) for v in svars[tr.target]},
                        kleene, sub.first_pos, last, sub.first_ts, sub.grp,
                    )
                    staged.setdefault(tr.target, []).append(npart)
                    if tr.accepting:
                        emit(npart, tr.target)

                # kleene self-extension (take/skip fork: original rows stay)
                for ksid, kconds, s in st_loops:
                    ptbl, pcur = _gate(slot_mask, slot_k, ksid, tbl, cur, f_any, f_all)
                    if ptbl is None:
                        continue
                    mask = _eval_conds(kconds, store, ptbl, s.var, pcur)
                    if s.adjacent is not None:
                        # consecutive-chosen condition: prev = each
                        # partial's last chosen event, next = current
                        prev_pos = _last_elems(ptbl.kleene[s.var], len(ptbl))
                        mask &= _eval_conds(
                            (s.adjacent,), store, ptbl, s.var, pcur,
                            extra_scalar={f"{s.var}__prev": store.gather(prev_pos)},
                        )
                    if s.kleene_max is not None:
                        lens = np.fromiter(
                            (len(t) for t in ptbl.kleene[s.var]), dtype=np.int64,
                            count=len(ptbl),
                        )
                        mask &= lens < s.kleene_max
                    if not mask.any():
                        continue
                    if mask.all():
                        sub, last = ptbl, pcur
                    else:
                        sub, last = ptbl.select(mask), pcur[mask]
                    kleene = dict(sub.kleene)
                    kleene[s.var] = _appended(sub.kleene[s.var], last)
                    npart = _Partials.of(
                        dict(sub.scalar), kleene, sub.first_pos, last, sub.first_ts, sub.grp,
                    )
                    staged.setdefault(st.sid, []).append(npart)
                    if st.accepting:
                        emit(npart, st.sid)

            for target, parts in staged.items():
                old = tables[target]
                tables[target] = _Partials.concat(parts if not len(old.first_pos) else [old] + parts)
            if cap is not None:
                for sid, tbl in tables.items():
                    if len(tbl) > cap:
                        tables[sid] = _cap_rows(tbl, cap, n_groups, stats)
            if t in ends:
                retire(last_step == t)

        for sid in tables:
            tables[sid] = _Partials.concat(retired[sid] + [tables[sid]])
        tables_out[alt.alt_id] = tables

    grp = np.asarray(out_grp, dtype=np.int64)
    if n_groups > 1 and out:
        order = np.argsort(grp, kind="stable")
        out = [out[k] for k in order]
        grp = grp[order]
    return out, grp, tables_out


def _appended(tuples, last: np.ndarray) -> np.ndarray:
    """Each Kleene tuple with its row's ``last`` event appended."""
    return _obj_array([t + (c,) for t, c in zip(tuples, last.tolist())])


def _gate(slot_mask, slot_k, sid, tbl, cur, f_any, f_all):
    """Rows of ``tbl`` whose key's current event fires slot ``sid``
    (``f_any``/``f_all``: the step's per-slot any/every-key summary) and
    their current events; (None, None) when there are none."""
    k = slot_k[sid]
    if not f_any[k]:
        return None, None
    if f_all[k]:
        return tbl, cur
    f = slot_mask[sid][cur]
    if not f.any():
        return None, None
    return tbl.select(f), cur[f]


def _cap_rows(tbl: _Partials, cap: int, n_groups: int, stats) -> _Partials:
    """State guard: keep each key's newest ``cap`` rows of ``tbl``."""
    cnt = np.bincount(tbl.grp, minlength=n_groups)
    over = cnt - cap
    if not (over > 0).any():
        return tbl
    order = np.argsort(tbl.grp, kind="stable")
    rank = np.empty(len(tbl), dtype=np.int64)
    rank[order] = np.arange(len(tbl)) - (np.cumsum(cnt) - cnt)[tbl.grp[order]]
    if stats is not None:
        stats["dropped_partials"] = (
            stats.get("dropped_partials", 0) + int(over[over > 0].sum())
        )
    return tbl.select(rank >= over[tbl.grp])


# --------------------------------------------------------------------------
# Spark-facing wrappers


def match_schema_array(pat, emit_cols=("turn_idx", "role", "tool", "ts"), key_type=None):
    """key, pattern_id, alt_id, matched: array<struct<emit_cols>>."""
    from pyspark.sql import types as T

    field_type = {
        "turn_idx": T.IntegerType(),
        "role": T.StringType(),
        "tool": T.StringType(),
        "ts": T.TimestampType(),
        "event_id": T.LongType(),
        "event_type": T.StringType(),
        "value": T.DoubleType(),
        "var": T.StringType(),
    }
    struct = T.StructType(
        [T.StructField("var", T.StringType())]
        + [T.StructField(c, field_type.get(c, T.StringType())) for c in emit_cols]
    )
    return T.StructType(
        [
            T.StructField(pat.key, key_type if key_type is not None else T.StringType()),
            T.StructField("pattern_id", T.StringType()),
            T.StructField("alt_id", T.IntegerType()),
            T.StructField("matched", T.ArrayType(struct)),
        ]
    )


def matches_to_pdf_array(cp, gdf, key_val, emit_cols, res=None, cols=None):
    """Matcher output for one sorted group -> array-mode pdf.  ``res``
    overrides the match set (streaming passes the sealed subset);
    ``cols`` ({col: ndarray}) skips the pandas frame entirely (the
    partition executor already holds column arrays).

    Columnar: positions are flattened across matches, every emit column
    is gathered ONCE with NumPy fancy indexing, and the within-match
    (ts, tiebreak) sort is a single lexsort — no per-position ``.iloc``
    (~50x cheaper than the per-match dict loop it replaces; the flat
    path got the same treatment in round 2)."""
    pat = cp.pattern
    if res is None:
        res = match_group_nfa(cp, gdf)
    out_cols = [pat.key, "pattern_id", "alt_id", "matched"]
    if not res:
        return pd.DataFrame(columns=out_cols)
    if cols is None:
        need = set(emit_cols) | {pat.ts_col, pat.tiebreak_col}
        cols = {c: gdf[c].to_numpy() for c in gdf.columns if c in need}
    rows = array_match_rows(cp, repeat(key_val), emit_cols, res, cols)
    return pd.DataFrame(rows, columns=out_cols)


def array_match_rows(cp, key_vals, emit_cols, res, cols) -> list:
    """Array-mode rows as plain tuples (key, pattern_id, alt_id, matched)
    — the partition executor builds these for ALL groups at once and
    ONE pandas frame per partition (a frame per small group costs more
    than the gathers themselves).  ``key_vals`` holds each match's key;
    the bindings' positions index ``cols``."""
    if not res:
        return []
    pat = cp.pattern

    # flatten (match, var, position) triples
    pos_chunks, var_chunks, lens, alt_ids = [], [], [], []
    for alt_id, binding in res:
        alt = cp.alternatives[alt_id]
        mpos: list = []
        mvar: list = []
        for v in alt.var_order:
            p = binding.get(v)
            if p is None:
                continue  # Or_-branch var no repetition chose
            if isinstance(p, tuple):
                mpos.extend(p)
                mvar.extend([v] * len(p))
            else:
                mpos.append(p)
                mvar.append(v)
        pos_chunks.append(np.asarray(mpos, dtype=np.int64))
        var_chunks.append(mvar)
        lens.append(len(mpos))
        alt_ids.append(alt_id)
    lens = np.asarray(lens, dtype=np.int64)
    pos_flat = np.concatenate(pos_chunks)
    var_flat = np.empty(len(pos_flat), dtype=object)
    k = 0
    for mvar in var_chunks:
        var_flat[k : k + len(mvar)] = mvar
        k += len(mvar)
    mid = np.repeat(np.arange(len(res)), lens)

    # one lexsort orders every match's events by (ts, tiebreak) at once
    ts = cols[pat.ts_col][pos_flat]
    tb = cols[pat.tiebreak_col][pos_flat]
    order = np.lexsort((tb, ts, mid))
    pos_s = pos_flat[order]
    var_s = var_flat[order]

    # gather each emit column once; datetime64 -> python datetimes for
    # the struct payload (Arrow accepts those directly)
    names = ["var"] + list(emit_cols)
    gathered = [var_s.tolist()]
    for c in emit_cols:
        a = cols[c][pos_s]
        gathered.append(a.tolist())
    recs = [dict(zip(names, vals)) for vals in zip(*gathered)]
    offs = np.concatenate([[0], np.cumsum(lens)])
    pid = pat.pattern_id
    return [
        (key_val, pid, alt_ids[i], recs[offs[i] : offs[i + 1]])
        for i, key_val in zip(range(len(res)), key_vals)
    ]


def unit_matches(cp, res) -> list:
    """An execution unit's advance emissions keyed one way,
    ``((local pattern index, alt_id), binding)``: a merged automaton's
    tags already are (merge.merge_compiled); a one-pattern unit's alt
    ids belong to local pattern 0."""
    if cp.alternatives[0].accept_tags is not None:
        return res
    return [((0, a), b) for a, b in res]


def unit_rows(cps, res, key_vals, mode, emit_cols, cols) -> list:
    """Output rows of one execution unit's ``unit_matches``: each local
    pattern ``cps[li]``'s matches become flat rows (``mode='flat'``) or
    array rows with ``emit_cols``.  ``key_vals`` holds each match's
    key; the bindings' positions index ``cols``."""
    by_li: dict = {}
    for ((li, a), b), kv in zip(res, key_vals):
        kvs, ms = by_li.setdefault(li, ([], []))
        kvs.append(kv)
        ms.append((a, b))
    rows = []
    for li, (kvs, ms) in by_li.items():
        cp = cps[li]
        if mode == "flat":
            rows.extend(flat_match_rows(cp, kvs, ms, cols[cp.pattern.tiebreak_col]))
        else:
            rows.extend(array_match_rows(cp, kvs, emit_cols, ms, cols))
    return rows


def flat_columns(cp) -> list:
    """Flat-mode column names: key, alt_id, then per var its tiebreak
    column (kleene vars: len/first/last summary)."""
    pat = cp.pattern
    cols = [pat.key, "alt_id"]
    for v in cp.all_vars():
        if any(v in a.kleene_vars for a in cp.alternatives):
            cols += [f"{v}_len", f"{v}_first", f"{v}_last"]
        else:
            cols.append(f"{v}_{pat.tiebreak_col}")
    return cols


def match_schema_flat(cp, key_type=None):
    """The flat output schema of every executor (``run_batch(mode=
    "flat")``, ``stream_matches``, ``plan_join``): key + per-var
    tiebreak columns; kleene -> len/first/last summary.  Every column is
    nullable: ``applyInPandasWithState`` pads its output columns with
    nulls on state-only rows, so the streaming executor cannot declare a
    NOT NULL column, and ``plan_join`` widens its non-null literals
    (``alt_id``, an always-bound ``*_len``) to match."""
    from pyspark.sql import types as T

    key, _, *per_var = flat_columns(cp)
    return T.StructType(
        [T.StructField(key, key_type if key_type is not None else T.StringType()),
         T.StructField("alt_id", T.IntegerType())]
        + [T.StructField(c, T.LongType()) for c in per_var]
    )


def matches_to_pdf_flat(cp, gdf, key_val, res=None):
    if res is None:
        res = match_group_nfa(cp, gdf)
    rows = flat_match_rows(cp, repeat(key_val), res, gdf[cp.pattern.tiebreak_col].to_numpy())
    return pd.DataFrame(rows, columns=flat_columns(cp))


def flat_match_rows(cp, key_vals, res, tb) -> list:
    """Flat-mode rows as tuples (key, alt_id, per-var tiebreak columns;
    kleene -> len/first/last) — tuple rows are ~5x cheaper than dicts
    at millions of emissions per batch.  ``key_vals`` holds each
    match's key; the bindings' positions index ``tb``."""
    kleene_all = set()
    for a in cp.alternatives:
        kleene_all |= set(a.kleene_vars)
    var_is_kleene = [(v, v in kleene_all) for v in cp.all_vars()]
    rows = []
    for key_val, (alt_id, binding) in zip(key_vals, res):
        row = [key_val, alt_id]
        for v, is_k in var_is_kleene:
            p = binding.get(v)
            if is_k:
                if p is None:
                    row += [None, None, None]
                else:
                    pp = p if isinstance(p, tuple) else (p,)
                    row += [len(pp), int(tb[pp[0]]), int(tb[pp[-1]])]
            else:
                row.append(None if p is None else int(tb[p]))
        rows.append(tuple(row))
    return rows


def _guard_drops_acc(df, cap):
    """Spark accumulator receiving the state guard's dropped-partial
    count (None when the guard is off).  Attached to the returned
    DataFrame as ``.guard_drops`` — read ``.value`` after an action."""
    if cap is None:
        return None
    return df.sparkSession.sparkContext.accumulator(0)


def _flush_guard_stats(stats, acc):
    d = stats.get("dropped_partials", 0)
    if d:
        if acc is not None:
            acc.add(d)
        import logging

        logging.getLogger("cep_spark.guard").warning(
            "state guard dropped %d partial matches (results are a "
            "deterministic subset; raise max_partials_per_state for "
            "exact semantics)", d,
        )


def run_batch(df, cp: CompiledPattern, mode="flat", emit_cols=("turn_idx", "role", "tool", "ts"),
              assume_clustered=False, max_partials_per_state=None):
    """Batch NFA execution: repartition(key) +
    sortWithinPartitions(key, ts, tb) + ONE mapInPandas over each whole
    partition: unary conditions evaluated vectorized ONCE per partition,
    group boundaries found by key-change scan, ONE lockstep NFA advance
    over all key groups (``advance_groups``: one NumPy step per
    firing-event rank, not one Python iteration per event), one output
    frame per partition.  Small-group fixed costs (per-group pandas
    frames, per-group condition eval, per-group Arrow round trip,
    per-event interpreter overhead) amortize across the partition.
    Flat and array output both run as the one-pattern case of
    ``run_batch_multi``'s partition executor; only the row builder
    differs.

    It pushes the union of unary conditions + column pruning into the
    scan (Catalyst forwards them to parquet).

    ``assume_clustered=True`` skips the repartition(key) shuffle: the
    caller asserts every key's rows already live in one partition
    (bucketed table, pre-partitioned write, or an upstream exchange) —
    the zero-shuffle path scripts/demo_bucketing.py demonstrates for
    the join lowering, extended here to the NFA executor.

    ``max_partials_per_state`` (opt-in state guard, default None=exact):
    bound the per-key per-NFA-state partial-match tables, dropping the
    oldest partials deterministically on breach — see advance_groups.
    Drop counts surface on the returned DataFrame's ``guard_drops``
    accumulator (read ``.value`` after an action) and as executor-side
    warnings; never silent."""
    # the N=1 case of the partition-amortized multi executor
    return _run_batch_multi_partition(df, [cp], emit_cols, assume_clustered,
                                      cap=max_partials_per_state, mode=mode)


def prefilter(df, cp: CompiledPattern, extra_cols=()):
    """Scan-side reduction: keep only rows any slot/neg could use, and only
    the columns the pattern references (→ parquet predicate pushdown +
    column pruning via Catalyst).  The one-pattern prefilter_multi."""
    return prefilter_multi(df, [cp], extra_cols)


# --------------------------------------------------------------------------
# multi-pattern execution (SURVEY.md §2.3 E7: the reference's CEP() takes a
# pattern list; we run all compiled patterns in ONE scan + ONE shuffle)


def prefilter_multi(df, cps, extra_cols=()):
    """Union prefilter across patterns: a row survives if ANY pattern's
    slot/negation could use it; columns = union of referenced columns.
    The filter is one SQL predicate on unqualified column names (one
    Py4J round trip), which Catalyst pushes into a parquet scan."""
    ors = {}
    needed = set(extra_cols)
    for cp in cps:
        pat = cp.pattern
        needed |= {pat.key, pat.ts_col, pat.tiebreak_col}
        for v, cols in cp.needed_cols.items():
            needed.update(cols)
        for alt in cp.alternatives:
            for x in [*alt.slots, *alt.negs]:
                ors[_scan_sql(x.unary, x.var)] = None
    out = _select_names(df, [c for c in df.columns if c in needed])
    if ors:
        out = out.filter(" OR ".join(f"({c})" for c in ors))
    return out


def _scan_sql(cond, var):
    """``cond`` on ``var`` as SQL over unqualified columns, without its
    conjuncts that have no SQL form (UserPred): dropping a conjunct
    only keeps more rows, and the matcher applies the whole condition."""
    parts = []
    for c in cond.conjuncts():
        try:
            parts.append(c.sql({var: None}))
        except NotImplementedError:
            pass
    return " AND ".join(parts) or "TRUE"


def _select_names(df, names):
    """``df.select(*names)`` in a fixed number of Py4J round trips.
    ``df.select`` resolves each name through ``functions.col`` and adds
    it to a Java list, about five round trips a name; here the names
    cross as one newline-joined string, are split on the JVM, and go to
    ``Dataset.select(String, Seq<String>)``, which builds the same
    ``Column(name)`` per name — the plan and schema are unchanged."""
    if not names or any(not n or "\n" in n for n in names):
        return df.select(*names)
    from py4j.java_gateway import JavaClass

    sc = df.sparkSession.sparkContext
    client = sc._gateway._gateway_client
    tok = JavaClass("java.util.StringTokenizer", client)(
        "\n".join(names[1:]), "\n")
    rest = sc._jvm.PythonUtils.toSeq(
        JavaClass("java.util.Collections", client).list(tok))
    return type(df)(df._jdf.select(names[0], rest), df.sparkSession)


def run_batch_multi(df, cps, emit_cols=("turn_idx", "role", "tool", "ts"),
                    assume_clustered=False, max_partials_per_state=None):
    """Run N compiled patterns over one keyed scan: single shuffle,
    single sort, one matcher pass per execution unit; output is the
    array schema with ``pattern_id`` distinguishing the patterns.

    The units are ``merge.plan_units(cps)``: patterns that share a
    non-initial automaton state (and whose windows are within 16x of
    each other) run as ONE prefix-shared automaton
    (merge.merge_compiled) whose shared states advance once per event
    — windows may differ, with exact per-tag span re-checks at accept;
    every other pattern runs its own automaton.  Unary masks are shared
    across units via the cross-pattern predicate memo.

    All patterns must share (key, ts_col, tiebreak_col) and carry
    distinct ``Pattern.pattern_id`` values (ValueError otherwise).

    ``max_partials_per_state`` (run_batch) bounds each unit's state:
    per pattern state for a one-pattern unit, per MERGED state
    otherwise — a shared prefix state's table serves every pattern
    that owns it, so the cap bounds their combined partials once."""
    return _run_batch_multi_partition(df, cps, emit_cols, assume_clustered,
                                      cap=max_partials_per_state)


def _run_batch_multi_partition(df, cps, emit_cols, assume_clustered=False, cap=None,
                               mode="array"):
    """Partition-amortized execution of ``merge.plan_units(cps)`` (see
    run_batch_multi): each unit advances over all key groups of a
    partition; its emissions (``unit_matches``) are regrouped per
    pattern for row building.

    ``mode='flat'`` (one pattern: run_batch's flat output) builds flat
    rows and reads no emit columns."""
    from ._serde import ensure_shippable
    from .merge import plan_units

    units = plan_units(cps)  # validates the family before any df use
    ensure_shippable(df.sparkSession)
    p0 = cps[0].pattern
    key_type = df.schema[p0.key].dataType
    acc = _guard_drops_acc(df, cap)
    if mode == "flat":
        schema = match_schema_flat(cps[0], key_type)
        emit_cols = ()
    else:
        schema = match_schema_array(p0, emit_cols, key_type)
    base = prefilter_multi(df, cps, extra_cols=emit_cols)
    if assume_clustered:
        rep = base.sortWithinPartitions(p0.key, p0.ts_col, p0.tiebreak_col)
    else:
        rep = base.repartition(cpu_parallelism(df), p0.key).sortWithinPartitions(
            p0.key, p0.ts_col, p0.tiebreak_col
        )
    ts_col, key_col = p0.ts_col, p0.key

    def gen(batches):
        chunks = list(batches)
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True) if len(chunks) > 1 else chunks[0]
        n = len(pdf)
        if n == 0:
            return
        cols_all = {c: pdf[c].to_numpy() for c in pdf.columns}
        keys = cols_all[key_col]
        bounds = group_bounds(keys)
        ts_all = cols_all[ts_col].astype("datetime64[ns]").astype(np.int64)
        store = _ColStore.from_cols(cols_all)
        shared = {}  # one evaluation per distinct predicate across ALL units
        stats = {}
        rows = []
        for ucp, idxs in units:
            masks = unary_masks(ucp, cols_all, n, cache=shared)
            res, grp, _ = advance_groups(ucp, store, ts_all, masks, bounds,
                                         cap=cap, stats=stats)
            rows.extend(unit_rows([cps[i] for i in idxs], unit_matches(ucp, res),
                                  keys[bounds[grp]], mode, emit_cols, cols_all))
        _flush_guard_stats(stats, acc)
        if rows:
            yield pd.DataFrame(rows, columns=schema.fieldNames())

    out = rep.mapInPandas(gen, schema=schema)
    out.guard_drops = acc
    return out
