"""Multi-pattern prefix sharing: merge N compiled patterns into ONE NFA.

When a deployment runs many pattern queries over the same stream (the
reference's `CEP(eval_mechanism, [p1, p2, ...], events)` surface,
SURVEY.md §2.3 E7), patterns routinely share structure — a family of
funnels all starting `signup -> view`, fraud rules sharing a common
two-step prelude, etc.  Running each pattern's automaton independently
re-evaluates the shared prefix per pattern: the partial-match tables for
`(signup)` and `(signup, view)` are built K times for K funnels.  This
module builds the classic multi-query sharing structure (a trie-like
merged automaton — cf. the MCEP / "sharing in complex event processing"
line of work, e.g. Kolchinsky & Schuster VLDB'18 §multi-query and
SASE-style shared NFA prefixes): states that provably hold identical
partial-match tables are merged into one state advanced ONCE per event,
and acceptance becomes per-TAG (each tag names its owning pattern).

Soundness.  Slots, conditions and negations are canonicalized through
their ``sql()`` form with variables renamed positionally (the same
faithfulness contract ``batch.unary_masks`` already relies on — a Cond
must either emit unambiguous SQL or raise).  Two states merge only when
their signature matches on ALL of:

* the multiset of bound-slot signatures — each slot's unary condition,
  kleene-ness/cap/adjacent condition, composite-group role, structural
  position (sid) AND prerequisite set.  Prereqs are load-bearing: order
  constraints live in the reachability structure, not in conditions
  (``SEQ(a,b)`` and ``AND(a,b)`` have identical slots/conds but
  different prereqs and must not merge);
* the in-progress composite-repetition marker (``mid``);
* every multi-var conjunct whose variables are all bound at the state;
* every gap-negation already crossed (post_slots intersecting bound).

By induction over the event index, equal signatures imply bitwise-equal
partial tables (the incoming transition classes of equal-sig states are
equal), so the merge is exact — verified against independent per-pattern
execution by the parity tests (tests/test_merge.py) and the random
multi-pattern property sweep.

Accept-time negations (span / leading / trailing) do NOT affect partial
tables and therefore stay out of state signatures: they are applied per
tag at emission (batch.advance_groups emit).

All patterns must share (key, ts_col, tiebreak_col).  Windows may
DIFFER (round 4): the merged automaton runs under the MAX window (the
shared pruning horizon — so tables stay identical across tags and the
signature-equality induction still holds), and each ``AcceptTag``
carries its owning pattern's ``w_ns``; ``batch.advance_groups`` re-checks
``span <= W_tag`` at emission and bounds that tag's leading/trailing
negation intervals by ``W_tag``.  This is exact: the per-pattern
executor's window enforcement is "an event never extends a partial
whose first_ts is more than W old", and since events arrive in
``(ts, tiebreak)`` order a completed match violates that rule iff its
final span exceeds W — so post-filtering accepted bindings by span
reproduces per-pattern semantics bit-for-bit (parity-swept in
tests/test_merge.py mixed-window families).  The cost is retention:
short-window patterns' partials live to the max horizon before
pruning.  A window of ``None`` (unbounded) makes the shared horizon
unbounded too.
"""

from __future__ import annotations

from dataclasses import dataclass

from .compiler import (
    CompiledAlternative,
    CompiledPattern,
    NegSpec,
    Slot,
    State,
    Transition,
)

__all__ = [
    "merge_compiled",
    "plan_units",
    "retention_ns",
    "window_ns",
    "AcceptTag",
    "mergeable",
]

# A bucket's retention windows span at most this factor (plan_units).
WINDOW_SPREAD = 16


def window_ns(cp) -> int | None:
    """A pattern's window in ns (None = unbounded)."""
    w = cp.pattern.window
    return None if w is None else int(w.total_seconds() * 1e9)


def retention_ns(cp) -> int | None:
    """How long a pattern's events must stay in a key's buffer, in ns
    (None = unbounded): the window, or twice it when an alternative has
    BOTH leading and trailing negations — a match parked for its
    trailing-neg seal (first.ts + W > wm) can still be killed by a
    leading neg as old as last.ts - W > wm - 2W."""
    w_ns = window_ns(cp)
    if w_ns is None:
        return None
    for alt in cp.alternatives:
        kinds = {n.kind for n in alt.negs}
        if "trailing" in kinds and "leading" in kinds:
            return 2 * w_ns
    return w_ns


def plan_units(cps) -> list:
    """The execution units of a pattern family: ``[(unit_cp, idxs)]``,
    where ``idxs`` are the sorted GLOBAL indices of the patterns the
    unit runs and units are ordered by their smallest index.  Every
    multi-pattern executor (batch, window-sliced and streaming) runs
    exactly these units, so one rule decides which patterns share one
    prefix-shared automaton (Kolchinsky & Schuster, VLDB 2018).

    * The family is validated once: shared key / ts / tiebreak columns
      and distinct ``pattern_id`` values (ValueError otherwise).
    * Patterns are bucketed by retention window so a bucket's windows
      span at most ``WINDOW_SPREAD``: mixed-window sharing is exact,
      but the merged automaton keeps shared-prefix partials to the
      bucket's MAX window, so a 1h rule merged with a 7-day rule would
      hold the 1h rule's partials 168x longer than it needs
      (scripts/soak_stream_state.py --ab measures that state cost).
    * Each bucket splits into connected components of its merged
      automaton — patterns sharing at least one non-initial merged
      state.  In streaming, one Kleene-dense rule's rematch fallback
      then only drags rules it actually shares state with.
    * A one-pattern component is the pattern's own ``CompiledPattern``
      (never a one-pattern merge), so a single-pattern query runs the
      automaton the compiler built.

    The plan is deterministic for a fixed pattern list: streaming state
    keys partial tables on the unit index, and its format fingerprint
    covers the plan."""
    if not cps:
        raise ValueError("no patterns")
    if not mergeable(cps):
        raise ValueError("patterns must share key/ts/tiebreak columns")
    ids = [cp.pattern.pattern_id for cp in cps]
    if len(set(ids)) != len(ids):
        raise ValueError(f"pattern_id values must be distinct, got {ids}")
    ret = [retention_ns(cp) for cp in cps]
    buckets: list = []
    for i in sorted((i for i in range(len(cps)) if ret[i] is not None),
                    key=ret.__getitem__):
        if buckets and ret[i] <= WINDOW_SPREAD * ret[buckets[-1][0]]:
            buckets[-1].append(i)
        else:
            buckets.append([i])
    unbounded = [i for i in range(len(cps)) if ret[i] is None]
    if unbounded:
        buckets.append(unbounded)
    units = []
    for b in buckets:
        # LOCAL order by global index, so a unit's pattern order (and
        # its persisted tag indices) does not depend on window ties
        b.sort()
        units.extend(_components([cps[i] for i in b], b))
    units.sort(key=lambda u: u[1][0])
    return units


def _components(cps, idxs) -> list:
    """plan_units' units of one bucket (``idxs``: the global indices of
    ``cps``)."""
    if len(cps) == 1:
        return [(cps[0], idxs)]
    full = merge_compiled(cps)
    parent = list(range(len(cps)))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for sid, own in full.alternatives[0].state_owners.items():
        if sid == 0:
            continue  # the empty state is shared by construction
        it = iter(sorted(own))
        f = find(next(it))
        for o in it:
            r = find(o)
            if r != f:
                parent[max(r, f)] = min(r, f)
                f = min(r, f)
    comps: dict = {}
    for i in range(len(cps)):
        comps.setdefault(find(i), []).append(i)
    if len(comps) == 1:
        # the common case pays ONE merge: the full automaton IS the
        # component's automaton
        return [(full, idxs)]
    # Re-merge per component rather than filtering the full automaton
    # down: filtering needs a full sid/state/neg renumbering pass, the
    # per-component merges are strictly smaller inputs, and a merged
    # component stays one component (sharing is pairwise).
    return [
        u for c in comps.values()
        for u in _components([cps[j] for j in c], [idxs[j] for j in c])
    ]

# (mixed-window sharing cost model, for the curious: under W_max the
# shared prefix tables hold partials that a short-window pattern would
# already have pruned; the extra work is bounded by the event density
# in (W_tag, W_max] per start, and scripts/bench_merge.py's
# mixed_window workload shows the sharing win surviving a 16x window
# spread on a prefix-dominated family.)


@dataclass(frozen=True)
class AcceptTag:
    """One pattern's acceptance at a merged state."""

    key: tuple  # (pattern_index, original alt_id) — emission tag
    var_map: dict  # canonical var -> original var (all slots of the alt)
    accept_negs: tuple  # indices into the merged alternative's negs
    # the owning pattern's window in ns (None = unbounded).  The merged
    # automaton prunes at the MAX window; advance_groups re-checks
    # span <= w_ns per tag at emission and bounds this tag's edge-neg
    # intervals by it.
    w_ns: int | None = None


def _canon_br_guard(br_guard, cmap) -> tuple:
    """NegSpec.br_guard renamed to canonical vars: the branch's last
    leaf first, then the position's vars as a sorted set (the gate only
    takes their max, and the compiler's order follows original names)."""
    if not br_guard:
        return ()
    return (cmap[br_guard[0]],) + tuple(sorted(cmap[v] for v in br_guard[1:]))


def _cond_sig(cond, cmap):
    """Canonical signature of a condition under a variable renaming.

    Conditions with no SQL form (UserPred) canonicalize by OBJECT
    IDENTITY: two alternatives share through such a condition only when
    they hold the very same Python object (same semantics by
    construction); distinct objects never compare equal, so states
    touching them simply don't merge."""
    try:
        return cond.sql(cmap)
    except Exception:
        return ("unshared", id(cond))


def mergeable(cps) -> bool:
    """True when the patterns can share one merged automaton: same key /
    ts / tiebreak columns.  Windows may differ — the merge runs under
    the max window with per-tag span re-checks at accept."""
    p0 = cps[0].pattern
    return all(
        (cp.pattern.key, cp.pattern.ts_col, cp.pattern.tiebreak_col)
        == (p0.key, p0.ts_col, p0.tiebreak_col)
        for cp in cps[1:]
    )


def merge_compiled(cps) -> CompiledPattern:
    """Merge compiled patterns into one CompiledPattern with a single
    merged alternative carrying ``accept_tags``.

    The result runs through ``batch.advance_groups`` unchanged: emissions
    are ``(tag.key, binding)`` = ``((pattern_index, alt_id), {orig_var:
    pos})`` instead of ``(alt_id, binding)``."""
    from .conditions import subst

    if not cps:
        raise ValueError("no patterns")
    if not mergeable(cps):
        raise ValueError(
            "merge_compiled requires identical key/ts/tiebreak columns "
            "across patterns"
        )
    w_ns_of = [window_ns(cp) for cp in cps]
    # shared pruning horizon = max window (None = unbounded wins)
    shared_window = (
        None if any(w is None for w in (cp.pattern.window for cp in cps))
        else max(cp.pattern.window for cp in cps)
    )

    m_slots: list = []  # merged Slot objects
    slot_of_sig: dict = {}  # slot sig -> merged slot
    gid_of_key: dict = {}  # group key (member slot sigs) -> merged gid
    m_negs: list = []  # merged NegSpec objects
    neg_of_sig: dict = {}  # neg sig -> merged index
    m_states: list = []  # merged State objects
    state_of_sig: dict = {}  # state sig -> merged State
    tr_seen: dict = {}  # (src sid) -> set of transition sigs
    loop_seen: dict = {}  # (src sid) -> set of kleene-loop sigs
    tags: dict = {}  # merged sid -> list[AcceptTag]
    owners: dict = {}  # merged sid -> set of owning pattern indices

    for cpi, cp in enumerate(cps):
        for alt in cp.alternatives:
            if alt.accept_tags is not None:
                raise ValueError("cannot merge an already-merged pattern")

            # ---- slot signatures (canonical var names per structural sid).
            # Group slots must not share across DIFFERENT groups — a
            # group's identity is its full member list (the first
            # sub-slot of Kleene(Seq(u,u)) and Kleene(Seq(u,t)) is
            # otherwise indistinguishable), so the whole group's member
            # base-signature tuple is folded into each member's final
            # signature (and keys the merged group id).
            cmap0 = {s.var: f"v{s.sid}" for s in alt.slots}
            for s in alt.slots:
                if s.adjacent is not None:
                    cmap0[f"{s.var}__prev"] = f"v{s.sid}__prev"
            base_sig = {}
            for s in alt.slots:
                base_sig[s.sid] = (
                    s.sid,
                    _cond_sig(s.unary, {s.var: "e"}),
                    s.kleene,
                    s.kleene_max,
                    None if s.adjacent is None else _cond_sig(s.adjacent, cmap0),
                    s.group,
                    s.grp_idx,
                    s.br,
                    s.br_idx,
                    s.br_len,
                    # unit ownership: a branch unit of member m must not
                    # merge with a plain member of the same event layout
                    s.mem,
                    tuple(sorted(s.prereq)),
                ) + (
                    # unbounded nested Kleene position (session 16) —
                    # appended conditionally so signatures of loop-free
                    # families (all existing checkpoints) are
                    # unchanged.  A loop slot must never merge with a
                    # plain position of the same layout: merged states
                    # union transitions, and the loop's continue
                    # self-loops would leak into the plain pattern's
                    # tags.
                    ("K",) if s.grp_loop else ()
                )

            # merged group ids (per distinct member base-signature tuple)
            m_gid: dict = {}
            gkey_of: dict = {}
            by_group: dict = {}
            for s in alt.slots:
                if s.group is not None:
                    by_group.setdefault(s.group, []).append(s)
            for g, members in by_group.items():
                members.sort(key=lambda s: s.grp_idx)
                gkey = tuple(base_sig[s.sid] for s in members)
                if gkey not in gid_of_key:
                    gid_of_key[gkey] = len(gid_of_key)
                m_gid[g] = gid_of_key[gkey]
                gkey_of[g] = gkey

            slot_sig = {
                s.sid: base_sig[s.sid]
                + ((gkey_of[s.group],) if s.group is not None else (None,))
                for s in alt.slots
            }

            # ---- get-or-create merged slots; canonical var map for conds
            m_slot: dict = {}  # orig sid -> merged Slot
            for s in alt.slots:
                sig = slot_sig[s.sid]
                ms = slot_of_sig.get(sig)
                if ms is None:
                    msid = len(m_slots)
                    ms = Slot(
                        msid,
                        f"v{msid}",
                        subst(s.unary, {s.var: f"v{msid}"}),
                        s.kleene,
                        s.kleene_max,
                        frozenset(),  # prereq: compiler-only, unused by executors
                        None
                        if s.adjacent is None
                        else subst(
                            s.adjacent,
                            {s.var: f"v{msid}", f"{s.var}__prev": f"v{msid}__prev"},
                        ),
                        None if s.group is None else m_gid[s.group],
                        s.grp_idx,
                        s.br,
                        s.br_idx,
                        s.br_len,
                        s.mem,
                        s.grp_loop,
                    )
                    m_slots.append(ms)
                    slot_of_sig[sig] = ms
                m_slot[s.sid] = ms
            cmap = {s.var: m_slot[s.sid].var for s in alt.slots}
            for s in alt.slots:
                if s.adjacent is not None:
                    cmap[f"{s.var}__prev"] = f"{m_slot[s.sid].var}__prev"

            # ---- merged negation specs
            m_neg_idx: dict = {}  # orig neg index -> merged index
            neg_sig = {}
            for ni, spec in enumerate(alt.negs):
                msigs = [_cond_sig(c, {**cmap, spec.var: "n"}) for c in spec.multi]
                nsig = (
                    spec.kind,
                    spec.per_repeat,
                    spec.repeat_only,
                    _cond_sig(spec.unary, {spec.var: "n"}),
                    tuple(sorted(msigs, key=str)),
                    tuple(sorted(m_slot[x].sid for x in spec.post_slots)),
                    tuple(sorted(cmap[v] for v in spec.pre_vars)),
                    # branch gate of a trailing-in-branch Neg (round 5):
                    # part of spec identity — two specs differing only
                    # in the guarded branch must not merge
                    _canon_br_guard(spec.br_guard, cmap),
                ) + (
                    # member-scoped gap (session 8) changes evaluation
                    # (mid-position firing) — appended conditionally so
                    # signatures of mem_gap-free families are unchanged
                    ("M",) if spec.mem_gap else ()
                ) + (
                    # leading member gap (per-transition boundary
                    # override) — same conditional rule
                    ("L",) if spec.mem_lead else ()
                )
                neg_sig[ni] = nsig
                mi = neg_of_sig.get(nsig)
                if mi is None:
                    mi = len(m_negs)
                    nvar = f"n{mi}"
                    m_negs.append(
                        NegSpec(
                            nvar,
                            subst(spec.unary, {spec.var: nvar}),
                            tuple(
                                subst(c, {**cmap, spec.var: nvar})
                                for c in spec.multi
                            ),
                            spec.kind,
                            frozenset(m_slot[x].sid for x in spec.post_slots),
                            per_repeat=spec.per_repeat,
                            repeat_only=spec.repeat_only,
                            pre_vars=tuple(sorted(cmap[v] for v in spec.pre_vars)),
                            br_guard=_canon_br_guard(spec.br_guard, cmap),
                            mem_gap=spec.mem_gap,
                            mem_lead=spec.mem_lead,
                        )
                    )
                    neg_of_sig[nsig] = mi
                m_neg_idx[ni] = mi

            # ---- per-state multi-var conjunct universe (for signatures):
            # every conjunct attached to any transition / kleene loop,
            # deduplicated by canonical SQL
            alt_conds: dict = {}  # canonical sig -> orig Cond

            def _note(c):
                sig = _cond_sig(c, cmap)
                if sig not in alt_conds:
                    alt_conds[sig] = c

            for st in alt.states:
                for tr in st.transitions:
                    for c in tr.conds:
                        _note(c)
                for _, kconds in st.kleene_loops:
                    for c in kconds:
                        _note(c)

            var_of_sid = {s.sid: s.var for s in alt.slots}

            def _conds_within(bound):
                bvars = frozenset(var_of_sid[x] for x in bound)
                return tuple(
                    sorted(
                        (sig for sig, c in alt_conds.items() if c.vars() <= bvars),
                        key=str,
                    )
                )

            # ---- state signatures & merged states
            st_of: dict = {}  # orig sid -> merged State
            for st in alt.states:
                ssig = (
                    frozenset(slot_sig[x] for x in st.bound),
                    # mid values are ints or tuples (branch / And_-
                    # position progress) — normalize for cross-type
                    # sorting
                    tuple(sorted(((m_gid[g], i) for g, i in st.mid),
                                 key=lambda x: (x[0], str(x[1])))),
                    _conds_within(st.bound),
                    tuple(
                        sorted(
                            (neg_sig[ni] for ni in range(len(alt.negs))
                             if alt.negs[ni].kind == "gap"
                             and (alt.negs[ni].post_slots & st.bound)),
                            key=str,
                        )
                    ),
                )
                mst = state_of_sig.get(ssig)
                if mst is None:
                    mst = State(
                        len(m_states),
                        frozenset(m_slot[x].sid for x in st.bound),
                        mid=frozenset((m_gid[g], i) for g, i in st.mid),
                    )
                    m_states.append(mst)
                    state_of_sig[ssig] = mst
                    tr_seen[mst.sid] = {}
                    loop_seen[mst.sid] = set()
                st_of[st.sid] = mst
                owners.setdefault(mst.sid, set()).add(cpi)
                if st.accepting:
                    tags.setdefault(mst.sid, []).append(
                        AcceptTag(
                            (cpi, alt.alt_id),
                            {m_slot[s.sid].var: s.var for s in alt.slots},
                            tuple(m_neg_idx[ni] for ni in alt.span_negs),
                            w_ns=w_ns_of[cpi],
                        )
                    )
            # every alternative's empty state MUST land on merged sid 0:
            # advance_groups fires initial transitions only from sid 0, so a
            # diverged empty-state signature would silently never start
            # this alternative's automaton.  (Unreachable today — the
            # empty state's signature components are all trivially equal —
            # but cheap insurance against future signature extensions.)
            if st_of[alt.states[0].sid].sid != 0:
                raise AssertionError(
                    "merge_compiled: empty states failed to unify"
                )

            # ---- transitions & kleene loops (dedup per merged source)
            for st in alt.states:
                mst = st_of[st.sid]
                for tr in st.transitions:
                    # per-transition leading-member-gap boundary
                    # override (renamed to canonical vars, spec indices
                    # remapped) — appended to the signature
                    # conditionally so gap_pre-free families keep their
                    # signatures
                    # (the boundary is a max over each var set, so the
                    # sets are sorted AFTER renaming: the compiler
                    # sorts original names, and two patterns identical
                    # up to renaming must produce one signature, not
                    # two duplicate transitions)
                    m_gap_pre = tuple(sorted(
                        (m_neg_idx[g],
                         tuple(sorted(cmap[v] for v in o1)),
                         tuple(sorted(cmap[v] for v in o2)))
                        for g, o1, o2 in tr.gap_pre
                    ))
                    tsig = (
                        m_slot[tr.slot].sid,
                        st_of[tr.target].sid,
                        tuple(sorted((_cond_sig(c, cmap) for c in tr.conds), key=str)),
                        tuple(sorted(m_neg_idx[g] for g in tr.gap_negs)),
                        tr.repeat,
                        tr.rep_start,
                    ) + ((m_gap_pre,) if m_gap_pre else ()) + (
                        # continue self-loop of an unbounded nested
                        # Kleene (session 16) — conditional so
                        # loop-free signatures are unchanged
                        ("LC",) if tr.loop_cont else ()
                    )
                    if tsig not in tr_seen[mst.sid]:
                        tr_seen[mst.sid][tsig] = True
                        mst.transitions.append(
                            Transition(
                                m_slot[tr.slot].sid,
                                st_of[tr.target].sid,
                                tuple(subst(c, cmap) for c in tr.conds),
                                tuple(sorted(m_neg_idx[g] for g in tr.gap_negs)),
                                False,  # accepting resolved from tags below
                                tr.repeat,
                                tr.rep_start,
                                m_gap_pre,
                                tr.loop_cont,
                            )
                        )
                for ksid, kconds in st.kleene_loops:
                    lsig = (
                        m_slot[ksid].sid,
                        tuple(sorted((_cond_sig(c, cmap) for c in kconds), key=str)),
                    )
                    if lsig not in loop_seen[mst.sid]:
                        loop_seen[mst.sid].add(lsig)
                        mst.kleene_loops.append(
                            (m_slot[ksid].sid, tuple(subst(c, cmap) for c in kconds))
                        )

    # acceptance: a merged state/transition accepts iff it has tags
    tag_map = {sid: tuple(ts) for sid, ts in tags.items()}
    for st in m_states:
        st.accepting = st.sid in tag_map
        st.transitions = [
            Transition(t.slot, t.target, t.conds, t.gap_negs,
                       t.target in tag_map, t.repeat, t.rep_start,
                       t.gap_pre, t.loop_cont)
            for t in st.transitions
        ]

    var_group = {s.var: s.group for s in m_slots if s.group is not None}
    merged_alt = CompiledAlternative(
        0,
        m_slots,
        m_states,
        m_negs,
        (),  # span_negs handled per tag
        [s.var for s in m_slots],
        frozenset(s.var for s in m_slots if s.kleene),
        var_group,
        accept_tags=tag_map,
        state_owners={sid: frozenset(o) for sid, o in owners.items()},
    )
    needed: dict = {}
    for cp in cps:
        for v, cols in cp.needed_cols.items():
            needed.setdefault(v, set()).update(cols)
    from dataclasses import replace as _dc_replace

    return CompiledPattern(
        # ts/key/tiebreak are shared by contract; the merged automaton
        # prunes at the MAX window (per-tag spans re-checked at accept)
        _dc_replace(cps[0].pattern, window=shared_window),
        [merged_alt],
        {v: sorted(c) for v, c in needed.items()},
    )
