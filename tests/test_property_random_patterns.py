"""Property-based testing: RANDOM pattern ASTs (not just the fixed
corpus) against the brute-force replica on random event groups.

Complements test_nfa_vs_replica's fixed corpus: hypothesis explores the
operator-composition space (nesting, Kleene placement, negation
scopes, condition mixes) far beyond hand-written cases."""

from __future__ import annotations

from datetime import timedelta

import numpy as np
import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from cep_spark.batch import match_group_nfa
from cep_spark.compiler import compile_pattern
from cep_spark.conditions import TRUE, attr, lit
from cep_spark.pattern import And_, Ev, Kleene, Neg, Or_, Pattern, Seq
from oracle_cep import match_group

ROLES = ["user", "assistant", "tool"]
_var_counter = [0]


def _fresh(prefix):
    _var_counter[0] += 1
    return f"{prefix}{_var_counter[0]}"


@st.composite
def leaf(draw):
    name = _fresh("v")
    role = draw(st.sampled_from(ROLES))
    return Ev(name, role=role)


@st.composite
def seq_node(draw, depth):
    parts = []
    n = draw(st.integers(2, 3))
    for i in range(n):
        kind = draw(st.sampled_from(["leaf", "kleene", "neg", "nested"]))
        if kind == "neg":
            # any position: interior = gap neg; first/last at the root =
            # leading/trailing (compile-rejected without a window — the
            # test's except path covers that branch)
            parts.append(Neg(draw(leaf())))
            continue
        if kind == "kleene":
            parts.append(draw(kleene_node()))
        elif kind == "nested" and depth > 0:
            parts.append(draw(node(depth - 1)))
        else:
            parts.append(draw(leaf()))
    return Seq(*parts)


@st.composite
def kleene_node(draw):
    """Leaf Kleene (sometimes with an adjacent-pair condition), a
    bounded composite Kleene (chain expansion), or an UNBOUNDED
    composite Kleene (group lowering: NFA sub-automaton repetition) —
    including Negs between/leading/trailing the repetition and Kleene
    over And_ (round 4).  Placements the compiler rejects (leading Neg
    with no left boundary, trailing Neg at the root without a window,
    Negs bubbling into And_) exercise the test's except path."""
    shape = draw(st.sampled_from(
        ["leaf", "leaf", "adjacent", "composite", "group",
         "group_neg", "group_lead_neg", "group_trail_neg", "and_group",
         "group_or", "group_or_neg", "group_bare_or", "group_seq_or",
         "group_seq_or_neg", "group_br_neg", "group_and_pos",
         "group_and_pos_neg", "group_and_pos_seqmem",
         "group_and_pos_mem_neg", "group_and_pos_or_mem",
         "group_bare_and_mem", "group_dist_or", "group_loop"]
    ))
    if shape == "group_loop":
        # session 16: an UNBOUNDED leaf Kleene nested inside the
        # unbounded repetition — a looping position (Slot.grp_loop) at
        # any placement, including position 0 (session 17); random
        # WHERE conjuncts pairing the loop var with a group mate are
        # compile-rejected (the test's except path), as is an all-loop
        # body (no repetition-count anchor)
        inner = Kleene(draw(leaf()), max_len=None)
        variant = draw(st.sampled_from(
            ["tail", "mid", "neg_before", "neg_after", "two", "pos0",
             "pos0_trail", "all_loop", "unit", "unit_first"]
        ))
        if variant in ("unit", "unit_first"):
            # session 18: an UNBOUNDED COMPOSITE (Seq-of-leaves) nested
            # Kleene — a looping UNIT position (re-entry through the
            # unit's first leaf); also at position 0, and (session 19)
            # sometimes with a Neg BETWEEN the unit's leaves
            if draw(st.booleans()):
                unit = Kleene(Seq(draw(leaf()), Neg(draw(leaf())),
                                  draw(leaf())), max_len=None)
            else:
                unit = Kleene(Seq(draw(leaf()), draw(leaf())),
                              max_len=None)
            if variant == "unit_first":
                return Kleene(Seq(unit, draw(leaf())), max_len=None)
            return Kleene(Seq(draw(leaf()), unit), max_len=None)
        if variant == "tail":
            return Kleene(Seq(draw(leaf()), inner), max_len=None)
        if variant == "mid":
            return Kleene(Seq(draw(leaf()), inner, draw(leaf())),
                          max_len=None)
        if variant == "neg_before":
            return Kleene(Seq(draw(leaf()), Neg(draw(leaf())), inner),
                          max_len=None)
        if variant == "neg_after":
            return Kleene(Seq(draw(leaf()), inner, Neg(draw(leaf())),
                              draw(leaf())), max_len=None)
        if variant == "two":
            return Kleene(
                Seq(draw(leaf()), inner,
                    Kleene(draw(leaf()), max_len=None)),
                max_len=None)
        if variant == "pos0_trail":
            # loop STARTS the body with a trailing Neg after the
            # anchor position (loop-back gap + bubbled gap)
            return Kleene(Seq(inner, draw(leaf()), Neg(draw(leaf()))),
                          max_len=None)
        if variant == "all_loop":
            # every position a loop: no repetition-count anchor —
            # compile-rejected (the except path)
            return Kleene(
                Seq(inner, Kleene(draw(leaf()), max_len=None)),
                max_len=None)
        return Kleene(Seq(inner, draw(leaf())), max_len=None)  # pos0
    if shape == "group_dist_or":
        # session 12: an Or_ NESTED inside a Seq branch (of an Or_
        # position) or a Seq member (of an And_ position) — distributed
        # at compile time into flat __d{k}-renamed units (the canon
        # merges them back; a random WHERE pairing two choice vars from
        # different units is compile-rejected: the except path)
        variant = draw(st.sampled_from(["branch", "member", "and_unit",
                                        "and_ext"]))
        if variant == "and_unit":
            # phase C: an all-leaf And_ inside (or as) a branch —
            # distributed over orderings
            unit = And_(draw(leaf()), draw(leaf()))
            if draw(st.booleans()):
                unit = Seq(draw(leaf()), unit)
            return Kleene(
                Seq(draw(leaf()), Or_(unit, draw(leaf()))), max_len=None)
        if variant == "and_ext":
            # session 13: an And_ with a SEQ member inside a unit —
            # distributed over LINEAR EXTENSIONS (the member's leaves
            # stay ordered, blocks interleave) — or a nested And_
            # MEMBER of an And_ position (an Or_ member of its
            # interleavings).  Session 14: the Seq member may carry a
            # Neg BETWEEN its leaves or LEADING it — re-inserted into
            # every sub-gap of each extension (bound events are
            # excluded from gap kills, so the sub-gap union equals the
            # member interval exactly)
            if draw(st.booleans()):
                neg_kind = draw(st.sampled_from(["none", "mid", "lead"]))
                if neg_kind == "mid":
                    mem = Seq(draw(leaf()), Neg(draw(leaf())), draw(leaf()))
                elif neg_kind == "lead":
                    mem = Seq(Neg(draw(leaf())), draw(leaf()), draw(leaf()))
                else:
                    mem = Seq(draw(leaf()), draw(leaf()))
                blk = And_(mem, draw(leaf()))
                return Kleene(
                    Seq(draw(leaf()), Or_(blk, draw(leaf()))),
                    max_len=None)
            return Kleene(
                Seq(draw(leaf()),
                    And_(And_(draw(leaf()), draw(leaf())), draw(leaf()))),
                max_len=None)
        inner_or = Or_(draw(leaf()), draw(leaf()))
        if variant == "branch":
            return Kleene(
                Seq(draw(leaf()),
                    Or_(Seq(draw(leaf()), inner_or), draw(leaf()))),
                max_len=None)
        return Kleene(
            Seq(draw(leaf()),
                And_(Seq(draw(leaf()), inner_or), draw(leaf()))),
            max_len=None)
    if shape == "group":
        return Kleene(Seq(draw(leaf()), draw(leaf())), max_len=None)
    if shape == "group_or":
        # round 5: Or_ of plain leaves at a repetition position — each
        # repetition binds one branch (branch sub-slots); a random WHERE
        # pairing a branch var with a same-group mate is compile-rejected
        # (the test's except path)
        return Kleene(
            Seq(draw(leaf()), Or_(draw(leaf()), draw(leaf()))), max_len=None
        )
    if shape == "group_bare_or":
        # bounded here: the replica bounds an UNBOUNDED bare Or_ at n
        # repetitions (arity 1), whose chain expansion is exponential —
        # the unbounded path has its own dedicated replica test
        # (test_group_kleene.test_kleene_bare_or_vs_replica)
        return Kleene(Or_(draw(leaf()), draw(leaf())), max_len=2)
    if shape == "group_seq_or":
        # round 5, session 2: a multi-event (Seq) branch at a
        # repetition position — the chosen branch binds its events in
        # order before the position completes
        return Kleene(
            Seq(draw(leaf()),
                Or_(Seq(draw(leaf()), draw(leaf())), draw(leaf()))),
            max_len=None,
        )
    if shape == "group_seq_or_neg":
        # ... with a per-repetition gap Neg guarding the branch
        # position's entry bind
        return Kleene(
            Seq(draw(leaf()), Neg(draw(leaf())),
                Or_(Seq(draw(leaf()), draw(leaf())), draw(leaf()))),
            max_len=None,
        )
    if shape == "group_br_neg":
        # session 4: Neg BETWEEN two leaves OF a Seq branch, or LEADING
        # the branch — the gap guarded in exactly the repetitions that
        # chose the branch (a leading branch Neg at a no-anchor first
        # position is compile-rejected: the test's except path);
        # session 5: TRAILING the branch (gap OUT of the branch, gated
        # by NegSpec.br_guard on which branch owns the latest bind)
        placement = draw(st.sampled_from(["mid", "lead", "trail"]))
        if placement == "mid":
            br = Seq(draw(leaf()), Neg(draw(leaf())), draw(leaf()))
        elif placement == "lead":
            br = Seq(Neg(draw(leaf())), draw(leaf()), draw(leaf()))
        else:
            br = Seq(draw(leaf()), draw(leaf()), Neg(draw(leaf())))
        # the branch position sometimes LAST (loop-back + bubbled gap)
        # and sometimes not (gap to the next position's bind)
        if draw(st.booleans()):
            return Kleene(
                Seq(draw(leaf()), Or_(br, draw(leaf()))), max_len=None
            )
        return Kleene(
            Seq(Or_(br, draw(leaf())), draw(leaf())), max_len=None
        )
    if shape == "group_or_neg":
        return Kleene(
            Seq(draw(leaf()), Neg(draw(leaf())),
                Or_(draw(leaf()), draw(leaf()))),
            max_len=None,
        )
    if shape == "group_and_pos":
        # session 6: And_ at a repetition position — every repetition
        # binds EVERY member, in any arrival order, between the
        # neighbouring positions' binds; the position sometimes FIRST
        # (conjunctive loop-back entry through any member)
        if draw(st.booleans()):
            return Kleene(
                Seq(draw(leaf()), And_(draw(leaf()), draw(leaf()))),
                max_len=None,
            )
        return Kleene(
            Seq(And_(draw(leaf()), draw(leaf())), draw(leaf())),
            max_len=None,
        )
    if shape == "group_and_pos_seqmem":
        # session 7: a Seq-of-leaves MEMBER inside the And_ position —
        # its events bind in order, interleaving freely with siblings;
        # sometimes with a gap Neg on either side of the position
        mem = Seq(draw(leaf()), draw(leaf()))
        pos = And_(mem, draw(leaf()))
        variant = draw(st.sampled_from(["plain", "first", "neg"]))
        if variant == "plain":
            return Kleene(Seq(draw(leaf()), pos), max_len=None)
        if variant == "first":
            return Kleene(Seq(pos, draw(leaf())), max_len=None)
        return Kleene(
            Seq(draw(leaf()), Neg(draw(leaf())), pos), max_len=None
        )
    if shape == "group_and_pos_mem_neg":
        # session 8: a Neg INSIDE the Seq member — interior (between
        # the member's leaves) or leading (gap into the member);
        # sometimes at the FIRST position (the anchor-less initial
        # placement exercises the reject path)
        variant = draw(st.sampled_from(["interior", "lead", "lead_first"]))
        if variant == "interior":
            mem = Seq(draw(leaf()), Neg(draw(leaf())), draw(leaf()))
        else:
            mem = Seq(Neg(draw(leaf())), draw(leaf()), draw(leaf()))
        pos = And_(mem, draw(leaf()))
        if variant == "lead_first":
            return Kleene(Seq(pos, draw(leaf())), max_len=None)
        return Kleene(Seq(draw(leaf()), pos), max_len=None)
    if shape == "group_bare_and_mem":
        # session 10: a BARE And_ body with non-leaf members — one
        # conjunctive position; sometimes with an interior member Neg.
        # (A bounded leaf Kleene member is covered by the dedicated
        # flattened-set parity test instead — its chain units
        # decompose the variable differently from the replica's
        # leaf-Kleene slots, so the name-folding canon here cannot
        # compare them.)
        variant = draw(st.sampled_from(["seq", "or", "neg", "lead_neg"]))
        if variant == "seq":
            mem = Seq(draw(leaf()), draw(leaf()))
        elif variant == "or":
            mem = Or_(draw(leaf()), draw(leaf()))
        elif variant == "lead_neg":
            # session 11: LEADING member Neg — the single-position
            # boundary override (Transition.gap_pre); pattern-initial
            # placements exercise the reject path
            mem = Seq(Neg(draw(leaf())), draw(leaf()), draw(leaf()))
        else:
            mem = Seq(draw(leaf()), Neg(draw(leaf())), draw(leaf()))
        return Kleene(And_(mem, draw(leaf())), max_len=None)
    if shape == "group_and_pos_or_mem":
        # session 9: an Or_ MEMBER of the And_ position — each
        # repetition binds ONE branch of it (leaf or Seq-of-leaves)
        # plus the sibling member; sometimes two Or_ members, sometimes
        # the position first
        br_kind = draw(st.sampled_from(
            ["seq", "leaf", "br_neg", "br_lead_neg"]
        ))
        if br_kind == "seq":
            br0 = Seq(draw(leaf()), draw(leaf()))
        elif br_kind == "br_neg":
            # session 11: Neg BETWEEN two leaves of the branch — the
            # unit's own binds gate the gap to choosing repetitions
            br0 = Seq(draw(leaf()), Neg(draw(leaf())), draw(leaf()))
        elif br_kind == "br_lead_neg":
            # session 11: Neg LEADING the branch (gap into the
            # position, closing at the unit's entry bind; anchor-less
            # initial placements exercise the reject path)
            br0 = Seq(Neg(draw(leaf())), draw(leaf()))
        else:
            br0 = draw(leaf())
        mem = Or_(br0, draw(leaf()))
        other = (Or_(draw(leaf()), draw(leaf())) if draw(st.booleans())
                 else draw(leaf()))
        pos = And_(mem, other)
        if draw(st.booleans()):
            return Kleene(Seq(draw(leaf()), pos), max_len=None)
        return Kleene(Seq(pos, draw(leaf())), max_len=None)
    if shape == "group_and_pos_neg":
        # ... with a gap Neg before or after the position (the entry
        # gate closes the INTO-gap at the repetition's first member
        # bind; the OUT-gap's left boundary is the last member)
        if draw(st.booleans()):
            return Kleene(
                Seq(draw(leaf()), Neg(draw(leaf())),
                    And_(draw(leaf()), draw(leaf()))),
                max_len=None,
            )
        return Kleene(
            Seq(And_(draw(leaf()), draw(leaf())), Neg(draw(leaf())),
                draw(leaf())),
            max_len=None,
        )
    if shape == "group_neg":
        return Kleene(
            Seq(draw(leaf()), Neg(draw(leaf())), draw(leaf())), max_len=None
        )
    if shape == "group_lead_neg":
        return Kleene(
            Seq(Neg(draw(leaf())), draw(leaf()), draw(leaf())), max_len=None
        )
    if shape == "group_trail_neg":
        return Kleene(
            Seq(draw(leaf()), draw(leaf()), Neg(draw(leaf()))), max_len=None
        )
    if shape == "and_group":
        return Kleene(
            And_(draw(leaf()), draw(leaf())),
            max_len=draw(st.sampled_from([None, 2])),
        )
    if shape == "composite":
        return Kleene(Seq(draw(leaf()), draw(leaf())), max_len=2)
    l = draw(leaf())
    if shape == "adjacent":
        from cep_spark.conditions import attr as _attr

        return Kleene(
            l,
            max_len=draw(st.sampled_from([None, 2])),
            adjacent=_attr(l.name, "value") > _attr(f"{l.name}__prev", "value"),
        )
    return Kleene(l, max_len=draw(st.sampled_from([None, 2])))


@st.composite
def and_node(draw, depth):
    n = draw(st.integers(2, 3))
    parts = []
    for _ in range(n):
        pick = draw(st.integers(0, 5))
        if pick == 0:
            parts.append(draw(kleene_node()))
        elif pick == 1 and depth > 0:
            # a Seq (possibly with an interior gap Neg) under And_: the
            # sibling can bind INSIDE the gap — the round-4 session-B
            # boundary/exclusion fix territory
            parts.append(draw(seq_node(depth - 1)))
        else:
            parts.append(draw(leaf()))
    if draw(st.booleans()):
        parts.append(Neg(draw(leaf())))
    return And_(*parts)


@st.composite
def node(draw, depth=1):
    if draw(st.booleans()):
        return draw(seq_node(depth))
    return draw(and_node(depth))


def _kleene_var_classes(nd, in_kleene=False, leafk=None, grpv=None):
    """(leaf-Kleene var names, composite-Kleene inner var names) — used
    to bias the where draw toward leaf-Kleene × group-var cross
    conjuncts (the session-11 extra_pos fix territory)."""
    if leafk is None:
        leafk, grpv = [], []
    from cep_spark.pattern import Kleene as _K, Ev as _E, Neg as _N
    if isinstance(nd, _K):
        if isinstance(nd.inner, _E):
            leafk.append(nd.inner.name)
        else:
            _kleene_var_classes(nd.inner, True, leafk, grpv)
    elif isinstance(nd, _E):
        if in_kleene:
            grpv.append(nd.name)
    elif isinstance(nd, _N):
        pass
    else:
        for p in nd.parts:
            _kleene_var_classes(p, in_kleene, leafk, grpv)
    return leafk, grpv


@st.composite
def pattern(draw):
    _var_counter[0] = 0
    struct = draw(node(depth=1))
    leaves = struct.var_names()
    where = TRUE
    lk, gv = _kleene_var_classes(struct)
    if lk and gv and draw(st.integers(0, 2)) == 0:
        # leaf-Kleene × group-var cross conjunct: per chain semantics,
        # (every leaf element) × (every repetition's element) must hold
        a = draw(st.sampled_from(lk))
        b = draw(st.sampled_from(gv))
        where = attr(a, "value") > attr(b, "value")
    elif len(leaves) >= 2 and draw(st.booleans()):
        a, b = draw(st.sampled_from([(x, y) for x in leaves for y in leaves if x != y]))
        base = attr(a, "value") > attr(b, "value")
        # sweep the condition algebra: plain, OR, NOT, InSet-guarded
        shape = draw(st.sampled_from(["plain", "plain", "or", "not", "inset"]))
        if shape == "or":
            where = base | (attr(a, "tool") == lit("python"))
        elif shape == "not":
            where = ~base
        elif shape == "inset":
            where = base & attr(b, "role").isin("user", "assistant")
        else:
            where = base
    # zero-variable conjuncts must constant-fold, not silently drop
    # (round-4 fix): TRUE is a no-op, FALSE makes the pattern match
    # nothing in engine, replica, and oracle alike
    const = draw(st.sampled_from([None, None, None, None, "true", "false"]))
    if const == "true":
        where = where & (lit(1) < lit(2))
    elif const == "false":
        where = where & (lit(1) < lit(0))
    window = draw(st.sampled_from([timedelta(minutes=2), timedelta(minutes=10), None]))
    return Pattern(struct, where=where, window=window)


@st.composite
def group(draw):
    n = draw(st.integers(2, 10))
    rng = np.random.default_rng(draw(st.integers(0, 2**31)))
    ts0 = pd.Timestamp("2026-01-01")
    gaps = rng.integers(0, 90, n)
    return pd.DataFrame(
        {
            "conv_id": "c0",
            "turn_idx": np.arange(n, dtype=np.int32),
            "role": rng.choice(ROLES, n),
            "tool": rng.choice(["python", "sql"], n),
            "ts": ts0 + pd.to_timedelta(np.cumsum(gaps), unit="s"),
            "value": rng.uniform(0, 100, n).round(1),
        }
    )


def _canon_oracle(res):
    out = []
    for b in res:
        alt = b.pop("_alt")
        out.append(
            (alt, tuple(sorted(
                (v, tuple(sorted(p if isinstance(p, tuple) else (p,))))
                for v, p in b.items())))
        )
    return sorted(out)


def _canon_nfa(res):
    # session 12: distributed units rename vars with a __d{k} suffix
    # (the replica's chain expansion keeps original names) — merge them
    # back per base; element order within a variable is position order
    # on both sides, so sorting is canonical
    import re

    out = []
    for alt, b in res:
        per: dict = {}
        for v, p in b.items():
            base = re.sub(r"__d\d+$", "", v)
            per.setdefault(base, []).extend(
                p if isinstance(p, tuple) else (p,))
        out.append((alt, tuple(sorted(
            (v, tuple(sorted(ps))) for v, ps in per.items()))))
    return sorted(out)


def _replica_cost(pat, g):
    """ANALYTIC upper bound on the replica's backtracking breadth —
    no compilation (the debound compile alone can take seconds at 8
    events when three branch-bearing groups multiply into thousands of
    alternatives).  Per-leaf candidate counts come from one vectorized
    unary evaluation against the frame; alternatives multiply through
    Or_ choices and debound repetition counts (sum over alternatives of
    per-slot-option products == product of per-child sums for
    Seq/And_).  Kleene storage contributes nonempty-subset counts.
    The real search visits far fewer nodes (ordering/window pruning),
    so the threshold is calibrated against measured wall times, not
    meant as a node count."""
    from math import comb

    n = len(g)

    def leaf_cands(ev):
        try:
            r = ev.where.pd({ev.name: {c: g[c] for c in g.columns}})
        except Exception:
            return n
        if isinstance(r, (bool, np.bool_)):
            return n if r else 0
        return int(np.asarray(r, dtype=bool).sum())

    def min_arity(p):
        if isinstance(p, Ev):
            return 1
        if isinstance(p, Neg):
            return 0
        if isinstance(p, Kleene):
            return min_arity(p.inner)
        if isinstance(p, Or_):
            return min(min_arity(b) for b in p.parts)
        return sum(min_arity(x) for x in p.parts)

    def cost(node):
        if isinstance(node, Ev):
            return max(leaf_cands(node), 1)
        if isinstance(node, Neg):
            return 1.0
        if isinstance(node, (Seq, And_)):
            prod = 1.0
            for p in node.parts:
                prod *= cost(p)
            return prod
        if isinstance(node, Or_):
            return sum(cost(p) for p in node.parts)
        if isinstance(node, Kleene):
            if isinstance(node.inner, Ev):
                c = leaf_cands(node.inner)
                m = c if node.max_len is None else min(node.max_len, c)
                return max(sum(comb(c, r) for r in range(1, m + 1)), 1.0)
            m = node.max_len
            if m is None:
                m = max(1, n // max(min_arity(node.inner), 1))
            unit = cost(node.inner)
            tot = 0.0
            term = 1.0
            for _ in range(m):
                term *= unit
                tot += term
                if tot > 1e30:
                    break
            return max(tot, 1.0)
        return 1.0

    return cost(pat.structure)


class _ReplicaTimeout(Exception):
    pass


_ALARM_ARMED = [False]


def _with_timeout(fn, secs):
    """Hard wall-clock cap via SIGALRM (tests are single-threaded; the
    replica's work is pure-Python pandas over tiny frames, so the
    signal is delivered promptly)."""
    import signal

    def _handler(_sig, _frm):
        # a cancelled-but-already-pending alarm may still be delivered
        # after the protected region — disarmed, it must NOT raise into
        # unrelated frames (observed once inside hypothesis's gc
        # callback), and the handler stays installed so a late
        # delivery never reaches SIG_DFL (process termination)
        if _ALARM_ARMED[0]:
            raise _ReplicaTimeout()

    signal.signal(signal.SIGALRM, _handler)
    _ALARM_ARMED[0] = True
    signal.setitimer(signal.ITIMER_REAL, secs)
    try:
        return fn()
    finally:
        _ALARM_ARMED[0] = False
        signal.setitimer(signal.ITIMER_REAL, 0)


@settings(max_examples=300, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(pat=pattern(), g=group())
def test_random_pattern_vs_replica(pat, g):
    try:
        cp = compile_pattern(pat)
    except ValueError:
        return  # documented v1 limitation rejected at compile time — fine
    if _replica_cost(pat, g) > 1e18:
        return  # pathological brute-force breadth — replica-side cost
        # only (calibrated: ~4e16 ≈ 5 s, ~8e17 ≈ 7 s, ~1e25 ≈ 66 s on
        # this host; the multi-minute outliers that stalled full soak
        # runs sit orders of magnitude above the threshold)
    try:
        # the breadth estimate cannot see PRUNING strength, which
        # varies by orders of magnitude across shapes — a hard
        # wall-clock cap on the brute-force replica is the robust
        # backstop (a skip costs coverage of one replica comparison,
        # never engine soundness; the dedicated suites cover every
        # shape family on controlled frames)
        o = _with_timeout(
            lambda: _canon_oracle(match_group(pat, g.copy())), 20.0
        )
    except _ReplicaTimeout:
        return
    except NotImplementedError:
        # replica-fold limitation, not an engine one: an Or_ OUTSIDE
        # unbounded groups (e.g. a bounded bare-Or_ Kleene) combined
        # with an unbounded group — the debound chain expansion
        # multiplies alternatives whose ids the fold cannot map back.
        # The engine paths for those shapes are covered by the
        # chain-parity and dedicated replica tests in test_group_kleene.
        return
    m = _canon_nfa(match_group_nfa(cp, g.sort_values(["ts", "turn_idx"]).reset_index(drop=True)))
    from oracle_cep import _unbounded_group_names

    if _unbounded_group_names(pat.structure):
        # the replica folds every alt to 0 (its debound chain expansion
        # multiplies alternatives by arity); bindings stay unique per
        # alternative for Or_-free structures, so drop alt on both sides
        o = sorted((0, b) for _, b in o)
        m = sorted((0, b) for _, b in m)
    assert o == m, f"{pat.structure!r}\n{g}\noracle={o}\nnfa={m}"
