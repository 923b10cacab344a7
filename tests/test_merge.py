"""Multi-pattern prefix sharing (cep_spark.merge): the merged automaton
must be observationally identical to independent per-pattern execution.

Layers:
* fixed corpus parity (shared funnel prefixes incl. negation / Kleene /
  conditions) — pure Python, no Spark;
* hypothesis sweep: random pattern families built around a common
  prefix (forcing real state sharing) mixed with unrelated structures
  (forcing coexistence without sharing), vs per-pattern match_group_nfa;
* Spark end-to-end: run_batch_multi(strategy='shared') ≡ 'partition'
  on driver testdata, and the 'auto' pick.
"""

from __future__ import annotations

from datetime import timedelta

import numpy as np
import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from cep_spark.batch import match_group_nfa
from cep_spark.compiler import compile_pattern
from cep_spark.conditions import TRUE, attr, lit
from cep_spark.merge import merge_compiled, mergeable
from cep_spark.pattern import And_, Ev, Kleene, Neg, Pattern, Seq

ROLES = ["user", "assistant", "tool"]


def _pat(struct, where=None, window=timedelta(minutes=10), pid=0):
    return Pattern(
        struct,
        where=where if where is not None else TRUE,
        window=window,
        pattern_id=pid,
    )


def _canon(res):
    return sorted(
        (alt, tuple(sorted((v, p if isinstance(p, tuple) else (p,)) for v, p in b.items())))
        for alt, b in res
    )


def _group(seed, n=40):
    rng = np.random.default_rng(seed)
    ts0 = pd.Timestamp("2026-01-01")
    return pd.DataFrame(
        {
            "conv_id": "c0",
            "turn_idx": np.arange(n, dtype=np.int32),
            "role": rng.choice(ROLES, n),
            "tool": rng.choice(["python", "sql"], n),
            "ts": ts0 + pd.to_timedelta(np.cumsum(rng.integers(0, 60, n)), unit="s"),
            "value": rng.uniform(0, 100, n).round(1),
        }
    )


def _assert_parity(pats, g):
    cps = [compile_pattern(p) for p in pats]
    merged = merge_compiled(cps)
    mres = match_group_nfa(merged, g)
    by_cp: dict = {}
    for (pi, alt), b in mres:
        by_cp.setdefault(pi, []).append((alt, b))
    for i, cp in enumerate(cps):
        assert _canon(by_cp.get(i, [])) == _canon(match_group_nfa(cp, g)), (
            f"pattern {i}: {pats[i].structure!r}"
        )
    return merged


# ---------------------------------------------------------------------------
# fixed corpus


def test_funnel_family_shares_and_matches():
    a = Ev("a", role="user")
    b = Ev("b", role="assistant")
    pats = [
        _pat(Seq(a, b, Ev("c", role="tool")), pid=0),
        _pat(
            Seq(a, b, Ev("d", role="user")),
            where=attr("d", "value") > attr("a", "value"),
            pid=1,
        ),
        _pat(Seq(a, b, Neg(Ev("n", role="tool")), Ev("e", role="user")), pid=2),
        _pat(Seq(a, Kleene(Ev("k", role="assistant")), Ev("f", role="tool")), pid=3),
    ]
    merged = _assert_parity(pats, _group(1))
    cps = [compile_pattern(p) for p in pats]
    n_orig = sum(len(al.states) for cp in cps for al in cp.alternatives)
    # real sharing: well below the sum minus the free initial merges
    assert len(merged.alternatives[0].states) < n_orig - (len(cps) - 1)


def test_seq_vs_and_do_not_merge():
    # same slots/conds, different ORDER semantics: the b slot's prereq
    # ({a} for SEQ, {} for AND) keeps the {a,b} accept states apart.
    # {} and {a} legitimately share — their tables are identical; the
    # automata diverge exactly where the order constraint starts.
    a1, b1 = Ev("a", role="user"), Ev("b", role="tool")
    pats = [_pat(Seq(a1, b1), pid=0), _pat(And_(a1, b1), pid=1)]
    merged = _assert_parity(pats, _group(2))
    # merged: {}, {a} shared; {a,b}_seq, {b}_and, {a,b}_and distinct
    assert len(merged.alternatives[0].states) == 5
    # the two accept states are distinct (no tag shares a state)
    tag_states = [sid for sid, ts in merged.alternatives[0].accept_tags.items()]
    assert len(tag_states) == 2


def test_or_alternatives_share_within_one_pattern():
    # Or_ expands to alternatives; the two alternatives of p0 share their
    # (a) prefix with each other AND with p1 — all in one merged automaton
    from cep_spark.pattern import Or_

    pats = [
        _pat(
            Or_(
                Seq(Ev("a", role="user"), Ev("t", role="tool")),
                Seq(Ev("a", role="user"), Ev("u", role="assistant")),
            ),
            pid=0,
        ),
        _pat(Seq(Ev("a", role="user"), Ev("b", role="assistant"), Ev("c", role="tool")), pid=1),
    ]
    merged = _assert_parity(pats, _group(3))
    # {} and {a} shared across all three alternatives: 3*3 - 2*2 = 5
    assert len(merged.alternatives[0].states) == 5


def test_different_windows_share():
    """Round 4: mixed windows share one automaton — the merge runs
    under the MAX window and each tag re-checks span <= W_tag at
    accept.  Parity vs per-pattern execution over a corpus whose gaps
    straddle the smaller window."""
    a = Ev("a", role="user")
    b = Ev("b", role="assistant")
    pats = [
        _pat(Seq(a, b, Ev("c", role="tool")), window=timedelta(seconds=45), pid=0),
        _pat(Seq(a, b, Ev("d", role="user")), window=timedelta(minutes=10),
             where=attr("d", "value") > attr("a", "value"), pid=1),
        # trailing neg: the forbidden look-ahead is bounded by the TAG's
        # window, not the shared max
        _pat(Seq(a, b, Neg(Ev("n", role="tool"))),
             window=timedelta(seconds=90), pid=2),
        _pat(Seq(a, Kleene(Ev("k", role="assistant")), Ev("f", role="tool")),
             window=timedelta(seconds=60), pid=3),
    ]
    cps = [compile_pattern(p) for p in pats]
    assert mergeable(cps)
    merged = _assert_parity(pats, _group(41))
    assert merged.pattern.window == timedelta(minutes=10)
    # and real sharing still happens across the differing windows
    n_orig = sum(len(al.states) for cp in cps for al in cp.alternatives)
    assert len(merged.alternatives[0].states) < n_orig - (len(cps) - 1)


def test_identical_patterns_fully_merge():
    pats = [
        _pat(Seq(Ev("a", role="user"), Ev("b", role="tool")), pid=0),
        _pat(Seq(Ev("x", role="user"), Ev("y", role="tool")), pid=1),
    ]
    merged = _assert_parity(pats, _group(4))
    alt = merged.alternatives[0]
    assert len(alt.states) == 3  # one automaton, two tags at the accept
    assert sum(len(v) for v in alt.accept_tags.values()) == 2


def test_trailing_and_leading_negation_tags():
    a = Ev("a", role="user")
    b = Ev("b", role="tool")
    pats = [
        _pat(Seq(a, b, Neg(Ev("n", role="assistant"))), pid=0),  # trailing
        _pat(Seq(Neg(Ev("m", role="assistant")), a, b), pid=1),  # leading
        _pat(Seq(a, b), pid=2),  # same positives, no negs
    ]
    merged = _assert_parity(pats, _group(5))
    # the three patterns' positive automata are identical: 3 states, 3 tags
    assert len(merged.alternatives[0].states) == 3


def test_group_kleene_merge_parity():
    pats = [
        _pat(
            Seq(Ev("s", role="user"),
                Kleene(Seq(Ev("p", role="assistant"), Ev("q", role="tool")),
                       max_len=None)),
            pid=0,
        ),
        _pat(
            Seq(Ev("s", role="user"),
                Kleene(Seq(Ev("p", role="assistant"), Ev("q", role="tool")),
                       max_len=None),
                Ev("z", role="user")),
            pid=1,
        ),
    ]
    _assert_parity(pats, _group(6, n=24))


def test_group_neg_and_andgroup_merge_parity():
    """Round-4 session B shapes through the merged automaton: a shared
    prefix ending in a group Kleene with a trailing Neg (repeat_only +
    pre_vars in the neg signature), and an And_ group (one pos_all
    position; grp_idx and pos_all are in the slot signature).  Parity vs
    per-pattern execution; the And_ group must NOT merge with a Seq
    group of the same leaves."""
    trail = Kleene(Seq(Ev("p", role="assistant"), Ev("q", role="tool"),
                       Neg(Ev("n", role="user"))), max_len=None)
    pats = [
        _pat(Seq(Ev("s", role="user"), trail, Ev("z", role="user")), pid=0),
        _pat(Seq(Ev("s", role="user"), trail, Ev("z", role="assistant")),
             pid=1),
    ]
    _assert_parity(pats, _group(7, n=24))

    and_g = Kleene(And_(Ev("p", role="assistant"), Ev("q", role="tool")),
                   max_len=None)
    pats2 = [
        _pat(Seq(Ev("s", role="user"), and_g, Ev("z", role="user")), pid=0),
        _pat(Seq(Ev("s", role="user"), and_g, Ev("z", role="assistant")),
             pid=1),
    ]
    _assert_parity(pats2, _group(8, n=24))

    # Seq group vs And_ group over the same leaves: states must NOT unify
    from cep_spark.merge import merge_compiled

    seq_g = Kleene(Seq(Ev("p", role="assistant"), Ev("q", role="tool")),
                   max_len=None)
    mixed = [
        _pat(Seq(Ev("s", role="user"), seq_g, Ev("z", role="user")), pid=0),
        _pat(Seq(Ev("s", role="user"), and_g, Ev("z", role="user")), pid=1),
    ]
    merged = merge_compiled([compile_pattern(p) for p in mixed])
    (alt,) = merged.alternatives
    groups = {s.group for s in alt.slots if s.group is not None}
    assert len(groups) == 2  # two distinct merged groups
    _assert_parity(mixed, _group(9, n=24))


def test_branch_trail_neg_guard_in_merge_signature():
    """Round 5, session 5: two patterns identical except for WHICH
    branch carries the trailing Neg must keep their gap specs apart
    (br_guard is part of the neg signature) and stay observationally
    per-pattern through the merged automaton."""
    from cep_spark.merge import merge_compiled
    from cep_spark.pattern import Or_

    def fam(trail_first: bool, pid):
        b1 = [Ev("w", role="assistant"), Ev("x", role="tool")]
        b2 = [Ev("y", role="assistant"), Ev("v", role="tool")]
        (b1 if trail_first else b2).append(Neg(Ev("n", role="user")))
        return _pat(
            Seq(Ev("s", role="user"),
                Kleene(Seq(Ev("u", role="user"), Or_(Seq(*b1), Seq(*b2))),
                       max_len=None),
                Ev("z", role="tool")),
            pid=pid,
        )

    pats = [fam(True, 0), fam(False, 1)]
    merged = _assert_parity(pats, _group(10, n=24))
    (alt,) = merged.alternatives
    # the two guarded gap specs differ ONLY in br_guard: they must not
    # have merged into one
    guarded = [sp for sp in alt.negs if sp.br_guard]
    assert len({sp.br_guard for sp in guarded}) >= 2, guarded


# ---------------------------------------------------------------------------
# hypothesis sweep — prefix-sharing families + unrelated mixtures

_vc = [0]


def _fresh():
    _vc[0] += 1
    return f"w{_vc[0]}"


@st.composite
def _leaf(draw):
    return Ev(_fresh(), role=draw(st.sampled_from(ROLES)))


@st.composite
def _suffix_part(draw):
    kind = draw(st.sampled_from(["leaf", "leaf", "kleene", "neg_then_leaf",
                                 "group", "group_or", "bare_or",
                                 "group_seq_or", "group_nested_k",
                                 "group_br_neg", "group_and_pos",
                                 "group_and_pos_seqmem",
                                 "group_and_pos_mem_neg",
                                 "group_and_pos_or_mem",
                                 "group_bare_and_mem",
                                 "group_dist_or", "group_loop"]))
    if kind == "group_loop":
        # session 16: an UNBOUNDED leaf Kleene nested inside the
        # repetition — grp_loop joins the slot signature (conditional
        # append), so a loop position never merges with a plain-leaf
        # position of the same layout (the continue self-loops would
        # leak into the plain pattern's tags), while identical loop
        # layouts share; sometimes with a boundary Neg so the gap
        # specs reading the run's last element merge correctly
        placement = draw(st.sampled_from(["tail", "mid", "neg", "pos0",
                                          "unit"]))
        inner = Kleene(draw(_leaf()), max_len=None)
        if placement == "unit":
            # session 18: a composite UNIT loop — unit leaves carry
            # br/br_idx/br_len AND the K marker, so a unit never merges
            # with a same-layout multi-event Or_ branch; session 19:
            # sometimes with an interior Neg (mem_gap joins the merge
            # neg signatures, so a Neg-carrying unit never shares
            # specs with its Neg-free twin)
            if draw(st.booleans()):
                return [Kleene(Seq(draw(_leaf()),
                                   Kleene(Seq(draw(_leaf()),
                                              Neg(draw(_leaf())),
                                              draw(_leaf())),
                                          max_len=None)),
                               max_len=None)]
            return [Kleene(Seq(draw(_leaf()),
                               Kleene(Seq(draw(_leaf()), draw(_leaf())),
                                      max_len=None)),
                           max_len=None)]
        if placement == "tail":
            return [Kleene(Seq(draw(_leaf()), inner), max_len=None)]
        if placement == "mid":
            return [Kleene(Seq(draw(_leaf()), inner, draw(_leaf())),
                           max_len=None)]
        if placement == "pos0":
            # session 17: the loop STARTS the body — grp_idx 0 vs 1 in
            # the slot signature keeps it from merging with a tail loop
            # of the same leaves
            return [Kleene(Seq(inner, draw(_leaf())), max_len=None)]
        return [Kleene(Seq(draw(_leaf()), Neg(draw(_leaf())), inner),
                       max_len=None)]
    if kind == "kleene":
        return [Kleene(draw(_leaf()), max_len=draw(st.sampled_from([None, 2])))]
    if kind == "neg_then_leaf":
        return [Neg(draw(_leaf())), draw(_leaf())]
    if kind == "group":
        return [Kleene(Seq(draw(_leaf()), draw(_leaf())), max_len=None)]
    if kind == "group_or":
        # round 5: Or_ branch sub-slots inside the repetition — the
        # group member tuple (incl. same-grp_idx branches) keys the
        # merged group id, so identical branch layouts must share and
        # different ones must not
        from cep_spark.pattern import Or_
        return [Kleene(Seq(draw(_leaf()),
                           Or_(draw(_leaf()), draw(_leaf()))),
                       max_len=None)]
    if kind == "bare_or":
        from cep_spark.pattern import Or_
        return [Kleene(Or_(draw(_leaf()), draw(_leaf())), max_len=None)]
    if kind == "group_seq_or":
        # round 5, session 2: a multi-event (Seq) branch — br/br_idx/
        # br_len join the slot signature, so same layouts share and a
        # 2-event branch never merges with two 1-event branches
        from cep_spark.pattern import Or_
        return [Kleene(Seq(draw(_leaf()),
                           Or_(Seq(draw(_leaf()), draw(_leaf())),
                               draw(_leaf()))),
                       max_len=None)]
    if kind == "group_nested_k":
        # nested BOUNDED leaf Kleene inside the repetition (pre-expands
        # to branch chains b__r_j)
        return [Kleene(Seq(draw(_leaf()),
                           Kleene(draw(_leaf()), max_len=2)),
                       max_len=None)]
    if kind == "group_br_neg":
        # session 4: Neg between two branch leaves (or leading the
        # branch) — the within-branch NegSpec (per_repeat gap on the
        # branch sub-slot) joins the merged NegSpec table, so identical
        # layouts share and a guarded branch never merges with an
        # unguarded one.  Session 5: TRAILING the branch — the
        # br_guard tuple is part of the neg signature too.
        from cep_spark.pattern import Or_
        placement = draw(st.sampled_from(["mid", "lead", "trail"]))
        if placement == "mid":
            br = Seq(draw(_leaf()), Neg(draw(_leaf())), draw(_leaf()))
        elif placement == "lead":
            br = Seq(Neg(draw(_leaf())), draw(_leaf()), draw(_leaf()))
        else:
            br = Seq(draw(_leaf()), draw(_leaf()), Neg(draw(_leaf())))
        return [Kleene(Seq(draw(_leaf()), Or_(br, draw(_leaf()))),
                       max_len=None)]
    if kind == "group_and_pos":
        # session 6: conjunctive (And_) position — pos_all joins the
        # slot signature, so an And_ position never merges with an Or_
        # position of the same member layout (completion semantics
        # differ: ALL members vs ONE branch)
        return [Kleene(Seq(draw(_leaf()),
                           And_(draw(_leaf()), draw(_leaf()))),
                       max_len=None)]
    if kind == "group_and_pos_seqmem":
        # session 7: a Seq-of-leaves member inside the And_ position —
        # br/br_idx/br_len join the slot signature alongside pos_all,
        # so a 2-event member never merges with two leaf members
        return [Kleene(Seq(draw(_leaf()),
                           And_(Seq(draw(_leaf()), draw(_leaf())),
                                draw(_leaf()))),
                       max_len=None)]
    if kind == "group_and_pos_or_mem":
        # session 9: an Or_ MEMBER of the And_ position — Slot.mem
        # joins the slot signature, so a branch unit of member m never
        # merges with a plain member of the same event layout.
        # Session 11: branches may carry Negs (interior/leading) — the
        # member-scoped NegSpec (mem_gap/mem_lead) joins the neg
        # signature, so a guarded unit never merges with an unguarded
        # one
        from cep_spark.pattern import Or_
        br_kind = draw(st.sampled_from(["leaf", "br_neg", "br_lead_neg"]))
        if br_kind == "br_neg":
            br0 = Seq(draw(_leaf()), Neg(draw(_leaf())), draw(_leaf()))
        elif br_kind == "br_lead_neg":
            br0 = Seq(Neg(draw(_leaf())), draw(_leaf()))
        else:
            br0 = draw(_leaf())
        mem = Or_(br0, draw(_leaf()))
        return [Kleene(Seq(draw(_leaf()),
                           And_(mem, draw(_leaf()))),
                       max_len=None)]
    if kind == "group_dist_or":
        # session 12: an Or_ NESTED inside a Seq branch or member —
        # distributed at compile time into flat __d{k}-renamed units;
        # the merged automaton sees only the standard branch/unit
        # layout, so identical distributed layouts share and the
        # deterministic renaming keeps signatures stable
        from cep_spark.pattern import Or_
        variant = draw(st.sampled_from(["branch", "member", "and_unit",
                                        "and_ext"]))
        if variant == "and_unit":
            # phase C: an all-leaf And_ inside a branch distributes
            # over orderings — the permutation units must merge like
            # hand-written branches
            return [Kleene(Seq(draw(_leaf()),
                               Or_(Seq(draw(_leaf()),
                                       And_(draw(_leaf()), draw(_leaf()))),
                                   draw(_leaf()))),
                           max_len=None)]
        if variant == "and_ext":
            # session 13: an And_ with a SEQ member distributes over
            # linear extensions; a nested And_ MEMBER of an And_
            # position becomes an Or_ member of its interleavings —
            # both lower to standard branch/unit layouts whose
            # deterministic __d{k} names keep signatures stable
            if draw(st.booleans()):
                # session 14: the Seq member may carry an interior or
                # leading Neg — re-split into each extension's sub-gaps
                # at compile time, so the merged automaton still sees
                # only standard gap-Neg units
                neg_kind = draw(st.sampled_from(["none", "mid", "lead"]))
                if neg_kind == "mid":
                    mem = Seq(draw(_leaf()), Neg(draw(_leaf())),
                              draw(_leaf()))
                elif neg_kind == "lead":
                    mem = Seq(Neg(draw(_leaf())), draw(_leaf()),
                              draw(_leaf()))
                else:
                    mem = Seq(draw(_leaf()), draw(_leaf()))
                return [Kleene(Seq(draw(_leaf()),
                                   Or_(And_(mem, draw(_leaf())),
                                       draw(_leaf()))),
                               max_len=None)]
            return [Kleene(Seq(draw(_leaf()),
                               And_(And_(draw(_leaf()), draw(_leaf())),
                                    draw(_leaf()))),
                           max_len=None)]
        inner_or = Or_(draw(_leaf()), draw(_leaf()))
        if variant == "branch":
            return [Kleene(Seq(draw(_leaf()),
                               Or_(Seq(draw(_leaf()), inner_or),
                                   draw(_leaf()))),
                           max_len=None)]
        return [Kleene(Seq(draw(_leaf()),
                           And_(Seq(draw(_leaf()), inner_or),
                                draw(_leaf()))),
                       max_len=None)]
    if kind == "group_bare_and_mem":
        # session 10: a bare And_ body with a Seq member — lowered as a
        # single pos_all position, which must never merge with the leaf
        # bare-And_ body of the same events (br/br_idx/br_len are in
        # the slot signature).  Session 11: sometimes a LEADING member
        # Neg — its per-transition boundary override
        # (Transition.gap_pre, from NegSpec.mem_lead) joins the
        # transition signature conditionally
        mem_kind = draw(st.sampled_from(["plain", "lead_neg"]))
        if mem_kind == "lead_neg":
            mem = Seq(Neg(draw(_leaf())), draw(_leaf()), draw(_leaf()))
        else:
            mem = Seq(draw(_leaf()), draw(_leaf()))
        return [Kleene(And_(mem, draw(_leaf())),
                       max_len=None)]
    if kind == "group_and_pos_mem_neg":
        # session 8: a Neg INSIDE a Seq member — the member-scoped
        # NegSpec (mem_gap) joins the neg signature, so a guarded
        # member never merges with an unguarded one and interior never
        # merges with leading (different pre_vars/post)
        placement = draw(st.sampled_from(["interior", "lead"]))
        if placement == "interior":
            mem = Seq(draw(_leaf()), Neg(draw(_leaf())), draw(_leaf()))
        else:
            mem = Seq(Neg(draw(_leaf())), draw(_leaf()), draw(_leaf()))
        return [Kleene(Seq(draw(_leaf()),
                           And_(mem, draw(_leaf()))),
                       max_len=None)]
    return [draw(_leaf())]


@st.composite
def _family(draw):
    """2-3 patterns around a shared prefix + optionally one unrelated.
    The prefix itself sometimes contains a Kleene or a composite group
    (the group-signature soak bug lived in exactly that corner)."""
    _vc[0] = 0
    prefix = [draw(_leaf()) for _ in range(draw(st.integers(1, 2)))]
    if draw(st.integers(0, 2)) == 0:
        prefix.extend(draw(_suffix_part()))
    pats = []
    n_pat = draw(st.integers(2, 3))
    for pid in range(n_pat):
        parts = list(prefix)
        for _ in range(draw(st.integers(1, 2))):
            parts.extend(draw(_suffix_part()))
        vars_ = [l.name for p in parts for l in (p.leaves() if not isinstance(p, Neg) else [])]
        where = TRUE
        if len(vars_) >= 2 and draw(st.booleans()):
            a, b = draw(st.sampled_from([(x, y) for x in vars_ for y in vars_ if x != y]))
            where = attr(a, "value") > attr(b, "value")
            if draw(st.booleans()):
                where = where | (attr(a, "tool") == lit("python"))
        # mixed per-pattern windows (round 4): the merge runs under the
        # max window with per-tag span re-checks — sweep that path too
        win = draw(st.sampled_from([
            timedelta(minutes=10), timedelta(minutes=10),
            timedelta(seconds=90), timedelta(minutes=3),
        ]))
        pats.append(_pat(Seq(*parts), where=where, window=win, pid=pid))
    if draw(st.booleans()):
        extra = [draw(_leaf()) for _ in range(2)]
        pats.append(_pat(And_(*extra), pid=n_pat))
    return pats


@settings(max_examples=600, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(pats=_family(), seed=st.integers(0, 2**31))
def test_random_family_merge_parity(pats, seed):
    try:
        cps = [compile_pattern(p) for p in pats]
    except ValueError:
        return  # documented compile-time rejection
    g = _group(seed, n=18)
    merged = merge_compiled(cps)
    mres = match_group_nfa(merged, g)
    by_cp: dict = {}
    for (pi, alt), b in mres:
        by_cp.setdefault(pi, []).append((alt, b))
    for i, cp in enumerate(cps):
        assert _canon(by_cp.get(i, [])) == _canon(match_group_nfa(cp, g))


def _renamed_twins(roles, windows=(timedelta(minutes=10), timedelta(minutes=10)),
                   where1=None):
    """Seq(w1, Kleene(And_(Seq(Neg(n), x, y), z)), w6) twice, identical up
    to renaming: a leading member Neg in a bare And_ body, whose gap
    boundary comes from the per-transition override Transition.gap_pre.
    The second copy's names (w8, w9, w10) sort differently from the
    first's (w3, w4, w5)."""
    def fam(names, pid, win, where):
        r = iter(roles)
        n, x, y, z, t = (Ev(v, role=next(r)) for v in names)
        return _pat(Seq(Ev("w1", role=roles[-1]),
                        Kleene(And_(Seq(Neg(n), x, y), z), max_len=None), t),
                    where=where, window=win, pid=pid)

    return [fam(("w2", "w3", "w4", "w5", "w6"), "t0", windows[0], None),
            fam(("w7", "w8", "w9", "w10", "w11"), "t1", windows[1], where1)]


@pytest.mark.parametrize("roles", [
    ("user", "user", "user", "user", "user", "user"),
    ("user", "user", "user", "assistant", "assistant", "user"),
    ("tool", "user", "assistant", "user", "assistant", "user"),
])
def test_renamed_twins_lead_member_neg(roles):
    """Falsifying family of test_random_family_merge_parity, pinned.  The
    compiler stores gap_pre var sets sorted by ORIGINAL name; renamed to
    canonical vars, the twins' sets came out in different orders, their
    transitions never deduplicated, and every partial advanced along
    two identical transitions (96 vs 50 matches for pattern 0 on this
    group).  The merge now sorts the renamed sets."""
    g = _group(1, n=18)
    pats = _renamed_twins(roles)
    merged = _assert_parity(pats, g)
    # identical twins share every state and transition
    single = compile_pattern(pats[0]).alternatives[0]
    m = merged.alternatives[0]
    assert len(m.states) == len(single.states)
    assert sum(len(st.transitions) for st in m.states) == sum(
        len(st.transitions) for st in single.states)
    # ... and stay exact when windows and conditions differ
    _assert_parity(_renamed_twins(roles, (timedelta(minutes=10), timedelta(minutes=3)),
                                  attr("w11", "value") > attr("w1", "value")), g)


def test_renamed_twins_spark_shared_equals_partition(spark):
    from cep_spark.batch import run_batch_multi

    pdf = pd.concat([_group(s, n=18).assign(conv_id=f"c{s}") for s in range(1, 7)],
                    ignore_index=True)
    df = spark.createDataFrame(pdf)
    cps = [compile_pattern(p) for p in _renamed_twins(
        ("user", "user", "user", "assistant", "assistant", "user"),
        (timedelta(minutes=10), timedelta(minutes=3)))]

    def rows(strategy):
        out = run_batch_multi(df, cps, emit_cols=("turn_idx",), strategy=strategy)
        return sorted(
            (r["conv_id"], r["pattern_id"], r["alt_id"],
             tuple((m["var"], m["turn_idx"]) for m in r["matched"]))
            for r in out.collect()
        )

    shared = rows("shared")
    assert shared == rows("partition")
    assert len(shared) > 0


# ---------------------------------------------------------------------------
# Spark end-to-end (sf0.001 events): shared ≡ partition ≡ group


def test_run_batch_multi_shared_spark(spark):
    from cep_spark.batch import run_batch_multi

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")

    def p(struct, where=None, pid=0, win=timedelta(hours=12)):
        return Pattern(
            struct,
            where=where if where is not None else TRUE,
            window=win,
            key="user_id",
            ts_col="ts",
            tiebreak_col="event_id",
            pattern_id=pid,
        )

    pats = [
        p(Seq(Ev("a", event_type="signup"), Ev("b", event_type="view"),
              Ev("c", event_type="purchase")), pid="p0"),
        # mixed window (round 4): shared execution under the max window
        # must still match this pattern's tighter 4h span exactly
        p(Seq(Ev("a", event_type="signup"), Ev("b", event_type="view"),
              Ev("d", event_type="click")),
          where=attr("d", "value") > attr("a", "value"), pid="p1",
          win=timedelta(hours=4)),
        p(Seq(Ev("a", event_type="signup"), Neg(Ev("n", event_type="error")),
              Ev("b", event_type="purchase")), pid="p2"),
    ]
    cps = [compile_pattern(q) for q in pats]

    def rows(strategy):
        df = run_batch_multi(
            ev, cps, emit_cols=("event_id", "event_type", "ts"), strategy=strategy
        )
        return sorted(
            (r["user_id"], r["pattern_id"], r["alt_id"],
             tuple((m["var"], m["event_id"]) for m in r["matched"]))
            for r in df.collect()
        )

    shared = rows("shared")
    assert shared == rows("partition")
    assert shared == rows("auto")  # auto must pick a correct plan either way
    assert len(shared) > 0


def test_engine_facade_strategy_validation():
    from cep_spark.engine import CepEngine

    single = CepEngine(_pat(Seq(Ev("a", role="user"), Ev("b", role="tool"))))
    with pytest.raises(ValueError, match="multi-pattern engines only"):
        single.run_batch(None, strategy="shared")  # validated before df use
    # single-pattern streaming has one executor: no strategy to pick
    with pytest.raises(ValueError, match="multi-pattern engines only"):
        single.run_stream(None, "0 seconds", strategy="rematch")


@pytest.mark.parametrize("strategy", ["parition", "group"])
def test_unknown_batch_strategy_rejected(strategy):
    """A typo or the deleted per-key 'group' strategy raises instead of
    running some other executor (validated before df use)."""
    from cep_spark.batch import run_batch, run_batch_multi
    from cep_spark.engine import CepEngine

    pats = [_pat(Seq(Ev("a", role="user"), Ev("b", role="tool")), pid=i) for i in (0, 1)]
    with pytest.raises(ValueError, match="unknown strategy"):
        run_batch(None, compile_pattern(pats[0]), strategy=strategy)
    with pytest.raises(ValueError, match="unknown strategy"):
        run_batch_multi(None, [compile_pattern(p) for p in pats], strategy=strategy)
    with pytest.raises(ValueError, match="unknown strategy"):
        CepEngine(*pats).run_batch(None, strategy=strategy)


def test_group_identity_in_slot_signature():
    """Regression (found by the 4000-example soak): the first sub-slot
    of Kleene(Seq(user,user)) and Kleene(Seq(user,tool)) share every
    slot-local attribute — only the GROUP's full member list separates
    them.  Without the group key in the slot signature they merged into
    one slot, crossing the two groups' repetition machinery."""
    pats = [
        _pat(Seq(Ev("w1", role="assistant"),
                 Kleene(Seq(Ev("w2", role="user"), Ev("w3", role="user")),
                        max_len=None)), pid=0),
        _pat(Seq(Ev("w1", role="assistant"),
                 Kleene(Seq(Ev("w4", role="user"), Ev("w5", role="tool")),
                        max_len=None)),
             where=(attr("w5", "value") > attr("w4", "value"))
             | (attr("w5", "tool") == lit("python")), pid=1),
    ]
    _assert_parity(pats, _group(98, n=18))
    # identical groups must still share their sub-slots
    same = [
        _pat(Seq(Ev("a", role="assistant"),
                 Kleene(Seq(Ev("p", role="user"), Ev("q", role="tool")),
                        max_len=None)), pid=0),
        _pat(Seq(Ev("a", role="assistant"),
                 Kleene(Seq(Ev("p", role="user"), Ev("q", role="tool")),
                        max_len=None),
                 Ev("z", role="user")), pid=1),
    ]
    merged = _assert_parity(same, _group(99, n=18))
    cps = [compile_pattern(p) for p in same]
    n_orig = sum(len(al.states) for cp in cps for al in cp.alternatives)
    assert len(merged.alternatives[0].states) < n_orig - 1


# ---------------------------------------------------------------------------
# streaming strategy='shared' — the merged automaton in the state store


def _mergeable_stream_family(mixed_windows=False, with_group=False):
    a = Ev("a", role="user")
    b = Ev("b", role="assistant")
    w = timedelta(seconds=120)
    # mixed: per-pattern windows straddling the corpus gap scale —
    # exercises per-tag seal instants / park deadlines / span re-checks
    ws = (
        [timedelta(seconds=45), timedelta(seconds=120),
         timedelta(seconds=75), timedelta(seconds=180)]
        if mixed_windows else [w, w, w, w]
    )
    mk = lambda struct, pid, win, where=None: Pattern(
        struct, where=where if where is not None else TRUE, window=win,
        pattern_id=pid,
    )
    fam = [
        mk(Seq(a, b, Ev("c", role="tool")), "p_fun", ws[0]),
        mk(Seq(a, b, Ev("d", role="user")), "p_up", ws[1],
           where=attr("d", "value") > attr("a", "value")),
        mk(Seq(a, b, Neg(Ev("n", role="tool"))), "p_tneg", ws[2]),  # trailing
        mk(Seq(a, Kleene(Ev("k", role="assistant")), Ev("e", role="tool")),
           "p_kleene", ws[3]),
    ]
    if with_group:
        # branch-group + PATTERN-trailing Neg: its own merge component;
        # parks matches whose Or_-branch vars may be absent (the
        # round-5 _park_partials regression, through the MULTI path)
        from cep_spark.pattern import Or_
        fam.append(
            mk(Seq(Kleene(Seq(Ev("u", role="user"),
                              Or_(Ev("v", role="assistant"),
                                  Ev("x", role="tool")))),
                   Neg(Ev("m", role="assistant"))),
               "p_grp", ws[1])
        )
        # ... and a branch-TRAILING Neg whose guarded specs (repeat_lb
        # loop-back + window-trailing parked path) ride the MULTI
        # executor (round 5, session 5)
        fam.append(
            mk(Seq(Ev("s2", role="tool"),
                   Kleene(Seq(Ev("u2", role="user"),
                              Or_(Seq(Ev("w2", role="assistant"),
                                      Neg(Ev("n2", role="user"))),
                                  Ev("y2", role="assistant"))))),
               "p_grp_tr", ws[2])
        )
        # ... and an And_ POSITION (session 6): the conjunctive mid
        # pointer + entry-gated gap Neg through the MULTI executor's
        # persisted merged-state tables
        fam.append(
            mk(Seq(Kleene(Seq(Ev("u3", role="user"),
                              Neg(Ev("n3", role="tool")),
                              And_(Ev("w3", role="assistant"),
                                   Ev("x3", role="tool")))),
                   Ev("t3", role="user")),
               "p_grp_and", ws[3])
        )
    return fam


@settings(max_examples=120, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(seed=st.integers(0, 2**31), n=st.integers(2, 24),
       cuts=st.lists(st.integers(0, 24), max_size=4),
       mixed=st.booleans(), grp=st.booleans())
def test_stream_shared_exactly_once_parity(seed, n, cuts, mixed, grp):
    """strategy='shared' streaming (merged automaton in the state store,
    per-tag trailing-neg parking) == per-pattern multi streaming == the
    union of batch runs over the effective rows — exactly once.  With
    ``mixed``, the family's windows differ per pattern (round 4)."""
    from test_stream_fn_property import (
        _canon_multi,
        _drive_multi,
        _effective_rows,
    )

    from cep_spark.batch import matches_to_pdf_array

    cps = [compile_pattern(p)
           for p in _mergeable_stream_family(mixed_windows=mixed,
                                             with_group=grp)]
    g = _group(seed, n=n)
    cuts = sorted(min(c, n) for c in cuts)
    bounds = [0] + cuts + [n]
    batches = [g.iloc[bounds[i]:bounds[i + 1]] for i in range(len(bounds) - 1)]
    final_wm = int(g["ts"].max().value // 1_000_000) + 10_000_000

    out_s, st_s = _drive_multi(cps, batches, final_wm, strategy="shared")
    out_p, st_p = _drive_multi(cps, batches, final_wm)
    got_s, got_p = _canon_multi(out_s), _canon_multi(out_p)
    assert got_s == got_p, f"shared={got_s}\nper-pattern={got_p}"

    eff = _effective_rows(batches)
    want = []
    if len(eff):
        g2 = eff.sort_values(["ts", "turn_idx"]).reset_index(drop=True)
        for cp in cps:
            res = match_group_nfa(cp, g2)
            if res:
                want.extend(_canon_multi(
                    [matches_to_pdf_array(cp, g2, "k0", ("turn_idx",), res=res)]
                ))
    assert got_s == sorted(want)
    assert st_s.removed or not st_s.exists


def test_stream_shared_checkpoint_format_guard():
    """A state store written by the per-pattern executor must be refused
    by strategy='shared' (and vice versa) — loudly, not by corrupting
    partial tables of the wrong automaton."""
    from test_stream_fn_property import FakeState, _drive_multi

    cps = [compile_pattern(p) for p in _mergeable_stream_family()]
    g = _group(7, n=16)
    batches = [g.iloc[:8], g.iloc[8:]]

    def drive_then_switch(first, then):
        from cep_spark.merge import merge_compiled
        from cep_spark.stream import _make_multi_fn

        mk_fn = lambda s: _make_multi_fn(
            cps, ("turn_idx",),
            merged=merge_compiled(cps) if s == "shared" else None,
        )
        state = FakeState()
        state.wm_ms = 0
        fn = mk_fn(first)
        for _ in fn(("c0",), iter([batches[0]]), state):
            pass
        state.wm_ms = int(batches[0]["ts"].max().value // 1_000_000)
        for _ in fn(("c0",), iter([pd.DataFrame(columns=batches[0].columns)]), state):
            pass
        assert state.exists  # partial tables persisted
        fn2 = mk_fn(then)
        with pytest.raises(RuntimeError, match="fresh checkpoint"):
            for _ in fn2(("c0",), iter([batches[1]]), state):
                pass

    drive_then_switch("partition", "shared")
    drive_then_switch("shared", "partition")


def test_stream_shared_fellback_state_guard():
    """Round-4 ADVICE (medium): a strategy='shared' run whose merged
    unit fell back to rematch persists fellback=1 with NO partial
    tables.  The format indicator must be written unconditionally so a
    per-pattern restart of that state is refused instead of silently
    reinterpreting the fellback bitmask (bit 0 = pattern 0) and
    resuming patterns 1..N-1 incrementally with empty tables
    mid-buffer."""
    from test_stream_fn_property import FakeState

    from cep_spark.merge import merge_compiled
    from cep_spark.stream import _make_multi_fn

    cps = [compile_pattern(p) for p in _mergeable_stream_family()]
    g = _group(7, n=16)

    # force_rematch stands in for the 8x-buffer fallback: the shared
    # unit keeps NO partial tables, only buffer + fellback bits
    fn_shared = _make_multi_fn(
        cps, ("turn_idx",),
        merged=merge_compiled(cps), force_rematch=True,
    )
    state = FakeState()
    state.wm_ms = 0
    for _ in fn_shared(("c0",), iter([g.iloc[:8]]), state):
        pass
    assert state.exists
    parts_raw, parked_raw = state._val[2], state._val[3]
    assert parts_raw is None and parked_raw is None  # no tables persisted
    # ...but the layout + family fingerprint ARE recorded
    assert state._val[7].startswith("shared-v4:")

    fn_perpat = _make_multi_fn(cps, ("turn_idx",), merged=None)
    with pytest.raises(RuntimeError, match="fresh checkpoint"):
        for _ in fn_perpat(("c0",), iter([g.iloc[8:]]), state):
            pass


def test_stream_family_fingerprint_guard():
    """Round-4 ADVICE (low): persisted parts/fellback/parked are keyed
    by component index and merged-state sids, so restarting the SAME
    strategy layout with an edited or reordered pattern list must
    refuse loudly (the fmt value carries a family fingerprint) instead
    of restoring partial tables against a different automaton."""
    from test_stream_fn_property import FakeState

    from cep_spark.stream import _make_multi_fn

    cps = [compile_pattern(p) for p in _mergeable_stream_family()]
    g = _group(7, n=16)

    fn = _make_multi_fn(cps, ("turn_idx",), merged=None)
    state = FakeState()
    state.wm_ms = 0
    for _ in fn(("c0",), iter([g.iloc[:8]]), state):
        pass
    assert state.exists

    # same layout (perpat), REORDERED family — component-index keys no
    # longer line up; must refuse with the fingerprint message
    fn_rev = _make_multi_fn(cps[::-1], ("turn_idx",), merged=None)
    with pytest.raises(RuntimeError, match="pattern family"):
        for _ in fn_rev(("c0",), iter([g.iloc[8:]]), state):
            pass

    # unchanged family restores cleanly (fingerprint is deterministic
    # across separately-constructed closures)
    fn_same = _make_multi_fn(cps, ("turn_idx",), merged=None)
    for _ in fn_same(("c0",), iter([g.iloc[8:]]), state):
        pass


def test_family_fingerprint_cross_version_stability():
    """The family fingerprint must be stable across processes and
    releases, or every restart would refuse its own checkpoint.  Pin
    the exact fingerprint of a representative family (seq / group / Or_
    branches / And_ position with Seq member / edge Negs / leaf
    bare-And_) — the constants below were computed for the
    ``perpat-v3`` / ``shared-v4`` layout (every shape field a plain
    entry; Kleene over an And_ of leaves compiled to one pos_all
    position) and must never change; if a future field genuinely must
    break them, bump the fmt layout version instead."""
    from cep_spark.pattern import Or_
    from cep_spark.stream import _family_fp

    def _pid(structure, pid):
        return _pat(structure, window=timedelta(seconds=120), pid=pid)

    fam = [
        _pid(Seq(Ev("a", role="user"), Ev("b", role="assistant")), "p_seq"),
        _pid(Seq(Kleene(Seq(Ev("u", role="user"), Ev("w", role="assistant"))),
                 Ev("t", role="tool")), "p_grp"),
        _pid(Seq(Kleene(Seq(Ev("u2", role="user"),
                            Or_(Ev("x2", role="tool"),
                                Seq(Ev("w2", role="assistant"),
                                    Ev("v2", role="assistant"))))),
                 Ev("t2", role="tool")), "p_br"),
        _pid(Seq(Kleene(Seq(Ev("u3", role="user"),
                            And_(Seq(Ev("w3", role="assistant"),
                                     Ev("v3", role="assistant")),
                                 Ev("x3", role="tool")))),
                 Ev("t3", role="user")), "p_andpos_seqmem"),
        _pid(Seq(Ev("a4", role="user"), Neg(Ev("n4", role="tool")),
                 Ev("b4", role="assistant"), Neg(Ev("m4", role="tool"))),
             "p_neg"),
        _pid(Seq(Kleene(And_(Ev("w5", role="assistant"),
                             Ev("x5", role="tool"))),
                 Ev("t5", role="user")), "p_bare_and_leaves"),
    ]
    cps = [compile_pattern(p) for p in fam]
    w_ns_of = [int(p.window.total_seconds() * 1e9) for p in fam]
    assert _family_fp(cps, w_ns_of,
                      tuple((i,) for i in range(len(cps)))) == "adc8ab369152"
    assert _family_fp(cps, w_ns_of,
                      (tuple(range(len(cps))),)) == "d63ae10decdf"


def test_stream_shared_spark_parity(spark, tmp_path):
    """strategy='shared' through the REAL Structured Streaming state
    store (availableNow) == union of per-pattern batch runs."""
    from test_stream import _flush_row, _split_files, events_pdf as _mk_pdf

    from cep_spark.batch import run_batch
    from cep_spark.stream import stream_matches_multi

    events_pdf = _mk_pdf.__wrapped__()
    emit = ("event_id", "event_type", "ts")

    def mk(struct, pid, where=None):
        return Pattern(struct, where=where if where is not None else TRUE,
                       window=timedelta(hours=12), key="user_id",
                       ts_col="ts", tiebreak_col="event_id", pattern_id=pid)

    cps = [
        compile_pattern(mk(Seq(Ev("a", event_type="signup"),
                               Ev("b", event_type="view"),
                               Ev("c", event_type="purchase")), "f0")),
        compile_pattern(mk(Seq(Ev("a", event_type="signup"),
                               Ev("b", event_type="view"),
                               Ev("d", event_type="click")), "f1",
                           where=attr("d", "value") > attr("a", "value"))),
        compile_pattern(mk(Seq(Ev("a", event_type="signup"),
                               Ev("b", event_type="view"),
                               Neg(Ev("n", event_type="error"))), "f2")),
    ]
    src = str(tmp_path / "src")
    with_flush = pd.concat(
        [events_pdf, _flush_row(events_pdf)], ignore_index=True
    )
    _split_files(with_flush, src, k=4)
    sdf = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = stream_matches_multi(sdf, cps, watermark="0 seconds",
                               emit_cols=emit, strategy="shared")
    q = (
        out.writeStream.format("memory").queryName("mps").outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(240)

    def canon(rows):
        return sorted(
            (r["user_id"], r["pattern_id"], r["alt_id"],
             tuple((m["var"], m["event_id"]) for m in r["matched"]))
            for r in rows
        )

    got = canon(spark.sql("SELECT * FROM mps").collect())
    ev_df = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    want = []
    for cp in cps:
        want.extend(canon(run_batch(ev_df, cp, mode="array", emit_cols=emit).collect()))
    assert got == sorted(want) and len(got) > 0


def test_stream_shared_with_state_guard():
    """strategy='shared' + max_partials_per_state: the loss-only cap
    applies per MERGED state; output is a subset of the exact run and
    the state function completes cleanly."""
    from test_stream_fn_property import FakeState

    from cep_spark.merge import merge_compiled
    from cep_spark.stream import _make_multi_fn

    cps = [compile_pattern(p) for p in _mergeable_stream_family()]
    g = _group(11, n=24)

    def drive(cap):
        fn = _make_multi_fn(cps, ("turn_idx",), merged=merge_compiled(cps), cap=cap)
        state = FakeState()
        rows = []
        wm = 0
        for b in (g.iloc[:12], g.iloc[12:], g.iloc[:0]):
            state.hasTimedOut = False
            state.wm_ms = wm
            for pdf in fn(("c0",), iter([b]), state):
                rows.extend(pdf.to_dict("records"))
            if len(b):
                wm = max(wm, int(b["ts"].max().value // 1_000_000))
        wm += 10_000_000
        for _ in range(32):
            if state.removed or not state.exists:
                break
            if state.timer_ms is None or state.timer_ms > wm:
                break
            state.hasTimedOut = True
            state.wm_ms = wm
            state.timer_ms = None
            for pdf in fn(("c0",), iter([]), state):
                rows.extend(pdf.to_dict("records"))
        return sorted(
            (r["conv_id"], r["pattern_id"], r["alt_id"],
             tuple((m["var"], m["turn_idx"]) for m in r["matched"]))
            for r in rows
        )

    exact = drive(None)
    capped = drive(2)
    assert set(capped) <= set(exact)
    assert len(exact) > 0


def test_merged_automaton_rejected_by_join_lowering():
    """Round-4 ADVICE (low): plan_join/expand_fixed must refuse a
    merge_compiled automaton (empty prereqs would silently drop all
    order constraints) instead of building a wrong plan."""
    from cep_spark.join_planner import expand_fixed
    from cep_spark.merge import merge_compiled

    cps = [compile_pattern(p) for p in _mergeable_stream_family()]
    merged = merge_compiled(cps)
    with pytest.raises(ValueError, match="merged multi-pattern"):
        expand_fixed(merged)


def test_stream_shared_per_component_fallback():
    """Round-4 VERDICT #3: one exploding rule must not drag rules it
    shares no state with to whole-automaton rematch.  Two disjoint
    components — a benign prefix-shared pair and a Kleene powerset bomb
    — drive the shared strategy through the fake state; only the bomb's
    component flips its fellback bit, the benign component keeps its
    partial tables, and emissions match per-pattern batch runs."""
    from test_stream_fn_property import (
        FakeState,
        _canon_multi,
        _drive_multi,
        _effective_rows,
    )

    from cep_spark.batch import matches_to_pdf_array
    from cep_spark.merge import merge_components
    from cep_spark.stream import _make_multi_fn

    w = timedelta(minutes=30)
    pats = [
        _pat(Seq(Ev("a", role="user"), Ev("b", role="assistant"),
                 Ev("c", role="user")), window=w, pid="benign0"),
        _pat(Seq(Ev("a", role="user"), Ev("b", role="assistant"),
                 Ev("d", role="assistant")), window=w, pid="benign1"),
        # the bomb: powerset Kleene over a dense role — partial count
        # ~2^(#tool events in window), blowing the 8x-buffer guard
        _pat(Seq(Ev("s", role="tool"), Kleene(Ev("k", role="tool"))),
             window=w, pid="bomb"),
    ]
    cps = [compile_pattern(p) for p in pats]
    units = merge_components(cps)
    assert [idxs for _, idxs in units] == [[0, 1], [2]]

    # corpus: the FIRST batch carries 12 tool events (sealed together at
    # the second invocation -> ~2^12 bomb partials > max(256, 8*buflen))
    # plus benign matches; the second batch is benign-heavy
    rng = np.random.default_rng(7)
    n = 36
    roles = np.array(
        ["user", "assistant", "user"] + ["tool"] * 12
        + ["user", "assistant", "assistant"]
        + list(rng.choice(["user", "assistant"], n - 18))
    )
    g = pd.DataFrame(
        {
            "conv_id": "c0",
            "turn_idx": np.arange(n, dtype=np.int32),
            "role": roles,
            "tool": rng.choice(["python", "sql"], n),
            "ts": pd.Timestamp("2026-01-01")
            + pd.to_timedelta(np.cumsum(rng.integers(1, 30, n)), unit="s"),
            "value": rng.uniform(0, 100, n).round(1),
        }
    )
    batches = [g.iloc[:18], g.iloc[18:]]
    final_wm = int(g["ts"].max().value // 1_000_000) + 10_000_000

    # A/B state inspection: drive the fn directly (not via _drive_multi)
    # so the fellback bitmask / parts can be asserted mid-stream
    fn = _make_multi_fn(cps, ("turn_idx",), merged=units)
    state = FakeState()
    out = []
    wm = 0
    for b in batches:
        state.hasTimedOut = False
        state.wm_ms = wm
        state.timer_ms = None
        for pdf in fn(("c0",), iter([b]), state):
            out.append(pdf)
        wm = int(b["ts"].max().value // 1_000_000)
    import pickle

    assert state.exists
    fellback = state._val[6]
    assert fellback == 0b10, f"expected only the bomb component, got {fellback:b}"
    parts = pickle.loads(state._val[2]) if state._val[2] else {}
    assert 0 in parts and 1 not in parts  # benign tables persisted, bomb's dropped

    # exactly-once emission parity incl. the drain phase
    out2, st2 = _drive_multi(cps, batches, final_wm, strategy="shared")
    eff = _effective_rows(batches)
    want = []
    if len(eff):
        g2 = eff.sort_values(["ts", "turn_idx"]).reset_index(drop=True)
        for cp in cps:
            res = match_group_nfa(cp, g2)
            if res:
                want.extend(_canon_multi(
                    [matches_to_pdf_array(cp, g2, "k0", ("turn_idx",), res=res)]
                ))
    assert _canon_multi(out2) == sorted(want)
    assert st2.removed or not st2.exists


@pytest.mark.parametrize("strategy", ["rematch", "remach"])
def test_unknown_stream_strategy_rejected(strategy):
    """The per-batch rematch executor is no longer a strategy: 'rematch'
    is refused like any other unknown value (the in-state fallback to
    rematching remains, per key and pattern).  Validated before df use."""
    from cep_spark.stream import stream_matches_multi

    cps = [compile_pattern(p) for p in _mergeable_stream_family()]
    with pytest.raises(ValueError, match="unknown strategy"):
        stream_matches_multi(None, cps, watermark="10 seconds", strategy=strategy)


def test_merge_components_bucketed():
    """Round 5: window-decade bucketing before merging — an extreme
    window spread splits into buckets (capping shared-state retention
    inflation at max_spread), moderate spreads stay merged, and the
    partition is deterministic / ordered by smallest global index."""
    from cep_spark.merge import merge_components, merge_components_bucketed

    a = Ev("a", role="user")
    b = Ev("b", role="assistant")
    mk = lambda pid, hours: Pattern(
        Seq(a, b, Ev(pid[-1], role="tool")), window=timedelta(hours=hours),
        pattern_id=pid,
    )
    pats = [mk("p_c", 1), mk("p_d", 168), mk("p_e", 2), mk("p_f", 100)]
    cps = [compile_pattern(p) for p in pats]
    w_ns_of = [int(p.window.total_seconds() * 1e9) for p in pats]

    comps = merge_components_bucketed(cps, w_ns_of, max_spread=16.0)
    parts = [idxs for _, idxs in comps]
    # 1h+2h bucket, 100h+168h bucket; ordered by smallest global index
    assert parts == [[0, 2], [1, 3]]

    # moderate spread (<= max_spread): single bucket == plain components
    comps2 = merge_components_bucketed(cps[:1] + cps[2:3],
                                       [w_ns_of[0], w_ns_of[2]],
                                       max_spread=16.0)
    assert [idxs for _, idxs in comps2] == [[0, 1]]

    # None disables the guard entirely
    comps3 = merge_components_bucketed(cps, w_ns_of, max_spread=None)
    assert [idxs for _, idxs in comps3] == [
        idxs for _, idxs in merge_components(cps)
    ]

    # unbounded windows bucket together, after the bounded buckets
    cps4 = [compile_pattern(Pattern(Seq(a, b, Ev("g", role="tool")),
                                    window=None, pattern_id="p_nw")),
            cps[0]]
    comps4 = merge_components_bucketed(cps4, [None, w_ns_of[0]],
                                       max_spread=16.0)
    assert [idxs for _, idxs in comps4] == [[0], [1]]


def test_stream_shared_bucketed_parity(spark, tmp_path):
    """strategy='shared' with an extreme window spread (bucketed into
    two components) still equals the union of per-pattern batch runs."""
    import pandas as pd

    from cep_spark.batch import run_batch
    from cep_spark.stream import stream_matches_multi

    a = Ev("a", role="user")
    b = Ev("b", role="assistant")
    pats = [
        Pattern(Seq(a, b, Ev("c", role="tool")),
                window=timedelta(seconds=45), pattern_id="p_short"),
        Pattern(Seq(a, b, Ev("d", role="user")),
                window=timedelta(seconds=3600), pattern_id="p_long"),
    ]
    cps = [compile_pattern(p) for p in pats]
    pdf = pd.concat(
        [_group(seed, n=24).assign(conv_id=f"c{seed}") for seed in (1, 2, 3)],
        ignore_index=True,
    )
    src = tmp_path / "src"
    src.mkdir()
    pdf2 = pdf.copy()
    pdf2["ts"] = pdf2["ts"].astype("datetime64[us]")
    pdf2.to_parquet(src / "p0.parquet", index=False)

    sdf = spark.readStream.schema(spark.createDataFrame(pdf2).schema).parquet(
        str(src)
    )
    out = stream_matches_multi(sdf, cps, watermark="0 seconds",
                               emit_cols=("turn_idx",), strategy="shared")
    q = (
        out.writeStream.format("memory").queryName("bucketed_par")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from bucketed_par").collect()
    got_set = sorted(
        (r["conv_id"], r["pattern_id"],
         tuple(sorted(m["turn_idx"] for m in r["matched"])))
        for r in got
    )
    want = []
    df = spark.createDataFrame(pdf2)
    for cp in cps:
        for r in run_batch(df, cp, mode="array",
                           emit_cols=("turn_idx",)).collect():
            want.append((r["conv_id"], r["pattern_id"],
                         tuple(sorted(m["turn_idx"] for m in r["matched"]))))
    assert got_set == sorted(want)


def test_branch_group_patterns_merge_and_share():
    """Round 5: patterns whose unbounded repetition contains Or_ BRANCH
    sub-slots merge with prefix sharing (the group member tuple in the
    slot signature distinguishes branch layouts), and the merged
    automaton is observationally identical to per-pattern execution."""
    from cep_spark.pattern import Or_

    pats = [
        _pat(Seq(Ev("s", role="user"),
                 Kleene(Seq(Ev("u", role="user"),
                            Or_(Ev("w", role="assistant"),
                                Ev("x", role="tool"))))), pid=0),
        _pat(Seq(Ev("s", role="user"),
                 Kleene(Seq(Ev("u", role="user"),
                            Or_(Ev("w", role="assistant"),
                                Ev("x", role="tool")))),
                 Ev("z", role="tool")), pid=1),
        _pat(Seq(Ev("s", role="user"), Ev("q", role="assistant")), pid=2),
    ]
    merged = _assert_parity(pats, _group(61, n=24))
    for seed in (62, 63, 64):
        _assert_parity(pats, _group(seed, n=16))
    cps = [compile_pattern(p) for p in pats]
    n_sep = sum(len(a.states) for cp in cps for a in cp.alternatives)
    # real sharing: the two branch-group patterns share their whole
    # group automaton, pattern 2 shares the (s) prefix
    assert len(merged.alternatives[0].states) < n_sep - (len(cps) - 1)
