"""Unbounded nested LEAF Kleene inside an unbounded composite Kleene
(round 5, sessions 16-17): ``Kleene(Seq(a, Kleene(b)), max_len=None)``
— and, since session 17, at ANY body position including the first
(``Kleene(Seq(Kleene(b), a))``; the repetition-count anchor for the
bounded forced-group cap moves to the first NON-loop position).

The inner Kleene becomes a LOOPING position of the repetition body
(compiler Slot.grp_loop): the repetition binds one event to enter it
and may append more via self-loop continue transitions
(Transition.loop_cont) while no later position of the current
repetition has bound.  The element tuple stays FLAT across repetitions
(runs concatenate in bind order); conjuncts referencing the variable
evaluate per element like Or_-branch vars, and pairings with same-group
mates reject loudly (the bounded-inner chain expansion rejects the same
pairings — its chain instances are branch vars).

Checked four ways, the round's standard recipe:
  * fixed shapes vs the brute-force replica (which bounds the closure
    and runs the chain expansion — the nested Kleene stays a LEAF
    Kleene in every chain copy, so the replica needed only a fold
    flatten);
  * unbounded-inner vs bounded-inner-at-n chains on the same data
    (equal whenever no qualifying run can exceed n);
  * bounded OUTER (composite="group") with unbounded inner vs the
    bounded chain expansion with inner bounded at n — the repetition
    CAP and the loop compose;
  * hand-computed mechanics fixtures (run extension windows, gap-Neg
    entry gating, trailing gaps reading the run's last element,
    adjacent-pair conditions scoped per run).
"""

from __future__ import annotations

from datetime import timedelta

import numpy as np
import pandas as pd
import pytest

from cep_spark.batch import match_group_nfa
from cep_spark.compiler import compile_pattern
from cep_spark.conditions import attr, lit
from cep_spark.pattern import And_, Ev, Kleene, Neg, Or_, Pattern, Seq
from oracle_cep import match_group

ROLES = ["user", "assistant", "tool"]


LOOP_PATTERNS = {
    "loop_plain": Pattern(
        Seq(Kleene(Seq(Ev("u", role="user"), Kleene(Ev("b", role="assistant")))),
            Ev("t", role="tool")),
        window=timedelta(minutes=5),
    ),
    # gap Neg INTO the loop position: guards (u_j, FIRST b of rep j)
    # only — continue binds never re-check it
    "loop_neg_before": Pattern(
        Seq(Kleene(Seq(Ev("u", role="user"), Neg(Ev("n", tool="sql")),
                       Kleene(Ev("b", role="assistant")))),
            Ev("t", role="tool")),
        window=timedelta(minutes=5),
    ),
    # gap Neg OUT of the loop position: guards (LAST chosen b of rep j,
    # c_j) — the flat tuple's last element is the run's last
    "loop_neg_after": Pattern(
        Seq(Kleene(Seq(Ev("u", role="user"), Kleene(Ev("b", role="assistant")),
                       Neg(Ev("n", tool="sql")), Ev("c", role="user"))),
            Ev("t", role="tool")),
        window=timedelta(minutes=8),
    ),
    # trailing Neg after the loop at the body END: loop-back gap (last
    # b of rep j, u_{j+1}) + bubbled gap (last b of last rep, t)
    "loop_trail_neg": Pattern(
        Seq(Kleene(Seq(Ev("u", role="user"), Kleene(Ev("b", role="assistant")),
                       Neg(Ev("n", tool="sql")))),
            Ev("t", role="tool")),
        window=timedelta(minutes=5),
    ),
    # loop mid-body (continue gated on mid == grp_idx+1, not the
    # complete-group path)
    "loop_mid_body": Pattern(
        Seq(Kleene(Seq(Ev("u", role="user"), Kleene(Ev("b", role="assistant")),
                       Ev("c", role="tool"))),
            Ev("t", role="user")),
        window=timedelta(minutes=8),
    ),
    # TWO loop positions in one repetition body (adjacent)
    "loop_two": Pattern(
        Seq(Kleene(Seq(Ev("u", role="user"), Kleene(Ev("b", role="assistant")),
                       Kleene(Ev("d", role="tool")))),
            Ev("t", role="user")),
        window=timedelta(minutes=8),
    ),
    # an Or_ position sibling of the loop position
    "loop_or_pos": Pattern(
        Seq(Kleene(Seq(Ev("u", role="user"),
                       Or_(Ev("w", role="assistant"), Ev("x", role="tool")),
                       Kleene(Ev("b", role="assistant")))),
            Ev("t", role="tool")),
        window=timedelta(minutes=5),
    ),
    # conjunct pairing the loop var with an INDEPENDENT leaf Kleene:
    # cross product of element tuples (chain semantics)
    "loop_x_leaf_kleene": Pattern(
        Seq(Kleene(Seq(Ev("u", role="user"), Kleene(Ev("b", role="assistant")))),
            Kleene(Ev("k", role="tool"))),
        where=attr("k", "value") > attr("b", "value"),
        window=timedelta(minutes=5),
    ),
    # unary + non-group-pairing conjuncts on the loop var (per element,
    # ALL must hold)
    "loop_conds": Pattern(
        Seq(Kleene(Seq(Ev("u", role="user"), Kleene(Ev("b", role="assistant")))),
            Ev("t", role="tool")),
        where=(attr("b", "value") < lit(80.0))
        & (attr("b", "value") > attr("t", "value") - lit(90.0)),
        window=timedelta(minutes=5),
    ),
    # adjacent-pair condition scoped per RUN (entry binds start fresh)
    "loop_adjacent": Pattern(
        Seq(Kleene(Seq(Ev("u", role="user"),
                       Kleene(Ev("b", role="assistant"),
                              adjacent=attr("b", "value")
                              > attr("b__prev", "value")))),
            Ev("t", role="tool")),
        window=timedelta(minutes=5),
    ),
    # ---- session 17: the loop STARTS the repetition body ----
    # the loop's ENTRY bind opens repetition j (loop-back entry with
    # rep_start from a completed group); continues extend the run while
    # mid == 1; the repetition-count anchor moves to position 1
    "loop_first": Pattern(
        Seq(Kleene(Seq(Kleene(Ev("b", role="assistant")),
                       Ev("u", role="user"))),
            Ev("t", role="tool")),
        window=timedelta(minutes=5),
    ),
    # gap Neg OUT of the position-0 loop: guards (run's LAST b, u_j)
    "loop_first_neg_after": Pattern(
        Seq(Kleene(Seq(Kleene(Ev("b", role="assistant")),
                       Neg(Ev("n", tool="sql")), Ev("u", role="user"))),
            Ev("t", role="tool")),
        window=timedelta(minutes=5),
    ),
    # pattern-initial leading Neg BEFORE the position-0 loop: first
    # repetition = window-bounded root edge, later = loop-back gap
    # closing at the run's ENTRY bind only
    "loop_first_lead_neg": Pattern(
        Seq(Kleene(Seq(Neg(Ev("n", tool="sql")),
                       Kleene(Ev("b", role="assistant")),
                       Ev("u", role="user"))),
            Ev("t", role="tool")),
        window=timedelta(minutes=5),
    ),
    # trailing Neg with a position-0 loop: the loop-back gap's left
    # boundary is the ANCHOR's bind, its right the next run's entry
    "loop_first_trail_neg": Pattern(
        Seq(Ev("s", role="tool"),
            Kleene(Seq(Kleene(Ev("b", role="assistant")),
                       Ev("u", role="user"), Neg(Ev("n", tool="sql"))))),
        window=timedelta(minutes=5),
    ),
    # loops at BOTH ends of the body: entry run + complete-and-open
    # extension compose around one anchor
    "loop_first_and_last": Pattern(
        Seq(Kleene(Seq(Kleene(Ev("b", role="assistant")),
                       Ev("u", role="user"),
                       Kleene(Ev("d", role="tool")))),
            Ev("t", role="user")),
        window=timedelta(minutes=8),
    ),
}


# ---- session 18: UNBOUNDED COMPOSITE (Seq-of-leaves) nested Kleene —
# a looping UNIT position: the repetition binds one-or-more full
# (b, c) inner repetitions, re-entering through the unit's first leaf
# (loop_cont transitions that re-open the (j, 0, 1) mid pointer).
# Unit leaves zip-align per inner repetition (same-branch alignment);
# pairings with group mates outside the unit reject like leaf loops.
UNIT_PATTERNS = {
    "unit_tail": Pattern(
        Seq(Kleene(Seq(Ev("u", role="user"),
                       Kleene(Seq(Ev("b", role="assistant"),
                                  Ev("c", role="tool"))))),
            Ev("t", role="user")),
        window=timedelta(minutes=8),
    ),
    # unit mid-body: continue re-entry gated on mid == grp_idx+1, and
    # the unit must COMPLETE before the next position binds
    "unit_mid": Pattern(
        Seq(Kleene(Seq(Ev("u", role="user"),
                       Kleene(Seq(Ev("b", role="assistant"),
                                  Ev("c", role="tool"))),
                       Ev("d", role="assistant"))),
            Ev("t", role="user")),
        window=timedelta(minutes=10),
    ),
    # unit STARTS the body (session-17 position-0 machinery composes)
    "unit_first": Pattern(
        Seq(Kleene(Seq(Kleene(Seq(Ev("b", role="assistant"),
                                  Ev("c", role="tool"))),
                       Ev("u", role="user"))),
            Ev("t", role="tool")),
        window=timedelta(minutes=8),
    ),
    # gap Neg INTO the unit: guards (u_j, FIRST b of the first inner
    # repetition) only — re-entries never re-check it
    "unit_neg_before": Pattern(
        Seq(Kleene(Seq(Ev("u", role="user"), Neg(Ev("n", tool="sql")),
                       Kleene(Seq(Ev("b", role="assistant"),
                                  Ev("c", role="tool"))))),
            Ev("t", role="user")),
        window=timedelta(minutes=10),
    ),
    # trailing Neg after the unit at the body end: loop-back gap reads
    # the unit's LAST leaf (c of the last inner repetition)
    "unit_trail_neg": Pattern(
        Seq(Kleene(Seq(Ev("u", role="user"),
                       Kleene(Seq(Ev("b", role="assistant"),
                                  Ev("c", role="tool"))),
                       Neg(Ev("n", tool="sql")))),
            Ev("t", role="user")),
        window=timedelta(minutes=10),
    ),
    # conjunct pairing the unit's OWN leaves: same-branch zip per
    # inner repetition (allowed; cross pairings with u reject)
    "unit_zip_cond": Pattern(
        Seq(Kleene(Seq(Ev("u", role="user"),
                       Kleene(Seq(Ev("b", role="assistant"),
                                  Ev("c", role="tool"))))),
            Ev("t", role="user")),
        where=attr("c", "value") > attr("b", "value") - lit(50.0),
        window=timedelta(minutes=10),
    ),
    # session 19: a Neg strictly BETWEEN two unit leaves — a
    # per-INNER-repetition gap (fires in re-entered units too)
    "unit_inner_neg": Pattern(
        Seq(Kleene(Seq(Ev("u", role="user"),
                       Kleene(Seq(Ev("b", role="assistant"),
                                  Neg(Ev("n", tool="sql")),
                                  Ev("c", role="tool"))))),
            Ev("t", role="user")),
        window=timedelta(minutes=10),
    ),
    # ... and with the unit at position 0 (sessions 17+19 compose)
    "unit_inner_neg_first": Pattern(
        Seq(Kleene(Seq(Kleene(Seq(Ev("b", role="assistant"),
                                  Neg(Ev("n", tool="sql")),
                                  Ev("c", role="tool"))),
                       Ev("u", role="user"))),
            Ev("t", role="tool")),
        window=timedelta(minutes=10),
    ),
}


def _gen_group(seed, n):
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


def _canon_nfa(res):
    return sorted(
        (a, tuple(sorted((v, p if isinstance(p, tuple) else (p,)) for v, p in b.items())))
        for a, b in res
    )


def _canon_rep(res):
    out = []
    for b in res:
        alt = b.pop("_alt")
        out.append(
            (alt, tuple(sorted((v, p if isinstance(p, tuple) else (p,)) for v, p in b.items())))
        )
    return sorted(out)


@pytest.mark.parametrize("name", sorted(LOOP_PATTERNS))
def test_group_loop_vs_replica(name):
    pat = LOOP_PATTERNS[name]
    cp = compile_pattern(pat)
    # the loop slots are flagged and excluded from var_group (they
    # evaluate per element, not zip-aligned)
    alt = cp.alternatives[0]
    loops = [s for s in alt.slots if s.grp_loop]
    assert loops and all(s.var not in alt.var_group for s in loops)
    rng = np.random.default_rng(0x100F)
    nonzero = 0
    for trial in range(60):
        g = _gen_group(trial * 7 + 1, int(rng.integers(2, 11)))
        gs = g.sort_values(["ts", "turn_idx"]).reset_index(drop=True)
        m = _canon_nfa(match_group_nfa(cp, gs))
        o = _canon_rep(match_group(pat, g.copy()))
        assert m == o, f"{name} trial {trial}\nnfa={m}\nrep={o}\n{g}"
        nonzero += bool(m)
    assert nonzero > 0, name


@pytest.mark.parametrize("name", sorted(UNIT_PATTERNS))
def test_group_unit_vs_replica(name):
    pat = UNIT_PATTERNS[name]
    cp = compile_pattern(pat)
    alt = cp.alternatives[0]
    units = [s for s in alt.slots if s.grp_loop]
    # both unit leaves are loop slots with branch layout, excluded from
    # the zip map's GROUP dimension but zip-aligned between themselves
    assert len(units) == 2 and all(s.br_len == 2 for s in units)
    assert all(
        alt.var_group.get(s.var) == (s.group, s.grp_idx, s.br)
        for s in units
    )
    rng = np.random.default_rng(0x100F + 8)
    nonzero = 0
    for trial in range(60):
        # n <= 9: the replica bounds the inner at n//2 and the outer at
        # n//3 — its chain-alternative count is exponential in both
        g = _gen_group(trial * 7 + 3, int(rng.integers(3, 10)))
        gs = g.sort_values(["ts", "turn_idx"]).reset_index(drop=True)
        m = _canon_nfa(match_group_nfa(cp, gs))
        o = _canon_rep(match_group(pat, g.copy()))
        assert m == o, f"{name} trial {trial}\nnfa={m}\nrep={o}\n{g}"
        nonzero += bool(m)
    assert nonzero > 0, name


def _fold_chain(res, bases):
    """Fold b__r_j branch-chain names (bounded-inner expansion) back to
    their base: union of the instance positions, position-sorted (runs
    bind in position order, so sorting reproduces the flat tuple)."""
    import re

    out = []
    for a, b in res:
        fb: dict = {}
        for v, p in b.items():
            m = re.fullmatch(r"(.+?)__\d+_\d+", v)
            base = m.group(1) if m and m.group(1) in bases else v
            pp = p if isinstance(p, tuple) else (p,)
            if base in bases:
                fb[base] = tuple(sorted(fb.get(base, ()) + pp))
            else:
                fb[v] = p
        out.append((a, tuple(sorted(
            (v, p if isinstance(p, tuple) else (p,)) for v, p in fb.items()
        ))))
    return sorted(set(out))


def _unb_vs_bounded(pat_of, bases, seed, trials=40, lo=3, hi=10):
    """pat_of(N): N=None -> unbounded inner; N=int -> bounded inner.
    With N >= group size no run can exceed the bound, so the two match
    sets must coincide (folded names)."""
    cp_unb = compile_pattern(pat_of(None))
    rng = np.random.default_rng(seed)
    nonzero = multirun = 0
    for trial in range(trials):
        g = _gen_group(trial * 13 + 5, int(rng.integers(lo, hi)))
        gs = g.sort_values(["ts", "turn_idx"]).reset_index(drop=True)
        n = len(gs)
        cp_bn = compile_pattern(pat_of(max(1, n)))
        mu = _canon_nfa(match_group_nfa(cp_unb, gs))
        mc = _fold_chain(match_group_nfa(cp_bn, gs), bases)
        assert mu == mc, f"trial {trial}\n{g}"
        nonzero += bool(mu)
        multirun += any(
            len(dict(b).get(v, ())) > 1 for _, b in mu for v in bases
        )
    assert nonzero > 0 and multirun > 0


def test_loop_vs_bounded_inner_chains():
    _unb_vs_bounded(
        lambda N: Pattern(
            Seq(Kleene(Seq(Ev("u", role="user"),
                           Kleene(Ev("b", role="assistant"), max_len=N))),
                Ev("t", role="tool")),
            window=timedelta(minutes=5),
        ),
        {"b"}, 0x5EED,
    )


def test_loop_neg_vs_bounded_inner_chains():
    _unb_vs_bounded(
        lambda N: Pattern(
            Seq(Kleene(Seq(Ev("u", role="user"), Neg(Ev("n", tool="sql")),
                           Kleene(Ev("b", role="assistant"), max_len=N),
                           Neg(Ev("m", role="user")))),
                Ev("t", role="tool")),
            window=timedelta(minutes=5),
        ),
        {"b"}, 0x5EED + 1,
    )


def test_loop_first_vs_bounded_inner_chains():
    # session 17: loop at position 0
    _unb_vs_bounded(
        lambda N: Pattern(
            Seq(Kleene(Seq(Kleene(Ev("b", role="assistant"), max_len=N),
                           Ev("u", role="user"))),
                Ev("t", role="tool")),
            window=timedelta(minutes=5),
        ),
        {"b"}, 0x5EED + 3,
    )


def test_loop_first_neg_vs_bounded_inner_chains():
    # session 17: loop at position 0 with a gap Neg OUT of it and a
    # trailing Neg after the anchor (loop-back + bubbled gaps)
    _unb_vs_bounded(
        lambda N: Pattern(
            Seq(Kleene(Seq(Kleene(Ev("b", role="assistant"), max_len=N),
                           Neg(Ev("n", tool="sql")), Ev("u", role="user"),
                           Neg(Ev("m", role="user")))),
                Ev("t", role="tool")),
            window=timedelta(minutes=5),
        ),
        {"b"}, 0x5EED + 4,
    )


def test_loop_adjacent_vs_bounded_inner_chains():
    _unb_vs_bounded(
        lambda N: Pattern(
            Seq(Kleene(Seq(Ev("u", role="user"),
                           Kleene(Ev("b", role="assistant"), max_len=N,
                                  adjacent=attr("b", "value")
                                  > attr("b__prev", "value")))),
                Ev("t", role="tool")),
            window=timedelta(minutes=5),
        ),
        {"b"}, 0x5EED + 2,
    )


def test_unit_vs_bounded_inner_chains():
    """Session 18: unbounded composite unit vs the bounded-at-n/2 unit
    chains (`_kleene_unit_chains` names b__r_j / c__r_j) — NFA vs NFA,
    so n can exceed the replica's budget and multi-inner-repetition
    runs are exercised."""
    def pat_of(N):
        return Pattern(
            Seq(Kleene(Seq(Ev("u", role="user"),
                           Kleene(Seq(Ev("b", role="assistant"),
                                      Ev("c", role="tool")), max_len=N))),
                Ev("t", role="user")),
            window=timedelta(minutes=10),
        )

    cp_unb = compile_pattern(pat_of(None))
    rng = np.random.default_rng(0x5EED + 8)
    nonzero = multi = 0
    for trial in range(40):
        g = _gen_group(trial * 13 + 7, int(rng.integers(4, 13)))
        gs = g.sort_values(["ts", "turn_idx"]).reset_index(drop=True)
        cp_bn = compile_pattern(pat_of(max(1, len(gs) // 2)))
        mu = _canon_nfa(match_group_nfa(cp_unb, gs))
        mc = _fold_chain(match_group_nfa(cp_bn, gs), {"b", "c"})
        assert mu == mc, f"trial {trial}\n{g}"
        nonzero += bool(mu)
        multi += any(
            len(dict(b).get("b", ())) > len(dict(b)["u"]) for _, b in mu
        )
    assert nonzero > 0 and multi > 0


def test_unit_inner_neg_vs_bounded_chains():
    """Session 19: the unit's interior Neg vs the bounded unit chains
    (where it becomes a within-branch Neg between renamed leaves —
    session-4 machinery): the per-inner-repetition gap must fire in
    first-pass AND re-entered units alike."""
    import re

    def pat_of(N):
        return Pattern(
            Seq(Kleene(Seq(Ev("u", role="user"),
                           Kleene(Seq(Ev("b", role="assistant"),
                                      Neg(Ev("n", tool="sql")),
                                      Ev("c", role="tool")), max_len=N))),
                Ev("t", role="user")),
            window=timedelta(minutes=10),
        )

    cp_unb = compile_pattern(pat_of(None))
    rng = np.random.default_rng(0x191)
    nonzero = multi = 0
    for trial in range(40):
        g = _gen_group(trial * 13 + 11, int(rng.integers(4, 13)))
        gs = g.sort_values(["ts", "turn_idx"]).reset_index(drop=True)
        cp_bn = compile_pattern(pat_of(max(1, len(gs) // 2)))
        mu = _canon_nfa(match_group_nfa(cp_unb, gs))
        folded = []
        for a, b in match_group_nfa(cp_bn, gs):
            fb: dict = {}
            for v, p in b.items():
                m = re.fullmatch(r"([bc])__\d+_\d+", v)
                base = m.group(1) if m else v
                pp = p if isinstance(p, tuple) else (p,)
                if m:
                    fb[base] = tuple(sorted(fb.get(base, ()) + pp))
                else:
                    fb[v] = p
            folded.append((a, tuple(sorted(
                (v, p if isinstance(p, tuple) else (p,)) for v, p in fb.items()
            ))))
        assert mu == sorted(set(folded)), f"trial {trial}\n{g}"
        nonzero += bool(mu)
        multi += any(
            len(dict(b).get("b", ())) > len(dict(b)["u"]) for _, b in mu
        )
    assert nonzero > 0 and multi > 0


def test_bounded_outer_unit_equals_chain_expansion():
    """Session 18: bounded OUTER (composite='group') with an unbounded
    unit inner vs the chain expansion — the repetition cap (counted at
    the non-loop anchor position) and the unit's re-entry compose."""
    def pat_of(outer, inner):
        return Pattern(
            Seq(Kleene(Seq(Ev("u", role="user"),
                           Kleene(Seq(Ev("b", role="assistant"),
                                      Ev("c", role="tool")),
                                  max_len=inner)),
                       max_len=outer),
                Ev("t", role="user")),
            window=timedelta(minutes=15),
        )

    import re

    cp_group = compile_pattern(pat_of(2, None), composite="group")
    rng = np.random.default_rng(0x99)
    nonzero = capped = multi = 0
    for trial in range(40):
        g = _gen_group(trial * 23 + 1, int(rng.integers(8, 15)))
        gs = g.sort_values(["ts", "turn_idx"]).reset_index(drop=True)
        cp_chain = compile_pattern(pat_of(2, max(1, len(gs) // 2)))
        mg = _canon_nfa(match_group_nfa(cp_group, gs))
        folded = []
        for a, b in match_group_nfa(cp_chain, gs):
            fb: dict = {}
            for v, p in b.items():
                m = re.fullmatch(r"([ubc])(?:__\d+(?:_\d+)?)+", v)
                base = m.group(1) if m else v
                pp = p if isinstance(p, tuple) else (p,)
                if m:
                    fb[base] = tuple(sorted(fb.get(base, ()) + pp))
                else:
                    fb[v] = p
            folded.append((0, tuple(sorted(
                (v, p if isinstance(p, tuple) else (p,)) for v, p in fb.items()
            ))))
        assert mg == sorted(set(folded)), f"trial {trial}\n{g}"
        nonzero += bool(mg)
        capped += any(len(dict(b)["u"]) == 2 for _, b in mg)
        multi += any(
            len(dict(b).get("b", ())) > len(dict(b)["u"]) for _, b in mg
        )
    assert nonzero > 0 and capped > 0 and multi > 0


def test_bounded_outer_loop_equals_chain_expansion():
    """Bounded OUTER (composite='group', cap at the loop-back) with an
    UNBOUNDED inner vs the default chain expansion with the inner
    bounded at n: the repetition cap and the loop must compose."""
    def pat_of(outer, inner):
        return Pattern(
            Seq(Kleene(Seq(Ev("u", role="user"),
                           Kleene(Ev("b", role="assistant"), max_len=inner)),
                       max_len=outer),
                Ev("t", role="tool")),
            window=timedelta(minutes=5),
        )

    cp_group = compile_pattern(pat_of(2, None), composite="group")
    rng = np.random.default_rng(0xCA9)
    nonzero = capped = 0
    for trial in range(40):
        g = _gen_group(trial * 17 + 7, int(rng.integers(3, 11)))
        gs = g.sort_values(["ts", "turn_idx"]).reset_index(drop=True)
        n = len(gs)
        cp_chain = compile_pattern(pat_of(2, max(1, n)))
        mg = _canon_nfa(match_group_nfa(cp_group, gs))
        # chain names: u__j for the outer repetition, b__j__r_k for the
        # nested chains — fold BOTH layers back
        import re

        folded = []
        for a, b in match_group_nfa(cp_chain, gs):
            fb: dict = {}
            for v, p in b.items():
                m = re.fullmatch(r"([ub])__\d+(?:__\d+_\d+)?", v)
                base = m.group(1) if m else v
                pp = p if isinstance(p, tuple) else (p,)
                if m:
                    fb[base] = tuple(sorted(fb.get(base, ()) + pp))
                else:
                    fb[v] = p
            folded.append((0, tuple(sorted(
                (v, p if isinstance(p, tuple) else (p,)) for v, p in fb.items()
            ))))
        assert mg == sorted(set(folded)), f"trial {trial}\n{g}"
        nonzero += bool(mg)
        capped += any(len(dict(b)["u"]) == 2 for _, b in mg)
    assert nonzero > 0 and capped > 0


def test_bounded_outer_loop_first_equals_chain_expansion():
    """Session 17: bounded OUTER with the loop at position 0 — the
    repetition-count anchor moves to the first NON-loop position
    (batch.py grp_anchor_vars), so the cap at the loop-back bind counts
    repetitions, not run elements."""
    def pat_of(outer, inner):
        return Pattern(
            Seq(Kleene(Seq(Kleene(Ev("b", role="assistant"), max_len=inner),
                           Ev("u", role="user")), max_len=outer),
                Ev("t", role="tool")),
            window=timedelta(minutes=5),
        )

    cp_group = compile_pattern(pat_of(2, None), composite="group")
    rng = np.random.default_rng(0xCA9 + 1)
    nonzero = capped = 0
    for trial in range(40):
        g = _gen_group(trial * 17 + 3, int(rng.integers(3, 11)))
        gs = g.sort_values(["ts", "turn_idx"]).reset_index(drop=True)
        n = len(gs)
        cp_chain = compile_pattern(pat_of(2, max(1, n)))
        mg = _canon_nfa(match_group_nfa(cp_group, gs))
        import re

        folded = []
        for a, b in match_group_nfa(cp_chain, gs):
            fb: dict = {}
            for v, p in b.items():
                m = re.fullmatch(r"([ub])__\d+(?:__\d+_\d+)?", v)
                base = m.group(1) if m else v
                pp = p if isinstance(p, tuple) else (p,)
                if m:
                    fb[base] = tuple(sorted(fb.get(base, ()) + pp))
                else:
                    fb[v] = p
            folded.append((0, tuple(sorted(
                (v, p if isinstance(p, tuple) else (p,)) for v, p in fb.items()
            ))))
        assert mg == sorted(set(folded)), f"trial {trial}\n{g}"
        nonzero += bool(mg)
        capped += any(len(dict(b)["u"]) == 2 for _, b in mg)
    assert nonzero > 0 and capped > 0


def test_loop_mechanics_fixture():
    """Hand-computed: run extension, repetition boundaries, entry-only
    gap checks, trailing gap from the run's LAST element."""
    ts0 = pd.Timestamp("2026-01-01")

    def frame(types):
        return pd.DataFrame({
            "conv_id": "c0",
            "turn_idx": np.arange(len(types), dtype=np.int32),
            "role": list(types),
            "tool": "python",
            "ts": ts0 + pd.to_timedelta(np.arange(len(types)), unit="s"),
            "value": np.arange(len(types), dtype=float),
        })

    pat = LOOP_PATTERNS["loop_plain"]
    cp = compile_pattern(pat)
    # u=1, b in {2,3}, u=4(user), b=5, t=6
    g = frame(["tool", "user", "assistant", "assistant", "user",
               "assistant", "tool"])
    res = {tuple(b["u"]) + (None,) + tuple(b["b"])
           for _, b in match_group_nfa(cp, g)}
    # one rep u=1: any nonempty subset of {2,3,5}; u=4: {5}; two reps
    # u=(1,4): B1 subset of {2,3} (strictly before u2=4), B2={5}
    expect = {(1, None) + s for s in [(2,), (3,), (5,), (2, 3), (2, 5),
                                      (3, 5), (2, 3, 5)]}
    expect |= {(4, None, 5)}
    expect |= {(1, 4, None) + s + (5,) for s in [(2,), (3,), (2, 3)]}
    assert res == expect
    # the 2-repetition match (u=(1,4), b=(2,3,5)) shows runs
    # CONCATENATED flat in bind order
    assert (1, 4, None, 2, 3, 5) in res

    # gap Neg INTO the loop: kills only runs whose FIRST element is
    # after the neg event (entry gating — continue binds don't
    # re-check)
    patn = LOOP_PATTERNS["loop_neg_before"]
    cpn = compile_pattern(patn)
    gg = frame(["tool", "user", "assistant", "tool", "assistant", "tool"])
    gg.loc[3, "tool"] = "sql"  # the Neg candidate between b=2 and b=4
    resn = {tuple(b["b"]) for _, b in match_group_nfa(cpn, gg)}
    # runs starting at 2 survive ((2,), (2,4)); runs starting at 4 die
    assert resn == {(2,), (2, 4)}

    # trailing Neg: gap reads the run's LAST element
    patt = LOOP_PATTERNS["loop_trail_neg"]
    cpt = compile_pattern(patt)
    g3 = frame(["user", "assistant", "tool", "assistant", "tool"])
    g3.loc[2, "tool"] = "sql"  # neg candidate between b=1 and b=3
    rest = {(tuple(b["b"]), b["t"]) for _, b in match_group_nfa(cpt, g3)}
    # final-repetition gap (last b, t) EXCLUSIVE: t=2 pairs only with
    # b=(1,) (empty gap — the sql event IS t); t=4 requires last b=3
    # (last=1 leaves the sql event at 2 inside the gap); the bound b=1
    # inside (1,3)'s run is excluded from the kill
    assert rest == {((1,), 2), ((3,), 4), ((1, 3), 4)}


def test_loop_first_mechanics_fixture():
    """Hand-computed position-0 loop mechanics: repetition j+1's run
    starts strictly AFTER repetition j's last bind, and the leading
    Neg's per-repeat gap closes at the run's ENTRY element only."""
    ts0 = pd.Timestamp("2026-01-01")

    def frame(types, tools=None):
        return pd.DataFrame({
            "conv_id": "c0",
            "turn_idx": np.arange(len(types), dtype=np.int32),
            "role": list(types),
            "tool": list(tools) if tools else "python",
            "ts": ts0 + pd.to_timedelta(np.arange(len(types)), unit="s"),
            "value": np.arange(len(types), dtype=float),
        })

    pat = LOOP_PATTERNS["loop_first"]
    cp = compile_pattern(pat)
    # b in {0,1,3}, u in {2,4}, t=5
    g = frame(["assistant", "assistant", "user", "assistant", "user",
               "tool"])
    res = {(tuple(b["u"]), tuple(b["b"]))
           for _, b in match_group_nfa(cp, g)}
    expect = {((2,), s) for s in [(0,), (1,), (0, 1)]}
    expect |= {((4,), s) for s in [(0,), (1,), (3,), (0, 1), (0, 3),
                                   (1, 3), (0, 1, 3)]}
    # two repetitions: rep2's run must start strictly after u=2
    expect |= {((2, 4), s) for s in [(0, 3), (1, 3), (0, 1, 3)]}
    assert res == expect

    # leading Neg before the position-0 loop: entry-gated per-repeat
    # gap + window-bounded first-repetition edge
    patn = LOOP_PATTERNS["loop_first_lead_neg"]
    cpn = compile_pattern(patn)
    gg = frame(["assistant", "user", "tool", "assistant", "user", "tool"],
               ["python", "python", "sql", "python", "python", "python"])
    resn = {(tuple(b["u"]), tuple(b["b"]), b["t"])
            for _, b in match_group_nfa(cpn, gg)}
    # sql at 2 kills: first-rep runs ENTERING at 3, and rep2 entries
    # whose gap (u=1, entry=3) spans it; a run (0,3) SPANNING the sql
    # survives (the gap closed at entry 0 — chain semantics)
    assert resn == {((1,), (0,), 2), ((1,), (0,), 5),
                    ((4,), (0,), 5), ((4,), (0, 3), 5)}


def test_unit_mechanics_fixture():
    """Hand-computed composite-unit mechanics: inner repetitions are
    strictly ordered pairs, extension vs loop-back disambiguate on the
    anchor, and a completed group may re-open its unit mid."""
    ts0 = pd.Timestamp("2026-01-01")

    def frame(types):
        return pd.DataFrame({
            "conv_id": "c0",
            "turn_idx": np.arange(len(types), dtype=np.int32),
            "role": list(types),
            "tool": "python",
            "ts": ts0 + pd.to_timedelta(np.arange(len(types)), unit="s"),
            "value": np.arange(len(types), dtype=float),
        })

    pat = UNIT_PATTERNS["unit_tail"]
    cp = compile_pattern(pat)
    # u=0, b=1, c=2, u=3, b=4, c=5, t=6
    g = frame(["user", "assistant", "tool", "user", "assistant", "tool",
               "user"])
    res = {(tuple(b["u"]), tuple(b["b"]), tuple(b["c"]))
           for _, b in match_group_nfa(cp, g)}
    expect = {
        # one repetition u=0: units are strictly ordered (b, c) pairs
        ((0,), (1,), (2,)), ((0,), (1,), (5,)), ((0,), (4,), (5,)),
        # ... including TWO inner repetitions (the re-entry path; the
        # group completed after c=2 and re-opened its unit mid)
        ((0,), (1, 4), (2, 5)),
        # one repetition u=3
        ((3,), (4,), (5,)),
        # two repetitions: rep 2's unit strictly after u=3 — same
        # positions as the 2-inner-rep binding, distinct u
        ((0, 3), (1, 4), (2, 5)),
    }
    assert res == expect

    # session 19: the interior Neg's per-inner-repetition gap fires in
    # RE-ENTERED units too.  u=0, unit1 (b=1, c=2) clean, re-entry
    # b=3 then sql at 4 then c=5: the (3, 5) gap is killed, while
    # (3, 4) — where the sql event IS c — survives (strictly-between
    # gap), as does (1, 4).
    patn = Pattern(
        Seq(Kleene(Seq(Ev("u", role="user"),
                       Kleene(Seq(Ev("b", role="assistant"),
                                  Neg(Ev("n", tool="sql")),
                                  Ev("c", role="tool"))))),
            Ev("t", role="user")),
        window=timedelta(minutes=10))
    cpn = compile_pattern(patn)
    gn = pd.DataFrame({
        "conv_id": "c0",
        "turn_idx": np.arange(7, dtype=np.int32),
        "role": ["user", "assistant", "tool", "assistant", "tool",
                 "tool", "user"],
        "tool": ["python", "python", "python", "python", "sql",
                 "python", "python"],
        "ts": ts0 + pd.to_timedelta(np.arange(7), unit="s"),
        "value": np.arange(7, dtype=float),
    })
    resn = {(tuple(b["b"]), tuple(b["c"]))
            for _, b in match_group_nfa(cpn, gn)}
    assert resn == {((1,), (2,)), ((1,), (4,)), ((3,), (4,)),
                    ((1, 3), (2, 4))}


def test_loop_rejections():
    # position 0 COMPILES since session 17 — but an ALL-loop body has
    # no repetition-count anchor and rejects
    compile_pattern(Pattern(
        Seq(Ev("s", role="tool"),
            Kleene(Seq(Kleene(Ev("b", role="assistant")),
                       Ev("u", role="user")))),
        window=timedelta(minutes=5)))
    with pytest.raises(ValueError, match="unbounded Kleene over a composite"):
        compile_pattern(Pattern(
            Seq(Ev("s", role="tool"),
                Kleene(Seq(Kleene(Ev("b", role="assistant")),
                           Kleene(Ev("c", role="user"))))),
            window=timedelta(minutes=5)))
    # bare Kleene(Kleene(b))
    with pytest.raises(ValueError, match="unbounded Kleene over a composite"):
        compile_pattern(Pattern(
            Seq(Ev("s", role="tool"), Kleene(Kleene(Ev("b", role="assistant")))),
            window=timedelta(minutes=5)))
    # inside an Or_ branch
    with pytest.raises(ValueError, match="unbounded Kleene over a composite"):
        compile_pattern(Pattern(
            Seq(Kleene(Seq(Ev("u", role="user"),
                           Or_(Seq(Ev("w", role="assistant"),
                                   Kleene(Ev("b", role="tool"))),
                               Ev("x", role="tool")))),
                Ev("t", role="tool")),
            window=timedelta(minutes=5)))
    # inside an And_ member
    with pytest.raises(ValueError, match="unbounded Kleene over a composite"):
        compile_pattern(Pattern(
            Seq(Kleene(Seq(Ev("u", role="user"),
                           And_(Seq(Ev("w", role="assistant"),
                                    Kleene(Ev("b", role="tool"))),
                                Ev("x", role="tool")))),
                Ev("t", role="tool")),
            window=timedelta(minutes=5)))
    # unbounded COMPOSITE (Seq-of-leaves) nested Kleene COMPILES since
    # session 18 (a looping unit position) — but not with an inner
    # that is itself composite-of-composite
    compile_pattern(Pattern(
        Seq(Kleene(Seq(Ev("u", role="user"),
                       Kleene(Seq(Ev("b", role="tool"),
                                  Ev("c", role="assistant"))))),
            Ev("t", role="tool")),
        window=timedelta(minutes=5)))
    with pytest.raises(ValueError, match="unbounded Kleene over a composite"):
        compile_pattern(Pattern(
            Seq(Kleene(Seq(Ev("u", role="user"),
                           Kleene(Seq(Ev("b", role="tool"),
                                      Kleene(Seq(Ev("c", role="assistant"),
                                                 Ev("d", role="user"))))))),
                Ev("t", role="tool")),
            window=timedelta(minutes=5)))
    # conjunct pairing the loop var with a group mate
    with pytest.raises(ValueError, match="nested-Kleene variable"):
        compile_pattern(Pattern(
            Seq(Kleene(Seq(Ev("u", role="user"),
                           Kleene(Ev("b", role="assistant")))),
                Ev("t", role="tool")),
            where=attr("u", "value") < attr("b", "value"),
            window=timedelta(minutes=5)))
    # conjunct pairing TWO loop vars of one group
    with pytest.raises(ValueError, match="nested-Kleene variable"):
        compile_pattern(Pattern(
            Seq(Kleene(Seq(Ev("u", role="user"),
                           Kleene(Ev("b", role="assistant")),
                           Kleene(Ev("d", role="tool")))),
                Ev("t", role="user")),
            where=attr("b", "value") < attr("d", "value"),
            window=timedelta(minutes=5)))
    # ---- session 18-19: composite-unit rejections ----
    # a Neg BETWEEN two unit leaves COMPILES (session 19) — but a Neg
    # LEADING or TRAILING the unit rejects (its gap would have to fire
    # at continue/re-entry binds)
    compile_pattern(Pattern(
        Seq(Kleene(Seq(Ev("u", role="user"),
                       Kleene(Seq(Ev("b", role="assistant"),
                                  Neg(Ev("n", tool="sql")),
                                  Ev("c", role="tool"))))),
            Ev("t", role="user")),
        window=timedelta(minutes=8)))
    with pytest.raises(ValueError, match="unbounded Kleene over a composite"):
        compile_pattern(Pattern(
            Seq(Kleene(Seq(Ev("u", role="user"),
                           Kleene(Seq(Neg(Ev("n", tool="sql")),
                                      Ev("b", role="assistant"),
                                      Ev("c", role="tool"))))),
                Ev("t", role="user")),
            window=timedelta(minutes=8)))
    with pytest.raises(ValueError, match="unbounded Kleene over a composite"):
        compile_pattern(Pattern(
            Seq(Kleene(Seq(Ev("u", role="user"),
                           Kleene(Seq(Ev("b", role="assistant"),
                                      Ev("c", role="tool"),
                                      Neg(Ev("n", tool="sql")))))),
                Ev("t", role="user")),
            window=timedelta(minutes=8)))
    # a unit inside an Or_ branch
    with pytest.raises(ValueError, match="unbounded Kleene over a composite"):
        compile_pattern(Pattern(
            Seq(Kleene(Seq(Ev("u", role="user"),
                           Or_(Seq(Ev("w", role="assistant"),
                                   Kleene(Seq(Ev("b", role="tool"),
                                              Ev("c", role="assistant")))),
                               Ev("x", role="tool")))),
                Ev("t", role="user")),
            window=timedelta(minutes=8)))
    # all positions loops (unit + leaf): no repetition-count anchor
    with pytest.raises(ValueError, match="unbounded Kleene over a composite"):
        compile_pattern(Pattern(
            Seq(Ev("s", role="tool"),
                Kleene(Seq(Kleene(Seq(Ev("b", role="assistant"),
                                      Ev("c", role="tool"))),
                           Kleene(Ev("d", role="user"))))),
            window=timedelta(minutes=8)))
    # conjunct pairing a unit leaf with a group mate outside the unit
    with pytest.raises(ValueError, match="nested-Kleene variable"):
        compile_pattern(Pattern(
            Seq(Kleene(Seq(Ev("u", role="user"),
                           Kleene(Seq(Ev("b", role="assistant"),
                                      Ev("c", role="tool"))))),
                Ev("t", role="user")),
            where=attr("u", "value") < attr("b", "value"),
            window=timedelta(minutes=8)))


def test_loop_merge_signatures_discriminate():
    """A loop pattern and its plain-leaf twin must NOT share slots in a
    merged automaton (continue self-loops would leak into the plain
    pattern's tags); identical loop patterns must merge fully."""
    from cep_spark.merge import merge_compiled

    p_loop = Pattern(
        Seq(Kleene(Seq(Ev("u", role="user"), Kleene(Ev("b", role="assistant")))),
            Ev("t", role="tool")),
        window=timedelta(minutes=5))
    p_plain = Pattern(
        Seq(Kleene(Seq(Ev("u", role="user"), Ev("b", role="assistant"))),
            Ev("t", role="tool")),
        window=timedelta(minutes=5))
    m = merge_compiled([compile_pattern(p_loop), compile_pattern(p_plain)])
    alt = m.alternatives[0]
    loops = [s for s in alt.slots if s.grp_loop]
    plains = [s for s in alt.slots if s.group is not None and not s.grp_loop
              and s.grp_idx == 1]
    assert loops and plains and {s.sid for s in loops}.isdisjoint(
        {s.sid for s in plains})
    # identical twins fully merge (slot count == single pattern's)
    m2 = merge_compiled([compile_pattern(p_loop), compile_pattern(p_loop)])
    assert len(m2.alternatives[0].slots) == len(
        compile_pattern(p_loop).alternatives[0].slots)
    # session 17: a position-0 loop never merges with a tail loop of
    # the same leaves (grp_idx is in the slot signature), while
    # identical position-0 twins merge fully
    p_first = Pattern(
        Seq(Kleene(Seq(Kleene(Ev("b", role="assistant")),
                       Ev("u", role="user"))),
            Ev("t", role="tool")),
        window=timedelta(minutes=5))
    m3 = merge_compiled([compile_pattern(p_first), compile_pattern(p_loop)])
    assert len(m3.alternatives[0].slots) > len(
        compile_pattern(p_first).alternatives[0].slots)
    m4 = merge_compiled([compile_pattern(p_first), compile_pattern(p_first)])
    assert len(m4.alternatives[0].slots) == len(
        compile_pattern(p_first).alternatives[0].slots)
    # session 18: a composite UNIT loop never merges with an Or_
    # position whose first branch has the unit's exact event layout
    # (the "K" marker discriminates; the unit's re-entry loop_cont
    # transitions would otherwise leak into the Or_ pattern's tags) —
    # and identical unit twins merge fully, with merged output parity
    p_unit = Pattern(
        Seq(Kleene(Seq(Ev("u", role="user"),
                       Kleene(Seq(Ev("b", role="assistant"),
                                  Ev("c", role="tool"))))),
            Ev("t", role="user")),
        window=timedelta(minutes=8))
    p_or_twin = Pattern(
        Seq(Kleene(Seq(Ev("u", role="user"),
                       Or_(Seq(Ev("b", role="assistant"),
                               Ev("c", role="tool")),
                           Ev("x", role="assistant")))),
            Ev("t", role="user")),
        window=timedelta(minutes=8))
    m5 = merge_compiled([compile_pattern(p_unit), compile_pattern(p_or_twin)])
    alt5 = m5.alternatives[0]
    unit_sids = {s.sid for s in alt5.slots if s.grp_loop}
    br_sids = {s.sid for s in alt5.slots
               if s.group is not None and not s.grp_loop and s.br_len > 1}
    assert unit_sids and br_sids and unit_sids.isdisjoint(br_sids)
    m6 = merge_compiled([compile_pattern(p_unit), compile_pattern(p_unit)])
    assert len(m6.alternatives[0].slots) == len(
        compile_pattern(p_unit).alternatives[0].slots)
    rng = np.random.default_rng(0xFACE + 8)
    from cep_spark.batch import match_group_nfa as mg

    for trial in range(20):
        g = _gen_group(trial * 5 + 9, int(rng.integers(3, 10)))
        gs = g.sort_values(["ts", "turn_idx"]).reset_index(drop=True)
        got = {0: [], 1: []}
        for key, b in mg(m5, gs):
            pi, alt_id = key
            got[pi].append((alt_id, b))
        for pi, p in ((0, p_unit), (1, p_or_twin)):
            assert _canon_nfa(got[pi]) == _canon_nfa(
                mg(compile_pattern(p), gs)), f"unit merge trial {trial} pat {pi}"
    # and the merged automaton matches both patterns' outputs
    rng = np.random.default_rng(0xFACE)
    from cep_spark.batch import match_group_nfa as mg

    for trial in range(20):
        g = _gen_group(trial * 3 + 11, int(rng.integers(3, 10)))
        gs = g.sort_values(["ts", "turn_idx"]).reset_index(drop=True)
        merged = mg(m, gs)
        per = {0: mg(compile_pattern(p_loop), gs),
               1: mg(compile_pattern(p_plain), gs)}
        got = {0: [], 1: []}
        for key, b in merged:
            pi, alt_id = key
            got[pi].append((alt_id, b))
        for pi in (0, 1):
            assert _canon_nfa(got[pi]) == _canon_nfa(per[pi]), f"trial {trial} pat {pi}"


def test_loop_streaming_fingerprint_conditional():
    """grp_loop is part of the family fingerprint: a loop pattern
    fingerprints differently from its plain twin."""
    from cep_spark.stream import _pattern_fp

    p_loop = Pattern(
        Seq(Kleene(Seq(Ev("u", role="user"), Kleene(Ev("b", role="assistant")))),
            Ev("t", role="tool")),
        window=timedelta(minutes=5))
    p_plain = Pattern(
        Seq(Kleene(Seq(Ev("u", role="user"), Ev("b", role="assistant"))),
            Ev("t", role="tool")),
        window=timedelta(minutes=5))
    fp_loop = _pattern_fp(compile_pattern(p_loop), 300)
    fp_plain = _pattern_fp(compile_pattern(p_plain), 300)
    assert fp_loop != fp_plain
