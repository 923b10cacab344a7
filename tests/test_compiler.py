"""Compiler unit tests — no Spark needed."""


import pytest

from cep_spark.compiler import compile_pattern
from cep_spark.conditions import attr, lit, split_conditions
from cep_spark.pattern import And_, Ev, Kleene, Neg, Or_, Pattern, Seq


def test_seq_states_linear():
    cp = compile_pattern(
        Pattern(Seq(Ev("a", role="user"), Ev("b", role="assistant"), Ev("c", role="tool")))
    )
    (alt,) = cp.alternatives
    # linear chain: {}, {a}, {ab}, {abc}
    assert len(alt.states) == 4
    assert sum(st.accepting for st in alt.states) == 1
    assert alt.var_order == ["a", "b", "c"]


def test_and_states_lattice():
    cp = compile_pattern(Pattern(And_(Ev("a"), Ev("b"), Ev("c"))))
    (alt,) = cp.alternatives
    # full subset lattice of 3 elements = 8 states
    assert len(alt.states) == 8


def test_or_expansion():
    cp = compile_pattern(
        Pattern(Or_(Seq(Ev("a", role="user"), Ev("t", role="tool")), Seq(Ev("b"), Ev("t"))))
    )
    assert len(cp.alternatives) == 2
    assert cp.all_vars() == ["a", "t", "b"]


def test_condition_split():
    cond = (
        (attr("a", "value") > lit(5))
        & (attr("b", "value") > attr("a", "value"))
        & (attr("b", "role") == lit("assistant"))
    )
    unary, multi, sat = split_conditions(cond)
    assert sat
    assert set(unary) == {"a", "b"}
    assert len(multi) == 1
    assert multi[0].vars() == {"a", "b"}


def test_condition_split_constant_fold():
    base = attr("a", "value") > lit(5)
    # constant TRUE conjunct drops out
    unary, multi, sat = split_conditions(base & (lit(1) < lit(2)))
    assert sat and set(unary) == {"a"} and not multi
    # constant FALSE conjunct -> unsatisfiable
    unary, multi, sat = split_conditions(base & (lit(1) < lit(0)))
    assert not sat


def test_conditions_pushed_to_first_full_binding():
    pat = Pattern(
        Seq(Ev("a"), Ev("b"), Ev("c")),
        where=(attr("b", "value") > attr("a", "value"))
        & (attr("c", "value") > attr("a", "value")),
    )
    (alt,) = compile_pattern(pat).alternatives
    by_target = {}
    for st in alt.states:
        for tr in st.transitions:
            by_target.setdefault(len(st.bound), []).extend(tr.conds)
    # (a,b) cond evaluates when b binds (1 bound var before), (a,c) when c binds
    assert len(by_target.get(1, [])) == 1
    assert len(by_target.get(2, [])) == 1


def test_edge_neg_requires_window():
    """Leading/trailing Neg compiles WITH a window (the forbidden
    interval bound); without one it is rejected."""
    with pytest.raises(ValueError, match="window"):
        compile_pattern(Pattern(Seq(Ev("a"), Neg(Ev("n")))))
    with pytest.raises(ValueError, match="window"):
        compile_pattern(Pattern(Seq(Neg(Ev("n")), Ev("a"))))
    from datetime import timedelta

    cp = compile_pattern(Pattern(Seq(Neg(Ev("n")), Ev("a"), Neg(Ev("m"))),
                                 window=timedelta(minutes=5)))
    (alt,) = cp.alternatives
    assert sorted(n.kind for n in alt.negs) == ["leading", "trailing"]
    # a pattern that is ONLY negations has no positive leaf
    with pytest.raises(ValueError, match="positive"):
        compile_pattern(Pattern(Seq(Neg(Ev("n"))), window=timedelta(minutes=5)))


def test_kleene_inside_and_compiles():
    cp = compile_pattern(Pattern(And_(Kleene(Ev("k")), Ev("a"))))
    (alt,) = cp.alternatives
    assert any(s.kleene for s in alt.slots) and len(alt.slots) == 2


def test_composite_kleene_expansion():
    from datetime import timedelta

    pat = Pattern(
        Seq(Kleene(Seq(Ev("u"), Ev("v")), max_len=2), Ev("t")),
        window=timedelta(minutes=5),
    )
    cp = compile_pattern(pat)
    # arity 1 and arity 2 alternatives
    assert sorted(len(a.slots) for a in cp.alternatives) == [3, 5]
    assert set(cp.all_vars()) == {"u__1", "v__1", "u__2", "v__2", "t"}


def test_unbounded_composite_kleene_group_lowering():
    """Kleene(Seq(u, v)) without max_len compiles to a looping slot
    GROUP (sub-automaton repetition), not chain expansion."""
    from datetime import timedelta

    cp = compile_pattern(
        Pattern(Seq(Kleene(Seq(Ev("u"), Ev("v"))), Ev("t")),
                window=timedelta(minutes=5))
    )
    (alt,) = cp.alternatives
    assert alt.var_group == {"u": 0, "v": 0}
    assert [s.var for s in alt.slots] == ["u", "v", "t"]
    assert all(s.kleene for s in alt.slots if s.group is not None)
    # states: {}, {u}mid, {u,v}, {u,v}mid (loop-back), {u,v,t}
    assert len(alt.states) == 5
    assert sum(1 for st in alt.states if st.mid) == 2
    assert any(tr.repeat for st in alt.states for tr in st.transitions)
    # accepting only with the group complete
    for st in alt.states:
        for tr in st.transitions:
            if tr.accepting:
                assert not alt.states[tr.target].mid
    # group lowering supports Seq-of-leaves inners only
    # Kleene over an And_ of leaves compiles to ONE conjunctive
    # (pos_all) position: every member binds once per repetition
    cp_and = compile_pattern(Pattern(Kleene(And_(Ev("u"), Ev("v")))))
    (alt_and,) = cp_and.alternatives
    assert all(s.grp_idx == 0 and s.pos_all for s in alt_and.slots
               if s.group is not None)
    assert any(tr.rep_start for st in alt_and.states for tr in st.transitions)
    with pytest.raises(ValueError, match="Seq of plain event leaves"):
        compile_pattern(Pattern(Kleene(Seq(Ev("u")))))
    # join lowering has no fixed-arity expansion for groups
    import cep_spark.join_planner as jp

    with pytest.raises(ValueError, match="no fixed-arity expansion"):
        jp.expand_fixed(
            compile_pattern(
                Pattern(Seq(Kleene(Seq(Ev("u"), Ev("v"))), Ev("t")),
                        window=timedelta(minutes=5))
            ),
            kleene_arities=3,
        )


def test_adjacent_condition_validation():
    Kleene(Ev("k"), adjacent=attr("k", "value") > attr("k__prev", "value"))
    with pytest.raises(ValueError, match="adjacent"):
        Kleene(Ev("k"), adjacent=attr("k", "value") > attr("other", "value"))
    with pytest.raises(ValueError, match="leaf"):
        Kleene(Seq(Ev("a"), Ev("b")), max_len=2,
               adjacent=attr("a", "value") > attr("a__prev", "value"))


def test_kleene_condition_forward_reference_compiles():
    """Conditions between a Kleene var and a LATER-bound var compile:
    evaluated per element via pair expansion at the completing
    transition (previously a v1 compile error)."""
    pat = Pattern(
        Seq(Ev("a"), Kleene(Ev("k")), Ev("c")),
        where=attr("k", "value") > attr("c", "value"),
    )
    compile_pattern(pat)
    # two kleene vars in one conjunct: ALL cross-product pairs semantics
    # (previously a v1 compile error; exactness vs the replica is pinned
    # in test_semantics.test_two_kleene_cross_condition)
    compile_pattern(
        Pattern(
            Seq(Kleene(Ev("j")), Kleene(Ev("k"))),
            where=attr("k", "value") > attr("j", "value"),
        )
    )


def test_duplicate_var_rejected():
    with pytest.raises(ValueError):
        compile_pattern(Pattern(Seq(Ev("a"), Ev("a"))))


def test_needed_cols_pruning():
    pat = Pattern(
        Seq(Ev("a", role="user"), Ev("b")),
        where=attr("b", "value") > attr("a", "value"),
    )
    cp = compile_pattern(pat)
    assert set(cp.needed_cols["a"]) == {"role", "value"}
    assert set(cp.needed_cols["b"]) == {"value"}


def test_unary_hoist_from_leaf_multivar():
    # Ev.where may carry multi-var conjuncts; they must land on transitions
    pat = Pattern(Seq(Ev("a"), Ev("b", where=attr("b", "value") > attr("a", "value"))))
    (alt,) = compile_pattern(pat).alternatives
    conds = [c for st in alt.states for tr in st.transitions for c in tr.conds]
    assert len(conds) == 1
