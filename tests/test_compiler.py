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
    # position (two members): every member binds once per repetition
    cp_and = compile_pattern(Pattern(Kleene(And_(Ev("u"), Ev("v")))))
    (alt_and,) = cp_and.alternatives
    assert [(s.grp_idx, s.mem, s.br) for s in alt_and.slots] == [
        (0, 0, 0), (0, 1, 1)]
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


# ---------------------------------------------------------------------------
# pinned automaton shapes: per-alternative (states, transitions) of every
# catalog single-pattern entry and every named group-corpus pattern, under
# both composite lowerings (None = the lowering rejects the pattern).
# Any compiler refactor that keeps the automata must reproduce this table.


def _shape_corpus() -> dict:
    import __spark_entry__ as entry
    import test_group_kleene
    import test_group_loop

    pats = {f"entry:{n}": p for n, (p, _) in entry.SINGLE_ENTRIES.items()}
    for mod in (test_group_kleene, test_group_loop):
        for dname, d in vars(mod).items():
            if dname.isupper() and isinstance(d, dict):
                pats.update((f"{dname}:{n}", p) for n, p in d.items()
                            if isinstance(p, Pattern))
    return {f"{n}@{c}": (p, c) for n, p in pats.items()
            for c in ("auto", "group")}


SHAPES = {
    'entry:cep_one_arg@auto': ((2, 1),),
    'entry:cep_one_arg@group': ((2, 1),),
    'entry:cep_seq2@auto': ((3, 2),),
    'entry:cep_seq2@group': ((3, 2),),
    'entry:cep_seq3_cond@auto': ((4, 3),),
    'entry:cep_seq3_cond@group': ((4, 3),),
    'entry:cep_and3@auto': ((8, 12),),
    'entry:cep_and3@group': ((8, 12),),
    'entry:cep_or2@auto': ((3, 2), (3, 2)),
    'entry:cep_or2@group': ((3, 2), (3, 2)),
    'entry:cep_neg@auto': ((3, 2),),
    'entry:cep_neg@group': ((3, 2),),
    'entry:cep_neg_cond@auto': ((3, 2),),
    'entry:cep_neg_cond@group': ((3, 2),),
    'entry:cep_neg_leading@auto': ((3, 2),),
    'entry:cep_neg_leading@group': ((3, 2),),
    'entry:cep_neg_trailing@auto': ((3, 2),),
    'entry:cep_neg_trailing@group': ((3, 2),),
    'entry:cep_kleene@auto': ((4, 3),),
    'entry:cep_kleene@group': ((4, 3),),
    'entry:cep_kleene_composite@auto': ((4, 3), (6, 5)),
    'entry:cep_kleene_composite@group': ((5, 5),),
    'entry:cep_kleene_rising@auto': ((4, 3),),
    'entry:cep_kleene_rising@group': ((4, 3),),
    'entry:cep_kleene_forward@auto': ((4, 3),),
    'entry:cep_kleene_forward@group': ((4, 3),),
    'entry:cep_and_kleene@auto': ((4, 4),),
    'entry:cep_and_kleene@group': ((4, 4),),
    'entry:cep_kleene_pair_cond@auto': ((4, 3),),
    'entry:cep_kleene_pair_cond@group': ((4, 3),),
    'entry:cep_nested@auto': ((6, 6),),
    'entry:cep_nested@group': ((6, 6),),
    'entry:cep_nonsense@auto': ((4, 4),),
    'entry:cep_nonsense@group': ((4, 4),),
    'entry:cep_kleene_unbounded@auto': ((4, 3),),
    'entry:cep_kleene_unbounded@group': ((4, 3),),
    'entry:cep_kleene_composite_unbounded@auto': ((5, 5),),
    'entry:cep_kleene_composite_unbounded@group': ((5, 5),),
    'entry:cep_kleene_group_neg@auto': ((5, 5),),
    'entry:cep_kleene_group_neg@group': ((5, 5),),
    'entry:cep_kleene_group_or@auto': ((11, 15),),
    'entry:cep_kleene_group_or@group': ((11, 15),),
    'entry:cep_kleene_and_group@auto': ((7, 9),),
    'entry:cep_kleene_and_group@group': ((7, 9),),
    'entry:cep_kleene_nested_unbounded@auto': ((5, 6),),
    'entry:cep_kleene_nested_unbounded@group': ((5, 6),),
    'entry:cep_kleene_dist_or@auto': ((39, 55),),
    'entry:cep_kleene_dist_or@group': ((39, 55),),
    'entry:cep_kleene_and_pos@auto': ((9, 11),),
    'entry:cep_kleene_and_pos@group': ((9, 11),),
    'entry:cep_kleene_group_br_trail_neg@auto': ((15, 19),),
    'entry:cep_kleene_group_br_trail_neg@group': ((15, 19),),
    'entry:cep_udf_pred@auto': ((3, 2),),
    'entry:cep_udf_pred@group': ((3, 2),),
    'PATTERNS:group_then_var@auto': ((5, 5),),
    'PATTERNS:group_then_var@group': ((5, 5),),
    'PATTERNS:group_only@auto': ((4, 4),),
    'PATTERNS:group_only@group': ((4, 4),),
    'PATTERNS:group_aligned_cond@auto': ((5, 5),),
    'PATTERNS:group_aligned_cond@group': ((5, 5),),
    'PATTERNS:group_outer_cond@auto': ((5, 5),),
    'PATTERNS:group_outer_cond@group': ((5, 5),),
    'PATTERNS:var_then_group_cond@auto': ((5, 5),),
    'PATTERNS:var_then_group_cond@group': ((5, 5),),
    'PATTERNS:group_arity3@auto': ((7, 7),),
    'PATTERNS:group_arity3@group': ((7, 7),),
    'PATTERNS:group_in_and@auto': ((8, 12),),
    'PATTERNS:group_in_and@group': ((8, 12),),
    'PATTERNS:gap_neg_before_group@auto': ((5, 5),),
    'PATTERNS:gap_neg_before_group@group': ((5, 5),),
    'PATTERNS:gap_neg_after_group@auto': ((5, 5),),
    'PATTERNS:gap_neg_after_group@group': ((5, 5),),
    'PATTERNS:group_plus_leaf_kleene_cond@auto': ((5, 5),),
    'PATTERNS:group_plus_leaf_kleene_cond@group': ((5, 5),),
    'PATTERNS:neg_in_group@auto': ((5, 5),),
    'PATTERNS:neg_in_group@group': ((5, 5),),
    'PATTERNS:neg_in_group_arity3@auto': ((7, 7),),
    'PATTERNS:neg_in_group_arity3@group': ((7, 7),),
    'PATTERNS:neg_in_group_cond@auto': ((5, 5),),
    'PATTERNS:neg_in_group_cond@group': ((5, 5),),
    'PATTERNS:lead_neg_in_group@auto': ((5, 5),),
    'PATTERNS:lead_neg_in_group@group': ((5, 5),),
    'PATTERNS:trail_neg_in_group@auto': ((5, 5),),
    'PATTERNS:trail_neg_in_group@group': ((5, 5),),
    'PATTERNS:trail_neg_in_group_end@auto': ((5, 5),),
    'PATTERNS:trail_neg_in_group_end@group': ((5, 5),),
    'PATTERNS:lead_trail_neg_in_group@auto': ((6, 6),),
    'PATTERNS:lead_trail_neg_in_group@group': ((6, 6),),
    'PATTERNS:lead_noanchor_group@auto': ((5, 5),),
    'PATTERNS:lead_noanchor_group@group': ((5, 5),),
    'PATTERNS:lead_noanchor_group_root@auto': ((4, 4),),
    'PATTERNS:lead_noanchor_group_root@group': ((4, 4),),
    'PATTERNS:or_pos0_trail_neg@auto': ((12, 16),),
    'PATTERNS:or_pos0_trail_neg@group': ((12, 16),),
    'PATTERNS:lead_noanchor_group_or@auto': ((12, 16),),
    'PATTERNS:lead_noanchor_group_or@group': ((12, 16),),
    'PATTERNS:or3_in_group@auto': ((23, 39),),
    'PATTERNS:or3_in_group@group': ((23, 39),),
    'PATTERNS:double_or_in_group@auto': ((30, 51),),
    'PATTERNS:double_or_in_group@group': ((30, 51),),
    'PATTERNS:and_group@auto': ((7, 9),),
    'PATTERNS:and_group@group': ((7, 9),),
    'PATTERNS:and_group_cond@auto': ((7, 9),),
    'PATTERNS:and_group_cond@group': ((7, 9),),
    'PATTERNS:and_group_permute@auto': ((7, 9),),
    'PATTERNS:and_group_permute@group': ((7, 9),),
    'PATTERNS:and_group_arity3@auto': ((15, 25),),
    'PATTERNS:and_group_arity3@group': ((15, 25),),
    'PATTERNS:or_in_group@auto': ((11, 15),),
    'PATTERNS:or_in_group@group': ((11, 15),),
    'PATTERNS:or_in_group_first_pos@auto': ((12, 16),),
    'PATTERNS:or_in_group_first_pos@group': ((12, 16),),
    'PATTERNS:or_in_group_neg@auto': ((11, 15),),
    'PATTERNS:or_in_group_neg@group': ((11, 15),),
    'PATTERNS:or_in_group_outer_cond@auto': ((11, 15),),
    'PATTERNS:or_in_group_outer_cond@group': ((11, 15),),
    'PATTERNS:or_in_group_trail_neg@auto': ((11, 15),),
    'PATTERNS:or_in_group_trail_neg@group': ((11, 15),),
    'PATTERNS:seq_branch_in_group@auto': ((15, 19),),
    'PATTERNS:seq_branch_in_group@group': ((15, 19),),
    'PATTERNS:seq_branch_bare_or@auto': ((11, 15),),
    'PATTERNS:seq_branch_bare_or@group': ((11, 15),),
    'PATTERNS:seq_branch_conds@auto': ((15, 19),),
    'PATTERNS:seq_branch_conds@group': ((15, 19),),
    'PATTERNS:seq_branch_neg@auto': ((15, 19),),
    'PATTERNS:seq_branch_neg@group': ((15, 19),),
    'PATTERNS:neg_in_seq_branch@auto': ((15, 19),),
    'PATTERNS:neg_in_seq_branch@group': ((15, 19),),
    'PATTERNS:and_pos_in_group@auto': ((9, 11),),
    'PATTERNS:and_pos_in_group@group': ((9, 11),),
    'PATTERNS:and_pos_first@auto': ((9, 11),),
    'PATTERNS:and_pos_first@group': ((9, 11),),
    'PATTERNS:and_pos_mate_cond@auto': ((9, 11),),
    'PATTERNS:and_pos_mate_cond@group': ((9, 11),),
    'PATTERNS:and_pos_outer_cond@auto': ((9, 11),),
    'PATTERNS:and_pos_outer_cond@group': ((9, 11),),
    'PATTERNS:neg_before_and_pos@auto': ((9, 11),),
    'PATTERNS:neg_before_and_pos@group': ((9, 11),),
    'PATTERNS:neg_after_and_pos@auto': ((9, 11),),
    'PATTERNS:neg_after_and_pos@group': ((9, 11),),
    'PATTERNS:trail_neg_and_pos_last@auto': ((9, 11),),
    'PATTERNS:trail_neg_and_pos_last@group': ((9, 11),),
    'PATTERNS:or_and_mix_pos@auto': ((22, 31),),
    'PATTERNS:or_and_mix_pos@group': ((22, 31),),
    'PATTERNS:and_pos_seq_member@auto': ((13, 17),),
    'PATTERNS:and_pos_seq_member@group': ((13, 17),),
    'PATTERNS:and_pos_seq_member_first@auto': ((13, 17),),
    'PATTERNS:and_pos_seq_member_first@group': ((13, 17),),
    'PATTERNS:and_pos_seq_member_cond@auto': ((13, 17),),
    'PATTERNS:and_pos_seq_member_cond@group': ((13, 17),),
    'PATTERNS:neg_around_seq_member_pos@auto': ((13, 17),),
    'PATTERNS:neg_around_seq_member_pos@group': ((13, 17),),
    'PATTERNS:or_and_seqmem_mix@auto': ((32, 46),),
    'PATTERNS:or_and_seqmem_mix@group': ((32, 46),),
    'PATTERNS:and_pos_mem_neg@auto': ((13, 17),),
    'PATTERNS:and_pos_mem_neg@group': ((13, 17),),
    'PATTERNS:and_pos_mem_lead_neg@auto': ((13, 17),),
    'PATTERNS:and_pos_mem_lead_neg@group': ((13, 17),),
    'PATTERNS:and_pos_mem_lead_neg_then_t@auto': ((13, 17),),
    'PATTERNS:and_pos_mem_lead_neg_then_t@group': ((13, 17),),
    'PATTERNS:and_pos_mem_lead_neg_pos0@auto': ((9, 11),),
    'PATTERNS:and_pos_mem_lead_neg_pos0@group': ((9, 11),),
    'PATTERNS:and_pos_mem_neg_last_pos@auto': ((13, 17),),
    'PATTERNS:and_pos_mem_neg_last_pos@group': ((13, 17),),
    'PATTERNS:and_pos_or_mem@auto': ((21, 33),),
    'PATTERNS:and_pos_or_mem@group': ((21, 33),),
    'PATTERNS:and_pos_or_mem_seqbr@auto': ((29, 45),),
    'PATTERNS:and_pos_or_mem_seqbr@group': ((29, 45),),
    'PATTERNS:and_pos_or_mem_first@auto': ((22, 34),),
    'PATTERNS:and_pos_or_mem_first@group': ((22, 34),),
    'PATTERNS:and_pos_two_or_mem@auto': ((57, 115),),
    'PATTERNS:and_pos_two_or_mem@group': ((57, 115),),
    'PATTERNS:and_pos_or_mem_seq_mate@auto': ((31, 51),),
    'PATTERNS:and_pos_or_mem_seq_mate@group': ((31, 51),),
    'PATTERNS:and_pos_or_mem_neg_mate@auto': ((31, 51),),
    'PATTERNS:and_pos_or_mem_neg_mate@group': ((31, 51),),
    'PATTERNS:bare_and_seqmem@auto': ((11, 15),),
    'PATTERNS:bare_and_seqmem@group': ((11, 15),),
    'PATTERNS:bare_and_or_mem@auto': ((17, 29),),
    'PATTERNS:bare_and_or_mem@group': ((17, 29),),
    'PATTERNS:bare_and_mem_neg@auto': ((11, 15),),
    'PATTERNS:bare_and_mem_neg@group': ((11, 15),),
    'PATTERNS:bare_and_seqmem_cond@auto': ((11, 15),),
    'PATTERNS:bare_and_seqmem_cond@group': ((11, 15),),
    'PATTERNS:and_pos_mem_neg_cond@auto': ((13, 17),),
    'PATTERNS:and_pos_mem_neg_cond@group': ((13, 17),),
    'PATTERNS:bare_and_mem_lead_neg@auto': ((11, 15),),
    'PATTERNS:bare_and_mem_lead_neg@group': ((11, 15),),
    'PATTERNS:bare_and_mem_lead_neg_then_t@auto': ((12, 16),),
    'PATTERNS:bare_and_mem_lead_neg_then_t@group': ((12, 16),),
    'PATTERNS:or_mem_br_neg@auto': ((29, 45),),
    'PATTERNS:or_mem_br_neg@group': ((29, 45),),
    'PATTERNS:or_mem_br_lead_neg@auto': ((21, 33),),
    'PATTERNS:or_mem_br_lead_neg@group': ((21, 33),),
    'BARE_OR_PATTERNS:kleene_bare_or@auto': ((7, 11),),
    'BARE_OR_PATTERNS:kleene_bare_or@group': ((7, 11),),
    'BARE_OR_PATTERNS:kleene_bare_or_cond@auto': ((7, 11),),
    'BARE_OR_PATTERNS:kleene_bare_or_cond@group': ((7, 11),),
    'BARE_OR_PATTERNS:kleene_bare_or_gapneg@auto': ((7, 11),),
    'BARE_OR_PATTERNS:kleene_bare_or_gapneg@group': ((7, 11),),
    'NEG_IN_BRANCH_PATTERNS:br_neg_bare_or@auto': ((11, 15),),
    'NEG_IN_BRANCH_PATTERNS:br_neg_bare_or@group': ((11, 15),),
    'NEG_IN_BRANCH_PATTERNS:br_neg_3ev@auto': ((19, 23),),
    'NEG_IN_BRANCH_PATTERNS:br_neg_3ev@group': ((19, 23),),
    'NEG_IN_BRANCH_PATTERNS:br_lead_neg@auto': ((15, 19),),
    'NEG_IN_BRANCH_PATTERNS:br_lead_neg@group': ((15, 19),),
    'NEG_IN_BRANCH_PATTERNS:br_lead_neg_pos0@auto': ((14, 18),),
    'NEG_IN_BRANCH_PATTERNS:br_lead_neg_pos0@group': ((14, 18),),
    'NEG_IN_BRANCH_PATTERNS:br_lead_mid_neg@auto': ((15, 19),),
    'NEG_IN_BRANCH_PATTERNS:br_lead_mid_neg@group': ((15, 19),),
    'NEG_IN_BRANCH_PATTERNS:br_lead_neg_plus_pos_neg@auto': ((15, 19),),
    'NEG_IN_BRANCH_PATTERNS:br_lead_neg_plus_pos_neg@group': ((15, 19),),
    'NEG_IN_BRANCH_PATTERNS:br_neg_cond@auto': ((13, 17),),
    'NEG_IN_BRANCH_PATTERNS:br_neg_cond@group': ((13, 17),),
    'TRAIL_NEG_IN_BRANCH_PATTERNS:br_trail_nonlast@auto': ((12, 16),),
    'TRAIL_NEG_IN_BRANCH_PATTERNS:br_trail_nonlast@group': ((12, 16),),
    'TRAIL_NEG_IN_BRANCH_PATTERNS:br_trail_last@auto': ((11, 15),),
    'TRAIL_NEG_IN_BRANCH_PATTERNS:br_trail_last@group': ((11, 15),),
    'TRAIL_NEG_IN_BRANCH_PATTERNS:br_trail_end@auto': ((9, 13),),
    'TRAIL_NEG_IN_BRANCH_PATTERNS:br_trail_end@group': ((9, 13),),
    'TRAIL_NEG_IN_BRANCH_PATTERNS:br_trail_bare_or@auto': ((8, 12),),
    'TRAIL_NEG_IN_BRANCH_PATTERNS:br_trail_bare_or@group': ((8, 12),),
    'TRAIL_NEG_IN_BRANCH_PATTERNS:br_lead_trail@auto': ((11, 15),),
    'TRAIL_NEG_IN_BRANCH_PATTERNS:br_lead_trail@group': ((11, 15),),
    'TRAIL_NEG_IN_BRANCH_PATTERNS:br_trail_plus_pos_neg@auto': ((13, 17),),
    'TRAIL_NEG_IN_BRANCH_PATTERNS:br_trail_plus_pos_neg@group': ((13, 17),),
    'TRAIL_NEG_IN_BRANCH_PATTERNS:br_trail_cond@auto': ((12, 16),),
    'TRAIL_NEG_IN_BRANCH_PATTERNS:br_trail_cond@group': ((12, 16),),
    'DIST_PATTERNS:dist_pos_branch@auto': ((39, 55),),
    'DIST_PATTERNS:dist_pos_branch@group': ((39, 55),),
    'DIST_PATTERNS:dist_and_member@auto': ((37, 57),),
    'DIST_PATTERNS:dist_and_member@group': ((37, 57),),
    'DIST_PATTERNS:dist_or_member_branch@auto': ((78, 134),),
    'DIST_PATTERNS:dist_or_member_branch@group': ((78, 134),),
    'DIST_PATTERNS:dist_bare_or@auto': ((31, 47),),
    'DIST_PATTERNS:dist_bare_or@group': ((31, 47),),
    'DIST_PATTERNS:dist_branch_neg@auto': ((39, 55),),
    'DIST_PATTERNS:dist_branch_neg@group': ((39, 55),),
    'DIST_PATTERNS:dist_conds@auto': ((39, 55),),
    'DIST_PATTERNS:dist_conds@group': ((39, 55),),
    'DIST_PATTERNS:dist_and_in_branch@auto': ((55, 71),),
    'DIST_PATTERNS:dist_and_in_branch@group': ((55, 71),),
    'DIST_PATTERNS:dist_and_as_branch@auto': ((39, 55),),
    'DIST_PATTERNS:dist_and_as_branch@group': ((39, 55),),
    'DIST_PATTERNS:dist_neg_then_and@auto': ((55, 71),),
    'DIST_PATTERNS:dist_neg_then_and@group': ((55, 71),),
    'DIST_PATTERNS:dist_and_seq_in_branch@auto': ((191, 239),),
    'DIST_PATTERNS:dist_and_seq_in_branch@group': ((191, 239),),
    'DIST_PATTERNS:dist_and_seq_as_branch@auto': ((143, 191),),
    'DIST_PATTERNS:dist_and_seq_as_branch@group': ((143, 191),),
    'DIST_PATTERNS:dist_and_member_nested@auto': ((37, 57),),
    'DIST_PATTERNS:dist_and_member_nested@group': ((37, 57),),
    'DIST_PATTERNS:dist_neg_then_and_seq@auto': ((191, 239),),
    'DIST_PATTERNS:dist_neg_then_and_seq@group': ((191, 239),),
    'DIST_PATTERNS:dist_and_mem_neg@auto': ((143, 191),),
    'DIST_PATTERNS:dist_and_mem_neg@group': ((143, 191),),
    'DIST_PATTERNS:dist_and_mem_lead_neg@auto': ((143, 191),),
    'DIST_PATTERNS:dist_and_mem_lead_neg@group': ((143, 191),),
    'DIST_PATTERNS:dist_deep@auto': ((127, 175),),
    'DIST_PATTERNS:dist_deep@group': ((127, 175),),
    'LOOP_PATTERNS:loop_plain@auto': ((5, 6),),
    'LOOP_PATTERNS:loop_plain@group': ((5, 6),),
    'LOOP_PATTERNS:loop_neg_before@auto': ((5, 6),),
    'LOOP_PATTERNS:loop_neg_before@group': ((5, 6),),
    'LOOP_PATTERNS:loop_neg_after@auto': ((7, 9),),
    'LOOP_PATTERNS:loop_neg_after@group': ((7, 9),),
    'LOOP_PATTERNS:loop_trail_neg@auto': ((5, 6),),
    'LOOP_PATTERNS:loop_trail_neg@group': ((5, 6),),
    'LOOP_PATTERNS:loop_mid_body@auto': ((7, 9),),
    'LOOP_PATTERNS:loop_mid_body@group': ((7, 9),),
    'LOOP_PATTERNS:loop_two@auto': ((7, 10),),
    'LOOP_PATTERNS:loop_two@group': ((7, 10),),
    'LOOP_PATTERNS:loop_or_pos@auto': ((16, 23),),
    'LOOP_PATTERNS:loop_or_pos@group': ((16, 23),),
    'LOOP_PATTERNS:loop_x_leaf_kleene@auto': ((5, 6),),
    'LOOP_PATTERNS:loop_x_leaf_kleene@group': ((5, 6),),
    'LOOP_PATTERNS:loop_conds@auto': ((5, 6),),
    'LOOP_PATTERNS:loop_conds@group': ((5, 6),),
    'LOOP_PATTERNS:loop_adjacent@auto': ((5, 6),),
    'LOOP_PATTERNS:loop_adjacent@group': ((5, 6),),
    'LOOP_PATTERNS:loop_first@auto': ((5, 7),),
    'LOOP_PATTERNS:loop_first@group': ((5, 7),),
    'LOOP_PATTERNS:loop_first_neg_after@auto': ((5, 7),),
    'LOOP_PATTERNS:loop_first_neg_after@group': ((5, 7),),
    'LOOP_PATTERNS:loop_first_lead_neg@auto': ((5, 7),),
    'LOOP_PATTERNS:loop_first_lead_neg@group': ((5, 7),),
    'LOOP_PATTERNS:loop_first_trail_neg@auto': ((5, 7),),
    'LOOP_PATTERNS:loop_first_trail_neg@group': ((5, 7),),
    'LOOP_PATTERNS:loop_first_and_last@auto': ((7, 10),),
    'LOOP_PATTERNS:loop_first_and_last@group': ((7, 10),),
    'UNIT_PATTERNS:unit_tail@auto': ((7, 8),),
    'UNIT_PATTERNS:unit_tail@group': ((7, 8),),
    'UNIT_PATTERNS:unit_mid@auto': ((10, 12),),
    'UNIT_PATTERNS:unit_mid@group': ((10, 12),),
    'UNIT_PATTERNS:unit_first@auto': ((8, 10),),
    'UNIT_PATTERNS:unit_first@group': ((8, 10),),
    'UNIT_PATTERNS:unit_neg_before@auto': ((7, 8),),
    'UNIT_PATTERNS:unit_neg_before@group': ((7, 8),),
    'UNIT_PATTERNS:unit_trail_neg@auto': ((7, 8),),
    'UNIT_PATTERNS:unit_trail_neg@group': ((7, 8),),
    'UNIT_PATTERNS:unit_zip_cond@auto': ((7, 8),),
    'UNIT_PATTERNS:unit_zip_cond@group': ((7, 8),),
    'UNIT_PATTERNS:unit_inner_neg@auto': ((7, 8),),
    'UNIT_PATTERNS:unit_inner_neg@group': ((7, 8),),
    'UNIT_PATTERNS:unit_inner_neg_first@auto': ((8, 10),),
    'UNIT_PATTERNS:unit_inner_neg_first@group': ((8, 10),),
}


def test_pinned_automaton_shapes():
    corpus = _shape_corpus()
    assert set(corpus) == set(SHAPES)
    for name, (pat, composite) in corpus.items():
        cp = compile_pattern(pat, composite)
        got = tuple((d["states"], d["transitions"]) for d in cp.describe())
        assert got == SHAPES[name], name


def test_describe_slot_kinds():
    from datetime import timedelta

    cp = compile_pattern(Pattern(
        Seq(Ev("a"), Kleene(Ev("k")),
            Kleene(Seq(Ev("u"), Or_(Ev("x"), Seq(Ev("w"), Ev("v"))),
                       Kleene(Ev("l"))))),
        window=timedelta(minutes=5)))
    (d,) = cp.describe()
    assert d["states"] == len(cp.alternatives[0].states)
    assert d["slots"] == [
        "a:event", "k:kleene", "u:g0.p0.m0.u0", "x:g0.p1.m0.u0",
        "w:g0.p1.m0.u1.e0/2", "v:g0.p1.m0.u1.e1/2", "l:g0.p2.m0.u0.loop",
    ]


def test_group_mid_values_normal_form():
    """Every group slot names its member, and over every reachable state
    of the pinned corpus a group's mid value is either ``j`` (waiting
    for position j's entry bind) or ``(j, frozenset((unit, events)))``
    (inside position j)."""
    from dataclasses import fields

    from cep_spark.compiler import Slot, _group_map, _successors

    assert "pos_all" not in {f.name for f in fields(Slot)}

    def normal(v):
        return isinstance(v, int) or (
            isinstance(v, tuple) and len(v) == 2 and isinstance(v[0], int)
            and isinstance(v[1], frozenset)
            and all(isinstance(b, int) and isinstance(c, int)
                    for b, c in v[1]))

    n_mid = 0
    for name, (pat, composite) in _shape_corpus().items():
        for alt in compile_pattern(pat, composite).alternatives:
            assert all(s.mem is not None for s in alt.slots
                       if s.group is not None), name
            groups = _group_map(alt.slots)
            for st in alt.states:
                for _s, _nb, nm, *_ in _successors(st.bound, st.mid,
                                                   alt.slots, groups):
                    assert all(normal(v) for _g, v in nm), (name, nm)
                    n_mid += bool(nm)
    assert n_mid > 0
