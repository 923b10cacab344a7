"""Unbounded composite Kleene — group lowering (SURVEY.md §2.1 O5,
closure over a sub-structure with NO repetition bound).

`Kleene(Seq(a, b))` without ``max_len`` compiles to a looping slot
GROUP: each repetition binds the inner leaves in order, strictly after
the previous repetition (a1 < b1 < a2 < b2 ...), with per-leaf element
tuples in the match output (compiler._successors / batch.advance_core
repeat transitions).

Checked three ways:
  * fixed corpus vs the brute-force replica (which stays independent by
    BOUNDING the closure at n // arity repetitions and folding the
    chain expansion's per-repetition variables back into tuples);
  * group lowering vs chain expansion on BOUNDED composites
    (compile_pattern(composite="group") — byte-identical match sets);
  * hand-computed interleaving/alignment fixtures.
"""

from __future__ import annotations

from datetime import timedelta

import numpy as np
import pandas as pd

from cep_spark.batch import match_group_nfa
from cep_spark.compiler import compile_pattern
from cep_spark.conditions import TRUE, attr, lit
from cep_spark.pattern import And_, Ev, Kleene, Neg, Or_, Pattern, Seq
from oracle_cep import match_group

ROLES = ["user", "assistant", "tool"]

PATTERNS = {
    "group_then_var": Pattern(
        Seq(Kleene(Seq(Ev("u", role="user"), Ev("w", role="assistant"))),
            Ev("t", role="tool")),
        window=timedelta(minutes=5),
    ),
    "group_only": Pattern(
        Kleene(Seq(Ev("u", role="user"), Ev("w", role="assistant"))),
        window=timedelta(minutes=5),
    ),
    "group_aligned_cond": Pattern(
        Seq(Kleene(Seq(Ev("u", role="user"), Ev("w", role="assistant"))),
            Ev("t", role="tool")),
        where=attr("w", "value") > attr("u", "value"),
        window=timedelta(minutes=5),
    ),
    "group_outer_cond": Pattern(
        Seq(Kleene(Seq(Ev("u", role="user"), Ev("w", role="assistant"))),
            Ev("t", role="tool")),
        where=attr("u", "value") < attr("t", "value"),
        window=timedelta(minutes=5),
    ),
    "var_then_group_cond": Pattern(
        Seq(Ev("a", role="tool"),
            Kleene(Seq(Ev("u", role="user"), Ev("w", role="assistant")))),
        where=attr("u", "value") > attr("a", "value"),
        window=timedelta(minutes=5),
    ),
    "group_arity3": Pattern(
        Seq(Kleene(Seq(Ev("u", role="user"), Ev("w", role="assistant"),
                       Ev("x", role="tool"))),
            Ev("t", role="user")),
        window=timedelta(minutes=8),
    ),
    "group_in_and": Pattern(
        And_(Kleene(Seq(Ev("u", role="user"), Ev("w", role="assistant"))),
             Ev("t", role="tool")),
        window=timedelta(minutes=5),
    ),
    "gap_neg_before_group": Pattern(
        Seq(Ev("a", role="tool"), Neg(Ev("n", role="tool")),
            Kleene(Seq(Ev("u", role="user"), Ev("w", role="assistant")))),
        window=timedelta(minutes=5),
    ),
    "gap_neg_after_group": Pattern(
        Seq(Kleene(Seq(Ev("u", role="user"), Ev("w", role="assistant"))),
            Neg(Ev("n", role="tool")), Ev("t", role="tool")),
        window=timedelta(minutes=5),
    ),
    "group_plus_leaf_kleene_cond": Pattern(
        Seq(Kleene(Seq(Ev("u", role="user"), Ev("w", role="assistant"))),
            Kleene(Ev("k", role="tool"))),
        where=attr("k", "value") > attr("u", "value"),
        window=timedelta(minutes=5),
    ),
    # round 4: Neg BETWEEN leaves INSIDE the unbounded repetition — the
    # gap (u_j, w_j) must be neg-free in EVERY repetition
    "neg_in_group": Pattern(
        Seq(Kleene(Seq(Ev("u", role="user"), Neg(Ev("n", role="tool")),
                       Ev("w", role="assistant"))),
            Ev("t", role="tool")),
        window=timedelta(minutes=5),
    ),
    "neg_in_group_arity3": Pattern(
        Seq(Kleene(Seq(Ev("u", role="user"), Ev("w", role="assistant"),
                       Neg(Ev("n", role="user")), Ev("x", role="tool"))),
            Ev("t", role="user")),
        window=timedelta(minutes=8),
    ),
    "neg_in_group_cond": Pattern(
        Seq(Kleene(Seq(Ev("u", role="user"), Neg(Ev("n", role="tool")),
                       Ev("w", role="assistant"))),
            Ev("t", role="tool")),
        where=attr("w", "value") > attr("u", "value"),
        window=timedelta(minutes=5),
    ),
    # LEADING Neg inside the repetition: guards the gap INTO each
    # repetition (anchor->u_1, then w_{j-1}->u_j); needs the anchor
    "lead_neg_in_group": Pattern(
        Seq(Ev("a", role="tool"),
            Kleene(Seq(Neg(Ev("n", role="tool")), Ev("u", role="user"),
                       Ev("w", role="assistant")))),
        window=timedelta(minutes=5),
    ),
    # TRAILING Neg inside the repetition (round 4, session B): guards
    # the gap OUT of each repetition (w_j -> u_{j+1} at loop-back, then
    # w_r -> t for the final repetition)
    "trail_neg_in_group": Pattern(
        Seq(Kleene(Seq(Ev("u", role="user"), Ev("w", role="assistant"),
                       Neg(Ev("n", role="tool")))),
            Ev("t", role="tool")),
        window=timedelta(minutes=5),
    ),
    # ... and at the pattern END: the final repetition's gap is the
    # window-bounded trailing look-ahead
    "trail_neg_in_group_end": Pattern(
        Seq(Ev("a", role="tool"),
            Kleene(Seq(Ev("u", role="user"), Ev("w", role="assistant"),
                       Neg(Ev("n", role="tool"))))),
        window=timedelta(minutes=5),
    ),
    # leading AND trailing around the same repetition (different vars;
    # for reps >= 2 both guard the same physical gap w_{j-1} -> u_j)
    "lead_trail_neg_in_group": Pattern(
        Seq(Ev("a", role="tool"),
            Kleene(Seq(Neg(Ev("n", role="tool")), Ev("u", role="user"),
                       Ev("w", role="assistant"), Neg(Ev("m", role="user")))),
            Ev("t", role="tool")),
        window=timedelta(minutes=5),
    ),
    # round 5: PATTERN-INITIAL leading Neg (no anchor) — the first
    # repetition's look-back is the window-bounded leading edge, later
    # repetitions get the loop-back gap (mirror of the trailing case;
    # defined by the chain expansion after Seq flattening)
    "lead_noanchor_group": Pattern(
        Seq(Kleene(Seq(Neg(Ev("n", role="tool")), Ev("u", role="user"),
                       Ev("w", role="assistant"))),
            Ev("t", role="tool")),
        window=timedelta(minutes=5),
    ),
    "lead_noanchor_group_root": Pattern(
        Kleene(Seq(Neg(Ev("n", role="tool")), Ev("u", role="user"),
                   Ev("w", role="assistant"))),
        window=timedelta(minutes=5),
    ),
    # round-5 regression: a loop-back entering through a NOT-yet-bound
    # Or_ branch at position 0 has repeat=False but rep_start=True —
    # repeat_only gap specs must key on rep_start or the
    # between-repetition gap is silently skipped for that branch
    "or_pos0_trail_neg": Pattern(
        Seq(Kleene(Seq(Or_(Ev("a", role="user"), Ev("b", role="tool")),
                       Ev("w", role="assistant"), Neg(Ev("n", role="user")))),
            Ev("t", role="user")),
        window=timedelta(minutes=5),
    ),
    "lead_noanchor_group_or": Pattern(
        Seq(Kleene(Seq(Neg(Ev("n", role="tool")),
                       Or_(Ev("a", role="user"), Ev("b", role="tool")),
                       Ev("w", role="assistant"))),
            Ev("t", role="user")),
        window=timedelta(minutes=5),
    ),
    # round 5: three-way branch and TWO Or_ positions in one repetition
    "or3_in_group": Pattern(
        Seq(Kleene(Seq(Ev("u", role="user"),
                       Or_(Ev("w", role="assistant"), Ev("x", role="tool"),
                           Ev("y", role="user")))),
            Ev("t", role="assistant")),
        window=timedelta(minutes=5),
    ),
    "double_or_in_group": Pattern(
        Seq(Kleene(Seq(Or_(Ev("a", role="user"), Ev("b", role="tool")),
                       Or_(Ev("w", role="assistant"), Ev("x", role="user")))),
            Ev("t", role="tool")),
        window=timedelta(minutes=5),
    ),
    # Kleene over And_ (round 4, session B): each repetition binds the
    # leaves in ANY arrival order; repetitions interleave strictly
    "and_group": Pattern(
        Seq(Kleene(And_(Ev("u", role="user"), Ev("w", role="assistant"))),
            Ev("t", role="tool")),
        window=timedelta(minutes=5),
    ),
    "and_group_cond": Pattern(
        Seq(Kleene(And_(Ev("u", role="user"), Ev("w", role="assistant"))),
            Ev("t", role="tool")),
        where=attr("w", "value") > attr("u", "value"),
        window=timedelta(minutes=5),
    ),
    # overlapping unary conditions: permutation assignments per
    # repetition count separately (pinned And_ semantics)
    "and_group_permute": Pattern(
        Seq(Ev("s", role="tool"),
            Kleene(And_(Ev("a", role="user"), Ev("b", role="user")))),
        window=timedelta(minutes=5),
    ),
    "and_group_arity3": Pattern(
        Seq(Kleene(And_(Ev("u", role="user"), Ev("w", role="assistant"),
                        Ev("x", role="tool"))),
            Ev("t", role="user")),
        window=timedelta(minutes=8),
    ),
    # Or_ of plain leaves INSIDE the unbounded repetition (round 5):
    # each repetition binds ONE branch — alternative sub-slots at the
    # same group position
    "or_in_group": Pattern(
        Seq(Kleene(Seq(Ev("u", role="user"),
                       Or_(Ev("w", role="assistant"), Ev("x", role="tool")))),
            Ev("t", role="user")),
        window=timedelta(minutes=5),
    ),
    "or_in_group_first_pos": Pattern(
        Seq(Kleene(Seq(Or_(Ev("a", role="user"), Ev("b", role="tool")),
                       Ev("w", role="assistant"))),
            Ev("t", role="user")),
        window=timedelta(minutes=5),
    ),
    # per-repetition gap Neg guarding an Or_ position: re-checked on
    # binds of EITHER branch
    "or_in_group_neg": Pattern(
        Seq(Kleene(Seq(Ev("u", role="user"), Neg(Ev("n", role="user")),
                       Or_(Ev("w", role="assistant"), Ev("x", role="tool")))),
            Ev("t", role="user")),
        window=timedelta(minutes=5),
    ),
    # outer conjunct on a branch var: applies per element, i.e. over
    # exactly the repetitions that chose the branch (chain semantics)
    "or_in_group_outer_cond": Pattern(
        Seq(Kleene(Seq(Ev("u", role="user"),
                       Or_(Ev("w", role="assistant"), Ev("x", role="tool")))),
            Ev("t", role="user")),
        where=attr("x", "value") < attr("t", "value"),
        window=timedelta(minutes=5),
    ),
    # trailing Neg after an Or_ final position: loop-back gap re-checked
    # per repetition + bubbled final gap to the following part
    "or_in_group_trail_neg": Pattern(
        Seq(Kleene(Seq(Ev("u", role="user"),
                       Or_(Ev("w", role="assistant"), Ev("x", role="tool")),
                       Neg(Ev("n", role="user")))),
            Ev("t", role="user")),
        window=timedelta(minutes=5),
    ),
    # round 5, session 2: a multi-event (Seq) branch — the repetition
    # that chooses it binds w then x before the position completes
    "seq_branch_in_group": Pattern(
        Seq(Kleene(Seq(Ev("u", role="user"),
                       Or_(Seq(Ev("w", role="assistant"), Ev("x", role="tool")),
                           Ev("y", role="assistant")))),
            Ev("t", role="user")),
        window=timedelta(minutes=5),
    ),
    # bare Or_ with a Seq branch: single-position group that goes MID
    # while inside the multi-event branch
    "seq_branch_bare_or": Pattern(
        Seq(Kleene(Or_(Seq(Ev("w", role="assistant"), Ev("x", role="tool")),
                       Ev("y", role="tool"))),
            Ev("t", role="user")),
        window=timedelta(minutes=5),
    ),
    # same-branch conjunct (zips per repetition that chose the branch)
    # + branch var vs a variable outside the group (per element)
    "seq_branch_conds": Pattern(
        Seq(Kleene(Seq(Ev("u", role="user"),
                       Or_(Seq(Ev("w", role="assistant"), Ev("x", role="tool")),
                           Ev("y", role="assistant")))),
            Ev("t", role="user")),
        where=(attr("x", "value") > attr("w", "value"))
        & (attr("y", "value") < attr("t", "value")),
        window=timedelta(minutes=5),
    ),
    # per-repetition gap Neg guarding a Seq-branch position's ENTRY bind
    "seq_branch_neg": Pattern(
        Seq(Kleene(Seq(Ev("u", role="user"),
                       Neg(Ev("n", role="user")),
                       Or_(Seq(Ev("w", role="assistant"), Ev("x", role="tool")),
                           Ev("y", role="assistant")))),
            Ev("t", role="user")),
        window=timedelta(minutes=5),
    ),
    # session 4: Neg strictly BETWEEN two leaves OF a Seq branch — the
    # within-repetition gap (w_j, x_j), guarded in exactly the
    # repetitions that CHOSE the branch (chain-expansion semantics)
    "neg_in_seq_branch": Pattern(
        Seq(Kleene(Seq(Ev("u", role="user"),
                       Or_(Seq(Ev("w", role="assistant"),
                               Neg(Ev("n", role="user")),
                               Ev("x", role="tool")),
                           Ev("y", role="assistant")))),
            Ev("t", role="user")),
        window=timedelta(minutes=5),
    ),
    # session 6: And_ at one POSITION of a Seq repetition — every
    # repetition binds EVERY member once, in any arrival order, all
    # strictly between the neighbouring positions' binds (conjunctive
    # sub-slots share a grp_idx; mid tracks the bound-member set)
    "and_pos_in_group": Pattern(
        Seq(Kleene(Seq(Ev("u", role="user"),
                       And_(Ev("w", role="assistant"), Ev("x", role="tool")))),
            Ev("t", role="user")),
        window=timedelta(minutes=8),
    ),
    "and_pos_first": Pattern(
        Seq(Kleene(Seq(And_(Ev("w", role="assistant"), Ev("x", role="tool")),
                       Ev("u", role="user"))),
            Ev("t", role="user")),
        window=timedelta(minutes=8),
    ),
    # members are ordinary zip-aligned group mates: same-position,
    # cross-position, and member-vs-outer conjuncts all per repetition
    "and_pos_mate_cond": Pattern(
        Seq(Kleene(Seq(Ev("u", role="user"),
                       And_(Ev("w", role="assistant"), Ev("x", role="tool")))),
            Ev("t", role="user")),
        where=attr("w", "value") > attr("x", "value"),
        window=timedelta(minutes=8),
    ),
    "and_pos_outer_cond": Pattern(
        Seq(Kleene(Seq(Ev("u", role="user"),
                       And_(Ev("w", role="assistant"), Ev("x", role="tool")))),
            Ev("t", role="user")),
        where=attr("x", "value") < attr("t", "value"),
        window=timedelta(minutes=8),
    ),
    # a gap Neg INTO the And_ position closes at the repetition's FIRST
    # member bind (chain min-over-members); OUT of it, at the next
    # position's bind with the LAST member as left boundary
    "neg_before_and_pos": Pattern(
        Seq(Kleene(Seq(Ev("u", role="user"), Neg(Ev("n", tool="sql")),
                       And_(Ev("w", role="assistant"), Ev("x", role="tool")))),
            Ev("t", role="user")),
        window=timedelta(minutes=8),
    ),
    "neg_after_and_pos": Pattern(
        Seq(Kleene(Seq(And_(Ev("w", role="assistant"), Ev("x", role="tool")),
                       Neg(Ev("n", tool="sql")), Ev("u", role="user"))),
            Ev("t", role="user")),
        window=timedelta(minutes=8),
    ),
    # trailing Neg with the And_ position LAST in the repetition:
    # loop-back gap + bubbled final gap, left boundary = last member
    "trail_neg_and_pos_last": Pattern(
        Seq(Kleene(Seq(Ev("u", role="user"),
                       And_(Ev("w", role="assistant"), Ev("x", role="tool")),
                       Neg(Ev("n", tool="sql")))),
            Ev("t", role="user")),
        window=timedelta(minutes=8),
    ),
    # Or_ position and And_ position in ONE repetition
    "or_and_mix_pos": Pattern(
        Seq(Kleene(Seq(Or_(Ev("a", role="user"), Ev("b", role="tool")),
                       And_(Ev("w", role="assistant"), Ev("x", role="tool")))),
            Ev("t", role="user")),
        window=timedelta(minutes=8),
    ),
    # session 7: a Seq-of-leaves MEMBER inside the And_ position — its
    # events bind in br_idx order, interleaving freely with siblings,
    # the whole position strictly between the neighbouring positions
    "and_pos_seq_member": Pattern(
        Seq(Kleene(Seq(Ev("u", role="user"),
                       And_(Seq(Ev("w", role="assistant"),
                                Ev("v", role="assistant")),
                            Ev("x", role="tool")))),
            Ev("t", role="user")),
        window=timedelta(minutes=8),
    ),
    "and_pos_seq_member_first": Pattern(
        Seq(Kleene(Seq(And_(Seq(Ev("w", role="assistant"),
                                Ev("v", role="tool")),
                            Ev("x", role="user")),
                       Ev("u", role="user"))),
            Ev("t", role="tool")),
        window=timedelta(minutes=8),
    ),
    "and_pos_seq_member_cond": Pattern(
        Seq(Kleene(Seq(Ev("u", role="user"),
                       And_(Seq(Ev("w", role="assistant"),
                                Ev("v", role="assistant")),
                            Ev("x", role="tool")))),
            Ev("t", role="user")),
        where=(attr("v", "value") > attr("w", "value"))
        & (attr("x", "value") > attr("u", "value")),
        window=timedelta(minutes=8),
    ),
    "neg_around_seq_member_pos": Pattern(
        Seq(Kleene(Seq(Ev("u", role="user"), Neg(Ev("n", tool="sql")),
                       And_(Seq(Ev("w", role="assistant"),
                                Ev("v", role="assistant")),
                            Ev("x", role="tool")),
                       Neg(Ev("m", tool="sql")))),
            Ev("t", role="user")),
        window=timedelta(minutes=8),
    ),
    "or_and_seqmem_mix": Pattern(
        Seq(Kleene(Seq(Or_(Ev("a", role="user"), Ev("b", role="tool")),
                       And_(Seq(Ev("w", role="assistant"),
                                Ev("v", role="assistant")),
                            Ev("x", role="tool")))),
            Ev("t", role="user")),
        window=timedelta(minutes=8),
    ),
    # session 8: Negs INSIDE Seq members of And_ positions
    "and_pos_mem_neg": Pattern(
        Seq(Kleene(Seq(Ev("u", role="user"),
                       And_(Seq(Ev("w", role="assistant"),
                                Neg(Ev("n", tool="sql")),
                                Ev("v", role="assistant")),
                            Ev("x", role="tool")))),
            Ev("t", role="user")),
        window=timedelta(minutes=8),
    ),
    "and_pos_mem_lead_neg": Pattern(
        Seq(Ev("a0", role="tool"),
            Kleene(Seq(Ev("u", role="user"),
                       And_(Seq(Neg(Ev("n", tool="sql")),
                                Ev("w", role="assistant"),
                                Ev("v", role="assistant")),
                            Ev("x", role="tool"))))),
        window=timedelta(minutes=8),
    ),
    # ... with no anchor before the group and an event after it
    "and_pos_mem_lead_neg_then_t": Pattern(
        Seq(Kleene(Seq(Ev("u", role="user"),
                       And_(Seq(Neg(Ev("n", tool="sql")),
                                Ev("w", role="assistant"),
                                Ev("v", role="assistant")),
                            Ev("x", role="tool")))),
            Ev("t", role="user")),
        window=timedelta(minutes=8),
    ),
    "and_pos_mem_lead_neg_pos0": Pattern(
        Seq(Ev("a0", role="tool"),
            Kleene(Seq(And_(Seq(Neg(Ev("n", tool="sql")),
                                Ev("w", role="assistant")),
                            Ev("x", role="tool")),
                       Ev("b", role="user")))),
        window=timedelta(minutes=8),
    ),
    "and_pos_mem_neg_last_pos": Pattern(
        Seq(Kleene(Seq(And_(Seq(Ev("w", role="assistant"),
                                Neg(Ev("n", tool="sql")),
                                Ev("v", role="user")),
                            Ev("x", role="tool")),
                       Ev("b", role="user"))),
            Ev("t", role="tool")),
        window=timedelta(minutes=8),
    ),
    # session 9: Or_ MEMBERS inside And_ positions (one branch of the
    # member binds per repetition, plus every other member)
    "and_pos_or_mem": Pattern(
        Seq(Kleene(Seq(Ev("a", role="user"),
                       And_(Or_(Ev("b", role="assistant"),
                                Ev("c", role="tool")),
                            Ev("x", role="user")))),
            Ev("t", role="tool")),
        window=timedelta(minutes=8),
    ),
    "and_pos_or_mem_seqbr": Pattern(
        Seq(Kleene(Seq(Ev("a", role="user"),
                       And_(Or_(Seq(Ev("b", role="assistant"),
                                    Ev("c", role="assistant")),
                                Ev("d", role="tool")),
                            Ev("x", role="user")))),
            Ev("t", role="tool")),
        window=timedelta(minutes=8),
    ),
    "and_pos_or_mem_first": Pattern(
        Seq(Kleene(Seq(And_(Or_(Ev("b", role="assistant"),
                                Ev("c", role="tool")),
                            Ev("x", role="user")),
                       Ev("a", role="assistant"))),
            Ev("t", role="tool")),
        window=timedelta(minutes=8),
    ),
    "and_pos_two_or_mem": Pattern(
        Seq(Kleene(Seq(Ev("a", role="user"),
                       And_(Or_(Ev("b", role="assistant"),
                                Ev("c", role="tool")),
                            Or_(Ev("d", role="user"),
                                Ev("e", role="assistant"))))),
            Ev("t", role="tool")),
        window=timedelta(minutes=6),
    ),
    "and_pos_or_mem_seq_mate": Pattern(
        Seq(Kleene(Seq(Ev("a", role="user"),
                       And_(Or_(Ev("b", role="assistant"),
                                Ev("c", role="tool")),
                            Seq(Ev("w", role="assistant"),
                                Ev("v", role="user"))))),
            Ev("t", role="tool")),
        window=timedelta(minutes=8),
    ),
    "and_pos_or_mem_neg_mate": Pattern(
        Seq(Kleene(Seq(Ev("a", role="user"),
                       And_(Or_(Ev("b", role="assistant"),
                                Ev("c", role="tool")),
                            Seq(Ev("w", role="assistant"),
                                Neg(Ev("n", tool="sql")),
                                Ev("v", role="user"))))),
            Ev("t", role="tool")),
        window=timedelta(minutes=8),
    ),
    # session 10: member shapes in the BARE And_ body (lowered as one
    # conjunctive position — repetition j+1 strictly after all of j,
    # members interleaving freely within it)
    "bare_and_seqmem": Pattern(
        Seq(Kleene(And_(Seq(Ev("w", role="assistant"),
                            Ev("v", role="assistant")),
                        Ev("x", role="tool"))),
            Ev("t", role="user")),
        window=timedelta(minutes=8),
    ),
    "bare_and_or_mem": Pattern(
        Seq(Kleene(And_(Or_(Ev("b", role="assistant"),
                            Ev("c", role="tool")),
                        Ev("x", role="user"))),
            Ev("t", role="tool")),
        window=timedelta(minutes=8),
    ),
    "bare_and_mem_neg": Pattern(
        Seq(Ev("a0", role="tool"),
            Kleene(And_(Seq(Ev("w", role="assistant"),
                            Neg(Ev("n", tool="sql")),
                            Ev("v", role="assistant")),
                        Ev("x", role="user")))),
        window=timedelta(minutes=8),
    ),
    "bare_and_seqmem_cond": Pattern(
        Seq(Kleene(And_(Seq(Ev("w", role="assistant"),
                            Ev("v", role="assistant")),
                        Ev("x", role="tool"))),
            Ev("t", role="user")),
        where=attr("v", "value") > attr("w", "value"),
        window=timedelta(minutes=8),
    ),
    "and_pos_mem_neg_cond": Pattern(
        Seq(Kleene(Seq(Ev("u", role="user"),
                       And_(Seq(Ev("w", role="assistant"),
                                Neg(Ev("n", where=(attr("n", "role")
                                                   == lit("tool"))
                                        & (attr("n", "value")
                                           > lit(50.0)))),
                                Ev("v", role="assistant")),
                            Ev("x", role="tool")))),
            Ev("t", role="user")),
        window=timedelta(minutes=8),
    ),
    # session 11: LEADING member Neg in a bare And_ body — the
    # single-position boundary override (Transition.gap_pre)
    "bare_and_mem_lead_neg": Pattern(
        Seq(Ev("a0", role="tool"),
            Kleene(And_(Seq(Neg(Ev("n", tool="sql")),
                            Ev("w", role="assistant"),
                            Ev("v", role="assistant")),
                        Ev("x", role="user")))),
        window=timedelta(minutes=8),
    ),
    "bare_and_mem_lead_neg_then_t": Pattern(
        Seq(Ev("a0", role="tool"),
            Kleene(And_(Seq(Neg(Ev("n", tool="sql")),
                            Ev("w", role="assistant"),
                            Ev("v", role="assistant")),
                        Ev("x", role="user"))),
            Ev("t", role="tool")),
        window=timedelta(minutes=8),
    ),
    # session 11: Negs inside Or_-member BRANCHES (branch-gated member
    # gaps — interior and leading)
    "or_mem_br_neg": Pattern(
        Seq(Kleene(Seq(Ev("u", role="user"),
                       And_(Or_(Seq(Ev("b", role="assistant"),
                                    Neg(Ev("n", tool="sql")),
                                    Ev("c", role="assistant")),
                                Ev("d", role="tool")),
                            Ev("x", role="user")))),
            Ev("t", role="tool")),
        window=timedelta(minutes=8),
    ),
    "or_mem_br_lead_neg": Pattern(
        Seq(Kleene(Seq(Ev("u", role="user"),
                       And_(Or_(Seq(Neg(Ev("n", tool="sql")),
                                    Ev("b", role="assistant")),
                                Ev("d", role="tool")),
                            Ev("x", role="user")))),
            Ev("t", role="tool")),
        window=timedelta(minutes=8),
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


import pytest


# the replica enumerates chain alternatives exponentially in the group
# size; shapes whose 1-event units make that blow up get smaller groups
# (exclusive bound on n, like _DIST_MAX_N) plus the variables of which
# each repetition binds exactly one, so the test can check that some
# trial still matches more than one repetition
_GROUP_MAX_N = {"seq_branch_bare_or": (8, ("w", "y")),
                "double_or_in_group": (8, ("a", "b"))}


@pytest.mark.parametrize("name", sorted(PATTERNS))
def test_group_kleene_vs_replica(name):
    pat = PATTERNS[name]
    cp = compile_pattern(pat)
    rng = np.random.default_rng(0xC0FFEE)
    hi, rep_vars = _GROUP_MAX_N.get(name, (11, ()))
    multirep = 0
    for trial in range(60):
        g = _gen_group(trial * 7 + 1, int(rng.integers(2, hi)))
        gs = g.sort_values(["ts", "turn_idx"]).reset_index(drop=True)
        m = _canon_nfa(match_group_nfa(cp, gs))
        o = _canon_rep(match_group(pat, g.copy()))
        assert m == o, f"{name} trial {trial}\nnfa={m}\nrep={o}\n{g}"
        multirep += any(
            sum(len(ps) for v, ps in b if v in rep_vars) > 1 for _, b in m
        )
    if rep_vars:
        assert multirep > 0, name  # the cap still leaves multi-repetition matches


def test_bounded_group_equals_chain_expansion():
    """compile(composite='group') on a BOUNDED composite must match the
    default chain expansion's match set exactly (folded var names)."""
    pat = Pattern(
        Seq(Kleene(Seq(Ev("u", role="user"), Ev("w", role="assistant")), max_len=2),
            Ev("t", role="tool")),
        where=attr("w", "value") > attr("u", "value"),
        window=timedelta(minutes=5),
    )
    cp_group = compile_pattern(pat, composite="group")
    cp_chain = compile_pattern(pat)  # default: chain expansion
    rng = np.random.default_rng(42)
    for trial in range(60):
        g = _gen_group(trial * 13 + 3, int(rng.integers(2, 11)))
        gs = g.sort_values(["ts", "turn_idx"]).reset_index(drop=True)
        grp = _canon_nfa(match_group_nfa(cp_group, gs))
        folded = []
        for _, b in match_group_nfa(cp_chain, gs):
            fu = tuple(p for j in (1, 2) for p in
                       ([b[f"u__{j}"]] if f"u__{j}" in b else []))
            fw = tuple(p for j in (1, 2) for p in
                       ([b[f"w__{j}"]] if f"w__{j}" in b else []))
            folded.append((0, tuple(sorted(
                {"u": fu, "w": fw, "t": (b["t"],)}.items()
            ))))
        assert grp == sorted(set(folded)), f"trial {trial}\n{g}"


def test_bounded_group_with_neg_equals_chain_expansion():
    """Round 4: a Neg between leaves inside the repetition — the group
    lowering (per-repetition gap re-check) must match the chain
    expansion (per-chain-position gap negs) exactly."""
    pat = Pattern(
        Seq(Kleene(Seq(Ev("u", role="user"), Neg(Ev("n", role="tool")),
                       Ev("w", role="assistant")), max_len=2),
            Ev("t", role="tool")),
        window=timedelta(minutes=5),
    )
    cp_group = compile_pattern(pat, composite="group")
    cp_chain = compile_pattern(pat)
    rng = np.random.default_rng(43)
    nonzero = multirep = 0
    for trial in range(60):
        g = _gen_group(trial * 17 + 5, int(rng.integers(3, 12)))
        gs = g.sort_values(["ts", "turn_idx"]).reset_index(drop=True)
        grp = _canon_nfa(match_group_nfa(cp_group, gs))
        folded = []
        for _, b in match_group_nfa(cp_chain, gs):
            fu = tuple(p for j in (1, 2) for p in
                       ([b[f"u__{j}"]] if f"u__{j}" in b else []))
            fw = tuple(p for j in (1, 2) for p in
                       ([b[f"w__{j}"]] if f"w__{j}" in b else []))
            folded.append((0, tuple(sorted(
                {"u": fu, "w": fw, "t": (b["t"],)}.items()
            ))))
            multirep += len(fu) > 1
        assert grp == sorted(set(folded)), f"trial {trial}\n{g}"
        nonzero += bool(grp)
    assert nonzero > 0 and multirep > 0  # 2-repetition gaps exercised


def test_group_interleaving_and_alignment():
    """Hand-computed: repetitions interleave strictly (u1<w1<u2<w2) and
    the per-repetition condition w.value > u.value is ALIGNED (checked
    within each repetition, not across)."""
    ts0 = pd.Timestamp("2026-01-01")
    df = pd.DataFrame(
        {
            "conv_id": "c0",
            "turn_idx": np.arange(5, dtype=np.int32),
            "role": ["user", "assistant", "user", "assistant", "tool"],
            "tool": [None] * 5,
            "ts": ts0 + pd.to_timedelta(np.arange(5) * 10, unit="s"),
            # rep (0,1): 5 -> 8 rises; rep (2,3): 9 -> 7 falls
            "value": [5.0, 8.0, 9.0, 7.0, 1.0],
        }
    )
    pat = Pattern(
        Seq(Kleene(Seq(Ev("u", role="user"), Ev("w", role="assistant"))),
            Ev("t", role="tool")),
        where=attr("w", "value") > attr("u", "value"),
        window=timedelta(minutes=5),
    )
    res = _canon_nfa(match_group_nfa(compile_pattern(pat), df))
    # (0,1) passes; (2,3) fails aligned check; (0,3) fails 8>... wait:
    # candidate reps by interleaving: (0,1), (0,3), (2,3); aligned
    # condition keeps (0,1) [8>5] and (0,3) [7>5], kills (2,3) [7<9];
    # chains: [(0,1)], [(0,3)], [(0,1),(2,3)] -> killed.
    assert res == [
        (0, (("t", (4,)), ("u", (0,)), ("w", (1,)))),
        (0, (("t", (4,)), ("u", (0,)), ("w", (3,)))),
    ]


def test_group_streaming_incremental_parity():
    """Group pattern through the streaming state function (one-pattern
    multi query, fake GroupState): union of per-batch emissions ==
    batch matcher."""
    from cep_spark.batch import matches_to_pdf_flat
    from cep_spark.stream import _make_multi_fn
    from test_stream_fn_property import FakeState, _canon_rows

    pat = PATTERNS["group_then_var"]
    cp = compile_pattern(pat)
    rng = np.random.default_rng(99)
    for trial in range(25):
        g = _gen_group(trial * 11 + 5, int(rng.integers(4, 14)))
        g["ts"] = g["ts"].astype("datetime64[us]")
        g = g.sort_values(["ts", "turn_idx"]).reset_index(drop=True)
        cuts = sorted(rng.integers(0, len(g), size=int(rng.integers(0, 4))).tolist())
        bounds = [0] + cuts + [len(g)]
        batches = [g.iloc[bounds[i]:bounds[i + 1]] for i in range(len(bounds) - 1)]

        fn = _make_multi_fn([cp], mode="flat")
        state = FakeState()
        out, wm, seen = [], 0, 0
        for b in batches:
            state.hasTimedOut, state.wm_ms, state.timer_ms = False, wm, None
            for pdf in fn(("c0",), iter([b]), state):
                out.append(pdf)
            if len(b):
                seen = max(seen, int(b["ts"].max().value // 1_000_000))
            wm = seen
        final_wm = int(g["ts"].max().value // 1_000_000) + 10_000_000
        wm = final_wm
        for _ in range(64):
            if not state.exists or state.timer_ms is None or state.timer_ms > wm:
                break
            state.hasTimedOut, state.wm_ms, state.timer_ms = True, wm, None
            for pdf in fn(("c0",), iter([]), state):
                out.append(pdf)
        res = match_group_nfa(cp, g)
        want = _canon_rows([matches_to_pdf_flat(cp, g, "c0", res=res)]) if res else []
        assert _canon_rows(out) == want, f"trial {trial}\n{g}"


def test_leading_neg_in_group_chain_parity_and_initial_reject():
    """Bounded chain expansion vs forced group lowering for a LEADING
    Neg inside the repetition; and the pattern-initial case (no left
    boundary for the first repetition's gap) is rejected."""
    import pytest

    pat = Pattern(
        Seq(Ev("a", role="tool"),
            Kleene(Seq(Neg(Ev("n", role="tool")), Ev("u", role="user"),
                       Ev("w", role="assistant")), max_len=2)),
        window=timedelta(minutes=5),
    )
    cp_group = compile_pattern(pat, composite="group")
    cp_chain = compile_pattern(pat)
    rng = np.random.default_rng(44)
    nonzero = multirep = 0
    for trial in range(60):
        g = _gen_group(trial * 19 + 7, int(rng.integers(3, 12)))
        gs = g.sort_values(["ts", "turn_idx"]).reset_index(drop=True)
        grp = _canon_nfa(match_group_nfa(cp_group, gs))
        folded = []
        for _, b in match_group_nfa(cp_chain, gs):
            fu = tuple(p for j in (1, 2) for p in
                       ([b[f"u__{j}"]] if f"u__{j}" in b else []))
            fw = tuple(p for j in (1, 2) for p in
                       ([b[f"w__{j}"]] if f"w__{j}" in b else []))
            folded.append((0, tuple(sorted(
                {"u": fu, "w": fw, "a": (b["a"],)}.items()
            ))))
            multirep += len(fu) > 1
        assert grp == sorted(set(folded)), f"trial {trial}\n{g}"
        nonzero += bool(grp)
    assert nonzero > 0 and multirep > 0

    # round 5: the PATTERN-INITIAL case now compiles (first-repetition
    # look-back = window-bounded leading edge; see lead_noanchor_group*
    # in PATTERNS) — what stays rejected is an anchor-less leading Neg
    # where the group does NOT start the pattern (an And_ child: the
    # chain expansion rejects it too, there is no left boundary and no
    # well-defined "first event of the match" anchor)
    ok_now = Pattern(
        Kleene(Seq(Neg(Ev("n", role="tool")), Ev("u", role="user"),
                   Ev("w", role="assistant"))),
        window=timedelta(minutes=5),
    )
    compile_pattern(ok_now)
    bad = Pattern(
        And_(Kleene(Seq(Neg(Ev("n", role="tool")), Ev("u", role="user"),
                        Ev("w", role="assistant"))),
             Ev("t", role="tool")),
        window=timedelta(minutes=5),
    )
    with pytest.raises(ValueError, match="START the pattern"):
        compile_pattern(bad)
    # ... and the pattern-initial case still needs a window (the edge
    # look-back is window-bounded)
    with pytest.raises(ValueError, match="window"):
        compile_pattern(Pattern(
            Kleene(Seq(Neg(Ev("n", role="tool")), Ev("u", role="user"),
                       Ev("w", role="assistant"))),
            window=None,
        ))


def test_trailing_neg_in_group_chain_parity():
    """Bounded chain expansion vs forced group lowering for a TRAILING
    Neg inside the repetition — both with a following part (final gap
    ends at it) and at the pattern end (window-bounded trailing)."""
    for tail in (True, False):
        parts = [Ev("s", role="tool"),
                 Kleene(Seq(Ev("u", role="user"), Ev("w", role="assistant"),
                            Neg(Ev("n", role="tool"))), max_len=2)]
        if tail:
            parts.append(Ev("t", role="user"))
        pat = Pattern(Seq(*parts), window=timedelta(minutes=5))
        cp_group = compile_pattern(pat, composite="group")
        cp_chain = compile_pattern(pat)
        rng = np.random.default_rng(45 + tail)
        nonzero = multirep = 0
        for trial in range(60):
            g = _gen_group(trial * 23 + 9, int(rng.integers(3, 12)))
            gs = g.sort_values(["ts", "turn_idx"]).reset_index(drop=True)
            grp = _canon_nfa(match_group_nfa(cp_group, gs))
            folded = []
            for _, b in match_group_nfa(cp_chain, gs):
                fu = tuple(p for j in (1, 2) for p in
                           ([b[f"u__{j}"]] if f"u__{j}" in b else []))
                fw = tuple(p for j in (1, 2) for p in
                           ([b[f"w__{j}"]] if f"w__{j}" in b else []))
                base = {"u": fu, "w": fw, "s": (b["s"],)}
                if tail:
                    base["t"] = (b["t"],)
                folded.append((0, tuple(sorted(base.items()))))
                multirep += len(fu) > 1
            assert grp == sorted(set(folded)), f"tail={tail} trial {trial}\n{g}"
            nonzero += bool(grp)
        assert nonzero > 0 and multirep > 0


def test_nested_seq_trailing_neg_bubbles():
    """A trailing Neg at the end of a NESTED Seq guards the gap to the
    enclosing Seq's next part — equivalent to writing the Neg between
    the two parts at the outer level."""
    nested = Pattern(
        Seq(Ev("s", role="tool"),
            Seq(Ev("u", role="user"), Ev("w", role="assistant"),
                Neg(Ev("n", role="tool"))),
            Ev("t", role="user")),
        window=timedelta(minutes=5),
    )
    flat = Pattern(
        Seq(Ev("s", role="tool"), Ev("u", role="user"),
            Ev("w", role="assistant"), Neg(Ev("n", role="tool")),
            Ev("t", role="user")),
        window=timedelta(minutes=5),
    )
    cp_n, cp_f = compile_pattern(nested), compile_pattern(flat)
    rng = np.random.default_rng(46)
    nonzero = 0
    for trial in range(60):
        g = _gen_group(trial * 29 + 11, int(rng.integers(3, 12)))
        gs = g.sort_values(["ts", "turn_idx"]).reset_index(drop=True)
        a = _canon_nfa(match_group_nfa(cp_n, gs))
        b = _canon_nfa(match_group_nfa(cp_f, gs))
        assert a == b, f"trial {trial}\n{g}"
        nonzero += bool(a)
    assert nonzero > 0


def test_trailing_neg_in_and_part_rejected():
    """A trailing Neg inside an And_ child has no ordered successor."""
    import pytest

    bad = Pattern(
        And_(Seq(Ev("u", role="user"), Neg(Ev("n", role="tool"))),
             Ev("t", role="tool")),
        window=timedelta(minutes=5),
    )
    with pytest.raises(ValueError, match="And_ is unordered"):
        compile_pattern(bad)


def test_and_group_chain_parity():
    """Bounded Kleene(And_) — forced group lowering (one conjunctive
    position, members in any order) must match the chain expansion
    exactly, including the permutation assignments within each
    repetition.  Every input runs on groups long enough, under a window
    wide enough, that the unbounded lowering finds more matches in some
    trial, so the cap — which counts member 0's binds (batch.py
    grp_anchor_vars) — must fire on both the 2-leaf and the 3-leaf
    body."""
    u, w = Ev("u", role="user"), Ev("w", role="assistant")
    cond = attr("w", "value") > attr("u", "value")
    # (members, last leaf, where, group sizes, window minutes)
    cases = (
        ((u, w), Ev("t", role="tool"), TRUE, (8, 15), 15),
        ((u, w), Ev("t", role="tool"), cond, (8, 15), 15),
        ((u, w, Ev("x", role="tool")), Ev("t", role="user"), TRUE, (8, 17),
         30),
    )
    for ci, (leaves, last, where, sizes, minutes) in enumerate(cases):
        def pat(max_len):
            return Pattern(
                Seq(Kleene(And_(*leaves), max_len=max_len), last),
                where=where, window=timedelta(minutes=minutes),
            )
        cp_group = compile_pattern(pat(2), composite="group")
        cp_open = compile_pattern(pat(None))
        cp_chain = compile_pattern(pat(2))
        names = [e.name for e in leaves]
        rng = np.random.default_rng(47 + ci)
        nonzero = multirep = capped = 0
        for trial in range(60):
            g = _gen_group(trial * 37 + 13, int(rng.integers(*sizes)))
            gs = g.sort_values(["ts", "turn_idx"]).reset_index(drop=True)
            grp = _canon_nfa(match_group_nfa(cp_group, gs))
            folded = []
            for _, b in match_group_nfa(cp_chain, gs):
                fb = {v: tuple(b[f"{v}__{j}"] for j in (1, 2)
                               if f"{v}__{j}" in b) for v in names}
                fb[last.name] = (b[last.name],)
                folded.append((0, tuple(sorted(fb.items()))))
                multirep += len(fb["u"]) > 1
            assert grp == sorted(set(folded)), f"case {ci} trial {trial}\n{g}"
            nonzero += bool(grp)
            capped += len(match_group_nfa(cp_open, gs)) > len(grp)
        assert nonzero > 0 and multirep > 0 and capped > 0, ci


def test_gap_neg_under_and_interleaving():
    """Round-4 session B bug (found by the extended random-AST
    generator): a gap negation's left boundary is the Neg's STRUCTURAL
    predecessor, and events bound to other match variables are not
    negation candidates — an And_ sibling binding INSIDE the gap broke
    both assumptions of the old last_pos-based check.  Pinned fixture:
    And_(Kleene(Seq(v1, Neg(v2), v3)), v4) emitted a 9th match the
    replica rejects (qualifying v2 between v1 and the interleaved-past
    v3).  Random sweep over the group and plain-Seq variants."""
    shapes = [
        And_(Kleene(Seq(Ev("v1", role="user"), Neg(Ev("v2", role="tool")),
                        Ev("v3", role="user"))),
             Ev("v4", role="user")),
        And_(Seq(Ev("a", role="user"), Neg(Ev("x", role="tool")),
                 Ev("b", role="user")),
             Ev("c", role="tool")),
        And_(Seq(Ev("a", role="user"), Neg(Ev("x", role="user")),
                 Ev("b", role="user")),
             Ev("c", role="user")),
    ]
    nonzero = 0
    for si, struct in enumerate(shapes):
        pat = Pattern(struct, window=timedelta(minutes=10))
        cp = compile_pattern(pat)
        rng = np.random.default_rng(99 + si)
        for trial in range(80):
            g = _gen_group(trial * 41 + si, int(rng.integers(3, 11)))
            gs = g.sort_values(["ts", "turn_idx"]).reset_index(drop=True)
            m = _canon_nfa(match_group_nfa(cp, gs))
            o = _canon_rep(match_group(pat, g.copy()))
            assert m == o, f"shape {si} trial {trial}\nnfa={m}\nrep={o}\n{g}"
            nonzero += bool(m)
    assert nonzero > 0


def test_and_group_permutations_and_rejects():
    """Hand fixture: one repetition over two same-role events emits both
    variable assignments; Neg inside an unbounded And_ repetition is
    rejected (no defined gap)."""
    import pytest

    pat = PATTERNS["and_group_permute"]
    cp = compile_pattern(pat)
    ts0 = pd.Timestamp("2026-01-01")
    g = pd.DataFrame({
        "conv_id": "c0", "turn_idx": np.arange(3, dtype=np.int32),
        "role": ["tool", "user", "user"], "tool": "x",
        "ts": ts0 + pd.to_timedelta(np.arange(3) * 10, unit="s"),
        "value": [1.0, 2.0, 3.0],
    })
    res = sorted((b["a"], b["b"]) for _, b in match_group_nfa(cp, g))
    assert res == [((1,), (2,)), ((2,), (1,))]

    with pytest.raises(ValueError, match="And_ of leaf"):
        compile_pattern(Pattern(
            Seq(Kleene(And_(Ev("u", role="user"), Neg(Ev("n", role="tool")),
                            Ev("w", role="assistant"))),
                Ev("t", role="tool")),
            window=timedelta(minutes=5),
        ))


def test_bounded_group_or_equals_chain_expansion():
    """Round 5: Or_ of plain leaves inside the repetition — the group
    lowering (alternative branch sub-slots at one position) must match
    the chain expansion (per-repetition Or_ products) exactly.  Branch
    vars fold sparsely: a repetition that chose the sibling contributes
    nothing to the branch's tuple."""
    pat = Pattern(
        Seq(Kleene(Seq(Ev("u", role="user"),
                       Or_(Ev("w", role="assistant"), Ev("x", role="tool"))),
                   max_len=2),
            Ev("t", role="user")),
        window=timedelta(minutes=5),
    )
    cp_group = compile_pattern(pat, composite="group")
    cp_chain = compile_pattern(pat)  # default: chain expansion
    rng = np.random.default_rng(44)
    nonzero = mixed = 0
    for trial in range(80):
        g = _gen_group(trial * 19 + 7, int(rng.integers(2, 11)))
        gs = g.sort_values(["ts", "turn_idx"]).reset_index(drop=True)
        grp = _canon_nfa(match_group_nfa(cp_group, gs))
        folded = []
        for _, b in match_group_nfa(cp_chain, gs):
            fb = {"t": (b["t"],)}
            for base in ("u", "w", "x"):
                el = tuple(b[f"{base}__{j}"] for j in (1, 2)
                           if f"{base}__{j}" in b)
                if el:
                    fb[base] = el
            folded.append((0, tuple(sorted(fb.items()))))
            mixed += ("w" in fb) and ("x" in fb)
        assert grp == sorted(set(folded)), f"trial {trial}\n{g}"
        nonzero += bool(grp)
    assert nonzero > 0 and mixed > 0  # mixed-branch repetitions exercised


def test_or_in_group_rejects():
    """Or_-in-group guard rails: a multi-var conjunct pairing a branch
    var with a same-group mate OUTSIDE its own branch has undefined
    per-repetition alignment and must be rejected loudly; branches
    deeper than a Seq of leaves with Negs (UNBOUNDED nested Kleene,
    an anchor-less branch-leading Neg) stay rejected — nested Or_
    DISTRIBUTES since session 12."""
    import pytest

    with pytest.raises(ValueError, match="same-group"):
        compile_pattern(Pattern(
            Seq(Kleene(Seq(Ev("u", role="user"),
                           Or_(Ev("w", role="assistant"),
                               Ev("x", role="tool")))),
                Ev("t", role="user")),
            where=attr("w", "value") > attr("u", "value"),
            window=timedelta(minutes=5),
        ))
    # cross-branch pairing: w and x never bind in the same repetition
    with pytest.raises(ValueError, match="same-group"):
        compile_pattern(Pattern(
            Seq(Kleene(Seq(Ev("u", role="user"),
                           Or_(Seq(Ev("w", role="assistant"),
                                   Ev("y", role="user")),
                               Ev("x", role="tool")))),
                Ev("t", role="user")),
            where=attr("w", "value") > attr("x", "value"),
            window=timedelta(minutes=5),
        ))
    # UNBOUNDED nested LEAF Kleene compiles since session 16 (a looping
    # position — tests/test_group_loop.py); an unbounded nested Kleene
    # INSIDE an Or_ branch still rejects (the loop machinery attaches
    # to positions, not branch innards)
    with pytest.raises(ValueError, match="Seq of plain event leaves"):
        compile_pattern(Pattern(
            Seq(Kleene(Seq(Ev("u", role="user"),
                           Or_(Seq(Ev("w", role="assistant"),
                                   Kleene(Ev("b", role="tool"))),
                               Ev("x", role="tool")))),
                Ev("t", role="user")),
            window=timedelta(minutes=5),
        ))
    # a Neg BETWEEN two branch leaves, LEADING, or (session 5) TRAILING
    # the branch is supported — the trailing gap closes at the next bind
    # outside the branch and is gated dynamically (NegSpec.br_guard)
    compile_pattern(Pattern(
        Seq(Kleene(Seq(Ev("u", role="user"),
                       Or_(Seq(Ev("w", role="assistant"),
                               Ev("y", role="user"),
                               Neg(Ev("n", role="user"))),
                           Ev("x", role="tool")))),
            Ev("t", role="user")),
        window=timedelta(minutes=5),
    ))
    # a LEADING branch Neg at the FIRST position of a
    # pattern-initial group has no left boundary for the first
    # repetition (the window-bounded edge treatment can't be made
    # branch-conditional): rejected with a pointed error
    with pytest.raises(ValueError, match="no left boundary"):
        compile_pattern(Pattern(
            Seq(Kleene(Seq(Or_(Seq(Neg(Ev("n", role="user")),
                                   Ev("w", role="assistant"),
                                   Ev("x", role="tool")),
                               Ev("y", role="assistant")),
                           Ev("u", role="user"))),
                Ev("t", role="user")),
            window=timedelta(minutes=5),
        ))


def test_or_in_group_bounded_cap_counts_repetitions():
    """Under the forced group lowering the bounded cap counts
    REPETITIONS (sum of position-0 binds), not any one branch's tuple
    length — 3 repetitions must be rejected at max_len=2 even when the
    branches split 2/1."""
    pat = Pattern(
        Seq(Kleene(Seq(Or_(Ev("a", role="user"), Ev("b", role="tool")),
                       Ev("w", role="assistant")), max_len=2),
            Ev("t", role="user")),
        window=timedelta(minutes=10),
    )
    cp = compile_pattern(pat, composite="group")
    ts0 = pd.Timestamp("2026-01-01")
    roles = ["user", "assistant", "tool", "assistant", "user",
             "assistant", "user"]
    g = pd.DataFrame({
        "conv_id": "c0", "turn_idx": np.arange(7, dtype=np.int32),
        "role": roles, "tool": "x",
        "ts": ts0 + pd.to_timedelta(np.arange(7) * 5, unit="s"),
        "value": np.arange(7.0),
    })
    res = match_group_nfa(cp, g)
    max_reps = max(
        len(b.get("a", ())) + len(b.get("b", ())) for _, b in res
    )
    assert max_reps == 2  # the 3-repetition extension was capped
    # and the chain expansion agrees on the full match set
    cp_chain = compile_pattern(pat)
    folded = []
    for _, b in match_group_nfa(cp_chain, g):
        fb = {"t": (b["t"],)}
        for base in ("a", "b", "w"):
            el = tuple(b[f"{base}__{j}"] for j in (1, 2)
                       if f"{base}__{j}" in b)
            if el:
                fb[base] = el
        folded.append((0, tuple(sorted(fb.items()))))
    assert _canon_nfa(res) == sorted(set(folded))


def test_bounded_bare_or_group_equals_chain_expansion():
    """Kleene over a bare Or_ under the forced group lowering must match
    the default chain expansion (whose Or_ products define the
    semantics), including the repetition cap at loop-back entry."""
    pat = Pattern(
        Seq(Kleene(Or_(Ev("b", role="user"), Ev("c", role="tool")),
                   max_len=2),
            Ev("t", role="assistant")),
        window=timedelta(minutes=5),
    )
    cp_group = compile_pattern(pat, composite="group")
    cp_chain = compile_pattern(pat)
    rng = np.random.default_rng(45)
    nonzero = mixed = 0
    for trial in range(80):
        g = _gen_group(trial * 23 + 9, int(rng.integers(2, 10)))
        gs = g.sort_values(["ts", "turn_idx"]).reset_index(drop=True)
        grp = _canon_nfa(match_group_nfa(cp_group, gs))
        folded = []
        for _, b in match_group_nfa(cp_chain, gs):
            fb = {"t": (b["t"],)}
            for base in ("b", "c"):
                el = tuple(b[f"{base}__{j}"] for j in (1, 2)
                           if f"{base}__{j}" in b)
                if el:
                    fb[base] = el
            folded.append((0, tuple(sorted(fb.items()))))
            mixed += ("b" in fb) and ("c" in fb)
        assert grp == sorted(set(folded)), f"trial {trial}\n{g}"
        nonzero += bool(grp)
    assert nonzero > 0 and mixed > 0


BARE_OR_PATTERNS = {
    # Kleene over a BARE Or_ (round 5): one-or-more events, each either
    # branch — a single-position group (repetition completes at entry).
    # Separate corpus with SMALLER groups: the replica bounds this
    # closure at n // 1 repetitions, so its chain expansion is
    # exponential in n (2^r branch products) — n <= 7 keeps it honest
    # yet fast.
    "kleene_bare_or": Pattern(
        Seq(Kleene(Or_(Ev("b", role="user"), Ev("c", role="tool"))),
            Ev("t", role="assistant")),
        window=timedelta(minutes=5),
    ),
    "kleene_bare_or_cond": Pattern(
        Seq(Kleene(Or_(Ev("b", role="user"), Ev("c", role="tool"))),
            Ev("t", role="assistant")),
        where=attr("b", "value") < attr("t", "value"),
        window=timedelta(minutes=5),
    ),
    "kleene_bare_or_gapneg": Pattern(
        Seq(Kleene(Or_(Ev("b", role="user"), Ev("c", role="tool"))),
            Neg(Ev("n", role="user")), Ev("t", role="assistant")),
        window=timedelta(minutes=5),
    ),
}


@pytest.mark.parametrize("name", sorted(BARE_OR_PATTERNS))
def test_kleene_bare_or_vs_replica(name):
    pat = BARE_OR_PATTERNS[name]
    cp = compile_pattern(pat)
    rng = np.random.default_rng(0xBA2E02)
    nonzero = 0
    for trial in range(40):
        g = _gen_group(trial * 29 + 3, int(rng.integers(2, 8)))
        gs = g.sort_values(["ts", "turn_idx"]).reset_index(drop=True)
        m = _canon_nfa(match_group_nfa(cp, gs))
        o = _canon_rep(match_group(pat, g.copy()))
        assert m == o, f"{name} trial {trial}\nnfa={m}\nrep={o}\n{g}"
        nonzero += bool(m)
    assert nonzero > 0


# ---------------------------------------------------------------------------
# round 5, session 2: BOUNDED leaf Kleene nested inside an unbounded
# group repetition — pre-expanded to Or_ branch chains (b__r_j) by
# compiler._expand_nested_bounded.


def _flat(px):
    return tuple(sorted(px)) if isinstance(px, tuple) else (px,)


def _canon_nested_group(res):
    """Group-lowering binding -> (u events, all nested-b events, t).
    The nested chains decompose b differently per lowering, so parity
    compares the flattened per-variable event sets."""
    out = set()
    for _a, b in res:
        u = _flat(b["u"])
        bb = tuple(sorted(p for v in b if v.startswith("b__")
                          for p in _flat(b[v])))
        out.add((u, bb, _flat(b["t"])))
    return out


def _canon_nested_chain(res, R):
    out = set()
    for _a, b in res:
        u = tuple(sorted(p for j in range(1, R + 1)
                         if f"u__{j}" in b for p in _flat(b[f"u__{j}"])))
        bb = tuple(sorted(p for v in b if v.startswith("b__")
                          for p in _flat(b[v])))
        out.add((u, bb, _flat(b["t"])))
    return out


def _nested_pat(outer_max, where=None, adjacent=None):
    inner = Kleene(Ev("b", role="assistant"), max_len=2, adjacent=adjacent)
    kw = {} if where is None else {"where": where}
    return Pattern(
        Seq(Kleene(Seq(Ev("u", role="user"), inner), max_len=outer_max),
            Ev("t", role="tool")),
        window=timedelta(minutes=5), **kw,
    )


@pytest.mark.parametrize("variant", ["plain", "where", "adjacent"])
def test_nested_bounded_kleene_group_equals_chain(variant):
    """Bounded outer: the forced group lowering (nested Kleene ->
    branch chains) must match the default chain expansion (nested
    Kleene stays a per-repetition leaf-Kleene slot) on flattened
    per-variable event sets."""
    where = adjacent = None
    if variant == "where":
        where = (attr("b", "value") > 20.0) & (
            attr("b", "value") < attr("t", "value"))
    elif variant == "adjacent":
        adjacent = attr("b", "value") > attr("b__prev", "value")
    pat = _nested_pat(2, where=where, adjacent=adjacent)
    cp_group = compile_pattern(pat, composite="group")
    cp_chain = compile_pattern(pat)
    rng = np.random.default_rng(0x5E57ED)
    nonzero = 0
    for trial in range(60):
        g = _gen_group(trial * 19 + 3, int(rng.integers(3, 11)))
        gs = g.sort_values(["ts", "turn_idx"]).reset_index(drop=True)
        mg = _canon_nested_group(match_group_nfa(cp_group, gs))
        mc = _canon_nested_chain(match_group_nfa(cp_chain, gs), 2)
        assert mg == mc, f"{variant} trial {trial}\n{g}"
        nonzero += bool(mg)
    assert nonzero > 0


def test_nested_bounded_kleene_in_unbounded_group():
    """UNBOUNDED outer with a nested bounded Kleene: matches must equal
    the chain expansion of the same pattern bounded at n repetitions
    (which cannot exclude any match in an n-event group)."""
    pat_unb = _nested_pat(None)
    cp_unb = compile_pattern(pat_unb)
    # the pre-expansion names the nested chains b__r_j as branch slots
    slots = cp_unb.alternatives[0].slots
    assert sorted(s.var for s in slots if s.var.startswith("b__")) == [
        "b__1_1", "b__2_1", "b__2_2"]
    assert {s.br_len for s in slots if s.var.startswith("b__2")} == {2}
    rng = np.random.default_rng(0x0E57)
    nonzero = 0
    for trial in range(40):
        g = _gen_group(trial * 13 + 5, int(rng.integers(3, 10)))
        gs = g.sort_values(["ts", "turn_idx"]).reset_index(drop=True)
        n = len(gs)
        cp_bn = compile_pattern(_nested_pat(max(1, n)))
        mu = _canon_nested_group(match_group_nfa(cp_unb, gs))
        mc = _canon_nested_chain(match_group_nfa(cp_bn, gs), max(1, n))
        assert mu == mc, f"trial {trial}\n{g}"
        nonzero += bool(mu)
    assert nonzero > 0


def test_nested_unbounded_kleene_now_compiles():
    """Session 16 lifted the rejection: an unbounded nested LEAF Kleene
    is a looping position, and session 18 extended it to COMPOSITE
    (Seq-of-leaves) units (tests/test_group_loop.py pins both
    semantics); a composite-of-composite inner still rejects."""
    cp = compile_pattern(_nested_pat(None).__class__(
        Seq(Kleene(Seq(Ev("u", role="user"),
                       Kleene(Ev("b", role="assistant")))),
            Ev("t", role="tool")),
        window=timedelta(minutes=5),
    ))
    assert any(s.grp_loop for s in cp.alternatives[0].slots)
    cp2 = compile_pattern(_nested_pat(None).__class__(
        Seq(Kleene(Seq(Ev("u", role="user"),
                       Kleene(Seq(Ev("b", role="assistant"),
                                  Ev("c", role="tool"))))),
            Ev("t", role="tool")),
        window=timedelta(minutes=5),
    ))
    assert sum(s.grp_loop for s in cp2.alternatives[0].slots) == 2
    with pytest.raises(ValueError, match="Seq of plain event leaves"):
        compile_pattern(_nested_pat(None).__class__(
            Seq(Kleene(Seq(Ev("u", role="user"),
                           Kleene(Seq(Ev("b", role="assistant"),
                                      Kleene(Seq(Ev("c", role="tool"),
                                                 Ev("d", role="user"))))))),
                Ev("t", role="tool")),
            window=timedelta(minutes=5),
        ))


# --------------------------------------------------------------------------
# session 4: Neg strictly BETWEEN two leaves of a Seq BRANCH


NEG_IN_BRANCH_PATTERNS = {
    # bare Or_ inner: the branch goes MID across its own guarded gap
    "br_neg_bare_or": Pattern(
        Seq(Kleene(Or_(Seq(Ev("w", role="assistant"),
                           Neg(Ev("n", role="user")),
                           Ev("x", role="tool")),
                       Ev("y", role="tool"))),
            Ev("t", role="user")),
        window=timedelta(minutes=5),
    ),
    # 3-event branch, Neg between the 2nd and 3rd leaf
    "br_neg_3ev": Pattern(
        Seq(Kleene(Seq(Ev("u", role="user"),
                       Or_(Seq(Ev("w", role="assistant"), Ev("x", role="tool"),
                               Neg(Ev("n", role="user")),
                               Ev("z", role="assistant")),
                           Ev("y", role="tool")))),
            Ev("t", role="user")),
        window=timedelta(minutes=5),
    ),
    # LEADING Neg inside a branch: guards the gap INTO the branch
    # (previous position's event) in exactly the repetitions choosing it
    "br_lead_neg": Pattern(
        Seq(Kleene(Seq(Ev("u", role="user"),
                       Or_(Seq(Neg(Ev("n", role="user")),
                               Ev("w", role="assistant"), Ev("x", role="tool")),
                           Ev("y", role="assistant")))),
            Ev("t", role="user")),
        window=timedelta(minutes=5),
    ),
    # ... at position 0 WITH an anchor (gap = anchor -> w for rep 1,
    # previous repetition's last event -> w at loop-backs)
    "br_lead_neg_pos0": Pattern(
        Seq(Ev("a", role="tool"),
            Kleene(Seq(Or_(Seq(Neg(Ev("n", role="user")),
                               Ev("w", role="assistant"), Ev("x", role="tool")),
                           Ev("y", role="assistant")),
                       Ev("u", role="user")))),
        window=timedelta(minutes=5),
    ),
    # leading AND interior Neg in the same branch
    "br_lead_mid_neg": Pattern(
        Seq(Kleene(Seq(Ev("u", role="user"),
                       Or_(Seq(Neg(Ev("n", role="user")),
                               Ev("w", role="assistant"),
                               Neg(Ev("m", role="tool")),
                               Ev("x", role="tool")),
                           Ev("y", role="assistant")))),
            Ev("t", role="user")),
        window=timedelta(minutes=5),
    ),
    # position-level gap Neg (guards EITHER branch's entry) + a
    # branch-leading Neg (guards only branch 1's entry) on the SAME
    # physical gap — both enforced at branch 1's entry bind, matching
    # the chain expansion where both negs guard the gap
    "br_lead_neg_plus_pos_neg": Pattern(
        Seq(Kleene(Seq(Ev("u", role="user"),
                       Neg(Ev("n", role="user")),
                       Or_(Seq(Neg(Ev("m", role="tool")),
                               Ev("w", role="assistant"), Ev("x", role="tool")),
                           Ev("y", role="assistant")))),
            Ev("t", role="user")),
        window=timedelta(minutes=5),
    ),
    # neg condition referencing a NON-group scalar var (the anchor):
    # evaluable at the gap-closing bind
    "br_neg_cond": Pattern(
        Seq(Ev("a", role="tool"),
            Kleene(Seq(Ev("u", role="user"),
                       Or_(Seq(Ev("w", role="assistant"),
                               Neg(Ev("n", where=(attr("n", "role") == lit("user"))
                                   & (attr("n", "value") > attr("a", "value")))),
                               Ev("x", role="tool")),
                           Ev("y", role="assistant"))))),
        window=timedelta(minutes=5),
    ),
}


@pytest.mark.parametrize("name", sorted(NEG_IN_BRANCH_PATTERNS))
def test_neg_in_seq_branch_vs_replica(name):
    """The within-branch gap must be neg-free in exactly the repetitions
    that chose the branch (smaller groups: the replica's bounded chain
    expansion of these shapes is combinatorial)."""
    pat = NEG_IN_BRANCH_PATTERNS[name]
    cp = compile_pattern(pat)
    rng = np.random.default_rng(0xB4A9C4)
    nonzero = 0
    for trial in range(30):
        g = _gen_group(trial * 11 + 9, int(rng.integers(2, 9)))
        gs = g.sort_values(["ts", "turn_idx"]).reset_index(drop=True)
        m = _canon_nfa(match_group_nfa(cp, gs))
        o = _canon_rep(match_group(pat, g.copy()))
        assert m == o, f"{name} trial {trial}\nnfa={m}\nrep={o}\n{g}"
        nonzero += bool(m)
    assert nonzero > 0


def test_bounded_neg_in_seq_branch_equals_chain_expansion():
    """Bounded: the forced group lowering of a branch-interior Neg must
    match the default chain expansion (whose per-alternative gap negs
    define the semantics), including repetitions that mix branches."""
    pat = Pattern(
        Seq(Kleene(Seq(Ev("u", role="user"),
                       Or_(Seq(Ev("w", role="assistant"),
                               Neg(Ev("n", role="user")),
                               Ev("x", role="tool")),
                           Ev("y", role="assistant"))), max_len=2),
            Ev("t", role="user")),
        window=timedelta(minutes=5),
    )
    cp_group = compile_pattern(pat, composite="group")
    cp_chain = compile_pattern(pat)
    rng = np.random.default_rng(0xB4A9C5)
    nonzero = mixed = 0
    for trial in range(80):
        g = _gen_group(trial * 23 + 11, int(rng.integers(3, 12)))
        gs = g.sort_values(["ts", "turn_idx"]).reset_index(drop=True)
        grp = _canon_nfa(match_group_nfa(cp_group, gs))
        folded = []
        for _, b in match_group_nfa(cp_chain, gs):
            fb = {"t": (b["t"],)}
            for base in ("u", "w", "x", "y"):
                el = tuple(b[f"{base}__{j}"] for j in (1, 2)
                           if f"{base}__{j}" in b)
                if el:
                    fb[base] = el
            folded.append((0, tuple(sorted(fb.items()))))
            mixed += ("w" in fb) and ("y" in fb)
        assert grp == sorted(set(folded)), f"trial {trial}\n{g}"
        nonzero += bool(grp)
    assert nonzero > 0 and mixed > 0  # mixed-branch repetitions exercised


def test_bounded_lead_neg_in_seq_branch_equals_chain_expansion():
    """Bounded: a LEADING branch Neg under the forced group lowering
    must match the chain expansion (gap from the previous position's
    event INTO the branch, only in repetitions that chose it)."""
    pat = Pattern(
        Seq(Kleene(Seq(Ev("u", role="user"),
                       Or_(Seq(Neg(Ev("n", role="user")),
                               Ev("w", role="assistant"),
                               Ev("x", role="tool")),
                           Ev("y", role="assistant"))), max_len=2),
            Ev("t", role="user")),
        window=timedelta(minutes=5),
    )
    cp_group = compile_pattern(pat, composite="group")
    cp_chain = compile_pattern(pat)
    rng = np.random.default_rng(0xB4A9C6)
    nonzero = 0
    for trial in range(80):
        g = _gen_group(trial * 29 + 13, int(rng.integers(3, 12)))
        gs = g.sort_values(["ts", "turn_idx"]).reset_index(drop=True)
        grp = _canon_nfa(match_group_nfa(cp_group, gs))
        folded = []
        for _, b in match_group_nfa(cp_chain, gs):
            fb = {"t": (b["t"],)}
            for base in ("u", "w", "x", "y"):
                el = tuple(b[f"{base}__{j}"] for j in (1, 2)
                           if f"{base}__{j}" in b)
                if el:
                    fb[base] = el
            folded.append((0, tuple(sorted(fb.items()))))
        assert grp == sorted(set(folded)), f"trial {trial}\n{g}"
        nonzero += bool(grp)
    assert nonzero > 0


# --------------------------------------------------------------------------
# session 5: Neg TRAILING a Seq branch (gap OUT of the branch, gated by
# NegSpec.br_guard — applies in exactly the repetitions that chose it)


TRAIL_NEG_IN_BRANCH_PATTERNS = {
    # Or_ position NOT last: the gap closes at the next position's bind
    "br_trail_nonlast": Pattern(
        Seq(Kleene(Seq(Or_(Seq(Ev("w", role="assistant"),
                               Neg(Ev("n", role="user"))),
                           Ev("y", role="tool")),
                       Ev("u", role="user"))),
            Ev("t", role="assistant")),
        window=timedelta(minutes=5),
    ),
    # Or_ position LAST: loop-back gap between repetitions + the final
    # repetition's gap bubbles to the following part
    "br_trail_last": Pattern(
        Seq(Kleene(Seq(Ev("u", role="user"),
                       Or_(Seq(Ev("w", role="assistant"),
                               Neg(Ev("n", role="tool"))),
                           Ev("y", role="tool")))),
            Ev("t", role="user")),
        window=timedelta(minutes=5),
    ),
    # group ENDS the pattern: the final repetition's gap becomes a
    # window-bounded trailing edge check, still branch-gated
    "br_trail_end": Pattern(
        Seq(Ev("s", role="tool"),
            Kleene(Seq(Ev("u", role="user"),
                       Or_(Seq(Ev("w", role="assistant"),
                               Neg(Ev("n", role="tool"))),
                           Ev("y", role="tool"))))),
        window=timedelta(minutes=5),
    ),
    # bare Or_ inner (single-position group): post slots ARE the
    # position's entry slots — the branch's own last element is the
    # gap's left boundary
    "br_trail_bare_or": Pattern(
        Seq(Ev("s", role="user"),
            Kleene(Or_(Seq(Ev("w", role="assistant"),
                           Neg(Ev("n", role="user"))),
                       Ev("y", role="user"))),
            Ev("t", role="tool")),
        window=timedelta(minutes=5),
    ),
    # 3-event branch with leading AND trailing Negs in the same branch
    "br_lead_trail": Pattern(
        Seq(Kleene(Seq(Ev("u", role="user"),
                       Or_(Seq(Neg(Ev("m", role="user")),
                               Ev("w", role="assistant"),
                               Neg(Ev("n", role="tool"))),
                           Ev("y", role="tool")))),
            Ev("t", role="user")),
        window=timedelta(minutes=5),
    ),
    # trailing br Neg + an unconditional between-positions Neg guarding
    # the SAME physical gap (one branch-gated, one not — both attach at
    # the next position's entry binds)
    "br_trail_plus_pos_neg": Pattern(
        Seq(Ev("s", role="user"),
            Kleene(Seq(Or_(Seq(Ev("w", role="assistant"),
                               Neg(Ev("x", role="tool"))),
                           Ev("c", role="user")),
                       Neg(Ev("z", role="assistant")),
                       Ev("d", role="tool"))),
            Ev("t", role="assistant")),
        window=timedelta(minutes=5),
    ),
    # trailing-neg condition referencing a NON-group scalar var
    "br_trail_cond": Pattern(
        Seq(Ev("a", role="tool"),
            Kleene(Seq(Ev("u", role="user"),
                       Or_(Seq(Ev("w", role="assistant"),
                               Neg(Ev("n", where=(attr("n", "role") == lit("tool"))
                                   & (attr("n", "value") > attr("a", "value"))))),
                           Ev("y", role="tool")))),
            Ev("t", role="user")),
        window=timedelta(minutes=5),
    ),
}


@pytest.mark.parametrize("name", sorted(TRAIL_NEG_IN_BRANCH_PATTERNS))
def test_trail_neg_in_seq_branch_vs_replica(name):
    """The gap OUT of a branch must be neg-free in exactly the
    repetitions that chose the branch (replica = bounded chain
    expansion, the semantics source of truth)."""
    pat = TRAIL_NEG_IN_BRANCH_PATTERNS[name]
    cp = compile_pattern(pat)
    rng = np.random.default_rng(0xB5A9C4)
    nonzero = 0
    for trial in range(30):
        g = _gen_group(trial * 17 + 3, int(rng.integers(2, 9)))
        gs = g.sort_values(["ts", "turn_idx"]).reset_index(drop=True)
        m = _canon_nfa(match_group_nfa(cp, gs))
        o = _canon_rep(match_group(pat, g.copy()))
        assert m == o, f"{name} trial {trial}\nnfa={m}\nrep={o}\n{g}"
        nonzero += bool(m)
    assert nonzero > 0


@pytest.mark.parametrize("variant", ["nonlast", "last"])
def test_bounded_trail_neg_in_seq_branch_equals_chain_expansion(variant):
    """Bounded: the forced group lowering of a branch-TRAILING Neg must
    match the default chain expansion, including repetitions that mix
    branches (the chain's per-instance specs are the semantics the
    dynamic br_guard reproduces)."""
    if variant == "nonlast":
        pat = Pattern(
            Seq(Kleene(Seq(Or_(Seq(Ev("w", role="assistant"),
                                   Neg(Ev("n", role="user"))),
                               Ev("y", role="tool")),
                           Ev("u", role="user")), max_len=2),
                Ev("t", role="assistant")),
            window=timedelta(minutes=5),
        )
    else:
        pat = Pattern(
            Seq(Kleene(Seq(Ev("u", role="user"),
                           Or_(Seq(Ev("w", role="assistant"),
                                   Neg(Ev("n", role="tool"))),
                               Ev("y", role="tool"))), max_len=2),
                Ev("t", role="user")),
            window=timedelta(minutes=5),
        )
    cp_group = compile_pattern(pat, composite="group")
    cp_chain = compile_pattern(pat)
    rng = np.random.default_rng(0xB5A9C5)
    nonzero = mixed = 0
    for trial in range(80):
        g = _gen_group(trial * 31 + 7, int(rng.integers(3, 12)))
        gs = g.sort_values(["ts", "turn_idx"]).reset_index(drop=True)
        grp = _canon_nfa(match_group_nfa(cp_group, gs))
        folded = []
        for _, b in match_group_nfa(cp_chain, gs):
            fb = {"t": (b["t"],)}
            for base in ("u", "w", "y"):
                el = tuple(b[f"{base}__{j}"] for j in (1, 2)
                           if f"{base}__{j}" in b)
                if el:
                    fb[base] = el
            folded.append((0, tuple(sorted(fb.items()))))
            mixed += ("w" in fb) and ("y" in fb)
        assert grp == sorted(set(folded)), f"{variant} trial {trial}\n{g}"
        nonzero += bool(grp)
    assert nonzero > 0 and mixed > 0  # mixed-branch repetitions exercised


def test_trail_neg_in_branch_discriminates():
    """Deterministic pin of the branch gate itself: a neg event in the
    gap kills the match when the repetition CHOSE the guarded branch,
    and is ignored when the repetition chose the sibling — an
    implementation that applies the spec unconditionally (no guard) or
    never (dead guard) fails one of the two fixtures."""
    pat = Pattern(
        Seq(Kleene(Seq(Ev("u", role="user"),
                       Or_(Seq(Ev("w", role="assistant"),
                               Neg(Ev("n", role="tool"))),
                           Ev("y", role="sys")))),
            Ev("t", role="user")),
        window=timedelta(minutes=5),
    )
    cp = compile_pattern(pat)
    ts0 = pd.Timestamp("2026-01-01")

    def frame(roles):
        return pd.DataFrame({
            "conv_id": "c0",
            "turn_idx": np.arange(len(roles), dtype=np.int32),
            "role": roles,
            "tool": "python",
            "ts": ts0 + pd.to_timedelta(np.arange(len(roles)), unit="s"),
            "value": 1.0,
        })

    # repetition chose branch w; a tool event sits in the gap w -> t
    chosen = frame(["user", "assistant", "tool", "user"])
    assert match_group_nfa(cp, chosen) == []
    # same shape without the offending tool event: matches
    clean = frame(["user", "assistant", "user"])
    assert len(match_group_nfa(cp, clean)) == 1
    # repetition chose the SIBLING branch y: the same tool event in the
    # same physical gap must NOT kill the match
    sibling = frame(["user", "sys", "tool", "user"])
    ms = match_group_nfa(cp, sibling)
    assert len(ms) == 1 and ms[0][1]["y"] == (1,)
    # two repetitions, one per branch: the tool event after the
    # w-repetition kills every match that BINDS w (matches skipping the
    # assistant event entirely are unaffected); after the y-repetition
    # a mixed w+y match survives
    two_bad = frame(["user", "assistant", "tool", "user", "sys", "user"])
    assert all("w" not in b for _, b in match_group_nfa(cp, two_bad))
    two_ok = frame(["user", "sys", "tool", "user", "assistant", "user"])
    # (u y) rep with tool inside its gap -> fine (sibling branch); the
    # (u w) rep is clean -> the mixed-branch match survives
    assert any("w" in b and "y" in b
               for _, b in match_group_nfa(cp, two_ok))


# --------------------------------------------------------------------------
# session 6: And_ at one POSITION of a Seq repetition (conjunctive
# sub-slots — every repetition binds every member, in any arrival order)


def test_bounded_and_pos_group_equals_chain_expansion():
    """The bounded chain expansion (which compiles And_-in-Seq
    repetitions natively via prereq sets) is the source of truth: the
    forced group lowering must reproduce its match set exactly,
    including multi-repetition interleavings and both within-position
    arrival orders."""
    pat = Pattern(
        Seq(Kleene(Seq(Ev("u", role="user"),
                       And_(Ev("w", role="assistant"), Ev("x", role="tool"))),
                   max_len=2),
            Ev("t", role="user")),
        window=timedelta(minutes=8),
    )
    cp_group = compile_pattern(pat, composite="group")
    cp_chain = compile_pattern(pat)

    def fold(res):
        folded = []
        for _, b in res:
            fb = {"t": (b["t"],)}
            for base in ("u", "w", "x"):
                el = tuple(b[f"{base}__{j}"] for j in (1, 2)
                           if f"{base}__{j}" in b)
                if el:
                    fb[base] = el
            folded.append((0, tuple(sorted(fb.items()))))
        return sorted(set(folded))

    # deterministic two-repetition fixture with the second position's
    # members arriving in BOTH orders (w x in rep 1, x w in rep 2)
    ts0 = pd.Timestamp("2026-01-01")
    roles = ["user", "assistant", "tool", "user", "tool", "assistant",
             "user"]
    g = pd.DataFrame({
        "conv_id": "c0", "turn_idx": np.arange(len(roles), dtype=np.int32),
        "role": roles, "tool": "python",
        "ts": ts0 + pd.to_timedelta(np.arange(len(roles)) * 5, unit="s"),
        "value": np.arange(float(len(roles))),
    })
    grp = _canon_nfa(match_group_nfa(cp_group, g))
    assert grp == fold(match_group_nfa(cp_chain, g))
    # the two-repetition mixed-order match is present
    assert any(len(dict(t)["u"]) == 2 for _, t in grp)

    rng = np.random.default_rng(46)
    nonzero = multirep = 0
    for trial in range(80):
        gg = _gen_group(trial * 23 + 9, int(rng.integers(3, 13)))
        gs = gg.sort_values(["ts", "turn_idx"]).reset_index(drop=True)
        got = _canon_nfa(match_group_nfa(cp_group, gs))
        assert got == fold(match_group_nfa(cp_chain, gs)), f"trial {trial}\n{gg}"
        nonzero += bool(got)
        multirep += any(len(dict(t)["u"]) > 1 for _, t in got)
    assert nonzero > 0 and multirep > 0


def test_and_pos_interleaving_fixture():
    """Hand-computed pins of the conjunctive-position mechanics: the
    next position may not bind while the And_ is in progress, members
    bind in either order, and each member binds exactly once per
    repetition."""
    pat = Pattern(
        Seq(Kleene(Seq(Ev("u", role="user"),
                       And_(Ev("w", role="assistant"), Ev("x", role="tool")))),
            Ev("t", role="user")),
        window=timedelta(minutes=8),
    )
    cp = compile_pattern(pat)
    ts0 = pd.Timestamp("2026-01-01")

    def frame(roles):
        return pd.DataFrame({
            "conv_id": "c0",
            "turn_idx": np.arange(len(roles), dtype=np.int32),
            "role": roles,
            "tool": "python",
            "ts": ts0 + pd.to_timedelta(np.arange(len(roles)) * 5, unit="s"),
            "value": 1.0,
        })

    # both member orders complete the repetition
    for roles in (["user", "assistant", "tool", "user"],
                  ["user", "tool", "assistant", "user"]):
        ms = match_group_nfa(cp, frame(roles))
        assert any(b["u"] == (0,) and b["w"] != () and b["x"] != ()
                   for _, b in ms), roles

    # the final 't' may NOT bind while the position is mid (w bound,
    # x missing): no match binds u without both members
    ms = match_group_nfa(cp, frame(["user", "assistant", "user"]))
    assert all(len(b["u"]) == len(b["w"]) == len(b["x"]) for _, b in ms)
    assert not any(len(b["u"]) == 1 and b["w"] == (1,) for _, b in ms
                   if len(b["x"]) == 0)

    # a second repetition's u may not start before rep 1's members
    # finish: u(0) w(1) u(2) x(3) ... the 2-rep reading is illegal
    ms = match_group_nfa(
        cp, frame(["user", "assistant", "user", "tool", "assistant",
                   "tool", "user"]))
    for _, b in ms:
        if len(b["u"]) == 2:
            # strict position interleaving: max(w1,x1) < u2
            w1, x1 = b["w"][0], b["x"][0]
            assert max(w1, x1) < b["u"][1]


def test_and_pos_bounded_cap_counts_repetitions():
    """Under the forced group lowering the bounded cap counts
    repetitions via member 0 of a conjunctive position ONLY — counting
    every member would halve the allowed repetitions."""
    pat = Pattern(
        Seq(Kleene(Seq(And_(Ev("a", role="user"), Ev("b", role="assistant")),
                       Ev("w", role="tool")), max_len=2),
            Ev("t", role="user")),
        window=timedelta(minutes=10),
    )
    cp = compile_pattern(pat, composite="group")
    ts0 = pd.Timestamp("2026-01-01")
    roles = ["user", "assistant", "tool",
             "assistant", "user", "tool",
             "user", "assistant", "tool", "user"]
    g = pd.DataFrame({
        "conv_id": "c0", "turn_idx": np.arange(len(roles), dtype=np.int32),
        "role": roles, "tool": "x",
        "ts": ts0 + pd.to_timedelta(np.arange(len(roles)) * 5, unit="s"),
        "value": np.arange(float(len(roles))),
    })
    res = match_group_nfa(cp, g)
    assert res, "fixture must match"
    # two full repetitions ARE allowed (cap counts repetitions, not
    # member binds) ...
    assert any(len(b["a"]) == 2 for _, b in res)
    # ... and a third is not
    assert all(len(b["a"]) <= 2 for _, b in res)
    # chain expansion agrees on the full match set
    cp_chain = compile_pattern(pat)
    folded = []
    for _, b in match_group_nfa(cp_chain, g):
        fb = {"t": (b["t"],)}
        for base in ("a", "b", "w"):
            el = tuple(b[f"{base}__{j}"] for j in (1, 2)
                       if f"{base}__{j}" in b)
            if el:
                fb[base] = el
        folded.append((0, tuple(sorted(fb.items()))))
    assert _canon_nfa(res) == sorted(set(folded))


def test_and_pos_rejects():
    """Guard rails: bare Negs and nested Kleenes inside the And_
    position reject loudly (an Or_ member is supported since session 9
    — but Or_ nested inside ITS branches rejects), and a conjunct
    pairing an Or_-branch var with an And_-position member of the same
    group is still an undefined alignment."""
    import pytest

    W = timedelta(minutes=5)
    # Neg inside the And_ position: no defined gap in an unordered bind
    with pytest.raises(ValueError, match="And_ of leaf"):
        compile_pattern(Pattern(
            Seq(Kleene(Seq(Ev("u", role="user"),
                           And_(Ev("w", role="assistant"),
                                Neg(Ev("n", role="tool")),
                                Ev("x", role="tool")))),
                Ev("t", role="user")),
            window=W,
        ))
    # BOUNDED Kleene nested inside the And_ position: SUPPORTED since
    # session 10 (pre-expands to Or_-member chain units) — compiles;
    # an UNBOUNDED nested Kleene still rejects
    compile_pattern(Pattern(
        Seq(Kleene(Seq(Ev("u", role="user"),
                       And_(Ev("w", role="assistant"),
                            Kleene(Ev("k", role="tool"), max_len=2)))),
            Ev("t", role="user")),
        window=W,
    ))
    with pytest.raises(ValueError, match="And_ of leaf"):
        compile_pattern(Pattern(
            Seq(Kleene(Seq(Ev("u", role="user"),
                           And_(Ev("w", role="assistant"),
                                Kleene(Ev("k", role="tool"))))),
                Ev("t", role="user")),
            window=W,
        ))
    # Or_ nested inside the And_ position: SUPPORTED since session 9
    # (branch units) — compiles; an Or_ DIRECTLY under the member Or_
    # now FLATTENS (session 11 — associativity) and compiles too; an
    # Or_ inside a SEQ branch of the member DISTRIBUTES (session 12)
    compile_pattern(Pattern(
        Seq(Kleene(Seq(Ev("u", role="user"),
                       And_(Ev("w", role="assistant"),
                            Or_(Ev("x", role="tool"),
                                Ev("y", role="user"))))),
            Ev("t", role="user")),
        window=W,
    ))
    compile_pattern(Pattern(
        Seq(Kleene(Seq(Ev("u", role="user"),
                       And_(Ev("w", role="assistant"),
                            Or_(Or_(Ev("x", role="tool"),
                                    Ev("z", role="sys")),
                                Ev("y", role="user"))))),
            Ev("t", role="user")),
        window=W,
    ))
    cp12 = compile_pattern(Pattern(
        Seq(Kleene(Seq(Ev("u", role="user"),
                       And_(Ev("w", role="assistant"),
                            Or_(Seq(Ev("x", role="tool"),
                                    Or_(Ev("z", role="sys"),
                                        Ev("q", role="user"))),
                                Ev("y", role="user"))))),
            Ev("t", role="user")),
        window=W,
    ))
    assert [s.var for s in cp12.alternatives[0].slots
            if s.grp_idx == 1 and s.mem == 1] == [
        "x__d1", "z__d1", "x__d2", "q__d2", "y"]
    # branch var x same-group pairing with And_ member w: the branch
    # binds only in repetitions that chose it — alignment undefined
    with pytest.raises(ValueError, match="same-group"):
        compile_pattern(Pattern(
            Seq(Kleene(Seq(Or_(Ev("a", role="user"), Ev("b", role="sys")),
                           And_(Ev("w", role="assistant"),
                                Ev("x", role="tool")))),
                Ev("t", role="user")),
            where=attr("a", "value") > attr("w", "value"),
            window=W,
        ))


def test_bounded_and_pos_seq_member_equals_chain_expansion():
    """Session 7: a Seq-of-leaves MEMBER inside a conjunctive (And_)
    position — its events bind in order, interleaving freely with the
    sibling members, all strictly between the neighbouring positions.
    The bounded chain expansion (And_-of-Seqs compiles natively via
    prereq sets) is the source of truth."""
    pat = Pattern(
        Seq(Kleene(Seq(Ev("u", role="user"),
                       And_(Seq(Ev("w", role="assistant"),
                                Ev("v", role="assistant")),
                            Ev("x", role="tool"))),
                   max_len=2),
            Ev("t", role="user")),
        window=timedelta(minutes=8),
    )
    cp_group = compile_pattern(pat, composite="group")
    cp_chain = compile_pattern(pat)

    def fold(res):
        folded = []
        for _, b in res:
            fb = {"t": (b["t"],)}
            for base in ("u", "w", "v", "x"):
                el = tuple(b[f"{base}__{j}"] for j in (1, 2)
                           if f"{base}__{j}" in b)
                if el:
                    fb[base] = el
            folded.append((0, tuple(sorted(fb.items()))))
        return sorted(set(folded))

    # deterministic fixture: rep 1 interleaves the leaf member INSIDE
    # the Seq member's gap (w x v), rep 2 binds it after (w v x)
    ts0 = pd.Timestamp("2026-01-01")
    roles = ["user", "assistant", "tool", "assistant",       # u1 w1 x1 v1
             "user", "assistant", "assistant", "tool",       # u2 w2 v2 x2
             "user"]                                         # t
    g = pd.DataFrame({
        "conv_id": "c0", "turn_idx": np.arange(len(roles), dtype=np.int32),
        "role": roles, "tool": "python",
        "ts": ts0 + pd.to_timedelta(np.arange(len(roles)) * 5, unit="s"),
        "value": np.arange(float(len(roles))),
    })
    grp = _canon_nfa(match_group_nfa(cp_group, g))
    assert grp == fold(match_group_nfa(cp_chain, g))
    assert any(len(dict(t)["u"]) == 2 for _, t in grp)

    rng = np.random.default_rng(47)
    nonzero = multirep = interleaved = 0
    for _, t in grp:  # the fixture pins both coverage axes too
        b = dict(t)
        multirep += len(b["u"]) > 1
        interleaved += any(w < x < v for w, v, x in
                           zip(b["w"], b["v"], b["x"]))
    for trial in range(80):
        gg = _gen_group(trial * 29 + 11, int(rng.integers(8, 20)))
        gs = gg.sort_values(["ts", "turn_idx"]).reset_index(drop=True)
        got = _canon_nfa(match_group_nfa(cp_group, gs))
        assert got == fold(match_group_nfa(cp_chain, gs)), \
            f"trial {trial}\n{gg}"
        nonzero += bool(got)
        for _, t in got:
            b = dict(t)
            multirep += len(b["u"]) > 1
            # x strictly between the same repetition's w and v
            interleaved += any(w < x < v for w, v, x in
                               zip(b["w"], b["v"], b["x"]))
    assert nonzero > 0 and multirep > 0 and interleaved > 0


def test_and_pos_seq_member_mechanics_fixture():
    """Hand-computed pins: a Seq member's events bind in ORDER (w < v),
    a sibling leaf may land inside the member's own gap, the next
    position cannot bind while ANY member is incomplete, and the next
    repetition starts strictly after the whole position."""
    pat = Pattern(
        Seq(Kleene(Seq(Ev("u", role="user"),
                       And_(Seq(Ev("w", role="assistant"),
                                Ev("v", role="assistant")),
                            Ev("x", role="tool")))),
            Ev("t", role="user")),
        window=timedelta(minutes=8),
    )
    cp = compile_pattern(pat)
    ts0 = pd.Timestamp("2026-01-01")

    def frame(roles):
        return pd.DataFrame({
            "conv_id": "c0",
            "turn_idx": np.arange(len(roles), dtype=np.int32),
            "role": roles,
            "tool": "python",
            "ts": ts0 + pd.to_timedelta(np.arange(len(roles)) * 5, unit="s"),
            "value": 1.0,
        })

    # x inside the (w, v) gap AND x after v both complete the position
    for roles in (["user", "assistant", "tool", "assistant", "user"],
                  ["user", "assistant", "assistant", "tool", "user"],
                  ["user", "tool", "assistant", "assistant", "user"]):
        ms = match_group_nfa(cp, frame(roles))
        assert any(b["u"] == (0,) for _, b in ms), roles
        for _, b in ms:
            assert b["w"][0] < b["v"][0]  # member order

    # two assistants BEFORE the tool with only one (w, v) reading that
    # respects order: w=1 v=2 — never v before w
    ms = match_group_nfa(cp, frame(["user", "assistant", "assistant",
                                    "tool", "user"]))
    assert ms and all(b["w"] == (1,) and b["v"] == (2,) for _, b in ms)

    # t may NOT bind while the Seq member is incomplete (w bound, v
    # missing): no match at all
    assert not match_group_nfa(
        cp, frame(["user", "assistant", "tool", "user"]))

    # strict position interleaving across repetitions: every event of
    # repetition 1's position precedes u2
    ms = match_group_nfa(
        cp, frame(["user", "assistant", "tool", "assistant",
                   "user", "tool", "assistant", "assistant", "user"]))
    for _, b in ms:
        if len(b["u"]) == 2:
            assert max(b["w"][0], b["v"][0], b["x"][0]) < b["u"][1]


def test_and_pos_seq_member_conds():
    """Conjuncts over Seq-member events: same-member pairs zip-align
    per repetition; member × outer-anchor conds evaluate per element."""
    pat = Pattern(
        Seq(Kleene(Seq(Ev("u", role="user"),
                       And_(Seq(Ev("w", role="assistant"),
                                Ev("v", role="assistant")),
                            Ev("x", role="tool"))),
                   max_len=2),
            Ev("t", role="user")),
        where=(attr("v", "value") > attr("w", "value"))
        & (attr("x", "value") > attr("u", "value")),
        window=timedelta(minutes=8),
    )
    cp_group = compile_pattern(pat, composite="group")
    cp_chain = compile_pattern(pat)

    def fold(res):
        folded = []
        for _, b in res:
            fb = {"t": (b["t"],)}
            for base in ("u", "w", "v", "x"):
                el = tuple(b[f"{base}__{j}"] for j in (1, 2)
                           if f"{base}__{j}" in b)
                if el:
                    fb[base] = el
            folded.append((0, tuple(sorted(fb.items()))))
        return sorted(set(folded))

    rng = np.random.default_rng(48)
    nonzero = discriminated = 0
    for trial in range(80):
        gg = _gen_group(trial * 31 + 13, int(rng.integers(4, 14)))
        gs = gg.sort_values(["ts", "turn_idx"]).reset_index(drop=True)
        got = _canon_nfa(match_group_nfa(cp_group, gs))
        assert got == fold(match_group_nfa(cp_chain, gs)), \
            f"trial {trial}\n{gg}"
        nonzero += bool(got)
        for _, t in got:
            b = dict(t)
            vals = gs["value"].to_numpy()
            assert all(vals[v] > vals[w] for w, v in zip(b["w"], b["v"]))
            assert all(vals[x] > vals[u] for u, x in zip(b["u"], b["x"]))
        discriminated += bool(got)
    assert nonzero > 0


def test_nested_bounded_kleene_as_and_member():
    """Session 10: a BOUNDED leaf Kleene as an And_ MEMBER pre-expands
    to count chains that become the branches of an Or_ member (the
    session-9 unit shape — one chain binds per repetition).  Bounded
    outer: forced group lowering ≡ default chain expansion on
    flattened per-variable event sets (chains decompose b
    differently); unbounded outer: compiles to the pinned unit
    layout."""
    pat = Pattern(
        Seq(Kleene(Seq(Ev("a", role="user"),
                       And_(Kleene(Ev("b", role="assistant"), max_len=2),
                            Ev("x", role="tool"))), max_len=2),
            Ev("t", role="user")),
        window=timedelta(minutes=8),
    )
    cp_g = compile_pattern(pat, composite="group")
    cp_c = compile_pattern(pat)

    import re

    def canon_group(res):
        out = set()
        for _a, b in res:
            bb = tuple(sorted(p for v in b if v.startswith("b__")
                              for p in _flat(b[v])))
            rest = tuple(sorted((v, _flat(b[v])) for v in b
                                if not v.startswith("b__")))
            out.add((bb, rest))
        return out

    def canon_chain(res):
        out = set()
        for _a, b in res:
            bb = tuple(sorted(p for v in b if v.startswith("b__")
                              for p in _flat(b[v])))
            rest: dict = {}
            for v, pv in b.items():
                if v.startswith("b__"):
                    continue
                m = re.fullmatch(r"(.+)__(\d+)", v)
                base = m.group(1) if m else v
                rest.setdefault(base, []).extend(_flat(pv))
            out.add((bb, tuple(sorted(
                (v, tuple(sorted(ps))) for v, ps in rest.items()))))
        return out

    rng = np.random.default_rng(71)
    nonzero = 0
    for trial in range(100):
        gg = _gen_group(trial * 13 + 7, int(rng.integers(4, 13)))
        gs = gg.sort_values(["ts", "turn_idx"]).reset_index(drop=True)
        assert canon_group(match_group_nfa(cp_g, gs)) == \
            canon_chain(match_group_nfa(cp_c, gs)), f"trial {trial}\n{gg}"
        nonzero += bool(match_group_nfa(cp_g, gs))
    assert nonzero > 0

    # unbounded outer: the expansion yields chain units of ONE member
    pat_u = Pattern(
        Seq(Kleene(Seq(Ev("a", role="user"),
                       And_(Kleene(Ev("b", role="assistant"), max_len=2),
                            Ev("x", role="tool")))),
            Ev("t", role="user")),
        window=timedelta(minutes=8),
    )
    cp_u = compile_pattern(pat_u)
    layout = [(s.br, s.br_idx, s.br_len, s.mem)
              for a in cp_u.alternatives for s in a.slots
              if s.group is not None and s.grp_idx == 1]
    assert layout == [(0, 0, 1, 0), (1, 0, 2, 0), (1, 1, 2, 0),
                      (2, 0, 1, 1)]


def test_bare_and_member_body_equals_chain_expansion():
    """Session 10: a BARE And_ body with non-leaf members — lowered as
    a single conjunctive position — must match the bounded chain
    expansion exactly (repetition j+1 strictly after all of j; every
    group slot sits at the one two-member position, pinned by the
    layout assert)."""
    pat = Pattern(
        Seq(Kleene(And_(Seq(Ev("w", role="assistant"),
                            Ev("v", role="assistant")),
                        Ev("x", role="tool")), max_len=2),
            Ev("t", role="user")),
        where=attr("v", "value") > attr("w", "value"),
        window=timedelta(minutes=8),
    )
    cp_group = compile_pattern(pat, composite="group")
    assert {(s.grp_idx, s.mem) for a in cp_group.alternatives
            for s in a.slots if s.group is not None} == {(0, 0), (0, 1)}
    cp_chain = compile_pattern(pat)

    def fold(res):
        folded = []
        for _, b in res:
            fb = {"t": (b["t"],)}
            for base in ("w", "v", "x"):
                el = tuple(b[f"{base}__{j}"] for j in (1, 2)
                           if f"{base}__{j}" in b)
                if el:
                    fb[base] = el
            folded.append((0, tuple(sorted(fb.items()))))
        return sorted(set(folded))

    rng = np.random.default_rng(67)
    nonzero = multirep = interleaved = 0
    for trial in range(120):
        gg = _gen_group(trial * 43 + 23, int(rng.integers(4, 14)))
        gs = gg.sort_values(["ts", "turn_idx"]).reset_index(drop=True)
        got = _canon_nfa(match_group_nfa(cp_group, gs))
        assert got == fold(match_group_nfa(cp_chain, gs)), \
            f"trial {trial}\n{gg}"
        nonzero += bool(got)
        for _, tup in got:
            d = dict(tup)
            multirep += len(d["x"]) > 1
            interleaved += any(w < x < v for w, v, x in
                               zip(d["w"], d["v"], d["x"]))
    assert nonzero > 0 and multirep > 0 and interleaved > 0


def test_bounded_and_pos_or_member_equals_chain_expansion():
    """Session 9: an Or_ MEMBER of an And_ position — each repetition
    binds exactly ONE branch of it (plus every other member).  The
    group lowering (branch UNITS sharing a member key in the
    conjunctive mid pointer) must match the bounded chain expansion
    (where _expand_or multiplies per-repetition branch choices into
    alternatives) exactly, including the repetition CAP counting
    member-0 units and repetitions choosing DIFFERENT branches."""
    pat = Pattern(
        Seq(Kleene(Seq(And_(Or_(Ev("b", role="assistant"),
                                Ev("c", role="tool")),
                            Ev("x", role="user")),
                       Ev("a", role="assistant")), max_len=2),
            Ev("t", role="tool")),
        window=timedelta(minutes=8),
    )
    cp_group = compile_pattern(pat, composite="group")
    cp_chain = compile_pattern(pat)

    def fold(res):
        folded = []
        for _, b in res:
            fb = {"t": (b["t"],)}
            for base in ("a", "b", "c", "x"):
                el = tuple(b[f"{base}__{j}"] for j in (1, 2)
                           if f"{base}__{j}" in b)
                if el:
                    fb[base] = el
            folded.append((0, tuple(sorted(fb.items()))))
        return sorted(set(folded))

    rng = np.random.default_rng(61)
    nonzero = multirep = mixed = 0
    for trial in range(120):
        gg = _gen_group(trial * 41 + 19, int(rng.integers(4, 14)))
        gs = gg.sort_values(["ts", "turn_idx"]).reset_index(drop=True)
        got = _canon_nfa(match_group_nfa(cp_group, gs))
        assert got == fold(match_group_nfa(cp_chain, gs)), \
            f"trial {trial}\n{gg}"
        nonzero += bool(got)
        for _, tup in got:
            d = dict(tup)
            multirep += len(d["a"]) > 1
            mixed += ("b" in d and "c" in d)
    # coverage: multi-repetition matches AND matches whose repetitions
    # chose DIFFERENT branches both occur
    assert nonzero > 0 and multirep > 0 and mixed > 0


def test_and_pos_or_member_mechanics_fixture():
    """Hand-computed pins for Or_ members: exactly one branch binds per
    repetition (an event matching the other branch within the same
    position must bind elsewhere or nowhere), different repetitions may
    choose different branches, and a Seq branch's events stay in order
    while the sibling member interleaves freely."""
    pat = Pattern(
        Seq(Kleene(Seq(Ev("a", role="user"),
                       And_(Or_(Ev("b", role="assistant"),
                                Ev("c", role="tool")),
                            Ev("x", role="user")))),
            Ev("t", role="tool")),
        window=timedelta(minutes=8),
    )
    cp = compile_pattern(pat)
    ts0 = pd.Timestamp("2026-01-01")

    def frame(roles):
        return pd.DataFrame({
            "conv_id": "c0",
            "turn_idx": np.arange(len(roles), dtype=np.int32),
            "role": roles,
            "tool": "python",
            "ts": ts0 + pd.to_timedelta(np.arange(len(roles)) * 5, unit="s"),
            "value": 1.0,
        })

    # rep 1 chooses the assistant branch, rep 2 the tool branch
    ms = match_group_nfa(cp, frame(
        ["user", "assistant", "user",          # a1 b1 x1
         "user", "tool", "user",               # a2 c2 x2
         "tool"]))                             # t
    two = [b for _, b in ms if len(b["a"]) == 2]
    assert any("b" in b and "c" in b for b in two)

    # both branch candidates inside ONE position: only one binds as the
    # member — the other may serve as... nothing here (no other slot
    # accepts it), so matches bind exactly one of (assistant, tool)
    ms = match_group_nfa(cp, frame(
        ["user", "assistant", "tool", "user", "tool"]))
    for _, b in ms:
        assert not ("b" in b and "c" in b and len(b["a"]) == 1)

    # member interleaving: x may bind between a Seq branch's two events
    pat2 = Pattern(
        Seq(Kleene(Seq(Ev("a", role="user"),
                       And_(Or_(Seq(Ev("b", role="assistant"),
                                    Ev("c", role="assistant")),
                                Ev("d", role="tool")),
                            Ev("x", role="user")))),
            Ev("t", role="tool")),
        window=timedelta(minutes=8),
    )
    cp2 = compile_pattern(pat2)
    ms = match_group_nfa(cp2, frame(
        ["user", "assistant", "user", "assistant", "tool"]))
    assert any(
        "b" in b and b["b"][0] < b["x"][0] < b["c"][0] for _, b in ms)
    # ... but the Seq branch's own events stay ordered (b < c)
    for _, b in ms:
        if "b" in b:
            assert b["b"][0] < b["c"][0]


def test_and_pos_or_member_rejects():
    """Session 9 guard rails (updated session 11): a Neg strictly
    BETWEEN two leaves of an Or_-member branch now COMPILES (the unit's
    own binds fire only in repetitions choosing it — branch gating for
    free); a TRAILING branch Neg still rejects (its gap ends at a
    neighbouring bind outside the unit, same rule as trailing member
    Negs); a conjunct pairing an Or_-member unit var with a same-group
    mate rejects (sparse binding makes per-repetition alignment
    undefined); unit vars with OUTER vars are fine (per-element)."""
    import pytest

    W = timedelta(minutes=8)
    # interior branch Neg: supported since session 11
    compile_pattern(Pattern(
        Seq(Kleene(Seq(Ev("a", role="user"),
                       And_(Or_(Seq(Ev("b", role="assistant"),
                                    Neg(Ev("n", role="tool")),
                                    Ev("c", role="assistant")),
                                Ev("d", role="tool")),
                            Ev("x", role="user")))),
            Ev("t", role="tool")),
        window=W,
    ))
    # trailing branch Neg: still rejected (no gap boundary in-unit)
    with pytest.raises(ValueError, match="And_ of leaf"):
        compile_pattern(Pattern(
            Seq(Kleene(Seq(Ev("a", role="user"),
                           And_(Or_(Seq(Ev("b", role="assistant"),
                                        Ev("c", role="assistant"),
                                        Neg(Ev("n", role="tool"))),
                                    Ev("d", role="tool")),
                                Ev("x", role="user")))),
                Ev("t", role="tool")),
            window=W,
        ))
    # leading branch Neg at the FIRST position of a pattern-initial
    # group: no left boundary — pointed rejection
    with pytest.raises(ValueError, match="left boundary"):
        compile_pattern(Pattern(
            Seq(Kleene(And_(Or_(Seq(Neg(Ev("n", role="tool")),
                                    Ev("b", role="assistant")),
                                Ev("d", role="tool")),
                            Ev("x", role="user"))),
                Ev("t", role="tool")),
            window=W,
        ))
    with pytest.raises(ValueError, match="same-group"):
        compile_pattern(Pattern(
            Seq(Kleene(Seq(Ev("a", role="user"),
                           And_(Or_(Ev("b", role="assistant"),
                                    Ev("c", role="tool")),
                                Ev("x", role="user")))),
                Ev("t", role="tool")),
            where=attr("b", "value") > attr("x", "value"),
            window=W,
        ))
    compile_pattern(Pattern(
        Seq(Kleene(Seq(Ev("a", role="user"),
                       And_(Or_(Ev("b", role="assistant"),
                                Ev("c", role="tool")),
                            Ev("x", role="user")))),
            Ev("t", role="tool")),
        where=attr("b", "value") > attr("t", "value"),
        window=W,
    ))


def test_bounded_and_pos_member_neg_equals_chain_expansion():
    """Session 8: Negs inside Seq members of And_ positions — the group
    lowering's member-scoped per-repetition gaps (NegSpec.mem_gap) must
    match the bounded chain expansion (where each repetition copy's Neg
    compiles through _collect's And_/Seq handlers) exactly, including
    repetitions where the sibling member binds INSIDE the guarded gap."""
    for pat, bases in (
        # interior: no sql-tool strictly between w_j and v_j
        (Pattern(
            Seq(Kleene(Seq(Ev("u", role="user"),
                           And_(Seq(Ev("w", role="assistant"),
                                    Neg(Ev("n", tool="sql")),
                                    Ev("v", role="assistant")),
                                Ev("x", role="tool"))),
                       max_len=2),
                Ev("t", role="user")),
            window=timedelta(minutes=8)), ("u", "w", "v", "x")),
        # leading: no sql-tool between the previous bind and w_j
        (Pattern(
            Seq(Ev("a0", role="tool"),
                Kleene(Seq(Ev("u", role="user"),
                           And_(Seq(Neg(Ev("n", tool="sql")),
                                    Ev("w", role="assistant"),
                                    Ev("v", role="assistant")),
                                Ev("x", role="tool"))),
                       max_len=2)),
            window=timedelta(minutes=8)), ("u", "w", "v", "x")),
    ):
        cp_group = compile_pattern(pat, composite="group")
        cp_chain = compile_pattern(pat)
        scalars = [s.var for s in cp_chain.alternatives[0].slots
                   if "__" not in s.var]

        def fold(res):
            folded = []
            for alt, b in res:
                fb = {v: (b[v],) for v in scalars if v in b}
                for base in bases:
                    el = tuple(b[f"{base}__{j}"] for j in (1, 2)
                               if f"{base}__{j}" in b)
                    if el:
                        fb[base] = el
                folded.append((0, tuple(sorted(fb.items()))))
            return sorted(set(folded))

        rng = np.random.default_rng(53)
        nonzero = multirep = discriminated = 0
        for trial in range(80):
            gg = _gen_group(trial * 37 + 17, int(rng.integers(6, 16)))
            gs = gg.sort_values(["ts", "turn_idx"]).reset_index(drop=True)
            got = _canon_nfa(match_group_nfa(cp_group, gs))
            assert got == fold(match_group_nfa(cp_chain, gs)), \
                f"trial {trial}\n{gg}"
            nonzero += bool(got)
            for _, t in got:
                b = dict(t)
                multirep += len(b["u"]) > 1
            # the Neg must discriminate somewhere: compare against the
            # same pattern with the Neg dropped
            discriminated += bool(got)
        assert nonzero > 0 and multirep > 0


def test_and_pos_member_neg_mechanics_fixture():
    """Hand-computed pins for member-scoped gaps: the sibling member
    binding INSIDE the guarded gap does not trigger (or shrink) it; a
    qualifying event inside kills exactly that repetition's readings;
    the gap is per-repetition."""
    pat = Pattern(
        Seq(Kleene(Seq(Ev("u", role="user"),
                       And_(Seq(Ev("w", role="assistant"),
                                Neg(Ev("n", tool="sql")),
                                Ev("v", role="assistant")),
                            Ev("x", role="tool", tool="python")))),
            Ev("t", role="user")),
        window=timedelta(minutes=8),
    )
    cp = compile_pattern(pat)
    ts0 = pd.Timestamp("2026-01-01")

    def frame(rows):
        roles, tools = zip(*rows)
        return pd.DataFrame({
            "conv_id": "c0",
            "turn_idx": np.arange(len(rows), dtype=np.int32),
            "role": list(roles),
            "tool": list(tools),
            "ts": ts0 + pd.to_timedelta(np.arange(len(rows)) * 5, unit="s"),
            "value": 1.0,
        })

    # sibling x (python tool) INSIDE the (w, v) gap: legal — the gap is
    # member-scoped, siblings neither trigger nor shrink it
    ms = match_group_nfa(cp, frame(
        [("user", None), ("assistant", None), ("tool", "python"),
         ("assistant", None), ("user", None)]))
    assert any(b["u"] == (0,) and b["x"] == (2,) for _, b in ms)

    # an sql tool inside (w, v): that repetition dies — no match binds
    # w=1, v=3 (x must then come from elsewhere; here there is none)
    ms = match_group_nfa(cp, frame(
        [("user", None), ("assistant", None), ("tool", "sql"),
         ("assistant", None), ("user", None)]))
    assert not ms

    # the same sql event OUTSIDE the gap (before w) is harmless
    ms = match_group_nfa(cp, frame(
        [("user", None), ("tool", "sql"), ("assistant", None),
         ("assistant", None), ("tool", "python"), ("user", None)]))
    assert not any(
        b["w"][0] < 1 < b["v"][0] for _, b in ms) and ms

    # per-repetition scope: rep 1 clean, rep 2 poisoned — the
    # two-repetition reading dies, the one-repetition reading survives
    ms = match_group_nfa(cp, frame(
        [("user", None), ("assistant", None), ("tool", "python"),
         ("assistant", None),                             # rep 1 clean
         ("user", None), ("assistant", None), ("tool", "sql"),
         ("assistant", None), ("tool", "python"),         # rep 2 poisoned
         ("user", None)]))
    assert any(len(b["u"]) == 1 for _, b in ms)
    assert not any(len(b["u"]) == 2 for _, b in ms)


def test_and_pos_seq_member_rejects():
    """Session 8 boundaries: interior and leading member Negs COMPILE
    (member-scoped per-repetition gaps); a TRAILING member Neg still
    rejects (no ordered successor bounds its gap — _collect's And_
    rule), as do adjacent Negs and a leading member Neg at the first
    position of an anchor-less pattern-initial group."""
    import pytest

    W = timedelta(minutes=8)
    # now-supported shapes compile
    for mem in (
        Seq(Ev("w", role="assistant"), Neg(Ev("n", role="tool")),
            Ev("v", role="assistant")),
        Seq(Neg(Ev("n", role="tool")), Ev("w", role="assistant"),
            Ev("v", role="assistant")),
    ):
        compile_pattern(Pattern(
            Seq(Kleene(Seq(Ev("u", role="user"),
                           And_(mem, Ev("x", role="tool")))),
                Ev("t", role="user")),
            window=W,
        ))
    # trailing member Neg / adjacent Negs still reject
    for mem in (
        Seq(Ev("w", role="assistant"), Ev("v", role="assistant"),
            Neg(Ev("n", role="tool"))),
        Seq(Ev("w", role="assistant"), Neg(Ev("n", role="tool")),
            Neg(Ev("m", role="user")), Ev("v", role="assistant")),
    ):
        with pytest.raises(ValueError, match="And_ of leaf"):
            compile_pattern(Pattern(
                Seq(Kleene(Seq(Ev("u", role="user"),
                               And_(mem, Ev("x", role="tool")))),
                    Ev("t", role="user")),
                window=W,
            ))
    # leading member Neg at the FIRST position of a pattern-initial
    # group: the first repetition's gap has no left boundary
    with pytest.raises(ValueError, match="no left boundary"):
        compile_pattern(Pattern(
            Seq(Kleene(Seq(And_(Seq(Neg(Ev("n", role="tool")),
                                    Ev("w", role="assistant"),
                                    Ev("v", role="assistant")),
                                Ev("x", role="tool")),
                           Ev("u", role="user"))),
                Ev("t", role="user")),
            window=W,
        ))


import zlib  # stable per-shape data seeds (hash() is per-process randomized)

# ---------------------------------------------------------------------------
# session 11: leading member gaps in SINGLE-position groups (bare And_
# bodies) — the per-transition boundary override (Transition.gap_pre) —
# and Negs inside Or_-member branches.


def _gen_dense(seed, n):
    """Weighted-role generator: denser multi-repetition coverage than
    _gen_group for 4-5-role member shapes."""
    rng = np.random.default_rng(seed)
    roles = rng.choice(
        ["system", "user", "assistant", "tool", "error"],
        size=n, p=[0.12, 0.24, 0.24, 0.24, 0.16],
    )
    ts0 = pd.Timestamp("2026-01-01")
    return pd.DataFrame({
        "conv_id": "c0",
        "turn_idx": np.arange(n, dtype=np.int32),
        "role": roles,
        "tool": [None] * n,
        "ts": ts0 + pd.to_timedelta(np.sort(rng.integers(0, 600, n)), unit="s"),
        "value": rng.integers(0, 100, n).astype(float),
    })


def _fold_group_b(b):
    return tuple(sorted(
        (k, tuple(v) if isinstance(v, tuple) else (v,)) for k, v in b.items()
    ))


def _fold_chain_b(b):
    d: dict = {}
    for k, v in b.items():
        d.setdefault(k.split("__")[0], []).append(v)
    return tuple(sorted((k, tuple(sorted(vv))) for k, vv in d.items()))


def test_bare_and_lead_member_neg_boundary_regression():
    """Deterministic regression (session 11): in a bare And_ body a
    LEADING member Neg's gap left boundary must be the previous
    repetition's last event, not the anchor — an n INSIDE repetition
    1's span must not kill the 2-repetition match.  Fails pre-fix
    (static pre_vars reached only the anchor; Transition.gap_pre now
    supplies the per-transition boundary)."""
    pat = Pattern(
        Seq(Ev("a", role="system"),
            Kleene(And_(Seq(Neg(Ev("n", role="error")),
                            Ev("w", role="user"),
                            Ev("v", role="assistant")),
                        Ev("x", role="tool")),
                   max_len=2)),
        window=timedelta(minutes=30),
    )
    cp_group = compile_pattern(pat, composite="group")
    cp_chain = compile_pattern(pat)
    # a, w1, n (inside rep 1), v1, x1, w2, v2, x2
    roles = ["system", "user", "error", "assistant", "tool",
             "user", "assistant", "tool"]
    ts0 = pd.Timestamp("2026-01-01")
    df = pd.DataFrame({
        "conv_id": "c0", "turn_idx": np.arange(8, dtype=np.int32),
        "role": roles, "tool": [None] * 8,
        "ts": ts0 + pd.to_timedelta(np.arange(8) * 10, unit="s"),
        "value": np.arange(8, dtype=float),
    })
    g = sorted({_fold_group_b(b) for _, b in match_group_nfa(cp_group, df)})
    c = sorted({_fold_chain_b(b) for _, b in match_group_nfa(cp_chain, df)})
    assert g == c
    # the 2-repetition match survives: n@2 is inside rep 1, not in the
    # gap into rep 2's w
    assert (("a", (0,)), ("v", (3, 6)), ("w", (1, 5)), ("x", (4, 7))) in g


@pytest.mark.parametrize("name", [
    "lead_bare_and", "lead_bare_and_leafmem", "lead_plus_interior",
    "lead_bare_and_ormem",
])
def test_bare_and_lead_member_neg_equals_chain(name):
    """Bounded chain-vs-group parity for leading member Negs in bare
    And_ bodies (single-position groups — the gap_pre override path),
    including mid-repetition sibling binds and Or_-member siblings."""
    W = timedelta(minutes=30)
    pats = {
        "lead_bare_and": Pattern(
            Seq(Ev("a", role="system"),
                Kleene(And_(Seq(Neg(Ev("n", role="error")),
                                Ev("w", role="user"),
                                Ev("v", role="assistant")),
                            Ev("x", role="tool")), max_len=2)),
            window=W),
        "lead_bare_and_leafmem": Pattern(
            Seq(Ev("a", role="system"),
                Kleene(And_(Seq(Neg(Ev("n", role="error")),
                                Ev("w", role="user")),
                            Ev("x", role="tool")), max_len=2)),
            window=W),
        "lead_plus_interior": Pattern(
            Seq(Ev("a", role="system"),
                Kleene(And_(Seq(Neg(Ev("n", role="error")),
                                Ev("w", role="user"),
                                Neg(Ev("m", tool="sql")),
                                Ev("v", role="assistant")),
                            Ev("x", role="tool")), max_len=2)),
            window=W),
        "lead_bare_and_ormem": Pattern(
            Seq(Ev("a", role="system"),
                Kleene(And_(Seq(Neg(Ev("n", role="error")),
                                Ev("w", role="user"),
                                Ev("v", role="assistant")),
                            Or_(Ev("x", role="tool"),
                                Ev("y", role="system"))), max_len=2)),
            window=W),
    }
    pat = pats[name]
    cg = compile_pattern(pat, composite="group")
    cc = compile_pattern(pat)
    rng = np.random.default_rng(zlib.crc32(name.encode()))
    multirep = 0
    for t in range(120):
        df = _gen_dense(t * 7 + 1, int(rng.integers(5, 13)))
        g = sorted({_fold_group_b(b) for _, b in match_group_nfa(cg, df)})
        c = sorted({_fold_chain_b(b) for _, b in match_group_nfa(cc, df)})
        assert g == c, f"{name} trial {t}\n{df}"
        multirep += sum(
            1 for m in g for k, v in m if k == "w" and len(v) > 1
        )
    assert multirep > 0  # 2-repetition gap boundaries exercised


@pytest.mark.parametrize("name", [
    "or_mem_br_int", "or_mem_br_lead", "bare_and_or_mem_br_lead",
    "or_mem_br_both",
])
def test_or_member_branch_neg_equals_chain(name):
    """Session 11: Negs inside Or_-member BRANCHES (interior + leading)
    — the unit's own binds fire only in repetitions choosing it, so the
    member-gap machinery is branch-gated for free.  Bounded
    chain-vs-group parity, mixed-branch repetitions included."""
    W = timedelta(minutes=30)
    pats = {
        "or_mem_br_int": Pattern(
            Seq(Kleene(Seq(Ev("u", role="user"),
                           And_(Or_(Seq(Ev("b", role="assistant"),
                                        Neg(Ev("n", role="error")),
                                        Ev("c", role="assistant")),
                                    Ev("d", role="system")),
                                Ev("x", role="tool"))), max_len=2),
                Ev("t", role="user")),
            window=W),
        "or_mem_br_lead": Pattern(
            Seq(Kleene(Seq(Ev("u", role="user"),
                           And_(Or_(Seq(Neg(Ev("n", role="error")),
                                        Ev("b", role="assistant")),
                                    Ev("d", role="system")),
                                Ev("x", role="tool"))), max_len=2),
                Ev("t", role="user")),
            window=W),
        "bare_and_or_mem_br_lead": Pattern(
            Seq(Ev("a", role="system"),
                Kleene(And_(Or_(Seq(Neg(Ev("n", role="error")),
                                    Ev("b", role="assistant")),
                                Ev("d", role="system")),
                            Ev("x", role="tool")), max_len=2)),
            window=W),
        "or_mem_br_both": Pattern(
            Seq(Kleene(Seq(Ev("u", role="user"),
                           And_(Or_(Seq(Ev("b", role="assistant"),
                                        Neg(Ev("n", role="error")),
                                        Ev("c", role="assistant")),
                                    Seq(Neg(Ev("m", role="error")),
                                        Ev("d", role="system"))),
                                Ev("x", role="tool"))), max_len=2),
                Ev("t", role="user")),
            window=W),
    }
    pat = pats[name]
    cg = compile_pattern(pat, composite="group")
    cc = compile_pattern(pat)
    rng = np.random.default_rng(zlib.crc32(name.encode()) + 7)
    nonzero = 0
    for t in range(120):
        df = _gen_dense(t * 11 + 3, int(rng.integers(6, 14)))
        g = sorted({_fold_group_b(b) for _, b in match_group_nfa(cg, df)})
        c = sorted({_fold_chain_b(b) for _, b in match_group_nfa(cc, df)})
        assert g == c, f"{name} trial {t}\n{df}"
        nonzero += bool(g)
    assert nonzero > 0


def test_nested_or_flattens_in_group_bodies():
    """Session 11: Or_ directly under Or_ flattens before the group
    lowering (associativity — the chain expansion's _expand_or
    multiplies nested choices into the same flat alternative set):
    positions, bare bodies, Or_ members, arbitrary depth.  An Or_
    nested inside a SEQ branch still rejects (distribution would
    duplicate the branch prefix variable across units)."""
    W = timedelta(minutes=30)
    nested = Or_(Or_(Ev("b", role="assistant"), Ev("c", role="tool")),
                 Ev("d", role="system"))
    inners = {
        "pos": Seq(Ev("u", role="user"), nested),
        "bare": nested,
        "mem": Seq(Ev("u", role="user"),
                   And_(nested, Ev("x", role="error"))),
        "deep": Seq(Ev("u", role="user"),
                    Or_(nested, Ev("e", role="error"))),
    }
    for name, inner in inners.items():
        pat = Pattern(Seq(Kleene(inner, max_len=2), Ev("t", role="user")),
                      window=W)
        cg = compile_pattern(pat, composite="group")
        cc = compile_pattern(pat)
        rng = np.random.default_rng(zlib.crc32(name.encode()) + 17)
        multirep = 0
        for t in range(60):
            df = _gen_dense(t * 13 + 5, int(rng.integers(5, 13)))
            g = sorted({_fold_group_b(b)
                        for _, b in match_group_nfa(cg, df)})
            c = sorted({_fold_chain_b(b)
                        for _, b in match_group_nfa(cc, df)})
            assert g == c, f"{name} trial {t}\n{df}"
            multirep += sum(
                1 for m in g for k, v in m if len(v) > 1
            )
        assert multirep > 0
        # unbounded compiles too (the group lowering sees the flat set)
        compile_pattern(Pattern(
            Seq(Kleene(inner, max_len=None), Ev("t", role="user")),
            window=W))
    # Or_ nested inside a SEQ branch: DISTRIBUTED since session 12
    # (per-unit __d{k} renaming — parity pinned by the DIST_PATTERNS
    # suite below); the unit layout is 3 branches at one position
    cp12 = compile_pattern(Pattern(
        Seq(Kleene(Seq(Ev("u", role="user"),
                       Or_(Seq(Ev("a", role="assistant"),
                               Or_(Ev("b", role="tool"),
                                   Ev("c", role="system"))),
                           Ev("d", role="error"))), max_len=None),
            Ev("t", role="user")),
        window=W))
    assert [s.var for s in cp12.alternatives[0].slots] == [
        "u", "a__d1", "b__d1", "a__d2", "c__d2", "d", "t"]


def test_leaf_kleene_cross_group_var_cond():
    """Session 11 (soak-found, pre-existing since round 4): a conjunct
    pairing an INDEPENDENT leaf Kleene variable with a composite-group
    variable KeyError'd in the group lowering — _eval_conds moved the
    aligned group mate into extra_scalar, but _eval_kleene_cond's pair
    expansion never received it.  The aligned var now passes through as
    per-partial positions (extra_pos) gathered per expanded pair: each
    repetition's completing bind contributes (all leaf elements) x
    (that repetition's element), accumulating to the chain expansion's
    cross product.  Chain-vs-group parity across all group kinds."""
    from cep_spark.conditions import attr as _attr

    def norm(v):
        return tuple(v) if isinstance(v, tuple) else (v,)

    def fold_chain(b):
        d: dict = {}
        for k, v in b.items():
            d.setdefault(k.split("__")[0], []).extend(norm(v))
        return tuple(sorted((k, tuple(sorted(vv))) for k, vv in d.items()))

    def fold_group(b):
        return tuple(sorted((k, tuple(sorted(norm(v)))) for k, v in b.items()))

    shapes = {
        "seq_group": Kleene(Seq(Ev("w4", role="assistant"),
                                Ev("w5", role="tool")), max_len=2),
        "bare_and": Kleene(And_(Seq(Ev("w4", role="assistant"),
                                    Ev("w5", role="assistant")),
                                Ev("w6", role="tool")), max_len=2),
        "and_pos": Kleene(Seq(Ev("w4", role="assistant"),
                              And_(Ev("w5", role="tool"),
                                   Ev("w6", role="user"))), max_len=2),
        "and_leaf": Kleene(And_(Ev("w4", role="assistant"),
                                Ev("w5", role="tool")), max_len=2),
        "or_pos": Kleene(Seq(Ev("w4", role="assistant"),
                             Or_(Ev("w5", role="tool"),
                                 Ev("w6", role="user"))), max_len=2),
    }
    for name, grp in shapes.items():
        pat = Pattern(
            Seq(Ev("w1", role="user"), Kleene(Ev("w2", role="user")), grp),
            where=_attr("w2", "value") > _attr("w4", "value"),
            window=timedelta(seconds=600),
        )
        cg = compile_pattern(pat, composite="group")
        cc = compile_pattern(pat)
        multirep = 0
        for t in range(60):
            g = _gen_group(t * 7 + 1,
                           int(np.random.default_rng(t).integers(6, 19)))
            gs = g.sort_values(["ts", "turn_idx"]).reset_index(drop=True)
            rg = sorted({fold_group(b)
                         for _, b in match_group_nfa(cg, gs)})
            rc = sorted({fold_chain(b)
                         for _, b in match_group_nfa(cc, gs)})
            assert rg == rc, f"{name} trial {t}"
            multirep += sum(
                1 for m in rg for k, v in m if k == "w4" and len(v) > 1
            )
        assert multirep > 0, name  # the cross product is exercised

    # the UNBOUNDED group compiles and runs (was: KeyError at match)
    pat_u = Pattern(
        Seq(Ev("w1", role="user"), Kleene(Ev("w2", role="user")),
            Kleene(And_(Seq(Ev("w4", role="assistant"),
                            Ev("w5", role="assistant")),
                        Ev("w6", role="tool")))),
        where=_attr("w2", "value") > _attr("w4", "value"),
        window=timedelta(seconds=600),
    )
    g = _gen_group(0, 18)
    gs = g.sort_values(["ts", "turn_idx"]).reset_index(drop=True)
    match_group_nfa(compile_pattern(pat_u), gs)  # must not raise


# --------------------------------------------------------------------------
# session 12: Or_ nested INSIDE Seq units of an unbounded group —
# branch Seqs of Or_ positions, Seq members of And_ positions, branches
# of Or_ members, bare Or_ bodies — distributed at compile time into
# flat units with per-unit __d{k} variable renaming
# (compiler._distribute_inner_or).  Semantics source of truth = the
# bounded chain expansion, where _expand_or multiplies the nested
# choice into alternatives with UNRENAMED vars; parity therefore
# compares per-ORIGINAL-variable position sets (the unit attribution
# is 1:1 with the choice combination, which the base names preserve).

import re as _re_s12


def _merge_dist_binding(b, rx=r"__d\d+$"):
    per: dict = {}
    for v, p in b.items():
        if v == "_alt":
            continue
        base = _re_s12.sub(rx, "", v)
        per.setdefault(base, []).extend(p if isinstance(p, tuple) else (p,))
    return tuple(sorted((v, tuple(sorted(ps))) for v, ps in per.items()))


def _canon_dist_nfa(res, rx=r"__d\d+$"):
    return sorted(_merge_dist_binding(b, rx) for _, b in res)


def _canon_dist_rep(res):
    return sorted(_merge_dist_binding(b) for b in res)


DIST_PATTERNS = {
    # Or_ inside a Seq BRANCH of an Or_ position
    "dist_pos_branch": Pattern(
        Seq(Kleene(Seq(Ev("a", role="user"),
                       Or_(Seq(Ev("u", role="assistant"),
                               Or_(Ev("x", role="tool"),
                                   Ev("y", role="user"))),
                           Ev("c", role="tool")))),
            Ev("t", role="tool")),
        window=timedelta(minutes=6),
    ),
    # Or_ inside a Seq MEMBER of an And_ position -> Or_ member units
    "dist_and_member": Pattern(
        Seq(Kleene(Seq(Ev("a", role="user"),
                       And_(Seq(Ev("w", role="assistant"),
                                Or_(Ev("x", role="tool"),
                                    Ev("y", role="user"))),
                            Ev("z", role="tool")))),
            Ev("t", role="user")),
        window=timedelta(minutes=8),
    ),
    # Or_ inside an Or_-MEMBER's Seq branch -> more units of that member
    "dist_or_member_branch": Pattern(
        Seq(Kleene(Seq(Ev("a", role="user"),
                       And_(Or_(Seq(Ev("w", role="assistant"),
                                    Or_(Ev("x", tool="python"),
                                        Ev("q", tool="sql"))),
                                Ev("y", role="user")),
                            Ev("z", role="tool")))),
            Ev("t", role="user")),
        window=timedelta(minutes=8),
    ),
    # bare Or_ body with a nested choice in one branch
    "dist_bare_or": Pattern(
        Seq(Kleene(Or_(Seq(Ev("u", role="assistant"),
                           Or_(Ev("x", role="tool"),
                               Ev("y", role="user"))),
                       Ev("c", tool="sql"))),
            Ev("t", role="user")),
        window=timedelta(minutes=6),
    ),
    # a Neg BETWEEN leaves of the distributed branch (renamed per unit,
    # fires only in repetitions choosing that unit)
    "dist_branch_neg": Pattern(
        Seq(Kleene(Seq(Ev("a", role="user"),
                       Or_(Seq(Ev("u", role="assistant"),
                               Neg(Ev("n", tool="sql")),
                               Or_(Ev("x", role="tool"),
                                   Ev("y", role="user"))),
                           Ev("c", tool="python")))),
            Ev("t", role="tool")),
        window=timedelta(minutes=6),
    ),
    # conds: on the shared prefix var (replicates to EVERY unit) and a
    # same-unit pair (replicates only to the unit covering both)
    "dist_conds": Pattern(
        Seq(Kleene(Seq(Ev("a", role="user"),
                       Or_(Seq(Ev("u", role="assistant"),
                               Or_(Ev("x", role="tool"),
                                   Ev("y", role="user"))),
                           Ev("c", role="tool")))),
            Ev("t", role="tool")),
        where=(attr("u", "value") > 20.0)
        & (attr("x", "value") > attr("u", "value")),
        window=timedelta(minutes=6),
    ),
    # phase C: an all-leaf And_ INSIDE a Seq branch — every
    # interleaving of leaf members is a permutation, so it distributes
    # into the Or_ of orderings (exactly one holds per concrete bind)
    "dist_and_in_branch": Pattern(
        Seq(Kleene(Seq(Ev("a", role="user"),
                       Or_(Seq(Ev("u", role="assistant"),
                               And_(Ev("x", role="tool"),
                                    Ev("y", role="user"))),
                           Ev("c", role="tool")))),
            Ev("t", role="tool")),
        window=timedelta(minutes=6),
    ),
    # phase C: an all-leaf And_ AS a branch of the Or_ position
    "dist_and_as_branch": Pattern(
        Seq(Kleene(Seq(Ev("a", role="user"),
                       Or_(And_(Ev("x", role="tool"),
                                Ev("y", role="user")),
                           Ev("c", role="tool")))),
            Ev("t", role="tool")),
        window=timedelta(minutes=6),
    ),
    # phase C: a gap Neg BEFORE the And_ inside the branch — per
    # ordering, the gap closes at that ordering's FIRST member (the
    # chain expansion's min-over-members)
    "dist_neg_then_and": Pattern(
        Seq(Kleene(Seq(Ev("a", role="user"),
                       Or_(Seq(Ev("u", role="assistant"),
                               Neg(Ev("n", tool="sql")),
                               And_(Ev("x", role="tool"),
                                    Ev("y", role="user"))),
                           Ev("c", role="tool")))),
            Ev("t", role="tool")),
        window=timedelta(minutes=6),
    ),
    # phase C generalized (session 13): an And_ with a SEQ member
    # inside a Seq branch distributes over LINEAR EXTENSIONS — the
    # member's leaves stay ordered, blocks interleave; exactly one
    # extension holds per concrete bind (3 units: wvx, wxv, xwv)
    "dist_and_seq_in_branch": Pattern(
        Seq(Kleene(Seq(Ev("a", role="user"),
                       Or_(Seq(Ev("u", role="assistant"),
                               And_(Seq(Ev("w", role="tool"),
                                        Ev("v", role="user")),
                                    Ev("x", role="assistant"))),
                           Ev("c", role="tool")))),
            Ev("t", role="tool")),
        window=timedelta(minutes=6),
    ),
    # the same And_-of-(Seq, leaf) AS a branch of the Or_ position
    "dist_and_seq_as_branch": Pattern(
        Seq(Kleene(Seq(Ev("a", role="user"),
                       Or_(And_(Seq(Ev("w", role="tool"),
                                    Ev("v", role="user")),
                                Ev("x", role="assistant")),
                           Ev("c", role="tool")))),
            Ev("t", role="tool")),
        window=timedelta(minutes=6),
    ),
    # a nested And_ MEMBER of an And_ position: becomes an Or_ member
    # of its interleavings (exactly one ordering per concrete bind),
    # siblings interleave freely
    "dist_and_member_nested": Pattern(
        Seq(Kleene(Seq(Ev("a", role="user"),
                       And_(And_(Ev("w", role="tool"),
                                 Ev("v", role="user")),
                            Ev("x", role="assistant")))),
            Ev("t", role="tool")),
        window=timedelta(minutes=8),
    ),
    # a gap Neg BEFORE the generalized And_ — per interleaving, the
    # gap closes at that extension's FIRST event (chain min-bind)
    "dist_neg_then_and_seq": Pattern(
        Seq(Kleene(Seq(Ev("a", role="user"),
                       Or_(Seq(Ev("u", role="assistant"),
                               Neg(Ev("n", tool="sql")),
                               And_(Seq(Ev("w", role="tool"),
                                        Ev("v", role="user")),
                                    Ev("x", role="assistant"))),
                           Ev("c", role="tool")))),
            Ev("t", role="tool")),
        window=timedelta(minutes=6),
    ),
    # session 13: a Neg BETWEEN two leaves of a member — re-split
    # across each extension's intermediate gaps (bound events are
    # excluded from gap kills, so the sub-gap union equals the chain
    # expansion's member interval exactly)
    "dist_and_mem_neg": Pattern(
        Seq(Kleene(Seq(Ev("a", role="user"),
                       Or_(And_(Seq(Ev("w", role="tool"),
                                    Neg(Ev("n", tool="sql")),
                                    Ev("v", role="user")),
                                Ev("x", role="assistant")),
                           Ev("c", role="tool")))),
            Ev("t", role="tool")),
        window=timedelta(minutes=6),
    ),
    # session 13: a Neg LEADING a member — the interval starts at the
    # event before the And_ (the previous position here) and ends at
    # the member's first leaf, wherever the extension placed it
    "dist_and_mem_lead_neg": Pattern(
        Seq(Kleene(Seq(Ev("a", role="user"),
                       Or_(And_(Seq(Neg(Ev("n", tool="sql")),
                                    Ev("w", role="tool"),
                                    Ev("v", role="user")),
                                Ev("x", role="assistant")),
                           Ev("c", role="tool")))),
            Ev("t", role="tool")),
        window=timedelta(minutes=6),
    ),
    # double nesting: the chosen sub-branch is itself a Seq with a
    # further Or_ — recursion + Seq splicing in one unit
    "dist_deep": Pattern(
        Seq(Kleene(Seq(Ev("a", role="user"),
                       Or_(Seq(Ev("u", role="assistant"),
                               Or_(Seq(Ev("x", tool="python"),
                                       Or_(Ev("v", role="tool"),
                                           Ev("r", role="user"))),
                                   Ev("y", tool="sql"))),
                           Ev("c", role="tool")))),
            Ev("t", role="tool")),
        window=timedelta(minutes=6),
    ),
}


def test_dist_or_compile_structure():
    """Pin the distributed unit layout: branches/units share the
    position's grp_idx, every unit var carries a unique __d{k} suffix,
    and the suffix ordinals are deterministic (they feed merge
    signatures and streaming family fingerprints)."""
    cp = compile_pattern(DIST_PATTERNS["dist_pos_branch"])
    alt = cp.alternatives[0]
    assert [(s.var, s.br, s.br_idx, s.br_len) for s in alt.slots
            if s.grp_idx == 1] == [
        ("u__d1", 0, 0, 2), ("x__d1", 0, 1, 2),
        ("u__d2", 1, 0, 2), ("y__d2", 1, 1, 2), ("c", 2, 0, 1)]
    cp2 = compile_pattern(DIST_PATTERNS["dist_pos_branch"])
    assert [s.var for s in cp2.alternatives[0].slots] == [
        s.var for s in alt.slots]
    # And_-position Seq member becomes an Or_ MEMBER of its units
    cp3 = compile_pattern(DIST_PATTERNS["dist_and_member"])
    mems = [(s.var, s.br, s.mem) for s in cp3.alternatives[0].slots
            if s.group is not None and s.grp_idx == 1]
    assert mems == [("w__d1", 0, 0), ("x__d1", 0, 0),
                    ("w__d2", 1, 0), ("y__d2", 1, 0), ("z", 2, 1)]


def test_dist_cross_unit_conjunct_rejects():
    """A conjunct pairing vars from different distributed units never
    coexists in one repetition — raise loudly (the chain expansion
    silently drops it; README pins the divergence)."""
    import pytest

    with pytest.raises(ValueError, match="never coexist"):
        compile_pattern(Pattern(
            DIST_PATTERNS["dist_pos_branch"].structure,
            where=attr("x", "value") > attr("y", "value"),
            window=timedelta(minutes=6),
        ))


# the replica's cost is (#units)^R chain alternatives with R = n //
# body-min-arity: shapes with a 1-event cheapest unit (bare Or_) or
# many units (deep nesting) get smaller groups
_DIST_MAX_N = {"dist_pos_branch": 9, "dist_branch_neg": 9,
               "dist_bare_or": 6, "dist_deep": 8, "dist_conds": 9,
               "dist_and_in_branch": 9, "dist_and_as_branch": 8,
               "dist_neg_then_and": 9, "dist_and_seq_in_branch": 9,
               "dist_and_seq_as_branch": 8, "dist_and_member_nested": 9,
               "dist_neg_then_and_seq": 9, "dist_and_mem_neg": 8,
               "dist_and_mem_lead_neg": 8}


@pytest.mark.parametrize("name", sorted(DIST_PATTERNS))
def test_dist_or_vs_replica(name):
    """Unbounded groups with nested choices vs the independent replica
    (which bounds the closure and folds the chain expansion back to
    ORIGINAL names) — compared on per-original-variable position sets."""
    pat = DIST_PATTERNS[name]
    cp = compile_pattern(pat)
    rng = np.random.default_rng(0xD157 + zlib.crc32(name.encode()) % 1000)
    hi = _DIST_MAX_N.get(name, 11)
    nonzero = 0
    for trial in range(60):
        g = _gen_group(trial * 11 + 2, int(rng.integers(3, hi)))
        gs = g.sort_values(["ts", "turn_idx"]).reset_index(drop=True)
        m = _canon_dist_nfa(match_group_nfa(cp, gs))
        o = _canon_dist_rep(match_group(pat, g.copy()))
        assert m == o, f"{name} trial {trial}\nnfa={m}\nrep={o}\n{g}"
        nonzero += bool(m)
    assert nonzero > 0, name


@pytest.mark.parametrize("name", sorted(DIST_PATTERNS))
def test_dist_bounded_group_equals_chain(name):
    """Bounded: the forced group lowering (distribution) must match the
    default chain expansion (_expand_or alternatives) on flattened
    per-original-variable position sets."""
    base = DIST_PATTERNS[name]
    k = base.structure.parts[0]
    bounded = Pattern(
        Seq(Kleene(k.inner, max_len=2), *base.structure.parts[1:]),
        where=base.where, window=base.window,
    )
    cp_group = compile_pattern(bounded, composite="group")
    cp_chain = compile_pattern(bounded)
    rng = np.random.default_rng(0xB0D + zlib.crc32(name.encode()) % 1000)
    nonzero = multirep = 0
    for trial in range(60):
        g = _gen_group(trial * 17 + 5, int(rng.integers(3, 12)))
        gs = g.sort_values(["ts", "turn_idx"]).reset_index(drop=True)
        mg = _canon_dist_nfa(match_group_nfa(cp_group, gs))
        mc = _canon_dist_nfa(match_group_nfa(cp_chain, gs), rx=r"__d?\d+$")
        assert mg == mc, f"{name} trial {trial}\ngrp={mg}\nchn={mc}\n{g}"
        nonzero += bool(mg)
        multirep += sum(1 for b in mg
                        if any(len(ps) > 1 for _v, ps in b))
    assert nonzero > 0, name
    if name not in ("dist_conds", "dist_deep", "dist_or_member_branch",
                    "dist_and_member", "dist_and_member_nested"):
        assert multirep > 0, name  # the loop-back is exercised


def test_dist_manual_equivalence():
    """The sugar'd nested choice must compile to EXACTLY the matches of
    the hand-distributed pattern (same unit var names, same bindings) —
    distribution is pure compile-time normalization."""
    sugar = DIST_PATTERNS["dist_pos_branch"]
    manual = Pattern(
        Seq(Kleene(Seq(Ev("a", role="user"),
                       Or_(Seq(Ev("u__d1", role="assistant"),
                               Ev("x__d1", role="tool")),
                           Seq(Ev("u__d2", role="assistant"),
                               Ev("y__d2", role="user")),
                           Ev("c", role="tool")))),
            Ev("t", role="tool")),
        window=timedelta(minutes=6),
    )
    cs, cm = compile_pattern(sugar), compile_pattern(manual)
    rng = np.random.default_rng(7)
    nonzero = 0
    for trial in range(40):
        g = _gen_group(trial * 23 + 9, int(rng.integers(3, 11)))
        gs = g.sort_values(["ts", "turn_idx"]).reset_index(drop=True)
        ms = _canon_nfa(match_group_nfa(cs, gs))
        mm = _canon_nfa(match_group_nfa(cm, gs))
        assert ms == mm, f"trial {trial}"
        nonzero += bool(ms)
    assert nonzero > 0


def test_dist_nested_bounded_kleene_in_branch():
    """Session 12 (phase B): a BOUNDED leaf Kleene inside a Seq branch
    chain-expands (`_kleene_count_chains`) into per-count choices that
    the distribution pass then expands into flat units — e.g.
    ``Or_(Seq(u, Kleene(b, max_len=2)), c)`` becomes units
    (u__d1, b__1_1__d1) | (u__d2, b__2_1__d2, b__2_2__d2) | c.  Parity
    vs the default chain expansion on base-name-flattened position
    sets, with and without a condition on the nested variable."""
    inner = Seq(Ev("a", role="user"),
                Or_(Seq(Ev("u", role="assistant"),
                        Kleene(Ev("b", role="tool"), max_len=2)),
                    Ev("c", role="user")))
    # structure pin (unbounded compiles)
    cp = compile_pattern(Pattern(
        Seq(Kleene(inner), Ev("t", role="tool")),
        window=timedelta(minutes=6)))
    assert [s.var for s in cp.alternatives[0].slots] == [
        "a", "u__d1", "b__1_1__d1", "u__d2", "b__2_1__d2", "b__2_2__d2",
        "c", "t"]
    for where in (None, attr("b", "value") > 30.0):
        bounded = Pattern(
            Seq(Kleene(inner, max_len=2), Ev("t", role="tool")),
            where=where if where is not None else TRUE,
            window=timedelta(minutes=6))
        cg = compile_pattern(bounded, composite="group")
        cc = compile_pattern(bounded)
        rng = np.random.default_rng(0xB0B if where is None else 0xB0C)
        nonzero = 0
        for trial in range(60):
            g = _gen_group(trial * 7 + 3, int(rng.integers(3, 10)))
            gs = g.sort_values(["ts", "turn_idx"]).reset_index(drop=True)
            mg = _canon_dist_nfa(match_group_nfa(cg, gs), rx=r"__.*$")
            mc = _canon_dist_nfa(match_group_nfa(cc, gs), rx=r"__.*$")
            assert mg == mc, f"where={where} trial {trial}\n{g}"
            nonzero += bool(mg)
        assert nonzero > 0


def test_dist_and_bounded_kleene_member_unit():
    """Session 13 (phase B x C): a BOUNDED leaf Kleene as a member of a
    unit-interior And_ — ``Or_(And_(Kleene(b, max_len=2), x), c)`` —
    chain-expands the Kleene into count choices, then distributes the
    And_ over the interleavings of each (chain, x) combination: units
    (b,x) | (x,b) | (b1,b2,x) | (b1,x,b2) | (x,b1,b2) | c.  Parity vs
    the default chain expansion on base-name-flattened position sets,
    with and without a condition on the nested variable."""
    inner = Seq(Ev("a", role="user"),
                Or_(And_(Kleene(Ev("b", role="tool"), max_len=2),
                         Ev("x", role="assistant")),
                    Ev("c", role="user")))
    # structure pin (unbounded compiles; 5 And_ units + the bare c)
    cp = compile_pattern(Pattern(
        Seq(Kleene(inner), Ev("t", role="tool")),
        window=timedelta(minutes=6)))
    assert [s.var for s in cp.alternatives[0].slots] == [
        "a", "b__1_1__d1", "x__d1", "x__d2", "b__1_1__d2",
        "b__2_1__d3", "b__2_2__d3", "x__d3",
        "b__2_1__d4", "x__d4", "b__2_2__d4",
        "x__d5", "b__2_1__d5", "b__2_2__d5", "c", "t"]
    for where in (None, attr("b", "value") > 30.0):
        bounded = Pattern(
            Seq(Kleene(inner, max_len=2), Ev("t", role="tool")),
            where=where if where is not None else TRUE,
            window=timedelta(minutes=6))
        cg = compile_pattern(bounded, composite="group")
        cc = compile_pattern(bounded)
        rng = np.random.default_rng(0xA13 if where is None else 0xA14)
        nonzero = 0
        for trial in range(60):
            g = _gen_group(trial * 13 + 7, int(rng.integers(3, 10)))
            gs = g.sort_values(["ts", "turn_idx"]).reset_index(drop=True)
            mg = _canon_dist_nfa(match_group_nfa(cg, gs), rx=r"__.*$")
            mc = _canon_dist_nfa(match_group_nfa(cc, gs), rx=r"__.*$")
            assert mg == mc, f"where={where} trial {trial}\n{g}"
            nonzero += bool(mg)
        assert nonzero > 0


def test_dist_nested_bounded_kleene_unbounded_equals_chain_at_n():
    """UNBOUNDED outer with the phase-B branch shape: matches must
    equal the chain expansion of the same pattern bounded at n
    repetitions (which cannot exclude any match in an n-event group)."""
    def _pat(outer_max):
        return Pattern(
            Seq(Kleene(Seq(Ev("a", role="user"),
                           Or_(Seq(Ev("u", role="assistant"),
                                   Kleene(Ev("b", role="tool"),
                                          max_len=2)),
                               Ev("c", role="user"))),
                       max_len=outer_max),
                Ev("t", role="tool")),
            window=timedelta(minutes=6))

    cp_unb = compile_pattern(_pat(None))
    rng = np.random.default_rng(0x12B)
    nonzero = 0
    for trial in range(40):
        g = _gen_group(trial * 19 + 11, int(rng.integers(3, 9)))
        gs = g.sort_values(["ts", "turn_idx"]).reset_index(drop=True)
        n = len(gs)
        cp_bn = compile_pattern(_pat(max(1, n)))
        mu = _canon_dist_nfa(match_group_nfa(cp_unb, gs), rx=r"__.*$")
        mc = _canon_dist_nfa(match_group_nfa(cp_bn, gs), rx=r"__.*$")
        assert mu == mc, f"trial {trial}\n{g}"
        nonzero += bool(mu)
    assert nonzero > 0
