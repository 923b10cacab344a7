"""Pattern compiler: AST -> NFA transition tables (plain data).

Replaces the reference's evaluation-tree builder (reference
`Tree.py`/`TreeBasedEvaluationMechanism.py`, SURVEY.md §2.3 E6 — which
BASELINE.json explicitly says NOT to port).  Design:

* Or_ nodes are expanded at compile time into Or-free *alternatives*
  (reference OrOperator ≙ union of compiled automata, SURVEY.md §2.1 O4).
* Each alternative's positive leaves become *slots* with a structural
  partial order: slot s may bind only after prereq(s) ⊆ bound set
  (Seq induces prerequisites; And_ does not).  NFA states are the
  reachable down-closed slot sets (a trie merged by bound-set — valid
  because events are processed in the pinned (ts, tiebreak) order, so
  SEQ's order predicates hold by construction and need no runtime check).
* Multi-variable conjuncts of ``Pattern.where`` attach to the first
  transition at which all their variables are bound (the reference's
  `Formula.get_formula_of` pushdown, done once at compile time).
* Negation compiles to *deferred gap checks*: a Neg between Seq parts is
  verified at the transition that opens the following part, against a
  buffer of negative candidate events — this stays correct under Kleene
  powerset branching where eager kill-edges would over-kill branches
  that later extend past the negative event.  Neg inside And_ is a
  *span check* at accept time.
* Kleene slots self-extend while "open" (no later slot bound); each
  qualifying event forks the partial (take / skip), which enumerates
  exactly the non-empty ordered subsets (powerset semantics, SURVEY.md
  §2.4 item 4).
* Kleene over a composite sub-structure: BOUNDED -> compile-time
  expansion into an Or_ of fixed repetition chains; UNBOUNDED -> the
  inner Seq's leaves become a looping slot GROUP — the automaton state
  carries (bound set, mid-repetition marker), repetitions bind the
  sub-slots in order via `repeat` transitions that append to per-leaf
  element tuples, and acceptance requires every group's repetition
  complete (`_successors`).

The output (`CompiledPattern`) is plain picklable data — it is shipped
to executors inside the stateful UDF closure (broadcast-equivalent).
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace
from typing import Optional

from .conditions import Cond, FALSE, TRUE, split_conditions, subst
from .pattern import And_, Ev, Kleene, Neg, Node, Or_, Pattern, Seq

__all__ = ["compile_pattern", "CompiledPattern", "CompiledAlternative", "Slot", "NegSpec"]


@dataclass(frozen=True)
class Slot:
    sid: int
    var: str
    unary: Cond  # unary condition on this slot's event
    kleene: bool = False
    kleene_max: Optional[int] = None
    prereq: frozenset = frozenset()  # slot ids that must be bound first
    # leaf-Kleene adjacent-pair condition over ({var}__prev, {var}):
    # checked between each pair of consecutive CHOSEN events
    adjacent: Optional[Cond] = None
    # UNBOUNDED composite Kleene: the sub-structure's leaves become a
    # GROUP of kleene-storage slots cycled by the NFA (sub-automaton
    # repetition) instead of compile-time chain expansion.  `group` is
    # the group id, `grp_idx` the position within one repetition
    # (positions bind strictly in grp_idx order).
    group: Optional[int] = None
    grp_idx: int = 0
    # Or_ branches at one group position (round 5): `br` identifies the
    # branch, `br_idx` the offset within a multi-event (Seq) branch,
    # `br_len` the branch's event count.  A repetition that enters a
    # branch binds its events in br_idx order before the position
    # completes (single-event branches: br_idx=0, br_len=1 — the
    # position completes at the entry bind, as before).
    br: int = 0
    br_idx: int = 0
    br_len: int = 1
    # And_ at one group position of a "seq" group (round 5, session 6):
    # the repetition binds EVERY member of the position once, in ANY
    # arrival order, all strictly after the previous position's bind and
    # before the next position's (position interleaving is preserved
    # position-wise).  Members reuse `br` as the member index (br_idx=0,
    # br_len=1) with pos_all=True; the automaton's mid entry holds
    # ``(grp_idx, frozenset(bound member brs))`` while the position is
    # in progress.  Unlike Or_ branches, members bind in every
    # repetition — they are ordinary zip-aligned group mates.
    pos_all: bool = False
    # An Or_ MEMBER of an And_ position (round 5, session 9): each of
    # its branches becomes a distinct UNIT (its own `br` value, br_idx/
    # br_len indexing the branch's events) and `mem` records which
    # member the unit belongs to — each repetition binds exactly ONE
    # unit of the member (plus every other member).  `mem` stays None
    # for plain members (their member identity is `br` itself); Or_-
    # member unit vars are branch vars (sparse element tuples, like Or_
    # position branches).
    mem: Optional[int] = None
    # An UNBOUNDED leaf Kleene at its own position of a "seq" group
    # (round 5, session 16): the slot binds one event to ENTER the
    # position (the ordinary entry transition) and may then bind MORE
    # events of the same repetition's run via self-loop continue
    # transitions (Transition.loop_cont) while no later position of the
    # current repetition has bound — mid == grp_idx+1, or the group is
    # complete-and-open when the loop ends the repetition body.  The
    # element tuple stays FLAT (repetition runs concatenate in bind
    # order); conjuncts referencing the variable evaluate per element
    # like Or_-branch vars, and pairings with same-group mates are
    # rejected at compile time (alignment would need per-repetition
    # slicing — same refuse-over-drop policy as branch+mate conjuncts).
    grp_loop: bool = False


@dataclass(frozen=True)
class NegSpec:
    var: str
    unary: Cond
    multi: tuple  # multi-var conjuncts, vars ⊆ {var} ∪ available vars
    kind: str  # "gap" | "span" | "leading" | "trailing"
    # gap: checked on transitions that bind a slot in `post_slots` from a
    #   state where none of `post_slots` is bound; interval =
    #   (partial.last_pos, candidate.pos) exclusive.
    # span: checked at accept; interval = (first_pos, last_pos) exclusive.
    # leading (Seq(Neg(n), ...)): checked at accept; forbidden = any
    #   qualifying n strictly before the match's first event with
    #   last.ts - n.ts <= window (the window bounds the look-back, so a
    #   pattern window is required).
    # trailing (Seq(..., Neg(n))): checked at accept; forbidden = any
    #   qualifying n strictly after the match's last event with
    #   n.ts - first.ts <= window.  Streaming seals such matches at
    #   first.ts + window instead of last.ts (stream.py).
    post_slots: frozenset = frozenset()
    # gap neg INSIDE an unbounded composite-Kleene group (round 4): the
    # gap (prev bound event, new event) is re-checked on EVERY bind of
    # the post slot — once per repetition — instead of only the first
    # (group slots bind repeatedly; strict interleaving makes the
    # partial's last_pos exactly the same repetition's previous leaf).
    per_repeat: bool = False
    # TRAILING Neg inside an unbounded group (round 4): the gap between
    # repetition j's last leaf and repetition j+1's first leaf is checked
    # only at LOOP-BACK binds of sub-slot 0 (repeat=True transitions) —
    # the first repetition's entry bind has no preceding repetition to
    # guard.  The final repetition's gap is carried by a separate spec
    # (ordinary gap to the following part, or window-bounded "trailing"
    # when the group ends the pattern).
    repeat_only: bool = False
    # gap kind only: variable names whose latest bound position is the
    # gap's STRUCTURAL left boundary (prereqs of the post slots, plus
    # the group members for per-repetition specs).  The partial's
    # last_pos is wrong here when an And_ sibling binds inside the gap
    # — pinned semantics (pattern.py #5, the replica, _span_ok): the
    # gap runs between the Neg's structural neighbours and events bound
    # to OTHER variables of the match are not negation candidates.
    pre_vars: tuple = ()
    # TRAILING Neg inside an Or_ BRANCH of an unbounded group (round 5,
    # session 5): ``(branch_last_leaf_var, *all_position_vars)``.  The
    # gap closes at a bind OUTSIDE the branch (the next position, the
    # loop-back, or the part after the group), so the spec is attached
    # there statically and gated DYNAMICALLY: it applies to a partial
    # iff the max last-element position across all of the position's
    # sub-slot vars belongs to the branch's last leaf — under strict
    # repetition interleaving that max IS the relevant repetition's bind
    # at the position, so the guard holds exactly when that repetition
    # chose the branch (the bounded chain expansion's per-instance
    # existence, made dynamic).  Empty = unconditional (every other
    # spec kind).
    br_guard: tuple = ()
    # gap Neg INSIDE a Seq MEMBER of an And_ position (round 5, session
    # 8): the gap closes at a specific member sub-slot's bind, which may
    # be MID-position (members interleave) — the transition builder's
    # position-entry gate on pos_all slots must not suppress it.
    # Interior member gaps carry pre_vars = (the member's previous
    # leaf,) only: And_ siblings legally bind inside the gap and must
    # not raise its left boundary.  Leading member gaps (before the
    # member's first leaf) exclude the position's OWN slots from
    # pre_vars for the same reason.
    mem_gap: bool = False
    # LEADING member gap (mem_gap with no previous member leaf): in a
    # SINGLE-position group (a bare And_ body) the static pre_vars
    # reach only the anchor — no other position supplies the previous
    # repetition's boundary — so the transition builder attaches a
    # per-transition boundary override (Transition.gap_pre) computed
    # from the source state's mid pointer: same-position vars at
    # element offset -2 when their unit is mid-repetition, -1
    # otherwise (the true boundary is always attained by some var at
    # its offset; every candidate is <= it).
    mem_lead: bool = False


@dataclass(frozen=True)
class Transition:
    slot: int
    target: int  # state id
    conds: tuple  # multi-var conjuncts newly evaluable at this binding
    gap_negs: tuple  # indices into alternative.negs to verify
    accepting: bool
    # group-Kleene repetition bind: the slot's var is ALREADY bound —
    # append the event to its element tuple instead of creating it
    repeat: bool = False
    # loop-back bind that STARTS a new repetition (an entry bind at
    # position 0 — for a conjunctive position, any member's entry) —
    # the executor applies the bounded-composite repetition cap here
    rep_start: bool = False
    # per-transition gap-boundary override for LEADING member gaps in a
    # single-position group (NegSpec.mem_lead): tuple of
    # (gap_neg_index, off1_vars, off2_vars) — the gap's left boundary
    # additionally maxes each off1 var's LAST element and each off2
    # var's SECOND-TO-LAST element (off2 = vars whose unit is
    # mid-repetition in the source state, so their last element is the
    # CURRENT repetition's and must be skipped).  Empty everywhere else.
    gap_pre: tuple = ()
    # self-loop CONTINUE bind of an unbounded nested leaf Kleene
    # (Slot.grp_loop, session 16): appends another event to the current
    # repetition's run.  Gap negation specs never fire here (the gap
    # INTO the position closed at the entry bind; the gap OUT of it
    # closes at a later slot's bind), and the slot's adjacent-pair
    # condition applies between the run's consecutive chosen events
    # (entry binds start a fresh run and skip it).
    loop_cont: bool = False


@dataclass
class State:
    sid: int
    bound: frozenset  # slot ids
    transitions: list = field(default_factory=list)
    kleene_loops: list = field(default_factory=list)  # (slot_id, conds) open kleenes
    accepting: bool = False
    # in-progress composite-Kleene repetitions: frozenset of
    # (group_id, next_sub_slot_index) — a state is accepting only when
    # every group's current repetition is complete (mid is empty)
    mid: frozenset = frozenset()


@dataclass
class CompiledAlternative:
    alt_id: int
    slots: list  # list[Slot]
    states: list  # list[State]; state 0 = empty set
    negs: list  # list[NegSpec]
    span_negs: tuple  # indices of kind=="span"
    var_order: list  # output variable order (structure order)
    kleene_vars: frozenset
    # composite-Kleene groups: var -> group id (empty when none).  Vars
    # sharing a group are zip-ALIGNED per repetition in multi-var
    # condition evaluation; independent kleene vars cross-product.
    var_group: dict = field(default_factory=dict)
    # multi-pattern prefix sharing (merge.merge_compiled): state sid ->
    # tuple of AcceptTag.  When set, this alternative is a MERGED
    # automaton over several patterns: acceptance is per tag (each tag
    # names its (pattern, alt), its accept-time negation indices into
    # ``negs``, and the canonical->original variable renaming), and
    # ``span_negs`` is empty — the executor's emit applies each tag's
    # own accept-time negs instead.  None for ordinary single-pattern
    # alternatives.
    accept_tags: Optional[dict] = None
    # merged automata only: state sid -> frozenset of owning pattern
    # indices (which input patterns touch this merged state).  Drives
    # merge.merge_components' connected-component partition, so one
    # exploding rule's streaming rematch fallback doesn't drag rules
    # that share no state with it.
    state_owners: Optional[dict] = None


@dataclass
class CompiledPattern:
    pattern: Pattern
    alternatives: list  # list[CompiledAlternative]
    # columns referenced anywhere (for pruning): (var -> set of columns)
    needed_cols: dict
    # union of per-var unary conditions OR'ed together -> prefilter Column
    # built lazily in planners to avoid importing pyspark here.

    def all_vars(self) -> list[str]:
        seen: list[str] = []
        for alt in self.alternatives:
            for v in alt.var_order:
                if v not in seen:
                    seen.append(v)
        return seen


# --------------------------------------------------------------------------
# composite-Kleene expansion: Kleene over a sub-structure -> Or_ of fixed
# repetition chains (bounded powerset over sub-matches, resolved at
# compile time so every executor + the SQL oracle handle it unchanged)


def _all_names(node: Node) -> list[str]:
    """Every variable name in the sub-structure, INCLUDING negated vars
    (they must be renamed per repetition too to stay unique)."""
    if isinstance(node, Ev):
        return [node.name]
    if isinstance(node, (Kleene, Neg)):
        return _all_names(node.inner)
    return [n for p in node.parts for n in _all_names(p)]


def _rename_node(node: Node, mapping: dict) -> Node:
    if isinstance(node, Ev):
        return Ev(mapping.get(node.name, node.name), where=subst(node.where, mapping))
    if isinstance(node, Kleene):
        adj = node.adjacent
        if adj is not None and isinstance(node.inner, Ev):
            old = node.inner.name
            new = mapping.get(old, old)
            adj = subst(adj, {old: new, f"{old}__prev": f"{new}__prev"})
        return Kleene(_rename_node(node.inner, mapping), max_len=node.max_len,
                      adjacent=adj)
    if isinstance(node, Neg):
        return Neg(_rename_node(node.inner, mapping))
    if isinstance(node, (Seq, And_, Or_)):
        return type(node)(*[_rename_node(p, mapping) for p in node.parts])
    raise TypeError(f"unknown node {node!r}")


def _flatten_seq(node: Node) -> Node:
    """Flatten Seq-directly-under-Seq (associative): Seq(Seq(a,b),c) ≡
    Seq(a,b,c) — prereq chains, gap negs, and trailing-neg bubbling all
    agree.  Applied per Or-free alternative BEFORE the root edge-neg
    pop, so a leading Neg at the overall pattern start reaches the pop
    even when it arrived inside a nested chain (the bounded composite
    expansion nests each repetition chain as a sub-Seq).  Kleene
    innards are left untouched (their own lowerings expect the original
    shape)."""
    if isinstance(node, Seq):
        parts = []
        for p in node.parts:
            p = _flatten_seq(p)
            if isinstance(p, Seq):
                parts.extend(p.parts)
            else:
                parts.append(p)
        return Seq(*parts)
    if isinstance(node, And_):
        return And_(*[_flatten_seq(p) for p in node.parts])
    if isinstance(node, Neg):
        inner = _flatten_seq(node.inner)
        return node if inner is node.inner else Neg(inner)
    return node


def _validate_group_inner(node: Kleene) -> None:
    """An unbounded composite Kleene compiles to a looping sub-automaton
    (group slots); that requires the inner structure to be a Seq of
    plain event leaves — repetitions are position-interleaved
    (a1 < b1 < a2 < b2 ...) and each leaf stores its per-repetition
    element tuple."""
    inner = node.inner

    def _branch_ok(b):
        # a branch is a plain leaf or (round 5, session 2) a Seq of
        # plain leaves — the repetition that chooses it binds the
        # branch's events in order before the position completes.
        # Session 4: a Neg STRICTLY BETWEEN two branch leaves guards
        # that within-repetition gap, in exactly the repetitions that
        # choose the branch (the bounded chain expansion's semantics);
        # a LEADING Neg guards the gap INTO the branch (previous
        # position's event, or the part/repetition before for position
        # 0 — enforced at the branch's entry bind, which only fires in
        # repetitions choosing it; _collect rejects the one placement
        # with no left boundary).  Session 5: a TRAILING Neg guards the
        # gap OUT of the branch — to the next position's bind, the next
        # repetition's entry, or the part after the group.  Those binds
        # are outside the branch, so the spec is gated dynamically
        # (NegSpec.br_guard): it applies iff the relevant repetition
        # chose the branch, decided by which branch owns the latest
        # bind at this position.
        if isinstance(b, Ev):
            return True
        if not (isinstance(b, Seq) and b.parts):
            return False
        if not any(isinstance(x, Ev) for x in b.parts):
            return False
        if any(
            isinstance(x, Neg) and isinstance(y, Neg)
            for x, y in zip(b.parts, b.parts[1:])
        ):
            return False
        return all(isinstance(x, (Ev, Neg)) for x in b.parts)

    def _seq_part_ok(p):
        # a position is a plain leaf, a Neg guarding a gap, (round 5)
        # an Or_ of leaf-or-Seq branches — the repetition binds ONE
        # branch per iteration (alternative sub-slots at the same
        # position) — or (sessions 6–7) an And_ of leaf-or-Seq
        # members: the repetition binds EVERY member once; a Seq
        # member's events bind in order, members interleave freely
        # with each other, and the whole position sits strictly
        # between the neighbouring positions' binds.  Session 8: a Seq
        # member may carry Negs strictly BETWEEN two of its leaves
        # (gap = that member's adjacent leaves of the SAME repetition —
        # siblings may legally bind inside it) or LEADING the member
        # (gap from the previous position's bind / previous
        # repetition's last event to the member's first leaf); a
        # TRAILING member Neg rejects (matching _collect's And_ rule:
        # no ordered successor bounds its gap), as do adjacent Negs.
        def _mem_ok(m):
            if isinstance(m, Ev):
                return True
            if isinstance(m, Or_):
                # session 9: an Or_ MEMBER — each repetition binds ONE
                # branch of it (plus every other member).  Branches are
                # plain leaves or Seqs of plain leaves; session 11: a
                # branch may carry Negs strictly BETWEEN two of its
                # leaves or LEADING it — the unit's own binds fire only
                # in repetitions that choose it, so the member-scoped
                # gap machinery (NegSpec.mem_gap) is branch-gated for
                # free.  TRAILING branch Negs reject (the gap's end is
                # a neighbouring bind outside the unit — same rule as
                # trailing member Negs), as do adjacent Negs.
                def _u_br_ok(b):
                    if isinstance(b, Ev):
                        return True
                    if not (isinstance(b, Seq) and len(b.parts) >= 2):
                        return False
                    if not isinstance(b.parts[-1], Ev):
                        return False  # trailing Neg: no gap boundary
                    if not any(isinstance(y, Ev) for y in b.parts):
                        return False
                    if any(
                        isinstance(x, Neg) and isinstance(y, Neg)
                        for x, y in zip(b.parts, b.parts[1:])
                    ):
                        return False
                    return all(isinstance(y, (Ev, Neg)) for y in b.parts)

                return len(m.parts) >= 2 and all(
                    _u_br_ok(b) for b in m.parts
                )
            if not (isinstance(m, Seq) and len(m.parts) >= 2):
                return False
            if not isinstance(m.parts[-1], Ev):
                return False  # trailing member Neg: no gap boundary
            if any(
                isinstance(x, Neg) and isinstance(y, Neg)
                for x, y in zip(m.parts, m.parts[1:])
            ):
                return False
            return all(isinstance(y, (Ev, Neg)) for y in m.parts)

        return isinstance(p, (Ev, Neg)) or (
            isinstance(p, Or_)
            and len(p.parts) >= 2
            and all(_branch_ok(b) for b in p.parts)
        ) or (
            isinstance(p, And_)
            and len(p.parts) >= 2
            and all(_mem_ok(x) for x in p.parts)
        )

    def _loop_ok(p):
        # an UNBOUNDED nested leaf Kleene (session 16): its own looping
        # position — the repetition binds one-or-more events of it.
        # Bounded nested Kleenes were pre-expanded to chains before
        # validation, so any Kleene part reaching here is unbounded.
        if not (isinstance(p, Kleene) and p.max_len is None):
            return False
        if isinstance(p.inner, Ev):
            return True
        # session 18: an UNBOUNDED nested COMPOSITE Kleene whose body
        # is a Seq of plain leaves — a looping UNIT position: the
        # repetition binds one-or-more full (b, c, ...) inner
        # repetitions in strict order, re-entering through the unit's
        # first leaf.  Session 19: the unit may carry Negs strictly
        # BETWEEN two of its leaves — a per-inner-repetition gap
        # (NegSpec.mem_gap at the following leaf's bind, which is
        # never a continue bind).  Leading/trailing unit-interior
        # Negs and adjacent-pair conditions keep pointed rejections
        # (their gaps would need to fire at continue/re-entry binds).
        return p.adjacent is None and _unit_body_ok(p.inner)

    ok = (
        isinstance(inner, Seq)
        and sum(
            isinstance(p, (Ev, Or_, And_)) or _loop_ok(p)
            for p in inner.parts
        ) >= 2
        and all(_seq_part_ok(p) or _loop_ok(p) for p in inner.parts)
        # a loop may sit at ANY position — including position 0
        # (session 17: the loop's ENTRY bind happens exactly once per
        # repetition, so the loop-back entry and per-repeat gap specs
        # key on it unchanged; only the bounded-cap repetition COUNT
        # needs a non-loop anchor, batch.py grp_anchor_vars) — but at
        # least one position must be a NON-loop positive: an all-loop
        # body has no position whose tuple length equals the repetition
        # count, so the bounded forced-group cap (and the chain-parity
        # evidence that pins the semantics) would have no anchor
        and any(isinstance(p, (Ev, Or_, And_)) for p in inner.parts)
        # no two adjacent Negs (each Neg guards exactly one leaf gap)
        and not any(
            isinstance(a, Neg) and isinstance(b, Neg)
            for a, b in zip(inner.parts, inner.parts[1:])
        )
    ) or (
        # Kleene over And_: any valid conjunctive-position member mix
        # (leaves, Seq-of-leaves / Or_-of-branches members, member
        # Negs; no Negs directly inside) — lowered as a group with ONE
        # pos_all position: repetition j+1 strictly after all of
        # repetition j, members interleaving freely within it
        isinstance(inner, And_)
        and len(inner.parts) >= 2
        and _seq_part_ok(inner)
    ) or (
        # Kleene over a bare Or_ (round 5): each repetition binds ONE
        # branch — a single-position group of branch sub-slots (leaf
        # branches complete the repetition at the entry bind; Seq
        # branches bind their events in order first)
        isinstance(inner, Or_)
        and len(inner.parts) >= 2
        and all(_branch_ok(p) for p in inner.parts)
    )
    if not ok:
        raise ValueError(
            "unbounded Kleene over a composite sub-structure supports "
            "Seq of plain event leaves — optionally with Negs BETWEEN "
            "two leaves, LEADING, or TRAILING the repetition (gaps "
            "scoped per repetition; a leading Neg needs a positive part "
            "before the Kleene OR the Kleene must start the pattern; "
            "a trailing Neg's final-"
            "repetition gap attaches to the following part, or is "
            "window-bounded when the Kleene ends the pattern) — "
            "positions may be Or_ alternations whose branches are "
            "leaves or Seqs of leaves (optionally with Negs BETWEEN "
            "two branch leaves, LEADING, or TRAILING the branch — "
            "gaps guarded in exactly the repetitions that choose the "
            "branch), or And_ of leaf-or-Seq-of-leaves members (the "
            "repetition binds every member once — Seq members' events "
            "in order, members interleaving freely — between the "
            "neighbouring positions' binds; a Seq member may carry "
            "Negs BETWEEN two of its leaves or LEADING it, never "
            "trailing — a bare Neg member has no gap to guard; a "
            "member may also be an Or_ of leaf-or-Seq-of-leaves "
            "branches — the repetition binds ONE branch of it; those "
            "branches may carry Negs BETWEEN two leaves or LEADING "
            "them, never trailing); "
            "the whole body may also be a bare And_ of such members "
            "(one conjunctive position).  An Or_ NESTED inside a Seq "
            "branch/member distributes into flat units at compile "
            "time (session 12), a BOUNDED nested Kleene pre-expands "
            "to chains (leaf chains, or per-branch-renamed unit "
            "chains for a bounded Seq-of-leaves composite), and an "
            "UNBOUNDED nested Kleene is a looping position of the "
            "Seq body — a LEAF loop (sessions 16-17) or a composite "
            "UNIT loop over a Seq of plain leaves (session 18; the "
            "repetition binds one-or-more full inner repetitions, "
            "re-entering through the unit's first leaf) — at any "
            "position including the first, but the body needs at "
            "least one NON-loop position as the repetition-count "
            "anchor, and a loop may not sit inside an Or_ branch or "
            "And_ member, carry an adjacent-pair condition (composite "
            "only), or contain Negs/Or_/And_/Kleene inside its unit. "
            "Reaching this error means the body has a nested Kleene "
            "in one of those unsupported placements/shapes, an And_ "
            "inside a unit, adjacent Negs, or a Neg with no gap "
            "boundary — those require max_len on the OUTER Kleene "
            "(fixed chain expansion at compile time)"
        )


def _flatten_or(node: Node) -> Node:
    """Or_ is associative: ``Or_(Or_(a, b), c)`` ≡ ``Or_(a, b, c)`` —
    nested per-repetition choices compose into one flat branch set (the
    bounded chain expansion's `_expand_or` multiplies them into exactly
    the same alternatives).  Applied to unbounded repetition bodies
    before validation (session 11) so nested alternations reach the
    branch/unit lowerings; flattening only reparents branches — no
    variable is duplicated.  Nested Kleene innards are left untouched
    (they get their own expansion/validation), as are Neg innards
    (always a plain leaf)."""
    if isinstance(node, Or_):
        parts = []
        for p in node.parts:
            p = _flatten_or(p)
            if isinstance(p, Or_):
                parts.extend(p.parts)
            else:
                parts.append(p)
        return Or_(*parts)
    if isinstance(node, (Seq, And_)):
        newp = [_flatten_or(p) for p in node.parts]
        if all(a is b for a, b in zip(newp, node.parts)):
            return node
        return type(node)(*newp)
    return node


def _kleene_count_chains(k: Kleene, reps: list) -> list:
    """Chain-expand a BOUNDED leaf Kleene nested inside a repetition
    unit.  Unlike the Or_-of-ALTERNATIVES chain expansion, these
    branches coexist as slots of ONE alternative, so every instance
    needs a unique name: branch r (= r events per repetition) renames
    the inner variable to {name}__{r}_{j}.  Registers an ("all", ...)
    reps entry so `where` conjuncts referencing the inner variable
    replicate per instance (ALL-elements semantics)."""
    name = k.inner.name
    mappings = []
    out = []
    for r in range(1, k.max_len + 1):
        maps_r = [{name: f"{name}__{r}_{j}"} for j in range(1, r + 1)]
        mappings.extend(maps_r)
        evs = [_rename_node(k.inner, m) for m in maps_r]
        if k.adjacent is not None:
            evs = [
                ev if j == 0 else Ev(
                    ev.name,
                    where=ev.where & subst(
                        k.adjacent,
                        {name: ev.name,
                         f"{name}__prev": evs[j - 1].name},
                    ),
                )
                for j, ev in enumerate(evs)
            ]
        out.append(evs[0] if r == 1 else Seq(*evs))
    reps.append(("all", [name], mappings))
    return out


def _kleene_unit_chains(k: Kleene, reps: list) -> list:
    """Chain-expand a BOUNDED composite (Seq-of-plain-leaves) Kleene
    nested inside an unbounded (or force-grouped) repetition body:
    branch r binds r inner repetitions —
    ``Seq(b__r_1, c__r_1, ..., b__r_r, c__r_r)``.  The branches coexist
    as alternative sub-slots of ONE Or_ position of the group lowering,
    so every instance needs a unique name; without this renaming the
    bottom-up bounded expansion produces branches sharing ``{v}__{j}``
    names and compilation dies with a confusing duplicate-variable
    error (the pre-session-18 behavior).  Registers ONE ("all", ...)
    reps entry whose mappings rename all leaves of an (r, j) instance
    JOINTLY: a `where` conjunct pairing two leaves of the unit zips per
    inner repetition, while a conjunct on one leaf replicates per
    instance — exactly the group lowering's same-branch zip /
    per-element semantics."""
    names = _all_names(k.inner)
    mappings = []
    out = []
    for r in range(1, k.max_len + 1):
        insts = []
        for j in range(1, r + 1):
            m = {v: f"{v}__{r}_{j}" for v in names}
            mappings.append(m)
            insts.extend(_rename_node(x, m) for x in k.inner.parts)
        out.append(Seq(*insts))
    reps.append(("all", names, mappings))
    return out


def _unit_body_ok(inner) -> bool:
    """A Seq of >= 2 plain leaves, optionally with Negs strictly
    BETWEEN two leaves (never first/last, never adjacent) — the unit
    body shape both `_kleene_unit_chains` (bounded) and the looping
    UNIT position (unbounded, session 18-19) accept."""
    if not (isinstance(inner, Seq)
            and sum(isinstance(x, Ev) for x in inner.parts) >= 2
            and all(isinstance(x, (Ev, Neg)) for x in inner.parts)
            and (not inner.parts
                 or (isinstance(inner.parts[0], Ev)
                     and isinstance(inner.parts[-1], Ev)))):
        return False
    return not any(
        isinstance(a, Neg) and isinstance(b, Neg)
        for a, b in zip(inner.parts, inner.parts[1:])
    )


def _is_bounded_unit_comp(p) -> bool:
    """A bounded composite Kleene whose body is a unit-shaped Seq (see
    `_unit_body_ok`) and which carries no adjacent-pair condition —
    the shape `_kleene_unit_chains` expands."""
    return (isinstance(p, Kleene) and p.max_len is not None
            and p.adjacent is None and _unit_body_ok(p.inner))


def _pre_expand_unit_bounded(inner: Node, reps: list) -> Node:
    """Rewrite BOUNDED composite Kleenes among the DIRECT Seq parts of
    an unbounded/forced-group repetition body into Or_-of-chains with
    per-branch-unique names (see `_kleene_unit_chains`) BEFORE the
    bottom-up expansion reaches them — the generic bounded expansion's
    ``{v}__{j}`` naming is only unique per alternative, and here the
    chains become branches of one position."""
    if not isinstance(inner, Seq):
        return inner
    new = []
    for p in inner.parts:
        if _is_bounded_unit_comp(p):
            new.append(Or_(*_kleene_unit_chains(p, reps)))
        else:
            new.append(p)
    if all(a is b for a, b in zip(new, inner.parts)):
        return inner
    return Seq(*new)


def _expand_nested_bounded(inner: Node, reps: list) -> Node:
    """Chain-expand BOUNDED leaf Kleenes nested inside an unbounded (or
    force-grouped) composite repetition: ``Kleene(b, max_len=m)``
    becomes ``Or_(b__1, Seq(b__1, b__2), ...)`` — exactly the Or_
    branch shape the group lowering executes as alternative sub-slots
    (one chain per within-repetition count r = 1..m), so e.g.
    ``Kleene(Seq(a, Kleene(b, max_len=2)), max_len=None)`` runs as a
    looping group without bounding the OUTER repetition.  Applied to
    the repetition body's direct Seq parts and Or_ branch lists;
    ``where`` conjuncts referencing the inner variable replicate per
    instance via `reps` (ALL-elements semantics, like every bounded
    expansion), and an adjacent-pair condition becomes a two-variable
    conjunct between consecutive chain events (same-branch events
    zip-align per repetition).  Unbounded nested Kleenes are left in
    place for _validate_group_inner to reject."""

    def _chains(k: Kleene) -> list:
        return _kleene_count_chains(k, reps)

    def _is_bounded_leaf(p) -> bool:
        return (isinstance(p, Kleene) and isinstance(p.inner, Ev)
                and p.max_len is not None)

    def _part(p):
        if _is_bounded_leaf(p):
            ch = _chains(p)
            return ch[0] if len(ch) == 1 else Or_(*ch)
        if isinstance(p, Or_):
            branches = []
            for b in p.parts:
                if _is_bounded_leaf(b):
                    branches.extend(_chains(b))
                else:
                    branches.append(b)
            return Or_(*branches) if len(branches) >= 2 else branches[0]
        if isinstance(p, And_):
            # a bounded leaf Kleene as an And_ MEMBER (session 10):
            # its count chains become the branches of an Or_ member
            # (exactly the session-9 unit shape — one chain binds per
            # repetition)
            mems = []
            for m in p.parts:
                if _is_bounded_leaf(m):
                    ch = _chains(m)
                    mems.append(ch[0] if len(ch) == 1 else Or_(*ch))
                else:
                    mems.append(m)
            if all(a is b for a, b in zip(mems, p.parts)):
                return p
            return And_(*mems)
        return p

    if isinstance(inner, Seq):
        new = [_part(p) for p in inner.parts]
        if all(a is b for a, b in zip(new, inner.parts)):
            return inner
        return Seq(*new)
    if isinstance(inner, (Or_, Kleene, And_)):
        return _part(inner)
    return inner


def _interleavings(blocks: tuple) -> list:
    """All merges of the leaf-tuples in ``blocks`` that preserve each
    block's internal order (linear extensions of the blockwise partial
    order).  For all-singleton blocks this enumerates exactly
    ``itertools.permutations``' order — load-bearing: the enumeration
    order fixes the ``__d{k}`` unit ordinals that feed merge signatures
    and streaming family fingerprints, so the all-leaf case must keep
    the ordinals the original phase-C permutation expansion assigned."""
    if not any(blocks):
        return [()]
    out = []
    for i, b in enumerate(blocks):
        if b:
            rest = blocks[:i] + (b[1:],) + blocks[i + 1:]
            out.extend((b[0],) + tail for tail in _interleavings(rest))
    return out


def _distribute_inner_or(inner: Node, reps: list) -> Node:
    """Distribute Or_ alternations nested INSIDE Seq units of an
    unbounded repetition body — branch Seqs of Or_ positions, Seq
    members of And_ positions, branches of Or_ members, and units of a
    bare Or_/And_ body — into flat alternative units at the enclosing
    choice level (session 12).  ``Or_(Seq(u, Or_(x, y)), c)`` becomes
    ``Or_(Seq(u__d1, x__d1), Seq(u__d2, y__d2), c)`` — the session-2
    multi-event-branch shape the group lowering already executes — and
    a Seq member ``Seq(w, Or_(p, q))`` of an And_ position becomes the
    session-9 Or_ member ``Or_(Seq(w__d1, p__d1), Seq(w__d2, q__d2))``.
    Every variable of every distributed unit (positive AND negated) is
    renamed with a per-unit ``__d{k}`` suffix, k a pattern-global unit
    ordinal deterministic in traversal order (the names feed merge
    signatures and streaming family fingerprints, so they must be
    stable across processes).  Nested Seqs splice (associativity) and
    deeper Or_ nesting re-distributes recursively.

    The bounded chain expansion — the semantics source of truth —
    needs no distribution: `_expand_or` multiplies the nested choice
    into alternatives with UNRENAMED vars.  To keep `where` conjuncts
    chain-exact, each distribution appends a ("units", names,
    unit_maps) entry to `reps`: compile_pattern replicates a conjunct
    referencing the original names once per unit WHOSE MAP COVERS ALL
    of them (branch vars evaluate per element = the repetitions that
    chose the unit, so the kept instances reproduce the chains'
    per-alternative variable filter exactly); a conjunct no single
    unit covers pairs choices that never coexist in one repetition —
    that raises loudly (the chains silently drop it from every
    alternative; README pins the divergence, same policy as
    branch+group-mate pairings)."""
    k_next = [1 + sum(len(m) for t, _, m in reps if t == "units")]

    def _lists(parts: tuple, reps_l: list | None = None) -> list[list]:
        # fully Or_-free flat unit part-lists: splice nested Seqs,
        # chain-expand bounded leaf Kleenes into per-count choices,
        # expand the first Or_ and recurse over each choice
        if reps_l is None:
            reps_l = reps
        flat: list = []
        for p in parts:
            flat.extend(p.parts if isinstance(p, Seq) else (p,))
        for i, p in enumerate(flat):
            if (isinstance(p, Kleene) and isinstance(p.inner, Ev)
                    and p.max_len is not None):
                ch = _kleene_count_chains(p, reps_l)
                p = ch[0] if len(ch) == 1 else Or_(*ch)
                flat = flat[:i] + [p] + flat[i + 1:]
            if isinstance(p, And_):
                # phase C (generalized): an And_ inside a unit binds
                # its members in ANY arrival order, strictly within
                # the unit — when every member expands to flat
                # leaf-tuple alternatives (a leaf, a Seq of leaves, a
                # bounded leaf Kleene's count chains, an Or_ or nested
                # And_ of those), every concrete bind realizes exactly
                # ONE linear extension of the blockwise order (strict
                # (ts, tiebreak) interleaving), so the Or_ of
                # interleavings is the exact distribution; with
                # all-leaf members that is the original permutation
                # expansion, same ordinals.  Gap Negs adjacent to the
                # And_ resolve per ordering to the chain expansion's
                # min/max member bind.  Unit count is the multinomial
                # of block sizes times the member-choice product —
                # compile-time only, same growth policy as the bounded
                # chain expansion.  Members that keep non-leaf parts
                # (e.g. interior Negs) leave the And_ in place for
                # _validate_group_inner's pointed rejection.
                pre_neg = i > 0 and isinstance(flat[i - 1], Neg)
                alts = _and_alts(p, reps_l, pre_neg)
                if alts is not None:
                    p = alts[0] if len(alts) == 1 else Or_(*alts)
                    flat = flat[:i] + [p] + flat[i + 1:]
            if isinstance(p, Or_):
                out: list = []
                for b in p.parts:
                    sub = tuple(b.parts) if isinstance(b, Seq) else (b,)
                    out.extend(_lists(
                        tuple(flat[:i]) + sub + tuple(flat[i + 1:]), reps_l
                    ))
                return out
        return [flat]

    def _and_alts(p, reps_l, pre_neg: bool = False) -> list | None:
        # expand a unit-interior And_ into the flat Seq alternatives
        # (member-choice combination x interleaving), or None when some
        # member cannot expand to flat leaf tuples.  The expandability
        # probe runs against a scratch reps list so a failed attempt
        # (e.g. a bounded-Kleene member next to a non-expandable one)
        # never registers conjunct-replication entries.
        #
        # Member-scoped Negs (session 13): a Neg between two leaves of
        # a member guards that member's OWN interval (prev_leaf,
        # next_leaf); a LEADING member Neg guards the gap from the
        # event before the And_ (within the unit, or the neighbouring
        # position) to the member's first leaf — the chain expansion's
        # semantics.  Under an interleaving, other members' events are
        # bound INSIDE the interval, and bound events are excluded from
        # gap kills (round-4 rule), so the interval decomposes exactly
        # into the sub-gaps between consecutive unit events along it —
        # the Neg is re-inserted into every such gap.  Two Negs in one
        # gap would be an invalid unit (and OR-merged gap conditions do
        # not exist), so shapes that could collide bail conservatively:
        # more than one Neg-carrying member, or a leading member Neg
        # when a Neg immediately precedes the And_ in the unit.
        # Trailing member Negs have no interval end — not expandable
        # (the chain expansion rejects them too: And_ is unordered).
        from itertools import product as _prod

        def _expand(into: list):
            per = []
            for m in p.parts:
                sub = _lists(
                    tuple(m.parts) if isinstance(m, Seq) else (m,), into
                )
                alts = []
                for lst in sub:
                    if not all(isinstance(q, (Ev, Neg)) for q in lst):
                        return None
                    if not lst or isinstance(lst[-1], Neg):
                        return None  # trailing member Neg: no interval end
                    if any(isinstance(a, Neg) and isinstance(b, Neg)
                           for a, b in zip(lst, lst[1:])):
                        return None
                    alts.append(tuple(lst))
                per.append(alts)
            carriers = [alts for alts in per if any(
                any(isinstance(q, Neg) for q in a) for a in alts)]
            if len(carriers) > 1:
                return None
            if pre_neg and any(
                isinstance(a[0], Neg) for alts in carriers for a in alts
            ):
                return None
            return per

        if _expand([]) is None:
            return None
        per = _expand(reps_l)
        units = []
        for combo in _prod(*per):
            blocks = []
            negs = []  # (prev_leaf_name or None, next_leaf_name, Neg)
            for alt in combo:
                blocks.append(tuple(q for q in alt if isinstance(q, Ev)))
                prev = None
                for j, q in enumerate(alt):
                    if isinstance(q, Neg):
                        nxt = next(x for x in alt[j + 1:]
                                   if isinstance(x, Ev))
                        negs.append((prev, nxt.name, q))
                    else:
                        prev = q.name
            for ilv in _interleavings(tuple(blocks)):
                if not negs:
                    units.append(ilv[0] if len(ilv) == 1 else Seq(*ilv))
                    continue
                idx = {e.name: j for j, e in enumerate(ilv)}
                parts: list = []
                for j, e in enumerate(ilv):
                    gap = [n for (pv, nx, n) in negs
                           if idx[nx] >= j and (pv is None or idx[pv] < j)]
                    assert len(gap) <= 1  # single carrier, disjoint intervals
                    parts.extend(gap)
                    parts.append(e)
                units.append(Seq(*parts))
        return units

    def _dist(seq: Seq):
        # None = no inner Or_ and no nested Seq; [unit] = normalized
        # only (no choice — vars unrenamed, no reps entry); [units...]
        # = distributed, every unit fully renamed
        lists = _lists(tuple(seq.parts))
        if len(lists) == 1:
            if len(lists[0]) == len(seq.parts) and all(
                a is b for a, b in zip(lists[0], seq.parts)
            ):
                return None
            u = lists[0]
            return [Seq(*u) if len(u) > 1 else u[0]]
        names = sorted({v for lst in lists for p in lst for v in _all_names(p)})
        units = []
        unit_maps = []
        for lst in lists:
            k = k_next[0]
            k_next[0] += 1
            m = {v: f"{v}__d{k}" for p in lst for v in _all_names(p)}
            unit_maps.append(m)
            rn = [_rename_node(p, m) for p in lst]
            units.append(Seq(*rn) if len(rn) > 1 else rn[0])
        reps.append(("units", names, unit_maps))
        return units

    def _alt_set(p):
        # an Or_ of branch units (an Or_ position, an Or_ member, or a
        # bare Or_ body): distribute each Seq branch with inner choices
        newb = []
        changed = False
        for b in p.parts:
            if isinstance(b, (Seq, And_)):
                # an And_ branch wraps as a one-part Seq; _lists
                # expands it when possible and returns it unchanged
                # (=> _dist None) when not
                u = _dist(b if isinstance(b, Seq) else Seq(b))
                if u is not None:
                    newb.extend(u)
                    changed = True
                    continue
            newb.append(b)
        return Or_(*newb) if changed else p

    def _conj(p):
        # an And_ of members (an And_ position or a bare And_ body): a
        # Seq member with inner choices becomes an Or_ member of its
        # distributed units; an Or_ member distributes its branches
        newm = []
        changed = False
        for m in p.parts:
            if isinstance(m, (Seq, And_)):
                # a nested And_ member binds its own members in any
                # order strictly within the repetition while siblings
                # interleave freely — when unit-expandable it becomes
                # an Or_ member of its interleavings (exactly one
                # linear extension holds per concrete bind)
                u = _dist(m if isinstance(m, Seq) else Seq(m))
                if u is not None:
                    newm.append(Or_(*u) if len(u) > 1 else u[0])
                    changed = True
                    continue
            elif isinstance(m, Or_):
                m2 = _alt_set(m)
                if m2 is not m:
                    newm.append(m2)
                    changed = True
                    continue
            newm.append(m)
        return And_(*newm) if changed else p

    def _pos(p):
        if isinstance(p, Or_):
            return _alt_set(p)
        if isinstance(p, And_):
            return _conj(p)
        return p

    if isinstance(inner, Seq):
        new = [_pos(p) for p in inner.parts]
        if all(a is b for a, b in zip(new, inner.parts)):
            return inner
        return Seq(*new)
    if isinstance(inner, (Or_, And_)):
        return _pos(inner)
    return inner


def _expand_composite_kleene(node: Node, reps: list, force_group: bool = False) -> Node:
    """Bottom-up rewrite of every composite-inner Kleene.  `reps`
    collects (inner_names, [per-repetition rename mapping]) so
    compile_pattern can replicate `where` conjuncts that reference the
    inner variables (ALL-repetitions semantics, mirroring the leaf
    Kleene's per-event condition rule).

    BOUNDED composites expand to an Or_ of fixed repetition chains
    (resolved at compile time so every executor + the SQL oracle handle
    them unchanged).  UNBOUNDED composites — or any composite under
    ``force_group`` — are left in place: `_collect` lowers them to a
    looping GROUP of kleene slots executed as a sub-automaton
    repetition in the NFA (batch.advance_groups)."""
    if isinstance(node, (Ev, Neg)):
        return node
    if isinstance(node, Kleene):
        if (node.max_len is None or force_group) and isinstance(node.inner, Seq):
            # BOUNDED composite Kleenes nested in this repetition body
            # become Or_ positions of count chains with per-branch
            # UNIQUE names (session 18) — must run BEFORE the bottom-up
            # recursion below reaches them with the per-alternative
            # {v}__{j} naming, which collides across branches of one
            # position
            pre = _pre_expand_unit_bounded(node.inner, reps)
            if pre is not node.inner:
                node = Kleene(pre, max_len=node.max_len,
                              adjacent=node.adjacent)
        inner = _expand_composite_kleene(node.inner, reps, force_group)
        if isinstance(inner, Ev):
            return node if inner is node.inner else Kleene(inner, max_len=node.max_len)
        if node.max_len is None or force_group:
            inner = _expand_nested_bounded(_flatten_or(inner), reps)
            inner = _distribute_inner_or(inner, reps)
            _validate_group_inner(Kleene(inner, max_len=node.max_len))
            return node if inner is node.inner else Kleene(inner, max_len=node.max_len)
        names = _all_names(inner)
        mappings = [{v: f"{v}__{j}" for v in names} for j in range(1, node.max_len + 1)]
        reps.append(("all", names, mappings))
        chains = []
        for r in range(1, node.max_len + 1):
            insts = [_rename_node(inner, mappings[j]) for j in range(r)]
            chains.append(insts[0] if r == 1 else Seq(*insts))
        return chains[0] if len(chains) == 1 else Or_(*chains)
    if isinstance(node, (Seq, And_, Or_)):
        return type(node)(
            *[_expand_composite_kleene(p, reps, force_group) for p in node.parts]
        )
    raise TypeError(f"unknown node {node!r}")


# --------------------------------------------------------------------------
# Or_ expansion


def _expand_or(node: Node) -> list[Node]:
    """Return the list of Or-free alternatives of `node`."""
    if isinstance(node, Ev) or isinstance(node, Kleene) or isinstance(node, Neg):
        return [node]
    if isinstance(node, Or_):
        out = []
        for p in node.parts:
            out.extend(_expand_or(p))
        return out
    if isinstance(node, (Seq, And_)):
        # cartesian product of children alternatives
        alts: list[list[Node]] = [[]]
        for p in node.parts:
            sub = _expand_or(p)
            alts = [prefix + [s] for prefix in alts for s in sub]
        ctor = Seq if isinstance(node, Seq) else And_
        return [ctor(*a) for a in alts]
    raise TypeError(f"unknown node {node!r}")


# --------------------------------------------------------------------------
# structural analysis of one Or-free alternative


def _collect(
    node: Node,
    prereq: frozenset,
    slots: list,
    negs: list,
    pending_gap: list,
    initial_kleene=None,
) -> frozenset:
    """Walk the structure assigning slot ids & prerequisites.

    Returns the frozenset of slot ids contained in `node` (positives only).
    `pending_gap` accumulates Neg nodes seen in a Seq awaiting their
    following part (to fill post_slots).

    ``initial_kleene`` is the one Kleene node (by identity) that STARTS
    the pattern — the root structure itself or the first part of the
    root Seq.  Only that node may carry an anchor-less leading Neg
    (its first-repetition look-back becomes the window-bounded root
    leading edge; the bounded chain expansion rejects every other
    anchor-less placement, so the group lowering must too).
    """
    if isinstance(node, Ev):
        sid = len(slots)
        slots.append(Slot(sid, node.name, node.where, prereq=prereq))
        return frozenset({sid})
    if isinstance(node, Kleene):
        if not isinstance(node.inner, Ev):
            # composite Kleene left unexpanded (unbounded, or forced
            # group lowering): one GROUP of kleene-storage slots, cycled
            # by the NFA as a sub-automaton repetition — repetition j
            # binds each sub-slot once, in Seq order, interleaved
            # strictly after repetition j-1 (a1 < b1 < a2 < b2 ...).
            gid = 1 + max(
                (s.group for s in slots if s.group is not None), default=-1
            )
            sids: list = []
            pos0_sids: list = []
            here = prereq
            open_neg = None  # Neg before a leaf: gap per repetition
            j = 0
            # Kleene over a bare Or_ (round 5): ONE position whose
            # branches are the Or_'s leaves — normalize to a
            # single-part body
            inner_parts = (
                # a bare Or_ (one position of branches) or a bare And_
                # with non-leaf members (session 10: one pos_all
                # position) normalizes to a single-position body
                [node.inner] if isinstance(node.inner, (Or_, And_))
                else node.inner.parts
            )
            lead_noanchor = False
            # trailing Negs inside a branch of the PREVIOUS position:
            # [(neg, branch_last_leaf_var)] awaiting the next position's
            # entry sids (their gap closes there), plus the previous
            # position's full var list for the NegSpec.br_guard
            trail_prev: list = []
            prev_pos_vars: list = []
            for part in inner_parts:
                if isinstance(part, Neg):
                    if j == 0 and not prereq:
                        # a LEADING Neg with NO positive part before the
                        # Kleene: when the group is PATTERN-INITIAL the
                        # chain expansion defines the semantics — the
                        # first repetition's look-back becomes the
                        # window-bounded root leading edge, later
                        # repetitions get the loop-back gap (repeat_lb,
                        # mirror of the trailing case).  Anywhere else
                        # (e.g. an And_ child — the chain expansion
                        # rejects those too) there is no left boundary.
                        if node is initial_kleene:
                            lead_noanchor = True
                        else:
                            raise ValueError(
                                "leading Neg inside an unbounded "
                                "composite Kleene requires a positive "
                                "part before the Kleene, or the Kleene "
                                "must START the pattern (first-"
                                "repetition look-back is then the "
                                "window-bounded leading edge)"
                            )
                    open_neg = part
                    continue
                # an Or_ part (round 5) contributes one sub-slot per
                # branch EVENT at the SAME grp_idx: each repetition
                # binds exactly one branch (alternative sub-slots of the
                # position); a Seq branch's events bind in br_idx order
                # before the position completes.  Negation specs and the
                # repetition count key on the ENTRY slots (br_idx == 0 —
                # exactly one entry bind per repetition).
                branches = part.parts if isinstance(part, Or_) else (part,)
                new_sids = []
                entry_sids = []
                trail_here: list = []  # trailing (neg, last_leaf_var) per branch
                if isinstance(part, Kleene):
                    # UNBOUNDED nested leaf Kleene (round 5, session
                    # 16): one LOOPING sub-slot at its own position —
                    # the repetition binds one event to enter it (the
                    # ordinary entry transition; a Neg before this part
                    # guards the gap to that FIRST element) and may
                    # append more elements of the same repetition's run
                    # via self-loop continue transitions while no later
                    # position of the repetition has bound
                    # (_successors; Slot.grp_loop / Transition.
                    # loop_cont).  The element tuple stays FLAT across
                    # repetitions — runs concatenate in bind order, and
                    # the run's last element is always the tuple's last,
                    # so gap specs OUT of the position (a following Neg,
                    # the loop-back / trailing gaps) read their left
                    # boundary from the ordinary pre_vars max.
                    # The loop may sit at ANY position, including 0
                    # (session 17): its ENTRY bind still happens exactly
                    # once per repetition — continue binds are separate
                    # loop_cont transitions that carry no gap specs and
                    # never count as repetition starts — so loop-back
                    # entry and per-repeat gap machinery key on it
                    # unchanged; only the bounded-cap repetition COUNT
                    # re-anchors on the first NON-loop position
                    # (batch.py grp_anchor_vars; validation guarantees
                    # one exists).  The inner is a plain leaf — or
                    # (session 18) a Seq of plain leaves: a looping
                    # UNIT position with one kleene sub-slot per inner
                    # leaf, br_idx-ordered exactly like a multi-event
                    # branch (entries and per-repeat gap specs key on
                    # the br_idx-0 slot; the unit's leaves bind in
                    # order through the ordinary (j, 0, k) mid pointer;
                    # re-entry for another inner repetition goes back
                    # through the first leaf via loop_cont transitions
                    # that SET the mid — see _successors).  Unit leaves
                    # zip-align per inner repetition (same-branch
                    # alignment, br_len > 1) and are loop vars like the
                    # leaf case (pairings with group mates reject).
                    if isinstance(part.inner, Seq):
                        uhere = here
                        u_evs = [x for x in part.inner.parts
                                 if isinstance(x, Ev)]
                        k2 = 0
                        u_neg = None  # Neg between two unit leaves
                        prev_usid = None
                        for x in part.inner.parts:
                            if isinstance(x, Neg):
                                # session 19: a per-INNER-repetition
                                # gap (this unit leaf, next unit leaf)
                                # — registered as a member-style gap
                                # (NegSpec.mem_gap) closing at the
                                # following leaf's bind, which happens
                                # once per inner repetition (first
                                # pass AND re-entered units alike;
                                # those binds go through the ordinary
                                # tuple path, never loop_cont, so the
                                # spec fires exactly there); pre_vars
                                # = the previous leaf only — its
                                # tuple's last element is always the
                                # SAME inner repetition's (strict
                                # in-unit order)
                                u_neg = x
                                continue
                            sid = len(slots)
                            slots.append(
                                Slot(sid, x.name, x.where,
                                     kleene=True, kleene_max=node.max_len,
                                     prereq=uhere, group=gid, grp_idx=j,
                                     br=0, br_idx=k2, br_len=len(u_evs),
                                     grp_loop=True)
                            )
                            if k2 == 0:
                                entry_sids.append(sid)
                            if u_neg is not None:
                                negs.append(
                                    (u_neg, ("repeat_mem",
                                             frozenset({sid}), prev_usid))
                                )
                                u_neg = None
                            new_sids.append(sid)
                            uhere = uhere | frozenset({sid})
                            prev_usid = sid
                            k2 += 1
                    else:
                        sid = len(slots)
                        slots.append(
                            Slot(sid, part.inner.name, part.inner.where,
                                 kleene=True, kleene_max=node.max_len,
                                 prereq=here, adjacent=part.adjacent,
                                 group=gid, grp_idx=j, grp_loop=True)
                        )
                        new_sids = [sid]
                        entry_sids = [sid]
                    branches = ()
                elif isinstance(part, And_):
                    # conjunctive position (round 5, sessions 6–7): one
                    # sub-slot per member EVENT at the SAME grp_idx with
                    # pos_all=True (br = member index, br_idx = event
                    # index within a Seq member) — the repetition binds
                    # EVERY member once, members in ANY interleaving, a
                    # Seq member's own events in br_idx order, all
                    # strictly between the neighbouring positions' binds
                    # (_successors tracks per-member progress in the mid
                    # pointer).  Members bind in every repetition, so
                    # their vars are ordinary zip-aligned group mates
                    # (NOT branch vars); the repetition count uses
                    # member 0's entry event only.  An adjacent Neg's
                    # gap closes at the repetition's FIRST member-entry
                    # bind — the chain expansion's min-over-members —
                    # so every member's br_idx-0 sid is an entry sid and
                    # the transition builder gates per-repeat gap specs
                    # on pos_all slots to position-ENTRY binds.
                    # Session 8: a Neg INSIDE a Seq member guards a gap
                    # scoped to that member — interior: (prev member
                    # leaf_j, next member leaf_j); leading: (previous
                    # position's bind / previous repetition's last
                    # event, member's first leaf_j).  Both close at a
                    # specific sub-slot's bind that may be MID-position
                    # (members interleave), so the spec carries
                    # NegSpec.mem_gap to bypass the entry gate, and its
                    # pre_vars exclude same-position siblings (they
                    # legally bind inside the gap).  Semantics = the
                    # bounded chain expansion's (_collect's And_/Seq
                    # handlers on each repetition copy).
                    # session 9: `br` is a UNIT counter — one unit per
                    # plain member (mem=None), one per BRANCH of an Or_
                    # member (mem = the member's index; each repetition
                    # binds exactly one unit of that member).  With no
                    # Or_ members, units == members (br = member index,
                    # as in sessions 6–8).
                    unit = 0
                    for bi, mem in enumerate(part.parts):
                        if isinstance(mem, Or_):
                            for brn in mem.parts:
                                bparts = (brn.parts if isinstance(brn, Seq)
                                          else (brn,))
                                b_evs = [y for y in bparts
                                         if isinstance(y, Ev)]
                                bhere2 = here
                                u_neg = None
                                prev_sid2 = None
                                k2 = 0
                                for x in bparts:
                                    if isinstance(x, Neg):
                                        # Neg inside an Or_-member
                                        # BRANCH (session 11): the unit's
                                        # own binds fire only in
                                        # repetitions that choose it, so
                                        # the session-8 member-gap
                                        # machinery applies unchanged —
                                        # interior: gap = the unit's own
                                        # adjacent leaves; leading: gap
                                        # INTO the position, closing at
                                        # the unit's entry bind.
                                        if k2 == 0 and j == 0 and not prereq:
                                            raise ValueError(
                                                "a leading Neg inside an "
                                                "Or_-member branch at the "
                                                "FIRST group position "
                                                "needs a positive part "
                                                "before the Kleene (the "
                                                "first repetition's gap "
                                                "has no left boundary "
                                                "otherwise)"
                                            )
                                        u_neg = x
                                        continue
                                    ev = x
                                    sid = len(slots)
                                    slots.append(
                                        Slot(sid, ev.name, ev.where,
                                             kleene=True,
                                             kleene_max=node.max_len,
                                             prereq=bhere2,
                                             group=gid, grp_idx=j, br=unit,
                                             br_idx=k2, br_len=len(b_evs),
                                             pos_all=True, mem=bi)
                                    )
                                    if k2 == 0:
                                        entry_sids.append(sid)
                                    if u_neg is not None:
                                        negs.append(
                                            (u_neg, ("repeat_mem",
                                                     frozenset({sid}),
                                                     prev_sid2))
                                        )
                                        u_neg = None
                                    new_sids.append(sid)
                                    bhere2 = bhere2 | frozenset({sid})
                                    prev_sid2 = sid
                                    k2 += 1
                                unit += 1
                            continue
                        mparts = mem.parts if isinstance(mem, Seq) else (mem,)
                        m_evs = [x for x in mparts if isinstance(x, Ev)]
                        mhere = here
                        m_neg = None
                        prev_sid = None
                        k = 0
                        for x in mparts:
                            if isinstance(x, Neg):
                                if k == 0 and j == 0 and not prereq:
                                    # LEADING the member at the first
                                    # position of a pattern-initial
                                    # group: the first repetition's gap
                                    # has no left boundary (same rule as
                                    # the chain expansion and Or_
                                    # branches)
                                    raise ValueError(
                                        "a leading Neg inside an And_ "
                                        "member at the FIRST group "
                                        "position needs a positive part "
                                        "before the Kleene (the first "
                                        "repetition's gap has no left "
                                        "boundary otherwise)"
                                    )
                                m_neg = x
                                continue
                            ev = x
                            sid = len(slots)
                            slots.append(
                                Slot(sid, ev.name, ev.where, kleene=True,
                                     kleene_max=node.max_len, prereq=mhere,
                                     group=gid, grp_idx=j, br=unit,
                                     br_idx=k, br_len=len(m_evs),
                                     pos_all=True)
                            )
                            if k == 0:
                                entry_sids.append(sid)
                            if m_neg is not None:
                                # member-scoped per-repetition gap:
                                # prev_sid None = leading (pre computed
                                # at spec build: prereq + other
                                # positions' slots)
                                negs.append(
                                    (m_neg, ("repeat_mem",
                                             frozenset({sid}), prev_sid))
                                )
                                m_neg = None
                            new_sids.append(sid)
                            mhere = mhere | frozenset({sid})
                            prev_sid = sid
                            k += 1
                        unit += 1
                    branches = ()  # skip the Or_-branch loop below
                for bi, brn in enumerate(branches):
                    parts_b = brn.parts if isinstance(brn, Seq) else (brn,)
                    evs = [x for x in parts_b if isinstance(x, Ev)]
                    bhere = here
                    br_neg = None  # Neg between two branch leaves
                    k = 0
                    for x in parts_b:
                        if isinstance(x, Neg):
                            # within-branch gap: guards (prev leaf, next
                            # leaf) of the SAME repetition — or, BEFORE
                            # the first leaf, the gap INTO the branch
                            # (previous position's event; previous
                            # repetition's last event / the anchor for
                            # position 0) — re-checked on every bind of
                            # the following sub-slot, i.e. exactly the
                            # repetitions that chose this branch
                            # (_validate_group_inner guarantees a leaf
                            # after every Neg)
                            if k == 0 and j == 0 and not prereq:
                                # LEADING the branch (no leaf bound yet)
                                # at the first position of a pattern-
                                # initial group: the first repetition
                                # has no left boundary, and the window-
                                # bounded edge treatment cannot be made
                                # branch-conditional
                                raise ValueError(
                                    "a leading Neg inside an Or_ branch "
                                    "at the FIRST group position needs "
                                    "a positive part before the Kleene "
                                    "(the first repetition's gap has no "
                                    "left boundary otherwise)"
                                )
                            br_neg = x
                            continue
                        ev = x
                        sid = len(slots)
                        slots.append(
                            Slot(sid, ev.name, ev.where, kleene=True,
                                 kleene_max=node.max_len, prereq=bhere,
                                 group=gid, grp_idx=j,
                                 br=bi, br_idx=k, br_len=len(evs))
                        )
                        if k == 0:
                            entry_sids.append(sid)
                        if br_neg is not None:
                            negs.append((br_neg, ("repeat", frozenset({sid}))))
                            br_neg = None
                        new_sids.append(sid)
                        bhere = bhere | frozenset({sid})
                        k += 1
                    if br_neg is not None:
                        # TRAILING the branch (session 5): the gap runs
                        # from this branch's last leaf to the next bind
                        # OUTSIDE the branch — registered once the next
                        # position's entry sids exist (or as loop-back +
                        # bubbled specs when this position is last),
                        # branch-gated via NegSpec.br_guard
                        trail_here.append((br_neg, slots[sid].var))
                if trail_prev:
                    # trailing branch Negs of the PREVIOUS position: gap
                    # closes at THIS position's entry bind, in exactly
                    # the repetitions whose previous-position bind was
                    # the guarded branch
                    for t_ng, t_bvar in trail_prev:
                        negs.append((t_ng, ("repeat", frozenset(entry_sids),
                                            (t_bvar, *prev_pos_vars))))
                    trail_prev = []
                if open_neg is not None:
                    if lead_noanchor:
                        # pattern-initial leading Neg: window-bounded
                        # look-back for the first repetition (root
                        # leading edge) + loop-back gap for later ones
                        negs.append(
                            (open_neg, ("repeat_lb", frozenset(entry_sids)))
                        )
                        negs.append((open_neg, "leading"))
                        lead_noanchor = False
                    else:
                        # per-repetition gap: re-checked on EVERY bind
                        # of this position's ENTRY sub-slot (see
                        # NegSpec.per_repeat) — for an Or_ position, on
                        # the entry bind of WHICHEVER branch the
                        # repetition chooses
                        negs.append(
                            (open_neg, ("repeat", frozenset(entry_sids)))
                        )
                    open_neg = None
                if j == 0:
                    pos0_sids = entry_sids
                if trail_here:
                    trail_prev = trail_here
                    prev_pos_vars = [slots[sid].var for sid in new_sids]
                sids.extend(new_sids)
                here = prereq | frozenset(sids)
                j += 1
            for t_ng, t_bvar in trail_prev:
                # trailing branch Neg at the LAST position: between
                # repetitions the gap closes at the loop-back entry
                # (repeat_lb, branch-gated on the PREVIOUS repetition's
                # last-position bind); the FINAL repetition's gap
                # bubbles to the enclosing Seq with the same guard
                t_guard = (t_bvar, *prev_pos_vars)
                negs.append(
                    (t_ng, ("repeat_lb", frozenset(pos0_sids), t_guard))
                )
                pending_gap.append((t_ng, t_guard))
            if open_neg is not None:
                # TRAILING Neg inside the repetition: between repetitions
                # it guards (last leaf of rep j, first leaf of rep j+1) —
                # checked only at loop-back binds of sub-slot 0 (the
                # first repetition has no predecessor).  The FINAL
                # repetition's gap bubbles up to the enclosing Seq (gap
                # to the next part, or window-bounded trailing at the
                # pattern end).
                negs.append((open_neg, ("repeat_lb", frozenset(pos0_sids))))
                pending_gap.append((open_neg, None))
            return frozenset(sids)
        sid = len(slots)
        slots.append(
            Slot(sid, node.name, node.inner.where, kleene=True,
                 kleene_max=node.max_len, prereq=prereq, adjacent=node.adjacent)
        )
        return frozenset({sid})
    if isinstance(node, Seq):
        acc = frozenset()
        here: frozenset = prereq
        # (neg, br_guard_or_None) — explicit Neg parts are unguarded;
        # trailing branch Negs bubbled out of an unbounded group carry
        # their branch guard through
        open_negs: list = []
        for part in node.parts:
            if isinstance(part, Neg):
                open_negs.append((part, None))
                continue
            # trailing Negs bubbled out of the PREVIOUS part (a nested
            # Seq or an unbounded group Kleene) guard the gap to THIS
            # part — same post_slots attachment as an explicit Neg here
            while pending_gap:
                open_negs.append(pending_gap.pop(0))
            ids = _collect(part, here, slots, negs, pending_gap,
                           initial_kleene)
            if open_negs:
                if here == prereq and not acc:
                    # leading Neg inside this Seq: only valid if the Seq
                    # itself has prerequisites (nested case); otherwise
                    # there is no left boundary.
                    if not prereq:
                        raise ValueError(
                            "leading Neg without a preceding positive part is unsupported (v1)"
                        )
                for ng, gd in open_negs:
                    # post_slots = first following part
                    negs.append((ng, ids if gd is None else ("gap", ids, gd)))
                open_negs = []
            acc |= ids
            here = prereq | acc
        # trailing Negs at the end of this Seq bubble up to the caller:
        # they guard the gap to whatever follows this Seq (an enclosing
        # Seq's next part), or become window-bounded trailing edge negs
        # at the pattern root (compile_pattern).
        pending_gap.extend(open_negs)
        return acc
    if isinstance(node, And_):
        acc = frozenset()
        for part in node.parts:
            if isinstance(part, Neg):
                negs.append((part, None))  # span-scoped
                continue
            ids = _collect(part, prereq, slots, negs, pending_gap,
                           initial_kleene)
            if pending_gap:
                # a trailing Neg bubbling out of an And_ child has no
                # ordered successor to end its gap (And_ is unordered)
                raise ValueError(
                    "trailing Neg inside an And_ part has no following "
                    "positive part to bound its gap (And_ is unordered)"
                )
            acc |= ids
        return acc
    raise TypeError(f"unexpected node {node!r}")


def _group_map(slots: list) -> dict:
    """group id -> slots in grp_idx order."""
    groups: dict[int, list] = {}
    for s in slots:
        if s.group is not None:
            groups.setdefault(s.group, []).append(s)
    for gs in groups.values():
        gs.sort(key=lambda s: s.grp_idx)
    return groups


def _successors(bound: frozenset, mid: frozenset, slots: list, groups: dict) -> list:
    """Every legal single-event bind out of automaton state (bound, mid):
    list of (slot, new_bound, new_mid, repeat, rep_start, loop_cont).

    Group rules: a group's current repetition binds its positions in
    order (tracked by `mid` as a next-index pointer; a conjunctive And_
    position binds its members in any order, `mid` holding per-member
    progress).  From a COMPLETE group that is still open (no
    bound successor outside it) a repetition-starting sub-slot may bind
    again (repeat=True — the executor appends to the element tuple;
    rep_start=True marks these loop-backs for the bounded-cap check); a
    slot whose prereq references a group may only bind while that group
    is between repetitions (complete), never mid-repetition.

    Or_ branches (round 5): alternative sub-slots share one grp_idx —
    position count (not slot count) drives the mid pointer / completion
    set, a prerequisite position is satisfied by ANY bound branch, and a
    loop-back may enter through a branch not yet in `bound` (the bound
    set then grows; repeat is per-SLOT — a branch's first bind creates
    its tuple, later binds append).  A multi-event (Seq) branch holds
    the mid pointer at (position, branch, next_br_idx) until its last
    event binds — the position then completes as one unit; entries and
    loop-backs only go through br_idx-0 sub-slots."""
    mid_d = dict(mid)
    by_sid = {s.sid: s for s in slots}
    pos_sids: dict = {}  # (gid, grp_idx) -> [sids]
    for x in slots:
        if x.group is not None:
            pos_sids.setdefault((x.group, x.grp_idx), []).append(x.sid)

    def _pos_units(gid, jj):
        # conjunctive position layout: unit br -> (member key, br_len).
        # A plain member is its own unit (key = its br); an Or_ member's
        # branches are sibling units sharing key ("m", mem) — exactly
        # one of them binds per repetition (session 9).
        out: dict = {}
        for sid2 in pos_sids[(gid, jj)]:
            x = by_sid[sid2]
            key = ("m", x.mem) if x.mem is not None else ("u", x.br)
            prev = out.get(x.br)
            out[x.br] = (key, max(x.br_idx + 1, prev[1] if prev else 0))
        return out

    def _pos_done(nprog, units):
        # the position completes when EVERY member has one unit fully
        # bound (cnt == the unit's br_len); for Or_-free positions this
        # equals the old slot-count sum
        cnts = dict(nprog)
        mems: dict = {}
        for b, (mk, bl) in units.items():
            mems.setdefault(mk, []).append((b, bl))
        return all(
            any(cnts.get(b, 0) == bl for b, bl in us)
            for us in mems.values()
        )

    def prereq_ok(s):
        # group-owned prereq sids are satisfied POSITION-wise: any bound
        # branch of the position counts (non-branch groups reduce to the
        # plain subset test)
        seen_pos = set()
        for p in s.prereq:
            sp = by_sid[p]
            if sp.group is None:
                if p not in bound:
                    return False
            else:
                key = (sp.group, sp.grp_idx)
                if key in seen_pos:
                    continue
                seen_pos.add(key)
                if not any(x in bound for x in pos_sids[key]):
                    return False
        return True

    def prereq_groups_ok(s):
        for gg, gs in groups.items():
            if gg == s.group or gg not in mid_d:
                continue
            if any(x.sid in s.prereq for x in gs):
                return False
        return True

    out = []
    for s in slots:
        if s.group is None:
            if s.sid in bound or not prereq_ok(s) or not prereq_groups_ok(s):
                continue
            out.append((s, bound | {s.sid}, mid, False, False, False))
            continue
        gs = groups[s.group]
        npos = gs[-1].grp_idx + 1  # positions, not slots (Or_ branches)
        if s.group in mid_d:
            cur = mid_d[s.group]
            nm = dict(mid_d)
            # group mid value: int j = waiting for position j's
            # entry bind; tuple (j, br, k) = inside a multi-event
            # branch of position j, waiting for its br_idx-k event;
            # (j, frozenset of (br, cnt)) = inside a conjunctive
            # (And_) position, cnt = events bound so far for member
            # br this repetition (absent ⇒ 0; complete ⇒ br_len)
            if (isinstance(cur, tuple) and len(cur) == 2
                    and isinstance(cur[1], frozenset)):
                jj, prog = cur
                if s.grp_idx != jj or not s.pos_all:
                    continue
                cnt = next((c for b, c in prog if b == s.br), 0)
                if s.br_idx != cnt:
                    continue  # wrong next event for this unit
                    # (cnt == br_len ⇒ unit complete: no slot has
                    # br_idx == br_len, so complete units never
                    # re-bind this repetition)
                units = _pos_units(s.group, jj)
                if s.mem is not None and any(
                    c > 0 and b != s.br
                    and units[b][0] == ("m", s.mem)
                    for b, c in prog
                ):
                    continue  # another branch of this Or_ member
                    # already chose this repetition (session 9)
                nprog = frozenset(
                    (b, c) for b, c in prog if b != s.br
                ) | {(s.br, cnt + 1)}
                if _pos_done(nprog, units):
                    if jj == npos - 1:
                        del nm[s.group]
                    else:
                        nm[s.group] = jj + 1
                else:
                    nm[s.group] = (jj, nprog)
                out.append(
                    (s, bound | {s.sid}, frozenset(nm.items()),
                     s.sid in bound, False, False)
                )
                continue
            if isinstance(cur, tuple):
                jj, bb, kk = cur
                if s.grp_idx != jj or s.br != bb or s.br_idx != kk:
                    continue
            else:
                if (s.grp_loop and cur == s.grp_idx + 1
                        and s.sid in bound and s.br_idx == 0):
                    # self-loop CONTINUE of an unbounded nested
                    # Kleene (session 16): mid == grp_idx+1
                    # means the next position's entry has NOT
                    # bound this repetition, so appending extends
                    # the CURRENT repetition's run (strict
                    # position interleaving preserved).  Leaf loop:
                    # state unchanged — a skip/take fork like the
                    # leaf Kleene's self-extension.  Composite UNIT
                    # loop (session 18, br_len > 1): re-entry
                    # through the unit's FIRST leaf starts another
                    # inner repetition — the mid returns to
                    # (grp_idx, 0, 1) and the unit's remaining
                    # leaves bind through the ordinary tuple path
                    # before anything outside the unit may bind
                    if s.br_len == 1:
                        out.append((s, bound, mid, True, False, True))
                    else:
                        nm2 = dict(mid_d)
                        nm2[s.group] = (s.grp_idx, 0, 1)
                        out.append((s, bound, frozenset(nm2.items()),
                                    True, False, True))
                    continue
                if cur != s.grp_idx or s.br_idx != 0:
                    continue
                jj = cur
            if s.pos_all:
                # entry into a conjunctive position (>= 2 members):
                # hold the mid at (j, {(first member, 1 event)})
                # until every member is fully bound
                nm[s.group] = (jj, frozenset({(s.br, 1)}))
            elif s.br_idx < s.br_len - 1:
                nm[s.group] = (jj, s.br, s.br_idx + 1)
            elif jj == npos - 1:
                del nm[s.group]
            else:
                nm[s.group] = jj + 1
            out.append(
                (s, bound | {s.sid}, frozenset(nm.items()), s.sid in bound,
                 False, False)
            )
            continue
        if (s.grp_loop and s.sid in bound and s.grp_idx == npos - 1):
            # the loop position ENDS the repetition body and the group
            # is complete (not in mid): extend the LATEST repetition's
            # run while the group is still OPEN — once a successor
            # outside the group binds, or a new repetition starts (mid
            # present, handled above), extension stops.  The tuple's
            # last elements are the latest repetition's, so the append
            # attributes correctly.  A composite UNIT loop (session 18)
            # re-enters through its FIRST leaf only, and the extension
            # re-opens the mid at (grp_idx, 0, 1) — the unit must
            # complete (restoring the group-complete state) before
            # anything outside it binds.
            g_sids = {x.sid for x in gs}
            if s.br_idx == 0 and not any(
                o.sid in bound and o.group != s.group and (g_sids & o.prereq)
                for o in slots
            ):
                if s.br_len == 1:
                    out.append((s, bound, mid, True, False, True))
                else:
                    nm2 = dict(mid_d)
                    nm2[s.group] = (s.grp_idx, 0, 1)
                    out.append((s, bound, frozenset(nm2.items()),
                                True, False, True))
            continue
        if s.grp_idx != 0 or s.br_idx != 0:
            continue  # a repetition always starts at position 0's entry
            # sub-slot
        nm = dict(mid_d)
        if s.pos_all:
            # conjunctive position 0: any member's ENTRY event may start
            # the repetition (the br_idx != 0 gate above holds the
            # others); the rest bind through the in-mid path
            nm[s.group] = (0, frozenset({(s.br, 1)}))
        elif s.br_len > 1:
            nm[s.group] = (0, s.br, 1)
        elif npos > 1:
            nm[s.group] = 1
        # else: a single-position group over single-event branches
        # (Kleene over a bare Or_ of leaves) completes its repetition at
        # the entry bind — it never goes mid
        fresh = not ({x.sid for x in gs} & bound)
        if fresh:
            # first repetition
            if not prereq_ok(s) or not prereq_groups_ok(s):
                continue
            out.append(
                (s, bound | {s.sid}, frozenset(nm.items()), False, False,
                 False)
            )
        else:
            # loop-back: group complete and still open.  A branch slot
            # first chosen at a LATER repetition enters here with
            # s.sid not yet in bound — bound grows and repeat=False
            # creates its tuple (non-branch loop-backs keep the old
            # bound-unchanged, repeat=True behavior).
            g_sids = {x.sid for x in gs}
            if any(
                o.sid in bound and o.group != s.group and (g_sids & o.prereq)
                for o in slots
            ):
                continue
            out.append(
                (s, bound | {s.sid}, frozenset(nm.items()), s.sid in bound,
                 True, False)
            )
    return out


def _complete_bound(bound: frozenset, slots: list, groups: dict) -> bool:
    """A bound set is match-complete when every non-group slot is bound
    and every group POSITION has at least one bound branch (Or_ branch
    slots share a position; a match need not ever bind every branch).
    For branch-free patterns this equals ``bound == all slot ids``."""
    for s in slots:
        if s.group is None and s.sid not in bound:
            return False
    for gs in groups.values():
        seen = {x.grp_idx for x in gs if x.sid in bound}
        if len(seen) != gs[-1].grp_idx + 1:
            return False
        # conjunctive (And_) positions additionally need EVERY member
        # bound — for an Or_ member, one fully bound unit (session 9)
        # (guaranteed by the mid-pointer mechanics once a repetition
        # completes — kept as a defensive invariant)
        by_pos: dict = {}
        for x in gs:
            if x.pos_all:
                by_pos.setdefault(x.grp_idx, []).append(x)
        for xs in by_pos.values():
            mems: dict = {}
            for x in xs:
                key = ("m", x.mem) if x.mem is not None else ("u", x.br)
                mems.setdefault(key, {}).setdefault(x.br, []).append(x)
            for units in mems.values():
                if not any(
                    all(u.sid in bound for u in us)
                    for us in units.values()
                ):
                    return False
    return True


def _reachable_states(slots: list) -> list:
    """BFS over reachable (down-closed bound set, mid-repetition) pairs."""
    groups = _group_map(slots)
    states: dict[tuple, State] = {}
    s0 = State(0, frozenset())
    states[(frozenset(), frozenset())] = s0
    order = [s0]
    frontier = [s0]
    while frontier:
        nxt = []
        for st in frontier:
            for s, nb, nm, repeat, _rs, _lc in _successors(
                st.bound, st.mid, slots, groups
            ):
                kk = (nb, nm)
                if kk not in states:
                    ns = State(
                        len(order), nb,
                        accepting=(
                            not nm and _complete_bound(nb, slots, groups)
                        ), mid=nm,
                    )
                    states[kk] = ns
                    order.append(ns)
                    nxt.append(ns)
        frontier = nxt
    return order


def _open_kleenes(bound: frozenset, slots: list) -> list:
    """LEAF Kleene slots in `bound` with no bound successor (still
    extensible).  Group slots extend via repeat transitions instead."""
    out = []
    for s in slots:
        if s.kleene and s.group is None and s.sid in bound:
            if not any(o.sid in bound and s.sid in o.prereq for o in slots):
                out.append(s.sid)
    return out


def compile_pattern(pat: Pattern, composite: str = "auto") -> CompiledPattern:
    """``composite`` picks the composite-Kleene lowering: "auto" expands
    BOUNDED composites to fixed repetition chains (exact SQL/join
    lowering) and lowers UNBOUNDED ones to looping slot groups (NFA
    sub-automaton repetition); "group" forces the group lowering even
    for bounded composites (the repetition cap then applies at the
    loop-back transition) — used by the chain-vs-group parity tests."""
    if composite not in ("auto", "group"):
        raise ValueError(f"unknown composite lowering {composite!r}")
    # composite-Kleene pre-pass: rewrite bounded Kleene(sub-structure)
    # into an Or_ of repetition chains; `where` conjuncts referencing the
    # inner variables replicate per repetition (ALL must hold — conjuncts
    # for repetitions absent from a lower-arity alternative drop out via
    # the standard per-alternative variable filter below).  Unbounded
    # composites stay in place and become slot GROUPS in _collect.
    reps: list = []
    expanded = _expand_composite_kleene(
        pat.structure, reps, force_group=(composite == "group")
    )
    if expanded is not pat.structure and not reps:
        # structure normalized without variable expansion (e.g. nested
        # Or_ flattening inside an unbounded repetition body, session
        # 11) — adopt it; `where` is untouched because no variable was
        # renamed or replicated
        pat = replace(pat, structure=expanded)
    if reps:
        new_conjs = []
        for c in pat.where.conjuncts():
            # apply entries SEQUENTIALLY in registration order (an
            # earlier entry's renamed targets may be the names of a
            # later one — e.g. nested-bounded chain instances inside a
            # distributed unit); entries with disjoint names compose
            # into the old cross product.
            #   "all"   — one instance per mapping combination: a
            #             conjunct over k expanded groups quantifies
            #             over the CROSS PRODUCT of their repetitions
            #             (ALL must hold — same semantics as the group
            #             lowering's element cross product)
            #   "units" — one instance per distributed unit whose map
            #             covers EVERY referenced name (the chains'
            #             per-alternative variable filter); a conjunct
            #             no unit covers raises (it pairs choices that
            #             never coexist in one repetition)
            insts = [c]
            for tag, names, maps in reps:
                nameset = set(names)
                out = []
                for inst in insts:
                    ref = set(inst.vars()) & nameset
                    if not ref:
                        out.append(inst)
                        continue
                    if tag == "all":
                        out.extend(subst(inst, m) for m in maps)
                    else:
                        elig = [m for m in maps if ref <= set(m)]
                        if not elig:
                            raise ValueError(
                                f"condition {inst!r} pairs variables from "
                                "different branches of an alternation "
                                "distributed inside one repetition unit — "
                                "they never coexist in a repetition (the "
                                "bounded chain expansion silently drops "
                                "such a condition from every alternative; "
                                "rewrite it per branch)"
                            )
                        out.extend(subst(inst, m) for m in elig)
                insts = out
            new_conjs.extend(insts)
        w: Cond = TRUE
        for c in new_conjs:
            w = w & c
        pat = replace(pat, structure=expanded, where=w)

    alternatives = []
    needed: dict[str, set] = {}

    def note_cols(c: Cond):
        for v, col in c.cols():
            needed.setdefault(v, set()).add(col)

    for alt_id, struct in enumerate(_expand_or(pat.structure)):
        struct = _flatten_seq(struct)
        slots: list = []
        raw_negs: list = []
        # leading/trailing Neg at the ROOT Seq: no gap boundary exists,
        # so they become window-bounded accept-time checks (the pattern
        # window is the look-back/look-ahead bound and is required).
        edge_negs: list = []  # (Neg, "leading" | "trailing")
        if isinstance(struct, Seq):
            parts = list(struct.parts)
            while parts and isinstance(parts[0], Neg):
                edge_negs.append((parts.pop(0), "leading"))
            while parts and isinstance(parts[-1], Neg):
                edge_negs.append((parts.pop(), "trailing"))
            if not parts:
                raise ValueError("pattern has no positive event leaf")
            if edge_negs:
                if pat.window is None:
                    raise ValueError(
                        "leading/trailing negation requires a pattern window "
                        "(it bounds the forbidden interval)"
                    )
                struct = Seq(*parts)
        pending: list = []
        # the one Kleene that STARTS the pattern (identity): the root
        # itself or the first part of the root Seq — may carry an
        # anchor-less leading Neg (see _collect docstring)
        initial_kleene = None
        if isinstance(struct, Kleene):
            initial_kleene = struct
        elif isinstance(struct, Seq) and isinstance(struct.parts[0], Kleene):
            initial_kleene = struct.parts[0]
        _collect(struct, frozenset(), slots, raw_negs, pending,
                 initial_kleene)
        for ng, gd in pending:
            # a trailing Neg bubbled all the way to the pattern end (a
            # nested Seq's — or an unbounded group repetition's — last
            # part): window-bounded look-ahead, same as a root trailing
            # (branch-gated when it bubbled out of an Or_ branch)
            if pat.window is None:
                raise ValueError(
                    "leading/trailing negation requires a pattern window "
                    "(it bounds the forbidden interval)"
                )
            raw_negs.append(
                (ng, "trailing" if gd is None else ("trailing", None, gd))
            )
        raw_negs.extend(edge_negs)
        if not slots:
            raise ValueError("pattern has no positive event leaf")

        var_of = {s.sid: s.var for s in slots}
        names = [s.var for s in slots]
        if len(set(names)) != len(names):
            raise ValueError(f"duplicate variable names in one alternative: {names}")
        kleene_vars = frozenset(s.var for s in slots if s.kleene)

        # split the global where into unary (merged into slot unary) and
        # multi-var conjuncts (attached to transitions); leaf conditions
        # may also carry multi-var conjuncts — hoist those too.
        unary, multi, sat_alt = split_conditions(pat.where)
        slot_list = []
        for s in slots:
            s_unary, s_multi, s_sat = split_conditions(s.unary)
            sat_alt = sat_alt and s_sat
            u = s_unary.get(s.var, TRUE)
            if s.var in unary:
                u = u & unary[s.var]
            multi.extend(s_multi)
            slot_list.append(replace(s, unary=u))
            if s.adjacent is not None:
                # {var}__prev reads the same physical columns as {var}
                for v, col in s.adjacent.cols():
                    base_v = v[: -len("__prev")] if v.endswith("__prev") else v
                    needed.setdefault(base_v, set()).add(col)
        if not sat_alt:
            # a zero-variable conjunct constant-folded to FALSE: the
            # alternative is unsatisfiable.  Compile it to match nothing
            # in every lowering (FALSE slot unary -> empty NFA mask,
            # FALSE join filter, `WHERE FALSE` oracle) rather than
            # silently dropping the conjunct.
            slot_list = [replace(s, unary=FALSE) for s in slot_list]
            multi = []
        slots = slot_list
        alt_vars = set(names)
        neg_names = {ng.name for ng, _ in raw_negs}
        multi = [c for c in multi if c.vars() <= alt_vars | neg_names]

        # negation specs (extract neg-var conjuncts before kleene checks).
        # Pull global-where conjuncts mentioning each neg var ONCE per
        # var (a trailing Neg inside an unbounded group produces TWO
        # specs for the same Neg node — loop-back gap + final-repetition
        # gap/trailing — and both must see the same conjuncts).
        pulled: dict[str, list] = {}
        for ng, _post in raw_negs:
            if ng.name in pulled:
                continue
            lst = [c for c in multi if ng.name in c.vars()]
            for c in lst:
                multi.remove(c)
            pulled[ng.name] = lst
        neg_specs: list[NegSpec] = []
        for ng, post in raw_negs:
            n_unary, n_multi, n_sat = split_conditions(ng.inner.where)
            if not n_sat:
                # the negated event is unsatisfiable -> the Neg can
                # never fire; drop the spec (its pulled global conjuncts
                # would only be evaluated against the never-existing
                # event — they stay dropped)
                continue
            u = n_unary.get(ng.name, TRUE) & unary.get(ng.name, TRUE)
            extra = [c for c in n_multi]
            extra.extend(pulled.get(ng.name, ()))
            for c in extra:
                if c.vars() & kleene_vars:
                    raise ValueError(
                        f"negation condition {c!r} may not reference a Kleene "
                        f"variable (per-element negation scope is undefined)"
                    )
            per_repeat = repeat_only = mem_gap = mem_lead = False
            br_guard: tuple = ()
            mem_pre = None  # prev member sid (interior) | None (leading)
            if isinstance(post, tuple) and isinstance(post[0], str):
                tag = post[0]
                if tag == "repeat_mem":
                    # Neg inside a Seq MEMBER of an And_ position
                    # (session 8): per-repetition gap closing at one
                    # specific member sub-slot, possibly mid-position
                    per_repeat = True
                    mem_gap = True
                    mem_pre = post[2]
                    mem_lead = mem_pre is None
                    post = post[1]
                else:
                    if len(post) > 2 and post[2]:
                        # branch-gated spec (trailing Neg inside an Or_
                        # branch): (branch_last_leaf_var, *position_vars)
                        br_guard = tuple(post[2])
                    if tag in ("repeat", "repeat_lb"):
                        per_repeat = True
                        repeat_only = tag == "repeat_lb"
                        post = post[1]
                    elif tag == "gap":
                        post = post[1]
                    elif tag == "trailing":
                        post = "trailing"
            if post is None:
                kind = "span"
            elif isinstance(post, str):
                kind = post  # "leading" | "trailing"
                # edge kinds registered inside _collect (pattern-initial
                # group leading Neg) bypass the root-pop window check
                if pat.window is None:
                    raise ValueError(
                        "leading/trailing negation requires a pattern "
                        "window (it bounds the forbidden interval)"
                    )
            else:
                kind = "gap"
            # structural left boundary of a gap: the variables whose
            # latest bound event precedes the gap.  The partial's
            # last_pos is NOT that boundary when another variable (an
            # And_ sibling) binds INSIDE the gap — the executor takes
            # the max over pre_vars' positions instead (kleene vars:
            # their tuple's last element).  For group-scoped specs the
            # group members join the set: at a repetition bind the max
            # over their last elements is exactly the same repetition's
            # previous leaf (or the previous repetition's last leaf).
            pre_vars: tuple = ()
            if kind == "gap":
                by_id = {s.sid: s for s in slots}
                pre_sids: set = set()
                if mem_gap:
                    if mem_pre is not None:
                        # interior member gap: the member's previous
                        # leaf of the SAME repetition is the boundary —
                        # And_ siblings legally bind inside the gap
                        pre_sids = {mem_pre}
                    else:
                        # leading member gap: anchor/previous positions
                        # (prereq) + the group's OTHER positions' slots
                        # (previous repetition's last event), excluding
                        # same-position siblings.  mem_lead stays True
                        # only for SINGLE-position groups (bare And_
                        # bodies), where no other position exists and
                        # the boundary must come from the per-transition
                        # gap_pre override instead — multi-position
                        # groups keep their exact static pre_vars (and
                        # their checkpoint fingerprints).
                        for sid in post:
                            s0 = by_id[sid]
                            pre_sids |= set(s0.prereq)
                            other = {
                                x.sid for x in slots
                                if x.group == s0.group
                                and x.grp_idx != s0.grp_idx
                            }
                            pre_sids |= other
                            if other:
                                mem_lead = False
                else:
                    for sid in post:
                        pre_sids |= set(by_id[sid].prereq)
                        if per_repeat and by_id[sid].group is not None:
                            pre_sids |= {
                                x.sid for x in slots if x.group == by_id[sid].group
                            }
                pre_sids -= set(post)
                pre_vars = tuple(sorted(by_id[sid].var for sid in pre_sids))
            neg_specs.append(
                NegSpec(ng.name, u, tuple(extra), kind,
                        post if isinstance(post, frozenset) else frozenset(),
                        per_repeat=per_repeat, repeat_only=repeat_only,
                        pre_vars=pre_vars, br_guard=br_guard,
                        mem_gap=mem_gap, mem_lead=mem_lead)
            )
            note_cols(u)
            for c in extra:
                note_cols(c)

        # conjuncts referencing a kleene var are evaluated per-element
        # (ALL must hold): at the kleene self-extension when the other
        # vars are already bound, or by (partial, element) pair expansion
        # at the transition that completes the variable set (batch.py
        # _eval_conds kleene expansion).  Conjuncts over TWO OR MORE
        # kleene vars quantify over the CROSS PRODUCT of their element
        # tuples (batch._eval_kleene_cond mixed-radix expansion; the
        # join lowering replicates the conjunct over every expanded
        # element-variable combination — same semantics).

        for s in slots:
            note_cols(s.unary)
        for c in multi:
            note_cols(c)

        # Or_ branch variables (alternative sub-slots at one group
        # position): a multi-var conjunct may reference one — evaluated
        # per element, i.e. over exactly the repetitions that chose the
        # branch, matching the chain expansion where instances for
        # unchosen repetitions drop out — and (round 5, session 2) may
        # pair it with variables of the SAME branch (a Seq branch's
        # events bind together in every repetition that chose it, so
        # their tuples zip-align exactly) — but NOT with any OTHER
        # variable of the same group: the branch's tuple has no element
        # for repetitions that chose a sibling, so the per-repetition
        # zip alignment is undefined.  Reject loudly instead of
        # mis-aligning (the bounded chain expansion silently drops such
        # conjuncts — worse).
        pos_count: dict = {}
        for s in slots:
            if s.group is not None:
                pos_count[(s.group, s.grp_idx)] = (
                    pos_count.get((s.group, s.grp_idx), 0) + 1
                )
        branch_vars = {
            s.var: s.group for s in slots
            # conjunctive (And_) position members share a position but
            # bind in EVERY repetition — ordinary zip-aligned group
            # mates, not branch vars.  Units of an Or_ MEMBER (session
            # 9, mem set) bind sparsely like Or_ position branches and
            # ARE branch vars.
            if s.group is not None and (
                (not s.pos_all and pos_count[(s.group, s.grp_idx)] > 1)
                or (s.pos_all and s.mem is not None)
                # an unbounded nested Kleene's variable (session 16)
                # binds a VARIABLE number of elements per repetition —
                # per-repetition zip alignment with its group mates
                # would need run slicing, so it evaluates per element
                # like a branch var and mate pairings reject below
                # (the bounded-inner chain expansion rejects the same
                # pairings: its chain instances are Or_-branch vars)
                or s.grp_loop
            )
        }
        if branch_vars:
            gvars = {}
            same_branch: dict = {}  # var -> vars of its multi-event branch
            by_branch: dict = {}
            for s in slots:
                if s.group is not None:
                    gvars.setdefault(s.group, set()).add(s.var)
                    if s.br_len > 1:
                        by_branch.setdefault(
                            (s.group, s.grp_idx, s.br), set()
                        ).add(s.var)
            for vs in by_branch.values():
                for v in vs:
                    same_branch[v] = vs
            loop_vars = {s.var for s in slots if s.grp_loop}
            for c in multi:
                for bv in set(c.vars()) & set(branch_vars):
                    mates = (gvars[branch_vars[bv]] - {bv}) & set(c.vars())
                    mates -= same_branch.get(bv, frozenset())
                    if not mates:
                        continue
                    if bv in loop_vars:
                        raise ValueError(
                            f"condition {c!r} pairs nested-Kleene "
                            f"variable {bv!r} with same-group "
                            f"variable(s) {sorted(mates)}: the nested "
                            "Kleene binds a VARIABLE number of elements "
                            "per repetition, so per-repetition "
                            "alignment with its group mates is "
                            "unsupported (bound the nested Kleene — "
                            "its chain instances then evaluate per "
                            "repetition — or rewrite the condition "
                            "over non-group variables)"
                        )
                    raise ValueError(
                        f"condition {c!r} references Or_-branch "
                        f"variable {bv!r} together with same-group "
                        f"variable(s) {sorted(mates)} outside its own "
                        "branch: a branch binds only in the "
                        "repetitions that chose it, so per-repetition "
                        "alignment with its group mates is undefined "
                        "(same-branch variables zip-align and ARE "
                        "allowed)"
                    )

        # build states
        states = _reachable_states(slots)
        groups = _group_map(slots)
        state_of = {(st.bound, st.mid): st.sid for st in states}
        slot_by_id = {s.sid: s for s in slots}
        vars_of_set = {st.bound: frozenset(var_of[i] for i in st.bound) for st in states}

        gap_idx = [i for i, n in enumerate(neg_specs) if n.kind == "gap"]
        # accept-time negs: span + the window-bounded edge kinds
        span_idx = tuple(
            i for i, n in enumerate(neg_specs)
            if n.kind in ("span", "leading", "trailing")
        )

        for st in states:
            bound_vars = vars_of_set[st.bound]
            for s, nb, nm, repeat, rep_start, loop_cont in _successors(
                st.bound, st.mid, slots, groups
            ):
                if not repeat:
                    conds = tuple(
                        c
                        for c in multi
                        if c.vars() <= bound_vars | {s.var}
                        and not c.vars() <= bound_vars
                    )
                elif s.pos_all:
                    # conjunctive (And_) position repetition bind: which
                    # member binds last varies per partial, so conjuncts
                    # touching ANY member of the position attach at the
                    # bind that COMPLETES the position (every member's
                    # tuple then ends with this repetition's element —
                    # the aligned evaluation pairs them correctly);
                    # non-completing binds carry none.  Conjuncts also
                    # referencing a LATER position defer to that
                    # position's own repetition bind, as usual.
                    cur_g = dict(nm).get(s.group)
                    pos_complete = not (
                        isinstance(cur_g, tuple) and len(cur_g) == 2
                        and isinstance(cur_g[1], frozenset)
                        and cur_g[0] == s.grp_idx
                    )
                    pos_vars = frozenset(
                        x.var for x in groups[s.group]
                        if x.grp_idx == s.grp_idx
                    )
                    later = frozenset(
                        x.var for x in groups[s.group]
                        if x.grp_idx > s.grp_idx
                    )
                    conds = tuple(
                        c
                        for c in multi
                        if pos_complete
                        and (c.vars() & pos_vars)
                        and c.vars() <= bound_vars
                        and not (c.vars() & later)
                    )
                else:
                    # repetition bind: re-check every conjunct the new
                    # element participates in — EXCEPT those also
                    # referencing a same-group var of a LATER sub-index
                    # (the per-repetition aligned pair isn't complete
                    # yet; that conjunct re-attaches at the later
                    # sub-slot's repetition bind).  Later same-BRANCH
                    # events (br_idx above ours) count as later too.
                    later = frozenset(
                        x.var for x in groups[s.group]
                        if x.grp_idx > s.grp_idx
                        or (x.grp_idx == s.grp_idx and x.br == s.br
                            and x.br_idx > s.br_idx)
                    )
                    conds = tuple(
                        c
                        for c in multi
                        if s.var in c.vars()
                        and c.vars() <= bound_vars
                        and not (c.vars() & later)
                    )
                # a gap ending at a conjunctive (And_) position closes
                # at the repetition's FIRST member bind (the chain
                # expansion's min-over-members boundary) — mid-position
                # member binds must not re-check it with a later end
                pos_entry = True
                if s.pos_all:
                    cur_src = dict(st.mid).get(s.group)
                    pos_entry = not (
                        isinstance(cur_src, tuple) and len(cur_src) == 2
                        and isinstance(cur_src[1], frozenset)
                    )
                gnegs = tuple(
                    gi
                    for gi in gap_idx
                    if s.sid in neg_specs[gi].post_slots
                    # a CONTINUE bind of an unbounded nested Kleene
                    # (session 16) never closes a gap: the gap INTO the
                    # position closed at the entry bind, and gaps OUT
                    # of it close at a later slot's bind
                    and not loop_cont
                    # member-scoped gaps (session 8) close at their own
                    # sub-slot's bind even mid-position
                    and (pos_entry or neg_specs[gi].mem_gap)
                    # loop-back-only gaps (trailing Neg in a group, or a
                    # pattern-initial leading Neg's later repetitions):
                    # the first repetition's entry bind has no
                    # predecessor.  Keyed on rep_start, NOT repeat — a
                    # loop-back entering through a not-yet-bound Or_
                    # branch has repeat=False but IS a later repetition
                    and (rep_start or not neg_specs[gi].repeat_only)
                    and (
                        neg_specs[gi].per_repeat  # once per repetition
                        or not (neg_specs[gi].post_slots & st.bound)
                    )
                )
                # gap-neg conditions must be evaluable now
                for gi in gnegs:
                    ns = neg_specs[gi]
                    avail = bound_vars | {s.var, ns.var}
                    for c in ns.multi:
                        if not c.vars() <= avail:
                            raise ValueError(
                                f"negation condition {c!r} references variables not "
                                f"bound when the gap closes ({sorted(avail)})"
                            )
                # LEADING member gaps in a SINGLE-position group (a bare
                # And_ body): static pre_vars reach only the anchor —
                # there is no other position whose last bind supplies
                # the previous repetition's boundary.  Attach the exact
                # boundary per transition: same-position vars at offset
                # -2 when the source state's mid pointer shows their
                # unit mid-repetition (their LAST element is the current
                # repetition's), -1 otherwise.  The previous
                # repetition's last event is always attained by some var
                # at its offset, and every candidate is <= it.
                gap_pre: tuple = ()
                lead_gis = tuple(
                    gi for gi in gnegs if neg_specs[gi].mem_lead
                )
                if lead_gis and s.pos_all and len(
                    {x.grp_idx for x in slots if x.group == s.group}
                ) == 1:
                    cur_src = dict(st.mid).get(s.group)
                    cnts: dict = {}
                    if (isinstance(cur_src, tuple) and len(cur_src) == 2
                            and isinstance(cur_src[1], frozenset)):
                        cnts = dict(cur_src[1])
                    off1, off2 = [], []
                    for x in slots:
                        if x.group != s.group:
                            continue
                        (off2 if cnts.get(x.br, 0) > x.br_idx
                         else off1).append(x.var)
                    gap_pre = tuple(
                        (gi, tuple(sorted(off1)), tuple(sorted(off2)))
                        for gi in lead_gis
                    )
                st.transitions.append(
                    Transition(
                        s.sid, state_of[(nb, nm)], conds, gnegs,
                        not nm and _complete_bound(nb, slots, groups),
                        repeat, rep_start, gap_pre, loop_cont,
                    )
                )
            # kleene self-loops: per-event conds = conjuncts mentioning the
            # kleene var whose OTHER vars are already bound in this state
            # (cross conds with later vars are enforced by pair expansion
            # at the completing transition instead)
            for ksid in _open_kleenes(st.bound, slots):
                k = slot_by_id[ksid]
                kconds = tuple(
                    c for c in multi
                    if k.var in c.vars() and c.vars() <= bound_vars | {k.var}
                )
                st.kleene_loops.append((ksid, kconds))

        # span-neg conditions must be evaluable with all vars bound (they are)
        var_order = [s.var for s in slots]
        # branch vars are EXCLUDED from the group alignment map:
        # conjuncts referencing them evaluate per-element over the
        # repetitions that chose the branch (independent-dimension
        # semantics); mixed branch+mate conjuncts were rejected above.
        # Events of one MULTI-EVENT branch (round 5, session 2) form
        # their own alignment dimension — their tuples zip per
        # repetition that chose the branch.
        var_group = {
            s.var: s.group for s in slots
            if s.group is not None and s.var not in branch_vars
        }
        for s in slots:
            if s.group is not None and s.var in branch_vars and s.br_len > 1:
                var_group[s.var] = (s.group, s.grp_idx, s.br)
        alternatives.append(
            CompiledAlternative(
                alt_id, slots, states, neg_specs, span_idx, var_order,
                kleene_vars, var_group,
            )
        )

    return CompiledPattern(pat, alternatives, {v: sorted(c) for v, c in needed.items()})
