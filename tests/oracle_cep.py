"""Brute-force pure-Python replica of the pinned CEP semantics.

This is the *executable specification* (SURVEY.md §5.2 item 2): a
deliberately naive enumeration, independent of cep_spark's compiler and
executors, used as the golden oracle on small inputs.  Semantics pinned
in cep_spark/pattern.py docstring (SURVEY.md §2.4).
"""

from __future__ import annotations

from dataclasses import replace as _dc_replace
from itertools import combinations, product

from cep_spark.compiler import compile_pattern
from cep_spark.pattern import And_, Ev, Kleene, Neg, Or_, Pattern, Seq


# --------------------------------------------------------------------------
# Unbounded composite Kleene: the replica stays independent of the group
# automaton by BOUNDING the closure at match time (a group of arity >= 2
# fits at most n//2 repetitions in an n-event group) and running the
# compile-time chain expansion, then folding the per-repetition variables
# (v__1..v__r) back into element tuples keyed by the original names.


def _unbounded_group_names(node) -> list:
    if isinstance(node, Ev):
        return []
    if isinstance(node, Kleene):
        if not isinstance(node.inner, Ev) and node.max_len is None:
            # positive leaves only: a Neg between leaves is not part of
            # the emitted binding (round 4: Neg inside unbounded groups);
            # an Or_ position contributes every branch name (round 5),
            # a Seq branch every event name (round 5, session 2); a
            # bare Or_ inner is a single position of branches
            positions = (
                # a bare Or_ or a bare And_ is a single position
                # (session 10: member And_ bodies lower as one
                # conjunctive position; leaf And_ members fold
                # identically)
                [node.inner] if isinstance(node.inner, (Or_, And_))
                else node.inner.parts
            )
            # session 12: choices may nest arbitrarily (Or_ inside a
            # branch/member Seq) — collect every positive leaf name
            # under the position, at any depth; Neg innards are not
            # part of the emitted binding (round 4 onward)
            def _ev_names(p):
                if isinstance(p, Ev):
                    return [p.name]
                if isinstance(p, Neg):
                    return []
                if isinstance(p, Kleene):
                    return _ev_names(p.inner)
                return [n for x in p.parts for n in _ev_names(x)]

            return [[n for p in positions for n in _ev_names(p)]]
        return _unbounded_group_names(node.inner)
    if isinstance(node, Neg):
        return _unbounded_group_names(node.inner)
    return [g for p in node.parts for g in _unbounded_group_names(p)]


def _bound_groups(node, n: int):
    """Bound each unbounded composite at n // arity repetitions (a group
    of arity m consumes m events per repetition)."""
    if isinstance(node, Ev):
        return node
    if isinstance(node, Kleene):
        inner = _bound_groups(node.inner, n)
        if not isinstance(inner, Ev) and node.max_len is None:
            # arity = MIN positive events one repetition consumes
            # (gives the max possible repetition count; an
            # under-estimate is safe, an over-estimate is not).
            # Session 12: choices nest arbitrarily — Or_ takes its
            # cheapest branch, Seq/And_ sum their parts, Negs are free.
            def _min_arity(p):
                if isinstance(p, Ev):
                    return 1
                if isinstance(p, Neg):
                    return 0
                if isinstance(p, Kleene):
                    return _min_arity(p.inner)
                if isinstance(p, Or_):
                    return min(_min_arity(b) for b in p.parts)
                return sum(_min_arity(x) for x in p.parts)

            arity = _min_arity(inner)
            return Kleene(inner, max_len=max(1, n // max(arity, 1)))
        return Kleene(inner, max_len=node.max_len, adjacent=node.adjacent)
    if isinstance(node, Neg):
        return Neg(_bound_groups(node.inner, n))
    return type(node)(*[_bound_groups(p, n) for p in node.parts])


def _fold_group_binding(b: dict, groups: list) -> dict:
    """Fold chain-expansion names v__j back into element tuples keyed by
    the original names.  Collected by scanning ALL repetition indices —
    an Or_ branch binds only in the repetitions that chose it, so its
    indices may be sparse (v__1 absent while v__3 present)."""
    import re

    base_names = {base for names in groups for base in names}
    out: dict = {}
    per_base: dict = {base: [] for base in base_names}
    for v, p in b.items():
        if v == "_alt":
            continue
        # one OR MORE __<idx> layers: a nested bounded COMPOSITE
        # Kleene's chain instances (session 18) carry an inner-instance
        # suffix UNDER the outer repetition suffix (b__i__j, or
        # b__r_j__k for unit chains) — strip the whole suffix stack
        # when the prefix is a group base name
        m = re.fullmatch(r"(.+?)((?:__\d+(?:_\d+)?)+)", v)
        if m and m.group(1) in base_names:
            per_base[m.group(1)].append(p)
        else:
            out[v] = p
    for base, items in per_base.items():
        if items:
            # chain prereqs pin instance order == position order
            # (repetition j's events all precede repetition j+1's, and
            # within a repetition the chain's instances bind in
            # position order), so sorting the POSITIONS reproduces the
            # group lowering's flat bind-order tuple.  An UNBOUNDED
            # nested leaf Kleene's chain instance binds a TUPLE per
            # repetition (session 16) — flatten first.
            out[base] = tuple(sorted(
                x for p in items
                for x in (p if isinstance(p, tuple) else (p,))
            ))
    out["_alt"] = 0  # arity alternatives collapse into the one group alt
    return out


def _env_for(df, binding):
    """binding: var -> position (int) or tuple of positions (kleene)."""
    env = {}
    for var, pos in binding.items():
        if isinstance(pos, tuple):
            env[var] = {c: [df[c].iloc[p] for p in pos] for c in df.columns}
        else:
            env[var] = {c: df[c].iloc[pos] for c in df.columns}
    return env


def _eval_scalar(cond, df, binding, aligned_groups=()):
    """Evaluate cond; kleene vars are evaluated per-event (ALL must
    hold).  Multiple referenced kleene vars quantify over the CROSS
    PRODUCT of their element tuples, except vars listed together in an
    ``aligned_groups`` entry (composite-Kleene group members): those are
    zip-ALIGNED per repetition (one dimension)."""
    kleene_vars = [v for v, p in binding.items() if isinstance(p, tuple)]
    referenced_kleene = [v for v in kleene_vars if v in cond.vars()]
    if not referenced_kleene:
        return bool(cond.pd(_env_for(df, {v: p for v, p in binding.items() if not isinstance(p, tuple)})))
    # dimensions: aligned groups collapse to one dimension of var-tuples
    dims = []  # list of (vars, list of per-repetition position tuples)
    rest = list(referenced_kleene)
    for grp in aligned_groups:
        vs = [v for v in rest if v in grp]
        if vs:
            for v in vs:
                rest.remove(v)
            dims.append((vs, list(zip(*[binding[v] for v in vs]))))
    for v in rest:
        dims.append(([v], [(p,) for p in binding[v]]))
    for combo in product(*[opts for _, opts in dims]):
        b2 = {v: pp for v, pp in binding.items() if not isinstance(pp, tuple)}
        for (vs, _), picked in zip(dims, combo):
            for v, p in zip(vs, picked):
                b2[v] = p
        if not bool(cond.pd(_env_for(df, b2))):
            return False
    return True


def match_group(pat: Pattern, df) -> list[dict]:
    """All matches in one key-group.  df: pandas DataFrame (any order).
    Returns list of bindings var -> position-in-sorted-order (kleene vars
    -> tuple of positions).  Positions index the (ts, tiebreak)-sorted df.
    """
    df = df.sort_values([pat.ts_col, pat.tiebreak_col]).reset_index(drop=True)
    n = len(df)
    groups = _unbounded_group_names(pat.structure)
    if groups:
        if _has_or_outside_groups(pat.structure):
            # Or_ INSIDE an unbounded group folds cleanly (branch names
            # are group names); an Or_ elsewhere multiplies alternatives
            # whose ids the fold cannot map back — unsupported
            raise NotImplementedError(
                "replica fold does not support Or_ outside unbounded groups"
            )
        pat = _dc_replace(pat, structure=_bound_groups(pat.structure, n))
    cp = compile_pattern(pat)
    W = pat.window_seconds()
    out = []

    for alt in cp.alternatives:
        # candidate positions per slot (unary filter)
        cands = {}
        for s in alt.slots:
            ok = []
            for i in range(n):
                env = {s.var: {c: df[c].iloc[i] for c in df.columns}}
                if bool(s.unary.pd(env)):
                    ok.append(i)
            cands[s.sid] = ok

        # enumerate assignments by BACKTRACKING over slots in sid order
        # (prereq sids always precede, so ordering and window-span prune
        # incrementally — pure search-space reduction: distinctness,
        # order, and span are re-checked in full below, and every
        # semantic filter — conditions, adjacency, negation — still
        # runs on each complete assignment)
        choices = {}
        for s in alt.slots:
            if s.kleene:
                subsets = []
                for r in range(1, len(cands[s.sid]) + 1):
                    if s.kleene_max is not None and r > s.kleene_max:
                        break
                    subsets.extend(combinations(cands[s.sid], r))
                choices[s.sid] = subsets
            else:
                choices[s.sid] = [(i,) for i in cands[s.sid]]

        ts_all = df[pat.ts_col]
        assignments = []

        def _rec(idx, positions, used):
            if idx == len(alt.slots):
                assignments.append(dict(positions))
                return
            s = alt.slots[idx]
            for ps in choices[s.sid]:
                if any(p in used for p in ps):
                    continue
                if any(max(positions[pre]) >= min(ps) for pre in s.prereq):
                    continue
                if W is not None:
                    flat_now = [p for q in positions.values() for p in q] + list(ps)
                    tss = [ts_all.iloc[p] for p in flat_now]
                    if (max(tss) - min(tss)).total_seconds() > W:
                        continue
                positions[s.sid] = ps
                _rec(idx + 1, positions, used | set(ps))
                del positions[s.sid]

        _rec(0, {}, frozenset())

        for positions in assignments:
            flat = [p for ps in positions.values() for p in ps]
            if len(set(flat)) != len(flat):
                continue
            # structural order: all events of prereq slots strictly before
            ok = True
            for s in alt.slots:
                for pre in s.prereq:
                    if max(positions[pre]) >= min(positions[s.sid]):
                        ok = False
                        break
                if not ok:
                    break
            if not ok:
                continue
            # window span
            if W is not None:
                tss = [df[pat.ts_col].iloc[p] for p in flat]
                if (max(tss) - min(tss)).total_seconds() > W:
                    continue
            binding = {}
            for s in alt.slots:
                binding[s.var] = positions[s.sid] if s.kleene else positions[s.sid][0]
            binding = {
                v: (tuple(sorted(p)) if isinstance(p, tuple) else p) for v, p in binding.items()
            }
            # multi-var conditions: collect all transition conds + kleene-loop conds
            conds = set()
            for st in alt.states:
                for tr in st.transitions:
                    conds.update(tr.conds)
                for _, kcs in st.kleene_loops:
                    conds.update(kcs)
            if not all(_eval_scalar(c, df, binding) for c in conds):
                continue
            # adjacent-pair kleene conditions (consecutive chosen events)
            adj_ok = True
            for s in alt.slots:
                if s.kleene and s.adjacent is not None:
                    ps = binding[s.var]
                    for p_prev, p_next in zip(ps, ps[1:]):
                        env = {
                            f"{s.var}__prev": {c: df[c].iloc[p_prev] for c in df.columns},
                            s.var: {c: df[c].iloc[p_next] for c in df.columns},
                        }
                        if not bool(s.adjacent.pd(env)):
                            adj_ok = False
                            break
                if not adj_ok:
                    break
            if not adj_ok:
                continue
            # negation
            failed = False
            for spec in alt.negs:
                ts_guard = None  # extra per-candidate time bound (leading/trailing)
                if spec.kind == "gap":
                    post_min = min(min(positions[sid]) for sid in spec.post_slots)
                    pre_slots = set()
                    for sid in spec.post_slots:
                        pre_slots |= set(
                            next(s for s in alt.slots if s.sid == sid).prereq
                        )
                    # exclude the post part's own slots: the gap ends at
                    # the part's FIRST event, it doesn't start inside it
                    pre_slots -= set(spec.post_slots)
                    lo = max(max(positions[sid]) for sid in pre_slots & set(positions))
                    hi = post_min
                elif spec.kind == "leading":
                    lo, hi = -1, min(flat)
                    last_ts = df[pat.ts_col].iloc[max(flat)]
                    ts_guard = lambda t: (last_ts - t).total_seconds() <= W  # noqa: E731
                elif spec.kind == "trailing":
                    lo, hi = max(flat), n
                    first_ts = df[pat.ts_col].iloc[min(flat)]
                    ts_guard = lambda t: (t - first_ts).total_seconds() <= W  # noqa: E731
                else:  # span
                    lo, hi = min(flat), max(flat)
                for j in range(lo + 1, hi):
                    if j in flat:
                        continue
                    if ts_guard is not None and not ts_guard(df[pat.ts_col].iloc[j]):
                        continue
                    env1 = {spec.var: {c: df[c].iloc[j] for c in df.columns}}
                    if not bool(spec.unary.pd(env1)):
                        continue
                    b2 = dict(binding)
                    b2[spec.var] = j
                    if all(_eval_scalar(c, df, b2) for c in spec.multi):
                        failed = True
                        break
                if failed:
                    break
            if failed:
                continue
            binding["_alt"] = alt.alt_id
            if binding not in out:
                out.append(binding)
    if groups:
        folded = []
        for b in out:
            fb = _fold_group_binding(b, groups)
            if fb not in folded:
                folded.append(fb)
        return folded
    return out


def _has_or(node) -> bool:
    if isinstance(node, Or_):
        return True
    if isinstance(node, Ev):
        return False
    if isinstance(node, (Kleene, Neg)):
        return _has_or(node.inner)
    return any(_has_or(p) for p in node.parts)


def _has_or_outside_groups(node) -> bool:
    """True if an Or_ occurs anywhere EXCEPT inside an unbounded
    composite Kleene's body.  An Or_ inside the body — at ANY depth
    since session 12 (nested choices distribute at compile time while
    the chain expansion keeps original names) — folds per branch: every
    chain variable is an original Ev name plus one ``__{j}`` repetition
    suffix, which `_fold_group_binding` maps back.  An Or_ elsewhere
    multiplies alternatives whose ids the fold cannot map."""
    if isinstance(node, Or_):
        return True
    if isinstance(node, Ev):
        return False
    if isinstance(node, Neg):
        return _has_or_outside_groups(node.inner)
    if isinstance(node, Kleene):
        inner = node.inner
        if not isinstance(inner, Ev) and node.max_len is None:
            return False
        return _has_or_outside_groups(inner) if not isinstance(inner, Ev) else False
    return any(_has_or_outside_groups(p) for p in node.parts)


def match_frame(pat: Pattern, df) -> list[tuple]:
    """All matches across the frame, keyed by pat.key.

    Returns sorted list of (key, frozen binding) where binding maps var ->
    tuple of tiebreak values (len>1 only for kleene)."""
    results = []
    for key, g in df.groupby(pat.key):
        g2 = g.sort_values([pat.ts_col, pat.tiebreak_col]).reset_index(drop=True)
        for b in match_group(pat, g2):
            frozen = []
            for v in sorted(x for x in b if x != "_alt"):
                p = b[v]
                tb = (
                    tuple(int(g2[pat.tiebreak_col].iloc[i]) for i in p)
                    if isinstance(p, tuple)
                    else (int(g2[pat.tiebreak_col].iloc[p]),)
                )
                frozen.append((v, tb))
            results.append((key, b["_alt"], tuple(frozen)))
    return sorted(results)
