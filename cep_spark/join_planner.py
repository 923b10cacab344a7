"""Fixed-arity lowering: compiled pattern -> one SQL text of self-joins,
run by Spark (``plan_join``) and by the DuckDB oracle (``oracle_sql_for``).

This is the 100-TB batch path (SURVEY.md §2.5 "joins" row): all-matches
CEP over a batch table is exactly a k-way theta self-join on
(key, time-band, payload predicates) — Kolchinsky & Schuster VLDB'18.
Everything stays in Catalyst/Tungsten: equi-join on the partition key +
band conditions on ts, negation as NOT EXISTS (keyed left-anti joins),
OR as UNION ALL, bounded Kleene as a UNION ALL over arities.  No Python
UDFs anywhere.

``expand_fixed`` expands the automaton into fixed-arity variants and
``oracle_sql_for`` renders them once, in SQL both engines read alike
(``conditions._sql_literal``; the window band as INTERVAL comparisons).
``plan_join`` hands that text to ``spark.sql``, so the Spark plan and the
oracle are the same query, built in a handful of Py4J round trips.
"""

from __future__ import annotations

from dataclasses import dataclass

from .compiler import CompiledPattern
from .conditions import TRUE, subst

__all__ = ["expand_fixed", "plan_join", "oracle_sql_for", "FixedAlt"]


@dataclass
class FixedAlt:
    alt_id: int
    # ordered var list: (out_var, unary Cond referencing out_var)
    vars: list
    order_pairs: list  # (v_before, v_after) strict (ts, tiebreak) order
    distinct_pairs: list  # unordered distinctness (And_ siblings)
    conds: list  # multi-var conjuncts (already var-renamed)
    negs: list  # (unary Cond on nvar, multi conds, nvar, pre_vars, post_vars, span_vars)
    kleene_emit: dict  # out kleene var -> (arity, [k1..kr])
    out_vars: list  # original var order for output columns


def expand_fixed(cp: CompiledPattern, kleene_arities: int | None = None) -> list[FixedAlt]:
    """Expand each alternative into fixed-arity variants.

    Unbounded Kleene requires explicit ``kleene_arities`` (the join path
    cannot enumerate unbounded powersets); bounded Kleene uses its own
    max_len.  Raises if unbounded and no bound given — callers fall back
    to the NFA executor."""
    out = []
    for alt in cp.alternatives:
        if alt.accept_tags is not None:
            raise ValueError(
                "merged multi-pattern automaton (merge_compiled) has no "
                "fixed-arity join lowering — its slots carry merged "
                "prereqs and per-tag acceptance; run it via the NFA "
                "executors (run_batch_multi / stream_matches_multi)"
            )
        if any(s.group is not None for s in alt.slots):
            raise ValueError(
                "unbounded composite Kleene (group lowering) has no fixed-"
                "arity expansion — repetitions interleave (a1<b1<a2<b2...); "
                "use the NFA executor (run_batch / stream_matches)"
            )
        k_slots = [s for s in alt.slots if s.kleene]
        arity_choices = [[None]]
        for ks in k_slots:
            m = ks.kleene_max if ks.kleene_max is not None else kleene_arities
            if m is None:
                raise ValueError(
                    f"unbounded Kleene var {ks.var!r}: join lowering needs a bound "
                    f"(use the NFA executor for exact powerset semantics)"
                )
            arity_choices = [prev + [r] for prev in arity_choices for r in range(1, m + 1)]
        for choice in arity_choices:
            arities = dict(zip([ks.sid for ks in k_slots], choice[1:]))
            fa = _expand_one(cp, alt, arities)
            out.append(fa)
    return out


def _expand_one(cp, alt, arities) -> FixedAlt:
    slots = {s.sid: s for s in alt.slots}
    # out var list per slot: scalar -> [var]; kleene -> [var__1..var__r]
    expansion: dict[int, list[str]] = {}
    for s in alt.slots:
        if s.kleene:
            r = arities[s.sid]
            expansion[s.sid] = [f"{s.var}__{j}" for j in range(1, r + 1)]
        else:
            expansion[s.sid] = [s.var]

    vars_out = []
    for s in alt.slots:
        for v in expansion[s.sid]:
            vars_out.append((v, subst(s.unary, {s.var: v})))

    order_pairs = []
    for s in alt.slots:
        evs = expansion[s.sid]
        # chain within an expanded kleene slot
        for a, b in zip(evs, evs[1:]):
            order_pairs.append((a, b))
        # prerequisites: last event of each prereq slot before first of s
        for pre in s.prereq:
            order_pairs.append((expansion[pre][-1], evs[0]))

    # distinctness for unordered sibling pairs (And_): any two vars not
    # related by the order partial order need explicit inequality
    reach = {v: set() for v, _ in vars_out}
    for a, b in order_pairs:
        reach[a].add(b)
    # transitive closure (tiny graphs)
    changed = True
    while changed:
        changed = False
        for a in reach:
            add = set()
            for b in reach[a]:
                add |= reach[b] - reach[a]
            if add:
                reach[a] |= add
                changed = True
    names = [v for v, _ in vars_out]
    distinct_pairs = []
    for i in range(len(names)):
        for j in range(i + 1, len(names)):
            a, b = names[i], names[j]
            if b not in reach[a] and a not in reach[b]:
                distinct_pairs.append((a, b))

    # conditions: transition conds + kleene per-event conds, renamed
    conds = []
    seen = set()
    for st in alt.states:
        for tr in st.transitions:
            for c in tr.conds:
                if repr(c) not in seen:
                    seen.add(repr(c))
                    conds.append(c)
        for _, kcs in st.kleene_loops:
            for c in kcs:
                if repr(c) not in seen:
                    seen.add(repr(c))
                    conds.append(c)
    final_conds = []
    for c in conds:
        kv = [s for s in alt.slots if s.kleene and s.var in c.vars()]
        if kv:
            # one substitution per element-variable combination: a
            # conjunct over N kleene vars quantifies over the CROSS
            # PRODUCT of their element tuples (ALL combinations), same
            # as batch._eval_kleene_cond's mixed-radix expansion
            from itertools import product as _product

            for combo in _product(*[expansion[ks.sid] for ks in kv]):
                final_conds.append(
                    subst(c, {ks.var: v for ks, v in zip(kv, combo)})
                )
        else:
            final_conds.append(c)
    # adjacent-pair kleene conditions: one instance per consecutive pair
    for s in alt.slots:
        if s.kleene and s.adjacent is not None:
            evs = expansion[s.sid]
            for a, b in zip(evs, evs[1:]):
                final_conds.append(subst(s.adjacent, {f"{s.var}__prev": a, s.var: b}))

    negs = []
    for spec in alt.negs:
        if spec.kind == "gap":
            post_first = [expansion[sid][0] for sid in spec.post_slots]
            pre_slots = set()
            for sid in spec.post_slots:
                pre_slots |= set(slots[sid].prereq)
            # a composite post part (e.g. Seq(v3, v4)) lists its own
            # earlier slots as prereqs of its later ones — those are not
            # a lower bound for the gap (the gap ends at the part's
            # FIRST event, it doesn't start inside the part)
            pre_slots -= set(spec.post_slots)
            pre_last = [expansion[sid][-1] for sid in pre_slots]
            # span carries ALL positive vars: events bound to other
            # variables of the match (And_ siblings can bind inside the
            # gap) are not negation candidates — pinned semantics,
            # matching the NFA's _gap_ok exclusion and the replica
            negs.append((spec.unary, list(spec.multi), spec.var, pre_last, post_first, names, "gap"))
        else:
            # span / leading / trailing all quantify over every positive var
            negs.append((spec.unary, list(spec.multi), spec.var, None, None, names, spec.kind))

    kleene_emit = {}
    for s in alt.slots:
        if s.kleene:
            kleene_emit[s.var] = (arities[s.sid], expansion[s.sid])

    return FixedAlt(
        alt.alt_id, vars_out, order_pairs, distinct_pairs, final_conds, negs,
        kleene_emit, [s.var for s in alt.slots],
    )


# --------------------------------------------------------------------------
# the one SQL rendering


def _lex_lt(a, b, ts, tb):
    return (
        f"({a}.{ts} < {b}.{ts} OR ({a}.{ts} = {b}.{ts} AND {a}.{tb} < {b}.{tb}))"
    )


def _distinct(a, b, ts, tb):
    return f"({a}.{ts} <> {b}.{ts} OR {a}.{tb} <> {b}.{tb})"


def plan_join(df, cp: CompiledPattern, kleene_arities: int | None = None):
    """Lower to Catalyst self-joins: ``oracle_sql_for``'s text run by
    ``spark.sql`` over ``df``, in the flat schema
    (``batch.match_schema_flat``): key, alt_id, per-var
    ``{v}_{tiebreak}`` (kleene: ``{v}_len/_first/_last``).  Catalyst
    prunes the unread columns and pushes each variable's unary
    conditions into the scan; negations become keyed left-anti joins.
    """
    from .batch import match_schema_flat

    text = oracle_sql_for(cp, "{t}", kleene_arities)
    out = df.sparkSession.sql(text, t=df)
    return out.to(match_schema_flat(cp, df.schema[cp.pattern.key].dataType))


def oracle_sql_for(cp: CompiledPattern, table: str, kleene_arities: int | None = None) -> str:
    """The fixed-arity lowering as one SQL text over ``table``, read
    alike by Spark (``plan_join``) and DuckDB (the oracle): per
    ``expand_fixed`` variant, a self-join on the key with the (ts,
    tiebreak) order, distinctness, window band and conditions in WHERE,
    one NOT EXISTS per negation; variants joined by UNION ALL.  Raises
    NotImplementedError for a condition with no SQL form (UserPred)."""
    pat = cp.pattern
    key, ts, tb = pat.key, pat.ts_col, pat.tiebreak_col
    w = pat.window_seconds()
    # the window as an exact interval; both engines read this form alike
    iv = f"INTERVAL '{w}' SECOND"
    fixed = expand_fixed(cp, kleene_arities)
    all_vars = cp.all_vars()
    kleene_all = set()
    for a in cp.alternatives:
        kleene_all |= set(a.kleene_vars)

    selects = []
    for fa in fixed:
        names = [v for v, _ in fa.vars]
        aliases = {v: v for v in names}
        frm = " CROSS JOIN ".join(f"{table} AS {v}" for v in names)
        wh = []
        for v in names[1:]:
            wh.append(f"{names[0]}.{key} = {v}.{key}")
        for a, b in fa.order_pairs:
            wh.append(_lex_lt(a, b, ts, tb))
        for a, b in fa.distinct_pairs:
            wh.append(_distinct(a, b, ts, tb))
        if w is not None:
            for i in range(len(names)):
                for j in range(i + 1, len(names)):
                    a, b = names[i], names[j]
                    wh.append(f"{b}.{ts} >= {a}.{ts} - {iv}")
                    wh.append(f"{b}.{ts} <= {a}.{ts} + {iv}")
        for v, unary in fa.vars:
            if not isinstance(unary, type(TRUE)):
                wh.append(unary.sql(aliases))
        for c in fa.conds:
            wh.append(c.sql(aliases))
        for ni, (n_unary, n_multi, nvar, pre, post, span, nkind) in enumerate(fa.negs):
            n = f"__neg{ni}"
            inner = [f"{n}.{key} = {names[0]}.{key}"]
            u = n_unary.sql({nvar: n})
            if u != "TRUE":
                inner.append(u)
            if nkind == "gap":
                for p in pre:
                    inner.append(_lex_lt(p, n, ts, tb))
                for p in post:
                    inner.append(_lex_lt(n, p, ts, tb))
                # exclude events bound to other match variables (an
                # And_ sibling can bind inside the gap)
                for p in span:
                    inner.append(_distinct(n, p, ts, tb))
            elif nkind in ("leading", "trailing"):
                # n strictly before (after) EVERY positive, within the
                # window of each
                for p in span:
                    if nkind == "leading":
                        inner.append(_lex_lt(n, p, ts, tb))
                        inner.append(f"{p}.{ts} <= {n}.{ts} + {iv}")
                    else:
                        inner.append(_lex_lt(p, n, ts, tb))
                        inner.append(f"{p}.{ts} >= {n}.{ts} - {iv}")
            else:
                inner.append("(" + " OR ".join(_lex_lt(p, n, ts, tb) for p in span) + ")")
                inner.append("(" + " OR ".join(_lex_lt(n, p, ts, tb) for p in span) + ")")
                for p in span:
                    inner.append(_distinct(n, p, ts, tb))
            for c in n_multi:
                inner.append(c.sql({nvar: n, **aliases}))
            wh.append(
                f"NOT EXISTS (SELECT 1 FROM {table} AS {n} WHERE "
                + " AND ".join(inner)
                + ")"
            )
        # every output column nullable, as in batch.match_schema_flat:
        # NULLIF(x, NULL) is x, declared nullable
        cols = [f"{names[0]}.{key} AS {key}",
                f"NULLIF(CAST({fa.alt_id} AS INT), NULL) AS alt_id"]
        for v in all_vars:
            if v in kleene_all:
                if v in fa.kleene_emit:
                    r, evs = fa.kleene_emit[v]
                    cols += [
                        f"NULLIF(CAST({r} AS BIGINT), NULL) AS {v}_len",
                        f"CAST({evs[0]}.{tb} AS BIGINT) AS {v}_first",
                        f"CAST({evs[-1]}.{tb} AS BIGINT) AS {v}_last",
                    ]
                else:
                    cols += [
                        f"CAST(NULL AS BIGINT) AS {v}_len",
                        f"CAST(NULL AS BIGINT) AS {v}_first",
                        f"CAST(NULL AS BIGINT) AS {v}_last",
                    ]
            elif v in names:
                cols.append(f"CAST({v}.{tb} AS BIGINT) AS {v}_{tb}")
            else:
                cols.append(f"CAST(NULL AS BIGINT) AS {v}_{tb}")
        selects.append(f"SELECT {', '.join(cols)} FROM {frm} WHERE "
                       + (" AND ".join(wh) or "TRUE"))
    return "\nUNION ALL\n".join(selects)
