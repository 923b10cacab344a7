"""Fixed-arity lowering: compiled pattern -> pure DataFrame self-joins
and the equivalent DuckDB oracle SQL, from ONE shared expansion.

This is the 100-TB batch path (SURVEY.md §2.5 "joins" row): all-matches
CEP over a batch table is exactly a k-way theta self-join on
(key, time-band, payload predicates) — Kolchinsky & Schuster VLDB'18.
Everything stays in Catalyst/Tungsten: equi-join on the partition key +
band conditions on ts, negation as left-anti joins, OR as UNION ALL,
bounded Kleene as a UNION ALL over arities.  No Python UDFs anywhere.

The same expansion prints the oracle SQL for the driver's DuckDB gate,
so the Spark plan and the oracle can never drift apart structurally.
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
# shared comparison helpers


def _lex_lt_sql(a, b, ts, tb):
    return (
        f"({a}.{ts} < {b}.{ts} OR ({a}.{ts} = {b}.{ts} AND {a}.{tb} < {b}.{tb}))"
    )


def _lex_lt_col(A, B, ts, tb):
    from pyspark.sql import functions as F

    return (F.col(f"{A}.{ts}") < F.col(f"{B}.{ts}")) | (
        (F.col(f"{A}.{ts}") == F.col(f"{B}.{ts}"))
        & (F.col(f"{A}.{tb}") < F.col(f"{B}.{tb}"))
    )


class _AliasCols:
    def __init__(self, alias):
        self.alias = alias

    def __getitem__(self, col):
        from pyspark.sql import functions as F

        return F.col(f"{self.alias}.{col}")


# --------------------------------------------------------------------------
# Spark plan


def plan_join(df, cp: CompiledPattern, kleene_arities: int | None = None):
    """Lower to DataFrame self-joins.  Output = the flat schema
    (``batch.match_schema_flat``): key, alt_id, per-var
    ``{v}_{tiebreak}`` (kleene: ``{v}_len/_first/_last``).
    """
    from pyspark.sql import functions as F

    from .batch import _select_names, match_schema_flat

    pat = cp.pattern
    key, ts, tb = pat.key, pat.ts_col, pat.tiebreak_col
    w = pat.window_seconds()
    fixed = expand_fixed(cp, kleene_arities)

    # prune columns once: key/ts/tb + any referenced column
    needed = {key, ts, tb}
    for v, cols in cp.needed_cols.items():
        needed.update(cols)
    base = _select_names(df, [c for c in df.columns if c in needed])

    results = []
    all_vars = cp.all_vars()
    kleene_all = set()
    for a in cp.alternatives:
        kleene_all |= set(a.kleene_vars)

    for fa in fixed:
        var_cols = {v: _AliasCols(v) for v, _ in fa.vars}
        nvar_alias = {}
        cur = None
        bound = []
        pending = list(fa.conds)
        for v, unary in fa.vars:
            dv = base.filter(unary.spark_col()).alias(v)
            if cur is None:
                cur = dv
                bound.append(v)
                continue
            on = F.col(f"{bound[0]}.{key}") == F.col(f"{v}.{key}")
            # order constraints involving v and bound vars
            for a, b in fa.order_pairs:
                if b == v and a in bound:
                    on = on & _lex_lt_col(a, v, ts, tb)
                elif a == v and b in bound:
                    on = on & _lex_lt_col(v, b, ts, tb)
            for a, b in fa.distinct_pairs:
                o = b if a == v else (a if b == v else None)
                if o is not None and o in bound:
                    on = on & (
                        (F.col(f"{v}.{ts}") != F.col(f"{o}.{ts}"))
                        | (F.col(f"{v}.{tb}") != F.col(f"{o}.{tb}"))
                    )
            # window band vs every bound var (≡ span<=W overall; also gives
            # Catalyst a tight band for pruning)
            if w is not None:
                iv = F.expr(f"INTERVAL '{w}' SECOND")
                for o in bound:
                    on = (
                        on
                        & (F.col(f"{v}.{ts}") >= F.col(f"{o}.{ts}") - iv)
                        & (F.col(f"{v}.{ts}") <= F.col(f"{o}.{ts}") + iv)
                    )
            # payload conditions that become fully bound now
            for c in list(pending):
                if c.vars() <= set(bound) | {v} and v in c.vars():
                    on = on & c.spark_col(var_cols)
                    pending.remove(c)
            cur = cur.join(dv, on, "inner")
            bound.append(v)
        for c in pending:  # single-var leftovers etc.
            cur = cur.filter(c.spark_col(var_cols))

        # negation: left-anti joins
        for ni, (n_unary, n_multi, nvar, pre, post, span, nkind) in enumerate(fa.negs):
            nalias = f"__neg{ni}"
            ndf = base.filter(subst(n_unary, {nvar: nalias}).spark_col()).alias(nalias)
            on = F.col(f"{bound[0]}.{key}") == F.col(f"{nalias}.{key}")
            if nkind == "gap":
                for p in pre:
                    on = on & _lex_lt_col(p, nalias, ts, tb)
                for p in post:
                    on = on & _lex_lt_col(nalias, p, ts, tb)
                # events bound to other match variables are not
                # negation candidates (an And_ sibling can bind inside
                # the gap) — same exclusion as the span kind
                for p in span:
                    on = on & (
                        (F.col(f"{nalias}.{ts}") != F.col(f"{p}.{ts}"))
                        | (F.col(f"{nalias}.{tb}") != F.col(f"{p}.{tb}"))
                    )
            elif nkind in ("leading", "trailing"):
                # n strictly before (after) EVERY positive ≡ before the
                # earliest (after the latest); window bounds the reach:
                # leading  : p.ts - n.ts <= W for all p (binds the max)
                # trailing : n.ts - p.ts <= W for all p (binds the min)
                iv = F.expr(f"INTERVAL '{w}' SECOND")
                for p in span:
                    if nkind == "leading":
                        on = on & _lex_lt_col(nalias, p, ts, tb)
                        on = on & (F.col(f"{p}.{ts}") <= F.col(f"{nalias}.{ts}") + iv)
                    else:
                        on = on & _lex_lt_col(p, nalias, ts, tb)
                        on = on & (F.col(f"{p}.{ts}") >= F.col(f"{nalias}.{ts}") - iv)
            else:
                after_any = None
                before_any = None
                for p in span:
                    ga = _lex_lt_col(p, nalias, ts, tb)
                    gb = _lex_lt_col(nalias, p, ts, tb)
                    after_any = ga if after_any is None else (after_any | ga)
                    before_any = gb if before_any is None else (before_any | gb)
                    on = on & (
                        (F.col(f"{nalias}.{ts}") != F.col(f"{p}.{ts}"))
                        | (F.col(f"{nalias}.{tb}") != F.col(f"{p}.{tb}"))
                    )
                on = on & after_any & before_any
            ncols = {nalias: _AliasCols(nalias), **var_cols}
            for c in n_multi:
                on = on & subst(c, {nvar: nalias}).spark_col(ncols)
            cur = cur.join(ndf, on, "left_anti")

        # projection to the flat output schema
        sel = [
            F.col(f"{bound[0]}.{key}").alias(key),
            _nullable(F.lit(fa.alt_id).cast("int")).alias("alt_id"),
        ]
        for v in all_vars:
            if v in kleene_all:
                if v in fa.kleene_emit:
                    r, evs = fa.kleene_emit[v]
                    sel += [
                        _nullable(F.lit(r).cast("long")).alias(f"{v}_len"),
                        F.col(f"{evs[0]}.{tb}").cast("long").alias(f"{v}_first"),
                        F.col(f"{evs[-1]}.{tb}").cast("long").alias(f"{v}_last"),
                    ]
                else:
                    sel += [
                        F.lit(None).cast("long").alias(f"{v}_len"),
                        F.lit(None).cast("long").alias(f"{v}_first"),
                        F.lit(None).cast("long").alias(f"{v}_last"),
                    ]
            elif any(v == x for x, _ in fa.vars):
                sel.append(F.col(f"{v}.{tb}").cast("long").alias(f"{v}_{tb}"))
            else:
                sel.append(F.lit(None).cast("long").alias(f"{v}_{tb}"))
        results.append(cur.select(*sel))

    out = results[0]
    for r in results[1:]:
        out = out.unionByName(r)
    # the flat schema every executor shares (`to` keeps a NOT NULL
    # column NOT NULL, hence `_nullable` on the literals above)
    return out.to(match_schema_flat(cp, df.schema[key].dataType))


def _nullable(c):
    """``c`` declared nullable, like every flat output column
    (``batch.match_schema_flat``): ``NULLIF(c, NULL)`` is ``c``, and the
    optimizer folds it away."""
    from pyspark.sql import functions as F

    return F.nullif(c, F.lit(None))


# --------------------------------------------------------------------------
# DuckDB oracle SQL (same expansion)


def oracle_sql_for(cp: CompiledPattern, table: str, kleene_arities: int | None = None) -> str:
    pat = cp.pattern
    key, ts, tb = pat.key, pat.ts_col, pat.tiebreak_col
    w = pat.window_seconds()
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
            wh.append(_lex_lt_sql(a, b, ts, tb))
        for a, b in fa.distinct_pairs:
            wh.append(f"({a}.{ts} <> {b}.{ts} OR {a}.{tb} <> {b}.{tb})")
        if w is not None:
            for i in range(len(names)):
                for j in range(i + 1, len(names)):
                    a, b = names[i], names[j]
                    wh.append(
                        f"ABS(EPOCH({a}.{ts}) - EPOCH({b}.{ts})) <= {w!r}"
                    )
        for v, unary in fa.vars:
            if not isinstance(unary, type(TRUE)):
                wh.append(unary.sql(aliases))
        for c in fa.conds:
            wh.append(c.sql(aliases))
        for n_unary, n_multi, nvar, pre, post, span, nkind in fa.negs:
            na = {nvar: "n", **aliases}
            inner = [f"n.{key} = {names[0]}.{key}"]
            u = n_unary.sql({nvar: "n"})
            if u != "TRUE":
                inner.append(u)
            if nkind == "gap":
                for p in pre:
                    inner.append(_lex_lt_sql(p, "n", ts, tb))
                for p in post:
                    inner.append(_lex_lt_sql("n", p, ts, tb))
                # exclude events bound to other match variables (an
                # And_ sibling can bind inside the gap)
                for p in span:
                    inner.append(f"(n.{ts} <> {p}.{ts} OR n.{tb} <> {p}.{tb})")
            elif nkind in ("leading", "trailing"):
                for p in span:
                    if nkind == "leading":
                        inner.append(_lex_lt_sql("n", p, ts, tb))
                        inner.append(f"EPOCH({p}.{ts}) - EPOCH(n.{ts}) <= {w!r}")
                    else:
                        inner.append(_lex_lt_sql(p, "n", ts, tb))
                        inner.append(f"EPOCH(n.{ts}) - EPOCH({p}.{ts}) <= {w!r}")
            else:
                inner.append("(" + " OR ".join(_lex_lt_sql(p, "n", ts, tb) for p in span) + ")")
                inner.append("(" + " OR ".join(_lex_lt_sql("n", p, ts, tb) for p in span) + ")")
                for p in span:
                    inner.append(f"(n.{ts} <> {p}.{ts} OR n.{tb} <> {p}.{tb})")
            for c in n_multi:
                inner.append(subst(c, {nvar: "n"}).sql(na))
            wh.append(
                f"NOT EXISTS (SELECT 1 FROM {table} AS n WHERE "
                + " AND ".join(inner)
                + ")"
            )
        cols = [f"{names[0]}.{key} AS {key}", f"CAST({fa.alt_id} AS INT) AS alt_id"]
        for v in all_vars:
            if v in kleene_all:
                if v in fa.kleene_emit:
                    r, evs = fa.kleene_emit[v]
                    cols += [
                        f"CAST({r} AS BIGINT) AS {v}_len",
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
        selects.append(f"SELECT {', '.join(cols)} FROM {frm} WHERE " + " AND ".join(wh))
    return "\nUNION ALL\n".join(selects)
