"""Driver contract for the spark-graft builder (PySpark target).

CEP pattern queries run on the `events` table (key=user_id,
symbol=event_type, ts/event_id ordering — the stand-in for the
reference's NASDAQ ticks, FIXTURES.md §2).  Every single-pattern entry
runs the NFA executor; its oracle SQL is GENERATED from the very same
compiled pattern by cep_spark.join_planner (hand-written only for
shapes the generator cannot lower), so the Spark query and the DuckDB
oracle share one definition and one column naming.

Pipeline operators (dedup / similarity / text stats) run on
`documents` / `embeddings` (cep_spark.pipeline).
"""

from __future__ import annotations

import dataclasses
import os
import sys
from collections.abc import Callable
from datetime import timedelta
from functools import partial

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cep_spark import windows
from cep_spark.batch import run_batch, run_batch_multi
from cep_spark.compiler import compile_pattern
from cep_spark.conditions import TRUE, attr, lit, udf_pred
from cep_spark.join_planner import oracle_sql_for
from cep_spark.pattern import And_, Ev, Kleene, Neg, Or_, Pattern, Seq
from cep_spark.pipeline import registry as _pipeline_registry
from cep_spark.session import read_parquet
from cep_spark.skew import run_batch_multi_sliced

# ---------------------------------------------------------------------------
# CEP pattern catalog (events table) — one entry per operator family of
# SURVEY.md §2.1 (O1..O7), plus condition-algebra coverage (§2.2).


def _p(struct, where=None, window=timedelta(hours=12)):
    return Pattern(
        struct,
        where=where if where is not None else TRUE,
        window=window,
        key="user_id",
        ts_col="ts",
        tiebreak_col="event_id",
    )


CEP_PATTERNS = {
    # O1: event primitive + unary predicate (C1/C2/C4)
    "cep_one_arg": _p(
        Ev("a", where=(attr("a", "event_type") == lit("purchase")) & (attr("a", "value") > lit(150.0)))
    ),
    # O2: SEQ
    "cep_seq2": _p(Seq(Ev("a", event_type="signup"), Ev("b", event_type="purchase"))),
    # O2 + multi-var condition (C3/C4/C5: arithmetic + comparison + AND)
    "cep_seq3_cond": _p(
        Seq(Ev("a", event_type="view"), Ev("b", event_type="click"), Ev("c", event_type="purchase")),
        where=(attr("b", "value") > attr("a", "value"))
        & (attr("c", "value") + attr("b", "value") > attr("a", "value")),
        window=timedelta(hours=24),
    ),
    # O3: AND (unordered conjunction)
    "cep_and3": _p(
        And_(Ev("a", event_type="view"), Ev("b", event_type="click"), Ev("c", event_type="error")),
        window=timedelta(hours=12),
    ),
    # O4: OR (disjunction of alternatives)
    "cep_or2": _p(
        Or_(
            Seq(Ev("a", event_type="signup"), Ev("t", event_type="purchase")),
            Seq(Ev("b", event_type="click"), Ev("t", event_type="purchase")),
        ),
        window=timedelta(hours=6),
    ),
    # O6: negation (gap-scoped)
    "cep_neg": _p(
        Seq(Ev("a", event_type="signup"), Neg(Ev("n", event_type="error")), Ev("b", event_type="purchase")),
        window=timedelta(hours=24),
    ),
    # O6 with a multi-var negation condition
    "cep_neg_cond": _p(
        Seq(
            Ev("a", event_type="view"),
            Neg(
                Ev(
                    "n",
                    where=(attr("n", "event_type") == lit("error"))
                    & (attr("n", "value") > attr("a", "value")),
                )
            ),
            Ev("b", event_type="purchase"),
        ),
        window=timedelta(hours=24),
    ),
    # O6: LEADING negation — "purchase not preceded by an error within
    # the window" (position-free Neg, reference NegationOperator)
    "cep_neg_leading": _p(
        Seq(Neg(Ev("n", event_type="error")), Ev("a", event_type="signup"), Ev("b", event_type="purchase")),
        window=timedelta(hours=24),
    ),
    # O6: TRAILING negation — "no error after the purchase within the window"
    "cep_neg_trailing": _p(
        Seq(Ev("a", event_type="signup"), Ev("b", event_type="purchase"), Neg(Ev("n", event_type="error"))),
        window=timedelta(hours=24),
    ),
    # O5: Kleene closure (bounded here so the DuckDB oracle is exact; the
    # unbounded powerset path is exercised by the NFA executor in pytest)
    "cep_kleene": _p(
        Seq(
            Ev("a", event_type="signup"),
            Kleene(Ev("k", event_type="click"), max_len=3),
            Ev("c", event_type="purchase"),
        ),
        window=timedelta(hours=24),
    ),
    # O5: Kleene over a COMPOSITE sub-structure — one-or-more (view,click)
    # repetitions then a purchase; expanded at compile time to fixed
    # repetition chains, so the generated SQL oracle is exact
    "cep_kleene_composite": _p(
        Seq(
            Kleene(Seq(Ev("v", event_type="view"), Ev("c", event_type="click")), max_len=2),
            Ev("p", event_type="purchase"),
        ),
        window=timedelta(hours=24),
    ),
    # O5+C: adjacent-pair Kleene condition — strictly-rising click values
    # between consecutive chosen events (the reference's lambda over
    # successive Kleene bindings)
    "cep_kleene_rising": _p(
        Seq(
            Ev("a", event_type="signup"),
            Kleene(Ev("k", event_type="click"), max_len=3,
                   adjacent=attr("k", "value") > attr("k__prev", "value")),
            Ev("c", event_type="purchase"),
        ),
        window=timedelta(hours=24),
    ),
    # O5+C: condition between Kleene elements and a LATER-bound variable
    # (per-element ALL semantics, pair-expanded at the completing bind)
    "cep_kleene_forward": _p(
        Seq(
            Ev("a", event_type="signup"),
            Kleene(Ev("k", event_type="click"), max_len=3),
            Ev("c", event_type="purchase"),
        ),
        where=attr("k", "value") < attr("c", "value"),
        window=timedelta(hours=24),
    ),
    # O3+O5: Kleene directly inside And_ (unordered closure + sibling)
    "cep_and_kleene": _p(
        And_(Kleene(Ev("k", event_type="click"), max_len=2), Ev("a", event_type="signup")),
        window=timedelta(hours=6),
    ),
    # O5+C: conjunct over TWO Kleene variables — ALL cross-product pairs
    # must hold (every chosen click's value above every chosen view's);
    # lowered as one replicated predicate per element-pair in both the
    # join plan and the generated oracle
    "cep_kleene_pair_cond": _p(
        Seq(
            Kleene(Ev("a", event_type="view"), max_len=2),
            Kleene(Ev("b", event_type="click"), max_len=2),
            Ev("p", event_type="purchase"),
        ),
        where=attr("b", "value") > attr("a", "value"),
        window=timedelta(hours=12),
    ),
    # O7: nesting SEQ(a, AND(b,c), d)
    "cep_nested": _p(
        Seq(
            Ev("a", event_type="signup"),
            And_(Ev("b", event_type="view"), Ev("c", event_type="click")),
            Ev("d", event_type="purchase"),
        ),
        window=timedelta(hours=48),
    ),
    # impossible pattern -> 0 rows (reference "nonsense" test category)
    "cep_nonsense": _p(
        And_(
            Ev("a", where=(attr("a", "event_type") == lit("signup")) & (attr("a", "value") > lit(1e12))),
            Ev("b", event_type="purchase"),
        ),
        window=timedelta(minutes=1),
    ),
}


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table, its schema inferred once per application."""
    return read_parquet(spark, f"{sf_dir}/events.parquet")


def _cep_query(pat: Pattern) -> Callable[[SparkSession, str], DataFrame]:
    """A single-pattern entry: compiled once, run by the NFA executor
    with flat output.  Measured on sf0.1 (ROADMAP item 11), the NFA beat
    the Catalyst self-join lowering on every catalog pattern, so there
    is no per-entry choice; the join lowering stays three-way-checked
    against the NFA and the oracle in tests/test_spark_e2e.py."""
    cp = compile_pattern(pat)

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        return run_batch(_events(spark, sf_dir), cp, mode="flat")

    return run


# ---------------------------------------------------------------------------
# UNBOUNDED Kleene: the oracle generator cannot enumerate unbounded
# powersets, so the oracle is a recursive CTE (SURVEY.md §5.2 item 4) —
# exact powerset semantics checked end-to-end with no arity bound.

_KLEENE_UNBOUNDED_PAT = _p(
    Seq(
        Ev("a", event_type="signup"),
        Kleene(Ev("k", event_type="click")),
        Ev("c", event_type="purchase"),
    ),
    window=timedelta(hours=24),
)


def _kleene_unbounded_oracle() -> str:
    w = int(_KLEENE_UNBOUNDED_PAT.window.total_seconds())
    return f"""
WITH RECURSIVE seqs AS (
  SELECT a.user_id, a.event_id AS a_id, a.ts AS a_ts,
         k.event_id AS last_id, k.ts AS last_ts, 1 AS k_len, k.event_id AS k_first
  FROM events a JOIN events k ON k.user_id = a.user_id
  WHERE a.event_type = 'signup' AND k.event_type = 'click'
    AND (a.ts < k.ts OR (a.ts = k.ts AND a.event_id < k.event_id))
    AND ABS(EPOCH(k.ts) - EPOCH(a.ts)) <= {w}
  UNION ALL
  SELECT s.user_id, s.a_id, s.a_ts, k.event_id, k.ts, s.k_len + 1, s.k_first
  FROM seqs s JOIN events k ON k.user_id = s.user_id
  WHERE k.event_type = 'click'
    AND (s.last_ts < k.ts OR (s.last_ts = k.ts AND s.last_id < k.event_id))
    AND ABS(EPOCH(k.ts) - EPOCH(s.a_ts)) <= {w}
)
SELECT s.user_id AS user_id, CAST(0 AS INT) AS alt_id,
       CAST(s.a_id AS BIGINT) AS a_event_id,
       CAST(s.k_len AS BIGINT) AS k_len,
       CAST(s.k_first AS BIGINT) AS k_first,
       CAST(s.last_id AS BIGINT) AS k_last,
       CAST(c.event_id AS BIGINT) AS c_event_id
FROM seqs s JOIN events c ON c.user_id = s.user_id
WHERE c.event_type = 'purchase'
  AND (s.last_ts < c.ts OR (s.last_ts = c.ts AND s.last_id < c.event_id))
  AND ABS(EPOCH(c.ts) - EPOCH(s.a_ts)) <= {w}
"""


# ---------------------------------------------------------------------------
# UNBOUNDED COMPOSITE Kleene (group lowering): one-or-more strictly
# interleaved (view, click) repetitions (u1 < w1 < u2 < w2 ...) then a
# purchase, NO repetition bound.  The oracle generator has no
# fixed-arity expansion for this (repetitions interleave), so the oracle
# is a recursive CTE over repetition chains — exact, unbounded.

_KLEENE_GROUP_PAT = _p(
    Seq(
        Kleene(Seq(Ev("u", event_type="view"), Ev("w", event_type="click"))),
        Ev("p", event_type="purchase"),
    ),
    window=timedelta(hours=12),
)


def _kleene_group_oracle() -> str:
    w = int(_KLEENE_GROUP_PAT.window.total_seconds())
    return f"""
WITH RECURSIVE chains AS (
  SELECT u.user_id,
         u.event_id AS u_first, u.ts AS first_ts, 1 AS r,
         u.event_id AS u_last,
         w.event_id AS w_first, w.event_id AS w_last,
         w.event_id AS last_id, w.ts AS last_ts
  FROM events u JOIN events w ON w.user_id = u.user_id
  WHERE u.event_type = 'view' AND w.event_type = 'click'
    AND (u.ts < w.ts OR (u.ts = w.ts AND u.event_id < w.event_id))
    AND EPOCH(w.ts) - EPOCH(u.ts) <= {w}
  UNION ALL
  SELECT s.user_id, s.u_first, s.first_ts, s.r + 1,
         u.event_id, s.w_first, w.event_id, w.event_id, w.ts
  FROM chains s
  JOIN events u ON u.user_id = s.user_id
  JOIN events w ON w.user_id = s.user_id
  WHERE u.event_type = 'view' AND w.event_type = 'click'
    AND (s.last_ts < u.ts OR (s.last_ts = u.ts AND s.last_id < u.event_id))
    AND (u.ts < w.ts OR (u.ts = w.ts AND u.event_id < w.event_id))
    AND EPOCH(w.ts) - EPOCH(s.first_ts) <= {w}
)
SELECT s.user_id AS user_id, CAST(0 AS INT) AS alt_id,
       CAST(s.r AS BIGINT) AS u_len,
       CAST(s.u_first AS BIGINT) AS u_first,
       CAST(s.u_last AS BIGINT) AS u_last,
       CAST(s.r AS BIGINT) AS w_len,
       CAST(s.w_first AS BIGINT) AS w_first,
       CAST(s.w_last AS BIGINT) AS w_last,
       CAST(p.event_id AS BIGINT) AS p_event_id
FROM chains s JOIN events p ON p.user_id = s.user_id
WHERE p.event_type = 'purchase'
  AND (s.last_ts < p.ts OR (s.last_ts = p.ts AND s.last_id < p.event_id))
  AND EPOCH(p.ts) - EPOCH(s.first_ts) <= {w}
"""


# round 4: Neg BETWEEN the leaves INSIDE the unbounded repetition —
# every repetition's (u_j, w_j) gap must be free of qualifying 'error'
# events (NegSpec.per_repeat; compiler._collect group branch).  The
# oracle repeats the NOT EXISTS guard in the base case AND the
# recursive step, so the approximation-free CTE checks the gap once
# per repetition exactly like the NFA does.

_KLEENE_GROUP_NEG_PAT = _p(
    Seq(
        Kleene(Seq(Ev("u", event_type="view"),
                   Neg(Ev("n", event_type="error")),
                   Ev("w", event_type="click"))),
        Ev("p", event_type="purchase"),
    ),
    window=timedelta(hours=12),
)


def _kleene_group_neg_oracle() -> str:
    w = int(_KLEENE_GROUP_NEG_PAT.window.total_seconds())
    gap_free = """NOT EXISTS (
      SELECT 1 FROM events n
      WHERE n.user_id = u.user_id AND n.event_type = 'error'
        AND (u.ts < n.ts OR (u.ts = n.ts AND u.event_id < n.event_id))
        AND (n.ts < w.ts OR (n.ts = w.ts AND n.event_id < w.event_id)))"""
    return f"""
WITH RECURSIVE chains AS (
  SELECT u.user_id,
         u.event_id AS u_first, u.ts AS first_ts, 1 AS r,
         u.event_id AS u_last,
         w.event_id AS w_first, w.event_id AS w_last,
         w.event_id AS last_id, w.ts AS last_ts
  FROM events u JOIN events w ON w.user_id = u.user_id
  WHERE u.event_type = 'view' AND w.event_type = 'click'
    AND (u.ts < w.ts OR (u.ts = w.ts AND u.event_id < w.event_id))
    AND EPOCH(w.ts) - EPOCH(u.ts) <= {w}
    AND {gap_free}
  UNION ALL
  SELECT s.user_id, s.u_first, s.first_ts, s.r + 1,
         u.event_id, s.w_first, w.event_id, w.event_id, w.ts
  FROM chains s
  JOIN events u ON u.user_id = s.user_id
  JOIN events w ON w.user_id = s.user_id
  WHERE u.event_type = 'view' AND w.event_type = 'click'
    AND (s.last_ts < u.ts OR (s.last_ts = u.ts AND s.last_id < u.event_id))
    AND (u.ts < w.ts OR (u.ts = w.ts AND u.event_id < w.event_id))
    AND EPOCH(w.ts) - EPOCH(s.first_ts) <= {w}
    AND {gap_free}
)
SELECT s.user_id AS user_id, CAST(0 AS INT) AS alt_id,
       CAST(s.r AS BIGINT) AS u_len,
       CAST(s.u_first AS BIGINT) AS u_first,
       CAST(s.u_last AS BIGINT) AS u_last,
       CAST(s.r AS BIGINT) AS w_len,
       CAST(s.w_first AS BIGINT) AS w_first,
       CAST(s.w_last AS BIGINT) AS w_last,
       CAST(p.event_id AS BIGINT) AS p_event_id
FROM chains s JOIN events p ON p.user_id = s.user_id
WHERE p.event_type = 'purchase'
  AND (s.last_ts < p.ts OR (s.last_ts = p.ts AND s.last_id < p.event_id))
  AND EPOCH(p.ts) - EPOCH(s.first_ts) <= {w}
"""


# round 5: Or_ of plain leaves INSIDE the unbounded repetition — every
# repetition binds a 'view' then EITHER a 'click' (w) or a 'signup'
# (x): alternative branch sub-slots at one group position
# (compiler._collect / _successors; batch.advance_core).  The oracle's
# recursive CTE extends each chain with b IN ('click','signup') and
# carries per-branch count/first/last — a branch never chosen emits
# NULL len/first/last, matching the flat executor's absent-variable
# columns.

_KLEENE_GROUP_OR_PAT = _p(
    Seq(
        Kleene(Seq(Ev("u", event_type="view"),
                   Or_(Ev("w", event_type="click"),
                       Ev("x", event_type="signup")))),
        Ev("p", event_type="purchase"),
    ),
    window=timedelta(hours=12),
)


def _kleene_group_or_oracle() -> str:
    w = int(_KLEENE_GROUP_OR_PAT.window.total_seconds())
    return f"""
WITH RECURSIVE chains AS (
  SELECT u.user_id,
         u.event_id AS u_first, u.event_id AS u_last,
         u.ts AS first_ts, 1 AS r,
         CASE WHEN b.event_type = 'click' THEN 1 ELSE 0 END AS w_cnt,
         CASE WHEN b.event_type = 'click' THEN b.event_id END AS w_first,
         CASE WHEN b.event_type = 'click' THEN b.event_id END AS w_last,
         CASE WHEN b.event_type = 'signup' THEN 1 ELSE 0 END AS x_cnt,
         CASE WHEN b.event_type = 'signup' THEN b.event_id END AS x_first,
         CASE WHEN b.event_type = 'signup' THEN b.event_id END AS x_last,
         b.event_id AS last_id, b.ts AS last_ts
  FROM events u JOIN events b ON b.user_id = u.user_id
  WHERE u.event_type = 'view' AND b.event_type IN ('click', 'signup')
    AND (u.ts < b.ts OR (u.ts = b.ts AND u.event_id < b.event_id))
    AND EPOCH(b.ts) - EPOCH(u.ts) <= {w}
  UNION ALL
  SELECT s.user_id, s.u_first, u.event_id, s.first_ts, s.r + 1,
         s.w_cnt + CASE WHEN b.event_type = 'click' THEN 1 ELSE 0 END,
         COALESCE(s.w_first,
                  CASE WHEN b.event_type = 'click' THEN b.event_id END),
         COALESCE(CASE WHEN b.event_type = 'click' THEN b.event_id END,
                  s.w_last),
         s.x_cnt + CASE WHEN b.event_type = 'signup' THEN 1 ELSE 0 END,
         COALESCE(s.x_first,
                  CASE WHEN b.event_type = 'signup' THEN b.event_id END),
         COALESCE(CASE WHEN b.event_type = 'signup' THEN b.event_id END,
                  s.x_last),
         b.event_id, b.ts
  FROM chains s
  JOIN events u ON u.user_id = s.user_id
  JOIN events b ON b.user_id = s.user_id
  WHERE u.event_type = 'view' AND b.event_type IN ('click', 'signup')
    AND (s.last_ts < u.ts OR (s.last_ts = u.ts AND s.last_id < u.event_id))
    AND (u.ts < b.ts OR (u.ts = b.ts AND u.event_id < b.event_id))
    AND EPOCH(b.ts) - EPOCH(s.first_ts) <= {w}
)
SELECT s.user_id AS user_id, CAST(0 AS INT) AS alt_id,
       CAST(s.r AS BIGINT) AS u_len,
       CAST(s.u_first AS BIGINT) AS u_first,
       CAST(s.u_last AS BIGINT) AS u_last,
       CASE WHEN s.w_cnt > 0 THEN CAST(s.w_cnt AS BIGINT) END AS w_len,
       CAST(s.w_first AS BIGINT) AS w_first,
       CAST(s.w_last AS BIGINT) AS w_last,
       CASE WHEN s.x_cnt > 0 THEN CAST(s.x_cnt AS BIGINT) END AS x_len,
       CAST(s.x_first AS BIGINT) AS x_first,
       CAST(s.x_last AS BIGINT) AS x_last,
       CAST(p.event_id AS BIGINT) AS p_event_id
FROM chains s JOIN events p ON p.user_id = s.user_id
WHERE p.event_type = 'purchase'
  AND (s.last_ts < p.ts OR (s.last_ts = p.ts AND s.last_id < p.event_id))
  AND EPOCH(p.ts) - EPOCH(s.first_ts) <= {w}
"""


# round 4 (session B): Kleene over And_ — each repetition binds the
# leaves in ANY arrival order (permutation assignments count
# separately), repetitions interleave strictly (all of rep j before all
# of rep j+1 in (ts, event_id) order).  compiler._collect lowers the
# body to one conjunctive (pos_all) group position; the automaton's mid
# tracks which members the repetition has bound.  The
# oracle's recursive CTE joins each repetition's pair with NO order
# constraint between them, tracking the repetition's (ts, id)-max as
# the next repetition's strict lower bound.

_KLEENE_AND_GROUP_PAT = _p(
    Seq(
        Kleene(And_(Ev("u", event_type="view"),
                    Ev("w", event_type="click"))),
        Ev("p", event_type="purchase"),
    ),
    window=timedelta(hours=12),
)


def _kleene_and_group_oracle() -> str:
    w = int(_KLEENE_AND_GROUP_PAT.window.total_seconds())
    u_lt_w = "(u.ts < w.ts OR (u.ts = w.ts AND u.event_id < w.event_id))"
    return f"""
WITH RECURSIVE chains AS (
  SELECT u.user_id,
         u.event_id AS u_first, u.event_id AS u_last,
         w.event_id AS w_first, w.event_id AS w_last,
         1 AS r,
         LEAST(u.ts, w.ts) AS first_ts,
         GREATEST(u.ts, w.ts) AS last_ts,
         CASE WHEN {u_lt_w} THEN w.event_id ELSE u.event_id END AS last_id
  FROM events u JOIN events w ON w.user_id = u.user_id
  WHERE u.event_type = 'view' AND w.event_type = 'click'
    AND EPOCH(GREATEST(u.ts, w.ts)) - EPOCH(LEAST(u.ts, w.ts)) <= {w}
  UNION ALL
  SELECT c.user_id, c.u_first, u.event_id, c.w_first, w.event_id,
         c.r + 1, c.first_ts,
         GREATEST(u.ts, w.ts),
         CASE WHEN {u_lt_w} THEN w.event_id ELSE u.event_id END
  FROM chains c
  JOIN events u ON u.user_id = c.user_id
  JOIN events w ON w.user_id = c.user_id
  WHERE u.event_type = 'view' AND w.event_type = 'click'
    AND (c.last_ts < u.ts OR (c.last_ts = u.ts AND c.last_id < u.event_id))
    AND (c.last_ts < w.ts OR (c.last_ts = w.ts AND c.last_id < w.event_id))
    AND EPOCH(GREATEST(u.ts, w.ts)) - EPOCH(c.first_ts) <= {w}
)
SELECT c.user_id AS user_id, CAST(0 AS INT) AS alt_id,
       CAST(c.r AS BIGINT) AS u_len,
       CAST(c.u_first AS BIGINT) AS u_first,
       CAST(c.u_last AS BIGINT) AS u_last,
       CAST(c.r AS BIGINT) AS w_len,
       CAST(c.w_first AS BIGINT) AS w_first,
       CAST(c.w_last AS BIGINT) AS w_last,
       CAST(p.event_id AS BIGINT) AS p_event_id
FROM chains c JOIN events p ON p.user_id = c.user_id
WHERE p.event_type = 'purchase'
  AND (c.last_ts < p.ts OR (c.last_ts = p.ts AND c.last_id < p.event_id))
  AND EPOCH(p.ts) - EPOCH(c.first_ts) <= {w}
"""


# round 5 (session 16): an UNBOUNDED leaf Kleene nested inside the
# UNBOUNDED repetition — neither level is bounded at compile time.  The
# inner Kleene lowers to a LOOPING position of the repetition body
# (compiler Slot.grp_loop): each repetition binds a 'view' then a
# one-or-more run of 'click's via self-loop continue transitions
# (Transition.loop_cont), the next repetition strictly after the run.
# The click variable's element tuple is FLAT across repetitions (runs
# concatenate in bind order), so b_len counts every chosen click of the
# match.  The oracle walks ONE EVENT AT A TIME in a recursive CTE — a
# phase flag distinguishes "just bound a view, need >= 1 click" from
# "inside a click run (may extend, start a new repetition, or finish)";
# each binding's event sequence is a unique path, so UNION ALL
# enumerates each match exactly once.

_KLEENE_NESTED_UNBOUNDED_PAT = _p(
    Seq(
        Kleene(Seq(Ev("a", event_type="view"),
                   Kleene(Ev("b", event_type="click")))),
        Ev("p", event_type="purchase"),
    ),
    window=timedelta(hours=48),
)


def _kleene_nested_unbounded_oracle() -> str:
    w = int(_KLEENE_NESTED_UNBOUNDED_PAT.window.total_seconds())
    return f"""
WITH RECURSIVE chains AS (
  SELECT a.user_id, a.ts AS first_ts, 0 AS in_run,
         1 AS a_cnt, a.event_id AS a_first, a.event_id AS a_last,
         0 AS b_cnt, CAST(NULL AS BIGINT) AS b_first,
         CAST(NULL AS BIGINT) AS b_last,
         a.event_id AS last_id, a.ts AS last_ts
  FROM events a WHERE a.event_type = 'view'
  UNION ALL
  SELECT c.user_id, c.first_ts,
         CASE WHEN e.event_type = 'click' THEN 1 ELSE 0 END,
         c.a_cnt + CASE WHEN e.event_type = 'view' THEN 1 ELSE 0 END,
         c.a_first,
         CASE WHEN e.event_type = 'view' THEN e.event_id ELSE c.a_last END,
         c.b_cnt + CASE WHEN e.event_type = 'click' THEN 1 ELSE 0 END,
         CASE WHEN e.event_type = 'click'
              THEN COALESCE(c.b_first, e.event_id) ELSE c.b_first END,
         CASE WHEN e.event_type = 'click' THEN e.event_id ELSE c.b_last END,
         e.event_id, e.ts
  FROM chains c JOIN events e ON e.user_id = c.user_id
  WHERE (e.event_type = 'click'
         OR (e.event_type = 'view' AND c.in_run = 1))
    AND (c.last_ts < e.ts OR (c.last_ts = e.ts AND c.last_id < e.event_id))
    AND EPOCH(e.ts) - EPOCH(c.first_ts) <= {w}
)
SELECT c.user_id AS user_id, CAST(0 AS INT) AS alt_id,
       CAST(c.a_cnt AS BIGINT) AS a_len,
       CAST(c.a_first AS BIGINT) AS a_first,
       CAST(c.a_last AS BIGINT) AS a_last,
       CAST(c.b_cnt AS BIGINT) AS b_len,
       CAST(c.b_first AS BIGINT) AS b_first,
       CAST(c.b_last AS BIGINT) AS b_last,
       CAST(p.event_id AS BIGINT) AS p_event_id
FROM chains c JOIN events p ON p.user_id = c.user_id
WHERE c.in_run = 1 AND p.event_type = 'purchase'
  AND (c.last_ts < p.ts OR (c.last_ts = p.ts AND c.last_id < p.event_id))
  AND EPOCH(p.ts) - EPOCH(c.first_ts) <= {w}
"""


# round 5 (session 12): an Or_ NESTED inside the Seq branch —
# `Or_(Seq(w, Or_(x, y)), c)` — distributed at compile time into flat
# units (w__d1, x__d1) | (w__d2, y__d2) | c with per-unit variable
# renaming (compiler._distribute_inner_or), so the group lowering
# executes the session-2 multi-event-branch shape unchanged.  Every
# repetition binds a 'view', then EITHER a 'click' followed by a
# 'signup' (unit 1) OR a 'click' followed by an 'error' (unit 2) OR a
# bare 'error' (unit 3).  The oracle enumerates the SAME three units in
# its reps CTE; the distributed names are the output columns, NULL when
# no repetition chose the unit.

_KLEENE_DIST_OR_PAT = _p(
    Seq(
        Kleene(Seq(Ev("u", event_type="view"),
                   Or_(Seq(Ev("w", event_type="click"),
                           Or_(Ev("x", event_type="signup"),
                               Ev("y", event_type="error"))),
                       Ev("c", event_type="error")))),
        Ev("p", event_type="purchase"),
    ),
    # 48h: the smallest family window where the harness data yields
    # multi-repetition (62 rows at sf0.01) AND mixed-unit (18 rows)
    # matches — the loop-back through not-yet-bound units and the
    # per-unit sparsity are load-bearing for the row set
    window=timedelta(hours=48),
)


def _kleene_dist_or_oracle() -> str:
    w = int(_KLEENE_DIST_OR_PAT.window.total_seconds())
    return f"""
WITH RECURSIVE reps AS (
  SELECT u.user_id, u.event_id AS u_id, u.ts AS u_ts,
         w.event_id AS w1_id, x.event_id AS x1_id,
         CAST(NULL AS BIGINT) AS w2_id, CAST(NULL AS BIGINT) AS y2_id,
         CAST(NULL AS BIGINT) AS c_id,
         x.event_id AS last_id, x.ts AS last_ts
  FROM events u
  JOIN events w ON w.user_id = u.user_id
  JOIN events x ON x.user_id = u.user_id
  WHERE u.event_type = 'view' AND w.event_type = 'click'
    AND x.event_type = 'signup'
    AND (u.ts < w.ts OR (u.ts = w.ts AND u.event_id < w.event_id))
    AND (w.ts < x.ts OR (w.ts = x.ts AND w.event_id < x.event_id))
    AND EPOCH(x.ts) - EPOCH(u.ts) <= {w}
  UNION ALL
  SELECT u.user_id, u.event_id, u.ts,
         CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
         w.event_id, y.event_id, CAST(NULL AS BIGINT),
         y.event_id, y.ts
  FROM events u
  JOIN events w ON w.user_id = u.user_id
  JOIN events y ON y.user_id = u.user_id
  WHERE u.event_type = 'view' AND w.event_type = 'click'
    AND y.event_type = 'error'
    AND (u.ts < w.ts OR (u.ts = w.ts AND u.event_id < w.event_id))
    AND (w.ts < y.ts OR (w.ts = y.ts AND w.event_id < y.event_id))
    AND EPOCH(y.ts) - EPOCH(u.ts) <= {w}
  UNION ALL
  SELECT u.user_id, u.event_id, u.ts,
         CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
         CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), c.event_id,
         c.event_id, c.ts
  FROM events u JOIN events c ON c.user_id = u.user_id
  WHERE u.event_type = 'view' AND c.event_type = 'error'
    AND (u.ts < c.ts OR (u.ts = c.ts AND u.event_id < c.event_id))
    AND EPOCH(c.ts) - EPOCH(u.ts) <= {w}
),
chains AS (
  SELECT user_id, u_id AS u_first, u_id AS u_last, u_ts AS first_ts,
         1 AS r,
         CASE WHEN w1_id IS NOT NULL THEN 1 ELSE 0 END AS w1_cnt,
         w1_id AS w1_first, w1_id AS w1_last,
         CASE WHEN x1_id IS NOT NULL THEN 1 ELSE 0 END AS x1_cnt,
         x1_id AS x1_first, x1_id AS x1_last,
         CASE WHEN w2_id IS NOT NULL THEN 1 ELSE 0 END AS w2_cnt,
         w2_id AS w2_first, w2_id AS w2_last,
         CASE WHEN y2_id IS NOT NULL THEN 1 ELSE 0 END AS y2_cnt,
         y2_id AS y2_first, y2_id AS y2_last,
         CASE WHEN c_id IS NOT NULL THEN 1 ELSE 0 END AS c_cnt,
         c_id AS c_first, c_id AS c_last,
         last_id, last_ts
  FROM reps
  UNION ALL
  SELECT s.user_id, s.u_first, t.u_id, s.first_ts, s.r + 1,
         s.w1_cnt + CASE WHEN t.w1_id IS NOT NULL THEN 1 ELSE 0 END,
         COALESCE(s.w1_first, t.w1_id), COALESCE(t.w1_id, s.w1_last),
         s.x1_cnt + CASE WHEN t.x1_id IS NOT NULL THEN 1 ELSE 0 END,
         COALESCE(s.x1_first, t.x1_id), COALESCE(t.x1_id, s.x1_last),
         s.w2_cnt + CASE WHEN t.w2_id IS NOT NULL THEN 1 ELSE 0 END,
         COALESCE(s.w2_first, t.w2_id), COALESCE(t.w2_id, s.w2_last),
         s.y2_cnt + CASE WHEN t.y2_id IS NOT NULL THEN 1 ELSE 0 END,
         COALESCE(s.y2_first, t.y2_id), COALESCE(t.y2_id, s.y2_last),
         s.c_cnt + CASE WHEN t.c_id IS NOT NULL THEN 1 ELSE 0 END,
         COALESCE(s.c_first, t.c_id), COALESCE(t.c_id, s.c_last),
         t.last_id, t.last_ts
  FROM chains s JOIN reps t ON t.user_id = s.user_id
  WHERE (s.last_ts < t.u_ts OR (s.last_ts = t.u_ts AND s.last_id < t.u_id))
    AND EPOCH(t.last_ts) - EPOCH(s.first_ts) <= {w}
)
SELECT s.user_id AS user_id, CAST(0 AS INT) AS alt_id,
       CAST(s.r AS BIGINT) AS u_len,
       CAST(s.u_first AS BIGINT) AS u_first,
       CAST(s.u_last AS BIGINT) AS u_last,
       CASE WHEN s.w1_cnt > 0 THEN CAST(s.w1_cnt AS BIGINT) END AS w__d1_len,
       CAST(s.w1_first AS BIGINT) AS w__d1_first,
       CAST(s.w1_last AS BIGINT) AS w__d1_last,
       CASE WHEN s.x1_cnt > 0 THEN CAST(s.x1_cnt AS BIGINT) END AS x__d1_len,
       CAST(s.x1_first AS BIGINT) AS x__d1_first,
       CAST(s.x1_last AS BIGINT) AS x__d1_last,
       CASE WHEN s.w2_cnt > 0 THEN CAST(s.w2_cnt AS BIGINT) END AS w__d2_len,
       CAST(s.w2_first AS BIGINT) AS w__d2_first,
       CAST(s.w2_last AS BIGINT) AS w__d2_last,
       CASE WHEN s.y2_cnt > 0 THEN CAST(s.y2_cnt AS BIGINT) END AS y__d2_len,
       CAST(s.y2_first AS BIGINT) AS y__d2_first,
       CAST(s.y2_last AS BIGINT) AS y__d2_last,
       CASE WHEN s.c_cnt > 0 THEN CAST(s.c_cnt AS BIGINT) END AS c_len,
       CAST(s.c_first AS BIGINT) AS c_first,
       CAST(s.c_last AS BIGINT) AS c_last,
       CAST(p.event_id AS BIGINT) AS p_event_id
FROM chains s JOIN events p ON p.user_id = s.user_id
WHERE p.event_type = 'purchase'
  AND (s.last_ts < p.ts OR (s.last_ts = p.ts AND s.last_id < p.event_id))
  AND EPOCH(p.ts) - EPOCH(s.first_ts) <= {w}
"""


# round 5 (session 6): an And_ at one POSITION of the repetition —
# every repetition binds a 'view' u_j, then a 'click' w_j AND a
# 'signup' x_j in ANY arrival order (conjunctive sub-slots at one
# grp_idx, pos_all=True; the automaton's mid holds the bound-member
# set), with the next repetition's u strictly after BOTH.  The oracle's
# recursive CTE joins each repetition's (w, x) pair with no order
# constraint between them and carries the pair's (ts, id)-max as the
# next repetition's strict lower bound — the conjunctive analogue of
# cep_kleene_and_group, inside a multi-position Seq repetition.

_KLEENE_AND_POS_PAT = _p(
    Seq(
        Kleene(Seq(Ev("a", event_type="view"),
                   And_(Ev("w", event_type="click"),
                        Ev("x", event_type="signup")))),
        Ev("p", event_type="purchase"),
    ),
    # 48h (vs the family's usual 12h): at the harness data's per-user
    # event density this is the smallest window where multi-repetition
    # matches exist — the conjunctive loop-back is load-bearing for the
    # row set, not just the r=1 join shape
    window=timedelta(hours=48),
)


def _kleene_and_pos_oracle() -> str:
    w = int(_KLEENE_AND_POS_PAT.window.total_seconds())
    w_lt_x = "(w.ts < x.ts OR (w.ts = x.ts AND w.event_id < x.event_id))"
    return f"""
WITH RECURSIVE chains AS (
  SELECT a.user_id,
         a.event_id AS a_first, a.event_id AS a_last,
         w.event_id AS w_first, w.event_id AS w_last,
         x.event_id AS x_first, x.event_id AS x_last,
         1 AS r, a.ts AS first_ts,
         GREATEST(w.ts, x.ts) AS last_ts,
         CASE WHEN {w_lt_x} THEN x.event_id ELSE w.event_id END AS last_id
  FROM events a
  JOIN events w ON w.user_id = a.user_id
  JOIN events x ON x.user_id = a.user_id
  WHERE a.event_type = 'view' AND w.event_type = 'click'
    AND x.event_type = 'signup'
    AND (a.ts < w.ts OR (a.ts = w.ts AND a.event_id < w.event_id))
    AND (a.ts < x.ts OR (a.ts = x.ts AND a.event_id < x.event_id))
    AND EPOCH(GREATEST(w.ts, x.ts)) - EPOCH(a.ts) <= {w}
  UNION ALL
  SELECT c.user_id, c.a_first, a.event_id,
         c.w_first, w.event_id, c.x_first, x.event_id,
         c.r + 1, c.first_ts,
         GREATEST(w.ts, x.ts),
         CASE WHEN {w_lt_x} THEN x.event_id ELSE w.event_id END
  FROM chains c
  JOIN events a ON a.user_id = c.user_id
  JOIN events w ON w.user_id = c.user_id
  JOIN events x ON x.user_id = c.user_id
  WHERE a.event_type = 'view' AND w.event_type = 'click'
    AND x.event_type = 'signup'
    AND (c.last_ts < a.ts OR (c.last_ts = a.ts AND c.last_id < a.event_id))
    AND (a.ts < w.ts OR (a.ts = w.ts AND a.event_id < w.event_id))
    AND (a.ts < x.ts OR (a.ts = x.ts AND a.event_id < x.event_id))
    AND EPOCH(GREATEST(w.ts, x.ts)) - EPOCH(c.first_ts) <= {w}
)
SELECT c.user_id AS user_id, CAST(0 AS INT) AS alt_id,
       CAST(c.r AS BIGINT) AS a_len,
       CAST(c.a_first AS BIGINT) AS a_first,
       CAST(c.a_last AS BIGINT) AS a_last,
       CAST(c.r AS BIGINT) AS w_len,
       CAST(c.w_first AS BIGINT) AS w_first,
       CAST(c.w_last AS BIGINT) AS w_last,
       CAST(c.r AS BIGINT) AS x_len,
       CAST(c.x_first AS BIGINT) AS x_first,
       CAST(c.x_last AS BIGINT) AS x_last,
       CAST(p.event_id AS BIGINT) AS p_event_id
FROM chains c JOIN events p ON p.user_id = c.user_id
WHERE p.event_type = 'purchase'
  AND (c.last_ts < p.ts OR (c.last_ts = p.ts AND c.last_id < p.event_id))
  AND EPOCH(p.ts) - EPOCH(c.first_ts) <= {w}
"""


# round 5: a Neg TRAILING a Seq branch of the Or_ position
# guards the gap OUT of the two-event branch — (x_j, next bind) must be
# 'error'-free in exactly the repetitions that choose the branch
# (NegSpec.br_guard gates the statically-attached spec on which branch
# owns the position's latest bind).  The gap's right bound is OUTSIDE
# the repetition (the next repetition's u, or p), so the oracle checks
# NOT EXISTS at the CHAIN-EXTENSION join and the final p join, gated on
# a last_br flag carried through the recursive CTE — the SQL mirror of
# the dynamic guard.  Strict interleaving keeps both gaps free of bound
# events, so the raw NOT EXISTS is exact.

_KLEENE_GROUP_BR_TRAIL_NEG_PAT = _p(
    Seq(
        Kleene(Seq(Ev("u", event_type="view"),
                   Or_(Seq(Ev("w", event_type="click"),
                           Ev("x", event_type="signup"),
                           Neg(Ev("n", event_type="error"))),
                       Ev("y", event_type="error")))),
        Ev("p", event_type="purchase"),
    ),
    window=timedelta(hours=12),
)


def _kleene_group_br_trail_neg_oracle() -> str:
    w = int(_KLEENE_GROUP_BR_TRAIL_NEG_PAT.window.total_seconds())
    return f"""
WITH RECURSIVE reps AS (
  SELECT u.user_id, u.event_id AS u_id, u.ts AS u_ts,
         w.event_id AS w_id, x.event_id AS x_id,
         CAST(NULL AS BIGINT) AS y_id,
         x.event_id AS last_id, x.ts AS last_ts, 1 AS br
  FROM events u
  JOIN events w ON w.user_id = u.user_id
  JOIN events x ON x.user_id = u.user_id
  WHERE u.event_type = 'view' AND w.event_type = 'click'
    AND x.event_type = 'signup'
    AND (u.ts < w.ts OR (u.ts = w.ts AND u.event_id < w.event_id))
    AND (w.ts < x.ts OR (w.ts = x.ts AND w.event_id < x.event_id))
    AND EPOCH(x.ts) - EPOCH(u.ts) <= {w}
  UNION ALL
  SELECT u.user_id, u.event_id, u.ts,
         CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), y.event_id,
         y.event_id, y.ts, 0 AS br
  FROM events u JOIN events y ON y.user_id = u.user_id
  WHERE u.event_type = 'view' AND y.event_type = 'error'
    AND (u.ts < y.ts OR (u.ts = y.ts AND u.event_id < y.event_id))
    AND EPOCH(y.ts) - EPOCH(u.ts) <= {w}
),
chains AS (
  SELECT user_id, u_id AS u_first, u_id AS u_last, u_ts AS first_ts,
         1 AS r,
         CASE WHEN w_id IS NOT NULL THEN 1 ELSE 0 END AS w_cnt,
         w_id AS w_first, w_id AS w_last,
         CASE WHEN x_id IS NOT NULL THEN 1 ELSE 0 END AS x_cnt,
         x_id AS x_first, x_id AS x_last,
         CASE WHEN y_id IS NOT NULL THEN 1 ELSE 0 END AS y_cnt,
         y_id AS y_first, y_id AS y_last,
         last_id, last_ts, br AS last_br
  FROM reps
  UNION ALL
  SELECT s.user_id, s.u_first, t.u_id, s.first_ts, s.r + 1,
         s.w_cnt + CASE WHEN t.w_id IS NOT NULL THEN 1 ELSE 0 END,
         COALESCE(s.w_first, t.w_id), COALESCE(t.w_id, s.w_last),
         s.x_cnt + CASE WHEN t.x_id IS NOT NULL THEN 1 ELSE 0 END,
         COALESCE(s.x_first, t.x_id), COALESCE(t.x_id, s.x_last),
         s.y_cnt + CASE WHEN t.y_id IS NOT NULL THEN 1 ELSE 0 END,
         COALESCE(s.y_first, t.y_id), COALESCE(t.y_id, s.y_last),
         t.last_id, t.last_ts, t.br
  FROM chains s JOIN reps t ON t.user_id = s.user_id
  WHERE (s.last_ts < t.u_ts OR (s.last_ts = t.u_ts AND s.last_id < t.u_id))
    AND EPOCH(t.last_ts) - EPOCH(s.first_ts) <= {w}
    AND NOT (s.last_br = 1 AND EXISTS (
      SELECT 1 FROM events n
      WHERE n.user_id = s.user_id AND n.event_type = 'error'
        AND (s.last_ts < n.ts OR (s.last_ts = n.ts AND s.last_id < n.event_id))
        AND (n.ts < t.u_ts OR (n.ts = t.u_ts AND n.event_id < t.u_id))))
)
SELECT s.user_id AS user_id, CAST(0 AS INT) AS alt_id,
       CAST(s.r AS BIGINT) AS u_len,
       CAST(s.u_first AS BIGINT) AS u_first,
       CAST(s.u_last AS BIGINT) AS u_last,
       CASE WHEN s.w_cnt > 0 THEN CAST(s.w_cnt AS BIGINT) END AS w_len,
       CAST(s.w_first AS BIGINT) AS w_first,
       CAST(s.w_last AS BIGINT) AS w_last,
       CASE WHEN s.x_cnt > 0 THEN CAST(s.x_cnt AS BIGINT) END AS x_len,
       CAST(s.x_first AS BIGINT) AS x_first,
       CAST(s.x_last AS BIGINT) AS x_last,
       CASE WHEN s.y_cnt > 0 THEN CAST(s.y_cnt AS BIGINT) END AS y_len,
       CAST(s.y_first AS BIGINT) AS y_first,
       CAST(s.y_last AS BIGINT) AS y_last,
       CAST(p.event_id AS BIGINT) AS p_event_id
FROM chains s JOIN events p ON p.user_id = s.user_id
WHERE p.event_type = 'purchase'
  AND (s.last_ts < p.ts OR (s.last_ts = p.ts AND s.last_id < p.event_id))
  AND EPOCH(p.ts) - EPOCH(s.first_ts) <= {w}
  AND NOT (s.last_br = 1 AND EXISTS (
    SELECT 1 FROM events n
    WHERE n.user_id = s.user_id AND n.event_type = 'error'
      AND (s.last_ts < n.ts OR (s.last_ts = n.ts AND s.last_id < n.event_id))
      AND (n.ts < p.ts OR (n.ts = p.ts AND n.event_id < p.event_id))))
"""


# ---------------------------------------------------------------------------
# udf_pred (the reference's arbitrary-lambda conditions, SURVEY.md §2.2):
# a vectorized user predicate has NO SQL lowering by design, so this entry
# hand-writes the SQL twin from the SAME shared constants — the lambda and
# the oracle string cannot drift apart numerically (integer math only).

_UDF_MOD, _UDF_THRESH = 13, 4  # shared by the lambda AND the SQL twin
_UDF_WINDOW_S = 12 * 3600


_UDF_PRED_PAT = _p(
    Seq(
        Ev(
            "a",
            where=(attr("a", "event_type") == lit("click"))
            & udf_pred(
                lambda s: (s % _UDF_MOD) < _UDF_THRESH,
                attr("a", "event_id"),
                name="id_bucket",
            ),
        ),
        Ev("b", event_type="purchase"),
    ),
    where=attr("b", "value") > attr("a", "value"),
    window=timedelta(seconds=_UDF_WINDOW_S),
)


def _udf_pred_oracle() -> str:
    return f"""
SELECT a.user_id AS user_id, CAST(0 AS INT) AS alt_id,
       CAST(a.event_id AS BIGINT) AS a_event_id,
       CAST(b.event_id AS BIGINT) AS b_event_id
FROM events a JOIN events b ON a.user_id = b.user_id
WHERE a.event_type = 'click' AND (a.event_id % {_UDF_MOD}) < {_UDF_THRESH}
  AND b.event_type = 'purchase'
  AND (a.ts < b.ts OR (a.ts = b.ts AND a.event_id < b.event_id))
  AND ABS(EPOCH(b.ts) - EPOCH(a.ts)) <= {_UDF_WINDOW_S}
  AND b.value > a.value
"""


# ---------------------------------------------------------------------------
# Single-pattern entries: name -> (pattern, oracle).  Every one runs the
# NFA executor through _cep_query.  An oracle of None is generated from
# the compiled pattern (join_planner.oracle_sql_for); the others are the
# hand-written SQL above, for shapes the generator cannot lower.

SINGLE_ENTRIES = {
    **{name: (pat, None) for name, pat in CEP_PATTERNS.items()},
    "cep_kleene_unbounded": (_KLEENE_UNBOUNDED_PAT, _kleene_unbounded_oracle),
    "cep_kleene_composite_unbounded": (_KLEENE_GROUP_PAT, _kleene_group_oracle),
    "cep_kleene_group_neg": (_KLEENE_GROUP_NEG_PAT, _kleene_group_neg_oracle),
    "cep_kleene_group_or": (_KLEENE_GROUP_OR_PAT, _kleene_group_or_oracle),
    "cep_kleene_and_group": (_KLEENE_AND_GROUP_PAT, _kleene_and_group_oracle),
    "cep_kleene_nested_unbounded": (_KLEENE_NESTED_UNBOUNDED_PAT,
                                    _kleene_nested_unbounded_oracle),
    "cep_kleene_dist_or": (_KLEENE_DIST_OR_PAT, _kleene_dist_or_oracle),
    "cep_kleene_and_pos": (_KLEENE_AND_POS_PAT, _kleene_and_pos_oracle),
    "cep_kleene_group_br_trail_neg": (_KLEENE_GROUP_BR_TRAIL_NEG_PAT,
                                      _kleene_group_br_trail_neg_oracle),
    "cep_udf_pred": (_UDF_PRED_PAT, _udf_pred_oracle),
}


# ---------------------------------------------------------------------------
# Multi-pattern (SURVEY.md §2.3 E7): N patterns in ONE scan + ONE shuffle.
# The array schema isn't hashable by the correctness check, so each
# entry flattens a match to a sorted event-id key; the oracle is a UNION
# ALL of the same generated per-pattern SQL, wrapped to build the
# identical key.

_MULTI_SPECS = [("seq2", "cep_seq2"), ("and3", "cep_and3"), ("neg", "cep_neg")]


def _multi_family() -> list:
    """cep_multi: three catalog patterns run by run_batch_multi's
    default strategy (per-pattern automata; they share no prefix)."""
    return [(pid, CEP_PATTERNS[name]) for pid, name in _MULTI_SPECS]


# Multi-pattern with PREFIX SHARING (cep_spark.merge): a family of funnel
# rules over one signup->view prelude, merged into a single trie-like NFA
# whose shared states advance once per event (9.5x over per-pattern on a
# prefix-dominated 12-rule microbench, scripts/bench_merge.py).  Sharing
# must be a pure execution detail, invisible in the output.

def _shared_family() -> list:
    # MIXED windows (round 4): the shared automaton runs under the max
    # (12h) and re-checks span <= W_tag per accept tag; the per-pattern
    # DuckDB oracles are generated with each pattern's OWN window, so
    # this entry keeps the mixed-window sharing path under the exact
    # correctness gate.
    w = timedelta(hours=12)
    mk = lambda struct, where=None, win=w: Pattern(
        struct, where=where if where is not None else TRUE, window=win,
        key="user_id", ts_col="ts", tiebreak_col="event_id",
    )
    a = Ev("a", event_type="signup")
    b = Ev("b", event_type="view")
    return [
        ("fun_purchase", mk(Seq(a, b, Ev("c", event_type="purchase")))),
        ("fun_click_up", mk(Seq(a, b, Ev("c", event_type="click")),
                            where=attr("c", "value") > attr("a", "value"),
                            win=timedelta(hours=4))),
        ("fun_error", mk(Seq(a, b, Ev("c", event_type="error")))),
        ("fun_noerr_buy", mk(Seq(a, b, Neg(Ev("n", event_type="error")),
                                 Ev("c", event_type="purchase")),
                             win=timedelta(hours=8))),
    ]


def _sliced_family() -> list:
    """Skew × sharing composition under the correctness gate: a family
    run by run_batch_multi_sliced — window-sliced hot-key decomposition
    over ONE prefix-shared (per-component) automaton per slice, slice
    width = the family max window.  It has its OWN family, so a slicing
    bug that reproduced the shared executor's output still fails this
    row.  SHORT mixed windows (1h/2h/3h) against the 30-day per-user
    event span force MANY (key, slice) cells at sf0.01, so the
    slice-boundary overlap logic is genuinely load-bearing."""
    mk = lambda struct, where=None, win=timedelta(hours=3): Pattern(
        struct, where=where if where is not None else TRUE, window=win,
        key="user_id", ts_col="ts", tiebreak_col="event_id",
    )
    v = Ev("v", event_type="view")
    return [
        ("sl_click", mk(Seq(v, Ev("c", event_type="click")),
                        win=timedelta(hours=1))),
        ("sl_buy", mk(Seq(v, Ev("c", event_type="purchase")),
                      win=timedelta(hours=2))),
        ("sl_click_up", mk(Seq(v, Ev("c", event_type="click")),
                           where=attr("c", "value") > attr("v", "value"),
                           win=timedelta(hours=3))),
        ("sl_noerr_click", mk(Seq(v, Neg(Ev("n", event_type="error")),
                                  Ev("c", event_type="click")),
                              win=timedelta(hours=2))),
    ]


# name -> (family, executor)
MULTI_ENTRIES = {
    "cep_multi": (_multi_family, run_batch_multi),
    "cep_multi_shared": (_shared_family, partial(run_batch_multi, strategy="shared")),
    "cep_multi_sliced": (_sliced_family, run_batch_multi_sliced),
}


def _match_keys(out: DataFrame) -> DataFrame:
    """Array-schema matches -> (user_id, pattern_id, alt_id, match_key),
    match_key = the match's event ids, sorted, comma-joined."""
    return out.select(
        "user_id",
        "pattern_id",
        "alt_id",
        F.expr(
            "concat_ws(',', transform(array_sort(transform(matched, m -> m.event_id)), "
            "x -> cast(x as string)))"
        ).alias("match_key"),
    )


def _multi_query(family: list, executor) -> Callable[[SparkSession, str], DataFrame]:
    cps = [compile_pattern(dataclasses.replace(pat, pattern_id=pid)) for pid, pat in family]

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        return _match_keys(executor(_events(spark, sf_dir), cps, emit_cols=("event_id",)))

    return run


def _family_union_oracle(family: list) -> str:
    parts = []
    for pid, pat in family:
        cp = compile_pattern(pat)
        vars_ = cp.alternatives[0].var_order
        ids = ", ".join(f"{v}_event_id" for v in vars_)
        parts.append(
            f"SELECT user_id, '{pid}' AS pattern_id, alt_id,\n"
            f"       array_to_string(list_sort([{ids}]), ',') AS match_key\n"
            f"FROM ({oracle_sql_for(cp, 'events')})"
        )
    return "\nUNION ALL\n".join(parts)


# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on sf0.001: SEQ(signup -> click -> purchase) within
    24h per user — the canonical funnel CEP pattern."""
    pat = _p(
        Seq(Ev("a", event_type="signup"), Ev("b", event_type="click"), Ev("c", event_type="purchase")),
        window=timedelta(hours=24),
    )
    df = _events(spark, "/root/testdata/sf0.001")
    return run_batch(df, compile_pattern(pat), mode="flat")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out = {name: _cep_query(pat) for name, (pat, _) in SINGLE_ENTRIES.items()}
    for name, (family, executor) in MULTI_ENTRIES.items():
        out[name] = _multi_query(family(), executor)
    out.update(windows.QUERIES)
    out.update(_pipeline_registry.queries())
    return out


def oracle_sql() -> dict[str, str]:
    out = {
        name: oracle() if oracle is not None else oracle_sql_for(compile_pattern(pat), "events")
        for name, (pat, oracle) in SINGLE_ENTRIES.items()
    }
    for name, (family, _) in MULTI_ENTRIES.items():
        out[name] = _family_union_oracle(family())
    out.update(windows.ORACLES)
    out.update(_pipeline_registry.oracle_sql())
    return out
