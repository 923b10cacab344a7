"""Driver contract for the spark-graft builder (PySpark target).

CEP pattern queries run on the `events` table (key=user_id,
symbol=event_type, ts/event_id ordering — the stand-in for the
reference's NASDAQ ticks, FIXTURES.md §2).  Oracle SQL is GENERATED
from the very same compiled pattern by cep_spark.join_planner, so Spark
plan and DuckDB oracle share one definition and one column naming.

Pipeline operators (dedup / similarity / text stats) run on
`documents` / `embeddings` (cep_spark.pipeline).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable
from datetime import timedelta

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession

from cep_spark.compiler import compile_pattern
from cep_spark.conditions import TRUE, attr, lit
from cep_spark.join_planner import oracle_sql_for, plan_join
from cep_spark.pattern import And_, Ev, Kleene, Neg, Or_, Pattern, Seq
from cep_spark.session import read_parquet

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
    cp = compile_pattern(pat)

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        df = _events(spark, sf_dir)
        return plan_join(df, cp)

    return run


def _cep_query_nfa(pat: Pattern) -> Callable[[SparkSession, str], DataFrame]:
    """Same flat output as the join lowering, via the NFA executor —
    the scale path for KLEENE-DENSE patterns, where the fixed-arity
    join expansion pays an arity-PRODUCT of self-join branches (e.g.
    two bounded Kleenes of max_len 2 = 4 UNION branches of up to 5-way
    joins) while the NFA does one shuffle + one vectorized pass.  The
    generated SQL oracle is shared with the join lowering, and the join
    path itself stays three-way-checked in tests/test_spark_e2e.py."""
    cp = compile_pattern(pat)

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from cep_spark.batch import run_batch

        df = _events(spark, sf_dir)
        return run_batch(df, cp, mode="flat")

    return run


# ---------------------------------------------------------------------------
# UNBOUNDED Kleene: the join lowering cannot enumerate unbounded powersets,
# so the Spark side is the NFA executor (run_batch) and the oracle is a
# recursive CTE (SURVEY.md §5.2 item 4) — exact powerset semantics checked
# end-to-end with no arity bound.

_KLEENE_UNBOUNDED_PAT = _p(
    Seq(
        Ev("a", event_type="signup"),
        Kleene(Ev("k", event_type="click")),
        Ev("c", event_type="purchase"),
    ),
    window=timedelta(hours=24),
)


def _kleene_unbounded_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cep_spark.batch import run_batch

    df = _events(spark, sf_dir)
    return run_batch(df, compile_pattern(_KLEENE_UNBOUNDED_PAT), mode="flat")


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
# purchase, NO repetition bound.  The join lowering has no fixed-arity
# expansion for this (repetitions interleave), so the Spark side is the
# NFA group automaton (run_batch) and the oracle is a recursive CTE over
# repetition chains — exact, unbounded.

_KLEENE_GROUP_PAT = _p(
    Seq(
        Kleene(Seq(Ev("u", event_type="view"), Ev("w", event_type="click"))),
        Ev("p", event_type="purchase"),
    ),
    window=timedelta(hours=12),
)


def _kleene_group_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cep_spark.batch import run_batch

    df = _events(spark, sf_dir)
    return run_batch(df, compile_pattern(_KLEENE_GROUP_PAT), mode="flat")


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


# round 4: LEADING Neg inside the unbounded repetition — the gap INTO
# each repetition (anchor -> u_1, then w_{j-1} -> u_j) must be free of
# qualifying 'error' events.  The CTE anchors at the preceding positive
# (required by the compiler: the first repetition's gap needs a left
# boundary) and repeats the NOT EXISTS guard against the previous
# bound event in base + recursive step.

_KLEENE_GROUP_LEAD_NEG_PAT = _p(
    Seq(
        Ev("s", event_type="signup"),
        Kleene(Seq(Neg(Ev("n", event_type="error")),
                   Ev("u", event_type="view"),
                   Ev("w", event_type="click"))),
    ),
    window=timedelta(hours=12),
)


def _kleene_group_lead_neg_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cep_spark.batch import run_batch

    df = _events(spark, sf_dir)
    return run_batch(df, compile_pattern(_KLEENE_GROUP_LEAD_NEG_PAT), mode="flat")


def _kleene_group_lead_neg_oracle() -> str:
    w = int(_KLEENE_GROUP_LEAD_NEG_PAT.window.total_seconds())

    def gap_free(prev_ts: str, prev_id: str) -> str:
        return f"""NOT EXISTS (
      SELECT 1 FROM events n
      WHERE n.user_id = u.user_id AND n.event_type = 'error'
        AND ({prev_ts} < n.ts OR ({prev_ts} = n.ts AND {prev_id} < n.event_id))
        AND (n.ts < u.ts OR (n.ts = u.ts AND n.event_id < u.event_id)))"""

    return f"""
WITH RECURSIVE chains AS (
  SELECT s.user_id, s.event_id AS s_id, s.ts AS first_ts,
         1 AS r,
         u.event_id AS u_first, u.event_id AS u_last,
         w.event_id AS w_first, w.event_id AS w_last,
         w.event_id AS last_id, w.ts AS last_ts
  FROM events s
  JOIN events u ON u.user_id = s.user_id
  JOIN events w ON w.user_id = s.user_id
  WHERE s.event_type = 'signup' AND u.event_type = 'view'
    AND w.event_type = 'click'
    AND (s.ts < u.ts OR (s.ts = u.ts AND s.event_id < u.event_id))
    AND (u.ts < w.ts OR (u.ts = w.ts AND u.event_id < w.event_id))
    AND EPOCH(w.ts) - EPOCH(s.ts) <= {w}
    AND {gap_free("s.ts", "s.event_id")}
  UNION ALL
  SELECT c.user_id, c.s_id, c.first_ts, c.r + 1,
         c.u_first, u.event_id, c.w_first, w.event_id,
         w.event_id, w.ts
  FROM chains c
  JOIN events u ON u.user_id = c.user_id
  JOIN events w ON w.user_id = c.user_id
  WHERE u.event_type = 'view' AND w.event_type = 'click'
    AND (c.last_ts < u.ts OR (c.last_ts = u.ts AND c.last_id < u.event_id))
    AND (u.ts < w.ts OR (u.ts = w.ts AND u.event_id < w.event_id))
    AND EPOCH(w.ts) - EPOCH(c.first_ts) <= {w}
    AND {gap_free("c.last_ts", "c.last_id")}
)
SELECT c.user_id AS user_id, CAST(0 AS INT) AS alt_id,
       CAST(c.s_id AS BIGINT) AS s_event_id,
       CAST(c.r AS BIGINT) AS u_len,
       CAST(c.u_first AS BIGINT) AS u_first,
       CAST(c.u_last AS BIGINT) AS u_last,
       CAST(c.r AS BIGINT) AS w_len,
       CAST(c.w_first AS BIGINT) AS w_first,
       CAST(c.w_last AS BIGINT) AS w_last
FROM chains c
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


def _kleene_group_neg_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cep_spark.batch import run_batch

    df = _events(spark, sf_dir)
    return run_batch(df, compile_pattern(_KLEENE_GROUP_NEG_PAT), mode="flat")


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


# round 4 (session B): TRAILING Neg inside the unbounded repetition —
# the gap OUT of each repetition (w_j -> u_{j+1} at every loop-back,
# then w_r -> p for the final repetition) must be free of qualifying
# 'error' events (NegSpec.repeat_only loop-back gap + the ordinary gap
# spec on the following part; compiler._collect group branch +
# pending_gap bubbling).  The oracle places the NOT EXISTS guard in the
# RECURSIVE step (between repetitions) and at the final join — NOT in
# the base case: the first repetition has no predecessor, and the gap
# INSIDE a repetition (u_j -> w_j) is deliberately unguarded.

_KLEENE_GROUP_TRAIL_NEG_PAT = _p(
    Seq(
        Kleene(Seq(Ev("u", event_type="view"),
                   Ev("w", event_type="click"),
                   Neg(Ev("n", event_type="error")))),
        Ev("p", event_type="purchase"),
    ),
    window=timedelta(hours=12),
)


def _kleene_group_trail_neg_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cep_spark.batch import run_batch

    df = _events(spark, sf_dir)
    return run_batch(df, compile_pattern(_KLEENE_GROUP_TRAIL_NEG_PAT), mode="flat")


def _kleene_group_trail_neg_oracle() -> str:
    w = int(_KLEENE_GROUP_TRAIL_NEG_PAT.window.total_seconds())

    def gap_free(prev_ts: str, prev_id: str, nxt_ts: str, nxt_id: str) -> str:
        return f"""NOT EXISTS (
      SELECT 1 FROM events n
      WHERE n.user_id = u.user_id AND n.event_type = 'error'
        AND ({prev_ts} < n.ts OR ({prev_ts} = n.ts AND {prev_id} < n.event_id))
        AND (n.ts < {nxt_ts} OR (n.ts = {nxt_ts} AND n.event_id < {nxt_id})))"""

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
    AND {gap_free("s.last_ts", "s.last_id", "u.ts", "u.event_id")}
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
  AND NOT EXISTS (
      SELECT 1 FROM events n
      WHERE n.user_id = s.user_id AND n.event_type = 'error'
        AND (s.last_ts < n.ts OR (s.last_ts = n.ts AND s.last_id < n.event_id))
        AND (n.ts < p.ts OR (n.ts = p.ts AND n.event_id < p.event_id)))
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


def _kleene_group_or_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cep_spark.batch import run_batch

    df = _events(spark, sf_dir)
    return run_batch(df, compile_pattern(_KLEENE_GROUP_OR_PAT), mode="flat")


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


# round 5: PATTERN-INITIAL leading Neg on an unbounded group — no
# positive anchor before the Kleene, so the FIRST repetition's
# look-back is the window-bounded leading edge (no qualifying 'error'
# strictly before u_1 with p.ts - n.ts <= W) and later repetitions get
# the loop-back gap w_{j-1} -> u_j (compiler._collect lead_noanchor;
# semantics defined by the chain expansion after Seq flattening).

_KLEENE_GROUP_LEAD_EDGE_PAT = _p(
    Seq(
        Kleene(Seq(Neg(Ev("n", event_type="error")),
                   Ev("u", event_type="view"),
                   Ev("w", event_type="click"))),
        Ev("p", event_type="purchase"),
    ),
    window=timedelta(hours=12),
)


def _kleene_group_lead_edge_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cep_spark.batch import run_batch

    df = _events(spark, sf_dir)
    return run_batch(df, compile_pattern(_KLEENE_GROUP_LEAD_EDGE_PAT),
                     mode="flat")


def _kleene_group_lead_edge_oracle() -> str:
    w = int(_KLEENE_GROUP_LEAD_EDGE_PAT.window.total_seconds())
    return f"""
WITH RECURSIVE chains AS (
  SELECT u.user_id,
         u.event_id AS u_first, u.ts AS u1_ts, u.ts AS first_ts, 1 AS r,
         u.event_id AS u_last,
         ww.event_id AS w_first, ww.event_id AS w_last,
         ww.event_id AS last_id, ww.ts AS last_ts
  FROM events u JOIN events ww ON ww.user_id = u.user_id
  WHERE u.event_type = 'view' AND ww.event_type = 'click'
    AND (u.ts < ww.ts OR (u.ts = ww.ts AND u.event_id < ww.event_id))
    AND EPOCH(ww.ts) - EPOCH(u.ts) <= {w}
  UNION ALL
  SELECT s.user_id, s.u_first, s.u1_ts, s.first_ts, s.r + 1,
         u.event_id, s.w_first, ww.event_id, ww.event_id, ww.ts
  FROM chains s
  JOIN events u ON u.user_id = s.user_id
  JOIN events ww ON ww.user_id = s.user_id
  WHERE u.event_type = 'view' AND ww.event_type = 'click'
    AND (s.last_ts < u.ts OR (s.last_ts = u.ts AND s.last_id < u.event_id))
    AND (u.ts < ww.ts OR (u.ts = ww.ts AND u.event_id < ww.event_id))
    AND EPOCH(ww.ts) - EPOCH(s.first_ts) <= {w}
    AND NOT EXISTS (
      SELECT 1 FROM events n
      WHERE n.user_id = s.user_id AND n.event_type = 'error'
        AND (s.last_ts < n.ts OR (s.last_ts = n.ts AND s.last_id < n.event_id))
        AND (n.ts < u.ts OR (n.ts = u.ts AND n.event_id < u.event_id)))
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
  AND NOT EXISTS (
      SELECT 1 FROM events n
      WHERE n.user_id = s.user_id AND n.event_type = 'error'
        AND (n.ts < s.u1_ts OR (n.ts = s.u1_ts AND n.event_id < s.u_first))
        AND EPOCH(p.ts) - EPOCH(n.ts) <= {w})
"""


# round 5: Kleene over a BARE Or_ — one-or-more events, EACH either a
# 'click' (w) or a 'view' (x): a single-position branch group (the
# repetition completes at its entry bind; compiler._collect normalizes
# the Or_ inner to one position).  The oracle CTE extends one event at
# a time with b IN ('click','view'), per-branch aggregates as in
# cep_kleene_group_or.

_KLEENE_BARE_OR_PAT = _p(
    Seq(
        Ev("s", event_type="signup"),
        Kleene(Or_(Ev("w", event_type="click"),
                   Ev("x", event_type="view"))),
        Ev("p", event_type="purchase"),
    ),
    window=timedelta(hours=12),
)


def _kleene_bare_or_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cep_spark.batch import run_batch

    df = _events(spark, sf_dir)
    return run_batch(df, compile_pattern(_KLEENE_BARE_OR_PAT), mode="flat")


def _kleene_bare_or_oracle() -> str:
    w = int(_KLEENE_BARE_OR_PAT.window.total_seconds())
    return f"""
WITH RECURSIVE chains AS (
  SELECT s.user_id, s.event_id AS s_id, s.ts AS first_ts, 1 AS r,
         CASE WHEN b.event_type = 'click' THEN 1 ELSE 0 END AS w_cnt,
         CASE WHEN b.event_type = 'click' THEN b.event_id END AS w_first,
         CASE WHEN b.event_type = 'click' THEN b.event_id END AS w_last,
         CASE WHEN b.event_type = 'view' THEN 1 ELSE 0 END AS x_cnt,
         CASE WHEN b.event_type = 'view' THEN b.event_id END AS x_first,
         CASE WHEN b.event_type = 'view' THEN b.event_id END AS x_last,
         b.event_id AS last_id, b.ts AS last_ts
  FROM events s JOIN events b ON b.user_id = s.user_id
  WHERE s.event_type = 'signup' AND b.event_type IN ('click', 'view')
    AND (s.ts < b.ts OR (s.ts = b.ts AND s.event_id < b.event_id))
    AND EPOCH(b.ts) - EPOCH(s.ts) <= {w}
  UNION ALL
  SELECT c.user_id, c.s_id, c.first_ts, c.r + 1,
         c.w_cnt + CASE WHEN b.event_type = 'click' THEN 1 ELSE 0 END,
         COALESCE(c.w_first,
                  CASE WHEN b.event_type = 'click' THEN b.event_id END),
         COALESCE(CASE WHEN b.event_type = 'click' THEN b.event_id END,
                  c.w_last),
         c.x_cnt + CASE WHEN b.event_type = 'view' THEN 1 ELSE 0 END,
         COALESCE(c.x_first,
                  CASE WHEN b.event_type = 'view' THEN b.event_id END),
         COALESCE(CASE WHEN b.event_type = 'view' THEN b.event_id END,
                  c.x_last),
         b.event_id, b.ts
  FROM chains c JOIN events b ON b.user_id = c.user_id
  WHERE b.event_type IN ('click', 'view')
    AND (c.last_ts < b.ts OR (c.last_ts = b.ts AND c.last_id < b.event_id))
    AND EPOCH(b.ts) - EPOCH(c.first_ts) <= {w}
)
SELECT c.user_id AS user_id, CAST(0 AS INT) AS alt_id,
       CAST(c.s_id AS BIGINT) AS s_event_id,
       CASE WHEN c.w_cnt > 0 THEN CAST(c.w_cnt AS BIGINT) END AS w_len,
       CAST(c.w_first AS BIGINT) AS w_first,
       CAST(c.w_last AS BIGINT) AS w_last,
       CASE WHEN c.x_cnt > 0 THEN CAST(c.x_cnt AS BIGINT) END AS x_len,
       CAST(c.x_first AS BIGINT) AS x_first,
       CAST(c.x_last AS BIGINT) AS x_last,
       CAST(p.event_id AS BIGINT) AS p_event_id
FROM chains c JOIN events p ON p.user_id = c.user_id
WHERE p.event_type = 'purchase'
  AND (c.last_ts < p.ts OR (c.last_ts = p.ts AND c.last_id < p.event_id))
  AND EPOCH(p.ts) - EPOCH(c.first_ts) <= {w}
"""


# round 4 (session B): Kleene over And_ — each repetition binds the
# leaves in ANY arrival order (permutation assignments count
# separately), repetitions interleave strictly (all of rep j before all
# of rep j+1 in (ts, event_id) order).  compiler._collect grp_kind=
# "and"; the automaton's mid tracks the SET of bound sub-indices.  The
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


def _kleene_and_group_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cep_spark.batch import run_batch

    df = _events(spark, sf_dir)
    return run_batch(df, compile_pattern(_KLEENE_AND_GROUP_PAT), mode="flat")


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


# round 5 (session 2): a MULTI-EVENT (Seq) branch inside the Or_
# position — every repetition binds a 'view' then EITHER ('click' w,
# 'signup' x — in order, bound together before the position completes)
# OR a single 'error' y (compiler Slot.br/br_idx/br_len; _successors'
# (position, branch, next_idx) mid pointer).  The oracle pre-computes
# single-repetition units in a `reps` CTE (u+(w,x) | u+y) and chains
# them recursively; a branch never chosen emits NULL len/first/last.

_KLEENE_GROUP_SEQ_OR_PAT = _p(
    Seq(
        Kleene(Seq(Ev("u", event_type="view"),
                   Or_(Seq(Ev("w", event_type="click"),
                           Ev("x", event_type="signup")),
                       Ev("y", event_type="error")))),
        Ev("p", event_type="purchase"),
    ),
    window=timedelta(hours=12),
)


def _kleene_group_seq_or_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cep_spark.batch import run_batch

    df = _events(spark, sf_dir)
    return run_batch(df, compile_pattern(_KLEENE_GROUP_SEQ_OR_PAT), mode="flat")


def _kleene_group_seq_or_oracle() -> str:
    w = int(_KLEENE_GROUP_SEQ_OR_PAT.window.total_seconds())
    return f"""
WITH RECURSIVE reps AS (
  SELECT u.user_id, u.event_id AS u_id, u.ts AS u_ts,
         w.event_id AS w_id, x.event_id AS x_id,
         CAST(NULL AS BIGINT) AS y_id,
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
         CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), y.event_id,
         y.event_id, y.ts
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
         last_id, last_ts
  FROM reps
  UNION ALL
  SELECT s.user_id, s.u_first, t.u_id, s.first_ts, s.r + 1,
         s.w_cnt + CASE WHEN t.w_id IS NOT NULL THEN 1 ELSE 0 END,
         COALESCE(s.w_first, t.w_id), COALESCE(t.w_id, s.w_last),
         s.x_cnt + CASE WHEN t.x_id IS NOT NULL THEN 1 ELSE 0 END,
         COALESCE(s.x_first, t.x_id), COALESCE(t.x_id, s.x_last),
         s.y_cnt + CASE WHEN t.y_id IS NOT NULL THEN 1 ELSE 0 END,
         COALESCE(s.y_first, t.y_id), COALESCE(t.y_id, s.y_last),
         t.last_id, t.last_ts
  FROM chains s JOIN reps t ON t.user_id = s.user_id
  WHERE (s.last_ts < t.u_ts OR (s.last_ts = t.u_ts AND s.last_id < t.u_id))
    AND EPOCH(t.last_ts) - EPOCH(s.first_ts) <= {w}
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
"""


# round 5 (session 2): a BOUNDED leaf Kleene nested inside the UNBOUNDED
# repetition — compiler._expand_nested_bounded pre-expands Kleene(b,
# max_len=2) to branch chains b__1_1 | (b__2_1, b__2_2), so each
# repetition binds a 'view' then one or two 'click's without bounding
# the OUTER repetition count.  Same reps-CTE shape as
# cep_kleene_group_seq_or with the chain-instance variable names.

_KLEENE_NESTED_BOUNDED_PAT = _p(
    Seq(
        Kleene(Seq(Ev("u", event_type="view"),
                   Kleene(Ev("b", event_type="click"), max_len=2))),
        Ev("p", event_type="purchase"),
    ),
    window=timedelta(hours=12),
)


def _kleene_nested_bounded_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cep_spark.batch import run_batch

    df = _events(spark, sf_dir)
    return run_batch(df, compile_pattern(_KLEENE_NESTED_BOUNDED_PAT),
                     mode="flat")


def _kleene_nested_bounded_oracle() -> str:
    w = int(_KLEENE_NESTED_BOUNDED_PAT.window.total_seconds())
    return f"""
WITH RECURSIVE reps AS (
  SELECT u.user_id, u.event_id AS u_id, u.ts AS u_ts,
         b.event_id AS b11_id,
         CAST(NULL AS BIGINT) AS b21_id, CAST(NULL AS BIGINT) AS b22_id,
         b.event_id AS last_id, b.ts AS last_ts
  FROM events u JOIN events b ON b.user_id = u.user_id
  WHERE u.event_type = 'view' AND b.event_type = 'click'
    AND (u.ts < b.ts OR (u.ts = b.ts AND u.event_id < b.event_id))
    AND EPOCH(b.ts) - EPOCH(u.ts) <= {w}
  UNION ALL
  SELECT u.user_id, u.event_id, u.ts,
         CAST(NULL AS BIGINT), b1.event_id, b2.event_id,
         b2.event_id, b2.ts
  FROM events u
  JOIN events b1 ON b1.user_id = u.user_id
  JOIN events b2 ON b2.user_id = u.user_id
  WHERE u.event_type = 'view' AND b1.event_type = 'click'
    AND b2.event_type = 'click'
    AND (u.ts < b1.ts OR (u.ts = b1.ts AND u.event_id < b1.event_id))
    AND (b1.ts < b2.ts OR (b1.ts = b2.ts AND b1.event_id < b2.event_id))
    AND EPOCH(b2.ts) - EPOCH(u.ts) <= {w}
),
chains AS (
  SELECT user_id, u_id AS u_first, u_id AS u_last, u_ts AS first_ts,
         1 AS r,
         CASE WHEN b11_id IS NOT NULL THEN 1 ELSE 0 END AS b11_cnt,
         b11_id AS b11_first, b11_id AS b11_last,
         CASE WHEN b21_id IS NOT NULL THEN 1 ELSE 0 END AS b21_cnt,
         b21_id AS b21_first, b21_id AS b21_last,
         CASE WHEN b22_id IS NOT NULL THEN 1 ELSE 0 END AS b22_cnt,
         b22_id AS b22_first, b22_id AS b22_last,
         last_id, last_ts
  FROM reps
  UNION ALL
  SELECT s.user_id, s.u_first, t.u_id, s.first_ts, s.r + 1,
         s.b11_cnt + CASE WHEN t.b11_id IS NOT NULL THEN 1 ELSE 0 END,
         COALESCE(s.b11_first, t.b11_id), COALESCE(t.b11_id, s.b11_last),
         s.b21_cnt + CASE WHEN t.b21_id IS NOT NULL THEN 1 ELSE 0 END,
         COALESCE(s.b21_first, t.b21_id), COALESCE(t.b21_id, s.b21_last),
         s.b22_cnt + CASE WHEN t.b22_id IS NOT NULL THEN 1 ELSE 0 END,
         COALESCE(s.b22_first, t.b22_id), COALESCE(t.b22_id, s.b22_last),
         t.last_id, t.last_ts
  FROM chains s JOIN reps t ON t.user_id = s.user_id
  WHERE (s.last_ts < t.u_ts OR (s.last_ts = t.u_ts AND s.last_id < t.u_id))
    AND EPOCH(t.last_ts) - EPOCH(s.first_ts) <= {w}
)
SELECT s.user_id AS user_id, CAST(0 AS INT) AS alt_id,
       CAST(s.r AS BIGINT) AS u_len,
       CAST(s.u_first AS BIGINT) AS u_first,
       CAST(s.u_last AS BIGINT) AS u_last,
       CASE WHEN s.b11_cnt > 0 THEN CAST(s.b11_cnt AS BIGINT) END AS b__1_1_len,
       CAST(s.b11_first AS BIGINT) AS b__1_1_first,
       CAST(s.b11_last AS BIGINT) AS b__1_1_last,
       CASE WHEN s.b21_cnt > 0 THEN CAST(s.b21_cnt AS BIGINT) END AS b__2_1_len,
       CAST(s.b21_first AS BIGINT) AS b__2_1_first,
       CAST(s.b21_last AS BIGINT) AS b__2_1_last,
       CASE WHEN s.b22_cnt > 0 THEN CAST(s.b22_cnt AS BIGINT) END AS b__2_2_len,
       CAST(s.b22_first AS BIGINT) AS b__2_2_first,
       CAST(s.b22_last AS BIGINT) AS b__2_2_last,
       CAST(p.event_id AS BIGINT) AS p_event_id
FROM chains s JOIN events p ON p.user_id = s.user_id
WHERE p.event_type = 'purchase'
  AND (s.last_ts < p.ts OR (s.last_ts = p.ts AND s.last_id < p.event_id))
  AND EPOCH(p.ts) - EPOCH(s.first_ts) <= {w}
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


def _kleene_nested_unbounded_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cep_spark.batch import run_batch

    df = _events(spark, sf_dir)
    return run_batch(df, compile_pattern(_KLEENE_NESTED_UNBOUNDED_PAT),
                     mode="flat")


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


# round 5 (session 17): the unbounded nested leaf Kleene STARTS the
# repetition body — `Kleene(Seq(Kleene(b), a))` with neither level
# bounded.  The loop's ENTRY bind opens each repetition (loop-back
# entry from a completed group), continue binds extend the run while
# the anchor hasn't bound, and the repetition-count anchor for the
# bounded forced-group cap moves to the first NON-loop position
# (batch.py grp_anchor_vars).  Each repetition = a one-or-more run of
# 'click's then a 'view'; then a 'purchase'.  The oracle mirrors the
# session-16 entry with the phases swapped: a chain STARTS at a click
# (in_run=1), a view closes the repetition (in_run=0, requires
# in_run=1), a click either extends the run or opens the next
# repetition; matches emit only with the repetition closed.

_KLEENE_LOOP_FIRST_PAT = _p(
    Seq(
        Kleene(Seq(Kleene(Ev("b", event_type="click")),
                   Ev("a", event_type="view"))),
        Ev("p", event_type="purchase"),
    ),
    window=timedelta(hours=48),
)


def _kleene_loop_first_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cep_spark.batch import run_batch

    df = _events(spark, sf_dir)
    return run_batch(df, compile_pattern(_KLEENE_LOOP_FIRST_PAT),
                     mode="flat")


def _kleene_loop_first_oracle() -> str:
    w = int(_KLEENE_LOOP_FIRST_PAT.window.total_seconds())
    return f"""
WITH RECURSIVE chains AS (
  SELECT b.user_id, b.ts AS first_ts, 1 AS in_run,
         0 AS a_cnt, CAST(NULL AS BIGINT) AS a_first,
         CAST(NULL AS BIGINT) AS a_last,
         1 AS b_cnt, b.event_id AS b_first, b.event_id AS b_last,
         b.event_id AS last_id, b.ts AS last_ts
  FROM events b WHERE b.event_type = 'click'
  UNION ALL
  SELECT c.user_id, c.first_ts,
         CASE WHEN e.event_type = 'click' THEN 1 ELSE 0 END,
         c.a_cnt + CASE WHEN e.event_type = 'view' THEN 1 ELSE 0 END,
         CASE WHEN e.event_type = 'view'
              THEN COALESCE(c.a_first, e.event_id) ELSE c.a_first END,
         CASE WHEN e.event_type = 'view' THEN e.event_id ELSE c.a_last END,
         c.b_cnt + CASE WHEN e.event_type = 'click' THEN 1 ELSE 0 END,
         c.b_first,
         CASE WHEN e.event_type = 'click' THEN e.event_id ELSE c.b_last END,
         e.event_id, e.ts
  FROM chains c JOIN events e ON e.user_id = c.user_id
  WHERE (e.event_type = 'click'
         OR (e.event_type = 'view' AND c.in_run = 1))
    AND (c.last_ts < e.ts OR (c.last_ts = e.ts AND c.last_id < e.event_id))
    AND EPOCH(e.ts) - EPOCH(c.first_ts) <= {w}
)
SELECT c.user_id AS user_id, CAST(0 AS INT) AS alt_id,
       CAST(c.b_cnt AS BIGINT) AS b_len,
       CAST(c.b_first AS BIGINT) AS b_first,
       CAST(c.b_last AS BIGINT) AS b_last,
       CAST(c.a_cnt AS BIGINT) AS a_len,
       CAST(c.a_first AS BIGINT) AS a_first,
       CAST(c.a_last AS BIGINT) AS a_last,
       CAST(p.event_id AS BIGINT) AS p_event_id
FROM chains c JOIN events p ON p.user_id = c.user_id
WHERE c.in_run = 0 AND p.event_type = 'purchase'
  AND (c.last_ts < p.ts OR (c.last_ts = p.ts AND c.last_id < p.event_id))
  AND EPOCH(p.ts) - EPOCH(c.first_ts) <= {w}
"""


# round 5 (session 18): an UNBOUNDED COMPOSITE (Seq-of-leaves) Kleene
# nested inside the UNBOUNDED repetition — `Kleene(Seq(a, Kleene(Seq(b,
# c))))` with no bound on either level.  The inner lowers to a looping
# UNIT position: each outer repetition binds a 'view' then one-or-more
# full (click, signup) inner repetitions in strict order; re-entry for
# another inner repetition goes back through the unit's first leaf via
# loop_cont transitions that re-open the (j, 0, 1) mid pointer, so the
# unit must complete before the next outer repetition or the final
# 'purchase' binds.  The oracle extends the session-16 walk to a
# 3-phase flag: 0 = just bound a view (need >= 1 unit), 1 = half unit
# (click bound, need signup), 2 = unit done (extend / new repetition /
# finish) — each binding's event sequence is a unique path, so
# UNION ALL enumerates each match exactly once.

_KLEENE_LOOP_UNIT_PAT = _p(
    Seq(
        Kleene(Seq(Ev("a", event_type="view"),
                   Kleene(Seq(Ev("b", event_type="click"),
                              Ev("c", event_type="signup"))))),
        Ev("p", event_type="purchase"),
    ),
    # 96h: the smallest family window where the harness data yields
    # multi-repetition (72 rows at sf0.01) AND multi-unit (379 rows)
    # matches — both the loop-back and the unit re-entry paths are
    # load-bearing for the row set
    window=timedelta(hours=96),
)


def _kleene_loop_unit_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cep_spark.batch import run_batch

    df = _events(spark, sf_dir)
    return run_batch(df, compile_pattern(_KLEENE_LOOP_UNIT_PAT),
                     mode="flat")


def _kleene_loop_unit_oracle() -> str:
    w = int(_KLEENE_LOOP_UNIT_PAT.window.total_seconds())
    return f"""
WITH RECURSIVE chains AS (
  SELECT a.user_id, a.ts AS first_ts, 0 AS ph,
         1 AS a_cnt, a.event_id AS a_first, a.event_id AS a_last,
         0 AS b_cnt, CAST(NULL AS BIGINT) AS b_first,
         CAST(NULL AS BIGINT) AS b_last,
         0 AS c_cnt, CAST(NULL AS BIGINT) AS c_first,
         CAST(NULL AS BIGINT) AS c_last,
         a.event_id AS last_id, a.ts AS last_ts
  FROM events a WHERE a.event_type = 'view'
  UNION ALL
  SELECT ch.user_id, ch.first_ts,
         CASE WHEN e.event_type = 'click' THEN 1
              WHEN e.event_type = 'signup' THEN 2 ELSE 0 END,
         ch.a_cnt + CASE WHEN e.event_type = 'view' THEN 1 ELSE 0 END,
         ch.a_first,
         CASE WHEN e.event_type = 'view' THEN e.event_id ELSE ch.a_last END,
         ch.b_cnt + CASE WHEN e.event_type = 'click' THEN 1 ELSE 0 END,
         CASE WHEN e.event_type = 'click'
              THEN COALESCE(ch.b_first, e.event_id) ELSE ch.b_first END,
         CASE WHEN e.event_type = 'click' THEN e.event_id ELSE ch.b_last END,
         ch.c_cnt + CASE WHEN e.event_type = 'signup' THEN 1 ELSE 0 END,
         CASE WHEN e.event_type = 'signup'
              THEN COALESCE(ch.c_first, e.event_id) ELSE ch.c_first END,
         CASE WHEN e.event_type = 'signup' THEN e.event_id ELSE ch.c_last END,
         e.event_id, e.ts
  FROM chains ch JOIN events e ON e.user_id = ch.user_id
  WHERE ((e.event_type = 'click' AND ch.ph IN (0, 2))
         OR (e.event_type = 'signup' AND ch.ph = 1)
         OR (e.event_type = 'view' AND ch.ph = 2))
    AND (ch.last_ts < e.ts OR (ch.last_ts = e.ts AND ch.last_id < e.event_id))
    AND EPOCH(e.ts) - EPOCH(ch.first_ts) <= {w}
)
SELECT ch.user_id AS user_id, CAST(0 AS INT) AS alt_id,
       CAST(ch.a_cnt AS BIGINT) AS a_len,
       CAST(ch.a_first AS BIGINT) AS a_first,
       CAST(ch.a_last AS BIGINT) AS a_last,
       CAST(ch.b_cnt AS BIGINT) AS b_len,
       CAST(ch.b_first AS BIGINT) AS b_first,
       CAST(ch.b_last AS BIGINT) AS b_last,
       CAST(ch.c_cnt AS BIGINT) AS c_len,
       CAST(ch.c_first AS BIGINT) AS c_first,
       CAST(ch.c_last AS BIGINT) AS c_last,
       CAST(p.event_id AS BIGINT) AS p_event_id
FROM chains ch JOIN events p ON p.user_id = ch.user_id
WHERE ch.ph = 2 AND p.event_type = 'purchase'
  AND (ch.last_ts < p.ts OR (ch.last_ts = p.ts AND ch.last_id < p.event_id))
  AND EPOCH(p.ts) - EPOCH(ch.first_ts) <= {w}
"""


# round 5 (session 19): a Neg strictly BETWEEN two leaves of the
# looping unit — `Kleene(Seq(a, Kleene(Seq(b, Neg(n), c))))`: a
# per-INNER-repetition gap (no 'error' strictly between each click and
# its signup), firing in first-pass and re-entered units alike
# (NegSpec.mem_gap at the signup sub-slot's bind).  The oracle is the
# session-18 3-phase walk with a NOT EXISTS guard on the signup step
# (ch.last IS the gap's click while ph = 1).  The Neg kills 814 of the
# 1975 Neg-free rows at sf0.01 — strongly discriminative.

_KLEENE_LOOP_UNIT_NEG_PAT = _p(
    Seq(
        Kleene(Seq(Ev("a", event_type="view"),
                   Kleene(Seq(Ev("b", event_type="click"),
                              Neg(Ev("n", event_type="error")),
                              Ev("c", event_type="signup"))))),
        Ev("p", event_type="purchase"),
    ),
    window=timedelta(hours=96),
)


def _kleene_loop_unit_neg_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cep_spark.batch import run_batch

    df = _events(spark, sf_dir)
    return run_batch(df, compile_pattern(_KLEENE_LOOP_UNIT_NEG_PAT),
                     mode="flat")


def _kleene_loop_unit_neg_oracle() -> str:
    w = int(_KLEENE_LOOP_UNIT_NEG_PAT.window.total_seconds())
    return f"""
WITH RECURSIVE chains AS (
  SELECT a.user_id, a.ts AS first_ts, 0 AS ph,
         1 AS a_cnt, a.event_id AS a_first, a.event_id AS a_last,
         0 AS b_cnt, CAST(NULL AS BIGINT) AS b_first,
         CAST(NULL AS BIGINT) AS b_last,
         0 AS c_cnt, CAST(NULL AS BIGINT) AS c_first,
         CAST(NULL AS BIGINT) AS c_last,
         a.event_id AS last_id, a.ts AS last_ts
  FROM events a WHERE a.event_type = 'view'
  UNION ALL
  SELECT ch.user_id, ch.first_ts,
         CASE WHEN e.event_type = 'click' THEN 1
              WHEN e.event_type = 'signup' THEN 2 ELSE 0 END,
         ch.a_cnt + CASE WHEN e.event_type = 'view' THEN 1 ELSE 0 END,
         ch.a_first,
         CASE WHEN e.event_type = 'view' THEN e.event_id ELSE ch.a_last END,
         ch.b_cnt + CASE WHEN e.event_type = 'click' THEN 1 ELSE 0 END,
         CASE WHEN e.event_type = 'click'
              THEN COALESCE(ch.b_first, e.event_id) ELSE ch.b_first END,
         CASE WHEN e.event_type = 'click' THEN e.event_id ELSE ch.b_last END,
         ch.c_cnt + CASE WHEN e.event_type = 'signup' THEN 1 ELSE 0 END,
         CASE WHEN e.event_type = 'signup'
              THEN COALESCE(ch.c_first, e.event_id) ELSE ch.c_first END,
         CASE WHEN e.event_type = 'signup' THEN e.event_id ELSE ch.c_last END,
         e.event_id, e.ts
  FROM chains ch JOIN events e ON e.user_id = ch.user_id
  WHERE ((e.event_type = 'click' AND ch.ph IN (0, 2))
         OR (e.event_type = 'signup' AND ch.ph = 1 AND NOT EXISTS (
               SELECT 1 FROM events n
               WHERE n.user_id = ch.user_id AND n.event_type = 'error'
                 AND (ch.last_ts < n.ts
                      OR (ch.last_ts = n.ts AND ch.last_id < n.event_id))
                 AND (n.ts < e.ts
                      OR (n.ts = e.ts AND n.event_id < e.event_id))))
         OR (e.event_type = 'view' AND ch.ph = 2))
    AND (ch.last_ts < e.ts OR (ch.last_ts = e.ts AND ch.last_id < e.event_id))
    AND EPOCH(e.ts) - EPOCH(ch.first_ts) <= {w}
)
SELECT ch.user_id AS user_id, CAST(0 AS INT) AS alt_id,
       CAST(ch.a_cnt AS BIGINT) AS a_len,
       CAST(ch.a_first AS BIGINT) AS a_first,
       CAST(ch.a_last AS BIGINT) AS a_last,
       CAST(ch.b_cnt AS BIGINT) AS b_len,
       CAST(ch.b_first AS BIGINT) AS b_first,
       CAST(ch.b_last AS BIGINT) AS b_last,
       CAST(ch.c_cnt AS BIGINT) AS c_len,
       CAST(ch.c_first AS BIGINT) AS c_first,
       CAST(ch.c_last AS BIGINT) AS c_last,
       CAST(p.event_id AS BIGINT) AS p_event_id
FROM chains ch JOIN events p ON p.user_id = ch.user_id
WHERE ch.ph = 2 AND p.event_type = 'purchase'
  AND (ch.last_ts < p.ts OR (ch.last_ts = p.ts AND ch.last_id < p.event_id))
  AND EPOCH(p.ts) - EPOCH(ch.first_ts) <= {w}
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


def _kleene_dist_or_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cep_spark.batch import run_batch

    df = _events(spark, sf_dir)
    return run_batch(df, compile_pattern(_KLEENE_DIST_OR_PAT), mode="flat")


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


# round 5 (session 12, phase C): an ALL-LEAF And_ AS a branch of the
# Or_ — `Or_(And_(w, x), c)` — distributed over ORDERINGS at compile
# time: with leaf members every interleaving is a permutation and
# exactly one ordering holds per concrete bind (strict (ts, tiebreak)
# interleaving), so the Or_ of orderings is exact.  Units:
# (w__d1 < x__d1) | (x__d2 < w__d2) | c.  Every repetition binds a
# 'view', then EITHER a 'click' and a 'signup' in ANY arrival order OR
# a bare 'error'.  The oracle enumerates both orderings as separate
# reps arms — their row sets are disjoint by the strict total order.

_KLEENE_DIST_AND_PAT = _p(
    Seq(
        Kleene(Seq(Ev("u", event_type="view"),
                   Or_(And_(Ev("w", event_type="click"),
                            Ev("x", event_type="signup")),
                       Ev("c", event_type="error")))),
        Ev("p", event_type="purchase"),
    ),
    # 48h: both orderings exercised (24/25 rows at sf0.001) with
    # multi-repetition (17) and mixed-unit (6) matches — the
    # per-ordering unit choice is load-bearing for the row set
    window=timedelta(hours=48),
)


def _kleene_dist_and_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cep_spark.batch import run_batch

    df = _events(spark, sf_dir)
    return run_batch(df, compile_pattern(_KLEENE_DIST_AND_PAT), mode="flat")


def _kleene_dist_and_oracle() -> str:
    w = int(_KLEENE_DIST_AND_PAT.window.total_seconds())
    return f"""
WITH RECURSIVE reps AS (
  SELECT u.user_id, u.event_id AS u_id, u.ts AS u_ts,
         w.event_id AS w1_id, x.event_id AS x1_id,
         CAST(NULL AS BIGINT) AS x2_id, CAST(NULL AS BIGINT) AS w2_id,
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
         x.event_id, w.event_id, CAST(NULL AS BIGINT),
         w.event_id, w.ts
  FROM events u
  JOIN events x ON x.user_id = u.user_id
  JOIN events w ON w.user_id = u.user_id
  WHERE u.event_type = 'view' AND x.event_type = 'signup'
    AND w.event_type = 'click'
    AND (u.ts < x.ts OR (u.ts = x.ts AND u.event_id < x.event_id))
    AND (x.ts < w.ts OR (x.ts = w.ts AND x.event_id < w.event_id))
    AND EPOCH(w.ts) - EPOCH(u.ts) <= {w}
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
         CASE WHEN x2_id IS NOT NULL THEN 1 ELSE 0 END AS x2_cnt,
         x2_id AS x2_first, x2_id AS x2_last,
         CASE WHEN w2_id IS NOT NULL THEN 1 ELSE 0 END AS w2_cnt,
         w2_id AS w2_first, w2_id AS w2_last,
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
         s.x2_cnt + CASE WHEN t.x2_id IS NOT NULL THEN 1 ELSE 0 END,
         COALESCE(s.x2_first, t.x2_id), COALESCE(t.x2_id, s.x2_last),
         s.w2_cnt + CASE WHEN t.w2_id IS NOT NULL THEN 1 ELSE 0 END,
         COALESCE(s.w2_first, t.w2_id), COALESCE(t.w2_id, s.w2_last),
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
       CASE WHEN s.x2_cnt > 0 THEN CAST(s.x2_cnt AS BIGINT) END AS x__d2_len,
       CAST(s.x2_first AS BIGINT) AS x__d2_first,
       CAST(s.x2_last AS BIGINT) AS x__d2_last,
       CASE WHEN s.w2_cnt > 0 THEN CAST(s.w2_cnt AS BIGINT) END AS w__d2_len,
       CAST(s.w2_first AS BIGINT) AS w__d2_first,
       CAST(s.w2_last AS BIGINT) AS w__d2_last,
       CASE WHEN s.c_cnt > 0 THEN CAST(s.c_cnt AS BIGINT) END AS c_len,
       CAST(s.c_first AS BIGINT) AS c_first,
       CAST(s.c_last AS BIGINT) AS c_last,
       CAST(p.event_id AS BIGINT) AS p_event_id
FROM chains s JOIN events p ON p.user_id = s.user_id
WHERE p.event_type = 'purchase'
  AND (s.last_ts < p.ts OR (s.last_ts = p.ts AND s.last_id < p.event_id))
  AND EPOCH(p.ts) - EPOCH(s.first_ts) <= {w}
"""


# round 5 (session 13): an And_ with a SEQ member AS a branch —
# `Or_(And_(Seq(w, v), x), c)` — distributed over LINEAR EXTENSIONS of
# the blockwise order (the (w, v) pair stays ordered, the leaf x
# interleaves): units (w<v<x) | (w<x<v) | (x<w<v) | c, exactly one
# extension holding per concrete bind under the strict (ts, tiebreak)
# total order.  Every repetition binds a 'view', then EITHER a 'click'
# followed by a 'signup' with an 'error' anywhere around the pair OR a
# bare 'error'.  Every unit is a strict typed chain, so the oracle's
# reps arms (and the sparse chains/select boilerplate) are generated
# from the unit specs — the same md5-free literal-constant policy as
# every CEP oracle.

_KLEENE_DIST_AND_EXT_PAT = _p(
    Seq(
        Kleene(Seq(Ev("u", event_type="view"),
                   Or_(And_(Seq(Ev("w", event_type="click"),
                                Ev("v", event_type="signup")),
                            Ev("x", event_type="error")),
                       Ev("c", event_type="error")))),
        Ev("p", event_type="purchase"),
    ),
    # 48h: all three extension units bound (11/9/11 rows at sf0.001)
    # with multi-repetition (15) and mixed-unit (31) matches — the
    # per-extension choice is load-bearing for the row set
    window=timedelta(hours=48),
)


def _kleene_dist_and_ext_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cep_spark.batch import run_batch

    df = _events(spark, sf_dir)
    return run_batch(df, compile_pattern(_KLEENE_DIST_AND_EXT_PAT), mode="flat")


def _kleene_dist_and_ext_oracle() -> str:
    w = int(_KLEENE_DIST_AND_EXT_PAT.window.total_seconds())
    # one strict typed chain per unit, in the compiler's slot order
    # (unit ordinals __d1..__d3 = the _interleavings enumeration)
    units = [
        [("w1", "click"), ("v1", "signup"), ("x1", "error")],
        [("w2", "click"), ("x2", "error"), ("v2", "signup")],
        [("x3", "error"), ("w3", "click"), ("v3", "signup")],
        [("c", "error")],
    ]
    out_name = {"w1": "w__d1", "v1": "v__d1", "x1": "x__d1",
                "w2": "w__d2", "x2": "x__d2", "v2": "v__d2",
                "x3": "x__d3", "w3": "w__d3", "v3": "v__d3",
                "c": "c"}
    all_ids = [cid for u in units for cid, _ in u]

    def _arm(chain):
        alias = {cid: f"e{i}" for i, (cid, _) in enumerate(chain)}
        joins, conds, prev = [], [], "u"
        for i, (cid, et) in enumerate(chain):
            al = alias[cid]
            joins.append(f"JOIN events {al} ON {al}.user_id = u.user_id")
            conds.append(f"{al}.event_type = '{et}'")
            conds.append(f"({prev}.ts < {al}.ts OR ({prev}.ts = {al}.ts"
                         f" AND {prev}.event_id < {al}.event_id))")
            prev = al
        sel = [f"{alias[cid]}.event_id AS {cid}_id" if cid in alias
               else f"CAST(NULL AS BIGINT) AS {cid}_id"
               for cid in all_ids]
        return (
            "SELECT u.user_id, u.event_id AS u_id, u.ts AS u_ts,\n         "
            + ",\n         ".join(sel)
            + f",\n         {prev}.event_id AS last_id, {prev}.ts AS last_ts"
            + "\n  FROM events u\n  " + "\n  ".join(joins)
            + "\n  WHERE u.event_type = 'view'\n    AND "
            + "\n    AND ".join(conds)
            + f"\n    AND EPOCH({prev}.ts) - EPOCH(u.ts) <= {w}"
        )

    base_acc = ",\n         ".join(
        f"CASE WHEN {cid}_id IS NOT NULL THEN 1 ELSE 0 END AS {cid}_cnt,"
        f"\n         {cid}_id AS {cid}_first, {cid}_id AS {cid}_last"
        for cid in all_ids)
    rec_acc = ",\n         ".join(
        f"s.{cid}_cnt + CASE WHEN t.{cid}_id IS NOT NULL THEN 1 ELSE 0 END,"
        f"\n         COALESCE(s.{cid}_first, t.{cid}_id),"
        f" COALESCE(t.{cid}_id, s.{cid}_last)"
        for cid in all_ids)
    final = ",\n       ".join(
        f"CASE WHEN s.{cid}_cnt > 0 THEN CAST(s.{cid}_cnt AS BIGINT) END"
        f" AS {out_name[cid]}_len,"
        f"\n       CAST(s.{cid}_first AS BIGINT) AS {out_name[cid]}_first,"
        f"\n       CAST(s.{cid}_last AS BIGINT) AS {out_name[cid]}_last"
        for cid in all_ids)
    arms = "\n  UNION ALL\n  ".join(_arm(u) for u in units)
    return f"""
WITH RECURSIVE reps AS (
  {arms}
),
chains AS (
  SELECT user_id, u_id AS u_first, u_id AS u_last, u_ts AS first_ts,
         1 AS r,
         {base_acc},
         last_id, last_ts
  FROM reps
  UNION ALL
  SELECT s.user_id, s.u_first, t.u_id, s.first_ts, s.r + 1,
         {rec_acc},
         t.last_id, t.last_ts
  FROM chains s JOIN reps t ON t.user_id = s.user_id
  WHERE (s.last_ts < t.u_ts OR (s.last_ts = t.u_ts AND s.last_id < t.u_id))
    AND EPOCH(t.last_ts) - EPOCH(s.first_ts) <= {w}
)
SELECT s.user_id AS user_id, CAST(0 AS INT) AS alt_id,
       CAST(s.r AS BIGINT) AS u_len,
       CAST(s.u_first AS BIGINT) AS u_first,
       CAST(s.u_last AS BIGINT) AS u_last,
       {final},
       CAST(p.event_id AS BIGINT) AS p_event_id
FROM chains s JOIN events p ON p.user_id = s.user_id
WHERE p.event_type = 'purchase'
  AND (s.last_ts < p.ts OR (s.last_ts = p.ts AND s.last_id < p.event_id))
  AND EPOCH(p.ts) - EPOCH(s.first_ts) <= {w}
"""


# round 5 (session 14): a Neg BETWEEN two leaves of the And_'s SEQ
# member inside a unit — `Or_(And_(Seq(w, Neg(n), v), x), c)`.  The
# distribution re-inserts the Neg into every sub-gap of each linear
# extension's (w, v) interval (bound events are excluded from gap
# kills, so the sub-gap union equals the chain expansion's member
# interval minus the sibling's bound event, exactly).  The killer type
# EQUALS the sibling member's type ('error'), so in the (w, x, v)
# extension the bound x sits INSIDE the guarded interval — a raw
# NOT EXISTS would kill every such row; the oracle mirrors the
# exclusion with `n.event_id <> x.event_id`.

_KLEENE_DIST_AND_MEM_NEG_PAT = _p(
    Seq(
        Kleene(Seq(Ev("u", event_type="view"),
                   Or_(And_(Seq(Ev("w", event_type="click"),
                                Neg(Ev("n", event_type="error")),
                                Ev("v", event_type="signup")),
                            Ev("x", event_type="error")),
                       Ev("c", event_type="error")))),
        Ev("p", event_type="purchase"),
    ),
    # 48h: all three extension units bound (6/7/6 rows at sf0.001) with
    # multi-repetition matches (13) — and the __d2 unit only survives
    # because its own bound 'error' is excluded from the gap kill
    window=timedelta(hours=48),
)


def _kleene_dist_and_mem_neg_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cep_spark.batch import run_batch

    df = _events(spark, sf_dir)
    return run_batch(df, compile_pattern(_KLEENE_DIST_AND_MEM_NEG_PAT),
                     mode="flat")


# the same units/out_name layout as the mem-neg pair of entries below
_DIST_MEM_NEG_UNITS = [
    [("w1", "click"), ("v1", "signup"), ("x1", "error")],
    [("w2", "click"), ("x2", "error"), ("v2", "signup")],
    [("x3", "error"), ("w3", "click"), ("v3", "signup")],
    [("c", "error")],
]
_DIST_MEM_NEG_OUT = {"w1": "w__d1", "v1": "v__d1", "x1": "x__d1",
                     "w2": "w__d2", "x2": "x__d2", "v2": "v__d2",
                     "x3": "x__d3", "w3": "w__d3", "v3": "v__d3",
                     "c": "c"}


def _dist_mem_neg_sql(pat, negs) -> str:
    """Generated recursive-CTE oracle for the distributed And_-member
    shapes: one strict typed chain per unit (`_DIST_MEM_NEG_UNITS`, in
    the compiler's `_interleavings` enumeration order) plus per-arm
    NOT EXISTS gap guards.  ``negs`` maps unit index -> list of
    (lo_cid_or_None, hi_cid, killer_type, excluded_cids); ``None`` for
    the lo bound means the repetition's own 'u' anchor (the leading
    member Neg's interval start = the event before the And_)."""
    w = int(pat.window.total_seconds())
    units, out_name = _DIST_MEM_NEG_UNITS, _DIST_MEM_NEG_OUT
    all_ids = [cid for u in units for cid, _ in u]

    def _arm(k, chain):
        alias = {cid: f"e{i}" for i, (cid, _) in enumerate(chain)}
        joins, conds, prev = [], [], "u"
        for cid, et in chain:
            al = alias[cid]
            joins.append(f"JOIN events {al} ON {al}.user_id = u.user_id")
            conds.append(f"{al}.event_type = '{et}'")
            conds.append(f"({prev}.ts < {al}.ts OR ({prev}.ts = {al}.ts"
                         f" AND {prev}.event_id < {al}.event_id))")
            prev = al
        for lo, hi, kill_et, excl in negs.get(k, []):
            lo_al = "u" if lo is None else alias[lo]
            hi_al = alias[hi]
            ex = "".join(
                f"\n        AND n.event_id <> {alias[e]}.event_id"
                for e in excl)
            conds.append(
                "NOT EXISTS (\n      SELECT 1 FROM events n\n"
                f"      WHERE n.user_id = u.user_id"
                f" AND n.event_type = '{kill_et}'\n"
                f"        AND ({lo_al}.ts < n.ts OR ({lo_al}.ts = n.ts"
                f" AND {lo_al}.event_id < n.event_id))\n"
                f"        AND (n.ts < {hi_al}.ts OR (n.ts = {hi_al}.ts"
                f" AND n.event_id < {hi_al}.event_id)){ex})")
        sel = [f"{alias[cid]}.event_id AS {cid}_id" if cid in alias
               else f"CAST(NULL AS BIGINT) AS {cid}_id"
               for cid in all_ids]
        return (
            "SELECT u.user_id, u.event_id AS u_id, u.ts AS u_ts,\n         "
            + ",\n         ".join(sel)
            + f",\n         {prev}.event_id AS last_id, {prev}.ts AS last_ts"
            + "\n  FROM events u\n  " + "\n  ".join(joins)
            + "\n  WHERE u.event_type = 'view'\n    AND "
            + "\n    AND ".join(conds)
            + f"\n    AND EPOCH({prev}.ts) - EPOCH(u.ts) <= {w}"
        )

    base_acc = ",\n         ".join(
        f"CASE WHEN {cid}_id IS NOT NULL THEN 1 ELSE 0 END AS {cid}_cnt,"
        f"\n         {cid}_id AS {cid}_first, {cid}_id AS {cid}_last"
        for cid in all_ids)
    rec_acc = ",\n         ".join(
        f"s.{cid}_cnt + CASE WHEN t.{cid}_id IS NOT NULL THEN 1 ELSE 0 END,"
        f"\n         COALESCE(s.{cid}_first, t.{cid}_id),"
        f" COALESCE(t.{cid}_id, s.{cid}_last)"
        for cid in all_ids)
    final = ",\n       ".join(
        f"CASE WHEN s.{cid}_cnt > 0 THEN CAST(s.{cid}_cnt AS BIGINT) END"
        f" AS {out_name[cid]}_len,"
        f"\n       CAST(s.{cid}_first AS BIGINT) AS {out_name[cid]}_first,"
        f"\n       CAST(s.{cid}_last AS BIGINT) AS {out_name[cid]}_last"
        for cid in all_ids)
    arms = "\n  UNION ALL\n  ".join(_arm(k, u) for k, u in enumerate(units))
    return f"""
WITH RECURSIVE reps AS (
  {arms}
),
chains AS (
  SELECT user_id, u_id AS u_first, u_id AS u_last, u_ts AS first_ts,
         1 AS r,
         {base_acc},
         last_id, last_ts
  FROM reps
  UNION ALL
  SELECT s.user_id, s.u_first, t.u_id, s.first_ts, s.r + 1,
         {rec_acc},
         t.last_id, t.last_ts
  FROM chains s JOIN reps t ON t.user_id = s.user_id
  WHERE (s.last_ts < t.u_ts OR (s.last_ts = t.u_ts AND s.last_id < t.u_id))
    AND EPOCH(t.last_ts) - EPOCH(s.first_ts) <= {w}
)
SELECT s.user_id AS user_id, CAST(0 AS INT) AS alt_id,
       CAST(s.r AS BIGINT) AS u_len,
       CAST(s.u_first AS BIGINT) AS u_first,
       CAST(s.u_last AS BIGINT) AS u_last,
       {final},
       CAST(p.event_id AS BIGINT) AS p_event_id
FROM chains s JOIN events p ON p.user_id = s.user_id
WHERE p.event_type = 'purchase'
  AND (s.last_ts < p.ts OR (s.last_ts = p.ts AND s.last_id < p.event_id))
  AND EPOCH(p.ts) - EPOCH(s.first_ts) <= {w}
"""


def _kleene_dist_and_mem_neg_oracle() -> str:
    # per extension: interval (w, v); only __d2 has the bound sibling
    # 'error' inside it (exclusion elsewhere would be vacuous)
    return _dist_mem_neg_sql(_KLEENE_DIST_AND_MEM_NEG_PAT, {
        0: [("w1", "v1", "error", [])],
        1: [("w2", "v2", "error", ["x2"])],
        2: [("w3", "v3", "error", [])],
    })


# ... and the LEADING variant (session 14): the Neg guards the gap
# from the event before the And_ — here the repetition's own 'u'
# anchor — to the member's first leaf, wherever the extension placed
# it.  In the (x, w, v) extension the bound sibling 'error' sits
# inside that (u, w) interval, so the exclusion is again load-bearing.

_KLEENE_DIST_AND_MEM_LEAD_NEG_PAT = _p(
    Seq(
        Kleene(Seq(Ev("u", event_type="view"),
                   Or_(And_(Seq(Neg(Ev("n", event_type="error")),
                                Ev("w", event_type="click"),
                                Ev("v", event_type="signup")),
                            Ev("x", event_type="error")),
                       Ev("c", event_type="error")))),
        Ev("p", event_type="purchase"),
    ),
    window=timedelta(hours=48),
)


def _kleene_dist_and_mem_lead_neg_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cep_spark.batch import run_batch

    df = _events(spark, sf_dir)
    return run_batch(df, compile_pattern(_KLEENE_DIST_AND_MEM_LEAD_NEG_PAT),
                     mode="flat")


def _kleene_dist_and_mem_lead_neg_oracle() -> str:
    return _dist_mem_neg_sql(_KLEENE_DIST_AND_MEM_LEAD_NEG_PAT, {
        0: [(None, "w1", "error", [])],
        1: [(None, "w2", "error", [])],
        2: [(None, "w3", "error", ["x3"])],
    })


# round 5 (session 12, phase B): a BOUNDED leaf Kleene inside a Seq
# branch — `Or_(Seq(w, Kleene(b, max_len=2)), c)` — chain-expands
# (`_kleene_count_chains`) into per-count choices that distribute like
# any nested Or_: units (w__d1, b__1_1__d1) | (w__d2, b__2_1__d2,
# b__2_2__d2) | c, the OUTER repetition staying unbounded.  Every
# repetition binds a 'view', then EITHER a 'click' followed by one or
# two 'signup's OR a bare 'error'.  Powerset semantics: a concrete
# (w, b1, b2) bind yields BOTH the count-1 and count-2 unit matches —
# the oracle's reps arms enumerate both, exactly like the chains.

_KLEENE_DIST_KLEENE_PAT = _p(
    Seq(
        Kleene(Seq(Ev("u", event_type="view"),
                   Or_(Seq(Ev("w", event_type="click"),
                           Kleene(Ev("b", event_type="signup"), max_len=2)),
                       Ev("c", event_type="error")))),
        Ev("p", event_type="purchase"),
    ),
    # 48h: multi-repetition (13 rows at sf0.001) AND count-2 unit rows
    # (3) both present — the nested-count choice is load-bearing
    window=timedelta(hours=48),
)


def _kleene_dist_kleene_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cep_spark.batch import run_batch

    df = _events(spark, sf_dir)
    return run_batch(df, compile_pattern(_KLEENE_DIST_KLEENE_PAT), mode="flat")


def _kleene_dist_kleene_oracle() -> str:
    w = int(_KLEENE_DIST_KLEENE_PAT.window.total_seconds())
    return f"""
WITH RECURSIVE reps AS (
  SELECT u.user_id, u.event_id AS u_id, u.ts AS u_ts,
         w.event_id AS w1_id, b.event_id AS b11_id,
         CAST(NULL AS BIGINT) AS w2_id,
         CAST(NULL AS BIGINT) AS b21_id, CAST(NULL AS BIGINT) AS b22_id,
         CAST(NULL AS BIGINT) AS c_id,
         b.event_id AS last_id, b.ts AS last_ts
  FROM events u
  JOIN events w ON w.user_id = u.user_id
  JOIN events b ON b.user_id = u.user_id
  WHERE u.event_type = 'view' AND w.event_type = 'click'
    AND b.event_type = 'signup'
    AND (u.ts < w.ts OR (u.ts = w.ts AND u.event_id < w.event_id))
    AND (w.ts < b.ts OR (w.ts = b.ts AND w.event_id < b.event_id))
    AND EPOCH(b.ts) - EPOCH(u.ts) <= {w}
  UNION ALL
  SELECT u.user_id, u.event_id, u.ts,
         CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
         w.event_id, b1.event_id, b2.event_id, CAST(NULL AS BIGINT),
         b2.event_id, b2.ts
  FROM events u
  JOIN events w ON w.user_id = u.user_id
  JOIN events b1 ON b1.user_id = u.user_id
  JOIN events b2 ON b2.user_id = u.user_id
  WHERE u.event_type = 'view' AND w.event_type = 'click'
    AND b1.event_type = 'signup' AND b2.event_type = 'signup'
    AND (u.ts < w.ts OR (u.ts = w.ts AND u.event_id < w.event_id))
    AND (w.ts < b1.ts OR (w.ts = b1.ts AND w.event_id < b1.event_id))
    AND (b1.ts < b2.ts OR (b1.ts = b2.ts AND b1.event_id < b2.event_id))
    AND EPOCH(b2.ts) - EPOCH(u.ts) <= {w}
  UNION ALL
  SELECT u.user_id, u.event_id, u.ts,
         CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
         CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
         CAST(NULL AS BIGINT), c.event_id,
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
         CASE WHEN b11_id IS NOT NULL THEN 1 ELSE 0 END AS b11_cnt,
         b11_id AS b11_first, b11_id AS b11_last,
         CASE WHEN w2_id IS NOT NULL THEN 1 ELSE 0 END AS w2_cnt,
         w2_id AS w2_first, w2_id AS w2_last,
         CASE WHEN b21_id IS NOT NULL THEN 1 ELSE 0 END AS b21_cnt,
         b21_id AS b21_first, b21_id AS b21_last,
         CASE WHEN b22_id IS NOT NULL THEN 1 ELSE 0 END AS b22_cnt,
         b22_id AS b22_first, b22_id AS b22_last,
         CASE WHEN c_id IS NOT NULL THEN 1 ELSE 0 END AS c_cnt,
         c_id AS c_first, c_id AS c_last,
         last_id, last_ts
  FROM reps
  UNION ALL
  SELECT s.user_id, s.u_first, t.u_id, s.first_ts, s.r + 1,
         s.w1_cnt + CASE WHEN t.w1_id IS NOT NULL THEN 1 ELSE 0 END,
         COALESCE(s.w1_first, t.w1_id), COALESCE(t.w1_id, s.w1_last),
         s.b11_cnt + CASE WHEN t.b11_id IS NOT NULL THEN 1 ELSE 0 END,
         COALESCE(s.b11_first, t.b11_id), COALESCE(t.b11_id, s.b11_last),
         s.w2_cnt + CASE WHEN t.w2_id IS NOT NULL THEN 1 ELSE 0 END,
         COALESCE(s.w2_first, t.w2_id), COALESCE(t.w2_id, s.w2_last),
         s.b21_cnt + CASE WHEN t.b21_id IS NOT NULL THEN 1 ELSE 0 END,
         COALESCE(s.b21_first, t.b21_id), COALESCE(t.b21_id, s.b21_last),
         s.b22_cnt + CASE WHEN t.b22_id IS NOT NULL THEN 1 ELSE 0 END,
         COALESCE(s.b22_first, t.b22_id), COALESCE(t.b22_id, s.b22_last),
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
       CASE WHEN s.b11_cnt > 0 THEN CAST(s.b11_cnt AS BIGINT) END AS b__1_1__d1_len,
       CAST(s.b11_first AS BIGINT) AS b__1_1__d1_first,
       CAST(s.b11_last AS BIGINT) AS b__1_1__d1_last,
       CASE WHEN s.w2_cnt > 0 THEN CAST(s.w2_cnt AS BIGINT) END AS w__d2_len,
       CAST(s.w2_first AS BIGINT) AS w__d2_first,
       CAST(s.w2_last AS BIGINT) AS w__d2_last,
       CASE WHEN s.b21_cnt > 0 THEN CAST(s.b21_cnt AS BIGINT) END AS b__2_1__d2_len,
       CAST(s.b21_first AS BIGINT) AS b__2_1__d2_first,
       CAST(s.b21_last AS BIGINT) AS b__2_1__d2_last,
       CASE WHEN s.b22_cnt > 0 THEN CAST(s.b22_cnt AS BIGINT) END AS b__2_2__d2_len,
       CAST(s.b22_first AS BIGINT) AS b__2_2__d2_first,
       CAST(s.b22_last AS BIGINT) AS b__2_2__d2_last,
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


def _kleene_and_pos_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cep_spark.batch import run_batch

    df = _events(spark, sf_dir)
    return run_batch(df, compile_pattern(_KLEENE_AND_POS_PAT), mode="flat")


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


# round 5 (session 7): a Seq-of-leaves MEMBER inside the And_ position
# — every repetition binds a 'view' a_j, then a 'click'→'view' pair
# (w_j strictly before v_j: the member's own order) AND a 'signup' x_j
# interleaving freely with the pair, all before the next repetition.
# The oracle's recursive CTE orders w < v inside the repetition unit,
# leaves x unordered against them, and carries max(v, x) by (ts, id)
# as the next repetition's strict lower bound.  The member order is
# load-bearing: the order-free all-leaf reading matches a different
# row set (pinned in tests/test_stream.py::test_parity_and_pos_seq_member).

_KLEENE_AND_POS_SEQ_PAT = _p(
    Seq(
        Kleene(Seq(Ev("a", event_type="view"),
                   And_(Seq(Ev("w", event_type="click"),
                            Ev("v", event_type="view")),
                        Ev("x", event_type="signup")))),
        Ev("p", event_type="purchase"),
    ),
    # 96h: the smallest window where the harness data yields
    # multi-repetition matches for this 4-events-per-repetition shape —
    # the conjunctive loop-back with per-member progress is
    # load-bearing for the row set
    window=timedelta(hours=96),
)


def _kleene_and_pos_seq_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cep_spark.batch import run_batch

    df = _events(spark, sf_dir)
    return run_batch(df, compile_pattern(_KLEENE_AND_POS_SEQ_PAT), mode="flat")


def _kleene_and_pos_seq_oracle() -> str:
    w = int(_KLEENE_AND_POS_SEQ_PAT.window.total_seconds())
    v_lt_x = "(v.ts < x.ts OR (v.ts = x.ts AND v.event_id < x.event_id))"
    unit = f"""
    a.event_type = 'view' AND w.event_type = 'click'
    AND v.event_type = 'view' AND x.event_type = 'signup'
    AND (a.ts < w.ts OR (a.ts = w.ts AND a.event_id < w.event_id))
    AND (w.ts < v.ts OR (w.ts = v.ts AND w.event_id < v.event_id))
    AND (a.ts < x.ts OR (a.ts = x.ts AND a.event_id < x.event_id))"""
    return f"""
WITH RECURSIVE chains AS (
  SELECT a.user_id,
         a.event_id AS a_first, a.event_id AS a_last,
         w.event_id AS w_first, w.event_id AS w_last,
         v.event_id AS v_first, v.event_id AS v_last,
         x.event_id AS x_first, x.event_id AS x_last,
         1 AS r, a.ts AS first_ts,
         GREATEST(v.ts, x.ts) AS last_ts,
         CASE WHEN {v_lt_x} THEN x.event_id ELSE v.event_id END AS last_id
  FROM events a
  JOIN events w ON w.user_id = a.user_id
  JOIN events v ON v.user_id = a.user_id
  JOIN events x ON x.user_id = a.user_id
  WHERE {unit}
    AND EPOCH(GREATEST(v.ts, x.ts)) - EPOCH(a.ts) <= {w}
  UNION ALL
  SELECT c.user_id, c.a_first, a.event_id,
         c.w_first, w.event_id, c.v_first, v.event_id,
         c.x_first, x.event_id,
         c.r + 1, c.first_ts,
         GREATEST(v.ts, x.ts),
         CASE WHEN {v_lt_x} THEN x.event_id ELSE v.event_id END
  FROM chains c
  JOIN events a ON a.user_id = c.user_id
  JOIN events w ON w.user_id = c.user_id
  JOIN events v ON v.user_id = c.user_id
  JOIN events x ON x.user_id = c.user_id
  WHERE {unit}
    AND (c.last_ts < a.ts OR (c.last_ts = a.ts AND c.last_id < a.event_id))
    AND EPOCH(GREATEST(v.ts, x.ts)) - EPOCH(c.first_ts) <= {w}
)
SELECT c.user_id AS user_id, CAST(0 AS INT) AS alt_id,
       CAST(c.r AS BIGINT) AS a_len,
       CAST(c.a_first AS BIGINT) AS a_first,
       CAST(c.a_last AS BIGINT) AS a_last,
       CAST(c.r AS BIGINT) AS w_len,
       CAST(c.w_first AS BIGINT) AS w_first,
       CAST(c.w_last AS BIGINT) AS w_last,
       CAST(c.r AS BIGINT) AS v_len,
       CAST(c.v_first AS BIGINT) AS v_first,
       CAST(c.v_last AS BIGINT) AS v_last,
       CAST(c.r AS BIGINT) AS x_len,
       CAST(c.x_first AS BIGINT) AS x_first,
       CAST(c.x_last AS BIGINT) AS x_last,
       CAST(p.event_id AS BIGINT) AS p_event_id
FROM chains c JOIN events p ON p.user_id = c.user_id
WHERE p.event_type = 'purchase'
  AND (c.last_ts < p.ts OR (c.last_ts = p.ts AND c.last_id < p.event_id))
  AND EPOCH(p.ts) - EPOCH(c.first_ts) <= {w}
"""


# round 5 (session 8): a Neg strictly BETWEEN two leaves of a Seq
# MEMBER of an And_ position — the gap (w_j, v_j) is member-scoped and
# per-repetition: the sibling member x_j may legally bind INSIDE it
# (members interleave), so the engine's NegSpec.mem_gap carries
# pre_vars = (w,) only.  Oracle = the session-7 CTE with a NOT EXISTS
# between (w, v) in each repetition unit; no match variable accepts
# 'error' events, so the bound-event exclusion is vacuous and the raw
# NOT EXISTS is exact.

_KLEENE_AND_POS_MEM_NEG_PAT = _p(
    Seq(
        Kleene(Seq(Ev("a", event_type="view"),
                   And_(Seq(Ev("w", event_type="click"),
                            Neg(Ev("n", event_type="error")),
                            Ev("v", event_type="view")),
                        Ev("x", event_type="signup")))),
        Ev("p", event_type="purchase"),
    ),
    window=timedelta(hours=96),
)


def _kleene_and_pos_mem_neg_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cep_spark.batch import run_batch

    df = _events(spark, sf_dir)
    return run_batch(df, compile_pattern(_KLEENE_AND_POS_MEM_NEG_PAT),
                     mode="flat")


# ... and the LEADING variant: the Neg guards the gap INTO the member —
# (a_j, w_j) must be 'error'-free every repetition; the sibling x_j may
# bind inside THAT interval too (before the member's first event), so
# the engine excludes same-position siblings from the spec's pre_vars.

_KLEENE_AND_POS_MEM_LEAD_NEG_PAT = _p(
    Seq(
        Kleene(Seq(Ev("a", event_type="view"),
                   And_(Seq(Neg(Ev("n", event_type="error")),
                            Ev("w", event_type="click"),
                            Ev("v", event_type="view")),
                        Ev("x", event_type="signup")))),
        Ev("p", event_type="purchase"),
    ),
    window=timedelta(hours=96),
)


def _kleene_and_pos_mem_lead_neg_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cep_spark.batch import run_batch

    df = _events(spark, sf_dir)
    return run_batch(df, compile_pattern(_KLEENE_AND_POS_MEM_LEAD_NEG_PAT),
                     mode="flat")


def _kleene_and_pos_mem_neg_oracle(lead: bool = False) -> str:
    base = _kleene_and_pos_seq_oracle()
    if lead:
        gap_lo, gap_hi = "a", "w"
    else:
        gap_lo, gap_hi = "w", "v"
    not_exists = f"""
    AND NOT EXISTS (
      SELECT 1 FROM events n
      WHERE n.user_id = a.user_id AND n.event_type = 'error'
        AND ({gap_lo}.ts < n.ts OR ({gap_lo}.ts = n.ts AND {gap_lo}.event_id < n.event_id))
        AND (n.ts < {gap_hi}.ts OR (n.ts = {gap_hi}.ts AND n.event_id < {gap_hi}.event_id)))"""
    marker = "AND (a.ts < x.ts OR (a.ts = x.ts AND a.event_id < x.event_id))"
    assert base.count(marker) == 2  # base + recursive repetition units
    return base.replace(marker, marker + not_exists)


# round 5 (session 9): an Or_ MEMBER of an And_ position — each
# repetition binds ONE branch of the member (click OR error) AND the
# sibling member (signup), both strictly after the repetition's anchor
# and in any mutual order.  The engine lowers each branch to a UNIT
# (Slot.mem = the member index; exactly one unit of a member binds per
# repetition); the oracle mirrors the Or_-position CTE's sparse-branch
# CASE/COALESCE columns with an extra unordered member join.

_KLEENE_AND_POS_OR_MEM_PAT = _p(
    Seq(
        Kleene(Seq(Ev("a", event_type="view"),
                   And_(Or_(Ev("b", event_type="click"),
                            Ev("c", event_type="error")),
                        Ev("x", event_type="signup")))),
        Ev("p", event_type="purchase"),
    ),
    # 96h: the smallest window where the harness data yields
    # multi-repetition matches (incl. repetitions choosing DIFFERENT
    # branches) — the branch-unit loop-back is load-bearing
    window=timedelta(hours=96),
)


def _kleene_and_pos_or_mem_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cep_spark.batch import run_batch

    df = _events(spark, sf_dir)
    return run_batch(df, compile_pattern(_KLEENE_AND_POS_OR_MEM_PAT),
                     mode="flat")


def _kleene_and_pos_or_mem_oracle() -> str:
    w = int(_KLEENE_AND_POS_OR_MEM_PAT.window.total_seconds())
    y_lt_x = "(y.ts < x.ts OR (y.ts = x.ts AND y.event_id < x.event_id))"
    unit = f"""
    a.event_type = 'view' AND y.event_type IN ('click', 'error')
    AND x.event_type = 'signup'
    AND (a.ts < y.ts OR (a.ts = y.ts AND a.event_id < y.event_id))
    AND (a.ts < x.ts OR (a.ts = x.ts AND a.event_id < x.event_id))"""
    return f"""
WITH RECURSIVE chains AS (
  SELECT a.user_id,
         a.event_id AS a_first, a.event_id AS a_last,
         CASE WHEN y.event_type = 'click' THEN 1 ELSE 0 END AS b_cnt,
         CASE WHEN y.event_type = 'click' THEN y.event_id END AS b_first,
         CASE WHEN y.event_type = 'click' THEN y.event_id END AS b_last,
         CASE WHEN y.event_type = 'error' THEN 1 ELSE 0 END AS c_cnt,
         CASE WHEN y.event_type = 'error' THEN y.event_id END AS c_first,
         CASE WHEN y.event_type = 'error' THEN y.event_id END AS c_last,
         x.event_id AS x_first, x.event_id AS x_last,
         1 AS r, a.ts AS first_ts,
         GREATEST(y.ts, x.ts) AS last_ts,
         CASE WHEN {y_lt_x} THEN x.event_id ELSE y.event_id END AS last_id
  FROM events a
  JOIN events y ON y.user_id = a.user_id
  JOIN events x ON x.user_id = a.user_id
  WHERE {unit}
    AND EPOCH(GREATEST(y.ts, x.ts)) - EPOCH(a.ts) <= {w}
  UNION ALL
  SELECT s.user_id, s.a_first, a.event_id,
         s.b_cnt + CASE WHEN y.event_type = 'click' THEN 1 ELSE 0 END,
         COALESCE(s.b_first,
                  CASE WHEN y.event_type = 'click' THEN y.event_id END),
         COALESCE(CASE WHEN y.event_type = 'click' THEN y.event_id END,
                  s.b_last),
         s.c_cnt + CASE WHEN y.event_type = 'error' THEN 1 ELSE 0 END,
         COALESCE(s.c_first,
                  CASE WHEN y.event_type = 'error' THEN y.event_id END),
         COALESCE(CASE WHEN y.event_type = 'error' THEN y.event_id END,
                  s.c_last),
         s.x_first, x.event_id,
         s.r + 1, s.first_ts,
         GREATEST(y.ts, x.ts),
         CASE WHEN {y_lt_x} THEN x.event_id ELSE y.event_id END
  FROM chains s
  JOIN events a ON a.user_id = s.user_id
  JOIN events y ON y.user_id = s.user_id
  JOIN events x ON x.user_id = s.user_id
  WHERE {unit}
    AND (s.last_ts < a.ts OR (s.last_ts = a.ts AND s.last_id < a.event_id))
    AND EPOCH(GREATEST(y.ts, x.ts)) - EPOCH(s.first_ts) <= {w}
)
SELECT s.user_id AS user_id, CAST(0 AS INT) AS alt_id,
       CAST(s.r AS BIGINT) AS a_len,
       CAST(s.a_first AS BIGINT) AS a_first,
       CAST(s.a_last AS BIGINT) AS a_last,
       CASE WHEN s.b_cnt > 0 THEN CAST(s.b_cnt AS BIGINT) END AS b_len,
       CAST(s.b_first AS BIGINT) AS b_first,
       CAST(s.b_last AS BIGINT) AS b_last,
       CASE WHEN s.c_cnt > 0 THEN CAST(s.c_cnt AS BIGINT) END AS c_len,
       CAST(s.c_first AS BIGINT) AS c_first,
       CAST(s.c_last AS BIGINT) AS c_last,
       CAST(s.r AS BIGINT) AS x_len,
       CAST(s.x_first AS BIGINT) AS x_first,
       CAST(s.x_last AS BIGINT) AS x_last,
       CAST(p.event_id AS BIGINT) AS p_event_id
FROM chains s JOIN events p ON p.user_id = s.user_id
WHERE p.event_type = 'purchase'
  AND (s.last_ts < p.ts OR (s.last_ts = p.ts AND s.last_id < p.event_id))
  AND EPOCH(p.ts) - EPOCH(s.first_ts) <= {w}
"""


# round 5 (session 10): member shapes in a BARE And_ body — the whole
# repetition is one conjunctive position (no Seq anchor): each
# repetition binds the ordered (click, view) pair AND the signup, in
# any interleaving, strictly after the previous repetition completes.
# The engine lowers this as a single pos_all position (grp_kind="seq",
# npos=1); the oracle is the session-7 CTE without the anchor join.

_KLEENE_BARE_AND_MEM_PAT = _p(
    Seq(
        Kleene(And_(Seq(Ev("w", event_type="click"),
                        Ev("v", event_type="view")),
                    Ev("x", event_type="signup"))),
        Ev("p", event_type="purchase"),
    ),
    # 96h: the smallest window where the harness data yields
    # multi-repetition matches for this 3-events-per-repetition body —
    # the single-position loop-back is load-bearing for the row set
    window=timedelta(hours=96),
)


def _kleene_bare_and_mem_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cep_spark.batch import run_batch

    df = _events(spark, sf_dir)
    return run_batch(df, compile_pattern(_KLEENE_BARE_AND_MEM_PAT),
                     mode="flat")


def _kleene_bare_and_mem_oracle() -> str:
    w = int(_KLEENE_BARE_AND_MEM_PAT.window.total_seconds())
    v_lt_x = "(v.ts < x.ts OR (v.ts = x.ts AND v.event_id < x.event_id))"
    unit = f"""
    w.event_type = 'click' AND v.event_type = 'view'
    AND x.event_type = 'signup'
    AND (w.ts < v.ts OR (w.ts = v.ts AND w.event_id < v.event_id))"""
    return f"""
WITH RECURSIVE chains AS (
  SELECT w.user_id,
         w.event_id AS w_first, w.event_id AS w_last,
         v.event_id AS v_first, v.event_id AS v_last,
         x.event_id AS x_first, x.event_id AS x_last,
         1 AS r, LEAST(w.ts, x.ts) AS first_ts,
         GREATEST(v.ts, x.ts) AS last_ts,
         CASE WHEN {v_lt_x} THEN x.event_id ELSE v.event_id END AS last_id
  FROM events w
  JOIN events v ON v.user_id = w.user_id
  JOIN events x ON x.user_id = w.user_id
  WHERE {unit}
    AND EPOCH(GREATEST(v.ts, x.ts)) - EPOCH(LEAST(w.ts, x.ts)) <= {w}
  UNION ALL
  SELECT s.user_id, s.w_first, w.event_id,
         s.v_first, v.event_id, s.x_first, x.event_id,
         s.r + 1, s.first_ts,
         GREATEST(v.ts, x.ts),
         CASE WHEN {v_lt_x} THEN x.event_id ELSE v.event_id END
  FROM chains s
  JOIN events w ON w.user_id = s.user_id
  JOIN events v ON v.user_id = s.user_id
  JOIN events x ON x.user_id = s.user_id
  WHERE {unit}
    AND (s.last_ts < w.ts OR (s.last_ts = w.ts AND s.last_id < w.event_id))
    AND (s.last_ts < x.ts OR (s.last_ts = x.ts AND s.last_id < x.event_id))
    AND EPOCH(GREATEST(v.ts, x.ts)) - EPOCH(s.first_ts) <= {w}
)
SELECT s.user_id AS user_id, CAST(0 AS INT) AS alt_id,
       CAST(s.r AS BIGINT) AS w_len,
       CAST(s.w_first AS BIGINT) AS w_first,
       CAST(s.w_last AS BIGINT) AS w_last,
       CAST(s.r AS BIGINT) AS v_len,
       CAST(s.v_first AS BIGINT) AS v_first,
       CAST(s.v_last AS BIGINT) AS v_last,
       CAST(s.r AS BIGINT) AS x_len,
       CAST(s.x_first AS BIGINT) AS x_first,
       CAST(s.x_last AS BIGINT) AS x_last,
       CAST(p.event_id AS BIGINT) AS p_event_id
FROM chains s JOIN events p ON p.user_id = s.user_id
WHERE p.event_type = 'purchase'
  AND (s.last_ts < p.ts OR (s.last_ts = p.ts AND s.last_id < p.event_id))
  AND EPOCH(p.ts) - EPOCH(s.first_ts) <= {w}
"""


# round 5 (session 11): a LEADING member Neg in a bare And_ body — the
# gap INTO each repetition's (click, view) member runs from the
# PREVIOUS repetition's last event (the anchor for repetition 1) to
# that repetition's click, while the sibling signup may legally bind
# inside it.  A single-position group has no other position to supply
# that boundary, so the engine attaches it per transition
# (Transition.gap_pre, from the source state's mid pointer); the
# oracle's NOT EXISTS starts at the anchor in the base arm and at
# s.last_ts/s.last_id in the recursive arm — an anchor-anchored engine
# boundary (the pre-fix defect) over-kills multi-repetition rows and
# fails the hash.  No match variable accepts 'error' events, so the
# raw NOT EXISTS is exact.

_KLEENE_BARE_AND_MEM_LEAD_NEG_PAT = _p(
    Seq(
        Ev("a", event_type="view"),
        Kleene(And_(Seq(Neg(Ev("n", event_type="error")),
                        Ev("w", event_type="click"),
                        Ev("v", event_type="view")),
                    Ev("x", event_type="signup"))),
        Ev("p", event_type="purchase"),
    ),
    window=timedelta(hours=96),
)


def _kleene_bare_and_mem_lead_neg_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cep_spark.batch import run_batch

    df = _events(spark, sf_dir)
    return run_batch(df, compile_pattern(_KLEENE_BARE_AND_MEM_LEAD_NEG_PAT),
                     mode="flat")


def _kleene_bare_and_mem_lead_neg_oracle() -> str:
    w = int(_KLEENE_BARE_AND_MEM_LEAD_NEG_PAT.window.total_seconds())
    v_lt_x = "(v.ts < x.ts OR (v.ts = x.ts AND v.event_id < x.event_id))"
    unit = """
    w.event_type = 'click' AND v.event_type = 'view'
    AND x.event_type = 'signup'
    AND (w.ts < v.ts OR (w.ts = v.ts AND w.event_id < v.event_id))"""
    return f"""
WITH RECURSIVE chains AS (
  SELECT a.user_id, a.event_id AS a_id,
         w.event_id AS w_first, w.event_id AS w_last,
         v.event_id AS v_first, v.event_id AS v_last,
         x.event_id AS x_first, x.event_id AS x_last,
         1 AS r, a.ts AS first_ts,
         GREATEST(v.ts, x.ts) AS last_ts,
         CASE WHEN {v_lt_x} THEN x.event_id ELSE v.event_id END AS last_id
  FROM events a
  JOIN events w ON w.user_id = a.user_id
  JOIN events v ON v.user_id = a.user_id
  JOIN events x ON x.user_id = a.user_id
  WHERE a.event_type = 'view' AND {unit}
    AND (a.ts < w.ts OR (a.ts = w.ts AND a.event_id < w.event_id))
    AND (a.ts < x.ts OR (a.ts = x.ts AND a.event_id < x.event_id))
    AND NOT EXISTS (
      SELECT 1 FROM events n
      WHERE n.user_id = a.user_id AND n.event_type = 'error'
        AND (a.ts < n.ts OR (a.ts = n.ts AND a.event_id < n.event_id))
        AND (n.ts < w.ts OR (n.ts = w.ts AND n.event_id < w.event_id)))
    AND EPOCH(GREATEST(v.ts, x.ts)) - EPOCH(a.ts) <= {w}
  UNION ALL
  SELECT s.user_id, s.a_id,
         s.w_first, w.event_id, s.v_first, v.event_id,
         s.x_first, x.event_id,
         s.r + 1, s.first_ts,
         GREATEST(v.ts, x.ts),
         CASE WHEN {v_lt_x} THEN x.event_id ELSE v.event_id END
  FROM chains s
  JOIN events w ON w.user_id = s.user_id
  JOIN events v ON v.user_id = s.user_id
  JOIN events x ON x.user_id = s.user_id
  WHERE {unit}
    AND (s.last_ts < w.ts OR (s.last_ts = w.ts AND s.last_id < w.event_id))
    AND (s.last_ts < x.ts OR (s.last_ts = x.ts AND s.last_id < x.event_id))
    AND NOT EXISTS (
      SELECT 1 FROM events n
      WHERE n.user_id = s.user_id AND n.event_type = 'error'
        AND (s.last_ts < n.ts OR (s.last_ts = n.ts AND s.last_id < n.event_id))
        AND (n.ts < w.ts OR (n.ts = w.ts AND n.event_id < w.event_id)))
    AND EPOCH(GREATEST(v.ts, x.ts)) - EPOCH(s.first_ts) <= {w}
)
SELECT s.user_id AS user_id, CAST(0 AS INT) AS alt_id,
       CAST(s.a_id AS BIGINT) AS a_event_id,
       CAST(s.r AS BIGINT) AS w_len,
       CAST(s.w_first AS BIGINT) AS w_first,
       CAST(s.w_last AS BIGINT) AS w_last,
       CAST(s.r AS BIGINT) AS v_len,
       CAST(s.v_first AS BIGINT) AS v_first,
       CAST(s.v_last AS BIGINT) AS v_last,
       CAST(s.r AS BIGINT) AS x_len,
       CAST(s.x_first AS BIGINT) AS x_first,
       CAST(s.x_last AS BIGINT) AS x_last,
       CAST(p.event_id AS BIGINT) AS p_event_id
FROM chains s JOIN events p ON p.user_id = s.user_id
WHERE p.event_type = 'purchase'
  AND (s.last_ts < p.ts OR (s.last_ts = p.ts AND s.last_id < p.event_id))
  AND EPOCH(p.ts) - EPOCH(s.first_ts) <= {w}
"""


# round 5 (session 11): a Neg strictly BETWEEN two leaves of an
# Or_-MEMBER branch — the (b_j, c_j) gap is guarded in exactly the
# repetitions whose member chose the two-click branch (the unit's own
# binds fire only then — branch gating for free), while the sibling
# signup may bind inside it and 'error'-leaf repetitions carry no gap
# check at all.  Strict repetition interleaving keeps every
# match-bound event (incl. the d-bound errors of OTHER repetitions)
# outside any guarded gap, so the raw NOT EXISTS is exact.  Oracle =
# a units CTE (one row per single-repetition instance, either branch)
# chained recursively on the (ts, id)-max boundary.

_KLEENE_OR_MEM_BR_NEG_PAT = _p(
    Seq(
        Kleene(Seq(Ev("a", event_type="view"),
                   And_(Or_(Seq(Ev("b", event_type="click"),
                                Neg(Ev("n", event_type="error")),
                                Ev("c", event_type="click")),
                            Ev("d", event_type="error")),
                        Ev("x", event_type="signup")))),
        Ev("p", event_type="purchase"),
    ),
    # 96h: the smallest window where the harness data yields
    # multi-repetition AND mixed-branch matches (68 / 24 at sf0.001) —
    # both the guarded-unit loop-back and the branch choice are
    # load-bearing for the row set
    window=timedelta(hours=96),
)


def _kleene_or_mem_br_neg_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cep_spark.batch import run_batch

    df = _events(spark, sf_dir)
    return run_batch(df, compile_pattern(_KLEENE_OR_MEM_BR_NEG_PAT),
                     mode="flat")


def _kleene_or_mem_br_neg_oracle() -> str:
    w = int(_KLEENE_OR_MEM_BR_NEG_PAT.window.total_seconds())
    return f"""
WITH RECURSIVE units AS (
  -- two-click branch: ordered (b, c), 'error'-free strictly between,
  -- sibling x unordered vs the pair, all strictly after the anchor
  SELECT a.user_id, a.event_id AS a_id, a.ts AS a_ts,
         b.event_id AS b_id, c.event_id AS c_id,
         CAST(NULL AS BIGINT) AS d_id,
         x.event_id AS x_id,
         GREATEST(c.ts, x.ts) AS last_ts,
         CASE WHEN (c.ts < x.ts OR (c.ts = x.ts AND c.event_id < x.event_id))
              THEN x.event_id ELSE c.event_id END AS last_id
  FROM events a
  JOIN events b ON b.user_id = a.user_id
  JOIN events c ON c.user_id = a.user_id
  JOIN events x ON x.user_id = a.user_id
  WHERE a.event_type = 'view' AND b.event_type = 'click'
    AND c.event_type = 'click' AND x.event_type = 'signup'
    AND (a.ts < b.ts OR (a.ts = b.ts AND a.event_id < b.event_id))
    AND (a.ts < x.ts OR (a.ts = x.ts AND a.event_id < x.event_id))
    AND (b.ts < c.ts OR (b.ts = c.ts AND b.event_id < c.event_id))
    AND NOT EXISTS (
      SELECT 1 FROM events n
      WHERE n.user_id = a.user_id AND n.event_type = 'error'
        AND (b.ts < n.ts OR (b.ts = n.ts AND b.event_id < n.event_id))
        AND (n.ts < c.ts OR (n.ts = c.ts AND n.event_id < c.event_id)))
    AND EPOCH(GREATEST(c.ts, x.ts)) - EPOCH(a.ts) <= {w}
  UNION ALL
  -- single-'error' branch: no gap check
  SELECT a.user_id, a.event_id, a.ts,
         CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), d.event_id,
         x.event_id,
         GREATEST(d.ts, x.ts),
         CASE WHEN (d.ts < x.ts OR (d.ts = x.ts AND d.event_id < x.event_id))
              THEN x.event_id ELSE d.event_id END
  FROM events a
  JOIN events d ON d.user_id = a.user_id
  JOIN events x ON x.user_id = a.user_id
  WHERE a.event_type = 'view' AND d.event_type = 'error'
    AND x.event_type = 'signup'
    AND (a.ts < d.ts OR (a.ts = d.ts AND a.event_id < d.event_id))
    AND (a.ts < x.ts OR (a.ts = x.ts AND a.event_id < x.event_id))
    AND EPOCH(GREATEST(d.ts, x.ts)) - EPOCH(a.ts) <= {w}
),
chains AS (
  SELECT user_id, a_id AS a_first, a_id AS a_last, a_ts AS first_ts,
         1 AS r,
         CASE WHEN b_id IS NOT NULL THEN 1 ELSE 0 END AS b_cnt,
         b_id AS b_first, b_id AS b_last,
         CASE WHEN c_id IS NOT NULL THEN 1 ELSE 0 END AS c_cnt,
         c_id AS c_first, c_id AS c_last,
         CASE WHEN d_id IS NOT NULL THEN 1 ELSE 0 END AS d_cnt,
         d_id AS d_first, d_id AS d_last,
         x_id AS x_first, x_id AS x_last,
         last_id, last_ts
  FROM units
  UNION ALL
  SELECT s.user_id, s.a_first, t.a_id, s.first_ts, s.r + 1,
         s.b_cnt + CASE WHEN t.b_id IS NOT NULL THEN 1 ELSE 0 END,
         COALESCE(s.b_first, t.b_id), COALESCE(t.b_id, s.b_last),
         s.c_cnt + CASE WHEN t.c_id IS NOT NULL THEN 1 ELSE 0 END,
         COALESCE(s.c_first, t.c_id), COALESCE(t.c_id, s.c_last),
         s.d_cnt + CASE WHEN t.d_id IS NOT NULL THEN 1 ELSE 0 END,
         COALESCE(s.d_first, t.d_id), COALESCE(t.d_id, s.d_last),
         s.x_first, t.x_id,
         t.last_id, t.last_ts
  FROM chains s JOIN units t ON t.user_id = s.user_id
  WHERE (s.last_ts < t.a_ts OR (s.last_ts = t.a_ts AND s.last_id < t.a_id))
    AND EPOCH(t.last_ts) - EPOCH(s.first_ts) <= {w}
)
SELECT s.user_id AS user_id, CAST(0 AS INT) AS alt_id,
       CAST(s.r AS BIGINT) AS a_len,
       CAST(s.a_first AS BIGINT) AS a_first,
       CAST(s.a_last AS BIGINT) AS a_last,
       CASE WHEN s.b_cnt > 0 THEN CAST(s.b_cnt AS BIGINT) END AS b_len,
       CAST(s.b_first AS BIGINT) AS b_first,
       CAST(s.b_last AS BIGINT) AS b_last,
       CASE WHEN s.c_cnt > 0 THEN CAST(s.c_cnt AS BIGINT) END AS c_len,
       CAST(s.c_first AS BIGINT) AS c_first,
       CAST(s.c_last AS BIGINT) AS c_last,
       CASE WHEN s.d_cnt > 0 THEN CAST(s.d_cnt AS BIGINT) END AS d_len,
       CAST(s.d_first AS BIGINT) AS d_first,
       CAST(s.d_last AS BIGINT) AS d_last,
       CAST(s.r AS BIGINT) AS x_len,
       CAST(s.x_first AS BIGINT) AS x_first,
       CAST(s.x_last AS BIGINT) AS x_last,
       CAST(p.event_id AS BIGINT) AS p_event_id
FROM chains s JOIN events p ON p.user_id = s.user_id
WHERE p.event_type = 'purchase'
  AND (s.last_ts < p.ts OR (s.last_ts = p.ts AND s.last_id < p.event_id))
  AND EPOCH(p.ts) - EPOCH(s.first_ts) <= {w}
"""


# round 5 (session 4): a Neg strictly BETWEEN two leaves of a Seq
# branch — the within-repetition gap (w_j, x_j) must be 'error'-free in
# exactly the repetitions that CHOSE the (click, signup) branch;
# repetitions that bind the single-'error' y branch carry no gap check
# (compiler._collect registers the spec on the branch's mid sub-slot;
# semantics defined by the bounded chain expansion).  Oracle = the
# cep_kleene_group_seq_or reps CTE with a NOT EXISTS inside the
# two-event branch's unit: strict interleaving guarantees no event
# bound elsewhere in the match can lie inside a (w_j, x_j) gap, so the
# raw NOT EXISTS is exact.

_KLEENE_GROUP_BR_NEG_PAT = _p(
    Seq(
        Kleene(Seq(Ev("u", event_type="view"),
                   Or_(Seq(Ev("w", event_type="click"),
                           Neg(Ev("n", event_type="error")),
                           Ev("x", event_type="signup")),
                       Ev("y", event_type="error")))),
        Ev("p", event_type="purchase"),
    ),
    window=timedelta(hours=12),
)


def _kleene_group_br_neg_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cep_spark.batch import run_batch

    df = _events(spark, sf_dir)
    return run_batch(df, compile_pattern(_KLEENE_GROUP_BR_NEG_PAT),
                     mode="flat")


# ... and the LEADING variant (session 4): the Neg guards the gap INTO
# the two-event branch — (u_j, w_j) must be 'error'-free in exactly the
# repetitions that choose it (enforced at the branch's entry bind,
# which only fires for those repetitions; no branch-conditional spec
# machinery needed).  Oracle = the same reps CTE with the NOT EXISTS
# bounds moved to (u, w).

_KLEENE_GROUP_BR_LEAD_NEG_PAT = _p(
    Seq(
        Kleene(Seq(Ev("u", event_type="view"),
                   Or_(Seq(Neg(Ev("n", event_type="error")),
                           Ev("w", event_type="click"),
                           Ev("x", event_type="signup")),
                       Ev("y", event_type="error")))),
        Ev("p", event_type="purchase"),
    ),
    window=timedelta(hours=12),
)


def _kleene_group_br_lead_neg_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cep_spark.batch import run_batch

    df = _events(spark, sf_dir)
    return run_batch(df, compile_pattern(_KLEENE_GROUP_BR_LEAD_NEG_PAT),
                     mode="flat")


def _kleene_group_br_lead_neg_oracle() -> str:
    base = _kleene_group_br_neg_oracle()
    out = base.replace(
        """    AND NOT EXISTS (
      SELECT 1 FROM events n
      WHERE n.user_id = u.user_id AND n.event_type = 'error'
        AND (w.ts < n.ts OR (w.ts = n.ts AND w.event_id < n.event_id))
        AND (n.ts < x.ts OR (n.ts = x.ts AND n.event_id < x.event_id)))""",
        """    AND NOT EXISTS (
      SELECT 1 FROM events n
      WHERE n.user_id = u.user_id AND n.event_type = 'error'
        AND (u.ts < n.ts OR (u.ts = n.ts AND u.event_id < n.event_id))
        AND (n.ts < w.ts OR (n.ts = w.ts AND n.event_id < w.event_id)))""",
    )
    assert out != base  # the (w, x) bounds must have been rewritten
    return out


# ... and the TRAILING variant (session 5): the Neg guards the gap OUT
# of the two-event branch — (x_j, next bind) must be 'error'-free in
# exactly the repetitions that choose the branch (NegSpec.br_guard gates
# the statically-attached spec on which branch owns the position's
# latest bind).  The gap's right bound is OUTSIDE the repetition (the
# next repetition's u, or p), so the oracle checks NOT EXISTS at the
# CHAIN-EXTENSION join and the final p join, gated on a last_br flag
# carried through the recursive CTE — the SQL mirror of the dynamic
# guard.  Strict interleaving keeps both gaps free of bound events, so
# the raw NOT EXISTS is exact.

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


def _kleene_group_br_trail_neg_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cep_spark.batch import run_batch

    df = _events(spark, sf_dir)
    return run_batch(df, compile_pattern(_KLEENE_GROUP_BR_TRAIL_NEG_PAT),
                     mode="flat")


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


# ... and with the group ENDING the pattern (session 5): the final
# repetition's trailing branch Neg becomes a WINDOW-BOUNDED look-ahead
# (kind="trailing"), still gated by br_guard — streaming PARKS these
# matches until first.ts + W and re-verifies them against freshly-
# sealed candidates with the same gate.  Oracle: last_br-gated NOT
# EXISTS at the loop-back extension (between-repetition gaps) AND a
# window-bounded one in the final select (n.ts - s.ts <= W, no right
# event bound).

_KLEENE_GROUP_BR_TRAIL_EDGE_PAT = _p(
    Seq(
        Ev("s", event_type="signup"),
        Kleene(Seq(Ev("u", event_type="view"),
                   Or_(Seq(Ev("w", event_type="click"),
                           Neg(Ev("n", event_type="error"))),
                       Ev("y", event_type="purchase")))),
    ),
    window=timedelta(hours=24),
)


def _kleene_group_br_trail_edge_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cep_spark.batch import run_batch

    df = _events(spark, sf_dir)
    return run_batch(df, compile_pattern(_KLEENE_GROUP_BR_TRAIL_EDGE_PAT),
                     mode="flat")


def _kleene_group_br_trail_edge_oracle() -> str:
    w = int(_KLEENE_GROUP_BR_TRAIL_EDGE_PAT.window.total_seconds())
    return f"""
WITH RECURSIVE reps AS (
  SELECT u.user_id, u.event_id AS u_id, u.ts AS u_ts,
         b.event_id AS w_id, CAST(NULL AS BIGINT) AS y_id,
         b.event_id AS last_id, b.ts AS last_ts, 1 AS br
  FROM events u JOIN events b ON b.user_id = u.user_id
  WHERE u.event_type = 'view' AND b.event_type = 'click'
    AND (u.ts < b.ts OR (u.ts = b.ts AND u.event_id < b.event_id))
    AND EPOCH(b.ts) - EPOCH(u.ts) <= {w}
  UNION ALL
  SELECT u.user_id, u.event_id, u.ts,
         CAST(NULL AS BIGINT), y.event_id, y.event_id, y.ts, 0 AS br
  FROM events u JOIN events y ON y.user_id = u.user_id
  WHERE u.event_type = 'view' AND y.event_type = 'purchase'
    AND (u.ts < y.ts OR (u.ts = y.ts AND u.event_id < y.event_id))
    AND EPOCH(y.ts) - EPOCH(u.ts) <= {w}
),
chains AS (
  SELECT user_id, u_id AS u_first, u_id AS u_last,
         u_ts AS u1_ts, u_id AS u1_id, 1 AS r,
         CASE WHEN w_id IS NOT NULL THEN 1 ELSE 0 END AS w_cnt,
         w_id AS w_first, w_id AS w_last,
         CASE WHEN y_id IS NOT NULL THEN 1 ELSE 0 END AS y_cnt,
         y_id AS y_first, y_id AS y_last,
         last_id, last_ts, br AS last_br
  FROM reps
  UNION ALL
  SELECT c.user_id, c.u_first, t.u_id, c.u1_ts, c.u1_id, c.r + 1,
         c.w_cnt + CASE WHEN t.w_id IS NOT NULL THEN 1 ELSE 0 END,
         COALESCE(c.w_first, t.w_id), COALESCE(t.w_id, c.w_last),
         c.y_cnt + CASE WHEN t.y_id IS NOT NULL THEN 1 ELSE 0 END,
         COALESCE(c.y_first, t.y_id), COALESCE(t.y_id, c.y_last),
         t.last_id, t.last_ts, t.br
  FROM chains c JOIN reps t ON t.user_id = c.user_id
  WHERE (c.last_ts < t.u_ts OR (c.last_ts = t.u_ts AND c.last_id < t.u_id))
    AND EPOCH(t.last_ts) - EPOCH(c.u1_ts) <= {w}
    AND NOT (c.last_br = 1 AND EXISTS (
      SELECT 1 FROM events n
      WHERE n.user_id = c.user_id AND n.event_type = 'error'
        AND (c.last_ts < n.ts OR (c.last_ts = n.ts AND c.last_id < n.event_id))
        AND (n.ts < t.u_ts OR (n.ts = t.u_ts AND n.event_id < t.u_id))))
)
SELECT a.user_id AS user_id, CAST(0 AS INT) AS alt_id,
       CAST(a.event_id AS BIGINT) AS s_event_id,
       CAST(c.r AS BIGINT) AS u_len,
       CAST(c.u_first AS BIGINT) AS u_first,
       CAST(c.u_last AS BIGINT) AS u_last,
       CASE WHEN c.w_cnt > 0 THEN CAST(c.w_cnt AS BIGINT) END AS w_len,
       CAST(c.w_first AS BIGINT) AS w_first,
       CAST(c.w_last AS BIGINT) AS w_last,
       CASE WHEN c.y_cnt > 0 THEN CAST(c.y_cnt AS BIGINT) END AS y_len,
       CAST(c.y_first AS BIGINT) AS y_first,
       CAST(c.y_last AS BIGINT) AS y_last
FROM events a JOIN chains c ON c.user_id = a.user_id
WHERE a.event_type = 'signup'
  AND (a.ts < c.u1_ts OR (a.ts = c.u1_ts AND a.event_id < c.u1_id))
  AND EPOCH(c.last_ts) - EPOCH(a.ts) <= {w}
  AND NOT (c.last_br = 1 AND EXISTS (
    SELECT 1 FROM events n
    WHERE n.user_id = a.user_id AND n.event_type = 'error'
      AND (c.last_ts < n.ts OR (c.last_ts = n.ts AND c.last_id < n.event_id))
      AND EPOCH(n.ts) - EPOCH(a.ts) <= {w}))
"""


def _kleene_group_br_neg_oracle() -> str:
    w = int(_KLEENE_GROUP_BR_NEG_PAT.window.total_seconds())
    return f"""
WITH RECURSIVE reps AS (
  SELECT u.user_id, u.event_id AS u_id, u.ts AS u_ts,
         w.event_id AS w_id, x.event_id AS x_id,
         CAST(NULL AS BIGINT) AS y_id,
         x.event_id AS last_id, x.ts AS last_ts
  FROM events u
  JOIN events w ON w.user_id = u.user_id
  JOIN events x ON x.user_id = u.user_id
  WHERE u.event_type = 'view' AND w.event_type = 'click'
    AND x.event_type = 'signup'
    AND (u.ts < w.ts OR (u.ts = w.ts AND u.event_id < w.event_id))
    AND (w.ts < x.ts OR (w.ts = x.ts AND w.event_id < x.event_id))
    AND EPOCH(x.ts) - EPOCH(u.ts) <= {w}
    AND NOT EXISTS (
      SELECT 1 FROM events n
      WHERE n.user_id = u.user_id AND n.event_type = 'error'
        AND (w.ts < n.ts OR (w.ts = n.ts AND w.event_id < n.event_id))
        AND (n.ts < x.ts OR (n.ts = x.ts AND n.event_id < x.event_id)))
  UNION ALL
  SELECT u.user_id, u.event_id, u.ts,
         CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), y.event_id,
         y.event_id, y.ts
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
         last_id, last_ts
  FROM reps
  UNION ALL
  SELECT s.user_id, s.u_first, t.u_id, s.first_ts, s.r + 1,
         s.w_cnt + CASE WHEN t.w_id IS NOT NULL THEN 1 ELSE 0 END,
         COALESCE(s.w_first, t.w_id), COALESCE(t.w_id, s.w_last),
         s.x_cnt + CASE WHEN t.x_id IS NOT NULL THEN 1 ELSE 0 END,
         COALESCE(s.x_first, t.x_id), COALESCE(t.x_id, s.x_last),
         s.y_cnt + CASE WHEN t.y_id IS NOT NULL THEN 1 ELSE 0 END,
         COALESCE(s.y_first, t.y_id), COALESCE(t.y_id, s.y_last),
         t.last_id, t.last_ts
  FROM chains s JOIN reps t ON t.user_id = s.user_id
  WHERE (s.last_ts < t.u_ts OR (s.last_ts = t.u_ts AND s.last_id < t.u_id))
    AND EPOCH(t.last_ts) - EPOCH(s.first_ts) <= {w}
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
"""


# ---------------------------------------------------------------------------
# udf_pred (the reference's arbitrary-lambda conditions, SURVEY.md §2.2):
# a vectorized user predicate has NO SQL lowering by design, so this entry
# hand-writes the SQL twin from the SAME shared constants — the lambda and
# the oracle string cannot drift apart numerically (integer math only).

_UDF_MOD, _UDF_THRESH = 13, 4  # shared by the lambda AND the SQL twin
_UDF_WINDOW_S = 12 * 3600


def _udf_pred_pattern() -> Pattern:
    from cep_spark.conditions import udf_pred

    return _p(
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


def _udf_pred_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cep_spark.batch import run_batch

    df = _events(spark, sf_dir)
    return run_batch(df, compile_pattern(_udf_pred_pattern()), mode="flat")


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
# Multi-pattern (SURVEY.md §2.3 E7): N patterns in ONE scan + ONE shuffle
# (run_batch_multi).  The array schema isn't hashable by the driver, so
# the entry flattens each match to a sorted event-id key; the oracle is
# a UNION ALL of the same generated per-pattern SQL, wrapped to build
# the identical key.  This gives E7 a real CORRECTNESS row.

_MULTI_SPECS = [("seq2", "cep_seq2"), ("and3", "cep_and3"), ("neg", "cep_neg")]


def _multi_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    import dataclasses

    from pyspark.sql import functions as F

    from cep_spark.batch import run_batch_multi

    cps = [
        compile_pattern(dataclasses.replace(CEP_PATTERNS[name], pattern_id=pid))
        for pid, name in _MULTI_SPECS
    ]
    df = _events(spark, sf_dir)
    out = run_batch_multi(df, cps, emit_cols=("event_id",))
    return out.select(
        "user_id",
        "pattern_id",
        "alt_id",
        F.expr(
            "concat_ws(',', transform(array_sort(transform(matched, m -> m.event_id)), "
            "x -> cast(x as string)))"
        ).alias("match_key"),
    )


def _multi_oracle() -> str:
    parts = []
    for pid, name in _MULTI_SPECS:
        cp = compile_pattern(CEP_PATTERNS[name])
        vars_ = cp.alternatives[0].var_order
        ids = ", ".join(f"{v}_event_id" for v in vars_)
        parts.append(
            f"SELECT user_id, '{pid}' AS pattern_id, alt_id,\n"
            f"       array_to_string(list_sort([{ids}]), ',') AS match_key\n"
            f"FROM ({oracle_sql_for(cp, 'events')})"
        )
    return "\nUNION ALL\n".join(parts)


# ---------------------------------------------------------------------------
# Multi-pattern with PREFIX SHARING (cep_spark.merge): a family of funnel
# rules over one signup->view prelude, merged into a single trie-like NFA
# whose shared states advance once per event (9.5x over per-pattern on a
# prefix-dominated 12-rule microbench, scripts/bench_merge.py).  The
# oracle is the same generated per-pattern SQL UNION ALL as cep_multi —
# sharing must be a pure execution detail, invisible in the output.

def _shared_family() -> list:
    # MIXED windows (round 4): the shared automaton runs under the max
    # (12h) and re-checks span <= W_tag per accept tag; the per-pattern
    # DuckDB oracles below are generated with each pattern's OWN window,
    # so this entry keeps the mixed-window sharing path under the exact
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


def _multi_shared_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    import dataclasses

    from pyspark.sql import functions as F

    from cep_spark.batch import run_batch_multi

    cps = [
        compile_pattern(dataclasses.replace(pat, pattern_id=pid))
        for pid, pat in _shared_family()
    ]
    df = _events(spark, sf_dir)
    out = run_batch_multi(df, cps, emit_cols=("event_id",), strategy="shared")
    return out.select(
        "user_id",
        "pattern_id",
        "alt_id",
        F.expr(
            "concat_ws(',', transform(array_sort(transform(matched, m -> m.event_id)), "
            "x -> cast(x as string)))"
        ).alias("match_key"),
    )


def _sliced_family() -> list:
    """Round 5: the sliced entry gets its OWN family (previously it ran
    cep_multi_shared's family against the same oracle — a slicing bug
    that reproduced the shared executor's output would have been
    invisible to the harness).  SHORT mixed windows (1h/2h/3h) against
    the 30-day per-user event span force MANY (key, slice) cells at
    sf0.01, so the slice-boundary overlap logic is genuinely load-
    bearing for this entry's correctness row."""
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


def _multi_sliced_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew × sharing composition under the correctness gate: a short-
    window mixed family executed via run_batch_multi_sliced —
    window-sliced hot-key decomposition over ONE prefix-shared
    (per-component) automaton per slice, slice width = the family max
    window.  Its oracle is generated per-pattern from ITS family."""
    import dataclasses

    from pyspark.sql import functions as F

    from cep_spark.skew import run_batch_multi_sliced

    cps = [
        compile_pattern(dataclasses.replace(pat, pattern_id=pid))
        for pid, pat in _sliced_family()
    ]
    df = _events(spark, sf_dir)
    out = run_batch_multi_sliced(df, cps, emit_cols=("event_id",))
    return out.select(
        "user_id",
        "pattern_id",
        "alt_id",
        F.expr(
            "concat_ws(',', transform(array_sort(transform(matched, m -> m.event_id)), "
            "x -> cast(x as string)))"
        ).alias("match_key"),
    )


def _family_union_oracle(family) -> str:
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


def _multi_shared_oracle() -> str:
    return _family_union_oracle(_shared_family())


def _multi_sliced_oracle() -> str:
    # generated from the sliced entry's OWN family (round 5): a slicing
    # bug now fails THIS row even when the shared executor is correct
    return _family_union_oracle(_sliced_family())


# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on sf0.001: SEQ(signup -> click -> purchase) within
    24h per user — the canonical funnel CEP pattern."""
    pat = _p(
        Seq(Ev("a", event_type="signup"), Ev("b", event_type="click"), Ev("c", event_type="purchase")),
        window=timedelta(hours=24),
    )
    df = _events(spark, "/root/testdata/sf0.001")
    return plan_join(df, compile_pattern(pat))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from cep_spark import windows
    from cep_spark.pipeline import registry as _pipeline_registry

    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for name, pat in CEP_PATTERNS.items():
        out[name] = _cep_query(pat)
    # kleene-dense: NFA executor beats the arity-product join expansion
    out["cep_kleene_pair_cond"] = _cep_query_nfa(CEP_PATTERNS["cep_kleene_pair_cond"])
    out["cep_kleene_unbounded"] = _kleene_unbounded_query
    out["cep_kleene_composite_unbounded"] = _kleene_group_query
    out["cep_kleene_group_neg"] = _kleene_group_neg_query
    out["cep_kleene_group_lead_neg"] = _kleene_group_lead_neg_query
    out["cep_kleene_group_trail_neg"] = _kleene_group_trail_neg_query
    out["cep_kleene_group_or"] = _kleene_group_or_query
    out["cep_kleene_bare_or"] = _kleene_bare_or_query
    out["cep_kleene_group_lead_edge"] = _kleene_group_lead_edge_query
    out["cep_kleene_group_seq_or"] = _kleene_group_seq_or_query
    out["cep_kleene_dist_or"] = _kleene_dist_or_query
    out["cep_kleene_dist_and"] = _kleene_dist_and_query
    out["cep_kleene_dist_kleene"] = _kleene_dist_kleene_query
    out["cep_kleene_dist_and_ext"] = _kleene_dist_and_ext_query
    out["cep_kleene_dist_and_mem_neg"] = _kleene_dist_and_mem_neg_query
    out["cep_kleene_dist_and_mem_lead_neg"] = _kleene_dist_and_mem_lead_neg_query
    out["cep_kleene_group_br_neg"] = _kleene_group_br_neg_query
    out["cep_kleene_group_br_lead_neg"] = _kleene_group_br_lead_neg_query
    out["cep_kleene_group_br_trail_neg"] = _kleene_group_br_trail_neg_query
    out["cep_kleene_group_br_trail_edge"] = _kleene_group_br_trail_edge_query
    out["cep_kleene_nested_bounded"] = _kleene_nested_bounded_query
    out["cep_kleene_nested_unbounded"] = _kleene_nested_unbounded_query
    out["cep_kleene_loop_first"] = _kleene_loop_first_query
    out["cep_kleene_loop_unit"] = _kleene_loop_unit_query
    out["cep_kleene_loop_unit_neg"] = _kleene_loop_unit_neg_query
    out["cep_kleene_and_pos"] = _kleene_and_pos_query
    out["cep_kleene_and_pos_seq"] = _kleene_and_pos_seq_query
    out["cep_kleene_and_pos_mem_neg"] = _kleene_and_pos_mem_neg_query
    out["cep_kleene_and_pos_mem_lead_neg"] = _kleene_and_pos_mem_lead_neg_query
    out["cep_kleene_and_pos_or_mem"] = _kleene_and_pos_or_mem_query
    out["cep_kleene_bare_and_mem"] = _kleene_bare_and_mem_query
    out["cep_kleene_bare_and_mem_lead_neg"] = _kleene_bare_and_mem_lead_neg_query
    out["cep_kleene_or_mem_br_neg"] = _kleene_or_mem_br_neg_query
    out["cep_kleene_and_group"] = _kleene_and_group_query
    out["cep_udf_pred"] = _udf_pred_query
    out["cep_multi"] = _multi_query
    out["cep_multi_shared"] = _multi_shared_query
    out["cep_multi_sliced"] = _multi_sliced_query
    out.update(windows.QUERIES)
    out.update(_pipeline_registry.queries())
    return out


def oracle_sql() -> dict[str, str]:
    from cep_spark import windows
    from cep_spark.pipeline import registry as _pipeline_registry

    out = {name: oracle_sql_for(compile_pattern(pat), "events") for name, pat in CEP_PATTERNS.items()}
    out["cep_kleene_unbounded"] = _kleene_unbounded_oracle()
    out["cep_kleene_composite_unbounded"] = _kleene_group_oracle()
    out["cep_kleene_group_neg"] = _kleene_group_neg_oracle()
    out["cep_kleene_group_lead_neg"] = _kleene_group_lead_neg_oracle()
    out["cep_kleene_group_trail_neg"] = _kleene_group_trail_neg_oracle()
    out["cep_kleene_group_or"] = _kleene_group_or_oracle()
    out["cep_kleene_bare_or"] = _kleene_bare_or_oracle()
    out["cep_kleene_group_lead_edge"] = _kleene_group_lead_edge_oracle()
    out["cep_kleene_group_seq_or"] = _kleene_group_seq_or_oracle()
    out["cep_kleene_dist_or"] = _kleene_dist_or_oracle()
    out["cep_kleene_dist_and"] = _kleene_dist_and_oracle()
    out["cep_kleene_dist_kleene"] = _kleene_dist_kleene_oracle()
    out["cep_kleene_dist_and_ext"] = _kleene_dist_and_ext_oracle()
    out["cep_kleene_dist_and_mem_neg"] = _kleene_dist_and_mem_neg_oracle()
    out["cep_kleene_dist_and_mem_lead_neg"] = _kleene_dist_and_mem_lead_neg_oracle()
    out["cep_kleene_group_br_neg"] = _kleene_group_br_neg_oracle()
    out["cep_kleene_group_br_lead_neg"] = _kleene_group_br_lead_neg_oracle()
    out["cep_kleene_group_br_trail_neg"] = _kleene_group_br_trail_neg_oracle()
    out["cep_kleene_group_br_trail_edge"] = _kleene_group_br_trail_edge_oracle()
    out["cep_kleene_nested_bounded"] = _kleene_nested_bounded_oracle()
    out["cep_kleene_nested_unbounded"] = _kleene_nested_unbounded_oracle()
    out["cep_kleene_loop_first"] = _kleene_loop_first_oracle()
    out["cep_kleene_loop_unit"] = _kleene_loop_unit_oracle()
    out["cep_kleene_loop_unit_neg"] = _kleene_loop_unit_neg_oracle()
    out["cep_kleene_and_pos"] = _kleene_and_pos_oracle()
    out["cep_kleene_and_pos_seq"] = _kleene_and_pos_seq_oracle()
    out["cep_kleene_and_pos_mem_neg"] = _kleene_and_pos_mem_neg_oracle()
    out["cep_kleene_and_pos_mem_lead_neg"] = _kleene_and_pos_mem_neg_oracle(lead=True)
    out["cep_kleene_and_pos_or_mem"] = _kleene_and_pos_or_mem_oracle()
    out["cep_kleene_bare_and_mem"] = _kleene_bare_and_mem_oracle()
    out["cep_kleene_bare_and_mem_lead_neg"] = _kleene_bare_and_mem_lead_neg_oracle()
    out["cep_kleene_or_mem_br_neg"] = _kleene_or_mem_br_neg_oracle()
    out["cep_kleene_and_group"] = _kleene_and_group_oracle()
    out["cep_udf_pred"] = _udf_pred_oracle()
    out["cep_multi"] = _multi_oracle()
    out["cep_multi_shared"] = _multi_shared_oracle()
    out["cep_multi_sliced"] = _multi_sliced_oracle()
    out.update(windows.ORACLES)
    out.update(_pipeline_registry.oracle_sql())
    return out
