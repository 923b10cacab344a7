"""Pinned-semantics micro-fixtures (SURVEY.md §2.4 / FIXTURES.md §3):
hand-written rows with hand-computed expected match sets.

These encode the binding decisions once and for all:
  1. SEQ order = lexicographic (ts, turn_idx); ties broken by turn_idx.
  2. window boundary: span <= W inclusive.
  3. Kleene emits every non-empty ordered subset.
  4. gap negation guards strictly-between, checked against each
     powerset branch's own last event.
"""

from datetime import timedelta

import pandas as pd

from cep_spark.batch import match_group_nfa
from cep_spark.compiler import compile_pattern
from cep_spark.conditions import attr
from cep_spark.pattern import Ev, Kleene, Neg, Pattern, Seq


def _df(rows):
    return pd.DataFrame(
        [
            {
                "conv_id": "c0",
                "turn_idx": i,
                "role": r,
                "tool": None,
                "ts": pd.Timestamp(t),
                "value": 0.0,
            }
            for i, (r, t) in enumerate(rows)
        ]
    )


def _run(pat, df):
    return sorted(
        (alt, tuple(sorted(b.items())))
        for alt, b in match_group_nfa(compile_pattern(pat), df)
    )


def test_ts_tie_broken_by_turn_idx():
    # user(0) and assistant(1) share a timestamp: SEQ(user, assistant)
    # matches because turn_idx orders them; SEQ(assistant, user) must NOT
    # match the tied pair in reverse.
    df = _df([("user", "2026-01-01 00:00:00"), ("assistant", "2026-01-01 00:00:00")])
    fwd = Pattern(Seq(Ev("a", role="user"), Ev("b", role="assistant")))
    rev = Pattern(Seq(Ev("b", role="assistant"), Ev("a", role="user")))
    assert _run(fwd, df) == [(0, (("a", 0), ("b", 1)))]
    assert _run(rev, df) == []


def test_window_boundary_inclusive():
    df = _df([("user", "2026-01-01 00:00:00"), ("assistant", "2026-01-01 00:05:00")])
    exact = Pattern(Seq(Ev("a", role="user"), Ev("b", role="assistant")), window=timedelta(minutes=5))
    under = Pattern(Seq(Ev("a", role="user"), Ev("b", role="assistant")), window=timedelta(minutes=5) - timedelta(milliseconds=1))
    assert len(_run(exact, df)) == 1  # span == W passes (inclusive)
    assert len(_run(under, df)) == 0


def test_kleene_powerset_emission():
    # a, k1, k2, c -> kleene subsets {1},{2},{1,2} = 3 matches
    df = _df(
        [
            ("user", "2026-01-01 00:00:00"),
            ("assistant", "2026-01-01 00:00:10"),
            ("assistant", "2026-01-01 00:00:20"),
            ("tool", "2026-01-01 00:00:30"),
        ]
    )
    pat = Pattern(
        Seq(Ev("a", role="user"), Kleene(Ev("k", role="assistant")), Ev("c", role="tool")),
        window=timedelta(minutes=5),
    )
    res = _run(pat, df)
    ksets = sorted(dict(b)["k"] for _, b in res)
    assert ksets == [(1,), (1, 2), (2,)]


def test_two_kleene_cross_condition():
    """A conjunct over two Kleene vars holds for EVERY cross-product
    pair (ALL semantics): min(k values) > max(j values)."""
    df = _df(
        [
            ("user", "2026-01-01 00:00:00"),       # j cand, value 5
            ("user", "2026-01-01 00:00:10"),       # j cand, value 10
            ("assistant", "2026-01-01 00:00:20"),  # k cand, value 8
            ("assistant", "2026-01-01 00:00:30"),  # k cand, value 12
        ]
    )
    df["value"] = [5.0, 10.0, 8.0, 12.0]
    pat = Pattern(
        Seq(Kleene(Ev("j", role="user")), Kleene(Ev("k", role="assistant"))),
        where=attr("k", "value") > attr("j", "value"),
        window=timedelta(minutes=5),
    )
    res = _run(pat, df)
    picks = sorted((dict(b)["j"], dict(b)["k"]) for _, b in res)
    # J={0}(max 5): K={2},{3},{2,3} pass; J={1} or {0,1}(max 10): only K={3}
    assert picks == [
        ((0,), (2,)), ((0,), (2, 3)), ((0,), (3,)),
        ((0, 1), (3,)), ((1,), (3,)),
    ]


def test_gap_negation_respects_powerset_branch():
    # a, k1, n, k2, c : the branch binding only k1 has the negative event
    # inside its (k1, c) gap -> killed; branches whose last kleene event
    # is k2 survive (n precedes k2).
    df = _df(
        [
            ("user", "2026-01-01 00:00:00"),
            ("assistant", "2026-01-01 00:00:10"),
            ("user", "2026-01-01 00:00:15"),  # the negated event (role=user)
            ("assistant", "2026-01-01 00:00:20"),
            ("tool", "2026-01-01 00:00:30"),
        ]
    )
    pat = Pattern(
        Seq(
            Ev("a", role="user"),
            Kleene(Ev("k", role="assistant")),
            Neg(Ev("n", role="user")),
            Ev("c", role="tool"),
        ),
        window=timedelta(minutes=5),
    )
    res = _run(pat, df)
    bindings = sorted((dict(b)["a"], dict(b)["k"]) for _, b in res)
    # note: the row at pos 2 is role=user, so it both kills branch
    # (a=0, k=(1,)) AND starts its own match as a=2.
    assert bindings == [(0, (1, 3)), (0, (3,)), (2, (3,))]


def test_negation_exactly_at_boundary_does_not_kill():
    # negative event with the same ts as the closing positive but higher
    # turn_idx is NOT strictly between -> match survives.
    df = _df(
        [
            ("user", "2026-01-01 00:00:00"),
            ("assistant", "2026-01-01 00:00:10"),
            ("tool", "2026-01-01 00:00:10"),  # same ts as b, turn_idx greater
        ]
    )
    pat = Pattern(
        Seq(Ev("a", role="user"), Neg(Ev("n", role="tool")), Ev("b", role="assistant")),
        window=timedelta(minutes=5),
    )
    assert len(_run(pat, df)) == 1


def test_empty_group():
    pat = Pattern(Seq(Ev("a", role="user"), Ev("b", role="assistant")))
    assert match_group_nfa(compile_pattern(pat), _df([])) == []


def test_user_pred_vectorized(spark, events_df):
    """udf_pred == the equivalent declarative condition (NFA + prefilter
    paths), and is excluded from SQL lowering and the join executor."""
    from datetime import timedelta

    import pytest

    from cep_spark.batch import run_batch
    from cep_spark.compiler import compile_pattern
    from cep_spark.conditions import attr, lit, udf_pred
    from cep_spark.join_planner import oracle_sql_for, plan_join
    from cep_spark.pattern import Ev, Pattern, Seq

    def mk(cond_b):
        return compile_pattern(
            Pattern(
                Seq(Ev("a", event_type="signup"), Ev("b", where=cond_b, event_type="purchase")),
                window=timedelta(hours=24),
                key="user_id", ts_col="ts", tiebreak_col="event_id",
            )
        )

    cp_udf = mk(udf_pred(lambda v, w: v > w * 2, attr("b", "value"), attr("a", "value"), name="2x"))
    cp_dec = mk(attr("b", "value") > attr("a", "value") * lit(2))
    got = sorted(tuple(r) for r in run_batch(events_df, cp_udf, mode="flat").collect())
    want = sorted(tuple(r) for r in run_batch(events_df, cp_dec, mode="flat").collect())
    assert got == want and len(got) > 0
    with pytest.raises(NotImplementedError):
        oracle_sql_for(cp_udf, "events")
    with pytest.raises(NotImplementedError, match="'2x'"):
        plan_join(events_df, cp_udf)
    # a unary udf: the scan prefilter drops only the udf conjunct, so the
    # declarative one still reaches the parquet scan
    cp_unary = mk(udf_pred(lambda v: v > 50, attr("b", "value"), name="big"))
    out = run_batch(events_df, cp_unary, mode="flat")
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted")
    assert "EqualTo(event_type,purchase)" in plan
    want = run_batch(events_df, mk(attr("b", "value") > lit(50)), mode="flat")
    got = sorted(map(tuple, out.collect()))
    assert got == sorted(map(tuple, want.collect())) and len(got) > 0


def test_per_turn_text_equality(spark, transcripts_df, transcripts_pdf):
    """North-rule output invariant: emitted match rows satisfy per-turn
    TEXT equality under stable (conv_id, turn_idx) ordering — every
    matched element's text equals the source row at that position, and
    elements are ordered by (ts, turn_idx)."""
    from datetime import timedelta

    from cep_spark.batch import run_batch
    from cep_spark.compiler import compile_pattern
    from cep_spark.pattern import Ev, Pattern, Seq

    pat = Pattern(
        Seq(Ev("a", role="user"), Ev("b", role="assistant")),
        window=timedelta(minutes=5),
    )
    cp = compile_pattern(pat)
    emit = ("turn_idx", "role", "text", "ts")
    rows = run_batch(transcripts_df, cp, mode="array", emit_cols=emit).collect()
    src = {
        (r.conv_id, int(r.turn_idx)): r.text
        for r in transcripts_df.select("conv_id", "turn_idx", "text").collect()
    }
    assert len(rows) > 0
    for r in rows:
        ms = r.matched
        # stable ordering within the match
        assert [(m.ts, m.turn_idx) for m in ms] == sorted(
            (m.ts, m.turn_idx) for m in ms
        )
        for m in ms:
            assert m.text == src[(r.conv_id, int(m.turn_idx))]
