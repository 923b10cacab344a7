"""Spark end-to-end: NFA executor ≡ join planner ≡ DuckDB oracle on the
driver-provided events table, and NFA ≡ replica on synthetic transcripts."""

import math
from datetime import timedelta

import duckdb
import pytest

from cep_spark.batch import match_schema_flat, run_batch
from cep_spark.compiler import compile_pattern
from cep_spark.conditions import TRUE, attr, lit
from cep_spark.join_planner import oracle_sql_for, plan_join
from cep_spark.pattern import And_, Ev, Kleene, Neg, Or_, Pattern, Seq

from conftest import SF_SMOKE


def _p(struct, where=None, window=timedelta(hours=12)):
    return Pattern(
        struct,
        where=where if where is not None else TRUE,
        window=window,
        key="user_id",
        ts_col="ts",
        tiebreak_col="event_id",
    )


EVENT_PATTERNS = {
    "seq2": _p(Seq(Ev("a", event_type="signup"), Ev("b", event_type="purchase"))),
    "seq3_cond": _p(
        Seq(Ev("a", event_type="view"), Ev("b", event_type="click"), Ev("c", event_type="purchase")),
        where=attr("b", "value") > attr("a", "value"),
        window=timedelta(hours=24),
    ),
    "and3": _p(
        And_(Ev("a", event_type="view"), Ev("b", event_type="click"), Ev("c", event_type="error")),
        window=timedelta(hours=12),
    ),
    "neg": _p(
        Seq(Ev("a", event_type="signup"), Neg(Ev("n", event_type="error")), Ev("b", event_type="purchase")),
        window=timedelta(hours=24),
    ),
    "or2": _p(
        Or_(
            Seq(Ev("a", event_type="signup"), Ev("t", event_type="purchase")),
            Seq(Ev("b", event_type="click"), Ev("t", event_type="purchase")),
        ),
        window=timedelta(hours=6),
    ),
    "kleene2": _p(
        Seq(
            Ev("a", event_type="signup"),
            Kleene(Ev("k", event_type="click"), max_len=2),
            Ev("c", event_type="purchase"),
        ),
        window=timedelta(hours=24),
    ),
    # round-2 shapes
    "neg_leading": _p(
        Seq(Neg(Ev("n", event_type="error")), Ev("a", event_type="signup"),
            Ev("b", event_type="purchase")),
        window=timedelta(hours=24),
    ),
    "neg_trailing": _p(
        Seq(Ev("a", event_type="signup"), Ev("b", event_type="purchase"),
            Neg(Ev("n", event_type="error"))),
        window=timedelta(hours=24),
    ),
    "kleene_composite": _p(
        Seq(Kleene(Seq(Ev("v", event_type="view"), Ev("c", event_type="click")), max_len=2),
            Ev("p", event_type="purchase")),
        window=timedelta(hours=24),
    ),
    "and_kleene": _p(
        And_(Kleene(Ev("k", event_type="click"), max_len=2), Ev("a", event_type="signup")),
        window=timedelta(hours=6),
    ),
    # round-3: conjunct over TWO kleene vars — the join lowering
    # replicates it per element-variable combination (cross product)
    "two_kleene_cond": _p(
        Seq(
            Kleene(Ev("a", event_type="view"), max_len=2),
            Kleene(Ev("b", event_type="click"), max_len=2),
            Ev("p", event_type="purchase"),
        ),
        where=attr("b", "value") > attr("a", "value"),
        window=timedelta(hours=24),
    ),
    "kleene_rising": _p(
        Seq(Ev("a", event_type="signup"),
            Kleene(Ev("k", event_type="click"), max_len=3,
                   adjacent=attr("k", "value") > attr("k__prev", "value")),
            Ev("c", event_type="purchase")),
        window=timedelta(hours=24),
    ),
    "kleene_forward_cond": _p(
        Seq(Ev("a", event_type="signup"),
            Kleene(Ev("k", event_type="click"), max_len=3),
            Ev("c", event_type="purchase")),
        where=attr("k", "value") < attr("c", "value"),
        window=timedelta(hours=24),
    ),
}


def _canon(recs, cols):
    out = []
    for r in recs:
        row = []
        for c in cols:
            v = r[c]
            if v is None or (isinstance(v, float) and math.isnan(v)):
                row.append(None)
            elif isinstance(v, str):
                row.append(v)
            else:
                row.append(int(v))
        out.append(tuple(row))
    return sorted(out, key=lambda t: [(x is None, x) for x in t])


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{SF_SMOKE}/events.parquet'")
    return con


@pytest.mark.parametrize("name", sorted(EVENT_PATTERNS))
def test_three_way_events(spark, events_df, duck, name):
    pat = EVENT_PATTERNS[name]
    cp = compile_pattern(pat)
    o = duck.execute(oracle_sql_for(cp, "events")).fetchdf()
    cols = sorted(o.columns)
    o_rows = _canon(o.to_dict("records"), cols)
    n_df = run_batch(events_df, cp, mode="flat")
    j_df = plan_join(events_df, cp)
    n_rows = _canon(n_df.toPandas().to_dict("records"), cols)
    j_rows = _canon(j_df.toPandas().to_dict("records"), cols)
    assert o_rows == n_rows, f"{name}: NFA != DuckDB oracle"
    assert o_rows == j_rows, f"{name}: join planner != DuckDB oracle"
    # one flat schema, nullable flags included, for both executors
    assert n_df.schema.json() == j_df.schema.json(), name
    assert n_df.schema == match_schema_flat(
        cp, events_df.schema["user_id"].dataType), name
    assert len(o_rows) > 0, f"{name}: zero matches — weak fixture"


def test_transcripts_nfa_vs_replica(spark, transcripts_df, transcripts_pdf):
    from oracle_cep import match_frame

    pat = Pattern(
        Seq(Ev("a", role="user"), Ev("b", role="assistant"), Ev("c", role="tool")),
        window=timedelta(minutes=5),
    )
    cp = compile_pattern(pat)
    got = run_batch(transcripts_df, cp, mode="flat").toPandas()
    exp = match_frame(pat, transcripts_pdf)
    got_set = sorted(
        (r["conv_id"], 0, (("a", (r["a_turn_idx"],)), ("b", (r["b_turn_idx"],)), ("c", (r["c_turn_idx"],))))
        for r in got.to_dict("records")
    )
    assert got_set == exp
    assert len(exp) > 0


def test_array_output_sorted(spark, transcripts_df):
    pat = Pattern(
        Seq(Ev("a", role="user"), Ev("b", role="assistant")), window=timedelta(minutes=5)
    )
    cp = compile_pattern(pat)
    rows = run_batch(transcripts_df, cp, mode="array").collect()
    assert len(rows) > 0
    for r in rows[:20]:
        ms = r.matched
        assert [m.var for m in ms] == ["a", "b"]
        assert ms[0].role == "user" and ms[1].role == "assistant"
        assert (ms[0].ts, ms[0].turn_idx) < (ms[1].ts, ms[1].turn_idx)


def test_run_batch_multi(spark, events_df):
    """One scan+shuffle for N patterns == union of individual runs."""
    from datetime import timedelta

    from cep_spark.batch import run_batch, run_batch_multi
    from cep_spark.compiler import compile_pattern
    from cep_spark.pattern import And_, Ev, Pattern, Seq

    emit = ("event_id", "event_type", "ts")

    def mk(struct, pid, hours):
        return Pattern(struct, window=timedelta(hours=hours), key="user_id",
                       ts_col="ts", tiebreak_col="event_id", pattern_id=pid)

    pats = [
        mk(Seq(Ev("a", event_type="signup"), Ev("b", event_type="purchase")), "seq2", 24),
        mk(And_(Ev("x", event_type="view"), Ev("y", event_type="error")), "and2", 6),
    ]
    cps = [compile_pattern(p) for p in pats]
    multi = run_batch_multi(events_df, cps, emit_cols=emit)

    def canon(df):
        return sorted(
            (r["user_id"], r["pattern_id"], r["alt_id"],
             tuple((m["var"], m["event_id"]) for m in r["matched"]))
            for r in df.collect()
        )

    singles = []
    for cp in cps:
        singles.extend(canon(run_batch(events_df, cp, mode="array", emit_cols=emit)))
    assert canon(multi) == sorted(singles)
    assert len(canon(multi)) > 0


def test_engine_facade(spark, events_df):
    from datetime import timedelta

    from cep_spark.engine import CepEngine
    from cep_spark.pattern import Ev, Pattern, Seq

    pat = Pattern(
        Seq(Ev("a", event_type="signup"), Ev("b", event_type="purchase")),
        window=timedelta(hours=24), key="user_id",
        ts_col="ts", tiebreak_col="event_id",
    )
    eng = CepEngine(pat)
    assert eng.run_batch(events_df).count() == 88
    assert eng.run_join(events_df).count() == 88
    assert "events" in eng.oracle_sql("events")[0]
    pat2 = Pattern(
        Seq(Ev("x", event_type="view"), Ev("y", event_type="error")),
        window=timedelta(hours=6), key="user_id",
        ts_col="ts", tiebreak_col="event_id", pattern_id="p1",
    )
    multi = CepEngine(pat, pat2)
    out = multi.run_batch(events_df, emit_cols=("event_id", "ts"))
    assert set(r["pattern_id"] for r in out.select("pattern_id").distinct().collect()) == {"p0", "p1"}


def test_per_turn_text_equality(spark, transcripts_df, transcripts_pdf):
    """North-rule invariant: matched output reproduces each turn's text
    byte-for-byte under stable (conv_id, turn_idx) ordering."""
    from datetime import timedelta

    from cep_spark.batch import run_batch
    from cep_spark.compiler import compile_pattern
    from cep_spark.pattern import Ev, Pattern, Seq

    pat = Pattern(
        Seq(Ev("u", role="user"), Ev("a", role="assistant")),
        window=timedelta(minutes=5),
        key="conv_id", ts_col="ts", tiebreak_col="turn_idx",
    )
    out = run_batch(
        transcripts_df, compile_pattern(pat), mode="array",
        emit_cols=("turn_idx", "role", "tool", "ts", "text"),
    ).collect()
    assert len(out) > 0
    src = {
        (r.conv_id, int(r.turn_idx)): (r.text, r.role)
        for r in transcripts_pdf.itertuples()
    }
    for row in out:
        prev = None
        for m in row["matched"]:  # stable (ts, turn_idx) order within match
            assert (m["text"], m["role"]) == src[(row["conv_id"], m["turn_idx"])]
            if prev is not None:
                assert (m["ts"], m["turn_idx"]) >= prev
            prev = (m["ts"], m["turn_idx"])
