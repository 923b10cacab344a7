"""The fixed-arity lowering's one SQL rendering: building a join plan or a
scan prefilter costs a constant number of Py4J round trips, and literals
that Spark and DuckDB could read differently give the same rows in the
NFA, the Catalyst self-join and the DuckDB oracle."""

from __future__ import annotations

from datetime import timedelta

import duckdb
import numpy as np
import pandas as pd
import pytest

from cep_spark.batch import prefilter_multi, run_batch
from cep_spark.compiler import compile_pattern
from cep_spark.conditions import attr, lit
from cep_spark.join_planner import oracle_sql_for, plan_join
from cep_spark.pattern import Ev, Neg, Pattern, Seq

from test_spark_e2e import EVENT_PATTERNS, _canon

# plan_join: temp view, sql, drop view, schema, to; prefilter_multi:
# columns, one select, one filter.  Neither may grow with the pattern.
MAX_ROUND_TRIPS = 16


class _Calls:
    """Counts Py4J commands sent while installed, except the deletions
    of Java objects that earlier, dropped Python handles release."""

    def __enter__(self):
        from py4j.clientserver import ClientServerConnection

        self.cls, self.orig, self.n = ClientServerConnection, ClientServerConnection.send_command, 0
        orig = self.orig

        def send_command(conn, command):
            if not command.startswith("m\nd\n"):
                self.n += 1
            return orig(conn, command)

        self.cls.send_command = send_command
        return self

    def __exit__(self, *exc):
        self.cls.send_command = self.orig


@pytest.mark.parametrize("name", sorted(EVENT_PATTERNS))
def test_build_round_trips_constant(spark, events_df, name):
    cp = compile_pattern(EVENT_PATTERNS[name])
    with _Calls() as join_calls:
        plan_join(events_df, cp)
    with _Calls() as scan_calls:
        prefilter_multi(events_df, [cp])
    assert join_calls.n <= MAX_ROUND_TRIPS, (name, join_calls.n)
    assert scan_calls.n <= MAX_ROUND_TRIPS, (name, scan_calls.n)


# string literals with a quote, a backslash and braces: Spark reads a
# backslash as an escape and spark.sql's formatter reads braces
_ODD = "it's a\\b {x}"
_ODD_NEG = "a'b\\"


def _odd_events() -> pd.DataFrame:
    rng = np.random.default_rng(20261020)
    n = 240
    labels = np.array([_ODD, _ODD_NEG, "plain", "{}", None], dtype=object)
    value = rng.normal(0, 2, n).round(2)
    value[rng.random(n) < 0.1] = np.nan
    return pd.DataFrame({
        "user_id": rng.choice([f"u{i}" for i in range(8)], n),
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pd.Timestamp("2026-01-01") + pd.to_timedelta(
            np.sort(rng.integers(0, 6 * 3600, n)), unit="s"),
        "event_type": rng.choice(["view", "click", "buy", "x'y"], n),
        "label": labels[rng.integers(0, len(labels), n)],
        "value": value,
    })


def test_literal_parity(spark):
    pdf = _odd_events()
    pat = Pattern(
        Seq(Ev("a", where=attr("a", "label") == lit(_ODD)),
            Neg(Ev("n", where=attr("n", "label") == lit(_ODD_NEG))),
            Ev("b", where=(attr("b", "value") > lit(-1.5))
               & attr("b", "event_type").isin("click", "x'y")),
            Ev("c", where=attr("c", "value").is_null())),
        where=attr("b", "value") * lit(-0.5) < attr("a", "event_id"),
        window=timedelta(hours=1),
        key="user_id", ts_col="ts", tiebreak_col="event_id",
    )
    cp = compile_pattern(pat)
    df = spark.createDataFrame(pdf)
    con = duckdb.connect()
    con.register("events", pdf)
    o = con.execute(oracle_sql_for(cp, "events")).fetchdf()
    cols = sorted(o.columns)
    o_rows = _canon(o.to_dict("records"), cols)
    n_rows = _canon(run_batch(df, cp, mode="flat").toPandas().to_dict("records"), cols)
    j_rows = _canon(plan_join(df, cp).toPandas().to_dict("records"), cols)
    assert len(o_rows) > 0
    assert n_rows == o_rows
    assert j_rows == o_rows
    # the scan prefilter keeps every row a match binds
    kept = {r.event_id for r in prefilter_multi(df, [cp]).select("event_id").collect()}
    bound = {r[c] for r in o.to_dict("records") for c in ("a_event_id", "b_event_id",
                                                           "c_event_id")}
    assert bound <= kept


def test_negation_alias_is_private(spark, events_df):
    """A negation's subquery alias cannot capture a match variable, and a
    negation condition over a match variable renders: the match binds
    ``n`` and negates ``m`` under a condition on ``n``."""
    from conftest import SF_SMOKE

    pat = Pattern(
        Seq(Ev("n", event_type="view"),
            Neg(Ev("m", where=attr("m", "value") > attr("n", "value"),
                   event_type="click")),
            Ev("b", event_type="purchase")),
        window=timedelta(hours=12),
        key="user_id", ts_col="ts", tiebreak_col="event_id",
    )
    cp = compile_pattern(pat)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{SF_SMOKE}/events.parquet'")
    o = con.execute(oracle_sql_for(cp, "events")).fetchdf()
    cols = sorted(o.columns)
    o_rows = _canon(o.to_dict("records"), cols)
    n_rows = _canon(run_batch(events_df, cp, mode="flat").toPandas().to_dict("records"), cols)
    j_rows = _canon(plan_join(events_df, cp).toPandas().to_dict("records"), cols)
    assert len(o_rows) > 0
    assert n_rows == o_rows
    assert j_rows == o_rows
