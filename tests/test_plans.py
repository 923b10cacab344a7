"""Physical-plan regression tests: the optimizations we claim must be
visible in `.explain` — predicate pushdown to parquet, column pruning,
broadcast of the small side (SURVEY.md §4)."""

from __future__ import annotations

from datetime import timedelta

import pytest

from cep_spark.compiler import compile_pattern
from cep_spark.conditions import attr
from cep_spark.join_planner import plan_join
from cep_spark.pattern import Ev, Pattern, Seq

SF = "/root/testdata/sf0.001"


def _explain(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


@pytest.fixture(scope="module")
def events(spark):
    return spark.read.parquet(f"{SF}/events.parquet")


def test_join_path_pushdown_and_pruning(spark, events):
    pat = Pattern(
        Seq(Ev("a", event_type="view"), Ev("b", event_type="purchase")),
        where=(attr("b", "value") > attr("a", "value")),
        window=timedelta(hours=12),
        key="user_id", ts_col="ts", tiebreak_col="event_id",
    )
    plan = _formatted(plan_join(events, compile_pattern(pat)))
    # unary event-type equalities reach the parquet scan
    assert "EqualTo(event_type,view)" in plan
    assert "EqualTo(event_type,purchase)" in plan
    # column pruning: the untouched props column never leaves the scan
    assert "props" not in plan


def test_nfa_path_pushdown_and_pruning(spark, events):
    from cep_spark.batch import run_batch

    pat = Pattern(
        Seq(Ev("a", event_type="signup"), Ev("b", event_type="purchase")),
        window=timedelta(hours=24),
        key="user_id", ts_col="ts", tiebreak_col="event_id",
    )
    plan = _formatted(run_batch(events, compile_pattern(pat), mode="flat"))
    # the OR-of-unaries prefilter is pushed into the scan
    assert "event_type" in plan and "PushedFilters" in plan
    assert "props" not in plan  # pruned
    assert "value" not in plan  # pattern references no value column


def test_knn_broadcasts_queries(spark):
    from cep_spark.pipeline.embeddings import q_knn_bruteforce

    plan = _explain(q_knn_bruteforce(spark, SF))
    assert "Broadcast" in plan  # query side broadcast, corpus streams


def test_edge_neg_anti_join_is_keyed(spark, events):
    """Leading/trailing-neg anti joins must be key-equi joins (never a
    cartesian/broadcast-nested-loop over the whole table)."""
    from cep_spark.pattern import Neg

    pat = Pattern(
        Seq(Neg(Ev("n", event_type="error")), Ev("a", event_type="signup"),
            Ev("b", event_type="purchase"), Neg(Ev("m", event_type="view"))),
        window=timedelta(hours=24),
        key="user_id", ts_col="ts", tiebreak_col="event_id",
    )
    plan = _formatted(plan_join(events, compile_pattern(pat)))
    assert "CartesianProduct" not in plan
    assert "LeftAnti" in plan
    # both negation unaries reach the parquet scan
    assert "EqualTo(event_type,error)" in plan
    assert "EqualTo(event_type,view)" in plan


def test_multi_pattern_single_shuffle(spark, events):
    """run_batch_multi: N patterns share ONE scan and ONE shuffle."""
    import re

    from __spark_entry__ import queries

    plan = _formatted(queries()["cep_multi"](spark, SF))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    # partition-amortized executor: ONE MapInPandas over sorted partitions
    assert len(re.findall(r"\(\d+\) MapInPandas", plan)) == 1


def test_capped_jaccard_no_cartesian(spark):
    from cep_spark.pipeline.docs import q_ngram_jaccard_capped

    plan = _explain(q_ngram_jaccard_capped(spark, SF))
    assert "CartesianProduct" not in plan


def test_composite_kleene_join_pushdown(spark, events):
    from cep_spark.pattern import Kleene

    pat = Pattern(
        Seq(Kleene(Seq(Ev("v", event_type="view"), Ev("c", event_type="click")), max_len=2),
            Ev("p", event_type="purchase")),
        window=timedelta(hours=24),
        key="user_id", ts_col="ts", tiebreak_col="event_id",
    )
    plan = _formatted(plan_join(events, compile_pattern(pat)))
    assert "CartesianProduct" not in plan
    assert "EqualTo(event_type,view)" in plan  # unaries pushed per instance
    assert "props" not in plan


def test_nfa_stage_parallelism_pinned(spark, events):
    """AQE's byte-based coalescing must NOT shrink the matcher exchange:
    matcher stages are CPU-bound with tiny bytes, so the repartition is
    pinned to the session's shuffle parallelism (batch.cpu_parallelism).
    Regression for the round-3 finding that AQE ran every NFA stage on
    ONE task at bench scale."""
    from cep_spark.batch import run_batch

    pat = Pattern(
        Seq(Ev("a", event_type="signup"), Ev("b", event_type="purchase")),
        window=timedelta(hours=24),
        key="user_id", ts_col="ts", tiebreak_col="event_id",
    )
    out = run_batch(events, compile_pattern(pat), mode="flat")
    expected = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert out.rdd.getNumPartitions() == expected


def test_assume_clustered_skips_exchange(spark, events):
    """assume_clustered=True: the caller guarantees key-clustered input
    (bucketed table / pre-partitioned write) and the NFA executor must
    add NO shuffle of its own — only the in-partition sort."""
    import re

    from cep_spark.batch import run_batch

    pat = Pattern(
        Seq(Ev("a", event_type="signup"), Ev("b", event_type="purchase")),
        window=timedelta(hours=24),
        key="user_id", ts_col="ts", tiebreak_col="event_id",
    )
    pre = events.repartition(4, "user_id")
    plan = _formatted(
        run_batch(pre, compile_pattern(pat), mode="flat", assume_clustered=True)
    )
    # exactly the caller's own exchange; the executor adds none
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert "Sort" in plan


def test_whole_stage_codegen_in_join_path(spark, events):
    pat = Pattern(
        Seq(Ev("a", event_type="view"), Ev("b", event_type="purchase")),
        window=timedelta(hours=12),
        key="user_id", ts_col="ts", tiebreak_col="event_id",
    )
    df = plan_join(events, compile_pattern(pat))
    df.collect()  # AQE finalizes THIS plan only when this frame executes
    plan = _formatted(df)
    assert "codegen id" in plan  # joins+projections run inside WSCG spans
