"""The NFA stages order each partition themselves, by (key, ts,
tiebreak) — (key, slice, ts, tiebreak) when sliced — so the rows they
emit must not depend on the order rows arrive in: a deliberately
shuffled partition under ``assume_clustered=True`` gives the rows of a
per-key reference over the same input sorted with nulls first (Spark's
ascending order), null keys and null event times included."""

from __future__ import annotations

from datetime import timedelta
from itertools import repeat

import numpy as np
import pandas as pd
import pytest

from cep_spark.batch import (
    _partition_columns,
    flat_match_rows,
    group_bounds,
    match_group_nfa,
    run_batch,
)
from cep_spark.compiler import compile_pattern
from cep_spark.pattern import Ev, Kleene, Neg, Pattern, Seq
from cep_spark.skew import run_batch_sliced

KEY, TS, TB = "conv_id", "ts", "turn_idx"

_NEG = Seq(Ev("u", role="user"), Neg(Ev("n", role="tool")), Ev("a", role="assistant"))
# name -> (structure, window); without a window, where a null ts sorts
# (first, as in Spark) changes the rows
PATTERNS = {
    "kleene": (Seq(Ev("u", role="user"), Kleene(Ev("t", role="tool"), max_len=3),
                   Ev("a", role="assistant")), timedelta(minutes=10)),
    "neg": (_NEG, timedelta(minutes=10)),
    "neg_unwindowed": (_NEG, None),
}
WINDOWED = ["kleene", "neg"]  # the sliced executor needs a window


def _turns(nulls: bool) -> pd.DataFrame:
    """Transcript turns; with ``nulls``, two conversations lose their
    key (their rows form one null-key group) and a few turns of other
    conversations have a null ts (they sort first in their group)."""
    from cep_spark.transcripts import gen_transcripts

    pdf = gen_transcripts(n_conv=24, seed=11)[[KEY, TB, "role", "tool", TS]].copy()
    if nulls:
        pdf.loc[pdf[KEY].isin(pdf[KEY].value_counts().index[1:3]), KEY] = None
        rng = np.random.default_rng(3)
        hit = rng.choice(np.nonzero(pdf[KEY].notna().to_numpy())[0], 12, replace=False)
        pdf.loc[pdf.index[hit], TS] = pd.NaT
    return pdf


def _pattern(name):
    struct, window = PATTERNS[name]
    return compile_pattern(Pattern(struct, window=window, key=KEY, ts_col=TS, tiebreak_col=TB))


def _reference(pdf, cp) -> list:
    """Per-key rows over the input sorted by pandas, nulls first."""
    s = pdf.sort_values([KEY, TS, TB], na_position="first", kind="stable")
    s = s.reset_index(drop=True)
    keys = s[KEY].to_numpy()
    b = group_bounds(keys)
    rows = []
    for g in range(len(b) - 1):
        gdf = s.iloc[b[g]:b[g + 1]].reset_index(drop=True)
        rows += flat_match_rows(cp, repeat(keys[b[g]]), match_group_nfa(cp, gdf),
                                gdf[TB].to_numpy())
    return _canon(rows)


def _canon(rows) -> list:
    return sorted((tuple(r) for r in rows), key=repr)


def _shuffled(spark, pdf, parts=1):
    """``pdf`` in a random row order, ``parts`` key-clustered partitions."""
    df = spark.createDataFrame(pdf.sample(frac=1.0, random_state=7))
    return df.coalesce(1) if parts == 1 else df.repartition(parts, KEY)


@pytest.mark.parametrize("nulls", [False, True], ids=["plain", "nulls"])
@pytest.mark.parametrize("name", sorted(PATTERNS))
def test_unsorted_clustered_partition_matches_sorted(spark, name, nulls):
    pdf = _turns(nulls)
    cp = _pattern(name)
    want = _reference(pdf, cp)
    # the pattern matches, in the null-key group too: the comparison is live
    assert want and (not nulls or any(r[0] is None for r in want))
    for parts in (1, 3):
        got = run_batch(_shuffled(spark, pdf, parts), cp, mode="flat", assume_clustered=True)
        assert _canon(got.collect()) == want, parts
    ordered = spark.createDataFrame(
        pdf.sort_values([KEY, TS, TB], na_position="first")).coalesce(1)
    assert _canon(run_batch(ordered, cp, mode="flat", assume_clustered=True).collect()) == want


@pytest.mark.parametrize("name", WINDOWED)
def test_sliced_unsorted_matches_sorted(spark, name):
    """The sliced executor sorts on (key, slice, ts, tiebreak)."""
    pdf = _turns(False)
    cp = _pattern(name)
    assert _canon(run_batch_sliced(_shuffled(spark, pdf), cp).collect()) == _reference(pdf, cp)


def test_sliced_null_rows_order_free(spark):
    """With null keys and null event times, the sliced rows do not
    depend on the input order."""
    pdf = _turns(True)
    cp = _pattern("kleene")
    a = run_batch_sliced(_shuffled(spark, pdf), cp).collect()
    assert any(r[0] is None for r in a)
    b = run_batch_sliced(spark.createDataFrame(
        pdf.sort_values([KEY, TS, TB], na_position="first")), cp).collect()
    assert _canon(a) == _canon(b)


def test_partition_columns_numeric_nulls():
    """A nullable integer key or tiebreak reaches the pass as float64
    with NaN for null: it sorts first, as in Spark, and its rows are one
    key group each (``group_bounds``: NaN equals nothing)."""
    nan, nat = np.nan, pd.NaT
    pdf = pd.DataFrame({
        "k": [2.0, nan, 1.0, 2.0, nan, 1.0],
        "ts": pd.to_datetime(["2024-01-01 00:00:05", "2024-01-01 00:00:01", nat,
                              "2024-01-01 00:00:05", "2024-01-01 00:00:02",
                              "2024-01-01 00:00:03"]),
        "tb": [7.0, 1.0, 2.0, nan, 4.0, 3.0],
    })
    cols, ts_ns, bounds, _ = _partition_columns(iter([pdf.iloc[:4], pdf.iloc[4:]]),
                                                "k", "ts", "tb")
    want = pdf.sort_values(["k", "ts", "tb"], na_position="first").reset_index(drop=True)
    for c in pdf.columns:
        assert want[c].equals(pd.Series(cols[c], name=c)), c
    assert ts_ns[2] == np.iinfo(np.int64).min  # k=1's NaT row leads its group
    assert bounds.tolist() == [0, 1, 2, 4, 6]
    assert _partition_columns(iter([]), "k", "ts", "tb") is None
