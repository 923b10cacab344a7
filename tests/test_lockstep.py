"""Key-boundary parity of the lockstep advance (batch.advance_groups).

The partition executors advance every key group of a sorted partition
together, one firing-event rank per step.  For every case here the
all-keys advance must return exactly the per-key advances concatenated
in key order: the same matches in the same order, the same drop counts
under the state guard, and the same leftover partial tables.  The frame
puts a hot key next to short keys, a key no slot fires on, and equal
timestamps across keys, so any search, expiry or guard that leaks over
a key boundary changes a match.  No Spark needed.
"""

from __future__ import annotations

from datetime import timedelta

import numpy as np
import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from cep_spark.batch import _ColStore, advance_core, advance_groups, group_bounds, unary_masks
from cep_spark.compiler import compile_pattern
from cep_spark.conditions import TRUE, attr
from cep_spark.merge import merge_compiled
from cep_spark.pattern import And_, Ev, Kleene, Neg, Or_, Pattern, Seq
from test_property_random_patterns import pattern as random_pattern

ROLES = ["user", "assistant", "tool"]
T0 = pd.Timestamp("2026-01-01")


def _key_rows(key, roles, secs, rng):
    n = len(roles)
    return pd.DataFrame({
        "conv_id": key,
        "turn_idx": np.arange(n, dtype=np.int32),
        "role": roles,
        "tool": rng.choice(["python", "sql"], n),
        "ts": T0 + pd.to_timedelta(np.asarray(secs, dtype=np.int64), unit="s"),
        "value": rng.uniform(0, 100, n).round(1),
    })


def _sorted(parts) -> pd.DataFrame:
    df = pd.concat(parts, ignore_index=True)
    return df.sort_values(["conv_id", "ts", "turn_idx"], kind="stable").reset_index(drop=True)


def _frame(seed=0, hot=300) -> pd.DataFrame:
    """Keys in sort order: a (3 events), b (1), c (no firing event:
    role 'system' matches no slot), d (2), hot (``hot`` events),
    z (3).  Every key starts at T0, so timestamps repeat across keys;
    a and d END with a tool event and b/z START with one, next to the
    neighbouring key's user/assistant events."""
    rng = np.random.default_rng(seed)
    hot_secs = np.cumsum(rng.integers(0, 20, hot))
    return _sorted([
        _key_rows("a", ["user", "assistant", "tool"], [0, 0, 5], rng),
        _key_rows("b", ["tool"], [0], rng),
        _key_rows("c", ["system"] * 4, [0, 1, 2, 3], rng),
        _key_rows("d", ["assistant", "tool"], [0, 1], rng),
        _key_rows("hot", rng.choice(ROLES, hot), hot_secs, rng),
        _key_rows("z", ["tool", "user", "assistant"], [0, 0, 1], rng),
    ])


def _shift(binding, off):
    return {v: tuple(x + off for x in p) if isinstance(p, tuple) else p + off
            for v, p in binding.items()}


def _assert_lockstep(cp, df, cap=None):
    """advance_groups over all of ``df`` == per-key advance_core, concatenated."""
    cols = {c: df[c].to_numpy() for c in df.columns}
    ts = cols["ts"].astype("datetime64[ns]").astype(np.int64)
    bounds = group_bounds(cols["conv_id"])
    stats_all: dict = {}
    res, grp, tables = advance_groups(
        cp, _ColStore.from_cols(cols), ts, unary_masks(cp, cols, len(df)), bounds,
        cap=cap, stats=stats_all,
    )
    want, want_grp, stats_key = [], [], {}
    for g in range(len(bounds) - 1):
        s, e = int(bounds[g]), int(bounds[g + 1])
        sub = {c: a[s:e] for c, a in cols.items()}
        kres, ktables = advance_core(
            cp, _ColStore.from_cols(sub), ts[s:e], unary_masks(cp, sub, e - s),
            cap=cap, stats=stats_key,
        )
        want += [(tag, _shift(b, s)) for tag, b in kres]
        want_grp += [g] * len(kres)
        for aid, tmap in ktables.items():
            for sid, kt in tmap.items():
                lt = tables[aid][sid]
                lt = lt.select(lt.grp == g)
                assert np.array_equal(lt.first_pos, kt.first_pos + s)
                assert np.array_equal(lt.last_pos, kt.last_pos + s)
                assert np.array_equal(lt.first_ts, kt.first_ts)
                for v in kt.scalar:
                    assert np.array_equal(lt.scalar[v], kt.scalar[v] + s)
                for v in kt.kleene:
                    assert [tuple(x - s for x in t) for t in lt.kleene[v]] == list(kt.kleene[v])
    assert res == want
    assert grp.tolist() == want_grp
    assert stats_all == stats_key
    return res, stats_all


def _pat(struct, window=timedelta(minutes=10), where=TRUE, pid="p0"):
    return Pattern(struct, where=where, window=window, pattern_id=pid)


def test_frame_shape():
    df = _frame()
    sizes = df.groupby("conv_id").size().to_dict()
    assert sizes == {"a": 3, "b": 1, "c": 4, "d": 2, "hot": 300, "z": 3}
    # equal timestamps across keys
    assert df["ts"].duplicated().any()


@pytest.mark.parametrize("struct", [
    # tool events end keys a and d, just before the next key's first
    # user/assistant rows and at the same timestamps
    Seq(Ev("a", role="user"), Neg(Ev("n", role="tool")), Ev("b", role="assistant")),
    # gap left boundary over an Or_ prefix (one branch var stays unbound)
    Seq(Or_(Ev("a", role="user"), Ev("a2", role="system")),
        Neg(Ev("n", role="tool")), Ev("b", role="assistant")),
], ids=["gap", "gap_or_prefix"])
def test_gap_neg_at_key_boundary(struct):
    res, _ = _assert_lockstep(compile_pattern(_pat(struct)), _frame())
    assert res


@pytest.mark.parametrize("struct", [
    Seq(Neg(Ev("n", role="tool")), Ev("a", role="user"), Ev("b", role="assistant")),
    Seq(Ev("a", role="user"), Ev("b", role="assistant"), Neg(Ev("n", role="tool"))),
    Seq(Neg(Ev("n", role="tool")), Ev("a", role="user"), Ev("b", role="assistant"),
        Neg(Ev("m", role="tool"))),
], ids=["leading", "trailing", "both"])
def test_edge_negs_do_not_cross_keys(struct):
    # an hour-wide window covers every key's rows: the look-back and
    # look-ahead would reach the neighbouring keys' tool events (d ends
    # with one, z starts with one) if they were not clamped to the key
    res, _ = _assert_lockstep(compile_pattern(_pat(struct, window=timedelta(hours=1))),
                              _frame())
    assert res


def test_unbounded_kleene_adjacent():
    rising = attr("k", "value") > attr("k__prev", "value")
    for struct in (
        Seq(Ev("a", role="user"), Kleene(Ev("k", role="assistant"), adjacent=rising),
            Ev("c", role="tool")),
        Seq(Ev("a", role="user"),
            Kleene(Seq(Ev("b", role="tool"),
                       Kleene(Ev("k", role="assistant"), adjacent=rising)),
                   max_len=None)),
    ):
        res, _ = _assert_lockstep(compile_pattern(_pat(struct, window=timedelta(minutes=3))),
                                  _frame())
        assert res


def test_kleene_and_body():
    struct = Seq(Kleene(And_(Ev("u", role="user"), Ev("w", role="assistant")), max_len=None),
                 Ev("p", role="tool"))
    res, _ = _assert_lockstep(compile_pattern(_pat(struct, window=timedelta(minutes=2))),
                              _frame())
    assert res


def test_merged_mixed_windows():
    a, b = Ev("a", role="user"), Ev("b", role="assistant")
    cps = [
        compile_pattern(_pat(Seq(a, b, Ev("c", role="tool")), pid="p0")),
        compile_pattern(_pat(Seq(a, b, Ev("c", role="user")), pid="p1",
                             window=timedelta(minutes=2),
                             where=attr("c", "value") > attr("a", "value"))),
        compile_pattern(_pat(Seq(a, b, Neg(Ev("n", role="tool")), Ev("c", role="assistant")),
                             pid="p2", window=timedelta(minutes=5))),
        compile_pattern(_pat(Seq(Neg(Ev("n", role="tool")), a, b), pid="p3",
                             window=timedelta(minutes=1))),
    ]
    res, _ = _assert_lockstep(merge_compiled(cps), _frame())
    assert {pi for (pi, _), _ in res} >= {0, 1, 2}


def test_state_guard_drops_per_key():
    # powerset Kleene: the hot key overflows the cap, the short keys do not
    struct = Seq(Ev("a", role="user"), Kleene(Ev("k", role="assistant")), Ev("c", role="tool"))
    cp = compile_pattern(_pat(struct, window=timedelta(minutes=3)))
    df = _frame(hot=120)
    res, stats = _assert_lockstep(cp, df, cap=16)
    assert stats["dropped_partials"] > 0
    assert res


@st.composite
def _multi_key_frame(draw):
    n_keys = draw(st.integers(3, 6))
    rng = np.random.default_rng(draw(st.integers(0, 2**31)))
    parts = []
    for k in range(n_keys):
        n = draw(st.integers(0, 8))
        if n == 0:
            continue
        # small gaps from a shared origin: equal timestamps across keys
        secs = np.cumsum(rng.integers(0, 60, n))
        parts.append(_key_rows(f"k{k}", rng.choice(ROLES, n), secs, rng))
    if not parts:
        parts.append(_key_rows("k0", ["user"], [0], rng))
    return _sorted(parts)


@settings(max_examples=150, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(pat=random_pattern(), df=_multi_key_frame())
def test_random_patterns_lockstep(pat, df):
    try:
        cp = compile_pattern(pat)
    except ValueError:
        return  # documented compile-time rejection
    _assert_lockstep(cp, df)
