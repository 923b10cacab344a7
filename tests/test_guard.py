"""Hot-key state guard (max_partials_per_state): bounded partial
tables, deterministic oldest-first drops, loss-only semantics, drop
accounting.  SURVEY.md §4 scale notes / DESIGN_AT_SCALE.md — one
adversarial conversation must not OOM an executor or blow the state
store at 100 TB."""

from __future__ import annotations

import pickle
from datetime import timedelta

import numpy as np
import pandas as pd
import pytest

from cep_spark.batch import _ColStore, advance_core, unary_masks
from cep_spark.compiler import compile_pattern
from cep_spark.pattern import Ev, Kleene, Neg, Pattern, Seq
from cep_spark.stream import _de_tables, _make_multi_fn, _tables_rows

PAT = Pattern(
    Seq(Ev("a", role="user"), Kleene(Ev("k", role="assistant")), Ev("c", role="tool")),
    window=timedelta(seconds=600),
)


def _hot_frame(n_assist=14, reps=1, start="2026-01-01"):
    """One conversation: [user, assistant*n, tool] x reps — the powerset
    Kleene yields ~2^(reps*n_assist) partials while the window is open,
    so keep reps=1 wherever an EXACT baseline run must also finish."""
    roles = (["user"] + ["assistant"] * n_assist + ["tool"]) * reps
    n = len(roles)
    ts0 = pd.Timestamp(start)
    return pd.DataFrame(
        {
            "conv_id": "hot",
            "turn_idx": np.arange(n, dtype=np.int32),
            "role": roles,
            "ts": (ts0 + pd.to_timedelta(np.arange(n) * 5, unit="s")).astype(
                "datetime64[us]"
            ),
        }
    )


def _run_core(cp, g, cap=None, stats=None):
    store = _ColStore(g)
    ts_ns = g["ts"].to_numpy().astype("datetime64[ns]").astype(np.int64)
    masks = unary_masks(cp, store._cols, len(g), 0)
    return advance_core(cp, store, ts_ns, masks, cap=cap, stats=stats)


def _canon(res):
    return sorted((a, tuple(sorted(b.items()))) for a, b in res)


def test_advance_core_cap_bounds_tables_and_counts_drops():
    cp = compile_pattern(PAT)
    g = _hot_frame()
    exact, _ = _run_core(cp, g)
    stats = {}
    capped, tables = _run_core(cp, g, cap=32, stats=stats)
    assert stats["dropped_partials"] > 0
    for alt_tables in tables.values():
        for tbl in alt_tables.values():
            assert len(tbl) <= 32
    ex, ca = _canon(exact), _canon(capped)
    assert set(ca) <= set(ex)
    assert len(ca) < len(ex)
    # deterministic: the same drops happen on a re-run
    stats2 = {}
    capped2, _ = _run_core(cp, g, cap=32, stats=stats2)
    assert _canon(capped2) == ca and stats2 == stats


def test_advance_core_huge_cap_is_exact():
    cp = compile_pattern(PAT)
    g = _hot_frame(n_assist=8)
    exact, _ = _run_core(cp, g)
    stats = {}
    capped, _ = _run_core(cp, g, cap=10**9, stats=stats)
    assert _canon(capped) == _canon(exact)
    assert stats == {}


def test_run_batch_guard_accumulator(spark):
    from cep_spark.batch import run_batch

    cp = compile_pattern(PAT)
    g = _hot_frame()
    df = spark.createDataFrame(g)

    exact = run_batch(df, cp, mode="flat")
    exact_rows = sorted(map(tuple, exact.collect()))

    capped = run_batch(df, cp, mode="flat", max_partials_per_state=32)
    capped_rows = sorted(map(tuple, capped.collect()))
    assert capped.guard_drops is not None
    assert capped.guard_drops.value > 0
    assert set(capped_rows) <= set(exact_rows)
    assert len(capped_rows) < len(exact_rows)

    # large cap: no drops, exact output, accumulator stays 0
    loose = run_batch(df, cp, mode="flat", max_partials_per_state=10**9)
    assert sorted(map(tuple, loose.collect())) == exact_rows
    assert loose.guard_drops.value == 0


def test_run_batch_multi_guard(spark):
    from cep_spark.batch import run_batch_multi

    p2 = Pattern(
        Seq(Ev("a", role="user"), Ev("b", role="tool")),
        window=timedelta(seconds=600),
        pattern_id="p2",
    )
    cps = [compile_pattern(PAT), compile_pattern(p2)]
    df = spark.createDataFrame(_hot_frame())
    out = run_batch_multi(
        df, cps, emit_cols=("turn_idx", "role", "ts"), max_partials_per_state=16
    )
    n = out.count()
    assert n > 0
    assert out.guard_drops.value > 0


class _FakeState:
    def __init__(self):
        self._val = None
        self.exists = False
        self.hasTimedOut = False
        self.wm_ms = 0
        self.timer_ms = None
        self.removed = False

    def getCurrentWatermarkMs(self):
        return self.wm_ms

    @property
    def get(self):
        return self._val

    def update(self, v):
        self._val = tuple(v)
        self.exists = True
        self.removed = False

    def remove(self):
        self._val = None
        self.exists = False
        self.removed = True

    def setTimeoutTimestamp(self, ms):
        self.timer_ms = ms


def _drive(cp, g, cap, n_batches=4):
    fn = _make_multi_fn([cp], mode="flat", cap=cap)
    state = _FakeState()
    out = []
    max_state_rows = 0
    bounds = np.linspace(0, len(g), n_batches + 1).astype(int)
    wm = 0
    for bi in range(n_batches):
        b = g.iloc[bounds[bi] : bounds[bi + 1]]
        state.hasTimedOut = False
        state.wm_ms = wm
        state.timer_ms = None
        out.extend(fn(("hot",), iter([b]), state))
        if len(b):
            wm = max(wm, int(b["ts"].max().value // 1_000_000))
        if state.exists and state._val[2] is not None:
            parts = pickle.loads(state._val[2])
            max_state_rows = max(
                max_state_rows,
                sum(_tables_rows(_de_tables(r)) for r in parts.values()),
            )
    # drain timers
    for _ in range(32):
        if not state.exists or state.timer_ms is None or state.timer_ms > wm + 10**9:
            break
        state.hasTimedOut = True
        state.wm_ms = wm + 10**9
        state.timer_ms = None
        out.extend(fn(("hot",), iter([]), state))
    rows = sorted(
        tuple(
            None if pd.isna(v) else int(v) if isinstance(v, (np.integer, float)) else v
            for v in r
        )
        for pdf in out
        for r in pdf.itertuples(index=False, name=None)
    )
    return rows, max_state_rows


def test_incremental_stream_guard_bounds_state():
    cp = compile_pattern(PAT)
    g = _hot_frame(n_assist=12)
    n_states = sum(len(a.states) for a in cp.alternatives)
    exact_rows, exact_peak = _drive(cp, g, cap=None)
    capped_rows, capped_peak = _drive(cp, g, cap=16)
    assert set(capped_rows) <= set(exact_rows)
    assert capped_peak <= 16 * n_states
    assert capped_peak < exact_peak


def _multi_cps():
    import dataclasses

    pats = [
        dataclasses.replace(PAT, pattern_id="pk"),
        Pattern(
            Seq(Ev("a", role="user"), Ev("b", role="tool"),
                Neg(Ev("n", role="system"))),
            window=timedelta(seconds=600),
            pattern_id="pt",  # trailing neg → per-pattern rematch fallback
        ),
    ]
    return [compile_pattern(p) for p in pats]


def _drive_multi(cps, g, cap, n_batches=4):
    fn = _make_multi_fn(cps, ("turn_idx",), cap=cap)
    state = _FakeState()
    out = []
    max_state_rows = 0
    bounds = np.linspace(0, len(g), n_batches + 1).astype(int)
    wm = 0
    for bi in range(n_batches):
        b = g.iloc[bounds[bi] : bounds[bi + 1]]
        state.hasTimedOut = False
        state.wm_ms = wm
        state.timer_ms = None
        out.extend(fn(("hot",), iter([b]), state))
        if len(b):
            wm = max(wm, int(b["ts"].max().value // 1_000_000))
        if state.exists and state._val[2] is not None:
            parts = pickle.loads(state._val[2])
            max_state_rows = max(
                max_state_rows,
                sum(_tables_rows(_de_tables(r)) for r in parts.values()),
            )
    for _ in range(32):
        if not state.exists or state.timer_ms is None or state.timer_ms > wm + 10**9:
            break
        state.hasTimedOut = True
        state.wm_ms = wm + 10**9
        state.timer_ms = None
        out.extend(fn(("hot",), iter([]), state))
    rows = sorted(
        (r["pattern_id"], int(r["alt_id"]),
         tuple((m["var"], int(m["turn_idx"])) for m in r["matched"]))
        for pdf in out
        for r in pdf.to_dict("records")
    )
    return rows, max_state_rows


def test_multi_incremental_guard_bounds_state():
    cps = _multi_cps()
    g = _hot_frame(n_assist=12)
    exact_rows, exact_peak = _drive_multi(cps, g, cap=None)
    capped_rows, capped_peak = _drive_multi(cps, g, cap=16)
    assert set(capped_rows) <= set(exact_rows)
    assert len(capped_rows) < len(exact_rows)
    n_states = sum(len(a.states) for cp in cps for a in cp.alternatives)
    assert capped_peak <= 16 * n_states
    assert capped_peak < exact_peak
    # the trailing-neg pattern's matches ride the rematch fallback and
    # must still appear (its partial space is tiny — never capped away)
    assert [r for r in capped_rows if r[0] == "pt"] == [
        r for r in exact_rows if r[0] == "pt"
    ]


def test_multi_trailing_neg_parks_instead_of_rematch():
    """The multi-pattern executor handles trailing negations by PARKING
    (single-pattern parity), not by pinning the pattern onto the
    per-batch buffer rematch: mid-stream the parked state field is
    populated while the fallback bitmask stays 0."""
    cps = _multi_cps()
    g = _hot_frame(n_assist=6)
    fn = _make_multi_fn(cps, ("turn_idx",))
    state = _FakeState()
    # batch 1: everything arrives, wm still 0 → all limbo
    list(fn(("hot",), iter([g]), state))
    # batch 2: wm covers all events; every match of the trailing-neg
    # pattern is accepted but its first.ts + 600 s seal is ahead of the
    # watermark → parked, not emitted, not fallen back
    wm = int(g["ts"].max().value // 1_000_000)
    state.hasTimedOut = False
    state.wm_ms = wm
    state.timer_ms = None
    out = list(fn(("hot",), iter([]), state))
    assert not any((pdf["pattern_id"] == "pt").any() for pdf in out)
    assert state.exists
    parked_raw = state._val[3]
    assert parked_raw is not None and pickle.loads(parked_raw)
    assert state._val[6] == 0  # fellback bitmask
    # final watermark past every seal: parked matches emit exactly once
    state.hasTimedOut = True
    state.wm_ms = wm + 700_000
    state.timer_ms = None
    out2 = list(fn(("hot",), iter([]), state))
    n_pt = sum(int((pdf["pattern_id"] == "pt").sum()) for pdf in out2)
    assert n_pt > 0


class _FakeAcc:
    def __init__(self):
        self.value = 0

    def add(self, n):
        self.value += n


def test_incremental_fn_reports_drops_to_accumulator():
    """Round-4 VERDICT #8: the streaming state fn feeds the guard's
    dropped-partial count into the provided accumulator (batch parity),
    not just executor warn-logs."""
    cp = compile_pattern(PAT)
    g = _hot_frame(n_assist=12)
    acc = _FakeAcc()
    fn = _make_multi_fn([cp], mode="flat", cap=16, acc=acc)
    state = _FakeState()
    wm = 0
    bounds = np.linspace(0, len(g), 5).astype(int)
    for bi in range(4):
        b = g.iloc[bounds[bi]:bounds[bi + 1]]
        state.hasTimedOut = False
        state.wm_ms = wm
        state.timer_ms = None
        for _ in fn(("hot",), iter([b]), state):
            pass
        if len(b):
            wm = max(wm, int(b["ts"].max().value // 1_000_000))
    assert acc.value > 0


def test_stream_guard_metrics_listener(spark, tmp_path):
    """End-to-end: a capped streaming query attaches .guard_drops; the
    metrics listener exposes the dropped-partial count per batch and in
    summary() — the operator alerting hook."""
    import time

    from cep_spark.metrics import CepMetricsListener
    from cep_spark.stream import stream_matches

    g = _hot_frame(n_assist=12)
    flush = g.iloc[[0]].copy()
    flush["turn_idx"] = np.int32(999)
    flush["ts"] = (g["ts"].max() + pd.Timedelta(hours=3)).as_unit("us")
    src = tmp_path / "src"
    src.mkdir()
    g.to_parquet(src / "b0.parquet")
    pd.concat([flush], ignore_index=True).astype(g.dtypes.to_dict()).to_parquet(
        src / "b1.parquet"
    )

    cp = compile_pattern(PAT)
    sdf = spark.readStream.schema(spark.createDataFrame(g).schema).parquet(
        str(src)
    )
    out = stream_matches(sdf, cp, watermark="5 seconds", mode="flat",
                         emit_cols=("turn_idx",), max_partials_per_state=16)
    assert out.guard_drops is not None
    listener = CepMetricsListener(guard_drops=out.guard_drops)
    spark.streams.addListener(listener)
    try:
        q = (out.writeStream.format("memory").queryName("guard_metrics")
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(300)
        time.sleep(1)  # listener events are delivered asynchronously
    finally:
        spark.streams.removeListener(listener)
    assert out.guard_drops.value > 0
    assert listener.guard_dropped_partials() == out.guard_drops.value
    assert listener.summary()["guard_dropped_partials"] > 0
