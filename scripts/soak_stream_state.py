#!/usr/bin/env python
"""Streaming state-plateau soak: drive the incremental executor over a
LONG stream (hundreds of micro-batches) and show the per-key state
footprint PLATEAUS instead of growing with stream length — the
property that makes the 10^12-turn deployment's state store O(keys ×
window density), not O(history).

Contamination-robust by construction: every reported number is a COUNT
(state rows, buffer rows, partial-table rows, emitted matches), not a
wall-clock measurement, so host steal cannot distort the result.

Drives `_make_multi_fn` directly against the fake GroupState (same
code path the Spark worker runs; the real-Spark parity of that harness
is pinned by tests/test_merge.py + tests/test_stream.py).  Prints one
JSON line.
"""

from __future__ import annotations

import json
import os
import sys
from datetime import timedelta

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests"))

from cep_spark.compiler import compile_pattern
from cep_spark.conditions import attr
from cep_spark.pattern import Ev, Kleene, Neg, Pattern, Seq
from cep_spark.stream import (
    _de_tables,
    _dec_cols,
    _make_multi_fn,
    _nrows,
    _tables_rows,
)

# the SAME fake GroupState the parity tests pin against real Spark —
# one implementation, no drift (round-4 review finding)
from test_stream_fn_property import FakeState  # noqa: E402

N_BATCHES = int(os.environ.get("SOAK_BATCHES", "400"))
EVENTS_PER_BATCH = int(os.environ.get("SOAK_EVENTS_PER_BATCH", "40"))
ROLES = ["user", "assistant", "tool"]


def _state_rows(state) -> int:
    """Rows held in the state's sealed buffer plus its limbo."""
    return _nrows(_dec_cols(state._val[0])) + _nrows(_dec_cols(state._val[1]))


def main() -> None:
    # a representative mixed rule family on ONE endless conversation
    # (the worst case for state growth): funnel, trailing neg (parks),
    # unbounded group Kleene with an inner Neg — mixed windows
    pats = [
        Pattern(Seq(Ev("a", role="user"), Ev("b", role="assistant"),
                    Ev("c", role="tool")),
                window=timedelta(seconds=90), pattern_id="funnel"),
        Pattern(Seq(Ev("a", role="user"), Ev("b", role="assistant"),
                    Neg(Ev("n", role="tool"))),
                window=timedelta(seconds=60), pattern_id="tneg"),
        Pattern(Seq(Kleene(Seq(Ev("u", role="user"),
                               Neg(Ev("n", role="tool")),
                               Ev("w", role="assistant"))),
                    Ev("t", role="tool")),
                where=attr("w", "value") > attr("u", "value"),
                window=timedelta(seconds=120), pattern_id="groupneg"),
    ]
    cps = [compile_pattern(p) for p in pats]
    fn = _make_multi_fn(cps, ("turn_idx",))  # the merge.plan_units plan

    rng = np.random.default_rng(2026)
    state = FakeState()
    ts0 = pd.Timestamp("2026-01-01")
    t_cursor = 0  # seconds
    turn = 0
    wm = 0
    emitted = 0
    buf_series, part_series = [], []
    for bi in range(N_BATCHES):
        n = EVENTS_PER_BATCH
        gaps = rng.integers(1, 6, n)
        t = t_cursor + np.cumsum(gaps)
        t_cursor = int(t[-1])
        b = pd.DataFrame(
            {
                "conv_id": "hot",
                "turn_idx": np.arange(turn, turn + n, dtype=np.int32),
                "role": rng.choice(ROLES, n),
                "tool": rng.choice(["python", "sql"], n),
                "ts": ts0 + pd.to_timedelta(t, unit="s"),
                "value": rng.uniform(0, 100, n).round(1),
            }
        )
        turn += n
        state.hasTimedOut = False
        state.wm_ms = wm
        state.timer_ms = None
        for pdf in fn(("hot",), iter([b]), state):
            emitted += len(pdf)
        wm = int(b["ts"].max().value // 1_000_000)
        if state.exists:
            import pickle

            parts = pickle.loads(state._val[2]) if state._val[2] else {}
            prow = sum(
                _tables_rows(_de_tables(raw))
                for k, raw in parts.items() if isinstance(raw, (bytes, bytearray))
            )
            buf_series.append(_state_rows(state))
            part_series.append(prow)

    half = len(buf_series) // 2
    out = {
        "metric": "stream_state_plateau",
        "batches": N_BATCHES,
        "events": turn,
        "patterns": len(cps),
        "matches_emitted": emitted,
        "buffer_rows_max": int(max(buf_series)),
        "buffer_rows_mean_first_half": round(float(np.mean(buf_series[:half])), 1),
        "buffer_rows_mean_second_half": round(float(np.mean(buf_series[half:])), 1),
        "partial_rows_max": int(max(part_series)),
        "partial_rows_mean_first_half": round(float(np.mean(part_series[:half])), 1),
        "partial_rows_mean_second_half": round(float(np.mean(part_series[half:])), 1),
        # plateau check: second-half means within 25% of first-half
        "state_plateaued": bool(
            np.mean(buf_series[half:]) <= 1.25 * np.mean(buf_series[:half])
            and np.mean(part_series[half:]) <= 1.25 * np.mean(part_series[:half])
        ),
    }
    print(json.dumps(out))


def _drive(cps, units, n_batches, events_per_batch, seed=2026):
    """Run one unit plan over the SAME generated stream; return
    (matches_emitted, buffer-rows series, partial-rows series, the
    1-based batch after which a unit's rematch-fallback bit was first
    set or None, the final fallback bitmask over ``units``).  A unit
    that falls back persists no partial tables, so its partial-rows
    series says nothing about its state size."""
    import pickle

    fn = _make_multi_fn(cps, ("turn_idx",), units=units)
    rng = np.random.default_rng(seed)
    state = FakeState()
    ts0 = pd.Timestamp("2026-01-01")
    t_cursor = turn = wm = emitted = 0
    buf_series, part_series, fellback_at = [], [], None
    for bi in range(n_batches):
        n = events_per_batch
        # sparser than the plateau soak: the A/B's long window must hold
        # a bounded event count or the unbucketed variant's quadratic
        # shared-prefix tables dominate wall time, not the comparison
        gaps = rng.integers(5, 30, n)
        t = t_cursor + np.cumsum(gaps)
        t_cursor = int(t[-1])
        b = pd.DataFrame({
            "conv_id": "hot",
            "turn_idx": np.arange(turn, turn + n, dtype=np.int32),
            "role": rng.choice(ROLES, n),
            "tool": rng.choice(["python", "sql"], n),
            "ts": ts0 + pd.to_timedelta(t, unit="s"),
            "value": rng.uniform(0, 100, n).round(1),
        })
        turn += n
        state.hasTimedOut = False
        state.wm_ms = wm
        state.timer_ms = None
        for pdf in fn(("hot",), iter([b]), state):
            emitted += len(pdf)
        wm = int(b["ts"].max().value // 1_000_000)
        if state.exists:
            parts = pickle.loads(state._val[2]) if state._val[2] else {}
            part_series.append(sum(
                _tables_rows(_de_tables(raw))
                for _k, raw in parts.items()
                if isinstance(raw, (bytes, bytearray))
            ))
            buf_series.append(_state_rows(state))
            if fellback_at is None and state._val[6]:
                fellback_at = bi + 1
    return emitted, buf_series, part_series, fellback_at, state._val[6]


def ab_mixed_windows() -> None:
    """Shared-vs-per-pattern STATE-SIZE A/B on a wide window spread
    (round-4 verdict #4): 45s rules merged with a 900s rule (20x),
    each plan passed as an explicit unit list.  Unbucketed sharing
    (one whole-family merged unit) retains the short rules'
    shared-prefix partials to W_max; merge.plan_units' 16x window
    bucketing splits them into two units and caps the inflation.
    Counts only — host-steal-proof.  A variant whose unit fell back to
    rematch reports the batch it did so (``fellback_at_batch``) and no
    inflation ratio."""
    from cep_spark.merge import merge_compiled, plan_units

    a = Ev("a", role="user")
    b = Ev("b", role="assistant")
    mk = lambda struct, pid, secs: Pattern(
        struct, window=timedelta(seconds=secs), pattern_id=pid)
    pats = [
        mk(Seq(a, b, Ev("c", role="tool")), "short_fun", 45),
        mk(Seq(a, b, Ev("d", role="user")), "short_up", 45),
        mk(Seq(a, b, Ev("e", role="tool")), "long_fun", 900),
    ]
    cps = [compile_pattern(p) for p in pats]
    variants = {
        "shared_unbucketed": [(merge_compiled(cps), list(range(len(cps))))],
        "shared_bucketed16": plan_units(cps),
        "per_pattern": [(cp, [i]) for i, cp in enumerate(cps)],
    }
    out = {"metric": "mixed_window_state_ab",
           "batches": N_BATCHES, "events_per_batch": EVENTS_PER_BATCH,
           "window_spread": "45s/45s/900s (20x)"}
    baseline = None
    for name, units in variants.items():
        emitted, _bufs, parts, fellback_at, mask = _drive(
            cps, units, N_BATCHES, EVENTS_PER_BATCH)
        if baseline is None:
            baseline = emitted
        assert emitted == baseline, (name, emitted, baseline)
        out[name] = {
            "units": len(units),
            "partial_rows_max": int(max(parts)),
            "partial_rows_mean": round(float(np.mean(parts)), 1),
            "fellback_at_batch": fellback_at,
            "fellback_patterns": [
                pats[i].pattern_id for ui, (_ucp, idxs) in enumerate(units)
                if mask >> ui & 1 for i in idxs],
        }
    out["matches_emitted_all_equal"] = baseline
    per = out["per_pattern"]
    for name, tag in (("shared_unbucketed", "unbucketed"),
                      ("shared_bucketed16", "bucketed")):
        if out[name]["fellback_at_batch"] is None and per["fellback_at_batch"] is None:
            out[f"inflation_{tag}_vs_perpat"] = round(
                out[name]["partial_rows_mean"]
                / max(per["partial_rows_mean"], 1e-9), 2)
    print(json.dumps(out))


if __name__ == "__main__":
    if os.environ.get("SOAK_MODE") == "ab" or "--ab" in sys.argv:
        ab_mixed_windows()
    else:
        main()
