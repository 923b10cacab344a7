#!/usr/bin/env python
"""Executor A/B microbench: the streaming state function's incremental
advance vs its rematch path (``_make_multi_fn([cp])`` vs
``force_rematch=True``), driven directly (fake GroupState, no Spark
query) over one hot conversation whose window spans many micro-batches
— the regime the incremental advance targets (matcher work O(new) vs
O(buffer) per batch).

Spark-free on purpose: per-batch fixed costs (JVM, shuffle, state-store
IPC) are identical between the two paths, so the matcher-side
difference measured here is the true algorithmic delta, and the ratio
is robust to host contention (both sides run seconds apart in one
process).

Prints one JSON line:
  {"metric": "stream_fn_ab", "turns": N, "batches": B,
   "rematch_sec": x, "incremental_sec": y, "speedup": x/y,
   "matches_equal": true, "cpu_health_mips": h}
"""

from __future__ import annotations

import json
import os
import sys
import time
from datetime import timedelta

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cep_spark.compiler import compile_pattern
from cep_spark.pattern import Ev, Pattern, Seq
from cep_spark.stream import _make_multi_fn

N_TURNS = int(os.environ.get("AB_TURNS", "40000"))
N_BATCHES = int(os.environ.get("AB_BATCHES", "200"))
GAP_S = 2.0  # hot conversation: one turn every 2s
WINDOW = timedelta(hours=2)  # window (3600 turns) spans ~18 batches of 200


class FakeState:
    def __init__(self):
        self._val, self.exists, self.hasTimedOut = None, False, False
        self.wm_ms, self.timer_ms, self.removed = 0, None, False

    def getCurrentWatermarkMs(self):
        return self.wm_ms

    @property
    def get(self):
        return self._val

    def update(self, v):
        self._val, self.exists, self.removed = tuple(v), True, False

    def remove(self):
        self._val, self.exists, self.removed = None, False, True

    def setTimeoutTimestamp(self, ms):
        self.timer_ms = ms


def gen_hot_conv(n):
    rng = np.random.default_rng(7)
    ts0 = pd.Timestamp("2026-01-01")
    return pd.DataFrame(
        {
            "conv_id": "hot",
            "turn_idx": np.arange(n, dtype=np.int32),
            "role": rng.choice(["user", "assistant", "tool"], n, p=[0.45, 0.45, 0.10]),
            "ts": (ts0 + pd.to_timedelta(np.arange(n) * GAP_S, unit="s")).astype("datetime64[us]"),
            "value": rng.uniform(0, 100, n).round(2),
        }
    )


def drive(fn, batches, final_wm_ms):
    state = FakeState()
    total = 0
    wm = 0
    seen = 0
    for b in batches:
        state.hasTimedOut, state.wm_ms, state.timer_ms = False, wm, None
        for pdf in fn(("hot",), iter([b]), state):
            total += len(pdf)
        seen = max(seen, int(b["ts"].max().value // 1_000_000))
        wm = seen
    wm = final_wm_ms
    for _ in range(256):
        if not state.exists or state.timer_ms is None or state.timer_ms > wm:
            break
        state.hasTimedOut, state.wm_ms, state.timer_ms = True, wm, None
        for pdf in fn(("hot",), iter([]), state):
            total += len(pdf)
    return total


def cpu_health_mips(seconds=1.0):
    t0 = time.perf_counter()
    x = 0
    while time.perf_counter() - t0 < seconds:
        x += 1
    return round(x / seconds / 1e6, 2)


def run_ab(workload: str, pat: Pattern, g, batches, final_wm):
    cp = compile_pattern(pat)

    health_before = cpu_health_mips()
    results = {}
    # second pass of each to damp noise; min is reported
    for name, rematch in [("rematch", True), ("incremental", False),
                          ("rematch2", True), ("incremental2", False)]:
        fn = _make_multi_fn([cp], mode="flat", force_rematch=rematch)
        t0 = time.perf_counter()
        n = drive(fn, batches, final_wm)
        results[name] = (time.perf_counter() - t0, n)

    re_sec = min(results["rematch"][0], results["rematch2"][0])
    inc_sec = min(results["incremental"][0], results["incremental2"][0])
    equal = (results["rematch"][1] == results["incremental"][1]
             == results["rematch2"][1] == results["incremental2"][1])
    print(json.dumps({
        "metric": "stream_fn_ab",
        "workload": workload,
        "turns": len(g),
        "batches": len(batches),
        "window_min": WINDOW.total_seconds() / 60,
        "matches": results["incremental"][1],
        "rematch_sec": round(re_sec, 3),
        "incremental_sec": round(inc_sec, 3),
        "speedup": round(re_sec / inc_sec, 2),
        "matches_equal": equal,
        "cpu_health_mips_before": health_before,
        "cpu_health_mips_after": cpu_health_mips(),
    }))


def main():
    # rare-anchor + dense-follower shape: partial set stays tiny (one
    # partial per live anchor, ~20 total) and the match count is bounded
    # (anchors x followers-in-window ~ 36k), but the RELEVANT buffer is
    # deep (~50% of turns x 2h = 1800 rows across ~18 micro-batches) —
    # the regime where rematch pays O(buffer) per batch and the
    # incremental executor pays O(new events)
    from cep_spark.conditions import attr, lit
    from cep_spark.pattern import Neg

    g = gen_hot_conv(N_TURNS)
    bounds = [i * N_TURNS // N_BATCHES for i in range(N_BATCHES)] + [N_TURNS]
    batches = [g.iloc[bounds[i]:bounds[i + 1]] for i in range(N_BATCHES)]
    w_ns = int(WINDOW.total_seconds() * 1e9)
    final_wm = int(g["ts"].max().value // 1_000_000) + w_ns // 1_000_000 + 1000

    rare_u = (attr("u", "role") == lit("user")) & (attr("u", "value") > lit(99.8))
    run_ab(
        "seq2",
        Pattern(
            Seq(Ev("u", where=rare_u), Ev("b", where=attr("b", "value") > lit(50.0))),
            window=WINDOW, key="conv_id", ts_col="ts", tiebreak_col="turn_idx",
        ),
        g, batches, final_wm,
    )
    # trailing negation (round-3): before parking, trailing negs forced
    # the rematch executor — O(buffer) matcher per batch on a hot key.
    # The parked-match design re-verifies pending matches against only
    # freshly-sealed neg candidates, restoring O(new) per batch.
    run_ab(
        "seq2_trailing_neg",
        Pattern(
            Seq(Ev("u", where=rare_u), Ev("b", where=attr("b", "value") > lit(50.0)),
                Neg(Ev("n", where=(attr("n", "role") == lit("tool"))
                                  & (attr("n", "value") > lit(99.0))))),
            window=WINDOW, key="conv_id", ts_col="ts", tiebreak_col="turn_idx",
        ),
        g, batches, final_wm,
    )


if __name__ == "__main__":
    main()
