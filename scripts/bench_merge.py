#!/usr/bin/env python
"""Spark-free A/B: merged multi-pattern automaton vs per-pattern runs.

Measures the pure matcher (batch.match_group_nfa) on one key group so
the comparison is free of Spark scheduling noise and host-contamination
effects largely cancel (both sides run back-to-back).

Two workloads:

* prefix-bound — 12 rules over one signup->view->click prelude, each
  with a rare distinct accept: the shared states carry virtually all
  the partial-table work, so sharing approaches the ideal K-fold win.
* emission-bound — 8 rules with dense accepts: output construction
  dominates and is irreducible (every match must be emitted either
  way), so sharing shows only the residual prefix saving.  Reported to
  keep the claim honest; the 100-TB multi-query deployments the merge
  targets (hundreds of selective rules on one stream) look like the
  first workload, not this one.

Prints one JSON line per workload.
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

from cep_spark.batch import match_group_nfa
from cep_spark.compiler import compile_pattern
from cep_spark.conditions import TRUE, attr, lit
from cep_spark.merge import merge_compiled
from cep_spark.pattern import Ev, Pattern, Seq

N_EVENTS = int(os.environ.get("BENCH_MERGE_N", "4000"))


def _events(n: int) -> pd.DataFrame:
    rng = np.random.default_rng(11)
    df = pd.DataFrame(
        {
            "user_id": np.ones(n, dtype=np.int64),
            "event_id": np.arange(n, dtype=np.int64),
            "ts": pd.to_datetime("2026-01-01")
            + pd.to_timedelta(np.cumsum(rng.integers(5, 120, n)), unit="s"),
            "event_type": rng.choice(
                ["signup", "view", "click", "purchase", "error", "ship"],
                n, p=[0.1, 0.3, 0.3, 0.1, 0.1, 0.1],
            ),
            "value": rng.random(n) * 200,
        }
    )
    return df.sort_values(["ts", "event_id"]).reset_index(drop=True)


def _pat(struct, where=None, pid="0", win=timedelta(hours=1)):
    return Pattern(
        struct,
        where=where if where is not None else TRUE,
        window=win,
        key="user_id",
        ts_col="ts",
        tiebreak_col="event_id",
        pattern_id=pid,
    )


def _prefix_bound() -> list:
    pats = []
    for i in range(12):
        thr = 185 + i
        pats.append(
            _pat(
                Seq(
                    Ev("a", event_type="signup"),
                    Ev("b", event_type="view"),
                    Ev("c", event_type="click"),
                    Ev("d", where=(attr("d", "event_type") == lit("error"))
                       & (attr("d", "value") > lit(float(thr)))),
                ),
                where=attr("c", "value") > attr("b", "value"),
                pid=str(i),
            )
        )
    return pats


def _mixed_window() -> list:
    """The prefix-bound family with a 16x spread of per-rule windows
    (round 4: sharing no longer requires identical windows — the merge
    runs under the max window with per-tag span re-checks).  Match
    counts are asserted equal to per-pattern execution, where each rule
    prunes at its own window."""
    wins = [timedelta(minutes=m) for m in (4, 8, 15, 30, 60, 64)]
    pats = []
    for i in range(12):
        thr = 185 + i
        pats.append(
            _pat(
                Seq(
                    Ev("a", event_type="signup"),
                    Ev("b", event_type="view"),
                    Ev("c", event_type="click"),
                    Ev("d", where=(attr("d", "event_type") == lit("error"))
                       & (attr("d", "value") > lit(float(thr)))),
                ),
                where=attr("c", "value") > attr("b", "value"),
                pid=str(i),
                win=wins[i % len(wins)],
            )
        )
    return pats


def _emission_bound() -> list:
    pats = []
    for i, s3 in enumerate(["click", "purchase", "error", "ship"]):
        pats.append(
            _pat(Seq(Ev("a", event_type="signup"), Ev("b", event_type="view"),
                     Ev("c", event_type=s3)), pid=str(i))
        )
        pats.append(
            _pat(Seq(Ev("a", event_type="signup"), Ev("b", event_type="view"),
                     Ev("c", event_type=s3)),
                 where=attr("c", "value") > attr("a", "value"), pid=str(4 + i))
        )
    return pats


def run(name: str, pats: list, df: pd.DataFrame) -> None:
    cps = [compile_pattern(p) for p in pats]
    merged = merge_compiled(cps)
    # warm-up (numpy/jit-free, but primes allocators and caches)
    _ = [match_group_nfa(cp, df) for cp in cps]
    _ = match_group_nfa(merged, df)

    t = time.perf_counter()
    res_pp = [match_group_nfa(cp, df) for cp in cps]
    t_pp = time.perf_counter() - t
    t = time.perf_counter()
    res_m = match_group_nfa(merged, df)
    t_m = time.perf_counter() - t

    n_pp = sum(len(r) for r in res_pp)
    assert n_pp == len(res_m), (n_pp, len(res_m))
    print(
        json.dumps(
            {
                "workload": name,
                "patterns": len(pats),
                "events": len(df),
                "orig_states": sum(
                    len(a.states) for cp in cps for a in cp.alternatives
                ),
                "merged_states": len(merged.alternatives[0].states),
                "matches": n_pp,
                "per_pattern_sec": round(t_pp, 3),
                "merged_sec": round(t_m, 3),
                "speedup": round(t_pp / t_m, 2),
            }
        )
    )


class _FakeState:
    """Minimal pyspark GroupState stand-in (mirrors the test harness)."""

    def __init__(self):
        self._val, self.exists = None, False
        self.hasTimedOut, self.removed = False, False
        self.wm_ms, self.timer_ms = 0, None

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


def run_stream(name: str, pats: list, df: pd.DataFrame, n_batches=20) -> None:
    """Streaming state-fn A/B: one singleton unit per pattern vs one
    whole-family merged unit (merged tables in the state store), passed
    as explicit unit lists; identical watermark schedule, identical
    emissions asserted."""
    from cep_spark.stream import _make_multi_fn

    cps = [compile_pattern(p) for p in pats]
    bounds = np.linspace(0, len(df), n_batches + 1).astype(int)
    batches = [df.iloc[bounds[i]:bounds[i + 1]] for i in range(n_batches)]

    def drive(units):
        fn = _make_multi_fn(cps, ("event_id",), units=units)
        state = _FakeState()
        wm = 0
        n_rows = 0
        t0 = time.perf_counter()
        for b in batches:
            state.hasTimedOut = False
            state.wm_ms = wm
            for pdf in fn(("k",), iter([b]), state):
                n_rows += len(pdf)
            if len(b):
                wm = max(wm, int(b["ts"].max().value // 1_000_000))
        return time.perf_counter() - t0, n_rows

    per_pattern = [(cp, [i]) for i, cp in enumerate(cps)]
    drive(per_pattern)  # warm
    t_pp, n_pp = drive(per_pattern)
    t_m, n_m = drive([(merge_compiled(cps), list(range(len(cps))))])
    assert n_pp == n_m, (n_pp, n_m)
    print(
        json.dumps(
            {
                "workload": name,
                "patterns": len(pats),
                "events": len(df),
                "batches": n_batches,
                "matches": n_pp,
                "per_pattern_sec": round(t_pp, 3),
                "merged_sec": round(t_m, 3),
                "speedup": round(t_pp / t_m, 2),
            }
        )
    )


def main() -> None:
    df = _events(N_EVENTS)
    run("prefix_bound", _prefix_bound(), df)
    run("mixed_window", _mixed_window(), df)
    run("emission_bound", _emission_bound(), df)
    run_stream("stream_prefix_bound", _prefix_bound(), df)
    run_stream("stream_mixed_window", _mixed_window(), df)


if __name__ == "__main__":
    main()
