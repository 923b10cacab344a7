"""Per-call cost of the streaming state function, without Spark.

Replays perfbench ``stream-open``'s input and flagship pattern
(Seq(user, assistant, tool) per conversation within 10 minutes) through
``stream._make_multi_fn`` against the fake GroupState of the property
tests, with Spark's call pattern at watermark delay 0: each tick of
2,000 ts-sorted rows is a data batch (one call per key with rows, at
the watermark of the previous tick) and then a no-data batch (one
timed-out call per key whose timer the advanced watermark reached).
Prints one JSON line:

    python scripts/probe_stream_state_fn.py --seed 903 --ticks 4

``us_per_call`` is the mean wall time of one call (the generator run
to exhaustion) per batch kind and over all calls; ``calls`` counts the
calls per kind; ``output_hash`` is a hash of the emitted row multiset,
so two builds that agree on it emitted the same matches.  Inputs are
built before timing starts; only the state function is timed.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys
import time
from datetime import timedelta

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "tests"))

PER_TICK = 2000  # perfbench stream-open's tick size
GEOM_P = 0.03  # and its conversation-length parameter


def _flagship():
    from cep_spark.pattern import Ev, Pattern, Seq

    return Pattern(Seq(Ev("u", role="user"), Ev("a", role="assistant"), Ev("t", role="tool")),
                   window=timedelta(minutes=10), key="conv_id", ts_col="ts",
                   tiebreak_col="turn_idx")


def _canon(v):
    if v is None or v != v:  # None / NaN
        return None
    return int(v) if not isinstance(v, str) else v


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=903)
    ap.add_argument("--ticks", type=int, default=4)
    args = ap.parse_args(argv)

    from test_stream_fn_property import FakeState

    from cep_spark.compiler import compile_pattern
    from cep_spark.stream import _make_multi_fn
    from cep_spark.transcripts import gen_transcripts

    need = PER_TICK * args.ticks
    pdf = (gen_transcripts(n_conv=max(1000, int(2 * need * GEOM_P)), seed=args.seed,
                           geom_p=GEOM_P)
           .sort_values(["ts", "conv_id", "turn_idx"], kind="stable")
           .reset_index(drop=True).iloc[:need])
    # what the query's prefilter keeps, with ts as a Spark TimestampType
    # column reaches pandas (datetime64[ns])
    pdf = pdf[["conv_id", "turn_idx", "role", "ts"]].astype({"ts": "datetime64[ns]"})
    ticks = []
    for k in range(args.ticks):
        tick = pdf.iloc[k * PER_TICK:(k + 1) * PER_TICK]
        groups = [(key, g.reset_index(drop=True)) for key, g in tick.groupby("conv_id", sort=True)]
        ticks.append((groups, int(tick["ts"].max().value // 1_000_000)))

    fn = _make_multi_fn([compile_pattern(_flagship())], mode="flat")
    states: dict = {}
    spent = {"data": 0.0, "timer": 0.0}
    calls = {"data": 0, "timer": 0}
    rows = []

    def call(kind, key, chunks, wm_ms, timed_out):
        st = states.get(key)
        if st is None:
            st = states[key] = FakeState()
        st.wm_ms, st.hasTimedOut, st.timer_ms = wm_ms, timed_out, None
        t = time.perf_counter()
        out = list(fn((key,), iter(chunks), st))
        spent[kind] += time.perf_counter() - t
        calls[kind] += 1
        for o in out:
            rows.extend(tuple(_canon(v) for v in r) for r in o.itertuples(index=False, name=None))
        if not st.exists:
            del states[key]

    wm = 0
    for groups, tick_max_ms in ticks:
        for key, g in groups:
            call("data", key, [g], wm, False)
        wm = max(wm, tick_max_ms)  # Spark: the watermark moves after the batch
        due = [k for k, st in states.items() if st.timer_ms is not None and st.timer_ms <= wm]
        for key in sorted(due):
            call("timer", key, [], wm, True)

    n_calls = calls["data"] + calls["timer"]
    digest = hashlib.sha256(repr(sorted(rows, key=repr)).encode()).hexdigest()[:16]
    print(json.dumps({
        "seed": args.seed, "ticks": args.ticks, "rows_in": len(pdf),
        "calls": calls, "matches": len(rows),
        "us_per_call": {
            "data": round(1e6 * spent["data"] / max(calls["data"], 1), 1),
            "timer": round(1e6 * spent["timer"] / max(calls["timer"], 1), 1),
            "all": round(1e6 * (spent["data"] + spent["timer"]) / max(n_calls, 1), 1),
        },
        "output_hash": digest,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
