"""stream-open: an open loop.  One publisher thread feeds a ts-sorted
transcript stream through ``sources.PushStream`` on a fixed wall-clock
schedule that never waits for the query; ``stream.run_stream`` runs the
flagship pattern with the default trigger and writes through
``sink.ExactlyOnceParquetSink``.

Each tick costs the query about the same whatever its size (a data
micro-batch and the no-data batch that advances the watermark, both
dominated by fixed per-batch cost), so ticks are large and far apart:
the offered rate is about half the drain throughput at this tick size,
and the query idles between ticks.  ``rows_per_s`` is a tick's rows over
the median busy time per measured tick (the batches that started while
it was the newest tick), so it follows the per-batch cost and one slow
batch does not move it.  A run whose query is busy for nearly all of
the measured period, or falls a tick behind, is at capacity and fails.

An operation is one published tick.  A match's emission latency runs
from the scheduled publish time of the tick that carried its last event
to the commit time of the micro-batch that emitted it; matches that only
the closing flush row can seal are left out.  The committed output is
compared with the DuckDB oracle over every published row.
"""

from __future__ import annotations

import bisect
import json
import os
import shutil
import statistics
import threading
import time
from collections import defaultdict
from datetime import datetime, timedelta

import numpy as np
import pandas as pd

import layers
from harness import Outcome, canon_rows, fmt_pct, grouped, same_multiset, summary, tail, timed

# On a 4-CPU host (local[2]) one tick costs the query 2-3.5 s of batches
# (a data batch and a no-data batch of 1-2 s each, nearly flat from 50
# to 3,200 rows) as the host's speed moves: a drain throughput of
# 570-1,000 rows/s at 2,000-row ticks, so ticks 6.5 s apart keep the
# busy ratio near 0.3-0.55.
TICK_S = 6.5
PER_TICK = 2000
RATE = PER_TICK / TICK_S  # offered events/s, about half the drain throughput
# ticks published one by one during warm-up: the first batches run slower
WARMUP_TICKS = 1
# when the measured period ends, at most this many ticks may wait or be in flight
BACKLOG_TICKS = 1
# busy share of the measured period above which the query is at capacity
MAX_BUSY = 0.9
GEOM_P = 0.03
START_TIMEOUT_S = 120.0


def flagship():
    """Seq(user, assistant, tool) per conversation within 10 minutes."""
    from cep_spark.pattern import Ev, Pattern, Seq

    return Pattern(Seq(Ev("u", role="user"), Ev("a", role="assistant"), Ev("t", role="tool")),
                   window=timedelta(minutes=10), key="conv_id", ts_col="ts",
                   tiebreak_col="turn_idx")


class Publisher(threading.Thread):
    """Publishes ``per_tick`` rows every ``TICK_S`` seconds from ``t0``,
    whatever the query is doing, and records how late each tick ran."""

    def __init__(self, push, rows, per_tick, n_ticks, t0):
        super().__init__(name="perfbench-publisher", daemon=True)
        self.push, self.rows, self.per_tick, self.n_ticks, self.t0 = push, rows, per_tick, n_ticks, t0
        self.due, self.late, self.flush_s, self.errors = [], [], [], {}

    def run(self):
        for k in range(self.n_ticks):
            due = self.t0 + k * TICK_S
            wait = due - time.time()
            if wait > 0:
                time.sleep(wait)
            self.due.append(due)
            self.late.append(time.time() - due)
            rows = self.rows.iloc[k * self.per_tick:(k + 1) * self.per_tick]
            t = time.perf_counter()
            try:
                self.push.add_items(rows)
                self.push.flush()
            except Exception as e:  # a failed tick is counted, publishing goes on
                self.errors[k] = f"tick {k}: {type(e).__name__}: {e}"
            self.flush_s.append(time.perf_counter() - t)


def _progress(query) -> list:
    """The query's progress reports (``StreamingQueryProgress`` data)."""
    return [json.loads(p.json) for p in query.recentProgress]


def _taken(query) -> int:
    return sum(p["numInputRows"] for p in _progress(query))


def _span(p) -> tuple:
    """(start, end) unix time of a progress report's micro-batch."""
    start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
    return start, start + p["durationMs"]["triggerExecution"] / 1e3


def _idle(query) -> bool:
    """No micro-batch runs now, nor 0.3 s later, and none ran in between."""
    if query.status["isTriggerActive"]:
        return False
    n = len(query.recentProgress)
    time.sleep(0.3)
    return not query.status["isTriggerActive"] and len(query.recentProgress) == n


def _committed(sink):
    """(batch id, commit unix time, columns, rows) of every committed batch."""
    import pyarrow.parquet as pq

    out = []
    for b in sink.committed_batches():
        with open(sink._manifest_path(b)) as f:
            man = json.load(f)
        d = os.path.join(sink.data_dir, f"batch_id={b}")
        for fn in man["files"]:
            t = pq.read_table(os.path.join(d, fn))
            out.append((b, man["committed_at_unix"], t.column_names,
                        [tuple(r.values()) for r in t.to_pylist()]))
    return out


def _wait(cond, timeout_s: float) -> bool:
    deadline = time.time() + timeout_s
    while not cond():
        if time.time() > deadline:
            return False
        time.sleep(0.05)
    return True


def run(ctx) -> dict:
    import duckdb

    from cep_spark.join_planner import oracle_sql_for
    from cep_spark.sink import ExactlyOnceParquetSink
    from cep_spark.sources import PushStream
    from cep_spark.stream import run_stream
    from cep_spark.transcripts import gen_transcripts

    tr = ctx.tracer
    per_tick = PER_TICK
    n_ticks = max(1, int(ctx.seconds / TICK_S))
    n_warm_rows = per_tick * WARMUP_TICKS
    need = n_warm_rows + per_tick * n_ticks
    root = os.path.join(ctx.work, "stream")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)

    # set-up ends when the query has started; waits that depend on
    # trigger timing are the warm-up, reported on their own
    ctx.speed.sample(5)
    t_setup = time.perf_counter()
    with tr.span("session.get_spark"):
        spark, session_s = timed(ctx.start_session)
    query = None
    try:
        with tr.span("transcripts.gen_and_stage"):
            t = time.perf_counter()
            n_conv = max(1000, int(2 * need * GEOM_P))
            pdf = (gen_transcripts(n_conv=n_conv, seed=ctx.seed, geom_p=GEOM_P)
                   .sort_values(["ts", "conv_id", "turn_idx"], kind="stable")
                   .reset_index(drop=True).iloc[:need])
            push = PushStream(os.path.join(root, "feed"), schema_like=pdf)
            gen_s = time.perf_counter() - t
        with tr.span("compiler.compile_pattern"):
            (cp,), compile_ms, slots = layers.compile_all([flagship()])
        sink = ExactlyOnceParquetSink(os.path.join(root, "out"))
        write_s = []

        def write_batch(df, batch_id):
            t = time.perf_counter()
            sink.write(df, batch_id)
            write_s.append(time.perf_counter() - t)

        with tr.span("stream.start"):
            query = (run_stream(spark, push.feed_dir, cp, watermark="0 seconds",
                                max_files_per_trigger=None)
                     .writeStream.foreachBatch(write_batch).outputMode("append")
                     .option("checkpointLocation", os.path.join(root, "ckpt")).start())
        setup_s = time.perf_counter() - t_setup

        with tr.span("stream.warmup"):
            t = time.perf_counter()
            if not _wait(lambda: query.recentProgress, START_TIMEOUT_S):
                raise RuntimeError(f"stream did not start: {query.exception()}")
            for k in range(WARMUP_TICKS):
                push.add_items(pdf.iloc[k * per_tick:(k + 1) * per_tick])
                push.flush()
                if not _wait(lambda: _taken(query) >= (k + 1) * per_tick and _idle(query),
                             START_TIMEOUT_S):
                    raise RuntimeError(f"stream did not take warm-up tick {k}: "
                                       f"{query.exception()}")
            warmup_s = time.perf_counter() - t
        n_warm = len(_progress(query))

        pub = Publisher(push, pdf.iloc[n_warm_rows:], per_tick, n_ticks, time.time() + 0.5)
        t_end = pub.t0 + n_ticks * TICK_S
        with tr.span("sources.publish"):
            pub.start()
            # host-speed probes while no micro-batch runs
            while time.time() < t_end or (pub.is_alive() and time.time() < t_end + 60):
                if not query.status["isTriggerActive"]:
                    ctx.speed.sample()
                time.sleep(0.1)
            if pub.is_alive():
                raise RuntimeError("publisher did not finish")
        # rows that no finished batch has taken when the measured period ends
        backlog = need - _taken(query)
        _wait(lambda: _idle(query), START_TIMEOUT_S)
        prog = _progress(query)[n_warm:]
        flush_row = pdf.iloc[-1].to_dict()
        flush_row.update(conv_id="zzzz_flush", turn_idx=0, role="user",
                         ts=pdf["ts"].max() + pd.Timedelta(days=30))
        with tr.span("stream.drain"):
            push.close(flush_row)
            query.processAllAvailable()
        query.stop()
        query = None
        rss = ctx.peak_rss(spark)
    finally:
        if query is not None:
            query.stop()
        spark.stop()

    # which tick carried each row (warm-up ticks are negative)
    tick_of = {(c, int(t)): i // per_tick - WARMUP_TICKS for i, (c, t) in
               enumerate(zip(pdf["conv_id"], pdf["turn_idx"]))}
    ts_of = {(c, int(t)): v for c, t, v in zip(pdf["conv_id"], pdf["turn_idx"], pdf["ts"])}
    seal_limit = pdf["ts"].max().floor("ms")

    def last_event(row, cols):
        conv = row[cols.index("conv_id")]
        return conv, max(row[i] for i, c in enumerate(cols) if c.endswith("_turn_idx"))

    batches = _committed(sink)
    cols = batches[0][2] if batches else None
    lat_by_batch = defaultdict(list)
    got_by_tick = defaultdict(list)
    for b, commit, _, rows in batches:
        for r in rows:
            ev = last_event(r, cols)
            got_by_tick[tick_of.get(ev)].append(r)
            if tick_of.get(ev, -1) >= 0 and ts_of[ev] < seal_limit:
                lat_by_batch[b].append((commit - pub.due[tick_of[ev]]) * 1e3)

    con = duckdb.connect()
    con.execute(f"SET temp_directory='{ctx.work}/duckdb'")
    published = pd.concat([pdf, pd.DataFrame([flush_row])], ignore_index=True)
    con.register("transcripts", published)
    cur = con.execute(oracle_sql_for(cp, "transcripts"))
    ocols = [d[0] for d in cur.description]
    cols = cols or ocols
    want_by_tick = defaultdict(list)
    for r in cur.fetchall():
        r = tuple(r[ocols.index(c)] for c in cols)
        want_by_tick[tick_of.get(last_event(r, cols))].append(r)
    con.close()

    outcome = Outcome()
    for k in range(-WARMUP_TICKS, n_ticks):
        ok = k not in pub.errors and same_multiset(canon_rows(cols, got_by_tick.get(k, [])),
                                                   canon_rows(cols, want_by_tick.get(k, [])))
        outcome.record(ok, pub.errors.get(k, f"tick {k}: output differs from the oracle"))
    outcome.record(same_multiset(canon_rows(cols, got_by_tick.get(None, [])),
                                 canon_rows(cols, want_by_tick.get(None, []))),
                   "matches outside every tick differ from the oracle")
    bound = BACKLOG_TICKS * per_tick
    outcome.record(backlog <= bound, f"backlog {backlog} rows when the measured period ended, "
                                     f"bound {bound}")
    busy = sum(p["durationMs"]["triggerExecution"] for p in prog)
    wall_s = max([t_end] + [_span(p)[1] for p in prog]) - pub.t0
    busy_ratio = busy / 1e3 / wall_s
    outcome.record(busy_ratio <= MAX_BUSY, f"busy ratio {busy_ratio:.3f} above {MAX_BUSY}: "
                                           "the query is at capacity")

    # each measured batch is charged to the newest tick due when it started
    tick_ms = [0.0] * n_ticks
    for p in prog:
        k = max(0, bisect.bisect_right(pub.due, _span(p)[0]) - 1)
        tick_ms[k] += p["durationMs"]["triggerExecution"]
    lat = [v for vs in lat_by_batch.values() for v in vs]
    notes = [
        f"offered={RATE:g} events/s ticks={WARMUP_TICKS}+{n_ticks}x{per_tick} rows every "
        f"{TICK_S:g} s warmup_s={warmup_s:.6g} backlog={backlog} (bound {bound}) "
        f"busy_ratio={busy_ratio:.6g} (bound {MAX_BUSY}) late_max_ms={max(pub.late) * 1e3:.3f} "
        f"matches={len(lat)} batches={len(prog)} "
        f"batch_ms={[p['durationMs']['triggerExecution'] for p in prog]} tick_ms={tick_ms}",
        "emission latency: " + fmt_pct(grouped(lat_by_batch, 50), "ms") + " "
        + fmt_pct(tail(lat_by_batch, grouped), "ms")
        + (f" mean={np.mean(lat):.6g} ms" if lat else ""),
    ]
    result = {
        "e2e": {"setup_s": setup_s,
                "rows_per_s": per_tick / (max(statistics.median(tick_ms), 1) / 1e3)},
        "peak_rss_mb": rss,
        "outcome": outcome, "notes": notes,
    }
    if tr.enabled:
        result.update(_layers(ctx, push.feed_dir, cp, gen_s, session_s, compile_ms, slots,
                              prog, busy, busy_ratio, warmup_s, write_s, pub))
    return result


def _layers(ctx, feed_dir, cp, gen_s, session_s, compile_ms, slots, prog, busy, busy_ratio,
            warmup_s, write_s, pub) -> dict:
    """The shared layer metrics over the published rows, read as a batch,
    and the stream layers from the query's progress reports."""
    spark = ctx.start_session()
    try:
        df = spark.read.parquet(feed_dir)
        split = layers.batch_split(df, [cp])
        rep = layers.replay(df, [cp])
        join = layers.join_layer(df, [cp])
        merge = layers.merge_layer([cp])
    finally:
        spark.stop()
    m = layers.common_metrics(gen_s, session_s, compile_ms, slots, split, rep, join, merge)

    def dur(key):
        return [p["durationMs"].get(key, 0) for p in prog]

    def state(key):
        return [(p.get("stateOperators") or [{}])[0].get(key, 0) for p in prog]

    extra = {
        "stream.trigger_ms": summary(dur("triggerExecution"), "ms"),
        "stream.add_batch_ms": summary(dur("addBatch"), "ms"),
        "stream.checkpoint_ms": summary(
            [a + b for a, b in zip(dur("walCommit"), dur("commitOffsets"))], "ms"),
        "stream.state_update_ms": summary(state("allUpdatesTimeMs"), "ms"),
        "stream.state_commit_ms": summary(state("commitTimeMs"), "ms"),
        "stream.state_rows_max": max(state("numRowsTotal"), default=0),
        "stream.state_bytes_max": max(state("memoryUsedBytes"), default=0),
        "stream.busy_ratio": busy_ratio,
        "stream.warmup_s": warmup_s,
        "stream.rows_per_batch": summary([p["numInputRows"] for p in prog], "rows"),
        "stream.batches": len(prog),
        "sink.write_ms": summary([1e3 * s for s in write_s], "ms"),
        "sources.flush_ms": summary([1e3 * s for s in pub.flush_s], "ms"),
        "sources.late_ms_max": max(pub.late) * 1e3,
    }
    phases = {k: sum(dur(k)) for k in ("addBatch", "walCommit", "commitOffsets", "queryPlanning",
                                       "getBatch", "latestOffset")}
    top = max(phases, key=phases.get)
    return {"layers": m, "extra_layers": extra,
            "largest": (f"stream {top}", phases[top] / max(busy, 1))}
