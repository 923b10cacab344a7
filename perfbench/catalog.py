"""catalog-sf0.1: a closed loop with one client, round-robin over six
``__spark_entry__.queries()`` entries, one or two per executor family,
on sf0.1-shaped tables.

Inputs are small, so per-query fixed cost dominates: plan build,
shuffle and the Arrow hand-off into ``mapInPandas``.  The DuckDB oracle
runs after staging, outside the set-up time.  Every entry runs twice
during set-up: collected and compared in full with its oracle, then
once more in turn, because the first sequential round after the cold
one is still 20-45% slower while the JVM compiles.  Each timed
execution is checked by row count, and a host-speed probe runs before
each one, outside its timing.  The loop always finishes the round
it is in, so every entry runs equally often; rows per second are the
input rows of one round over the sum of each entry's median latency.
"""

from __future__ import annotations

import statistics
import time
from collections import defaultdict

import numpy as np

import layers
from data import gen_documents, gen_events, stage
from harness import (Outcome, canon_rows, collect_rows, concurrently, fmt_pct, same_multiset,
                     summary, tail, timed)

ENTRIES = (
    "cep_seq3_cond", "cep_neg",  # join lowering
    "cep_kleene_and_group",  # NFA
    "cep_multi_shared",  # prefix-shared merge
    "win_session",  # windows
    "doc_simhash_pairs",  # pipeline
)
JOIN_ENTRIES = ("cep_seq3_cond", "cep_neg")
# sf0.1 has 5,000 documents; half as many keep the pipeline entry's
# quadratic near-duplicate join (and its DuckDB oracle) inside the run budget
N_EVENTS, N_DOCS = 100_000, 2_500


def _patterns(E):
    """Pattern sources of the entries, by layer."""
    return {
        "join": [E.CEP_PATTERNS[n] for n in JOIN_ENTRIES],
        "nfa": [E._KLEENE_AND_GROUP_PAT],
        "merge": [p for _, p in E._shared_family()],
    }


def _input_rows(name: str) -> int:
    return N_DOCS if name.startswith("doc_") else N_EVENTS


def _oracle(work: str, sf_dir: str) -> dict:
    """Canonical DuckDB oracle result of every entry over the staged tables."""
    import duckdb

    import __spark_entry__ as E

    sqls = E.oracle_sql()
    con = duckdb.connect()
    try:
        con.execute(f"SET temp_directory='{work}/duckdb'")
        for t in ("events", "documents"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{sf_dir}/{t}.parquet/*.parquet')")
        out = {}
        for name in ENTRIES:
            cur = con.execute(sqls[name])
            out[name] = canon_rows([d[0] for d in cur.description], cur.fetchall())
        return out
    finally:
        con.close()


def run(ctx) -> dict:
    import __spark_entry__ as E

    tr = ctx.tracer
    order = list(np.random.default_rng(ctx.seed).permutation(ENTRIES))
    with tr.span("inputs.generate_and_stage"):
        t = time.perf_counter()
        sf_dir = stage(ctx.inputs_dir, "sf0.1", ctx.seed, N_EVENTS,
                       {"events": gen_events(ctx.seed, N_EVENTS),
                        "documents": gen_documents(ctx.seed, N_DOCS, N_DOCS // 20)})
        gen_s = time.perf_counter() - t
    # the oracle runs outside set-up, so its CPU use never lands in setup_s
    with tr.span("oracle.duckdb"):
        oracle, oracle_s = timed(_oracle, ctx.work, sf_dir)
    ctx.speed.sample(5)
    t_setup = time.perf_counter() - gen_s
    with tr.span("session.get_spark"):
        spark, session_s = timed(ctx.start_session)
    try:
        return _run(ctx, E, spark, sf_dir, order, t_setup, gen_s, session_s, oracle, oracle_s)
    finally:
        spark.stop()


def _run(ctx, E, spark, sf_dir, order, t_setup, gen_s, session_s, oracle, oracle_s) -> dict:
    tr = ctx.tracer
    with tr.span("compiler.compile_pattern"):
        queries = E.queries()
        cps = {k: layers.compile_all(v) for k, v in _patterns(E).items()}
    # the cold round runs the entries concurrently: its costs are mostly
    # serial (code generation, compilation, worker start-up), so they overlap
    with tr.span("warmup.collect"):
        warm = dict(zip(order, concurrently(
            [lambda n=n: collect_rows(queries[n](spark, sf_dir)) for n in order])))
    with tr.span("warmup.count"):
        for name in order:
            queries[name](spark, sf_dir).count()
    setup_s = time.perf_counter() - t_setup

    outcome = Outcome()
    expect = {}
    for name, o in oracle.items():
        outcome.record(same_multiset(canon_rows(*warm[name]), o),
                       f"{name}: output differs from the oracle")
        expect[name] = len(o[0])

    lat = []
    lat_by_entry = defaultdict(list)
    t0 = time.perf_counter()
    while not lat or time.perf_counter() - t0 < ctx.seconds:
        for name in order:
            ctx.speed.sample(2)  # between executions, so the program is idle
            with tr.span(f"query.{name}"):
                t = time.perf_counter()
                try:
                    n = queries[name](spark, sf_dir).count()
                    ok, why = n == expect[name], f"{name}: {n} rows, oracle {expect[name]}"
                except Exception as e:  # a failed execution is counted, not fatal
                    ok, why = False, f"{name}: {type(e).__name__}: {e}"
                dt = time.perf_counter() - t
            outcome.record(ok, why)
            lat.append(dt)
            lat_by_entry[name].append(dt)
    # a round at each entry's median latency, so one slow execution
    # (a short stall of the host) does not move the figure
    round_s = sum(statistics.median(v) for v in lat_by_entry.values())
    result = {
        "e2e": {"setup_s": setup_s,
                "rows_per_s": sum(_input_rows(n) for n in order) / round_s},
        "peak_rss_mb": ctx.peak_rss(spark),
        "outcome": outcome,
        "notes": [
            f"order={order} rounds={len(lat) // len(order)} executions={len(lat)} "
            f"oracle_s={oracle_s:.3f} (outside set-up)",
            # a falling sequence means warm-up did not finish before timing
            "round_s=" + str([round(sum(lat[i:i + len(order)]), 3)
                              for i in range(0, len(lat), len(order))]),
            "query latency: " + summary(lat, "s") + " " + fmt_pct(tail(lat), "s"),
            "median latency by entry: " + ", ".join(
                f"{n}={statistics.median(v):.4g} s (n={len(v)})" for n, v in lat_by_entry.items()),
        ],
    }
    if tr.enabled:
        result.update(_layers(spark, sf_dir, cps, gen_s, session_s, queries))
    return result


def _layers(spark, sf_dir, cps, gen_s, session_s, queries) -> dict:
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    nfa = cps["nfa"][0]
    split = layers.batch_split(events, nfa)
    m = layers.common_metrics(
        gen_s, session_s, sum(v[1] for v in cps.values()), sum(v[2] for v in cps.values()),
        split, layers.replay(events, nfa), layers.join_layer(events, cps["join"][0]),
        layers.merge_layer(cps["merge"][0]))
    pairs = queries["doc_simhash_pairs"](spark, sf_dir)
    extra = {
        "windows.exec_s": layers.noop_write(queries["win_session"](spark, sf_dir)),
        "pipeline.exec_s": layers.noop_write(pairs),
        "pipeline.pairs": pairs.count(),
    }
    return {"layers": m, "extra_layers": extra, "largest": layers.largest_layer(split)}
