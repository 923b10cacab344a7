#!/usr/bin/env python
"""Benchmark harness (driver contract, README "bench.py").

Runs every query in __spark_entry__.queries() against
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] (default 32) and prints ONE JSON line:

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {name: sec, ...}, "sf": <sf>, ...}

Execution is forced with a count() (no collect of payloads — measures
the full plan incl. shuffle/join, not driver materialization).

Env knobs:
    SPARK_GRAFT_SF_DIR   data dir (default /root/testdata/sf0.1)
    SPARK_GRAFT_CPUS     local[N] parallelism (default 32)
    BENCH_QUERIES        comma-separated subset to run
    BENCH_REPEAT         repetitions per query, min is reported (default 2)

This host loses up to ~3x per-core throughput in transient steal
windows (BENCH/SCALING.md); a single timing can catch one mid-query
and report a 10x outlier.  Defaults therefore run each query twice and
report the per-query MIN; "value" is the sum of those minima and
"wall_sec" the raw wall-clock.  "cpu_health_mips" is a calibrated
spin probe taken right before the run (clean host ~10-11).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def build_spark(cpus: int):
    from cep_spark.session import get_spark

    return get_spark(
        f"local[{cpus}]",
        app_name="cep_spark-bench",
        shuffle_partitions=max(cpus * 2, 8),
        driver_memory=os.environ.get("BENCH_DRIVER_MEM", "16g"),
        extra_conf={"spark.sql.execution.arrow.maxRecordsPerBatch": "65536"},
    )


def _bench_stream(spark) -> dict:
    """One availableNow streaming pass of the flagship transcript
    pattern over a deterministic ~34k-turn source (8 micro-batch files),
    exactly-once parquet sink; returns rows/sec + p95 micro-batch
    latency from the metrics listener."""
    import shutil

    import pandas as pd

    from bench_scaling import _flagship_transcripts_pattern
    from cep_spark.compiler import compile_pattern
    from cep_spark.metrics import CepMetricsListener
    from cep_spark.sink import ExactlyOnceParquetSink
    from cep_spark.stream import run_stream
    from cep_spark.transcripts import gen_transcripts

    src = "/tmp/bench_stream_src_bench1000"
    n_files = 8
    if not (os.path.isdir(src) and len(os.listdir(src)) == n_files):
        shutil.rmtree(src, ignore_errors=True)
        os.makedirs(src)
        pdf = gen_transcripts(n_conv=1000, seed=42, geom_p=0.03)
        pdf = pdf.sort_values("ts").reset_index(drop=True)
        flush = pdf.iloc[[0]].copy()
        flush["conv_id"] = "zzzz_flush"
        flush["turn_idx"] = 0
        flush["role"] = "user"
        flush["ts"] = pdf["ts"].max() + pd.Timedelta(days=30)
        allv = pd.concat([pdf, flush], ignore_index=True)
        allv["ts"] = allv["ts"].astype("datetime64[us]")
        n = len(allv)
        for i in range(n_files):
            allv.iloc[i * n // n_files : (i + 1) * n // n_files].to_parquet(
                f"{src}/p{i:03d}.parquet", index=False
            )

    listener = CepMetricsListener()
    spark.streams.addListener(listener)
    out_dir, ckpt = "/tmp/bench_stream_out_bench", "/tmp/bench_stream_ckpt_bench"
    for d in (out_dir, ckpt):
        shutil.rmtree(d, ignore_errors=True)
    sink = ExactlyOnceParquetSink(out_dir)
    cp = compile_pattern(_flagship_transcripts_pattern())
    t0 = time.perf_counter()
    q = (
        run_stream(spark, src, cp, watermark="0 seconds", max_files_per_trigger=1)
        .writeStream.foreachBatch(sink.foreach_batch())
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(600)
    dt = time.perf_counter() - t0
    out = sink.read_committed(spark)
    matches = out.count() if out is not None else 0
    s = listener.summary()
    spark.streams.removeListener(listener)
    return {
        "stream_rows_per_sec": round(s["total_rows"] / dt, 1),
        "stream_p95_ms": s["p95_batch_ms"],
        "stream_batches": s["batches"],
        "stream_matches": matches,
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    repeat = int(os.environ.get("BENCH_REPEAT", "2"))

    try:
        from bench_scaling import cpu_health_mips

        health = cpu_health_mips()
    except Exception:
        health = None
    only = os.environ.get("BENCH_QUERIES")
    only_set = set(only.split(",")) if only else None

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    if only_set is not None:
        qs = {k: v for k, v in qs.items() if k in only_set}

    spark = build_spark(cpus)
    spark.sparkContext.setLogLevel("ERROR")

    # warm-up: absorb JVM/session/Arrow start-up cost (incl. a pandas-UDF
    # round-trip) so the first timed query isn't ~5s of warm-up noise
    spark.read.parquet(f"{sf_dir}/events.parquet").limit(1000).select("ts").count()
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    @F.pandas_udf(LongType())
    def _warm(s):
        return s

    spark.range(1000).select(F.sum(_warm(F.col("id")))).collect()

    per_query: dict[str, float] = {}
    rows: dict[str, int] = {}
    t0 = time.perf_counter()
    for name, fn in qs.items():
        best = None
        n = -1
        for _ in range(repeat):
            t = time.perf_counter()
            n = fn(spark, sf_dir).count()
            dt = time.perf_counter() - t
            best = dt if best is None else min(best, dt)
        # 3 decimals (ms resolution): 61 entries must keep the compact
        # stdout line under the driver's ~2 KB tail capture
        per_query[name] = round(best, 3)
        rows[name] = n
    wall = round(time.perf_counter() - t0, 4)

    stream_stats = None
    if os.environ.get("BENCH_STREAM", "1") != "0" and only_set is None:
        # BASELINE names p95 match-emission latency as a binding metric;
        # keep it in the per-round artifact so regressions are visible
        # round-over-round (round-4 verdict #7).  Small fixed-size
        # transcript stream, exactly-once sink, availableNow.  Runs
        # AFTER the timed queries — a prior stream leg measurably slowed
        # the doc family (~2x) via session/heap pollution.
        try:
            stream_stats = _bench_stream(spark)
        except Exception as e:  # never let the stream leg kill the bench
            print(f"stream leg failed: {e!r}", file=sys.stderr)

    spark.stop()

    summary = {
        "metric": "cep_spark_bench_total",
        "value": round(sum(per_query.values()), 4),
        "unit": "sec",
        "queries": per_query,
        "sf": sf,
        "cpus": cpus,
        "repeat": repeat,
        "wall_sec": wall,
        "cpu_health_mips": health,
    }
    if stream_stats:
        summary.update(stream_stats)
    # full payload (incl. row counts) goes to a sidecar + stderr; the
    # driver's tail capture is size-bounded, and the r3 line outgrew it
    # ("parsed": null in BENCH_r03.json) — the machine-readable stdout
    # line must stay compact and be printed LAST.
    full = dict(summary, rows=rows)

    _compact(summary)
    try:
        sidecar = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "BENCH_LOCAL.json"
        )
        with open(sidecar, "w") as f:
            json.dump(full, f, indent=1)
    except OSError:
        pass
    print(json.dumps({"rows": rows}, separators=(",", ":")), file=sys.stderr)
    print(json.dumps(summary, separators=(",", ":")))


def _fits(summary) -> bool:
    # a bench record (BENCH_r*.json "tail") keeps only the LAST 2000
    # stdout chars: 2000 minus the trailing newline, minus a small margin
    # for stray final stderr/stdout interleaving
    return len(json.dumps(summary, separators=(",", ":"))) <= 1985


def _compact(summary) -> None:
    """Shrink the compact stdout line in place until it fits the tail
    capture: drop sidecar-only metadata, then per-query precision to 10
    ms, then the common ``cep_`` prefix of entry names, then precision
    to 100 ms (ample for round-over-round comparisons; the sidecar
    keeps 3 decimals, full names and row counts).  Host health always
    stays on the line: a bench number without it cannot be compared."""
    if _fits(summary):
        return
    for k in ("stream_batches", "stream_matches", "repeat", "wall_sec", "cpus"):
        summary.pop(k, None)
    steps = (
        lambda q: {k: round(v, 2) for k, v in q.items()},
        lambda q: {(k[4:] if k.startswith("cep_") else k): v for k, v in q.items()},
        lambda q: {k: round(v, 1) for k, v in q.items()},
    )
    for step in steps:
        if _fits(summary):
            return
        summary["queries"] = step(summary["queries"])
        summary["value"] = round(sum(summary["queries"].values()), 2)


if __name__ == "__main__":
    main()
