#!/usr/bin/env python
"""Scaling-efficiency benchmark: the SAME jobs at local[8] vs local[32].

The BASELINE's two-cluster-size criterion (N vs 4N executors, scaling
efficiency >= 0.8) cannot use a real cluster in this sandbox; per the
driver instruction it is evidenced by running the same job at two
parallelism levels on the same input and reporting throughput at both.

Jobs (chosen to exercise the engine's hot paths, not Spark overhead):
  nfa_batch    — flagship CEP pattern via the per-key NFA
                 (groupBy(key).applyInPandas) over synthetic
                 transcripts; embarrassingly parallel over keys.
  join_batch   — the same pattern class lowered to Catalyst self-joins
                 over sf0.1 events (shuffle-heavy path).
  stream       — run_stream over sf0.1 events split into micro-batch
                 files, exactly-once sink; reports turns/sec and p95
                 batch latency via CepMetricsListener.

Orchestrator mode (default): runs each job in a fresh subprocess per
parallelism level (a Spark local master is fixed per JVM), computes
efficiency = (thr_4N / thr_N) / 4, regenerates the raw table in
BENCH/SCALING_AUTO.md and prints one JSON line.  The curated verdict
against the criterion lives in BENCH/BASELINE.md (update it when a
clean-window run supersedes the pinned tables).

Worker mode (BENCH_WORKER=<job>): runs one job and prints one JSON line.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# QUICK mode (BENCH_QUICK=1): the criterion pair (2, 8) only, smaller
# inputs, 2 repeats — fits inside the short clean-CPU windows this host
# offers (the full run outlasts them; every full attempt since round 1
# degraded mid-run).  Same jobs, same plans — only input scale differs.
QUICK = os.environ.get("BENCH_QUICK") == "1"
N_CONV = int(os.environ.get("BENCH_N_CONV", "120000" if QUICK else "240000"))
STREAM_N_CONV = int(
    os.environ.get("BENCH_STREAM_N_CONV", "6000" if QUICK else "20000")
)
JOIN_REPS = int(os.environ.get("BENCH_JOIN_REPS", "16" if QUICK else "64"))
BENCH_REPEAT = int(os.environ.get("BENCH_REPEAT", "2" if QUICK else "3"))
# input dirs encode the size so QUICK and full runs never share stale data
TRANSCRIPTS_PQ = f"/tmp/bench_transcripts_{N_CONV}"
STREAM_SRC = f"/tmp/bench_stream_src_{STREAM_N_CONV}"
# level pairs (N, 4N): the headline pair is (2, 8) where the host CPU
# scales near-linearly; (8, 32) is reported too, next to the measured
# hardware ceiling (this VM loses ~30% per-core throughput when all 32
# cores are busy — see hw_ceiling in the output)
PAIRS = [(2, 8)] if QUICK else [(2, 8), (8, 32)]
LEVELS = sorted({c for p in PAIRS for c in p})
LEGS_LOG = "/tmp/scaling_legs.jsonl"  # append-only per-leg evidence


def cpu_health_mips(seconds: float = 1.0) -> float:
    """Single-core busy-loop rate (M iters/s).  Firecracker hides steal
    from /proc/stat, so this is the only way to detect host contention:
    clean IDLE baseline ~10-15 M/s on this VM (single-core boost);
    CAVEAT (round 4, session B): the rate falls to ~7-8.5 whenever a
    few cores are busy — frequency scaling, not contention — so an
    in-worker reading during a benchmark leg is biased low BY
    CONSTRUCTION.  Use the calibrated concurrent sampling below
    (_calibrate_underload + _pin_health on a free core) to judge legs;
    this raw probe is only meaningful on an otherwise-idle host."""
    t0 = time.perf_counter()
    x = 0
    while time.perf_counter() - t0 < seconds:
        x += 1
    return round(x / seconds / 1e6, 2)


def _pin_health(core: int, seconds: float = 0.6) -> float:
    """cpu_health_mips pinned to one core (restores affinity after)."""
    old = os.sched_getaffinity(0)
    try:
        os.sched_setaffinity(0, {core})
        return cpu_health_mips(seconds)
    finally:
        os.sched_setaffinity(0, old)


def _calibrate_underload(levels, core: int) -> dict:
    """Expected free-core busy-loop rate while n cores run full load —
    this VM's per-core rate falls with busy-core count (DVFS/steal
    ceiling), so a leg's concurrent free-core sample must be compared
    against the SAME-load-shape calibration, not the idle baseline.
    Full-burn calibration is a floor: real legs are at most this busy,
    so clean legs sample AT OR ABOVE it.  MEDIAN of three bursts per
    level: a single-shot calibration taken during a boost spike sets an
    unreachable expectation and flags clean legs (observed: leg sample
    medians above a spiked expectation with minima below it)."""
    out = {}
    burn = ("import time\nt=time.perf_counter()\n"
            "while time.perf_counter()-t<3.2: pass")
    for n in levels:
        procs = [
            subprocess.Popen(["taskset", "-c", str(i), sys.executable, "-c", burn])
            for i in range(n)
        ]
        time.sleep(0.3)
        reads = sorted(_pin_health(core) for _ in range(3))
        out[n] = reads[1]
        for p in procs:
            p.wait()
    return out


def _ensure_transcripts(n_files=32):
    """Multi-file layout so the scan stage parallelizes (one parquet
    file caps the scan at its row-group count)."""
    if os.path.isdir(TRANSCRIPTS_PQ) and len(os.listdir(TRANSCRIPTS_PQ)) == n_files:
        return
    import shutil

    from cep_spark.transcripts import gen_transcripts, write_parquet

    shutil.rmtree(TRANSCRIPTS_PQ, ignore_errors=True)
    os.makedirs(TRANSCRIPTS_PQ)
    pdf = gen_transcripts(n_conv=N_CONV, seed=42)
    n = len(pdf)
    for i in range(n_files):
        write_parquet(
            pdf.iloc[i * n // n_files : (i + 1) * n // n_files],
            f"{TRANSCRIPTS_PQ}/part-{i:04d}.parquet",
        )


def _ensure_stream_src(n_files=8):
    """Transcript stream in event-time order, n_files micro-batches, a
    trailing flush turn so the final watermark seals everything."""
    import pandas as pd

    if os.path.isdir(STREAM_SRC) and len(os.listdir(STREAM_SRC)) == n_files:
        return
    import shutil

    from cep_spark.transcripts import gen_transcripts

    shutil.rmtree(STREAM_SRC, ignore_errors=True)
    os.makedirs(STREAM_SRC)
    # longer conversations (mean ~34 turns): streaming cost is dominated
    # by per-key state round-trips, so the key:event ratio matters
    pdf = gen_transcripts(n_conv=STREAM_N_CONV, seed=42, geom_p=0.03)
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
            f"{STREAM_SRC}/p{i:03d}.parquet", index=False
        )


def _spark(cpus: int):
    """Fixed shuffle-partition count across parallelism levels: the
    LOGICAL job (task graph, state layout) must be identical — only the
    core count varies, exactly like adding executors to a cluster."""
    from cep_spark.session import get_spark

    return get_spark(
        f"local[{cpus}]",
        app_name=f"bench-scaling-{cpus}",
        shuffle_partitions=64,
        driver_memory=f"{cpus}g",  # like a cluster: memory scales with cores
    )


def _flagship_transcripts_pattern():
    from datetime import timedelta

    from cep_spark.pattern import Ev, Pattern, Seq

    return Pattern(
        Seq(Ev("u", role="user"), Ev("a", role="assistant"), Ev("t", role="tool")),
        window=timedelta(minutes=10),
        key="conv_id",
        ts_col="ts",
        tiebreak_col="turn_idx",
    )


def _flagship_events_pattern():
    from datetime import timedelta

    from cep_spark.conditions import attr
    from cep_spark.pattern import Ev, Pattern, Seq

    return Pattern(
        Seq(Ev("a", event_type="view"), Ev("b", event_type="click"), Ev("c", event_type="purchase")),
        where=(attr("b", "value") > attr("a", "value")),
        window=timedelta(hours=24),
        key="user_id",
        ts_col="ts",
        tiebreak_col="event_id",
    )


def job_nfa_batch(cpus: int) -> dict:
    from cep_spark.batch import run_batch
    from cep_spark.compiler import compile_pattern

    _ensure_transcripts()
    spark = _spark(cpus)
    df = spark.read.parquet(TRANSCRIPTS_PQ)
    rows = df.count()
    cp = compile_pattern(_flagship_transcripts_pattern())
    health = cpu_health_mips()
    run_batch(df, cp, mode="flat").count()  # warm-up: spawn+prime workers
    dt, n = None, -1
    for _ in range(BENCH_REPEAT):
        t0 = time.perf_counter()
        n = run_batch(df, cp, mode="flat").count()
        d = time.perf_counter() - t0
        dt = d if dt is None else min(dt, d)
    h_post = cpu_health_mips()
    spark.stop()
    return {"job": "nfa_batch", "cpus": cpus, "sec": round(dt, 3),
            "input_rows": rows, "matches": n, "rows_per_sec": round(rows / dt, 1),
            "cpu_health_mips": min(health, h_post),
            "health_pre": health, "health_post": h_post}


def job_join_batch(cpus: int) -> dict:
    from cep_spark.compiler import compile_pattern
    from cep_spark.join_planner import plan_join

    from pyspark.sql import functions as F

    spark = _spark(cpus)
    base = spark.read.parquet(f"{SF_DIR}/events.parquet")
    # replicate 4x on disjoint key ranges: a bigger, still-keyed input
    reps = [
        base.withColumn("user_id", F.col("user_id") + F.lit(i * 10_000_000))
        .withColumn("event_id", F.col("event_id") + F.lit(i * 1_000_000_000))
        for i in range(JOIN_REPS)
    ]
    df = reps[0]
    for r in reps[1:]:
        df = df.unionByName(r)
    df = df.repartition(2 * max(LEVELS)).cache()
    rows = df.count()
    cp = compile_pattern(_flagship_events_pattern())
    health = cpu_health_mips()
    plan_join(df, cp).count()  # warm-up
    dt, n = None, -1
    for _ in range(BENCH_REPEAT):
        t0 = time.perf_counter()
        n = plan_join(df, cp).count()
        d = time.perf_counter() - t0
        dt = d if dt is None else min(dt, d)
    h_post = cpu_health_mips()
    spark.stop()
    return {"job": "join_batch", "cpus": cpus, "sec": round(dt, 3),
            "input_rows": rows, "matches": n, "rows_per_sec": round(rows / dt, 1),
            "cpu_health_mips": min(health, h_post),
            "health_pre": health, "health_post": h_post}


def job_stream(cpus: int) -> dict:
    import shutil

    from cep_spark.compiler import compile_pattern
    from cep_spark.metrics import CepMetricsListener
    from cep_spark.sink import ExactlyOnceParquetSink
    from cep_spark.stream import run_stream

    _ensure_stream_src()
    spark = _spark(cpus)
    listener = CepMetricsListener()
    spark.streams.addListener(listener)
    cp = compile_pattern(_flagship_transcripts_pattern())
    out_dir = f"/tmp/bench_stream_out_{cpus}"
    ckpt = f"/tmp/bench_stream_ckpt_{cpus}"
    for d in (out_dir, ckpt):
        shutil.rmtree(d, ignore_errors=True)
    sink = ExactlyOnceParquetSink(out_dir)
    health = cpu_health_mips()
    t0 = time.perf_counter()
    q = (
        run_stream(spark, STREAM_SRC, cp, watermark="0 seconds", max_files_per_trigger=1)
        .writeStream.foreachBatch(sink.foreach_batch())
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(1200)
    dt = time.perf_counter() - t0
    out = sink.read_committed(spark)
    matches = out.count() if out is not None else 0
    s = listener.summary()
    h_post = cpu_health_mips()
    spark.stop()
    input_rows = s["total_rows"]
    return {"job": "stream", "cpus": cpus, "sec": round(dt, 3),
            "input_rows": input_rows, "matches": matches,
            "rows_per_sec": round(input_rows / dt, 1),
            "p95_batch_ms": s["p95_batch_ms"], "batches": s["batches"],
            "max_state_rows": s["max_state_rows"],
            "cpu_health_mips": min(health, h_post),
            "health_pre": health, "health_post": h_post}


JOBS = {"nfa_batch": job_nfa_batch, "join_batch": job_join_batch, "stream": job_stream}


def _burn(_):
    t0 = time.perf_counter()
    x = 0
    while time.perf_counter() - t0 < 2.0:
        x += 1
    return x


def _hw_ceiling() -> dict:
    """Pure-CPU scaling of this host: N busy processes, aggregate rate.
    Bounds any job's achievable efficiency at each level pair."""
    import multiprocessing as mp

    agg = {}
    for n in LEVELS:
        with mp.Pool(n) as p:
            agg[n] = sum(p.map(_burn, range(n)))
    out = {}
    for n, n4 in PAIRS:
        out[f"{n}->{n4}"] = round((agg[n4] / agg[n]) / (n4 / n), 3)
    return out


def main():
    worker = os.environ.get("BENCH_WORKER")
    if worker:
        print(json.dumps(JOBS[worker](int(os.environ["BENCH_CPUS"]))))
        return

    # BENCH_JOBS: comma-list subset — lets the health-gated runner
    # measure ONE job's (N, 4N) pair per clean-CPU window (efficiency
    # only needs within-pair consistency; this host's windows are too
    # short for all jobs back-to-back)
    sel = os.environ.get("BENCH_JOBS")
    jobs = [j for j in JOBS if not sel or j in sel.split(",")]

    # expected free-core rate under each level's load shape (see
    # _calibrate_underload) — the contamination judge for the legs
    sample_core = os.cpu_count() - 1
    calib = _calibrate_underload(LEVELS, sample_core)
    print(json.dumps({"calibration": {str(k): v for k, v in calib.items()},
                      "sample_core": sample_core}), file=sys.stderr)

    results = {}
    for job in jobs:
        for cpus in LEVELS:
            env = dict(os.environ, BENCH_WORKER=job, BENCH_CPUS=str(cpus))
            # taskset-pin the whole worker (JVM + python workers) to
            # exactly `cpus` cores — local[N] alone still steals extra
            # cores for GC/shuffle/netty threads, which would inflate
            # the low-parallelism baseline and understate efficiency
            import tempfile

            with tempfile.TemporaryFile("w+") as fo, \
                    tempfile.TemporaryFile("w+") as fe:
                proc = subprocess.Popen(
                    ["taskset", "-c", f"0-{cpus - 1}", sys.executable,
                     os.path.abspath(__file__)],
                    env=env, stdout=fo, stderr=fe, text=True,
                )
                # concurrent free-core health samples: external
                # contention shows here; our own (pinned) load does not
                samples = []
                t0 = time.time()
                while proc.poll() is None:
                    if time.time() - t0 > 1800:
                        proc.kill()
                        raise TimeoutError(f"{job}@{cpus} leg exceeded 30 min")
                    if cpus < os.cpu_count():
                        samples.append(_pin_health(sample_core))
                    time.sleep(3)
                fo.seek(0)
                stdout = fo.read()
            line = [l for l in stdout.splitlines() if l.startswith("{")][-1]
            leg = json.loads(line)
            expected = calib[cpus]
            if samples:
                margin = max(0.8, 0.1 * expected)
                srt = sorted(samples)
                # tolerate ONE transient dip on longer legs: the timed
                # region is min-of-BENCH_REPEAT, so a single ~3 s
                # transient cannot have set the reported throughput
                judge_val = srt[1] if len(srt) > 6 else srt[0]
                leg["host_mips_during"] = {
                    "min": srt[0], "judge": judge_val,
                    "median": srt[len(srt) // 2],
                    "n": len(srt), "expected": expected,
                }
                leg["host_clean"] = judge_val >= expected - margin
            results[(job, cpus)] = leg
            print(json.dumps(leg), file=sys.stderr)
            # append-only evidence log: nothing is lost if a later leg
            # (or the harness around us) dies or overwrites a status file
            with open(LEGS_LOG, "a") as f:
                f.write(json.dumps(dict(leg, t=time.time(), quick=QUICK)) + "\n")

    # the busy-loop ceiling burns ~20 s of full load — per-job gated
    # runs skip it (the gated runner measures it once itself)
    hw = {} if os.environ.get("BENCH_SKIP_CEILING") == "1" else _hw_ceiling()
    summary = {"metric": "scaling_efficiency", "levels": LEVELS,
               "quick": QUICK, "hw_ceiling": hw, "pairs": {}}
    for n, n4 in PAIRS:
        pair = {}
        for job in jobs:
            a, b = results[(job, n)], results[(job, n4)]
            eff = (b["rows_per_sec"] / a["rows_per_sec"]) / (n4 / n)
            pair[job] = {
                f"local[{n}]": a, f"local[{n4}]": b,
                "speedup": round(b["rows_per_sec"] / a["rows_per_sec"], 3),
                "efficiency": round(eff, 3),
            }
        summary["pairs"][f"{n}->{n4}"] = pair
    print(json.dumps(summary))
    if set(jobs) == set(JOBS):
        _write_md(summary)  # partial (BENCH_JOBS) runs never clobber the MD


def _write_md(summary):
    os.makedirs("BENCH", exist_ok=True)
    lines = [
        "# BENCH — scaling evidence (driver-instructed substitution for N vs 4N executors)",
        "",
        "Same job, same input, same logical plan (fixed 64 shuffle partitions);",
        "only the local[] core count varies — the in-sandbox substitute for",
        "N vs 4N executors.  Efficiency = (throughput_4N / throughput_N) / 4;",
        "BASELINE criterion: >= 0.8.",
        "",
    ]
    if summary.get("quick"):
        lines += [
            "QUICK mode: the criterion pair (2,8) only, reduced input sizes",
            f"(transcripts n_conv={N_CONV}, stream n_conv={STREAM_N_CONV}, join",
            f"reps={JOIN_REPS}), {BENCH_REPEAT} repeats — sized to fit inside this",
            "host's short clean-CPU windows.  Same jobs, same physical plans.",
            "Contamination judge: a free core is sampled CONCURRENTLY with",
            "each leg (busy-loop M iters/s) and compared against a same-load",
            "calibration (this VM's per-core rate falls under any multi-core",
            "load — DVFS — so in-worker probes are biased low by",
            "construction); a leg is clean iff min(sample) >= expected -",
            "max(0.8, 10%).  The health column shows min/expected per leg.",
            "",
        ]
    lines += [
        "**Hardware ceiling**: pure-CPU busy-loop scaling of this VM — the",
        "maximum efficiency ANY job can reach at each pair: "
        + ", ".join(f"{k}: **{v}**" for k, v in summary["hw_ceiling"].items())
        + ".  (Per-core throughput drops ~30% when all 32 cores are busy —",
        "virtualization steal/DVFS — so the (2,8) pair is the faithful",
        "N-vs-4N comparison and (8,32) is reported against its ceiling.)",
        "",
    ]
    for pair_name, jobs in summary["pairs"].items():
        n, n4 = pair_name.split("->")
        ceil = summary["hw_ceiling"][pair_name]
        lines += [
            f"## local[{n}] -> local[{n4}] (hw ceiling {ceil})",
            "",
            f"| job | local[{n}] rows/s | local[{n4}] rows/s | speedup | "
            "efficiency | eff/ceiling | leg health (pre/post each) |",
            "| --- | --- | --- | --- | --- | --- | --- |",
        ]
        for job, d in jobs.items():
            a, b = d[f"local[{n}]"], d[f"local[{n4}]"]

            def _h(leg):
                hd = leg.get("host_mips_during")
                if hd:
                    return f"{hd['min']}≥{round(hd['expected'], 1)}e"
                return f"{leg.get('health_pre', '?')}/{leg.get('health_post', '?')}"

            hcol = f"{_h(a)} · {_h(b)}"
            lines.append(
                f"| {job} | {a['rows_per_sec']} | {b['rows_per_sec']} | "
                f"{d['speedup']}x | **{d['efficiency']}** | "
                f"{round(d['efficiency']/ceil, 2)} | {hcol} |"
            )
        lines.append("")
    last_pair = list(summary["pairs"])[-1]
    st = summary["pairs"][last_pair].get("stream", {})
    if st:
        hi = last_pair.split("->")[1]
        b = st[f"local[{hi}]"]
        lines += [
            f"Streaming (local[{hi}]): {b['rows_per_sec']} events/s end-to-end, "
            f"p95 micro-batch latency {b['p95_batch_ms']} ms over {b['batches']} batches, "
            f"max state rows {b['max_state_rows']}, exactly-once parquet sink.",
        ]
    # auto-runs must not clobber the curated BENCH/SCALING.md narrative
    with open("BENCH/SCALING_AUTO.md", "w") as f:
        f.write("\n".join(lines) + "\n")


if __name__ == "__main__":
    main()
