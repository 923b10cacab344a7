"""CEP benchmark: one workload per run, outputs checked against oracles.

    python3 perfbench/run.py --workload catalog-sf0.1 --seed 1 --seconds 20 --trace 0

Run from the repository root.  The workloads are ``catalog-sf0.1``
and ``stream-open``.  With ``--trace 0`` the last stdout line carries
the end-to-end metrics, ``setup_s`` and ``rows_per_s``, scaled to a
host running at the reference speed (``harness.HostSpeed``: the shared
host's speed moves twofold within minutes, and the run's own idle-time
probes measure it); the wall-clock values are printed beside them
on earlier lines.  With ``--trace 1`` the run records spans and
per-layer measurements and the last line carries the per-layer
metrics.  Earlier lines give the settings, host health, sample counts
and percentiles, the failure ratio, and (traced) the tracing overhead
against the newest untraced run of the same workload, seed, length and
settings.  Everything the run writes stays under ``.perfbench_work/``
in the repository root.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import signal
import sys
import time
from dataclasses import dataclass

import harness

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
WORKLOADS = {"catalog-sf0.1": "catalog", "stream-open": "stream_open"}
UNITS = {"setup_s": "s", "rows_per_s": "rows/s"}
WATCHDOG_S = 170
HEALTH_DIP = 0.8  # after/before ratio under which the host is flagged


@dataclass
class Context:
    seed: int
    seconds: float
    tracer: object
    settings: dict
    work: str
    inputs_dir: str
    speed: harness.HostSpeed

    def start_session(self):
        return harness.start_session(self.settings, self.work)

    def peak_rss(self, spark) -> float:
        return harness.peak_rss_mb(harness.jvm_pid(spark))


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", flush=True)


def _timeout(signum, frame):
    raise TimeoutError(f"run exceeded {WATCHDOG_S} s")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp  # Python workers and the JVM inherit it
    for p in (ROOT, os.path.join(ROOT, "scripts")):
        sys.path.insert(0, p)
    try:
        wl = importlib.import_module(WORKLOADS[args.workload])
        import __spark_entry__  # noqa: F401
        import bench_scaling  # noqa: F401
        import cep_spark  # noqa: F401
        import sweep_correctness  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program under test: {e}", file=sys.stderr)
        return 2

    signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(WATCHDOG_S)
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time())}"
    tracer = harness.Tracer(run_id) if args.trace else harness.NullTracer(run_id)
    settings = harness.host_settings()
    ctx = Context(args.seed, args.seconds, tracer, settings, WORK, os.path.join(WORK, "inputs"),
                  harness.HostSpeed())
    _log(f"workload={args.workload} seed={args.seed} seconds={args.seconds:g} "
         f"trace={args.trace} settings={json.dumps(settings, sort_keys=True)}")
    health_before = harness.cpu_health()
    try:
        res = wl.run(ctx)
    finally:
        harness.stop_jvm()
    health_after = harness.cpu_health()
    signal.alarm(0)

    dip = min(health_before, health_after) < HEALTH_DIP * max(health_before, health_after)
    _log(f"cpu_health_mips before={health_before} after={health_after} dip={dip}")
    for line in res["notes"]:
        _log(line)
    out = res["outcome"]
    _log(f"fail_ratio={out.fail_ratio():.6g} ({out.failed}/{out.attempted} operations)")
    for why in out.reasons[:10]:
        _log(f"FAILED {why}")
    raw = res["e2e"]
    scale = ctx.speed.scale()
    e2e = {"setup_s": raw["setup_s"] * scale, "rows_per_s": raw["rows_per_s"] / scale}
    _log(f"host speed: mean probe {scale * harness.REF_MIPS:.4g} M/s over "
         f"{len(ctx.speed.samples)} idle-time samples, scale {scale:.4g} to the "
         f"{harness.REF_MIPS:g} M/s reference")
    for k, v in e2e.items():
        _log(f"{k}={v:.6g} {UNITS[k]} at the reference speed ({raw[k]:.6g} {UNITS[k]} wall clock)")
    _log(f"peak_rss_mb={res['peak_rss_mb']:.6g} MB (JVM VmHWM + this process)")

    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    record = {"run_id": run_id, "workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace, "settings": settings,
              "health": [health_before, health_after, dip],
              "e2e": e2e, "raw": raw, "scale": scale, "probes": ctx.speed.samples,
              "peak_rss_mb": res["peak_rss_mb"], "attempted": out.attempted,
              "failed": out.failed}
    with open(os.path.join(WORK, "results", f"{run_id}.json"), "w") as f:
        json.dump(record, f)

    if args.trace:
        layers = dict(res["layers"], peak_rss_mb=(res["peak_rss_mb"], "MB"))
        metrics = {k: {"value": float(v), "unit": u} for k, (v, u) in layers.items()}
        for k, v in res.get("extra_layers", {}).items():
            _log(f"layer {k}={v}")
        layer, share = res["largest"]
        _log(f"largest layer: {layer} ({share:.1%} of its stage total)")
        st = tracer.self_times()
        top = sorted(st.items(), key=lambda kv: -kv[1])[:5]
        _log("span self time: " + ", ".join(f"{k}={v:.3f}s" for k, v in top))
        _overhead(record, e2e)
        tracer.write(os.path.join(WORK, "results", f"{run_id}.spans.json"))
    else:
        metrics = {k: {"value": float(v), "unit": UNITS[k]} for k, v in e2e.items()}
    print(json.dumps({"correct": out.failed == 0, "attempted": out.attempted,
                      "failed": out.failed, "metrics": metrics}))
    return 0


def _overhead(traced_rec: dict, traced: dict) -> None:
    """Traced minus untraced end-to-end numbers, against the newest
    untraced run in this checkout with the same workload, seed, length
    and settings."""
    same = ("workload", "seed", "seconds", "settings")
    d = os.path.join(WORK, "results")
    recs = []
    for fn in os.listdir(d):
        if fn.endswith(".json") and not fn.endswith(".spans.json"):
            with open(os.path.join(d, fn)) as f:
                r = json.load(f)
            if r["trace"] == 0 and all(r.get(k) == traced_rec[k] for k in same):
                recs.append((os.path.getmtime(os.path.join(d, fn)), r))
    if not recs:
        _log("tracing overhead: no untraced run of this workload, seed, length and settings "
             "to compare with")
        return
    base = max(recs, key=lambda x: x[0])[1]
    untraced = base["e2e"]
    _log(f"tracing overhead (traced - untraced run {base['run_id']}): " + ", ".join(
        f"{k}={traced[k] - untraced[k]:+.6g} {UNITS[k]} ({traced[k] / untraced[k] - 1:+.1%})"
        for k in traced))


if __name__ == "__main__":
    sys.exit(main())
