"""Where a catalog query's time goes, stage by stage, from Spark's event log.

Runs the six entries of the perfbench ``catalog-sf0.1`` workload in one
``get_spark`` session with Spark's event log on (uncompressed, in a
temporary directory, one file), then reads the log back and prints one JSON line
per entry:

    python scripts/probe_catalog_stages.py --rounds 7

Each entry runs once untimed (collect, then count) to warm the JVM and
start the workers; then ``--rounds`` rounds run every entry's
``count()`` in turn, one at a time, so the jobs Spark logs between an
execution's start and end are that execution's.  Per entry, medians
over the rounds of:

* ``wall_ms``: the execution as timed in Python;
* ``pre_job_ms``: driver time from the call to the first job's
  submission (plan build, analysis, AQE planning);
* ``jobs``: per job in submission order, its wall time and, per stage
  it ran (skipped stages are not listed), the stage's wall time, task
  count and the plan operators it ran (from its RDDs' scopes);
* ``gaps_ms``: driver time between one job's end and the next job's
  submission, and after the last job until the call returned.

``single_task`` lists the stages that ran as one task: on a ``local[2]``
session those leave a slot idle.  Rounds whose job count differs from
the most common one (AQE may re-plan) are left out of the medians;
``rounds`` says how many were kept.  Inputs are perfbench's seeded
tables (``--seed``), staged under the temporary directory, unless
``--sf-dir`` names a directory holding ``events.parquet`` and
``documents.parquet``.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from collections import Counter

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "perfbench"))


def _events(log_dir: str) -> list:
    (path,) = glob.glob(os.path.join(log_dir, "*"))
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def _operators(stage_info: dict) -> str:
    """The plan operators a stage ran, from its RDDs' scopes, in RDD
    order ("Scan parquet > WholeStageCodegen (1) > Exchange")."""
    names = []
    for rdd in sorted(stage_info["RDD Info"], key=lambda r: r["RDD ID"]):
        name = json.loads(rdd["Scope"])["name"] if rdd.get("Scope") else rdd["Name"]
        if not names or names[-1] != name:
            names.append(name)
    return " > ".join(names)


def _jobs(events: list) -> list:
    """[(submit ms, end ms, [(stage submit ms, stage end ms, tasks, name)])]
    in submission order."""
    starts, ends, stages = {}, {}, {}
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            starts[e["Job ID"]] = (e["Submission Time"], e["Stage IDs"])
        elif kind == "SparkListenerJobEnd":
            ends[e["Job ID"]] = e["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            s = e["Stage Info"]
            if s.get("Submission Time") is not None:
                stages[s["Stage ID"]] = (s["Submission Time"], s["Completion Time"],
                                         s["Number of Tasks"], _operators(s))
    out = []
    for jid, (t0, sids) in sorted(starts.items(), key=lambda kv: kv[1][0]):
        out.append((t0, ends[jid], [stages[s] for s in sorted(sids) if s in stages]))
    return out


def _med(xs) -> float:
    return round(statistics.median(xs), 1)


def _summary(runs: list) -> dict:
    """Medians over ``runs``: [(call start ms, call end ms, jobs)]."""
    shape = Counter(tuple(len(st) for _, _, st in jobs) for _, _, jobs in runs)
    keep = shape.most_common(1)[0][0]
    runs = [r for r in runs if tuple(len(st) for _, _, st in r[2]) == keep]
    out = {
        "rounds": len(runs),
        "wall_ms": _med([t1 - t0 for t0, t1, _ in runs]),
        "pre_job_ms": _med([jobs[0][0] - t0 for t0, _, jobs in runs]) if keep else None,
        "jobs": [],
        "gaps_ms": [],
        "single_task": [],
    }
    for j in range(len(keep)):
        stages = []
        for s in range(keep[j]):
            tasks = Counter(r[2][j][2][s][2] for r in runs).most_common(1)[0][0]
            name = runs[0][2][j][2][s][3]
            stages.append({"ms": _med([r[2][j][2][s][1] - r[2][j][2][s][0] for r in runs]),
                           "tasks": tasks, "name": name})
            if tasks == 1:
                out["single_task"].append(f"job {j} stage {s}: {name}")
        out["jobs"].append({"ms": _med([r[2][j][1] - r[2][j][0] for r in runs]),
                            "stages": stages})
        nxt = [(r[2][j + 1][0] if j + 1 < len(keep) else r[1]) - r[2][j][1] for r in runs]
        out["gaps_ms"].append(_med(nxt))
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--rounds", type=int, default=7)
    ap.add_argument("--master", default="local[2]")
    ap.add_argument("--partitions", type=int, default=2)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--sf-dir", default=None)
    args = ap.parse_args(argv)

    from catalog import ENTRIES, N_DOCS, N_EVENTS
    from data import gen_documents, gen_events, stage

    import __spark_entry__ as E
    from cep_spark.session import get_spark

    tmp = tempfile.mkdtemp(prefix="probe-stages-")
    try:
        sf_dir = args.sf_dir or stage(
            os.path.join(tmp, "inputs"), "sf0.1", args.seed, N_EVENTS,
            {"events": gen_events(args.seed, N_EVENTS),
             "documents": gen_documents(args.seed, N_DOCS, N_DOCS // 20)})
        log_dir = os.path.join(tmp, "eventlog")
        os.makedirs(log_dir)
        spark = get_spark(args.master, app_name="probe-catalog-stages",
                          shuffle_partitions=args.partitions,
                          extra_conf={"spark.eventLog.enabled": "true",
                                      "spark.eventLog.dir": log_dir,
                                      "spark.eventLog.compress": "false",
                                      "spark.eventLog.rolling.enabled": "false"})
        spark.sparkContext.setLogLevel("ERROR")
        queries = E.queries()
        calls = {name: [] for name in ENTRIES}
        try:
            for name in ENTRIES:
                queries[name](spark, sf_dir).collect()
                queries[name](spark, sf_dir).count()
            for _ in range(args.rounds):
                for name in ENTRIES:
                    t0 = time.time() * 1000
                    queries[name](spark, sf_dir).count()
                    calls[name].append((t0, time.time() * 1000))
        finally:
            spark.stop()
        jobs = _jobs(_events(log_dir))
        for name in ENTRIES:
            runs = [(t0, t1, [j for j in jobs if t0 <= j[0] <= t1])
                    for t0, t1 in calls[name]]
            print(json.dumps({"entry": name, **_summary(runs)}))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
