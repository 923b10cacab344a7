"""Driver-side build cost of ``queries()`` entries, without a profiler.

For each named ``__spark_entry__.queries()`` entry, times building its
DataFrame (the entry call, which plans on the driver) apart from
executing it (``count()``), and counts the Py4J round trips the build
makes.  Prints one JSON line:

    python scripts/probe_query_build.py --sf-dir /root/testdata/sf0.1

The default entries are the six of the perfbench ``catalog-sf0.1``
workload, and the default session matches its settings (``local[2]``,
2 shuffle partitions).  One untimed build and count of every entry warms
the JVM and starts the workers; then ``--rounds`` rounds run every entry
in turn.  Per entry the line carries the median build ms, execute s and
Py4J round trips of a build; ``round`` sums the medians.  Round trips
are counted by wrapping ``py4j.clientserver.ClientServerConnection
.send_command`` inside this process only.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CATALOG = ("cep_seq3_cond", "cep_neg", "cep_kleene_and_group", "cep_multi_shared",
           "win_session", "doc_simhash_pairs")


class _Counter:
    """Counts ``send_command`` calls while installed."""

    def __init__(self):
        from py4j.clientserver import ClientServerConnection

        self.cls, self.n = ClientServerConnection, 0
        self.orig = ClientServerConnection.send_command

    def __enter__(self):
        orig = self.orig

        def send_command(conn, command):
            self.n += 1
            return orig(conn, command)

        self.cls.send_command = send_command
        return self

    def __exit__(self, *exc):
        self.cls.send_command = self.orig


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--entries", default=",".join(CATALOG),
                    help="comma-separated queries() names")
    ap.add_argument("--master", default="local[2]")
    ap.add_argument("--shuffle-partitions", type=int, default=2)
    ap.add_argument("--rounds", type=int, default=7)
    args = ap.parse_args(argv)

    import __spark_entry__ as E
    from cep_spark.session import get_spark

    names = [n for n in args.entries.split(",") if n]
    queries = E.queries()
    spark = get_spark(args.master, app_name="probe-query-build",
                      shuffle_partitions=args.shuffle_partitions)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        for n in names:
            queries[n](spark, args.sf_dir).count()
        build_ms = {n: [] for n in names}
        exec_s = {n: [] for n in names}
        calls = {n: [] for n in names}
        for _ in range(args.rounds):
            for n in names:
                with _Counter() as c:
                    t0 = time.perf_counter()
                    df = queries[n](spark, args.sf_dir)
                    t1 = time.perf_counter()
                df.count()
                exec_s[n].append(time.perf_counter() - t1)
                build_ms[n].append((t1 - t0) * 1e3)
                calls[n].append(c.n)
    finally:
        spark.stop()
    med = statistics.median
    entries = {n: {"build_ms": round(med(build_ms[n]), 1),
                   "exec_s": round(med(exec_s[n]), 3),
                   "py4j_calls": int(med(calls[n]))} for n in names}
    print(json.dumps({
        "master": args.master,
        "shuffle_partitions": args.shuffle_partitions,
        "rounds": args.rounds,
        "entries": entries,
        "round": {k: round(sum(e[k] for e in entries.values()), 3)
                  for k in ("build_ms", "exec_s", "py4j_calls")},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
