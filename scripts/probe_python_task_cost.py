"""Fixed cost of one Python worker task, without a profiler.

Runs an empty ``mapInPandas`` stage and the same stage without Python
over ``--partitions`` partitions of a ``get_spark`` session, ``--repeats``
times each, and prints one JSON line:

    python scripts/probe_python_task_cost.py --master local[2] --partitions 16

``per_task_s`` is the median over repeats of

    (python stage s - JVM-only stage s) / ceil(partitions / slots)

i.e. the time one task slot spends on each Python task beyond the JVM
work of the same stage.  A first, untimed pair warms the JVM and starts
the workers.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--master", default="local[2]")
    ap.add_argument("--partitions", type=int, default=16)
    ap.add_argument("--repeats", type=int, default=5)
    args = ap.parse_args(argv)

    from cep_spark.session import get_spark

    spark = get_spark(args.master, app_name="probe-python-task-cost")
    spark.sparkContext.setLogLevel("ERROR")
    slots = spark.sparkContext.defaultParallelism
    df = spark.range(0, args.partitions, numPartitions=args.partitions)

    def identity(it):
        yield from it

    def python_stage():
        df.mapInPandas(identity, schema=df.schema).write.format("noop").mode("overwrite").save()

    def jvm_stage():
        df.write.format("noop").mode("overwrite").save()

    python_stage(), jvm_stage()
    waves = math.ceil(args.partitions / slots)
    py_s, jvm_s, per_task = [], [], []
    for _ in range(args.repeats):
        py_s.append(_timed(python_stage))
        jvm_s.append(_timed(jvm_stage))
        per_task.append((py_s[-1] - jvm_s[-1]) / waves)
    daemon = spark.conf.get("spark.python.daemon.module", "pyspark.daemon")
    spark.stop()
    print(json.dumps({
        "master": args.master,
        "slots": slots,
        "partitions": args.partitions,
        "repeats": args.repeats,
        "daemon": daemon,
        "python_stage_s": round(statistics.median(py_s), 4),
        "jvm_stage_s": round(statistics.median(jvm_s), 4),
        "per_task_s": round(statistics.median(per_task), 4),
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
