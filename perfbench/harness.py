"""Pieces every workload shares: host-sized session settings, the
percentile helper, span tracing, oracle comparison, memory and host
health readings, and the run result."""

from __future__ import annotations

import json
import math
import os
import resource
import statistics
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from dataclasses import dataclass, field

# ---------------------------------------------------------------------------
# percentiles

MIN_BEYOND = 10
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def percentile(samples, q: float) -> dict:
    """Nearest-rank ``q``-th percentile of ``samples``.

    The value is given only when at least ``MIN_BEYOND`` samples rank
    above it; otherwise it is None.  The sample count is always given.
    """
    xs = sorted(samples)
    n = len(xs)
    rank = max(1, math.ceil(q / 100.0 * n))
    ok = n > 0 and n - rank >= MIN_BEYOND
    return {"q": q, "value": xs[rank - 1] if ok else None, "n": n}


def tail(samples, pct=percentile) -> dict:
    """The highest percentile of ``TAIL_LADDER`` that ``pct`` supports;
    ``q`` is None when even the median is unsupported."""
    for q in TAIL_LADDER:
        p = pct(samples, q)
        if p["value"] is not None:
            return p
    return {"q": None, "value": None, "n": len(samples)}


def grouped(samples_by_group: dict, q: float) -> dict:
    """Percentile over per-sample values whose support is counted in
    groups: the stream's matches share the commit time of their
    micro-batch, so ``n`` is the number of groups (emitting batches),
    and the percentile is reported only when ``MIN_BEYOND`` groups lie
    wholly above it."""
    flat = sorted(v for vs in samples_by_group.values() for v in vs)
    n = len(samples_by_group)
    if not flat:
        return {"q": q, "value": None, "n": n}
    v = flat[max(1, math.ceil(q / 100.0 * len(flat))) - 1]
    beyond = sum(1 for vs in samples_by_group.values() if min(vs) > v)
    return {"q": q, "value": v if beyond >= MIN_BEYOND else None, "n": n}


def fmt_pct(p: dict, unit: str) -> str:
    q = "tail" if p["q"] is None else f"p{p['q']:g}"
    if p["value"] is None:
        return f"{q}=unsupported (n={p['n']})"
    return f"{q}={p['value']:.6g} {unit} (n={p['n']})"


def summary(samples, unit: str) -> str:
    """Median (when supported) and mean of ``samples``, with the count."""
    mean = f" mean={sum(samples) / len(samples):.6g} {unit}" if samples else ""
    return fmt_pct(percentile(samples, 50), unit) + mean


# ---------------------------------------------------------------------------
# host sizing


def host_settings() -> dict:
    """Session settings derived from this host's CPUs and memory, so the
    parent and the change run with identical settings on one host.

    Spark gets half the CPUs as task slots: a ``mapInPandas`` task keeps
    its JVM thread and a Python worker busy at once, so ``local[cpus]``
    would run about twice as many busy threads as there are CPUs, and
    the timings would follow the scheduler and the JIT's catch-up
    rather than the program."""
    cpus = len(os.sched_getaffinity(0))
    slots = max(1, cpus // 2)
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    driver_mb = min(8192, max(1024, mem_kb // 1024 // 4))
    return {
        "master": f"local[{slots}]",
        "cpus": cpus,
        "shuffle_partitions": slots,
        "driver_memory": f"{driver_mb}m",
        "mem_total_mb": mem_kb // 1024,
    }


def start_session(settings: dict, work: str):
    """SparkSession with every scratch path inside ``work``."""
    from cep_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spark = get_spark(
        settings["master"],
        app_name="perfbench",
        shuffle_partitions=settings["shuffle_partitions"],
        driver_memory=settings["driver_memory"],
        extra_conf={
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Shut the Py4J gateway down and wait for the JVM (and the Python
    workers it forked) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None


def jvm_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def peak_rss_mb(pid: int | None) -> float:
    """The JVM's VmHWM plus this process's peak RSS, in MB."""
    own_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    if pid is not None:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    return (own_kb + jvm_kb) / 1024.0


def cpu_health() -> float:
    """Single-core busy-loop rate, M iterations/s (bench_scaling's probe)."""
    from bench_scaling import cpu_health_mips

    return cpu_health_mips(0.25)


# Host speed the gated times are scaled to, in the probe's M iterations/s.
REF_MIPS = 10.0
PROBE_S = 0.03


class HostSpeed:
    """Short busy-loop probes (bench_scaling's) taken while the program
    under test is idle.

    The shared host switches between regimes about twice apart in speed
    for minutes at a time (a busy-loop probe's rate halves or doubles),
    and the program's wall times follow it: the same code gave 88k and
    200k catalog rows/s ten minutes apart.  ``scale`` is the run's mean
    probe over ``REF_MIPS``; a wall time times ``scale`` is that time on
    a host running at the reference speed."""

    def __init__(self):
        self.samples: list[float] = []

    def sample(self, n: int = 1) -> None:
        from bench_scaling import cpu_health_mips

        self.samples.extend(cpu_health_mips(PROBE_S) for _ in range(n))

    def scale(self) -> float:
        """Mean probe rate over ``REF_MIPS``.  Over six sets of ten runs,
        three of each workload, the scaled rows/s spread at most 0.102
        IQR/median with the mean, 0.164 with the median and 0.116-0.146
        with trimmed means: the probe's rate has two peaks, and a shift
        in their balance moves the median in jumps."""
        return statistics.fmean(self.samples) / REF_MIPS


# ---------------------------------------------------------------------------
# tracing


class Tracer:
    """In-memory spans (name, start, end, parent, run id), written out
    once when the run ends."""

    enabled = True

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "run": self.run_id}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_times(self) -> dict:
        """Seconds per span name, minus the time covered by child spans."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict = {}
        for i, s in enumerate(self.spans):
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"] - child[i])
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


class NullTracer(Tracer):
    """Tracing off: spans cost one generator frame and record nothing."""

    enabled = False

    @contextmanager
    def span(self, name: str):
        yield None


# ---------------------------------------------------------------------------
# oracle comparison


def canon_rows(cols, rows):
    """Order-free canonical form of a result: (sorted rows, sorted cols).

    Uses the correctness sweep's canonicalisation, so the benchmark and
    the sweep agree on what "equal" means."""
    from sweep_correctness import _rows

    return _rows(list(cols), [tuple(r) for r in rows])


def collect_rows(df) -> tuple:
    """(columns, rows of Python values) of a DataFrame, through Arrow."""
    pdf = df.toPandas()
    cols = list(pdf.columns)
    return cols, list(zip(*(pdf[c].tolist() for c in cols)))


def same_multiset(a, b) -> bool:
    """Both arguments are ``canon_rows`` results."""
    return a[1] == b[1] and a[0] == b[0]


# ---------------------------------------------------------------------------
# result


@dataclass
class Outcome:
    """Attempted and failed operations, with the reasons for failures."""

    attempted: int = 0
    failed: int = 0
    reasons: list = field(default_factory=list)

    def record(self, ok: bool, why: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.reasons.append(why)

    def fail_ratio(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0


def concurrently(fns) -> list:
    """Results of the callables ``fns``, run on one thread each."""
    with ThreadPoolExecutor(len(fns)) as pool:
        return [f.result() for f in [pool.submit(fn) for fn in fns]]


def timed(fn, *args, **kwargs):
    t = time.perf_counter()
    out = fn(*args, **kwargs)
    return out, time.perf_counter() - t
