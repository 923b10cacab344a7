"""Session defaults (call-site capture off), the schema-memoizing
parquet reader, and engine-code shipping by reference or by value."""

import json
import os
import subprocess
import sys
import textwrap
import uuid
from datetime import timedelta

import pandas as pd
from conftest import SF_SMOKE

from cep_spark.session import forget_schemas, read_parquet

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DEBUG_CONF = "spark.python.sql.dataFrameDebugging.enabled"


def _write_part(dir_path, name: str, lo: int, hi: int) -> None:
    os.makedirs(dir_path, exist_ok=True)
    pd.DataFrame({"id": range(lo, hi), "v": [float(i) for i in range(lo, hi)]}).to_parquet(
        os.path.join(dir_path, name), index=False)


def _jobs(spark, fn):
    """Result of ``fn()`` and the Spark jobs it launched."""
    sc = spark.sparkContext
    gid = f"test-session-{uuid.uuid4().hex}"
    sc.setJobGroup(gid, "read_parquet probe")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(gid))


def test_second_read_launches_no_job(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    _write_part(path, "part-0.parquet", 0, 10)
    first, n1 = _jobs(spark, lambda: read_parquet(spark, path))
    second, n2 = _jobs(spark, lambda: read_parquet(spark, path))
    assert n1 >= 1  # inference runs a job, so the count is live
    assert n2 == 0
    assert second.schema == first.schema
    assert second.count() == 10


def test_added_file_is_read(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    _write_part(path, "part-0.parquet", 0, 10)
    assert read_parquet(spark, path).count() == 10
    _write_part(path, "part-1.parquet", 10, 15)
    df = read_parquet(spark, path)
    assert df.count() == 15
    assert df.agg({"id": "max"}).first()[0] == 14


def test_release_caches_forgets_schemas(spark, tmp_path):
    from cep_spark.pipeline import release_caches

    path = str(tmp_path / "t.parquet")
    _write_part(path, "part-0.parquet", 0, 3)
    read_parquet(spark, path)
    release_caches()
    _, n = _jobs(spark, lambda: read_parquet(spark, path))
    assert n >= 1
    assert forget_schemas() == 1


def test_get_spark_disables_call_site_capture(spark):
    from pyspark.errors.utils import is_debugging_enabled

    assert spark.conf.get(DEBUG_CONF) == "false"
    assert not is_debugging_enabled()


def _run_outside_repo(tmp_path, script: str) -> list:
    """Run ``script`` in a fresh interpreter from ``tmp_path`` with no
    PYTHONPATH; returns the JSON its last stdout line holds."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    res = subprocess.run([sys.executable, "-c", textwrap.dedent(script)], cwd=tmp_path,
                         env=env, capture_output=True, text=True, timeout=300)
    assert res.returncode == 0, res.stderr[-3000:]
    return json.loads(res.stdout.strip().splitlines()[-1])


def test_new_application_reinfers_and_extra_conf_restores_capture(tmp_path):
    """Two applications in one process: the second infers the schema
    again; ``extra_conf`` turns call-site capture back on."""
    path = str(tmp_path / "t.parquet")
    _write_part(path, "part-0.parquet", 0, 4)
    out = _run_outside_repo(tmp_path, f"""
        import json, sys, uuid
        sys.path.insert(0, {REPO!r})
        from cep_spark.session import get_spark, read_parquet

        def jobs(spark):
            sc = spark.sparkContext
            gid = uuid.uuid4().hex
            sc.setJobGroup(gid, "probe")
            read_parquet(spark, {path!r})
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            return len(sc.statusTracker().getJobIdsForGroup(gid))

        out = []
        for extra in ({{{DEBUG_CONF!r}: "true"}}, None):
            spark = get_spark("local[1]", app_name="session-test", extra_conf=extra)
            spark.sparkContext.setLogLevel("ERROR")
            out.append([spark.conf.get({DEBUG_CONF!r}), jobs(spark), jobs(spark)])
            spark.stop()
        print(json.dumps(out))
    """)
    (debug1, first1, again1), (debug2, first2, again2) = out
    assert (debug1, debug2) == ("true", "false")
    assert first1 >= 1 and again1 == 0
    assert first2 >= 1 and again2 == 0


def test_get_spark_ships_engine_by_reference(spark, events_df):
    from pyspark import cloudpickle

    from cep_spark import Ev, Pattern, Seq, compile_pattern, run_batch

    cp = compile_pattern(Pattern(
        Seq(Ev("a", event_type="signup"), Ev("b", event_type="purchase")),
        window=timedelta(hours=24), key="user_id", ts_col="ts", tiebreak_col="event_id"))
    assert run_batch(events_df, cp, mode="flat").count() == 88
    assert not [m for m in cloudpickle.list_registry_pickle_by_value()
                if m.startswith("cep_spark")]


def test_session_without_package_path_runs_nfa(tmp_path):
    """A plain SparkSession (stock worker daemon, no executor PYTHONPATH)
    started outside the repo: its workers cannot import cep_spark, so
    the engine ships by value and the NFA query still runs."""
    out = _run_outside_repo(tmp_path, f"""
        import json, sys
        sys.path.insert(0, {REPO!r})
        from datetime import timedelta
        from pyspark.sql import SparkSession
        from cep_spark import Ev, Pattern, Seq, compile_pattern, run_batch

        def probe(_):
            import importlib.util
            yield importlib.util.find_spec("cep_spark") is None

        spark = (SparkSession.builder.master("local[1]").appName("by-value-test")
                 .config("spark.ui.enabled", "false").getOrCreate())
        spark.sparkContext.setLogLevel("ERROR")
        absent = spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect()
        pat = Pattern(Seq(Ev("a", event_type="signup"), Ev("b", event_type="purchase")),
                      window=timedelta(hours=24), key="user_id", ts_col="ts",
                      tiebreak_col="event_id")
        ev = spark.read.parquet({SF_SMOKE!r} + "/events.parquet")
        n = run_batch(ev, compile_pattern(pat), mode="flat").count()
        spark.stop()
        print(json.dumps([absent, n]))
    """)
    assert out == [[True], 88]
