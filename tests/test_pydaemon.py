"""The Python worker daemon (cep_spark/_pydaemon.py): stat-keyed zip
directory reuse, its use by get_spark sessions, and a light import."""

import importlib
import json
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

from cep_spark import _pydaemon

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_pkg(path, value: str) -> None:
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("zpkg/__init__.py", "")
        z.writestr("zpkg/sub/__init__.py", "")
        z.writestr("zpkg/sub/mod.py", f"VALUE = {value!r}\n")


def _import_value():
    for m in ("zpkg.sub.mod", "zpkg.sub", "zpkg"):
        sys.modules.pop(m, None)
    return importlib.import_module("zpkg.sub.mod").VALUE


@pytest.fixture
def zip_pkg(tmp_path, monkeypatch):
    """A zip package on sys.path with the unpatched zipimporter method;
    everything is restored at teardown."""
    archive = str(tmp_path / "pkg.zip")
    _write_pkg(archive, "one")
    original = zipimport.zipimporter.invalidate_caches
    original = getattr(original, "__wrapped__", original)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", original)
    monkeypatch.syspath_prepend(archive)
    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    yield archive, reads
    for m in ("zpkg.sub.mod", "zpkg.sub", "zpkg"):
        sys.modules.pop(m, None)
    for k in [k for k in sys.path_importer_cache if k.startswith(archive)]:
        del sys.path_importer_cache[k]
    zipimport._zip_directory_cache.pop(archive, None)


def test_unchanged_archive_is_not_reread(zip_pkg):
    archive, reads = zip_pkg
    assert _import_value() == "one"
    importers = [v for k, v in sys.path_importer_cache.items()
                 if k.startswith(archive) and isinstance(v, zipimport.zipimporter)]
    assert len(importers) >= 2  # the archive root and the sub-package

    reads.clear()
    importlib.invalidate_caches()
    assert reads.count(archive) == len(importers)  # unpatched: once per importer

    assert _pydaemon.install() and _pydaemon.installed()
    importlib.invalidate_caches()  # first call reads once and stamps
    reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert archive not in reads
    assert _import_value() == "one"


def test_rewritten_archive_is_reread(zip_pkg):
    archive, reads = zip_pkg
    assert _pydaemon.install()
    assert _import_value() == "one"
    importlib.invalidate_caches()

    _write_pkg(archive, "two, rewritten")
    reads.clear()
    importlib.invalidate_caches()
    assert archive in reads
    assert _import_value() == "two, rewritten"


def test_falls_back_without_zipimport_internals(monkeypatch):
    original = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        getattr(original, "__wrapped__", original))
    monkeypatch.delattr(zipimport, "_zip_directory_cache")
    assert not _pydaemon.install()
    assert not _pydaemon.installed()


def test_daemon_import_is_light():
    code = ("import sys, cep_spark._pydaemon; "
            "print([m for m in ('numpy', 'pandas', 'pyarrow') if m in sys.modules])")
    out = subprocess.run([sys.executable, "-c", code], cwd=REPO, capture_output=True,
                         text=True, check=True)
    assert out.stdout.strip() == "[]"


def test_get_spark_workers_run_patched_method(tmp_path):
    """A get_spark session started outside the repo: its Python workers
    import the daemon through spark.executorEnv.PYTHONPATH."""
    script = textwrap.dedent(f"""
        import json, sys
        sys.path.insert(0, {REPO!r})
        from cep_spark.session import get_spark

        def probe(_):
            import os
            from cep_spark._pydaemon import installed
            yield (installed(), os.getcwd())

        spark = get_spark("local[1]", app_name="pydaemon-test")
        spark.sparkContext.setLogLevel("ERROR")
        out = spark.sparkContext.parallelize(range(2), 2).mapPartitions(probe).collect()
        spark.stop()
        print(json.dumps(out))
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    res = subprocess.run([sys.executable, "-c", script], cwd=tmp_path, env=env,
                         capture_output=True, text=True, timeout=300)
    assert res.returncode == 0, res.stderr[-3000:]
    out = json.loads(res.stdout.strip().splitlines()[-1])
    assert [ok for ok, _ in out] == [True, True]
    assert all(not cwd.startswith(REPO) for _, cwd in out)
