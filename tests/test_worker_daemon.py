"""The Python-worker daemon's zip guard, alone and inside Spark tasks."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

from flink_release_1_10_0_spark import worker_daemon

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

needs_eager_zip_cache = pytest.mark.skipif(
    sys.version_info >= (3, 12),
    reason="CPython 3.12+ re-reads zip archives lazily; the guard is not installed")


def _write_archive(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, source in modules.items():
            zf.writestr(f"{name}.py", source)


@needs_eager_zip_cache
def test_zip_guard_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    archive = str(tmp_path / "guarded_mods.zip")
    _write_archive(archive, {"guard_mod_a": "VALUE = 'a'\n"})
    reads = []
    unguarded_read = zipimport._read_directory

    def counting_read(path):
        if path == archive:
            reads.append(path)
        return unguarded_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        worker_daemon.guarded_invalidate_caches)
    monkeypatch.syspath_prepend(archive)
    try:
        import guard_mod_a
        assert guard_mod_a.VALUE == "a"
        importlib.invalidate_caches()       # first sight: read once, stamp it
        seen = len(reads)
        for _ in range(3):
            importlib.invalidate_caches()
        assert len(reads) == seen, "an unchanged archive was re-read"

        _write_archive(archive, {"guard_mod_a": "VALUE = 'a'\n",
                                 "guard_mod_b": "VALUE = 'b'\n"})
        importlib.invalidate_caches()
        assert len(reads) > seen, "a rewritten archive was not re-read"
        import guard_mod_b
        assert guard_mod_b.VALUE == "b"
    finally:
        for name in ("guard_mod_a", "guard_mod_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)


def test_install_is_a_no_op_where_zip_caches_are_lazy(monkeypatch):
    unguarded = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", unguarded)
    installed = worker_daemon.install()
    assert installed == (sys.version_info < (3, 12))
    expected = worker_daemon.guarded_invalidate_caches if installed else unguarded
    assert zipimport.zipimporter.invalidate_caches is expected


@needs_eager_zip_cache
def test_pandas_udf_tasks_run_under_the_guard(spark):
    import pandas as pd

    def guard_name(batches):
        import zipimport
        name = zipimport.zipimporter.invalidate_caches.__name__
        for pdf in batches:
            yield pd.DataFrame({"fn": [name] * len(pdf)})

    rows = (spark.range(8).repartition(4)
            .mapInPandas(guard_name, "fn string").distinct().collect())
    assert [r.fn for r in rows] == ["guarded_invalidate_caches"]


DRIVER = textwrap.dedent("""
    import sys
    sys.path.insert(0, sys.argv[1])
    import pandas as pd
    from flink_release_1_10_0_spark.session import get_spark

    def guard_name(batches):
        import zipimport
        name = zipimport.zipimporter.invalidate_caches.__name__
        for pdf in batches:
            yield pd.DataFrame({"fn": [name] * len(pdf)})

    spark = get_spark("outside_cwd", cpus=2)
    rows = spark.range(4).repartition(2).mapInPandas(guard_name, "fn string").collect()
    print("GUARD", sorted({r.fn for r in rows}))
    spark.stop()
""")


@needs_eager_zip_cache
def test_workers_find_the_daemon_from_a_cwd_outside_the_repo(tmp_path):
    """The driver finds the package through sys.path alone; the workers
    must import the daemon module all the same."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    out = subprocess.run([sys.executable, "-c", DRIVER, REPO], cwd=tmp_path, env=env,
                         capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-3000:]
    assert "GUARD ['guarded_invalidate_caches']" in out.stdout
