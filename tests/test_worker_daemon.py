"""The Python-worker daemon (``lakeshed._daemon``) and its import root.

Every session forks its Python workers from ``lakeshed._daemon``, so the
daemon must start wherever the driver runs, and the import-cache change it
makes must keep what ``importlib.invalidate_caches()`` is there for:
modules shipped mid-session with ``addPyFile``.
"""

from __future__ import annotations

import importlib
import importlib.machinery
import os
import subprocess
import sys
import textwrap
import uuid
import zipfile
import zipimport

from pyspark.sql import functions as F

from lakeshed import _daemon

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_daemon_starts_from_foreign_cwd(tmp_path):
    """A driver whose cwd is not the repo root and that finds lakeshed only
    through ``sys.path.insert`` (no ``PYTHONPATH``) still runs Python UDFs:
    the workers find ``lakeshed._daemon`` through the executorEnv entry,
    and a caller's own ``spark.executorEnv.PYTHONPATH`` survives beside it."""
    extra = tmp_path / "extra"
    extra.mkdir()
    (extra / "caller_mod.py").write_text("OFFSET = 100\n")
    script = tmp_path / "drive.py"
    script.write_text(textwrap.dedent(f"""
        import importlib.util, sys
        assert importlib.util.find_spec("lakeshed") is None
        sys.path.insert(0, {ROOT!r})
        from lakeshed import get_spark
        from pyspark.sql import functions as F

        spark = get_spark("daemon-cwd", master="local[2]", extra_conf={{
            "spark.executorEnv.PYTHONPATH": {str(extra)!r}}})

        def f(x):
            import caller_mod
            return x * 2 + caller_mod.OFFSET

        udf = F.udf(f, "long")
        plain = F.udf(lambda x: x + 1, "long")
        rows = spark.range(6).select(udf("id"), plain("id")).collect()
        print(sorted(tuple(r) for r in rows))
        spark.stop()
    """))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["LAKESHED_WAREHOUSE"] = str(tmp_path / "wh")
    out = subprocess.run(
        [sys.executable, str(script)], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-3000:]
    want = sorted((x * 2 + 100, x + 1) for x in range(6))
    assert out.stdout.strip().splitlines()[-1] == str(want)


def test_add_py_file_after_workers_started(spark, tmp_path):
    """Modules shipped with ``addPyFile`` after the workers are up and
    cached their importers — a ``.py`` (lands in a directory already on
    the worker's ``sys.path``) and a ``.zip`` (a new path entry) — both
    import inside a UDF on every partition."""
    sc = spark.sparkContext
    parts = 8
    warm = F.udf(lambda x: x, "long")
    assert spark.range(64, numPartitions=parts).select(warm("id")).count() == 64

    tag = uuid.uuid4().hex[:10]
    py_name, zip_name = f"shipped_py_{tag}", f"shipped_zip_{tag}"
    py_file = tmp_path / f"{py_name}.py"
    py_file.write_text("VALUE = 7\n")
    zip_file = tmp_path / f"{zip_name}.zip"
    with zipfile.ZipFile(zip_file, "w") as zf:
        zf.writestr(f"{zip_name}/__init__.py", "VALUE = 11\n")
    sc.addPyFile(str(py_file))
    sc.addPyFile(str(zip_file))

    def f(x):
        return (importlib.import_module(py_name).VALUE
                + importlib.import_module(zip_name).VALUE + x)

    got = spark.range(64, numPartitions=parts).select(
        F.udf(f, "long")("id").alias("v")).collect()
    assert sorted(r.v for r in got) == [18 + x for x in range(64)]


def _zip(path, name):
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr(f"{name}.py", "X = 1\n")
    return str(path)


def test_invalidate_caches_keeps_zipimporters(tmp_path, monkeypatch):
    """No Spark: the wrapper leaves cached zipimporters (and the archive
    directory each read) untouched, while FileFinders are still invalidated
    and entries under relative or ``None`` keys are still dropped — as the
    real ``importlib.invalidate_caches`` does."""
    monkeypatch.setattr(sys, "path_importer_cache", {})
    monkeypatch.chdir(tmp_path)
    cache = sys.path_importer_cache

    zip_path = _zip(tmp_path / "kept.zip", "kept_mod")
    kept = zipimport.zipimporter(zip_path)
    cache[zip_path] = kept
    files = kept._files

    src = tmp_path / "src"
    src.mkdir()
    finder = importlib.machinery.FileFinder(
        str(src), (importlib.machinery.SourceFileLoader, [".py"]))
    finder.find_spec("nothing_here")  # fills the directory cache
    assert finder._path_mtime != -1
    cache[str(src)] = finder

    _zip(tmp_path / "rel.zip", "rel_mod")
    cache["rel.zip"] = zipimport.zipimporter("rel.zip")
    cache["src"] = importlib.machinery.FileFinder("src")
    cache[str(tmp_path / "missing")] = None

    reads = []
    real_read = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda archive: reads.append(archive) or real_read(archive))

    _daemon.invalidate_caches()

    assert cache[zip_path] is kept
    assert kept._files is files
    assert reads == []
    assert cache[str(src)] is finder
    assert finder._path_mtime == -1
    assert set(cache) == {zip_path, str(src)}

    # the stock function re-reads the archive: what the wrapper avoids
    importlib.invalidate_caches()
    assert reads == [zip_path]
    assert kept._files is not files
