"""`worker_daemon`: engine sessions fork their Python workers from it, and
its `invalidate_caches` re-reads a zip archive only after the archive
changed on disk."""

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

from sparkml_som_spark import worker_daemon

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

needs_patch = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="3.13's zipimport no longer re-reads on invalidate"
)


def _write_zip(path, files):
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in files.items():
            z.writestr(name, src)
    os.replace(tmp, path)


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A zip archive holding package `wdpkg`, on sys.path, with the engine's
    `invalidate_caches` installed and no stamps recorded yet."""
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"wdpkg/__init__.py": "A = 1\n", "wdpkg/first.py": ""})
    monkeypatch.setattr(worker_daemon, "_stamps", {})
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", worker_daemon.invalidate_caches)
    monkeypatch.syspath_prepend(archive)
    yield archive
    for name in [m for m in sys.modules if m == "wdpkg" or m.startswith("wdpkg.")]:
        del sys.modules[name]
    for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
        del sys.path_importer_cache[key]
    zipimport._zip_directory_cache.pop(archive, None)


def test_importing_the_engine_leaves_the_daemon_module_unloaded():
    # `python -m sparkml_som_spark.worker_daemon` imports the package
    # first; were the daemon module loaded by then, runpy would warn
    # ("found in sys.modules") at every session start
    script = (
        "import sys, sparkml_som_spark, sparkml_som_spark.sources, sparkml_som_spark.session\n"
        "assert 'sparkml_som_spark.worker_daemon' not in sys.modules\n"
    )
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(p for p in (REPO, env.get("PYTHONPATH")) if p)
    proc = subprocess.run([sys.executable, "-c", script], env=env, capture_output=True, text=True, timeout=120)
    assert proc.returncode == 0, proc.stderr[-3000:]


def test_unchanged_archive_is_not_reread(zip_on_path, monkeypatch):
    import wdpkg.first  # noqa: F401

    importlib.invalidate_caches()  # first call reads each archive and stamps it
    reads = []
    stdlib_read = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return stdlib_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == []


def test_rewritten_archive_is_reread(zip_on_path):
    import wdpkg.first  # noqa: F401  (gives the package its own importer)

    importlib.invalidate_caches()
    # both importers of the archive must see the new module, whichever of
    # them re-read it first
    _write_zip(zip_on_path, {"wdpkg/__init__.py": "A = 1\n", "wdpkg/late.py": "B = 2\n"})
    importlib.invalidate_caches()
    from wdpkg import late

    assert late.B == 2


@needs_patch
def test_pandas_and_rdd_workers_run_the_engine_invalidate(spark):
    import pandas as pd
    from pyspark.sql import functions as F

    def where():
        import zipimport

        code = zipimport.zipimporter.invalidate_caches.__code__
        return f"{os.path.realpath(code.co_filename)}:{code.co_name}"

    @F.pandas_udf("string")
    def udf_where(s: pd.Series) -> pd.Series:
        return pd.Series([where()] * len(s))

    want = [f"{os.path.realpath(worker_daemon.__file__)}:invalidate_caches"]
    udf_rows = spark.range(4).repartition(2).select(udf_where("id").alias("f")).distinct().collect()
    assert [r.f for r in udf_rows] == want
    rdd = spark.sparkContext.parallelize(range(4), 2).mapPartitions(lambda _: [where()])
    assert sorted(set(rdd.collect())) == want


@needs_patch
def test_workers_import_the_daemon_via_pythonpath_from_any_cwd(tmp_path):
    # a subprocess, cwd outside the checkout: the daemon module is found
    # only through PYTHONPATH, as it is for pickled engine UDFs
    script = textwrap.dedent(
        """
        import pandas as pd
        from pyspark.sql import functions as F
        from sparkml_som_spark.session import get_spark

        spark = get_spark("daemon-test", cores=1)

        @F.pandas_udf("string")
        def where(s: pd.Series) -> pd.Series:
            import os, zipimport

            code = zipimport.zipimporter.invalidate_caches.__code__
            return pd.Series([os.path.realpath(code.co_filename)] * len(s))

        rows = spark.range(3).select(where("id").alias("f")).distinct().collect()
        spark.stop()
        assert [r.f for r in rows] == [__import__("sys").argv[1]], rows
        """
    )
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(p for p in (REPO, env.get("PYTHONPATH")) if p)
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    proc = subprocess.run(
        [sys.executable, "-c", script, os.path.realpath(worker_daemon.__file__)],
        env=env,
        cwd=str(tmp_path),
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]


def test_workers_find_the_engine_from_any_cwd_without_pythonpath(tmp_path):
    # a subprocess, cwd outside the checkout, PYTHONPATH unset: only the
    # driver's sys.path points at the checkout, so the workers (the daemon
    # included) find the engine through the session's executor env alone
    script = textwrap.dedent(
        """
        import sys

        sys.path.insert(0, sys.argv[1])
        import pandas as pd
        from pyspark.sql import functions as F
        from sparkml_som_spark.session import get_spark

        spark = get_spark("daemon-cwd-test", cores=1)
        got = spark.sparkContext.parallelize([1, 2]).map(lambda x: x + 1).collect()

        @F.pandas_udf("long")
        def plus_one(s: pd.Series) -> pd.Series:
            return s + 1

        rows = spark.range(3).select(plus_one("id").alias("v")).collect()
        spark.stop()
        assert got == [2, 3], got
        assert sorted(r.v for r in rows) == [1, 2, 3], rows
        """
    )
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    proc = subprocess.run(
        [sys.executable, "-c", script, REPO],
        env=env,
        cwd=str(tmp_path),
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
