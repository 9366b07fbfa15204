"""The engine's Python worker daemon (``mapreducer_spark.pyworker``) and
the session confs that select it.

The first tests are Spark-free: they import modules from a zip built in
``tmp_path`` and check the stamp rule of the patched
``zipimporter.invalidate_caches`` directly."""

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from mapreducer_spark import pyworker, session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, members: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in members.items():
            z.writestr(name, src)


@pytest.fixture
def zip_archive(tmp_path, monkeypatch):
    """A zip on ``sys.path`` holding a module and a package (two
    zipimporters over one archive), both imported; yields the archive
    path and a dict counting ``_read_directory`` calls per archive.
    Restores ``sys.path``, the import caches and the stock
    ``invalidate_caches`` afterwards."""
    archive = str(tmp_path / "pyworker_mods.zip")
    _write_zip(archive, {
        "pw_first.py": "VALUE = 1\n",
        "pw_pkg/__init__.py": "",
        "pw_pkg/inner.py": "VALUE = 2\n",
    })
    names = ("pw_first", "pw_second", "pw_pkg", "pw_pkg.inner", "pw_pkg.late")
    reads: dict[str, int] = {}
    stock_read = zipimport._read_directory

    def counting_read(path):
        reads[path] = reads.get(path, 0) + 1
        return stock_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    # Recorded so that teardown restores the stock method after install().
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    monkeypatch.setattr(pyworker, "_READ", {})
    monkeypatch.setattr(pyworker, "dir_reads", 0)
    sys.path.insert(0, archive)
    try:
        importlib.import_module("pw_first")
        importlib.import_module("pw_pkg.inner")
        reads.clear()
        yield archive, reads
    finally:
        sys.path.remove(archive)
        for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
            del sys.path_importer_cache[key]
        zipimport._zip_directory_cache.pop(archive, None)
        for name in names:
            sys.modules.pop(name, None)


def _importers(archive):
    return [
        f for f in sys.path_importer_cache.values()
        if isinstance(f, zipimport.zipimporter) and f.archive == archive
    ]


def test_stock_invalidate_rereads_every_importer(zip_archive):
    """The cost being removed: unpatched, each importer over the archive
    re-reads its directory on every invalidate."""
    archive, reads = zip_archive
    assert len(_importers(archive)) == 2
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads.get(archive) == 4


def test_unchanged_archive_is_not_reread(zip_archive):
    """After install() stamps the archives already read, invalidating
    keeps each importer's directory object and reads nothing."""
    archive, reads = zip_archive
    before = [f._files for f in _importers(archive)]
    pyworker.install()
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads.get(archive, 0) == 0
    assert pyworker.dir_reads == 0
    assert all(
        f._files is files for f, files in zip(_importers(archive), before)
    )


def test_rewritten_archive_is_reread_once(zip_archive, tmp_path):
    """A rewritten archive (new member, new size and mtime) is re-read
    once, every importer over it sees the new directory, and its new
    members import; a later invalidate reads nothing again."""
    archive, reads = zip_archive
    pyworker.install()
    stamp = pyworker._stamp(archive)
    _write_zip(archive, {
        "pw_first.py": "VALUE = 1\n",
        "pw_second.py": "VALUE = 3\n",
        "pw_pkg/__init__.py": "",
        "pw_pkg/inner.py": "VALUE = 2\n",
        "pw_pkg/late.py": "VALUE = 4\n",
    })
    os.utime(archive, ns=(stamp[0] + 10**9, stamp[0] + 10**9))
    assert pyworker._stamp(archive) != stamp
    importlib.invalidate_caches()
    assert reads.get(archive) == 1
    assert pyworker.dir_reads == 1
    assert importlib.import_module("pw_second").VALUE == 3
    assert importlib.import_module("pw_pkg.late").VALUE == 4
    importlib.invalidate_caches()
    assert reads.get(archive) == 1


def test_file_finders_still_invalidated(zip_archive, tmp_path, monkeypatch):
    """Under the patch a directory entry's FileFinder is still
    invalidated, so a file dropped next to shipped files is found."""
    pyworker.install()
    shipped = tmp_path / "shipped"
    shipped.mkdir()
    monkeypatch.syspath_prepend(str(shipped))
    with pytest.raises(ImportError):
        importlib.import_module("pw_shipped")
    finder = sys.path_importer_cache[str(shipped)]
    (shipped / "pw_shipped.py").write_text("VALUE = 5\n")
    importlib.invalidate_caches()
    assert finder._path_mtime == -1
    try:
        assert importlib.import_module("pw_shipped").VALUE == 5
    finally:
        sys.modules.pop("pw_shipped", None)


def test_second_python_task_skips_zip_reread(spark):
    """Two pandas_udf tasks on the test session's workers run under the
    engine daemon, and the second reports no zip-directory read."""
    import pandas as pd
    from pyspark.sql import functions as F

    @F.pandas_udf("string")
    def probe(x: pd.Series) -> pd.Series:
        import os
        import zipimport

        from mapreducer_spark import pyworker

        patched = zipimport.zipimporter.invalidate_caches is pyworker.invalidate_caches
        return x.map(lambda _: f"{os.getpid()} {patched} {pyworker.dir_reads}")

    one_task = spark.range(0, 1, 1, 1).select(probe(F.col("id").cast("string")))
    first, second = (one_task.collect()[0][0].split() for _ in range(2))
    assert first[1] == second[1] == "True"
    assert second[2] == "0"


class _RecordingBuilder:
    """Stands in for ``SparkSession.builder``: records the confs."""

    def __init__(self):
        self.conf: dict[str, str] = {}

    def appName(self, name):
        return self

    def master(self, master):
        self.conf["master"] = master
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return self.conf


class _RecordingSession:
    @property
    def builder(self):
        return _RecordingBuilder()


@pytest.mark.parametrize("master", ["local", "local[2]", "local-cluster[2,1,1024]"])
def test_local_masters_run_the_engine_daemon(master, monkeypatch):
    monkeypatch.setattr(session, "SparkSession", _RecordingSession())
    conf = session.get_spark(master=master)
    assert conf["spark.python.daemon.module"] == "mapreducer_spark.pyworker"
    assert conf["spark.executorEnv.PYTHONPATH"] == REPO


@pytest.mark.parametrize("master", [None, "yarn", "spark://host:7077", "k8s://https://h:443"])
def test_other_masters_keep_the_stock_daemon(master, monkeypatch):
    monkeypatch.setattr(session, "SparkSession", _RecordingSession())
    conf = session.get_spark(master=master)
    assert "spark.python.daemon.module" not in conf
    assert "spark.executorEnv.PYTHONPATH" not in conf


@pytest.mark.parametrize("raw", ["", "abc", "4.5", "0", "-2"])
def test_bad_cpu_count_names_the_variable(raw, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", raw)
    with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
        session._positive_int_env("SPARK_GRAFT_CPUS", 32)


def test_cpu_count_parses(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert session._positive_int_env("SPARK_GRAFT_CPUS", 32) == 32
    monkeypatch.setenv("SPARK_GRAFT_CPUS", " 8 ")
    assert session._positive_int_env("SPARK_GRAFT_CPUS", 32) == 8


def test_bad_cpu_count_fails_the_import_by_name():
    env = {**os.environ, "SPARK_GRAFT_CPUS": ""}
    proc = subprocess.run(
        [sys.executable, "-c", "import mapreducer_spark.session"],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert "ValueError: SPARK_GRAFT_CPUS must be a positive integer" in proc.stderr
