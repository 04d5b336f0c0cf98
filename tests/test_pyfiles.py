"""The worker-side zip directory cache (pyfiles.install_zip_directory_cache).

Each check runs in a fresh interpreter: installing the hook changes that
interpreter's import machinery for good.
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]

_PRELUDE = """
import importlib, os, sys, zipfile, zipimport
sys.path.insert(0, {repo!r})
archive = {archive!r}

def write_archive(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, body in modules.items():
            z.writestr(name + ".py", body)

reads = []
_read = zipimport._read_directory
def counting_read(path):
    reads.append(path)
    return _read(path)
zipimport._read_directory = counting_read

def archive_reads():
    return sum(1 for p in reads if p == archive)
"""


def _run(tmp_path: Path, body: str, in_worker: bool = False) -> str:
    archive = str(tmp_path / "mods.zip")
    env = {k: v for k, v in os.environ.items() if k != "PYTHON_WORKER_FACTORY_SECRET"}
    if in_worker:
        env["PYTHON_WORKER_FACTORY_SECRET"] = "test"
    code = _PRELUDE.format(repo=str(REPO), archive=archive) + textwrap.dedent(body)
    proc = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        timeout=120,
        env=env,
        cwd=tmp_path,
    )
    assert proc.returncode == 0, proc.stderr
    return proc.stdout


def test_unchanged_archive_is_not_reread_and_replaced_one_is(tmp_path):
    out = _run(
        tmp_path,
        """
        write_archive(archive, {"alpha": "X = 1"})
        sys.path.insert(0, archive)
        import alpha
        from mapreduce_system_spark.pyfiles import install_zip_directory_cache
        assert install_zip_directory_cache()
        assert type(sys.path_importer_cache[archive]).__name__ == "_StatKeyedZipImporter"
        importlib.invalidate_caches()  # first call after install reads once
        before = archive_reads()
        for _ in range(5):
            importlib.invalidate_caches()
        assert archive_reads() == before, "unchanged archive was re-read"

        tmp = archive + ".tmp"
        write_archive(tmp, {"alpha": "X = 1", "beta": "Y = 2"})
        os.replace(tmp, archive)
        importlib.invalidate_caches()
        assert archive_reads() == before + 1, "replaced archive was not re-read"
        import beta
        assert beta.Y == 2
        print("ok")
        """,
    )
    assert out.strip() == "ok"


def test_second_install_is_a_no_op(tmp_path):
    out = _run(
        tmp_path,
        """
        write_archive(archive, {"alpha": "X = 1"})
        sys.path.insert(0, archive)
        import alpha
        from mapreduce_system_spark.pyfiles import install_zip_directory_cache
        assert install_zip_directory_cache()
        hooks = list(sys.path_hooks)
        finders = dict(sys.path_importer_cache)
        assert not install_zip_directory_cache()
        assert sys.path_hooks == hooks
        assert all(sys.path_importer_cache[k] is v for k, v in finders.items())
        print("ok")
        """,
    )
    assert out.strip() == "ok"


_INIT_PROBE = """
write_archive(archive, {"alpha": "X = 1"})
sys.path.insert(0, archive)
import alpha
PATCH
import mapreduce_system_spark
from mapreduce_system_spark import pyfiles
print(pyfiles._StatKeyedZipImporter in sys.path_hooks,
      type(sys.path_importer_cache[archive]).__name__)
"""


_AS_312 = (
    "import collections; sys.version_info = collections.namedtuple("
    "'v', 'major minor micro releaselevel serial')(3, 12, 0, 'final', 0)"
)


@pytest.mark.parametrize(
    "in_worker, patch, expected",
    [
        (True, "", "True _StatKeyedZipImporter"),
        (False, "", "False zipimporter"),
        (True, _AS_312, "False zipimporter"),
    ],
    ids=["worker-3.11", "not-a-worker", "worker-3.12"],
)
def test_package_installs_only_in_workers_before_312(tmp_path, in_worker, patch, expected):
    out = _run(tmp_path, _INIT_PROBE.replace("PATCH", patch), in_worker)
    assert out.strip().splitlines()[-1] == expected


def test_package_worker_functions_run_with_the_cache(spark, tmp_path):
    """A reducef run by ``map_reduce_scalable`` and an
    ``applyInPandasWithState`` function delegating to ``stateful`` both
    run in workers that imported the package, so the cache is active."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from mapreduce_system_spark.operators.mapreduce import map_reduce_scalable
    from mapreduce_system_spark.streaming import stateful

    def cache_active():
        import sys

        return any(getattr(h, "__name__", "") == "_StatKeyedZipImporter" for h in sys.path_hooks)

    def mapf(_name, text):
        return [(w, "1") for w in text.split()]

    def reducef(_key, _values):
        return str(cache_active())

    docs = spark.createDataFrame([("a", "x y"), ("b", "y z")], "file string, content string")
    assert {r.value for r in map_reduce_scalable(docs, mapf, reducef).collect()} == {"True"}

    def totals(key, pdfs, state):
        for pdf in stateful._update_totals(key, pdfs, state):
            yield pdf.assign(cache=cache_active())

    src = tmp_path / "events"
    src.mkdir()
    (src / "0.json").write_text('{"user_id": 1, "value": 1.0}\n{"user_id": 2, "value": 2.0}\n')
    events = spark.readStream.schema("user_id long, value double").json(str(src))
    out = events.groupBy("user_id").applyInPandasWithState(
        totals,
        outputStructType=stateful.OUTPUT_SCHEMA + ", cache boolean",
        stateStructType=stateful.STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    query = (
        out.writeStream.format("memory")
        .queryName("pyfiles_cache_probe")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        query.awaitTermination()
        rows = spark.table("pyfiles_cache_probe").collect()
    finally:
        query.stop()
        spark.catalog.dropTempView("pyfiles_cache_probe")
    assert len(rows) == 2 and {r.cache for r in rows} == {True}


_UNPICKLE = """
import pickle, sys
try:
    import mapreduce_system_spark
except ImportError:
    pass
else:
    sys.exit("the package must not be importable here")
p = pickle.loads(sys.stdin.buffer.read())
print(type(p).__name__, p._gap_s)
"""


def test_tws_processor_unpickles_without_the_package(tmp_path):
    """PySpark's driver-side TWS runner unpickles the processor without
    the shipped package on its path, so the processor ships by value."""
    from pyspark import cloudpickle

    from mapreduce_system_spark.streaming.stateful import _tws_session_processor

    proc = subprocess.run(
        [sys.executable, "-c", _UNPICKLE],
        input=cloudpickle.dumps(_tws_session_processor(60)),
        capture_output=True,
        timeout=120,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
        cwd=tmp_path,
    )
    assert proc.returncode == 0, proc.stderr.decode()
    assert proc.stdout.decode().split() == ["SessionProcessor", "60"]



_SHIP = """
import os, sys, tempfile
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
from mapreduce_system_spark.pyfiles import ensure_package_on_executors
spark = SparkSession.builder.master("local[1]").getOrCreate()
ensure_package_on_executors(spark)
zip_path = os.path.join(tempfile.gettempdir(), f"mapreduce_system_spark-{{os.getpid()}}.zip")
assert os.path.exists(zip_path), zip_path
print(zip_path)
"""


def test_package_zip_is_removed_when_the_driver_exits(tmp_path):
    """The per-process package zip lives only as long as its driver."""
    proc = subprocess.run(
        [sys.executable, "-c", _SHIP.format(repo=str(REPO))],
        capture_output=True,
        text=True,
        timeout=300,
        env={**os.environ, "TMPDIR": str(tmp_path)},
        cwd=tmp_path,
    )
    assert proc.returncode == 0, proc.stderr
    zip_path = Path(proc.stdout.split()[-1])
    assert zip_path.parent == tmp_path
    assert not zip_path.exists()
    assert not list(tmp_path.glob("mapreduce_system_spark-*.zip"))
