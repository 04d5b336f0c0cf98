"""Ship this package to Python workers (addPyFile), once per session.

Any operator that runs user Python on executors (mapInPandas /
applyInPandas / RDD flatMap) serializes closures that reference this
package by module path; workers then need the package importable. The
driver process has the repo on sys.path, but executor Python workers do
not — neither in a vanilla local session (the external driver's setup)
nor on a real cluster. ``ensure_package_on_executors`` zips the package
and registers it with ``sc.addPyFile``, which distributes it and prepends
it to every worker's sys.path — the same mechanism used to deploy any
PySpark library to a cluster (and the Spark-native analog of the
reference's Go-plugin UDF shipping, README.MD:82). The zip is written
to the temp dir once per driver process and removed when that process
exits normally.

Every task a warm Python worker runs starts with PySpark's
``setup_spark_files``, which calls ``importlib.invalidate_caches()``.
Before Python 3.12 (CPython gh-103200) that makes every cached
``zipimporter`` re-read its archive's central directory: pyspark.zip,
the spark-core jar and this package's zip, about 0.2 s of CPU per task
whatever the task does. ``install_zip_directory_cache`` makes zip
importers re-read an archive only when its file changed. The package's
``__init__`` installs it in PySpark worker processes on Python < 3.12.

That only helps a worker that imports this package. cloudpickle ships a
nested ``def`` or lambda by value, so a worker that runs one never
imports the package. Every function this package hands to
``mapInPandas``, ``mapInArrow``, ``applyInPandas``,
``applyInPandasWithState`` or ``pandas_udf`` is therefore module-level,
or a ``functools.partial`` of a module-level function: both pickle by
reference, and the worker imports the package to resolve them
(tests/test_bench_tools.py guards this). The one exception is the
``transformWithStateInPandas`` processor, which a driver-side runner
without the shipped package also unpickles
(``streaming.stateful._tws_session_processor``).
"""

from __future__ import annotations

import atexit
import os
import sys
import tempfile
import zipfile
import zipimport
from pathlib import Path

from pyspark.sql import SparkSession

_FLAG = "_mapreduce_system_spark_shipped"
# zips this process wrote; removed when it exits normally
_WRITTEN: set[str] = set()


def _remove_written() -> None:
    for path in _WRITTEN:
        try:
            os.unlink(path)
        except OSError:
            pass


def ensure_package_on_executors(spark: SparkSession) -> None:
    sc = spark.sparkContext
    if getattr(sc, _FLAG, False):
        return
    pkg_dir = Path(__file__).resolve().parent
    zip_path = os.path.join(
        tempfile.gettempdir(), f"mapreduce_system_spark-{os.getpid()}.zip"
    )
    # Always (re)write, atomically: an exists-check would happily ship a
    # zip truncated by an interrupted earlier attempt (the per-process
    # flag above wasn't set yet on that path), or a stale zip from a
    # recycled pid — executors would then run old/corrupt code. The
    # write-to-temp + os.replace makes concurrent/retried calls safe.
    fd, tmp = tempfile.mkstemp(suffix=".zip", dir=tempfile.gettempdir())
    os.close(fd)
    try:
        with zipfile.ZipFile(tmp, "w") as z:
            for p in sorted(pkg_dir.rglob("*.py")):
                z.write(p, arcname=str(p.relative_to(pkg_dir.parent)))
        os.replace(tmp, zip_path)
    except BaseException:
        # failed mid-archive (disk full, source unlinked mid-walk): the
        # per-process flag is still unset so the next call retries — but
        # without this cleanup every retry would strand another mkstemp
        # file in the temp dir
        try:
            os.unlink(tmp)
        except OSError:
            pass
        raise
    if not _WRITTEN:
        atexit.register(_remove_written)
    _WRITTEN.add(zip_path)
    sc.addPyFile(zip_path)
    setattr(sc, _FLAG, True)


# archive path -> (st_dev, st_ino, st_size, st_mtime_ns) of the file when
# its directory was last read into zipimport._zip_directory_cache; None
# when it could not be stat'ed
_DIRECTORY_READ_AT: dict[str, tuple[int, int, int, int] | None] = {}


def _file_key(path: str) -> tuple[int, int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_dev, st.st_ino, st.st_size, st.st_mtime_ns)


class _StatKeyedZipImporter(zipimport.zipimporter):
    """A ``zipimporter`` whose ``invalidate_caches`` re-reads the
    archive's directory only when the archive file changed."""

    def invalidate_caches(self):
        # stat before reading: a change that lands mid-read leaves an old
        # key behind, so the next call reads again
        key = _file_key(self.archive)
        files = zipimport._zip_directory_cache.get(self.archive)
        unchanged = key is not None and _DIRECTORY_READ_AT.get(self.archive) == key
        if unchanged and files is not None:
            self._files = files
            return
        super().invalidate_caches()
        _DIRECTORY_READ_AT[self.archive] = key


def install_zip_directory_cache() -> bool:
    """Make zip importers re-read an archive only when its file changed.

    New zip importers come from ``sys.path_hooks``; the ones already in
    ``sys.path_importer_cache`` change class in place, so the loaders of
    modules imported from a zip stay the instances that get refreshed.
    No stdlib function or method is patched. A second call changes
    nothing and returns False.
    """
    hooks = [_StatKeyedZipImporter if h is zipimport.zipimporter else h for h in sys.path_hooks]
    changed = hooks != sys.path_hooks
    sys.path_hooks[:] = hooks
    for finder in list(sys.path_importer_cache.values()):
        if type(finder) is zipimport.zipimporter:
            finder.__class__ = _StatKeyedZipImporter
            changed = True
    return changed
