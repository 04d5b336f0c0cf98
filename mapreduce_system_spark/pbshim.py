"""Make ``transformWithStateInPandas`` runnable without a pip protobuf.

TWS's state protocol is protobuf-based: every TWS Python process (the
driver-side runner AND the per-batch executor workers) imports
``pyspark.sql.streaming.proto.StateMessage_pb2``, which needs
``google.protobuf`` at runtime. This container has no pip protobuf, but
it does ship one inside the (public, Apache-2.0) google-cloud-sdk
install — a full modern runtime at
``platform/google_appengine/google/protobuf``. This module builds, at
runtime and purely from the stdlib, a minimal import shim under /tmp:

- ``<shim>/google/protobuf`` → symlinks to every file of the vendored
  runtime (PEP 420 namespace package — nothing else from the SDK is
  exposed), EXCEPT
- ``runtime_version.py``, which is copied and extended so the gencode
  check tolerates generated code ONE minor version ahead of the runtime
  (Spark 4.1.2 ships pb2 files generated by protoc 6.33; the vendored
  runtime is 6.32). The StateMessage schema is plain messages + enums —
  nothing from the 6.33 feature surface — and the cross-API parity
  tests (tests/test_streaming.py) plus the shared driver-gate oracle
  pin the decode end to end, so the one-minor relaxation is verified,
  not assumed.

The shim reaches the TWS workers through the ONE channel that works
after the JVM is already up (the external driver creates its vanilla
session before importing this repo): ``sc.environment`` — the env-var
map captured into each Python function at plan-build time and merged
into the spawned worker's environment by the JVM's PythonWorkerFactory.
``tws_protobuf_env`` sets PYTHONPATH there for exactly the duration of
the stream and restores it afterwards, because the worker-daemon pool
is CACHED per (exec, envVars): leaving the extra entry in place would
silently fork a second daemon pool for every later Python-UDF query and
re-pay worker spawn for the rest of the session (the root cause class
of the r8 ``mm_blob_features`` phantom regression).

DEPLOYMENT NOTE (the portable path): if a real ``google.protobuf`` is
importable in the driver — i.e. anywhere protobuf was pip-installed —
the workers (same interpreter, same site-packages) already see it and
this module is a COMPLETE no-op: ``tws_protobuf_env`` yields without
touching ``sc.environment`` and nothing is built under /tmp. The shim
exists only for environments like this container where pip installs are
unavailable; ``pip install protobuf`` retires it. Both paths are
pytest-pinned (tests/test_streaming.py: the site-probe no-op, the
missing-everything error naming the pip remedy, and the shim-backed TWS
parity run).
"""

from __future__ import annotations

import os
import shutil
import uuid
from contextlib import contextmanager
from pathlib import Path

# Known vendored protobuf runtimes to borrow, best first. Only public
# system software; extend if another container layout appears.
_VENDORED_PROTOBUF_DIRS = (
    "/usr/lib/google-cloud-sdk/platform/google_appengine/google/protobuf",
)

_SHIM_BASE = "/tmp/spark_graft_pbshim_v1"

_RELAX_PATCH = '''

# --- spark_graft shim addition (see mapreduce_system_spark/pbshim.py) ---
# Tolerate gencode ONE minor ahead of this runtime: Spark's pb2 files are
# generated by protoc {major}.{minor+1} while the vendored runtime is
# {major}.{minor}. Anything further ahead still raises.
_spark_graft_orig_validate = ValidateProtobufRuntimeVersion


def ValidateProtobufRuntimeVersion(
    gen_domain, gen_major, gen_minor, gen_patch, gen_suffix, location
):
    try:
        _spark_graft_orig_validate(
            gen_domain, gen_major, gen_minor, gen_patch, gen_suffix, location
        )
    except VersionError:
        if gen_major == MAJOR and gen_minor <= MINOR + 1:
            return
        raise
'''


def _site_protobuf_available() -> bool:
    """True when the interpreter already has a usable google.protobuf —
    workers share site-packages with the driver, so no shim is needed."""
    try:
        import google.protobuf  # noqa: F401

        return True
    except Exception:
        return False


def _build_shim() -> str | None:
    """Create (or reuse) the /tmp shim; None when no vendored runtime
    exists on this machine. Concurrent builders race safely: each builds
    under a uuid dir and the loser of the final atomic rename just
    discards its copy."""
    src = next((p for p in _VENDORED_PROTOBUF_DIRS if os.path.isdir(p)), None)
    if src is None:
        return None
    done = Path(_SHIM_BASE) / ".complete"
    if done.exists():
        return _SHIM_BASE
    tmp = Path(f"{_SHIM_BASE}.build_{uuid.uuid4().hex[:8]}")
    try:
        pkg = tmp / "google" / "protobuf"
        pkg.mkdir(parents=True)
        for entry in os.listdir(src):
            if entry == "runtime_version.py":
                continue
            os.symlink(os.path.join(src, entry), pkg / entry)
        rv = Path(src) / "runtime_version.py"
        (pkg / "runtime_version.py").write_text(rv.read_text() + _RELAX_PATCH)
        (tmp / ".complete").touch()
        os.rename(tmp, _SHIM_BASE)
    except OSError:
        # either another process completed the rename first (use theirs)
        # or the build itself failed mid-way — in both cases the uuid
        # build dir is this process's garbage: reap it here, because no
        # later run matches it (the reuse check keys on _SHIM_BASE) and
        # nothing else ever deletes this /tmp family
        shutil.rmtree(tmp, ignore_errors=True)
        if not done.exists():
            raise
    return _SHIM_BASE


@contextmanager
def tws_protobuf_env(spark):
    """Bind the protobuf shim into the Python-worker environment for the
    duration of one TWS stream, then restore ``sc.environment`` exactly
    (see module docstring for why leaving it set would be a perf bug)."""
    if _site_protobuf_available():
        yield
        return
    shim = _build_shim()
    if shim is None:
        raise RuntimeError(
            "transformWithStateInPandas needs google.protobuf at runtime. "
            "The portable fix is `pip install protobuf` (any runtime >= the "
            "protoc that generated Spark's StateMessage_pb2) — with a site "
            "protobuf this shim is a complete no-op. No pip protobuf and no "
            f"vendored runtime found (looked in {_VENDORED_PROTOBUF_DIRS})."
        )
    env = spark.sparkContext.environment
    had = "PYTHONPATH" in env
    old = env.get("PYTHONPATH")
    env["PYTHONPATH"] = shim + (os.pathsep + old if old else "")
    try:
        yield
    finally:
        if had:
            env["PYTHONPATH"] = old
        else:
            env.pop("PYTHONPATH", None)
