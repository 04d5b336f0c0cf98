"""Self-test of the input generators: one seed gives byte-identical
inputs twice, and another seed gives different inputs.

    python3 perfbench/selftest.py

Exits 0 when both hold for every workload's inputs. Needs no Spark.
"""

from __future__ import annotations

import shutil
import sys
import tempfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import gen  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def digest(wl_cls, seed: int, root: Path) -> str:
    out = root / f"{wl_cls.name}-{seed}-{len(list(root.iterdir()))}"
    wl_cls(seed, None, False).generate(out)
    return gen.tree_digest(out)


def main() -> int:
    work = HERE.parent / ".perfbench"
    work.mkdir(exist_ok=True)
    root = Path(tempfile.mkdtemp(prefix="selftest-", dir=work))
    ok = True
    try:
        for wl_cls in WORKLOADS.values():
            a, b, c = digest(wl_cls, 7, root), digest(wl_cls, 7, root), digest(wl_cls, 8, root)
            same, differs = a == b, a != c
            ok &= same and differs
            print(f"{wl_cls.name:14s} seed 7 twice identical: {same}; seed 8 differs: {differs}")
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
