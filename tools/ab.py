"""Alternating A/B of two checkouts on ``bench.py`` wall time.

Usage::

    python tools/ab.py --a TREE --b TREE [--pairs N] --out bench_runs/X.json QUERY...

An arm is a checkout of this repository: the working tree, a
``git worktree``, or a ``git archive`` copy. A code-shape A/B is two
trees that differ in that code; nothing is patched at run time.

1. Oracle gate: ``tools/verify_local.py`` runs the named queries at sf0.01
   in each tree. Unless both pass, nothing is timed (exit 1).
2. ``--pairs`` pairs of ``bench.py QUERY...`` runs, one per tree per
   pair, swapping which tree goes first on each pair. An arm's wall is
   the run's ``value`` (sum of the named queries' walls, JVM start and
   warm-ups excluded). ``bench.py`` reads ``$SPARK_GRAFT_SF_DIR`` and
   ``$SPARK_GRAFT_CPUS`` from the inherited environment.
3. Spread rule (:func:`assert_sane_walls`): an arm whose walls spread
   above 1.5x, or decay monotonically by more than 1.25x, makes the
   record untrustworthy; exit 3 without writing it.
4. The record holds both arms' walls and medians, the b/a ratio, how
   many pairs B won, ``ncpu`` and the load averages at start and end.
   Its ``a``/``b`` fields name the code each arm ran by
   :func:`tree_digest`, not by where the checkout lives.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import statistics
import subprocess
import sys
from pathlib import Path

# the oracle gate's scale (TESTDATA.md: t2 correctness runs at sf0.01)
GATE_SF_DIR = "/root/testdata/sf0.01"


class SpreadError(RuntimeError):
    """An arm's wall series fails the spread rule; do not write a record."""


def arm_spread_violation(
    runs: list[float], *, max_spread: float = 1.5, max_decay: float = 1.25
) -> str | None:
    """Reason this arm's wall series is untrustworthy, or None if sane.

    A co-tenant load that decays across the session lands on the first
    arm's early runs and overstates the headline ratio (the r17
    degree_census record read 0.517 from walls union=[17.29, 15.93, 8.73]
    / explode=[21.07, 8.24, 7.33]; the steady-state pair said ~0.84).
    Two signatures reject a series: a max/min spread above
    ``max_spread``, and a strictly decreasing series whose total drop
    exceeds ``max_decay``."""
    if len(runs) < 2:
        return None
    lo, hi = min(runs), max(runs)
    if lo <= 0:
        return f"non-positive wall in series {runs}"
    if hi / lo > max_spread:
        return f"spread {hi / lo:.2f}x exceeds {max_spread}x (runs {runs})"
    if all(b < a for a, b in zip(runs, runs[1:])) and runs[0] / runs[-1] > max_decay:
        return (
            f"monotone decay {runs[0] / runs[-1]:.2f}x exceeds {max_decay}x "
            f"(runs {runs}) — co-tenant ramp-down signature"
        )
    return None


def assert_sane_walls(
    walls: dict[str, list[float]],
    *,
    max_spread: float = 1.5,
    max_decay: float = 1.25,
) -> None:
    """Raise :class:`SpreadError` if any arm's series fails the rule."""
    problems = {
        label: reason
        for label, runs in walls.items()
        if (
            reason := arm_spread_violation(
                runs, max_spread=max_spread, max_decay=max_decay
            )
        )
    }
    if problems:
        raise SpreadError(
            "A/B record rejected by the spread rule; re-run in a quieter "
            f"window: {problems}"
        )


def tree_digest(tree: Path) -> str:
    """sha256 over the sorted relative paths and bytes of the code an arm
    runs: ``bench.py`` and ``mapreduce_system_spark/**/*.py``. Two
    checkouts of one commit, a ``git archive`` copy included, digest
    alike wherever they live."""
    files = [tree / "bench.py", *(tree / "mapreduce_system_spark").rglob("*.py")]
    h = hashlib.sha256()
    for rel in sorted(p.relative_to(tree).as_posix() for p in files if p.is_file()):
        data = (tree / rel).read_bytes()
        h.update(f"{rel}\0{len(data)}\0".encode() + data)
    return "sha256:" + h.hexdigest()


def _bench(tree: Path, queries: list[str]) -> dict:
    """One ``bench.py`` run in ``tree``; its JSON record."""
    proc = subprocess.run(
        [sys.executable, "bench.py", *queries],
        cwd=tree,
        capture_output=True,
        text=True,
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"bench.py failed in {tree}:\n{proc.stderr[-2000:]}")
    rec = json.loads(lines[-1])
    if rec["failures"]:
        raise RuntimeError(f"bench.py in {tree}: {rec['failures']} queries failed")
    return rec


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--a", required=True, type=Path, help="checkout of arm A")
    ap.add_argument("--b", required=True, type=Path, help="checkout of arm B")
    ap.add_argument("--pairs", type=int, default=5)
    ap.add_argument("--out", required=True, type=Path, help="record path")
    ap.add_argument("queries", nargs="+", metavar="QUERY")
    args = ap.parse_args(argv)
    if args.pairs < 1:
        ap.error("--pairs must be at least 1")
    trees = {"a": args.a.resolve(), "b": args.b.resolve()}
    loadavg_start = [round(x, 2) for x in os.getloadavg()]

    for label, tree in trees.items():
        gate = subprocess.run(
            [sys.executable, "tools/verify_local.py", GATE_SF_DIR, *args.queries],
            cwd=tree,
        )
        if gate.returncode != 0:
            print(f"# arm {label} ({tree}) fails the oracle gate", file=sys.stderr)
            return 1

    walls: dict[str, list[float]] = {"a": [], "b": []}
    for i in range(args.pairs):
        for label in ("a", "b") if i % 2 == 0 else ("b", "a"):
            rec = _bench(trees[label], args.queries)
            walls[label].append(rec["value"])
            print(f"# pair {i + 1}/{args.pairs} {label}: {walls[label][-1]}s",
                  file=sys.stderr)
    try:
        assert_sane_walls(walls)
    except SpreadError as e:
        print(f"# {e}", file=sys.stderr)
        return 3

    med_a, med_b = (round(statistics.median(walls[k]), 3) for k in ("a", "b"))
    record = {
        "a": tree_digest(trees["a"]),
        "b": tree_digest(trees["b"]),
        "queries": args.queries,
        "sf": rec["sf"],
        "pairs": args.pairs,
        "walls": walls,
        "median_a_s": med_a,
        "median_b_s": med_b,
        "b_over_a": round(med_b / med_a, 3),
        "b_wins": sum(b < a for a, b in zip(walls["a"], walls["b"])),
        "ncpu": os.cpu_count(),
        "loadavg_start": loadavg_start,
        "loadavg_end": [round(x, 2) for x in os.getloadavg()],
    }
    args.out.write_text(json.dumps(record, indent=1, sort_keys=True) + "\n")
    print(json.dumps(record, sort_keys=True))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
