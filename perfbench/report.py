"""Run every workload untraced and traced, and print one table.

    python3 perfbench/report.py [--seed 1] [--seconds 10]

For each workload: every end-to-end metric by name and unit (from the
untraced run), ``fail_ratio``, every per-layer metric (from the traced
run), and the tracing overhead: the traced run's ``wall_s`` against the
untraced run's.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))


def run(workload: str, seed: int, seconds: float, trace: int) -> dict:
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    subprocess.run(cmd, cwd=HERE.parent, check=True, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    out = HERE.parent / ".perfbench" / "out" / f"{workload}-seed{seed}-trace{trace}.json"
    return json.loads(out.read_text())


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    args = ap.parse_args()
    from workloads import WORKLOADS

    recs = {w: (run(w, args.seed, args.seconds, 0), run(w, args.seed, args.seconds, 1)) for w in WORKLOADS}
    names = list(recs)
    print(f"{'metric':28s} {'unit':6s} " + " ".join(f"{w:>16s}" for w in names))

    def row(key: str, unit: str, vals: list[float]) -> None:
        print(f"{key:28s} {unit:6s} " + " ".join(f"{v:16.4f}" for v in vals))

    plain0, _ = recs[names[0]]
    for key, (_, unit) in plain0["end_to_end"].items():
        row(key, unit, [recs[w][0]["end_to_end"][key][0] for w in names])
    row("fail_ratio", "ratio", [recs[w][0]["fail_ratio"] for w in names])
    row("correct", "bool", [float(recs[w][0]["correct"] and recs[w][1]["correct"]) for w in names])
    for key, (_, unit) in recs[names[0]][1]["per_layer"].items():
        row(key, unit, [recs[w][1]["per_layer"][key][0] for w in names])
    row("trace.wall_overhead_pct", "%", [
        100.0 * (recs[w][1]["end_to_end"]["wall_s"][0] / recs[w][0]["end_to_end"]["wall_s"][0] - 1)
        for w in names
    ])
    return 0 if all(a["correct"] and b["correct"] for a, b in recs.values()) else 1


if __name__ == "__main__":
    raise SystemExit(main())
