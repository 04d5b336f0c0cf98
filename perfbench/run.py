"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload mr_batch --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The run generates its inputs from
``--seed``, sets a Spark session up three times (reporting the median as
``setup_s``), checks every op's output against an independent reference,
runs a fixed number of whole passes of the workload's ops sized by
``--seconds``, and prints as its last stdout line one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` runs with per-layer tracing and
reports the per-layer metrics. A readable summary goes to stderr, and
the run record (environment stamps, per-op samples, spans when traced)
to ``.perfbench/out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import subprocess
import sys
import tempfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_env(work: Path) -> None:
    """Keep every file Spark and the package write inside ``work``."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    ncpu = str(len(os.sched_getaffinity(0)))
    os.environ.setdefault("SPARK_GRAFT_CPUS", ncpu)
    # one shuffle partition per core: the factory's static 32 would run
    # every stage as eight waves of tiny tasks on a small box
    os.environ.setdefault("SPARK_GRAFT_SHUFFLE", ncpu)
    mem = os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    # a fixed-size heap: peak memory then does not hinge on when the
    # collector chose to grow the heap
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -Xms{mem}'",
            f"--conf spark.sql.warehouse.dir={work / 'warehouse'}",
            "--conf spark.ui.showConsoleProgress=false",
            "pyspark-shell",
        ]
    )


def stop_jvm() -> None:
    """Close the JVM the session launched (it exits when its stdin closes)
    and wait for it, and with it the Python workers, to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    try:
        gateway.proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not (ROOT / "mapreduce_system_spark").is_dir():
        print(f"no engine package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [str(ROOT), str(HERE)]
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; known: {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    work = ROOT / ".perfbench" / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    prepare_env(work)
    import runner

    loadavg_start = list(os.getloadavg())
    try:
        rec = runner.run(workloads.WORKLOADS[args.workload], args.seed, args.seconds, bool(args.trace), work)
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    rec["env"] = {
        "ncpu": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "loadavg_start": loadavg_start,
        "loadavg_end": list(os.getloadavg()),
        "python": platform.python_version(),
        **rec.pop("versions"),
    }
    rec["args"] = vars(args)
    out = ROOT / ".perfbench" / "out" / f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    out.parent.mkdir(parents=True, exist_ok=True)
    spans = rec.pop("spans", None)
    out.write_text(json.dumps({**rec, "spans": spans}, indent=1, default=str) + "\n")
    runner.summarize(rec, sys.stderr)
    names = rec["per_layer" if args.trace else "end_to_end"]
    print(
        json.dumps(
            {
                "correct": rec["correct"],
                "attempted": rec["attempted"],
                "failed": rec["failed"],
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in names.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
