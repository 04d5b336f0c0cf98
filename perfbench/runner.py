"""Setup, the timed closed loop, and metric reduction for one workload."""

from __future__ import annotations

import math
import statistics
import time
from pathlib import Path

from mapreduce_system_spark import caches

import gen
from spans import NullTracer, RssSampler, Tracer, union_s
from workloads import Layers, run_noop

SETUPS = 3  # set-ups per run; setup_s is their median


def setup_once(wl_cls, seed: int, traced: bool, input_dir: Path, layers) -> tuple:
    """One full set-up: inputs, session, package shipping, warm-ups and the
    workload's own start. Returns (workload, spark, timings, input digest);
    hashing the inputs is not part of the set-up time."""
    from mapreduce_system_spark import pyfiles
    from mapreduce_system_spark.session import get_spark

    t = {}
    t0 = time.perf_counter()
    wl = wl_cls(seed, layers, traced)
    wl.generate(input_dir)
    t["inputs.gen_s"] = time.perf_counter() - t0
    digest = gen.tree_digest(input_dir)
    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    t["session.start_s"] = time.perf_counter() - t0
    t1 = time.perf_counter()
    pyfiles.ensure_package_on_executors(spark)
    t["pyfiles.ship_s"] = time.perf_counter() - t1
    t1 = time.perf_counter()
    wl.warmup(spark)
    wl.start(spark, input_dir)
    t["session.warmup_s"] = time.perf_counter() - t1
    t["setup_s"] = t["inputs.gen_s"] + time.perf_counter() - t0
    return wl, spark, t, digest


def run(wl_cls, seed: int, seconds: float, traced: bool, work: Path) -> dict:
    layers = Layers()
    setups, digests = [], []
    for i in range(SETUPS):
        input_dir = work / f"inputs-{i}"
        wl, spark, t, digest = setup_once(wl_cls, seed, traced, input_dir, layers)
        setups.append(t)
        digests.append(digest)
        if i + 1 < SETUPS:
            wl.stop()
            caches.release()
            spark.stop()
    jvm = spark.sparkContext._jvm.System
    versions = {"pyspark": spark.version, "java": jvm.getProperty("java.version")}
    tracer = Tracer(spark) if traced else NullTracer()
    passes: list[dict] = []
    ops: list[dict] = []
    try:
        # batch outputs are checked before the timed loop, which also
        # warms every op's code path; a stream is checked after its replay
        t_check = time.perf_counter()
        bad = {} if wl.check_after else checked(wl)
        check_s = time.perf_counter() - t_check
        rss = RssSampler().start()
        t_loop = time.perf_counter()
        for n in range(n_passes(wl_cls, seconds)):
            p = run_pass(wl, n, tracer, layers)
            passes.append(p)
            ops.extend(p["ops"])
        peak_rss = rss.stop()
        loop_s = time.perf_counter() - t_loop
        if wl.check_after:
            t_check = time.perf_counter()
            bad = checked(wl)
            check_s += time.perf_counter() - t_check
    finally:
        wl.stop()
        caches.release()
        spark.stop()
    raised = sum(1 for o in ops if o["error"])
    failed = sum(1 for o in ops if o["error"] or o["name"] in bad or ALL_OPS in bad)
    lat = [o["latency_s"] for o in ops if not o["error"]]
    tail_n = len(lat)
    rec = {
        "workload": wl_cls.name,
        "seed": seed,
        "correct": not bad and raised == 0 and len(set(digests)) == 1,
        "attempted": len(ops),
        "failed": failed,
        "check_failures": bad,
        "input_digests": digests,
        "setups": setups,
        "loop_s": loop_s,
        "check_s": check_s,
        "passes": len(passes),
        "op_samples": tail_n,
        "tail_pct": wl_cls.tail_pct,
        "tail_samples_beyond": tail_n - math.ceil(tail_n * wl_cls.tail_pct / 100),
        "versions": versions,
        "ops": [{k: v for k, v in o.items() if k != "layer"} for o in ops],
    }
    rec["end_to_end"] = {
        "setup_s": (statistics.median(s["setup_s"] for s in setups), "s"),
        "wall_s": (statistics.median(p["wall_s"] for p in passes), "s"),
        "op_p50_s": (percentile(lat, 50), "s"),
        "op_tail_s": (percentile(lat, wl_cls.tail_pct), "s"),
        "peak_rss_mb": (peak_rss, "MB"),
    }
    rec["fail_ratio"] = failed / max(1, len(ops))
    if traced:
        rec["per_layer"] = per_layer(passes, setups, tracer)
        rec["spans"] = tracer.spans
    return rec


ALL_OPS = "*"


def checked(wl) -> dict[str, str]:
    """The workload's check; a check that raises fails every op."""
    try:
        return wl.check()
    except Exception as e:  # noqa: BLE001 - reported as failed ops, not a crash
        return {ALL_OPS: f"check raised {type(e).__name__}: {e}"[:300]}


def n_passes(wl_cls, seconds: float) -> int:
    """Whole passes in a run: the workload's count per 10 seconds, scaled.
    The count depends on ``seconds`` alone, so every run does the same
    work: a faster engine finishes sooner instead of running more (and
    more warmed-up) passes."""
    return max(1, round(wl_cls.passes_per_10s * seconds / 10))


def percentile(values: list[float], pct: float) -> float:
    """Nearest-rank percentile."""
    if not values:
        return float("nan")
    s = sorted(values)
    return s[max(0, math.ceil(len(s) * pct / 100) - 1)]


def run_pass(wl, pass_no: int, tracer, layers) -> dict:
    ops = wl.pass_ops()
    out = []
    t0 = time.perf_counter()
    for k, op in enumerate(ops):
        out.append(run_op(wl, op, f"p{pass_no}.{k}.{op.name}", tracer, layers))
    return {"ops": out, "wall_s": time.perf_counter() - t0}


def run_op(wl, op, op_id: str, tracer, layers) -> dict:
    rec = {"name": op.name, "id": op_id, "error": None}
    b = a = {"dur_s": 0.0}  # span records, replaced when the spans open
    read0 = layers.read_s
    acc0 = {k: a.value for k, a in layers.acc.items()} if tracer.enabled else {}
    stream_jobs0 = _stream_jobs(wl, tracer) if op.stream else set()
    t0 = time.perf_counter()
    start = time.time()
    try:
        with tracer.span("op", op_id) as op_span:
            with tracer.span("build", op_id, "op", group=op_id + ":build") as b:
                df = op.build()
            with tracer.span("action", op_id, "op", group=op_id + ":action") as a:
                (op.action or run_noop)(df)
    except Exception as e:  # noqa: BLE001 - a failed op is counted, the loop goes on
        rec["error"] = f"{type(e).__name__}: {e}"[:300]
    rec["latency_s"] = time.perf_counter() - t0
    end = time.time()
    if tracer.enabled:
        rec["layer"] = op_layers(wl, op, op_id, tracer, layers, b, a, start, end, read0, acc0, stream_jobs0)
    t1 = time.perf_counter()
    with tracer.span("release", op_id, "op") as r:
        held = tracer.persisted_rdds() if tracer.enabled else 0
        caches.release()
    if tracer.enabled:
        rec["layer"].update(
            {
                "caches.release_s": time.perf_counter() - t1,
                "caches.rdds_at_release": held,
                "caches.leaked_rdds": tracer.persisted_rdds(),
            }
        )
        r["leaked_rdds"] = rec["layer"]["caches.leaked_rdds"]
        op_span["counts"] = rec["layer"]
    return rec


def _stream_jobs(wl, tracer) -> set[int]:
    if not tracer.enabled:
        return set()
    return {j for q in wl.queries for j in tracer.job_ids(str(q.runId))}


def op_layers(wl, op, op_id, tracer, layers, b, a, start, end, read0, acc0, stream_jobs0) -> dict:
    """Per-layer counts of one finished op."""
    if op.stream:
        build_jobs, action_jobs = [], sorted(_stream_jobs(wl, tracer) - stream_jobs0)
    else:
        build_jobs, action_jobs = tracer.job_ids(op_id + ":build"), tracer.job_ids(op_id + ":action")
    bj, aj = tracer.jobs(build_jobs), tracer.jobs(action_jobs)
    b["counts"], a["counts"] = {"jobs": bj["jobs"]}, {"jobs": aj["jobs"]}
    both = bj["intervals"] + aj["intervals"]
    wall = end - start
    acc = {k: layers.acc[k].value - v for k, v in acc0.items()}
    out = {
        "sources.read_s": layers.read_s - read0,
        "sources.input_bytes": bj["input_bytes"] + aj["input_bytes"],
        "sinks.output_bytes": bj["output_bytes"] + aj["output_bytes"],
        "queries.build_s": b["dur_s"],
        "queries.build_jobs": bj["jobs"],
        "exec.action_s": a["dur_s"],
        "exec.jobs": aj["jobs"],
        "exec.stages": aj["stages"],
        "exec.tasks": aj["tasks"],
        "exec.executor_run_s": aj["executor_run_s"],
        "exec.executor_cpu_s": aj["executor_cpu_s"],
        "exec.driver_s": max(0.0, wall - union_s(both, start, end)),
        "shuffle.write_bytes": bj["shuffle_write_bytes"] + aj["shuffle_write_bytes"],
        "shuffle.read_bytes": bj["shuffle_read_bytes"] + aj["shuffle_read_bytes"],
        "shuffle.records": bj["shuffle_records"] + aj["shuffle_records"],
        "spill.bytes": bj["spill_bytes"] + aj["spill_bytes"],
        "shuffle.skew": max(bj["shuffle_skew"], aj["shuffle_skew"]),
        "python.mapf_calls": acc.get("mapf_calls", 0),
        "python.reducef_calls": acc.get("reducef_calls", 0),
        "python.udf_s": acc.get("udf_s", 0.0),
        "graph.rounds": op.rounds,
        "graph.jobs": (bj["jobs"] + aj["jobs"]) if op.rounds else 0,
    }
    out.update(stream_layers(wl) if op.stream else {})
    return out


STREAM_KEYS = (
    "stream.trigger_s", "stream.add_batch_s", "stream.wal_commit_s", "stream.state_rows",
    "stream.state_commit_s", "stream.state_mem_bytes", "stream.input_rows",
)


def stream_layers(wl) -> dict:
    out = dict.fromkeys(STREAM_KEYS, 0.0)
    for p in wl.progress():
        d = p.get("durationMs", {})
        out["stream.trigger_s"] += d.get("triggerExecution", 0) / 1e3
        out["stream.add_batch_s"] += d.get("addBatch", 0) / 1e3
        out["stream.wal_commit_s"] += d.get("walCommit", 0) / 1e3
        out["stream.input_rows"] += p.get("numInputRows", 0)
        for s in p.get("stateOperators", []):
            out["stream.state_rows"] += s.get("numRowsTotal", 0)
            out["stream.state_commit_s"] += s.get("commitTimeMs", 0) / 1e3
            out["stream.state_mem_bytes"] += s.get("memoryUsedBytes", 0)
    return out


# per-layer metric -> (unit, how a pass combines its ops)
PER_LAYER = {
    "session.start_s": ("s", None),
    "session.warmup_s": ("s", None),
    "pyfiles.ship_s": ("s", None),
    "sources.read_s": ("s", "sum"),
    "sources.input_bytes": ("bytes", "sum"),
    "sinks.output_bytes": ("bytes", "sum"),
    "queries.build_s": ("s", "sum"),
    "queries.build_jobs": ("count", "sum"),
    "exec.action_s": ("s", "sum"),
    "exec.jobs": ("count", "sum"),
    "exec.stages": ("count", "sum"),
    "exec.tasks": ("count", "sum"),
    "exec.executor_run_s": ("s", "sum"),
    "exec.executor_cpu_s": ("s", "sum"),
    "exec.driver_s": ("s", "sum"),
    "shuffle.write_bytes": ("bytes", "sum"),
    "shuffle.read_bytes": ("bytes", "sum"),
    "shuffle.records": ("count", "sum"),
    "spill.bytes": ("bytes", "sum"),
    "shuffle.skew": ("ratio", "max"),
    "python.mapf_calls": ("count", "sum"),
    "python.reducef_calls": ("count", "sum"),
    "python.udf_s": ("s", "sum"),
    "graph.rounds": ("count", "sum"),
    "graph.jobs_per_round": ("count", None),
    "caches.release_s": ("s", "sum"),
    "caches.rdds_at_release": ("count", "max"),
    "caches.leaked_rdds": ("count", "max"),
    "stream.trigger_s": ("s", "sum"),
    "stream.add_batch_s": ("s", "sum"),
    "stream.wal_commit_s": ("s", "sum"),
    "stream.state_rows": ("count", "last"),
    "stream.state_commit_s": ("s", "sum"),
    "stream.state_mem_bytes": ("bytes", "last"),
    "stream.input_rows_per_s": ("1/s", None),
    "trace.harvest_s": ("s", None),
    "trace.overhead_pct": ("%", None),
}


def per_layer(passes: list[dict], setups: list[dict], tracer) -> dict:
    """Each metric: combine a pass's ops, then the median over passes.
    Set-up layers are medians over the set-ups."""
    out = {}
    for key in ("session.start_s", "session.warmup_s", "pyfiles.ship_s"):
        out[key] = statistics.median(s[key] for s in setups)
    per_pass: dict[str, list[float]] = {}
    for p in passes:
        recs = [o["layer"] for o in p["ops"] if "layer" in o]
        vals = {}
        for key, (_, how) in PER_LAYER.items():
            xs = [r.get(key, 0) for r in recs]
            if how == "sum":
                vals[key] = sum(xs)
            elif how == "max":
                vals[key] = max(xs, default=0)
            elif how == "last":
                vals[key] = xs[-1] if xs else 0
        rounds = vals["graph.rounds"]
        vals["graph.jobs_per_round"] = sum(r.get("graph.jobs", 0) for r in recs) / rounds if rounds else 0.0
        trig = sum(r.get("stream.trigger_s", 0) for r in recs)
        rows = sum(r.get("stream.input_rows", 0) for r in recs)
        vals["stream.input_rows_per_s"] = rows / trig if trig else 0.0
        for k, v in vals.items():
            per_pass.setdefault(k, []).append(v)
    for k, vs in per_pass.items():
        out[k] = statistics.median(vs)
    wall = sum(p["wall_s"] for p in passes)
    out["trace.harvest_s"] = tracer.harvest_s / len(passes)
    out["trace.overhead_pct"] = 100.0 * tracer.harvest_s / wall if wall else 0.0
    return {k: (out[k], PER_LAYER[k][0]) for k in PER_LAYER}


def summarize(rec: dict, f) -> None:
    env = rec["env"]
    print(
        f"# {rec['workload']} seed={rec['seed']} correct={rec['correct']} "
        f"attempted={rec['attempted']} failed={rec['failed']} fail_ratio={rec['fail_ratio']:.4f} "
        f"passes={rec['passes']} ops={rec['op_samples']} tail=p{rec['tail_pct']} "
        f"({rec['tail_samples_beyond']} beyond) ncpu={env['ncpu']} "
        f"loadavg={env['loadavg_start'][0]:.2f}->{env['loadavg_end'][0]:.2f} "
        f"loop={rec['loop_s']:.1f}s check={rec['check_s']:.1f}s",
        file=f,
    )
    for group in ("end_to_end", "per_layer"):
        for k, (v, u) in rec.get(group, {}).items():
            print(f"#   {k:26s} {v:14.4f} {u}", file=f)
    for name, why in rec["check_failures"].items():
        print(f"# CHECK FAILED {name}: {why}", file=f)
