"""Two-scale probes: does an operator's cost follow its work volume?

Every mode runs one operator family at 1× and at ``reps``× a
deterministic scale-up of the sf0.1 fixture, and records wall time next
to the quantity that should drive it (candidate pairs, edges, keys,
state rows). Each construction makes that volume at ``reps``× known in
advance, usually exactly ``reps``× and asserted; wall time is then the
free variable, and a superlinear ratio points at plan pathology rather
than growth in work. Every mode shares one harness: an untimed warm-up,
``runs`` timed calls per scale, median wall (:func:`_two_scales`), then
one table and one record (:func:`_finish`).

The default mode runs the six heaviest candidate-generating queries.
Its 10× corpus is TEN DISJOINT SHARDS each statistically identical to
sf0.1: replica r of a document prefixes every token with ``r{r}x`` (so
shards share no shingles and no near-dup pairs cross shards — shard 0
is sf0.1 verbatim), and replica r of an embedding gets a disjoint label
space (labels + r*1000) plus a ≤5e-4 deterministic per-component jitter
(so blocked-cosine pair structure is per-shard and clone ties are
broken). Every candidate count must then grow exactly ~10×. A
generator-grade sf1 (10× docs in ONE shard) would also grow per-key
bucket sizes; ``organic_pct`` > 0 exercises that regime (see
:func:`build_scaled`), and the stop-shingle DF cap and the banding math
in operators/dedup.py bound it.

Usage::

    python tools/scale_probe.py [--out NAME] [reps] [src_sf_dir] [organic_pct]
    python tools/scale_probe.py --asof [--out NAME] [reps] [src_sf_dir] [hot_pct]
    python tools/scale_probe.py --kcore [--out NAME] [reps] [src_sf_dir] [organic_pct]
    python tools/scale_probe.py --stream [--out NAME] [reps] [src_sf_dir]
    python tools/scale_probe.py --sessions [--out NAME] [reps] [src_sf_dir]
    python tools/scale_probe.py --fjoin [--out NAME] [reps] [src_sf_dir]
    python tools/scale_probe.py --boilerplate [--out NAME] [reps] [src_sf_dir]
    python tools/scale_probe.py --rules [--out NAME] [reps] [src_sf_dir]
    python tools/scale_probe.py --card [--out NAME] [reps] [src_sf_dir]
    python tools/scale_probe.py --tfidf [--out NAME] [reps] [src_sf_dir]
    python tools/scale_probe.py --lpa [--out NAME] [reps] [src_sf_dir]
    python tools/scale_probe.py --ktruss [--out NAME] [reps] [src_sf_dir]
    python tools/scale_probe.py --ccjump [--out NAME] [reps] [src_sf_dir]
    python tools/scale_probe.py --bloom [--out NAME] [reps] [src_sf_dir]
    python tools/scale_probe.py --cms [--out NAME] [reps] [src_sf_dir]
    python tools/scale_probe.py --wsample [--out NAME] [reps] [src_sf_dir]
    python tools/scale_probe.py --sneighbor [--out NAME] [reps] [src_sf_dir]
    python tools/scale_probe.py --knlm [--out NAME] [reps] [src_sf_dir]
    python tools/scale_probe.py --manifest [--out NAME]

``reps`` defaults to 10 and ``src_sf_dir`` to the sf0.1 fixture. In
``--asof`` the third positional is HOT_PCT (default 20), the share of
CLONED event rows rerouted to one fixture user, not an organic
collision percentage. The committed records:
``scale_probe_r11_asof.json`` = ``--asof 10 /root/testdata/sf0.1 20``,
``scale_probe_r11_asof50.json`` = ``--asof 50 /root/testdata/sf0.1 30``.
One mode flag at a time; an unknown flag or an extra positional exits 2
before any session starts.

A mode writes ``bench_runs/scale_probe_<mode>_latest.json`` (the
default mode ``scale_probe_latest.json``, ``--manifest``
``sf1_manifest_latest.json``) and prints a markdown table. The
round-named records BASELINE.md and tests/test_scale_manifest.py read
(scale_probe_r7.json, sf1_manifest.json, ...) are only written under an
explicit ``--out``, so a lighter smoke run can never clobber a durable
record with non-comparable numbers; ``*_latest`` records are not
committed.

``--manifest`` times nothing: it rebuilds the three probe corpora
(disjoint, organic, graph) with their recorded parameters and writes,
per table, the row count and an ORDER-INDEPENDENT checksum (bit_xor and
modular sum of xxhash64 over every column), plus the source-fixture
checksums and the one-command re-runs. Every construction here is a
deterministic function of the sf0.1 fixture (offsets, xxhash64-derived
organic picks and jitter — no RNG), so the committed manifest lets a
later run assert that a probe corpus is bit-identically the one behind
a record before re-running the probe.
"""

from __future__ import annotations

import json
import math
import shutil
import statistics
import sys
import time
from functools import partial
from pathlib import Path
from typing import NamedTuple

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

import __spark_entry__ as entry_mod  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from mapreduce_system_spark import caches  # noqa: E402
from mapreduce_system_spark.operators import dedup as DD  # noqa: E402
from mapreduce_system_spark.operators import similarity as SIM  # noqa: E402
from mapreduce_system_spark.queries.dedup import MAX_SHINGLE_DF  # noqa: E402
from mapreduce_system_spark.session import get_spark  # noqa: E402
from mapreduce_system_spark.sources.tables import load_table  # noqa: E402

SF01 = "/root/testdata/sf0.1"  # the default source fixture (TESTDATA.md)
SCRATCH = "/tmp/spark_graft_scale"  # scaled corpora; removed by _finish

HEAVY = [
    "dedup_jaccard_pairs",
    "dedup_minhash_lsh",
    "dedup_cluster_survivors",
    "dedup_crossmodal_agreement",
    "dedup_paraphrase_candidates",
    "sim_topk_lsh",
]

_OFFSET = 10_000_000  # id offset per replica — far above any fixture id


class Timed(NamedTuple):
    """One scale's timed runs: ``wall`` is the median (per key when a run
    times several regions), ``walls`` and ``results`` hold every run."""

    wall: float | dict
    walls: list
    results: list


def _two_scales(run, scales, runs: int = 3) -> dict[str, Timed]:
    """One untimed warm-up call on the first scale's input (JVM, codegen,
    Python worker pool), then ``runs`` timed calls per ``(label, input)``
    in ``scales``. ``run(input)`` returns ``(wall, result)``: it times its
    own region, as a float or a dict of floats, so the construction and
    any census it checks stay outside the wall."""
    run(scales[0][1])
    out = {}
    for label, arg in scales:
        print(f"# timing {label}", file=sys.stderr)
        walls, results = [], []
        for _ in range(runs):
            wall, result = run(arg)
            walls.append(wall)
            results.append(result)
        if isinstance(walls[0], dict):
            med = {k: statistics.median(w[k] for w in walls) for k in walls[0]}
        else:
            med = statistics.median(walls)
        out[label] = Timed(med, walls, results)
    return out


def _ratio(b, a):
    return round(b / a, 2) if a else None


def _scaled(small: dict, big: dict, reps: int) -> bool:
    """``big`` is exactly ``reps``× ``small``, key by key."""
    return big == {k: reps * v for k, v in small.items()}


def _table(header: list[str], rows: list[list]) -> None:
    print("| " + " | ".join(header) + " |")
    print("|" + "---|" * len(header))
    for row in rows:
        print("| " + " | ".join(str(c) for c in row) + " |")


def _union_replicas(base, reps: int, replica):
    """``base`` (replica 0, the fixture verbatim) unioned by name with
    ``replica(r)`` for r = 1 .. reps-1."""
    out = base
    for r in range(1, reps):
        out = out.unionByName(replica(r))
    return out


def _with_replica_ids(spark, base, rep: int):
    """``base`` crossed with a replica column ``r`` in 0 .. rep-1: the
    salted-key constructions, which grow a key population without
    writing parquet."""
    return base.crossJoin(F.broadcast(spark.range(rep).select(F.col("id").alias("r"))))


def build_scaled(
    spark, src: str, dst: str, reps: int, organic_pct: int = 0,
    tables: tuple = ("documents", "embeddings"),
) -> None:
    """Write the sharded 10× documents + embeddings tables under dst.

    ``organic_pct`` > 0 switches on the ORGANIC-collision variant: that
    percentage of documents — selected by a hash of doc_id, so the same
    docs in every shard — replicate WITHOUT the ``r{r}x`` token prefix
    (doc_id still offset), and the matching embeddings keep their
    ORIGINAL label (jitter still applied). Those rows collide across
    shards: each organic doc's shingles gain ~reps× document frequency
    (bucket DEPTH growth, not just bucket count) and each forms a
    C(reps,2) cross-shard near-dup clique — the per-key regime the
    disjoint-shard probe cannot exercise."""
    docs = load_table(spark, src, "documents")
    embs = load_table(spark, src, "embeddings")
    organic_doc = F.pmod(F.xxhash64(F.col("doc_id")), F.lit(100)) < organic_pct
    organic_vec = F.pmod(F.xxhash64(F.col("vec_id")), F.lit(100)) < organic_pct

    def doc_replica(r):
        tagged = F.when(organic_doc, F.col("text")).otherwise(
            F.regexp_replace("text", r"(\w+)", f"r{r}x$1")
        )
        return docs.select(
            (F.col("doc_id") + r * _OFFSET).alias("doc_id"),
            tagged.alias("text"),
            "lang",
            "source",
            F.length(tagged).alias("n_chars"),
        )

    def emb_replica(r):
        # jitter breaks exact clone ties without moving any vector more
        # than ~3e-3 in L2 (64 dims × 5e-4) — per-shard pair structure
        # stays that of sf0.1
        jit = F.transform(
            "embedding",
            lambda x, i: x
            + (
                (F.pmod(F.xxhash64(F.col("vec_id"), i, F.lit(r)), F.lit(1000)).cast("double") - 500.0)
                * 1e-6
            ).cast("float"),
        )
        return embs.select(
            (F.col("vec_id") + r * _OFFSET).alias("vec_id"),
            jit.alias("embedding"),
            F.when(organic_vec, F.col("label"))
            .otherwise(F.col("label") + r * 1000)
            .alias("label"),
        )

    if "documents" in tables:
        _union_replicas(docs, reps, doc_replica).repartition(8).write.mode(
            "overwrite"
        ).parquet(f"{dst}/documents.parquet")
    if "embeddings" in tables:
        _union_replicas(embs, reps, emb_replica).repartition(4).write.mode(
            "overwrite"
        ).parquet(f"{dst}/embeddings.parquet")


def _pairs_in_groups(counts, col="c"):
    """Σ C(n, 2) over a DataFrame of group sizes."""
    row = counts.agg(F.sum(F.col(col) * (F.col(col) - 1) / 2)).collect()[0][0]
    return int(row or 0)


def shingle_candidates(spark, sf_dir: str) -> int:
    """Capped shingle-share candidate pairs (upper bound: the in-join
    length-ratio prefilter is not applied here). Drives jaccard, cluster
    survivors, and crossmodal."""
    sets = DD.shingle_sets(load_table(spark, sf_dir, "documents", columns=["doc_id", "text"]))
    ex = sets.select("id", F.explode("sg").alias("shingle"))
    df_ = ex.groupBy("shingle").agg(F.count("*").alias("c")).where(
        F.col("c") <= MAX_SHINGLE_DF
    )
    return _pairs_in_groups(df_)


def shingle_df_profile(spark, sf_dir: str) -> dict:
    """Shingle document-frequency distribution — the per-key bucket-DEPTH
    record the organic probe exists to produce: if depth grows while
    wall time tracks candidate counts, the equi-join scale argument
    holds in the regime the disjoint-shard probe can't reach."""
    sets = DD.shingle_sets(
        load_table(spark, sf_dir, "documents", columns=["doc_id", "text"])
    )
    ex = sets.select("id", F.explode("sg").alias("shingle"))
    dfc = ex.groupBy("shingle").agg(F.count("*").alias("c"))
    row = dfc.agg(
        F.expr("percentile_approx(c, array(0.5, 0.9, 0.99), 10000)").alias("p"),
        F.max("c").alias("mx"),
        F.count("*").alias("n"),
        F.count_if(F.col("c") > MAX_SHINGLE_DF).alias("capped"),
    ).collect()[0]
    return {
        "n_shingles": int(row["n"]),
        "df_p50": int(row["p"][0]),
        "df_p90": int(row["p"][1]),
        "df_p99": int(row["p"][2]),
        "df_max": int(row["mx"]),
        "over_cap": int(row["capped"]),
    }


def minhash_band_candidates(spark, sf_dir: str) -> int:
    """Σ C(bucket, 2) over (band_idx, band_key) — the LSH candidate volume
    BEFORE the pair-distinct. The band relation comes from the operator's
    own ``minhash_band_keys`` (defaults = the shipped banding: 128 hashes,
    64 bands × 2 rows), not a local re-implementation, so a banding change
    in ``minhash_lsh_pairs`` is counted by this census by construction."""
    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "text"])
    bands = DD.minhash_band_keys(docs)
    counts = bands.groupBy("band_idx", "band_key").agg(F.count("*").alias("c"))
    return _pairs_in_groups(counts)


def label_block_candidates(spark, sf_dir: str) -> int:
    """Σ C(block, 2) over embedding labels — cosine_dup_pairs' candidate
    volume (drives the paraphrase query's embedding side)."""
    emb = load_table(spark, sf_dir, "embeddings", columns=["label"])
    return _pairs_in_groups(emb.groupBy("label").agg(F.count("*").alias("c")))


def lsh_table_candidates(spark, sf_dir: str) -> int:
    """Σ corpus_bucket × query_bucket over (table, bucket) — sim_topk_lsh's
    candidate volume before the pair-distinct (2 tables, 4 planes)."""
    emb = load_table(spark, sf_dir, "embeddings", columns=["vec_id", "embedding"])
    q = emb.where(F.col("vec_id") < 10)
    csig = SIM.lsh_signatures(emb, 64, n_planes=4, n_tables=2, id_col="vec_id")
    qsig = SIM.lsh_signatures(q, 64, n_planes=4, n_tables=2, id_col="vec_id")
    cc = csig.groupBy("t", "bucket").agg(F.count("*").alias("nc"))
    qc = qsig.groupBy("t", "bucket").agg(F.count("*").alias("nq"))
    row = (
        cc.join(qc, ["t", "bucket"])
        .agg(F.sum(F.col("nc") * F.col("nq")))
        .collect()[0][0]
    )
    return int(row or 0)


CANDIDATE_FNS = {
    "dedup_jaccard_pairs": shingle_candidates,
    "dedup_minhash_lsh": minhash_band_candidates,
    "dedup_cluster_survivors": shingle_candidates,
    "dedup_crossmodal_agreement": shingle_candidates,
    "dedup_paraphrase_candidates": lambda s, d: label_block_candidates(s, d)
    + shingle_candidates(s, d),
    "sim_topk_lsh": lsh_table_candidates,
}


def dedup_main(reps: int = 10, src: str = SF01, organic_pct: int = 0, out_name=None) -> int:
    """The six heaviest candidate-generating queries at 1× and at the
    sharded (or organic) corpus: median-of-3 wall per query next to its
    candidate-pair volume, plus the shingle DF profile per scale."""
    dst = f"{SCRATCH}/sf1"
    spark = get_spark("scale_probe")
    print(
        f"# building {reps}x corpus at {dst} from {src} (organic {organic_pct}%)",
        file=sys.stderr,
    )
    build_scaled(spark, src, dst, reps, organic_pct=organic_pct)
    qs = entry_mod.queries()

    def sweep(d: str):
        walls = {}
        for name in HEAVY:
            t0 = time.time()
            qs[name](spark, d).write.format("noop").mode("overwrite").save()
            walls[name] = time.time() - t0
            caches.release()
        return walls, None

    scales = [("sf0.1", src), ("sf1", dst)]
    timed = _two_scales(sweep, scales)
    record: dict = {
        "reps": reps,
        "src": src,
        "organic_pct": organic_pct,
        "queries": {},
        "shingle_df": {},
    }
    for label, d in scales:
        for name in HEAVY:
            record["queries"].setdefault(name, {})[label] = {
                "sec": round(timed[label].wall[name], 3),
                "candidates": CANDIDATE_FNS[name](spark, d),
            }
            caches.release()
        record["shingle_df"][label] = shingle_df_profile(spark, d)
        caches.release()

    rows = []
    for name in HEAVY:
        a, b = record["queries"][name]["sf0.1"], record["queries"][name]["sf1"]
        tr = b["sec"] / a["sec"] if a["sec"] else float("nan")
        cr = b["candidates"] / a["candidates"] if a["candidates"] else float("nan")
        record["queries"][name]["time_ratio"] = round(tr, 2)
        record["queries"][name]["cand_ratio"] = round(cr, 2)
        rows.append([name, a["sec"], b["sec"], f"{tr:.2f}",
                     a["candidates"], b["candidates"], f"{cr:.2f}"])
    _table(["query", "sf0.1 s", "sf1 s", "time ×", "sf0.1 cand", "sf1 cand", "cand ×"], rows)
    df_rows = [
        [label, *(record["shingle_df"][label][k] for k in
                  ("n_shingles", "df_p50", "df_p90", "df_p99", "df_max", "over_cap"))]
        for label in ("sf0.1", "sf1")
    ]
    return _finish(
        record, out_name, "scale_probe_latest.json",
        ["scale", "shingles", "df p50", "df p90", "df p99", "df max", ">cap"], df_rows, True,
    )


def build_scaled_graph(spark, src: str, dst: str, reps: int, organic_pct: int) -> None:
    """Write ``reps``× lineitem + orders under dst (supplier/nation copied
    verbatim — the BFS seed set stays the original nation's suppliers).

    Replica r offsets l_orderkey/o_orderkey by r·10M so baskets replicate
    without merging (per-order pair generation stays bounded by basket
    size). Node keys — l_partkey, l_suppkey, o_custkey — are offset the
    same way EXCEPT the organic fraction (hash-chosen, the same keys in
    every replica), which keep their identity: an organic part is bought
    in every replica's baskets, so its co-purchase degree grows ~reps×
    and the wedge space at that hub grows ~reps² — exactly the skew
    regime the degree-ordered orientation exists for. Organic suppliers
    likewise splice every replica's customers into one component, so BFS
    frontiers must cross reps× the graph through hub fan-out."""
    organic = lambda c: F.pmod(F.xxhash64(F.col(c)), F.lit(100)) < organic_pct  # noqa: E731

    def keep_organic(c, r):
        return F.when(organic(c), F.col(c)).otherwise(F.col(c) + r * _OFFSET).alias(c)

    li = load_table(spark, src, "lineitem", columns=["l_orderkey", "l_partkey", "l_suppkey"])
    orders = load_table(spark, src, "orders", columns=["o_orderkey", "o_custkey"])
    out_li = _union_replicas(li, reps, lambda r: li.select(
        (F.col("l_orderkey") + r * _OFFSET).alias("l_orderkey"),
        keep_organic("l_partkey", r),
        keep_organic("l_suppkey", r),
    ))
    out_ord = _union_replicas(orders, reps, lambda r: orders.select(
        (F.col("o_orderkey") + r * _OFFSET).alias("o_orderkey"),
        keep_organic("o_custkey", r),
    ))
    out_li.repartition(16).write.mode("overwrite").parquet(f"{dst}/lineitem.parquet")
    out_ord.repartition(8).write.mode("overwrite").parquet(f"{dst}/orders.parquet")
    for t in ("supplier", "nation"):
        load_table(spark, src, t).write.mode("overwrite").parquet(f"{dst}/{t}.parquet")


def _table_fingerprint(spark, path: str) -> dict:
    """Row count + order-independent content checksum of one parquet
    table: bit_xor AND modular sum of xxhash64 over every column —
    invariant to row order and partitioning, so two independently-built
    corpora compare with two integers. Both reductions are kept because
    xor alone is self-canceling (a row duplicated an even number of
    times xors to zero, so swapping one even-duplicated row for another
    preserves the xor); the sum mod 2^64 breaks that pair-cancellation
    while staying order-independent."""
    df = spark.read.parquet(path)
    row = (
        df.select(F.xxhash64(*[F.col(c) for c in df.columns]).alias("h"))
        .agg(
            F.expr("bit_xor(h)").alias("x"),
            # decimal accumulator: a plain long sum would overflow
            F.sum(F.col("h").cast("decimal(38,0)")).alias("s"),
            F.count("*").alias("n"),
        )
        .collect()[0]
    )
    return {
        "rows": int(row["n"]),
        "xxhash64_bit_xor": int(row["x"] or 0),
        "xxhash64_sum_mod64": int(row["s"] or 0) % (1 << 64),
    }


def manifest_main(out_name: str | None = None) -> int:
    """Pin the three probe corpora in a committed manifest: rebuild each
    with its recorded parameters, fingerprint every table, and record
    the one-command re-runs. The ``graph_r9`` entry keeps the command
    that produced its record; that ``--graph`` mode is retired and the
    corpus is rebuilt here."""
    src = "/root/testdata/sf0.1"
    root = SCRATCH
    spark = get_spark("scale_probe_manifest")
    record: dict = {
        "mode": "manifest",
        "src": src,
        "note": (
            "every corpus is a deterministic function of the sf0.1 fixture "
            "(id offsets per replica, xxhash64-derived organic key picks and "
            "embedding jitter; no RNG) — rebuilds must reproduce these "
            "fingerprints exactly"
        ),
        "source_tables": {},
        "corpora": {},
    }
    for t in ("documents", "embeddings", "lineitem", "orders", "supplier", "nation"):
        record["source_tables"][t] = _table_fingerprint(spark, f"{src}/{t}.parquet")
        print(f"# source {t}: {record['source_tables'][t]}", file=sys.stderr)
    corpora = [
        (
            "disjoint_r7",
            "python tools/scale_probe.py 10 /root/testdata/sf0.1 0",
            "scale_probe_r7.json / BASELINE (h)",
            lambda d: build_scaled(spark, src, d, 10, organic_pct=0),
            ("documents", "embeddings"),
        ),
        (
            "organic_r8",
            "python tools/scale_probe.py 10 /root/testdata/sf0.1 10",
            "scale_probe_r8_organic.json / BASELINE (j)",
            lambda d: build_scaled(spark, src, d, 10, organic_pct=10),
            ("documents", "embeddings"),
        ),
        (
            "graph_r9",
            "python tools/scale_probe.py --graph 10 /root/testdata/sf0.1 10",
            "scale_probe_r9_graph.json / BASELINE (l)",
            lambda d: build_scaled_graph(spark, src, d, 10, 10),
            ("lineitem", "orders", "supplier", "nation"),
        ),
    ]
    for name, cmd, probe_record, build, tables in corpora:
        dst = f"{root}/manifest_{name}"
        print(f"# building {name} at {dst}", file=sys.stderr)
        t0 = time.time()
        build(dst)
        entry = {
            "rebuild_cmd": cmd,
            "probe_record": probe_record,
            "build_sec": round(time.time() - t0, 1),
            "tables": {},
        }
        for t in tables:
            entry["tables"][t] = _table_fingerprint(spark, f"{dst}/{t}.parquet")
            print(f"#   {t}: {entry['tables'][t]}", file=sys.stderr)
        record["corpora"][name] = entry
        caches.release()
    return _finish(record, out_name, "sf1_manifest_latest.json", None, [], True)


def _record_out(out_name, default_name: str):
    """Resolve the record path under bench.py's latest.json convention:
    every run writes a *_latest record unless --out names the artifact
    explicitly, so a smoke re-run with lighter parameters can never
    clobber the committed round-named records BASELINE.md cites
    (scale_probe_r7.json, sf1_manifest.json, ...) — promotion to a
    round name is a deliberate --out / copy step, as with bench.py's
    latest.json -> r{N}.json."""
    out = REPO / "bench_runs" / (out_name or default_name)
    out.parent.mkdir(exist_ok=True)
    return out


def _finish(record: dict, out_name, default_name: str, header, rows, ok: bool) -> int:
    """Print the table, write the record, drop the scaled corpora; the
    exit code is 0 when every gate held."""
    if rows:
        _table(header, rows)
    out = _record_out(out_name, default_name)
    out.write_text(json.dumps(record, indent=1, sort_keys=True) + "\n")
    print(f"# wrote {out}", file=sys.stderr)
    shutil.rmtree(SCRATCH, ignore_errors=True)
    return 0 if ok else 1


_ASOF_HOT_UID = 0  # a real sf0.1 user: the hot key keeps genuine right rows


def build_scaled_events(
    spark, src: str, dst: str, reps: int, hot_pct: int
) -> None:
    """Write the reps× skewed events table under dst (events only)."""
    ev = load_table(spark, src, "events", columns=["event_id", "user_id", "ts"])

    def replica(r):
        hot = F.pmod(F.xxhash64(F.col("event_id") + r * _OFFSET), F.lit(100)) < hot_pct
        return ev.select(
            (F.col("event_id") + r * _OFFSET).alias("event_id"),
            F.when(hot, F.lit(_ASOF_HOT_UID))
            .otherwise(F.col("user_id") + r * _OFFSET)
            .alias("user_id"),
            "ts",
        )

    _union_replicas(ev, reps, replica).repartition(8).write.mode("overwrite").parquet(
        f"{dst}/events.parquet"
    )


def asof_main(reps: int = 10, src: str = SF01, hot_pct: int = 20, out_name=None) -> int:
    """The as-of family's union+window shape at reps× with a genuinely
    skewed key. Events replicate reps× with new event_ids; ``hot_pct``%
    of CLONED rows (picked by xxhash64 of the new event_id) are rerouted
    to ONE fixture user, so that key's left depth grows
    ~(1 + (reps-1)·hot_pct·N/100/n_users)× while the rest of the key
    space shards disjointly (user_id offset per replica). The right side
    (orders) stays at 1× — dimension history does not grow with event
    volume — which is exactly the regime where the plain window puts the
    hot key's entire left depth in one task and the salted form splits
    it n_salts ways while replicating only the (static) right rows.
    Claim under test: plain wall grows with the HOT KEY's depth once it
    dominates a task; salted wall tracks total input. Parity of the two
    forms at reps× is asserted, not assumed (count + order-insensitive
    checksum)."""
    from mapreduce_system_spark.operators import asof as ASOF

    dst = f"{SCRATCH}/asof_sf1"
    spark = get_spark("scale_probe_asof")
    print(
        f"# building {reps}x skewed events at {dst} from {src} (hot {hot_pct}%)",
        file=sys.stderr,
    )
    build_scaled_events(spark, src, dst, reps, hot_pct)

    orders = load_table(
        spark, src, "orders",
        columns=["o_custkey", "o_orderdate", "o_orderkey", "o_totalprice"],
    )
    right = ASOF.latest_per_key_time(
        orders, "o_custkey", "o_orderdate", "o_orderkey"
    ).withColumnRenamed("o_custkey", "user_id")
    kw = dict(on="user_id", left_time="ts", right_time="o_orderdate",
              payload_cols=["o_orderkey", "o_totalprice"])
    forms = {
        "plain": lambda ev: ASOF.asof_join(ev, right, **kw),
        "salted": lambda ev: ASOF.asof_join_salted(
            ev, right, **kw, salt_src_col="event_id", n_salts=8
        ),
    }

    def events(d: str):
        return load_table(spark, d, "events", columns=["event_id", "user_id", "ts"])

    def run(d: str):
        ev, walls = events(d), {}
        for form, fn in forms.items():
            t0 = time.time()
            fn(ev).write.format("noop").mode("overwrite").save()
            walls[form] = time.time() - t0
        return walls, None

    scales = [("sf0.1", src), ("sf1", dst)]
    timed = _two_scales(run, scales)
    record: dict = {
        "mode": "asof", "reps": reps, "src": src, "hot_pct": hot_pct,
        "hot_uid": _ASOF_HOT_UID, "n_salts": 8, "scales": {},
    }
    for label, d in scales:
        ev = events(d)
        record["scales"][label] = {
            "rows": int(ev.count()),
            "hot_key_depth": int(ev.groupBy("user_id").count().agg(F.max("count")).collect()[0][0]),
            "plain_s": round(timed[label].wall["plain"], 2),
            "salted_s": round(timed[label].wall["salted"], 2),
        }

    def sig(df):
        # bit_xor + decimal sum, the _table_fingerprint discipline — a
        # plain long sum of xxhash64 values overflows (ANSI would abort)
        row = (
            df.select(
                F.xxhash64(
                    "event_id", "user_id", "o_orderkey",
                    F.round("o_totalprice", 2),
                ).alias("h")
            )
            .agg(
                F.count("*").alias("n"),
                F.expr("bit_xor(h)").alias("x"),
                F.sum(F.col("h").cast("decimal(38,0)")).alias("s"),
            )
            .collect()[0]
        )
        return (row["n"], int(row["x"] or 0), int(row["s"] or 0) % (1 << 64))

    # parity at the skewed scale: the salted rewrite must stay
    # observationally identical under the exact regime it exists for
    p_sig, s_sig = (sig(fn(events(dst))) for fn in forms.values())
    record["parity_at_sf1"] = {"plain": p_sig, "salted": s_sig, "equal": p_sig == s_sig}
    if p_sig != s_sig:
        print(f"# PARITY FAILURE: {p_sig} vs {s_sig}", file=sys.stderr)

    a, b = record["scales"]["sf0.1"], record["scales"]["sf1"]
    record["rows_ratio"] = _ratio(b["rows"], a["rows"])
    record["hot_depth_ratio"] = _ratio(b["hot_key_depth"], a["hot_key_depth"])
    record["plain_wall_ratio"] = _ratio(b["plain_s"], a["plain_s"])
    record["salted_wall_ratio"] = _ratio(b["salted_s"], a["salted_s"])
    rows = [[label, *(record["scales"][label][k] for k in
                      ("rows", "hot_key_depth", "plain_s", "salted_s"))]
            for label in ("sf0.1", "sf1")]
    rows.append(["ratio", record["rows_ratio"], record["hot_depth_ratio"],
                 f"**{record['plain_wall_ratio']}**", f"**{record['salted_wall_ratio']}**"])
    return _finish(
        record, out_name, "scale_probe_asof_latest.json",
        ["scale", "rows", "hot depth", "plain s", "salted s"], rows,
        record["parity_at_sf1"]["equal"],
    )


_ROCKSDB_CONF = {
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    ),
}


def _write_replicated(spark, df, offset_cols: list[str], reps: int, dst: str) -> None:
    """The plain disjoint-replica construction: replica r offsets every
    column in ``offset_cols`` by ``r * _OFFSET`` and keeps the rest
    verbatim (NULL keys stay NULL — one shared group, same as the
    fixture). The bespoke builders (organic collisions, hot-key
    rerouting, jitter) keep their own constructions."""
    _union_replicas(df, reps, lambda r: df.select(
        *[(F.col(c) + r * _OFFSET).alias(c) if c in offset_cols else c for c in df.columns]
    )).repartition(8).write.mode("overwrite").parquet(dst)


def build_scaled_stream_events(spark, src: str, dst: str, reps: int) -> None:
    """Write the reps× keys/events table under dst: replica r offsets
    user_id with timestamps unchanged."""
    ev = load_table(spark, src, "events", columns=["user_id", "ts"])
    _write_replicated(spark, ev, ["user_id"], reps, f"{dst}/events.parquet")


def _state_metrics(progress: list[dict]) -> dict:
    """Fold the harness's per-micro-batch stateOperators telemetry into
    the probe record: peak store rows (open sessions), total rows
    updated/removed, and the provider's peak size metrics."""
    peak_rows = 0
    updated = removed = 0
    peak_bytes = 0
    for p in progress:
        for op in p.get("stateOperators") or []:
            peak_rows = max(peak_rows, int(op.get("numRowsTotal") or 0))
            updated += int(op.get("numRowsUpdated") or 0)
            removed += int(op.get("numRowsRemoved") or 0)
            cm = op.get("customMetrics") or {}
            size = int(
                cm.get("rocksdbTotalMemoryUsageBytes")
                or cm.get("rocksdbSstFileSize")
                or op.get("stateOnCurrentVersionSizeBytes")
                or 0
            )
            peak_bytes = max(peak_bytes, size)
    return {
        "peak_state_rows": peak_rows,
        "rows_updated": updated,
        "rows_removed": removed,
        "peak_state_bytes": peak_bytes,
        "n_batches": len(progress),
    }


def _max_fold(per_run: list[dict]) -> dict:
    """Store metrics are not guaranteed deterministic (RocksDB compaction
    timing, micro-batch coalescing): the record keeps the per-run values
    and folds each to its per-run max, so a nondeterministic store shows
    up instead of silently keeping whichever run came last."""
    return {k: max(m[k] for m in per_run) for k in per_run[0]}


def stream_main(reps: int = 10, src: str = SF01, out_name=None) -> int:
    """Stateful sessionization at reps× keys × reps× events under
    RocksDB. Replica r of every event keeps its timestamp and offsets
    user_id by r*_OFFSET — per-replica session structure identical to
    the fixture's, so the closed-session count must scale EXACTLY reps×
    (the parity gate) while the state store's open-session rows scale
    with KEYS. Claims under test: (1) wall tracks total per-group work
    (keys × batches + closed-session flushes), not superlinearly; (2)
    the store's row count peaks at O(live keys), the eviction bound
    user_sessions_stateful documents — measured from the query's own
    replay progress (queries/streaming.py::replay_sessions), not a
    re-derived replay."""
    from mapreduce_system_spark.queries import streaming
    from mapreduce_system_spark.streaming import stateful as ST

    dst = f"{SCRATCH}/stream_sf1"
    spark = get_spark("scale_probe_stream")
    print(f"# building {reps}x keys/events at {dst} from {src}", file=sys.stderr)
    build_scaled_stream_events(spark, src, dst, reps)

    def run(d: str):
        t0 = time.time()
        out, progress = streaming.replay_sessions(
            spark, d, "probe_stream", ST.user_sessions_stateful, _ROCKSDB_CONF,
        )
        closed = int(out.count())
        wall = time.time() - t0
        caches.release()
        return wall, (closed, _state_metrics(progress))

    scales = [("sf0.1", src), ("sf1", dst)]
    timed = _two_scales(run, scales)
    record: dict = {
        "mode": "stream", "reps": reps, "src": src,
        "provider": "rocksdb", "gap_s": streaming.GAP_S, "scales": {},
    }
    for label, d in scales:
        closed = {c for c, _ in timed[label].results}
        if len(closed) > 1:
            print(f"# NONDETERMINISM: {label} closed {sorted(closed)}", file=sys.stderr)
            return 1
        per_run = [m for _, m in timed[label].results]
        ev = load_table(spark, d, "events", columns=["user_id"])
        record["scales"][label] = {
            "rows": int(ev.count()),
            "keys": int(ev.select("user_id").distinct().count()),
            "closed_sessions": closed.pop(),
            "wall_s": round(timed[label].wall, 2),
            **_max_fold(per_run),
            "state_metrics_per_run": per_run,
        }

    a, b = record["scales"]["sf0.1"], record["scales"]["sf1"]
    record["closed_exact_scale"] = b["closed_sessions"] == reps * a["closed_sessions"]
    cols = ("rows", "keys", "closed_sessions", "wall_s", "peak_state_rows", "peak_state_bytes")
    for k in cols:
        record[f"{k}_ratio"] = _ratio(b[k], a[k])
    rows = [[label, *(record["scales"][label][k] for k in cols)] for label in ("sf0.1", "sf1")]
    rows.append(["ratio", *(f"**{record[f'{k}_ratio']}**" if k == "wall_s"
                            else record[f"{k}_ratio"] for k in cols)])
    return _finish(
        record, out_name, "scale_probe_stream_latest.json",
        ["scale", "rows", "keys", "closed", "wall s", "peak state rows", "peak state bytes"],
        rows, record["closed_exact_scale"],
    )


def sessions_main(reps: int = 10, src: str = SF01, out_name=None) -> int:
    """BOTH sessionization variants — GST (applyInPandasWithState +
    GroupStateTimeout) and TWS (transformWithStateInPandas + explicit
    timers), the bench's two most expensive queries — at 1× vs reps×
    under RocksDB. Same disjoint key-replica construction as --stream,
    so the closed-session census must scale EXACTLY reps× for each
    variant. Two timed runs per (variant, scale): the census determinism
    check needs two, and the reps× replays are the most expensive probe
    legs; the per-run walls are recorded so the spread is visible. A
    nondeterministic census still writes the partial record (per-run
    walls and state metrics so far) before the exit code gates."""
    from contextlib import nullcontext

    from mapreduce_system_spark.pbshim import tws_protobuf_env
    from mapreduce_system_spark.queries import streaming
    from mapreduce_system_spark.streaming import stateful as ST

    dst = f"{SCRATCH}/sessions_sf1"
    spark = get_spark("scale_probe_sessions")
    print(f"# building {reps}x keys/events at {dst} from {src}", file=sys.stderr)
    build_scaled_stream_events(spark, src, dst, reps)
    sessionizers = {"gst": ST.user_sessions_stateful, "tws": ST.user_sessions_tws}

    def run(variant: str, d: str):
        env = tws_protobuf_env(spark) if variant == "tws" else nullcontext()
        t0 = time.time()
        with env:
            out, progress = streaming.replay_sessions(
                spark, d, f"probe_sess_{variant}", sessionizers[variant], _ROCKSDB_CONF,
            )
            closed = int(out.count())
        wall = time.time() - t0
        caches.release()
        return wall, (closed, _state_metrics(progress))

    record: dict = {
        "mode": "sessions", "reps": reps, "src": src,
        "provider": "rocksdb", "gap_s": streaming.GAP_S, "variants": {},
    }
    default_name = "scale_probe_sessions_latest.json"
    header = ["variant", "scale", "closed", "wall s", "peak state rows", "peak state bytes"]
    ok, rows = True, []
    for variant in sessionizers:
        vrec: dict = {"scales": {}}
        record["variants"][variant] = vrec
        timed = _two_scales(partial(run, variant), [("sf0.1", src), ("sf1", dst)], runs=2)
        for label, t in timed.items():
            closed = [c for c, _ in t.results]
            per_run = [m for _, m in t.results]
            walls = [round(w, 2) for w in t.walls]
            if len(set(closed)) > 1:
                print(f"# NONDETERMINISM: {variant}/{label} closed {closed}", file=sys.stderr)
                vrec["scales"][label] = {
                    "closed_sessions": closed, "walls": walls, "state_metrics_per_run": per_run,
                }
                record["nondeterministic"] = f"{variant}/{label}"
                return _finish(record, out_name, default_name, header, [], False)
            vrec["scales"][label] = {
                "closed_sessions": closed[0],
                "wall_s": round(t.wall, 2),
                "walls": walls,
                **_max_fold(per_run),
                "state_metrics_per_run": per_run,
            }
        a, b = vrec["scales"]["sf0.1"], vrec["scales"]["sf1"]
        vrec["closed_exact_scale"] = b["closed_sessions"] == reps * a["closed_sessions"]
        cols = ("closed_sessions", "wall_s", "peak_state_rows", "peak_state_bytes")
        for k in cols:
            vrec[f"{k}_ratio"] = _ratio(b[k], a[k])
        ok = ok and vrec["closed_exact_scale"]
        rows += [[variant, label, *(vrec["scales"][label][k] for k in cols)]
                 for label in ("sf0.1", "sf1")]
        rows.append([variant, "ratio", *(f"**{vrec[f'{k}_ratio']}**" if k == "wall_s"
                                         else vrec[f"{k}_ratio"] for k in cols)])
    return _finish(record, out_name, default_name, header, rows, ok)


def boilerplate_main(reps: int = 10, src: str = SF01, out_name=None) -> int:
    """pipe_strip_boilerplate at 1× vs reps×. Replica r offsets doc_id AND
    suffixes ``source`` with ``_r{r}``, so each replica is a DISJOINT
    per-source group and the line-frequency analysis is per-replica
    identical to the fixture's — output rows, total kept lines, and
    total stripped lines must all scale EXACTLY reps× (asserted); wall
    is the free variable. The registered query itself is what runs (it
    stages the banner/footer condition internally from ``source``, which
    the suffix keeps per-replica distinct) — no private re-derivation."""
    from mapreduce_system_spark.queries.pipeline import q_pipe_strip_boilerplate

    dst = f"{SCRATCH}/boilerplate_sf1"
    spark = get_spark("scale_probe_boilerplate")
    print(f"# building {reps}x disjoint-source docs at {dst}", file=sys.stderr)
    docs = load_table(spark, src, "documents")
    _union_replicas(docs, reps, lambda r: docs.select(
        (F.col("doc_id") + r * _OFFSET).alias("doc_id"),
        "text",
        "lang",
        F.concat(F.col("source"), F.lit(f"_r{r}")).alias("source"),
        "n_chars",
    )).repartition(8).write.mode("overwrite").parquet(f"{dst}/documents.parquet")

    def run(d: str):
        t0 = time.time()
        row = (
            q_pipe_strip_boilerplate(spark, d)
            .agg(
                F.count("*").alias("rows"),
                F.sum("n_lines").alias("lines"),
                F.sum("n_removed").alias("removed"),
            )
            .collect()[0]
        )
        wall = time.time() - t0
        caches.release()
        return wall, {k: int(row[k]) for k in ("rows", "lines", "removed")}

    timed = _two_scales(run, [("sf0.1", src), ("sf1", dst)])
    record: dict = {"mode": "boilerplate", "reps": reps, "src": src, "scales": {
        label: {**t.results[-1], "wall_s": round(t.wall, 2)} for label, t in timed.items()
    }}
    a, b = record["scales"]["sf0.1"], record["scales"]["sf1"]
    for k in ("rows", "lines", "removed"):
        record[f"{k}_exact_scale"] = b[k] == reps * a[k]
    record["wall_ratio"] = _ratio(b["wall_s"], a["wall_s"])
    rows = [[label, *(s[k] for k in ("rows", "lines", "removed", "wall_s"))]
            for label, s in record["scales"].items()]
    rows.append(["ratio", "—", "—", "—", f"**{record['wall_ratio']}**"])
    return _finish(
        record, out_name, "scale_probe_boilerplate_latest.json",
        ["scale", "rows", "lines", "removed", "wall s"], rows,
        all(record[f"{k}_exact_scale"] for k in ("rows", "lines", "removed")),
    )


def rules_main(reps: int = 10, src: str = SF01, out_name=None) -> int:
    """Association rules at 1× vs reps×: replica r offsets BOTH
    l_orderkey and l_partkey by r*_OFFSET — fully disjoint shards with
    identical per-replica co-occurrence structure (offsetting baskets
    alone would multiply every pair's co-occurrence count by reps and
    push sub-threshold pairs over min_pair_count: rule rows jumped 34×
    at reps=3 in a dry run, a real threshold semantics, not a bug — but
    useless as a parity check). Disjoint, qualifying pairs and rule rows
    must scale EXACTLY reps× with per-rule counts unchanged; wall is
    then the free variable and pair generation stays quadratic only in
    basket size."""
    from mapreduce_system_spark.operators.basket import association_rules

    dst = f"{SCRATCH}/rules_sf1"
    spark = get_spark("scale_probe_rules")
    li = load_table(spark, src, "lineitem", columns=["l_orderkey", "l_partkey"])
    _write_replicated(
        spark, li, ["l_orderkey", "l_partkey"], reps, f"{dst}/lineitem.parquet"
    )

    def run(d: str):
        ev = load_table(spark, d, "lineitem", columns=["l_orderkey", "l_partkey"])
        t0 = time.time()
        n = association_rules(
            ev, basket_col="l_orderkey", item_col="l_partkey", min_pair_count=2
        ).count()
        wall = time.time() - t0
        caches.release()
        return wall, int(n)

    timed = _two_scales(run, [("sf0.1", src), ("sf1", dst)])
    record: dict = {"mode": "rules", "reps": reps, "src": src, "scales": {
        label: {"rule_rows": t.results[-1], "wall_s": round(t.wall, 2)}
        for label, t in timed.items()
    }}
    a, b = record["scales"]["sf0.1"], record["scales"]["sf1"]
    record["rules_exact_scale"] = b["rule_rows"] == reps * a["rule_rows"]
    # zero-guarded: a src whose pairs never reach min_pair_count yields
    # 0 rules, and the record must still be written
    record["wall_ratio"] = _ratio(b["wall_s"], a["wall_s"])
    rows = [[label, s["rule_rows"], s["wall_s"]] for label, s in record["scales"].items()]
    rows_ratio = (
        f"{b['rule_rows'] / a['rule_rows']:.2f}" if a["rule_rows"] else "n/a (0 rules)"
    )
    rows.append(["ratio", rows_ratio, f"**{record['wall_ratio']}**"])
    return _finish(
        record, out_name, "scale_probe_rules_latest.json",
        ["scale", "rule rows", "wall s"], rows, record["rules_exact_scale"],
    )


def card_main(reps: int = 10, src: str = SF01, out_name=None) -> int:
    """Join-cardinality estimation at 1× vs reps× (orders ⋈ customer on
    custkey, both sides replica-offset so |join| scales EXACTLY reps×):
    records the estimator's wall AGAINST the materialized join's count
    wall (the claim under test: estimating is cheaper than joining) and
    its relative error at both scales. Coordinated key sampling keeps
    per-key products exact, so the error is pure key-COVERAGE noise —
    it tightens as the number of sampled keys grows (sf0.1's 1,500-key
    domain: −2.3% at 1× → −0.8% at 10×, scale_probe_r12_card.json) but
    is LARGE when the absolute sampled-key count is small regardless of
    rows: a tiny-domain smoke (sf0.001, ~15 sampled keys) legitimately
    reads tens of percent and re-rolls when replica offsets double the
    key domain. Judge probe accuracy by sampled-key COUNT, not corpus
    rows."""
    from mapreduce_system_spark.operators.cardinality import (
        join_cardinality_estimate,
        join_cardinality_exact,
    )

    dst = f"{SCRATCH}/card_sf1"
    spark = get_spark("scale_probe_card")
    orders = load_table(spark, src, "orders", columns=["o_custkey"])
    cust = load_table(spark, src, "customer", columns=["c_custkey"])
    for name, df, col in (("orders", orders, "o_custkey"), ("customer", cust, "c_custkey")):
        _write_replicated(spark, df, [col], reps, f"{dst}/{name}.parquet")

    def run(d: str):
        o = load_table(spark, d, "orders", columns=["o_custkey"])
        c = load_table(spark, d, "customer", columns=["c_custkey"])
        walls, t0 = {}, time.time()
        est = join_cardinality_estimate(o, c, "o_custkey", "c_custkey", 10).collect()[0][0]
        walls["est"], t0 = time.time() - t0, time.time()
        exact = join_cardinality_exact(o, c, "o_custkey", "c_custkey").collect()[0][0]
        walls["exact"], t0 = time.time() - t0, time.time()
        joined = o.join(c, o.o_custkey == c.c_custkey).count()
        walls["join"] = time.time() - t0
        caches.release()
        return walls, (int(est), int(exact), int(joined))

    timed = _two_scales(run, [("sf0.1", src), ("sf1", dst)])
    record: dict = {"mode": "card", "reps": reps, "src": src, "sample_pct": 10, "scales": {}}
    for label, t in timed.items():
        est, exact, joined = t.results[-1]
        record["scales"][label] = {
            "estimate": est, "exact": exact, "join_count": joined,
            # zero-guard: disjoint key spaces give exact=0
            "rel_error": round((est - exact) / exact, 4) if exact else None,
            **{f"{k}_wall_s": round(t.wall[k], 2) for k in ("est", "exact", "join")},
        }
    a, b = record["scales"]["sf0.1"], record["scales"]["sf1"]
    record["exact_matches_join"] = (
        a["exact"] == a["join_count"] and b["exact"] == b["join_count"]
    )
    record["exact_scales"] = b["exact"] == reps * a["exact"]
    cols = ("estimate", "exact", "rel_error", "est_wall_s", "exact_wall_s", "join_wall_s")
    return _finish(
        record, out_name, "scale_probe_card_latest.json",
        ["scale", "estimate", "exact", "rel err", "est wall", "exact wall", "join wall"],
        [[label, *(s[k] for k in cols)] for label, s in record["scales"].items()],
        record["exact_matches_join"] and record["exact_scales"],
    )


def tfidf_main(reps: int = 10, src: str = SF01, out_name=None) -> int:
    """TF-IDF cosine pairs at 1× vs reps× on DISJOINT token-prefixed
    document shards (``build_scaled`` organic_pct=0 — no token crosses
    shards, so the capped-posting CANDIDATE census and the qualifying
    pair rows must both scale EXACTLY reps×; wall is the free
    variable). Candidates are counted by the operator itself at a tiny
    positive threshold (TF-IDF weights are strictly positive, so every
    shared-posting pair has cosine > 0 — no private re-derivation of
    the posting join that could drift from the operator). NOTE: idf
    shifts with corpus size (N grows reps× while each shard's df is
    unchanged), so per-pair COSINES differ across scales by design; the
    exact-scale checks are on COUNTS, which the threshold can in
    principle perturb — the probe therefore records both the threshold
    census and the threshold-free candidate census, and only the latter
    is the hard gate."""
    from mapreduce_system_spark.operators.dedup import tfidf_cosine_pairs

    dst = f"{SCRATCH}/tfidf_sf1"
    spark = get_spark("scale_probe_tfidf")
    build_scaled(spark, src, dst, reps, 0, tables=("documents",))

    # cap 250, NOT the registered query's 200 or the shingle family's
    # 100: token DF is per-SHARD under the disjoint construction, and the
    # fixture's measured token-DF cliff (queries/dedup.py) means caps
    # <= 200 leave ZERO shared postings at sf0.1 — a probe that measures
    # nothing; 250 admits the mid-frequency stratum (675 pairs @0.3 at
    # sf0.1) so candidate growth is actually exercised
    cap = 250

    def run(d: str):
        docs = load_table(spark, d, "documents", columns=["doc_id", "text"])
        t0 = time.time()
        n_pairs = tfidf_cosine_pairs(
            docs, threshold=0.3, max_token_df=cap
        ).count()
        wall = time.time() - t0
        caches.release()
        # round_to=12: the default rounds cosines to 6 decimals BEFORE the
        # threshold, so a shared-posting pair with cosine < 5e-7 would
        # round to 0.0 and drop — under-counting the census (and idf
        # shifts across scales could move a borderline pair across the
        # rounding cliff). At 1e-12 threshold with 12-decimal rounding
        # every positive-weight pair survives: TF-IDF weights are >= 1
        # per posting and norms are fixture-bounded, so true cosines sit
        # far above 5e-13.
        cands = tfidf_cosine_pairs(
            docs, threshold=1e-12, max_token_df=cap, round_to=12
        ).count()
        caches.release()
        return wall, {"pairs": int(n_pairs), "candidates": int(cands)}

    timed = _two_scales(run, [("sf0.1", src), ("sf1", dst)])
    record: dict = {
        "mode": "tfidf", "reps": reps, "src": src,
        "threshold": 0.3, "max_token_df": cap, "scales": {
            label: {**t.results[-1], "wall_s": round(t.wall, 2)} for label, t in timed.items()
        },
    }
    a, b = record["scales"]["sf0.1"], record["scales"]["sf1"]
    record["candidates_exact_scale"] = b["candidates"] == reps * a["candidates"]
    record["pairs_exact_scale"] = b["pairs"] == reps * a["pairs"]
    record["wall_ratio"] = _ratio(b["wall_s"], a["wall_s"])
    rows = [[label, s["pairs"], s["candidates"], s["wall_s"]]
            for label, s in record["scales"].items()]
    cand_ratio = (
        f"{b['candidates'] / a['candidates']:.2f}" if a["candidates"] else "n/a"
    )
    rows.append(["ratio", "—", cand_ratio, f"**{record['wall_ratio']}**"])
    return _finish(
        record, out_name, "scale_probe_tfidf_latest.json",
        ["scale", "pairs@0.3", "candidates", "wall s"], rows,
        record["candidates_exact_scale"],
    )


def _disjoint_copurchase(spark, src: str, reps: int, dst: str) -> None:
    """The graph modes' disjoint construction: replica r offsets BOTH
    l_orderkey and l_partkey by r*_OFFSET, so shards share no baskets
    and no parts and each shard's co-purchase graph is an isomorphic
    copy."""
    li = load_table(spark, src, "lineitem", columns=["l_orderkey", "l_partkey"])
    _write_replicated(spark, li, ["l_orderkey", "l_partkey"], reps, f"{dst}/lineitem.parquet")


def _size_histogram(df, key: str) -> dict[int, int]:
    """{group size: number of groups} over ``df`` grouped by ``key``."""
    return {
        int(r["sz"]): int(r["n"])
        for r in df.groupBy(key).agg(F.count("*").alias("sz"))
        .groupBy("sz").agg(F.count("*").alias("n")).collect()
    }


def lpa_main(reps: int = 10, src: str = SF01, out_name=None) -> int:
    """Label propagation at 1× vs reps× on disjoint co-purchase replicas
    (labels offset by exactly r*_OFFSET per shard). Hard gates: the node
    census scales EXACTLY reps× AND the community-SIZE histogram scales
    exactly reps× per bucket (shard-local structure is unchanged, so
    every community reappears reps times at its original size — a
    cross-shard edge, a tie-break drift, or an iteration-order
    dependence would all break the histogram before they broke a row
    count). Wall is the free variable: per round ONE equi-join + TWO
    partial+final aggregates, so wall should grow far slower than
    reps."""
    from mapreduce_system_spark.operators.graph import label_propagation
    from mapreduce_system_spark.queries.graph import copurchase_pairs

    dst = f"{SCRATCH}/lpa_sf1"
    spark = get_spark("scale_probe_lpa")
    _disjoint_copurchase(spark, src, reps, dst)

    def run(d: str):
        pr = copurchase_pairs(spark, d)
        t0 = time.time()
        hist = _size_histogram(label_propagation(pr, src="u", dst="v", iterations=3), "label")
        wall = time.time() - t0
        caches.release()
        return wall, hist

    timed = _two_scales(run, [("sf0.1", src), ("sf1", dst)])
    record: dict = {"mode": "lpa", "reps": reps, "src": src, "iterations": 3, "scales": {}}
    for label, t in timed.items():
        hist = t.results[-1]
        record["scales"][label] = {
            "nodes": sum(sz * n for sz, n in hist.items()),
            "communities": sum(hist.values()),
            "size_histogram": {str(k): v for k, v in sorted(hist.items())},
            "wall_s": round(t.wall, 2),
        }
    a, b = record["scales"]["sf0.1"], record["scales"]["sf1"]
    record["nodes_exact_scale"] = b["nodes"] == reps * a["nodes"]
    record["histogram_exact_scale"] = _scaled(
        timed["sf0.1"].results[-1], timed["sf1"].results[-1], reps
    )
    record["wall_ratio"] = _ratio(b["wall_s"], a["wall_s"])
    rows = [[label, s["nodes"], s["communities"], s["wall_s"]]
            for label, s in record["scales"].items()]
    rows.append(["ratio", f"{b['nodes']/a['nodes']:.2f}",
                 f"{b['communities']/a['communities']:.2f}", f"**{record['wall_ratio']}**"])
    return _finish(
        record, out_name, "scale_probe_lpa_latest.json",
        ["scale", "nodes", "communities", "wall s"], rows,
        record["nodes_exact_scale"] and record["histogram_exact_scale"],
    )


def kcore_main(reps: int = 10, src: str = SF01, organic_pct: int = 0, out_name=None) -> int:
    """k-core peeling at 1× vs reps×. Default (``organic_pct=0``): the
    disjoint co-purchase replicas. Hard gates: the survivor census
    scales EXACTLY reps× AND the survivor DEGREE histogram scales
    exactly reps× per bucket (a cross-shard edge or a round-order
    dependence would break the histogram before a row count). Wall is
    the free variable: per round ONE degree aggregate + two
    (gated-broadcast) semi-joins.

    ``organic_pct`` > 0: the collision mode — baskets still replicate
    disjointly (l_orderkey always offsets) but the hash-chosen organic
    fraction of PARTS keeps its identity across replicas, so an organic
    part is co-purchased in every shard and its degree grows ~reps× —
    the hub regime stressing the keep-set story the gated broadcast
    depends on. Exact-scale gates don't apply (collisions merge hubs by
    design); the record instead carries the PRE-peel degree-tail census
    per scale (max/p99/p999) plus the survivor census and walls, and
    gates only on sanity (survivors and the degree tail must grow,
    never shrink)."""
    from mapreduce_system_spark.operators.graph import k_core_peel
    from mapreduce_system_spark.queries.graph import copurchase_pairs

    k, rounds = 3, 3
    dst = f"{SCRATCH}/kcore_sf1"
    spark = get_spark("scale_probe_kcore")
    if organic_pct:
        li = load_table(spark, src, "lineitem", columns=["l_orderkey", "l_partkey"])
        organic = F.pmod(F.xxhash64(F.col("l_partkey")), F.lit(100)) < organic_pct
        _union_replicas(li, reps, lambda r: li.select(
            (F.col("l_orderkey") + r * _OFFSET).alias("l_orderkey"),
            F.when(organic, F.col("l_partkey"))
            .otherwise(F.col("l_partkey") + r * _OFFSET)
            .alias("l_partkey"),
        )).repartition(16).write.mode("overwrite").parquet(f"{dst}/lineitem.parquet")
    else:
        _disjoint_copurchase(spark, src, reps, dst)

    def degree_tail(d: str) -> dict:
        """PRE-peel degree census of the symmetrized co-purchase graph —
        the hub evidence the organic mode exists to record. Uses the
        operator family's own graph construction (copurchase_pairs), so
        the census describes the graph the peel actually ran on."""
        pr = copurchase_pairs(spark, d)
        deg = (
            pr.select(F.col("u").alias("node"))
            .unionAll(pr.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count("*").alias("deg"))
        )
        row = deg.agg(
            F.count("*").alias("n_nodes"),
            F.max("deg").alias("max_deg"),
            F.expr("percentile(deg, 0.999)").alias("p999"),
            F.expr("percentile(deg, 0.99)").alias("p99"),
            F.expr("percentile(deg, 0.5)").alias("p50"),
        ).collect()[0]
        caches.release()
        return {
            "n_nodes": int(row["n_nodes"]),
            "max_deg": int(row["max_deg"]),
            **{p: round(float(row[p]), 1) for p in ("p999", "p99", "p50")},
        }

    def run(d: str):
        pr = copurchase_pairs(spark, d)
        t0 = time.time()
        surv = k_core_peel(
            pr, k, src="u", dst="v", rounds=rounds,
            edges_undirected_distinct=True,
        )
        hist = {
            int(r["degree"]): int(r["n"])
            for r in surv.groupBy("degree").agg(F.count("*").alias("n")).collect()
        }
        wall = time.time() - t0
        caches.release()
        return wall, hist

    scales = [("sf0.1", src), ("sf1", dst)]
    timed = _two_scales(run, scales)
    record: dict = {
        "mode": "kcore", "reps": reps, "src": src, "k": k,
        "rounds": rounds, "organic_pct": organic_pct, "scales": {},
    }
    for label, d in scales:
        hist = timed[label].results[-1]
        record["scales"][label] = {
            "survivors": sum(hist.values()),
            "degree_histogram": {str(kk): v for kk, v in sorted(hist.items())},
            "wall_s": round(timed[label].wall, 2),
        }
        if organic_pct:
            record["scales"][label]["degree_tail"] = degree_tail(d)
    a, b = record["scales"]["sf0.1"], record["scales"]["sf1"]
    record["wall_ratio"] = _ratio(b["wall_s"], a["wall_s"])
    if organic_pct:
        # collisions merge hubs by design — exact-scale gates replaced
        # by the sanity pair + the hub-growth evidence itself
        ta, tb = a["degree_tail"], b["degree_tail"]
        record["max_deg_ratio"] = _ratio(tb["max_deg"], ta["max_deg"])
        ok = b["survivors"] >= a["survivors"] and tb["max_deg"] >= ta["max_deg"]
        record["sanity_ok"] = ok
        print(f"degree tail sf0.1: {ta}")
        print(f"degree tail sf1:   {tb}  (max_deg ratio {record['max_deg_ratio']})")
    else:
        record["survivors_exact_scale"] = b["survivors"] == reps * a["survivors"]
        record["histogram_exact_scale"] = _scaled(
            timed["sf0.1"].results[-1], timed["sf1"].results[-1], reps
        )
        ok = record["survivors_exact_scale"] and record["histogram_exact_scale"]
    rows = [[label, s["survivors"], s["wall_s"]] for label, s in record["scales"].items()]
    ratio = b["survivors"] / a["survivors"] if a["survivors"] else float("nan")
    rows.append(["ratio", f"{ratio:.2f}", f"**{record['wall_ratio']}**"])
    return _finish(
        record, out_name, "scale_probe_kcore_latest.json",
        ["scale", "survivors", "wall s"], rows, ok,
    )


def ccjump_main(reps: int = 10, src: str = SF01, out_name=None) -> int:
    """Pointer-jumping connected components at 1× vs reps×. Two
    constructions, two claims:

    (1) the disjoint co-purchase replicas. Hard gate: the component
    CENSUS (count + size histogram) scales EXACTLY reps× (components of
    a disjoint union are components per shard); wall is the free
    variable — per round two equi-joins + one node-keyed min aggregate
    + one node-sized checkpoint.

    (2) a DEEP PATH (the regime the operator exists for): minimal
    converged rounds at depth D vs reps·D must grow by <= 4 (the
    O(log d) claim — reach doubles per round), where min-label CC
    (operators/dedup.py) would need D rounds outright. The path is
    synthetic by necessity: no fixture relation carries diameter in
    the thousands, and depth IS the stressor here."""
    from mapreduce_system_spark.operators.graph import connected_components_jump
    from mapreduce_system_spark.queries.graph import copurchase_pairs

    dst = f"{SCRATCH}/ccjump_sf1"
    spark = get_spark("scale_probe_ccjump")
    _disjoint_copurchase(spark, src, reps, dst)

    def census(d: str):
        pr = copurchase_pairs(spark, d)
        t0 = time.time()
        sizes = _size_histogram(connected_components_jump(pr, id_a="u", id_b="v", rounds=6), "lab")
        wall = time.time() - t0
        caches.release()
        return wall, sizes

    timed = _two_scales(census, [("sf0.1", src), ("sf1", dst)])
    record: dict = {"mode": "ccjump", "reps": reps, "src": src, "scales": {
        label: {
            "n_components": sum(t.results[-1].values()),
            "size_histogram": {str(k): v for k, v in sorted(t.results[-1].items())},
            "wall_s": round(t.wall, 2),
        }
        for label, t in timed.items()
    }}
    a, b = record["scales"]["sf0.1"], record["scales"]["sf1"]
    record["census_exact_scale"] = _scaled(
        timed["sf0.1"].results[-1], timed["sf1"].results[-1], reps
    )
    record["wall_ratio"] = _ratio(b["wall_s"], a["wall_s"])

    # (2) the depth claim: minimal converged rounds on a path, D vs reps·D
    def min_rounds(depth: int) -> int:
        edges = spark.range(depth).select(
            F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
        )
        for r in range(1, 21):
            lab = connected_components_jump(edges, rounds=r)
            n_labels = lab.select("lab").distinct().count()
            caches.release()
            if n_labels == 1:
                return r
        return -1

    depth = 2000
    r_small, r_big = min_rounds(depth), min_rounds(depth * reps)
    record["path_depth"] = depth
    record["path_rounds_1x"] = r_small
    record["path_rounds_10x"] = r_big
    record["log_growth"] = 0 <= r_big - r_small <= 4
    rows = [[label, s["n_components"], s["wall_s"]] for label, s in record["scales"].items()]
    rows.append(["ratio", "", f"**{record['wall_ratio']}**"])
    rows.append([f"path {depth} -> x{reps}", f"rounds {r_small} -> {r_big}", ""])
    return _finish(
        record, out_name, "scale_probe_ccjump_latest.json",
        ["scale", "components", "wall s"], rows,
        record["census_exact_scale"] and record["log_growth"],
    )


def fjoin_main(reps: int = 10, src: str = SF01, out_name=None) -> int:
    """FULL OUTER stream-stream interval join at 1× vs reps× keys. Each
    side is staged as two time-contiguous chunks + a far-future sentinel
    (``streaming.replay`` — sentinels on BOTH streams because the global
    watermark is the min across inputs). Hard gates: the streaming
    (matched, left-unmatched, right-unmatched) census equals the batch
    FULL JOIN census at BOTH scales, and the census scales EXACTLY reps×
    (replicas are key-disjoint). Free variables: wall and peak join-state
    rows (both sides' in-flight windows — expect ~linear in rows, the
    watermark-eviction contract)."""
    from mapreduce_system_spark.streaming import windows as SW
    from mapreduce_system_spark.streaming.replay import Replay

    spark = get_spark("scale_probe_fjoin")
    MAX_DELAY = "30 minutes"

    def load_sides(rep: int):
        ev = load_table(
            spark, src, "events", columns=["user_id", "ts", "event_type"]
        ).where(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        ev = _union_replicas(ev, rep, lambda r: ev.select(
            (F.col("user_id") + r * _OFFSET).alias("user_id"), "ts", "event_type",
        ))
        clicks = ev.where(F.col("event_type") == "click").select("user_id", "ts")
        purch = ev.where(F.col("event_type") == "purchase").select("user_id", "ts")
        return clicks, purch

    def census_of(df) -> dict:
        row = (
            df.where(
                (F.col("l_user_id").isNull() | (F.col("l_user_id") != -1))
                & (F.col("r_user_id").isNull() | (F.col("r_user_id") != -1))
            )
            .agg(
                F.count_if(
                    F.col("l_ts").isNotNull() & F.col("r_ts").isNotNull()
                ).alias("matched"),
                F.count_if(F.col("r_ts").isNull()).alias("left_unmatched"),
                F.count_if(F.col("l_ts").isNull()).alias("right_unmatched"),
            )
            .collect()[0]
        )
        return {k: int(row[k]) for k in ("matched", "left_unmatched", "right_unmatched")}

    def run(rep: int):
        clicks, purch = load_sides(rep)
        max_es = (
            clicks.select(F.max(F.unix_timestamp("ts")).alias("m"))
            .unionByName(purch.select(F.max(F.unix_timestamp("ts")).alias("m")))
            .agg(F.max("m"))
            .collect()[0][0]
        )
        sentinel_es = int(max_es) + 3 * 3600  # beyond every join window
        sentinel = spark.range(1).select(
            F.lit(-1).cast("long").alias("user_id"),
            F.timestamp_seconds(F.lit(sentinel_es)).alias("ts"),
            F.lit(sentinel_es).cast("long").alias("es"),
        )
        with Replay(spark, f"probe_fjoin_{rep}x", src) as r:

            def side(df, name: str):
                staged = r.stage(
                    df.withColumn("es", F.unix_timestamp("ts")), name,
                    by=("es", "user_id"), sentinel=sentinel,
                )
                return SW.with_watermark(staged, delay="1 minute")

            clicks_s, purch_s = side(clicks, "clicks"), side(purch, "purch")
            t0 = time.time()
            joined = SW.interval_join(
                clicks_s, purch_s,
                on="user_id", max_delay=MAX_DELAY, how="full_outer",
            )
            out = r.run(
                joined.writeStream.foreachBatch(
                    lambda b, _i: b.write.mode("append").parquet(r.sink)
                ).outputMode("append"),
                lambda: spark.read.parquet(r.sink),
            )
            stream_census = census_of(out)
            wall = time.time() - t0
        batch_census = census_of(
            SW.interval_join(
                clicks, purch, on="user_id",
                max_delay=MAX_DELAY, how="full_outer",
            )
        )
        caches.release()
        return wall, (stream_census, batch_census, _state_metrics(r.progress))

    big = f"{reps}x"
    timed = _two_scales(run, [("1x", 1), (big, reps)])
    record: dict = {
        "mode": "fjoin", "reps": reps, "src": src,
        "max_delay": MAX_DELAY, "scales": {},
    }
    for label, t in timed.items():
        sc, bc, metrics = t.results[-1]
        record["scales"][label] = {
            "stream_census": sc,
            "batch_census": bc,
            "stream_matches_batch": sc == bc,
            "wall_s": round(t.wall, 2),
            **{k: metrics[k] for k in ("peak_state_rows", "peak_state_bytes", "n_batches")},
        }
    a, b = record["scales"]["1x"], record["scales"][big]
    record["census_exact_scale"] = _scaled(a["stream_census"], b["stream_census"], reps)
    record["wall_ratio"] = _ratio(b["wall_s"], a["wall_s"])
    record["state_rows_ratio"] = _ratio(b["peak_state_rows"], a["peak_state_rows"])
    ok = a["stream_matches_batch"] and b["stream_matches_batch"] and record["census_exact_scale"]
    rows = [[label, *(s["stream_census"][k] for k in
                      ("matched", "left_unmatched", "right_unmatched")),
             s["wall_s"], s["peak_state_rows"]]
            for label, s in record["scales"].items()]
    rows.append(["ratio", "", "", "", f"**{record['wall_ratio']}**", record["state_rows_ratio"]])
    return _finish(
        record, out_name, "scale_probe_fjoin_latest.json",
        ["scale", "matched", "l-unmatched", "r-unmatched", "wall s", "peak state rows"],
        rows, ok,
    )


def bloom_main(reps: int = 10, src: str = SF01, out_name=None) -> int:
    """Bloom prefilter fp-rate + residue at 1× vs reps× history. The
    registered query's false-positive audit is fixture-sized; this probe
    pins that (a) the MEASURED fp rate tracks the (1 - e^{-kn/m})^k
    formula as the history grows — the sizing contract a caller relies
    on when picking m for a 100 TB corpus — (b) the no-false-negative
    invariant holds at every scale, and (c) the maybe-seen residue (the
    exact-path fallback volume) stays the bounded fraction the two-tier
    design assumes. Scale construction: replica r SALTS the fingerprint
    (``fp#r``) — the sketch hashes opaque strings, so salting grows the
    distinct key population without touching parquet; history/batch
    split and recrawl staging are the registered query's constants
    verbatim.

    m is sized per scale BY the measured history count (``bloom_params``,
    fp target 1%), as the registered query does; at a fixed m=65536 the
    10× history saturated the sketch (fp 0.76, residue 0.89). So the
    claim under test is that the measured fp rate stays at the design
    target at EVERY history size. Wall is still recorded: m grows
    linearly with n, so the sketch stays a fixed-ratio summary (~9.6
    bits/key) and the join cost must track the key volume, not
    explode."""
    from mapreduce_system_spark.functions.hashing import md5_bucket32
    from mapreduce_system_spark.functions.text import fingerprint
    from mapreduce_system_spark.operators.bloomsketch import (
        bloom_build,
        bloom_maybe_contains,
        bloom_params,
    )

    FP_TARGET = 0.01                   # the registered query's target
    K = bloom_params(1, FP_TARGET)[1]  # k is n-independent (= 7 at 1%)
    BATCH_BUCKET, RECRAWL_MOD = 90, 7  # (queries/dedup.py)
    spark = get_spark("scale_probe_bloom")
    docs = load_table(spark, src, "documents", columns=["doc_id", "text"])
    b = (
        docs.where(F.col("doc_id").isNotNull() & F.col("text").isNotNull())
        .select(
            "doc_id",
            fingerprint("text").alias("fp"),
            F.pmod(
                md5_bucket32(F.col("doc_id").cast("string")), F.lit(100)
            ).alias("bk"),
        )
    )

    def key_relations(rep: int):
        kb = _with_replica_ids(spark, b, rep).select(
            "doc_id", "bk",
            F.concat("fp", F.lit("#"), F.col("r").cast("string")).alias("key"),
        )
        hist = kb.where(F.col("bk") < BATCH_BUCKET).select("key").distinct()
        batch = (
            kb.where(
                (F.col("bk") >= BATCH_BUCKET)
                | ((F.col("bk") < BATCH_BUCKET)
                   & (F.col("doc_id") % RECRAWL_MOD == 0))
            )
            .select("key")
            .distinct()
        )
        return hist, batch

    def run(rep: int):
        hist, batch = key_relations(rep)
        t0 = time.time()
        m, _ = bloom_params(hist.count(), FP_TARGET)  # sized-by-n, timed in
        sketch = bloom_build(hist, "key", m=m, k=K)
        verd = bloom_maybe_contains(batch, sketch, "key", m=m, k=K)
        census = {
            (r["maybe_seen"], r["actually_seen"]): r["n"]
            for r in verd.join(
                hist.withColumnRenamed("key", "hk"),
                verd["key"] == F.col("hk"), "left",
            )
            .groupBy(
                "maybe_seen", F.col("hk").isNotNull().alias("actually_seen")
            )
            .agg(F.count("*").alias("n"))
            .collect()
        }
        wall = time.time() - t0
        n_hist = hist.count()
        caches.release()
        return wall, (n_hist, census, m)

    big = f"{reps}x"
    timed = _two_scales(run, [("1x", 1), (big, reps)])
    record: dict = {
        "mode": "bloom", "reps": reps, "src": src,
        "fp_target": FP_TARGET, "k": K, "sized_by_n": True,
        "scales": {},
    }
    ok = True
    for label, t in timed.items():
        n_hist, census, m = t.results[-1]
        n_fp = census.get((True, False), 0)
        n_fn = census.get((False, True), 0)
        n_new = n_fp + census.get((False, False), 0)
        n_seen = n_fn + census.get((True, True), 0)
        n_batch = n_new + n_seen
        predicted = (1.0 - math.exp(-K * n_hist / m)) ** K
        measured = n_fp / n_new if n_new else None
        # binomial tolerance on the fp COUNT: 4 sigma + 3 absolute (the
        # 1x point expects ~a-few false positives — Poisson-noisy)
        tol = 4.0 * math.sqrt(max(predicted * (1 - predicted) * n_new, 0)) + 3.0
        tracks = abs(n_fp - predicted * n_new) <= tol
        ok = ok and tracks and n_fn == 0
        record["scales"][label] = {
            "n_history_keys": n_hist,
            "m": m,
            "n_batch_keys": n_batch,
            "n_new_keys": n_new,
            "false_positives": n_fp,
            "false_negatives": n_fn,
            "fp_rate_measured": round(measured, 6) if measured is not None else None,
            "fp_rate_predicted": round(predicted, 6),
            "formula_tracks": tracks,
            "residue_fraction": round((n_batch - (n_new - n_fp)) / n_batch, 6)
            if n_batch else None,
            "wall_s": round(t.wall, 2),
        }
    a, bb = record["scales"]["1x"], record["scales"][big]
    record["no_false_negatives"] = (
        a["false_negatives"] == 0 and bb["false_negatives"] == 0
    )
    record["wall_ratio"] = _ratio(bb["wall_s"], a["wall_s"])
    cols = ("n_history_keys", "fp_rate_measured", "fp_rate_predicted", "residue_fraction",
            "wall_s")
    rows = [[label, *(s[k] for k in cols)] for label, s in record["scales"].items()]
    rows.append(["ratio", "", "", "", "", f"**{record['wall_ratio']}**"])
    return _finish(
        record, out_name, "scale_probe_bloom_latest.json",
        ["scale", "n history", "fp measured", "fp predicted", "residue", "wall s"], rows, ok,
    )


def ktruss_main(reps: int = 10, src: str = SF01, out_name=None) -> int:
    """k-truss peeling at 1× vs reps× on the disjoint co-purchase
    replicas, with the REGISTERED constants (queries/graph.py: raw
    graph, k=8, rounds=2 — the support-2 graph at k=3 has a 3-edge truss
    at sf0.1 and measures nothing). Hard gates: the surviving EDGE
    census scales EXACTLY reps× AND the survivor SUPPORT histogram
    scales exactly reps× per bucket (a cross-shard triangle or
    round-order dependence breaks the histogram before a row count).
    Wall is the free variable: per round one degree-ordered triangle
    enumeration + one edge-keyed aggregate + one edge-sized checkpoint
    — the checkpoint is the recurrence state itself (see k_truss_edges'
    docstring), so expect a HIGHER wall ratio than k-core's (three
    E-sized materializations ride the rounds by design, not defect)."""
    from mapreduce_system_spark.operators.graph import k_truss_edges
    from mapreduce_system_spark.queries.graph import copurchase_pairs

    k, rounds = 8, 2
    dst = f"{SCRATCH}/ktruss_sf1"
    spark = get_spark("scale_probe_ktruss")
    _disjoint_copurchase(spark, src, reps, dst)

    def run(d: str):
        pr = copurchase_pairs(spark, d)
        t0 = time.time()
        surv = k_truss_edges(
            pr, k, src="u", dst="v", rounds=rounds,
            edges_undirected_distinct=True,
        )
        hist = {
            int(r["support"]): int(r["n"])
            for r in surv.groupBy("support").agg(F.count("*").alias("n")).collect()
        }
        wall = time.time() - t0
        caches.release()
        return wall, hist

    timed = _two_scales(run, [("sf0.1", src), ("sf1", dst)])
    record: dict = {
        "mode": "ktruss", "reps": reps, "src": src, "k": k, "rounds": rounds, "scales": {
            label: {
                "surviving_edges": sum(t.results[-1].values()),
                "support_histogram": {str(kk): v for kk, v in sorted(t.results[-1].items())},
                "wall_s": round(t.wall, 2),
            }
            for label, t in timed.items()
        },
    }
    a, b = record["scales"]["sf0.1"], record["scales"]["sf1"]
    record["edges_exact_scale"] = b["surviving_edges"] == reps * a["surviving_edges"]
    record["histogram_exact_scale"] = _scaled(
        timed["sf0.1"].results[-1], timed["sf1"].results[-1], reps
    )
    record["wall_ratio"] = _ratio(b["wall_s"], a["wall_s"])
    rows = [[label, s["surviving_edges"], s["wall_s"]] for label, s in record["scales"].items()]
    ratio = (b["surviving_edges"] / a["surviving_edges"]
             if a["surviving_edges"] else float("nan"))
    rows.append(["ratio", f"{ratio:.2f}", f"**{record['wall_ratio']}**"])
    return _finish(
        record, out_name, "scale_probe_ktruss_latest.json",
        ["scale", "surviving edges", "wall s"], rows,
        record["edges_exact_scale"] and record["histogram_exact_scale"],
    )


def sneighbor_main(reps: int = 10, src: str = SF01, out_name=None) -> int:
    """Sorted-neighborhood blocking at 1× vs reps× (operators/blocking.py):
    replica r PREFIXES the blocking key (``r{r}~key``), so each shard
    occupies a CONTIGUOUS block of the global sort order. Hard gates:
    (a) the same-shard pair census equals reps× the 1× census exactly,
    and the cross-shard residue is exactly the boundary arithmetic
    (reps-1) * w*(w-1)/2 — a position off by one anywhere breaks both;
    (b) candidate volume stays n*(w-1) - tail at every scale (the
    linear-volume claim). Wall is the free variable: one range exchange
    + one pid window + one partition-count collect + one banded integer
    self-join."""
    from mapreduce_system_spark.operators.blocking import (
        sorted_neighborhood_pairs,
    )

    WIN = 4
    spark = get_spark("scale_probe_sneighbor")
    docs = load_table(spark, src, "documents", columns=["doc_id", "text"])
    base = docs.where(
        F.col("doc_id").isNotNull() & F.col("text").isNotNull()
    ).select(
        F.col("doc_id").cast("string").alias("rid"),
        F.lower(F.substring("text", 1, 24)).alias("bkey"),
    )

    def keyed(rep: int):
        return _with_replica_ids(spark, base, rep).select(
            F.concat(F.col("r").cast("string"), F.lit("#"), "rid").alias("rid"),
            F.concat(
                F.lit("r"), F.col("r").cast("string"), F.lit("~"), "bkey"
            ).alias("bkey"),
        )

    def run(rep: int):
        pop = keyed(rep)
        t0 = time.time()
        pairs = sorted_neighborhood_pairs(pop, "rid", "bkey", window=WIN)
        census = (
            pairs.select(
                (
                    F.split(F.col("id_a"), "#")[0]
                    == F.split(F.col("id_b"), "#")[0]
                ).alias("same_shard")
            )
            .groupBy("same_shard")
            .agg(F.count("*").alias("n"))
            .collect()
        )
        wall = time.time() - t0
        caches.release()
        c = {r["same_shard"]: r["n"] for r in census}
        return wall, {"same_shard_pairs": c.get(True, 0), "cross_shard_pairs": c.get(False, 0)}

    big = f"{reps}x"
    timed = _two_scales(run, [("1x", 1), (big, reps)])
    record: dict = {
        "mode": "sneighbor", "reps": reps, "src": src, "window": WIN, "scales": {
            label: {**t.results[-1], "wall_s": round(t.wall, 2)} for label, t in timed.items()
        },
    }
    a, bb = record["scales"]["1x"], record["scales"][big]
    record["pairs_exact_scale"] = (
        bb["same_shard_pairs"] == reps * a["same_shard_pairs"]
        and a["cross_shard_pairs"] == 0
        and bb["cross_shard_pairs"] == (reps - 1) * WIN * (WIN - 1) // 2
    )
    record["wall_ratio"] = _ratio(bb["wall_s"], a["wall_s"])
    rows = [[label, s["same_shard_pairs"], s["cross_shard_pairs"], s["wall_s"]]
            for label, s in record["scales"].items()]
    rows.append(["ratio", "", "", f"**{record['wall_ratio']}**"])
    return _finish(
        record, out_name, "scale_probe_sneighbor_latest.json",
        ["scale", "same-shard pairs", "cross", "wall s"], rows, record["pairs_exact_scale"],
    )


def knlm_main(reps: int = 10, src: str = SF01, out_name=None) -> int:
    """Kneser-Ney bigram scoring at 1× vs reps× (operators/lm.py):
    replica r salts every TOKEN (``r{r}x`` prefix — the dedup-probe
    construction), so each shard is a CLOSED vocabulary whose count
    tables are an isomorphic copy of shard 0's. Unlike the other
    constructions, per-shard scores are NOT expected to match the 1×
    run — interpolated KN is CORPUS-GLOBAL through the continuation
    denominator N1+(*,*), so sharding dilutes every P_cont by exactly
    the shard count (a gate on multiset-equality correctly FAILS — the
    failure is the measurement). The invariants gated here: (a) docs
    scored = reps×, (b) SYMMETRY — the shards are isomorphic and the
    global denominator hits them equally, so every (n_transitions,
    rounded score) census count at reps× must be divisible by reps and
    the distinct-score count must equal the 1× run's, (c) DIRECTION —
    the transition-weighted mean surprisal must be strictly HIGHER at
    reps× (smaller P_cont -> smaller backoff term -> larger -ln P).
    Wall is the free variable (one tokenize pass + count-table joins).
    """
    from mapreduce_system_spark.functions import text as TXT
    from mapreduce_system_spark.operators.lm import kneser_ney_doc_scores

    spark = get_spark("scale_probe_knlm")
    docs = load_table(spark, src, "documents", columns=["doc_id", "text"])
    base = docs.where(
        F.col("doc_id").isNotNull() & F.col("text").isNotNull()
    )

    def keyed(rep: int):
        return _with_replica_ids(spark, base, rep).select(
            F.concat(F.col("r").cast("string"), F.lit("#"), F.col("doc_id"))
            .alias("rdoc"),
            F.transform(
                TXT.tokens("text"),
                lambda t: F.concat(
                    F.lit("r"), F.col("r").cast("string"), F.lit("x"), t
                ),
            ).alias("ts"),
        )

    def run(rep: int):
        pop = keyed(rep)
        t0 = time.time()
        scored = kneser_ney_doc_scores(pop, "rdoc", F.col("ts"))
        census = {
            (r["n_transitions"], r["s"]): r["n"]
            for r in scored.select(
                "n_transitions", F.round("kn_surprisal", 9).alias("s")
            )
            .groupBy("n_transitions", "s")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        mean_row = scored.agg(
            (
                F.sum(F.col("n_transitions") * F.col("kn_surprisal"))
                / F.sum("n_transitions")
            ).alias("m")
        ).collect()[0]
        wall = time.time() - t0
        caches.release()
        return wall, (census, float(mean_row["m"]))

    big = f"{reps}x"
    timed = _two_scales(run, [("1x", 1), (big, reps)])
    record: dict = {"mode": "knlm", "reps": reps, "src": src, "scales": {}}
    for label, t in timed.items():
        census, mean = t.results[-1]
        record["scales"][label] = {
            "n_docs_scored": sum(census.values()),
            "n_distinct_scores": len(census),
            "mean_surprisal": round(mean, 6),
            "wall_s": round(t.wall, 2),
        }
    a, bb = record["scales"]["1x"], record["scales"][big]
    record["docs_exact_scale"] = (
        bb["n_docs_scored"] == reps * a["n_docs_scored"]
    )
    record["shard_symmetry"] = (
        all(v % reps == 0 for v in timed[big].results[-1][0].values())
        and bb["n_distinct_scores"] == a["n_distinct_scores"]
    )
    record["continuation_dilution_direction"] = (
        bb["mean_surprisal"] > a["mean_surprisal"]
    )
    record["wall_ratio"] = _ratio(bb["wall_s"], a["wall_s"])
    cols = ("n_docs_scored", "n_distinct_scores", "mean_surprisal", "wall_s")
    rows = [[label, *(s[k] for k in cols)] for label, s in record["scales"].items()]
    rows.append(["ratio", "", "", "", f"**{record['wall_ratio']}**"])
    return _finish(
        record, out_name, "scale_probe_knlm_latest.json",
        ["scale", "docs scored", "distinct scores", "mean surprisal", "wall s"], rows,
        record["docs_exact_scale"]
        and record["shard_symmetry"]
        and record["continuation_dilution_direction"],
    )


def cms_main(reps: int = 10, src: str = SF01, out_name=None) -> int:
    """Count-Min sketch at 1× vs reps× (operators/cmsketch.py): replica r
    SALTS every token (``tok#r``) — the sketch hashes opaque strings, so
    salting grows N and the distinct-key population reps× without
    touching parquet, each shard statistically identical. Hard gates:
    (a) one-sided error at BOTH scales (est >= exact for every probed
    key, est never 0 for a present key), (b) the sketch stays within
    its d*w row cap at both scales — the bounded-summary claim the
    operator exists for, (c) the merge law AT SCALE: the cell-wise sum
    of the per-shard sketches equals the whole-corpus sketch exactly
    (bit-stable integer addition under real partitioning, not the
    fixture-sized pytest). Recorded free variables: build wall (scan-
    bound, expect ~linear), estimate wall over a FIXED 50-key panel
    (the recurring cost — must stay flat as the corpus grows: the
    sketch side of the join is d*w-capped however large N), and the
    mean overcount vs the N/w per-row collision expectation."""
    from mapreduce_system_spark.functions import text as TXT
    from mapreduce_system_spark.operators.cmsketch import (
        cms_build,
        cms_estimate,
        cms_merge,
    )

    W, D = 2048, 4
    spark = get_spark("scale_probe_cms")
    docs = load_table(spark, src, "documents", columns=["doc_id", "text"])
    toks = (
        docs.where(F.col("text").isNotNull())
        .select(F.explode(TXT.tokens("text")).alias("tok"))
        .where(F.col("tok") != "")
    )

    def keyed(rep: int):
        return _with_replica_ids(spark, toks, rep).select(
            F.concat("tok", F.lit("#"), F.col("r").cast("string")).alias("key")
        )

    # fixed query panel: shard-0's 50 most frequent tokens + 2 absent keys
    exact_rows = (
        toks.groupBy(F.concat("tok", F.lit("#0")).alias("key"))
        .agg(F.count("*").alias("exact"))
        .orderBy(F.col("exact").desc(), "key")
        .limit(50)
        .collect()
    )
    exact = {r.key: r.exact for r in exact_rows}
    panel = list(exact) + ["never-a#0", "never-b#0"]
    panel_df = spark.createDataFrame([(k,) for k in panel], "key string")

    def run(rep: int):
        keys = keyed(rep)
        t0 = time.time()
        sk = cms_build(keys, "key", w=W, d=D).persist()
        n_cells = sk.count()
        build_wall = time.time() - t0
        n_total = keys.count()
        t1 = time.time()
        est = {
            r.key: r.est
            for r in cms_estimate(panel_df, sk, "key", w=W, d=D).collect()
        }
        est_wall = time.time() - t1
        sk.unpersist()
        return {"build": build_wall, "estimate": est_wall}, (n_cells, n_total, est)

    big = f"{reps}x"
    timed = _two_scales(run, [("1x", 1), (big, reps)])
    record: dict = {
        "mode": "cms", "reps": reps, "src": src, "w": W, "d": D,
        "scales": {},
    }
    ok = True
    for label, t in timed.items():
        n_cells, n_total, est = t.results[-1]
        one_sided = all(est[k] >= v for k, v in exact.items())
        present_nonzero = all(est[k] >= 1 for k in exact)
        overcounts = [est[k] - v for k, v in exact.items()]
        ok = ok and one_sided and present_nonzero and n_cells <= D * W
        record["scales"][label] = {
            "n_occurrences": n_total,
            "sketch_cells": n_cells,
            "cell_cap_d_w": D * W,
            "within_cap": n_cells <= D * W,
            "one_sided": one_sided,
            "present_key_nonzero": present_nonzero,
            "absent_key_est": {k: est[k] for k in ("never-a#0", "never-b#0")},
            "mean_overcount": round(statistics.mean(overcounts), 1),
            "expected_collisions_n_over_w": round(n_total / W, 1),
            "build_wall_s": round(t.wall["build"], 2),
            "estimate_wall_s": round(t.wall["estimate"], 2),
        }
    # merge law AT SCALE: per-shard sketches cell-sum to the corpus sketch
    shard_sketches = [
        cms_build(
            toks.select(
                F.concat("tok", F.lit(f"#{r}")).alias("key")
            ),
            "key", w=W, d=D,
        )
        for r in range(min(reps, 3))
    ]
    merged = shard_sketches[0]
    for s in shard_sketches[1:]:
        merged = cms_merge(merged, s)
    whole = cms_build(keyed(min(reps, 3)), "key", w=W, d=D)
    diff = (
        merged.withColumnRenamed("cnt", "a")
        .join(whole.withColumnRenamed("cnt", "b"), ["r", "pos"], "full_outer")
        .where(
            F.coalesce(F.col("a"), F.lit(0)) != F.coalesce(F.col("b"), F.lit(0))
        )
        .count()
    )
    record["merge_exact_at_scale"] = diff == 0
    ok = ok and diff == 0
    a, bb = record["scales"]["1x"], record["scales"][big]
    record["build_wall_ratio"] = _ratio(bb["build_wall_s"], a["build_wall_s"])
    record["estimate_wall_ratio"] = _ratio(bb["estimate_wall_s"], a["estimate_wall_s"])
    cols = ("n_occurrences", "sketch_cells", "mean_overcount", "build_wall_s", "estimate_wall_s")
    rows = [[label, *(s[k] for k in cols)] for label, s in record["scales"].items()]
    rows.append(["ratio", "", "", "", f"**{record['build_wall_ratio']}**",
                 f"**{record['estimate_wall_ratio']}**"])
    return _finish(
        record, out_name, "scale_probe_cms_latest.json",
        ["scale", "N", "cells", "mean overcount", "build s", "estimate s"], rows, ok,
    )


def wsample_main(reps: int = 10, src: str = SF01, out_name=None) -> int:
    """Weighted sampling at 1× vs reps× (operators/sampling.py): replica r
    SALTS the stable id (``id#r``) — the E-S key is a pure function of
    (id, weight), so salting grows the population reps× with an
    identical weight distribution. Hard gates: (a) repartition
    invariance at BOTH scales (the selected set is a pure function of
    the data — TakeOrdered's per-partition truncation must not leak
    partitioning into the answer), (b) weight-monotone stratum shares:
    the top weight quartile's sampled share exceeds the bottom
    quartile's at both scales (the law the weights exist for). Recorded
    free variables: wall (scan-bound TakeOrdered — k rows per partition
    cross the wire, expect ~linear in scan, NOT in shuffle), and the
    rank-k/k+1 boundary gap in unrounded score — the cross-engine
    ulp-safety evidence a registration must cite (gap >> f64 eps means
    no rank risk between ln implementations)."""
    from mapreduce_system_spark.operators.sampling import (
        weighted_sample,
        weighted_sample_scores,
    )

    K = 200
    spark = get_spark("scale_probe_wsample")
    docs = load_table(spark, src, "documents", columns=["doc_id", "text"])
    base = docs.where(
        F.col("doc_id").isNotNull() & F.col("text").isNotNull()
    ).select(
        F.col("doc_id").cast("string").alias("base_id"),
        F.length("text").cast("double").alias("wt"),
    )

    def keyed(rep: int):
        return _with_replica_ids(spark, base, rep).select(
            F.concat("base_id", F.lit("#"), F.col("r").cast("string")).alias("sid"),
            "wt",
        )

    def run(rep: int):
        pop = keyed(rep)
        t0 = time.time()
        sample = weighted_sample(pop, "sid", "wt", k=K).collect()
        wall = time.time() - t0
        resel = weighted_sample(pop.repartition(17), "sid", "wt", k=K).collect()
        invariant = [(r.id, r.weight) for r in sample] == [
            (r.id, r.weight) for r in resel
        ]
        # boundary gap: rank K vs K+1 in unrounded score
        top = (
            weighted_sample_scores(pop, "sid", "wt")
            .orderBy(F.col("score").desc(), F.col("id").asc())
            .limit(K + 1)
            .collect()
        )
        gap = top[K - 1].score - top[K].score if len(top) > K else None
        # weight quartiles of the population (shard-identical, compute once
        # per scale): sampled share must be monotone bottom -> top
        lo, hi = pop.approxQuantile("wt", [0.25, 0.75], 0.001)
        n_lo = pop.where(F.col("wt") <= lo).count()
        n_hi = pop.where(F.col("wt") >= hi).count()
        s_lo = sum(1 for r in sample if r.weight <= lo)
        s_hi = sum(1 for r in sample if r.weight >= hi)
        share_lo = s_lo / n_lo if n_lo else 0.0
        share_hi = s_hi / n_hi if n_hi else 0.0
        return wall, (invariant, gap, share_lo, share_hi)

    big = f"{reps}x"
    timed = _two_scales(run, [("1x", 1), (big, reps)])
    record: dict = {"mode": "wsample", "reps": reps, "src": src, "k": K, "scales": {}}
    ok = True
    for label, t in timed.items():
        invariant = all(inv for inv, *_ in t.results)
        _, gap, share_lo, share_hi = t.results[-1]
        monotone = share_hi > share_lo
        ok = ok and invariant and monotone and (gap is None or gap > 1e-12)
        record["scales"][label] = {
            "repartition_invariant": invariant,
            "boundary_gap_score": gap,
            "top_quartile_inclusion_share": round(share_hi, 8),
            "bottom_quartile_inclusion_share": round(share_lo, 8),
            "weight_monotone_shares": monotone,
            "wall_s": round(t.wall, 2),
        }
    a, bb = record["scales"]["1x"], record["scales"][big]
    record["wall_ratio"] = _ratio(bb["wall_s"], a["wall_s"])
    rows = [[label, s["repartition_invariant"], s["boundary_gap_score"],
             f"{s['top_quartile_inclusion_share']}/{s['bottom_quartile_inclusion_share']}",
             s["wall_s"]] for label, s in record["scales"].items()]
    rows.append(["ratio", "", "", "", f"**{record['wall_ratio']}**"])
    return _finish(
        record, out_name, "scale_probe_wsample_latest.json",
        ["scale", "invariant", "boundary gap", "hi/lo share", "wall s"], rows, ok,
    )


_TWO = ("reps", "src")

# mode flag (None: the default dedup mode) -> (function, positionals it takes)
MODES = {
    None: (dedup_main, ("reps", "src", "organic_pct")),
    "--asof": (asof_main, ("reps", "src", "hot_pct")),
    "--kcore": (kcore_main, ("reps", "src", "organic_pct")),
    "--stream": (stream_main, _TWO),
    "--sessions": (sessions_main, _TWO),
    "--fjoin": (fjoin_main, _TWO),
    "--boilerplate": (boilerplate_main, _TWO),
    "--rules": (rules_main, _TWO),
    "--card": (card_main, _TWO),
    "--tfidf": (tfidf_main, _TWO),
    "--lpa": (lpa_main, _TWO),
    "--ktruss": (ktruss_main, _TWO),
    "--ccjump": (ccjump_main, _TWO),
    "--bloom": (bloom_main, _TWO),
    "--cms": (cms_main, _TWO),
    "--wsample": (wsample_main, _TWO),
    "--sneighbor": (sneighbor_main, _TWO),
    "--knlm": (knlm_main, _TWO),
    "--manifest": (manifest_main, ()),
}


def _usage(problem: str) -> int:
    usage = __doc__.split("Usage::\n\n", 1)[1].split("\n\n", 1)[0]
    print(f"# {problem}\nUsage:\n{usage}", file=sys.stderr)
    return 2


def main(argv: list[str] | None = None) -> int:
    args = list(sys.argv[1:] if argv is None else argv)
    out_name = None
    if "--out" in args:
        i = args.index("--out")
        if i + 1 == len(args):
            return _usage("--out needs a NAME")
        out_name = args.pop(i + 1)
        args.pop(i)
    flags = [a for a in args if a.startswith("--")]
    if unknown := [f for f in flags if f not in MODES]:
        return _usage(f"unknown flag(s): {unknown}")
    if len(flags) > 1:
        return _usage(f"one mode at a time, got {flags}")
    mode = flags[0] if flags else None
    fn, names = MODES[mode]
    pos = [a for a in args if a != mode]
    if len(pos) > len(names):
        return _usage(f"{mode or 'the default mode'} takes {list(names)}; "
                      f"unexpected extra arg(s): {pos[len(names):]}")
    try:
        kwargs = {n: a if n == "src" else int(a) for n, a in zip(names, pos)}
    except ValueError as e:
        return _usage(str(e))
    return fn(**kwargs, out_name=out_name)


if __name__ == "__main__":
    raise SystemExit(main())
