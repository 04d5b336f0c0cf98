"""sf0.1 → sf1 scaling probe for the heavy candidate-generating queries.

VERDICT r6 #3: the 100 TB argument for the dedup/similarity surface was
architectural (every candidate generator is an equi-join on a bounded
key); this probe turns it into a measurement by running the six heaviest
candidate-generating queries at sf0.1 and at a 10× corpus, recording
wall time AND candidate-pair counts, so growth in cost is attributable
to growth in candidates (the linear-scale hypothesis) rather than plan
pathology (superlinear blowup ⇒ a band/cap mis-sizing invisible at
sf0.1).

The 10× corpus (no sf1 fixture is provided) is built as TEN DISJOINT
SHARDS each statistically identical to sf0.1: replica r of a document
prefixes every token with ``r{r}x`` (so shards share no shingles and no
near-dup pairs cross shards — shard 0 is sf0.1 verbatim), and replica r
of an embedding gets a disjoint label space (labels + r*1000) plus a
≤5e-4 deterministic per-component jitter (so blocked-cosine pair
structure is per-shard and clone ties are broken). Under this
construction every candidate count must grow exactly ~10×; wall time is
then the free variable the probe measures. A generator-grade sf1 (10×
docs in ONE shard) would additionally grow per-key bucket sizes — that
regime is covered by the stop-shingle DF cap and the banding math
documented in operators/dedup.py; what this probe can falsify is the
runtime-vs-candidates relation.

Usage::

    python tools/scale_probe.py [--out NAME] [reps] [src_sf_dir] [organic_pct]
    python tools/scale_probe.py --graph [--out NAME] [reps] [src_sf_dir] [organic_pct]
    python tools/scale_probe.py --sim [--out NAME] [reps] [src_sf_dir] [organic_pct]
    python tools/scale_probe.py --pca [--out NAME] [reps] [src_sf_dir] [organic_pct]
    python tools/scale_probe.py --asof [--out NAME] [reps] [src_sf_dir] [hot_pct]
    python tools/scale_probe.py --stream [--out NAME] [reps] [src_sf_dir]
    python tools/scale_probe.py --rules [--out NAME] [reps] [src_sf_dir]
    python tools/scale_probe.py --card [--out NAME] [reps] [src_sf_dir]
    python tools/scale_probe.py --tfidf [--out NAME] [reps] [src_sf_dir]
    python tools/scale_probe.py --lpa [--out NAME] [reps] [src_sf_dir]
    python tools/scale_probe.py --sessions [--out NAME] [reps] [src_sf_dir]
    python tools/scale_probe.py --boilerplate [--out NAME] [reps] [src_sf_dir]
    python tools/scale_probe.py --kcore [--out NAME] [reps] [src_sf_dir] [organic_pct]
    python tools/scale_probe.py --ktruss [--out NAME] [reps] [src_sf_dir]
    python tools/scale_probe.py --bloom [--out NAME] [reps] [src_sf_dir]
    python tools/scale_probe.py --ccjump [--out NAME] [reps] [src_sf_dir]
    python tools/scale_probe.py --fjoin [--out NAME] [reps] [src_sf_dir]
    python tools/scale_probe.py --cms [--out NAME] [reps] [src_sf_dir]
    python tools/scale_probe.py --wsample [--out NAME] [reps] [src_sf_dir]
    python tools/scale_probe.py --sneighbor [--out NAME] [reps] [src_sf_dir]
    python tools/scale_probe.py --knlm [--out NAME] [reps] [src_sf_dir]
    python tools/scale_probe.py --densest [--out NAME] [reps] [src_sf_dir]
    python tools/scale_probe.py --sessjoin [--out NAME] [reps] [src_sf_dir]
    python tools/scale_probe.py --manifest [--out NAME]

NOTE: in ``--asof`` mode the third positional is HOT_PCT (default 20) —
the share of CLONED event rows rerouted to one fixture user — not the
organic collision percentage the other modes take. The committed records:
``scale_probe_r11_asof.json`` = ``--asof 10 /root/testdata/sf0.1 20``,
``scale_probe_r11_asof50.json`` = ``--asof 50 /root/testdata/sf0.1 30``.

Writes the record to bench_runs/scale_probe_latest.json (dedup mode),
scale_probe_graph_latest.json, scale_probe_sim_latest.json, or
sf1_manifest_latest.json and prints a markdown table. The committed
round-named artifacts (scale_probe_r7.json = disjoint 10x,
scale_probe_r8_organic.json, scale_probe_r9_graph.json,
scale_probe_r10_sim.json, sf1_manifest.json — consumed by BASELINE.md
§(h)/(j)/(l) and tests/test_scale_manifest.py) are only written under
an explicit ``--out``, so a lighter smoke re-run can never clobber a
durable record with non-comparable numbers.

``--manifest`` (VERDICT r8 "missing #4") does not time anything: it
rebuilds all three probe corpora (disjoint, organic, graph) with the
recorded parameters and writes ``bench_runs/sf1_manifest.json`` — per
table the row count and an ORDER-INDEPENDENT checksum (bit_xor of
xxhash64 over every column), plus the source-fixture checksums and the
exact one-command re-runs. Every construction above is a deterministic
function of the sf0.1 fixture (offsets, xxhash64-derived organic picks
and jitter — no RNG), so the committed manifest lets any later round
assert "the corpus behind BASELINE_HISTORY §(h)/(j)/(l) is bit-identically this
one" before re-running a probe.

``--graph`` (VERDICT r8 #4) probes the iterative-graph family instead of
the dedup family: it replicates the order/lineitem edge construction at
``reps``× with ORGANIC node collisions — ``organic_pct`` (default 10) of
part/supplier/customer keys keep their identity in every replica, so
those nodes' degrees grow ~reps× (the skewed-hub regime) while the rest
of the key space shards. Alongside wall time it records the exact
quantities the compact-forward argument is about: naive wedge volume
Σ C(d,2) (what a Θ(Σ d²) plan would generate) vs ORIENTED wedge volume
Σ C(outdeg,2) (what triangle_stats actually generates), plus the degree
tail. The claim under test: wall tracks oriented wedges, not naive
wedges, when hubs grow.
"""

from __future__ import annotations

import json
import shutil
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

import __spark_entry__ as entry_mod  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from mapreduce_system_spark import caches  # noqa: E402
from mapreduce_system_spark.operators import dedup as DD  # noqa: E402
from mapreduce_system_spark.operators import similarity as SIM  # noqa: E402
from mapreduce_system_spark.queries.dedup import _MAX_SHINGLE_DF  # noqa: E402
from mapreduce_system_spark.session import get_spark  # noqa: E402
from mapreduce_system_spark.sources.tables import load_table  # noqa: E402

HEAVY = [
    "dedup_jaccard_pairs",
    "dedup_minhash_lsh",
    "dedup_cluster_survivors",
    "dedup_crossmodal_agreement",
    "dedup_paraphrase_candidates",
    "sim_topk_lsh",
]

_OFFSET = 10_000_000  # id offset per replica — far above any fixture id


def build_scaled(
    spark, src: str, dst: str, reps: int, organic_pct: int = 0,
    tables: tuple = ("documents", "embeddings"),
) -> None:
    """Write the sharded 10× documents + embeddings tables under dst.

    ``organic_pct`` > 0 switches on the ORGANIC-collision variant
    (VERDICT r7 #5 / BASELINE_HISTORY §(j)): that percentage of documents —
    selected by a hash of doc_id, so the same docs in every shard —
    replicate WITHOUT the ``r{r}x`` token prefix (doc_id still offset),
    and the matching embeddings keep their ORIGINAL label (jitter still
    applied). Those rows collide across shards: each organic doc's
    shingles gain ~reps× document frequency (bucket DEPTH growth, not
    just bucket count) and each forms a C(reps,2) cross-shard near-dup
    clique — the per-key regime the disjoint-shard probe admits it
    cannot exercise."""
    docs = load_table(spark, src, "documents")
    embs = load_table(spark, src, "embeddings")
    organic_doc = F.pmod(F.xxhash64(F.col("doc_id")), F.lit(100)) < organic_pct
    organic_vec = F.pmod(F.xxhash64(F.col("vec_id")), F.lit(100)) < organic_pct
    doc_parts = []
    emb_parts = []
    for r in range(reps):
        if r == 0:
            doc_parts.append(docs)
            emb_parts.append(embs)
            continue
        tagged = F.when(organic_doc, F.col("text")).otherwise(
            F.regexp_replace("text", r"(\w+)", f"r{r}x$1")
        )
        doc_parts.append(
            docs.select(
                (F.col("doc_id") + r * _OFFSET).alias("doc_id"),
                tagged.alias("text"),
                "lang",
                "source",
                F.length(tagged).alias("n_chars"),
            )
        )
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
        emb_parts.append(
            embs.select(
                (F.col("vec_id") + r * _OFFSET).alias("vec_id"),
                jit.alias("embedding"),
                F.when(organic_vec, F.col("label"))
                .otherwise(F.col("label") + r * 1000)
                .alias("label"),
            )
        )
    out_docs = doc_parts[0]
    for p in doc_parts[1:]:
        out_docs = out_docs.unionByName(p)
    out_embs = emb_parts[0]
    for p in emb_parts[1:]:
        out_embs = out_embs.unionByName(p)
    if "documents" in tables:
        out_docs.repartition(8).write.mode("overwrite").parquet(f"{dst}/documents.parquet")
    if "embeddings" in tables:
        out_embs.repartition(4).write.mode("overwrite").parquet(f"{dst}/embeddings.parquet")


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
        F.col("c") <= _MAX_SHINGLE_DF
    )
    return _pairs_in_groups(df_)


def shingle_df_profile(spark, sf_dir: str) -> dict:
    """Shingle document-frequency distribution — the per-key bucket-DEPTH
    record the organic probe exists to produce (BASELINE_HISTORY §(j)): if depth
    grows while wall time tracks candidate counts, the equi-join scale
    argument holds in the regime the disjoint-shard probe can't reach."""
    sets = DD.shingle_sets(
        load_table(spark, sf_dir, "documents", columns=["doc_id", "text"])
    )
    ex = sets.select("id", F.explode("sg").alias("shingle"))
    dfc = ex.groupBy("shingle").agg(F.count("*").alias("c"))
    row = dfc.agg(
        F.expr("percentile_approx(c, array(0.5, 0.9, 0.99), 10000)").alias("p"),
        F.max("c").alias("mx"),
        F.count("*").alias("n"),
        F.count_if(F.col("c") > _MAX_SHINGLE_DF).alias("capped"),
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
    in ``minhash_lsh_pairs`` is counted by this census by construction —
    the same sharing discipline as ``tri_graph_profile``'s use of
    ``degree_census``/``orient_by_degree``."""
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


def time_queries(spark, sf_dir: str, runs: int = 3) -> dict[str, float]:
    """Median-of-runs per query (BASELINE_HISTORY §(e): ±30% co-tenant noise)."""
    import statistics

    qs = entry_mod.queries()
    series: dict[str, list[float]] = {n: [] for n in HEAVY}
    for _ in range(runs):
        for name in HEAVY:
            t0 = time.time()
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            series[name].append(time.time() - t0)
            caches.release()
    return {n: round(statistics.median(v), 3) for n, v in series.items()}


GRAPH_QUERIES = ["graph_triangle_count", "graph_bfs_reachability"]


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
    li = load_table(spark, src, "lineitem", columns=["l_orderkey", "l_partkey", "l_suppkey"])
    orders = load_table(spark, src, "orders", columns=["o_orderkey", "o_custkey"])
    li_parts, ord_parts = [], []
    for r in range(reps):
        if r == 0:
            li_parts.append(li)
            ord_parts.append(orders)
            continue
        li_parts.append(
            li.select(
                (F.col("l_orderkey") + r * _OFFSET).alias("l_orderkey"),
                F.when(organic("l_partkey"), F.col("l_partkey"))
                .otherwise(F.col("l_partkey") + r * _OFFSET)
                .alias("l_partkey"),
                F.when(organic("l_suppkey"), F.col("l_suppkey"))
                .otherwise(F.col("l_suppkey") + r * _OFFSET)
                .alias("l_suppkey"),
            )
        )
        ord_parts.append(
            orders.select(
                (F.col("o_orderkey") + r * _OFFSET).alias("o_orderkey"),
                F.when(organic("o_custkey"), F.col("o_custkey"))
                .otherwise(F.col("o_custkey") + r * _OFFSET)
                .alias("o_custkey"),
            )
        )
    out_li = li_parts[0]
    for p in li_parts[1:]:
        out_li = out_li.unionByName(p)
    out_ord = ord_parts[0]
    for p in ord_parts[1:]:
        out_ord = out_ord.unionByName(p)
    out_li.repartition(16).write.mode("overwrite").parquet(f"{dst}/lineitem.parquet")
    out_ord.repartition(8).write.mode("overwrite").parquet(f"{dst}/orders.parquet")
    for t in ("supplier", "nation"):
        load_table(spark, src, t).write.mode("overwrite").parquet(f"{dst}/{t}.parquet")


def tri_graph_profile(spark, sf_dir: str) -> dict:
    """Edge/degree/wedge census of the part co-purchase graph, built with
    the registered query's own construction. ``naive_wedges`` = Σ C(d,2)
    (the Θ(Σ d²) volume a per-node wedge join would generate);
    ``oriented_wedges`` = Σ C(outdeg,2) under the (degree, id) orientation
    (the volume triangle_stats actually generates — its O(E·arboricity)
    bound made countable). The census CONSUMES the operator's own
    ``degree_census`` / ``orient_by_degree`` helpers rather than a local
    re-implementation, so if the orientation rule ever changes the probe
    measures the new shape by construction."""
    from mapreduce_system_spark.operators.graph import degree_census, orient_by_degree
    from mapreduce_system_spark.queries._graphshared import copurchase_pairs

    pr = copurchase_pairs(spark, sf_dir)
    # tracked_cache, not bare .cache(): an exception mid-census (e.g. an
    # executor OOM on the percentile collect at a bigger scale) must leave
    # these reachable by the caller's caches.release(), not leaked for the
    # session lifetime
    pr = caches.tracked_cache(pr)
    deg = caches.tracked_cache(degree_census(pr))
    drow = deg.agg(
        F.count("*").alias("n_nodes"),
        F.expr("percentile_approx(d, array(0.5, 0.9, 0.99), 10000)").alias("pct"),
        F.max("d").alias("mx"),
        (F.sum(F.col("d") * (F.col("d") - 1) / 2)).cast("long").alias("naive"),
    ).collect()[0]
    outdeg = orient_by_degree(pr, deg).groupBy("s").agg(F.count("*").alias("od"))
    oriented = int(
        outdeg.agg(
            (F.sum(F.col("od") * (F.col("od") - 1) / 2)).cast("long")
        ).collect()[0][0]
        or 0
    )
    n_edges = pr.count()
    pr.unpersist()
    deg.unpersist()
    return {
        "n_nodes": int(drow["n_nodes"]),
        "n_edges": int(n_edges),
        "deg_p50": int(drow["pct"][0]),
        "deg_p90": int(drow["pct"][1]),
        "deg_p99": int(drow["pct"][2]),
        "deg_max": int(drow["mx"]),
        "naive_wedges": int(drow["naive"]),
        "oriented_wedges": oriented,
    }


def bfs_graph_profile(spark, sf_dir: str) -> dict:
    """Size of the customer–supplier co-transaction graph BFS runs on."""
    orders = load_table(spark, sf_dir, "orders", columns=["o_orderkey", "o_custkey"])
    li = load_table(spark, sf_dir, "lineitem", columns=["l_orderkey", "l_suppkey"])
    e0 = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .select(
            (F.col("o_custkey") * 2).alias("u"),
            (F.col("l_suppkey") * 2 + 1).alias("v"),
        )
        .distinct()
    )
    e0 = caches.tracked_cache(e0)
    n_edges = e0.count()
    n_nodes = (
        e0.select(F.col("u").alias("n")).union(e0.select(F.col("v").alias("n"))).distinct().count()
    )
    e0.unpersist()
    return {"n_nodes": int(n_nodes), "n_edges": int(2 * n_edges)}


def graph_main(reps: int, src: str, organic_pct: int, out_name: str | None = None) -> int:
    dst = "/tmp/spark_graft_scale/graph_sf1"
    spark = get_spark("scale_probe_graph")
    print(
        f"# building {reps}x graph tables at {dst} from {src} (organic {organic_pct}%)",
        file=sys.stderr,
    )
    build_scaled_graph(spark, src, dst, reps, organic_pct)

    import statistics

    qs = entry_mod.queries()
    record: dict = {
        "mode": "graph",
        "reps": reps,
        "src": src,
        "organic_pct": organic_pct,
        "queries": {},
        "graph": {},
    }
    # untimed warm-up (JVM/codegen/python pool), same as the dedup mode
    print("# warm-up sweep", file=sys.stderr)
    for name in GRAPH_QUERIES:
        qs[name](spark, src).write.format("noop").mode("overwrite").save()
        caches.release()
    for label, d in [("sf0.1", src), ("sf1", dst)]:
        print(f"# timing {label}", file=sys.stderr)
        series: dict[str, list[float]] = {n: [] for n in GRAPH_QUERIES}
        for _ in range(3):
            for name in GRAPH_QUERIES:
                t0 = time.time()
                qs[name](spark, d).write.format("noop").mode("overwrite").save()
                series[name].append(time.time() - t0)
                caches.release()
        record["graph"][label] = {
            "triangle": tri_graph_profile(spark, d),
            "bfs": bfs_graph_profile(spark, d),
        }
        caches.release()
        for name in GRAPH_QUERIES:
            record["queries"].setdefault(name, {})[label] = {
                "sec": round(statistics.median(series[name]), 3)
            }

    a, b = record["graph"]["sf0.1"]["triangle"], record["graph"]["sf1"]["triangle"]
    print("| scale | nodes | edges | deg p50 | deg p99 | deg max | naive wedges | oriented wedges |")
    print("|---|---|---|---|---|---|---|---|")
    for label in ("sf0.1", "sf1"):
        t = record["graph"][label]["triangle"]
        print(
            f"| {label} | {t['n_nodes']} | {t['n_edges']} | {t['deg_p50']} | "
            f"{t['deg_p99']} | {t['deg_max']} | {t['naive_wedges']} | {t['oriented_wedges']} |"
        )
    print(
        f"| ratio | {b['n_nodes']/a['n_nodes']:.1f} | {b['n_edges']/a['n_edges']:.1f} | — | "
        f"{b['deg_p99']/max(a['deg_p99'],1):.1f} | {b['deg_max']/max(a['deg_max'],1):.1f} | "
        f"**{b['naive_wedges']/a['naive_wedges']:.1f}** | **{b['oriented_wedges']/a['oriented_wedges']:.1f}** |"
    )
    print()
    print("| query | sf0.1 s | sf1 s | time × | volume driver × |")
    print("|---|---|---|---|---|")
    for name in GRAPH_QUERIES:
        qa = record["queries"][name]["sf0.1"]["sec"]
        qb = record["queries"][name]["sf1"]["sec"]
        record["queries"][name]["time_ratio"] = round(qb / qa, 2)
        if name == "graph_triangle_count":
            vol = b["oriented_wedges"] / a["oriented_wedges"]
        else:
            ga = record["graph"]["sf0.1"]["bfs"]["n_edges"]
            gb = record["graph"]["sf1"]["bfs"]["n_edges"]
            vol = gb / ga
        record["queries"][name]["volume_ratio"] = round(vol, 2)
        print(f"| {name} | {qa} | {qb} | {qb/qa:.2f} | {vol:.2f} |")

    out = _record_out(out_name, "scale_probe_graph_latest.json")
    out.write_text(json.dumps(record, indent=1, sort_keys=True) + "\n")
    print(f"# wrote {out}", file=sys.stderr)
    shutil.rmtree("/tmp/spark_graft_scale", ignore_errors=True)
    return 0


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
    """Pin the three probe corpora (BASELINE_HISTORY §(h)/(j)/(l)) in a committed
    manifest: rebuild each with its recorded parameters, fingerprint
    every table, and record the one-command re-runs."""
    src = "/root/testdata/sf0.1"
    root = "/tmp/spark_graft_scale"
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
    out = _record_out(out_name, "sf1_manifest_latest.json")
    out.write_text(json.dumps(record, indent=1, sort_keys=True) + "\n")
    print(f"# wrote {out}", file=sys.stderr)
    shutil.rmtree(root, ignore_errors=True)
    return 0


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


def main() -> int:
    args = list(sys.argv[1:])
    out_name = None
    if "--out" in args:
        i = args.index("--out")
        out_name = args[i + 1]
        del args[i : i + 2]
    if "--manifest" in args:
        return manifest_main(out_name)
    graph_mode = "--graph" in args
    if graph_mode:
        args.remove("--graph")
    sim_mode = "--sim" in args
    if sim_mode:
        args.remove("--sim")
    pca_mode = "--pca" in args
    if pca_mode:
        args.remove("--pca")
    asof_mode = "--asof" in args
    if asof_mode:
        args.remove("--asof")
    stream_mode = "--stream" in args
    if stream_mode:
        args.remove("--stream")
    rules_mode = "--rules" in args
    if rules_mode:
        args.remove("--rules")
    card_mode = "--card" in args
    if card_mode:
        args.remove("--card")
    tfidf_mode = "--tfidf" in args
    if tfidf_mode:
        args.remove("--tfidf")
    lpa_mode = "--lpa" in args
    if lpa_mode:
        args.remove("--lpa")
    sessions_mode = "--sessions" in args
    if sessions_mode:
        args.remove("--sessions")
    boilerplate_mode = "--boilerplate" in args
    if boilerplate_mode:
        args.remove("--boilerplate")
    kcore_mode = "--kcore" in args
    if kcore_mode:
        args.remove("--kcore")
    ktruss_mode = "--ktruss" in args
    if ktruss_mode:
        args.remove("--ktruss")
    bloom_mode = "--bloom" in args
    if bloom_mode:
        args.remove("--bloom")
    ccjump_mode = "--ccjump" in args
    if ccjump_mode:
        args.remove("--ccjump")
    fjoin_mode = "--fjoin" in args
    if fjoin_mode:
        args.remove("--fjoin")
    cms_mode = "--cms" in args
    if cms_mode:
        args.remove("--cms")
    wsample_mode = "--wsample" in args
    if wsample_mode:
        args.remove("--wsample")
    sneighbor_mode = "--sneighbor" in args
    if sneighbor_mode:
        args.remove("--sneighbor")
    knlm_mode = "--knlm" in args
    if knlm_mode:
        args.remove("--knlm")
    densest_mode = "--densest" in args
    if densest_mode:
        args.remove("--densest")
    sessjoin_mode = "--sessjoin" in args
    if sessjoin_mode:
        args.remove("--sessjoin")
    reps = int(args[0]) if len(args) > 0 else 10
    src = args[1] if len(args) > 1 else "/root/testdata/sf0.1"
    organic_pct = int(args[2]) if len(args) > 2 else (
        20 if asof_mode else 10 if (graph_mode or sim_mode or pca_mode) else 0
    )
    if kcore_mode:
        # kcore DOES take the organic third positional (VERDICT r14 #6:
        # the r8-style collision mode stressing hub-degree growth); the
        # plain default stays 0 so `--kcore 10 DIR` is the r14 disjoint
        # construction unchanged
        return kcore_main(
            reps, src, out_name,
            organic_pct=int(args[2]) if len(args) > 2 else 0,
        )
    if ktruss_mode:
        if len(args) > 2:
            print(f"# --ktruss takes [reps] [src_sf_dir] only; unexpected "
                  f"extra arg(s): {args[2:]}", file=sys.stderr)
            return 2
        return ktruss_main(reps, src, out_name)
    if bloom_mode:
        if len(args) > 2:
            print(f"# --bloom takes [reps] [src_sf_dir] only; unexpected "
                  f"extra arg(s): {args[2:]}", file=sys.stderr)
            return 2
        return bloom_main(reps, src, out_name)
    if ccjump_mode:
        if len(args) > 2:
            print(f"# --ccjump takes [reps] [src_sf_dir] only; unexpected "
                  f"extra arg(s): {args[2:]}", file=sys.stderr)
            return 2
        return ccjump_main(reps, src, out_name)
    if fjoin_mode:
        if len(args) > 2:
            print(f"# --fjoin takes [reps] [src_sf_dir] only; unexpected "
                  f"extra arg(s): {args[2:]}", file=sys.stderr)
            return 2
        return fjoin_main(reps, src, out_name)
    if cms_mode:
        if len(args) > 2:
            print(f"# --cms takes [reps] [src_sf_dir] only; unexpected "
                  f"extra arg(s): {args[2:]}", file=sys.stderr)
            return 2
        return cms_main(reps, src, out_name)
    if wsample_mode:
        if len(args) > 2:
            print(f"# --wsample takes [reps] [src_sf_dir] only; unexpected "
                  f"extra arg(s): {args[2:]}", file=sys.stderr)
            return 2
        return wsample_main(reps, src, out_name)
    if sneighbor_mode:
        if len(args) > 2:
            print(f"# --sneighbor takes [reps] [src_sf_dir] only; unexpected "
                  f"extra arg(s): {args[2:]}", file=sys.stderr)
            return 2
        return sneighbor_main(reps, src, out_name)
    if knlm_mode:
        if len(args) > 2:
            print(f"# --knlm takes [reps] [src_sf_dir] only; unexpected "
                  f"extra arg(s): {args[2:]}", file=sys.stderr)
            return 2
        return knlm_main(reps, src, out_name)
    if densest_mode:
        if len(args) > 2:
            print(f"# --densest takes [reps] [src_sf_dir] only; unexpected "
                  f"extra arg(s): {args[2:]}", file=sys.stderr)
            return 2
        return densest_main(reps, src, out_name)
    if sessjoin_mode:
        if len(args) > 2:
            print(f"# --sessjoin takes [reps] [src_sf_dir] only; unexpected "
                  f"extra arg(s): {args[2:]}", file=sys.stderr)
            return 2
        return sessjoin_main(reps, src, out_name)
    if (stream_mode or rules_mode or card_mode or tfidf_mode or lpa_mode
            or sessions_mode or boilerplate_mode):
        if len(args) > 2:
            # these modes take no third positional — silently swallowing
            # one into the unused organic_pct would let e.g.
            # `--card 10 DIR 20` run with the hard-coded sample_pct=10
            # while recording nothing about the ignored 20 (r12 review)
            print(
                f"# --stream/--rules/--card/--tfidf/--lpa/--sessions/"
                f"--boilerplate take [reps] [src_sf_dir] only; unexpected "
                f"extra arg(s): {args[2:]}",
                file=sys.stderr,
            )
            return 2
        if boilerplate_mode:
            return boilerplate_main(reps, src, out_name)
        if sessions_mode:
            return sessions_main(reps, src, out_name)
        if stream_mode:
            return stream_main(reps, src, out_name)
        if rules_mode:
            return rules_main(reps, src, out_name)
        if tfidf_mode:
            return tfidf_main(reps, src, out_name)
        if lpa_mode:
            return lpa_main(reps, src, out_name)
        return card_main(reps, src, out_name)
    if asof_mode:
        # third positional = hot_pct (share of cloned rows on ONE user)
        return asof_main(reps, src, organic_pct, out_name)
    if pca_mode:
        return pca_main(reps, src, organic_pct, out_name)
    if sim_mode:
        return sim_main(reps, src, organic_pct, out_name)
    if graph_mode:
        return graph_main(reps, src, organic_pct, out_name)
    dst = "/tmp/spark_graft_scale/sf1"

    spark = get_spark("scale_probe")
    print(
        f"# building {reps}x corpus at {dst} from {src} (organic {organic_pct}%)",
        file=sys.stderr,
    )
    build_scaled(spark, src, dst, reps, organic_pct=organic_pct)

    # one untimed warm-up sweep so the first timed scale doesn't absorb
    # JVM/codegen/Python-worker cold start (visible as sub-1.0 time
    # ratios in a dry run without it)
    print("# warm-up sweep", file=sys.stderr)
    time_queries(spark, src, runs=1)

    record: dict = {
        "reps": reps,
        "src": src,
        "organic_pct": organic_pct,
        "queries": {},
        "shingle_df": {},
    }
    for label, d in [("sf0.1", src), ("sf1", dst)]:
        print(f"# timing {label}", file=sys.stderr)
        times = time_queries(spark, d)
        cands = {}
        for name in HEAVY:
            cands[name] = CANDIDATE_FNS[name](spark, d)
            caches.release()
        record["shingle_df"][label] = shingle_df_profile(spark, d)
        caches.release()
        for name in HEAVY:
            record["queries"].setdefault(name, {})[label] = {
                "sec": times[name],
                "candidates": cands[name],
            }

    print("| query | sf0.1 s | sf1 s | time × | sf0.1 cand | sf1 cand | cand × |")
    print("|---|---|---|---|---|---|---|")
    for name in HEAVY:
        a, b = record["queries"][name]["sf0.1"], record["queries"][name]["sf1"]
        tr = b["sec"] / a["sec"] if a["sec"] else float("nan")
        cr = b["candidates"] / a["candidates"] if a["candidates"] else float("nan")
        record["queries"][name]["time_ratio"] = round(tr, 2)
        record["queries"][name]["cand_ratio"] = round(cr, 2)
        print(
            f"| {name} | {a['sec']} | {b['sec']} | {tr:.2f} | "
            f"{a['candidates']} | {b['candidates']} | {cr:.2f} |"
        )

    print("| scale | shingles | df p50 | df p90 | df p99 | df max | >cap |")
    print("|---|---|---|---|---|---|---|")
    for label in ("sf0.1", "sf1"):
        s = record["shingle_df"][label]
        print(
            f"| {label} | {s['n_shingles']} | {s['df_p50']} | {s['df_p90']} | "
            f"{s['df_p99']} | {s['df_max']} | {s['over_cap']} |"
        )

    out = _record_out(out_name, "scale_probe_latest.json")
    out.write_text(json.dumps(record, indent=1, sort_keys=True) + "\n")
    print(f"# wrote {out}", file=sys.stderr)
    shutil.rmtree("/tmp/spark_graft_scale", ignore_errors=True)
    return 0




# ---------------------------------------------------------------------------
# --sim (VERDICT r9 #6): ANN recall + wall at 1x vs 10x ORGANIC corpus
# ---------------------------------------------------------------------------

def _sim_query_set(emb):
    return emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )


def sim_recall_profile(spark, sf_dir: str, runs: int = 3) -> dict:
    """Recall@5 vs exact brute force AND wall time for each ANN family
    (IVF nprobe=3, LSH 2×16, PQ m=16/ks=16 shortlist-50 + exact re-rank)
    at one scale. Build phases (LSH signatures, PQ fit+encode) are timed
    separately from the per-run search wall — at 100 TB they are the
    amortized index build, not the query path. Recall is the one ANN
    property the disjoint-shard probes could NOT measure under organic
    duplication: near-clone cliques compete for top-k slots, so a method
    whose candidate generation keys collapse under duplication shows up
    here as recall drift rather than a wall blowup."""
    import statistics

    from mapreduce_system_spark.operators import pq as PQ

    emb = load_table(spark, sf_dir, "embeddings", columns=["vec_id", "embedding", "label"])
    q = _sim_query_set(emb)
    out: dict = {"corpus_rows": emb.count()}

    t0 = time.time()
    truth = {
        (r.query_id, r.vec_id)
        for r in SIM.brute_force_topk(emb, q, k=5).select("query_id", "vec_id").collect()
    }
    out["brute"] = {"wall_s": round(time.time() - t0, 3), "recall": 1.0}
    caches.release()

    def timed(fn):
        walls, got = [], None
        for _ in range(runs):
            t0 = time.time()
            got = fn()
            walls.append(time.time() - t0)
            caches.release()
        return got, round(statistics.median(walls), 3)

    def recall(top):
        return round(len(truth & top) / len(truth), 3)

    # IVF: label partitions, 3 probes
    got, wall = timed(
        lambda: {
            (r.query_id, r.vec_id)
            for r in SIM.ivf_topk(emb, q, k=5, nprobe=3)
            .select("query_id", "vec_id")
            .collect()
        }
    )
    out["ivf_nprobe3"] = {"wall_s": wall, "recall": recall(got)}

    # LSH: the registered 2-table/16-bucket configuration. Checkpoint
    # blocks are REGISTERED with the cache tracker so the caches.release()
    # between scales actually reaps them (localCheckpoint storage is
    # invisible to DataFrame.unpersist — caches.py) — otherwise the 10x
    # signature/code tables would stay persisted under the timed runs.
    from mapreduce_system_spark.caches import checkpoint

    t0 = time.time()
    csig = SIM.lsh_signatures(emb, 64, n_planes=4, n_tables=2, id_col="vec_id")
    qsig = SIM.lsh_signatures(q, 64, n_planes=4, n_tables=2, id_col="query_id", vec_col="query_vec")
    csig = checkpoint(csig)
    qsig = checkpoint(qsig)
    build_lsh = round(time.time() - t0, 3)
    got, wall = timed(
        lambda: {
            (r.query_id, r.vec_id)
            for r in SIM.lsh_bucket_topk(
                emb, q, k=5, n_tables=2, corpus_sig=csig, query_sig=qsig
            )
            .select("query_id", "vec_id")
            .collect()
        }
    )
    out["lsh_2x16"] = {"wall_s": wall, "build_s": build_lsh, "recall": recall(got)}

    # PQ: the registered m=16/ks=16 shortlist-50 + exact re-rank config —
    # scored through the SAME pq_topk_rerank the registered query uses,
    # so the probe cannot drift from the shipped algorithm
    t0 = time.time()
    books = PQ.pq_fit(emb, m=16, ks=16, max_iter=5)
    codes = checkpoint(PQ.pq_encode(emb, books))
    cb = checkpoint(
        spark.createDataFrame(
            [(j, c, books[j][c]) for j in range(16) for c in range(len(books[j]))],
            "subspace int, code int, centroid array<double>",
        )
    )
    build_pq = round(time.time() - t0, 3)

    got, wall = timed(
        lambda: {
            (r.query_id, r.vec_id)
            for r in PQ.pq_topk_rerank(emb, codes, q, cb, k=5, shortlist=50)
            .select("query_id", "vec_id")
            .collect()
        }
    )
    out["pq_m16_sl50"] = {"wall_s": wall, "build_s": build_pq, "recall": recall(got)}
    # duplication profile: how deep do the organic near-clone cliques go
    lab = emb.groupBy("label").count().agg(
        F.max("count").alias("mx"), F.expr("percentile(count, 0.5)").alias("med")
    ).collect()[0]
    out["label_partition_max"] = int(lab.mx)
    out["label_partition_median"] = float(lab.med)
    return out


def sim_main(reps: int, src: str, organic_pct: int, out_name: str | None = None) -> int:
    dst = "/tmp/spark_graft_scale/sim_sf1"
    spark = get_spark("scale_probe_sim")
    print(
        f"# building {reps}x organic corpus at {dst} from {src} (organic {organic_pct}%)",
        file=sys.stderr,
    )
    build_scaled(spark, src, dst, reps, organic_pct=organic_pct)
    record: dict = {
        "mode": "sim",
        "reps": reps,
        "src": src,
        "organic_pct": organic_pct,
        "scales": {},
    }
    # untimed warm-up (JVM/codegen/python pool), same as the other modes
    print("# warm-up sweep", file=sys.stderr)
    sim_recall_profile(spark, src, runs=1)
    for label, d in [("sf0.1", src), ("sf1", dst)]:
        print(f"# profiling {label}", file=sys.stderr)
        record["scales"][label] = sim_recall_profile(spark, d)
        caches.release()
    print("| method | recall 1x | recall 10x | wall 1x | wall 10x |")
    print("|---|---|---|---|---|")
    a, b = record["scales"]["sf0.1"], record["scales"]["sf1"]
    for meth in ("brute", "ivf_nprobe3", "lsh_2x16", "pq_m16_sl50"):
        print(
            f"| {meth} | {a[meth]['recall']} | {b[meth]['recall']} "
            f"| {a[meth]['wall_s']} | {b[meth]['wall_s']} |"
        )
    out = _record_out(out_name, "scale_probe_sim_latest.json")
    out.write_text(json.dumps(record, indent=1, sort_keys=True) + "\n")
    print(f"# wrote {out}", file=sys.stderr)
    shutil.rmtree("/tmp/spark_graft_scale", ignore_errors=True)
    return 0


# ---------------------------------------------------------------------------
# --pca: top-k deflated PCA wall at 1x vs 10x (the operator's scale claim is
# "corpus touched exactly 2*k*rounds times, all other state k*d" — so wall
# should track corpus size ~linearly; a superlinear ratio would expose a
# hidden per-round blowup the fixture can't show)
# ---------------------------------------------------------------------------

def pca_main(reps: int, src: str, organic_pct: int, out_name: str | None = None) -> int:
    import statistics

    from mapreduce_system_spark.operators.pca import pca_topk

    dst = "/tmp/spark_graft_scale/pca_sf1"
    spark = get_spark("scale_probe_pca")
    print(f"# building {reps}x corpus at {dst} from {src} (organic {organic_pct}%)", file=sys.stderr)
    # embeddings only: the documents rewrite (per-doc regexp at 10x) is
    # half the build and this probe never reads it
    build_scaled(spark, src, dst, reps, organic_pct=organic_pct, tables=("embeddings",))

    record: dict = {"mode": "pca", "reps": reps, "src": src,
                    "organic_pct": organic_pct, "k": 3, "rounds": 3, "scales": {}}
    # untimed warm-up (JVM/codegen), same as the other modes
    emb0 = load_table(spark, src, "embeddings", columns=["vec_id", "embedding"])
    pca_topk(emb0, k=3, rounds=3).write.format("noop").mode("overwrite").save()
    caches.release()
    for label, d in [("sf0.1", src), ("sf1", dst)]:
        emb = load_table(spark, d, "embeddings", columns=["vec_id", "embedding"])
        n = emb.count()
        walls = []
        for _ in range(3):
            t0 = time.time()
            pca_topk(emb, k=3, rounds=3).write.format("noop").mode("overwrite").save()
            walls.append(time.time() - t0)
            caches.release()
        record["scales"][label] = {"rows": int(n), "wall_s": round(statistics.median(walls), 2)}
        print(f"# {label}: {record['scales'][label]}", file=sys.stderr)
    a, b = record["scales"]["sf0.1"], record["scales"]["sf1"]
    record["wall_ratio"] = round(b["wall_s"] / a["wall_s"], 2)
    record["rows_ratio"] = round(b["rows"] / a["rows"], 2)
    print("| scale | rows | wall s |")
    print("|---|---|---|")
    for label in ("sf0.1", "sf1"):
        sc = record["scales"][label]
        print(f"| {label} | {sc['rows']} | {sc['wall_s']} |")
    print(f"| ratio | {record['rows_ratio']} | **{record['wall_ratio']}** |")
    out = _record_out(out_name, "scale_probe_pca_latest.json")
    out.write_text(json.dumps(record, indent=1, sort_keys=True) + "\n")
    print(f"# wrote {out}", file=sys.stderr)
    shutil.rmtree("/tmp/spark_graft_scale", ignore_errors=True)
    return 0


# ---------------------------------------------------------------------------
# --asof (VERDICT r10 #8): the as-of family's union+window shape at 10x with
# a genuinely skewed key. Construction: events replicate reps× with new
# event_ids; ``hot_pct``% of CLONED rows (picked by xxhash64 of the new
# event_id) are rerouted to ONE fixture user, so that key's left depth grows
# ~(1 + (reps-1)·hot_pct·N/100/n_users)× while the rest of the key space
# shards disjointly (user_id offset per replica). The right side (orders)
# stays at 1× — dimension history does not grow with event volume — which is
# exactly the regime where the plain window puts the hot key's entire left
# depth in one task and the salted form splits it n_salts ways while
# replicating only the (static) right rows. Claim under test: plain wall
# grows with the HOT KEY's depth once it dominates a task; salted wall
# tracks total input. Parity of the two forms at 10x is asserted, not
# assumed (count + order-insensitive checksum).
# ---------------------------------------------------------------------------

_ASOF_HOT_UID = 0  # a real sf0.1 user: the hot key keeps genuine right rows


def build_scaled_events(
    spark, src: str, dst: str, reps: int, hot_pct: int
) -> None:
    """Write the reps× skewed events table under dst (events only)."""
    ev = load_table(spark, src, "events", columns=["event_id", "user_id", "ts"])
    parts = [ev]
    for r in range(1, reps):
        new_id = (F.col("event_id") + r * _OFFSET).alias("event_id")
        hot = F.pmod(F.xxhash64(F.col("event_id") + r * _OFFSET), F.lit(100)) < hot_pct
        parts.append(
            ev.select(
                new_id,
                F.when(hot, F.lit(_ASOF_HOT_UID))
                .otherwise(F.col("user_id") + r * _OFFSET)
                .alias("user_id"),
                "ts",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out.repartition(8).write.mode("overwrite").parquet(f"{dst}/events.parquet")


def asof_main(reps: int, src: str, hot_pct: int, out_name: str | None = None) -> int:
    import statistics

    from mapreduce_system_spark.operators import asof as ASOF

    dst = "/tmp/spark_graft_scale/asof_sf1"
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

    def plain(ev):
        return ASOF.asof_join(
            ev, right, on="user_id", left_time="ts", right_time="o_orderdate",
            payload_cols=["o_orderkey", "o_totalprice"],
        )

    def salted(ev):
        return ASOF.asof_join_salted(
            ev, right, on="user_id", left_time="ts", right_time="o_orderdate",
            payload_cols=["o_orderkey", "o_totalprice"],
            salt_src_col="event_id", n_salts=8,
        )

    record: dict = {
        "mode": "asof", "reps": reps, "src": src, "hot_pct": hot_pct,
        "hot_uid": _ASOF_HOT_UID, "n_salts": 8, "scales": {},
    }
    # untimed warm-up (JVM/codegen/shuffle services)
    ev0 = load_table(spark, src, "events", columns=["event_id", "user_id", "ts"])
    plain(ev0).write.format("noop").mode("overwrite").save()
    salted(ev0).write.format("noop").mode("overwrite").save()

    for label, d in [("sf0.1", src), ("sf1", dst)]:
        ev = load_table(spark, d, "events", columns=["event_id", "user_id", "ts"])
        n = ev.count()
        depth = ev.groupBy("user_id").count()
        hot_depth = int(
            depth.agg(F.max("count")).collect()[0][0]
        )
        walls: dict = {"plain": [], "salted": []}
        for _ in range(3):
            for form, fn in (("plain", plain), ("salted", salted)):
                t0 = time.time()
                fn(ev).write.format("noop").mode("overwrite").save()
                walls[form].append(time.time() - t0)
        record["scales"][label] = {
            "rows": int(n),
            "hot_key_depth": hot_depth,
            "plain_s": round(statistics.median(walls["plain"]), 2),
            "salted_s": round(statistics.median(walls["salted"]), 2),
        }
        print(f"# {label}: {record['scales'][label]}", file=sys.stderr)

    # parity at the skewed scale: the salted rewrite must stay
    # observationally identical under the exact regime it exists for
    ev1 = load_table(spark, dst, "events", columns=["event_id", "user_id", "ts"])
    def _sig(df):
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
    p_sig, s_sig = _sig(plain(ev1)), _sig(salted(ev1))
    record["parity_at_sf1"] = {"plain": p_sig, "salted": s_sig, "equal": p_sig == s_sig}
    if p_sig != s_sig:
        print(f"# PARITY FAILURE: {p_sig} vs {s_sig}", file=sys.stderr)

    a, b = record["scales"]["sf0.1"], record["scales"]["sf1"]
    record["rows_ratio"] = round(b["rows"] / a["rows"], 2)
    record["hot_depth_ratio"] = round(b["hot_key_depth"] / a["hot_key_depth"], 2)
    record["plain_wall_ratio"] = round(b["plain_s"] / a["plain_s"], 2)
    record["salted_wall_ratio"] = round(b["salted_s"] / a["salted_s"], 2)
    print("| scale | rows | hot depth | plain s | salted s |")
    print("|---|---|---|---|---|")
    for label in ("sf0.1", "sf1"):
        sc = record["scales"][label]
        print(
            f"| {label} | {sc['rows']} | {sc['hot_key_depth']} | "
            f"{sc['plain_s']} | {sc['salted_s']} |"
        )
    print(
        f"| ratio | {record['rows_ratio']} | {record['hot_depth_ratio']} | "
        f"**{record['plain_wall_ratio']}** | **{record['salted_wall_ratio']}** |"
    )
    out = _record_out(out_name, "scale_probe_asof_latest.json")
    out.write_text(json.dumps(record, indent=1, sort_keys=True) + "\n")
    print(f"# wrote {out}", file=sys.stderr)
    shutil.rmtree("/tmp/spark_graft_scale", ignore_errors=True)
    return 0 if record["parity_at_sf1"]["equal"] else 1


# ---------------------------------------------------------------------------
# --stream (VERDICT r11 #6): stateful-sessionization state growth at 10x
# keys x 10x events under RocksDB. Construction: replica r of every event
# keeps its timestamp and offsets user_id by r*_OFFSET — 10x keys, 10x
# events, per-replica session structure identical to the fixture's, so the
# closed-session count must scale EXACTLY reps x (asserted, the probe's
# parity check) while the state store's open-session rows scale with KEYS.
# Claims under test: (1) wall tracks total per-group work (keys x batches +
# closed-session flushes), not superlinearly; (2) the RocksDB store's row
# count peaks at O(live keys), the eviction bound user_sessions_stateful
# documents — measured from the harness's own stateOperators progress
# (queries/fresh6.py::_run_session_stream stats capture), not a re-derived
# replay.
# ---------------------------------------------------------------------------

_ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def _write_replicated(spark, df, offset_cols: list[str], reps: int, dst: str) -> None:
    """THE plain disjoint-replica construction shared by the stream/
    rules/card probes (r12 review: three inline copies of the same
    select/union/write fold had already accumulated): replica r offsets
    every column in ``offset_cols`` by ``r * _OFFSET`` and keeps the
    rest verbatim (NULL keys stay NULL — one shared group, same as the
    fixture). The bespoke builders (organic collisions, hot-key
    rerouting, jitter) keep their own constructions above."""
    parts = [df]
    for r in range(1, reps):
        parts.append(
            df.select(
                *[
                    (F.col(c) + r * _OFFSET).alias(c) if c in offset_cols else c
                    for c in df.columns
                ]
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out.repartition(8).write.mode("overwrite").parquet(dst)


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


def stream_main(reps: int, src: str, out_name: str | None = None) -> int:
    import statistics

    from mapreduce_system_spark.queries import fresh6
    from mapreduce_system_spark.streaming import stateful as ST

    dst = "/tmp/spark_graft_scale/stream_sf1"
    spark = get_spark("scale_probe_stream")
    print(
        f"# building {reps}x keys/events at {dst} from {src}", file=sys.stderr
    )
    build_scaled_stream_events(spark, src, dst, reps)

    def run_once(d: str, tag: str) -> tuple[float, int, dict]:
        stats: dict = {}
        t0 = time.time()
        with fresh6._pinned_conf(
            spark, "spark.sql.streaming.stateStore.providerClass",
            _ROCKSDB_PROVIDER,
        ):
            out = fresh6._run_session_stream(
                spark, d, f"probe_stream_{tag}",
                lambda s: ST.user_sessions_stateful(s, gap_s=fresh6._GAP_S),
                stats=stats,
            )
            closed = out.count()
        wall = time.time() - t0
        caches.release()
        return wall, int(closed), _state_metrics(stats.get("progress", []))

    # untimed warm-up (JVM + Python pool + RocksDB JNI load)
    run_once(src, "warm")

    record: dict = {
        "mode": "stream", "reps": reps, "src": src,
        "provider": "rocksdb", "gap_s": fresh6._GAP_S, "scales": {},
    }
    closed_counts: dict[str, int] = {}
    for label, d in [("sf0.1", src), ("sf1", dst)]:
        walls, per_run, closed = [], [], None
        for i in range(3):
            w, c, m = run_once(d, f"{label}_{i}")
            walls.append(w)
            per_run.append(m)
            closed = c  # identical across runs (asserted just below)
            if closed_counts.get(label, c) != c:
                print(f"# NONDETERMINISM: {label} closed {closed_counts[label]} vs {c}", file=sys.stderr)
                return 1
            closed_counts[label] = c
        # the closed-session CENSUS is deterministic (asserted above);
        # store metrics are NOT guaranteed to be (RocksDB compaction
        # timing, micro-batch coalescing) — record the per-run values
        # and fold peaks as max / counters as the per-run max too, so a
        # nondeterministic store shows up in the record instead of
        # silently keeping whichever run came last (ADVICE r12)
        metrics = {k: max(m[k] for m in per_run) for k in per_run[0]}
        ev = load_table(spark, d, "events", columns=["user_id"])
        record["scales"][label] = {
            "rows": int(ev.count()),
            "keys": int(ev.select("user_id").distinct().count()),
            "closed_sessions": closed,
            "wall_s": round(statistics.median(walls), 2),
            **metrics,
            "state_metrics_per_run": per_run,
        }
        print(f"# {label}: {record['scales'][label]}", file=sys.stderr)

    a, b = record["scales"]["sf0.1"], record["scales"]["sf1"]
    # parity: replicas are independent copies of the fixture's session
    # structure, so the closed-session census must scale exactly reps x
    record["closed_exact_scale"] = b["closed_sessions"] == reps * a["closed_sessions"]
    for k in ("rows", "keys", "closed_sessions", "wall_s", "peak_state_rows",
              "peak_state_bytes"):
        record[f"{k}_ratio"] = round(b[k] / a[k], 2) if a[k] else None
    print("| scale | rows | keys | closed | wall s | peak state rows | peak state bytes |")
    print("|---|---|---|---|---|---|---|")
    for label in ("sf0.1", "sf1"):
        sc = record["scales"][label]
        print(
            f"| {label} | {sc['rows']} | {sc['keys']} | {sc['closed_sessions']} | "
            f"{sc['wall_s']} | {sc['peak_state_rows']} | {sc['peak_state_bytes']} |"
        )
    print(
        f"| ratio | {record['rows_ratio']} | {record['keys_ratio']} | "
        f"{record['closed_sessions_ratio']} | **{record['wall_s_ratio']}** | "
        f"{record['peak_state_rows_ratio']} | {record['peak_state_bytes_ratio']} |"
    )
    out = _record_out(out_name, "scale_probe_stream_latest.json")
    out.write_text(json.dumps(record, indent=1, sort_keys=True) + "\n")
    print(f"# wrote {out}", file=sys.stderr)
    shutil.rmtree("/tmp/spark_graft_scale", ignore_errors=True)
    return 0 if record["closed_exact_scale"] else 1


# ---------------------------------------------------------------------------
# --sessions (VERDICT r13 #7): BOTH sessionization variants — GST
# (applyInPandasWithState + GroupStateTimeout) and TWS
# (transformWithStateInPandas + explicit timers), the bench's two most
# expensive queries — at 1x vs reps x under RocksDB. Same disjoint
# key-replica construction as --stream (per-replica session structure
# identical to the fixture's), so the closed-session census must scale
# EXACTLY reps x for each variant; per-rep state-store metrics ride the
# record (the ADVICE r12 discipline stream_main already follows).
# ---------------------------------------------------------------------------


def sessions_main(reps: int, src: str, out_name: str | None = None) -> int:
    import statistics
    from contextlib import nullcontext

    from mapreduce_system_spark.pbshim import tws_protobuf_env
    from mapreduce_system_spark.queries import fresh6
    from mapreduce_system_spark.streaming import stateful as ST

    dst = "/tmp/spark_graft_scale/sessions_sf1"
    spark = get_spark("scale_probe_sessions")
    print(f"# building {reps}x keys/events at {dst} from {src}", file=sys.stderr)
    build_scaled_stream_events(spark, src, dst, reps)

    sessionizers = {
        "gst": lambda s: ST.user_sessions_stateful(s, gap_s=fresh6._GAP_S),
        "tws": lambda s: ST.user_sessions_tws(s, gap_s=fresh6._GAP_S),
    }

    def run_once(variant: str, d: str, tag: str) -> tuple[float, int, dict]:
        stats: dict = {}
        env = tws_protobuf_env(spark) if variant == "tws" else nullcontext()
        t0 = time.time()
        with fresh6._pinned_conf(
            spark, "spark.sql.streaming.stateStore.providerClass",
            _ROCKSDB_PROVIDER,
        ), env:
            out = fresh6._run_session_stream(
                spark, d, f"probe_sess_{variant}_{tag}",
                sessionizers[variant], stats=stats,
            )
            closed = out.count()
        wall = time.time() - t0
        caches.release()
        return wall, int(closed), _state_metrics(stats.get("progress", []))

    # one untimed warm-up per variant (JVM + Python pool + RocksDB JNI +
    # the TWS protobuf shim install)
    for variant in sessionizers:
        run_once(variant, src, "warm")

    record: dict = {
        "mode": "sessions", "reps": reps, "src": src,
        "provider": "rocksdb", "gap_s": fresh6._GAP_S, "variants": {},
    }
    ok = True
    for variant in sessionizers:
        vrec: dict = {"scales": {}}
        for label, d in [("sf0.1", src), ("sf1", dst)]:
            walls: list[float] = []
            per_run: list[dict] = []
            closed: int | None = None
            # 2 timed runs per (variant, scale): the census determinism
            # check needs >=2, and the sf1 replays are the repo's most
            # expensive probe legs (4 variants x scales x runs of a
            # full RocksDB stream) — walls are recorded per-run so the
            # spread is visible rather than hidden behind a median of 3
            for i in range(2):
                w, c, m = run_once(variant, d, f"{label}_{i}")
                walls.append(round(w, 2))
                per_run.append(m)
                if closed is not None and closed != c:
                    print(
                        f"# NONDETERMINISM: {variant}/{label} closed "
                        f"{closed} vs {c}",
                        file=sys.stderr,
                    )
                    # persist the partial evidence (per-run walls +
                    # state metrics gathered so far) before gating —
                    # the other probe modes write their record first,
                    # and a discarded census is exactly the artifact a
                    # nondeterminism postmortem needs (ADVICE r14 #3)
                    vrec["scales"][label] = {
                        "closed_sessions": [closed, c],
                        "walls": walls,
                        "state_metrics_per_run": per_run,
                    }
                    record["variants"][variant] = vrec
                    record["nondeterministic"] = f"{variant}/{label}"
                    out = _record_out(
                        out_name, "scale_probe_sessions_latest.json"
                    )
                    out.write_text(
                        json.dumps(record, indent=1, sort_keys=True) + "\n"
                    )
                    print(f"# wrote partial {out}", file=sys.stderr)
                    return 1
                closed = c
            # census is deterministic (asserted above); store metrics are
            # NOT guaranteed to be (RocksDB compaction timing, micro-batch
            # coalescing) — record per-run values AND the max-fold
            metrics = {k: max(m[k] for m in per_run) for k in per_run[0]}
            vrec["scales"][label] = {
                "closed_sessions": closed,
                "wall_s": round(statistics.median(walls), 2),
                "walls": walls,
                **metrics,
                "state_metrics_per_run": per_run,
            }
            print(f"# {variant}/{label}: {vrec['scales'][label]}", file=sys.stderr)
        a, b = vrec["scales"]["sf0.1"], vrec["scales"]["sf1"]
        vrec["closed_exact_scale"] = (
            b["closed_sessions"] == reps * a["closed_sessions"]
        )
        for k in ("closed_sessions", "wall_s", "peak_state_rows", "peak_state_bytes"):
            vrec[f"{k}_ratio"] = round(b[k] / a[k], 2) if a[k] else None
        ok = ok and vrec["closed_exact_scale"]
        record["variants"][variant] = vrec

    print("| variant | scale | closed | wall s | peak state rows | peak state bytes |")
    print("|---|---|---|---|---|---|")
    for variant, vrec in record["variants"].items():
        for label in ("sf0.1", "sf1"):
            sc = vrec["scales"][label]
            print(
                f"| {variant} | {label} | {sc['closed_sessions']} | {sc['wall_s']} | "
                f"{sc['peak_state_rows']} | {sc['peak_state_bytes']} |"
            )
        print(
            f"| {variant} | ratio | {vrec['closed_sessions_ratio']} | "
            f"**{vrec['wall_s_ratio']}** | {vrec['peak_state_rows_ratio']} | "
            f"{vrec['peak_state_bytes_ratio']} |"
        )
    out = _record_out(out_name, "scale_probe_sessions_latest.json")
    out.write_text(json.dumps(record, indent=1, sort_keys=True) + "\n")
    print(f"# wrote {out}", file=sys.stderr)
    shutil.rmtree("/tmp/spark_graft_scale", ignore_errors=True)
    return 0 if ok else 1


# ---------------------------------------------------------------------------
# --boilerplate (r14): 10x probe for pipe_strip_boilerplate — the one
# r13-registered operator without scale evidence (LPA and tfidf got
# theirs at debut). Construction: replica r offsets doc_id AND suffixes
# `source` with `_r{r}`, so each replica is a DISJOINT per-source group
# and the line-frequency analysis is per-replica identical to the
# fixture's — output rows, total kept lines, and total stripped lines
# must all scale EXACTLY reps x (asserted); wall is the free variable.
# The registered query itself is what runs (it stages the banner/footer
# condition internally from `source`, which the suffix keeps per-replica
# distinct) — no private re-derivation.
# ---------------------------------------------------------------------------


def boilerplate_main(reps: int, src: str, out_name: str | None = None) -> int:
    import statistics

    from mapreduce_system_spark.queries.fresh10 import q_pipe_strip_boilerplate

    dst = "/tmp/spark_graft_scale/boilerplate_sf1"
    spark = get_spark("scale_probe_boilerplate")
    print(f"# building {reps}x disjoint-source docs at {dst}", file=sys.stderr)
    docs = load_table(spark, src, "documents")
    parts = [docs]
    for r in range(1, reps):
        parts.append(
            docs.select(
                (F.col("doc_id") + r * _OFFSET).alias("doc_id"),
                "text",
                "lang",
                F.concat(F.col("source"), F.lit(f"_r{r}")).alias("source"),
                "n_chars",
            )
        )
    out_df = parts[0]
    for p in parts[1:]:
        out_df = out_df.unionByName(p)
    out_df.repartition(8).write.mode("overwrite").parquet(f"{dst}/documents.parquet")

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
        return wall, int(row["rows"]), int(row["lines"]), int(row["removed"])

    run(src)  # untimed warm-up
    record: dict = {"mode": "boilerplate", "reps": reps, "src": src, "scales": {}}
    for label, d in [("sf0.1", src), ("sf1", dst)]:
        walls, rows, lines, removed = [], None, None, None
        for _ in range(3):
            w, rows, lines, removed = run(d)
            walls.append(w)
        record["scales"][label] = {
            "rows": rows, "lines": lines, "removed": removed,
            "wall_s": round(statistics.median(walls), 2),
        }
        print(f"# {label}: {record['scales'][label]}", file=sys.stderr)
    a, b = record["scales"]["sf0.1"], record["scales"]["sf1"]
    for k in ("rows", "lines", "removed"):
        record[f"{k}_exact_scale"] = b[k] == reps * a[k]
    record["wall_ratio"] = round(b["wall_s"] / a["wall_s"], 2) if a["wall_s"] else None
    print("| scale | rows | lines | removed | wall s |")
    print("|---|---|---|---|---|")
    for label in ("sf0.1", "sf1"):
        sc = record["scales"][label]
        print(
            f"| {label} | {sc['rows']} | {sc['lines']} | {sc['removed']} | "
            f"{sc['wall_s']} |"
        )
    print(f"| ratio | — | — | — | **{record['wall_ratio']}** |")
    out = _record_out(out_name, "scale_probe_boilerplate_latest.json")
    out.write_text(json.dumps(record, indent=1, sort_keys=True) + "\n")
    print(f"# wrote {out}", file=sys.stderr)
    shutil.rmtree("/tmp/spark_graft_scale", ignore_errors=True)
    return 0 if all(record[f"{k}_exact_scale"] for k in ("rows", "lines", "removed")) else 1


# ---------------------------------------------------------------------------
# --rules / --card (r12): 10x probes for the two staged r13 operators, so
# their registered debuts land with measured scale evidence already on
# record (the as-of/stream precedent). Constructions are disjoint-replica
# (basket ids / join keys offset per replica), so the expected growth is
# EXACT and asserted, not eyeballed.
# ---------------------------------------------------------------------------


def rules_main(reps: int, src: str, out_name: str | None = None) -> int:
    """Association rules at 1x vs reps x: replica r offsets BOTH
    l_orderkey and l_partkey by r*_OFFSET — fully disjoint shards with
    identical per-replica co-occurrence structure (offsetting baskets
    alone would multiply every pair's co-occurrence count by reps and
    push sub-threshold pairs over min_pair_count: rule rows jumped 34x
    at reps=3 in the first dry run, a real threshold semantics, not a
    bug — but useless as a parity check). Disjoint, qualifying pairs and
    rule rows must scale EXACTLY reps x with per-rule counts unchanged;
    wall is then the free variable and pair generation stays quadratic
    only in basket size."""
    import statistics

    from mapreduce_system_spark.operators.basket import association_rules

    dst = "/tmp/spark_graft_scale/rules_sf1"
    spark = get_spark("scale_probe_rules")
    li = load_table(spark, src, "lineitem", columns=["l_orderkey", "l_partkey"])
    _write_replicated(
        spark, li, ["l_orderkey", "l_partkey"], reps, f"{dst}/lineitem.parquet"
    )

    def run(d: str):
        ev = load_table(spark, d, "lineitem", columns=["l_orderkey", "l_partkey"])
        t0 = time.time()
        out = association_rules(
            ev, basket_col="l_orderkey", item_col="l_partkey", min_pair_count=2
        )
        n = out.count()
        wall = time.time() - t0
        caches.release()
        return wall, int(n)

    run(src)  # untimed warm-up
    record: dict = {"mode": "rules", "reps": reps, "src": src, "scales": {}}
    for label, d in [("sf0.1", src), ("sf1", dst)]:
        walls, n = [], None
        for _ in range(3):
            w, n = run(d)
            walls.append(w)
        record["scales"][label] = {
            "rule_rows": n, "wall_s": round(statistics.median(walls), 2),
        }
        print(f"# {label}: {record['scales'][label]}", file=sys.stderr)
    a, b = record["scales"]["sf0.1"], record["scales"]["sf1"]
    record["rules_exact_scale"] = b["rule_rows"] == reps * a["rule_rows"]
    # zero-guard (r12 review): a src whose pairs never reach
    # min_pair_count yields 0 rules — the record must still be WRITTEN
    # (a ZeroDivisionError after six timed runs would lose everything)
    record["wall_ratio"] = round(b["wall_s"] / a["wall_s"], 2) if a["wall_s"] else None
    print("| scale | rule rows | wall s |")
    print("|---|---|---|")
    for label in ("sf0.1", "sf1"):
        sc = record["scales"][label]
        print(f"| {label} | {sc['rule_rows']} | {sc['wall_s']} |")
    rows_ratio = (
        f"{b['rule_rows'] / a['rule_rows']:.2f}" if a["rule_rows"] else "n/a (0 rules)"
    )
    print(f"| ratio | {rows_ratio} | **{record['wall_ratio']}** |")
    out = _record_out(out_name, "scale_probe_rules_latest.json")
    out.write_text(json.dumps(record, indent=1, sort_keys=True) + "\n")
    print(f"# wrote {out}", file=sys.stderr)
    shutil.rmtree("/tmp/spark_graft_scale", ignore_errors=True)
    return 0 if record["rules_exact_scale"] else 1


def card_main(reps: int, src: str, out_name: str | None = None) -> int:
    """Join-cardinality estimation at 1x vs reps x (orders ⋈ customer on
    custkey, both sides replica-offset so |join| scales EXACTLY reps x):
    records the estimator's wall AGAINST the materialized join's count
    wall (the claim under test: estimating is cheaper than joining) and
    its relative error at both scales. Coordinated key sampling keeps
    per-key products exact, so the error is pure key-COVERAGE noise —
    it tightens as the number of sampled keys grows (sf0.1's 1,500-key
    domain: −2.3% at 1x → −0.8% at 10x, scale_probe_r12_card.json) but
    is LARGE when the absolute sampled-key count is small regardless of
    rows: a tiny-domain smoke (sf0.001, ~15 sampled keys) legitimately
    reads tens of percent and re-rolls when replica offsets double the
    key domain. Judge probe accuracy by sampled-key COUNT, not corpus
    rows (r12 review)."""
    import statistics

    from mapreduce_system_spark.operators.cardinality import (
        join_cardinality_estimate,
        join_cardinality_exact,
    )

    dst = "/tmp/spark_graft_scale/card_sf1"
    spark = get_spark("scale_probe_card")
    orders = load_table(spark, src, "orders", columns=["o_custkey"])
    cust = load_table(spark, src, "customer", columns=["c_custkey"])
    for name, df, col in (("orders", orders, "o_custkey"), ("customer", cust, "c_custkey")):
        _write_replicated(spark, df, [col], reps, f"{dst}/{name}.parquet")

    def run(d: str):
        o = load_table(spark, d, "orders", columns=["o_custkey"])
        c = load_table(spark, d, "customer", columns=["c_custkey"])
        t0 = time.time()
        est = join_cardinality_estimate(o, c, "o_custkey", "c_custkey", 10).collect()[0][0]
        w_est = time.time() - t0
        t0 = time.time()
        exact = join_cardinality_exact(o, c, "o_custkey", "c_custkey").collect()[0][0]
        w_exact = time.time() - t0
        t0 = time.time()
        joined = o.join(c, o.o_custkey == c.c_custkey).count()
        w_join = time.time() - t0
        caches.release()
        return est, exact, joined, w_est, w_exact, w_join

    run(src)  # untimed warm-up
    record: dict = {"mode": "card", "reps": reps, "src": src, "sample_pct": 10, "scales": {}}
    for label, d in [("sf0.1", src), ("sf1", dst)]:
        ws = {"est": [], "exact": [], "join": []}
        est = exact = joined = None
        for _ in range(3):
            est, exact, joined, a, b, c_ = run(d)
            ws["est"].append(a); ws["exact"].append(b); ws["join"].append(c_)
        record["scales"][label] = {
            "estimate": int(est), "exact": int(exact), "join_count": int(joined),
            # zero-guard (r12 review): disjoint key spaces give exact=0
            "rel_error": round((est - exact) / exact, 4) if exact else None,
            "est_wall_s": round(statistics.median(ws["est"]), 2),
            "exact_wall_s": round(statistics.median(ws["exact"]), 2),
            "join_wall_s": round(statistics.median(ws["join"]), 2),
        }
        print(f"# {label}: {record['scales'][label]}", file=sys.stderr)
    a, b = record["scales"]["sf0.1"], record["scales"]["sf1"]
    record["exact_matches_join"] = (
        a["exact"] == a["join_count"] and b["exact"] == b["join_count"]
    )
    record["exact_scales"] = b["exact"] == reps * a["exact"]
    print("| scale | estimate | exact | rel err | est wall | exact wall | join wall |")
    print("|---|---|---|---|---|---|---|")
    for label in ("sf0.1", "sf1"):
        sc = record["scales"][label]
        print(
            f"| {label} | {sc['estimate']} | {sc['exact']} | {sc['rel_error']} | "
            f"{sc['est_wall_s']} | {sc['exact_wall_s']} | {sc['join_wall_s']} |"
        )
    out = _record_out(out_name, "scale_probe_card_latest.json")
    out.write_text(json.dumps(record, indent=1, sort_keys=True) + "\n")
    print(f"# wrote {out}", file=sys.stderr)
    shutil.rmtree("/tmp/spark_graft_scale", ignore_errors=True)
    return 0 if (record["exact_matches_join"] and record["exact_scales"]) else 1


def tfidf_main(reps: int, src: str, out_name: str | None = None) -> int:
    """TF-IDF cosine pairs at 1x vs reps x on DISJOINT token-prefixed
    document shards (``build_scaled`` organic_pct=0 — no token crosses
    shards, so the capped-posting CANDIDATE census and the qualifying
    pair rows must both scale EXACTLY reps x; wall is the free
    variable). Candidates are counted by the operator itself at a tiny
    positive threshold (TF-IDF weights are strictly positive, so every
    shared-posting pair has cosine > 0 — no private re-derivation of
    the posting join that could drift from the operator, the
    orient_by_degree lesson). NOTE: idf shifts with corpus size
    (N grows reps x while each shard's df is unchanged), so per-pair
    COSINES differ across scales by design; the exact-scale checks are
    on COUNTS, which the threshold can in principle perturb — the probe
    therefore records both the threshold census and the
    threshold-free candidate census, and only the latter is the hard
    gate."""
    import statistics

    from mapreduce_system_spark.operators.dedup import tfidf_cosine_pairs

    dst = "/tmp/spark_graft_scale/tfidf_sf1"
    spark = get_spark("scale_probe_tfidf")
    build_scaled(spark, src, dst, reps, 0, tables=("documents",))

    # cap 250, NOT the registered query's 200 or the shingle family's
    # 100: token DF is per-SHARD under the disjoint construction, and the
    # fixture's measured token-DF cliff (queries/fresh10.py) means caps
    # <= 200 leave ZERO shared postings at sf0.1 — a probe that measures
    # nothing (the r13 first run recorded exactly that); 250 admits the
    # mid-frequency stratum (675 pairs @0.3 at sf0.1) so candidate growth
    # is actually exercised
    cap = 250

    def run(d: str):
        docs = load_table(spark, d, "documents", columns=["doc_id", "text"])
        t0 = time.time()
        n_pairs = tfidf_cosine_pairs(
            docs, threshold=0.3, max_token_df=cap
        ).count()
        wall = time.time() - t0
        caches.release()
        # round_to=12 (ADVICE r13): the default rounds cosines to 6
        # decimals BEFORE the threshold, so a shared-posting pair with
        # cosine < 5e-7 would round to 0.0 and drop — under-counting the
        # census the docstring claims (and idf shifts across scales could
        # move a borderline pair across the rounding cliff). At 1e-12
        # threshold with 12-decimal rounding every positive-weight pair
        # survives: TF-IDF weights are >= 1 per posting and norms are
        # fixture-bounded, so true cosines sit far above 5e-13.
        cands = tfidf_cosine_pairs(
            docs, threshold=1e-12, max_token_df=cap, round_to=12
        ).count()
        caches.release()
        return wall, int(n_pairs), int(cands)

    run(src)  # untimed warm-up
    record: dict = {
        "mode": "tfidf", "reps": reps, "src": src,
        "threshold": 0.3, "max_token_df": cap, "scales": {},
    }
    for label, d in [("sf0.1", src), ("sf1", dst)]:
        walls, n, cands = [], None, None
        for _ in range(3):
            w, n, cands = run(d)
            walls.append(w)
        record["scales"][label] = {
            "pairs": n, "candidates": cands,
            "wall_s": round(statistics.median(walls), 2),
        }
        print(f"# {label}: {record['scales'][label]}", file=sys.stderr)
    a, b = record["scales"]["sf0.1"], record["scales"]["sf1"]
    record["candidates_exact_scale"] = b["candidates"] == reps * a["candidates"]
    record["pairs_exact_scale"] = b["pairs"] == reps * a["pairs"]
    record["wall_ratio"] = round(b["wall_s"] / a["wall_s"], 2) if a["wall_s"] else None
    print("| scale | pairs@0.3 | candidates | wall s |")
    print("|---|---|---|---|")
    for label in ("sf0.1", "sf1"):
        sc = record["scales"][label]
        print(f"| {label} | {sc['pairs']} | {sc['candidates']} | {sc['wall_s']} |")
    cand_ratio = (
        f"{b['candidates'] / a['candidates']:.2f}" if a["candidates"] else "n/a"
    )
    print(f"| ratio | — | {cand_ratio} | **{record['wall_ratio']}** |")
    out = _record_out(out_name, "scale_probe_tfidf_latest.json")
    out.write_text(json.dumps(record, indent=1, sort_keys=True) + "\n")
    print(f"# wrote {out}", file=sys.stderr)
    shutil.rmtree("/tmp/spark_graft_scale", ignore_errors=True)
    return 0 if record["candidates_exact_scale"] else 1


def lpa_main(reps: int, src: str, out_name: str | None = None) -> int:
    """Label propagation at 1x vs reps x: replica r offsets BOTH
    l_orderkey and l_partkey by r*_OFFSET (the rules probe's disjoint
    construction — shards share no baskets and no parts, so each shard's
    co-purchase graph is an isomorphic copy with labels offset by
    exactly r*_OFFSET). Hard gates: the node census scales EXACTLY
    reps x AND the community-SIZE histogram scales exactly reps x per
    bucket (shard-local structure is unchanged, so every community
    reappears reps times at its original size — a cross-shard edge, a
    tie-break drift, or an iteration-order dependence would all break
    the histogram before they broke a row count). Wall is the free
    variable: per round ONE equi-join + TWO partial+final aggregates,
    so wall should grow far slower than reps."""
    import statistics

    from mapreduce_system_spark.operators.graph import label_propagation
    from mapreduce_system_spark.queries._graphshared import copurchase_pairs

    dst = "/tmp/spark_graft_scale/lpa_sf1"
    spark = get_spark("scale_probe_lpa")
    li = load_table(spark, src, "lineitem", columns=["l_orderkey", "l_partkey"])
    _write_replicated(
        spark, li, ["l_orderkey", "l_partkey"], reps, f"{dst}/lineitem.parquet"
    )

    def run(d: str):
        pr = copurchase_pairs(spark, d)
        t0 = time.time()
        labels = label_propagation(pr, src="u", dst="v", iterations=3)
        hist = {
            int(r["sz"]): int(r["n"])
            for r in labels.groupBy("label")
            .agg(F.count("*").alias("sz"))
            .groupBy("sz")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        n_nodes = sum(sz * n for sz, n in hist.items())
        wall = time.time() - t0
        caches.release()
        return wall, n_nodes, hist

    run(src)  # untimed warm-up
    record: dict = {"mode": "lpa", "reps": reps, "src": src, "iterations": 3, "scales": {}}
    hists: dict[str, dict] = {}
    for label, d in [("sf0.1", src), ("sf1", dst)]:
        walls, n_nodes, hist = [], None, None
        for _ in range(3):
            w, n_nodes, hist = run(d)
            walls.append(w)
        hists[label] = hist
        record["scales"][label] = {
            "nodes": n_nodes,
            "communities": sum(hist.values()),
            "size_histogram": {str(k): v for k, v in sorted(hist.items())},
            "wall_s": round(statistics.median(walls), 2),
        }
        print(f"# {label}: nodes={n_nodes} communities={sum(hist.values())} "
              f"wall={record['scales'][label]['wall_s']}", file=sys.stderr)
    a, b = record["scales"]["sf0.1"], record["scales"]["sf1"]
    record["nodes_exact_scale"] = b["nodes"] == reps * a["nodes"]
    record["histogram_exact_scale"] = hists["sf1"] == {
        k: reps * v for k, v in hists["sf0.1"].items()
    }
    record["wall_ratio"] = round(b["wall_s"] / a["wall_s"], 2) if a["wall_s"] else None
    print("| scale | nodes | communities | wall s |")
    print("|---|---|---|---|")
    for label in ("sf0.1", "sf1"):
        sc = record["scales"][label]
        print(f"| {label} | {sc['nodes']} | {sc['communities']} | {sc['wall_s']} |")
    print(f"| ratio | {b['nodes']/a['nodes']:.2f} | "
          f"{b['communities']/a['communities']:.2f} | **{record['wall_ratio']}** |")
    out = _record_out(out_name, "scale_probe_lpa_latest.json")
    out.write_text(json.dumps(record, indent=1, sort_keys=True) + "\n")
    print(f"# wrote {out}", file=sys.stderr)
    shutil.rmtree("/tmp/spark_graft_scale", ignore_errors=True)
    return 0 if (record["nodes_exact_scale"] and record["histogram_exact_scale"]) else 1


def kcore_main(
    reps: int, src: str, out_name: str | None = None, organic_pct: int = 0
) -> int:
    """k-core peeling at 1x vs reps x. Default (``organic_pct=0``): the
    LPA probe's disjoint construction verbatim — replica r offsets
    l_orderkey AND l_partkey, so each shard's co-purchase graph is an
    isomorphic copy. Hard gates: the survivor census scales EXACTLY
    reps x AND the survivor DEGREE histogram scales exactly reps x per
    bucket (a cross-shard edge or a round-order dependence would break
    the histogram before a row count). Wall is the free variable: per
    round ONE degree aggregate + two (gated-broadcast) semi-joins.

    ``organic_pct`` > 0 (VERDICT r14 #6): the r8-style collision mode —
    baskets still replicate disjointly (l_orderkey always offsets) but
    the hash-chosen organic fraction of PARTS keeps its identity across
    replicas, so an organic part is co-purchased in every shard and its
    degree grows ~reps x — the hub regime stressing the keep-set story
    the gated broadcast depends on. Exact-scale gates don't apply
    (collisions merge hubs by design); the record instead carries the
    PRE-peel degree-tail census per scale (max/p99/p999) plus the
    survivor census and walls, and gates only on sanity (survivors and
    the degree tail must grow, never shrink)."""
    import statistics

    from mapreduce_system_spark.operators.graph import k_core_peel
    from mapreduce_system_spark.queries._graphshared import copurchase_pairs

    k, rounds = 3, 3
    dst = "/tmp/spark_graft_scale/kcore_sf1"
    spark = get_spark("scale_probe_kcore")
    li = load_table(spark, src, "lineitem", columns=["l_orderkey", "l_partkey"])
    if organic_pct:
        organic = F.pmod(F.xxhash64(F.col("l_partkey")), F.lit(100)) < organic_pct
        parts = [li]
        for r in range(1, reps):
            parts.append(
                li.select(
                    (F.col("l_orderkey") + r * _OFFSET).alias("l_orderkey"),
                    F.when(organic, F.col("l_partkey"))
                    .otherwise(F.col("l_partkey") + r * _OFFSET)
                    .alias("l_partkey"),
                )
            )
        out_li = parts[0]
        for p in parts[1:]:
            out_li = out_li.unionByName(p)
        out_li.repartition(16).write.mode("overwrite").parquet(
            f"{dst}/lineitem.parquet"
        )
    else:
        _write_replicated(
            spark, li, ["l_orderkey", "l_partkey"], reps, f"{dst}/lineitem.parquet"
        )

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
            "p999": round(float(row["p999"]), 1),
            "p99": round(float(row["p99"]), 1),
            "p50": round(float(row["p50"]), 1),
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
        return wall, sum(hist.values()), hist

    run(src)  # untimed warm-up
    record: dict = {
        "mode": "kcore", "reps": reps, "src": src, "k": k,
        "rounds": rounds, "organic_pct": organic_pct, "scales": {},
    }
    hists: dict[str, dict] = {}
    for label, d in [("sf0.1", src), ("sf1", dst)]:
        walls, n_surv, hist = [], None, None
        for _ in range(3):
            w, n_surv, hist = run(d)
            walls.append(w)
        hists[label] = hist
        record["scales"][label] = {
            "survivors": n_surv,
            "degree_histogram": {str(kk): v for kk, v in sorted(hist.items())},
            "wall_s": round(statistics.median(walls), 2),
        }
        if organic_pct:
            record["scales"][label]["degree_tail"] = degree_tail(d)
        print(f"# {label}: survivors={n_surv} "
              f"wall={record['scales'][label]['wall_s']}", file=sys.stderr)
    a, b = record["scales"]["sf0.1"], record["scales"]["sf1"]
    record["wall_ratio"] = round(b["wall_s"] / a["wall_s"], 2) if a["wall_s"] else None
    if organic_pct:
        # collisions merge hubs by design — exact-scale gates replaced
        # by the sanity pair + the hub-growth evidence itself
        ta, tb = a["degree_tail"], b["degree_tail"]
        record["max_deg_ratio"] = (
            round(tb["max_deg"] / ta["max_deg"], 2) if ta["max_deg"] else None
        )
        ok = b["survivors"] >= a["survivors"] and tb["max_deg"] >= ta["max_deg"]
        record["sanity_ok"] = ok
    else:
        record["survivors_exact_scale"] = b["survivors"] == reps * a["survivors"]
        record["histogram_exact_scale"] = hists["sf1"] == {
            kk: reps * v for kk, v in hists["sf0.1"].items()
        }
        ok = record["survivors_exact_scale"] and record["histogram_exact_scale"]
    print("| scale | survivors | wall s |")
    print("|---|---|---|")
    for label in ("sf0.1", "sf1"):
        sc = record["scales"][label]
        print(f"| {label} | {sc['survivors']} | {sc['wall_s']} |")
    ratio = b["survivors"] / a["survivors"] if a["survivors"] else float("nan")
    print(f"| ratio | {ratio:.2f} | **{record['wall_ratio']}** |")
    if organic_pct:
        print(f"degree tail sf0.1: {a['degree_tail']}")
        print(f"degree tail sf1:   {b['degree_tail']}  "
              f"(max_deg ratio {record['max_deg_ratio']})")
    out = _record_out(out_name, "scale_probe_kcore_latest.json")
    out.write_text(json.dumps(record, indent=1, sort_keys=True) + "\n")
    print(f"# wrote {out}", file=sys.stderr)
    shutil.rmtree("/tmp/spark_graft_scale", ignore_errors=True)
    return 0 if ok else 1


def ccjump_main(reps: int, src: str, out_name: str | None = None) -> int:
    """Pointer-jumping connected components at 1x vs reps x (staged r16
    for a later debut — VERDICT r15 #5's probe-before-registration
    cadence). Two constructions, two claims:

    (1) DISJOINT REPLICAS of the raw co-purchase graph (the k-core/
    k-truss construction: replica r offsets l_orderkey AND l_partkey).
    Hard gate: the component CENSUS (count + size histogram) scales
    EXACTLY reps x (components of a disjoint union are components per
    shard); wall is the free variable — per round two equi-joins + one
    node-keyed min aggregate + one node-sized checkpoint.

    (2) a DEEP PATH (the regime the operator exists for): minimal
    converged rounds at depth D vs 10D must grow by <= 4 (the O(log d)
    claim — reach doubles per round), where min-label CC
    (operators/dedup.py) would need D rounds outright. The path is
    synthetic by necessity: no fixture relation carries diameter in
    the thousands, and depth IS the stressor here."""
    import statistics

    from mapreduce_system_spark.operators.graph import connected_components_jump
    from mapreduce_system_spark.queries._graphshared import copurchase_pairs

    dst = "/tmp/spark_graft_scale/ccjump_sf1"
    spark = get_spark("scale_probe_ccjump")
    li = load_table(spark, src, "lineitem", columns=["l_orderkey", "l_partkey"])
    _write_replicated(
        spark, li, ["l_orderkey", "l_partkey"], reps, f"{dst}/lineitem.parquet"
    )

    def census(d: str):
        pr = copurchase_pairs(spark, d)
        t0 = time.time()
        lab = connected_components_jump(
            pr, id_a="u", id_b="v", rounds=6,
        )
        sizes = {
            int(r["sz"]): int(r["n"])
            for r in lab.groupBy("lab").agg(F.count("*").alias("sz"))
            .groupBy("sz").agg(F.count("*").alias("n")).collect()
        }
        wall = time.time() - t0
        caches.release()
        return wall, sizes

    census(src)  # untimed warm-up
    record: dict = {"mode": "ccjump", "reps": reps, "src": src, "scales": {}}
    hists: dict[str, dict] = {}
    for label, d in [("sf0.1", src), ("sf1", dst)]:
        walls, sizes = [], None
        for _ in range(3):
            w, sizes = census(d)
            walls.append(w)
        hists[label] = sizes
        record["scales"][label] = {
            "n_components": sum(sizes.values()),
            "size_histogram": {str(k): v for k, v in sorted(sizes.items())},
            "wall_s": round(statistics.median(walls), 2),
        }
        print(f"# {label}: components={sum(sizes.values())} "
              f"wall={record['scales'][label]['wall_s']}", file=sys.stderr)
    a, b = record["scales"]["sf0.1"], record["scales"]["sf1"]
    record["census_exact_scale"] = hists["sf1"] == {
        k: reps * v for k, v in hists["sf0.1"].items()
    }
    record["wall_ratio"] = round(b["wall_s"] / a["wall_s"], 2) if a["wall_s"] else None

    # (2) the depth claim: minimal converged rounds on a path, D vs 10D
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
    r_small = min_rounds(depth)
    r_big = min_rounds(depth * reps)
    record["path_depth"] = depth
    record["path_rounds_1x"] = r_small
    record["path_rounds_10x"] = r_big
    record["log_growth"] = 0 <= r_big - r_small <= 4
    print("| scale | components | wall s |")
    print("|---|---|---|")
    for label in ("sf0.1", "sf1"):
        sc = record["scales"][label]
        print(f"| {label} | {sc['n_components']} | {sc['wall_s']} |")
    print(f"| ratio | | **{record['wall_ratio']}** |")
    print(f"| path {depth} -> x{reps} | rounds {r_small} -> {r_big} | |")
    out = _record_out(out_name, "scale_probe_ccjump_latest.json")
    out.write_text(json.dumps(record, indent=1, sort_keys=True) + "\n")
    print(f"# wrote {out}", file=sys.stderr)
    shutil.rmtree("/tmp/spark_graft_scale", ignore_errors=True)
    return 0 if (record["census_exact_scale"] and record["log_growth"]) else 1


def fjoin_main(reps: int, src: str, out_name: str | None = None) -> int:
    """FULL OUTER stream-stream interval join at 1x vs reps x keys
    (staged r16, completing the inner -> left_outer -> full_outer
    matrix; VERDICT r15 #5's probe-before-registration cadence). Each
    side staged as two time-contiguous chunks + a far-future sentinel
    (fresh6's replay discipline — sentinels on BOTH streams because the
    global watermark is the min across inputs). Hard gates: the
    streaming (matched, left-unmatched, right-unmatched) census equals
    the batch FULL JOIN census at BOTH scales, and the census scales
    EXACTLY reps x (replicas are key-disjoint). Free variables: wall
    and peak join-state rows (both sides' in-flight windows — expect
    ~linear in rows, the watermark-eviction contract)."""
    import os
    import statistics
    import uuid as _uuid
    from pathlib import Path as _P

    from mapreduce_system_spark.queries import fresh6
    from mapreduce_system_spark.streaming import windows as SW

    spark = get_spark("scale_probe_fjoin")
    MAX_DELAY = "30 minutes"

    def load_sides(rep: int):
        ev = load_table(
            spark, src, "events", columns=["user_id", "ts", "event_type"]
        ).where(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        if rep > 1:
            parts = [ev]
            for r in range(1, rep):
                parts.append(
                    ev.select(
                        (F.col("user_id") + r * _OFFSET).alias("user_id"),
                        "ts", "event_type",
                    )
                )
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
            ev = out
        clicks = ev.where(F.col("event_type") == "click").select("user_id", "ts")
        purch = ev.where(F.col("event_type") == "purchase").select("user_id", "ts")
        return clicks, purch

    def stage_side(df, base: _P, name: str, sentinel_es: int) -> None:
        d = base / name
        d.mkdir(parents=True)
        tmp = str(base / f"tmp_{name}")
        df.withColumn("es", F.unix_timestamp("ts")).repartitionByRange(
            2, "es", "user_id"
        ).write.mode("overwrite").parquet(tmp)
        parts = sorted(
            p for p in _P(tmp).iterdir() if p.name.endswith(".parquet")
        )
        if len(parts) < 2:
            raise RuntimeError(f"expected 2 time-range chunks, saw {len(parts)}")
        for i, part in enumerate(parts, start=1):
            chunk = d / f"chunk-{i}.parquet"
            part.rename(chunk)
            t = 1_700_000_000 + i * 10
            os.utime(chunk, (t, t))
        spark.range(1).select(
            F.lit(-1).cast("long").alias("user_id"),
            F.timestamp_seconds(F.lit(sentinel_es)).alias("ts"),
            F.lit(sentinel_es).cast("long").alias("es"),
        ).coalesce(1).write.mode("overwrite").parquet(str(base / f"tmp_s_{name}"))
        s = d / "chunk-9-sentinel.parquet"
        next(
            p for p in (base / f"tmp_s_{name}").iterdir()
            if p.name.endswith(".parquet")
        ).rename(s)
        t = 1_700_000_000 + 990
        os.utime(s, (t, t))

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
        return {
            "matched": int(row["matched"]),
            "left_unmatched": int(row["left_unmatched"]),
            "right_unmatched": int(row["right_unmatched"]),
        }

    def run(rep: int):
        clicks, purch = load_sides(rep)
        max_es = (
            clicks.select(F.max(F.unix_timestamp("ts")).alias("m"))
            .unionByName(purch.select(F.max(F.unix_timestamp("ts")).alias("m")))
            .agg(F.max("m"))
            .collect()[0][0]
        )
        sentinel_es = int(max_es) + 3 * 3600  # beyond every join window
        base = _P(f"/tmp/spark_graft_fjoin_{rep}x_{_uuid.uuid4().hex[:8]}")
        try:
            stage_side(clicks, base, "clicks", sentinel_es)
            stage_side(purch, base, "purch", sentinel_es)
            sink, ck = str(base / "out"), str(base / "ck")

            def read(name: str):
                return (
                    spark.readStream.schema("user_id long, ts timestamp, es long")
                    .option("maxFilesPerTrigger", 1)
                    .parquet(str(base / name))
                )

            t0 = time.time()
            joined = SW.interval_join(
                SW.with_watermark(read("clicks"), delay="1 minute"),
                SW.with_watermark(read("purch"), delay="1 minute"),
                on="user_id", max_delay=MAX_DELAY, how="full_outer",
            )
            with fresh6._pinned_conf(
                spark, "spark.sql.streaming.numRecentProgressUpdates", "10000"
            ):
                q = (
                    joined.writeStream.foreachBatch(
                        lambda b, _i: b.write.mode("append").parquet(sink)
                    )
                    .outputMode("append")
                    .option("checkpointLocation", ck)
                    .trigger(availableNow=True)
                    .start()
                )
                try:
                    q.awaitTermination()
                    progress = [
                        json.loads(p.json) if hasattr(p, "json") else dict(p)
                        for p in q.recentProgress
                    ]
                finally:
                    try:
                        q.stop()
                    except Exception:
                        pass
            stream_census = census_of(spark.read.parquet(sink))
            wall = time.time() - t0
            batch_census = census_of(
                SW.interval_join(
                    clicks, purch, on="user_id",
                    max_delay=MAX_DELAY, how="full_outer",
                )
            )
            caches.release()
            return wall, stream_census, batch_census, _state_metrics(progress)
        finally:
            shutil.rmtree(base, ignore_errors=True)

    run(1)  # untimed warm-up
    record: dict = {
        "mode": "fjoin", "reps": reps, "src": src,
        "max_delay": MAX_DELAY, "scales": {},
    }
    ok = True
    censuses: dict[str, dict] = {}
    for label, rep in [("1x", 1), (f"{reps}x", reps)]:
        walls, sc, bc, metrics = [], None, None, None
        for _ in range(3):
            w, sc, bc, metrics = run(rep)
            walls.append(w)
        matches_batch = sc == bc
        ok = ok and matches_batch
        censuses[label] = sc
        record["scales"][label] = {
            "stream_census": sc,
            "batch_census": bc,
            "stream_matches_batch": matches_batch,
            "wall_s": round(statistics.median(walls), 2),
            **{k: metrics[k] for k in
               ("peak_state_rows", "peak_state_bytes", "n_batches")},
        }
        print(f"# {label}: census={sc} batch_match={matches_batch} "
              f"wall={record['scales'][label]['wall_s']}", file=sys.stderr)
    a, b = record["scales"]["1x"], record["scales"][f"{reps}x"]
    record["census_exact_scale"] = censuses[f"{reps}x"] == {
        k: reps * v for k, v in censuses["1x"].items()
    }
    ok = ok and record["census_exact_scale"]
    record["wall_ratio"] = (
        round(b["wall_s"] / a["wall_s"], 2) if a["wall_s"] else None
    )
    record["state_rows_ratio"] = (
        round(b["peak_state_rows"] / a["peak_state_rows"], 2)
        if a["peak_state_rows"] else None
    )
    print("| scale | matched | l-unmatched | r-unmatched | wall s | peak state rows |")
    print("|---|---|---|---|---|---|")
    for label in ("1x", f"{reps}x"):
        s = record["scales"][label]
        c = s["stream_census"]
        print(f"| {label} | {c['matched']} | {c['left_unmatched']} "
              f"| {c['right_unmatched']} | {s['wall_s']} | {s['peak_state_rows']} |")
    print(f"| ratio | | | | **{record['wall_ratio']}** "
          f"| {record['state_rows_ratio']} |")
    out = _record_out(out_name, "scale_probe_fjoin_latest.json")
    out.write_text(json.dumps(record, indent=1, sort_keys=True) + "\n")
    print(f"# wrote {out}", file=sys.stderr)
    return 0 if ok else 1


def bloom_main(reps: int, src: str, out_name: str | None = None) -> int:
    """Bloom prefilter fp-rate + residue at 1x vs reps x history
    (VERDICT r15 #4, run BEFORE the ``dedup_bloom_prefilter`` driver
    row lands): the registered query's false-positive audit is
    fixture-sized; this probe pins that (a) the MEASURED fp rate tracks
    the (1 - e^{-kn/m})^k formula as n grows toward m — the sizing
    contract a caller relies on when picking m for a 100 TB corpus —
    (b) the no-false-negative invariant holds at every scale, and
    (c) the maybe-seen residue (the exact-path fallback volume) stays
    the bounded fraction the two-tier design assumes. Scale
    construction: replica r SALTS the fingerprint (``fp#r``) — the
    sketch hashes opaque strings, so salting grows the distinct key
    population without touching parquet; history/batch split and
    recrawl staging are the registered query's constants verbatim.

    r17 re-probe (VERDICT r16 #5): the registered query now SIZES m BY
    the measured history count (``bloom_params``, fp target 1%) — the
    fix for the saturation this probe itself caught at the old fixed
    m=65536 (10x history -> fp 0.76, residue 0.89). The probe mirrors
    that: m is re-derived per scale, so the claim under test becomes
    "the measured fp rate stays at the design target at EVERY history
    size" rather than "the formula predicts the decay". Wall is still
    recorded: m now grows linearly with n, so the sketch stays a
    fixed-ratio summary (~9.6 bits/key) and the join cost must track
    the key volume, not explode."""
    import math
    import statistics

    from mapreduce_system_spark.functions.hashing import md5_bucket32
    from mapreduce_system_spark.functions.text import fingerprint
    from mapreduce_system_spark.operators.bloomsketch import (
        bloom_build,
        bloom_maybe_contains,
        bloom_params,
    )

    FP_TARGET = 0.01                   # the registered query's target
    K = bloom_params(1, FP_TARGET)[1]  # k is n-independent (= 7 at 1%)
    BATCH_BUCKET, RECRAWL_MOD = 90, 7  # (queries/fresh13.py)
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
        rdf = spark.range(rep).select(F.col("id").alias("r"))
        kb = b.crossJoin(F.broadcast(rdf)).select(
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
        return wall, n_hist, census, m

    run(1)  # untimed warm-up (JVM/codegen)
    record: dict = {
        "mode": "bloom", "reps": reps, "src": src,
        "fp_target": FP_TARGET, "k": K, "sized_by_n": True,
        "scales": {},
    }
    ok = True
    for label, rep in [("1x", 1), (f"{reps}x", reps)]:
        walls, n_hist, census, m = [], 0, {}, 1
        for _ in range(3):
            w, n_hist, census, m = run(rep)
            walls.append(w)
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
            "wall_s": round(statistics.median(walls), 2),
        }
        print(f"# {label}: n={n_hist} fp={n_fp} measured="
              f"{record['scales'][label]['fp_rate_measured']} predicted="
              f"{record['scales'][label]['fp_rate_predicted']} "
              f"wall={record['scales'][label]['wall_s']}", file=sys.stderr)
    a, bb = record["scales"]["1x"], record["scales"][f"{reps}x"]
    record["no_false_negatives"] = (
        a["false_negatives"] == 0 and bb["false_negatives"] == 0
    )
    record["wall_ratio"] = (
        round(bb["wall_s"] / a["wall_s"], 2) if a["wall_s"] else None
    )
    print("| scale | n history | fp measured | fp predicted | residue | wall s |")
    print("|---|---|---|---|---|---|")
    for label in ("1x", f"{reps}x"):
        sc = record["scales"][label]
        print(f"| {label} | {sc['n_history_keys']} | {sc['fp_rate_measured']} "
              f"| {sc['fp_rate_predicted']} | {sc['residue_fraction']} "
              f"| {sc['wall_s']} |")
    print(f"| ratio | | | | | **{record['wall_ratio']}** |")
    out = _record_out(out_name, "scale_probe_bloom_latest.json")
    out.write_text(json.dumps(record, indent=1, sort_keys=True) + "\n")
    print(f"# wrote {out}", file=sys.stderr)
    return 0 if ok else 1


def ktruss_main(reps: int, src: str, out_name: str | None = None) -> int:
    """k-truss peeling at 1x vs reps x (the kcore probe's disjoint
    construction verbatim: replica r offsets l_orderkey AND l_partkey,
    so each shard's RAW co-purchase graph is an isomorphic copy).
    Probes the REGISTERED constants (queries/fresh14.py: raw graph,
    k=8, rounds=2 — the r15 staging probe ran the support-2 graph at
    k=3, whose truss is 3 edges at sf0.1; VERDICT r15 #2 required the
    debut to pick constants with data, so the probe now measures the
    graph the query actually peels). Hard gates: the surviving EDGE
    census scales EXACTLY reps x AND the survivor SUPPORT histogram
    scales exactly reps x per bucket (a cross-shard triangle or
    round-order dependence breaks the histogram before a row count).
    Wall is the free variable: per round one degree-ordered triangle
    enumeration + one edge-keyed aggregate + one edge-sized checkpoint
    — the checkpoint is the recurrence state itself (see
    k_truss_edges' docstring), so expect a HIGHER wall ratio than
    k-core's x2.2 (three E-sized materializations ride the rounds by
    design, not defect)."""
    import statistics

    from mapreduce_system_spark.operators.graph import k_truss_edges
    from mapreduce_system_spark.queries._graphshared import copurchase_pairs

    k, rounds = 8, 2
    dst = "/tmp/spark_graft_scale/ktruss_sf1"
    spark = get_spark("scale_probe_ktruss")
    li = load_table(spark, src, "lineitem", columns=["l_orderkey", "l_partkey"])
    _write_replicated(
        spark, li, ["l_orderkey", "l_partkey"], reps, f"{dst}/lineitem.parquet"
    )

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
        return wall, sum(hist.values()), hist

    run(src)  # untimed warm-up
    record: dict = {
        "mode": "ktruss", "reps": reps, "src": src, "k": k,
        "rounds": rounds, "scales": {},
    }
    hists: dict[str, dict] = {}
    for label, d in [("sf0.1", src), ("sf1", dst)]:
        walls, n_surv, hist = [], None, None
        for _ in range(3):
            w, n_surv, hist = run(d)
            walls.append(w)
        hists[label] = hist
        record["scales"][label] = {
            "surviving_edges": n_surv,
            "support_histogram": {str(kk): v for kk, v in sorted(hist.items())},
            "wall_s": round(statistics.median(walls), 2),
        }
        print(f"# {label}: edges={n_surv} "
              f"wall={record['scales'][label]['wall_s']}", file=sys.stderr)
    a, b = record["scales"]["sf0.1"], record["scales"]["sf1"]
    record["edges_exact_scale"] = b["surviving_edges"] == reps * a["surviving_edges"]
    record["histogram_exact_scale"] = hists["sf1"] == {
        kk: reps * v for kk, v in hists["sf0.1"].items()
    }
    record["wall_ratio"] = round(b["wall_s"] / a["wall_s"], 2) if a["wall_s"] else None
    print("| scale | surviving edges | wall s |")
    print("|---|---|---|")
    for label in ("sf0.1", "sf1"):
        sc = record["scales"][label]
        print(f"| {label} | {sc['surviving_edges']} | {sc['wall_s']} |")
    ratio = (b["surviving_edges"] / a["surviving_edges"]
             if a["surviving_edges"] else float("nan"))
    print(f"| ratio | {ratio:.2f} | **{record['wall_ratio']}** |")
    out = _record_out(out_name, "scale_probe_ktruss_latest.json")
    out.write_text(json.dumps(record, indent=1, sort_keys=True) + "\n")
    print(f"# wrote {out}", file=sys.stderr)
    shutil.rmtree("/tmp/spark_graft_scale", ignore_errors=True)
    return 0 if (record["edges_exact_scale"] and record["histogram_exact_scale"]) else 1


def sneighbor_main(reps: int, src: str, out_name: str | None = None) -> int:
    """Sorted-neighborhood blocking at 1x vs reps x (staged r16,
    operators/blocking.py): replica r PREFIXES the blocking key
    (``r{r}~key``), so each shard occupies a CONTIGUOUS block of the
    global sort order. Hard gates: (a) the same-shard pair census
    equals reps x the 1x census exactly, and the cross-shard residue
    is exactly the boundary arithmetic (reps-1) * w*(w-1)/2 — a
    position off by one anywhere breaks both; (b) candidate volume
    stays n*(w-1) - tail at every scale (the linear-volume claim).
    Wall is the free variable: one range exchange + one pid window +
    one partition-count collect + one banded integer self-join."""
    import statistics

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
        rdf = spark.range(rep).select(F.col("id").alias("r"))
        return base.crossJoin(F.broadcast(rdf)).select(
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
        return wall, c.get(True, 0), c.get(False, 0)

    run(1)  # untimed warm-up
    record: dict = {
        "mode": "sneighbor", "reps": reps, "src": src, "window": WIN,
        "scales": {},
    }
    for label, rep in [("1x", 1), (f"{reps}x", reps)]:
        walls, same, cross = [], 0, 0
        for _ in range(3):
            w, same, cross = run(rep)
            walls.append(w)
        record["scales"][label] = {
            "same_shard_pairs": same,
            "cross_shard_pairs": cross,
            "wall_s": round(statistics.median(walls), 2),
        }
        print(f"# {label}: same={same} cross={cross} "
              f"wall={record['scales'][label]['wall_s']}", file=sys.stderr)
    a, bb = record["scales"]["1x"], record["scales"][f"{reps}x"]
    record["pairs_exact_scale"] = (
        bb["same_shard_pairs"] == reps * a["same_shard_pairs"]
        and a["cross_shard_pairs"] == 0
        and bb["cross_shard_pairs"] == (reps - 1) * WIN * (WIN - 1) // 2
    )
    record["wall_ratio"] = (
        round(bb["wall_s"] / a["wall_s"], 2) if a["wall_s"] else None
    )
    print("| scale | same-shard pairs | cross | wall s |")
    print("|---|---|---|---|")
    for label in ("1x", f"{reps}x"):
        sc = record["scales"][label]
        print(f"| {label} | {sc['same_shard_pairs']} "
              f"| {sc['cross_shard_pairs']} | {sc['wall_s']} |")
    print(f"| ratio | | | **{record['wall_ratio']}** |")
    out = _record_out(out_name, "scale_probe_sneighbor_latest.json")
    out.write_text(json.dumps(record, indent=1, sort_keys=True) + "\n")
    print(f"# wrote {out}", file=sys.stderr)
    return 0 if record["pairs_exact_scale"] else 1


def knlm_main(reps: int, src: str, out_name: str | None = None) -> int:
    """Kneser-Ney bigram scoring at 1x vs reps x (staged r16,
    operators/lm.py): replica r salts every TOKEN (``r{r}x`` prefix —
    the dedup-probe construction), so each shard is a CLOSED vocabulary
    whose count tables are an isomorphic copy of shard 0's. Unlike the
    other probes' constructions, per-shard scores are NOT expected to
    match the 1x run — interpolated KN is CORPUS-GLOBAL through the
    continuation denominator N1+(*,*), so sharding dilutes every
    P_cont by exactly the shard count (the first draft of this probe
    gated multiset-equality and correctly FAILED — the failure is the
    measurement). The real invariants gated here: (a) docs scored =
    reps x, (b) SYMMETRY — the shards are isomorphic and the global
    denominator hits them equally, so every (n_transitions, rounded
    score) census count at reps x must be divisible by reps and the
    distinct-score count must equal the 1x run's, (c) DIRECTION — the
    transition-weighted mean surprisal must be strictly HIGHER at
    reps x (smaller P_cont -> smaller backoff term -> larger -ln P).
    Wall is the free variable (one tokenize pass + count-table joins).
    """
    import statistics

    from mapreduce_system_spark.functions import text as TXT
    from mapreduce_system_spark.operators.lm import kneser_ney_doc_scores

    spark = get_spark("scale_probe_knlm")
    docs = load_table(spark, src, "documents", columns=["doc_id", "text"])
    base = docs.where(
        F.col("doc_id").isNotNull() & F.col("text").isNotNull()
    )

    def keyed(rep: int):
        rdf = spark.range(rep).select(F.col("id").alias("r"))
        return base.crossJoin(F.broadcast(rdf)).select(
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
        return wall, census, float(mean_row["m"])

    run(1)  # untimed warm-up
    record: dict = {"mode": "knlm", "reps": reps, "src": src, "scales": {}}
    hists: dict[str, dict] = {}
    for label, rep in [("1x", 1), (f"{reps}x", reps)]:
        walls, census, mean = [], {}, 0.0
        for _ in range(3):
            w, census, mean = run(rep)
            walls.append(w)
        hists[label] = census
        record["scales"][label] = {
            "n_docs_scored": sum(census.values()),
            "n_distinct_scores": len(census),
            "mean_surprisal": round(mean, 6),
            "wall_s": round(statistics.median(walls), 2),
        }
        print(f"# {label}: docs={sum(census.values())} mean={mean:.6f} "
              f"wall={record['scales'][label]['wall_s']}", file=sys.stderr)
    a, bb = record["scales"]["1x"], record["scales"][f"{reps}x"]
    record["docs_exact_scale"] = (
        bb["n_docs_scored"] == reps * a["n_docs_scored"]
    )
    record["shard_symmetry"] = (
        all(v % reps == 0 for v in hists[f"{reps}x"].values())
        and bb["n_distinct_scores"] == a["n_distinct_scores"]
    )
    record["continuation_dilution_direction"] = (
        bb["mean_surprisal"] > a["mean_surprisal"]
    )
    record["wall_ratio"] = (
        round(bb["wall_s"] / a["wall_s"], 2) if a["wall_s"] else None
    )
    print("| scale | docs scored | distinct scores | mean surprisal | wall s |")
    print("|---|---|---|---|---|")
    for label in ("1x", f"{reps}x"):
        sc = record["scales"][label]
        print(f"| {label} | {sc['n_docs_scored']} "
              f"| {sc['n_distinct_scores']} | {sc['mean_surprisal']} "
              f"| {sc['wall_s']} |")
    print(f"| ratio | | | | **{record['wall_ratio']}** |")
    out = _record_out(out_name, "scale_probe_knlm_latest.json")
    out.write_text(json.dumps(record, indent=1, sort_keys=True) + "\n")
    print(f"# wrote {out}", file=sys.stderr)
    ok = (
        record["docs_exact_scale"]
        and record["shard_symmetry"]
        and record["continuation_dilution_direction"]
    )
    return 0 if ok else 1


def cms_main(reps: int, src: str, out_name: str | None = None) -> int:
    """Count-Min sketch at 1x vs reps x (staged r16,
    operators/cmsketch.py; run BEFORE any ``agg_cms_heavy_hitters``
    driver row per the bloom precedent, VERDICT r15 #4): replica r
    SALTS every token (``tok#r``) — the sketch hashes opaque strings,
    so salting grows N and the distinct-key population 10x without
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
    import statistics

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
        rdf = spark.range(rep).select(F.col("id").alias("r"))
        return toks.crossJoin(F.broadcast(rdf)).select(
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
        return build_wall, est_wall, n_cells, n_total, est

    run(1)  # untimed warm-up (JVM/codegen)
    record: dict = {
        "mode": "cms", "reps": reps, "src": src, "w": W, "d": D,
        "scales": {},
    }
    ok = True
    for label, rep in [("1x", 1), (f"{reps}x", reps)]:
        bw, ew, est = [], [], {}
        n_cells = n_total = 0
        for _ in range(3):
            b, e, n_cells, n_total, est = run(rep)
            bw.append(b)
            ew.append(e)
        one_sided = all(est[k] >= v for k, v in exact.items())
        present_nonzero = all(est[k] >= 1 for k in exact)
        absent = {k: est[k] for k in ("never-a#0", "never-b#0")}
        overcounts = [est[k] - v for k, v in exact.items()]
        ok = ok and one_sided and present_nonzero and n_cells <= D * W
        record["scales"][label] = {
            "n_occurrences": n_total,
            "sketch_cells": n_cells,
            "cell_cap_d_w": D * W,
            "within_cap": n_cells <= D * W,
            "one_sided": one_sided,
            "present_key_nonzero": present_nonzero,
            "absent_key_est": absent,
            "mean_overcount": round(statistics.mean(overcounts), 1),
            "expected_collisions_n_over_w": round(n_total / W, 1),
            "build_wall_s": round(statistics.median(bw), 2),
            "estimate_wall_s": round(statistics.median(ew), 2),
        }
        print(f"# {label}: N={n_total} cells={n_cells} "
              f"overcount~{record['scales'][label]['mean_overcount']} "
              f"build={record['scales'][label]['build_wall_s']} "
              f"est={record['scales'][label]['estimate_wall_s']}",
              file=sys.stderr)
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
    a, bb = record["scales"]["1x"], record["scales"][f"{reps}x"]
    record["build_wall_ratio"] = (
        round(bb["build_wall_s"] / a["build_wall_s"], 2)
        if a["build_wall_s"] else None
    )
    record["estimate_wall_ratio"] = (
        round(bb["estimate_wall_s"] / a["estimate_wall_s"], 2)
        if a["estimate_wall_s"] else None
    )
    print("| scale | N | cells | mean overcount | build s | estimate s |")
    print("|---|---|---|---|---|---|")
    for label in ("1x", f"{reps}x"):
        sc = record["scales"][label]
        print(f"| {label} | {sc['n_occurrences']} | {sc['sketch_cells']} "
              f"| {sc['mean_overcount']} | {sc['build_wall_s']} "
              f"| {sc['estimate_wall_s']} |")
    print(f"| ratio | | | | **{record['build_wall_ratio']}** "
          f"| **{record['estimate_wall_ratio']}** |")
    out = _record_out(out_name, "scale_probe_cms_latest.json")
    out.write_text(json.dumps(record, indent=1, sort_keys=True) + "\n")
    print(f"# wrote {out}", file=sys.stderr)
    return 0 if ok else 1


def wsample_main(reps: int, src: str, out_name: str | None = None) -> int:
    """Weighted sampling at 1x vs reps x (staged r16,
    operators/sampling.py): replica r SALTS the stable id (``id#r``) —
    the E-S key is a pure function of (id, weight), so salting grows
    the population 10x with an identical weight distribution. Hard
    gates: (a) repartition invariance at BOTH scales (the selected set
    is a pure function of the data — TakeOrdered's per-partition
    truncation must not leak partitioning into the answer), (b)
    weight-monotone stratum shares: the top weight quartile's sampled
    share exceeds the bottom quartile's at both scales (the law the
    weights exist for). Recorded free variables: wall (scan-bound
    TakeOrdered — k rows per partition cross the wire, expect ~linear
    in scan, NOT in shuffle), and the rank-k/k+1 boundary gap in
    unrounded score — the cross-engine ulp-safety evidence a
    registration must cite (the PMI precedent: gap >> f64 eps means
    no rank risk between ln implementations)."""
    import statistics

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
        rdf = spark.range(rep).select(F.col("id").alias("r"))
        return base.crossJoin(F.broadcast(rdf)).select(
            F.concat("base_id", F.lit("#"), F.col("r").cast("string")).alias(
                "sid"
            ),
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
        qs = pop.approxQuantile("wt", [0.25, 0.75], 0.001)
        lo, hi = qs[0], qs[1]
        n_lo = pop.where(F.col("wt") <= lo).count()
        n_hi = pop.where(F.col("wt") >= hi).count()
        s_lo = sum(1 for r in sample if r.weight <= lo)
        s_hi = sum(1 for r in sample if r.weight >= hi)
        share_lo = s_lo / n_lo if n_lo else 0.0
        share_hi = s_hi / n_hi if n_hi else 0.0
        return wall, invariant, gap, share_lo, share_hi

    run(1)  # untimed warm-up (JVM/codegen)
    record: dict = {
        "mode": "wsample", "reps": reps, "src": src, "k": K, "scales": {},
    }
    ok = True
    for label, rep in [("1x", 1), (f"{reps}x", reps)]:
        walls = []
        invariant = True
        gap = share_lo = share_hi = None
        for _ in range(3):
            w, inv, gap, share_lo, share_hi = run(rep)
            walls.append(w)
            invariant = invariant and inv
        monotone = share_hi > share_lo
        ok = ok and invariant and monotone and (gap is None or gap > 1e-12)
        record["scales"][label] = {
            "repartition_invariant": invariant,
            "boundary_gap_score": gap,
            "top_quartile_inclusion_share": round(share_hi, 8),
            "bottom_quartile_inclusion_share": round(share_lo, 8),
            "weight_monotone_shares": monotone,
            "wall_s": round(statistics.median(walls), 2),
        }
        print(f"# {label}: invariant={invariant} gap={gap} "
              f"share_hi={share_hi:.2e} share_lo={share_lo:.2e} "
              f"wall={record['scales'][label]['wall_s']}", file=sys.stderr)
    a, bb = record["scales"]["1x"], record["scales"][f"{reps}x"]
    record["wall_ratio"] = (
        round(bb["wall_s"] / a["wall_s"], 2) if a["wall_s"] else None
    )
    print("| scale | invariant | boundary gap | hi/lo share | wall s |")
    print("|---|---|---|---|---|")
    for label in ("1x", f"{reps}x"):
        sc = record["scales"][label]
        print(f"| {label} | {sc['repartition_invariant']} "
              f"| {sc['boundary_gap_score']} "
              f"| {sc['top_quartile_inclusion_share']}/"
              f"{sc['bottom_quartile_inclusion_share']} | {sc['wall_s']} |")
    print(f"| ratio | | | | **{record['wall_ratio']}** |")
    out = _record_out(out_name, "scale_probe_wsample_latest.json")
    out.write_text(json.dumps(record, indent=1, sort_keys=True) + "\n")
    print(f"# wrote {out}", file=sys.stderr)
    return 0 if ok else 1


def densest_main(reps: int, src: str, out_name: str | None = None) -> int:
    """Densest-subgraph peel at 1x vs reps x (staged r17,
    operators/densest.py — the ktruss probe's disjoint construction
    verbatim: replica r offsets l_orderkey AND l_partkey, so each
    shard's co-purchase graph is an isomorphic copy). Hard gates: the
    per-round census n_nodes and n_edges scale EXACTLY reps x (density
    is shard-local, so the round-r density must be IDENTICAL across
    scales up to the 1-ulp noise of dividing 10x-scaled integers —
    tolerance 2e-6 on the 6-dp rounded value). Wall is the free
    variable: per round one degree aggregate over the lazily
    re-filtered edges + one node-sized keep checkpoint + two
    semi-joins; nothing edge-sized materializes (the k-core shape, not
    the k-truss one — expect a k-core-like ratio)."""
    import statistics

    from mapreduce_system_spark.operators.densest import densest_subgraph_rounds
    from mapreduce_system_spark.queries._graphshared import copurchase_pairs

    EPS, ROUNDS = 0.5, 4
    dst = "/tmp/spark_graft_scale/densest_sf1"
    spark = get_spark("scale_probe_densest")
    li = load_table(spark, src, "lineitem", columns=["l_orderkey", "l_partkey"])
    _write_replicated(
        spark, li, ["l_orderkey", "l_partkey"], reps, f"{dst}/lineitem.parquet"
    )

    def run(d: str):
        pr = copurchase_pairs(spark, d)
        t0 = time.time()
        rows = sorted(
            (r["round"], r["n_nodes"], r["n_edges"], r["density"])
            for r in densest_subgraph_rounds(
                pr, epsilon=EPS, rounds=ROUNDS, src="u", dst="v",
                edges_undirected_distinct=True,
            ).collect()
        )
        wall = time.time() - t0
        caches.release()
        return wall, rows

    run(src)  # untimed warm-up
    record: dict = {
        "mode": "densest", "reps": reps, "src": src,
        "epsilon": EPS, "rounds": ROUNDS, "scales": {},
    }
    census: dict[str, list] = {}
    for label, d in [("sf0.1", src), ("sf1", dst)]:
        walls, rows = [], []
        for _ in range(3):
            w, rows = run(d)
            walls.append(w)
        census[label] = rows
        record["scales"][label] = {
            "census": [
                {"round": r, "n_nodes": n, "n_edges": m, "density": rho}
                for r, n, m, rho in rows
            ],
            "wall_s": round(statistics.median(walls), 2),
        }
        print(f"# {label}: census={rows} "
              f"wall={record['scales'][label]['wall_s']}", file=sys.stderr)
    a, bb = census["sf0.1"], census["sf1"]
    counts_exact = all(
        (br == ar and bn == reps * an and bm == reps * am)
        for (ar, an, am, _), (br, bn, bm, _) in zip(a, bb)
    )
    density_tracks = all(
        abs(brho - arho) <= 2e-6
        for (_, _, _, arho), (_, _, _, brho) in zip(a, bb)
    )
    record["counts_exact_scale"] = counts_exact
    record["density_shard_local"] = density_tracks
    sa = record["scales"]["sf0.1"]["wall_s"]
    sb = record["scales"]["sf1"]["wall_s"]
    record["wall_ratio"] = round(sb / sa, 2) if sa else None
    print("| scale | round0 nodes/edges | final density | wall s |")
    print("|---|---|---|---|")
    for label in ("sf0.1", "sf1"):
        c = census[label]
        print(f"| {label} | {c[0][1]}/{c[0][2]} | {c[-1][3]} "
              f"| {record['scales'][label]['wall_s']} |")
    print(f"| ratio | | | **{record['wall_ratio']}** |")
    out = _record_out(out_name, "scale_probe_densest_latest.json")
    out.write_text(json.dumps(record, indent=1, sort_keys=True) + "\n")
    print(f"# wrote {out}", file=sys.stderr)
    shutil.rmtree(dst, ignore_errors=True)
    return 0 if (counts_exact and density_tracks) else 1


def sessjoin_main(reps: int, src: str, out_name: str | None = None) -> int:
    """Session-window join at 1x vs reps x (staged r17,
    streaming/windows.py::session_join): replica r offsets user_id and
    event_id, so every shard's per-user merged click/purchase timeline
    is an exact clone and sessions never cross shards. Hard gates: the
    joined-pair count AND the distinct joined-session count scale
    EXACTLY reps x. Wall is the free variable: one exchange on the key
    covers both window passes over the tagged union, then one
    (key, session_id) equi-join — no theta join anywhere, so wall must
    track the event volume."""
    import statistics

    from mapreduce_system_spark.streaming.windows import session_join

    GAP = "30 minutes"
    spark = get_spark("scale_probe_sessjoin")
    ev = load_table(
        spark, src, "events", columns=["user_id", "ts", "event_type", "event_id"]
    )

    def shards(rep: int):
        rdf = spark.range(rep).select(F.col("id").alias("r"))
        return ev.crossJoin(F.broadcast(rdf)).select(
            (F.col("user_id") + F.col("r") * _OFFSET).alias("user_id"),
            "ts",
            "event_type",
            (F.col("event_id") + F.col("r") * _OFFSET).alias("event_id"),
        )

    def run(rep: int):
        e = shards(rep)
        clicks = e.where(F.col("event_type") == "click").drop("event_type")
        purchases = e.where(F.col("event_type") == "purchase").drop("event_type")
        t0 = time.time()
        pairs = session_join(clicks, purchases, "user_id", "ts", "ts", GAP)
        agg = pairs.agg(
            F.count("*").alias("n_pairs"),
            F.countDistinct("l_user_id", "session_id").alias("n_sessions"),
        ).collect()[0]
        wall = time.time() - t0
        caches.release()
        return wall, int(agg["n_pairs"]), int(agg["n_sessions"])

    run(1)  # untimed warm-up
    record: dict = {
        "mode": "sessjoin", "reps": reps, "src": src, "gap": GAP,
        "scales": {},
    }
    for label, rep in [("1x", 1), (f"{reps}x", reps)]:
        walls, n_pairs, n_sess = [], 0, 0
        for _ in range(3):
            w, n_pairs, n_sess = run(rep)
            walls.append(w)
        record["scales"][label] = {
            "joined_pairs": n_pairs,
            "joined_sessions": n_sess,
            "wall_s": round(statistics.median(walls), 2),
        }
        print(f"# {label}: pairs={n_pairs} sessions={n_sess} "
              f"wall={record['scales'][label]['wall_s']}", file=sys.stderr)
    a, bb = record["scales"]["1x"], record["scales"][f"{reps}x"]
    record["pairs_exact_scale"] = (
        bb["joined_pairs"] == reps * a["joined_pairs"]
        and bb["joined_sessions"] == reps * a["joined_sessions"]
    )
    record["wall_ratio"] = (
        round(bb["wall_s"] / a["wall_s"], 2) if a["wall_s"] else None
    )
    print("| scale | pairs | sessions | wall s |")
    print("|---|---|---|---|")
    for label in ("1x", f"{reps}x"):
        sc = record["scales"][label]
        print(f"| {label} | {sc['joined_pairs']} | {sc['joined_sessions']} "
              f"| {sc['wall_s']} |")
    print(f"| ratio | | | **{record['wall_ratio']}** |")
    out = _record_out(out_name, "scale_probe_sessjoin_latest.json")
    out.write_text(json.dumps(record, indent=1, sort_keys=True) + "\n")
    print(f"# wrote {out}", file=sys.stderr)
    return 0 if record["pairs_exact_scale"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
