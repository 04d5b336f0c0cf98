"""Densest-subgraph greedy peel (Charikar 2000; the synchronous
(1+eps)-round form of Bahmani, Kumar & Vassilvitskii, VLDB 2012) — the
graph-curation family's density EXTRACTOR next to its density FILTERS.

``k_core_peel`` keeps nodes above a FIXED degree k and ``k_truss_edges``
keeps edges above a fixed support — both need a caller-chosen threshold.
The densest-subgraph peel needs none: each round removes every node
whose degree is at most ``2 * (1 + eps) * rho`` where ``rho = |E|/|V|``
is the CURRENT round's density (average degree = 2*rho), and the
best-density prefix over all rounds is a 2(1+eps)-approximation of the
maximum-average-degree subgraph (Bahmani et al., Thm 1). That argmax
prefix is the "community core" a link-curation pipeline extracts when
it wants THE densest region rather than everything above a guessed
threshold — and the round count is O(log_{1+eps} n) by the same
theorem, which is what makes the synchronous form MapReduce/Spark-apt.

Staged r17 for an r18+ debut (``graph_densest_peel`` planned:
bounded-round census over the part co-purchase graph, best prefix
marked); tests/test_densest.py carries the pure-Python reference, the
DuckDB unrolled-CTE oracle draft, the planted-clique approximation law,
and the monotonicity law. Probe: ``tools/scale_probe.py --densest``
(disjoint id-offset shards: per-round census counts must scale exactly
x10 while densities stay bit-identical — density is shard-local).

Scale shape: the recurrence state is NODE-sized (the kept set), exactly
k_core_peel's discipline — per round one degree aggregate over the
lazily re-filtered edge relation, one one-row density aggregate riding
a broadcast, one node-sized eager checkpoint of the keep set, two
semi-joins to re-filter edges. Nothing edge-sized is ever materialized;
bounded ``rounds`` bounds both lineage depth and the O(rounds x E)
re-filter work. The census output is (rounds+1) one-row aggregates
unioned — bounded rows through any gate at any scale.

Reference contrast: worker.go:104-165 can compute one degree census
(word count over edge endpoints) but the peel threshold is an aggregate
OF that census joined back against it, per round — the same re-entrant
cascade class as k-core (coordinator.go:126-141's one-shot pipeline
cannot express it), plus a data-dependent threshold no fixed reducef
can know in advance.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mapreduce_system_spark.caches import checkpoint, tracked_cache
from mapreduce_system_spark.operators.graph import degree_census


def densest_subgraph_rounds(
    edges: DataFrame,
    epsilon: float = 0.5,
    rounds: int = 4,
    src: str = "src",
    dst: str = "dst",
    *,
    edges_undirected_distinct: bool = False,
) -> DataFrame:
    """(round, n_nodes, n_edges, density) census of the synchronous
    (1+eps) densest-subgraph peel, rounds 0..``rounds`` — row r
    describes the surviving graph AFTER r peels (round 0 = the input).
    ``density`` is |E|/|V| rounded to 6 places (0.0 once the graph is
    empty); the caller's best-prefix argmax over this bounded relation
    IS the 2(1+eps)-approximate densest subgraph's density. Input
    normalization is k_core_peel's (symmetric input accepted;
    value-ordered u < v distinct edges; self-loops and NULLs dropped;
    ``edges_undirected_distinct=True`` skips the normalize-distinct
    exchange under the copurchase_pairs contract)."""
    if epsilon < 0.0:
        raise ValueError(f"epsilon must be >= 0, got {epsilon}")
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).where(
        F.col(src).isNotNull() & F.col(dst).isNotNull() & (F.col(src) != F.col(dst))
    )
    pr = e.select(
        F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
    )
    if not edges_undirected_distinct:
        pr = pr.distinct()
    pr = tracked_cache(pr)

    # one literal for the threshold factor so the oracle can interpolate
    # the SAME double (no association drift between engines)
    thr = F.lit(2.0 * (1.0 + epsilon))

    def census_row(cur: DataFrame, r: int) -> DataFrame:
        deg = degree_census(cur)
        m = cur.agg(F.count("*").alias("n_edges"))
        n = deg.agg(F.count("*").alias("n_nodes"))
        return (
            n.crossJoin(m)
            .select(
                F.lit(r).cast("long").alias("round"),
                F.col("n_nodes").cast("long").alias("n_nodes"),
                F.col("n_edges").cast("long").alias("n_edges"),
                F.round(
                    F.coalesce(
                        F.col("n_edges")
                        / F.nullif(F.col("n_nodes"), F.lit(0)).cast("double"),
                        F.lit(0.0),
                    ),
                    6,
                ).alias("density"),
            )
        )

    cur = pr
    out = census_row(cur, 0)
    for r in range(1, rounds + 1):
        deg = degree_census(cur)
        rho = cur.agg(F.count("*").alias("m")).crossJoin(
            deg.agg(F.count("*").alias("n"))
        )
        # node-sized checkpoint (the k-core keep-set discipline): every
        # later round's lazy re-filter — and the final census union —
        # reads it, so it stays pinned until release()
        keep = checkpoint(
            deg.crossJoin(F.broadcast(rho))
            .where(
                F.col("d")
                > thr * (F.col("m") / F.nullif(F.col("n"), F.lit(0)))
            )
            .select(F.col("node"))
        )
        ku = keep.select(F.col("node").alias("u"))
        kv = keep.select(F.col("node").alias("v"))
        # AQE owns the join strategy: keep is checkpoint-materialized,
        # but the semi-joins run against the cached value-ordered edge
        # relation whose shuffle stages AQE can re-measure (no gated
        # hint needed — contrast k_core_peel's measured-size gate,
        # which exists for its hint-unconvertible topology)
        cur = cur.join(ku, "u", "left_semi").join(kv, "v", "left_semi")
        out = out.unionByName(census_row(cur, r))
    return out
