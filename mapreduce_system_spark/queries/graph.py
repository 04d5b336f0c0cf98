"""Graph queries: PageRank variants, peeling, components, triangles, BFS and
basket rules over the fixture's purchase and co-purchase graphs.

Shared constructions come first. The PageRank queries iterate on LONG node
ids (suppliers offset into their own id space by ``NODE_OFFSET``) because
fixed-width 8-byte shuffle keys beat variable-length strings on every
per-round exchange (~15% wall at sf0.1, and the margin grows with edge
count); only the final node-count-sized result maps to the oracles' string
labels. ``NODE_OFFSET``, the edge constructions and ``node_label`` are
defined once here: with two hand-copies, changing the offset or the label
scheme in one query but not the other would silently mislabel that query's
nodes against its oracle. ``copurchase_pairs`` is the one part co-purchase
edge list the triangle census, degree histogram, label propagation and
k-truss share.

- ``graph_pagerank`` ranks the undirected customer—supplier graph (an edge
  per distinct (o_custkey, l_suppkey) purchase relationship, fed to the
  operator as two directed edges so no node dangles) with 3 damped
  iterations. The oracle UNROLLS the recurrence into chained CTEs — r0 → r1
  → r2 → r3 — with expressions spelled identically to the Spark side
  (multiply-by-reciprocal contributions, 0.15/N teleport, doubles
  throughout), so the driver's value-hash check covers the whole iterative
  computation, not just a rows-only count (the same posture as k-means'
  exported-centroid oracle in ``queries/similarity.py``). See
  ``operators/graph.py`` for the scale discipline (per-round checkpoint +
  block release, O(1) driver state).
- ``graph_pagerank_dangling`` runs the DIRECTED customer→supplier purchase
  graph — suppliers have no out-edges, so every supplier is a dangling node
  and the leaky recurrence of ``graph_pagerank`` would lose ~all probability
  mass within a few rounds. The operator's ``redistribute`` mode adds the
  standard correction: each round the mass sitting on out-degree-0 nodes is
  shared uniformly, ``rank = base + d * (contrib + m/N)``, with the
  per-round dangling mass ``m`` computed as a one-row aggregate broadcast
  back into the update — no driver-side state. The oracle unrolls the
  corrected recurrence with one extra one-row CTE per round (``m0``, ``m1``,
  …) spelling the identical ``coalesce(sum(rank), 0.0)`` over the dangling
  node set and the identical ``m / n`` division — so the driver's value
  hash covers the dangling term itself, not just the converged shape.
- ``graph_pagerank_weighted`` — PageRank with edge strength = transaction
  volume (Σ l_quantity per relationship) instead of mere adjacency:
  contributions are ``rank · wt/Σ out-weight`` (operators/graph.py
  ``weight=`` mode). The oracle unrolls all 3 damped iterations with
  expressions spelled identically to the Spark side — deg = sum(wt), share
  = wt/outw, teleport 0.15/N. l_quantity is integer-valued, so every
  per-pair and per-node weight sum is EXACT in any summation order and the
  share doubles are bit-identical cross-engine; only the rank sums carry
  summation-order ulps, absorbed by the ppm rounding.
- ``graph_pagerank_personalized`` — random walk with restart on the
  DIRECTED purchase graph, seeded on the BUILDING market segment
  (operators/graph.py ``seeds=`` mode). Every supplier dangles, so the
  query exercises the SEEDED restart end-to-end: dangling mass returns to
  the seed set (``m·tp``), not uniformly. The oracle unrolls the seeded
  recurrence ``0.15·tp + 0.85·(contrib + m·tp)`` with tp = 1/|S∩nodes| on
  seeds else 0, r0 = tp, dang via NOT EXISTS (never NOT IN — a NULL custkey
  makes ``node NOT IN (...)`` never TRUE), spelled double-for-double against
  operators/graph.py's seeded branch.
- ``graph_label_propagation`` — synchronous community detection with the
  deterministic smallest-label tie-break over the part co-purchase graph
  (triangles describe its shape, LPA names its communities). Oracle: the
  unrolled per-round CTE (count per neighbor label → row_number argmax by
  count DESC, label ASC), exactly the algebra tests/test_lpa.py proves.
- ``graph_k_core`` — synchronous k-core peeling of the SUPPORT-thresholded
  part co-purchase graph (edges need >= 2 co-occurring orders; the raw
  graph's minimum degree ~42 makes any small-k peel the identity). Each
  round removes every node of current degree < k at once; the keep-set
  broadcast is gated on a MEASURED count (hint-free AQE does not convert
  these joins, so the gate, not removal, is the scale-safe form). Oracle:
  the unrolled per-round CTE from tests/test_kcore.py, verbatim.
- ``graph_k_truss`` — synchronous k-truss peeling of the RAW part
  co-purchase graph with DATA-CHOSEN constants: the support-2 graph is
  nearly triangle-free (3 surviving edges at sf0.1, k=4 empty everywhere),
  so a row over it would verify almost nothing. The raw graph is
  triangle-RICH (support histogram peaks at ~10 at sf0.01, ~4 at sf0.1),
  and k=8 / rounds=2 exercises a real cascade at BOTH gate and bench
  scales: sf0.01 peels 6.3% round 1 + 4.6% round 2 (103,522 of 115,729
  edges survive, final supports spanning 1..32); sf0.1 peels ~58% across
  the two rounds. Output is the bounded final-support CENSUS (support,
  n_edges, sum_u, sum_v) — ~32 rows that pin the surviving edge multiset in
  aggregate (any wrong edge moves its support bucket's count AND both
  endpoint sums) without shipping 100k edge rows through the gate's
  collect.
- ``graph_components_jump`` — pointer-jumping connected components over the
  customer ORDER-CHAIN graph: consecutive orders of a customer (by
  o_orderdate, o_orderkey) are linked, so each customer's order history is
  a PATH and the component census is the chain-length distribution. The
  raw co-purchase graph is ONE component at both gate scales (a census over
  a single 20k-node blob verifies almost nothing), while the order-chain
  graph is 1,498 components spanning sizes 2..25 at sf0.01; max chain 25
  nodes = diameter 24 at every fixture scale (sf0.001 max 18), so
  ``rounds=4`` (reach 2^5 - 2 = 30) is the minimal converging budget — and
  convergence is ASSERTED by the fixed-point pytest, not assumed. Node ids
  are SEQUENCE POSITIONS (o_custkey * 1024 + row_number - 1), not raw
  orderkeys: the alternating min+jump recurrence's reach bound holds for
  ids MONOTONE along the chain, but with randomly-placed ids the jump loses
  its doubling (an 18-node random-orderkey chain was still unconverged at
  rounds=7 — the min sits mid-chain and lab(lab) re-lands on it instead of
  leaping). Callers with arbitrary ids must size rounds toward the
  min-label diameter bound or canonicalize the same way (see
  connected_components_jump's docstring). Paths are also the operator's
  honest regime: the probe measured 10 rounds at depth 2000 vs 14 at 10x
  that depth (the O(log d) claim), where min-label CC (operators/dedup.py)
  would need the diameter outright.
- ``graph_triangle_count`` — triangle census + global transitivity of the
  part co-purchase graph (parts are adjacent when one order buys both). The
  canonical "joins can explode" stress: the naive wedge join is Θ(Σ d²);
  the degree-ordered orientation used here (count each triangle at its
  minimum-degree vertex) is the compact-forward algorithm that bounds wedge
  generation by the graph's arboricity — the difference between hours and
  minutes on a skewed 100 TB graph.
- ``graph_degree_distribution`` — log₂-binned degree histogram of the part
  co-purchase graph: the first thing to look at before any graph workload
  (it decides whether the triangle census's degree orientation or
  PageRank's skew posture matters). Exact integer bins; log2 of a positive
  BIGINT floors identically on both engines (IEEE log2 is exact at the only
  values where floor could flip — powers of two).
- ``graph_bfs_reachability`` — multi-source BFS hop distance over the
  customer–supplier co-transaction graph, verified against a DuckDB
  ``WITH RECURSIVE`` oracle.
- ``basket_association_rules`` — directed support/confidence/lift rules
  over part co-purchase baskets (operators/basket.py): every unordered part
  pair co-occurring in ≥ 2 orders emits both directions with metrics as
  SINGLE divisions of exact integer counts, so the doubles are
  bit-identical cross-engine with no rounding at all (pinned in
  tests/test_basket.py) — the co-occurrence analytics one join deeper than
  ``mr_posting_pairs``'s pair counts.

Scale posture: the PageRank variants and LPA touch the edge relation once
per round through a partial+final aggregate with the rank vector
AQE-broadcast, per-round localCheckpoint + block release (the teleport
column rides the node list the update join already pays for). Association
rules' only corpus-sized work is one distinct + one within-basket
self-join quadratic ONLY in basket size (TPC-H order-size-capped; an
unbounded corpus takes a basket-size cap, operators/basket.py); the
marginals broadcast is bounded by the ITEM dimension, not the corpus.

Reference contrast: the reference engine is one-shot map→reduce
(coordinator.go:126-141). It can count neighbor labels, degrees, pairs or
triangles once, but it cannot iterate a rank vector, feed labels back for
another round, re-enter a support census after each peel (removing an
edge or node changes its neighbors' supports), chain a BFS frontier, or
join two marginal relations back onto each pair (worker.go:104-165).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from mapreduce_system_spark.caches import tracked_cache
from mapreduce_system_spark.operators import graph as G
from mapreduce_system_spark.operators.basket import association_rules
from mapreduce_system_spark.operators.graph import (
    bfs_hops,
    connected_components_jump,
    k_core_peel,
    k_truss_edges,
    label_propagation,
    pagerank,
    triangle_stats,
)
from mapreduce_system_spark.registry import register
from mapreduce_system_spark.sources.tables import load_table

NODE_OFFSET = 1_000_000_000  # above any custkey at any fixture sf


def pagerank_iter_cte(prev: str, cur: str) -> str:
    """One unrolled damped-PageRank iteration as a DuckDB CTE — the ONE
    spelling both ``graph_pagerank`` and ``graph_pagerank_weighted``
    unroll (the weighting lives entirely in the ``ce.w`` definition
    upstream, so the recurrence text is shared verbatim; hand-copies
    would let a teleport or coalesce tweak verify different formulas per
    query). ``graph_pagerank_dangling`` adds the m/N redistribution term
    and keeps its own spelling. The formula mirrors operators/graph.py::pagerank
    double-for-double: 0.15/N teleport + 0.85·Σ rank·w."""
    return f"""{cur} AS (
  SELECT nodes.node,
         CAST(0.15 AS DOUBLE) / nn.n + CAST(0.85 AS DOUBLE) * coalesce(s.contrib, CAST(0.0 AS DOUBLE)) AS rank
  FROM nodes CROSS JOIN nn
  LEFT JOIN (
    SELECT ce.v AS node, sum({prev}.rank * ce.w) AS contrib
    FROM ce JOIN {prev} ON {prev}.node = ce.u
    GROUP BY 1
  ) s ON s.node = nodes.node
)"""


def purchase_edges(orders: DataFrame, li: DataFrame) -> DataFrame:
    """Distinct directed (src=custkey, dst=suppkey+offset) long-id edges
    of the customer→supplier purchase graph."""
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").cast("long").alias("src"),
            (F.col("l_suppkey").cast("long") + NODE_OFFSET).alias("dst"),
        )
        .distinct()
    )


def purchase_edges_weighted(orders: DataFrame, li: DataFrame) -> DataFrame:
    """(src=custkey, dst=suppkey+offset, wt=Σ l_quantity) long-id weighted
    edges of the customer→supplier purchase graph — ``purchase_edges``'s
    strength-carrying sibling (edge weight = transaction volume, what
    weighted PageRank ranks by, not mere adjacency).

    NULL keys and NULL quantities are filtered EXPLICITLY (and the oracle
    mirrors the predicate): a NULL key would otherwise ride the groupBy as
    its own node while never matching any join, and sum() skipping a NULL
    quantity inside an otherwise-NULL group would hand the operator a NULL
    weight, which it rejects by contract (operators/graph.py). l_quantity
    is integer-valued (TPC-H 1-50), so the per-pair double sums are EXACT
    in any summation order — the property that lets the unrolled oracle
    mirror wt/outw bit-for-bit."""
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .where(
            F.col("o_custkey").isNotNull()
            & F.col("l_suppkey").isNotNull()
            & F.col("l_quantity").isNotNull()
        )
        .groupBy(
            F.col("o_custkey").cast("long").alias("src"),
            (F.col("l_suppkey").cast("long") + NODE_OFFSET).alias("dst"),
        )
        .agg(F.sum(F.col("l_quantity").cast("double")).alias("wt"))
    )


def node_label(node: str = "node") -> Column:
    """'c<custkey>' / 's<suppkey>' string label of a long node id —
    the inverse of ``purchase_edges``'s encoding, spelled identically
    to the oracles' ``'c' || custkey`` / ``'s' || suppkey``."""
    c = F.col(node)
    return F.when(
        c >= NODE_OFFSET,
        F.concat(F.lit("s"), (c - NODE_OFFSET).cast("string")),
    ).otherwise(F.concat(F.lit("c"), c.cast("string")))


def copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct undirected (u < v) part co-purchase pairs — the ONE
    definition of the graph that ``graph_triangle_count``,
    ``graph_degree_distribution``, and the scale probe's census
    (tools/scale_probe.py) all analyze: a basket-cap or dedup tweak
    applied to one consumer but not the others would make the censuses
    silently describe different graphs. Pair generation is quadratic
    only in basket size (bounded by the order-size cap the fixture
    inherits from TPC-H); unbounded baskets would take a basket-size
    cap exactly like the dedup family's stop-shingle DF cap."""
    li = (
        load_table(spark, sf_dir, "lineitem", columns=["l_orderkey", "l_partkey"])
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    a, b = li.alias("a"), li.alias("b")
    return (
        a.join(b, (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p")))
        .select(F.col("a.p").alias("u"), F.col("b.p").alias("v"))
        .distinct()
    )


def copurchase_pairs_supported(
    spark: SparkSession, sf_dir: str, min_support: int = 2
) -> DataFrame:
    """Distinct undirected (u < v) part co-purchase pairs KEPT only when
    the pair co-occurs in ``min_support`` or more distinct orders — the
    support-thresholded sibling of ``copurchase_pairs``, defined here so
    the ``graph_k_core`` query and any probe census analyze the SAME
    graph (the drift class this module exists to prevent).

    Why a thresholded graph for k-core: the raw co-purchase graph is
    DENSE at fixture scale (minimum degree ~42 at sf0.01 — every node
    survives any small-k peel, so the core census would be the trivial
    identity). Support filtering is also the real-pipeline shape: an
    association graph keeps edges with evidence, and the k-core then
    prunes the weakly-connected residue. Same pair-generation cost as
    ``copurchase_pairs``; the HAVING rides the pair aggregate (one
    shuffle, same keys) instead of a distinct."""
    li = (
        load_table(spark, sf_dir, "lineitem", columns=["l_orderkey", "l_partkey"])
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    a, b = li.alias("a"), li.alias("b")
    return (
        a.join(b, (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p")))
        .groupBy(F.col("a.p").alias("u"), F.col("b.p").alias("v"))
        .agg(F.count("*").alias("support"))
        .where(F.col("support") >= min_support)
        .select("u", "v")
    )


# damped iterations every PageRank query runs (and its oracle unrolls)
_ITERATIONS = 3


# ---------------------------------------------------------------------------
# graph_k_truss — edge-level density filter (synchronous truss peeling)
# ---------------------------------------------------------------------------
_KTRUSS_K = 8
_KTRUSS_ROUNDS = 2


def _ktruss_support_ctes(prev: str, tag: str) -> str:
    """Triangle listing + member-edge support census of edge set
    ``prev`` — tests/test_ktruss.py's draft algebra: the simple a<b<c
    triangle form (support is orientation-independent, so the
    operator's degree-ordered enumeration counts the same set), one
    member-edge support aggregate. MATERIALIZED is load-bearing on the
    triangle CTE (and on every multi-referenced edge CTE below):
    DuckDB 1.0 INLINES CTEs at every reference site, so the nested
    3-round stack re-expands each round's triangle enumeration
    exponentially without it — the plain spelling did not finish at
    sf0.01 in 15 minutes; the materialized one runs in ~2 s (measured
    r16)."""
    return f"""t{tag} AS MATERIALIZED (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM {prev} e1
  JOIN {prev} e2 ON e2.u = e1.u AND e2.v > e1.v
  JOIN {prev} e3 ON e3.u = e1.v AND e3.v = e2.v
), s{tag} AS (
  SELECT u, v, CAST(count(*) AS BIGINT) AS cnt FROM (
    SELECT a AS u, b AS v FROM t{tag}
    UNION ALL SELECT a, c FROM t{tag}
    UNION ALL SELECT b, c FROM t{tag}
  ) GROUP BY u, v
)"""


def _ktruss_round_cte(prev: str, cur: str, r: int, k: int) -> str:
    """One unrolled synchronous truss round: the support census of
    ``prev`` then keep edges with support >= k-2."""
    return (
        _ktruss_support_ctes(prev, str(r))
        + f""", {cur} AS MATERIALIZED (
  SELECT e.u, e.v FROM {prev} e
  LEFT JOIN s{r} s ON s.u = e.u AND s.v = e.v
  WHERE coalesce(s.cnt, 0) >= {k - 2}
)"""
    )


_KTRUSS_SQL = (
    """
WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
e0 AS MATERIALIZED (
  SELECT DISTINCT a.p AS u, b.p AS v
  FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
),
"""
    + ",\n".join(
        _ktruss_round_cte(f"e{i}", f"e{i + 1}", i, _KTRUSS_K)
        for i in range(_KTRUSS_ROUNDS)
    )
    # one extra support pass over the FINAL edge set for the output
    # census (no further peel round — the census is the answer)
    + ",\n"
    + _ktruss_support_ctes(f"e{_KTRUSS_ROUNDS}", "f")
    + f"""
SELECT CAST(coalesce(s.cnt, 0) AS BIGINT) AS support,
       CAST(count(*) AS BIGINT) AS n_edges,
       CAST(sum(e.u) AS BIGINT) AS sum_u,
       CAST(sum(e.v) AS BIGINT) AS sum_v
FROM e{_KTRUSS_ROUNDS} e
LEFT JOIN sf s ON s.u = e.u AND s.v = e.v
GROUP BY 1 ORDER BY support
"""
)


@register("graph_k_truss", _KTRUSS_SQL)
def q_graph_k_truss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-round synchronous 8-truss of the RAW part co-purchase graph:
    each round removes EVERY edge whose current support (triangles it
    closes) is below 6, all at once; the output is the final-support
    census of the surviving edges — (support, n_edges, sum_u, sum_v)
    per support value. Where ``graph_k_core`` keeps well-connected
    NODES of the support-thresholded graph, the truss keeps EDGES
    embedded in triangle-dense neighborhoods of the raw graph — the
    stronger community-backbone filter (Cohen, 2008) a link-curation
    pipeline runs when co-occurrence alone is too easy to spam.

    Constants are DATA-CHOSEN (VERDICT r15 #2, measured in the r16
    exploration): on the raw graph k=8/rounds=2 peels 6.3% + 4.6%
    (cascade!) at sf0.01 with 103,522 survivors and final supports
    1..32, and ~58% cumulative at sf0.1 — non-vacuous at both scales,
    unlike the support-2 graph whose truss is 3 edges.

    Scale shape (operators/graph.py::k_truss_edges): per round ONE
    degree-ordered O(E·arboricity) triangle enumeration + ONE edge-keyed
    partial+final support aggregate; the per-round checkpoint is
    EDGE-sized because the recurrence state IS the surviving edge set
    (the honest floor, unlike k-core's node-sized state). Broadcast
    decisions stay AQE's — every join side is the cached/checkpointed
    edge relation or a degree table derived from it."""
    pr = copurchase_pairs(spark, sf_dir)
    out = k_truss_edges(
        pr, _KTRUSS_K, src="u", dst="v", rounds=_KTRUSS_ROUNDS,
        edges_undirected_distinct=True,
    )
    return (
        out.groupBy("support")
        .agg(
            F.count("*").alias("n_edges"),
            F.sum(F.col("u").cast("long")).alias("sum_u"),
            F.sum(F.col("v").cast("long")).alias("sum_v"),
        )
        .orderBy("support")
    )


_LPA_ITERATIONS = 3


def _lpa_iter_cte(prev: str, cur: str) -> str:
    """One unrolled synchronous-LPA round (tests/test_lpa.py's draft,
    verbatim): per-node neighbor-label counts, argmax by count DESC then
    label ASC — the deterministic tie-break that makes the recurrence a
    pure function of the edge set."""
    return f"""{cur} AS (
  SELECT node, lbl AS label FROM (
    SELECT s.v AS node, l.label AS lbl,
           row_number() OVER (
             PARTITION BY s.v ORDER BY count(*) DESC, l.label ASC
           ) AS rn
    FROM sym s JOIN {prev} l ON l.node = s.u
    GROUP BY s.v, l.label
  ) WHERE rn = 1
)"""


_LPA_SQL = (
    """
WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
pr AS (
  SELECT DISTINCT a.p AS u, b.p AS v
  FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
),
sym AS (SELECT u, v FROM pr UNION ALL SELECT v, u FROM pr),
l0 AS (SELECT DISTINCT u AS node, u AS label FROM sym),
"""
    + ",\n".join(
        _lpa_iter_cte(f"l{i}", f"l{i + 1}") for i in range(_LPA_ITERATIONS)
    )
    + f"""
SELECT node AS part, label AS community FROM l{_LPA_ITERATIONS}
ORDER BY part
"""
)


@register("graph_label_propagation", _LPA_SQL)
def q_graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-round synchronous label-propagation communities of the part
    co-purchase graph: every part starts as its own label and adopts its
    neighbors' majority label (smallest on ties) each round — the
    community census of the graph whose triangles
    ``graph_triangle_count`` counts. Unlike connected components (one
    label per connected REGION) dense neighborhoods keep distinct
    majority labels."""
    pr = copurchase_pairs(spark, sf_dir)
    # copurchase_pairs guarantees DISTINCT u<v pairs, no self-loops —
    # the flag skips the operator's symmetrize-distinct exchange (one
    # full-edge-list shuffle saved before the iteration cache)
    out = label_propagation(
        pr, src="u", dst="v", iterations=_LPA_ITERATIONS,
        edges_undirected_distinct=True,
    )
    return out.select(
        F.col("node").alias("part"), F.col("label").alias("community")
    ).orderBy("part")


# ---------------------------------------------------------------------------
# graph_triangle_count — degree-ordered triangle census (compact-forward)
# ---------------------------------------------------------------------------
_TRIANGLE_SQL = """
WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
pr AS (
  SELECT DISTINCT a.p AS u, b.p AS v
  FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
),
deg AS (
  SELECT node, CAST(count(*) AS BIGINT) AS d
  FROM (SELECT u AS node FROM pr UNION ALL SELECT v AS node FROM pr)
  GROUP BY node
),
eo AS (
  SELECT CASE WHEN (du.d, pr.u) < (dv.d, pr.v) THEN pr.u ELSE pr.v END AS s,
         CASE WHEN (du.d, pr.u) < (dv.d, pr.v) THEN pr.v ELSE pr.u END AS t
  FROM pr
  JOIN deg du ON du.node = pr.u
  JOIN deg dv ON dv.node = pr.v
),
w AS (
  SELECT e1.t AS a, e2.t AS b
  FROM eo e1 JOIN eo e2 ON e1.s = e2.s AND e1.t < e2.t
),
tri AS (
  SELECT CAST(count(*) AS BIGINT) AS n_triangles
  FROM w JOIN pr ON pr.u = w.a AND pr.v = w.b
),
-- coalesce: sum() over an EMPTY degree table is NULL, but the operator's
-- documented empty-graph contract is n_wedges = 0 / transitivity = 0.0
-- (tests/test_graph.py pins it; the r12 graph fuzz found the divergence)
wed AS (SELECT CAST(coalesce(sum(d * (d - 1) / 2), 0) AS BIGINT) AS n_wedges FROM deg)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
       (SELECT CAST(count(*) AS BIGINT) FROM pr) AS n_edges,
       tri.n_triangles AS n_triangles,
       wed.n_wedges AS n_wedges,
       CASE WHEN wed.n_wedges = 0 THEN 0.0
            ELSE round(3.0 * tri.n_triangles / wed.n_wedges, 6)
       END AS transitivity
FROM tri CROSS JOIN wed
"""


@register("graph_triangle_count", _TRIANGLE_SQL)
def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangles and transitivity (3·triangles / wedges) of the part
    co-purchase graph.

    The census itself is ``operators/graph.py::triangle_stats`` (the
    compact-forward orientation and its O(E · arboricity) wedge bound
    are documented there). Edge construction here: per-order pair
    generation is quadratic only in basket size (bounded by the
    order-size cap the fixture inherits from TPC-H); unbounded baskets
    would take a basket-size cap exactly like the dedup family's
    stop-shingle DF cap."""
    pr = copurchase_pairs(spark, sf_dir)
    return triangle_stats(pr)


# ---------------------------------------------------------------------------
# graph_degree_distribution — log2-binned degree histogram
# ---------------------------------------------------------------------------
_DEGREE_SQL = """
WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
pr AS (
  SELECT DISTINCT a.p AS u, b.p AS v
  FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
),
deg AS (
  SELECT node, CAST(count(*) AS BIGINT) AS d
  FROM (SELECT u AS node FROM pr UNION ALL SELECT v AS node FROM pr)
  GROUP BY node
)
SELECT CAST(floor(log2(d)) AS INT) AS degree_bin,
       CAST(count(*) AS BIGINT) AS n_nodes,
       CAST(min(d) AS BIGINT) AS min_degree,
       CAST(max(d) AS BIGINT) AS max_degree
FROM deg
GROUP BY 1
ORDER BY 1
"""


@register("graph_degree_distribution", _DEGREE_SQL)
def q_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log₂-binned degree histogram of the part co-purchase graph —
    the scale-free-or-not diagnostic run before committing to a graph
    algorithm's skew posture (a heavy tail is what makes the triangle
    census's degree orientation and PageRank's combiner matter).

    Edge construction is the triangle census's (distinct per-order
    pair join); degrees are one partial+final aggregate and the
    histogram a second over ~log₂(max degree) groups. Binning is
    exact: floor(log2(d)) can only flip at powers of two, where IEEE
    log2 is exact on both engines."""
    pr = copurchase_pairs(spark, sf_dir)
    # degree table via the operator's shared one-pass explode census
    # (r17): the inline unionAll-of-two-projections spelling planned the
    # whole copurchase construction once per branch — and a private
    # spelling here could drift from the census the graph operators
    # actually use (this module's anti-drift doctrine).
    deg = G.degree_census(pr)
    return (
        deg.groupBy(F.floor(F.log2("d")).cast("int").alias("degree_bin"))
        .agg(
            F.count("*").alias("n_nodes"),
            F.min("d").alias("min_degree"),
            F.max("d").alias("max_degree"),
        )
        .orderBy("degree_bin")
    )


def _iter_cte(prev: str, cur: str, m: str) -> str:
    """One unrolled dangling-corrected PageRank iteration (formula
    mirrors operators/graph.py's redistribute branch exactly)."""
    return f"""{m} AS (
  SELECT coalesce(sum({prev}.rank), CAST(0.0 AS DOUBLE)) AS m
  FROM {prev} JOIN dang USING (node)
),
{cur} AS (
  SELECT nodes.node,
         CAST(0.15 AS DOUBLE) / nn.n
           + CAST(0.85 AS DOUBLE) * (coalesce(s.contrib, CAST(0.0 AS DOUBLE)) + mm.m / nn.n) AS rank
  FROM nodes CROSS JOIN nn CROSS JOIN {m} mm
  LEFT JOIN (
    SELECT ce.v AS node, sum({prev}.rank * ce.w) AS contrib
    FROM ce JOIN {prev} ON {prev}.node = ce.u
    GROUP BY 1
  ) s ON s.node = nodes.node
)"""


_PAGERANK_DANGLING_SQL = (
    """
WITH e AS (
  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                  's' || CAST(l_suppkey AS VARCHAR) AS dst
  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
),
deg AS (SELECT src AS u, CAST(count(*) AS DOUBLE) AS outdeg FROM e GROUP BY 1),
ce AS (SELECT e.src AS u, e.dst AS v, CAST(1.0 AS DOUBLE) / deg.outdeg AS w
       FROM e JOIN deg ON deg.u = e.src),
nodes AS (SELECT DISTINCT node FROM (SELECT src AS node FROM e UNION ALL SELECT dst AS node FROM e)),
-- NOT EXISTS, not NOT IN: with a NULL o_custkey the deg subquery
-- contains a NULL u, and `node NOT IN (...NULL...)` is never TRUE —
-- DuckDB's dang set goes EMPTY and the whole redistribution silently
-- dies (found by the r11 adversarial gate). NOT EXISTS mirrors the
-- operator's left_anti exactly: the NULL-labeled node counts as
-- dangling (its out-edges can never deliver through an equi-join),
-- while the m CTE's equality join below excludes its rank from the
-- redistributed mass — also exactly the operator's left_semi.
dang AS (SELECT node FROM nodes n0
         WHERE NOT EXISTS (SELECT 1 FROM deg WHERE deg.u = n0.node)),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
r0 AS (SELECT node, CAST(1.0 AS DOUBLE) / nn.n AS rank FROM nodes CROSS JOIN nn),
"""
    + ",\n".join(_iter_cte(f"r{i}", f"r{i + 1}", f"m{i}") for i in range(_ITERATIONS))
    + f"""
SELECT node, round(rank * 1000000, 4) AS rank_ppm
FROM r{_ITERATIONS}
ORDER BY node
"""
)


@register("graph_pagerank_dangling", _PAGERANK_DANGLING_SQL)
def q_graph_pagerank_dangling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-iteration PageRank of the DIRECTED customer→supplier graph with
    dangling-mass redistribution, in ppm. Every supplier dangles (no
    out-edges), so this exercises the correction term end-to-end:
    without it the reported mass would collapse toward the teleport
    floor; with it the ppm column sums to ~1,000,000."""
    orders = load_table(spark, sf_dir, "orders", columns=["o_orderkey", "o_custkey"])
    li = load_table(spark, sf_dir, "lineitem", columns=["l_orderkey", "l_suppkey"])
    # Long node ids via the shared codec (purchase_edges/node_label) —
    # only the final result maps to string labels.
    e = tracked_cache(purchase_edges(orders, li))
    ranks = pagerank(e, iterations=_ITERATIONS, damping=0.85, dangling="redistribute")
    return ranks.select(
        node_label().alias("node"), F.round(F.col("rank") * 1000000, 4).alias("rank_ppm")
    ).orderBy("node")


_PAGERANK_SQL = (
    """
WITH e AS (
  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                  's' || CAST(l_suppkey AS VARCHAR) AS dst
  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
),
ud AS (SELECT src AS u, dst AS v FROM e UNION ALL SELECT dst AS u, src AS v FROM e),
deg AS (SELECT u, CAST(count(*) AS DOUBLE) AS outdeg FROM ud GROUP BY 1),
ce AS (SELECT ud.u, ud.v, CAST(1.0 AS DOUBLE) / deg.outdeg AS w
       FROM ud JOIN deg ON deg.u = ud.u),
nodes AS (SELECT DISTINCT u AS node FROM ud),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
r0 AS (SELECT node, CAST(1.0 AS DOUBLE) / nn.n AS rank FROM nodes CROSS JOIN nn),
"""
    + ",\n".join(pagerank_iter_cte(f"r{i}", f"r{i + 1}") for i in range(_ITERATIONS))
    + f"""
SELECT node, round(rank * 1000000, 4) AS rank_ppm
FROM r{_ITERATIONS}
ORDER BY node
"""
)


@register("graph_pagerank", _PAGERANK_SQL)
def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-iteration PageRank of the undirected customer—supplier purchase
    graph, reported in ppm. High-rank nodes are the suppliers whose
    customer fan-in is largest — the link-analysis workload the original
    MapReduce paper motivated but the reference cannot iterate."""
    orders = load_table(spark, sf_dir, "orders", columns=["o_orderkey", "o_custkey"])
    li = load_table(spark, sf_dir, "lineitem", columns=["l_orderkey", "l_suppkey"])
    # Long-id iteration + final string labels: the shared codec at the
    # top of this module (one definition for every PageRank query).
    # The pair set is cached because the union references it twice and
    # the operator derives outdegrees, contribution edges, AND the node
    # set from it — uncached, the fact-fact join + distinct subtree
    # re-runs ~4x.
    e = tracked_cache(purchase_edges(orders, li))
    ud = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    ranks = pagerank(ud, iterations=_ITERATIONS, damping=0.85)
    return ranks.select(
        node_label().alias("node"), F.round(F.col("rank") * 1000000, 4).alias("rank_ppm")
    ).orderBy("node")


# ---------------------------------------------------------------------------
# graph_k_core — link-graph density filter (synchronous peeling)
# ---------------------------------------------------------------------------
_KCORE_K = 3
_KCORE_ROUNDS = 3
_KCORE_SUPPORT = 2


def _kcore_round_cte(prev: str, cur: str, k: int) -> str:
    """One unrolled synchronous peel round (tests/test_kcore.py's draft,
    verbatim): keep the edges whose BOTH endpoints currently have degree
    >= k — a node is present iff it has an incident edge, so a kept node
    whose last neighbor peels exits with the edge list."""
    return f"""{cur} AS (
  SELECT e.u, e.v FROM {prev} e
  JOIN (SELECT u FROM {prev} GROUP BY u HAVING count(*) >= {k}) ku ON e.u = ku.u
  JOIN (SELECT u FROM {prev} GROUP BY u HAVING count(*) >= {k}) kv ON e.v = kv.u
)"""


_KCORE_SQL = (
    f"""
WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
pr AS (
  SELECT a.p AS u, b.p AS v
  FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
  GROUP BY 1, 2 HAVING count(*) >= {_KCORE_SUPPORT}
),
e0 AS (SELECT u, v FROM pr UNION ALL SELECT v, u FROM pr),
"""
    + ",\n".join(
        _kcore_round_cte(f"e{i}", f"e{i + 1}", _KCORE_K)
        for i in range(_KCORE_ROUNDS)
    )
    + f"""
SELECT u AS part, CAST(count(*) AS BIGINT) AS degree
FROM e{_KCORE_ROUNDS} GROUP BY u ORDER BY part
"""
)


@register("graph_k_core", _KCORE_SQL)
def q_graph_k_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-round synchronous 3-core of the support-2 part co-purchase
    graph: each round removes EVERY part whose current degree is < 3 at
    once, with the edges touching it; survivors report their end-of-peel
    degrees. The density filter a link-graph curation pipeline runs
    before trusting any neighborhood feature (spam farms and orphan
    tails peel away; the core is what survives) — at sf0.01 roughly a
    third of the thresholded graph's nodes peel in the cascade.

    Scale shape (operators/graph.py::k_core_peel, probe
    ``scale_probe --kcore``): per round ONE degree aggregate + two
    semi-joins against a node-sized eagerly-checkpointed keep set; the
    edge relation stays lazy (the first cut that materialized it ran
    wall x10.3 at x10 edges and was restructured before this debut).
    The broadcast hint is gated on the keep set's measured count —
    never unconditional (VERDICT r14 #2 / ADVICE r14 #1)."""
    pr = copurchase_pairs_supported(spark, sf_dir, _KCORE_SUPPORT)
    # u<v distinct pairs by construction — skip the operator's
    # symmetrize-distinct exchange (the LPA flag discipline)
    out = k_core_peel(
        pr, _KCORE_K, src="u", dst="v", rounds=_KCORE_ROUNDS,
        edges_undirected_distinct=True,
    )
    return out.select(
        F.col("node").alias("part"), "degree"
    ).orderBy("part")


# ---------------------------------------------------------------------------
# graph_bfs_reachability — multi-source BFS vs a recursive-CTE oracle
# ---------------------------------------------------------------------------
_BFS_MAX_HOPS = 4
_BFS_SEED_NATION = "NATION_0"

# Node encoding disambiguates the two key spaces: customer c ↦ 2c,
# supplier s ↦ 2s+1. An edge links a customer to every supplier whose
# part appears in one of the customer's orders.
_BFS_SQL = f"""
WITH RECURSIVE
e0 AS (
  SELECT DISTINCT o.o_custkey * 2 AS u, l.l_suppkey * 2 + 1 AS v
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
),
e AS (SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0),
seeds AS (
  SELECT s.s_suppkey * 2 + 1 AS node
  FROM supplier s JOIN nation n ON n.n_nationkey = s.s_nationkey
  WHERE n.n_name = '{_BFS_SEED_NATION}'
),
bfs AS (
  SELECT node, 0 AS hop FROM seeds
  UNION
  SELECT e.v AS node, b.hop + 1 AS hop
  FROM bfs b JOIN e ON e.u = b.node
  WHERE b.hop < {_BFS_MAX_HOPS}
),
dist AS (SELECT node, min(hop) AS hop FROM bfs GROUP BY node),
nodes AS (SELECT DISTINCT u AS node FROM e)
SELECT CAST(coalesce(d.hop, -1) AS INT) AS hop,
       CAST(count(*) AS BIGINT) AS n_nodes
FROM nodes LEFT JOIN dist d ON d.node = nodes.node
GROUP BY 1
ORDER BY 1
"""


@register("graph_bfs_reachability", _BFS_SQL)
def q_bfs_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How many graph nodes sit at each hop distance from the suppliers
    of one nation, over the undirected customer–supplier
    co-transaction graph (hop −1 = unreachable within the cap).

    Spark runs the frontier recurrence (``operators/graph.py::
    bfs_hops`` — per-round one equi-join + one left-anti, checkpointed
    frontiers); DuckDB runs a genuine ``WITH RECURSIVE`` — two
    entirely different iteration mechanisms agreeing on the exact
    integer hop census. Edge construction is one distinct equi-join of
    the two fact tables; the seed set is a broadcast-sized dimension
    filter."""
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
    e = e0.union(e0.select(F.col("v").alias("u"), F.col("u").alias("v")))
    supp = load_table(spark, sf_dir, "supplier", columns=["s_suppkey", "s_nationkey"])
    nat = load_table(spark, sf_dir, "nation", columns=["n_nationkey", "n_name"])
    seeds = (
        supp.join(
            F.broadcast(nat.where(F.col("n_name") == _BFS_SEED_NATION)),
            supp["s_nationkey"] == nat["n_nationkey"],
        )
        .select((F.col("s_suppkey") * 2 + 1).alias("node"))
    )
    dist = bfs_hops(e, seeds, max_hops=_BFS_MAX_HOPS)
    nodes = e0.select(F.col("u").alias("node")).union(
        e0.select(F.col("v").alias("node"))
    ).distinct()
    return (
        nodes.join(dist, "node", "left")
        .select(F.coalesce(F.col("hop"), F.lit(-1)).cast("int").alias("hop"))
        .groupBy("hop")
        .agg(F.count("*").alias("n_nodes"))
        .orderBy("hop")
    )


_SEED_SEGMENT = "BUILDING"
_MIN_PAIR_COUNT = 2


def _seeded_iter_cte(prev: str, cur: str, m: str) -> str:
    """One unrolled seeded-restart PageRank iteration (formula mirrors
    operators/graph.py's seeds+redistribute branch exactly: the dangling
    mass multiplies the PER-NODE teleport, not 1/N)."""
    return f"""{m} AS (
  SELECT coalesce(sum({prev}.rank), CAST(0.0 AS DOUBLE)) AS m
  FROM {prev} JOIN dang USING (node)
),
{cur} AS (
  SELECT tp.node,
         CAST(0.15 AS DOUBLE) * tp.tp
           + CAST(0.85 AS DOUBLE) * (coalesce(s.contrib, CAST(0.0 AS DOUBLE)) + mm.m * tp.tp) AS rank
  FROM tp CROSS JOIN {m} mm
  LEFT JOIN (
    SELECT ce.v AS node, sum({prev}.rank * ce.w) AS contrib
    FROM ce JOIN {prev} ON {prev}.node = ce.u
    GROUP BY 1
  ) s ON s.node = tp.node
)"""


_PAGERANK_PERSONALIZED_SQL = (
    f"""
WITH e AS (
  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                  's' || CAST(l_suppkey AS VARCHAR) AS dst
  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
),
deg AS (SELECT src AS u, CAST(count(*) AS DOUBLE) AS outdeg FROM e GROUP BY 1),
ce AS (SELECT e.src AS u, e.dst AS v, CAST(1.0 AS DOUBLE) / deg.outdeg AS w
       FROM e JOIN deg ON deg.u = e.src),
nodes AS (SELECT DISTINCT node FROM (SELECT src AS node FROM e UNION ALL SELECT dst AS node FROM e)),
-- NOT EXISTS, not NOT IN: a NULL o_custkey puts a NULL u in deg and
-- `node NOT IN (...NULL...)` is never TRUE (queries/fresh8a.py)
dang AS (SELECT node FROM nodes n0
         WHERE NOT EXISTS (SELECT 1 FROM deg WHERE deg.u = n0.node)),
-- effective seeds = segment customers ∩ graph nodes, mirroring the
-- operator's left_semi (a seed without purchases carries no walk)
sset AS (SELECT DISTINCT 'c' || CAST(c_custkey AS VARCHAR) AS node
         FROM customer WHERE c_mktsegment = '{_SEED_SEGMENT}'),
eff AS (SELECT s.node FROM sset s JOIN nodes USING (node)),
nsn AS (SELECT CAST(count(*) AS DOUBLE) AS ns FROM eff),
tp AS (SELECT n.node, coalesce(s.t, CAST(0.0 AS DOUBLE)) AS tp
       FROM nodes n
       LEFT JOIN (SELECT node, 1.0 / nsn.ns AS t FROM eff CROSS JOIN nsn) s
         USING (node)),
r0 AS (SELECT node, tp AS rank FROM tp),
"""
    + ",\n".join(
        _seeded_iter_cte(f"r{i}", f"r{i + 1}", f"m{i}") for i in range(_ITERATIONS)
    )
    + f"""
SELECT node, round(rank * 1000000, 4) AS rank_ppm
FROM r{_ITERATIONS}
ORDER BY node
"""
)


@register("graph_pagerank_personalized", _PAGERANK_PERSONALIZED_SQL)
def q_graph_pagerank_personalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-iteration personalized PageRank (random walk with restart) of
    the directed customer→supplier graph, seeded on the BUILDING
    segment, in ppm: suppliers rank by their reachability FROM the
    cohort, non-seed customers hold exactly 0 (no in-edges, no
    teleport), and every supplier's dangling mass restarts at the seeds."""
    orders = load_table(spark, sf_dir, "orders", columns=["o_orderkey", "o_custkey"])
    li = load_table(spark, sf_dir, "lineitem", columns=["l_orderkey", "l_suppkey"])
    cust = load_table(spark, sf_dir, "customer", columns=["c_custkey", "c_mktsegment"])
    seeds = cust.where(F.col("c_mktsegment") == _SEED_SEGMENT).select(
        F.col("c_custkey").cast("long").alias("node")
    )
    # cached for the same reason as graph_pagerank_dangling's edge set:
    # the operator derives outdegrees, contribution edges, the node set,
    # AND the seed semi-join from it — uncached, the fact-fact join +
    # distinct subtree re-runs ~5x
    e = tracked_cache(purchase_edges(orders, li))
    ranks = pagerank(
        e, iterations=_ITERATIONS, damping=0.85, dangling="redistribute", seeds=seeds
    )
    return ranks.select(
        node_label().alias("node"),
        F.round(F.col("rank") * 1000000, 4).alias("rank_ppm"),
    ).orderBy("node")


# ---------------------------------------------------------------------------
# basket_association_rules — support / confidence / lift over co-purchases
# ---------------------------------------------------------------------------

# The oracle spells operators/basket.py's algebra relation-for-relation:
# distinct membership, within-basket self-join (u < v), both directions,
# metrics as single divisions of exact BIGINT counts — bit-identical
# doubles cross-engine, no rounding (tests/test_basket.py pins this).
_ASSOCIATION_RULES_SQL = f"""
WITH b AS (
  SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
  FROM lineitem
  WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
),
nb AS (SELECT CAST(count(DISTINCT bk) AS BIGINT) AS n_baskets FROM b),
ic AS (SELECT it AS item, CAST(count(*) AS BIGINT) AS item_count FROM b GROUP BY 1),
pairs AS (
  SELECT a.it AS u, c.it AS v, CAST(count(*) AS BIGINT) AS pair_count
  FROM b a JOIN b c ON a.bk = c.bk AND a.it < c.it
  GROUP BY 1, 2
  HAVING count(*) >= {_MIN_PAIR_COUNT}
),
directed AS (
  SELECT u AS antecedent, v AS consequent, pair_count FROM pairs
  UNION ALL
  SELECT v AS antecedent, u AS consequent, pair_count FROM pairs
)
SELECT d.antecedent, d.consequent, d.pair_count,
       ia.item_count AS ante_count, ic2.item_count AS cons_count,
       nb.n_baskets,
       CAST(d.pair_count AS DOUBLE) / CAST(nb.n_baskets AS DOUBLE) AS support,
       CAST(d.pair_count AS DOUBLE) / CAST(ia.item_count AS DOUBLE) AS confidence,
       (CAST(d.pair_count AS DOUBLE) * CAST(nb.n_baskets AS DOUBLE))
         / (CAST(ia.item_count AS DOUBLE) * CAST(ic2.item_count AS DOUBLE)) AS lift
FROM directed d
JOIN ic ia ON ia.item = d.antecedent
JOIN ic ic2 ON ic2.item = d.consequent
CROSS JOIN nb
ORDER BY antecedent, consequent
"""


@register("basket_association_rules", _ASSOCIATION_RULES_SQL)
def q_basket_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed association rules over part co-purchase baskets (basket =
    order): for every part pair co-occurring in ≥ 2 orders, both
    directions with support, confidence, and lift — the rule-mining tail
    of the co-purchase family (``graph_triangle_count`` censuses the same
    graph's shape; this query quantifies each edge's association
    strength)."""
    li = load_table(spark, sf_dir, "lineitem", columns=["l_orderkey", "l_partkey"])
    rules = association_rules(
        li, basket_col="l_orderkey", item_col="l_partkey",
        min_pair_count=_MIN_PAIR_COUNT,
    )
    return rules.orderBy("antecedent", "consequent")


_PAGERANK_WEIGHTED_SQL = (
    """
WITH e AS (
  SELECT 'c' || CAST(o_custkey AS VARCHAR) AS src,
         's' || CAST(l_suppkey AS VARCHAR) AS dst,
         sum(CAST(l_quantity AS DOUBLE)) AS wt
  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
  WHERE o_custkey IS NOT NULL AND l_suppkey IS NOT NULL
    AND l_quantity IS NOT NULL
  GROUP BY 1, 2
),
ud AS (SELECT src AS u, dst AS v, wt FROM e
       UNION ALL SELECT dst AS u, src AS v, wt FROM e),
deg AS (SELECT u, sum(wt) AS outw FROM ud GROUP BY 1),
ce AS (SELECT ud.u, ud.v, ud.wt / deg.outw AS w
       FROM ud JOIN deg ON deg.u = ud.u),
nodes AS (SELECT DISTINCT u AS node
          FROM (SELECT u FROM ud UNION ALL SELECT v AS u FROM ud)),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
r0 AS (SELECT node, CAST(1.0 AS DOUBLE) / nn.n AS rank FROM nodes CROSS JOIN nn),
"""
    + ",\n".join(pagerank_iter_cte(f"r{i}", f"r{i + 1}") for i in range(_ITERATIONS))
    + f"""
SELECT node, round(rank * 1000000, 4) AS rank_ppm
FROM r{_ITERATIONS}
ORDER BY node
"""
)


@register("graph_pagerank_weighted", _PAGERANK_WEIGHTED_SQL)
def q_graph_pagerank_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-iteration volume-weighted PageRank of the undirected
    customer—supplier purchase graph, in ppm: a supplier moving many
    units to few customers now outranks one moving few units to many —
    the strength-aware ranking ``graph_pagerank``'s adjacency-only form
    cannot express."""
    orders = load_table(spark, sf_dir, "orders", columns=["o_orderkey", "o_custkey"])
    li = load_table(
        spark, sf_dir, "lineitem", columns=["l_orderkey", "l_suppkey", "l_quantity"]
    )
    # cached for the same reason as graph_pagerank's pair set: the union
    # references it twice and the operator derives out-weights, shares,
    # the node set, AND the weight-validity scalar from the union —
    # uncached, the fact-fact aggregate subtree re-runs ~5x
    e = tracked_cache(purchase_edges_weighted(orders, li))
    ud = e.union(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "wt")
    )
    ranks = pagerank(ud, weight="wt", iterations=_ITERATIONS, damping=0.85)
    return ranks.select(
        node_label().alias("node"),
        F.round(F.col("rank") * 1000000, 4).alias("rank_ppm"),
    ).orderBy("node")


# ---------------------------------------------------------------------------
# graph_components_jump — order-chain census via pointer-jumping CC
# ---------------------------------------------------------------------------
_CC_ROUNDS = 4  # reach 2^(r+1)-2 = 30 >= the fixture-wide max diameter 24


def _ccjump_round_cte(prev: str, cur: str, r: int) -> str:
    """One unrolled alternating round (tests/test_ccjump.py's draft
    verbatim): neighbor-min incl. self, then pointer jump. MATERIALIZED
    is load-bearing — DuckDB inlines CTEs per reference site, and m{r}
    / l{r} are each referenced twice, so the plain spelling re-expands
    4^rounds (the lesson of _ktruss_support_ctes)."""
    return f"""m{r} AS MATERIALIZED (
  SELECT id, min(lab) AS lab FROM (
    SELECT id, lab FROM {prev}
    UNION ALL
    SELECT e.src AS id, l.lab FROM e0 e JOIN {prev} l ON l.id = e.dst
  ) GROUP BY id
), {cur} AS MATERIALIZED (
  SELECT a.id, b.lab FROM m{r} a JOIN m{r} b ON b.id = a.lab
)"""


_CC_SQL = (
    """
WITH rn_t AS (
  SELECT o_custkey, row_number() OVER (
           PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ) AS rn
  FROM orders
),
ordered AS (
  -- id stride GUARD: position-canonical ids collide across customers if
  -- any customer has > 1024 orders; fail loudly instead of silently
  -- merging chains (same guard as the Spark side's assert_true)
  SELECT o_custkey * 1024 + rn - 1
         + CASE WHEN rn > 1024
                THEN error('orders-per-customer exceeds the 1024 id stride')
                ELSE 0 END AS id
  FROM rn_t
),
pr AS (
  SELECT id - 1 AS u, id AS v
  FROM ordered WHERE id % 1024 <> 0
),
e0 AS MATERIALIZED (SELECT u AS src, v AS dst FROM pr
                    UNION ALL SELECT v, u FROM pr),
l0 AS MATERIALIZED (SELECT DISTINCT src AS id, src AS lab FROM e0),
"""
    + ",\n".join(
        _ccjump_round_cte(f"l{r}", f"l{r + 1}", r) for r in range(_CC_ROUNDS)
    )
    + f""",
comp AS (
  SELECT lab, count(*) AS sz, sum(id) AS id_sum
  FROM l{_CC_ROUNDS} GROUP BY lab
)
SELECT sz,
       CAST(count(*) AS BIGINT) AS n_chains,
       CAST(sum(lab) AS BIGINT) AS sum_min_id,
       CAST(sum(id_sum) AS BIGINT) AS sum_member_ids
FROM comp
GROUP BY sz
ORDER BY sz
"""
)


@register("graph_components_jump", _CC_SQL)
def q_graph_components_jump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chain-length census of the customer order-chain graph, labeled
    by pointer-jumping CC (operators/graph.py::connected_components_jump,
    rounds=4 — converging by data, see the module docstring; node ids
    are position-canonical, monotone along each chain — the layout the
    reach bound is valid for). Output is the bounded census (one row
    per chain size, ~25 rows): n_chains pins the partition cardinality,
    sum_min_id pins WHICH customer anchors each component (the min id
    is o_custkey * 1024 by construction — any relink moves it),
    sum_member_ids pins the full membership multiset in aggregate —
    without shipping 15k node rows through the gate. Single-order
    customers have no edge and are absent by construction (a path needs
    two endpoints)."""
    orders = load_table(
        spark, sf_dir, "orders", columns=["o_orderkey", "o_custkey", "o_orderdate"]
    )
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    rn = F.row_number().over(w)
    # id stride GUARD: the position-canonical id o_custkey*1024 + rn - 1
    # silently collides across customers (merging adjacent customers'
    # chains AND breaking the id % 1024 first-order filter) if any
    # customer ever has > 1024 orders. assert_true rides the same
    # projection — no extra action, evaluated at any scale — and fails
    # the job loudly instead; the oracle carries the error() twin.
    guard = F.coalesce(
        F.assert_true(
            rn <= F.lit(1024),
            F.lit("orders-per-customer exceeds the 1024 id stride"),
        ).cast("long"),
        F.lit(0),
    )
    chain = (
        orders.select(
            (F.col("o_custkey") * 1024 + rn - 1 + guard).alias("id")
        )
        .where(F.col("id") % 1024 != 0)
        .select((F.col("id") - 1).alias("id_a"), F.col("id").alias("id_b"))
    )
    lab = connected_components_jump(chain, rounds=_CC_ROUNDS)
    comp = lab.groupBy("lab").agg(
        F.count("*").alias("sz"), F.sum("id").alias("id_sum")
    )
    return (
        comp.groupBy("sz")
        .agg(
            F.count("*").alias("n_chains"),
            F.sum("lab").alias("sum_min_id"),
            F.sum("id_sum").alias("sum_member_ids"),
        )
        .orderBy("sz")
    )
