"""PageRank — the second iterative-algorithm surface (next to k-means).

The reference's one-shot map→reduce pipeline (coordinator.go:126-141)
cannot express iteration at all; the original MapReduce paper's own
flagship follow-up workload (link analysis) needed a driver loop around
the framework. Here the loop is a DataFrame recurrence with the same
scale discipline as ``operators/dedup.py::connected_components``:

- per-iteration work is ONE equi-join (ranks onto the contribution
  edge list) + ONE aggregation — partial+final, map-side combinable;
- the contribution edge list (edge + 1/outdeg weight) is computed once
  and cached; iterations never re-derive the graph;
- each round checkpoints its rank vector and frees the previous
  round's (``caches.checkpoint``/``caches.free``), so lineage and
  storage stay O(1) in the iteration count;
- the driver sees scalars only — the node count N and, with ``tol``,
  each round's L1 rank change — and both are aggregates observed by a
  checkpoint job that runs anyway (``caches.checkpoint_with``), so no
  round launches a job just to read them. Rank vectors never leave the
  cluster.

Float discipline for oracle parity: contributions are
``rank * (1.0 / outdeg)`` (multiply by reciprocal, NOT a division per
edge) and the teleport term is ``0.15 / N`` with the literal 0.15 —
the DuckDB twin spells the identical expressions, so the doubles agree
bit-for-bit modulo summation order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mapreduce_system_spark.caches import checkpoint, checkpoint_with, free, tracked_cache


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    weight: str | None = None,
    iterations: int = 3,
    damping: float = 0.85,
    dangling: str = "none",
    tol: float | None = None,
    seeds: DataFrame | None = None,
) -> DataFrame:
    """Rank nodes of the directed edge list by PageRank.

    ``edges`` should be deduplicated by the caller (duplicate edges act
    as weights). ``weight`` (optional) names a positive edge-weight
    column: contributions become ``rank * (wt / Σ out-weight)`` instead
    of ``rank * (1/outdeg)`` — the weighted PageRank a purchase graph
    wants (edge strength = transaction volume, not mere adjacency).
    With ``weight`` set, duplicate edges add their weights through the
    out-weight sum, and the per-edge share is spelled ``wt / outw`` so
    an unrolled SQL oracle can mirror the doubles exactly; weights must
    be positive (a zero total out-weight would divide by zero exactly
    where an outdeg of zero cannot occur). ``dangling`` picks the
    treatment of nodes with no out-edge:

    - ``"none"`` (default): dangling mass leaks — the recurrence is
      exactly ``base + d * contrib``, matching the unrolled SQL oracle
      of ``graph_pagerank``. Feed an undirected graph as two directed
      edges and no node dangles, so nothing leaks.
    - ``"redistribute"``: the standard correction — each round the mass
      sitting on out-degree-0 nodes is shared uniformly,
      ``base + d * (contrib + m/N)``. The per-round dangling mass is a
      one-row aggregate broadcast back into the update (never a driver
      value), so total rank stays 1 at any graph size.

    ``tol`` (optional) stops early once the L1 rank change of a round
    drops below it; ``iterations`` is then the cap. The rank state
    carries the previous rank as ``prev``, so the change is summed by
    the round's own checkpoint job. With
    ``tol=None`` the loop runs exactly ``iterations`` rounds so the
    unrolled oracles stay exact. Returns (node, rank).

    ``seeds`` (optional) makes this PERSONALIZED PageRank (random walk
    with restart): a one-column DataFrame of node ids replaces the
    uniform teleport with ``tp = 1/|S|`` on the seed set and 0 elsewhere
    — the recurrence becomes ``(1-d)·tp + d·(contrib [+ m·tp])``, the
    exact generalization of the uniform form (tp ≡ 1/N recovers it term
    for term), so ``dangling="redistribute"`` routes dangling mass back
    to the SEEDS, the standard restart semantics. Iteration starts at
    the teleport vector. Seeds outside the node set are ignored (inner
    semi-join); an empty effective seed set raises. The teleport column
    rides in the rank state, which the update already joins, so the
    iteration cost is unchanged — and ``seeds`` composes freely with
    ``weight``.

    Rejected levers (do not retry without new evidence): per-round
    repartition+SHJ on the iteration join (r9 A/B: adverse — AQE already
    sizes the checkpointed vectors); bucketed co-partitioned iteration
    (r10 A/B, VERDICT r9 #7: ce bucketed on u + per-round rank tables
    bucketed on node for a zero-exchange join — row-identical, but 6.81s
    vs 4.69s median-of-3 full-query at sf0.1: AQE broadcasts the rank
    vector anyway, so bucketing trades a free broadcast for per-round
    table writes. The crossover needs rank vectors too big to broadcast
    — the documented 100 TB switch, not the fixture regime); folding the
    weight-validity count_if into a CACHED deg aggregate to save the
    standalone edge scan (r11 A/B: 5.73 vs 5.52 s median-of-3 on
    graph_pagerank_weighted — the callers already cache the edge
    relation, so the "saved" scan was a cache read while the deg cache
    added blocks + one extra job; revisit only for an uncached edge
    source, where the saved scan is a real fact-table pass).
    """
    if weight is None:
        e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        deg = e.groupBy("u").agg(F.count("*").cast("double").alias("outdeg"))
        # contribution edge list: (u, v, 1/outdeg) — the loop's only input
        ce = tracked_cache(
            e.join(deg, "u").select("u", "v", (F.lit(1.0) / F.col("outdeg")).alias("w"))
        )
    else:
        e = edges.select(
            F.col(src).alias("u"),
            F.col(dst).alias("v"),
            F.col(weight).cast("double").alias("wt"),
        )
        # fail fast on NULL or non-positive weights: sum() silently skips
        # NULLs (a NULL-weight edge would contribute nothing while its
        # source still counts as non-dangling — rank mass vanishes), and
        # a zero out-weight sum aborts the cache materialization with an
        # opaque executor-side ANSI DIVIDE_BY_ZERO; one bounded driver
        # scalar buys a clear error at the call site instead
        # NaN needs its own test: Spark orders NaN ABOVE every number, so
        # `wt > 0` is true for NaN and a NaN weight would sail through a
        # sign check into all-NaN ranks; +Inf fails the finiteness bound
        # (inf/inf shares are NaN too)
        bad = (
            F.col("wt").isNull()
            | F.isnan("wt")
            | ~((F.col("wt") > 0) & (F.col("wt") < F.lit(float("inf"))))
        )
        n_bad = e.agg(F.count_if(bad).alias("n")).collect()[0]["n"]
        if n_bad:
            raise ValueError(
                f"weight column {weight!r} must be positive, finite, and "
                f"non-NULL; {n_bad} edge(s) violate this"
            )
        deg = e.groupBy("u").agg(F.sum("wt").alias("outw"))
        # contribution edge list: (u, v, wt/Σwt) — same loop, same shapes;
        # only the share definition differs from the unweighted form
        ce = tracked_cache(
            e.join(deg, "u").select("u", "v", (F.col("wt") / F.col("outw")).alias("w"))
        )
    nodes, info = checkpoint_with(
        e.select(F.col("u").alias("node")).union(e.select(F.col("v").alias("node"))).distinct(),
        n=F.count(F.lit(1)),
    )
    n = info["n"]  # bounded driver scalar (node count)
    if n == 0:
        return nodes.withColumn("rank", F.lit(0.0))
    dang = None
    if dangling == "redistribute":
        dang = tracked_cache(
            nodes.join(deg.select(F.col("u").alias("node")), "node", "left_anti")
        )
    elif dangling != "none":
        raise ValueError(f"dangling must be 'none' or 'redistribute', got {dangling!r}")
    teleport = 0.15 if damping == 0.85 else 1.0 - damping
    seeded = seeds is not None
    if seeded:
        # effective seeds = seeds ∩ nodes (ids outside the graph carry no
        # walk to restart); |S| is a bounded driver scalar like n
        sd = (
            seeds.select(F.col(seeds.columns[0]).alias("node"))
            .distinct()
            .join(nodes, "node", "left_semi")
        )
        ns = sd.count()
        if ns == 0:
            raise ValueError("seeds: no seed id matches a graph node")
        # per-node teleport column: 1/|S| on seeds, 0.0 elsewhere — rides
        # in the rank state, so the loop pays no extra join for
        # personalization
        ranks = tracked_cache(
            nodes.join(sd.withColumn("__s", F.lit(1)), "node", "left").select(
                "node",
                F.when(F.col("__s").isNotNull(), F.lit(1.0 / ns))
                .otherwise(F.lit(0.0))
                .alias("tp"),
            )
        ).withColumn("rank", F.col("tp"))
    else:
        ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    base = teleport / n  # uniform-teleport scalar (unused on the seeds path)
    for i in range(iterations):
        contribs = (
            ce.join(ranks, ce.u == ranks.node)
            .select(F.col("v").alias("node"), (F.col("rank") * F.col("w")).alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("contrib"))
        )
        gain = F.coalesce("contrib", F.lit(0.0))
        # the state holds every node, so it is the update's left side
        updated = ranks.join(contribs, "node", "left")
        if dang is not None:
            # one-row dangling-mass aggregate, broadcast into the update —
            # the division by N (uniform) / multiplication by tp (seeds)
            # is spelled exactly as the oracles mirror it
            mdf = ranks.join(dang, "node", "left_semi").agg(
                F.coalesce(F.sum("rank"), F.lit(0.0)).alias("m")
            )
            updated = updated.crossJoin(F.broadcast(mdf))
            gain = gain + (
                F.col("m") * F.col("tp") if seeded else F.col("m") / F.lit(float(n))
            )
        new_rank_expr = (
            F.lit(teleport) * F.col("tp") + F.lit(damping) * gain
            if seeded
            else F.lit(base) + F.lit(damping) * gain
        )
        # the previous rank rides along as ``prev``, so the round's L1
        # change is observed by the checkpoint job itself
        new_ranks, info = checkpoint_with(
            updated.select(
                "node",
                new_rank_expr.alias("rank"),
                F.col("rank").alias("prev"),
                *(["tp"] if seeded else []),
            ),
            d=F.sum(F.abs(F.col("rank") - F.col("prev"))),
        )
        if i:
            free(ranks)
        ranks = new_ranks
        if tol is not None and info["d"] < tol:
            break
    return ranks.select("node", "rank")


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    iterations: int = 3,
    edges_undirected_distinct: bool = False,
) -> DataFrame:
    """Community detection by SYNCHRONOUS label propagation (LPA) over
    the undirected graph: every node starts labeled with its own id,
    and each round adopts the most frequent label among its neighbors,
    ties broken by the SMALLEST label — the deterministic tie-break
    that makes the recurrence an exact function of the edge set, so an
    unrolled SQL oracle can mirror it round for round (the
    ``pagerank``/``connected_components`` discipline; classic
    random-order LPA is not oracle-able). Returns (node, label) after
    exactly ``iterations`` rounds. Staged r13 for the r14 debut
    ``graph_label_propagation``.

    Input edges are symmetrized and de-duplicated here (an undirected
    neighborhood; self-loops are dropped — a node voting for itself
    would freeze singleton labels). ``edges_undirected_distinct=True``
    asserts the caller already provides DISTINCT undirected edges with
    one row per unordered pair and no self-loops (``copurchase_pairs``'s
    u<v contract) and skips the symmetrize-distinct shuffle — the union
    with the reversed copy is then distinct by construction, saving one
    full-edge-list exchange before the cache (the NULL/self-loop filter
    still applies, it is map-side-free). The per-round argmax is a
    single ``mode(lbl, deterministic=True)`` aggregate: Spark 4's
    deterministic mode returns the LOWEST value among equally-frequent
    ones — exactly the most-frequent-then-smallest tie-break — as one
    ObjectHashAggregate whose partial count-maps combine map-side. It
    replaced a two-phase count + ``max(struct(cnt, -label))`` form,
    whose struct-typed max buffer forces a SortAggregate pair (two
    per-round sorts of the vote counts); the r17 A/B on the registered
    query's graph measured mode at 0.66x its wall with bit-identical
    labels (bench_runs/r17_lpa_mode_ab.json).

    Scale shape, mirroring ``pagerank``'s audit: per round ONE
    equi-join (labels onto the symmetrized edge list) + ONE aggregation
    chain (neighbor-label counts → per-node argmax), each
    partial+final; the edge list is cached once; every round
    ``localCheckpoint``s its label vector and releases the previous
    round's blocks, so lineage and storage stay O(1) in the iteration
    count. Labels converge toward community consensus; unlike
    ``connected_components`` (min-label flood = one component per
    CONNECTED region) dense regions keep distinct majority labels.

    Reference contrast: worker.go:104-165's one-shot map→reduce can
    count neighbor labels once but cannot feed the argmax back for the
    next round — iteration needs a driver loop the reference lacks.
    """
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).where(
        F.col(src).isNotNull() & F.col(dst).isNotNull() & (F.col(src) != F.col(dst))
    )
    sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    if not edges_undirected_distinct:
        sym = sym.distinct()
    sym = tracked_cache(sym)
    # symmetrized: every node appears as u, so u alone spans the node set
    labels = sym.select(F.col("u").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    for i in range(iterations):
        neigh = sym.join(labels, sym.u == labels.node).select(
            F.col("v").alias("node"), F.col("label").alias("lbl")
        )
        # ONE aggregate chain per round: mode(lbl, deterministic=True) IS
        # "most frequent neighbor label, smallest on ties" — see
        # plans/r17/graph_label_propagation_round_{before,after}.txt
        new_labels = checkpoint(
            neigh.groupBy("node").agg(F.mode("lbl", True).alias("label"))
        )
        if i:
            free(labels)
        labels = new_labels
    return labels


def k_core_peel(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    *,
    rounds: int = 3,
    edges_undirected_distinct: bool = False,
    broadcast_max_nodes: int = 8_000_000,
) -> DataFrame:
    """SYNCHRONOUS k-core peeling over the undirected graph: each round
    removes EVERY node whose current degree is < k at once (and the
    edges touching it), for exactly ``rounds`` rounds. Returns
    (node, degree) for the survivors with their end-of-peel degrees.
    Staged r14 for an r15/r16 debut (``graph_k_core`` planned over the
    part co-purchase graph) — the density filter link-graph curation
    runs before any neighborhood feature is trusted (spam farms and
    orphan tails peel away; the k-core is what survives).

    Bounded synchronous rounds — not loop-to-fixpoint — for the same
    reason LPA and PageRank fix their iteration count: the recurrence
    is then a pure function of the edge set that an unrolled SQL CTE
    mirrors round for round (once no node is removed the rounds are
    no-ops, so ``rounds`` large enough IS the true k-core; callers can
    census convergence by comparing successive degree sums). Input
    normalization is label_propagation's exactly: symmetrize +
    distinct, self-loops and NULL endpoints dropped,
    ``edges_undirected_distinct=True`` skips the symmetrize-distinct
    exchange under the copurchase_pairs u<v contract.

    Scale shape — NOT the LPA loop verbatim, measured
    (``bench_runs/scale_probe_r14_kcore.json``): a first cut that
    ``localCheckpoint``ed the EDGE relation per round ran wall x10.3 at
    x10 edges (linear — three E-sized materializations dominate), where
    LPA runs x2.05 because it only ever checkpoints the NODE-sized
    label vector. This loop therefore checkpoints the node-sized KEEP
    set per round and keeps the edge relation LAZY: round r's degree
    aggregate re-filters the ONE cached symmetrized edge list through r
    semi-joins against eagerly-checkpointed keep sets. The broadcast
    hint is GATED on the keep set's measured row count (ADVICE r14 #1):
    the count is observed by the keep set's own checkpoint job
    (``caches.checkpoint_with``), so it costs no job, and each round
    hints ``F.broadcast`` only when the keep set is under
    ``broadcast_max_nodes`` and falls back to a plain semi-join above
    it — a billion-node keep set degrades to a shuffle join instead of
    OOMing the driver. Measured both ways before the ``graph_k_core``
    debut: hint-free relies on AQE, which does NOT convert these
    checkpointed-side joins (no shuffle stage to re-measure) and ran
    the 10x probe at wall x3.89 / 17.0 s where the gated hint runs
    x2.5 / ~8 s (``bench_runs/scale_probe_r15_kcore_hintfree.json`` vs
    ``scale_probe_r14_kcore.json``) — so the gate, not hint removal,
    is the scale-safe form. Bounded
    ``rounds`` bounds both the lineage depth and the O(rounds x E)
    re-filter work; nothing E-sized is ever materialized.

    Reference contrast: worker.go:104-165 can compute one degree census
    (word count over edge endpoints) but cannot re-enter it: removing a
    node changes its neighbors' degrees, and the cascade is exactly the
    iteration a one-shot map→reduce cannot express.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).where(
        F.col(src).isNotNull() & F.col(dst).isNotNull() & (F.col(src) != F.col(dst))
    )
    sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    if not edges_undirected_distinct:
        sym = sym.distinct()
    # the recurrence lives entirely on the EDGE relation: a node is
    # "present" iff it has an incident edge, so a kept node whose last
    # neighbor peeled exits with the edge list (one round earlier than a
    # node-set formulation would record — the semantics the oracle and
    # the pure-Python reference both mirror)
    sym = tracked_cache(sym)
    cur = sym
    for _ in range(rounds):
        deg = cur.groupBy("u").agg(F.count("*").alias("d"))
        # node-sized checkpoint (the pagerank rank-vector discipline);
        # each kept set stays pinned until release() because EVERY later
        # round's lazy re-filter, and the returned plan, reads it
        keep, info = checkpoint_with(
            deg.where(F.col("d") >= k).select("u"), n=F.count(F.lit(1))
        )
        # gate the broadcast hint on the MEASURED keep size (ADVICE r14
        # #1): the count comes with the checkpoint job, no job of its
        # own; under the cap the hint buys the 10x probe wall x2.5 vs
        # x3.89 hint-free (AQE cannot convert these joins — no shuffle
        # stage on the checkpointed side to re-measure), above it a
        # plain semi-join degrades gracefully instead of OOMing the
        # driver on a billion-node keep set.
        keep_n = info["n"]
        k1, k2 = keep, keep.select(F.col("u").alias("v"))
        if keep_n <= broadcast_max_nodes:
            k1, k2 = F.broadcast(k1), F.broadcast(k2)
        cur = cur.join(k1, "u", "left_semi").join(k2, "v", "left_semi")
    return cur.groupBy(F.col("u").alias("node")).agg(F.count("*").alias("degree"))


def degree_census(pr: DataFrame) -> DataFrame:
    """(node, d) degree table of a value-ordered distinct edge list.

    ONE explode pass over the edge list (r17): the
    unionAll-of-two-projections form planned the edge subtree twice,
    and when ``pr`` is a lazy construction (k-truss's ord0 job, the
    degree-distribution query) the second branch re-pays everything AQE
    exchange reuse cannot dedup within the action. Output is identical
    — the same endpoint multiset feeds the same count aggregate
    (A/B: bench_runs/r17_degree_census_ab.json)."""
    return (
        pr.select(F.explode(F.array("u", "v")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )


def orient_by_degree(pr: DataFrame, deg: DataFrame) -> DataFrame:
    """Compact-forward orientation: every edge directed away from its
    lower-(degree, id) endpoint, as (s, t), as ``triangle_stats`` uses
    it. Any census of oriented wedges (Σ C(outdeg, 2), the volume the
    triangle enumeration generates) should build on this function, not
    a private copy that could drift from the operator's orientation."""
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    lo_first = F.struct(F.col("du"), F.col("u")) < F.struct(F.col("dv"), F.col("v"))
    return (
        pr.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(lo_first, F.col("u")).otherwise(F.col("v")).alias("s"),
            F.when(lo_first, F.col("v")).otherwise(F.col("u")).alias("t"),
        )
    )


def triangle_stats(pr: DataFrame, u: str = "u", v: str = "v") -> DataFrame:
    """Triangle census of an undirected graph given as value-ordered
    distinct edges (``u`` < ``v``, no duplicates): one row with
    n_nodes / n_edges / n_triangles / n_wedges / transitivity.

    Compact-forward orientation: every edge is directed away from its
    lower-(degree, id) endpoint, and wedges are generated only at each
    triangle's minimum-(degree, id) vertex — so a degree-h hub emits
    no wedges from its own adjacency and total wedge volume is bounded
    by O(E · arboricity) instead of Θ(Σ d²). Every step is an
    equi-join or partial+final aggregate; nothing is force-broadcast
    (AQE sizes the joins), and the only driver-visible state is the
    final one-row summary. The edge list, degree table, and oriented
    edge list are each consumed by 2–4 downstream subtrees, so all
    three are cached (released by the harness-level ``release()``) —
    without this the caller's edge-construction join re-executes once
    per consumer. (Reference contrast: the one-shot map+reduce
    pipeline, coordinator.go:126-141, cannot chain the three joins
    this needs.)"""
    pr = tracked_cache(pr.select(F.col(u).alias("u"), F.col(v).alias("v")))
    deg = tracked_cache(degree_census(pr))
    eo = tracked_cache(orient_by_degree(pr, deg))
    e1, e2 = eo.alias("e1"), eo.alias("e2")
    wedges = e1.join(
        e2, (F.col("e1.s") == F.col("e2.s")) & (F.col("e1.t") < F.col("e2.t"))
    ).select(F.col("e1.t").alias("a"), F.col("e2.t").alias("b"))
    # the closure probe hashes the EDGE side instead of sort-merging:
    # wedge volume is E·arboricity — by construction the arboricity×
    # larger relation — so the SMJ planner default would sort the big
    # side to join the small one. Hashing pr costs E/P rows per
    # partition (bounded like any hash aggregation when shuffle
    # partitions scale with data) and the wedge stream stays unsorted;
    # measured 23% off the probe stage at sf0.1. The wedge SELF-join
    # keeps SMJ: both inputs are the same cached eo relation and its
    # sort is the cheap side (measured slower under SHJ).
    tri = wedges.join(
        pr.hint("shuffle_hash"), (F.col("u") == F.col("a")) & (F.col("v") == F.col("b"))
    ).agg(F.count("*").alias("n_triangles"))
    wed = deg.agg(
        # coalesce: the sum over an EMPTY degree table is NULL, which
        # would slip past the n_wedges == 0 pin below and make the
        # empty graph's transitivity NULL instead of the pinned 0.0.
        # (Folding this and the node count into ONE deg aggregate was
        # A/B'd r18 and REJECTED at 1.037x —
        # bench_runs/r18_triangle_summary_ab.json; the four 1-row
        # aggregates cost nothing the merge saves.)
        F.coalesce(F.sum(F.col("d") * (F.col("d") - 1) / 2), F.lit(0.0))
        .cast("long")
        .alias("n_wedges")
    )
    nodes = deg.agg(F.count("*").alias("n_nodes"))
    edges = pr.agg(F.count("*").alias("n_edges"))
    return (
        nodes.crossJoin(F.broadcast(edges))  # four 1-row aggregates
        .crossJoin(F.broadcast(tri))
        .crossJoin(F.broadcast(wed))
        .select(
            "n_nodes",
            "n_edges",
            "n_triangles",
            "n_wedges",
            # wedge-free graphs (e.g. a perfect matching): Spark's
            # non-ANSI x/0 is NULL while DuckDB's IEEE division is NaN —
            # pin both engines to 0.0 so the oracle hash cannot diverge
            F.when(F.col("n_wedges") == 0, F.lit(0.0))
            .otherwise(F.round(3.0 * F.col("n_triangles") / F.col("n_wedges"), 6))
            .alias("transitivity"),
        )
    )


def bfs_hops(
    edges: DataFrame,
    seeds: DataFrame,
    *,
    max_hops: int = 4,
    src: str = "u",
    dst: str = "v",
) -> DataFrame:
    """Minimum hop distance from a seed set over a directed edge list
    (feed an undirected graph as two directed edges): returns
    (node, hop) for every node reached within ``max_hops``.

    The third iterative-graph surface next to ``pagerank`` and
    ``operators/dedup.py::connected_components``, and the workload the
    reference's one-shot map→reduce pipeline (coordinator.go:126-141)
    cannot chain at all. Per round the frontier does ONE equi-join onto
    the cached edge list plus ONE left-anti against the visited set —
    both shuffles on the node id, AQE-sized. Only the FRONTIER is
    checkpointed per round — the visited set is the lazy union of the
    already-materialized frontiers, so each round materializes O(new
    nodes), not O(all visited); every round's blocks stay live (the
    union references them) until the harness-level ``release()``,
    total storage O(V). The only
    driver-side value is the per-round frontier count that detects
    exhaustion — never a node list — and the frontier's checkpoint job
    computes it (``caches.checkpoint_with``). On a 1000-executor cluster the
    frontier join co-partitions with the edge list's hash
    distribution; ``max_hops`` bounds the round count the way the
    small-world diameter bounds real graphs.
    """
    if len(seeds.columns) != 1:
        # a silent seeds.columns[0] pick would run BFS from whatever
        # column happens to be first in a multi-column frame
        raise ValueError(
            f"bfs_hops: seeds must be a single-column node-id frame, "
            f"got columns {seeds.columns}"
        )
    e = tracked_cache(edges.select(F.col(src).alias("u"), F.col(dst).alias("v")))
    dist = checkpoint(
        seeds.select(F.col(seeds.columns[0]).alias("node"))
        # a NULL seed is not a node: it matches no edge (NULL equi-join)
        # and would only emit a spurious (NULL, 0) row
        .where(F.col("node").isNotNull())
        .distinct()
        .withColumn("hop", F.lit(0))
    )
    frontier = dist
    for h in range(1, max_hops + 1):
        nxt, info = checkpoint_with(
            frontier.join(e, frontier["node"] == e["u"])
            .select(F.col("v").alias("node"))
            .distinct()
            .join(dist, "node", "left_anti")
            .withColumn("hop", F.lit(h)),
            n=F.count(F.lit(1)),
        )
        if info["n"] == 0:  # bounded driver scalar: frontier size
            break
        dist = dist.union(nxt)
        frontier = nxt
    return dist


def k_truss_edges(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    *,
    rounds: int = 2,
    edges_undirected_distinct: bool = False,
) -> DataFrame:
    """SYNCHRONOUS k-truss peeling — the EDGE-level density filter next
    to ``k_core_peel``'s node-level one: each round removes EVERY edge
    whose current support (number of triangles it closes) is below
    k - 2, all at once, for exactly ``rounds`` rounds. Returns
    (u, v, support) for the surviving value-ordered edges with their
    end-of-peel supports. Staged r15 for an r16 debut
    (``graph_k_truss`` planned over the support-2 co-purchase graph):
    where the k-core keeps WELL-CONNECTED NODES, the k-truss keeps
    edges embedded in TRIANGLE-DENSE neighborhoods — the stronger
    community-backbone filter (Cohen, 2008) a link-curation pipeline
    runs when co-occurrence alone is too easy to spam.

    Bounded synchronous rounds for the oracle-parity reason LPA and
    k-core fix theirs: the recurrence is a pure function of the edge
    set, unrolled round for round by the drafted CTE
    (tests/test_ktruss.py). Input normalization is k_core_peel's
    (symmetric input accepted; normalized to value-ordered u < v
    distinct edges, self-loops and NULLs dropped;
    ``edges_undirected_distinct=True`` skips the normalize-distinct
    exchange under the copurchase_pairs contract).

    Scale shape: per round, triangle enumeration exactly as
    ``triangle_stats`` does it — degree-ordered compact-forward
    orientation (``orient_by_degree``), wedges generated only at each
    triangle's minimum-(degree, id) vertex, so the wedge volume is
    O(E·arboricity), never Θ(Σ d²) — then ONE edge-keyed support
    aggregate over the triangle stream exploded into its three member
    edges (one pass over the enumeration; the unionAll of three member
    projections it replaced re-planned the wedge self-join +
    closing-edge probe once per projection — the A/B
    bench_runs/r17_ktruss_members_ab.json measured explode at 0.38x
    with bit-identical output). UNLIKE k-core, the per-round checkpoint
    is EDGE-sized: the recurrence state IS the surviving edge set (the
    answer itself), so an E-sized materialization per round is the
    honest floor here, not the defect it was for k-core's node-sized
    recurrence — bounded by ``rounds`` and shrinking monotonically.
    Broadcast decisions stay AQE's: every join side here is either the
    cached/checkpointed edge relation or a degree table derived from
    it, all post-shuffle stages AQE can measure (contrast the k-core
    keep-set gate, bench_runs/scale_probe_r15_kcore_*.json).

    Reference contrast: worker.go:104-165 can count a fixed relation's
    triangles as chained word counts at best, but removing an edge
    changes OTHER edges' supports — the cascade re-entry
    (coordinator.go:126-141's one-shot pipeline cannot express it),
    same class as k-core.
    """
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).where(
        F.col(src).isNotNull() & F.col(dst).isNotNull() & (F.col(src) != F.col(dst))
    )
    # least/greatest is applied UNCONDITIONALLY (a cheap map-side
    # projection, no exchange): the closing-edge probe and member-edge
    # projection below assume value-ordered u < v, and an out-of-order
    # input edge would silently lose triangles (ADVICE r15). The
    # edges_undirected_distinct contract flag only skips the
    # normalize-distinct EXCHANGE — the part that actually costs.
    pr = e.select(
        F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
    )
    if not edges_undirected_distinct:
        pr = pr.distinct()

    # compact-forward enumeration needs only SOME total vertex order to
    # count each triangle exactly once (at its minimum vertex in that
    # order); the ROUND-0 (degree, id) order remains a valid total order
    # on every shrunken edge set, so every support call orients against
    # the pinned round-0 table instead of re-deriving degree_census (a
    # 2E-row shuffle per call). Support counts are orientation-
    # independent. The O(E·arboricity) wedge bound degrades only as far
    # as the peeled graph's degree order drifts from round 0's — peeling
    # removes edges, so round-0 degrees only over-estimate. The r17 A/B
    # at sf0.1 (bench_runs/r17_ktruss_ab.json) measured reuse at 0.76x
    # the re-derive wall at the registered k=8/rounds=2; re-deriving per
    # round only pays for many-round peels where the drift compounds.
    # cache the normalized edge list BEFORE deriving ord0 (r17): the
    # ord0 checkpoint and round 0's support are SEPARATE actions, and
    # AQE exchange reuse never spans actions — deriving ord0 from the
    # lazy pr re-ran the whole upstream edge construction once per
    # action. Censusing the cache instead fills it during the ord0 job
    # and every later action reads blocks.
    cur = tracked_cache(pr)
    ord0 = checkpoint(degree_census(cur))

    def support(cur: DataFrame) -> DataFrame:
        """(u, v, cnt) triangle support of a value-ordered edge set —
        triangle_stats' enumeration, re-keyed to member edges."""
        eo = orient_by_degree(cur, ord0)
        e1, e2 = eo.alias("e1"), eo.alias("e2")
        wedges = e1.join(
            e2, (F.col("e1.s") == F.col("e2.s")) & (F.col("e1.t") < F.col("e2.t"))
        ).select(
            F.col("e1.s").alias("a"),
            F.col("e1.t").alias("b"),
            F.col("e2.t").alias("c"),
        )
        # closing-edge probe hashes the edge side (triangle_stats'
        # measured choice: the wedge stream is the arboricity-times
        # larger relation; keep it unsorted)
        tri = wedges.join(
            cur.hint("shuffle_hash"),
            (F.col("u") == F.col("b")) & (F.col("v") == F.col("c")),
        ).select("a", "b", "c")
        # ONE pass over the triangle stream: each triangle explodes into
        # its three member edges (a<b and a<c re-ordered by value; b<c
        # already value-ordered by construction), so the wedge self-join
        # + closing-edge probe above evaluate ONCE. A unionAll of three
        # member projections re-plans that whole subtree per projection;
        # AQE's runtime stage reuse dedups only the shuffle-feeding map
        # stages, not the three reduce-side closing-join executions.
        members = tri.select(
            F.explode(
                F.array(
                    F.struct(
                        F.least("a", "b").alias("u"),
                        F.greatest("a", "b").alias("v"),
                    ),
                    F.struct(
                        F.least("a", "c").alias("u"),
                        F.greatest("a", "c").alias("v"),
                    ),
                    F.struct(F.col("b").alias("u"), F.col("c").alias("v")),
                )
            ).alias("e")
        ).select("e.u", "e.v")
        return members.groupBy("u", "v").agg(F.count("*").alias("cnt"))

    for r in range(rounds):
        # edge-sized checkpoint: the recurrence state is the edge set
        # itself (see docstring); the previous round's is freed once the
        # new state is pinned, so storage stays one edge set
        nxt = checkpoint(
            cur.join(support(cur), ["u", "v"], "left")
            .where(F.coalesce(F.col("cnt"), F.lit(0)) >= k - 2)
            .select("u", "v")
        )
        if r:
            free(cur)
        cur = nxt
    return cur.join(support(cur), ["u", "v"], "left").select(
        "u", "v", F.coalesce(F.col("cnt"), F.lit(0)).cast("long").alias("support")
    )


def connected_components_jump(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    *,
    rounds: int = 6,
) -> DataFrame:
    """POINTER-JUMPING connected components: (id, lab) where ``lab``
    converges to the component-minimum id. Staged r16 for a later debut
    (``graph_components_jump`` planned; tests/test_ccjump.py carries the
    union-find reference, the unrolled CTE draft, and a 20-topology
    fuzz; probe ``scale_probe --ccjump``).

    Where ``operators/dedup.py::connected_components`` propagates the
    min label ONE hop per round (O(diameter) rounds — right for the
    SHALLOW clusters near-dup pair generators emit), this operator
    alternates, per round, (1) a neighbor-min step with (2) a POINTER
    JUMP — ``lab(v) <- lab(lab(v))``, union-find's path-compaction step
    (Shiloach-Vishkin's shortcut; the alternating form is the
    MapReduce-era CC family of Kiveris et al., 2014) — reaching
    distance ~2^(r+1) after r rounds: O(log diameter) rounds, the
    scale-correct shape for LONG chains (web-link paths, citation
    chains) where min-label's round count IS the diameter.

    Bounded synchronous rounds for the oracle-parity reason k-core and
    k-truss fix theirs: each round is a pure function of the edge set,
    so the unrolled CTE mirrors the recurrence round for round EVEN
    SHORT of convergence (the drafted oracle asserts rounds=1/2 states
    too). The jump's inner join is total by invariant: every label
    value is itself a node id present in the relation (mins over node
    ids stay node ids).

    ID-LAYOUT CAVEAT (found registering graph_components_jump, r16):
    the reach-doubling bound — distance ~2^(r+1) after r rounds, the
    number the --ccjump probe measured (10 rounds at depth 2000) —
    holds when ids are MONOTONE along the chain toward the component
    min (the probe's ascending-id paths, and the registered query's
    position-canonical ids). With randomly-placed ids the single jump
    per round loses its doubling: the running min sits mid-chain, and
    lab(lab(v)) re-lands on the min's own (already-converged) label
    instead of leaping past it — an 18-node random-orderkey chain
    measured UNCONVERGED at rounds=7. Callers with arbitrary ids must
    size ``rounds`` toward the min-label diameter bound, canonicalize
    ids to sequence positions first (``graph_components_jump``'s
    construction), or
    assert the fixed point the way tests/test_fresh15_queries.py does.

    Scale shape: per round ONE edge-keyed equi-join + ONE node-keyed
    min aggregate (partial+final combinable) + ONE node-sized self-join,
    and TWO node-sized eager checkpoints: the neighbor-min labels, which
    both sides of the self-join read (lazy, the plan would evaluate the
    neighbor-min subtree once per side), and the jumped labels. Each is
    freed once its successor is materialized, so lineage and storage
    stay O(1) in rounds, the pagerank discipline. NO driver scalars at
    all; broadcast decisions stay AQE's.

    Input normalization is the family's: value-ordered distinct pairs,
    self-loops and NULL endpoints dropped, then symmetrized through one
    explode (dedup.connected_components' construction — the expensive
    upstream pair subtree evaluates once, not per direction).

    Reference contrast: worker.go:104-165 can run ONE min-per-key pass;
    the jump round joins the reducer's output against ITSELF keyed by
    its own VALUES (lab as join key) — a reflexive reduce-of-reduces
    the one-shot pipeline cannot express, and the round count that
    makes 100 TB chains feasible at all.
    """
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    pr = (
        pairs.select(
            F.least(id_a, id_b).alias("u"), F.greatest(id_a, id_b).alias("v")
        )
        .where(
            F.col("u").isNotNull() & F.col("v").isNotNull()
            & (F.col("u") != F.col("v"))
        )
        .distinct()
    )
    edges = tracked_cache(
        pr.select(
            F.explode(
                F.array(
                    F.struct(F.col("u").alias("src"), F.col("v").alias("dst")),
                    F.struct(F.col("v").alias("src"), F.col("u").alias("dst")),
                )
            ).alias("e")
        ).select("e.src", "e.dst")
    )
    lab = edges.select(F.col("src").alias("id")).distinct().withColumn(
        "lab", F.col("id")
    )
    for i in range(rounds):
        # (1) neighbor-min incl. self. Semantically the oracle's
        # UNION ALL + min, but spelled as one edge-keyed aggregate +
        # one node-keyed LEFT join: a Union INSIDE the recurrence trips
        # Catalyst's UnionBase.rewriteConstraints on repeated
        # checkpoint-relation attribute ids at depth
        # (NoSuchElementException: key not found: id#N — found by the
        # --ccjump probe's 20-round path construction, not by the
        # shallow fixture tests), and the join form is also the smaller
        # shuffle: the groupBy moves E rows, not N+E.
        nmin = (
            edges.join(
                lab.select(
                    F.col("id").alias("nid"), F.col("lab").alias("nlab")
                ),
                F.col("dst") == F.col("nid"),
            )
            .groupBy("src")
            .agg(F.min("nlab").alias("nmin"))
        )
        # checkpointed: both sides of the jump's self-join read m, and a
        # lazy m would evaluate the neighbor-min subtree once per side
        m = checkpoint(
            lab.join(nmin, F.col("id") == F.col("src"), "left").select(
                "id",
                F.least(
                    F.col("lab"), F.coalesce(F.col("nmin"), F.col("lab"))
                ).alias("lab"),
            )
        )
        if i:
            free(lab)
        # (2) pointer jump: lab(v) <- lab(lab(v)) — node-sized self-join
        lab = checkpoint(
            m.alias("a")
            .join(m.alias("b"), F.col("a.lab") == F.col("b.id"))
            .select(F.col("a.id").alias("id"), F.col("b.lab").alias("lab"))
        )
        free(m)
    return lab
