"""Physical-plan guards for the scale-critical operators.

The 100 TB property of the dedup/similarity/streaming-join plans is that
candidates come from EQUI-joins — if a refactor degrades one to a
cartesian/nested-loop shape it would still pass value checks at fixture
scale while becoming O(n²) at real scale. These tests pin the plan shape.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from mapreduce_system_spark.operators import dedup as DD
from mapreduce_system_spark.plans.checks import formatted_plan
from mapreduce_system_spark.sources.tables import load_table
from mapreduce_system_spark.streaming.windows import interval_join
from tests.conftest import SF_DIR

_ALL_PAIRS_OPS = ("CartesianProduct", "BroadcastNestedLoopJoin")


def _assert_equi_join_only(df):
    plan = formatted_plan(df)
    for op in _ALL_PAIRS_OPS:
        assert op not in plan, f"{op} in plan:\n{plan}"


def test_jaccard_pairs_has_no_all_pairs_join(spark):
    docs = load_table(spark, SF_DIR, "documents", columns=["doc_id", "text"])
    _assert_equi_join_only(DD.jaccard_pairs(docs, max_shingle_df=100))


def test_minhash_lsh_has_no_all_pairs_join(spark):
    docs = load_table(spark, SF_DIR, "documents", columns=["doc_id", "text"])
    _assert_equi_join_only(DD.minhash_lsh_pairs(docs))


def test_simhash_pairs_has_no_all_pairs_join(spark):
    docs = load_table(spark, SF_DIR, "documents", columns=["doc_id", "text"])
    _assert_equi_join_only(DD.simhash_pairs(docs))


def test_interval_join_is_equi_join_on_key(spark):
    ev = load_table(spark, SF_DIR, "events", columns=["ts", "user_id", "event_type"])
    clicks = ev.where(F.col("event_type") == "click").select("user_id", "ts")
    purchases = ev.where(F.col("event_type") == "purchase").select("user_id", "ts")
    _assert_equi_join_only(interval_join(clicks, purchases, on="user_id"))


def _emb_and_queries(spark):
    from tests.test_similarity import _queries

    emb = load_table(spark, SF_DIR, "embeddings", columns=["vec_id", "embedding", "label"])
    return emb, _queries(emb, 5)


def test_lsh_candidate_join_is_equi_join_on_table_bucket(spark):
    """The corpus side of LSH must reach the candidate stage through an
    equi-join on (table, bucket) — the only broadcast allowed is the tiny
    query side. A cartesian here is exactly the regression that passes
    value checks at sf0.001 and dies at corpus scale."""
    from mapreduce_system_spark.operators import similarity as SIM

    emb, q = _emb_and_queries(spark)
    _assert_equi_join_only(SIM.lsh_bucket_topk(emb, q, k=3, n_planes=4, n_tables=2, dim=64))


def test_ivf_corpus_join_is_equi_join_on_partition(spark):
    """IVF may broadcast-NLJ only the Q×k centroid probe derivation; the
    CORPUS must be touched via the partition-id equi-join. Guarded by
    checking the corpus scan feeds a hash join, and the full plan scans
    the embeddings parquet exactly twice (probe derivation + candidate
    scoring), never a third time."""
    from mapreduce_system_spark.operators import similarity as SIM

    emb, q = _emb_and_queries(spark)
    plan = formatted_plan(SIM.ivf_topk(emb, q, k=3, nprobe=2))
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan, plan
    # the BNLJ (queries × centroids) must stay on the probe side — exactly
    # one such node. explain("formatted") prints each physical node twice
    # (tree line + detail section), so one node == two string occurrences.
    assert plan.count("BroadcastNestedLoopJoin") <= 2, plan


def test_editdistance_pairs_has_no_all_pairs_join(spark):
    from mapreduce_system_spark.operators.dedup import editdistance_pairs

    docs = load_table(spark, SF_DIR, "documents", columns=["doc_id", "text"])
    _assert_equi_join_only(editdistance_pairs(docs))


def test_decontaminate_is_broadcast_semi_join_on_gram(spark):
    """Corpus grams must reach the benchmark gram set via a broadcast LEFT
    SEMI equi-join on the gram string — the corpus side is never shuffled
    on the gram and never nested-loop-joined (the shape that would still
    pass value checks at fixture scale and die at corpus scale)."""
    from mapreduce_system_spark.queries.pipeline import q_decontaminate

    df = q_decontaminate(spark, SF_DIR)
    plan = formatted_plan(df)
    _assert_equi_join_only(df)
    assert "LeftSemi" in plan, plan


def test_rank_selection_quantiles_plan_shape(spark):
    """agg_quantiles' r6 rank-based selection must keep its two scale
    properties: the per-group counts join the ranked stream as a
    BROADCAST (never a shuffled join against the big side), and the plan
    contains no `percentile` aggregate (the per-group value buffer the
    rework removed)."""
    from mapreduce_system_spark.plans.checks import formatted_plan, has_broadcast_join
    from mapreduce_system_spark.queries.aggregates import q_quantiles

    df = q_quantiles(spark, SF_DIR)
    plan = formatted_plan(df)
    assert has_broadcast_join(df), plan
    assert "percentile(" not in plan, plan


def test_stateful_session_stream_uses_append_with_event_time_timeout(spark, tmp_path):
    """The stateful sessionization stream must plan as
    FlatMapGroupsInPandasWithState with EventTimeTimeout (eviction) —
    losing the timeout silently turns the state store into an unbounded
    accumulator."""
    import uuid as _uuid

    from mapreduce_system_spark.streaming import stateful as ST

    src = tmp_path / f"guard-{_uuid.uuid4().hex}"
    spark.createDataFrame(
        [], "user_id long, ts timestamp, es long"
    ).write.parquet(str(src))
    stream = (
        spark.readStream.schema("user_id long, ts timestamp, es long")
        .parquet(str(src))
        .withWatermark("ts", "0 seconds")
    )
    out = ST.user_sessions_stateful(stream, gap_s=600)
    plan = out._jdf.queryExecution().analyzed().toString()
    assert "flatMapGroupsWithState" in plan or "FlatMapGroupsInPandasWithState" in plan, plan
    assert "EventTimeTimeout" in plan, plan


def test_bloom_join_runtime_filter_injected_and_exact(spark):
    """rel_bloom_join_pruned (VERDICT r6 #6): the optimizer must inject a
    runtime Bloom filter (bloom_filter_agg + might_contain) into the fact
    side of the selective fact-fact join — bloom_pruned_revenue raises if
    it did not, which is the guard — and the pruned result must equal the
    plain join bit-for-bit. Session confs the exhibit binds (broadcast
    threshold, bloom thresholds) must be restored afterwards."""
    from mapreduce_system_spark.queries.relational import (
        _BLOOM_CONFS,
        bloom_pruned_revenue,
    )

    before = {}
    for key in _BLOOM_CONFS:
        try:
            before[key] = spark.conf.get(key)
        except Exception:
            before[key] = None

    got = bloom_pruned_revenue(spark, SF_DIR)  # raises without the filter
    rows = sorted(map(tuple, got.collect()))

    after = {}
    for key in _BLOOM_CONFS:
        try:
            after[key] = spark.conf.get(key)
        except Exception:
            after[key] = None
    assert after == before, "bloom exhibit leaked session confs"

    li = load_table(
        spark, SF_DIR, "lineitem",
        columns=["l_orderkey", "l_returnflag", "l_extendedprice", "l_discount"],
    )
    orders = load_table(
        spark, SF_DIR, "orders",
        columns=["o_orderkey", "o_orderpriority", "o_totalprice"],
    )
    want = sorted(
        map(
            tuple,
            li.join(
                orders.where(
                    (F.col("o_orderpriority") == "1-URGENT")
                    & (F.col("o_totalprice") > 250000)
                ),
                li.l_orderkey == F.col("o_orderkey"),
            )
            .groupBy("l_returnflag")
            .agg(
                F.count("*").alias("n_items"),
                F.round(
                    F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
                ).alias("revenue"),
            )
            .collect(),
        )
    )
    assert rows == want and len(rows) > 0


# --- round-7 additions -----------------------------------------------------
# The r7 queries' scale stories, pinned so a refactor cannot silently
# degrade them: BM25 must stay broadcast-driven (the corpus never rides a
# sort-merge join), the funnel's event_type predicates must reach the
# parquet scan, and int8 quantization's per-dimension stats must come
# back via broadcast.


def _tree_lines(plan: str) -> list[tuple[int, str]]:
    """(indent, node) pairs for the formatted plan's tree section."""
    out = []
    for line in plan.splitlines():
        if "+-" in line or ":-" in line or line.startswith("*"):
            marker = max(line.find("+-"), line.find(":-"))
            out.append((marker, line))
        if line.startswith("(1) ") or line.startswith("== Physical Plan =="):
            continue
    return out


def test_bm25_is_broadcast_driven(spark):
    from mapreduce_system_spark.queries.text import q_bm25_topk

    plan = formatted_plan(q_bm25_topk(spark, SF_DIR))
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    # query-terms, df, and corpus-stats joins all broadcast
    assert plan.count("BroadcastHashJoin") >= 2, plan


def test_bm25_df_broadcast_build_side_is_query_filtered(spark):
    """The broadcast df relation must be the query-term-filtered aggregate,
    never the full-vocabulary aggregate (VERDICT r7 #2): the fix nests the
    query-terms broadcast join INSIDE the df broadcast subtree, so the plan
    must contain a BroadcastExchange with another BroadcastExchange below it
    — the semi-reduction that bounds the shipped relation to |query terms|."""
    from mapreduce_system_spark.queries.text import q_bm25_topk

    plan = formatted_plan(q_bm25_topk(spark, SF_DIR))
    tree = _tree_lines(plan)
    nested = False
    for i, (indent, line) in enumerate(tree):
        if "BroadcastExchange" not in line:
            continue
        for indent2, line2 in tree[i + 1 :]:
            if indent2 <= indent:
                break
            if "BroadcastExchange" in line2:
                nested = True
    assert nested, f"df build side not pre-filtered by query terms:\n{plan}"


def test_funnel_pushes_event_type_to_scan(spark):
    from mapreduce_system_spark.plans.checks import has_pushed_filters
    from mapreduce_system_spark.queries.relational import q_funnel_conversion

    df = q_funnel_conversion(spark, SF_DIR)
    assert has_pushed_filters(df)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan, plan


def test_int8_quantize_stats_join_broadcasts(spark):
    from mapreduce_system_spark.queries.similarity import q_int8_quantize_error

    plan = formatted_plan(q_int8_quantize_error(spark, SF_DIR))
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_gap_fill_spine_join_has_no_shuffle_join(spark):
    from mapreduce_system_spark.queries.temporal import q_gap_fill_daily

    plan = formatted_plan(q_gap_fill_daily(spark, SF_DIR))
    assert "SortMergeJoin" not in plan, plan


def test_containment_pairs_has_no_all_pairs_join(spark):
    docs = load_table(spark, SF_DIR, "documents", columns=["doc_id", "text"])
    _assert_equi_join_only(DD.containment_pairs(docs, max_shingle_df=100))


def test_skew_profile_topk_avoids_global_sort(spark):
    """The heavy-keys report must take its top-k with per-partition
    heaps (TakeOrderedAndProject), and the one-row totals must come
    back via broadcast, not a shuffle join."""
    from mapreduce_system_spark.queries.relational import q_skew_profile

    plan = formatted_plan(q_skew_profile(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_equi_depth_histogram_counts_ride_broadcast_not_window(spark):
    """Group sizes must join in via broadcast — an unbounded count(*)
    window would buffer whole groups; the decile assignment itself
    stays window-free beyond the single row_number sort."""
    from mapreduce_system_spark.queries.relational import q_histogram_equi_depth

    plan = formatted_plan(q_histogram_equi_depth(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan
    # exactly the one ranking window — no count(*) window was added
    # (windowspecdefinition appears once per window function instance)
    assert plan.count("windowspecdefinition") == 1, plan


def test_grouped_linreg_is_partial_final_aggregate(spark):
    """The fit must run as hash aggregates (partial+final) with the
    part dimension broadcast — no window, no sort-based fallback."""
    from mapreduce_system_spark.queries.aggregates import q_grouped_linreg

    plan = formatted_plan(q_grouped_linreg(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan
    assert "Window" not in plan, plan
    assert "HashAggregate" in plan, plan


def test_snapshot_diff_is_single_equi_join(spark):
    """The reconciliation must be one equi full-outer join — never a
    cartesian/nested-loop shape."""
    from mapreduce_system_spark.queries.relational import q_snapshot_diff

    plan = formatted_plan(q_snapshot_diff(spark, SF_DIR))
    for op in _ALL_PAIRS_OPS:
        assert op not in plan, plan


def test_bucket_lookup_scans_only_selected_buckets(spark):
    """The point lookup on the bucketed orders table must show bucket
    pruning (SelectedBucketsCount ≤ |keys| out of 8) — reading all
    buckets for a key lookup is the regression this pins."""
    import re

    from mapreduce_system_spark.queries.sinks import (
        _LOOKUP_KEYS,
        q_bucket_pruned_lookup,
    )

    plan = formatted_plan(q_bucket_pruned_lookup(spark, SF_DIR))
    m = re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", plan)
    assert m, f"no bucket pruning in plan:\n{plan}"
    assert int(m.group(1)) <= len(_LOOKUP_KEYS) < int(m.group(2)), plan


def test_ohlc_is_window_free_partial_final_aggregate(spark):
    """The OHLC bars must plan as hash aggregates with map-side partial
    combine — no window sort of the raw stream (the formulation the
    argmin/argmax struct algebra exists to avoid)."""
    from mapreduce_system_spark.queries.temporal import q_ohlc_hourly

    plan = formatted_plan(q_ohlc_hourly(spark, SF_DIR))
    assert "windowspecdefinition" not in plan, plan
    # struct-typed min/max buffers force SortAggregate (not Hash), but the
    # scale property is the partial+final split — map-side combine present
    assert "partial_min(struct" in plan, plan
    assert "partial_max(struct" in plan, plan


def test_keep_latest_k_rides_window_group_limit(spark):
    """The rn <= K retention filter must be pushed into the sort as a
    WindowGroupLimit — per-key K-row heaps, not a full partition sort
    followed by a filter."""
    from mapreduce_system_spark.queries.pipeline import q_keep_latest_k

    plan = formatted_plan(q_keep_latest_k(spark, SF_DIR))
    assert "WindowGroupLimit" in plan, plan


def test_degenerate_division_guards_survive_in_both_engines(spark):
    """The r9 ADVICE-class guards (divide-by-zero on degenerate inputs:
    Spark non-ANSI NULL vs DuckDB IEEE inf/NaN) must stay in the SHIPPED
    artifacts on BOTH sides: the nullif rewrite (`... = 0)) null else`)
    in the registered query's physical plan line that produces the
    guarded column, and the nullif/CASE spelling in the oracle SQL.
    Asserting on the real plan (not a re-typed expression) means
    reverting any one guard fails here — the linreg guard has its own
    executable degenerate-input test in test_fresh8h_queries."""
    from mapreduce_system_spark.queries.relational import (
        _HIST_SQL,
        q_histogram_equi_width,
    )
    from mapreduce_system_spark.queries.graph import _TRIANGLE_SQL, q_triangle_count
    from mapreduce_system_spark.queries.temporal import _TWAP_SQL, q_time_weighted_avg
    from mapreduce_system_spark.queries.similarity import (
        _CENTROID_MATRIX_SQL,
        q_centroid_distance_matrix,
    )
    from mapreduce_system_spark.queries.similarity import (
        _PCA_SQL,
        q_pca_power_iteration,
    )

    for fn, alias, sql, spelling in [
        (q_time_weighted_avg, "AS twap", _TWAP_SQL, "nullif(sum(dur_us), 0)"),
        (
            q_centroid_distance_matrix,
            "AS cosine",
            _CENTROID_MATRIX_SQL,
            "nullif(sqrt(na) * sqrt(nb), 0)",
        ),
        (q_pca_power_iteration, "AS loading", _PCA_SQL, "nullif(nrm, 0)"),
        (q_histogram_equi_width, "AS bucket", _HIST_SQL, "nullif(mx - mn, 0)"),
    ]:
        assert spelling in sql, (alias, spelling)
        plan = formatted_plan(fn(spark, SF_DIR))
        lines = [ln for ln in plan.splitlines() if alias in ln]
        assert any("null else" in ln for ln in lines), (alias, lines[:3])
    # transitivity uses a CASE-pinned 0.0 (not nullif) on both engines
    assert "CASE WHEN wed.n_wedges = 0 THEN 0.0" in _TRIANGLE_SQL
    plan = formatted_plan(q_triangle_count(spark, SF_DIR))
    trans = [ln for ln in plan.splitlines() if "AS transitivity" in ln]
    assert any("CASE WHEN" in ln and "0.0" in ln for ln in trans), trans[:3]


def test_weighted_pagerank_edge_build_prunes_and_equi_joins(spark):
    """The corpus-sized piece of graph_pagerank_weighted is the edge
    aggregation (the iteration itself runs over eager localCheckpoints,
    so the registered query's FINAL plan is a truncated RDD scan — the
    guard belongs on the pre-loop relation): the fact-fact join must be
    an equi-join with the lineitem scan pruned to exactly the three
    join/weight columns."""
    from mapreduce_system_spark.queries.graph import purchase_edges_weighted

    orders = load_table(spark, SF_DIR, "orders", columns=["o_orderkey", "o_custkey"])
    li = load_table(
        spark, SF_DIR, "lineitem", columns=["l_orderkey", "l_suppkey", "l_quantity"]
    )
    plan = formatted_plan(purchase_edges_weighted(orders, li))
    for op in _ALL_PAIRS_OPS:
        assert op not in plan, f"{op} in plan:\n{plan}"
    # column pruning reached the lineitem scan: quantity rides, the
    # other 8 lineitem columns don't
    assert "l_quantity" in plan
    assert "l_extendedprice" not in plan, "lineitem scan not pruned"
    # map-side partial combine before the exchange (partial_sum shows as
    # two HashAggregates around the shuffle)
    assert plan.count("HashAggregate") >= 2, plan


def test_pca_projection_objects_ride_broadcasts(spark):
    """pca_topk's per-round corpus joins must take the k·d-or-smaller
    deflation/iterate objects as BROADCASTS (the operator's own
    _project_out and score-join shapes, checked on the relation BEFORE
    the checkpoint truncates the plan): a shuffled join of a d-row
    vector onto the exploded corpus would serialize every round on an
    exchange."""
    from mapreduce_system_spark.operators.pca import _project_out

    emb = load_table(spark, SF_DIR, "embeddings", columns=["vec_id", "embedding"])
    comp = emb.select(
        F.col("vec_id").alias("id"), F.posexplode("embedding").alias("pos", "vf")
    ).select("id", "pos", F.col("vf").cast("double").alias("val"))
    spark_range = comp.sparkSession.range(64).select(
        F.col("id").cast("int").alias("pos")
    )
    v = spark_range.select("pos", F.lit(0.125).alias("v"))
    prev = spark_range.select(
        F.lit(0).alias("component"), "pos", F.lit(0.125).alias("loading")
    )
    s = (
        comp.join(F.broadcast(_project_out(v, prev)), "pos")
        .groupBy("id")
        .agg(F.sum(F.col("val") * F.col("v")).alias("s"))
    )
    plan = formatted_plan(s)
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_basket_pair_generation_has_no_all_pairs_join(spark):
    """basket_association_rules' pair generator is a within-basket
    equi-self-join on the basket key (quadratic only in basket size) —
    a refactor degrading it to cartesian would pass fixture-value checks
    while exploding at corpus scale, the exact class this suite pins.
    The one-row basket total must ride a broadcast, never a shuffle;
    the item-marginal joins carry NO broadcast hint (ADVICE r12 #1 —
    AQE picks from the measured size, so an unbounded item dimension
    degrades to a shuffle join instead of a driver OOM)."""
    from mapreduce_system_spark.operators.basket import association_rules

    li = load_table(spark, SF_DIR, "lineitem", columns=["l_orderkey", "l_partkey"])
    df = association_rules(
        li, basket_col="l_orderkey", item_col="l_partkey", min_pair_count=2
    )
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan, plan
    # the intentional one-row cross join (basket total) is the ONLY
    # nested-loop shape allowed, and it must be the broadcast form —
    # formatted plans print each node twice (tree + details), so one
    # node = 2 textual occurrences
    assert plan.count("BroadcastNestedLoopJoin") <= 2, plan
    assert plan.count("BroadcastExchange") >= 2, plan
    # the marginal joins must be UNHINTED: the logical plan carries no
    # join hint at all (the one-row total's hint lives on a relation AQE
    # never needs to re-plan)
    logical = df._jdf.queryExecution().analyzed().toString()
    assert logical.count("UnresolvedHint") == 0, logical
    assert logical.lower().count("broadcast") <= 1, logical


def test_personalized_pagerank_seed_semi_join_is_equi(spark):
    """The seeded teleport construction (seeds ∩ nodes + the per-node tp
    left join) must stay equi-join-shaped: at graph scale the node list
    is corpus-sized and any nested-loop against it is O(n·|S|)."""
    from mapreduce_system_spark.queries.graph import q_graph_pagerank_personalized

    _assert_equi_join_only(q_graph_pagerank_personalized(spark, SF_DIR))


def test_join_cardinality_exact_never_materializes_the_join(spark):
    """|A ⋈ B| must come from the count-relation PRODUCT: the optimized
    plan aggregates BOTH inputs before the one join (3 Aggregates —
    two per-key counts + the final sum). A refactor that joins first
    and counts after (1 Aggregate) passes every value check while
    materializing the very output the operator exists to avoid."""
    from mapreduce_system_spark.operators.cardinality import (
        join_cardinality_exact,
    )

    li = load_table(spark, SF_DIR, "lineitem", columns=["l_orderkey"])
    orders = load_table(spark, SF_DIR, "orders", columns=["o_orderkey"])
    df = join_cardinality_exact(li, orders, "l_orderkey", "o_orderkey")
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert opt.count("Aggregate") == 3, opt
    assert opt.count("Join") == 1, opt


def test_join_cardinality_estimate_pushes_sample_filter_to_scan(spark):
    """The coordinated-key sample predicate must reach both scans (the
    sublinearity claim): a post-aggregation filter would count every
    key before discarding 90% of the work."""
    from mapreduce_system_spark.operators.cardinality import (
        join_cardinality_estimate,
    )

    orders = load_table(spark, SF_DIR, "orders", columns=["o_custkey"])
    cust = load_table(spark, SF_DIR, "customer", columns=["c_custkey"])
    df = join_cardinality_estimate(orders, cust, "o_custkey", "c_custkey")
    plan = formatted_plan(df)
    _assert_equi_join_only(df)
    # the md5 sample predicate appears in both sides' Filter nodes below
    # the first aggregate (conv(substring(md5(...)))); two scans → two
    # filtered sides
    assert plan.count("conv(substring(md5(") >= 2, plan


def test_label_propagation_argmax_is_aggregate_not_window(spark, monkeypatch):
    """LPA's per-node argmax must stay a map-side-combinable aggregate
    (one deterministic mode() aggregate) — a refactor to row_number-over-window
    would pass every value check while adding a per-node SORT to every
    round at corpus scale. The operator localCheckpoints each round (the
    returned plan is just Scan ExistingRDD), so the guard captures the
    REAL per-round update plan through a localCheckpoint spy — never a
    private re-derivation of the round (the orient_by_degree lesson)."""
    # patch the CONCRETE class — pyspark.sql.DataFrame is the abstract
    # dispatcher in Spark 4 and classic overrides localCheckpoint
    from pyspark.sql.classic.dataframe import DataFrame as _DF

    from mapreduce_system_spark.operators.graph import label_propagation
    from mapreduce_system_spark.queries.graph import copurchase_pairs

    round_plans = []
    orig = _DF.localCheckpoint

    def spy(self, eager=True):
        round_plans.append(formatted_plan(self))
        return orig(self, eager=eager)

    monkeypatch.setattr(_DF, "localCheckpoint", spy)
    pr = copurchase_pairs(spark, SF_DIR)
    label_propagation(pr, src="u", dst="v", iterations=2).collect()
    assert len(round_plans) == 2
    for plan in round_plans:
        assert "CartesianProduct" not in plan, plan
        assert "Window" not in plan, plan
        assert "HashAggregate" in plan or "ObjectHashAggregate" in plan, plan


def test_rrf_fusion_coverage_reads_shared_tf(spark):
    """txt_rrf_fusion (r18): the coverage system derives from BM25's tf
    postings aggregate — ONE corpus tokenize pass feeds both fused
    systems (the shared-tf rewrite, bench_runs/r18_rrf_shared_tf_ab.json:
    29->27 executed stages, bit-identical output). Pins the rewrite's two
    structural facts (the r14 guard pinned the pre-r18 3-key dedup
    aggregate, which this rewrite removes BY DESIGN — tf already holds
    one row per distinct (doc_id, word), so coverage needs no dedup):
    (a) NO (query, doc_id, word) dedup aggregate anywhere — its
        reappearance means the second tokenize+distinct pass is back;
    (b) every BroadcastHashJoin against the 8-row query list probes an
        aggregated postings relation — a (doc_id, word)-keyed
        HashAggregate in its subtree — never raw exploded postings
        (joining q below the tf aggregate would fan the corpus explode
        out by query multiplicity before the first combine).
    Plus the cheap global proxies: no CartesianProduct, no SortMergeJoin
    (the BM25 subtree's one-row corpus-stats BroadcastNestedLoopJoin is
    the only nested-loop allowed)."""
    from tests.conftest import physical_subtrees
    from mapreduce_system_spark.registry import QUERIES

    df = QUERIES["txt_rrf_fusion"](spark, SF_DIR)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("BroadcastHashJoin") >= 3, plan
    q_bhjs = 0
    for name, head, subtree in physical_subtrees(df):
        if name == "HashAggregate" and "keys=[" in head:
            keys = head.split("keys=[", 1)[1].split("]", 1)[0]
            # (a) the pre-r18 dedup aggregate must stay gone
            assert not all(
                k in keys for k in ("query#", "doc_id#", "word#")
            ), head + "\n" + plan
        if name != "BroadcastHashJoin":
            continue
        # the createDataFrame query list materializes as a Scan
        # ExistingRDD (or LocalTableScan if Catalyst converts it)
        if not (
            "Scan ExistingRDD[query#" in subtree
            or "LocalTableScan [query#" in subtree
        ):
            continue
        q_bhjs += 1
        # (b) the probe side aggregates postings to (doc_id, word)
        # grain BEFORE meeting the query list — the tf aggregate's
        # keys appear inline in the subtree string
        assert re.search(
            r"HashAggregate\(keys=\[doc_id#\d+L?, word#\d+L?\]", subtree
        ), subtree
    assert q_bhjs >= 3, plan  # scored, dfq and coverage joins all hit q


def test_kcore_checkpoints_node_sized_and_unhinted(spark, monkeypatch):
    """graph_k_core (r15): the per-round localCheckpoint must pin the
    NODE-sized keep set, never the edge relation — the probe-caught r14
    defect (an E-sized checkpoint per round ran wall x10.3 at x10
    edges, commit ec8b937). Captured through the localCheckpoint spy
    (the LPA guard's mechanism): every checkpointed relation must be
    single-column [u]. And the keep-set broadcast hint must be GATED on
    the measured keep count (ADVICE r14 #1, measured r15: hint-free AQE
    does NOT convert these joins — x3.89 vs x2.5 on the 10x probe —
    while an unconditional hint is the billion-node driver-OOM failure
    mode): present at fixture scale, absent when the cap is 0."""
    from pyspark.sql.classic.dataframe import DataFrame as _DF

    from mapreduce_system_spark.operators.graph import k_core_peel
    from mapreduce_system_spark.queries.graph import copurchase_pairs_supported

    checkpointed: list[list[str]] = []
    orig = _DF.localCheckpoint

    def spy(self, eager=True):
        checkpointed.append(self.columns)
        return orig(self, eager=eager)

    monkeypatch.setattr(_DF, "localCheckpoint", spy)
    pr = copurchase_pairs_supported(spark, SF_DIR, 2)
    out = k_core_peel(
        pr, 3, src="u", dst="v", rounds=3, edges_undirected_distinct=True
    )
    logical = out._jdf.queryExecution().optimizedPlan().toString()
    # fixture keep sets are tiny — the gate must have applied the hint
    assert "strategy=broadcast" in logical, logical
    out.collect()
    assert len(checkpointed) == 3, checkpointed
    for cols in checkpointed:
        assert cols == ["u"], cols
    # cap 0 models the billion-node regime: the gate must fall back to
    # plain semi-joins (values identical — same recurrence either way)
    capped = k_core_peel(
        pr, 3, src="u", dst="v", rounds=3, edges_undirected_distinct=True,
        broadcast_max_nodes=0,
    )
    logical0 = capped._jdf.queryExecution().optimizedPlan().toString()
    assert "strategy=broadcast" not in logical0, logical0
    assert sorted((r.node, r.degree) for r in capped.collect()) == sorted(
        (r.node, r.degree) for r in out.collect()
    )


def test_interval_join_outer_is_equi_join(spark):
    """stream_interval_join_outer (r14): the LEFT OUTER interval join
    must stay a single equi-join on the key with the time bounds as
    residual conditions — never a range-only nested-loop."""
    from mapreduce_system_spark.registry import QUERIES

    _assert_equi_join_only(QUERIES["stream_interval_join_outer"](spark, SF_DIR))


def test_matryoshka_profile_is_single_scan_no_join(spark):
    """emb_matryoshka_profile (r14): one embeddings scan, one aggregate —
    the prefix folds are map-side expressions; any join or second scan
    means the cumulative-slice algebra regressed to per-prefix scans."""
    from mapreduce_system_spark.registry import QUERIES

    df = QUERIES["emb_matryoshka_profile"](spark, SF_DIR)
    plan = formatted_plan(df)
    for op in ("Join", "CartesianProduct"):
        assert op not in plan, plan
    # one Location line per scan detail block (the tree node + its
    # detail section both say "Scan parquet", so count anchors instead)
    assert plan.count("Location: InMemoryFileIndex") == 1, plan


def test_two_stage_windowed_is_two_aggregates_one_scan(spark):
    """stream_two_stage_windowed (r15): the chained windowed aggregate
    must stay exactly TWO hash aggregations over ONE events scan — a
    refactor that joins the inner counts back to raw events (the
    naive 'peak quarter per hour' spelling) or windows over raw rows
    would add a corpus-sized join/sort that the streaming twin could
    never run with bounded state."""
    from mapreduce_system_spark.registry import QUERIES

    df = QUERIES["stream_two_stage_windowed"](spark, SF_DIR)
    plan = formatted_plan(df)
    for op in ("Join", "CartesianProduct", "Window"):
        assert op not in plan, plan
    assert plan.count("Location: InMemoryFileIndex") == 1, plan


def test_funnel_time_bounded_is_lazy_aggregates_no_window(spark):
    """rel_funnel_time_bounded (r15): the funnel must stay a union of
    per-step one-row aggregates over filtered scans — no Window over
    raw events (the per-user row_number spelling that sorts the whole
    stream), no CartesianProduct beyond the one-row entry-count
    broadcast (BroadcastNestedLoopJoin over 1 row is the documented
    stage_row shape)."""
    from mapreduce_system_spark.registry import QUERIES

    df = QUERIES["rel_funnel_time_bounded"](spark, SF_DIR)
    plan = formatted_plan(df)
    assert "Window" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    # each union branch re-derives its stage chain (fresh7e's accepted
    # shape): stage i scans events i times, plus the entry branch —
    # 1+2+3+1 = 7 pushdown-pruned scans for the 3-step funnel; anything
    # above that means a new unshared subtree crept in
    assert plan.count("Location: InMemoryFileIndex") <= 7, plan
    assert "collect_list" not in plan, plan


def test_bloom_prefilter_positions_stay_bounded(spark):
    """dedup_bloom_prefilter (r15): both position relations must reach
    the verdict through equi-joins on pos/key — no CartesianProduct, no
    corpus-vocabulary sort; the k probes are a map-side explode
    (generator), never a join against a probe table."""
    from mapreduce_system_spark.registry import QUERIES

    df = QUERIES["dedup_bloom_prefilter"](spark, SF_DIR)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "Generate" in plan, plan  # the explode of the k probe slots
    _assert_equi_join_only(df)


def test_histsketch_total_merge_reads_sketch_not_raw(spark):
    """histogram_sketch_rollup (staged r14): the plan may scan the raw
    relation only through the cached (grp, v) count — the TOTAL branch
    merges bin counts, so at most ONE scan of the source appears (the
    InMemoryRelation fans out to every branch)."""
    from mapreduce_system_spark.operators.histsketch import histogram_sketch_rollup
    from mapreduce_system_spark import caches

    docs = spark.createDataFrame(
        [("a", 1.0), ("b", 2.0)], "grp string, v double"
    )
    try:
        df = histogram_sketch_rollup(docs, "grp", "v", 0.0, 10.0, bins=4)
        plan = formatted_plan(df)
        assert plan.count("InMemoryTableScan") >= 2, plan
        _assert_equi_join_only(df)
    finally:
        caches.release()


def test_funnel_unbounded_is_lazy_aggregates_no_window(spark):
    """rel_funnel_conversion (VERDICT r15 #7): the REGISTERED unbounded
    funnel was rewritten fully lazy post-r15-seal (commit 5bc6b4f — one
    job, a union of per-step one-row aggregates, no driver actions);
    pin that shape like the bounded variant's guard so a refactor
    cannot silently reintroduce the eager per-step counts. No Window
    over raw events, no CartesianProduct, no collect_list; each union
    branch re-derives its stage chain (stage i scans events i times,
    3-step funnel -> 1+2+3 = 6 pushdown-pruned scans max)."""
    from mapreduce_system_spark.registry import QUERIES

    df = QUERIES["rel_funnel_conversion"](spark, SF_DIR)
    plan = formatted_plan(df)
    assert "Window" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert plan.count("Location: InMemoryFileIndex") <= 6, plan
    assert "collect_list" not in plan, plan
    # the union of 3 one-row stage aggregates: exactly 3 Union children
    # carrying the literal step ids survive to the physical plan
    assert "Union" in plan, plan


def test_interval_join_full_is_equi_join(spark):
    """stream_interval_join_full (r16): the FULL OUTER interval join
    must stay a single equi-join on the key with the time bounds as
    residual conditions — a range-only nested-loop would pass the
    fixture gate while turning O(n^2) at scale, and the streaming twin
    could not evict state at all without the key equality."""
    from mapreduce_system_spark.registry import QUERIES

    df = QUERIES["stream_interval_join_full"](spark, SF_DIR)
    plan = formatted_plan(df)
    _assert_equi_join_only(df)
    assert "FullOuter" in plan, plan


def test_components_jump_no_cartesian_no_global_window(spark):
    """graph_components_jump (r16): per round one edge-keyed equi-join,
    one min aggregate, one node-sized self-join — never a cartesian;
    and the only Window is the per-customer lag (hash-partitioned by
    custkey), never a single-partition global window."""
    from mapreduce_system_spark import caches
    from mapreduce_system_spark.registry import QUERIES

    try:
        df = QUERIES["graph_components_jump"](spark, SF_DIR)
        plan = formatted_plan(df)
        _assert_equi_join_only(df)
        # the recurrence's eager checkpoints truncate lineage, so the
        # final plan shows only the census over checkpointed blocks —
        # assert it carries no single-partition stage either
        assert "Exchange SinglePartition" not in plan, plan
    finally:
        caches.release()
    # the lag window that BUILDS the chain must be key-partitioned
    # (hash by o_custkey), never the textbook global row_number — check
    # the chain construction's own plan (fresh15's spelling verbatim)
    from pyspark.sql import Window as W

    orders = load_table(
        spark, SF_DIR, "orders",
        columns=["o_orderkey", "o_custkey", "o_orderdate"],
    )
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    chain = (
        orders.select(
            (F.col("o_custkey") * 1024 + F.row_number().over(w) - 1).alias("id")
        )
        .where(F.col("id") % 1024 != 0)
        .select((F.col("id") - 1).alias("id_a"), F.col("id").alias("id_b"))
    )
    cplan = formatted_plan(chain)
    assert "Window" in cplan, cplan
    assert "Exchange SinglePartition" not in cplan, cplan
    assert "hashpartitioning(o_custkey" in cplan, cplan


def test_cms_audit_equi_joins_and_bounded_sketch_side(spark):
    """agg_cms_heavy_hitters (r16): the estimate is an equi-join of the
    query keys' d cells against the d*w-bounded sketch — no cartesian,
    no nested loop; the d-row explode is map-side (no join fans the
    token stream against itself)."""
    from mapreduce_system_spark.registry import QUERIES

    _assert_equi_join_only(QUERIES["agg_cms_heavy_hitters"](spark, SF_DIR))


def test_sorted_neighborhood_no_cartesian_no_single_partition_window(spark):
    """operators/blocking.py (staged r16): the design's two claims —
    candidates from a banded integer EQUI-join (never all-pairs), and
    the global position from a pid-partitioned window (never the
    textbook single-partition row_number). A refactor to either
    naive shape passes fixture values while dying at scale."""
    from mapreduce_system_spark import caches
    from mapreduce_system_spark.operators.blocking import (
        sorted_neighborhood_pairs,
    )

    docs = load_table(spark, SF_DIR, "documents", columns=["doc_id", "text"])
    base = docs.select(
        F.col("doc_id").alias("rid"),
        F.lower(F.substring("text", 1, 24)).alias("bkey"),
    )
    try:
        df = sorted_neighborhood_pairs(base, "rid", "bkey", window=3)
        plan = formatted_plan(df)
        _assert_equi_join_only(df)
        assert "Window" in plan, plan
        # the pid window must not run on a SinglePartition exchange
        assert "Exchange SinglePartition" not in plan, plan
    finally:
        caches.release()


def test_dedup_sorted_neighborhood_registered_plan_shape(spark):
    """dedup_sorted_neighborhood (r17): the REGISTERED composition —
    blocking pairs + two fingerprint equi-joins — must stay cartesian-
    free end to end, and the position machinery must never collapse to
    a single-partition window (the operator-level guard above checks
    the bare operator; this one checks what the driver actually runs)."""
    from mapreduce_system_spark import caches
    from mapreduce_system_spark.registry import QUERIES

    try:
        df = QUERIES["dedup_sorted_neighborhood"](spark, SF_DIR)
        plan = formatted_plan(df)
        _assert_equi_join_only(df)
        assert "Window" in plan, plan
        assert "Exchange SinglePartition" not in plan, plan
    finally:
        caches.release()


def test_kneser_ney_registered_joins_stay_keyed(spark):
    """txt_kneser_ney_surprisal (r17): all five count tables join back
    by their OWN keys (w1 / w2 / (w1, w2)) with no broadcast hints —
    web-scale vocabularies are not broadcast-sized; the ONLY nested-
    loop join is the documented one-row n1p_all broadcast (the
    bigram-surprisal precedent). No cartesian anywhere."""
    from mapreduce_system_spark.plans.checks import formatted_plan as fp
    from mapreduce_system_spark.registry import QUERIES

    plan = fp(QUERIES["txt_kneser_ney_surprisal"](spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    # formatted plans print each node twice (tree line + "(NN) Op"
    # detail header) — count the detail headers
    n_bnlj = sum(
        1
        for ln in plan.splitlines()
        if ln.strip().startswith("(") and "BroadcastNestedLoopJoin" in ln
    )
    assert n_bnlj <= 1, plan
