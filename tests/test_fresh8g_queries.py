"""Round-8 fresh8g queries — semantic pins beyond the DuckDB oracle:
one-pass profiler arithmetic, NOT EXISTS decorrelation, argmax-mode
determinism, and bigram-count bookkeeping."""

from __future__ import annotations

from collections import Counter

from pyspark.sql import functions as F

from mapreduce_system_spark.plans.checks import formatted_plan
from tests.conftest import SF_DIR, SF_DIR_MID

# ---------------------------------------------------------------------------
# rel_table_profile
# ---------------------------------------------------------------------------


def test_table_profile_matches_direct_aggregates(spark):
    from mapreduce_system_spark.queries.relational import q_table_profile
    from mapreduce_system_spark.sources.tables import load_table

    rows = {r["col"]: r for r in q_table_profile(spark, SF_DIR_MID).collect()}
    orders = load_table(spark, SF_DIR_MID, "orders")
    n = orders.count()
    assert set(rows) == {
        "o_orderkey", "o_custkey", "o_totalprice",
        "o_orderstatus", "o_orderpriority", "o_orderdate",
    }
    for r in rows.values():
        assert r["n_rows"] == n
        assert r["n_nulls"] == 0  # fixtures carry no nulls
        assert 0 < r["n_distinct"] <= n
    assert rows["o_orderkey"]["n_distinct"] == n  # primary key
    assert rows["o_orderstatus"]["n_distinct"] == 3
    # numeric extrema/mean agree with a direct aggregate
    direct = orders.agg(
        F.round(F.min("o_totalprice").cast("double"), 2).alias("mn"),
        F.round(F.max("o_totalprice").cast("double"), 2).alias("mx"),
        F.round(F.avg("o_totalprice"), 4).alias("avg"),
    ).collect()[0]
    tp = rows["o_totalprice"]
    assert tp["min_num"] == direct["mn"]
    assert tp["max_num"] == direct["mx"]
    assert tp["mean"] == direct["avg"]
    assert tp["min_s"] is None and tp["max_s"] is None
    st = rows["o_orderstatus"]
    assert st["min_num"] is None and st["mean"] is None
    assert st["min_s"] == "F" and st["max_s"] == "P"


def test_table_profile_scan_and_aggregate_shape(spark):
    """The profiler reads orders through ONE wide scan (the Expand-based
    multi-count-distinct — never k re-scans) plus ONE slim string-only
    pass (r17: string min/max buffers are immutable, and folding them
    into the mega-aggregate demoted the whole thing — Expanded distinct
    rows included — to SortAggregate with a sort of every expanded row;
    split out, the mega-aggregate hash-aggregates unsorted and the slim
    pass is grouping-free, hence sort-free. A/B 0.59x:
    bench_runs/r17_table_profile_ab.json). Pins the SPECIFIC regression
    the split guards against (ADVICE r17: not brittle node counts over
    the flat plan): (a) the Expand rows must never sit under a
    SortAggregate — that is the demotion; (b) no Sort node may sit
    below the Expand — that is the demotion's cost; (c) the slim pass's
    scan must stay pruned to exactly the string columns."""
    from mapreduce_system_spark.queries.relational import _STR_COLS, q_table_profile
    from mapreduce_system_spark.plans.checks import physical_subtrees

    df = q_table_profile(spark, SF_DIR)
    nodes = list(physical_subtrees(df))
    # the multi-count-distinct shape is present at all
    assert any(name == "Expand" for name, _, _ in nodes)
    # (a) no SortAggregate anywhere above the Expand subtree
    for name, _, subtree in nodes:
        if name == "SortAggregate":
            assert "Expand" not in subtree, subtree
    # (b) no Sort below the Expand (the final output ORDER BY sits above)
    sort_heads = [head for name, head, _ in nodes if name == "Sort"]
    for name, _, subtree in nodes:
        if name == "Expand":
            for sh in sort_heads:
                assert sh not in subtree, subtree
    # (c) the slim pass reads ONLY the string columns (column pruning held)
    plan = formatted_plan(df)
    slim_schemas = [
        seg.split("\n", 1)[0]
        for seg in plan.split("ReadSchema: ")[1:]
        if all(c in seg.split("\n", 1)[0] for c in _STR_COLS)
        and "o_orderkey" not in seg.split("\n", 1)[0]
    ]
    assert slim_schemas, plan


# ---------------------------------------------------------------------------
# rel_not_exists_subquery
# ---------------------------------------------------------------------------


def test_not_exists_equals_dataframe_anti_join(spark):
    from mapreduce_system_spark.queries.relational import q_not_exists_subquery
    from mapreduce_system_spark.sources.tables import load_table

    got = q_not_exists_subquery(spark, SF_DIR_MID)
    cust = load_table(
        spark, SF_DIR_MID, "customer",
        columns=["c_custkey", "c_mktsegment", "c_acctbal"],
    )
    open_orders = (
        load_table(spark, SF_DIR_MID, "orders", columns=["o_custkey", "o_orderstatus"])
        .where(F.col("o_orderstatus") == "O")
        .select("o_custkey")
    )
    manual = (
        cust.join(open_orders, cust["c_custkey"] == open_orders["o_custkey"], "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").cast("long").alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("acctbal_sum"),
        )
    )
    assert got.exceptAll(manual).count() == 0
    assert manual.exceptAll(got).count() == 0


def test_not_exists_plan_is_anti_join_no_subquery(spark):
    from mapreduce_system_spark.queries.relational import q_not_exists_subquery

    plan = formatted_plan(q_not_exists_subquery(spark, SF_DIR))
    assert "LeftAnti" in plan, plan
    assert "Subquery" not in plan, plan


# ---------------------------------------------------------------------------
# agg_grouped_mode_argmax
# ---------------------------------------------------------------------------


def test_grouped_mode_matches_python_counter_with_tie_contract(spark):
    from mapreduce_system_spark.queries.aggregates import q_grouped_mode_argmax
    from mapreduce_system_spark.sources.tables import load_table

    ev = load_table(spark, SF_DIR, "events", columns=["user_id", "event_type"]).collect()
    counts: dict[int, Counter] = {}
    for r in ev:
        counts.setdefault(r["user_id"], Counter())[r["event_type"]] += 1
    expected = {
        uid: max(c.items(), key=lambda kv: (kv[1], kv[0]))  # count, then type DESC
        for uid, c in counts.items()
    }
    got = q_grouped_mode_argmax(spark, SF_DIR).collect()
    assert len(got) == len(expected)
    for r in got:
        etype, cnt = expected[r["user_id"]]
        assert r["mode_type"] == etype
        assert r["mode_cnt"] == cnt


def test_grouped_mode_plan_has_no_window(spark):
    """The scale contract: two hash aggregates, no Window / per-key sort
    of the raw event stream."""
    from mapreduce_system_spark.queries.aggregates import q_grouped_mode_argmax

    plan = formatted_plan(q_grouped_mode_argmax(spark, SF_DIR))
    assert "Window" not in plan, plan
    assert "partial_max" in plan or "HashAggregate" in plan


# ---------------------------------------------------------------------------
# txt_bigram_surprisal
# ---------------------------------------------------------------------------


def test_bigram_surprisal_bookkeeping(spark):
    """Each doc with ≥2 tokens appears with exactly token_count−1
    bigrams; scores are positive (smoothed probabilities < 1)."""
    from mapreduce_system_spark.queries.text import q_bigram_surprisal
    from mapreduce_system_spark.functions.text import tokens
    from mapreduce_system_spark.sources.tables import load_table

    docs = load_table(spark, SF_DIR, "documents", columns=["doc_id", "text"])
    tok_counts = {
        r["doc_id"]: r["n"]
        for r in docs.select("doc_id", F.size(tokens("text")).alias("n")).collect()
    }
    got = q_bigram_surprisal(spark, SF_DIR).collect()
    expected_docs = {d for d, n in tok_counts.items() if n >= 2}
    assert {r["doc_id"] for r in got} == expected_docs
    for r in got:
        assert r["n_bigrams"] == tok_counts[r["doc_id"]] - 1
        assert r["bigram_surprisal"] > 0


def test_bigram_surprisal_orders_transitions_not_words(spark):
    """Sanity of the LM direction: common-word docs can still score high
    — the metric must not simply mirror unigram surprisal. Pin a weak
    but real property: the two scores are not identical as multisets."""
    from mapreduce_system_spark.queries.text import q_unigram_surprisal
    from mapreduce_system_spark.queries.text import q_bigram_surprisal

    uni = {
        r["doc_id"]: r["surprisal"]
        for r in q_unigram_surprisal(spark, SF_DIR).collect()
    }
    bi = {
        r["doc_id"]: r["bigram_surprisal"]
        for r in q_bigram_surprisal(spark, SF_DIR).collect()
    }
    common = set(uni) & set(bi)
    assert common
    assert any(abs(uni[d] - bi[d]) > 1e-6 for d in common)
