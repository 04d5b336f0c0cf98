"""Unit tests for the MapReduce-core operators (SURVEY.md §2a)."""

from __future__ import annotations

from pyspark.sql import Row

from mapreduce_system_spark.operators import mapreduce as MR
from mapreduce_system_spark.sources.tables import load_table


def docs_df(spark, rows):
    return spark.createDataFrame([Row(doc_id=i, text=t) for i, t in enumerate(rows)])


def test_word_count_golden(spark):
    """README.MD:25-53 golden shape: Hello 2 / is 2 / my 1 / name 3."""
    df = docs_df(spark, ["Hello my name is", "name name Hello is"])
    got = [(r.word, r.cnt) for r in MR.word_count(df).collect()]
    assert got == [("hello", 2), ("is", 2), ("my", 1), ("name", 3)]


def test_word_count_empty_tokens_dropped(spark):
    df = docs_df(spark, ["  a,,b  !! a"])
    got = dict((r.word, r.cnt) for r in MR.word_count(df).collect())
    assert got == {"a": 2, "b": 1}


def test_grep(spark):
    df = docs_df(spark, ["spark table scan", "nothing here", "table sort fast"])
    got = sorted(r.doc_id for r in MR.grep(df, "table (scan|sort)").collect())
    assert got == [0, 2]


def test_distributed_sort_is_globally_ordered(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem", columns=["l_orderkey", "l_extendedprice"])
    rows = MR.distributed_sort(li, ["l_extendedprice"], ascending=False).limit(50).collect()
    prices = [r.l_extendedprice for r in rows]
    assert prices == sorted(prices, reverse=True)


def test_inverted_index(spark):
    df = docs_df(spark, ["cat dog", "dog fish", "dog cat"])
    idx = {r.word: (list(r.postings), r.df) for r in MR.inverted_index(df).collect()}
    assert idx["cat"] == ([0, 2], 2)
    assert idx["dog"] == ([0, 1, 2], 3)
    assert idx["fish"] == ([1], 1)


def test_per_key_fold_sorted_full_list(spark):
    df = spark.createDataFrame([(1, 3), (1, 1), (1, 2), (2, 9)], ["k", "v"])
    got = {r.k: (r.folded, r.n_values) for r in MR.per_key_fold(df, "k", "v").collect()}
    assert got == {1: ("1,2,3", 3), 2: ("9", 1)}


def test_generic_map_reduce_word_count(spark):
    """The reference's (mapf, reducef) contract end-to-end (worker.go:51)."""
    df = spark.createDataFrame(
        [("f1", "Hello my name is"), ("f2", "name name Hello is")], ["file", "content"]
    )

    def mapf(fname, content):
        import re

        return [(w, "1") for w in re.split(r"\W+", content.lower()) if w]

    def reducef(key, values):
        return str(len(values))

    out = {r.key: r.value for r in MR.map_reduce(spark, df, mapf, reducef, n_reduce=4).collect()}
    assert out == {"hello": "2", "is": "2", "my": "1", "name": "3"}


def _reference_map_reduce(rows, mapf, reducef):
    """The reference's contract in plain Python: map every row, group the
    non-null pairs by key, call ``reducef(k, sorted(values))``."""
    groups: dict[str, list[str]] = {}
    for k, v in rows:
        for ok, ov in mapf(k, v):
            if ok is not None and ov is not None:
                groups.setdefault(ok, []).append(ov)
    return {k: reducef(k, sorted(vs)) for k, vs in groups.items()}


def test_map_reduce_scalable_matches_rdd_variant(spark):
    """Both entry points equal the pure-Python reference on word count."""
    rows = [("f1", "Hello my name is"), ("f2", "name name Hello is")]
    df = spark.createDataFrame(rows, ["file", "content"])

    def mapf(fname, content):
        import re

        return [(w, "1") for w in re.split(r"\W+", content.lower()) if w]

    def reducef(key, values):
        return str(len(values))

    want = _reference_map_reduce(rows, mapf, reducef)
    scalable = {r.key: r.value for r in MR.map_reduce_scalable(df, mapf, reducef).collect()}
    laid_out = {r.key: r.value for r in MR.map_reduce(spark, df, mapf, reducef, n_reduce=4).collect()}
    assert scalable == laid_out == want == {"hello": "2", "is": "2", "my": "1", "name": "3"}


def test_map_reduce_scalable_echo_reduce_matches_rdd_variant(spark):
    """Both entry points hand reducef the keys and sorted value lists the
    pure-Python reference does. The reducef ECHOES its value list, so
    ordering drift (not just count drift) would fail."""
    rows = [("f1", "b a c a"), ("f2", "a c b b")]
    df = spark.createDataFrame(rows, ["file", "content"])

    def mapf(fname, content):
        # values count down, so emission order is never sorted order
        return [(w, f"{9 - i}:{fname}") for i, w in enumerate(content.split())]

    def reducef(key, values):
        return "|".join(values)  # sorted order is part of the contract

    want = _reference_map_reduce(rows, mapf, reducef)
    scalable = {r.key: r.value for r in MR.map_reduce_scalable(df, mapf, reducef).collect()}
    laid_out = {r.key: r.value for r in MR.map_reduce(spark, df, mapf, reducef).collect()}
    assert scalable == laid_out == want
    assert want["a"] == "6:f1|8:f1|9:f2"


def test_map_reduce_output_is_n_reduce_partitions_sorted_by_key(spark):
    """``map_reduce`` lays its output out like the reference's mr-out-*
    files: ``n_reduce`` partitions, each sorted by key, every key in one
    partition only."""
    keys = [f"k{i:02d}" for i in range(30)]
    df = spark.createDataFrame([("f", " ".join(reversed(keys)))], ["file", "content"])
    out = MR.map_reduce(
        spark, df, lambda f, c: [(w, "1") for w in c.split()],
        lambda k, vs: str(len(vs)), n_reduce=3,
    )
    parts = out.rdd.glom().map(lambda rows: [r.key for r in rows]).collect()
    assert len(parts) == 3
    assert all(p == sorted(p) for p in parts)
    assert sorted(k for p in parts for k in p) == keys


def test_map_reduce_scalable_values_in_python_sorted_order(spark):
    """The JVM sorts UTF-8 bytes and Python sorts code points; the lists
    reducef receives must be in Python ``sorted()`` order for non-ASCII
    and astral-plane strings too."""
    values = ["z", "é", "Z", "😀", "a", "ß", "Ω", "𝔸", "\uffff", "é"]
    df = spark.createDataFrame([("f", " ".join(values))], ["file", "content"])

    def mapf(fname, content):
        return [("k", v) for v in content.split()]

    def reducef(key, values):
        return "|".join(values)

    got = MR.map_reduce_scalable(df, mapf, reducef).collect()
    assert [(r.key, r.value) for r in got] == [("k", "|".join(sorted(values)))]


def test_map_reduce_scalable_small_arrow_batches(spark):
    """With 3 groups per Arrow batch, 20 keys span several reduce batches:
    each key is reduced exactly once with its whole value list, a None
    from reducef is a NULL value, and empty input is an empty frame."""
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    before = spark.conf.get(conf, None)
    spark.conf.set(conf, "3")
    try:
        keys = [f"k{i:02d}" for i in range(20)]
        df = spark.createDataFrame(
            [(f"f{j}", " ".join(keys)) for j in range(3)], ["file", "content"]
        )

        def mapf(fname, content):
            return [(w, fname) for w in content.split()]

        def reducef(key, values):
            return None if key == "k07" else "|".join(values)

        rows = MR.map_reduce_scalable(df, mapf, reducef).collect()
        assert sorted(r.key for r in rows) == keys
        got = {r.key: r.value for r in rows}
        assert got.pop("k07") is None
        assert set(got.values()) == {"f0|f1|f2"}

        empty = spark.createDataFrame([], "file string, content string")
        out = MR.map_reduce_scalable(empty, mapf, reducef)
        assert out.columns == ["key", "value"]
        assert out.collect() == []
    finally:
        if before is None:
            spark.conf.unset(conf)
        else:
            spark.conf.set(conf, before)


def test_generic_contract_mapf_tolerates_null_text():
    """A NULL documents.text row must map to zero pairs (the oracle's
    unnest-over-NULL), not crash the Arrow map stage."""
    from mapreduce_system_spark.queries.mrcore import _wc_mapf

    assert _wc_mapf("f", None) == []
    assert _wc_mapf("f", "A b!") == [("a", "1"), ("b", "1")]
