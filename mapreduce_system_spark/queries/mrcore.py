"""§2a MapReduce-core workloads: the reference's own surface.

The OSDI'04 workloads the reference implements or cites — word count
(its worked example, README.MD:25-53), grep, sort, inverted index, key
counts — plus its reduce contract (the full sorted value list per key
folded to a string, worker.go:161-165), the generic ``mapf``/``reducef``
contract itself, and a whole-file text-sink round trip. Each carries a
DuckDB oracle over the same corpus.

Scale shape: word count and key counts are partial+final hash aggregates
(the combiner the reference omits, README.MD:31-38); the sort's global
top-k runs as ``TakeOrderedAndProject`` (per-partition top-k, driver merge
of k × partitions rows) — no global sort, no shuffle of the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from mapreduce_system_spark.operators import mapreduce as MR
from mapreduce_system_spark.registry import register
from mapreduce_system_spark.sources.tables import load_table


# ---------------------------------------------------------------------------
# §2a MapReduce-core workloads (the reference's own surface)
# ---------------------------------------------------------------------------
_WORD_COUNT_SQL = r"""
SELECT word, count(*) AS cnt
FROM (SELECT unnest(string_split_regex(lower(text), '\W+')) AS word FROM documents)
WHERE word <> ''
GROUP BY word
ORDER BY word
"""


@register("mr_word_count", _WORD_COUNT_SQL)
def q_word_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: the reference's worked word-count example (README.MD:25-53)."""
    return MR.word_count(load_table(spark, sf_dir, "documents", columns=["text"]))


_GREP_PATTERN = r"table (scan|sort)"

_GREP_SQL = rf"""
SELECT doc_id, text FROM documents WHERE regexp_matches(text, '{_GREP_PATTERN}')
ORDER BY doc_id
"""


@register("mr_grep", _GREP_SQL)
def q_grep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed grep (OSDI'04 §2 workload; reference cites paper README.MD:5)."""
    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "text"])
    return MR.grep(docs, _GREP_PATTERN).orderBy("doc_id")


_SORT_SQL = """
SELECT l_orderkey, l_linenumber, round(l_extendedprice, 2) AS price,
       CAST(row_number() OVER (ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS BIGINT) AS rnk
FROM lineitem
ORDER BY rnk
LIMIT 100
"""


@register("mr_sort_topn", _SORT_SQL)
def q_sort_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed sort (paper workload; per-partition sort in worker.go:153).

    Global order encoded in ``rnk`` so the order-insensitive hash still
    verifies ordering. Unique tie-break (orderkey, linenumber) keeps it
    deterministic. limit+orderBy compiles to TakeOrderedAndProject — the
    scalable top-n physical op (no global single-partition sort).
    """
    from mapreduce_system_spark.operators.relational import top_k_global

    li = load_table(spark, sf_dir, "lineitem", columns=["l_orderkey", "l_linenumber", "l_extendedprice"])
    order = [F.col("l_extendedprice").desc(), F.col("l_orderkey"), F.col("l_linenumber")]
    return (
        top_k_global(li, order, 100)
        .withColumn("rnk", F.row_number().over(W.orderBy(*order)))
        .select(
            "l_orderkey",
            "l_linenumber",
            F.round("l_extendedprice", 2).alias("price"),
            F.col("rnk").cast("long").alias("rnk"),
        )
        .orderBy("rnk")
    )


_INVERTED_SQL = r"""
WITH pairs AS (
  SELECT DISTINCT word, doc_id
  FROM (SELECT unnest(string_split_regex(lower(text), '\W+')) AS word, doc_id FROM documents)
  WHERE word <> ''
)
SELECT word,
       string_agg(doc_id::VARCHAR, ',' ORDER BY doc_id) AS postings,
       CAST(count(*) AS BIGINT) AS n_docs
FROM pairs GROUP BY word ORDER BY word
"""


@register("mr_inverted_index", _INVERTED_SQL)
def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted index / reverse-link-graph (OSDI'04 §2 workload)."""
    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "text"])
    idx = MR.inverted_index(docs)
    return idx.select(
        "word",
        F.array_join(F.transform("postings", lambda x: x.cast("string")), ",").alias("postings"),
        F.col("df").alias("n_docs"),
    ).orderBy("word")


_KEYCOUNT_SQL = """
SELECT event_type, count(*) AS cnt FROM events GROUP BY event_type ORDER BY event_type
"""


@register("mr_key_count", _KEYCOUNT_SQL)
def q_key_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL/key access-frequency count (OSDI'04 §2 workload)."""
    ev = load_table(spark, sf_dir, "events", columns=["event_type"])
    return MR.key_access_count(ev, "event_type")


_FOLD_SQL = """
SELECT l_orderkey,
       string_agg(l_linenumber::VARCHAR, ',' ORDER BY l_linenumber) AS folded,
       count(*) AS n_values
FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey
"""


@register("mr_per_key_fold", _FOLD_SQL)
def q_per_key_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference reduce contract: full sorted value list per key folded to a
    string (worker.go:161-165)."""
    li = load_table(spark, sf_dir, "lineitem", columns=["l_orderkey", "l_linenumber"])
    return MR.per_key_fold(li, "l_orderkey", "l_linenumber")


_POSTING_PAIRS_SQL = r"""
SELECT DISTINCT word, doc_id
FROM (SELECT unnest(string_split_regex(lower(text), '\W+')) AS word, doc_id FROM documents)
WHERE word <> ''
ORDER BY word, doc_id
"""


@register("mr_posting_pairs", _POSTING_PAIRS_SQL)
def q_posting_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-path inverted index: distinct (word, doc_id) pairs — the
    representation that never holds a posting list in one task's memory
    (the registered array form ``mr_inverted_index`` is the fidelity twin).
    """
    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "text"])
    return MR.posting_pairs(docs).orderBy("word", "doc_id")


_GENERIC_WC_SQL = r"""
SELECT word AS key, CAST(count(*) AS VARCHAR) AS value
FROM (SELECT unnest(string_split_regex(lower(text), '\W+')) AS word FROM documents)
WHERE word <> ''
GROUP BY word
ORDER BY key
"""


def _wc_mapf(fname: str, content: str) -> list[tuple[str, str]]:
    import re

    # re.ASCII: Python's \W is Unicode-aware by default, but the oracle
    # (DuckDB RE2) and the JVM word-count twin both treat \W as ASCII —
    # without the flag an accented character tokenizes differently across
    # the three engines.
    if content is None:
        # a NULL text row must map to zero pairs, matching tokens() /
        # the oracle's unnest-over-NULL — not crash the Arrow map stage
        return []
    return [(w, "1") for w in re.split(r"\W+", content.lower(), flags=re.ASCII) if w]


def _wc_reducef(key: str, values: list[str]) -> str:
    return str(len(values))


@register("mr_generic_contract_word_count", _GENERIC_WC_SQL)
def q_generic_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's raw (mapf, reducef) user contract (worker.go:51,
    plugin-injected per README.MD:82) run through the Arrow-batched
    generic engine — word count as the canonical program, verified against
    the declarative oracle."""
    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "text"])
    files = docs.select(
        F.col("doc_id").cast("string").alias("file"), F.col("text").alias("content")
    )
    return MR.map_reduce_scalable(files, _wc_mapf, _wc_reducef).orderBy("key")


@register("mr_whole_text_files_wc", _WORD_COUNT_SQL)
def q_whole_text_files_wc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word count whose source is the reference's NATIVE input contract —
    whole text files read as (file, content) pairs (worker.go:94-104) —
    not the parquet stand-in.

    The corpus is staged once per (sf, run) through the engine's own text
    sink (``df.write.text`` — the same partitioned-file + rename-commit
    protocol as the reference's output, coordinator.go:50-79), then read
    back with ``wholeTextFiles``. Concatenating documents into per-
    partition files preserves word counts exactly: the newline joining two
    documents is a ``\\W`` token boundary, and empty tokens are filtered.
    Oracle: the same word-count SQL over the documents table.
    """
    from pathlib import Path

    # path is per-Spark-application (applicationId), not just per-sf:
    # two concurrent sessions at the same sf would otherwise race one
    # session's overwrite against the other's wholeTextFiles read.
    app = spark.sparkContext.applicationId
    staged = f"/tmp/spark_graft_wtf_{Path(sf_dir).name}_{app}"
    # reap stagings from long-dead applications so the per-app isolation
    # doesn't accumulate corpus copies in /tmp (policy + rationale:
    # caches.reap_stale_stagings)
    from mapreduce_system_spark.caches import reap_stale_stagings

    reap_stale_stagings(
        f"spark_graft_wtf_{Path(sf_dir).name}_", Path(staged).name
    )
    docs = load_table(spark, sf_dir, "documents", columns=["text"])
    # text sink rejects nulls; an empty line contributes zero tokens on
    # both engines, so the oracle is unaffected.
    docs.select(F.coalesce(F.col("text"), F.lit("")).alias("text")).write.mode(
        "overwrite"
    ).text(staged)
    from mapreduce_system_spark.sources.text import whole_text_files

    files = whole_text_files(spark, staged + "/part-*")
    return MR.word_count(files, "content")
