"""Training-data-pipeline queries over the documents corpus: cleaning,
packing, decontamination, chunking, sampling, splitting and mixing.

The single-op queries (quality, lang-id, dedup, token stats) prove each
primitive; the composite ones here prove the *composition* an LLM data
pipeline actually runs — and that the composition stays one Catalyst plan
(filters fused into the scan stage, one shuffle per keyed step) rather
than N separate jobs. All have exact DuckDB oracles built from the same
SQL fragments the single-op queries verify (``_textshared``). Sampling and
splitting are RNG-free: every draw is a pure integer function of an md5
bucket of the row key, so a sample is stable under re-runs,
re-partitioning and incremental ingest, with zero float divergence
between engines by construction.

- ``pipe_pack_sequences``: token-budget sequence packing — assign docs in
  deterministic order to fixed-budget training sequences by cumulative
  token count (contiguous fill, the concatenate-then-chunk packing).
- ``pipe_clean_corpus``: quality gate + language gate + exact-dedup
  survivor in one plan; per-source retention profile.
- ``pipe_decontaminate``: benchmark n-gram decontamination (broadcast
  semi-join of corpus shingles against a held-out split's gram set).
- ``pipe_chunk_documents``: overlapping token-window chunking (RAG /
  context-window prep) with the overlap-overhead profile.
- ``pipe_repetition_filter``: Gopher-style duplicate-token/bigram gates
  from exact integer counts.
- ``pipe_quota_mix``: per-source quota downsampling by deterministic hash
  rank (domain mixing).
- ``pipe_hash_sample`` / ``pipe_hash_split`` — deterministic sampling and
  train/val/test assignment by md5(doc_id) bucket (stable under re-runs,
  insertion-order-free, no RNG state to ship). Map-only plus a tiny
  rollup.
- ``pipe_group_kfold`` — leakage-free cross-validation folds: every
  DOCUMENT of a source lands in the same fold (fold is a pure md5 function
  of the source key), so near-duplicate documents from one source can
  never straddle train/eval. The group-aware sibling of the row-level
  ``pipe_hash_split``.
- ``pipe_stratified_sample`` — per-language stratified sampling with a
  fixed per-stratum target count: inclusion is the pure integer predicate
  ``md5_32(doc_id) * n_lang < target * 2^32`` — a deterministic
  Bernoulli(target/n_lang) draw keyed on the row id, so the stratum rates
  adapt to stratum sizes without any RNG state.
- ``pipe_weighted_sample`` — weighted sampling WITHOUT replacement by the
  Efraimidis–Spirakis A-ES scheme: each row gets key = u^(1/w) for uniform
  u in (0, 1] and weight w, and the k largest keys are an exact weighted
  sample. Corpus-mixture construction uses precisely this to over-sample
  high-value documents (here w = n_chars, the "prefer longer documents"
  mix) while staying reproducible: u derives from md5(doc_id). The
  reusable generalization (log-space scores that survive extreme weights,
  the per-epoch ``salt`` re-key) is ``operators/sampling.py``, which is
  deliberately not registered a second time: it would answer the same
  question.
- ``pipe_source_mix_weights`` — temperature-flattened source mixing (the
  multilingual/LLM data-mix formula w_s ∝ p_s^α, α = 0.5): each source's
  character share, the flattened sampling weight, and the expected
  document budget allocation. Pure aggregation over a handful of source
  rows after one scan.
- ``pipe_strip_boilerplate`` — CCNet-style per-source line-frequency
  stripping. The fixture's documents are single-block texts, so the query
  STAGES the condition deterministically (both engines spell the same
  concat): a per-source banner line on every doc and a footer on every
  even doc_id, then strips at ratio 0.5 — the banner and footer must come
  back out, the payload must survive byte-exactly, in order. Its only
  corpus-sized shuffles are one explode-aggregate and one anti-join on
  (source, line).
- ``pipe_incremental_dedup`` — the daily-ingest operation: which of
  today's batch documents are genuinely new vs already in the corpus?
  Fingerprint left-join of the (small) batch against the (huge) history —
  the incremental complement of ``dedup_exact``'s full-corpus pass and the
  read side of ``sink_merge_upsert``'s write path.
- ``pipe_source_manifest`` — dataset versioning: per-source document
  count, char volume, and an ORDER-INDEPENDENT content checksum (sum of
  32-bit md5 buckets of the per-doc fingerprints). Two manifests agree iff
  the per-source content multiset agrees — the cheap drift check run
  before/after every copy, compaction, or migration
  (``rel_snapshot_diff`` is the expensive follow-up that names the keys
  when checksums disagree).
- ``pipe_keep_latest_k`` — retention policy: keep each key's latest K
  changelog records. One ranked window whose ``rn <= K`` predicate Spark's
  window-group-limit optimization pushes INTO the sort, so each partition
  keeps a K-row heap per key instead of sorting everything it drops.
- ``udf_grouped_map_zscore`` — per-group z-score normalization through a
  GROUPED_MAP pandas transform (``groupBy().applyInPandas``), checked
  against the window-function SQL twin.

Reference contrast: sample rates and mix weights need two passes with a
join, and top-k sampling needs an ordering the reference lacks (its only
ordering is the per-reduce-partition key sort, worker.go:16-21,153) — the
reference's single map→reduce cannot express them (coordinator.go:126-141);
its closest primitive is the custom mapf hook (worker.go:51).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from mapreduce_system_spark.caches import tracked_cache
from mapreduce_system_spark.functions import text as TXT
from mapreduce_system_spark.functions.hashing import md5_bucket32, md5_bucket32_sql
from mapreduce_system_spark.operators.boilerplate import strip_boilerplate_lines
from mapreduce_system_spark.queries._textshared import (
    _STOPLIST,
    _TOKS,
    _docs,
    _marker_score_sql,
)
from mapreduce_system_spark.registry import register
from mapreduce_system_spark.sources.tables import load_table

# Sequence token budget. Small enough that the fixture corpus yields
# several sequences per source; the algebra is budget-independent.
_SEQ_BUDGET = 2048

_PACK_SQL = rf"""
WITH t AS (
  SELECT source, doc_id, len({_TOKS}) AS n FROM documents
), c AS (
  SELECT source, doc_id, n,
         sum(n) OVER (PARTITION BY source ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM t
)
SELECT source,
       CAST(floor((cum - n) / {_SEQ_BUDGET}.0) AS BIGINT) AS seq_id,
       count(*) AS n_docs,
       CAST(sum(n) AS BIGINT) AS seq_tokens
FROM c
GROUP BY source, seq_id
ORDER BY source, seq_id
"""


@register("pipe_pack_sequences", _PACK_SQL)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sequence packing: docs are laid out in (source,
    doc_id) order and cut into training sequences of ``_SEQ_BUDGET``
    tokens by cumulative count — ``seq_id = floor(tokens_before /
    budget)``, the deterministic concatenate-then-chunk packing.

    Plan shape: one scan, per-source window cumsum (one shuffle on
    source), one bounded aggregation. At 100 TB the window key must be
    finer than ``source`` to avoid one-task-per-source skew — partition by
    (source, shard) with per-shard budgets, same algebra."""
    docs = _docs(spark, sf_dir, columns=["source", "doc_id", "text"])
    w = W.partitionBy("source").orderBy("doc_id").rowsBetween(W.unboundedPreceding, W.currentRow)
    return (
        docs.select("source", "doc_id", TXT.token_count("text").alias("n"))
        .withColumn("cum", F.sum("n").over(w))
        .withColumn("seq_id", F.floor((F.col("cum") - F.col("n")) / _SEQ_BUDGET).cast("long"))
        .groupBy("source", "seq_id")
        .agg(F.count("*").alias("n_docs"), F.sum("n").alias("seq_tokens"))
        .orderBy("source", "seq_id")
    )


# Deterministic hash sampling: membership decided by a hash of the stable
# id, NOT by rand()/TABLESAMPLE — the only sampling that is reproducible
# across engines, runs, partitionings, and retries (a must when a 100 TB
# corpus is sampled incrementally: a doc's membership never changes as
# files arrive). First hex nibble of md5 < '2' ⇒ a fixed 1/8 of id space.
_SAMPLE_SQL = """
WITH s AS (
  SELECT source, doc_id
  FROM documents
  WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0', '1')
), t AS (
  SELECT source, count(*) AS n_total FROM documents GROUP BY source
)
SELECT t.source,
       coalesce(count(s.doc_id), 0) AS n_sampled,
       t.n_total,
       round(coalesce(count(s.doc_id), 0)::DOUBLE / t.n_total, 4) AS fraction
FROM t LEFT JOIN s ON s.source = t.source
GROUP BY t.source, t.n_total
ORDER BY t.source
"""


@register("pipe_hash_sample", _SAMPLE_SQL)
def q_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash sample (md5-nibble bucket, 2/16 of id space) with
    a per-source sampling-fraction profile.

    ``df.sample``/TABLESAMPLE are partition- and seed-dependent, so they
    can't be oracle-checked and — worse for a real pipeline — a row's
    membership changes across retries and repartitioning. Hashing the
    stable id makes the sample a pure function of the data, the property
    incremental 100 TB sampling needs. Plan: one scan feeding both the
    filtered count and the total (grouped partial aggs), broadcast join
    of two tiny per-source profiles."""
    docs = load_table(spark, sf_dir, "documents", columns=["source", "doc_id"])
    sampled = (
        docs.where(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1).isin("0", "1")
        )
        .groupBy("source")
        .agg(F.count("*").alias("n_sampled"))
    )
    totals = docs.groupBy("source").agg(F.count("*").alias("n_total"))
    return (
        totals.join(F.broadcast(sampled), "source", "left")
        .select(
            "source",
            F.coalesce(F.col("n_sampled"), F.lit(0)).alias("n_sampled"),
            "n_total",
            F.round(
                F.coalesce(F.col("n_sampled"), F.lit(0)) / F.col("n_total"), 4
            ).alias("fraction"),
        )
        .orderBy("source")
    )


_CLEAN_SQL = rf"""
WITH base AS (
  SELECT source, doc_id,
         md5(trim(regexp_replace(lower(text), '\W+', ' ', 'g'))) AS fp,
         length(text) AS n_chars,
         length(text) - length(regexp_replace(text, '[^\w \t\n\x0B\f\r]', '', 'g')) AS n_punct,
         {_TOKS} AS ts
  FROM documents
), feat AS (
  SELECT source, doc_id, fp,
         len(ts) AS n,
         n_punct::DOUBLE / greatest(n_chars, 1) AS punct_ratio,
         len(list_filter(ts, t -> list_contains({_STOPLIST}, t)))::DOUBLE
           / greatest(len(ts), 1) AS stopword_ratio,
         {_marker_score_sql('en')} AS s_en,
         {_marker_score_sql('es')} AS s_es,
         {_marker_score_sql('de')} AS s_de,
         {_marker_score_sql('fr')} AS s_fr
  FROM base
), scored AS (
  SELECT source, doc_id, fp, n,
         (CASE WHEN n BETWEEN 10 AND 100000 THEN 1.0 ELSE 0.0 END
        + CASE WHEN stopword_ratio >= 0.01 THEN 1.0 ELSE 0.0 END
        + CASE WHEN punct_ratio <= 0.2 THEN 1.0 ELSE 0.0 END) / 3.0 AS quality,
         CASE WHEN s_en > 0 AND s_en = greatest(s_en, s_es, s_de, s_fr) THEN 'en'
              WHEN s_es > 0 AND s_es = greatest(s_en, s_es, s_de, s_fr) THEN 'es'
              WHEN s_de > 0 AND s_de = greatest(s_en, s_es, s_de, s_fr) THEN 'de'
              WHEN s_fr > 0 AND s_fr = greatest(s_en, s_es, s_de, s_fr) THEN 'fr'
              ELSE 'und' END AS predicted
  FROM feat
), dedup AS (
  SELECT *, min(doc_id) OVER (PARTITION BY fp) AS min_id FROM scored
)
SELECT source,
       count(*) AS n_docs_kept,
       CAST(sum(n) AS BIGINT) AS tokens_kept
FROM dedup
WHERE doc_id = min_id AND quality > 0.5 AND predicted = 'en'
GROUP BY source
ORDER BY source
"""


@register("pipe_clean_corpus", _CLEAN_SQL)
def q_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus cleaning in ONE plan: quality gate (≥2 of 3
    checks), heuristic language gate (predicted 'en'), and exact-dedup
    survivorship (min doc_id per content fingerprint via a keyed window —
    no self-join), then a per-source retention profile.

    Plan shape: scan → per-row JVM expressions (fingerprint + quality +
    lang-id fused into the scan stage) → one shuffle on fp (window min) →
    filters → bounded aggregation on source. The scalar gates are
    evaluated BEFORE the shuffle only where semantics allow; the dedup
    window must see all rows, so the fp shuffle carries quality/lang
    columns — at 100 TB, push the cheap gates ahead of the window when
    survivorship should consider only clean docs (different policy, one
    line moved)."""
    docs = _docs(spark, sf_dir, columns=["source", "doc_id", "text"])
    w = W.partitionBy("fp")
    return (
        docs.select(
            "source",
            "doc_id",
            TXT.fingerprint("text").alias("fp"),
            TXT.token_count("text").alias("n"),
            TXT.quality_score("text").alias("quality"),
            TXT.lang_id("text").alias("predicted"),
        )
        .withColumn("min_id", F.min("doc_id").over(w))
        .where(
            (F.col("doc_id") == F.col("min_id"))
            & (F.col("quality") > 0.5)
            & (F.col("predicted") == "en")
        )
        .groupBy("source")
        .agg(F.count("*").alias("n_docs_kept"), F.sum("n").alias("tokens_kept"))
        .orderBy("source")
    )


# GROUPED_MAP (applyInPandas) surface with an exact oracle: per-group
# z-score normalization, profiled per group. The window-function SQL twin
# computes the identical algebra; doubles are rounded to 4 decimals on
# both sides (group mean/std agree to ~1e-12 relative between numpy and
# DuckDB, far inside the rounding).
_ZSCORE_SQL = """
WITH s AS (
  SELECT l_returnflag, l_extendedprice,
         avg(l_extendedprice) OVER (PARTITION BY l_returnflag) AS m,
         stddev_samp(l_extendedprice) OVER (PARTITION BY l_returnflag) AS sd
  FROM lineitem
), z AS (
  SELECT l_returnflag, (l_extendedprice - m) / sd AS z FROM s
)
SELECT l_returnflag,
       count(*) AS n,
       round(avg(abs(z)), 4) AS avg_abs_z,
       round(min(z), 4) AS min_z,
       round(max(z), 4) AS max_z
FROM z
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


def _zscore(pdf):
    v = pdf["l_extendedprice"]
    sd = v.std(ddof=1)
    # degenerate-group guard: a single-row group
    # has sd = NaN and a constant group sd = 0 — pandas would emit
    # NaN z-scores while the SQL oracle's stddev_samp/NULL division
    # yields NULL (aggregates then skip the rows). Emit None to pin
    # both engines to the same NULL answer.
    if sd != sd or sd == 0:
        pdf = pdf.assign(z=None)
    else:
        pdf = pdf.assign(z=(v - v.mean()) / sd)
    return pdf[["l_returnflag", "z"]]


@register("udf_grouped_map_zscore", _ZSCORE_SQL)
def q_grouped_map_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group z-score normalization through a GROUPED_MAP pandas
    transform (``groupBy().applyInPandas`` — whole group in, transformed
    frame out), profiled per group and checked against the window-function
    SQL identity.

    Honest scale contract (same as the GROUPED_AGG UDAF): each group is
    materialized in one task, so memory is O(max group size). For
    unbounded groups use the pure-SQL window formulation the oracle runs —
    registered here with the pandas path because GROUPED_MAP is the
    surface being verified; normalization that needs learned state per
    group (clipping quantiles, learned scalers) has no SQL form and this
    is its shape."""
    from mapreduce_system_spark.pyfiles import ensure_package_on_executors

    ensure_package_on_executors(spark)
    li = load_table(spark, sf_dir, "lineitem", columns=["l_returnflag", "l_extendedprice"])

    z = li.groupBy("l_returnflag").applyInPandas(_zscore, schema="l_returnflag string, z double")
    return (
        z.groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg(F.abs(F.col("z"))), 4).alias("avg_abs_z"),
            F.round(F.min("z"), 4).alias("min_z"),
            F.round(F.max("z"), 4).alias("max_z"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination: flag corpus documents sharing any word n-gram
# with a held-out benchmark set. The benchmark split is deterministic
# (md5-nibble of the stable id — same discipline as pipe_hash_sample) so
# membership is a pure function of the data. n = 5 on the fixture corpus;
# production decontamination uses 8-13-gram overlap, same algebra.
_DECON_N = 5
_DECON_SQL = r"""
WITH toks AS (
  SELECT source, doc_id,
         substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) = 'f' AS is_bench,
         list_filter(string_split_regex(lower(text), '\W+'), t -> t <> '') AS ts
  FROM documents
), sh AS (
  SELECT source, doc_id, is_bench,
         list_distinct([array_to_string(ts[i:i+4], ' ') for i in range(1, len(ts) - 3)]) AS sg
  FROM toks WHERE len(ts) >= 5
), bg AS (
  SELECT DISTINCT unnest(sg) AS g FROM sh WHERE is_bench
), cg AS (
  SELECT source, doc_id, unnest(sg) AS g FROM sh WHERE NOT is_bench
), contam AS (
  SELECT DISTINCT cg.source, cg.doc_id FROM cg JOIN bg USING (g)
), tot AS (
  SELECT source, count(*) AS n_docs FROM toks WHERE NOT is_bench GROUP BY source
)
SELECT t.source, t.n_docs,
       coalesce(count(c.doc_id), 0) AS n_contaminated,
       round(coalesce(count(c.doc_id), 0)::DOUBLE / t.n_docs, 4) AS contamination_rate
FROM tot t LEFT JOIN contam c ON c.source = t.source
GROUP BY t.source, t.n_docs
ORDER BY t.source
"""


@register("pipe_decontaminate", _DECON_SQL)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: per-source count of corpus documents that
    share at least one 5-gram shingle with the held-out benchmark split
    (md5-nibble 'f' of doc_id — deterministic, ~1/16 of id space).

    Plan shape: one scan feeding both sides; the benchmark gram set is
    DISTINCT-ed and **broadcast** (a benchmark suite is tiny next to a
    training corpus — the small-dim side of this join by construction), so
    the corpus side is a map-only broadcast LEFT SEMI join on the gram —
    no shuffle of exploded corpus grams. ``explode`` multiplies rows by
    grams/doc; the semi join collapses back to contaminated (source,
    doc_id) before the distinct. At 100 TB the only shuffled data is the
    contaminated-id set (distinct) and the per-source counts — both tiny.
    Division is one exact-integer divide per group, so the DuckDB oracle
    hash-matches bit-for-bit."""
    docs = _docs(spark, sf_dir, columns=["source", "doc_id", "text"])
    tagged = docs.select(
        "source",
        "doc_id",
        "text",
        (F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) == "f").alias("is_bench"),
    )
    # cache the PRE-explode shingle arrays: bench_grams and the
    # contaminated branch are independent plan subtrees, so without a
    # cache the scan AND the expensive shingle expression evaluate twice
    # per run (the same two-consumer shape operators/dedup.py caches
    # shingle_sets for — and, like there, the cache holds the compact
    # (keys, gram-array) rows: caching post-explode would multiply the
    # cached footprint by grams/doc with the key columns repeated per
    # gram, r10 review; explode itself is trivially cheap). Released by
    # the harness-level caches.release()
    gram_arrays = tracked_cache(
        tagged.select(
            "source",
            "doc_id",
            "is_bench",
            TXT.shingles("text", _DECON_N).alias("gs"),
        )
    )
    grams = gram_arrays.select(
        "source", "doc_id", "is_bench", F.explode("gs").alias("g")
    )
    bench_grams = grams.where(F.col("is_bench")).select("g").distinct()
    contaminated = (
        grams.where(~F.col("is_bench"))
        .join(F.broadcast(bench_grams), "g", "left_semi")
        .select("source", "doc_id")
        .distinct()
        .groupBy("source")
        .agg(F.count("*").alias("n_contaminated"))
    )
    totals = tagged.where(~F.col("is_bench")).groupBy("source").agg(F.count("*").alias("n_docs"))
    return (
        totals.join(F.broadcast(contaminated), "source", "left")
        .select(
            "source",
            "n_docs",
            F.coalesce(F.col("n_contaminated"), F.lit(0)).cast("long").alias("n_contaminated"),
            F.round(
                F.coalesce(F.col("n_contaminated"), F.lit(0)) / F.col("n_docs"), 4
            ).alias("contamination_rate"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# RAG-style chunking: overlapping token windows of size 32 / stride 24
# (fixture docs average ~54 tokens → 2-3 chunks each; production sizes are
# 256-1024 tokens, same algebra). ``overlap_factor`` = chunk-tokens over
# document-tokens — the storage/compute overhead the stride buys.
_CHUNK_SIZE = 32
_CHUNK_STRIDE = 24
_CHUNK_SQL = rf"""
WITH t AS (
  SELECT source, doc_id, len({_TOKS}) AS n FROM documents
), c AS (
  SELECT source, doc_id, n, unnest(range(0, n, {_CHUNK_STRIDE})) AS s
  FROM t WHERE n > 0
), d AS (
  SELECT source, doc_id, n,
         count(*) AS n_chunks,
         sum(least({_CHUNK_SIZE}, n - s)) AS chunk_tokens
  FROM c GROUP BY source, doc_id, n
)
SELECT source,
       count(*) AS n_docs,
       CAST(sum(n_chunks) AS BIGINT) AS n_chunks,
       CAST(sum(chunk_tokens) AS BIGINT) AS chunk_tokens,
       round(sum(chunk_tokens)::DOUBLE / sum(n), 4) AS overlap_factor
FROM d GROUP BY source
ORDER BY source
"""


@register("pipe_chunk_documents", _CHUNK_SQL)
def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (size 32, stride 24) — the RAG /
    context-window preprocessing step — profiled per source: chunk counts,
    chunk-token volume, and the overlap overhead factor.

    Chunk starts are ``sequence(0, n-1, stride)`` (Spark) ≡ ``range(0, n,
    stride)`` (DuckDB): every start < n, last chunk truncated to ``n -
    start`` tokens. Plan shape: scan → per-row token count → explode of a
    tiny int array (no text duplication — the chunk *boundaries* are
    computed, the text itself never leaves the row) → two bounded
    aggregations with map-side combine. Zero joins, one shuffle on
    (source, doc_id) collapsed immediately to per-source rows. At 100 TB
    the explode multiplies row count by ~n/stride but each row is 4 longs
    — the cheapest possible fan-out; materializing actual chunk text would
    instead slice the token array in the same pass."""
    docs = _docs(spark, sf_dir, columns=["source", "doc_id", "text"])
    n = F.col("n")
    chunks = (
        docs.select("source", "doc_id", TXT.token_count("text").alias("n"))
        .where(n > 0)
        .select(
            "source",
            "doc_id",
            "n",
            F.explode(
                F.sequence(F.lit(0).cast("long"), n - 1, F.lit(_CHUNK_STRIDE).cast("long"))
            ).alias("s"),
        )
        .groupBy("source", "doc_id", "n")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum(F.least(F.lit(_CHUNK_SIZE).cast("long"), n - F.col("s"))).alias("chunk_tokens"),
        )
    )
    return (
        chunks.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chunks").alias("n_chunks"),
            F.sum("chunk_tokens").alias("chunk_tokens"),
            F.round(F.sum("chunk_tokens") / F.sum("n"), 4).alias("overlap_factor"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Intra-document repetition (the Gopher/MassiveText repetition gates):
# duplicate-token and duplicate-bigram rates, aggregated per source from
# exact integer counts so the single per-group division is bit-identical
# across engines. A doc is flagged when >5% of its bigrams are repeats —
# integer form (ng - dg) * 20 > ng, no float threshold.
_REPETITION_SQL = rf"""
WITH toks AS (
  SELECT source, {_TOKS} AS ts FROM documents
), f AS (
  SELECT source,
         len(ts) AS nt,
         len(list_distinct(ts)) AS dt,
         greatest(len(ts) - 1, 0) AS ng,
         CASE WHEN len(ts) >= 2
              THEN len(list_distinct([array_to_string(ts[i:i+1], ' ') for i in range(1, len(ts))]))
              ELSE 0 END AS dg
  FROM toks
)
SELECT source,
       count(*) AS n_docs,
       round((sum(nt) - sum(dt))::DOUBLE / greatest(sum(nt), 1), 4) AS dup_token_rate,
       round((sum(ng) - sum(dg))::DOUBLE / greatest(sum(ng), 1), 4) AS dup_bigram_rate,
       count(*) FILTER ((ng - dg) * 20 > ng) AS n_flagged
FROM f GROUP BY source
ORDER BY source
"""


@register("pipe_repetition_filter", _REPETITION_SQL)
def q_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality gate: per-source duplicate-token and
    duplicate-bigram rates plus the count of documents whose bigram
    repetition exceeds 5% (the boilerplate/template-text signal the
    Gopher repetition rules cut on).

    All per-doc features are exact integer counts computed in ONE
    higher-order-function pass — the token array is let-bound
    (``transform(array(tokens), t -> ...)[0]``, the recorded HOF lesson)
    so the document is tokenized once, and the bigram list is let-bound
    again for its distinct-count. Plan shape: scan → per-row JVM
    expressions → one bounded aggregation; rates are formed by a single
    division of exact-integer sums per group (never an avg of per-row
    doubles, whose summation order would differ between engines). The
    flag threshold is pure integer arithmetic. Map-side combine keeps
    shuffled bytes at one row per (partition, source)."""
    docs = _docs(spark, sf_dir, columns=["source", "text"])

    def with_toks(toks):
        nt = F.size(toks)
        grams = F.when(
            nt >= 2,
            F.transform(
                F.sequence(F.lit(0), nt - 2),
                lambda i: F.concat_ws(" ", F.slice(toks, i + 1, 2)),
            ),
        ).otherwise(F.array().cast("array<string>"))

        def with_grams(gs):
            return F.struct(
                nt.cast("long").alias("nt"),
                F.size(F.array_distinct(toks)).cast("long").alias("dt"),
                F.greatest(nt - 1, F.lit(0)).cast("long").alias("ng"),
                F.size(F.array_distinct(gs)).cast("long").alias("dg"),
            )

        return F.transform(F.array(grams), with_grams)[0]

    feats = F.transform(F.array(TXT.tokens("text")), with_toks)[0]
    f = docs.select("source", feats.alias("f")).select(
        "source", F.col("f.nt").alias("nt"), F.col("f.dt").alias("dt"),
        F.col("f.ng").alias("ng"), F.col("f.dg").alias("dg"),
    )
    return (
        f.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(
                (F.sum("nt") - F.sum("dt")) / F.greatest(F.sum("nt"), F.lit(1)), 4
            ).alias("dup_token_rate"),
            F.round(
                (F.sum("ng") - F.sum("dg")) / F.greatest(F.sum("ng"), F.lit(1)), 4
            ).alias("dup_bigram_rate"),
            F.sum(
                F.when((F.col("ng") - F.col("dg")) * 20 > F.col("ng"), 1).otherwise(0)
            ).cast("long").alias("n_flagged"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Domain mixing via per-source quotas: keep a deterministic hash-ranked cap
# of documents per source — the "downsample the over-represented domain"
# step of corpus mixing. Rank by md5(doc_id) so the kept set is a pure
# function of the data (reproducible across runs/retries), with doc_id as
# the total-order tie-break.
_QUOTA = 10
_QUOTA_SQL = rf"""
WITH r AS (
  SELECT source, doc_id, len({_TOKS}) AS n,
         row_number() OVER (PARTITION BY source
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
  FROM documents
)
SELECT source,
       count(*) FILTER (rk <= {_QUOTA}) AS n_kept,
       CAST(coalesce(sum(n) FILTER (rk <= {_QUOTA}), 0) AS BIGINT) AS tokens_kept,
       count(*) AS n_total,
       round((count(*) FILTER (rk <= {_QUOTA}))::DOUBLE / count(*), 4) AS kept_frac
FROM r GROUP BY source
ORDER BY source
"""


@register("pipe_quota_mix", _QUOTA_SQL)
def q_quota_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document quota (cap ``_QUOTA`` docs/source) selected by
    deterministic hash rank — the domain-mixing downsample, reproducible
    across runs because membership depends only on md5(doc_id).

    Plan shape: scan → per-source window rank (one shuffle on source) →
    bounded aggregation. Honest scale note: ``row_number`` per source
    funnels each source through one task — fine when sources number in
    the thousands and quotas in the millions, but at one-giant-source
    scale the rank should be replaced by a hash-threshold selection
    (keep docs whose md5 falls below a cutoff fitted from per-source
    counts — the pipe_hash_sample primitive); same determinism, no
    per-source funnel. The fixture-scale query registers the exact-rank
    formulation because its quota semantics (exactly N, not ~N) are the
    contract being verified."""
    docs = _docs(spark, sf_dir, columns=["source", "doc_id", "text"])
    w = W.partitionBy("source").orderBy(F.md5(F.col("doc_id").cast("string")), F.col("doc_id"))
    r = (
        docs.select("source", "doc_id", TXT.token_count("text").alias("n"))
        .withColumn("rk", F.row_number().over(w))
    )
    kept = F.col("rk") <= _QUOTA
    return (
        r.groupBy("source")
        .agg(
            F.sum(F.when(kept, 1).otherwise(0)).cast("long").alias("n_kept"),
            F.coalesce(F.sum(F.when(kept, F.col("n"))), F.lit(0)).cast("long").alias("tokens_kept"),
            F.count("*").alias("n_total"),
            F.round(
                F.sum(F.when(kept, 1).otherwise(0)) / F.count("*"), 4
            ).alias("kept_frac"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# pipe_strip_boilerplate — template-line removal, condition staged
# ---------------------------------------------------------------------------
_RATIO = 0.5

# Both engines stage the identical corpus: banner on every doc of a
# source (ratio 1.0 → stripped), footer on even doc_ids (~0.5 ≥ 0.5 →
# stripped), payload = the fixture text between them.
_STRIP_SQL = f"""
WITH staged AS (
  SELECT doc_id, source,
         'SRC ' || source || ' NEWSLETTER' || chr(10) || coalesce(text, '')
           || CASE WHEN doc_id % 2 = 0 THEN chr(10) || 'Unsubscribe anytime'
                   ELSE '' END AS text
  FROM documents
  -- mirrors the operator's NULL-id drop (boilerplate.py: NULL ids cannot
  -- anchor reassembly); without it a NULL doc_id would appear in the
  -- DuckDB result and inflate per-source nd (ADVICE r13)
  WHERE doc_id IS NOT NULL
), d AS (
  -- coalesce mirrors the operator's NULL-text-as-'' contract; without it
  -- a NULL source NULLs the staged concat, string_split(NULL) unnests to
  -- zero lines, and the doc would vanish from tot (r13 review)
  SELECT doc_id, source, string_split(coalesce(text, ''), chr(10)) AS ls
  FROM staged
), l AS (
  SELECT doc_id, source, unnest(ls) AS line, generate_subscripts(ls, 1) AS pos
  FROM d
), nd AS (
  SELECT source, CAST(count(*) AS BIGINT) AS nd FROM d GROUP BY source
), bp AS (
  -- null-safe source equality: a NULL source is a real group (operator
  -- contract; plain = would exempt the NULL-source cohort)
  SELECT l.source, trim(l.line) AS key
  FROM l JOIN nd ON l.source IS NOT DISTINCT FROM nd.source
  WHERE trim(l.line) <> ''
  GROUP BY l.source, trim(l.line), nd.nd
  HAVING count(DISTINCT l.doc_id) >= 2
     AND CAST(count(DISTINCT l.doc_id) AS DOUBLE) >= {_RATIO} * nd.nd
), kept AS (
  SELECT l.* FROM l
  LEFT JOIN bp ON bp.source IS NOT DISTINCT FROM l.source
             AND bp.key = trim(l.line)
  WHERE bp.key IS NULL
), agg AS (
  SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS clean_text,
         CAST(count(*) AS BIGINT) AS n_kept
  FROM kept GROUP BY doc_id
), tot AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines FROM l GROUP BY doc_id
)
SELECT d.doc_id, d.source,
       coalesce(a.clean_text, '') AS clean_text,
       t.n_lines,
       t.n_lines - coalesce(a.n_kept, 0) AS n_removed
FROM d JOIN tot t USING (doc_id)
LEFT JOIN agg a USING (doc_id)
ORDER BY doc_id
"""


@register("pipe_strip_boilerplate", _STRIP_SQL)
def q_pipe_strip_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source boilerplate-line stripping over a deterministically
    templated corpus: a banner line rides every doc of a source and a
    footer rides the even doc_ids; at ratio 0.5 both are template
    (stripped) while each doc's fixture payload survives byte-exactly
    and in order. The CCNet-style cleanup a curation pipeline runs
    before dedup — template lines would otherwise dominate every
    shingle/posting frequency downstream."""
    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "source", "text"])
    staged = docs.select(
        "doc_id",
        "source",
        F.concat(
            F.lit("SRC "),
            F.col("source"),
            F.lit(" NEWSLETTER\n"),
            F.coalesce(F.col("text"), F.lit("")),
            F.when(F.col("doc_id") % 2 == 0, F.lit("\nUnsubscribe anytime")).otherwise(
                F.lit("")
            ),
        ).alias("text"),
    )
    out = strip_boilerplate_lines(
        staged, min_doc_ratio=_RATIO, min_docs=2
    )
    return out.select(
        F.col("id").alias("doc_id"), "source", "clean_text", "n_lines", "n_removed"
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# pipe_incremental_dedup — today's batch vs the corpus fingerprint history
# ---------------------------------------------------------------------------
_INCR_DEDUP_SQL = f"""
WITH b AS (
  SELECT lang, text,
         {md5_bucket32_sql("CAST(doc_id AS VARCHAR)")} % 100 AS bk
  FROM documents
),
batch AS (SELECT lang, md5(text) AS fp FROM b WHERE bk >= 90),
hist AS (SELECT DISTINCT md5(text) AS fp FROM b WHERE bk < 90)
SELECT batch.lang,
       CAST(count(*) AS BIGINT) AS n_batch,
       CAST(sum(CASE WHEN hist.fp IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_new
FROM batch LEFT JOIN hist ON hist.fp = batch.fp
GROUP BY batch.lang
ORDER BY batch.lang
"""


@register("pipe_incremental_dedup", _INCR_DEDUP_SQL)
def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How much of an incoming batch is new? The md5(doc_id) ≥ 90 bucket
    plays "today's crawl" (10% of docs — same deterministic bucketing
    as ``pipe_hash_split``); the rest is the corpus history. Reported
    per language: batch size and how many batch fingerprints are
    absent from history.

    The join is on a 128-bit content fingerprint — uniformly
    distributed, skew-free by construction; the history side is
    distinct-ed to fingerprints only (the narrowest possible shuffle
    payload), and AQE sizes the join. In production the history side
    is the bucketed fingerprint sink ``sink_bucketed_join_roundtrip``
    demonstrates, making the daily run shuffle only the batch.
    (Reference contrast: its sink is write-once with no read-back
    path at all — worker.go:154-170.)"""
    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "lang", "text"])
    bucket = md5_bucket32(F.col("doc_id").cast("string")) % 100
    base = docs.select("lang", F.md5("text").alias("fp"), bucket.alias("bk"))
    batch = base.where(F.col("bk") >= 90).select("lang", "fp")
    hist = (
        base.where(F.col("bk") < 90)
        .select(F.col("fp").alias("hfp"))
        .distinct()
    )
    return (
        batch.join(hist, batch["fp"] == hist["hfp"], "left")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_batch"),
            F.sum(F.when(F.col("hfp").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_new"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# pipe_stratified_sample
# ---------------------------------------------------------------------------
_STRATUM_TARGET = 100  # target docs per language stratum
_U32 = 1 << 32

_STRAT_SQL = f"""
WITH nl AS (SELECT lang, count(*) AS n_l FROM documents GROUP BY 1),
d AS (
  SELECT d.lang, d.n_chars, nl.n_l,
         CAST({md5_bucket32_sql("CAST(d.doc_id AS VARCHAR)")} AS BIGINT) AS u
  FROM documents d JOIN nl USING (lang)
)
SELECT lang,
       CAST(max(n_l) AS BIGINT) AS n_total,
       CAST(count(*) FILTER (WHERE u * n_l < {_STRATUM_TARGET} * {_U32}) AS BIGINT) AS n_sampled,
       CAST(sum(n_chars) FILTER (WHERE u * n_l < {_STRATUM_TARGET} * {_U32}) AS BIGINT) AS sampled_chars,
       round(least(1.0, {_STRATUM_TARGET} / CAST(max(n_l) AS DOUBLE)), 6) AS target_rate
FROM d
GROUP BY lang
ORDER BY lang
"""


@register("pipe_stratified_sample", _STRAT_SQL)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sample: each language stratum is thinned
    toward a fixed target count with an md5-keyed integer inclusion
    predicate (u · n_lang < target · 2³²) — Bernoulli(target/n_lang)
    per row, no RNG state, exact integer comparison on both engines.
    Two shuffles total (stratum counts, final rollup); the per-stratum
    count table is genuinely tiny and broadcast back onto the scan."""
    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "lang", "n_chars"])
    nl = docs.groupBy("lang").agg(F.count("*").alias("n_l"))
    u = md5_bucket32(F.col("doc_id").cast("string"))
    hit = (u * F.col("n_l")) < F.lit(_STRATUM_TARGET * _U32)
    return (
        docs.join(F.broadcast(nl), "lang")  # one row per language
        .select("lang", "n_chars", "n_l", hit.alias("hit"))
        .groupBy("lang")
        .agg(
            F.max("n_l").cast("long").alias("n_total"),
            F.count_if("hit").cast("long").alias("n_sampled"),
            F.sum(F.when(F.col("hit"), F.col("n_chars"))).cast("long").alias("sampled_chars"),
            F.round(
                F.least(
                    F.lit(1.0),
                    F.lit(float(_STRATUM_TARGET)) / F.max("n_l").cast("double"),
                ),
                6,
            ).alias("target_rate"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# pipe_source_mix_weights
# ---------------------------------------------------------------------------
_MIX_BUDGET = 10000  # documents in the hypothetical training mix

_MIX_SQL = f"""
WITH s AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS chars
  FROM documents GROUP BY 1
),
tot AS (SELECT sum(CAST(chars AS DOUBLE)) AS t FROM s),
pa AS (
  SELECT s.*, sqrt(CAST(chars AS DOUBLE) / tot.t) AS pa, CAST(chars AS DOUBLE) / tot.t AS p
  FROM s CROSS JOIN tot
),
spa AS (SELECT sum(pa) AS sp FROM pa)
SELECT source, n_docs, chars,
       round(p, 6) AS char_share,
       round(pa.pa / spa.sp, 6) AS mix_weight,
       CAST(floor((pa.pa / spa.sp) * {_MIX_BUDGET}) AS BIGINT) AS budget_docs
FROM pa CROSS JOIN spa
ORDER BY source
"""


@register("pipe_source_mix_weights", _MIX_SQL)
def q_source_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-flattened data-mix weights per source (w ∝ p^0.5,
    the standard α-sampling used to up-weight small sources in training
    mixes), with each source's expected share of a {10000}-document
    budget. One scan + one tiny aggregate; every subsequent step
    operates on one row per source (cross joins of one-row totals)."""
    docs = load_table(spark, sf_dir, "documents", columns=["source", "n_chars"])
    s = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("chars"),
    )
    tot = s.agg(F.sum(F.col("chars").cast("double")).alias("t"))
    pa = s.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "chars",
        (F.col("chars").cast("double") / F.col("t")).alias("p"),
        F.sqrt(F.col("chars").cast("double") / F.col("t")).alias("pa"),
    )
    spa = pa.agg(F.sum("pa").alias("sp"))
    w = F.col("pa") / F.col("sp")
    return (
        pa.crossJoin(F.broadcast(spa))
        .select(
            "source",
            "n_docs",
            "chars",
            F.round("p", 6).alias("char_share"),
            F.round(w, 6).alias("mix_weight"),
            F.floor(w * F.lit(_MIX_BUDGET)).cast("long").alias("budget_docs"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# pipe_group_kfold — group-aware cross-validation fold assignment
# ---------------------------------------------------------------------------
_KFOLD_K = 5

_KFOLD_SQL = f"""
WITH f AS (
  SELECT source, lang, n_chars,
         {md5_bucket32_sql("source")} % {_KFOLD_K} AS fold
  FROM documents
)
SELECT CAST(fold AS INT) AS fold,
       CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS n_chars
FROM f
GROUP BY fold
ORDER BY fold
"""


@register("pipe_group_kfold", _KFOLD_SQL)
def q_group_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-fold assignment with GROUP integrity: fold = md5(source) mod k,
    so all documents of a source share a fold and near-duplicates
    within a source can never leak across a train/eval boundary —
    the failure mode a row-level split (``pipe_hash_split``) cannot
    prevent. Reported per fold: source count, document count, chars.

    Map-only fold assignment (pure function of the group key — stable
    under re-runs, repartitioning, and incremental ingest) plus one
    rollup; distinct-source counting is the only second aggregate.
    The md5 bucketing is the catalog's standard, bit-identical on
    both engines."""
    docs = load_table(
        spark, sf_dir, "documents", columns=["source", "lang", "n_chars"]
    )
    fold = (md5_bucket32("source") % _KFOLD_K).cast("int")
    return (
        docs.select(fold.alias("fold"), "source", "n_chars")
        .groupBy("fold")
        .agg(
            F.countDistinct("source").alias("n_sources"),
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("n_chars"),
        )
        .orderBy("fold")
    )


# ---------------------------------------------------------------------------
# pipe_source_manifest — order-independent per-source content checksum
# ---------------------------------------------------------------------------
_MANIFEST_SQL = f"""
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS n_chars,
       CAST(sum({md5_bucket32_sql("text")}) AS BIGINT)
         AS content_checksum
FROM documents
GROUP BY source
ORDER BY source
"""


@register("pipe_source_manifest", _MANIFEST_SQL)
def q_source_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dataset manifest: document count, char volume, and an
    order-independent content checksum (sum of the 32-bit leading
    buckets of each document's md5). Equal manifests ⇔ equal content
    multisets per source — the O(1)-output drift check a pipeline runs
    after every copy/compaction, with ``rel_snapshot_diff`` as the
    key-naming follow-up when a checksum moves.

    One partial+final aggregate over a map-only fingerprint projection
    — commutative addition makes the checksum partitioning- and
    order-insensitive by construction. Summed 32-bit terms stay inside
    BIGINT up to ~2³¹ docs PER SOURCE — a documented bound, not a
    wraparound contract (DuckDB sums into HUGEINT while Spark's long
    would wrap, so past the bound the right form is per-term modular
    reduction, e.g. sum(b % p) with a < 2³² prime, on both engines)."""
    docs = load_table(spark, sf_dir, "documents", columns=["source", "text", "n_chars"])
    bucket32 = md5_bucket32("text")
    return (
        docs.select("source", "n_chars", bucket32.alias("b"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("n_chars"),
            F.sum("b").alias("content_checksum"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# pipe_keep_latest_k — retention: latest K changelog records per key
# ---------------------------------------------------------------------------
_KEEP_K = 3

_KEEP_SQL = f"""
WITH r AS (
  SELECT user_id, value,
         CAST(epoch_us(ts) AS BIGINT) AS ts_us,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_kept,
       CAST(min(ts_us) AS BIGINT) AS oldest_kept_us,
       CAST(max(ts_us) AS BIGINT) AS newest_kept_us,
       round(sum(value), 2) AS kept_value
FROM r WHERE rn <= {_KEEP_K}
GROUP BY user_id
ORDER BY user_id
"""


@register("pipe_keep_latest_k", _KEEP_SQL)
def q_keep_latest_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention-policy compaction: each user's latest 3 changelog
    records survive; reported per user as count, kept time range, and
    kept value sum. The generalization of ``rel_cdc_latest_state``
    (K = 1) that versioned stores actually run.

    One ranked window + one aggregate on the same shuffle key. The
    ``rn <= K`` predicate is recognized by Spark's window-group-limit
    optimization: each sort keeps only a K-row-per-key heap rather
    than fully sorting rows it will drop — the property that makes
    retention over a 100 TB changelog a single bounded pass."""
    ev = load_table(
        spark, sf_dir, "events", columns=["event_id", "ts", "user_id", "value"]
    )
    w = W.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    kept = ev.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= _KEEP_K)
    return (
        kept.groupBy("user_id")
        .agg(
            F.count("*").alias("n_kept"),
            F.min(F.unix_micros("ts")).alias("oldest_kept_us"),
            F.max(F.unix_micros("ts")).alias("newest_kept_us"),
            F.round(F.sum("value"), 2).alias("kept_value"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# pipe_hash_split — deterministic md5-bucket train/val/test assignment
# ---------------------------------------------------------------------------
_HASH_SPLIT_SQL = f"""
SELECT split, lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS chars
FROM (
  SELECT lang, n_chars,
         CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
  FROM (
    SELECT lang, n_chars,
           {md5_bucket32_sql("CAST(doc_id AS VARCHAR)")} % 100 AS b
    FROM documents
  )
)
GROUP BY split, lang
ORDER BY split, lang
"""


@register("pipe_hash_split", _HASH_SPLIT_SQL)
def q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """80/10/10 train/val/test split by md5(doc_id) bucket, reported as a
    (split, lang) rollup of doc counts and character mass.

    md5-bucketing is the reproducible-split idiom for training corpora:
    assignment is a pure function of the row key, so it is stable across
    re-runs, partitionings, and incremental ingests — no RNG seed to
    ship, no shuffle to assign. Map-only + a tiny rollup; at 100 TB the
    only cost is the scan. (The reference's model would need a custom
    mapf emitting the bucket as the key — README.MD:82.)"""
    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "lang", "n_chars"])
    bucket = md5_bucket32(F.col("doc_id").cast("string")) % 100
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return (
        docs.groupBy(split.alias("split"), "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("chars"),
        )
        .orderBy("split", "lang")
    )


_K = 100

_WEIGHTED_SAMPLE_SQL = f"""
WITH keyed AS (
  SELECT doc_id, source, n_chars,
         pow(
           ({md5_bucket32_sql("CAST(doc_id AS VARCHAR)")} + 1)
             / 4294967296.0,
           CAST(1.0 AS DOUBLE) / CAST(n_chars AS DOUBLE)
         ) AS k
  FROM documents
  WHERE n_chars > 0
)
SELECT doc_id, source, n_chars, round(k, 6) AS sample_key
FROM keyed
ORDER BY round(k, 12) DESC, doc_id
LIMIT {_K}
"""


@register("pipe_weighted_sample", _WEIGHTED_SAMPLE_SQL)
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{k} A-ES weighted sample of documents with w = n_chars.

    Inclusion probability rises with weight (the pytest pins the
    sample's mean n_chars above the corpus mean); determinism comes
    from md5-derived uniforms, so the DuckDB oracle reselects the
    exact same rows."""
    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "source", "n_chars"])
    u = (md5_bucket32(F.col("doc_id").cast("string")) + 1) / 4294967296.0
    k = F.pow(u, F.lit(1.0) / F.col("n_chars").cast("double"))
    return (
        docs.where(F.col("n_chars") > 0)
        .select("doc_id", "source", "n_chars", k.alias("k"))
        # rank on the ROUNDED key, ties broken by doc_id: Java Math.pow and
        # libm pow may differ in the last ulp on identical inputs, so an
        # unrounded ORDER BY makes rank-100 membership engine-dependent
        # (the cosine-rank class of commit 6170faa). 12 digits absorbs ulp
        # noise while keeping the near-1.0 keys of long documents distinct
        # (corpus key spacing is orders of magnitude above 1e-12).
        .orderBy(F.desc(F.round(F.col("k"), 12)), "doc_id")
        .limit(_K)
        .select("doc_id", "source", "n_chars", F.round("k", 6).alias("sample_key"))
    )
