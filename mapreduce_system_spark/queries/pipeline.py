"""Composite training-data-pipeline queries over the documents corpus.

The single-op queries (quality, lang-id, dedup, token stats) prove each
primitive; these two prove the *composition* an LLM data pipeline actually
runs — and that the composition stays one Catalyst plan (filters fused
into the scan stage, one shuffle per keyed step) rather than N separate
jobs.

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
- ``pipe_quota_mix``: per-source quota downsampling by deterministic
  hash rank (domain mixing).

All have exact DuckDB oracles built from the same SQL fragments the
single-op queries verify.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from mapreduce_system_spark.caches import tracked_cache
from mapreduce_system_spark.functions import text as TXT
from mapreduce_system_spark.queries._textshared import _STOPLIST, _TOKS, _docs, _marker_score_sql
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
