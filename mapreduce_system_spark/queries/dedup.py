"""Registered dedup queries over the documents corpus.

The exact-Jaccard query carries a full DuckDB oracle (the shingle algebra
is replicated in SQL). MinHash-LSH is exact-verified after candidate
generation, so at a fixed corpus + deterministic hash family it reproduces
the exact pair set whenever recall is 1 — it carries the SAME oracle and a
pytest guards the recall property at small SF. SimHash's hash family is
not expressible in DuckDB → rows-only check.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_system_spark.caches import tracked_cache
from mapreduce_system_spark.operators import dedup as DD
from mapreduce_system_spark.registry import register
from mapreduce_system_spark.sources.tables import load_table

_EXACT_DEDUP_SQL = r"""
SELECT md5(trim(regexp_replace(lower(text), '\W+', ' ', 'g'))) AS fp,
       min(doc_id) AS survivor_id,
       count(*) AS n_copies
FROM documents
WHERE text IS NOT NULL
GROUP BY fp
ORDER BY fp
"""


@register("dedup_exact", _EXACT_DEDUP_SQL)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content fingerprint; min-id survivor per group."""
    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "text"])
    return DD.exact_dedup(docs).orderBy("fp")


# DuckDB twin of functions.text.shingles (3-gram) + pairwise Jaccard over
# the shingle-share join. List slicing is 1-based inclusive: ts[i:i+2] is
# the 3 tokens starting at i, matching Spark's slice(toks, i+1, 3).
_JACCARD_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\W+'), t -> t <> '') AS ts
  FROM documents
), sh AS (
  SELECT doc_id,
         list_distinct([array_to_string(ts[i:i+2], ' ') for i in range(1, len(ts) - 1)]) AS sg
  FROM toks
  WHERE len(ts) >= 3
), pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         len(list_intersect(a.sg, b.sg))::DOUBLE
           / (len(a.sg) + len(b.sg) - len(list_intersect(a.sg, b.sg))) AS j
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE len(list_intersect(a.sg, b.sg)) > 0
)
SELECT id_a, id_b, round(j, 6) AS jaccard
FROM pairs
WHERE j >= 0.5
ORDER BY id_a, id_b
"""

# Cap for stop-shingles: a shingle shared by D docs contributes D² candidate
# rows to the share-join, so one boilerplate shingle is the job-killing skew
# key at corpus scale. 100 ≈ 20% of the sf0.01 corpus — well above any real
# near-dup cluster, low enough to kill template text.
MAX_SHINGLE_DF = 100

# Same pair algebra with the stop-shingle cap mirrored: hot shingles
# (df > cap) are removed from the *intersection*, while set sizes stay the
# full |A|,|B| — exactly what the Spark plan computes (sizes are carried
# through the explode before the anti-join drops hot shingles). The CTE
# body is shared with the connected-components oracle below.
_JACCARD_CAPPED_CTES = rf"""toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\W+'), t -> t <> '') AS ts
  FROM documents
), sh AS (
  SELECT doc_id,
         list_distinct([array_to_string(ts[i:i+2], ' ') for i in range(1, len(ts) - 1)]) AS sg
  FROM toks
  WHERE len(ts) >= 3
), hot AS (
  SELECT COALESCE(list(shingle), []) AS hots
  FROM (
    SELECT shingle FROM (SELECT doc_id, unnest(sg) AS shingle FROM sh)
    GROUP BY shingle HAVING count(*) > {MAX_SHINGLE_DF}
  )
), shf AS (
  SELECT doc_id, len(sg) AS sz,
         list_filter(sg, s -> NOT list_contains(hots, s)) AS sgf
  FROM sh CROSS JOIN hot
), pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         len(list_intersect(a.sgf, b.sgf))::DOUBLE
           / (a.sz + b.sz - len(list_intersect(a.sgf, b.sgf))) AS j
  FROM shf a JOIN shf b ON a.doc_id < b.doc_id
  WHERE len(list_intersect(a.sgf, b.sgf)) > 0
)"""

_JACCARD_CAPPED_SQL = f"""
WITH {_JACCARD_CAPPED_CTES}
SELECT id_a, id_b, round(j, 6) AS jaccard
FROM pairs
WHERE j >= 0.5
ORDER BY id_a, id_b
"""


@register("dedup_jaccard_pairs", _JACCARD_CAPPED_SQL)
def q_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs (threshold 0.5) via the
    shingle-share equi-join — never all-pairs, and with the stop-shingle
    cap applied (``max_shingle_df=100``) so candidate volume per shingle is
    bounded by the cap², not corpus², under boilerplate skew. The capped
    score is a LOWER BOUND of true Jaccard (sizes are pre-cap, the
    intersection counts only non-stop shingles — see
    ``operators/dedup.py::jaccard_pairs``): pairs whose shared shingles
    are partly boilerplate score lower and can drop below the threshold;
    a pair disappears entirely only when every shared shingle is a
    stop-shingle. The oracle mirrors the identical algebra."""
    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "text"])
    out = DD.jaccard_pairs(docs, n=3, threshold=0.5, max_shingle_df=MAX_SHINGLE_DF)
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard")).orderBy(
        "id_a", "id_b"
    )


@register("dedup_minhash_lsh", _JACCARD_SQL)
def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH (128 hashes, 64 bands × 2 rows) with exact verification.

    Carries the same oracle as the exact query: precision is exact by
    construction, and at r=2/b=64 the miss probability for a true pair at
    j=0.5 is (1-0.25)^64 ≈ 1e-8 — recall 1 on the fixed gate corpus
    (guarded by tests/test_dedup.py equality assertion).
    """
    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "text"])
    out = DD.minhash_lsh_pairs(docs, n=3, threshold=0.5, num_hashes=128, rows_per_band=2)
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard")).orderBy(
        "id_a", "id_b"
    )


# xxhash64 isn't in DuckDB, so the *signatures* can't be recomputed there —
# but at a fixed corpus they are deterministic. The registered query
# materializes them once (parquet at an sf-suffixed path, so a bench run
# at another scale factor can never clobber the correctness run's export),
# and the oracle verifies the banding + Hamming pair logic over that
# exported table: the pigeonhole banding (any pair at Hamming ≤ 3 agrees
# on ≥1 of 4 16-bit bands) makes the banded equi-join's pair set IDENTICAL
# to the all-pairs formulation, which is what the SQL twin computes
# directly. The oracle string is static, so it names the sf0.01 path —
# the scale the driver's correctness gate runs at (verify_local likewise).


def _simhash_sig_path(sf_name: str) -> str:
    return f"/tmp/spark_graft_simhash_sigs_{sf_name}"


_SIMHASH_SQL = f"""
WITH s AS (SELECT id, simhash FROM read_parquet('{_simhash_sig_path("sf0.01")}/*.parquet'))
SELECT a.id AS id_a, b.id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM s a JOIN s b ON a.id < b.id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
ORDER BY id_a, id_b
"""


@register("dedup_simhash_pairs", _SIMHASH_SQL, sf_bound=True)
def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (Hamming ≤ 3 on 64-bit tf-weighted simhash),
    banded 4×16-bit candidate join — value-checked: signatures are
    exported to parquet and the oracle recomputes the pair set all-pairs
    in SQL (equivalent by the pigeonhole argument in operators/dedup.py).
    """
    from pathlib import Path

    path = _simhash_sig_path(Path(sf_dir).name)
    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "text"])
    DD.simhash(docs).write.mode("overwrite").parquet(path)
    # compute pairs FROM the exported table so both engines read the very
    # same signatures (no recompute drift; reads are pruned to id+simhash).
    sig_back = spark.read.parquet(path)
    return DD.simhash_pairs_from_sig(sig_back, max_hamming=3).orderBy("id_a", "id_b")


# Connected-components oracle: DuckDB WITH RECURSIVE computes the full
# reachability closure over the (undirected) pair graph, then min(reachable)
# per node — the same fixpoint the Spark min-label propagation converges to.
_CLUSTER_SQL = f"""
WITH RECURSIVE {_JACCARD_CAPPED_CTES},
p AS (SELECT id_a, id_b FROM pairs WHERE j >= 0.5),
nodes AS (
  SELECT DISTINCT id FROM (SELECT id_a AS id FROM p UNION ALL SELECT id_b FROM p)
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM p
  UNION
  SELECT id_b AS src, id_a AS dst FROM p
),
reach(a, b) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src
)
SELECT a AS id, CAST(min(b) AS BIGINT) AS survivor_id
FROM reach
GROUP BY a
ORDER BY id
"""


@register("dedup_cluster_survivors", _CLUSTER_SQL)
def q_cluster_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS from near-dup PAIRS: connected components over the
    capped-Jaccard pair graph, one survivor (min id) per component.

    Pair emission alone under-deduplicates: a~b and b~c must collapse
    a,b,c to one survivor even though a~c was never emitted. The Spark
    side is iterative min-label propagation (operators/dedup.py
    ``connected_components``, O(cluster diameter) equi-join rounds); the
    oracle is the DuckDB recursive-CTE reachability closure — two very
    different algorithms that must agree on the exact labeling."""
    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "text"])
    pairs = DD.jaccard_pairs(docs, n=3, threshold=0.5, max_shingle_df=MAX_SHINGLE_DF)
    return DD.connected_components(pairs).orderBy("id")


# Prefix-blocked Levenshtein near-dup pairs. Normalization shared with
# dedup_exact (cross-engine proven); DuckDB's levenshtein is the same
# unit-cost character DP as Spark's, and the oracle applies the threshold
# as a plain predicate where Spark's DP early-exits via the 3-arg form.
_EDITDIST_SQL = r"""
WITH n AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '\W+', ' ', 'g')) AS t FROM documents
), b AS (
  SELECT doc_id, t, substring(t, 1, 40) AS blk FROM n
  WHERE t IS NOT NULL AND t <> ''
)
SELECT a.doc_id AS id_a, c.doc_id AS id_b,
       CAST(levenshtein(a.t, c.t) AS INT) AS dist
FROM b a JOIN b c ON a.blk = c.blk AND a.doc_id < c.doc_id
WHERE levenshtein(a.t, c.t) <= 8
ORDER BY id_a, id_b
"""


@register("dedup_editdistance_pairs", _EDITDIST_SQL)
def q_editdistance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level near-dup pairs: Levenshtein ≤ 8 on normalized text,
    candidates from a 40-char prefix equi-join (registered r4 — first
    driver row lands when the window rotates; verified locally meanwhile).
    Complements the token-level modalities: small typo edits that keep
    most 3-gram shingles intact still surface here, and vice versa a
    rewritten prefix blocks the pair by design (documented recall trade)."""
    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "text"])
    out = DD.editdistance_pairs(docs, threshold=8, prefix_len=40)
    return out.orderBy("id_a", "id_b")


# ---------------------------------------------------------------------------
# Cross-modal agreement: every text near-dup pair joined to the embedding
# table on both sides, scored with exact double-fold cosine. The pipeline
# QA step this encodes: text-level near-dups whose embeddings DISAGREE
# point at embedding-pipeline drift (stale vectors, misaligned ids), and
# embedding near-dups invisible to shingles point at paraphrase dup —
# this query puts the text→embedding direction on the driver's record.
_CROSSMODAL_SQL = f"""
WITH {_JACCARD_CAPPED_CTES}
SELECT p.id_a, p.id_b, round(p.j, 6) AS jaccard,
       round(list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]), 6) AS emb_cosine
FROM pairs p
LEFT JOIN embeddings ea ON ea.vec_id = p.id_a
LEFT JOIN embeddings eb ON eb.vec_id = p.id_b
WHERE p.j >= 0.5
ORDER BY p.id_a, p.id_b
"""


@register("dedup_crossmodal_agreement", _CROSSMODAL_SQL)
def q_crossmodal_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text near-dup pairs (capped 3-gram Jaccard ≥ 0.5) annotated with
    their embedding cosine — the cross-modal dedup-validation join.
    Embedding lookups are LEFT joins: a text near-dup pair whose doc has
    no embedding row is the strongest drift signal this QA query exists
    to surface (stale/misaligned embedding pipeline), so it must appear
    — with NULL ``emb_cosine`` — rather than silently vanish. (The
    fixtures align vec_id = doc_id at sf0.01 but not at every scale:
    sf0.1 has 5000 docs and 2000 embeddings, where an inner join used to
    drop 7 of the 8 exact-duplicate pairs.)

    Plan shape: the near-dup pair set is tiny relative to the corpus
    (that's what makes dedup useful), so both embedding lookups are
    plain equi-joins driven by the pair table; Spark broadcasts the pair
    side against the embeddings scan. Cosine is the deterministic
    sequential double fold from ``functions.vectors`` — agrees with
    DuckDB's ``list_cosine_similarity`` past the 6-decimal rounding
    (established by sim_dup_pairs_cosine), and is NULL when either side
    is missing on both engines."""
    from mapreduce_system_spark.functions.vectors import cosine

    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "text"])
    emb = load_table(spark, sf_dir, "embeddings", columns=["vec_id", "embedding"])
    # cached: the left-outer rework references the pair relation THREE
    # times (the id union twice, the final join once) — uncached, the
    # whole jaccard candidate-pair subtree re-runs per reference
    # (measured: 2.3 -> 5.1 s median at sf0.1 when the cache was lost
    # in the left-join rework; back to ~2.6 s with it)
    pairs = tracked_cache(
        DD.jaccard_pairs(docs, n=3, threshold=0.5, max_shingle_df=MAX_SHINGLE_DF)
    )
    # An outer join can never broadcast its preserved side (the build side
    # must be the nullable side — here the corpus-sized embeddings table),
    # so a naive pairs-LEFT-JOIN-embeddings would shuffle the whole corpus.
    # Instead: broadcast-SEMI-filter embeddings down to the pair ids (one
    # corpus scan per side, zero shuffle), then left-outer the pairs
    # against that pair-sized remnant — which IS broadcastable as the
    # nullable build side.
    pair_ids = pairs.select(F.col("id_a").alias("vec_id")).union(
        pairs.select(F.col("id_b").alias("vec_id"))
    )
    emb_hit = emb.join(F.broadcast(pair_ids), "vec_id", "left_semi")
    ea = emb_hit.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("__ea"))
    eb = emb_hit.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("__eb"))
    return (
        pairs.join(F.broadcast(ea), "id_a", "left")
        .join(F.broadcast(eb), "id_b", "left")
        .select(
            "id_a",
            "id_b",
            F.round("jaccard", 6).alias("jaccard"),
            F.round(cosine(F.col("__ea"), F.col("__eb")), 6).alias("emb_cosine"),
        )
        .orderBy("id_a", "id_b")
    )


# Paraphrase candidates = the other cross-modal direction: pairs close in
# embedding space that the shingle-based near-dup detectors CANNOT see
# (Jaccard below threshold) — the semantic-dup set that text dedup misses
# and an LLM pipeline routes to a paraphrase-aware dedup policy.
_PARAPHRASE_SQL = f"""
WITH {_JACCARD_CAPPED_CTES}, emb_pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cos
  FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
  WHERE round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) >= 0.4
), text_pairs AS (
  SELECT id_a, id_b FROM pairs WHERE j >= 0.5
)
SELECT e.id_a, e.id_b, e.cos
FROM emb_pairs e
ANTI JOIN text_pairs t ON t.id_a = e.id_a AND t.id_b = e.id_b
ORDER BY id_a, id_b
"""


@register("dedup_paraphrase_candidates", _PARAPHRASE_SQL)
def q_paraphrase_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs (blocked cosine ≥ 0.4) LEFT-ANTI-joined
    against text near-dup pairs (capped Jaccard ≥ 0.5): what's left is
    similar in meaning but not in surface form — the paraphrase-dup
    candidates that shingle dedup structurally misses.

    Plan shape: both inputs are the already-scale-safe candidate
    generators (blocked equi-join and capped inverted-index join); the
    anti join runs on the tiny pair sets, not the corpus. Both sides
    emit pairs in canonical (min, max) id order, so the anti join needs
    no normalization."""
    from mapreduce_system_spark.operators import similarity as SIM

    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "text"])
    emb = load_table(spark, sf_dir, "embeddings", columns=["vec_id", "embedding", "label"])
    emb_pairs = SIM.cosine_dup_pairs(emb, threshold=0.4, block_col="label")
    text_pairs = DD.jaccard_pairs(
        docs, n=3, threshold=0.5, max_shingle_df=MAX_SHINGLE_DF
    ).select("id_a", "id_b")
    return (
        emb_pairs.join(text_pairs, ["id_a", "id_b"], "left_anti")
        .select("id_a", "id_b", F.round("cos", 6).alias("cos"))
        .orderBy("id_a", "id_b")
    )
