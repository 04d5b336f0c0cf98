"""Similarity-search and embedding queries over the embeddings table: exact
and approximate top-k, clustering, and vector-column profiles.

Brute-force and blocked-pairs are exact → full DuckDB oracles
(``list_cosine_similarity`` on DOUBLE[] matches the double fold in
``functions.vectors`` to well past the 6-digit rounding). The approximate
paths (IVF, LSH, k-means-IVF, PQ) are verified by the EXPORT pattern: the
query materializes its small derived state — probe assignments, LSH bucket
signatures, k-means centroids/assignments, the JL projection matrix, PQ
codebooks — to an sf-suffixed parquet side table, and the static oracle
re-derives the full result from that state plus the embeddings table in
SQL. The approximation choice (which partitions probed, which buckets
collide) is Spark's; everything downstream — candidate generation, cosine
scoring, ranking, ties — is recomputed independently by DuckDB, so these
queries are hash-checked, not rows-only. Recall properties are separately
pinned in tests/test_similarity.py. Float discipline per registry.py: every
FLOAT is cast to DOUBLE before arithmetic on BOTH engines, formulas are
parenthesized identically, and outputs are rounded (cosines at 6 digits
with O(1)-magnitude values, so summation-order ULP noise sits ~8 orders
below the grid).

- ``sim_recall_at_k`` — recall@5 of the IVF index vs exact brute force, per
  query. The probe table is exported; DuckDB independently re-derives BOTH
  the exact and the approximate top-5 and recomputes every recall value,
  making the approximation *quality* itself hash-checked rather than
  pytest-only.
- ``sim_topk_arrow`` — exact top-5 via Arrow-batched numpy matmul
  (per-batch heap → global merge), the vectorized twin of
  ``sim_topk_bruteforce``, sharing its oracle.
- ``emb_matryoshka_profile`` — the MRL truncation diagnostic: per-label
  mean energy fraction captured by each {8,16,32,64}-dim prefix. One
  map-side pass computes every prefix's fold; the only shuffle is a
  (labels x prefixes)-sized aggregate.
- ``emb_centroid_outliers`` — per-cluster semantic outlier scoring: the
  centroid of each label's embeddings, then every vector's cosine to its
  own centroid, reporting the 5 least-central vectors per label. This is
  the filtering half of centroid-based semantic curation (SemDeDup-style
  pipelines prune near-centroid duplicates AND far-from-centroid noise).
- ``emb_centroid_distance_matrix`` — pairwise cosine between the per-label
  centroids: the cluster-separation audit run after any
  labeling/clustering pass. The only data-sized work is the centroid
  aggregate (k·d partial+final); the k×k matrix itself is
  dimension-sized, never corpus-sized.
- ``emb_int8_quantize_error`` — scalar int8 quantization of the embedding
  column: per-dimension global [min, max] (one aggregation, 64 rows),
  codes = floor(255 * normalized + 0.5), then per-label mean
  reconstruction MSE. The distributive shape (posexplode → per-dim stats →
  broadcast join back) never materializes per-vector state on the driver,
  unlike codebook methods that collect centroids.
- ``emb_hof_vector_stats`` — per-vector norms/sparsity via higher-order
  functions only (transform/aggregate/filter/array_max): the JVM-side way
  to profile an embedding column with zero Python and zero
  explode-shuffle. The DuckDB twin uses list comprehensions + list_reduce,
  which fold in the same left-to-right order, so doubles agree
  bit-for-bit.
- ``emb_pca_power_iteration`` — two matrix-free power-iteration rounds
  (v ← normalize(Xᵀ(Xv))) toward the corpus's leading principal direction
  (each round provably raises the Rayleigh quotient). Like PageRank the
  oracle UNROLLS the recurrence into chained CTEs with bit-identical
  expressions, so the value hash covers the whole iteration. Per round:
  one (vec)-keyed and one (pos)-keyed partial+final aggregate — X never
  materializes as a matrix and nothing driver-side sees a vector. The
  loadings round at 6 with normalization keeping magnitudes O(0.1).
- ``emb_pca_topk_deflation`` — the top-2 principal directions by power
  iteration with orthogonal deflation (operators/pca.py): component 0 is
  ``emb_pca_power_iteration``'s plain recurrence; component 1 starts from
  the deflated uniform vector and re-deflates every loading iterate. The
  oracle unrolls both components × both rounds (26 CTEs) with
  expression-identical doubles — the start constant is ``1/sqrt(d)``
  computed FROM THE DATA on both engines (sqrt is IEEE correctly-rounded
  in CPython and DuckDB alike), so the oracle holds at any
  dimensionality. PCA touches the exploded corpus 2·k·rounds times with
  every deflation object k·d or smaller and nothing but the
  dimensionality on the driver.

Reference contrast: the reference engine is one-shot map→reduce over
string pairs (KeyValue is string/string, worker.go:26-29) — it cannot
iterate, carry per-round broadcast state, or express vector algebra.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from mapreduce_system_spark.caches import tracked_cache
from mapreduce_system_spark.operators import pq as PQ
from mapreduce_system_spark.operators import similarity as SIM
from mapreduce_system_spark.operators.pca import pca_topk
from mapreduce_system_spark.operators.similarity import (
    label_centroids,
    matryoshka_norm_profile,
)
from mapreduce_system_spark.registry import register
from mapreduce_system_spark.sources.tables import load_table

_N_QUERIES = 10
_TOPK = 5
_DIM = 64  # embeddings contract (FIXTURES.md): array<float> of 64


def _query_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings", columns=["vec_id", "embedding"])
    return emb.where(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )


_TOPK_SQL = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < {_N_QUERIES}
), s AS (
  SELECT query_id, vec_id,
         list_cosine_similarity(qv::DOUBLE[], embedding::DOUBLE[]) AS c
  FROM q CROSS JOIN embeddings
  WHERE vec_id <> query_id
), r AS (
  SELECT query_id, vec_id, c,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY round(c, 6) DESC, vec_id) AS BIGINT) AS rn
  FROM s
)
SELECT query_id, vec_id, round(c, 6) AS cos, rn
FROM r WHERE rn <= {_TOPK}
ORDER BY query_id, rn
"""


def _ranked(out: DataFrame) -> DataFrame:
    return out.select(
        "query_id", "vec_id", F.round("cos", 6).alias("cos"), "rn"
    ).orderBy("query_id", "rn")


@register("sim_topk_bruteforce", _TOPK_SQL)
def q_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 cosine neighbors for 10 query vectors — broadcast
    nested-loop scan of the corpus, ranked per query."""
    emb = load_table(spark, sf_dir, "embeddings", columns=["vec_id", "embedding"])
    return _ranked(SIM.brute_force_topk(emb, _query_set(spark, sf_dir), k=_TOPK))


def _ivf_probe_path(sf_name: str) -> str:
    return f"/tmp/spark_graft_ivf_probes_{sf_name}"


# Candidates = embeddings within probed label partitions; cosine, rank and
# top-k are recomputed wholly in SQL from the exported probe table.
_IVF_SQL = f"""
WITH pr AS (
  SELECT query_id, label FROM read_parquet('{_ivf_probe_path("sf0.01")}/*.parquet')
), q AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < {_N_QUERIES}
), s AS (
  SELECT pr.query_id, e.vec_id,
         list_cosine_similarity(q.qv::DOUBLE[], e.embedding::DOUBLE[]) AS c
  FROM pr JOIN q USING (query_id) JOIN embeddings e ON e.label = pr.label
  WHERE e.vec_id <> pr.query_id
), r AS (
  SELECT query_id, vec_id, c,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY round(c, 6) DESC, vec_id) AS BIGINT) AS rn
  FROM s
)
SELECT query_id, vec_id, round(c, 6) AS cos, rn
FROM r WHERE rn <= {_TOPK}
ORDER BY query_id, rn
"""


@register("sim_topk_ivf", _IVF_SQL, sf_bound=True)
def q_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-5: probe the 3 nearest label-centroids per query, exact
    cosine inside probed partitions (~30% of the corpus scanned).

    Probes are materialized to parquet and read back so Spark and the
    oracle score the identical probe set; centroids come from
    ``label_centroids`` (one dimension-agnostic aggregation)."""
    emb = load_table(spark, sf_dir, "embeddings", columns=["vec_id", "embedding", "label"])
    q = _query_set(spark, sf_dir)
    centroids = SIM.label_centroids(emb, partition_col="label")
    probes = SIM.ivf_probes(q, centroids, nprobe=3, partition_col="label")
    path = _ivf_probe_path(Path(sf_dir).name)
    probes.write.mode("overwrite").parquet(path)
    probes_back = spark.read.parquet(path)
    return _ranked(SIM.ivf_topk(emb, q, k=_TOPK, probes=probes_back))


@register("sim_topk_ivf_exact", _TOPK_SQL)
def q_topk_ivf_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with nprobe = the full label cardinality (10): every partition
    is probed, so the result is EXACTLY brute force — the degenerate
    configuration that lets the driver hash-verify the whole IVF pipeline
    (centroid derivation, probe ranking, partition equi-join, scoring)
    against the brute-force SQL oracle with no exports."""
    emb = load_table(spark, sf_dir, "embeddings", columns=["vec_id", "embedding", "label"])
    return _ranked(SIM.ivf_topk(emb, _query_set(spark, sf_dir), k=_TOPK, nprobe=10))


def _lsh_sig_path(sf_name: str) -> str:
    return f"/tmp/spark_graft_lsh_sigs_{sf_name}"


# Candidates = same-(table, bucket) pairs from the exported signatures;
# distinct-pair dedup, cosine, rank and top-k recomputed in SQL.
_LSH_SQL = f"""
WITH cs AS (
  SELECT t, id, bucket FROM read_parquet('{_lsh_sig_path("sf0.01")}/corpus/*.parquet')
), qs AS (
  SELECT t, id AS query_id, bucket FROM read_parquet('{_lsh_sig_path("sf0.01")}/queries/*.parquet')
), cand AS (
  SELECT DISTINCT qs.query_id, cs.id AS vec_id
  FROM cs JOIN qs ON cs.t = qs.t AND cs.bucket = qs.bucket
  WHERE cs.id <> qs.query_id
), q AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < {_N_QUERIES}
), s AS (
  SELECT c.query_id, c.vec_id,
         list_cosine_similarity(q.qv::DOUBLE[], e.embedding::DOUBLE[]) AS cval
  FROM cand c JOIN q USING (query_id) JOIN embeddings e ON e.vec_id = c.vec_id
), r AS (
  SELECT query_id, vec_id, cval,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY round(cval, 6) DESC, vec_id) AS BIGINT) AS rn
  FROM s
)
SELECT query_id, vec_id, round(cval, 6) AS cos, rn
FROM r WHERE rn <= {_TOPK}
ORDER BY query_id, rn
"""


@register("sim_topk_lsh", _LSH_SQL, sf_bound=True)
def q_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH top-5: same-bucket candidates from the union
    of 2 independent hash tables (16 buckets each — OR-amplified recall),
    exact cosine + rank within candidates.

    Corpus and query bucket signatures are exported and read back, so the
    oracle joins the very same (table, bucket) keys Spark joined."""
    emb = load_table(spark, sf_dir, "embeddings", columns=["vec_id", "embedding"])
    q = _query_set(spark, sf_dir)
    base = _lsh_sig_path(Path(sf_dir).name)
    csig = SIM.lsh_signatures(emb, _DIM, n_planes=4, n_tables=2, id_col="vec_id")
    qsig = SIM.lsh_signatures(q, _DIM, n_planes=4, n_tables=2, id_col="query_id",
                              vec_col="query_vec")
    csig.write.mode("overwrite").parquet(f"{base}/corpus")
    qsig.write.mode("overwrite").parquet(f"{base}/queries")
    out = SIM.lsh_bucket_topk(
        emb, q, k=_TOPK, n_tables=2,
        corpus_sig=spark.read.parquet(f"{base}/corpus"),
        query_sig=spark.read.parquet(f"{base}/queries"),
    )
    return _ranked(out)


def _kmeans_path(sf_name: str, part: str) -> str:
    return f"/tmp/spark_graft_kmeans_{part}_{sf_name}"


# Memoized per (sf_dir, k, max_iter): two registered queries share one fit,
# and the fit is deterministic (no RNG — smallest-id seeding), so reuse
# within a process is observationally identical to refitting.
_KMEANS_MEMO: dict[tuple[str, int, int], list[list[float]]] = {}


def _fit_kmeans(spark: SparkSession, sf_dir: str, k: int = 8, max_iter: int = 3):
    from mapreduce_system_spark.operators import clustering as CL

    key = (sf_dir, k, max_iter)
    if key not in _KMEANS_MEMO:
        emb = load_table(spark, sf_dir, "embeddings", columns=["vec_id", "embedding"])
        _KMEANS_MEMO[key] = CL.kmeans_fit(emb, k=k, max_iter=max_iter)
    return _KMEANS_MEMO[key]


# Nearest-centroid invariant, recomputed independently: DuckDB assigns each
# vector to its argmin-distance exported centroid (ties → lowest cluster,
# matching nearest_centroid's struct-min tie-break). list_distance is a
# monotone transform of the squared-L2 the Spark side minimizes, so the
# argmin agrees except for exact-tie boundaries (probability ~0 on
# continuous embeddings).
_KMEANS_ASSIGN_SQL = f"""
WITH c AS (
  SELECT cluster, centroid FROM read_parquet('{_kmeans_path("sf0.01", "centroids")}/*.parquet')
), d AS (
  SELECT e.vec_id, c.cluster,
         list_distance(e.embedding::DOUBLE[], c.centroid::DOUBLE[]) AS dist
  FROM embeddings e CROSS JOIN c
), r AS (
  SELECT vec_id, cluster,
         row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster) AS rn
  FROM d
)
SELECT vec_id, cluster FROM r WHERE rn = 1 ORDER BY vec_id
"""


@register("cluster_kmeans_assign", _KMEANS_ASSIGN_SQL, sf_bound=True)
def q_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-means (8 clusters, 3 Lloyd iterations, smallest-id
    init — operators/clustering.py) assignment table, hash-checked against
    DuckDB's independent argmin over the exported centroids: every vector
    must land on its nearest centroid with the same tie-break."""
    centroids = _fit_kmeans(spark, sf_dir)
    cent_df = SIM.centroids_df(spark, centroids, partition_col="cluster")
    cent_df.write.mode("overwrite").parquet(_kmeans_path(Path(sf_dir).name, "centroids"))
    from mapreduce_system_spark.operators import clustering as CL

    emb = load_table(spark, sf_dir, "embeddings", columns=["vec_id", "embedding"])
    return (
        CL.kmeans_assign(emb, centroids, out_col="cluster")
        .select("vec_id", "cluster")
        .orderBy("vec_id")
    )


# Same re-derivation as _IVF_SQL, but over the exported k-means assignment
# and probe tables instead of the fixture label column.
_KMEANS_IVF_SQL = f"""
WITH asg AS (
  SELECT vec_id, cluster FROM read_parquet('{_kmeans_path("sf0.01", "assign")}/*.parquet')
), pr AS (
  SELECT query_id, cluster FROM read_parquet('{_kmeans_path("sf0.01", "probes")}/*.parquet')
), q AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < {_N_QUERIES}
), s AS (
  SELECT pr.query_id, a.vec_id,
         list_cosine_similarity(q.qv::DOUBLE[], e.embedding::DOUBLE[]) AS c
  FROM pr JOIN asg a USING (cluster) JOIN q USING (query_id)
       JOIN embeddings e ON e.vec_id = a.vec_id
  WHERE a.vec_id <> pr.query_id
), r AS (
  SELECT query_id, vec_id, c,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY round(c, 6) DESC, vec_id) AS BIGINT) AS rn
  FROM s
)
SELECT query_id, vec_id, round(c, 6) AS cos, rn
FROM r WHERE rn <= {_TOPK}
ORDER BY query_id, rn
"""


@register("cluster_kmeans_ivf_topk", _KMEANS_IVF_SQL, sf_bound=True)
def q_topk_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-5 over a *learned* coarse quantizer: deterministic k-means
    replaces the fixture's precomputed label — the self-contained form an
    ANN index build uses at scale. The assignment and probe tables are
    exported and read back, so Spark's equi-join candidates and DuckDB's
    re-derived candidates are provably the same set; scoring and ranking
    are then recomputed independently by both engines."""
    centroids = _fit_kmeans(spark, sf_dir)
    from mapreduce_system_spark.operators import clustering as CL

    emb = load_table(spark, sf_dir, "embeddings", columns=["vec_id", "embedding"])
    q = _query_set(spark, sf_dir)
    sf_name = Path(sf_dir).name

    assign = CL.kmeans_assign(emb, centroids, out_col="cluster").select("vec_id", "cluster")
    assign.write.mode("overwrite").parquet(_kmeans_path(sf_name, "assign"))
    cent_df = SIM.centroids_df(spark, centroids, partition_col="cluster")
    probes = SIM.ivf_probes(q, cent_df, nprobe=3, partition_col="cluster")
    probes.write.mode("overwrite").parquet(_kmeans_path(sf_name, "probes"))

    clustered = emb.join(spark.read.parquet(_kmeans_path(sf_name, "assign")), "vec_id")
    out = SIM.ivf_topk(
        clustered, q, k=_TOPK, partition_col="cluster",
        probes=spark.read.parquet(_kmeans_path(sf_name, "probes")),
    )
    return _ranked(out)


_DUP_PAIRS_SQL = """
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cos
FROM embeddings a
JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) >= 0.4
ORDER BY id_a, id_b
"""


@register("sim_dup_pairs_cosine", _DUP_PAIRS_SQL)
def q_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs (cosine ≥ 0.4) within label blocks —
    blocked equi-join, exact within block."""
    emb = load_table(spark, sf_dir, "embeddings", columns=["vec_id", "embedding", "label"])
    out = SIM.cosine_dup_pairs(emb, threshold=0.4, block_col="label")
    return out.select("id_a", "id_b", F.round("cos", 6).alias("cos")).orderBy("id_a", "id_b")


def _rproj_path(sf_name: str) -> str:
    return f"/tmp/spark_graft_rproj_R_{sf_name}"


# Full re-derivation of the JL projection: the oracle recomputes every
# projected vector as 16 dot products against the exported matrix rows,
# then the norm-compression profile. Sum orders differ between numpy BLAS
# and the SQL fold only at ~1e-15 relative — invisible at 3-decimal
# rounding.
_RPROJ_SQL = f"""
WITH R AS (
  SELECT j, rvec FROM read_parquet('{_rproj_path("sf0.01")}/*.parquet')
), p AS (
  SELECT e.vec_id, any_value(e.label) AS label,
         sqrt(sum(pow(list_dot_product(e.embedding::DOUBLE[], R.rvec), 2))) AS pnorm,
         any_value(sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))) AS enorm
  FROM embeddings e CROSS JOIN R
  GROUP BY e.vec_id
)
SELECT label, count(*) AS n, round(avg(pnorm / enorm), 3) AS avg_norm_ratio
FROM p WHERE enorm > 0
GROUP BY label ORDER BY label
"""


@register("emb_random_projection_profile", _RPROJ_SQL, sf_bound=True)
def q_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss 64→16 projection profile per label: norm
    compression ratio ≈ 1 when distances are preserved. The seeded
    projection matrix is exported, and the oracle recomputes every
    projection + the profile from it — a full value check of the
    executor-side matmul; the JL distance-preservation property itself is
    asserted in tests/test_similarity.py."""
    from mapreduce_system_spark.functions.vectors import norm

    R = SIM.projection_matrix(in_dim=_DIM, out_dim=16)
    spark.createDataFrame(
        [(j, row.tolist()) for j, row in enumerate(R)], "j int, rvec array<double>"
    ).write.mode("overwrite").parquet(_rproj_path(Path(sf_dir).name))

    emb = load_table(spark, sf_dir, "embeddings", columns=["vec_id", "embedding", "label"])
    proj = SIM.random_projection(emb, in_dim=_DIM, out_dim=16, keep_input=True)
    return (
        proj.where(norm(F.col("embedding")) > 0)
        .select(
            "label",
            (norm(F.col("projected")) / norm(F.col("embedding"))).alias("ratio"),
        )
        .groupBy("label")
        .agg(F.count("*").alias("n"), F.round(F.avg("ratio"), 3).alias("avg_norm_ratio"))
        .orderBy("label")
    )


_PQ_M, _PQ_KS, _PQ_SHORTLIST = 16, 16, 50
_PQ_SUB = _DIM // _PQ_M


def _pq_path(sf_name: str, part: str) -> str:
    return f"/tmp/spark_graft_pq_{part}_{sf_name}"


# Full ADC re-derivation from the exported index: the oracle rebuilds the
# (query × subspace × code) lookup table from the codebook export, scores
# every corpus vector from its exported codes (approximate cosine = dot
# against the PQ reconstruction over its energy), takes the same rounded-
# score shortlist, and re-ranks it by exact cosine — so codebook training
# and encoding are Spark's choices, while LUT construction, ADC
# summation, shortlist membership, re-ranking and ties are recomputed
# independently in SQL. The shortlist ranks on round(score, 6): the
# m-cell sum's addition order differs between engines, and rounding
# collapses that last-ulp drift into exact vec_id-broken ties.
_PQ_SQL = f"""
WITH cb AS (
  SELECT subspace, code, centroid FROM read_parquet('{_pq_path("sf0.01", "codebooks")}/*.parquet')
), co AS (
  SELECT vec_id, codes FROM read_parquet('{_pq_path("sf0.01", "codes")}/*.parquet')
), q AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < {_N_QUERIES}
), qn AS (
  SELECT query_id, sqrt(list_dot_product(qv::DOUBLE[], qv::DOUBLE[])) AS qnorm FROM q
), ex AS (
  SELECT vec_id, s.i AS subspace, codes[s.i + 1] AS code
  FROM co CROSS JOIN (SELECT unnest(range(0, {_PQ_M})) AS i) s
), lut AS (
  SELECT query_id, subspace, code,
         list_dot_product(qv[(subspace * {_PQ_SUB} + 1):(subspace * {_PQ_SUB} + {_PQ_SUB})]::DOUBLE[], centroid) AS dot,
         list_dot_product(centroid, centroid) AS sqn
  FROM cb CROSS JOIN q
), sc AS (
  SELECT l.query_id, e.vec_id, sum(l.dot) AS adot, sum(l.sqn) AS rsqn
  FROM ex e JOIN lut l ON e.subspace = l.subspace AND e.code = l.code
  WHERE e.vec_id <> l.query_id
  GROUP BY l.query_id, e.vec_id
), sl AS (
  SELECT query_id, vec_id,
         row_number() OVER (
           PARTITION BY query_id
           ORDER BY round(adot / nullif(qn.qnorm * sqrt(rsqn), 0), 6) DESC, vec_id
         ) AS srn
  FROM sc JOIN qn USING (query_id)
), re AS (
  SELECT sl.query_id, sl.vec_id,
         list_cosine_similarity(q.qv::DOUBLE[], emb.embedding::DOUBLE[]) AS c
  FROM sl JOIN q USING (query_id) JOIN embeddings emb ON emb.vec_id = sl.vec_id
  WHERE sl.srn <= {_PQ_SHORTLIST}
), r AS (
  SELECT query_id, vec_id, c,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY round(c, 6) DESC, vec_id) AS BIGINT) AS rn
  FROM re
)
SELECT query_id, vec_id, round(c, 6) AS cos, rn
FROM r WHERE rn <= {_TOPK}
ORDER BY query_id, rn
"""


@register("sim_topk_pq", _PQ_SQL, sf_bound=True)
def q_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization top-5: ADC shortlist over the m×4-bit code
    table, exact re-rank of the shortlist — the on-disk-index half of
    similarity search (operators/pq.py; IVF/LSH prune WHERE to look,
    PQ compresses WHAT is scanned: 64×float32 → 16 codes per vector).

    The trained index is exported as real side tables (codebooks +
    codes — the artifacts a serving tier would load) and read back, so
    Spark and the oracle score the identical index; the ADC shortlist
    (rounded-score ranking, |shortlist| = 50) is re-ranked by exact
    cosine against the fetched candidate vectors — the standard
    two-stage PQ serving shape. Shortlist recall vs brute force is
    pinned in tests/test_similarity.py (m=16/ks=16: 0.92-0.96 observed
    recall@5 at fixture scales)."""
    emb = load_table(spark, sf_dir, "embeddings", columns=["vec_id", "embedding"])
    q = _query_set(spark, sf_dir)
    books = PQ.pq_fit(emb, m=_PQ_M, ks=_PQ_KS, max_iter=5)
    codes = PQ.pq_encode(emb, books)
    sf_name = Path(sf_dir).name
    cb = spark.createDataFrame(
        [
            (j, c, books[j][c])
            for j in range(len(books))
            for c in range(len(books[j]))
        ],
        "subspace int, code int, centroid array<double>",
    )
    cb.write.mode("overwrite").parquet(_pq_path(sf_name, "codebooks"))
    codes.write.mode("overwrite").parquet(_pq_path(sf_name, "codes"))
    cb_back = spark.read.parquet(_pq_path(sf_name, "codebooks"))
    codes_back = spark.read.parquet(_pq_path(sf_name, "codes"))

    return _ranked(
        PQ.pq_topk_rerank(
            emb, codes_back, q, cb_back, k=_TOPK, shortlist=_PQ_SHORTLIST
        )
    )


# ---------------------------------------------------------------------------
# emb_matryoshka_profile — MRL truncation diagnostic
# ---------------------------------------------------------------------------
_MRL_PREFIXES = [8, 16, 32, 64]

_MRL_PREFIX_SELECTS = " UNION ALL ".join(
    f"""SELECT label, {p} AS prefix_dim,
        list_sum(sq[1:{p}]) / tot AS frac FROM b"""
    for p in _MRL_PREFIXES
)

_MRL_SQL = f"""
WITH v AS (
  SELECT label,
         list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS sq
  FROM embeddings
  WHERE embedding IS NOT NULL
), b AS (
  SELECT label, sq, list_sum(sq) AS tot FROM v WHERE list_sum(sq) > 0
), fr AS ({_MRL_PREFIX_SELECTS})
SELECT label, prefix_dim, round(avg(frac), 6) AS mean_frac,
       CAST(count(*) AS BIGINT) AS n_vecs
FROM fr
GROUP BY 1, 2
ORDER BY 1, 2
"""


@register("emb_matryoshka_profile", _MRL_SQL)
def q_matryoshka_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean norm fraction captured by the {8,16,32,64}-dim
    prefixes of the 64-dim embedding column
    (operators/similarity.py::matryoshka_norm_profile, staged r13) —
    tests/test_fusion.py's drafted oracle algebra verbatim. The
    oversized-prefix domain guard (ADVICE r13) raises rather than
    letting F.slice clamp; the fixture's vectors are exactly 64-dim so
    the 64 prefix is the full-norm fold (mean_frac = 1.0 row per
    label, a built-in sanity pin)."""
    emb = load_table(spark, sf_dir, "embeddings", columns=["embedding", "label"])
    return matryoshka_norm_profile(emb, _MRL_PREFIXES).orderBy("label", "prefix_dim")


# ---------------------------------------------------------------------------
# sim_recall_at_k
# ---------------------------------------------------------------------------
def _recall_probe_path(sf_name: str) -> str:
    return f"/tmp/spark_graft_recall_probes_{sf_name}"


# DuckDB re-derives the exact top-5 (brute force over embeddings) AND the
# IVF top-5 (candidates = embeddings in the exported probe partitions),
# then recomputes recall per query — the approximation quality is checked
# end to end, not just the candidate plumbing.
_RECALL_SQL = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < {_N_QUERIES}
), ex AS (
  SELECT query_id, vec_id, c FROM (
    SELECT q.query_id, e.vec_id,
           list_cosine_similarity(q.qv::DOUBLE[], e.embedding::DOUBLE[]) AS c,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY round(list_cosine_similarity(q.qv::DOUBLE[], e.embedding::DOUBLE[]), 6) DESC,
                      e.vec_id) AS rn
    FROM q CROSS JOIN embeddings e WHERE e.vec_id <> q.query_id
  ) WHERE rn <= {_TOPK}
), t5 AS (
  SELECT query_id, min(c) AS thresh FROM ex GROUP BY query_id
), pr AS (
  SELECT query_id, label FROM read_parquet('{_recall_probe_path("sf0.01")}/*.parquet')
), ap AS (
  SELECT query_id, vec_id, c FROM (
    SELECT pr.query_id, e.vec_id,
           list_cosine_similarity(q.qv::DOUBLE[], e.embedding::DOUBLE[]) AS c,
           row_number() OVER (
             PARTITION BY pr.query_id
             ORDER BY round(list_cosine_similarity(q.qv::DOUBLE[], e.embedding::DOUBLE[]), 6) DESC,
                      e.vec_id) AS rn
    FROM pr JOIN q USING (query_id) JOIN embeddings e ON e.label = pr.label
    WHERE e.vec_id <> pr.query_id
  ) WHERE rn <= {_TOPK}
), h AS (
  SELECT ap.query_id, count(*) AS n_hits
  FROM ap JOIN t5 USING (query_id)
  WHERE ap.c >= t5.thresh - 1e-9
  GROUP BY ap.query_id
)
SELECT q.query_id,
       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       round(coalesce(h.n_hits, 0) / {_TOPK}.0, 2) AS recall
FROM q LEFT JOIN h ON q.query_id = h.query_id
ORDER BY q.query_id
"""


@register("sim_recall_at_k", _RECALL_SQL, sf_bound=True)
def q_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the IVF index (nprobe=3 over the label partitions)
    against exact brute force, per query vector — the driver-checkable
    form of tests/test_similarity.py's recall floor. Both sides are
    re-derived independently: Spark computes them with its unit-vector
    JVM fold, DuckDB wholly from the embeddings table + the exported
    probe assignments via list_cosine_similarity.

    TIE-ROBUST hit definition: an approx candidate counts as a hit when
    its exact cosine clears the 5th-best exact cosine minus 1e-9 —
    recall-with-ties, the standard ANN-benchmark form. Set-intersection
    recall would flip on the rank-5/6 boundary whenever the two engines'
    float pipelines disagree by one ulp there (the advisor's round-5
    fragility note); the 1e-9 slack dwarfs cross-engine ulp noise while
    still failing any genuinely-missed neighbor."""
    from mapreduce_system_spark.caches import tracked_cache

    # the corpus is scanned by the probe export, the exact top-k, and the
    # IVF top-k — cache the 3-column projection once for the query
    emb = tracked_cache(
        load_table(spark, sf_dir, "embeddings", columns=["vec_id", "embedding", "label"])
    )
    q = emb.where(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    centroids = SIM.label_centroids(emb, partition_col="label")
    probes = SIM.ivf_probes(q, centroids, nprobe=3, partition_col="label")
    path = _recall_probe_path(Path(sf_dir).name)
    probes.write.mode("overwrite").parquet(path)
    probes_back = spark.read.parquet(path)

    thresh = (
        SIM.brute_force_topk(emb, q, k=_TOPK)
        .groupBy("query_id")
        .agg(F.min("cos").alias("thresh"))
    )
    approx = SIM.ivf_topk(emb, q, k=_TOPK, probes=probes_back).select("query_id", "cos")
    hits = (
        approx.join(F.broadcast(thresh), "query_id")
        .where(F.col("cos") >= F.col("thresh") - 1e-9)
        .groupBy("query_id")
        .agg(F.count("*").alias("n_hits"))
    )
    return (
        q.select("query_id")
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
            F.round(F.coalesce(F.col("n_hits"), F.lit(0)) / _TOPK, 2).alias("recall"),
        )
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# emb_centroid_outliers — per-label centroid, 5 least-central vectors each
# ---------------------------------------------------------------------------
_OUTLIER_K = 5

# The oracle recomputes the centroid relationally (position join) while the
# Spark side folds a broadcast centroid array inside each row — two
# independent formulations of the same algebra. Both rank on the ROUNDED
# cosine (tie-break vec_id) so ULP-level summation-order differences cannot
# flip the cut line.
_CENTROID_OUTLIERS_SQL = f"""
WITH pe AS (
  SELECT vec_id, label,
         unnest(generate_series(1, len(embedding))) AS pos,
         unnest(embedding) AS xf
  FROM embeddings
),
pe2 AS (SELECT vec_id, label, pos, CAST(xf AS DOUBLE) AS x FROM pe),
cent AS (SELECT label, pos, avg(x) AS c FROM pe2 GROUP BY label, pos),
dv AS (
  SELECT pe2.vec_id, pe2.label,
         sum(pe2.x * cent.c) AS dot,
         sum(pe2.x * pe2.x) AS n2v
  FROM pe2 JOIN cent ON cent.label = pe2.label AND cent.pos = pe2.pos
  GROUP BY pe2.vec_id, pe2.label
),
cn AS (SELECT label, sum(c * c) AS n2c FROM cent GROUP BY label),
scored AS (
  SELECT dv.vec_id, dv.label,
         round(dv.dot / nullif(sqrt(dv.n2v) * sqrt(cn.n2c), 0), 6) AS centroid_cos
  FROM dv JOIN cn ON cn.label = dv.label
  WHERE dv.n2v > 0
),
ranked AS (
  SELECT label, vec_id, centroid_cos,
         CAST(row_number() OVER (
           PARTITION BY label ORDER BY centroid_cos ASC NULLS LAST, vec_id) AS BIGINT) AS rk
  FROM scored
)
SELECT label, rk, vec_id, centroid_cos
FROM ranked
WHERE rk <= {_OUTLIER_K}
ORDER BY label, rk
"""


@register("emb_centroid_outliers", _CENTROID_OUTLIERS_SQL)
def q_centroid_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5 least-centroid-aligned vectors per label (semantic outlier pass).

    Plan shape, and why it survives 100 TB: the ONLY shuffle over the
    n·d exploded stream is the (label, pos) partial+final average —
    shuffled bytes are #labels × d, independent of corpus size. The
    per-label centroid arrays (#labels rows) broadcast back onto the
    unexploded table, and the cosine is a zip_with/aggregate fold
    computed entirely inside each row — scoring is map-only. The
    alternative (joining the exploded stream back to per-position
    centroids, as the DuckDB twin does) re-shuffles n·d rows; at 1000
    executors that join IS the job, which is why the Spark side avoids
    it. Top-k per label is a bounded per-group heap, never a global
    sort. (Reference contrast: no vector type at all — KeyValue is
    string/string, worker.go:26-29.)"""
    emb = load_table(spark, sf_dir, "embeddings", columns=["vec_id", "embedding", "label"])
    sumsq = lambda col: F.aggregate(col, F.lit(0.0), lambda acc, v: acc + v * v)  # noqa: E731
    # the ONE centroid-assembly definition (operators/similarity.py) —
    # a local re-derivation could drift from the exported-centroid
    # convention the sim/cluster oracles verify. Its squared norm is an
    # O(d) fold computed HERE, once per label row, not per corpus row.
    cent = label_centroids(emb, partition_col="label").withColumn(
        "_n2c", sumsq(F.col("centroid"))
    )
    xs = F.col("embedding").cast("array<double>")
    dot = F.aggregate(
        F.zip_with(xs, F.col("centroid"), lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    scored = (
        emb.join(F.broadcast(cent), "label")
        # let-bind the vector fold: _n2v serves the positivity filter AND
        # the denominator, so the O(d) fold runs once per row, not twice
        .select("label", "vec_id", dot.alias("_dot"), sumsq(xs).alias("_n2v"), "_n2c")
        .where(F.col("_n2v") > 0)
        .select(
            "label",
            "vec_id",
            # nullif on the norm product: a zero-norm centroid (components
            # cancel) must yield NULL on both engines — under ANSI Spark a
            # bare division ABORTS the whole query on it, DuckDB nulls it
            F.round(
                F.col("_dot")
                / F.nullif(F.sqrt(F.col("_n2v")) * F.sqrt(F.col("_n2c")), F.lit(0.0)),
                6,
            ).alias("centroid_cos"),
        )
    )
    # asc_nulls_last: a zero-norm centroid yields a NULL cosine on both
    # engines, but Spark ASC defaults NULLS FIRST while DuckDB defaults
    # NULLS LAST — the one ASC rank in the catalog must pin the order
    rk = F.row_number().over(
        W.partitionBy("label").orderBy(F.col("centroid_cos").asc_nulls_last(), "vec_id")
    )
    return (
        scored.select("label", rk.cast("long").alias("rk"), "vec_id", "centroid_cos")
        .where(F.col("rk") <= _OUTLIER_K)
        .orderBy("label", "rk")
    )


# ---------------------------------------------------------------------------
# emb_int8_quantize_error — scalar int8 embedding quantization + error audit
# ---------------------------------------------------------------------------
_INT8_SQL = """
WITH comp AS (
  SELECT vec_id, label,
         unnest(generate_series(1, len(embedding))) - 1 AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings
),
stats AS (SELECT pos, min(v) AS mn, max(v) AS mx FROM comp GROUP BY 1),
deq AS (
  SELECT c.vec_id, c.label,
         CASE WHEN s.mx > s.mn
              THEN s.mn + floor((c.v - s.mn) / (s.mx - s.mn) * 255 + 0.5) * (s.mx - s.mn) / 255
              ELSE c.v
         END AS vq,
         c.v
  FROM comp c JOIN stats s ON s.pos = c.pos
),
per_vec AS (
  SELECT vec_id, label, avg((v - vq) * (v - vq)) AS mse
  FROM deq GROUP BY 1, 2
)
SELECT label,
       CAST(count(*) AS BIGINT) AS n_vecs,
       round(avg(mse) * 1000000, 3) AS mse_ppm
FROM per_vec
GROUP BY label
ORDER BY label
"""


@register("emb_int8_quantize_error", _INT8_SQL)
def q_int8_quantize_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar int8 quantization of the embedding column, audited as mean
    reconstruction MSE per label (reported in ppm — parts-per-million of
    squared distance — so the rounded output carries signal).

    Codes are floor(255 * (v - mn) / (mx - mn) + 0.5) against per-
    dimension GLOBAL [mn, mx] — the standard 4x-compression step before
    shipping embeddings to an ANN index. Distributive shape: posexplode
    → 64-row per-dimension stats → broadcast join back → per-vector then
    per-label means. No driver-side state at any corpus size (contrast
    codebook quantizers, which collect centroids — see
    operators/clustering.py). Constant dimensions (mx == mn) pass
    through unquantized on both engines."""
    emb = load_table(spark, sf_dir, "embeddings", columns=["vec_id", "label", "embedding"])
    comp = emb.select(
        "vec_id",
        "label",
        F.posexplode("embedding").alias("pos", "vf"),
    ).select("vec_id", "label", "pos", F.col("vf").cast("double").alias("v"))
    stats = comp.groupBy("pos").agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
    mn, mx, v = F.col("mn"), F.col("mx"), F.col("v")
    vq = F.when(
        mx > mn,
        mn + F.floor((v - mn) / (mx - mn) * 255 + 0.5) * (mx - mn) / 255,
    ).otherwise(v)
    # MSE denominator is the observed per-vector dimension count (avg over
    # exploded components), not a hard-coded width: if the fixture's
    # embedding width ever changes, Spark and the oracle move together
    # (the oracle's generate_series bound is len(embedding) likewise).
    per_vec = (
        comp.join(F.broadcast(stats), "pos")
        .select("vec_id", "label", ((v - vq) * (v - vq)).alias("se"))
        .groupBy("vec_id", "label")
        .agg(F.avg("se").alias("mse"))
    )
    return (
        per_vec.groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            F.round(F.avg("mse") * 1000000, 3).alias("mse_ppm"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# emb_hof_vector_stats
# ---------------------------------------------------------------------------
_HOF_SQL = """
WITH v AS (
  SELECT vec_id, label, [CAST(x AS DOUBLE) for x in embedding] AS e
  FROM embeddings
)
SELECT vec_id, label,
       CAST(len(e) AS BIGINT) AS dim,
       round(sqrt(list_reduce([x * x for x in e], (a, b) -> a + b)), 6) AS l2_norm,
       round(list_reduce(e, (a, b) -> a + b) / len(e), 6) AS mean,
       CAST(len(list_filter(e, x -> abs(x) > 0.05)) AS BIGINT) AS n_large,
       round(list_aggregate([abs(x) for x in e], 'max'), 6) AS max_abs
FROM v
ORDER BY vec_id
"""


@register("emb_hof_vector_stats", _HOF_SQL)
def q_hof_vector_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector embedding profile computed entirely with higher-order
    functions — transform / aggregate (left fold) / filter / array_max —
    i.e. inside the row, JVM-side, with no explode, no shuffle beyond
    the final sort, and no Python. The left-fold accumulation order is
    identical to DuckDB's list_reduce, so the doubles match exactly.
    (Precondition: non-empty vectors — the fixture's are fixed-width.)"""
    emb = load_table(spark, sf_dir, "embeddings", columns=["vec_id", "label", "embedding"])
    e = F.transform("embedding", lambda x: x.cast("double"))
    v = emb.select("vec_id", "label", e.alias("e"))
    acc = F.lit(0.0)
    l2 = F.sqrt(
        F.aggregate(F.transform("e", lambda x: x * x), acc, lambda a, x: a + x)
    )
    mean = F.aggregate("e", acc, lambda a, x: a + x) / F.size("e")
    n_large = F.size(F.filter("e", lambda x: F.abs(x) > 0.05))
    max_abs = F.array_max(F.transform("e", lambda x: F.abs(x)))
    return (
        v.select(
            "vec_id",
            "label",
            F.size("e").cast("long").alias("dim"),
            F.round(l2, 6).alias("l2_norm"),
            F.round(mean, 6).alias("mean"),
            n_large.cast("long").alias("n_large"),
            F.round(max_abs, 6).alias("max_abs"),
        )
        .orderBy("vec_id")
    )


# ---------------------------------------------------------------------------
# emb_centroid_distance_matrix — pairwise cosine between label centroids
# ---------------------------------------------------------------------------
_CENTROID_MATRIX_SQL = """
WITH comp AS (
  SELECT label,
         unnest(generate_series(1, len(embedding))) - 1 AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings
),
c AS (SELECT label, pos, avg(v) AS m FROM comp GROUP BY label, pos),
p AS (
  SELECT a.label AS label_a, b.label AS label_b,
         sum(a.m * b.m) AS dot, sum(a.m * a.m) AS na, sum(b.m * b.m) AS nb
  FROM c a JOIN c b ON a.pos = b.pos AND a.label < b.label
  GROUP BY 1, 2
)
SELECT label_a, label_b,
       round(dot / nullif(sqrt(na) * sqrt(nb), 0), 6) AS cosine
FROM p
ORDER BY label_a, label_b
"""


@register("emb_centroid_distance_matrix", _CENTROID_MATRIX_SQL)
def q_centroid_distance_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cosine similarity between the per-label embedding
    centroids — the cluster-separation audit (labels whose centroids
    sit near cosine 1 are candidates for merging; the filtering twin
    is ``emb_centroid_outliers``).

    The ONLY corpus-sized step is the (label, pos) centroid aggregate
    — posexplode then partial+final avg, the ``emb_int8_quantize_error``
    shape. Everything after operates on k·d centroid components: the
    pos-keyed self-join and the k² pair rollup are dimension-sized
    (k²·d pairs ≪ any corpus), so the matrix costs the same at 100 TB
    as at fixture scale. Both engines compute cosine relationally from
    identical centroid components — no fold-order divergence."""
    emb = load_table(spark, sf_dir, "embeddings", columns=["label", "embedding"])
    comp = emb.select(
        "label", F.posexplode("embedding").alias("pos", "vf")
    ).select("label", "pos", F.col("vf").cast("double").alias("v"))
    c = comp.groupBy("label", "pos").agg(F.avg("v").alias("m"))
    a, b = c.alias("a"), c.alias("b")
    p = (
        a.join(
            b,
            (F.col("a.pos") == F.col("b.pos"))
            & (F.col("a.label") < F.col("b.label")),
        )
        .groupBy(
            F.col("a.label").alias("label_a"), F.col("b.label").alias("label_b")
        )
        .agg(
            F.sum(F.col("a.m") * F.col("b.m")).alias("dot"),
            F.sum(F.col("a.m") * F.col("a.m")).alias("na"),
            F.sum(F.col("b.m") * F.col("b.m")).alias("nb"),
        )
    )
    return p.select(
        "label_a",
        "label_b",
        # nullif-guard: a zero-norm centroid (degenerate label) makes the
        # denominator 0 — Spark non-ANSI division yields NULL, DuckDB IEEE
        # yields NaN; pin both to NULL (ADVICE-r8 class, proactive)
        F.round(
            F.col("dot") / F.nullif(F.sqrt("na") * F.sqrt("nb"), F.lit(0.0)), 6
        ).alias("cosine"),
    ).orderBy("label_a", "label_b")


# ---------------------------------------------------------------------------
# emb_pca_power_iteration — leading principal direction, matrix-free
# ---------------------------------------------------------------------------

# v0 is the uniform unit vector (1/8 per component for d = 64); two rounds
# of v <- normalize(X^T (X v)). The oracle unrolls both rounds with the
# IDENTICAL expressions (sum(val) * (1.0/8.0), w/nrm), so every double is
# bit-equal modulo summation order, absorbed by round(6).
_PCA_SQL = """
WITH comp AS (
  SELECT vec_id,
         unnest(generate_series(1, len(embedding))) - 1 AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS val
  FROM embeddings
),
s1 AS (SELECT vec_id, sum(val) * (1.0/8.0) AS s FROM comp GROUP BY vec_id),
w1 AS (
  SELECT c.pos, sum(c.val * s1.s) AS w
  FROM comp c JOIN s1 ON s1.vec_id = c.vec_id GROUP BY c.pos
),
n1 AS (SELECT sqrt(sum(w * w)) AS nrm FROM w1),
v1 AS (SELECT pos, w / nullif(nrm, 0) AS v FROM w1 CROSS JOIN n1),
s2 AS (
  SELECT c.vec_id, sum(c.val * v1.v) AS s
  FROM comp c JOIN v1 ON v1.pos = c.pos GROUP BY c.vec_id
),
w2 AS (
  SELECT c.pos, sum(c.val * s2.s) AS w
  FROM comp c JOIN s2 ON s2.vec_id = c.vec_id GROUP BY c.pos
),
n2 AS (SELECT sqrt(sum(w * w)) AS nrm FROM w2)
SELECT pos, round(w / nullif(nrm, 0), 6) AS loading
FROM w2 CROSS JOIN n2
ORDER BY pos
"""


@register("emb_pca_power_iteration", _PCA_SQL)
def q_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two matrix-free power-iteration rounds toward the leading
    principal direction of the (uncentered) embedding corpus — the
    dimensionality audit (and whitening seed) run before ANN index
    tuning; the JL projection (``emb_random_projection_profile``) is
    its data-blind complement. Each round provably increases the
    Rayleigh quotient (pinned by pytest); a production run loops the
    same two aggregates to its tolerance the way ``kmeans_fit`` does.

    Each round is two partial+final aggregates: scores s = Xv (keyed
    by vec_id), loadings w = Xᵀs (keyed by pos), then a one-row norm
    broadcast back — the Gram matrix is never formed, no step's state
    exceeds k·d, and the corpus-sized relation is touched exactly
    twice per round through whole-stage-codegen multiply-adds. The
    oracle unrolls the identical recurrence (PageRank's verification
    pattern), so the hash covers both rounds end-to-end."""
    emb = load_table(spark, sf_dir, "embeddings", columns=["vec_id", "embedding"])
    comp = emb.select(
        "vec_id", F.posexplode("embedding").alias("pos", "vf")
    ).select("vec_id", "pos", F.col("vf").cast("double").alias("val"))
    s1 = comp.groupBy("vec_id").agg((F.sum("val") * (1.0 / 8.0)).alias("s"))
    w1 = (
        comp.join(s1, "vec_id")
        .groupBy("pos")
        .agg(F.sum(F.col("val") * F.col("s")).alias("w"))
    )
    n1 = w1.agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm"))
    v1 = w1.crossJoin(F.broadcast(n1)).select(
        # nullif on the norm: a zero iterate (input orthogonal to v —
        # measure-zero but possible) must be NULL on both engines, not
        # Spark-NULL-vs-DuckDB-inf (ADVICE-r8 class, proactive; the
        # oracle mirrors the guard so expressions stay identical)
        "pos", (F.col("w") / F.nullif(F.col("nrm"), F.lit(0.0))).alias("v")
    )
    s2 = (
        comp.join(F.broadcast(v1), "pos")
        .groupBy("vec_id")
        .agg(F.sum(F.col("val") * F.col("v")).alias("s"))
    )
    w2 = (
        comp.join(s2, "vec_id")
        .groupBy("pos")
        .agg(F.sum(F.col("val") * F.col("s")).alias("w"))
    )
    n2 = w2.agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm"))
    return (
        w2.crossJoin(F.broadcast(n2))
        .select(
            "pos",
            F.round(
                F.col("w") / F.nullif(F.col("nrm"), F.lit(0.0)), 6
            ).alias("loading"),
        )
        .orderBy("pos")
    )


# ---------------------------------------------------------------------------
# emb_pca_topk_deflation — top-2 principal directions, matrix-free
# ---------------------------------------------------------------------------

# The unrolled twin of pca_topk(k=2, rounds=2) — component 0 (v1) is the
# plain power iteration from the uniform 1/sqrt(d) start; component 1 (v2)
# deflates the start against v1 (b_t0) and re-deflates each loading iterate
# (b_p1, b_p2). Every CTE mirrors one Spark aggregate with the SAME operand
# order; d comes from the data so the oracle holds on any corpus.
_PCA_TOPK_SQL = """
WITH comp AS (
  SELECT vec_id AS id,
         unnest(generate_series(1, len(embedding))) - 1 AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS val
  FROM embeddings
),
dd AS (SELECT CAST(max(pos) + 1 AS DOUBLE) AS d FROM comp),
st AS (SELECT 1.0 / sqrt(d) AS v0 FROM dd),
a_s1 AS (SELECT id, sum(val * st.v0) AS s FROM comp CROSS JOIN st GROUP BY id),
a_w1 AS (SELECT c.pos, sum(c.val * a_s1.s) AS w
         FROM comp c JOIN a_s1 USING (id) GROUP BY c.pos),
a_n1 AS (SELECT sqrt(sum(w * w)) AS nrm FROM a_w1),
a_v1 AS (SELECT pos, w / nullif(nrm, 0) AS v FROM a_w1 CROSS JOIN a_n1),
a_s2 AS (SELECT c.id, sum(c.val * a_v1.v) AS s
         FROM comp c JOIN a_v1 USING (pos) GROUP BY c.id),
a_w2 AS (SELECT c.pos, sum(c.val * a_s2.s) AS w
         FROM comp c JOIN a_s2 USING (id) GROUP BY c.pos),
a_n2 AS (SELECT sqrt(sum(w * w)) AS nrm FROM a_w2),
v1 AS (SELECT pos, w / nullif(nrm, 0) AS v FROM a_w2 CROSS JOIN a_n2),
b_d0 AS (SELECT sum(st.v0 * v1.v) AS dot FROM v1 CROSS JOIN st),
b_t0 AS (SELECT v1.pos, st.v0 - b_d0.dot * v1.v AS v
         FROM v1 CROSS JOIN st CROSS JOIN b_d0),
b_s1 AS (SELECT c.id, sum(c.val * b_t0.v) AS s
         FROM comp c JOIN b_t0 USING (pos) GROUP BY c.id),
b_w1 AS (SELECT c.pos, sum(c.val * b_s1.s) AS w
         FROM comp c JOIN b_s1 USING (id) GROUP BY c.pos),
b_d1 AS (SELECT sum(b_w1.w * v1.v) AS dot FROM b_w1 JOIN v1 USING (pos)),
b_p1 AS (SELECT b_w1.pos, b_w1.w - b_d1.dot * v1.v AS w
         FROM b_w1 JOIN v1 USING (pos) CROSS JOIN b_d1),
b_n1 AS (SELECT sqrt(sum(w * w)) AS nrm FROM b_p1),
b_v1 AS (SELECT pos, w / nullif(nrm, 0) AS v FROM b_p1 CROSS JOIN b_n1),
b_s2 AS (SELECT c.id, sum(c.val * b_v1.v) AS s
         FROM comp c JOIN b_v1 USING (pos) GROUP BY c.id),
b_w2 AS (SELECT c.pos, sum(c.val * b_s2.s) AS w
         FROM comp c JOIN b_s2 USING (id) GROUP BY c.pos),
b_d2 AS (SELECT sum(b_w2.w * v1.v) AS dot FROM b_w2 JOIN v1 USING (pos)),
b_p2 AS (SELECT b_w2.pos, b_w2.w - b_d2.dot * v1.v AS w
         FROM b_w2 JOIN v1 USING (pos) CROSS JOIN b_d2),
b_n2 AS (SELECT sqrt(sum(w * w)) AS nrm FROM b_p2),
-- spectrum-exhaustion guard, mirroring operators/pca.py: when k exceeds
-- the corpus's effective rank the deflated iterate is zero in exact
-- arithmetic and the computed norm is pure round-off; normalizing that
-- amplifies engine-specific ulps into DIFFERENT garbage directions per
-- engine (r11 embeddings fuzz, rank-1 corpus). Both engines' ~eps norms
-- fall far below 1e-9 of component 0's, so the CASE agrees.
v2 AS (SELECT pos,
              CASE WHEN b_n2.nrm >= 1e-9 * a_n2.nrm
                   THEN w / nullif(b_n2.nrm, 0) END AS v
       FROM b_p2 CROSS JOIN b_n2 CROSS JOIN a_n2)
SELECT 0 AS component, pos, round(v, 6) AS loading FROM v1
UNION ALL
SELECT 1 AS component, pos, round(v, 6) AS loading FROM v2
ORDER BY component, pos
"""


@register("emb_pca_topk_deflation", _PCA_TOPK_SQL)
def q_pca_topk_deflation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-2 principal directions of the (uncentered) embedding corpus by
    matrix-free power iteration with orthogonal deflation — the spectrum
    audit behind whitening and PQ subspace allocation, extending
    ``emb_pca_power_iteration``'s single direction without ever forming
    the Gram matrix. Directions come out unit-norm and mutually
    orthogonal (pytest-pinned invariants on random corpora); loadings
    round at 6 with summation-order noise ~3 orders below the grid."""
    emb = load_table(spark, sf_dir, "embeddings", columns=["vec_id", "embedding"])
    out = pca_topk(emb, k=2, rounds=2)
    return out.select(
        "component", "pos", F.round("loading", 6).alias("loading")
    ).orderBy("component", "pos")


# Same oracle as sim_topk_bruteforce: the BLAS path is exact.
@register("sim_topk_arrow", _TOPK_SQL)
def q_topk_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 neighbors via Arrow-batched numpy matmul (per-batch
    heap → global merge) — the vectorized twin of sim_topk_bruteforce,
    sharing its oracle."""
    emb = load_table(spark, sf_dir, "embeddings", columns=["vec_id", "embedding"])
    queries = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = SIM.brute_force_topk_arrow(emb, queries, k=5)
    return out.select(
        "query_id", "vec_id", F.round("cos", 6).alias("cos"), "rn"
    ).orderBy("query_id", "rn")
