"""Product quantization (PQ) for the embedding store — fit, encode, ADC.

The on-disk-index half of similarity search that IVF/LSH don't cover
(Jégou/Douze/Schmid, "Product Quantization for Nearest Neighbor
Search", TPAMI 2011): split the d-dim vector into ``m`` subspaces,
vector-quantize each subspace against its own ``ks``-entry codebook,
and store each vector as m small codes. At 100 TB this is the standard
embedding-store design: the corpus compresses from d·4 bytes to m bytes
per vector (64-dim float32 → 8 bytes at m=8), scans read codes instead
of vectors, and queries score candidates with per-subspace lookup
tables (ADC — asymmetric distance computation) without ever touching
the original vectors.

Spark-first shapes:

- ``pq_fit`` — JOINT Lloyd iterations: ONE ``mapInPandas`` pass per
  iteration trains ALL m sub-quantizers simultaneously (numpy argmin
  per subspace inside the Arrow batch, per-(subspace, cluster)
  (count, sum) partials out — an explicit map-side combine). What
  crosses the wire per iteration is partitions × m × ks rows of
  (d/m)-dim partial sums, independent of corpus size; driver state is
  the m × ks × (d/m) codebook (= d·ks floats — k-means-sized, tiny).
  A per-subspace loop over ``kmeans_fit`` would cost m corpus passes
  per iteration for identical math.
- ``pq_encode`` — one Arrow pass, argmin per subspace (ties → lowest
  code, numpy argmin semantics), emitting ``codes array<int>``. Map-
  only: at scale this is the index-build write, embarrassingly
  parallel.
- ``pq_topk_adc`` — scoring is a BROADCAST equi-join, not Python: the
  (query × subspace × code) lookup table (Q·m·ks rows — e.g. 10·8·16 =
  1280) is built as a DataFrame join between the codebook relation and
  the broadcast query set, with the per-cell dot product and
  reconstruction energy computed by JVM ``zip_with``/``aggregate``
  folds. Exploded codes join the broadcast LUT and one partial-agg
  ``groupBy(query_id, vec_id)`` sums the m cells into the ADC score:

      approx_cos(q, x) = (Σ_j q_j · c_{j, code_j(x)})
                         / (|q| · sqrt(Σ_j |c_{j, code_j(x)}|²))

  i.e. exact cosine against the PQ reconstruction x̂. Everything after
  the (driver-side, k-means-sized) fit is whole-stage-codegen JVM.

Scale notes: the LUT is Q·m·ks rows — for large query batches, chunk Q
(the scan is one corpus pass per chunk, the brute-force-over-codes
contract). ks=256 (8-bit codes, the production default) needs ≥256
training rows per subspace; the fixture-scale queries use ks=16 so the
smallest sf still trains honestly — the knob, not the shape, changes
at scale. Fit determinism matches ``kmeans_fit``: no RNG anywhere, but
float-sum order across partitions can drift centroids in the last few
ulps — downstream gates therefore verify against the EXPORTED
codebooks/codes (queries/similarity.py export pattern), and recall is
pinned separately in tests/test_similarity.py.

The reference has no similarity surface (its only workload is word
count, README.MD:25-53); this is part of the mandated LLM-pipeline
extension.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _pq_partial_stats(m, ks, sub, books, batches):
    import numpy as np
    import pandas as pd

    # accumulate across the WHOLE partition's Arrow batches and
    # emit once, like clustering.kmeans_fit: per-batch emission
    # would scale collected rows with corpus size instead of
    # partitions × m × ks
    sums = np.zeros((m, ks, sub))
    counts = np.zeros((m, ks), dtype=np.int64)
    seen = False
    for pdf in batches:
        if not len(pdf):
            continue
        seen = True
        x = np.asarray(
            [list(v) for v in pdf["__v"]], dtype=np.float64
        )
        for j in range(m):
            xs = x[:, j * sub : (j + 1) * sub]
            cj = books[j]
            # argmin_c |x-c|² == argmin_c (|c|² - 2 x·c)
            assign = (
                (cj * cj).sum(axis=1) - 2.0 * (xs @ cj.T)
            ).argmin(axis=1)
            for c in np.unique(assign):
                sel = xs[assign == c]
                counts[j, c] += len(sel)
                sums[j, c] += sel.sum(axis=0)
    if seen:
        out = {"subspace": [], "cluster": [], "cnt": [], "vsum": []}
        for j, c in zip(*np.nonzero(counts)):
            out["subspace"].append(int(j))
            out["cluster"].append(int(c))
            out["cnt"].append(int(counts[j, c]))
            out["vsum"].append(sums[j, c].tolist())
        yield pd.DataFrame(out)


def pq_fit(
    df: DataFrame,
    m: int = 8,
    ks: int = 16,
    max_iter: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    tol: float = 1e-6,
) -> list[list[list[float]]]:
    """Train the m sub-quantizers; returns ``codebooks[j][c]`` = the
    (d/m)-dim centroid ``c`` of subspace ``j``.

    Joint Lloyd: every iteration is one distributed Arrow pass that
    assigns/accumulates ALL subspaces (see module docstring). Init is
    the k-smallest-id rows' slices per subspace (the measured-best
    RNG-free init of ``kmeans_fit``, same id-exchangeability caveat).
    Fewer than ks rows clamps ks; d must divide by m.
    """
    import numpy as np

    from mapreduce_system_spark.pyfiles import ensure_package_on_executors

    ensure_package_on_executors(df.sparkSession)
    # NULL vectors drop at the scan (cosine()'s NULL convention and the
    # brute_force_topk_arrow guard, ADVICE r10): one NULL row would
    # otherwise raise TypeError inside the Arrow stage and fail the fit
    base = (
        df.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__v"))
        .where(F.col("__v").isNotNull())
        .cache()
    )
    try:
        seed_rows = base.orderBy("__id").limit(ks).collect()
        if not seed_rows:
            raise ValueError("pq_fit: input DataFrame has no rows")
        seeds = np.asarray(
            [list(map(float, r["__v"])) for r in seed_rows], dtype=np.float64
        )
        d = seeds.shape[1]
        if d % m:
            raise ValueError(f"pq_fit: dim {d} not divisible by m={m}")
        sub = d // m
        ks = len(seeds)  # clamped when the corpus is smaller than ks
        # books[j] : (ks, sub) — subspace j's codebook
        books = np.stack([seeds[:, j * sub : (j + 1) * sub] for j in range(m)])
        stats_schema = "subspace int, cluster int, cnt long, vsum array<double>"
        for _ in range(max_iter):
            parts = (
                base.select("__v")
                .mapInPandas(partial(_pq_partial_stats, m, ks, sub, books), schema=stats_schema)
                .collect()
            )
            sums = np.zeros((m, ks, sub))
            counts = np.zeros((m, ks))
            for r in parts:
                sums[r.subspace, r.cluster] += np.asarray(r.vsum)
                counts[r.subspace, r.cluster] += r.cnt
            new_books = books.copy()
            nonempty = counts > 0
            new_books[nonempty] = sums[nonempty] / counts[nonempty][:, None]
            shift = float(((new_books - books) ** 2).sum(axis=2).max())
            books = new_books
            if shift <= tol:
                break
    finally:
        base.unpersist()
    return [[c.tolist() for c in books[j]] for j in range(m)]


def _pq_encode_batches(books, c_sqn, m, sub, out_col, batches):
    import numpy as np
    import pandas as pd

    for pdf in batches:
        if not len(pdf):
            continue
        x = np.asarray([list(v) for v in pdf["__v"]], dtype=np.float64)
        codes = np.empty((len(x), m), dtype=np.int64)
        for j in range(m):
            xs = x[:, j * sub : (j + 1) * sub]
            codes[:, j] = (c_sqn[j] - 2.0 * (xs @ books[j].T)).argmin(axis=1)
        yield pd.DataFrame({"__id": pdf["__id"], out_col: list(codes)})


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    out_col: str = "codes",
) -> DataFrame:
    """Encode each vector to its m nearest-sub-centroid codes — one
    map-only Arrow pass (the index-build write). Ties → lowest code.

    Output cardinality contract: rows whose ``vec_col`` is NULL are
    DROPPED, not errored — the result has one row per non-NULL input
    vector, so a caller joining codes back by ``id_col`` and expecting
    every input id must outer-join (or pre-filter its own side the same
    way). NULL-free corpora are unaffected."""
    import numpy as np

    from mapreduce_system_spark.pyfiles import ensure_package_on_executors

    ensure_package_on_executors(df.sparkSession)
    books = np.asarray(codebooks, dtype=np.float64)  # (m, ks, sub)
    m, _, sub = books.shape
    c_sqn = (books * books).sum(axis=2)  # (m, ks)

    out_schema = f"__id long, {out_col} array<int>"
    return (
        df.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__v"))
        # NULL vectors are unencodable — drop them JVM-side before the
        # Arrow stage (cosine()'s NULL convention; ADVICE r10)
        .where(F.col("__v").isNotNull())
        .mapInPandas(partial(_pq_encode_batches, books, c_sqn, m, sub, out_col), schema=out_schema)
        .withColumnRenamed("__id", id_col)
    )


def pq_lut(queries: DataFrame, codebooks: DataFrame) -> DataFrame:
    """The ADC lookup table: one row per (query_id, subspace, code) with
    the sub-dot-product and the centroid's squared norm — Q·m·ks rows,
    built as a join so both inputs stay relations (the codebook side is
    exactly what the query exports for its oracle).

    ``queries``: (query_id, query_vec); ``codebooks``: (subspace 0-based,
    code, centroid array<double>). JVM folds only.
    """
    sub = F.size("centroid")
    qslice = F.slice("query_vec", F.col("subspace") * sub + 1, sub)
    dot = F.aggregate(
        F.zip_with(qslice, F.col("centroid"), lambda a, b: a.cast("double") * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    sqn = F.aggregate(
        F.col("centroid"), F.lit(0.0), lambda acc, x: acc + x * x
    )
    return codebooks.join(F.broadcast(queries)).select(
        "query_id",
        "subspace",
        "code",
        dot.alias("dot"),
        sqn.alias("sqn"),
    )


def pq_topk_adc(
    codes: DataFrame,
    queries: DataFrame,
    codebooks: DataFrame,
    k: int = 5,
    score_round: int | None = None,
) -> DataFrame:
    """Top-k per query by ADC approximate cosine over the code table.

    ``codes``: (vec_id, codes array<int>); ``queries``: (query_id,
    query_vec); ``codebooks``: (subspace, code, centroid). The corpus
    side never materializes vectors: explode the m codes, equi-join the
    broadcast LUT on (subspace, code, ≠query), and ONE partial-agg
    groupBy sums the m cells into (approx dot, reconstruction energy).
    Output: (query_id, vec_id, cos, rn) — cosine against the PQ
    reconstruction, ranked with the vec_id tie-break.

    ``score_round``: rank on ``round(cos, n)`` instead of the raw score.
    The m-cell sum's addition order varies with partitioning (and with
    the engine, for an oracle re-derivation), so a SHORTLIST whose
    boundary membership must be reproducible ranks on the rounded score
    — rounding collapses last-ulp drift into exact ties, which the
    vec_id tie-break then orders identically everywhere.
    """
    from pyspark.sql import Window as W

    from mapreduce_system_spark.functions.vectors import norm

    lut = pq_lut(queries, codebooks)
    qnorm = queries.select("query_id", norm(F.col("query_vec")).alias("qnorm"))
    exploded = codes.select(
        "vec_id", F.posexplode("codes").alias("subspace", "code")
    )
    scored = (
        exploded.join(F.broadcast(lut), ["subspace", "code"])
        .where(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.sum("dot").alias("adot"), F.sum("sqn").alias("rsqn"))
        .join(F.broadcast(qnorm), "query_id")
        # a zero-energy reconstruction (all-zero centroids) can't be
        # ranked by cosine — null it out like SQL division by zero
        .withColumn(
            "cos",
            F.col("adot")
            / F.nullif(F.col("qnorm") * F.sqrt("rsqn"), F.lit(0.0)),
        )
    )
    rank_col = (
        F.round("cos", score_round) if score_round is not None else F.col("cos")
    )
    w = W.partitionBy("query_id").orderBy(rank_col.desc(), "vec_id")
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("long"))
        .where(F.col("rn") <= k)
        .select("query_id", "vec_id", "cos", "rn")
    )


def pq_topk_rerank(
    corpus: DataFrame,
    codes: DataFrame,
    queries: DataFrame,
    codebooks: DataFrame,
    k: int = 5,
    shortlist: int = 50,
) -> DataFrame:
    """The registered two-stage PQ serving shape, in one place so the
    query (queries/similarity.py) and the scale probe measure the SAME
    algorithm: ADC shortlist ranked on the rounded score, then exact
    cosine re-rank of the fetched candidates (Q·shortlist ids broadcast
    against the corpus — only shortlisted vectors are ever scored
    exactly). ``corpus``: (vec_id, embedding); output (query_id, vec_id,
    cos, rn)."""
    from pyspark.sql import Window as W

    from mapreduce_system_spark.functions.vectors import cosine

    from mapreduce_system_spark.operators.similarity import SCORE_DIGITS

    sl = pq_topk_adc(
        codes, queries, codebooks, k=shortlist, score_round=SCORE_DIGITS
    ).select("query_id", "vec_id")
    rescored = (
        corpus.join(F.broadcast(sl), "vec_id")
        .join(F.broadcast(queries), "query_id")
        .select(
            "query_id",
            "vec_id",
            cosine(F.col("query_vec"), F.col("embedding")).alias("cos"),
        )
    )
    # exact re-rank also orders on the rounded score (SCORE_DIGITS): the
    # oracle recomputes these cosines with a different summation order
    w = W.partitionBy("query_id").orderBy(
        F.round("cos", SCORE_DIGITS).desc(), "vec_id"
    )
    return (
        rescored.withColumn("rn", F.row_number().over(w).cast("long"))
        .where(F.col("rn") <= k)
        .select("query_id", "vec_id", "cos", "rn")
    )
