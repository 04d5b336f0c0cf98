"""Similarity search over ``array<float>`` embedding columns.

North-star LLM-pipeline surface (BASELINE.json north_star). Three tiers,
all pure DataFrame ops (cosine is the JVM-side fold from
``functions.vectors`` — no Python in the hot path):

- ``brute_force_topk`` — exact: broadcast the (small) query set, score
  every (query, vector) pair, rank per query. O(N·Q·d) flops,
  embarrassingly parallel, zero shuffle of the corpus side; the baseline
  every approximate method is measured against. Right answer at any corpus
  size *when Q is small*.
- ``ivf_topk`` — approximate: partition the corpus by a coarse quantizer
  (here: the precomputed cluster/label column; at 100 TB a k-means
  assignment), probe the ``nprobe`` nearest centroids per query, exact
  cosine within probed partitions only. Turns the scan into an equi-join
  on partition id — the classic IVF trade (recall vs fraction scanned).
- ``lsh_bucket_topk`` — approximate: random-hyperplane (SimHash-for-
  vectors) bucketing; candidates = same-bucket equi-join. Deterministic
  planes derived from a fixed seed.

The probe / signature stages are factored out (``ivf_probes``,
``lsh_signatures``) so callers can materialize them — the registered
queries export these small tables to parquet, where a DuckDB oracle
re-derives the full top-k from the same candidates (the driver-checkable
form of an otherwise "approximate → unverifiable" operator).
"""

from __future__ import annotations

from functools import partial

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from mapreduce_system_spark.functions.vectors import cosine, dot_double, with_unit_vector

# Rank keys and threshold membership compare the cosine ROUNDED to this many
# decimals (the same 6-decimal convention every registered query displays).
# The raw score's last ulps depend on summation order — Spark's sequential
# fold, numpy's pairwise BLAS sum, and DuckDB's list_cosine_similarity all
# disagree there — so an unrounded comparison lets the engine decide boundary
# membership and adjacent-rank order. Rounding collapses that drift into
# exact ties, which the id tie-break then orders identically everywhere
# (the discipline operators/pq.py's ADC shortlist established).
# Residual, accepted: a score landing EXACTLY on a grid half-point (e.g.
# 0.5000005) still rounds differently in Spark (shortest-repr HALF_UP →
# 0.500001) vs DuckDB's double round (scaled-binary → 0.5) — measure-zero
# for continuous cosines, absent from every fixture/adversarial corpus,
# and unfixable from this side; round_half_up keeps the ARROW paths in
# lockstep with Spark's F.round, the authority all final ranks use.
SCORE_DIGITS = 6


def _rank_key(col: str = "cos"):
    return F.round(F.col(col), SCORE_DIGITS)


def round_half_up(a, digits: int = SCORE_DIGITS):
    """numpy twin of what Spark's ``F.round`` actually computes: HALF-UP
    on the double's SHORTEST DECIMAL REPRESENTATION (``BigDecimal.valueOf``
    = ``Double.toString``) — np.round's half-to-even is the wrong MODE,
    and a plain scaled-binary ``floor(x·10^d + 0.5)`` is the wrong
    OPERAND: ``0.5000005 * 1e6`` is ``500000.49999999994`` in binary, so
    it rounds DOWN where Spark, reading the shortest repr "0.5000005",
    rounds UP (r11 review, verified numerically). F.round is the
    authority because every Arrow call site feeds a JVM-side F.round
    rank/threshold downstream. DuckDB's ``round`` on a DOUBLE is
    scaled-binary (it gives 0.5 here), so the two ENGINES themselves
    diverge on this measure-zero knife edge — the residual the
    SCORE_DIGITS comment has always accepted for raw summation drift
    applies to the grid half-points too; no helper can close a
    Spark-vs-DuckDB gap, only the Arrow-vs-JVM one, which this does.

    Hybrid for speed: the vectorized scaled-binary form is exact except
    within ~1e-9 of a grid half-point (cosines are ≤ 1, so the scaled
    value stays far below 2**52 and its error below 1e-9); elements inside
    a generous 1e-6 band around the half are re-rounded through
    ``Decimal(repr(x))`` — the engines' own algorithm — at Python speed,
    which a measure-zero sliver of real data ever pays."""
    a = np.asarray(a, dtype=np.float64)
    scale = 10.0 ** digits
    av = np.abs(a)
    scaled = av * scale
    out = np.floor(scaled + 0.5) / scale
    near = np.abs(scaled - np.floor(scaled) - 0.5) < 1e-6
    if near.any():
        from decimal import ROUND_HALF_UP, Decimal

        q = Decimal(1).scaleb(-digits)
        out[near] = [
            # float(x): numpy-2 repr of a float64 is "np.float64(...)"
            float(Decimal(repr(float(x))).quantize(q, rounding=ROUND_HALF_UP))
            for x in av[near]
        ]
    return np.copysign(out, a)


def centroids_df(spark, centroids: list[list[float]], partition_col: str = "cluster") -> DataFrame:
    """Lift a fit result (list of centroid vectors, index = partition id)
    to a (partition_col int, centroid array<double>) DataFrame — the one
    canonical lift shared by ``ivf_topk`` and the registered queries'
    centroid exports, so coercion/schema tweaks can't diverge between the
    in-plan centroids and the oracle's exported copy."""
    return spark.createDataFrame(
        [(j, [float(x) for x in c]) for j, c in enumerate(centroids)],
        f"{partition_col} int, centroid array<double>",
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Exact top-k cosine neighbors per query via broadcast cross join.

    The query side is broadcast (BroadcastNestedLoopJoin) so the corpus is
    scanned once with no shuffle; the per-query ranked window shuffles only
    the scored rows (N·Q), partitioned by query id.
    """
    c = with_unit_vector(corpus, vec_col, "__cu")
    q = with_unit_vector(queries, query_vec_col, "__qu")
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col(id_col) != F.col(query_id_col))
        .select(
            query_id_col,
            id_col,
            dot_double(F.col("__qu"), F.col("__cu")).alias("cos"),
        )
    )
    w = W.partitionBy(query_id_col).orderBy(_rank_key().desc(), F.col(id_col))
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("long"))
        .where(F.col("rn") <= k)
    )


def label_centroids(
    corpus: DataFrame,
    partition_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-partition mean vectors: (partition_col, centroid array<double>).

    Shaped for any dimensionality: ``posexplode`` → partial-aggregated
    ``avg`` per (partition, position) → re-assembled array. The plan has
    ONE aggregation pair regardless of d (the map-side combine reduces
    what crosses the wire to partitions × d rows), no driver-side action,
    and no d-wide column pivot — the previous formulation derived d from a
    blocking ``first()`` and built d separate avg columns, which at d=768
    was a 768-expression aggregate built per call.
    """
    return (
        corpus.select(partition_col, F.posexplode(vec_col).alias("pos", "v"))
        .groupBy(partition_col, "pos")
        .agg(F.avg(F.col("v").cast("double")).alias("cv"))
        .groupBy(partition_col)
        .agg(F.array_sort(F.collect_list(F.struct("pos", "cv"))).alias("pc"))
        .select(partition_col, F.transform("pc", lambda s: s["cv"]).alias("centroid"))
    )


def ivf_probes(
    queries: DataFrame,
    centroids: DataFrame,
    nprobe: int = 2,
    partition_col: str = "label",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """The nprobe nearest coarse centroids per query:
    (query_id, partition_col).

    ``centroids`` is a (partition_col, centroid array<double>) DataFrame —
    from ``label_centroids`` or a ``kmeans_fit`` result lifted via
    ``createDataFrame``. Deterministic tie-break (similarity desc,
    partition id asc). Small by construction (Q × nprobe rows) — the
    registered queries materialize it to parquet so the SQL oracle scores
    the very same probe set.
    """
    probe_w = W.partitionBy(query_id_col).orderBy(F.col("cdist").desc(), F.col(partition_col))
    return (
        queries.crossJoin(F.broadcast(centroids))
        .select(
            query_id_col,
            partition_col,
            cosine(F.col(query_vec_col), F.col("centroid")).alias("cdist"),
        )
        .withColumn("pr", F.row_number().over(probe_w))
        .where(F.col("pr") <= nprobe)
        .select(query_id_col, partition_col)
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    partition_col: str = "label",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    centroids_list: list[list[float]] | None = None,
    probes: DataFrame | None = None,
) -> DataFrame:
    """IVF-style approximate top-k: probe the nprobe nearest coarse
    centroids per query, exact cosine within probed partitions.

    Centroids: pass ``centroids_list`` when the quantizer was just fit
    (``operators.clustering.kmeans_fit`` — centroid i ↔ partition id i);
    otherwise they are derived with ``label_centroids`` (one aggregation,
    dimension-agnostic, no driver action). Or pass ``probes`` — a
    (query_id, partition_col) DataFrame from ``ivf_probes`` — to skip
    probe derivation entirely (the exported-probe verification path).
    The corpus side is touched via an equi-join on the partition id —
    scanned fraction ≈ nprobe/n_partitions.
    """
    spark = corpus.sparkSession
    if probes is None:
        if centroids_list is not None:
            centroids = centroids_df(spark, centroids_list, partition_col)
        else:
            centroids = label_centroids(corpus, partition_col, vec_col)
        probes = ivf_probes(
            queries, centroids, nprobe, partition_col, query_id_col, query_vec_col
        )
    probes_v = probes.join(
        queries.select(query_id_col, query_vec_col), query_id_col
    )
    scored = (
        with_unit_vector(corpus, vec_col, "__cu")
        .join(F.broadcast(with_unit_vector(probes_v, query_vec_col, "__qu")), partition_col)
        .where(F.col(id_col) != F.col(query_id_col))
        .select(query_id_col, id_col, dot_double(F.col("__qu"), F.col("__cu")).alias("cos"))
    )
    w = W.partitionBy(query_id_col).orderBy(_rank_key().desc(), F.col(id_col))
    return scored.withColumn("rn", F.row_number().over(w).cast("long")).where(F.col("rn") <= k)


def hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic Gaussian hyperplanes for sign-bucket LSH."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def lsh_bucket(vec, planes: list[list[float]]):
    """Bucket id = sign-bit pattern of the vector against each plane.

    Single-fold shape (the recorded HOF lesson, same rework as dedup's
    ``_signature_array``): ONE ``aggregate`` over (value, index) pairs
    carrying an n_planes-wide partial-sum accumulator, instead of
    n_planes separate folds that each re-traverse the vector. The plane
    matrix is a pure literal, so Catalyst constant-folds it once.
    Per-plane projection order is the same sequential left-to-right sum
    as the per-plane fold — bit-identical buckets (pinned in
    tests/test_similarity.py).
    """
    if not planes:
        return F.lit(0).cast("long")
    if len(planes) > 63:  # bucket is one signed 64-bit key
        raise ValueError(f"at most 63 hyperplanes per table, got {len(planes)}")
    n = len(planes)
    dim = len(planes[0])
    mat = F.array(*[F.array(*[F.lit(float(x)) for x in p]) for p in planes])
    idx = F.sequence(F.lit(0), F.lit(n - 1))
    pairs = F.zip_with(
        vec,
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda v, j: F.struct(v.cast("double").alias("v"), j.alias("j")),
    )
    sums = F.aggregate(
        pairs,
        F.array_repeat(F.lit(0.0), n),
        lambda acc, p: F.zip_with(
            acc,
            idx,
            lambda a, i: a + p["v"] * F.element_at(F.element_at(mat, i + 1), p["j"] + 1),
        ),
    )
    # long fold (same as dedup.simhash's): a plain int literal would run
    # the shiftleft in 32-bit arithmetic and wrap at plane 32 — distinct
    # sign patterns silently colliding into one bucket
    return F.aggregate(
        F.zip_with(
            sums,
            idx,
            lambda s, i: F.when(
                s > 0, F.call_function("shiftleft", F.lit(1).cast("long"), i)
            ).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc.bitwiseOR(x),
    )


def lsh_signatures(
    df: DataFrame,
    dim: int,
    n_planes: int = 4,
    seed: int = 42,
    n_tables: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(t, id, bucket) sign-pattern signatures for every hash table.

    Map-only (one projection per table, unioned) — nothing shuffles until
    a caller joins on (t, bucket). Planes for table t are seeded seed+t,
    so signatures are deterministic machine-to-machine. Materialize this
    to parquet to make the LSH pipeline's candidate generation verifiable
    by an external engine.
    """
    per_table = []
    for t in range(n_tables):
        planes = hyperplanes(dim, n_planes, seed + t)
        per_table.append(
            df.select(
                F.lit(t).alias("t"),
                F.col(id_col).alias("id"),
                lsh_bucket(F.col(vec_col), planes).alias("bucket"),
            )
        )
    out = per_table[0]
    for other in per_table[1:]:
        out = out.unionByName(other)
    return out


def lsh_bucket_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 4,
    seed: int = 42,
    n_tables: int = 1,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    corpus_sig: DataFrame | None = None,
    query_sig: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k via random-hyperplane buckets: candidates are the
    query's own bucket (equi-join on (table, bucket)), then exact cosine +
    rank within candidates.

    Recall knobs: fewer planes → bigger buckets; more ``n_tables`` → the
    union of candidates from independent hash tables (planes seeded
    seed+t) — standard OR-amplification. A true neighbor is missed only
    if it bucket-mismatches in EVERY table, so miss probability decays
    geometrically in n_tables while cost grows linearly (one (t, bucket)
    equi-join; duplicate candidates collapse in a distinct before
    scoring). Recall monotonicity vs brute force is asserted in
    tests/test_similarity.py.

    ``dim`` should come from the data contract; when omitted it is probed
    with a one-row action (fine interactively, avoid in lazily-composed
    plans). Pass ``corpus_sig`` / ``query_sig`` (from ``lsh_signatures``,
    e.g. read back from an export) to skip signature computation — the
    verification path where an external oracle must see the same buckets.
    """
    cu = with_unit_vector(corpus, vec_col, "__cu")
    qu = with_unit_vector(queries, query_vec_col, "__qu")
    if corpus_sig is None or query_sig is None:
        if dim is None:
            # plan-time one-row action (docstring warns): fetch only the
            # array SIZE, not a vector, and only when the caller supplied
            # neither dim nor precomputed signatures
            probe = corpus.select(F.size(vec_col)).limit(1).collect()
            if not probe:
                raise ValueError(
                    "corpus is empty and dim was not given — pass dim= (or "
                    "precomputed signatures) to build query-side hyperplanes"
                )
            dim = probe[0][0]
        if corpus_sig is None:
            corpus_sig = lsh_signatures(
                corpus, dim, n_planes, seed, n_tables, id_col, vec_col
            )
        if query_sig is None:
            query_sig = lsh_signatures(
                queries, dim, n_planes, seed, n_tables, query_id_col, query_vec_col
            )
    cand = (
        corpus_sig.select("t", F.col("id").alias(id_col), "bucket")
        .join(
            F.broadcast(
                query_sig.select("t", F.col("id").alias(query_id_col), "bucket")
            ),
            ["t", "bucket"],
        )
        .where(F.col(id_col) != F.col(query_id_col))
        .select(query_id_col, id_col)
    )
    # dedupe candidate PAIRS before scoring — UNCONDITIONALLY: a pair
    # colliding in several tables would otherwise be scored once per
    # collision and row_number would hand the same neighbor several of
    # the k slots (silently crowding out real neighbors). Gating this on
    # the n_tables PARAMETER was wrong exactly when precomputed
    # multi-table signatures were passed in with n_tables left at its
    # default; on the single-table path the pairs are already unique and
    # the distinct is a cheap 2-key dedup.
    cand = cand.distinct()
    scored = (
        cand.join(cu.select(id_col, "__cu"), id_col)
        .join(F.broadcast(qu.select(query_id_col, "__qu")), query_id_col)
        .select(query_id_col, id_col, dot_double(F.col("__qu"), F.col("__cu")).alias("cos"))
    )
    w = W.partitionBy(query_id_col).orderBy(_rank_key().desc(), F.col(id_col))
    return scored.withColumn("rn", F.row_number().over(w).cast("long")).where(F.col("rn") <= k)


def _score_batches(qm, qids, k, id_col, vec_col, query_id_col, batches):
    import pandas as pd

    for pdf in batches:
        if not len(pdf):
            continue
        keep = pdf[vec_col].notna()
        if not keep.all():
            pdf = pdf[keep]  # NULL corpus embeddings rank out
            if not len(pdf):
                continue
        ids = pdf[id_col].to_numpy()
        m = np.asarray([list(v) for v in pdf[vec_col]], dtype=np.float64)
        n = np.linalg.norm(m, axis=1)
        n[n == 0] = 1.0
        s = (m / n[:, None]) @ qm.T  # B×Q cosine matrix
        # frame columns are NAMED from the caller's id columns —
        # mapInPandas assigns by name, so hardcoded labels would
        # break any non-default id_col/query_id_col
        out = {query_id_col: [], id_col: [], "cos": []}
        for j, qid in enumerate(qids):
            col = s[:, j]
            mask = ids != qid
            # per-batch prune orders on (rounded score, id) like the
            # final window — a raw-score prune could drop a candidate
            # that ties on the rounded key but wins the id tie-break
            order = np.lexsort((ids[mask], -round_half_up(col[mask])))[:k]
            sel_ids = ids[mask][order]
            sel_cos = col[mask][order]
            out[query_id_col].extend([qid] * len(sel_ids))
            out[id_col].extend(sel_ids.tolist())
            out["cos"].extend(sel_cos.tolist())
        yield pd.DataFrame(out)


def brute_force_topk_arrow(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Exact top-k via Arrow-batched numpy matmul — the BLAS formulation.

    The (small, by contract) query set is collected once and shipped in
    the task closure as a normalized float64 matrix; each corpus Arrow
    batch scores B×Q with one matmul and emits only its per-batch top-k
    per query (a per-partition heap — candidates ∝ partitions·Q·k, never
    the corpus). A final per-query window picks the global top-k from
    candidates. Same O(N·Q·d) flops as the JVM fold, executed as
    vectorized BLAS — the right shape when d·Q is large.
    """
    import numpy as np

    from mapreduce_system_spark.pyfiles import ensure_package_on_executors

    ensure_package_on_executors(corpus.sparkSession)
    q_rows = queries.select(query_id_col, query_vec_col).collect()
    # NULL vectors rank out, matching cosine()'s NULL convention — an
    # unguarded list(None) would crash the whole stage on one bad row
    # (r10 review)
    q_rows = [r for r in q_rows if r[1] is not None]
    if not q_rows:
        raise ValueError("brute_force_topk_arrow: no non-NULL query vectors")
    qids = [r[0] for r in q_rows]
    qm = np.asarray([list(r[1]) for r in q_rows], dtype=np.float64)
    qn = np.linalg.norm(qm, axis=1)
    qn[qn == 0] = 1.0
    qm = qm / qn[:, None]

    # id types come from the actual input schemas (string ids are as
    # legitimate as longs for this operator)
    qid_t = queries.schema[query_id_col].dataType.simpleString()
    cid_t = corpus.schema[id_col].dataType.simpleString()
    cand = corpus.select(id_col, vec_col).mapInPandas(
        partial(_score_batches, qm, qids, k, id_col, vec_col, query_id_col),
        schema=f"{query_id_col} {qid_t}, {id_col} {cid_t}, cos double",
    )
    w = W.partitionBy(query_id_col).orderBy(_rank_key().desc(), F.col(id_col))
    return cand.withColumn("rn", F.row_number().over(w).cast("long")).where(F.col("rn") <= k)


def cosine_dup_pairs(
    corpus: DataFrame,
    threshold: float = 0.4,
    block_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-dup pairs within blocks: equi-join on the blocking
    column (cluster/label/shard), exact cosine ≥ threshold.

    Blocking is what makes pairwise near-dup feasible at scale — candidates
    are same-block pairs, never the full n² cross product. With no natural
    block, derive one (IVF assignment or LSH bucket)."""
    units = with_unit_vector(corpus, vec_col, "__u")
    a = units.select(
        F.col(block_col).alias("blk"), F.col(id_col).alias("id_a"), F.col("__u").alias("ua")
    )
    b = units.select(
        F.col(block_col).alias("blk"), F.col(id_col).alias("id_b"), F.col("__u").alias("ub")
    )
    return (
        a.join(b, "blk")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", dot_double(F.col("ua"), F.col("ub")).alias("cos"))
        .where(_rank_key() >= threshold)
    )


def _block_pairs(threshold, id_col, vec_col, pdf):
    import pandas as pd

    ids = pdf[id_col].to_numpy()
    m = np.asarray([list(v) for v in pdf[vec_col]], dtype=np.float64)
    n = np.linalg.norm(m, axis=1)
    n[n == 0] = 1.0
    u = m / n[:, None]
    s = u @ u.T
    # membership on the rounded score, in lockstep with the JVM twin's
    # _rank_key threshold (SCORE_DIGITS) — raw BLAS vs fold ulps must
    # not decide boundary pairs, and the rounding MODE is half-up to
    # match F.round/DuckDB (np.round's half-even flips exact halves)
    ia, ib = np.where(np.triu(round_half_up(s) >= threshold, k=1))
    lo = np.minimum(ids[ia], ids[ib])
    hi = np.maximum(ids[ia], ids[ib])
    return pd.DataFrame({"id_a": lo, "id_b": hi, "cos": s[ia, ib]})


def cosine_dup_pairs_arrow(
    corpus: DataFrame,
    threshold: float = 0.4,
    block_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Arrow/BLAS twin of ``cosine_dup_pairs``: one numpy matmul per block
    via ``applyInPandas`` (4× faster than the per-pair JVM fold at sf0.1;
    bitwise-identical pairs — asserted in tests/test_similarity.py).

    Memory trade vs the JVM join: each task materializes its whole block
    plus the B×B score matrix (O(B·d + B²) doubles), where the equi-join
    streams candidate pairs with spill. Use this form when the blocker
    bounds B (e.g. IVF cells sized to memory); use the join form when
    block sizes are unbounded or skewed."""
    import numpy as np

    from mapreduce_system_spark.pyfiles import ensure_package_on_executors

    ensure_package_on_executors(corpus.sparkSession)

    # NULL vectors drop JVM-side before the Arrow stage: the JVM twin
    # excludes them via a NULL cosine failing the threshold, and one
    # list(None) here would crash the whole block task (r11 review —
    # the same class as the pq_fit/brute-force guards)
    return (
        corpus.where(F.col(vec_col).isNotNull())
        .groupBy(block_col)
        .applyInPandas(
            partial(_block_pairs, threshold, id_col, vec_col),
            schema="id_a long, id_b long, cos double",
        )
    )


def projection_matrix(in_dim: int, out_dim: int, seed: int = 42) -> "np.ndarray":
    """The fixed seeded JL projection matrix (out_dim × in_dim, scaled
    1/sqrt(out_dim)) — factored out so verification harnesses can export
    the very same matrix an executor regenerates from the seed."""
    rng = np.random.default_rng(seed)
    return (rng.standard_normal((out_dim, in_dim)) / np.sqrt(out_dim)).astype(np.float64)


def _project_batches(R, out_cols, vec_col, out_col, batches):
    import pandas as pd

    for pdf in batches:
        if not len(pdf):
            continue
        m = np.asarray([list(v) for v in pdf[vec_col]], dtype=np.float64)
        proj = m @ R.T
        out = pdf[out_cols].copy()
        out[out_col] = [row.tolist() for row in proj]
        yield out


def random_projection(
    df: DataFrame,
    in_dim: int,
    out_dim: int = 16,
    vec_col: str = "embedding",
    out_col: str = "projected",
    seed: int = 42,
    keep_input: bool = False,
) -> DataFrame:
    """Johnson-Lindenstrauss random projection: embed ``in_dim`` vectors
    into ``out_dim`` dims preserving pairwise distances within
    O(sqrt(ln n / out_dim)) relative error.

    The projection matrix is a fixed seeded Gaussian (scaled 1/sqrt(k)),
    generated identically on every executor from the seed — nothing is
    shuffled or broadcast; the map is embarrassingly parallel Arrow-batched
    numpy matmul. The standard pre-step before expensive ANN indexing when
    d is large.

    ``keep_input=True`` carries ``vec_col`` through to the output (needed
    when downstream expressions reference both the original and projected
    vectors, e.g. norm-preservation profiling); default drops it, since at
    scale the whole point is to shed the wide column before the shuffle.

    Output cardinality contract: rows whose ``vec_col`` is NULL are
    DROPPED, not errored — one output row per non-NULL input vector, so
    callers that rejoin by id and expect every input id must outer-join
    or mirror the filter. NULL-free corpora are unaffected."""
    import numpy as np

    from mapreduce_system_spark.pyfiles import ensure_package_on_executors

    ensure_package_on_executors(df.sparkSession)
    R = projection_matrix(in_dim, out_dim, seed)
    out_cols = [c for c in df.columns if keep_input or c != vec_col]

    schema = ", ".join(
        [f"{f.name} {f.dataType.simpleString()}" for f in df.schema if f.name in out_cols]
        + [f"{out_col} array<double>"]
    )
    # NULL vectors are unprojectable — drop JVM-side (cosine()'s NULL
    # convention; one list(None) would crash the Arrow stage, r11 review)
    return df.where(F.col(vec_col).isNotNull()).mapInPandas(
        partial(_project_batches, R, out_cols, vec_col, out_col), schema=schema
    )


def matryoshka_norm_profile(
    df: DataFrame,
    prefixes: list[int],
    vec_col: str = "embedding",
    label_col: str = "label",
    round_to: int = 6,
) -> DataFrame:
    """Per-label mean norm fraction captured by each dimension PREFIX —
    the Matryoshka (MRL) truncation diagnostic: embeddings trained with
    nested objectives concentrate energy in the leading dims, so
    ``frac_k = Σ_{i<=k} x_i² / Σ x_i²`` near 1 at small k means the
    index can truncate (and re-normalize) to k dims cheaply; a flat
    profile means truncation loses signal. Staged r13 for an r15 debut
    (``emb_matryoshka_profile``). Returns one row per
    (label, prefix_dim): (label, prefix_dim, mean_frac, n_vecs).

    Algebra, spelled for the SQL oracle: per-vector exact fold
    Σ x_i² over the slice (both engines sum the same ≤d doubles; the
    quotient is one division; the per-label mean divides once more —
    the emb_hof_vector_stats discipline, rounded to ``round_to``).
    Zero-norm vectors are EXCLUDED (0/0 has no fraction — the
    ``cosine`` zero-norm domain guard's convention); NULL vectors are
    dropped like everywhere in this module.

    100 TB posture: one map-side pass computes every prefix's fold per
    vector (the slice sums are cumulative — the full-norm fold is the
    last prefix's plus the tail), then ONE (label, prefix) partial+final
    aggregate over |prefixes| rows per vector. No shuffle carries a
    vector; the output is (labels × prefixes)-sized.
    """
    if not prefixes or any(p < 1 for p in prefixes):
        raise ValueError(f"prefixes must be positive dims, got {prefixes}")
    # domain guard (ADVICE r13): F.slice silently CLAMPS a prefix larger
    # than the vector, so an oversized prefix would report mean_frac=1.0
    # indistinguishable from a genuinely energy-complete prefix — raise
    # at execution instead (the module's zero-norm/sentinel guard style)
    max_p = max(prefixes)
    sq_raw = F.transform(F.col(vec_col), lambda x: x.cast("double") * x.cast("double"))
    sq = F.when(F.size(vec_col) >= max_p, sq_raw).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    f"matryoshka_norm_profile: prefix {max_p} exceeds a "
                    f"vector's dimension ("
                ),
                F.size(vec_col).cast("string"),
                F.lit(") — F.slice would clamp and report frac=1.0"),
            )
        )
    )
    total = F.aggregate(sq, F.lit(0.0), lambda a, x: a + x)
    base = (
        df.where(F.col(vec_col).isNotNull())
        .select(F.col(label_col).alias("label"), sq.alias("sq"), total.alias("tot"))
        .where(F.col("tot") > 0)
    )
    rows = base.select(
        "label",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(p).alias("prefix_dim"),
                        (
                            F.aggregate(
                                F.slice("sq", 1, p), F.lit(0.0), lambda a, x: a + x
                            )
                            / F.col("tot")
                        ).alias("frac"),
                    )
                    for p in sorted(set(prefixes))
                ]
            )
        ).alias("pf"),
    )
    return (
        rows.groupBy("label", F.col("pf.prefix_dim").alias("prefix_dim"))
        .agg(
            F.round(F.avg("pf.frac"), round_to).alias("mean_frac"),
            F.count("*").alias("n_vecs"),
        )
    )
