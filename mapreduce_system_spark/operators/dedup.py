"""Deduplication operators: exact, n-gram Jaccard, MinHash-LSH, SimHash.

North-star LLM-pipeline surface (BASELINE.json north_star; absent in the
reference, whose only text workload is word count README.MD:25-53). Every
operator is expressed as DataFrame transformations — hash aggregations and
equi-joins — so Catalyst plans them as shuffles on bounded keys. There is
**no all-pairs comparison anywhere**: candidate generation is always an
equi-join (shared shingle, shared LSH band, shared SimHash band), which is
the only shape that survives 100 TB.

Scale notes:
- ``exact_dedup``: one hash aggregation on a 128-bit fingerprint. Skew-free
  (fingerprints are uniform); shuffle volume = distinct docs.
- ``jaccard_pairs``: the shingle-share join explodes ~L shingles/doc; a
  stop-shingle appearing in D docs contributes D² candidate pairs — cap it
  with ``max_shingle_df`` (drops shingles shared by more than that many
  docs; standard stop-gram trick) at corpus scale.
- ``minhash_lsh_pairs``: fixed 128-hash signature per doc regardless of doc
  length, computed **per-row with higher-order array functions** (one string
  hash per shingle, then 128 cheap 8-byte re-hashes) — signature generation
  is embarrassingly parallel with **zero shuffle**; the only exchanges are
  the b band equi-joins on 64-bit keys. Candidates are verified with the
  exact Jaccard before emission, so precision is exact and only recall is
  probabilistic (1-(1-s^r)^b).
- ``simhash_pairs``: one 64-bit signature per doc; the banded join bounds
  candidate generation the same way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mapreduce_system_spark.caches import checkpoint_with, free, tracked_cache
from mapreduce_system_spark.functions.text import (
    fingerprint,
    normalized_text,
    shingles,
    tokens,
)
from mapreduce_system_spark.sources.tables import ensure_parallelism


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: group by normalized-content fingerprint, keep min-id.

    Returns one row per distinct content: (fp, survivor_id, n_copies).
    NULL-text documents are excluded — groupBy collapses SQL NULLs into
    one group, which would declare documents with *unknown* content
    duplicates of each other (the same rule simhash applies to token-less
    docs). The per-row md5/regexp normalization is the CPU hot spot —
    ``ensure_parallelism`` spreads a single-split input across cores.
    """
    return (
        ensure_parallelism(df)
        .select(F.col(id_col), fingerprint(text_col).alias("fp"))
        .where(F.col("fp").isNotNull())
        .groupBy("fp")
        .agg(F.min(id_col).alias("survivor_id"), F.count("*").alias("n_copies"))
    )


def shingle_sets(df: DataFrame, n: int = 3, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, shingle_set) — the unit both Jaccard variants share.

    The shingle expression is the CPU hot spot — spread it across all
    cores even when the input is one parquet split."""
    return (
        ensure_parallelism(df)
        .select(F.col(id_col).alias("id"), shingles(text_col, n).alias("sg"))
        .where(F.size("sg") > 0)
    )


def _capped_postings(sets: DataFrame, max_shingle_df: int | None) -> DataFrame:
    """(id, sz, shingle) postings with the stop-shingle DF cap applied —
    the candidate-generation step shared by ``jaccard_pairs`` and
    ``containment_pairs`` (one definition so a cap change can never
    silently apply to only one operator). ``sz`` carries the TRUE
    pre-cap set size through the explode (the pair group then has both
    sizes in-row — no post-join size lookups); the lower-bound semantics
    this gives the capped scores are documented on ``jaccard_pairs``."""
    exploded = sets.select(
        "id", F.size("sg").alias("sz"), F.explode("sg").alias("shingle")
    )
    if max_shingle_df is not None:
        hot = (
            exploded.groupBy("shingle")
            .agg(F.count("*").alias("df_"))
            .where(F.col("df_") > max_shingle_df)
            .select("shingle")
        )
        exploded = exploded.join(F.broadcast(hot), "shingle", "left_anti")
    return exploded


def jaccard_pairs(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via the shingle-share equi-join.

    Candidates = pairs sharing ≥1 shingle (inverted-index join — never
    all-pairs); |A∩B| falls out of the join group count; |A|/|B| join back
    from per-doc sizes. ``max_shingle_df`` drops stop-shingles to bound the
    join's skew at corpus scale. Cap semantics (mirrored exactly by the
    DuckDB oracle): set sizes are the TRUE |A|/|B| while the intersection
    counts only non-stop shingles, so the reported score is a LOWER BOUND
    of true Jaccard — a pair whose shared shingles are partly stop-
    shingles scores lower and can fall below the threshold (it vanishes
    entirely only when every shared shingle is a stop-shingle). That is
    the conservative direction for dedup: template boilerplate can only
    SUBTRACT evidence of similarity, never add false merges.
    """
    # cache the shingle sets: the expensive shingle expression would
    # otherwise be evaluated twice below (size + explode reference the
    # same array), and Spark's cache manager also substitutes this
    # relation into any concurrent plan with the same subtree (minhash).
    # Tracked so multi-query harnesses can caches.release() between runs.
    sets = tracked_cache(shingle_sets(df, n, text_col, id_col))
    exploded = _capped_postings(sets, max_shingle_df)
    a = exploded.alias("a")
    b = exploded.alias("b")
    # Length filter (similarity-join standard): jaccard(A,B) ≤ min/max of
    # the set sizes, so pairs with min(sz)/max(sz) < threshold can never
    # pass — pruning them inside the join predicate keeps them out of the
    # pair-aggregation shuffle entirely. Result-preserving by construction.
    length_ok = F.least(F.col("a.sz"), F.col("b.sz")) >= (
        F.lit(threshold) * F.greatest(F.col("a.sz"), F.col("b.sz"))
    )
    return (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.id") < F.col("b.id"))
            & length_ok,
        )
        .groupBy(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sz").alias("sz_a"),
            F.col("b.sz").alias("sz_b"),
        )
        .agg(F.count("*").alias("inter"))
        .withColumn(
            "jaccard",
            F.col("inter").cast("double") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def containment_pairs(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.6,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Shingle-containment near-dup pairs: C = |A∩B| / min(|A|, |B|).

    The asymmetric cousin of ``jaccard_pairs`` that catches SUBSET
    duplicates — a short document embedded verbatim inside a long one
    scores C ≈ 1 while its Jaccard collapses toward |A|/|B|. Because
    unequal sizes are exactly the target, there is deliberately NO
    length-ratio prune (contrast jaccard_pairs); candidate generation
    is the same inverted-index equi-join with the same stop-shingle DF
    cap bounding skew (same lower-bound cap semantics — see
    ``jaccard_pairs``), so the plan stays linear in postings, never
    doc×doc.
    """
    sets = tracked_cache(shingle_sets(df, n, text_col, id_col))
    exploded = _capped_postings(sets, max_shingle_df)
    a = exploded.alias("a")
    b = exploded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sz").alias("sz_a"),
            F.col("b.sz").alias("sz_b"),
        )
        .agg(F.count("*").alias("inter"))
        .withColumn(
            "containment",
            F.col("inter").cast("double") / F.least(F.col("sz_a"), F.col("sz_b")),
        )
        .where(F.col("containment") >= threshold)
        .select("id_a", "id_b", "containment")
    )


_MAX_LONG = (1 << 63) - 1


def _signature_array(num_hashes: int):
    """All MinHash values as ONE array column from the per-row ``hs``
    element-hash array, via a single fold.

    hᵢ(doc) = min over shingles of xxhash64(xxhash64(shingle), i) —
    deterministic (no random coefficients; the seed is the hash-function
    index), reproducible run-to-run and machine-to-machine. The string is
    hashed once per element; the per-i family re-hashes the resulting
    8-byte long, which is far cheaper than re-hashing the string num_hashes
    times. Computed entirely per-row (no explode, no aggregation): at
    corpus scale this removes a shuffle of every (doc, shingle) pair —
    the signature stage is map-only.

    Single-fold shape: one ``aggregate`` over the shingle hashes carrying a
    num_hashes-wide min accumulator (``zip_with``/``least``), instead of
    num_hashes separate ``transform``+``array_min`` passes — same hash
    count, one array traversal; measured 5× faster at sf0.1 (1.9 s → 0.4 s
    for the signature stage).
    """
    idx = F.sequence(F.lit(0), F.lit(num_hashes - 1))
    return F.aggregate(
        "hs",
        F.array_repeat(F.lit(_MAX_LONG).cast("long"), num_hashes),
        lambda acc, h: F.zip_with(acc, idx, lambda a, i: F.least(a, F.xxhash64(h, i))),
    )


def _minhash_sig(sets: DataFrame, num_hashes: int) -> DataFrame:
    """(id, sig) from a shingle-set relation — the ONE definition of the
    element-hash + fold step, shared by ``minhash_signatures`` (the
    materialized/exported form an external oracle verifies) and
    ``minhash_lsh_pairs`` (the banding pipeline): a seed or cast tweak
    applied to only one of them would silently desynchronize the LSH
    candidates from the signatures the verification story reads."""
    hsets = sets.select("id", F.transform("sg", lambda s: F.xxhash64(s)).alias("hs"))
    return hsets.select("id", _signature_array(num_hashes).alias("sig"))


def minhash_signatures(
    df: DataFrame,
    n: int = 3,
    num_hashes: int = 128,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, h0..h{k-1}) MinHash signature columns — map-only, zero shuffle."""
    sig = _minhash_sig(shingle_sets(df, n, text_col, id_col), num_hashes)
    return sig.select("id", *[F.col("sig")[i].alias(f"h{i}") for i in range(num_hashes)])


def _band_keys(sig: DataFrame, num_hashes: int, rows_per_band: int) -> DataFrame:
    """(id, band_idx, band_key) exploded banding of an (id, sig) relation
    — THE definition of the LSH band-key composition (xxhash64 over the
    band's signature slots plus the band index), shared by
    ``minhash_lsh_pairs`` and the scale probe's candidate census
    (``tools/scale_probe.py``): a banding tweak applied to only one of
    them would make the committed scale records count candidates under a
    different banding than the shipped operator generates."""
    if num_hashes % rows_per_band != 0:
        # floor-dividing would silently discard the trailing hashes: the
        # caller pays for num_hashes computations but gets fewer bands
        # than the recall formula they sized for
        raise ValueError(
            f"num_hashes ({num_hashes}) must be divisible by rows_per_band "
            f"({rows_per_band}); trailing hashes would be silently unused"
        )
    n_bands = num_hashes // rows_per_band
    band_cols = [
        F.xxhash64(
            *[F.col("sig")[b * rows_per_band + r] for r in range(rows_per_band)], F.lit(b)
        ).alias(f"b{b}")
        for b in range(n_bands)
    ]
    return sig.select("id", F.posexplode(F.array(*band_cols)).alias("band_idx", "band_key"))


def minhash_band_keys(
    df: DataFrame,
    n: int = 3,
    num_hashes: int = 128,
    rows_per_band: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Text → exploded (id, band_idx, band_key) under exactly the banding
    ``minhash_lsh_pairs`` joins on, for callers that need the band
    relation itself (candidate-volume censuses, bucket diagnostics)
    without the pair join + verification."""
    sig = _minhash_sig(shingle_sets(df, n, text_col, id_col), num_hashes)
    return _band_keys(sig, num_hashes, rows_per_band)


def minhash_lsh_pairs(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    num_hashes: int = 128,
    rows_per_band: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """MinHash-LSH near-dup pairs, exact-verified.

    Pipeline: signature → band keys (b = num_hashes/r equi-join keys) →
    same-band candidate pairs → exact Jaccard verification ≥ threshold.
    Precision is exact; recall = 1-(1-s^r)^b (r=2, b=64 ⇒ >99.99% at
    s=0.5). Candidate volume scales with docs-per-band-bucket, never n².
    """
    sets_cached = tracked_cache(shingle_sets(df, n, text_col, id_col))
    sig = _minhash_sig(sets_cached, num_hashes)
    bands = _band_keys(sig, num_hashes, rows_per_band)
    x = bands.alias("x")
    y = bands.alias("y")
    candidates = (
        x.join(
            y,
            (F.col("x.band_idx") == F.col("y.band_idx"))
            & (F.col("x.band_key") == F.col("y.band_key"))
            & (F.col("x.id") < F.col("y.id")),
        )
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .distinct()
    )
    # Exact verification on candidates only: join back the (cached)
    # shingle sets.
    sets = sets_cached
    out = (
        candidates.join(sets.select(F.col("id").alias("id_a"), F.col("sg").alias("sg_a")), "id_a")
        .join(sets.select(F.col("id").alias("id_b"), F.col("sg").alias("sg_b")), "id_b")
        .withColumn("inter", F.size(F.array_intersect("sg_a", "sg_b")))
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.size("sg_a") + F.size("sg_b") - F.col("inter")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 64) -> DataFrame:
    """64-bit SimHash over term frequencies: (id, simhash).

    bit i of the signature = sign of Σ over token occurrences of (±1 by
    bit i of xxhash64(token)) — summing per occurrence is identical to the
    tf-weighted formulation. Computed **per-row** with higher-order array
    functions: no explode, no aggregation, zero shuffle — at corpus scale
    the signature stage is map-only, where the former explode + double
    groupBy shuffled every (doc, token) pair twice.

    Single-fold shape (same rework as ``_signature_array``): ONE aggregate
    over the token hashes carrying a 64-wide ±1-count accumulator, instead
    of 64 separate per-bit folds that each re-traversed the array —
    measured 6× faster at sf0.1 (5.6 s → 0.9 s), bit-identical output.
    ``call_function`` is used for shiftrightunsigned/shiftleft because the
    Python wrappers only accept literal ints for the shift amount and here
    it is the lambda's bit-index variable.
    """
    idx = F.sequence(F.lit(0), F.lit(bits - 1))
    ths = ensure_parallelism(df).select(
        F.col(id_col).alias("id"),
        F.transform(tokens(text_col), lambda tk: F.xxhash64(tk)).alias("ths"),
    )
    sums = F.aggregate(
        "ths",
        F.array_repeat(F.lit(0).cast("long"), bits),
        lambda acc, h: F.zip_with(
            acc,
            idx,
            lambda a, i: a
            + F.when(
                F.call_function("shiftrightunsigned", h, i).bitwiseAND(F.lit(1)) == 1, 1
            ).otherwise(-1),
        ),
    )
    sig = F.aggregate(
        F.zip_with(
            F.col("sums"),
            idx,
            lambda s, i: F.when(
                s > 0, F.call_function("shiftleft", F.lit(1).cast("long"), i)
            ).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc.bitwiseOR(x),
    )
    # token-less docs (punctuation-only, empty strings) would all fold to
    # signature 0 and surface as mutual hamming-0 "near-dups" — and at
    # corpus scale E such docs share one band bucket, an E² candidate
    # blowup. NULL instead: the row stays in the signature table (the
    # caller contract is one row per input doc) but null band keys never
    # equi-join, so no pairs are generated for them.
    return ths.select(
        "id", F.size("ths").alias("n_tokens"), sums.alias("sums")
    ).select("id", F.when(F.col("n_tokens") > 0, sig).alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-dup pairs with SimHash Hamming distance ≤ max_hamming.

    Banded search: split the 64-bit signature into max_hamming+1 bands
    (4×16 bits at the default 3); any pair within the Hamming budget must
    agree exactly on ≥1 band (pigeonhole: max_hamming differing bits
    cannot touch all max_hamming+1 bands), so the candidate set is b
    equi-joins on band keys — never all-pairs.
    """
    return simhash_pairs_from_sig(simhash(df, text_col, id_col), max_hamming)


def simhash_pairs_from_sig(sig: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Banded Hamming pair search over a precomputed (id, simhash) table.

    Split out so the signature table can be materialized once (e.g. to
    parquet, where a SQL oracle can verify the pair logic all-pairs) and
    the banding reused on the read-back. The band count is derived from
    ``max_hamming`` (pigeonhole needs max_hamming+1 bands — a fixed band
    count would silently lose recall for any larger budget); at the
    default 3 this is the canonical 4×16-bit split."""
    if not 0 <= max_hamming <= 15:
        # >15 would need >16 bands of <4 bits — bucket keys so small the
        # banded join degenerates toward all-pairs; use minhash/jaccard
        # for budgets that loose
        raise ValueError(f"max_hamming must be in [0, 15], got {max_hamming}")
    n_bands = max_hamming + 1
    base, rem = divmod(64, n_bands)
    widths = [base + (1 if b < rem else 0) for b in range(n_bands)]
    offsets = [sum(widths[:b]) for b in range(n_bands)]

    def band_key(b: int):
        key = F.shiftrightunsigned("simhash", offsets[b])
        if widths[b] < 64:  # a 64-bit mask literal would overflow int64
            key = key.bitwiseAND(F.lit((1 << widths[b]) - 1))
        return key

    bands = sig.select(
        "id",
        "simhash",
        F.posexplode(F.array(*[band_key(b) for b in range(n_bands)])).alias(
            "band_idx", "band_key"
        ),
    )
    x = bands.alias("x")
    y = bands.alias("y")
    return (
        x.join(
            y,
            (F.col("x.band_idx") == F.col("y.band_idx"))
            & (F.col("x.band_key") == F.col("y.band_key"))
            & (F.col("x.id") < F.col("y.id")),
        )
        .select(
            F.col("x.id").alias("id_a"),
            F.col("y.id").alias("id_b"),
            F.bit_count(F.col("x.simhash").bitwiseXOR(F.col("y.simhash"))).cast("long").alias(
                "hamming"
            ),
        )
        # filter BEFORE the distinct: over-budget candidates (the majority
        # for near-random signatures colliding on one band) must not flow
        # through the dedup exchange they're about to be dropped from —
        # filter commutes with distinct, so the result is identical
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


def editdistance_pairs(
    df: DataFrame,
    threshold: int = 8,
    prefix_len: int = 40,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Edit-distance near-dup pairs: Levenshtein ≤ threshold on normalized
    text, candidates from prefix blocking.

    The missing dedup modality next to Jaccard/MinHash/SimHash: character-
    level edits (typos, small insertions) that barely move a 3-gram shingle
    set still show up as a small edit distance. Candidates are pairs whose
    normalized text shares the first ``prefix_len`` characters — an
    EQUI-join (the only scale-safe shape; recall is limited to pairs whose
    edits all occur past the prefix, the standard prefix-blocking trade,
    exactly as ``cosine_dup_pairs`` is scoped to its blocks). The
    ``threshold`` argument makes Spark's Levenshtein DP early-exit at
    O(threshold·len) instead of O(len²) per pair — at corpus scale the
    bound is what keeps verification affordable.

    Normalization is ``functions.text.normalized_text`` — the SAME
    expression ``exact_dedup``'s fingerprint hashes, by construction.
    Documents whose normalized text is empty (punctuation/whitespace-only)
    or NULL are excluded: they would all share block '' and be reported
    as mutual distance-0 "near-dups" while degenerating that one block
    toward all-pairs — the E² class ``simhash`` guards against the same
    way.
    """
    norm = normalized_text(F.col(text_col))
    base = (
        ensure_parallelism(df)
        .select(
            F.col(id_col).alias("id"),
            F.transform(F.array(norm), lambda t: F.struct(
                t.alias("t"), F.substring(t, 1, prefix_len).alias("blk")
            ))[0].alias("nb"),
        )
        .select("id", F.col("nb.t").alias("t"), F.col("nb.blk").alias("blk"))
        .where(F.col("t").isNotNull() & (F.col("t") != ""))
    )
    a = base.select("blk", F.col("id").alias("id_a"), F.col("t").alias("ta"))
    b = base.select("blk", F.col("id").alias("id_b"), F.col("t").alias("tb"))
    dist = F.levenshtein("ta", "tb", threshold)  # -1 when > threshold
    return (
        a.join(b, "blk")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", dist.alias("dist"))
        .where(F.col("dist") >= 0)
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
    stats: dict | None = None,
) -> DataFrame:
    """Cluster near-dup pairs into components: (id, survivor_id), where
    survivor_id is the minimum id reachable through the pair graph.

    Pair generators (Jaccard/MinHash/SimHash) emit EDGES; dedup policy
    needs COMPONENTS (a~b and b~c must collapse a,b,c to one survivor
    even when a~c was never emitted). This is iterative min-label
    propagation: each round joins labels across edges and keeps the
    per-node minimum, converging in O(diameter) rounds — near-dup
    clusters are shallow (template families), so a handful of rounds
    suffices at any corpus size; each round is one equi-join + one
    aggregation, the same shuffle shape as everything else here. The
    loop stops early on a converged round (one driver-side count per
    round, observed by the round's checkpoint job). Raises if
    max_iter rounds don't converge rather than returning a wrong
    labeling.
    """
    # Checkpoints are per-round working state: stale rounds are freed
    # inside the loop; the edge set (tracked_cache) and the final
    # converged labeling stay registered so long-lived harnesses (bench,
    # verify) can caches.release() them after the query is consumed.
    # No distinct() on the edge set: min-label propagation is idempotent
    # under duplicate edges (min over a multiset), and every pair
    # generator here already emits unique (id_a < id_b) pairs — the
    # dedup shuffle would be a pure cost at any scale. Both directions
    # come from ONE explode rather than a self-union, so the (expensive)
    # pair-generation subtree is evaluated once, not once per branch.
    edges = tracked_cache(
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col(id_a).alias("src"), F.col(id_b).alias("dst")),
                    F.struct(F.col(id_b).alias("src"), F.col(id_a).alias("dst")),
                )
            ).alias("e")
        ).select("e.src", "e.dst")
    )
    comp = edges.select(F.col("src").alias("id")).distinct().withColumn("comp", F.col("id"))
    prev: DataFrame | None = None
    for round_no in range(1, max_iter + 1):
        if stats is not None:
            stats["rounds"] = round_no  # observability only (bench notes)
        neighbor_min = (
            edges.join(comp, edges.dst == comp.id)
            .select(F.col("src").alias("id"), F.col("comp"))
            .groupBy("id")
            .agg(F.min("comp").alias("ncomp"))
        )
        # localCheckpoint (not cache): each round's labeling would otherwise
        # chain joins onto every previous round's plan, and re-analysis of
        # that growing tree costs more per round than the data pass at
        # higher diameters. Checkpointing truncates lineage to the
        # materialized partitions — per-round plan size is now constant.
        # (Local checkpoint, not reliable checkpoint: labels are cheap to
        # recompute from scratch if an executor dies mid-algorithm.)
        # The old label rides along as a column so the number of changed
        # labels is counted by the checkpoint job itself — no old-vs-new
        # join and no separate count job per round.
        stepped, info = checkpoint_with(
            comp.select("id", F.col("comp").alias("old"))
            .join(neighbor_min, "id", "left")
            .select(
                "id",
                F.least(F.col("old"), F.coalesce(F.col("ncomp"), F.col("old"))).alias(
                    "comp"
                ),
                "old",
            ),
            changed=F.count_if(F.col("comp") != F.col("old")),
        )
        # The eager checkpoint above just materialized this round from the
        # previous one — the previous round's blocks are now dead weight;
        # without this, long convergences accumulate one materialized
        # labeling per round until the JVM GC/ContextCleaner happens to
        # reclaim them.
        if prev is not None:
            free(prev)
        prev = stepped
        if info["changed"] == 0:
            # Neighbor-min stability is the fixpoint (for every edge
            # L(src) <= L(dst) and vice versa ⇒ labels constant per
            # component ⇒ each equals its component min), so checking
            # before the jump is sound.
            return stepped.select("id", F.col("comp").alias("survivor_id"))
        # Pointer jump (path doubling): a label is itself a node id, so
        # follow it one hop — L'(id) = L(L(id)) — before the next
        # neighbor-min pass. Labels then contract along paths geometrically
        # and convergence takes O(log diameter) rounds instead of
        # O(diameter); the lookup is a small label⋈label equi-join over the
        # just-checkpointed round, nothing near the edge join's cost.
        lk = stepped.select(F.col("id").alias("__jid"), F.col("comp").alias("__jcomp"))
        comp = (
            stepped.join(lk, stepped.comp == F.col("__jid"), "left")
            .select(
                "id",
                F.least(F.col("comp"), F.coalesce(F.col("__jcomp"), F.col("comp"))).alias(
                    "comp"
                ),
            )
        )
    if prev is not None:
        free(prev)
    raise RuntimeError(f"connected_components did not converge in {max_iter} rounds")


def tfidf_cosine_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.6,
    max_token_df: int | None = None,
    round_to: int = 6,
) -> DataFrame:
    """TF-IDF-weighted cosine near-dup pairs via the token-posting join —
    the SPARSE similarity join (staged r13 for the r14 debut
    ``dedup_tfidf_cosine_pairs``). Where ``jaccard_pairs`` scores set
    overlap and the embedding family scores dense vectors, this scores
    WEIGHTED BAG overlap: rare shared terms dominate, boilerplate terms
    are discounted by IDF — the lexical near-dup signal curation
    pipelines run when embeddings are too expensive and shingles too
    brittle to reordering (cosine is order-free; Jaccard shingles are
    not).

    Algebra, spelled for the SQL oracle: tf = per-(doc, token) count;
    idf = ln((N + 1)/(df + 1)) + 1 with N = docs and df = docs
    containing the token; w = tf·idf; ||d|| = sqrt(Σ w²) over ALL the
    doc's tokens; pairs sharing ≥1 posting get
    cosine = Σ_shared (w_a·w_b) / (||a||·||b||), rounded to
    ``round_to`` on BOTH engines (double sums have summation-order
    freedom — the BM25 discipline). Returns (id_a, id_b, cosine) with
    id_a < id_b, cosine ≥ threshold; docs with no tokens (NULL/empty
    text) have no postings and appear in no pair.

    100 TB posture (the ``jaccard_pairs`` audit, term-weighted): the
    candidate generator is an inverted-index EQUI-join on the token —
    never all-pairs; ``max_token_df`` drops postings of tokens shared
    by more than that many docs (the stop-shingle DF cap), bounding the
    worst token's candidate fan-out at df². Cap semantics mirror
    ``jaccard_pairs`` exactly: norms keep ALL tokens, only the
    intersection loses capped terms, so the reported cosine is a LOWER
    BOUND — boilerplate can only subtract similarity evidence, never
    add false merges.

    Reference contrast: worker.go:104-165 can build the posting list
    (that is ``mr_inverted_index``) but cannot join two weighted
    posting relations back onto each pair, nor normalize by a per-doc
    aggregate computed in the same pass.
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    tf = (
        df.select(F.col(id_col).alias("id"), F.explode(tokens(text_col)).alias("tok"))
        .groupBy("id", "tok")
        .agg(F.count("*").alias("tf"))
    )
    # N = docs in the relation (a one-row broadcast, never a driver value)
    nd = df.agg(F.count("*").alias("n_docs"))
    dfreq = tf.groupBy("tok").agg(F.count("*").alias("df"))
    # cached: weighted postings feed the norm aggregate AND both sides of
    # the pair join — uncached, the tokenize+tf subtree runs three times
    w = tracked_cache(
        tf.join(dfreq, "tok")
        .crossJoin(F.broadcast(nd))
        .select(
            "id",
            "tok",
            "df",
            (
                F.col("tf").cast("double")
                * (
                    F.log((F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0)))
                    + F.lit(1.0)
                )
            ).alias("w"),
        )
    )
    norms = w.groupBy("id").agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm"))
    postings = w if max_token_df is None else w.where(F.col("df") <= max_token_df)
    a, b = postings.alias("a"), postings.alias("b")
    dots = (
        a.join(b, (F.col("a.tok") == F.col("b.tok")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.sum(F.col("a.w") * F.col("b.w")).alias("dot"))
    )
    na = norms.select(F.col("id").alias("id_a"), F.col("nrm").alias("na"))
    nb = norms.select(F.col("id").alias("id_b"), F.col("nrm").alias("nb"))
    return (
        dots.join(na, "id_a")
        .join(nb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(F.col("dot") / (F.col("na") * F.col("nb")), round_to).alias(
                "cosine"
            ),
        )
        .where(F.col("cosine") >= threshold)
    )
