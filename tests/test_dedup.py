"""Dedup operators: planted-duplicate semantics + LSH recall guard."""

from __future__ import annotations

from pyspark.sql import Row

from mapreduce_system_spark.operators import dedup as DD


def docs_df(spark, rows):
    return spark.createDataFrame([Row(doc_id=i, text=t) for i, t in enumerate(rows)])


def test_exact_dedup_normalization(spark):
    # same content modulo case/punctuation/whitespace → one group, min-id survivor
    df = docs_df(spark, ["Hello, World! a b c", "hello   world A B C", "other text here x"])
    got = {r.survivor_id: r.n_copies for r in DD.exact_dedup(df).collect()}
    assert got == {0: 2, 2: 1}


def test_jaccard_pairs_known_value(spark):
    # doc0/doc1 share 3 of 5 distinct 3-shingles; doc2 shares none
    df = docs_df(
        spark,
        [
            "a b c d e f",  # shingles: abc bcd cde def
            "a b c d e zz",  # shingles: abc bcd cde dezz
            "q w e r t y",
        ],
    )
    pairs = {(r.id_a, r.id_b): r.jaccard for r in DD.jaccard_pairs(df, threshold=0.1).collect()}
    assert set(pairs) == {(0, 1)}
    assert abs(pairs[(0, 1)] - 3 / 5) < 1e-9


def test_jaccard_short_doc_no_crash(spark):
    # regression: shingles() on a doc shorter than n must not abort the job
    df = docs_df(spark, ["one two", "a b c d e", ""])
    assert DD.jaccard_pairs(df, threshold=0.1).count() == 0


def test_minhash_lsh_matches_exact(spark, sf_dir):
    from mapreduce_system_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "text"])
    exact = {
        (r.id_a, r.id_b) for r in DD.jaccard_pairs(docs, n=3, threshold=0.5).collect()
    }
    lsh = {
        (r.id_a, r.id_b)
        for r in DD.minhash_lsh_pairs(docs, n=3, threshold=0.5).collect()
    }
    assert lsh == exact  # precision exact by construction; recall 1 at r=2,b=64
    assert len(exact) > 0  # corpus has planted near-dups — test is non-vacuous


def test_simhash_near_identical_docs(spark):
    df = docs_df(
        spark,
        [
            "the quick brown fox jumps over the lazy dog again and again",
            "the quick brown fox jumps over the lazy dog again and again",
            "completely different content about databases and query engines",
        ],
    )
    pairs = {(r.id_a, r.id_b): r.hamming for r in DD.simhash_pairs(df, max_hamming=3).collect()}
    assert pairs == {(0, 1): 0}


def test_max_shingle_df_caps_hot_shingles(spark):
    # every doc shares the template shingle run; capping df kills those candidates
    template = "copyright notice footer"
    df = docs_df(spark, [f"{template} unique{i} content{i} words{i} here{i}" for i in range(10)])
    uncapped = DD.jaccard_pairs(df, threshold=0.05).count()
    capped = DD.jaccard_pairs(df, threshold=0.05, max_shingle_df=5).count()
    assert uncapped > 0 and capped == 0


def test_connected_components_chain_and_islands(spark):
    from mapreduce_system_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        # chain 1-2-3-4 (1~4 never emitted), island 10-11, singleton pair 20-21
        [(2, 1), (2, 3), (3, 4), (10, 11), (21, 20)],
        "id_a long, id_b long",
    )
    got = {r.id: r.survivor_id for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20}


def test_editdistance_pairs_semantics(spark):
    """Levenshtein pairs: distance correctness, threshold cut, and the
    prefix-blocking contract (edits inside the prefix block the pair)."""
    from mapreduce_system_spark.operators.dedup import editdistance_pairs

    base = "the quick brown fox jumps over the lazy dog " * 2  # > prefix_len
    rows = [
        (1, base + "tail one"),
        (2, base + "tail two!"),          # differs past the prefix → pair
        (3, base + "completely different ending that drifts far away from the rest"),
        (4, "PREFIX-EDIT " + base),        # same content, edited prefix → blocked
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r.id_a, r.id_b): r.dist for r in editdistance_pairs(df, threshold=8).collect()}
    assert (1, 2) in got and 0 < got[(1, 2)] <= 8
    assert all(p == (1, 2) for p in got), got  # 3 too far, 4 prefix-blocked

    # threshold is a hard cut: at threshold 2 the (1,2) pair must survive
    # iff its distance fits
    tight = {(r.id_a, r.id_b) for r in editdistance_pairs(df, threshold=2).collect()}
    assert ((1, 2) in tight) == (got[(1, 2)] <= 2)


def test_crossmodal_agreement_annotates_every_text_pair(spark):
    """One output row per text near-dup pair (the embedding join must not
    drop or duplicate pairs — vec_id aligns 1:1 with doc_id), with a
    well-formed cosine."""
    from mapreduce_system_spark.queries.dedup import (
        q_crossmodal_agreement,
        q_jaccard_pairs,
    )
    from tests.conftest import SF_DIR

    pairs = {(r["id_a"], r["id_b"]) for r in q_jaccard_pairs(spark, SF_DIR).collect()}
    rows = q_crossmodal_agreement(spark, SF_DIR).collect()
    assert {(r["id_a"], r["id_b"]) for r in rows} == pairs
    assert len(rows) == len(pairs)
    assert all(-1.0 - 1e-9 <= r["emb_cosine"] <= 1.0 + 1e-9 for r in rows)


def test_paraphrase_candidates_disjoint_from_text_pairs(spark):
    """Paraphrase candidates are exactly the embedding pairs minus the
    text pairs — disjointness and subset-ness pinned."""
    from mapreduce_system_spark.queries.dedup import (
        q_jaccard_pairs,
        q_paraphrase_candidates,
    )
    from mapreduce_system_spark.operators import similarity as SIM
    from mapreduce_system_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings", columns=["vec_id", "embedding", "label"])
    emb_pairs = {
        (r["id_a"], r["id_b"])
        for r in SIM.cosine_dup_pairs(emb, threshold=0.4, block_col="label").collect()
    }
    text_pairs = {(r["id_a"], r["id_b"]) for r in q_jaccard_pairs(spark, SF_DIR).collect()}
    got = {(r["id_a"], r["id_b"]) for r in q_paraphrase_candidates(spark, SF_DIR).collect()}
    assert got == emb_pairs - text_pairs
    assert got.isdisjoint(text_pairs)


def test_connected_components_releases_previous_rounds(spark):
    """Each label-propagation round must free the previous round's
    localCheckpoint blocks (DataFrame.unpersist can't reach them, so the
    operator frees them through caches.free); after caches.release()
    nothing the operator persisted survives."""
    from mapreduce_system_spark import caches
    from mapreduce_system_spark.operators.dedup import connected_components
    from tests.conftest import persisted_rdd_ids

    caches.release()
    # a 31-node path needs several pointer-jump rounds to converge
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "id_a long, id_b long"
    )
    before = persisted_rdd_ids(spark)
    out = connected_components(pairs)
    assert {r.survivor_id for r in out.collect()} == {0}
    grown = persisted_rdd_ids(spark) - before
    # bounded: the edge cache + the final round's checkpoint — NOT one
    # materialized labeling per round
    assert len(grown) <= 3, grown
    caches.release()
    assert not (persisted_rdd_ids(spark) - before)


def test_containment_catches_subset_duplicate(spark):
    """A short doc embedded verbatim in a long one: containment ~1 while
    Jaccard stays below any useful threshold — the operator's reason to
    exist."""
    from mapreduce_system_spark.operators.dedup import containment_pairs, jaccard_pairs

    short = "alpha beta gamma delta epsilon zeta"
    long = short + " " + " ".join(f"filler{i} pad{i} word{i}" for i in range(30))
    docs = spark.createDataFrame(
        [(1, short), (2, long), (3, "totally different content here entirely")],
        ["doc_id", "text"],
    )
    c = {(r.id_a, r.id_b): r.containment for r in containment_pairs(docs, threshold=0.9).collect()}
    assert (1, 2) in c and c[(1, 2)] >= 0.99
    j = {(r.id_a, r.id_b) for r in jaccard_pairs(docs, threshold=0.5).collect()}
    assert (1, 2) not in j


def test_simhash_tokenless_docs_get_null_signature_and_no_pairs(spark):
    """Punctuation-only / empty docs must not all collapse to signature 0
    and emit mutual hamming-0 'near-dup' pairs (at corpus scale E such
    docs share one band bucket — an E² candidate blowup). They keep a
    row in the signature table (NULL simhash — the one-row-per-doc
    contract) and generate zero pairs."""
    df = docs_df(spark, ["...", "!!!", "???", "real words here ok"])
    sig = {r.id: r.simhash for r in DD.simhash(df).collect()}
    assert len(sig) == 4
    assert sig[0] is None and sig[1] is None and sig[2] is None
    assert sig[3] is not None
    assert DD.simhash_pairs(df).count() == 0


def test_simhash_band_count_follows_max_hamming(spark):
    """Pigeonhole needs max_hamming+1 bands: two signatures differing in
    exactly 4 bits, one per 16-bit quarter, share NO 4-band key — a
    hardcoded 4-band split silently misses the pair at max_hamming=4,
    where the derived 5-band split must find it."""
    a = 0
    b = (1 << 0) | (1 << 16) | (1 << 32) | (1 << 48)  # one bit per quarter
    sig = spark.createDataFrame([Row(id=0, simhash=a), Row(id=1, simhash=b)])
    assert DD.simhash_pairs_from_sig(sig, max_hamming=3).count() == 0
    got = DD.simhash_pairs_from_sig(sig, max_hamming=4).collect()
    assert [(r.id_a, r.id_b, r.hamming) for r in got] == [(0, 1, 4)]
    import pytest

    with pytest.raises(ValueError, match="max_hamming"):
        DD.simhash_pairs_from_sig(sig, max_hamming=16)


def test_minhash_lsh_rejects_indivisible_band_width(spark):
    """128 hashes over 3-row bands would silently discard the trailing
    two hashes (floor division) — the caller pays for 128 and gets
    42-band recall; must raise instead."""
    import pytest

    df = docs_df(spark, ["a b c d e f"])
    with pytest.raises(ValueError, match="divisible"):
        DD.minhash_lsh_pairs(df, num_hashes=128, rows_per_band=3)


def test_crossmodal_agreement_surfaces_missing_embeddings(spark, tmp_path):
    """A text near-dup pair whose doc has no embedding row is the drift
    signal dedup_crossmodal_agreement exists to surface — it must appear
    with NULL emb_cosine, not vanish through an inner join (r10 review:
    at sf0.1 the inner form dropped 7 of the 8 exact-dup pairs)."""
    from mapreduce_system_spark.queries.dedup import q_crossmodal_agreement

    ta = "alpha beta gamma delta epsilon zeta"
    tb = "one two three four five six seven"
    spark.createDataFrame(
        [(0, ta), (1, ta), (2, tb), (3, tb)], "doc_id long, text string"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    # ids 2,3 embedded (identical vectors); id 1 has NO embedding row
    spark.createDataFrame(
        [(0, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    ).write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))

    rows = {(r.id_a, r.id_b): r for r in q_crossmodal_agreement(spark, str(tmp_path)).collect()}
    assert set(rows) == {(0, 1), (2, 3)}  # every text pair preserved
    assert rows[(0, 1)].emb_cosine is None  # missing side → NULL, not dropped
    assert rows[(2, 3)].emb_cosine == 1.0


def test_exact_dedup_excludes_null_text(spark):
    """NULL-text docs have unknown content — groupBy would collapse
    them into one fp=NULL 'duplicate' cluster (r10 review)."""
    df = spark.createDataFrame(
        [Row(doc_id=0, text="a b c"), Row(doc_id=1, text=None), Row(doc_id=2, text=None)]
    )
    got = {r.survivor_id: r.n_copies for r in DD.exact_dedup(df).collect()}
    assert got == {0: 1}


def test_editdistance_pairs_exclude_empty_normalized_text(spark):
    """Punctuation/whitespace-only docs all normalize to '' — they are
    not distance-0 near-dups of each other, and the shared '' block is
    the E² hot-block class simhash already guards (r10 review)."""
    shared = "a long shared prefix that fills the whole blocking window "
    df = docs_df(spark, ["!!!", "???", "...", "   ", shared + "one", shared + "two"])
    got = {(r.id_a, r.id_b) for r in DD.editdistance_pairs(df, threshold=8).collect()}
    assert got == {(4, 5)}


def test_minhash_band_keys_is_the_operators_banding(spark):
    """minhash_band_keys (the census surface scale_probe consumes) must
    bucket every pair minhash_lsh_pairs emits: the verified pairs are a
    subset of the same-band candidate set derived from the shared band
    relation. A banding divergence between the two (the drift the shared
    _band_keys helper exists to prevent) breaks this containment."""
    template = "the quick brown fox jumps over the lazy dog again and again"
    df = docs_df(
        spark,
        [f"{template} unique{i}" for i in range(6)] + ["totally different words"],
    )
    bands = DD.minhash_band_keys(df)
    x, y = bands.alias("x"), bands.alias("y")
    from pyspark.sql import functions as F

    cand = {
        (r.a, r.b)
        for r in x.join(
            y,
            (F.col("x.band_idx") == F.col("y.band_idx"))
            & (F.col("x.band_key") == F.col("y.band_key"))
            & (F.col("x.id") < F.col("y.id")),
        )
        .select(F.col("x.id").alias("a"), F.col("y.id").alias("b"))
        .distinct()
        .collect()
    }
    verified = {
        (r.id_a, r.id_b) for r in DD.minhash_lsh_pairs(df, threshold=0.5).collect()
    }
    assert verified  # the near-clone clique must produce pairs at all
    assert verified <= cand


def test_minhash_band_keys_rejects_indivisible_band_width(spark):
    import pytest

    with pytest.raises(ValueError, match="divisible"):
        DD.minhash_band_keys(docs_df(spark, ["a b c d e f"]), rows_per_band=3)
