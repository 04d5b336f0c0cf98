"""Text-analysis column expressions (tokenize, quality, lang-id, fingerprint).

Word tokenization matches the reference's word-count contract
(README.MD:25-53: split document text on non-word characters, lowercase,
drop empties). Every function here is a pure Column expression — JVM-side,
codegen-friendly, no Python in the hot path — and each has an exact ANSI-SQL
twin used by the DuckDB oracle (see ``__spark_entry__.oracle_sql``).

Scale notes: token explosion multiplies row count by average token count;
downstream aggregations rely on Catalyst's partial aggregation (map-side
combine — the feature the reference deliberately omits, README.MD:31-38) so
shuffled bytes stay proportional to distinct keys, not total tokens.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

TOKEN_SPLIT_RE = r"\W+"

# Tiny per-language stopword marker sets for the heuristic language scorer.
# Chosen to be regex-safe and identical in the DuckDB oracle SQL.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "is", "of", "to"),
    "es": ("el", "la", "de", "que", "y"),
    "de": ("der", "die", "und", "das", "ist"),
    "fr": ("le", "la", "et", "les", "des"),
}

STOPWORDS = ("the", "a", "and", "is", "of", "to", "in", "it")


def tokens(text: Column | str) -> Column:
    """Lowercased word tokens with empties removed — the reference's map step."""
    col = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(F.lower(col), TOKEN_SPLIT_RE), lambda t: t != F.lit(""))


def token_count(text: Column | str) -> Column:
    """Whitespace/punctuation token count (BPE-ish proxy: words + digits)."""
    return F.size(tokens(text)).cast("long")


# GPT-2-style pre-tokenizer pattern, simplified to the RE2-compatible subset
# (no lookahead) so the exact same pattern runs in Spark (Java regex) and the
# DuckDB oracle (RE2): contraction suffixes, space-prefixed letter runs,
# space-prefixed digit runs, space-prefixed punctuation runs. The
# whitespace exclusion in the punctuation class is spelled EXPLICITLY,
# not \s: Java \s includes \x0B where RE2's does not, so under \s a
# vertical tab would count as a punctuation token in the oracle only
# (caught by tests/test_adversarial_corpus.py).
BPE_SPLIT_RE = r"'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^ \t\n\x0B\f\r\p{L}\p{N}]+"


def bpe_tokens(text: Column | str) -> Column:
    """Subword tokens under the BPE-style pre-tokenizer regex.

    This is the *pre-tokenization* stage of a BPE tokenizer (the merge
    table is model-specific and out of scope): the unit a token-budget
    estimator counts. Pure JVM regex — no Python in the hot path."""
    col = F.col(text) if isinstance(text, str) else text
    return F.regexp_extract_all(F.lower(col), F.lit(BPE_SPLIT_RE), 0)


def bpe_token_count(text: Column | str) -> Column:
    """Subword token count — the LLM token-budget estimate per document."""
    return F.size(bpe_tokens(text)).cast("long")


def shingles(text: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles as strings — the dedup/LSH unit.

    Built from built-ins only: tokens → transform over sliding offsets →
    concat. Returns distinct shingles (set semantics for Jaccard).

    The token array is let-bound (``transform(array(tokens), t -> ...)[0]``
    — same trick as ``winnow_fingerprints``) so it is evaluated ONCE per
    row: referencing the raw ``tokens()`` expression from the per-gram
    lambda would re-tokenize the document once per gram — O(L²) per doc
    (measured 4× slower on the sf0.1 shingle stage).
    """

    def with_toks(toks: Column) -> Column:
        k = F.size(toks) - F.lit(n - 1)
        idx = F.sequence(F.lit(0), k - 1)
        grams = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)))
        # Guard short docs: sequence(0, k-1) with k<1 would yield a
        # descending range and slice(start=0) raises — emit an empty
        # shingle set instead.
        return F.when(F.size(toks) >= n, F.array_distinct(grams)).otherwise(
            F.array().cast("array<string>")
        )

    return F.transform(F.array(tokens(text)), with_toks)[0]


def quality_features(text: Column | str) -> dict[str, Column]:
    """Length / punctuation-ratio / stopword-ratio / mean-word-length features.

    Returns named Columns so callers pick what to project. All ratios are
    double, rounded by the caller for oracle comparison.
    """
    col = F.col(text) if isinstance(text, str) else text
    toks = tokens(col)
    n_tok = F.size(toks)
    n_chars = F.length(col)
    # explicit whitespace class, NOT \s: Java \s includes \x0B but
    # RE2/DuckDB \s does not, so a text containing a vertical tab would
    # count as punctuation in the oracle and as whitespace here — the
    # class below means the same thing in both engines (the paired SQL
    # fragment in queries/text.py + queries/pipeline.py spells it
    # identically)
    n_punct = n_chars - F.length(F.regexp_replace(col, r"[^\w \t\n\x0B\f\r]", ""))
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    mean_wlen = F.when(
        n_tok > 0,
        F.aggregate(toks, F.lit(0).cast("double"), lambda acc, t: acc + F.length(t)) / n_tok,
    ).otherwise(F.lit(0.0))
    return {
        "n_chars": n_chars.cast("long"),
        "n_tokens": n_tok.cast("long"),
        "punct_ratio": (n_punct / F.greatest(n_chars, F.lit(1))).cast("double"),
        "stopword_ratio": (n_stop / F.greatest(n_tok, F.lit(1))).cast("double"),
        "mean_word_len": mean_wlen,
    }


def quality_score(text: Column | str) -> Column:
    """Composite [0,1] quality score from the features (deterministic)."""
    feats = quality_features(text)
    length_ok = F.when((feats["n_tokens"] >= 10) & (feats["n_tokens"] <= 100000), 1.0).otherwise(0.0)
    stop_ok = F.when(feats["stopword_ratio"] >= 0.01, 1.0).otherwise(0.0)
    punct_ok = F.when(feats["punct_ratio"] <= 0.2, 1.0).otherwise(0.0)
    return ((length_ok + stop_ok + punct_ok) / F.lit(3.0)).cast("double")


def lang_id(text: Column | str) -> Column:
    """Heuristic language ID: argmax of per-language marker-word hit counts.

    Ties break by fixed language order (en, es, de, fr, und) — the DuckDB
    oracle encodes the identical CASE cascade, so results match exactly.
    """
    col = F.col(text) if isinstance(text, str) else text
    toks = tokens(col)

    def marker_count(markers: tuple[str, ...]) -> Column:
        # NB: a default-arg lambda breaks here — PySpark binds a lambda
        # variable to every parameter it sees, including defaults.
        return F.size(F.filter(toks, lambda t: t.isin(*markers)))

    scores = {lang: marker_count(markers) for lang, markers in LANG_MARKERS.items()}
    best = F.greatest(*scores.values())
    expr = F.lit("und")
    for lang in reversed(list(LANG_MARKERS)):  # build CASE en > es > de > fr
        expr = F.when((scores[lang] > 0) & (scores[lang] == best), F.lit(lang)).otherwise(expr)
    return expr


def normalized_text(text: Column | str) -> Column:
    """Lowercase, collapse non-word runs to single spaces, trim — THE one
    normalization the content-dedup family shares (``fingerprint``,
    ``operators.dedup.editdistance_pairs`` and their oracles). A single
    definition so blocking and fingerprinting can never silently
    desynchronize."""
    col = F.col(text) if isinstance(text, str) else text
    return F.trim(F.regexp_replace(F.lower(col), r"\W+", " "))


def fingerprint(text: Column | str) -> Column:
    """Deterministic document fingerprint: md5 of normalized token stream
    (``normalized_text``). md5 exists in both Spark and DuckDB, so the
    oracle checks it exactly.
    """
    return F.md5(normalized_text(text))


# Winnowing parameters (Schleimer, Wilkerson, Aiken, SIGMOD'03): char
# k-grams, guarantee window w, polynomial rolling hash mod a Mersenne prime.
WINNOW_K = 5
WINNOW_W = 4
WINNOW_BASE = 257
WINNOW_MOD = (1 << 31) - 1


def winnow_fingerprints(text: Column | str) -> Column:
    """Winnowing document fingerprints: distinct min-hash per window.

    The classic rolling-hash fingerprinting scheme: hash every char
    k-gram with a polynomial rolling hash, slide a w-wide window over the
    hash sequence, keep each window's minimum — any shared substring of
    length ≥ k+w-1 between two documents is guaranteed to share a
    fingerprint. All exact long arithmetic in JVM higher-order functions,
    so the DuckDB oracle (list_reduce/list_transform twin) matches
    hash-for-hash. Docs shorter than k chars yield an empty set; hash
    sequences shorter than w yield the single global minimum.
    """
    col = F.col(text) if isinstance(text, str) else text
    # Each stage is wrapped in transform(array(expr), x -> body)[0] — a
    # let-binding that evaluates the stage ONCE per row and exposes it as
    # a lambda variable. Referencing the raw expression from every gram
    # would instead re-evaluate it per reference (a naive version that
    # re-read lower(text) per character ran ~28× slower).
    codes = F.transform(F.split(F.lower(col), ""), lambda ch: F.ascii(ch).cast("long"))

    def with_codes(c: Column) -> Column:
        n = F.size(c)
        hashes = F.when(
            n >= WINNOW_K,
            F.transform(
                F.sequence(F.lit(1), n - (WINNOW_K - 1)),
                lambda i: F.aggregate(
                    F.slice(c, i, WINNOW_K),
                    F.lit(0).cast("long"),
                    lambda acc, x: (acc * WINNOW_BASE + x) % WINNOW_MOD,
                ),
            ),
        ).otherwise(F.array().cast("array<long>"))

        def with_hashes(hs: Column) -> Column:
            m = F.size(hs)
            return (
                F.when(
                    m >= WINNOW_W,
                    F.array_distinct(
                        F.transform(
                            F.sequence(F.lit(0), m - WINNOW_W),
                            lambda j: F.array_min(F.slice(hs, j + 1, WINNOW_W)),
                        )
                    ),
                )
                .when(m > 0, F.array(F.array_min(hs)))
                .otherwise(F.array().cast("array<long>"))
            )

        return F.transform(F.array(hashes), with_hashes)[0]

    return F.transform(F.array(codes), with_codes)[0]
