"""Text-analysis column functions: exact semantics on hand-built docs."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from mapreduce_system_spark.functions import text as TXT


def one(spark, text, expr):
    df = spark.createDataFrame([Row(text=text)])
    return df.select(expr.alias("v")).collect()[0].v


def test_token_count(spark):
    assert one(spark, "Hello, world! 123", TXT.token_count("text")) == 3
    assert one(spark, "", TXT.token_count("text")) == 0


def test_shingles_boundaries(spark):
    assert one(spark, "a b c d", TXT.shingles("text", 3)) == ["a b c", "b c d"]
    assert one(spark, "a b", TXT.shingles("text", 3)) == []  # shorter than n
    assert one(spark, "", TXT.shingles("text", 3)) == []
    # distinct semantics
    assert one(spark, "x y z x y z x y z", TXT.shingles("text", 3)) == [
        "x y z", "y z x", "z x y"
    ]


def test_quality_features_ratios(spark):
    df = spark.createDataFrame([Row(text="the cat!!")])
    feats = TXT.quality_features("text")
    row = df.select(
        feats["n_chars"].alias("nc"),
        feats["n_tokens"].alias("nt"),
        feats["punct_ratio"].alias("pr"),
        feats["stopword_ratio"].alias("sr"),
        feats["mean_word_len"].alias("mw"),
    ).collect()[0]
    assert row.nc == 9 and row.nt == 2
    assert abs(row.pr - 2 / 9) < 1e-9   # two '!' of 9 chars
    assert abs(row.sr - 0.5) < 1e-9     # 'the' of 2 tokens
    assert abs(row.mw - 3.0) < 1e-9     # (3+3)/2


def test_lang_id_markers_and_ties(spark):
    assert one(spark, "the dog is here", TXT.lang_id("text")) == "en"
    assert one(spark, "el gato de la casa y", TXT.lang_id("text")) == "es"
    assert one(spark, "der hund und die katze ist", TXT.lang_id("text")) == "de"
    assert one(spark, "xyz qqq zzz", TXT.lang_id("text")) == "und"
    # tie (one marker each) breaks by fixed order en > es
    assert one(spark, "the el", TXT.lang_id("text")) == "en"


def test_fingerprint_normalization(spark):
    a = one(spark, "Hello,   World!", TXT.fingerprint("text"))
    b = one(spark, "hello world", TXT.fingerprint("text"))
    c = one(spark, "hello worlds", TXT.fingerprint("text"))
    assert a == b and a != c


def test_winnow_fingerprints_known_answer(spark):
    """Winnowing vs an independent pure-Python computation, incl. edge cases."""
    from mapreduce_system_spark.functions.text import (
        WINNOW_BASE,
        WINNOW_K,
        WINNOW_MOD,
        WINNOW_W,
        winnow_fingerprints,
    )

    cases = ["the quick brown fox jumps over", "abcd", "aaaaaaaa", "", "abcde"]

    def ref(text):
        t = text.lower()
        hs = []
        for i in range(len(t) - WINNOW_K + 1):
            acc = 0
            for ch in t[i : i + WINNOW_K]:
                acc = (acc * WINNOW_BASE + ord(ch)) % WINNOW_MOD
            hs.append(acc)
        if not hs:
            return []
        if len(hs) < WINNOW_W:
            return sorted({min(hs)})
        return sorted({min(hs[j : j + WINNOW_W]) for j in range(len(hs) - WINNOW_W + 1)})

    df = spark.createDataFrame([(i, t) for i, t in enumerate(cases)], ["i", "text"])
    got = {r.i: sorted(r.fp) for r in df.select("i", winnow_fingerprints("text").alias("fp")).collect()}
    for i, t in enumerate(cases):
        assert got[i] == ref(t), (t, got[i], ref(t))


def test_winnow_shared_substring_guarantee(spark):
    """Docs sharing a substring of length >= k+w-1 share a fingerprint."""
    from mapreduce_system_spark.functions.text import winnow_fingerprints

    shared = "zqxwvuty"  # length 8 = k+w-1
    df = spark.createDataFrame(
        [(1, f"aaa {shared} bbb"), (2, f"ccc {shared} ddd")], ["i", "text"]
    )
    got = {r.i: set(r.fp) for r in df.select("i", winnow_fingerprints("text").alias("fp")).collect()}
    assert got[1] & got[2], "no shared fingerprint for shared substring"


def test_heavy_hitter_candidates_are_a_superset_of_true_heavy_hitters(spark):
    """The two-pass heavy-hitter query is only correct if freqItems'
    candidate set contains every token above the FINAL support — pin the
    superset guarantee at the candidate support actually used."""
    from mapreduce_system_spark.queries.text import (
        _HH_CAND_SUPPORT,
        _HH_SUPPORT,
        q_heavy_hitters,
    )
    from mapreduce_system_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents", columns=["text"])
    toks = docs.select(F.explode(TXT.tokens("text")).alias("token"))
    n = toks.count()
    exact = {
        r["token"]: r["cnt"]
        for r in toks.groupBy("token").agg(F.count("*").alias("cnt")).collect()
    }
    true_heavy = {t for t, c in exact.items() if c > _HH_SUPPORT * n}
    candidates = set(toks.stat.freqItems(["token"], support=_HH_CAND_SUPPORT).first()[0])
    assert true_heavy <= candidates
    # bounded driver state: lossy counting returns at most ~1/support items
    # (a small slack above the bound is allowed by the algorithm's contract)
    assert len(candidates) <= int(2 / _HH_CAND_SUPPORT)
    got = {r["token"]: r["cnt"] for r in q_heavy_hitters(spark, SF_DIR).collect()}
    assert got == {t: exact[t] for t in true_heavy}


def test_punct_count_treats_vertical_tab_as_whitespace_on_both_engines(spark):
    """Java \\s includes \\x0B, RE2/DuckDB \\s does not — the punct class
    is spelled as an explicit whitespace list on both engines so a
    vertical tab counts as whitespace (not punctuation) everywhere."""
    import duckdb
    from pyspark.sql import Row

    text = "a\x0bb!"
    feats = TXT.quality_features("text")
    pr = (
        spark.createDataFrame([Row(text=text)])
        .select(feats["punct_ratio"].alias("pr"))
        .collect()[0]
        .pr
    )
    assert abs(pr - 1 / 4) < 1e-9  # only '!' is punctuation
    (oracle,) = duckdb.sql(
        r"""SELECT (length(t) - length(regexp_replace(t, '[^\w \t\n\x0B\f\r]', '', 'g')))
                 / CAST(length(t) AS DOUBLE)
            FROM (SELECT 'a' || chr(11) || 'b!' AS t)"""
    ).fetchone()
    assert abs(pr - oracle) < 1e-9


def test_md5_bucket32_matches_its_sql_twin(spark):
    """functions/hashing.py is the ONE definition of the hash-uniform;
    the Spark column and the interpolated DuckDB fragment must agree
    value-for-value on arbitrary keys."""
    import duckdb
    from pyspark.sql import Row

    from mapreduce_system_spark.functions.hashing import (
        md5_bucket32,
        md5_bucket32_sql,
    )

    keys = ["", "a", "doc-42", "ledger", "🙂 unicode"]
    got = dict(
        spark.createDataFrame([Row(k=k) for k in keys])
        .select("k", md5_bucket32("k").alias("b"))
        .collect()
    )
    for k in keys:
        (want,) = duckdb.sql(
            f"SELECT CAST({md5_bucket32_sql('?')} AS BIGINT)", params=[k]
        ).fetchone()
        assert got[k] == want, k
        assert 0 <= got[k] < 2**32


def test_quality_profile_cross_engine_on_adversarial_strings(spark, tmp_path):
    """The fixture corpus is pure-ASCII and NULL-free, so the oracle gate
    never exercises the regex/NULL edges — this pins the full quality
    query against its own oracle SQL on a crafted corpus: unicode
    whitespace variants, accents (non-word in BOTH engines' ASCII \\w),
    emoji/CJK, control characters, NBSP/zero-width, empty/whitespace-only/
    punct-only strings, underscores, digits, and a NULL text row."""
    import duckdb
    from pyspark.sql import Row

    from mapreduce_system_spark.queries.text import _QUALITY_SQL, q_quality_profile

    texts = [
        None,
        "",
        "   \t\n",
        "!!! ??? ...",
        "plain ascii words the and of",
        "tab\tsep\nnewline\x0bvtab\ffeed\rret",
        "café naïve résumé",
        "emoji \U0001f600 mixed 中文 words",
        "nbsp joined zero​width",
        "under_scores and digits 12345 67890",
        "UPPER lower MiXeD the THE The",
        "x" * 500,
        "a " * 200,
        "word-with-hyphens and/or slashes|pipes",
        "quotes 'single' \"double\" `back`",
        "trailing spaces   ",
        "   leading spaces",
        "semi;colon:colon,comma.dot",
        "math 3<4 >=2 !=1 ~5 ^6 &7 *8",
        "brackets (a) [b] {c} <d>",
    ]
    rows = [Row(doc_id=i, text=t) for i, t in enumerate(texts)]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        f"{tmp_path}/documents.parquet"
    )
    got = [tuple(r) for r in q_quality_profile(spark, str(tmp_path)).collect()]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{tmp_path}/documents.parquet/*.parquet')"
    )
    want = [tuple(r) for r in con.execute(_QUALITY_SQL).fetchall()]
    assert got == want
