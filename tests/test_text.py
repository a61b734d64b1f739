"""Text cleaning / tokenization / stemming units — hand-computed
expectations mirroring the reference chain (P2-P8, M1-M3)."""

from __future__ import annotations

from pyspark.sql import functions as F

from ml_with_spark_streaming_spark.functions.snowball import snowball_stem
from ml_with_spark_streaming_spark.functions.text import (
    clean_text_expr,
    remove_stopwords_expr,
    stem_tokens_udf,
    tokens_expr,
)


def _one(spark, text):
    return spark.createDataFrame([(text,)], "t string").select(
        clean_text_expr("t").alias("c")
    ).head()["c"]


def test_clean_strips_mentions_urls_nonalpha(spark):
    assert _one(spark, "@user loving #spark3 at http://x.co/y!!") == "loving at"
    assert _one(spark, "Hello,   WORLD 123") == "hello world"
    assert _one(spark, "") == ""


def test_clean_fused_run_matches_reference_four_pass(spark):
    """Round-11 pins the fused cleaning chain: replacing each maximal
    [^A-Za-z]+ run with one space must equal the reference's two-pass
    form ([^A-Za-z] -> ' ' then \\s+ -> ' ') character for character —
    all whitespace entering the collapse pass came from the non-alpha
    pass, so every collapsible run IS a non-alpha run. Checked over
    adversarial unicode/URL/mention/whitespace compositions."""
    import random

    from ml_with_spark_streaming_spark.functions.text import (
        RE_MENTIONS,
        RE_NON_ALPHA,
        RE_URLS,
        RE_WS,
    )

    def reference_clean(c):
        c = F.regexp_replace(c, RE_MENTIONS, " ")
        c = F.regexp_replace(c, RE_URLS, " ")
        c = F.regexp_replace(c, RE_NON_ALPHA, " ")
        c = F.regexp_replace(c, RE_WS, " ")
        return F.trim(F.lower(c))

    pieces = [
        "", " ", "\t\n", "@foo", "#bar-baz", "&amp", "http://x.y/z?a=1",
        "scheme://a@foo.bar", "ab@cd://ef", "x@y://z", "http://x@y-q z",
        "hello", "WORLD", "ünïcödé", "日本語", "emoji😀mix", "12345",
        "-dash-", "under_score", "\u200bzw\u200d", "nb\u00a0sp", "\r\r",
        "  multi   space  ", "tab\tsep", "nl\nsep", "trailing ", " leading",
        "://", "w://", "x://\t", "#", "&", "@",
    ]
    rnd = random.Random(42)
    rows = [
        ("".join(rnd.choice(pieces) for _ in range(rnd.randint(0, 8))),)
        for _ in range(1500)
    ]
    df = spark.createDataFrame(rows, "t string")
    mismatches = (
        df.select(
            clean_text_expr("t").alias("fused"),
            reference_clean(F.col("t")).alias("ref"),
        )
        .filter(~F.col("fused").eqNullSafe(F.col("ref")))
        .count()
    )
    assert mismatches == 0


def test_parallel_parts_values_order_and_errors(spark):
    """parallel_parts must return thunk results in order, leave
    checkpointed DataFrames consumable, and propagate a branch's
    exception."""
    import pytest as _pytest

    from ml_with_spark_streaming_spark.lineage import maybe_checkpoint, parallel_parts

    a, b = parallel_parts(
        lambda: maybe_checkpoint(spark.range(5).selectExpr("id * 2 AS x")),
        lambda: maybe_checkpoint(spark.range(3).selectExpr("id + 10 AS y")),
    )
    assert [r["x"] for r in a.orderBy("x").collect()] == [0, 2, 4, 6, 8]
    assert [r["y"] for r in b.orderBy("y").collect()] == [10, 11, 12]

    def boom():
        raise ValueError("branch failed")

    with _pytest.raises(ValueError, match="branch failed"):
        parallel_parts(lambda: maybe_checkpoint(spark.range(2)), boom)


def test_tokens_empty_guard(spark):
    rows = spark.createDataFrame([("",), ("a b",)], "t string").select(
        tokens_expr(clean_text_expr("t")).alias("toks")
    ).collect()
    assert rows[0]["toks"] == []
    assert rows[1]["toks"] == ["a", "b"]


def test_stopword_removal(spark):
    out = spark.createDataFrame([(["the", "cat", "and", "dog"],)], "toks array<string>").select(
        remove_stopwords_expr("toks").alias("f")
    ).head()["f"]
    assert out == ["cat", "dog"]


# NLTK SnowballStemmer("english") goldens, hand-derived from the
# published Porter2 spec (snowballstem.org/algorithms/english) — the
# reference pipeline's stemmer (PAC/passiveAgressiveModel.py:64-66).
# Grouped by the algorithm feature they pin down.
SNOWBALL_GOLDENS = {
    # exceptional forms
    "dying": "die", "lying": "lie", "tying": "tie", "skis": "ski",
    "skies": "sky", "ugly": "ugli", "early": "earli", "only": "onli",
    "singly": "singl", "news": "news", "atlas": "atlas",
    "cosmos": "cosmos", "bias": "bias", "andes": "andes", "sky": "sky",
    # invariant after step 1a
    "inning": "inning", "proceed": "proceed", "exceed": "exceed",
    "succeed": "succeed",
    # step-1a plural semantics
    "ties": "tie", "cries": "cri", "gas": "gas", "this": "this",
    "gaps": "gap", "kiwis": "kiwi", "caresses": "caress", "ponies": "poni",
    # step-1b + shortness
    "running": "run", "hopping": "hop", "hoping": "hope",
    "meeting": "meet", "agreed": "agre", "luxuriated": "luxuri",
    # consonant-y marking
    "boy": "boy", "say": "say", "cry": "cri", "by": "by",
    "flying": "fli", "happy": "happi",
    # Porter2-only step-2 rules (li-deletion, ogi, fulli)
    "quickly": "quick", "geology": "geolog", "fully": "fulli",
    "generously": "generous",
    # R1/R2 regions through steps 2-5
    "communication": "communic", "conditional": "condit",
    "absorption": "absorpt", "happiness": "happi", "generate": "generat",
    "argument": "argument", "agreement": "agreement",
    "relational": "relat", "rational": "ration",
}


def test_snowball_stem_goldens():
    got = {w: snowball_stem(w) for w in SNOWBALL_GOLDENS}
    assert got == SNOWBALL_GOLDENS


def test_snowball_diverges_from_porter_where_specified():
    """The reference uses Snowball, not the original Porter algorithm.
    Pin the words where the two algorithms MUST differ (Porter's stem
    in each comment) so a regression to Porter semantics is loud."""
    for word, expected in {
        "dying": "die",      # Porter: dy
        "news": "news",      # Porter: new
        "ties": "tie",       # Porter: ti
        "gas": "gas",        # Porter: ga
        "boy": "boy",        # Porter: boi
        "quickly": "quick",  # Porter: quickli
        "geology": "geolog", # Porter: geologi
        "proceed": "proceed",  # Porter: procee
        "communication": "communic",  # Porter: commun
    }.items():
        assert snowball_stem(word) == expected


def test_stem_udf_matches_python(spark):
    toks = ["running", "flies", "happily", "dying", "quickly"]
    out = spark.createDataFrame([(toks,)], "toks array<string>").select(
        stem_tokens_udf(F.col("toks")).alias("s")
    ).head()["s"]
    assert out == [snowball_stem(t) for t in toks]


def test_winnowing_shared_substring_guarantee(spark):
    """Winnowing invariant (Schleimer et al.): two docs sharing a
    substring of length >= k+w-1 share at least one fingerprint;
    identical docs share the whole set; disjoint docs share none."""
    from ml_with_spark_streaming_spark.operators.textstats import winnowing_fingerprints

    shared = "the winnowing algorithm selects minima"  # 38 chars >= 8+4-1
    rows = [
        (1, f"prefix one {shared} suffix alpha"),
        (2, f"another beginning {shared} other ending"),
        (3, f"prefix one {shared} suffix alpha"),  # identical to 1
        (4, "zzz qqq xxx completely disjoint characters vvv www"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = {}
    for r in winnowing_fingerprints(df, "text", "doc_id", k=8, w=4).collect():
        fps.setdefault(r["doc_id"], set()).add(r["fp"])
    assert fps[1] == fps[3]  # identical docs, identical sets
    assert fps[1] & fps[2]  # shared 38-char substring -> shared fp
    assert not (fps[1] & fps[4])  # disjoint text -> disjoint sets


# ---------------------------------------------------------------------------
# byte-level BPE (functions/bpe.py)
# ---------------------------------------------------------------------------


def test_bpe_training_hand_verified_merges():
    """Classic BPE on a corpus small enough to merge by hand.

    corpus "aa ab aa ab ab" pre-tokenizes to aa | ' ab' | ' aa' |
    ' ab' | ' ab'. Pair counts: (' ','a')=4, ('a','b')=3, ('a','a')=2
    -> first merge (' ','a'). After rewriting, (' a','b')=3 beats
    (' a','a')=1 and ('a','a')=1 -> second merge (' a','b')."""
    from ml_with_spark_streaming_spark.functions.bpe import train_bpe

    assert train_bpe(["aa ab aa ab ab"], 2) == [(b" ", b"a"), (b" a", b"b")]
    # frequency ties break lexicographically: "xy xy" gives (' ','x')=1
    # vs ('x','y')=2 -> ('x','y') first; then (' ','x')=1 vs
    # (' x','y')... recount: "xy xy" -> 'xy', ' xy'. ('x','y')=2 wins
    # round 1; round 2 pairs are (' ','x')=1 merged-(' ','xy')? — pin
    # the first merge only, the hand-derivable fact
    assert train_bpe(["xy xy"], 1) == [(b"x", b"y")]


def test_bpe_encode_is_lossless_and_count_matches():
    from ml_with_spark_streaming_spark.functions.bpe import count_tokens, encode

    for s in ["the quick brown fox", "hello, world! 123", "", "   ", "don't stop"]:
        chunks = encode(s)
        assert b"".join(chunks).decode("utf-8") == s
        assert count_tokens(s) == len(chunks)
    assert count_tokens(None) == 0
    # a 256-merge vocab compresses seed-domain English below 1 token/char
    text = "the people gather in markets to buy bread and salt"
    assert count_tokens(text) < len(text) * 0.6


def test_bpe_udf_matches_python_on_real_documents(spark):
    """The Arrow pandas_udf path must agree with the pure-Python
    tokenizer exactly (this is q102's correctness pin — BPE has no SQL
    oracle)."""
    from ml_with_spark_streaming_spark.functions.bpe import (
        bpe_token_count_series,
        count_tokens,
    )

    d = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .orderBy("doc_id")
        .limit(50)
    )
    udf = F.pandas_udf(bpe_token_count_series, "long")
    got = {r.doc_id: r.n for r in d.select("doc_id", udf("text").alias("n")).collect()}
    want = {r.doc_id: count_tokens(r.text) for r in d.select("doc_id", "text").collect()}
    assert got == want


def test_bpe_packing_arithmetic_consistent(spark):
    """q103's cum/chunk columns must satisfy the packing invariants
    (running sum in doc_id order; chunk spans from the q98 formulas)."""
    from ml_with_spark_streaming_spark.plans.curation import _CTX, q103_sequence_packing_bpe

    rows = sorted(
        q103_sequence_packing_bpe(spark, "/root/testdata/sf0.001").collect(),
        key=lambda r: r.doc_id,
    )
    cum = 0
    for r in rows:
        cum += r.n_tokens
        assert r.cum_tokens == cum
        if r.n_tokens == 0:
            assert r.chunk_first is None and r.chunk_last is None
        else:
            assert r.chunk_first == (r.cum_tokens - r.n_tokens) // _CTX
            assert r.chunk_last == (r.cum_tokens - 1) // _CTX


def test_q144_vocab_growth_invariants(spark):
    """Final cum_vocab equals the corpus distinct-token count; cum
    columns are non-decreasing; every new_vocab ≥ 0."""
    from pyspark.sql import functions as F

    from ml_with_spark_streaming_spark.functions.text import (
        clean_text_expr,
        tokens_expr,
    )
    from ml_with_spark_streaming_spark.plans.text_ml import q144_vocab_growth
    from ml_with_spark_streaming_spark.sources.batch import load_table

    sf = "/root/testdata/sf0.001"
    rows = q144_vocab_growth(spark, sf).collect()
    assert rows == sorted(rows, key=lambda r: r.bucket)
    assert all(r.new_vocab >= 0 and r.n_docs > 0 for r in rows)
    cums = [(r.cum_tokens, r.cum_vocab) for r in rows]
    assert cums == sorted(cums)
    d = load_table(spark, sf, "documents")
    vocab = (
        d.select(F.explode(tokens_expr(clean_text_expr("text"))).alias("t"))
        .filter(F.col("t") != "")
        .agg(F.countDistinct("t"))
        .collect()[0][0]
    )
    assert rows[-1].cum_vocab == vocab


def test_char_bigram_entropy_matches_math_log(spark):
    """Engine entropy equals the float formula quantized half-up at
    1e-6 (the ln construction's contract), on texts spanning the
    degenerate, repetitive, and mixed regimes."""
    import math
    from collections import Counter

    from ml_with_spark_streaming_spark.operators.textstats import (
        char_bigram_entropy,
    )

    texts = {
        0: "aaaaaaaa",          # zero entropy: one bigram type
        1: "abababab",          # two bigram types
        2: "the quick brown fox jumps over the lazy dog",
        3: "x",                 # too short: excluded
    }
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    got = {r["doc_id"]: r for r in char_bigram_entropy(df, "text", "doc_id").collect()}
    assert 3 not in got
    for did, txt in texts.items():
        if len(txt) < 2:
            continue
        c = Counter(txt[i : i + 2] for i in range(len(txt) - 1))
        n = sum(c.values())

        def ln6(x):
            return math.floor(math.log(x) * 1e6 + 0.5)

        want = ln6(n) - sum(v * ln6(v) for v in c.values()) // n
        assert got[did]["n_bigrams"] == n
        assert got[did]["entropy_x1e6"] == want
    assert got[0]["entropy_x1e6"] == 0
    assert got[0]["entropy_x1e6"] < got[1]["entropy_x1e6"] < got[2]["entropy_x1e6"]


def test_normalize_text_counts_and_idempotence(spark):
    from pyspark.sql import functions as F

    from ml_with_spark_streaming_spark.operators.textstats import (
        hygiene_counts,
        normalize_text_expr,
    )

    nasty = "a\x07b​c�d e\tf\ng"  # tab/newline must SURVIVE
    df = spark.createDataFrame([(nasty,)], ["t"])
    cnt = hygiene_counts("t")
    row = df.select(
        cnt["n_ctrl"].alias("c"),
        cnt["n_zw"].alias("z"),
        cnt["n_repl"].alias("r"),
        cnt["n_nbsp"].alias("n"),
        normalize_text_expr("t").alias("norm"),
    ).collect()[0]
    assert (row.c, row.z, row.r, row.n) == (1, 1, 1, 1)
    assert row.norm == "abcd e\tf\ng"  # NBSP -> space; tab/newline kept

    # idempotence: a second pass is a no-op
    again = (
        spark.createDataFrame([(row.norm,)], ["t"])
        .select(normalize_text_expr("t").alias("norm2"))
        .collect()[0]
    )
    assert again.norm2 == row.norm

    # clean text is untouched
    clean = "plain text, nothing to fix."
    same = (
        spark.createDataFrame([(clean,)], ["t"])
        .select(normalize_text_expr("t").alias("n"))
        .collect()[0]
    )
    assert same.n == clean
