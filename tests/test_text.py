"""Text function tests (token counting, quality, lang ID, fingerprints)."""

from __future__ import annotations

from pyspark.sql import functions as F

from meshtastic_airsensor_database_spark.functions.text import (
    doc_fingerprint_md5,
    doc_fingerprint_rolling,
    lang_id_pred,
    token_count,
    word_shingles,
)


def _one(spark, text, col):
    return spark.createDataFrame([(text,)], ["t"]).select(col.alias("v")).collect()[0].v


def test_token_count_edges(spark):
    assert _one(spark, "a b  c", token_count(F.col("t"))) == 3
    assert _one(spark, "", token_count(F.col("t"))) == 0
    assert _one(spark, "   ", token_count(F.col("t"))) == 0
    assert _one(spark, "one", token_count(F.col("t"))) == 1


def test_word_shingles(spark):
    sh = _one(spark, "a b c d", word_shingles(F.col("t"), 3))
    assert sorted(sh) == ["a b c", "b c d"]
    short = _one(spark, "a b", word_shingles(F.col("t"), 3))
    assert short == ["a b"]  # short docs -> whole-text shingle


def test_lang_id_markers(spark):
    assert _one(spark, "the quick fox and dog", lang_id_pred(F.col("t"))) == "en"
    assert _one(spark, "el rapido zorro", lang_id_pred(F.col("t"))) == "es"
    assert _one(spark, "xyzzy qwerty", lang_id_pred(F.col("t"))) == "unk"
    # priority: en markers beat es when both present
    assert _one(spark, "the de la", lang_id_pred(F.col("t"))) == "en"


def test_md5_fingerprint_known_value(spark):
    # md5("hello") — cross-checked constant
    assert (
        _one(spark, "hello", doc_fingerprint_md5(F.col("t")))
        == "5d41402abc4b2a76b9719d911017c592"
    )


def test_rolling_fingerprint_order_sensitive(spark):
    a = _one(spark, "alpha beta", doc_fingerprint_rolling(F.col("t")))
    b = _one(spark, "beta alpha", doc_fingerprint_rolling(F.col("t")))
    assert a != b  # order matters, unlike a set hash


def test_doc_split_is_deterministic_and_leakage_free(spark, sf_dir):
    """Content-hash split: stable across runs, exact duplicates land in
    the same split (no train/test leakage through dupes), and the
    bucket thresholds produce roughly 80/10/10."""
    from collections import Counter

    from meshtastic_airsensor_database_spark.io_utils import load
    from meshtastic_airsensor_database_spark.plans.textq import doc_split_assignment

    rows = doc_split_assignment(spark, sf_dir).collect()
    again = doc_split_assignment(spark, sf_dir).collect()
    assert {(r.doc_id, r.split) for r in rows} == {(r.doc_id, r.split) for r in again}

    split_by_doc = {r.doc_id: r.split for r in rows}
    docs = load(spark, sf_dir, "documents").select("doc_id", "text").collect()
    by_text = {}
    for d in docs:
        by_text.setdefault(d.text, set()).add(split_by_doc[d.doc_id])
    assert all(len(splits) == 1 for splits in by_text.values())  # dupes co-split

    counts = Counter(r.split for r in rows)
    n = len(rows)
    assert 0.68 <= counts["train"] / n <= 0.92
    assert counts["val"] > 0 and counts["test"] > 0


def test_term_df_topk_counts_each_doc_once(spark):
    """Document frequency, not term frequency: a term repeated many
    times in one doc counts once; ranks are dense per language."""
    from meshtastic_airsensor_database_spark.plans.textq import TERM_TOPK, term_df_topk
    from meshtastic_airsensor_database_spark.plans import REGISTRY

    df = spark.createDataFrame(
        [(1, "en", "zebra zebra zebra quark"), (2, "en", "zebra quark"),
         (3, "fr", "licorne")],
        ["doc_id", "lang", "text"],
    )
    import tempfile, os
    # route through a parquet dir so the query's load() path is exercised
    d = tempfile.mkdtemp()
    df.write.parquet(os.path.join(d, "documents.parquet"))
    out = term_df_topk(spark, d).collect()
    en = {r.term: (r.doc_freq, r.rank) for r in out if r.lang == "en"}
    assert en["zebra"] == (2, 2)  # 2 docs, not 5 occurrences
    assert en["quark"] == (2, 1)  # doc_freq tie broken by term order
    assert all(r.rank <= TERM_TOPK for r in out)


def test_bpe_tokens_pretokenizer_shapes(spark):
    from meshtastic_airsensor_database_spark.functions.text import (
        bpe_token_count,
        bpe_tokens,
    )

    toks = _one(spark, "Don't panic, 42 towels!", bpe_tokens(F.col("t")))
    assert toks == ["don", "'t", " panic", ",", " 42", " towels", "!"]
    # whitespace runs excluded from the count
    assert _one(spark, "Don't panic, 42 towels!", bpe_token_count(F.col("t"))) == 7
    assert _one(spark, "", bpe_token_count(F.col("t"))) == 0


def test_pii_redaction_and_counts(spark):
    from meshtastic_airsensor_database_spark.functions.text import (
        PII_EMAIL_RE,
        PII_IPV4_RE,
        PII_PHONE_RE,
        pii_count,
        redact_pii,
    )

    rows = [
        (0, "mail a.b+c@ex-ample.co.uk and d@e.io, ip 192.168.0.1 call 800-555-1234"),
        (1, "no pii here, just version 1.2 and value 3.14"),
        (2, "dotted quad 10.0.0.7 is an ip, 10.0.0 is not"),
        (3, ""),
    ]
    df = spark.createDataFrame(rows, ["i", "t"])
    out = {
        r.i: r
        for r in df.select(
            "i",
            pii_count("t", PII_EMAIL_RE).alias("ne"),
            pii_count("t", PII_IPV4_RE).alias("ni"),
            pii_count("t", PII_PHONE_RE).alias("np"),
            redact_pii("t").alias("red"),
        ).collect()
    }
    assert (out[0].ne, out[0].ni, out[0].np) == (2, 1, 1)
    assert out[0].red == "mail [EMAIL] and [EMAIL], ip [IP] call [PHONE]"
    assert (out[1].ne, out[1].ni, out[1].np) == (0, 0, 0)
    assert out[1].red == rows[1][1]
    assert (out[2].ne, out[2].ni, out[2].np) == (0, 1, 0)
    assert out[3].red == ""


def test_normalize_text_merges_formatting_variants(spark):
    from meshtastic_airsensor_database_spark.functions.text import normalize_text
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [("Hello,  World!",), ("hello world",), ("HELLO — world",), ("different",)],
        ["text"],
    )
    out = [r.n for r in df.select(normalize_text("text").alias("n")).collect()]
    # ASCII-normalizable variants collapse; the em dash (non-ASCII) is
    # deliberately preserved - this tier is cheap, not aggressive.
    assert out[0] == out[1] == "hello world"
    assert out[2] == "hello — world"
    assert out[3] == "different"


def test_build_vocab_rank_and_tiebreak(spark):
    from meshtastic_airsensor_database_spark.operators.textops import build_vocab

    docs = spark.createDataFrame(
        [(0, "b a"), (1, "b c"), (2, "b a"), (3, "")],
        "doc_id long, text string",
    )
    got = {r["term"]: (r["df"], r["token_id"]) for r in build_vocab(docs, "text", 2).collect()}
    # b df=3 -> id 0; a df=2 -> id 1; c df=1 falls outside size=2
    assert got == {"b": (3, 0), "a": (2, 1)}


def test_encode_docs_order_and_oov(spark):
    from meshtastic_airsensor_database_spark.operators.textops import build_vocab, encode_docs

    docs = spark.createDataFrame(
        [(0, "b a zzz b"), (1, "a")], "doc_id long, text string"
    )
    vocab = build_vocab(docs, "text", 2)  # a df=2 -> 0, b df=1 -> 1; zzz OOV -> 2
    got = {r["doc_id"]: r for r in encode_docs(docs, vocab, "doc_id", "text", unk_id=2).collect()}
    assert got[0]["ids_head"] == "1 0 2 1"
    assert got[0]["n_tokens"] == 4 and got[0]["n_oov"] == 1
    assert got[1]["ids_head"] == "0" and got[1]["n_oov"] == 0


def test_vocab_growth_curve_is_consistent(spark, sf_dir):
    """new_tokens must sum to the corpus-wide distinct token count,
    the cumulative column must be the running sum in source order, and
    every source appears exactly once (zero-contribution sources
    included)."""
    from meshtastic_airsensor_database_spark.io_utils import load
    from meshtastic_airsensor_database_spark.plans import REGISTRY

    rows = sorted(
        REGISTRY["vocab_growth_by_source"].builder(spark, sf_dir).collect(),
        key=lambda r: r["source"],
    )
    docs = load(spark, sf_dir, "documents")
    n_sources = docs.select("source").distinct().count()
    vocab = (
        docs.select(F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("w"))
        .filter(F.col("w") != "")
        .select("w")
        .distinct()
        .count()
    )
    assert len(rows) == n_sources
    running = 0
    for r in rows:
        running += r["new_tokens"]
        assert r["cumulative_vocab"] == running
    assert running == vocab


def test_zipped_ngrams_equals_python_ngrams(spark):
    """The zip_with fold must produce exactly the naive adjacent
    n-grams for every length (incl. empty, shorter-than-n, unicode) —
    regression pin for the HOF-capture perf rewrite."""
    from pyspark.sql import functions as F

    from meshtastic_airsensor_database_spark.functions.text import zipped_ngrams

    texts = ["", "a", "a b", "a b c", "a b c d", "one two three four five six",
             "ü ö ä ß x", "x " * 20]
    rows = [(t.split(),) for t in texts]
    df = spark.createDataFrame(rows, "toks array<string>")
    for n in (2, 3, 5):
        got = [
            r.g
            for r in df.select(
                F.when(
                    F.size("toks") >= n, zipped_ngrams(F.col("toks"), n, " ")
                )
                .otherwise(F.array().cast("array<string>"))
                .alias("g")
            ).collect()
        ]
        want = [
            [" ".join(tk[i : i + n]) for i in range(len(tk) - n + 1)]
            if len(tk) >= n
            else []
            for (tk,) in rows
        ]
        assert got == want, (n, got, want)


def test_sentiment_score_known_values(spark):
    from pyspark.sql import functions as F

    from meshtastic_airsensor_database_spark.functions.text import (
        SENTIMENT_NEG,
        SENTIMENT_POS,
        lexicon_hits,
        polarity_score,
        tokens,
    )

    rows = [("fast fast good",), ("slow bad big",), ("fast slow",),
            ("the table row",), ("",), ("Fast GOOD slow",)]
    df = spark.createDataFrame(rows, "text string")
    ts = tokens("text")
    score = polarity_score(
        F.size(ts), lexicon_hits(ts, SENTIMENT_POS), lexicon_hits(ts, SENTIMENT_NEG)
    )
    got = [r.s for r in df.select(score.alias("s")).collect()]
    assert got[0] == 1.0            # all positive
    assert got[1] == -1.0           # all negative
    assert got[2] == 0.0            # balanced
    assert got[3] == 0.0            # no lexicon hits
    assert got[4] == 0.0            # empty text guard
    assert abs(got[5] - (2 - 1) / 3) < 1e-12  # case-insensitive


def test_documents_one_source_per_doc_contract(spark, sf_dir):
    """oov_rate_by_source computes token document-frequency as the SUM
    of per-source distinct-doc counts (plans/textq.py) — exact only
    while each doc_id carries exactly one source. Pin that contract on
    the fixture schema so a future multi-source layout fails loudly
    here instead of silently overcounting df."""
    from meshtastic_airsensor_database_spark.io_utils import load

    docs = load(spark, sf_dir, "documents")
    assert dict(docs.dtypes)["source"] == "string"  # scalar, not array
    n, nd = docs.agg(
        F.count(F.lit(1)), F.count_distinct("doc_id")
    ).collect()[0]
    assert n == nd  # unique doc_id => one (doc_id, source) pair per doc


# --- mirrored Gauss-Jordan solver (linreg_token_diversity's core) -----------


def test_gauss_jordan_property_vs_numpy():
    """Property test: on random integer design matrices, the mirrored
    no-pivot Gauss-Jordan solve of the SPD normal equations must agree
    with numpy's solver to within conditioning-scaled tolerance."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from meshtastic_airsensor_database_spark.plans.textq import gauss_jordan_solve

    rows = st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=60),
            st.integers(min_value=0, max_value=400),
            st.integers(min_value=0, max_value=30),
            st.integers(min_value=0, max_value=60),
        ),
        min_size=8,
        max_size=60,
    )

    @settings(max_examples=150, deadline=None)
    @given(rows)
    def check(data):
        from hypothesis import assume

        X = np.array([[1.0, a, b, c] for a, b, c, _y in data])
        y = np.array([float(t[3]) for t in data])
        G = X.T @ X
        bvec = X.T @ y
        # skip (near-)singular systems: constant columns / duplicates
        assume(np.linalg.matrix_rank(G) == 4)
        assume(np.linalg.cond(G) < 1e10)
        w = gauss_jordan_solve(G.tolist(), bvec.tolist())
        want = np.linalg.solve(G, bvec)
        scale = max(1.0, float(np.abs(want).max()))
        tol = max(1e-6, np.linalg.cond(G) * 1e-13)
        assert np.allclose(w, want, rtol=tol, atol=tol * scale), (
            w, want.tolist(), np.linalg.cond(G))

    check()
