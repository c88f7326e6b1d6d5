"""Text-analysis column functions (SURVEY.md §2.11 `text_analysis`).

Language-ID, quality features, token counting and fingerprinting as
pure built-in Column expressions so they run in whole-stage codegen at
100 TB with no Python in the hot path. The heuristics are intentionally
simple and DETERMINISTIC so the DuckDB oracle can mirror them in SQL.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny deterministic stopword list used by quality scoring.
STOPWORDS = ("the", "a", "and", "of", "to", "in", "is")

# Marker words per language for the n-gram-free heuristic language ID.
# (The synthetic corpus carries a `lang` label; the predictor is judged
# on determinism/scale-shape, not linguistic accuracy.)
LANG_MARKERS = [
    ("en", ("the", "and")),
    ("es", ("el", "la", "de")),
    ("de", ("der", "die", "und")),
    ("fr", ("le", "la", "et")),
    ("zh", ("de", "shi")),
]


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization -> array<string> (lowercased, trimmed)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.trim(F.lower(c)), r"\s+")


def token_count(col: Column | str) -> Column:
    """Whitespace token count; empty/blank string -> 0."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(F.trim(c) == "", F.lit(0)).otherwise(F.size(tokens(c)))


# GPT-2-style pretokenizer regex, restricted to constructs RE2 also
# supports (no lookahead) so the DuckDB oracle can mirror it exactly:
# contractions | space?+letters | space?+digits | space?+other | spaces.
BPE_PRETOKEN_RE = r"'s|'t|'re|'ve|'m|'ll|'d| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s+"


def bpe_tokens(col: Column | str) -> Column:
    """BPE-ish pretokenization -> array<string> (SURVEY §2.11
    text_analysis: 'whitespace + a BPE-ish regex' token counting).

    ``regexp_extract_all`` with the GPT-2 pretokenizer pattern — the
    split a byte-pair encoder would merge within; counting these is the
    standard cheap proxy for LLM token counts. Pure built-in, codegen'd.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(F.lower(c), F.lit(BPE_PRETOKEN_RE), 0)


def bpe_token_count(col: Column | str) -> Column:
    """BPE-ish token count, whitespace runs excluded."""
    return F.size(
        F.filter(bpe_tokens(col), lambda t: F.trim(t) != "")
    )


def zipped_ngrams(arr: Column, n: int, sep: str) -> Column:
    """n-gram join of adjacent elements WITHOUT capturing ``arr`` inside
    a lambda body. Higher-order-function lambdas re-evaluate any
    captured outer expression PER ELEMENT (Spark does not CSE into the
    interpreted lambda), so the previous sequence+transform+slice form
    re-tokenized the whole document once per shingle — quadratic per
    doc and the dominant cost of every shingling query. ``zip_with``
    arguments are evaluated once per ROW, so building the grams as a
    fold of n-1 zip_withs over n shifted slices costs n evaluations of
    ``arr`` total (and the lambdas touch only their own variables).
    Same elements in the same order as the old form."""
    win = F.size(arr) - (n - 1)
    out = F.slice(arr, 1, win)
    for j in range(2, n + 1):
        out = F.zip_with(
            out,
            F.slice(arr, j, win),
            lambda acc, nxt: F.concat(acc, F.lit(sep), nxt),
        )
    return out


def word_shingles(col: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles -> array<string> (distinct).

    Built as a zip_with fold over shifted token-array slices — stays
    JVM-side and evaluates the tokenizer O(n) times per row, never per
    shingle (see zipped_ngrams). Documents shorter than ``n`` tokens
    yield a single shingle of the whole text so they still participate
    in MinHash.
    """
    toks = tokens(col)
    joined = F.concat_ws(" ", toks)
    sh = zipped_ngrams(toks, n, " ")
    return F.when(F.size(toks) >= n, F.array_distinct(sh)).otherwise(F.array(joined))


def char_shingles(col: Column | str, n: int = 5) -> Column:
    """Character n-gram shingles -> array<string> (distinct, lowercased).

    The word-boundary-free complement of ``word_shingles``: robust to
    tokenization noise (hyphenation, spacing, CJK text without spaces).
    Strings shorter than ``n`` chars yield themselves as one shingle.
    Splits to a char array once and zip_with-folds shifted slices —
    the substring-per-index form re-lowered the whole document per
    gram (quadratic in doc length; see zipped_ngrams).
    """
    c = F.lower(F.col(col) if isinstance(col, str) else col)
    chars = F.split(c, "")
    grams = zipped_ngrams(chars, n, "")
    return F.when(F.length(c) >= n, F.array_distinct(grams)).otherwise(F.array(c))


# Deterministic sentiment lexicon (SURVEY §2.11 text_analysis names
# "sentiment-score text payloads"). Tiny on purpose: the scorer is the
# operator under test; a real deployment swaps in a full lexicon (or a
# pandas_udf model scorer) without changing the plan shape.
SENTIMENT_POS = ("fast", "good", "small")
SENTIMENT_NEG = ("slow", "bad", "big")


def lexicon_hits(toks: Column, words: tuple[str, ...]) -> Column:
    """Count of tokens in a constant lexicon (free-capture filter:
    the lambda touches only its variable and a literal array)."""
    return F.size(F.filter(toks, lambda t: t.isin(*words)))


def polarity_score(n: Column, n_pos: Column, n_neg: Column) -> Column:
    """(pos - neg) / tokens in [-1, 1]; 0.0 for empty text."""
    return F.when(
        n > 0, (n_pos - n_neg).cast("double") / n
    ).otherwise(F.lit(0.0))


def quality_features(col: Column | str) -> dict[str, Column]:
    """Quality-scoring features: length, punctuation ratio, stopword ratio.

    Generalizes the reference's implicit 'clean data' notions
    (cleandata.py drops/rounds; no scoring existed) into the standard
    training-data quality gates.
    """
    c = F.col(col) if isinstance(col, str) else col
    n_chars = F.length(c)
    n_punct = F.length(c) - F.length(F.regexp_replace(c, r"[!-/:-@\[-`{-~]", ""))
    toks = tokens(c)
    n_tokens = token_count(c)
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    return {
        "n_chars": n_chars,
        "n_tokens": n_tokens,
        "punct_ratio": F.when(n_chars > 0, n_punct.cast("double") / n_chars).otherwise(0.0),
        "stopword_ratio": F.when(n_tokens > 0, n_stop.cast("double") / n_tokens).otherwise(0.0),
    }


def lang_id_pred(col: Column | str) -> Column:
    """Deterministic marker-word language ID; no match -> 'unk'."""
    toks = tokens(col)
    pred = F.lit("unk")
    # Build reversed so earlier entries in LANG_MARKERS win ties.
    for lang, markers in reversed(LANG_MARKERS):
        hit = F.arrays_overlap(toks, F.array(*[F.lit(m) for m in markers]))
        pred = F.when(hit, F.lit(lang)).otherwise(pred)
    return pred


NORM_PUNCT_RE = r"[!-/:-@\[-`{-~]"  # ASCII punctuation (same class as quality_features)


def normalize_text(col: Column | str) -> Column:
    """Canonical text form for normalization-insensitive dedup:
    lowercase, strip ASCII punctuation, collapse runs of whitespace to
    one space, trim. Catches the near-universal "same doc, different
    formatting" duplicate class (trailing spaces, curly vs straight
    quote stripping, case) that byte-exact dedup misses and MinHash
    wastes a candidate-verify cycle on.

    Pure regexp_replace chain - JVM-side, no Python path; the DuckDB
    oracle mirrors the identical regexes.
    """
    c = F.col(col) if isinstance(col, str) else col
    c = F.lower(c)
    c = F.regexp_replace(c, NORM_PUNCT_RE, "")
    c = F.regexp_replace(c, r"\s+", " ")
    return F.trim(c)


def doc_fingerprint_md5(col: Column | str) -> Column:
    """Content fingerprint: md5 of UTF-8 bytes (exact-dedup key)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(c.cast("binary"))


def doc_fingerprint_rolling(col: Column | str, base: int = 31, mod: int = 2**31 - 1) -> Column:
    """Order-sensitive polynomial rolling hash over tokens.

    hash = sum(token_hash_i * base^(n-1-i)) mod m, computed with
    ``aggregate`` over the token array — built-in, no UDF; used for
    shift-robust fingerprinting. The token basis is the cross-engine
    md5 top-15-hex → BIGINT hash (plans/base.py parity rule), so the
    DuckDB twin reproduces every fingerprint exactly (list_reduce over
    the same per-token hashes — was xxhash64/rows-only before r4).
    mod < 2^31 keeps acc*base + h < 2^37 — no ANSI long overflow.
    """
    toks = tokens(col)
    tok_hash = lambda t: F.pmod(  # noqa: E731
        F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long"), F.lit(mod)
    )
    return F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: (acc * base + tok_hash(t)) % mod,
    )


# --- PII detection / redaction ------------------------------------------------
# Patterns deliberately use only RE2-safe syntax (char classes, bounded
# repeats, \b) so the same pattern string runs identically under Spark's
# java.util.regex and DuckDB's RE2 — required for oracle parity.

PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4_RE = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
PII_PHONE_RE = r"\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\b"

# redaction applies in this order; IP before phone so a dotted quad is
# never half-eaten by the phone pattern
PII_RULES = (
    (PII_EMAIL_RE, "[EMAIL]"),
    (PII_IPV4_RE, "[IP]"),
    (PII_PHONE_RE, "[PHONE]"),
)


def pii_count(col: Column | str, pattern: str) -> Column:
    """Number of non-overlapping matches of one PII pattern."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(pattern), F.lit(0)))


def redact_pii(col: Column | str) -> Column:
    """Replace every email/IPv4/phone occurrence with a typed mask
    token, in the fixed ``PII_RULES`` order.

    Pure ``regexp_replace`` chain — JVM-side, streams through
    whole-stage codegen; no Python row path. SQL twin must pass the
    'g' flag (DuckDB replaces only the first match by default).
    """
    c = F.col(col) if isinstance(col, str) else col
    for pattern, mask in PII_RULES:
        c = F.regexp_replace(c, F.lit(pattern), F.lit(mask))
    return c
