"""Text-analysis column expressions (LLM-data-pipeline extensions).

All pure built-in Column expressions — JVM-side, codegen-friendly, no
UDFs — so they run unchanged from sf0.001 up to 100 TB. Each builder is
written to have an exact ANSI-SQL twin runnable by DuckDB (see
plans/oracles.py), which is what makes the operators oracle-checkable.

The reference has no text operators; these extend its surface per
BASELINE.json's north star.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from data_pipeline_example_spark.functions.hashing import md5_int

TOKEN_PATTERN = r"[A-Za-z0-9]+"
PUNCT_PATTERN = r"[.,!?;:]"

# tiny deterministic stopword lists per language for the n-gram/stopword
# language-ID heuristic. Order matters: the CASE ladder breaks ties by
# this order (en > de > fr > es).
STOPWORDS = {
    "en": ("the", "a", "and", "of", "to", "is", "in", "it"),
    "de": ("der", "die", "das", "und", "ist", "ein", "nicht"),
    "fr": ("le", "la", "les", "et", "est", "une", "pas"),
    "es": ("el", "la", "los", "y", "es", "una", "que"),
}


def tokens(col: Column) -> Column:
    """Alphanumeric token list. DuckDB twin: regexp_extract_all(x, pat)."""
    return F.regexp_extract_all(F.coalesce(col, F.lit("")), F.lit(f"({TOKEN_PATTERN})"), 1)


def lower_tokens(col: Column) -> Column:
    """The word rule of the text family: lowercase ASCII-alnum tokens
    of ``col`` (NULL text → empty list)."""
    return tokens(F.lower(col))


def word_grams(toks: str, k: int) -> Column:
    """Ordered word k-grams of the token-array column NAMED ``toks``:
    tokens i..i+k-1 joined by one space, repeats kept, an empty list
    below k tokens. DuckDB twin: ``array_to_string(list_slice(t, i,
    i + k - 1), ' ')`` for each start i in 1..len(t) - k + 1.

    A name, not a Column: the expression reads the tokens several
    times, and Spark does not eliminate common subexpressions inside
    higher-order lambdas, so the tokens must be bound in a projection
    below (an inline tokenizer would re-run at every reference). It is
    emitted as one SQL string: built as a Column-op chain it cost the
    driver 20–75 ms of py4j round trips per call, the string 0.3 ms.
    The form follows ``k`` (measured over 2.17 M tokens on 4 cores):
    for k ≤ 4, ``zip_with`` over k shifted slices (0.40–0.75 s vs
    0.90–0.94 s for the slice form); from k = 5, one
    ``array_join(slice)`` per gram, flat in k (0.93–1.24 s up to
    k = 50, where ``zip_with`` took 3.70 s)."""
    n = f"size({toks}) - {k - 1}"
    if k <= 4:
        grams = f"slice({toks}, 1, {n})"
        for j in range(1, k):
            grams = (
                f"zip_with({grams}, slice({toks}, {j + 1}, {n}), "
                "(x, y) -> concat(x, ' ', y))"
            )
        return F.expr(
            f"CASE WHEN size({toks}) >= {k} THEN {grams} "
            "ELSE CAST(array() AS ARRAY<STRING>) END"
        )
    return F.expr(
        f"transform(slice({toks}, 1, greatest({n}, 0)), "
        f"(x, i) -> array_join(slice({toks}, i + 1, {k}), ' '))"
    )


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


def char_count(col: Column) -> Column:
    return F.length(F.coalesce(col, F.lit("")))


def punct_count(col: Column) -> Column:
    return F.size(
        F.regexp_extract_all(F.coalesce(col, F.lit("")), F.lit(f"({PUNCT_PATTERN})"), 1)
    )


def stopword_count(col: Column, words: tuple[str, ...]) -> Column:
    """Count TOKENS equal to any word in ``words``: ASCII-alnum
    tokenization of the lowercased text, then set membership.

    Deliberately NOT the ``\\b(w1|w2)\\b`` regex form — Java's ``\\b``
    is Unicode-aware while RE2's is ASCII-only, so on accent-adjacent
    text they disagree ('kéy' word-bounds a Spanish 'y' for DuckDB but
    not for Spark; found by the r14 non-ASCII oracle sweep). Token
    membership uses the same ASCII token regex in both engines, so
    the count is engine-identical on ANY input, and on pure-ASCII
    text without underscore-adjacent words it equals the old
    word-bounded count (Java ``\\b`` treats '_' as a word character,
    so '_the_' was invisible to the old regex but IS a token here)."""
    wl = list(words)
    return F.size(F.filter(lower_tokens(col), lambda t: t.isin(wl)))


def quality_score(col: Column) -> Column:
    """Heuristic doc-quality score in [0,1]: favors texts with a healthy
    token count, low punctuation density, and some English stopwords.
    Deterministic arithmetic only — identical formula in the SQL oracle."""
    n_tok = token_count(col).cast("double")
    n_char = F.greatest(char_count(col).cast("double"), F.lit(1.0))
    punct_ratio = punct_count(col).cast("double") / n_char
    stop_ratio = stopword_count(col, STOPWORDS["en"]).cast("double") / F.greatest(
        n_tok, F.lit(1.0)
    )
    length_factor = F.least(n_tok / F.lit(100.0), F.lit(1.0))
    return F.round(length_factor * (1.0 - punct_ratio) * (0.5 + 0.5 * stop_ratio), 4)


def lang_id(col: Column) -> Column:
    """Stopword-vote language ID. Ties resolved by the fixed ladder
    en > de > fr > es; zero votes everywhere → 'und' (undetermined)."""
    counts = {lang: stopword_count(col, words) for lang, words in STOPWORDS.items()}
    best = F.greatest(*counts.values())
    expr = F.lit("und")
    # build the CASE ladder in reverse so earlier languages win ties
    for lang in reversed(list(STOPWORDS)):
        expr = F.when((counts[lang] > 0) & (counts[lang] == best), F.lit(lang)).otherwise(expr)
    return expr


def fingerprint(col: Column) -> Column:
    """Deterministic document fingerprint: md5 of the
    whitespace-normalized, lowercased text. md5 is bit-identical between
    Spark and DuckDB, so this is oracle-checkable (unlike xxhash/murmur,
    whose implementations differ)."""
    normalized = F.regexp_replace(F.lower(F.trim(F.coalesce(col, F.lit("")))), r"\s+", " ")
    return F.md5(normalized)


def rolling_fingerprint(col: Column) -> Column:
    """Polynomial rolling hash over the token stream (order-sensitive,
    unlike the md5 ``fingerprint`` of normalized text):

        h = fold(tokens, 0, (acc, t) -> (acc*31 + h32(t)) mod 2147483647)

    with h32(t) = first 8 hex digits of md5(t) as an integer. Values stay
    < 2^37 so the fold never overflows a 64-bit long in either engine.
    DuckDB twin: ``list_reduce(list_prepend(0, list_transform(...)))``.
    """
    return F.aggregate(
        lower_tokens(col),
        F.lit(0).cast("long"),
        lambda acc, t: (acc * 31 + md5_int(t, 8)) % 2147483647,
    )


# BPE-ish pre-tokenizer pattern: contraction suffixes, space-prefixed
# letter/digit runs, punctuation runs, whitespace — the GPT-2 pattern
# minus its negative lookahead (RE2, which DuckDB embeds, has no
# lookaround; this keeps the expression bit-identical across engines).
BPE_PATTERN = r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+|\s+"


def whitespace_token_count(col: Column) -> Column:
    """Tokens by whitespace split (the crudest count; 0 for empty)."""
    t = F.trim(F.coalesce(col, F.lit("")))
    return F.when(t == "", F.lit(0)).otherwise(F.size(F.split(t, r"\s+")))


def bpe_token_count(col: Column) -> Column:
    """BPE-ish pre-tokenization count — a cheap, deterministic proxy for
    LLM token budgets (real BPE merges only ever reduce this count)."""
    return F.size(
        F.regexp_extract_all(F.coalesce(col, F.lit("")), F.lit(f"({BPE_PATTERN})"), 1)
    )
