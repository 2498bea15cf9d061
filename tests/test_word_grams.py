"""The text family's word rule and word-gram builder
(``functions.text.lower_tokens`` / ``word_grams``) against a plain
Python reference, on both sides of the builder's k = 4 / k = 5 form
switch."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_pipeline_example_spark.functions import text as T
from data_pipeline_example_spark.operators import dedup

KS = (1, 2, 3, 4, 5, 8, 50)


def _reference(toks: list[str], k: int) -> list[str]:
    return [" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)]


def _texts() -> list[str | None]:
    texts = [None, "", "   ", "to be or not to be " * 20, "a a a a a a a a a a"]
    # non-ASCII: accents split tokens, case folds, digits stay
    texts.append("Ünïcode naïve CAFÉ straße ß x9 Zürich " * 10)
    for k in KS:
        texts.append(" ".join(f"W{i}" for i in range(k - 1)))  # k-1 tokens
        texts.append(" ".join(f"w{i}" for i in range(k)))  # exactly k
        texts.append(" ".join(f"r{i % 3}" for i in range(k + 4)))  # repeats
    return texts


@pytest.fixture(scope="module")
def grams(spark):
    texts = _texts()
    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    rows = (
        docs.select("doc_id", T.lower_tokens(F.col("text")).alias("t"))
        .select("doc_id", "t", *[T.word_grams("t", k).alias(f"g{k}") for k in KS])
        .collect()
    )
    return docs, texts, {r["doc_id"]: r for r in rows}


def test_lower_tokens_is_the_ascii_word_rule(grams):
    _, texts, rows = grams
    assert rows[0]["t"] == [] and rows[1]["t"] == [] and rows[2]["t"] == []
    assert rows[5]["t"][:8] == ["n", "code", "na", "ve", "caf", "stra", "e", "x9"]
    assert all(rows[i]["t"] == texts[i].lower().split() for i in range(6, len(texts)))


@pytest.mark.parametrize("k", KS)
def test_word_grams_match_python_reference(grams, k):
    _, texts, rows = grams
    for doc_id, r in rows.items():
        got = r[f"g{k}"]
        assert got == _reference(r["t"], k), (k, texts[doc_id])
    # order and multiplicity kept: the repeated-token text
    reps = rows[4][f"g{k}"]
    assert reps == [" ".join(["a"] * k)] * max(10 - k + 1, 0)


def test_shingled_is_the_distinct_word_grams(grams):
    docs, _, rows = grams
    got = {r["doc_id"]: r["shingles"] for r in dedup.shingled(docs, 3).collect()}
    want = {
        d: list(dict.fromkeys(r["g3"])) for d, r in rows.items() if r["g3"]
    }
    assert got == want
