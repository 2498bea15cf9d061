"""``functions.hashing``: the one md5-integer hash against its Python
definition, ``int(md5(str(x))[:n], 16)`` — the arithmetic every DuckDB
twin spells as ``('0x' || substr(md5(…), 1, n))::BIGINT``."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from data_pipeline_example_spark.functions.hashing import md5_int, seeded_buckets

_INTS = [0, 7, -42, 2**40 + 3, None]
_STRS = ["", "abc", "héllo wörld ✓", "日本語", None]


def _want(x, n: int):
    return None if x is None else int(hashlib.md5(str(x).encode()).hexdigest()[:n], 16)


def test_md5_int_matches_hashlib_prefix(spark):
    df = spark.createDataFrame(list(zip(_INTS, _STRS)), "i bigint, s string")
    widths = (4, 8, 9, 12)
    rows = df.select(
        "i",
        "s",
        *[md5_int(F.col(c), n).alias(f"{c}{n}") for c in ("i", "s") for n in widths],
    ).collect()
    assert len(rows) == len(_INTS)
    for r in rows:
        for c in ("i", "s"):
            for n in widths:
                assert r[f"{c}{n}"] == _want(r[c], n), (c, n, r[c])
    assert dict(df.select(md5_int(F.col("s"), 8).alias("h")).dtypes) == {"h": "bigint"}


def test_seeded_buckets_match_hashlib(spark):
    df = spark.createDataFrame([(s,) for s in _STRS], "s string")
    n, mod = 4, 1000
    for r in df.select("s", seeded_buckets(F.col("s"), n, mod).alias("b")).collect():
        if r["s"] is None:
            # concat with NULL is NULL: every position NULL, never a bucket
            assert r["b"] == [None] * n
        else:
            assert r["b"] == [_want(f"{i}:{r['s']}", 8) % mod for i in range(n)]
