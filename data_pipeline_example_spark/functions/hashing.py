"""Deterministic md5-integer hashes and the sketch core built on them.

One definition on purpose: every integer the package derives from the
md5 of a key (sampling and split buckets, shard ids, hashed features,
KMV / HyperLogLog hashes, Count-Min and Bloom positions) is
:func:`md5_int` — the first ``n_hex`` hex digits of md5 of the
stringified key, as a long. The idiom is oracle-coupled: every DuckDB
twin spells the identical arithmetic (``('0x' || substr(md5(…), 1,
n))::BIGINT``), so a drift in one Python copy would silently break hash
parity for its oracle. md5 + substring + conv are the portable subset
both engines compute bit-identically (see functions/text.py for the
same reasoning on content hashes).

The sketches built on it share their estimator or bucket family here
too, so a batch operator and its stream twin cannot diverge:
:func:`kmv_estimate` (K-minimum values), :func:`hll_stage` with
:func:`_hll_params` (HyperLogLog registers, Flajolet et al. 2007) and
:func:`seeded_buckets` (Count-Min rows, Cormode & Muthukrishnan 2005,
and Bloom bit positions).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def md5_int(col: Column, n_hex: int) -> Column:
    """``int(md5(str(col))[:n_hex], 16)`` as a long (NULL for NULL):
    n_hex ≤ 15 keeps it non-negative. The cast to string folds away on
    a string column."""
    return F.conv(F.substring(F.md5(col.cast("string")), 1, n_hex), 16, 10).cast(
        "long"
    )


def hash_pct(col: Column) -> Column:
    """Deterministic 0..99 bucket from the stringified key: stable
    across runs, engines, partitionings, and cluster sizes — no RNG."""
    return md5_int(col, 4) % 100


def hash_frac(col: Column) -> Column:
    """Deterministic fraction in [0, 1) with 1/65536 granularity — the
    fine-grained twin of :func:`hash_pct` for fractional sampling rates
    (mixture materialization uses 4-dp rates that pct buckets would
    quantize away)."""
    return md5_int(col, 4).cast("double") / 65536.0


def seeded_buckets(col: Column, n: int, mod: int) -> Column:
    """Array of ``n`` seeded hashes of ``col`` into ``[0, mod)``: element
    i is ``md5_int(i || ':' || col, 8) % mod`` — the Count-Min row
    buckets and the Bloom bit positions, replayable in pure Python as
    ``int(md5(f"{i}:{x}")[:8], 16) % mod``."""
    return F.array(
        *[md5_int(F.concat(F.lit(f"{i}:"), col), 8) % mod for i in range(n)]
    )


def kmv_estimate(k: int) -> Column:
    """K-minimum-values distinct estimate over the sketch columns
    ``n_seen`` (distinct 48-bit hashes kept, ≤ k) and ``kth`` (the
    largest kept): the exact count when the sketch saw fewer than k
    hashes, else round((k − 1) · 2^48 / kth)."""
    return F.when(F.col("n_seen") < k, F.col("n_seen").cast("long")).otherwise(
        F.round(F.lit(float((k - 1) * (1 << 48))) / F.col("kth"), 0).cast("long")
    )


def _hll_params(p_bits: int) -> tuple[int, int, int]:
    """(m, suffix_width, alpha_milli) for a 36-bit-hash HLL at p_bits.

    Shared by ``operators.users.user_cardinality_hll`` and its streaming
    twin ``streaming.job.hll_cardinality_stream`` so the register split
    and bias constant can never diverge. alpha is the standard per-m bias
    correction (Flajolet et al. 2007): 0.673 / 0.697 / 0.709 for
    m = 16/32/64, 0.7213/(1 + 1.079/m) above, truncated to 3 digits.
    p_bits is bounded to [4, 16]: below 4 the per-m constants don't
    apply; above 16 the α·m²·2^(W+1) numerator leaves int64 range.
    """
    if not 4 <= p_bits <= 16:
        raise ValueError(f"p_bits must be in [4, 16], got {p_bits}")
    m = 1 << p_bits
    if m == 16:
        alpha_milli = 673
    elif m == 32:
        alpha_milli = 697
    elif m == 64:
        alpha_milli = 709
    else:
        alpha_milli = int(0.7213 / (1 + 1.079 / m) * 1000)
    return m, 36 - p_bits, alpha_milli


def hll_stage(rows: DataFrame, p_bits: int) -> DataFrame:
    """(event_type, bucket, rho) HyperLogLog staging of ``rows``
    (event_type, user_id): the first 9 hex digits of md5(user_id) give
    36 bits; the top ``p_bits`` select the register, the low
    W = 36 − p_bits bits feed ρ = (leading zeros) + 1, computed without
    floats as (W+1) − length(bin(suffix)) (bin() renders identically in
    Spark and DuckDB; suffix 0 pins ρ = W+1)."""
    _, w, _ = _hll_params(p_bits)
    suffix = rows.select(
        "event_type", md5_int(F.col("user_id"), 9).alias("hv")
    ).select(
        "event_type",
        F.expr(f"hv div {1 << w}").alias("bucket"),
        (F.col("hv") % F.lit(1 << w)).alias("suffix"),
    )
    return suffix.select(
        "event_type",
        "bucket",
        F.when(F.col("suffix") == 0, F.lit(w + 1))
        .otherwise(F.lit(w + 1) - F.length(F.bin(F.col("suffix"))))
        .alias("rho"),
    )
