"""Bloom-filter runtime join pruning: filter the FACT side of a join at
the scan, before its shuffle, using a compact bitmap built from the dim
side's join keys.

At 100 TB the dominant cost of ``fact JOIN dim ON fact.k = dim.k`` with a
selective dim is shuffling fact rows that can never match. A Bloom filter
built over the dim keys is a few KB of bitmap; embedding it in the fact
scan's filter drops most non-matching rows map-side, so the exchange
carries only (matches + false positives). This is the manual, inspectable
form of Spark's own AQE runtime bloom filter
(``spark.sql.optimizer.runtime.bloomFilter.enabled``) — built here as an
explicit operator so the pruning is deterministic, testable, and usable
from any query shape (the AQE rewrite only fires under specific join
patterns and thresholds).

Correctness contract: the bitmap test may pass non-members (false
positives) but NEVER rejects a member, so ``prefilter + exact join ≡
plain join`` — that equivalence IS the registered oracle, and the false
positive rate is ~(1 - e^{-kn/m})^k, sized below for <1% at the default
dim cardinalities.

Everything stays JVM-side: positions are ``xxhash64(key, seed)`` mod m
(whole-stage codegen), the bitmap build is one partial-aggregated
``bit_or`` groupBy over <= m/64 word rows, and the probe is a literal
array indexed with ``element_at`` + ``shiftright`` — no UDF, no
broadcast-join machinery on the probe path. The driver collects only the
bitmap words (<= m/64 longs, a few KB — tiny by design, like the meta
date list).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_M_BITS = 1 << 17  # 128 Ki bits = 2 KiB words -> <1% fpp at ~10k keys
DEFAULT_K = 5


def _positions(key: Column, m_bits: int, k: int) -> list[Column]:
    """k bit positions per key via Kirsch-Mitzenmacher double hashing:
    ``pos_i = (h1 + i*h2) & (m-1)`` — TWO xxhash64 evaluations however
    large k is (k independent hashes measured ~2x probe cost at 20M
    rows), with the same asymptotic fpp. m_bits must be a power of two
    so the mod is a bit mask (valid on the signed h sum: the mask keeps
    the low non-sign bits)."""
    assert m_bits & (m_bits - 1) == 0, "m_bits must be a power of two"
    mask = F.lit(m_bits - 1).cast("long")
    # mask BEFORE the linear combination: operands stay < m_bits, so the
    # sum never overflows under ANSI arithmetic (h1 + i*h2 on raw 64-bit
    # hashes throws ARITHMETIC_OVERFLOW); h2 forced odd for full-period
    # stepping over the power-of-two table
    h1 = F.xxhash64(key).bitwiseAND(mask)
    h2 = F.xxhash64(key, F.lit(1)).bitwiseAND(mask).bitwiseOR(F.lit(1).cast("long"))
    return [(h1 + F.lit(i) * h2).bitwiseAND(mask) for i in range(k)]


def bloom_bitmap(
    dim: DataFrame, key_col: str, m_bits: int = DEFAULT_M_BITS, k: int = DEFAULT_K
) -> list[int]:
    """Build the bitmap over ``dim[key_col]`` as m_bits/64 longs.

    Distributed: explode each key into its k positions, OR the
    single-bit words per 64-bit word index (map-side partial ``bit_or``),
    and collect the <= m_bits/64 non-zero words.
    """
    assert m_bits % 64 == 0
    pos = F.explode(F.array(*_positions(F.col(key_col), m_bits, k))).alias("pos")
    words = (
        dim.select(pos)
        .groupBy((F.col("pos") / 64).cast("int").alias("w"))
        # shiftleft's pyspark wrapper takes only a literal shift — use the
        # SQL form so the shift amount can be the pos column
        .agg(F.bit_or(F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))")).alias("bits"))
        .collect()
    )
    bitmap = [0] * (m_bits // 64)
    for r in words:
        bitmap[r["w"]] = r["bits"]
    return bitmap


def bloom_might_contain(
    key: Column,
    bitmap: "list[int] | Column",
    m_bits: int = DEFAULT_M_BITS,
    k: int = DEFAULT_K,
) -> Column:
    """Membership test column: true for every dim key (no false
    negatives), true for ~fpp of non-members.

    Pass the bitmap as a COLUMN (see :func:`with_bloom_bitmap`) on hot
    paths: a python list becomes a ``CreateArray`` literal with
    m_bits/64 child expressions, which codegen re-materializes PER ROW —
    measured 6x slower than the plain join at 20M rows. As a column from
    a one-row broadcast, the array is built once and ``element_at`` is
    a true O(1) lookup."""
    words = F.lit(bitmap) if isinstance(bitmap, list) else bitmap
    one = F.lit(1).cast("long")

    def _shiftright(word: Column, n: Column) -> Column:
        # pyspark's shiftright wrapper takes only a literal shift amount;
        # dividing by 2^n (exact for longs >= 0 after masking) would lose
        # the sign bit, so route through the SQL function instead
        return F.call_function("shiftright", word, n)

    cond = F.lit(True)
    for p in _positions(key, m_bits, k):
        # m is a power of two: word index = p >> 6, bit = p & 63 — pure
        # bit ops, no division in the per-row path
        word = F.element_at(words, F.shiftright(p, 6).cast("int") + 1)
        bit = _shiftright(word, p.bitwiseAND(F.lit(63)).cast("int")).bitwiseAND(one)
        cond = cond & (bit == one)
    return cond


def with_bloom_filter(
    fact: DataFrame,
    bitmap: list[int],
    fact_key: str,
    m_bits: int = DEFAULT_M_BITS,
    k: int = DEFAULT_K,
) -> DataFrame:
    """Filter ``fact`` to probable bitmap members.

    The bitmap ships as ONE row broadcast-joined onto the fact, so the
    array value materializes once per executor instead of once per row
    (a list-literal probe re-creates the m_bits/64-element array inside
    codegen for every row — the anti-path measured in BASELINE.md's
    "Bloom-pruning stress" section).
    """
    spark = fact.sparkSession
    bm_df = spark.createDataFrame([(bitmap,)], "__bloom_words array<bigint>")
    return (
        fact.join(F.broadcast(bm_df))
        .filter(
            bloom_might_contain(
                F.col(fact_key), F.col("__bloom_words"), m_bits, k
            )
        )
        .drop("__bloom_words")
    )


def bloom_pruned_join(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    m_bits: int = DEFAULT_M_BITS,
    k: int = DEFAULT_K,
) -> DataFrame:
    """``fact INNER JOIN dim`` with a dim-built Bloom pre-filter on the
    fact scan. Result is EXACTLY the plain inner join (the closing
    equi-join removes Bloom false positives); the pre-filter only thins
    the fact exchange. Inner only: the pre-filter drops every fact row
    whose key is not in the dim, which a left, full or anti join must keep.
    """
    bitmap = bloom_bitmap(dim, dim_key, m_bits, k)
    pruned = with_bloom_filter(fact, bitmap, fact_key, m_bits, k)
    return pruned.join(dim, pruned[fact_key] == dim[dim_key])
