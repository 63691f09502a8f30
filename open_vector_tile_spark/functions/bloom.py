"""Bloom-filter join pruning with engine-portable hashes.

The 100 TB problem: joining a petabyte fact table to a mid-sized dimension
(too big to broadcast as rows) shuffles the ENTIRE fact side, even though
only a sliver matches.  Spark's own answer is AQE runtime filters /
``spark.sql.optimizer.runtimeFilter.bloomFilter.enabled`` — engine-private,
like its HLL.  This module builds the same pruning structure portably:

* the filter is an m-bit bitset packed into m/64 int64 words, bit
  positions from k independent 32-bit slices of md5(key) — any engine
  reproduces it bit-for-bit (same family as sketch.py / sampling.py);
* it is built as ONE aggregation (explode k probes → bit_or per word →
  1-row map) and attached to the probe side as a broadcast cross join —
  the whole thing stays a lazy plan: no driver collect, no UDF, and the
  probe is a pure bit-arithmetic column expression;
* false positives only cost work (they are removed by the exact join that
  follows); false negatives are impossible — so the PRUNED join result
  equals the plain join exactly, which is precisely what the driver oracle
  `bloom_prune_join` checks against a plain DuckDB join.

Sizing: fp rate ≈ (1 - e^{-kn/m})^k; with m/n = 16 bits/key and k = 3
that's ~0.6%.  m is fixed at build time, so the broadcast payload is
m/64·8 bytes regardless of dimension cardinality.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_MAX_K = 4  # md5 yields 32 hex chars -> four independent 8-char slices


def _probe_pos_sql(key_col: str, m_bits: int, i: int) -> str:
    """SQL text of probe i's bit position (non-overlapping md5 slices).
    Expression strings (not Column objects) because shiftleft's bit-count
    argument must be literal in the Column API but may be a column in SQL."""
    return (
        f"(CAST(conv(substring(md5(CAST({key_col} AS STRING)), {1 + 8 * i}, 8),"
        f" 16, 10) AS BIGINT) % {m_bits})"
    )


def bloom_build(keys: DataFrame, key_col: str, m_bits: int = 1 << 16, k: int = 3) -> DataFrame:
    """ONE-ROW DataFrame ``(bloom: map<long,long>)`` — sparse word→bits map
    of the filter over ``keys``'s (deduplicated) ``key_col``.  Built with
    one explode + one bit_or aggregation; words with no set bit are absent
    (the probe treats absent as 0)."""
    if not 1 <= k <= _MAX_K:
        raise ValueError(f"k must be in [1, {_MAX_K}], got {k}")
    if m_bits % 64 or m_bits <= 0:
        raise ValueError(f"m_bits must be a positive multiple of 64, got {m_bits}")
    pos = F.explode(
        F.array(
            *[F.expr(_probe_pos_sql(key_col, m_bits, i)) for i in range(k)]
        )
    ).alias("_pos")
    words = (
        keys.where(F.col(key_col).isNotNull())
        .select(pos)
        .select(
            F.expr("_pos DIV 64").alias("_word"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(_pos % 64 AS INT))").alias("_bit"),
        )
        .groupBy("_word")
        .agg(F.bit_or("_bit").alias("_bits"))
    )
    return words.agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("_word", "_bits")))
        ).alias("bloom")
    )


def bloom_prune_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    m_bits: int = 1 << 16,
    k: int = 3,
) -> DataFrame:
    """Inner join ``left ⋈ right on key`` with the left side PRUNED by a
    bloom filter of the right side's keys before the shuffle.

    Identical rows to a plain inner join (false positives die in the exact
    join; false negatives cannot happen) — but the fact-side shuffle input
    shrinks to matching-ish rows only, the payoff when right is too big to
    broadcast as rows yet its m-bit filter is a few KB.

    Internals ride in underscore-prefixed columns (the filter map attaches
    as ``_bloom_bits``), so a user column named ``bloom`` on the left side
    survives untouched; the md5 of the key is computed ONCE per row and
    sliced per probe rather than re-hashed 2k times inside the predicate."""
    taken = set(left.columns)
    for c in ("_bloom_bits", "_bloom_md5"):
        if c in taken:
            raise ValueError(f"left side already has internal column {c!r}")
    filt = bloom_build(right.select(on), on, m_bits=m_bits, k=k).select(
        F.col("bloom").alias("_bloom_bits")
    )
    md5 = F.md5(F.col(on).cast("string"))
    probed = left.crossJoin(F.broadcast(filt)).withColumn("_bloom_md5", md5)
    conds = []
    for i in range(k):
        p = f"(CAST(conv(substring(_bloom_md5, {1 + 8 * i}, 8), 16, 10) AS BIGINT) % {m_bits})"
        conds.append(
            f"(coalesce(element_at(_bloom_bits, {p} DIV 64), CAST(0 AS BIGINT))"
            f" & shiftleft(CAST(1 AS BIGINT), CAST({p} % 64 AS INT))) != 0"
        )
    pruned = probed.where(F.expr(" AND ".join(conds))).drop(
        "_bloom_bits", "_bloom_md5"
    )
    return pruned.join(right, on=on, how="inner")
