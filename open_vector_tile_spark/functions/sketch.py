"""KMV (k-minimum-values) distinct-cardinality sketch.

Why not ``approx_count_distinct``: Spark's HLL++ is engine-private — its
estimate cannot be reproduced by any other engine, so it can't be
oracle-checked, and its sketch bytes can't be handed to a non-Spark reader.
KMV over an md5-derived hash is *deterministic and portable*: any engine
with ``md5()`` produces bit-identical sketches and estimates (DuckDB:
``CAST('0x' || substring(md5(x), 1, 12) AS BIGINT)``), which is what lets
the driver hash-compare this operator against a DuckDB twin.

The sketch per group is the set of the k smallest distinct 48-bit hashes.
Estimator (Beyer et al., "On Synopses for Distinct-Value Estimation Under
Multiset Operations", SIGMOD'07): with m = #distinct hashes seen,

    est = m                          if m < k   (sketch is exhaustive: exact)
    est = (k-1) * 2^48 DIV h_(k)     otherwise  (h_(k) = k-th smallest hash)

All-integer math, so Spark and DuckDB agree to the bit.

Scale design (100 TB): a per-group min-k is an order statistic, which a
naive ``row_number() OVER (PARTITION BY g ORDER BY h)`` computes with one
full sort of ALL distinct hashes of each group — a single straggler task
when one group dominates.  The plan here is the standard two-level top-k
decomposition:

1. map-side-partial dedup of (group, hash) — the only full-data shuffle;
2. level 1: min-k within (group, hash % fanout) — ``fanout`` parallel sorted
   groups per logical group, each seeing ~1/fanout of the hashes;
3. level 2: min-k over the survivors — at most fanout*k rows per group.

Every global minimum survives level 1 (it is a minimum of its own subgroup),
so the composition is exactly the single-level result — pinned by test.
Sketches are mergeable (union the hash sets, re-take the k smallest), so
partial sketches from independent jobs / streaming micro-batches combine
without rescanning, same as any partial aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

KMV_BITS = 48
KMV_SPACE = 1 << KMV_BITS  # hash space size; 12 md5 hex chars


def kmv_hash(item) -> F.Column:
    """Uniform 48-bit hash from the md5 hex prefix — bit-identical in any
    engine with md5() (12 hex chars keep (k-1)*2^48 inside int64)."""
    return F.conv(F.substring(F.md5(item), 1, 12), 16, 10).cast("long")


def kmv_min_hashes(
    df: DataFrame,
    group_cols: list[str],
    item_col: str,
    k: int = 64,
    fanout: int = 16,
) -> DataFrame:
    """The sketch itself: per group, the k smallest distinct ``kmv_hash``
    values of ``item_col`` as rows ``(*group_cols, _h, _rn)`` with ``_rn``
    the 1-based rank.  Two-level plan per the module docstring."""
    if not 1 <= k <= 32768:
        # (k-1) * 2^48 must stay inside int64 for the estimator literal
        raise ValueError(f"k must be in [1, 32768], got {k}")
    hashes = (
        df.where(F.col(item_col).isNotNull())
        .select(*group_cols, kmv_hash(F.col(item_col)).alias("_h"))
        .distinct()
    )
    lvl1 = (
        hashes.withColumn("_sub", F.pmod(F.col("_h"), F.lit(int(fanout))))
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy(*group_cols, "_sub").orderBy("_h")
            ),
        )
        .where(F.col("_rn") <= k)
        .drop("_sub", "_rn")
    )
    return lvl1.withColumn(
        "_rn", F.row_number().over(Window.partitionBy(*group_cols).orderBy("_h"))
    ).where(F.col("_rn") <= k)


def kmv_distinct(
    df: DataFrame,
    group_cols: list[str],
    item_col: str,
    k: int = 64,
    fanout: int = 16,
) -> DataFrame:
    """-> one row per group: ``n_kept`` (min(k, m) hashes retained),
    ``kth_min`` (the largest retained hash) and ``est_distinct``.

    Exact below k distincts, ~1/sqrt(k) relative error above.  ``k`` is
    capped at 32768 so the (k-1)*2^48 estimator literal stays in int64."""
    mins = kmv_min_hashes(df, group_cols, item_col, k=k, fanout=fanout)
    return kmv_estimate(mins, group_cols, k=k)


def kmv_estimate(mins: DataFrame, group_cols: list[str], k: int) -> DataFrame:
    """Estimator over a sketch table (``kmv_min_hashes`` / ``kmv_merge``
    output): -> (*group_cols, n_kept, kth_min, est_distinct)."""
    agg = mins.groupBy(*group_cols).agg(
        F.count("_h").alias("n_kept"), F.max("_h").alias("kth_min")
    )
    # greatest(kth,1): md5 prefix 0 is ~2^-48 improbable but DIV 0 is null
    est = F.when(F.col("n_kept") < k, F.col("n_kept")).otherwise(
        F.expr(f"CAST(({k - 1} * {KMV_SPACE}) DIV greatest(kth_min, 1) AS LONG)")
    )
    return agg.select(
        *group_cols, "n_kept", "kth_min", est.cast("long").alias("est_distinct")
    )


# ---------------------------------------------------------------------------
# HyperLogLog (portable registers, integer harmonic sum)
# ---------------------------------------------------------------------------
#
# Same portability rule as KMV: Spark's approx_count_distinct HLL++ is
# engine-private, so this is an HLL whose REGISTERS are reproducible in any
# engine with md5():
#
#   h      = 48-bit md5-prefix hash            (kmv_hash)
#   bucket = top p bits        = h DIV 2^(48-p)
#   w      = low 48-p bits     = h  %  2^(48-p)
#   rho    = leading zeros of w within 48-p bits, + 1
#          = (48-p) - (length(bin(w)) - 1)     for w > 0   [bin: no libm!]
#          = 48-p+1                            for w = 0
#   register[bucket] = max(rho)
#
# The harmonic mean is kept in INTEGERS: with K = 49-p >= max rho,
#   S = sum_j 2^(K - r_j)   (absent buckets contribute r_j = 0, i.e. 2^K)
# fits int64 (m * 2^K <= 2^49), so S is bit-identical across engines; the
# single float step is the final alpha*m^2*2^K / S division (IEEE-exact) and
# the ln() in the standard small-range linear-counting correction (rounded
# to 4 decimals in both engines).  Flajolet et al. 2007 + the bias rules of
# Heule et al. 2013 (small-range only; 48-bit hashes make the large-range
# correction unnecessary below ~10^13 distincts).

HLL_BITS = KMV_BITS  # registers derive from the same 48-bit portable hash


def _hll_alpha(m: int) -> float:
    if m >= 128:
        return 0.7213 / (1 + 1.079 / m)
    return {16: 0.673, 32: 0.697, 64: 0.709}[m]


def hll_registers(
    df: DataFrame, group_cols: list[str], item_col: str, p: int = 12
) -> DataFrame:
    """Per-group HLL register table ``(*group_cols, _j, _r)`` — at most
    2^p rows per group (bounded state), one partial-agg shuffle.  Mergeable
    by register-wise max."""
    if not 4 <= p <= 14:
        raise ValueError(f"p must be in [4, 14], got {p}")
    wbits = HLL_BITS - p
    h = kmv_hash(F.col(item_col))
    src = df.where(F.col(item_col).isNotNull()).select(
        *group_cols,
        F.shiftright(h, wbits).alias("_j"),
        (h % F.lit(1 << wbits)).alias("_w"),
    )
    rho = F.when(
        F.col("_w") == 0, F.lit(wbits + 1)
    ).otherwise(F.lit(wbits + 1) - F.length(F.bin(F.col("_w"))))
    return (
        src.withColumn("_r", rho.cast("int"))
        .groupBy(*group_cols, "_j")
        .agg(F.max("_r").alias("_r"))
    )


def hll_estimate(
    regs: DataFrame, group_cols: list[str], p: int = 12
) -> DataFrame:
    """Estimator over a register table: -> ``(*group_cols, n_buckets,
    harmonic_sum, est_distinct)``.  ``harmonic_sum`` is the exact int64
    S above — the oracle anchor; ``est_distinct`` rounds to 4 decimals."""
    m = 1 << p
    k_shift = HLL_BITS - p + 1  # K = 49-p >= max rho
    alpha_num = _hll_alpha(m) * m * m * float(1 << k_shift)
    agg = regs.groupBy(*group_cols).agg(
        F.count("_j").alias("n_buckets"),
        F.sum(F.expr(f"CAST(pow(2.0, {k_shift} - _r) AS LONG)")).alias("_s_present"),
    )
    s = (
        (F.lit(m).cast("long") - F.col("n_buckets")) * F.lit(1 << k_shift)
        + F.col("_s_present")
    ).alias("harmonic_sum")
    est_raw = F.lit(alpha_num) / F.col("harmonic_sum").cast("double")
    v = F.lit(m) - F.col("n_buckets")  # zero registers
    lc = F.lit(float(m)) * F.log(F.lit(float(m)) / v.cast("double"))
    est = F.when((v > 0) & (est_raw <= F.lit(2.5 * m)), lc).otherwise(est_raw)
    return agg.select(*group_cols, "n_buckets", s).select(
        *group_cols,
        "n_buckets",
        "harmonic_sum",
        F.round(est, 4).alias("est_distinct"),
    )


def hll_distinct(
    df: DataFrame, group_cols: list[str], item_col: str, p: int = 12
) -> DataFrame:
    """Per-group portable-HLL distinct estimate (~1.04/sqrt(2^p) relative
    error).  Register build + estimate; both halves reproducible verbatim
    in DuckDB (driver oracle `hll_distinct`)."""
    return hll_estimate(hll_registers(df, group_cols, item_col, p=p), group_cols, p=p)


def kmv_set_ops(
    mins_a: DataFrame,
    mins_b: DataFrame,
    group_cols: list[str],
    k: int = 64,
) -> DataFrame:
    """Distinct-set algebra from two KMV sketches (Beyer et al. SIGMOD'07
    multiset operations): per group —

    * ``est_union``     — estimator over the merged min-k sketch;
    * ``match_k``       — of the union's min-k hashes, how many appear in
      BOTH input sketches (each is a uniform sample of its set, and the
      union min-k is a uniform sample of A∪B, so match_k/n_kept is an
      unbiased Jaccard estimator);
    * ``jaccard_est``   — match_k / n_kept (rounded 6);
    * ``est_intersection`` — integer ``(match_k * est_union) DIV n_kept``.

    Everything after the min-k windows is joins + integer math — the
    driver oracle `kmv_jaccard` reproduces it verbatim in SQL."""
    union = kmv_merge(mins_a, mins_b, group_cols, k=k)
    est_u = kmv_estimate(union, group_cols, k=k)
    both = (
        union.join(mins_a.select(*group_cols, "_h"), group_cols + ["_h"], "semi")
        .join(mins_b.select(*group_cols, "_h"), group_cols + ["_h"], "semi")
        .groupBy(*group_cols)
        .agg(F.count("_h").alias("match_k"))
    )
    j = est_u.join(both, group_cols, "left").fillna({"match_k": 0})
    return j.select(
        *group_cols,
        "n_kept",
        "match_k",
        F.col("est_distinct").alias("est_union"),
        F.round(F.col("match_k") / F.col("n_kept"), 6).alias("jaccard_est"),
        F.expr("CAST((match_k * est_distinct) DIV n_kept AS LONG)").alias(
            "est_intersection"
        ),
    )


# ---------------------------------------------------------------------------
# Count-min sketch (portable md5-slice rows)
# ---------------------------------------------------------------------------
#
# Frequency estimation in bounded space (Cormode & Muthukrishnan 2005):
# depth d rows × width w counters; item increments counter[h_i(item) % w]
# in every row; a point estimate is the MIN over rows — always >= the true
# count, over by at most ~2N/w with prob 1-2^-d.  Hashes are the same
# non-overlapping md5 slices as functions/bloom.py, so any engine
# reproduces every counter (driver oracle `cms_topk`).  Counters are a
# partial aggregate: shard sketches merge by counter-wise SUM.

_CMS_MAX_DEPTH = 4  # md5 = 32 hex chars -> four 8-char slices


def _cms_pos(item, width: int, i: int):
    h = F.md5(item.cast("string"))
    return F.conv(F.substring(h, 1 + 8 * i, 8), 16, 10).cast("long") % width


def cms_counters(
    df: DataFrame,
    item_col: str,
    width: int = 1 << 12,
    depth: int = 4,
    weight_col: str | None = None,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Counter table ``(*group_cols, _row, _bucket, _cnt)`` — ≤ depth·width
    rows per group (bounded state), built with one explode + one
    partial-agg shuffle."""
    if not 1 <= depth <= _CMS_MAX_DEPTH:
        raise ValueError(f"depth must be in [1, {_CMS_MAX_DEPTH}], got {depth}")
    group_cols = list(group_cols or [])
    w = F.col(weight_col).cast("long") if weight_col else F.lit(1).cast("long")
    probes = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).alias("_row"),
                    _cms_pos(F.col(item_col), width, i).alias("_bucket"),
                )
                for i in range(depth)
            ]
        )
    ).alias("_p")
    return (
        df.where(F.col(item_col).isNotNull())
        .select(*group_cols, probes, w.alias("_w"))
        .select(
            *group_cols,
            F.col("_p._row").alias("_row"),
            F.col("_p._bucket").alias("_bucket"),
            F.col("_w"),
        )
        .groupBy(*group_cols, "_row", "_bucket")
        .agg(F.sum("_w").alias("_cnt"))
    )


def cms_estimate(
    counters: DataFrame,
    queries: DataFrame,
    item_col: str,
    width: int = 1 << 12,
    depth: int = 4,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Point estimates for ``queries``'s items: min over the d probed
    counters (absent counter = 0).  The counter table is depth·width rows —
    broadcast it; the probe side stays shuffle-free."""
    group_cols = list(group_cols or [])
    probes = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).alias("_row"),
                    _cms_pos(F.col(item_col), width, i).alias("_bucket"),
                )
                for i in range(depth)
            ]
        )
    ).alias("_p")
    q = queries.select(*group_cols, item_col, probes).select(
        *group_cols,
        item_col,
        F.col("_p._row").alias("_row"),
        F.col("_p._bucket").alias("_bucket"),
    )
    joined = q.join(F.broadcast(counters), group_cols + ["_row", "_bucket"], "left")
    return (
        joined.withColumn("_c", F.coalesce(F.col("_cnt"), F.lit(0).cast("long")))
        .groupBy(*group_cols, item_col)
        .agg(F.min("_c").alias("est_count"))
    )


def kmv_merge(sketch_a: DataFrame, sketch_b: DataFrame, group_cols: list[str], k: int = 64) -> DataFrame:
    """Merge two ``kmv_min_hashes`` sketch tables (union of hash sets,
    re-take the k smallest) — the multiset-union property that makes the
    sketch a partial aggregate: shard-level sketches combine without
    rescanning the shards."""
    both = sketch_a.select(*group_cols, "_h").unionByName(
        sketch_b.select(*group_cols, "_h")
    ).distinct()
    return both.withColumn(
        "_rn", F.row_number().over(Window.partitionBy(*group_cols).orderBy("_h"))
    ).where(F.col("_rn") <= k)


# ---------------------------------------------------------------------------
# Fixed-grid histogram quantiles (mergeable, engine-portable)
# ---------------------------------------------------------------------------
#
# Why not approx_percentile: Spark's GK/KLL variant is engine-private (same
# reason the sketches above avoid HLL++) — its estimate can't be reproduced
# by another engine, so it can't be oracle-checked and its state can't be
# handed off.  A fixed [lo, hi) grid of n_bins equal-width bins IS portable:
# the bin id is one floor() both engines compute identically, the per-bin
# counts are exact integers, and the quantile readout (cumulative counts +
# linear interpolation inside the crossing bin) is deterministic IEEE math.
# Error bound: an estimate is off by at most one bin width (hi-lo)/n_bins —
# chosen a priori, unlike GK's rank-relative bound, but mergeable across
# shards/micro-batches by plain counter addition and exactly
# reproducible anywhere.


def hist_bin_counts(
    df: DataFrame,
    group_cols: list[str],
    val_col: str,
    lo: float,
    hi: float,
    n_bins: int = 128,
) -> DataFrame:
    """Per-group bin-count table ``(*group_cols, _bin, _cnt)`` — ≤ n_bins
    rows per group (bounded state), one partial-agg shuffle.  Values are
    clamped into [lo, hi): out-of-range rows land in the edge bins, so no
    data is dropped (the estimate degrades only at the clamped tails)."""
    if not hi > lo:
        raise ValueError(f"need hi > lo, got [{lo}, {hi})")
    v = F.col(val_col).cast("double")
    raw = F.floor((v - F.lit(float(lo))) * F.lit(float(n_bins)) / F.lit(float(hi - lo)))
    b = F.greatest(F.lit(0), F.least(F.lit(int(n_bins) - 1), raw)).cast("int")
    return (
        df.where(v.isNotNull())
        .select(*group_cols, b.alias("_bin"))
        .groupBy(*group_cols, "_bin")
        .agg(F.count(F.lit(1)).alias("_cnt"))
    )


def hist_quantiles(
    counts: DataFrame,
    group_cols: list[str],
    qs: list[float],
    lo: float,
    hi: float,
    n_bins: int = 128,
) -> DataFrame:
    """Quantile readout over a bin-count table: -> ``(*group_cols, q,
    est)``, one row per group per requested quantile.

    Rank rule: target = max(1, ceil(q*N)); the estimate interpolates
    linearly inside the first bin whose cumulative count reaches the
    target.  The cumulative window runs PER GROUP over ≤ n_bins rows — no
    global sort anywhere."""
    width = (float(hi) - float(lo)) / int(n_bins)
    wg = (
        Window.partitionBy(*group_cols)
        .orderBy("_bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    c = counts.withColumn("_cum", F.sum("_cnt").over(wg)).withColumn(
        "_tot",
        F.sum("_cnt").over(
            Window.partitionBy(*group_cols).rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ),
    )
    qlit = F.explode(
        F.array(*[F.lit(float(q)).alias("q") for q in qs])
    ).alias("q")
    cq = c.select(*group_cols, "_bin", "_cnt", "_cum", "_tot", qlit)
    target = F.greatest(F.lit(1).cast("long"), F.ceil(F.col("q") * F.col("_tot")))
    hit = cq.where(
        (F.col("_cum") >= target) & ((F.col("_cum") - F.col("_cnt")) < target)
    )
    est = (
        F.lit(float(lo))
        + (
            F.col("_bin").cast("double")
            + (target - (F.col("_cum") - F.col("_cnt"))).cast("double")
            / F.col("_cnt").cast("double")
        )
        * F.lit(width)
    )
    return hit.select(*group_cols, "q", F.round(est, 6).alias("est"))
