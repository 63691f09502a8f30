"""Deterministic sampling and dataset splitting for training-data pipelines.

At 100 TB, `rand()`-based sampling is a reproducibility bug: re-runs, retried
tasks, and different partitionings draw different rows.  Everything here is a
pure function of row CONTENT (md5 of a chosen key), so any two runs — any
cluster size, any partitioning, any engine — select exactly the same rows.

Mechanics: md5 yields fixed-width lowercase hex, so lexicographic comparison
of a hex prefix == numeric comparison of the top hash bits.  Thresholds are
computed in Python as hex strings and compared JVM-side (codegen string
compare, no UDF).  The same comparisons are expressible verbatim in any
engine with md5() — which is what makes these ops exactly oracle-checkable
against DuckDB (driver queries ``det_sample`` / ``dataset_split``).

Group-keyed splitting (e.g. key = url host) guarantees no train/test leakage:
every row of a group lands in the same split because the label depends only
on the group key's hash.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_PREFIX_CHARS = 8  # 32 bits of hash — plenty for percent-scale rates


def _threshold_hex(frac: float) -> str | None:
    """Hex string t such that P[md5_prefix < t] == round(frac * 2^32) / 2^32.

    Returns ``None`` for "keep everything": round(frac * 2^32) == 2^32 would
    format as the 9-char '100000000', and a lexicographic compare of an 8-char
    md5 prefix against a 9-char threshold is wrong (only prefixes starting
    with '0' sort below it).  Callers must treat None as an always-true band.
    """
    if not 0.0 <= frac <= 1.0:
        raise ValueError(f"frac must be in [0,1], got {frac}")
    n = int(round(frac * (1 << 32)))
    if n >= (1 << 32):
        return None
    return format(n, "08x")


def stable_frac_hex(key: Column) -> Column:
    """First 8 hex chars of md5(key) — the row's uniform draw, as hex.

    NULL keys hash a reserved marker instead of propagating NULL: without
    it, null-key rows would silently vanish from every rate<1 filter (the
    NULL comparison is never true) yet survive rate=1.0 — a discontinuity.
    With the marker they draw ONE deterministic verdict like any other
    constant key (all null-key rows sample together)."""
    return F.substring(
        F.md5(F.coalesce(key.cast("string"), F.lit("\x00<null-key>"))),
        1,
        _PREFIX_CHARS,
    )


def deterministic_sample(df: DataFrame, key: Column, rate: float) -> DataFrame:
    """Keep a ``rate`` fraction of rows, chosen by content hash of ``key``.

    Unlike ``df.sample()``: stable across runs/partitionings/retries, and
    consistent across tables (the same key always draws the same verdict, so
    sampling documents and their embeddings by doc_id keeps them aligned)."""
    thr = _threshold_hex(rate)
    if thr is None:  # rate rounds to 1.0 — keep all rows
        return df
    return df.filter(stable_frac_hex(key) < F.lit(thr))


def dataset_split(
    key: Column,
    weights: Sequence[float] = (0.8, 0.1, 0.1),
    labels: Sequence[str] = ("train", "val", "test"),
) -> Column:
    """Split label column from cumulative hash-threshold bands.

    ``key`` should be the leakage boundary: pass the url host
    rather than the url so all pages of a site share a split;
    pass a dedup-cluster id so near-duplicates never straddle train/test."""
    if len(weights) != len(labels):
        raise ValueError("weights and labels must align")
    total = float(sum(weights))
    h = stable_frac_hex(key)
    out = F.lit(labels[-1])
    acc = 0.0
    bands = []
    for w, lab in zip(weights[:-1], labels[:-1]):
        acc += w / total
        bands.append((_threshold_hex(acc), lab))
    # build from the last band backwards so earlier (smaller) thresholds win
    for thr, lab in reversed(bands):
        if thr is None:
            # cumulative weight reached 1.0 (e.g. trailing zero weights):
            # this band covers everything seen so far
            out = F.lit(lab)
        else:
            out = F.when(h < F.lit(thr), F.lit(lab)).otherwise(out)
    return out


def weighted_sample(
    df: DataFrame,
    k: int,
    weight: Column,
    key: Column,
) -> DataFrame:
    """Deterministic weighted sample WITHOUT replacement: the k rows with the
    largest u^(1/w), where u is the row's md5-uniform draw (Efraimidis &
    Spirakis 2006 — inclusion probability proportional to weight, exactly
    one pass, no mutable reservoir needed in a distributed setting).

    Adds a ``sample_score`` column (rounded to 6 decimals).  Rows with
    weight <= 0 can never be selected — they are filtered out before the
    top-k, so an under-full corpus returns FEWER than k rows rather than
    backfilling zero-weight ones.  Content-hash determinism as everywhere
    in this module: any partitioning, any engine, same k rows.

    Shape at 100 TB: Catalyst compiles orderBy+limit to
    TakeOrderedAndProject — per-partition top-k then a k-row driver merge;
    nothing resembling a global sort materializes."""
    u = (
        F.conv(stable_frac_hex(key), 16, 10).cast("double") + F.lit(0.5)
    ) / F.lit(float(1 << 32))
    w = weight.cast("double")
    score = F.when(w > 0, F.pow(u, F.lit(1.0) / w)).otherwise(F.lit(-1.0))
    return (
        df.withColumn("sample_score", score)
        .filter(F.col("sample_score") > 0)
        .orderBy(F.col("sample_score").desc(), key.asc())
        .limit(k)
        .withColumn("sample_score", F.round("sample_score", 6))
    )


def weighted_sample_per_group(
    df: DataFrame,
    k: int,
    weight: Column,
    key: Column,
    group_col: str,
) -> DataFrame:
    """Per-group deterministic weighted top-k (the data-mixing primitive:
    "sample k docs per language/domain, weighted by quality").  Same
    Efraimidis-Spirakis key as :func:`weighted_sample`, ranked inside each
    group with a row_number window — one shuffle on ``group_col``; skewed
    groups stay bounded because only k rows per group survive the rank
    filter (the window sorts within partitions, nothing global)."""
    from pyspark.sql import Window

    u = (
        F.conv(stable_frac_hex(key), 16, 10).cast("double") + F.lit(0.5)
    ) / F.lit(float(1 << 32))
    w = weight.cast("double")
    score = F.when(w > 0, F.pow(u, F.lit(1.0) / w)).otherwise(F.lit(-1.0))
    win = Window.partitionBy(group_col).orderBy(F.desc("sample_score"), key.asc())
    return (
        df.withColumn("sample_score", score)
        .filter(F.col("sample_score") > 0)
        .withColumn("_rn", F.row_number().over(win))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
        .withColumn("sample_score", F.round("sample_score", 6))
    )


def epoch_shuffle(
    df: DataFrame,
    key: Column,
    seed: int,
    out_col: str = "epoch_rank",
) -> DataFrame:
    """Deterministic per-epoch global shuffle order: every row gets a
    0-based position drawn by hashing (seed, key) — the dataloader
    primitive "same data, different reproducible order each epoch".

    The order is a pure function of (seed, key): independent of
    partitioning, cluster size, and engine (md5, like every sampler here).
    The rank is computed with :func:`~open_vector_tile_spark.operators.
    packing.global_rank` — a two-level decomposition whose only serial
    window sees one row per hash bucket (4096 total), so there is no
    global single-task sort at any scale.  Ties (48-bit hash collisions)
    break on the key itself, keeping the order total and reproducible."""
    from open_vector_tile_spark.operators.packing import global_rank

    h = F.conv(
        F.substring(F.md5(F.concat_ws(":", F.lit(int(seed)), key)), 1, 12), 16, 10
    ).cast("long")
    keyed = (
        df.withColumn("_eh", h)
        .withColumn("_ekey", key)
        # duplicate KEYS would leave (_eh, _ekey) tied and the rank
        # partition-order dependent; a full-row hash makes the order total
        # up to fully-identical rows (whose ranks are interchangeable)
        .withColumn("_erow", F.xxhash64(F.struct(*[F.col(c) for c in df.columns])))
        .withColumn("_ebkt", F.expr(f"CAST(_eh DIV {1 << 36} AS LONG)"))
    )
    return global_rank(keyed, ["_eh", "_ekey", "_erow"], "_ebkt", out_col=out_col).drop(
        "_eh", "_ebkt", "_ekey", "_erow"
    )



def mix_weights(
    df: DataFrame,
    *,
    group_col: str = "source",
    alpha: float = 0.5,
) -> DataFrame:
    """Temperature-scaled data-mixing weights (the UniMax/multilingual-
    sampling recipe): per-group share ``p_i = n_i / N``, tempered weight
    ``w_i = p_i^alpha / sum_j p_j^alpha``, and the sampling ``boost =
    w_i / p_i`` a pipeline multiplies into per-group keep rates —
    alpha < 1 up-samples small sources, alpha = 1 is proportional.

    -> ``(group, n, p, w, boost)``.  Determinism: with the default
    ``alpha = 0.5`` the power is ONE IEEE sqrt (correctly rounded in any
    engine); the normalizer is the repo's order-deterministic sorted fold
    (DuckDB twin ``sum(x ORDER BY x)``), so every double replays
    bit-for-bit.  Other alphas go through pow(), whose low bits are
    implementation-defined — documented, compare ranks or round there.

    Plan: one partial-agg count per group, one 1-row normalizer broadcast
    back — group-cardinality rows only.
    """
    if alpha <= 0:
        raise ValueError(f"alpha must be > 0, got {alpha}")
    from ..operators.graph import _fold_sum

    counts = df.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    tot = counts.agg(
        F.sum("n").cast("double").alias("_N"),
    )
    base = counts.crossJoin(F.broadcast(tot)).withColumn(
        "p", F.col("n").cast("double") / F.col("_N")
    )
    s = (
        F.sqrt(F.col("p"))
        if float(alpha) == 0.5
        else F.pow(F.col("p"), F.lit(float(alpha)))
    )
    scored = base.withColumn("_s", s)
    z = scored.agg(_fold_sum(F.col("_s")).alias("_Z"))
    out = scored.crossJoin(F.broadcast(z))
    return out.select(
        group_col,
        "n",
        "p",
        (F.col("_s") / F.col("_Z")).alias("w"),
        (F.col("_s") / F.col("_Z") / F.col("p")).alias("boost"),
    )
