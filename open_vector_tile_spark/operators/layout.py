"""Z-order (Morton) data layout: spatial-locality clustering for writes.

At 100 TB the cheapest query accelerator is the file layout itself: if rows
are written in Z-order on (x, y), every parquet row group covers a compact
spatial rectangle, so its lon/lat min/max footer stats exclude it from any
bbox query that misses the rectangle — data skipping at the scan, before a
single byte of the row group is read.  This is the same trick as
Delta/Iceberg ``OPTIMIZE ZORDER BY``, expressed with stock DataFrame ops:

    repartitionByRange(zorder_key)   global range partition on the key
    sortWithinPartitions(zorder_key) contiguous Z-runs inside each file

The key itself is the 2D Morton interleave (reference spec:
``src/util.ts:56-66`` weave2d; numpy twin ``codec/kernels.py:weave2d``)
built from pure Spark bit expressions — shiftleft/and/or chains that
whole-stage codegen compiles to JVM longs.  No Python anywhere in the
write path, and the key arithmetic is engine-portable integer math, so the
driver oracle reproduces it bit-for-bit in SQL.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# part1by1 mask schedule: spread 16 bits to even positions of 32
_SPREAD = (
    (8, 0x00FF00FF),
    (4, 0x0F0F0F0F),
    (2, 0x33333333),
    (1, 0x55555555),
)


def spread_bits16(c: Column) -> Column:
    """16-bit int -> bits at even positions of a 32-bit value (part1by1;
    kernels.py:_part1by1 is the numpy twin, pinned equal by test)."""
    x = c.cast("long").bitwiseAND(F.lit(0xFFFF))
    for shift, mask in _SPREAD:
        x = (x.bitwiseOR(F.shiftleft(x, shift))).bitwiseAND(F.lit(mask))
    return x


def zorder_key(x: Column, y: Column) -> Column:
    """Morton key of two 16-bit grid coordinates (y in the odd bits),
    matching ``codec.kernels.weave2d(x, y)``."""
    return spread_bits16(x).bitwiseOR(F.shiftleft(spread_bits16(y), 1)).cast("long")


# ---------------------------------------------------------------------------
# bucketed tables: shuffle-free co-located joins
# ---------------------------------------------------------------------------


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list,
    num_buckets: int,
    sort_cols: list | None = None,
) -> None:
    """Persist ``df`` as a Hive-bucketed parquet table: rows are hash-
    partitioned into ``num_buckets`` files on ``bucket_cols`` at WRITE
    time, optionally sorted inside each bucket.

    This is the other half of the layout story next to Z-order: Z-order
    buys scan-time data SKIPPING, bucketing buys join-time shuffle
    ELIMINATION.  Two tables bucketed the same way on the join key
    sort-merge-join with ZERO Exchange — at 100 TB that's the difference
    between re-shuffling a petabyte per join and reading co-located
    buckets; the one-time bucketed write amortizes across every
    subsequent join/aggregation on the key (the classic fact/dim
    pre-bucketing pattern).  Plan-pinned by test_layout's zero-Exchange
    assertion and driver-oracled end-to-end by `bucketed_join`."""
    spark = df.sparkSession
    # mode('overwrite') only replaces tables the CURRENT catalog knows; a
    # previous session's managed-table directory survives the in-memory
    # catalog and fails the CREATE with LOCATION_ALREADY_EXISTS — drop the
    # entry and clear the orphaned location explicitly.  Quote each name
    # PART separately (backticking the whole of "db.tbl" would make it one
    # identifier and miss the real table); resolve the orphan directory
    # with the warehouse's db-suffix layout, and only sweep local paths
    # (an object-store warehouse has no local directory to clear).
    parts = table.split(".")
    quoted = ".".join(f"`{p}`" for p in parts)
    spark.sql(f"DROP TABLE IF EXISTS {quoted}")
    wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    if wh.startswith("file:") or "://" not in wh:
        loc = wh[5:] if wh.startswith("file:") else wh
        rel = (
            f"{parts[0].lower()}.db/{parts[1].lower()}"
            if len(parts) == 2
            else table.lower()
        )
        import shutil

        shutil.rmtree(f"{loc.rstrip('/')}/{rel}", ignore_errors=True)
    writer = (
        df.write.format("parquet")
        .mode("overwrite")
        .bucketBy(int(num_buckets), *bucket_cols)
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def bucketed_join(spark, table_a: str, table_b: str, on: list) -> DataFrame:
    """Inner join of two same-bucketed tables on the bucket key.  With
    broadcast disabled this compiles to a SortMergeJoin whose BOTH sides
    read bucketed scans — no Exchange anywhere in the plan."""
    return spark.table(table_a).join(spark.table(table_b), on=on, how="inner")


def global_rank(
    df: DataFrame,
    order_cols: list[str],
    *,
    rank_col: str = "_rank",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact 0-based global rank by ``order_cols`` WITHOUT the classic
    scale-killer (an unpartitioned row_number window funnels the whole
    table through one task).  The distributed-ranking pattern instead:

    1. range-repartition + sort within partitions on the order key
       (partition i's keys all precede partition i+1's);
    2. per-partition row counts to the driver (P integers);
    3. rank = cumulative offset of the partition + local row_number.

    The order key must be total (append a unique id column to break
    ties) — with ties straddling a range boundary the rank would depend
    on the sampled boundaries.  Result is identical to
    ``row_number() OVER (ORDER BY ...) - 1`` at any scale.
    """
    from pyspark.sql import Window

    p = num_partitions or max(2, df.sparkSession.sparkContext.defaultParallelism)
    d = (
        df.repartitionByRange(p, *[F.col(c) for c in order_cols])
        .sortWithinPartitions(*order_cols)
        .withColumn("_pid", F.spark_partition_id())
    )
    # pin the (sampled, hence run-specific) range partitioning so the
    # counts job and the rank job read the SAME layout
    d = d.localCheckpoint(eager=False)
    counts = d.groupBy("_pid").count().collect()
    offs: dict[int, int] = {}
    acc = 0
    for r in sorted(counts, key=lambda r: r["_pid"]):
        offs[int(r["_pid"])] = acc
        acc += int(r["count"])
    if offs:
        mapping = F.create_map(
            *[x for pid, off in offs.items() for x in (F.lit(pid), F.lit(off))]
        )
        off_col = mapping[F.col("_pid")]
    else:
        off_col = F.lit(0)
    w = Window.partitionBy("_pid").orderBy(*[F.col(c) for c in order_cols])
    return d.withColumn(
        rank_col, (F.row_number().over(w) - 1 + off_col).cast("long")
    ).drop("_pid")


def str_pack(
    rects: DataFrame,
    *,
    leaf_capacity: int,
    id_col: str = "rid",
    xmin_col: str = "xmin",
    ymin_col: str = "ymin",
    xmax_col: str = "xmax",
    ymax_col: str = "ymax",
) -> DataFrame:
    """Sort-Tile-Recursive R-tree bulk packing (Leutenegger et al. 1997)
    -> every rectangle assigned to a spatially coherent leaf page:
    ``(*, slice, leaf_id, leaf_xmin..leaf_ymax, n_in_leaf)``.

    The third member of the layout-lever family (the Z-order and Hilbert
    keys cluster scan ranges, write_bucketed kills the join shuffle,
    str_pack builds the R-tree leaves a spatial index stores): sort by center-x into
    vertical slices of ~sqrt(N/cap) columns, sort each slice by center-y,
    cut runs of ``leaf_capacity`` — leaves come out near-square with
    minimal MBR overlap, the property bulk loading is for.

    Scale shape: the x-ordering uses :func:`global_rank` (range
    repartition + offsets — no single-partition window); the y-ordering
    windows are PARTITIONED by slice.  All assignment arithmetic is
    integer (rank divisions), so the twin replays it exactly.
    """
    if leaf_capacity < 1:
        raise ValueError(f"leaf_capacity must be >= 1, got {leaf_capacity}")
    import math as _m

    from pyspark.sql import Window

    n = rects.count()
    if n == 0:
        raise ValueError("str_pack: empty input")
    n_leaves = _m.ceil(n / leaf_capacity)
    n_slices = _m.ceil(_m.sqrt(n_leaves))
    slice_rows = _m.ceil(n / n_slices)
    leaves_per_slice = _m.ceil(slice_rows / leaf_capacity)

    cx = (F.col(xmin_col) + F.col(xmax_col)) / F.lit(2.0)
    cy = (F.col(ymin_col) + F.col(ymax_col)) / F.lit(2.0)
    d = rects.withColumn("_cx", cx).withColumn("_cy", cy)
    d = global_rank(d, ["_cx", id_col], rank_col="_rx")
    # `div` = exact integer division (Spark's `/` on integers is DOUBLE
    # division — at 10^12 ranks the rounding could cross a boundary)
    d = d.withColumn("slice", F.expr(f"_rx div {int(slice_rows)}"))
    wy = Window.partitionBy("slice").orderBy("_cy", id_col)
    d = d.withColumn("_ry", (F.row_number().over(wy) - 1).cast("long"))
    d = d.withColumn(
        "leaf_id",
        F.col("slice") * F.lit(int(leaves_per_slice))
        + F.expr(f"_ry div {int(leaf_capacity)}"),
    ).drop("_ry")
    wl = Window.partitionBy("leaf_id")
    return d.select(
        id_col,
        "slice",
        "leaf_id",
        F.min(xmin_col).over(wl).alias("leaf_xmin"),
        F.min(ymin_col).over(wl).alias("leaf_ymin"),
        F.max(xmax_col).over(wl).alias("leaf_xmax"),
        F.max(ymax_col).over(wl).alias("leaf_ymax"),
        F.count(F.lit(1)).over(wl).cast("long").alias("n_in_leaf"),
    )


# ---------------------------------------------------------------------------
# Hilbert-curve layout: strictly better locality than Z-order
# ---------------------------------------------------------------------------
#
# Z-order's weakness at 100 TB is its discontinuities: every power-of-two
# boundary jumps across the whole grid, so a bbox maps to MANY key ranges
# and row-group stats pruning degrades near those seams.  The Hilbert curve
# is continuous — consecutive keys are always grid neighbors — so a bbox
# covers fewer, longer key runs and parquet min/max skipping excludes more
# row groups for the same sort.  (Same reason Delta Lake added HILBERT as
# the preferred OPTIMIZE ZORDER strategy and S2/H3 cell ids are Hilbert-
# based; the reference's own S2 ids — src/geometry/s2/point.ts — ride the
# Hilbert curve on each cube face.)
#
# Mechanics: the classic per-level rotate/flip walk (Wikipedia xy2d).  The
# SAME per-level recipe emits BOTH the Spark plan and the DuckDB oracle
# CTEs (`_hilbert_level_case` below), so the two engines cannot drift.  On
# the Spark side each level is its own projection stage: the level's x/y
# CASE uses the previous x/y several times, so Catalyst's CollapseProject
# keeps the stages separate and the codegen'd expression tree stays LINEAR
# in `order` instead of exponential (the staged-projection trick from
# operators/links.py).  All arithmetic is 64-bit integer — exact in any
# engine, any order of evaluation.


def hilbert_d_py(x: int, y: int, order: int = 16) -> int:
    """Scalar python reference: distance along the order-`order` Hilbert
    curve of grid point (x, y), 0 <= x,y < 2**order."""
    n = 1 << order
    d = 0
    for b in range(order - 1, -1, -1):
        rx = (x >> b) & 1
        ry = (y >> b) & 1
        d += (1 << (2 * b)) * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x, y = n - 1 - y, n - 1 - x
            else:
                x, y = y, x
    return d


def with_hilbert_key(
    df: DataFrame,
    x_col: str,
    y_col: str,
    *,
    order: int = 16,
    key_col: str = "_hkey",
) -> DataFrame:
    """Append the Hilbert key of integer grid columns (x_col, y_col) —
    values must already lie in [0, 2**order).  DataFrame-level (not a
    Column function) on purpose: each curve level is a separate staged
    projection, which is what keeps the plan linear-sized."""
    if not 1 <= order <= 31:
        raise ValueError(f"order must be in [1, 31], got {order}")
    n = 1 << order
    d = df.withColumn("_hx", F.col(x_col).cast("long")).withColumn(
        "_hy", F.col(y_col).cast("long")
    )
    d = d.withColumn(key_col, F.lit(0).cast("long"))
    keep = [c for c in d.columns if c not in ("_hx", "_hy", key_col)]
    for b in range(order - 1, -1, -1):
        rx = F.shiftright(F.col("_hx"), b).bitwiseAND(F.lit(1))
        ry = F.shiftright(F.col("_hy"), b).bitwiseAND(F.lit(1))
        term = (rx * 3).bitwiseXOR(ry).cast("long") * F.lit(1 << (2 * b)).cast("long")
        nx = (
            F.when(ry == 1, F.col("_hx"))
            .when(rx == 1, F.lit(n - 1).cast("long") - F.col("_hy"))
            .otherwise(F.col("_hy"))
        )
        ny = (
            F.when(ry == 1, F.col("_hy"))
            .when(rx == 1, F.lit(n - 1).cast("long") - F.col("_hx"))
            .otherwise(F.col("_hx"))
        )
        d = d.select(
            *keep,
            nx.alias("_hx"),
            ny.alias("_hy"),
            (F.col(key_col) + term).alias(key_col),
        )
    return d.drop("_hx", "_hy")


def hilbert_sql_ctes(
    base_cte: str,
    id_cols: str,
    *,
    order: int = 16,
    x: str = "hx",
    y: str = "hy",
    key: str = "hkey",
) -> str:
    """DuckDB CTE chain computing the SAME walk level-by-level — generated
    from the identical recipe as :func:`with_hilbert_key` (one CTE per
    level; integer-exact, so the driver oracle hash-matches bit-for-bit).
    `base_cte` must expose columns ``{id_cols}, {x}, {y}``; the final CTE
    is named ``hfin`` and exposes ``{id_cols}, {key}``.  DuckDB's ``^`` is
    exponentiation, so bit-xor is spelled ``xor()``."""
    n = 1 << order
    prev = base_cte
    parts = []
    carry = "CAST(0 AS BIGINT)"
    for i, b in enumerate(range(order - 1, -1, -1)):
        rx = f"(({x} >> {b}) & 1)"
        ry = f"(({y} >> {b}) & 1)"
        term = f"CAST(xor(3 * {rx}, {ry}) AS BIGINT) * {1 << (2 * b)}"
        name = f"h{i}"
        parts.append(
            f"{name} AS (SELECT {id_cols}, "
            f"CASE WHEN {ry} = 1 THEN {x} WHEN {rx} = 1 THEN {n - 1} - {y} "
            f"ELSE {y} END AS {x}, "
            f"CASE WHEN {ry} = 1 THEN {y} WHEN {rx} = 1 THEN {n - 1} - {x} "
            f"ELSE {x} END AS {y}, "
            f"{carry} + {term} AS {key} FROM {prev})"
        )
        prev = name
        carry = key
    parts.append(f"hfin AS (SELECT {id_cols}, {key} FROM {prev})")
    return ",\n".join(parts)

