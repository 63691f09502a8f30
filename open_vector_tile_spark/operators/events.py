"""Event-stream relational operators: as-of join and gap sessionization.

These are the time-series primitives a Common-Crawl-style pipeline needs
around the geospatial core (recrawl as-of matching, visit sessionization).
The reference engine has no temporal operators — these extend the engine the
way SURVEY.md §2's training-data ops do, Spark-first:

- ``asof_join`` is the union + partitioned-window formulation: ONE shuffle on
  the key, no range explosion, no per-key driver loop.  Equivalent to a
  merge-join over (key, ts) — the plan Spark would pick for a sort-merge join
  but with the inequality folded into a running ``last(...)`` window instead
  of an O(n·m) range join.  DuckDB's native ASOF JOIN is the oracle twin.
- ``sessionize`` is the classic gap-cut: a lag window marks session starts,
  a running sum numbers them.  Same single shuffle on the key.

Both scale by key cardinality (users), not table size: at 10^12 events the
shuffle is hash-partitioned on user_id and each partition streams sorted
runs — no state beyond the window frame.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def epoch_us_col(df: DataFrame, ts_col: str) -> F.Column:
    """Wall-clock microseconds since 1970-01-01 00:00:00, in the column's
    OWN type: for TIMESTAMP_NTZ the diff is tz-free by construction; for
    TIMESTAMP the epoch literal is parsed in the session tz, so the diff
    is the same wall-clock measure (``unix_micros`` alone would reject
    NTZ columns — parquet event tables are NTZ — and would shift bucket
    boundaries by the session-tz offset)."""
    t = dict(df.dtypes)[ts_col]
    return F.timestamp_diff(
        "MICROSECOND", F.lit("1970-01-01 00:00:00").cast(t), F.col(ts_col)
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    right_cols: Sequence[str] = (),
    direction: str = "backward",
    suffix: str = "_r",
) -> DataFrame:
    """For each left row, attach the most recent right row with
    ``right.ts <= left.ts`` on the same key (``direction='backward'``; inner
    semantics — left rows with no prior right row are dropped, matching
    DuckDB ``ASOF JOIN``).  ``direction='forward'`` matches the earliest
    right row with ``right.ts >= left.ts``.

    Tie rule: a right row at exactly ``left.ts`` matches (>= / <=).  Among
    RIGHT rows sharing one (key, ts), the winner is chosen by a
    deterministic payload-hash tiebreak (xxhash64 of the packed right row):
    stable across runs, partitionings, and cluster sizes — but it is an
    arbitrary pick, and other engines (DuckDB ASOF) leave their own pick
    unspecified, so cross-ENGINE parity requires unique (key, ts) on the
    right side (the driver oracle's data satisfies this).

    Plan shape: union → single Exchange on ``on`` → one sort within
    partitions → running ``last(ignorenulls)`` window → filter.  No range
    join, no broadcast requirement, no skew beyond key skew (salt upstream if
    one key dominates).
    """
    on = list(on)
    right_cols = list(right_cols) or [
        c for c in right.columns if c not in on and c != right_ts
    ]
    out_right = [f"{c}{suffix}" for c in right_cols]
    match_ts = f"{right_ts}{suffix}"  # emitted alongside out_right below
    lpay = [c for c in left.columns if c not in on and c != left_ts]
    # Suffixed right columns, the emitted match-timestamp column, and the
    # window internals land in the same namespace as the left payload — a
    # silent collision would produce duplicate/ambiguous output columns.
    taken = set(on) | set(lpay) | {left_ts}
    emitted = out_right + [match_ts]
    dupes = {a for a in emitted if emitted.count(a) > 1}
    clash = (
        (set(emitted) & taken)
        | dupes
        | ({"_ats", "_aside", "_rpack", "_rtie"} & set(left.columns))
        # "_ar_ts" is the pack struct's internal match-ts field: a suffixed
        # right column with that exact name would create a duplicate struct
        # field and make getField("_ar_ts") ambiguous
        | ({"_ar_ts"} & set(out_right))
    )
    if clash:
        raise ValueError(
            f"asof_join output name collision: {sorted(clash)} — rename the "
            f"left columns or pass a different suffix (current {suffix!r})"
        )

    # Pack the WHOLE right payload (match ts + every right column) into ONE
    # struct so the window picks an entire right row atomically.  Filling each
    # column with an independent last(ignorenulls) would stitch fields from
    # DIFFERENT right rows whenever a newer right row has a NULL in one
    # payload column (the NULL would be back-filled from an older row).  The
    # struct itself is NULL on left-side rows, so last(ignorenulls) over the
    # struct skips them but keeps matched rows' NULL fields as NULL — exactly
    # DuckDB ASOF JOIN semantics.
    rdt = dict(right.dtypes)
    pack_ddl = ", ".join(
        [f"_ar_ts {rdt[right_ts]}"] + [f"`{a}` {rdt[c]}" for c, a in zip(right_cols, out_right)]
    )
    l_side = left.select(
        *on,
        F.col(left_ts).alias("_ats"),
        F.lit(1).alias("_aside"),
        *[F.col(c) for c in lpay],
        F.lit(None).cast(f"struct<{pack_ddl}>").alias("_rpack"),
        F.lit(0).cast("long").alias("_rtie"),
    )
    r_side = right.select(
        *on,
        F.col(right_ts).alias("_ats"),
        F.lit(0).alias("_aside"),
        *[F.lit(None).cast(dict(left.dtypes)[c]).alias(c) for c in lpay],
        F.struct(
            F.col(right_ts).alias("_ar_ts"),
            *[F.col(c).alias(a) for c, a in zip(right_cols, out_right)],
        ).alias("_rpack"),
        # deterministic tiebreak among right rows sharing (key, ts): the
        # window sort needs a total order or tied payloads are picked by
        # partition-internal arrival order
        F.xxhash64(
            F.struct(
                F.col(right_ts),
                *[F.col(c) for c in right_cols],
            )
        ).alias("_rtie"),
    )
    both = l_side.unionByName(r_side)

    if direction == "backward":
        w = (
            Window.partitionBy(*on)
            .orderBy(F.col("_ats").asc(), F.col("_aside").asc(), F.col("_rtie").asc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        pick = F.last
    elif direction == "forward":
        w = (
            Window.partitionBy(*on)
            .orderBy(F.col("_ats").asc(), F.col("_aside").desc(), F.col("_rtie").asc())
            .rowsBetween(Window.currentRow, Window.unboundedFollowing)
        )
        pick = F.first
    else:
        raise ValueError(f"direction must be backward|forward, got {direction!r}")

    filled = both.select(
        *on,
        F.col("_ats"),
        F.col("_aside"),
        *lpay,
        pick("_rpack", ignorenulls=True).over(w).alias("_rpack"),
    )
    matched = filled.filter((F.col("_aside") == 1) & F.col("_rpack").isNotNull())
    return matched.select(
        *on,
        F.col("_ats").alias(left_ts),
        *lpay,
        *[F.col("_rpack").getField(a).alias(a) for a in out_right],
        F.col("_rpack").getField("_ar_ts").alias(f"{right_ts}{suffix}"),
    )


def interval_join(
    left: DataFrame,
    right: DataFrame,
    chunk: int,
    left_start: str = "start",
    left_end: str = "end",
    right_start: str = "start",
    right_end: str = "end",
    suffix: str = "_r",
) -> DataFrame:
    """All (left, right) pairs whose CLOSED intervals overlap
    (``l.start <= r.end AND r.start <= l.end``) — the temporal/range join
    Spark has no native operator for (a bare inequality join degenerates to
    a broadcast-nested-loop or cartesian plan).

    Scale shape: both sides explode into fixed-width time chunks
    (``floor(bound/chunk)``) and equi-join on the chunk id — ONE hash
    shuffle per side, partition-parallel, no nested loop.  A pair that
    shares several chunks is emitted exactly once: only the chunk
    containing ``greatest(l.start, r.start)`` keeps it (the standard
    dedup-by-canonical-chunk trick, cheaper than a distinct).  Pick
    ``chunk`` near the median interval length: the per-row expansion is
    ``len/chunk + 1`` rows, and the chunk-id key spreads uniformly, so
    skew stays bounded even when intervals cluster.  Right columns come
    back ``suffix``-renamed.  Bounds are numeric (cast timestamps to epoch
    units first); chunk ids go through a double-precision floor, exact for
    |bound| < 2^53 — epoch micros until year ~2255."""
    if chunk <= 0:
        # chunk=0 would null the floor-division, null the sequence, and
        # explode to zero rows — an empty result instead of a loud failure.
        raise ValueError(f"chunk must be a positive width, got {chunk}")
    lcols = left.columns
    r_renamed = right.select(
        *[F.col(c).alias(f"{c}{suffix}") for c in right.columns]
    )
    rs, re = f"{right_start}{suffix}", f"{right_end}{suffix}"
    l_ex = left.withColumn(
        "_chunk",
        F.explode(
            F.sequence(
                F.floor(F.col(left_start) / chunk).cast("long"),
                F.floor(F.col(left_end) / chunk).cast("long"),
            )
        ),
    )
    r_ex = r_renamed.withColumn(
        "_chunk",
        F.explode(
            F.sequence(
                F.floor(F.col(rs) / chunk).cast("long"),
                F.floor(F.col(re) / chunk).cast("long"),
            )
        ),
    )
    joined = l_ex.join(r_ex, on="_chunk", how="inner").where(
        (F.col(left_start) <= F.col(re))
        & (F.col(rs) <= F.col(left_end))
        & (
            F.floor(F.greatest(F.col(left_start), F.col(rs)) / chunk).cast("long")
            == F.col("_chunk")
        )
    )
    return joined.select(*lcols, *[f"{c}{suffix}" for c in right.columns])


def sessionize(
    events: DataFrame,
    key: Sequence[str] = ("user_id",),
    ts: str = "ts",
    gap_seconds: float = 1800.0,
    out_col: str = "session_id",
) -> DataFrame:
    """Number each key's events into sessions cut at inactivity gaps
    ``> gap_seconds`` (strictly greater; an event exactly at the gap bound
    continues the session).  ``session_id`` is 0-based per key, assigned in
    ts order with the original row order preserved inside ties.

    One shuffle on ``key``; the lag + running-sum pair stays in a single
    window stage.
    """
    key = list(key)
    w = Window.partitionBy(*key).orderBy(F.col(ts).asc())
    gap_us = int(round(gap_seconds * 1_000_000))
    prev = F.lag(F.col(ts)).over(w)
    # timestamp_diff is pure wall-clock arithmetic — works for TIMESTAMP and
    # TIMESTAMP_NTZ alike, no session-timezone / DST dependence
    gap = F.timestamp_diff("MICROSECOND", prev, F.col(ts))
    is_cut = F.when(prev.isNull() | (gap <= gap_us), F.lit(0)).otherwise(F.lit(1))
    run = (
        Window.partitionBy(*key)
        .orderBy(F.col(ts).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return events.withColumn(out_col, F.sum(is_cut).over(run).cast("long"))


def track_speed(
    pings: DataFrame,
    *,
    key_cols: Sequence[str] = ("user_id",),
    ts_col: str = "ts",
    lon_col: str = "lon",
    lat_col: str = "lat",
    order_cols: Sequence[str] = (),
    max_speed_mps: float = 70.0,
) -> DataFrame:
    """Per-track movement derivation + GPS-noise gate: for each ping,
    distance (haversine meters) and elapsed time to the PREVIOUS ping of
    the same track, speed, and an ``implausible`` flag (speed above
    ``max_speed_mps``, or a nonzero jump at zero elapsed time — the
    teleport case a speed division cannot represent).

    The geolocation pipeline's trajectory sanity filter: crawler-derived
    or GPS point streams carry device glitches that would otherwise smear
    kNN/tile aggregates; this is the standard pre-filter before
    map matching (see operators/matching.py).

    Plan shape: ONE shuffle on the track key; lag windows stream sorted
    runs per partition (state = one row).  All arithmetic is column math
    — time deltas in exact integer microseconds (timezone-free: a
    same-column difference cancels any session-tz rendering), haversine
    via the shared `functions/geo.py:haversine_col` chain, so every
    derived double replays bit-for-bit in a SQL twin.  First ping of a
    track: null delta/speed, implausible = false.
    """
    if max_speed_mps <= 0:
        raise ValueError(f"max_speed_mps must be > 0, got {max_speed_mps}")
    from open_vector_tile_spark.functions.geo import haversine_col

    w = Window.partitionBy(*[F.col(c) for c in key_cols]).orderBy(
        F.col(ts_col), *[F.col(c) for c in order_cols]
    )
    prev_ts = F.lag(F.col(ts_col)).over(w)
    prev_lon = F.lag(F.col(lon_col)).over(w)
    prev_lat = F.lag(F.col(lat_col)).over(w)
    out = (
        # timestamp_diff is wall-clock arithmetic: TIMESTAMP and
        # TIMESTAMP_NTZ alike, no session-timezone / DST dependence
        pings.withColumn(
            "_dt_us", F.timestamp_diff("MICROSECOND", prev_ts, F.col(ts_col))
        )
        .withColumn(
            "dist_m",
            F.when(
                prev_ts.isNotNull(),
                haversine_col(
                    prev_lon, prev_lat, F.col(lon_col), F.col(lat_col)
                ),
            ),
        )
        .withColumn("dt_s", F.col("_dt_us").cast("double") / F.lit(1e6))
        .withColumn(
            "speed_mps",
            F.when(F.col("_dt_us") > 0, F.col("dist_m") / F.col("dt_s")),
        )
    )
    implausible = F.when(
        F.col("_dt_us").isNull(), F.lit(False)
    ).otherwise(
        # speed is null at dt=0: coalesce, or a duplicate ping (dt=0,
        # dist=0) would propagate null instead of false
        F.coalesce(
            F.col("speed_mps") > F.lit(float(max_speed_mps)), F.lit(False)
        )
        | ((F.col("_dt_us") == 0) & (F.col("dist_m") > 0.0))
    )
    return out.withColumn("implausible", implausible).drop("_dt_us")


def resample_fill(
    events: DataFrame,
    *,
    key_cols: Sequence[str] = ("user_id",),
    ts_col: str = "ts",
    value_col: str = "value",
    step_seconds: int = 3600,
) -> DataFrame:
    """Calendar resampling with gap fill: bucket each key's events onto a
    fixed ``step_seconds`` grid, emit EVERY bucket between the key's first
    and last event (gaps included), and carry the last observed value
    forward (LOCF) across the gaps.

    The recrawl/metrics counterpart of ``sessionize``: crawl telemetry and
    per-host fetch rates arrive irregularly, but budget models and change-
    rate estimators (operators/crawl.py) want a dense regular series.  The
    reference engine has no temporal operators — this extends the engine
    the way the other event primitives do, Spark-first.

    Plan shape, scale-first: per-key bucket bounds are ONE partial-agg
    shuffle on the key; the dense spine is ``sequence() + explode`` on the
    executors (output-proportional, never driver-side); observed buckets
    are a second partial agg; spine←observed is an equi-join on
    (key, bucket) — co-partitioned, AQE-broadcastable when keys are few;
    LOCF is one ordered window over the same key partitioning.  Bucket
    arithmetic is exact integer microseconds (wall-clock epoch floor-div),
    so every row replays bit-for-bit in a SQL twin.  The per-bucket "last
    observed" pick is the lexicographic max of ``(ts, value)`` — ties on
    ts resolve deterministically by value, engine-independent.

    Output: one row per (key, bucket) — ``bucket_ts`` (bucket start as
    timestamp), ``n_obs`` (0 on gap rows), ``v_sum`` (0.0 on gaps),
    ``v_last`` (null on gaps), ``v_fill`` (LOCF; null before the key's
    first observation — which cannot happen here since the spine starts at
    the first event, but holds for pre-extended spines).
    """
    if step_seconds <= 0:
        raise ValueError(f"step_seconds must be > 0, got {step_seconds}")
    step_us = int(step_seconds) * 1_000_000
    key = [F.col(c) for c in key_cols]
    us = epoch_us_col(events, ts_col)
    # exact integer floor-div: subtract the remainder first so the double
    # division is of an exact multiple (always bit-exact), rather than
    # trusting double rounding of us/step near bucket boundaries
    bucket = ((us - F.pmod(us, F.lit(step_us))) / F.lit(step_us)).cast("long")

    obs = events.groupBy(*key, bucket.alias("bucket")).agg(
        F.count(F.lit(1)).cast("long").alias("n_obs"),
        F.sum(F.col(value_col)).alias("v_sum"),
        F.max(F.struct(F.col(ts_col).alias("ts"), F.col(value_col).alias("v")))[
            "v"
        ].alias("v_last"),
    )
    spine = (
        events.groupBy(*key)
        .agg(F.min(bucket).alias("b0"), F.max(bucket).alias("b1"))
        .select(*key, F.explode(F.sequence("b0", "b1")).alias("bucket"))
    )
    joined = spine.join(obs, [*key_cols, "bucket"], "left")
    locf = (
        Window.partitionBy(*key)
        .orderBy(F.col("bucket"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        *key,
        F.timestamp_micros(F.col("bucket") * F.lit(step_us)).alias("bucket_ts"),
        F.coalesce(F.col("n_obs"), F.lit(0).cast("long")).alias("n_obs"),
        F.coalesce(F.col("v_sum"), F.lit(0.0)).alias("v_sum"),
        F.col("v_last"),
        F.last(F.col("v_last"), ignorenulls=True).over(locf).alias("v_fill"),
    )


def rolling_stats(
    events: DataFrame,
    *,
    key_cols: Sequence[str] = ("user_id",),
    ts_col: str = "ts",
    value_col: str = "value",
    window_seconds: int = 3600,
    scale: int = 100,
) -> DataFrame:
    """Trailing time-range window aggregates: for every event, count / sum /
    mean / min / max of ``value_col`` over the SAME key's events in
    ``[ts - window_seconds, ts]`` (inclusive both ends — RANGE frame
    semantics: all peers of the boundary timestamps are in).

    The burst/rate detector of the event family (crawl-rate spikes, host
    error bursts) — a true range frame, not row-count lookback, so
    irregular arrival density is handled exactly.

    Plan shape: ONE shuffle on the key; the range frame streams each
    sorted partition with state proportional to the window span, never
    the partition.  The frame is ordered by exact integer microseconds.
    Sums are made order-independent by fixing values at ``scale`` decimal
    ticks (``round(value*scale)`` as long) — integer addition commutes,
    so the float-summation-order difference between engines vanishes;
    the mean is ONE double division at the end.  Ties in ts: RANGE frames
    include all equal-key peers in both engines by definition.

    Output: input key/ts plus ``n_win, sum_win, mean_win, min_win,
    max_win`` (sums/extrema in original value units).
    """
    if window_seconds <= 0:
        raise ValueError(f"window_seconds must be > 0, got {window_seconds}")
    if scale <= 0:
        raise ValueError(f"scale must be > 0, got {scale}")
    win_us = int(window_seconds) * 1_000_000
    key = [F.col(c) for c in key_cols]
    ticks = F.round(F.col(value_col) * F.lit(int(scale))).cast("long")
    w = (
        Window.partitionBy(*key)
        .orderBy(epoch_us_col(events, ts_col))
        .rangeBetween(-win_us, 0)
    )
    n = F.count(F.lit(1)).over(w).cast("long")
    s = F.sum(ticks).over(w)
    return events.select(
        *key,
        F.col(ts_col),
        F.col(value_col),
        n.alias("n_win"),
        (s.cast("double") / F.lit(float(scale))).alias("sum_win"),
        (
            s.cast("double") / n.cast("double") / F.lit(float(scale))
        ).alias("mean_win"),
        (F.min(ticks).over(w).cast("double") / F.lit(float(scale))).alias(
            "min_win"
        ),
        (F.max(ticks).over(w).cast("double") / F.lit(float(scale))).alias(
            "max_win"
        ),
    )



def funnel(
    events: DataFrame,
    steps: Sequence[str],
    *,
    key_cols: Sequence[str] = ("user_id",),
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Ordered-funnel analysis: for each key, walk the step sequence
    ``steps`` (e.g. view -> click -> purchase) and record the timestamp at
    which each step was FIRST reached at-or-after the previous step's
    time (``>=`` — a same-microsecond pair counts, ties broken by step
    order).  The chain is anchored greedily at the EARLIEST step-1 event —
    the standard product-analytics convention; no lookback restarts.

    -> one row per key with at least one funnel-relevant event:
    ``(*key, depth, ts1_us..tsk_us)`` — depth = number of steps reached,
    ``tsi_us`` = wall-clock epoch micros of step i (null past depth).

    Plan shape: events are FILTERED to the step types before the shuffle
    (k types, pushdown-friendly), then ONE groupBy on the key collects
    each key's (ts, step-idx) pairs, array_sort makes the order canonical,
    and the funnel automaton is a single F.aggregate fold — no joins, no
    windows, no Python.  Per-key state is the key's own funnel events
    only; at 10^12 events the shuffle is hash-partitioned on the key and
    hot keys are bounded by their funnel-event count (cap upstream if a
    key can exceed executor memory).
    """
    if not steps:
        raise ValueError("steps must be non-empty")
    if len(set(steps)) != len(steps):
        # the when-chain maps each event type to its FIRST step index, so a
        # funnel like view>click>view could never advance past the repeat
        raise ValueError(f"funnel steps must be distinct, got {list(steps)}")
    key = [F.col(c) for c in key_cols]
    idx = None
    for i, s in enumerate(steps):
        cond = F.when(F.col(type_col) == F.lit(s), F.lit(i))
        idx = cond if idx is None else idx.when(
            F.col(type_col) == F.lit(s), F.lit(i)
        )
    ev = events.withColumn("_sidx", idx).filter(F.col("_sidx").isNotNull())
    us = epoch_us_col(ev, ts_col)
    rows = ev.select(
        *key,
        F.struct(us.alias("ts"), F.col("_sidx").cast("int").alias("i")).alias(
            "_e"
        ),
    )
    acc0 = F.struct(
        F.lit(0).cast("int").alias("nxt"),
        F.array().cast("array<long>").alias("hits"),
    )

    def step_fn(acc, e):
        advance = F.struct(
            (acc["nxt"] + 1).alias("nxt"),
            F.concat(acc["hits"], F.array(e["ts"])).alias("hits"),
        )
        return (
            F.when(e["i"] != acc["nxt"], acc)
            .when(acc["nxt"] == 0, advance)
            # lazy when-chain: element_at only evaluates once nxt >= 1
            .when(e["ts"] >= F.element_at(acc["hits"], acc["nxt"]), advance)
            .otherwise(acc)
        )

    agg = rows.groupBy(*key).agg(
        F.aggregate(
            F.array_sort(F.collect_list("_e")), acc0, step_fn
        ).alias("_f")
    )
    out_cols = [
        F.try_element_at(F.col("_f.hits"), F.lit(i + 1)).alias(
            f"ts{i + 1}_us"
        )
        for i in range(len(steps))
    ]
    return agg.select(
        *key, F.col("_f.nxt").cast("long").alias("depth"), *out_cols
    )



def cohort_retention(
    events: DataFrame,
    *,
    key_cols: Sequence[str] = ("user_id",),
    ts_col: str = "ts",
    period_seconds: int = 7 * 24 * 3600,
) -> DataFrame:
    """Cohort retention matrix: cohort(key) = the period of the key's
    FIRST event; for every (cohort, offset) cell, how many of the
    cohort's keys were active ``offset`` periods after joining.

    -> ``(cohort_p, offset, n_active, cohort_size)`` — offset 0 rows
    equal the cohort size by construction (every key is active in its
    joining period).  Rates are left to the caller (n_active /
    cohort_size) so the table stays integer-exact.

    Plan shape: ONE partial-agg shuffle for first-seen per key, one
    distinct over (key, period) for activity, an equi-join on the key
    (co-partitioned with the distinct's hash), and a final (cohort,
    offset) partial agg.  Period arithmetic is the remainder-subtracted
    integer-micros floor division — bit-exact at boundaries.  At 10^12
    events everything is keyed on the user or on (cohort, offset); no
    skew beyond real cohort sizes.
    """
    if period_seconds <= 0:
        raise ValueError(f"period_seconds must be > 0, got {period_seconds}")
    step_us = int(period_seconds) * 1_000_000
    key = list(key_cols)
    us = epoch_us_col(events, ts_col)
    period = ((us - F.pmod(us, F.lit(step_us))) / F.lit(step_us)).cast("long")
    act = events.select(*key, period.alias("p")).distinct()
    first = act.groupBy(*key).agg(F.min("p").alias("cohort_p"))
    sizes = first.groupBy("cohort_p").agg(
        F.count(F.lit(1)).cast("long").alias("cohort_size")
    )
    cells = (
        act.join(first, on=key)
        .groupBy("cohort_p", (F.col("p") - F.col("cohort_p")).alias("offset"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_active"))
    )
    return cells.join(sizes, on="cohort_p").select(
        "cohort_p", "offset", "n_active", "cohort_size"
    )


def event_transitions(
    events: DataFrame,
    *,
    key_cols: Sequence[str] = ("user_id",),
    ts_col: str = "ts",
    type_col: str = "event_type",
    order_cols: Sequence[str] = ("event_id",),
) -> DataFrame:
    """First-order Markov transition counts over each key's event stream:
    for every consecutive pair (by ``ts``, ties broken by ``order_cols``),
    count (src_type, dst_type) across all keys — the navigation-model /
    anomaly-detection primitive over crawl or interaction logs.

    -> ``(src_type, dst_type, n)``.  Plan shape: ONE shuffle on the key
    for the lead window (sorted-run streaming, state = one row), then a
    (src, dst) partial agg over the tiny type-pair domain.  Determinism:
    the window order is total, so tie pairs are engine-stable.
    """
    w = Window.partitionBy(*[F.col(c) for c in key_cols]).orderBy(
        F.col(ts_col), *[F.col(c) for c in order_cols]
    )
    nxt = F.lead(F.col(type_col)).over(w)
    return (
        events.select(F.col(type_col).alias("src_type"), nxt.alias("dst_type"))
        .filter(F.col("dst_type").isNotNull())
        .groupBy("src_type", "dst_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )



def ewma(
    events: DataFrame,
    *,
    key_cols: Sequence[str] = ("user_id",),
    ts_col: str = "ts",
    value_col: str = "value",
    alpha: float = 0.3,
) -> DataFrame:
    """Per-event exponential smoothing: for each key's time-ordered stream,
    ``s_1 = x_1`` and ``s_t = alpha * x_t + (1 - alpha) * s_{t-1}`` — the
    crawl-rate / host-latency smoother.

    A sequential recurrence has no window form, so it runs as the repo's
    sorted-fold: ONE groupBy on the key collects (ts, value), array_sort
    canonicalizes the order (ties by value — total, engine-stable), and a
    single F.aggregate fold appends each running state to an array that
    posexplodes back to one row per event.  The fold order and the
    ``alpha*x + (1-alpha)*s`` chain are fixed, so every double replays
    bit-for-bit in a DuckDB ``list_reduce`` twin (same left fold, same
    first-element seed).  Per-key state is the key's own events (the
    funnel trade; cap hot keys upstream).

    -> ``(*key, ts_us, value, ewma)``.
    """
    if not 0.0 < alpha <= 1.0:
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    key = [F.col(c) for c in key_cols]
    us = epoch_us_col(events, ts_col)
    rows = events.select(
        *key,
        F.struct(
            us.alias("ts"), F.col(value_col).cast("double").alias("v")
        ).alias("_e"),
    )
    a = F.lit(float(alpha))

    def step(acc, e):
        nxt = F.when(
            F.size(acc) == 0, e["v"]
        ).otherwise(a * e["v"] + (F.lit(1.0) - a) * F.element_at(acc, -1))
        return F.concat(acc, F.array(nxt))

    agg = rows.groupBy(*key).agg(
        F.array_sort(F.collect_list("_e")).alias("_es")
    )
    folded = agg.select(
        *key,
        F.col("_es"),
        F.aggregate(
            F.col("_es"), F.array().cast("array<double>"), step
        ).alias("_sm"),
    )
    ex = folded.select(
        *key,
        F.posexplode(F.arrays_zip(F.col("_es"), F.col("_sm"))).alias(
            "_i", "_z"
        ),
    )
    return ex.select(
        *key,
        F.col("_z._es.ts").alias("ts_us"),
        F.col("_z._es.v").alias("value"),
        F.col("_z._sm").alias("ewma"),
    )



def cusum(
    events: DataFrame,
    *,
    key_cols: Sequence[str] = ("user_id",),
    ts_col: str = "ts",
    value_col: str = "value",
    slack: float = 1.0,
    threshold: float = 5.0,
    scale: int = 100,
) -> DataFrame:
    """Two-sided CUSUM change-point detection per key: against the key's
    own mean mu, the classic recurrences

        hi_t = max(0, hi_{t-1} + (x_t - mu - slack))
        lo_t = max(0, lo_{t-1} + (mu - x_t - slack))

    with an alarm whenever either side exceeds ``threshold`` — the
    crawl-telemetry drift detector (fetch-latency regressions, host error
    shifts) next to ewma's smoother.

    Two passes: mu per key from ONE exact partial agg (values fixed at
    ``scale`` ticks, so the mean is an integer-sum / count double chain),
    then the sorted fold appending each running state (the ewma recipe);
    both sides are SCALAR folds, so a DuckDB list_reduce twin replays
    them bit-for-bit without struct-accumulator workarounds.

    -> per event: ``(*key, ts_us, value, cusum_hi, cusum_lo, alarm)``.
    """
    if threshold <= 0:
        raise ValueError(f"threshold must be > 0, got {threshold}")
    if scale <= 0:
        raise ValueError(f"scale must be > 0, got {scale}")
    key = [F.col(c) for c in key_cols]
    us = epoch_us_col(events, ts_col)
    ticks = F.round(F.col(value_col) * F.lit(int(scale))).cast("long")
    rows = events.select(
        *key,
        F.struct(
            us.alias("ts"), F.col(value_col).cast("double").alias("v")
        ).alias("_e"),
        ticks.alias("_t"),
    )
    agg = rows.groupBy(*key).agg(
        F.array_sort(F.collect_list("_e")).alias("_es"),
        (
            F.sum("_t").cast("double")
            / F.lit(float(scale))
            / F.count(F.lit(1)).cast("double")
        ).alias("_mu"),
    )
    sl = F.lit(float(slack))

    def fold(sign: float):
        def step(acc, e):
            inc = (
                (e["v"] - F.col("_mu") - sl)
                if sign > 0
                else (F.col("_mu") - e["v"] - sl)
            )
            prev = F.when(F.size(acc) == 0, F.lit(0.0)).otherwise(
                F.element_at(acc, -1)
            )
            return F.concat(
                acc, F.array(F.greatest(F.lit(0.0), prev + inc))
            )

        return F.aggregate(
            F.col("_es"), F.array().cast("array<double>"), step
        )

    folded = agg.select(
        *key,
        F.col("_es"),
        fold(1.0).alias("_hi"),
        fold(-1.0).alias("_lo"),
    )
    ex = folded.select(
        *key,
        F.posexplode(
            F.arrays_zip(F.col("_es"), F.col("_hi"), F.col("_lo"))
        ).alias("_i", "_z"),
    )
    thr = F.lit(float(threshold))
    return ex.select(
        *key,
        F.col("_z._es.ts").alias("ts_us"),
        F.col("_z._es.v").alias("value"),
        F.col("_z._hi").alias("cusum_hi"),
        F.col("_z._lo").alias("cusum_lo"),
        ((F.col("_z._hi") > thr) | (F.col("_z._lo") > thr)).alias("alarm"),
    )



def event_paths(
    events: DataFrame,
    *,
    n: int = 3,
    key_cols: Sequence[str] = ("user_id",),
    ts_col: str = "ts",
    type_col: str = "event_type",
    order_cols: Sequence[str] = ("event_id",),
    sep: str = ">",
) -> DataFrame:
    """n-step navigation paths: count every run of ``n`` CONSECUTIVE
    events of the same key (by ``ts``, ties via ``order_cols``) as a
    ``sep``-joined type path — the order-(n-1) generalization of
    ``event_transitions`` for funnel discovery and anomaly mining.

    -> ``(path, cnt)``.  Plan shape: ONE shuffle on the key for the lead
    windows (all n-1 leads share one window frame — a single sorted-run
    pass), then a partial agg over the small path domain.
    """
    if n < 2:
        raise ValueError(f"n must be >= 2, got {n}")
    w = Window.partitionBy(*[F.col(c) for c in key_cols]).orderBy(
        F.col(ts_col), *[F.col(c) for c in order_cols]
    )
    steps = [F.col(type_col)] + [
        F.lead(F.col(type_col), i).over(w) for i in range(1, int(n))
    ]
    last = steps[-1]
    # concat_ws silently skips NULLs: a (a, NULL, c) triple would emit 'a>c'
    # and masquerade as a real 2-step path.  Null event types carry no path
    # information, so drop them before the window (also keeps lead() from
    # straddling the gap).
    events = events.filter(F.col(type_col).isNotNull())
    return (
        events.select(
            F.concat_ws(sep, *steps).alias("path"), last.alias("_last")
        )
        .filter(F.col("_last").isNotNull())
        .groupBy("path")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
