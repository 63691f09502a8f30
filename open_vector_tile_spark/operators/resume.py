"""Checkpointed resumability + per-partition lineage/metrics (J5/A7/S12).

The pipeline is resumable at tile granularity: completed (zoom, tile_x,
tile_y) keys are recorded in a tiles table (parquet/Iceberg-style directory
of snapshots); a re-run LEFT ANTI joins pending work against the completed
set so only missing tiles recompute (north_rule: "resumable from checkpoint
with per-partition lineage + metrics").

On a real deployment the tiles table is an Iceberg table and the snapshot id
is the checkpoint; in the sandbox we model snapshots as append-only parquet
subdirectories ``snapshot=N`` with identical semantics (atomic-rename commit
protocol, read = union of snapshots).
"""

from __future__ import annotations

import os
import shutil
import time
import uuid

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

TILE_KEY = ["zoom", "tile_x", "tile_y"]

# Feature-log bucket fanout: the log is sub-partitioned by a hash bucket of
# the tile key so an incremental rebuild reads only the buckets its affected
# tiles live in (parquet partition pruning) instead of the whole history.
N_FEATURE_BUCKETS = 64


def tile_bucket_col() -> Column:
    """Bucket-of-tile-key column used to partition the feature log."""
    return F.pmod(F.xxhash64(*TILE_KEY), F.lit(N_FEATURE_BUCKETS)).cast("int")


class TileStore:
    """Append-only snapshot store for the tiles table + lineage/metrics."""

    def __init__(self, root: str) -> None:
        self.root = root
        self.tiles_dir = os.path.join(root, "tiles")
        self.metrics_dir = os.path.join(root, "metrics")
        self.features_dir = os.path.join(root, "features")

    # -- feature log (bronze layer for incremental rebuilds) -------------
    def append_features(self, features: DataFrame, batch_id: int | None = None) -> None:
        """Append feature rows to the log.  With ``batch_id`` the rows land
        in a batch-scoped subdirectory written with OVERWRITE — a replayed
        micro-batch (foreachBatch is at-least-once) rewrites its own
        subdirectory instead of double-appending the same features.  Ad-hoc
        appends (``batch_id=None``) use the reserved ``batch=-1`` partition
        so the log keeps ONE directory depth — mixing root-level files with
        ``batch=N`` subdirs would fail Spark partition discovery.  Every
        write sub-partitions by a tile-key hash bucket (``tb``) so
        incremental rebuilds prune unaffected files."""
        bucketed = features.withColumn("tb", tile_bucket_col())
        if batch_id is None:
            bucketed.write.mode("append").partitionBy("tb").parquet(
                f"{self.features_dir}/batch=-1"
            )
        else:
            bucketed.write.mode("overwrite").partitionBy("tb").parquet(
                f"{self.features_dir}/batch={int(batch_id)}"
            )

    def read_features(
        self, spark: SparkSession, buckets: list[int] | None = None
    ) -> DataFrame | None:
        """Read the feature log.  ``buckets`` (tile-key hash buckets from
        :func:`tile_bucket_col`) prunes the scan to only the matching
        ``tb=`` partitions — the incremental path passes the affected
        tiles' buckets so per-batch cost scales with the touched slice of
        history, not the whole log."""
        if not os.path.isdir(self.features_dir):
            return None
        df = spark.read.parquet(self.features_dir)
        if buckets is not None and "tb" in df.columns:
            df = df.filter(F.col("tb").isin([int(b) for b in buckets]))
        # batch/tb are log bookkeeping partition columns, not feature data
        return df.drop(*[c for c in ("batch", "tb") if c in df.columns])

    # -- read ------------------------------------------------------------
    def snapshots(self) -> list[str]:
        if not os.path.isdir(self.tiles_dir):
            return []
        # NUMERIC sort: lexicographic would order snapshot=9 after
        # snapshot=10, so latest-wins reads would resurrect stale tiles
        # from the 11th commit onward
        return sorted(
            (d for d in os.listdir(self.tiles_dir) if d.startswith("snapshot=")),
            key=lambda d: int(d.split("=", 1)[1]),
        )

    def completed_keys(self, spark: SparkSession) -> DataFrame | None:
        """Tile keys that currently exist (latest-wins, tombstones excluded)
        — a deleted tile is NOT completed, so a re-requested key recomputes."""
        df = self.read_tiles(spark)
        if df is None:
            return None
        return df.select(*TILE_KEY).distinct()

    def read_tiles(
        self,
        spark: SparkSession,
        as_of: int | None = None,
        keep_deleted: bool = False,
    ) -> DataFrame | None:
        """Union of snapshots with latest-wins per tile key (a rebuilt tile
        in snapshot N+1 shadows its snapshot-N version — Iceberg-style
        row-level replace semantics).  ``as_of`` is the time-travel read:
        only snapshots with index <= as_of participate, reproducing the
        table exactly as it stood after that commit.  Tombstone rows
        (``tile IS NULL``, written by :meth:`delete_tiles`) shadow older
        versions like any other row and are then dropped from the result
        unless ``keep_deleted`` (the change-feed path needs them)."""
        from pyspark.sql import Window

        snaps = self.snapshots()
        if as_of is not None:
            snaps = [s for s in snaps if int(s.split("=", 1)[1]) <= as_of]
        if not snaps:
            return None
        parts = []
        for i, s in enumerate(snaps):
            parts.append(
                spark.read.parquet(os.path.join(self.tiles_dir, s)).withColumn(
                    "_snap", F.lit(i)
                )
            )
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p, allowMissingColumns=True)
        w = Window.partitionBy(*TILE_KEY).orderBy(F.desc("_snap"))
        out = (
            df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn", "_snap")
        )
        if not keep_deleted:
            out = out.filter(F.col("tile").isNotNull())
        return out

    # -- write (snapshot commit) ----------------------------------------
    def commit(self, tiles: DataFrame, run_id: str | None = None) -> str | None:
        """Write one snapshot atomically (stage dir + rename) and record
        per-partition lineage/metrics rows (A7).  Single-writer protocol
        (like an Iceberg catalog's optimistic lock): the next snapshot id is
        max(existing)+1 (collision-free across retention gaps — len() would
        collide after any snapshot cleanup), and stale ``_stage_*`` dirs
        left by a crashed previous commit are swept before staging.  A frame
        with no rows commits nothing (no snapshot, no metrics rows) and
        returns None; the check reads the staged files, not ``tiles`` again."""
        run_id = run_id or uuid.uuid4().hex[:12]
        snaps = self.snapshots()
        nxt = max((int(s.split("=", 1)[1]) for s in snaps), default=-1) + 1
        snap = f"snapshot={nxt}"
        if os.path.isdir(self.tiles_dir):
            for d in os.listdir(self.tiles_dir):
                if d.startswith("_stage_"):
                    shutil.rmtree(os.path.join(self.tiles_dir, d), ignore_errors=True)
        stage = os.path.join(self.tiles_dir, f"_stage_{run_id}")
        final = os.path.join(self.tiles_dir, snap)
        tiles.write.mode("overwrite").parquet(stage)
        spark = tiles.sparkSession
        if spark.read.schema(tiles.schema).parquet(stage).isEmpty():
            shutil.rmtree(stage)
            return None
        os.rename(stage, final)
        metrics = (
            spark.read.parquet(final)
            .groupBy(*TILE_KEY)
            .agg(
                F.count("*").alias("rows"),
                F.sum(F.length("tile")).alias("bytes"),
            )
            .withColumn("snapshot", F.lit(snap))
            .withColumn("run_id", F.lit(run_id))
            .withColumn("committed_at", F.lit(int(time.time())))
        )
        metrics.write.mode("append").parquet(self.metrics_dir)
        return snap

    def delete_tiles(self, keys: DataFrame, run_id: str | None = None) -> str | None:
        """Commit a tombstone snapshot for the given tile keys: each key
        gets a row with ``tile IS NULL`` that shadows every older version in
        latest-wins reads — the delete half of Iceberg-style row-level
        replace (without this, a tile dropped from a newer snapshot would be
        resurrected from older ones forever).  ``changed_tiles`` surfaces
        these as rows with a NULL ``tile``."""
        tombs = keys.select(*TILE_KEY).distinct().select(
            *TILE_KEY,
            F.lit(None).cast("binary").alias("tile"),
            F.lit(0).cast("long").alias("n_features"),
            F.lit(0).cast("long").alias("n_bytes"),
        )
        return self.commit(tombs, run_id=run_id)

    # -- resume ----------------------------------------------------------
    def pending(self, work: DataFrame) -> DataFrame:
        """J5: anti-join pending tile keys against all committed snapshots."""
        done = self.completed_keys(work.sparkSession)
        if done is None:
            return work
        return work.join(done, on=TILE_KEY, how="left_anti")

    def changed_tiles(
        self, spark: SparkSession, since: int, until: int | None = None
    ) -> DataFrame | None:
        """Incremental change feed between two snapshots: tile keys whose
        bytes at ``until`` (default: latest) differ from — or did not exist
        at — snapshot ``since``.  This is what a downstream consumer (CDN
        sync, diff shipper) pulls instead of rescanning the tileset; both
        sides are latest-wins time-travel reads, joined on the tile key.
        A tile tombstoned between the two snapshots appears with a NULL
        ``tile`` (the delete event); a tile that was already absent/deleted
        at both points is not reported (null-safe hash compare)."""
        new = self.read_tiles(spark, as_of=until, keep_deleted=True)
        if new is None:
            return None
        old = self.read_tiles(spark, as_of=since, keep_deleted=True)
        # hash NULL for tombstones (xxhash64 of a null input returns the
        # seed, which would make a tombstone collide with some real blob)
        h = lambda: F.when(  # noqa: E731
            F.col("tile").isNotNull(), F.xxhash64("tile")
        )
        if old is None:
            return new.filter(F.col("tile").isNotNull())
        oldk = old.select(*TILE_KEY, h().alias("_old_h"))
        return (
            new.withColumn("_new_h", h())
            .join(oldk, on=TILE_KEY, how="left")
            .filter(~F.col("_old_h").eqNullSafe(F.col("_new_h")))
            .drop("_old_h", "_new_h")
        )

    def metrics(self, spark: SparkSession) -> DataFrame | None:
        if not os.path.isdir(self.metrics_dir):
            return None
        return spark.read.parquet(self.metrics_dir)
