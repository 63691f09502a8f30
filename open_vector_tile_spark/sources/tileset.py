"""Tileset-directory data source (Python DataSourceV2).

SURVEY §4 watchlist item: a first-class Spark source/sink for directories of
tile files (``{z}_{x}_{y}.mvt|pbf|ovt`` or ``{z}-{x}-{y}.vector.pbf`` — the
layouts the reference ships in ``benchmarks/data/*/mvt``), so tilesets read
as DataFrames with real predicate pushdown:

- **Filter pushdown to the file list.**  ``pushFilters`` accepts =, <, <=,
  >, >=, IN on ``zoom``/``tile_x``/``tile_y`` and prunes FILES by their
  parsed names before a single byte is read — the directory layout is the
  index, exactly like partition pruning on a parquet table.  Residual
  filters are returned to Spark to re-apply (safe double-evaluation).
- **Column pruning at read time.**  The expensive column is the blob; when
  the driver plan never references ``tile`` (schema'd reads go through
  ``spark.read.format("ovt_tileset").schema(...)``), pass
  ``option("skip_blob", "true")`` and the reader stats files instead of
  reading them (the Python DS API has no pruneColumns hook yet; the option
  is the explicit spelling).
- **Payload-sized scan.**  The listing is split into contiguous, path-sorted
  runs, so a task opens each file once.  :func:`read_width` sizes the run
  count from the matched bytes (one task for a window, at most one wave
  for a full scan); ``option("num_partitions", n)`` overrides it.  The
  engine's own decoded read, ``operators/decode.read_tileset``, lists with
  the same :func:`_list_tiles`, sizes with the same :func:`read_width` and
  reads with the same :func:`read_blobs`, but plans no Python data source.

The write side materializes (zoom, tile_x, tile_y, tile) rows as
``{z}_{x}_{y}.{suffix}`` files — the inverse layout, executor-parallel —
or, with ``option("layout", "shard")``, as packed ``.ovtshard`` containers
(one per task; index + concatenated blobs) that sidestep the small-files
problem at web scale.  Shards read back through the same source with
entry-level pushdown (matching blobs are seek-read; non-matching shards
cost one header read).  Compaction is just read-loose → write-shard.

Register per session::

    from open_vector_tile_spark.sources.tileset import OvtTilesetDataSource
    spark.dataSource.register(OvtTilesetDataSource)
    df = (spark.read.format("ovt_tileset")
          .option("path", "/data/tiles").load().filter("zoom = 14"))
"""

from __future__ import annotations

import os
import re
import time
from dataclasses import dataclass
from typing import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

_NAME_RE = re.compile(r"^(\d+)[-_](\d+)[-_](\d+)\b")
_SUFFIXES = (".mvt", ".pbf", ".ovt")

# ---------------------------------------------------------------------------
# packed shard container — the small-files answer at 100 TB
# ---------------------------------------------------------------------------
# One z_x_y file per tile works for a benchmark directory but melts a real
# filesystem/object store at web scale (10^9 tiles = 10^9 PUTs + a listing
# that never finishes).  A shard packs a partition's tiles into ONE file:
#
#   magic "OVTS1\n" | n (int64 LE) | index n×5 int64 LE (z, x, y, rel_off,
#   length) | concatenated blobs
#
# The index is read without touching blob bytes, so tile-key pushdown prunes
# at the ENTRY level (seek straight to matching blobs) and a full-tileset
# listing costs one small header read per shard instead of a dirent per tile.
_SHARD_MAGIC = b"OVTS1\n"
_SHARD_SUFFIX = ".ovtshard"


def write_shard(path: str, entries: list) -> int:
    """Write (zoom, x, y, blob) entries as one packed shard; returns count.
    Entries are sorted by (z, x, y) so shard bytes are a pure function of the
    entry SET (deterministic re-runs)."""
    import numpy as np

    entries = sorted(entries, key=lambda e: (e[0], e[1], e[2]))
    idx = np.zeros((len(entries), 5), dtype="<i8")
    off = 0
    for i, (z, x, y, blob) in enumerate(entries):
        idx[i] = (z, x, y, off, len(blob))
        off += len(blob)
    with open(path, "wb") as fh:
        fh.write(_SHARD_MAGIC)
        fh.write(np.int64(len(entries)).tobytes())
        fh.write(idx.tobytes())
        for _z, _x, _y, blob in entries:
            fh.write(bytes(blob))
    return len(entries)


def read_shard_index(path: str):
    """(index ndarray n×5 [z,x,y,rel_off,length], data_start byte offset)."""
    import numpy as np

    with open(path, "rb") as fh:
        if fh.read(len(_SHARD_MAGIC)) != _SHARD_MAGIC:
            raise ValueError(f"{path}: not an OVTS1 shard")
        n = int(np.frombuffer(fh.read(8), "<i8")[0])
        idx = np.frombuffer(fh.read(n * 5 * 8), "<i8").reshape(n, 5)
        return idx, fh.tell()

SCHEMA = (
    "zoom int, tile_x bigint, tile_y bigint, path string, n_bytes bigint, tile binary"
)

_KEYS = {"zoom", "tile_x", "tile_y"}


def _list_tiles(root: str) -> list[tuple[int, int, int, str, int, int]]:
    """Recursive (zoom, x, y, path, size, abs_offset) listing.  Loose tile
    files carry ``abs_offset = -1`` (read whole file); shard members carry the
    absolute byte offset of their blob inside the shard."""
    out = []
    for dirpath, _dirs, files in os.walk(root):
        for fn in sorted(files):
            p = os.path.join(dirpath, fn)
            if fn.startswith(_TMP_PREFIX):
                # in-flight / orphaned task-attempt temps are never data: a
                # half-written shard temp would otherwise crash
                # read_shard_index for every reader until manually removed
                continue
            if fn.endswith(_SHARD_SUFFIX):
                idx, data_start = read_shard_index(p)
                for z, x, y, rel, ln in idx.tolist():
                    out.append((int(z), int(x), int(y), p, int(ln), data_start + int(rel)))
                continue
            if not fn.endswith(_SUFFIXES):
                continue
            m = _NAME_RE.match(fn)
            if not m:
                continue
            out.append(
                (int(m.group(1)), int(m.group(2)), int(m.group(3)), p, os.path.getsize(p), -1)
            )
    out.sort(key=lambda t: (t[3], t[5]))
    return out


def _match(filt, z: int, x: int, y: int) -> bool:
    col = filt.attribute[-1]
    v = {"zoom": z, "tile_x": x, "tile_y": y}[col]
    if isinstance(filt, EqualTo):
        return v == filt.value
    if isinstance(filt, In):
        return v in filt.value
    if isinstance(filt, GreaterThan):
        return v > filt.value
    if isinstance(filt, GreaterThanOrEqual):
        return v >= filt.value
    if isinstance(filt, LessThan):
        return v < filt.value
    if isinstance(filt, LessThanOrEqual):
        return v <= filt.value
    return True  # unreachable: only pushable types are kept


# tile bytes one read task must hold before a second task pays for itself
_TASK_BYTES = 512 * 1024


def read_width(n_bytes: int) -> int:
    """Read tasks for ``n_bytes`` of matched tiles: ``min(cluster width,
    ceil(n_bytes / _TASK_BYTES))``, at least 1.

    Every task starts a Python runner (``tiler._arrange_for_encode``
    gives its cost).  ``_TASK_BYTES`` was sized when each start spent
    ~0.12 s re-reading Spark's zip archives, before
    ``_spark_archives.freeze_spark_archives``: reading and decoding 512 KB
    of one-point OVT tiles (~5.7k tiles, the shape perfbench's
    ``tile_read`` scans) takes ~0.29 s on a 4-core VM, about twice that
    start, so a task holds at least that much: a 16x16-tile window gets one
    task and the 3.5 MB ``tile_read`` scan one wave of 4.

    The cluster width is ``defaultParallelism`` where a SparkContext lives
    in this process (the driver).  A data source's ``partitions()`` runs in
    a Python planning worker that sees no SparkContext; there the planning
    host's cores stand in, which on ``local[N]`` are the cluster's."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    cores = sc.defaultParallelism if sc is not None else os.cpu_count() or 1
    return max(1, min(cores, -(-n_bytes // _TASK_BYTES)))


def read_blobs(entries) -> Iterator[bytes]:
    """The blob of each :func:`_list_tiles` entry, in order.  Entries come
    sorted by path, so a run from one file shares one open handle."""
    cur_path, fh = None, None
    try:
        for _z, _x, _y, path, size, off in entries:
            if path != cur_path:
                if fh is not None:
                    fh.close()
                fh = open(path, "rb")
                cur_path = path
            if off < 0:
                fh.seek(0)
                yield fh.read()
            else:
                fh.seek(off)
                yield fh.read(size)
    finally:
        if fh is not None:
            fh.close()


@dataclass
class _FilesPartition(InputPartition):
    files: list  # _list_tiles entries


class OvtTilesetReader(DataSourceReader):
    def __init__(self, options):
        self.root = options.get("path")
        if not self.root:
            raise ValueError("ovt_tileset requires .option('path', <dir>)")
        self.n_parts = int(options.get("num_partitions", "0"))  # 0: read_width
        self.skip_blob = options.get("skip_blob", "false").lower() == "true"
        self.pushed = []

    def pushFilters(self, filters):
        """Keep =/</<=/>/>=/IN on the tile-key columns (evaluable from the
        filename alone); everything else goes back to Spark.  Eager split —
        a lazy generator would defer the self.pushed mutation."""
        rest = []
        for f in filters:
            if (
                isinstance(
                    f, (EqualTo, In, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual)
                )
                and len(f.attribute) == 1
                and f.attribute[0] in _KEYS
            ):
                self.pushed.append(f)
            else:
                rest.append(f)
        return iter(rest)

    def partitions(self):
        files = [
            t
            for t in _list_tiles(self.root)
            if all(_match(f, t[0], t[1], t[2]) for f in self.pushed)
        ]
        if not files:
            return [_FilesPartition([])]
        n = max(1, min(self.n_parts or read_width(sum(t[4] for t in files)), len(files)))
        # contiguous chunks, not striding: the listing is sorted by (path,
        # offset) so a shard's entries stay in as few partitions as possible
        # (sequential reads, one open per shard per task)
        size = (len(files) + n - 1) // n
        return [_FilesPartition(files[i : i + size]) for i in range(0, len(files), size)]

    def read(self, partition: _FilesPartition) -> Iterator[tuple]:
        files = partition.files
        if self.skip_blob:
            for z, x, y, path, size, _off in files:
                yield (z, x, y, path, size, None)
            return
        for (z, x, y, path, _size, _off), blob in zip(files, read_blobs(files)):
            yield (z, x, y, path, len(blob), blob)


@dataclass
class _WroteFiles(WriterCommitMessage):
    count: int
    renames: list  # [(tmp_name, final_name)] relative to root


_TMP_PREFIX = ".tmp-"


class OvtTilesetWriter(DataSourceWriter):
    """Two-phase task-commit writer.

    Tasks write ONLY job- and attempt-tagged temp names
    (``.tmp-{job}-{attempt}-...``); the driver renames winners to final
    names in :meth:`commit` and deletes THIS JOB'S temps in :meth:`abort`.
    This makes retried / speculatively-executed tasks safe (the losing
    attempt's temp is swept, never renamed — no duplicate shards), failed
    jobs leave no final files, readers never see torn half-written tiles
    (``_list_tiles`` skips the temp prefix explicitly, and rename is atomic
    per file), and two jobs appending to the same directory cannot sweep
    each other's in-flight temps (sweeps match the job tag).

    Shard final names are ``part-{job}-{partitionId:05d}.ovtshard`` —
    deterministic per partition WITHIN a job (a task retry converges to one
    final file) and unique across jobs (``mode("append")`` runs never
    clobber an earlier run's shards; re-running an append job therefore
    APPENDS a second copy — use ``mode("overwrite")`` for idempotent
    re-runs).  ``mode("overwrite")`` clears pre-existing tile/shard files at
    commit time (commit-scoped, not constructor-scoped: an aborted
    overwrite leaves the old tileset intact).
    """

    def __init__(self, options, overwrite: bool):
        self.root = options.get("path")
        if not self.root:
            raise ValueError("ovt_tileset requires .option('path', <dir>)")
        self.suffix = options.get("suffix", "ovt").lstrip(".")
        self.layout = options.get("layout", "files")
        if self.layout not in ("files", "shard"):
            raise ValueError(f"layout must be files|shard, got {self.layout!r}")
        self.overwrite = overwrite
        # driver-side per-job tag, pickled to every task: shard names are
        # deterministic within a job (retries converge to one final file) but
        # unique across jobs (mode("append") never clobbers an earlier run)
        import uuid

        self.job_tag = uuid.uuid4().hex[:8]

    @staticmethod
    def _attempt_tag() -> tuple[int, str]:
        from pyspark import TaskContext

        ctx = TaskContext.get()
        if ctx is None:  # direct invocation outside a task (tests)
            import uuid

            return 0, uuid.uuid4().hex[:12]
        return ctx.partitionId(), f"{ctx.partitionId()}-{ctx.taskAttemptId()}"

    def write(self, rows) -> _WroteFiles:
        os.makedirs(self.root, exist_ok=True)
        part_id, tag = self._attempt_tag()
        if self.layout == "shard":
            # one packed file per task — repartition upstream to choose the
            # shard count/size (e.g. .repartition(200) -> 200 shards)
            entries = [
                (int(r["zoom"]), int(r["tile_x"]), int(r["tile_y"]), bytes(r["tile"]))
                for r in rows
            ]
            if not entries:
                return _WroteFiles(0, [])
            tmp = f"{_TMP_PREFIX}{self.job_tag}-{tag}{_SHARD_SUFFIX}"
            final = f"part-{self.job_tag}-{part_id:05d}{_SHARD_SUFFIX}"
            n = write_shard(os.path.join(self.root, tmp), entries)
            return _WroteFiles(n, [(tmp, final)])
        renames = []
        for row in rows:
            final = f"{int(row['zoom'])}_{int(row['tile_x'])}_{int(row['tile_y'])}.{self.suffix}"
            tmp = f"{_TMP_PREFIX}{self.job_tag}-{tag}-{final}"
            with open(os.path.join(self.root, tmp), "wb") as fh:
                fh.write(bytes(row["tile"]))
            renames.append((tmp, final))
        return _WroteFiles(len(renames), renames)

    def _sweep_temps(self, settle_secs: float = 0.0):
        """Remove THIS JOB'S attempt temp files (matched on the job tag —
        a concurrent append job's in-flight temps are not ours to delete).
        With ``settle_secs`` > 0, keep sweeping until two consecutive scans
        find nothing: when a job aborts, Spark fails the job as soon as one
        task fails while sibling tasks are still running ("zombies") —
        those may flush temps AFTER the driver-side abort() starts, so a
        single sweep races them."""
        mine = f"{_TMP_PREFIX}{self.job_tag}-"
        deadline = time.monotonic() + settle_secs
        clean_scans = 0
        while True:
            removed = 0
            if os.path.isdir(self.root):
                for fn in os.listdir(self.root):
                    if fn.startswith(mine):
                        try:
                            os.remove(os.path.join(self.root, fn))
                            removed += 1
                        except OSError:
                            pass
            clean_scans = clean_scans + 1 if removed == 0 else 0
            if clean_scans >= 2 or time.monotonic() >= deadline:
                return
            time.sleep(0.2)

    def commit(self, messages):
        keep = set()
        renames = []
        for m in messages:
            if m is not None:
                for tmp, final in m.renames:
                    renames.append((tmp, final))
                    keep.add(final)
        if self.overwrite and os.path.isdir(self.root):
            # clear pre-existing tileset files the new job didn't (re)write —
            # RECURSIVELY, because the reader lists recursively (os.walk):
            # a top-level-only sweep would leave stale nested tiles that a
            # subsequent read unions with the new output
            for dirpath, _dirs, fns in os.walk(self.root):
                for fn in fns:
                    rel = os.path.relpath(os.path.join(dirpath, fn), self.root)
                    if fn.startswith(_TMP_PREFIX) or rel in keep or fn in keep:
                        continue
                    if fn.endswith(_SUFFIXES) or fn.endswith(_SHARD_SUFFIX):
                        try:
                            os.remove(os.path.join(dirpath, fn))
                        except OSError:
                            pass
        for tmp, final in renames:
            os.replace(os.path.join(self.root, tmp), os.path.join(self.root, final))
        # losing speculative/retried attempts left temps not in any message
        self._sweep_temps()

    def abort(self, messages):
        self._sweep_temps(settle_secs=10.0)


def compact_tileset(spark, src: str, dst: str, shards: int = 16) -> int:
    """Loose tileset directory -> ``shards`` packed ``.ovtshard`` files.
    Returns the tile count.  (Read side registered per session; requires
    ``spark.sql.python.filterPushdown.enabled=true`` — plans.get_spark sets
    it.)"""
    spark.dataSource.register(OvtTilesetDataSource)
    df = spark.read.format("ovt_tileset").option("path", src).load()
    (
        df.select("zoom", "tile_x", "tile_y", "tile")
        .repartition(shards)
        .write.format("ovt_tileset")
        .option("path", dst)
        .option("layout", "shard")
        .mode("append")
        .save()
    )
    # count via a skip_blob scan: re-running the full reader would re-read
    # every tile's BYTES a second time just to count rows
    meta = (
        spark.read.format("ovt_tileset")
        .option("path", src)
        .option("skip_blob", "true")
        .load()
    )
    return meta.count()


class OvtTilesetDataSource(DataSource):
    """``spark.read.format("ovt_tileset").option("path", dir).load()``."""

    @classmethod
    def name(cls) -> str:
        return "ovt_tileset"

    def schema(self) -> str:
        return SCHEMA

    def reader(self, schema: StructType) -> OvtTilesetReader:
        return OvtTilesetReader(self.options)

    def writer(self, schema: StructType, overwrite: bool) -> OvtTilesetWriter:
        return OvtTilesetWriter(self.options, overwrite)
