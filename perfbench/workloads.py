"""The benchmark's workloads.

Each workload has ``setup`` (inputs and references), ``warmup`` (one untimed
pass, checked), ``run_pass`` (one measured pass, returning its wall time)
and ``trace`` (per-layer metrics).  Every pass checks its outputs against the references
in ``inputs``; ``ctx.check`` counts each check as one operation.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import statistics
import time

import numpy as np

from . import inputs
from . import trace as tr

SIZES = {
    "chain_pages": 160_000,
    "tile_pages": 40_000,
    "tile_windows": 10,  # in the traced run
    "window_tiles": 16,
    "suite_docs": 500,
    "suite_lineitem": 6000,
    "suite_supplier": 10,
}
SMOKE_SIZES = dict(SIZES, chain_pages=4000, tile_pages=3000)

# oracled driver queries run once each in the tile_read traced run
SUITE_QUERIES = ("tile_roundtrip_full", "spatial_join_dist", "agg_pushdown", "pagerank")
CHAIN_SHA_SEED = 0  # the seed whose chain output bytes are pinned
HERE = os.path.dirname(os.path.abspath(__file__))


class Workload:
    name = ""

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.sizes = ctx.sizes
        self.tracer = tr.Tracer(ctx.spark.sparkContext, self.name, ctx.trace)
        self._outputs = 0

    def out_dir(self) -> str:
        self._outputs += 1
        return os.path.join(self.ctx.work, f"out-{self._outputs}")

    def trace_jobs(self, groups: dict) -> dict:
        """Per-layer metrics read from the event log's job groups."""
        return {}


# ---------------------------------------------------------------------------
# chain_write: pages -> geoparse -> polygon join -> nearest POI -> bulk encode
# -> shard tileset
# ---------------------------------------------------------------------------


class ChainWrite(Workload):
    name = "chain_write"

    def setup(self) -> None:
        from open_vector_tile_spark.sources import polygons_pdf

        n = self.sizes["chain_pages"]
        start = inputs.page_start(self.ctx.seed, n)
        self.pages_dir = os.path.join(self.ctx.work, "pages")
        inputs.build_atomic(
            self.pages_dir,
            lambda d: inputs.write_pages(d, n, start, 2 * self.ctx.cores),
            lambda d: _expect_rows(d, n),
        )
        self.n_pages = n
        self.pts = inputs.PagePoints(n, start)
        rows, _pids = inputs.polygon_matches(self.pts, polygons_pdf())
        tx, ty = self.pts.tx[rows].tolist(), self.pts.ty[rows].tolist()
        self.expect_features = sorted(zip(tx, ty, self.pts.urls(rows)))
        self.expect_tiles = len(set(zip(tx, ty)))

    def chain_write(self, spark, pages_paths: list[str], cores: int, out: str) -> float:
        from open_vector_tile_spark.benchjobs import build_pipeline_chain, write_pipeline_tiles

        t0 = time.monotonic()
        pages = spark.read.parquet(*pages_paths)
        write_pipeline_tiles(build_pipeline_chain(spark, pages, cores), out)
        return time.monotonic() - t0

    def warmup(self) -> None:
        out = self.out_dir()
        self.chain_write(self.spark, [self.pages_dir], self.ctx.cores, out)
        self.read_back(out)
        got = sorted(inputs.shard_features(out))
        self.ctx.check("chain features = ray-cast reference", got == self.expect_features,
                       f"{len(got)} features, expected {len(self.expect_features)}")
        if self.ctx.seed == CHAIN_SHA_SEED and not self.ctx.smoke:
            got_sha = tileset_sha256(out)
            want = expected()["chain_write_tiles_sha256"]
            self.ctx.check("chain tile bytes sha256", got_sha == want, got_sha)
        shutil.rmtree(out)

    def run_pass(self) -> float:
        out = self.out_dir()
        wall = self.chain_write(self.spark, [self.pages_dir], self.ctx.cores, out)
        self.read_back(out)
        shutil.rmtree(out)
        return wall

    def summary(self, passes: list) -> str:
        rate = self.n_pages / statistics.median(passes)
        return f"chain_rows_per_s {rate:.1f} pages/s over {len(passes)} passes"

    def page_files(self) -> list[str]:
        return sorted(
            os.path.join(self.pages_dir, f)
            for f in os.listdir(self.pages_dir)
            if f.endswith(".parquet")
        )

    def read_back(self, out: str) -> None:
        from open_vector_tile_spark.benchjobs import read_back_tile_count

        n = read_back_tile_count(self.spark, out)
        self.ctx.check("read-back tile count", n == self.expect_tiles,
                       f"{n} tiles, expected {self.expect_tiles}")

    def trace(self) -> dict:
        from open_vector_tile_spark.benchjobs import PIPELINE_STAGES, build_pipeline_chain
        from open_vector_tile_spark.functions.text import geoparse
        from open_vector_tile_spark.operators.spatial_join import spatial_join
        from open_vector_tile_spark.sources import polygons_pdf
        from open_vector_tile_spark.sources.tileset import _list_tiles

        m = {}
        # the first pass after warm-up still runs slower: reconcile against the second
        untraced = [self.run_pass() for _ in range(2)][-1]
        pages = self.spark.read.parquet(self.pages_dir)
        cut = {}
        out = self.out_dir()
        with self.tracer.span("pass") as whole:
            # cumulative cut-offs: stage k's time is cut[k] - cut[k-1]
            for stage in PIPELINE_STAGES:
                with self.tracer.span(stage):
                    t0 = time.monotonic()
                    build_pipeline_chain(self.spark, pages, self.ctx.cores, upto=stage).write.format(
                        "noop"
                    ).mode("overwrite").save()
                    cut[stage] = time.monotonic() - t0
            with self.tracer.span("write"):
                full = self.chain_write(self.spark, [self.pages_dir], self.ctx.cores, out)
        prev = 0.0
        for stage in PIPELINE_STAGES:
            m[f"chain.{stage}_s"] = cut[stage] - prev
            prev = cut[stage]
        m["chain.write_s"] = full - cut["encode"]
        m["chain.stage_sum_s"] = full
        m["chain.untraced_pass_s"] = untraced
        m["trace.pass_s"] = whole["end"] - whole["start"]
        m["trace.overhead_s"] = full - untraced
        listing = _list_tiles(out)
        m["chain.tiles"] = len(listing)
        m["chain.tile_bytes"] = sum(t[4] for t in listing)
        self.ctx.check("traced chain tile count", len(listing) == self.expect_tiles,
                       f"{len(listing)} vs {self.expect_tiles}")
        shutil.rmtree(out)

        pts = geoparse(pages)
        with self.tracer.span("sjoin_count"):
            cand = spatial_join(pts, polygons_pdf(), zoom=6, exact=False).count()
            match = spatial_join(pts, polygons_pdf(), zoom=6).count()
        self.ctx.check("sjoin matches = ray-cast reference", match == len(self.expect_features),
                       f"{match} vs {len(self.expect_features)}")
        m["chain.sjoin_candidates"] = cand
        m["chain.sjoin_matches"] = match
        m["chain.sjoin_match_ratio"] = match / max(cand, 1)

        m["codec.bulk_encode_us_per_feature"] = tr.bulk_encode_us(self.pts, 20_000)
        m["codec.generic_encode_us_per_feature"] = tr.generic_encode_us(self.pts, 5_000)

        # parallel efficiency: the same chain on a quarter of the pages, on
        # local[cores] and then on local[1]
        files = self.page_files()
        quarter = files[: max(1, len(files) // 4)]
        n_q = sum(inputs.parquet_rows_file(f) for f in quarter)
        with self.tracer.span("local_n"):
            out = self.out_dir()
            t_n = self.chain_write(self.spark, quarter, self.ctx.cores, out)
            shutil.rmtree(out)
        spark1 = self.ctx.restart_session(cores=1)
        self.tracer.sc = spark1.sparkContext
        with self.tracer.span("local_1"):
            out = self.out_dir()
            t_1 = self.chain_write(spark1, quarter, 1, out)
            shutil.rmtree(out)
        m["chain.local1_rows_per_s"] = n_q / t_1
        m["chain.scaling_eff_1to4"] = t_1 / (self.ctx.cores * t_n)
        return m


# ---------------------------------------------------------------------------
# tile_read: one shard tileset, full decode scans and 16x16-tile windows
# ---------------------------------------------------------------------------


class TileRead(Workload):
    name = "tile_read"

    def setup(self) -> None:
        n = self.sizes["tile_pages"]
        self.n_pages = n
        self.pts = inputs.PagePoints(n, inputs.page_start(self.ctx.seed, n))
        tiles = np.unique(np.stack([self.pts.tx, self.pts.ty], axis=1), axis=0)
        self.n_tiles = len(tiles)
        self.tiles_dir = os.path.join(self.ctx.work, "tileset")
        # (features, sum of tile_x, sum of tile_y, total props_json length)
        props_len = sum(
            len(json.dumps({"url": u, "lang": lang}))
            for u, lang in zip(self.pts.urls(np.arange(n)), inputs.page_langs(self.pts.idx))
        )
        self.scan_sums = (n, int(self.pts.tx.sum()), int(self.pts.ty.sum()), props_len)

        def verify(d: str) -> dict:
            from open_vector_tile_spark.sources.tileset import _list_tiles

            listed = len(_list_tiles(d))
            if listed != self.n_tiles:
                raise RuntimeError(f"tileset build: {listed} tiles, expected {self.n_tiles}")
            return {"tiles": listed, "features": n}

        inputs.build_atomic(
            self.tiles_dir,
            lambda d: inputs.write_point_tileset(d, self.pts, 3 * self.ctx.cores),
            verify,
        )
        # Seeded windows anchored on page tiles, kept only if they hold 8-16
        # tiles: the reader splits a query into min(8, tiles) read tasks, so
        # this gives every window the same task count and every seed the
        # same work per window.
        rng = np.random.RandomState(self.ctx.seed)
        size = self.sizes["window_tiles"]
        self.windows = []
        for _ in range(100_000):
            i = rng.randint(0, n)
            x0 = int(self.pts.tx[i]) - int(rng.randint(0, size))
            y0 = int(self.pts.ty[i]) - int(rng.randint(0, size))
            inside = ((tiles >= (x0, y0)) & (tiles < (x0 + size, y0 + size))).all(axis=1)
            if 8 <= inside.sum() <= 16:
                self.windows.append((x0, y0, self.pts.window_count(x0, y0, size)))
                if len(self.windows) == 24:
                    break
        else:
            raise RuntimeError("too few 8-16 tile windows in this tileset")
        self.w = 0

    def where(self, x0: int, y0: int):
        from pyspark.sql import functions as F

        size = self.sizes["window_tiles"]
        return (
            (F.col("zoom") == inputs.ZOOM)
            & F.col("tile_x").between(x0, x0 + size - 1)
            & F.col("tile_y").between(y0, y0 + size - 1)
        )

    def scan(self) -> float:
        from pyspark.sql import functions as F

        from open_vector_tile_spark.operators.decode import read_tileset

        t0 = time.monotonic()
        got = tuple(
            read_tileset(self.spark, self.tiles_dir)
            .agg(F.count("*"), F.sum("tile_x"), F.sum("tile_y"), F.sum(F.length("props_json")))
            .collect()[0]
        )
        dt = time.monotonic() - t0
        self.ctx.check("scan feature count and checksums", got == self.scan_sums,
                       f"{got} vs {self.scan_sums}")
        return dt

    def window(self) -> float:
        from open_vector_tile_spark.operators.decode import read_tileset

        x0, y0, want = self.windows[self.w % len(self.windows)]
        self.w += 1
        t0 = time.monotonic()
        n = read_tileset(self.spark, self.tiles_dir, where=self.where(x0, y0)).count()
        dt = time.monotonic() - t0
        self.ctx.check("window feature count", n == want, f"window ({x0},{y0}): {n} vs {want}")
        return dt

    def warmup(self) -> None:
        self.scan()
        self.window()

    def run_pass(self) -> float:
        return self.scan()

    def summary(self, passes: list) -> str:
        rate = self.n_pages / statistics.median(passes)
        return f"scan_features_per_s {rate:.1f} features/s over {len(passes)} scans"

    def trace(self) -> dict:
        from pyspark.sql import functions as F

        m = {}
        untraced = self.run_pass()
        with self.tracer.span("pass") as whole:
            with self.tracer.span("scan"):
                scan = self.scan()
            with self.tracer.span("windows"):
                windows = [self.window() for _ in range(self.sizes["tile_windows"])]
        m["trace.pass_s"] = whole["end"] - whole["start"]
        m["trace.overhead_s"] = scan - untraced
        def tiles(skip_blob: str):
            return (
                self.spark.read.format("ovt_tileset")
                .option("path", self.tiles_dir)
                .option("skip_blob", skip_blob)
                .load()
            )

        list_s, matched = [], []
        with self.tracer.span("list"):  # listing and pushdown only: no blob read, no decode
            for x0, y0, _want in self.windows[:3]:
                t0 = time.monotonic()
                matched.append(tiles("true").filter(self.where(x0, y0)).count())
                list_s.append(time.monotonic() - t0)
        with self.tracer.span("raw_scan"):  # every blob read, none decoded
            t0 = time.monotonic()
            raw_bytes = tiles("false").agg(F.sum("n_bytes")).collect()[0][0]
            raw = time.monotonic() - t0
        m["read.list_s"] = float(np.median(list_s))
        m["read.raw_scan_s"] = raw
        m["read.decode_s"] = scan - raw
        m["read.scan_s"] = scan
        m["read.window_s"] = float(np.median(windows))
        m["read.entries_listed"] = self.n_tiles
        m["read.entries_matched"] = float(np.mean(matched))
        m["read.tile_bytes"] = raw_bytes
        m["codec.decode_us_per_feature"] = tr.decode_us(self.tiles_dir)
        m.update(self.suite_probe())
        return m

    def suite_probe(self) -> dict:
        """The oracled driver queries, each run once (cold) and checked
        against the committed DuckDB oracle hashes."""
        import __spark_entry__ as entry
        from tools.check_oracles import value_hash

        data = os.path.join(self.ctx.work, "suite")
        inputs.build_suite_tables(data, self.sizes)
        queries, want = entry.queries(), expected()["query_suite"]
        m = {}
        for q in SUITE_QUERIES:
            with self.tracer.span(q):
                t0 = time.monotonic()
                got = queries[q](self.spark, data).toPandas()
                m[f"suite.{q}_s"] = time.monotonic() - t0
            ok = (len(got), sorted(got.columns), value_hash(got)) == (
                want[q]["rows"], want[q]["columns"], want[q]["hash"]
            )
            self.ctx.check(f"{q} = DuckDB oracle", ok, f"{len(got)} rows")
        jsc = self.spark.sparkContext._jsc
        m["suite.pinned_rdds"] = int(jsc.getPersistentRDDs().size())
        m["suite.pinned_mb"] = (
            sum(i.memSize() + i.diskSize() for i in jsc.sc().getRDDStorageInfo()) / 2**20
        )
        return m

    def trace_jobs(self, groups: dict) -> dict:
        return {
            f"suite.{q}_jobs": groups.get(f"{self.name}/{q}", {}).get("jobs", 0)
            for q in SUITE_QUERIES
        }


WORKLOADS = {w.name: w for w in (ChainWrite, TileRead)}


def _expect_rows(path: str, n: int) -> dict:
    got = inputs.parquet_rows(path)
    if got != n:
        raise RuntimeError(f"{path}: {got} rows written, expected {n}")
    return {"rows": got}


def tileset_sha256(tiles_dir: str) -> str:
    """sha256 over the sorted (z, x, y, tile bytes) of a shard tileset."""
    from open_vector_tile_spark.sources.tileset import read_shard_index

    entries = []
    for fn in os.listdir(tiles_dir):
        if fn.endswith(".ovtshard"):
            path = os.path.join(tiles_dir, fn)
            idx, start = read_shard_index(path)
            with open(path, "rb") as fh:
                data = fh.read()
            entries += [(z, x, y, data[start + o : start + o + n]) for z, x, y, o, n in idx.tolist()]
    h = hashlib.sha256()
    for z, x, y, blob in sorted(entries):
        h.update(f"{z}/{x}/{y}:{len(blob)}:".encode())
        h.update(blob)
    return h.hexdigest()


def expected() -> dict:
    with open(os.path.join(HERE, "expected.json")) as fh:
        return json.load(fh)
