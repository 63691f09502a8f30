"""Seeded benchmark inputs, their atomic on-disk builds, and the numpy
references every correctness check compares against.

The references are written here from scratch (even-odd ray-cast, web-mercator
tile math, a small table generator) so that a defect in the engine's own
geometry or codec code cannot also hide in the expected values.
"""

from __future__ import annotations

import os
import shutil
import uuid

import numpy as np

ZOOM = 10
EXTENT = 4096
MAX_LAT = 85.05112877980659  # web-mercator clamp


def build_atomic(final_dir: str, build, verify) -> dict:
    """Build ``final_dir`` under a temporary sibling name, check it with
    ``verify(tmp) -> counts`` (which raises on a wrong count), then rename
    it into place: a reader never sees a half-written or unchecked input
    under its final name."""
    tmp = f"{final_dir}.tmp-{uuid.uuid4().hex[:8]}"
    try:
        build(tmp)
        counts = verify(tmp)
        os.rename(tmp, final_dir)
    finally:
        if os.path.isdir(tmp):
            shutil.rmtree(tmp)
    return counts


# ---------------------------------------------------------------------------
# pages: the engine's own fixture generator, shifted by the seed
# ---------------------------------------------------------------------------


def page_start(seed: int, n: int) -> int:
    """First page row of a seed: one of 256 disjoint row ranges.  The cap
    keeps the generator's page timestamps (137 s apart from 2025) inside
    the nanosecond range for every size used here."""
    return (seed % 256) * n


def write_pages(out_dir: str, n: int, start: int, files: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from open_vector_tile_spark.sources import pages_pdf

    os.makedirs(out_dir)
    bounds = np.linspace(0, n, files + 1).astype(np.int64)
    for k in range(files):
        lo, hi = int(bounds[k]), int(bounds[k + 1])
        table = pa.Table.from_pandas(pages_pdf(hi - lo, start + lo), preserve_index=False)
        pq.write_table(
            table, os.path.join(out_dir, f"part-{k:03d}.parquet"), coerce_timestamps="us"
        )


def parquet_rows_file(path: str) -> int:
    import pyarrow.parquet as pq

    return pq.ParquetFile(path).metadata.num_rows


def parquet_rows(path: str) -> int:
    return sum(
        parquet_rows_file(os.path.join(path, f)) for f in os.listdir(path) if f.endswith(".parquet")
    )


class PagePoints:
    """Reference view of pages ``[start, start + n)``: the coordinates the
    page text carries (``%.5f``, parsed back the way a reader would) and their
    z10 tiles."""

    def __init__(self, n: int, start: int):
        from open_vector_tile_spark.sources.pages import page_coords

        self.idx = np.arange(start, start + n, dtype=np.int64)
        lon, lat = page_coords(self.idx)
        self.lon = np.array([f"{v:.5f}" for v in lon]).astype(np.float64)
        self.lat = np.array([f"{v:.5f}" for v in lat]).astype(np.float64)
        self.tx, self.ty = z_tiles(self.lon, self.lat, ZOOM)

    def urls(self, rows: np.ndarray) -> list[str]:
        return [f"https://example{i % 97}.org/p/{i}" for i in self.idx[rows].tolist()]

    def window_count(self, x0: int, y0: int, size: int) -> int:
        return int(
            np.count_nonzero(
                (self.tx >= x0) & (self.tx < x0 + size) & (self.ty >= y0) & (self.ty < y0 + size)
            )
        )


def z_tiles(lon: np.ndarray, lat: np.ndarray, zoom: int) -> tuple[np.ndarray, np.ndarray]:
    """Web-mercator tile of each point, clamped to the tile grid."""
    n = float(1 << zoom)
    mx = (lon + 180.0) / 360.0 * n
    s = np.sin(np.radians(np.clip(lat, -MAX_LAT, MAX_LAT)))
    my = (0.5 - np.log((1.0 + s) / (1.0 - s)) / (4.0 * np.pi)) * n
    tx = np.clip(np.floor(mx), 0, n - 1).astype(np.int64)
    ty = np.clip(np.floor(my), 0, n - 1).astype(np.int64)
    return tx, ty


def encoder_batch(pts: PagePoints, n: int):
    """The first ``n`` pages as bulk-encoder input, sorted by tile: (row
    order, quantized x, quantized y, (tx, ty) of each tile, features per
    tile)."""
    scale = float(1 << ZOOM)
    tx, ty = pts.tx[:n], pts.ty[:n]
    order = np.lexsort((ty, tx))
    mx = (pts.lon[:n] + 180.0) / 360.0 * scale
    s = np.sin(np.radians(np.clip(pts.lat[:n], -MAX_LAT, MAX_LAT)))
    my = (0.5 - np.log((1.0 + s) / (1.0 - s)) / (4.0 * np.pi)) * scale
    qx = np.floor((mx - tx) * EXTENT + 0.5).astype(np.int64)[order]
    qy = np.floor((my - ty) * EXTENT + 0.5).astype(np.int64)[order]
    keys, counts = np.unique(np.stack([tx[order], ty[order]], axis=1), axis=0, return_counts=True)
    return order, qx, qy, keys, counts


def page_langs(idx: np.ndarray) -> np.ndarray:
    from open_vector_tile_spark.sources.pages import LANGS

    return np.array(LANGS, dtype=object)[idx % len(LANGS)]


def write_point_tileset(out_dir: str, pts: PagePoints, shards: int) -> int:
    """Every page as one point feature (props ``url``, ``lang``) at z10,
    encoded with the engine's bulk encoder and packed round-robin into
    ``shards`` shard files; returns the tile count."""
    from open_vector_tile_spark.codec.fast_points import encode_point_layer_tiles_bulk
    from open_vector_tile_spark.sources.tileset import write_shard

    n = len(pts.idx)
    order, qx, qy, keys, counts = encoder_batch(pts, n)
    props = {
        "url": np.array(pts.urls(order), dtype=object),
        "lang": page_langs(pts.idx[order]),
    }
    blobs = encode_point_layer_tiles_bulk(
        "pages", EXTENT, {"url": "string", "lang": "string"}, props, qx, qy, counts
    )
    os.makedirs(out_dir)
    entries = [(ZOOM, int(x), int(y), b) for (x, y), b in zip(keys.tolist(), blobs)]
    for k in range(shards):
        write_shard(os.path.join(out_dir, f"part-{k:05d}.ovtshard"), entries[k::shards])
    return len(entries)


def shard_features(tiles_dir: str):
    """(tile_x, tile_y, url) of every feature in a shard tileset, decoded on
    the driver straight from the shard files."""
    from open_vector_tile_spark.codec import VectorTile
    from open_vector_tile_spark.sources.tileset import read_shard_index

    out = []
    for fn in sorted(os.listdir(tiles_dir)):
        if not fn.endswith(".ovtshard"):
            continue
        path = os.path.join(tiles_dir, fn)
        idx, start = read_shard_index(path)
        with open(path, "rb") as fh:
            data = fh.read()
        for _z, x, y, off, ln in idx.tolist():
            for layer in VectorTile(data[start + off : start + off + ln]).layers.values():
                out.extend((x, y, layer.feature(i).properties["url"]) for i in range(len(layer)))
    return out


# ---------------------------------------------------------------------------
# polygon join reference: even-odd ray-cast, holes subtract
# ---------------------------------------------------------------------------


def _in_ring(px: np.ndarray, py: np.ndarray, ring: np.ndarray) -> np.ndarray:
    inside = np.zeros(len(px), dtype=bool)
    x1, y1 = ring[:-1, 0], ring[:-1, 1]
    x2, y2 = ring[1:, 0], ring[1:, 1]
    for a, b, c, d in zip(x1, y1, x2, y2):
        crosses = (b > py) != (d > py)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = (c - a) * (py - b) / (d - b) + a
        inside ^= crosses & (px < xint)
    return inside


def _area2(ring: np.ndarray) -> float:
    x, y = ring[:, 0], ring[:, 1]
    return float(np.sum(x[:-1] * y[1:] - x[1:] * y[:-1]))


def polygon_matches(pts: PagePoints, polygons) -> tuple[np.ndarray, np.ndarray]:
    """(page row, poly_id) for every page inside a polygon (outer ring minus
    its holes; zero-area rings contain nothing)."""
    rows, pids = [], []
    for pid, flat_rings in zip(polygons["poly_id"].tolist(), polygons["ring_xy"].tolist()):
        rings = [np.asarray(r, dtype=np.float64).reshape(-1, 2) for r in flat_rings]
        rings = [r for r in rings if _area2(r) != 0.0]
        if not rings:
            continue
        outer = rings[0]
        box = (
            (pts.lon >= outer[:, 0].min())
            & (pts.lon <= outer[:, 0].max())
            & (pts.lat >= outer[:, 1].min())
            & (pts.lat <= outer[:, 1].max())
        )
        cand = np.flatnonzero(box)
        keep = _in_ring(pts.lon[cand], pts.lat[cand], outer)
        for hole in rings[1:]:
            keep &= ~_in_ring(pts.lon[cand], pts.lat[cand], hole)
        rows.append(cand[keep])
        pids.append(np.full(int(keep.sum()), int(pid), dtype=np.int64))
    return np.concatenate(rows), np.concatenate(pids)


# ---------------------------------------------------------------------------
# query-suite tables (fixed data: the committed oracle hashes are over these)
# ---------------------------------------------------------------------------

SUITE_SEED = 42
VOCAB = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key query "
    "a scan batch"
).split()


def write_suite_tables(out_dir: str, n_docs: int, n_lineitem: int, n_supplier: int) -> None:
    """documents, supplier and lineitem with the columns the suite queries
    (``__spark_entry__.queries()``) and their DuckDB twins read."""
    import pandas as pd

    rng = np.random.RandomState(SUITE_SEED)
    n_orig = int(n_docs * 0.95)
    texts = [" ".join(rng.choice(VOCAB, size=rng.randint(10, 101))) for _ in range(n_orig)]
    texts += [texts[rng.randint(0, n_orig)] + " dup" for _ in range(n_docs - n_orig)]
    docs = pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(["en", "zh", "es", "fr", "de"], size=n_docs),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    supplier = pd.DataFrame(
        {
            "s_suppkey": np.arange(n_supplier, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supplier)],
            "s_nationkey": rng.randint(0, 25, n_supplier).astype(np.int32),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supplier), 2),
        }
    )
    qty = rng.randint(1, 51, n_lineitem).astype(np.float64)
    lineitem = pd.DataFrame(
        {
            "l_orderkey": rng.randint(0, n_lineitem // 4 + 1, n_lineitem).astype(np.int64),
            "l_partkey": rng.randint(0, 200, n_lineitem).astype(np.int64),
            "l_suppkey": rng.randint(0, n_supplier, n_lineitem).astype(np.int64),
            "l_linenumber": rng.randint(1, 8, n_lineitem).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_lineitem), 2),
            "l_discount": rng.randint(0, 11, n_lineitem) / 100.0,
            "l_tax": rng.randint(0, 9, n_lineitem) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], size=n_lineitem),
            "l_linestatus": rng.choice(["F", "O"], size=n_lineitem),
            "l_shipdate": (
                pd.Timestamp("1992-01-01")
                + pd.to_timedelta(rng.randint(0, 3200, n_lineitem), unit="D")
            ).astype("datetime64[us]"),
        }
    )
    os.makedirs(out_dir)
    tables = {"documents": docs, "supplier": supplier, "lineitem": lineitem}
    for name, pdf in tables.items():
        pdf.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)


def build_suite_tables(out_dir: str, sizes: dict) -> dict:
    want = {
        "documents": sizes["suite_docs"],
        "lineitem": sizes["suite_lineitem"],
        "supplier": sizes["suite_supplier"],
    }

    def verify(d: str) -> dict:
        got = {t: parquet_rows_file(os.path.join(d, f"{t}.parquet")) for t in want}
        if got != want:
            raise RuntimeError(f"suite tables: {got} rows written, expected {want}")
        return got

    return build_atomic(
        out_dir,
        lambda d: write_suite_tables(d, want["documents"], want["lineitem"], want["supplier"]),
        verify,
    )
