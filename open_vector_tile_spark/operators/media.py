"""Multimodal binary columns — opaque media blobs with typed metadata.

A 100 TB training-data pipeline carries images / audio / video next to the
text: opaque ``binary`` columns plus typed metadata, with decode /
feature-extract / resize / frame-sample as Arrow-batched kernels.  This
module provides that plumbing end-to-end over a deterministic synthetic
container format ("OVM1") so every stage is byte-exact testable without
image/audio libraries; the REAL codec decode (JPEG/PNG/WAV) is the one
deliberately-stubbed step (:func:`decode_image_real`), gated behind an
import-try as the environment ships no media libs.

Container layout (big-endian, 20-byte header, payload follows)::

    bytes  0-3   magic   b"OVM1"
    byte   4     kind    0=image 1=audio 2=video
    bytes  5-6   width   uint16   (0 for audio)
    bytes  7-8   height  uint16   (0 for audio)
    byte   9     channels uint8
    bytes 10-11  n_frames uint16  (image=1, audio=0, video>=2)
    bytes 12-15  sample_rate uint32 (0 unless audio)
    bytes 16-19  payload_len uint32
    bytes 20..   payload  (pixel planes row-major (r*w+c)*ch+p; audio PCM8)

Synthesis spec (single source of truth — the DuckDB oracles replay this
arithmetic independently, so the generator, the header parser and the byte
kernels cross-check each other):

    kind = media_id % 3
    image: w=8+id%8  h=8+id%6  ch=1+id%2  frames=1       payload=w*h*ch
    audio: w=h=0     ch=1+id%2 frames=0   rate=8000*(1+id%4)
           n_samples=256+(id%16)*16                      payload=n_samples*ch
    video: w=8+id%8  h=8+id%6  ch=3       frames=2+id%6  payload=w*h*ch*frames
    payload byte i (0-based): (media_id*131 + i*31 + 7) % 256

Scale shape: synthesis and the byte kernels are embarrassingly parallel
``mapInPandas`` stages — per Arrow batch, ALL payload bytes are assembled /
reduced in one concatenated numpy buffer (``np.add.reduceat`` /
``np.minimum.reduceat`` over row offsets); the only per-row Python is
buffer slicing.  Header PARSING never leaves the JVM: ``substring`` on
binary + ``hex``/``conv`` stays inside whole-stage codegen, so
metadata-only queries (the common case at 100 TB — prune by kind/dims
before touching payloads) read fixed-width prefixes with zero Python.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ._parallel import fan_out

__all__ = [
    "synth_media",
    "media_metadata",
    "media_byte_stats",
    "frame_sample",
    "resize_image_width",
    "media_pixel_stats",
    "pillow_module",
    "decode_image_real",
]

MAGIC = b"OVM1"
HEADER_LEN = 20
KIND_IMAGE, KIND_AUDIO, KIND_VIDEO = 0, 1, 2


# ---------------------------------------------------------------------------
# synthesis (deterministic, vectorized)
# ---------------------------------------------------------------------------


def _spec_arrays(mid: np.ndarray) -> dict[str, np.ndarray]:
    """Vectorized synthesis spec: per-media typed metadata from media_id."""
    kind = (mid % 3).astype(np.int64)
    img = kind == KIND_IMAGE
    aud = kind == KIND_AUDIO
    vid = kind == KIND_VIDEO
    w = np.where(aud, 0, 8 + mid % 8)
    h = np.where(aud, 0, 8 + mid % 6)
    ch = np.where(vid, 3, 1 + mid % 2)
    frames = np.where(img, 1, np.where(vid, 2 + mid % 6, 0))
    rate = np.where(aud, 8000 * (1 + mid % 4), 0)
    n_samples = np.where(aud, 256 + (mid % 16) * 16, 0)
    payload = np.where(aud, n_samples * ch, w * h * ch * frames)
    return {
        "kind": kind,
        "width": w,
        "height": h,
        "channels": ch,
        "n_frames": frames,
        "sample_rate": rate,
        "payload_len": payload,
    }


def _payload_bytes(mid_per_byte: np.ndarray, i_per_byte: np.ndarray) -> np.ndarray:
    """payload byte i of media m: (m*131 + i*31 + 7) % 256 — int64-safe."""
    return ((mid_per_byte * 131 + i_per_byte * 31 + 7) % 256).astype(np.uint8)


def _be(buf: np.ndarray, col: int, vals: np.ndarray, nbytes: int) -> None:
    """Write big-endian uint fields into the (n, HEADER_LEN) header block."""
    for b in range(nbytes):
        buf[:, col + b] = (vals >> (8 * (nbytes - 1 - b))) & 0xFF


def synth_media(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """documents -> deterministic media table ``(media_id, blob)``.

    One mapInPandas stage, no shuffle: per Arrow batch the headers are
    packed as an (n, 20) uint8 block and every payload byte of every row is
    produced by ONE vectorized formula over a concatenated index vector.

    The id column is fanned to data-sized width first (no-op for already-
    parallel input): a single-row-group parquet scan is 1 task, which ran
    the whole synthesis + every downstream byte kernel serially.  64 KB/
    task density, NOT the 16 KB of the per-row-Python clip kernels — the
    kernels here are whole-batch numpy, so tasks are cheap and too-fine
    splits just pay python-worker roundtrips (measured at sf0.1:
    media_stats 1.18 s -> 0.74 at 64 KB but 1.17 at 16 KB).  Synthesis is
    per-row deterministic from media_id, so partitioning cannot change any
    blob."""

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            mid = pdf[id_col].to_numpy(np.int64)
            n = len(mid)
            if n == 0:
                continue
            s = _spec_arrays(mid)
            plen = s["payload_len"]
            head = np.zeros((n, HEADER_LEN), dtype=np.uint8)
            head[:, 0:4] = np.frombuffer(MAGIC, dtype=np.uint8)
            head[:, 4] = s["kind"]
            _be(head, 5, s["width"], 2)
            _be(head, 7, s["height"], 2)
            head[:, 9] = s["channels"]
            _be(head, 10, s["n_frames"], 2)
            _be(head, 12, s["sample_rate"], 4)
            _be(head, 16, plen, 4)
            total = int(plen.sum())
            # one flat byte-index vector across every payload in the batch
            starts = np.concatenate(([0], np.cumsum(plen)[:-1]))
            i_flat = np.arange(total, dtype=np.int64) - np.repeat(starts, plen)
            m_flat = np.repeat(mid, plen)
            pay = _payload_bytes(m_flat, i_flat)
            ends = np.cumsum(plen)
            pay_bytes = pay.tobytes()
            blobs = [
                head[r].tobytes() + pay_bytes[int(starts[r]) : int(ends[r])]
                for r in range(n)
            ]
            yield pd.DataFrame({"media_id": mid, "blob": blobs})

    src = fan_out(docs.select(id_col))
    return src.mapInPandas(gen, "media_id long, blob binary")


# ---------------------------------------------------------------------------
# metadata — JVM-side header parse (whole-stage codegen, no Python)
# ---------------------------------------------------------------------------


def _be_field(blob: Column, pos1: int, nbytes: int) -> Column:
    """Big-endian uint field at 1-based byte offset ``pos1`` as a long."""
    return F.conv(F.hex(F.substring(blob, pos1, nbytes)), 16, 10).cast("long")


def media_metadata(media: DataFrame, blob_col: str = "blob") -> DataFrame:
    """Parse the typed header columns out of the binary — pure Catalyst.

    At fleet scale this is the projection that runs on every blob before
    any Python: fixed-width prefix reads the optimizer keeps inside one
    codegen stage, so kind/dimension filters prune payload work up front.
    """
    b = F.col(blob_col)
    return media.withColumns(
        {
            "magic_ok": (F.substring(b, 1, 4) == F.lit(MAGIC)),
            "kind": _be_field(b, 5, 1),
            "width": _be_field(b, 6, 2),
            "height": _be_field(b, 8, 2),
            "channels": _be_field(b, 10, 1),
            "n_frames": _be_field(b, 11, 2),
            "sample_rate": _be_field(b, 13, 4),
            "payload_len": _be_field(b, 17, 4),
            "blob_len": F.octet_length(b),
        }
    )


# ---------------------------------------------------------------------------
# payload kernels — Arrow-batched, one concatenated-buffer pass each
# ---------------------------------------------------------------------------


def _concat_payloads(blobs: pd.Series) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(flat uint8 payload buffer, row start offsets, row lengths)."""
    raw = [bytes(v) for v in blobs]
    lens = np.fromiter(
        (len(v) - HEADER_LEN for v in raw), dtype=np.int64, count=len(raw)
    )
    if (lens < 0).any():
        raise ValueError("blob shorter than the OVM1 header")
    buf = np.frombuffer(b"".join(v[HEADER_LEN:] for v in raw), dtype=np.uint8)
    starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
    return buf, starts, lens


def _segment_stats_frame(
    media_ids: np.ndarray, buf: np.ndarray, starts: np.ndarray, lens: np.ndarray
) -> pd.DataFrame:
    """Vectorized per-segment stats over one concatenated integer buffer
    (uint8 bytes or int64-widened pixels; values must stay below 2^62 so
    the min-sentinel is never beaten):
    ``(media_id, payload_len, byte_sum, byte_min, byte_max, mean_byte)``."""
    nonempty = lens > 0
    wide = buf.astype(np.int64)
    csum = np.concatenate(([0], np.cumsum(wide)))
    bsum = csum[starts + lens] - csum[starts]
    # sentinel-extended buffers make len(buf) a VALID reduceat
    # index (empty trailing segments would otherwise force a clip
    # that corrupts the preceding row's boundary); the sentinel can
    # only land in the LAST segment, and its value (huge for min,
    # -1 for max) never beats a real byte — empty rows mask to NaN
    lo = np.concatenate((wide, [np.int64(1) << 62]))
    hi = np.concatenate((wide, [np.int64(-1)]))
    bmin = np.where(nonempty, np.minimum.reduceat(lo, starts), np.nan)
    bmax = np.where(nonempty, np.maximum.reduceat(hi, starts), np.nan)
    mean = np.where(nonempty, bsum / np.maximum(lens, 1), np.nan)
    return pd.DataFrame(
        {
            "media_id": media_ids,
            "payload_len": lens,
            "byte_sum": bsum,
            "byte_min": bmin,
            "byte_max": bmax,
            "mean_byte": mean,
        }
    )


def media_byte_stats(media: DataFrame, blob_col: str = "blob") -> DataFrame:
    """Per-media payload stats: ``(media_id, payload_len, byte_sum,
    byte_min, byte_max, mean_byte)``.

    Segmented ``reduceat`` over the batch-concatenated payload buffer —
    sums are exact int64, mean is the single int/int double division, so
    the DuckDB generator-replay oracle is bit-identical.  Empty payloads
    yield NULL min/max/mean.
    """

    def stats(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if not len(pdf):
                continue
            buf, starts, lens = _concat_payloads(pdf[blob_col])
            yield _segment_stats_frame(
                pdf["media_id"].to_numpy(np.int64), buf, starts, lens
            )

    return media.select("media_id", blob_col).mapInPandas(
        stats,
        "media_id long, payload_len long, byte_sum long,"
        " byte_min double, byte_max double, mean_byte double",
    )


def frame_sample(
    media: DataFrame, *, step: int = 2, blob_col: str = "blob"
) -> DataFrame:
    """Sample every ``step``-th frame of each video; one row per kept frame:
    ``(media_id, frame_idx, frame_off, frame_len, frame_sum)``.

    Frame geometry (offset/length) comes from the JVM-side header parse;
    the kernel reduces each kept frame's real payload bytes with one
    segmented reduceat per batch.  ``frame_off`` is the 0-based offset into
    the payload.  Non-video rows are pruned BEFORE the Python stage.
    """
    if step < 1:
        raise ValueError("step must be >= 1")
    vids = (
        media_metadata(media, blob_col)
        .where((F.col("kind") == KIND_VIDEO) & (F.col("n_frames") > 0))
        .select("media_id", blob_col, "width", "height", "channels", "n_frames")
    )

    def frames(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if not len(pdf):
                continue
            buf, starts, _lens = _concat_payloads(pdf[blob_col])
            flen = (
                pdf["width"].to_numpy(np.int64)
                * pdf["height"].to_numpy(np.int64)
                * pdf["channels"].to_numpy(np.int64)
            )
            nf = pdf["n_frames"].to_numpy(np.int64)
            kept = (nf + step - 1) // step  # frames 0, step, 2*step, ...
            mid = np.repeat(pdf["media_id"].to_numpy(np.int64), kept)
            base = np.concatenate(([0], np.cumsum(kept)[:-1]))
            k = np.arange(int(kept.sum()), dtype=np.int64) - np.repeat(base, kept)
            fidx = k * step
            foff = np.repeat(flen, kept) * fidx
            flen_r = np.repeat(flen, kept)
            seg = np.repeat(starts, kept) + foff
            fsum = np.zeros(len(fidx), dtype=np.int64)
            if len(buf) and len(fidx):
                # prefix sums beat reduceat here: frame windows may not
                # tile the buffer (step>1 skips frames), so each sum is a
                # cumsum difference over [seg, seg+flen)
                csum = np.concatenate(([0], np.cumsum(buf.astype(np.int64))))
                fsum = csum[seg + flen_r] - csum[seg]
            yield pd.DataFrame(
                {
                    "media_id": mid,
                    "frame_idx": fidx,
                    "frame_off": foff,
                    "frame_len": flen_r,
                    "frame_sum": fsum,
                }
            )

    return vids.mapInPandas(
        frames,
        "media_id long, frame_idx long, frame_off long,"
        " frame_len long, frame_sum long",
    )


def resize_image_width(media: DataFrame, blob_col: str = "blob") -> DataFrame:
    """Downsample images 2x along width (keep even pixel columns), emitting
    a REAL re-encoded OVM1 blob plus check columns:
    ``(media_id, new_width, new_payload_len, new_byte_sum, new_blob)``.

    The keep mask is computed over the whole concatenated buffer —
    ``((i // ch) % w) % 2 == 0`` per byte index — then one masked gather
    rebuilds every payload and one reduceat produces the checksums.  The
    new blob re-packs the header with updated width/payload_len, so the
    output round-trips through :func:`media_metadata` unchanged.
    """
    imgs = (
        media_metadata(media, blob_col)
        .where(F.col("kind") == KIND_IMAGE)
        .select("media_id", blob_col, "width", "height", "channels")
    )

    def resize(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if not len(pdf):
                continue
            buf, starts, lens = _concat_payloads(pdf[blob_col])
            mid = pdf["media_id"].to_numpy(np.int64)
            w = pdf["width"].to_numpy(np.int64)
            h = pdf["height"].to_numpy(np.int64)
            ch = pdf["channels"].to_numpy(np.int64)
            i = np.arange(len(buf), dtype=np.int64) - np.repeat(starts, lens)
            w_r = np.repeat(w, lens)
            ch_r = np.repeat(ch, lens)
            keep = ((i // ch_r) % w_r) % 2 == 0
            wide = buf.astype(np.int64)
            csum_sum = np.concatenate(([0], np.cumsum(np.where(keep, wide, 0))))
            csum_cnt = np.concatenate(([0], np.cumsum(keep.astype(np.int64))))
            ends = starts + lens
            new_sum = csum_sum[ends] - csum_sum[starts]
            new_len = csum_cnt[ends] - csum_cnt[starts]
            new_w = (w + 1) // 2
            kept_bytes = buf[keep].tobytes()
            new_starts = np.concatenate(([0], np.cumsum(new_len)[:-1]))
            new_ends = np.cumsum(new_len)
            head = np.zeros((len(pdf), HEADER_LEN), dtype=np.uint8)
            head[:, 0:4] = np.frombuffer(MAGIC, dtype=np.uint8)
            head[:, 4] = KIND_IMAGE
            _be(head, 5, new_w, 2)
            _be(head, 7, h, 2)
            head[:, 9] = ch
            _be(head, 10, np.ones(len(pdf), dtype=np.int64), 2)
            _be(head, 16, new_len, 4)
            blobs = [
                head[r].tobytes()
                + kept_bytes[int(new_starts[r]) : int(new_ends[r])]
                for r in range(len(pdf))
            ]
            yield pd.DataFrame(
                {
                    "media_id": mid,
                    "new_width": new_w,
                    "new_payload_len": new_len,
                    "new_byte_sum": new_sum,
                    "new_blob": blobs,
                }
            )

    return imgs.mapInPandas(
        resize,
        "media_id long, new_width long, new_payload_len long,"
        " new_byte_sum long, new_blob binary",
    )


# ---------------------------------------------------------------------------
# real-codec decode — auto-dispatched; Pillow path used when importable
# ---------------------------------------------------------------------------


def pillow_module():
    """Import-probe for a real image codec (Pillow).  Returns the
    ``PIL.Image`` module or ``None`` — callers dispatch on the result so
    environments with codecs get actual pixel decode and this container
    (no codec libs) keeps the deterministic OVM1 byte-kernel path."""
    try:
        from PIL import Image  # noqa: PLC0415
    except ImportError:
        return None
    return Image


def decode_image_real(blob: bytes, pillow=None) -> "np.ndarray":
    """Decode a REAL image codec (JPEG/PNG/WebP) to an HxWxC array.

    The container plumbing above is format-agnostic; this is the one step
    that needs an actual codec library.  Raises ``NotImplementedError``
    when Pillow is absent (like this container).
    """
    pillow = pillow or pillow_module()
    if pillow is None:
        raise NotImplementedError(
            "real image decode needs Pillow; OVM1 synthetic media needs no codec"
        )
    import io  # noqa: PLC0415

    return np.asarray(pillow.open(io.BytesIO(blob)))


def _pixel_stats_frame(pdf: pd.DataFrame, blob_col: str, pillow) -> pd.DataFrame:
    """One Arrow batch of media rows -> per-media PIXEL stats, dispatching
    per row: OVM1 blobs take the vectorized byte-kernel (the payload bytes
    ARE the pixels — identical numbers to media_byte_stats, no codec);
    anything else is a real codec container decoded with Pillow, its stats
    computed over every channel byte of the decoded array."""
    is_ovm = np.fromiter(
        (bytes(b[:4]) == MAGIC for b in pdf[blob_col]), dtype=bool, count=len(pdf)
    )
    parts = []
    if is_ovm.any():
        sub = pdf[is_ovm]
        buf, starts, lens = _concat_payloads(sub[blob_col])
        parts.append(
            _segment_stats_frame(sub["media_id"].to_numpy(np.int64), buf, starts, lens)
        )
    if (~is_ovm).any():
        sub = pdf[~is_ovm]
        # Widen before concatenating: a 16-bit PNG ('I;16') or float TIFF
        # decodes to uint16/float arrays, and an astype(uint8) here would
        # silently wrap values mod 256.  int64 keeps every integer mode
        # exact; float modes are rejected loudly (no silent truncation).
        pixel_rows = []
        for b in sub[blob_col]:
            arr = decode_image_real(bytes(b), pillow)
            if not np.issubdtype(arr.dtype, np.integer):
                raise NotImplementedError(
                    f"pixel stats over non-integer image mode {arr.dtype} — "
                    "convert the image to an integer mode before media_pixel_stats"
                )
            pixel_rows.append(arr.ravel().astype(np.int64))
        lens = np.fromiter((p.size for p in pixel_rows), dtype=np.int64, count=len(pixel_rows))
        buf = (
            np.concatenate(pixel_rows)
            if lens.sum()
            else np.empty(0, dtype=np.int64)
        )
        starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
        parts.append(
            _segment_stats_frame(sub["media_id"].to_numpy(np.int64), buf, starts, lens)
        )
    return pd.concat(parts, ignore_index=True) if len(parts) > 1 else parts[0]


def media_pixel_stats(media: DataFrame, blob_col: str = "blob") -> DataFrame:
    """Per-media PIXEL stats — same columns as :func:`media_byte_stats`,
    but the values are over decoded pixels, with the codec path chosen
    automatically per row (OVM1 byte-kernel vs Pillow; see
    :func:`_pixel_stats_frame`).  On OVM1 synthetic media the two operators
    agree bit-for-bit, which is what keeps the driver oracle exact in
    codec-less environments while real deployments get true pixel stats."""

    def stats(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pillow = pillow_module()  # probed once per worker, not per row
        for pdf in it:
            if len(pdf):
                yield _pixel_stats_frame(pdf, blob_col, pillow)

    return media.select("media_id", blob_col).mapInPandas(
        stats,
        "media_id long, payload_len long, byte_sum long,"
        " byte_min double, byte_max double, mean_byte double",
    )
