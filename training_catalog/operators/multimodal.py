"""Multimodal column operators: opaque ``binary`` payloads with typed
metadata, processed in Arrow-batched stages.

The training-data pipeline treats images/audio/video as bytes plus
schema'd metadata and keeps every transformation distributed:

- ``decode_images`` — PNG payloads decode for real (the dependency-free
  decoder from ``sources.terrain``); other formats would plug in an image
  library here and currently yield a null decode (the miss surfaces in
  the ``decoded`` flag rather than failing the stage).
- ``resize_images`` — nearest-neighbor resample on the raw pixel buffer
  (numpy index math; no image library).
- ``image_features`` — grid mean-pool embedding (``grid²·3`` floats), the
  cheap visual fingerprint used for embedding-dedup/ANN over images via
  the existing ``operators.similarity`` family.
- ``sample_frames_y4m`` — 1-in-``every_n`` frame sampling through the
  REAL YUV4MPEG2 demuxer (``decode_y4m``): each kept frame row carries
  the raw plane bytes plus an integer byte-sum checksum so a
  cross-engine oracle can pin the demuxed content, not just the counts.
- ``sample_frames`` — the opaque-container FALLBACK: when the payload is
  a format with no demuxer binding, frames degrade to fixed-size byte
  windows (DOCUMENTED STUB — the partitioning, fan-out shape, and schema
  match ``sample_frames_y4m``; swap in a decoder binding in production).

Pixel buffers travel as ``binary`` (row-major H×W×3) + shape columns, not
nested arrays: Arrow moves one contiguous buffer per asset, and numpy
views it zero-copy on the Python side.
"""

from __future__ import annotations

import struct
import zlib
from typing import Iterable, Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from openskidata_processor_spark.sources.terrain import decode_png_rgb

DECODED_DDL = ("id long, n_bytes long, decoded boolean, "
               "width int, height int, pixels binary")


def encode_png_rgb(arr: np.ndarray) -> bytes:
    """Dependency-free PNG encoder (8-bit RGB, filter 0 per row) — the
    inverse of ``sources.terrain.decode_png_rgb``.  Used to materialize
    real PNG payload columns from raw pixel buffers (test fixtures, the
    oracle-checked multimodal catalog query, synthetic asset generation);
    a production image library drops in behind the same signature."""
    if arr.ndim != 3 or arr.shape[2] != 3 or arr.dtype != np.uint8:
        raise ValueError("encode_png_rgb expects uint8 H×W×3")
    h, w, _ = arr.shape
    raw = bytearray()
    for y in range(h):
        raw.append(0)  # filter type 0 (None)
        raw.extend(arr[y].tobytes())

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", zlib.crc32(ctype + data)))

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(raw)))
            + chunk(b"IEND", b""))


def decode_images(df: DataFrame, id_col: str = "id",
                  payload_col: str = "payload") -> DataFrame:
    """(id, payload binary) → typed pixel rows.

    PNG decodes for real; non-PNG payloads yield ``decoded=false`` with
    null shape/pixels (never an exception — a poisoned asset must not
    kill a 100 TB scan)."""
    def run(parts: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in parts:
            rows = []
            for rid, payload in zip(pdf[id_col], pdf[payload_col]):
                payload = bytes(payload) if payload is not None else b""
                try:
                    arr = decode_png_rgb(payload)
                    rows.append((int(rid), len(payload), True,
                                 arr.shape[1], arr.shape[0],
                                 arr.tobytes()))
                except Exception:
                    rows.append((int(rid), len(payload), False,
                                 None, None, None))
            yield pd.DataFrame(rows, columns=[
                "id", "n_bytes", "decoded", "width", "height", "pixels"])
    return df.mapInPandas(run, DECODED_DDL)


def resize_images(decoded: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """Nearest-neighbor resize of decoded pixel rows to (out_w, out_h).
    Undecoded rows pass through unchanged (still ``decoded=false``)."""
    def run(parts: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ys = None
        for pdf in parts:
            rows = []
            for r in pdf.itertuples(index=False):
                if not r.decoded:
                    rows.append((r.id, r.n_bytes, False, None, None, None))
                    continue
                arr = np.frombuffer(r.pixels, dtype=np.uint8).reshape(
                    r.height, r.width, 3)
                yi = (np.arange(out_h) * r.height) // out_h
                xi = (np.arange(out_w) * r.width) // out_w
                out = arr[yi][:, xi]
                rows.append((r.id, r.n_bytes, True, out_w, out_h,
                             out.tobytes()))
            yield pd.DataFrame(rows, columns=[
                "id", "n_bytes", "decoded", "width", "height", "pixels"])
    return decoded.mapInPandas(run, DECODED_DDL)


def image_features(decoded: DataFrame, grid: int = 4) -> DataFrame:
    """Per-asset embedding: ``grid × grid`` mean-pooled RGB cells,
    flattened to ``grid²·3`` floats in [0, 1] — feeds the similarity/
    dedup operators as an ``array<float>`` column."""
    def run(parts: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in parts:
            ids, vecs = [], []
            for r in pdf.itertuples(index=False):
                if not r.decoded:
                    continue
                arr = np.frombuffer(r.pixels, dtype=np.uint8).reshape(
                    r.height, r.width, 3).astype(np.float64)
                yi = (np.arange(r.height) * grid) // max(r.height, 1)
                xi = (np.arange(r.width) * grid) // max(r.width, 1)
                feat = np.zeros((grid, grid, 3))
                for gy in range(grid):
                    for gx in range(grid):
                        cell = arr[yi == gy][:, xi == gx]
                        if cell.size:
                            feat[gy, gx] = cell.mean(axis=(0, 1)) / 255.0
                ids.append(r.id)
                vecs.append([float(x) for x in feat.reshape(-1)])
            if ids:  # an empty frame infers float64 cols Arrow can't
                yield pd.DataFrame({"id": ids,
                                    "embedding": pd.Series(vecs,
                                                           dtype=object)})
    return decoded.mapInPandas(run, "id long, embedding array<float>")


def pixel_stats(decoded: DataFrame) -> DataFrame:
    """Per-asset raw-pixel statistics over decoded rows:
    (id, n_px, pixel_sum, px_min, px_max).  Undecoded rows are dropped
    (their miss is already visible in the ``decoded`` flag upstream)."""
    def run(parts: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in parts:
            rows = []
            for r in pdf.itertuples(index=False):
                if not r.decoded:
                    continue
                px = np.frombuffer(r.pixels, dtype=np.uint8)
                rows.append((r.id, int(px.size),
                             int(px.sum(dtype=np.int64)),
                             int(px.min()), int(px.max())))
            yield pd.DataFrame(rows, columns=[
                "id", "n_px", "pixel_sum", "px_min", "px_max"])
    return decoded.mapInPandas(
        run, "id long, n_px long, pixel_sum long, px_min int, px_max int")


def sample_frames(df: DataFrame, frame_bytes: int, every_n: int,
                  id_col: str = "id",
                  payload_col: str = "payload") -> DataFrame:
    """Fan a video payload out to 1-in-``every_n`` frame rows.

    STUB SEMANTICS: a "frame" is a fixed ``frame_bytes`` window of the
    payload (no demuxer in this container); the output shape —
    (id, frame_idx, frame binary), one row per KEPT frame, frame_idx
    preserving source order — is the real contract a decoder binding
    drops into."""
    def run(parts: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in parts:
            ids, idxs, frames = [], [], []
            for rid, payload in zip(pdf[id_col], pdf[payload_col]):
                payload = bytes(payload) if payload is not None else b""
                n_frames = len(payload) // frame_bytes
                for i in range(0, n_frames, every_n):
                    ids.append(int(rid))
                    idxs.append(i)
                    frames.append(
                        payload[i * frame_bytes:(i + 1) * frame_bytes])
            yield pd.DataFrame(
                {"id": ids, "frame_idx": idxs, "frame": frames})
    return df.mapInPandas(run, "id long, frame_idx int, frame binary")


# ---------------------------------------------------------------------------
# Audio: dependency-free WAV/PCM16 codec + feature extraction
# ---------------------------------------------------------------------------


def encode_wav_pcm16(samples: np.ndarray, rate: int = 16000) -> bytes:
    """Dependency-free RIFF/WAVE encoder (PCM16 mono) — the audio twin of
    ``encode_png_rgb``.  Used to materialize real audio payload columns
    from raw sample buffers; a production audio library drops in behind
    the same signature."""
    if samples.ndim != 1 or samples.dtype != np.int16:
        raise ValueError("encode_wav_pcm16 expects int16 1-D samples")
    data = samples.tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
    body = (b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data)
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_wav_pcm16(payload: bytes) -> tuple[int, np.ndarray]:
    """Parse a RIFF/WAVE container (PCM16 mono): returns (rate, samples).

    A real chunk walk — fmt and data located by scanning the chunk list,
    unknown chunks skipped — not a fixed-offset slice, so payloads with
    extra chunks (LIST/fact) decode correctly.  Raises ValueError on a
    malformed container or non-PCM16 stream.
    """
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, rate, data = 12, None, None
    while pos + 8 <= len(payload):
        ctype = payload[pos:pos + 4]
        (clen,) = struct.unpack("<I", payload[pos + 4:pos + 8])
        body = payload[pos + 8:pos + 8 + clen]
        if ctype == b"fmt ":
            if len(body) < 16:
                raise ValueError("short fmt chunk")
            audio_fmt, channels, rate, _, _, bits = struct.unpack(
                "<HHIIHH", body[:16])
            if audio_fmt != 1 or channels != 1 or bits != 16:
                raise ValueError("only PCM16 mono supported")
        elif ctype == b"data":
            data = body
        pos += 8 + clen + (clen & 1)  # chunks are word-aligned
    if rate is None or data is None:
        raise ValueError("missing fmt or data chunk")
    return rate, np.frombuffer(data, dtype=np.int16)


def audio_features(df: DataFrame, id_col: str = "id",
                   payload_col: str = "payload") -> DataFrame:
    """Per-asset audio features through the REAL WAV decode path:
    (id, decoded, rate, n_samples, sum_abs, peak, n_zero_cross).

    Integer-exact outputs (abs-sum instead of float RMS, crossings of the
    x≥0 sign) so a cross-engine oracle can hash-match them.  Undecodable
    payloads keep their row with ``decoded=false`` and null features —
    errors surface as data, never as a failed stage (the same contract as
    ``decode_images``)."""
    def run(parts: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in parts:
            rows = []
            for rid, payload in zip(pdf[id_col], pdf[payload_col]):
                try:
                    rate, s = decode_wav_pcm16(bytes(payload))
                    a = s.astype(np.int64)
                    nzc = int(np.count_nonzero(
                        (a[1:] >= 0) != (a[:-1] >= 0))) if a.size > 1 else 0
                    rows.append((int(rid), True, int(rate), int(a.size),
                                 int(np.abs(a).sum()),
                                 int(np.abs(a).max()) if a.size else 0, nzc))
                except (ValueError, TypeError):
                    rows.append((int(rid), False, None, None, None, None,
                                 None))
            yield pd.DataFrame(rows, columns=[
                "id", "decoded", "rate", "n_samples", "sum_abs", "peak",
                "n_zero_cross"])
    return df.mapInPandas(
        run, "id long, decoded boolean, rate int, n_samples long, "
             "sum_abs long, peak long, n_zero_cross long")


# ---------------------------------------------------------------------------
# Video: dependency-free Y4M (YUV4MPEG2) container codec + frame sampling
# ---------------------------------------------------------------------------


def encode_y4m(frames: np.ndarray, fps: tuple[int, int] = (25, 1)) -> bytes:
    """Dependency-free YUV4MPEG2 encoder (C444 colorspace): ``frames`` is
    uint8 (n, 3, h, w) — Y, U, V planes per frame.  Y4M is a real
    standard container (plain-text stream header, ``FRAME`` markers, raw
    planes), so the demuxer below is an actual format parser, not a
    byte-window stub."""
    if frames.ndim != 4 or frames.shape[1] != 3 or frames.dtype != np.uint8:
        raise ValueError("encode_y4m expects uint8 (n, 3, h, w)")
    n, _, h, w = frames.shape
    out = bytearray(
        f"YUV4MPEG2 W{w} H{h} F{fps[0]}:{fps[1]} Ip A1:1 C444\n".encode())
    for i in range(n):
        out += b"FRAME\n"
        out += frames[i].tobytes()
    return bytes(out)


def decode_y4m(payload: bytes) -> tuple[int, int, np.ndarray]:
    """Parse a YUV4MPEG2 stream (C444): returns (w, h, frames (n,3,h,w)).

    A real demux: stream-header parameter scan (W/H/C tokens; unknown
    parameters skipped per spec), then FRAME-marker walk with per-frame
    optional parameters tolerated.  Raises ValueError on a malformed
    stream or an unsupported colorspace.
    """
    nl = payload.find(b"\n")
    if nl < 0 or not payload.startswith(b"YUV4MPEG2"):
        raise ValueError("not a YUV4MPEG2 stream")
    w = h = None
    cspace = "C420jpeg"  # spec default when absent
    for tok in payload[:nl].split(b" ")[1:]:
        if tok[:1] == b"W":
            w = int(tok[1:])
        elif tok[:1] == b"H":
            h = int(tok[1:])
        elif tok[:1] == b"C":
            cspace = tok[1:].decode()
    if not w or not h:
        raise ValueError("missing W/H in stream header")
    if cspace != "444":
        raise ValueError(f"unsupported colorspace C{cspace} (C444 only)")
    frame_len = w * h * 3
    frames = []
    pos = nl + 1
    while pos < len(payload):
        fnl = payload.find(b"\n", pos)
        if fnl < 0 or payload[pos:pos + 5] != b"FRAME":
            raise ValueError("malformed FRAME marker")
        start = fnl + 1
        if start + frame_len > len(payload):
            raise ValueError("truncated frame payload")
        frames.append(np.frombuffer(
            payload[start:start + frame_len],
            dtype=np.uint8).reshape(3, h, w))
        pos = start + frame_len
    return w, h, np.stack(frames) if frames else np.empty(
        (0, 3, h, w), dtype=np.uint8)


def sample_frames_y4m(df: DataFrame, every_n: int = 1,
                      id_col: str = "id",
                      payload_col: str = "payload") -> DataFrame:
    """Fan a Y4M video payload out to 1-in-``every_n`` REAL frame rows.

    The production frame sampler: payloads are demuxed by the actual
    YUV4MPEG2 stream parser (``decode_y4m`` — header parameter scan +
    FRAME-marker walk), and each kept frame row carries the raw plane
    bytes (Y,U,V concatenated, ``w*h*3`` bytes) for downstream feature
    extraction plus ``frame_sum``, the integer sum of those bytes — a
    content checksum computed in the same numpy pass so correctness
    gates can pin the demux output, not just the fan-out shape.
    Output: (id, frame_idx, width, height, frame binary, frame_sum).
    Undecodable payloads are absent (same candidate-set contract as
    ``video_frame_stats``).  ``sample_frames`` below is the documented
    opaque-container fallback with the same row shape."""
    def run(parts: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in parts:
            rows = []
            for rid, payload in zip(pdf[id_col], pdf[payload_col]):
                try:
                    w, h, frames = decode_y4m(bytes(payload))
                except (ValueError, TypeError):
                    continue
                for i in range(0, frames.shape[0], every_n):
                    buf = frames[i].tobytes()
                    rows.append((int(rid), i, w, h, buf,
                                 int(frames[i].sum(dtype=np.int64))))
            yield pd.DataFrame(rows, columns=[
                "id", "frame_idx", "width", "height", "frame", "frame_sum"])
    return df.mapInPandas(
        run, "id long, frame_idx int, width int, height int, "
             "frame binary, frame_sum long")


def video_frame_stats(df: DataFrame, every_n: int = 1,
                      id_col: str = "id",
                      payload_col: str = "payload") -> DataFrame:
    """Demux Y4M payloads for REAL, keep every ``every_n``-th frame, and
    emit integer-exact per-frame luma statistics:
    (id, frame_idx, width, height, y_sum, y_min, y_max).

    Undecodable payloads surface as one (id, decoded=false …) row shape
    would be wasteful here — they are simply absent, with the decode miss
    observable upstream via ``decode_y4m`` (same candidate-set contract
    as ``pixel_stats``)."""
    def run(parts: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in parts:
            rows = []
            for rid, payload in zip(pdf[id_col], pdf[payload_col]):
                try:
                    w, h, frames = decode_y4m(bytes(payload))
                except (ValueError, TypeError):
                    continue
                for i in range(0, frames.shape[0], every_n):
                    y = frames[i, 0].astype(np.int64)
                    rows.append((int(rid), i, w, h,
                                 int(y.sum()), int(y.min()), int(y.max())))
            yield pd.DataFrame(rows, columns=[
                "id", "frame_idx", "width", "height", "y_sum", "y_min",
                "y_max"])
    return df.mapInPandas(
        run, "id long, frame_idx int, width int, height int, "
             "y_sum long, y_min int, y_max int")


# ---------------------------------------------------------------------------
# Perceptual hashing — image near-dup dedup over the real decode path
# ---------------------------------------------------------------------------


def perceptual_hash(decoded: DataFrame, hash_size: int = 8) -> DataFrame:
    """(id, ph_hi, ph_lo): integer average-hash over decoded pixel rows.

    aHash with EXACT integer arithmetic end to end (so a closed-form
    pixel source is SQL-reproducible): gray = (r+g+b) div 3,
    ``hash_size²`` nearest-neighbor samples at ((k div s)·h) div s /
    ((k mod s)·w) div s (the ``resize_images`` index formula), bit k set
    iff sample·s² > Σ samples (strictly above the mean).  Packed as two
    non-negative 32-bit halves — identical semantics on any engine (a
    single 64-bit pack would hit the sign bit).  Undecoded rows drop.
    Per-row cost is one gather + one compare; no shuffle."""
    s = hash_size

    def run(parts: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in parts:
            ids, his, los = [], [], []
            for r in pdf.itertuples(index=False):
                if not r.decoded:
                    continue
                arr = np.frombuffer(r.pixels, dtype=np.uint8).reshape(
                    r.height, r.width, 3).astype(np.int64)
                gray = arr.sum(axis=2) // 3
                yi = (np.arange(s) * r.height) // s
                xi = (np.arange(s) * r.width) // s
                g = gray[yi][:, xi].reshape(-1)       # k = by·s + bx
                bits = g * (s * s) > g.sum()
                k = np.arange(s * s)
                lo = int((bits[k < 32] << k[k < 32]).sum())
                hi = int((bits[k >= 32] << (k[k >= 32] - 32)).sum())
                ids.append(r.id); his.append(hi); los.append(lo)
            if ids:
                yield pd.DataFrame(
                    {"id": ids, "ph_hi": his, "ph_lo": los})

    return decoded.mapInPandas(run, "id long, ph_hi long, ph_lo long")


def phash_pairs(hashes: DataFrame, max_hamming: int = 3) -> DataFrame:
    """(id_a, id_b, hamming): image near-dup pairs by aHash Hamming
    distance, pigeonhole-blocked exactly like ``dedup.simhash_pairs``:
    the 64 bits split into ``max_hamming + 1`` blocks, so any pair
    within distance agrees on ≥ 1 block — candidates are an equi-join
    per block, the verify touches candidates only."""
    from .barrier import materialize_now

    n_blocks = max_hamming + 1
    width = 64 // n_blocks              # last block takes the remainder
    # Eager barrier: the two self-join sides are independent AQE leaf
    # stages; a lazy (or absent) cache means the upstream fingerprint
    # chain — typically a mapInPandas codec pass — runs once PER SIDE
    # (measured in multimodal_near_dup_groups: each modality's decode+
    # fingerprint chain executed 2-4×).  The packed table is tiny
    # (id + three longs), so the cache is cheap at any scale.
    packed = materialize_now(hashes.select(
        "id", "ph_hi", "ph_lo",
        # bitwise pack — an arithmetic hi·2³² would overflow-throw under
        # ANSI whenever bit 63 is set; shiftleft wraps into the sign bit
        F.shiftleft(F.col("ph_hi"), 32).bitwiseOR(F.col("ph_lo"))
        .alias("__ph")))

    def block(i: int):
        lo_bit = i * width
        n = 64 - lo_bit if i == n_blocks - 1 else width
        return (F.shiftrightunsigned(F.col("__ph"), lo_bit)
                .bitwiseAND(F.lit((1 << n) - 1)))

    blocks = packed.select(
        "id", "__ph",
        F.posexplode(F.array(*[block(i) for i in range(n_blocks)]))
        .alias("block", "block_val"))
    a = blocks.toDF("id_a", "ph_a", "block", "block_val")
    b = blocks.toDF("id_b", "ph_b", "block", "block_val")
    return (a.join(b, ["block", "block_val"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b",
                    F.bit_count(F.col("ph_a").bitwiseXOR(F.col("ph_b")))
                    .alias("hamming"))
            .distinct()
            .filter(F.col("hamming") <= max_hamming))


def _energy_bits(sa, nw, st: int, n: int) -> int:
    """Window-energy bit vector by EXACT cross-multiplication in Python
    ints: bit k set iff sa[k]/nw[k] > st/n, i.e. sa[k]·n > st·nw[k].
    int64 would wrap (st ≈ 32768·n ⇒ st·nw overflows past ~7e7
    samples); arbitrary-precision ints cannot."""
    fp = 0
    for k in range(len(sa)):
        if int(sa[k]) * n > st * int(nw[k]):
            fp |= 1 << k
    return fp


def audio_fingerprint(df: DataFrame, id_col: str = "id",
                      payload_col: str = "payload",
                      n_windows: int = 16) -> DataFrame:
    """(id, n_samples, afp): energy fingerprint through the REAL WAV
    codec — sample window w = (i·W) div n (the resize index formula),
    bit w set iff the window's mean |amplitude| strictly exceeds the
    global mean, compared in EXACT integer cross-multiplication
    (sum_w · n > sum_total · n_w) so a closed-form sample source is
    SQL-reproducible.  The audio analogue of ``perceptual_hash``; pair
    generation with Hamming tolerance reuses ``phash_pairs`` on the
    (0, afp) halves.  Undecodable payloads drop."""
    W = n_windows

    def run(parts: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in parts:
            ids, ns, fps = [], [], []
            for rid, payload in zip(pdf[id_col], pdf[payload_col]):
                try:
                    _, smp = decode_wav_pcm16(bytes(payload))
                except Exception:
                    continue
                n = len(smp)
                if n == 0:
                    continue
                a = np.abs(smp.astype(np.int64))
                w = (np.arange(n) * W) // n
                sa = np.bincount(w, weights=a, minlength=W).astype(np.int64)
                nw = np.bincount(w, minlength=W).astype(np.int64)
                st = int(a.sum())
                ids.append(int(rid)); ns.append(n)
                fps.append(_energy_bits(sa, nw, st, n))
            if ids:
                yield pd.DataFrame(
                    {"id": ids, "n_samples": ns, "afp": fps})

    return df.mapInPandas(run, "id long, n_samples long, afp long")


def video_fingerprint(df: DataFrame, id_col: str = "id",
                      payload_col: str = "payload",
                      grid_h: int = 4, grid_w: int = 8) -> DataFrame:
    """(id, n_frames, vfp): temporally-pooled frame hash through the
    REAL Y4M demux — luma sums across ALL frames per grid cell (the
    mean-frame image, the standard video near-dup signature), cell
    sampled at the ``resize_images`` index formula, bit set iff
    cell·cells > total (strictly above the mean) in exact integer
    arithmetic.  ``grid_h·grid_w`` must stay ≤ 63 bits (default 32).
    The video analogue of ``perceptual_hash``/``audio_fingerprint``;
    undecodable payloads drop."""
    cells = grid_h * grid_w

    def run(parts: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in parts:
            ids, ns, fps = [], [], []
            for rid, payload in zip(pdf[id_col], pdf[payload_col]):
                try:
                    w, h, frames = decode_y4m(bytes(payload))
                except Exception:
                    continue
                y = frames[:, 0].astype(np.int64)       # (n, h, w) luma
                mean_frame = y.sum(axis=0)              # temporal pool
                yi = (np.arange(grid_h) * h) // grid_h
                xi = (np.arange(grid_w) * w) // grid_w
                g = mean_frame[yi][:, xi].reshape(-1)   # k = by·gw + bx
                bits = g * cells > g.sum()
                ids.append(int(rid)); ns.append(len(frames))
                fps.append(int((bits << np.arange(cells)).sum()))
            if ids:
                yield pd.DataFrame(
                    {"id": ids, "n_frames": ns, "vfp": fps})

    return df.mapInPandas(run, "id long, n_frames long, vfp long")
