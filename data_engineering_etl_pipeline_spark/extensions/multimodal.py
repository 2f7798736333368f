"""Multimodal column plumbing (SURVEY.md §2.11): image/audio/video as opaque
``binary`` columns with typed metadata, processed by Arrow-batched pandas
UDFs over ``mapInPandas``.

The decode is REAL for every container reachable without codec libraries:
PPM (P6) images, PNG (stdlib ``zlib`` IDAT inflate + numpy scanline
unfiltering for 8-bit gray/RGB/RGBA, all five filter types), raw unsigned
8-bit PCM audio, and Y4M (YUV4MPEG2 — text header + uncompressed YUV
frames) video, each parsed in pure Python/numpy. Genuinely codec-bound
formats (JPEG, MP4/H.264) raise ``NotImplementedError``: those codecs are
not in this container, and the honest stub marks exactly where PIL/ffmpeg
plug in. Everything Spark-side — schema, partition sizing, UDF
signatures, batch shapes — plus the PPM/PNG/PCM/Y4M decodes themselves are
therefore value-checkable end-to-end (the registry queries carry
closed-form DuckDB oracles; ``media_pipeline``'s image rows alternate
PPM/PNG containers over the SAME pixel recipe, so the PNG inflate +
unfilter path sits on the driver hash with zero oracle change).

Scale notes: binary payloads dominate row size → cap
``spark.sql.files.maxPartitionBytes`` so a partition of blobs fits executor
memory; feature extraction emits fixed-size scalars/arrays
(columnar-friendly); never collect blobs to the driver.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_SCHEMA = (
    "media_id bigint, kind string, content binary, "
    "width int, height int, sample_rate int, n_frames int"
)

FEATURE_SCHEMA = (
    "media_id bigint, kind string, width int, height int, "
    "n_samples bigint, mean_val double, decode_ok boolean"
)


def _ppm_bytes(media_id: int, w: int, h: int) -> bytes:
    """Deterministic PPM(P6) blob: pixel byte k = (id*7 + k*13) % 256."""
    header = f"P6\n{w} {h}\n255\n".encode()
    k = np.arange(w * h * 3, dtype=np.int64)
    return header + ((media_id * 7 + k * 13) % 256).astype(np.uint8).tobytes()


_PNG_SIG = b"\x89PNG\r\n\x1a\n"
#: channels per PNG color type we parse (8-bit depth only)
_PNG_CHANNELS = {0: 1, 2: 3, 6: 4}


def _paeth(a: np.ndarray, b: np.ndarray, c: np.ndarray) -> np.ndarray:
    """PNG Paeth predictor (RFC 2083 §6.6), vectorized over byte lanes:
    nearest of (left, up, upper-left) to p = a + b − c, ties a → b → c."""
    p = a.astype(np.int16) + b.astype(np.int16) - c.astype(np.int16)
    pa, pb, pc = (np.abs(p - a), np.abs(p - b), np.abs(p - c))
    return np.where((pa <= pb) & (pa <= pc), a,
                    np.where(pb <= pc, b, c)).astype(np.uint8)


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    import zlib

    return (len(data).to_bytes(4, "big") + ctype + data
            + (zlib.crc32(ctype + data) & 0xFFFFFFFF).to_bytes(4, "big"))


def _png_bytes(media_id: int, w: int, h: int, color_type: int = 2) -> bytes:
    """Deterministic REAL PNG blob over the SAME pixel recipe as
    :func:`_ppm_bytes` (byte k = ``(id*7 + k*13) % 256`` in scanline
    order), so the closed-form mean oracle is container-independent.
    Scanline r is filtered with type ``r % 5`` — None/Sub/Up/Average/Paeth
    all appear in any image with ≥5 rows, so a decoder that mishandles any
    unfilter path breaks the value hash, not just a unit."""
    import zlib

    ch = _PNG_CHANNELS[color_type]
    k = np.arange(w * h * ch, dtype=np.int64)
    px = ((media_id * 7 + k * 13) % 256).astype(np.uint8).reshape(h, w * ch)
    raw = bytearray()
    prev = np.zeros(w * ch, dtype=np.uint8)
    for r in range(h):
        recon = px[r]
        left = np.concatenate([np.zeros(ch, np.uint8), recon[:-ch]])
        upleft = np.concatenate([np.zeros(ch, np.uint8), prev[:-ch]])
        ft = r % 5
        if ft == 0:
            filt = recon
        elif ft == 1:
            filt = recon - left
        elif ft == 2:
            filt = recon - prev
        elif ft == 3:
            filt = recon - ((left.astype(np.uint16) + prev) // 2).astype(
                np.uint8)
        else:
            filt = recon - _paeth(left, prev, upleft)
        raw.append(ft)
        raw.extend(filt.tobytes())
        prev = recon
    ihdr = (w.to_bytes(4, "big") + h.to_bytes(4, "big")
            + bytes([8, color_type, 0, 0, 0]))
    return (_PNG_SIG + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
            + _png_chunk(b"IEND", b""))


def decode_png(blob: bytes) -> tuple[int, int, float]:
    """Decode one PNG payload → (width, height, mean_pixel) with zero
    codec dependencies: chunk walk → IHDR validation → stdlib ``zlib``
    inflate of the concatenated IDATs → numpy scanline unfiltering
    (None/Sub/Up/Average/Paeth). 8-bit gray/RGB/RGBA, non-interlaced —
    the common web/ML-corpus shapes; 16-bit, palette, and Adam7 raise the
    same honest NotImplementedError seam as the codec formats. Sub runs
    as a per-lane ``uint8`` cumsum (mod-256 addition is associative);
    Average/Paeth carry a true left dependency and walk pixels within the
    row. The mean divides one integer sum, matching the oracle's
    integer-list construction bit-for-bit."""
    import zlib

    b = bytes(blob)
    if b[:8] != _PNG_SIG:
        raise ValueError("not a PNG stream")
    pos, w = 8, None
    idat = bytearray()
    while pos + 8 <= len(b):
        ln = int.from_bytes(b[pos:pos + 4], "big")
        ctype = b[pos + 4:pos + 8]
        data = b[pos + 8:pos + 8 + ln]
        if len(data) != ln:
            raise ValueError("truncated PNG chunk")
        if ctype == b"IHDR":
            w = int.from_bytes(data[0:4], "big")
            h = int.from_bytes(data[4:8], "big")
            depth, color_type, comp, filt, interlace = data[8:13]
            if depth != 8 or color_type not in _PNG_CHANNELS:
                raise NotImplementedError(
                    f"PNG bit depth {depth} / color type {color_type} not "
                    "supported (8-bit gray/RGB/RGBA only)")
            if interlace:
                raise NotImplementedError("Adam7 interlacing not supported")
            if comp or filt:
                raise ValueError("invalid PNG compression/filter method")
        elif ctype == b"IDAT":
            idat.extend(data)
        elif ctype == b"IEND":
            break
        pos += 12 + ln
    if w is None:
        raise ValueError("PNG missing IHDR")
    if w <= 0 or h <= 0:
        raise ValueError(f"PNG dimensions {w}x{h} invalid")
    ch = _PNG_CHANNELS[color_type]
    stride = w * ch
    raw = np.frombuffer(zlib.decompress(bytes(idat)), dtype=np.uint8)
    if raw.size != h * (stride + 1):
        raise ValueError(f"PNG raw size {raw.size} != {h}*({stride}+1)")
    rows = raw.reshape(h, stride + 1)
    out = np.empty((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for r in range(h):
        ft, filt = rows[r, 0], rows[r, 1:]
        if ft == 0:
            recon = filt.copy()
        elif ft == 1:
            # mod-256 left accumulation, one cumsum per byte lane
            recon = np.cumsum(
                filt.reshape(-1, ch), axis=0, dtype=np.uint64
            ).astype(np.uint8).reshape(stride)
        elif ft == 2:
            recon = filt + prev
        elif ft == 3:
            recon = filt.copy()
            up = prev.astype(np.uint16)
            recon[:ch] += (up[:ch] // 2).astype(np.uint8)
            for x in range(ch, stride, ch):
                recon[x:x + ch] += (
                    (recon[x - ch:x].astype(np.uint16) + up[x:x + ch]) // 2
                ).astype(np.uint8)
        elif ft == 4:
            recon = filt.copy()
            z = np.zeros(ch, dtype=np.uint8)
            recon[:ch] += _paeth(z, prev[:ch], z)
            for x in range(ch, stride, ch):
                recon[x:x + ch] += _paeth(recon[x - ch:x], prev[x:x + ch],
                                          prev[x - ch:x])
        else:
            raise ValueError(f"PNG filter type {ft} invalid")
        out[r] = recon
        prev = recon
    return w, h, float(int(out.sum(dtype=np.int64))) / out.size


def _pcm_bytes(media_id: int, n: int) -> bytes:
    """Deterministic raw u8 PCM blob: sample byte k = (id*11 + k*5) % 256."""
    k = np.arange(n, dtype=np.int64)
    return ((media_id * 11 + k * 5) % 256).astype(np.uint8).tobytes()


def _y4m_bytes(media_id: int, w: int, h: int, n_frames: int) -> bytes:
    """Deterministic Y4M (YUV4MPEG2) blob, C444 colorspace: payload byte k
    — counted ACROSS frames, FRAME markers excluded — is
    ``(id*3 + k*13) % 256``, so frame f (3·w·h bytes) covers
    k ∈ [f·3wh, (f+1)·3wh) and every frame/global mean is closed-form."""
    header = f"YUV4MPEG2 W{w} H{h} F30:1 Ip A1:1 C444\n".encode()
    fs = 3 * w * h
    k = np.arange(n_frames * fs, dtype=np.int64)
    payload = ((media_id * 3 + k * 13) % 256).astype(np.uint8)
    parts = [header]
    for f in range(n_frames):
        parts.append(b"FRAME\n")
        parts.append(payload[f * fs:(f + 1) * fs].tobytes())
    return b"".join(parts)


def make_fake_media(spark, n: int = 64) -> DataFrame:
    """Deterministic synthetic media table: REAL image blobs (PPM and
    PNG containers alternating over the SAME pixel recipe, so the
    oracle's closed-form mean is container-independent while the PNG
    inflate + all-five-filters unfilter path sits on the driver hash),
    real raw u8 PCM audio blobs, real Y4M video blobs — closed-form byte
    recipes so a SQL oracle can recompute every decoded feature without
    the blobs."""
    rows = []
    for i in range(n):
        kind = ("image", "audio", "video")[i % 3]
        if kind == "image":
            w, h = 8 + (i % 5) * 4, 6 + (i % 7) * 2
            enc = _png_bytes if i % 6 == 3 else _ppm_bytes
            rows.append((i, kind, bytearray(enc(i, w, h)),
                         w, h, None, None))
        elif kind == "audio":
            n_samples = 256 + (i % 5) * 64
            rows.append((i, kind, bytearray(_pcm_bytes(i, n_samples)),
                         None, None, 16000, None))
        else:
            w, h, nf = 8 + (i % 5) * 4, 6 + (i % 4) * 2, 30
            rows.append((i, kind, bytearray(_y4m_bytes(i, w, h, nf)),
                         w, h, None, nf))
    return spark.createDataFrame(rows, schema=MEDIA_SCHEMA)


def decode_image(blob: bytes) -> tuple[int, int, float]:
    """Decode one image payload → (width, height, mean_pixel).

    Real parse for PPM(P6) and PNG (magic dispatch → :func:`decode_png`, stdlib
    zlib + numpy unfiltering: the most common compressed format, with zero new
    dependencies); JPEG genuinely needs codec libraries not present here — the
    NotImplementedError marks the PIL/opencv seam. The mean is an integer sum
    divided once at the end, so it is bit-equal to the oracle's integer-list
    construction. """
    if bytes(blob)[:8] == _PNG_SIG:
        return decode_png(blob)
    if blob[:2] != b"P6":
        raise NotImplementedError(
            "only PPM(P6) and PNG decode codec-free; JPEG needs PIL/opencv "
            "(not available in this container)")
    # header: P6 \n <w> <h> \n <maxval> \n  (single-space variant we emit)
    parts = bytes(blob).split(b"\n", 3)
    w, h = (int(x) for x in parts[1].split())
    maxval = int(parts[2])
    if maxval != 255:
        raise NotImplementedError("16-bit PPM not supported")
    px = np.frombuffer(parts[3], dtype=np.uint8)
    if px.size != w * h * 3:
        raise ValueError(f"PPM payload {px.size} != {w}*{h}*3")
    return w, h, float(int(px.sum(dtype=np.int64))) / px.size


def decode_audio(blob: bytes) -> tuple[int, float | None]:
    """Decode one raw u8 PCM payload → (n_samples, mean_sample); an empty
    payload yields (0, None) instead of dividing by zero."""
    s = np.frombuffer(bytes(blob), dtype=np.uint8)
    if not s.size:
        return 0, None
    return s.size, float(int(s.sum(dtype=np.int64))) / s.size


def _y4m_header(blob: bytes) -> tuple[int, int, int, bytes]:
    """Parse a Y4M container's header → (w, h, frame_size, payload_bytes).
    Shared by the full decode and the frame sampler. Raises the honest
    NotImplementedError seam for non-Y4M magic / unsupported colorspaces."""
    b = bytes(blob)
    if not b.startswith(b"YUV4MPEG2"):
        raise NotImplementedError(
            "only Y4M (uncompressed YUV) decodes codec-free; MP4/H.264 "
            "need ffmpeg (not available in this container)")
    header, rest = b.split(b"\n", 1)
    w = h = None
    colorspace = "C420jpeg"  # Y4M default when the C tag is absent
    for tag in header.split(b" ")[1:]:
        if tag[:1] == b"W":
            w = int(tag[1:])
        elif tag[:1] == b"H":
            h = int(tag[1:])
        elif tag[:1] == b"C":
            colorspace = tag.decode()
    if w is None or h is None:
        raise ValueError("Y4M header missing W/H tags")
    if colorspace != "C444":
        raise NotImplementedError(
            f"Y4M colorspace {colorspace} not supported (C444 only)")
    return w, h, 3 * w * h, rest


def _y4m_frame_offsets(rest: bytes, frame_size: int):
    """Yield (frame_idx, payload_start) for each FRAME marker — an index
    walk only, no pixel bytes materialized."""
    pos = 0
    f = 0
    while pos < len(rest):
        nl = rest.index(b"\n", pos)
        if rest[pos:pos + 5] != b"FRAME":
            raise ValueError("Y4M frame marker missing")
        start = nl + 1
        yield f, start
        pos = start + frame_size
        f += 1


def decode_video(blob: bytes) -> tuple[int, int, np.ndarray]:
    """Decode one Y4M (YUV4MPEG2) payload → (width, height, frames) with
    ``frames`` a uint8 array of shape (n_frames, 3·w·h).

    Real parse for the uncompressed Y4M container (text header with
    W/H/C tags, then ``FRAME``-delimited raw planes); compressed video
    (MP4/H.264/VP9) needs ffmpeg — not in this container — so any other
    magic raises the honest NotImplementedError seam, same contract as
    ``decode_image``. Only the C444 colorspace (full-resolution planes) is
    parsed; subsampled layouts extend the plane-size arithmetic.
    """
    w, h, frame_size, rest = _y4m_header(blob)
    frames = []
    for _, start in _y4m_frame_offsets(rest, frame_size):
        px = np.frombuffer(rest[start:start + frame_size], dtype=np.uint8)
        if px.size != frame_size:
            raise ValueError(f"Y4M frame payload {px.size} != {frame_size}")
        frames.append(px)
    return w, h, np.stack(frames) if frames else np.empty((0, frame_size),
                                                          dtype=np.uint8)


def extract_features(media: DataFrame) -> DataFrame:
    """``mapInPandas`` feature extraction over binary media columns.

    Batches arrive as Arrow-backed pandas frames; each yields one
    fixed-shape feature row per input row. All three kinds decode for real
    (PPM / raw PCM / Y4M); video reports (width, height), total payload
    bytes as ``n_samples``, and the all-frames mean. The iterator shape
    keeps peak memory to one batch of blobs per task regardless of
    partition size.
    """
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"media_id": pdf["media_id"], "kind": pdf["kind"],
                   "width": [], "height": [], "n_samples": [],
                   "mean_val": [], "decode_ok": []}
            for kind, blob in zip(pdf["kind"], pdf["content"]):
                w = h = ns = mv = None
                ok = True
                # Per-row robustness: one corrupt blob
                # must flag ITS row (decode_ok=False, NULL metrics), not
                # kill the whole stage after task retries — that is what
                # the decode_ok column is FOR. NotImplementedError is NOT
                # caught: the unsupported-codec seam is a documented
                # boundary the caller must route around, not bad data.
                try:
                    if kind == "image":
                        w, h, mv = decode_image(blob)
                    elif kind == "audio":
                        ns, mv = decode_audio(blob)
                    elif kind == "video":
                        w, h, frames = decode_video(blob)
                        ns = int(frames.size)
                        mv = (float(int(frames.sum(dtype=np.int64)))
                              / frames.size if frames.size else None)
                    else:
                        ok = False
                except NotImplementedError:
                    raise
                except Exception:
                    w = h = ns = mv = None
                    ok = False
                out["width"].append(w)
                out["height"].append(h)
                out["n_samples"].append(ns)
                out["mean_val"].append(mv)
                out["decode_ok"].append(ok)
            res = pd.DataFrame(out)
            res["width"] = res["width"].astype("Int32")
            res["height"] = res["height"].astype("Int32")
            res["n_samples"] = res["n_samples"].astype("Int64")
            yield res

    return media.mapInPandas(run, schema=FEATURE_SCHEMA)


FRAME_SCHEMA = "media_id bigint, frame_idx int, frame_mean double"


def sample_frames(media: DataFrame, every_n: int = 10) -> DataFrame:
    """Video frame sampling with REAL decode: every ``every_n``-th frame of
    each Y4M video row → ``(media_id, frame_idx, frame_mean)``.

    One ``mapInPandas`` pass over the video rows only (the kind filter
    prunes image/audio blobs before any Python); each task holds one Arrow
    batch of blobs and emits bounded fan-out (⌈n_frames/every_n⌉ rows per
    video). Sampled frames are SLICED at their container offsets — an
    index walk over the FRAME markers plus one ``frombuffer`` per sampled
    frame — so the (every_n−1)/every_n unsampled frames are never
    materialized (a full decode-then-discard would hold every frame in
    memory). A real ffmpeg seek-based sampler replaces this
    here; the Spark-side shape — filter → mapInPandas → explode-like
    output — is the production one."""
    videos = media.filter(F.col("kind") == "video")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids: list[int] = []
            idxs: list[int] = []
            means: list[float] = []
            for mid, blob in zip(pdf["media_id"], pdf["content"]):
                _, _, frame_size, rest = _y4m_header(blob)
                for f, start in _y4m_frame_offsets(rest, frame_size):
                    if f % every_n:
                        continue
                    px = np.frombuffer(rest[start:start + frame_size],
                                       dtype=np.uint8)
                    if px.size != frame_size:
                        raise ValueError(
                            f"Y4M frame payload {px.size} != {frame_size}")
                    ids.append(mid)
                    idxs.append(f)
                    means.append(
                        float(int(px.sum(dtype=np.int64))) / px.size)
            yield pd.DataFrame({
                "media_id": pd.Series(ids, dtype="int64"),
                "frame_idx": pd.Series(idxs, dtype="int32"),
                "frame_mean": pd.Series(means, dtype="float64"),
            })

    return videos.mapInPandas(run, schema=FRAME_SCHEMA)
