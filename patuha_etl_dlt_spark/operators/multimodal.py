"""Multimodal column plumbing: opaque binary media + typed metadata.

Images/audio/video ride as ``binary`` columns with a ``media_type``; the
decode/feature stage runs as ``mapInPandas`` (Arrow batch iterator — one
Python invocation per ~10k-row batch, never per row). Kernels:

- ``decode_kernel="headers"``: a REAL decoder for codec-free formats —
  BMP and PPM(P6) image headers, RIFF/WAVE audio headers — parsed with
  pure struct/numpy (no external codec library needed). Width/height come
  from the actual file bytes; for WAV, width=channels, height=bits per
  sample, n_frames=sample frames.
- ``decode_kernel="fake"`` (default, back-compat): a deterministic,
  pure-function-of-bytes fake decoder — real Spark plumbing with fake
  pixels, for payloads that aren't real media files.
- ``decode_kernel="png"``: a REAL compressed-format pixel decoder built
  on the stdlib alone (zlib inflate + chunk walk + scanline unfilter) for
  non-interlaced 8-bit gray/RGB/gray+alpha/RGBA PNGs; non-PNG payloads
  fall through to the headers kernel, unsupported PNG variants keep the
  IHDR dimensions with byte-stat features.
- ``decode_kernel="pil"`` (JPEG/GIF/everything): a REAL pixel decoder via
  Pillow, gated behind import-try; raises ``NotImplementedError`` in this
  container (no codec libs ship here).
- ``decode_kernel="auto"``: resolves pil → png → headers, strongest real
  decoder first — a real cluster exercises the full compressed path with
  zero code changes.

The Spark-side contract — input/output schemas, batch iterator shape,
partition sizing — is identical across kernels; swapping in PIL/pyav on a
real cluster touches nothing else.
"""

from __future__ import annotations

import struct
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("payload", T.BinaryType()),
    ]
)

DECODED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("feature", T.ArrayType(T.FloatType())),
    ]
)


def _fake_decode(payload: bytes, media_type: str) -> dict:
    """Deterministic pure function of the bytes — stands in for a real
    decoder. Dimensions derive from byte statistics; the 8-dim feature is
    a folded byte histogram."""
    if payload is None:
        return {"n_bytes": 0, "width": 0, "height": 0, "n_frames": 0, "feature": [0.0] * 8}
    b = np.frombuffer(bytes(payload), dtype=np.uint8)
    n = int(b.size)
    width = 16 + int(b[: min(n, 64)].sum() % 1024) if n else 0
    height = 16 + int(b[-min(n, 64):].sum() % 1024) if n else 0
    n_frames = 1 if media_type == "image" else 1 + n % 250
    hist = np.bincount(b % 8, minlength=8).astype(np.float64)
    feat = (hist / max(1, n)).round(6).astype(np.float32).tolist()
    return {"n_bytes": n, "width": width, "height": height, "n_frames": n_frames, "feature": feat}


def _byte_histogram_feature(b: np.ndarray) -> list[float]:
    hist = np.bincount(b % 8, minlength=8).astype(np.float64)
    return (hist / max(1, int(b.size))).round(6).astype(np.float32).tolist()


def synth_bmp(width: int, height: int, fill: int = 0) -> bytes:
    """A valid 24-bpp uncompressed BMP (BITMAPINFOHEADER) — deterministic
    pixel bytes. Pure struct packing; used by tests and gate queries to
    feed the real header decoder."""
    row_size = ((3 * width + 3) // 4) * 4
    img_size = row_size * height
    header = (
        b"BM"
        + struct.pack("<IHHI", 54 + img_size, 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0, img_size, 2835, 2835, 0, 0)
    )
    return header + bytes([fill % 256]) * img_size


def synth_ppm(width: int, height: int, fill: int = 0) -> bytes:
    """A valid binary PPM (P6) image."""
    return f"P6\n{width} {height}\n255\n".encode() + bytes([fill % 256]) * (3 * width * height)


def synth_wav(n_samples: int, sample_rate: int = 16000, channels: int = 1, bits: int = 16) -> bytes:
    """A valid PCM RIFF/WAVE file with silent samples."""
    block_align = channels * bits // 8
    data_size = n_samples * block_align
    return (
        b"RIFF"
        + struct.pack("<I", 36 + data_size)
        + b"WAVEfmt "
        + struct.pack("<IHHIIHH", 16, 1, channels, sample_rate, sample_rate * block_align, block_align, bits)
        + b"data"
        + struct.pack("<I", data_size)
        + b"\x00" * data_size
    )


def _decode_headers(payload: bytes, media_type: str) -> dict:
    """REAL decode for codec-free formats: sniff magic bytes, parse the
    header with struct/numpy. BMP → (width, height) from BITMAPINFOHEADER;
    PPM(P6) → from the ASCII header; RIFF/WAVE → width=channels,
    height=bits/sample, n_frames=sample frames. Unknown formats degrade to
    byte stats (never raise — bad records must not kill the batch)."""
    if payload is None:
        return {"n_bytes": 0, "width": 0, "height": 0, "n_frames": 0, "feature": [0.0] * 8}
    raw = bytes(payload)
    b = np.frombuffer(raw, dtype=np.uint8)
    n = int(b.size)
    out = {"n_bytes": n, "width": 0, "height": 0, "n_frames": 0, "feature": _byte_histogram_feature(b)}
    try:
        if raw[:2] == b"BM" and n >= 54:
            width, height = struct.unpack_from("<ii", raw, 18)
            out.update(width=int(width), height=int(abs(height)), n_frames=1)
        elif raw[:2] == b"P6":
            toks, i = [], 2
            while len(toks) < 3 and i < min(n, 256):
                j = i
                while j < n and raw[j : j + 1] not in b" \t\r\n":
                    j += 1
                if j > i and not raw[i:j].startswith(b"#"):
                    toks.append(int(raw[i:j]))
                else:  # comment line: skip to newline
                    while j < n and raw[j : j + 1] != b"\n":
                        j += 1
                i = j + 1
            out.update(width=toks[0], height=toks[1], n_frames=1)
        elif raw[:4] == b"RIFF" and raw[8:12] == b"WAVE":
            # walk RIFF chunks for fmt + data
            i, channels, bits, data_size = 12, 0, 0, 0
            while i + 8 <= n:
                cid, csize = raw[i : i + 4], struct.unpack_from("<I", raw, i + 4)[0]
                if cid == b"fmt ":
                    _, channels, _, _, _, bits = struct.unpack_from("<HHIIHH", raw, i + 8)
                elif cid == b"data":
                    data_size = csize
                i += 8 + csize + (csize & 1)
            block = max(1, channels * bits // 8)
            out.update(width=int(channels), height=int(bits), n_frames=int(data_size // block))
    except (struct.error, IndexError, ValueError):
        pass  # malformed header: keep byte-stat fallback
    return out


_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}  # gray, RGB, gray+alpha, RGBA


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    import zlib

    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def _png_predict(raw: np.ndarray, prev: np.ndarray, ftype: int, bpp: int) -> np.ndarray:
    """Per-scanline PNG predictor (RFC 2083 §6): returns the prediction to
    subtract (encode) for RECONSTRUCTED inputs ``raw``/``prev``. Used by
    the encoder only — the decoder needs reconstructed neighbors as it
    goes, so it unfilters incrementally (see ``_png_unfilter_row``)."""
    n = raw.size
    a = np.zeros(n, dtype=np.int32)
    a[bpp:] = raw[:-bpp].astype(np.int32)
    b = prev.astype(np.int32)
    c = np.zeros(n, dtype=np.int32)
    c[bpp:] = prev[:-bpp].astype(np.int32)
    if ftype == 0:
        return np.zeros(n, dtype=np.int32)
    if ftype == 1:
        return a
    if ftype == 2:
        return b
    if ftype == 3:
        return (a + b) // 2
    # Paeth
    p = a + b - c
    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
    return np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))


def _png_file(width: int, height: int, color_type: int, scanlines: bytes) -> bytes:
    """Assemble a PNG from its filtered scanline stream (default zlib
    level, so equal scanlines always give equal bytes)."""
    import zlib

    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(scanlines))
        + _png_chunk(b"IEND", b"")
    )


def _png_filtered_rows(pixels: np.ndarray, filter_type: int | str, bpp: int) -> bytes:
    """Scanline stream of ``pixels`` (one row per image row): each row is
    its filter-type byte followed by the filtered bytes."""
    out, prev = [], np.zeros(pixels.shape[1], dtype=np.uint8)
    for y in range(pixels.shape[0]):
        ftype = (y % 5) if filter_type == "mixed" else int(filter_type)
        pred = _png_predict(pixels[y], prev, ftype, bpp)
        filtered = ((pixels[y].astype(np.int32) - pred) % 256).astype(np.uint8)
        out.append(bytes([ftype]) + filtered.tobytes())
        prev = pixels[y]
    return b"".join(out)


def synth_png(
    width: int,
    height: int,
    fill: int | None = None,
    color_type: int = 2,
    filter_type: int | str = 0,
) -> bytes:
    """A valid non-interlaced 8-bit PNG built with stdlib zlib + struct —
    deterministic bytes, no codec library. ``fill`` paints a solid image
    (value-predictable pixels for oracle gates); ``fill=None`` paints a
    deterministic gradient. ``filter_type`` 0-4 applies that scanline
    filter to every row; ``'mixed'`` cycles row % 5 (exercises every
    decoder unfilter path in one file)."""
    ch = _PNG_CHANNELS[color_type]
    if fill is not None and filter_type == 0:
        # solid image, no filtering: every scanline is identical — build
        # the whole raw stream with one bytes multiply instead of a
        # per-row Python loop through the predictor (filter 0's
        # prediction is zero, so the filtered bytes ARE the pixel bytes).
        # Byte-identical to the general path.
        raw = (bytes([0]) + bytes([fill % 256]) * (width * ch)) * height
        return _png_file(width, height, color_type, raw)
    if fill is not None:
        pixels = np.full((height, width * ch), fill % 256, dtype=np.uint8)
    else:
        y, x = np.mgrid[0:height, 0 : width * ch]
        pixels = ((x * 3 + y * 7 + (x % ch)) % 256).astype(np.uint8)
    return _png_file(width, height, color_type, _png_filtered_rows(pixels, filter_type, ch))


def _png_unfilter_row(
    row: np.ndarray, prev: np.ndarray, ftype: int, bpp: int
) -> np.ndarray:
    """Reconstruct one scanline from its filtered bytes (decoder side).
    Filters 0/2 are pure vector ops; 1 (Sub) is a per-byte-lane cumulative
    sum mod 256; 3/4 need the current row's reconstructed left neighbor,
    so they walk pixels (vectorized across channels per step)."""
    n = row.size
    if ftype == 0:
        return row.copy()
    if ftype == 2:
        return row + prev  # uint8 wraps mod 256
    if ftype == 1:
        lanes = row.reshape(-1, bpp).astype(np.uint32)
        return (np.cumsum(lanes, axis=0) % 256).astype(np.uint8).reshape(n)
    recon = np.zeros(n, dtype=np.uint8)
    pi = prev.astype(np.int32)
    for x in range(0, n, bpp):
        a = recon[x - bpp : x].astype(np.int32) if x else np.zeros(bpp, dtype=np.int32)
        b = pi[x : x + bpp]
        if ftype == 3:
            pred = (a + b) // 2
        else:  # Paeth
            c = pi[x - bpp : x] if x else np.zeros(bpp, dtype=np.int32)
            p = a + b - c
            pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
            pred = np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))
        recon[x : x + bpp] = ((row[x : x + bpp].astype(np.int32) + pred) % 256).astype(
            np.uint8
        )
    return recon


def _png_gray(pixels: np.ndarray, color_type: int) -> np.ndarray:
    """Grayscale plane for the feature histogram — ITU-R 601-2 integer luma
    (PIL ``convert("L")`` coefficients: (19595·R + 38470·G + 7471·B +
    2^15) >> 16), alpha ignored, so the 'png' and 'pil' kernels agree on
    decodable files."""
    if color_type == 0:
        return pixels
    ch = _PNG_CHANNELS[color_type]
    px = pixels.reshape(-1, ch).astype(np.uint32)
    if color_type == 4:
        return px[:, 0].astype(np.uint8)
    return ((19595 * px[:, 0] + 38470 * px[:, 1] + 7471 * px[:, 2] + 0x8000) >> 16).astype(
        np.uint8
    )


def _png_decode(payload: bytes, media_type: str) -> dict:
    """REAL stdlib PNG decoder (zlib inflate + chunk walk + per-scanline
    unfilter) for non-interlaced 8-bit gray / RGB / gray+alpha / RGBA —
    the one compressed format this container can decode and oracle with
    no codec dependency. Degrades, never raises: non-PNG magic falls
    through to the headers kernel (so ``'png'`` serves a mixed media
    column), and unsupported PNG variants (16-bit, palette, interlaced)
    or malformed streams keep the IHDR dimensions with byte-stat
    features."""
    import zlib

    if payload is None:
        return {"n_bytes": 0, "width": 0, "height": 0, "n_frames": 0, "feature": [0.0] * 8}
    raw = bytes(payload)
    if raw[:8] != _PNG_SIG:
        return _decode_headers(payload, media_type)
    b = np.frombuffer(raw, dtype=np.uint8)
    out = {"n_bytes": int(b.size), "width": 0, "height": 0, "n_frames": 0,
           "feature": _byte_histogram_feature(b)}
    try:
        i, n = 8, len(raw)
        width = height = depth = ctype = interlace = None
        idat: list[bytes] = []
        while i + 8 <= n:
            clen, cid = struct.unpack_from(">I", raw, i)[0], raw[i + 4 : i + 8]
            data = raw[i + 8 : i + 8 + clen]
            if cid == b"IHDR":
                width, height, depth, ctype, _, _, interlace = struct.unpack(
                    ">IIBBBBB", data
                )
                out.update(width=int(width), height=int(height), n_frames=1)
            elif cid == b"IDAT":
                idat.append(data)
            elif cid == b"IEND":
                break
            i += 12 + clen  # len + type + data + crc
        ch = _PNG_CHANNELS.get(ctype)
        if width is None or ch is None or depth != 8 or interlace != 0 or not idat:
            return out  # header-only decode; feature stays byte stats
        stream = zlib.decompress(b"".join(idat))
        stride = width * ch
        if len(stream) != height * (1 + stride):
            return out
        scan = np.frombuffer(stream, np.uint8).reshape(height, 1 + stride)
        ftypes, rows = scan[:, 0], scan[:, 1:]
        # fast vectorized unfilter for whole-image filter types (the
        # overwhelmingly common encoder outputs): all-None is a pure
        # slice, all-Up is a column-wise cumulative sum (uint8 wraps mod
        # 256 natively). Anything else walks scanlines as before — the
        # per-row reconstruction needs the previous reconstructed row.
        if not ftypes.any():  # every scanline filter 0 (None)
            recon = rows
        elif (ftypes == 2).all():  # every scanline filter 2 (Up)
            recon = np.cumsum(rows, axis=0, dtype=np.uint8)
        else:
            recon = np.zeros((height, stride), dtype=np.uint8)
            prev = np.zeros(stride, dtype=np.uint8)
            for y in range(height):
                prev = _png_unfilter_row(rows[y], prev, int(ftypes[y]), ch)
                recon[y] = prev
        out["feature"] = _byte_histogram_feature(_png_gray(recon.ravel(), ctype))
    except (struct.error, zlib.error, IndexError, ValueError):
        pass  # malformed: keep whatever parsed
    return out


def _pil_decode(payload: bytes, media_type: str) -> dict:
    """Compressed-codec kernel (JPEG/PNG/GIF/...): REAL pixel decode via
    PIL. Env-gated: raises ``NotImplementedError`` when PIL is not
    importable (this container ships no codec libs); on a real cluster
    with Pillow installed it is selected automatically by
    ``decode_kernel="auto"`` with zero code changes. Output contract
    matches the other kernels: width/height/n_frames from the decoded
    image, ``feature`` = folded histogram of the GRAYSCALE pixels (for
    codec formats the byte histogram would hash compression artifacts,
    not content). Malformed payloads degrade to byte stats, never raise —
    bad records must not kill the batch."""
    try:
        import PIL.Image
    except ImportError:
        raise NotImplementedError(
            "decode_kernel='pil' needs Pillow, which is not in this "
            "container; use 'headers' (real codec-free decode) or 'fake' "
            "(deterministic stub) — the Spark plumbing is identical"
        ) from None
    import io

    if payload is None:
        return {"n_bytes": 0, "width": 0, "height": 0, "n_frames": 0, "feature": [0.0] * 8}
    raw = bytes(payload)
    b = np.frombuffer(raw, dtype=np.uint8)
    out = {"n_bytes": int(b.size), "width": 0, "height": 0, "n_frames": 0,
           "feature": _byte_histogram_feature(b)}
    try:
        img = PIL.Image.open(io.BytesIO(raw))
        out["width"], out["height"] = int(img.size[0]), int(img.size[1])
        out["n_frames"] = int(getattr(img, "n_frames", 1))
        pixels = np.asarray(img.convert("L"), dtype=np.uint8).ravel()
        out["feature"] = _byte_histogram_feature(pixels)
    except Exception:  # noqa: BLE001 — malformed media: keep byte-stat fallback
        pass
    return out


def resolve_decode_kernel(name: str = "auto") -> str:
    """``'auto'`` → ``'pil'`` when PIL imports (a real cluster with codec
    libs), else ``'png'`` — the stdlib PNG decoder, which itself falls
    through to the headers kernel for non-PNG payloads, so auto always
    resolves to the strongest REAL decoder the environment can run
    (preference order pil → png → headers). Explicit kernel names pass
    through unchanged."""
    if name != "auto":
        return name
    try:
        import PIL.Image  # noqa: F401

        return "pil"
    except ImportError:
        return "png"


def decode_media(
    df: DataFrame,
    decode_kernel: str = "fake",
    id_col: str = "media_id",
    type_col: str = "media_type",
    payload_col: str = "payload",
) -> DataFrame:
    """Decode/feature-extract media columns via mapInPandas (Arrow batches).

    Output: DECODED_SCHEMA. Partitioning is preserved; batch size follows
    ``spark.sql.execution.arrow.maxRecordsPerBatch``. Kernels: 'fake',
    'headers', 'pil' (compressed codecs, import-gated), or 'auto' (picks
    'pil' when available, else 'headers')."""
    kernels = {"fake": _fake_decode, "headers": _decode_headers, "png": _png_decode, "pil": _pil_decode}
    resolved = resolve_decode_kernel(decode_kernel)
    if resolved not in kernels:
        raise ValueError(
            f"unknown decode kernel {decode_kernel!r} (resolved to {resolved!r}); "
            f"supported: {sorted(kernels)} or 'auto'"
        )
    kernel = kernels[resolved]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pd.DataFrame(
                [kernel(p, t) for p, t in zip(pdf[payload_col], pdf[type_col])]
            )
            out.insert(0, "media_type", pdf[type_col].values)
            out.insert(0, "media_id", pdf[id_col].values)
            yield out

    cols = df.select(
        F.col(id_col).alias(id_col),
        F.col(type_col).alias(type_col),
        F.col(payload_col).alias(payload_col),
    )
    return cols.mapInPandas(run, DECODED_SCHEMA)


def frame_sample(df: DataFrame, every_n: int = 10) -> DataFrame:
    """Frame-sampling plan for video media: expand (media_id, n_frames) into
    sampled frame indices — pure Spark (sequence/explode), no Python."""
    return df.select(
        "media_id",
        F.explode(F.sequence(F.lit(0), F.col("n_frames") - 1, F.lit(every_n))).alias("frame_idx"),
    )
