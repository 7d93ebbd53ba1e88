"""Image codecs + perceptual hash + geotag derivation (stdlib + numpy).

The graft input table (BASELINE.json ``input_hint``) is
``(image_id string, bytes binary, w int, h int, fmt string,
caption string, phash long)``. PIL is absent in the sandbox, so the
engine pins a format whitelist it can encode/decode exactly with
stdlib+numpy (SURVEY.md §7 hard part 5):

* ``ppm``  — binary P6, 8-bit RGB
* ``bmp``  — uncompressed 24-bit BI_RGB, bottom-up rows
* ``png``  — 8-bit truecolor, zlib DEFLATE; encoder emits filter 0,
  decoder implements all five PNG filter types (None/Sub/Up/Avg/Paeth)

All three are lossless: a decoded row reproduces the stored ``phash``
exactly. One lossy codec, ``dctq`` (8×8 DCT coefficients, uniform
quantizer, zlib), keeps the input_hint's lossy contract (decoded-pixel
PSNR ≥ 40 dB) real; ``LOSSY_FORMATS`` names it. Every other format
(jpeg, webp, …) raises ``NotImplementedError`` at the dispatch seam,
and corrupt bytes of a known format raise ``ValueError``.

``phash64`` is a deterministic 8×8 average-hash of the grayscale
image — it both verifies decode integrity and derives the image's
geotag (``geotag_from_phash``), which is what makes J9 raster-tile
assignment a pure function of the table row. The geotag warp
concentrates ~30% of mass into one dense "urban" cell to exercise the
skew-salting path (FIXTURES.md §2).
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

FORMATS = ("ppm", "bmp", "png")

# ---------------------------------------------------------------------------
# PPM (P6)
# ---------------------------------------------------------------------------


def encode_ppm(pixels: np.ndarray) -> bytes:
    h, w, _ = pixels.shape
    return b"P6\n%d %d\n255\n" % (w, h) + pixels.astype(np.uint8).tobytes()


def decode_ppm(data: bytes) -> np.ndarray:
    if not data.startswith(b"P6"):
        raise ValueError("not a P6 ppm")
    # header: magic, whitespace-separated w h maxval, then raw
    idx = 2
    fields: list[int] = []
    while len(fields) < 3:
        while idx < len(data) and data[idx : idx + 1].isspace():
            idx += 1
        if data[idx : idx + 1] == b"#":  # comment line
            while idx < len(data) and data[idx : idx + 1] != b"\n":
                idx += 1
            continue
        start = idx
        while idx < len(data) and not data[idx : idx + 1].isspace():
            idx += 1
        fields.append(int(data[start:idx]))
    idx += 1  # single whitespace after maxval
    w, h, _maxval = fields
    arr = np.frombuffer(data, dtype=np.uint8, count=w * h * 3, offset=idx)
    return arr.reshape(h, w, 3).copy()


# ---------------------------------------------------------------------------
# BMP (24-bit BI_RGB)
# ---------------------------------------------------------------------------


def encode_bmp(pixels: np.ndarray) -> bytes:
    h, w, _ = pixels.shape
    row_size = (w * 3 + 3) & ~3
    img_size = row_size * h
    header = struct.pack("<2sIHHI", b"BM", 54 + img_size, 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, img_size, 2835, 2835, 0, 0)
    rows = np.zeros((h, row_size), dtype=np.uint8)
    # BGR order, bottom-up
    rows[:, : w * 3] = pixels[::-1, :, ::-1].reshape(h, w * 3)
    return header + info + rows.tobytes()


def decode_bmp(data: bytes) -> np.ndarray:
    if data[:2] != b"BM":
        raise ValueError("not a BMP")
    offset = struct.unpack_from("<I", data, 10)[0]
    hdr_size = struct.unpack_from("<I", data, 14)[0]
    if hdr_size < 40:
        raise ValueError("unsupported BMP header")
    w, h = struct.unpack_from("<ii", data, 18)
    bpp = struct.unpack_from("<H", data, 28)[0]
    comp = struct.unpack_from("<I", data, 30)[0]
    if bpp != 24 or comp != 0:
        raise ValueError("only 24-bit BI_RGB supported")
    flipped = h > 0
    h = abs(h)
    row_size = (w * 3 + 3) & ~3
    rows = np.frombuffer(data, dtype=np.uint8, count=row_size * h, offset=offset)
    rows = rows.reshape(h, row_size)[:, : w * 3].reshape(h, w, 3)
    rgb = rows[:, :, ::-1]
    return (rgb[::-1] if flipped else rgb).copy()


# ---------------------------------------------------------------------------
# PNG (8-bit truecolor, zlib)
# ---------------------------------------------------------------------------


def _png_chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


def encode_png(pixels: np.ndarray) -> bytes:
    h, w, _ = pixels.shape
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    raw = np.zeros((h, 1 + w * 3), dtype=np.uint8)
    raw[:, 1:] = pixels.reshape(h, w * 3)  # filter byte 0 per scanline
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw.tobytes(), 6))
        + _png_chunk(b"IEND", b"")
    )


def decode_png(data: bytes) -> np.ndarray:
    if data[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG")
    pos = 8
    w = h = None
    idat = b""
    while pos < len(data):
        (length,) = struct.unpack_from(">I", data, pos)
        tag = data[pos + 4 : pos + 8]
        payload = data[pos + 8 : pos + 8 + length]
        pos += 12 + length
        if tag == b"IHDR":
            w, h, depth, ctype, _comp, _filt, interlace = struct.unpack(">IIBBBBB", payload)
            if depth != 8 or ctype != 2 or interlace != 0:
                raise ValueError("only 8-bit truecolor non-interlaced supported")
        elif tag == b"IDAT":
            idat += payload
        elif tag == b"IEND":
            break
    if w is None:
        raise ValueError("missing IHDR")
    raw = np.frombuffer(zlib.decompress(idat), dtype=np.uint8).reshape(h, 1 + w * 3)
    bpp = 3
    out = np.zeros((h, w * 3), dtype=np.uint8)
    for y in range(h):
        f = raw[y, 0]
        line = raw[y, 1:].astype(np.uint8).copy()
        prev = out[y - 1] if y > 0 else np.zeros(w * 3, dtype=np.uint8)
        if f == 0:
            out[y] = line
        elif f == 1:  # Sub
            for x in range(w * 3):
                line[x] = (int(line[x]) + (int(line[x - bpp]) if x >= bpp else 0)) & 0xFF
            out[y] = line
        elif f == 2:  # Up
            out[y] = (line.astype(np.int16) + prev).astype(np.uint8)
        elif f == 3:  # Average
            for x in range(w * 3):
                left = int(line[x - bpp]) if x >= bpp else 0
                line[x] = (line[x] + ((left + int(prev[x])) >> 1)) & 0xFF
            out[y] = line
        elif f == 4:  # Paeth
            for x in range(w * 3):
                a = int(line[x - bpp]) if x >= bpp else 0
                c = int(prev[x - bpp]) if x >= bpp else 0
                b = int(prev[x])
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                line[x] = (line[x] + pred) & 0xFF
            out[y] = line
        else:
            raise ValueError(f"bad filter {f}")
    return out.reshape(h, w, 3).copy()


# ---------------------------------------------------------------------------
# dctq — a real LOSSY codec (8×8 DCT + uniform quantization + zlib)
# ---------------------------------------------------------------------------
# The input_hint's per-row invariant distinguishes lossless (bit-exact)
# from lossy (decoded-pixel PSNR ≥ 40 dB). The sandbox whitelist above
# is all lossless, which would leave the ≥40 dB gate vacuous — dctq is
# a deterministic numpy JPEG-analog (blockwise type-II DCT, uniform
# quantizer, zlib entropy stage) that exercises it for real.

DCTQ_Q = 6.0  # uniform quantization step — ~46 dB on random uint8 noise


def _dct_matrix(n: int = 8) -> np.ndarray:
    k = np.arange(n)[:, None]
    i = np.arange(n)[None, :]
    m = np.cos(np.pi * (2 * i + 1) * k / (2 * n)) * np.sqrt(2.0 / n)
    m[0, :] = np.sqrt(1.0 / n)
    return m


_DCT8 = _dct_matrix(8)


def _blockify(ch: np.ndarray) -> tuple[np.ndarray, int, int]:
    h, w = ch.shape
    ph, pw = (-h) % 8, (-w) % 8
    p = np.pad(ch, ((0, ph), (0, pw)), mode="edge").astype(np.float64)
    H, W = p.shape
    b = p.reshape(H // 8, 8, W // 8, 8).transpose(0, 2, 1, 3)
    return b, h, w


def encode_dctq(pixels: np.ndarray, q: float = DCTQ_Q) -> bytes:
    """Lossy encode: per channel, 8×8 DCT → round(coef/q) int16 → zlib."""
    h, w, _ = pixels.shape
    planes = []
    for c in range(3):
        b, _, _ = _blockify(pixels[:, :, c])
        coefs = _DCT8 @ b @ _DCT8.T
        qc = np.round(coefs / q).astype(np.int16)
        planes.append(qc.tobytes())
    header = b"DQ1" + struct.pack("<iid", h, w, q)
    return header + zlib.compress(b"".join(planes), 6)


def decode_dctq(data: bytes) -> np.ndarray:
    if data[:3] != b"DQ1":
        raise ValueError("not a dctq payload")
    h, w, q = struct.unpack("<iid", data[3:19])
    if h <= 0 or w <= 0 or not 0.0 < q < float("inf"):
        raise ValueError(f"dctq: bad header (h={h}, w={w}, q={q})")
    raw = zlib.decompress(data[19:])
    H, W = h + ((-h) % 8), w + ((-w) % 8)
    n_block = (H // 8) * (W // 8) * 64
    # checked before the allocation: one corrupt dim byte would
    # otherwise size a many-GiB array (MemoryError kills the task)
    if len(raw) != 3 * 2 * n_block:
        raise ValueError(f"dctq: {len(raw)} payload bytes for a {h}x{w} header")
    out = np.empty((h, w, 3), dtype=np.uint8)
    for c in range(3):
        qc = np.frombuffer(
            raw[c * n_block * 2 : (c + 1) * n_block * 2], dtype=np.int16
        ).reshape(H // 8, W // 8, 8, 8).astype(np.float64)
        blocks = _DCT8.T @ (qc * q) @ _DCT8
        plane = blocks.transpose(0, 2, 1, 3).reshape(H, W)
        out[:, :, c] = np.clip(np.round(plane[:h, :w]), 0, 255).astype(np.uint8)
    return out


LOSSY_FORMATS = ("dctq",)


# ---------------------------------------------------------------------------
# dispatch
# ---------------------------------------------------------------------------

_ENCODERS = {"ppm": encode_ppm, "bmp": encode_bmp, "png": encode_png, "dctq": encode_dctq}
_DECODERS = {"ppm": decode_ppm, "bmp": decode_bmp, "png": decode_png, "dctq": decode_dctq}


def encode(pixels: np.ndarray, fmt: str) -> bytes:
    try:
        enc = _ENCODERS[fmt]
    except KeyError:
        raise NotImplementedError(
            f"fmt={fmt!r}: encodable formats are {tuple(_ENCODERS)} (no PIL in "
            "this sandbox); jpeg/webp/mp3/mp4 would plug in behind the same dispatch"
        ) from None
    return enc(pixels)


def decode(data: bytes, fmt: str) -> np.ndarray:
    try:
        dec = _DECODERS[fmt]
    except KeyError:
        raise NotImplementedError(
            f"fmt={fmt!r}: decodable formats are {tuple(_DECODERS)} (no PIL in "
            "this sandbox)"
        ) from None
    try:
        return dec(data)
    except (ValueError, NotImplementedError):
        raise
    except (IndexError, KeyError, struct.error, zlib.error, OverflowError) as e:
        # Corrupt/truncated streams must surface as ONE auditable error
        # type at the ingest boundary, not whatever internal access
        # happened to fail first — the Spark kernels turn ValueError
        # into decoded=false rows instead of killing a 100-TB job.
        raise ValueError(
            f"{fmt}: corrupt or truncated stream ({type(e).__name__}: {e})"
        ) from e


# ---------------------------------------------------------------------------
# metrics / hashes
# ---------------------------------------------------------------------------


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    """Peak signal-to-noise ratio in dB; inf for identical images."""
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    mse = float(np.mean((a - b) ** 2))
    if mse == 0.0:
        return float("inf")
    return 10.0 * np.log10(255.0**2 / mse)


def phash64(pixels: np.ndarray) -> int:
    """Deterministic 64-bit average-hash of the grayscale 8×8 downsample.

    Box-downsample to 8×8 (average pooling over equal index blocks),
    threshold at the mean → 64 bits, returned as signed int64 (parquet
    ``phash long``).
    """
    px = np.asarray(pixels, dtype=np.float64)
    gray = 0.299 * px[:, :, 0] + 0.587 * px[:, :, 1] + 0.114 * px[:, :, 2]
    h, w = gray.shape
    ys = (np.arange(h) * 8 // h).astype(np.int64)
    xs = (np.arange(w) * 8 // w).astype(np.int64)
    sums = np.zeros((8, 8))
    counts = np.zeros((8, 8))
    np.add.at(sums, (ys[:, None].repeat(w, 1), xs[None, :].repeat(h, 0)), gray)
    np.add.at(counts, (ys[:, None].repeat(w, 1), xs[None, :].repeat(h, 0)), 1.0)
    cells8 = sums / np.maximum(counts, 1.0)
    bits = (cells8 > cells8.mean()).ravel()
    val = 0
    for i, b in enumerate(bits):
        if b:
            val |= 1 << i
    # to signed int64
    if val >= 1 << 63:
        val -= 1 << 64
    return int(val)


# ---------------------------------------------------------------------------
# geotag derivation (phash → lon/lat), with engineered skew
# ---------------------------------------------------------------------------

# default synthetic world: a metro bbox (SF-ish) used by synth + tests
DEFAULT_BBOX = (-122.52, 37.70, -122.35, 37.84)  # min_lon, min_lat, max_lon, max_lat
# the dense "urban core" sub-box receiving ~30% of all geotags
DENSE_FRAC = 0.30
DENSE_BOX = (-122.420, 37.770, -122.405, 37.785)


def geotag_from_phash(
    phash: np.ndarray,
    bbox: tuple[float, float, float, float] = DEFAULT_BBOX,
) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized pure function phash → (lon, lat).

    Splits the 64 hash bits into two 32-bit uniforms; warps ~DENSE_FRAC
    of the mass into DENSE_BOX so one grid cell is hot (skew fixture,
    FIXTURES.md §2). Deterministic — recomputable anywhere, which is
    what lets tile assignment J9 be verified by a brute-force oracle.
    """
    ph = np.asarray(phash, dtype=np.int64).astype(np.uint64)
    u1 = ((ph >> np.uint64(32)) & np.uint64(0xFFFFFFFF)).astype(np.float64) / 2**32
    u2 = (ph & np.uint64(0xFFFFFFFF)).astype(np.float64) / 2**32
    dense = u1 < DENSE_FRAC
    # re-stretch u1 within each branch so coords stay uniform
    u1d = np.where(dense, u1 / DENSE_FRAC, (u1 - DENSE_FRAC) / (1.0 - DENSE_FRAC))
    lon = np.where(
        dense,
        DENSE_BOX[0] + u1d * (DENSE_BOX[2] - DENSE_BOX[0]),
        bbox[0] + u1d * (bbox[2] - bbox[0]),
    )
    lat = np.where(
        dense,
        DENSE_BOX[1] + u2 * (DENSE_BOX[3] - DENSE_BOX[1]),
        bbox[1] + u2 * (bbox[3] - bbox[1]),
    )
    return lon, lat
