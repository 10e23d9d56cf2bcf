"""Deterministic image payload kernel: codecs, phash, PSNR comparator.

The reference crawler is text-only; image payloads come from BASELINE.json
``input_hint`` (columns image_id/bytes/w/h/fmt/caption/phash). This container
ships no image libraries (no PIL/cv2), so — per the build brief — the codecs
here are deterministic and self-contained:

- ``fmt='png'``  : a REAL minimal PNG codec (pure numpy + zlib, filter type
  0, 8-bit RGB). Lossless → exact pixel equality on round-trip.
- ``fmt='jpeg'`` : a clearly-marked deterministic STAND-IN for a lossy codec
  ("LSY1": 6-bit/channel quantization + zlib). It is NOT a JPEG bitstream;
  it exists so the PSNR ≥ 40 dB comparator path (input_hint) exercises real
  lossy math (6-bit quantization ⇒ PSNR ≈ 48 dB). On a real cluster, swap
  ``encode_image``/``decode_image`` for Pillow/libjpeg calls — every
  Spark-side signature (binary in/out, Arrow batching) is unchanged.

All Spark entry points are Arrow-vectorized pandas UDFs over ``binary``
columns; decoded pixels never enter a shuffle (SURVEY.md §7.3.4).
"""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pandas as pd

# ---------------------------------------------------------------------------
# numpy kernels
# ---------------------------------------------------------------------------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


def png_encode(img: np.ndarray) -> bytes:
    """Minimal RGB8 PNG writer (filter 0 on every scanline)."""
    h, w, c = img.shape
    assert c == 3 and img.dtype == np.uint8
    raw = np.concatenate(
        [np.zeros((h, 1), dtype=np.uint8), img.reshape(h, w * 3)], axis=1
    ).tobytes()
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        _PNG_SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(raw, _ZLIB_LEVEL))
        + _chunk(b"IEND", b"")
    )


def png_decode(data: bytes) -> np.ndarray:
    """Decode PNGs produced by png_encode (filter 0 only)."""
    assert data[:8] == _PNG_SIG, "not a PNG"
    pos, w = 8, 0
    idat = b""
    h = 0
    while pos < len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        payload = data[pos + 8 : pos + 8 + length]
        if tag == b"IHDR":
            w, h, bitdepth, colortype = struct.unpack(">IIBB", payload[:10])
            assert bitdepth == 8 and colortype == 2, "only RGB8 supported"
        elif tag == b"IDAT":
            idat += payload
        pos += 12 + length
    raw = np.frombuffer(zlib.decompress(idat), dtype=np.uint8).reshape(h, 1 + w * 3)
    assert (raw[:, 0] == 0).all(), "only filter type 0 supported"
    return raw[:, 1:].reshape(h, w, 3).copy()


_LSY_MAGIC = b"LSY1"
_QUANT_BITS = 6  # step 4 → MSE ≈ 1.25 → PSNR ≈ 47 dB (comfortably ≥ 40)
# zlib level for payload encoding: the synthetic images carry ±20 uniform
# noise and are essentially incompressible (measured: level 1/3/6 all reach
# 18.5 KB vs 18.9 KB raw for ~400 µs/row; level 0 stores in 30 µs/row at
# +2.4% size). Level 0 is still a REAL zlib stream inside a REAL PNG —
# any decoder reads it; swap in a higher level when payloads are real
# photographic images that actually compress.
_ZLIB_LEVEL = 0


def lossy_encode(img: np.ndarray) -> bytes:
    """Deterministic lossy stand-in codec (see module docstring)."""
    h, w, _ = img.shape
    shift = 8 - _QUANT_BITS
    q = (img >> shift).astype(np.uint8)
    return _LSY_MAGIC + struct.pack(">II", w, h) + zlib.compress(q.tobytes(), _ZLIB_LEVEL)


def lossy_decode(data: bytes) -> np.ndarray:
    assert data[:4] == _LSY_MAGIC, "not an LSY1 payload"
    w, h = struct.unpack(">II", data[4:12])
    q = np.frombuffer(zlib.decompress(data[12:]), dtype=np.uint8).reshape(h, w, 3)
    shift = 8 - _QUANT_BITS
    # dequantize to bin centers
    return ((q.astype(np.uint16) << shift) + (1 << (shift - 1))).clip(0, 255).astype(np.uint8)


def encode_image(img: np.ndarray, fmt: str) -> bytes:
    return png_encode(img) if fmt == "png" else lossy_encode(img)


def lossy_roundtrip(img: np.ndarray) -> np.ndarray:
    """decode(encode(img)) for the lossy codec WITHOUT the zlib round-trip —
    quantize-then-dequantize is closed-form. Bit-identical to
    ``lossy_decode(lossy_encode(img))`` (property-tested); the hot fetch
    kernel uses this to derive post-codec pixels for phash while the oracle
    path (sources.synthetic.fetch_payload_py) runs the REAL round-trip, so
    the Spark-vs-oracle equality gates verify the shortcut every run.
    Max value = ((255>>s)<<s) + 2^(s-1) ≤ 255, so no clip is needed."""
    shift = 8 - _QUANT_BITS
    return (((img >> shift) << shift) + (1 << (shift - 1))).astype(np.uint8)


def decode_image(data: bytes, fmt: str) -> np.ndarray:
    return png_decode(data) if fmt == "png" else lossy_decode(data)


def synth_image(key: int, w: int, h: int) -> np.ndarray:
    """Deterministic synthetic image: seeded gradient + noise (FIXTURES.md §1).

    Pure function of (key, w, h); key is typically
    portable_hash64_py(url) ^ global_seed.
    """
    rng = np.random.default_rng(key & 0xFFFFFFFFFFFFFFFF)
    # broadcast arithmetic instead of mgrid/stack/clip temporaries —
    # bit-identical output (property: same float64 ops in the same order),
    # ~25% cheaper in the hot fetch kernel
    xx = np.arange(w) * 255 / max(w - 1, 1)
    yy = np.arange(h) * 255 / max(h - 1, 1)
    base = (xx[None, :] + yy[:, None]) / 2
    img = np.empty((h, w, 3), dtype=np.float64)
    img[:, :, 0] = base
    img[:, :, 1] = np.roll(base, h // 3, axis=0)
    img[:, :, 2] = 255 - base
    noise = rng.integers(-20, 21, size=(h, w, 3))
    img += noise
    np.clip(img, 0, 255, out=img)
    return img.astype(np.uint8)


def phash64(img: np.ndarray) -> int:
    """64-bit mean perceptual hash: 8x8 block-averaged grayscale vs median.

    Block sums are EXACT integer scatter-sums (sum of r+g+b per pixel, then
    two ``np.add.reduceat`` passes over contiguous block spans — ~5× cheaper
    than materializing a per-pixel index for bincount); only the final
    per-block mean divides, so the result is order-independent and fully
    deterministic.
    """
    h, w, _ = img.shape
    # row/col offsets where the 8-way block index increments: block of row r
    # is r*8//h, so block b starts at ceil(b*h/8) = -((-b*h)//8)
    rb = -((-np.arange(8) * h) // 8)
    cb = -((-np.arange(8) * w) // 8)
    # channels are memory-adjacent in (h, w, 3): viewing a row as w*3 flat
    # bytes, pixel-column block [cb_k, cb_{k+1}) is flat span [3·cb_k,
    # 3·cb_{k+1}) — so one reduceat over the flat rows sums r+g+b AND the
    # column blocks together, straight off the uint8 buffer (no h×w
    # temporary; exact integer sums, order-independent)
    flat = img.reshape(h, w * 3)
    sums = np.add.reduceat(
        np.add.reduceat(flat, rb, axis=0, dtype=np.uint32), cb * 3, axis=1
    )
    rcnt = np.diff(np.append(rb, h))
    ccnt = np.diff(np.append(cb, w))
    counts = rcnt[:, None] * ccnt[None, :]
    blocks = sums / (3.0 * counts)
    f = blocks.ravel()
    p = np.partition(f, (31, 32))
    bits = blocks > (0.5 * (p[31] + p[32]))  # median of 64 = mean of middles
    v = int.from_bytes(np.packbits(bits).tobytes(), "big")
    # keep within signed int64 for Spark LongType
    return v - (1 << 64) if v >= (1 << 63) else v


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    mse = np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2)
    if mse == 0:
        return float("inf")
    return float(10.0 * np.log10(255.0**2 / mse))


# ---------------------------------------------------------------------------
# Spark-side Arrow-vectorized UDFs
# ---------------------------------------------------------------------------


def resize_nn(img: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    """Nearest-neighbor resize (pure numpy — real, not stubbed)."""
    h, w, _ = img.shape
    ys = (np.arange(out_h) * h // out_h).clip(0, h - 1)
    xs = (np.arange(out_w) * w // out_w).clip(0, w - 1)
    return img[ys[:, None], xs[None, :]]


def resize_images_udf(out_w: int, out_h: int):
    """Arrow-batched scalar pandas UDF (data, fmt) -> binary: resize
    encoded images to (out_w, out_h), re-encode in the same fmt.
    Decode→transform→encode stays inside one Arrow batch; pixels never
    leave the worker."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("binary")
    def _resize(data: pd.Series, fmt: pd.Series) -> pd.Series:
        out = []
        for payload, f in zip(data, fmt):
            if payload is None:
                out.append(None)
                continue
            img = decode_image(bytes(payload), f)
            out.append(encode_image(resize_nn(img, out_w, out_h), f))
        return pd.Series(out)

    return _resize


def psnr_udf():
    """pandas_udf (bytes_a, bytes_b, fmt) -> double PSNR.

    The per-row comparator from input_hint: PNG rows must be exact
    (inf PSNR), lossy rows must clear 40 dB. Used only in tests/verification
    — decoded pixels stay inside the UDF.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _psnr(a: pd.Series, b: pd.Series, fmt: pd.Series) -> pd.Series:
        out = []
        for pa, pb, f in zip(a, b, fmt):
            if pa is None or pb is None:
                out.append(None)
                continue
            out.append(psnr(decode_image(bytes(pa), f), decode_image(bytes(pb), f)))
        return pd.Series(out, dtype="float64")

    return _psnr


def image_stats_udf():
    """pandas_udf bytes,fmt -> struct(w,h,mean_lum,phash) — decode +
    feature-extract plumbing for multimodal columns (decode stays in-batch)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("struct<w:int,h:int,mean_lum:double,phash:long>")
    def _stats(data: pd.Series, fmt: pd.Series) -> pd.DataFrame:
        rows = []
        for payload, f in zip(data, fmt):
            if payload is None:
                rows.append((None, None, None, None))
                continue
            img = decode_image(bytes(payload), f)
            rows.append(
                (
                    img.shape[1],
                    img.shape[0],
                    float(img.astype(np.float64).mean()),
                    phash64(img),
                )
            )
        return pd.DataFrame(rows, columns=["w", "h", "mean_lum", "phash"])

    return _stats
