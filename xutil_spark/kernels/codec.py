"""Image codecs in pure numpy + zlib (PIL is not available in this env).

Formats (the ``fmt`` column of the images table, FIXTURES.md §1):

* ``raw`` — uncompressed RGB, row-major, h*w*3 bytes.
* ``png`` — real PNG: 8-bit RGB color type 2, one IDAT, filter 0 on
  every scanline (encoder); the decoder handles all five standard
  filters and split IDATs so externally-produced PNGs decode too.

* ``bmp`` — real Windows BMP, BI_RGB 24-bit (bottom-up or top-down,
  BGR, 4-byte row padding, V3/V4/V5 headers) — interop with external
  encoders is pinned by a PIL-gated test (tests/test_codec.py) that
  roundtrips Pillow-encoded BMP/PNG through these decoders when
  Pillow is installed.

* ``jpg`` — real baseline JPEG (kernels/jpeg.py): from-scratch T.81
  baseline sequential decoder (tables read from the stream, any
  sampling factors, DRI/RSTn) and 4:4:4 encoder whose default
  quantizer (qstep=4) keeps PSNR ≥ 40 dB, the input_hint's lossy
  gate; pinned on gradients AND uniform noise (the DCT worst case).

* ``q6`` — LOSSY: uniform 6-bit/channel quantization, 4 codes packed
  into 3 bytes (25% smaller than raw).  Mid-rise reconstruction
  (code*4+2) bounds the per-sample error at 2, so PSNR ≥
  20·log10(255/2) ≈ 42.1 dB on ANY image — the input_hint's lossy
  acceptance gate (PSNR ≥ 40 dB) holds by construction and is
  pytest-pinned (tests/test_codec.py).

``raw``/``png`` are lossless, so the per-row invariant (decoded pixels
allclose, PSNR ≥ 40 dB for lossy formats — BASELINE.json input_hint) is
exact for them; ``psnr`` implements the lossy gate.

These run inside ``mapInPandas`` batches (xutil_spark.raster.images,
operators.fused) through ``decode_batch``: raw and PNG rows decode per
``(fmt, h, w)`` group with no per-row numpy work (PNG still inflates
each image with its own ``zlib`` call); bmp, jpg and q6 decode one
image at a time.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


def encode_raw(pixels: np.ndarray) -> bytes:
    """(h, w, 3) uint8 → raw RGB bytes."""
    if pixels.dtype != np.uint8 or pixels.ndim != 3 or pixels.shape[2] != 3:
        raise ValueError("expect (h, w, 3) uint8")
    return pixels.tobytes()


def decode_raw(data: bytes, w: int, h: int) -> np.ndarray:
    arr = np.frombuffer(data, dtype=np.uint8)
    if arr.size != w * h * 3:
        raise ValueError(f"raw size {arr.size} != {w}x{h}x3")
    return arr.reshape(h, w, 3)


def _chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


def encode_png(pixels: np.ndarray) -> bytes:
    """(h, w, 3) uint8 → PNG bytes (color type 2, filter 0)."""
    if pixels.dtype != np.uint8 or pixels.ndim != 3 or pixels.shape[2] != 3:
        raise ValueError("expect (h, w, 3) uint8")
    h, w = pixels.shape[:2]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    # prepend filter byte 0 to each scanline
    raw = np.empty((h, w * 3 + 1), dtype=np.uint8)
    raw[:, 0] = 0
    raw[:, 1:] = pixels.reshape(h, w * 3)
    idat = zlib.compress(raw.tobytes(), 6)
    return (
        _PNG_MAGIC
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", idat)
        + _chunk(b"IEND", b"")
    )


def _png_scanlines(data: bytes) -> tuple[int, int, bytes]:
    """PNG bytes → ``(w, h, inflated scanlines)``: chunk parse (IDATs
    concatenated) and zlib, with every header and size check."""
    if data[:8] != _PNG_MAGIC:
        raise ValueError("not a PNG")
    pos = 8
    w = h = None
    idat = []
    while pos < len(data):
        (length,) = struct.unpack(">I", data[pos:pos + 4])
        tag = data[pos + 4:pos + 8]
        payload = data[pos + 8:pos + 8 + length]
        pos += 12 + length
        if tag == b"IHDR":
            w, h, depth, ctype, comp, filt, inter = struct.unpack(
                ">IIBBBBB", payload
            )
            if depth != 8 or ctype != 2 or inter != 0:
                raise ValueError(
                    f"unsupported PNG: depth={depth} ctype={ctype} interlace={inter}"
                )
        elif tag == b"IDAT":
            idat.append(payload)
        elif tag == b"IEND":
            break
    if w is None:
        raise ValueError("no IHDR")
    raw = zlib.decompress(b"".join(idat))
    if len(raw) != h * (w * 3 + 1):
        raise ValueError("bad PNG payload size")
    return w, h, raw


def _unfilter(raw: np.ndarray, w: int) -> np.ndarray:
    """(m, h, w·3+1) filtered scanlines of m same-shape PNGs → (m, h, w, 3)
    uint8.  One Python step per scanline row, shared by all m images;
    each image's filter byte picks its own arithmetic.  When every
    filter byte is 0 (what ``encode_png`` emits) the result is a view
    of ``raw`` with no arithmetic at all."""
    m, h, _ = raw.shape
    filters = raw[:, :, 0]
    if not filters.any():
        return raw[:, :, 1:].reshape(m, h, w, 3)
    if filters.max() > 4:
        raise ValueError(f"bad filter {filters[filters > 4][0]}")
    bpp = 3
    out = raw[:, :, 1:].astype(np.int32)  # filter-0 rows are final as is
    zero = np.zeros((m, w * bpp), dtype=np.int32)
    for y in np.flatnonzero(filters.any(axis=0)):
        f = filters[:, y]
        line = out[:, y]  # view: writes land in out
        prev = out[:, y - 1] if y else zero
        for kind in np.unique(f[f != 0]).tolist():
            sel = f == kind
            cur = line[sel]
            k = len(cur)
            if kind == 2:  # Up
                line[sel] = (cur + prev[sel]) & 0xFF
            elif kind == 1:  # Sub: per-channel prefix sum mod 256
                line[sel] = (
                    cur.reshape(k, w, bpp).astype(np.int64).cumsum(axis=1) & 0xFF
                ).reshape(k, w * bpp)
            else:  # Average / Paeth: nonlinear left recurrence — one
                # Python step per COLUMN, all channels and images
                # vectorized (the floor/argmin rule out a closed prefix form)
                cur2 = cur.reshape(k, w, bpp)
                prev2 = prev[sel].reshape(k, w, bpp)
                line2 = np.zeros_like(cur2)
                left = np.zeros_like(cur2[:, 0])
                upleft = np.zeros_like(left)
                if kind == 3:
                    for x in range(w):
                        left = (cur2[:, x] + ((left + prev2[:, x]) >> 1)) & 0xFF
                        line2[:, x] = left
                else:
                    for x in range(w):
                        b2 = prev2[:, x]
                        p = left + b2 - upleft
                        pa = np.abs(p - left)
                        pb = np.abs(p - b2)
                        pc = np.abs(p - upleft)
                        pr = np.where(
                            (pa <= pb) & (pa <= pc), left,
                            np.where(pb <= pc, b2, upleft),
                        )
                        left = (cur2[:, x] + pr) & 0xFF
                        line2[:, x] = left
                        upleft = b2
                line[sel] = line2.reshape(k, w * bpp)
    return out.astype(np.uint8).reshape(m, h, w, 3)


def decode_png(data: bytes) -> np.ndarray:
    """PNG bytes → (h, w, 3) uint8.  Supports 8-bit RGB (color type 2),
    all five scanline filters, no interlace; multiple IDAT chunks are
    concatenated.
    """
    w, h, raw = _png_scanlines(data)
    scan = np.frombuffer(raw, dtype=np.uint8).reshape(1, h, w * 3 + 1)
    return np.array(_unfilter(scan, w)[0])


def encode_q6(pixels: np.ndarray) -> bytes:
    """(h, w, 3) uint8 → 6-bit/channel quantized stream, 4 codes per
    3 bytes (vectorized bit packing; the sample count w·h·3 is always a
    multiple of 4 for RGB when w·h is even, padded with zero codes
    otherwise — the decoder truncates by the known w·h·3)."""
    if pixels.dtype != np.uint8 or pixels.ndim != 3 or pixels.shape[2] != 3:
        raise ValueError("expect (h, w, 3) uint8")
    codes = (pixels.reshape(-1) >> 2).astype(np.uint8)
    pad = (-codes.size) % 4
    if pad:
        codes = np.concatenate([codes, np.zeros(pad, np.uint8)])
    c = codes.reshape(-1, 4)
    out = np.empty((c.shape[0], 3), dtype=np.uint8)
    out[:, 0] = (c[:, 0] << 2) | (c[:, 1] >> 4)
    out[:, 1] = ((c[:, 1] & 0x0F) << 4) | (c[:, 2] >> 2)
    out[:, 2] = ((c[:, 2] & 0x03) << 6) | c[:, 3]
    return out.tobytes()


def decode_q6(data: bytes, w: int, h: int) -> np.ndarray:
    """q6 stream → (h, w, 3) uint8 with mid-rise reconstruction
    code*4+2 (max per-sample error 2 ⇒ PSNR ≥ 42.1 dB always)."""
    n = w * h * 3
    b = np.frombuffer(data, dtype=np.uint8)
    if b.size != ((n + 3) // 4) * 3:
        raise ValueError(f"q6 size {b.size} != packed {w}x{h}x3")
    b = b.reshape(-1, 3)
    c = np.empty((b.shape[0], 4), dtype=np.uint8)
    c[:, 0] = b[:, 0] >> 2
    c[:, 1] = ((b[:, 0] & 0x03) << 4) | (b[:, 1] >> 4)
    c[:, 2] = ((b[:, 1] & 0x0F) << 2) | (b[:, 2] >> 6)
    c[:, 3] = b[:, 2] & 0x3F
    codes = c.reshape(-1)[:n]
    return ((codes << 2) + 2).astype(np.uint8).reshape(h, w, 3)


def encode_bmp(pixels: np.ndarray) -> bytes:
    """(h, w, 3) uint8 → Windows BMP (BITMAPINFOHEADER, BI_RGB 24-bit:
    bottom-up rows, BGR byte order, rows padded to 4 bytes) — the
    plainest *interchange* format real tools emit, proving the codec
    registry extends beyond this repo's own formats."""
    if pixels.dtype != np.uint8 or pixels.ndim != 3 or pixels.shape[2] != 3:
        raise ValueError("expect (h, w, 3) uint8")
    h, w = pixels.shape[:2]
    stride = (w * 3 + 3) & ~3
    rows = np.zeros((h, stride), dtype=np.uint8)
    rows[:, : w * 3] = pixels[::-1, :, ::-1].reshape(h, w * 3)  # bottom-up BGR
    data = rows.tobytes()
    off = 14 + 40
    header = struct.pack("<2sIHHI", b"BM", off + len(data), 0, 0, off)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(data),
                       2835, 2835, 0, 0)
    return header + info + data


def decode_bmp(data: bytes) -> np.ndarray:
    """BMP bytes → (h, w, 3) uint8.  Supports the common case real
    encoders produce: BITMAPINFOHEADER (or larger V4/V5 headers),
    24-bit BI_RGB, top-down or bottom-up."""
    if data[:2] != b"BM":
        raise ValueError("not a BMP")
    (off,) = struct.unpack("<I", data[10:14])
    (hsize,) = struct.unpack("<I", data[14:18])
    if hsize < 40:
        raise ValueError(f"unsupported BMP header size {hsize}")
    w, h, planes, bpp, comp = struct.unpack("<iiHHI", data[18:34])
    if bpp != 24 or comp != 0:
        raise ValueError(f"unsupported BMP: bpp={bpp} compression={comp}")
    flip = h > 0
    h = abs(h)
    stride = (w * 3 + 3) & ~3
    raw = np.frombuffer(data, dtype=np.uint8,
                        count=h * stride, offset=off).reshape(h, stride)
    img = raw[:, : w * 3].reshape(h, w, 3)[:, :, ::-1]  # BGR → RGB
    return (img[::-1] if flip else img).copy()


def _encode_jpg(pixels: np.ndarray) -> bytes:
    from xutil_spark.kernels.jpeg import encode_jpeg

    return encode_jpeg(pixels)


def _decode_jpg(data: bytes, w: int, h: int) -> np.ndarray:
    from xutil_spark.kernels.jpeg import decode_jpeg

    return decode_jpeg(bytes(data))


# fmt → (encode(pixels)->bytes, decode(data, w, h)->pixels); any format
# can be registered here — decode_image/encode_image dispatch through it
CODECS: dict = {
    "raw": (encode_raw, decode_raw),
    "png": (encode_png, lambda d, w, h: decode_png(bytes(d))),
    "bmp": (encode_bmp, lambda d, w, h: decode_bmp(bytes(d))),
    "jpg": (_encode_jpg, _decode_jpg),
    "q6": (encode_q6, decode_q6),
}


def encode_image(pixels: np.ndarray, fmt: str) -> bytes:
    if fmt in CODECS:
        return CODECS[fmt][0](pixels)
    raise NotImplementedError(
        f"codec {fmt!r} not available in this environment (no PIL/ffmpeg); "
        "plumbing supports any fmt registered in CODECS"
    )


def decode_image(data: bytes, w: int, h: int, fmt: str) -> np.ndarray:
    if fmt in CODECS:
        return CODECS[fmt][1](data, w, h)
    raise NotImplementedError(f"codec {fmt!r} not available")


def _by_shape(pos: np.ndarray, h: np.ndarray, w: np.ndarray):
    """Split positions ``pos`` by equal ``(h, w)``: yields (h, w, positions)."""
    if not len(pos):
        return
    keys, inv = np.unique(np.stack([h, w], axis=1), axis=0, return_inverse=True)
    inv = inv.reshape(-1)
    cuts = np.cumsum(np.bincount(inv, minlength=len(keys)))[:-1]
    groups = np.split(pos[np.argsort(inv, kind="stable")], cuts)
    for (gh, gw), idx in zip(keys.tolist(), groups):
        yield gh, gw, idx


def decode_batch(data, w, h, fmt):
    """Decode a slice of images, grouped by ``(fmt, decoded h, decoded w)``.

    Yields ``(row_positions, px[m, h, w, 3])`` once per group; every row
    lands in exactly one group.  ``data``/``w``/``h``/``fmt`` are
    equal-length sequences (the image table's columns).

    * raw: one ``b"".join`` and one ``np.frombuffer`` per group.
    * png: chunk parse + zlib per image, then the group's scanlines are
      unfiltered together (``_unfilter``); groups follow the IHDR dims,
      so a header that disagrees with its row decodes as it says.
    * any other ``CODECS`` entry (bmp, jpg, q6, …): ``decode_image`` per
      image, stacked by decoded shape.

    Errors are the per-image decoders' (``ValueError`` on a wrong raw
    length, bad magic or filter byte; ``zlib.error`` on a corrupt
    stream; ``NotImplementedError`` on an unregistered fmt)."""
    data = list(data)
    w = np.asarray(w, dtype=np.int64)
    h = np.asarray(h, dtype=np.int64)
    fmt = np.asarray(fmt, dtype=object)

    raw = np.flatnonzero(fmt == "raw")
    size = np.fromiter((len(data[i]) for i in raw), np.int64, len(raw))
    bad = np.flatnonzero(size != w[raw] * h[raw] * 3)
    if len(bad):
        i = raw[bad[0]]
        raise ValueError(f"raw size {size[bad[0]]} != {w[i]}x{h[i]}x3")
    for gh, gw, idx in _by_shape(raw, h[raw], w[raw]):
        buf = b"".join([data[i] for i in idx])
        yield idx, np.frombuffer(buf, dtype=np.uint8).reshape(len(idx), gh, gw, 3)

    png = np.flatnonzero(fmt == "png")
    parsed = [_png_scanlines(bytes(data[i])) for i in png]
    pw = np.array([p[0] for p in parsed], dtype=np.int64)
    ph = np.array([p[1] for p in parsed], dtype=np.int64)
    for gh, gw, sub in _by_shape(np.arange(len(png)), ph, pw):
        buf = b"".join([parsed[j][2] for j in sub])
        scan = np.frombuffer(buf, dtype=np.uint8).reshape(len(sub), gh, gw * 3 + 1)
        yield png[sub], _unfilter(scan, gw)

    groups: dict = {}
    for i in np.flatnonzero((fmt != "raw") & (fmt != "png")).tolist():
        px = decode_image(data[i], int(w[i]), int(h[i]), fmt[i])
        pos, pxs = groups.setdefault((fmt[i], px.shape), ([], []))
        pos.append(i)
        pxs.append(px)
    for pos, pxs in groups.values():
        yield np.array(pos, dtype=np.int64), np.stack(pxs)


def _channel_sums(px: np.ndarray) -> np.ndarray:
    """Exact per-image, per-channel sums of (m, h, w, 3) uint8 → (m, 3)
    int64.  Scanlines first (contiguous adds down each column), then
    pixels; a column sum is at most h·255, so h ≤ 257 fits a uint16
    accumulator.  Integer all the way, hence exact at any image size —
    a float32 BLAS sum is exact only while w·h·255 < 2**24, and
    measured slower than this at the bench shapes."""
    m, h, w, _ = px.shape
    acc = np.uint16 if h * 255 < 2**16 else np.int64
    cols = px.reshape(m, h, w * 3).sum(axis=1, dtype=acc)
    return cols.reshape(m, w, 3).sum(axis=1, dtype=np.int64)


def decode_stats_batch(data, w, h, fmt) -> tuple[np.ndarray, np.ndarray]:
    """Per-image channel means and pixel sum over a slice of images →
    ``(mean[n, 3] float64, px_sum[n] int64)``, via ``decode_batch``.

    Bit-identical to ``px.reshape(-1, 3).mean(axis=0)`` rounded with
    Python ``round(x, 6)`` per channel and ``px.astype(int64).sum()``
    per image: the channel sums are exact integers, the mean is
    ``sum / (w·h)`` in float64 (what numpy's integer mean computes),
    and the rounding is Python's (``np.round`` can differ in the last
    ulp)."""
    n = len(data)
    sums = np.zeros((n, 3), dtype=np.int64)
    npx = np.zeros(n, dtype=np.int64)
    for pos, px in decode_batch(data, w, h, fmt):
        sums[pos] = _channel_sums(px)
        npx[pos] = px.shape[1] * px.shape[2]
    with np.errstate(invalid="ignore"):  # 0×0 image: nan, as np.mean
        mean = sums / npx[:, None]
    mean = np.array([round(v, 6) for v in mean.ravel().tolist()],
                    dtype=np.float64).reshape(n, 3)
    return mean, sums.sum(axis=1)


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    """Peak signal-to-noise ratio in dB between two uint8 images
    (inf when identical) — the lossy-format acceptance gate (≥ 40 dB).
    """
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    mse = np.mean((a - b) ** 2)
    if mse == 0:
        return float("inf")
    return float(20.0 * np.log10(255.0) - 10.0 * np.log10(mse))
