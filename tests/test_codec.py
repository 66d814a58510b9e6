"""Image codec tests: raw + pure numpy/zlib PNG, PSNR gate."""

import numpy as np
import pytest
import zlib

from xutil_spark.kernels import codec


def _pattern(w, h, seed):
    """Deterministic gradient + hash-noise test image (FIXTURES.md §1)."""
    yy, xx = np.mgrid[0:h, 0:w]
    r = (xx * 255 // max(w - 1, 1)).astype(np.uint8)
    g = (yy * 255 // max(h - 1, 1)).astype(np.uint8)
    b = ((xx * 31 + yy * 17 + seed) % 256).astype(np.uint8)
    return np.stack([r, g, b], axis=-1)


@pytest.mark.parametrize("w,h", [(16, 16), (32, 24), (64, 48), (1, 1), (7, 3)])
def test_raw_roundtrip(w, h):
    img = _pattern(w, h, 42)
    data = codec.encode_raw(img)
    assert len(data) == w * h * 3
    back = codec.decode_raw(data, w, h)
    np.testing.assert_array_equal(back, img)


@pytest.mark.parametrize("w,h", [(16, 16), (32, 24), (64, 48), (1, 1), (7, 3)])
def test_png_roundtrip(w, h):
    img = _pattern(w, h, 7)
    data = codec.encode_png(img)
    assert data[:8] == b"\x89PNG\r\n\x1a\n"
    back = codec.decode_png(data)
    np.testing.assert_array_equal(back, img)


def test_png_decoder_handles_sub_and_up_filters():
    """Build a PNG with filter types 1 (Sub) and 2 (Up) by hand."""
    import struct

    img = _pattern(4, 2, 3)
    h, w = img.shape[:2]
    flat = img.reshape(h, w * 3).astype(np.int32)
    rows = []
    # row 0: Sub filter
    r0 = flat[0].copy()
    enc0 = r0.copy()
    enc0[3:] = (r0[3:] - r0[:-3]) & 0xFF
    rows.append(bytes([1]) + bytes(enc0.astype(np.uint8)))
    # row 1: Up filter
    enc1 = (flat[1] - flat[0]) & 0xFF
    rows.append(bytes([2]) + bytes(enc1.astype(np.uint8)))
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    payload = zlib.compress(b"".join(rows))
    png = (
        b"\x89PNG\r\n\x1a\n"
        + codec._chunk(b"IHDR", ihdr)
        + codec._chunk(b"IDAT", payload)
        + codec._chunk(b"IEND", b"")
    )
    back = codec.decode_png(png)
    np.testing.assert_array_equal(back, img)


def test_encode_image_dispatch_and_stub():
    img = _pattern(8, 8, 1)
    assert codec.decode_image(codec.encode_image(img, "raw"), 8, 8, "raw").shape == (8, 8, 3)
    assert codec.decode_image(codec.encode_image(img, "png"), 8, 8, "png").shape == (8, 8, 3)
    with pytest.raises(NotImplementedError):
        codec.encode_image(img, "jpeg")  # codec libs absent — stubbed


def test_psnr():
    img = _pattern(32, 32, 9)
    assert codec.psnr(img, img) == float("inf")
    noisy = img.astype(np.int32).copy()
    noisy[0, 0, 0] += 4
    p = codec.psnr(img, np.clip(noisy, 0, 255).astype(np.uint8))
    assert p > 40.0  # single tiny perturbation stays above the lossy gate
    very_noisy = np.clip(img.astype(np.int32) + 64, 0, 255).astype(np.uint8)
    assert codec.psnr(img, very_noisy) < 40.0


def test_png_decoder_handles_average_and_paeth_filters():
    """Filters 3 (Average) and 4 (Paeth) built by hand with the spec's
    per-byte ENCODER (the inverse recurrence) — decode must restore the
    original image exactly (regression for the vectorized decoder)."""
    import struct

    img = _pattern(6, 3, 3)
    h, w = img.shape[:2]
    flat = img.reshape(h, w * 3).astype(np.int32)
    bpp = 3

    def enc_row(f, cur, prev):
        out = np.zeros(w * 3, dtype=np.int32)
        for i in range(w * 3):
            a = cur[i - bpp] if i >= bpp else 0  # decoded left = original
            b = prev[i]
            if f == 3:
                out[i] = (cur[i] - ((a + b) >> 1)) & 0xFF
            else:
                c = prev[i - bpp] if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                out[i] = (cur[i] - pr) & 0xFF
        return out

    zero = np.zeros(w * 3, dtype=np.int32)
    rows = [
        bytes([3]) + bytes(enc_row(3, flat[0], zero).astype(np.uint8)),
        bytes([4]) + bytes(enc_row(4, flat[1], flat[0]).astype(np.uint8)),
        bytes([3]) + bytes(enc_row(3, flat[2], flat[1]).astype(np.uint8)),
    ]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    png = (
        b"\x89PNG\r\n\x1a\n"
        + codec._chunk(b"IHDR", ihdr)
        + codec._chunk(b"IDAT", zlib.compress(b"".join(rows)))
        + codec._chunk(b"IEND", b"")
    )
    back = codec.decode_png(png)
    np.testing.assert_array_equal(back, img)


@pytest.mark.parametrize("w,h", [(16, 16), (32, 24), (64, 48), (1, 1), (7, 3)])
def test_q6_lossy_roundtrip_psnr_gate(w, h):
    """The lossy format satisfies the input_hint acceptance gate on any
    image: allclose within the quantizer's error bound and PSNR >= 40
    (>= 42.1 by construction: max per-sample error 2)."""
    img = _pattern(w, h, 13)
    data = codec.encode_q6(img)
    assert len(data) == ((w * h * 3 + 3) // 4) * 3  # 25% under raw
    back = codec.decode_q6(data, w, h)
    assert back.shape == img.shape and back.dtype == np.uint8
    err = back.astype(np.int32) - img.astype(np.int32)
    assert np.abs(err).max() <= 2  # allclose, atol = quantizer bound
    assert codec.psnr(img, back) >= 40.0


def test_q6_worst_case_image_still_clears_gate():
    # every value hits the max quantization error simultaneously
    img = np.zeros((8, 8, 3), dtype=np.uint8)  # 0 -> rec 2, err 2
    back = codec.decode_q6(codec.encode_q6(img), 8, 8)
    assert np.all(back == 2)
    p = codec.psnr(img, back)
    assert 42.0 <= p <= 42.2  # 20*log10(255/2)


def test_q6_via_dispatch_and_spark_reencode():
    img = _pattern(32, 24, 99)
    data = codec.encode_image(img, "q6")
    back = codec.decode_image(data, 32, 24, "q6")
    assert codec.psnr(img, back) >= 40.0
    # re-quantizing the reconstruction is a fixed point (codes preserved)
    again = codec.decode_image(codec.encode_image(back, "q6"), 32, 24, "q6")
    np.testing.assert_array_equal(again, back)


@pytest.mark.parametrize("w,h", [(8, 8), (7, 5), (33, 9)])
def test_bmp_roundtrip_incl_row_padding(w, h):
    """BI_RGB 24-bit roundtrip; odd widths exercise the 4-byte row
    padding, and both row orders decode."""
    img = _pattern(w, h, 31)
    data = codec.encode_bmp(img)
    assert data[:2] == b"BM"
    back = codec.decode_bmp(data)
    np.testing.assert_array_equal(back, img)
    # top-down variant (negative height) from an external writer
    import struct as _s

    stride = (w * 3 + 3) & ~3
    raw = np.zeros((h, stride), dtype=np.uint8)
    raw[:, : w * 3] = img[:, :, ::-1].reshape(h, w * 3)
    off = 14 + 40
    td = (_s.pack("<2sIHHI", b"BM", off + raw.size, 0, 0, off)
          + _s.pack("<IiiHHIIiiII", 40, w, -h, 1, 24, 0, raw.size,
                    2835, 2835, 0, 0) + raw.tobytes())
    np.testing.assert_array_equal(codec.decode_bmp(td), img)


def test_bmp_via_dispatch():
    img = _pattern(16, 16, 7)
    out = codec.decode_image(codec.encode_image(img, "bmp"), 16, 16, "bmp")
    np.testing.assert_array_equal(out, img)


def test_external_encoder_interop_via_pillow():
    """When Pillow is installed (not in this sandbox), its BMP and PNG
    output must decode bit-exactly through the pure-numpy codecs —
    the registry's non-synthetic-format proof."""
    PIL = pytest.importorskip("PIL.Image")
    import io

    img = _pattern(21, 13, 55)
    for fmt, dec in (("BMP", codec.decode_bmp),
                     ("PNG", codec.decode_png)):
        buf = io.BytesIO()
        PIL.fromarray(img, "RGB").save(buf, format=fmt)
        np.testing.assert_array_equal(dec(buf.getvalue()), img)


# ----------------------------------------------------------- JPEG

from xutil_spark.kernels import jpeg as J  # noqa: E402


@pytest.mark.parametrize("w,h", [(8, 8), (17, 13), (64, 48), (7, 5)])
def test_jpeg_roundtrip_clears_psnr_gate(w, h):
    img = _pattern(w, h, 42)
    data = J.encode_jpeg(img)
    assert data[:2] == b"\xff\xd8" and data[-2:] == b"\xff\xd9"
    back = J.decode_jpeg(data)
    assert back.shape == img.shape
    assert codec.psnr(img, back) >= 40.0


def test_jpeg_noise_image_still_clears_gate():
    """DCT-hostile content: uniform random pixels (worst case for a
    transform codec) must still clear the input_hint 40 dB gate at the
    default quantizer."""
    rng = np.random.default_rng(0)
    img = rng.integers(0, 256, (32, 32, 3)).astype(np.uint8)
    assert codec.psnr(img, J.decode_jpeg(J.encode_jpeg(img))) >= 40.0


def test_jpeg_via_dispatch():
    img = _pattern(24, 16, 3)
    out = codec.decode_image(codec.encode_image(img, "jpg"), 24, 16, "jpg")
    assert codec.psnr(img, out) >= 40.0


def _seg(marker, payload):
    import struct as s

    return s.pack(">HH", marker, len(payload) + 2) + payload


def _headers(h, w, comps, qstep=4):
    """Minimal baseline headers for hand-crafted scan tests: comps =
    [(cid, H, V)], one shared quant + Huffman table set."""
    import struct as s

    out = bytearray(b"\xff\xd8")
    out += _seg(0xFFDB, bytes([0x00]) + bytes([qstep] * 64))
    sof = s.pack(">BHHB", 8, h, w, len(comps))
    for cid, ch, cv in comps:
        sof += bytes([cid, (ch << 4) | cv, 0])
    out += _seg(0xFFC0, sof)
    out += _seg(0xFFC4, bytes([0x00]) + bytes(J._DC_BITS) + bytes(J._DC_VALS))
    out += _seg(0xFFC4, bytes([0x10]) + bytes(J._AC_BITS) + bytes(J._AC_VALS))
    return out


def _quant_block(block, qstep):
    f = J._dct2(block.astype(np.float64) - 128.0).reshape(64)
    return (np.sign(f) * np.floor(np.abs(f) / qstep + 0.5)).astype(
        np.int64).reshape(8, 8)


def test_jpeg_decoder_handles_restart_markers():
    """DRI/RSTn: 3 MCUs with restart interval 1 — byte-aligned resets
    and DC-predictor resets between every MCU."""
    img = _pattern(24, 8, 9)
    ycc = J._ycbcr_from_rgb(img)
    out = _headers(8, 24, [(1, 1, 1), (2, 1, 1), (3, 1, 1)])
    out += _seg(0xFFDD, (1).to_bytes(2, "big"))  # DRI = 1
    out += _seg(0xFFDA, bytes([3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 63, 0]))
    for mcu in range(3):
        bw = J._BitWriter()
        for ci in range(3):  # preds reset each restart interval
            J._encode_block(
                bw, _quant_block(ycc[:, mcu * 8:mcu * 8 + 8, ci], 4), 0)
        out += bw.flush()
        if mcu < 2:
            out += bytes([0xFF, 0xD0 + mcu])
    out += b"\xff\xd9"
    back = J.decode_jpeg(bytes(out))
    assert back.shape == img.shape
    assert codec.psnr(img, back) >= 40.0


def test_jpeg_decoder_handles_420_subsampling():
    """4:2:0 (Y at 2x2, chroma at 1x1): one MCU = 4 Y blocks + Cb +
    Cr, chroma upsampled nearest.  The decoder output is compared
    BIT-EXACTLY against an independent reconstruction (dequant ->
    idct -> repeat-upsample -> color transform) of the same quantized
    blocks -- stronger than any PSNR floor."""
    yy, xx = np.mgrid[0:16, 0:16]
    img = np.stack([(xx * 16).clip(0, 255), (yy * 16).clip(0, 255),
                    ((xx + yy) * 8).clip(0, 255)],
                   axis=-1).astype(np.uint8)
    ycc = J._ycbcr_from_rgb(img)
    sub = ycc[::2, ::2, :]  # chroma decimation
    out = _headers(16, 16, [(1, 2, 2), (2, 1, 1), (3, 1, 1)])
    out += _seg(0xFFDA, bytes([3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 63, 0]))
    bw = J._BitWriter()
    preds = [0, 0, 0]
    blocks = {}
    for by in range(2):  # 4 Y blocks in raster order within the MCU
        for bx in range(2):
            b = _quant_block(
                ycc[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8, 0], 4)
            blocks[(0, by, bx)] = b
            preds[0] = J._encode_block(bw, b, preds[0])
    for ci in (1, 2):
        b = _quant_block(sub[:, :, ci], 4)
        blocks[(ci, 0, 0)] = b
        preds[ci] = J._encode_block(bw, b, preds[ci])
    out += bw.flush() + b"\xff\xd9"
    back = J.decode_jpeg(bytes(out))
    assert back.shape == img.shape

    yrec = np.zeros((16, 16))
    for by in range(2):
        for bx in range(2):
            yrec[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8] = J._idct2(
                blocks[(0, by, bx)] * 4.0) + 128
    cbrec = np.repeat(np.repeat(
        J._idct2(blocks[(1, 0, 0)] * 4.0) + 128, 2, 0), 2, 1)
    crrec = np.repeat(np.repeat(
        J._idct2(blocks[(2, 0, 0)] * 4.0) + 128, 2, 0), 2, 1)
    np.testing.assert_array_equal(
        back, J._rgb_from_ycbcr(yrec, cbrec, crrec))
    assert codec.psnr(img, back) >= 30.0  # smooth content, mild chroma loss


def test_jpeg_decoder_handles_grayscale():
    img = _pattern(8, 8, 1)
    y = J._ycbcr_from_rgb(img)[:, :, 0]
    out = _headers(8, 8, [(1, 1, 1)])
    out += _seg(0xFFDA, bytes([1, 1, 0x00, 0, 63, 0]))
    bw = J._BitWriter()
    J._encode_block(bw, _quant_block(y, 4), 0)
    out += bw.flush() + b"\xff\xd9"
    back = J.decode_jpeg(bytes(out))
    assert back.shape == (8, 8, 3)
    assert np.abs(back[:, :, 0].astype(np.float64) - y).mean() < 3.0
    np.testing.assert_array_equal(back[:, :, 0], back[:, :, 1])


def test_jpeg_rejects_progressive_and_non_jpeg():
    with pytest.raises(ValueError, match="SOI"):
        J.decode_jpeg(b"\x00\x01")
    out = _headers(8, 8, [(1, 1, 1)])
    prog = bytes(out).replace(b"\xff\xc0", b"\xff\xc2")
    with pytest.raises(ValueError, match="baseline"):
        J.decode_jpeg(prog + b"\xff\xd9")


def _restart_jpeg(img, fill=b""):
    """3-MCU 4:4:4 stream with DRI=1; ``fill`` (0xFF bytes) goes before
    every marker code after SOI, RSTn and EOI included."""
    ycc = J._ycbcr_from_rgb(img)
    head = bytes(_headers(8, 24, [(1, 1, 1), (2, 1, 1), (3, 1, 1)]))
    out = bytearray(head[:2])
    out += head[2:].replace(b"\xff\xc0", fill + b"\xff\xc0").replace(
        b"\xff\xdb", fill + b"\xff\xdb").replace(b"\xff\xc4", fill + b"\xff\xc4")
    out += fill + _seg(0xFFDD, (1).to_bytes(2, "big"))
    out += fill + _seg(0xFFDA, bytes([3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 63, 0]))
    for mcu in range(3):
        bw = J._BitWriter()
        for ci in range(3):
            J._encode_block(
                bw, _quant_block(ycc[:, mcu * 8:mcu * 8 + 8, ci], 4), 0)
        out += bw.flush()
        if mcu < 2:
            out += fill + bytes([0xFF, 0xD0 + mcu])
    out += fill + b"\xff\xd9"
    return bytes(out)


def test_jpeg_decoder_skips_fill_bytes_before_markers():
    """T.81 B.1.1.2: any number of 0xFF fill bytes may precede a marker
    code — between header segments and before RSTn in the scan."""
    img = _pattern(24, 8, 9)
    plain = J.decode_jpeg(_restart_jpeg(img))
    assert codec.psnr(img, plain) >= 40.0
    for fill in (b"\xff", b"\xff\xff\xff"):
        np.testing.assert_array_equal(J.decode_jpeg(_restart_jpeg(img, fill)), plain)
    # a bit-reader refill that runs into the fill bytes must still find
    # the RSTn behind them
    br = J._BitReader(bytes([0xAB, 0xFF, 0xFF, 0xFF, 0xD0, 0xCD]), 0)
    assert br.bits(8) == 0xAB
    br.bits(8)  # padding past the marker
    assert br.marker == 0xFFD0
    br.align_restart()
    assert br.bits(8) == 0xCD


def test_jpeg_rejects_scan_over_a_component_subset():
    """A scan that codes fewer components than the frame (a multi-scan
    file) must fail, not decode the missing planes as zeros."""
    img = _pattern(8, 8, 1)
    ycc = J._ycbcr_from_rgb(img)
    out = _headers(8, 8, [(1, 1, 1), (2, 1, 1), (3, 1, 1)])
    out += _seg(0xFFDA, bytes([1, 1, 0x00, 0, 63, 0]))  # Y only
    bw = J._BitWriter()
    J._encode_block(bw, _quant_block(ycc[:, :, 0], 4), 0)
    out += bw.flush() + b"\xff\xd9"
    with pytest.raises(ValueError, match="1 of 3 components"):
        J.decode_jpeg(bytes(out))


def test_jpeg_external_encoder_interop_via_pillow():
    """When Pillow is installed (not in this sandbox): libjpeg output
    (including its default chroma subsampling and Annex K tables) must
    decode through this decoder, and libjpeg must accept this
    encoder's bytes — the conformance check that matters."""
    PIL = pytest.importorskip("PIL.Image")
    import io

    img = _pattern(40, 24, 77)
    buf = io.BytesIO()
    PIL.fromarray(img, "RGB").save(buf, format="JPEG", quality=92)
    ours = J.decode_jpeg(buf.getvalue())
    assert codec.psnr(img, ours) >= 30.0
    theirs = np.asarray(
        PIL.open(io.BytesIO(J.encode_jpeg(img))).convert("RGB"))
    assert codec.psnr(img, theirs) >= 40.0


def test_jpeg_rows_flow_through_spark_decode(spark):
    """A jpg-format row in the input_hint schema decodes through the
    same mapInPandas operators as raw/png — the registry is live in
    the pipeline, not just the kernel."""
    import pandas as pd

    from xutil_spark.raster.images import decode_stats, dhash

    img = _pattern(16, 16, 21)
    rows = pd.DataFrame([
        ("jpg0", J.encode_jpeg(img), 16, 16, "jpg", "cap", 0),
        ("raw0", codec.encode_raw(img), 16, 16, "raw", "cap", 1),
    ], columns=["image_id", "bytes", "w", "h", "fmt", "caption", "phash"])
    df = spark.createDataFrame(rows)
    stats = {r.image_id: r for r in decode_stats(df).collect()}
    assert set(stats) == {"jpg0", "raw0"}
    # jpg is lossy-but-gated: per-channel means within 2 of the raw row
    for c in ("mean_r", "mean_g", "mean_b"):
        assert abs(stats["jpg0"][c] - stats["raw0"][c]) <= 2.0
    hashes = {r.image_id: r.dhash for r in dhash(df).collect()}
    # 42+ dB reconstruction keeps the perceptual hash within a few bits
    assert bin(hashes["jpg0"] ^ hashes["raw0"]).count("1") <= 4


# ----------------------------------------------------------- batched decode

import struct  # noqa: E402

from hypothesis import example, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402


def _ref_decode_png(data: bytes) -> np.ndarray:
    """Reference PNG decoder: one image, one Python step per scanline
    (the decoder's per-image form before ``codec._unfilter`` batched
    it).  ``decode_batch`` must match it bit for bit."""
    if data[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG")
    pos = 8
    w = h = None
    idat = b""
    while pos < len(data):
        (length,) = struct.unpack(">I", data[pos:pos + 4])
        tag = data[pos + 4:pos + 8]
        payload = data[pos + 8:pos + 8 + length]
        pos += 12 + length
        if tag == b"IHDR":
            w, h, depth, ctype, _comp, _filt, inter = struct.unpack(
                ">IIBBBBB", payload)
            if depth != 8 or ctype != 2 or inter != 0:
                raise ValueError("unsupported PNG")
        elif tag == b"IDAT":
            idat += payload
        elif tag == b"IEND":
            break
    if w is None:
        raise ValueError("no IHDR")
    raw = np.frombuffer(zlib.decompress(idat), dtype=np.uint8)
    stride = w * 3 + 1
    if raw.size != h * stride:
        raise ValueError("bad PNG payload size")
    raw = raw.reshape(h, stride)
    out = np.zeros((h, w * 3), dtype=np.uint8)
    bpp = 3
    for row in range(h):
        f = raw[row, 0]
        cur = raw[row, 1:].astype(np.int32)
        prev = out[row - 1].astype(np.int32) if row > 0 else np.zeros(w * 3, np.int32)
        if f == 0:
            line = cur
        elif f == 2:
            line = (cur + prev) & 0xFF
        elif f == 1:
            line = (cur.reshape(w, bpp).astype(np.int64).cumsum(axis=0)
                    & 0xFF).reshape(w * bpp).astype(np.int32)
        elif f in (3, 4):
            cur2 = cur.reshape(w, bpp)
            prev2 = prev.reshape(w, bpp)
            line2 = np.zeros((w, bpp), dtype=np.int32)
            left = np.zeros(bpp, dtype=np.int32)
            upleft = np.zeros(bpp, dtype=np.int32)
            for x in range(w):
                b2 = prev2[x]
                if f == 3:
                    left = (cur2[x] + ((left + b2) >> 1)) & 0xFF
                else:
                    p = left + b2 - upleft
                    pa, pb, pc = np.abs(p - left), np.abs(p - b2), np.abs(p - upleft)
                    pr = np.where((pa <= pb) & (pa <= pc), left,
                                  np.where(pb <= pc, b2, upleft))
                    left = (cur2[x] + pr) & 0xFF
                line2[x] = left
                upleft = b2
            line = line2.reshape(w * bpp)
        else:
            raise ValueError(f"bad filter {f}")
        out[row] = line.astype(np.uint8)
    return out.reshape(h, w, 3)


def _ref_decode(data, w, h, fmt):
    if fmt == "png":
        return _ref_decode_png(bytes(data))
    return codec.decode_image(data, w, h, fmt)


def _ref_stats(data, w, h, fmt):
    """The per-row mean/sum loop ``decode_stats_batch`` replaced."""
    mean, px_sum = [], []
    for d, wi, hi, f in zip(data, w, h, fmt):
        px = _ref_decode(bytes(d), int(wi), int(hi), f)
        m = px.reshape(-1, 3).mean(axis=0)
        mean.append([round(float(m[0]), 6), round(float(m[1]), 6),
                     round(float(m[2]), 6)])
        px_sum.append(int(px.astype(np.int64).sum()))
    return np.array(mean, dtype=np.float64).reshape(-1, 3), np.array(px_sum, np.int64)


def _png_filtered(img, filters, splits=1, filter_bytes=None):
    """PNG with scanline y encoded under filter ``filters[y]`` (0-4),
    the zlib stream split over ``splits`` IDAT chunks.  ``filter_bytes``
    overrides the stored filter bytes (malformed-input cases)."""
    h, w = img.shape[:2]
    cur = img.reshape(h, w * 3).astype(np.int32)
    up = np.vstack([np.zeros((1, w * 3), np.int32), cur[:-1]])
    left = np.hstack([np.zeros((h, 3), np.int32), cur[:, :-3]])
    upleft = np.hstack([np.zeros((h, 3), np.int32), up[:, :-3]])
    p = left + up - upleft
    pa, pb, pc = np.abs(p - left), np.abs(p - up), np.abs(p - upleft)
    paeth = np.where((pa <= pb) & (pa <= pc), left, np.where(pb <= pc, up, upleft))
    preds = [np.zeros_like(cur), left, up, (left + up) >> 1, paeth]
    enc = np.stack([preds[f][y] for y, f in enumerate(filters)])
    rows = np.empty((h, w * 3 + 1), np.uint8)
    rows[:, 0] = filters if filter_bytes is None else filter_bytes
    rows[:, 1:] = (cur - enc) & 0xFF
    z = zlib.compress(rows.tobytes())
    cuts = np.linspace(0, len(z), splits + 1).astype(int)
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (b"\x89PNG\r\n\x1a\n" + codec._chunk(b"IHDR", ihdr)
            + b"".join(codec._chunk(b"IDAT", z[a:b]) for a, b in zip(cuts, cuts[1:]))
            + codec._chunk(b"IEND", b""))


_SHAPES = [(16, 16), (32, 24), (64, 48), (1, 1), (7, 3), (5, 9), (13, 2)]


@st.composite
def _image_rows(draw):
    """One images-table row: (bytes, w, h, fmt) with mixed codecs,
    shapes and PNG filter/IDAT layouts."""
    fmt = draw(st.sampled_from(["raw", "png", "bmp", "q6", "jpg"]))
    w, h = draw(st.sampled_from(_SHAPES))
    seed = draw(st.integers(0, 2**32 - 1))
    img = np.random.default_rng(seed).integers(0, 256, (h, w, 3), dtype=np.uint8)
    if fmt != "png":
        return codec.encode_image(img, fmt), w, h, fmt
    filters = draw(st.lists(st.integers(0, 4), min_size=h, max_size=h))
    data = _png_filtered(img, filters, splits=draw(st.integers(1, 3)))
    if draw(st.integers(0, 9)) == 0:  # row metadata disagrees with IHDR
        w, h = draw(st.sampled_from(_SHAPES))
    return data, w, h, fmt


@settings(max_examples=60, deadline=None)
@given(st.lists(_image_rows(), min_size=0, max_size=14))
@example([  # IHDR says 7×3, the row says 16×16: decoded as the header says
    (_png_filtered(_pattern(7, 3, 1), [4, 1, 3], splits=2), 16, 16, "png"),
    (_png_filtered(_pattern(7, 3, 2), [0, 2, 0]), 7, 3, "png"),
    (codec.encode_raw(_pattern(16, 16, 3)), 16, 16, "raw"),
])
def test_decode_batch_matches_per_image_reference(rows):
    data = [r[0] for r in rows]
    w = [r[1] for r in rows]
    h = [r[2] for r in rows]
    fmt = [r[3] for r in rows]
    seen = []
    for pos, px in codec.decode_batch(data, w, h, fmt):
        assert px.ndim == 4 and px.shape[0] == len(pos) and px.dtype == np.uint8
        for j, i in enumerate(pos.tolist()):
            np.testing.assert_array_equal(px[j], _ref_decode(data[i], w[i], h[i], fmt[i]))
            if fmt[i] == "png":
                np.testing.assert_array_equal(codec.decode_png(data[i]), px[j])
            seen.append(i)
    assert sorted(seen) == list(range(len(rows)))
    mean, px_sum = codec.decode_stats_batch(data, w, h, fmt)
    ref_mean, ref_sum = _ref_stats(data, w, h, fmt)
    assert mean.tobytes() == ref_mean.tobytes()  # bit-identical floats
    np.testing.assert_array_equal(px_sum, ref_sum)


@pytest.mark.parametrize("w,h", [(260, 260), (400, 200)])
def test_decode_stats_batch_exact_sums_on_large_images(w, h):
    """w·h·255 ≥ 2**24 (beyond float32-exact sums); h > 257 also
    leaves the uint16 column accumulator."""
    assert w * h * 255 >= 2**24
    img = np.full((h, w, 3), 255, dtype=np.uint8)
    img[0, 0] = (1, 2, 3)
    data = [codec.encode_raw(img), codec.encode_png(img)]
    mean, px_sum = codec.decode_stats_batch(data, [w, w], [h, h], ["raw", "png"])
    ref_mean, ref_sum = _ref_stats(data, [w, w], [h, h], ["raw", "png"])
    assert mean.tobytes() == ref_mean.tobytes()
    assert px_sum.tolist() == ref_sum.tolist() == [w * h * 765 - 759] * 2


def _good_rows():
    img = _pattern(7, 3, 5)
    return ([codec.encode_raw(img), codec.encode_png(img), codec.encode_q6(img)],
            [7, 7, 7], [3, 3, 3], ["raw", "png", "q6"])


def _malformed():
    img = _pattern(7, 3, 5)
    png = codec.encode_png(img)
    ihdr_end = 8 + 12 + 13
    (ln,) = struct.unpack(">I", png[ihdr_end:ihdr_end + 4])
    z = png[ihdr_end + 8:ihdr_end + 8 + ln]
    truncated = (png[:ihdr_end] + codec._chunk(b"IDAT", z[: len(z) // 2])
                 + codec._chunk(b"IEND", b""))
    return {
        "raw_short": (codec.encode_raw(img)[:-1], "raw"),
        "filter_5": (_png_filtered(img, [0, 0, 0], filter_bytes=[0, 5, 0]), "png"),
        "truncated_zlib": (truncated, "png"),
        "bad_magic": (b"\x89PNX" + png[4:], "png"),
    }


@pytest.mark.parametrize("case,exc", [
    ("raw_short", ValueError), ("filter_5", ValueError),
    ("truncated_zlib", zlib.error), ("bad_magic", ValueError),
])
def test_decode_batch_malformed_raises_like_per_row_path(case, exc):
    bad, fmt = _malformed()[case]
    data, w, h, fmts = _good_rows()
    data.insert(1, bad)
    w.insert(1, 7)
    h.insert(1, 3)
    fmts.insert(1, fmt)
    with pytest.raises(exc):
        _ref_stats(data, w, h, fmts)
    with pytest.raises(exc):
        codec.decode_stats_batch(data, w, h, fmts)


def test_decode_stats_batch_raw_png_never_decode_per_row(monkeypatch):
    """raw and PNG rows must take the grouped path, never the
    per-image ``decode_image`` dispatch."""
    data, w, h, fmts = _good_rows()
    data, w, h, fmts = data[:2] * 3, w[:2] * 3, h[:2] * 3, fmts[:2] * 3
    ref = _ref_stats(data, w, h, fmts)

    def per_row(*_a, **_k):
        raise AssertionError("per-row decode_image called")

    monkeypatch.setattr(codec, "decode_image", per_row)
    mean, px_sum = codec.decode_stats_batch(data, w, h, fmts)
    np.testing.assert_array_equal(mean, ref[0])
    np.testing.assert_array_equal(px_sum, ref[1])
