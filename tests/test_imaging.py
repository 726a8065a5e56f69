"""Pure-Python image decoding (operators/imaging.py) and the real
pixel-feature operator (multimodal.extract_image_features): hand-
crafted payloads with known pixels, cross-format consistency, every
PNG filter type, and the typed error channel."""

import struct
import zlib

import numpy as np
import pytest

from horus_spark.operators.imaging import (
    UnsupportedImageError,
    decode_pixels,
    image_features,
    sniff_format,
)

# --------------------------------------------------------------- encoders
# independent of the decoders under test: each writes the format per its
# public spec, so a decode bug cannot cancel an encode bug


def ppm_bytes(arr: np.ndarray) -> bytes:
    h, w, _ = arr.shape
    return f"P6\n{w} {h}\n255\n".encode() + arr.tobytes()


def pgm_bytes(arr: np.ndarray) -> bytes:
    h, w = arr.shape[:2]
    return f"P5\n{w} {h}\n255\n".encode() + arr[:, :, 0].tobytes()


def bmp_bytes(arr: np.ndarray, bpp: int = 24, topdown: bool = False) -> bytes:
    h, w, _ = arr.shape
    bytes_pp = bpp // 8
    stride = (w * bytes_pp + 3) & ~3
    rows = []
    order = range(h) if topdown else range(h - 1, -1, -1)
    for y in order:
        row = bytearray()
        for x in range(w):
            r, g, b = arr[y, x]
            row += bytes([b, g, r] + ([0xFF] if bpp == 32 else []))
        row += b"\x00" * (stride - len(row))
        rows.append(bytes(row))
    raster = b"".join(rows)
    dib = struct.pack(
        "<IiiHHIIiiII", 40, w, (-h if topdown else h), 1, bpp, 0,
        len(raster), 2835, 2835, 0, 0,
    )
    off = 14 + len(dib)
    hdr = struct.pack("<2sIHHI", b"BM", off + len(raster), 0, 0, off)
    return hdr + dib + raster


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data)) + ctype + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def png_bytes(
    arr: np.ndarray, filters: list[int] | None = None, interlace: int = 0
) -> bytes:
    """Encoder applying the requested per-row filter types (spec §9
    forward direction) so the decoder's unfilter path is exercised."""
    h, w, c = arr.shape
    colortype = {1: 0, 2: 4, 3: 2, 4: 6}[c]
    fpx = c
    stride = w * c
    flat = arr.reshape(h, stride).astype(np.int32)
    filters = filters or [0] * h
    out = bytearray()
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(h):
        ft = filters[y]
        cur = flat[y]
        if ft == 0:
            enc = cur
        elif ft == 1:
            left = np.concatenate([np.zeros(fpx, np.int32), cur[:-fpx]])
            enc = (cur - left) & 0xFF
        elif ft == 2:
            enc = (cur - prev) & 0xFF
        elif ft == 3:
            left = np.concatenate([np.zeros(fpx, np.int32), cur[:-fpx]])
            enc = (cur - ((left + prev) >> 1)) & 0xFF
        elif ft == 4:
            enc = np.zeros(stride, np.int32)
            for x in range(stride):
                a = int(cur[x - fpx]) if x >= fpx else 0
                b = int(prev[x])
                cc = int(prev[x - fpx]) if x >= fpx else 0
                pa, pb, pc = abs(b - cc), abs(a - cc), abs(a + b - 2 * cc)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else cc)
                enc[x] = (int(cur[x]) - pred) & 0xFF
        out.append(ft)
        out += bytes(int(v) for v in enc)
        prev = cur
    ihdr = struct.pack(">IIBBBBB", w, h, 8, colortype, 0, 0, interlace)
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(out)))
        + _png_chunk(b"IEND", b"")
    )


def _arr(rows):
    return np.array(rows, dtype=np.uint8)


PIXELS = _arr(  # 3x2 RGB with distinct per-channel structure
    [
        [[255, 0, 0], [0, 255, 0], [0, 0, 255]],
        [[10, 20, 30], [40, 50, 60], [70, 80, 90]],
    ]
)


# ----------------------------------------------------------------- decode


def test_ppm_roundtrip_and_header_comment():
    assert np.array_equal(decode_pixels(ppm_bytes(PIXELS)), PIXELS)
    commented = b"P6\n# a comment\n3 2\n255\n" + PIXELS.tobytes()
    assert np.array_equal(decode_pixels(commented), PIXELS)


def test_pgm_grayscale():
    g = _arr([[[7], [250]], [[0], [128]]])
    assert np.array_equal(decode_pixels(pgm_bytes(g)), g)


@pytest.mark.parametrize("bpp,topdown", [(24, False), (24, True), (32, False)])
def test_bmp_variants(bpp, topdown):
    got = decode_pixels(bmp_bytes(PIXELS, bpp=bpp, topdown=topdown))
    assert np.array_equal(got, PIXELS)  # padding/flip/BGR all undone


def test_bmp_8bpp_grayscale():
    g = _arr([[[5], [200], [90]], [[1], [2], [3]]])
    h, w, _ = g.shape
    stride = (w + 3) & ~3
    rows = b"".join(
        g[y, :, 0].tobytes() + b"\x00" * (stride - w)
        for y in range(h - 1, -1, -1)
    )
    dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 8, 0, len(rows),
                      0, 0, 0, 0)
    off = 14 + len(dib)
    b = struct.pack("<2sIHHI", b"BM", off + len(rows), 0, 0, off) + dib + rows
    assert np.array_equal(decode_pixels(b), g)


def bmp8_bytes(idx: np.ndarray, palette: list) -> bytes:
    """8-bpp BMP, bottom-up, with `palette` as its (r, g, b) colour table."""
    h, w = idx.shape
    stride = (w + 3) & ~3
    rows = b"".join(
        idx[y].astype(np.uint8).tobytes() + b"\x00" * (stride - w)
        for y in range(h - 1, -1, -1)
    )
    table = b"".join(bytes([b, g, r, 0]) for r, g, b in palette)
    dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 8, 0, len(rows),
                      0, 0, len(palette), 0)
    off = 14 + len(dib) + len(table)
    hdr = struct.pack("<2sIHHI", b"BM", off + len(rows), 0, 0, off)
    return hdr + dib + table + rows


def test_bmp_8bpp_palette_is_applied():
    idx = np.array([[0, 1, 2], [2, 1, 0]])
    ramp = [(v, v, v) for v in range(256)]
    assert np.array_equal(
        decode_pixels(bmp8_bytes(idx, ramp)), idx[:, :, None].astype(np.uint8)
    )
    inverted = [(255 - v, 255 - v, 255 - v) for v in range(256)]
    assert np.array_equal(
        decode_pixels(bmp8_bytes(idx, inverted)), 255 - idx[:, :, None]
    )
    colours = [(255, 0, 0), (0, 255, 0), (10, 20, 30)]
    got = decode_pixels(bmp8_bytes(idx, colours))
    assert got.shape == (2, 3, 3)
    assert np.array_equal(got, np.array(colours, dtype=np.uint8)[idx])
    assert image_features(got)[3:6] == [
        np.mean([c[k] for c in colours]) for k in range(3)
    ]
    with pytest.raises(ValueError, match="palette index"):
        decode_pixels(bmp8_bytes(idx, colours[:2]))


@pytest.mark.parametrize("filters", [[0, 0], [1, 2], [3, 4], [4, 3]])
def test_png_all_filter_types(filters):
    got = decode_pixels(png_bytes(PIXELS, filters=filters))
    assert np.array_equal(got, PIXELS)


def test_png_gray_and_rgba():
    g = _arr([[[9], [200]], [[100], [30]]])
    assert np.array_equal(decode_pixels(png_bytes(g)), g)
    rgba = np.dstack([PIXELS, np.full((2, 3, 1), 128, np.uint8)])
    assert np.array_equal(decode_pixels(png_bytes(rgba)), rgba)


def test_unsupported_formats_are_typed():
    for payload, name in [
        (b"\xff\xd8\xff\xe0JFIF-ish", "jpeg"),
        (b"GIF89a...", "gif"),
        (b"II*\x00tiffdata", "tiff"),
        (b"", "unknown"),
    ]:
        assert sniff_format(payload) == name
        with pytest.raises(UnsupportedImageError):
            decode_pixels(payload)
    with pytest.raises(UnsupportedImageError):  # Adam7
        decode_pixels(png_bytes(PIXELS, interlace=1))


def test_riff_is_webp_only_with_webp_form_type():
    wav = b"RIFF" + struct.pack("<I", 36) + b"WAVEfmt " + b"\x00" * 24
    assert sniff_format(wav) == "unknown"
    assert sniff_format(b"RIFF") == "unknown"
    webp = b"RIFF" + struct.pack("<I", 12) + b"WEBPVP8 " + b"\x00" * 8
    assert sniff_format(webp) == "webp"
    with pytest.raises(UnsupportedImageError, match="unknown"):
        decode_pixels(wav)


def _png_with_ihdr(ihdr: bytes) -> bytes:
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(b"\x00\x00"))
        + _png_chunk(b"IEND", b"")
    )


def test_png_short_ihdr_is_malformed():
    good = struct.pack(">IIBBBBB", 1, 1, 8, 0, 0, 0, 0)
    for ihdr in (good[:12], good + b"\x00", b""):
        with pytest.raises(ValueError, match="png: bad IHDR"):
            decode_pixels(_png_with_ihdr(ihdr))


def test_malformed_supported_format_raises_valueerror():
    with pytest.raises(ValueError):
        decode_pixels(ppm_bytes(PIXELS)[:-3])  # truncated raster
    with pytest.raises(ValueError):
        decode_pixels(bmp_bytes(PIXELS)[:30])  # truncated header


# --------------------------------------------------------------- features


def test_features_known_means():
    f = image_features(PIXELS)
    assert f[:3] == [3.0, 2.0, 3.0]
    assert f[3] == pytest.approx(np.mean(PIXELS[:, :, 0].astype(float)))
    assert f[4] == pytest.approx(np.mean(PIXELS[:, :, 1].astype(float)))
    assert f[5] == pytest.approx(np.mean(PIXELS[:, :, 2].astype(float)))
    luma = (
        0.299 * PIXELS[:, :, 0].astype(float)
        + 0.587 * PIXELS[:, :, 1].astype(float)
        + 0.114 * PIXELS[:, :, 2].astype(float)
    )
    assert f[6] == 0.299 * f[3] + 0.587 * f[4] + 0.114 * f[5]
    assert f[7] == pytest.approx(luma.std())


def test_features_constant_color_exact():
    const = np.full((4, 5, 3), 0, np.uint8)
    const[:, :, 0], const[:, :, 1], const[:, :, 2] = 17, 130, 200
    f = image_features(const)
    assert f[:7] == [
        5.0, 4.0, 3.0, 17.0, 130.0, 200.0,
        0.299 * 17.0 + 0.587 * 130.0 + 0.114 * 200.0,
    ]
    assert f[7] == pytest.approx(0.0, abs=1e-9)


def test_cross_format_feature_consistency():
    fs = [
        image_features(decode_pixels(enc(PIXELS)))
        for enc in (ppm_bytes, bmp_bytes, png_bytes)
    ]
    assert fs[0] == fs[1] == fs[2]


# ------------------------------------------------------------------ spark


def test_extract_image_features_e2e(spark):
    from horus_spark.operators.multimodal import extract_image_features

    const = np.full((2, 3, 3), 0, np.uint8)
    const[:, :, 0], const[:, :, 1], const[:, :, 2] = 10, 20, 30
    rows = [
        ("a1", "d1", bytearray(ppm_bytes(const))),
        ("a2", "d2", bytearray(png_bytes(const))),
        ("a3", "d3", bytearray(bmp_bytes(const))),
        ("a4", "d4", bytearray(b"\xff\xd8\xffjpegish")),
        ("a5", "d5", bytearray(ppm_bytes(const)[:-2])),
        ("a6", "d6", bytearray(_png_with_ihdr(b"\x00" * 12))),
    ]
    df = spark.createDataFrame(
        rows, "asset_id string, doc_id string, payload binary"
    )
    got = {r["asset_id"]: r for r in extract_image_features(df).collect()}
    for aid, fmt in [("a1", "ppm"), ("a2", "png"), ("a3", "bmp")]:
        r = got[aid]
        assert (r["format"], r["width"], r["height"], r["channels"]) == (
            fmt, 3, 2, 3,
        )
        assert r["error"] is None
        assert r["features"][3:6] == [10.0, 20.0, 30.0]
        assert r["features"][7] == pytest.approx(0.0, abs=1e-9)
    assert got["a4"]["error"].startswith("unsupported:jpeg")
    assert got["a4"]["features"] is None
    assert got["a5"]["error"].startswith("malformed:")
    # a short IHDR is a typed row, not a struct.error that fails the task
    assert got["a6"]["error"] == "malformed:png: bad IHDR"
    assert got["a6"]["format"] == "png" and got["a6"]["features"] is None
