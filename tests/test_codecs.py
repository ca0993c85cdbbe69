"""Pure-numpy image codecs (functions/codecs.py): encode/decode
roundtrips for every PNG filter and color type, BMP/PPM variants, eXIf
orientation, multi-frame TIFF/GIF, and header-only sniffing."""

import numpy as np
import pytest

from amazon_textract_transformer_pipeline_spark.functions import codecs


def _rng(seed=0):
    return np.random.Generator(np.random.PCG64(seed))


def _rgb(h, w, seed=0):
    return _rng(seed).integers(0, 256, size=(h, w, 3), dtype=np.uint8)


# --------------------------------------------------------------------------
# PNG
# --------------------------------------------------------------------------

@pytest.mark.parametrize("ftype", [0, 1, 2, 3, 4, "mixed"])
def test_png_rgb_roundtrip_every_filter(ftype):
    arr = _rgb(13, 7, seed=hash(str(ftype)) % 1000)
    out, orient = codecs.decode_png(codecs.encode_png(arr, filter_type=ftype))
    np.testing.assert_array_equal(out, arr)
    assert orient is None


def test_png_gray_roundtrip():
    g = _rng(1).integers(0, 256, size=(9, 11), dtype=np.uint8)
    out, _ = codecs.decode_png(codecs.encode_png(g, filter_type="mixed"))
    np.testing.assert_array_equal(out, np.repeat(g[:, :, None], 3, axis=2))


def test_png_rgba_composites_over_white():
    rgba = _rng(2).integers(0, 256, size=(6, 5, 4), dtype=np.uint8)
    out, _ = codecs.decode_png(codecs.encode_png(rgba, filter_type=4))
    a = rgba[:, :, 3:4].astype(np.uint32)
    want = ((rgba[:, :, :3].astype(np.uint32) * a + 255 * (255 - a) + 127)
            // 255).astype(np.uint8)
    np.testing.assert_array_equal(out, want)
    # fully-opaque alpha is the identity
    rgba[:, :, 3] = 255
    out2, _ = codecs.decode_png(codecs.encode_png(rgba))
    np.testing.assert_array_equal(out2, rgba[:, :, :3])


def test_png_exif_orientation_chunk():
    arr = _rgb(4, 4, seed=3)
    out, orient = codecs.decode_png(codecs.encode_png(arr, orientation=6))
    np.testing.assert_array_equal(out, arr)
    assert orient == 6
    # big-endian TIFF parses too
    import struct
    tiff = (b"MM\x00*" + struct.pack(">I", 8) + struct.pack(">H", 1)
            + struct.pack(">HHIHH", 0x0112, 3, 1, 8, 0)
            + struct.pack(">I", 0))
    assert codecs._parse_exif_orientation(tiff) == 8


def test_png_palette_with_trns():
    import struct
    import zlib

    # hand-build a 2x2 palette PNG with tRNS on index 0
    plte = np.array([[10, 20, 30], [200, 100, 50]], dtype=np.uint8)
    ix = np.array([[0, 1], [1, 0]], dtype=np.uint8)

    def chunk(ctype, data):
        return (struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF))

    lines = b"".join(b"\x00" + ix[y].tobytes() for y in range(2))
    blob = (b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0))
            + chunk(b"PLTE", plte.tobytes())
            + chunk(b"tRNS", bytes([128]))  # index 0 half-transparent
            + chunk(b"IDAT", zlib.compress(lines))
            + chunk(b"IEND", b""))
    out, _ = codecs.decode_png(blob)
    a = np.where(ix == 0, 128, 255).astype(np.uint32)[..., None]
    want = ((plte[ix].astype(np.uint32) * a + 255 * (255 - a) + 127)
            // 255).astype(np.uint8)
    np.testing.assert_array_equal(out, want)


@pytest.mark.parametrize("mutate,msg", [
    (lambda b: b[:-200], "truncated"),
    (lambda b: b.replace(b"\x08\x02", b"\x03\x02", 1), "bit depth"),
])
def test_png_malformed_raises(mutate, msg):
    blob = codecs.encode_png(_rgb(20, 20, seed=5))
    with pytest.raises(ValueError, match=msg):
        codecs.decode_png(mutate(blob))


@pytest.mark.parametrize("shape", [(13, 7), (8, 8), (1, 1), (2, 3),
                                   (9, 16)])
def test_png_adam7_interlace_roundtrip(shape):
    h, w = shape
    arr = _rgb(h, w, seed=h * 31 + w)
    out, _ = codecs.decode_png(codecs.encode_png(arr, interlace=True))
    np.testing.assert_array_equal(out, arr)


def test_png_interlace_flag_mismatch_detected():
    import struct
    # flipping the IHDR interlace byte on a sequential stream must fail
    # loudly (pass sizes / filter bytes won't line up), not decode garbage
    blob = bytearray(codecs.encode_png(_rgb(3, 3, seed=6)))
    blob[16 + 12] = 1  # IHDR data starts at offset 16; interlace is last
    ihdr = blob[16:29]
    crc = __import__("zlib").crc32(b"IHDR" + bytes(ihdr)) & 0xFFFFFFFF
    struct.pack_into(">I", blob, 29, crc)
    with pytest.raises(ValueError, match="PNG"):
        codecs.decode_png(bytes(blob))
    # and an actually-truncated interlaced stream trips the size check
    good = codecs.encode_png(_rgb(9, 9, seed=7), interlace=True)
    with pytest.raises(ValueError, match="PNG"):
        codecs.decode_png(good[:-60])


# --------------------------------------------------------------------------
# BMP / PPM
# --------------------------------------------------------------------------

@pytest.mark.parametrize("w", [3, 4, 5])  # exercises 4-byte row padding
@pytest.mark.parametrize("top_down", [False, True])
def test_bmp_roundtrip(w, top_down):
    arr = _rgb(6, w, seed=w * 7 + top_down)
    out, orient = codecs.decode_bmp(codecs.encode_bmp(arr, top_down=top_down))
    np.testing.assert_array_equal(out, arr)
    assert orient is None


def test_bmp_rejects_compressed():
    import struct
    blob = bytearray(codecs.encode_bmp(_rgb(4, 4, seed=9)))
    struct.pack_into("<I", blob, 30, 1)  # BI_RLE8
    with pytest.raises(ValueError, match="compression"):
        codecs.decode_bmp(bytes(blob))


def test_ppm_roundtrip_with_comment():
    arr = _rgb(5, 8, seed=11)
    out, _ = codecs.decode_ppm(codecs.encode_ppm(arr, comment="hi there"))
    np.testing.assert_array_equal(out, arr)


def test_pgm_maxval_rescale():
    # P5 gray with maxval 15: 15 → 255, 7 → round(7*255/15) = 119
    blob = b"P5\n2 1\n15\n" + bytes([15, 7])
    out, _ = codecs.decode_ppm(blob)
    assert out.shape == (1, 2, 3)
    assert out[0, 0].tolist() == [255] * 3
    assert out[0, 1].tolist() == [119] * 3


def test_sniff_format():
    arr = _rgb(2, 2, seed=13)
    assert codecs.sniff_format(codecs.encode_png(arr)) == "png"
    assert codecs.sniff_format(codecs.encode_bmp(arr)) == "bmp"
    assert codecs.sniff_format(codecs.encode_ppm(arr)) == "ppm"
    assert codecs.sniff_format(b"P5\n1 1\n255\n\x00") == "pgm"
    assert codecs.sniff_format(b"\xff\xd8\xff\xe0JFIF") == "jpeg"
    assert codecs.sniff_format(b"GIF89a....") == "gif"
    assert codecs.sniff_format(b"II*\x00rest") == "tiff"
    assert codecs.sniff_format(b"garbage") is None


def test_builtin_decode_fn_dispatch_and_unsupported():
    arr = _rgb(3, 3, seed=17)
    out, _ = codecs.builtin_decode_fn(codecs.encode_bmp(arr))
    np.testing.assert_array_equal(out, arr)
    # webp sniffs but has no built-in decoder (→ error channel)
    with pytest.raises(ValueError, match="webp has no built-in decoder"):
        codecs.builtin_decode_fn(b"RIFF\x00\x00\x00\x00WEBP")
    with pytest.raises(ValueError, match="unknown"):
        codecs.builtin_decode_fn(b"total garbage")
    # jpeg magic now dispatches to the baseline decoder (garbage → error)
    with pytest.raises(ValueError, match="JPEG"):
        codecs.builtin_decode_fn(b"\xff\xd8\xff\xe0JFIF")


# --------------------------------------------------------------------------
# TIFF (multi-frame, compressions, predictor, photometrics)
# --------------------------------------------------------------------------

@pytest.mark.parametrize("comp", [1, 5, 32773])
def test_tiff_multiframe_roundtrip(comp):
    frames = [_rgb(9, 7, seed=comp), _rgb(4, 11, seed=comp + 1)]
    blob = codecs.encode_tiff(frames, compression=comp)
    got = codecs.decode_tiff_frames(blob)
    assert len(got) == 2
    for (out, orient), want in zip(got, frames):
        np.testing.assert_array_equal(out, want)
        assert orient is None
    assert codecs.count_frames(blob) == 2
    assert codecs.count_frames(codecs.encode_png(frames[0])) == 1


def test_tiff_lzw_predictor2_roundtrip():
    arr = _rgb(13, 21, seed=40)
    blob = codecs.encode_tiff([arr], compression=5, predictor=2)
    out, _ = codecs.decode_tiff(blob)
    np.testing.assert_array_equal(out, arr)
    # predictor-2 LZW compresses a smooth gradient better than predictor-1
    grad = np.tile(np.arange(200, dtype=np.uint8), (20, 3, 1)) \
        .transpose(0, 2, 1)
    p1 = codecs.encode_tiff([grad], compression=5, predictor=1)
    p2 = codecs.encode_tiff([grad], compression=5, predictor=2)
    assert len(p2) < len(p1)


def test_tiff_gray_orientation_and_lzw_stream():
    g = _rng(41).integers(0, 256, size=(6, 5), dtype=np.uint8)
    out, orient = codecs.decode_tiff(
        codecs.encode_tiff([g], compression=5, orientation=8))
    np.testing.assert_array_equal(out, np.repeat(g[:, :, None], 3, axis=2))
    assert orient == 8
    # LZW encode/decode as a pair on raw bytes (incl. table growth)
    data = bytes(_rng(42).integers(0, 8, size=9000, dtype=np.uint8))
    assert codecs.tiff_lzw_decode(codecs.tiff_lzw_encode(data)) == data
    assert codecs.packbits_decode(codecs.packbits_encode(data)) == data


def test_tiff_unsupported_variants():
    arr = _rgb(4, 4, seed=43)
    blob = bytearray(codecs.encode_tiff([arr]))
    # flip compression tag to JPEG-in-TIFF (7): unsupported
    import struct
    ix = bytes(blob).find(struct.pack("<HHI", 259, 3, 1))
    struct.pack_into("<H", blob, ix + 8, 7)
    with pytest.raises(ValueError, match="compression 7"):
        codecs.decode_tiff(bytes(blob))
    with pytest.raises(ValueError, match="bad header"):
        codecs.decode_tiff(b"II+\x00nope")


# --------------------------------------------------------------------------
# GIF (palette, interlace, transparency, multi-frame compositing)
# --------------------------------------------------------------------------

def _pal_img(h, w, ncolors, seed):
    pal = _rng(seed).integers(0, 256, size=(ncolors, 3), dtype=np.uint8)
    return pal[_rng(seed + 1).integers(0, ncolors, size=(h, w))]


@pytest.mark.parametrize("interlace", [False, True])
def test_gif_roundtrip(interlace):
    arr = _pal_img(17, 9, 40, seed=70 + interlace)
    out, orient = codecs.decode_gif(
        codecs.encode_gif([arr], interlace=interlace))
    np.testing.assert_array_equal(out, arr)
    assert orient is None


def test_gif_multiframe_and_count():
    frames = [_pal_img(8, 12, 30, seed=80 + i) for i in range(3)]
    blob = codecs.encode_gif(frames)
    got = codecs.decode_gif_frames(blob)
    assert len(got) == 3
    for (out, _), want in zip(got, frames):
        np.testing.assert_array_equal(out, want)
    assert codecs.count_frames(blob) == 3


def test_gif_transparency_composites_over_canvas():
    # frame 1 fully opaque; frame 2 marks one palette index transparent —
    # those pixels must show frame 1 underneath (accumulate compositing)
    base = _pal_img(6, 6, 10, seed=90)
    top = _pal_img(6, 6, 10, seed=92)
    b1 = codecs.encode_gif([base])
    # encode the top frame alone to learn its palette order, then re-encode
    # both with its transparent index
    flat = top.reshape(-1, 3)
    pal, ix = np.unique(flat, axis=0, return_inverse=True)
    tix = int(ix[0])  # make whatever index pixel (0,0) uses transparent
    blob = codecs.encode_gif([base, top], transparent_index=tix)
    frames = codecs.decode_gif_frames(blob)
    # frame 0 of the 2-frame file also had the GCE applied — compare only
    # the final composite
    final = frames[-1][0]
    mask = (ix.reshape(6, 6) == tix)
    np.testing.assert_array_equal(final[~mask], top[~mask])
    # transparent pixels show the PREVIOUS frame's composite, not white…
    # …unless frame 0 itself left them transparent (same GCE index logic
    # applies per frame with its own palette), so just assert they differ
    # from the top frame's own palette color there
    assert (final[mask] != top[mask]).any() or mask.sum() == 0


def test_gif_lzw_pair_growth_and_reset():
    ixs = _rng(95).integers(0, 90, size=30000).tolist()
    assert codecs.gif_lzw_decode(codecs.gif_lzw_encode(ixs, 7), 7) == ixs


def test_gif_errors():
    with pytest.raises(ValueError, match="signature"):
        codecs.decode_gif(b"GIF90a....")
    # 1024 distinct colors (every pixel unique) → exact palettizer refuses
    g = np.arange(1024, dtype=np.uint32).reshape(32, 32)
    arr = np.stack([g & 0xFF, (g >> 8) & 0xFF, np.full_like(g, 7)],
                   axis=2).astype(np.uint8)
    with pytest.raises(ValueError, match="256"):
        codecs.encode_gif([arr])


def test_sniff_dimensions_all_formats():
    from amazon_textract_transformer_pipeline_spark.functions import jpeg

    arr = _rgb(23, 31, seed=100)
    cases = {
        "png": codecs.encode_png(arr),
        "bmp": codecs.encode_bmp(arr),
        "ppm": codecs.encode_ppm(arr, comment="c"),
        "tiff": codecs.encode_tiff([arr], compression=5),
        "jpeg": jpeg.encode_jpeg(arr, quality=80),
    }
    pal = _rng(101).integers(0, 256, size=(8, 3), dtype=np.uint8)
    cases["gif"] = codecs.encode_gif([pal[_rng(102).integers(0, 8,
                                                             (23, 31))]])
    for fmt, blob in cases.items():
        assert codecs.sniff_dimensions(blob) == (31, 23), fmt
    assert codecs.sniff_dimensions(b"garbage") is None
    assert codecs.sniff_dimensions(b"\x89PNG\r\n\x1a\n\x00") is None  # trunc


# --------------------------------------------------------------------------
# review fixes: large-TIFF offsets, first-frame-only decode, cheap counts
# --------------------------------------------------------------------------

def test_tiff_large_frame_external_offsets():
    # >64 KB of pixel data pushes the external BitsPerSample offset past
    # 65535 — offsets must be packed 4-byte even in SHORT-typed entries
    arr = _rgb(160, 160, seed=200)
    out, _ = codecs.decode_tiff(codecs.encode_tiff([arr]))
    np.testing.assert_array_equal(out, arr)
    out5, _ = codecs.decode_tiff(codecs.encode_tiff([arr], compression=5))
    np.testing.assert_array_equal(out5, arr)


def test_first_frame_decode_matches_full_walk():
    frames = [_rgb(9, 7, seed=210 + i) for i in range(3)]
    tblob = codecs.encode_tiff(frames)
    np.testing.assert_array_equal(codecs.decode_tiff(tblob)[0],
                                  codecs.decode_tiff_frames(tblob)[0][0])
    pal = _rng(215).integers(0, 256, size=(16, 3), dtype=np.uint8)
    gframes = [pal[_rng(216 + i).integers(0, 16, (6, 8))] for i in range(3)]
    gblob = codecs.encode_gif(gframes)
    np.testing.assert_array_equal(codecs.decode_gif(gblob)[0],
                                  codecs.decode_gif_frames(gblob)[0][0])


def test_count_frames_structure_only():
    frames = [_rgb(5, 5, seed=220 + i) for i in range(4)]
    assert codecs.count_frames(codecs.encode_tiff(frames)) == 4
    pal = _rng(225).integers(0, 256, size=(8, 3), dtype=np.uint8)
    gframes = [pal[_rng(226 + i).integers(0, 8, (5, 5))] for i in range(4)]
    assert codecs.count_frames(
        codecs.encode_gif(gframes, interlace=True)) == 4
    # counting must not pay pixel-decode cost: corrupt the LZW payloads of
    # a tiff (structure intact) — count still works, decode would fail
    blob = bytearray(codecs.encode_tiff(frames, compression=5))
    # smash bytes well inside the first strip
    blob[12:20] = b"\xff" * 8
    assert codecs.count_frames(bytes(blob)) == 4


def test_webp_header_dimensions():
    import struct

    def riff(payload):
        return b"RIFF" + struct.pack("<I", 4 + len(payload)) + b"WEBP" \
            + payload

    vp8x = riff(b"VP8X" + struct.pack("<I", 10) + b"\x00\x00\x00\x00"
                + (639).to_bytes(3, "little") + (359).to_bytes(3, "little"))
    assert codecs.sniff_dimensions(vp8x) == (640, 360)

    frame = (b"\x00\x00\x00" + b"\x9d\x01\x2a"
             + struct.pack("<HH", 320, 240))
    vp8 = riff(b"VP8 " + struct.pack("<I", len(frame)) + frame)
    assert codecs.sniff_dimensions(vp8) == (320, 240)

    bits = (127) | (63 << 14)  # w-1=127, h-1=63
    vp8l = riff(b"VP8L" + struct.pack("<I", 5) + b"\x2f"
                + struct.pack("<I", bits))
    assert codecs.sniff_dimensions(vp8l) == (128, 64)

    assert codecs.sniff_dimensions(riff(b"ANIM\x00\x00\x00\x00")) is None


# --------------------------------------------------------------------------
# PNG depth variants: 1/2/4-bit gray+palette (document scans), 16-bit
# --------------------------------------------------------------------------

def _png_chunk(ctype, data):
    import struct
    import zlib
    return (struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF))


def _png_file(w, h, depth, color, scanlines, extra=b""):
    import struct
    import zlib
    return (b"\x89PNG\r\n\x1a\n"
            + _png_chunk(b"IHDR",
                         struct.pack(">IIBBBBB", w, h, depth, color, 0, 0, 0))
            + extra + _png_chunk(b"IDAT", zlib.compress(scanlines))
            + _png_chunk(b"IEND", b""))


def test_png_1bit_gray_bilevel_scan():
    bits = _rng(3).integers(0, 2, size=(3, 10), dtype=np.uint8)
    lines = b"".join(b"\x00" + np.packbits(bits[y]).tobytes()
                     for y in range(3))
    out, _ = codecs.decode_png(_png_file(10, 3, 1, 0, lines))
    np.testing.assert_array_equal(out[:, :, 0], bits * 255)


def test_png_4bit_palette():
    pal = _rng(4).integers(0, 256, size=(16, 3), dtype=np.uint8)
    ix = _rng(5).integers(0, 16, size=(2, 5), dtype=np.uint8)

    def pack4(row):
        padded = np.concatenate([row, [0]]) if len(row) % 2 else row
        return bytes((padded[0::2] << 4 | padded[1::2]).astype(np.uint8))

    lines = b"".join(b"\x00" + pack4(ix[y]) for y in range(2))
    out, _ = codecs.decode_png(_png_file(
        5, 2, 4, 3, lines, extra=_png_chunk(b"PLTE", pal.tobytes())))
    np.testing.assert_array_equal(out, pal[ix])


def test_png_2bit_gray_scaling():
    # 2-bit gray values 0..3 scale by 85 to 0/85/170/255
    vals = np.array([[0, 1, 2, 3]], dtype=np.uint8)
    packed = bytes([(0 << 6) | (1 << 4) | (2 << 2) | 3])
    out, _ = codecs.decode_png(_png_file(4, 1, 2, 0, b"\x00" + packed))
    np.testing.assert_array_equal(out[0, :, 0], vals[0] * 85)


def test_png_16bit_msb_downsample():
    px16 = _rng(6).integers(0, 65536, size=(2, 4, 3), dtype=np.uint16)
    lines = b"".join(b"\x00" + px16[y].astype(">u2").tobytes()
                     for y in range(2))
    out, _ = codecs.decode_png(_png_file(4, 2, 16, 2, lines))
    np.testing.assert_array_equal(out, (px16 >> 8).astype(np.uint8))


def test_sniff_ico_avif_heif_svg():
    """D1 refinements: ISO-BMFF brand split (AVIF/HEIC vs video MP4),
    ICO directory dims (0 means 256), SVG numeric width/height attrs."""
    import struct

    from amazon_textract_transformer_pipeline_spark.functions import codecs

    ico = b"\x00\x00\x01\x00\x01\x00" + bytes([32, 64]) + b"\x00" * 8
    assert codecs.sniff_format(ico) == "ico"
    assert codecs.sniff_dimensions(ico) == (32, 64)
    ico256 = b"\x00\x00\x01\x00\x01\x00" + bytes([0, 0]) + b"\x00" * 8
    assert codecs.sniff_dimensions(ico256) == (256, 256)

    ispe = struct.pack(">I", 20) + b"ispe" + b"\x00" * 4 \
        + struct.pack(">II", 800, 600)
    avif = struct.pack(">I", 16) + b"ftyp" + b"avif" + b"\x00" * 4 + ispe
    assert codecs.sniff_format(avif) == "avif"
    assert codecs.sniff_dimensions(avif) == (800, 600)
    heic = struct.pack(">I", 16) + b"ftyp" + b"heic" + b"\x00" * 4 + ispe
    assert codecs.sniff_format(heic) == "heif"
    mp4 = struct.pack(">I", 16) + b"ftyp" + b"isom" + b"\x00" * 4
    assert codecs.sniff_format(mp4) == "mp4"

    svg = (b'<?xml version="1.0"?>\n<svg xmlns="http://www.w3.org/2000/svg"'
           b' width="120" height="80px"><rect/></svg>')
    assert codecs.sniff_format(svg) == "svg"
    assert codecs.sniff_dimensions(svg) == (120, 80)
    nodims = b'<svg viewBox="0 0 10 10"/>'
    assert codecs.sniff_format(nodims) == "svg"
    assert codecs.sniff_dimensions(nodims) is None
