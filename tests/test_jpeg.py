"""Baseline JPEG codec (functions/jpeg.py): exact bit-level machinery
(zigzag, magnitude coding, canonical Huffman, DCT orthonormality, DRI
equivalence) + lossy roundtrip closeness at high quality + dispatch
through codecs.builtin_decode_fn."""

import numpy as np
import pytest

from amazon_textract_transformer_pipeline_spark.functions import codecs, jpeg


def _rng(seed=0):
    return np.random.Generator(np.random.PCG64(seed))


def _mae(a, b):
    return float(np.abs(a.astype(int) - b.astype(int)).mean())


# --------------------------------------------------------------------------
# exact machinery
# --------------------------------------------------------------------------

def test_zigzag_is_permutation():
    assert sorted(jpeg.ZIGZAG.tolist()) == list(range(64))
    nat = np.arange(64)
    zz = nat[jpeg.ZIGZAG]
    back = np.empty(64, int)
    back[jpeg.ZIGZAG] = zz
    np.testing.assert_array_equal(back, nat)


def test_magnitude_extend_inverse():
    for v in list(range(-1000, 1000)) + [-32767, 32767]:
        t, bits = jpeg.magnitude(v)
        assert jpeg.extend(bits, t) == v
        assert bits < (1 << max(t, 1))


def test_huffman_tables_canonical_and_prefix_free():
    for bits, vals in (jpeg.DC_LUM, jpeg.DC_CHROM, jpeg.AC_LUM,
                       jpeg.AC_CHROM):
        assert sum(bits) == len(vals)
        dec = jpeg.build_huffman_decoder(bits, vals)
        enc = jpeg.build_huffman_encoder(bits, vals)
        assert len(dec) == len(vals) and len(enc) == len(vals)
        # prefix-free: no code is a prefix of a longer one
        codes = {(ln, c) for (ln, c) in dec}
        for ln, c in codes:
            for ln2, c2 in codes:
                if ln2 > ln:
                    assert (c2 >> (ln2 - ln)) != c
        # encoder/decoder are inverse maps
        for sym, (code, ln) in enc.items():
            assert dec[(ln, code)] == sym


def test_dct_orthonormal():
    x = _rng(1).normal(size=(8, 8))
    f = jpeg.DCT_C @ x @ jpeg.DCT_C.T
    np.testing.assert_allclose(jpeg.DCT_C.T @ f @ jpeg.DCT_C, x, atol=1e-12)
    np.testing.assert_allclose(jpeg.DCT_C @ jpeg.DCT_C.T, np.eye(8),
                               atol=1e-12)


def test_restart_interval_decodes_identically():
    img = _rng(2).integers(0, 256, size=(40, 56, 3), dtype=np.uint8)
    plain = jpeg.decode_jpeg(jpeg.encode_jpeg(img, quality=85))[0]
    dri = jpeg.decode_jpeg(jpeg.encode_jpeg(img, quality=85,
                                            restart_interval=3))[0]
    # DRI only resets predictors/byte-aligns — same quantized coefficients
    np.testing.assert_array_equal(plain, dri)


# --------------------------------------------------------------------------
# lossy roundtrips
# --------------------------------------------------------------------------

def test_smooth_image_high_quality_roundtrip():
    g = np.linspace(0, 255, 64 * 48).reshape(48, 64)
    img = np.stack([g, g[::-1], np.full_like(g, 100)], 2).astype(np.uint8)
    out, orient = jpeg.decode_jpeg(jpeg.encode_jpeg(img, quality=95))
    assert out.shape == img.shape and orient is None
    assert _mae(out, img) < 1.5


@pytest.mark.parametrize("shape", [(17, 13), (8, 8), (33, 41)])
def test_420_subsampling_odd_dims(shape):
    h, w = shape
    img = _rng(h * w).integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    out, _ = jpeg.decode_jpeg(
        jpeg.encode_jpeg(img, quality=92, subsampling="4:2:0"))
    assert out.shape == (h, w, 3)
    # chroma is subsampled; luma must still be close
    ylum = 0.299 * img[:, :, 0] + 0.587 * img[:, :, 1] + 0.114 * img[:, :, 2]
    olum = 0.299 * out[:, :, 0] + 0.587 * out[:, :, 1] + 0.114 * out[:, :, 2]
    assert float(np.abs(ylum - olum).mean()) < 6.0


def test_gray_roundtrip():
    g = _rng(5).integers(0, 256, size=(33, 41), dtype=np.uint8)
    out, _ = jpeg.decode_jpeg(jpeg.encode_jpeg(g, quality=95))
    assert out.shape == (33, 41, 3)
    assert _mae(out[:, :, 0], g) < 3.5
    assert (out[:, :, 0] == out[:, :, 1]).all()


def test_quality_monotonic_size():
    img = _rng(6).integers(0, 256, size=(48, 48, 3), dtype=np.uint8)
    sizes = [len(jpeg.encode_jpeg(img, quality=q)) for q in (30, 60, 90)]
    assert sizes[0] < sizes[1] < sizes[2]


# --------------------------------------------------------------------------
# EXIF, errors, dispatch
# --------------------------------------------------------------------------

def test_exif_orientation_app1():
    import struct
    img = _rng(7).integers(0, 256, size=(16, 16, 3), dtype=np.uint8)
    blob = jpeg.encode_jpeg(img, quality=90)
    tiff = (b"II*\x00" + struct.pack("<I", 8) + struct.pack("<H", 1)
            + struct.pack("<HHIHH", 0x0112, 3, 1, 6, 0)
            + struct.pack("<I", 0))
    app1 = b"Exif\x00\x00" + tiff
    spliced = (blob[:2] + b"\xff\xe1"
               + struct.pack(">H", len(app1) + 2) + app1 + blob[2:])
    out, orient = jpeg.decode_jpeg(spliced)
    assert orient == 6
    np.testing.assert_array_equal(
        out, jpeg.decode_jpeg(blob)[0])


def test_arithmetic_rejected_and_bad_soi():
    blob = bytearray(jpeg.encode_jpeg(
        _rng(8).integers(0, 256, size=(8, 8, 3), dtype=np.uint8)))
    ix = bytes(blob).find(b"\xff\xc0")
    blob[ix + 1] = 0xC9  # SOF0 → SOF9 (arithmetic sequential)
    with pytest.raises(ValueError, match="arithmetic"):
        jpeg.decode_jpeg(bytes(blob))
    with pytest.raises(ValueError, match="SOI"):
        jpeg.decode_jpeg(b"not a jpeg")


def test_progressive_decode_identical_to_baseline():
    """Progressive coding losslessly re-encodes the same quantized
    coefficients, so decode(progressive(x)) must be byte-identical to
    decode(baseline(x)) at the same quality. Covers DC first/refine,
    AC first/refine over two spectral bands, EOB runs (flat regions),
    and ZRL (noise)."""
    rng = _rng(31)
    cases = [
        np.clip(np.linspace(0, 255, 16 * 24 * 3).reshape(16, 24, 3)
                + rng.normal(0, 30, (16, 24, 3)), 0, 255).astype(np.uint8),
        np.full((40, 56, 3), 77, np.uint8),                 # long EOB runs
        rng.integers(0, 256, (32, 32, 3)).astype(np.uint8),  # ZRL-heavy
        rng.integers(0, 256, (21, 13, 3)).astype(np.uint8),  # edge padding
        np.full((30, 30), 200, np.uint8),                    # grayscale
    ]
    for q, img in zip((85, 85, 85, 30, 60), cases):
        base = jpeg.decode_jpeg(jpeg.encode_jpeg(img, quality=q))[0]
        prog = jpeg.decode_jpeg(jpeg.encode_jpeg_progressive(img, quality=q))[0]
        assert np.array_equal(base, prog)


def test_progressive_is_sof2_and_sniffs():
    from amazon_textract_transformer_pipeline_spark.functions import codecs
    img = _rng(4).integers(0, 256, (24, 40, 3)).astype(np.uint8)
    blob = jpeg.encode_jpeg_progressive(img)
    assert b"\xff\xc2" in blob and b"\xff\xc0" not in blob
    assert codecs.sniff_format(blob) == "jpeg"
    assert codecs.sniff_dimensions(blob) == (40, 24)
    # the builtin path decodes progressive too
    arr, orient = codecs.builtin_decode_fn(blob)
    assert arr.shape == (24, 40, 3) and orient is None
