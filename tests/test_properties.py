"""Property-based tests (SURVEY §5.4): pure-Python invariants via hypothesis
over the shared rule implementations — fast, no Spark session needed."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

import ref_rules
from amazon_textract_transformer_pipeline_spark.operators.frontend import parse_html
from amazon_textract_transformer_pipeline_spark.operators.splitting import (
    split_words,
    stub_tokenize,
)
from amazon_textract_transformer_pipeline_spark.sources.synthetic import (
    expected_text,
)

CLASSES = {0: "A", 1: "B", 2: "C"}


@st.composite
def word_seq(draw):
    n = draw(st.integers(1, 40))
    words = []
    for i in range(n):
        words.append(
            {
                "page_num": 1 + i // 20,
                "line_id": (i // 5) % 4,
                "text": f"w{i}",
                "conf": 50.0 + (i % 50),
                "word_id": f"id{i}",
                "box": {"left": 0.1, "top": 0.1, "width": 0.01, "height": 0.01},
                "pred_cls": draw(st.integers(0, 4)),  # 3 and 4 → "other"
                "pcc": draw(st.floats(0.5, 0.999999)),
            }
        )
    return words


@given(word_seq())
@settings(max_examples=200, deadline=None)
def test_e1_run_conservation(words):
    """Every mention is a contiguous word slice; mentions never overlap;
    total mention words ≤ total words; mention confidences within word
    bounds."""
    dets = ref_rules.extract_entities_ref(words, CLASSES)
    seen: set[str] = set()
    by_id = {w["word_id"]: w for w in words}
    order = {w["word_id"]: i for i, w in enumerate(words)}
    for d in dets:
        ixs = [order[b] for b in d["Blocks"]]
        assert ixs == list(range(ixs[0], ixs[0] + len(ixs))), "non-contiguous run"
        assert not (set(d["Blocks"]) & seen), "overlapping mentions"
        seen.update(d["Blocks"])
        assert all(by_id[b]["pred_cls"] == d["ClassId"] for b in d["Blocks"])
        lo = min(min(by_id[b]["pcc"], by_id[b]["conf"]) for b in d["Blocks"])
        assert abs(d["Confidence"] - lo) < 1e-12


@given(st.lists(st.integers(1, 30), min_size=0, max_size=60),
       st.integers(8, 64))
@settings(max_examples=300, deadline=None)
def test_q2_splitter_invariants(counts, max_len):
    """Windows stay within budget, are in order, cover all non-oversize
    words, and overlap only via the final-window backfill."""
    splits = split_words(counts, max_len)
    n = len(counts)
    starts = [0]
    for c in counts:
        starts.append(starts[-1] + c)
    covered: set[int] = set()
    prev_end = 0
    for (s, e) in splits:
        assert 0 <= s < e <= n
        assert starts[e] - starts[s] <= max_len, "window over budget"
        # gaps are legal only where oversize words were skipped
        assert all(counts[i] > max_len for i in range(prev_end, s)), \
            "gap not explained by oversize words"
        covered.update(range(s, e))
        prev_end = max(prev_end, e)
    for i in range(n):
        if counts[i] <= max_len:
            assert i in covered, f"non-oversize word {i} uncovered"
        else:
            assert i not in covered, "oversize word must be skipped"


@given(st.lists(st.floats(0.01, 0.999), min_size=1, max_size=10))
@settings(max_examples=200, deadline=None)
def test_e8_noisy_or_bounds(confs):
    """Noisy-OR ≥ max(confs), < 1, and monotone in every argument."""
    def noisy_or(cs):
        p = 1.0
        for c in cs:
            p *= 1 - c
        return 1 - p

    v = noisy_or(confs)
    # FP can saturate the product to 0 → v == 1.0 exactly
    assert max(confs) - 1e-12 <= v <= 1.0
    bumped = [min(c + 0.001, 0.9999) for c in confs]
    assert noisy_or(bumped) >= v - 1e-12


@given(st.text(alphabet=st.characters(blacklist_categories=("Cs",)),
               max_size=400))
@settings(max_examples=200, deadline=None)
def test_frontend_never_crashes_and_is_deterministic(s):
    """Arbitrary unicode as HTML: parser total + deterministic; extracted
    words contain no whitespace."""
    b = s.encode("utf-8")
    p1, p2 = parse_html(b), parse_html(b)
    assert p1 == p2
    for page in p1:
        for line in page:
            assert line, "empty line emitted"
            for w in line:
                assert w and not any(ch.isspace() for ch in w)


@given(st.lists(st.lists(st.lists(
    st.text(alphabet="abcXYZ0123&<>'\"éñ中", min_size=1, max_size=8)
    .filter(lambda t: not t.isspace()),
    min_size=1, max_size=6), min_size=0, max_size=5), min_size=1, max_size=3))
@settings(max_examples=150, deadline=None)
def test_generator_render_roundtrip(pages):
    """Any word structure (no-whitespace tokens) survives the HTML render →
    parse round trip byte-identically."""
    from amazon_textract_transformer_pipeline_spark.sources.synthetic import (
        _render_html,
    )
    import random

    rng = random.Random(7)
    html = _render_html(rng, pages).encode("utf-8")
    assert expected_text(parse_html(html)) == expected_text(pages)


@given(st.lists(st.integers(0, 100), min_size=1, max_size=30))
@settings(max_examples=200, deadline=None)
def test_tokenizer_reconstruction(lengths):
    """stub_tokenize pieces concatenate back to the word; count ≥ 1."""
    for n in lengths:
        w = ("ab3$" * (n // 4 + 1))[: max(n, 1)]
        pieces = stub_tokenize(w)
        assert "".join(pieces) == w
        assert len(pieces) >= 1


# --------------------------------------------------------------------------
# image codecs (functions/codecs.py): encode→decode is the identity for
# opaque pixels, any shape, any PNG filter choice
# --------------------------------------------------------------------------

_img_shape = st.tuples(st.integers(1, 17), st.integers(1, 17))


@given(_img_shape, st.sampled_from([0, 1, 2, 3, 4, "mixed"]),
       st.integers(0, 2**32 - 1))
@settings(max_examples=60, deadline=None)
def test_png_roundtrip_property(shape, ftype, seed):
    import numpy as np

    from amazon_textract_transformer_pipeline_spark.functions import codecs

    h, w = shape
    rng = np.random.Generator(np.random.PCG64(seed))
    arr = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    out, orient = codecs.decode_png(codecs.encode_png(arr, filter_type=ftype))
    assert orient is None
    assert (out == arr).all()


@given(_img_shape, st.booleans(), st.integers(0, 2**32 - 1))
@settings(max_examples=40, deadline=None)
def test_bmp_ppm_roundtrip_property(shape, top_down, seed):
    import numpy as np

    from amazon_textract_transformer_pipeline_spark.functions import codecs

    h, w = shape
    rng = np.random.Generator(np.random.PCG64(seed))
    arr = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    b, _ = codecs.decode_bmp(codecs.encode_bmp(arr, top_down=top_down))
    p, _ = codecs.decode_ppm(codecs.encode_ppm(arr))
    assert (b == arr).all() and (p == arr).all()


# --------------------------------------------------------------------------
# WARC fixture-writer/reader roundtrip (pure python, no Spark)
# --------------------------------------------------------------------------

@given(st.lists(
    st.tuples(
        st.text(alphabet=st.characters(min_codepoint=33, max_codepoint=126),
                min_size=1, max_size=30),
        st.binary(max_size=200)),
    min_size=1, max_size=10), st.booleans())
@settings(max_examples=40, deadline=None)
def test_warc_roundtrip_property(pages, with_requests):
    import gzip
    from datetime import datetime, timedelta

    from amazon_textract_transformer_pipeline_spark.sources import warc
    from test_warc_source import write_warc_gz

    recs = [{"url": f"http://h/{i}/{u}", "date":
             datetime(2026, 1, 1) + timedelta(seconds=i), "html": body}
            for i, (u, body) in enumerate(pages)]
    import tempfile
    with tempfile.NamedTemporaryFile(suffix=".warc.gz") as f:
        write_warc_gz(f.name, recs, with_request_records=with_requests)
        raw = gzip.decompress(open(f.name, "rb").read())
    rows = list(warc.records_to_page_rows(raw))
    assert [r["url"] for r in rows] == [r["url"] for r in recs]
    assert [bytes(r["html"]) for r in rows] == [r["html"] for r in recs]
    assert all(r["warc_ts"] is not None for r in rows)


@given(st.integers(1, 3), st.sampled_from([(1, 1), (5, 1), (5, 2),
                                           (32773, 1)]),
       st.booleans(), st.integers(0, 2**32 - 1))
@settings(max_examples=40, deadline=None)
def test_tiff_roundtrip_property(n_frames, comp_pred, gray, seed):
    """Multi-frame TIFF encode→decode identity across compression
    (none/LZW/PackBits) × predictor × gray/RGB."""
    import numpy as np

    from amazon_textract_transformer_pipeline_spark.functions import codecs

    compression, predictor = comp_pred
    rng = np.random.Generator(np.random.PCG64(seed))
    frames = []
    for i in range(n_frames):
        h, w = int(rng.integers(1, 20)), int(rng.integers(1, 20))
        shape = (h, w) if gray else (h, w, 3)
        frames.append(rng.integers(0, 256, size=shape, dtype=np.uint8))
    blob = codecs.encode_tiff(frames, compression=compression,
                              predictor=predictor)
    got = codecs.decode_tiff_frames(blob)
    assert len(got) == n_frames
    assert codecs.count_frames(blob) == n_frames
    for orig, (dec, _) in zip(frames, got):
        want = orig if orig.ndim == 3 else np.repeat(
            orig[:, :, None], 3, axis=2)
        assert (dec == want).all()


@given(st.integers(1, 3), st.booleans(), st.integers(2, 17),
       st.integers(0, 2**32 - 1))
@settings(max_examples=40, deadline=None)
def test_gif_roundtrip_property(n_frames, interlace, n_colors, seed):
    """GIF encode→decode identity: palettized frames, interlace on/off,
    multi-frame walks."""
    import numpy as np

    from amazon_textract_transformer_pipeline_spark.functions import codecs

    rng = np.random.Generator(np.random.PCG64(seed))
    h, w = int(rng.integers(1, 24)), int(rng.integers(1, 24))
    pal = rng.integers(0, 256, size=(n_colors, 3), dtype=np.uint8)
    frames = [pal[rng.integers(0, n_colors, size=(h, w))]
              for _ in range(n_frames)]
    blob = codecs.encode_gif(frames, interlace=interlace)
    got = codecs.decode_gif_frames(blob)
    assert len(got) == n_frames
    for orig, (dec, _) in zip(frames, got):
        assert (dec == orig).all()


@given(st.integers(2, 40), st.integers(2, 40), st.integers(25, 95),
       st.integers(0, 2**32 - 1))
@settings(max_examples=25, deadline=None)
def test_jpeg_progressive_equals_baseline_property(h, w, quality, seed):
    """Progressive re-encodes the same quantized coefficients, so its
    decode must be byte-identical to the baseline decode — any shape,
    any quality."""
    import numpy as np

    from amazon_textract_transformer_pipeline_spark.functions import jpeg

    rng = np.random.Generator(np.random.PCG64(seed))
    img = np.clip(
        np.linspace(0, 255, h * w * 3).reshape(h, w, 3)
        + rng.normal(0, 40, (h, w, 3)), 0, 255).astype(np.uint8)
    base = jpeg.decode_jpeg(jpeg.encode_jpeg(img, quality=quality))[0]
    prog = jpeg.decode_jpeg(
        jpeg.encode_jpeg_progressive(img, quality=quality))[0]
    assert (base == prog).all()


@given(st.integers(1, 4), st.sampled_from(
    ["classic", "flate", "xrefstm", "pred", "objstm"]),
    st.integers(0, 2**32 - 1))
@settings(max_examples=40, deadline=None)
def test_pdf_roundtrip_property(n_pages, dialect, seed):
    """PDF writer→parser identity across structural dialects: page count,
    dims, and extracted text all survive."""
    import numpy as np

    from amazon_textract_transformer_pipeline_spark.functions import pdf

    rng = np.random.Generator(np.random.PCG64(seed))
    kw = {"classic": {}, "flate": {"compress": True},
          "xrefstm": {"xref_stream": True},
          "pred": {"xref_stream": True, "predictor": True},
          "objstm": {"objstm": True}}[dialect]
    pages = []
    for p in range(n_pages):
        lines = [" ".join(f"w{int(x)}" for x in rng.integers(0, 999, 3))
                 for _ in range(int(rng.integers(1, 4)))]
        pages.append({"width": int(rng.integers(72, 1000)),
                      "height": int(rng.integers(72, 1000)),
                      "lines": lines})
    blob = pdf.write_pdf(pages, **kw)
    meta = pdf.pdf_meta(blob)
    assert meta["n_pages"] == n_pages
    for spec, got in zip(pages, meta["pages"]):
        assert (got["width_pt"], got["height_pt"]) == \
            (float(spec["width"]), float(spec["height"]))
    want = "\f".join("\n".join(p["lines"]) for p in pages)
    assert pdf.pdf_extract_text(blob) == want


@given(st.sampled_from(["png", "bmp", "ppm", "tiff", "gif", "jpeg"]),
       st.integers(0, 3000), st.integers(0, 2**32 - 1), st.booleans())
@settings(max_examples=120, deadline=None)
def test_mutated_images_stay_in_error_channel(fmt, cut, seed, flip):
    """The image codec contract under fuzz: truncating or bit-flipping
    any valid image container must either succeed or raise ValueError —
    never any other exception type."""
    import numpy as np

    from amazon_textract_transformer_pipeline_spark.functions import (
        codecs,
        jpeg,
    )

    rng = np.random.Generator(np.random.PCG64(seed ^ 0xC0DEC))
    arr = rng.integers(0, 256, size=(9, 11, 3), dtype=np.uint8)
    pal = rng.integers(0, 256, size=(4, 3), dtype=np.uint8)
    if fmt == "png":
        blob = codecs.encode_png(arr)
    elif fmt == "bmp":
        blob = codecs.encode_bmp(arr)
    elif fmt == "ppm":
        blob = codecs.encode_ppm(arr)
    elif fmt == "tiff":
        blob = codecs.encode_tiff([arr], compression=5)
    elif fmt == "gif":
        blob = codecs.encode_gif([pal[rng.integers(0, 4, size=(9, 11))]])
    else:
        blob = jpeg.encode_jpeg(arr)

    mutated = bytearray(blob[:max(cut % (len(blob) + 1), 1)])
    if flip and mutated:
        mutated[int(seed) % len(mutated)] ^= 0xFF
    mutated = bytes(mutated)

    try:
        codecs.sniff_format(mutated)
        dims = codecs.sniff_dimensions(mutated)
        assert dims is None or (isinstance(dims[0], int)
                                and isinstance(dims[1], int))
        codecs.count_frames(mutated)
        codecs.builtin_decode_fn(mutated)
    except ValueError:
        pass  # the sanctioned error channel


_PDF_DIALECTS = [{}, {"compress": True}, {"xref_stream": True},
                 {"xref_stream": True, "predictor": True}, {"objstm": True},
                 {"objstm": True, "predictor": True, "compress": True}]


@given(st.sampled_from(_PDF_DIALECTS), st.integers(0, 3000),
       st.integers(0, 2**32 - 1), st.booleans())
@settings(max_examples=120, deadline=None)
def test_mutated_containers_stay_in_error_channel(kw, cut, seed, flip):
    """The PDF metadata contract under fuzz: truncating or bit-flipping a
    valid PDF of any writer dialect must either parse or raise ValueError
    — never any other exception type (that is what keeps one bad blob
    from failing a whole Arrow stage)."""
    from amazon_textract_transformer_pipeline_spark.functions import pdf

    blob = pdf.write_pdf([{"width": 200, "height": 100,
                           "lines": ["fuzz me"]}],
                         **kw)
    mutated = bytearray(blob[:max(cut % (len(blob) + 1), 1)])
    if flip and mutated:
        mutated[int(seed) % len(mutated)] ^= 0xFF
    try:
        pdf.pdf_meta(bytes(mutated))
    except ValueError:
        pass  # the sanctioned error channel
