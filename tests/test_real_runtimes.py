"""Auto-activating integration tests for the real-runtime seams.

Every test here is gated on ``pytest.importorskip``: without
transformers / PIL they skip cleanly; on a cluster image that ships the
real runtimes they run automatically and assert that the mock-tested
contracts (tests/test_hf_adapter.py, tests/test_codecs.py,
tests/test_jpeg.py) hold against the real implementations."""

from __future__ import annotations

import numpy as np
import pytest

from amazon_textract_transformer_pipeline_spark.functions import codecs, jpeg


# --------------------------------------------------------------------------
# transformers: real WordPiece through the Q1 adapter (offline — the
# hermetic vocab is written to disk, no hub download)
# --------------------------------------------------------------------------

def _real_bert_tokenizer(tmp_path):
    transformers = pytest.importorskip("transformers")
    from wordpiece_fixture import default_vocab

    vocab_path = tmp_path / "vocab.txt"
    vocab_path.write_text("\n".join(default_vocab()) + "\n")
    try:
        return transformers.BertTokenizerFast(vocab_file=str(vocab_path),
                                              do_lower_case=True)
    except Exception as e:  # fast backend (tokenizers) absent
        pytest.skip(f"BertTokenizerFast unavailable: {e}")


def test_hf_adapter_real_tokenizer_matches_hermetic_fixture(tmp_path):
    from amazon_textract_transformer_pipeline_spark.operators.splitting import (
        hf_tokenize_adapter,
    )
    from wordpiece_fixture import MiniWordPieceTokenizer

    real = hf_tokenize_adapter(_real_bert_tokenizer(tmp_path))
    mini = hf_tokenize_adapter(MiniWordPieceTokenizer())
    # words where greedy longest-match semantics are unambiguous
    for word in ["the", "thex", "running", "abc123", "The", "x"]:
        assert real(word) == mini(word), word
    # contract: every word yields >= 1 piece; continuations carry '##'
    for word in ["", "émigré", "zzzzzz"]:
        pieces = real(word)
        assert len(pieces) >= 1
        assert all(p == "[UNK]" or not p[0].isspace() for p in pieces)


def test_real_tokenizer_through_spark_splitter(tmp_path, spark):
    """The full Arrow split path with a real transformers tokenizer."""
    from amazon_textract_transformer_pipeline_spark.operators.splitting import (
        hf_tokenize_adapter,
        split_pages_to_window_bounds,
    )

    tok = hf_tokenize_adapter(_real_bert_tokenizer(tmp_path))
    from amazon_textract_transformer_pipeline_spark.sources import (
        synthetic_pages_df,
    )
    from amazon_textract_transformer_pipeline_spark.operators.frontend import (
        html_to_words,
    )

    words = html_to_words(synthetic_pages_df(spark, 10, seed=5))
    out = split_pages_to_window_bounds(words, tokenize=tok,
                                       max_content_seq_len=24).collect()
    assert out and all(r.end_word > r.start_word for r in out)


# --------------------------------------------------------------------------
# PIL: cross-validate the built-in codec family against a real codec stack
# --------------------------------------------------------------------------

def test_pil_agrees_with_builtin_png_bmp():
    PIL_Image = pytest.importorskip("PIL.Image")
    import io

    rng = np.random.Generator(np.random.PCG64(11))
    arr = rng.integers(0, 256, (23, 31, 3), dtype=np.uint8)
    for enc, name in [(codecs.encode_png, "png"), (codecs.encode_bmp, "bmp")]:
        blob = enc(arr)
        via_pil = np.asarray(PIL_Image.open(io.BytesIO(blob)).convert("RGB"))
        via_builtin = codecs.builtin_decode_fn(blob)[0]
        assert np.array_equal(via_pil, via_builtin), name


def test_pil_decodes_our_progressive_jpeg():
    PIL_Image = pytest.importorskip("PIL.Image")
    import io

    rng = np.random.Generator(np.random.PCG64(12))
    img = np.clip(np.linspace(0, 255, 32 * 48 * 3).reshape(32, 48, 3)
                  + rng.normal(0, 25, (32, 48, 3)), 0, 255).astype(np.uint8)
    blob = jpeg.encode_jpeg_progressive(img, quality=90)
    via_pil = np.asarray(PIL_Image.open(io.BytesIO(blob)).convert("RGB"))
    ours = jpeg.decode_jpeg(blob)[0]
    # same coefficients, independent IDCT/upsampling — near-identical
    assert via_pil.shape == ours.shape
    assert np.abs(via_pil.astype(int) - ours.astype(int)).mean() < 2.0


def test_our_decoder_reads_pil_progressive_jpeg():
    PIL_Image = pytest.importorskip("PIL.Image")
    import io

    rng = np.random.Generator(np.random.PCG64(13))
    img = np.clip(np.linspace(0, 255, 40 * 40 * 3).reshape(40, 40, 3)
                  + rng.normal(0, 25, (40, 40, 3)), 0, 255).astype(np.uint8)
    buf = io.BytesIO()
    # PIL default subsampling at q85 is 4:2:0 → exercises non-4:4:4
    # progressive decode geometry too
    PIL_Image.fromarray(img).save(buf, format="JPEG", progressive=True,
                                  quality=85)
    blob = buf.getvalue()
    assert b"\xff\xc2" in blob  # really progressive
    ours = jpeg.decode_jpeg(blob)[0]
    via_pil = np.asarray(PIL_Image.open(io.BytesIO(blob)).convert("RGB"))
    assert ours.shape == via_pil.shape
    assert np.abs(via_pil.astype(int) - ours.astype(int)).mean() < 2.0


def test_real_lossy_vp8_metadata_never_errors():
    """A REAL lossy-WebP file (PIL/libwebp-encoded VP8) must sniff its
    true dims through the uncompressed key-frame header — the lossy-WebP
    metadata path is native even though there is no pixel decoder."""
    PIL_Image = pytest.importorskip("PIL.Image")
    import io

    import numpy as np

    from amazon_textract_transformer_pipeline_spark.functions import codecs

    rng = np.random.Generator(np.random.PCG64(5))
    img = rng.integers(0, 256, size=(48, 80, 3), dtype=np.uint8)
    buf = io.BytesIO()
    PIL_Image.fromarray(img).save(buf, format="WEBP", lossless=False,
                                  quality=80)
    blob = buf.getvalue()
    assert codecs.sniff_format(blob) == "webp"
    dims = codecs.sniff_dimensions(blob)
    # PIL may wrap lossy frames in VP8X; both paths must yield true dims
    assert dims == (80, 48)
