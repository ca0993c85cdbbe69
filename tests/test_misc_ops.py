"""E5-E6+I6 value normalization: the date rules, per-distinct-input
normalizer calls and the import-gated seq2seq path."""

from __future__ import annotations

import pytest

from amazon_textract_transformer_pipeline_spark.config import field_config_df
from amazon_textract_transformer_pipeline_spark.operators.entities import (
    extract_mentions,
    normalize_mentions,
)
from amazon_textract_transformer_pipeline_spark.operators.seq2seq import (
    make_normalizer,
    normalize_date_text,
    rule_based_date_normalizer,
)


def test_date_normalizer_rules():
    cases = {
        "31/12/2001": "2001-12-31",
        "2001-12-31": "2001-12-31",
        "31 December 2001": "2001-12-31",
        "Dec 31, 2001": "2001-12-31",
        "31.12.2001": "2001-12-31",
        "1 Jan 1999": "1999-01-01",
        "not a date": None,
        "45/99/2001": None,
    }
    for raw, want in cases.items():
        assert normalize_date_text(raw) == want, raw
    outs = rule_based_date_normalizer(
        ["Convert dates to YYYY-MM-DD: 31/12/2001"])
    assert outs == ["2001-12-31"]


def test_normalize_mentions_dedup_and_rawtext(spark):
    """E5: one normalizer call per distinct (endpoint, input); E6: raw_text
    preserved; failures keep original text."""
    cfg = field_config_df(spark, [
        {"ClassId": 1, "Name": "Date", "NormalizerEndpoint": "date-ep",
         "NormalizerPrompt": "Convert dates to YYYY-MM-DD: "},
        {"ClassId": 2, "Name": "Plain"},
    ])
    words = spark.createDataFrame(
        [("u1", 1, 0, 0, "31/12/2001", 99.0, "w0",
          {"left": .1, "top": .1, "width": .1, "height": .1}, 1, 0.9),
         ("u1", 1, 1, 0, "x", 99.0, "w1",
          {"left": .2, "top": .1, "width": .1, "height": .1}, 9, 0.9),
         ("u1", 1, 2, 0, "31/12/2001", 99.0, "w2",
          {"left": .3, "top": .1, "width": .1, "height": .1}, 1, 0.8),
         ("u1", 1, 3, 0, "y", 99.0, "w3",
          {"left": .4, "top": .1, "width": .1, "height": .1}, 9, 0.9),
         ("u1", 1, 4, 0, "garbage", 99.0, "w4",
          {"left": .5, "top": .1, "width": .1, "height": .1}, 1, 0.7),
         ("u1", 1, 5, 0, "keep", 99.0, "w5",
          {"left": .6, "top": .1, "width": .1, "height": .1}, 2, 0.9),
         ("u1", 1, 6, 0, "end", 99.0, "w6",
          {"left": .7, "top": .1, "width": .1, "height": .1}, 9, 0.9)],
        "url string, page_num int, word_pos int, line_id int, text string, "
        "conf double, word_id string, "
        "box struct<left:double,top:double,width:double,height:double>, "
        "pred_cls int, pcc double",
    )
    mentions = extract_mentions(words, cfg)

    acc = spark.sparkContext.accumulator(0)

    def spy(inputs):
        acc.add(len(inputs))
        from amazon_textract_transformer_pipeline_spark.operators.seq2seq import (
            rule_based_date_normalizer as rb,
        )
        return rb(inputs)

    normed = normalize_mentions(mentions, cfg, make_normalizer(spy)).cache()
    rows = {(r.Text, r.RawText) for r in normed.filter("ClassId = 1").collect()}
    # two identical date mentions both normalized; raw preserved
    assert ("2001-12-31", "31/12/2001") in rows
    # unparseable → original kept, RawText null
    assert ("garbage", None) in rows
    # non-normalizer class untouched
    plain = normed.filter("ClassId = 2").collect()[0]
    assert plain.Text == "keep" and plain.RawText is None
    # E5 dedup: 3 date-class mentions but only 2 DISTINCT inputs reached the
    # normalizer ("...31/12/2001" deduped, "...garbage" once)
    assert acc.value == 2


def test_hf_generate_fn_gated():
    """The real seq2seq path (I6) is import-gated: without a transformers
    runtime it must raise NotImplementedError at build time, not at task
    time on the executors."""
    import pytest

    from amazon_textract_transformer_pipeline_spark.operators.seq2seq import (
        hf_generate_fn,
    )

    with pytest.raises(NotImplementedError, match="transformers"):
        hf_generate_fn("some/checkpoint")
