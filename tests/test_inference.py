"""I1-I3: window predictions + cross-window mean vs direct Python math, and
the per-document kernel's window-stub path vs the relational chain."""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import functions as F

import ref_rules
from ref_rules import N_STUB_CLASSES

from amazon_textract_transformer_pipeline_spark.config import (
    DEMO_CONFIG,
    field_config_df,
)
from amazon_textract_transformer_pipeline_spark.operators.assembly import (
    pages_view,
    words_view,
)
from amazon_textract_transformer_pipeline_spark.operators.consolidate import (
    consolidate_fields,
)
from amazon_textract_transformer_pipeline_spark.operators.entities import (
    extract_mentions,
)
from amazon_textract_transformer_pipeline_spark.operators.frontend import (
    document_words,
)
from amazon_textract_transformer_pipeline_spark.operators.fused import (
    _window_page_fn,
    document_fields,
    document_mentions,
    extract_documents,
)
from amazon_textract_transformer_pipeline_spark.operators.inference import (
    StubModel,
    aggregate_word_predictions,
    predict_windows,
)
from amazon_textract_transformer_pipeline_spark.operators.splitting import (
    split_pages_to_windows,
    split_words,
    stub_tokenize,
)


def _expected_word_probs(url, page_num, words):
    """Direct Python replay: tokenize → split → per-word stub loop →
    global mean."""
    counts = [len(stub_tokenize(w["text"])) for w in words]
    acc: dict[int, list[np.ndarray]] = {}
    for wix, (s, e) in enumerate(split_words(counts, 510)):
        boosts = [ref_rules.stub_cls(url, page_num, s + i)
                  for i in range(e - s)]
        probs = ref_rules.stub_window_probs(url, page_num, wix, counts[s:e],
                                            boosts)
        for i in range(e - s):
            acc.setdefault(s + i, []).append(probs[i])
    return {pos: np.mean(vs, axis=0) for pos, vs in acc.items()}


def _stub_window_cases():
    """(token counts, boost classes) windows: random counts 1-12, single
    words, and windows whose words all have the same count."""
    rng = np.random.default_rng(20)
    cases = []
    for n in (1, 2, 7, 40, 170, 400):
        for _ in range(5):
            cases.append(rng.integers(1, 13, n).tolist())
    cases += [[k] for k in range(1, 13)]
    cases += [[k] * n for k in (1, 3, 12) for n in (2, 50, 300)]
    return [(c, rng.integers(0, N_STUB_CLASSES, len(c)).tolist())
            for c in cases]


def test_stub_window_bit_identical_to_per_word_loop():
    """One draw per window + grouped per-word means == the per-word loop,
    bit for bit (np.array_equal, not isclose)."""
    model = StubModel()
    for i, (counts, boosts) in enumerate(_stub_window_cases()):
        want = ref_rules.stub_window_probs("https://h/p", 1 + i % 3, i,
                                           counts, boosts)
        got = model.predict_window("https://h/p", 1 + i % 3, i, 0, counts,
                                   boosts)
        assert got.shape == (len(counts), N_STUB_CLASSES)
        assert np.array_equal(got, want), (i, counts)


def test_word_predictions_match_python(spark, pages_df, doc_words):
    pages = pages_view(doc_words).cache()
    preds = aggregate_word_predictions(
        predict_windows(split_pages_to_windows(pages))
    ).cache()

    # pick pages incl. a multi-window one
    long_page = (
        split_pages_to_windows(pages).filter("window_ix > 0")
        .select("url", "page_num").distinct().limit(2).collect()
    )
    some = pages.limit(3).select("url", "page_num").collect()
    targets = {(r.url, r.page_num) for r in long_page} | {
        (r.url, r.page_num) for r in some
    }

    page_words = {
        (r.url, r.page_num): r.words
        for r in pages.filter(
            F.struct("url", "page_num").isin(
                [F.struct(F.lit(u), F.lit(p)) for (u, p) in targets]
            )
        ).collect()
    }
    got = {
        (r.url, r.page_num, r.word_pos): r
        for r in preds.filter(
            F.struct("url", "page_num").isin(
                [F.struct(F.lit(u), F.lit(p)) for (u, p) in targets]
            )
        ).collect()
    }
    # the kernel's per-page predictions over the same input pages
    predict = _window_page_fn()
    kernel = {}
    for r in pages_df.filter(F.col("url").isin(
            sorted({u for u, _ in targets}))).select("url", "html").collect():
        for pnum, words in document_words(r.html):
            kernel[(r.url, pnum)] = predict(r.url, pnum, words)
    assert len(page_words) == len(targets)
    n_checked = 0
    for (url, pnum), words in page_words.items():
        expected = _expected_word_probs(url, pnum, words)
        k_cls, k_pcc = kernel[(url, pnum)]
        for pos, exp in expected.items():
            r = got[(url, pnum, pos)]
            assert np.allclose(np.array(r.probs), exp, atol=1e-12), (url, pnum, pos)
            assert r.pred_cls == int(np.argmax(exp))
            assert math.isclose(r.pcc, float(np.max(exp)), rel_tol=1e-12)
            assert k_cls[pos] == int(np.argmax(exp)), (url, pnum, pos)
            assert math.isclose(k_pcc[pos], float(np.max(exp)),
                                rel_tol=1e-12), (url, pnum, pos)
            n_checked += 1
    assert n_checked > 100


def test_multiwindow_words_averaged(spark, doc_words):
    """Words duplicated by the <50% backfill get >1 window contribution."""
    pages = pages_view(doc_words)
    wp = predict_windows(split_pages_to_windows(pages))
    dup = (
        wp.groupBy("url", "page_num", "word_pos")
        .agg(F.count("*").alias("n"))
        .filter("n > 1")
        .count()
    )
    assert dup > 0


def test_kernel_window_stub_matches_relational_chain(spark, pages_df,
                                                     doc_words):
    """The per-document kernel's window-stub mentions and fields equal the
    relational chain predict_windows → aggregate_word_predictions →
    extract_mentions → consolidate_fields, on pages with multi-window words
    and with oversize words no window covers."""
    cfg = field_config_df(spark, DEMO_CONFIG)
    words = words_view(doc_words)
    windows = split_pages_to_windows(pages_view(doc_words))
    preds = aggregate_word_predictions(predict_windows(windows))
    enriched = words.join(
        preds.select("url", "page_num", "word_pos", "pred_cls", "pcc"),
        ["url", "page_num", "word_pos"], "left").cache()
    # oversize words (never windowed) keep NULL predictions, all others
    # are predicted, and some words sit in more than one window
    n_big = enriched.filter("length(text) >= 3000").count()
    assert n_big > 0
    assert enriched.filter("pred_cls IS NULL").count() == n_big
    assert predict_windows(windows).groupBy(
        "url", "page_num", "word_pos").count().filter("count > 1").count() > 0

    rel_m = extract_mentions(enriched, cfg).cache()
    rel_f = consolidate_fields(rel_m, cfg, doc_words.select("url"))
    docs = extract_documents(pages_df, DEMO_CONFIG,
                             model="window-stub").cache()
    ker_m, ker_f = document_mentions(docs), document_fields(docs)

    def by_key(df, key):
        return {tuple(r[k] for k in key): r for r in df.collect()}

    exact = ("ClassId", "ClassName", "Blocks", "BoundingBox", "PageNum",
             "Text", "RawText", "ixe")
    a, b = by_key(rel_m, ("url", "run_id")), by_key(ker_m, ("url", "run_id"))
    assert a.keys() == b.keys() and len(a) > 500
    for k, r in a.items():
        assert all(r[c] == b[k][c] for c in exact), k
        assert math.isclose(r.Confidence, b[k].Confidence, rel_tol=1e-12), k
    # the boost bias produces real multi-word runs
    assert sum(len(r.Blocks) > 1 for r in b.values()) > 0
    big = {r.word_id for r in enriched.filter("length(text) >= 3000")
           .select("word_id").collect()}
    assert not big & {w for r in b.values() for w in r.Blocks}

    exact = ("ClassId", "FieldName", "SortOrder", "Optional",
             "NumDetections", "NumDetectedValues", "Value")
    a, b = by_key(rel_f, ("url", "ClassId")), by_key(ker_f, ("url", "ClassId"))
    assert a.keys() == b.keys()
    for k, r in a.items():
        assert all(r[c] == b[k][c] for c in exact), k
        assert math.isclose(r.Confidence, b[k].Confidence,
                            rel_tol=1e-9, abs_tol=1e-12), k
        av, bv = r.Values or [], b[k].Values or []
        assert [v.Value for v in av] == [v.Value for v in bv], k
        for x, y in zip(av, bv):
            assert math.isclose(x.Confidence, y.Confidence,
                                rel_tol=1e-9, abs_tol=1e-12), k
    docs.unpersist()
    enriched.unpersist()
    rel_m.unpersist()
