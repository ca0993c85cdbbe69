"""E1-E13: Spark entity extraction + consolidation vs the rule-for-rule
Python oracle (ref_rules.py), plus targeted quirk tests. The oracle checks
run over both implementations: the relational operators and the
per-document kernel the pipeline runs (operators/fused.py)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

import ref_rules
from amazon_textract_transformer_pipeline_spark.config import (
    DEMO_CONFIG,
    field_config_df,
    field_config_rows,
)
from amazon_textract_transformer_pipeline_spark.operators.assembly import words_view
from amazon_textract_transformer_pipeline_spark.operators.consolidate import (
    consolidate_fields,
    doc_confidence,
)
from amazon_textract_transformer_pipeline_spark.operators.enrich import stub_predictions
from amazon_textract_transformer_pipeline_spark.operators.entities import extract_mentions
from amazon_textract_transformer_pipeline_spark.operators.frontend import (
    parse_html,
)
from amazon_textract_transformer_pipeline_spark.operators.fused import (
    document_fields,
    document_mentions,
    extract_documents,
    fields_of,
    mentions_of,
)
from amazon_textract_transformer_pipeline_spark.sources.synthetic import make_page_row
from test_frontend import pages_to_struct

N_DOCS = 300
CFG_ROWS = field_config_rows(DEMO_CONFIG)
ENTITY_CLASSES = {c["ClassId"]: c["Name"] for c in CFG_ROWS if not c["Ignore"]}


def _python_doc_words(i: int) -> tuple[str, list[dict]]:
    row = make_page_row(i)
    url = row["url"]
    words = []
    for pg in pages_to_struct(url, parse_html(row["html"])):
        for pos, w in enumerate(pg["words"]):
            words.append(
                {
                    "page_num": pg["page_num"],
                    "line_id": w["line_id"],
                    "word_pos": pos,
                    "text": w["text"],
                    "conf": w["conf"],
                    "word_id": w["id"],
                    "box": w["box"],
                    "pred_cls": ref_rules.stub_cls(url, pg["page_num"], pos),
                    "pcc": ref_rules.stub_conf(url, pg["page_num"], pos),
                }
            )
    return url, words


@pytest.fixture(scope="module", params=["relational", "kernel"])
def extraction(request, spark, pages_df, doc_words):
    """(mentions, fields, doc confidences) of the sql-stub path, from the
    relational operators or from the per-document kernel."""
    if request.param == "relational":
        cfg = field_config_df(spark, DEMO_CONFIG)
        mentions = extract_mentions(
            stub_predictions(words_view(doc_words)), cfg).cache()
        fields = consolidate_fields(mentions, cfg,
                                    doc_words.select("url")).cache()
        yield mentions, fields, doc_confidence(fields)
        mentions.unpersist()
        fields.unpersist()
    else:
        docs = extract_documents(pages_df, DEMO_CONFIG,
                                 model="sql-stub").cache()
        yield (document_mentions(docs), document_fields(docs),
               docs.select("url", "Confidence", "needs_human_review"))
        docs.unpersist()


@pytest.fixture(scope="module")
def oracle_docs():
    return dict(_python_doc_words(i) for i in range(N_DOCS))


def test_stub_predictions_match_python(spark, doc_words):
    """Spark md5-hash stub == Python md5-hash stub, bit-for-bit."""
    rows = (
        stub_predictions(words_view(doc_words))
        .select("url", "page_num", "word_pos", "pred_cls", "pcc")
        .collect()
    )
    assert len(rows) > 3000
    for r in rows[:5000]:
        assert r.pred_cls == ref_rules.stub_cls(r.url, r.page_num, r.word_pos)
        assert r.pcc == ref_rules.stub_conf(r.url, r.page_num, r.word_pos)


def test_mentions_match_oracle(extraction, oracle_docs):
    got = {}
    for r in extraction[0].collect():
        got.setdefault(r.url, []).append(r)
    total_mentions = 0
    for url, words in oracle_docs.items():
        expected = ref_rules.extract_entities_ref(words, ENTITY_CLASSES)
        actual = sorted(got.get(url, []), key=lambda r: r.run_id)
        assert len(actual) == len(expected), url
        for a, e in zip(actual, expected):
            assert a.ClassId == e["ClassId"], url
            assert a.ClassName == e["ClassName"], url
            assert a.Text == e["Text"], url
            assert a.PageNum == e["PageNum"], url
            assert list(a.Blocks) == e["Blocks"], url
            assert math.isclose(a.Confidence, e["Confidence"], rel_tol=1e-12), url
            for k in ("left", "top", "width", "height"):
                assert math.isclose(a.BoundingBox[k], e["BoundingBox"][k],
                                    rel_tol=1e-12, abs_tol=1e-15), url
        total_mentions += len(expected)
    assert total_mentions > 1000  # the fixture actually exercises the path


def test_fields_match_oracle(extraction, oracle_docs):
    _, fields, doc_conf = extraction
    docs = {r.url: r for r in doc_conf.collect()}
    got: dict[tuple, object] = {}
    for r in fields.collect():
        got[(r.url, r.FieldName)] = r

    for url, words in oracle_docs.items():
        entities = ref_rules.extract_entities_ref(words, ENTITY_CLASSES)
        expected = ref_rules.consolidate_ref(entities, CFG_ROWS)
        for name, ef in expected["Fields"].items():
            a = got[(url, name)]
            assert a.ClassId == ef["ClassId"]
            assert a.NumDetections == ef["NumDetections"], (url, name)
            assert a.NumDetectedValues == ef["NumDetectedValues"], (url, name)
            assert a.SortOrder == ef["SortOrder"], (url, name)
            assert math.isclose(a.Confidence, ef["Confidence"],
                                rel_tol=1e-9, abs_tol=1e-12), (url, name)
            if "Value" in ef:
                assert a.Value == ef["Value"], (url, name)
            if "Values" in ef:
                av = [(v.Value, v.Confidence) for v in (a.Values or [])]
                ev = [(v["Value"], v["Confidence"]) for v in ef["Values"]]
                assert [x[0] for x in av] == [x[0] for x in ev], (url, name)
                for (_, ac), (_, ec) in zip(av, ev):
                    assert math.isclose(ac, ec, rel_tol=1e-9, abs_tol=1e-12)
        # E12 doc confidence
        dc = docs[url]
        if expected["Confidence"] is None:
            assert dc.Confidence is None
        else:
            assert math.isclose(dc.Confidence, expected["Confidence"],
                                rel_tol=1e-9, abs_tol=1e-12), url
            assert dc.needs_human_review == (expected["Confidence"] < 0.5)


def test_noisy_or_fixture(spark):
    """main.py:106 worked example: {0.84,0.86,0.90} → 0.997760."""
    from amazon_textract_transformer_pipeline_spark.operators.consolidate import (
        value_consolidation,
    )

    df = spark.createDataFrame(
        [("u", 1, "v", c, i) for i, c in enumerate([0.84, 0.86, 0.90])],
        "url string, ClassId int, Text string, Confidence double, ixe int",
    )
    row = value_consolidation(df).collect()[0]
    assert math.isclose(row.value_conf_raw, 1 - 0.16 * 0.14 * 0.10, rel_tol=1e-12)
    # single value → normalized by max(1.0, 0.99776) = 1.0 → unchanged
    assert math.isclose(row.value_conf, 0.99776, rel_tol=1e-12)


def _mini_words(spark, rows):
    """rows: (url, page, pos, line, text, conf, cls, pcc)"""
    data = [
        (u, p, pos, ln, t, float(c), f"id{u}{p}{pos}",
         {"left": 0.1, "top": 0.1, "width": 0.1, "height": 0.1},
         cls, float(pcc))
        for (u, p, pos, ln, t, c, cls, pcc) in rows
    ]
    return spark.createDataFrame(
        data,
        "url string, page_num int, word_pos int, line_id int, text string, "
        "conf double, word_id string, "
        "box struct<left:double,top:double,width:double,height:double>, "
        "pred_cls int, pcc double",
    )


def test_trailing_run_dropped_and_flush_page(spark):
    """extract.py quirks: the doc's final run is never flushed; PageNum is
    the flushing word's page."""
    cfg = field_config_df(spark, [{"ClassId": 1, "Name": "A"},
                                  {"ClassId": 2, "Name": "B"}])
    rows = [
        # page 1: class-1 run of 2 words ending at page boundary
        ("u1", 1, 0, 0, "a1", 99.0, 1, 0.9),
        ("u1", 1, 1, 0, "a2", 99.0, 1, 0.8),
        # page 2: class-2 run — flushes the class-1 run with PageNum=2,
        # and itself is trailing → dropped
        ("u1", 2, 0, 0, "b1", 99.0, 2, 0.7),
        ("u1", 2, 1, 0, "b2", 99.0, 2, 0.7),
    ]
    got = extract_mentions(_mini_words(spark, rows), cfg).collect()
    assert len(got) == 1
    m = got[0]
    assert m.ClassId == 1
    assert m.Text == "a1 a2"
    assert m.PageNum == 2  # page of the flushing word, not of the run
    assert math.isclose(m.Confidence, 0.8)


def test_none_runs_merge_and_line_breaks(spark):
    """Unconfigured classes collapse to one None run; mention text uses
    '\\n' across lines ('  ' never appears)."""
    cfg = field_config_df(spark, [{"ClassId": 1, "Name": "A"}])
    rows = [
        ("u1", 1, 0, 0, "x", 99.0, 5, 0.9),   # other
        ("u1", 1, 1, 0, "y", 99.0, 7, 0.9),   # other (diff raw cls, same None)
        ("u1", 1, 2, 0, "a1", 99.0, 1, 0.9),  # class A, line 0
        ("u1", 1, 3, 1, "a2", 99.0, 1, 0.85),  # class A, line 1
        ("u1", 1, 4, 1, "z", 99.0, 9, 0.9),   # other → flushes A
    ]
    got = extract_mentions(_mini_words(spark, rows), cfg).collect()
    assert len(got) == 1
    assert got[0].Text == "a1\na2"
    assert got[0].ixe == 0


def _kernel_words(rows):
    """rows as in _mini_words → the kernel's word tuples."""
    return [(p, ln, t, float(c), f"id{u}{p}{pos}", 0.1, 0.1, 0.1, 0.1,
             cls, float(pcc))
            for (u, p, pos, ln, t, c, cls, pcc) in rows]


def test_kernel_trailing_run_flush_page_and_run_ids():
    """The kernel keeps the relational quirks: trailing run dropped,
    PageNum of the flushing word, and run_id counting the first word as a
    change when its class is configured."""
    rows = [
        ("u1", 1, 0, 0, "a1", 99.0, 1, 0.9),
        ("u1", 1, 1, 0, "a2", 99.0, 1, 0.8),
        ("u1", 2, 0, 0, "b1", 99.0, 2, 0.7),
        ("u1", 2, 1, 0, "b2", 99.0, 2, 0.7),
    ]
    got = mentions_of(_kernel_words(rows), {1: "A", 2: "B"})
    assert [(m["run_id"], m["ClassId"], m["Text"], m["PageNum"])
            for m in got] == [(1, 1, "a1 a2", 2)]
    assert math.isclose(got[0]["Confidence"], 0.8)
    # an unconfigured first word is no change: the class-1 run is run 1
    rows = [("u1", 1, 0, 0, "x", 99.0, 5, 0.9)] + rows[:2] + [
        ("u1", 1, 2, 1, "z", 99.0, 9, 0.9)]
    got = mentions_of(_kernel_words(rows), {1: "A"})
    assert [(m["run_id"], m["Text"], m["ixe"]) for m in got] == [
        (1, "a1 a2", 0)]


def test_kernel_noisy_or_fixture_and_saturation():
    """main.py:106 worked example, and the max c >= 1 rule that the log
    sum cannot express."""
    cfg = field_config_rows([{"ClassId": 1, "Name": "A"}])
    ms = [{"ClassId": 1, "Text": "v", "Confidence": c, "ixe": i}
          for i, c in enumerate([0.84, 0.86, 0.90])]
    (f,) = fields_of(ms, cfg)
    assert math.isclose(f["Confidence"], 1 - 0.16 * 0.14 * 0.10,
                        rel_tol=1e-12)
    assert (f["NumDetections"], f["NumDetectedValues"]) == (3, 1)
    ms.append({"ClassId": 1, "Text": "v", "Confidence": 1.0, "ixe": 3})
    (f,) = fields_of(ms, cfg)
    assert f["Confidence"] == 1.0
