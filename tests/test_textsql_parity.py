"""Cross-engine parity: the textsql word/shingle/similarity builders and the
quality, repetition and C4 expression builders must produce identical
values on Spark and DuckDB, over the real driver documents and embeddings
tables and adversarial strings."""

from __future__ import annotations

import duckdb
import pytest

from amazon_textract_transformer_pipeline_spark.functions import textsql as X

DOCS = "/root/testdata/sf0.001/documents.parquet"
EMBEDDINGS = "/root/testdata/sf0.001/embeddings.parquet"


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{DOCS}'")
    con.sql(f"CREATE VIEW embeddings AS SELECT * FROM '{EMBEDDINGS}'")
    return con


@pytest.fixture(scope="module")
def sdocs(spark):
    spark.read.parquet(DOCS).createOrReplaceTempView("documents")
    spark.read.parquet(EMBEDDINGS).createOrReplaceTempView("embeddings")
    return spark


def _compare(sdocs, duck, spark_expr, duck_expr, table="documents",
             key="doc_id", limit=200):
    s = {r[0]: r[1] for r in sdocs.sql(
        f"SELECT {key}, {spark_expr} AS v FROM {table} ORDER BY {key} LIMIT {limit}"
    ).collect()}
    d = {r[0]: r[1] for r in duck.sql(
        f"SELECT {key}, {duck_expr} AS v FROM {table} ORDER BY {key} LIMIT {limit}"
    ).fetchall()}
    assert len(s) == len(d) > 0
    for k in s:
        sv, dv = s[k], d[k]
        if isinstance(sv, float):
            assert abs(sv - dv) < 1e-9, (k, sv, dv)
        elif isinstance(sv, list):
            assert list(sv) == list(dv), (k, sv, dv)
        else:
            assert sv == dv, (k, sv, dv)


def test_words_parity(sdocs, duck):
    _compare(sdocs, duck, X.words("text", "spark"), X.words("text", "duck"))


def test_norm_text_parity(sdocs, duck):
    _compare(sdocs, duck, X.norm_text("text", "spark"), X.norm_text("text", "duck"))


def test_shingles_parity(sdocs, duck):
    for n in (2, 3):
        _compare(sdocs, duck,
                 X.shingles(X.words("text", "spark"), n, "spark"),
                 X.shingles(X.words("text", "duck"), n, "duck"))


def test_shingles_short_text_fallback(sdocs, duck):
    _compare(sdocs, duck,
             X.shingles(X.words("'one two'", "spark"), 3, "spark"),
             X.shingles(X.words("'one two'", "duck"), 3, "duck"))


def test_jaccard_parity(sdocs, duck):
    # self-similarity: each document's shingle set against itself
    _compare(sdocs, duck,
             X.jaccard(X.words("text", "spark"), X.words("text", "spark"), 3, "spark"),
             X.jaccard(X.words("text", "duck"), X.words("text", "duck"), 3, "duck"),
             limit=30)


def test_cosine_parity(sdocs, duck):
    _compare(sdocs, duck,
             X.cosine("embedding", "embedding", "spark"),
             X.cosine("embedding", "embedding", "duck"),
             table="embeddings", key="vec_id", limit=60)


def test_quality_filter_exprs_parity_adversarial(spark):
    """Every gopher/repetition/C4 expression column agrees across engines
    on adversarial strings the synthetic corpus never produces — quotes,
    backslashes, CRLF, unicode, ellipsis spellings, braces, mixed-case
    'javascript', tabs, long tokens, empties."""
    import random

    import duckdb
    import pandas as pd

    from amazon_textract_transformer_pipeline_spark.operators.textstats import (
        c4_exprs,
        gopher_exprs,
        repetition_exprs,
    )

    rng = random.Random(7)
    crafted = [
        "", " ", "\t\t", "\n\n\n", "a", 'He said "stop now please today."',
        "back\\slash and 'quotes' everywhere.",
        "line one.\r\nline two with five words!\nline three?",
        "café naïve 日本語 Ωmega π≈3.14 emoji 😀 done.",
        "dots... and … both spellings of ellipsis...",
        "curly { brace } page body here.",
        "only a close brace } appears in this sentence today.",
        "only an open brace { appears in this sentence today.",
        "Please enable JavaScript to continue reading this.",
        "JAVASCRIPT required for this page to work properly.",
        "x" * 500 + " tiny.",
        "repeat me " * 40 + "end.",
        "- bullet one\n* bullet two\n• bullet three",
        "ends with quote \"",
        "tab\tseparated\twords\there\ttoo.",
        "ünïcödé wörds with ümläüts everywhere ärü ökö.",
        "mail a.b_c%d+e@sub.domain-x.co.uk and üser@host.org now.",
        "ips 10.0.0.1 999.999.999.999 1.2.3 256.300.1.2.3 done",
        "v6 fe80:a:b:1 2001:0db8:85a3:0:0:8a2e:0370:7334 ab:cd end",
        "call +1 (555) 123-4567 or 555.123.4567 or (555)1234567 x",
        "ids 12345678 123456789 98765432109876 and 123-45-6789.",
        "mixed user@10.0.0.1 and <EMAIL> token already here.",
        "phone-ish dates 2020 12 31 and 555 123 4567890 runs",
    ]
    vocab = ["the", "word.", "étude", "x!", "{", "…", "...", '"',
             "\\", "javascript", "Ok?", "12%", "a,b", " "]
    for _ in range(30):
        n = rng.randint(0, 40)
        sep = rng.choice([" ", "\n", "  ", " \n "])
        crafted.append(sep.join(rng.choice(vocab) for _ in range(n)))
    pdf_in = pd.DataFrame({"doc_id": range(len(crafted)), "text": crafted})
    spark.createDataFrame(pdf_in).createOrReplaceTempView("adv_docs")
    con = duckdb.connect()
    con.register("adv_docs", pdf_in)

    for builder in (gopher_exprs, repetition_exprs, c4_exprs):
        se = builder("text", "spark")
        de = builder("text", "duck")
        for col in se:
            s = {r[0]: r[1] for r in spark.sql(
                f"SELECT doc_id, {se[col]} AS v FROM adv_docs").collect()}
            d = {r[0]: r[1] for r in con.sql(
                f"SELECT doc_id, {de[col]} AS v FROM adv_docs").fetchall()}
            for k in s:
                sv, dv = s[k], d[k]
                if isinstance(sv, float):
                    assert dv is not None and abs(sv - dv) < 1e-9, \
                        (builder.__name__, col, k, sv, dv, crafted[k][:60])
                else:
                    assert sv == dv, \
                        (builder.__name__, col, k, sv, dv, crafted[k][:60])
