"""Cross-engine parity: the textsql word/shingle/similarity builders must
produce identical values on Spark and DuckDB, over the real driver
documents and embeddings tables."""

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
