"""Adversarial cross-engine parity for winnowing fingerprints: the
Spark OPERATOR output must equal its DuckDB oracle builder on hostile
strings the synthetic gate corpora never produce (emoji / astral plane,
quotes, backslashes, CRLF, empties, ties)."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

from amazon_textract_transformer_pipeline_spark.operators import dedup

CRAFTED = [
    "",
    " ",
    "a",
    "aaaa aaaa aaa",                      # symbol runs / within-word ties
    'quote " and back\\slash words',
    "line one\r\nline two\ttabbed",
    "café naïve 日本語 😀😀 emoji twins",
    "😀a😀a😀 astral run",
    "same same same same words repeat",
    "The quick brown fox jumps over the lazy dog",
    "MiXeD CaSe WoRdS MIXED mixed",
    "ünïcödé wörds ärü ökö étude étude",
]


@pytest.fixture(scope="module")
def adv(spark):
    pdf = pd.DataFrame({"doc_id": range(len(CRAFTED)), "text": CRAFTED})
    sdf = spark.createDataFrame(pdf)
    con = duckdb.connect()
    con.register("adv_docs", pdf)
    return sdf, con


def test_winnow_parity_adversarial(adv):
    sdf, con = adv
    got = {(r.doc_id, r.pos, r.fp)
           for r in dedup.winnow_fingerprints(sdf, k=3, w=3).collect()}
    want = {(r[0], r[1], r[2]) for r in con.sql(
        dedup.winnow_oracle_sql("SELECT doc_id, text FROM adv_docs",
                                k=3, w=3)).fetchall()}
    assert got == want and want  # non-empty and identical

