"""Corpus-composition operators: mixture/temperature sampling, DSIR
importance scoring and sequence packing."""

from __future__ import annotations

import hashlib

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from amazon_textract_transformer_pipeline_spark.operators.sampling import (
    DSIR_BASE_PPM,
    DSIR_MIN_PPM,
    PPM,
    importance_exprs,
    mixture_sample,
    temperature_rates,
    with_importance,
)


def _py_hash_ppm(key: str) -> int:
    """Python replay of the portable salted hash (md5 15-hex prefix)."""
    return int(hashlib.md5(key.encode()).hexdigest()[:15], 16) % PPM


# ---------------------------------------------------------------------------
# mixture sampling
# ---------------------------------------------------------------------------

RATES = [("up", 2_300_000), ("half", 500_000), ("off", 0), ("one", PPM)]


@pytest.fixture(scope="module")
def mixed(spark):
    docs = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.expr("element_at(array('up','half','off','one','missing'), "
               "cast(id % 5 as int) + 1)").alias("source"))
    rates = spark.createDataFrame(RATES, "source string, rate_ppm long")
    return mixture_sample(docs, rates).toPandas()


def test_mixture_excluded_source_vanishes(mixed):
    assert (mixed.source == "off").sum() == 0


def test_mixture_default_rate_for_missing_source(mixed):
    m = mixed[mixed.source == "missing"]
    assert (m.rate_ppm == PPM).all()
    assert (m.n_copies == 1).all()
    assert set(m.doc_id) == {i for i in range(200) if i % 5 == 4}


def test_mixture_upsampling_epochs_exact(mixed):
    """rate 2.3e6 → every doc 2 copies + a third iff hash < 300000 —
    replayed bit-for-bit in Python."""
    up = mixed[mixed.source == "up"]
    got = up.groupby("doc_id").size().to_dict()
    for i in range(0, 200, 5):
        want = 2 + (1 if _py_hash_ppm(f"{i}:mix") < 300_000 else 0)
        assert got[i] == want, i
    # copy_ix enumerates 1..n per doc
    assert (up.groupby("doc_id").copy_ix.max() == up.groupby("doc_id").size()).all()
    assert (up.groupby("doc_id").copy_ix.min() == 1).all()


def test_mixture_downsampling_exact(mixed):
    half = mixed[mixed.source == "half"]
    kept = set(half.doc_id)
    for i in range(1, 200, 5):
        assert (i in kept) == (_py_hash_ppm(f"{i}:mix") < 500_000), i
    assert (half.n_copies == 1).all()


def test_mixture_broadcasts_rate_dim(spark):
    docs = spark.range(50).select(
        F.col("id").alias("doc_id"), F.lit("one").alias("source"))
    rates = spark.createDataFrame(RATES, "source string, rate_ppm long")
    plan = mixture_sample(docs, rates)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoop" in plan


def test_temperature_tau1_is_identity(spark):
    docs = spark.range(100).select(
        F.expr("CASE WHEN id < 90 THEN 'big' ELSE 'small' END").alias("source"))
    rates = {r["source"]: r["rate_ppm"]
             for r in temperature_rates(docs, tau=1.0).collect()}
    assert rates == {"big": PPM, "small": PPM}


def test_temperature_flattens_and_preserves_size(spark):
    docs = spark.range(1000).select(
        F.expr("CASE WHEN id < 900 THEN 'big' ELSE 'small' END").alias("source"))
    rates = {r["source"]: r["rate_ppm"]
             for r in temperature_rates(docs, tau=2.0).collect()}
    # flattening: the minority source is upsampled, the majority trimmed
    assert rates["small"] > PPM > rates["big"]
    # expected output size ≈ input size (integer-ppm rounding only)
    expected = 900 * rates["big"] + 100 * rates["small"]
    assert abs(expected / PPM - 1000) < 1


# ---------------------------------------------------------------------------
# DSIR importance
# ---------------------------------------------------------------------------

def test_dsir_score_and_clamps(spark):
    rows = [
        (0, "The university was founded during the century however "
            "it was the university that kept history alive. " * 20),
        (1, "Click buy free subscribe login cookie !!! $ " * 30),
        (2, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in with_importance(df).collect()}
    assert out[0]["dsir_score_milli"] > 0
    assert out[0]["dsir_accept_ppm"] == PPM          # ceil clamp
    assert out[1]["dsir_score_milli"] < 0
    assert out[1]["dsir_accept_ppm"] == DSIR_MIN_PPM  # floor clamp
    assert out[2]["dsir_score_milli"] == 0
    assert out[2]["dsir_accept_ppm"] == DSIR_BASE_PPM
    # the verdict replays the salted hash exactly
    for i in (0, 1, 2):
        want = _py_hash_ppm(f"{i}:dsir") < out[i]["dsir_accept_ppm"]
        assert out[i]["dsir_sampled"] == want


def test_dsir_gram_counting_is_word_boundary_aware(spark):
    # 'which' inside 'sandwiches' must not count; line breaks count as
    # spaces so grams match across newlines
    df = spark.createDataFrame(
        [(0, "sandwiches everywhere"), (1, "wondering\nwhich\nway")],
        "doc_id long, text string")
    out = {r["doc_id"]: r["dsir_score_milli"]
           for r in with_importance(df).collect()}
    assert out[0] == 0
    assert out[1] == 700  # one ' which ' hit


# ---------------------------------------------------------------------------
# cross-engine parity fuzz (the trim/NBSP lessons applied)
# ---------------------------------------------------------------------------

def test_sampling_exprs_parity_adversarial(spark):
    crafted = [
        "", " ", "\n", "\n\n\n", "a\na\na", "a \na\na ",
        " \n \nreal line\nreal line",   # NBSP-only lines
        "tab\t\ntab\t\nx", "mixed 'quotes' \"here\"\nmixed 'quotes' \"here\"",
        "the university during which century however!!!",
        "click... free $ subscribe\nclick... free $ subscribe",
        "sandwiches which\nwhich sandwiches", "日本語\n日本語\ncafé",
        "back\\slash\nback\\slash", "a" * 300 + "\n" + "a" * 300,
    ]
    pdf_in = pd.DataFrame({"doc_id": range(len(crafted)), "text": crafted})
    spark.createDataFrame(pdf_in).createOrReplaceTempView("adv_samp")
    con = duckdb.connect()
    con.register("adv_samp", pdf_in)
    for builder in (importance_exprs,):
        se = builder("text", "spark")
        de = builder("text", "duck")
        ssel = ", ".join(f"{x} AS {k}" for k, x in se.items())
        dsel = ", ".join(f"{x} AS {k}" for k, x in de.items())
        sp = (spark.sql(f"SELECT doc_id, {ssel} FROM adv_samp")
              .toPandas().sort_values("doc_id").reset_index(drop=True))
        du = (con.execute(f"SELECT doc_id, {dsel} FROM adv_samp ORDER BY doc_id")
              .df().reset_index(drop=True))
        for c in sp.columns:
            assert sp[c].astype(object).equals(du[c].astype(object)), \
                (builder.__name__, c)


# ---------------------------------------------------------------------------
# sequence packing
# ---------------------------------------------------------------------------

def test_pack_sequences_invariants(spark):
    from amazon_textract_transformer_pipeline_spark.operators.sampling import (
        pack_sequences,
    )

    docs = spark.range(300).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 37 + 1).cast("bigint").alias("n_tokens"))
    out = pack_sequences(docs, budget=64, n_buckets=4).toPandas()
    assert len(out) == 300
    assert set(out.bucket) <= {0, 1, 2, 3}
    # within a bucket, offsets are the running sum in (_hash, id) order —
    # i.e. sorted by offset, each doc starts where the previous ended
    for b, g in out.groupby("bucket"):
        g = g.sort_values("pack_offset")
        ends = (g.pack_offset + g.n_tokens).shift(1).fillna(0)
        assert (g.pack_offset == ends).all()
    assert (out.pack_ix == out.pack_offset // 64).all()
    assert (out.offset_in_pack == out.pack_offset % 64).all()
    assert (out.spans_packs == ((out.pack_offset + out.n_tokens - 1) // 64
                                > out.pack_ix)).all()
    # global pack ids never collide across buckets
    assert (out.pack_id == out.bucket * 2**32 + out.pack_ix).all()


def test_pack_sequences_single_shuffle(spark):
    from amazon_textract_transformer_pipeline_spark.operators.sampling import (
        pack_sequences,
    )

    docs = spark.range(100).select(
        F.col("id").alias("doc_id"), F.lit(10).cast("bigint").alias("n_tokens"))
    plan = pack_sequences(docs)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1


def test_pack_sequences_deterministic(spark):
    from amazon_textract_transformer_pipeline_spark.operators.sampling import (
        pack_sequences,
    )

    docs = spark.range(200).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 11 + 1).cast("bigint").alias("n_tokens"))
    a = pack_sequences(docs, budget=32, n_buckets=2).toPandas() \
        .sort_values("doc_id").reset_index(drop=True)
    b = pack_sequences(docs.repartition(7), budget=32, n_buckets=2) \
        .toPandas().sort_values("doc_id").reset_index(drop=True)
    assert a.equals(b)  # layout independent of input partitioning
