"""Spark-side implementations of the driver-gate queries (__spark_entry__).

Each callable takes (spark, sf_dir) and returns a DataFrame whose values are
bit-reproducible by the DuckDB oracle in oracle.py. Column names/aliases are
kept identical on both sides — the driver sorts columns by name before
value-hashing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .config import DEMO_CONFIG
from .functions import textsql as X
from .operators.assembly import assemble_text, pages_view, words_view
from .operators.consolidate import value_consolidation
from .operators.enrich import stub_predictions
from .operators.frontend import html_to_words
from .operators.fused import (
    document_fields,
    document_mentions,
    extract_documents,
)
from .operators.splitting import split_pages_to_window_bounds
from .sources.bridge import pages_from_documents
from .sources.synthetic import synth_pdf_df


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _doc_words(spark, sf_dir) -> DataFrame:
    return html_to_words(pages_from_documents(_docs(spark, sf_dir)))


def _enriched_words(spark, sf_dir) -> DataFrame:
    return stub_predictions(words_view(_doc_words(spark, sf_dir)))


def _documents(spark, sf_dir) -> DataFrame:
    """The pipeline's per-document kernel over the bridge pages."""
    return extract_documents(pages_from_documents(_docs(spark, sf_dir)),
                             DEMO_CONFIG, model="sql-stub")


def _mentions(spark, sf_dir) -> DataFrame:
    return document_mentions(_documents(spark, sf_dir))


# ---------------------------------------------------------------------------
# Extraction path (full front-end under the gate)
# ---------------------------------------------------------------------------
def q_extract_text(spark, sf_dir) -> DataFrame:
    return assemble_text(_doc_words(spark, sf_dir)).select(
        "url", "extracted_text", "n_pages")


def q_word_enrichment(spark, sf_dir) -> DataFrame:
    return _enriched_words(spark, sf_dir).select(
        "url", "page_num", "word_pos", "line_id", "text", "pred_cls", "pcc")


def q_entity_mentions(spark, sf_dir) -> DataFrame:
    return _mentions(spark, sf_dir).select(
        "url", F.col("run_id").cast("bigint").alias("run_id"),
        "ClassId", "ClassName", "Text", "PageNum", "Confidence", "ixe")


def q_field_values(spark, sf_dir) -> DataFrame:
    v = value_consolidation(_mentions(spark, sf_dir))
    return v.select(
        "url", "ClassId", "Text",
        F.col("n_detections").cast("bigint").alias("n_detections"),
        "ix_first", "ix_last",
        F.round("value_conf", 6).alias("value_conf"))


def q_fields(spark, sf_dir) -> DataFrame:
    f = document_fields(_documents(spark, sf_dir))
    return f.select(
        "url", "ClassId", "FieldName", "SortOrder",
        F.col("NumDetections").cast("bigint").alias("NumDetections"),
        F.col("NumDetectedValues").cast("bigint").alias("NumDetectedValues"),
        "Value", F.round("Confidence", 6).alias("Confidence"))


def q_apply_review(spark, sf_dir) -> DataFrame:
    """Human-review merge-back over the consolidated fields with a
    deterministic synthetic review set (same portable-hash construction as
    oracle.apply_review_oracle: h%3==0 rows are reviewed, h%4 picks
    presence-unchecked / exact-confirm / corrected-value / unanswered)."""
    from .operators.review import apply_review

    f = document_fields(_documents(spark, sf_dir))
    base = f.withColumn(
        "_h", F.expr(X.h64("concat(url, '|', FieldName)", "spark")))
    reviews = base.filter("_h % 3 = 0").select(
        "url", "FieldName",
        F.expr("_h % 4 <> 0").alias("present"),
        F.expr("CASE WHEN _h % 4 = 1 THEN Value "
               "WHEN _h % 4 = 2 THEN concat(Value, ' (corrected)') END")
        .alias("review_value"),
        F.lit(None).cast("array<string>").alias("review_values"),
    )
    merged = apply_review(f, reviews)
    return merged.select(
        "url", "ClassId", "FieldName", "SortOrder",
        F.col("NumDetections").cast("bigint").alias("NumDetections"),
        "Value", F.round("Confidence", 6).alias("Confidence"), "reviewed")


def q_doc_confidence(spark, sf_dir) -> DataFrame:
    return _documents(spark, sf_dir).select(
        "url", F.round("Confidence", 6).alias("Confidence"))


# ---------------------------------------------------------------------------
# Per-page language ID
# ---------------------------------------------------------------------------
def q_langid_scores(spark, sf_dir) -> DataFrame:
    """Scored language ID: per-language literal-gram linear scores +
    the argmax prediction, exact against the same plan-time-literal
    profile table in DuckDB. Map-side projection, zero shuffle."""
    from .operators.langid import with_langid

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    return with_langid(docs).drop("text")


# ---------------------------------------------------------------------------
# Splitter, PDF and charset front-ends
# ---------------------------------------------------------------------------
def q_split_windows(spark, sf_dir) -> DataFrame:
    pages = pages_view(_doc_words(spark, sf_dir))
    return split_pages_to_window_bounds(pages, max_content_seq_len=24)


def q_pdf_metadata(spark, sf_dir) -> DataFrame:
    """PDF structure metadata over the six-dialect synthetic corpus:
    page-1 MediaBox point dims + page count + encrypted flag via the
    native xref/page-tree walk (functions/pdf.py) — checked against the
    closed-form generator spec, so classic xref, xref streams, PNG
    predictors, and object streams all verify end-to-end. Map-only; a
    blob the parser rejects becomes a valid=false row."""
    import pandas as pd
    from pyspark.sql import types as T

    from .functions import pdf

    schema = T.StructType([
        T.StructField("media_id", T.LongType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("n_pages", T.IntegerType(), True),
        T.StructField("encrypted", T.BooleanType(), True),
        T.StructField("valid", T.BooleanType(), False),
    ])

    def run(batches):
        cols = [f.name for f in schema]
        for b in batches:
            rows = []
            for mid, blob in zip(b["media_id"], b["blob"]):
                try:
                    m = pdf.pdf_meta(bytes(blob))
                    p0 = m["pages"][0] if m["pages"] else None
                    rows.append({
                        "media_id": int(mid),
                        "width": round(p0["width_pt"]) if p0 else None,
                        "height": round(p0["height_pt"]) if p0 else None,
                        "n_pages": m["n_pages"],
                        "encrypted": m["encrypted"],
                        "valid": True})
                except Exception:
                    rows.append({"media_id": int(mid), "width": None,
                                 "height": None, "n_pages": None,
                                 "encrypted": None, "valid": False})
            yield pd.DataFrame(rows, columns=cols)

    return synth_pdf_df(spark, 120).mapInPandas(run, schema=schema)


def q_charset_extract(spark, sf_dir) -> DataFrame:
    """Charset-sniffing front-end over a mixed-encoding corpus: the same
    accented text served as plain UTF-8, BOM'd UTF-8 + meta, cp1252 +
    meta, BOM'd UTF-16-LE, and undeclared latin-1 (strict-UTF-8 probe
    fails → WHATWG cp1252 fallback). Every variant must extract the
    IDENTICAL Unicode text — the oracle is one closed-form string per
    doc, independent of encoding. Map-only, zero shuffle."""
    import pandas as pd
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("url", T.StringType(), False),
        T.StructField("html", T.BinaryType(), False),
    ])

    def gen(batches):
        for b in batches:
            rows = []
            for i in b["id"]:
                i = int(i)
                line = f"doc {i} café naïve öl"
                body = (f"<html><head>{{meta}}</head><body><article>"
                        f"<p>{line}</p></article></body></html>")
                v = i % 5
                if v == 0:
                    blob = body.format(meta="").encode("utf-8")
                elif v == 1:
                    blob = b"\xef\xbb\xbf" + body.format(
                        meta='<meta charset="utf-8">').encode("utf-8")
                elif v == 2:
                    blob = body.format(
                        meta='<meta charset="windows-1252">').encode("cp1252")
                elif v == 3:
                    blob = b"\xff\xfe" + body.format(meta="").encode("utf-16-le")
                else:
                    blob = body.format(meta="").encode("latin-1")
                rows.append({"url": f"cs://{i}", "html": blob})
            yield pd.DataFrame(rows)

    pages = spark.range(0, 120, 1, 8).mapInPandas(gen, schema=schema)
    return assemble_text(html_to_words(pages)).select("url", "extracted_text")


def q_pdf_extract(spark, sf_dir) -> DataFrame:
    """PDF → byte-identical text through the SAME extraction pipeline as
    HTML (frontend dispatch on the %PDF- magic → content-stream
    interpreter → identical assembly): the reference's D2 'PDF is just
    another document container' contract. Map-only, zero shuffle."""
    pdfs = synth_pdf_df(spark, 120).select(
        F.concat(F.lit("pdf://"), F.col("media_id")).alias("url"),
        F.col("blob").alias("html"))
    return assemble_text(html_to_words(pdfs)).select(
        "url", "n_pages", "extracted_text")
