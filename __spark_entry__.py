"""Driver contract for the spark-graft builder (PySpark target).

``entry`` runs the flagship extraction end-to-end on sf0.001; ``queries``
exposes one callable per implemented operator family (SURVEY.md §2) over the
driver's parquet tables; ``oracle_sql`` gives the DuckDB recomputation of
each SQL-expressible query (built in
amazon_textract_transformer_pipeline_spark/oracle.py from the same layout
constants and portable-hash stubs as the Spark side). Every query has an exact-value
oracle: the Q2 splitter (greedy window fill with backfill) via a recursive
CTE; PDF metadata and PDF text against the closed-form spec of the
deterministic PDF generator; the charset front-end's text against one
closed-form string per document.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, str(Path(__file__).resolve().parent))

from amazon_textract_transformer_pipeline_spark import driver_queries as Q  # noqa: E402
from amazon_textract_transformer_pipeline_spark import oracle as O  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full HTML front-end + byte-identical text assembly over the
    sf0.001 documents table (rendered to pages via the bridge)."""
    return Q.q_extract_text(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # --- PDF front-end
        "pdf_metadata": Q.q_pdf_metadata,
        "pdf_extract": Q.q_pdf_extract,
        # --- extraction path
        "extract_text": Q.q_extract_text,
        "word_enrichment": Q.q_word_enrichment,
        "entity_mentions": Q.q_entity_mentions,
        "field_values": Q.q_field_values,
        "fields": Q.q_fields,
        "doc_confidence": Q.q_doc_confidence,
        "apply_review": Q.q_apply_review,
        # --- splitter over the spread bridge
        "split_windows": Q.q_split_windows,
        # --- per-page language ID
        "langid_scores": Q.q_langid_scores,
        # --- charset front-end
        "charset_extract": Q.q_charset_extract,
    }


def oracle_sql() -> dict[str, str]:
    sqls: dict[str, str] = {
        "extract_text": O.extract_text_oracle(),
        "word_enrichment": O.word_enrichment_oracle(),
        "entity_mentions": O.mentions_oracle(),
        "field_values": O.field_values_oracle(),
        "fields": O.fields_oracle(),
        "doc_confidence": O.doc_confidence_oracle(),
        "apply_review": O.apply_review_oracle(),
    }

    # langid_scores oracle: score columns projected once in a CTE, argmax
    # CASE over the column names (inlining scores into the CASE would
    # recompute each k× textually on DuckDB)
    from amazon_textract_transformer_pipeline_spark.operators.langid import (
        LANGID2_ORDER,
        langid_argmax_case,
        langid_score_exprs,
    )
    lsel = ", ".join(f"{x} AS {k}"
                     for k, x in langid_score_exprs("text", "duck").items())
    score_cols = ", ".join(f"score_{lg}" for lg in LANGID2_ORDER)
    sqls["langid_scores"] = f"""
WITH s AS MATERIALIZED (
  SELECT doc_id, {lsel} FROM documents
)
SELECT doc_id, {score_cols},
       {langid_argmax_case()} AS lang_pred
FROM s"""

    # pdf oracles: the synthetic PDF corpus (synthetic.synth_pdf_df) is a
    # closed-form function of media_id — dims 300+(i%5)*60 × 400+(i%4)*80,
    # 1+i%4 pages, 1+(i+p)%3 lines of 'doc i page p line j tokK' — so the
    # whole native parser (xref tables/streams/predictors/ObjStm, page
    # tree, content-stream interpreter, assembly) verifies against the
    # spec, not against itself.
    sqls["pdf_metadata"] = """
SELECT i AS media_id,
       cast(300 + (i % 5) * 60 AS int) AS width,
       cast(400 + (i % 4) * 80 AS int) AS height,
       cast(1 + i % 4 AS int) AS n_pages,
       (i % 8) IN (3, 7) AS encrypted,
       true AS valid
FROM range(0, 120) t(i)"""

    sqls["pdf_extract"] = """
WITH pages AS (
  SELECT i, p FROM range(0, 120) t(i), range(0, 4) pr(p)
  WHERE p < 1 + i % 4),
lines AS (
  SELECT i, p, j FROM pages, range(0, 3) lr(j)
  WHERE j < 1 + (i + p) % 3)
SELECT 'pdf://' || i AS url,
       cast(1 + i % 4 AS int) AS n_pages,
       string_agg('doc ' || i || ' page ' || p || ' line ' || j ||
                  ' tok' || ((i*7 + p*3 + j) % 100) || ' café',
                  chr(10) ORDER BY p, j) AS extracted_text
FROM lines GROUP BY i"""

    # charset_extract oracle: the decode ladder is what's under test — all
    # five encoding variants of doc i must yield the identical Unicode
    # text, so the oracle is encoding-independent and closed-form.
    sqls["charset_extract"] = """
SELECT 'cs://' || i AS url,
       'doc ' || i || ' café naïve öl' AS extracted_text
FROM range(0, 120) t(i)"""

    # split_windows oracle: recursive-CTE replay of the greedy splitter
    # (oracle.py::split_windows_oracle) — was rows-only in round 1
    sqls["split_windows"] = O.split_windows_oracle(24)

    return sqls
