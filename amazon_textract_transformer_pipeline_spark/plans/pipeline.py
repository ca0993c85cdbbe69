"""End-to-end extraction pipeline assembly (SURVEY §3.1, Spark restatement).

The reference's S3→Lambda→SFn→SageMaker→Lambda hops collapse into one Spark
plan with no shuffle and one Python map operator: scan → the per-document
kernel (``operators/fused.py``) → sinks. The kernel parses a document's
HTML or PDF bytes and computes its text, predictions, mentions, fields and
doc confidence in one Arrow call, since none of them depends on another
document (SURVEY §2.9). ``frontend.html_to_words`` + ``assembly`` (the
nested word view and its SQL text fold) and the relational operators
(``entities``, ``consolidate``, ``inference``, ``splitting``) do not serve
this path; they serve driver queries and stay as the reference the kernel is
tested against. Two model modes:

* ``model="sql-stub"`` — the md5 stub classifier, bit-identical to the
  portable SQL one the DuckDB oracles replay.
* ``model="window-stub"`` (default) — the full window pipeline per page:
  tokenize + split + per-window forward + cross-window averaging, i.e. the
  physical shape the real transformer runs in.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DEMO_CONFIG
from ..operators.fused import (
    document_fields,
    document_mentions,
    extract_documents,
)


@dataclass
class ExtractionResult:
    """``documents`` is the kernel's one row per document; every other
    frame is a projection or an ``explode`` of it."""

    documents: DataFrame
    extracted_text: DataFrame
    mentions: DataFrame
    fields: DataFrame
    doc_confidences: DataFrame

    def unpersist(self) -> None:
        """Release the persisted per-document frame. Long-running callers
        must call this after consuming the result or cached RDDs
        accumulate across calls."""
        self.documents.unpersist()


def extract_pipeline(
    pages: DataFrame,
    config: list[dict] | None = None,
    model: str = "window-stub",
) -> ExtractionResult:
    # every output reads the kernel's rows: persist them so that the text
    # and the fields sinks parse and run the model once
    docs = extract_documents(pages, config or DEMO_CONFIG, model).persist()
    return ExtractionResult(
        documents=docs,
        extracted_text=docs.select("url", "n_pages", "extracted_text"),
        mentions=document_mentions(docs),
        fields=document_fields(docs),
        doc_confidences=docs.select("url", "Confidence",
                                    "needs_human_review"),
    )


def extraction_stage_for_lineage(config: list[dict] | None = None):
    """stage_fn for LineageStore.run: bucketed pages → one row per url of
    text, doc confidence and review flag, sql-stub model. The kernel
    carries ``bucket`` through and the store's write is the frame's only
    consumer, so nothing is persisted or joined: scan → kernel → bucketed
    write is one Spark job."""
    def stage(bucketed_pages: DataFrame) -> DataFrame:
        return extract_documents(
            bucketed_pages, config or DEMO_CONFIG, model="sql-stub",
        ).select("url", "bucket", "n_pages", "extracted_text",
                 F.col("Confidence").alias("doc_confidence"),
                 "needs_human_review")
    return stage
