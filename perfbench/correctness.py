"""Per-document output checks against the generator's oracle."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def doc_violations(oracle: DataFrame, texts: DataFrame, fields: DataFrame,
                   n_fields: int) -> tuple[int, int]:
    """Return ``(attempted, failed)`` over the documents of ``oracle``.

    ``oracle`` holds ``(url, text)``, ``texts`` the program's
    ``(url, extracted_text)`` and ``fields`` its ``(url, ClassId)`` rows. A
    document fails when it has no text row or more than one, when its text
    is not byte-identical to the oracle's, or when it lacks exactly one field
    row for each of the ``n_fields`` configured (non-ignored) fields.
    """
    per_text = texts.groupBy("url").agg(
        F.count("*").alias("n_text"),
        F.first("extracted_text").alias("extracted_text"))
    per_field = fields.groupBy("url").agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("ClassId").alias("n_classes"))
    bad = (
        F.coalesce(F.col("n_text"), F.lit(0)) != 1
    ) | ~F.col("extracted_text").eqNullSafe(F.col("text")) | (
        F.coalesce(F.col("n_rows"), F.lit(0)) != n_fields
    ) | (F.coalesce(F.col("n_classes"), F.lit(0)) != n_fields)
    row = (
        oracle.select("url", "text")
        .join(per_text, "url", "left")
        .join(per_field, "url", "left")
        .agg(F.count("*").alias("attempted"),
             F.sum(bad.cast("int")).alias("failed"))
        .first()
    )
    return int(row["attempted"]), int(row["failed"] or 0)
