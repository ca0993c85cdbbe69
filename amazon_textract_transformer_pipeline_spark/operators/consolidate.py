"""Field consolidation E7-E13 (SURVEY §2.8) — fn-postprocess/main.py:84-180
re-expressed as groupBy + window aggregations.

Semantics (pinned against the reference, quirks included):

* Values = mentions of a field grouped by **exact text** (main.py:90-101),
  tracking first/last detection index (``ixe``, doc order within field).
* Value confidence = noisy-OR ``1 − ∏(1 − conf_i)`` (main.py:103-111),
  then sum-normalized by ``max(1.0, Σ)`` across the field's values
  (main.py:113-115).
* Single-valued fields pick a winner by the configured selector
  (util/config.py:23-28); Python's ``sorted`` is stable, so ties keep
  dict-insertion order = first-detection order → our ``row_number`` orders
  by (key, ix_first) to reproduce it exactly. Missing value → ``""`` with
  confidence 0.0 (main.py:145-147).
* Multi-valued fields pass all values sorted by confidence desc (same
  stable tie-break); field confidence = mean value confidence
  (main.py:148-171), 0.0 when empty.
* Every non-ignored configured field appears in the result even with zero
  detections (main.py:85,117-126); SortOrder = position among non-ignored
  configs.
* Doc confidence = min over fields excluding zero-confidence Optional ones
  (main.py:173-179). Divergence: when *all* fields are excluded the
  reference raises ValueError on min(); we emit NULL.

FP determinism: the noisy-OR is computed as ``1 − exp(Σ log1p(−conf))``;
detections are summed in a fixed (ixe) order is NOT guaranteed by Spark agg,
but log-sum is order-insensitive to ~1 ulp; tests compare at 1e-9.

Which path serves what: the extraction pipeline consolidates per document
in ``operators/fused.py`` (``fields_of``, ``doc_confidence_of``; the sum
there runs in detection order). The groupBy operators here are the
relational reference it is tested against; :func:`value_consolidation`
also serves the ``field_values`` driver query over the kernel's mentions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def value_consolidation(mentions: DataFrame) -> DataFrame:
    """E7-E9: mention relation → value relation (url, ClassId, Text grain)."""
    vals = (
        mentions.groupBy("url", "ClassId", "Text")
        .agg(
            F.count("*").alias("n_detections"),
            F.min("ixe").alias("ix_first"),
            F.max("ixe").alias("ix_last"),
            F.max("Confidence").alias("_maxc"),
            F.sum(F.log1p(-F.col("Confidence"))).alias("_slog"),
        )
        .withColumn(
            "value_conf_raw",
            F.when(F.col("_maxc") >= 1.0, F.lit(1.0)).otherwise(
                F.lit(1.0) - F.exp(F.col("_slog"))
            ),
        )
    )
    norm_w = Window.partitionBy("url", "ClassId")
    return vals.withColumn(
        "value_conf",
        F.col("value_conf_raw")
        / F.greatest(F.lit(1.0), F.sum("value_conf_raw").over(norm_w)),
    ).drop("_maxc", "_slog")


def _selector_key(select_col: str = "Select"):
    """Primary sort key per FieldSelectionMethods (config.py:23-28); ties
    break by ix_first asc (Python stable-sort reproduction)."""
    s = F.col(select_col)
    return (
        F.when(s == "confidence", -F.col("value_conf"))
        .when(s == "first", F.col("ix_first").cast("double"))
        .when(s == "last", -F.col("ix_last").cast("double"))
        .when(s == "longest", -F.length("Text").cast("double"))
        .when(s == "shortest", F.length("Text").cast("double"))
    )


def consolidate_fields(mentions: DataFrame, config_df: DataFrame,
                       urls: DataFrame) -> DataFrame:
    """E7-E13: mentions + config + doc universe → one row per (url, field).

    ``urls``: single-column DataFrame of all document urls (fields exist
    even for docs with zero mentions). ``config_df`` is broadcast — the only
    join against the big side is on url.
    """
    cfg = (
        config_df.filter(~F.coalesce("Ignore", F.lit(False)))
        .select("ClassId", "Name", "Optional", "Select", "SortOrder")
    )
    values = value_consolidation(mentions)

    # ONE aggregation computes the E10 winner (min_by over the selector key —
    # stable-sort tie-break via (key, ix_first) struct ordering), the E11
    # multi-value list, and the field counters. The previous shape (window +
    # two groupBys + three joins) cost 4 extra shuffles of the same rows.
    vals_cfg = values.join(F.broadcast(cfg.select("ClassId", "Select")), "ClassId")
    agg = (
        vals_cfg.groupBy("url", "ClassId")
        .agg(
            F.min_by(
                F.struct(F.col("Text").alias("t"), F.col("value_conf").alias("c")),
                F.struct(F.coalesce(_selector_key(), F.lit(0.0)).alias("k"),
                         F.col("ix_first").alias("i")),
            ).alias("win"),
            F.expr(
                "transform(array_sort(collect_list(struct(-value_conf as nc, "
                "ix_first, Text as v, value_conf as c))), "
                "s -> struct(s.v as Value, s.c as Confidence))"
            ).alias("values_list"),
            F.avg("value_conf").alias("multi_conf"),
            F.sum("n_detections").alias("n_detections_f"),
            F.count("*").alias("n_values_f"),  # values = distinct texts by grain
        )
        .select(
            "url", "ClassId",
            F.col("win.t").alias("win_value"), F.col("win.c").alias("win_conf"),
            "values_list", "multi_conf", "n_detections_f", "n_values_f",
        )
    )

    base = urls.select("url").distinct().crossJoin(F.broadcast(cfg))
    out = (
        base.join(agg, ["url", "ClassId"], "left")
        .select(
            "url",
            "ClassId",
            F.col("Name").alias("FieldName"),
            "SortOrder",
            "Optional",
            F.coalesce("n_detections_f", F.lit(0)).alias("NumDetections"),
            F.coalesce("n_values_f", F.lit(0)).alias("NumDetectedValues"),
            # Select fields: winner text or "" (main.py:145-147); multi: null
            F.when(F.col("Select").isNotNull(),
                   F.coalesce("win_value", F.lit(""))).alias("Value"),
            F.col("values_list").alias("Values"),
            F.when(F.col("Select").isNotNull(), F.coalesce("win_conf", F.lit(0.0)))
            .otherwise(F.coalesce("multi_conf", F.lit(0.0)))
            .alias("Confidence"),
        )
    )
    return out


def doc_confidence(fields: DataFrame) -> DataFrame:
    """E12: doc confidence = min field confidence, excluding zero-confidence
    Optional fields (main.py:173-179). Routing flag mirrors the ≥0.5 human-
    review gate (pipeline/__init__.py:292-300)."""
    keep = ~((F.col("Confidence") == 0.0) & F.coalesce("Optional", F.lit(False)))
    return (
        fields.groupBy("url")
        .agg(F.min(F.when(keep, F.col("Confidence"))).alias("Confidence"))
        .withColumn("needs_human_review",
                    ~(F.col("Confidence") >= 0.5) | F.col("Confidence").isNull())
    )
