"""Entity-mention extraction E1-E6 (SURVEY §2.8) — the relational heart.

Rebuilds ``fn-postprocess/util/extract.py:93-131`` as window functions +
aggregations. Faithful semantics, including the reference's quirks (verified
against a rule-for-rule Python oracle in tests/ref_rules.py):

* Runs are *consecutive same-class words in document order*, spanning line
  and even page boundaries (extract.py:101-129 keeps ``current_cls`` across
  the page loop).
* Unconfigured / ignored classes collapse to None ("other"), and consecutive
  None words form one run (extract.py:107-109).
* A run only becomes a detection when a *later word with a different class
  flushes it* — a run reaching the last word of the document is silently
  dropped (extract.py has no final flush after the loops).
* A detection's PageNum is the page of the **flushing** word (extract.py:123
  reads ``ixpage`` at flush time), not of the run's own words.
* Mention confidence = min over words of min(PredictedClassConfidence,
  word Confidence) — mixing the 0-1 softmax scale with Textract's 0-100
  scale exactly as the reference does (extract.py:46-54).
* Text = words joined " " per line, lines joined "\\n" (extract.py:55-60).

Shuffle profile: one shuffle on url (window partition), then run-grain
groupBy reuses the same partitioning — Catalyst collapses it into a single
exchange. url is unique per doc → no skew.

Which path serves what: the extraction pipeline computes mentions per
document in ``operators/fused.py`` (``mentions_of``), without this shuffle.
:func:`extract_mentions` is the relational reference the kernel is tested
against (tests/test_entities.py); :func:`normalize_mentions` (E5-E6) runs
on either one's mention relation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Fold ordered (line_key, text) structs into "words ' '-joined per line,
# lines '\n'-joined" (E2). lk = page_num * 1e9 + line_id, orderable scalar.
_MENTION_TEXT_EXPR = """
aggregate(
  {items},
  struct(cast(-1 as bigint) as prev, cast('' as string) as acc),
  (s, it) -> struct(
      it.lk,
      CASE WHEN s.prev = -1 THEN it.text
           WHEN it.lk = s.prev THEN concat(s.acc, ' ', it.text)
           ELSE concat(s.acc, chr(10), it.text) END),
  s -> s.acc)
"""


def extract_mentions(enriched_words: DataFrame, config_df: DataFrame) -> DataFrame:
    """E1-E4: enriched word relation → mention relation.

    ``enriched_words``: url, page_num, word_pos, line_id, text, conf,
    word_id, box, pred_cls, pcc (from enrich.stub_predictions or the real
    model). ``config_df``: FIELD_CONFIG_SCHEMA; broadcast (tiny dim —
    SURVEY §4 "broadcast of the small field-config relation").
    """
    cfg = F.broadcast(
        config_df.filter(~F.coalesce("Ignore", F.lit(False)))
        .select(F.col("ClassId").alias("cfg_cls"))
    )
    w = (
        enriched_words.join(cfg, F.col("pred_cls") == F.col("cfg_cls"), "left")
        # cls_norm: None unless the class is configured & not ignored
        .withColumn("cls_norm", F.col("cfg_cls"))
        # fold the two confidence scales before the shuffle (extract.py:46-54)
        # and shed every column the window/agg don't need: the window sort is
        # the engine's hottest shuffle, row width is its cost
        .withColumn("wconf", F.least(F.coalesce("pcc", F.lit(1.0)), F.col("conf")))
        .select("url", "page_num", "word_pos", "line_id", "text", "word_id",
                "box", "cls_norm", "wconf")
    )

    # One window stage computes everything per-word: run ids (lag), and the
    # flushing word's page (lead at the run's last word). A run's mention
    # PageNum is the page of the word that flushes it — i.e. lead(page_num)
    # at the run boundary; the doc's trailing run has lead = NULL and is
    # thereby dropped, which is exactly the reference's missing final flush.
    # All window functions share one (partition, order) → a single exchange.
    order = Window.partitionBy("url").orderBy("page_num", "word_pos")
    w = (
        w.withColumn("gpos", F.row_number().over(order))
        .withColumn(
            "chg",
            F.when(
                ~F.col("cls_norm").eqNullSafe(F.lag("cls_norm").over(order)), 1
            ).otherwise(0),
        )
        .withColumn("run_id", F.sum("chg").over(
            order.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("_next_run", F.lead("run_id").over(order))
        .withColumn(
            "flush_page",
            F.when(F.col("_next_run") != F.col("run_id"),
                   F.lead("page_num").over(order)),
        )
    )
    # class names re-attach on the tiny mention relation post-agg (broadcast)
    # instead of riding every word through the window shuffle
    names = F.broadcast(
        config_df.filter(~F.coalesce("Ignore", F.lit(False)))
        .select("ClassId", F.col("Name").alias("ClassName"))
    )
    return _finish_mentions(w).join(names, "ClassId").select(
        "url", "run_id", "ClassId", "ClassName", "Confidence", "Blocks",
        "BoundingBox", "PageNum", "Text", "RawText", "ixe")


def _finish_mentions(w: DataFrame) -> DataFrame:
    runs = (
        w.filter(F.col("cls_norm").isNotNull())
        .groupBy("url", "run_id")
        .agg(
            F.first("cls_norm").alias("ClassId"),
            F.min("wconf").alias("Confidence"),
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("gpos").alias("g"),
                        (F.col("page_num").cast("bigint") * F.lit(1000000000)
                         + F.col("line_id")).alias("lk"),
                        F.col("text").alias("text"),
                        F.col("word_id").alias("word_id"),
                    )
                )
            ).alias("items"),
            F.min(F.col("box.left")).alias("_l"),
            F.min(F.col("box.top")).alias("_t"),
            F.max(F.col("box.left") + F.col("box.width")).alias("_r"),
            F.max(F.col("box.top") + F.col("box.height")).alias("_b"),
            F.max("flush_page").alias("PageNum"),
        )
    )
    out = (
        runs.filter(F.col("PageNum").isNotNull())  # trailing run never flushed
        .select(
            "url",
            "run_id",
            "ClassId",
            "Confidence",
            F.expr("transform(items, it -> it.word_id)").alias("Blocks"),
            F.struct(
                F.col("_l").alias("left"),
                F.col("_t").alias("top"),
                (F.col("_r") - F.col("_l")).alias("width"),
                (F.col("_b") - F.col("_t")).alias("height"),
            ).alias("BoundingBox"),
            "PageNum",
            F.expr(_MENTION_TEXT_EXPR.format(items="items")).alias("Text"),
            F.lit(None).cast("string").alias("RawText"),
        )
    )
    # ixe: the reference's per-field detection index (main.py:91, document
    # order within a class) — drives first/last selectors downstream.
    ix_w = Window.partitionBy("url", "ClassId").orderBy("run_id")
    return out.withColumn("ixe", F.row_number().over(ix_w) - 1)


def normalize_mentions(mentions: DataFrame, config_df: DataFrame,
                       normalizer) -> DataFrame:
    """E5-E6 (util/normalize.py:26-91): dedup normalization inputs per
    (endpoint, prompt+text), call the normalizer once per distinct input, fan
    results back; first normalize preserves raw_text.

    ``normalizer``: fn(DataFrame[endpoint, input]) -> DataFrame[endpoint,
    input, output] — the seq2seq stage (operators/seq2seq.py provides the
    deterministic date-normalizer stub and the mapInPandas harness).
    """
    cfg = F.broadcast(
        config_df.filter(~F.coalesce("Ignore", F.lit(False)))
        .filter(F.col("NormalizerEndpoint").isNotNull())
        .select(
            F.col("ClassId").alias("cfg_cls"),
            "NormalizerEndpoint",
            "NormalizerPrompt",
        )
    )
    tagged = mentions.join(cfg, mentions["ClassId"] == F.col("cfg_cls"), "left")
    to_norm = tagged.filter(F.col("NormalizerEndpoint").isNotNull())
    # CSE the reference does by hand (normalize.py:42-58): Catalyst won't
    # dedupe UDF calls, keep the explicit distinct.
    requests = (
        to_norm.select(
            F.col("NormalizerEndpoint").alias("endpoint"),
            F.concat(F.col("NormalizerPrompt"), F.col("Text")).alias("input"),
        ).distinct()
    )
    results = normalizer(requests)  # endpoint, input, output
    # No broadcast hint: `results` has one row per *distinct* (endpoint,
    # prompt+text) across the whole corpus — its cardinality is
    # input-dependent and unbounded (fine for dates, huge for free-text
    # fields). Let AQE pick the build side from measured sizes.
    normed = (
        to_norm.join(
            results,
            (F.col("NormalizerEndpoint") == F.col("endpoint"))
            & (F.concat(F.col("NormalizerPrompt"), F.col("Text")) == F.col("input")),
            "left",
        )
        # E6: failures (null output) keep original text; raw_text set only
        # when a normalization applied
        .withColumn("RawText", F.when(F.col("output").isNotNull(), F.col("Text")))
        .withColumn("Text", F.coalesce("output", "Text"))
    )
    passthrough = tagged.filter(F.col("NormalizerEndpoint").isNull())
    keep = mentions.columns
    return normed.select(*keep).unionByName(passthrough.select(*keep))
