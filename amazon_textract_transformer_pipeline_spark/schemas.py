"""Explicit StructTypes for every relation in the engine (SURVEY.md §1).

The reference's schemas are dynamic/inferred (HuggingFace ``datasets`` JSON
loading, ``notebooks/src/code/data/base.py:482-514``); here every boundary is
a fixed StructType so Catalyst can prune columns and push predicates into the
parquet/Iceberg scan.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# §1.6 input table (BASELINE.json input_hint): Common-Crawl-style pages.
# ---------------------------------------------------------------------------
PAGES_INPUT_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),  # oracle column at test scale
        T.StructField("lang", T.StringType(), True),
    ]
)

# ---------------------------------------------------------------------------
# §1.2 word-sequence view. One row per document; pages nested so the whole
# extraction path is shuffle-free (no cross-doc operator exists in the
# reference, SURVEY.md §2.9). Boxes are 0-1 page-relative TLHW doubles
# (Textract native, ocr_engines/base.py:131-141).
# ---------------------------------------------------------------------------
BOX_SCHEMA = T.StructType(
    [
        T.StructField("left", T.DoubleType(), False),
        T.StructField("top", T.DoubleType(), False),
        T.StructField("width", T.DoubleType(), False),
        T.StructField("height", T.DoubleType(), False),
    ]
)

WORD_SCHEMA = T.StructType(
    [
        T.StructField("text", T.StringType(), False),
        T.StructField("conf", T.DoubleType(), False),  # OCR confidence 0-100
        T.StructField("id", T.StringType(), False),  # deterministic, SURVEY §2.3 O7
        T.StructField("line_id", T.IntegerType(), False),  # 0-based per page
        T.StructField("box", BOX_SCHEMA, False),
    ]
)

PAGE_SCHEMA = T.StructType(
    [
        T.StructField("page_num", T.IntegerType(), False),  # 1-based (Textract)
        T.StructField("words", T.ArrayType(WORD_SCHEMA), False),
    ]
)

DOC_WORDS_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("n_pages", T.IntegerType(), False),
        T.StructField("pages", T.ArrayType(PAGE_SCHEMA), False),
    ]
)

# ---------------------------------------------------------------------------
# §1.5 entity mention (EntityDetection, util/extract.py:74-87).
# ---------------------------------------------------------------------------
MENTION_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("ClassId", T.IntegerType(), False),
        T.StructField("ClassName", T.StringType(), True),
        T.StructField("Confidence", T.DoubleType(), False),
        T.StructField("Blocks", T.ArrayType(T.StringType()), False),
        T.StructField("BoundingBox", BOX_SCHEMA, False),
        T.StructField("PageNum", T.IntegerType(), False),
        T.StructField("Text", T.StringType(), False),
        T.StructField("RawText", T.StringType(), True),
    ]
)

# §1.5 field configuration (util/config.py:31-95).
FIELD_CONFIG_SCHEMA = T.StructType(
    [
        T.StructField("ClassId", T.IntegerType(), False),
        T.StructField("Name", T.StringType(), False),
        T.StructField("Ignore", T.BooleanType(), True),
        T.StructField("Optional", T.BooleanType(), True),
        T.StructField("Select", T.StringType(), True),  # confidence|first|last|longest|shortest|None
        T.StructField("SortOrder", T.IntegerType(), False),  # position in config
        T.StructField("NormalizerEndpoint", T.StringType(), True),
        T.StructField("NormalizerPrompt", T.StringType(), True),
    ]
)
