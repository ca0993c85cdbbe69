"""Text assembly + relational views over the doc-grain word relation.

Assembly rule (the byte-identical contract): words joined ``" "`` within a
line, lines joined ``"\\n"`` — ``fn-postprocess/util/extract.py:55-60``
applied document-wide (SURVEY.md §2.8 E2).

Implemented as higher-order array functions (``aggregate``/``transform``)
over the nested pages column of ``frontend.html_to_words``: a pure
projection, zero shuffle. It serves driver queries and the tests; the
extraction pipeline computes the same bytes inside its per-document kernel
with the Python twin ``fused.text_of``, and the tests hold the two equal.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Fold over the ordered word array: new line_id → '\n', same → ' '.
# prev = -1 marks "no word seen yet" (line_id is 0-based).
_PAGE_TEXT_EXPR = """
aggregate(
  {words},
  struct(cast(-1 as int) as prev, cast('' as string) as acc),
  (s, w) -> struct(
      w.line_id,
      CASE WHEN s.prev = -1 THEN w.text
           WHEN w.line_id = s.prev THEN concat(s.acc, ' ', w.text)
           ELSE concat(s.acc, chr(10), w.text) END),
  s -> s.acc)
"""


def doc_text_col(pages_col: str = "pages") -> Column:
    inner = _PAGE_TEXT_EXPR.format(words="pg.words")
    return F.expr(
        f"array_join(transform(filter({pages_col}, pg -> size(pg.words) > 0), "
        f"pg -> {inner}), chr(10))"
    )


def assemble_text(doc_words: DataFrame) -> DataFrame:
    """doc-grain word view → (url, n_pages, extracted_text)."""
    return doc_words.select(
        "url", "n_pages", doc_text_col("pages").alias("extracted_text")
    )


# ---------------------------------------------------------------------------
# Relational views (P1 word/line flatten, data/base.py:343-351 /
# inference.py:412-419). posexplode preserves order via the position column.
# ---------------------------------------------------------------------------
def pages_view(doc_words: DataFrame) -> DataFrame:
    """One row per (url, page)."""
    return doc_words.select(
        "url", F.explode("pages").alias("pg")
    ).select("url", F.col("pg.page_num").alias("page_num"),
             F.col("pg.words").alias("words"))


def words_view(doc_words: DataFrame) -> DataFrame:
    """One row per word, reading order recoverable from (page_num, word_pos)."""
    return (
        pages_view(doc_words)
        .select("url", "page_num",
                F.posexplode("words").alias("word_pos", "w"))
        .select(
            "url", "page_num", "word_pos",
            F.col("w.line_id").alias("line_id"),
            F.col("w.text").alias("text"),
            F.col("w.conf").alias("conf"),
            F.col("w.id").alias("word_id"),
            F.col("w.box").alias("box"),
        )
    )
