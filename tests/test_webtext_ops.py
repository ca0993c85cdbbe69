"""Text stats, Gopher / C4 / repetition filters and vocab top-k."""

from __future__ import annotations

import pytest

from amazon_textract_transformer_pipeline_spark.operators.textstats import (
    with_text_stats,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


def test_text_stats(spark, docs):
    st = with_text_stats(docs).cache()
    row = st.filter("n_words > 0").limit(1).collect()[0]
    assert row.n_tokens_est >= row.n_words
    assert 0.0 <= row.stopword_ratio <= 1.0
    assert st.filter("lang_guess NOT IN ('en','de','fr','es','und')").count() == 0
    assert st.select("fingerprint").distinct().count() > 400  # mostly unique


def test_gopher_filters_rules(spark):
    """Each Gopher/C4 rule fires on a targeted violation and a clean doc
    passes."""
    from amazon_textract_transformer_pipeline_spark.operators.textstats import (
        with_gopher_filters,
    )

    good = ("the cat and the hat have fun with all of that . "
            + "plain words continue here nicely " * 10)
    docs = spark.createDataFrame(
        [(0, good),
         (1, "too short"),                                  # min words
         (2, "- a\n- b\n- c"),                              # bullets+short
         (3, "lorem ipsum " + good),                        # lorem
         (4, "{ code block } " + good),                     # braces
         (5, good + " ##### " * 30),                        # symbol ratio
         (6, ("x " * 60).strip())],                         # mean len + stop
        "doc_id long, text string")
    out = {r.doc_id: r for r in with_gopher_filters(docs).collect()}
    assert out[0].gopher_pass
    assert not out[1].gopher_pass and out[1].n_words == 2
    assert not out[2].gopher_pass and out[2].bullet_line_frac == 1.0
    assert not out[3].gopher_pass and out[3].has_lorem_ipsum
    assert not out[4].gopher_pass and out[4].has_curly_brace
    assert not out[5].gopher_pass and out[5].symbol_word_ratio > 0.1
    assert not out[6].gopher_pass and out[6].gopher_stop_hits == 0


def test_symbol_ratio_counts_ascii_ellipsis(spark):
    """The Gopher symbol rule counts '...' (the dominant web spelling) as
    well as U+2026 — a doc padded with ASCII ellipses must fail."""
    from amazon_textract_transformer_pipeline_spark.operators.textstats import (
        with_gopher_filters,
    )

    base = ("the cat and the hat have fun with all of that . "
            + "plain words continue here nicely " * 10)
    docs = spark.createDataFrame(
        [(0, base), (1, base + " ... " * 40), (2, base + " … " * 40)],
        "doc_id long, text string")
    out = {r.doc_id: r for r in with_gopher_filters(docs).collect()}
    assert out[0].gopher_pass and out[0].symbol_word_ratio < 0.1
    assert not out[1].gopher_pass and out[1].symbol_word_ratio > 0.1
    assert not out[2].gopher_pass and out[2].symbol_word_ratio > 0.1


def test_repetition_filters_rules(spark):
    from amazon_textract_transformer_pipeline_spark.operators.textstats import (
        with_repetition_filters,
    )

    docs = spark.createDataFrame(
        [(0, "aa bb\ncc dd\naa bb\nee ff"),   # 1 dup line of 4 (25%)
         (1, "x y x y x y x y"),              # overlapping top-gram > 1.0
         (2, "spam spam\n" * 5),              # heavy line dup
         (3, "one"),                          # < n words → gram fracs 0
         (4, "")],
        "doc_id long, text string")
    out = {r.doc_id: r for r in with_repetition_filters(docs).collect()}
    assert out[0].dup_line_frac == 0.25
    assert out[0].dup_line_char_frac == 0.25  # all lines 5 chars
    assert out[1].top2_char_frac == 1.0       # "x y" ×4, 8 chars / 8
    assert out[1].top3_char_frac > 1.0        # overlap exceeds 1 by design
    assert not out[1].repetition_pass
    assert out[2].dup_line_frac == 0.8 and not out[2].repetition_pass
    assert out[3].top2_char_frac == 0.0 and out[3].repetition_pass
    assert out[4].repetition_pass


def test_dup_ngram_char_fracs(spark):
    """Covered-position accounting: overlapping duplicated spans never
    double-count, so fracs are ≤ 1; a clean doc scores 0 everywhere."""
    from amazon_textract_transformer_pipeline_spark.operators.textstats import (
        with_repetition_filters,
    )

    docs = spark.createDataFrame(
        [(0, "a b c d e f a b c d e g"),  # "a b c d e" ×2 → 10 of 12 chars
         (1, "x y x y x y x y"),          # every position covered at n=5,6
         (2, "alpha bravo charlie delta echo foxtrot golf hotel india "
             "juliett kilo lima mike november oscar papa quebec romeo "
             "sierra tango uniform victor whiskey xray yankee zulu"),
         (3, "")],
        "doc_id long, text string")
    out = {r.doc_id: r for r in with_repetition_filters(docs).collect()}
    assert out[0].dup5gram_char_frac == round(10 / 12, 6)
    assert out[0].dup6gram_char_frac == 0.0
    assert not out[0].repetition_pass
    assert out[1].dup5gram_char_frac == 1.0
    assert out[1].dup6gram_char_frac == 1.0
    assert out[1].dup7gram_char_frac == 0.0
    assert out[2].dup5gram_char_frac == 0.0 and out[2].repetition_pass
    assert out[3].repetition_pass


def test_dup_paragraph_signals(spark):
    from amazon_textract_transformer_pipeline_spark.operators.textstats import (
        with_repetition_filters,
    )

    p1, p2 = "para one here", "para two other"
    docs = spark.createDataFrame(
        [(0, f"{p1}\n\n{p2}\n\n{p1}"),     # 1 dup para of 3
         (1, f"{p1}\n{p2}")],              # single-newline: one paragraph
        "doc_id long, text string")
    out = {r.doc_id: r for r in with_repetition_filters(docs).collect()}
    assert out[0].dup_para_frac == 0.333333
    assert out[0].dup_line_frac == 0.333333  # lines split on single \n too
    assert out[1].dup_para_frac == 0.0 and out[1].dup_line_frac == 0.0


def test_c4_line_filters(spark):
    """C4 §2.2 line retention: terminal punctuation, ≥5 words, no
    'javascript'; page verdict needs ≥3 sentences and no brace/lorem."""
    from amazon_textract_transformer_pipeline_spark.operators.textstats import (
        with_c4_filters,
    )

    good = ("This is a proper first sentence here.\n"
            "Another full sentence follows right after that one!\n"
            "And a third sentence completes the page?\n"
            "short line.\n"                     # < 5 words → dropped
            "no terminal punctuation on this line\n"
            "Please enable javascript to view this page today.")
    docs = spark.createDataFrame(
        [(0, good),
         (1, "One sentence only but long enough to keep."),  # < 3 sentences
         (2, good + " { code }"),                            # brace
         (3, ""),
         (4, good + " stray } only")],      # close brace alone still drops
        "doc_id long, text string")
    out = {r.doc_id: r for r in with_c4_filters(docs).collect()}
    assert out[0].c4_pass and out[0].c4_n_kept_lines == 3
    assert "javascript" not in out[0].c4_kept_text.lower()
    assert "short line." not in out[0].c4_kept_text
    assert not out[1].c4_pass and out[1].c4_n_kept_lines == 1
    assert not out[2].c4_pass        # curly brace kills the page
    assert not out[3].c4_pass and out[3].c4_kept_text == ""
    assert not out[4].c4_pass        # '}' of either kind (Raffel §2.2)


def test_vocab_top_k(spark):
    from pyspark.sql import functions as F

    from amazon_textract_transformer_pipeline_spark.operators.textstats import (
        vocab_top_k,
    )

    docs = spark.createDataFrame(
        [(1, "a b b c c c"), (2, "c b"), (3, "")],
        "doc_id long, text string")
    rows = vocab_top_k(docs, k=2).collect()
    assert [(r["vocab_rank"], r["token"], r["n_occurrences"], r["n_docs"])
            for r in rows] == [(1, "c", 4, 2), (2, "b", 3, 2)]
    # ties order by token asc: a vs d both count 1
    docs2 = spark.createDataFrame([(1, "d a")], "doc_id long, text string")
    rows2 = vocab_top_k(docs2, k=2).collect()
    assert [r["token"] for r in rows2] == ["a", "d"]
