"""Front-end + assembly: the byte-identical-per-url flagship invariant."""

from __future__ import annotations

import timeit

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from amazon_textract_transformer_pipeline_spark.operators.assembly import (
    assemble_text,
    words_view,
)
from amazon_textract_transformer_pipeline_spark.operators import frontend
from amazon_textract_transformer_pipeline_spark.operators.frontend import (
    parse_html,
)
from amazon_textract_transformer_pipeline_spark.sources.synthetic import (
    expected_text,
    make_page_row,
)


def pages_to_struct(url: str, pages: list[list[list[str]]]) -> list[dict]:
    """§1.2 word structs of a parsed HTML document, built from the parse
    (``frontend._html_words``) rather than from the payload dispatch."""
    return frontend._struct(url, frontend._html_words(pages))


def pdf_pages_to_struct(url: str, pdf_pages: list[dict]) -> list[dict]:
    """§1.2 word structs of a parsed PDF (``frontend._pdf_words``), with
    the same key scheme as the HTML front-end."""
    return frontend._struct(url, frontend._pdf_words(pdf_pages))


def test_parse_html_pure_roundtrip():
    """Parser recovers the generator's exact word structure, no Spark."""
    for i in range(0, 250):
        row = make_page_row(i)
        pages = parse_html(row["html"])
        assert expected_text(pages) == row["text"], f"row {i}"


def test_parse_strips_boilerplate():
    html = (b"<html><body><nav><p>MENU</p></nav>"
            b"<article><p>keep <b>me</b></p><script>drop()</script></article>"
            b"<footer><p>legal</p></footer></body></html>")
    assert parse_html(html) == [[["keep", "me"]]]


def test_parse_entities_and_unicode():
    html = "<article><p>AT&amp;T café a&lt;b</p></article>".encode()
    assert parse_html(html) == [[["AT&T", "café", "a<b"]]]


def test_parse_no_article_fallback():
    html = b"<html><body><p>one two</p><div>three</div></body></html>"
    assert parse_html(html) == [[["one", "two"], ["three"]]]


def test_empty_doc_and_empty_page():
    assert parse_html(b"<html><body><article></article></body></html>") == []
    assert parse_html(None) == []


def test_geometry_in_unit_square_and_deterministic():
    row = make_page_row(3)
    pages = pages_to_struct(row["url"], parse_html(row["html"]))
    again = pages_to_struct(row["url"], parse_html(row["html"]))
    assert pages == again  # determinism (replaces uuid4, SURVEY §2.3 O7)
    for pg in pages:
        for w in pg["words"]:
            b = w["box"]
            assert 0.0 <= b["left"] and b["left"] + b["width"] <= 1.0 + 1e-9
            assert 0.0 <= b["top"] and b["top"] + b["height"] <= 1.0 + 1e-9
            assert 0.0 <= w["conf"] <= 100.0


def test_byte_identical_extraction_spark(spark, pages_df, doc_words):
    """THE north-rule invariant: extracted_text == oracle text, per url."""
    result = assemble_text(doc_words)
    joined = result.join(pages_df.select("url", "text"), "url", "inner")
    n = joined.count()
    assert n == 300
    mismatches = joined.filter("extracted_text <> text").count()
    assert mismatches == 0


def test_words_view_reading_order(spark, doc_words):
    """word_pos is reading order: reassembling from the relational view
    matches the array-HOF assembly."""
    from pyspark.sql import functions as F

    wv = words_view(doc_words)
    re_asm = (
        wv.groupBy("url", "page_num", "line_id")
        .agg(F.array_join(F.transform(F.array_sort(F.collect_list(F.struct("word_pos", "text"))),
                                      lambda s: s["text"]), " ").alias("line_text"),
             F.min("word_pos").alias("first_pos"))
        .groupBy("url")
        .agg(F.array_join(F.transform(F.array_sort(F.collect_list(
            F.struct("page_num", "first_pos", "line_text"))),
            lambda s: s["line_text"]), "\n").alias("relational_text"))
    )
    hof = assemble_text(doc_words).select("url", "extracted_text")
    bad = (re_asm.join(hof, "url")
           .filter("relational_text <> extracted_text").count())
    assert bad == 0


def test_skewed_corpus_extracts_byte_identical(spark):
    """The skew-bench corpus obeys the same byte-identical contract as
    synthetic_pages_df — the straggler evidence measures real extraction,
    not a degenerate workload."""
    from amazon_textract_transformer_pipeline_spark.operators.assembly import (
        assemble_text,
    )
    from amazon_textract_transformer_pipeline_spark.operators.frontend import (
        html_to_words,
    )
    from amazon_textract_transformer_pipeline_spark.sources import (
        skewed_pages_df,
    )

    pages = skewed_pages_df(spark, 60, heavy_lines=30, hot_frac=0.3)
    out = assemble_text(html_to_words(pages)) \
        .join(pages.select("url", "text"), "url")
    assert out.filter("extracted_text <> text").count() == 0
    assert out.count() == 60
    hot = out.filter("url LIKE 'https://bighost000%'").count()
    assert hot == 18  # hot_frac 0.3


#: hostile HTML and degenerate payloads, (url, bytes or None)
HOSTILE = [
    ("bad://garbage", bytes(range(256)) * 40),
    ("bad://latin1", "<p>caf\xe9 na\xefve \xff\xfe</p>".encode("latin-1")),
    ("bad://utf16", "<article><p>wide text</p></article>".encode("utf-16")),
    ("bad://unclosed", b"<html><body><article><p>open <b>bold <i>it"
                       b"<div>more <p>words"),
    ("bad://nested-nav", b"<body><nav><nav><p>menu</p></nav><p>still"
                         b"</p></nav><p>kept text</p><article><p>art"
                         b"</p><nav><article><p>x</p></article></nav>"
                         b"</article></body>"),
    ("bad://big-attr", b'<p data-x="' + b"a" * 100_000 + b'">after '
                       b"attr</p>"),
    ("bad://pdf-garbage", b"%PDF-1.4\ngarbage"),
    ("bad://null", None),
    ("bad://empty-body", b"<html><body></body></html>"),
    ("bad://empty", b""),
]


def twin_rows() -> list[tuple[str, bytes | None]]:
    """(url, payload) rows beyond the generators: the PDF fixtures of
    test_pdf (every structural and font dialect, AES, a corrupt PDF) and
    :data:`HOSTILE`."""
    from amazon_textract_transformer_pipeline_spark.functions import pdf

    from test_pdf import ACCENT_PAGES, DIALECTS, PAGES

    rows = [(f"pdf://pages/{i}", pdf.write_pdf(PAGES, **kw))
            for i, kw in enumerate(DIALECTS)]
    rows += [(f"pdf://accent/{f}", pdf.write_pdf(ACCENT_PAGES, font=f))
             for f in ("courier", "winansi", "tounicode", "cid")]
    rows += [(f"pdf://aes/{i}", pdf.write_pdf(ACCENT_PAGES, font="winansi",
                                              encrypt="aes", **kw))
             for i, kw in enumerate([{}, {"objstm": True}])]
    rows.append(("bad://corrupt-pdf", pdf.write_pdf(PAGES)[:200]))
    return rows + HOSTILE


def _twin_pages(spark, pages_df):
    """(url, html) rows for the text-twin test: the fixture's pages and
    :func:`twin_rows`."""
    rows = twin_rows()
    odd = spark.createDataFrame(
        [(u, None if h is None else bytearray(h)) for u, h in rows],
        "url string, html binary")
    return pages_df.select("url", "html").unionByName(odd), len(rows)


def test_kernel_text_twin_matches_sql_assembly(spark, pages_df):
    """The extraction kernel's Python text twin equals the SQL fold over
    the front-end's word view, byte for byte per url, on normal, PDF,
    hostile and degenerate pages."""
    from amazon_textract_transformer_pipeline_spark.config import DEMO_CONFIG
    from amazon_textract_transformer_pipeline_spark.operators.frontend import (
        html_to_words,
    )
    from amazon_textract_transformer_pipeline_spark.operators.fused import (
        extract_documents,
    )

    pages, n_odd = _twin_pages(spark, pages_df)
    sql = {r.url: r for r in assemble_text(html_to_words(pages)).collect()}
    kernel = {r.url: r for r in extract_documents(
        pages, DEMO_CONFIG, model="sql-stub")
        .select("url", "n_pages", "extracted_text").collect()}
    assert len(sql) == 300 + n_odd and kernel.keys() == sql.keys()
    for url, r in sql.items():
        k = kernel[url]
        assert k.n_pages == r.n_pages, url
        assert k.extracted_text.encode() == r.extracted_text.encode(), url
    # the odd pages exercise real text, several pages, and empty documents
    assert kernel["pdf://pages/0"].n_pages == 2
    assert kernel["bad://nested-nav"].extracted_text == "kept text\nart"
    assert kernel["bad://big-attr"].extracted_text == "after attr"
    assert kernel["bad://null"].extracted_text == ""
    assert kernel["bad://corrupt-pdf"].n_pages == 0


def test_kernel_word_scores_match_struct_view(pages_df):
    """Key-scheme twin: the conf and id the extraction kernel hashes on
    demand for a mention word equal the struct view's (``pages_to_struct``
    / ``pdf_pages_to_struct``) for every word, and both equal the hashes
    of the key ``{url}|p{page}|l{line}|w{pos}``; the md5 stub's pcc equals
    the reference rule at the word's page position."""
    import hashlib

    import ref_rules
    from test_pdf import DIALECTS, PAGES

    from amazon_textract_transformer_pipeline_spark.functions import pdf
    from amazon_textract_transformer_pipeline_spark.operators.frontend import (
        document_words,
    )
    from amazon_textract_transformer_pipeline_spark.operators.fused import (
        _scorer,
    )

    docs = [(r.url, r.html, pages_to_struct(r.url, parse_html(r.html)))
            for r in pages_df.select("url", "html").collect()]
    for i, kw in enumerate(DIALECTS):
        url, blob = f"pdf://pages/{i}", pdf.write_pdf(PAGES, **kw)
        docs.append((url, blob, pdf_pages_to_struct(
            url, pdf.pdf_extract_words(blob))))
    n_words = 0
    for url, payload, struct in docs:
        pages = document_words(payload)
        assert [p for p, _ in pages] == [pg["page_num"] for pg in struct]
        stub, window = _scorer(url, "sql-stub"), _scorer(url, "window-stub")
        for (page_num, words), pg in zip(pages, struct):
            assert len(words) == len(pg["words"]), url
            line, pos = None, 0
            for page_pos, (w, s) in enumerate(zip(words, pg["words"])):
                pos = pos + 1 if s["line_id"] == line else 0
                line = s["line_id"]
                key = f"{url}|p{page_num}|l{line}|w{pos}".encode()
                conf = 50.0 + (int(hashlib.sha1(key).hexdigest()[:8], 16)
                               % 5000) / 100.0
                wid = hashlib.sha256(key).hexdigest()[:32]
                assert (s["conf"], s["id"]) == (conf, wid), (url, key)
                assert stub(w + (None, None)) == (
                    conf, wid, ref_rules.stub_conf(url, page_num, page_pos))
                assert window(w + (None, 0.25)) == (conf, wid, 0.25)
                n_words += 1
    assert n_words > 10_000


# ---------------------------------------------------------------------------
# The regex tokenizer (``_MainContentParser.feed_subset``) against
# ``HTMLParser.feed``: the same pages for every document, whether the
# grammar covers all of its markup or the rest goes through ``feed``.
# ---------------------------------------------------------------------------
def _fast_and_stdlib(text: str):
    """(characters fed to HTMLParser from the first construct outside the
    grammar, fast-path pages, HTMLParser pages), empty pages kept."""
    fast = frontend._MainContentParser()
    rest = fast.feed_subset(text)
    fast.close()
    ref = frontend._MainContentParser()
    ref.feed(text)
    ref.close()
    return rest, fast.pages, ref.pages


_TAG_NAMES = sorted(frontend._SKIP_TAGS | frontend._BLOCK_TAGS
                    | {"article", "head", "body", "br", "b", "x"})
_ATTRS = ["", " id=a", " class='c d'", ' title="x>y"', " a=b/", " x",
          " x = 'v' ", " data-q='<p>'", " a=&amp;"]


@st.composite
def _tag(draw) -> str:
    name = "".join(c.upper() if draw(st.booleans()) else c
                   for c in draw(st.sampled_from(_TAG_NAMES)))
    ws = draw(st.sampled_from(["", " ", "\n"]))
    kind = draw(st.sampled_from(["start", "end", "self"]))
    if kind == "end":
        return f"</{name}{ws}>"
    attrs = draw(st.sampled_from(_ATTRS))
    return f"<{name}{attrs}{ws}{'/' if kind == 'self' else ''}>"


_PIECES = st.sampled_from([
    "word ", "two words", " ", "\n", "&amp;", "&#39;", "&", "&lt", "&copy;",
    "AT&T", "<", "<3", "< p", ">", "/", "=", "'", '"', "<!-- c -->",
    "<!-- -- >", "<!--", "--", "-->", "<!DOCTYPE html>", "<?pi?>", "</x >",
    "<x/>", "</ p>", "<!x>", "<![CDATA[x]]>", "</>", "café", "\xa0", "\x0b",
])
_SOUP = st.lists(
    st.one_of(_tag(), _tag(), _PIECES,
              st.text(alphabet="<>/!-=&;#'\" apPA\n", max_size=6)),
    max_size=40).map("".join)


@given(_SOUP)
@settings(max_examples=1500, deadline=None)
def test_subset_tokenizer_matches_htmlparser(text):
    """The fast path's pages equal HTMLParser's: self-closing tags, raw
    script/style text, comments, stray "<", entities, mixed case and
    markup outside the grammar included."""
    _, fast, ref = _fast_and_stdlib(text)
    assert fast == ref, text


@pytest.mark.parametrize("text, pages", [
    ("<p>a</p><nav/><p>b</p>", [[["a"], ["b"]]]),
    ("<article/><article><p>x</p></article>", [[], [["x"]]]),
    ("<p>a</p><script>x</p><p>y</SCRIPT >z</p>", [[["a"], ["z"]]]),
    ("<p>a<!-- </p> -- >b</p>", [[["ab"]]]),
    ("<p>a < b &amp; c&lt;d</p>", [[["a", "<", "b", "&", "c<d"]]]),
    ("<p>x&am</p>p;", [[["x&am"], ["p;"]]]),
    # trailing text HTMLParser holds back until close() reaches the page
    ("<p>a</p>b &x", [[["a"], ["b", "&x"]]]),
    ("<p>a</p>b <", [[["a"], ["b", "<"]]]),
    # CPython 3.11's html.parser, which later releases changed: "--!>"
    # closes no comment, "</script/>" ends no raw text, "</ script>" and
    # "</script" + whitespace + ">" do
    ("<p>a<!-- x --!> b --> c</p>", [[["a", "c"]]]),
    ("<p>a</p><script>x</script/>y</script>z", [[["a"], ["z"]]]),
    ("<p>a</p><style>x</style/>y</style>z", [[["a"], ["z"]]]),
    ("<p>a</p><script>x</ script>z", [[["a"], ["z"]]]),
    ("<p>a</p><script>x</script\n>z", [[["a"], ["z"]]]),
    ("<p>a</p><script>x</script\t/>y</script>z", [[["a"], ["z"]]]),
    # a truncated page's last line, held back until close()
    ("<article><p>a</p><p>AT&T", [[["a"], ["AT&T"]]]),
])
def test_subset_tokenizer_quirks(text, pages):
    """HTMLParser's quirks that the fast path copies, each inside the
    grammar. The pinned pages fail at once on an interpreter whose
    HTMLParser parses them otherwise."""
    assert _fast_and_stdlib(text) == (0, pages, pages)


@pytest.mark.parametrize("odd", [
    "<![CDATA[x]]>", '<a href=a?b=c>', "<a href=/x?a=b>", "</ p>",
    "<svg:rect/>", '<b @click="f">', "<p x=`y`>",
])
def test_subset_tokenizer_hands_the_rest_to_htmlparser(odd):
    """Markup outside the grammar, at the start, middle or end of a
    generator page: the tokens before it are dispatched, only the rest
    goes through HTMLParser, and the pages are HTMLParser's."""
    html = make_page_row(7)["html"].decode()
    cut = html.index("<p", len(html) // 2)
    for text in (odd + html, html[:cut] + odd + html[cut:], html + odd):
        rest, fast, ref = _fast_and_stdlib(text)
        assert fast == ref, text
        assert 0 < rest <= len(text) - text.index(odd)


def test_subset_tokenizer_on_hostile_rows():
    from amazon_textract_transformer_pipeline_spark.functions.charset import (
        decode_html,
    )

    for url, payload in HOSTILE:
        _, fast, ref = _fast_and_stdlib(decode_html(payload))
        assert fast == ref, url


@pytest.mark.parametrize("head, unit", [
    ("<p", " x"), ('<p data-x="', "a"), ("<!--", "-- -"), ("", "<!--"),
    ("<script>", "</scrip"), ("", "<script>"), ("", "<a x='"),
    ("", "<p x=a"), ("", "<!DOCTYPE"), ("", "</p"),
])
def test_subset_tokenizer_time_is_linear(head, unit):
    """The tokenizer ends at unterminated tags, attributes, comments and
    raw text in time linear in the document: no regex backtracks. A 16x
    larger document must take under 32x as long; backtracking would take
    some 256x."""
    def seconds(n_bytes: int) -> float:
        text = "<p>" + head + unit * (n_bytes // len(unit))
        assert frontend._TOKENS.findall(text)[-1][7]
        return min(timeit.repeat(lambda: frontend._TOKENS.findall(text),
                                 number=1, repeat=5))

    small, big = seconds(100_000), seconds(1_600_000)
    assert big < 32 * small, (head, unit, small, big)


def test_subset_tokenizer_accepts_every_generator_page(spark, pages_df):
    """The generators' pages all take the fast path, so the speed-up
    cannot vanish silently."""
    from amazon_textract_transformer_pipeline_spark.functions.charset import (
        decode_html,
    )
    from amazon_textract_transformer_pipeline_spark.sources import (
        skewed_pages_df,
    )
    from amazon_textract_transformer_pipeline_spark.sources.bridge import (
        render_doc_html,
    )

    htmls = [r.html for r in pages_df.select("html").collect()]
    htmls += [r.html for r in skewed_pages_df(spark, 32, heavy_lines=30)
              .select("html").collect()]
    htmls += [render_doc_html(i, make_page_row(i)["text"])[1]
              for i in range(200)]
    for html in htmls:
        rest, fast, ref = _fast_and_stdlib(decode_html(html))
        assert rest == 0 and fast == ref
