"""HTML → word-sequence front-end (the engine's OCR stage).

Plays the role of the reference's pluggable OCR engine: any engine that emits
the §1.1/§1.2 schema plugs into the downstream transforms
(``notebooks/preproc/textract_transformers/ocr_engines/base.py:18-39``; the
Tesseract adapter ``eng_tesseract.py`` is the reference instance, SURVEY.md
§2.3). Here the "engine" is a boilerplate-stripping HTML main-content parser,
emitting ordered word sequences with synthetic page-relative geometry. A
compiled-regex tokenizer covers the markup the main-content rules read;
from the first construct outside it, the rest of a document goes through
the stdlib ``HTMLParser``, which gives the same words (no native deps
either way).

Both engines emit geometry-only word tuples (:func:`document_words`).
The extraction pipeline parses inside its per-document kernel
(``operators/fused.py`` calls :func:`document_words` per row), so the page
bytes go from the scan to the fields in one Python pass. :func:`html_to_words`
maps the same words, as §1.2 structs (:func:`parse_document_struct`), into
the nested doc-grain word view (``DOC_WORDS_SCHEMA``) for driver queries,
the relational operators and the tests. Either way the parse is map-only,
one input row → one document: no shuffle at any scale.

Determinism contract (replaces reference uuid4 ids, ocr_engines/base.py:42-44
— SURVEY.md §2.3 O7): block ids are sha256 of (url, page, line, word_pos),
confidences sha1-derived (:func:`word_conf_id`, the one implementation of
the key scheme) — identical re-runs produce identical bytes, which is what
makes resume-by-anti-join (plans/lineage.py) exactly-once.
"""

from __future__ import annotations

import re
import struct
from collections.abc import Iterator
from hashlib import sha1 as _sha1
from hashlib import sha256 as _sha256
from html import unescape
from html.parser import HTMLParser

import pandas as pd
from pyspark.sql import DataFrame

from ..schemas import DOC_WORDS_SCHEMA

_BLOCK_TAGS = frozenset(
    ["p", "h1", "h2", "h3", "h4", "h5", "h6", "div", "li", "blockquote",
     "td", "th", "pre", "tr", "ul", "ol", "table", "section", "figcaption"]
)
# Boilerplate subtrees stripped wholesale (north_rule: "HTML boilerplate
# strip ... DOM heuristics").
_SKIP_TAGS = frozenset(
    ["script", "style", "nav", "header", "footer", "aside", "noscript",
     "template", "svg", "iframe", "form", "button"]
)
_VOID_BREAK = frozenset(["br", "hr"])

# The subset of HTML whose events HTMLParser (convert_charrefs=True)
# reports the same way, one alternative per construct. It is pinned to
# CPython 3.11's html.parser: a comment closes at "--\s*>" (so "--!>"
# does not close it), and script/style raw text ends at the first
# "</\s*script\s*>" in any case (so "</script/>" does not end it, and
# "</ script>" does). Later releases changed both; the deterministic
# cases of tests/test_frontend.py::test_subset_tokenizer_quirks fail on an
# interpreter whose HTMLParser differs, as does the differential test.
# findall's groups: text, start tag, "/" of <x/>, end tag, script, style,
# raw text, rest. Attributes are matched but not parsed: the rules read
# tag names only.
_WS = r"[\t\n\r\f ]"
_NAME = r"[a-zA-Z][-a-zA-Z0-9]*+"
_ATTRS = (rf"(?:{_WS}++[a-zA-Z_:][-a-zA-Z0-9_:.]*+(?:{_WS}*+={_WS}*+"
          rf"(?:'[^']*+'|\"[^\"]*+\"|[^\s'\"=<>`]++))?)*+{_WS}*+")
_RAW = r"(?ai:script|style)(?![-a-zA-Z0-9])"
_LT = r"<(?![a-zA-Z/!?])"  # a "<" that opens no construct: text
_TOKENS = re.compile(
    # text
    rf"((?:[^<]|{_LT})[^<]*+(?:{_LT}[^<]*+)*+)"
    # start tag; <x/> is a start and an end event
    rf"|<(?!{_RAW})({_NAME}){_ATTRS}(/?)>"
    rf"|</({_NAME}){_WS}*+>"
    # script and style: raw text up to the first </script> (</style>);
    # the ASCII-only names pass a non-ASCII case variant over as raw text,
    # as HTMLParser does after its case-folding search
    rf"|<(?:((?ai:script))|((?ai:style))){_ATTRS}(?:/>|>((?s:.*?))"
    r"(?(5)</\s*(?ai:script)|</\s*(?ai:style))\s*>)"
    # comment, declaration, processing instruction: no event
    r"|<!--(?s:.*?)--\s*>|<!(?!--|\[)[^>]*+>|<\?[^>]*+>"
    # anything else: from here on the document goes to HTMLParser
    r"|(<[\s\S]*)")


class _MainContentParser(HTMLParser):
    """Collect pages→lines→words per EXTRACTION_SPEC (sources/synthetic.py).

    <article> delimits pages; block tags delimit lines; skip tags drop whole
    subtrees; inline tags are transparent; entities are unescaped per text
    chunk. If a document has no <article>, the whole <body> is page 1
    (robustness for non-synthetic HTML).

    :meth:`feed_subset` tokenizes a document with one compiled regex
    (``_TOKENS``) and dispatches to the handlers below; from the first
    construct outside that grammar, the rest goes through
    ``HTMLParser.feed``, so both paths share the rules and give the same
    pages.
    """

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.pages: list[list[list[str]]] = []
        self._cur_page: list[list[str]] | None = None
        self._buf: list[str] = []
        self._skip = 0
        self._saw_article = False
        self._in_head = False

    # -- helpers ---------------------------------------------------------
    def _flush(self) -> None:
        if self._buf:
            words = "".join(self._buf).split()
            self._buf.clear()
            if words and self._cur_page is not None:
                self._cur_page.append(words)

    def _ensure_default_page(self) -> None:
        if not self._saw_article and self._cur_page is None:
            self._cur_page = []
            self.pages.append(self._cur_page)

    # -- HTMLParser hooks --------------------------------------------------
    def handle_starttag(self, tag: str, attrs) -> None:  # noqa: ANN001
        if tag in _SKIP_TAGS:
            self._flush()
            self._skip += 1
            return
        if self._skip:
            return
        if tag == "head":
            self._in_head = True
        elif tag == "article":
            self._flush()
            self._saw_article = True
            self._cur_page = []
            self.pages.append(self._cur_page)
        elif tag in _BLOCK_TAGS:
            self._flush()
        elif tag in _VOID_BREAK:
            self._buf.append(" ")

    def handle_endtag(self, tag: str) -> None:
        if tag in _SKIP_TAGS:
            if self._skip:
                self._skip -= 1
            return
        if self._skip:
            return
        if tag == "head":
            self._in_head = False
        elif tag == "article":
            self._flush()
            self._cur_page = None
        elif tag in _BLOCK_TAGS or tag == "body":
            self._flush()

    def handle_data(self, data: str) -> None:
        if self._skip or self._in_head:
            return
        if self._cur_page is None:
            if self._saw_article:
                return  # between articles: boilerplate
            self._ensure_default_page()
        self._buf.append(data)

    def feed_subset(self, text: str) -> int:
        """Feed ``text``, as ``feed`` would: tokens of ``_TOKENS`` are
        dispatched straight to the handlers, and the rest of ``text``, from
        the first construct outside the grammar, goes through ``feed``.
        Every token before it is a complete construct, so HTMLParser
        starts on the rest as it would after parsing them. Returns the
        length of that rest: 0 when the grammar covers all the markup."""
        tokens = _TOKENS.findall(text)
        # the rest, and text after the last tag, which HTMLParser may hold
        # back until close() (a trailing "<", an "&" that may start a
        # reference): both go through feed
        last = tokens.pop() if tokens and (tokens[-1][0] or tokens[-1][7]) \
            else None
        start, end, data = self.handle_starttag, self.handle_endtag, \
            self.handle_data
        for txt, tag, slash, etag, script, style, raw, _ in tokens:
            if txt:
                data(unescape(txt))
            elif tag:
                tag = tag.lower()
                start(tag, [])
                if slash:
                    end(tag)
            elif etag:
                end(etag.lower())
            elif script or style:
                tag = "script" if script else "style"
                start(tag, [])
                if raw:
                    data(raw)
                end(tag)
        if last is None:
            return 0
        self.feed(last[0] or last[7])
        return len(last[7])

    def close(self) -> None:  # flush trailing text
        self._flush()
        super().close()


def parse_html(html_bytes: bytes | bytearray | memoryview | None) -> list[list[list[str]]]:
    """Parse one document; returns pages→lines→words (empty pages dropped —
    the D8 empty-page filter, data/base.py:419-428). Bytes are decoded
    with WHATWG-style charset sniffing (functions/charset.py: BOM → meta
    declaration → strict-UTF-8 probe → cp1252), so legacy-encoded crawl
    pages extract their actual characters; pure-UTF-8 corpora decode
    exactly as before."""
    if html_bytes is None:
        return []
    from ..functions.charset import decode_html

    p = _MainContentParser()
    p.feed_subset(decode_html(html_bytes))
    p.close()
    return [pg for pg in p.pages if pg]


_U32 = struct.Struct(">I").unpack_from


def word_conf_id(url: str, w: tuple) -> tuple[float, str]:
    """(conf, id) of an engine word: a sha1-derived pseudo-confidence on
    Textract's 0-100 scale and a sha256 block id, both from the key
    ``{url}|p{page}|l{line}|w{position in line}``."""
    key = f"{url}|p{w[0]}|l{w[1]}|w{w[3]}".encode("utf-8")
    # int(sha1 hexdigest[:8], 16), read from the digest's first 4 bytes
    h = _U32(_sha1(key).digest())[0]
    return 50.0 + (h % 5000) / 100.0, _sha256(key).hexdigest()[:32]


def _html_words(pages: list[list[list[str]]]) -> list[tuple[int, list[tuple]]]:
    """Engine words with synthetic 0-1 page-relative geometry.

    Geometry model (stand-in for OCR boxes, validated 0-1 like
    ocr_engines/base.py:63-68): lines stacked vertically in reading order,
    words laid left→right with width proportional to character count — so a
    top-to-bottom, left-to-right sort of the boxes recovers exactly the parse
    order.
    """
    out = []
    for p_ix, lines in enumerate(pages):
        n_lines = len(lines)
        page_num = p_ix + 1
        words: list[tuple] = []
        for l_ix, toks in enumerate(lines):
            top = 0.02 + 0.96 * l_ix / n_lines
            height = 0.8 * 0.96 / n_lines
            units = sum(len(w) for w in toks) + (len(toks) - 1)
            gap = 0.96 / max(units, 1)
            left = 0.02
            for w_ix, tok in enumerate(toks):
                width = gap * len(tok)
                words.append((page_num, l_ix, tok, w_ix, len(words),
                              left, top, width, height))
                left += width + gap
        out.append((page_num, words))
    return out


def _pdf_words(pdf_pages: list[dict]) -> list[tuple[int, list[tuple]]]:
    """Engine words from the native PDF content-stream parse
    (functions/pdf.py) — unlike the HTML path, these boxes are REAL page
    geometry: content-stream baselines/advances normalized by the page
    MediaBox to the same 0-1 page-relative space OCR boxes use
    (ocr_engines/base.py:63-68). Empty pages dropped (D8)."""
    out = []
    page_num = 0
    for page in pdf_pages:
        lines = [ln for ln in page["lines"] if ln["words"]]
        if not lines:
            continue
        page_num += 1
        w_pt = page["width_pt"] or 1.0
        h_pt = page["height_pt"] or 1.0
        words: list[tuple] = []
        for l_ix, ln in enumerate(lines):
            for w_ix, wd in enumerate(ln["words"]):
                words.append((
                    page_num, l_ix, wd["text"], w_ix, len(words),
                    min(max(wd["x"] / w_pt, 0.0), 1.0),
                    min(max((h_pt - wd["y"] - wd["h"]) / h_pt, 0.0), 1.0),
                    min(max(wd["w"] / w_pt, 0.0), 1.0),
                    min(max(wd["h"] / h_pt, 0.0), 1.0)))
        out.append((page_num, words))
    return out


def document_words(payload) -> list[tuple[int, list[tuple]]]:
    """Front-end dispatch: ``%PDF-`` payloads → native PDF content-stream
    parse with real geometry; everything else → the HTML main-content
    parser with synthetic geometry. Two engines in, one contract out — the
    reference's pluggable-OCR-engine seam (ocr_engines/base.py:18-39)
    re-expressed as payload sniffing.

    Returns the document's pages as (page_num, words), a word being the
    geometry-only tuple ``(page_num, line_id, text, position in line,
    position in page, left, top, width, height)``. The url-keyed conf and
    id are not computed here: :func:`word_conf_id` derives them on demand,
    so the extraction kernel hashes only the words its output reads."""
    if payload is not None and bytes(payload[:5]) == b"%PDF-":
        from ..functions.pdf import pdf_extract_words
        try:
            return _pdf_words(pdf_extract_words(bytes(payload)))
        except (ValueError, IndexError, KeyError, TypeError):
            return []  # warn-don't-fail: unparseable PDF → empty doc
    return _html_words(parse_html(payload))


def _struct(url: str, pages: list[tuple[int, list[tuple]]]) -> list[dict]:
    """Engine words → §1.2 page structs, every word with its conf and id."""
    out = []
    for page_num, words in pages:
        structs = []
        for w in words:
            conf, wid = word_conf_id(url, w)
            structs.append({
                "text": w[2], "conf": conf, "id": wid, "line_id": w[1],
                "box": {"left": w[5], "top": w[6],
                        "width": w[7], "height": w[8]},
            })
        out.append({"page_num": page_num, "words": structs})
    return out


def parse_document_struct(url: str, payload) -> list[dict]:
    """:func:`document_words` as §1.2 page structs."""
    return _struct(url, document_words(payload))


def html_to_words(pages_df: DataFrame) -> DataFrame:
    """The front-end stage: input table (§1.6) → doc-grain word view (§1.2).

    Map-only ``mapInArrow``; column pruning matters here — we select only
    (url, html) so the parquet scan never reads the oracle ``text`` column.

    Arrow batches are built directly (``pa.array`` with the explicit target
    types) instead of routing the nested page/word structs through pandas
    object columns — measured ~17% faster on the 20k-doc e2e stage, and the
    explicit types also remove the all-empty-batch float64-default hazard
    the pandas path has to guard against.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(DOC_WORDS_SCHEMA)
    pages_type = arrow_schema.field("pages").type

    def run(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        for b in batches:
            urls = b.column(b.schema.get_field_index("url")).to_pylist()
            htmls = b.column(b.schema.get_field_index("html")).to_pylist()
            parsed = [parse_document_struct(u, h)
                      for u, h in zip(urls, htmls)]
            yield pa.RecordBatch.from_arrays(
                [pa.array(urls, type=pa.string()),
                 pa.array([len(p) for p in parsed], type=pa.int32()),
                 pa.array(parsed, type=pages_type)],
                schema=arrow_schema)

    from ..plans.partitioning import spread_if_narrow

    # CPU-bound parse: a source with fewer splits than cores (e.g. a
    # handful of unsplittable .warc.gz archives) serializes it; one
    # url-keyed exchange buys full parallelism, no-op at corpus scale
    src = spread_if_narrow(pages_df.select("url", "html"), "url")
    return src.mapInArrow(run, schema=DOC_WORDS_SCHEMA)
