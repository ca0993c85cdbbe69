"""Deterministic synthetic Common-Crawl-style pages table (FIXTURES.md §1).

Reference precedent for synthetic, seed-deterministic fixtures:
``notebooks/src/code/data/seq2seq/date_normalization.py:98-225``.

Every row is a pure function of ``(seed, row_index)`` so generation
distributes over executors (``spark.range(n).mapInPandas``) and regenerating
any subset is reproducible — the property the reference gets from S3
immutability (SURVEY.md §2.1 S6/S7) we get from determinism.

The ``text`` column is the byte-identical oracle: it is computed from the
same word/line structure the HTML encodes, using EXTRACTION_SPEC below. The
front-end parser (operators/frontend.py) must recover exactly this string
from the ``html`` bytes.
"""

from __future__ import annotations

import datetime as _dt
import html as _html
import random
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..schemas import PAGES_INPUT_SCHEMA

EXTRACTION_SPEC = """Main-content extraction spec (the engine's contract):
  * pages  = <article> elements, document order (1-based page_num)
  * lines  = block elements (p h1-h6 div li blockquote) inside an article;
             a block boundary flushes the current line
  * skip   = entire subtrees of script style nav header footer aside
             noscript template (boilerplate strip)
  * words  = whitespace-split tokens of a line's text nodes (entities
             unescaped, inline tags transparent, whitespace collapsed)
  * text   = words joined ' ' within a line; lines joined '\\n' across the
             whole document (pages in order) — the reference's assembly rule
             (fn-postprocess/util/extract.py:55-60) applied doc-wide
  * empty lines/pages are dropped (data/base.py:419-428)
"""

_BLOCK_TAGS = ("p", "h1", "h2", "h3", "div", "li", "blockquote")
_INLINE_TAGS = ("b", "i", "em", "strong", "span")

# Vocabulary: plain ASCII, digits/punct-bearing tokens, HTML-escaping-required
# tokens, and non-ASCII — all exercised by the byte-identical check.
_VOCAB = (
    [f"word{i}" for i in range(40)]
    + [f"tok{i}x" for i in range(20)]
    + ["the", "quick", "brown", "fox", "jumps", "over", "lazy", "dog",
       "Total:", "$1,234.56", "2021-07-04", "(see", "note)", "12%",
       "item;", "a+b=c", "x/y", "Q4'21", "e.g.", "etc...", "No.7",
       "AT&T", "a<b", "b>c", "\"quoted\"", "it's", "—dash—",
       "café", "naïve", "über", "résumé", "日本語", "数据", "Ωmega", "π≈3.14"]
)
_BOILER = ["Home", "About", "Login", "Subscribe", "Cookie", "Policy",
           "Copyright", "2024", "Privacy", "Terms", "Menu", "Search"]
_LANGS = ["en"] * 14 + ["de", "fr", "es", "zh", "ja", "pt"]
_EPOCH = _dt.datetime(2021, 3, 14, 0, 0, 0)

# Row-index-driven edge cases (FIXTURES.md §3): guaranteed present in any
# window of ~100 consecutive rows.
_EMPTY_DOC_MOD = 97       # document with no extractable words
_LONG_PAGE_MOD = 89       # page longer than the 510-token model window
_OVERSIZE_WORD_MOD = 83   # single "word" longer than the window (Q2 skip-warn)
_MULTIPAGE_MOD = 7        # 2-3 <article> pages


def _zipf_host(rng: random.Random, n_hosts: int = 50) -> int:
    """Zipf-ish host choice — drives the host-domain skew the salted
    repartition (SURVEY.md §4) must defeat."""
    r = rng.random()
    # inverse-CDF of p(k) ∝ 1/(k+1), harmonic-number normalized
    total, acc = sum(1.0 / (k + 1) for k in range(n_hosts)), 0.0
    for k in range(n_hosts):
        acc += 1.0 / (k + 1) / total
        if r <= acc:
            return k
    return n_hosts - 1


def _doc_lines(rng: random.Random, i: int) -> list[list[list[str]]]:
    """pages -> lines -> words, pure function of the row RNG."""
    if i % _EMPTY_DOC_MOD == 0:
        return [[]]
    n_pages = rng.randint(2, 3) if i % _MULTIPAGE_MOD == 0 else 1
    pages = []
    for _p in range(n_pages):
        n_lines = rng.randint(1, 12)
        lines = []
        for _ln in range(n_lines):
            n_words = rng.randint(1, 14)
            lines.append([rng.choice(_VOCAB) for _ in range(n_words)])
        pages.append(lines)
    if i % _LONG_PAGE_MOD == 0:
        pages[0].append([rng.choice(_VOCAB) for _ in range(700)])
    if i % _OVERSIZE_WORD_MOD == 0:
        pages[0].append(["x" * 3000])
    return pages


def _render_html(rng: random.Random, pages: list[list[list[str]]]) -> str:
    """Render the word structure into messy-but-valid HTML: boilerplate
    subtrees, inline tags, comments, attributes, entity escaping."""
    out = ["<!DOCTYPE html><html><head><title>t</title>",
           "<style>body{margin:0}</style>",
           "<script>var s=1;</script></head><body>",
           "<header><h1>SiteName</h1></header>",
           "<nav><ul>"]
    for w in rng.sample(_BOILER, 4):
        out.append(f"<li><a href='/x'>{w}</a></li>")
    out.append("</ul></nav><!-- content -->")
    for lines in pages:
        out.append("<article>")
        for words in lines:
            tag = rng.choice(_BLOCK_TAGS)
            parts = []
            for w in words:
                esc = _html.escape(w)
                if rng.random() < 0.15:
                    it = rng.choice(_INLINE_TAGS)
                    esc = f"<{it}>{esc}</{it}>"
                parts.append(esc)
            out.append(f"<{tag} class='c{rng.randint(0, 9)}'>{' '.join(parts)}</{tag}>")
        if rng.random() < 0.3:
            out.append("<aside>skip this sidebar</aside>")
        out.append("</article>")
    out.append("<footer><p>Copyright &copy; 2024</p></footer></body></html>")
    return "".join(out)


def expected_text(pages: list[list[list[str]]]) -> str:
    """The oracle: EXTRACTION_SPEC assembly (extract.py:55-60 doc-wide)."""
    return "\n".join(" ".join(words) for lines in pages for words in lines if words)


def make_page_row(i: int, seed: int = 42) -> dict:
    rng = random.Random((seed << 34) ^ (i * 0x9E3779B97F4A7C15 & 0xFFFFFFFFFFFF))
    host = _zipf_host(rng)
    pages = _doc_lines(rng, i)
    return {
        "url": f"https://host{host:03d}.example/p{i:010d}",
        "warc_ts": _EPOCH + _dt.timedelta(seconds=int(i)),
        "html": _render_html(rng, pages).encode("utf-8"),
        "text": expected_text(pages),
        "lang": rng.choice(_LANGS),
    }


def synthetic_pages_df(spark: SparkSession, n: int, seed: int = 42,
                       partitions: int | None = None,
                       start: int = 0) -> DataFrame:
    """Distributed generation: ``spark.range(n)`` → Arrow-batched rows.

    At bench scale this is the stand-in for the 10^12-row Iceberg scan; each
    partition materializes independently, so generation scales linearly with
    executors exactly like a table scan would.
    """
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = [make_page_row(int(i), seed) for i in b["id"]]
            yield pd.DataFrame(rows, columns=[f.name for f in PAGES_INPUT_SCHEMA])

    rng_df = spark.range(start, start + n, 1,
                         partitions or spark.sparkContext.defaultParallelism)
    return rng_df.mapInPandas(gen, schema=PAGES_INPUT_SCHEMA)


def skewed_pages_df(spark: SparkSession, n: int, seed: int = 42,
                    partitions: int | None = None, hot_frac: float = 0.5,
                    heavy_lines: int = 120,
                    n_cold_hosts: int = 200) -> DataFrame:
    """Hot-host-skewed corpus for the straggler bench (SURVEY §4): the
    first ``hot_frac`` of rows all live on ONE host (``bighost000`` —
    sorts before every cold host, so any url-ordered partitioning
    clusters them) and carry ~``heavy_lines``-line documents (~10× the
    typical page weight); the rest spread over ``n_cold_hosts`` with
    normal sizes. Same schema + byte-identical ``text`` oracle as
    :func:`synthetic_pages_df`."""
    hot_n = int(n * hot_frac)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for i in b["id"]:
                i = int(i)
                rng = random.Random(
                    (seed << 34) ^ (i * 0x9E3779B97F4A7C15 & 0xFFFFFFFFFFFF))
                if i < hot_n:
                    host = "bighost000"
                    pages = [[[rng.choice(_VOCAB)
                               for _ in range(rng.randint(6, 14))]
                              for _ in range(heavy_lines)]]
                else:
                    host = f"host{rng.randrange(n_cold_hosts):03d}"
                    pages = _doc_lines(rng, i)
                rows.append({
                    "url": f"https://{host}.example/p{i:010d}",
                    "warc_ts": _EPOCH + _dt.timedelta(seconds=int(i)),
                    "html": _render_html(rng, pages).encode("utf-8"),
                    "text": expected_text(pages),
                    "lang": "en",
                })
            yield pd.DataFrame(rows,
                               columns=[f.name for f in PAGES_INPUT_SCHEMA])

    rng_df = spark.range(0, n, 1,
                         partitions or spark.sparkContext.defaultParallelism)
    return rng_df.mapInPandas(gen, schema=PAGES_INPUT_SCHEMA)


def synth_pdf_df(spark: SparkSession, n: int) -> DataFrame:
    """Distributed deterministic PDF corpus: (media_id, blob). Closed-form
    in media_id (dims/page-count/line text below mirror the DuckDB gate
    oracle exactly), cycling through all six structural dialects of
    functions/pdf.write_pdf (classic xref, Flate content, xref streams,
    PNG-predictored xref streams, object streams) crossed with all four
    font dialects (unencoded Courier, WinAnsi + /Differences + /Widths,
    /ToUnicode CMap, Type0/CID Identity-H) — every line carries the
    accented token 'café' so the encoded-font paths must actually decode
    (a latin-1-only reader would emit mojibake and hash-mismatch)."""
    from ..functions.pdf import write_pdf

    schema = T.StructType([
        T.StructField("media_id", T.LongType(), False),
        T.StructField("blob", T.BinaryType(), False),
    ])
    dialects = [{}, {"compress": True}, {"xref_stream": True},
                {"xref_stream": True, "predictor": True},
                {"objstm": True}, {"objstm": True, "compress": True}]
    fonts = ["courier", "winansi", "tounicode", "cid"]
    # standard-security-handler axis: every 8th doc RC4- or AES-encrypted
    # (owner-locked, empty user password) — text must still extract
    encrypts = [None, None, None, "rc4", None, None, None, "aes"]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for i in b["id"]:
                i = int(i)
                pages = []
                for p in range(1 + i % 4):
                    lines = [
                        f"doc {i} page {p} line {j} "
                        f"tok{(i*7 + p*3 + j) % 100} café"
                        for j in range(1 + (i + p) % 3)]
                    pages.append({"width": 300 + (i % 5) * 60,
                                  "height": 400 + (i % 4) * 80,
                                  "lines": lines})
                rows.append({"media_id": i,
                             "blob": write_pdf(pages, font=fonts[i % 4],
                                               encrypt=encrypts[i % 8],
                                               **dialects[i % 6])})
            yield pd.DataFrame(rows)

    rng = spark.range(0, n, 1, max(8, spark.sparkContext.defaultParallelism))
    return rng.mapInPandas(gen, schema=schema)
