"""Spark-side implementations of the driver-gate queries (__spark_entry__).

Each callable takes (spark, sf_dir) and returns a DataFrame whose values are
bit-reproducible by the DuckDB oracle in oracle.py. Column names/aliases are
kept identical on both sides — the driver sorts columns by name before
value-hashing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .config import DEMO_CONFIG
from .functions import textsql as X
from .operators.assembly import assemble_text, pages_view, words_view
from .operators.consolidate import value_consolidation
from .operators.enrich import stub_predictions
from .operators.frontend import html_to_words
from .operators.fused import (
    document_fields,
    document_mentions,
    extract_documents,
)
from .operators.webclean import canonical_url_sql, remove_boilerplate_lines
from .operators.splitting import split_pages_to_window_bounds
from .operators.textstats import with_text_stats
from .sources.bridge import pages_from_documents
from .sources.synthetic import synth_pdf_df


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _doc_words(spark, sf_dir) -> DataFrame:
    return html_to_words(pages_from_documents(_docs(spark, sf_dir)))


def _enriched_words(spark, sf_dir) -> DataFrame:
    return stub_predictions(words_view(_doc_words(spark, sf_dir)))


def _documents(spark, sf_dir) -> DataFrame:
    """The pipeline's per-document kernel over the bridge pages."""
    return extract_documents(pages_from_documents(_docs(spark, sf_dir)),
                             DEMO_CONFIG, model="sql-stub")


def _mentions(spark, sf_dir) -> DataFrame:
    return document_mentions(_documents(spark, sf_dir))


# ---------------------------------------------------------------------------
# Extraction path (full front-end under the gate)
# ---------------------------------------------------------------------------
def q_extract_text(spark, sf_dir) -> DataFrame:
    return assemble_text(_doc_words(spark, sf_dir)).select(
        "url", "extracted_text", "n_pages")


def q_word_enrichment(spark, sf_dir) -> DataFrame:
    return _enriched_words(spark, sf_dir).select(
        "url", "page_num", "word_pos", "line_id", "text", "pred_cls", "pcc")


def q_entity_mentions(spark, sf_dir) -> DataFrame:
    return _mentions(spark, sf_dir).select(
        "url", F.col("run_id").cast("bigint").alias("run_id"),
        "ClassId", "ClassName", "Text", "PageNum", "Confidence", "ixe")


def q_field_values(spark, sf_dir) -> DataFrame:
    v = value_consolidation(_mentions(spark, sf_dir))
    return v.select(
        "url", "ClassId", "Text",
        F.col("n_detections").cast("bigint").alias("n_detections"),
        "ix_first", "ix_last",
        F.round("value_conf", 6).alias("value_conf"))


def q_fields(spark, sf_dir) -> DataFrame:
    f = document_fields(_documents(spark, sf_dir))
    return f.select(
        "url", "ClassId", "FieldName", "SortOrder",
        F.col("NumDetections").cast("bigint").alias("NumDetections"),
        F.col("NumDetectedValues").cast("bigint").alias("NumDetectedValues"),
        "Value", F.round("Confidence", 6).alias("Confidence"))


def q_apply_review(spark, sf_dir) -> DataFrame:
    """Human-review merge-back over the consolidated fields with a
    deterministic synthetic review set (same portable-hash construction as
    oracle.apply_review_oracle: h%3==0 rows are reviewed, h%4 picks
    presence-unchecked / exact-confirm / corrected-value / unanswered)."""
    from .operators.review import apply_review

    f = document_fields(_documents(spark, sf_dir))
    base = f.withColumn(
        "_h", F.expr(X.h64("concat(url, '|', FieldName)", "spark")))
    reviews = base.filter("_h % 3 = 0").select(
        "url", "FieldName",
        F.expr("_h % 4 <> 0").alias("present"),
        F.expr("CASE WHEN _h % 4 = 1 THEN Value "
               "WHEN _h % 4 = 2 THEN concat(Value, ' (corrected)') END")
        .alias("review_value"),
        F.lit(None).cast("array<string>").alias("review_values"),
    )
    merged = apply_review(f, reviews)
    return merged.select(
        "url", "ClassId", "FieldName", "SortOrder",
        F.col("NumDetections").cast("bigint").alias("NumDetections"),
        "Value", F.round("Confidence", 6).alias("Confidence"), "reviewed")


def q_doc_confidence(spark, sf_dir) -> DataFrame:
    return _documents(spark, sf_dir).select(
        "url", F.round("Confidence", 6).alias("Confidence"))


# ---------------------------------------------------------------------------
# PII scrub (documents)
# ---------------------------------------------------------------------------
def pii_text_sql(engine: str) -> str:
    """Deterministic PII-laden text from doc_id (both engines): email,
    IPv4, IPv6, phone (every 3rd doc), 9+-digit account id, then the
    real document text as a tail so arbitrary content is exercised."""
    s = "string" if engine == "spark" else "varchar"
    did = f"cast(doc_id as {s})"
    return (
        f"concat('Contact user', {did}, '@mail',"
        f" cast(doc_id % 7 as {s}), '.example.com or 10.',"
        f" cast(doc_id % 200 as {s}), '.0.', cast(doc_id % 250 as {s}),"
        f" ' ping fe80:a:b:', cast(doc_id % 9 as {s}),"
        f" CASE WHEN doc_id % 3 = 0 THEN concat(' call +1 (555) ',"
        f" cast(100 + doc_id % 900 as {s}), '-',"
        f" cast(1000 + doc_id % 9000 as {s})) ELSE ' no phone' END,"
        f" ' acct ', cast(100000000 + doc_id * 37 as {s}), ' :: ', text)"
    )


def q_pii_scrub(spark, sf_dir) -> DataFrame:
    """PII redaction signals + scrubbed text over the deterministically
    PII-laden corpus — per-category counts under the sequential-scrub
    semantics, exact against the same expression builder in DuckDB.
    Map-side projection, zero shuffle."""
    from .operators.webclean import pii_exprs

    d = _docs(spark, sf_dir).select(
        "doc_id", F.expr(pii_text_sql("spark")).alias("text"))
    out = d
    for name, e in pii_exprs("text", "spark").items():
        out = out.withColumn(name, F.expr(e))
    return out.drop("text")


# ---------------------------------------------------------------------------
# Text stats
# ---------------------------------------------------------------------------
def q_text_stats(spark, sf_dir) -> DataFrame:
    return with_text_stats(_docs(spark, sf_dir)).select(
        "doc_id", "n_words", "n_chars_actual", "mean_word_len",
        "stopword_ratio", "n_tokens_est", "lang_guess")


def q_langid_scores(spark, sf_dir) -> DataFrame:
    """Scored language ID: per-language literal-gram linear scores +
    the argmax prediction, exact against the same plan-time-literal
    profile table in DuckDB. Map-side projection, zero shuffle."""
    from .operators.textstats import with_langid

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    return with_langid(docs).drop("text")


# ---------------------------------------------------------------------------
# URL and line cleaning (documents)
# ---------------------------------------------------------------------------
def messy_url_sql(engine: str) -> str:
    """Deterministic messy-URL construction from doc_id (both engines):
    mixed-case scheme/host, www + default port, tracking params, fragment."""
    s = "string" if engine == "spark" else "varchar"
    did = f"cast(doc_id as {s})"
    return (
        f"concat(CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://WWW.Host' "
        f"ELSE 'hTTp://Host' END, cast(doc_id % 7 as {s}), "
        f"'.Example.COM', CASE WHEN doc_id % 2 = 0 THEN ':443' ELSE ':80' END, "
        f"CASE WHEN doc_id % 5 = 4 THEN '' ELSE concat('/Path/', {did}) END, "
        f"CASE WHEN doc_id % 3 = 0 THEN concat('?b=2&utm_source=x&a=', {did}, '#frag') "
        f"WHEN doc_id % 3 = 1 THEN '?fbclid=zz&gclid=q' "
        f"ELSE '#only-fragment' END)"
    )


def q_canonical_urls(spark, sf_dir) -> DataFrame:
    """URL canonicalization over deterministically-messy urls: lowercase
    scheme/host, strip www + default ports + tracking params + fragment,
    sort surviving params, default path to '/'."""
    d = _docs(spark, sf_dir).select(
        "doc_id", F.expr(messy_url_sql("spark")).alias("url"))
    return d.select(
        "doc_id", "url",
        F.expr(canonical_url_sql("url", "spark")).alias("url_canon"))


def q_boilerplate_lines(spark, sf_dir) -> DataFrame:
    """CCNet-style boilerplate removal at the engine's line grain: lines
    repeated across ≥ 3 distinct docs vanish from every doc."""
    out = remove_boilerplate_lines(_docs(spark, sf_dir), min_docs=3)
    return out.select("doc_id", "kept_text", "n_lines_kept", "n_lines_removed")


# ---------------------------------------------------------------------------
# Splitter and PDF front-end
# ---------------------------------------------------------------------------
def q_split_windows(spark, sf_dir) -> DataFrame:
    pages = pages_view(_doc_words(spark, sf_dir))
    return split_pages_to_window_bounds(pages, max_content_seq_len=24)


def q_pdf_metadata(spark, sf_dir) -> DataFrame:
    """PDF structure metadata over the six-dialect synthetic corpus:
    page-1 MediaBox point dims + page count + encrypted flag via the
    native xref/page-tree walk (functions/pdf.py) — checked against the
    closed-form generator spec, so classic xref, xref streams, PNG
    predictors, and object streams all verify end-to-end. Map-only; a
    blob the parser rejects becomes a valid=false row."""
    import pandas as pd
    from pyspark.sql import types as T

    from .functions import pdf

    schema = T.StructType([
        T.StructField("media_id", T.LongType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("n_pages", T.IntegerType(), True),
        T.StructField("encrypted", T.BooleanType(), True),
        T.StructField("valid", T.BooleanType(), False),
    ])

    def run(batches):
        cols = [f.name for f in schema]
        for b in batches:
            rows = []
            for mid, blob in zip(b["media_id"], b["blob"]):
                try:
                    m = pdf.pdf_meta(bytes(blob))
                    p0 = m["pages"][0] if m["pages"] else None
                    rows.append({
                        "media_id": int(mid),
                        "width": round(p0["width_pt"]) if p0 else None,
                        "height": round(p0["height_pt"]) if p0 else None,
                        "n_pages": m["n_pages"],
                        "encrypted": m["encrypted"],
                        "valid": True})
                except Exception:
                    rows.append({"media_id": int(mid), "width": None,
                                 "height": None, "n_pages": None,
                                 "encrypted": None, "valid": False})
            yield pd.DataFrame(rows, columns=cols)

    return synth_pdf_df(spark, 120).mapInPandas(run, schema=schema)


def q_gopher_filters(spark, sf_dir) -> DataFrame:
    """Gopher/C4 pre-training quality filters over the documents table:
    per-doc rule signals + the combined verdict, exact-value checked
    against the same expressions in DuckDB. Pure map-side projection —
    at corpus scale this is the filter applied BEFORE any shuffle-bearing
    stage (dedup, similarity) so downstream volumes shrink first."""
    from .operators.textstats import with_gopher_filters

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return with_gopher_filters(docs.select("doc_id", "text")).drop("text")


def q_c4_filters(spark, sf_dir) -> DataFrame:
    """C4 line-level cleaning (Raffel et al. 2020 §2.2) over the
    documents table: per-line retention (terminal punctuation, ≥5 words,
    no 'javascript'), the retained text, sentence count, and the page
    verdict — exact against the same expression builder's DuckDB
    dialect. Map-side projection, zero shuffle."""
    from .operators.textstats import with_c4_filters

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return with_c4_filters(docs.select("doc_id", "text")).drop("text")


def q_gopher_repetition(spark, sf_dir) -> DataFrame:
    """Gopher repetition-removal signals: duplicate-line fractions
    (map-side HOFs) + top-2/3-gram character fractions (one (doc, gram)
    shuffle each with map-side partials) + combined verdict — exact
    against the same definitions replayed as staged DuckDB CTEs."""
    from .operators.textstats import with_repetition_filters

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return with_repetition_filters(docs.select("doc_id", "text")).drop("text")


def q_charset_extract(spark, sf_dir) -> DataFrame:
    """Charset-sniffing front-end over a mixed-encoding corpus: the same
    accented text served as plain UTF-8, BOM'd UTF-8 + meta, cp1252 +
    meta, BOM'd UTF-16-LE, and undeclared latin-1 (strict-UTF-8 probe
    fails → WHATWG cp1252 fallback). Every variant must extract the
    IDENTICAL Unicode text — the oracle is one closed-form string per
    doc, independent of encoding. Map-only, zero shuffle."""
    import pandas as pd
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("url", T.StringType(), False),
        T.StructField("html", T.BinaryType(), False),
    ])

    def gen(batches):
        for b in batches:
            rows = []
            for i in b["id"]:
                i = int(i)
                line = f"doc {i} café naïve öl"
                body = (f"<html><head>{{meta}}</head><body><article>"
                        f"<p>{line}</p></article></body></html>")
                v = i % 5
                if v == 0:
                    blob = body.format(meta="").encode("utf-8")
                elif v == 1:
                    blob = b"\xef\xbb\xbf" + body.format(
                        meta='<meta charset="utf-8">').encode("utf-8")
                elif v == 2:
                    blob = body.format(
                        meta='<meta charset="windows-1252">').encode("cp1252")
                elif v == 3:
                    blob = b"\xff\xfe" + body.format(meta="").encode("utf-16-le")
                else:
                    blob = body.format(meta="").encode("latin-1")
                rows.append({"url": f"cs://{i}", "html": blob})
            yield pd.DataFrame(rows)

    pages = spark.range(0, 120, 1, 8).mapInPandas(gen, schema=schema)
    return assemble_text(html_to_words(pages)).select("url", "extracted_text")


def q_pdf_extract(spark, sf_dir) -> DataFrame:
    """PDF → byte-identical text through the SAME extraction pipeline as
    HTML (frontend dispatch on the %PDF- magic → content-stream
    interpreter → identical assembly): the reference's D2 'PDF is just
    another document container' contract. Map-only, zero shuffle."""
    pdfs = synth_pdf_df(spark, 120).select(
        F.concat(F.lit("pdf://"), F.col("media_id")).alias("url"),
        F.col("blob").alias("html"))
    return assemble_text(html_to_words(pdfs)).select(
        "url", "n_pages", "extracted_text")


def q_domain_blocklist(spark, sf_dir) -> DataFrame:
    """UT1-style domain blocklist filter over deterministically-messy
    urls (mixed case, www repeats, default port, a sub. prefix every
    fifth doc so the parent-domain suffix match is exercised): blocked
    iff host's registrable domain is host1/host4.example.com. Oracle is
    closed-form — host extraction, suffix explosion, and the shuffle
    semi-join must all agree to hit it."""
    from .operators.webclean import filter_blocked_domains

    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.expr("concat('HTTP://', CASE WHEN doc_id % 5 = 0 THEN 'Sub.' "
               "ELSE 'WWW.' END, 'Host', cast(doc_id % 7 as string), "
               "'.Example.COM:80/p/', cast(doc_id as string))").alias("url"))
    bl = spark.createDataFrame(
        [("host1.example.com",), ("host4.example.com",), ("evil.org",)],
        "domain string")
    return filter_blocked_domains(docs, bl).select(
        "doc_id", "host", "blocked", "blocked_domain")


def c4_span_text_sql() -> str:
    """Gate corpus for span dedup: documents text with planted duplicate
    three-sentence blocks — every third doc shares one block (cross-doc
    dup) and every seventh-mod-2 doc carries a different block TWICE
    (within-doc dup). 'Endcap.' absorbs unpunctuated doc tails so the
    planted sentences stay byte-identical across docs. Valid verbatim in
    both Spark SQL and DuckDB."""
    shared = (" Endcap. Shared alpha one. Shared alpha two. "
              "Shared alpha three.")
    beta = " Rare beta one. Rare beta two. Rare beta three."
    return (f"concat(text, "
            f"CASE WHEN doc_id % 3 = 0 THEN '{shared}' ELSE '' END, "
            f"CASE WHEN doc_id % 7 = 2 THEN ' Endcap.{beta}{beta}' "
            f"ELSE '' END)")


def q_c4_span_dedup(spark, sf_dir) -> DataFrame:
    """C4 §2.2 three-sentence-span global dedup over the planted corpus:
    first occurrence (min doc_id, span_ix) keeps its sentences, every
    other occurrence — cross-doc or within-doc — loses them; text
    reassembled from survivors. One shuffle on the 64-bit span hash +
    doc-grain reassembly; oracle replays the identical algorithm as
    staged DuckDB CTEs."""
    from .operators.webclean import dedup_text_spans

    docs = _docs(spark, sf_dir).select(
        "doc_id", F.expr(c4_span_text_sql()).alias("text"))
    return dedup_text_spans(docs).select(
        "doc_id", "kept_text", "n_sent_kept", "n_sent_removed")


MC_N_BLOCKS = 5  # blocks planted per doc in the main-content gate corpus


def mc_feature_sql() -> tuple[str, str]:
    """Closed-form planted block features in terms of columns (i, n) —
    the SAME string is valid Spark SQL and DuckDB SQL. Block i of a doc
    with n words holds words [floor(i*n/5), floor((i+1)*n/5)); block 1 is
    fully linked (a nav strip), block 3 half-linked (a related-articles
    strip), the rest unlinked."""
    k = MC_N_BLOCKS
    nw = (f"(cast(floor((i + 1) * n / {k}) as int) - "
          f"cast(floor(i * n / {k}) as int))")
    lw = (f"CASE WHEN i = 1 THEN {nw} "
          f"WHEN i = 3 THEN cast(floor(({nw} + 1) / 2) as int) "
          f"ELSE 0 END")
    return nw, lw


def _mc_classified(spark, sf_dir) -> DataFrame:
    """Synthesize deterministic HTML from the documents table (5 blocks
    per doc, link-wrapping per mc_feature_sql), parse it with the REAL
    block parser, classify with the WSDM-2010 window+CASE plan."""
    from .operators.maincontent import classify_blocks, html_to_blocks

    nw, _ = mc_feature_sql()
    lo = f"cast(floor(i * n / {MC_N_BLOCKS}) as int)"
    half = f"cast(floor(({nw} + 1) / 2) as int)"
    block = (
        f"concat('<p>', concat_ws(' ', transform(slice(esc, {lo} + 1, {nw}), "
        f"(w, j) -> CASE WHEN i = 1 OR (i = 3 AND j < {half}) "
        f"THEN concat('<a href=\"#\">', w, '</a>') ELSE w END)), '</p>')")
    html = (f"concat('<html><body>', concat_ws('', "
            f"transform(sequence(0, {MC_N_BLOCKS - 1}), i -> {block})), "
            f"'</body></html>')")
    pages = (
        _docs(spark, sf_dir)
        .select("doc_id", F.expr(X.words("text", "spark")).alias("ws"))
        .withColumn("n", F.expr("size(ws)"))
        .filter(f"n >= 2 * {MC_N_BLOCKS}")
        .withColumn("esc", F.expr(
            "transform(ws, w -> replace(replace(replace(w, '&', '&amp;'), "
            "'<', '&lt;'), '>', '&gt;'))"))
        .select("doc_id", F.encode(F.expr(html), "UTF-8").alias("html"))
    )
    from .plans.partitioning import spread_if_narrow

    pages = spread_if_narrow(pages, "doc_id")  # python parse: parallelize
    return classify_blocks(html_to_blocks(pages, id_col="doc_id"),
                           id_col="doc_id")


def q_main_content_blocks(spark, sf_dir) -> DataFrame:
    """Densitometric boilerplate classification (Kohlschuetter et al.,
    WSDM 2010 NumWordsRules) over HTML synthesized from the documents
    table: the REAL block parser must recover exactly the planted
    (n_words, n_link_words) per block, and the lag/lead+CASE classifier
    must agree with the identical expressions in DuckDB. Parse is
    map-only; classification adds one per-doc window shuffle."""
    return _mc_classified(spark, sf_dir).select(
        "doc_id", "block_ix", "n_words", "n_link_words",
        "link_density", "is_content")


def q_main_content_text(spark, sf_dir) -> DataFrame:
    """Per-doc main text reassembly: content blocks joined in document
    order — oracle rebuilds it from the planted word slices."""
    from .operators.maincontent import main_content_text

    return main_content_text(_mc_classified(spark, sf_dir),
                             id_col="doc_id").select(
        "doc_id", "n_blocks", "n_content_blocks", "main_text")


# ---------------------------------------------------------------------------
# Corpus-composition gates: intra-doc line dedup, mixture sampling, DSIR
# importance, and the composed corpus filter (round 6)
# ---------------------------------------------------------------------------

def line_text_sql(engine: str) -> str:
    """Deterministic line-laden text from doc_id (both engines): a nav
    line duplicated verbatim, two blank lines (must BOTH survive), the
    document body, and a tail that duplicates the second line for even
    doc_ids only — so removal counts vary across the corpus."""
    s = "string" if engine == "spark" else "varchar"
    return (
        f"concat('Nav ', cast(doc_id % 3 as {s}), chr(10),"
        f" 'Body ', cast(doc_id as {s}), chr(10),"
        f" chr(10),"
        f" 'Nav ', cast(doc_id % 3 as {s}), chr(10),"
        f" text, chr(10),"
        f" chr(10),"
        f" CASE WHEN doc_id % 2 = 0 THEN concat('Body ', cast(doc_id as {s}))"
        f" ELSE concat('Tail ', cast(doc_id as {s})) END)"
    )


def q_doc_line_dedup(spark, sf_dir) -> DataFrame:
    """Within-document repeated-line removal over deterministically
    line-laden text: the duplicated nav line and (for even ids) the
    duplicated body line vanish, blank lines and first occurrences
    survive in order. Map-side indexed-lambda filter — zero shuffle;
    exact against the same expression builder in DuckDB."""
    from .operators.webclean import with_line_dedup

    d = _docs(spark, sf_dir).select(
        "doc_id", F.expr(line_text_sql("spark")).alias("text"))
    return with_line_dedup(d).drop("text")


MIXTURE_RATES: list[tuple[str, int]] = [
    ("src0", 2_300_000),   # 2.3 epochs: upsampled source
    ("src1", 500_000),     # downsampled by half
    ("src2", 0),           # excluded source
    ("src3", 1_000_000),   # exactly one epoch
    # src4 deliberately absent → default rate applies
]


def q_mixture_sample(spark, sf_dir) -> DataFrame:
    """Deterministic mixture/temperature sampling: per-source integer
    ppm rates (upsampling >1e6, exclusion 0, catalog miss → default),
    copies decided by the salted portable hash. One explicit broadcast
    of the rate dim; zero corpus shuffles. Exact against the identical
    integer arithmetic in DuckDB."""
    from .operators.sampling import mixture_sample

    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.expr("concat('src', cast(doc_id % 5 as string))").alias("source"))
    rates = spark.createDataFrame(MIXTURE_RATES, "source string, rate_ppm long")
    out = mixture_sample(d, rates)
    return out.select("doc_id", "source", "rate_ppm", "n_copies",
                      F.col("copy_ix").cast("int").alias("copy_ix"))


def dsir_text_sql(engine: str) -> str:
    """Deterministic gram-planted text: every third doc leads with
    target-profile prose, every third-plus-one with raw-web boilerplate,
    the rest with nothing — then the real document text as a tail."""
    lead = ("CASE WHEN doc_id % 3 = 0 THEN "
            "'The university was founded during the century however it was ' "
            "WHEN doc_id % 3 = 1 THEN "
            "'Click here buy now free subscribe login cookie !!! $9 deal ' "
            "ELSE '' END")
    return f"concat({lead}, text)"


def q_dsir_importance(spark, sf_dir) -> DataFrame:
    """DSIR-style importance scoring + deterministic resampling over
    gram-planted text: exact-integer milli-log-ratio scores, calibrated
    ppm acceptance, hash-thresholded verdict. Pure map-side projection,
    zero shuffle; exact against the same builder in DuckDB."""
    from .operators.sampling import with_importance

    d = _docs(spark, sf_dir).select(
        "doc_id", F.expr(dsir_text_sql("spark")).alias("text"))
    return with_importance(d).drop("text")


#: a paragraph that passes every Gopher/C4 rule (3 terminal-punctuated
#: ≥5-word lines, ≥50 mostly-alphabetic words, stopword hits, no braces)
_GOOD_LINE = ("The history of the university and the town that have "
              "grown with it was written during the long century by "
              "many careful scholars.")
#: a C4-surviving line loaded with raw-web DSIR evidence — docs carrying
#: it stay clean but score low enough that most get sampled out
_SPAM_LINE = ("Click the free offer and buy now to subscribe with "
              "one more click today.")


def corpus_text_sql() -> str:
    """Gate corpus for the composed filter (engine-neutral SQL): even
    doc_ids carry the clean paragraph (every fourth-mod-2 doc with the
    spammy-but-clean DSIR line appended) so documents reach — and split
    at — every stage; odd doc_ids keep the raw table text and die at
    language/quality/cleaning stages as before."""
    good3 = f"concat('{_GOOD_LINE}', chr(10), '{_GOOD_LINE}', chr(10), '{_GOOD_LINE}')"
    spam3 = f"concat(chr(10), '{_SPAM_LINE}', chr(10), '{_SPAM_LINE}', chr(10), '{_SPAM_LINE}')"
    return (
        f"CASE WHEN doc_id % 2 = 0 THEN concat({good3}, "
        f"CASE WHEN doc_id % 4 = 2 THEN {spam3} "
        f"ELSE '' END) ELSE text END"
    )


def q_corpus_filter(spark, sf_dir) -> DataFrame:
    """The composed pre-training corpus filter — the pipeline a corpus
    release actually runs, as ONE query: UT1 domain blocklist (suffix
    semi-join) → scored language ID → Gopher quality verdict → C4
    cleaning verdict → DSIR importance sampling, with the first failing
    stage recorded per document. The blocklist output passes its input
    columns through, so every verdict is ONE map-side codegen stage on
    top of the suffix-join — no re-join against the scan, no second
    corpus-wide shuffle. Single-sourced with the Structured Streaming
    path via `webclean.composed_quality_verdicts`."""
    from .operators.webclean import composed_quality_verdicts

    docs = _docs(spark, sf_dir).select(
        "doc_id", F.expr(corpus_text_sql()).alias("text"),
        F.expr("concat('HTTP://', CASE WHEN doc_id % 5 = 0 THEN 'Sub.' "
               "ELSE 'WWW.' END, 'Host', cast(doc_id % 7 as string), "
               "'.Example.COM:80/p/', cast(doc_id as string))").alias("url"))
    bl = spark.createDataFrame(
        [("host1.example.com",), ("host4.example.com",), ("evil.org",)],
        "domain string")
    return composed_quality_verdicts(docs, bl)


def snapshot_url_sql(engine: str) -> str:
    """Deterministic colliding-snapshot urls: ~100 distinct canonical
    pages captured by many docs in messy spellings (case, www, default
    port, tracking params) — canon collisions are the point."""
    s = "string" if engine == "spark" else "varchar"
    page = f"cast(doc_id % 100 as {s})"
    return (
        f"concat(CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://WWW.Site' "
        f"ELSE 'https://site' END, cast(doc_id % 4 as {s}), "
        f"'.Example.ORG', CASE WHEN doc_id % 2 = 0 THEN ':443' ELSE '' END, "
        f"'/page/', {page}, "
        f"CASE WHEN doc_id % 3 = 0 THEN '?utm_source=x' ELSE '' END)"
    )


def q_url_dedup_latest(spark, sf_dir) -> DataFrame:
    """Cross-snapshot URL dedup: canonicalize colliding messy urls, keep
    the newest capture per canonical url (ties to highest doc_id). One
    shuffle with map-side max_by partials; oracle replays via a DuckDB
    window."""
    from .operators.webclean import latest_per_canonical_url

    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.expr(snapshot_url_sql("spark")).alias("url"),
        # epoch-us capture time: wraps every 97 docs so max-ts keepers
        # are not simply the max doc_id of the group
        F.expr("cast(1700000000000000 + (doc_id % 97) * 3600000000 "
               "as bigint)").alias("ts_us"))
    return latest_per_canonical_url(d)


def q_pack_sequences(spark, sf_dir) -> DataFrame:
    """GPT-2-style concat-and-chunk sequence packing: whitespace token
    counts, 8 salted packing streams, 512-token budget. One window
    shuffle; pack assignment/offsets/boundary flags exact against the
    identical DuckDB window arithmetic."""
    from .operators.sampling import pack_sequences
    from .operators.textstats import token_count_sql

    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.expr(token_count_sql("text", "spark"))
        .cast("bigint").alias("n_tokens"))
    return pack_sequences(d, budget=512, n_buckets=8)


def q_corpus_report(spark, sf_dir) -> DataFrame:
    """Corpus-composition report over the composed filter: documents and
    distinct hosts per (language, drop reason) — the release-metrics
    rollup a corpus publisher ships with the data. One tiny-key agg on
    top of the corpus_filter plan."""
    return (
        q_corpus_filter(spark, sf_dir)
        .groupBy("lang_pred", "drop_reason")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
             F.countDistinct("host").cast("bigint").alias("n_hosts"),
             F.sum(F.when(F.col("kept"), 1).otherwise(0)).cast("bigint")
             .alias("n_kept"))
    )


def q_html_meta(spark, sf_dir) -> DataFrame:
    """Crawl-policy metadata over deterministically-planted HTML heads:
    robots directives (quoted/unquoted/cased/padded, 'none' implication),
    rel-token canonical links, meta-refresh targets, entity-bearing
    titles. The REAL head parser must recover the closed-form plant.
    Map-only Arrow stage, zero shuffle."""
    from .operators.maincontent import html_meta_flags

    s = "cast(doc_id as string)"
    robots = (
        "CASE WHEN doc_id % 4 = 1 THEN "
        "'<meta name=\"robots\" content=\"noindex, nofollow\">' "
        "WHEN doc_id % 4 = 2 THEN "
        "'<META NAME=\"ROBOTS\" CONTENT=\" NOINDEX \">' "
        "WHEN doc_id % 4 = 3 THEN '<meta name=robots content=none>' "
        "ELSE '' END")
    canonical = (
        f"CASE WHEN doc_id % 5 = 0 THEN concat("
        f"'<link rel=\"Canonical alternate\" "
        f"href=\"https://canon.example/p/', cast(doc_id % 50 as string), "
        f"'\">') ELSE '' END")
    refresh = (
        f"CASE WHEN doc_id % 7 = 0 THEN concat("
        f"'<meta http-equiv=\"Refresh\" content=\"5; "
        f"URL=https://next.example/', {s}, '\">') ELSE '' END")
    title = f"concat('<title> Doc ', {s}, ' &amp;  friends </title>')"
    html = (f"concat('<html><head>', {robots}, {canonical}, {refresh}, "
            f"{title}, '</head><body><p>x</p></body></html>')")
    from .plans.partitioning import spread_if_narrow

    pages = spread_if_narrow(_docs(spark, sf_dir).select(
        "doc_id", F.encode(F.expr(html), "UTF-8").alias("html")), "doc_id")
    return html_meta_flags(pages, id_col="doc_id")


def q_vocab_top_k(spark, sf_dir) -> DataFrame:
    """Corpus vocabulary head: top-200 whitespace tokens by occurrence
    count with document frequency and a deterministic (count desc,
    token asc) rank. One map-side-partial token aggregate + a k-row
    top-k — exact against the identical window in DuckDB."""
    from .operators.textstats import vocab_top_k

    return vocab_top_k(_docs(spark, sf_dir), k=200)

