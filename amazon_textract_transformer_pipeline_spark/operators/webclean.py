"""Web-corpus cleaning operators: URL canonicalization and boilerplate-line
removal — the standard front-of-pipeline passes of a Common-Crawl-scale
training-data flow (CCNet/C4-style), expressed as dual-engine SQL so the
driver oracle checks exact values.

* :func:`canonical_url_sql` — deterministic URL normal form: lowercase
  scheme/host, strip a leading ``www.``, drop default ports (:80/:443),
  drop the fragment, remove tracking params (``utm_*``, ``fbclid``,
  ``gclid``), sort the surviving query params, default empty path to ``/``.
  The canonical url is the right dedup/join key for page-grain data (the
  reference's S7 idempotency token hashes source URIs the same way,
  ``fn-call-textract/main.py:160-187``).
* :func:`remove_boilerplate_lines` — line-grain dedup: lines whose
  normalized hash appears in ≥ ``min_docs`` distinct documents are
  boilerplate (nav/footer/cookie banners at web scale) and are removed from
  every document. One shuffle on the 64-bit line hash with map-side partial
  counts; the common-line set joins back as a shuffle hash join on the
  uniform hash key (NOT a broadcast — at web scale that set is billions of
  rows; see the inline note). Every input document keeps an output row.

Scale note: both are linear passes. The boilerplate counting shuffle is the
same hash-groupBy shape as exact dedup; no all-pairs anything.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import textsql as X

TRACKING_RE = "^(utm_[^=]*|fbclid|gclid)="


def canonical_url_sql(url_expr: str, engine: str) -> str:
    """Cross-engine SQL for the URL normal form (see module docstring)."""
    spark = engine == "spark"
    rx = "regexp_extract"
    scheme = f"lower({rx}({url_expr}, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))"
    auth = f"lower({rx}({url_expr}, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1))"
    # strip leading www. and default ports
    # (www\.)+ not www\.: strip ALL leading repeats so the normal form is a
    # fixed point — canon(canon(u)) == canon(u) (property-tested)
    if spark:
        host = f"regexp_replace({auth}, '^(www\\\\.)+', '')"
        host = (f"CASE WHEN {scheme} = 'https' THEN regexp_replace({host}, ':443$', '') "
                f"WHEN {scheme} = 'http' THEN regexp_replace({host}, ':80$', '') "
                f"ELSE {host} END")
    else:
        host = f"regexp_replace({auth}, '^(www\\.)+', '')"
        host = (f"CASE WHEN {scheme} = 'https' THEN regexp_replace({host}, ':443$', '') "
                f"WHEN {scheme} = 'http' THEN regexp_replace({host}, ':80$', '') "
                f"ELSE {host} END")
    path = f"{rx}({url_expr}, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1)"
    path = f"CASE WHEN {path} = '' THEN '/' ELSE {path} END"
    if spark:
        query = f"{rx}({url_expr}, '\\\\?([^#]*)', 1)"
        kept = (f"array_sort(filter(split({query}, '&'), "
                f"p -> p <> '' AND NOT p rlike '{TRACKING_RE}'))")
        qtail = (f"CASE WHEN size({kept}) > 0 "
                 f"THEN concat('?', array_join({kept}, '&')) ELSE '' END")
    else:
        query = f"{rx}({url_expr}, '\\?([^#]*)', 1)"
        kept = (f"list_sort(list_filter(string_split({query}, '&'), "
                f"p -> p != '' AND NOT regexp_matches(p, '{TRACKING_RE}')))")
        qtail = (f"CASE WHEN len({kept}) > 0 "
                 f"THEN concat('?', array_to_string({kept}, '&')) ELSE '' END")
    # no parseable scheme://authority → pass through untouched (garbage in,
    # same garbage out beats inventing '://' artifacts). Likewise authorities
    # the simple host rules would MANGLE rather than normalize: userinfo
    # (user:pass@host would be lowercased and www-stripped into the
    # credential part) and bracketed IPv6 literals (whose :port handling
    # differs) — both are vanishingly rare in a web corpus and wrong-to-
    # guess, so they keep their original form (pinned in test_webclean).
    like = "like" if spark else "LIKE"
    hostile = f"{auth} {like} '%@%' OR {auth} {like} '%[%'"
    return (f"CASE WHEN {scheme} = '' OR {auth} = '' OR {hostile} "
            f"THEN {url_expr} "
            f"ELSE concat({scheme}, '://', {host}, {path}, {qtail}) END")


def with_canonical_url(df: DataFrame, url_col: str = "url",
                       out_col: str = "url_canon") -> DataFrame:
    return df.withColumn(out_col, F.expr(canonical_url_sql(url_col, "spark")))


# ---------------------------------------------------------------------------
# PII scrubbing (the standard C4-descendant pre-release pass): map-side
# redaction + per-category counts, one expression builder emitting both
# engine dialects (the c4_exprs pattern) so the driver gate checks exact
# values. Regex subset chosen to behave identically under Java regex
# (Spark) and RE2 (DuckDB): character classes, bounded repeats, \b, \d,
# non-capturing groups, greedy-only quantifiers — no backrefs, no
# lookaround, no overlapping alternation prefixes.
# ---------------------------------------------------------------------------

#: (name, pattern, replacement token) — applied IN ORDER, each on the
#: text as scrubbed by the previous categories (emails before ip/id so
#: their digits never double-count; ipv6 before ipv4 so mapped forms
#: aren't split; phones before bare id runs).
PII_RULES: list[tuple[str, str, str]] = [
    ("email",
     r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
     "<EMAIL>"),
    ("ipv6",
     r"\b(?:[0-9A-Fa-f]{1,4}:){3,7}[0-9A-Fa-f]{1,4}\b",
     "<IP6>"),
    ("ipv4",
     r"\b(?:\d{1,3}\.){3}\d{1,3}\b",
     "<IP>"),
    ("phone",
     r"(?:\+\d{1,2}[ .-]?)?(?:\(\d{3}\)[ .-]?|\d{3}[ .-])\d{3}[ .-]?\d{4}\b",
     "<PHONE>"),
    ("id_number",
     r"\b\d{9,}\b",
     "<ID>"),
]


def _rx(pat: str, engine: str) -> str:
    """Regex pattern as a SQL string literal. Spark string literals
    process backslash escapes (escapedStringLiterals=false default) so
    backslashes double; DuckDB standard strings pass them through."""
    if engine == "spark":
        pat = pat.replace("\\", "\\\\")
    return "'" + pat.replace("'", "''") + "'"


def pii_exprs(text: str, engine: str) -> dict[str, str]:
    """PII signals + scrubbed text. ``n_<cat>`` counts matches of each
    category on the text AS SCRUBBED by the preceding categories (the
    sequential semantics both engines replay identically);
    ``text_scrubbed`` is the fully redacted text; ``pii_total`` /
    ``has_pii`` summarize. Pure map-side projection — zero shuffle; at
    corpus scale this composes with the Gopher/C4 filters in the same
    codegen stage before any shuffle-bearing op."""
    size = "size" if engine == "spark" else "len"
    g = ", 'g'" if engine == "duck" else ""
    out: dict[str, str] = {}
    state = text
    totals = []
    for name, pat, token in PII_RULES:
        lit = _rx(pat, engine)
        out[f"n_{name}"] = (f"cast({size}(regexp_extract_all({state}, "
                            f"{lit}, 0)) as bigint)")
        totals.append(out[f"n_{name}"])
        state = f"regexp_replace({state}, {lit}, '{token}'{g})"
    out["text_scrubbed"] = state
    out["pii_total"] = "cast(" + " + ".join(totals) + " as bigint)"
    out["has_pii"] = "(" + " + ".join(totals) + ") > 0"
    return out


def with_pii_scrub(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Append per-category PII counts + the scrubbed-text column."""
    out = docs
    for name, e in pii_exprs(text_col, "spark").items():
        out = out.withColumn(name, F.expr(e))
    return out


def host_sql(url_expr: str, engine: str) -> str:
    """Lowercased registrable host of a URL: authority, leading ``www.``
    repeats stripped, trailing ``:port`` stripped. Userinfo-bearing
    authorities pass through host-extraction of the part after ``@``
    (the actual host). Dialect differs only in backslash doubling."""
    bs = "\\\\" if engine == "spark" else "\\"
    auth = (f"lower(regexp_extract({url_expr}, "
            f"'^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#@]*@)?([^/?#]*)', 1))")
    h = f"regexp_replace({auth}, '^(www{bs}.)+', '')"
    return f"regexp_replace({h}, ':[0-9]+$', '')"


def filter_blocked_domains(docs: DataFrame, blocklist: DataFrame,
                           url_col: str = "url",
                           id_col: str = "doc_id") -> DataFrame:
    """UT1-style domain blocklist filtering (the RefinedWeb/C4 URL-filter
    pass): a document is blocked when its host or ANY parent domain
    (suffix with ≥ 2 labels) appears in ``blocklist`` (one ``domain``
    column, lowercase). Every input doc keeps a row with a ``blocked``
    flag plus the most-specific matching entry (longest, then
    lexicographically greatest — deterministic when several match).

    All input columns pass through (``host``/``blocked``/
    ``blocked_domain`` appended), so downstream map-side stages — the
    quality/langid/sampling verdicts of the composed corpus filter —
    compute directly on this output instead of re-joining the scan
    (which would cost an extra corpus-wide doc_id shuffle).

    Scale shape: per-doc suffix explosion is map-side and bounded by the
    host's label count; the match is one shuffle join on the suffix
    string (UT1-class lists are millions of rows — AQE may broadcast at
    small scale but nothing forces it), then one doc-grain aggregation
    whose output joins back on ``id_col`` (uniform key, skew-free).
    """
    hosts = docs.withColumn("host", F.expr(host_sql(url_col, "spark")))
    suffixes = hosts.select(
        id_col, "host",
        F.explode(F.expr(
            "transform(sequence(0, greatest(size(split(host, '\\\\.')) - 2, 0)), "
            "i -> concat_ws('.', slice(split(host, '\\\\.'), i + 1, "
            "size(split(host, '\\\\.')) - i)))")).alias("suffix"))
    matches = (
        suffixes.join(blocklist.select(F.col("domain").alias("suffix")),
                      "suffix")
        .groupBy(id_col)
        .agg(F.expr("max(struct(length(suffix) as l, suffix as d)).d")
             .alias("blocked_domain"))
    )
    return (
        hosts.join(matches, id_col, "left")
        .select(
            *[F.col(c) for c in hosts.columns],
            F.col("blocked_domain").isNotNull().alias("blocked"),
            "blocked_domain",
        )
    )


def latest_per_canonical_url(docs: DataFrame, url_col: str = "url",
                             ts_col: str = "ts_us",
                             id_col: str = "doc_id") -> DataFrame:
    """Cross-snapshot URL deduplication: canonicalize the url, keep the
    newest capture per canonical url (ties broken to the highest id —
    deterministic when two snapshots share a timestamp). The standard
    first pass when several crawl snapshots of the same web are merged
    (CCNet dedups at this grain before any content hashing).

    ``ts_col`` is an epoch-microseconds BIGINT — the engine's portable
    timestamp grain (raw timestamp columns hash engine-dependently).
    Returns (url_canon, keeper_id, keeper_ts_us, n_versions).

    Scale shape: ONE shuffle on the canonical url with a map-side
    max_by partial (no window sort, no row_number); host skew is real
    at this grain — a hot site's many paths are DIFFERENT canon urls,
    so the key is fine-grained enough that AQE's skew split handles the
    tail without salting.
    """
    canon = docs.withColumn(
        "url_canon", F.expr(canonical_url_sql(url_col, "spark")))
    return (
        canon.groupBy("url_canon")
        .agg(
            F.max_by(id_col, F.struct(F.col(ts_col), F.col(id_col)))
            .alias("keeper_id"),
            F.max(ts_col).cast("bigint").alias("keeper_ts_us"),
            F.count(F.lit(1)).cast("bigint").alias("n_versions"),
        )
    )


def dedup_text_spans(docs: DataFrame, n_sent: int = 3,
                     id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """C4-style three-sentence-span deduplication (Raffel et al. 2020
    §2.2: "we discarded all but one of any three-sentence span occurring
    more than once in the data set"), corpus-global.

    Semantics (pinned, replayed exactly by the DuckDB oracle):

    * sentences = :func:`textsql.sentences` (split after ``./!/?`` +
      space on whitespace-normalized text);
    * spans = every ``n_sent`` *consecutive* sentences (stride 1; docs
      with fewer than ``n_sent`` sentences emit none and pass through);
    * span identity = portable hash64 of the chr(1)-joined sentences;
    * the globally-first occurrence — minimal ``(id, span_ix)`` — keeps
      its sentences; every OTHER occurrence (including later occurrences
      inside the same document) has all ``n_sent`` sentences removed;
    * output text = surviving sentences joined with single spaces; every
      input doc keeps an output row.

    Scale shape: sentence/span explosion is map-side; ranking
    occurrences is ONE shuffle on the uniform 64-bit span hash; removal
    positions and the final reassembly share the document-id
    partitioning (distinct + anti-join + groupBy all on ``(id,
    sent_ix)`` / ``id``). No broadcast anywhere — at Common-Crawl scale
    the duplicated-span set is huge (mirrors, syndication).
    """
    from pyspark.sql import Window

    base = docs.select(
        id_col, F.expr(X.sentences(text_col, "spark")).alias("ss"))
    sent = base.select(
        id_col, F.posexplode_outer("ss").alias("sent_ix", "sentence"))
    spans = (
        base.filter(F.expr(f"size(ss) >= {n_sent}"))
        .select(
            id_col,
            F.posexplode(F.expr(
                f"transform(sequence(0, size(ss) - {n_sent}), "
                f"i -> concat_ws(chr(1), slice(ss, i + 1, {n_sent})))"))
            .alias("span_ix", "span"))
        .withColumn("sh", F.expr(X.h64("span", "spark")))
    )
    w = Window.partitionBy("sh").orderBy(id_col, "span_ix")
    occ = spans.select(
        id_col, "span_ix", "sh",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy("sh")).alias("cnt"))
    removals = (
        occ.filter("cnt >= 2 AND rn > 1")
        .select(id_col, F.explode(F.expr(
            f"sequence(span_ix, span_ix + {n_sent} - 1)")).alias("sent_ix"))
        .distinct()
    )
    kept = sent.join(removals, [id_col, "sent_ix"], "left_anti")
    agg = kept.filter("sentence IS NOT NULL").groupBy(id_col).agg(
        F.expr("concat_ws(' ', transform(array_sort(collect_list("
               "struct(sent_ix, sentence))), x -> x.sentence))")
        .alias("kept_text"),
        F.count("*").cast("bigint").alias("n_sent_kept"))
    n_in = base.select(
        id_col, F.expr("cast(size(ss) as bigint)").alias("n_sent"))
    return (
        n_in.join(agg, id_col, "left")
        .select(
            id_col,
            F.coalesce("kept_text", F.lit("")).alias("kept_text"),
            F.coalesce("n_sent_kept", F.lit(0)).cast("bigint")
            .alias("n_sent_kept"),
            (F.col("n_sent") - F.coalesce("n_sent_kept", F.lit(0)))
            .cast("bigint").alias("n_sent_removed"),
        )
    )


def line_dedup_exprs(text: str, engine: str) -> dict[str, str]:
    """Intra-document repeated-line removal (the RefinedWeb/CCNet
    within-page pass: nav strips, repeated footers, pagination rows
    duplicate INSIDE one page long before corpus-level dedup sees them).

    Semantics (pinned, replayed exactly by the DuckDB oracle):

    * lines split on the real newline; identity is the raw line
      byte-for-byte (no normalization — a trailing space makes a
      different line);
    * a line survives iff it is the FIRST occurrence of its value in
      the document; whitespace-only lines always survive (they carry
      paragraph structure, and collapsing every blank line to one would
      glue unrelated paragraphs);
    * ``kept_text`` re-joins survivors with newlines in original order.

    Entirely map-side — the keep-first rule is an indexed-lambda filter
    (Spark ``filter(ls, (l, i) -> array_position(ls, l) = i + 1)``,
    0-based index; DuckDB ``list_filter`` with 1-based index), so the
    pass costs zero shuffles and composes into the same codegen stage as
    the Gopher/C4 filters. Per-doc cost is O(lines · first-occurrence
    scan) — bounded by page size, independent of corpus size.

    Blankness uses the pinned whitespace set (textstats._trim) — the
    engines' default trims diverge on NBSP/tab, so a bare ``trim`` here
    would keep an NBSP-only line on one engine and dedup it on the
    other.
    """
    from .textstats import _trim

    blank = f"{_trim('l', engine)} = ''"
    if engine == "spark":
        ls = f"split({text}, '\\n')"
        kept = (f"filter({ls}, (l, i) -> {blank} "
                f"OR array_position({ls}, l) = i + 1)")
        n = f"size({ls})"
        nk = f"size({kept})"
        joined = f"array_join({kept}, '\\n')"
    else:
        ls = f"string_split({text}, chr(10))"
        kept = (f"list_filter({ls}, (l, i) -> {blank} "
                f"OR list_position({ls}, l) = i)")
        n = f"len({ls})"
        nk = f"len({kept})"
        joined = f"array_to_string({kept}, chr(10))"
    return {
        "kept_text": joined,
        "n_lines": f"cast({n} as bigint)",
        "n_lines_removed": f"cast({n} - {nk} as bigint)",
    }


def with_line_dedup(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Append the within-document line-dedup columns (map-side)."""
    out = docs
    for name, e in line_dedup_exprs(text_col, "spark").items():
        out = out.withColumn(name, F.expr(e))
    return out


def remove_boilerplate_lines(docs: DataFrame, min_docs: int = 2,
                             words_per_line: int = 12,
                             id_col: str = "doc_id",
                             text_col: str = "text") -> DataFrame:
    """Drop lines (consecutive ``words_per_line``-word chunks, the engine's
    page-line grain) that occur in ≥ ``min_docs`` distinct documents.

    Returns (id_col, kept_text, n_lines_kept, n_lines_removed). Line
    identity = portable hash64 of the whitespace-normalized line.
    """
    ws = X.words(text_col, "spark")
    lines = docs.select(
        id_col,
        F.posexplode(F.expr(
            f"transform(sequence(0, cast((size({ws}) - 1) / {words_per_line} as int)), "
            f"i -> concat_ws(' ', slice({ws}, i * {words_per_line} + 1, {words_per_line})))"
        )).alias("line_ix", "line"),
    ).filter(F.col("line") != "")
    lines = lines.withColumn("lh", F.expr(X.h64("line", "spark")))
    # Deliberately NOT broadcast: at Common-Crawl scale the set of lines
    # repeated in ≥min_docs documents is itself enormous (every nav/footer/
    # cookie string on the web — billions of rows), so a forced broadcast
    # OOMs every executor. A plain shuffle join on ``lh`` is the right plan:
    # the key is a uniform 64-bit hash (no skew), the count aggregate
    # already does map-side partials, and AQE can still choose a broadcast
    # at small scale if the relation measures tiny at runtime.
    common = (
        lines.groupBy("lh")
        .agg(F.countDistinct(id_col).alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("lh")
    )
    flagged = lines.join(common.withColumn("_rm", F.lit(True)), "lh", "left")
    agg = (
        flagged.groupBy(id_col)
        .agg(
            F.expr("concat_ws(' ', transform(array_sort(collect_list("
                   "struct(line_ix, CASE WHEN _rm IS NULL THEN line END as l)"
                   ")), x -> x.l))").alias("kept_text"),
            F.sum(F.when(F.col("_rm").isNull(), 1).otherwise(0))
            .cast("bigint").alias("n_lines_kept"),
            F.sum(F.when(F.col("_rm").isNotNull(), 1).otherwise(0))
            .cast("bigint").alias("n_lines_removed"),
        )
    )
    # Every input doc keeps a row: a zero-word document produces no line
    # rows (the line != '' filter), but a corpus cleaner must not silently
    # drop documents — emit kept_text='' / counts 0, same as a doc whose
    # every line was removed.
    return (
        docs.select(id_col).join(agg, id_col, "left")
        .select(
            id_col,
            F.coalesce("kept_text", F.lit("")).alias("kept_text"),
            F.coalesce("n_lines_kept", F.lit(0)).cast("bigint")
            .alias("n_lines_kept"),
            F.coalesce("n_lines_removed", F.lit(0)).cast("bigint")
            .alias("n_lines_removed"),
        )
    )


def composed_quality_verdicts(docs: DataFrame, blocklist: DataFrame,
                              id_col: str = "doc_id",
                              text_col: str = "text",
                              url_col: str = "url") -> DataFrame:
    """The composed pre-training corpus filter as ONE builder — UT1
    domain blocklist (suffix semi-join) → scored language ID → Gopher
    quality verdict → C4 cleaning verdict → DSIR importance sampling,
    with the FIRST failing stage recorded per document. Every stage
    after the blocklist probe is a stateless map-side projection.

    Returns (id, host, blocked, lang_pred, gopher_pass, c4_pass,
    dsir_sampled, drop_reason, kept).
    """
    from .sampling import importance_exprs
    from .textstats import c4_exprs, gopher_exprs, with_langid

    flagged = filter_blocked_domains(docs, blocklist, url_col=url_col)
    out = (
        with_langid(flagged, text_col=text_col)
        .withColumn("gopher_pass",
                    F.expr(gopher_exprs(text_col, "spark")["gopher_pass"]))
        .withColumn("c4_pass",
                    F.expr(c4_exprs(text_col, "spark")["c4_pass"]))
        .withColumn("dsir_sampled",
                    F.expr(importance_exprs(text_col, "spark",
                                            id_expr=id_col)
                           ["dsir_sampled"]))
    )
    reason = (
        "CASE WHEN blocked THEN 'blocked_domain' "
        "WHEN lang_pred <> 'en' THEN 'language' "
        "WHEN NOT gopher_pass THEN 'gopher_quality' "
        "WHEN NOT c4_pass THEN 'c4_cleaning' "
        "WHEN NOT dsir_sampled THEN 'dsir_sampled_out' END"
    )
    return out.select(
        id_col, "host", "blocked", "lang_pred", "gopher_pass", "c4_pass",
        "dsir_sampled",
        F.expr(reason).alias("drop_reason"),
        F.expr(f"({reason}) IS NULL").alias("kept"),
    )
