"""Text analysis operators: token counting, quality scoring, language ID,
document fingerprinting. Pure portable SQL expressions (oracle-checkable)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import textsql as X

#: tiny per-language stopword lists for the n-gram/stopword heuristic.
#: Membership counting is the operator under test; list size is a knob.
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "it", "that", "for", "with"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "für", "auf"],
    "fr": ["le", "la", "les", "et", "est", "une", "pour", "dans", "que", "des"],
    "es": ["el", "la", "los", "y", "es", "una", "por", "para", "con", "del"],
}
LANG_ORDER = ["en", "de", "fr", "es"]  # deterministic tie precedence


def _arr(items: list[str], engine: str) -> str:
    inner = ", ".join("'" + i.replace("'", "''") + "'" for i in items)
    return f"array({inner})" if engine == "spark" else f"[{inner}]"


def _stop_count(ws: str, lang: str, engine: str) -> str:
    lst = _arr(LANG_STOPWORDS[lang], engine)
    if engine == "spark":
        return f"size(filter({ws}, w -> array_contains({lst}, lower(w))))"
    return f"len(list_filter({ws}, w -> list_contains({lst}, lower(w))))"


def token_count_sql(text: str, engine: str) -> str:
    if engine == "spark":
        return f"size({X.words(text, engine)})"
    return f"len({X.words(text, engine)})"


def bpe_token_count_sql(text: str, engine: str) -> str:
    """BPE-ish token estimate without a tokenizer UDF: per word,
    ceil(len/4) pieces for alnum runs — the SQL twin of
    splitting.stub_tokenize's chunking (upper bound, no symbol splits)."""
    ws = X.words(text, engine)
    if engine == "spark":
        return (f"aggregate(transform({ws}, w -> cast(ceil(length(w) / 4.0) as bigint)), "
                f"cast(0 as bigint), (a, x) -> a + x)")
    # CAST: DuckDB list_sum yields HUGEINT → pandas float64, which would
    # hash-mismatch Spark's int64 in the driver gate. BIGINT keeps dtypes equal.
    return (f"CAST(coalesce(list_sum(list_transform({ws}, "
            f"w -> ceil(len(w) / 4.0)::BIGINT)), 0) AS BIGINT)")


def quality_exprs(text: str, engine: str) -> dict[str, str]:
    """Quality-scoring signals (length, word stats, stopword ratio) —
    the standard web-text filters (C4/Gopher-style rules)."""
    ws = X.words(text, engine)
    size = "size" if engine == "spark" else "len"
    n = f"{size}({ws})"
    mean_len = (
        f"CASE WHEN {n} = 0 THEN 0.0 ELSE "
        + (f"aggregate(transform({ws}, w -> cast(length(w) as bigint)), cast(0 as bigint), (a,x) -> a+x)"
           if engine == "spark"
           else f"list_sum(list_transform({ws}, w -> len(w)::BIGINT))")
        + f" / cast({n} as double) END"
    )
    stop_en = _stop_count(ws, "en", engine)
    return {
        "n_words": f"cast({n} as bigint)",
        "n_chars_actual": f"cast(length({text}) as bigint)",
        "mean_word_len": f"round({mean_len}, 6)",
        "stopword_ratio": (
            f"round(CASE WHEN {n} = 0 THEN 0.0 "
            f"ELSE {stop_en} / cast({n} as double) END, 6)"
        ),
    }


def langid_sql(text: str, engine: str) -> str:
    """Heuristic language ID: argmax of per-language stopword hits, ties by
    LANG_ORDER precedence, zero hits everywhere → 'und'."""
    ws = X.words(f"lower({text})", engine)
    scores = {lg: _stop_count(ws, lg, engine) for lg in LANG_ORDER}
    clauses = []
    for i, lg in enumerate(LANG_ORDER):
        conds = [f"({scores[lg]}) > 0"]
        for j, other in enumerate(LANG_ORDER):
            if j < i:
                conds.append(f"({scores[lg]}) > ({scores[other]})")
            elif j > i:
                conds.append(f"({scores[lg]}) >= ({scores[other]})")
        clauses.append("WHEN " + " AND ".join(conds) + f" THEN '{lg}'")
    return "CASE " + " ".join(clauses) + " ELSE 'und' END"


# ---------------------------------------------------------------------------
# Language ID, the scored form: a linear scorer over literal character
# n-gram counts (function words + morphological suffixes), weights fixed at
# plan time — the langid_sql CASE's stronger sibling. Counting is the
# length-replace trick (_char_count), fully codegen'd map-side SQL on both
# engines: hashing each n-gram through md5 would hit the interpreted-lambda
# trap (measured ~10 ms/doc, memory: spark-perf-pitfalls), so the feature
# space is a fixed literal gram set instead of hashed buckets — same
# plan-time-literal pattern as the LSH hyperplanes.
# ---------------------------------------------------------------------------

#: per-language evidence grams (space-delimited function words + affixes)
#: with integer weights; derived from well-known function-word frequency
#: rankings (public knowledge), weight 2 for grams near-unique to the
#: language, 1 for shared/weaker evidence.
LANGID_PROFILES: dict[str, list[tuple[str, int]]] = {
    "en": [(" the ", 2), (" and ", 2), (" was ", 2), (" that ", 1),
           (" is ", 1), (" of ", 2), (" it ", 1), ("tion ", 1)],
    "de": [(" der ", 2), (" die ", 2), (" und ", 2), (" ist ", 1),
           (" nicht ", 2), (" das ", 1), (" ein ", 1), ("ung ", 1)],
    "fr": [(" le ", 2), (" les ", 2), (" est ", 1), (" une ", 1),
           (" qui ", 2), (" dans ", 2), (" pas ", 2), (" et ", 1)],
    "es": [(" el ", 2), (" los ", 2), (" las ", 2), (" es ", 1),
           (" por ", 1), (" que ", 1), (" y ", 2), ("ción", 2)],
    "pt": [(" não ", 2), (" uma ", 1), (" os ", 1), (" do ", 2),
           (" da ", 2), (" em ", 1), (" é ", 2), ("ção", 2)],
    "it": [(" il ", 2), (" che ", 2), (" di ", 2), (" non ", 2),
           (" per ", 1), (" sono ", 2), (" è ", 2), ("zione", 2)],
    "nl": [(" de ", 1), (" het ", 2), (" een ", 2), (" van ", 2),
           (" niet ", 2), (" en ", 1), (" te ", 1), ("heid ", 2)],
}
LANGID2_ORDER = ["en", "de", "fr", "es", "pt", "it", "nl"]


def _langid_norm(text: str, engine: str) -> str:
    """Lowercased text with \\n/\\t/\\r mapped to spaces and padded with
    one space each side, so word-boundary grams match at edges/lines."""
    c = "char" if engine == "spark" else "chr"
    ws = (f"concat({c}(10), {c}(9), {c}(13))" if engine == "spark"
          else f"({c}(10) || {c}(9) || {c}(13))")
    return f"concat(' ', translate(lower({text}), {ws}, '   '), ' ')"


def langid_score_exprs(text: str, engine: str) -> dict[str, str]:
    """One ``score_<lang>`` expression per profiled language: the
    weighted sum of literal-gram occurrence counts. Meant to be
    projected ONCE (a column per language / a materialized CTE) and
    argmax'd by :func:`langid_argmax_case` over the column names — never
    inline the scores into the CASE (k² textual recompute on DuckDB)."""
    s = _langid_norm(text, engine)
    out = {}
    for lg in LANGID2_ORDER:
        terms = [f"{w} * {_char_count(s, g, engine)}"
                 for g, w in LANGID_PROFILES[lg]]
        out[f"score_{lg}"] = ("cast(" + " + ".join(terms) + " as bigint)")
    return out


def langid_argmax_case(cols: dict[str, str] | None = None) -> str:
    """Argmax over already-projected score columns: ties break by
    LANGID2_ORDER precedence, all-zero → 'und'. ``cols`` maps language →
    column reference (defaults to ``score_<lang>``). Engine-neutral SQL."""
    cols = cols or {lg: f"score_{lg}" for lg in LANGID2_ORDER}
    clauses = []
    for i, lg in enumerate(LANGID2_ORDER):
        conds = [f"{cols[lg]} > 0"]
        for j, other in enumerate(LANGID2_ORDER):
            if j < i:
                conds.append(f"{cols[lg]} > {cols[other]}")
            elif j > i:
                conds.append(f"{cols[lg]} >= {cols[other]}")
        clauses.append("WHEN " + " AND ".join(conds) + f" THEN '{lg}'")
    return "CASE " + " ".join(clauses) + " ELSE 'und' END"


def with_langid(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Append per-language scores + the ``lang_pred`` argmax. Map-side
    projection; scores materialize as columns so the argmax CASE
    references them by name (one codegen stage, no recompute)."""
    out = docs
    for name, e in langid_score_exprs(text_col, "spark").items():
        out = out.withColumn(name, F.expr(e))
    return out.withColumn("lang_pred", F.expr(langid_argmax_case()))


def vocab_top_k(docs: DataFrame, k: int = 1000,
                text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Corpus vocabulary head: the ``k`` most frequent whitespace tokens
    with counts, document frequency, and corpus-coverage rank — the
    relation a tokenizer-training or stopword-fitting step starts from.

    Determinism: rank orders by (count desc, token asc) so ties are
    stable across engines and runs. Output
    (vocab_rank, token, n_occurrences, n_docs).

    Scale shape: one (token) hash aggregate with map-side partials over
    the exploded words (the uniform-key shuffle every word-count has),
    then a k-row TakeOrderedAndProject — no full sort, no window over
    the whole vocabulary (the k-row result is where the row_number
    runs). Document frequency rides the same aggregate via a per-doc
    distinct before the explode leaves the map side.
    """
    from pyspark.sql import Window

    ws = X.words(text_col, "spark")
    tok = docs.select(F.col(id_col).alias("_doc"),
                      F.explode(F.expr(ws)).alias("token"))
    counts = tok.groupBy("token").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_occurrences"),
        F.countDistinct("_doc").cast("bigint").alias("n_docs"))
    top = counts.orderBy(F.col("n_occurrences").desc(),
                         F.col("token").asc()).limit(int(k))
    w = Window.orderBy(F.col("n_occurrences").desc(), F.col("token").asc())
    return top.select(
        F.row_number().over(w).cast("bigint").alias("vocab_rank"),
        "token", "n_occurrences", "n_docs")


def with_text_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    q = quality_exprs(text_col, "spark")
    out = docs
    for name, e in q.items():
        out = out.withColumn(name, F.expr(e))
    return (
        out.withColumn("n_tokens_est", F.expr(bpe_token_count_sql(text_col, "spark")))
        .withColumn("lang_guess", F.expr(langid_sql(text_col, "spark")))
        .withColumn("fingerprint",
                    F.expr(X.h64(X.norm_text(text_col, "spark"), "spark")))
    )


# ---------------------------------------------------------------------------
# Gopher/C4-style document quality filters (Rae et al. 2021 §A1.1 "quality
# filtering"; Raffel et al. 2020 C4 heuristics) — the standard pretraining
# web-text rule set, as portable SQL so the driver gate checks exact values
# against DuckDB.
# ---------------------------------------------------------------------------

#: Gopher's "must contain ≥2 of these" stop set
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]

#: rule thresholds (Gopher paper values)
GOPHER_MIN_WORDS, GOPHER_MAX_WORDS = 50, 100_000
GOPHER_MIN_MEAN_LEN, GOPHER_MAX_MEAN_LEN = 3.0, 10.0
GOPHER_MAX_SYMBOL_RATIO = 0.1
GOPHER_MAX_BULLET_FRAC = 0.9
GOPHER_MAX_ELLIPSIS_FRAC = 0.3
GOPHER_MIN_ALPHA_FRAC = 0.8
GOPHER_MIN_STOP_HITS = 2


def _ws_set(engine: str) -> str:
    """SQL expression for the pinned whitespace-trim set: space, tab,
    CR, NBSP. The engines' DEFAULT trims diverge (measured: DuckDB
    strips NBSP but not tab; Spark strips ASCII space only), so every
    trim in the quality-filter builders names this set explicitly —
    one definition, both dialects, NBSP-padded lines behave
    identically."""
    return ("concat(' ', char(9), char(13), char(160))"
            if engine == "spark"
            else "(' ' || chr(9) || chr(13) || chr(160))")


def _trim(x: str, engine: str, side: str = "BOTH") -> str:
    s = _ws_set(engine)
    if engine == "spark":
        return f"trim({side} {s} FROM {x})"
    fn = {"BOTH": "trim", "TRAILING": "rtrim", "LEADING": "ltrim"}[side]
    return f"{fn}({x}, {s})"


def _char_count(text: str, ch: str, engine: str) -> str:
    lit = "'" + ch.replace("'", "''") + "'"
    return (f"(length({text}) - length(replace({text}, {lit}, '')))"
            if len(ch) == 1 else
            f"((length({text}) - length(replace({text}, {lit}, ''))) "
            f"/ {len(ch)})")


def gopher_exprs(text: str, engine: str) -> dict[str, str]:
    """Per-document Gopher/C4 signal + verdict expressions. Pure map-side
    SQL on both engines — zero shuffle, exact cross-engine values."""
    ws = X.words(text, engine)
    size = "size" if engine == "spark" else "len"
    n = f"{size}({ws})"
    dbl = "double"
    tr = _trim("l", engine)
    rt = _trim("l", engine, "TRAILING")
    if engine == "spark":
        lines = f"filter(split({text}, '\\n'), l -> {tr} <> '')"
        alpha = f"size(filter({ws}, w -> w rlike '[A-Za-z]'))"
        bullets = (f"size(filter({lines}, l -> "
                   f"startswith({tr}, '-') OR startswith({tr}, '*') "
                   f"OR startswith({tr}, '•')))")
        ellip = (f"size(filter({lines}, l -> "
                 f"endswith({rt}, '...') OR endswith({rt}, '…')))")
        stop_hits = (f"size(filter({ws}, w -> "
                     f"array_contains({_arr(GOPHER_STOPWORDS, engine)}, "
                     f"lower(w))))")
    else:
        lines = (f"list_filter(string_split({text}, chr(10)), "
                 f"l -> {tr} != '')")
        alpha = (f"len(list_filter({ws}, "
                 f"w -> regexp_matches(w, '[A-Za-z]')))")
        bullets = (f"len(list_filter({lines}, l -> "
                   f"starts_with({tr}, '-') OR starts_with({tr}, '*') "
                   f"OR starts_with({tr}, '•')))")
        ellip = (f"len(list_filter({lines}, l -> "
                 f"ends_with({rt}, '...') OR ends_with({rt}, "
                 f"'…')))")
        stop_hits = (f"len(list_filter({ws}, w -> "
                     f"list_contains({_arr(GOPHER_STOPWORDS, engine)}, "
                     f"lower(w))))")
    nl = f"{size}({lines})"
    mean_len = quality_exprs(text, engine)["mean_word_len"]
    hash_count = _char_count(text, "#", engine)
    # both ellipsis spellings count — web text overwhelmingly writes the
    # ASCII '...' form, so counting only U+2026 left the 0.1 rule inert
    ell_count = (f"({_char_count(text, '…', engine)} + "
                 f"{_char_count(text, '...', engine)})")
    symbol_ratio = (f"round(CASE WHEN {n} = 0 THEN 0.0 ELSE "
                    f"({hash_count} + {ell_count}) / cast({n} as {dbl}) "
                    f"END, 6)")
    bullet_frac = (f"round(CASE WHEN {nl} = 0 THEN 0.0 ELSE "
                   f"{bullets} / cast({nl} as {dbl}) END, 6)")
    ellipsis_frac = (f"round(CASE WHEN {nl} = 0 THEN 0.0 ELSE "
                     f"{ellip} / cast({nl} as {dbl}) END, 6)")
    alpha_frac = (f"round(CASE WHEN {n} = 0 THEN 0.0 ELSE "
                  f"{alpha} / cast({n} as {dbl}) END, 6)")
    out = {
        "n_words": f"cast({n} as bigint)",
        "mean_word_len": mean_len,
        "symbol_word_ratio": symbol_ratio,
        "bullet_line_frac": bullet_frac,
        "ellipsis_line_frac": ellipsis_frac,
        "alpha_word_frac": alpha_frac,
        "gopher_stop_hits": f"cast({stop_hits} as bigint)",
        # either brace kind — a page containing only '}' is still code-like
        "has_curly_brace": ("(contains(" + text + ", '{') OR contains("
                            + text + ", '}'))"),
        "has_lorem_ipsum": f"contains(lower({text}), 'lorem ipsum')",
    }
    out["gopher_pass"] = (
        f"(({out['n_words']}) BETWEEN {GOPHER_MIN_WORDS} AND "
        f"{GOPHER_MAX_WORDS})"
        f" AND (({mean_len}) BETWEEN {GOPHER_MIN_MEAN_LEN} AND "
        f"{GOPHER_MAX_MEAN_LEN})"
        f" AND ({symbol_ratio}) <= {GOPHER_MAX_SYMBOL_RATIO}"
        f" AND ({bullet_frac}) <= {GOPHER_MAX_BULLET_FRAC}"
        f" AND ({ellipsis_frac}) <= {GOPHER_MAX_ELLIPSIS_FRAC}"
        f" AND ({alpha_frac}) >= {GOPHER_MIN_ALPHA_FRAC}"
        f" AND ({out['gopher_stop_hits']}) >= {GOPHER_MIN_STOP_HITS}"
        f" AND NOT ({out['has_curly_brace']})"
        f" AND NOT ({out['has_lorem_ipsum']})"
    )
    return out


def with_gopher_filters(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Append the Gopher/C4 signal + verdict columns. Map-side projection
    only — composes with any scan and survives predicate pushdown; at
    corpus scale the verdict column is the pre-training corpus filter
    (`.filter("gopher_pass")`), applied before any shuffle-bearing stage
    so dedup/dedup-join volumes shrink first."""
    out = docs
    for name, e in gopher_exprs(text_col, "spark").items():
        out = out.withColumn(name, F.expr(e))
    return out


# ---------------------------------------------------------------------------
# Gopher repetition filters (Rae et al. 2021 Table A1, "repetition removal"):
# duplicate-line fractions are per-doc HOF expressions (map-side, both
# engines); top n-gram character fractions are relational (one shuffle on
# (doc, gram) with map-side partials — the mode of a per-doc distribution
# cannot be a scalar expression).
# ---------------------------------------------------------------------------

GOPHER_MAX_DUP_LINE_FRAC = 0.30
GOPHER_MAX_DUP_LINE_CHAR_FRAC = 0.20
GOPHER_MAX_DUP_PARA_FRAC = 0.30
GOPHER_MAX_DUP_PARA_CHAR_FRAC = 0.20
GOPHER_MAX_TOP2_CHAR_FRAC = 0.20
GOPHER_MAX_TOP3_CHAR_FRAC = 0.18

#: Rae et al. 2021 Table A1 "duplicate n-gram character fraction" caps
GOPHER_MAX_DUP_NGRAM_CHAR_FRAC = {5: 0.15, 6: 0.14, 7: 0.13, 8: 0.12,
                                  9: 0.11, 10: 0.10}


def _dup_unit_exprs(text: str, engine: str, sep_desc: str,
                    prefix: str) -> dict[str, str]:
    """Duplicate-fraction signals over one text unit (lines or
    paragraphs). A *duplicate* is any occurrence after the first;
    ``<p>_frac`` = duplicates / units, ``<p>_char_frac`` = characters in
    duplicate occurrences / characters in all units. Empty/whitespace-
    only units are dropped first."""
    tr = _trim("l", engine)
    if engine == "spark":
        units = (f"filter(transform(split({text}, '{sep_desc}'), "
                 f"l -> {tr}), l -> l <> '')")
        dist = f"array_distinct({units})"
        chars = ("aggregate(transform({a}, l -> cast(length(l) as bigint)), "
                 "cast(0 as bigint), (a, x) -> a + x)")
        n, nd = f"size({units})", f"size({dist})"
    else:
        dsep = "chr(10)" if sep_desc == "\\n" else "chr(10) || chr(10)"
        units = (f"list_filter(list_transform("
                 f"string_split({text}, {dsep}),"
                 f" l -> {tr}), l -> l != '')")
        dist = f"list_distinct({units})"
        chars = ("CAST(coalesce(list_sum(list_transform({a}, "
                 "l -> len(l)::BIGINT)), 0) AS BIGINT)")
        n, nd = f"len({units})", f"len({dist})"
    all_chars = chars.format(a=units)
    dist_chars = chars.format(a=dist)
    return {
        f"{prefix}_frac": (
            f"round(CASE WHEN {n} = 0 THEN 0.0 ELSE "
            f"({n} - {nd}) / cast({n} as double) END, 6)"),
        f"{prefix}_char_frac": (
            f"round(CASE WHEN ({all_chars}) = 0 THEN 0.0 ELSE "
            f"(({all_chars}) - ({dist_chars})) / "
            f"cast({all_chars} as double) END, 6)"),
    }


def repetition_exprs(text: str, engine: str) -> dict[str, str]:
    """Duplicate-line AND duplicate-paragraph signals (paragraphs split
    on blank lines). The 5-10-gram *duplicated*-char-fraction rules are
    intentionally out of scope (their non-overlap accounting has no
    single canonical definition to pin an oracle to); the top-2/3-gram
    fractions in :func:`with_repetition_filters` cover the n-gram
    half."""
    out = _dup_unit_exprs(text, engine, "\\n", "dup_line")
    out.update(_dup_unit_exprs(text, engine, "\\n\\n", "dup_para"))
    return out


def _top_ngram_frac(docs: DataFrame, n: int, text_col: str,
                    id_col: str) -> DataFrame:
    """(_id, top{n}_char_frac): characters covered by the most frequent
    word n-gram / total word characters; docs with < n words score 0.
    The winner is the gram with the highest count (the Gopher paper's
    definition — NOT the max of count × chars, which would let a rarer
    but longer gram overstate the fraction); count ties break toward the
    lexicographically greatest gram via max-of-struct ordering, which is
    byte-identical on Spark (UTF8_BINARY) and DuckDB (memcmp VARCHAR).

    Plan note (measured 10.0 → 2.5 s at sf0.1): the word split is
    materialized ONCE per row behind a repartition barrier — without it
    Catalyst's CollapseProject inlines the regex split into the shingle
    lambda and re-tokenizes the document per gram index (O(words²)
    chars), the expensive-lambda-body trap. After the barrier the lambda only
    slices an in-memory array. The (id, gram) hash agg runs with
    map-side partials; both n=2 and n=3 reuse the same exchange."""
    ws = X.words(text_col, "spark")
    base = (
        docs.select(F.col(id_col).alias("_id"), F.expr(ws).alias("_w"))
        .repartition(F.col("_id"))  # barrier: split once, slice many
    )
    gram = (f"transform(sequence(0, size(_w) - {n}), "
            f"i -> concat_ws(' ', slice(_w, i + 1, {n})))")
    counted = (
        base.where(F.expr(f"size(_w) >= {n}"))
        .select("_id", F.explode(F.expr(gram)).alias("gram"))
        .groupBy("_id", "gram").agg(F.count("*").alias("cnt"))
        .groupBy("_id").agg(
            F.max(F.struct(F.col("cnt"), F.col("gram"))).alias("m"))
        .select("_id",
                (F.col("m.cnt") *
                 F.expr(f"length(m.gram) - {n - 1}")).alias("top_chars"))
    )
    totals = base.select(
        "_id",
        F.expr("aggregate(transform(_w, w -> cast(length(w) as bigint)), "
               "cast(0 as bigint), (a, x) -> a + x)").alias("_total"))
    return totals.join(counted, "_id", "left").select(
        F.col("_id"),
        F.round(F.when((F.col("_total") > 0) & F.col("top_chars").isNotNull(),
                       F.col("top_chars") / F.col("_total").cast("double"))
                .otherwise(F.lit(0.0)), 6).alias(f"top{n}_char_frac"))


def _dup_ngram_fracs(docs: DataFrame, text_col: str, id_col: str,
                     ns: tuple[int, ...] = (5, 6, 7, 8, 9, 10)) -> DataFrame:
    """(_id, dup{n}gram_char_frac …): Gopher's duplicate-n-gram character
    fractions, with the non-overlap accounting pinned to ONE canonical
    definition: a word position is *covered* when any occurrence of any
    in-doc-duplicated n-gram (count ≥ 2) spans it; the fraction is chars
    of covered words / chars of all words. Overlapping duplicated spans
    therefore never double-count (frac ≤ 1 by construction), unlike the
    top-n-gram fractions above which are paper-faithfully unclipped.

    Plan shape: ONE explode emits (doc, n, pos, gram) for all six n
    behind the same split-once repartition barrier the top-gram stage
    uses (the exchange is reused); one (doc, n, gram) hash agg with
    map-side partials finds duplicated grams, positions re-explode to a
    distinct covered set, chars join back at (doc, wordpos) grain, and a
    fixed-width pivot folds the six n values into columns. Every key is
    doc-scoped so skew is bounded by document length."""
    ws = X.words(text_col, "spark")
    base = (
        docs.select(F.col(id_col).alias("_id"), F.expr(ws).alias("_w"))
        .repartition(F.col("_id"))  # barrier: split once, slice many
    )
    parts = []
    for n in ns:
        parts.append(
            f"CASE WHEN size(_w) >= {n} THEN "
            f"transform(sequence(0, size(_w) - {n}), "
            f"i -> struct({n} AS n, i AS pos, "
            f"concat_ws(' ', slice(_w, i + 1, {n})) AS gram)) "
            f"ELSE array() END")
    occ = (
        base.select("_id",
                    F.explode(F.expr("concat(" + ", ".join(parts) + ")"))
                    .alias("o"))
        .select("_id", F.col("o.n").alias("n"),
                F.col("o.pos").alias("pos"), F.col("o.gram").alias("gram"))
    )
    covered = (
        occ.groupBy("_id", "n", "gram")
        .agg(F.count("*").alias("cnt"), F.collect_list("pos").alias("ps"))
        .filter(F.col("cnt") >= 2)
        .select("_id", "n", F.explode("ps").alias("p"))
        .select("_id", "n",
                F.explode(F.expr("sequence(p, p + n - 1)")).alias("wpos"))
        .distinct()
    )
    wl = base.select("_id", F.posexplode("_w").alias("wpos", "_word")) \
        .select("_id", "wpos", F.length("_word").alias("wlen"))
    cov = (
        covered.join(wl, ["_id", "wpos"])
        .groupBy("_id").pivot("n", list(ns)).sum("wlen")
    )
    totals = base.select(
        "_id",
        F.expr("aggregate(transform(_w, w -> cast(length(w) as bigint)), "
               "cast(0 as bigint), (a, x) -> a + x)").alias("_total"))
    out = totals.join(cov, "_id", "left")
    for n in ns:
        out = out.withColumn(
            f"dup{n}gram_char_frac",
            F.round(F.when((F.col("_total") > 0) &
                           F.col(str(n)).isNotNull(),
                           F.col(str(n)) / F.col("_total").cast("double"))
                    .otherwise(F.lit(0.0)), 6))
    return out.select("_id", *[f"dup{n}gram_char_frac" for n in ns])


def with_repetition_filters(docs: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id",
                            include_dup_ngrams: bool = True) -> DataFrame:
    """Append duplicate-line/paragraph signals (map-side), top-2/3-gram
    character fractions (one shuffle each, reusing the same scan), the
    duplicate-5..10-gram character fractions (one combined explode, see
    :func:`_dup_ngram_fracs`), and the combined ``repetition_pass``
    verdict at the Gopher thresholds — the full Table A1 repetition rule
    set."""
    out = docs
    for name, e in repetition_exprs(text_col, "spark").items():
        out = out.withColumn(name, F.expr(e))
    for n in (2, 3):
        frac = _top_ngram_frac(docs, n, text_col, id_col)
        out = out.join(frac, out[id_col] == frac["_id"], "left") \
            .drop("_id") \
            .withColumn(f"top{n}_char_frac",
                        F.coalesce(f"top{n}_char_frac", F.lit(0.0)))
    verdict = (
        (F.col("dup_line_frac") <= GOPHER_MAX_DUP_LINE_FRAC)
        & (F.col("dup_line_char_frac") <= GOPHER_MAX_DUP_LINE_CHAR_FRAC)
        & (F.col("dup_para_frac") <= GOPHER_MAX_DUP_PARA_FRAC)
        & (F.col("dup_para_char_frac") <= GOPHER_MAX_DUP_PARA_CHAR_FRAC)
        & (F.col("top2_char_frac") <= GOPHER_MAX_TOP2_CHAR_FRAC)
        & (F.col("top3_char_frac") <= GOPHER_MAX_TOP3_CHAR_FRAC))
    if include_dup_ngrams:
        dng = _dup_ngram_fracs(docs, text_col, id_col)
        out = out.join(dng, out[id_col] == dng["_id"], "left").drop("_id")
        for n, cap in GOPHER_MAX_DUP_NGRAM_CHAR_FRAC.items():
            col = f"dup{n}gram_char_frac"
            out = out.withColumn(col, F.coalesce(col, F.lit(0.0)))
            verdict = verdict & (F.col(col) <= cap)
    return out.withColumn("repetition_pass", verdict)


# ---------------------------------------------------------------------------
# C4 line-level filters (Raffel et al. 2020 §2.2, the C4 cleaning rules) —
# the line-grain companion to the Gopher document-grain rules above. One
# expression builder, both engine dialects, map-side only.
# ---------------------------------------------------------------------------

C4_MIN_LINE_WORDS = 5
C4_MIN_SENTENCES = 3
#: terminal punctuation a retained line must end with (C4 keeps quoted
#: sentence ends too)
C4_TERMINALS = [".", "!", "?", '"']


def c4_exprs(text: str, engine: str) -> dict[str, str]:
    """C4 cleaning signals: per-line retention (ends in terminal
    punctuation AND ≥5 words AND no 'javascript'), the retained text,
    and the page verdict (≥3 sentences in retained text, no curly brace,
    no lorem ipsum). Sentence count is pinned to one deterministic
    definition — occurrences of '.', '!', '?' in the retained text (an
    upper bound on true sentences; both engines count identically)."""
    size = "size" if engine == "spark" else "len"
    rt = _trim("l", engine, "TRAILING")
    if engine == "spark":
        lines = f"split({text}, '\\n')"
        ends = " OR ".join(
            f"endswith({rt}, '{t}')" if t != '"'
            else f'endswith({rt}, \'"\')'
            for t in C4_TERMINALS)
        wc = "size(filter(split(l, '\\\\s+'), w -> w <> ''))"
        kept = (f"filter({lines}, l -> ({ends}) "
                f"AND {wc} >= {C4_MIN_LINE_WORDS} "
                f"AND NOT contains(lower(l), 'javascript'))")
        kept_text = f"concat_ws('\\n', {kept})"
    else:
        lines = f"string_split({text}, chr(10))"
        ends = " OR ".join(
            f"ends_with({rt}, '{t}')" if t != '"'
            else f"ends_with({rt}, '\"')"
            for t in C4_TERMINALS)
        wc = ("len(list_filter(string_split_regex(l, '\\s+'), "
              "w -> w != ''))")
        kept = (f"list_filter({lines}, l -> ({ends}) "
                f"AND {wc} >= {C4_MIN_LINE_WORDS} "
                f"AND NOT contains(lower(l), 'javascript'))")
        # DuckDB array_to_string([]) is NULL; Spark concat_ws is '' —
        # coalesce pins the empty-page case to Spark's semantics
        kept_text = f"coalesce(array_to_string({kept}, chr(10)), '')"
    sentences = " + ".join(
        _char_count(kept_text, t, engine) for t in (".", "!", "?"))
    out = {
        "c4_kept_text": kept_text,
        "c4_n_kept_lines": f"cast({size}({kept}) as bigint)",
        "c4_n_sentences": f"cast({sentences} as bigint)",
    }
    # C4 drops pages containing a curly brace of EITHER kind (Raffel et
    # al. §2.2 — code-bearing pages open or close braces)
    open_b, close_b = "NOT contains(" + text + ", '{')", \
        "NOT contains(" + text + ", '}')"
    out["c4_pass"] = (
        f"(({sentences}) >= {C4_MIN_SENTENCES})"
        f" AND {open_b} AND {close_b}"
        f" AND NOT contains(lower({text}), 'lorem ipsum')"
    )
    return out


def with_c4_filters(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Append the C4 line-retention columns + page verdict. Map-side
    projection only — like the Gopher verdict this runs BEFORE any
    shuffle-bearing stage at corpus scale; ``c4_kept_text`` is the
    cleaned training text for retained pages."""
    out = docs
    for name, e in c4_exprs(text_col, "spark").items():
        out = out.withColumn(name, F.expr(e))
    return out
