"""Per-page language ID: a linear scorer over literal character n-gram
counts (function words and morphological suffixes), weights fixed at plan
time, and an argmax over the scores.

Counting is the length-replace trick (``_char_count``), so the scorer is
codegen'd map-side SQL on both engines and the DuckDB oracle is the same
expression text. Hashing each n-gram into buckets would need a per-gram
md5 lambda, which Spark interprets row by row; a fixed literal gram set
avoids that."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _char_count(text: str, ch: str, engine: str) -> str:
    lit = "'" + ch.replace("'", "''") + "'"
    return (f"(length({text}) - length(replace({text}, {lit}, '')))"
            if len(ch) == 1 else
            f"((length({text}) - length(replace({text}, {lit}, ''))) "
            f"/ {len(ch)})")


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
