"""Driver contract for the spark-graft builder (PySpark target).

``entry`` runs the flagship extraction end-to-end on sf0.001; ``queries``
exposes one callable per implemented operator family (SURVEY.md §2) over the
driver's parquet tables; ``oracle_sql`` gives the DuckDB recomputation of
each SQL-expressible query (built in
amazon_textract_transformer_pipeline_spark/oracle.py from the same layout
constants and portable-hash stubs as the Spark side). Every query has an exact-value
oracle: the Q2 splitter (greedy window fill with backfill) via a recursive
CTE; PDF metadata and PDF text against the closed-form spec of the
deterministic PDF generator.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, str(Path(__file__).resolve().parent))

from amazon_textract_transformer_pipeline_spark import driver_queries as Q  # noqa: E402
from amazon_textract_transformer_pipeline_spark import oracle as O  # noqa: E402
from amazon_textract_transformer_pipeline_spark.functions import textsql as X  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full HTML front-end + byte-identical text assembly over the
    sf0.001 documents table (rendered to pages via the bridge)."""
    return Q.q_extract_text(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # --- PDF front-end and corpus operators
        "pdf_metadata": Q.q_pdf_metadata,
        "pdf_extract": Q.q_pdf_extract,
        "gopher_filters": Q.q_gopher_filters,
        "c4_filters": Q.q_c4_filters,
        "pack_sequences": Q.q_pack_sequences,
        "vocab_top_k": Q.q_vocab_top_k,
        # --- extraction path
        "extract_text": Q.q_extract_text,
        "word_enrichment": Q.q_word_enrichment,
        "entity_mentions": Q.q_entity_mentions,
        "field_values": Q.q_field_values,
        "fields": Q.q_fields,
        "doc_confidence": Q.q_doc_confidence,
        "apply_review": Q.q_apply_review,
        # --- splitter over the spread bridge
        "split_windows": Q.q_split_windows,
        # --- text stats
        "text_stats": Q.q_text_stats,
        "langid_scores": Q.q_langid_scores,
        # --- Gopher repetition signals
        "gopher_repetition": Q.q_gopher_repetition,
        # --- sampling, charsets
        "mixture_sample": Q.q_mixture_sample,
        "dsir_importance": Q.q_dsir_importance,
        "charset_extract": Q.q_charset_extract,
    }


def oracle_sql() -> dict[str, str]:
    sqls: dict[str, str] = {
        "extract_text": O.extract_text_oracle(),
        "word_enrichment": O.word_enrichment_oracle(),
        "entity_mentions": O.mentions_oracle(),
        "field_values": O.field_values_oracle(),
        "fields": O.fields_oracle(),
        "doc_confidence": O.doc_confidence_oracle(),
        "apply_review": O.apply_review_oracle(),
        "text_stats": None,  # built below
    }

    # text_stats assembled from the same expression builders
    from amazon_textract_transformer_pipeline_spark.operators.textstats import (
        bpe_token_count_sql,
        langid_sql,
        quality_exprs,
    )

    q = quality_exprs("text", "duck")
    sqls["text_stats"] = f"""
SELECT doc_id,
       {q['n_words']} AS n_words,
       {q['n_chars_actual']} AS n_chars_actual,
       {q['mean_word_len']} AS mean_word_len,
       {q['stopword_ratio']} AS stopword_ratio,
       {bpe_token_count_sql('text', 'duck')} AS n_tokens_est,
       {langid_sql('text', 'duck')} AS lang_guess
FROM documents"""

    # langid_scores oracle: score columns projected once in a CTE, argmax
    # CASE over the column names (inlining scores into the CASE would
    # recompute each k× textually on DuckDB)
    from amazon_textract_transformer_pipeline_spark.operators.textstats import (
        LANGID2_ORDER,
        langid_argmax_case,
        langid_score_exprs,
    )
    lsel = ", ".join(f"{x} AS {k}"
                     for k, x in langid_score_exprs("text", "duck").items())
    score_cols = ", ".join(f"score_{lg}" for lg in LANGID2_ORDER)
    sqls["langid_scores"] = f"""
WITH s AS MATERIALIZED (
  SELECT doc_id, {lsel} FROM documents
)
SELECT doc_id, {score_cols},
       {langid_argmax_case()} AS lang_pred
FROM s"""

    # pdf oracles: the synthetic PDF corpus (synthetic.synth_pdf_df) is a
    # closed-form function of media_id — dims 300+(i%5)*60 × 400+(i%4)*80,
    # 1+i%4 pages, 1+(i+p)%3 lines of 'doc i page p line j tokK' — so the
    # whole native parser (xref tables/streams/predictors/ObjStm, page
    # tree, content-stream interpreter, assembly) verifies against the
    # spec, not against itself.
    sqls["pdf_metadata"] = """
SELECT i AS media_id,
       cast(300 + (i % 5) * 60 AS int) AS width,
       cast(400 + (i % 4) * 80 AS int) AS height,
       cast(1 + i % 4 AS int) AS n_pages,
       (i % 8) IN (3, 7) AS encrypted,
       true AS valid
FROM range(0, 120) t(i)"""

    sqls["pdf_extract"] = """
WITH pages AS (
  SELECT i, p FROM range(0, 120) t(i), range(0, 4) pr(p)
  WHERE p < 1 + i % 4),
lines AS (
  SELECT i, p, j FROM pages, range(0, 3) lr(j)
  WHERE j < 1 + (i + p) % 3)
SELECT 'pdf://' || i AS url,
       cast(1 + i % 4 AS int) AS n_pages,
       string_agg('doc ' || i || ' page ' || p || ' line ' || j ||
                  ' tok' || ((i*7 + p*3 + j) % 100) || ' café',
                  chr(10) ORDER BY p, j) AS extracted_text
FROM lines GROUP BY i"""

    # gopher_filters oracle: identical rule expressions emitted for the
    # DuckDB dialect by the same expression builder.
    from amazon_textract_transformer_pipeline_spark.operators.textstats import (
        gopher_exprs,
    )
    gsel = ", ".join(f"{x} AS {k}" for k, x in gopher_exprs("text", "duck").items())
    sqls["gopher_filters"] = f"SELECT doc_id, {gsel} FROM documents"

    # c4_filters oracle: same one-builder-both-dialects pattern
    from amazon_textract_transformer_pipeline_spark.operators.textstats import (
        c4_exprs,
    )
    csel = ", ".join(f"{x} AS {k}" for k, x in c4_exprs("text", "duck").items())
    sqls["c4_filters"] = f"SELECT doc_id, {csel} FROM documents"

    # gopher_repetition oracle: duplicate-line HOFs inline; top n-gram char
    # fractions as staged CTEs (explode grams once per n — DuckDB would
    # recompute an inline HOF per reference).
    from amazon_textract_transformer_pipeline_spark.operators.textstats import (
        repetition_exprs,
    )
    from amazon_textract_transformer_pipeline_spark.operators.textstats import (
        GOPHER_MAX_DUP_LINE_CHAR_FRAC,
        GOPHER_MAX_DUP_LINE_FRAC,
        GOPHER_MAX_DUP_PARA_CHAR_FRAC,
        GOPHER_MAX_DUP_PARA_FRAC,
        GOPHER_MAX_TOP2_CHAR_FRAC,
        GOPHER_MAX_TOP3_CHAR_FRAC,
    )
    rsel = ", ".join(f"{x} AS {k}"
                     for k, x in repetition_exprs("text", "duck").items())
    dwords = X.words("text", "duck")
    total = ("CAST(coalesce(list_sum(list_transform(" + dwords +
             ", w -> len(w)::BIGINT)), 0) AS BIGINT)")

    def _gram_cte(n):
        sh = X.shingles(dwords, n, "duck")
        return f"""
g{n} AS MATERIALIZED (
  SELECT doc_id, {total} AS total, unnest({sh}) AS gram FROM documents
),
c{n} AS (
  -- winner = most frequent gram (ties: lexicographically greatest via
  -- struct max — byte-identical ordering to Spark's max-of-struct)
  SELECT doc_id, any_value(total) AS total,
         max(struct_pack(c := cnt, g := gram)) AS m
  FROM (SELECT doc_id, total, gram, count(*) AS cnt FROM g{n}
        WHERE len(string_split(gram, ' ')) >= {n}
        GROUP BY doc_id, total, gram)
  GROUP BY doc_id
),
f{n} AS (
  SELECT doc_id, round(CASE WHEN total > 0
         THEN (m.c * len(replace(m.g, ' ', ''))) / total::DOUBLE
         ELSE 0.0 END, 6)
         AS top{n}_char_frac
  FROM c{n}
)"""

    # duplicate-5..10-gram character fractions: covered-position
    # accounting (see textstats._dup_ngram_fracs) as staged CTEs
    from amazon_textract_transformer_pipeline_spark.operators.textstats import (
        GOPHER_MAX_DUP_NGRAM_CHAR_FRAC,
    )

    def _dupgram_ctes(n):
        return f"""
o{n} AS MATERIALIZED (
  SELECT doc_id, u.pos AS pos, u.gram AS gram FROM (
    SELECT doc_id, unnest(list_transform(range(1, len(ws) - {n} + 2),
           i -> {{'pos': i,
                  'gram': array_to_string(list_slice(ws, i, i + {n} - 1),
                                          ' ')}})) AS u
    FROM docw WHERE len(ws) >= {n})
),
dn{n} AS (
  SELECT doc_id, list(pos) AS ps FROM o{n}
  GROUP BY doc_id, gram HAVING count(*) >= 2
),
cv{n} AS (
  SELECT DISTINCT doc_id, wpos FROM (
    SELECT doc_id, unnest(range(p, p + {n})) AS wpos
    FROM (SELECT doc_id, unnest(ps) AS p FROM dn{n}))
),
s{n} AS (
  SELECT cv.doc_id, sum(w.wlen) AS c
  FROM cv{n} cv JOIN wpos w
    ON w.doc_id = cv.doc_id AND w.wpos = cv.wpos
  GROUP BY cv.doc_id
)"""

    def _dupgram_frac(n):
        return (f"round(coalesce(CASE WHEN ({total}) > 0 THEN "
                f"s{n}.c / ({total})::DOUBLE ELSE 0.0 END, 0.0), 6)")

    dup_ns = sorted(GOPHER_MAX_DUP_NGRAM_CHAR_FRAC)
    dup_cols = ",\n       ".join(
        f"{_dupgram_frac(n)} AS dup{n}gram_char_frac" for n in dup_ns)
    dup_conds = "\n       ".join(
        f"AND {_dupgram_frac(n)} <= {GOPHER_MAX_DUP_NGRAM_CHAR_FRAC[n]}"
        for n in dup_ns)
    dup_joins = "\n".join(
        f"LEFT JOIN s{n} ON s{n}.doc_id = d.doc_id" for n in dup_ns)

    sqls["gopher_repetition"] = f"""
WITH docw AS MATERIALIZED (
  SELECT doc_id, {dwords} AS ws FROM documents
),
wpos AS MATERIALIZED (
  SELECT doc_id, u.wpos AS wpos, u.wlen AS wlen FROM (
    SELECT doc_id, unnest(list_transform(range(1, len(ws) + 1),
           i -> {{'wpos': i, 'wlen': len(ws[i])}})) AS u FROM docw)
),
{_gram_cte(2).strip()},
{_gram_cte(3).strip()},
{",".join(_dupgram_ctes(n).strip() for n in dup_ns)}
SELECT d.doc_id, {rsel},
       coalesce(f2.top2_char_frac, 0.0) AS top2_char_frac,
       coalesce(f3.top3_char_frac, 0.0) AS top3_char_frac,
       {dup_cols},
       ({repetition_exprs("text", "duck")["dup_line_frac"]})
           <= {GOPHER_MAX_DUP_LINE_FRAC}
       AND ({repetition_exprs("text", "duck")["dup_line_char_frac"]})
           <= {GOPHER_MAX_DUP_LINE_CHAR_FRAC}
       AND ({repetition_exprs("text", "duck")["dup_para_frac"]})
           <= {GOPHER_MAX_DUP_PARA_FRAC}
       AND ({repetition_exprs("text", "duck")["dup_para_char_frac"]})
           <= {GOPHER_MAX_DUP_PARA_CHAR_FRAC}
       AND coalesce(f2.top2_char_frac, 0.0) <= {GOPHER_MAX_TOP2_CHAR_FRAC}
       AND coalesce(f3.top3_char_frac, 0.0) <= {GOPHER_MAX_TOP3_CHAR_FRAC}
       {dup_conds}
           AS repetition_pass
FROM documents d
LEFT JOIN f2 ON f2.doc_id = d.doc_id
LEFT JOIN f3 ON f3.doc_id = d.doc_id
{dup_joins}"""

    # charset_extract oracle: the decode ladder is what's under test — all
    # five encoding variants of doc i must yield the identical Unicode
    # text, so the oracle is encoding-independent and closed-form.
    sqls["charset_extract"] = """
SELECT 'cs://' || i AS url,
       'doc ' || i || ' café naïve öl' AS extracted_text
FROM range(0, 120) t(i)"""

    # split_windows oracle: recursive-CTE replay of the greedy splitter
    # (oracle.py::split_windows_oracle) — was rows-only in round 1
    sqls["split_windows"] = O.split_windows_oracle(24)

    # mixture_sample oracle: identical integer ppm arithmetic (DIV↔//,
    # salted portable hash) over the same literal rate catalog.
    from amazon_textract_transformer_pipeline_spark.driver_queries import (
        MIXTURE_RATES,
        dsir_text_sql,
    )
    from amazon_textract_transformer_pipeline_spark.operators.sampling import (
        PPM,
        _hash_ppm,
        importance_exprs,
        n_copies_sql,
    )
    rates_values = ", ".join(f"('{s}', {r})" for s, r in MIXTURE_RATES)
    sqls["mixture_sample"] = f"""
WITH d AS (
  SELECT doc_id, 'src' || cast(doc_id % 5 AS varchar) AS source
  FROM documents
),
r(source, rate_ppm) AS (VALUES {rates_values}),
j AS (
  SELECT doc_id, d.source,
         CAST(coalesce(rate_ppm, {PPM}) AS BIGINT) AS rate_ppm,
         {_hash_ppm('doc_id', 'mix', 'duck')} AS h
  FROM d LEFT JOIN r USING (source)
),
c AS (
  SELECT doc_id, source, rate_ppm,
         CAST({n_copies_sql('rate_ppm', 'h', 'duck')} AS BIGINT) AS n_copies
  FROM j
)
SELECT doc_id, source, rate_ppm, n_copies,
       CAST(unnest(range(1, n_copies + 1)) AS INT) AS copy_ix
FROM c WHERE n_copies >= 1"""

    # dsir_importance oracle: same builder + same gram-planted text.
    isel = ", ".join(f"{x} AS {k}"
                     for k, x in importance_exprs("text", "duck").items())
    sqls["dsir_importance"] = f"""
WITH p AS MATERIALIZED (
  SELECT doc_id, {dsir_text_sql('duck')} AS text FROM documents
)
SELECT doc_id, {isel} FROM p"""

    # pack_sequences oracle: identical salted-hash bucketing + window
    # running-sum arithmetic from the shared builder.
    from amazon_textract_transformer_pipeline_spark.operators.sampling import (
        packing_oracle_sql,
    )
    from amazon_textract_transformer_pipeline_spark.operators.textstats import (
        token_count_sql,
    )
    sqls["pack_sequences"] = f"""
WITH toks AS MATERIALIZED (
  SELECT doc_id,
         CAST({token_count_sql('text', 'duck')} AS BIGINT) AS n_tokens
  FROM documents
)
{packing_oracle_sql(512, 8, docs_cte='toks')}"""

    # vocab_top_k oracle: same token aggregate + deterministic
    # (count desc, token asc) rank in DuckDB.
    sqls["vocab_top_k"] = f"""
WITH tok AS MATERIALIZED (
  SELECT doc_id AS _doc, unnest({X.words('text', 'duck')}) AS token
  FROM documents
),
c AS (
  SELECT token, CAST(count(*) AS BIGINT) AS n_occurrences,
         CAST(count(DISTINCT _doc) AS BIGINT) AS n_docs
  FROM tok GROUP BY token
)
SELECT CAST(row_number() OVER (ORDER BY n_occurrences DESC, token ASC)
            AS BIGINT) AS vocab_rank,
       token, n_occurrences, n_docs
FROM c ORDER BY n_occurrences DESC, token ASC LIMIT 200"""

    return {k: v for k, v in sqls.items() if v is not None}
