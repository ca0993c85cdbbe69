"""Linear quality classifier — the GPT-3/CCNet-style corpus-selection
signal (Brown et al. 2020 Appendix A: a classifier trained to separate a
trusted reference corpus from raw Common Crawl, documents kept by score;
Wenzek et al. 2020 use the same shape with a fastText linear model). The
reference repo delegates document scoring to its SageMaker model stack
(``notebooks/src/code/inference.py``); at 10^12-doc scale the selection
step must be relational, so this is a **multinomial Naive Bayes** over
whitespace tokens: training is two count aggregations and scoring is one
shuffle join — the same count-based-distributed design as the stupid-
backoff LM in ``operators/lm.py``.

Model (pinned, replayed exactly by the DuckDB oracle):

* tokens = whitespace words of lowercased text (``textsql.words``);
* per-class multinomial with Laplace smoothing ``alpha``:
  ``P(w|y) = (c_y(w) + alpha) / (N_y + alpha * V)`` where ``N_y`` is the
  class token total and ``V`` the cross-class distinct-token count —
  words never seen in *either* class still contribute the smoothed
  ratio, so out-of-vocabulary mass shifts scores toward the larger
  class exactly as the formula says;
* doc log-odds = ``ln(prior_hq / prior_lq) + sum_w [ln P(w|hq) -
  ln P(w|lq)]`` over the doc's tokens (with multiplicity);
  ``quality_pass = log-odds > 0``; docs with zero tokens score the
  prior ratio alone.

Scale shape (100 TB audit): the count relations shuffle on the uniform
token key (map-side partials); the model is NOT collected — per-class
counts are pivoted to one (w, c_hq, c_lq) relation that joins the
exploded corpus by SHUFFLE hash join (AQE may broadcast it when the
reference corpus is small; nothing forces it). The four scalars (class
token totals, V, priors) ride along as a single-row cross join —
broadcast by Catalyst, never a driver collect. Scores are rounded to 6
places: the per-doc double sum's combine order is partition-dependent
(driver-gate FP practice, same as lm.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import textsql as X

#: Laplace smoothing mass per (class, word) cell.
ALPHA = 0.5


def _tokens(docs: DataFrame, cols: list[str], text_col: str) -> DataFrame:
    ws = X.words(f"lower({text_col})", "spark")
    return docs.select(*cols, F.explode(F.expr(ws)).alias("w"))


def train_nb(labeled: DataFrame, id_col: str = "doc_id",
             text_col: str = "text", label_col: str = "is_hq"):
    """Fit the NB count relations from a labeled corpus.

    ``labeled`` needs (id, text, boolean label: true = high-quality
    reference side). Returns ``(word_counts, stats)``:

    * ``word_counts``: (w, c_hq, c_lq) — per-word token counts by class,
      pivoted so scoring joins ONCE;
    * ``stats``: a single row (n_hq, n_lq, vocab, docs_hq, docs_lq) —
      class token totals, cross-class distinct-word count, doc priors.

    Two shuffles (token agg, pivot agg share one) + one tiny agg.
    """
    toks = _tokens(labeled, [label_col], text_col)
    # checkpoint: word_counts feeds BOTH the scalar stats agg and the
    # scoring join — without it the training token aggregation replays
    # per reference (lazy, materializes on first action)
    word_counts = (
        toks.groupBy("w")
        .agg(F.sum(F.when(F.col(label_col), 1).otherwise(0)).alias("c_hq"),
             F.sum(F.when(F.col(label_col), 0).otherwise(1)).alias("c_lq"))
        .localCheckpoint(eager=False)
    )
    stats = word_counts.agg(
        F.sum("c_hq").cast("double").alias("n_hq"),
        F.sum("c_lq").cast("double").alias("n_lq"),
        F.count("*").cast("double").alias("vocab"),
    ).crossJoin(
        labeled.agg(
            F.sum(F.when(F.col(label_col), 1).otherwise(0))
            .cast("double").alias("docs_hq"),
            F.sum(F.when(F.col(label_col), 0).otherwise(1))
            .cast("double").alias("docs_lq"))
    )
    return word_counts, stats


def nb_quality_score(docs: DataFrame, word_counts: DataFrame,
                     stats: DataFrame, alpha: float = ALPHA,
                     id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Per-doc NB log-odds + keep verdict.

    Returns (id, n_tokens, nb_logodds, quality_pass). Every input doc
    keeps a row (zero-token docs score the prior ratio alone).
    """
    toks = _tokens(docs, [id_col], text_col)
    per_word = (
        toks.join(word_counts, "w", "left")
        .withColumn("llr", F.expr(
            f"ln((coalesce(c_hq, 0) + {alpha}) / "
            f"(coalesce(c_lq, 0) + {alpha}))"))
        .groupBy(id_col)
        .agg(F.count("*").alias("n_tokens"), F.sum("llr").alias("llr_sum"))
    )
    # smoothing denominators + prior fold in one scalar-row cross join:
    # sum_w [ln((c+a)/(N_hq+aV)) - ln((c'+a)/(N_lq+aV))]
    #   = llr_sum - n_tokens * ln((N_hq+aV)/(N_lq+aV))
    return (
        docs.select(id_col)
        .join(per_word, id_col, "left")
        .crossJoin(F.broadcast(stats))
        .select(
            id_col,
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            F.round(
                F.expr(f"""
                  ln(docs_hq / docs_lq)
                  + coalesce(llr_sum, 0.0)
                  - coalesce(n_tokens, 0) *
                    ln((n_hq + {alpha} * vocab) / (n_lq + {alpha} * vocab))
                """), 6).alias("nb_logodds"),
        )
        .withColumn("quality_pass", F.col("nb_logodds") > 0)
    )


def tfidf_top_terms(docs: DataFrame, topk: int = 5,
                    id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Per-document top-``topk`` terms by tf-idf — the classic relevance
    primitive (GPT-3's quality classifier featurizes with tf-idf; corpus
    release reports list per-slice salient terms with it).

    Model (pinned, replayed exactly by the DuckDB oracle):

    * terms = whitespace words of lowercased text; tf = in-doc count;
    * idf = ln(N / df) with N = corpus doc count and df = docs
      containing the term (no smoothing — every scored term has df ≥ 1);
    * score = tf * idf rounded to 9 dp; rank per doc by (score DESC,
      term ASC) — fully deterministic; rows with rank ≤ topk survive.
      Docs whose every term appears in every doc (idf 0) still emit
      rows (score 0) — the rank rule alone decides.

    Scale shape: one (doc, term) count aggregate + one df aggregate on
    the uniform term key (map-side partials both), one shuffle join
    term→df, the scalar N on a broadcast cross join, and ONE per-doc
    window for the top-k (doc-grain key, skew bounded by vocabulary per
    doc). The df relation is vocabulary-sized — never collected.
    """
    toks = _tokens(docs, [id_col], text_col).withColumnRenamed("w", "term")
    tf = toks.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    df_rel = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_rel = docs.agg(F.count("*").cast("double").alias("n_docs"))
    from pyspark.sql import Window
    w = Window.partitionBy(id_col).orderBy(
        F.col("score").desc(), F.col("term").asc())
    return (
        tf.join(df_rel, "term")
        .crossJoin(F.broadcast(n_rel))
        .withColumn("score", F.round(
            F.col("tf") * F.expr("ln(n_docs / df)"), 9))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select(id_col, F.col("rank").cast("int").alias("rank"), "term",
                F.col("tf").cast("bigint").alias("tf"),
                F.col("df").cast("bigint").alias("df"), "score")
    )


def tfidf_oracle_sql(docs_cte: str, topk: int = 5) -> str:
    """DuckDB replay of :func:`tfidf_top_terms` (single-sourced).
    ``docs_cte`` must yield (doc_id, text)."""
    dw = X.words("lower(text)", "duck")
    return f"""
WITH toks AS MATERIALIZED (
  SELECT doc_id, unnest({dw}) AS term FROM ({docs_cte})
),
tf AS MATERIALIZED (
  SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term
),
dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
nn AS (SELECT count(*)::DOUBLE AS n_docs FROM ({docs_cte})),
scored AS (
  SELECT t.doc_id, t.term, t.tf, d.df,
         round(t.tf * ln(nn.n_docs / d.df), 9) AS score
  FROM tf t JOIN dfr d USING (term) CROSS JOIN nn
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id
              ORDER BY score DESC, term ASC) AS rank
  FROM scored
)
SELECT doc_id, CAST(rank AS INT) AS rank, term,
       CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df, score
FROM ranked WHERE rank <= {topk}"""


def nb_oracle_sql(labeled_cte: str, score_cte: str,
                  alpha: float = ALPHA) -> str:
    """DuckDB replay of train_nb + nb_quality_score.

    ``labeled_cte`` must yield (doc_id, text, is_hq); ``score_cte`` must
    yield (doc_id, text). Returns a full SELECT (WITH ... SELECT ...)
    producing (doc_id, n_tokens, nb_logodds, quality_pass).
    """
    dw = X.words("lower(text)", "duck")
    return f"""
WITH labeled AS ({labeled_cte}),
scoreset AS ({score_cte}),
train_toks AS (
  SELECT is_hq, unnest({dw}) AS w FROM labeled
),
word_counts AS (
  SELECT w,
         sum(CASE WHEN is_hq THEN 1 ELSE 0 END) AS c_hq,
         sum(CASE WHEN is_hq THEN 0 ELSE 1 END) AS c_lq
  FROM train_toks GROUP BY w
),
stats AS (
  SELECT (SELECT sum(c_hq)::DOUBLE FROM word_counts) AS n_hq,
         (SELECT sum(c_lq)::DOUBLE FROM word_counts) AS n_lq,
         (SELECT count(*)::DOUBLE FROM word_counts) AS vocab,
         (SELECT sum(CASE WHEN is_hq THEN 1 ELSE 0 END)::DOUBLE
          FROM labeled) AS docs_hq,
         (SELECT sum(CASE WHEN is_hq THEN 0 ELSE 1 END)::DOUBLE
          FROM labeled) AS docs_lq
),
doc_toks AS (
  SELECT doc_id, unnest({dw}) AS w FROM scoreset
),
per_word AS (
  SELECT t.doc_id, count(*) AS n_tokens,
         sum(ln((coalesce(c.c_hq, 0) + {alpha}) /
                (coalesce(c.c_lq, 0) + {alpha}))) AS llr_sum
  FROM doc_toks t LEFT JOIN word_counts c ON c.w = t.w
  GROUP BY t.doc_id
)
SELECT d.doc_id,
       coalesce(p.n_tokens, 0)::BIGINT AS n_tokens,
       round(ln(s.docs_hq / s.docs_lq)
             + coalesce(p.llr_sum, 0.0)
             - coalesce(p.n_tokens, 0) *
               ln((s.n_hq + {alpha} * s.vocab) /
                  (s.n_lq + {alpha} * s.vocab)), 6) AS nb_logodds,
       (round(ln(s.docs_hq / s.docs_lq)
             + coalesce(p.llr_sum, 0.0)
             - coalesce(p.n_tokens, 0) *
               ln((s.n_hq + {alpha} * s.vocab) /
                  (s.n_lq + {alpha} * s.vocab)), 6) > 0) AS quality_pass
FROM scoreset d
LEFT JOIN per_word p ON p.doc_id = d.doc_id
CROSS JOIN stats s"""
