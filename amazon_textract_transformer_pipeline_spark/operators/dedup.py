"""Per-corpus n-gram operators over a documents table.

What is here: word-shingle rows (:func:`shingle_rows`), benchmark
decontamination by shared 13-grams (:func:`decontamination_flags`,
:func:`decontaminate`, and the word-exact :func:`decontaminate_mask`),
ExactSubstr span dedup (:func:`exact_substring_dedup`) and winnowing
fingerprints (:func:`winnow_fingerprints`, its relational twin
:func:`winnow_fingerprints_sql` and the DuckDB replay
:func:`winnow_oracle_sql`). Gram hashes are the portable md5-prefix
64-bit hash (functions/textsql.py), integer-exact, so every output is
bit-identical to the DuckDB oracles the driver runs.

None of these is on the extraction path: the pipeline, the lineage job
and the stream never import this module. The driver queries and their
tests are its only callers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import textsql as X


def shingle_rows(docs: DataFrame, n: int = 3, id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """(doc_id, shingle) rows — the relational form of textsql.shingles.

    Physical-plan rationale, round-4 shape: higher-order-function lambdas
    with non-trivial bodies (md5 etc.) evaluate on Spark's *interpreted*
    expression path (~10 ms/doc measured — 350× slower than codegen), so
    the md5 runs on exploded scalar rows. The shingle strings themselves
    ARE built with a cheap HOF (concat_ws over array slices) — but only
    behind a repartition barrier that materializes the regex word-split
    once per row; without it CollapseProject inlines the split into the
    lambda and re-tokenizes the document per gram index (the same
    O(words²) trap measured on the gopher top-n-gram stage, and the
    round-3 window/lead() formulation this replaces cost ~2× more than
    the barrier + slice form). Same strings as the DuckDB oracle,
    including the <n-words fallback (whole text as one shingle, '' for
    empty docs)."""
    base = docs.select(
        F.col(id_col),
        F.expr(X.words(text_col, "spark")).alias("_w"),
    ).repartition(F.col(id_col))  # barrier: split once, slice many
    return base.select(
        id_col, F.explode(F.expr(X.shingles("_w", n, "spark")))
        .alias("shingle"))


#: benchmark-decontamination n-gram width (the 13-gram standard used by
#: GPT-3 appendix C / Gopher §A.3-style eval-overlap filtering)
DECONTAM_NGRAM = 13


def decontamination_flags(docs: DataFrame, blocklist: DataFrame,
                          n: int = DECONTAM_NGRAM, min_hits: int = 1,
                          id_col: str = "doc_id",
                          text_col: str = "text") -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing ≥
    ``min_hits`` distinct word ``n``-grams with any blocklist (eval-set)
    document — the overlap filter every released training set runs
    before shipping (13-gram standard).

    Returns (id_col, n_contaminated_grams BIGINT, contaminated BOOL) for
    EVERY corpus doc. Blocklist docs shorter than ``n`` words fall back
    to their whole text as one shingle (textsql.shingles semantics), so
    short eval prompts still match verbatim copies.

    Scale shape: blocklist shingles reduce to a DISTINCT 64-bit hash set
    (one aggregate); the probe is a single shuffle join on the uniform
    gram hash — corpus-side shingles stream through map-side, and AQE
    broadcasts the blocklist side when it measures small (typical: eval
    sets are thousands of docs vs a 10^12-doc corpus — never force the
    broadcast, a full eval *suite* can be millions of grams). No
    all-pairs anything; :func:`shingle_rows` + the portable hash."""
    bad = (
        shingle_rows(blocklist, n, id_col, text_col)
        .select(F.expr(X.h64("shingle", "spark")).alias("gh"))
        .distinct()
    )
    probe = (
        shingle_rows(docs, n, id_col, text_col)
        .select(id_col, F.expr(X.h64("shingle", "spark")).alias("gh"))
        .distinct()
    )
    hits = (
        probe.join(bad, "gh")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_contaminated_grams"))
    )
    return (
        docs.select(id_col).join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_contaminated_grams", F.lit(0)).cast("bigint")
            .alias("n_contaminated_grams"))
        .withColumn("contaminated",
                    F.col("n_contaminated_grams") >= min_hits)
    )


def decontaminate(docs: DataFrame, blocklist: DataFrame,
                  n: int = DECONTAM_NGRAM, min_hits: int = 1,
                  id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """The acted-on form: corpus minus contaminated docs (anti-join on
    the flag relation), schema-preserving."""
    flags = decontamination_flags(docs, blocklist, n, min_hits,
                                  id_col, text_col)
    return docs.join(flags.filter("contaminated").select(id_col),
                     id_col, "left_anti")


def decontaminate_mask(docs: DataFrame, blocklist: DataFrame,
                       n: int = DECONTAM_NGRAM, id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """Surgical decontamination: instead of dropping a contaminated
    document (:func:`decontaminate`), remove exactly the words covered
    by any ``n``-gram shared with the blocklist — the masking variant
    several released corpora use so one quoted benchmark question does
    not cost an otherwise-good long document.

    Semantics (pinned, replayed exactly by the DuckDB oracle):

    * a *matched span* is a corpus word ``n``-gram (positions tracked,
      0-based) whose space-joined text hashes into the blocklist's
      distinct shingle-hash set (same gram construction as
      :func:`decontamination_flags` — blocklist docs shorter than ``n``
      fall back to whole-text shingles);
    * covered word positions = the union of all matched spans
      (overlapping spans never double-count a word);
    * ``kept_text`` = surviving words in original order; every input
      doc keeps a row; docs with < ``n`` words emit no grams and pass
      through intact.

    Scale shape: the probe is the same single uniform-hash shuffle join
    as decontamination_flags (never force-broadcast the blocklist — a
    full eval suite is millions of grams); covered-position dedup,
    word anti-join, and reassembly are all doc-grain keys.
    """
    bad = (
        shingle_rows(blocklist, n, id_col, text_col)
        .select(F.expr(X.h64("shingle", "spark")).alias("gh"))
        .distinct()
    )
    ws = X.words(text_col, "spark")
    base = _spread(docs.select(id_col, F.expr(ws).alias("ws")), id_col)
    grams = _positional_grams(base, n, id_col)
    matched = grams.join(bad, "gh").select(id_col, "pos")
    return _mask_matched_spans(base, matched, n, id_col)


def _spread(df: DataFrame, key: str) -> DataFrame:
    """See plans.partitioning.spread_if_narrow (shared round-7 helper)."""
    from ..plans.partitioning import spread_if_narrow

    return spread_if_narrow(df, key)


def _positional_grams(base: DataFrame, n: int, id_col: str,
                      sep: str = " ", arr_col: str = "ws") -> DataFrame:
    """(id, pos, gh): every ``sep``-joined n-gram of a (id, ``arr_col``)
    array relation with its 0-based start position and 64-bit hash.
    Map-only Arrow kernel (round-7, guide §4.2): the per-gram
    slice+join+md5 runs in Python on whole batches instead of an
    interpreted transform() + codegen md5 per exploded row — integer
    md5-prefix hashes, so values are bit-identical to the relational
    form and the DuckDB oracle."""
    import hashlib

    import pandas as pd
    import pyspark.sql.types as T

    id_type = base.schema[id_col].dataType
    schema = T.StructType([
        T.StructField(id_col, id_type, True),
        T.StructField("pos", T.IntegerType(), False),
        T.StructField("gh", T.LongType(), False),
    ])
    md5 = hashlib.md5

    def run(batches):
        for b in batches:
            ids: list = []
            poss: list = []
            ghs: list = []
            for did, ws in zip(b[id_col], b[arr_col]):
                if ws is None:
                    continue
                m = len(ws) - n + 1
                if m <= 0:
                    continue
                ws = list(ws)
                ids.extend([did] * m)
                poss.extend(range(m))
                ghs.extend(
                    int(md5(sep.join(ws[i:i + n]).encode("utf-8"))
                        .hexdigest()[:15], 16) for i in range(m))
            yield pd.DataFrame({id_col: ids, "pos": poss, "gh": ghs})

    return base.select(id_col, arr_col).mapInPandas(run, schema=schema)


def _mask_matched_spans(base: DataFrame, matched: DataFrame, n: int,
                        id_col: str) -> DataFrame:
    """Shared masking tail: given (id, ws) and matched span starts
    (id, pos), cut the covered-position union word-exactly and
    reassemble. Every input doc keeps a row. All keys doc-grain.

    Round-7 shape (guide §2.3/§4.2): ONE doc-grain aggregate collects
    each doc's matched span starts, one left join attaches them to the
    corpus, and a per-doc Arrow kernel does the covered-union cut and
    reassembly (pure integer/string work — bit-identical to the DuckDB
    replay). The round-6 form exploded covered positions AND every word
    back into rows (an anti-join + a collect_list/array_sort aggregate),
    which made ``matched`` feed two consumers — Spark re-derived the
    whole gram-match subtree per consumer (4 Generates in the round-6
    plan); now every stage has exactly one consumer, no checkpoint
    needed."""
    import pandas as pd
    import pyspark.sql.types as T

    magg = matched.groupBy(id_col).agg(
        F.collect_list("pos").alias("mpos"),
        F.count("*").cast("bigint").alias("n_matched_spans"))
    joined = base.join(magg, id_col, "left")

    id_type = base.schema[id_col].dataType
    schema = T.StructType([
        T.StructField(id_col, id_type, True),
        T.StructField("kept_text", T.StringType(), False),
        T.StructField("n_words", T.LongType(), False),
        T.StructField("n_words_removed", T.LongType(), False),
        T.StructField("n_matched_spans", T.LongType(), False),
    ])

    def run(batches):
        for b in batches:
            ids: list = []
            kept: list = []
            nw: list = []
            nrm: list = []
            nsp: list = []
            for did, ws, mp, ns in zip(b[id_col], b["ws"], b["mpos"],
                                       b["n_matched_spans"]):
                ws = [] if ws is None else list(ws)
                ids.append(did)
                nw.append(len(ws))
                if mp is None or not len(mp):
                    kept.append(" ".join(ws))
                    nrm.append(0)
                    nsp.append(0)
                    continue
                covered = set()
                for p in mp:
                    covered.update(range(p, p + n))
                keep = [w for i, w in enumerate(ws) if i not in covered]
                kept.append(" ".join(keep))
                nrm.append(len(ws) - len(keep))
                nsp.append(int(ns))
            yield pd.DataFrame({id_col: ids, "kept_text": kept,
                                "n_words": nw, "n_words_removed": nrm,
                                "n_matched_spans": nsp})

    return joined.select(id_col, "ws", "mpos", "n_matched_spans") \
        .mapInPandas(run, schema=schema)


def exact_substring_dedup(docs: DataFrame, n: int = 50,
                          id_col: str = "doc_id",
                          text_col: str = "text") -> DataFrame:
    """ExactSubstr deduplication (Lee et al. 2022, *Deduplicating
    Training Data Makes Language Models Better*): remove every span
    that appears verbatim elsewhere in the corpus, keeping exactly one
    occurrence. The paper builds a corpus-wide suffix array — inherently
    single-machine; the relational form is positional ``n``-gram
    matching (the paper's 50-token threshold as the default window),
    sharing :func:`decontaminate_mask`'s masking tail.

    Semantics (pinned, replayed exactly by the DuckDB oracle):

    * occurrences = every word ``n``-gram of every doc with its 0-based
      start position;
    * an occurrence is *masked* iff an earlier occurrence of the same
      gram exists, ordered by (doc_id, pos) — i.e. the corpus-wide
      FIRST occurrence survives, duplicates lose the covered words
      (within-doc repeats count: the second copy in the same doc is
      masked too);
    * covered positions = union over masked occurrences; ``kept_text``
      = surviving words in original order; every doc keeps a row; docs
      with < ``n`` words pass through intact.

    Scale shape (100 TB audit): one hash aggregate on the uniform gram
    key finds the first occurrence per gram (map-side partial min of a
    (doc_id, pos) struct) and — crucially — FILTERS to grams seen ≥ 2
    times before the probe join, so the join's build side shrinks to
    the duplicated tail of the gram distribution (most grams are
    unique). The gram relation is re-derived map-side for the probe
    rather than checkpointed: it is n× corpus size, and a map-only
    explode replay is cheaper than materializing it. The masking tail
    is all doc-grain keys.
    """
    ws = X.words(text_col, "spark")
    base = _spread(docs.select(id_col, F.expr(ws).alias("ws")), id_col)
    grams = _positional_grams(base, n, id_col)
    dup_firsts = (
        grams.groupBy("gh")
        .agg(F.min(F.struct(id_col, "pos")).alias("first"),
             F.count("*").alias("cnt"))
        .filter("cnt >= 2")
        .select("gh", "first")
    )
    matched = (
        grams.join(dup_firsts, "gh")
        .filter(~((F.col(id_col) == F.col(f"first.{id_col}"))
                  & (F.col("pos") == F.col("first.pos"))))
        .select(id_col, "pos")
    )
    return _mask_matched_spans(base, matched, n, id_col)


def winnow_fingerprints(docs: DataFrame, k: int = 5, w: int = 4,
                        id_col: str = "doc_id",
                        text_col: str = "text",
                        hash_sql=None) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken
    2003, *Winnowing: Local Algorithms for Document Fingerprinting* —
    the MOSS algorithm): a position-robust fingerprint subset with the
    guarantee that any shared substring of length ≥ w + k - 1 yields at
    least one shared fingerprint. Complements the fixed-stride shingle
    family: winnowed fingerprints survive insertions/deletions that
    shift positions.

    Semantics (pinned, replayed exactly by the DuckDB oracle):

    * grams = character ``k``-grams of the lowercased text, 0-based
      positions; gram hash = the portable 64-bit hash;
    * every FULL window of ``w`` consecutive gram hashes selects its
      minimum hash, ties broken by the RIGHTMOST position (the paper's
      selection rule); the fingerprint set is the distinct union of
      selections — expected density 2/(w+1);
    * docs with fewer than w + k - 1 characters have no full window and
      emit no fingerprints.

    Scale shape (round-7 optimization — guide §2.4/§4.2): winnowing is
    a per-document streaming computation, so the default path is a
    ZERO-SHUFFLE Arrow kernel: one ``mapInPandas`` pass computes gram
    hashes (the identical md5-prefix portable hash, integer-exact) and
    the rightmost-tie sliding minima with a vectorized numpy argmin per
    doc — no gram explode, no per-char rows crossing an exchange, no
    per-doc window sort. The round-6 relational form shipped ~16 shuffle
    bytes per corpus byte through a window (the round-6 verdict's one
    scale-killer); it is kept as :func:`winnow_fingerprints_sql` (the
    oracle-shaped baseline, and the path for a pluggable ``hash_sql``).
    Selection compares only 64-bit ints — no float rounding anywhere —
    so kernel == SQL == DuckDB bit-for-bit (tests/test_new_ops_parity).

    Returns (id, pos, fp): selected gram position + fingerprint hash.
    """
    if hash_sql is not None:
        return winnow_fingerprints_sql(docs, k, w, id_col, text_col,
                                       hash_sql)
    import hashlib

    import numpy as np
    import pandas as pd
    import pyspark.sql.types as T

    id_type = docs.schema[id_col].dataType
    schema = T.StructType([
        T.StructField(id_col, id_type, True),
        T.StructField("pos", T.IntegerType(), True),
        T.StructField("fp", T.LongType(), True),
    ])
    md5 = hashlib.md5

    def run(batches):
        for b in batches:
            ids_out: list = []
            pos_out: list = []
            fp_out: list = []
            for did, text in zip(b[id_col], b[text_col]):
                if text is None:
                    continue
                s = text.lower()
                n = len(s) - k + 1
                if n < w:  # no full window of w grams
                    continue
                hs = np.fromiter(
                    (int(md5(s[i:i + k].encode("utf-8"))
                         .hexdigest()[:15], 16) for i in range(n)),
                    dtype=np.int64, count=n)
                # rightmost-tie sliding min: argmin over the REVERSED
                # window picks the rightmost minimum of the original
                win = np.lib.stride_tricks.sliding_window_view(hs, w)
                a = win[:, ::-1].argmin(axis=1)
                sel = np.arange(n - w + 1) + (w - 1 - a)
                sel = np.unique(sel)  # (pos, fp) distinct — fp = f(pos)
                ids_out.extend([did] * len(sel))
                pos_out.extend(sel.tolist())
                fp_out.extend(hs[sel].tolist())
            yield pd.DataFrame({id_col: ids_out, "pos": pos_out,
                                "fp": fp_out})

    src = _spread(docs.select(id_col, text_col), id_col)
    return src.mapInPandas(run, schema=schema)


def winnow_fingerprints_sql(docs: DataFrame, k: int = 5, w: int = 4,
                            id_col: str = "doc_id",
                            text_col: str = "text",
                            hash_sql=None) -> DataFrame:
    """Relational (oracle-shaped) winnowing — the round-6 form: gram
    explode is map-only; ONE per-doc window shuffle computes all sliding
    minima (rightmost-argmin as a single struct MIN over (h, -pos));
    the distinct collapses on (doc, pos). Kept as the cross-checkable
    baseline for the Arrow kernel (parity-tested) and for pipelines
    that swap ``hash_sql`` (e.g. ``lambda e: f"xxhash64({e})"``)."""
    if hash_sql is None:
        hash_sql = lambda e: X.h64(e, "spark")  # noqa: E731
    grams = (
        docs.select(
            id_col,
            # guard: Spark's sequence(1, 0) is DESCENDING [1, 0], so short
            # texts must short-circuit to an empty gram array
            F.expr(f"CASE WHEN length(lower({text_col})) >= {k} THEN "
                   f"transform(sequence(1, length(lower({text_col})) "
                   f"- {k - 1}), i -> substring(lower({text_col}), i, {k})) "
                   f"ELSE cast(array() as array<string>) END")
            .alias("gs"))
        .select(id_col, F.expr("size(gs)").alias("n"),
                F.posexplode("gs").alias("pos", "gram"))
        .withColumn("h", F.expr(hash_sql("gram")))
        .drop("gram")
    )
    win = (
        Window.partitionBy(id_col).orderBy("pos")
        .rowsBetween(Window.currentRow, w - 1)
    )
    sel = (
        grams.withColumn(
            "m", F.min(F.struct(F.col("h"), (-F.col("pos")).alias("np")))
            .over(win))
        .filter(F.col("pos") <= F.col("n") - w)  # full windows only
        .select(id_col, (-F.col("m.np")).cast("int").alias("pos"),
                F.col("m.h").alias("fp"))
        .distinct()
    )
    return sel


def winnow_oracle_sql(docs_cte: str, k: int = 5, w: int = 4) -> str:
    """DuckDB replay of :func:`winnow_fingerprints` (single-sourced
    selection rule). ``docs_cte`` must yield (doc_id, text)."""
    return f"""
WITH g AS MATERIALIZED (
  SELECT doc_id, len(gs) AS n, u.pos AS pos,
         {X.h64('u.gram', 'duck')} AS h
  FROM (
    SELECT doc_id, gs, unnest(list_transform(range(0, len(gs)),
      j -> {{'pos': j, 'gram': gs[j + 1]}})) AS u
    FROM (SELECT doc_id,
                 list_transform(range(1, greatest(length(lower(text))
                                                  - {k - 1}, 0) + 1),
                                i -> substr(lower(text), i, {k})) AS gs
          FROM ({docs_cte})))
),
m AS (
  SELECT doc_id, n, pos,
         min({{'h': h, 'np': -pos}}) OVER
           (PARTITION BY doc_id ORDER BY pos
            ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING) AS m
  FROM g
)
SELECT DISTINCT doc_id, CAST(-(m.np) AS INT) AS pos, m.h AS fp
FROM m WHERE pos <= n - {w}"""
