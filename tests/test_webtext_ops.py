"""Dedup family, similarity search, text stats."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from amazon_textract_transformer_pipeline_spark.operators import dedup, similarity
from amazon_textract_transformer_pipeline_spark.operators.textstats import (
    with_text_stats,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


@pytest.fixture(scope="module")
def embs(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


def test_exact_duplicates_planted(spark, docs):
    """Plant exact dups (with whitespace/case noise) and find exactly them."""
    noisy = docs.limit(5).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.upper(F.concat(F.lit("  "), F.col("text"), F.lit(" "))).alias("text"),
    )
    base = docs.select("doc_id", F.upper("text").alias("text"))
    groups = dedup.exact_duplicates(base.unionByName(noisy))
    assert groups.count() == 5
    assert groups.filter("n_docs <> 2").count() == 0
    assert groups.agg(F.max("keeper_id")).collect()[0][0] < 100000


def test_minhash_near_duplicates_planted(spark, docs):
    """A doc with one word changed out of ~25 → jaccard well above 0.7;
    unrelated docs stay below."""
    mutated = docs.limit(8).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zzqx")).alias("text"),
    )
    corpus = docs.select("doc_id", "text").unionByName(mutated)
    nd = dedup.near_duplicates(corpus, threshold=0.5).cache()
    found_pairs = {(r.a, r.b) for r in nd.collect()}
    planted = {(i, i + 200000) for i in range(8)}
    assert planted <= found_pairs
    # jaccard sane
    assert nd.filter("jaccard > 1.0 OR jaccard < 0.5").count() == 0


def test_minhash_empty_text_parity(spark):
    """Zero-word docs must get the same ['']-shingle signature as the oracle
    HOF form (round-1 latent divergence: posexplode emitted no rows and the
    doc vanished from the relational sketch)."""
    from amazon_textract_transformer_pipeline_spark.functions import textsql as X

    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, ""), (3, "   "), (4, "solo")],
        ["doc_id", "text"])
    rel = {r.doc_id: list(r.minhash)
           for r in dedup.minhash_signatures(df, k=8).collect()}
    hof = {r.doc_id: list(r.mh) for r in df.selectExpr(
        "doc_id",
        X.minhash_signature(
            X.shingles(X.words("text", "spark"), 3, "spark"), 8, "spark")
        + " AS mh").collect()}
    assert rel == hof
    assert set(rel) == {1, 2, 3, 4}  # empty/whitespace docs keep a row


def test_lsh_is_not_all_pairs(spark, docs):
    """Candidate set must be far below the N^2 cross join."""
    n = docs.count()
    cands = dedup.lsh_candidate_pairs(docs.select("doc_id", "text")).count()
    assert cands < n * (n - 1) / 20


def test_simhash_near_duplicates(spark, docs):
    sk = dedup.simhash_sketch(docs.select("doc_id", "text"))
    # 64-bit sketch: with 500 docs, bits above 31 are set ~always on some
    # doc — the old 32-bit form never leaves [0, 2^32)
    assert sk.filter("simhash > 4294967295 OR simhash < 0").count() > 0
    clones = docs.limit(4).select(
        (F.col("doc_id") + 300000).alias("doc_id"), "text")
    pairs = dedup.simhash_near_duplicates(
        docs.select("doc_id", "text").unionByName(clones), max_hamming=0)
    found = {(r.a, r.b) for r in pairs.collect()}
    assert {(i, i + 300000) for i in range(4)} <= found


def test_embedding_near_duplicates(spark, embs):
    nd = dedup.embedding_near_duplicates(embs, threshold=-1.0)
    assert nd.count() == embs.count() - 1  # every consecutive pair scored
    assert nd.filter("cos > 1.0000001 OR cos < -1.0000001").count() == 0


def test_brute_force_topk(spark, embs):
    queries = embs.filter("vec_id % 100 = 0")
    res = similarity.brute_force_topk(embs, queries, topk=5).cache()
    nq = queries.count()
    assert res.count() == nq * 5
    # rank 1 has max cos per query; no self matches
    assert res.filter("cand_id = query_id").count() == 0
    r1 = res.filter("rank = 1").select("query_id", F.col("cos").alias("c1"))
    mx = res.groupBy("query_id").agg(F.max("cos").alias("cmax"))
    assert r1.join(mx, "query_id").filter("c1 <> cmax").count() == 0


def test_lsh_topk_recall(spark, embs):
    queries = embs.filter("vec_id % 50 = 0")
    exact = similarity.brute_force_topk(embs, queries, topk=5)
    # random 64-dim vectors are a worst case for sign-LSH (top-5 neighbors
    # aren't very close); 4 planes × 8 tables trades candidate volume for
    # recall — the knob a real deployment tunes per corpus
    approx = similarity.lsh_topk(embs, queries, topk=5, n_planes=4, n_tables=8)
    rec = similarity.topk_recall(exact, approx)
    assert rec > 0.5, f"recall too low: {rec}"


def test_cosine_near_duplicates_planted(spark, embs):
    """Plant barely-perturbed clones → the LSH self-join must recover them;
    all reported pairs satisfy the threshold."""
    clones = embs.limit(6).select(
        (F.col("vec_id") + 500000).alias("vec_id"),
        F.expr("transform(embedding, x -> cast(x * 1.0001 + 0.0001 as float))")
        .alias("embedding"))
    corpus = embs.select("vec_id", "embedding").unionByName(clones)
    nd = similarity.cosine_near_duplicates(
        corpus, threshold=0.99, n_planes=8, n_tables=6).cache()
    pairs = {(r.a, r.b) for r in nd.collect()}
    planted = {(i, i + 500000) for i in range(6)}
    assert planted <= pairs, planted - pairs
    assert nd.filter("cos < 0.99 OR cos > 1.0").count() == 0


def test_blocks_polygon_only_geometry(spark):
    """Third-party Textract JSON with Polygon but no BoundingBox still
    parses: the box derives from the polygon envelope."""
    import json as _json

    from amazon_textract_transformer_pipeline_spark.operators.blocks import (
        blocks_to_words,
        parse_textract_json,
    )

    poly = [{"X": 0.2, "Y": 0.1}, {"X": 0.5, "Y": 0.1},
            {"X": 0.5, "Y": 0.3}, {"X": 0.2, "Y": 0.3}]
    doc = {
        "DetectDocumentTextModelVersion": "1.0",
        "DocumentMetadata": {"Pages": 1},
        "JobStatus": "SUCCEEDED",
        "Blocks": [
            {"Id": "L1", "BlockType": "LINE", "Page": 1,
             "Relationships": [{"Type": "CHILD", "Ids": ["W1"]}]},
            {"Id": "W1", "BlockType": "WORD", "Text": "hello",
             "Confidence": 99.0, "Page": 1,
             "Geometry": {"Polygon": poly}},
        ],
    }
    df = spark.createDataFrame([("u1", _json.dumps(doc))],
                               ["url", "textract_json"])
    dw = blocks_to_words(parse_textract_json(df)).collect()
    assert len(dw) == 1
    box = dw[0].pages[0]["words"][0]["box"]
    assert (box["left"], box["top"]) == (0.2, 0.1)
    assert abs(box["width"] - 0.3) < 1e-12
    assert abs(box["height"] - 0.2) < 1e-12


def test_ivf_topk_recall(spark, embs):
    """IVF-flat: probing more cells monotonically lifts recall vs exact;
    every query gets ≤ topk ranked candidates."""
    queries = embs.filter("vec_id % 50 = 0")
    exact = similarity.brute_force_topk(embs, queries, topk=5).cache()
    # n_centroids ~ sqrt(N): 500 vectors -> 22 cells of ~23 vectors
    r1 = similarity.topk_recall(
        exact, similarity.ivf_topk(embs, queries, topk=5,
                                   n_centroids=22, nprobe=1))
    r3 = similarity.topk_recall(
        exact, similarity.ivf_topk(embs, queries, topk=5,
                                   n_centroids=22, nprobe=3))
    assert 0.0 < r1 <= r3 <= 1.0
    assert r3 > 0.4, f"nprobe=3 recall suspiciously low: {r3}"
    got = similarity.ivf_topk(embs, queries, topk=5,
                              n_centroids=22, nprobe=2)
    per_q = got.groupBy("query_id").count().agg(F.max("count")).collect()[0][0]
    assert per_q <= 5


def test_text_stats(spark, docs):
    st = with_text_stats(docs).cache()
    row = st.filter("n_words > 0").limit(1).collect()[0]
    assert row.n_tokens_est >= row.n_words
    assert 0.0 <= row.stopword_ratio <= 1.0
    assert st.filter("lang_guess NOT IN ('en','de','fr','es','und')").count() == 0
    assert st.select("fingerprint").distinct().count() > 400  # mostly unique


def test_kmeans_centroids_lift_ivf_recall(spark):
    """Trained centroids (relational Lloyd's, spherical) recover planted
    cluster structure: on a clustered corpus they beat the random-sample
    baseline at the same nprobe, centroids stay unit-norm and k-fixed,
    and the fit is deterministic."""
    import numpy as np

    rng = np.random.Generator(np.random.PCG64(77))
    centers = rng.normal(size=(8, 16))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    for i in range(400):
        v = centers[i % 8] + rng.normal(scale=0.15, size=16)
        rows.append((i, [float(x) for x in v]))
    clustered = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>").cache()

    queries = clustered.filter("vec_id % 40 = 0")
    exact = similarity.brute_force_topk(clustered, queries, topk=5).cache()
    k = 8
    trained = similarity.kmeans_centroids(clustered, k, n_iter=5).cache()
    assert trained.count() == k  # k fixed; empty cells keep old centroid
    norms = trained.select(
        F.expr("aggregate(centv, 0d, (a, x) -> a + x * x)").alias("n2"))
    assert norms.filter("abs(n2 - 1.0) > 1e-6").count() == 0

    r_rand = similarity.topk_recall(
        exact, similarity.ivf_topk(clustered, queries, topk=5,
                                   n_centroids=k, nprobe=1))
    r_fit = similarity.topk_recall(
        exact, similarity.ivf_topk(clustered, queries, topk=5, nprobe=1,
                                   centroids=trained))
    assert r_fit >= r_rand, f"trained {r_fit} < random {r_rand}"
    assert r_fit > 0.9, f"trained centroids missed planted clusters: {r_fit}"

    again = similarity.kmeans_centroids(clustered, k, n_iter=5)
    diff = trained.alias("a").join(again.alias("b"), "cent_id") \
        .filter("a.centv <> b.centv").count()
    assert diff == 0


def test_gopher_filters_rules(spark):
    """Each Gopher/C4 rule fires on a targeted violation and a clean doc
    passes."""
    from amazon_textract_transformer_pipeline_spark.operators.textstats import (
        with_gopher_filters,
    )

    good = ("the cat and the hat have fun with all of that . "
            + "plain words continue here nicely " * 10)
    docs = spark.createDataFrame(
        [(0, good),
         (1, "too short"),                                  # min words
         (2, "- a\n- b\n- c"),                              # bullets+short
         (3, "lorem ipsum " + good),                        # lorem
         (4, "{ code block } " + good),                     # braces
         (5, good + " ##### " * 30),                        # symbol ratio
         (6, ("x " * 60).strip())],                         # mean len + stop
        "doc_id long, text string")
    out = {r.doc_id: r for r in with_gopher_filters(docs).collect()}
    assert out[0].gopher_pass
    assert not out[1].gopher_pass and out[1].n_words == 2
    assert not out[2].gopher_pass and out[2].bullet_line_frac == 1.0
    assert not out[3].gopher_pass and out[3].has_lorem_ipsum
    assert not out[4].gopher_pass and out[4].has_curly_brace
    assert not out[5].gopher_pass and out[5].symbol_word_ratio > 0.1
    assert not out[6].gopher_pass and out[6].gopher_stop_hits == 0


def test_symbol_ratio_counts_ascii_ellipsis(spark):
    """The Gopher symbol rule counts '...' (the dominant web spelling) as
    well as U+2026 — a doc padded with ASCII ellipses must fail."""
    from amazon_textract_transformer_pipeline_spark.operators.textstats import (
        with_gopher_filters,
    )

    base = ("the cat and the hat have fun with all of that . "
            + "plain words continue here nicely " * 10)
    docs = spark.createDataFrame(
        [(0, base), (1, base + " ... " * 40), (2, base + " … " * 40)],
        "doc_id long, text string")
    out = {r.doc_id: r for r in with_gopher_filters(docs).collect()}
    assert out[0].gopher_pass and out[0].symbol_word_ratio < 0.1
    assert not out[1].gopher_pass and out[1].symbol_word_ratio > 0.1
    assert not out[2].gopher_pass and out[2].symbol_word_ratio > 0.1


def test_brute_force_arrow_empty_queries(spark, embs):
    out = similarity.brute_force_topk_arrow(
        embs, embs.filter("vec_id < 0"), topk=5)
    assert out.count() == 0
    assert out.columns == ["query_id", "rank", "cand_id", "cos"]


def test_repetition_filters_rules(spark):
    from amazon_textract_transformer_pipeline_spark.operators.textstats import (
        with_repetition_filters,
    )

    docs = spark.createDataFrame(
        [(0, "aa bb\ncc dd\naa bb\nee ff"),   # 1 dup line of 4 (25%)
         (1, "x y x y x y x y"),              # overlapping top-gram > 1.0
         (2, "spam spam\n" * 5),              # heavy line dup
         (3, "one"),                          # < n words → gram fracs 0
         (4, "")],
        "doc_id long, text string")
    out = {r.doc_id: r for r in with_repetition_filters(docs).collect()}
    assert out[0].dup_line_frac == 0.25
    assert out[0].dup_line_char_frac == 0.25  # all lines 5 chars
    assert out[1].top2_char_frac == 1.0       # "x y" ×4, 8 chars / 8
    assert out[1].top3_char_frac > 1.0        # overlap exceeds 1 by design
    assert not out[1].repetition_pass
    assert out[2].dup_line_frac == 0.8 and not out[2].repetition_pass
    assert out[3].top2_char_frac == 0.0 and out[3].repetition_pass
    assert out[4].repetition_pass


def test_dup_ngram_char_fracs(spark):
    """Covered-position accounting: overlapping duplicated spans never
    double-count, so fracs are ≤ 1; a clean doc scores 0 everywhere."""
    from amazon_textract_transformer_pipeline_spark.operators.textstats import (
        with_repetition_filters,
    )

    docs = spark.createDataFrame(
        [(0, "a b c d e f a b c d e g"),  # "a b c d e" ×2 → 10 of 12 chars
         (1, "x y x y x y x y"),          # every position covered at n=5,6
         (2, "alpha bravo charlie delta echo foxtrot golf hotel india "
             "juliett kilo lima mike november oscar papa quebec romeo "
             "sierra tango uniform victor whiskey xray yankee zulu"),
         (3, "")],
        "doc_id long, text string")
    out = {r.doc_id: r for r in with_repetition_filters(docs).collect()}
    assert out[0].dup5gram_char_frac == round(10 / 12, 6)
    assert out[0].dup6gram_char_frac == 0.0
    assert not out[0].repetition_pass
    assert out[1].dup5gram_char_frac == 1.0
    assert out[1].dup6gram_char_frac == 1.0
    assert out[1].dup7gram_char_frac == 0.0
    assert out[2].dup5gram_char_frac == 0.0 and out[2].repetition_pass
    assert out[3].repetition_pass


def test_brute_force_arrow_matches_relational(spark, embs):
    """The vectorized matmul twin agrees with the exact-oracle relational
    variant: identical (query, rank, cand) sets modulo float last-digit
    knife edges (>= 99.9% agreement) and identical row counts."""
    queries = embs.filter("vec_id % 50 = 0")
    rel = similarity.brute_force_topk(embs, queries, topk=5)
    arw = similarity.brute_force_topk_arrow(embs, queries, topk=5)
    a = {(r.query_id, r.rank, r.cand_id) for r in rel.collect()}
    b = {(r.query_id, r.rank, r.cand_id) for r in arw.collect()}
    assert len(a) == len(b)
    agree = len(a & b) / len(a)
    assert agree >= 0.999, f"rank agreement {agree}"


def test_dup_paragraph_signals(spark):
    from amazon_textract_transformer_pipeline_spark.operators.textstats import (
        with_repetition_filters,
    )

    p1, p2 = "para one here", "para two other"
    docs = spark.createDataFrame(
        [(0, f"{p1}\n\n{p2}\n\n{p1}"),     # 1 dup para of 3
         (1, f"{p1}\n{p2}")],              # single-newline: one paragraph
        "doc_id long, text string")
    out = {r.doc_id: r for r in with_repetition_filters(docs).collect()}
    assert out[0].dup_para_frac == 0.333333
    assert out[0].dup_line_frac == 0.333333  # lines split on single \n too
    assert out[1].dup_para_frac == 0.0 and out[1].dup_line_frac == 0.0


def test_c4_line_filters(spark):
    """C4 §2.2 line retention: terminal punctuation, ≥5 words, no
    'javascript'; page verdict needs ≥3 sentences and no brace/lorem."""
    from amazon_textract_transformer_pipeline_spark.operators.textstats import (
        with_c4_filters,
    )

    good = ("This is a proper first sentence here.\n"
            "Another full sentence follows right after that one!\n"
            "And a third sentence completes the page?\n"
            "short line.\n"                     # < 5 words → dropped
            "no terminal punctuation on this line\n"
            "Please enable javascript to view this page today.")
    docs = spark.createDataFrame(
        [(0, good),
         (1, "One sentence only but long enough to keep."),  # < 3 sentences
         (2, good + " { code }"),                            # brace
         (3, ""),
         (4, good + " stray } only")],      # close brace alone still drops
        "doc_id long, text string")
    out = {r.doc_id: r for r in with_c4_filters(docs).collect()}
    assert out[0].c4_pass and out[0].c4_n_kept_lines == 3
    assert "javascript" not in out[0].c4_kept_text.lower()
    assert "short line." not in out[0].c4_kept_text
    assert not out[1].c4_pass and out[1].c4_n_kept_lines == 1
    assert not out[2].c4_pass        # curly brace kills the page
    assert not out[3].c4_pass and out[3].c4_kept_text == ""
    assert not out[4].c4_pass        # '}' of either kind (Raffel §2.2)


def test_vocab_top_k(spark):
    from pyspark.sql import functions as F

    from amazon_textract_transformer_pipeline_spark.operators.textstats import (
        vocab_top_k,
    )

    docs = spark.createDataFrame(
        [(1, "a b b c c c"), (2, "c b"), (3, "")],
        "doc_id long, text string")
    rows = vocab_top_k(docs, k=2).collect()
    assert [(r["vocab_rank"], r["token"], r["n_occurrences"], r["n_docs"])
            for r in rows] == [(1, "c", 4, 2), (2, "b", 3, 2)]
    # ties order by token asc: a vs d both count 1
    docs2 = spark.createDataFrame([(1, "d a")], "doc_id long, text string")
    rows2 = vocab_top_k(docs2, k=2).collect()
    assert [r["token"] for r in rows2] == ["a", "d"]
