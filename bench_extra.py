#!/usr/bin/env python
"""Optimization-round measurement harness (guide §1) — NOT the driver bench.

``bench.py`` is frozen for measurement; this file holds the extra
instrumentation the optimization work needs:

* ``--explain <name>``  dump .explain('formatted') for a query to
  plans/r07/<name>_<tag>.txt
* ``--time [names...]`` per-query wall time, noop-sink isolated
  (df.write.format('noop')), labelled jobs, best-of-N
* with no args: time every benched query once (warm session), noop sink.

Numbers cited in OPTIMIZATION_r07.md come from here unless marked as
driver-protocol (bench.py) numbers.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from pyspark.sql import functions as F  # noqa: E402

from amazon_textract_transformer_pipeline_spark import driver_queries as Q  # noqa: E402
from amazon_textract_transformer_pipeline_spark.operators import (  # noqa: E402
    dedup,
    similarity,
)
from amazon_textract_transformer_pipeline_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
PLANS = Path(__file__).parent / "plans" / "r07"


def build_queries(spark):
    """Same DataFrame constructions as bench.py's bench_queries (minus the
    staged warc entry), name → lambda returning the DataFrame."""
    sf = SF_DIR
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    embs = spark.read.parquet(f"{sf}/embeddings.parquet")
    return {
        "extract_text": lambda: Q.q_extract_text(spark, sf),
        "entity_mentions": lambda: Q.q_entity_mentions(spark, sf),
        "fields": lambda: Q.q_fields(spark, sf),
        "minhash_near_dup": lambda: dedup.near_duplicates(
            docs.select("doc_id", "text"), threshold=0.5),
        "simhash_near_dup": lambda: dedup.simhash_near_duplicates(
            docs.select("doc_id", "text"), max_hamming=2),
        "ann_bruteforce": lambda: similarity.brute_force_topk(
            embs, embs.filter("vec_id % 20 = 0"), topk=10),
        "ann_bruteforce_arrow": lambda: similarity.brute_force_topk_arrow(
            embs, embs.filter("vec_id % 20 = 0"), topk=10),
        "ann_lsh": lambda: similarity.lsh_topk(
            embs, embs.filter("vec_id % 20 = 0"), topk=10,
            n_planes=6, n_tables=2),
        "text_stats": lambda: Q.q_text_stats(spark, sf),
        "split_windows": lambda: Q.q_split_windows(spark, sf),
        "main_content": lambda: Q.q_main_content_text(spark, sf),
        "c4_span_dedup": lambda: Q.q_c4_span_dedup(spark, sf),
        "lm_perplexity": lambda: Q.q_lm_perplexity(spark, sf),
        "corpus_filter": lambda: Q.q_corpus_filter(spark, sf),
        "mixture_sample": lambda: Q.q_mixture_sample(spark, sf),
        "semantic_dedup": lambda: Q.q_semantic_dedup(spark, sf),
        "semantic_dedup_arrow": lambda: dedup.semantic_dedup(
            Q.semantic_corpus(embs), threshold=0.95, centroid_every=25,
            assign="arrow"),
        "quality_nb": lambda: Q.q_quality_nb(spark, sf),
        "tfidf_top_terms": lambda: Q.q_tfidf_top_terms(spark, sf),
        "exact_substring_dedup": lambda: Q.q_exact_substring_dedup(spark, sf),
        "bpe_merges": lambda: Q.q_bpe_merges(spark, sf),
        "pagerank": lambda: Q.q_pagerank(spark, sf),
        "export_shards": lambda: Q.q_export_shards(spark, sf),
        "winnow_fingerprints": lambda: dedup.winnow_fingerprints(
            docs.filter("doc_id % 5 = 0").select("doc_id", "text")),
        "gopher_repetition": lambda: Q.q_gopher_repetition(spark, sf),
        "tumbling_windows": lambda: Q.q_tumbling_windows(spark, sf),
        "session_windows": lambda: Q.q_session_windows(spark, sf),
        "pdf_extract": lambda: Q.q_pdf_extract(spark, sf),
    }


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    eff_cores = min(CPUS, max((os.cpu_count() or CPUS) // 2, 2))
    spark = get_spark("bench-extra", cores=eff_cores,
                      shuffle_partitions=eff_cores * 3)
    qs = build_queries(spark)

    if "--explain" in sys.argv:
        ix = sys.argv.index("--explain")
        name, tag = sys.argv[ix + 1], sys.argv[ix + 2]
        PLANS.mkdir(parents=True, exist_ok=True)
        df = qs[name]()
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        (PLANS / f"{name}_{tag}.txt").write_text(plan)
        print(f"wrote plans/r07/{name}_{tag}.txt ({len(plan)} bytes)")
        spark.stop()
        return

    names = [a for a in sys.argv[1:] if not a.startswith("-")]
    repeat = 3 if "--best3" in sys.argv else 1
    if not names:
        names = list(qs)
    # warm up the JVM/Arrow path once
    noop(qs["text_stats"]())
    out = {}
    for name in names:
        walls = []
        for _ in range(repeat):
            spark.sparkContext.setJobDescription(f"bx:{name}")
            t0 = time.time()
            noop(qs[name]())
            walls.append(round(time.time() - t0, 3))
        out[name] = min(walls)
        print(f"  {name}: {walls} -> {out[name]}", file=sys.stderr, flush=True)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
