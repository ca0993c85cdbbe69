"""Checks of the benchmark's own instruments.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

BENCH = Path(__file__).resolve().parents[1]
ROOT = BENCH.parent
sys.path[:0] = [str(BENCH), str(ROOT)]
# Python workers import the package too
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)

from amazon_textract_transformer_pipeline_spark.plans.pipeline import (  # noqa: E402
    extract_pipeline,
)
from amazon_textract_transformer_pipeline_spark.session import get_spark  # noqa: E402
from amazon_textract_transformer_pipeline_spark.sources import (  # noqa: E402
    synthetic_pages_df,
)
from correctness import doc_violations  # noqa: E402
from counters import group_counters  # noqa: E402
import procstat  # noqa: E402
from procstat import PeakRss, tree_cpu_s, tree_pids  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402
from workloads import N_FIELDS, force  # noqa: E402


@pytest.fixture(scope="module")
def spark():
    return get_spark("perfbench-tests", cores=2, shuffle_partitions=2,
                     extra_conf={"spark.ui.showConsoleProgress": "false"})


@pytest.fixture(scope="module")
def extraction(spark):
    pages = synthetic_pages_df(spark, 40, seed=5).cache()
    res = extract_pipeline(pages, model="sql-stub")
    texts = res.extracted_text.cache()
    fields = res.fields.select("url", "ClassId").cache()
    yield pages, texts, fields
    res.unpersist()


def test_clean_output_has_no_violations(extraction):
    pages, texts, fields = extraction
    assert doc_violations(pages, texts, fields, N_FIELDS) == (40, 0)


def test_one_corrupted_oracle_row_is_counted(extraction):
    pages, texts, fields = extraction
    victim = pages.select("url").orderBy("url").first()["url"]
    oracle = pages.withColumn(
        "text", F.when(F.col("url") == victim, F.concat("text", F.lit("!")))
        .otherwise(F.col("text")))
    attempted, failed = doc_violations(oracle, texts, fields, N_FIELDS)
    assert (attempted, failed) == (40, 1)
    assert failed / attempted > 0


def test_missing_field_row_and_missing_doc_are_counted(extraction):
    pages, texts, fields = extraction
    urls = [r["url"] for r in pages.select("url").orderBy("url").take(2)]
    one_field_short = fields.filter(
        ~((F.col("url") == urls[0]) & (F.col("ClassId") == 0)))
    no_text = texts.filter(F.col("url") != urls[1])
    assert doc_violations(pages, no_text, one_field_short, N_FIELDS) == (40, 2)


def test_group_counters_sum_a_toy_group_by(spark):
    sc = spark.sparkContext
    sc.setJobGroup("perfbench-test-toy", "toy groupBy")
    try:
        force(spark.range(50_000).groupBy((F.col("id") % 7).alias("k"))
              .count())
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    c = group_counters(sc, "perfbench-test-toy")
    assert c.jobs >= 1 and c.stages >= 2
    assert c.run_s > 0
    assert c.shuffle_write_mb > 0 and c.shuffle_read_mb > 0
    assert c.tasks_failed == 0
    assert c.task_skew >= 1.0


def test_process_tree_includes_the_jvm():
    pids = tree_pids(os.getpid())
    assert os.getpid() in pids and len(pids) >= 2  # the driver and its JVM
    with PeakRss(interval_s=0.01) as rss:
        cpu0 = tree_cpu_s()
        sum(i * i for i in range(200_000))
    assert tree_cpu_s() > cpu0
    assert rss.peak_mb > 100  # a JVM alone is larger than this


def test_rss_skips_a_child_that_has_not_exec_d(monkeypatch):
    # pid: (parent, executable, rss pages); 2 is a vfork child of the JVM
    tree = {1: (0, "/jdk/bin/java", 1000), 2: (1, "/jdk/bin/java", 1000),
            3: (1, "/usr/bin/python3", 100), 4: (3, "/usr/bin/python3", 10),
            5: (1, "/bin/chmod", 1)}
    monkeypatch.setattr(procstat, "tree_pids", lambda root: list(tree))
    monkeypatch.setattr(procstat, "_exe", lambda pid: tree[pid][1])
    monkeypatch.setattr(
        procstat, "_stat_fields",
        lambda pid: ["S", str(tree[pid][0])] + ["0"] * 19 + [str(tree[pid][2])])
    assert procstat.tree_rss_mb(1) == 1111 * procstat._PAGE_MB
