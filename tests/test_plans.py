"""Pipeline assembly, salted partitioning, lineage/resume."""

from __future__ import annotations

import glob
import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from amazon_textract_transformer_pipeline_spark.plans.lineage import LineageStore
from amazon_textract_transformer_pipeline_spark.plans.partitioning import (
    bucket_by_url,
    salted_repartition_by_url,
    spread_if_narrow,
)
from amazon_textract_transformer_pipeline_spark.plans.pipeline import (
    extract_pipeline,
    extraction_stage_for_lineage,
)


def test_full_pipeline_both_models(spark, pages_df):
    for mode in ("sql-stub", "window-stub"):
        res = extract_pipeline(pages_df, model=mode)
        bad = (
            res.extracted_text.join(pages_df.select("url", "text"), "url")
            .filter("extracted_text <> text").count()
        )
        assert bad == 0, mode
        assert res.mentions.count() > 500, mode
        assert res.fields.count() == 300 * 11, mode


def test_pipeline_plans_have_no_shuffle(spark, pages_df):
    """scan → front-end → per-document kernel → sink: the fields and the
    doc confidences of both models run without a shuffle exchange."""
    for mode in ("sql-stub", "window-stub"):
        res = extract_pipeline(pages_df, model=mode)
        try:
            for name in ("fields", "doc_confidences"):
                plan = getattr(res, name)._jdf.queryExecution() \
                    .executedPlan().toString()
                assert "MapInArrow" in plan, (mode, name, plan)
                assert "Exchange" not in plan, (mode, name, plan)
        finally:
            res.unpersist()


def _plan_nodes(plan) -> list[str]:
    """Node names of a physical plan, depth first."""
    kids = plan.children()
    return [plan.nodeName()] + [n for i in range(kids.size())
                                for n in _plan_nodes(kids.apply(i))]


def test_pipeline_documents_are_one_python_pass(spark, pages_df):
    """The persisted per-document frame is scan → one MapInArrow: the
    front-end parses inside the kernel, not in a second Python map."""
    cache = spark._jsparkSession.sharedState().cacheManager()
    for mode in ("sql-stub", "window-stub"):
        res = extract_pipeline(pages_df, model=mode)
        try:
            cached = cache.lookupCachedData(res.documents._jdf).get()
            nodes = _plan_nodes(
                cached.cachedRepresentation().cacheBuilder().cachedPlan())
            assert nodes.count("MapInArrow") == 1, (mode, nodes)
            assert not [n for n in nodes if "Exchange" in n], (mode, nodes)
        finally:
            res.unpersist()


def test_spread_if_narrow_passes_streams_through(spark, pages_df, tmp_path):
    land = str(tmp_path / "landing")
    pages_df.limit(5).write.parquet(land)
    stream = spark.readStream.schema(pages_df.schema).parquet(land)
    assert spread_if_narrow(stream, "url") is stream


def test_salted_repartition_balances_zipf_hosts(spark, pages_df):
    """Zipf host skew: host000 has ~20% of rows. After salting, partition
    sizes are near-uniform."""
    df = salted_repartition_by_url(pages_df, 16)
    sizes = [r.n for r in
             df.groupBy(F.spark_partition_id().alias("p"))
             .agg(F.count("*").alias("n")).collect()]
    assert len(sizes) == 16
    assert max(sizes) <= 2.0 * (sum(sizes) / len(sizes))  # no dominant partition


def test_bucket_stability(spark, pages_df):
    a = {(r.url, r.bucket) for r in bucket_by_url(pages_df, 8).select("url", "bucket").collect()}
    b = {(r.url, r.bucket) for r in bucket_by_url(pages_df, 8).select("url", "bucket").collect()}
    assert a == b
    assert len({x[1] for x in a}) == 8


def test_lineage_resume_skips_completed(spark, pages_df, tmp_path):
    root = str(tmp_path / "ckpt")
    store = LineageStore(root, n_buckets=8)
    stage = extraction_stage_for_lineage()

    # First run: complete everything
    s1 = store.run(spark, pages_df, stage, run_id="r1")
    assert s1["buckets_done"] == 8
    n_rows = spark.read.parquet(root + "/results").count()
    assert n_rows == 300

    # Second run: nothing remaining
    assert store.remaining(pages_df).count() == 0
    s2 = store.run(spark, pages_df, stage, run_id="r2")
    assert s2["buckets_done"] == 0
    assert spark.read.parquet(root + "/results").count() == 300

    # Simulate partial failure: forget 3 buckets from lineage
    done = sorted(store.completed_buckets())
    for f in glob.glob(root + "/_lineage/*.jsonl"):
        recs = [json.loads(line) for line in open(f)]
        keep = [r for r in recs if r["bucket"] not in done[:3]]
        with open(f, "w") as fh:
            for r in keep:
                fh.write(json.dumps(r) + "\n")
    remaining = store.remaining(pages_df)
    assert set(r.bucket for r in remaining.select("bucket").distinct().collect()) == set(done[:3])
    s3 = store.run(spark, pages_df, stage, run_id="r3")
    assert s3["buckets_done"] == 3
    # results identical after heal (deterministic recompute)
    assert spark.read.parquet(root + "/results").count() == 300
    assert store.remaining(pages_df).count() == 0


def test_extraction_results_deterministic_across_runs(spark, pages_df, tmp_path):
    stage = extraction_stage_for_lineage()
    a = LineageStore(str(tmp_path / "a"), n_buckets=4)
    b = LineageStore(str(tmp_path / "b"), n_buckets=4)
    a.run(spark, pages_df, stage, run_id="x")
    b.run(spark, pages_df, stage, run_id="y")
    da = spark.read.parquet(str(tmp_path / "a/results")).drop("bucket")
    db = spark.read.parquet(str(tmp_path / "b/results")).drop("bucket")
    assert da.exceptAll(db).count() == 0 and db.exceptAll(da).count() == 0


def test_lineage_validate_heals_disk_damage(spark, pages_df, tmp_path):
    """Out-of-band data loss: validate() demotes damaged buckets, next run
    recomputes them."""
    import os

    root = str(tmp_path / "heal")
    store = LineageStore(root, n_buckets=6)
    stage = extraction_stage_for_lineage()
    store.run(spark, pages_df, stage, run_id="h1")
    n0 = spark.read.parquet(root + "/results").count()

    for f in glob.glob(root + "/results/bucket=3/*"):
        os.remove(f)
    assert spark.read.parquet(root + "/results").count() < n0

    bad = store.validate(spark)
    assert bad == {3}
    assert 3 not in store.completed_buckets()
    store.run(spark, pages_df, stage, run_id="h2")
    assert spark.read.parquet(root + "/results").count() == n0
    assert store.validate(spark) == set()


def _jobs_of(spark, group: str, fn) -> int:
    """Spark jobs ``fn()`` runs, counted under its own job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_lineage_pass_is_one_spark_job(spark, pages_df, tmp_path):
    """scan → kernel → bucketed write is the pass's only job: counts come
    from parquet footers, so neither run nor validate reads the results
    back through Spark."""
    store = LineageStore(str(tmp_path / "jobs"), n_buckets=8)
    stage = extraction_stage_for_lineage()
    assert _jobs_of(spark, "lineage-run",
                    lambda: store.run(spark, pages_df, stage)) == 1
    assert sum(store.recorded_counts().values()) == 300
    assert _jobs_of(spark, "lineage-validate",
                    lambda: store.validate(spark)) == 0


def test_lineage_results_match_pipeline(spark, pages_df, tmp_path):
    """The lineage stage runs the kernel directly; per url its results
    equal ``extract_pipeline``'s: text byte for byte against the oracle,
    doc confidence bit for bit, the same review flag and bucket."""
    root = str(tmp_path / "match")
    store = LineageStore(root, n_buckets=8)
    store.run(spark, pages_df, extraction_stage_for_lineage())
    got = {r.url: r for r in spark.read.parquet(root + "/results").collect()}

    res = extract_pipeline(pages_df, model="sql-stub")
    try:
        want = {r.url: r for r in res.doc_confidences
                .join(store.with_buckets(pages_df)
                      .select("url", "bucket", "text"), "url").collect()}
    finally:
        res.unpersist()
    assert len(got) == 300 and got.keys() == want.keys()
    for url, g in got.items():
        w = want[url]
        assert g.extracted_text.encode() == w.text.encode(), url
        assert g.doc_confidence == w.Confidence, url
        assert g.needs_human_review == w.needs_human_review, url
        assert g.bucket == w.bucket, url


def test_null_url_row_is_dropped_not_fatal(spark, pages_df, tmp_path):
    """A page with a NULL url has no identity to key its outputs by: the
    kernel drops it instead of failing the job, and every other url's
    text and doc confidence equal a run without it."""
    mixed = pages_df.unionByName(
        pages_df.limit(1).withColumn("url", F.lit(None).cast("string")))

    want = {}
    for mode in ("sql-stub", "window-stub"):
        got = {}
        for name, pages in (("base", pages_df), ("mixed", mixed)):
            res = extract_pipeline(pages, model=mode)
            try:
                got[name] = {r.url: (r.extracted_text, r.Confidence)
                             for r in res.documents.select(
                                 "url", "extracted_text", "Confidence")
                             .collect()}
            finally:
                res.unpersist()
        assert len(got["base"]) == 300, mode
        assert got["mixed"] == got["base"], mode
        want[mode] = got["base"]

    store = LineageStore(str(tmp_path / "nulls"), n_buckets=8)
    store.run(spark, mixed, extraction_stage_for_lineage())
    assert sum(store.recorded_counts().values()) == 300
    got = {r.url: (r.extracted_text, r.doc_confidence) for r in
           spark.read.parquet(str(tmp_path / "nulls" / "results")).collect()}
    assert got == want["sql-stub"]


def test_lineage_validate_demotes_only_damaged_bucket(spark, pages_df,
                                                      tmp_path):
    """A truncated part file makes its own bucket unreadable: validate
    demotes that bucket alone and the next run rebuilds it in place."""
    root = str(tmp_path / "trunc")
    store = LineageStore(root, n_buckets=6)
    stage = extraction_stage_for_lineage()
    store.run(spark, pages_df, stage, run_id="t1")
    before = sorted(spark.read.parquet(root + "/results").collect())
    counts = store.disk_counts()

    k = 4
    part = sorted(glob.glob(root + f"/results/bucket={k}/part-*"))[0]
    with open(part, "r+b") as f:
        f.truncate(os.path.getsize(part) // 2)
    assert store.disk_counts()[k] == -1

    assert store.validate(spark) == {k}
    assert store.completed_buckets() == set(range(6)) - {k}
    assert store.run(spark, pages_df, stage, run_id="t2")["buckets_done"] == 1
    assert store.disk_counts() == counts
    assert store.validate(spark) == set()
    assert sorted(spark.read.parquet(root + "/results").collect()) == before


def test_torn_lineage_line_is_recomputed_not_fatal(spark, pages_df,
                                                   tmp_path):
    """A kill during the lineage append can cut the log's last line. That
    line's bucket then counts as not done: validate() does not raise, the
    next run (appending to the same log file) recomputes exactly that
    bucket, and the rows read back equal an uninterrupted run's."""
    stage = extraction_stage_for_lineage()
    whole = str(tmp_path / "whole")
    LineageStore(whole, n_buckets=8).run(spark, pages_df, stage)
    want = {r.url: r for r in spark.read.parquet(whole + "/results").collect()}

    root = str(tmp_path / "torn")
    store = LineageStore(root, n_buckets=8)
    store.run(spark, pages_df, stage, run_id="k1")
    log = os.path.join(root, "_lineage", "run-k1.jsonl")
    with open(log) as f:
        lines = f.read().splitlines(keepends=True)
    torn = json.loads(lines[-1])["bucket"]
    with open(log, "w") as f:
        f.writelines(lines[:-1])
        f.write(lines[-1][:len(lines[-1]) // 2])

    assert store.validate(spark) == set()
    assert store.completed_buckets() == set(range(8)) - {torn}
    assert store.run(spark, pages_df, stage, run_id="k1")["buckets_done"] == 1
    assert store.completed_buckets() == set(range(8))
    assert store.validate(spark) == set()
    got = {r.url: r for r in spark.read.parquet(root + "/results").collect()}
    assert len(got) == 300 and got == want


def test_resume_with_other_bucket_count_raises(spark, pages_df, tmp_path):
    """A store written with 64 buckets, one bucket lost, validated and then
    resumed with 16: the 16-bucket pass would rewrite bucket 5 with other
    pages and duplicate them. The run raises before it writes, and a
    resume with the original count heals the store."""
    root = str(tmp_path / "rebucket")
    stage = extraction_stage_for_lineage()
    LineageStore(root, n_buckets=64).run(spark, pages_df, stage)
    shutil.rmtree(root + "/results/bucket=5")
    before = sorted(spark.read.parquet(root + "/results").collect())
    assert 0 < len(before) < 300

    assert LineageStore(root, n_buckets=16).validate(spark) == {5}
    with pytest.raises(ValueError, match="n_buckets=64.*n_buckets=16"):
        LineageStore(root, n_buckets=16).run(spark, pages_df, stage)
    assert sorted(spark.read.parquet(root + "/results").collect()) == before

    store = LineageStore(root, n_buckets=64)
    assert store.run(spark, pages_df, stage)["buckets_done"] == 1
    urls = [r.url for r in
            spark.read.parquet(root + "/results").select("url").collect()]
    assert len(urls) == len(set(urls)) == 300


def test_run_reads_lineage_log_once(spark, pages_df, tmp_path, monkeypatch):
    """The log only grows, so a pass reads and parses it once: the done set,
    the bucket-count check and the filtered frame all come from that read."""
    calls = []
    records = LineageStore._records

    def counted(self):
        calls.append(1)
        return records(self)

    monkeypatch.setattr(LineageStore, "_records", counted)
    store = LineageStore(str(tmp_path / "reads"), n_buckets=8)
    store.run(spark, pages_df, extraction_stage_for_lineage())
    assert len(calls) == 1
