"""Traced run: each layer's public function in isolation, over a cached
input, under a job group named after the layer.

Layer times come from outside the program: wall and process-tree CPU around
the call, and Spark's per-stage counters summed over the layer's job group.
Every layer runs on every workload so that each workload reports the same
metric names; ``PATH_LAYERS`` says which of them a workload's end-to-end
pass actually goes through, and only those enter the isolation overhead.
Splitting and inference run over a sample where they are off the path. The
streaming layer runs as a probe: a few small landing files through
``start_extraction_stream``, one file per trigger. The lineage layer
resumes the workload's own output where its pass wrote one.
"""

from __future__ import annotations

import os
import statistics
from collections import defaultdict
from pathlib import Path
from time import perf_counter

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from amazon_textract_transformer_pipeline_spark.config import (
    DEMO_CONFIG,
    field_config_df,
)
from amazon_textract_transformer_pipeline_spark.operators.assembly import (
    assemble_text,
    pages_view,
    words_view,
)
from amazon_textract_transformer_pipeline_spark.operators.consolidate import (
    consolidate_fields,
)
from amazon_textract_transformer_pipeline_spark.operators.enrich import (
    stub_predictions,
)
from amazon_textract_transformer_pipeline_spark.operators.entities import (
    extract_mentions,
)
from amazon_textract_transformer_pipeline_spark.operators.frontend import (
    html_to_words,
)
from amazon_textract_transformer_pipeline_spark.operators.inference import (
    aggregate_word_predictions,
    predict_windows,
)
from amazon_textract_transformer_pipeline_spark.operators.splitting import (
    split_pages_to_windows,
)
from amazon_textract_transformer_pipeline_spark.plans.partitioning import (
    sort_by_cost_bucket,
)
from amazon_textract_transformer_pipeline_spark.streaming.extract_stream import (
    read_pages_stream,
    start_extraction_stream,
)
from counters import GroupCounters, group_counters
from procstat import tree_cpu_s
from workloads import force, lineage_job, resume_buckets, staged_mb

LAYERS = ("session", "sources", "frontend", "assembly", "enrich", "splitting",
          "inference", "entities", "consolidate", "lineage", "streaming")

#: layers each workload's end-to-end pass runs through, up to its sink
PATH_LAYERS = {
    "crawl_batch": ("sources", "frontend", "assembly", "enrich", "entities",
                    "consolidate"),
    "window_model": ("sources", "frontend", "assembly", "splitting",
                     "inference", "entities", "consolidate"),
}

#: per-layer metrics reported in the result line. spill_mb and tasks_failed
#: are printed for every layer but not listed: they are zero at these input
#: sizes.
PER_LAYER = (
    "session.start_s", "sources.scan_s", "sources.input_mb",
    "frontend.busy_s", "frontend.words_out", "frontend.task_skew",
    "assembly.busy_s", "enrich.busy_s",
    "splitting.busy_s", "splitting.windows_out", "splitting.overlap_ratio",
    "inference.predict_busy_s", "inference.aggregate_busy_s",
    "inference.join_busy_s", "inference.shuffle_mb", "inference.task_skew",
    "entities.busy_s", "entities.shuffle_mb", "entities.mentions_out",
    "consolidate.busy_s", "consolidate.shuffle_mb",
    "lineage.resume_s", "lineage.validate_s", "lineage.run_s",
    "lineage.files_written", "lineage.buckets_recomputed",
    "streaming.add_batch_ms", "streaming.planning_ms", "streaming.commit_ms",
    "streaming.jobs_per_batch",
) + tuple(f"{layer}.{key}" for layer in LAYERS
        for key in ("cpu_s", "gc_s")) + ("isolation.overhead_s",)

#: pages splitting and inference are traced over where the workload's pass
#: does not run them, so that every workload reports every layer without
#: paying for layers it does not use
OFF_PATH_PAGES = 200
#: buckets the lineage layer deletes and rebuilds (the first few present)
TRACE_RESUME_BUCKETS = 3
#: arrivals the streaming probe takes, one file of PROBE_FILE_DOCS pages
#: per trigger
PROBE_FILES = 2
PROBE_FILE_DOCS = 25


def _cached(df: DataFrame) -> DataFrame:
    df = df.persist()
    df.count()
    return df


def _total_words(pages: DataFrame) -> int:
    return int(pages.agg(F.sum(F.size("words"))).first()[0] or 0)


class Tracer:
    """Runs calls under per-layer job groups and accumulates each layer's
    wall time, process-tree CPU and Spark counters."""

    def __init__(self, spark: SparkSession):
        self.sc = spark.sparkContext
        self.metrics: dict[str, float] = {}
        self.wall_s: dict[str, float] = defaultdict(float)

    def run(self, layer: str, fn, step: str | None = None) -> GroupCounters:
        group = f"{layer}.{step}" if step else layer
        self.sc.setJobGroup(group, group)
        cpu0, t0 = tree_cpu_s(), perf_counter()
        try:
            fn()
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        wall, cpu = perf_counter() - t0, tree_cpu_s() - cpu0
        counters = group_counters(self.sc, group)
        self.wall_s[layer] += wall
        self._add(layer, cpu_s=cpu, gc_s=counters.gc_s,
                  spill_mb=counters.spill_mb,
                  tasks_failed=counters.tasks_failed)
        return counters

    def _add(self, layer: str, **values: float) -> None:
        for key, v in values.items():
            name = f"{layer}.{key}"
            self.metrics[name] = self.metrics.get(name, 0.0) + v


def stream_probe(spark: SparkSession, pages: DataFrame, work: Path):
    """Stage PROBE_FILES landing files from ``pages`` and run the extraction
    stream over them to completion; return the finished query."""
    landing = str(work / "landing")
    (pages.limit(PROBE_FILES * PROBE_FILE_DOCS).repartition(PROBE_FILES)
     .write.parquet(landing))
    query = start_extraction_stream(
        read_pages_stream(spark, landing, max_files_per_trigger=1),
        str(work / "out"), str(work / "checkpoint"))
    query.awaitTermination()
    if query.exception() is not None:
        raise RuntimeError(f"stream failed: {query.exception()}")
    return query


def trace_layers(spark: SparkSession, wl, work: Path,
                 setup: dict[str, float], e2e_wall_s: float
                 ) -> tuple[dict[str, float], dict[str, float]]:
    """Return (metrics, wall seconds per layer) for the workload's pages."""
    on_path = PATH_LAYERS[wl.name]
    tr = Tracer(spark)
    m = tr.metrics
    pages = wl.pages(spark)
    tr._add("session", start_s=setup["start_s"], cpu_s=setup["start_cpu_s"],
            gc_s=0.0, spill_mb=0.0, tasks_failed=0)
    cfg = field_config_df(spark, DEMO_CONFIG)
    caches: list[DataFrame] = []

    def cached(df: DataFrame) -> DataFrame:
        caches.append(_cached(df))
        return caches[-1]

    tr.run("sources", lambda: force(pages))
    m["sources.scan_s"] = tr.wall_s["sources"]
    m["sources.input_mb"] = staged_mb(wl.pages_dir)
    src = cached(pages)

    c = tr.run("frontend", lambda: force(html_to_words(src)))
    m["frontend.busy_s"], m["frontend.task_skew"] = c.run_s, c.task_skew
    doc_words = cached(html_to_words(src))
    page_rows = cached(pages_view(doc_words))
    words = cached(words_view(doc_words))
    m["frontend.words_out"] = _total_words(page_rows)

    m["assembly.busy_s"] = tr.run(
        "assembly", lambda: force(assemble_text(doc_words))).run_s
    m["enrich.busy_s"] = tr.run(
        "enrich", lambda: force(stub_predictions(words))).run_s

    model_rows, model_words = page_rows, words
    if "splitting" not in on_path:
        model_rows = cached(page_rows.limit(OFF_PATH_PAGES))
        model_words = cached(words.join(model_rows.select("url").distinct(),
                                        "url", "left_semi"))
    c = tr.run("splitting", lambda: force(split_pages_to_windows(model_rows)))
    m["splitting.busy_s"] = c.run_s
    windows = cached(sort_by_cost_bucket(split_pages_to_windows(model_rows)))
    m["splitting.windows_out"] = windows.count()
    m["splitting.overlap_ratio"] = (_total_words(windows)
                                    / _total_words(model_rows))

    predict = tr.run("inference", lambda: force(predict_windows(windows)),
                     "predict")
    window_preds = cached(predict_windows(windows))
    aggregate = tr.run(
        "inference",
        lambda: force(aggregate_word_predictions(window_preds)), "aggregate")
    word_preds = cached(aggregate_word_predictions(window_preds))

    # the last step of inference.enrich_words_with_model, over cached inputs
    def model_join() -> DataFrame:
        return model_words.join(
            word_preds.select("url", "page_num", "word_pos", "pred_cls",
                              "pcc", "probs"),
            ["url", "page_num", "word_pos"], "left")

    join = tr.run("inference", lambda: force(model_join()), "join")
    m["inference.predict_busy_s"] = predict.run_s
    m["inference.aggregate_busy_s"] = aggregate.run_s
    m["inference.join_busy_s"] = join.run_s
    m["inference.shuffle_mb"] = sum(
        x.shuffle_mb for x in (predict, aggregate, join))
    m["inference.task_skew"] = predict.task_skew

    enriched = cached(model_join() if wl.model == "window-stub"
                      else stub_predictions(words))
    c = tr.run("entities", lambda: force(extract_mentions(enriched, cfg)))
    m["entities.busy_s"], m["entities.shuffle_mb"] = c.run_s, c.shuffle_mb
    mentions = cached(extract_mentions(enriched, cfg))
    m["entities.mentions_out"] = mentions.count()

    c = tr.run("consolidate", lambda: force(
        consolidate_fields(mentions, cfg, src.select("url"))))
    m["consolidate.busy_s"] = c.run_s
    m["consolidate.shuffle_mb"] = c.shuffle_mb

    for df in caches:
        df.unpersist()

    # resume the workload's own lineage output where its pass wrote one
    root = getattr(wl, "last_root", None)
    if root is None:
        root = str(work / "trace_lineage")
        tr.run("lineage", lambda: lineage_job(spark, root, pages), "job")
    present = sorted(int(d.split("=", 1)[1])
                     for d in os.listdir(os.path.join(root, "results"))
                     if d.startswith("bucket="))
    resumed: dict[str, float] = {}
    tr.run("lineage", lambda: resumed.update(resume_buckets(
        spark, root, pages, present[:TRACE_RESUME_BUCKETS])), "resume")
    for key in ("resume_s", "validate_s", "run_s", "files_written",
                "buckets_recomputed"):
        m[f"lineage.{key}"] = resumed[key]

    streamed = []
    tr.run("streaming", lambda: streamed.append(
        stream_probe(spark, pages, work / "trace_stream")), "probe")
    progress = streamed[0].recentProgress
    # the stream's own jobs run under its run id, not the probe's job group
    stream_jobs = group_counters(spark.sparkContext, str(streamed[0].runId))
    tr._add("streaming", gc_s=stream_jobs.gc_s, spill_mb=stream_jobs.spill_mb,
            tasks_failed=stream_jobs.tasks_failed)
    durations = [p["durationMs"] for p in progress]
    m["streaming.add_batch_ms"] = statistics.median(
        d["addBatch"] for d in durations)
    m["streaming.planning_ms"] = statistics.median(
        d["queryPlanning"] for d in durations)
    m["streaming.commit_ms"] = statistics.median(
        d["walCommit"] + d["commitOffsets"] for d in durations)
    m["streaming.jobs_per_batch"] = stream_jobs.jobs / len(progress)

    m["isolation.overhead_s"] = sum(
        tr.wall_s[layer] for layer in PATH_LAYERS[wl.name]) - e2e_wall_s
    return m, dict(tr.wall_s)
