"""The benchmark workloads: input staging, warm-up, timed passes, checks.

Every input is generated from the workload seed and written to parquet in
set-up, so a timed pass starts at the scan. Sizes were picked from measured
runs on two task slots: large enough that the layers each workload is meant
to stress take most of a pass, small enough that a run with set-up, a
``--seconds`` 15 timed region and its check stays near a minute.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
from dataclasses import dataclass, field
from pathlib import Path
from time import perf_counter

from pyspark.sql import DataFrame, SparkSession

from amazon_textract_transformer_pipeline_spark.config import DEMO_CONFIG
from amazon_textract_transformer_pipeline_spark.plans.lineage import LineageStore
from amazon_textract_transformer_pipeline_spark.plans.pipeline import (
    extract_pipeline,
    extraction_stage_for_lineage,
)
from amazon_textract_transformer_pipeline_spark.sources import (
    skewed_pages_df,
    synthetic_pages_df,
)
from correctness import doc_violations

#: fields every document must carry: the non-ignored DEMO_CONFIG entries
N_FIELDS = sum(1 for c in DEMO_CONFIG if not c.get("Ignore", False))

#: 6-7 s per lineage pass after warm-up; the same job over 200 pages takes
#: about 4.5 s, so most of a pass is the job's fixed cost. Entities and
#: consolidate take most of the layer time
CRAWL_DOCS = 2000
CRAWL_BUCKETS = 16
CRAWL_PASS_S = 6.5

#: 8-9 s per warm pass; splitting and inference take about half the layer
#: time
WINDOW_DOCS = 32
WINDOW_PASS_S = 8.5
#: lines per hot-host page: ~3000 words, i.e. six to seven 510-token windows
WINDOW_HEAVY_LINES = 300


def force(df: DataFrame) -> None:
    """Run ``df`` to completion, discarding its rows."""
    df.write.format("noop").mode("overwrite").save()


def staged_mb(path: str) -> float:
    """Size of the parquet files under ``path``. Spark's ``inputBytes``
    stays near zero for local files, so input volume is read off the disk."""
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path)
               for f in files if f.endswith(".parquet")) / (1 << 20)


def lineage_job(spark: SparkSession, root: str, pages: DataFrame) -> None:
    """``scripts/extract_job.py`` minus session handling."""
    store = LineageStore(root, n_buckets=CRAWL_BUCKETS)
    store.validate(spark)
    store.run(spark, pages, extraction_stage_for_lineage())


def resume_buckets(spark: SparkSession, root: str, pages: DataFrame,
                   buckets) -> dict[str, float]:
    """Delete ``buckets`` from a finished lineage root and rebuild them with
    ``validate`` + ``run``, as a restarted job would."""
    results = os.path.join(root, "results")
    for b in buckets:
        shutil.rmtree(os.path.join(results, f"bucket={b}"))
    store = LineageStore(root, n_buckets=CRAWL_BUCKETS)
    t0 = perf_counter()
    demoted = store.validate(spark)
    t1 = perf_counter()
    summary = store.run(spark, pages, extraction_stage_for_lineage())
    t2 = perf_counter()
    if demoted != set(buckets) or summary["buckets_done"] != len(buckets):
        raise RuntimeError(
            f"resume rebuilt {summary['buckets_done']} buckets after validate "
            f"demoted {sorted(demoted)}; expected {sorted(buckets)}")
    n_files = sum(1 for _, _, files in os.walk(results)
                  for f in files if f.endswith(".parquet"))
    return {"resume_s": t2 - t0, "validate_s": t1 - t0, "run_s": t2 - t1,
            "buckets_recomputed": len(buckets), "files_written": n_files}


@dataclass
class Measured:
    docs: int = 0
    pass_s: list[float] = field(default_factory=list)

    @property
    def docs_per_s(self) -> float:
        """Pages of one pass over the median pass time."""
        return self.docs / len(self.pass_s) / statistics.median(self.pass_s)


def n_passes(seconds: float, pass_s: float) -> int:
    """Passes that fill ``seconds`` at the workload's usual pass time, at
    least two. A count rather than a deadline: under a deadline a run in a
    slow minute would time one pass fewer, and its median would move towards
    the first, least warm pass."""
    return max(2, math.ceil(seconds / pass_s))


def timed_passes(one_pass, docs_per_pass: int, passes: int) -> Measured:
    out = Measured()
    for _ in range(passes):
        t0 = perf_counter()
        one_pass()
        out.pass_s.append(perf_counter() - t0)
    out.docs = docs_per_pass * passes
    return out


class CrawlBatch:
    """``scripts/extract_job.py``'s path: ``LineageStore.validate`` + ``run``
    of the sql-stub extraction stage, bucket-partitioned parquet out, over
    uniform Common-Crawl-like pages."""

    name = "crawl_batch"
    model = "sql-stub"
    docs = CRAWL_DOCS
    pass_s = CRAWL_PASS_S

    def __init__(self, work: Path):
        self.work = work
        self.pages_dir = str(work / "pages")
        self.passes = 0
        self.last_root: str | None = None
        self.checked: tuple[int, int] | None = None

    def stage(self, spark: SparkSession, seed: int) -> None:
        synthetic_pages_df(spark, CRAWL_DOCS, seed=seed).write.parquet(
            self.pages_dir)

    def pages(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.pages_dir)

    def one_pass(self, spark: SparkSession) -> None:
        """One job into a fresh root; the previous root is removed."""
        root = str(self.work / "runs" / f"pass{self.passes}")
        self.passes += 1
        lineage_job(spark, root, self.pages(spark))
        if self.last_root:
            shutil.rmtree(self.last_root)
        self.last_root = root

    def warm_up(self, spark: SparkSession) -> None:
        """A cold pass whose outputs are checked in full, then one more pass:
        the first pass after the cold one is still about a fifth slower than
        the later ones."""
        self.one_pass(spark)
        pages = self.pages(spark)
        texts = spark.read.parquet(os.path.join(self.last_root, "results"))
        res = extract_pipeline(pages, model=self.model)
        try:
            self.checked = doc_violations(pages, texts, res.fields, N_FIELDS)
        finally:
            res.unpersist()
        self.one_pass(spark)

    def check(self, spark: SparkSession) -> tuple[int, int]:
        """The full check of the warm-up pass, plus the last timed pass's
        own read-back: every page must have landed in its results."""
        attempted, failed = self.checked
        store = LineageStore(self.last_root, n_buckets=CRAWL_BUCKETS)
        written = sum(store.recorded_counts().values())
        return attempted, min(attempted, failed + abs(CRAWL_DOCS - written))


class WindowModel:
    """``extract_pipeline(model="window-stub")`` into a noop sink over a
    corpus whose first half are multi-window pages of one host, adjacent in
    scan order (the ``skewed_pages_df`` shape)."""

    name = "window_model"
    model = "window-stub"
    docs = WINDOW_DOCS
    pass_s = WINDOW_PASS_S

    def __init__(self, work: Path):
        self.work = work
        self.pages_dir = str(work / "pages")
        self.checked: tuple[int, int] | None = None

    def stage(self, spark: SparkSession, seed: int) -> None:
        skewed_pages_df(spark, WINDOW_DOCS, seed=seed,
                        heavy_lines=WINDOW_HEAVY_LINES).write.parquet(
                            self.pages_dir)

    def pages(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.pages_dir)

    def one_pass(self, spark: SparkSession) -> None:
        res = extract_pipeline(self.pages(spark), model=self.model)
        try:
            force(res.extracted_text)
            force(res.fields)
        finally:
            res.unpersist()

    def warm_up(self, spark: SparkSession) -> None:
        """A pass whose outputs are checked, since the timed passes keep
        nothing, then a pass of the timed plan: the first run of the noop
        plan is about a third slower than later ones."""
        pages = self.pages(spark)
        res = extract_pipeline(pages, model=self.model)
        try:
            self.checked = doc_violations(pages, res.extracted_text,
                                          res.fields, N_FIELDS)
        finally:
            res.unpersist()
        self.one_pass(spark)

    def check(self, spark: SparkSession) -> tuple[int, int]:
        return self.checked


WORKLOADS = {w.name: w for w in (CrawlBatch, WindowModel)}
