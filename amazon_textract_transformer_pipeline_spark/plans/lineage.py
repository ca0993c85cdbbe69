"""Per-partition lineage + resumable checkpointing (north_rule: "resumable
from checkpoint with per-partition lineage + metrics").

Reference precedent: skip-existing incremental compute
(``notebooks/util/ocr.py:151-161,207-209``) and sha256 idempotency tokens
(``fn-call-textract/main.py:160-187``) — SURVEY §2.1 S6/S7 and §4. There the
unit of resume is one S3 object; here it is a deterministic url-hash
**bucket** (plans/partitioning.bucket_by_url):

* results are written ``partitionBy(bucket)`` with dynamic partition
  overwrite — re-running a bucket replaces it byte-identically (every stage
  is deterministic, SURVEY §7 "Deterministic IDs"), giving exactly-once
  output without a transactional table format. On a real cluster the same
  layout maps 1:1 onto Iceberg ``MERGE``/``replaceWhere``.
* a JSON-lines lineage log records (bucket, n_buckets, n_rows, status,
  run_id, wall_ms_total_write) per bucket; :meth:`LineageStore.remaining`
  filters the completed buckets away so a restarted job touches only
  unfinished buckets. A bucket id means something only under the bucket
  count that wrote it, so resuming with another count raises.
* row counts per bucket come from the parquet footers of the committed
  files (:meth:`LineageStore.disk_counts`), read on the driver: recording
  and validating a pass runs no Spark job beyond the write itself.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .partitioning import bucket_by_url

LINEAGE_SUBDIR = "_lineage"


def _end_torn_line(path: str) -> None:
    """Cut a last line that has no newline, so the next append to ``path``
    starts a line of its own. A kill during an append leaves such a line;
    its buckets then count as not done and are recomputed, as
    :meth:`LineageStore._records` already treats a torn last line."""
    if not os.path.exists(path):
        return
    with open(path, "rb+") as f:
        data = f.read()
        if data and not data.endswith(b"\n"):
            f.truncate(data.rfind(b"\n") + 1)


def _completed(recs: list[dict]) -> set[int]:
    """Buckets whose last record in ``recs`` is ``ok``."""
    state: dict[int, str] = {}
    for rec in recs:
        state[int(rec["bucket"])] = rec.get("status", "")
    return {b for b, s in state.items() if s == "ok"}


class LineageStore:
    """Filesystem-rooted lineage (parquet results + JSON-lines lineage log)."""

    def __init__(self, root: str, n_buckets: int = 64):
        self.root = root
        self.n_buckets = n_buckets
        self.lineage_dir = os.path.join(root, LINEAGE_SUBDIR)

    # -- lineage log -------------------------------------------------------
    def _records(self) -> list[dict]:
        """Every lineage record, oldest first. A kill during
        :meth:`record`'s append can tear a file's last line: that line is
        skipped, so its buckets count as not done and the next run
        recomputes them. A bad line anywhere else still raises."""
        recs: list[dict] = []
        if not os.path.isdir(self.lineage_dir):
            return recs
        for name in sorted(os.listdir(self.lineage_dir)):
            if name.endswith(".jsonl"):
                with open(os.path.join(self.lineage_dir, name)) as f:
                    lines = f.read().splitlines()
                for i, line in enumerate(lines):
                    try:
                        recs.append(json.loads(line))
                    except ValueError:
                        if i < len(lines) - 1:
                            raise
        recs.sort(key=lambda r: r.get("ts", 0))  # last-record-wins ordering
        return recs

    def completed_buckets(self) -> set[int]:
        return _completed(self._records())

    def record(self, run_id: str, rows: list[dict]) -> None:
        os.makedirs(self.lineage_dir, exist_ok=True)
        path = os.path.join(self.lineage_dir, f"run-{run_id}.jsonl")
        _end_torn_line(path)
        ts = time.time_ns()
        with open(path, "a") as f:
            for i, r in enumerate(rows):
                f.write(json.dumps({**r, "ts": ts + i}) + "\n")

    def _ok_records(self) -> dict[int, dict]:
        """Per bucket, its last ``ok`` record, unless demoted since."""
        last: dict[int, dict] = {}
        for rec in self._records():
            if rec.get("status") == "ok":
                last[int(rec["bucket"])] = rec
            elif rec.get("status") == "invalid":
                last.pop(int(rec["bucket"]), None)
        return last

    def recorded_counts(self) -> dict[int, int]:
        return {b: int(r["n_rows"]) for b, r in self._ok_records().items()}

    def disk_counts(self) -> dict[int, int]:
        """Rows per ``bucket=`` directory of the results, summed from the
        parquet footers of its part files on the driver (O(files), no Spark
        job). Names starting with ``.`` or ``_`` are skipped, as Spark's
        reader skips them, so uncommitted ``.spark-staging-*`` output does
        not count. A bucket with an unreadable footer counts -1."""
        import pyarrow.parquet as pq

        out_dir = os.path.join(self.root, "results")
        if not os.path.isdir(out_dir):
            return {}
        counts: dict[int, int] = {}
        for name in os.listdir(out_dir):
            if not name.startswith("bucket="):
                continue
            part_dir = os.path.join(out_dir, name)
            try:
                n = sum(pq.read_metadata(os.path.join(part_dir, f)).num_rows
                        for f in os.listdir(part_dir) if f[0] not in "._")
            except (OSError, ValueError):  # truncated or foreign file
                n = -1
            counts[int(name[len("bucket="):])] = n
        return counts

    def validate(self, spark: SparkSession | None = None) -> set[int]:
        """Reconcile lineage against the physical store: any completed
        bucket whose on-disk row count diverges from the recorded count is
        demoted (status='invalid') so the next run recomputes it. Guards
        against out-of-band data loss the commit log can't see; a damaged
        part file demotes its own bucket only. Reads footers only, so
        ``spark`` is not used. A demotion carries the ``n_buckets`` of the
        record it undoes: it compares bucket directories only, so running it
        with another bucket count does not tie the log to that count."""
        recorded = self._ok_records()
        if not recorded:
            return set()
        actual = self.disk_counts()
        bad = sorted(b for b, r in recorded.items()
                     if actual.get(b, -1) != int(r["n_rows"]))
        if bad:
            self.record("validate", [
                {"bucket": b, "status": "invalid",
                 "n_buckets": recorded[b].get("n_buckets", self.n_buckets)}
                for b in bad])
        return set(bad)

    # -- planning ----------------------------------------------------------
    def with_buckets(self, pages: DataFrame) -> DataFrame:
        return bucket_by_url(pages, self.n_buckets)

    def remaining(self, pages: DataFrame) -> DataFrame:
        """Anti-join completed work away *before* the expensive UDF stages —
        the filter is on the deterministic bucket column, so Catalyst pushes
        it into the scan when the input is already bucket-partitioned.

        Raises ``ValueError`` if the log holds records of another bucket
        count: planning with this one would write pages a second time under
        new bucket ids. Records without ``n_buckets`` are not checked."""
        return self._plan(pages, self._records())[1]

    def _plan(self, pages: DataFrame,
              recs: list[dict]) -> tuple[set[int], DataFrame]:
        """(completed buckets, bucketed pages without them) from the
        lineage records ``recs``, after the bucket-count check of
        :meth:`remaining`."""
        other = sorted({r["n_buckets"] for r in recs if "n_buckets" in r}
                       - {self.n_buckets})
        if other:
            raise ValueError(
                f"lineage at {self.root} was written with n_buckets="
                f"{', '.join(map(str, other))}, this store has n_buckets="
                f"{self.n_buckets}; resume with the same count or a new root")
        done = _completed(recs)
        bucketed = self.with_buckets(pages)
        if not done:
            return done, bucketed
        return done, bucketed.filter(~F.col("bucket").isin(sorted(done)))

    # -- execution ---------------------------------------------------------
    def run(self, spark: SparkSession, pages: DataFrame, stage_fn,
            run_id: str | None = None) -> dict:
        """Execute ``stage_fn(bucketed_pages) -> DataFrame`` over remaining
        buckets; write results partitioned by bucket; log lineage+metrics.

        The write is the pass's one Spark job: the stage's frame must carry
        ``bucket`` and the per-bucket counts come from :meth:`disk_counts`
        (``spark`` is not used). Returns summary metrics. Safe to re-invoke
        after any failure: only unfinished buckets recompute (per-bucket
        dynamic overwrite makes a partially-written bucket self-heal on
        retry).
        """
        run_id = run_id or time.strftime("%Y%m%d-%H%M%S")
        done_before, todo = self._plan(pages, self._records())
        result = stage_fn(todo)
        assert "bucket" in result.columns, "stage_fn must propagate 'bucket'"

        t0 = time.time()
        (result.write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("bucket").parquet(os.path.join(self.root, "results")))
        wall_ms = int((time.time() - t0) * 1000)

        rows = [
            {
                "bucket": b,
                "n_buckets": self.n_buckets,
                "n_rows": n,
                "status": "ok",
                "run_id": run_id,
                "wall_ms_total_write": wall_ms,
            }
            for b, n in sorted(self.disk_counts().items())
            if b not in done_before and n >= 0
        ]
        self.record(run_id, rows)
        return {"run_id": run_id, "buckets_done": len(rows), "wall_ms": wall_ms}
