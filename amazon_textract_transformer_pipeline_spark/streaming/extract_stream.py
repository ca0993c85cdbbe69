"""Arrival-driven extraction as Structured Streaming (SURVEY §2.12).

The reference has no streaming engine — its arrival path is S3 event →
Lambda → Step Functions with at-least-once triggering and idempotency
tokens (``pipeline/fn-trigger/main.py:97-115``, SURVEY §2.1 S6/S7). The
Spark-native equivalent is a file/table stream source feeding the *same
batch transforms* through ``foreachBatch``, with exactly-once output via
the streaming checkpoint + deterministic recompute.

Kept deliberately thin: every operator stays a batch DataFrame transform
(testable, oracle-checkable); streaming is only the arrival harness, exactly
like the Lambda trigger is only plumbing in the reference.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..schemas import PAGES_INPUT_SCHEMA


def read_pages_stream(spark: SparkSession, input_dir: str,
                      max_files_per_trigger: int = 8) -> DataFrame:
    """Micro-batch source over a landing directory of parquet page files
    (the S3-notification analog; each dropped file is an arrival event)."""
    return (
        spark.readStream.schema(PAGES_INPUT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )


def start_extraction_stream(pages_stream: DataFrame, out_dir: str,
                            checkpoint_dir: str,
                            config: list[dict] | None = None,
                            trigger_available_now: bool = True) -> StreamingQuery:
    """pages stream → per-doc extraction results via checkpointed
    ``foreachBatch`` running the batch per-document kernel
    (``operators/fused.extract_documents``, sql-stub) unchanged.

    foreachBatch is only at-least-once: a crash between the sink write and
    the checkpoint commit replays the micro-batch. The sink is therefore
    made *idempotent* — each batch writes its own ``batch_id=<n>`` partition
    with dynamic partition overwrite, so a replayed batch replaces its own
    prior (possibly partial) output instead of appending duplicates.
    Idempotent sink + checkpointed replay = effectively exactly-once output.
    """
    from pyspark.sql import functions as F

    from ..config import DEMO_CONFIG
    from ..operators.fused import extract_documents

    def process(batch_df: DataFrame, batch_id: int) -> None:
        # the write is the batch's only consumer: the kernel frame goes
        # straight to the sink, one Spark job, nothing cached
        (extract_documents(batch_df, config or DEMO_CONFIG, model="sql-stub")
         .select("url", "n_pages", "extracted_text", "Confidence",
                 "needs_human_review")
         .withColumn("batch_id", F.lit(batch_id))
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("batch_id").parquet(out_dir))

    writer = (
        pages_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
