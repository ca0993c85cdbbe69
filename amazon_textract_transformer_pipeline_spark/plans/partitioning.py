"""Explicit partitioning helpers (north_rule: "partitioning / shuffle / skew
handled explicitly"; SURVEY §4).

Common-Crawl-style inputs arrive clustered by host domain (all pages of a
big host adjacent), so naive file-split partitions are skewed both in row
count and in per-row cost (some hosts have huge pages). Two levers:

* :func:`salted_repartition_by_url` — spread rows by ``hash(url, salt)`` so
  every partition sees a uniform host mix. url is unique per row, so this is
  pure load-balancing (no co-location requirement exists — the reference has
  zero cross-document operators, SURVEY §2.9).
* :func:`sort_by_cost_bucket` — sortWithinPartitions by estimated token
  length before the inference UDF: batches of similar-length windows
  minimize pad waste (reference pads to longest-in-batch, ner.py:193-198)
  and long-document stragglers stop dominating task tails.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_repartition_by_url(df: DataFrame, num_partitions: int | None = None,
                              salt: str = "s0", url_col: str = "url") -> DataFrame:
    """Deterministic salted spread on url-hash (defeats host-domain skew).

    ``xxhash64`` here is fine (never oracle-compared); the salt makes the
    placement decorrelated from any upstream hash partitioning.
    """
    key = F.xxhash64(F.col(url_col), F.lit(salt))
    if num_partitions:
        return df.repartition(num_partitions, key)
    return df.repartition(key)


def bucket_by_url(df: DataFrame, n_buckets: int, url_col: str = "url",
                  out_col: str = "bucket") -> DataFrame:
    """Stable lineage bucket: deterministic url-hash bucket id (the resume
    unit — see plans/lineage.py): the first 15 hex digits of the url's
    md5, mod ``n_buckets``, so it never changes across Spark
    versions/configs."""
    return df.withColumn(
        out_col,
        F.pmod(
            F.expr(f"cast(conv(substr(md5({url_col}), 1, 15), 16, 10) as bigint)"),
            F.lit(n_buckets),
        ).cast("int"),
    )


def sort_by_cost_bucket(windows: DataFrame, cost_col: str = "n_tokens") -> DataFrame:
    """Cheap straggler mitigation before a batched model UDF."""
    return windows.sortWithinPartitions(F.col(cost_col).desc())


def spread_if_narrow(df: DataFrame, key: str) -> DataFrame:
    """Spread a narrow scan across the fleet before a CPU-bound Arrow
    stage (round-7, guide §2.2/§6): a small local parquet file arrives as
    ONE split, which serializes every downstream Python kernel onto a
    single worker. When the input has fewer partitions than cores, one
    cheap deterministic-key exchange buys full parallelism; at corpus
    scale the scan already has ≥ cores splits and this is a no-op (no
    exchange is added). A streaming DataFrame comes back unchanged: its
    source already splits it, and ``.rdd`` is illegal on it."""
    if df.isStreaming:
        return df
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par, F.col(key))
    return df
