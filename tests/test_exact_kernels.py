"""Round-7 optimization: the Arrow winnowing kernel must be BIT-identical
to its relational (oracle-shaped) baseline — not approximately equal. Both
select over the same integer md5-prefix gram hashes, so any divergence is a
bug, not float noise."""

from __future__ import annotations

from pyspark.sql import functions as F

from amazon_textract_transformer_pipeline_spark.operators import dedup


def rows(df):
    return sorted(map(tuple, df.collect()))


def test_winnow_kernel_matches_sql_form(spark):
    docs = spark.range(80).select(
        F.col("id").alias("doc_id"),
        F.expr("concat('Tie tie tie doc ', cast(id as string), "
               "' aaaaaa bbb ', repeat('xy', cast(id % 7 as int)))")
        .alias("text"))
    got = rows(dedup.winnow_fingerprints(docs, k=4, w=3))
    want = rows(dedup.winnow_fingerprints_sql(docs, k=4, w=3))
    assert got == want and want
