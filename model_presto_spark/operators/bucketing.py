"""Bucketed tables: co-located, shuffle-free joins and aggregations.

At 100 TB the dominant cost of a repeated big-big equi-join is the
shuffle. Bucketing pre-partitions BOTH tables by the join key hash at
write time; Spark's scan then reports the bucket distribution and
Catalyst elides the Exchange entirely — the join runs map-side,
stage-fused. This is the engine's answer to the reference's spatial
tiling discipline (50 km patches / 256-px files,
ee_pipeline.py:13-14): choose the partition key once, at write time,
and every downstream join/agg on that key is free.

Bucketed writes require the session catalog (`saveAsTable`) — plain
`parquet(path)` cannot record bucket metadata.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_key: str | list[str],
    num_buckets: int = 32,
    path: str | None = None,
) -> None:
    """Persist as a bucketed (and bucket-sorted) catalog table.

    ``path`` makes it an external table (data at the given location,
    metadata in the session catalog) — the warehouse dir is a static
    config, so explicit paths are how callers control placement.
    """
    keys = [bucket_key] if isinstance(bucket_key, str) else list(bucket_key)
    writer = (
        df.write.mode("overwrite").bucketBy(num_buckets, *keys).sortBy(*keys)
    )
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table)


def bucketed_join(
    spark: SparkSession, left_table: str, right_table: str, on: str | list[str],
    how: str = "inner",
) -> DataFrame:
    """Join two same-bucketed tables; with matching bucket specs the
    physical plan contains NO shuffle exchange on either side
    (asserted in tests/test_bucketing.py)."""
    return spark.table(left_table).join(
        spark.table(right_table), on, how
    )


def plan_has_shuffle(df: DataFrame) -> bool:
    """True if the physical plan contains a shuffle Exchange —
    the thing bucketing exists to remove."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return "Exchange hashpartitioning" in plan or "Exchange rangepartitioning" in plan
