"""Bucketed tables: the co-located-join storage layout (SURVEY §2.3 scale
note -- the silver build's lineitem⋈orders is the pipeline's only
fact-to-fact shuffle; bucketing both sides on the join key removes it).

The reference has no bucketing (Glue crawlers don't manage it), but at 100 TB
pre-shuffling the lake ONCE into bucketed tables and joining shuffle-free
forever after is the single biggest join optimization available to a
persisted lake. Bucket pruning also serves point lookups on the bucket key.

Spark specifics: bucketBy requires saveAsTable (the bucket spec lives in the
session catalog); with ``path`` set the data is external at that location.
Both sides must agree on bucket count; sortBy within buckets upgrades the
join to a merge without a sort step.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed_table(
    df: DataFrame,
    table_name: str,
    path: str,
    *,
    bucket_cols: list[str],
    n_buckets: int,
    sort_cols: list[str] | None = None,
) -> None:
    """Persist ``df`` as a bucketed (optionally sorted) external parquet
    table, replacing any table of that name.

    The frame is repartitioned on the bucket key first: without it every
    write task emits its own file for every bucket it sees (tasks x buckets
    small files -- at 1000 executors that is a catastrophic file count and a
    slow write). With it, the layout costs exactly one explicit shuffle and
    each bucket is one file -- the shuffle every later join then skips."""
    df = df.repartition(n_buckets, *bucket_cols)
    writer = (
        df.write.mode("overwrite")
        .option("path", path)
        .bucketBy(n_buckets, *bucket_cols)
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.format("parquet").saveAsTable(table_name)


def drop_table(spark: SparkSession, table_name: str) -> None:
    spark.sql(f"DROP TABLE IF EXISTS {table_name}")
