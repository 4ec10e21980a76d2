"""Sinks (reference SURVEY §2.1 S5-S8).

The reference writes Hive-partitioned parquet with dynamic partition
overwrite (jb_de_enhancement_t0_fact_d2s.py:23,91) and controls file counts
by hand: ``repartition(4)`` on ingest, ``coalesce(1)`` on marts
(jb_de_enhancement_t2_salesbyresidence_s2s.py:61-62, document/glue_t1.md:82).

``coalesce(1)`` is correct for KB-sized marts and catastrophic at 100 TB, so
file-count control is a *policy*, not a hardcoded number: callers state a
target file size and the writer picks partition counts from a row-count
estimate, falling back to AQE coalescing when it can't know better.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame


@dataclass(frozen=True)
class WriterPolicy:
    """How many files to produce, stated as intent instead of a magic number.

    target_file_rows: rows per output file, enforced via the writer's
        ``maxRecordsPerFile`` option -- splits oversized tasks WITHOUT a
        shuffle or an extra counting pass (the scale path; AQE coalescing
        handles the too-many-tiny-partitions direction).
    max_files: hard cap via coalesce (the tiny-mart case: cap 1 reproduces
        the reference's coalesce(1) without baking it into job code).
    """

    target_file_rows: int | None = None
    max_files: int | None = None

    def shape(self, df: DataFrame) -> DataFrame:
        if self.max_files is not None:
            # coalesce never shuffles; a cap above the partition count is a no-op
            return df.coalesce(self.max_files)
        return df

    def writer_options(self) -> dict[str, str]:
        if self.target_file_rows:
            return {"maxRecordsPerFile": str(self.target_file_rows)}
        return {}


# reference defaults: marts are tiny -> one file (parity with coalesce(1));
# facts get size-targeted files
MART_POLICY = WriterPolicy(max_files=1)
FACT_POLICY = WriterPolicy(target_file_rows=5_000_000)


def upsert_partitioned(
    spark,
    path: str,
    updates: DataFrame,
    *,
    key_cols: list[str],
    partition_cols: list[str],
) -> None:
    """MERGE (upsert by key) into a Hive-partitioned parquet table without a
    table format: CDC batches land in an ordinary parquet lake with IO
    proportional to the TOUCHED partitions, never the table.

    Plan: semi-join the table scan to the updates' distinct partition values
    (partition pruning keeps the read to those directories), anti-join away
    old versions of updated keys, union the updates, and dynamic-partition-
    overwrite -- untouched partitions are never read or written (reference
    S7 semantics extended from replace-partition to replace-row).

    The merged frame is localCheckpoint'd before the write because source
    and destination are the same directory; at petabyte scale stage to a
    sibling directory and swap instead (same plan, different landing)."""
    from pyspark.sql import functions as F

    parts = updates.select(*partition_cols).distinct()
    existing = spark.read.parquet(path).join(
        F.broadcast(parts), partition_cols, "left_semi"
    )
    keep = existing.join(
        updates.select(*key_cols).distinct(), key_cols, "left_anti"
    )
    merged = keep.unionByName(updates).localCheckpoint(eager=True)
    write_partitioned(merged, path, partition_by=partition_cols, mode="overwrite")


def write_partitioned(
    df: DataFrame,
    path: str,
    *,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
    policy: WriterPolicy | None = None,
) -> None:
    """Partitioned parquet write. With
    ``spark.sql.sources.partitionOverwriteMode=dynamic`` (session default),
    ``mode='overwrite'`` only replaces partitions present in ``df`` --
    the reference's idempotent incremental-load mechanism (S7)."""
    if policy is not None:
        df = policy.shape(df)
    writer = df.write.mode(mode)
    if policy is not None:
        for k, v in policy.writer_options().items():
            writer = writer.option(k, v)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
