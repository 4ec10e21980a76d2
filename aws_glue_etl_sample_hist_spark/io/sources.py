"""Sources (reference SURVEY §2.1 S1-S4, S10-S11).

The reference ingests from PostgreSQL via JDBC: full-table reads for
dimensions (jb_de_dehancement_t0_dimension_d2s.py:66-71) and a pushdown SQL
query for the date-bounded fact extract (jb_de_enhancement_t0_fact_d2s.py:69-82,
noted single-connection in document/glue_t0.md:144). Spark-first rebuild:

  - file sources are the primary path, read with ``spark.read`` directly
    (catalog.load_table); Catalyst pushes filters and prunes
    columns/partitions at the scan, so the reference's hand-built pushdown
    query becomes a plain ``.filter``;
  - JDBC stays available, but ALWAYS with partitioned-read options
    (partitionColumn/lowerBound/upperBound/numPartitions) -- the reference's
    single-connection read followed by ``repartition(4)`` is exactly the
    anti-pattern that stops scaling past one DB socket;
  - a tier the engine wrote itself is read back with ``read_tier``: the
    schema comes from one file's footer on the driver (the reference's
    readers get it from the Glue Data Catalog), so the read starts no
    schema-inference job;
  - a small tier (centroids, 1-row stats, a codebook) is read onto the
    driver with ``read_small_tier``, and a partition's row count is the
    sum of its footers' ``num_rows`` (``footer_rows``): a query's constants
    start no Spark job.
"""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from ..operators._local import LOCAL_CAP

# the footer key Spark's parquet writer fills with the row schema as JSON
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _data_files(path: str):
    """Data files under ``path`` in sorted order, lazily: ``_``/``.``
    names (``_SUCCESS``, ``_source.json``, checksums) are skipped and only
    ``k=v`` partition directories are descended."""
    for name in sorted(os.listdir(path)):
        if name.startswith(("_", ".")):
            continue
        full = os.path.join(path, name)
        if os.path.isdir(full):
            if "=" in name:
                yield from _data_files(full)
        else:
            yield full


def footer_rows(path: str) -> int:
    """Rows in every data file under ``path``, summed from the parquet
    footers on the driver: no Spark job, no data page read. 0 when
    ``path`` does not exist (a partition no row landed in)."""
    if not os.path.isdir(path):
        return 0
    return sum(pq.read_metadata(f).num_rows for f in _data_files(path))


def read_small_tier(path: str) -> pa.Table:
    """A small unpartitioned tier the engine wrote (centroids, 1-row
    stats, a PQ codebook), read onto the driver with pyarrow: no Spark
    job. The footers' row total is checked against ``LOCAL_CAP`` before
    any data page is read, so a tier that is not small raises
    ``ValueError`` naming ``path`` instead of filling driver memory;
    ``FileNotFoundError`` when ``path`` holds no data file."""
    files = [pq.ParquetFile(f) for f in _data_files(path)]
    if not files:
        raise FileNotFoundError(f"no parquet data file under {path!r}")
    n = sum(f.metadata.num_rows for f in files)
    if n > LOCAL_CAP:
        raise ValueError(
            f"{path!r} holds {n} rows, more than the driver-local cap "
            f"LOCAL_CAP={LOCAL_CAP}: read it with read_tier"
        )
    return pa.concat_tables(f.read() for f in files)


def read_tier(spark: SparkSession, path: str) -> DataFrame:
    """Read a parquet tier the engine wrote, with the Spark schema its
    writer stored in the footer instead of a schema-inference job.

    The schema is read on the driver with pyarrow from the first data file
    (``_data_files`` order); every file of a tier comes from the same
    write, so one footer speaks for all. Partition columns are not in the
    file schema: Spark still infers them from the ``k=v`` directory names,
    on the driver and without a job. Raises ``FileNotFoundError`` when
    ``path`` holds no data file and ``ValueError`` when the footer carries
    no Spark schema (a file some other writer produced)."""
    first = next(_data_files(path), None)
    if first is None:
        raise FileNotFoundError(f"no parquet data file under {path!r}")
    meta = pq.read_metadata(first).metadata or {}
    if _SPARK_SCHEMA_KEY not in meta:
        raise ValueError(
            f"{first!r} carries no Spark schema in its footer: read_tier "
            "only reads tiers written by Spark"
        )
    schema = StructType.fromJson(json.loads(meta[_SPARK_SCHEMA_KEY]))
    return spark.read.schema(schema).parquet(path)


def read_jdbc(
    spark: SparkSession,
    url: str,
    table_or_query: str,
    *,
    connection: dict[str, str],
    partition_column: str | None = None,
    lower_bound: str | int | None = None,
    upper_bound: str | int | None = None,
    num_partitions: int = 8,
) -> DataFrame:
    """JDBC source with parallel partitioned reads.

    ``table_or_query`` may be a table name or a parenthesized pushdown query
    (the reference's date-bounded extract, jb_de_enhancement_t0_fact_d2s.py:72-75).
    When partition bounds are given, Spark opens ``num_partitions`` connections
    each reading a slice -- this replaces the reference's single-connection
    read + repartition(4) (document/glue_t0.md:144,153).
    """
    reader = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", table_or_query)
    )
    for k, v in connection.items():
        reader = reader.option(k, v)
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
            .option("numPartitions", str(num_partitions))
        )
    return reader.load()


def read_xml(
    spark: SparkSession,
    path: str,
    *,
    row_tag: str,
    schema: StructType | None = None,
) -> DataFrame:
    """XML source (built into Spark 4 -- previously the separate spark-xml
    package): one DataFrame row per ``row_tag`` element. Pass a schema in
    production: inference is an extra full pass, and an explicit schema
    keeps malformed elements isolated under the permissive-mode
    corrupt-record column instead of failing the read. There is no Avro
    source: spark-avro is an external module jar that pyspark does not
    bundle (documented gap, not a stub)."""
    reader = spark.read.format("xml").option("rowTag", row_tag)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.load(path)


def write_xml(df: DataFrame, path: str, *, row_tag: str) -> None:
    """XML sink (overwrites ``path``) -- interchange with XML-consuming
    systems. Edge-of-lake only: verbose, and it loses types."""
    df.write.mode("overwrite").format("xml").option("rowTag", row_tag).save(path)
