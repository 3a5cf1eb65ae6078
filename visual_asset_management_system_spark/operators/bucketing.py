"""Catalog table layouts — bucketed and key-clustered.

Bucketed (hash-bucketed + sorted within buckets, Spark ``bucketBy``):
a table bucketed on a join key joins another bucketed on the same
key/count as a co-located SortMergeJoin with NO Exchange on either
side, and an equality filter on the key prunes the scan to the
matching buckets. The BM25 postings (``inverted_index.write_postings``,
bucketed on ``term``) are the materialized table that still uses it: a
query's ``term IN (...)`` probe reads only its buckets. Bucket count is
a layout constant (same for every table sharing the key) — choose it
for the target cluster (e.g. 4× total cores), not the current data
size; AQE cannot change it after write.

Key-clustered (:func:`write_clustered_table`, a global sort on the
key): what the search tables (search_assets / search_files, on
(database_id, asset_id)) use. Their serving scans are filters, sorts
and aggregations that never read a bucket spec, so a fixed bucket
count only costs files: 32 buckets of a few KB each are 32 file opens
spread over several tasks per request. A range-partitioned write lets
AQE size the files to the data (one file at fixture scale, one key
range per file at scale). The global sort costs the write one extra
(range-sampling) job. Plain parquet tables keep no file-level
statistics, so a ``database_id`` filter still opens every file; the
parquet reader can only skip row groups by their min/max statistics.
That the sorted layout prunes row groups for such filters is not
measured. Skipping whole files needs a table format with file
statistics (Delta/Iceberg clustering keys).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def drop_table(spark: SparkSession, table_name: str, managed: bool = True) -> None:
    """DROP TABLE IF EXISTS, plus — for managed tables — clear any
    orphaned warehouse location: the location can survive from a
    PREVIOUS process (the in-memory catalog forgets it, the warehouse
    dir doesn't) and ``saveAsTable`` refuses to reuse it.

    Unqualified names only: the orphan path below assumes the default
    database's ``warehouse/<name>`` layout, which is wrong for
    ``db.tbl`` (actual layout ``warehouse/db.db/tbl``) — a qualified
    name would rmtree nothing and leave saveAsTable failing."""
    if "." in table_name:
        raise ValueError(
            "drop_table handles unqualified (default-database) names "
            f"only; got {table_name!r} — the managed-location cleanup "
            "assumes the warehouse/<name> layout"
        )
    spark.sql(f"DROP TABLE IF EXISTS {table_name}")
    if managed:
        import shutil
        from urllib.parse import urlparse

        warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
        shutil.rmtree(
            os.path.join(warehouse, table_name.lower()), ignore_errors=True
        )


def write_bucketed_table(
    df: DataFrame,
    table_name: str,
    bucket_keys: list[str],
    num_buckets: int = 32,
    path: str | None = None,
) -> None:
    """Persist ``df`` as a bucketed+sorted table (overwriting any
    previous version). ``path`` makes it external; otherwise it lands in
    the session warehouse."""
    spark = df.sparkSession
    drop_table(spark, table_name, managed=path is None)
    writer = (
        df.write.mode("overwrite")
        .bucketBy(num_buckets, *bucket_keys)
        .sortBy(*bucket_keys)
    )
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table_name)


def write_clustered_table(
    df: DataFrame, table_name: str, keys: list[str]
) -> None:
    """Persist ``df`` as a managed table globally sorted on ``keys``
    (overwriting any previous version): each written file holds one
    contiguous, non-overlapping key range, sized by AQE's advisory
    partition size."""
    drop_table(df.sparkSession, table_name)
    df.orderBy(*keys).write.mode("overwrite").saveAsTable(table_name)


def read_table(spark: SparkSession, table_name: str) -> DataFrame:
    """Read a bucketed table back; joins between tables bucketed on the
    same keys/count plan with no Exchange."""
    return spark.table(table_name)
