"""The maintained-store protocol every batch-keyed store shares.

A maintained store is one or more parquet directories ("relations")
that grow by blind appends, one per batch, and are re-bounded by a
compaction that rewrites them. The stores built on this module are
KMV, count-min, Bloom and bottom-k (sketches.py), the setsim prefix and
arrays relations (setsim_store.py), the gram store and corpus
fingerprints (corpus.py), the MinHash signatures (dedup.py) and the
ANN store's ``vectors/`` and ``keys/`` (similarity.py, whose sidecar
keeps the frozen index format and one ``keys_seq`` watermark). Each
store keeps only its directory name, its schema and its merge
function. No other module heals a swap (``recover_dir``) or appends
with ``mode("append")``.

**Tagged append.** :func:`append` writes a batch's rows with a
``batch_key`` string column holding the batch's key (the stream
wrappers use ``b<micro-batch id>``). It first clears the relation's
``_temporary``, where a crashed append leaves its committed task
output for the next job commit to promote. The gram store named this
column ``batch_tag`` before it moved onto this module; its stores are
built afresh from their inputs, so nothing reads the old name.

**Replay-excluding read.** Delivery is at-least-once: a batch that
crashed after appending is replayed under the same key. :func:`read`
with that key drops the rows the crashed attempt appended, so the
replay sees the store exactly as the first attempt did. The exclusion
is null-safe: rows written before the tag existed read it as NULL and
are never excluded. A directory holding no data file outside
subdirectories named ``_*`` or ``.*`` (Spark's own listing rule: a
crash during a store's first append leaves only the committer's
``_temporary``) reads as no store at all.

**Compaction.** :func:`compact` folds the rows through the store's
merge function under one fresh ``compacted-<uuid>`` tag. Collapsing a
batch's rows discards its tag, so rows of any batch that may still
replay are passed as ``keep_tags`` and carried through verbatim.
Semilattice stores (KMV, Bloom, bottom-k, setsim) need none: their
readers absorb a re-appended batch. Additive stores (count-min, gram
counts) read through :func:`additive_merge`, whose max per (key, tag)
collapses a replay's identical counts before the sum.

**Rewrite.** :func:`rewrite` writes the replacement beside the live
directory (``<live>.compact-tmp``, cleared first, so a tmp copy left by
a crash is never read), counts it, and promotes it with the two-rename
:func:`~..streaming.driver.swap_dir`;
:func:`~..streaming.driver.recover_dir`, run before every append and
read, heals a crash between the renames. Single writer per store.
"""

from __future__ import annotations

import os
import shutil
import uuid
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..streaming.driver import recover_dir, swap_dir

#: the tag column every append writes
TAG = "batch_key"


def has_data(path: str) -> bool:
    """True when ``path`` holds a data file Spark would list: one whose
    name and every directory name below ``path`` start with neither
    ``_`` nor ``.`` (``_x=v`` partition directories are listed)."""

    def hidden(name: str) -> bool:
        return name.startswith(".") or (
            name.startswith("_") and "=" not in name
        )

    for _root, dirs, files in os.walk(path):
        if any(not hidden(f) for f in files):
            return True
        dirs[:] = [d for d in dirs if not hidden(d)]
    return False


def append(
    df: DataFrame,
    live: str,
    batch_key: str | None,
    partition_col: str | None = None,
) -> None:
    """Append ``df`` to ``live`` with every row tagged ``batch_key``.
    A crashed append's committed task output under ``_temporary`` is
    cleared first: the file committer would otherwise promote it with
    this batch, whatever batch it belonged to (single writer)."""
    recover_dir(live)
    shutil.rmtree(os.path.join(live, "_temporary"), ignore_errors=True)
    writer = df.withColumn(TAG, F.lit(batch_key).cast("string")).write.mode(
        "append"
    )
    if partition_col is not None:
        writer = writer.partitionBy(partition_col)
    writer.parquet(live)


def read(
    spark,
    live: str,
    batch_key: str | None = None,
    schema: str | None = None,
) -> DataFrame | None:
    """The store's rows (``batch_key`` column included), or None when it
    holds no data. With ``batch_key``, the rows appended under that key
    are excluded (NULL-tagged rows never are). ``schema`` skips footer
    inference; its columns missing from older files read as NULL."""
    recover_dir(live)
    if not has_data(live):
        return None
    reader = spark.read if schema is None else spark.read.schema(schema)
    rows = reader.parquet(live)
    if batch_key is not None:
        rows = rows.filter(~F.col(TAG).eqNullSafe(F.lit(batch_key)))
    return rows


def additive_merge(
    rows: DataFrame, key_cols: list[str], value_col: str
) -> DataFrame:
    """Counts per key of an additive store: max per (key, tag) — a
    replayed append rewrites identical counts under the same tag — then
    the sum across tags, as ``value_col`` bigint."""
    return (
        rows.groupBy(*key_cols, TAG)
        .agg(F.max(value_col).alias("_c1"))
        .groupBy(*key_cols)
        .agg(F.sum("_c1").cast("bigint").alias(value_col))
    )


def rewrite(
    spark, df: DataFrame, live: str, partition_col: str | None = None
) -> int:
    """Replace ``live`` with ``df``: write it beside, count it, swap it
    in. Returns the row count."""
    tmp = live + ".compact-tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    writer = df.write.mode("overwrite")
    if partition_col is not None:
        writer = writer.partitionBy(partition_col)
    writer.parquet(tmp)
    n = spark.read.parquet(tmp).count()
    swap_dir(tmp, live)
    return n


def compact(
    spark,
    live: str,
    merge: Callable[[DataFrame], DataFrame],
    keep_tags: tuple[str, ...] = (),
) -> int:
    """Rewrite ``live`` as ``merge(rows)`` under one fresh
    ``compacted-<uuid>`` tag, carrying the rows tagged ``keep_tags``
    through verbatim. ``merge`` gets the rows with their tags and
    returns untagged rows. Returns the post-compaction row count (0 and
    no rewrite when the store holds no data)."""
    rows = read(spark, live)
    if rows is None:
        return 0
    tag = F.lit("compacted-" + uuid.uuid4().hex[:8])
    if not keep_tags:
        return rewrite(spark, merge(rows).withColumn(TAG, tag), live)
    kept = F.col(TAG).isin(list(keep_tags))
    merged = merge(rows.filter(~F.coalesce(kept, F.lit(False))))
    out = merged.withColumn(TAG, tag).unionByName(
        rows.filter(kept).select(*merged.columns, TAG)
    )
    return rewrite(spark, out, live)
