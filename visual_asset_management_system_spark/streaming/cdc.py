"""CDC pipeline: change-log stream → denormalized search-table upserts.

The reference's indexing layer (handlers/indexing/, ~5,900 LoC) consumes
DynamoDB Streams + S3 events and rebuilds one search document per
changed entity, idempotently, last-writer-wins (assetIndexer.py:602-823).
The Spark-native re-expression is kappa-style:

    change_log (file/kafka stream of INSERT|MODIFY|REMOVE rows)
      → readStream → foreachBatch:
          route        = dispatch each event to its target index(es)
                         (assetIndexer.py:1002-1110), expanding derived
                         triggers (a link change re-indexes BOTH endpoint
                         assets, assetIndexer.py:921-996) and dropping
                         filtered events (folder markers, excluded
                         prefixes — fileIndexer.py:879-912)
          affected keys = distinct entity keys in the micro-batch
          recompute    = same joins as the batch rebuild, restricted to
                         those keys (semi-join — incremental, not full)
          merge        = key-partitioned upsert (REMOVE deletes)

Identical code does the full rebuild (crReindexer equivalent): the
batch builders in operators.search_tables ARE the recompute step; this
module adds the merge sink and the stream wrapper. With a Delta runtime
the merge becomes ``MERGE INTO``; on plain parquet the merge rewrites
ONLY the hash partitions whose keys appear in the batch — work per
micro-batch is O(touched partitions), never O(table).

ONE COMMIT PROTOCOL, the one lakehouse formats use and the only one
safe on S3-class object stores (where rename is copy+delete): data
directories are IMMUTABLE. Each merge writes its touched partitions to
a fresh ``data/<version>/`` directory, then atomically publishes a
single small ``_manifest.json`` (one-file rename locally ≙ one PUT on
S3) mapping partition id → current data directory. Readers resolve
the manifest (:func:`read_sink`); at every instant they see either the
old or the new complete snapshot, never a mix — no rename of data, no
crash window. A crash before the manifest commit leaves only
unreferenced orphan directories, removed by the vacuum sweep at the
start of the next merge (production: with a retention grace so
in-flight readers of recent snapshots finish); the at-least-once
replay then rewrites the same partitions from the same snapshot. On a
Delta/Iceberg runtime the merge collapses into ``MERGE INTO`` + the
format's own log commit, and ``compact_sink`` into OPTIMIZE /
rewrite-data-files. Every CDC-maintained sink in the package commits
this way: the search tables, the suggest store's ``tokens/`` and
``suggest/`` (operators/inverted_index.py) and the trending ``counts/``
(streaming/windows.py).
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .driver import commit_json, run_micro_batches

#: number of hash partitions of the parquet "search table" sink; at scale
#: this is the table's physical partitioning (or a Delta table + MERGE).
N_SINK_PARTITIONS = 32

CHANGE_LOG_SCHEMA = (
    "seq bigint, event_name string, source string, "
    "database_id string, asset_id string, new_image string, event_time timestamp"
)

#: extended schema for the routed pipeline: file/metadata events carry a
#: file_path, link events carry the second endpoint.
ROUTED_CHANGE_LOG_SCHEMA = (
    CHANGE_LOG_SCHEMA
    + ", file_path string, to_database_id string, to_asset_id string"
)

#: S3-event exclusion rules (fileIndexer.py:879-912): folder markers and
#: non-indexable prefixes (pipeline scratch, previews, temp uploads).
EXCLUDED_KEY_PREFIXES = ("pipelines/", "previews/", "temp-uploads/")


def _partition_of(df: DataFrame, key_cols: list[str]) -> DataFrame:
    return df.withColumn(
        "_part", F.pmod(F.xxhash64(*key_cols), F.lit(N_SINK_PARTITIONS))
    )


MANIFEST_NAME = "_manifest.json"


def _require_manifest(mode: str) -> None:
    """``commit_mode`` survives only on the entry points existing callers
    pass it to, and names the one protocol there is."""
    if mode != "manifest":
        raise ValueError(
            f"commit_mode={mode!r}: CDC sinks commit only through the "
            "manifest protocol ('manifest')"
        )


def apply_cdc_batch(
    batch: DataFrame,
    recompute,
    sink_dir: str,
    key_cols: list[str] = ("database_id", "asset_id"),
) -> None:
    """One micro-batch upsert: recompute changed rows, merge into sink.

    ``recompute(keys_df) -> DataFrame`` rebuilds the search rows for the
    given distinct keys (the streaming analog of the full rebuild,
    restricted by semi-join). REMOVE events drop their rows.

    Partial rewrite: only the hash partitions whose keys appear in the
    batch are read, merged and written to an immutable
    ``data/<version>/`` directory; untouched partitions are never
    opened. The ``collect()`` of touched partition ids is bounded by
    N_SINK_PARTITIONS (≤32 rows). The new snapshot becomes visible in
    one manifest commit; until then readers resolve the previous
    complete snapshot, and a replay of the batch writes a new version
    with identical content — idempotent by construction. A touched
    partition whose merged row set is empty drops out of the manifest
    (the REMOVE-empties-partition case)."""
    spark = batch.sparkSession
    key_cols = list(key_cols)
    keys = batch.select(*key_cols).distinct()
    removes = (
        batch.filter(F.col("event_name") == "REMOVE").select(*key_cols).distinct()
    )
    fresh = _partition_of(
        recompute(keys).join(removes, key_cols, "left_anti"), key_cols
    )

    man = _load_manifest(sink_dir)
    _vacuum_unreferenced(sink_dir, man)
    touched = sorted(
        r["_part"]
        for r in _partition_of(keys, key_cols).select("_part").distinct().collect()
    )
    merged = fresh
    old = read_sink(spark, sink_dir, parts=touched)
    if old is not None:
        # surviving old rows of touched partitions + fresh rows; fresh
        # keys hash into touched partitions by construction
        surviving = _partition_of(
            old.join(keys, key_cols, "left_anti"), key_cols
        )
        merged = surviving.unionByName(fresh)
    version = uuid.uuid4().hex[:12]
    vdir = os.path.join(sink_dir, "data", version)
    merged.write.partitionBy("_part").mode("overwrite").parquet(vdir)
    written = {
        int(d.split("=", 1)[1])
        for d in os.listdir(vdir)
        if d.startswith("_part=")
    }
    new_man = {p: v for p, v in man.items() if p not in touched}
    for p in sorted(written):
        new_man[p] = f"data/{version}/_part={p}"
    _commit_manifest(sink_dir, new_man)


def _load_manifest(sink_dir: str) -> dict[int, str]:
    """Current snapshot: partition id → sink-relative data directory
    (``data/<version>/_part=<p>``). Missing manifest = empty sink."""
    path = os.path.join(sink_dir, MANIFEST_NAME)
    if not os.path.isfile(path):
        return {}
    with open(path) as f:
        return {int(k): v for k, v in json.load(f)["parts"].items()}


def _commit_manifest(sink_dir: str, parts: dict[int, str]) -> None:
    """Atomically publish a new snapshot: :func:`commit_json` onto
    ``_manifest.json`` — the one-file commit point. On an object store
    this is a single PUT of a small object (atomic per-object), which
    is exactly why all data directories are immutable and only this
    pointer ever changes."""
    commit_json(
        os.path.join(sink_dir, MANIFEST_NAME),
        {"parts": {str(k): v for k, v in sorted(parts.items())}},
    )


def _vacuum_unreferenced(sink_dir: str, parts: dict[int, str]) -> None:
    """Remove data directories the current manifest does not reference:
    orphans from a crash before the commit point, and directories
    superseded by a later commit. Runs at the START of each merge
    (single-writer). A production deployment adds a retention grace
    (lakehouse VACUUM semantics) so readers holding a recent snapshot
    finish before its directories disappear."""
    data_root = os.path.join(sink_dir, "data")
    referenced = {v for v in parts.values()}
    if os.path.isdir(data_root):
        for ver in os.listdir(data_root):
            vdir = os.path.join(data_root, ver)
            if not os.path.isdir(vdir):
                continue
            for d in os.listdir(vdir):
                if d.startswith("_part=") and f"data/{ver}/{d}" not in referenced:
                    shutil.rmtree(os.path.join(vdir, d), ignore_errors=True)
            if not any(d.startswith("_part=") for d in os.listdir(vdir)):
                shutil.rmtree(vdir, ignore_errors=True)


def read_sink(
    spark: SparkSession,
    sink_dir: str,
    commit_mode: str = "manifest",
    parts: list[int] | None = None,
) -> DataFrame | None:
    """Read the sink's current snapshot, optionally restricted to a set
    of partition ids (unlisted directories are pruned without being
    opened — the manifest IS the partition index). Returns None when
    the sink is empty. Yields the data columns only (``_part`` is
    directory metadata; recompute it from the keys via
    ``_partition_of`` when needed)."""
    _require_manifest(commit_mode)
    man = _load_manifest(sink_dir)
    sel = [v for p, v in sorted(man.items()) if parts is None or p in parts]
    if not sel:
        return None
    return spark.read.parquet(*[os.path.join(sink_dir, v) for v in sel])


def compact_sink(
    spark: SparkSession,
    sink_dir: str,
    max_files_per_partition: int = 4,
    commit_mode: str = "manifest",
) -> list[int]:
    """Small-file compaction for the CDC sink — the OPTIMIZE half of the
    partial-rewrite story: every micro-batch rewrite adds files to its
    touched partitions, and read amplification grows with file count.
    Rewrites ONLY the partitions whose file count exceeds the threshold,
    each coalesced to one file in a fresh immutable version directory
    published by one manifest commit; compact partitions keep their
    directories. Returns the compacted partition ids.

    On a lakehouse runtime this is ``OPTIMIZE``/rewrite-data-files; on
    plain parquet it is a maintenance job scheduled off the write path.
    """
    _require_manifest(commit_mode)
    man = _load_manifest(sink_dir)
    _vacuum_unreferenced(sink_dir, man)

    def n_files(rel: str) -> int:
        d = os.path.join(sink_dir, rel)
        return sum(1 for f in os.listdir(d) if f.endswith(".parquet"))

    crowded = sorted(
        p for p, rel in man.items() if n_files(rel) > max_files_per_partition
    )
    if not crowded:
        return []
    # one job: per-directory reads re-tagged with their partition id
    # (the immutable dirs don't carry _part inside the files)
    rows = None
    for p in crowded:
        part = spark.read.parquet(
            os.path.join(sink_dir, man[p])
        ).withColumn("_part", F.lit(p))
        rows = part if rows is None else rows.unionByName(part)
    version = uuid.uuid4().hex[:12]
    vdir = os.path.join(sink_dir, "data", version)
    rows.repartition("_part").write.partitionBy("_part").mode(
        "overwrite"
    ).parquet(vdir)
    new_man = dict(man)
    for p in crowded:
        new_man[p] = f"data/{version}/_part={p}"
    _commit_manifest(sink_dir, new_man)
    return crowded


def compact_batch_sink(
    spark: SparkSession,
    sink_dir: str,
    partition_col: str = "batch",
    max_files_per_partition: int = 4,
) -> list[str]:
    """Small-file compaction for overwrite-by-batch notification sinks
    (the percolate stream layout — each micro-batch owns a
    ``batch=<id>`` directory it idempotently overwrites on replay).
    Every crowded batch directory coalesces to one file via a staged
    aside-then-promote swap. This sink is not a CDC merge sink: it has
    no manifest, and a batch directory is only ever overwritten whole.

    Batch directory BOUNDARIES are preserved: merging across batches
    would break the sink's replay contract — an at-least-once
    redelivery overwrites exactly its own batch partition, so rows
    folded into a neighbouring directory would survive the rewrite and
    duplicate. Same never-merge-the-replay-key discipline as the gram
    store's tag-excluded compaction (operators/corpus.
    compact_gram_store). Returns the compacted partition dir names."""
    if not os.path.isdir(sink_dir):
        return []
    # recovery first: a crash between the swap's renames leaves a batch
    # dir's only copy in the trash sibling
    trash = sink_dir.rstrip("/") + ".trash"
    if os.path.isdir(trash):
        for d in sorted(os.listdir(trash)):
            dst = os.path.join(sink_dir, d)
            if d.startswith(f"{partition_col}=") and not os.path.isdir(dst):
                os.replace(os.path.join(trash, d), dst)
        shutil.rmtree(trash, ignore_errors=True)
    crowded = []
    for d in os.listdir(sink_dir):
        if not d.startswith(f"{partition_col}="):
            continue
        files = [
            f
            for f in os.listdir(os.path.join(sink_dir, d))
            if f.endswith(".parquet")
        ]
        if len(files) > max_files_per_partition:
            crowded.append(d)
    staging = sink_dir.rstrip("/") + ".compact"
    try:
        for d in sorted(crowded):
            out = os.path.join(staging, d)
            spark.read.parquet(os.path.join(sink_dir, d)).coalesce(1).write.mode(
                "overwrite"
            ).parquet(out)
            os.makedirs(trash, exist_ok=True)
            aside = os.path.join(trash, d)
            shutil.rmtree(aside, ignore_errors=True)
            os.replace(os.path.join(sink_dir, d), aside)
            os.replace(out, os.path.join(sink_dir, d))
            shutil.rmtree(aside, ignore_errors=True)
    finally:
        shutil.rmtree(staging, ignore_errors=True)
        try:  # leave no empty trash sibling behind
            os.rmdir(trash)
        except OSError:
            pass
    return sorted(crowded)


# ---------------------------------------------------------------------------
# change routing, derived triggers, event filtering
# ---------------------------------------------------------------------------

def filter_events(batch: DataFrame) -> DataFrame:
    """Drop non-indexable events (fileIndexer.py:879-912): S3 folder
    markers (keys ending '/') and excluded prefixes (pipeline outputs,
    previews, temp uploads). Pure stream filter — runs before routing."""
    path = F.coalesce(F.col("file_path"), F.lit(""))
    rel = F.regexp_replace(path, r"^/", "")
    is_s3 = F.col("source").isin("s3", "files")
    is_folder_marker = path.endswith("/")
    excluded = F.lit(False)
    for p in EXCLUDED_KEY_PREFIXES:
        excluded = excluded | rel.startswith(p)
    return batch.filter(~(is_s3 & (is_folder_marker | excluded)))


def route_changes(batch: DataFrame) -> DataFrame:
    """Dispatch one change-log micro-batch to its target index(es).

    Returns (target, event_name, database_id, asset_id, file_path) where
    target ∈ {'asset', 'file'}:

    - ``assets`` rows        → asset index for that asset;
    - ``metadata`` rows      → asset index iff file_path == '/'
      (assetIndexer.py:892-900), else file index for that file;
    - ``asset_links`` rows   → derived trigger: BOTH endpoint assets
      re-indexed (assetIndexer.py:921-996). A link INSERT/MODIFY/REMOVE
      is always an upsert of the endpoints (their flag columns change,
      the assets themselves still exist), so event_name maps to MODIFY;
    - ``s3``/``files`` rows  → file index (after filter_events).
    """
    batch = filter_events(batch)
    src = F.col("source")
    path = F.coalesce(F.col("file_path"), F.lit("/"))

    assets = batch.filter(src == "assets").select(
        F.lit("asset").alias("target"),
        F.col("event_name"),
        F.col("database_id"),
        F.col("asset_id"),
        F.lit(None).cast("string").alias("file_path"),
    )
    md = batch.filter(src == "metadata")
    md_asset = md.filter(path == "/").select(
        F.lit("asset").alias("target"),
        F.col("event_name"),
        F.col("database_id"),
        F.col("asset_id"),
        F.lit(None).cast("string").alias("file_path"),
    )
    md_file = md.filter(path != "/").select(
        F.lit("file").alias("target"),
        F.col("event_name"),
        F.col("database_id"),
        F.col("asset_id"),
        F.col("file_path"),
    )
    links = batch.filter(src == "asset_links")
    link_from = links.select(
        F.lit("asset").alias("target"),
        F.lit("MODIFY").alias("event_name"),
        F.col("database_id"),
        F.col("asset_id"),
        F.lit(None).cast("string").alias("file_path"),
    )
    link_to = links.select(
        F.lit("asset").alias("target"),
        F.lit("MODIFY").alias("event_name"),
        F.col("to_database_id").alias("database_id"),
        F.col("to_asset_id").alias("asset_id"),
        F.lit(None).cast("string").alias("file_path"),
    )
    file_events = batch.filter(src.isin("s3", "files")).select(
        F.lit("file").alias("target"),
        F.col("event_name"),
        F.col("database_id"),
        F.col("asset_id"),
        F.col("file_path"),
    )
    return (
        assets.unionByName(md_asset)
        .unionByName(md_file)
        .unionByName(link_from)
        .unionByName(link_to)
        .unionByName(file_events)
    )


def _expand_null_path_file_events(
    sub: DataFrame,
    sink_dir: str,
    file_keys_of_assets=None,
) -> DataFrame:
    """Expand file-target events with NULL file_path to explicit file
    keys at the asset grain.

    File-index keys include file_path, and equi-joins never match NULL
    keys — without expansion a NULL-path event is consumed as a silent
    no-op (neither the left-semi recompute nor the left-anti delete
    sees it). A NULL path means "something about this asset's files
    changed, path unknown" → re-index every file of the asset: expand
    to the union of (a) the file keys already in the sink for those
    assets (covers updates and vanished files — the recompute returns
    no row for a gone file, so the merge drops it) and (b) the keys
    ``file_keys_of_assets(asset_keys)`` reports from the source of
    truth (covers brand-new files the sink has never seen). A NULL-path
    REMOVE becomes a REMOVE of every expanded key. The sink key scan
    reads three dictionary-encoded columns, semi-joined by a broadcast
    of the (tiny) affected-asset set — NULL-path events are the rare
    case, the scan is not per-batch overhead."""
    nullp = sub.filter(F.col("file_path").isNull())
    withp = sub.filter(F.col("file_path").isNotNull())
    if nullp.isEmpty():
        return withp
    spark = sub.sparkSession
    flags = nullp.groupBy("database_id", "asset_id").agg(
        F.max((F.col("event_name") == "REMOVE").cast("int")).alias("_rm")
    )
    asset_keys = flags.select("database_id", "asset_id")
    key3 = ["database_id", "asset_id", "file_path"]
    expanded: DataFrame | None = None
    sink = read_sink(spark, sink_dir)
    if sink is not None:
        expanded = sink.select(*key3).join(
            F.broadcast(asset_keys), ["database_id", "asset_id"], "left_semi"
        )
    if file_keys_of_assets is not None:
        src_keys = file_keys_of_assets(asset_keys).select(*key3)
        expanded = src_keys if expanded is None else expanded.unionByName(src_keys)
    if expanded is None:
        return withp
    events = (
        expanded.distinct()
        .join(F.broadcast(flags), ["database_id", "asset_id"])
        .select(
            F.lit("file").alias("target"),
            F.when(F.col("_rm") == 1, F.lit("REMOVE"))
            .otherwise(F.lit("MODIFY"))
            .alias("event_name"),
            *key3,
        )
    )
    return withp.unionByName(events)


def apply_routed_cdc_batch(
    batch: DataFrame,
    recomputes: dict[str, object],
    sink_dirs: dict[str, str],
    file_keys_of_assets=None,
    commit_mode: str = "manifest",
) -> None:
    """Routed micro-batch: dispatch events per target index, then run the
    partial-rewrite merge per target. ``recomputes``/``sink_dirs`` map
    target ('asset' / 'file') → recompute fn / sink directory.

    Asset-index keys are (database_id, asset_id); file-index keys add
    file_path. File events whose path is unknown (NULL) are expanded to
    the asset's known file keys (see ``_expand_null_path_file_events``);
    ``file_keys_of_assets`` optionally supplies the source-of-truth
    file listing for an asset-key set so the expansion also reaches
    files the sink has never indexed. The expansion reads the file
    sink's committed snapshot, which a crashed merge never leaves
    partial.
    """
    _require_manifest(commit_mode)
    routed = route_changes(batch)
    for target, key_cols in (
        ("asset", ["database_id", "asset_id"]),
        ("file", ["database_id", "asset_id", "file_path"]),
    ):
        if target not in sink_dirs:
            continue
        sub = routed.filter(F.col("target") == target)
        if target == "file":
            sub = _expand_null_path_file_events(
                sub, sink_dirs[target], file_keys_of_assets
            )
        if sub.isEmpty():
            continue
        apply_cdc_batch(sub, recomputes[target], sink_dirs[target], key_cols)


def start_search_table_stream(
    spark: SparkSession,
    change_log_dir: str,
    sink_dir: str,
    recompute,
    checkpoint_dir: str,
    key_cols: list[str] = ("database_id", "asset_id"),
):
    """Structured Streaming wrapper: file-source change log → per-batch
    merge. Each run drains the available change log and stops
    (streaming/driver.py); a continuous deployment re-runs it on a
    schedule whose interval is the visibility lag the reference
    tolerates from OpenSearch (SURVEY §2.9)."""
    stream = (
        spark.readStream.schema(CHANGE_LOG_SCHEMA).format("json").load(change_log_dir)
    )

    def step(batch: DataFrame, _batch_id: int) -> None:
        apply_cdc_batch(batch, recompute, sink_dir, key_cols)

    return run_micro_batches(stream, checkpoint_dir, step)


def start_routed_stream(
    spark: SparkSession,
    change_log_dir: str,
    sink_dirs: dict[str, str],
    recomputes: dict[str, object],
    checkpoint_dir: str,
):
    """Routed variant: one change-log stream feeding BOTH search tables
    through route_changes (the full assetIndexer/fileIndexer dispatch)."""
    stream = (
        spark.readStream.schema(ROUTED_CHANGE_LOG_SCHEMA)
        .format("json")
        .load(change_log_dir)
    )

    def step(batch: DataFrame, _batch_id: int) -> None:
        apply_routed_cdc_batch(batch, recomputes, sink_dirs)

    return run_micro_batches(stream, checkpoint_dir, step)
