"""CDC pipeline tests: change-log stream → search-table maintenance.

Golden-file style (SURVEY §5): a change-log slice in, expected search
rows out — including REMOVE handling and incremental re-upsert.
"""

from __future__ import annotations

import json
import os
import shutil

import pytest

from pyspark.sql import functions as F

from visual_asset_management_system_spark.streaming.cdc import (
    apply_cdc_batch,
    read_sink,
    start_search_table_stream,
)


def _recompute_factory(spark):
    """Search-row recompute for the affected keys: uppercase-name docs —
    a stand-in for the full join pipeline (exercised in test_oracle)."""
    base = spark.createDataFrame(
        [("db_1", f"asset_{i}", f"name {i}") for i in range(20)],
        "database_id string, asset_id string, asset_name string",
    )

    def recompute(keys):
        return base.join(keys, ["database_id", "asset_id"], "left_semi").withColumn(
            "doc", F.upper("asset_name")
        )

    return recompute


def _write_changelog(path: str, rows: list[dict]) -> None:
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, f"batch_{len(os.listdir(path))}.json"), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def test_apply_cdc_batch_upsert_and_remove(spark, tmp_path):
    sink = str(tmp_path / "search_assets")
    recompute = _recompute_factory(spark)

    batch1 = spark.createDataFrame(
        [
            (1, "INSERT", "assets", "db_1", "asset_1", None, None),
            (2, "INSERT", "assets", "db_1", "asset_2", None, None),
        ],
        "seq long, event_name string, source string, database_id string, "
        "asset_id string, new_image string, event_time timestamp",
    )
    apply_cdc_batch(batch1, recompute, sink)
    out = read_sink(spark, sink)
    assert {r["asset_id"] for r in out.collect()} == {"asset_1", "asset_2"}

    # MODIFY asset_1 (idempotent re-upsert), REMOVE asset_2, INSERT asset_3
    batch2 = spark.createDataFrame(
        [
            (3, "MODIFY", "assets", "db_1", "asset_1", None, None),
            (4, "REMOVE", "assets", "db_1", "asset_2", None, None),
            (5, "INSERT", "assets", "db_1", "asset_3", None, None),
        ],
        batch1.schema,
    )
    apply_cdc_batch(batch2, recompute, sink)
    rows = {r["asset_id"]: r["doc"] for r in read_sink(spark, sink).collect()}
    assert set(rows) == {"asset_1", "asset_3"}
    assert rows["asset_1"] == "NAME 1"


def test_streaming_wrapper_available_now(spark, tmp_path):
    changelog = str(tmp_path / "changelog")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    recompute = _recompute_factory(spark)

    _write_changelog(
        changelog,
        [
            {
                "seq": 1,
                "event_name": "INSERT",
                "source": "assets",
                "database_id": "db_1",
                "asset_id": "asset_5",
                "new_image": None,
                "event_time": "2024-01-01T00:00:00Z",
            }
        ],
    )
    q = start_search_table_stream(
        spark, changelog, sink, recompute, ckpt
    )
    q.awaitTermination(120)
    out = read_sink(spark, sink)
    assert [r["asset_id"] for r in out.collect()] == ["asset_5"]

    # second batch arrives; checkpoint resumes without reprocessing batch 1
    _write_changelog(
        changelog,
        [
            {
                "seq": 2,
                "event_name": "INSERT",
                "source": "assets",
                "database_id": "db_1",
                "asset_id": "asset_7",
                "new_image": None,
                "event_time": "2024-01-01T01:00:00Z",
            }
        ],
    )
    q2 = start_search_table_stream(
        spark, changelog, sink, recompute, ckpt
    )
    q2.awaitTermination(120)
    ids = {r["asset_id"] for r in read_sink(spark, sink).collect()}
    assert ids == {"asset_5", "asset_7"}


def test_compact_sink_rewrites_only_crowded_partitions(spark, tmp_path):
    """Compaction coalesces partitions whose file count exceeds the
    threshold into a fresh version directory, leaves the manifest
    entries and files of compact partitions byte-identical, and
    preserves every row."""
    from visual_asset_management_system_spark.streaming.cdc import (
        _commit_manifest,
        _load_manifest,
        _partition_of,
        compact_sink,
    )

    sink = str(tmp_path / "sink")
    n_keys = 200
    base = spark.createDataFrame(
        [("db_1", f"asset_{i}", f"name {i}") for i in range(n_keys)],
        "database_id string, asset_id string, asset_name string",
    )

    def recompute(keys):
        return base.join(
            keys, ["database_id", "asset_id"], "left_semi"
        ).withColumn("doc", F.upper("asset_name"))

    # crowd half the partition dirs the way multi-task rewrites do at
    # scale (several append passes into the same _part dirs of version
    # v0), write the other half one file each (v1), and publish both
    # in one manifest commit
    docs = _partition_of(
        recompute(base.select("database_id", "asset_id")),
        ["database_id", "asset_id"],
    )
    crowded_src = docs.filter(F.col("_part") >= 16)
    for i in range(3):
        chunk = crowded_src.filter(F.xxhash64("asset_id", F.lit(i)) % 3 == 0)
        chunk.write.partitionBy("_part").mode("append").parquet(
            os.path.join(sink, "data", "v0")
        )
    docs.filter(F.col("_part") < 16).coalesce(1).write.partitionBy(
        "_part"
    ).parquet(os.path.join(sink, "data", "v1"))
    _commit_manifest(sink, {
        int(d.split("=", 1)[1]): f"data/{v}/{d}"
        for v in ("v0", "v1")
        for d in os.listdir(os.path.join(sink, "data", v))
        if d.startswith("_part=")
    })
    before_rows = {r["asset_id"] for r in read_sink(spark, sink).collect()}
    man_before = _load_manifest(sink)
    before = _dir_snapshot(sink)

    compacted = compact_sink(spark, sink, max_files_per_partition=1)
    assert compacted  # at least one crowded partition was rewritten
    assert all(p >= 16 for p in compacted)  # and no single-file one

    man_after = _load_manifest(sink)
    after = _dir_snapshot(sink)
    for p in compacted:
        d = os.path.join(sink, man_after[p])
        n_files = sum(1 for f in os.listdir(d) if f.endswith(".parquet"))
        assert n_files == 1, f"_part={p} not coalesced"
    # untouched partitions keep their entry and are byte-identical
    for p, rel in man_before.items():
        if p in compacted:
            continue
        assert man_after[p] == rel
        for path, sig in before.items():
            if path.startswith(rel + "/"):
                assert after.get(path) == sig, f"untouched file changed: {path}"
    assert {
        r["asset_id"] for r in read_sink(spark, sink).collect()
    } == before_rows


def test_routed_stream_available_now(spark, tmp_path):
    """End-to-end routed stream: one change log feeds BOTH search-table
    sinks through the dispatch/filter layer, with a link event
    re-indexing both endpoint assets."""
    from visual_asset_management_system_spark.streaming.cdc import (
        start_routed_stream,
    )

    changelog = str(tmp_path / "changelog")
    asset_sink = str(tmp_path / "assets_sink")
    file_sink = str(tmp_path / "files_sink")
    ckpt = str(tmp_path / "ckpt")

    asset_base = spark.createDataFrame(
        [("db_1", f"asset_{i}", f"name {i}") for i in range(10)]
        + [("db_2", "asset_9", "name 9b")],
        "database_id string, asset_id string, asset_name string",
    )
    file_base = spark.createDataFrame(
        [("db_1", f"asset_{i}", f"/f/{i}.glb", i * 100) for i in range(10)],
        "database_id string, asset_id string, file_path string, file_size long",
    )

    seen_asset_keys: list[set] = []

    def recompute_assets(keys):
        # record what each invocation was asked to rebuild, so the
        # checkpoint-resume assertion is falsifiable (full replay would
        # reach the same sink state — idempotence hides it otherwise)
        seen_asset_keys.append(
            {(r["database_id"], r["asset_id"]) for r in keys.collect()}
        )
        return asset_base.join(keys, ["database_id", "asset_id"], "left_semi")

    def recompute_files(keys):
        return file_base.join(
            keys, ["database_id", "asset_id", "file_path"], "left_semi"
        )

    _write_changelog(
        changelog,
        [
            {
                "seq": 1, "event_name": "INSERT", "source": "asset_links",
                "database_id": "db_1", "asset_id": "asset_1",
                "new_image": None, "event_time": "2024-01-01T00:00:00Z",
                "file_path": None, "to_database_id": "db_2",
                "to_asset_id": "asset_9",
            },
            {
                "seq": 2, "event_name": "INSERT", "source": "s3",
                "database_id": "db_1", "asset_id": "asset_2",
                "new_image": None, "event_time": "2024-01-01T00:00:00Z",
                "file_path": "/f/2.glb", "to_database_id": None,
                "to_asset_id": None,
            },
            {
                "seq": 3, "event_name": "INSERT", "source": "s3",
                "database_id": "db_1", "asset_id": "asset_3",
                "new_image": None, "event_time": "2024-01-01T00:00:00Z",
                "file_path": "previews/thumb.png", "to_database_id": None,
                "to_asset_id": None,
            },
        ],
    )
    q = start_routed_stream(
        spark, changelog,
        {"asset": asset_sink, "file": file_sink},
        {"asset": recompute_assets, "file": recompute_files},
        ckpt,
    )
    q.awaitTermination(120)
    # link event re-indexed BOTH endpoints; excluded-prefix event dropped
    asset_keys = {
        (r["database_id"], r["asset_id"])
        for r in read_sink(spark, asset_sink).collect()
    }
    assert asset_keys == {("db_1", "asset_1"), ("db_2", "asset_9")}
    assert {
        r["file_path"] for r in read_sink(spark, file_sink).collect()
    } == {"/f/2.glb"}

    # checkpoint resume: a second batch processes ONLY the new event
    _write_changelog(
        changelog,
        [
            {
                "seq": 4, "event_name": "INSERT", "source": "assets",
                "database_id": "db_1", "asset_id": "asset_5",
                "new_image": None, "event_time": "2024-01-01T01:00:00Z",
                "file_path": None, "to_database_id": None,
                "to_asset_id": None,
            },
        ],
    )
    q2 = start_routed_stream(
        spark, changelog,
        {"asset": asset_sink, "file": file_sink},
        {"asset": recompute_assets, "file": recompute_files},
        ckpt,
    )
    q2.awaitTermination(120)
    asset_keys = {
        (r["database_id"], r["asset_id"])
        for r in read_sink(spark, asset_sink).collect()
    }
    assert asset_keys == {
        ("db_1", "asset_1"), ("db_2", "asset_9"), ("db_1", "asset_5")
    }
    # the resumed run recomputed ONLY the new event's key — a full
    # replay would have re-requested asset_1/asset_9 too
    assert seen_asset_keys[-1] == {("db_1", "asset_5")}


def _dir_snapshot(root: str) -> dict[str, tuple]:
    """Map of every data file under root → (size, mtime_ns) — used to
    prove untouched partition directories are untouched."""
    snap = {}
    for dirpath, _dirs, files in os.walk(root):
        for fn in files:
            p = os.path.join(dirpath, fn)
            st = os.stat(p)
            snap[os.path.relpath(p, root)] = (st.st_size, st.st_mtime_ns)
    return snap


def test_cdc_merge_rewrites_only_touched_partitions(spark, tmp_path):
    """A merge writes a new version of the touched partition only:
    every other partition's data files stay byte-identical under their
    original manifest entries."""
    from visual_asset_management_system_spark.streaming.cdc import (
        _load_manifest,
        _partition_of,
    )

    sink = str(tmp_path / "sink_partial")
    recompute = _recompute_factory(spark)

    schema = (
        "seq long, event_name string, source string, database_id string, "
        "asset_id string, new_image string, event_time timestamp"
    )
    batch1 = spark.createDataFrame(
        [(i, "INSERT", "assets", "db_1", f"asset_{i}", None, None) for i in range(20)],
        schema,
    )
    apply_cdc_batch(batch1, recompute, sink)

    man_before = _load_manifest(sink)
    before = _dir_snapshot(sink)
    batch2 = spark.createDataFrame(
        [(100, "MODIFY", "assets", "db_1", "asset_3", None, None)], schema
    )
    apply_cdc_batch(batch2, recompute, sink)
    man_after = _load_manifest(sink)
    after = _dir_snapshot(sink)

    touched = {
        r["_part"]
        for r in _partition_of(
            batch2.select("database_id", "asset_id"), ["database_id", "asset_id"]
        ).collect()
    }
    assert len(touched) == 1
    (p,) = touched
    # the new version directory holds the touched partition alone
    new_version = os.path.join(sink, os.path.dirname(man_after[p]))
    assert [
        d for d in os.listdir(new_version) if d.startswith("_part=")
    ] == [f"_part={p}"]
    for q, rel in man_before.items():
        if q == p:
            continue
        assert man_after[q] == rel
        for path, sig in before.items():
            if path.startswith(rel + "/"):
                assert after.get(path) == sig, f"untouched partition file changed: {path}"
    # and the data is still a correct merge
    rows = {r["asset_id"] for r in read_sink(spark, sink).collect()}
    assert rows == {f"asset_{i}" for i in range(20)}


def test_cdc_remove_clears_emptied_partition(spark, tmp_path):
    """A REMOVE that empties a hash partition must not leave stale rows:
    the partition drops out of the manifest."""
    sink = str(tmp_path / "sink_empty")
    recompute = _recompute_factory(spark)
    schema = (
        "seq long, event_name string, source string, database_id string, "
        "asset_id string, new_image string, event_time timestamp"
    )
    batch1 = spark.createDataFrame(
        [(1, "INSERT", "assets", "db_1", "asset_1", None, None)], schema
    )
    apply_cdc_batch(batch1, recompute, sink)
    assert read_sink(spark, sink).count() == 1

    batch2 = spark.createDataFrame(
        [(2, "REMOVE", "assets", "db_1", "asset_1", None, None)], schema
    )
    apply_cdc_batch(batch2, recompute, sink)
    # the lone partition is gone from the snapshot — no stale asset_1 row
    assert read_sink(spark, sink) is None


# ---------------------------------------------------------------------------
# change routing, derived triggers, event filtering
# ---------------------------------------------------------------------------

from visual_asset_management_system_spark.streaming.cdc import (  # noqa: E402
    ROUTED_CHANGE_LOG_SCHEMA,
    apply_routed_cdc_batch,
    filter_events,
    route_changes,
)


def _routed_row(
    seq, event, source, db, asset, file_path=None, to_db=None, to_asset=None
):
    return (seq, event, source, db, asset, None, None, file_path, to_db, to_asset)


def test_route_changes_link_triggers_both_endpoints(spark):
    batch = spark.createDataFrame(
        [_routed_row(1, "INSERT", "asset_links", "db_1", "asset_1",
                     to_db="db_2", to_asset="asset_9")],
        ROUTED_CHANGE_LOG_SCHEMA,
    )
    routed = route_changes(batch).collect()
    keys = {(r["target"], r["database_id"], r["asset_id"]) for r in routed}
    # derived trigger: BOTH endpoint assets re-indexed (assetIndexer.py:921-996)
    assert keys == {("asset", "db_1", "asset_1"), ("asset", "db_2", "asset_9")}
    assert all(r["event_name"] == "MODIFY" for r in routed)


def test_route_changes_metadata_dispatch_by_path(spark):
    batch = spark.createDataFrame(
        [
            _routed_row(1, "MODIFY", "metadata", "db_1", "asset_1", file_path="/"),
            _routed_row(2, "MODIFY", "metadata", "db_1", "asset_2",
                        file_path="/f/1_1.glb"),
        ],
        ROUTED_CHANGE_LOG_SCHEMA,
    )
    routed = route_changes(batch).collect()
    by_asset = {r["asset_id"]: r["target"] for r in routed}
    # filePath '/' → asset-level metadata; else file-level (assetIndexer.py:892-900)
    assert by_asset == {"asset_1": "asset", "asset_2": "file"}


def test_filter_events_drops_folder_markers_and_excluded_prefixes(spark):
    batch = spark.createDataFrame(
        [
            _routed_row(1, "INSERT", "s3", "db_1", "asset_1", file_path="a/folder/"),
            _routed_row(2, "INSERT", "s3", "db_1", "asset_2",
                        file_path="previews/a/thumb.png"),
            _routed_row(3, "INSERT", "s3", "db_1", "asset_3",
                        file_path="pipelines/tmp/out.bin"),
            _routed_row(4, "INSERT", "s3", "db_1", "asset_4", file_path="a/real.glb"),
            # non-S3 sources are never prefix-filtered
            _routed_row(5, "MODIFY", "assets", "db_1", "asset_5"),
        ],
        ROUTED_CHANGE_LOG_SCHEMA,
    )
    kept = {r["asset_id"] for r in filter_events(batch).collect()}
    assert kept == {"asset_4", "asset_5"}


def test_null_path_file_event_reindexes_asset_files(spark, tmp_path):
    """A file-target event with NULL file_path must re-index the asset's
    files, not vanish: file-index keys include file_path and equi-joins
    never match NULL, so without expansion the event is a silent no-op.
    Expansion = sink keys (updates + vanished files) ∪ source-of-truth
    keys (brand-new files); NULL-path REMOVE clears every file."""
    from visual_asset_management_system_spark.streaming.cdc import (
        apply_routed_cdc_batch,
    )

    file_sink = str(tmp_path / "files")

    def make_recompute(file_base):
        def recompute(keys):
            return file_base.join(
                keys, ["database_id", "asset_id", "file_path"], "left_semi"
            )
        return recompute

    fschema = (
        "database_id string, asset_id string, file_path string, file_size long"
    )
    v1 = spark.createDataFrame(
        [("db_1", "asset_7", "/f/a.glb", 1), ("db_1", "asset_7", "/f/b.glb", 2)],
        fschema,
    )
    seed = spark.createDataFrame(
        [
            _routed_row(1, "INSERT", "files", "db_1", "asset_7", "/f/a.glb"),
            _routed_row(2, "INSERT", "files", "db_1", "asset_7", "/f/b.glb"),
        ],
        ROUTED_CHANGE_LOG_SCHEMA,
    )
    apply_routed_cdc_batch(seed, {"file": make_recompute(v1)}, {"file": file_sink})
    assert {
        r["file_path"] for r in read_sink(spark, file_sink).collect()
    } == {"/f/a.glb", "/f/b.glb"}

    # source of truth changed: b.glb vanished, c.glb is new — then a
    # NULL-path event arrives for the asset
    v2 = spark.createDataFrame(
        [("db_1", "asset_7", "/f/a.glb", 1), ("db_1", "asset_7", "/f/c.glb", 3)],
        fschema,
    )

    def file_keys_of_assets(asset_keys):
        return v2.join(asset_keys, ["database_id", "asset_id"], "left_semi")

    nullev = spark.createDataFrame(
        [_routed_row(3, "MODIFY", "files", "db_1", "asset_7", None)],
        ROUTED_CHANGE_LOG_SCHEMA,
    )
    apply_routed_cdc_batch(
        nullev, {"file": make_recompute(v2)}, {"file": file_sink},
        file_keys_of_assets=file_keys_of_assets,
    )
    assert {
        r["file_path"] for r in read_sink(spark, file_sink).collect()
    } == {"/f/a.glb", "/f/c.glb"}

    # NULL-path REMOVE clears every file of the asset
    rmev = spark.createDataFrame(
        [_routed_row(4, "REMOVE", "files", "db_1", "asset_7", None)],
        ROUTED_CHANGE_LOG_SCHEMA,
    )
    apply_routed_cdc_batch(
        rmev, {"file": make_recompute(v2)}, {"file": file_sink},
        file_keys_of_assets=file_keys_of_assets,
    )
    assert read_sink(spark, file_sink) is None


def test_apply_routed_cdc_batch_writes_both_sinks(spark, tmp_path):
    asset_sink = str(tmp_path / "routed_assets")
    file_sink = str(tmp_path / "routed_files")

    asset_base = spark.createDataFrame(
        [("db_1", f"asset_{i}", f"name {i}") for i in range(10)],
        "database_id string, asset_id string, asset_name string",
    )
    file_base = spark.createDataFrame(
        [("db_1", f"asset_{i}", f"/f/{i}.glb", i * 100) for i in range(10)],
        "database_id string, asset_id string, file_path string, file_size long",
    )

    def recompute_assets(keys):
        return asset_base.join(keys, ["database_id", "asset_id"], "left_semi")

    def recompute_files(keys):
        return file_base.join(
            keys, ["database_id", "asset_id", "file_path"], "left_semi"
        )

    batch = spark.createDataFrame(
        [
            _routed_row(1, "INSERT", "assets", "db_1", "asset_1"),
            _routed_row(2, "INSERT", "s3", "db_1", "asset_2", file_path="/f/2.glb"),
            _routed_row(3, "INSERT", "s3", "db_1", "asset_3",
                        file_path="previews/skip.png"),
        ],
        ROUTED_CHANGE_LOG_SCHEMA,
    )
    apply_routed_cdc_batch(
        batch,
        {"asset": recompute_assets, "file": recompute_files},
        {"asset": asset_sink, "file": file_sink},
    )
    assert {r["asset_id"] for r in read_sink(spark, asset_sink).collect()} == {
        "asset_1"
    }
    assert {r["file_path"] for r in read_sink(spark, file_sink).collect()} == {
        "/f/2.glb"
    }


# ---------------------------------------------------------------------------
# event-time streaming: watermarked windows + stateful sessionization
# ---------------------------------------------------------------------------

from visual_asset_management_system_spark.streaming.driver import (  # noqa: E402
    run_stream_to_parquet,
)
from visual_asset_management_system_spark.streaming.windows import (  # noqa: E402
    read_events_stream,
    sessionize_stateful,
    windowed_event_counts,
)


def _write_events(path: str, rows: list[dict]) -> None:
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, f"ev_{len(os.listdir(path))}.json"), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def _ev(eid, uid, etype, value, ts):
    return {
        "event_id": eid,
        "user_id": uid,
        "event_type": etype,
        "value": value,
        "ts": ts,
    }


def test_windowed_counts_emit_on_watermark_and_drop_late(spark, tmp_path):
    src = str(tmp_path / "events")
    sink = str(tmp_path / "winsink")
    ckpt = str(tmp_path / "winckpt")

    # batch 1: two events in the 10:00 window; max ts 11:40 → watermark
    # after this batch = 11:10, which passes 10:00-11:00's end
    _write_events(
        src,
        [
            _ev(1, 1, "click", 1.0, "2024-01-01T10:05:00Z"),
            _ev(2, 1, "click", 2.0, "2024-01-01T10:20:00Z"),
            _ev(3, 1, "click", 4.0, "2024-01-01T11:40:00Z"),
        ],
    )
    q = run_stream_to_parquet(
        windowed_event_counts(read_events_stream(spark, src)), sink, ckpt
    )
    q.awaitTermination(120)
    rows = {
        (r["window_start"].isoformat(), r["n_events"], r["sum_value"])
        for r in spark.read.parquet(sink).collect()
    }
    assert rows == {("2024-01-01T10:00:00", 2, 3.0)}

    # batch 2: a LATE event for the already-closed 10:00 window (behind
    # the 11:10 watermark → dropped) plus a 12:50 event that closes the
    # 11:00 window (watermark moves to 12:20)
    _write_events(
        src,
        [
            _ev(4, 1, "click", 99.0, "2024-01-01T10:30:00Z"),
            _ev(5, 1, "click", 8.0, "2024-01-01T12:50:00Z"),
        ],
    )
    q2 = run_stream_to_parquet(
        windowed_event_counts(read_events_stream(spark, src)), sink, ckpt
    )
    q2.awaitTermination(120)
    rows = {
        (r["window_start"].isoformat(), r["n_events"], r["sum_value"])
        for r in spark.read.parquet(sink).collect()
    }
    # late event 4 is absent; 11:00 window has only event 3
    assert rows == {
        ("2024-01-01T10:00:00", 2, 3.0),
        ("2024-01-01T11:00:00", 1, 4.0),
    }


def test_hopping_windowed_counts(spark, tmp_path):
    """Hopping variant: 1 h windows sliding 30 min — each event lands in
    2 windows; emission still gated by the watermark."""
    src = str(tmp_path / "hop_events")
    sink = str(tmp_path / "hopsink")
    ckpt = str(tmp_path / "hopckpt")

    _write_events(
        src,
        [
            _ev(1, 1, "click", 1.0, "2024-01-01T10:05:00Z"),
            _ev(2, 1, "click", 4.0, "2024-01-01T13:00:00Z"),
        ],
    )
    q = run_stream_to_parquet(
        windowed_event_counts(
            read_events_stream(spark, src), slide="30 minutes"
        ),
        sink, ckpt,
    )
    q.awaitTermination(120)
    rows = {
        (r["window_start"].isoformat(), r["n_events"])
        for r in spark.read.parquet(sink).collect()
    }
    # event 1 belongs to the 09:30 and 10:00 windows; both closed by the
    # 12:30 watermark of batch 1
    assert rows == {
        ("2024-01-01T09:30:00", 1),
        ("2024-01-01T10:00:00", 1),
    }


def test_stateful_sessionize_across_microbatches(spark, tmp_path):
    src = str(tmp_path / "sess_events")
    sink = str(tmp_path / "sesssink")
    ckpt = str(tmp_path / "sessckpt")

    # batch 1: one tight burst (a single open session) → nothing emitted
    _write_events(
        src,
        [
            _ev(1, 7, "click", 1.0, "2024-01-01T10:00:00Z"),
            _ev(2, 7, "click", 2.0, "2024-01-01T10:10:00Z"),
        ],
    )
    q = run_stream_to_parquet(
        sessionize_stateful(read_events_stream(spark, src)), sink, ckpt
    )
    q.awaitTermination(120)
    assert spark.read.parquet(sink).count() == 0

    # batch 2: an event >30 min later closes the pending session
    _write_events(src, [_ev(3, 7, "click", 4.0, "2024-01-01T11:30:00Z")])
    q2 = run_stream_to_parquet(
        sessionize_stateful(read_events_stream(spark, src)), sink, ckpt
    )
    q2.awaitTermination(120)
    rows = spark.read.parquet(sink).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["user_id"] == 7 and r["n_events"] == 2 and r["sum_value"] == 3.0
    assert r["session_start"].isoformat() == "2024-01-01T10:00:00"
    assert r["session_end"].isoformat() == "2024-01-01T10:10:00"


def test_cdc_maintains_inverted_index(spark, tmp_path):
    """The BM25 postings table is maintained state under the SAME
    partial-rewrite CDC merge as the search tables: postings are keyed
    by the entity key (many rows per key — one per term), so a
    re-index replaces exactly the changed asset's postings. After the
    merge, scores derived from the maintained postings must equal a
    from-scratch rebuild."""
    from visual_asset_management_system_spark.operators.inverted_index import (
        bm25_scores,
        build_inverted_index,
        postings_stats,
    )

    sink = str(tmp_path / "postings")
    v1 = spark.createDataFrame(
        [
            ("db_1", "a1", "red fox"),
            ("db_1", "a2", "blue sky"),
            ("db_1", "a3", "red wine"),
        ],
        "database_id string, asset_id string, body string",
    )
    v2 = spark.createDataFrame(
        [
            ("db_1", "a1", "green tea"),   # a1 re-written: loses 'red'
            ("db_1", "a2", "blue sky"),
            ("db_1", "a3", "red wine"),
        ],
        "database_id string, asset_id string, body string",
    )

    def recompute_for(source):
        def recompute(keys):
            sub = source.join(keys, ["database_id", "asset_id"], "left_semi")
            p, _ = build_inverted_index(
                sub, ["database_id", "asset_id"], {"body": 1.0}
            )
            return p
        return recompute

    schema = (
        "seq long, event_name string, source string, database_id string, "
        "asset_id string, new_image string, event_time timestamp"
    )
    seed = spark.createDataFrame(
        [(i, "INSERT", "assets", "db_1", f"a{i}", None, None) for i in (1, 2, 3)],
        schema,
    )
    apply_cdc_batch(seed, recompute_for(v1), sink)

    change = spark.createDataFrame(
        [(10, "MODIFY", "assets", "db_1", "a1", None, None)], schema
    )
    apply_cdc_batch(change, recompute_for(v2), sink)

    maintained = read_sink(spark, sink)
    fresh, _ = build_inverted_index(v2, ["database_id", "asset_id"], {"body": 1.0})
    norm = lambda df: sorted(map(tuple, df.select(  # noqa: E731
        "database_id", "asset_id", "term", "tf", "dl").collect()))
    assert norm(maintained) == norm(fresh)

    # and query-time scoring over the maintained index matches a rebuild
    stats = postings_stats(maintained, ["database_id", "asset_id"])
    got = {
        r["asset_id"]: round(r["score"], 9)
        for r in bm25_scores(
            maintained, stats, "red", ["database_id", "asset_id"]
        ).collect()
    }
    fresh_stats = postings_stats(fresh, ["database_id", "asset_id"])
    want = {
        r["asset_id"]: round(r["score"], 9)
        for r in bm25_scores(
            fresh, fresh_stats, "red", ["database_id", "asset_id"]
        ).collect()
    }
    assert got == want and set(got) == {"a3"}


def test_dedup_stream_drops_replayed_ids_within_watermark(spark, tmp_path):
    """At-least-once replays duplicate event ids; the streaming dedup
    must emit each id once across micro-batches (state bounded by the
    watermark horizon)."""
    from visual_asset_management_system_spark.streaming.windows import (
        dedup_events_stream,
    )

    src = str(tmp_path / "dd_events")
    sink = str(tmp_path / "dd_sink")
    ckpt = str(tmp_path / "dd_ckpt")

    _write_events(
        src,
        [
            _ev(1, 1, "click", 1.0, "2024-01-01T10:00:00Z"),
            _ev(2, 1, "click", 2.0, "2024-01-01T10:01:00Z"),
            _ev(1, 1, "click", 1.0, "2024-01-01T10:00:00Z"),  # same-batch dup
        ],
    )
    q = run_stream_to_parquet(
        dedup_events_stream(read_events_stream(spark, src)), sink, ckpt
    )
    q.awaitTermination(120)
    assert sorted(
        r["event_id"] for r in spark.read.parquet(sink).collect()
    ) == [1, 2]

    # batch 2: a cross-batch replay of id 2 (within the 30 min horizon)
    # plus a genuinely new id
    _write_events(
        src,
        [
            _ev(2, 1, "click", 2.0, "2024-01-01T10:01:00Z"),
            _ev(3, 1, "click", 3.0, "2024-01-01T10:05:00Z"),
        ],
    )
    q2 = run_stream_to_parquet(
        dedup_events_stream(read_events_stream(spark, src)), sink, ckpt
    )
    q2.awaitTermination(120)
    assert sorted(
        r["event_id"] for r in spark.read.parquet(sink).collect()
    ) == [1, 2, 3]


def test_minhash_dedup_stream_maintains_store(spark, tmp_path):
    """Streaming docs through the maintained-signature dedup: pairs land
    in the append log exactly when the later doc arrives; the final
    pair set equals the from-scratch batch run."""
    from visual_asset_management_system_spark.operators.dedup import (
        minhash_dedup,
        start_minhash_dedup_stream,
    )

    body = " ".join(f"tok{i}" for i in range(60))
    near = " ".join(f"tok{i}" for i in range(55))      # drop last 5
    other = " ".join(f"word{i}" for i in range(60))
    docs_dir = str(tmp_path / "docs_in")
    os.makedirs(docs_dir)

    def write_docs(name, rows):
        with open(os.path.join(docs_dir, name), "w") as f:
            for did, text in rows:
                f.write(json.dumps({"doc_id": did, "text": text}) + "\n")

    store = str(tmp_path / "sig_store")
    pairs_dir = str(tmp_path / "pairs")
    ckpt = str(tmp_path / "ckpt")

    write_docs("b1.json", [(1, body), (2, other)])
    q = start_minhash_dedup_stream(spark, docs_dir, store, pairs_dir, ckpt)
    q.awaitTermination(120)
    # no near-dup partner yet
    import glob as _glob
    assert not _glob.glob(os.path.join(pairs_dir, "*.parquet")) or (
        spark.read.parquet(pairs_dir).count() == 0
    )

    write_docs("b2.json", [(3, near)])
    q2 = start_minhash_dedup_stream(spark, docs_dir, store, pairs_dir, ckpt)
    q2.awaitTermination(120)
    got = {
        (r["id_a"], r["id_b"]) for r in spark.read.parquet(pairs_dir).collect()
    }
    assert got == {(1, 3)}

    batch = spark.createDataFrame(
        [(1, body), (2, other), (3, near)], "doc_id long, text string"
    )
    want = {
        (r["id_a"], r["id_b"])
        for r in minhash_dedup(batch, threshold=0.5).collect()
    }
    assert got == want


def test_interval_join_streams_attributes_within_window(spark, tmp_path):
    """Stream-stream interval join: purchases attribute to same-user
    clicks within the window; outside-window and cross-user pairs never
    appear. Inner join emits as soon as both sides arrive."""
    from visual_asset_management_system_spark.streaming.windows import (
        interval_join_streams,
    )

    src = str(tmp_path / "ij_events")
    sink = str(tmp_path / "ijsink")
    ckpt = str(tmp_path / "ijckpt")

    _write_events(
        src,
        [
            _ev(1, 1, "click", 1.0, "2024-01-01T10:00:00Z"),
            _ev(2, 1, "purchase", 50.0, "2024-01-01T12:30:00Z"),  # +2.5h: in
            _ev(3, 1, "purchase", 70.0, "2024-01-01T17:00:00Z"),  # +7h: out
            _ev(4, 2, "purchase", 30.0, "2024-01-01T12:00:00Z"),  # no click
            _ev(5, 2, "click", 1.0, "2024-01-01T13:00:00Z"),  # click AFTER
        ],
    )
    events = read_events_stream(spark, src)
    joined = interval_join_streams(
        events.filter("event_type = 'purchase'"),
        events.filter("event_type = 'click'"),
        attribution_window="6 hours",
    )
    q = run_stream_to_parquet(joined, sink, ckpt)
    q.awaitTermination(120)
    rows = {
        (r["user_id"], r["purchase_id"], r["click_id"], r["purchase_value"])
        for r in spark.read.parquet(sink).collect()
    }
    assert rows == {(1, 2, 1, 50.0)}

    # second micro-batch: a new purchase matching the OLD buffered click
    # (still inside the join state horizon) joins retroactively
    _write_events(
        src,
        [_ev(6, 2, "purchase", 90.0, "2024-01-01T14:00:00Z")],  # 1h after click 5
    )
    q2 = run_stream_to_parquet(
        interval_join_streams(
            read_events_stream(spark, src).filter("event_type = 'purchase'"),
            read_events_stream(spark, src).filter("event_type = 'click'"),
            attribution_window="6 hours",
        ),
        sink,
        ckpt,
    )
    q2.awaitTermination(120)
    rows = {
        (r["user_id"], r["purchase_id"], r["click_id"], r["purchase_value"])
        for r in spark.read.parquet(sink).collect()
    }
    assert rows == {(1, 2, 1, 50.0), (2, 6, 5, 90.0)}


def test_corpus_build_stream_equals_batch_pipeline(spark, tmp_path):
    """Streaming the corpus build (filter → exact-dedup → near-dedup
    against maintained state) over id-ordered batches accepts exactly
    the documents the batch pipeline keeps, with rejects at every
    stage exercised (language, quality, exact twin, near-dup)."""
    from pyspark.sql import Window as W

    from visual_asset_management_system_spark.operators.corpus import (
        start_corpus_build_stream,
    )
    from visual_asset_management_system_spark.operators.dedup import (
        minhash_dedup,
    )
    from visual_asset_management_system_spark.operators.text import (
        fingerprint,
        lang_id,
        quality_score,
    )

    en_a = " ".join(
        f"the quick fox and the calm dog of field{i} walk there" for i in range(6)
    )
    en_a_near = " ".join(en_a.split()[:-5])
    en_b = " ".join(
        f"a small bird and a tall tree of grove{i} stand here" for i in range(6)
    )
    en_b_near = " ".join(en_b.split()[:-5])
    de = " ".join("der hund und die katze und das haus" for _ in range(8))
    junk = "!!!! ???? ####"

    rows = [
        (1, en_a),       # accepted
        (2, en_a),       # exact twin -> rejected
        (3, en_a_near),  # near-dup of 1 -> rejected
        (4, en_b),       # accepted
        (5, de),         # lang reject
        (6, junk),       # quality reject
        (7, en_b_near),  # near-dup of 4 -> rejected
    ]

    docs_dir = str(tmp_path / "docs_in")
    os.makedirs(docs_dir)

    def write_docs(name, batch_rows):
        with open(os.path.join(docs_dir, name), "w") as f:
            for did, text in batch_rows:
                f.write(json.dumps({"doc_id": did, "text": text}) + "\n")

    state = str(tmp_path / "state")
    corpus_dir = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")

    # id-ordered arrival (the event-log case the equivalence covers)
    for name, lo, hi in [("b1.json", 1, 2), ("b2.json", 3, 5), ("b3.json", 6, 7)]:
        write_docs(name, [r for r in rows if lo <= r[0] <= hi])
        q = start_corpus_build_stream(spark, docs_dir, state, corpus_dir, ckpt)
        q.awaitTermination(180)

    got = {r["doc_id"] for r in spark.read.parquet(corpus_dir).collect()}

    # batch reference: identical acceptance rule over the full corpus
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    filtered = docs.filter(
        (lang_id(F.col("text")) == "en") & (quality_score(F.col("text")) >= 0.5)
    )
    w = W.partitionBy(fingerprint(F.col("text"))).orderBy("doc_id")
    exact = (
        filtered.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    pairs = minhash_dedup(exact, threshold=0.5)
    near_rejects = {r["id_b"] for r in pairs.collect()}
    want = {
        r["doc_id"] for r in exact.collect() if r["doc_id"] not in near_rejects
    }

    assert got == want
    assert 1 in got and 4 in got        # survivors exist
    assert {2, 3, 5, 6, 7} & got == set()  # every reject class rejected


def _substring_prefix_expect(spark, batches, upto, L, C):
    """Batch-operator reference for PREFIX semantics: what
    dedup_substrings over batches[0..upto] emits for batch `upto`'s
    ids."""
    from visual_asset_management_system_spark.operators.corpus import (
        dedup_substrings,
    )

    prefix = [r for b in batches[: upto + 1] for r in b]
    ids = {r[0] for r in batches[upto]}
    df = spark.createDataFrame(prefix, "doc_id long, text string")
    return {
        r["doc_id"]: (r["text"], r["n_removed"])
        for r in dedup_substrings(df, min_len=L, min_count=C).collect()
        if r["doc_id"] in ids
    }


def test_substring_index_update_matches_prefix_batch(spark, tmp_path):
    """Incremental substring dedup equals the batch operator over the
    corpus PREFIX: each batch's emitted rows match dedup_substrings run
    on all docs seen so far, restricted to the batch — cross-batch
    duplication cuts the LATER occurrence (the earlier doc is already
    emitted and never retracted), within-batch duplication cuts both,
    case-insensitive matching preserves original case, empty docs flow
    through."""
    from visual_asset_management_system_spark.operators.corpus import (
        substring_index_update,
    )

    L, C = 4, 2
    span = "w1 w2 w3 w4"
    batches = [
        [
            (1, f"Alpha {span} beta gamma"),
            (2, "lone unique doc one two"),
            (3, ""),
        ],
        [
            (4, f"delta {span.upper()} epsilon"),  # dup of batch-1 span
            (5, f"{span} zeta {span}"),  # also self-repeat
        ],
        [
            (6, f"eta {span} theta"),  # store count is now >= 2 anyway
            (7, "fresh unseen words only here"),
        ],
    ]
    state = str(tmp_path / "substate")
    for i, b in enumerate(batches):
        got = {
            r["doc_id"]: (r["text"], r["n_removed"])
            for r in substring_index_update(
                spark,
                state,
                spark.createDataFrame(b, "doc_id long, text string"),
                min_len=L,
                min_count=C,
                batch_key=f"b{i}",
            ).collect()
        }
        want = _substring_prefix_expect(spark, batches, i, L, C)
        assert got == want, (i, got, want)
    # spot-check the semantics the invariant encodes: batch-1 doc kept
    # its span (count 1 at emission); batch-2 docs lost theirs
    assert _substring_prefix_expect(spark, batches, 0, L, C)[1][1] == 0
    assert _substring_prefix_expect(spark, batches, 1, L, C)[4][1] == L


def test_substring_index_update_replay_does_not_double_count(spark, tmp_path):
    """At-least-once replay: re-running a batch with the same batch_key
    after its state append must emit identical rows AND leave the store
    counts un-inflated — with min_count=3, a gram seen once in batch 2
    and once in batch 3 stays KEPT (total 2); a double-counted batch-2
    append would push it to 3 and spuriously cut batch 3."""
    from visual_asset_management_system_spark.operators.corpus import (
        substring_index_update,
    )

    L, C = 4, 3
    span = "p1 p2 p3 p4"
    state = str(tmp_path / "substate")

    def run(rows, key):
        return {
            r["doc_id"]: (r["text"], r["n_removed"])
            for r in substring_index_update(
                spark,
                state,
                spark.createDataFrame(rows, "doc_id long, text string"),
                min_len=L,
                min_count=C,
                batch_key=key,
            ).collect()
        }

    b2 = [(10, f"one {span} two")]
    first = run(b2, "b2")
    replay = run(b2, "b2")  # crash-after-append replay
    assert first == replay == {10: (f"one {span} two", 0)}

    got3 = run([(20, f"three {span} four")], "b3")
    # correct total = 1 (store) + 1 (batch) = 2 < 3 → kept intact
    assert got3 == {20: (f"three {span} four", 0)}


def test_substring_index_update_random_batch_splits(spark, tmp_path):
    """Property form of the prefix invariant: over a seeded random
    corpus (tiny vocabulary so duplicated grams arise by chance, plus
    empty/whitespace docs) split into random batch boundaries, every
    batch's emitted rows equal dedup_substrings over the prefix."""
    import random

    from visual_asset_management_system_spark.operators.corpus import (
        substring_index_update,
    )

    rnd = random.Random(88)
    vocab = ["a", "B", "c"]
    docs = []
    for i in range(40):
        n = rnd.randrange(0, 10)
        docs.append((i, " ".join(rnd.choice(vocab) for _ in range(n))))
    docs += [(100, ""), (101, "   ")]
    rnd.shuffle(docs)
    cuts = sorted(rnd.sample(range(1, len(docs)), 3))
    batches = [
        docs[a:b] for a, b in zip([0] + cuts, cuts + [len(docs)])
    ]
    L, C = 3, 2
    state = str(tmp_path / "randstate")
    for i, b in enumerate(batches):
        got = {
            r["doc_id"]: (r["text"], r["n_removed"])
            for r in substring_index_update(
                spark,
                state,
                spark.createDataFrame(b, "doc_id long, text string"),
                min_len=L,
                min_count=C,
                batch_key=f"b{i}",
            ).collect()
        }
        want = _substring_prefix_expect(spark, batches, i, L, C)
        assert got == want, (i, got, want)


def test_compact_gram_store_preserves_decisions(spark, tmp_path):
    """Gram-store compaction: pre-summing per-batch counts into one row
    per gram changes no future dedup decision; a tag listed in
    exclude_tags survives verbatim so its batch can still replay
    without double-counting."""
    from visual_asset_management_system_spark.operators.corpus import (
        compact_gram_store,
        substring_index_update,
    )

    L, C = 4, 3
    span = "g1 g2 g3 g4"
    state = str(tmp_path / "cstate")

    def run(rows, key):
        return {
            r["doc_id"]: (r["text"], r["n_removed"])
            for r in substring_index_update(
                spark,
                state,
                spark.createDataFrame(rows, "doc_id long, text string"),
                min_len=L,
                min_count=C,
                batch_key=key,
            ).collect()
        }

    run([(1, f"a {span} b")], "b0")
    b1 = [(2, f"c {span} d")]
    run(b1, "b1")

    # compact everything except b1 (the only batch that may replay)
    n_rows = compact_gram_store(spark, state, exclude_tags=("b1",))
    assert n_rows > 0
    store = spark.read.parquet(str(tmp_path / "cstate" / "grams"))
    tags = {r["batch_key"] for r in store.select("batch_key").distinct().collect()}
    assert "b1" in tags and "b0" not in tags

    # replay of the excluded batch still collapses (no double count)...
    replay = run(b1, "b1")
    assert replay == {2: (f"c {span} d", 0)}
    # ...so batch 2's totals are exact: span count = 2 (b0+b1) < 3 with
    # the batch occurrence making 3 → cut in batch 2 precisely now
    got2 = run([(3, f"e {span} f")], "b2")
    assert got2 == {3: ("e f", L)}

    # a second, full compaction leaves one row per gram
    n2 = compact_gram_store(spark, state)
    per_gram = (
        spark.read.parquet(str(tmp_path / "cstate" / "grams"))
        .groupBy("k")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert per_gram == 0 and n2 > 0


def test_compact_gram_store_crash_window_recovers(spark, tmp_path):
    """The compaction swap is two renames; a crash between them leaves
    the counts complete in grams.old with grams/ absent. The next store
    read/rewrite must RESTORE the aside — not silently treat history as
    empty (which would emit un-deduplicated rows and then recreate the
    dir, hiding the loss forever)."""
    from visual_asset_management_system_spark.operators.corpus import (
        compact_gram_store,
        substring_index_update,
    )

    L, C = 4, 2
    span = "h1 h2 h3 h4"
    state = str(tmp_path / "crashstate")

    def run(rows, key):
        return {
            r["doc_id"]: (r["text"], r["n_removed"])
            for r in substring_index_update(
                spark,
                state,
                spark.createDataFrame(rows, "doc_id long, text string"),
                min_len=L,
                min_count=C,
                batch_key=key,
            ).collect()
        }

    run([(1, f"a {span} b")], "b0")
    gram_dir = os.path.join(state, "grams")
    # simulate the crash: first rename done, second never happened
    os.replace(gram_dir, gram_dir + ".old")
    assert not os.path.isdir(gram_dir)

    # next batch recovers the store and still sees b0's occurrence —
    # the span is cut (store 1 + batch 1 >= 2), not spuriously kept
    got = run([(2, f"c {span} d")], "b1")
    assert got == {2: ("c d", L)}
    assert os.path.isdir(gram_dir) and not os.path.isdir(gram_dir + ".old")

    def totals():
        return {
            r["k"]: r["c"]
            for r in spark.read.parquet(gram_dir)
            .groupBy("k")
            .agg(F.sum("c").alias("c"))
            .collect()
        }

    want = totals()
    # compact_gram_store itself also recovers before compacting
    os.replace(gram_dir, gram_dir + ".old")
    # ...and ignores a stale grams.compact-tmp (junk counts) left by a
    # crash after an earlier compaction's tmp write, leaving no tmp dir
    stale = gram_dir + ".compact-tmp"
    spark.createDataFrame(
        [(1, 10**6, "junk")], "k long, c long, batch_key string"
    ).write.parquet(stale)
    n = compact_gram_store(spark, state)
    assert n > 0 and os.path.isdir(gram_dir)
    assert totals() == want
    assert not os.path.exists(stale)


def test_substring_dedup_stream_matches_prefix_and_replays(spark, tmp_path):
    """Streaming wrapper end-to-end: file-source batches rewrite against
    the maintained gram store with prefix-batch semantics; restarting
    the stream with no new input changes nothing (checkpointed,
    effectively-once)."""
    from visual_asset_management_system_spark.operators.corpus import (
        start_substring_dedup_stream,
    )

    L, C = 4, 2
    span = "s1 s2 s3 s4"
    batches = [
        [(1, f"Head {span} tail"), (2, "plain unique filler text")],
        [(3, f"{span} again here"), (4, f"and {span} once more")],
    ]
    docs_dir = str(tmp_path / "docs_in")
    os.makedirs(docs_dir)
    state = str(tmp_path / "state")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    for i, b in enumerate(batches):
        with open(os.path.join(docs_dir, f"b{i}.json"), "w") as f:
            for did, text in b:
                f.write(json.dumps({"doc_id": did, "text": text}) + "\n")
        q = start_substring_dedup_stream(
            spark, docs_dir, state, out, ckpt, min_len=L, min_count=C
        )
        q.awaitTermination(180)

    def sink_rows():
        return {
            r["doc_id"]: (r["text"], r["n_removed"])
            for r in spark.read.parquet(out).collect()
        }

    got = sink_rows()
    want = _substring_prefix_expect(spark, batches, 0, L, C)
    want.update(_substring_prefix_expect(spark, batches, 1, L, C))
    assert got == want
    # batch-1 doc kept its span; both batch-2 occurrences were cut
    assert got[1][1] == 0 and got[3][1] == L and got[4][1] == L

    # restart with no new files: a no-op, sink unchanged
    q = start_substring_dedup_stream(
        spark, docs_dir, state, out, ckpt, min_len=L, min_count=C
    )
    q.awaitTermination(180)
    assert sink_rows() == got


def test_corpus_index_update_out_of_order_rejects_either_side(spark, tmp_path):
    """A new doc that near-dups an ALREADY-STORED doc is rejected even
    when the new doc's id is smaller — the corpus never ends up with
    both members of a dup cluster regardless of arrival order."""
    from visual_asset_management_system_spark.operators.corpus import (
        corpus_index_update,
    )

    en = " ".join(
        f"the quick fox and the calm dog of field{i} walk there" for i in range(6)
    )
    en_near = " ".join(en.split()[:-5])
    state = str(tmp_path / "state")

    b1 = spark.createDataFrame([(10, en)], "doc_id long, text string")
    got1 = {r["doc_id"] for r in corpus_index_update(spark, state, b1).collect()}
    assert got1 == {10}

    # smaller id arrives later, near-dups the stored doc 10
    b2 = spark.createDataFrame([(5, en_near)], "doc_id long, text string")
    got2 = {r["doc_id"] for r in corpus_index_update(spark, state, b2).collect()}
    assert got2 == set(), "out-of-order near-dup must be rejected"


def test_corpus_index_update_replay_is_deterministic(spark, tmp_path):
    """Replaying a batch under the same batch_key after its state
    appends (the crash-between-state-and-checkpoint window) recomputes
    the identical accepted set instead of an empty one."""
    from visual_asset_management_system_spark.operators.corpus import (
        corpus_index_update,
    )

    en_a = " ".join(
        f"the quick fox and the calm dog of field{i} walk there" for i in range(6)
    )
    en_b = " ".join(
        f"a small bird and a tall tree of grove{i} stand here" for i in range(6)
    )
    state = str(tmp_path / "state")

    b0 = spark.createDataFrame([(1, en_a)], "doc_id long, text string")
    assert {r["doc_id"] for r in
            corpus_index_update(spark, state, b0, batch_key="b0").collect()} == {1}

    committed: list[set] = []
    b1 = spark.createDataFrame([(2, en_b)], "doc_id long, text string")

    def commit(accepted):
        committed.append({r["doc_id"] for r in accepted.collect()})

    first = corpus_index_update(
        spark, state, b1, batch_key="b1", commit=commit
    )
    assert {r["doc_id"] for r in first.collect()} == {2}
    # replay: state already holds b1's fingerprints/signatures
    replay = corpus_index_update(
        spark, state, b1, batch_key="b1", commit=commit
    )
    assert {r["doc_id"] for r in replay.collect()} == {2}
    assert committed == [{2}, {2}], "commit must see the same rows on replay"


def _corpus_text(topic: str) -> str:
    """An English document that passes the corpus lang/quality gate;
    distinct topics share no shingles."""
    return " ".join(
        f"the {topic} and the calm {topic}{i} of the field walk there"
        for i in range(6)
    )


def test_corpus_index_update_reads_stores_predating_batch_key(spark, tmp_path):
    """Both maintained stores are read with an explicit schema, so files
    written before the batch_key column existed read it as NULL: a
    store holding such files accepts exactly what a store whose files
    all carry the column accepts, across new batches and a replay (the
    replay excludes only its own rows, never the key-less ones)."""
    from visual_asset_management_system_spark.operators.corpus import (
        corpus_index_update,
    )

    a, b, c, d = (_corpus_text(t) for t in ("fox", "bird", "tree", "river"))
    b0 = [(1, a), (4, b)]
    b1 = [(2, a), (3, c)]  # 2: exact twin of stored doc 1
    near_b = " ".join(b.split()[:-5])
    b2 = [(5, near_b), (6, d)]  # 5: near-dup of stored doc 4

    def run(state, rows, key):
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = corpus_index_update(spark, state, df, batch_key=key)
        return sorted(r["doc_id"] for r in out.collect())

    tagged = str(tmp_path / "tagged")
    legacy = str(tmp_path / "legacy")
    assert run(tagged, b0, "b0") == [1, 4]
    # the legacy state holds the same b0 rows in files without batch_key
    for store in ("fingerprints", "signatures"):
        old = spark.read.parquet(os.path.join(tagged, store)).drop("batch_key")
        old.write.parquet(os.path.join(legacy, store))
    assert "batch_key" not in spark.read.parquet(
        os.path.join(legacy, "signatures")
    ).columns

    got = {
        state: [run(state, b1, "b1"), run(state, b2, "b2"), run(state, b2, "b2")]
        for state in (tagged, legacy)
    }
    assert got[legacy] == got[tagged] == [[3], [6], [6]]


def test_corpus_index_update_py4j_budget(spark, tmp_path, py4j_calls):
    """A warm batch through corpus_index_update stays within a fixed
    py4j round-trip budget: the data-independent wide expressions
    (MinHash aggregates, band explode, lang/quality gate) are built once
    per parameter set and call-site capture is off, so the driver cost
    of a batch does not grow with num_hashes or bands."""
    from visual_asset_management_system_spark.operators.corpus import (
        corpus_index_update,
    )

    state = str(tmp_path / "state")
    schema = "doc_id long, text string"
    topics = ["fox", "bird", "tree", "river", "stone", "cloud"]
    first = spark.createDataFrame(
        [(i, _corpus_text(t)) for i, t in enumerate(topics[:3])], schema
    )
    second = spark.createDataFrame(
        [(10 + i, _corpus_text(t)) for i, t in enumerate(topics[2:])], schema
    )
    corpus_index_update(spark, state, first, batch_key="b0")
    before = py4j_calls.n
    out = corpus_index_update(spark, state, second, batch_key="b1")
    calls = py4j_calls.n - before
    assert calls <= 3000, f"{calls} py4j round trips for a warm batch"
    assert sorted(r["doc_id"] for r in out.collect()) == [11, 12, 13]


def test_corpus_index_update_job_budget(spark, tmp_path, jobs_and_tasks):
    """A warm batch holding a near-dup of a stored doc and a near-dup
    pair within the batch starts at most 15 Spark jobs: candidates are
    verified on the band-join rows (one signature store scan), the
    rejects are marked and anti-joined in broadcast passes, and the
    verdict is materialized once, by the ``accepted`` checkpoint."""
    from visual_asset_management_system_spark.operators.corpus import (
        corpus_index_update,
    )

    state = str(tmp_path / "state")
    schema = "doc_id long, text string"
    corpus_index_update(
        spark,
        state,
        spark.createDataFrame(
            [(i, _corpus_text(t)) for i, t in enumerate(["fox", "bird", "tree"])],
            schema,
        ),
        batch_key="b0",
    )
    river = _corpus_text("river")
    batch = spark.createDataFrame(
        [
            (10, " ".join(_corpus_text("fox").split()[:-2])),  # store near-dup
            (11, river),
            (12, river + " again"),  # near-dup of 11 within the batch
            (13, _corpus_text("cloud")),
        ],
        schema,
    )
    out = {}
    jobs, _ = jobs_and_tasks(
        lambda: out.update(
            df=corpus_index_update(spark, state, batch, batch_key="b1")
        )
    )
    assert jobs <= 15, f"{jobs} Spark jobs for a warm batch"
    assert sorted(r["doc_id"] for r in out["df"].collect()) == [11, 13]


def test_corpus_index_update_evaluates_input_once(spark, tmp_path):
    """With both stores present, the batch's gate → fingerprint →
    first-wins window runs once over the input, not once per side of
    the store membership join: a counting UDF on the text column sees
    each input row exactly once."""
    from pyspark.sql.types import StringType

    from visual_asset_management_system_spark.operators.corpus import (
        corpus_index_update,
    )

    seen = spark.sparkContext.accumulator(0)

    def passthrough(text):
        seen.add(1)
        return text

    # nondeterministic: the optimizer may not copy the UDF into the
    # pushed-down gate filter, so the count is input evaluations only
    counted = F.udf(passthrough, StringType()).asNondeterministic()
    state = str(tmp_path / "state")
    topics = ["fox", "bird", "tree", "river", "stone"]
    rows = [(i, _corpus_text(t)) for i, t in enumerate(topics)]
    rows += [(10, rows[0][1]), (11, "!!!! ???? ####")]

    def batch(rs):
        return spark.createDataFrame(rs, "doc_id long, text string").select(
            "doc_id", counted("text").alias("text")
        )

    corpus_index_update(spark, state, batch(rows[:2]), batch_key="b0")
    before = seen.value
    out = corpus_index_update(spark, state, batch(rows), batch_key="b1")
    assert seen.value - before == len(rows)
    assert sorted(r["doc_id"] for r in out.collect()) == [2, 3, 4]


def test_suggest_index_incremental_equals_rebuild(spark, tmp_path):
    """The CDC-maintained suggest index equals a from-scratch build on
    the final live entities, through inserts, a rename (whose obsolete
    prefixes must refresh), and a delete; and replaying a batch is a
    no-op (idempotent partition rewrites + persisted affected-prefix
    manifest)."""
    from visual_asset_management_system_spark.operators.inverted_index import (
        build_suggest_index,
        suggest_index_update,
    )

    state = str(tmp_path / "suggest_state")
    schema = "database_id string, asset_id string, event_name string, asset_name string"

    def batch(rows, key):
        return suggest_index_update(
            spark, state, spark.createDataFrame(rows, schema), key
        )

    batch(
        [
            ("db", "a1", "INSERT", "red widget wheel"),
            ("db", "a2", "INSERT", "red rims"),
            ("db", "a3", "INSERT", "blue bolt"),
        ],
        "b1",
    )
    # rename: every 'widget'/'wheel' prefix must drop a2-era entries;
    # delete removes blue entirely
    batch(
        [
            ("db", "a1", "MODIFY", "red rocket"),
            ("db", "a3", "REMOVE", None),
        ],
        "b2",
    )

    live = spark.createDataFrame(
        [("db", "a1", "red rocket"), ("db", "a2", "red rims")],
        "database_id string, asset_id string, asset_name string",
    )
    expected = {
        tuple(r)
        for r in build_suggest_index(live, "asset_name").collect()
    }
    maintained = {
        tuple(r)
        for r in read_sink(spark, state + "/suggest")
        .select("prefix", "suggestion", "freq", "rank")
        .collect()
    }
    assert maintained == expected
    # obsolete prefixes are gone entirely
    prefixes = {row[0] for row in maintained}
    assert "w" not in prefixes and "b" not in prefixes

    # replay of the last batch (at-least-once delivery) changes nothing
    batch(
        [
            ("db", "a1", "MODIFY", "red rocket"),
            ("db", "a3", "REMOVE", None),
        ],
        "b2",
    )
    replayed = {
        tuple(r)
        for r in read_sink(spark, state + "/suggest")
        .select("prefix", "suggestion", "freq", "rank")
        .collect()
    }
    assert replayed == expected


def test_suggest_prefix_logs_stay_bounded_and_replay_serves_rebuild(
    spark, tmp_path
):
    """Each batch's affected-prefix log (``manifests/batch=<key>/``) is
    removed when the next batch starts, so three updates leave only the
    newest log; a replay of a completed batch, whose log is gone,
    recomputes its prefixes from the committed tokens and still serves
    what a rebuild over the live names serves."""
    from visual_asset_management_system_spark.operators.inverted_index import (
        build_suggest_index,
        suggest_index_update,
    )

    state = str(tmp_path / "s")
    schema = (
        "database_id string, asset_id string, event_name string, "
        "asset_name string"
    )
    batches = [
        ("b0", [("db", "a1", "INSERT", "red widget"),
                ("db", "a2", "INSERT", "blue wheel")]),
        ("b1", [("db", "a1", "MODIFY", "red rocket"),
                ("db", "a3", "INSERT", "rocket part")]),
        ("b2", [("db", "a2", "REMOVE", None)]),
    ]
    for key, rows in batches:
        suggest_index_update(spark, state, spark.createDataFrame(rows, schema), key)
    assert os.listdir(os.path.join(state, "manifests")) == ["batch=b2"]

    live = spark.createDataFrame(
        [("db", "a1", "red rocket"), ("db", "a3", "rocket part")],
        "database_id string, asset_id string, asset_name string",
    )
    expected = {tuple(r) for r in build_suggest_index(live, "asset_name").collect()}

    def served():
        return {
            tuple(r)
            for r in read_sink(spark, state + "/suggest")
            .select("prefix", "suggestion", "freq", "rank")
            .collect()
        }

    assert served() == expected
    key, rows = batches[1]  # its log went when b2 started
    suggest_index_update(spark, state, spark.createDataFrame(rows, schema), key)
    assert served() == expected
    assert os.listdir(os.path.join(state, "manifests")) == ["batch=b1"]


def test_suggest_sink_compaction(spark, tmp_path):
    """The suggest index's sink is the same partition-layout as the
    search tables, so compact_sink maintains it too: compaction must
    not change the served suggestions."""
    from visual_asset_management_system_spark.operators.inverted_index import (
        suggest_index_update,
    )
    from visual_asset_management_system_spark.streaming.cdc import compact_sink

    state = str(tmp_path / "s")
    schema = "database_id string, asset_id string, event_name string, asset_name string"
    for i in range(5):  # several batches -> several files per partition
        suggest_index_update(
            spark,
            state,
            spark.createDataFrame(
                [("db", f"a{i}", "INSERT", f"red part{i} widget")], schema
            ),
            f"b{i}",
        )
    before = {
        tuple(r)
        for r in read_sink(spark, state + "/suggest")
        .select("prefix", "suggestion", "freq", "rank")
        .collect()
    }
    compact_sink(spark, state + "/suggest", max_files_per_partition=1)
    after = {
        tuple(r)
        for r in read_sink(spark, state + "/suggest")
        .select("prefix", "suggestion", "freq", "rank")
        .collect()
    }
    assert after == before and before


def test_suggest_compaction_under_replay(spark, tmp_path):
    """Compaction interleaved with an at-least-once redelivery: after
    compact_sink rewrites BOTH suggest-store sinks (tokens + serving
    table), replaying the last batch — same batch_key, same changes —
    must be a no-op, and the state must still equal a from-scratch
    rebuild. Pins that compaction preserves everything replay depends
    on: the partition-rewrite layout and the persisted affected-prefix
    manifest (the exclude-the-replayed-batch discipline the gram-store
    compaction tests pin for substring dedup)."""
    from visual_asset_management_system_spark.operators.inverted_index import (
        build_suggest_index,
        suggest_index_update,
    )
    from visual_asset_management_system_spark.streaming.cdc import compact_sink

    state = str(tmp_path / "s")
    schema = (
        "database_id string, asset_id string, event_name string, "
        "asset_name string"
    )

    def batch(rows, key):
        return suggest_index_update(
            spark, state, spark.createDataFrame(rows, schema), key
        )

    for i in range(4):  # enough rewrites to crowd partitions
        batch([("db", f"a{i}", "INSERT", f"red gadget{i} widget")], f"b{i}")
    last = [("db", "a1", "MODIFY", "red rocket"), ("db", "a3", "REMOVE", None)]
    batch(last, "b_last")

    def served():
        return {
            tuple(r)
            for r in read_sink(spark, state + "/suggest")
            .select("prefix", "suggestion", "freq", "rank")
            .collect()
        }

    def tokens():
        return {
            tuple(r)
            for r in read_sink(spark, state + "/tokens")
            .select("database_id", "asset_id", "token", "cnt")
            .collect()
        }

    before_suggest, before_tokens = served(), tokens()
    # threshold 0 forces a rewrite of every populated partition — the
    # point is compaction RAN, not that the fixture produced small files
    assert compact_sink(spark, state + "/suggest", max_files_per_partition=0)
    compact_sink(spark, state + "/tokens", max_files_per_partition=0)
    assert served() == before_suggest and tokens() == before_tokens

    # the redelivery lands AFTER the maintenance job ran
    batch(last, "b_last")
    assert served() == before_suggest and tokens() == before_tokens

    live = spark.createDataFrame(
        [("db", "a0", "red gadget0 widget"), ("db", "a1", "red rocket"),
         ("db", "a2", "red gadget2 widget")],
        "database_id string, asset_id string, asset_name string",
    )
    expected = {
        tuple(r) for r in build_suggest_index(live, "asset_name").collect()
    }
    assert served() == expected


def test_percolate_sink_compaction_under_replay(spark, tmp_path):
    """compact_batch_sink coalesces each crowded ``batch=<id>``
    notification dir WITHOUT crossing batch boundaries, so a replayed
    micro-batch (overwrite of exactly its own partition) after
    compaction leaves the served notifications identical — folding rows
    across batch dirs would let them survive the replay rewrite and
    duplicate."""
    import os

    from visual_asset_management_system_spark.operators.inverted_index import (
        percolate,
    )
    from visual_asset_management_system_spark.streaming.cdc import (
        compact_batch_sink,
    )

    sink = str(tmp_path / "notify")
    pq = spark.createDataFrame(
        [("pq_a", "red", "widget", "and"), ("pq_b", "blue", "rocket", "or")],
        ["query_id", "term_a", "term_b", "mode"],
    )
    schema = (
        "database_id string, asset_id string, asset_name string, "
        "description string, seq bigint"
    )
    b0 = [("db", "a1", "red widget", "large", 1),
          ("db", "a2", "blue rocket", "plain", 2)]
    b1 = [("db", "a3", "red thing", "widget", 3)]

    def run(rows, batch_id):
        percolate(
            spark.createDataFrame(rows, schema),
            pq,
            ["database_id", "asset_id"],
            F.concat_ws(" ", F.col("asset_name"), F.col("description")),
        ).write.mode("overwrite").parquet(f"{sink}/batch={batch_id}")

    run(b0, 0)
    run(b1, 1)

    def notifications():
        return {
            (r["asset_id"], r["n_queries"], r["matched_queries"])
            for r in spark.read.parquet(sink).collect()
        }

    before = notifications()
    assert before
    compacted = compact_batch_sink(spark, sink, max_files_per_partition=0)
    assert compacted  # something was actually rewritten
    for d in compacted:  # one file per compacted batch dir
        files = [
            f
            for f in os.listdir(os.path.join(sink, d))
            if f.endswith(".parquet")
        ]
        assert len(files) == 1
    assert notifications() == before

    # at-least-once redelivery of batch 0 after the maintenance job
    run(b0, 0)
    assert notifications() == before
    # and compacting again after the replay is still lossless
    compact_batch_sink(spark, sink, max_files_per_partition=0)
    assert notifications() == before


def test_compact_batch_sink_crash_window_recovers(spark, tmp_path):
    """compact_batch_sink's swap is aside-then-promote; a crash between
    the renames leaves a batch dir's only copy in the .trash sibling.
    The next compaction run must RESTORE it before judging crowding —
    not read the sink without it (readers would silently drop that
    batch's notifications)."""
    import os

    from visual_asset_management_system_spark.streaming.cdc import (
        compact_batch_sink,
    )

    sink = str(tmp_path / "notify")
    for b, rows in [(0, [("a1", 2)]), (1, [("a2", 1)])]:
        spark.createDataFrame(
            rows, "asset_id string, n_queries int"
        ).write.mode("overwrite").parquet(f"{sink}/batch={b}")

    def contents():
        return {
            (r["asset_id"], r["n_queries"])
            for r in spark.read.parquet(sink).collect()
        }

    before = contents()
    # simulate the in-window crash: batch=0 moved aside, never promoted
    trash = sink + ".trash"
    os.makedirs(trash, exist_ok=True)
    os.replace(os.path.join(sink, "batch=0"), os.path.join(trash, "batch=0"))
    assert not os.path.isdir(os.path.join(sink, "batch=0"))

    compact_batch_sink(spark, sink, max_files_per_partition=0)
    assert os.path.isdir(os.path.join(sink, "batch=0"))
    assert not os.path.isdir(trash)
    assert contents() == before


def test_suggest_stream_two_microbatches(spark, tmp_path):
    """The streaming wrapper maintains the suggest index across
    micro-batches exactly like direct batch calls: insert then rename
    via two availableNow passes; the final table equals a from-scratch
    build on the live names."""
    import json
    import os

    from visual_asset_management_system_spark.operators.inverted_index import (
        build_suggest_index,
        start_suggest_stream,
    )

    changes_dir = str(tmp_path / "changes")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(changes_dir)

    def put(name, rows):
        with open(os.path.join(changes_dir, name), "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")

    put("b1.json", [
        {"database_id": "db", "asset_id": "a1", "event_name": "INSERT",
         "asset_name": "red widget", "seq": 1},
        {"database_id": "db", "asset_id": "a2", "event_name": "INSERT",
         "asset_name": "red rims", "seq": 2},
    ])
    q = start_suggest_stream(spark, changes_dir, state, ckpt)
    q.awaitTermination(120)

    put("b2.json", [
        {"database_id": "db", "asset_id": "a1", "event_name": "MODIFY",
         "asset_name": "blue rocket", "seq": 3},
    ])
    q = start_suggest_stream(spark, changes_dir, state, ckpt)
    q.awaitTermination(120)

    live = spark.createDataFrame(
        [("db", "a1", "blue rocket"), ("db", "a2", "red rims")],
        "database_id string, asset_id string, asset_name string",
    )
    expected = {
        tuple(r) for r in build_suggest_index(live, "asset_name").collect()
    }
    got = {
        tuple(r)
        for r in read_sink(spark, state + "/suggest")
        .select("prefix", "suggestion", "freq", "rank")
        .collect()
    }
    assert got == expected
    assert "w" not in {row[0] for row in got}  # 'widget' prefixes refreshed


def test_suggest_update_crash_between_sinks_recovers(spark, tmp_path, monkeypatch):
    """The docstring's crash-ordering claim, exercised literally: a
    crash AFTER the suggest-table rewrite but BEFORE the token-store
    rewrite (the worst ordering — the store still shows the old name)
    must leave a replay that converges to the from-scratch build,
    because the replay reuses the persisted affected-prefix manifest
    and derives the post-batch token relation functionally."""
    from visual_asset_management_system_spark.operators import inverted_index as ii
    from visual_asset_management_system_spark.streaming import cdc

    state = str(tmp_path / "s")
    schema = (
        "database_id string, asset_id string, event_name string,"
        " asset_name string"
    )

    def run(rows, key):
        return ii.suggest_index_update(
            spark, state, spark.createDataFrame(rows, schema), key
        )

    run([("db", "a1", "INSERT", "red widget")], "b1")

    # crash injection: let the FIRST apply_cdc_batch (suggest sink)
    # succeed, kill the second (token store)
    real = cdc.apply_cdc_batch
    calls = {"n": 0}

    def flaky(*a, **k):
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("injected crash before token-store rewrite")
        return real(*a, **k)

    monkeypatch.setattr(cdc, "apply_cdc_batch", flaky)
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="injected crash"):
        run([("db", "a1", "MODIFY", "blue rocket")], "b2")
    monkeypatch.setattr(cdc, "apply_cdc_batch", real)

    # at-least-once replay of the same batch
    run([("db", "a1", "MODIFY", "blue rocket")], "b2")

    live = spark.createDataFrame(
        [("db", "a1", "blue rocket")],
        "database_id string, asset_id string, asset_name string",
    )
    expected = {
        tuple(r)
        for r in ii.build_suggest_index(live, "asset_name").collect()
    }
    got = {
        tuple(r)
        for r in read_sink(spark, state + "/suggest")
        .select("prefix", "suggestion", "freq", "rank")
        .collect()
    }
    assert got == expected
    assert "r" in {row[0] for row in got} and "w" not in {row[0] for row in got}


def test_suggest_tokens_commit_crash_replay_serves_rebuild(
    spark, tmp_path, monkeypatch
):
    """A crash right after the first rename of the ``tokens/`` sink's
    commit, then the replay of the same batch: the served table equals
    build_suggest_index on the live names. The replay's suggest
    recompute reads the token store's committed snapshot, so no entity
    of a touched partition goes missing from the re-ranked
    frequencies. (A crash before the token-store commit is
    test_suggest_update_crash_between_sinks_recovers.)"""
    from visual_asset_management_system_spark.operators.inverted_index import (
        build_suggest_index,
        suggest_index_update,
    )

    state = str(tmp_path / "s")
    tokens_dir = os.path.join(state, "tokens")
    schema = (
        "database_id string, asset_id string, event_name string, "
        "asset_name string"
    )
    names = {
        f"a{i}": f"{('part', 'pane', 'park', 'pad')[i % 4]} item{i % 50}"
        for i in range(400)
    }

    def run(rows, key):
        suggest_index_update(
            spark, state, spark.createDataFrame(rows, schema), key
        )

    run([("db", a, "INSERT", n) for a, n in names.items()], "b0")
    change = {f"a{i}": f"pact item{i}" for i in (3, 101, 202, 303)}

    real = os.replace
    armed = {"on": True}

    def crashing_replace(src, dst, *a, **k):
        out = real(src, dst, *a, **k)
        if armed["on"] and str(src).startswith(tokens_dir):
            armed["on"] = False
            raise RuntimeError("injected crash in the tokens/ commit")
        return out

    rows = [("db", a, "MODIFY", n) for a, n in change.items()]
    with monkeypatch.context() as m:
        m.setattr(os, "replace", crashing_replace)
        with pytest.raises(RuntimeError, match="injected crash"):
            run(rows, "b1")
    run(rows, "b1")  # the at-least-once replay

    names.update(change)
    live = spark.createDataFrame(
        [("db", a, n) for a, n in names.items()],
        "database_id string, asset_id string, asset_name string",
    )
    expected = {
        tuple(r) for r in build_suggest_index(live, "asset_name").collect()
    }
    served = {
        tuple(r)
        for r in read_sink(spark, state + "/suggest")
        .select("prefix", "suggestion", "freq", "rank")
        .collect()
    }
    assert served == expected


def test_percolate_stream_matches_batch_and_replays_idempotently(
    spark, tmp_path
):
    """Streaming percolation over two micro-batches equals one batch
    percolate over the union of changes (stateless operator), and a
    re-delivered batch rewrites its own partition instead of appending
    duplicates (overwrite-by-batch sink contract)."""
    import json
    import os

    from visual_asset_management_system_spark.operators.inverted_index import (
        percolate,
        start_percolate_stream,
    )
    from pyspark.sql import functions as F

    changes_dir = str(tmp_path / "changes")
    sink = str(tmp_path / "notify")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(changes_dir)
    pq = spark.createDataFrame(
        [("pq_a", "red", "widget", "and"), ("pq_b", "blue", "rocket", "or")],
        ["query_id", "term_a", "term_b", "mode"],
    )

    def put(name, rows):
        with open(os.path.join(changes_dir, name), "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")

    b1 = [
        {"database_id": "db", "asset_id": "a1",
         "asset_name": "red widget", "description": "large", "seq": 1},
        {"database_id": "db", "asset_id": "a2",
         "asset_name": "green anvil", "description": "plain", "seq": 2},
    ]
    b2 = [
        {"database_id": "db", "asset_id": "a3",
         "asset_name": "blue rocket", "description": "red widget", "seq": 3},
    ]
    put("b1.json", b1)
    q = start_percolate_stream(spark, changes_dir, pq, sink, ckpt)
    q.awaitTermination(120)
    put("b2.json", b2)
    q = start_percolate_stream(spark, changes_dir, pq, sink, ckpt)
    q.awaitTermination(120)

    got = {
        (r["asset_id"], r["n_queries"], r["matched_queries"])
        for r in spark.read.parquet(sink).collect()
    }
    all_changes = spark.createDataFrame(
        b1 + b2,
        "database_id string, asset_id string, asset_name string, "
        "description string, seq bigint",
    )
    expected = {
        (r["asset_id"], r["n_queries"], r["matched_queries"])
        for r in percolate(
            all_changes, pq, ["database_id", "asset_id"],
            F.concat_ws(" ", F.col("asset_name"), F.col("description")),
        ).collect()
    }
    assert got == expected
    assert ("a2",) not in {(g[0],) for g in got}  # non-matching doc absent

    # replay: re-running batch 1's work against the same sink partition
    # (the at-least-once case) leaves the sink unchanged
    before = got
    b1_df = spark.createDataFrame(
        b1,
        "database_id string, asset_id string, asset_name string, "
        "description string, seq bigint",
    )
    percolate(
        b1_df, pq, ["database_id", "asset_id"],
        F.concat_ws(" ", F.col("asset_name"), F.col("description")),
    ).write.mode("overwrite").parquet(sink + "/batch=0")
    after = {
        (r["asset_id"], r["n_queries"], r["matched_queries"])
        for r in spark.read.parquet(sink).collect()
    }
    assert after == before


def test_trending_stream_ranks_each_closed_window(spark, tmp_path):
    """Streaming trending: tumbling hourly counts close under the
    watermark; each closed window ranks its types by growth against the
    PREVIOUS window's counts from the maintained store. Two availableNow
    runs: run 1 closes hour 10 (no predecessor -> counts only), run 2
    closes hour 11 and ranks it against hour 10."""
    from visual_asset_management_system_spark.streaming.windows import (
        start_trending_stream,
    )

    src = str(tmp_path / "events")
    sink = str(tmp_path / "trend")
    ckpt = str(tmp_path / "trendckpt")

    # hour 10: a=2, b=3, c=1; the 11:40 event (hour 11) advances the
    # watermark to 11:10 and closes hour 10 in run 1's flush batch
    _write_events(
        src,
        [
            _ev(1, 1, "a", 1.0, "2024-01-01T10:05:00Z"),
            _ev(2, 1, "a", 1.0, "2024-01-01T10:10:00Z"),
            _ev(3, 1, "b", 1.0, "2024-01-01T10:15:00Z"),
            _ev(4, 1, "b", 1.0, "2024-01-01T10:20:00Z"),
            _ev(5, 1, "b", 1.0, "2024-01-01T10:25:00Z"),
            _ev(6, 1, "c", 1.0, "2024-01-01T10:50:00Z"),
            _ev(7, 1, "a", 1.0, "2024-01-01T11:40:00Z"),
        ],
    )
    q = start_trending_stream(
        spark, src, sink, ckpt, window="1 hour", k=2, min_prev=1
    )
    q.awaitTermination(120)

    # hour 11 completes: a=4 (one from run 1), b=1, c=3 — all at/after
    # the 11:10 watermark so none is late; 12:50 closes hour 11 in run 2
    _write_events(
        src,
        [
            _ev(8, 1, "a", 1.0, "2024-01-01T11:15:00Z"),
            _ev(9, 1, "a", 1.0, "2024-01-01T11:20:00Z"),
            _ev(10, 1, "a", 1.0, "2024-01-01T11:25:00Z"),
            _ev(11, 1, "b", 1.0, "2024-01-01T11:30:00Z"),
            _ev(12, 1, "c", 1.0, "2024-01-01T11:35:00Z"),
            _ev(13, 1, "c", 1.0, "2024-01-01T11:45:00Z"),
            _ev(14, 1, "c", 1.0, "2024-01-01T11:55:00Z"),
            _ev(15, 1, "d", 1.0, "2024-01-01T12:50:00Z"),
        ],
    )
    q = start_trending_stream(
        spark, src, sink, ckpt, window="1 hour", k=2, min_prev=1
    )
    q.awaitTermination(120)

    counts = {
        (r["window_start"].isoformat(), r["event_type"], r["n_events"])
        for r in read_sink(spark, sink + "/counts").collect()
    }
    assert ("2024-01-01T10:00:00", "b", 3) in counts
    assert ("2024-01-01T11:00:00", "a", 4) in counts

    trending = [
        (r["event_type"], r["growth"], r["rnk"])
        for r in spark.read.parquet(sink + "/trending")
        .filter(F.col("window_start") == "2024-01-01T11:00:00")
        .orderBy("rnk")
        .collect()
    ]
    # growth vs hour 10: c = (3-1)/1 = 2.0, a = (4-2)/2 = 1.0,
    # b = (1-3)/3 (cut by k=2)
    assert trending == [("c", 2.0, 1), ("a", 1.0, 2)]
    # hour 10 had no predecessor -> never ranked
    assert (
        spark.read.parquet(sink + "/trending")
        .filter(F.col("window_start") == "2024-01-01T10:00:00")
        .count()
        == 0
    )


def test_detect_sequences_streaming_matches_model(spark, tmp_path):
    """CEP funnel detection across two micro-batches equals a
    pure-Python run of the declared automaton over the full ordered
    event list: completion spanning batches, window-expiry reset with
    the resetting event re-tried as a fresh start, wrong-order
    non-completion, and non-overlapping second matches."""
    from visual_asset_management_system_spark.streaming.driver import (
        run_stream_to_parquet,
    )
    from visual_asset_management_system_spark.streaming.windows import (
        detect_sequences,
        read_events_stream,
    )

    src = str(tmp_path / "events")
    sink = str(tmp_path / "seqsink")
    ckpt = str(tmp_path / "seqckpt")

    b1 = [
        # user 1: view+click in batch 1, purchase arrives in batch 2
        _ev(1, 1, "view", 1.0, "2024-01-01T10:00:00Z"),
        _ev(2, 1, "click", 1.0, "2024-01-01T10:10:00Z"),
        # user 2: view, then nothing for > window
        _ev(3, 2, "view", 1.0, "2024-01-01T10:00:00Z"),
        # user 3: wrong order — click before any view
        _ev(4, 3, "click", 1.0, "2024-01-01T10:00:00Z"),
        _ev(5, 3, "purchase", 1.0, "2024-01-01T10:05:00Z"),
    ]
    b2 = [
        _ev(6, 1, "purchase", 1.0, "2024-01-01T10:30:00Z"),
        # user 1 second (non-overlapping) run, completed in one batch
        _ev(7, 1, "view", 1.0, "2024-01-01T11:00:00Z"),
        _ev(8, 1, "click", 1.0, "2024-01-01T11:05:00Z"),
        _ev(9, 1, "purchase", 1.0, "2024-01-01T11:06:00Z"),
        # user 2: click lands past the 1h window from the 10:00 view —
        # resets; then a fresh full run completes
        _ev(10, 2, "click", 1.0, "2024-01-01T11:30:00Z"),
        _ev(11, 2, "view", 1.0, "2024-01-01T11:40:00Z"),
        _ev(12, 2, "click", 1.0, "2024-01-01T11:45:00Z"),
        _ev(13, 2, "purchase", 1.0, "2024-01-01T11:50:00Z"),
    ]

    _write_events(src, b1)
    q = run_stream_to_parquet(
        detect_sequences(read_events_stream(spark, src)), sink, ckpt
    )
    q.awaitTermination(120)
    _write_events(src, b2)
    q = run_stream_to_parquet(
        detect_sequences(read_events_stream(spark, src)), sink, ckpt
    )
    q.awaitTermination(120)

    got = {
        (r["user_id"], r["start_ts"].isoformat(), r["end_ts"].isoformat())
        for r in spark.read.parquet(sink).collect()
    }

    # pure-Python model over the full per-user event-time-ordered list
    import datetime as dt

    pattern = ("view", "click", "purchase")
    events_by_user: dict = {}
    for e in b1 + b2:
        ts = dt.datetime.fromisoformat(e["ts"].replace("Z", "+00:00")).timestamp()
        events_by_user.setdefault(e["user_id"], []).append((ts, e["event_type"]))
    expect = set()
    for uid, evs in events_by_user.items():
        evs.sort()
        partial: list = []
        for ts, etype in evs:
            if partial and ts - partial[0] > 3600.0:
                partial = []
            k = len(partial)
            if etype == pattern[k] and (k == 0 or ts > partial[-1]):
                partial.append(ts)
                if len(partial) == 3:
                    expect.add(
                        (
                            uid,
                            dt.datetime.fromtimestamp(
                                partial[0], dt.timezone.utc
                            ).replace(tzinfo=None).isoformat(),
                            dt.datetime.fromtimestamp(
                                partial[-1], dt.timezone.utc
                            ).replace(tzinfo=None).isoformat(),
                        )
                    )
                    partial = []
    assert got == expect
    # the cross-batch completion and both fresh runs are all present
    assert (1, "2024-01-01T10:00:00", "2024-01-01T10:30:00") in got
    assert (1, "2024-01-01T11:00:00", "2024-01-01T11:06:00") in got
    assert (2, "2024-01-01T11:40:00", "2024-01-01T11:50:00") in got
    # wrong-order user never matches
    assert not any(u == 3 for u, _, _ in got)


def test_detect_sequences_state_expires_after_window(spark, tmp_path):
    """CEP state TTL: a user who emits the first stage and never
    converts must NOT hold partial-match state forever. The operator
    runs under EventTimeTimeout — once the watermark passes
    first_stage + within_s the partial is dropped (no output), verified
    by reading the checkpoint's state store directly. Round-6 verdict
    item: the one maintained-state operator without an expiry story."""
    from visual_asset_management_system_spark.streaming.driver import (
        run_stream_to_parquet,
    )
    from visual_asset_management_system_spark.streaming.windows import (
        detect_sequences,
        read_events_stream,
    )

    src = str(tmp_path / "events")
    sink = str(tmp_path / "seqsink")
    ckpt = str(tmp_path / "seqckpt")

    def run_batch(rows):
        _write_events(src, rows)
        q = run_stream_to_parquet(
            detect_sequences(read_events_stream(spark, src)), sink, ckpt
        )
        q.awaitTermination(120)

    def state_users():
        return {
            r["key"]["user_id"]
            for r in spark.read.format("statestore").load(ckpt).collect()
        }

    # batch 1: two never-converting partials (user 1 view+click,
    # user 2 view) — both enter state
    run_batch(
        [
            _ev(1, 1, "view", 1.0, "2024-01-01T10:00:00Z"),
            _ev(2, 1, "click", 1.0, "2024-01-01T10:10:00Z"),
            _ev(3, 2, "view", 1.0, "2024-01-01T10:00:00Z"),
        ]
    )
    assert state_users() == {1, 2}

    # batch 2: an unrelated user far in the future advances the
    # watermark past 10:00 + 1h (wm becomes 13:00 - 30m = 12:30); the
    # trailing no-data micro-batch of the availableNow run then
    # processes timeouts against the advanced watermark — users 1 and 2
    # (expiry 11:00) are REMOVED, user 9's fresh partial (expiry 14:00)
    # survives
    run_batch([_ev(4, 9, "view", 1.0, "2024-01-01T13:00:00Z")])
    assert state_users() == {9}

    # expiry produced no spurious matches
    assert spark.read.parquet(sink).count() == 0


def test_detect_sequences_exact_boundary_completes(spark, tmp_path):
    """Boundary contract at ts == first_stage + within_s: the match
    condition admits it (reset uses strict >), so the eager-expiry
    check must use strict < against the ms watermark — an <= check
    drops the partial one batch early. The miss window is real only
    for sub-ms event times (deadline_ms FLOORS first+within, so a
    boundary completer at .000500 still passes Spark's late filter
    while deadline_ms == wm_ms) — exactly the round-7 advisory's
    us-vs-ms comparison mismatch."""
    from visual_asset_management_system_spark.streaming.driver import (
        run_stream_to_parquet,
    )
    from visual_asset_management_system_spark.streaming.windows import (
        detect_sequences,
        read_events_stream,
    )

    src = str(tmp_path / "events")
    sink = str(tmp_path / "seqsink")
    ckpt = str(tmp_path / "seqckpt")

    def run_batch(rows):
        _write_events(src, rows)
        q = run_stream_to_parquet(
            detect_sequences(
                read_events_stream(spark, src), pattern=("view", "click")
            ),
            sink,
            ckpt,
        )
        q.awaitTermination(120)

    # batch 1: partial opens at 10:00:00.000500 → deadline_us
    # 11:00:00.000500, deadline_ms FLOORS to 11:00:00.000
    run_batch([_ev(1, 1, "view", 1.0, "2024-01-01T10:00:00.000500Z")])
    # batch 2: another user pins the watermark to exactly deadline_ms
    # (11:30 event - 30m delay = 11:00:00.000)
    run_batch([_ev(2, 9, "view", 1.0, "2024-01-01T11:30:00Z")])
    # batch 3: a non-matching on-time event (ts > wm by 400us) invokes
    # fn for user 1 while wm_ms == deadline_ms — an <= eager check
    # would drop the partial here
    run_batch([_ev(3, 1, "purchase", 1.0, "2024-01-01T11:00:00.000400Z")])
    # batch 4: the completer lands at exactly first + within_s — on
    # time (500us past the watermark) and admissible (reset is
    # strict >)
    run_batch([_ev(4, 1, "click", 1.0, "2024-01-01T11:00:00.000500Z")])

    got = {
        (r["user_id"], r["start_ts"].isoformat(), r["end_ts"].isoformat())
        for r in spark.read.parquet(sink).collect()
    }
    assert (
        1,
        "2024-01-01T10:00:00.000500",
        "2024-01-01T11:00:00.000500",
    ) in got


# ---------------------------------------------------------------------------
# manifest commit: immutable data dirs + atomic single-file publish
# ---------------------------------------------------------------------------

_CDC_SCHEMA = (
    "seq long, event_name string, source string, database_id string, "
    "asset_id string, new_image string, event_time timestamp"
)


def _sink_rows(spark, sink, mode):
    from visual_asset_management_system_spark.streaming.cdc import read_sink

    df = read_sink(spark, sink, mode)
    return (
        {}
        if df is None
        else {r["asset_id"]: r["doc"] for r in df.collect()}
    )


@pytest.mark.parametrize("mode", ["manifest"])
def test_cdc_upsert_remove_both_commit_modes(spark, tmp_path, mode):
    """The merge semantics (upsert, idempotent re-upsert, REMOVE,
    REMOVE-empties-partition) through the manifest commit, read back
    with ``read_sink(..., mode)`` as existing callers pass it."""
    sink = str(tmp_path / f"sink_{mode}")
    recompute = _recompute_factory(spark)

    batch1 = spark.createDataFrame(
        [
            (1, "INSERT", "assets", "db_1", "asset_1", None, None),
            (2, "INSERT", "assets", "db_1", "asset_2", None, None),
        ],
        _CDC_SCHEMA,
    )
    apply_cdc_batch(batch1, recompute, sink)
    assert set(_sink_rows(spark, sink, mode)) == {"asset_1", "asset_2"}

    batch2 = spark.createDataFrame(
        [
            (3, "MODIFY", "assets", "db_1", "asset_1", None, None),
            (4, "REMOVE", "assets", "db_1", "asset_2", None, None),
            (5, "INSERT", "assets", "db_1", "asset_3", None, None),
        ],
        _CDC_SCHEMA,
    )
    apply_cdc_batch(batch2, recompute, sink)
    rows = _sink_rows(spark, sink, mode)
    assert set(rows) == {"asset_1", "asset_3"}
    assert rows["asset_1"] == "NAME 1"

    # REMOVE everything: the sink must read back empty, not stale
    batch3 = spark.createDataFrame(
        [
            (6, "REMOVE", "assets", "db_1", "asset_1", None, None),
            (7, "REMOVE", "assets", "db_1", "asset_3", None, None),
        ],
        _CDC_SCHEMA,
    )
    apply_cdc_batch(batch3, recompute, sink)
    assert _sink_rows(spark, sink, mode) == {}


def test_manifest_merge_leaves_untouched_dirs_immutable(spark, tmp_path):
    """The manifest commit never rewrites or renames a committed data dir: a
    merge touching one partition republishes ONLY that partition's
    manifest entry; every other entry still points at the original
    directory, byte-identical."""
    from visual_asset_management_system_spark.streaming.cdc import (
        _load_manifest,
        _partition_of,
    )

    sink = str(tmp_path / "man_sink")
    recompute = _recompute_factory(spark)
    batch1 = spark.createDataFrame(
        [(i, "INSERT", "assets", "db_1", f"asset_{i}", None, None) for i in range(20)],
        _CDC_SCHEMA,
    )
    apply_cdc_batch(batch1, recompute, sink, )
    man_before = _load_manifest(sink)
    sig_before = {
        p: sorted(os.listdir(os.path.join(sink, rel)))
        for p, rel in man_before.items()
    }

    batch2 = spark.createDataFrame(
        [(100, "MODIFY", "assets", "db_1", "asset_3", None, None)], _CDC_SCHEMA
    )
    apply_cdc_batch(batch2, recompute, sink, )
    man_after = _load_manifest(sink)

    (touched,) = {
        r["_part"]
        for r in _partition_of(
            batch2.select("database_id", "asset_id"), ["database_id", "asset_id"]
        ).collect()
    }
    assert man_after[touched] != man_before[touched]
    for p, rel in man_before.items():
        if p != touched:
            assert man_after[p] == rel
            assert sorted(os.listdir(os.path.join(sink, rel))) == sig_before[p]
    assert set(_sink_rows(spark, sink, "manifest")) == {
        f"asset_{i}" for i in range(20)
    }


def test_manifest_crash_before_commit_keeps_old_snapshot(spark, tmp_path, monkeypatch):
    """The manifest IS the commit point: a crash after the data write
    but before the manifest publish leaves readers on the old complete
    snapshot (no partial state is ever visible), the at-least-once
    replay heals the sink, and the orphaned version directory is
    vacuumed by the next merge."""
    from visual_asset_management_system_spark.streaming import cdc

    sink = str(tmp_path / "crash_sink")
    recompute = _recompute_factory(spark)
    batch1 = spark.createDataFrame(
        [(1, "INSERT", "assets", "db_1", "asset_1", None, None)], _CDC_SCHEMA
    )
    apply_cdc_batch(batch1, recompute, sink, )
    before = _sink_rows(spark, sink, "manifest")

    real_commit = cdc._commit_manifest

    def crash(*a, **k):
        raise RuntimeError("simulated crash before manifest publish")

    monkeypatch.setattr(cdc, "_commit_manifest", crash)
    batch2 = spark.createDataFrame(
        [(2, "INSERT", "assets", "db_1", "asset_2", None, None)], _CDC_SCHEMA
    )
    with pytest.raises(RuntimeError):
        apply_cdc_batch(batch2, recompute, sink, )

    # reader still sees the OLD complete snapshot
    assert _sink_rows(spark, sink, "manifest") == before
    # ...and an orphan version dir exists (data written, never referenced)
    data_root = os.path.join(sink, "data")
    assert len(os.listdir(data_root)) == 2

    # replay with the crash healed: correct final state, orphan removed
    monkeypatch.setattr(cdc, "_commit_manifest", real_commit)
    apply_cdc_batch(batch2, recompute, sink, )
    assert set(_sink_rows(spark, sink, "manifest")) == {"asset_1", "asset_2"}
    from visual_asset_management_system_spark.streaming.cdc import _load_manifest

    referenced = {rel.split("/")[1] for rel in _load_manifest(sink).values()}
    assert set(os.listdir(data_root)) == referenced


def test_manifest_reader_during_commit_sees_old_snapshot(spark, tmp_path, monkeypatch):
    """Concurrent-reader interleaving (round-7 verdict item 8): a
    reader that resolves the sink BETWEEN the new version's data-dir
    write and the manifest rename must see the OLD complete snapshot —
    never a mix, never the half-published new version. Interleave
    deterministically by wrapping _commit_manifest: at call time the
    data dirs are fully written, the manifest is not yet flipped."""
    from visual_asset_management_system_spark.streaming import cdc

    sink = str(tmp_path / "interleave_sink")
    recompute = _recompute_factory(spark)
    batch1 = spark.createDataFrame(
        [
            (1, "INSERT", "assets", "db_1", "asset_1", None, None),
            (2, "INSERT", "assets", "db_1", "asset_2", None, None),
        ],
        _CDC_SCHEMA,
    )
    apply_cdc_batch(batch1, recompute, sink, )
    before = _sink_rows(spark, sink, "manifest")
    assert set(before) == {"asset_1", "asset_2"}

    real_commit = cdc._commit_manifest
    seen_during_commit = {}

    def commit_with_reader(sink_dir, parts):
        # the interleaved reader: new data dirs exist on disk, the
        # manifest still points at the previous version set
        seen_during_commit["rows"] = _sink_rows(spark, sink, "manifest")
        seen_during_commit["versions"] = sorted(
            os.listdir(os.path.join(sink, "data"))
        )
        real_commit(sink_dir, parts)

    monkeypatch.setattr(cdc, "_commit_manifest", commit_with_reader)
    batch2 = spark.createDataFrame(
        [
            (3, "MODIFY", "assets", "db_1", "asset_1", None, None),
            (4, "REMOVE", "assets", "db_1", "asset_2", None, None),
        ],
        _CDC_SCHEMA,
    )
    apply_cdc_batch(batch2, recompute, sink, )

    # mid-commit reader saw the OLD snapshot exactly, even though the
    # new version directory was already fully written beside it
    assert seen_during_commit["rows"] == before
    assert len(seen_during_commit["versions"]) == 2
    # post-commit readers see the new state
    after = _sink_rows(spark, sink, "manifest")
    assert set(after) == {"asset_1"} and after["asset_1"] == "NAME 1"


def test_manifest_compact_sink_rewrites_crowded_partitions(spark, tmp_path):
    """compact_sink (``commit_mode="manifest"`` as perfbench passes
    it): crowded partitions are rewritten into a fresh single-file
    version dir and repointed; the content is unchanged and old dirs
    become vacuumable."""
    from visual_asset_management_system_spark.streaming.cdc import (
        _load_manifest,
        compact_sink,
    )

    sink = str(tmp_path / "compact_man")
    recompute = _recompute_factory(spark)
    # many single-asset merges pile files into the same partitions
    for i in range(4):
        b = spark.createDataFrame(
            [(i, "INSERT", "assets", "db_1", f"asset_{i}", None, None)],
            _CDC_SCHEMA,
        )
        apply_cdc_batch(b, recompute, sink, )
    before = _sink_rows(spark, sink, "manifest")

    compacted = compact_sink(
        spark, sink, max_files_per_partition=0, commit_mode="manifest"
    )
    assert compacted  # something was crowded
    man = _load_manifest(sink)
    for p in compacted:
        d = os.path.join(sink, man[p])
        assert (
            sum(1 for f in os.listdir(d) if f.endswith(".parquet")) == 1
        )
    assert _sink_rows(spark, sink, "manifest") == before


def test_commit_mode_accepts_only_manifest(spark, tmp_path):
    """``commit_mode`` remains only where existing callers pass it, and
    names the one protocol: any other value is refused before any
    sink is touched."""
    from visual_asset_management_system_spark.streaming.cdc import compact_sink

    sink = str(tmp_path / "sink")
    with pytest.raises(ValueError, match="manifest"):
        read_sink(spark, sink, "rename")
    with pytest.raises(ValueError, match="manifest"):
        compact_sink(spark, sink, commit_mode="rename")
    with pytest.raises(ValueError, match="manifest"):
        apply_routed_cdc_batch(spark.range(1), {}, {}, commit_mode="rename")
    assert not os.path.exists(sink)


def test_routed_null_path_expansion_manifest_mode(spark, tmp_path):
    """The NULL-path file-event expansion resolves the file sink through
    the manifest reader: a NULL-path MODIFY re-indexes the asset's known
    files and a NULL-path REMOVE deletes them (``commit_mode="manifest"``
    passed as perfbench passes it)."""
    from visual_asset_management_system_spark.streaming.cdc import (
        ROUTED_CHANGE_LOG_SCHEMA,
        apply_routed_cdc_batch,
        read_sink,
    )

    file_sink = str(tmp_path / "files_man")
    versions = {("db_1", "a1"): ["/f/one.glb", "/f/two.glb"]}

    def recompute(keys):
        rows = [
            (db, a, p, f"{db}/{a}{p}")
            for (db, a), paths in versions.items()
            for p in paths
        ]
        return spark.createDataFrame(
            rows,
            "database_id string, asset_id string, file_path string, doc string",
        ).join(keys, ["database_id", "asset_id", "file_path"], "left_semi")

    def routed_row(seq, name, db, a, path):
        return (seq, name, "files", db, a, None, None, path, None, None)

    seed = spark.createDataFrame(
        [
            routed_row(1, "INSERT", "db_1", "a1", "/f/one.glb"),
            routed_row(2, "INSERT", "db_1", "a1", "/f/two.glb"),
        ],
        ROUTED_CHANGE_LOG_SCHEMA,
    )
    apply_routed_cdc_batch(
        seed, {"file": recompute}, {"file": file_sink}, commit_mode="manifest"
    )
    assert {
        r["file_path"]
        for r in read_sink(spark, file_sink, "manifest").collect()
    } == {"/f/one.glb", "/f/two.glb"}

    # NULL-path REMOVE: every known file of the asset is deleted
    rm = spark.createDataFrame(
        [routed_row(3, "REMOVE", "db_1", "a1", None)], ROUTED_CHANGE_LOG_SCHEMA
    )
    apply_routed_cdc_batch(
        rm, {"file": recompute}, {"file": file_sink}, commit_mode="manifest"
    )
    assert read_sink(spark, file_sink, "manifest") is None


def test_trending_counts_store_prunes_and_compacts(spark, tmp_path):
    """The trending counts store is a maintained CDC merge sink, not an
    append-forever pile of ``batch=<id>`` partitions: windows older
    than the retain horizon are REMOVEd as later windows close, and
    compact_sink keeps per-partition file counts bounded across many
    merges — the store stays retain-horizon-sized for an unbounded
    stream."""
    from visual_asset_management_system_spark.streaming.cdc import (
        compact_sink,
        read_sink,
    )
    from visual_asset_management_system_spark.streaming.windows import (
        start_trending_stream,
    )

    src = str(tmp_path / "events")
    sink = str(tmp_path / "trendp")
    ckpt = str(tmp_path / "trendpckpt")

    def run(rows):
        _write_events(src, rows)
        q = start_trending_stream(
            spark, src, sink, ckpt, window="1 hour", k=2, min_prev=1,
            retain_windows=2,
        )
        q.awaitTermination(120)

    # four runs, each closing one more hourly window (the trailing event
    # advances the watermark past the previous hour's end)
    run([_ev(1, 1, "a", 1.0, "2024-01-01T10:05:00Z"),
         _ev(2, 1, "a", 1.0, "2024-01-01T11:40:00Z")])
    run([_ev(3, 1, "a", 1.0, "2024-01-01T12:40:00Z")])
    run([_ev(4, 1, "a", 1.0, "2024-01-01T13:40:00Z")])
    run([_ev(5, 1, "a", 1.0, "2024-01-01T14:40:00Z")])

    store = read_sink(spark, sink + "/counts")
    starts = sorted(
        r["window_start"].isoformat() for r in store.collect()
    )
    # hour 10 (end 11:00) is strictly before the retain-2 horizon of the
    # last close (13:00 - 1h = 12:00): pruned; 11, 12, 13 remain
    assert starts == [
        "2024-01-01T11:00:00",
        "2024-01-01T12:00:00",
        "2024-01-01T13:00:00",
    ]
    # no append-forever batch= layout, and compaction keeps it tight
    assert not any(
        d.startswith("batch=") for d in os.listdir(sink + "/counts")
    )
    compact_sink(spark, sink + "/counts", max_files_per_partition=0)
    after = {
        (r["window_start"].isoformat(), r["event_type"], r["n_events"])
        for r in read_sink(spark, sink + "/counts").collect()
    }
    assert after == {
        (r, "a", 1)
        for r in [
            "2024-01-01T11:00:00",
            "2024-01-01T12:00:00",
            "2024-01-01T13:00:00",
        ]
    }


def _assert_manifest_layout(sink: str) -> None:
    """``sink`` was published by the manifest commit: a manifest, no
    top-level partition directory, no swap sibling."""
    assert os.path.isfile(os.path.join(sink, "_manifest.json")), sink
    assert not [d for d in os.listdir(sink) if d.startswith("_part=")], sink
    for sibling in (".trash", ".staging"):
        assert not os.path.exists(sink.rstrip("/") + sibling), sibling


def test_cdc_sinks_commit_through_the_manifest(spark, tmp_path):
    """Every CDC merge sink, written with default arguments, holds the
    manifest layout: the search tables (apply_cdc_batch,
    apply_routed_cdc_batch), the suggest store's tokens/ and suggest/,
    and the trending counts/."""
    from visual_asset_management_system_spark.operators.inverted_index import (
        suggest_index_update,
    )
    from visual_asset_management_system_spark.streaming.windows import (
        start_trending_stream,
    )

    recompute = _recompute_factory(spark)
    search = str(tmp_path / "search")
    for rows in (
        [(1, "INSERT", "assets", "db_1", "asset_1", None, None),
         (2, "INSERT", "assets", "db_1", "asset_2", None, None)],
        [(3, "MODIFY", "assets", "db_1", "asset_1", None, None),
         (4, "REMOVE", "assets", "db_1", "asset_2", None, None)],
    ):
        apply_cdc_batch(spark.createDataFrame(rows, _CDC_SCHEMA), recompute, search)

    files = spark.createDataFrame(
        [("db_1", "asset_2", "/f/2.glb", 200)],
        "database_id string, asset_id string, file_path string, file_size long",
    )
    routed = {"asset": str(tmp_path / "assets"), "file": str(tmp_path / "files")}
    apply_routed_cdc_batch(
        spark.createDataFrame(
            [
                _routed_row(1, "INSERT", "assets", "db_1", "asset_1"),
                _routed_row(2, "INSERT", "s3", "db_1", "asset_2", "/f/2.glb"),
            ],
            ROUTED_CHANGE_LOG_SCHEMA,
        ),
        {
            "asset": recompute,
            "file": lambda keys: files.join(
                keys, ["database_id", "asset_id", "file_path"], "left_semi"
            ),
        },
        routed,
    )

    state = str(tmp_path / "suggest_state")
    schema = (
        "database_id string, asset_id string, event_name string, "
        "asset_name string"
    )
    for key, rows in (
        ("b0", [("db", "a1", "INSERT", "red widget")]),
        ("b1", [("db", "a1", "MODIFY", "red rocket")]),
    ):
        suggest_index_update(spark, state, spark.createDataFrame(rows, schema), key)

    src = str(tmp_path / "events")
    trend = str(tmp_path / "trend")
    for rows in (
        [_ev(1, 1, "a", 1.0, "2024-01-01T10:05:00Z"),
         _ev(2, 1, "a", 1.0, "2024-01-01T11:40:00Z")],
        [_ev(3, 1, "a", 1.0, "2024-01-01T12:40:00Z")],
    ):
        _write_events(src, rows)
        start_trending_stream(
            spark, src, trend, str(tmp_path / "trend_ckpt"), window="1 hour"
        ).awaitTermination(120)

    for sink in (
        search,
        routed["asset"],
        routed["file"],
        os.path.join(state, "tokens"),
        os.path.join(state, "suggest"),
        os.path.join(trend, "counts"),
    ):
        _assert_manifest_layout(sink)
        assert read_sink(spark, sink) is not None, sink


def test_sessionize_emits_open_session_on_watermark_expiry(spark, tmp_path):
    """Session-closing TTL: a user who goes silent has their trailing
    open session EMITTED (as closed — the gap has provably passed once
    the watermark crosses last_event + gap) and their state freed,
    instead of both lingering forever. Matches the batch mirror's
    treatment of trailing sessions."""
    from visual_asset_management_system_spark.streaming.driver import (
        run_stream_to_parquet,
    )
    from visual_asset_management_system_spark.streaming.windows import (
        read_events_stream,
        sessionize_stateful,
    )

    src = str(tmp_path / "sess_ttl_events")
    sink = str(tmp_path / "sess_ttl_sink")
    ckpt = str(tmp_path / "sess_ttl_ckpt")

    def run(rows):
        _write_events(src, rows)
        q = run_stream_to_parquet(
            sessionize_stateful(read_events_stream(spark, src)), sink, ckpt
        )
        q.awaitTermination(120)

    # user 7 bursts then goes silent forever
    run(
        [
            _ev(1, 7, "click", 1.0, "2024-01-01T10:00:00Z"),
            _ev(2, 7, "click", 2.0, "2024-01-01T10:10:00Z"),
        ]
    )
    assert spark.read.parquet(sink).count() == 0  # still open

    # an unrelated user's event advances the watermark past
    # 10:10 + 30min gap (wm = 14:00 - 30min = 13:30): user 7's session
    # closes by timeout in the trailing no-data batch
    run([_ev(3, 9, "click", 5.0, "2024-01-01T14:00:00Z")])
    rows = spark.read.parquet(sink).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["user_id"] == 7 and r["n_events"] == 2 and r["sum_value"] == 3.0
    assert r["session_start"].isoformat() == "2024-01-01T10:00:00"
    assert r["session_end"].isoformat() == "2024-01-01T10:10:00"
    # user 7's state is gone; only user 9's fresh open session remains
    users = {
        s["key"]["user_id"]
        for s in spark.read.format("statestore").load(ckpt).collect()
    }
    assert users == {9}


@pytest.mark.parametrize("mode", ["manifest"])
def test_cdc_merge_randomized_against_dict_model(spark, tmp_path, mode):
    """Model-based check of the merge and its manifest commit: a seeded
    random sequence of INSERT/MODIFY/REMOVE batches over a small key
    space must leave the sink exactly equal to a driver-side dict model
    (last-writer-wins upsert, REMOVE deletes) after EVERY batch — the
    partial-rewrite/manifest plumbing must be invisible at the
    semantics level."""
    import random

    rng = random.Random(78)
    sink = str(tmp_path / f"model_sink_{mode}")
    recompute = _recompute_factory(spark)

    model: dict[str, str] = {}
    live = [f"asset_{i}" for i in range(20)]  # recompute knows these
    seq = 0
    for _ in range(6):
        n = rng.randint(1, 5)
        rows = []
        for _ in range(n):
            a = rng.choice(live)
            ev = rng.choice(["INSERT", "MODIFY", "REMOVE"])
            seq += 1
            rows.append((seq, ev, "assets", "db_1", a, None, None))
        batch = spark.createDataFrame(rows, _CDC_SCHEMA)
        # model: REMOVE wins for a key if ANY event in the batch is a
        # REMOVE (mirrors the engine: removes are anti-joined out of the
        # recomputed rows); otherwise the key upserts to its current doc
        by_key: dict[str, bool] = {}
        for _, ev, _, _, a, _, _ in rows:
            by_key[a] = by_key.get(a, False) or (ev == "REMOVE")
        for a, removed in by_key.items():
            if removed:
                model.pop(a, None)
            else:
                model[a] = f"NAME {a.split('_')[1]}"
        apply_cdc_batch(batch, recompute, sink)
        assert _sink_rows(spark, sink, mode) == model


def test_kmv_store_split_replay_and_compaction_equivalence(spark, tmp_path):
    """Maintained KMV store (operators/sketches.py): any batch split,
    an at-least-once replay, AND a compaction all yield the exact batch
    sketch — the join-semilattice property the store's no-exclude-tags
    design rests on. Compaction re-bounds the store to ≤ groups·k rows
    and a simulated crash between its two renames heals on next read."""
    import random as _random

    from visual_asset_management_system_spark.operators.sketches import (
        compact_kmv_store,
        kmv_sketch,
        kmv_store_sketch,
        kmv_store_update,
    )

    rng = _random.Random(9)
    rows = [(f"g{i % 2}", f"key_{rng.randrange(400)}") for i in range(900)]
    store = str(tmp_path / "kmv_store")
    splits = sorted(rng.sample(range(1, 900), 3)) + [900]
    lo = 0
    for i, hi in enumerate(splits):
        batch = spark.createDataFrame(rows[lo:hi], ["grp", "key"])
        kmv_store_update(
            spark, store, batch, "key", ["grp"], k=16, batch_key=f"b{i}"
        )
        lo = hi
    # replay batch 1 (at-least-once redelivery)
    kmv_store_update(
        spark,
        store,
        spark.createDataFrame(rows[splits[0] : splits[1]], ["grp", "key"]),
        "key",
        ["grp"],
        k=16,
        batch_key="b1-replay",
    )

    want = {
        r["grp"]: list(r["kmv"])
        for r in kmv_sketch(
            spark.createDataFrame(rows, ["grp", "key"]), "key", ["grp"], k=16
        ).collect()
    }
    got = {
        r["grp"]: list(r["kmv"])
        for r in kmv_store_sketch(spark, store, ["grp"], k=16).collect()
    }
    assert got == want

    n = compact_kmv_store(spark, store, ["grp"], k=16)
    assert n <= 2 * 16
    after = {
        r["grp"]: list(r["kmv"])
        for r in kmv_store_sketch(spark, store, ["grp"], k=16).collect()
    }
    assert after == want

    # crash window: store moved aside, replacement not yet in place
    minima = os.path.join(store, "minima")
    os.replace(minima, minima + ".old")
    healed = {
        r["grp"]: list(r["kmv"])
        for r in kmv_store_sketch(spark, store, ["grp"], k=16).collect()
    }
    assert healed == want


def test_ann_store_upsert_across_lists_probe_correct(spark, tmp_path):
    """The review-confirmed stale-row class: a re-embedded id's new row
    lands in a DIFFERENT list, so a probe pruned to the old list must
    NOT resurrect the superseded vector — winner selection is global
    (thin projection), only the vector fetch is pruned. Compaction
    must leave the same probe unchanged."""
    import numpy as _np

    from visual_asset_management_system_spark.operators.similarity import (
        ann_index_update,
        ann_store_read,
        ann_store_topk,
        compact_ann_store,
    )

    cents = _np.asarray([[1.0, 0.0], [-1.0, 0.0]])
    schema = "vec_id long, embedding array<float>"
    store = str(tmp_path / "ann_mv")
    ann_index_update(
        spark, store,
        spark.createDataFrame(
            [(0, [0.9, 0.1]), (1, [0.95, 0.05]), (2, [-0.9, 0.1])], schema
        ),
        2, n_lists=2, centroids=cents, batch_key="b0",
    )
    # re-embed id 0 to the OPPOSITE side: its live row moves to list 1
    ann_index_update(
        spark, store,
        spark.createDataFrame([(0, [-0.9, -0.1])], schema),
        2, n_lists=2, batch_key="b1",
    )
    probe = ann_store_topk(spark, store, [1.0, 0.0], k=5, nprobe=1)
    got = {r["vec_id"] for r in probe.collect()}
    assert got == {1}, f"stale pre-upsert row resurrected: {got}"
    live = {
        r["vec_id"]: list(r["embedding"])
        for r in ann_store_read(spark, store).collect()
    }
    assert [round(x, 2) for x in live[0]] == [-0.9, -0.1]
    compact_ann_store(spark, store)
    assert {
        r["vec_id"]
        for r in ann_store_topk(
            spark, store, [1.0, 0.0], k=5, nprobe=1
        ).collect()
    } == {1}


def test_ann_store_split_replay_upsert_and_compaction(spark, tmp_path):
    """Maintained IVF index (operators/similarity.py): with frozen
    centroids, a probe over ANY batch split + an at-least-once replay
    equals ivf_topk over the union (assignment is a pure function of
    (vector, centroids); the max-seq dedup absorbs replays). A genuine
    re-embedding of an existing id WINS deterministically (the upsert
    path no other maintained store needed — vectors change when assets
    are re-processed). Compaction preserves the probe exactly, heals
    its crash window, and the probe plan prunes to the probed list
    partitions. Format params (dim / n_lists / foreign centroids)
    refuse at every seam."""
    import random as _random

    import numpy as _np
    import pytest as _pytest

    from visual_asset_management_system_spark.operators.similarity import (
        ann_index_update,
        ann_store_topk,
        compact_ann_store,
        ivf_topk,
    )

    rng = _random.Random(7)
    dim, n = 8, 120
    rows = [
        (i, [round(rng.gauss(0, 1), 4) for _ in range(dim)])
        for i in range(n)
    ]
    schema = "vec_id long, embedding array<float>"
    store = str(tmp_path / "ann")
    # batch 0 must hold >= n_lists rows: it seeds the frozen centroids
    splits = sorted(rng.sample(range(10, n), 2)) + [n]
    lo = 0
    for i, hi in enumerate(splits):
        ann_index_update(
            spark, store, spark.createDataFrame(rows[lo:hi], schema),
            dim, n_lists=8, batch_key=f"b{i}",
        )
        lo = hi
    # replay batch 1
    ann_index_update(
        spark, store,
        spark.createDataFrame(rows[splits[0]: splits[1]], schema),
        dim, n_lists=8, batch_key="b1-replay",
    )

    q = rows[0][1]
    got = [
        (r["vec_id"], r["cosine_sim"])
        for r in ann_store_topk(spark, store, q, k=10, nprobe=3).collect()
    ]
    # the frozen matrix = first 8 vectors of batch 0 (sample_centroids)
    cents = _np.asarray([rows[i][1] for i in range(8)], dtype=_np.float64)
    want = [
        (r["vec_id"], r["cosine_sim"])
        for r in ivf_topk(
            spark.createDataFrame(rows, schema), q, cents, k=10, nprobe=3
        ).collect()
    ]
    assert got == want

    # probe plan prunes to the probed list partitions
    plan = (
        ann_store_topk(spark, store, q, k=10, nprobe=3)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters" in plan and "_list" in plan

    # upsert: re-embed vec_id 0 far away — the new vector must win
    new_vec = [100.0] * dim
    ann_index_update(
        spark, store, spark.createDataFrame([(0, new_vec)], schema),
        dim, n_lists=8, batch_key="b-upsert",
    )
    after = {
        r["vec_id"]: r["cosine_sim"]
        for r in ann_store_topk(spark, store, q, k=n, nprobe=8).collect()
    }
    assert after[0] != 1.0  # no longer identical to the old query vector

    nrows = compact_ann_store(spark, store)
    assert nrows == n  # one live row per id
    assert {
        r["vec_id"]: r["cosine_sim"]
        for r in ann_store_topk(spark, store, q, k=n, nprobe=8).collect()
    } == after

    # crash window: vectors moved aside, replacement not yet in place
    vecs = os.path.join(store, "vectors")
    os.replace(vecs, vecs + ".old")
    assert {
        r["vec_id"]: r["cosine_sim"]
        for r in ann_store_topk(spark, store, q, k=n, nprobe=8).collect()
    } == after

    # format guards
    with _pytest.raises(ValueError, match="dim"):
        ann_index_update(
            spark, store, spark.createDataFrame([(200, [1.0] * 4)],
            "vec_id long, embedding array<float>"), 4, n_lists=8,
        )
    with _pytest.raises(ValueError, match="n_lists"):
        ann_index_update(
            spark, store, spark.createDataFrame(rows[:2], schema),
            dim, n_lists=4,
        )
    with _pytest.raises(ValueError, match="FROZEN"):
        ann_index_update(
            spark, store, spark.createDataFrame(rows[:2], schema),
            dim, n_lists=8, centroids=cents + 1.0,
        )


def _mk_ann_store(spark, tmp_path, with_upsert=True):
    from visual_asset_management_system_spark.operators.similarity import (
        ann_index_update,
    )

    rows = [
        (i, [float((i * 7 + j) % 13) for j in range(8)]) for i in range(40)
    ]
    schema = "vec_id long, embedding array<float>"
    store = str(tmp_path / "ann_keys")
    ann_index_update(
        spark, store, spark.createDataFrame(rows[:20], schema), 8,
        n_lists=4, batch_key="b0",
    )
    ann_index_update(
        spark, store, spark.createDataFrame(rows[20:], schema), 8,
        n_lists=4, batch_key="b1",
    )
    if with_upsert:
        # re-embed id 3 far away — its live row likely changes list
        ann_index_update(
            spark, store, spark.createDataFrame([(3, [50.0] * 8)], schema),
            8, n_lists=4, batch_key="b2",
        )
        rows[3] = (3, [50.0] * 8)
    return store, rows, schema


def test_ann_store_live_keys_bound_probe_and_healing(spark, tmp_path):
    """r12 (verdict task 2): the probe's global winner selection reads
    the MAINTAINED live-key relation (keys/ — one row per live id,
    merged per update batch), not a store-wide thin winner pass: the
    executed plan holds exactly TWO parquet scans (keys + vectors),
    BOTH pruned to the probed list partitions. Crash windows heal
    read-only — keys/ missing entirely (a pre-keys store) or the
    sidecar's keys_seq left behind the store seq (crash between the
    vector append and the key merge) must give the same probe — and
    the next update re-persists coverage, restoring the bounded
    2-scan plan."""
    import json
    import re
    import shutil

    from visual_asset_management_system_spark.operators.similarity import (
        ann_index_update,
        ann_store_topk,
    )

    store, rows, schema = _mk_ann_store(spark, tmp_path)
    q = rows[1][1]

    def probe():
        return sorted(
            (r["vec_id"], r["cosine_sim"])
            for r in ann_store_topk(spark, store, q, k=8, nprobe=2).collect()
        )

    def plan():
        return (
            ann_store_topk(spark, store, q, k=8, nprobe=2)
            ._jdf.queryExecution().executedPlan().toString()
        )

    want = probe()
    p = plan()
    scans = re.findall(r"FileScan parquet", p)
    assert len(scans) == 2, f"probe should scan keys+vectors only: {p}"
    pfs = re.findall(r"PartitionFilters: \[[^\]]*_list[^\]]*IN[^\]]*\]", p)
    assert len(pfs) == 2, f"both scans must prune to probed lists: {p}"

    # crash class 1: keys/ missing entirely (pre-keys store shape)
    shutil.rmtree(os.path.join(store, "keys"))
    assert probe() == want
    # crash class 2: keys behind the store (append landed, merge did
    # not) — rewind keys_seq; the read path must fold the delta in
    ann_index_update(
        spark, store,
        spark.createDataFrame([(1, [25.0] * 8)], schema), 8,
        n_lists=4, batch_key="b3",
    )  # also re-creates keys/ after class 1
    want2 = sorted(
        (r["vec_id"], r["cosine_sim"])
        for r in ann_store_topk(spark, store, q, k=8, nprobe=4).collect()
    )
    mpath = os.path.join(store, "ann_meta.json")
    with open(mpath) as f:
        meta = json.load(f)
    assert meta["keys_seq"] == meta["seq"]  # merge persisted coverage
    meta["keys_seq"] = meta["seq"] - 1
    with open(mpath, "w") as f:
        json.dump(meta, f)
    assert sorted(
        (r["vec_id"], r["cosine_sim"])
        for r in ann_store_topk(spark, store, q, k=8, nprobe=4).collect()
    ) == want2
    # next update heals the sidecar and restores the 2-scan plan
    ann_index_update(
        spark, store, spark.createDataFrame([(39, [9.0] * 8)], schema),
        8, n_lists=4, batch_key="b4",
    )
    with open(mpath) as f:
        healed = json.load(f)
    assert healed["keys_seq"] == healed["seq"]
    assert len(re.findall(r"FileScan parquet", plan())) == 2


def test_ann_store_duplicate_id_in_batch_occupies_one_slot(
    spark, tmp_path
):
    """A byte-identical duplicate of an id WITHIN one update batch
    must not occupy two of the k probe slots (both rows match the
    id's live key): the probe dedups the fetched frame, and
    compaction — which collapses the duplicates — leaves the probe
    unchanged (the r12 advisory)."""
    from visual_asset_management_system_spark.operators.similarity import (
        ann_index_update,
        ann_store_topk,
        compact_ann_store,
    )
    import numpy as _np

    cents = _np.asarray([[1.0, 0.0], [-1.0, 0.0]])
    schema = "vec_id long, embedding array<float>"
    store = str(tmp_path / "ann_dup")
    ann_index_update(
        spark, store,
        spark.createDataFrame(
            [(0, [0.9, 0.1]), (0, [0.9, 0.1]), (1, [0.95, 0.05]),
             (2, [0.8, 0.2])],
            schema,
        ),
        2, n_lists=2, centroids=cents, batch_key="b0",
    )
    got = [
        r["vec_id"]
        for r in ann_store_topk(
            spark, store, [1.0, 0.0], k=3, nprobe=1
        ).collect()
    ]
    assert sorted(got) == [0, 1, 2], f"duplicate id ate a slot: {got}"
    compact_ann_store(spark, store)
    after = [
        r["vec_id"]
        for r in ann_store_topk(
            spark, store, [1.0, 0.0], k=3, nprobe=1
        ).collect()
    ]
    assert sorted(after) == [0, 1, 2]


def test_ann_store_casts_appends_to_frozen_vector_type(spark, tmp_path):
    """The vector ELEMENT type is index format: an append whose
    expression produced array<double> into a float-seeded store used
    to write parquet files physically incompatible with the dataset —
    every later read of the touched partitions failed with
    PARQUET_COLUMN_DATA_TYPE_MISMATCH (found by the r12 soak's
    probe-flatness section re-embedding via a double-typed transform).
    Updates must CAST to the sidecar's frozen vec_type, keeping the
    store readable and _rh hashed over the stored representation."""
    from pyspark.sql import functions as F

    from visual_asset_management_system_spark.operators.similarity import (
        ann_index_update,
        ann_store_read,
        ann_store_topk,
    )

    store, rows, schema = _mk_ann_store(spark, tmp_path, with_upsert=False)
    # re-embed ids 0-9 through a DOUBLE-typed expression (the natural
    # shape of any arithmetic transform on the embedding column)
    reemb = (
        spark.createDataFrame(rows[:10], schema)
        .select(
            "vec_id",
            F.transform(
                "embedding", lambda x: x.cast("double") * F.lit(1.5)
            ).alias("embedding"),
        )
    )
    assert dict(reemb.dtypes)["embedding"] == "array<double>"
    ann_index_update(spark, store, reemb, 8, n_lists=4, batch_key="up")
    live = {
        r["vec_id"]: list(r["embedding"])
        for r in ann_store_read(spark, store).collect()
    }
    assert len(live) == 40  # store fully readable, one row per id
    import numpy as _np

    want0 = [float(_np.float32(x * 1.5)) for x in rows[0][1]]
    assert [round(v, 4) for v in live[0]] == [round(v, 4) for v in want0]
    # probe unaffected
    assert len(ann_store_topk(spark, store, rows[1][1], k=5, nprobe=4)
               .collect()) == 5


def test_ann_store_empty_first_batch_refuses(spark, tmp_path):
    """An empty (or all-NULL-id) first batch samples a shape-(0,)
    centroid matrix — creation must refuse with a clear error instead
    of an IndexError inside the sidecar (the r12 advisory)."""
    import pytest as _pytest

    from visual_asset_management_system_spark.operators.similarity import (
        ann_index_update,
    )

    with _pytest.raises(ValueError, match="at least one row"):
        ann_index_update(
            spark, str(tmp_path / "ann_empty"),
            spark.createDataFrame([], "vec_id long, embedding array<float>"),
            8, n_lists=4, batch_key="b0",
        )


def test_ann_store_knn_join_matches_per_vector_probes(spark, tmp_path):
    """Batched query-table probes (verdict r11 task 3): for every row
    of the query table, ann_store_knn_join must return exactly the
    single-vector probe's top-k (same store, same k/nprobe) — the
    JVM-side array_sort list assignment agrees with the driver-side
    numpy argsort, including after a cross-list upsert. The executed
    plan prunes both scans to the UNION of probed lists and applies
    the rank-limit pushdown; an empty query table returns an empty,
    correctly-typed frame."""
    import re

    from visual_asset_management_system_spark.operators.similarity import (
        ann_store_knn_join,
        ann_store_topk,
    )

    store, rows, schema = _mk_ann_store(spark, tmp_path)
    qrows = [(100 + i, rows[i][1]) for i in range(6)]
    qdf = spark.createDataFrame(
        qrows, "query_id long, embedding array<float>"
    )
    res = ann_store_knn_join(spark, store, qdf, k=5, nprobe=2)
    got: dict = {}
    for r in res.collect():
        got.setdefault(r["query_id"], []).append(
            (r["rank"], r["vec_id"], r["cosine_sim"])
        )
    for qid, vec in qrows:
        want = [
            (j + 1, r["vec_id"], r["cosine_sim"])
            for j, r in enumerate(
                ann_store_topk(spark, store, vec, k=5, nprobe=2).collect()
            )
        ]
        assert sorted(got[qid]) == want, f"query {qid} diverged"

    plan = res._jdf.queryExecution().executedPlan().toString()
    # set(): an AQE final plan prints materialized stages twice
    assert len(set(
        re.findall(r"PartitionFilters: \[[^\]]*_list[^\]]*\]", plan)
    )) == 2
    assert "WindowGroupLimit" in plan

    empty = ann_store_knn_join(
        spark, store,
        spark.createDataFrame([], "query_id long, embedding array<float>"),
        k=5, nprobe=2,
    )
    assert empty.count() == 0
    assert [f.name for f in empty.schema.fields] == [
        "query_id", "vec_id", "cosine_sim", "rank",
    ]


def test_ann_store_knn_join_edge_inputs(spark, tmp_path):
    """Edges of the batched probe: NULL query ids/vectors are dropped
    (the update path's shared guard), nprobe beyond n_lists degrades
    to probing every list (slice past the array end), and k larger
    than the live corpus returns every live row ranked."""
    from visual_asset_management_system_spark.operators.similarity import (
        ann_store_knn_join,
    )

    store, rows, schema = _mk_ann_store(spark, tmp_path, with_upsert=False)
    qdf = spark.createDataFrame(
        [(100, rows[0][1]), (None, rows[1][1]), (101, None)],
        "query_id long, embedding array<float>",
    )
    res = ann_store_knn_join(spark, store, qdf, k=1000, nprobe=99)
    got = res.collect()
    qids = {r["query_id"] for r in got}
    assert qids == {100}  # NULL rows contributed nothing
    assert len(got) == 40  # nprobe>=n_lists + huge k -> all live rows
    assert {r["rank"] for r in got} == set(range(1, 41))


def test_ann_store_stats_observes_skew_and_compaction_debt(
    spark, tmp_path
):
    """ann_store_stats (verdict r11 task 8): one row per configured
    list — including empty ones — with LIVE counts from the key
    relation and RAW appended counts; live == raw after compaction,
    live < raw while superseded rows await it; total live == one per
    live id."""
    from visual_asset_management_system_spark.operators.similarity import (
        ann_store_stats,
        compact_ann_store,
    )

    store, rows, schema = _mk_ann_store(spark, tmp_path)  # 40 ids, 1 upsert
    stats = {
        r["list_id"]: (r["live_rows"], r["raw_rows"])
        for r in ann_store_stats(spark, store).collect()
    }
    assert sorted(stats) == [0, 1, 2, 3]
    assert sum(lv for lv, _ in stats.values()) == 40
    assert sum(rw for _, rw in stats.values()) == 41  # superseded row
    compact_ann_store(spark, store)
    after = {
        r["list_id"]: (r["live_rows"], r["raw_rows"])
        for r in ann_store_stats(spark, store).collect()
    }
    assert all(lv == rw for lv, rw in after.values())
    assert sum(lv for lv, _ in after.values()) == 40


def test_ann_store_sq8_sidecar_parity_plan_replay_compaction(
    spark, tmp_path
):
    """The maintained store's SQ8 codes, held in the vectors files. The
    quantized probe must (a) equal the exact probe whenever the true
    top-k survives the rerank cut — pinned here with rerank covering
    every live row, so equality is unconditional; (b) keep its
    data-sized scans in STAGE 1 only (keys + the vectors relation
    projected to its narrow SQ8 columns, both pruned to probed lists,
    the float column unread), with stage 2 a bounded fetch: the
    collected survivor ids PUSHED into the float scan (row-group
    skipping) and the exact (id,_seq,_rh) matched against a LOCAL
    relation — never a second store scan, never a semi-join that
    decodes every float byte;
    (c) survive replay (identical rows under higher seqs); (d) keep
    parity across compaction, which re-bounds the vectors relation,
    codes included, to one row per live id; (e) REFUSE a store of the
    earlier layout (a ``q8_seq`` watermark, or a sidecar without its
    frozen vec/id types), whose vectors files carry no codes: every
    read, update and compaction raises "rebuild the store"."""
    import json
    import re

    from visual_asset_management_system_spark.operators.similarity import (
        ann_index_update,
        ann_store_topk,
        ann_store_topk_quantized,
        compact_ann_store,
    )

    store, rows, schema = _mk_ann_store(spark, tmp_path)
    q = rows[1][1]

    def exact(k=8):
        return [
            (r["vec_id"], r["cosine_sim"])
            for r in ann_store_topk(
                spark, store, q, k=k, nprobe=2
            ).collect()
        ]

    def quant(k=8, rerank=100):
        return [
            (r["vec_id"], r["cosine_sim"])
            for r in ann_store_topk_quantized(
                spark, store, q, k=k, nprobe=2, rerank=rerank
            ).collect()
        ]

    def plans():
        """(stage1 plan, final fetch plan) — the probe splits at the
        bounded survivor collect."""
        import json as _json

        from visual_asset_management_system_spark.operators.similarity import (  # noqa: E501
            _ann_sq8_survivors,
            _sq8_query_prep,
            _sqdist_fold,
        )
        import numpy as _np

        with open(os.path.join(store, "ann_meta.json")) as f:
            meta = _json.load(f)
        cents = _np.asarray(meta["centroids"])
        d2 = _sqdist_fold(cents, [float(x) for x in q])
        probe = [int(i) for i in _np.argsort(d2, kind="stable")[:2]]
        s1 = _ann_sq8_survivors(
            spark, store, meta, probe, _sq8_query_prep(q), q, 100,
            "vec_id", "embedding",
        )._jdf.queryExecution().executedPlan().toString()
        s2 = (
            ann_store_topk_quantized(spark, store, q, k=8, nprobe=2)
            ._jdf.queryExecution().executedPlan().toString()
        )
        return s1, s2

    assert quant() == exact()

    p1, p2 = plans()
    # stage 1 holds the probe's only data-sized scans: keys + q8,
    # both pruned; the narrow scan reads the 1-byte codes, the float
    # vector column appears in NO stage-1 scan
    assert len(re.findall(r"FileScan parquet", p1)) == 2, p1
    pfs = re.findall(r"PartitionFilters: \[[^\]]*_list[^\]]*IN[^\]]*\]", p1)
    assert len(pfs) == 2, f"both stage-1 scans must prune to probed lists: {p1}"
    assert "q8:array<tinyint>" in p1, f"narrow sidecar scan missing: {p1}"
    assert "embedding" not in p1, f"stage 1 must never touch floats: {p1}"
    assert "TakeOrderedAndProject" in p1, p1
    # stage 2: ONE float scan, probed-list pruned, survivor ids PUSHED
    # (row-group skipping), triple matched against a local relation
    assert len(re.findall(r"FileScan parquet", p2)) == 1, p2
    assert re.search(r"PartitionFilters: \[[^\]]*_list[^\]]*IN[^\]]*\]", p2), p2
    assert re.search(r"PushedFilters: \[[^\]]*In\(vec_id", p2), p2
    assert re.search(r"BroadcastHashJoin .*LeftSemi", p2), p2
    assert "LocalTableScan" in p2 or "BroadcastExchange" in p2, p2

    # (c) replay: the second half re-delivered verbatim
    ann_index_update(
        spark, store, spark.createDataFrame(rows[20:], schema), 8,
        n_lists=4, batch_key="b1-replay",
    )
    assert quant() == exact()

    # (d) compaction re-bounds the vectors relation, codes included, to
    # one row per live id
    nrows = compact_ann_store(spark, store)
    assert nrows == 40
    assert spark.read.parquet(os.path.join(store, "vectors")).count() == 40
    assert quant() == exact()

    # (e) earlier-layout sidecars are refused by every entry point
    mpath = os.path.join(store, "ann_meta.json")
    with open(mpath) as f:
        meta = json.load(f)
    earlier = [{**meta, "q8_seq": meta["seq"]}] + [
        {k: v for k, v in meta.items() if k != field}
        for field in ("vec_type", "id_type", "vec_name")
    ]
    one = spark.createDataFrame([(99, [9.0] * 8)], schema)
    for legacy in earlier:
        with open(mpath, "w") as f:
            json.dump(legacy, f)
        for call in (
            quant,
            exact,
            lambda: ann_index_update(
                spark, store, one, 8, n_lists=4, batch_key="b3"
            ),
            lambda: compact_ann_store(spark, store),
        ):
            with pytest.raises(ValueError, match="rebuild the store"):
                call()
    with open(mpath, "w") as f:
        json.dump(meta, f)
    ann_index_update(spark, store, one, 8, n_lists=4, batch_key="b3")
    assert quant() == exact()
    h1, _h2 = plans()
    assert len(re.findall(r"FileScan parquet", h1)) == 2, h1

    # zero-norm rows rank last as NULL through BOTH tiers; a zero
    # query delegates to the exact tier
    ann_index_update(
        spark, store, spark.createDataFrame([(100, [0.0] * 8)], schema),
        8, n_lists=4, batch_key="b4",
    )
    we = [
        (r["vec_id"], r["cosine_sim"])
        for r in ann_store_topk(spark, store, q, k=50, nprobe=4).collect()
    ]
    wq = [
        (r["vec_id"], r["cosine_sim"])
        for r in ann_store_topk_quantized(
            spark, store, q, k=50, nprobe=4, rerank=200
        ).collect()
    ]
    assert wq == we
    assert (100, None) in wq and wq[-1][1] is None
    zq = [
        (r["vec_id"], r["cosine_sim"])
        for r in ann_store_topk_quantized(
            spark, store, [0.0] * 8, k=5, nprobe=2
        ).collect()
    ]
    assert all(s is None for _, s in zq) and len(zq) == 5


def test_ann_store_update_and_compaction_job_budget(
    spark, tmp_path, jobs_and_tasks
):
    """A warm ann_index_update starts at most 10 Spark jobs and
    compact_ann_store at most 7: one append writes the vectors with
    their SQ8 codes, the live-key merge is the update's only read-back,
    and compaction is a single rewrite of the vectors relation."""
    from visual_asset_management_system_spark.operators.similarity import (
        ann_index_update,
        compact_ann_store,
    )

    store, _rows, schema = _mk_ann_store(spark, tmp_path, with_upsert=False)
    batch = spark.createDataFrame([(3, [50.0] * 8), (41, [1.0] * 8)], schema)
    jobs, _ = jobs_and_tasks(
        lambda: ann_index_update(
            spark, store, batch, 8, n_lists=4, batch_key="b2"
        )
    )
    assert jobs <= 10, f"{jobs} Spark jobs for a warm update"
    jobs, _ = jobs_and_tasks(lambda: compact_ann_store(spark, store))
    assert jobs <= 7, f"{jobs} Spark jobs for a compaction"


def test_ann_store_zero_norm_vectors_probe_null_not_error(
    spark, tmp_path
):
    """Zero-L2-norm embeddings in the MAINTAINED store: under ANSI
    mode the old plain-``/`` cosine raised DIVIDE_BY_ZERO the moment a
    zero vector entered any probed list; it must instead score NULL
    and rank LAST (the DuckDB-oracle ordering), in both the
    single-vector probe and the batched knn join — including a
    zero-norm QUERY vector, which list-assigns fine (L2 distance has
    no division) and returns k NULL-scored, id-ordered rows."""
    from visual_asset_management_system_spark.operators.similarity import (
        ann_index_update,
        ann_store_knn_join,
        ann_store_topk,
    )

    schema = "vec_id long, embedding array<float>"
    store = str(tmp_path / "ann_zero")
    import numpy as _np

    cents = _np.asarray([[1.0, 0.0], [-1.0, 0.0]])
    ann_index_update(
        spark, store,
        spark.createDataFrame(
            [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 0.0]),
             (3, [0.8, 0.2])],
            schema,
        ),
        2, n_lists=2, centroids=cents, batch_key="b0",
    )
    # the zero vector list-assigned to list 0 (nearest [1,0] by L2
    # from the origin is a tie broken by stable argsort) — probe it
    got = ann_store_topk(spark, store, [1.0, 0.0], k=10, nprobe=1).collect()
    assert [r["vec_id"] for r in got] == [0, 1, 3, 2]
    assert got[-1]["cosine_sim"] is None
    assert all(r["cosine_sim"] is not None for r in got[:3])

    qdf = spark.createDataFrame(
        [(100, [1.0, 0.0]), (101, [0.0, 0.0])],
        "query_id long, embedding array<float>",
    )
    by_q: dict = {}
    for r in ann_store_knn_join(spark, store, qdf, k=10, nprobe=1).collect():
        by_q.setdefault(r["query_id"], []).append(r)
    real = sorted(by_q[100], key=lambda r: r["rank"])
    assert [r["vec_id"] for r in real] == [0, 1, 3, 2]
    assert real[-1]["cosine_sim"] is None
    zeroq = sorted(by_q[101], key=lambda r: r["rank"])
    assert all(r["cosine_sim"] is None for r in zeroq)
    assert [r["vec_id"] for r in zeroq] == sorted(r["vec_id"] for r in zeroq)


def test_ann_store_empty_first_batch_with_centroids_backfills(
    spark, tmp_path
):
    """Create-then-backfill (the r12 advisory): seeding a brand-new
    store with EXPLICIT trained centroids and an empty (or all-NULL)
    first batch writes zero part-files — the key merge must treat
    that as a silent no-op instead of failing on a schema-less
    parquet read, and the subsequent real append must leave a fully
    probed store. READS between the create and the first real append
    (the r13 advisory's other half) must return empty/zero results —
    every probe surface (topk, knn-join, read, compaction) over the
    fileless store, not unable-to-infer-schema."""
    import numpy as _np

    from visual_asset_management_system_spark.operators.similarity import (
        ann_index_update,
        ann_store_knn_join,
        ann_store_read,
        ann_store_topk,
        ann_store_topk_quantized,
        compact_ann_store,
    )

    schema = "vec_id long, embedding array<float>"
    cents = _np.asarray([[1.0, 0.0], [-1.0, 0.0]])
    store = str(tmp_path / "ann_backfill")
    ann_index_update(
        spark, store, spark.createDataFrame([], schema),
        2, n_lists=2, centroids=cents, batch_key="create",
    )
    # all-NULL batch is the same shape: every row guard-filtered
    ann_index_update(
        spark, store,
        spark.createDataFrame([(None, None)], schema),
        2, n_lists=2, batch_key="nulls",
    )
    # probing the row-less store: empty typed results, never a
    # schema-inference crash
    assert ann_store_topk(
        spark, store, [1.0, 0.0], k=5, nprobe=1
    ).collect() == []
    assert ann_store_topk_quantized(
        spark, store, [1.0, 0.0], k=5, nprobe=1
    ).collect() == []
    assert ann_store_read(spark, store).collect() == []
    qdf = spark.createDataFrame(
        [(100, [1.0, 0.0])], "query_id long, embedding array<float>"
    )
    assert ann_store_knn_join(spark, store, qdf, k=3).collect() == []
    assert compact_ann_store(spark, store) == 0
    ann_index_update(
        spark, store,
        spark.createDataFrame(
            [(0, [1.0, 0.0]), (1, [-0.9, 0.1])], schema
        ),
        2, n_lists=2, batch_key="backfill",
    )
    got = {r["vec_id"] for r in
           ann_store_topk(spark, store, [1.0, 0.0], k=5, nprobe=1).collect()}
    assert got == {0}


def test_bottomk_store_split_replay_and_compaction_equivalence(
    spark, tmp_path
):
    """Maintained bottom-k sample store (operators/sketches.py): any
    batch split, an at-least-once replay, AND a compaction all yield
    the exact one-shot sample — the same join-semilattice property the
    KMV store rests on, extended to SAMPLE ROWS (the dedup key is
    (group, id), not the hash: two distinct ids can collide on __h
    without consuming each other's rank slots). Quantiles read from
    the maintained sample equal those read from the batch sample, and
    a simulated crash between the compaction's two renames heals on
    next read."""
    import random as _random

    from visual_asset_management_system_spark.operators.sketches import (
        bottomk_sample,
        bottomk_store_sample,
        bottomk_store_update,
        compact_bottomk_store,
        sample_quantiles,
    )

    rng = _random.Random(11)
    rows = [
        (f"g{i % 2}", f"id_{i}", round(rng.gauss(50.0, 10.0), 3))
        for i in range(900)
    ]
    cols = ["grp", "rid", "val"]
    store = str(tmp_path / "bk_store")
    splits = sorted(rng.sample(range(1, 900), 3)) + [900]
    lo = 0
    for i, hi in enumerate(splits):
        bottomk_store_update(
            spark, store, spark.createDataFrame(rows[lo:hi], cols),
            "rid", k=64, group_cols=["grp"], batch_key=f"b{i}",
        )
        lo = hi
    # replay batch 1 (at-least-once redelivery)
    bottomk_store_update(
        spark, store,
        spark.createDataFrame(rows[splits[0]: splits[1]], cols),
        "rid", k=64, group_cols=["grp"], batch_key="b1-replay",
    )

    def key_set(df):
        return {(r["grp"], r["rid"]) for r in df.collect()}

    batch_sample = bottomk_sample(
        spark.createDataFrame(rows, cols), "rid", 64, ["grp"]
    )
    want = key_set(batch_sample)
    assert len(want) == 2 * 64
    got = bottomk_store_sample(spark, store, "rid", 64, ["grp"])
    assert key_set(got) == want
    want_q = {
        r["grp"]: (r["q0_5"], r["q0_9"])
        for r in sample_quantiles(
            batch_sample, "val", [0.5, 0.9], ["grp"]
        ).collect()
    }
    got_q = {
        r["grp"]: (r["q0_5"], r["q0_9"])
        for r in sample_quantiles(got, "val", [0.5, 0.9], ["grp"]).collect()
    }
    assert got_q == want_q

    n = compact_bottomk_store(spark, store, "rid", 64, ["grp"])
    assert n <= 2 * 64
    assert key_set(
        bottomk_store_sample(spark, store, "rid", 64, ["grp"])
    ) == want
    # a replayed append AFTER compaction is absorbed by the merge
    bottomk_store_update(
        spark, store,
        spark.createDataFrame(rows[splits[0]: splits[1]], cols),
        "rid", k=64, group_cols=["grp"], batch_key="b1-replay2",
    )
    assert key_set(
        bottomk_store_sample(spark, store, "rid", 64, ["grp"])
    ) == want

    # crash window: store moved aside, replacement not yet in place
    d = os.path.join(store, "sample")
    os.replace(d, d + ".old")
    assert key_set(
        bottomk_store_sample(spark, store, "rid", 64, ["grp"])
    ) == want

    # k is store FORMAT: a read beyond the smallest append bound must
    # REFUSE (segments appended at k=64 cannot carry a 65th row — a
    # k=128 read would silently under-fill), while a SMALLER k stays
    # exact by the semilattice property
    import pytest as _pytest

    with _pytest.raises(ValueError, match="k=128"):
        bottomk_store_sample(spark, store, "rid", 128, ["grp"])
    assert key_set(
        bottomk_store_sample(spark, store, "rid", 32, ["grp"])
    ) == key_set(
        bottomk_sample(spark.createDataFrame(rows, cols), "rid", 32, ["grp"])
    )
    # group_cols and salt are format too: a global-grouping compaction
    # would DELETE every other group's rows; a different-salt append
    # would store incomparable ranks — both must refuse at the seam
    with _pytest.raises(ValueError, match="group_cols"):
        compact_bottomk_store(spark, store, "rid", 32, group_cols=None)
    with _pytest.raises(ValueError, match="salt"):
        bottomk_store_update(
            spark, store, spark.createDataFrame(rows[:5], cols),
            "rid", k=64, group_cols=["grp"], salt="other",
            batch_key="bx",
        )


def test_kmv_sketch_stream_matches_batch(spark, tmp_path):
    """Streaming form: two micro-batches through start_kmv_sketch_stream
    leave a store whose sketch equals the one-shot batch sketch."""
    from visual_asset_management_system_spark.operators.sketches import (
        kmv_sketch,
        kmv_store_sketch,
        start_kmv_sketch_stream,
    )

    docs_dir = str(tmp_path / "kmv_in")
    os.makedirs(docs_dir)
    store = str(tmp_path / "kmv_stream_store")
    ckpt = str(tmp_path / "kmv_ckpt")

    def write_batch(name, rows):
        with open(os.path.join(docs_dir, name), "w") as f:
            for seg, key in rows:
                f.write(json.dumps({"seg": seg, "key": key}) + "\n")

    b1 = [("s1", f"k{i}") for i in range(120)]
    b2 = [("s1", f"k{i}") for i in range(80, 260)] + [
        ("s2", f"k{i}") for i in range(40)
    ]
    write_batch("b1.json", b1)
    q = start_kmv_sketch_stream(
        spark, docs_dir, store, ckpt, "seg string, key string", "key",
        ["seg"], k=16,
    )
    q.awaitTermination(120)
    write_batch("b2.json", b2)
    q2 = start_kmv_sketch_stream(
        spark, docs_dir, store, ckpt, "seg string, key string", "key",
        ["seg"], k=16,
    )
    q2.awaitTermination(120)

    want = {
        r["seg"]: list(r["kmv"])
        for r in kmv_sketch(
            spark.createDataFrame(b1 + b2, ["seg", "key"]), "key", ["seg"],
            k=16,
        ).collect()
    }
    got = {
        r["seg"]: list(r["kmv"])
        for r in kmv_store_sketch(spark, store, ["seg"], k=16).collect()
    }
    assert got == want


def test_bottomk_store_corrupt_sidecar_refuses(spark, tmp_path):
    """A corrupt (not merely missing) sample_k.json must RAISE, not
    validate nothing: a silent pass would let the next record=True
    append overwrite the sidecar with min_k=k, erasing a historically
    smaller bound, after which a larger-k read silently under-fills —
    the failure class the ANN sidecar already refused (the r12
    advisory)."""
    import pytest as _pytest

    from visual_asset_management_system_spark.operators.sketches import (
        bottomk_store_sample,
        bottomk_store_update,
    )

    store = str(tmp_path / "bk_corrupt")
    kv = spark.createDataFrame(
        [("g", f"id{i}", float(i)) for i in range(20)],
        "grp string, rid string, val double",
    )
    bottomk_store_update(
        spark, store, kv, "rid", k=8, group_cols=["grp"], batch_key="b0"
    )
    with open(os.path.join(store, "sample_k.json"), "w") as f:
        f.write("{not json")
    with _pytest.raises(ValueError, match="corrupt sidecar"):
        bottomk_store_sample(spark, store, "rid", 8, ["grp"])
    with _pytest.raises(ValueError, match="corrupt sidecar"):
        bottomk_store_update(
            spark, store, kv, "rid", k=8, group_cols=["grp"],
            batch_key="b1",
        )


def test_bottomk_sample_stream_matches_batch(spark, tmp_path):
    """Streaming form: two micro-batches through
    start_bottomk_sample_stream leave a store whose merged sample
    equals the one-shot batch sample (the KMV stream contract,
    extended to sample rows)."""
    from visual_asset_management_system_spark.operators.sketches import (
        bottomk_sample,
        bottomk_store_sample,
        start_bottomk_sample_stream,
    )

    docs_dir = str(tmp_path / "bk_in")
    os.makedirs(docs_dir)
    store = str(tmp_path / "bk_stream_store")
    ckpt = str(tmp_path / "bk_ckpt")
    schema = "grp string, rid string, val double"

    def write_batch(name, rows):
        with open(os.path.join(docs_dir, name), "w") as f:
            for g, r, v in rows:
                f.write(json.dumps({"grp": g, "rid": r, "val": v}) + "\n")

    b1 = [("g0", f"id_{i}", float(i % 37)) for i in range(150)]
    b2 = [("g1", f"id_{i}", float(i % 11)) for i in range(150, 400)]
    for name, rows in (("b1.json", b1), (None, None)):
        if name:
            write_batch(name, rows)
        q = start_bottomk_sample_stream(
            spark, docs_dir, store, ckpt, schema, "rid", k=32,
            group_cols=["grp"],
        )
        q.awaitTermination(120)
        if name == "b1.json":
            write_batch("b2.json", b2)

    want = {
        (r["grp"], r["rid"])
        for r in bottomk_sample(
            spark.createDataFrame(b1 + b2, ["grp", "rid", "val"]),
            "rid", 32, ["grp"],
        ).collect()
    }
    got = {
        (r["grp"], r["rid"])
        for r in bottomk_store_sample(
            spark, store, "rid", 32, ["grp"]
        ).collect()
    }
    assert got == want


def test_ann_index_stream_matches_batch(spark, tmp_path):
    """Streaming form: two micro-batches through start_ann_index_stream
    (explicit frozen centroids — a live stream must not couple index
    geometry to arrival order) leave a store whose probe equals
    ivf_topk over the union."""
    import numpy as _np

    from visual_asset_management_system_spark.operators.similarity import (
        ann_store_topk,
        ann_store_topk_quantized,
        ivf_topk,
        start_ann_index_stream,
    )

    docs_dir = str(tmp_path / "ann_in")
    os.makedirs(docs_dir)
    store = str(tmp_path / "ann_stream_store")
    ckpt = str(tmp_path / "ann_ckpt")
    schema = "vec_id long, embedding array<float>"
    import random as _random

    rng = _random.Random(13)
    rows = [
        (i, [round(rng.gauss(0, 1), 4) for _ in range(6)]) for i in range(90)
    ]
    cents = _np.asarray([rows[i][1] for i in range(6)], dtype=_np.float64)

    def write_batch(name, rs):
        with open(os.path.join(docs_dir, name), "w") as f:
            for i, v in rs:
                f.write(json.dumps({"vec_id": i, "embedding": v}) + "\n")

    write_batch("b1.json", rows[:40])
    q = start_ann_index_stream(
        spark, docs_dir, store, ckpt, schema, 6, n_lists=6,
        centroids=cents,
    )
    q.awaitTermination(120)
    write_batch("b2.json", rows[40:])
    q2 = start_ann_index_stream(
        spark, docs_dir, store, ckpt, schema, 6, n_lists=6,
        centroids=cents,
    )
    q2.awaitTermination(120)

    got = [
        (r["vec_id"], r["cosine_sim"])
        for r in ann_store_topk(
            spark, store, rows[0][1], k=8, nprobe=2
        ).collect()
    ]
    want = [
        (r["vec_id"], r["cosine_sim"])
        for r in ivf_topk(
            spark.createDataFrame(rows, schema), rows[0][1], cents,
            k=8, nprobe=2,
        ).collect()
    ]
    assert got == want
    # the stream path maintains the SQ8 sidecar too (ann_index_update
    # per micro-batch): quantized probe ≡ exact probe ≡ batch form
    quant = [
        (r["vec_id"], r["cosine_sim"])
        for r in ann_store_topk_quantized(
            spark, store, rows[0][1], k=8, nprobe=2, rerank=100
        ).collect()
    ]
    assert quant == want


def test_ann_probe_list_fold_driver_jvm_bit_equality(spark):
    """The r13 fold alignment's claim, pinned on random vectors: the
    driver-side _sqdist_fold accumulates bit-identically to the JVM
    zip_with/aggregate fold (_nearest_list's expression), so the
    single-vector probe's driver-chosen lists and the batched probe's
    JVM-chosen lists can never diverge — even on centroids constructed
    to have near-tied distances."""
    import random as _random

    import numpy as _np
    from pyspark.sql import functions as F

    from visual_asset_management_system_spark.operators.similarity import (
        _nearest_list,
        _sqdist_fold,
    )

    rng = _random.Random(41)
    dim, n_cents, n_vecs = 16, 8, 60
    cents = _np.asarray(
        [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(n_cents)]
    )
    # half random, half near-tied: vectors sitting ~midway between two
    # centroids, where a ULP of accumulation difference flips argmin
    vecs = [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(n_vecs // 2)]
    for i in range(n_vecs // 2):
        a, b = cents[i % n_cents], cents[(i + 1) % n_cents]
        vecs.append(
            [
                (float(x) + float(y)) / 2.0 + rng.gauss(0, 1e-13)
                for x, y in zip(a, b)
            ]
        )
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    jvm = {
        r["vec_id"]: r["l"]
        for r in df.select(
            "vec_id", _nearest_list(F.col("embedding"), cents).alias("l")
        ).collect()
    }
    for i, v in enumerate(vecs):
        d2 = _sqdist_fold(cents, v)
        drv = min(range(n_cents), key=lambda j: (d2[j], j))
        assert drv == jvm[i], (i, d2)


def test_ann_knn_join_stream_matches_batch(spark, tmp_path):
    """Streaming form of the batched probe (r12 verdict task 5): query
    vectors arriving as two micro-batches through
    start_ann_knn_join_stream land per-batch result partitions whose
    union equals one batch ann_store_knn_join over all queries — and a
    replayed micro-batch overwrites its own partition with identical
    rows (the probe is read-only; idempotent without crash ordering)."""
    from visual_asset_management_system_spark.operators.similarity import (
        ann_store_knn_join,
        start_ann_knn_join_stream,
    )

    store, rows, schema = _mk_ann_store(spark, tmp_path)
    qdir = str(tmp_path / "knn_q_in")
    os.makedirs(qdir)
    results = str(tmp_path / "knn_results")
    ckpt = str(tmp_path / "knn_ckpt")
    qrows = [(100 + i, rows[i][1]) for i in range(8)]

    def write_batch(name, rs):
        with open(os.path.join(qdir, name), "w") as f:
            for i, v in rs:
                f.write(json.dumps({"query_id": i, "embedding": v}) + "\n")

    write_batch("q1.json", qrows[:5])
    start_ann_knn_join_stream(
        spark, qdir, store, results, ckpt, k=5, nprobe=2,
    ).awaitTermination(120)
    write_batch("q2.json", qrows[5:])
    start_ann_knn_join_stream(
        spark, qdir, store, results, ckpt, k=5, nprobe=2,
    ).awaitTermination(120)

    def read_results():
        return {
            (r["query_id"], r["vec_id"], r["cosine_sim"], r["rank"])
            for r in spark.read.parquet(results).collect()
        }

    got = read_results()
    want = {
        (r["query_id"], r["vec_id"], r["cosine_sim"], r["rank"])
        for r in ann_store_knn_join(
            spark, store,
            spark.createDataFrame(qrows, "query_id long, embedding array<float>"),
            k=5, nprobe=2,
        ).collect()
    }
    assert got == want
    assert len(got) == 8 * 5

    # at-least-once replay: wipe the checkpoint so the same files
    # re-deliver; partitions are overwritten with identical rows
    import shutil

    shutil.rmtree(ckpt)
    start_ann_knn_join_stream(
        spark, qdir, store, results, ckpt, k=5, nprobe=2,
    ).awaitTermination(120)
    assert read_results() == want

    # index updates interleaving with query batches: a later
    # micro-batch probes the store AS OF its execution (the documented
    # read-only-enrichment semantics) — re-embed id 0 far away, then
    # stream one more query batch and expect the batch-form result
    # against the UPDATED store
    from visual_asset_management_system_spark.operators.similarity import (
        ann_index_update,
    )

    ann_index_update(
        spark, store,
        spark.createDataFrame([(0, [99.0] * 8)], schema),
        8, n_lists=4, batch_key="mid-stream",
    )
    write_batch("q3.json", [(200, rows[1][1])])
    start_ann_knn_join_stream(
        spark, qdir, store, results, ckpt, k=5, nprobe=2,
    ).awaitTermination(120)
    got3 = {
        (r["vec_id"], r["cosine_sim"], r["rank"])
        for r in spark.read.parquet(results).filter(
            F.col("query_id") == 200
        ).collect()
    }
    want3 = {
        (r["vec_id"], r["cosine_sim"], r["rank"])
        for r in ann_store_knn_join(
            spark, store,
            spark.createDataFrame(
                [(200, rows[1][1])], "query_id long, embedding array<float>"
            ),
            k=5, nprobe=2,
        ).collect()
    }
    assert got3 == want3


def test_cms_store_split_replay_compaction_equivalence(spark, tmp_path):
    """Maintained count-min store: additive state with the gram-store
    replay discipline — any batch split plus an at-least-once replay
    plus a compaction (replayable tag excluded) reads back the exact
    grid of the one-shot build; a crash between the compaction's two
    renames heals on next read."""
    import random as _random

    from visual_asset_management_system_spark.operators.sketches import (
        cms_build,
        cms_store_read,
        cms_store_update,
        compact_cms_store,
    )

    rng = _random.Random(11)
    rows = [(f"k{rng.randrange(50)}",) for _ in range(700)]
    store = str(tmp_path / "cms_store")
    splits = sorted(rng.sample(range(1, 700), 2)) + [700]
    lo = 0
    for i, hi in enumerate(splits):
        cms_store_update(
            spark,
            store,
            spark.createDataFrame(rows[lo:hi], ["key"]),
            "key",
            depth=3,
            width=16,
            batch_key=f"b{i}",
        )
        lo = hi
    # replay the LAST batch under its original tag (at-least-once)
    cms_store_update(
        spark,
        store,
        spark.createDataFrame(rows[splits[1] :], ["key"]),
        "key",
        depth=3,
        width=16,
        batch_key="b2",
    )

    def grid(df):
        return {(r["d"], r["c"]): r["cell_cnt"] for r in df.collect()}

    want = grid(
        cms_build(
            spark.createDataFrame(rows, ["key"]), "key", depth=3, width=16
        )
    )
    assert grid(cms_store_read(spark, store)) == want

    # compact excluding the still-replayable tag, then replay it AGAIN
    n = compact_cms_store(spark, store, exclude_tags=("b2",))
    # compacted rows + the excluded tag's rows carried verbatim — which
    # at this point exist TWICE (original append + the replay above);
    # the reader's max-per-(cell, tag) dedup absorbs the duplicates
    assert n <= 3 * 16 * 3
    cms_store_update(
        spark,
        store,
        spark.createDataFrame(rows[splits[1] :], ["key"]),
        "key",
        depth=3,
        width=16,
        batch_key="b2",
    )
    assert grid(cms_store_read(spark, store)) == want

    # crash window between the two renames
    cells = os.path.join(store, "cells")
    os.replace(cells, cells + ".old")
    assert grid(cms_store_read(spark, store)) == want


def test_cms_sketch_stream_matches_batch(spark, tmp_path):
    """Streaming form of the count-min store: two micro-batches leave a
    grid equal to the one-shot build over their union."""
    from visual_asset_management_system_spark.operators.sketches import (
        cms_build,
        cms_store_read,
        start_cms_sketch_stream,
    )

    docs_dir = str(tmp_path / "cms_in")
    os.makedirs(docs_dir)
    store = str(tmp_path / "cms_stream_store")
    ckpt = str(tmp_path / "cms_ckpt")

    def write_batch(name, keys):
        with open(os.path.join(docs_dir, name), "w") as f:
            for k in keys:
                f.write(json.dumps({"key": k}) + "\n")

    b1 = [f"k{i % 9}" for i in range(150)]
    b2 = [f"k{i % 13}" for i in range(100)]
    write_batch("b1.json", b1)
    q = start_cms_sketch_stream(
        spark, docs_dir, store, ckpt, "key string", "key", depth=3, width=16
    )
    q.awaitTermination(120)
    write_batch("b2.json", b2)
    q2 = start_cms_sketch_stream(
        spark, docs_dir, store, ckpt, "key string", "key", depth=3, width=16
    )
    q2.awaitTermination(120)

    def grid(df):
        return {(r["d"], r["c"]): r["cell_cnt"] for r in df.collect()}

    want = grid(
        cms_build(
            spark.createDataFrame([(k,) for k in b1 + b2], ["key"]),
            "key",
            depth=3,
            width=16,
        )
    )
    assert grid(cms_store_read(spark, store)) == want


def _setsim_pairset(df):
    return {
        (r["id_a"], r["id_b"], r["overlap"], r["n_a"], r["n_b"], r["jaccard"])
        for r in df.collect()
    }


def _setsim_corpus():
    """Docs with engineered jaccard structure at tau=0.8: (1,2) J=55/60,
    (3,*) disjoint, (4,5) J=40/50 = exactly 0.8 (the boundary pair the
    integer ceil math must keep), (6) near 4/5 but only at J=30/55<0.8."""
    t = lambda lo, hi: " ".join(f"tok{i}" for i in range(lo, hi))  # noqa: E731
    return [
        (1, t(0, 60)),
        (2, t(0, 55)),
        (3, " ".join(f"word{i}" for i in range(40))),
        (4, t(100, 145)),                      # 45 toks 100..144
        (5, t(105, 150)),                      # 45 toks 105..149, overlap 40
        (6, t(100, 130) + " " + " ".join(f"x{i}" for i in range(25))),
    ]


def test_setsim_index_update_matches_batch_over_any_split(spark, tmp_path):
    """The maintained exact set-similarity index emits, across random
    batch splits, exactly the pair set the batch setsim_join computes
    over the full corpus — zero false negatives incrementally, each
    pair exactly once (when its later doc arrives), including the
    J=0.8 boundary pair."""
    import random as _random

    from visual_asset_management_system_spark.operators.dedup import (
        setsim_join,
    )
    from visual_asset_management_system_spark.operators.setsim_store import (
        setsim_index_update,
    )

    docs = _setsim_corpus()
    full = spark.createDataFrame(docs, "doc_id long, text string")
    want = _setsim_pairset(setsim_join(full, threshold=0.8))
    assert {(p[0], p[1]) for p in want} == {(1, 2), (4, 5)}

    rng = _random.Random(7)
    for trial in range(3):
        order = docs[:]
        rng.shuffle(order)
        cuts = sorted(rng.sample(range(1, len(order)), 2))
        batches = [
            order[: cuts[0]], order[cuts[0] : cuts[1]], order[cuts[1] :]
        ]
        store = str(tmp_path / f"setsim_store_{trial}")
        got = set()
        for i, b in enumerate(batches):
            if not b:
                continue
            pairs = _setsim_pairset(
                setsim_index_update(
                    spark,
                    store,
                    spark.createDataFrame(b, "doc_id long, text string"),
                    threshold=0.8,
                    batch_key=f"b{i}",
                )
            )
            assert not pairs & got, "pair emitted twice"
            got |= pairs
        assert got == want, (trial, batches)


def test_setsim_index_update_replay_and_compaction(spark, tmp_path):
    """At-least-once discipline: replaying a batch under its original
    tag recomputes the identical pair set (its half-applied store rows
    are excluded); compaction preserves subsequent emissions and a
    post-compaction replay is still idempotent; the compaction crash
    window (store swept aside, replacement missing) self-heals."""
    import os as _os

    from visual_asset_management_system_spark.operators.dedup import (
        setsim_join,
    )
    from visual_asset_management_system_spark.operators.setsim_store import (
        compact_setsim_store,
        setsim_index_update,
    )

    docs = _setsim_corpus()
    store = str(tmp_path / "setsim_store")

    def run(rows, key):
        return _setsim_pairset(
            setsim_index_update(
                spark,
                store,
                spark.createDataFrame(rows, "doc_id long, text string"),
                threshold=0.8,
                batch_key=key,
            )
        )

    b1, b2, b3 = docs[:2], docs[2:4], docs[4:]
    got = run(b1, "b1")
    assert {(p[0], p[1]) for p in got} == {(1, 2)}
    # crash-after-append replay of b1: identical emission, store sane
    assert run(b1, "b1") == got

    got |= run(b2, "b2")
    n = compact_setsim_store(spark, store)
    assert n > 0
    # replay b2 AFTER compaction (its tag no longer exists in the
    # store): per-doc rows are idempotent, readers dedup — identical
    # emission, and the store must not double anything
    assert run(b2, "b2") == set()  # b2 had no qualifying partner yet

    got |= run(b3, "b3")
    full = spark.createDataFrame(docs, "doc_id long, text string")
    assert got == _setsim_pairset(setsim_join(full, threshold=0.8))

    # crash window: aside present, store dir missing → reader recovers
    prefix_dir = _os.path.join(store, "prefix")
    _os.rename(prefix_dir, prefix_dir + ".old")
    assert run([(99, " ".join(f"tok{i}" for i in range(0, 58)))], "b4") == {
        p
        for p in _setsim_pairset(
            setsim_join(
                spark.createDataFrame(
                    docs + [(99, " ".join(f"tok{i}" for i in range(0, 58)))],
                    "doc_id long, text string",
                ),
                threshold=0.8,
            )
        )
        if 99 in (p[0], p[1])
    }


def test_setsim_dedup_stream_matches_batch(spark, tmp_path):
    """Streaming wrapper: pairs land in per-batch partitions exactly
    when the later doc arrives; final pair log equals the batch join."""
    from visual_asset_management_system_spark.operators.dedup import (
        setsim_join,
    )
    from visual_asset_management_system_spark.operators.setsim_store import (
        start_setsim_dedup_stream,
    )

    docs = _setsim_corpus()
    docs_dir = str(tmp_path / "ss_docs")
    os.makedirs(docs_dir)
    store = str(tmp_path / "ss_store")
    pairs_dir = str(tmp_path / "ss_pairs")
    ckpt = str(tmp_path / "ss_ckpt")

    def write_docs(name, rows):
        with open(os.path.join(docs_dir, name), "w") as f:
            for did, text in rows:
                f.write(json.dumps({"doc_id": did, "text": text}) + "\n")

    write_docs("b1.json", docs[:3])   # docs 1,2 pair within the batch
    q = start_setsim_dedup_stream(
        spark, docs_dir, store, pairs_dir, ckpt, threshold=0.8
    )
    q.awaitTermination(120)
    got1 = {
        (r["id_a"], r["id_b"])
        for r in spark.read.parquet(pairs_dir).collect()
    }
    assert got1 == {(1, 2)}

    write_docs("b2.json", docs[3:])   # 4-5 pair arrives later
    q2 = start_setsim_dedup_stream(
        spark, docs_dir, store, pairs_dir, ckpt, threshold=0.8
    )
    q2.awaitTermination(120)
    full = spark.createDataFrame(docs, "doc_id long, text string")
    assert _setsim_pairset(spark.read.parquet(pairs_dir).drop("batch")) == (
        _setsim_pairset(setsim_join(full, threshold=0.8))
    )


def test_bloom_store_semilattice_replay_and_compaction(spark, tmp_path):
    """Maintained Bloom store: split ≡ batch (any boundaries), replays
    absorbed for free (semilattice), compaction re-bounds to one row
    per bit and survives its crash window."""
    import os as _os

    from visual_asset_management_system_spark.operators.sketches import (
        bloom_build,
        bloom_store_read,
        bloom_store_update,
        compact_bloom_store,
    )

    rows = [(f"k{i}",) for i in range(300)]
    store = str(tmp_path / "bloom_store")
    mk = lambda rs: spark.createDataFrame(rs, "key string")  # noqa: E731
    bloom_store_update(spark, store, mk(rows[:120]), "key", batch_key="b0")
    bloom_store_update(spark, store, mk(rows[100:]), "key", batch_key="b1")
    # at-least-once replay of b1
    bloom_store_update(spark, store, mk(rows[100:]), "key", batch_key="b1")

    want = {r["bit"] for r in bloom_build(mk(rows), "key").collect()}
    got = {r["bit"] for r in bloom_store_read(spark, store).collect()}
    assert got == want

    n = compact_bloom_store(spark, store)
    assert n == len(want)
    assert {r["bit"] for r in bloom_store_read(spark, store).collect()} == want

    # crash window: bits swept aside, store dir missing -> read recovers
    bits = _os.path.join(store, "bits")
    _os.rename(bits, bits + ".old")
    assert {r["bit"] for r in bloom_store_read(spark, store).collect()} == want


def test_bloom_sketch_stream_matches_batch(spark, tmp_path):
    """Streaming Bloom maintenance: two micro-batches through the
    wrapper produce exactly bloom_build over the concatenated docs."""
    from visual_asset_management_system_spark.operators.sketches import (
        bloom_build,
        bloom_store_read,
        start_bloom_sketch_stream,
    )

    docs_dir = str(tmp_path / "bl_docs")
    os.makedirs(docs_dir)
    store = str(tmp_path / "bl_store")
    ckpt = str(tmp_path / "bl_ckpt")

    def write_docs(name, keys):
        with open(os.path.join(docs_dir, name), "w") as f:
            for k in keys:
                f.write(json.dumps({"key": k}) + "\n")

    write_docs("b1.json", [f"k{i}" for i in range(60)])
    q = start_bloom_sketch_stream(
        spark, docs_dir, store, ckpt, "key string", "key", m=2048, depth=3
    )
    q.awaitTermination(120)
    write_docs("b2.json", [f"k{i}" for i in range(40, 120)])
    q2 = start_bloom_sketch_stream(
        spark, docs_dir, store, ckpt, "key string", "key", m=2048, depth=3
    )
    q2.awaitTermination(120)

    want = {
        r["bit"]
        for r in bloom_build(
            spark.createDataFrame(
                [(f"k{i}",) for i in range(120)], "key string"
            ),
            "key", m=2048, depth=3,
        ).collect()
    }
    got = {r["bit"] for r in bloom_store_read(spark, store).collect()}
    assert got == want
