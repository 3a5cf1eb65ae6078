"""The maintained-store protocol (operators/store.py) under crashes.

Two crash classes every batch-keyed store must survive:

- a crash during a relation's FIRST append leaves only the committer's
  ``_temporary``: the relation must read as empty (not fail schema
  inference), and the replayed batch must leave the store a run with no
  crash would;
- a crash at any commit point of a compaction (after the tmp write,
  between the swap's two renames, after promotion before the aside is
  deleted): the next read must equal the read before the compaction.

Inputs are a handful of rows: the protocol, not the operators, is
under test.
"""

from __future__ import annotations

import json
import os
import shutil
import types

import numpy as np
import pytest

from visual_asset_management_system_spark.operators import (
    corpus,
    dedup,
    setsim_store,
    similarity,
    sketches,
    store,
)
from visual_asset_management_system_spark.streaming import driver


def _text(topic: str) -> str:
    """An English document that passes the corpus lang/quality gate;
    distinct topics share no shingles."""
    return " ".join(
        f"the {topic} and the calm {topic}{i} of the field walk there"
        for i in range(6)
    )


def _docs(spark):
    rows = [(1, _text("fox")), (2, _text("fox")), (3, _text("bird"))]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _keys(spark):
    return spark.createDataFrame(
        [(f"k{i % 5}", float(i)) for i in range(12)], "key string, v double"
    )


def _ann_vecs(spark):
    return spark.createDataFrame(
        [(1, [1.0, 0.1]), (2, [0.9, -0.2]), (3, [-1.0, 0.3])],
        "vec_id long, embedding array<float>",
    )


_CENTS = np.asarray([[1.0, 0.0], [-1.0, 0.0]])


def _rows(df) -> list:
    """A frame's rows as a sorted list of plain tuples (arrays as
    tuples), or [] for an empty store (None)."""
    if df is None:
        return []
    return sorted(
        tuple(tuple(v) if isinstance(v, list) else v for v in r)
        for r in df.collect()
    )


def _untagged(spark, live: str) -> list:
    rows = store.read(spark, live)
    return _rows(None if rows is None else rows.drop(store.TAG).distinct())


def _counts(spark, live: str) -> list:
    rows = store.read(spark, live)
    if rows is None:
        return []
    return _rows(store.additive_merge(rows, ["k"], "c"))


# name -> (first-batch update, store read, the relations it appends in
# order, the artifacts written after them)
_STORES = {
    "kmv": (
        lambda s, d: sketches.kmv_store_update(
            s, d, _keys(s), "key", k=4, batch_key="b0"
        ),
        lambda s, d: _rows(sketches.kmv_store_sketch(s, d, k=4)),
        ["minima"],
        [],
    ),
    "cms": (
        lambda s, d: sketches.cms_store_update(
            s, d, _keys(s), "key", depth=2, width=8, batch_key="b0"
        ),
        lambda s, d: _rows(sketches.cms_store_read(s, d)),
        ["cells"],
        [],
    ),
    "bloom": (
        lambda s, d: sketches.bloom_store_update(
            s, d, _keys(s), "key", m=64, batch_key="b0"
        ),
        lambda s, d: _rows(sketches.bloom_store_read(s, d)),
        ["bits"],
        [],
    ),
    "bottomk": (
        lambda s, d: sketches.bottomk_store_update(
            s, d, _keys(s).dropDuplicates(["key"]), "key", k=3,
            batch_key="b0",
        ),
        lambda s, d: _rows(sketches.bottomk_store_sample(s, d, "key", k=3)),
        ["sample"],
        [],
    ),
    "setsim": (
        lambda s, d: setsim_store.setsim_index_update(
            s, d, _docs(s), 0.5, batch_key="b0"
        ).collect(),
        lambda s, d: [
            _untagged(s, os.path.join(d, rel)) for rel in ("prefix", "arrays")
        ],
        ["prefix", "arrays"],
        [],
    ),
    "gram": (
        lambda s, d: corpus.substring_index_update(
            s, d, _docs(s), min_len=4, min_count=2, batch_key="b0"
        ).collect(),
        lambda s, d: _counts(s, os.path.join(d, "grams")),
        ["grams"],
        [],
    ),
    "corpus": (
        lambda s, d: corpus.corpus_index_update(
            s, d, _docs(s), batch_key="b0"
        ).collect(),
        lambda s, d: [
            _untagged(s, os.path.join(d, rel))
            for rel in ("signatures", "fingerprints")
        ],
        ["signatures", "fingerprints"],
        [],
    ),
    "minhash": (
        lambda s, d: dedup.minhash_index_update(
            s, d, _docs(s), batch_key="b0"
        ).collect(),
        lambda s, d: _untagged(s, d),
        ["."],
        [],
    ),
    "ann": (
        lambda s, d: similarity.ann_index_update(
            s, d, _ann_vecs(s), dim=2, n_lists=2, centroids=_CENTS,
            batch_key="b0",
        ),
        lambda s, d: _rows(similarity.ann_store_read(s, d)),
        ["vectors"],
        ["keys"],
    ),
}


def _crash_first_append(live: str) -> None:
    """Turn a relation's completed first append into what a crash
    before the job commit leaves: its committed task output under
    ``_temporary/0``, nothing listed."""
    task = os.path.join(live, "_temporary", "0", "task_crashed")
    os.makedirs(task)
    for name in os.listdir(live):
        if name == "_SUCCESS":
            os.remove(os.path.join(live, name))
        elif name != "_temporary":
            shutil.move(os.path.join(live, name), task)


@pytest.mark.parametrize("name", sorted(_STORES))
def test_first_append_crash_reads_empty_and_replays(spark, tmp_path, name):
    """A relation holding only ``_temporary`` reads as no data — the
    store reads as if the crashed append had never started (the ANN
    store's reader too) — and replaying the first batch leaves the
    store exactly as an uncrashed run does."""
    update, read, relations, later = _STORES[name]
    clean = str(tmp_path / "clean")
    update(spark, clean)
    want = read(spark, clean)
    assert want and want != [[], []]

    crashed = str(tmp_path / "crashed")
    shutil.copytree(clean, crashed)
    live = os.path.normpath(os.path.join(crashed, relations[-1]))
    for artifact in later:
        shutil.rmtree(os.path.join(crashed, artifact))
    if name == "ann":
        # the crash came after the sequence bump, before any merge
        meta_path = os.path.join(crashed, "ann_meta.json")
        with open(meta_path) as f:
            meta = json.load(f)
        meta.pop("keys_seq")
        with open(meta_path, "w") as f:
            json.dump(meta, f)
    # the same store had the crashed append never started
    never = str(tmp_path / "never")
    shutil.copytree(crashed, never)
    shutil.rmtree(os.path.normpath(os.path.join(never, relations[-1])))
    _crash_first_append(live)
    assert not store.has_data(live)
    assert store.read(spark, live) is None
    assert read(spark, crashed) == read(spark, never)

    update(spark, crashed)
    assert read(spark, crashed) == want


@pytest.mark.parametrize("name", sorted(_STORES))
def test_crashed_append_output_is_not_promoted_by_the_next(
    spark, tmp_path, name
):
    """A crashed append's committed task output left under the
    relation's ``_temporary`` (the first-append crash layout, planted
    into a store that already holds data) never enters the store: the
    next append into the relation promotes its own rows only."""
    update, read, relations, _later = _STORES[name]
    d = str(tmp_path / "store")
    update(spark, d)
    want = read(spark, d)
    live = os.path.normpath(os.path.join(d, relations[-1]))

    crashed = str(tmp_path / "crashed")
    shutil.copytree(live, crashed)
    _crash_first_append(crashed)
    task = os.path.join(crashed, "_temporary", "0", "task_crashed")
    for root, _dirs, files in os.walk(task):
        for f in files:  # names no committed file has
            if f.endswith(".crc"):
                os.remove(os.path.join(root, f))
            else:
                os.rename(os.path.join(root, f), os.path.join(root, "crashed-" + f))
    shutil.move(os.path.join(crashed, "_temporary"), live)

    update(spark, d)  # the next append into the relation
    promoted = [
        f for _root, _dirs, files in os.walk(live) for f in files
        if f.startswith("crashed-")
    ]
    assert promoted == []
    assert read(spark, d) == want


class _Crash(Exception):
    pass


def _crash_at(monkeypatch, op: str, nth: int) -> None:
    """Make the driver's ``nth`` call of ``os.replace`` or
    ``shutil.rmtree`` (``op``) raise instead of running."""
    calls = {"replace": 0, "rmtree": 0}

    def counted(name, real):
        def call(*args, **kwargs):
            calls[name] += 1
            if name == op and calls[name] == nth:
                raise _Crash(f"{name} #{nth}")
            return real(*args, **kwargs)

        return call

    monkeypatch.setattr(
        driver,
        "os",
        types.SimpleNamespace(
            path=os.path, replace=counted("replace", os.replace)
        ),
    )
    monkeypatch.setattr(
        driver,
        "shutil",
        types.SimpleNamespace(rmtree=counted("rmtree", shutil.rmtree)),
    )


# name -> (build, compaction, reads — one per relation, in swap order)
_COMPACTIONS = {
    "kmv": (
        _STORES["kmv"][0],
        lambda s, d: sketches.compact_kmv_store(s, d, k=4),
        [_STORES["kmv"][1]],
    ),
    "cms": (
        _STORES["cms"][0],
        lambda s, d: sketches.compact_cms_store(s, d),
        [_STORES["cms"][1]],
    ),
    "bloom": (
        _STORES["bloom"][0],
        lambda s, d: sketches.compact_bloom_store(s, d),
        [_STORES["bloom"][1]],
    ),
    "bottomk": (
        _STORES["bottomk"][0],
        lambda s, d: sketches.compact_bottomk_store(s, d, "key", k=3),
        [_STORES["bottomk"][1]],
    ),
    "setsim": (
        _STORES["setsim"][0],
        lambda s, d: setsim_store.compact_setsim_store(s, d),
        [
            lambda s, d: _untagged(s, os.path.join(d, "prefix")),
            lambda s, d: _untagged(s, os.path.join(d, "arrays")),
        ],
    ),
    "gram": (
        _STORES["gram"][0],
        lambda s, d: corpus.compact_gram_store(s, d),
        [_STORES["gram"][1]],
    ),
    "ann": (
        _STORES["ann"][0],
        lambda s, d: similarity.compact_ann_store(s, d),
        [_STORES["ann"][1]],
    ),
}

#: a compaction's commit points, as the driver call that crashes for
#: the relation rewritten ``j``-th: (op, nth call)
_COMMIT_POINTS = {
    "after the tmp write": lambda j: ("replace", 2 * j + 1),
    "between the two renames": lambda j: ("replace", 2 * j + 2),
    "after promotion, before the aside is deleted": lambda j: (
        "rmtree",
        2 * j + 2,
    ),
}


@pytest.mark.parametrize("name", sorted(_COMPACTIONS))
def test_compaction_crash_at_every_commit_point(
    spark, tmp_path, monkeypatch, name
):
    """For every relation a compaction rewrites, a crash at each commit
    point leaves a store whose next read equals the read before the
    compaction: the tmp copy is never read, and recover_dir restores a
    relation caught between the renames."""
    build, compaction, reads = _COMPACTIONS[name]
    d = str(tmp_path / name)
    build(spark, d)
    before = [read(spark, d) for read in reads]
    assert all(before)
    for j, read in enumerate(reads):
        for point, crash in _COMMIT_POINTS.items():
            with monkeypatch.context() as m:
                _crash_at(m, *crash(j))
                with pytest.raises(_Crash):
                    compaction(spark, d)
            assert read(spark, d) == before[j], f"relation {j}, {point}"


def test_json_sidecar_commits_fsync_before_the_rename(
    spark, tmp_path, monkeypatch
):
    """Every JSON commit a store makes — the ANN sequence bump and its
    ``keys_seq`` watermark, the bottom-k bound, a CDC sink's manifest —
    fsyncs its temp file right before renaming it onto the live name:
    a power loss cannot leave an empty sidecar, which the strict
    sidecar checks would refuse."""
    from pyspark.sql import functions as F

    from visual_asset_management_system_spark.streaming import cdc

    events = []
    real_fsync, real_replace = os.fsync, os.replace

    def fsync(fd):
        events.append("fsync")
        return real_fsync(fd)

    def replace(src, dst, *args, **kwargs):
        events.append(os.path.basename(dst))
        return real_replace(src, dst, *args, **kwargs)

    monkeypatch.setattr(os, "fsync", fsync)
    monkeypatch.setattr(os, "replace", replace)
    _STORES["ann"][0](spark, str(tmp_path / "ann"))
    _STORES["bottomk"][0](spark, str(tmp_path / "bottomk"))
    cdc.apply_cdc_batch(
        spark.createDataFrame(
            [("db", "a1", "INSERT")],
            "database_id string, asset_id string, event_name string",
        ),
        lambda keys: keys.withColumn("doc", F.lit("x")),
        str(tmp_path / "sink"),
    )
    commits = [i for i, e in enumerate(events) if e.endswith(".json")]
    assert [events[i] for i in commits] == [
        "ann_meta.json",  # the sequence bump
        "ann_meta.json",  # keys_seq
        "sample_k.json",
        "_manifest.json",
    ]
    assert all(events[i - 1] == "fsync" for i in commits), events
