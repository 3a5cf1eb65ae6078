"""Structural lint for the STREAMING batch bodies (VERDICT r9 #4).

test_plan_lint.py gates the 188+ registered batch queries; the
foreachBatch handlers (minhash/substring/corpus/kmv/cms/setsim stores,
suggest maintenance, percolation, trending rank) were equivalence- and
replay-tested but their per-batch plan structure was only asserted ad
hoc. Each case here runs ONE representative micro-batch in batch mode
— with checkpointing.disabled() so the lineage cuts the handlers
insert for crash ordering don't hide the upstream tree — and pins the
plan against a committed baseline: Exchange count and FileScan-parquet
count must not GROW (the repeated-subtree / lost-pushdown classes), and
handlers whose scale story requires broadcasting the batch side must
actually contain a BroadcastExchange.

The micro-batches are deliberately non-degenerate (the corpus batch
holds one near-dup reject AND one accept; stores are pre-seeded with a
prior batch) — AQE's empty-relation propagation would otherwise erase
the very subtrees being audited.
"""

from __future__ import annotations

import ast
import datetime
import os

import pytest

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from visual_asset_management_system_spark.operators import checkpointing
from visual_asset_management_system_spark.plans.audit import (
    exchange_count,
    final_section,
)

#: committed per-handler baseline (measured on the round-10 code):
#: exchanges/scans are CEILINGS (growth fails), min_broadcasts a FLOOR
#: where the handler's 100 TB posture claims a broadcast batch side.
_BASELINE = {
    # minhash/corpus: candidates are verified on the band-join rows, so
    # the signature store is scanned once; corpus marks and anti-joins
    # its rejects in broadcast passes, shuffling neither side
    "minhash_update": {"exchanges": 4, "scans": 1, "min_broadcasts": 1},
    "substring_update": {"exchanges": 7, "scans": 1, "min_broadcasts": 1},
    "corpus_update": {"exchanges": 7, "scans": 1, "min_broadcasts": 1},
    "kmv_read": {"exchanges": 1, "scans": 1, "min_broadcasts": 0},
    "cms_read": {"exchanges": 2, "scans": 1, "min_broadcasts": 0},
    "bloom_read": {"exchanges": 1, "scans": 1, "min_broadcasts": 0},
    # bottomk: dedup shuffle + the per-group WindowGroupLimit shuffle
    "bottomk_read": {"exchanges": 2, "scans": 1, "min_broadcasts": 0},
    # ann: TWO scans by design — the MAINTAINED live-key relation
    # (keys/, one row per live id, pruned to the probed list
    # partitions; upsert-correctness lives in the merge that builds
    # it, a re-embedded id's key row moves lists with its vector) +
    # the vector fetch pruned to the same partitions; the key
    # semi-join broadcasts and the only shuffle is the byte-dup
    # dropDuplicates. A third scan appearing means the probe fell
    # back to the store-wide thin winner pass (stale keys path) —
    # that path is for crash healing only, never the steady state.
    "ann_read": {"exchanges": 1, "scans": 2, "min_broadcasts": 1},
    # ann_knn_join (the streaming wrapper's batch body): the same TWO
    # pruned scans as ann_read, the broadcast QUERY side (the knn_join
    # discipline) plus the broadcast key semi-join, and exactly two
    # shuffles — the byte-dup dropDuplicates and the per-query
    # WindowGroupLimit partitionBy(query_id). A third scan means the
    # live-key fallback ran; a third exchange means the top-k fell
    # into a global sort or the query side lost its broadcast.
    "ann_knn_join": {"exchanges": 2, "scans": 2, "min_broadcasts": 2},
    "setsim_update": {"exchanges": 8, "scans": 2, "min_broadcasts": 1},
    # suggest: r14 measured a stable 5 after candidate selection became
    # a broadcast semi-join on the 1-char affected-prefix closure
    # (was 8-or-9 with the full-dictionary distinct + prefix explode);
    # ceiling keeps the +1 headroom of the old AQE
    # broadcast<->shuffle seam. Broadcast floor raised to 2: the
    # affected-prefix set AND its 1-char slice must both broadcast —
    # either falling to a shuffle means the store-sized side is being
    # repartitioned per batch
    "suggest_update": {"exchanges": 6, "scans": 3, "min_broadcasts": 2},
    "percolate": {"exchanges": 2, "scans": 0, "min_broadcasts": 1},
    "trending_rank": {"exchanges": 1, "scans": 1, "min_broadcasts": 0},
}

_BODY = " ".join(f"tok{i}" for i in range(60))
_NEAR = " ".join(f"tok{i}" for i in range(55))
_OTHER = " ".join(f"word{i}" for i in range(60))
_ENG = (
    "the quick brown fox jumps over the lazy dog and runs through "
    "the green field near the quiet river every single morning"
)
_ENG2 = (
    "a small red truck drives along the dusty mountain road while "
    "the bright summer sun rises over the distant hills today"
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _build_minhash_update(spark, tmp):
    from visual_asset_management_system_spark.operators.dedup import (
        minhash_index_update,
    )

    st = os.path.join(tmp, "mh")
    minhash_index_update(
        spark, st, _docs(spark, [(1, _BODY), (2, _OTHER)]), batch_key="b0"
    ).collect()
    return minhash_index_update(
        spark, st, _docs(spark, [(3, _NEAR)]), batch_key="b1"
    )


def _build_substring_update(spark, tmp):
    from visual_asset_management_system_spark.operators.corpus import (
        substring_index_update,
    )

    st = os.path.join(tmp, "ss")
    substring_index_update(
        spark, st, _docs(spark, [(1, "a w1 w2 w3 w4 b")]),
        min_len=4, min_count=2, batch_key="b0",
    ).collect()
    return substring_index_update(
        spark, st, _docs(spark, [(2, "c w1 w2 w3 w4 d")]),
        min_len=4, min_count=2, batch_key="b1",
    )


def _build_corpus_update(spark, tmp):
    from visual_asset_management_system_spark.operators.corpus import (
        corpus_index_update,
    )

    st = os.path.join(tmp, "cb")
    corpus_index_update(
        spark, st, _docs(spark, [(1, _ENG)]), batch_key="b0"
    ).collect()
    eng_near = " ".join(_ENG.split()[:-2])
    out = corpus_index_update(
        spark, st, _docs(spark, [(2, eng_near), (3, _ENG2)]), batch_key="b1"
    )
    assert sorted(r["doc_id"] for r in out.collect()) == [3]
    return out


def _build_kmv_read(spark, tmp):
    from visual_asset_management_system_spark.operators.sketches import (
        kmv_store_sketch,
        kmv_store_update,
    )

    st = os.path.join(tmp, "kmv")
    kv = spark.createDataFrame([(f"k{i}",) for i in range(100)], "key string")
    kmv_store_update(spark, st, kv, "key", batch_key="b0")
    kmv_store_update(spark, st, kv, "key", batch_key="b1")
    return kmv_store_sketch(spark, st)


def _build_cms_read(spark, tmp):
    from visual_asset_management_system_spark.operators.sketches import (
        cms_store_read,
        cms_store_update,
    )

    st = os.path.join(tmp, "cms")
    kv = spark.createDataFrame([(f"k{i}",) for i in range(100)], "key string")
    cms_store_update(spark, st, kv, "key", batch_key="b0")
    cms_store_update(spark, st, kv, "key", batch_key="b1")
    return cms_store_read(spark, st)


def _build_ann_read(spark, tmp):
    from visual_asset_management_system_spark.operators.similarity import (
        ann_index_update,
        ann_store_topk,
    )

    st = os.path.join(tmp, "ann")
    rows = [(i, [float((i * 7 + j) % 13) for j in range(8)]) for i in range(40)]
    schema = "vec_id long, embedding array<float>"
    ann_index_update(
        spark, st, spark.createDataFrame(rows[:20], schema), 8,
        n_lists=4, batch_key="b0",
    )
    ann_index_update(
        spark, st, spark.createDataFrame(rows[20:], schema), 8,
        n_lists=4, batch_key="b1",
    )
    return ann_store_topk(spark, st, rows[0][1], k=5, nprobe=2)


def _build_ann_knn_join(spark, tmp):
    from visual_asset_management_system_spark.operators.similarity import (
        ann_index_update,
        ann_store_knn_join,
    )

    st = os.path.join(tmp, "annkj")
    rows = [(i, [float((i * 7 + j) % 13) for j in range(8)]) for i in range(40)]
    schema = "vec_id long, embedding array<float>"
    ann_index_update(
        spark, st, spark.createDataFrame(rows[:20], schema), 8,
        n_lists=4, batch_key="b0",
    )
    ann_index_update(
        spark, st, spark.createDataFrame(rows[20:], schema), 8,
        n_lists=4, batch_key="b1",
    )
    qdf = spark.createDataFrame(
        [(100 + i, rows[i][1]) for i in range(3)],
        "query_id long, embedding array<float>",
    )
    return ann_store_knn_join(spark, st, qdf, k=5, nprobe=2)


def _build_bottomk_read(spark, tmp):
    from visual_asset_management_system_spark.operators.sketches import (
        bottomk_store_sample,
        bottomk_store_update,
    )

    st = os.path.join(tmp, "bk")
    kv = spark.createDataFrame(
        [(f"g{i % 2}", f"id{i}", float(i)) for i in range(100)],
        "grp string, rid string, val double",
    )
    bottomk_store_update(
        spark, st, kv, "rid", k=16, group_cols=["grp"], batch_key="b0"
    )
    bottomk_store_update(
        spark, st, kv, "rid", k=16, group_cols=["grp"], batch_key="b1"
    )
    return bottomk_store_sample(spark, st, "rid", 16, ["grp"])


def _build_bloom_read(spark, tmp):
    from visual_asset_management_system_spark.operators.sketches import (
        bloom_store_read,
        bloom_store_update,
    )

    st = os.path.join(tmp, "bloom")
    kv = spark.createDataFrame([(f"k{i}",) for i in range(100)], "key string")
    bloom_store_update(spark, st, kv, "key", batch_key="b0")
    bloom_store_update(spark, st, kv, "key", batch_key="b1")
    return bloom_store_read(spark, st)


def _build_setsim_update(spark, tmp):
    from visual_asset_management_system_spark.operators.setsim_store import (
        setsim_index_update,
    )

    st = os.path.join(tmp, "sets")
    setsim_index_update(
        spark, st, _docs(spark, [(1, _BODY), (2, _OTHER)]),
        threshold=0.8, batch_key="b0",
    ).collect()
    return setsim_index_update(
        spark, st, _docs(spark, [(3, _NEAR)]), threshold=0.8, batch_key="b1"
    )


def _build_suggest_update(spark, tmp):
    from visual_asset_management_system_spark.operators.inverted_index import (
        suggest_index_update,
    )

    st = os.path.join(tmp, "sug")
    schema = (
        "database_id string, asset_id string, event_name string, "
        "asset_name string"
    )
    suggest_index_update(
        spark, st,
        spark.createDataFrame([("db_1", "a1", "INSERT", "red truck model")], schema),
        "b0",
    ).collect()
    return suggest_index_update(
        spark, st,
        spark.createDataFrame([("db_1", "a2", "INSERT", "red rocket engine")], schema),
        "b1",
    )


def _build_percolate(spark, tmp):
    from visual_asset_management_system_spark.operators.inverted_index import (
        percolate,
    )

    reg = spark.createDataFrame(
        [(1, "red", "truck", "and"), (2, "blue", "sky", "or")],
        "query_id long, term_a string, term_b string, mode string",
    )
    chg = spark.createDataFrame(
        [("db_1", "a1", "red truck here", "desc")],
        "database_id string, asset_id string, asset_name string, "
        "description string",
    )
    return percolate(
        chg, reg, ["database_id", "asset_id"],
        F.concat_ws(" ", F.col("asset_name"), F.col("description")),
    )


def _build_trending_rank(spark, tmp):
    # the growth-ranking join of start_trending_stream's handler body:
    # closed windows vs the maintained counts sink's predecessors
    from visual_asset_management_system_spark.streaming.cdc import (
        apply_cdc_batch,
        read_sink,
    )

    counts_dir = os.path.join(tmp, "trend", "counts")
    t0 = datetime.datetime(2024, 1, 1)

    def win(h):
        return (
            t0 + datetime.timedelta(hours=h),
            t0 + datetime.timedelta(hours=h + 1),
        )

    closed = spark.createDataFrame(
        [(*win(0), "click", 10), (*win(1), "click", 30)],
        "window_start timestamp, window_end timestamp, "
        "event_type string, n_events long",
    )
    apply_cdc_batch(
        closed.withColumn("event_name", F.lit("MODIFY")),
        lambda keys: closed.join(
            keys, ["window_start", "event_type"], "left_semi"
        ),
        counts_dir,
        ["window_start", "event_type"],
    )
    prev = read_sink(spark, counts_dir).select(
        F.col("window_end").alias("prev_end"),
        F.col("event_type").alias("prev_type"),
        F.col("n_events").alias("prev_n"),
    )
    scored = (
        closed.join(
            prev,
            (F.col("window_start") == F.col("prev_end"))
            & (F.col("event_type") == F.col("prev_type")),
        )
        .filter(F.col("prev_n") >= 5)
        .withColumn(
            "growth",
            (F.col("n_events") - F.col("prev_n")).cast("double")
            / F.col("prev_n"),
        )
    )
    wd = W.partitionBy("window_start").orderBy(F.desc("growth"), "event_type")
    return (
        scored.withColumn("rnk", F.row_number().over(wd))
        .filter(F.col("rnk") <= 3)
    )


_BUILDERS = {
    "minhash_update": _build_minhash_update,
    "substring_update": _build_substring_update,
    "corpus_update": _build_corpus_update,
    "kmv_read": _build_kmv_read,
    "cms_read": _build_cms_read,
    "bloom_read": _build_bloom_read,
    "bottomk_read": _build_bottomk_read,
    "ann_read": _build_ann_read,
    "ann_knn_join": _build_ann_knn_join,
    "setsim_update": _build_setsim_update,
    "suggest_update": _build_suggest_update,
    "percolate": _build_percolate,
    "trending_rank": _build_trending_rank,
}


@pytest.mark.parametrize("name", sorted(_BASELINE))
def test_streaming_batch_body_plan_structure(spark, name, tmp_path):
    base = _BASELINE[name]

    def measure(workdir):
        with checkpointing.disabled():
            df = _BUILDERS[name](spark, workdir)
            df.collect()
            plan = df._jdf.queryExecution().executedPlan().toString()
        fin = final_section(plan)
        return (
            exchange_count(plan),
            fin.count("FileScan parquet"),
            fin.count("BroadcastExchange"),
        )

    ex, scans, bcasts = measure(str(tmp_path))
    if ex > base["exchanges"] or scans > base["scans"]:
        # the scan lint's warm-retry discipline: AQE can swap a
        # broadcast for a shuffle run-to-run (observed: suggest_update
        # at 8 or 9 exchanges with identical code) — re-measure in a
        # fresh store before judging, and fail only if BOTH runs grew
        ex2, scans2, bcasts2 = measure(str(tmp_path / "retry"))
        ex, scans, bcasts = min(ex, ex2), min(scans, scans2), max(bcasts, bcasts2)
    assert ex <= base["exchanges"], (
        f"{name}: {ex} exchanges (baseline {base['exchanges']}) — a new "
        "shuffle crept into the per-batch plan"
    )
    assert scans <= base["scans"], (
        f"{name}: {scans} parquet scans (baseline {base['scans']}) — the "
        "batch body re-reads its store"
    )
    assert bcasts >= base["min_broadcasts"], (
        f"{name}: {bcasts} broadcasts — the batch side lost its "
        "broadcast (the store would shuffle at 100 TB)"
    )


#: the one module that may start a streaming query or swap a store
#: directory (the micro-batch driver + the two-rename swap)
_DRIVER_MODULE = os.path.join("streaming", "driver.py")


def _replaces_onto_old(tree) -> list[int]:
    """Line numbers of ``os.replace(src, dst)`` calls whose destination
    is a ``".old"`` path — either a literal ``... + ".old"`` expression
    or a name bound to one earlier in the module."""

    def mentions_old(node) -> bool:
        return any(
            isinstance(n, ast.Constant) and n.value == ".old"
            for n in ast.walk(node)
        )

    old_names = {
        t.id
        for n in ast.walk(tree)
        if isinstance(n, ast.Assign) and mentions_old(n.value)
        for t in n.targets
        if isinstance(t, ast.Name)
    }
    hits = []
    for n in ast.walk(tree):
        if not (
            isinstance(n, ast.Call)
            and isinstance(n.func, ast.Attribute)
            and n.func.attr == "replace"
            and isinstance(n.func.value, ast.Name)
            and n.func.value.id in ("os", "_os")
            and len(n.args) == 2
        ):
            continue
        dst = n.args[1]
        if mentions_old(dst) or (
            isinstance(dst, ast.Name) and dst.id in old_names
        ):
            hits.append(n.lineno)
    return hits


def test_stream_and_swap_protocols_live_in_the_driver_module():
    """Every start_*_stream wrapper goes through
    streaming/driver.run_micro_batches and every store rewrite through
    swap_dir/recover_dir: no other package module may start a
    streaming write, pick a trigger, or rename a directory onto its
    ``.old`` aside. A new store that copies the loop or the swap
    inline fails here."""
    import visual_asset_management_system_spark as pkg

    root = os.path.dirname(pkg.__file__)
    offenders = []
    for dirpath, _dirs, files in os.walk(root):
        for f in sorted(files):
            if not f.endswith(".py"):
                continue
            path = os.path.join(dirpath, f)
            rel = os.path.relpath(path, root)
            if rel == _DRIVER_MODULE:
                continue
            with open(path) as fh:
                src = fh.read()
            for token in ("writeStream", "availableNow"):
                if token in src:
                    offenders.append(f"{rel}: contains {token}")
            for line in _replaces_onto_old(ast.parse(src)):
                offenders.append(f"{rel}:{line}: os.replace onto a .old path")
    assert not offenders, "\n".join(offenders)
    assert os.path.isfile(os.path.join(root, _DRIVER_MODULE))


#: the one module that owns the maintained-store protocol (tagged
#: append, replay-excluding read, compaction and rewrite)
_STORE_MODULE = os.path.join("operators", "store.py")


def _store_protocol_offences(tree) -> list[str]:
    """What a module does that only the store protocol may: call
    ``swap_dir`` or ``recover_dir``, name a rewrite's tmp directory,
    append with ``mode("append")``, or put the ``batch_key`` tag column
    on a frame (``withColumn``/``alias``)."""
    hits = []
    for n in ast.walk(tree):
        if isinstance(n, ast.Constant) and isinstance(n.value, str):
            for tmp in (".compact-tmp", ".compact_tmp", ".merge-tmp"):
                if tmp in n.value:
                    hits.append(f"{n.lineno}: {tmp} literal")
        if not isinstance(n, ast.Call):
            continue
        name = getattr(n.func, "attr", getattr(n.func, "id", None))
        if name in ("swap_dir", "recover_dir"):
            hits.append(f"{n.lineno}: calls {name}")
        if (
            name == "mode"
            and n.args
            and isinstance(n.args[0], ast.Constant)
            and n.args[0].value == "append"
        ):
            hits.append(f"{n.lineno}: writes with mode(\"append\")")
        if (
            name in ("withColumn", "alias")
            and n.args
            and isinstance(n.args[0], ast.Constant)
            and n.args[0].value == "batch_key"
        ):
            hits.append(f"{n.lineno}: tags a frame with batch_key")
    return hits


def test_store_protocol_lives_in_the_store_module():
    """Every batch-keyed store appends, reads, compacts and rewrites
    through operators/store.py: no other package module may promote a
    rewrite with swap_dir, heal one with recover_dir, name its tmp
    directory, append with ``mode("append")``, or tag rows with
    ``batch_key`` itself. A store that hand-rolls its own append, read
    or compaction fails here."""
    import visual_asset_management_system_spark as pkg

    root = os.path.dirname(pkg.__file__)
    offenders = []
    for dirpath, _dirs, files in os.walk(root):
        for f in sorted(files):
            path = os.path.join(dirpath, f)
            rel = os.path.relpath(path, root)
            if not f.endswith(".py") or rel == _STORE_MODULE:
                continue
            with open(path) as fh:
                tree = ast.parse(fh.read())
            offenders += [f"{rel}:{h}" for h in _store_protocol_offences(tree)]
    assert not offenders, "\n".join(offenders)
    assert os.path.isfile(os.path.join(root, _STORE_MODULE))
