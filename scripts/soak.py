"""Structural soak (VERDICT r9 #2, extended per r10 #1/#5/#7):
convert the 100 TB posture arguments from plan-structure claims into
measured scaling evidence.

Runs the heaviest headline queries and the maintained-store update
paths at BOTH /root/testdata/sf0.1 and a 10x scaled analog fixture
(scripts/gen_scaled_fixture.py), in ONE Spark session back-to-back (so
host noise hits both sides roughly equally), and records:

- per-query wall seconds at each SF (best of 2 warm runs) and the
  scaling exponent log10(t_sf1 / t_sf01) — 1.0 = linear, <1 =
  sublinear (fixed overheads amortizing), >1 = superlinear (the thing
  the soak hunts);
- per-query executed-plan structure at sf1 vs the committed sf0.001
  baseline (tests/plan_stats_baseline.json) — scans must not grow;
  exchange DIFFS are recorded (AQE legitimately swaps broadcast/SMJ as
  sides outgrow the broadcast threshold, which changes exchange counts:
  that is a finding to document, not an error);
- store-update paths: second-batch update time at batch sizes scaled
  with the corpus (500 docs against a 4.5k store vs 5k against 45k);
- store COMPACTION (r11): wall + post-compaction row count for the
  gram/CMS/KMV/setsim stores built by the update section, at both SFs
  — the maintenance path the r10 soak left unmeasured;
- Bloom prefilter reduction (r11): bloom_prefiltered_anti_join's
  probe-side pruning ratio + exactness vs the plain anti-join;
- setsim candidate surface (r11, step2 at sf3): candidate-pair count
  with and without the PPJoin positional filter, plus the
  q_doc_setsim_join sf1->sf3 wall exponent — r10 measured 1.68 on the
  saturated-vocabulary analog BEFORE the positional filter landed;
- suggest/percolate micro-batch at sf1 (r11): one non-degenerate
  batch through each handler body with the plan-structure ceilings of
  tests/test_streaming_plans.py checked at soak scale, not toy scale.

- ANN probe flatness (r12): probe wall vs appended-batch count, pre/
  post compaction — the maintained live-key relation's evidence that
  probes cost O(live ids in probed lists), not O(ever-appended rows);
- every number adaptive best-of-N (r12): published only when a second
  warm sample lands within 25% (bench.py's rule; stateful steps
  snapshot/restore their store dirs between samples), after SOAK_r11
  carried a self-contradicting single-sample pair.

Writes SOAK_r12.json at the repo root.

Usage: python scripts/soak.py [SF1_DIR] [SF3_DIR]
       (generate fixtures first: scripts/gen_scaled_fixture.py OUT 10 /
        OUT3 30; pass SF3_DIR="" to skip the sf3 step2 section)
"""

from __future__ import annotations

import json
import math
import os
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SOAK_QUERIES = [
    # 12 heaviest headliners by BENCH_r09 normalized time
    "q_doc_setsim_join",
    "q_vams_descendants",
    "q_corpus_build_v2",
    "q_corpus_build",
    "q_vams_pagerank",
    "q_ngram_jaccard_topk",
    "q_minhash_pairs",
    "q_pipeline_preprocess",
    "q21_waiting_supplier",
    "q_embedding_semdedup",
    "q01_pricing_summary",
    "q05_local_supplier_volume",
]


def _bestofn(fn, max_samples: int = 4) -> float:
    """Adaptive best-of-N — bench.py's publication rule, adopted for
    every soak number after SOAK_r11 carried a self-contradicting pair
    (setsim sf1: 56.6 s in one section, 35.7 s re-measured same-run —
    single samples on shared-CPU hosts absorb 10-20x neighbor stalls).
    The min is publishable once a SECOND sample lands within 25% of
    it; while the samples disagree the host is stall-suspect and up to
    ``max_samples`` are taken. Every published number is therefore
    backed by two mutually-consistent warm measurements, or is the
    best of four on a host that never settles."""
    ts: list[float] = []

    def one() -> None:
        t0 = time.time()
        fn()
        ts.append(time.time() - t0)

    one()
    one()
    while len(ts) < max_samples and sum(
        1 for s in ts if s <= min(ts) * 1.25
    ) < 2:
        one()
    return round(min(ts), 3)


def _bestofn_stateful(dirs: list[str], fn, max_samples: int = 4) -> float:
    """The same adaptive rule for STATEFUL steps (store updates,
    compactions): each extra sample first restores ``dirs`` from a
    pristine snapshot, so re-sampling never double-applies a store
    mutation — and the FINAL state is post-``fn``, exactly as if run
    once (the compaction section consumes the update section's
    stores). Snapshot copies are driver-local dir copies of soak-scale
    stores — cheap next to the Spark jobs being timed."""
    import shutil

    snaps = []
    fresh = []  # dirs fn will CREATE: restore = remove them again
    for d in dirs:
        if os.path.isdir(d):
            s = d + ".soaksnap"
            shutil.rmtree(s, ignore_errors=True)
            shutil.copytree(d, s)
            snaps.append((d, s))
        else:
            fresh.append(d)
    ts: list[float] = []

    def one() -> None:
        if ts:  # re-run: restore pristine state first
            for d, s in snaps:
                shutil.rmtree(d, ignore_errors=True)
                shutil.copytree(s, d)
            for d in fresh:
                shutil.rmtree(d, ignore_errors=True)
        t0 = time.time()
        fn()
        ts.append(time.time() - t0)

    try:
        one()
        one()
        while len(ts) < max_samples and sum(
            1 for s in ts if s <= min(ts) * 1.25
        ) < 2:
            one()
    except BaseException:
        # a failed sample may leave the store half-mutated; put the
        # pristine state back before re-raising so downstream sections
        # (compaction consumes the update section's stores) see a
        # consistent store, and repeated soak runs don't accumulate
        # stale .soaksnap dirs
        for d, s in snaps:
            shutil.rmtree(d, ignore_errors=True)
            shutil.copytree(s, d)
        for d in fresh:
            shutil.rmtree(d, ignore_errors=True)
        raise
    finally:
        for _, s in snaps:
            shutil.rmtree(s, ignore_errors=True)
    return round(min(ts), 3)


def _store_updates(
    spark, sf_dir: str, n_docs: int
) -> tuple[dict[str, float], str]:
    """Second-batch update time for each maintained store: seed with
    90% of a documents sample, then time one 10% batch."""
    from pyspark.sql import functions as F

    from visual_asset_management_system_spark.operators.corpus import (
        substring_index_update,
    )
    from visual_asset_management_system_spark.operators.dedup import (
        minhash_index_update,
    )
    from visual_asset_management_system_spark.operators.setsim_store import (
        setsim_index_update,
    )
    from visual_asset_management_system_spark.operators.sketches import (
        cms_store_update,
        kmv_store_update,
    )
    from visual_asset_management_system_spark.queries import tables

    from visual_asset_management_system_spark.operators.dedup import (
        word_shingles,
    )

    # deterministic doc_id filter, not limit(n): limit's row selection
    # is order-nondeterministic, so the seed/batch split could deviate
    # from the intended 90/10 and skew the measured exponents
    docs = (
        tables(spark, sf_dir)["documents"]
        .select("doc_id", "text")
        .filter(F.col("doc_id") < n_docs)
    )
    cut = int(n_docs * 0.9)
    seed = docs.filter(F.col("doc_id") < cut)
    batch = docs.filter(F.col("doc_id") >= cut)
    # the setsim item space must be 3-gram shingles, as in
    # q_doc_setsim_join: this corpus's 31-token vocabulary makes every
    # doc's UNIGRAM set nearly identical, so a raw-token setsim at any
    # threshold is a quadratic pair bomb by construction (see the
    # fixture notes) — shingles are the operator's documented contract
    # for it, not a soak-side convenience
    def shingled(df):
        return df.select(
            "doc_id",
            F.array_sort(
                word_shingles(F.lower(F.col("text")), 3)
            ).alias("g"),
        ).filter(F.size("g") > 0)
    out: dict[str, float] = {}
    base = tempfile.mkdtemp(prefix="soak_stores_")

    st = os.path.join(base, "mh")
    minhash_index_update(spark, st, seed, batch_key="b0").count()
    out["minhash_update"] = _bestofn_stateful(
        [st],
        lambda: minhash_index_update(
            spark, st, batch, batch_key="b1"
        ).count(),
    )

    st = os.path.join(base, "sets")
    setsim_index_update(
        spark, st, shingled(seed), threshold=0.9, id_col="doc_id",
        items_col="g", batch_key="b0",
    ).count()
    out["setsim_update"] = _bestofn_stateful(
        [st],
        lambda: setsim_index_update(
            spark, st, shingled(batch), threshold=0.9, id_col="doc_id",
            items_col="g", batch_key="b1",
        ).count(),
    )

    st = os.path.join(base, "sub")
    substring_index_update(spark, st, seed, batch_key="b0").count()
    out["substring_update"] = _bestofn_stateful(
        [st],
        lambda: substring_index_update(
            spark, st, batch, batch_key="b1"
        ).count(),
    )

    ev = tables(spark, sf_dir)["events"].select("user_id")
    st = os.path.join(base, "kmv")
    kmv_store_update(spark, st, ev, "user_id", batch_key="b0")
    st2 = os.path.join(base, "cms")

    def _sketch_pair(st=st, st2=st2):
        kmv_store_update(spark, st, ev, "user_id", batch_key="b1")
        cms_store_update(spark, st2, ev, "user_id", batch_key="b0")

    out["sketch_updates"] = _bestofn_stateful([st, st2], _sketch_pair)

    # maintained IVF index (r11): seed 90% of the embeddings, time one
    # 10% append against the frozen centroids
    from visual_asset_management_system_spark.operators.similarity import (
        ann_index_update,
    )

    emb = tables(spark, sf_dir)["embeddings"]
    n_emb = emb.count()
    cut = int(n_emb * 0.9)
    st = os.path.join(base, "ann")
    ann_index_update(
        spark, st, emb.filter(F.col("vec_id") < cut), 64, n_lists=16,
        batch_key="b0",
    )
    out["ann_update"] = _bestofn_stateful(
        [st],
        lambda: ann_index_update(
            spark, st, emb.filter(F.col("vec_id") >= cut), 64, n_lists=16,
            batch_key="b1",
        ),
    )
    return out, base


def _store_compaction(spark, base: str) -> dict[str, dict]:
    """Compaction wall + post-compaction row count for each maintained
    store the update section just built under ``base``. The r10 soak
    measured the UPDATE path only; compaction is the other half of the
    maintenance story (reader-side work stops growing with batch count
    only if compaction itself stays cheap and its output stays
    bounded)."""
    from visual_asset_management_system_spark.operators.corpus import (
        compact_gram_store,
    )
    from visual_asset_management_system_spark.operators.setsim_store import (
        compact_setsim_store,
    )
    from visual_asset_management_system_spark.operators.sketches import (
        compact_cms_store,
        compact_kmv_store,
    )

    out: dict[str, dict] = {}
    _COMPACT_DIR = {
        "gram_compact": "sub",
        "setsim_compact": "sets",
        "kmv_compact": "kmv",
        "cms_compact": "cms",
        "ann_compact": "ann",
    }

    def timed(name, fn):
        rows_box = []
        try:
            sec = _bestofn_stateful(
                [os.path.join(base, _COMPACT_DIR[name])],
                lambda: rows_box.append(fn()),
            )
            out[name] = {"sec": sec, "rows_after": rows_box[-1]}
        except Exception as exc:  # noqa: BLE001 — one row per failure
            out[name] = {"error": f"{type(exc).__name__}: {exc}"[:300]}

    timed("gram_compact", lambda: compact_gram_store(
        spark, os.path.join(base, "sub")))
    timed("setsim_compact", lambda: compact_setsim_store(
        spark, os.path.join(base, "sets")))
    timed("kmv_compact", lambda: compact_kmv_store(
        spark, os.path.join(base, "kmv")))
    timed("cms_compact", lambda: compact_cms_store(
        spark, os.path.join(base, "cms")))
    from visual_asset_management_system_spark.operators.similarity import (
        compact_ann_store,
    )

    timed("ann_compact", lambda: compact_ann_store(
        spark, os.path.join(base, "ann")))
    return out


def _bloom_reduction(spark, sf_dir: str) -> dict:
    """bloom_prefiltered_anti_join's production claim, measured: the
    probe side that reaches the real anti-join shrinks to
    ~|members| + eps*|probe|, and the result is EXACTLY the plain
    anti-join (zero false negatives). Probe = events keyed by user_id;
    suppression list = the deterministic ~0.1% of users with
    user_id % 997 == 0 (fixed modulus, reproducible at any SF)."""
    from pyspark.sql import functions as F

    from visual_asset_management_system_spark.operators.sketches import (
        bloom_build,
        bloom_flag,
        bloom_prefiltered_anti_join,
    )
    from visual_asset_management_system_spark.queries import tables

    ev = tables(spark, sf_dir)["events"].select("event_id", "user_id")
    suppress = (
        ev.select("user_id")
        .filter(F.col("user_id") % 997 == 0)
        .distinct()
    )
    m, depth = 65536, 3
    total = ev.count()
    flagged = bloom_flag(
        ev, bloom_build(suppress, "user_id", m, depth), "user_id", m, depth
    )
    maybe = flagged.filter(F.col("bloom_maybe")).count()

    bloom_n = bloom_prefiltered_anti_join(
        ev, suppress, "user_id", "user_id", m, depth
    ).count()
    bloom_sec = _bestofn(
        lambda: bloom_prefiltered_anti_join(
            ev, suppress, "user_id", "user_id", m, depth
        ).count()
    )
    plain_n = ev.join(suppress, "user_id", "left_anti").count()
    plain_sec = _bestofn(
        lambda: ev.join(suppress, "user_id", "left_anti").count()
    )
    return {
        "probe_rows": total,
        "suppressed_keys": suppress.count(),
        "bloom_positive_rows": maybe,
        "reduction_ratio": round(maybe / total, 5) if total else None,
        "bloom_anti_rows": bloom_n,
        "plain_anti_rows": plain_n,
        "exact_match": bloom_n == plain_n,
        "bloom_sec": bloom_sec,
        "plain_sec": plain_sec,
        "m": m,
        "depth": depth,
    }


def _setsim_candidate_surface(spark, sf_dir: str, n_docs: int) -> dict:
    """The r10 finding, re-measured with the PPJoin positional filter:
    candidate-pair count with and without the filter on the SAME
    shingled corpus (tau=0.9, the store-update section's contract).
    The filter is lossless (randomized exact-equality tests pin it);
    what this measures is how much of the saturated-vocabulary
    candidate surface it removes before verification."""
    from pyspark.sql import functions as F

    from visual_asset_management_system_spark.operators.dedup import (
        _setsim_stage,
        word_shingles,
    )
    from visual_asset_management_system_spark.queries import tables

    docs = (
        tables(spark, sf_dir)["documents"]
        .select("doc_id", "text")
        .filter(F.col("doc_id") < n_docs)
        .select(
            "doc_id",
            F.array_sort(
                word_shingles(F.lower(F.col("text")), 3)
            ).alias("g"),
        )
        .filter(F.size("g") > 0)
    )
    out: dict = {}
    for label, pos in (("with_posfilter", True), ("without_posfilter", False)):
        _toks, cand, _n, _d = _setsim_stage(
            docs, 0.9, "text", "doc_id", "g", None, positional_filter=pos
        )
        n = cand.count()
        out[label] = {"candidates": n, "sec": _bestofn(cand.count)}
    w, wo = out["with_posfilter"], out["without_posfilter"]
    if wo["candidates"]:
        out["candidate_cut_ratio"] = round(
            1 - w["candidates"] / wo["candidates"], 4
        )
    return out


def _ann_probe_flatness(spark, sf_dir: str) -> dict:
    """The r12 live-key relation's evidence item (VERDICT r11 task 2):
    probe wall as APPENDED BATCHES grow, live-id count constant. The
    pre-r12 probe re-derived global winners from the store-wide thin
    projection, so its cost grew with every appended batch between
    compactions; with the maintained keys/ artifact it is O(live ids
    in the probed lists) and must stay FLAT. Protocol: seed the store
    in 4 appends, probe; apply 16 MORE batches that re-embed 1/16 id
    slices each (raw rows ~2x, live ids unchanged), probe again;
    compact, probe a third time — all probes adaptive best-of-N."""
    from pyspark.sql import functions as F

    from visual_asset_management_system_spark.operators.similarity import (
        ann_index_update,
        ann_store_stats,
        ann_store_topk,
        compact_ann_store,
    )
    from visual_asset_management_system_spark.queries import tables

    emb = tables(spark, sf_dir)["embeddings"]
    n = emb.count()
    store = tempfile.mkdtemp(prefix="soak_ann_probe_") + "/store"
    q = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    ]
    step = max(n // 4, 1)
    for i in range(4):
        ann_index_update(
            spark, store,
            emb.filter(
                (F.col("vec_id") >= i * step)
                & (F.col("vec_id") < (i + 1) * step if i < 3 else F.lit(True))
            ),
            64, n_lists=16, batch_key=f"seed{i}",
        )
    out: dict = {"live_ids": n}

    def probe():
        return ann_store_topk(
            spark, store, q, k=10, nprobe=4
        ).collect()

    out["probe_4_batches_sec"] = _bestofn(probe)
    upstep = max(n // 16, 1)
    for i in range(16):
        ann_index_update(
            spark, store,
            emb.filter(
                (F.col("vec_id") >= i * upstep)
                & (
                    F.col("vec_id") < (i + 1) * upstep
                    if i < 15
                    else F.lit(True)
                )
            ).select(
                "vec_id",
                F.transform(
                    "embedding", lambda x: x.cast("double") * F.lit(1.5)
                ).alias("embedding"),
            ),
            64, n_lists=16, batch_key=f"up{i}",
        )
    raw = spark.read.parquet(store + "/vectors").count()
    out["raw_rows_20_batches"] = raw
    out["probe_20_batches_sec"] = _bestofn(probe)
    out["flatness_ratio"] = (
        round(out["probe_20_batches_sec"] / out["probe_4_batches_sec"], 3)
        if out["probe_4_batches_sec"] > 0
        else None
    )
    compact_ann_store(spark, store)
    out["probe_after_compact_sec"] = _bestofn(probe)
    out["rows_after_compact"] = spark.read.parquet(
        store + "/vectors"
    ).count()
    out["list_size_stats_rows"] = ann_store_stats(spark, store).count()
    return out


def _ann_sustained_upserts(spark, sf_dir: str, n_batches: int = 12) -> dict:
    """The r13 evidence item (VERDICT r12 task 6): the live-key MERGE
    under sustained re-embedding — the adversarial shape for keys/,
    where every batch moves live rows ACROSS lists (so the key
    relation churns instead of only appending). Protocol: seed the
    store with the whole corpus, then apply ``n_batches`` update
    batches; each batch takes a 1/8 id slice, re-embeds HALF of it
    with negated+scaled vectors (negation flips the nearest-centroid
    region, forcing cross-list moves) and replays the other half
    byte-identically (the at-least-once shape). Live ids stay
    constant throughout. UPDATE wall (append + key merge — the merge
    reads keys/ + the seq-filtered delta, so its cost is O(live ids),
    not O(ever-appended rows)) and PROBE wall are both sampled at the
    first, middle, and last batch; sublinear means the last/first
    ratios stay near 1 while raw appended rows grow ~2.5x."""
    from pyspark.sql import functions as F

    from visual_asset_management_system_spark.operators.similarity import (
        ann_index_update,
        ann_store_topk,
    )
    from visual_asset_management_system_spark.queries import tables

    emb = tables(spark, sf_dir)["embeddings"]
    n = emb.count()
    store = tempfile.mkdtemp(prefix="soak_ann_upsert_") + "/store"
    ann_index_update(spark, store, emb, 64, n_lists=16, batch_key="seed")
    q = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    ]
    slice_len = max(n // 8, 2)

    def batch_df(i: int):
        lo = (i * slice_len) % max(n - slice_len, 1)
        sl = emb.filter(
            (F.col("vec_id") >= lo) & (F.col("vec_id") < lo + slice_len)
        )
        scale = -(1.0 + (i + 1) / 100.0)  # differs per batch, flips region
        moved = sl.filter(F.col("vec_id") % 2 == 0).select(
            "vec_id",
            F.transform(
                "embedding", lambda x: x.cast("double") * F.lit(scale)
            ).alias("embedding"),
        )
        replay = sl.filter(F.col("vec_id") % 2 == 1).select(
            "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
        )
        return moved.unionByName(replay)

    def probe():
        return ann_store_topk(spark, store, q, k=10, nprobe=4).collect()

    out: dict = {"live_ids": n, "n_batches": n_batches}
    measure_at = {0: "first", n_batches // 2: "mid", n_batches - 1: "last"}
    for i in range(n_batches):
        df = batch_df(i)
        if i in measure_at:
            tag = measure_at[i]
            out[f"update_{tag}_sec"] = _bestofn_stateful(
                [store],
                lambda df=df, i=i: ann_index_update(
                    spark, store, df, 64, n_lists=16, batch_key=f"up{i}"
                ),
            )
            out[f"probe_{tag}_sec"] = _bestofn(probe)
        else:
            ann_index_update(
                spark, store, df, 64, n_lists=16, batch_key=f"up{i}"
            )
    out["raw_rows_final"] = spark.read.parquet(store + "/vectors").count()
    out["live_ids_final"] = (
        spark.read.parquet(store + "/keys").count()
    )
    for kind in ("update", "probe"):
        first, last = out[f"{kind}_first_sec"], out[f"{kind}_last_sec"]
        out[f"{kind}_last_over_first"] = (
            round(last / first, 3) if first > 0 else None
        )
    return out


def _suggest_percolate(spark, sf_dir: str, n_docs: int) -> dict:
    """One NON-DEGENERATE micro-batch through the suggest and percolate
    handler bodies at soak scale, with the plan-structure ceilings of
    tests/test_streaming_plans.py re-checked — the toy-scale gate pins
    structure on 1-3 row batches; this closes the toy-vs-soak evidence
    gap (VERDICT r10 next-round #7)."""
    from pyspark.sql import functions as F

    from visual_asset_management_system_spark.operators import checkpointing
    from visual_asset_management_system_spark.operators.inverted_index import (
        percolate,
        suggest_index_update,
    )
    from visual_asset_management_system_spark.plans.audit import (
        exchange_count,
        final_section,
    )
    from visual_asset_management_system_spark.queries import tables

    # ceilings mirrored from tests/test_streaming_plans.py _BASELINE,
    # measured the same way (exchange_count + FileScan count of the
    # final plan section, checkpoint lineage cuts disabled)
    ceilings = {
        "suggest_update": {"exchanges": 9, "scans": 3, "min_broadcasts": 1},
        "percolate": {"exchanges": 2, "scans": 0, "min_broadcasts": 1},
    }

    def measure(build):
        # build INSIDE the disabled() context — the handlers insert
        # their crash-ordering lineage cuts at build time, and a cut
        # would hide the upstream tree from the plan audit
        with checkpointing.disabled():
            df = build()
            n = df.count()
            plan = df._jdf.queryExecution().executedPlan().toString()
        fin = final_section(plan)
        return n, (
            exchange_count(plan),
            fin.count("FileScan parquet"),
            fin.count("BroadcastExchange"),
        )
    docs = (
        tables(spark, sf_dir)["documents"]
        .select("doc_id", "text", "source")
        .filter(F.col("doc_id") < n_docs)
    )
    out: dict = {}
    base = tempfile.mkdtemp(prefix="soak_sp_")

    # suggest: seed with 1/10 of the corpus, then one full-size batch
    def names_of(d):
        return d.select(
            F.col("source").alias("database_id"),
            F.concat(F.lit("a"), F.col("doc_id")).alias("asset_id"),
            F.lit("INSERT").alias("event_name"),
            F.substring("text", 1, 64).alias("asset_name"),
        )

    # STRUCTURE from a dry-run against a seeded store: the handler
    # rewrites every hash-bucket partition a soak-scale batch touches
    # (all 32), so the frame it returns — whose lineage re-reads the
    # store with a build-time file listing — is only re-executable at
    # the gate's toy scale. No-op the sink merge for the measurement
    # (measurement-only patch; the plan being pinned is the per-batch
    # READ/COMPUTE tree, which the merge consumes but does not change),
    # then time the REAL call, whose internal executions are the
    # batch's true end-to-end cost. The dry-run method carries a fixed
    # node-count offset vs the gate (the no-oped merge leaves the
    # manifest-write path un-reused), so the growth check compares a
    # TOY-SIZE dry-run to the soak-size one — same method both sides;
    # the gate's own ceilings are recorded alongside for reference.
    from visual_asset_management_system_spark.streaming import cdc as _cdc

    def suggest_dry(n, tag):
        # batch input localCheckpointed: an in-memory micro-batch, as
        # in the streaming deployment (and as in the gate's toy rows —
        # otherwise every lineage reuse adds a documents.parquet scan
        # the store-side ceilings never counted)
        batch = names_of(
            docs.filter(F.col("doc_id") < n)
        ).localCheckpoint()
        st = os.path.join(base, f"sug_{tag}")
        suggest_index_update(
            spark, st,
            names_of(docs.filter(F.col("doc_id") < max(n // 10, 2))),
            "b0",
        )
        real_apply = _cdc.apply_cdc_batch
        _cdc.apply_cdc_batch = lambda *a, **k: None
        try:
            _n, struct = measure(
                lambda: suggest_index_update(spark, st, batch, "b1dry")
            )
        finally:
            _cdc.apply_cdc_batch = real_apply
        sec = _bestofn_stateful(
            [st], lambda: suggest_index_update(spark, st, batch, "b1")
        )
        return sec, struct

    _toy_sec, (tex, tscans, tbcasts) = suggest_dry(20, "toy")
    sec, (ex, scans, bcasts) = suggest_dry(n_docs, "soak")
    c = ceilings["suggest_update"]
    out["suggest_update"] = {
        "sec": sec,
        "batch_rows": n_docs,
        "exchanges": ex,
        "scans": scans,
        "broadcasts": bcasts,
        "toy_same_method": {
            "exchanges": tex, "scans": tscans, "broadcasts": tbcasts,
        },
        "gate_ceiling_for_reference": c,
        "no_growth_vs_toy": (
            ex <= tex and scans <= tscans and bcasts >= c["min_broadcasts"]
        ),
    }

    # percolate: a 62-query registry (all ordered token pairs of the
    # corpus vocabulary would be 31*30 — keep a fixed 62: 31 AND + 31
    # OR rotations) against the full document batch
    vocab = [r[0] for r in (
        tables(spark, sf_dir)["documents"]
        .select(F.explode(F.split(F.lower("text"), r"\s+")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w").count().orderBy(F.desc("count"), "w").limit(31)
        .collect()
    )]
    reg_rows = [
        (i, vocab[i % len(vocab)], vocab[(i + 1) % len(vocab)],
         "and" if i < len(vocab) else "or")
        for i in range(2 * len(vocab))
    ]
    reg = spark.createDataFrame(
        reg_rows, "query_id long, term_a string, term_b string, mode string"
    )
    chg = docs.select(
        F.col("source").alias("database_id"),
        F.concat(F.lit("a"), F.col("doc_id")).alias("asset_id"),
        F.substring("text", 1, 64).alias("asset_name"),
        F.col("text").alias("description"),
    ).localCheckpoint()  # in-memory micro-batch, as in production
    matches, (ex, scans, bcasts) = measure(
        lambda: percolate(
            chg, reg, ["database_id", "asset_id"],
            F.concat_ws(" ", F.col("asset_name"), F.col("description")),
        )
    )
    perc_sec = _bestofn(
        lambda: percolate(
            chg, reg, ["database_id", "asset_id"],
            F.concat_ws(" ", F.col("asset_name"), F.col("description")),
        ).count()
    )
    c = ceilings["percolate"]
    out["percolate"] = {
        "sec": perc_sec,
        "batch_rows": n_docs,
        "registry_rows": len(reg_rows),
        "matches": matches,
        "exchanges": ex,
        "scans": scans,
        "broadcasts": bcasts,
        "ceiling": c,
        "within_ceiling": (
            ex <= c["exchanges"]
            and scans <= c["scans"]
            and bcasts >= c["min_broadcasts"]
        ),
    }
    return out


def _sq8_crossover(spark, tmp_base: str) -> dict:
    """r14 (verdict task 5): measure WHERE the SQ8 tier's narrow first
    pass actually beats the exact scan — both measured r13 scales lost
    (the two-job latency floor), so the claimed scan-I/O-dominated win
    regime was an extrapolation. Sweep vector width and row count on
    synthetic hash-derived embeddings (JVM-generated, no fixture
    dependency), and measure the MAINTAINED store's probe pair at the
    largest config — the deployment shape its SQ8 codes exist for.
    Records per config: relation bytes (full vs quantized), exact vs
    quantized wall, top-10 equality. The honest outcome stands either
    way: a measured crossover point, or an explicit negative result."""
    import math as _math
    import shutil as _shutil
    import subprocess

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from visual_asset_management_system_spark.operators.similarity import (
        _ann_meta,
        ann_index_update,
        ann_store_topk,
        ann_store_topk_quantized,
        compact_ann_store,
        cosine_topk,
        cosine_topk_quantized,
        quantize_embeddings,
    )

    def du(path: str) -> int:
        out = subprocess.run(
            ["du", "-sb", path], capture_output=True, text=True
        ).stdout
        return int(out.split()[0]) if out else 0

    def chunk_bytes(path: str, cols: set) -> int:
        """Compressed bytes of the named columns' chunks, summed over
        the parquet footers under ``path`` — what a scan projecting
        those columns reads."""
        total = 0
        for root, _dirs, files in os.walk(path):
            for f in files:
                if not f.endswith(".parquet"):
                    continue
                md = pq.ParquetFile(os.path.join(root, f)).metadata
                for g in range(md.num_row_groups):
                    rg = md.row_group(g)
                    for c in range(rg.num_columns):
                        col = rg.column(c)
                        if col.path_in_schema.split(".")[0] in cols:
                            total += col.total_compressed_size
        return total

    def gen(dim: int, rows: int, dense: bool):
        # two corpus families, because parquet encoding IS the
        # variable under test: "lattice" draws from 2001 distinct
        # values per element — dictionary-encodable, the BEST case for
        # the float relation and so the WORST case for the tier (real
        # embeddings are not like this); "dense" draws from ~2M
        # distinct values — dictionary-defeating, the float32-
        # incompressible shape real encoder output has, where the int8
        # codes' inherent 255-value dictionary keeps its full ~4×
        # byte advantage.
        mod = 2_000_003 if dense else 2001
        half = mod // 2
        return spark.range(rows).select(
            F.col("id").alias("vec_id"),
            F.transform(
                F.sequence(F.lit(0), F.lit(dim - 1)),
                lambda j: (
                    (F.pmod(F.xxhash64(F.col("id"), j), F.lit(mod)) - half)
                    / float(half)
                ).cast("float"),
            ).alias("embedding"),
        )

    out: dict = {"configs": {}}
    configs = [
        (64, 200_000, False),
        (256, 200_000, False),
        (512, 200_000, False),
        (512, 1_000_000, False),
        (512, 200_000, True),
        (512, 1_000_000, True),
        # the store-tier crossover probe: nprobe/n_lists = 1/4 of the
        # corpus per probe, so ~4M rows puts the probed subset at the
        # ~1M effective first-pass rows where the batch tier crossed
        (512, 4_000_000, True),
    ]
    for dim, rows, dense in configs:
        fam = "dense" if dense else "lattice"
        key = f"{fam}_dim{dim}_rows{rows // 1000}k"
        base = os.path.join(tmp_base, key)
        full_dir = os.path.join(base, "full")
        quant_dir = os.path.join(base, "quant")
        if not os.path.isdir(full_dir):
            gen(dim, rows, dense).write.mode("overwrite").parquet(full_dir)
            quantize_embeddings(spark.read.parquet(full_dir)).write.mode(
                "overwrite"
            ).parquet(quant_dir)
        qv = [round(_math.sin(0.7 * i), 4) for i in range(dim)]
        full = spark.read.parquet(full_dir)
        quant = spark.read.parquet(quant_dir)
        exact_sec = _bestofn(lambda: cosine_topk(full, qv, k=10).collect())
        quant_sec = _bestofn(
            lambda: cosine_topk_quantized(
                quant, full, qv, k=10, rerank=100
            ).collect()
        )
        e = [(r[0], r[1]) for r in cosine_topk(full, qv, k=10).collect()]
        g = [
            (r[0], r[1])
            for r in cosine_topk_quantized(
                quant, full, qv, k=10, rerank=100
            ).collect()
        ]
        fb, qb = du(full_dir), du(quant_dir)
        out["configs"][key] = {
            "dim": dim,
            "rows": rows,
            "full_bytes": fb,
            "quant_bytes": qb,
            "bytes_ratio": round(qb / fb, 3) if fb else None,
            "exact_sec": exact_sec,
            "quantized_sec": quant_sec,
            "speedup": round(exact_sec / quant_sec, 3) if quant_sec else None,
            "top10_equal": e == g,
        }
        print(f"  sq8 {key}: {out['configs'][key]}", flush=True)

    # the maintained store's probe pair at the largest config — the
    # store's deployment shape: nprobe of n_lists, so the first pass
    # is probed-lists-sized on both sides
    dim, rows, _dense = configs[-1]
    key = f"dense_dim{dim}_rows{rows // 1000}k"
    store = os.path.join(tmp_base, f"store_{key}")
    full_dir = os.path.join(tmp_base, key, "full")
    try:
        _ann_meta(store, "read")
        cached = True
    except ValueError:  # absent, or an earlier layout: rebuild
        cached = False
    if not cached:
        _shutil.rmtree(store, ignore_errors=True)
        src = spark.read.parquet(full_dir)
        for b in range(4):
            ann_index_update(
                spark, store,
                src.filter(F.pmod(F.col("vec_id"), F.lit(4)) == b),
                dim, n_lists=16, batch_key=f"b{b}",
            )
        compact_ann_store(spark, store)
    qv = [round(_math.sin(0.7 * i), 4) for i in range(dim)]
    st_exact = _bestofn(
        lambda: ann_store_topk(spark, store, qv, k=10, nprobe=4).collect()
    )
    st_quant = _bestofn(
        lambda: ann_store_topk_quantized(
            spark, store, qv, k=10, nprobe=4, rerank=100
        ).collect()
    )
    e = [
        (r[0], r[1])
        for r in ann_store_topk(spark, store, qv, k=10, nprobe=4).collect()
    ]
    g = [
        (r[0], r[1])
        for r in ann_store_topk_quantized(
            spark, store, qv, k=10, nprobe=4, rerank=100
        ).collect()
    ]
    out["store"] = {
        "config": key,
        "n_lists": 16,
        "nprobe": 4,
        "vectors_bytes": du(os.path.join(store, "vectors")),
        # the SQ8 codes live in the vectors files: their column chunks
        "q8_bytes": chunk_bytes(
            os.path.join(store, "vectors"), {"q8", "q_scale", "nrm"}
        ),
        "exact_sec": st_exact,
        "quantized_sec": st_quant,
        "speedup": round(st_exact / st_quant, 3) if st_quant else None,
        "top10_equal": e == g,
    }
    print(f"  sq8 store {key}: {out['store']}", flush=True)
    return out


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--sq8":
        # standalone crossover run (fast iteration; the full soak also
        # records this section)
        from visual_asset_management_system_spark.session import get_spark

        tmp_base = (
            sys.argv[2] if len(sys.argv) > 2 else "/tmp/spark_vams_sq8"
        )
        spark = get_spark(app_name="spark-vams-sq8")
        spark.sparkContext.setLogLevel("ERROR")
        res = _sq8_crossover(spark, tmp_base)
        print(json.dumps(res, indent=1, sort_keys=True))
        spark.stop()
        return

    sf1_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/spark_vams_sf1"
    sf3_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/spark_vams_sf3"
    sf01_dir = "/root/testdata/sf0.1"
    if not os.path.isdir(sf1_dir):
        raise SystemExit(
            f"{sf1_dir} missing — run scripts/gen_scaled_fixture.py first"
        )

    from visual_asset_management_system_spark.plans.audit import (
        plan_structure,
        structure_regressions,
    )
    from visual_asset_management_system_spark.queries import QUERIES
    from visual_asset_management_system_spark.session import get_spark

    import bench as bench_mod

    calib_mc = bench_mod._calibrate_mc()
    spark = get_spark(app_name="spark-vams-soak")
    spark.sparkContext.setLogLevel("ERROR")

    with open(os.path.join(REPO, "tests", "plan_stats_baseline.json")) as f:
        baseline = json.load(f)

    results: dict[str, dict] = {}
    for sf_name, sf_dir in (("sf0.1", sf01_dir), ("sf1", sf1_dir)):
        # warm-up: session/file-listing/maintained-state costs up front
        QUERIES["q01_pricing_summary"](spark, sf_dir).collect()
        for name in SOAK_QUERIES:
            row = results.setdefault(name, {})
            try:
                sec = _bestofn(
                    lambda: QUERIES[name](spark, sf_dir).collect()
                )
                row[sf_name] = sec
                if sf_name == "sf1":
                    df = QUERIES[name](spark, sf_dir)
                    df.collect()
                    cur = plan_structure(df)
                    row["plan_sf1"] = cur
                    row["structure_vs_baseline"] = structure_regressions(
                        cur, baseline.get(name, {}), name
                    )
            except Exception as exc:  # noqa: BLE001 — one row per failure
                row[f"{sf_name}_error"] = f"{type(exc).__name__}: {exc}"[:300]
            print(f"  {sf_name} {name}: {row.get(sf_name, 'ERR')}", flush=True)

    for name, row in results.items():
        if "sf0.1" in row and "sf1" in row and row["sf0.1"] > 0:
            row["exponent"] = round(
                math.log10(max(row["sf1"], 1e-3) / row["sf0.1"]), 3
            )

    stores = {}
    compaction = {}
    bloom = {}
    for sf_name, sf_dir, n in (
        ("sf0.1", sf01_dir, 5000),
        ("sf1", sf1_dir, 50000),
    ):
        stores[sf_name], base = _store_updates(spark, sf_dir, n)
        print(f"  stores {sf_name}: {stores[sf_name]}", flush=True)
        compaction[sf_name] = _store_compaction(spark, base)
        print(f"  compaction {sf_name}: {compaction[sf_name]}", flush=True)
        bloom[sf_name] = _bloom_reduction(spark, sf_dir)
        print(f"  bloom {sf_name}: {bloom[sf_name]}", flush=True)
    store_exp = {
        k: round(
            math.log10(max(stores["sf1"][k], 1e-3) / stores["sf0.1"][k]), 3
        )
        for k in stores["sf0.1"]
        if stores["sf0.1"].get(k, 0) > 0 and k in stores["sf1"]
    }
    compact_exp = {
        k: round(
            math.log10(
                max(compaction["sf1"][k]["sec"], 1e-3)
                / compaction["sf0.1"][k]["sec"]
            ),
            3,
        )
        for k in compaction["sf0.1"]
        if compaction["sf0.1"].get(k, {}).get("sec", 0) > 0
        and compaction["sf1"].get(k, {}).get("sec") is not None
    }

    # suggest/percolate handler bodies at soak scale (sf1 corpus)
    try:
        suggest_percolate = _suggest_percolate(spark, sf1_dir, 50000)
    except Exception as exc:  # noqa: BLE001
        suggest_percolate = {"error": f"{type(exc).__name__}: {exc}"[:300]}
    print(f"  suggest/percolate sf1: {suggest_percolate}", flush=True)

    # ANN probe flatness at both SFs (the r12 live-key evidence item)
    ann_probe = {}
    for sf_name, sf_dir in (("sf0.1", sf01_dir), ("sf1", sf1_dir)):
        try:
            ann_probe[sf_name] = _ann_probe_flatness(spark, sf_dir)
        except Exception as exc:  # noqa: BLE001
            ann_probe[sf_name] = {
                "error": f"{type(exc).__name__}: {exc}"[:300]
            }
        print(f"  ann probe {sf_name}: {ann_probe[sf_name]}", flush=True)

    # ANN live-key merge under sustained cross-list upserts (r13)
    ann_upserts = {}
    for sf_name, sf_dir in (("sf0.1", sf01_dir), ("sf1", sf1_dir)):
        try:
            ann_upserts[sf_name] = _ann_sustained_upserts(spark, sf_dir)
        except Exception as exc:  # noqa: BLE001
            ann_upserts[sf_name] = {
                "error": f"{type(exc).__name__}: {exc}"[:300]
            }
        print(
            f"  ann sustained upserts {sf_name}: {ann_upserts[sf_name]}",
            flush=True,
        )

    # step2: the sf1->sf3 curvature check (r10 found setsim at 1.68
    # BEFORE the positional filter; re-measure with it, and record the
    # candidate surface the filter removes)
    step2: dict = {}
    if sf3_dir and os.path.isdir(sf3_dir):
        step2_queries = [
            "q01_pricing_summary",
            "q05_local_supplier_volume",
            "q_corpus_build",
            "q_doc_setsim_join",
            "q_ngram_jaccard_topk",
        ]
        s2: dict[str, dict] = {}
        for sf_name, sf_dir in (("sf1", sf1_dir), ("sf3", sf3_dir)):
            QUERIES["q01_pricing_summary"](spark, sf_dir).collect()
            for name in step2_queries:
                row = s2.setdefault(name, {})
                try:
                    row[sf_name] = _bestofn(
                        lambda: QUERIES[name](spark, sf_dir).collect()
                    )
                except Exception as exc:  # noqa: BLE001
                    row[f"{sf_name}_error"] = (
                        f"{type(exc).__name__}: {exc}"[:300]
                    )
                print(
                    f"  step2 {sf_name} {name}: {row.get(sf_name, 'ERR')}",
                    flush=True,
                )
        for name, row in s2.items():
            if row.get("sf1", 0) > 0 and "sf3" in row:
                row["exponent_sf1_sf3"] = round(
                    math.log10(max(row["sf3"], 1e-3) / row["sf1"])
                    / math.log10(3),
                    3,
                )
        cand = {}
        for sf_name, sf_dir, n in (
            ("sf1", sf1_dir, 50000),
            ("sf3", sf3_dir, 150000),
        ):
            try:
                cand[sf_name] = _setsim_candidate_surface(spark, sf_dir, n)
            except Exception as exc:  # noqa: BLE001
                cand[sf_name] = {"error": f"{type(exc).__name__}: {exc}"[:300]}
            print(f"  setsim candidates {sf_name}: {cand[sf_name]}", flush=True)
        step2 = {
            "base": "sf1 analog (10x)",
            "target": "sf3 analog (30x)",
            "scale_ratio": 3,
            "queries": s2,
            "setsim_candidate_surface": cand,
        }

    # SQ8 crossover sweep (r14 task 5)
    try:
        sq8 = _sq8_crossover(spark, "/tmp/spark_vams_sq8")
    except Exception as exc:  # noqa: BLE001
        sq8 = {"error": f"{type(exc).__name__}: {exc}"[:300]}

    out = {
        "scale_ratio": 10,
        "calib_mc_sec": calib_mc,
        "sq8_crossover": sq8,
        "queries": results,
        "store_updates": {**stores, "exponents": store_exp},
        "store_compaction": {**compaction, "exponents": compact_exp},
        "bloom_prefilter": bloom,
        "suggest_percolate_sf1": suggest_percolate,
        "ann_probe_flatness": ann_probe,
        "ann_sustained_upserts": ann_upserts,
        "sampling": "adaptive best-of-N (two warm samples within 25%)",
        "step2": step2,
    }
    with open(os.path.join(REPO, "SOAK_r14.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    print("wrote SOAK_r14.json")
    spark.stop()


if __name__ == "__main__":
    main()
