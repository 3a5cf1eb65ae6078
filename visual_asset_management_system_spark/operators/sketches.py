"""Mergeable cardinality and frequency sketches: KMV and count-min.

At 100 TB the exact forms of "how many distinct keys" and "how often
does key x occur" are re-scans: COUNT(DISTINCT) shuffles every distinct
key and a frequency probe re-aggregates the fact table per question.
The warehouse answer is a MERGEABLE sketch built once per segment
(partition / day / source) and combined at query time — union, rollup,
and set-operation estimates then cost O(segments · sketch_size), never
another pass over the raw data. This module implements two such
sketches with fully DETERMINISTIC definitions, so unlike the HLL++ /
approx_percentile tier (q_approx_sketch_bounds, whose oracle can only
pin error contracts) their exact values are reproducible cross-engine
and hash-gate under the differential oracle:

- **KMV (k minimum values)** distinct-count sketch [Bar-Yossef et al.
  2002; Beyer et al. 2007 "On Synopses for Distinct-Value Estimation
  Under Multiset Operations"]: the sketch of a key set is the k
  smallest values of a uniform 32-bit content hash (sampling.py's
  ``sample_hash`` — md5-derived, identical in Spark and DuckDB). With
  ``theta`` the k-th minimum, the estimator is ``(k-1)·2³²/theta``
  (unbiased; relative σ ≈ 1/√(k−2)). Sketches merge by "union then
  re-take the k smallest", which also yields set-operation estimates:
  Jaccard ≈ |A∩B∩U_k|/|U_k| over the union's k minima, and
  ``|A∩B| ≈ Jaccard · est(A∪B)``.
- **Count-min sketch** [Cormode & Muthukrishnan 2005]: a d×w grid of
  counters; each key increments one column per row (d independent
  salted hashes), a point query reads the MINIMUM of its d cells.
  Estimates never underestimate and overshoot by at most ε·N
  (ε = e/w) with probability 1−δ (δ = e^−d). The grid is a plain
  ``(row, col) → count`` relation: map-side combinable on build,
  cell-wise ADDABLE across segments, and broadcastable on probe.

Scale shape: the KMV build is one distinct-pairs shuffle followed by a
rank-k window — Spark's WindowGroupLimit pushdown turns ``row_number ≤
k`` into a per-partition top-k, so no group is ever fully sorted (the
same physical strategy test_plan_lint pins for the rank-limit tier).
The CMS build is a single map-side-combinable groupBy on (row, col):
at most d·w cells regardless of input size. Everything downstream of
the base aggregations operates on sketch-sized data.

Reference parity: VAMS exposes approximate result totals on its search
indexes (SURVEY §2.4 "aggregation total / hit counts"); this tier is
the scale extension of that surface, per the LLM-pipeline mandate.
"""

from __future__ import annotations

import functools
import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from . import store
from ..streaming.driver import commit_json, run_micro_batches
from .sampling import _HASH_SPACE, sample_hash

#: default sketch size — relative σ ≈ 1/√62 ≈ 12.7%
DEFAULT_K = 64


def _topk_hashes(
    hashed: DataFrame, group_cols: list[str], k: int
) -> DataFrame:
    """Per-group k smallest distinct ``__h`` values, as rows. The
    rank-k filter runs as a WindowGroupLimit (per-partition top-k, no
    full per-group sort)."""
    w = (
        Window.partitionBy(*group_cols).orderBy("__h")
        if group_cols
        else Window.partitionBy(F.lit(1)).orderBy("__h")
    )
    return (
        hashed.distinct()
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def _minima_rows(
    df: DataFrame,
    key_col: str,
    group_cols: list[str],
    k: int,
    salt: str,
) -> DataFrame:
    """Per-group k minimum content hashes of ``key_col``, as rows.

    NULL keys are excluded: ``sample_hash(NULL)`` is NULL, and Spark's
    ascending window sorts NULLS FIRST (DuckDB: NULLS LAST), so an
    unguarded NULL would enter the sketch, inflate its size, and skew
    θ — the nullable-column hash divergence class dsir_log_weights
    already guards against. A NULL key is "no key", not a distinct
    value."""
    if k < 2:
        raise ValueError("k must be >= 2 (the estimator divides by k-1)")
    pairs = df.filter(F.col(key_col).isNotNull()).select(
        *group_cols, sample_hash(F.col(key_col), salt).alias("__h")
    )
    return _topk_hashes(pairs, group_cols, k)


def kmv_sketch(
    df: DataFrame,
    key_col: str,
    group_cols: list[str] | None = None,
    k: int = DEFAULT_K,
    salt: str = "kmv",
) -> DataFrame:
    """Per-group KMV distinct sketch of ``key_col``.

    Returns one row per group with ``kmv`` — the ascending array of the
    k smallest distinct 32-bit content hashes of the key (fewer than k
    ⇒ the group is in exact mode and ``kmv`` holds every distinct
    hash). The build is scale-correct by construction: distinct
    (group, hash) pairs shuffle once, then the rank-k filter runs as a
    WindowGroupLimit (per-partition top-k, no full per-group sort) and
    ``collect_list`` is bounded by k.
    """
    group_cols = list(group_cols or [])
    return (
        _minima_rows(df, key_col, group_cols, k, salt)
        .groupBy(*group_cols)
        .agg(F.sort_array(F.collect_list("__h")).alias("kmv"))
    )


def kmv_theta(sketch: Column) -> Column:
    """The k-th minimum hash (the sketch's threshold θ) — its last
    element; NULL for an empty sketch (element_at(arr, 0) is an error,
    not NULL, so the size guard is load-bearing: an empty segment's
    sketch must not error the whole rollup). In exact mode (size < k)
    this is just the max hash; the estimator below never consults it on
    that branch."""
    return F.when(
        F.size(sketch) > 0, F.element_at(sketch, F.size(sketch))
    )


def kmv_estimate(sketch: Column, k: int = DEFAULT_K) -> Column:
    """Distinct-count estimate from a KMV sketch: exact size when the
    group had fewer than k distinct hashes, else (k-1)·2³²/θ. Both
    operands of the division are exact integers, so the double result
    is bit-identical cross-engine (safe to ROUND and hash-gate)."""
    return F.when(
        F.size(sketch) < k, F.size(sketch).cast("double")
    ).otherwise(F.lit(float((k - 1) * _HASH_SPACE)) / kmv_theta(sketch))


def kmv_merge(
    df: DataFrame,
    sketch_col: str = "kmv",
    group_cols: list[str] | None = None,
    k: int = DEFAULT_K,
) -> DataFrame:
    """Merge per-segment KMV sketches (union semantics): concatenate,
    dedup, re-take the k smallest — per ``group_cols`` rollup level, or
    one global sketch when no groups are given. Operates on
    sketch-sized data only (#segments · k hashes); never re-touches the
    raw relation — the whole point of carrying the sketch."""
    group_cols = list(group_cols or [])
    exploded = df.select(
        *group_cols, F.explode(sketch_col).alias("__h")
    ).distinct()
    w = (
        Window.partitionBy(*group_cols).orderBy("__h")
        if group_cols
        else Window.partitionBy(F.lit(1)).orderBy("__h")
    )
    return (
        exploded.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .groupBy(*group_cols)
        .agg(F.sort_array(F.collect_list("__h")).alias(sketch_col))
    )


def kmv_union_expr(a: Column, b: Column, k: int = DEFAULT_K) -> Column:
    """Expression-level two-sketch union (for already-collected sketch
    pairs on one row): sorted distinct concat, first k."""
    return F.slice(F.array_sort(F.array_distinct(F.concat(a, b))), 1, k)


def kmv_intersect_count(a: Column, b: Column, union_sketch: Column) -> Column:
    """|A ∩ B ∩ U_k|: hashes below the union sketch's θ present in both
    input sketches — the numerator of the KMV Jaccard estimator."""
    theta = kmv_theta(union_sketch)
    return F.size(F.filter(F.array_intersect(a, b), lambda x: x <= theta))


# ---------------------------------------------------------------------------
# count-min
# ---------------------------------------------------------------------------


@functools.cache
def _cms_cells(key_col: str, depth: int, width: int, salt: str) -> Column:
    """The ``depth`` (d, c) cells of each ``key_col`` value, exploded —
    built once per arguments (the shared build/probe cell format)."""
    return F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(d).alias("d"),
                    F.pmod(
                        sample_hash(F.col(key_col), f"{salt}{d}"), F.lit(width)
                    ).alias("c"),
                )
                for d in range(depth)
            ]
        )
    )


def cms_build(
    df: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 64,
    salt: str = "cms",
) -> DataFrame:
    """Build a deterministic count-min sketch over ``key_col``: one
    output row per non-empty (row, col) cell with its count. Each input
    row lands in ``depth`` cells (salted md5 hashes mod ``width``); the
    explode happens BEFORE the aggregation so the groupBy is map-side
    combinable down to ≤ depth·width cells per partition. Cells from
    different segments merge by plain addition (sum on (row, col)).
    NULL keys are excluded (a NULL hashes to a NULL cell, which would
    otherwise land in a spurious (d, NULL) row); :func:`cms_probe`
    mirrors this by estimating 0 for a NULL key."""
    df = df.filter(F.col(key_col).isNotNull())
    return (
        df.select(_cms_cells(key_col, depth, width, salt).alias("cell"))
        .groupBy(F.col("cell.d").alias("d"), F.col("cell.c").alias("c"))
        .agg(F.count(F.lit(1)).alias("cell_cnt"))
    )


def cms_probe(
    keys: DataFrame,
    cms: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 64,
    salt: str = "cms",
    est_col: str = "cms_est",
) -> DataFrame:
    """Point-query a count-min sketch for each DISTINCT row of ``keys``:
    expand each key to its depth cells, join the (broadcast — the grid
    is ≤ depth·width rows by construction) cell relation, take the
    minimum. Keys hitting an absent cell estimate 0 via the coalesce;
    a NULL key also estimates 0 (its NULL cells match nothing),
    mirroring cms_build's exclusion of NULL keys from the counts.

    Contract: the output has one row per DISTINCT row of ``keys`` (the
    groupBy over keys.columns collapses duplicates) — callers that need
    row-for-row output must join the estimates back on the key columns,
    not rely on positional alignment."""
    cells = _cms_cells(key_col, depth, width, salt)
    expanded = keys.select("*", cells.alias("cell")).select(
        *keys.columns, F.col("cell.d").alias("d"), F.col("cell.c").alias("c")
    )
    return (
        expanded.join(F.broadcast(cms), ["d", "c"], "left")
        .groupBy(*keys.columns)
        .agg(F.min(F.coalesce("cell_cnt", F.lit(0))).alias(est_col))
    )


# ---------------------------------------------------------------------------
# maintained KMV store (kappa form)
# ---------------------------------------------------------------------------
#
# KMV state is a JOIN-SEMILATTICE: the merge ("union the hash sets,
# keep the k smallest") is idempotent, commutative, and associative, so
# an at-least-once redelivery is exactly-once FOR FREE: re-appended
# minima are duplicates the reader's distinct removes. Append, read and
# compaction are the shared protocol of operators/store.py.


def _minima_dir(store_dir: str) -> str:
    return os.path.join(store_dir, "minima")


def _stored_rows(spark, live: str, cols: list[tuple[str, str | None]]):
    """A store relation's rows; for a store holding no data, an empty
    relation of ``cols`` — (name, DDL type) pairs, type None for a
    caller-named column whose type an empty store never saw."""
    rows = store.read(spark, live)
    if rows is not None:
        return rows
    return spark.range(0).select(
        *[
            (F.lit(None) if t is None else F.lit(None).cast(t)).alias(c)
            for c, t in cols
        ]
    )


def kmv_store_update(
    spark,
    store_dir: str,
    new_df: DataFrame,
    key_col: str,
    group_cols: list[str] | None = None,
    k: int = DEFAULT_K,
    salt: str = "kmv",
    batch_key: str | None = None,
) -> None:
    """One incremental step of a maintained KMV store: append the NEW
    batch's per-group k minima (≤ groups·k rows — the batch is reduced
    before anything touches the store) tagged with the batch key for
    audit. The store itself is never read on the write path, so updates
    from a backfill are one bounded blind append each; on a lakehouse
    runtime this is an INSERT into a clustered table."""
    group_cols = list(group_cols or [])
    minima = _minima_rows(new_df, key_col, group_cols, k, salt)
    store.append(minima, _minima_dir(store_dir), batch_key)


def kmv_store_sketch(
    spark,
    store_dir: str,
    group_cols: list[str] | None = None,
    k: int = DEFAULT_K,
) -> DataFrame:
    """Current sketches from a maintained store: distinct the appended
    minima, re-take the k smallest per group. By the semilattice
    property this equals ``kmv_sketch`` over the union of every batch
    ever appended — regardless of batch boundaries, ordering, or
    replays (tested). Pass ``group_cols=[]`` (default) for a store
    built without groups. Reader work grows with appended batches until
    ``compact_kmv_store`` re-bounds it. An empty store reads as no
    groups."""
    group_cols = list(group_cols or [])
    rows = _stored_rows(
        spark,
        _minima_dir(store_dir),
        [*((g, None) for g in group_cols), ("__h", "bigint")],
    ).select(*group_cols, "__h")
    return (
        _topk_hashes(rows, group_cols, k)
        .groupBy(*group_cols)
        .agg(F.sort_array(F.collect_list("__h")).alias("kmv"))
    )


def compact_kmv_store(
    spark,
    store_dir: str,
    group_cols: list[str] | None = None,
    k: int = DEFAULT_K,
) -> int:
    """Re-bound the store to ≤ groups·k rows: keep only each group's k
    smallest minima. No replay tags need excluding — a replayed append
    after compaction re-adds rows the semilattice merge absorbs.
    Returns the post-compaction row count."""
    group_cols = list(group_cols or [])
    return store.compact(
        spark,
        _minima_dir(store_dir),
        lambda rows: _topk_hashes(
            rows.select(*group_cols, "__h"), group_cols, k
        ),
    )


def start_kmv_sketch_stream(
    spark,
    docs_dir: str,
    store_dir: str,
    checkpoint_dir: str,
    schema: str,
    key_col: str,
    group_cols: list[str] | None = None,
    k: int = DEFAULT_K,
    salt: str = "kmv",
):
    """Structured Streaming wrapper: a file-source stream feeds the
    maintained KMV store one bounded append per micro-batch (the kappa
    loop of dedup.start_minhash_dedup_stream, with the simpler
    crash story the semilattice buys — a replayed micro-batch's
    re-append is absorbed by the reader's distinct, so there is no
    sink/state commit ordering to get right)."""
    stream = spark.readStream.schema(schema).format("json").load(docs_dir)

    def step(batch, batch_id: int) -> None:
        kmv_store_update(
            spark,
            store_dir,
            batch,
            key_col,
            group_cols,
            k,
            salt,
            batch_key=f"b{batch_id}",
        )

    return run_micro_batches(stream, checkpoint_dir, step)


# ---------------------------------------------------------------------------
# maintained count-min store (kappa form)
# ---------------------------------------------------------------------------
#
# Unlike KMV, CMS state is ADDITIVE (counts, not minima), so an
# at-least-once replay would double-count — the reader and compaction
# merge with store.additive_merge (max per (cell, tag), then sum).
# Per-batch appends are bounded at depth·width rows (the batch is
# reduced to its grid BEFORE touching the store).


def _cells_dir(store_dir: str) -> str:
    return os.path.join(store_dir, "cells")


def _cms_merge(rows: DataFrame) -> DataFrame:
    return store.additive_merge(rows, ["d", "c"], "cell_cnt")


def cms_store_update(
    spark,
    store_dir: str,
    new_df: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 64,
    salt: str = "cms",
    batch_key: str | None = None,
) -> None:
    """Append one batch's count-min grid (≤ depth·width rows) to the
    maintained store, tagged for replay dedup. The store is never read
    on the write path.

    ``batch_key`` is REQUIRED (ValueError on None): the additive
    state's entire replay discipline hangs on the tag — the reader's
    max-per-(cell, tag) dedup would collapse two distinct untagged
    appends into one. (The KMV store's kmv_store_update keeps an
    optional tag because its semilattice merge needs no replay
    discipline at all.)"""
    if batch_key is None:
        raise ValueError(
            "cms_store_update requires a non-None batch_key: the "
            "additive CMS store dedups replays by tag, and untagged "
            "appends would collapse into one"
        )
    store.append(
        cms_build(new_df, key_col, depth, width, salt),
        _cells_dir(store_dir),
        batch_key,
    )


def cms_store_read(spark, store_dir: str) -> DataFrame:
    """Current grid: dedup replayed appends (max per (cell, batch_key)
    — a replay rewrites identical counts under the same tag), then sum
    cells across batches. Output matches :func:`cms_build` over the
    union of every batch appended exactly once (tested); an empty store
    reads as no cells."""
    return _cms_merge(
        _stored_rows(
            spark,
            _cells_dir(store_dir),
            [("d", "int"), ("c", "bigint"), ("cell_cnt", "bigint"),
             (store.TAG, "string")],
        )
    )


def compact_cms_store(
    spark,
    store_dir: str,
    exclude_tags: tuple[str, ...] = (),
) -> int:
    """Freeze the reader's dedup-then-sum into one row per cell
    (≤ depth·width rows total). Pass the tags of any batch that may
    still replay in ``exclude_tags`` (under a stream wrapper: the most
    recent micro-batch); they are carried through verbatim. Returns the
    post-compaction row count."""
    return store.compact(
        spark, _cells_dir(store_dir), _cms_merge, keep_tags=exclude_tags
    )


def start_cms_sketch_stream(
    spark,
    docs_dir: str,
    store_dir: str,
    checkpoint_dir: str,
    schema: str,
    key_col: str,
    depth: int = 4,
    width: int = 64,
    salt: str = "cms",
):
    """Structured Streaming wrapper for the maintained count-min store:
    one bounded (≤ depth·width rows) append per micro-batch, tagged
    with its micro-batch id. When compacting a store this stream
    feeds, exclude the most recent batch's tag (see
    compact_cms_store)."""
    stream = spark.readStream.schema(schema).format("json").load(docs_dir)

    def step(batch, batch_id: int) -> None:
        cms_store_update(
            spark,
            store_dir,
            batch,
            key_col,
            depth,
            width,
            salt,
            batch_key=f"b{batch_id}",
        )

    return run_micro_batches(stream, checkpoint_dir, step)


# ---------------------------------------------------------------------------
# Bloom membership filter
# ---------------------------------------------------------------------------
#
# The third mergeable synopsis next to KMV (how many distinct) and CMS
# (how often): IS this key present at all. The warehouse use is the
# semi-join reduction — at 100 TB, an anti/semi-join against a big
# build side shuffles both relations; a Bloom filter of the build
# side's keys is ≤ m rows, broadcasts, and prefilters the probe side
# BEFORE its shuffle with zero false negatives (Spark's own runtime
# row-group Bloom pushdown is this idea inside the scan; this operator
# is the cross-relation, persistable, MERGEABLE form). Determinism:
# bit positions are salted md5 content hashes (sample_hash), so the
# filter's exact bit set — and therefore every probe verdict — is
# reproducible cross-engine and hash-gates under the DuckDB oracle,
# unlike a java-hash Bloom. Set bits form a plain (bit) relation:
# distinct-combinable on build, OR-merge across segments is a set
# UNION (a join-semilattice, so the maintained form needs no replay
# discipline — the KMV store class, not the CMS class).


@functools.cache
def _bloom_bits(
    key_col: str, m: int, depth: int, salt: str
) -> tuple[Column, ...]:
    """The ``depth`` salted bit positions (int, in [0, m)) of each
    ``key_col`` value — built once per arguments (the shared
    build/probe/flag bit format)."""
    return tuple(
        F.pmod(sample_hash(F.col(key_col), f"{salt}{i}"), F.lit(m)).cast("int")
        for i in range(depth)
    )


def bloom_build(
    df: DataFrame,
    key_col: str,
    m: int = 4096,
    depth: int = 3,
    salt: str = "bloom",
) -> DataFrame:
    """Set-bit relation of a Bloom filter over ``key_col``: one row per
    set bit (``bit`` int), ≤ m rows regardless of input size. Each key
    sets ``depth`` salted-hash bits; the explode happens before the
    distinct so the build is map-side combinable. NULL keys are
    excluded (the KMV/CMS guard). False-positive rate ≈
    (1 − e^{−d·n/m})^d for n distinct keys."""
    bits = F.explode(F.array(*_bloom_bits(key_col, m, depth, salt)))
    return (
        df.filter(F.col(key_col).isNotNull())
        .select(bits.alias("bit"))
        .distinct()
    )


def bloom_merge(segments: DataFrame) -> DataFrame:
    """OR-merge per-segment set-bit relations: plain distinct union —
    already-unioned input in, one deduped bit relation out."""
    return segments.select("bit").distinct()


def bloom_probe(
    keys: DataFrame,
    bloom: DataFrame,
    key_col: str,
    m: int = 4096,
    depth: int = 3,
    salt: str = "bloom",
    flag_col: str = "bloom_maybe",
) -> DataFrame:
    """Membership verdict for each DISTINCT row of ``keys``:
    ``flag_col`` is true iff ALL ``depth`` of the key's bits are set —
    never a false negative, false positives at the filter's rate. The
    bit relation broadcasts (≤ m rows by construction); a NULL key
    probes false, mirroring bloom_build's exclusion. Same distinct-keys
    contract as cms_probe."""
    bits = F.explode(F.array(*_bloom_bits(key_col, m, depth, salt)))
    expanded = keys.select("*", bits.alias("bit"))
    return (
        expanded.join(
            F.broadcast(bloom.withColumn("_set", F.lit(1))), ["bit"], "left"
        )
        .groupBy(*keys.columns)
        .agg(
            (F.count(F.lit(1)) == F.sum(F.coalesce("_set", F.lit(0))))
            .alias(flag_col)
        )
    )


# ---------------------------------------------------------------------------
# maintained Bloom store (kappa form)
# ---------------------------------------------------------------------------
#
# Bloom state is a set of bits under OR-merge — a join-semilattice like
# KMV, so this store inherits the KMV store's free replay story: an
# at-least-once re-append rewrites bits the reader's distinct absorbs;
# no tags, no commit ordering. Appends are bounded at ≤ m rows (the
# batch reduces to its bit set BEFORE touching the store).


def _bits_dir(store_dir: str) -> str:
    return os.path.join(store_dir, "bits")


def _bloom_merge(rows: DataFrame) -> DataFrame:
    return rows.select("bit").distinct()


def bloom_store_update(
    spark,
    store_dir: str,
    new_df: DataFrame,
    key_col: str,
    m: int = 4096,
    depth: int = 3,
    salt: str = "bloom",
    batch_key: str | None = None,
) -> None:
    """Append one batch's set bits (≤ m rows) to the maintained store,
    tagged for audit only (semilattice state — replays are absorbed)."""
    store.append(
        bloom_build(new_df, key_col, m, depth, salt),
        _bits_dir(store_dir),
        batch_key,
    )


def bloom_store_read(spark, store_dir: str) -> DataFrame:
    """Current bit relation: distinct over every appended batch — by
    the semilattice property equal to bloom_build over the union of
    all batches, regardless of boundaries, ordering, or replays. An
    empty store reads as no bits."""
    return _bloom_merge(
        _stored_rows(spark, _bits_dir(store_dir), [("bit", "int")])
    )


def compact_bloom_store(spark, store_dir: str) -> int:
    """Re-bound the store to ≤ m rows (one row per set bit). Returns
    the post-compaction row count."""
    return store.compact(spark, _bits_dir(store_dir), _bloom_merge)


def start_bloom_sketch_stream(
    spark,
    docs_dir: str,
    store_dir: str,
    checkpoint_dir: str,
    schema: str,
    key_col: str,
    m: int = 4096,
    depth: int = 3,
    salt: str = "bloom",
):
    """Structured Streaming wrapper for the maintained Bloom store: one
    bounded (≤ m rows) append per micro-batch, with the KMV stream's
    free idempotence (semilattice state — a replayed micro-batch's
    re-append is absorbed by the reader's distinct)."""
    stream = spark.readStream.schema(schema).format("json").load(docs_dir)

    def step(batch, batch_id: int) -> None:
        bloom_store_update(
            spark, store_dir, batch, key_col, m, depth, salt,
            batch_key=f"b{batch_id}",
        )

    return run_micro_batches(stream, checkpoint_dir, step)


def bloom_flag(
    df: DataFrame,
    bloom: DataFrame,
    key_col: str,
    m: int = 4096,
    depth: int = 3,
    salt: str = "bloom",
    flag_col: str = "bloom_maybe",
) -> DataFrame:
    """SHUFFLE-FREE per-row membership verdict: ``df`` + a boolean
    ``flag_col`` (true iff every one of the key's ``depth`` bits is
    set; NULL keys flag false). The filter's m bits are collapsed into
    ONE array<boolean> row (a bounded driver collect — ≤ m rows by the
    layout constant, the same provably-small class as the repo's other
    collects) and cross-joined as a single-row broadcast, so the
    verdict is a pure per-row projection: no groupBy, no exchange —
    the property the semi-join reduction depends on. Contrast
    :func:`bloom_probe`, the relation-shaped probe, whose per-DISTINCT
    aggregation shuffles its input."""
    spark = df.sparkSession
    mask = [False] * m
    for r in bloom.select("bit").collect():  # bounded: ≤ m rows
        if not 0 <= r["bit"] < m:
            raise ValueError(
                f"bloom bit {r['bit']} out of range for m={m}: the bit "
                "relation was built with a different m than the probe "
                "(m/depth/salt are part of the filter format and must "
                "match between build and probe)"
            )
        mask[r["bit"]] = True
    mask_df = spark.createDataFrame([(mask,)], "__bloom_mask array<boolean>")
    cond = None
    for bit in _bloom_bits(key_col, m, depth, salt):
        hit = F.coalesce(
            F.element_at("__bloom_mask", (bit + 1).cast("int")),
            F.lit(False),
        )
        cond = hit if cond is None else (cond & hit)
    return (
        df.crossJoin(F.broadcast(mask_df))
        .withColumn(flag_col, F.coalesce(cond, F.lit(False)))
        .drop("__bloom_mask")
    )


def bloom_prefiltered_anti_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    m: int = 4096,
    depth: int = 3,
    salt: str = "bloom",
) -> DataFrame:
    """``left ANTI JOIN right`` with a Bloom semi-join reduction — the
    production use of the membership filter, exact by the
    zero-false-negative guarantee:

    - rows whose key is NOT bloom-positive cannot exist in ``right``
      (no false negatives) → they are anti-join results OUTRIGHT and
      never enter any shuffle (the verdict is :func:`bloom_flag`'s
      per-row projection over a single-row broadcast mask — the first
      cut of this operator used bloom_probe, whose groupBy shuffled
      the whole probe side, defeating the point);
    - only the bloom-positive remainder (true members + the filter's
      false-positive fraction) pays the real anti-join.

    At 100 TB this is the difference between shuffling the whole probe
    relation and shuffling its ~|right ∩ left| + ε·|left| sliver; the
    mask is m bits broadcast once. Equivalence with the plain
    anti-join is guaranteed for any m/depth (tested) — the parameters
    tune the shuffle saved, never the result."""
    flagged = bloom_flag(
        left, bloom_build(right, right_key, m, depth, salt),
        left_key, m, depth, salt,
    )
    definite_out = flagged.filter(~F.col("bloom_maybe")).drop("bloom_maybe")
    maybe = flagged.filter(F.col("bloom_maybe")).drop("bloom_maybe")
    survivors = maybe.join(
        right.select(F.col(right_key).alias(left_key)).distinct(),
        left_key,
        "left_anti",
    )
    return definite_out.unionByName(survivors)


# ---------------------------------------------------------------------------
# bottom-k hash sample → deterministic mergeable quantiles
# ---------------------------------------------------------------------------
#
# The quantile member of the synopsis family (KMV distinct / CMS
# frequency / Bloom membership / THIS for distribution shape). The
# classic mergeable quantile sketches (KLL, GK, t-digest) are
# insertion-ORDER-dependent — useless under the differential-oracle
# discipline, where a synopsis must be a pure function of the data.
# The order-free alternative is a BOTTOM-K-BY-CONTENT-HASH row sample
# [priority/bottom-k sampling — Cohen & Kaplan 2007]: rank every row
# by a uniform content hash of its identity and keep the k smallest.
# That sample is (a) uniform without replacement, (b) deterministic
# cross-engine, and (c) a join-semilattice under "union then re-take
# the k smallest" — segments merge exactly like KMV sketches, so
# per-partition samples answer any coarser quantile question without a
# rescan. Quantiles read from the sample carry the standard sampling
# error ~ sqrt(q(1-q)/k) per quantile q.


def bottomk_sample(
    df: DataFrame,
    id_col: str,
    k: int,
    group_cols: list[str] | None = None,
    salt: str = "qsample",
) -> DataFrame:
    """Per-group bottom-k-by-hash row sample: the input rows (all
    columns) whose ``id_col`` content hash ranks in the group's k
    smallest, plus the ranking hash as ``__h``. Deterministic under
    any partitioning; the rank filter compiles to WindowGroupLimit so
    no group is ever fully sorted. NULL ids are excluded (the sketch
    tier's shared NULL guard). ``id_col`` must identify rows uniquely
    for uniform ROW sampling — hash a composite key first if no single
    column does."""
    group_cols = list(group_cols or [])
    hashed = df.filter(F.col(id_col).isNotNull()).withColumn(
        "__h", sample_hash(F.col(id_col), salt)
    )
    w = (
        Window.partitionBy(*group_cols).orderBy("__h", id_col)
        if group_cols
        else Window.partitionBy(F.lit(1)).orderBy("__h", id_col)
    )
    return (
        hashed.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def bottomk_merge(
    samples: DataFrame,
    id_col: str,
    k: int,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Merge per-segment bottom-k samples to a coarser rollup level:
    re-take the k smallest ``__h`` per group (drop the segment columns
    from ``group_cols`` before calling). By the semilattice property
    this equals :func:`bottomk_sample` over the union of the segments'
    raw rows — sketch-sized work, no rescan. Overlapping segments (or
    replayed appends, in a maintained form) contribute byte-identical
    duplicate rows; the per-(group, id) dedup below keeps them from
    consuming rank slots — without it the merged sample would fall
    short of the union's true bottom k."""
    group_cols = list(group_cols or [])
    samples = samples.dropDuplicates([*group_cols, id_col])
    w = (
        Window.partitionBy(*group_cols).orderBy("__h", id_col)
        if group_cols
        else Window.partitionBy(F.lit(1)).orderBy("__h", id_col)
    )
    return (
        samples.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def sample_quantiles(
    sample: DataFrame,
    value_col: str,
    quantiles: list[float],
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Exact interpolated percentiles OF THE SAMPLE, per group — the
    read side of the bottom-k synopsis. Identical IEEE arithmetic in
    Spark and DuckDB (the q_events_anomaly_mad precedent), so the
    estimates themselves hash-gate cross-engine."""
    group_cols = list(group_cols or [])
    qs = ", ".join(repr(float(q)) for q in quantiles)
    agg = F.expr(f"percentile({value_col}, array({qs}))").alias("__qv")
    out = (
        sample.groupBy(*group_cols).agg(agg)
        if group_cols
        else sample.agg(agg)
    )
    cols = [
        F.round(F.element_at("__qv", i + 1), 6).alias(
            f"q{str(q).replace('.', '_')}"
        )
        for i, q in enumerate(quantiles)
    ]
    return out.select(*group_cols, *cols)


# ---------------------------------------------------------------------------
# maintained bottom-k sample store (kappa form)
# ---------------------------------------------------------------------------
#
# Completes the synopsis family's maintained-store symmetry: KMV
# (distinct), CMS (frequency), and Bloom (membership) each have a
# store; this is the quantile member's. Bottom-k sample state is a
# JOIN-SEMILATTICE exactly like KMV minima — "union the samples,
# re-take the k smallest per group" is idempotent, commutative, and
# associative, and overlapping/replayed appends contribute
# byte-identical (group, id) rows the merge's dedup absorbs — so an
# at-least-once redelivery is exactly-once FOR FREE.
# The store keeps SAMPLE ROWS (id, value columns, ranking hash), not
# scalar hashes: the read side answers any quantile question over any
# value column the rows carry, at any coarser group level, without a
# rescan — per-segment updates are one bounded blind append each
# (≤ groups·k rows), an INSERT into a clustered table on a lakehouse
# runtime.


def _bottomk_dir(store_dir: str) -> str:
    return os.path.join(store_dir, "sample")


def _bottomk_meta(
    store_dir: str,
    op: str,
    k: int,
    group_cols: list[str],
    salt: str | None,
    record: bool,
) -> None:
    """Track / validate the store's FORMAT parameters (the Bloom
    m-mismatch class: parameters at a store seam must be validated,
    not assumed). All three are format, with different failure shapes:

    - ``k``: a read/compaction at k' is only exact for k' ≤ min(k over
      every append) — a segment appended at k=64 simply does not carry
      its 65th-smallest row, so a larger-k read would silently
      under-fill the true global bottom-k';
    - ``group_cols``: a compaction with the wrong grouping REWRITES
      the store — the global bottom-k deletes every other group's
      rows with no error;
    - ``salt`` (writes only; reads never hash): segments appended
      under different salts carry incomparable ``__h`` ranks, so the
      merged 'bottom-k' is the bottom-k of no consistent hash order.

    With ``record`` the sidecar is lowered/initialized by
    :func:`commit_json`, BEFORE the append so a crash between the two
    leaves the bound conservatively small (can only reject valid
    reads, never admit wrong ones). Stores predating the sidecar
    validate nothing (None meta)."""
    import json as _json

    path = os.path.join(store_dir, "sample_k.json")
    meta: dict | None = None
    try:
        with open(path) as f:
            raw = f.read()
    except FileNotFoundError:
        # absent = legitimately uninitialized (or pre-sidecar) store
        meta = None
    else:
        # present but unreadable/corrupt must RAISE, not validate
        # nothing: a silent None here would let the next record=True
        # append overwrite the sidecar with min_k=k, erasing a
        # historically smaller bound — a later larger-k read then
        # under-fills with no error anywhere (the _ann_meta contract)
        try:
            meta = _json.loads(raw)
        except ValueError as exc:
            raise ValueError(
                f"bottomk store {op}: corrupt sidecar {path} — refusing "
                f"to treat it as absent ({exc}); restore it or rebuild "
                f"the store."
            ) from None
    if meta is not None:
        if list(meta.get("group_cols", [])) != list(group_cols):
            raise ValueError(
                f"bottomk store {op} with group_cols={list(group_cols)}, "
                f"but the store was built with "
                f"group_cols={meta.get('group_cols')}: a mismatched "
                f"grouping mis-merges per-group samples (and a mismatched "
                f"compaction would DELETE every other group's rows). Use "
                f"the store's grouping or rebuild."
            )
        if (
            salt is not None
            and meta.get("salt") is not None
            and meta.get("salt") != salt
        ):
            raise ValueError(
                f"bottomk store {op} with salt={salt!r}, but the store's "
                f"segments rank by salt={meta.get('salt')!r}: mixed salts "
                f"make __h ranks incomparable and the merged sample is "
                f"the bottom-k of no consistent hash order."
            )
        min_k = meta.get("min_k")
        if op in ("read", "compaction") and min_k is not None and k > min_k:
            raise ValueError(
                f"bottomk store {op} at k={k}, but an append bounded this "
                f"store at k={min_k}: segments appended at the smaller k "
                f"do not carry rows beyond their own bottom-{min_k}, so a "
                f"k={k} result would silently under-fill. Use k<={min_k} "
                f"or rebuild the store."
            )
    if record:
        old_k = None if meta is None else meta.get("min_k")
        new = {
            "min_k": k if old_k is None else min(old_k, k),
            "group_cols": list(group_cols),
            "salt": salt if meta is None else (meta.get("salt") or salt),
        }
        if meta != new:
            commit_json(path, new)


def bottomk_store_update(
    spark,
    store_dir: str,
    new_df: DataFrame,
    id_col: str,
    k: int = 256,
    group_cols: list[str] | None = None,
    salt: str = "qsample",
    batch_key: str | None = None,
) -> None:
    """One incremental step of a maintained bottom-k sample store:
    reduce the NEW batch to its per-group bottom-k rows (bounded
    before anything touches the store) and append them tagged with the
    batch key for audit. The store is never read on the write path.
    ``new_df`` should be pre-projected to (group_cols, id_col, value
    columns) — every column appended is a column every reader pays
    for. ``id_col`` must identify rows uniquely (hash a composite key
    first otherwise); NULL ids are excluded by the shared guard in
    :func:`bottomk_sample`."""
    sample = bottomk_sample(new_df, id_col, k, group_cols, salt)
    # validate + record format params BEFORE the append
    _bottomk_meta(
        store_dir, "update", k, list(group_cols or []), salt, record=True
    )
    store.append(sample, _bottomk_dir(store_dir), batch_key)


def bottomk_store_sample(
    spark,
    store_dir: str,
    id_col: str,
    k: int = 256,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Current bottom-k sample from a maintained store: merge every
    appended segment (dedup by (group, id), re-take the k smallest).
    By the semilattice property this equals :func:`bottomk_sample`
    over the union of every batch ever appended — regardless of batch
    boundaries, ordering, or replays (tested). Reader work grows with
    appended batches until :func:`compact_bottomk_store` re-bounds
    it. Feed the result to :func:`sample_quantiles`. Raises if ``k``
    exceeds the smallest bound any append used (the segments cannot
    carry the missing rows — see :func:`_bottomk_min_k`); reads at a
    SMALLER k are exact by the semilattice property; a mismatched
    ``group_cols`` refuses too (it would mis-merge per-group
    samples)."""
    group_cols = list(group_cols or [])
    _bottomk_meta(store_dir, "read", k, group_cols, None, record=False)
    rows = _stored_rows(
        spark,
        _bottomk_dir(store_dir),
        [*((c, None) for c in (*group_cols, id_col)), ("__h", "bigint")],
    )
    return bottomk_merge(rows.drop(store.TAG), id_col, k, group_cols)


def start_bottomk_sample_stream(
    spark,
    docs_dir: str,
    store_dir: str,
    checkpoint_dir: str,
    schema: str,
    id_col: str,
    k: int = 256,
    group_cols: list[str] | None = None,
    salt: str = "qsample",
):
    """Structured Streaming wrapper: a file-source stream feeds the
    maintained bottom-k sample store one bounded append per
    micro-batch (the start_kmv_sketch_stream shape — the semilattice
    absorbs a replayed micro-batch's re-append via the (group, id)
    dedup, so there is no sink/state commit ordering to get right)."""
    stream = spark.readStream.schema(schema).format("json").load(docs_dir)

    def step(batch, batch_id: int) -> None:
        bottomk_store_update(
            spark,
            store_dir,
            batch,
            id_col,
            k,
            group_cols,
            salt,
            batch_key=f"b{batch_id}",
        )

    return run_micro_batches(stream, checkpoint_dir, step)


def compact_bottomk_store(
    spark,
    store_dir: str,
    id_col: str,
    k: int = 256,
    group_cols: list[str] | None = None,
) -> int:
    """Re-bound the store to ≤ groups·k rows: keep each group's merged
    bottom-k. No replay tags need excluding — a replayed append after
    compaction re-adds rows the semilattice merge absorbs. Returns the
    post-compaction row count."""
    group_cols = list(group_cols or [])
    _bottomk_meta(store_dir, "compaction", k, group_cols, None, record=False)

    def merge(rows: DataFrame) -> DataFrame:
        # the rewrite re-bounds the store: lower the recorded k first
        _bottomk_meta(
            store_dir, "compaction", k, group_cols, None, record=True
        )
        return bottomk_merge(rows.drop(store.TAG), id_col, k, group_cols)

    return store.compact(spark, _bottomk_dir(store_dir), merge)
