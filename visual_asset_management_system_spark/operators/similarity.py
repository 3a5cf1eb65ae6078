"""Similarity search over embedding columns (array<float>).

Two tiers, same contract:

- ``cosine_topk``      — exact brute-force top-k: one scan, dot products
  as JVM array expressions (F.aggregate/F.zip_with), TakeOrderedAndProject
  for the k. The baseline and the verifier for the approximate tier.
- ``lsh_topk``         — random-hyperplane LSH: H deterministic
  hyperplanes (seeded numpy, shipped as literals) → sign-bit bucket →
  probe only matching/nearby buckets. At 100 TB the bucket column is a
  partition/cluster key so a probe touches a fraction of the data;
  multi-probe widens recall.
- ``ivf_topk``         — IVF-lite: k-means-free variant using the LSH
  bucket as the inverted list key; listed here as the documented scale
  path (true k-means centroids slot in via Spark ML without changing
  the probe contract).

All-pairs similarity joins should go through dedup.minhash_lsh-style
bucketing, never a cross join.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import store
from ..streaming.driver import commit_json, run_micro_batches


def dot(a: Column, b: Column) -> Column:
    """Dot product of two array<numeric> columns, JVM-side.

    Deliberately the zip_with/aggregate HOF form: array lambdas are
    interpreted, but they walk the array once with cheap closures. An
    unrolled element_at chain (measured, dim=64) is several times
    SLOWER — the giant expression breaks whole-stage codegen and pays
    a boxed bounds-checked lookup per term — so don't "optimize" this
    into element_at terms. The cheap win lives one level up: norms
    are per-ROW quantities, so pair joins must precompute them before
    the join (see pairwise_cosine_within_buckets / knn_join) instead
    of letting cosine() recompute both norms per PAIR."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v)
    )


def cosine(a: Column, b: Column) -> Column:
    """NULL (not an error) when either vector has zero L2 norm.

    Spark 4 runs ANSI mode by default, where a plain ``/`` raises
    DIVIDE_BY_ZERO the moment a zero vector (failed encode, padding
    row) reaches any cosine path; DuckDB — and the oracle SQL built on
    its ``/`` — returns NULL instead. ``try_divide`` yields NULL on a
    zero divisor under BOTH ANSI settings (verified empirically), and
    for a non-zero divisor is the same IEEE double division, so scores
    stay bit-identical with the pre-guard expression. NULL scores sort
    LAST under ``desc`` in both engines, so zero-norm rows never
    displace real neighbors from a top-k. Reference analog:
    OpenSearch kNN (VAMS's search backend) degrades zero-norm vectors
    instead of failing the whole query."""
    return F.try_divide(dot(a, b), l2_norm(a) * l2_norm(b))


def _py_l2_norm(vec: list[float]) -> float:
    """Driver-side l2 norm of a literal vector, accumulating in the
    same left-to-right IEEE-double order as :func:`l2_norm` — the
    result is bit-identical to evaluating the HOF on the literal."""
    import math

    acc = 0.0
    for x in vec:
        acc = acc + float(x) * float(x)
    return math.sqrt(acc)


def cosine_topk(
    embeddings: DataFrame,
    query_vector: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Exact top-k by cosine similarity to a literal query vector.

    The query vector is a literal array → the comparison is a projection
    over one scan; orderBy+limit compiles to TakeOrderedAndProject (per-
    partition heaps + driver merge, no global sort). Scores are rounded
    to stabilize float comparison across engines; ties break on id.
    """
    q = F.array(*[F.lit(float(x)) for x in query_vector])
    vec_d = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    # the query norm is a constant — fold it on the driver instead of
    # re-evaluating an aggregate over the literal array per row
    q_norm = F.lit(_py_l2_norm(query_vector))
    return (
        embeddings.select(
            F.col(id_col),
            # try_divide: NULL (sorts last, like the DuckDB oracles)
            # instead of ANSI DIVIDE_BY_ZERO when either the stored
            # vector or the probe has zero norm — see cosine()
            F.round(
                F.try_divide(dot(vec_d, q), l2_norm(vec_d) * q_norm),
                round_digits,
            ).alias("cosine_sim"),
        )
        .orderBy(F.col("cosine_sim").desc(), F.col(id_col).asc())
        .limit(k)
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim))


def lsh_bucket(vec_col: Column, planes: np.ndarray) -> Column:
    """Random-hyperplane signature: one bit per plane, packed to bigint."""
    vec_d = F.transform(vec_col, lambda x: x.cast("double"))
    bucket = F.lit(0).cast("bigint")
    for i, plane in enumerate(planes):
        p = F.array(*[F.lit(float(v)) for v in plane])
        bucket = bucket + F.when(dot(vec_d, p) > 0, F.lit(1 << i).cast("bigint")).otherwise(
            F.lit(0)
        )
    return bucket


def probe_buckets(
    query_vector: list[float],
    planes: np.ndarray,
    multiprobe_hamming: int = 1,
) -> list[int]:
    """The query's LSH bucket plus every bucket within ``multiprobe_hamming``
    bit flips (all C(n_planes, d) combinations for d ≤ the requested
    distance — not just single flips)."""
    import itertools

    n_planes = len(planes)
    signs = (planes @ np.asarray(query_vector, dtype=np.float64)) > 0
    qbucket = int(sum(1 << i for i, s in enumerate(signs) if s))
    probe = {qbucket}
    for d in range(1, multiprobe_hamming + 1):
        for bits in itertools.combinations(range(n_planes), d):
            flip = 0
            for b in bits:
                flip |= 1 << b
            probe.add(qbucket ^ flip)
    return sorted(probe)


def lsh_topk(
    embeddings: DataFrame,
    query_vector: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    multiprobe_hamming: int = 1,
    seed: int = 42,
    bucket_col: str | None = None,
) -> DataFrame:
    """Approximate top-k: probe the query's LSH bucket (+ multiprobe
    neighbors), exact cosine within the probe set.

    If ``bucket_col`` names a pre-materialized bucket column (written by
    :func:`write_bucketed_embeddings`, where it is the partition key),
    the probe is a pure IN-list filter on it — Catalyst turns that into
    partition pruning and the scan touches |probe|/2^n_planes of the
    data. Without it the bucket is computed on the fly (a correctness/
    fallback path that still scans the corpus — not the 100 TB path).
    """
    planes = _hyperplanes(len(query_vector), n_planes, seed)
    probe = probe_buckets(query_vector, planes, multiprobe_hamming)
    if bucket_col is not None:
        candidates = embeddings.filter(F.col(bucket_col).isin(*probe))
    else:
        bucketed = embeddings.withColumn(
            "_bucket", lsh_bucket(F.col(vec_col), planes)
        )
        candidates = bucketed.filter(F.col("_bucket").isin(*probe))
    return cosine_topk(candidates, query_vector, k, id_col, vec_col)


def write_bucketed_embeddings(
    embeddings: DataFrame,
    out_dir: str,
    dim: int,
    vec_col: str = "embedding",
    n_planes: int = 8,
    seed: int = 42,
) -> None:
    """Materialize the corpus partitioned by LSH bucket — the ANN write
    path. One pass computes the signature and writes parquet with
    ``bucket`` as the partition directory key, so a probe reads only the
    probed directories (PartitionFilters in the scan, no full scan).
    At cluster scale the same layout is a Delta/Iceberg partition or
    cluster key; 2^n_planes directories (256 for the default 8 planes)
    keeps partitions coarse enough for large row groups."""
    planes = _hyperplanes(dim, n_planes, seed)
    (
        embeddings.withColumn("bucket", lsh_bucket(F.col(vec_col), planes))
        # co-locate each bucket before the partitioned write: one output
        # file per bucket directory instead of (shuffle-partitions ×
        # buckets) small files — small-file count is a real 100 TB cost
        .repartition("bucket")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(out_dir)
    )


def _nearest_list(vec_col: Column, centroids: np.ndarray) -> Column:
    """Index of the nearest centroid (squared L2), ties to the lowest
    index — ``array_min`` over (distance, index) structs compares
    lexicographically, all JVM-side."""
    vec_d = F.transform(vec_col, lambda x: x.cast("double"))
    entries = []
    for i, c in enumerate(centroids):
        cl = F.array(*[F.lit(float(v)) for v in c])
        diff = F.zip_with(vec_d, cl, lambda x, y: (x - y) * (x - y))
        d = F.aggregate(diff, F.lit(0.0), lambda acc, v: acc + v)
        entries.append(F.struct(d.alias("d"), F.lit(i).alias("i")))
    return F.array_min(F.array(*entries))["i"]


def sample_centroids(
    embeddings: DataFrame, n_lists: int, id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Deterministic sampled centroids: the first ``n_lists`` vectors by
    id — a k-means-free seeding (true k-means via Spark ML slots in
    without changing the probe contract). Bounded driver read of
    ``n_lists`` rows."""
    rows = (
        embeddings.select(id_col, vec_col).orderBy(id_col).limit(n_lists).collect()
    )
    return np.asarray([[float(x) for x in r[vec_col]] for r in rows])


def kmeans_centroids(
    embeddings: DataFrame,
    n_lists: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 20,
) -> np.ndarray:
    """TRAINED IVF centroids via Spark ML k-means — the quality upgrade
    behind :func:`sample_centroids`'s exact contract (k×dim ndarray).

    Distributed Lloyd iterations with k-means|| init; the only
    driver-side materialization is the k×dim centroid matrix itself.
    Deterministic for a fixed (data, seed, max_iter) on a pinned Spark
    version — but not SQL-expressible, so queries using trained
    centroids carry a recall-vs-exact unit test instead of a DuckDB
    replica of the training loop."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feats = embeddings.select(
        array_to_vector(
            F.transform(F.col(vec_col), lambda x: x.cast("double"))
        ).alias("features")
    )
    model = KMeans(k=n_lists, seed=seed, maxIter=max_iter).fit(feats)
    return np.asarray([np.asarray(c) for c in model.clusterCenters()])


def ivf_topk(
    embeddings: DataFrame,
    query_vector: list[float],
    centroids: np.ndarray,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    list_col: str | None = None,
) -> DataFrame:
    """IVF-lite ANN: inverted lists keyed by nearest centroid; probe the
    ``nprobe`` lists nearest the query, exact cosine within them.

    With ``list_col`` naming a pre-materialized list-id column (written
    via ``df.withColumn(list, _nearest_list(...)).write.partitionBy``,
    same layout as :func:`write_bucketed_embeddings`), the probe is an
    IN-list filter → partition pruning; the fallback computes the
    assignment on the fly (correctness path, full scan)."""
    q = np.asarray(query_vector, dtype=np.float64)
    d2 = ((centroids - q) ** 2).sum(axis=1)
    probe = [int(i) for i in np.argsort(d2, kind="stable")[:nprobe]]
    if list_col is not None:
        candidates = embeddings.filter(F.col(list_col).isin(*probe))
    else:
        listed = embeddings.withColumn(
            "_list", _nearest_list(F.col(vec_col), centroids)
        )
        candidates = listed.filter(F.col("_list").isin(*probe))
    return cosine_topk(candidates, query_vector, k, id_col, vec_col)


def _bucketed_norms(
    embeddings: DataFrame,
    dim: int,
    id_col: str,
    vec_col: str,
    n_planes: int,
    seed: int,
) -> DataFrame:
    """Checkpointed (id, v, bucket, nrm) staging relation. The
    bucketed+normed relation fans out to three consumers inside the
    pair join (bucket-size guard, both self-join sides — and semdedup
    stacks its decision anchor on top); eager localCheckpoint
    materializes the n_planes bucket dots and the norm ONCE per
    vector instead of per consumer — the same staging discipline as
    the minhash signature checkpoint in dedup.minhash_lsh_candidates."""
    from .checkpointing import maybe_checkpoint
    from .partitioning import ensure_min_parallelism

    planes = _hyperplanes(dim, n_planes, seed)
    return maybe_checkpoint(
        ensure_min_parallelism(embeddings).select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("v"),
            lsh_bucket(F.col(vec_col), planes).alias("bucket"),
            l2_norm(F.col(vec_col)).alias("nrm"),
        )
    )


def pairwise_cosine_within_buckets(
    embeddings: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    min_cosine: float = 0.8,
    seed: int = 42,
    max_bucket_size: int | None = None,
    _base: DataFrame | None = None,
) -> DataFrame:
    """Embedding near-dup pairs: exact cosine within LSH buckets only —
    the embedding-cosine variant of MinHash-LSH dedup. ``dim`` is the
    embedding dimensionality, passed explicitly (a ``.first()`` sniff
    would be a driver round-trip before every plan).

    ``max_bucket_size`` is the same 100 TB skew guard as
    dedup.minhash_lsh_candidates: a bucket with m members is an m²
    pair bomb, and degenerate corpora (near-duplicate floods, all-zero
    embeddings) co-bucket by construction. Buckets over the cap are
    DROPPED from pair generation — their members are duplicate-flood
    grade and belong to the cheaper exact-dedup pass. Costs one extra
    aggregation on the same ``bucket`` key the pair join shuffles on.
    """
    b = _base if _base is not None else _bucketed_norms(
        embeddings, dim, id_col, vec_col, n_planes, seed
    )
    if max_bucket_size is not None:
        ok_buckets = (
            b.groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") <= max_bucket_size)
            .select("bucket")
        )
        b = b.join(ok_buckets, ["bucket"], "left_semi")
    # norms are per-ROW (computed once in the checkpointed relation
    # above) so each of the O(bucket²) pairs does one dot instead of
    # one dot + two norm walks; dot/(na*nb) is the same expression as
    # cosine(), so the float result is bit-identical
    l, r = b.alias("l"), b.alias("r")
    return (
        l.join(
            r,
            (F.col("l.bucket") == F.col("r.bucket")) & (F.col("l.id") < F.col("r.id")),
        )
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            # try_divide: a zero-norm side yields NULL, and
            # NULL >= min_cosine is NULL → the pair drops in both
            # engines (zero vectors are never near-dups)
            F.round(
                F.try_divide(
                    dot(F.col("l.v"), F.col("r.v")),
                    F.col("l.nrm") * F.col("r.nrm"),
                ),
                6,
            ).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= min_cosine)
    )


def knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    query_id_col: str = "query_id",
    corpus_id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Batch kNN: for EVERY row of ``queries``, the ``k`` nearest corpus
    vectors by cosine — (query_id, vec_id, cosine_sim, rank).

    The single-vector :func:`cosine_topk` covers interactive lookups;
    this is the bulk form a labeling/retrieval pipeline runs (attach
    neighbors to a whole query table). Scale shape: the query set is
    broadcast (retrieval batches are ≤10⁵ rows even at 100 TB corpus
    scale), the corpus is scanned ONCE, and per-query top-k is a
    row_number window over (query_id) — partial per-partition heaps via
    the window's rank filter, never a global sort of the product. For
    query sets too large to broadcast, LSH-bucket both sides
    (:func:`lsh_bucket`) and apply the same window within buckets.
    """
    from .partitioning import ensure_min_parallelism
    from pyspark.sql import Window

    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("qv"),
    ).withColumn("qn", l2_norm(F.col("qv")))
    c = ensure_min_parallelism(corpus).select(
        F.col(corpus_id_col).alias("vec_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("cv"),
    ).withColumn("cn", l2_norm(F.col("cv")))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("vec_id")
    )
    return (
        c.join(F.broadcast(q))
        .select(
            "query_id",
            "vec_id",
            # per-row norms precomputed (qn broadcast with the query
            # set, cn before the join) — one dot per pair; try_divide
            # so zero-norm rows score NULL (rank last) — see cosine()
            F.round(
                F.try_divide(
                    dot(F.col("cv"), F.col("qv")),
                    F.col("cn") * F.col("qn"),
                ),
                round_digits,
            ).alias("cosine_sim"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine_sim", "rank")
    )


def semdedup(
    embeddings: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    min_cosine: float = 0.9,
    seed: int = 42,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic deduplication by
    embedding — cluster the corpus, then within each cluster drop every
    item whose cosine to a LOWER-id cluster-mate exceeds the threshold,
    keeping one representative per semantic near-dup group. Clusters
    here are the deterministic LSH buckets (the paper's k-means is an
    interchangeable partitioner; buckets keep the whole pipeline
    SQL-replicable for the differential oracle), and the pair surface
    is :func:`pairwise_cosine_within_buckets` — never all-pairs, with
    the same ``max_bucket_size`` pair-bomb guard.

    Returns one DECISION row per input: ``(id_col, bucket bigint,
    is_kept boolean)`` — members of over-cap buckets generate no pairs
    and stay kept (they belong to the cheaper exact-dedup pass).
    Costs one extra bucket-assignment map stage over the pair join
    (the signature is recomputed, not carried through the pair
    aggregate)."""
    base = _bucketed_norms(embeddings, dim, id_col, vec_col, n_planes, seed)
    b = base.select(F.col("id").alias(id_col), "bucket")
    pairs = pairwise_cosine_within_buckets(
        embeddings, dim, id_col, vec_col, n_planes, min_cosine, seed,
        max_bucket_size, _base=base,
    )
    dropped = (
        pairs.select(F.col("id_b").alias(id_col))
        .distinct()
        .withColumn("_dropped", F.lit(True))
    )
    return b.join(dropped, id_col, "left").select(
        id_col,
        "bucket",
        F.col("_dropped").isNull().alias("is_kept"),
    )


# ---------------------------------------------------------------------------
# maintained IVF index (kappa form)
# ---------------------------------------------------------------------------
#
# Every other index the engine maintains rides the CDC loop — search
# tables, BM25 postings, suggest, minhash/setsim stores, the sketch
# family. The ANN layout was the one write-path artifact still
# batch-only; this is its incremental form, the FAISS `add()`
# discipline re-expressed as a maintained Spark store:
#
# - centroids are FROZEN at store creation (trained or sampled from
#   the first batch, or passed in) and persisted in a sidecar — list
#   assignment must be a pure function of (vector, centroids), or the
#   partition a probe prunes to would drift per batch;
# - each update assigns its vectors to the nearest EXISTING centroid
#   and appends, partitioned by list id — bounded work per batch, the
#   store is never read on the write path;
# - rows carry a monotone per-update sequence from the sidecar, so
#   reads keep the max-seq row per id: a replayed append re-adds
#   byte-identical vectors under a higher seq (same winner — replays
#   are free), and a genuine re-embedding of an existing id wins
#   deterministically (the CDC upsert semantics, without a rewrite);
# - each row carries its SQ8 codes (``q8``/``q_scale``/``nrm``, see
#   quantize_embeddings) in the same file as its vector, written by the
#   same append: the quantized probe's first pass projects the narrow
#   columns and parquet skips the float column's bytes, so the narrow
#   scan needs no relation, watermark or compaction of its own;
# - the store is two relations, ``vectors/`` and the live-key relation
#   ``keys/``, with one coverage watermark (``keys_seq``) in the
#   sidecar; every read goes through store.read;
# - compaction keeps each id's winning row (store.rewrite).
#   Re-TRAINING centroids is a rebuild (new store), exactly as
#   re-sharding a FAISS IVF is — the sidecar's params are index format,
#   validated at every seam (the Bloom m-mismatch class). A store of an
#   earlier layout (a ``q8_seq`` watermark, or no frozen vec/id types)
#   is refused with "rebuild the store", never healed.
#
# Probe-side equivalence is differentially testable: with the same
# centroids, ann_store_topk over any batch split + replays equals
# ivf_topk over the union (assignment is pure; dedup absorbs
# replays), and the probe scan carries the list IN-filter as a
# PartitionFilter.


def _sqdist_fold(cents: "np.ndarray", q: list[float]) -> list[float]:
    """Driver-side squared L2 distances to each centroid, accumulating
    left-to-right like the JVM folds (:func:`_nearest_list` and the
    batched probe's list assignment) — bit-identical IEEE doubles, so
    a driver-chosen and a JVM-chosen probe list can never diverge on
    near-tied centroid distances (numpy's pairwise-summed ``.sum()``
    can differ from a sequential fold at the ULP level, which would be
    enough to pick a different list)."""
    out = []
    for c in cents:
        acc = 0.0
        for x, y in zip(q, c):
            d = float(x) - float(y)
            acc = acc + d * d
        out.append(acc)
    return out


def _ann_dirs(store_dir: str) -> str:
    import os

    return os.path.join(store_dir, "vectors")


def _ann_meta_path(store_dir: str) -> str:
    import os

    return os.path.join(store_dir, "ann_meta.json")


def _ann_meta(
    store_dir: str,
    op: str,
    dim: int | None = None,
    n_lists: int | None = None,
    centroids: "np.ndarray | None" = None,
    bump_seq: bool = False,
    vec_type: str | None = None,
    id_type: str | None = None,
    vec_name: str | None = None,
) -> dict:
    """Load / validate / initialize the sidecar holding the index
    FORMAT: frozen centroids, dim, n_lists, and the monotone update
    sequence. Every seam validates, INCLUDING creation: a first batch
    whose centroids disagree with the declared dim/n_lists must refuse
    here, not crash in numpy several calls later. Absence is strictly
    FileNotFoundError — a transient read error or corrupt JSON RAISES
    rather than silently re-initializing the store at seq 0 (which
    would put new appends BELOW existing rows and serve stale vectors
    with no error anywhere), and a missing sidecar beside an existing
    vectors directory is corruption, not a fresh store. A sidecar of
    an earlier layout — one carrying the retired ``q8_seq`` watermark
    (its vectors files hold no SQ8 codes) or lacking a frozen
    ``vec_type``/``id_type``/``vec_name`` — is refused: rebuild the
    store. With ``bump_seq`` the sequence is incremented and persisted
    (:func:`commit_json`) BEFORE the caller's append — a crash between
    the two burns a sequence number, which is harmless (ordering stays
    monotone)."""
    import json
    import os

    path = _ann_meta_path(store_dir)
    try:
        with open(path) as f:
            raw = f.read()
    except FileNotFoundError:
        meta = None
    else:
        try:
            meta = json.loads(raw)
        except ValueError as exc:
            raise ValueError(
                f"ann store {op}: corrupt sidecar {path} — refusing to "
                f"re-initialize over existing state ({exc}). Restore the "
                f"sidecar or rebuild the store."
            ) from None
    if meta is None:
        if os.path.isdir(_ann_dirs(store_dir)):
            raise ValueError(
                f"ann store {op}: vectors exist under {store_dir} but the "
                f"sidecar is missing — re-initializing would reset the "
                f"sequence below existing rows. Restore ann_meta.json or "
                f"rebuild."
            )
        if centroids is None:
            raise ValueError(
                f"ann store {op}: store at {store_dir} has no sidecar — "
                "create it with ann_index_update (first batch) before "
                "reading or compacting"
            )
        if centroids.ndim != 2 or centroids.shape[0] == 0:
            # an EMPTY first batch sampled a shape-(0,) matrix — indexing
            # shape[1] below would be an IndexError far from the cause
            raise ValueError(
                f"ann store {op}: {centroids.shape[0] if centroids.ndim else 0} "
                f"centroids sampled/provided (first batch empty or all-NULL?) "
                f"— the frozen matrix needs at least one row. Seed the store "
                f"with a non-empty batch or pass trained centroids."
            )
        if dim is not None and int(centroids.shape[1]) != int(dim):
            raise ValueError(
                f"ann store {op}: declared dim={dim} but the centroid "
                f"matrix is {centroids.shape[1]}-wide — an inconsistent "
                f"frozen format would crash probes far from this cause."
            )
        if n_lists is not None and int(centroids.shape[0]) != int(n_lists):
            raise ValueError(
                f"ann store {op}: requested n_lists={n_lists} but "
                f"{centroids.shape[0]} centroids were provided/sampled "
                f"(a first batch smaller than n_lists samples short) — "
                f"freeze exactly the requested list count or lower it."
            )
        meta = {
            "dim": int(dim if dim is not None else centroids.shape[1]),
            "n_lists": int(centroids.shape[0]),
            "centroids": [[float(v) for v in c] for c in centroids],
            "seq": 0,
            # the vector column's ELEMENT type is index format too: a
            # later append with a different element type (float batch
            # into a double-seeded store or vice versa) writes parquet
            # files whose physical type disagrees with the dataset's —
            # every subsequent read of the touched partitions fails
            # with PARQUET_COLUMN_DATA_TYPE_MISMATCH. Freeze the first
            # batch's type; updates CAST to it (found by the r12 soak's
            # probe-flatness section re-embedding with a double-typed
            # expression).
            "vec_type": vec_type or "array<float>",
            # the id column's type and vector column's name are format
            # too — needed to type the EMPTY vectors relation when a
            # created-but-unbackfilled store (centroids seeded, zero
            # part files) is probed
            "id_type": id_type or "bigint",
            "vec_name": vec_name or "embedding",
        }
    else:
        if "q8_seq" in meta or any(
            f not in meta for f in ("vec_type", "id_type", "vec_name")
        ):
            raise ValueError(
                f"ann store {op}: {store_dir} has an earlier layout (a "
                f"q8_seq watermark, or no vec_type/id_type/vec_name in "
                f"the sidecar): its vectors files carry no SQ8 codes — "
                f"rebuild the store"
            )
        if dim is not None and int(meta["dim"]) != int(dim):
            raise ValueError(
                f"ann store {op} with dim={dim}, but the store's frozen "
                f"centroids are dim={meta['dim']}: list assignment would "
                f"be against the wrong geometry. Rebuild to change dim."
            )
        if n_lists is not None and int(meta["n_lists"]) != int(n_lists):
            raise ValueError(
                f"ann store {op} with n_lists={n_lists}, but the store "
                f"was created with n_lists={meta['n_lists']}: the "
                f"partition layout is the index format. Rebuild to "
                f"change it."
            )
        if centroids is not None and [
            [float(v) for v in c] for c in centroids
        ] != meta["centroids"]:
            raise ValueError(
                f"ann store {op} passed centroids differing from the "
                f"store's FROZEN matrix: assignment must be a pure "
                f"function of (vector, stored centroids) or probes "
                f"prune to the wrong partitions. Omit the argument to "
                f"use the stored centroids, or rebuild."
            )
    if bump_seq:
        meta["seq"] = int(meta["seq"]) + 1
        commit_json(path, meta)
    return meta


def ann_index_update(
    spark,
    store_dir: str,
    new_embeddings: DataFrame,
    dim: int,
    n_lists: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: "np.ndarray | None" = None,
    batch_key: str | None = None,
) -> None:
    """One incremental step of the maintained IVF index: assign the
    batch's vectors to the nearest FROZEN centroid and append them
    partitioned by list id. The first call creates the store (freezing
    ``centroids``, or :func:`sample_centroids` of the first batch when
    omitted — pass :func:`kmeans_centroids` output for trained lists);
    later calls must not pass a different matrix. NULL ids and NULL
    vectors are excluded (the sketch tier's shared guard). Rows carry
    the sidecar's monotone ``_seq`` plus ``_rh``, a write-time vector
    hash — the winner-selection tie-break, stored so reads can pick
    winners from the THIN (id, _seq, _rh, list) projection without
    touching vector bytes — and the vector's SQ8 codes
    (:func:`quantize_embeddings`), so the quantized probe's narrow
    first pass is a column projection of the same files. One append
    per batch; the vector store is never read on the write path, only
    the live-key merge reads the rows appended since its watermark."""
    import os

    first = not os.path.isfile(_ann_meta_path(store_dir))
    if first and centroids is None:
        centroids = sample_centroids(
            new_embeddings.filter(
                F.col(id_col).isNotNull() & F.col(vec_col).isNotNull()
            ),
            n_lists,
            id_col,
            vec_col,
        )
    meta = _ann_meta(
        store_dir, "update", dim, n_lists, centroids, bump_seq=True,
        vec_type=new_embeddings.schema[vec_col].dataType.simpleString(),
        id_type=new_embeddings.schema[id_col].dataType.simpleString(),
        vec_name=vec_col,
    )
    cents = np.asarray(meta["centroids"], dtype=np.float64)
    rows = (
        new_embeddings.select(
            F.col(id_col),
            # cast to the store's FROZEN element type before anything
            # derives from the vector: a type-drifting append would
            # otherwise write parquet files physically incompatible
            # with the dataset (unreadable store), and _rh must hash
            # the STORED representation so replays of the same logical
            # vector dedup
            F.col(vec_col).cast(meta["vec_type"]).alias(vec_col),
        )
        .filter(F.col(id_col).isNotNull() & F.col(vec_col).isNotNull())
        .withColumn("_list", _nearest_list(F.col(vec_col), cents))
        .withColumn("_seq", F.lit(int(meta["seq"])))
        .withColumn("_rh", F.xxhash64(F.col(vec_col)))
    )
    keep = (vec_col, "_list", "_seq", "_rh")
    assigned = (
        quantize_embeddings(rows, id_col, vec_col, keep_cols=keep)
        # co-locate each list before the partitioned write (one file
        # per touched list directory, not shuffle-partitions × lists),
        # and sort by id WITHIN each list: parquet's page-level column
        # index then gives every page a tight id range, so the
        # quantized probe's pushed-In survivor fetch skips the
        # non-survivor pages instead of decoding the whole list (ids
        # scattered across pages make every page's min/max span the
        # full range — no skip, and stage 2 silently re-reads what
        # stage 1 saved)
        .repartition("_list")
        .sortWithinPartitions("_list", id_col)
    )
    store.append(
        assigned, _ann_dirs(store_dir), batch_key, partition_col="_list"
    )
    _merge_ann_keys(spark, store_dir, meta, id_col)


def _ann_keys_dir(store_dir: str) -> str:
    import os

    return os.path.join(store_dir, "keys")


def _ann_empty_vectors(spark, meta: dict, id_col: str, vec_col: str):
    """Typed EMPTY vectors relation for a created-but-unbackfilled
    store (centroids seeded, zero part files): the append schema from
    the sidecar's frozen types, so probing between create and the
    first real append returns an empty result instead of
    unable-to-infer-schema — the read-side twin of the
    create-then-backfill no-op guard in :func:`_merge_ann_keys`."""
    return spark.createDataFrame(
        [],
        f"{id_col} {meta['id_type']}, "
        "q8 array<tinyint>, q_scale double, nrm double, "
        f"{vec_col} {meta['vec_type']}, "
        "_seq bigint, _rh bigint, batch_key string, _list int",
    )


def _ann_vectors(
    spark, store_dir: str, meta: dict, id_col: str, vec_col: str
) -> DataFrame:
    """The vectors relation, or — for a created-but-unbackfilled store
    — its empty typed twin, so a probe returns 0 rows instead of
    failing schema inference."""
    rows = store.read(spark, _ann_dirs(store_dir))
    if rows is None:
        return _ann_empty_vectors(spark, meta, id_col, vec_col)
    return rows


def _merge_ann_keys(spark, store_dir, meta: dict, id_col: str) -> None:
    """Maintain the BOUNDED live-key relation: one row per live id —
    (id, _seq, _rh, _list), the store's global winners — merged per
    batch exactly like the search-table CDC artifacts (read current,
    union the thin delta, keep winners, ``store.rewrite``). This is what
    keeps probes O(live ids) instead of O(ever-appended rows): without
    it every probe re-derived winners from the store-wide thin
    projection between compactions (the r11 shape).

    Crash-safe by catch-up, not by atomicity with the append: the
    delta is read back from the STORE (rows with _seq > keys_seq),
    not from the caller's batch, so a crash between a vector append
    and this merge just leaves keys_seq — the store's one watermark,
    committed only after the rewrite — behind; the next merge (or any
    read, via :func:`_ann_live_keys`) folds the missed rows in. Keys
    are partitioned by ``_list`` so probes prune their key scan to the
    probed lists, same as the vector fetch."""
    kdir = _ann_keys_dir(store_dir)
    keys_seq = int(meta.get("keys_seq", 0))
    seq = int(meta["seq"])
    keys = store.read(spark, kdir)
    if keys_seq >= seq and keys is not None:
        return
    rows = store.read(spark, _ann_dirs(store_dir))
    if rows is None:
        # a brand-new store seeded with explicit centroids and an
        # empty (or all-NULL) first batch wrote zero part-files —
        # there is nothing to merge (create-then-backfill is a silent
        # no-op)
        return
    thin = [id_col, "_seq", "_rh", "_list"]
    delta = rows.select(*thin)
    if keys is not None:
        # only rows appended after the last merge; keys hold the rest.
        # Without keys (lost, or never merged) take the full thin
        # projection.
        delta = keys.select(*thin).unionByName(
            delta.filter(F.col("_seq") > keys_seq)
        )
    merged = _ann_winners(delta, id_col).repartition("_list")
    store.rewrite(spark, merged, kdir, partition_col="_list")
    meta["keys_seq"] = seq
    commit_json(_ann_meta_path(store_dir), meta)


def _ann_live_keys(
    spark, store_dir: str, meta: dict, id_col: str
) -> DataFrame:
    """The live-key relation as a read: (id, _seq, _rh, _list), one row
    per live id, GLOBAL winners (a re-embedded id's live row may sit in
    any list — see :func:`ann_store_topk`). Common case: the maintained
    keys/ artifact covers the sidecar seq and is returned as-is —
    bounded, list-partitioned, no store scan. If keys/ is behind
    (crash between append and merge) or absent, the thin delta is
    folded in read-only; the next update persists it."""
    keys_seq = int(meta.get("keys_seq", 0))
    keys = store.read(spark, _ann_keys_dir(store_dir))
    if keys is not None and keys_seq >= int(meta["seq"]):
        return keys
    thin_cols = [id_col, "_seq", "_rh", "_list"]
    # a created-but-unbackfilled store reads as its empty typed twin:
    # no rows ⇒ no live keys (keys/ cannot exist yet — its merge
    # no-ops on the same guard)
    delta = _ann_vectors(
        spark, store_dir, meta, id_col, meta["vec_name"]
    ).select(*thin_cols)
    if keys is not None:
        delta = keys.select(*thin_cols).unionByName(
            delta.filter(F.col("_seq") > keys_seq)
        )
    return _ann_winners(delta, id_col)


def _ann_winners(rows: DataFrame, id_col: str) -> DataFrame:
    """The store's ONE winner-selection rule (shared by read, probe,
    and compaction — two copies of this window drifting apart would
    make them disagree on which row is live): max ``_seq`` per id, the
    stored vector hash ``_rh`` breaking ties for duplicate ids WITHIN
    one update, so the winner never depends on row order — and never
    needs vector bytes, keeping winner selection viable on the thin
    column projection."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(id_col).orderBy(F.desc("_seq"), F.desc("_rh"))
    return (
        rows.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def ann_store_read(
    spark,
    store_dir: str,
    id_col: str = "vec_id",
) -> DataFrame:
    """Current live vectors: the max-seq row per id (see
    :func:`_ann_winners`). A replayed append re-adds the same vector
    under a higher seq, so the winner's VALUES are unchanged —
    replays are free. Reader-side work grows with appended batches
    until :func:`compact_ann_store` re-bounds it."""
    meta = _ann_meta(store_dir, "read")
    rows = _ann_vectors(spark, store_dir, meta, id_col, meta["vec_name"])
    return _ann_winners(rows, id_col).drop(
        "q8", "q_scale", "nrm", "_seq", "_rh", store.TAG
    )


def ann_store_topk(
    spark,
    store_dir: str,
    query_vector: list[float],
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe the maintained index: nearest ``nprobe`` lists by the
    frozen centroids (driver-side numpy over the sidecar — k×dim),
    then exact cosine top-k among the LIVE rows of the probed lists.

    Upsert-correct by construction: a re-embedded id's new row can
    land in a DIFFERENT list, so winner selection must be global —
    deduping only within the probed partitions would resurrect the
    superseded vector whenever the live row moved elsewhere (and
    compaction, which dedups globally, would then silently change
    probe results). Global winners come from the MAINTAINED live-key
    relation (:func:`_merge_ann_keys` — one row per live id, merged
    per update batch), so between compactions a probe costs O(live
    ids in the probed lists), not O(ever-appended rows): both the key
    scan and the vector fetch carry the probed-list IN filter as
    PartitionFilters (plan-asserted). An id whose live row sits in a
    probed list joins back to its vector there; one whose live row
    moved out has its key row in another list partition and is
    excluded entirely. ``dropDuplicates`` on the fetched frame keeps
    an id appended twice byte-identically within one update from
    occupying two of the k slots (the rows are identical, so the
    kept one is value-deterministic)."""
    meta = _ann_meta(store_dir, "read")
    cents = np.asarray(meta["centroids"], dtype=np.float64)
    q = np.asarray(query_vector, dtype=np.float64)
    if q.shape[0] != int(meta["dim"]):
        raise ValueError(
            f"ann store read: query dim {q.shape[0]} != index dim "
            f"{meta['dim']}"
        )
    # sequential fold, not numpy .sum: bit-identical to the JVM list
    # assignment, so this probe and the batched form agree on
    # near-tied centroids — see _sqdist_fold
    d2 = _sqdist_fold(cents, [float(x) for x in q])
    probe = [int(i) for i in np.argsort(d2, kind="stable")[:nprobe]]
    rows = _ann_vectors(spark, store_dir, meta, id_col, vec_col)
    live_keys = (
        _ann_live_keys(spark, store_dir, meta, id_col)
        .filter(F.col("_list").isin(*probe))
        .select(id_col, "_seq", "_rh")
    )
    fetched = (
        rows.filter(F.col("_list").isin(*probe))
        # no broadcast HINT: probed-list keys are usually tiny (AQE
        # broadcasts them), but at 10^9 live ids forcing it would OOM
        # the driver — the shuffle semi-join is the safe fallback
        .join(live_keys, [id_col, "_seq", "_rh"], "left_semi")
        .dropDuplicates([id_col])
    )
    return cosine_topk(fetched, query_vector, k, id_col, vec_col)


def start_ann_index_stream(
    spark,
    docs_dir: str,
    store_dir: str,
    checkpoint_dir: str,
    schema: str,
    dim: int,
    n_lists: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: "np.ndarray | None" = None,
):
    """Structured Streaming wrapper: a file-source embedding stream
    feeds the maintained IVF index one bounded append per micro-batch
    (the start_kmv_sketch_stream shape). Pass ``centroids`` to freeze
    a trained matrix up front — otherwise the FIRST micro-batch's
    sample freezes them, which couples index geometry to stream
    arrival order (fine for a backfill replay of a fixed file set,
    wrong for a live stream; the sidecar makes either choice explicit
    and permanent). Replays are free: a redelivered micro-batch
    re-appends identical rows under a higher seq, so the winner's
    values are unchanged."""
    stream = spark.readStream.schema(schema).format("json").load(docs_dir)

    def step(batch, batch_id: int) -> None:
        ann_index_update(
            spark,
            store_dir,
            batch,
            dim,
            n_lists,
            id_col,
            vec_col,
            centroids=centroids,
            batch_key=f"b{batch_id}",
        )

    return run_micro_batches(stream, checkpoint_dir, step)


def compact_ann_store(
    spark,
    store_dir: str,
    id_col: str = "vec_id",
) -> int:
    """Re-bound reader work to one row per live id: keep each id's
    winning row (same :func:`_ann_winners` rule as every read) and
    rewrite it partitioned (``store.rewrite``). Winning rows KEEP their
    original ``_seq``/``_rh`` and tag — the live-key relation (keys/)
    references rows by those columns, so preserving them means
    compaction never has to rewrite keys/ and there is no crash window
    where the two artifacts disagree (a reset-to-zero would need both
    swaps to be atomic together). Probe results are UNCHANGED by
    compaction — the winner set is identical. Replays after compaction
    re-add rows under later seqs the reader dedup absorbs. The winners
    carry their SQ8 codes, so the quantized probe's narrow columns are
    re-bounded by the same single rewrite. Returns the post-compaction
    row count."""
    _ann_meta(store_dir, "compaction")
    vecs = _ann_dirs(store_dir)
    rows = store.read(spark, vecs)
    if rows is None:
        # absent OR created-but-unbackfilled (zero part files): nothing
        # to re-bound
        return 0
    compacted = (
        _ann_winners(rows, id_col)
        .repartition("_list")
        .sortWithinPartitions("_list", id_col)
    )
    return store.rewrite(spark, compacted, vecs, partition_col="_list")


def ann_store_stats(
    spark,
    store_dir: str,
    id_col: str = "vec_id",
) -> DataFrame:
    """Per-list health of the maintained index — the observable behind
    SCALE.md's documented trade ("frozen centroids; monitor per-list
    sizes, rebuild on skew"): one row per inverted list with its LIVE
    row count (from the bounded key relation, not the raw store) and
    its RAW appended row count (live/raw ratio << 1 means compaction
    is due; a live count far above rows/n_lists means the frozen
    centroids no longer fit the data and the store wants a rebuild).
    Lists every configured list, including empty ones — a silent
    all-zero list is itself a skew signal."""
    meta = _ann_meta(store_dir, "read")
    lists = spark.range(int(meta["n_lists"])).select(
        F.col("id").cast("int").alias("list_id")
    )
    live = (
        _ann_live_keys(spark, store_dir, meta, id_col)
        .groupBy(F.col("_list").cast("int").alias("list_id"))
        .agg(F.count(F.lit(1)).alias("live_rows"))
    )
    raw = (
        _ann_vectors(spark, store_dir, meta, id_col, meta["vec_name"])
        .groupBy(F.col("_list").cast("int").alias("list_id"))
        .agg(F.count(F.lit(1)).alias("raw_rows"))
    )
    return (
        lists.join(live, "list_id", "left")
        .join(raw, "list_id", "left")
        .select(
            "list_id",
            F.coalesce("live_rows", F.lit(0)).alias("live_rows"),
            F.coalesce("raw_rows", F.lit(0)).alias("raw_rows"),
        )
        .orderBy("list_id")
    )


def ann_store_knn_join(
    spark,
    store_dir: str,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    query_id_col: str = "query_id",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Batched probes over the MAINTAINED index: for every row of
    ``queries``, the ``k`` nearest LIVE vectors by cosine among its
    ``nprobe`` nearest lists — (query_id, vec_id, cosine_sim, rank).

    The deployment form a re-embedding pipeline needs: thousands of
    query vectors per batch, where per-vector :func:`ann_store_topk`
    calls would pay a driver round-trip and a Spark job each. List
    assignment happens JVM-SIDE — the frozen centroid matrix ships as
    literal arrays (the :func:`lsh_topk` pattern) and each query row
    sorts its (squared-distance, list) pairs with ``array_sort`` over
    structs, which orders exactly like the numpy stable argsort the
    single-vector probe uses (distance asc, list asc on ties). The
    union of probed lists across the batch is collected — BOUNDED at
    n_lists integers, the centroid-seed collect class — and applied
    to the vector fetch and the key scan as a static IN filter
    (PartitionFilters, plan-asserted). Queries are the broadcast side
    (the :func:`knn_join` discipline: retrieval batches are <=1e5
    rows even at 100 TB corpus scale); per-query top-k is a
    rank-filtered window (WindowGroupLimit), never a global sort.
    Norms are per-row: corpus norms computed once before the join,
    query norms once before the explode."""
    from .checkpointing import maybe_checkpoint
    from pyspark.sql import Window

    meta = _ann_meta(store_dir, "read")
    cents = np.asarray(meta["centroids"], dtype=np.float64)
    qv = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    # (squared distance, list) per centroid — same accumulation shape
    # as _nearest_list, kept as an array so array_sort ranks all lists
    entries = []
    for i, c in enumerate(cents):
        cl = F.array(*[F.lit(float(v)) for v in c])
        d = F.aggregate(
            F.zip_with(F.col("qv"), cl, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        entries.append(F.struct(d.alias("d"), F.lit(i).alias("i")))
    qx = maybe_checkpoint(
        queries.filter(
            F.col(query_id_col).isNotNull() & F.col(vec_col).isNotNull()
        )
        .select(F.col(query_id_col).alias("query_id"), qv.alias("qv"))
        .withColumn("qn", l2_norm(F.col("qv")))
        .withColumn(
            "_list",
            F.explode(
                F.transform(
                    F.slice(F.array_sort(F.array(*entries)), 1, nprobe),
                    lambda s: s["i"],
                )
            ),
        )
    )
    # bounded driver read: DISTINCT probed lists <= n_lists integers.
    # A static IN list reaches both scans as PartitionFilters — dynamic
    # partition pruning can't see through the live-key semi-join.
    probe = sorted(r["_list"] for r in qx.select("_list").distinct().collect())
    flt = F.col("_list").isin(*probe) if probe else F.lit(False)
    live_keys = (
        _ann_live_keys(spark, store_dir, meta, id_col)
        .filter(flt)
        .select(id_col, "_seq", "_rh")
    )
    raw = _ann_vectors(spark, store_dir, meta, id_col, vec_col)
    fetched = (
        raw
        .filter(flt)
        .join(live_keys, [id_col, "_seq", "_rh"], "left_semi")
        .dropDuplicates([id_col])
        .select(
            F.col(id_col).alias("vec_id"),
            F.col("_list"),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias(
                "cv"
            ),
        )
        .withColumn("cn", l2_norm(F.col("cv")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("vec_id")
    )
    return (
        fetched.join(F.broadcast(qx), "_list")
        .select(
            "query_id",
            "vec_id",
            # try_divide: zero-norm stored/query vectors score NULL
            # (rank last) instead of ANSI DIVIDE_BY_ZERO — see cosine()
            F.round(
                F.try_divide(
                    dot(F.col("cv"), F.col("qv")),
                    F.col("cn") * F.col("qn"),
                ),
                round_digits,
            ).alias("cosine_sim"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine_sim", "rank")
    )


def start_ann_knn_join_stream(
    spark,
    queries_dir: str,
    store_dir: str,
    results_dir: str,
    checkpoint_dir: str,
    queries_schema: str = "query_id bigint, embedding array<float>",
    k: int = 10,
    nprobe: int = 4,
    query_id_col: str = "query_id",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Structured Streaming wrapper for the batched probe: a
    file-source stream of QUERY vectors runs one
    :func:`ann_store_knn_join` per micro-batch against the maintained
    index, each batch's (query_id, vec_id, cosine_sim, rank) results
    landing in a ``batch=<id>`` partition of ``results_dir`` — the
    re-embedding-pipeline kappa form (queries arrive continuously,
    neighbors attach per micro-batch).

    Idempotent under at-least-once redelivery WITHOUT the
    setsim-stream crash ordering, because the probe never mutates the
    store: a replayed batch recomputes against the store and
    overwrites its own partition. If index UPDATES interleave with the
    replay the recomputed neighbors reflect the store AS OF the replay
    — the at-least-once norm for any read-only enrichment join (the
    batch form's oracle pins the per-state semantics)."""
    import os

    stream = (
        spark.readStream.schema(queries_schema)
        .format("json")
        .load(queries_dir)
    )

    def step(batch, batch_id: int) -> None:
        res = ann_store_knn_join(
            spark,
            store_dir,
            batch,
            k=k,
            nprobe=nprobe,
            query_id_col=query_id_col,
            id_col=id_col,
            vec_col=vec_col,
        )
        res.write.mode("overwrite").parquet(
            os.path.join(results_dir, f"batch=b{batch_id}")
        )

    return run_micro_batches(stream, checkpoint_dir, step)


# ---------------------------------------------------------------------------
# int8 scalar quantization (SQ8) — narrow-scan probe + exact re-rank
# ---------------------------------------------------------------------------


def quantize_embeddings(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_cols: "tuple[str, ...]" = (),
) -> DataFrame:
    """Per-vector symmetric int8 scalar quantization — the FAISS
    SQ8 discipline re-expressed as columns: ``(id, q8 array<tinyint>,
    q_scale double, nrm double)`` where ``x[i] ≈ q8[i] · q_scale`` and
    ``nrm`` is the EXACT L2 norm captured at quantization time (so the
    probe's approximate cosine divides by true norms and its only
    error is the dot's quantization noise).

    100 TB posture: this is the relation the first-pass probe scans —
    1 byte per element instead of the float32/float64 vector (4-8×
    scan I/O cut), with the full-precision relation touched only for
    the ``rerank`` survivors (:func:`cosine_topk_quantized`). All
    JVM-side array expressions; a ZERO vector gets NULL q8/q_scale/nrm
    (nothing to scale) and scores NULL downstream, consistent with the
    engine-wide zero-norm semantics.

    ``keep_cols`` pass through untouched — the maintained ANN store's
    append uses them to carry the vector and (_list, _seq, _rh)
    alongside the quantized columns, so one file holds both tiers."""
    extra = list(keep_cols)
    vec_d = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    staged = embeddings.select(
        F.col(id_col),
        *extra,
        vec_d.alias("_v"),
        F.aggregate(
            vec_d, F.lit(0.0), lambda acc, v: F.greatest(acc, F.abs(v))
        ).alias("_maxabs"),
    ).select(
        id_col,
        *extra,
        "_v",
        F.when(F.col("_maxabs") > 0, F.col("_maxabs") / F.lit(127.0)).alias(
            "q_scale"
        ),
    )
    return staged.select(
        id_col,
        F.when(
            F.col("q_scale").isNotNull(),
            F.transform(
                F.col("_v"),
                lambda x: F.round(x / F.col("q_scale")).cast("tinyint"),
            ),
        ).alias("q8"),
        "q_scale",
        F.when(F.col("q_scale").isNotNull(), l2_norm(F.col("_v"))).alias(
            "nrm"
        ),
        *extra,
    )


def _sq8_query_prep(query_vector: list[float]) -> "tuple[float, list[int]] | None":
    """Driver-side symmetric quantization of the QUERY vector (k×1,
    not data-sized): ``(q_scale, q8q)`` with q8q = round(x/q_scale),
    or None for a zero-norm query — the approximate stage has no
    signal to rank by and callers hand the task to the exact tier."""
    q = np.asarray(query_vector, dtype=np.float64)
    maxabs = float(np.max(np.abs(q))) if q.size else 0.0
    if maxabs <= 0:
        return None
    q_scale = maxabs / 127.0
    return q_scale, [int(round(float(x) / q_scale)) for x in q]


def _sq8_approx_score(
    q_scale: float, q8q: list[int], query_norm: float
) -> Column:
    """The SQ8 asymmetric approximate cosine over the SQ8 columns
    ``q8``/``q_scale``/``nrm`` — int8×int8 dot accumulated JVM-side as
    long, rescaled by (row scale · query scale), divided by the TRUE
    norms captured at quantization time. One definition shared by the
    batch tier (:func:`cosine_topk_quantized`) and the maintained
    store's probe (:func:`ann_store_topk_quantized`) so the two stages
    can never drift on scoring. NULL q8 (zero vector) → NULL score,
    ranking last under the descending stage-1 sort."""
    q8q_lit = F.array(*[F.lit(v).cast("int") for v in q8q])
    approx_dot = (
        F.aggregate(
            F.zip_with(
                F.transform(F.col("q8"), lambda x: x.cast("int")),
                q8q_lit,
                lambda x, y: x * y,
            ),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        ).cast("double")
        * F.col("q_scale")
        * F.lit(q_scale)
    )
    return F.try_divide(approx_dot, F.col("nrm") * F.lit(query_norm))


def cosine_topk_quantized(
    quantized: DataFrame,
    embeddings: DataFrame,
    query_vector: list[float],
    k: int = 10,
    rerank: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Two-stage exact-rerank probe over the SQ8 relation: (1) rank
    EVERY row by the asymmetric int8 approximate cosine — int8×int8
    dot accumulated JVM-side, rescaled by (q_scale · query_scale),
    divided by the TRUE norms captured at quantization — and keep the
    top ``rerank`` via TakeOrderedAndProject (per-partition heaps, no
    global sort); (2) fetch the full-precision vectors for those
    survivors only — their ids collected driver-side (bounded by the
    ``rerank`` parameter, the probe-list collect class) and pushed
    into the float scan as a literal IN filter, so parquet row-group
    stats/dictionaries skip the non-survivor bytes (a broadcast
    semi-join would instead decode EVERY float byte and void the
    tier's I/O argument) — and return
    :func:`cosine_topk` over them, so the FINAL scores are exact and
    the result equals brute force whenever the true top-k survives
    the rerank cut. Quantization error bounds the per-dot miss margin
    to ~|q_scale|·√dim, so the safe rerank is CORPUS-SHAPED, not a
    constant: the gated `q_knn_sq8_rerank` ships rerank=100 and its
    oracle pins exact equality on the fixture embeddings (top-10
    equal at sf0.01, sf0.1, and sf1 — the approximate ranking's
    worst observed displacement there is far inside 100); a corpus
    with adversarially-tight cosine margins (many neighbors within
    the quantization noise of the k-th score) needs a larger rerank —
    size it so the noise margin times the local neighbor density
    stays under the cut, and validate like the fixture does (compare
    against :func:`cosine_topk` on a sample) before trusting hashes.

    Zero-norm rows carry NULL q8 → NULL approximate score → sort last
    in stage 1, mirroring the exact tier's NULL semantics."""
    prep = _sq8_query_prep(query_vector)
    if prep is None:
        # a zero-norm query scores NULL everywhere — the approximate
        # stage has no signal to rank by, so hand the whole task to
        # the exact tier (which returns k NULL-scored, id-ordered
        # rows, the engine-wide zero-norm contract)
        return cosine_topk(
            embeddings, query_vector, k, id_col, vec_col, round_digits
        )
    q_scale, q8q = prep
    # bounded driver read: <= rerank ids (the probe-list collect class).
    # A broadcast SEMI-JOIN here would still SCAN every float byte of
    # the full-precision relation — the join filter applies after
    # decode — silently voiding the tier's entire I/O argument at
    # 100 TB. A literal IN list instead reaches the parquet scan as a
    # PushedFilter, so row-group stats / dictionaries / bloom skip the
    # non-survivor bytes and stage 2 touches ~rerank rows of I/O.
    survivors = [
        r[0]
        for r in quantized.select(
            F.col(id_col),
            _sq8_approx_score(
                q_scale, q8q, _py_l2_norm(query_vector)
            ).alias("_approx"),
        )
        .orderBy(F.col("_approx").desc(), F.col(id_col).asc())
        .limit(rerank)
        .select(id_col)
        .collect()
    ]
    fetched = embeddings.filter(
        F.col(id_col).isin(survivors) if survivors else F.lit(False)
    )
    return cosine_topk(fetched, query_vector, k, id_col, vec_col, round_digits)


def ann_store_topk_quantized(
    spark,
    store_dir: str,
    query_vector: list[float],
    k: int = 10,
    nprobe: int = 4,
    rerank: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Probe the maintained IVF index through its SQ8 codes: the
    :func:`ann_store_topk` probe shape (frozen-centroid list choice
    driver-side via :func:`_sqdist_fold`, live-key global winners,
    probed-list partition pruning on every scan) with the FIRST pass
    over the NARROW ``q8``/``q_scale``/``nrm`` columns of the vectors
    files — 1 byte per element; parquet's column projection skips the
    float vector's bytes — and only the top ``rerank`` survivors' full
    vectors touched for the exact re-rank.

    Plan shape: stage 1 (:func:`_ann_sq8_survivors`, plan-asserted)
    holds the probe's only data-sized scans — keys + the vectors
    relation projected to its narrow columns, both pruned to the
    probed lists — scores every live row with the shared
    :func:`_sq8_approx_score`, and keeps the top ``rerank`` (id,
    _seq, _rh) triples via TakeOrderedAndProject.
    Those triples are collected driver-side (bounded by the ``rerank``
    parameter, the probe-list collect class) and stage 2 fetches
    EXACTLY those rows from the float partitions: the id set reaches
    the vectors scan as a pushed IN filter (row-group stats skip the
    non-survivor float bytes — a broadcast semi-join would decode
    every float byte of the probed lists and void the tier's I/O
    argument), and the full triple is matched against the LOCAL
    survivor relation, the live-row identity, so no second key scan
    and no resurrection of a superseded row that shares a survivor's
    id. Final scores exact via :func:`cosine_topk`; equals
    :func:`ann_store_topk` whenever the true top-k survives the cut —
    rerank sizing is corpus-shaped, see :func:`cosine_topk_quantized`.

    100 TB posture: at 10^9 live vectors per list the first-pass scan
    is the probe's dominant cost and shrinks by the measured ~3×
    byte ratio; the exact fetch is bounded by ``rerank``. A zero-norm
    query delegates to the exact tier (NULL-scored, id-ordered rows —
    the engine-wide contract); zero-norm STORED rows carry NULL q8 →
    NULL approximate score → rank last in stage 1."""
    meta = _ann_meta(store_dir, "read")
    cents = np.asarray(meta["centroids"], dtype=np.float64)
    q = np.asarray(query_vector, dtype=np.float64)
    if q.shape[0] != int(meta["dim"]):
        raise ValueError(
            f"ann store read: query dim {q.shape[0]} != index dim "
            f"{meta['dim']}"
        )
    prep = _sq8_query_prep(query_vector)
    if prep is None:
        return ann_store_topk(
            spark, store_dir, query_vector, k, nprobe, id_col, vec_col
        )
    d2 = _sqdist_fold(cents, [float(x) for x in q])
    probe = [int(i) for i in np.argsort(d2, kind="stable")[:nprobe]]
    stage1 = _ann_sq8_survivors(
        spark, store_dir, meta, probe, prep, query_vector, rerank,
        id_col, vec_col,
    )
    triples = stage1.collect()
    rows = _ann_vectors(spark, store_dir, meta, id_col, vec_col)
    ids = [r[0] for r in triples]
    local = spark.createDataFrame(triples, stage1.schema)
    fetched = (
        rows.filter(F.col("_list").isin(*probe))
        .filter(F.col(id_col).isin(ids) if ids else F.lit(False))
        # the (id, _seq, _rh) triple IS the live-row identity the
        # survivors inherited from the key semi-join; the match is
        # against a LOCAL bounded relation, not a second store scan
        .join(F.broadcast(local), [id_col, "_seq", "_rh"], "left_semi")
        .dropDuplicates([id_col])
    )
    return cosine_topk(fetched, query_vector, k, id_col, vec_col, round_digits)


def _ann_sq8_survivors(
    spark,
    store_dir: str,
    meta: dict,
    probe: list[int],
    prep: "tuple[float, list[int]]",
    query_vector: list[float],
    rerank: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Stage 1 of :func:`ann_store_topk_quantized`, factored so its
    plan is assertable on its own: the live (id, _seq, _rh) triples of
    the probed lists ranked by the shared approximate score, top
    ``rerank`` kept via TakeOrderedAndProject. The only data-sized
    scans of the whole probe live here — keys + the vectors relation
    projected to its SQ8 columns, both pruned to the probed lists; the
    float vector column is never read."""
    q_scale, q8q = prep
    live_keys = (
        _ann_live_keys(spark, store_dir, meta, id_col)
        .filter(F.col("_list").isin(*probe))
        .select(id_col, "_seq", "_rh")
    )
    live_q8 = (
        _ann_vectors(spark, store_dir, meta, id_col, vec_col)
        .select(id_col, "q8", "q_scale", "nrm", "_seq", "_rh", "_list")
        .filter(F.col("_list").isin(*probe))
        .join(live_keys, [id_col, "_seq", "_rh"], "left_semi")
        .dropDuplicates([id_col])
    )
    return (
        live_q8.select(
            F.col(id_col),
            F.col("_seq"),
            F.col("_rh"),
            _sq8_approx_score(
                q_scale, q8q, _py_l2_norm(query_vector)
            ).alias("_approx"),
        )
        .orderBy(F.col("_approx").desc(), F.col(id_col).asc())
        .limit(rerank)
        .select(id_col, "_seq", "_rh")
    )
