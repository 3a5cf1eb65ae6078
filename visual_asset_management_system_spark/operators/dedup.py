"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Training-data-pipeline dedup at 100 TB scale. Design:

- **exact**: hash-groupBy on a normalized fingerprint — one shuffle,
  map-side combinable.
- **MinHash + LSH**: shingle → k minhashes → b bands → groupBy band
  bucket → within-bucket pair join → Jaccard verification. Candidate
  generation never compares all pairs: cost is O(Σ bucket²) which stays
  bounded because banding spreads non-duplicates across buckets. All
  hashing is `xxhash64` with literal seeds — JVM-side, deterministic
  across runs/engines, no Python.
- **SimHash**: 32-bit signature via per-bit weighted sums; near-dup =
  signatures within Hamming distance d (compared within LSH-style
  chunks of the signature).
- **n-gram Jaccard**: exact verification metric on candidate pairs.

Every step is a DataFrame op (explode/groupBy/join) — the shapes that
shuffle on keys and scale linearly with executors.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import store
from ..streaming.driver import run_micro_batches
from .checkpointing import maybe_checkpoint

from .text import fingerprint, tokens


# --------------------------------------------------------------------------
# exact dedup
# --------------------------------------------------------------------------
def exact_duplicate_groups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_ids_listed: int | None = None,
) -> DataFrame:
    """Groups of exact duplicates (normalized-text md5 collisions):
    (fingerprint, dup_count, doc_ids sorted). Only groups with >1 doc.

    ``max_ids_listed=None`` returns every member id — the audit
    contract, but a duplicate FLOOD (boilerplate repeated 10⁸×) then
    materializes one unbounded reducer row. At 100 TB pass a cap: the
    collect becomes the shared salted two-phase bounded merge
    (corpus.bounded_sorted_collect) — reducer state ≤ n_salts × cap
    ids per group, ``dup_count`` still exact."""
    fps = df.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fp"))
    if max_ids_listed is None:
        return (
            fps.groupBy("fp")
            .agg(
                F.count(F.lit(1)).alias("dup_count"),
                F.sort_array(F.collect_list(id_col)).alias("doc_ids"),
            )
            .filter(F.col("dup_count") > 1)
        )
    from .corpus import bounded_sorted_collect

    return bounded_sorted_collect(
        fps,
        ["fp"],
        id_col,
        max_ids_listed,
        count_alias="dup_count",
        list_alias="doc_ids",
    ).filter(F.col("dup_count") > 1)


def drop_exact_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    fp_col: str | None = None,
) -> DataFrame:
    """Keep the lowest-id representative of each fingerprint group.

    ``fp_col`` names an already-computed fingerprint column to group on
    (callers that need the fingerprint downstream, e.g. the incremental
    corpus build's store membership check, avoid computing it twice and
    cannot drift from this rule)."""
    from pyspark.sql import Window

    key = F.col(fp_col) if fp_col else fingerprint(F.col(text_col))
    w = Window.partitionBy(key).orderBy(F.col(id_col))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


# --------------------------------------------------------------------------
# shingles / minhash
# --------------------------------------------------------------------------
def word_shingles(text: Column, n: int = 3) -> Column:
    """Distinct n-word shingles as an array<string> column.

    Documents shorter than ``n`` tokens yield an EMPTY array (not a
    single truncated/empty shingle): otherwise every empty doc shares
    one identical ''-shingle signature, forming a jaccard=1.0 clique and
    one giant skewed LSH bucket at scale.

    Shape: one whitespace-normalizing regexp_replace, then ONE
    regexp_extract_all whose lookahead group captures the n-token
    window at every token start — overlapping n-grams in a single
    JVM regex pass. The transform(sequence)/slice/concat_ws
    formulation is interpreted (array lambdas don't codegen) and
    allocates a slice per index; the regex form measured ~25% faster
    end-to-end on the minhash signature pipeline at sf0.1, with
    bit-identical output. Mid-token false matches can't happen: the
    match consumes exactly one token (+one separator), so the engine
    only retries inside a token after a lookahead failure, and the
    lookahead — needing n tokens ahead — keeps failing for the rest
    of the string once it has failed at a token start."""
    norm = F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")
    pat = r"(?=((?:\S+ ){" + str(n - 1) + r"}\S+))\S+ ?"
    return F.when(
        text.isNotNull(),
        F.array_distinct(F.regexp_extract_all(norm, F.lit(pat), 1)),
    ).otherwise(F.array().cast("array<string>"))


#: Mersenne prime 2^31−1 — same modulus family as MLlib's MinHashLSH;
#: keeps a*h+b inside int64 (a, h < 2^31 → product < 2^62).
_MINHASH_PRIME = 2147483647


def _perm_coeffs(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) for the affine hash family h_i = (a·h + b) mod p."""
    import random

    rnd = random.Random(seed)
    return [
        (rnd.randrange(1, _MINHASH_PRIME), rnd.randrange(0, _MINHASH_PRIME))
        for _ in range(num_hashes)
    ]


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, sig array<bigint> of length k) minhash signature per doc.

    Scale shape: explode shingles → ONE xxhash64 per shingle → k cheap
    affine permutations aggregated with ``min`` under partial (map-side)
    aggregation — the aggregation itself is k named columns (required
    for the partial-agg combiner), PACKED into one array column
    immediately after. Downstream plans (banding, verification joins)
    then carry a single array expression instead of k columns: same
    shuffle bytes, but codegen/analysis cost is O(1) columns instead of
    O(k) — measured 1.6× faster end-to-end at k=64. Never materializes
    the k× duplicated shingle expression tree (which is quadratic in
    codegen and was the naive formulation's bottleneck).
    """
    from .partitioning import ensure_min_parallelism

    hashed = ensure_min_parallelism(df).select(
        F.col(id_col).alias("id"),
        F.explode(word_shingles(F.col(text_col), shingle_n)).alias("s"),
    ).select(
        "id", F.pmod(F.xxhash64("s"), F.lit(_MINHASH_PRIME)).alias("h")
    )
    # built once per num_hashes: py4j round trips, not Catalyst, are
    # what rebuilding k aggregates per call costs
    aggs, packed = _minhash_aggs(num_hashes)
    return hashed.groupBy("id").agg(*aggs).select("id", packed)


@functools.cache
def _minhash_aggs(num_hashes: int) -> tuple[tuple[Column, ...], Column]:
    """The k ``min(pmod(h·a+b, p))`` aggregates over column ``h`` and
    the ``sig`` array packing them. Built once per ``num_hashes``: the
    expressions depend on no data, and building them costs ~4,500 py4j
    round trips (one per Column call) — Catalyst analyzes the same tree
    either way. A Column is an unresolved expression that each plan
    resolves anew, so one instance serves every DataFrame."""
    aggs = tuple(
        F.min(F.pmod(F.col("h") * F.lit(a) + F.lit(b), F.lit(_MINHASH_PRIME))).alias(
            f"mh{i}"
        )
        for i, (a, b) in enumerate(_perm_coeffs(num_hashes))
    )
    packed = F.array(*[F.col(f"mh{i}") for i in range(num_hashes)]).alias("sig")
    return aggs, packed


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Candidate near-duplicate pairs (id_a < id_b) via banded LSH.

    rows = bands/num_hashes per the standard S-curve; defaults (64, 16)
    target ~0.5+ Jaccard. The band bucket join is the scale path: a
    shuffle on (band, band_hash), never an all-pairs product.

    ``max_bucket_size`` is the 100 TB skew guard: a band bucket with m
    members yields m² pairs, and pathological buckets (boilerplate,
    exact-duplicate floods) can dominate the join. Buckets larger than
    the cap are DROPPED from candidate generation — their members are
    exact-duplicate-grade and belong to the cheaper exact-dedup pass
    (run :func:`exact_duplicate_groups` first). Costs one extra
    aggregation on the same (band, band_hash) key the join shuffles on.
    """
    rows_per_band = num_hashes // bands
    # the signature relation feeds both sides of the band self-join;
    # eager localCheckpoint materializes it once (k longs per doc)
    # instead of re-shingling the corpus per side
    sig = minhash_signatures(
        df, text_col, id_col, num_hashes, shingle_n
    ).transform(maybe_checkpoint)
    banded = _banded(sig, bands, rows_per_band)
    if max_bucket_size is not None:
        ok_buckets = (
            banded.groupBy("band", "band_hash")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") <= max_bucket_size)
            .select("band", "band_hash")
        )
        banded = banded.join(ok_buckets, ["band", "band_hash"], "left_semi")

    left = banded.alias("l")
    right = banded.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .distinct()
    )


def _banded(sig: DataFrame, bands: int, rows_per_band: int) -> DataFrame:
    """(id, band, band_hash) — one row per band per doc, from the packed
    ``sig`` array. The band expression is built once per parameter set
    (py4j round trips, not Catalyst — see :func:`_band_explode`)."""
    return sig.select("id", _band_explode(bands, rows_per_band)).select(
        "id", "bh.band", "bh.band_hash"
    )


@functools.cache
def _band_explode(bands: int, rows_per_band: int) -> Column:
    """``explode`` of one (band, xxhash64 of the band's sig slice) struct
    per band, aliased ``bh``. Built once per (bands, rows_per_band) for
    the same reason as :func:`_minhash_aggs`: ~2,700 py4j round trips a
    build, and the store probe bands twice per batch."""
    return F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(b).alias("band"),
                    F.xxhash64(
                        *[
                            F.col("sig")[b * rows_per_band + r]
                            for r in range(rows_per_band)
                        ]
                    ).alias("band_hash"),
                )
                for b in range(bands)
            ]
        )
    ).alias("bh")


def ngram_jaccard_pairs(
    df: DataFrame,
    candidates: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Verify candidate pairs with exact shingle-set Jaccard ≥ threshold.

    Joins the (small) candidate set back to the shingle arrays; the
    intersect/union runs as array expressions per pair. The candidate
    list is checkpointed once (it feeds the id-prune AND the pair join)
    and the corpus is semi-join-pruned to candidate-involved docs BEFORE
    shingling — at scale only the near-dup fraction of the corpus is
    ever re-shingled, and each side of the verify join re-shingles just
    that fraction.
    """
    from .partitioning import ensure_min_parallelism

    candidates = candidates.transform(maybe_checkpoint)
    ids = (
        candidates.select(F.col("id_a").alias("id"))
        .unionByName(candidates.select(F.col("id_b").alias("id")))
        .distinct()
    )
    # the pruned shingle relation feeds BOTH sides of the pair join;
    # checkpoint materializes it once. Bounded: it holds only
    # candidate-involved docs (the near-dup fraction at scale), which
    # is what makes materializing it defensible where checkpointing the
    # full corpus' shingles would not be.
    sh = (
        ensure_min_parallelism(df)
        .join(ids, F.col(id_col) == ids["id"], "left_semi")
        .select(
            F.col(id_col).alias("id"),
            word_shingles(F.col(text_col), shingle_n).alias("sh"),
        )
        # shingle arrays are DISTINCT by construction, so the union
        # size is |a| + |b| - |a ∩ b| exactly (integer identity, no
        # float drift) — carry the per-doc size and skip the per-pair
        # array_union walk entirely
        .withColumn("n_sh", F.size("sh"))
        .transform(maybe_checkpoint)
    )
    sh_a = (
        sh.withColumnRenamed("id", "id_a")
        .withColumnRenamed("sh", "sh_a")
        .withColumnRenamed("n_sh", "n_a")
    )
    sh_b = (
        sh.withColumnRenamed("id", "id_b")
        .withColumnRenamed("sh", "sh_b")
        .withColumnRenamed("n_sh", "n_b")
    )
    return (
        candidates.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        # separate column: referencing the intersect twice inside one
        # expression would re-evaluate the array walk per reference
        # (interpreted HOF-adjacent expressions get no CSE)
        .withColumn("_i", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.round(
                F.col("_i") / (F.col("n_a") + F.col("n_b") - F.col("_i")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    verify: str = "estimate",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """End-to-end near-dup pairs (id_a, id_b, jaccard ≥ threshold).

    ``verify="estimate"`` (default, the 100 TB path): Jaccard estimated
    as the fraction of equal signature components — one plan computes
    signatures once, bands them for candidates, and joins signatures
    back for verification; documents are shingled exactly once.
    ``verify="exact"`` re-shingles both sides of every candidate pair
    and computes true set Jaccard (2 extra corpus passes — use when the
    estimate's ±1/√k error matters).
    """
    if verify == "exact":
        cands = minhash_lsh_candidates(
            df, text_col, id_col, num_hashes, bands, shingle_n
        )
        return ngram_jaccard_pairs(
            df, cands, text_col, id_col, shingle_n, threshold
        )
    rows_per_band = num_hashes // bands
    # the signature relation feeds three plan branches (banding + both
    # verification sides); eager localCheckpoint materializes it once
    # (k longs per doc — tiny relative to the corpus) and, unlike a bare
    # persist(), its blocks are released by the ContextCleaner when the
    # result DataFrame is garbage-collected — no per-call cache leak.
    sig = minhash_signatures(
        df, text_col, id_col, num_hashes, shingle_n
    ).transform(maybe_checkpoint)
    banded = _banded(sig, bands, rows_per_band)
    l, r = banded.alias("l"), banded.alias("r")
    cands = (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .distinct()
    )
    sig_a = sig.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
    sig_b = sig.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
    return (
        cands.join(sig_a, "id_a")
        .join(sig_b, "id_b")
        .withColumn("jaccard", _sig_jaccard(num_hashes))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


@functools.cache
def _sig_jaccard(num_hashes: int) -> Column:
    """The signature-agreement Jaccard estimate of columns ``sig_a`` and
    ``sig_b``: equal components / k, rounded to 6 places. The count is
    one zip_with/aggregate pair over the packed arrays — O(1) codegen
    expressions instead of k whens. Built once per ``num_hashes`` (py4j
    round trips, see :func:`_minhash_aggs`)."""
    matches = F.aggregate(
        F.zip_with(
            "sig_a", "sig_b", lambda x, y: F.when(x == y, 1).otherwise(0)
        ),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return F.round(matches / F.lit(num_hashes), 6)


# --------------------------------------------------------------------------
# simhash
# --------------------------------------------------------------------------
def simhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
) -> DataFrame:
    """(id, sig) SimHash signatures over whitespace tokens.

    bit_j(sig) = 1 iff Σ_tokens (±1 by bit j of xxhash64(token)) > 0.
    Scale shape: explode tokens → one xxhash64 per token → ``bits``
    conditional sums under partial aggregation (shuffle carries ``bits``
    longs per doc). Token multiplicity counts, matching classic SimHash.
    Documents with zero tokens are dropped (no signal to hash).
    """
    from .partitioning import ensure_min_parallelism

    hashed = ensure_min_parallelism(df).select(
        F.col(id_col).alias("id"),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("t"),
    ).select("id", F.xxhash64("t").alias("h"))
    # built once per bits, like the MinHash aggregates
    bit_aggs, sig = _simhash_exprs(bits)
    return hashed.groupBy("id").agg(*bit_aggs).select("id", sig)


@functools.cache
def _simhash_exprs(bits: int) -> tuple[tuple[Column, ...], Column]:
    """The ``bits`` per-bit ±1 sums over column ``h`` and the ``sig``
    sum packing their signs into one bigint. Built once per ``bits`` for
    the same reason as :func:`_minhash_aggs`: the expressions depend on
    no data, and each Column call is a py4j round trip."""
    bit_aggs = tuple(
        F.sum(
            F.when(
                F.shiftright("h", j).bitwiseAND(F.lit(1)) == 1, 1
            ).otherwise(-1)
        ).alias(f"b{j}")
        for j in range(bits)
    )
    sig = F.lit(0).cast("bigint")
    for j in range(bits):
        sig = sig + F.when(
            F.col(f"b{j}") > 0, F.lit(1 << j).cast("bigint")
        ).otherwise(F.lit(0))
    return bit_aggs, sig.alias("sig")


def simhash_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
    max_hamming: int = 3,
    chunks: int = 4,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ max_hamming.

    Pigeonhole LSH: split the signature into ``chunks`` pieces; any pair
    within distance < chunks shares at least one exact piece → join per
    piece, then verify with bit_count(xor). Scale shape: shuffle on
    (chunk_idx, chunk_value), no all-pairs.

    ``max_bucket_size`` mirrors the MinHash skew guard: identical or
    boilerplate documents share signatures, so one (chunk, piece) bucket
    with m members is an m² pair bomb — buckets above the cap are
    dropped (exact-duplicate territory; run exact dedup first).
    """
    chunk_bits = bits // chunks
    mask = (1 << chunk_bits) - 1
    sig = simhash_signatures(df, text_col, id_col, bits)
    pieces = sig.select(
        "id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftright("sig", c * chunk_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("piece"),
                    )
                    for c in range(chunks)
                ]
            )
        ).alias("p"),
    ).select("id", "sig", "p.chunk", "p.piece")
    if max_bucket_size is not None:
        ok = (
            pieces.groupBy("chunk", "piece")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") <= max_bucket_size)
            .select("chunk", "piece")
        )
        pieces = pieces.join(ok, ["chunk", "piece"], "left_semi")
    l, r = pieces.alias("l"), pieces.alias("r")
    return (
        l.join(
            r,
            (F.col("l.chunk") == F.col("r.chunk"))
            & (F.col("l.piece") == F.col("r.piece"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            F.bit_count(
                F.col("l.sig").bitwiseXOR(F.col("r.sig"))
            ).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


# --------------------------------------------------------------------------
# incremental minhash maintenance
# --------------------------------------------------------------------------
def _minhash_probe(
    spark,
    store_dir: str,
    new_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    exclude_batch: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Probe half of :func:`minhash_index_update`: compute the new
    docs' signatures, band-join them against the store, verify each
    candidate on the band-join row itself, and return
    ``(matches, sig_new)`` WITHOUT mutating the store — callers that
    must commit a downstream sink before state grows (the crash-safe
    ordering of corpus_index_update) append sig_new themselves via
    :func:`_append_signatures` afterwards.

    ``matches`` holds the RAW verified matches ``(id_a < id_b,
    jaccard ≥ threshold)``: a pair repeats once per band it shares (and
    per duplicate store row a replayed append left), in both directions
    for a new–new pair, and the frame is neither distinct'd nor
    materialized. Callers that need the pair set apply ``distinct``;
    callers that only test membership need not.

    Plan shape: the store is scanned ONCE per batch. Its band view
    carries each row's ``sig``, so the Jaccard estimate is computed on
    the joined band rows; the batch side's signature comes from one
    broadcast lookup of ``sig_new`` keyed on id. The broadcast band
    side stays narrow — (id, band, band_hash) — so its size does not
    grow with ``num_hashes``. Ids are assumed unique within a batch.

    ``exclude_batch``: ignore store rows previously appended under this
    batch key, so a replayed batch sees the store as its first attempt
    did (operators/store.py).
    """
    sig_new = minhash_signatures(
        new_docs, text_col, id_col, num_hashes, shingle_n
    ).transform(maybe_checkpoint)
    rows_per_band = num_hashes // bands

    # explicit schema (ids typed like the batch's): no per-batch
    # schema-merge job reads every footer of the store
    id_type = sig_new.schema["id"].dataType.simpleString()
    stored = store.read(
        spark,
        store_dir,
        exclude_batch,
        schema=f"id {id_type}, sig array<bigint>, {store.TAG} string",
    )
    sig_all = sig_new
    if stored is not None:
        sig_all = stored.select("id", "sig").unionByName(sig_new)

    banded_new = _banded(sig_new, bands, rows_per_band)
    banded_all = sig_all.select(
        "id", "sig", _band_explode(bands, rows_per_band)
    ).select("id", F.col("sig").alias("sig_b"), "bh.band", "bh.band_hash")
    sig_l = sig_new.select(
        F.col("id").alias("_lid"), F.col("sig").alias("sig_a")
    )
    matches = (
        F.broadcast(banded_new)
        .alias("l")
        .join(
            banded_all.alias("r"),
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col("l.id") != F.col("r.id")),
        )
        .join(F.broadcast(sig_l), F.col("l.id") == F.col("_lid"))
        # normalize so a new-new pair (seen from both directions) and a
        # new-old pair key identically
        .select(
            F.least("l.id", "r.id").alias("id_a"),
            F.greatest("l.id", "r.id").alias("id_b"),
            _sig_jaccard(num_hashes).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return matches, sig_new


def _append_signatures(
    sig_new: DataFrame, store_dir: str, batch_key: str | None = None
) -> None:
    """Blind tagged append of a batch's signatures. Duplicate rows from
    a replayed append are benign: they only repeat a raw probe match,
    which every caller distinct's or tests for membership, and the
    signature estimate is row-content-deterministic."""
    store.append(sig_new, store_dir, batch_key)


def minhash_index_update(
    spark,
    store_dir: str,
    new_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    batch_key: str | None = None,
) -> DataFrame:
    """Incremental near-dup maintenance: the signature store is
    MAINTAINED state (the same stance as the CDC-maintained search
    tables and BM25 postings — streaming/cdc.py), so arriving documents
    never trigger a from-scratch corpus dedup.

    Per batch: signatures are computed for the NEW docs only, banded,
    and probed against the band view of the existing store; candidate
    pairs therefore always touch ≥ 1 new doc. Verification is the same
    signature-agreement estimate as :func:`minhash_dedup`, computed on
    the band-join rows by :func:`_minhash_probe`. Its raw matches repeat
    once per shared band, so this function ``distinct``s them and
    materializes the pair set BEFORE the store grows; the new
    signatures are appended afterwards.

    Invariant (tested): running batches B1..Bn emits exactly the pair
    set a from-scratch ``minhash_dedup`` computes over ∪Bi — each pair
    is emitted once, when its LATER document arrives.

    Scale shape: the probe joins |batch|·bands rows against the store's
    band view — with a daily-batch : corpus ratio of 1:1000 the join
    broadcasts the new side; the store read is ONE column-pruned scan
    (id, sig) that feeds both the band join and the verification.
    Appends are blind parquet appends (no rewrite); on a lakehouse
    runtime the store is a clustered table and this is an INSERT.
    """
    pairs, sig_new = _minhash_probe(
        spark,
        store_dir,
        new_docs,
        text_col,
        id_col,
        threshold,
        num_hashes,
        bands,
        shingle_n,
        exclude_batch=batch_key,
    )
    pairs = pairs.distinct().transform(maybe_checkpoint)
    _append_signatures(sig_new, store_dir, batch_key)
    return pairs


def start_minhash_dedup_stream(
    spark,
    docs_dir: str,
    store_dir: str,
    pairs_dir: str,
    checkpoint_dir: str,
    docs_schema: str = "doc_id bigint, text string",
    threshold: float = 0.5,
    num_hashes: int = 64,
    bands: int = 16,
):
    """Structured Streaming wrapper around :func:`_minhash_probe`: a
    file-source document stream feeds the maintained signature store;
    each micro-batch's NEW near-dup pairs land in a ``batch=<id>``
    partition of ``pairs_dir``.

    This closes the kappa loop for dedup exactly like the search-table
    CDC (streaming/cdc.py start_search_table_stream): the same
    incremental operator serves the batch backfill and the stream, and
    the pair log is a parquet audit trail. Effectively-once: the pair
    sink is written BEFORE the signature append, so a replay recomputes
    the identical pair set and overwrites its own partition instead of
    duplicating or dropping pairs (the crash ordering of
    corpus_index_update).

    Layout note: the pair log is partition-per-batch (``batch=<id>``
    subdirectories). A pairs_dir holding FLAT part files from the
    pre-partitioned layout cannot be mixed with this one (parquet
    partition discovery rejects leaf files at the root alongside
    partition dirs) — point a migrated stream at a fresh pairs_dir.
    """
    import os as _os

    stream = (
        spark.readStream.schema(docs_schema).format("json").load(docs_dir)
    )

    def step(batch, batch_id: int) -> None:
        key = f"b{batch_id}"
        pairs, sig_new = _minhash_probe(
            spark,
            store_dir,
            batch,
            threshold=threshold,
            num_hashes=num_hashes,
            bands=bands,
            exclude_batch=key,
        )
        pairs.distinct().write.mode("overwrite").parquet(
            _os.path.join(pairs_dir, f"batch={key}")
        )
        _append_signatures(sig_new, store_dir, key)

    return run_micro_batches(stream, checkpoint_dir, step)


# --------------------------------------------------------------------------
# exact set-similarity join (prefix filtering)
# --------------------------------------------------------------------------
#: Crossover for the int64 dictionary encoding of setsim items
#: (estimated input plan bytes). Measured both directions in r15
#: (scripts/probe_r15_setsim2.py at commit 4c8971f, interleaved A/B
#: with asserted bit-equality on the q_doc_setsim_join input): at the
#: bench scale (estimate ~0.6 MB) the encode's two extra stages cost
#: ~0.5 s of pure scheduling latency against KB-grade shuffle savings (0.88×);
#: at 10× (estimate ~6 MB) the narrowed shuffles win 1.14× (med) /
#: 1.20× (min) and the margin grows with scale (§2.3 — bytes scale,
#: stage-latency floor does not). 2 MiB is the measured midpoint.
_ENCODE_ITEMS_MIN_BYTES = 2 << 20


def _plan_size_estimate(df: DataFrame) -> int:
    """Catalyst's optimizedPlan sizeInBytes estimate (free — no job).
    Returns 0 when unavailable so callers fall back conservatively."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:  # noqa: BLE001 — py4j / analysis edge; never fatal
        return 0


def _setsim_stage(
    docs: DataFrame,
    threshold: float,
    text_col: str,
    id_col: str,
    items_col: str | None,
    max_df_ratio: float | None,
    positional_filter: bool,
    encode_items: bool | None = None,
) -> tuple[DataFrame, DataFrame, int, int]:
    """Shared tokenize→rank→prefix→candidate stage of the AllPairs
    join: returns (rel, cand, num, den) where ``rel`` is the
    checkpointed distinct (id, tok) relation the caller's verification
    arrays must be built from (so the corpus-sized relation is
    evaluated once) and ``cand`` is the deduped candidate pair set.

    ``encode_items`` (r15): when True, ``tok`` in every relation past
    the df count is DICTIONARY-ENCODED to a dense int64 id in global
    ascending (df, token) order, so the per-doc ranking window, the
    prefix equi-join, the candidate dedup and the verification arrays
    all shuffle 8-byte longs instead of item strings (guide §2.3 —
    shuffle fewer bytes / narrower types). The map is bijective (tok
    is unique in the vocabulary) and ORDER-PRESERVING (ORDER BY tid ≡
    ORDER BY (df, tok), a strict total order, so row_number is
    deterministic): prefix positions, candidates, overlaps and set
    sizes are bit-identical to the string form. None = auto by the
    input's estimated plan size vs ``_ENCODE_ITEMS_MIN_BYTES`` — the
    measured crossover: encoding pays two extra stages (vocabulary
    rank + encode join folded into the single checkpoint), a fixed
    latency that only amortizes once shuffle bytes dominate.
    See :func:`setsim_join` for the theorems; the positional filter is
    documented there."""
    from fractions import Fraction

    from pyspark.sql.window import Window

    if not 0.0 < threshold <= 1.0:
        raise ValueError("threshold must be in (0, 1]")
    if encode_items is None:
        encode_items = _plan_size_estimate(docs) >= _ENCODE_ITEMS_MIN_BYTES
    num, den = (
        Fraction(str(threshold)).numerator,
        Fraction(str(threshold)).denominator,
    )

    # items: whitespace tokens of text_col by default, or the caller's
    # pre-built array column (items_col) — e.g. n-gram shingles, which
    # is the right item space when the raw token vocabulary is tiny
    # (this corpus: 31 tokens, every one in ~78% of docs — unigram
    # prefixes prune NOTHING; 3-gram shingles have median df 9).
    # Three consumers (df counts, prefix ranking, verification arrays)
    # read this corpus-sized relation — evaluate it once.
    items = (
        F.col(items_col)
        if items_col is not None
        else tokens(F.lower(F.col(text_col)))
    )
    # NULL guard (shared with the maintained store, setsim_store.py):
    # an exploded NULL item survives into the count(1)-based n of the
    # `arrays` relation but is dropped from collect_set — and on the
    # prefix side vanishes at the df equi-join — so n would disagree
    # between the two relations and inflate jaccard denominators,
    # silently dropping boundary pairs (J exactly τ).
    toks = (
        docs.select(F.col(id_col), F.explode(items).alias("tok"))
        .filter(F.col("tok").isNotNull())
        .distinct()
    )
    if not encode_items:
        # string path: toks is the multi-consumer staging point
        toks = maybe_checkpoint(toks)
    tokdf = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    if max_df_ratio is not None:
        # df-cap guard (OPT-IN; changes semantics): tokens present in
        # more than max_df_ratio of the corpus are dropped from the
        # ITEM SPACE — prefixes, arrays, and n alike — so the join
        # computes exact Jaccard over the stop-listed universe. This is
        # the BM25 stop-list stance, enforced: on a saturated
        # vocabulary (the sf1→sf3 soak's measured super-linear
        # candidate growth, SOAK_r10.json) per-token df grows with the
        # corpus and the τ-significant tail stops being rare; capping
        # df bounds every prefix posting list by construction. Dropping
        # a token ONLY from prefixes would break zero-false-negatives
        # (a pair's sole shared prefix token could be the dropped one);
        # dropping it from the universe keeps the guarantee exact
        # w.r.t. the filtered sets. The 1-row count agg broadcasts (the
        # provably-bounded class); the vocabulary-sized keep-list join
        # is left to AQE per the broadcast-hint discipline.
        total = toks.agg(
            F.count_distinct(F.col(id_col)).cast("double").alias("__nd")
        )
        tokdf = (
            tokdf.crossJoin(F.broadcast(total))
            .filter(
                F.col("df").cast("double")
                <= F.col("__nd") * F.lit(float(max_df_ratio))
            )
            .drop("__nd")
        )
        if not encode_items:
            # string path: apply the keep-list to the corpus relation
            # (the encode path gets this for free from its INNER
            # dictionary join below)
            toks = maybe_checkpoint(toks.join(tokdf.select("tok"), "tok"))
    if encode_items:
        # Dictionary-encode items to dense int64 BEFORE every
        # corpus-sized shuffle: tid = row_number over the vocabulary in
        # ascending (df, tok) order (see the docstring for the
        # bijection/order argument). ONE checkpoint materializes the
        # encoded relation — the df-count aggregation, the vocabulary
        # rank and the encode join all fold into that single job (the
        # r15 probe's v1, a separate toks checkpoint plus this one,
        # lost at both scales). The single-partition rank window is
        # VOCABULARY-sized (df-capped under max_df_ratio — the same
        # saturation regime that needs the cap also bounds this sort),
        # orders of magnitude below the corpus relations it narrows.
        vocab = tokdf.select(
            "tok",
            F.row_number().over(Window.orderBy("df", "tok")).alias("tid"),
        )
        rel = maybe_checkpoint(
            toks.join(vocab, "tok").select(
                F.col(id_col), F.col("tid").alias("tok")
            )
        )
        ranked = rel.withColumn(
            "pos",
            F.row_number().over(Window.partitionBy(id_col).orderBy("tok")),
        )
    else:
        rel = toks
        ranked = rel.join(tokdf, "tok").withColumn(
            "pos",
            F.row_number().over(
                Window.partitionBy(id_col).orderBy("df", "tok")
            ),
        )
    ranked = ranked.withColumn(
        "n", F.count(F.lit(1)).over(Window.partitionBy(id_col))
    )
    # ⌈τ·n⌉ = (num·n + den − 1) div den, exactly
    need = F.floor((F.lit(num) * F.col("n") + F.lit(den - 1)) / F.lit(den))
    prefix = ranked.filter(F.col("pos") <= F.col("n") - need + 1).select(
        F.col(id_col).alias("pid"), "tok", "pos", F.col("n").alias("pn")
    )
    joined = (
        prefix.alias("a")
        .join(prefix.alias("b"), "tok")
        .filter(F.col("a.pid") < F.col("b.pid"))
        # length filter: τ·|x| ≤ |y| ≤ |x|/τ (num·max ≤ den·min fails ⇒ prune)
        .filter(
            (F.lit(num) * F.greatest("a.pn", "b.pn"))
            <= (F.lit(den) * F.least("a.pn", "b.pn"))
        )
    )
    if not positional_filter:
        cand = joined.select(
            F.col("a.pid").alias("id_a"), F.col("b.pid").alias("id_b")
        ).distinct()
        return rel, cand, num, den
    # PPJoin positional filter (Xiao et al. 2008): for a shared token t
    # at 1-based positions (pos_a, pos_b) of two docs sorted under the
    # SAME global order, overlap(x,y) ≤ min(pos_a, pos_b) − 1 common
    # tokens strictly before t, plus t itself, plus at most
    # min(n_a − pos_a, n_b − pos_b) after t:
    #     ub(t) = min(pos_a, pos_b) + min(n_a − pos_a, n_b − pos_b).
    # Every shared prefix token yields a valid bound, so the pair's
    # tightest is min over the equi-join's rows — computed by the SAME
    # aggregation that deduped candidates before (groupBy replaces
    # distinct; no extra shuffle). J ≥ τ ⟺ overlap ≥ τ(n_a+n_b)/(1+τ),
    # so with τ = num/den the required overlap is
    #     O = ⌈num·(n_a+n_b)/(num+den)⌉  (integer arithmetic — the
    # Fraction discipline; floats would drop J = τ boundary pairs).
    # Pruning min ub(t) < O is LOSSLESS: each ub ≥ true overlap, so a
    # qualifying pair has min ub ≥ overlap ≥ O. ub is symmetric in the
    # (pos, n) pairs, so it commutes with any id normalization.
    ub = F.least("a.pos", "b.pos") + F.least(
        F.col("a.pn") - F.col("a.pos"), F.col("b.pn") - F.col("b.pos")
    )
    # prefix-length gate (r11 verdict): at τ near 1 on short docs the
    # computed prefix lengths (n − ⌈τn⌉ + 1) are 1-2 tokens and the
    # positional bound almost never prunes — measured as a net loss at
    # sf0.1/sf1 (SOAK_r11 step2: position has no traction when every
    # shared prefix token sits at pos ≤ 2). Rows where BOTH docs'
    # prefixes are that short contribute NO bound (NULL, ignored by
    # min); a pair with no bound rows survives on the length filter
    # alone. STILL LOSSLESS: every ub(t) is individually a valid upper
    # bound, so taking the min over any SUBSET of them is a looser —
    # never wrong — prune; dropping short-prefix pairs' bounds only
    # forgoes prunes the measurement showed weren't paying for their
    # aggregation. Prefix lengths come from pn alone (no extra carried
    # column): plen = pn − ⌈τ·pn⌉ + 1.
    def _plen(pn):
        return (
            F.col(pn)
            - F.floor(
                (F.lit(num) * F.col(pn) + F.lit(den - 1)) / F.lit(den)
            )
            + F.lit(1)
        )

    ub_gated = F.when(
        F.greatest(_plen("a.pn"), _plen("b.pn")) > 2, ub
    )
    cand = (
        joined.select(
            F.col("a.pid").alias("id_a"),
            F.col("b.pid").alias("id_b"),
            ub_gated.alias("__ub"),
            (F.col("a.pn") + F.col("b.pn")).alias("__sn"),
        )
        .groupBy("id_a", "id_b")
        .agg(F.min("__ub").alias("__min_ub"), F.min("__sn").alias("__sn"))
        .filter(
            F.col("__min_ub").isNull()
            | (
                F.col("__min_ub")
                >= F.floor(
                    (F.lit(num) * F.col("__sn") + F.lit(num + den - 1))
                    / F.lit(num + den)
                )
            )
        )
        .select("id_a", "id_b")
    )
    return rel, cand, num, den


def setsim_candidates(
    docs: DataFrame,
    threshold: float,
    text_col: str = "text",
    id_col: str = "doc_id",
    items_col: str | None = None,
    positional_filter: bool = False,
    max_df_ratio: float | None = None,
    encode_items: bool | None = None,
) -> DataFrame:
    """The candidate (id_a, id_b) pair set of :func:`setsim_join`
    BEFORE exact verification — the measurement seam for the filters'
    pruning power (the soak harness and the losslessness tests count
    candidates with ``positional_filter`` on vs off; the verified
    output is identical either way because the filter is lossless).
    Default off since r13 — see :func:`setsim_join` for the regime."""
    return _setsim_stage(
        docs,
        threshold,
        text_col,
        id_col,
        items_col,
        max_df_ratio,
        positional_filter,
        encode_items=encode_items,
    )[1]


def setsim_join(
    docs: DataFrame,
    threshold: float,
    text_col: str = "text",
    id_col: str = "doc_id",
    items_col: str | None = None,
    max_df_ratio: float | None = None,
    positional_filter: bool = False,
    encode_items: bool | None = None,
) -> DataFrame:
    """EXACT Jaccard self-join over distinct-token sets via prefix
    filtering (Bayardo et al. 2007 "Scaling Up All Pairs Similarity
    Search"; Xiao et al. PPJoin) — the zero-false-negative complement
    of the MinHash/LSH tier: LSH trades recall for candidate volume
    (q_ngram_jaccard_topk documents its 1-(1-j^r)^b recall curve),
    while prefix filtering guarantees EVERY pair at jaccard ≥ τ is
    found, at the cost of exact candidate generation.

    Theorem used: order all tokens by ascending global document
    frequency (rarest first, token tiebreak); if J(x,y) ≥ τ then
    overlap ≥ ⌈τ·|x|⌉ for each side (pairs with |y| < τ·|x| cannot
    qualify since J ≤ |y|/|x|), so x and y must share a token inside
    each one's first |x| − ⌈τ·|x|⌉ + 1 tokens. Candidates therefore
    come from an equi-join of PREFIX tokens only — the rare end of the
    vocabulary, which is what keeps candidate buckets small: a stopword
    lands in a prefix only for documents so short the stopword is
    τ-significant. The ⌈·⌉ is computed in INTEGER arithmetic from a
    rational approximation of τ (floats would round ⌈0.8·35⌉ to 29 and
    silently drop boundary pairs).

    Scale shape: one distinct-pairs shuffle, two vocabulary-keyed
    joins (token df + the prefix equi-join), one per-doc window for
    prefix positions, and an array-expression verification on
    candidate pairs (no re-join of token relations). Two candidate
    prunes run before verification, both LOSSLESS: the length filter
    τ·|x| ≤ |y| ≤ |x|/τ, and (OPT-IN) the PPJoin POSITIONAL filter
    (see :func:`_setsim_stage` for the bound) — the pair dedup
    aggregation doubles as the per-pair min over position bounds, so
    the filter costs no extra shuffle, but it widens every pre-dedup
    shuffle row by the bound columns and turns the distinct into a
    min-aggregation. ``positional_filter`` defaults to FALSE since
    r13: on short-document/high-τ corpora (this engine's shingled
    workloads: τ=0.9, n≈30 ⇒ prefix length 4) three independent soak
    rounds measured the bound's ~17% candidate cut NOT paying for its
    aggregation at the larger scale (SOAK_r11/r12 + the r13 re-measure:
    sf3 with 4.96s vs without 4.50s even after the r12 short-prefix
    gate). Opt in for the regime Xiao et al. designed it for — LONG
    documents and/or LOWER τ, where prefixes are tens of tokens and
    the bound cuts candidates 2-5× — by passing
    ``positional_filter=True``. Verified output is identical either
    way (the filter is lossless; the oracle pins it). At a 100 TB
    corpus the prefix join is the
    dominant shuffle and is exactly as skewed as the τ-significant
    tail of the vocabulary — bounded, unlike a raw token join. When
    the vocabulary SATURATES (a closed item space where per-token df
    grows with the corpus — the sf1→sf3 soak measured the candidate
    surface going super-linear exactly this way), pass
    ``max_df_ratio`` to stop-list tokens present in more than that
    fraction of documents OUT OF THE ITEM SPACE: Jaccard is then exact
    over the filtered universe (the BM25 stop-list stance — documented
    semantics change, zero false negatives w.r.t. the filtered sets),
    and every prefix posting list is df-bounded by construction.

    ``encode_items`` (r15): dictionary-encode items to int64 before
    the shuffling stages — bit-identical output, measured crossover;
    see :func:`_setsim_stage`. Default None = auto by input size.
    """
    toks, cand, _num, _den = _setsim_stage(
        docs,
        threshold,
        text_col,
        id_col,
        items_col,
        max_df_ratio,
        positional_filter=positional_filter,
        encode_items=encode_items,
    )
    arrays = toks.groupBy(id_col).agg(
        F.sort_array(F.collect_set("tok")).alias("arr"),
        F.count(F.lit(1)).alias("n"),
    )
    overlap = F.size(F.array_intersect("arr_a", "arr_b"))
    jac = overlap.cast("double") / (
        F.col("n_a") + F.col("n_b") - overlap
    ).cast("double")
    return (
        cand.join(
            arrays.select(
                F.col(id_col).alias("id_a"),
                F.col("arr").alias("arr_a"),
                F.col("n").alias("n_a"),
            ),
            "id_a",
        )
        .join(
            arrays.select(
                F.col(id_col).alias("id_b"),
                F.col("arr").alias("arr_b"),
                F.col("n").alias("n_b"),
            ),
            "id_b",
        )
        .filter(jac >= threshold)
        .select(
            "id_a",
            "id_b",
            overlap.cast("bigint").alias("overlap"),
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
            F.round(jac, 6).alias("jaccard"),
        )
    )
