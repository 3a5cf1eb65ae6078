"""Maintained exact set-similarity index — the kappa form of
:func:`~.dedup.setsim_join`.

Every other dedup surface in the engine has an incremental maintained
form (exact → cdc upserts, MinHash → the signature store, substring →
the gram store, lines → corpus); this module closes the last gap so a
streaming corpus gets ZERO-FALSE-NEGATIVE near-dup guarantees
incrementally: each arriving batch is probed against a maintained
(prefix-posting, token-array) store and every pair at jaccard ≥ τ is
emitted exactly once — when its LATER document arrives.

**Order stability is the load-bearing design decision.** Prefix
filtering is lossless under ANY fixed total order of tokens (the
Hypothesis property test in tests/test_properties.py pins exactly
this); ascending-document-frequency order — what the batch
``setsim_join`` uses — is only a PRUNING optimization, and df drifts
as documents arrive. A maintained index must therefore freeze an
order that never changes: this store ranks tokens by
``(content_hash(token), token)`` — stateless, deterministic, and
identical for a document indexed today and one probed next year.
Mixing two orders would break the shared-prefix-token theorem (it
requires one order on BOTH sides of a pair), so the hash order is
frozen for the store's lifetime; re-ranking under fresh df stats would
mean a full re-index, not a compaction. A hash order behaves like a
random permutation, whose expected prefix-bucket size is df·(prefix
fraction) — it gives up rarest-first's worst-case pruning but keeps
candidate buckets proportional to df, bounded exactly like the batch
form's analysis (dedup.py setsim_join docstring).

Store layout (``store_dir``):
- ``prefix/``  — (id, tok, pos, pn, batch_key): each doc's prefix
  tokens under the frozen order (pos = the token's 1-based rank in
  the doc's FULL frozen-order array — carried for the PPJoin
  positional filter; pn = the doc's distinct-item count). pos is a
  pure function of (id's item set, tok) under the frozen order, so
  replayed rows stay byte-identical and compaction's (id, tok) dedup
  is unchanged. Format note: pos was added in round 11 — a store
  written by an earlier build must be re-indexed (no such store
  persists; the relation is test/stream-built);
- ``arrays/`` — (id, arr, pn, batch_key): each doc's full sorted
  distinct-item array, for exact verification of candidate pairs.

Both relations are per-document IDEMPOTENT state (a replayed append
rewrites byte-identical rows): readers dedup with
distinct/dropDuplicates and compaction needs no ``keep_tags`` (append,
replay-excluding read and compaction are operators/store.py's). The
pair sink is written BEFORE the store appends, so a replay recomputes
the identical pair set.

Scale shape per batch: prefix computation is batch-sized (one per-doc
window); the probe is one token equi-join of |batch| prefixes against
the store's prefix posting — skew bounded by the τ-significant tail
exactly as in the batch form; verification joins candidate ids against
the arrays relation (column-pruned, candidates always include ≥1 new
doc). Appends are blind and bounded by the batch. On a lakehouse
runtime both relations are clustered tables and the appends are
INSERTs.

Reference parity: the reference maintains its search indexes
incrementally from CDC streams (SURVEY §2.9); this is the same stance
applied to the similarity-join index, per the LLM-pipeline mandate.
"""

from __future__ import annotations

import os
from fractions import Fraction

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from . import store
from ..streaming.driver import run_micro_batches
from .checkpointing import maybe_checkpoint
from .sampling import sample_hash
from .text import tokens

#: salt for the frozen token order — part of the store format: changing
#: it invalidates every prefix already stored.
_ORDER_SALT = "setsim-order"


def _prefix_dir(store_dir: str) -> str:
    return os.path.join(store_dir, "prefix")


def _arrays_dir(store_dir: str) -> str:
    return os.path.join(store_dir, "arrays")


def _tau_fraction(threshold: float) -> tuple[int, int]:
    if not 0.0 < threshold <= 1.0:
        raise ValueError("threshold must be in (0, 1]")
    frac = Fraction(str(threshold))
    return frac.numerator, frac.denominator


def _batch_relations(
    new_docs: DataFrame,
    threshold: float,
    text_col: str,
    id_col: str,
    items_col: str | None,
) -> tuple[DataFrame, DataFrame]:
    """(prefix, arrays) of one batch under the store's frozen hash
    order. ``prefix``: (id, tok, pos, pn); ``arrays``: (id, arr, pn).
    Documents with empty item sets produce no rows (as in the batch
    setsim_join)."""
    num, den = _tau_fraction(threshold)
    items = (
        F.col(items_col)
        if items_col is not None
        else tokens(F.lower(F.col(text_col)))
    )
    # NULL guard (the KMV/CMS/Bloom discipline): an exploded NULL item
    # is counted by the window count(1) but dropped by collect_set, so
    # without this filter pn != size(arr) — jaccard denominators
    # inflate and the prefix length is computed on the wrong n, which
    # can silently drop boundary pairs (J exactly τ) and break the
    # zero-false-negative guarantee.
    toks = maybe_checkpoint(
        new_docs.select(
            F.col(id_col).alias("id"), F.explode(items).alias("tok")
        )
        .filter(F.col("tok").isNotNull())
        .distinct()
    )
    w_doc = Window.partitionBy("id").orderBy(
        sample_hash(F.col("tok"), _ORDER_SALT), "tok"
    )
    ranked = toks.withColumn("pos", F.row_number().over(w_doc)).withColumn(
        "pn", F.count(F.lit(1)).over(Window.partitionBy("id"))
    )
    # ⌈τ·n⌉ in exact integer arithmetic (floats drop boundary pairs)
    need = F.floor(
        (F.lit(num) * F.col("pn") + F.lit(den - 1)) / F.lit(den)
    )
    prefix = ranked.filter(
        F.col("pos") <= F.col("pn") - need + 1
    ).select("id", "tok", "pos", "pn")
    arrays = toks.groupBy("id").agg(
        F.sort_array(F.collect_set("tok")).alias("arr"),
        F.count(F.lit(1)).alias("pn"),
    )
    return prefix, arrays


def _setsim_probe(
    spark: SparkSession,
    store_dir: str,
    new_docs: DataFrame,
    threshold: float,
    text_col: str,
    id_col: str,
    items_col: str | None,
    exclude_batch: str | None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Probe one batch against the maintained index: returns (pairs,
    prefix_new, arrays_new). ``pairs`` covers new×store and new×new and
    is checkpointed BEFORE the caller grows the store."""
    num, den = _tau_fraction(threshold)
    prefix_new, arrays_new = _batch_relations(
        new_docs, threshold, text_col, id_col, items_col
    )
    prefix_new = maybe_checkpoint(prefix_new)
    arrays_new = maybe_checkpoint(arrays_new)

    # each relation is read alone: a crash between the two appends
    # leaves prefix rows without their arrays rows
    stored_prefix = store.read(spark, _prefix_dir(store_dir), exclude_batch)
    stored_arrays = store.read(spark, _arrays_dir(store_dir), exclude_batch)
    all_prefix = prefix_new
    if stored_prefix is not None:
        all_prefix = stored_prefix.drop(store.TAG).unionByName(prefix_new)
    all_arrays = arrays_new
    if stored_arrays is not None:
        all_arrays = (
            stored_arrays.drop(store.TAG)
            .unionByName(arrays_new)
            .dropDuplicates(["id"])
        )

    # PPJoin positional filter, mirrored from the batch form (see
    # dedup._setsim_stage for the bound's derivation): ub(t) =
    # min(pos_a, pos_b) + min(n_a − pos_a, n_b − pos_b) is a valid
    # overlap upper bound for every shared token t because BOTH sides'
    # positions are ranks under the store's one frozen order; the pair
    # survives iff min over its shared prefix tokens ≥ the required
    # overlap ⌈num·(n_a+n_b)/(num+den)⌉ — lossless, so the store's
    # zero-false-negative contract is untouched (the split≡batch
    # randomized tests pin this). ub and the pair-id normalization are
    # both symmetric, so a new-new pair seen from both join directions
    # aggregates to the same bound.
    ub = F.least("a.pos", "b.pos") + F.least(
        F.col("a.pn") - F.col("a.pos"), F.col("b.pn") - F.col("b.pos")
    )
    cand = (
        prefix_new.alias("a")
        .join(all_prefix.alias("b"), "tok")
        .filter(F.col("a.id") != F.col("b.id"))
        # τ-length prune: τ·max(n) ≤ min(n), exact integer form
        .filter(
            (F.lit(num) * F.greatest("a.pn", "b.pn"))
            <= (F.lit(den) * F.least("a.pn", "b.pn"))
        )
        # normalize so a new-new pair (seen from both directions) and a
        # new-old pair key identically
        .select(
            F.least("a.id", "b.id").alias("id_a"),
            F.greatest("a.id", "b.id").alias("id_b"),
            ub.alias("__ub"),
            (F.col("a.pn") + F.col("b.pn")).alias("__sn"),
        )
        .groupBy("id_a", "id_b")
        .agg(F.min("__ub").alias("__min_ub"), F.min("__sn").alias("__sn"))
        .filter(
            F.col("__min_ub")
            >= F.floor(
                (F.lit(num) * F.col("__sn") + F.lit(num + den - 1))
                / F.lit(num + den)
            )
        )
        .select("id_a", "id_b")
    )
    overlap = F.size(F.array_intersect("arr_a", "arr_b"))
    jac = overlap.cast("double") / (
        F.col("n_a") + F.col("n_b") - overlap
    ).cast("double")
    pairs = (
        cand.join(
            all_arrays.select(
                F.col("id").alias("id_a"),
                F.col("arr").alias("arr_a"),
                F.col("pn").alias("n_a"),
            ),
            "id_a",
        )
        .join(
            all_arrays.select(
                F.col("id").alias("id_b"),
                F.col("arr").alias("arr_b"),
                F.col("pn").alias("n_b"),
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
        .transform(maybe_checkpoint)  # materialize BEFORE the store grows
    )
    return pairs, prefix_new, arrays_new


def setsim_index_update(
    spark: SparkSession,
    store_dir: str,
    new_docs: DataFrame,
    threshold: float,
    text_col: str = "text",
    id_col: str = "doc_id",
    items_col: str | None = None,
    batch_key: str | None = None,
) -> DataFrame:
    """One incremental step: emit every pair at jaccard ≥ τ between the
    new batch and (store ∪ batch), then append the batch's prefix and
    array rows. Invariant (tested): running batches B1..Bn emits
    exactly the pair set the batch ``setsim_join`` computes over ∪Bi,
    each pair once — when its later document arrives. ``threshold``
    must stay constant for a store's lifetime (prefix lengths depend on
    it; a different τ is a different index).

    ``batch_key`` is REQUIRED (non-None): the exactly-once crash
    discipline (pair sink before store append, replay excludes its own
    half-applied rows) only holds when the append is tagged — an
    untagged replay after a crash between the sink and the append
    would probe against its own half-applied rows and re-emit pairs.
    Same stance as cms_store_update."""
    if batch_key is None:
        raise ValueError(
            "setsim_index_update requires a non-None batch_key: the "
            "exactly-once replay discipline depends on excluding the "
            "current batch's own half-applied store rows by tag"
        )
    pairs, prefix_new, arrays_new = _setsim_probe(
        spark,
        store_dir,
        new_docs,
        threshold,
        text_col,
        id_col,
        items_col,
        exclude_batch=batch_key,
    )
    store.append(prefix_new, _prefix_dir(store_dir), batch_key)
    store.append(arrays_new, _arrays_dir(store_dir), batch_key)
    return pairs


def compact_setsim_store(spark: SparkSession, store_dir: str) -> int:
    """Rewrite both sub-relations deduped (one row per (id, tok) /
    per id) — per-doc rows are idempotent state, so unlike the
    gram/CMS stores no replay tag needs keeping: a replayed append
    after compaction re-adds rows the readers' dedup absorbs. Returns
    the total post-compaction row count."""
    return sum(
        store.compact(
            spark,
            d,
            lambda rows, cols=cols: rows.drop(store.TAG).dropDuplicates(cols),
        )
        for d, cols in (
            (_prefix_dir(store_dir), ["id", "tok"]),
            (_arrays_dir(store_dir), ["id"]),
        )
    )


def start_setsim_dedup_stream(
    spark: SparkSession,
    docs_dir: str,
    store_dir: str,
    pairs_dir: str,
    checkpoint_dir: str,
    docs_schema: str = "doc_id bigint, text string",
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    items_col: str | None = None,
):
    """Structured Streaming wrapper: a file-source document stream
    feeds the maintained index; each micro-batch's new qualifying pairs
    land in a ``batch=<id>`` partition of ``pairs_dir``. Effectively
    once: the pair sink is written (overwrite, per-batch partition)
    BEFORE the store appends, so a replayed batch recomputes the
    identical pair set and overwrites its own partition."""

    stream = (
        spark.readStream.schema(docs_schema).format("json").load(docs_dir)
    )

    def step(batch, batch_id: int) -> None:
        key = f"b{batch_id}"
        pairs, prefix_new, arrays_new = _setsim_probe(
            spark,
            store_dir,
            batch,
            threshold,
            text_col,
            id_col,
            items_col,
            exclude_batch=key,
        )
        pairs.write.mode("overwrite").parquet(
            os.path.join(pairs_dir, f"batch={key}")
        )
        store.append(prefix_new, _prefix_dir(store_dir), key)
        store.append(arrays_new, _arrays_dir(store_dir), key)

    return run_micro_batches(stream, checkpoint_dir, step)
