"""Corpus-construction operators: sequence packing, benchmark
decontamination, cross-document repeated n-grams.

The three remaining stages of a pre-training data pipeline after
cleaning/dedup (public precedent: GPT-3 §2.2 / Dolma / FineWeb write-ups):

- **pack_sequences** — concat-and-chunk packing: documents are
  concatenated in a deterministic order and split into fixed
  token-budget training sequences. The Spark shape is a running-total
  window inside hash buckets: each bucket packs independently, so
  parallelism = number of buckets and no global sort exists.
- **contamination** — flag training documents sharing ≥ k distinct
  n-grams with a benchmark/eval set (the overlap rule used for GPT-3
  style decontamination). Benchmark n-grams are a broadcast-sized
  relation; the corpus side is one explode + one semi-join + one
  aggregation on the doc key.
- **repeated_ngrams** — exact n-gram spans occurring in ≥ k distinct
  documents (the signal behind suffix-array exact-substring dedup,
  Lee et al. 2022, computed at fixed n): one explode + one groupBy on
  the span key, map-side combinable; a cap bounds the per-span doc
  list so one boilerplate span cannot blow up a reducer.

All three are pure DataFrame plans over the same whitespace tokenizer
as the rest of the text tier (operators/text.py) and carry full DuckDB
oracles in the query registry.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from . import store
from ..streaming.driver import run_micro_batches
from .checkpointing import maybe_checkpoint
from .text import token_count


def pack_sequences(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    seq_len: int = 2048,
    n_buckets: int = 64,
    bucket_col: Column | None = None,
) -> DataFrame:
    """Assign each document a (bucket, seq_id, offset) under
    concat-and-chunk packing with a ``seq_len``-token budget.

    Documents are hash-assigned to ``n_buckets`` independent streams
    (deterministic: pmod(xxhash64(id))), ordered by id within the
    stream, conceptually concatenated, and cut every ``seq_len``
    tokens. ``seq_id`` is the sequence the document STARTS in,
    ``offset`` its token offset there; ``n_seqs`` how many sequences
    it spans (long docs straddle cuts — the consumer slices).

    100 TB: the window is per-bucket, so the sort is n/64-sized and
    all buckets run in parallel; raise n_buckets with corpus size.
    One shuffle (hash partition by bucket). ``bucket_col`` overrides
    the bucket assignment (default xxhash64 of the id — uniform under
    arbitrary id skew); pass a SQL-computable expression when a
    differential oracle needs to replicate it.
    """
    # NULL text packs as a zero-token doc (token_count propagates NULL,
    # which would void the row's seq assignment)
    toks = F.coalesce(token_count(F.col(text_col)), F.lit(0)).cast("bigint")
    bucket = (
        bucket_col
        if bucket_col is not None
        else F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_buckets))
    )
    w = Window.partitionBy("bucket").orderBy(id_col)
    # all divisions below have NON-NEGATIVE numerators (cum_start ≥ 0,
    # n_eff ≥ 1), so floor == truncate and the SQL oracle's integer
    # division agrees for every input. A zero-token doc uses n_eff=1:
    # it spans exactly the one sequence it sits in (the naive
    # (cum-1)/L form goes negative at cum=0, where Spark floors to -1
    # but SQL truncates to 0 — a cross-engine divergence).
    cum_start = F.col("cum") - F.col("n_tokens")
    n_eff = F.greatest(F.col("n_tokens"), F.lit(1))
    return (
        df.select(F.col(id_col), bucket.alias("bucket"), toks.alias("n_tokens"))
        .withColumn("cum", F.sum("n_tokens").over(w))
        .select(
            id_col,
            "bucket",
            "n_tokens",
            F.floor(cum_start / seq_len).alias("seq_id"),
            (cum_start % seq_len).alias("offset"),
            (
                F.floor((cum_start + n_eff - 1) / seq_len)
                - F.floor(cum_start / seq_len)
                + 1
            ).alias("n_seqs"),
        )
    )


def _doc_ngrams(df: DataFrame, text_col: str, id_col: str, n: int):
    """(id, ngram) — DISTINCT n-token spans per document. Reuses
    dedup.word_shingles (same lowercase/empty-doc-guard semantics the
    differential oracles replicate — ONE definition to keep aligned)."""
    from .dedup import word_shingles
    from .partitioning import ensure_min_parallelism

    return ensure_min_parallelism(df).select(
        F.col(id_col).alias("id"),
        F.explode(word_shingles(F.col(text_col), n)).alias("ngram"),
    )


def bounded_sorted_collect(
    df: DataFrame,
    group_cols: list[str],
    id_col: str,
    cap: int,
    n_salts: int = 16,
    count_alias: str = "n",
    list_alias: str = "ids",
) -> DataFrame:
    """Skew-safe bounded list aggregation: per group, the TRUE row count
    plus the ``cap`` lowest ids, with reducer state bounded by
    construction.

    A naive ``slice(sort_array(collect_list(id)))`` caps only the
    OUTPUT — the collect still gathers every id of a hot group onto one
    reducer first (a boilerplate n-gram or duplicate flood is an
    unbounded reducer row). Phase 1 groups by (keys, salt) and keeps
    each salt's lowest ``cap`` ids + a partial count; phase 2 merges
    ≤ n_salts × cap ids per group and sums the counts. The lowest-cap
    ids survive because every id's salt partial retains its own lowest
    cap — the global lowest cap are among the salt winners.
    """
    partial = df.groupBy(
        *group_cols, F.pmod(F.xxhash64(id_col), F.lit(n_salts)).alias("_salt")
    ).agg(
        F.count(F.lit(1)).alias("_n"),
        F.slice(F.sort_array(F.collect_list(id_col)), 1, cap).alias("_ids"),
    )
    return partial.groupBy(*group_cols).agg(
        F.sum("_n").alias(count_alias),
        F.slice(
            F.sort_array(F.flatten(F.collect_list("_ids"))), 1, cap
        ).alias(list_alias),
    )


def contamination(
    train: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    min_overlap: int = 3,
) -> DataFrame:
    """Training docs sharing ≥ ``min_overlap`` distinct ``n``-grams with
    the benchmark set: (id, n_overlap), descending.

    The benchmark n-gram dictionary is assumed broadcast-sized (eval
    sets are ~10⁴ docs even at 100 TB training scale) — the join is a
    broadcast semi-join against the exploded training corpus, then one
    aggregation on the doc key. No corpus-×-benchmark product ever
    exists.
    """
    # join on xxhash64 of the span, not the span string: the broadcast
    # dictionary is 8 bytes/entry instead of ~8 words of text, and the
    # probe compares longs (a 64-bit collision would need ~4e9 distinct
    # benchmark grams to be likely — eval sets are orders below that)
    bench_grams = (
        _doc_ngrams(benchmark, text_col, id_col, n)
        .select(F.xxhash64("ngram").alias("gh"))
        .distinct()
    )
    overlaps = _doc_ngrams(train, text_col, id_col, n).select(
        "id", F.xxhash64("ngram").alias("gh")
    ).join(F.broadcast(bench_grams), "gh", "left_semi")
    return (
        overlaps.groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
        .filter(F.col("n_overlap") >= min_overlap)
        .select(F.col("id").alias(id_col), "n_overlap")
    )


def repeated_ngrams(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 10,
    min_docs: int = 2,
    max_docs_listed: int = 20,
) -> DataFrame:
    """Exact n-token spans appearing in ≥ ``min_docs`` distinct docs:
    (ngram, n_docs, doc_ids sorted, capped at ``max_docs_listed``).

    The doc list is a SALTED two-phase bounded collect: a naive
    ``slice(sort_array(collect_list(id)))`` caps the OUTPUT but still
    gathers every id of a hot span onto one reducer first — a
    boilerplate span shared by millions of docs is an unbounded reducer
    row. Phase 1 groups by (ngram, salt) and keeps only each salt's
    lowest ``max_docs_listed`` ids plus a partial count; phase 2 merges
    ≤ n_salts × cap ids per span and sums the counts. Reducer state is
    bounded by construction; ``n_docs`` still reports the true count.
    """
    return bounded_sorted_collect(
        _doc_ngrams(df, text_col, id_col, n),
        ["ngram"],
        "id",
        max_docs_listed,
        count_alias="n_docs",
        list_alias="doc_ids",
    ).filter(F.col("n_docs") >= min_docs)


def dedup_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_docs: int = 2,
    delim: str = "\n",
) -> DataFrame:
    """Corpus-wide line-level deduplication (the CCNet / C4 pipeline
    stage): any line occurring in >= ``min_docs`` DISTINCT documents is
    boilerplate (nav bars, cookie banners, license headers) and is
    removed from every document; documents are reassembled in original
    line order. Returns (id, text, n_removed) — text with surviving
    lines re-joined by ``delim``; every input doc yields exactly one
    row (empty/whitespace-only docs come back as (id, '', 0),
    all-boilerplate docs as (id, '', n_lines)).

    Distinct from :func:`repeated_ngrams` (which REPORTS repeated
    token spans): this one rewrites the corpus, and its unit is the
    line, the natural boilerplate boundary.

    Scale shape: a single posexplode_outer carries (pos, line, per-doc
    line total) — the _outer keeps line-less docs as one null-line
    row, so no separate id-anchor branch re-reads ``df``; the per-doc
    total rides along as a column, so no separate counting branch does
    either. That leaves exactly TWO consumers of the exploded relation
    (the boilerplate-key aggregate and the instance join) — CTE
    semantics: a raw-scan upstream is simply read twice with pruned
    columns, while a caller whose upstream is computed checkpoints it
    first (q_corpus_build_v2 does) so both branches read the
    materialization; when the upstream carries an exchange, AQE
    additionally dedupes it to a ReusedExchange. No explicit
    repartition: ENSURE_REQUIREMENTS co-partitions the join on
    line_key only when the boilerplate side is too big to broadcast.
    Boilerplate is marked with a LEFT join rather than anti (the
    placeholder rows carry an explicitly NULL line_key — xxhash64(NULL)
    would be the non-null seed constant — so SQL join semantics keep
    them flowing unmatched), and removal happens inside the reassembly
    aggregate
    via null-skipping collect_list, so docs whose every line was
    boilerplate still produce their output row. Hashing the line
    (xxhash64) keeps the shuffle key fixed-width instead of shipping
    full line text; reducer state stays bounded by single-document
    size."""
    from .partitioning import ensure_min_parallelism

    line_arr = F.filter(
        # explicit lambda: passing F.trim directly makes
        # transform bind its element INDEX as trim's second
        # (trim-characters) parameter -> nothing is trimmed
        F.transform(F.split(F.col(text_col), delim), lambda s: F.trim(s)),
        lambda s: s != "",
    )
    lines = (
        ensure_min_parallelism(df)
        .select(
            F.col(id_col).alias("id"),
            # coalesce: a NULL text yields a NULL split/size, but the
            # doc must still report 0 lines, not NULL
            F.coalesce(F.size(line_arr), F.lit(0))
            .cast("bigint")
            .alias("_n_total"),
            F.posexplode_outer(line_arr).alias("pos", "line"),
        )
        # guard the hash: xxhash64(NULL) is the SEED (a non-null
        # constant), so unguarded placeholder rows would all share one
        # real hash value that CAN collide with a boilerplate key —
        # null it out so the LEFT join genuinely never matches them
        .withColumn(
            "line_key",
            F.when(F.col("line").isNotNull(), F.xxhash64("line")),
        )
    )
    boiler = (
        lines.filter(F.col("line").isNotNull())
        .select("line_key", "id")
        .distinct()
        .groupBy("line_key")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select("line_key", F.lit(True).alias("_boiler"))
    )
    marked = lines.join(boiler, "line_key", "left")
    keep = F.col("_boiler").isNull() & F.col("line").isNotNull()
    return marked.groupBy("id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    # when() yields NULL for dropped lines and
                    # collect_list skips null elements
                    F.collect_list(
                        F.when(keep, F.struct("pos", "line"))
                    )
                ),
                lambda s: s["line"],
            ),
            delim,
        ).alias("_text"),
        F.count(F.when(keep, F.lit(1))).alias("_n_kept"),
        F.first("_n_total").alias("_nt"),
    ).select(
        F.col("id").alias(id_col),
        F.col("_text").alias(text_col),
        (F.col("_nt") - F.col("_n_kept")).cast("bigint").alias("n_removed"),
    )


def dedup_substrings(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_len: int = 16,
    min_count: int = 2,
) -> DataFrame:
    """Exact substring deduplication (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better") at token granularity:
    every token position covered by a ``min_len``-token window whose
    exact (lowercased, whitespace-normalized) occurrence count across
    the corpus is >= ``min_count`` is REMOVED from every document.
    Matching is case-insensitive, but kept text preserves the source's
    ORIGINAL case: tokens are split from the raw text and lowercasing
    happens only inside gram construction (lowercasing never produces
    whitespace, so the raw-token and lowered-token boundaries are
    identical — the positions line up by construction).
    This is the REWRITE form of :func:`repeated_ngrams` (which only
    reports spans) and the token-unit sibling of :func:`dedup_lines`
    (line unit). The aggressive all-occurrences cut mirrors the
    released deduplicate-text-datasets behavior; within-document
    repetition counts toward ``min_count`` exactly like cross-document
    repetition (a doc repeating its own 16-token span twice is cut).

    Returns one row per input doc: (id_col, text_col, n_removed) —
    kept original-case tokens re-joined by single spaces (token-level
    surgery cannot preserve original whitespace), n_removed = number
    of removed token positions; docs with no tokens or no duplicated
    spans pass through with n_removed = 0.

    Scale shape: the paper's suffix array is replaced by the
    equivalent fixed-length window join — a suffix array over 100 TB
    is a single global structure, while L-gram instances are an
    embarrassingly shuffleable relation. One pass builds each doc's
    token and (position-aligned, duplicate-preserving) gram arrays —
    the same single-regex gram builder as word_shingles, checkpointed
    because it feeds both the instance relation and the final rebuild.
    Instances shuffle once on the 8-byte gram hash for the
    map-combinable frequency count; duplicated instances semi-join on
    the same key (AQE skew-join splits boilerplate-grade hot keys);
    per-doc start lists aggregate with state bounded by document
    length; coverage expansion, token filtering (hash-based
    array_except, linear in tokens + covered), and reassembly are
    per-row array expressions bounded by document size like gopher's
    line scan, never corpus size. Hash
    note: xxhash64 collisions could spuriously mark a gram duplicated;
    at 64 bits this is negligible and the differential oracle (which
    joins on gram STRINGS) would surface it."""
    from .partitioning import ensure_min_parallelism

    # checkpoint TOKENS only (~1x corpus bytes): the gram array would
    # multiply the materialization by min_len, and only the instance
    # branch needs it — rebuilt there by lowering the re-joined tokens,
    # which IS the normalized text the gram regex is defined over
    base = maybe_checkpoint(
        ensure_min_parallelism(df).select(
            F.col(id_col).alias("id"),
            _substring_tokens(text_col).alias("tk"),
        )
    )
    inst = _substring_instances(base, min_len)
    dup_keys = (
        inst.groupBy("k")
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") >= min_count)
        .select("k")
    )
    return _substring_rewrite(base, inst, dup_keys, id_col, text_col, min_len)


def _substring_tokens(text_col: str) -> Column:
    """Original-case token array of the raw text, \\s+-split; NULL/empty
    texts yield an empty array (never NULL)."""
    toks = F.filter(
        F.split(F.trim(F.col(text_col)), r"\s+"), lambda t: t != ""
    )
    return F.coalesce(toks, F.array().cast("array<string>"))


def _substring_instances(base: DataFrame, min_len: int) -> DataFrame:
    """(id, pos, k) gram-instance relation: one row per ``min_len``-token
    window start, k = xxhash64 of the LOWERCASED space-joined gram
    (lowercasing introduces no whitespace, so positions align with the
    original-case token array)."""
    pat = r"(?=((?:\S+ ){" + str(min_len - 1) + r"}\S+))\S+ ?"
    grams = F.regexp_extract_all(
        F.lower(F.array_join(F.col("tk"), " ")), F.lit(pat), 1
    )
    return base.select(
        "id", F.posexplode(grams).alias("pos", "g")
    ).select("id", "pos", F.xxhash64("g").alias("k"))


def _substring_rewrite(
    base: DataFrame,
    inst: DataFrame,
    dup_keys: DataFrame,
    id_col: str,
    text_col: str,
    min_len: int,
) -> DataFrame:
    """Coverage expansion + kept-token reassembly shared by the batch
    and incremental substring-dedup forms: semi-join the instances on
    the duplicated keys, aggregate per-doc start lists (state bounded
    by doc length), expand to covered positions, rebuild kept text."""
    dup_starts = (
        inst.join(dup_keys, "k", "left_semi")
        .groupBy("id")
        .agg(F.sort_array(F.collect_list("pos")).alias("starts"))
    )
    joined = base.join(dup_starts, "id", "left")
    empty_int = F.array().cast("array<int>")
    covered = F.array_distinct(
        F.flatten(
            F.transform(
                F.coalesce(F.col("starts"), empty_int),
                # gram starts satisfy s + min_len - 1 <= n - 1 by
                # construction, so no end clamp is needed
                lambda s: F.sequence(s, s + (min_len - 1)),
            )
        )
    )
    n = F.size(F.col("tk"))
    # sequence(0, -1) DESCENDS — guard the empty-doc endpoint
    all_pos = F.when(n >= 1, F.sequence(F.lit(0), n - 1)).otherwise(empty_int)
    # array_except is hash-based and preserves the LEFT array's order;
    # all_pos is distinct and ascending, so kept positions come back
    # ordered in linear time — a per-position array_contains scan of
    # `covered` would be O(tokens x covered) in a single row (10^10
    # comparisons for a fully-duplicated 100k-token doc)
    kept_idx = F.array_except(all_pos, covered)
    return joined.select(
        F.col("id").alias(id_col),
        F.concat_ws(
            " ",
            F.transform(kept_idx, lambda p: F.element_at(F.col("tk"), p + 1)),
        ).alias(text_col),
        F.size(covered).cast("bigint").alias("n_removed"),
    )


# --------------------------------------------------------------------------
# incremental (streaming) corpus construction
# --------------------------------------------------------------------------

#: on-disk schema of the corpus build's fingerprint store
_FP_STORE_SCHEMA = "_fp string, batch_key string"


@functools.cache
def _batch_filter_exprs(
    text_col: str, lang: str, min_quality: float
) -> tuple[Column, Column]:
    """(gate, fingerprint) over the named text column for
    :func:`corpus_index_update`. The gate is the fused single-expression
    lang+quality predicate — one let-bound split per row at the filter
    (r14 probe7: column-form features get re-inlined 5x/row by filter
    pushdown). Built once per arguments: the gate alone costs ~1,500
    py4j round trips to build, and a Column is an unresolved expression
    every plan resolves anew."""
    from .text import fingerprint, lang_quality_gate

    text = F.col(text_col)
    return (
        lang_quality_gate(text, lang=lang, min_quality=min_quality),
        fingerprint(text),
    )


def _near_dup_rejects(
    pairs: DataFrame, batch: DataFrame, id_col: str
) -> DataFrame:
    """The losing batch ids (column ``id_col``, with repeats) of the raw
    probe matches ``pairs`` (id_a < id_b): a batch doc loses to an
    in-store partner on either pair side and to an earlier-id partner
    within the batch. Every match has a batch-side doc, so the loser is
    ``id_b`` when ``id_b`` is a batch id and ``id_a`` otherwise — one
    broadcast membership test on ``id_b``, exact by id even where a
    store id equals a batch id."""
    batch_ids = batch.select(
        F.col(id_col).alias("id_b"), F.lit(True).alias("_b_in")
    )
    return pairs.join(F.broadcast(batch_ids), "id_b", "left").select(
        F.when(F.col("_b_in"), F.col("id_b"))
        .otherwise(F.col("id_a"))
        .alias(id_col)
    )


def corpus_index_update(
    spark,
    state_dir: str,
    new_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang: str = "en",
    min_quality: float = 0.5,
    near_dup_threshold: float = 0.5,
    num_hashes: int = 64,
    bands: int = 16,
    batch_key: str | None = None,
    commit=None,
) -> DataFrame:
    """One incremental step of the corpus build: filter → exact-dedup →
    near-dedup a batch of NEW documents against maintained state, and
    return the accepted rows.

    The kappa counterpart of the batch pipeline (queries.q_corpus_build
    stages 1-3): the same acceptance rule — keep a doc iff it passes the
    stateless lang/quality filters, its exact fingerprint was never seen
    before, and it has NO near-dup pair with a previously-stored doc or
    an earlier-id doc in the same batch — evaluated against two
    maintained stores under ``state_dir``:

    - ``fingerprints/``: the exact-dedup membership set (one md5 per
      accepted-or-shadowed text; blind parquet append, no rewrite);
    - ``signatures/``: the MinHash signature store probed through
      :func:`..dedup._minhash_probe`, whose tested invariant (batched
      probes emit exactly the from-scratch pair set) is what makes
      streamed acceptance equal batch acceptance.

    Near-dup rejects take EITHER side of a probe pair: the batch doc
    loses whenever its partner is already in the store (regardless of
    id order — the store doc was accepted first and is never
    retracted), and within the batch the greater id loses (first-wins
    by id, matching the batch pipeline's lowest-id representative
    rule). Under out-of-order arrival the stream may therefore keep a
    different cluster representative than the batch pipeline, but never
    both members of a cluster. Every probe match has a batch-side doc,
    so the rule is one membership test: the loser is ``id_b`` when it
    is a batch id, else ``id_a`` — a broadcast left join of the raw
    matches on the batch ids, then a broadcast anti-join of the batch
    against the (batch-sized) reject set.

    Crash safety (at-least-once replay): nothing is appended to either
    store until AFTER the optional ``commit(accepted)`` callback (the
    caller's sink write) returns, and the store reads exclude the
    batch's own rows (operators/store.py) — so a batch replayed from ANY
    crash point recomputes the identical accepted set. Re-appended
    store rows are benign duplicates (they only repeat raw matches, and
    the reject anti-join is idempotent to them).

    Scale shape: each store is scanned once per batch. The fingerprint
    store is semi-joined against the broadcast batch fingerprints; the
    signature store feeds the banded probe, which verifies candidates
    on the band-join rows against the broadcast batch bands. The reject
    marking and the accept anti-join broadcast batch-sized sides, so
    neither store is ever shuffled. One checkpoint (``accepted``)
    materializes the verdict ahead of ``commit`` and the appends; state
    grows by one append per batch and is never rewritten.
    """
    import os as _os

    from .dedup import _append_signatures, _minhash_probe

    fp_dir = _os.path.join(state_dir, "fingerprints")
    sig_dir = _os.path.join(state_dir, "signatures")

    from .dedup import drop_exact_duplicates

    gate, fp = _batch_filter_exprs(text_col, lang, min_quality)
    filtered = new_docs.filter(gate).withColumn("_fp", fp)
    # exact dedup, first-wins by id within the batch (the batch
    # pipeline's lowest-id representative rule, reusing its operator
    # against the precomputed fingerprint column), materialized once:
    # the store check below reads it on both join sides, which prune
    # columns differently, so without the cut the gate would run over
    # the whole input once per side
    batch_unique = maybe_checkpoint(
        drop_exact_duplicates(filtered, id_col=id_col, fp_col="_fp")
    )
    # ...then against the maintained fingerprint set. Explicit schema:
    # no per-batch schema-merge job reads every footer.
    seen = store.read(spark, fp_dir, batch_key, schema=_FP_STORE_SCHEMA)
    if seen is not None:
        # LeftAnti can only broadcast its build (store) side, so a
        # direct batch-anti-store join would shuffle the WHOLE store
        # every micro-batch. Instead semi-join the store against the
        # BROADCAST batch fingerprints (one store scan, no store
        # shuffle) — the hit set is ≤ |batch| and anti-joins cheaply.
        hits = seen.select("_fp").join(
            F.broadcast(batch_unique.select("_fp")), "_fp", "left_semi"
        )
        batch_unique = maybe_checkpoint(
            batch_unique.join(hits, "_fp", "left_anti")
        )

    pairs, sig_new = _minhash_probe(
        spark,
        sig_dir,
        batch_unique.select(id_col, text_col),
        text_col=text_col,
        id_col=id_col,
        threshold=near_dup_threshold,
        num_hashes=num_hashes,
        bands=bands,
        exclude_batch=batch_key,
    )
    # no distinct on the rejects: the anti-join ignores repeats
    rejects = _near_dup_rejects(pairs, batch_unique, id_col)
    accepted = (
        batch_unique.join(F.broadcast(rejects), id_col, "left_anti")
        .drop("_fp")
        .transform(maybe_checkpoint)
    )

    # sink first, state after: a crash in between replays into a clean
    # (batch-key-excluded) view and reproduces the same accepted set
    if commit is not None:
        commit(accepted)
    _append_signatures(sig_new, sig_dir, batch_key)
    store.append(batch_unique.select("_fp"), fp_dir, batch_key)
    return accepted


def start_corpus_build_stream(
    spark,
    docs_dir: str,
    state_dir: str,
    corpus_dir: str,
    checkpoint_dir: str,
    docs_schema: str = "doc_id bigint, text string",
    **update_kwargs,
):
    """Structured Streaming wrapper around :func:`corpus_index_update`:
    a file-source document stream is filtered/deduped incrementally and
    accepted rows land in ``corpus_dir`` — the full corpus build (sans
    packing, which is a training-time layout pass) as a continuously-
    maintained artifact, closing the same kappa loop as the search-table
    CDC and the dedup stream.

    Effectively-once: each micro-batch writes its accepted rows into
    its own ``batch=<id>`` partition with overwrite semantics BEFORE
    any state append (corpus_index_update's commit callback), so a
    replayed batch recomputes the identical accepted set and
    overwrites its partition with the same rows instead of duplicating
    or dropping them."""
    import os as _os

    stream = (
        spark.readStream.schema(docs_schema).format("json").load(docs_dir)
    )

    reserved = {"batch_key", "commit"} & set(update_kwargs)
    if reserved:
        raise TypeError(
            f"{sorted(reserved)} are managed by the stream wrapper "
            "(per-micro-batch key + partition-overwrite sink) and cannot "
            "be overridden"
        )

    def step(batch, batch_id: int) -> None:
        key = f"b{batch_id}"
        corpus_index_update(
            spark,
            state_dir,
            batch,
            batch_key=key,
            commit=lambda accepted: accepted.write.mode("overwrite").parquet(
                _os.path.join(corpus_dir, f"batch={key}")
            ),
            **update_kwargs,
        )

    return run_micro_batches(stream, checkpoint_dir, step)


# --------------------------------------------------------------------------
# incremental (streaming) substring deduplication
# --------------------------------------------------------------------------

def _gram_dir(state_dir: str) -> str:
    import os as _os

    return _os.path.join(state_dir, "grams")


def _gram_merge(rows: DataFrame) -> DataFrame:
    return store.additive_merge(rows, ["k"], "c")


def substring_index_update(
    spark,
    state_dir: str,
    new_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_len: int = 16,
    min_count: int = 2,
    batch_key: str | None = None,
    commit=None,
) -> DataFrame:
    """One incremental step of exact substring deduplication: rewrite a
    batch of NEW documents against a maintained gram-frequency store —
    the kappa counterpart of :func:`dedup_substrings`, closing the last
    batch-only corpus stage (the minhash-store pattern of
    ``dedup.corpus_index_update``).

    PREFIX semantics (the causal form of the batch rule): a batch doc's
    covered positions are computed from gram counts over store ∪ batch,
    so each emitted row equals what ``dedup_substrings`` over the
    corpus PREFIX up to and including this batch would emit for that
    doc. A gram first duplicated by a FUTURE batch does not
    retroactively cut already-emitted docs (they are never retracted —
    the same non-retraction contract as corpus_index_update's
    representatives); the future batch's own occurrences ARE cut, since
    by then the store carries the earlier instances.

    State under ``state_dir``: ``grams/`` — append-only
    ``(k bigint, c bigint, batch_key string)`` per-batch gram-hash
    counts, read through ``store.additive_merge`` so a replayed append
    collapses instead of double-counting. Callers without a stable
    ``batch_key`` get a fresh uuid tag per append (exactly-once only if
    they call exactly once).

    Crash safety (at-least-once replay): nothing is appended until
    AFTER the optional ``commit(result)`` callback returns, and the
    store read excludes the batch's own rows (operators/store.py) — a
    batch replayed from any crash point recomputes the identical
    rewritten rows.

    Scale shape: the batch's instance relation shuffles once on the
    8-byte gram hash; the store is probed with a semi-join against the
    BROADCAST batch key set (one store scan, no store shuffle — the
    probe result is batch-bounded); the append is the batch's
    map-combined per-gram counts. The store grows by one small file set
    per batch until :func:`compact_gram_store` folds it to one row per
    gram without changing reader results."""
    import uuid as _uuid

    gram_dir = _gram_dir(state_dir)
    tag = batch_key if batch_key is not None else _uuid.uuid4().hex

    base = new_docs.select(
        F.col(id_col).alias("id"), _substring_tokens(text_col).alias("tk")
    ).transform(maybe_checkpoint)
    inst = _substring_instances(base, min_len)
    batch_counts = inst.groupBy("k").agg(F.count(F.lit(1)).alias("_bc"))
    batch_counts = maybe_checkpoint(batch_counts)

    total = batch_counts
    stored = store.read(spark, gram_dir, batch_key)
    if stored is not None:
        hits = stored.join(
            F.broadcast(batch_counts.select("k")), "k", "left_semi"
        )
        total = batch_counts.join(_gram_merge(hits), "k", "left").select(
            "k",
            (F.col("_bc") + F.coalesce(F.col("c"), F.lit(0))).alias("_bc"),
        )
    dup_keys = total.filter(F.col("_bc") >= min_count).select("k")
    result = _substring_rewrite(
        base, inst, dup_keys, id_col, text_col, min_len
    ).transform(maybe_checkpoint)

    # sink first, state after: a crash in between replays into a clean
    # (tag-excluded) store view and reproduces the same rewritten rows
    if commit is not None:
        commit(result)
    store.append(
        batch_counts.select("k", F.col("_bc").cast("bigint").alias("c")),
        gram_dir,
        tag,
    )
    return result


def start_substring_dedup_stream(
    spark,
    docs_dir: str,
    state_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    docs_schema: str = "doc_id bigint, text string",
    **update_kwargs,
):
    """Structured Streaming wrapper around
    :func:`substring_index_update`: a file-source document stream is
    substring-deduplicated against the maintained gram store and the
    rewritten rows land in ``out_dir`` — effectively-once via the same
    partition-overwrite-before-state-append protocol as
    :func:`start_corpus_build_stream`."""
    import os as _os

    stream = (
        spark.readStream.schema(docs_schema).format("json").load(docs_dir)
    )

    reserved = {"batch_key", "commit"} & set(update_kwargs)
    if reserved:
        raise TypeError(
            f"{sorted(reserved)} are managed by the stream wrapper "
            "(per-micro-batch key + partition-overwrite sink) and cannot "
            "be overridden"
        )

    def step(batch, batch_id: int) -> None:
        key = f"b{batch_id}"
        substring_index_update(
            spark,
            state_dir,
            batch,
            batch_key=key,
            commit=lambda result: result.write.mode("overwrite").parquet(
                _os.path.join(out_dir, f"batch={key}")
            ),
            **update_kwargs,
        )

    return run_micro_batches(stream, checkpoint_dir, step)


def compact_gram_store(
    spark,
    state_dir: str,
    exclude_tags: tuple[str, ...] = (),
) -> int:
    """Compact the substring-dedup gram store: fold the per-batch
    (k, c) rows into one row per gram, so reader-side work stops
    growing with batch count (the OPTIMIZE analog of cdc.compact_sink
    for COUNT state). Pass the tags of any batch that may still replay
    in ``exclude_tags`` (under the streaming wrapper that is only the
    most recent micro-batch: the checkpoint commits earlier ones); they
    are carried through verbatim. Returns the store's row count after
    compaction."""
    return store.compact(
        spark, _gram_dir(state_dir), _gram_merge, keep_tags=exclude_tags
    )
