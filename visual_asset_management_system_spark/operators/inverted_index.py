"""Tokenized inverted index + BM25 relevance tier.

The reference delegates text relevance to OpenSearch BM25 over
wildcard query_strings (search.py:1089-1121); those scores are not
reproducible bit-for-bit outside OpenSearch. The engine instead
computes the standard Robertson BM25 (k1=1.2, b=0.75) over its OWN
tokenized inverted index — deterministic, documented, and exposed
behind the exact same ``score double`` column contract as the v0
match-count tier (functions/scoring.py), selectable per request via
``SearchRequest.relevance = "bm25"``.

Model: one postings table per entity,
    (*id_cols, term, tf double, dl double)
where ``tf`` is the field-boost-weighted term count across the
entity's searched text fields (a BM25F-lite: a hit in ``asset_name``
at weight 2.0 counts as two occurrences) and ``dl`` is the weighted
document length; plus a single-row stats table ``(n_docs, avgdl)``.

Scale shape (100 TB posture):
- the index is MAINTAINED state, exactly like the denormalized search
  tables: built once by the bulk rebuild, kept current by the same CDC
  merge (the postings key is the entity key — a re-index replaces the
  entity's postings), persisted/bucketed by ``term`` so a query's
  ``term IN (...)`` prunes to the probed buckets;
- query-time work is: filter postings to the query's terms (pushed to
  the scan), ONE aggregation per term for document frequency over the
  already-filtered postings (never a full-dictionary materialization),
  a broadcast join of the tiny (term, df) set, and one final
  aggregation per matching doc. No full-corpus scan, no driver loop.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..streaming.driver import run_micro_batches

#: token = maximal run of lowercase alphanumerics (the analyzer the
#: oracle mirrors with string_split_regex)
TOKEN_BREAK_RE = "[^a-z0-9]+"

BM25_K1 = 1.2
BM25_B = 0.75


def tokenize(col: Column) -> Column:
    """Lowercase word tokens of a string column (empty tokens dropped,
    NULL → empty array). Pure Column expression — codegen-eligible."""
    toks = F.split(F.lower(F.coalesce(col, F.lit(""))), TOKEN_BREAK_RE)
    return F.filter(toks, lambda t: t != "")


def tokenize_query(query: str) -> list[str]:
    """Query-side analyzer: same token rule, order-preserving dedupe."""
    seen: dict[str, None] = {}
    for t in re.split(TOKEN_BREAK_RE, query.lower()):
        if t:
            seen.setdefault(t, None)
    return list(seen)


def build_inverted_index(
    df: DataFrame,
    id_cols: list[str],
    text_fields: dict[str, float],
    max_df_ratio: float | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Build (postings, stats) for an entity DataFrame.

    ``text_fields`` maps column → boost weight (the same field lists as
    the match-count tier, compiler.DEFAULT_TEXT_FIELDS). Each field's
    tokens are exploded with the field weight attached; the per-(doc,
    term) aggregation sums weights, so tf = Σ_field weight × count.
    One shuffle on the entity key to attach dl, one aggregation for
    stats — build-time cost, paid once per rebuild, not per query.

    ``max_df_ratio`` is the build-time stop-list (the 100 TB
    mitigation SCALE.md documents for stopword-grade terms): terms
    present in more than this fraction of documents are dropped from
    the postings, bounding any query term's posting list. BM25's idf
    makes such terms contribute ~nothing to scores, so recall loss is
    confined to queries made ENTIRELY of dropped terms — the standard
    trade. dl and (n_docs, avgdl) are computed BEFORE the drop so
    length normalization is unaffected.
    """
    if not text_fields:
        raise ValueError("text_fields must not be empty")
    ids = [F.col(c) for c in id_cols]
    dl_expr = None
    for fld, weight in text_fields.items():
        contrib = F.size(tokenize(F.col(fld))).cast("double") * F.lit(
            float(weight)
        )
        dl_expr = contrib if dl_expr is None else dl_expr + contrib
    # dl rides along through the explode (constant per doc), so the
    # per-(doc, term) aggregation is the ONLY shuffle — no doc-length
    # join back onto the exploded table (which would re-shuffle the
    # biggest intermediate in the build)
    with_dl = df.withColumn("_dl", dl_expr)
    exploded: DataFrame | None = None
    for fld, weight in text_fields.items():
        term_rows = with_dl.select(
            *ids,
            F.explode(tokenize(F.col(fld))).alias("term"),
            F.lit(float(weight)).alias("_w"),
            F.col("_dl"),
        )
        exploded = term_rows if exploded is None else exploded.unionByName(term_rows)

    postings = exploded.groupBy(*id_cols, "term").agg(
        F.sum("_w").alias("tf"),
        F.first("_dl").alias("dl"),
    )
    stats = df.select(dl_expr.alias("dl")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    if max_df_ratio is not None:
        if not 0.0 < max_df_ratio <= 1.0:
            raise ValueError("max_df_ratio must be in (0, 1]")
        # one aggregation on the same term key the postings already
        # shuffle on; the broadcast keep-list is |dictionary|-bounded
        dfreq = postings.groupBy("term").agg(F.count(F.lit(1)).alias("_df"))
        keep = dfreq.crossJoin(F.broadcast(stats.select("n_docs"))).filter(
            F.col("_df") <= F.col("n_docs") * max_df_ratio
        ).select("term")
        postings = postings.join(keep, "term", "left_semi")

    # Docs with no surviving postings rows — zero tokens, or every term
    # stop-listed — would make the postings table a LOSSY encoding of
    # the corpus: postings_stats re-derives (n_docs, avgdl) from
    # postings, so a CDC-maintained index would drift from a
    # from-scratch rebuild. Emit one sentinel posting (term="", tf=0)
    # per absent doc — "" can never be a real token (the analyzer drops
    # empty tokens) nor a query term, so scoring is unaffected. The
    # anti-join is one extra doc-key shuffle, paid at build/rebuild
    # time only.
    present = postings.select(*id_cols).distinct()
    sentinels = (
        with_dl.join(present, id_cols, "left_anti")
        .select(
            *ids,
            F.lit("").alias("term"),
            F.lit(0.0).alias("tf"),
            F.col("_dl").alias("dl"),
        )
    )
    postings = postings.unionByName(sentinels)
    return postings, stats


def postings_stats(postings: DataFrame, id_cols: list[str]) -> DataFrame:
    """Re-derive the (n_docs, avgdl) stats row from a postings table —
    postings carry each doc's ``dl`` (including the ``term=""`` sentinel
    rows for zero-token docs, so the encoding is lossless and this
    equals the build-time stats bit-for-bit), making the index ONE
    CDC-maintained artifact with no separate stats bookkeeping. This is a full
    aggregation over distinct docs: run it at rebuild/compaction time,
    not per query — BM25's global constants tolerate staleness between
    refreshes (standard practice; idf shifts negligibly per batch)."""
    doc_len = postings.select(*id_cols, "dl").distinct()
    return doc_len.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )


def write_postings(
    postings: DataFrame,
    table_name: str,
    num_buckets: int = 32,
    path: str | None = None,
) -> None:
    """Persist postings hash-bucketed on ``term`` — the layout that
    makes query-time term lookup sublinear in the dictionary: a query's
    ``term IN (...)`` filter bucket-prunes the scan to the probed
    buckets (plan shows ``SelectedBucketsCount: k out of n``; asserted
    in tests/test_operators.py). Same mechanism as the entity-key
    bucketing (operators/bucketing.py); on Delta/Iceberg the layout
    comes from clustering on term."""
    from .bucketing import write_bucketed_table

    write_bucketed_table(postings, table_name, ["term"], num_buckets, path)


def bm25_scores(
    postings: DataFrame,
    stats: DataFrame,
    query: str,
    id_cols: list[str],
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Per-document BM25 scores for ``query``: (*id_cols, score).

    Only documents containing at least one query term appear (inner
    semantics — BM25 of a no-term doc is 0). idf is the BM25+ variant
    ``ln(1 + (N - df + 0.5)/(df + 0.5))`` — always positive, so a term
    present in most documents cannot produce negative scores.
    """
    terms = tokenize_query(query)
    spark = postings.sparkSession
    if not terms:
        return spark.createDataFrame(
            [], postings.select(*id_cols).schema.add("score", "double")
        )
    p = postings.filter(F.col("term").isin(terms))
    dfreq = p.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    return (
        p.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "_idf",
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
            ),
        )
        .withColumn(
            "_contrib",
            F.col("_idf")
            * (F.col("tf") * (k1 + 1))
            / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))),
        )
        .groupBy(*id_cols)
        .agg(F.sum("_contrib").alias("score"))
    )


def positional_postings(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Positional postings ``(id, term, positions array<int>)``.

    The phrase-query extension of the BM25 postings (the reference's
    OpenSearch query_string accepts quoted phrases — search.py's
    query_string tier — which tf-only postings cannot answer). Same
    maintenance story as the tf postings: built by the bulk rebuild,
    CDC-replaced per entity, bucketed by ``term`` so a phrase probe
    reads only its terms' buckets. One posexplode + one aggregation;
    positions are collected sorted for deterministic array contents.
    """
    toks = tokenize(F.col(text_col))
    return (
        df.select(id_col, F.posexplode(toks).alias("pos", "term"))
        .groupBy(id_col, "term")
        .agg(F.sort_array(F.collect_list("pos")).alias("positions"))
    )


def phrase_match(
    postings: DataFrame, terms: list[str], id_col: str = "doc_id"
) -> DataFrame:
    """Exact-phrase containment over positional postings.

    Returns ``(id, n_occurrences)`` for entities containing the token
    sequence ``terms`` — the ``"quoted phrase"`` operator of a search
    query language. Mechanism: ONE ``term IN (...)`` pruned fetch of
    the phrase terms' postings (materialized, so a lazily-built
    postings plan is aggregated once, not once per term — and a stored
    postings table is bucket-pruned once), then chain adjacency as
    array algebra — ``starts`` holds the start positions whose prefix
    matched so far, and term *i* keeps a start ``p`` only if ``p + i``
    is among its positions (``array_intersect`` of shifted arrays).
    k-term phrase = k-1 co-partitioned joins on the entity key over
    only the phrase terms' postings; the corpus is never re-read.
    """
    from .checkpointing import maybe_checkpoint

    if not terms:
        raise ValueError("phrase must have at least one term")
    sliced = postings.filter(
        F.col("term").isin(list(dict.fromkeys(terms)))
    ).transform(maybe_checkpoint)
    base = (
        sliced.filter(F.col("term") == terms[0])
        .select(id_col, F.col("positions").alias("starts"))
    )
    for i, term in enumerate(terms[1:], start=1):
        nxt = sliced.filter(F.col("term") == term).select(
            id_col,
            F.transform("positions", lambda p: p - i).alias(f"_shift{i}"),
        )
        base = base.join(nxt, id_col).select(
            id_col,
            F.array_intersect("starts", f"_shift{i}").alias("starts"),
        )
    return (
        base.select(id_col, F.size("starts").alias("n_occurrences"))
        .filter(F.col("n_occurrences") > 0)
    )


_PHRASE_RE = re.compile(r'"([^"]+)"')


def extract_phrases(query: str) -> tuple[str, list[list[str]]]:
    """Split a query string into (residual terms, quoted phrases) —
    the ``query_string`` convention where ``"..."`` spans demand exact
    token adjacency and everything else matches as loose terms. Phrase
    spans keep the ORDERED, REPEATED token sequence (tokenize_query's
    dedupe would turn ``"do do do"`` into the single term ``do`` and
    match the wrong documents); empty phrases (quotes around
    punctuation) are dropped."""
    phrases = [
        [t for t in re.split(TOKEN_BREAK_RE, m.lower()) if t]
        for m in _PHRASE_RE.findall(query)
    ]
    return _PHRASE_RE.sub(" ", query), [p for p in phrases if p]


def phrase_expr(col: Column, terms: list[str]) -> Column:
    """True when the column's token stream contains ``terms`` adjacently
    — the expression form of :func:`phrase_match` for SHORT fields
    (asset names, descriptions) where maintaining a positional index
    would cost more than scanning the tokens in place. Pure Column
    algebra (slice equality over candidate start offsets), codegen-
    eligible, no UDF; documents-scale phrase search should use the
    positional-postings path instead."""
    if not terms:
        raise ValueError("phrase must have at least one term")
    toks = tokenize(col)
    k = len(terms)
    if k == 1:
        return F.array_contains(toks, terms[0])
    want = F.array(*[F.lit(t) for t in terms])
    # start offsets 1..n-k+1; short/empty token streams degrade to a
    # single slice shorter than k, which never equals the k-array
    starts = F.sequence(
        F.lit(1), F.greatest(F.size(toks) - (k - 1), F.lit(1))
    )
    return F.exists(starts, lambda i: F.slice(toks, i, k) == want)


# the completion suggester's shape: prefixes of 1..4 characters, top 3
# tokens per prefix — shared by the index build and the one-prefix
# serving fallback so the two return the same rows by construction
SUGGEST_MAX_PREFIX_LEN = 4
SUGGEST_K = 3


def build_suggest_index(
    df: DataFrame,
    text_col: str,
    max_prefix_len: int = SUGGEST_MAX_PREFIX_LEN,
    k: int = SUGGEST_K,
) -> DataFrame:
    """Prefix-completion suggest index: (prefix, suggestion, freq, rank)
    with the top-``k`` corpus tokens per prefix — the OpenSearch
    completion-suggester analog behind the search UI's type-ahead box
    (reference: backend/backend/handlers/search/search.py query
    surface; the reference delegates completion to the OpenSearch
    suggester feature).

    Build shape (write path — the index is maintained state exactly
    like the search tables): tokenize once, aggregate token frequencies
    (map-combinable), explode each DISTINCT token into at most
    ``max_prefix_len`` prefixes — the explode runs on the token
    DICTIONARY, not the corpus — then rank per prefix. Serving is a
    point lookup on the prefix key."""
    from pyspark.sql import Window

    toks = df.select(F.explode(tokenize(F.col(text_col))).alias("token"))
    freq = toks.groupBy("token").agg(F.count(F.lit(1)).alias("freq"))
    pfx = freq.select(
        F.explode(
            F.transform(
                F.sequence(
                    F.lit(1), F.least(F.length("token"), F.lit(max_prefix_len))
                ),
                lambda i: F.col("token").substr(F.lit(1), i),
            )
        ).alias("prefix"),
        "token",
        "freq",
    )
    w = Window.partitionBy("prefix").orderBy(F.desc("freq"), "token")
    return (
        pfx.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("prefix", F.col("token").alias("suggestion"), "freq", "rank")
    )


def suggest_for_prefix(df: DataFrame, text_col: str, prefix: str) -> DataFrame:
    """The rows ``build_suggest_index(df, text_col)`` holds for one
    ``prefix`` — without building the index.

    The serving fallback when no maintained suggest table exists: a
    prefix's top ``SUGGEST_K`` are the most frequent tokens that START
    with it (ties by token), so only those tokens are counted, the top
    ones taken, and ranked in the single partition the top-k leaves.
    The index never holds a prefix shorter than 1 or longer than
    ``SUGGEST_MAX_PREFIX_LEN``; such a prefix gets no rows. Two Spark jobs
    (the token count and the top-k), against the index build's prefix
    explode, per-prefix rank and range sort."""
    from pyspark.sql import Window

    token = F.col("token")
    hit = (
        token.startswith(prefix)
        if 1 <= len(prefix) <= SUGGEST_MAX_PREFIX_LEN
        else F.lit(False)
    )
    top = (
        df.select(F.explode(tokenize(F.col(text_col))).alias("token"))
        .filter(hit)
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), "token")
        .limit(SUGGEST_K)
        .withColumn("prefix", F.lit(prefix))
    )
    w = Window.partitionBy("prefix").orderBy(F.desc("freq"), "token")
    return top.select(
        "prefix",
        token.alias("suggestion"),
        "freq",
        F.row_number().over(w).cast("int").alias("rank"),
    )


def _token_counts(
    df: DataFrame, key_cols: list[str], text_col: str
) -> DataFrame:
    """(keys..., token, cnt) — per-entity token occurrence counts (the
    suggest index's freq unit; duplicates within a name count)."""
    return (
        df.select(
            *key_cols, F.explode(tokenize(F.col(text_col))).alias("token")
        )
        .groupBy(*key_cols, "token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _prefixes(token_col, max_prefix_len: int):
    return F.transform(
        F.sequence(F.lit(1), F.least(F.length(token_col), F.lit(max_prefix_len))),
        lambda i: token_col.substr(F.lit(1), i),
    )


def suggest_index_update(
    spark,
    state_dir: str,
    changes: DataFrame,
    batch_key: str,
    key_cols: list[str] = ("database_id", "asset_id"),
    text_col: str = "asset_name",
    max_prefix_len: int = SUGGEST_MAX_PREFIX_LEN,
    k: int = SUGGEST_K,
) -> DataFrame:
    """One incremental maintenance step of the completion-suggest index
    — the CDC story of :func:`build_suggest_index`, so the type-ahead
    table stays current without corpus rebuilds (the same maintained-
    state contract as the search tables, streaming/cdc.py).

    ``changes``: (key_cols..., event_name, ``text_col``) — INSERT/
    MODIFY rows carry the entity's new name, REMOVE rows drop it.
    State under ``state_dir``:

    - ``tokens/``  — (keys..., token, cnt): each live entity's token
      counts, a CDC merge sink (streaming.cdc.apply_cdc_batch: touched
      partitions rewritten, published by one manifest commit);
    - ``suggest/`` — (prefix, suggestion, freq, rank): the serving
      table, a CDC merge sink keyed on the PREFIX — read it with
      streaming.cdc.read_sink;
    - ``manifests/batch=<key>/`` — the batch's affected-prefix set,
      removed when another batch starts (in-order delivery replays
      only the last batch; until then the frame this call returns
      reads it).

    Only prefixes of tokens touched by the batch (old tokens of the
    changed entities ∪ their new tokens) are recomputed; each affected
    prefix is re-ranked against every token sharing it, so displaced
    unaffected suggestions re-rank correctly. At 100 TB the token store
    would additionally be partitioned by token prefix so the candidate
    scan prunes; the plan shape does not change.

    Replay safety (at-least-once streams): the affected-prefix set is
    computed from the PRE-update store and persisted as a manifest
    BEFORE any state is touched — a replay after a mid-batch crash
    reuses it, so a rename's obsolete prefixes are refreshed even
    though the replayed store no longer shows the old tokens. A replay
    after the log was removed (the batch completed) recomputes the set
    from the committed tokens: a subset of the original, whose
    prefixes ``suggest/`` already serves correctly. The
    suggest recompute itself derives the post-batch token relation
    functionally (store minus changed keys, plus new rows), which is
    idempotent under any crash point; both sink merges are idempotent
    partition rewrites."""
    import os
    import shutil

    from pyspark.sql import Window

    from ..streaming.cdc import apply_cdc_batch, read_sink

    key_cols = list(key_cols)
    tokens_dir = os.path.join(state_dir, "tokens")
    suggest_dir = os.path.join(state_dir, "suggest")
    logs_dir = os.path.join(state_dir, "manifests")
    manifest_dir = os.path.join(logs_dir, f"batch={batch_key}")
    if os.path.isdir(logs_dir):
        for d in os.listdir(logs_dir):
            if d != f"batch={batch_key}":
                shutil.rmtree(os.path.join(logs_dir, d), ignore_errors=True)

    # one change per key (last within the batch wins when a seq exists)
    ch = changes
    if "seq" in ch.columns:
        w = Window.partitionBy(*key_cols).orderBy(F.desc("seq"))
        ch = (
            ch.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
    new_rows = _token_counts(
        ch.filter(F.col("event_name") != "REMOVE"), key_cols, text_col
    )

    store_schema = (
        ", ".join(f"{c} string" for c in key_cols) + ", token string, cnt bigint"
    )
    # the committed snapshot: a crashed tokens/ merge never shows here
    store = read_sink(spark, tokens_dir)
    if store is not None:
        store = store.select(*key_cols, "token", "cnt")
    else:
        store = spark.createDataFrame([], store_schema)

    batch_keys = ch.select(*key_cols).distinct()
    # a manifest counts only when its _SUCCESS marker landed — a crash
    # mid-write leaves a partial parquet dir that a bare isdir() check
    # would trust, silently dropping affected prefixes on replay
    if os.path.isfile(os.path.join(manifest_dir, "_SUCCESS")):
        affected_prefixes = spark.read.parquet(manifest_dir)
    else:
        old_tokens = store.join(batch_keys, key_cols, "left_semi").select(
            "token"
        )
        affected_tokens = old_tokens.unionByName(
            new_rows.select("token")
        ).distinct()
        affected_prefixes = (
            affected_tokens.select(
                F.explode(_prefixes(F.col("token"), max_prefix_len)).alias(
                    "prefix"
                )
            ).distinct()
        )
        affected_prefixes.write.mode("overwrite").parquet(manifest_dir)
        affected_prefixes = spark.read.parquet(manifest_dir)

    # functional post-batch token relation: correct whether or not the
    # token store was already rewritten by a crashed earlier attempt
    updated = store.join(batch_keys, key_cols, "left_anti").unionByName(
        new_rows
    )
    # candidate tokens = every token sharing an affected prefix. The
    # affected-prefix set is CLOSED UNDER TRUNCATION (it holds every
    # prefix, lengths 1..max, of every affected token), so a token has
    # any affected prefix iff its FIRST CHARACTER is an affected
    # 1-char prefix: one broadcast semi-join on a derived substr key,
    # instead of the r13 form's full-dictionary distinct + prefix
    # explode + second distinct + token semi-join back (two full store
    # scans and a dictionary-sized shuffle per batch; r14 A/B at a
    # 200k-entity store: 0.80x wall, identical sink state —
    # scripts/probe4_r14.py at commit 4c8971f proves set equality
    # both directions)
    aff1 = affected_prefixes.filter(F.length("prefix") == 1)
    cand = (
        updated.join(
            F.broadcast(aff1),
            F.substring(F.col("token"), 1, 1) == F.col("prefix"),
            "left_semi",
        )
        .groupBy("token")
        .agg(F.sum("cnt").alias("freq"))
    )
    wrank = Window.partitionBy("prefix").orderBy(F.desc("freq"), "token")
    fresh_suggest = (
        cand.withColumn(
            "prefix", F.explode(_prefixes(F.col("token"), max_prefix_len))
        )
        .join(F.broadcast(affected_prefixes), "prefix", "left_semi")
        .withColumn("rank", F.row_number().over(wrank).cast("int"))
        .filter(F.col("rank") <= k)
        .select("prefix", F.col("token").alias("suggestion"), "freq", "rank")
    )

    prefix_batch = affected_prefixes.withColumn("event_name", F.lit("MODIFY"))
    apply_cdc_batch(
        prefix_batch,
        lambda keys: fresh_suggest.join(keys, ["prefix"], "left_semi"),
        suggest_dir,
        ["prefix"],
    )
    apply_cdc_batch(
        ch,
        lambda keys: new_rows.join(keys, key_cols, "left_semi"),
        tokens_dir,
        key_cols,
    )
    return fresh_suggest


def start_suggest_stream(
    spark,
    changes_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    changes_schema: str = (
        "database_id string, asset_id string, event_name string, "
        "asset_name string, seq bigint"
    ),
    **update_kwargs,
):
    """Structured Streaming wrapper around :func:`suggest_index_update`:
    a file-source change stream (the same change-log shape the search
    tables consume) keeps the completion-suggest index continuously
    current — the suggester's kappa loop beside the search-table CDC,
    the dedup stream, and the corpus-build stream.

    Replay-safe by construction: the micro-batch id is the batch key,
    so an at-least-once redelivery reuses its persisted
    affected-prefix manifest and rewrites the same partitions with the
    same rows (suggest_index_update's crash-ordering contract)."""
    stream = (
        spark.readStream.schema(changes_schema).format("json").load(changes_dir)
    )
    if "batch_key" in update_kwargs:
        raise TypeError(
            "batch_key is managed by the stream wrapper (per-micro-batch id)"
        )

    def step(batch, batch_id: int) -> None:
        suggest_index_update(
            spark, state_dir, batch, batch_key=f"b{batch_id}", **update_kwargs
        )

    return run_micro_batches(stream, checkpoint_dir, step)


# ---------------------------------------------------------------------------
# percolator (reverse search) and more-like-this
# ---------------------------------------------------------------------------

def percolate(
    docs: DataFrame,
    stored_queries: DataFrame,
    id_cols: list[str],
    text: Column,
) -> DataFrame:
    """Match documents against a registry of STORED queries —
    OpenSearch's ``percolate`` query, the reverse-search primitive
    behind saved searches / alert subscriptions (the reference checks
    subscriptions per asset on change and notifies — sendEmail handler;
    the matching itself is this operator).

    ``stored_queries`` carries ``(query_id, term_a, term_b, mode)``
    two-term predicates with and/or semantics. Returns one row per
    document with >= 1 match: ``(*id_cols, n_queries int,
    matched_queries string)`` — the matching ids sorted and
    comma-joined (scalar output contract).

    Plan: the registry explodes to (query_id, term) rows and
    BROADCASTS; documents tokenize once to distinct (doc, term) pairs;
    an equi-join + per-(doc, query) count decides satisfaction. Work is
    proportional to matching terms only — no (doc x query) surface. At
    100 TB the registry is user-subscription-sized (broadcastable by
    assumption); the doc side is one scan of the changed documents."""
    # distinct registry terms per query + the per-query required count:
    # 'and' satisfaction compares matched DISTINCT terms against the
    # query's own distinct-term count, so a degenerate stored query
    # with term_a == term_b requires (and matches on) exactly one term
    # — a raw row-count == 2 test would let one doc term joining both
    # registry rows fire a spurious alert. Both the dedup and the count
    # are PER-ROW projections (array_distinct over the two terms), not
    # a distinct+groupBy+self-join — the registry subplan stays
    # shuffle-free before its broadcast
    qterms = stored_queries.select(
        "query_id",
        "mode",
        F.size(F.array_distinct(F.array("term_a", "term_b"))).alias(
            "n_required"
        ),
        F.explode(F.array_distinct(F.array("term_a", "term_b"))).alias("term"),
    )
    doc_terms = docs.select(
        *id_cols,
        F.explode(F.array_distinct(tokenize(text))).alias("term"),
    )
    hits = (
        doc_terms.join(F.broadcast(qterms), "term")
        .groupBy(*id_cols, "query_id", "mode", "n_required")
        .agg(F.count(F.lit(1)).alias("matched"))
    )
    matched_q = hits.filter(
        ((F.col("mode") == "and") & (F.col("matched") == F.col("n_required")))
        | ((F.col("mode") == "or") & (F.col("matched") >= 1))
    )
    return matched_q.groupBy(*id_cols).agg(
        F.count(F.lit(1)).cast("int").alias("n_queries"),
        F.array_join(F.array_sort(F.collect_list("query_id")), ",").alias(
            "matched_queries"
        ),
    )


def more_like_this(
    docs: DataFrame,
    id_col: str,
    text: Column,
    seed_pred: Column,
    top_terms: int = 10,
    min_match: int = 2,
    k: int = 20,
) -> DataFrame:
    """More-like-this similarity search — OpenSearch's
    ``more_like_this``: rank documents by summed idf of the seed
    document's top TF-IDF terms they share. ``seed_pred`` selects the
    seed row(s); returns ``(id_col, matched_terms int, mlt_score
    double)`` top-k, seed excluded.

    idf is grid-rounded to 1e-6 BEFORE a DECIMAL(38,10)-accumulated
    sum (order-independent, engine-exact); the seed term ranking uses
    the floor-form rounding and a term tiebreak. The idf dictionary is
    vocabulary-bounded and broadcast; the seed term set (``top_terms``
    rows) broadcasts into the scoring probe. See q_doc_more_like_this
    (queries.py) for the differential oracle."""
    from .checkpointing import maybe_checkpoint

    # tf fans out to three consumers (document frequencies, the seed
    # term ranking, the scoring probe) — materialize the one tokenize+
    # count pass instead of re-exploding the corpus per consumer. At
    # scale this relation is the maintained postings state the BM25
    # tier already persists; the checkpoint is its standalone stand-in.
    tf = maybe_checkpoint(
        docs.select(id_col, F.explode(tokenize(text)).alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    idf = dfreq.crossJoin(F.broadcast(n_docs)).select(
        "term", F.round(F.log(F.col("n_docs") / F.col("df")), 6).alias("idf")
    )
    seed_scored = (
        tf.filter(seed_pred)
        .join(F.broadcast(idf), "term")
        .select(
            "term",
            "idf",
            (F.floor(F.col("tf") * F.col("idf") * 1000000 + 0.5) / 1000000)
            .alias("tfidf"),
        )
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("tfidf"), "term")
    seed = (
        seed_scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= top_terms)
        .select("term", "idf")
    )
    dsum = F.sum(F.col("idf").cast("decimal(38,10)")).cast("double")
    return (
        tf.filter(~seed_pred)
        .join(F.broadcast(seed), "term")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("int").alias("matched_terms"),
            dsum.alias("mlt_score"),
        )
        .filter(F.col("matched_terms") >= min_match)
        .orderBy(F.desc("mlt_score"), id_col)
        .limit(k)
    )


def start_percolate_stream(
    spark,
    changes_dir: str,
    stored_queries: DataFrame,
    sink_dir: str,
    checkpoint_dir: str,
    changes_schema: str = (
        "database_id string, asset_id string, asset_name string, "
        "description string, seq bigint"
    ),
):
    """Structured Streaming percolation: every micro-batch of changed
    assets is matched against the stored-query registry and the match
    notifications land in a parquet sink — the push half of saved
    searches / subscriptions (the reference notifies subscribers on
    asset change; this stream computes which saved queries fired).

    Percolation is stateless per document, so batch ≡ stream by
    construction; replay safety comes from the sink layout — each
    micro-batch OVERWRITES its own ``batch=<id>`` partition directory,
    so an at-least-once redelivery rewrites identical rows instead of
    appending duplicates (the same idempotence-by-partition contract as
    the CDC search-table merge, streaming/cdc.py)."""
    stream = (
        spark.readStream.schema(changes_schema).format("json").load(changes_dir)
    )

    def step(batch, batch_id: int) -> None:
        matches = percolate(
            batch,
            stored_queries,
            ["database_id", "asset_id"],
            F.concat_ws(" ", F.col("asset_name"), F.col("description")),
        )
        matches.write.mode("overwrite").parquet(
            f"{sink_dir}/batch={batch_id}"
        )

    return run_micro_batches(stream, checkpoint_dir, step)
