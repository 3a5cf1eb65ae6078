"""Unit tests: graph traversal, EAV, versions, dedup, similarity,
normalization functions, workflow runner, keyset pagination."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from visual_asset_management_system_spark.functions.normalize import (
    coerce_boolean,
    coerce_number,
    file_extension,
    is_folder,
    sanitize_field_name,
)
from visual_asset_management_system_spark.operators.dedup import (
    minhash_dedup,
    simhash_near_duplicates,
)
from visual_asset_management_system_spark.operators.graph import descendants, one_hop
from visual_asset_management_system_spark.operators.similarity import (
    cosine_topk,
    lsh_topk,
)
from visual_asset_management_system_spark.plans.pagination import keyset_page
from visual_asset_management_system_spark.plans.workflow import Pipeline, Workflow
from visual_asset_management_system_spark.queries import tables

SF = "/root/testdata/sf0.001"


# -- graph ------------------------------------------------------------------

def test_descendants_cycle_terminates(spark):
    """The parentChild chain 48→42→…→6→48 is a cycle; BFS must terminate
    and never revisit the root."""
    links = tables(spark, SF)["asset_links"]
    out = descendants(links, "db_8", "asset_48").collect()
    ids = {r["asset_id"] for r in out}
    assert "asset_48" not in ids
    assert ids == {f"asset_{k}" for k in (42, 36, 30, 24, 18, 12, 6)}
    depths = {r["asset_id"]: r["depth"] for r in out}
    assert depths["asset_42"] == 1 and depths["asset_6"] == 7


def test_descendants_depth_cap(spark):
    links = tables(spark, SF)["asset_links"]
    out = descendants(links, "db_8", "asset_48", max_depth=3).collect()
    assert {r["depth"] for r in out} == {1, 2, 3}


@pytest.mark.soak  # ~3 min: dozens of 1-level driver rounds by design
def test_descendants_frontier_batching_equivalence(spark):
    """Batched multi-level expansion must equal the 1-level loop
    exactly — same node set AND same (minimum) depths — on random
    graphs with diamonds and cycles, across batch sizes that divide
    the depth unevenly."""
    import random as _random

    rng = _random.Random(7)
    for trial in range(3):
        n = 30
        edges = {(0, 1), (1, 2)}  # guarantee some depth
        while len(edges) < 70:
            a, b = rng.randrange(n), rng.randrange(n)
            if a != b:
                edges.add((a, b))
        links = spark.createDataFrame(
            [
                ("db", f"a{a}", "db", f"a{b}", "parentChild")
                for a, b in sorted(edges)
            ],
            "from_database_id string, from_asset_id string, "
            "to_database_id string, to_asset_id string, "
            "relationship_type string",
        )
        base = {
            (r["asset_id"], r["depth"])
            for r in descendants(
                links, "db", "a0", max_depth=9, levels_per_round=1
            ).collect()
        }
        for batch in (2, 3, 4):
            got = {
                (r["asset_id"], r["depth"])
                for r in descendants(
                    links, "db", "a0", max_depth=9,
                    levels_per_round=batch,
                ).collect()
            }
            assert got == base, (trial, batch, got ^ base)
        # the non-checkpoint path takes the same early exits (both
        # folded into the per-round 1-row aggregate since r13 — the
        # deepest-layer break used to be checkpoint-gated) and must
        # return the identical set even when max_depth far overshoots
        got_nc = {
            (r["asset_id"], r["depth"])
            for r in descendants(
                links, "db", "a0", max_depth=20,
                use_checkpoint=False, levels_per_round=2,
            ).collect()
        }
        assert got_nc == base, (trial, got_nc ^ base)


def test_one_hop_classification(spark):
    links = tables(spark, SF)["asset_links"]
    rows = one_hop(links, "db_2", "asset_42").collect()
    rels = {(r["neighbor_asset_id"], r["relationship"]) for r in rows}
    assert ("asset_36", "child") in rels
    assert ("asset_48", "parent") in rels


def test_hash_sample_and_split_are_deterministic(spark):
    """Content-hash sampling: stable across runs and repartitions,
    ~rate-accurate, salt-independent; splits partition the corpus
    exactly (every row in exactly one split, fractions respected)."""
    from visual_asset_management_system_spark.operators.sampling import (
        hash_sample,
        hash_split,
    )

    df = spark.range(0, 10000).withColumnRenamed("id", "doc_id")
    s1 = {r["doc_id"] for r in hash_sample(df, 0.3, "doc_id").collect()}
    s2 = {
        r["doc_id"]
        for r in hash_sample(df.repartition(13), 0.3, "doc_id").collect()
    }
    assert s1 == s2                      # layout-independent
    assert abs(len(s1) / 10000 - 0.3) < 0.02
    other = {
        r["doc_id"] for r in hash_sample(df, 0.3, "doc_id", salt="b").collect()
    }
    assert other != s1                   # different salt → different sample
    assert abs(len(s1 & other) / 10000 - 0.09) < 0.02  # ~independent

    split = hash_split(
        df, {"train": 0.8, "val": 0.1, "test": 0.1}, "doc_id"
    )
    counts = {
        r["split"]: r["n"]
        for r in split.groupBy("split").agg(F.count("*").alias("n")).collect()
    }
    assert sum(counts.values()) == 10000
    assert abs(counts["train"] / 10000 - 0.8) < 0.02
    import pytest as _pytest
    with _pytest.raises(ValueError):
        hash_split(df, {"a": 0.5, "b": 0.4}, "doc_id")
    with _pytest.raises(ValueError):
        hash_sample(df, 1.5, "doc_id")


def test_token_budget_sample_matches_model(spark):
    """Token-budget subsample vs a plain-Python model of the keep rule
    (hash-ordered prefix, keep iff tokens-before < budget): crossing
    row included, zero budget keeps nothing, oversized budget keeps
    all, zero-token docs at the exact boundary dropped, deterministic
    across partitionings."""
    import hashlib

    from visual_asset_management_system_spark.operators.sampling import (
        token_budget_sample,
    )

    rows = [(i, " ".join(f"w{j}" for j in range(i % 7))) for i in range(60)]
    rows += [(100, ""), (101, "   ")]  # zero-token docs
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def h(i, salt=""):
        return int(hashlib.md5(f"{i}|{salt}".encode()).hexdigest()[:8], 16)

    ordered = sorted(rows, key=lambda r: (h(r[0]), r[0]))
    toks = {i: len(t.split()) for i, t in rows}

    def model(budget):
        out, cum = {}, 0
        for i, _ in ordered:
            if cum < budget:
                out[i] = toks[i]
            cum += toks[i]
        return out

    for budget in (0, 7, 50, 10_000):
        got = {
            r["doc_id"]: r["n_tokens"]
            for r in token_budget_sample(
                df, budget, n_cells=16
            ).collect()
        }
        assert got == model(budget), budget
    assert token_budget_sample(df, 0).count() == 0
    # layout independence
    a = {r["doc_id"] for r in token_budget_sample(df, 50).collect()}
    b = {
        r["doc_id"]
        for r in token_budget_sample(df.repartition(7), 50).collect()
    }
    assert a == b

    # exact-boundary: a budget equal to a running-total point must not
    # wholesale-keep a cell that ENDS at the budget (trailing
    # zero-token rows there are past the prefix)
    cums = []
    cum = 0
    for i, _ in ordered:
        cums.append(cum)
        cum += toks[i]
    for boundary in sorted({c for c in cums if c > 0})[:3]:
        got = {
            r["doc_id"]
            for r in token_budget_sample(df, boundary, n_cells=4).collect()
        }
        assert got == set(model(boundary)), boundary


def test_dsir_log_weights_match_python_model(spark):
    """DSIR importance weights (sampling.dsir_log_weights) against a
    plain-Python model of the add-1 smoothed bigram log-ratio: exact
    integer columns bit-equal, log_weight within float tolerance;
    empty/short docs keep their row with weight 0; and the HASHED
    scale path equals the unhashed form on a collision-free fixture."""
    import math

    from visual_asset_management_system_spark.operators.sampling import (
        dsir_log_weights,
    )

    rows = [
        (1, "the cat sat on the mat"),
        (2, "the cat ate the fish"),
        (3, "stocks fell as rates rose again"),
        (4, "rates rose and stocks fell hard"),
        (5, ""),
        (6, "single"),
        (7, "The CAT sat"),  # case-folds into doc 1's bigrams
    ]
    target_ids = {1, 2, 7}
    df = spark.createDataFrame(rows, "doc_id long, text string")
    target = df.filter(F.col("doc_id").isin(list(target_ids)))

    def bigrams(text):
        toks = [t for t in text.strip().lower().split() if t]
        return [f"{a} {b}" for a, b in zip(toks, toks[1:])]

    tdist: dict = {}
    rdist: dict = {}
    for i, txt in rows:
        for g in bigrams(txt):
            rdist[g] = rdist.get(g, 0) + 1
            if i in target_ids:
                tdist[g] = tdist.get(g, 0) + 1
    nt, nr = sum(tdist.values()), sum(rdist.values())
    nb = len(set(rdist) | set(tdist))
    want = {}
    for i, txt in rows:
        gs = bigrams(txt)
        lw = sum(
            math.log((tdist.get(g, 0) + 1) / (nt + nb))
            - math.log((rdist[g] + 1) / (nr + nb))
            for g in gs
        )
        lean = sum(
            1
            for g in gs
            if (tdist.get(g, 0) + 1) * (nr + nb) > (rdist[g] + 1) * (nt + nb)
        )
        want[i] = (len(gs), lean, lw)

    got = {
        r["doc_id"]: (r["n_grams"], r["n_target_leaning"], r["log_weight"])
        for r in dsir_log_weights(df, target, n_buckets=None).collect()
    }
    assert set(got) == set(want)
    for i in want:
        assert got[i][:2] == want[i][:2], i
        assert got[i][2] == pytest.approx(want[i][2], abs=1e-9), i
    # target docs lean target; the finance docs lean away
    assert got[1][2] > 0 and got[2][2] > 0 and got[7][2] > 0
    assert got[3][2] < 0 and got[4][2] < 0
    assert got[5] == (0, 0, 0.0) and got[6] == (0, 0, 0.0)

    # hashed scale path: with a bucket space vastly larger than the
    # distinct bigram count (~20), xxhash64 buckets are collision-free
    # for this fixture, so per-bucket counts equal per-gram counts and
    # the only difference from the unhashed form is the smoothing
    # domain B = n_buckets — model exactly that
    NB = 1 << 20
    want_h = {}
    for i, txt in rows:
        gs = bigrams(txt)
        lw = sum(
            math.log((tdist.get(g, 0) + 1) / (nt + NB))
            - math.log((rdist[g] + 1) / (nr + NB))
            for g in gs
        )
        lean = sum(
            1
            for g in gs
            if (tdist.get(g, 0) + 1) * (nr + NB) > (rdist[g] + 1) * (nt + NB)
        )
        want_h[i] = (len(gs), lean, lw)
    hashed = {
        r["doc_id"]: (r["n_grams"], r["n_target_leaning"], r["log_weight"])
        for r in dsir_log_weights(df, target, n_buckets=NB).collect()
    }
    assert set(hashed) == set(want_h)
    for i in want_h:
        assert hashed[i][:2] == want_h[i][:2], i
        assert hashed[i][2] == pytest.approx(want_h[i][2], abs=1e-9), i


def test_dsir_target_pred_equals_target_frame(spark):
    """r15 single-scan target path: dsir_log_weights(target_pred=...)
    must be BIT-EQUAL (every column, including the float log_weight)
    to the target-frame form in both hashed and unhashed modes — the
    target dictionary aggregates the same exploded gram instances,
    just from the shared checkpointed relation. Passing both or
    neither of target/target_pred must raise."""
    import pytest as _pytest

    from visual_asset_management_system_spark.operators.sampling import (
        dsir_log_weights,
    )

    rows = [
        (1, "the cat sat on the mat"),
        (2, "the cat ate the fish"),
        (3, "stocks fell as rates rose again"),
        (4, "rates rose and stocks fell hard"),
        (5, ""),
        (6, "single"),
        (7, "The CAT sat"),
        (14, "the mat sat on the cat"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    target = df.filter(F.col("doc_id") % 7 == 0)
    for buckets in (None, 10_000):
        a = sorted(
            tuple(r)
            for r in dsir_log_weights(df, target, n_buckets=buckets).collect()
        )
        b = sorted(
            tuple(r)
            for r in dsir_log_weights(
                df, n_buckets=buckets, target_pred=lambda c: c % 7 == 0
            ).collect()
        )
        assert a == b, (buckets, a, b)
    with _pytest.raises(ValueError):
        dsir_log_weights(df)
    with _pytest.raises(ValueError):
        dsir_log_weights(df, target, target_pred=lambda c: c % 7 == 0)


def test_dsir_gumbel_topk_matches_python_model(spark):
    """Gumbel-top-k selection (sampling.dsir_gumbel_topk) against a
    plain-Python model of the hash-derived noise: exact member set AND
    quantized keys; k >= n returns everything; higher temperature
    flattens weights (noise dominates) while the same salt keeps the
    draw fixed; invalid k/temperature raise."""
    import hashlib
    import math

    import pytest as _pytest

    from visual_asset_management_system_spark.operators.sampling import (
        dsir_gumbel_topk,
    )

    rows = [(1, 5.0), (2, -3.0), (3, 0.25), (4, 8.5), (5, -0.75), (6, 2.0)]
    w = spark.createDataFrame(rows, "doc_id long, log_weight double")

    def model_key(doc_id, lw, salt="dsir", temp=1.0):
        h = int(hashlib.md5(f"{doc_id}|{salt}".encode()).hexdigest()[:8], 16)
        u = (h + 0.5) / 4294967296.0
        g = -math.log(-math.log(u))
        return math.floor((lw / temp + g) * 1_000_000 + 0.5)

    want = sorted(
        ((model_key(i, lw), i) for i, lw in rows), key=lambda t: (-t[0], t[1])
    )
    got = {
        r["doc_id"]: r["gumbel_key"]
        for r in dsir_gumbel_topk(w, k=3).collect()
    }
    assert got == {i: k for k, i in want[:3]}
    # k >= n: everything selected, keys still exact
    assert {
        r["doc_id"]: r["gumbel_key"]
        for r in dsir_gumbel_topk(w, k=100).collect()
    } == {i: k for k, i in want}
    # temperature rescales the weight term only — noise unchanged
    got_t = {
        r["doc_id"]: r["gumbel_key"]
        for r in dsir_gumbel_topk(w, k=6, temperature=100.0).collect()
    }
    assert got_t == {
        i: model_key(i, lw, temp=100.0) for i, lw in rows
    }
    # a different salt is an independent draw
    alt = {
        r["doc_id"]: r["gumbel_key"]
        for r in dsir_gumbel_topk(w, k=6, salt="other").collect()
    }
    assert alt != {i: k for k, i in want}
    with _pytest.raises(ValueError):
        dsir_gumbel_topk(w, k=0)
    with _pytest.raises(ValueError):
        dsir_gumbel_topk(w, k=3, temperature=0.0)


def test_chunk_documents_windows_and_overlap(spark):
    """Window math: consecutive chunks share exactly `overlap` tokens,
    concatenating chunks minus overlaps reconstructs the token stream,
    and a short/empty doc yields exactly one chunk."""
    from visual_asset_management_system_spark.operators.text import (
        chunk_documents,
    )

    words = " ".join(f"w{i}" for i in range(25))
    df = spark.createDataFrame(
        [(1, words), (2, "tiny doc"), (3, "")], "doc_id long, text string"
    )
    rows = chunk_documents(df, chunk_tokens=10, overlap=2).collect()
    by_doc: dict = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], {})[r["chunk_id"]] = r["chunk_text"]
    # 25 tokens, window 10, step 8 → ceil(23/8) = 3 chunks
    c = by_doc[1]
    assert sorted(c) == [0, 1, 2]
    t0, t1, t2 = (c[i].split() for i in range(3))
    assert t0 == [f"w{i}" for i in range(10)]
    assert t0[-2:] == t1[:2] and t1[-2:] == t2[:2]  # overlap = 2
    rebuilt = t0 + t1[2:] + t2[2:]
    assert rebuilt == words.split()
    assert by_doc[2] == {0: "tiny doc"}
    assert by_doc[3] == {0: ""}

    import pytest as _pytest
    with _pytest.raises(ValueError):
        chunk_documents(df, chunk_tokens=10, overlap=10)


def test_connected_components_long_chain_and_clusters(spark):
    """A 300-node chain must converge within the default 20 rounds —
    only possible with pointer jumping (plain neighbor-min propagation
    needs 300 rounds) — and disjoint clusters must keep distinct
    min-labels."""
    from visual_asset_management_system_spark.operators.graph import (
        connected_components,
    )

    chain = [(f"n{i:04d}", f"n{i + 1:04d}") for i in range(299)]
    tri = [("z1", "z2"), ("z2", "z3"), ("z3", "z1")]  # cycle-safe too
    pair = [("y1", "y2")]
    df = spark.createDataFrame(chain + tri + pair, "src string, dst string")
    got = {
        r["node"]: r["component"]
        for r in connected_components(df).collect()
    }
    assert len(got) == 300 + 3 + 2
    assert all(got[f"n{i:04d}"] == "n0000" for i in range(300))
    assert got["z1"] == got["z2"] == got["z3"] == "z1"
    assert got["y1"] == got["y2"] == "y1"


def test_one_hop_enrichment_broadcasts_not_shuffles(spark):
    """The enrichment join must never shuffle the assets table: an outer
    join cannot build its preserved side, so the broadcast hint on the
    tiny neighbor set is silently dropped unless the dim is semi-join
    filtered first. Assert the executed plan is all broadcast joins —
    zero SortMergeJoin / ShuffledHashJoin."""
    t = tables(spark, SF)
    out = one_hop(
        t["asset_links"], "db_2", "asset_42", assets=t["search_assets"]
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    # and the result is still an enriched row per neighbor
    rows = out.collect()
    assert rows and all("neighbor_name" in r.asDict() for r in rows)


_LINK_SCHEMA = (
    "asset_link_id string, from_database_id string, from_asset_id string,"
    " to_database_id string, to_asset_id string, relationship_type string"
)


def _one_hop_union_form(links, db, aid, assets, auth):
    """The two-scan form single-scan ``one_hop`` replaced: out-edges
    union in-edges, then a plain left join to the asset dim."""
    is_pc = F.col("relationship_type") == "parentChild"
    out_rows = links.filter(
        (F.col("from_database_id") == db) & (F.col("from_asset_id") == aid)
    ).select(
        "asset_link_id",
        F.col("to_database_id").alias("neighbor_database_id"),
        F.col("to_asset_id").alias("neighbor_asset_id"),
        F.when(is_pc, "child").otherwise("related").alias("relationship"),
    )
    in_rows = links.filter(
        (F.col("to_database_id") == db) & (F.col("to_asset_id") == aid)
    ).select(
        "asset_link_id",
        F.col("from_database_id").alias("neighbor_database_id"),
        F.col("from_asset_id").alias("neighbor_asset_id"),
        F.when(is_pc, "parent").otherwise("related").alias("relationship"),
    )
    neighbors = out_rows.unionByName(in_rows)
    if assets is None:
        return neighbors
    dim = assets.select(
        F.col("database_id").alias("neighbor_database_id"),
        F.col("asset_id").alias("neighbor_asset_id"),
        F.col("asset_name").alias("neighbor_name"),
        auth.alias("_authz"),
    )
    return (
        neighbors.join(dim, ["neighbor_database_id", "neighbor_asset_id"], "left")
        .withColumn("authorized", F.coalesce("_authz", F.lit(False)))
        .drop("_authz")
    )


def test_one_hop_single_scan_equals_union_form(spark):
    """Single-scan ``one_hop`` returns the rows of the out ∪ in union it
    replaced: a self-loop yields both its rows, a ``related`` edge in
    each direction yields one row each, a neighbor missing from the
    assets is unauthorized with no name, NULL endpoints and a NULL
    relationship type match the union's NULL semantics."""
    links = spark.createDataFrame(
        [
            ("l1", "d", "a", "d", "b", "parentChild"),   # child
            ("l2", "d", "c", "d", "a", "parentChild"),   # parent
            ("l3", "d", "a", "d", "a", "parentChild"),   # self-loop
            ("l4", "d", "a", "d", "e", "related"),       # related, out
            ("l5", "d", "e", "d", "a", "related"),       # related, in
            ("l6", "d", "a", "d", "ghost", "related"),   # not in assets
            ("l7", None, "a", "d", "f", "parentChild"),  # NULL from db
            ("l8", "d", "a", "d", None, "parentChild"),  # NULL to asset
            ("l9", None, None, "d", "a", "related"),     # NULL from side
            ("l10", "d", "a", "d", "b", None),           # NULL type
            ("l11", "d", "x", "d", "y", "related"),      # unrelated edge
            ("l12", "d", "a", "d", "a", "related"),      # related self-loop
        ],
        _LINK_SCHEMA,
    )
    assets = spark.createDataFrame(
        [("d", n, f"name_{n}", n != "c") for n in "abcef"],
        "database_id string, asset_id string, asset_name string, ok boolean",
    )

    def rows(df):
        return sorted((tuple(r) for r in df.collect()), key=repr)

    for dim, auth in ((None, None), (assets, F.col("ok"))):
        got = one_hop(links, "d", "a", assets=dim, auth_predicate=auth)
        want = _one_hop_union_form(links, "d", "a", dim, auth)
        assert got.columns == want.columns
        assert rows(got) == rows(want)
    got = {(r["asset_link_id"], r["relationship"]) for r in
           one_hop(links, "d", "a").collect()}
    assert {("l3", "child"), ("l3", "parent"), ("l4", "related"),
            ("l5", "related"), ("l12", "related")} <= got
    assert len(one_hop(links, "d", "a").filter("asset_link_id = 'l12'")
               .collect()) == 2


def _metadata_map_two_exchange_form(metadata):
    keys = ["database_id", "asset_id"]
    deduped = metadata.groupBy(*keys, "metadata_key").agg(
        F.max("metadata_value").alias("metadata_value")
    )
    return deduped.groupBy(*keys).agg(
        F.map_from_entries(
            F.collect_list(F.struct("metadata_key", "metadata_value"))
        ).alias("metadata")
    )


def test_metadata_map_one_exchange_equals_two_exchange_form(spark):
    """``metadata_map`` aggregates twice over ONE entity-key exchange and
    returns the maps of the two-exchange form: the max value wins per
    duplicate key, NULL values are ignored by max, a key whose values
    are all NULL maps to NULL, and an all-NULL entity still gets a row."""
    from visual_asset_management_system_spark.operators.eav import metadata_map
    from visual_asset_management_system_spark.plans.audit import exchange_count

    md = spark.createDataFrame(
        [
            ("d", "a", "color", "red"),
            ("d", "a", "color", "blue"),     # duplicate key: max wins
            ("d", "a", "size", None),
            ("d", "a", "size", "L"),         # NULL beside a value
            ("d", "a", "empty", None),       # only NULLs
            ("d", "a", "empty", None),
            ("d", "b", "color", "green"),
            ("d", "c", "gone", None),        # entity with only NULLs
            ("e", "a", "color", "zz"),       # same asset id, other db
        ],
        "database_id string, asset_id string, metadata_key string,"
        " metadata_value string",
    )

    def maps(df):
        return sorted(
            (r["database_id"], r["asset_id"], sorted(r["metadata"].items()))
            for r in df.collect()
        )

    got = metadata_map(md)
    assert maps(got) == maps(_metadata_map_two_exchange_form(md))
    assert dict(maps(got)[0][2]) == {"color": "red", "size": "L", "empty": None}
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert exchange_count(plan) == 1, plan


@pytest.mark.parametrize(
    "prefix", ["", "r", "re", "red", "redd", "redde", "ta", "t", "zz", "q"]
)
def test_suggest_for_prefix_equals_index_filter(spark, prefix):
    """The serving fallback returns exactly the rows the full suggest
    index holds for the prefix: empty for "" and for prefixes longer
    than ``SUGGEST_MAX_PREFIX_LEN``, NULL names contribute nothing, and
    frequency ties break by token."""
    from visual_asset_management_system_spark.operators.inverted_index import (
        build_suggest_index,
        suggest_for_prefix,
    )

    names = spark.createDataFrame(
        [(n,) for n in (
            "Red reddish", "red REDDER", "redder reddest", "Redacted", None,
            "tab tan", "tap tab", "tan tap", "tag", "taxi", "", "q",
            "reddest-red red", None,
        )],
        "asset_name string",
    )
    want = [
        tuple(r) for r in build_suggest_index(names, "asset_name")
        .filter(F.col("prefix") == prefix).orderBy("rank").collect()
    ]
    got_df = suggest_for_prefix(names, "asset_name", prefix)
    got = [tuple(r) for r in got_df.orderBy("rank").collect()]
    assert got == want
    assert got_df.dtypes == build_suggest_index(names, "asset_name").dtypes
    if prefix in ("", "redde"):
        assert got == []
    if prefix == "ta":  # tab/tan/tap tie at 2: broken by token
        assert [r[1] for r in got] == ["tab", "tan", "tap"]


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    """Tables bucketed on the join key must sort-merge-join with NO
    Exchange on either side — the co-located layout the engine's big
    entity joins rely on at scale."""
    from visual_asset_management_system_spark.operators.bucketing import (
        read_table,
        write_bucketed_table,
    )

    t = tables(spark, SF)
    keys = ["database_id", "asset_id"]
    write_bucketed_table(
        t["assets"], "b_assets", keys, num_buckets=8,
        path=str(tmp_path / "b_assets"),
    )
    write_bucketed_table(
        t["files"], "b_files", keys, num_buckets=8,
        path=str(tmp_path / "b_files"),
    )
    # force the sort-merge path (at real scale both sides are too big to
    # broadcast; the fixture tables are tiny, so AQE would broadcast)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = read_table(spark, "b_files").join(
            read_table(spark, "b_assets").select(
                "database_id", "asset_id", "asset_name"
            ),
            keys,
        )
        n = joined.count()  # materialize → AQE settles the final plan
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan
        # and it actually computes the same join as the unbucketed path
        expected = (
            t["files"]
            .join(t["assets"].select(*keys, "asset_name"), keys)
            .count()
        )
        assert n == expected
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


# -- dedup / similarity -----------------------------------------------------

def test_minhash_finds_planted_near_dups(spark):
    docs = tables(spark, SF)["documents"].select("doc_id", "text").limit(100)
    toks = F.split(F.trim("text"), r"\s+")
    mutated = docs.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat_ws(
            " ", F.slice(toks, 1, F.greatest(F.size(toks) - 3, F.lit(1)))
        ).alias("text"),
    )
    pairs = minhash_dedup(
        docs.unionByName(mutated), threshold=0.4
    ).collect()
    planted = {(r["id_a"], r["id_b"]) for r in pairs if r["id_b"] == r["id_a"] + 1000000}
    # most planted pairs (doc vs doc-minus-3-words) must be found
    assert len(planted) > 50
    for r in pairs:
        assert r["jaccard"] >= 0.4


def test_minhash_bucket_cap_drops_duplicate_floods(spark):
    """max_bucket_size drops pathological buckets (exact-duplicate
    floods belong to the exact-dedup pass) while keeping normal
    near-dup candidates."""
    from visual_asset_management_system_spark.operators.dedup import (
        minhash_lsh_candidates,
    )

    docs = tables(spark, SF)["documents"].select("doc_id", "text").limit(20)
    flood_text = "the same boilerplate text repeated in every copy of this"
    flood = spark.createDataFrame(
        [(2000000 + i, flood_text) for i in range(40)], "doc_id long, text string"
    )
    corpus = docs.unionByName(flood)
    uncapped = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_candidates(corpus).collect()
    }
    capped = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_candidates(corpus, max_bucket_size=10).collect()
    }
    flood_pairs = {p for p in uncapped if p[0] >= 2000000 and p[1] >= 2000000}
    assert len(flood_pairs) == 40 * 39 // 2  # the quadratic blow-up
    assert not any(p[0] >= 2000000 and p[1] >= 2000000 for p in capped)
    # non-flood candidates are unaffected by the cap
    assert {p for p in uncapped if p[0] < 2000000} <= capped | flood_pairs | {
        p for p in uncapped if p[1] >= 2000000
    }


def test_simhash_hamming_bounds(spark):
    docs = tables(spark, SF)["documents"].select("doc_id", "text").limit(60)
    dup = docs.select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    pairs = simhash_near_duplicates(
        docs.unionByName(dup), max_hamming=0
    ).collect()
    exact = {(r["id_a"], r["id_b"]) for r in pairs}
    # identical docs have identical simhash → all 60 planted pairs found
    assert all((i, i + 1000000) in exact for i in range(60))


def test_simhash_signatures_py4j_budget(spark, py4j_calls):
    """A warm ``simhash_signatures`` call builds its 32 per-bit sums and
    the 32-term signature packing once per ``bits``: the driver-side
    cost of a call does not grow with the signature width."""
    from visual_asset_management_system_spark.operators.dedup import (
        simhash_signatures,
    )

    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "e f g")], "doc_id long, text string"
    )
    first = sorted(tuple(r) for r in simhash_signatures(docs).collect())
    before = py4j_calls.n
    warm = simhash_signatures(docs)
    calls = py4j_calls.n - before
    assert calls <= 300, f"{calls} py4j round trips for a warm call"
    assert sorted(tuple(r) for r in warm.collect()) == first


def test_sketch_probe_py4j_budget(spark, py4j_calls):
    """A warm ``cms_probe`` and a warm ``bloom_flag`` build their
    salted cell / bit-position expressions once per parameters: the
    driver-side cost of a probe does not grow with the sketch depth.
    ``bloom_flag`` also collects the bounded bit mask, whose round
    trips vary from call to call, so its budget holds the least of
    three warm calls."""
    from visual_asset_management_system_spark.operators.sketches import (
        bloom_build,
        bloom_flag,
        cms_build,
        cms_probe,
    )

    keys = spark.createDataFrame([("a",), ("b",), (None,)], "key string")
    cms = cms_build(keys, "key")
    bloom = bloom_build(keys, "key")

    def rows(df):
        return sorted(map(tuple, df.collect()), key=str)

    want_est = rows(cms_probe(keys, cms, "key"))
    want_flag = rows(bloom_flag(keys, bloom, "key"))

    def warm_calls(probe):
        before = py4j_calls.n
        out = probe()
        return py4j_calls.n - before, out

    calls, est = warm_calls(lambda: cms_probe(keys, cms, "key"))
    assert calls <= 150, f"{calls} py4j round trips for a warm cms_probe"
    assert rows(est) == want_est
    runs = [
        warm_calls(lambda: bloom_flag(keys, bloom, "key")) for _ in range(3)
    ]
    calls = min(n for n, _ in runs)
    assert calls <= 200, f"{calls} py4j round trips for a warm bloom_flag"
    assert all(rows(flag) == want_flag for _, flag in runs)


def test_simhash_bucket_cap_drops_duplicate_floods(spark):
    docs = tables(spark, SF)["documents"].select("doc_id", "text").limit(20)
    flood = spark.createDataFrame(
        [(2000000 + i, "identical boilerplate body") for i in range(30)],
        "doc_id long, text string",
    )
    capped = simhash_near_duplicates(
        docs.unionByName(flood), max_hamming=0, max_bucket_size=10
    ).collect()
    assert not any(
        r["id_a"] >= 2000000 and r["id_b"] >= 2000000 for r in capped
    )


def test_lsh_topk_recall_vs_bruteforce(spark):
    from visual_asset_management_system_spark.queries import _query_vector

    emb = tables(spark, SF)["embeddings"]
    qv = _query_vector(SF)
    exact = [r["vec_id"] for r in cosine_topk(emb, qv, k=10).collect()]
    approx = [r["vec_id"] for r in lsh_topk(emb, qv, k=10).collect()]
    assert exact[0] == 0  # the query vector itself is its own nearest
    assert 0 in approx
    # LSH with multiprobe should keep decent overlap with exact top-10
    assert len(set(exact) & set(approx)) >= 3


def test_bm25_bucketed_postings_prune_by_term(spark, tmp_path):
    """The materialized postings layout must bucket-prune query-time
    term lookups (SelectedBucketsCount < total in the scan) and return
    the same scores as the unbucketed path — the claim SCALE.md makes
    for the BM25 tier at 100 TB."""
    import re

    from visual_asset_management_system_spark.operators.inverted_index import (
        bm25_scores,
        build_inverted_index,
        write_postings,
    )
    from visual_asset_management_system_spark.plans.compiler import (
        DEFAULT_TEXT_FIELDS,
    )

    t = tables(spark, SF)
    postings, stats = build_inverted_index(
        t["search_assets"], ["database_id", "asset_id"],
        DEFAULT_TEXT_FIELDS["asset"],
    )
    write_postings(
        postings, "test_postings_bucketed", num_buckets=16,
        path=str(tmp_path / "postings"),
    )
    bucketed = spark.table("test_postings_bucketed")

    keys = ["database_id", "asset_id"]
    pruned = bm25_scores(bucketed, stats, "red metallic", keys)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", plan)
    assert m, "no bucket pruning in plan"
    assert int(m.group(1)) < int(m.group(2))

    flat = bm25_scores(postings, stats, "red metallic", keys)
    norm = lambda df: sorted(  # noqa: E731
        (r["database_id"], r["asset_id"], round(r["score"], 9))
        for r in df.collect()
    )
    assert norm(pruned) == norm(flat)


def test_postings_stats_match_build_stats_with_empty_docs(spark):
    """The postings table must be a LOSSLESS encoding of the corpus:
    re-deriving (n_docs, avgdl) from postings (the CDC-maintained path)
    must equal the build-time stats bit-for-bit even when some docs have
    zero tokens — the term="" sentinel rows carry their dl."""
    from visual_asset_management_system_spark.operators.inverted_index import (
        bm25_scores,
        build_inverted_index,
        postings_stats,
    )

    docs = spark.createDataFrame(
        [
            ("d1", "red metallic paint"),
            ("d2", ""),          # zero tokens
            ("d3", None),        # NULL text → zero tokens
            ("d4", "red paint"),
            ("d5", "///"),       # punctuation only → zero tokens
        ],
        "doc_id string, body string",
    )
    postings, build_stats = build_inverted_index(docs, ["doc_id"], {"body": 1.0})
    derived = postings_stats(postings, ["doc_id"])
    b = build_stats.collect()[0]
    d = derived.collect()[0]
    assert (b["n_docs"], b["avgdl"]) == (d["n_docs"], d["avgdl"]) == (5, 1.0)

    # sentinel rows never surface in scores: "" is not a query token
    scored = bm25_scores(postings, derived, "red", ["doc_id"])
    assert {r["doc_id"] for r in scored.collect()} == {"d1", "d4"}

    # the stop-list must not drop the sentinels even when empty docs
    # outnumber the max_df_ratio fraction
    postings2, stats2 = build_inverted_index(
        docs, ["doc_id"], {"body": 1.0}, max_df_ratio=0.25
    )
    d2 = postings_stats(postings2, ["doc_id"]).collect()[0]
    assert (d2["n_docs"], d2["avgdl"]) == (5, 1.0)


def test_kmeans_ivf_recall_vs_exact(spark):
    """Trained-centroid IVF (Spark ML k-means, seed-pinned) must be
    deterministic across fits and keep top-10 overlap ≥ 8/10 with exact
    brute-force cosine on the fixture embeddings."""
    import numpy as np

    from visual_asset_management_system_spark.operators.similarity import (
        ivf_topk,
        kmeans_centroids,
    )
    from visual_asset_management_system_spark.queries import _query_vector

    emb = tables(spark, SF)["embeddings"]
    qv = _query_vector(SF)
    # 8 lists at this tiny SF (the sf0.01 query uses 16); probe half
    cents = kmeans_centroids(emb, 8)
    assert cents.shape == (8, len(qv))
    assert np.array_equal(cents, kmeans_centroids(emb, 8))
    exact = [r["vec_id"] for r in cosine_topk(emb, qv, k=10).collect()]
    approx = [
        r["vec_id"] for r in ivf_topk(emb, qv, cents, k=10, nprobe=4).collect()
    ]
    assert len(set(exact) & set(approx)) >= 8


def test_pairwise_cosine_bucket_cap_defuses_pair_bomb(spark):
    """A duplicate-flood bucket (m near-identical embeddings → m² pairs)
    must contribute NO pairs once it exceeds max_bucket_size, while
    healthy buckets keep producing pairs — mirror of the minhash/simhash
    skew guard."""
    from visual_asset_management_system_spark.operators.similarity import (
        pairwise_cosine_within_buckets,
    )

    dim = 8
    flood = [(i, [1.0] * dim) for i in range(40)]           # one hot bucket
    pair = [(100, [-1.0] * dim), (101, [-1.0] * dim)]       # a healthy dup pair
    df = spark.createDataFrame(
        flood + pair, "vec_id long, embedding array<double>"
    )
    uncapped = pairwise_cosine_within_buckets(df, dim=dim, min_cosine=0.9)
    assert uncapped.count() == 40 * 39 // 2 + 1
    capped = pairwise_cosine_within_buckets(
        df, dim=dim, min_cosine=0.9, max_bucket_size=10
    )
    rows = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert rows == {(100, 101)}


def test_sq8_quantized_topk_matches_exact_with_rerank(spark):
    """SQ8 tier (operators/similarity.py quantize_embeddings /
    cosine_topk_quantized): (a) dequantization error is bounded by
    q_scale/2 per element; (b) the two-stage probe — int8 approximate
    ranking, exact re-rank of the top `rerank` — returns EXACTLY the
    brute-force top-10 on the fixture embeddings (final scores are
    exact by construction; with rerank far above k the true top-k
    survives the approximate cut); (c) zero stored vectors carry NULL
    q8 and rank last; a zero QUERY falls back to the exact tier's
    NULL contract; (d) stage 2's float scan carries the collected
    survivor ids as a PUSHED In filter (row-group skipping — a
    broadcast semi-join would decode every float byte and void the
    tier's I/O argument) and its final top-k is TakeOrderedAndProject
    (no global sort)."""
    from visual_asset_management_system_spark.operators.similarity import (
        cosine_topk_quantized,
        quantize_embeddings,
    )
    from visual_asset_management_system_spark.queries import _query_vector

    emb = tables(spark, SF)["embeddings"]
    qv = _query_vector(SF)
    quant = quantize_embeddings(emb)

    # (a) roundtrip bound: |q8*q_scale - x| <= q_scale/2 element-wise
    joined = quant.join(emb, "vec_id").select(
        F.max(
            F.aggregate(
                F.zip_with(
                    F.col("q8"),
                    F.transform("embedding", lambda x: x.cast("double")),
                    lambda q, x: F.abs(
                        q.cast("double") * F.col("q_scale") - x
                    ) - F.col("q_scale") / 2,
                ),
                F.lit(-1.0),
                lambda acc, v: F.greatest(acc, v),
            )
        ).alias("worst")
    ).collect()[0]
    assert joined["worst"] <= 1e-12

    # (b) equality with brute force
    exact = [(r["vec_id"], r["cosine_sim"])
             for r in cosine_topk(emb, qv, k=10).collect()]
    got_df = cosine_topk_quantized(quant, emb, qv, k=10, rerank=100)
    got = [(r["vec_id"], r["cosine_sim"]) for r in got_df.collect()]
    assert got == exact

    # (d) plan shape: the returned (stage-2) plan is the bounded
    # fetch — survivor ids pushed into the scan, heap-based top-k,
    # and NO join against the full float relation
    import re

    plan = got_df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert re.search(r"PushedFilters: \[[^\]]*In\(vec_id", plan), plan
    assert "Join" not in plan, plan

    # (c) zero vectors: NULL q8 on the stored side, exact-tier
    # fallback for a zero query
    zemb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 0.0]), (2, [0.5, 0.5])],
        "vec_id long, embedding array<double>",
    )
    zq = quantize_embeddings(zemb)
    rows = {r["vec_id"]: r for r in zq.collect()}
    assert rows[1]["q8"] is None and rows[1]["q_scale"] is None
    assert rows[0]["q8"] is not None
    got0 = cosine_topk_quantized(zq, zemb, [1.0, 0.0], k=3, rerank=3).collect()
    assert [r["vec_id"] for r in got0] == [0, 2, 1]
    assert got0[-1]["cosine_sim"] is None
    gotz = cosine_topk_quantized(zq, zemb, [0.0, 0.0], k=3).collect()
    assert [r["vec_id"] for r in gotz] == [0, 1, 2]
    assert all(r["cosine_sim"] is None for r in gotz)


def test_zero_norm_vectors_score_null_not_error(spark):
    """Spark 4's ANSI mode raises DIVIDE_BY_ZERO on a plain ``/`` the
    moment a zero-L2-norm embedding (failed encode, padding row)
    reaches a cosine path; the engine must instead score it NULL — the
    DuckDB-oracle semantics — and NULL must sort LAST so zero vectors
    never displace real neighbors from a top-k. Covers every batch
    probe path: cosine_topk (zero stored row AND zero query vector),
    knn_join (zero corpus row and zero query row), and
    pairwise/semdedup (zero vectors form no pairs, stay kept)."""
    from visual_asset_management_system_spark.operators.similarity import (
        knn_join,
        pairwise_cosine_within_buckets,
        semdedup,
    )

    dim = 4
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0, 0.0]),
        (2, [0.0, 0.0, 0.0, 0.0]),  # planted zero vector
        (3, [-1.0, 0.0, 0.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    # zero STORED row: NULL score, sorts after every real score
    got = cosine_topk(emb, [1.0, 0.0, 0.0, 0.0], k=4).collect()
    assert [r["vec_id"] for r in got] == [0, 1, 3, 2]
    assert got[-1]["cosine_sim"] is None
    assert all(r["cosine_sim"] is not None for r in got[:3])

    # zero QUERY vector: every score NULL, ties broken by id ascending
    got = cosine_topk(emb, [0.0] * dim, k=4).collect()
    assert [r["vec_id"] for r in got] == [0, 1, 2, 3]
    assert all(r["cosine_sim"] is None for r in got)

    # knn_join: zero corpus row ranks LAST for a real query; a zero
    # query row still returns k rows, all NULL-scored, id-ordered
    q = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0, 0.0]), (101, [0.0] * dim)],
        "query_id long, embedding array<double>",
    )
    by_q: dict = {}
    for r in knn_join(q, emb, k=4).collect():
        by_q.setdefault(r["query_id"], []).append(r)
    real = sorted(by_q[100], key=lambda r: r["rank"])
    assert [r["vec_id"] for r in real] == [0, 1, 3, 2]
    assert real[-1]["cosine_sim"] is None
    zeroq = sorted(by_q[101], key=lambda r: r["rank"])
    assert [r["vec_id"] for r in zeroq] == [0, 1, 2, 3]
    assert all(r["cosine_sim"] is None for r in zeroq)

    # approximate tiers: a zero QUERY vector bucket-assigns fine (all
    # hyperplane dots are 0 -> bucket 0; L2 list assignment needs no
    # division) and returns NULL-scored candidates instead of raising
    from visual_asset_management_system_spark.operators.similarity import (
        ivf_topk,
        lsh_topk,
        sample_centroids,
    )

    lsh_got = lsh_topk(emb, [0.0] * dim, k=4, n_planes=4).collect()
    assert all(r["cosine_sim"] is None for r in lsh_got)
    cents = sample_centroids(emb.filter(F.col("vec_id") != 2), 2)
    ivf_got = ivf_topk(emb, [0.0] * dim, cents, k=4, nprobe=2).collect()
    assert all(r["cosine_sim"] is None for r in ivf_got)
    assert len(ivf_got) == 4

    # pair surface: NULL >= min_cosine is NULL -> zero vectors form no
    # pairs (never near-dups), and semdedup keeps them
    many_zero = spark.createDataFrame(
        [(0, [1.0] * dim), (1, [1.0] * dim), (2, [0.0] * dim),
         (3, [0.0] * dim)],
        "vec_id long, embedding array<double>",
    )
    pairs = pairwise_cosine_within_buckets(many_zero, dim=dim, min_cosine=0.9)
    assert {(r["id_a"], r["id_b"]) for r in pairs.collect()} == {(0, 1)}
    kept = {r["vec_id"]: r["is_kept"] for r in
            semdedup(many_zero, dim=dim, min_cosine=0.9).collect()}
    assert kept == {0: True, 1: False, 2: True, 3: True}


def test_embedding_quantize_zero_vector_is_null_not_error(spark, tmp_path):
    """q_embedding_quantize's scale = max|x|/127 is 0 for a zero
    vector; before the r14 guard the code lambda's plain ``/`` raised
    DIVIDE_BY_ZERO under ANSI mode — the last unguarded realistic
    divide site in the engine (r13 closed every cosine path). The
    query must instead yield NULL scale_r6/q_sum/q_l1 for the zero
    row, mirroring the DuckDB oracle (x/0 → NULL; CASE-guarded sums)
    and `quantize_embeddings`' NULL q8/q_scale/nrm contract. Planted
    zero vector → both engines, full differential compare."""
    import duckdb

    from visual_asset_management_system_spark.queries import (
        ORACLES,
        QUERIES,
    )

    rows = [
        (0, [0.5, -1.0, 0.25, 0.0], 0),
        (1, [0.0, 0.0, 0.0, 0.0], 0),  # planted zero vector
        (2, [-0.125, 2.0, 1.5, -0.75], 1),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    sf_dir = str(tmp_path / "sf_zero")
    os.makedirs(sf_dir)
    # tables() loads the full catalog eagerly — symlink the other
    # tables from the smallest fixture and override only embeddings
    for p in os.listdir(SF):
        if p.endswith(".parquet") and p != "embeddings.parquet":
            os.symlink(os.path.join(SF, p), os.path.join(sf_dir, p))
    emb.coalesce(1).write.parquet(os.path.join(sf_dir, "embeddings.parquet"))

    got = {
        r["vec_id"]: (r["scale_r6"], r["q_sum"], r["q_l1"])
        for r in QUERIES["q_embedding_quantize"](spark, sf_dir).collect()
    }
    assert got[1] == (None, None, None)  # the zero row: NULL as a unit
    assert got[0][0] is not None and got[0][1] is not None
    assert got[2][0] is not None and got[2][2] is not None

    con = duckdb.connect()
    con.sql(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"'{os.path.join(sf_dir, 'embeddings.parquet')}/*.parquet'"
    )
    duck = {
        r[0]: (
            float(r[1]) if r[1] is not None else None,
            r[2],
            r[3],
        )
        for r in con.sql(ORACLES["q_embedding_quantize"]).fetchall()
    }
    assert set(duck) == set(got)
    for vid in got:
        s_scale, s_sum, s_l1 = got[vid]
        d_scale, d_sum, d_l1 = duck[vid]
        if s_scale is None:
            assert d_scale is None
        else:
            assert abs(s_scale - d_scale) < 1e-12
        assert s_sum == d_sum and s_l1 == d_l1


def test_lsh_ann_bucketed_probe_is_partition_pruned(spark, tmp_path):
    """The materialized-bucket ANN path must prune the scan to the probed
    partition directories (PartitionFilters on `bucket`) — never a full
    corpus scan — and return the same result as the on-the-fly path."""
    from visual_asset_management_system_spark.operators.similarity import (
        write_bucketed_embeddings,
    )
    from visual_asset_management_system_spark.queries import _query_vector

    emb = tables(spark, SF)["embeddings"]
    qv = _query_vector(SF)
    out = str(tmp_path / "bucketed")
    write_bucketed_embeddings(emb, out, dim=len(qv))
    bucketed = spark.read.parquet(out)

    pruned = lsh_topk(bucketed, qv, k=10, bucket_col="bucket")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    # the partition filter must actually constrain `bucket`
    pf = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "bucket" in pf and pf.strip() != ""

    on_the_fly = lsh_topk(emb, qv, k=10)
    assert [tuple(r) for r in pruned.collect()] == [
        tuple(r) for r in on_the_fly.collect()
    ]


# -- scalar functions -------------------------------------------------------

def test_sanitize_field_name():
    assert sanitize_field_name("My Field!") == "my_field"
    assert sanitize_field_name("_private") == "private"
    assert sanitize_field_name("9lives") == "field_9lives"
    assert sanitize_field_name("") == "field_"
    assert len(sanitize_field_name("x" * 400)) == 255


def test_coercions_and_path_ops(spark):
    df = spark.createDataFrame(
        [("TRUE", "42", "/a/b/model.GLB"), ("no", "3.5", "/a/dir/")],
        "b string, n string, k string",
    )
    rows = df.select(
        coerce_boolean(F.col("b")).alias("b"),
        coerce_number(F.col("n")).alias("n"),
        file_extension(F.col("k")).alias("ext"),
        is_folder(F.col("k")).alias("folder"),
    ).collect()
    assert rows[0]["b"] is True and rows[0]["n"] == 42.0
    assert rows[0]["ext"] == "glb" and rows[0]["folder"] is False
    assert rows[1]["b"] is False and rows[1]["n"] == 3.5
    assert rows[1]["folder"] is True


def test_url_decode_malformed_key_does_not_abort(spark):
    """One malformed percent-escape in an S3 key must not abort the
    whole query (the reference's unquote_plus leaves bad escapes
    untouched; plain F.url_decode raises CANNOT_DECODE_URL)."""
    from visual_asset_management_system_spark.functions.normalize import (
        url_decode_key,
    )

    df = spark.createDataFrame(
        [("a+b%20c",), ("x%zz",), ("ok%2Bplus",)], "k string"
    )
    got = [r["d"] for r in df.select(url_decode_key(F.col("k")).alias("d")).collect()]
    assert got == ["a b c", "x%zz", "ok+plus"]


# -- workflow runner --------------------------------------------------------

def test_type_valid_all_13_types(spark):
    """Direct check of the full MetadataValueType validator — one valid
    and one invalid value per type (models/metadata.py:74-221), beyond
    what the fixture-driven oracle query exercises."""
    from visual_asset_management_system_spark.operators.eav import type_valid

    cases = [
        ("string", "anything at all", True),
        ("multiline_string", "line1\nline2", True),
        ("inline_controlled_list", "interior", True),
        ("number", "3.14", True), ("number", "abc", False),
        ("boolean", "false", True), ("boolean", "yes", False),
        ("date", "2024-03-01", True), ("date", "2024-13-45", False),
        ("json", '{"a": [1]}', True), ("json", "{bad", False),
        ("xyz", '{"x":0,"y":0,"z":0}', True),
        ("xyz", '{"x":0,"y":0}', False),
        ("wxyz", '{"w":1,"x":0,"y":0,"z":0}', True),
        ("wxyz", '{"x":0,"y":0,"z":0}', False),
        ("matrix4x4", "[[1,0,0,0],[0,1,0,0],[0,0,1,0],[0,0,0,1]]", True),
        ("matrix4x4", "[[1,0,0,0],[0,1,0,0],[0,0,1,0]]", False),
        ("geopoint", '{"type":"Point","coordinates":[1.0,2.0]}', True),
        ("geopoint", '{"type":"Point","coordinates":[1.0]}', False),
        ("geojson", '{"type":"Polygon","coordinates":[]}', True),
        ("geojson", '{"kind":"Polygon"}', False),
        ("lla", '{"lat":-90,"long":180,"alt":-10}', True),
        ("lla", '{"lat":-91,"long":0,"alt":0}', False),
        # empty values always pass (required-ness is schema's job)
        ("number", "", True),
        # unknown declared type never validates
        ("mystery_type", "x", False),
    ]
    df = spark.createDataFrame(
        [(t, v) for t, v, _ in cases], "value_type string, value string"
    )
    got = df.select(
        "value_type", "value",
        type_valid(F.col("value"), F.col("value_type")).alias("ok"),
    ).collect()
    by_key = {(r["value_type"], r["value"]): r["ok"] for r in got}
    for t, v, expected in cases:
        assert by_key[(t, v)] is expected, (t, v, expected)


def test_workflow_composition_and_retry(spark):
    df = spark.range(10)
    attempts = {"n": 0}

    def flaky(d, ctx):
        attempts["n"] += 1
        if attempts["n"] < 2:
            raise RuntimeError("transient")
        return d.withColumn("doubled", F.col("id") * 2)

    wf = Workflow(
        "test",
        [
            Pipeline("filter", lambda d, c: d.filter(F.col("id") < 5)),
            Pipeline("flaky_double", flaky, max_retries=2),
        ],
    )
    out = wf.run(df)
    assert out.count() == 5
    ex = wf.executions[-1]
    assert ex.status == "SUCCEEDED"
    assert ex.stages[1]["attempts"] == 2


def test_workflow_failure_surfaces(spark):
    wf = Workflow(
        "fail",
        [Pipeline("boom", lambda d, c: (_ for _ in ()).throw(RuntimeError("x")), max_retries=0)],
    )
    with pytest.raises(RuntimeError):
        wf.run(spark.range(1))
    assert wf.executions[-1].status == "FAILED"


# -- keyset pagination ------------------------------------------------------

def test_keyset_pagination_walks_whole_table(spark):
    orders = tables(spark, SF)["orders"]
    seen = []
    token = None
    for _ in range(100):
        rows, token = keyset_page(
            orders.select("o_orderkey"), ["o_orderkey"], page_size=400, token=token
        )
        seen.extend(r["o_orderkey"] for r in rows)
        if token is None:
            break
    assert len(seen) == orders.count()
    assert seen == sorted(seen)


def test_pack_sequences_boundary_semantics(spark):
    """Docs straddling a cut report the right span count; offsets chain
    (next doc's offset = (prev cum) % seq_len)."""
    from visual_asset_management_system_spark.operators.corpus import (
        pack_sequences,
    )

    docs = spark.createDataFrame(
        [
            (0, ""),                      # zero tokens, FIRST in bucket
            (1, " ".join(["w"] * 100)),   # cum 100
            (2, " ".join(["w"] * 100)),   # cum 200 — straddles the 128 cut
            (3, " ".join(["w"] * 300)),   # cum 500 — spans 3 sequences
            (4, "one"),                   # cum 501
            (5, None),                    # NULL text, mid-stream
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in pack_sequences(
            docs, seq_len=128, n_buckets=1, bucket_col=F.lit(0)
        ).collect()
    }
    # zero-token docs span exactly the one sequence they sit in — the
    # naive (cum-1)/L form floors to -1 at cum=0 in Spark but truncates
    # to 0 in SQL; the n_eff form keeps every numerator non-negative
    assert (out[0]["seq_id"], out[0]["offset"], out[0]["n_seqs"]) == (0, 0, 1)
    assert (out[1]["seq_id"], out[1]["offset"], out[1]["n_seqs"]) == (0, 0, 1)
    assert (out[2]["seq_id"], out[2]["offset"], out[2]["n_seqs"]) == (0, 100, 2)
    assert (out[3]["seq_id"], out[3]["offset"], out[3]["n_seqs"]) == (1, 72, 3)
    assert (out[4]["seq_id"], out[4]["offset"], out[4]["n_seqs"]) == (3, 116, 1)
    assert (out[5]["seq_id"], out[5]["offset"], out[5]["n_seqs"]) == (3, 117, 1)


def test_contamination_broadcasts_benchmark(spark):
    """The benchmark n-gram dictionary must broadcast (no shuffle of the
    corpus onto the ngram key) and flag only genuinely overlapping docs."""
    from visual_asset_management_system_spark.operators.corpus import (
        contamination,
    )

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog today")],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [
            (1, "prefix words the quick brown fox jumps over the lazy dog today suffix"),
            (2, "completely unrelated text with no overlapping spans at all here now"),
        ],
        "doc_id long, text string",
    )
    result = contamination(train, bench, n=8, min_overlap=1)
    plan = result._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    assert {r["doc_id"] for r in result.collect()} == {1}


def test_repeated_ngrams_caps_doc_list(spark):
    """A span shared by more docs than the cap reports the true n_docs
    but a truncated, sorted doc list."""
    from visual_asset_management_system_spark.operators.corpus import (
        repeated_ngrams,
    )

    span = "a b c d e f g h i j"
    docs = spark.createDataFrame(
        [(i, f"{span} tail{i}") for i in range(30)],
        "doc_id long, text string",
    )
    rows = repeated_ngrams(docs, n=10, min_docs=2, max_docs_listed=5).collect()
    by_gram = {r["ngram"]: r for r in rows}
    assert by_gram[span]["n_docs"] == 30
    assert by_gram[span]["doc_ids"] == [0, 1, 2, 3, 4]


def test_pii_redaction_masks_all_patterns(spark):
    from visual_asset_management_system_spark.operators.pii import scan_corpus

    docs = spark.createDataFrame(
        [
            (1, "mail a.b%c@ex-ample.co.uk or 212-555-1234 ssn 078-05-1120 at 192.168.0.1"),
            (2, "clean text with plain numbers 12345 and version 1.2 only"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in scan_corpus(docs).collect()}
    r1 = out[1]
    assert (r1["n_email"], r1["n_ssn"], r1["n_phone"], r1["n_ipv4"]) == (1, 1, 1, 1)
    assert r1["redacted"] == "mail [EMAIL] or [PHONE] ssn [SSN] at [IPV4]"
    r2 = out[2]
    assert (r2["n_email"], r2["n_ssn"], r2["n_phone"], r2["n_ipv4"]) == (0, 0, 0, 0)
    assert r2["redacted"] == "clean text with plain numbers 12345 and version 1.2 only"


def test_minhash_index_update_equals_from_scratch(spark, tmp_path):
    """Incremental maintenance invariant: feeding the corpus in batches
    through minhash_index_update emits exactly the pair set a
    from-scratch minhash_dedup computes over the union — each pair
    once, when its later doc arrives."""
    from visual_asset_management_system_spark.operators.dedup import (
        minhash_index_update,
    )

    docs = tables(spark, SF)["documents"].select("doc_id", "text")
    toks = F.split(F.trim("text"), r"\s+")
    mutated = docs.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat_ws(
            " ", F.slice(toks, 1, F.greatest(F.size(toks) - 5, F.lit(1)))
        ).alias("text"),
    )
    corpus = docs.unionByName(mutated).localCheckpoint(eager=True)

    want = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in minhash_dedup(corpus, threshold=0.4).collect()
    }

    store = str(tmp_path / "sig_store")
    got: set = set()
    b1 = corpus.filter(F.col("doc_id") % 3 == 0)
    b2 = corpus.filter(F.col("doc_id") % 3 == 1)
    b3 = corpus.filter(F.col("doc_id") % 3 == 2)
    for batch in (b1, b2, b3):
        rows = minhash_index_update(
            spark, store, batch, threshold=0.4
        ).collect()
        new = {(r["id_a"], r["id_b"], r["jaccard"]) for r in rows}
        assert not (new & got), "a pair was emitted twice"
        got |= new
    assert got == want


def _minhash_probe_three_join_form(
    spark, store_dir, sig_new, threshold, exclude_batch, num_hashes=64, bands=16
):
    """The probe verification the fused band-join check replaced:
    distinct candidates from the band join, then two joins back to the
    whole signature relation (``sig_a``/``sig_b``) to estimate Jaccard.
    ``store_dir=None`` is a probe with no store yet."""
    from visual_asset_management_system_spark.operators.dedup import _banded

    sig_all = sig_new
    if store_dir is not None:
        id_type = sig_new.schema["id"].dataType.simpleString()
        stored = spark.read.schema(
            f"id {id_type}, sig array<bigint>, batch_key string"
        ).parquet(store_dir)
        stored = stored.filter(
            F.col("batch_key").isNull() | (F.col("batch_key") != exclude_batch)
        )
        sig_all = stored.select("id", "sig").unionByName(sig_new)
    rows_per_band = num_hashes // bands
    banded_new = _banded(sig_new, bands, rows_per_band)
    banded_all = _banded(sig_all, bands, rows_per_band)
    cands = (
        F.broadcast(banded_new).alias("l")
        .join(
            banded_all.alias("r"),
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col("l.id") != F.col("r.id")),
        )
        .select(
            F.least("l.id", "r.id").alias("id_a"),
            F.greatest("l.id", "r.id").alias("id_b"),
        )
        .distinct()
    )
    sig_a = sig_all.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
    sig_b = sig_all.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
    matches = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return (
        cands.join(sig_a, "id_a")
        .join(sig_b, "id_b")
        .withColumn("jaccard", F.round(matches / F.lit(num_hashes), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def test_minhash_probe_fused_equals_three_join_form(spark, tmp_path):
    """The probe that verifies candidates on the band-join rows returns,
    after ``distinct``, the (id_a, id_b, jaccard) set of the three-join
    form it replaced: with store rows duplicated by a replayed append,
    a store written before ``batch_key`` existed, a pair sharing all 16
    bands, a pair sharing a band below the threshold, a new-new pair,
    and docs of fewer than 3 tokens (no shingles, no signature)."""
    from visual_asset_management_system_spark.operators.dedup import (
        _append_signatures,
        _minhash_probe,
        minhash_signatures,
    )

    base = " ".join(f"w{i}" for i in range(40))
    other = " ".join(f"v{i}" for i in range(40))
    # base's first 36 words: shares 4 bands with it but estimates
    # 0.75, under the 0.8 threshold
    part = " ".join(f"w{i}" for i in range(36)) + " u0 u1 u2 u3"
    store_rows = [(1, base), (2, other), (3, "too short"), (4, "x")]
    schema = "doc_id long, text string"
    sig_store = minhash_signatures(spark.createDataFrame(store_rows, schema))

    keyed = str(tmp_path / "keyed")
    _append_signatures(sig_store, keyed, "b0")
    _append_signatures(sig_store, keyed, "b0")  # a replayed append
    legacy = str(tmp_path / "legacy")  # predates the batch_key column
    sig_store.write.parquet(legacy)

    batch = spark.createDataFrame(
        [
            (10, base),                      # all 16 bands with doc 1
            (11, part),                      # a band with 1, below 0.8
            (12, other + " v40"),            # near doc 2
            (13, other + " v40 v41"),        # new-new pair with 12
            (14, "a b"),                     # fewer than 3 tokens
        ],
        schema,
    )

    def rows(df):
        return {(r["id_a"], r["id_b"], r["jaccard"]) for r in df.collect()}

    for store in (keyed, legacy, None):
        for threshold in (0.0, 0.8):
            fused, sig_new = _minhash_probe(
                spark,
                store if store is not None else str(tmp_path / "empty"),
                batch,
                threshold=threshold,
                exclude_batch="b1",
            )
            got = rows(fused.distinct())
            want = rows(
                _minhash_probe_three_join_form(
                    spark, store, sig_new, threshold, exclude_batch="b1"
                )
            )
            assert got == want, (store, threshold)
            ids = {(a, b) for a, b, _ in got}
            assert (12, 13) in ids
            assert not any(14 in p or 3 in p or 4 in p for p in ids)
            if store is not None:
                assert (1, 10, 1.0) in got
                assert ((1, 11) in ids) == (threshold == 0.0)
    # raw matches repeat once per shared band (and per replayed row)
    raw, _ = _minhash_probe(spark, keyed, batch, threshold=0.8, exclude_batch="b1")
    assert raw.filter("id_a = 1 AND id_b = 10").count() == 2 * 16


def _rejects_two_left_join_form(pairs, batch, id_col):
    """The reject marking the one-membership-test rule replaced: two
    left joins tag each pair side as in-batch, the later / store-facing
    batch side loses, NULLs dropped, distinct."""
    in_batch = batch.select(F.col(id_col).alias("_bid")).withColumn(
        "_in_batch", F.lit(True)
    )
    marked = pairs.join(
        in_batch.select(F.col("_bid").alias("id_a"), F.col("_in_batch").alias("_a_in")),
        "id_a",
        "left",
    ).join(
        in_batch.select(F.col("_bid").alias("id_b"), F.col("_in_batch").alias("_b_in")),
        "id_b",
        "left",
    )
    return (
        marked.select(
            F.when(F.col("_b_in").isNotNull(), F.col("id_b"))
            .when(F.col("_a_in").isNotNull(), F.col("id_a"))
            .alias(id_col)
        )
        .filter(F.col(id_col).isNotNull())
        .distinct()
    )


def test_near_dup_rejects_equal_two_left_join_form(spark):
    """One broadcast membership test on id_b picks the same losers as
    the two-left-join form for every pair with a batch-side doc: a
    store id equal to a batch id, duplicate ids within the batch, and
    an empty pair set."""
    from visual_asset_management_system_spark.operators.corpus import (
        _near_dup_rejects,
    )

    batch = spark.createDataFrame(
        [(5, "a"), (7, "b"), (9, "c"), (9, "c2"), (20, "d")],
        "doc_id long, text string",
    )
    pair_schema = "id_a long, id_b long, jaccard double"
    pairs = spark.createDataFrame(
        [
            (3, 5, 0.9),    # store partner, lower id: 5 loses
            (5, 12, 0.9),   # store partner, higher id: 5 loses
            (5, 7, 0.9),    # within the batch: 7 loses
            (5, 7, 0.9),    # repeated raw match
            (7, 12, 0.6),   # 7 is also a store id
            (3, 7, 0.7),    # store 3 vs batch 7
            (9, 30, 0.8),   # duplicate batch id 9 vs store 30
            (1, 9, 0.8),    # store 1 vs duplicate batch id 9
        ],
        pair_schema,
    )
    empty = spark.createDataFrame([], pair_schema)

    def ids(df):
        return sorted({r["doc_id"] for r in df.collect()})

    for p in (pairs, empty):
        got = _near_dup_rejects(p, batch, "doc_id")
        want = _rejects_two_left_join_form(p, batch, "doc_id")
        assert ids(got) == ids(want)
        accepted = batch.join(F.broadcast(got), "doc_id", "left_anti")
        assert sorted(r["doc_id"] for r in accepted.collect()) == sorted(
            r["doc_id"] for r in batch.join(want, "doc_id", "left_anti").collect()
        )
    assert ids(_near_dup_rejects(pairs, batch, "doc_id")) == [5, 7, 9]
    assert ids(_near_dup_rejects(empty, batch, "doc_id")) == []


def test_exact_duplicate_groups_bounded_mode(spark):
    """The capped mode must agree with the audit mode on dup_count and
    on the lowest-cap member ids."""
    from visual_asset_management_system_spark.operators.dedup import (
        exact_duplicate_groups,
    )

    docs = spark.createDataFrame(
        [(i, "flood text") for i in range(50)]
        + [(100 + i, f"unique {i}") for i in range(5)]
        + [(200, "pair"), (201, "pair")],
        "doc_id long, text string",
    )
    full = {r["fp"]: r for r in exact_duplicate_groups(docs).collect()}
    capped = {
        r["fp"]: r
        for r in exact_duplicate_groups(docs, max_ids_listed=10).collect()
    }
    assert set(full) == set(capped)
    for fp, r in full.items():
        c = capped[fp]
        assert c["dup_count"] == r["dup_count"]
        assert c["doc_ids"] == r["doc_ids"][:10]


def test_zorder_clustering_confines_box_queries(spark):
    """After cluster_by_zorder on (o_totalprice, o_custkey), a 2-D box
    predicate's matching rows concentrate in a small fraction of
    partitions (each partition owns a bounding box on the Morton
    curve); under the scan's native layout the same rows spread across
    essentially all partitions. This is the file-skipping mechanism:
    min/max stats per partition + tight boxes => pruned scan."""
    from pyspark.sql import functions as F

    from visual_asset_management_system_spark.operators.layout import (
        cluster_by_zorder,
    )
    from visual_asset_management_system_spark.queries import tables

    orders = tables(spark, "/root/testdata/sf0.01")["orders"]
    # box: one-eighth slices of both dimensions (quantile-aligned so it
    # maps to an aligned cell block of the 4-bit grid)
    tp = orders.approxQuantile("o_totalprice", [0.25, 0.375], 0.001)
    ck = orders.approxQuantile("o_custkey", [0.5, 0.625], 0.001)
    box = (
        (F.col("o_totalprice") >= tp[0])
        & (F.col("o_totalprice") < tp[1])
        & (F.col("o_custkey") >= ck[0])
        & (F.col("o_custkey") < ck[1])
    )

    def touched(df):
        return (
            df.withColumn("pid", F.spark_partition_id())
            .filter(box)
            .select("pid")
            .distinct()
            .count()
        )

    n_parts = 32
    baseline = touched(orders.repartition(n_parts))  # hash layout
    clustered = cluster_by_zorder(
        orders, ["o_totalprice", "o_custkey"], bits=4, num_partitions=n_parts
    )
    zordered = touched(clustered)
    assert baseline >= 0.75 * n_parts, f"box not selective? touched {baseline}"
    assert zordered <= 8, f"z-order touched {zordered}/{n_parts} partitions"


def test_aqe_splits_planted_skew_join(spark):
    """The session's AQE skew-join config is load-bearing at scale —
    verify it actually fires: a join where one key owns ~all rows on
    both sides plans as a SortMergeJoin whose hot partition AQE splits
    at runtime (the executed plan's AQEShuffleRead reports skewed
    partition splits). Thresholds are lowered to make the 50k-row
    planted skew cross the (byte-sized) production cutoffs."""
    from pyspark.sql import functions as F

    conf = spark.conf
    saved = {
        k: conf.get(k)
        for k in (
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "32KB",
        )
        conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ
        left = spark.range(50_000).select(
            F.when(F.col("id") % 100 < 99, 0).otherwise(F.col("id")).alias("k"),
            F.col("id").alias("lv"),
        )
        right = spark.range(2_000).select(
            F.col("id").alias("k"), F.col("id").alias("rv")
        )
        joined = left.join(right, "k")
        # act on THIS DataFrame (count() would build a separate query
        # execution and never finalize this one's adaptive plan)
        joined.collect()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skewed" in plan, f"AQE skew split absent:\n{plan[:2000]}"
    finally:
        for k, v in saved.items():
            conf.set(k, v)


def test_dynamic_partition_pruning_prunes_fact_scan(spark, tmp_path):
    """Dynamic partition pruning: a fact table PARTITIONED on the join
    key scans only the partitions the (filtered, broadcast) dimension
    side actually selects — the runtime analog of static partition
    pruning, and the mechanism that keeps star joins from reading 100 TB
    of fact for a one-category dimension filter. Asserted on the plan:
    the fact scan's PartitionFilters carries a dynamicpruning
    expression."""
    from pyspark.sql import functions as F

    from visual_asset_management_system_spark.queries import tables

    events = tables(spark, "/root/testdata/sf0.001")["events"]
    fact_dir = str(tmp_path / "events_by_type")
    events.write.partitionBy("event_type").parquet(fact_dir)
    fact = spark.read.parquet(fact_dir)
    dim = spark.createDataFrame(
        [("click", "web"), ("view", "web"), ("purchase", "commerce"),
         ("signup", "growth"), ("error", "ops")],
        "event_type string, category string",
    )
    joined = fact.join(
        F.broadcast(dim.filter(F.col("category") == "commerce")), "event_type"
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), (
        f"no dynamic pruning on the fact scan:\n{plan[:1500]}"
    )
    # and the pruned read returns exactly the selected partition's rows
    n_purchase = events.filter(F.col("event_type") == "purchase").count()
    assert joined.count() == n_purchase


def test_phrase_match_positional_chain(spark):
    """Phrase adjacency over positional postings: multi-term chains,
    boundary positions, overlapping occurrences, and absent phrases."""
    from visual_asset_management_system_spark.operators.inverted_index import (
        phrase_match,
        positional_postings,
    )

    docs = spark.createDataFrame(
        [
            (1, "hash join beats nested loop hash join"),  # 2 occurrences
            (2, "hash and join but never adjacent"),       # terms, no phrase
            (3, "a hash join"),                            # at end
            (4, "hash join!"),                             # punctuation break
            (5, "a a a a"),                                # overlap probe
            (6, "no relevant terms here"),
        ],
        "doc_id bigint, text string",
    )
    postings = positional_postings(docs, "doc_id", "text")

    two = {
        r["doc_id"]: r["n_occurrences"]
        for r in phrase_match(postings, ["hash", "join"]).collect()
    }
    assert two == {1: 2, 3: 1, 4: 1}

    # 3-term chain exercises the shifted-intersect loop beyond 1 step
    three = {
        r["doc_id"]: r["n_occurrences"]
        for r in phrase_match(
            postings, ["nested", "loop", "hash"]
        ).collect()
    }
    assert three == {1: 1}

    # overlapping matches each count: "a a a a" contains "a a" 3 times
    overlap = {
        r["doc_id"]: r["n_occurrences"]
        for r in phrase_match(postings, ["a", "a"]).collect()
    }
    assert overlap == {5: 3}

    # absent phrase -> empty result, not an error
    assert phrase_match(postings, ["zz", "qq"]).count() == 0


def test_phrase_match_randomized_against_bruteforce(spark):
    """Randomized differential: phrase occurrence counts from the
    positional-postings chain must equal a direct subsequence count on
    the token lists, across random corpora and random phrase lengths."""
    import random

    from visual_asset_management_system_spark.operators.inverted_index import (
        phrase_match,
        positional_postings,
    )

    rng = random.Random(20260814)
    vocab = ["a", "b", "c", "d"]
    corpus = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 40))))
        for i in range(40)
    ]
    docs = spark.createDataFrame(corpus, "doc_id bigint, text string")
    postings = positional_postings(docs, "doc_id", "text").localCheckpoint(
        eager=True
    )

    def brute(terms):
        out = {}
        for doc_id, text in corpus:
            toks = text.split()
            n = sum(
                1
                for i in range(len(toks) - len(terms) + 1)
                if toks[i : i + len(terms)] == terms
            )
            if n:
                out[doc_id] = n
        return out

    for _ in range(8):
        k = rng.randint(1, 4)
        phrase = [rng.choice(vocab) for _ in range(k)]
        got = {
            r["doc_id"]: r["n_occurrences"]
            for r in phrase_match(postings, phrase).collect()
        }
        assert got == brute(phrase), f"phrase={phrase}"


def test_positional_postings_per_doc_replacement(spark):
    """The positional index is CDC-maintainable per entity: replacing
    one doc's postings rows (delete-by-key + insert) equals a
    from-scratch rebuild, and phrase results agree — the same
    partial-rewrite merge contract as the search tables and the BM25
    postings."""
    from visual_asset_management_system_spark.operators.inverted_index import (
        phrase_match,
        positional_postings,
    )

    v1 = spark.createDataFrame(
        [(1, "hash join wins"), (2, "sort merge join"), (3, "scan only")],
        "doc_id bigint, text string",
    )
    v2_rows = [(1, "hash join wins"), (2, "hash join again"), (3, "scan only")]
    v2 = spark.createDataFrame(v2_rows, "doc_id bigint, text string")
    changed = spark.createDataFrame([v2_rows[1]], "doc_id bigint, text string")

    base = positional_postings(v1)
    incremental = base.filter(F.col("doc_id") != 2).unionByName(
        positional_postings(changed)
    )
    rebuild = positional_postings(v2)

    def rows(df):
        return {
            (r["doc_id"], r["term"], tuple(r["positions"]))
            for r in df.collect()
        }

    assert rows(incremental) == rows(rebuild)
    got = {
        r["doc_id"]: r["n_occurrences"]
        for r in phrase_match(incremental, ["hash", "join"]).collect()
    }
    assert got == {1: 1, 2: 1}


def test_gopher_signals_edge_cases(spark):
    from visual_asset_management_system_spark.operators.text import (
        gopher_repetition_signals,
    )

    df = spark.createDataFrame(
        [
            (1, ""),                       # empty doc: all zeros, no div-0
            (2, "only line"),              # single line: nothing dupes
            (3, "a\na\nb"),                # 1 of 3 lines is a duplicate
            (4, "- x\n- y\nwait...\nz"),   # bullets + ellipsis
        ],
        "doc_id long, text string",
    )
    sig = gopher_repetition_signals(F.col("text"))
    rows = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id", *[c.alias(k) for k, c in sig.items()]
        ).collect()
    }
    assert rows[1]["dup_line_frac"] == 0.0
    assert rows[1]["dup_line_char_frac"] == 0.0
    assert rows[2]["dup_line_frac"] == 0.0
    assert rows[3]["dup_line_frac"] == pytest.approx(1 / 3, abs=1e-6)
    # both 'a' instances count toward the duplicated character mass
    assert rows[3]["dup_line_char_frac"] == pytest.approx(2 / 3, abs=1e-6)
    assert rows[4]["bullet_line_frac"] == pytest.approx(0.5, abs=1e-6)
    assert rows[4]["ellipsis_line_frac"] == pytest.approx(0.25, abs=1e-6)


def test_dedup_lines_rewrites_and_bounds(spark):
    from visual_asset_management_system_spark.operators.corpus import dedup_lines

    df = spark.createDataFrame(
        [
            (1, "keep me\nCOOKIE BANNER\nunique one"),
            (2, "COOKIE BANNER\nother text"),
            (3, "COOKIE BANNER"),  # fully boilerplate -> empty doc
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in dedup_lines(df).collect()}
    assert out[1]["text"] == "keep me\nunique one" and out[1]["n_removed"] == 1
    assert out[2]["text"] == "other text" and out[2]["n_removed"] == 1
    assert out[3]["text"] == "" and out[3]["n_removed"] == 1
    # line order is preserved, not sorted
    df2 = spark.createDataFrame(
        [(1, "zz\nSHARED\naa"), (2, "SHARED")], "doc_id long, text string"
    )
    assert (
        dedup_lines(df2).filter(F.col("doc_id") == 1).first()["text"]
        == "zz\naa"
    )


def test_gopher_and_line_dedup_randomized_invariants(spark):
    """Randomized cross-check of the round-6 line operators against a
    pure-Python model of the declared semantics (trim lines, drop
    empties), over inputs the fixture never produces: empty docs,
    whitespace-only lines, unicode ellipsis, heavy duplication."""
    import random

    from visual_asset_management_system_spark.operators.corpus import dedup_lines
    from visual_asset_management_system_spark.operators.text import (
        gopher_repetition_signals,
    )

    rng = random.Random(42)
    vocab = ["a", "bb", "ccc", "- bullet", "wait…", "done...", "  ", ""]
    docs = []
    for i in range(300):
        lines = [
            " ".join(rng.choices(vocab, k=rng.randint(0, 3)))
            for _ in range(rng.randint(0, 10))
        ]
        docs.append((i, "\n".join(lines)))
    df = spark.createDataFrame(docs, "doc_id long, text string")

    def model_lines(text):
        return [s.strip() for s in text.split("\n") if s.strip() != ""]

    sig = gopher_repetition_signals(F.col("text"))
    rows = df.select(
        "doc_id", *[c.alias(k) for k, c in sig.items()]
    ).collect()
    by_id = dict(docs)
    for r in rows:
        ls = model_lines(by_id[r["doc_id"]])
        n = max(len(ls), 1)
        for k in (
            "dup_line_frac",
            "dup_line_char_frac",
            "ellipsis_line_frac",
            "bullet_line_frac",
        ):
            assert 0.0 <= r[k] <= 1.0, (r["doc_id"], k, r[k])
        expect_dup = round((len(ls) - len(set(ls))) / n, 6)
        assert r["dup_line_frac"] == pytest.approx(expect_dup, abs=1e-9)
        assert (r["dup_line_frac"] == 0.0) == (r["dup_line_char_frac"] == 0.0)
        expect_ell = round(
            sum(1 for l in ls if l.endswith("...") or l.endswith("…")) / n, 6
        )
        assert r["ellipsis_line_frac"] == pytest.approx(expect_ell, abs=1e-9)

    # dedup_lines against the model: boilerplate = lines in >=2 docs
    from collections import Counter

    line_docs = Counter()
    for i, text in docs:
        for l in set(model_lines(text)):
            line_docs[l] += 1
    boiler = {l for l, c in line_docs.items() if c >= 2}
    out = {r["doc_id"]: r for r in dedup_lines(df).collect()}
    # EVERY input doc yields exactly one output row — a doc whose text
    # has no non-empty lines comes back as ('', 0) instead of silently
    # vanishing from the corpus (round-6 ADVICE)
    assert set(out) == {i for i, _ in docs}
    for i, text in docs:
        ls = model_lines(text)
        if not ls:
            assert out[i]["text"] == "" and out[i]["n_removed"] == 0
            continue
        kept = [l for l in ls if l not in boiler]
        assert out[i]["text"] == "\n".join(kept)
        assert out[i]["n_removed"] == len(ls) - len(kept)


def test_snapshot_diff_invariants(spark):
    from visual_asset_management_system_spark.operators.versions import (
        snapshot_diff,
    )

    # small synthetic version history: asset A versioned twice, B once,
    # C appears only after t1
    rows = [
        ("db", "A", "v1", "1996-01-01", 1),
        ("db", "A", "v2", "1996-12-01", 1),
        ("db", "B", "v1", "1996-02-01", 1),
        ("db", "C", "v1", "1996-10-01", 1),
    ]
    vdf = spark.createDataFrame(
        rows,
        "database_id string, asset_id string, asset_version_id string,"
        " date_created string, file_count int",
    ).withColumn("date_created", F.col("date_created").cast("timestamp"))

    d = {
        r["asset_id"]: r["status"]
        for r in snapshot_diff(vdf, "1996-06-30", "1997-06-30").collect()
    }
    assert d == {"A": "changed", "B": "unchanged", "C": "added"}
    # reflexivity: identical snapshots diff to all-unchanged
    same = snapshot_diff(vdf, "1997-06-30", "1997-06-30")
    assert {r["status"] for r in same.collect()} == {"unchanged"}
    # reversal: added flips to removed
    rev = {
        r["asset_id"]: r["status"]
        for r in snapshot_diff(vdf, "1997-06-30", "1996-06-30").collect()
    }
    assert rev["C"] == "removed" and rev["A"] == "changed"


def test_twa_randomized_against_model(spark):
    import random

    from visual_asset_management_system_spark.queries import QUERIES

    rng = random.Random(7)
    rows = []
    for uid in range(20):
        t = 0
        for i in range(rng.randint(1, 12)):
            t += rng.randint(0, 3) * 1_000_000  # µs steps incl. duplicates
            rows.append((uid, i, float(rng.randint(-5, 50)), t))
    model = {}
    for uid in range(20):
        evs = sorted(
            [r for r in rows if r[0] == uid], key=lambda r: (r[3], r[1])
        )
        num = den = 0.0
        for (u, i, v, t), (_, _, _, t2) in zip(evs, evs[1:]):
            if t2 > t:
                num += v * (t2 - t)
                den += t2 - t
        if den:
            import math

            model[uid] = math.floor((num / den) * 1e6 + 0.5) / 1e6

    from pyspark.sql import Window

    e = spark.createDataFrame(
        rows, "user_id long, event_id long, value double, ts_us long"
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    seg = e.select(
        "user_id",
        "value",
        (F.lead("ts_us").over(w) - F.col("ts_us")).alias("dt"),
    ).filter(F.col("dt").isNotNull() & (F.col("dt") > 0))
    twa = F.floor(
        (
            F.sum((F.col("value") * F.col("dt")).cast("decimal(38,10)")).cast("double")
            / F.sum(F.col("dt").cast("decimal(38,10)")).cast("double")
        )
        * 1000000
        + 0.5
    ) / 1000000
    got = {
        r["user_id"]: r["t"]
        for r in seg.groupBy("user_id").agg(twa.alias("t")).collect()
    }
    assert set(got) == set(model)
    for uid, v in model.items():
        assert got[uid] == pytest.approx(v, abs=2e-6), uid


def test_bpe_learn_invariants(spark):
    from visual_asset_management_system_spark.operators.text import bpe_learn

    words = spark.createDataFrame(
        [("low", 5), ("lower", 2), ("newest", 6), ("widest", 3), ("a", 1)],
        "word string, freq long",
    )
    rows = bpe_learn(words, 4).orderBy("step").collect()
    assert [r["step"] for r in rows] == [1, 2, 3, 4]
    # textbook Sennrich example head: es -> est dominate
    assert (rows[0]["left"], rows[0]["right"]) == ("e", "s")
    assert rows[1]["merged"] == "est"
    for r in rows:
        assert r["merged"] == r["left"] + r["right"]
    # a merge can only create pairs bounded by its own count, so the
    # argmax sequence is non-increasing
    counts = [r["pair_count"] for r in rows]
    assert counts == sorted(counts, reverse=True)


def test_percolate_randomized_against_model(spark):
    """Randomized cross-check of the percolator against a pure-Python
    model of the declared semantics (AND = both terms token-present,
    OR = either; distinct token sets; sorted comma-joined ids), over
    inputs the fixture never produces: empty docs, repeated terms,
    queries whose two terms are identical, punctuation-split tokens."""
    import random

    from visual_asset_management_system_spark.operators.inverted_index import (
        percolate,
    )

    rng = random.Random(20260814)
    vocab = ["red", "blue", "widget", "gear", "hot", "x9", "a-b", ""]
    docs = []
    for i in range(200):
        docs.append(
            (f"d{i:03d}", " ".join(rng.choices(vocab, k=rng.randint(0, 8))))
        )
    queries = []
    for j in range(25):
        a, b = rng.choice(vocab[:-1]), rng.choice(vocab[:-1])
        queries.append((f"pq_{j:02d}", a, b, rng.choice(["and", "or"])))

    df = spark.createDataFrame(docs, "doc_id string, text string")
    pq = spark.createDataFrame(queries, ["query_id", "term_a", "term_b", "mode"])
    got = {
        r["doc_id"]: (r["n_queries"], r["matched_queries"])
        for r in percolate(df, pq, ["doc_id"], F.col("text")).collect()
    }

    import re

    def toks(text):
        return {t for t in re.split("[^a-z0-9]+", text.lower()) if t}

    for doc_id, text in docs:
        ts = toks(text)
        matched = sorted(
            q
            for q, a, b, mode in queries
            if ((a in ts and b in ts) if mode == "and" else (a in ts or b in ts))
        )
        if matched:
            assert got[doc_id] == (len(matched), ",".join(matched)), doc_id
        else:
            assert doc_id not in got


def test_percolate_duplicate_term_query(spark):
    """Targeted regression for the r6 advisory: a stored 'and' query
    with term_a == term_b requires exactly ONE distinct term — it must
    fire on a doc containing the term once, and a genuine two-term
    'and' query must NOT fire on a doc holding only one of its terms
    no matter how often that term repeats (doc terms are distinct)."""
    from visual_asset_management_system_spark.operators.inverted_index import (
        percolate,
    )

    docs = spark.createDataFrame(
        [
            ("d1", "red"),  # single occurrence of the degenerate term
            ("d2", "blue blue blue blue"),  # repeats must not fake AND
            ("d3", "blue gear"),
        ],
        "doc_id string, text string",
    )
    pq = spark.createDataFrame(
        [
            ("pq_dup", "red", "red", "and"),
            ("pq_and", "blue", "gear", "and"),
        ],
        ["query_id", "term_a", "term_b", "mode"],
    )
    got = {
        r["doc_id"]: r["matched_queries"]
        for r in percolate(docs, pq, ["doc_id"], F.col("text")).collect()
    }
    assert got == {"d1": "pq_dup", "d3": "pq_and"}


def test_more_like_this_randomized_against_model(spark):
    """Randomized MLT cross-check: seed term selection (floor-rounded
    tfidf, term tiebreak) and candidate scoring (sum of grid-rounded
    idf over shared seed terms, min_match filter, k cut with doc-id
    tiebreak) against a pure-Python model."""
    import math
    import random

    from visual_asset_management_system_spark.operators.inverted_index import (
        more_like_this,
    )

    rng = random.Random(7)
    vocab = [f"w{k}" for k in range(30)]
    docs = [
        (i, " ".join(rng.choices(vocab, k=rng.randint(1, 25))))
        for i in range(150)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = more_like_this(
        df, "doc_id", F.col("text"), F.col("doc_id") == 0,
        top_terms=5, min_match=2, k=10,
    ).collect()

    tf = {}
    for i, text in docs:
        for t in text.split():
            tf[(i, t)] = tf.get((i, t), 0) + 1
    dfreq = {}
    for (_, t) in tf:
        dfreq[t] = dfreq.get(t, 0) + 1
    n = float(len(docs))
    idf = {t: round(math.log(n / c), 6) for t, c in dfreq.items()}
    seed_terms = sorted(
        ((t, c) for (i, t), c in tf.items() if i == 0),
        key=lambda tc: (
            -(math.floor(tc[1] * idf[tc[0]] * 1000000 + 0.5) / 1000000),
            tc[0],
        ),
    )[:5]
    seed = {t for t, _ in seed_terms}
    scores = {}
    for (i, t) in tf:
        if i != 0 and t in seed:
            m, s = scores.get(i, (0, 0.0))
            scores[i] = (m + 1, s + idf[t])
    expect = sorted(
        ((i, m, s) for i, (m, s) in scores.items() if m >= 2),
        key=lambda x: (-x[2], x[0]),
    )[:10]
    assert [(r["doc_id"], r["matched_terms"]) for r in got] == [
        (i, m) for i, m, _ in expect
    ]
    for r, (_, _, s) in zip(got, expect):
        assert r["mlt_score"] == pytest.approx(s, rel=1e-9)


def test_triangle_count_planted_hub_degree_orientation(spark):
    """Skew posture of the triangle counter: a planted celebrity hub
    (degree 1000) must (a) not change exactness — the count matches a
    brute-force adjacency-set enumeration — and (b) contribute ZERO
    wedge centers, because degree orientation points every star edge
    leaf→hub and wedges are enumerated only at out-edges. Max
    out-degree stays O(√m) regardless of the hub (the unoriented
    b-centered join would materialize C(1000,2) ≈ 500k wedges here)."""
    import itertools

    from pyspark.sql import functions as F

    from visual_asset_management_system_spark.operators.graph import (
        orient_by_degree,
        triangle_count,
    )

    hub = "hub"
    leaves = [f"l{i:04d}" for i in range(1000)]
    edges = [(hub, lf) for lf in leaves]
    clique = leaves[:5]
    edges += list(itertools.combinations(clique, 2))
    # direction dups + a self-loop: canonicalization must kill both
    edges += [(leaves[1], hub), (hub, hub)]

    # brute-force expected count over the simple undirected graph
    adj: dict[str, set[str]] = {}
    for s, d in edges:
        if s == d:
            continue
        adj.setdefault(s, set()).add(d)
        adj.setdefault(d, set()).add(s)
    nodes = sorted(adj)
    expected = sum(
        1
        for a, b, c in itertools.combinations(nodes, 3)
        if b in adj[a] and c in adj[a] and c in adj[b]
    )
    assert expected == 20  # C(5,3) in-clique + one per clique edge via hub

    df = spark.createDataFrame(edges, ["src", "dst"])
    got = triangle_count(df).collect()[0]["n_triangles"]
    assert got == expected

    e = (
        df.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .filter(F.col("a") < F.col("b"))
        .distinct()
    )
    outdeg = {
        r["u"]: r["n"]
        for r in orient_by_degree(e)
        .groupBy("u")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert hub not in outdeg  # the hub centers no wedges at all
    assert max(outdeg.values()) <= 5  # clique node: 4 in-clique + hub


def test_jaccard_link_prediction_degree_cap_guards_hubs(spark):
    """The max_degree skew guard: a hub neighbor above the cap stops
    generating pairs (its deg² flood disappears), while pairs formed
    through low-degree neighbors keep their TRUE Jaccard — degrees for
    the denominator still count the hub edges."""
    from visual_asset_management_system_spark.operators.graph import (
        jaccard_link_prediction,
    )

    # hub h connects to n1..n6; besides that, n1-n2 share neighbor s
    edges = [("h", f"n{i}") for i in range(1, 7)] + [
        ("n1", "s"),
        ("n2", "s"),
    ]
    df = spark.createDataFrame(edges, "from_asset_id string, to_asset_id string")

    unguarded = jaccard_link_prediction(df).collect()
    # every n_i pair co-occurs through h: C(6,2) = 15 pairs, plus
    # (h, s) through their shared neighbors n1 and n2
    pair_count = {(r["node_a"], r["node_b"]): r for r in unguarded}
    assert len(pair_count) == 16
    assert ("h", "s") in pair_count

    capped = jaccard_link_prediction(df, max_degree=3).collect()
    got = {(r["node_a"], r["node_b"]): r for r in capped}
    # the hub (degree 6) no longer GENERATES pairs: the 15-pair flood
    # disappears; n1-n2 survives via s, and h-s via the low-degree n1/n2
    assert set(got) == {("n1", "n2"), ("h", "s")}
    r = got[("n1", "n2")]
    # true degrees: n1 = {h, s} = 2, n2 = {h, s} = 2; common via
    # generation = {s} (h is capped out of generation but NOT degrees)
    assert r["n_common"] == 1
    assert r["jaccard"] == 0.333333  # 1 / (2 + 2 - 1)


def test_correlation_matrix_randomized_against_numpy(spark):
    """The sufficient-statistics correlation against numpy.corrcoef on
    randomized data (correlated, anti-correlated, independent, constant
    shift) — agreement to the 1e-6 grid, independent of partitioning."""
    import numpy as np

    from visual_asset_management_system_spark.operators.profiling import (
        correlation_matrix,
    )

    rng = np.random.default_rng(6)
    n = 5000
    x = rng.normal(10, 3, n)
    y = 2.5 * x + rng.normal(0, 1, n)       # strongly correlated
    z = -0.5 * x + rng.normal(0, 5, n)      # weakly anti-correlated
    w = rng.normal(-4, 2, n)                # independent
    data = [(float(a), float(b), float(c), float(d)) for a, b, c, d in zip(x, y, z, w)]
    df = spark.createDataFrame(data, "x double, y double, z double, w double")

    got = {
        (r["col_x"], r["col_y"]): r["pearson_r"]
        for r in correlation_matrix(df.repartition(17), ["x", "y", "z", "w"]).collect()
    }
    ref = np.corrcoef(np.vstack([x, y, z, w]))
    names = ["x", "y", "z", "w"]
    assert len(got) == 6
    for i, a in enumerate(names):
        for b in names[i + 1:]:
            j = names.index(b)
            assert got[(a, b)] == pytest.approx(ref[i, j], abs=2e-6), (a, b)
    assert got[("x", "y")] > 0.98 and got[("x", "z")] < 0

    # partitioning independence is exact, not approximate
    again = {
        (r["col_x"], r["col_y"]): r["pearson_r"]
        for r in correlation_matrix(df.coalesce(1), ["x", "y", "z", "w"]).collect()
    }
    assert again == got


def test_correlation_matrix_complete_case_null_deletion(spark):
    """NULLs in profiled columns: complete-case (listwise) deletion —
    rows with a NULL in ANY profiled column are excluded from every
    moment including n, pandas ``df.dropna().corr()`` semantics. The
    earlier shape used an unconditional COUNT(*) against null-skipping
    sums, silently shifting r on any frame with NULLs (round-6
    ADVICE); complete-case is the documented contract (chosen over
    per-pair conditioning to keep the decimal aggregate count at
    k(k+3)/2+1)."""
    import numpy as np
    import pandas as pd

    from visual_asset_management_system_spark.operators.profiling import (
        correlation_matrix,
    )

    rng = np.random.default_rng(7)
    n = 4000
    x = rng.normal(0, 1, n)
    y = 1.5 * x + rng.normal(0, 1, n)
    z = rng.normal(-1, 3, n)
    pdf = pd.DataFrame({"x": x, "y": y, "z": z})
    for c in ["x", "y", "z"]:
        pdf.loc[rng.choice(n, 400, replace=False), c] = np.nan

    rows = [
        tuple(None if pd.isna(v) else float(v) for v in rec)
        for rec in pdf.itertuples(index=False)
    ]
    df = spark.createDataFrame(rows, "x double, y double, z double")
    got = {
        (r["col_x"], r["col_y"]): r["pearson_r"]
        for r in correlation_matrix(df.repartition(13), ["x", "y", "z"]).collect()
    }
    ref = pdf.dropna().corr()  # complete cases only
    assert len(got) == 3
    for a, b in [("x", "y"), ("x", "z"), ("y", "z")]:
        assert got[(a, b)] == pytest.approx(ref.loc[a, b], abs=2e-6), (a, b)


# ---------------------------------------------------------------------------
# randomized model test: regex n-gram construction (round 7)
# ---------------------------------------------------------------------------

def test_regex_ngram_construction_matches_model(spark):
    """The lookahead-regex gram builders (word_shingles,
    repetition_score, winnow_fingerprints) against a plain-Python
    reference over a seeded adversarial corpus — repeated tokens,
    mixed whitespace runs, boundary token counts, empties. Pins the
    mid-token-safety argument of the regex form with data the fixture
    corpus doesn't contain. ASCII-only alphabet: Java and Python agree
    on lower() there, so any diff is a gram-construction bug, not a
    locale artifact."""
    import hashlib
    import math
    import random
    import re as _re

    from visual_asset_management_system_spark.operators.dedup import (
        word_shingles,
    )
    from visual_asset_management_system_spark.operators.text import (
        repetition_score,
        winnow_fingerprints,
    )

    rnd = random.Random(7)
    words = ["a", "bb", "ccc", "Tok", "tok", "x1", "....", "-", "e"]
    ws = [" ", "  ", "\t", "\n", " \t ", "\n\n ", "\x0b", "\r\n"]
    docs = ["", " ", "\t\n", "solo", "two words", "a a a a a a"]
    for _ in range(200):
        n_tok = rnd.randrange(0, 12)
        parts = []
        for i in range(n_tok):
            if i:
                parts.append(rnd.choice(ws))
            parts.append(rnd.choice(words))
        if rnd.random() < 0.3:
            parts.insert(0, rnd.choice(ws))
        if rnd.random() < 0.3:
            parts.append(rnd.choice(ws))
        docs.append("".join(parts))

    def toks(text):
        # mirror the engine: trim strips SPACE only, split on Java \s+
        t = text.strip(" ").lower()
        return [w for w in _re.split(r"[ \t\n\x0b\f\r]+", t) if w]

    def grams(text, n):
        tk = toks(text)
        return [" ".join(tk[i : i + n]) for i in range(len(tk) - n + 1)]

    def model_shingles(text, n=3):
        seen, out = set(), []
        for g in grams(text, n):
            if g not in seen:
                seen.add(g)
                out.append(g)
        return out

    def model_repetition(text, n=3):
        gs = grams(text, n)
        if not gs:
            return 0.0
        x = (len(gs) - len(set(gs))) / len(gs)
        return math.floor(x * 1e6 + 0.5) / 1e6  # HALF_UP like F.round

    def model_winnow(text, k=5, window=4):
        hs = [hashlib.md5(g.encode()).hexdigest() for g in grams(text, k)]
        if len(hs) < window:
            return []
        mins = {
            min(hs[i : i + window]) for i in range(len(hs) - window + 1)
        }
        return sorted(mins)

    df = spark.createDataFrame(
        [(i, d) for i, d in enumerate(docs)], ["i", "text"]
    )
    got = {
        r["i"]: r
        for r in df.select(
            "i",
            word_shingles(F.col("text")).alias("sh"),
            repetition_score(F.col("text")).alias("rep"),
            winnow_fingerprints(F.col("text")).alias("fp"),
        ).collect()
    }
    for i, d in enumerate(docs):
        assert list(got[i]["sh"]) == model_shingles(d), (i, repr(d))
        assert got[i]["rep"] == pytest.approx(model_repetition(d), abs=0), (
            i,
            repr(d),
        )
        assert list(got[i]["fp"]) == model_winnow(d), (i, repr(d))


def test_dedup_substrings_planted(spark):
    """Planted-case contract of the Lee-et-al substring dedup: shared
    16-token spans cut from every occurrence (cross-doc and self-
    repeat), shorter/unique docs untouched, empty docs pass through."""
    from visual_asset_management_system_spark.operators.corpus import (
        dedup_substrings,
    )

    span = " ".join(f"w{i}" for i in range(16))
    rows = [
        (1, f"Alpha {span} Beta"),
        (2, f"gamma delta {span.upper()}"),  # case-insensitive match
        (3, "short Unique text"),
        (4, f"{span} {span}"),  # self-repeat: every window duplicated
        (5, ""),
        (6, " ".join(f"u{i}" for i in range(17))),  # unique, >= min_len
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: (r["text"], r["n_removed"])
        for r in dedup_substrings(df).collect()
    }
    # matching is case-insensitive; KEPT text preserves original case
    assert out[1] == ("Alpha Beta", 16)
    assert out[2] == ("gamma delta", 16)
    assert out[3] == ("short Unique text", 0)
    assert out[4] == ("", 32)
    assert out[5] == ("", 0)
    assert out[6][1] == 0


def test_dedup_substrings_matches_model(spark):
    """Randomized corpus (seeded; small vocabulary so duplicated spans
    arise by chance, plus planted shared spans) against a plain-Python
    reference of the covered-position semantics."""
    import random
    import re as _re

    from visual_asset_management_system_spark.operators.corpus import (
        dedup_substrings,
    )

    L, MIN_COUNT = 4, 2  # small window so random collisions occur
    rnd = random.Random(11)
    # mixed-case vocabulary: "B" and "b" must count as the SAME gram
    # while kept text preserves whichever case the doc used
    vocab = ["a", "B", "c", "b"]
    docs = []
    shared = "a b C a b c A b"
    for i in range(60):
        n = rnd.randrange(0, 14)
        toks = [rnd.choice(vocab) for _ in range(n)]
        txt = " ".join(toks)
        if rnd.random() < 0.3:
            txt = (txt + " " + shared).strip()
        docs.append((i, txt))
    docs += [(100, ""), (101, "   "), (102, "x Y z w")]

    def toks(text):
        return [
            w
            for w in _re.split(r"[ \t\n\x0b\f\r]+", text.strip(" "))
            if w
        ]

    def model():
        tk = {i: toks(t) for i, t in docs}
        freq = {}
        for i, ts in tk.items():
            for p in range(len(ts) - L + 1):
                g = " ".join(w.lower() for w in ts[p : p + L])
                freq[g] = freq.get(g, 0) + 1
        out = {}
        for i, ts in tk.items():
            covered = set()
            for p in range(len(ts) - L + 1):
                g = " ".join(w.lower() for w in ts[p : p + L])
                if freq[g] >= MIN_COUNT:
                    covered.update(range(p, p + L))
            kept = [ts[p] for p in range(len(ts)) if p not in covered]
            out[i] = (" ".join(kept), len(covered))
        return out

    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        r["doc_id"]: (r["text"], r["n_removed"])
        for r in dedup_substrings(df, min_len=L, min_count=MIN_COUNT).collect()
    }
    want = model()
    assert set(got) == set(want)
    for i in sorted(want):
        assert got[i] == want[i], (i, got[i], want[i])


def test_dedup_substrings_long_doc_linear(spark):
    """Regression guard for the kept-token filter's complexity: a
    fully-duplicated long document (60k tokens, two identical copies)
    makes `covered` span the whole doc — the former per-position
    array_contains scan was O(tokens x covered) in ONE row (3.6e9
    comparisons here); hash-based array_except is linear and finishes
    in seconds. Asserts the full-cut semantics and a generous wall
    bound that the quadratic form blows through (measured: the
    array_contains form exceeds 600 s on this fixture; the bound keeps
    >2.5x headroom against loaded-host noise)."""
    import time

    from visual_asset_management_system_spark.operators.corpus import (
        dedup_substrings,
    )

    n = 60_000
    body = " ".join(f"t{i % 9973}" for i in range(n))
    df = spark.createDataFrame(
        [(1, body + " " + body), (2, "lone unique filler doc")],
        ["doc_id", "text"],
    )
    t0 = time.monotonic()
    out = {
        r["doc_id"]: (r["text"], r["n_removed"])
        for r in dedup_substrings(df, min_len=16, min_count=2).collect()
    }
    elapsed = time.monotonic() - t0
    assert out[1] == ("", 2 * n)
    assert out[2][1] == 0
    assert elapsed < 240, f"long-doc dedup took {elapsed:.1f}s"


# ---------------------------------------------------------------------------
# round 9: mergeable sketches (operators/sketches.py)
# ---------------------------------------------------------------------------


def _kmv_model(keys, k, salt="kmv"):
    """Python model of the KMV sketch: k smallest md5-derived hashes."""
    import hashlib

    hs = sorted(
        {
            int(hashlib.md5(f"{key}|{salt}".encode()).hexdigest()[:8], 16)
            for key in keys
        }
    )
    return hs[:k]


def test_kmv_sketch_matches_model_and_is_layout_invariant(spark):
    """The sketch equals the Python model exactly, and is identical
    under repartitioning (content-hash determinism — the property RNG
    sampling lacks)."""
    from visual_asset_management_system_spark.operators.sketches import (
        kmv_sketch,
    )

    rows = [(f"g{i % 3}", f"key_{i % 97}") for i in range(500)]
    df = spark.createDataFrame(rows, ["grp", "key"])
    for variant in (df, df.repartition(7, "key")):
        out = {
            r["grp"]: list(r["kmv"])
            for r in kmv_sketch(variant, "key", ["grp"], k=16).collect()
        }
        for g in ("g0", "g1", "g2"):
            keys = {key for grp, key in rows if grp == g}
            assert out[g] == _kmv_model(keys, 16), g


def test_kmv_merge_equals_sketch_of_union(spark):
    """Merge correctness — the lossless-union property the rollup
    story rests on: merge(sketch(A), sketch(B)) == sketch(A ∪ B),
    ARRAY-EXACT, for both overlapping and disjoint key sets."""
    from visual_asset_management_system_spark.operators.sketches import (
        kmv_merge,
        kmv_sketch,
    )

    a = [(1, f"k{i}") for i in range(150)]
    b = [(2, f"k{i}") for i in range(100, 300)]  # overlaps a on 100..149
    df = spark.createDataFrame(a + b, ["seg", "key"])
    per_seg = kmv_sketch(df, "key", ["seg"], k=32)
    merged = kmv_merge(per_seg, "kmv", k=32).collect()
    assert len(merged) == 1
    union_keys = {k for _, k in a + b}
    assert list(merged[0]["kmv"]) == _kmv_model(union_keys, 32)


def test_kmv_estimate_exact_below_k_and_bounded_above_k(spark):
    """Below k distinct the estimate IS the exact count; above k it
    lands within 4σ (σ = 1/√(k−2)) of the truth for a k=64 sketch."""
    from pyspark.sql import functions as F

    from visual_asset_management_system_spark.operators.sketches import (
        kmv_estimate,
        kmv_sketch,
    )

    small = spark.createDataFrame(
        [(f"k{i % 20}",) for i in range(200)], ["key"]
    )
    est = (
        kmv_sketch(small, "key", k=64)
        .select(kmv_estimate(F.col("kmv"), 64).alias("e"))
        .collect()[0]["e"]
    )
    assert est == 20.0

    big = spark.createDataFrame([(f"k{i}",) for i in range(5000)], ["key"])
    est = (
        kmv_sketch(big, "key", k=64)
        .select(kmv_estimate(F.col("kmv"), 64).alias("e"))
        .collect()[0]["e"]
    )
    sigma = 1.0 / (62.0**0.5)
    assert abs(est - 5000) <= 4 * sigma * 5000, est


def test_cms_never_underestimates_and_merges_additively(spark):
    """Count-min guarantees: every point estimate ≥ the true count;
    estimates from a merged (cell-wise summed) sketch over two segments
    equal estimates from a sketch of the concatenated data."""
    from pyspark.sql import functions as F

    from visual_asset_management_system_spark.operators.sketches import (
        cms_build,
        cms_probe,
    )

    seg1 = [(f"k{i % 11}",) for i in range(300)]
    seg2 = [(f"k{i % 7}",) for i in range(200)]
    d1 = spark.createDataFrame(seg1, ["key"])
    d2 = spark.createDataFrame(seg2, ["key"])
    both = spark.createDataFrame(seg1 + seg2, ["key"])

    merged = (
        cms_build(d1, "key", depth=4, width=16)
        .unionByName(cms_build(d2, "key", depth=4, width=16))
        .groupBy("d", "c")
        .agg(F.sum("cell_cnt").alias("cell_cnt"))
    )
    direct = cms_build(both, "key", depth=4, width=16)
    assert {
        (r["d"], r["c"]): r["cell_cnt"] for r in merged.collect()
    } == {(r["d"], r["c"]): r["cell_cnt"] for r in direct.collect()}

    from collections import Counter

    truth = Counter(k for (k,) in seg1 + seg2)
    keys = spark.createDataFrame([(k,) for k in truth], ["key"])
    est = {
        r["key"]: r["cms_est"]
        for r in cms_probe(keys, direct, "key", depth=4, width=16).collect()
    }
    assert set(est) == set(truth)
    for k, true_cnt in truth.items():
        assert est[k] >= true_cnt, (k, est[k], true_cnt)
    # w=16 on 11 keys: total overshoot is bounded by the grid's mass
    assert sum(est.values()) <= 4 * sum(truth.values())


def test_cms_probe_absent_key_estimates_from_collisions_only(spark):
    """A never-seen key reads whatever collided into its cells — 0 when
    the grid is wide enough for its cells to be empty."""
    from visual_asset_management_system_spark.operators.sketches import (
        cms_build,
        cms_probe,
    )

    d = spark.createDataFrame([("present",)] * 5, ["key"])
    cms = cms_build(d, "key", depth=4, width=2048)
    probe = spark.createDataFrame([("absent_xyz",)], ["key"])
    est = cms_probe(probe, cms, "key", depth=4, width=2048).collect()[0][
        "cms_est"
    ]
    assert est == 0


def test_group_cap_deterministic_and_bounded(spark):
    """group_cap keeps at most k rows per group, the SAME rows under
    any partitioning, and all rows of groups already under the cap."""
    from visual_asset_management_system_spark.operators.sampling import (
        group_cap,
    )

    rows = [(f"s{i % 4}", i) for i in range(200)] + [("tiny", 999)]
    df = spark.createDataFrame(rows, ["src", "doc"])
    picks = []
    for variant in (df, df.repartition(9, "doc"), df.coalesce(1)):
        out = group_cap(variant, ["src"], "doc", k=7).collect()
        by_src = {}
        for r in out:
            by_src.setdefault(r["src"], set()).add(r["doc"])
        assert all(len(v) <= 7 for v in by_src.values())
        assert by_src["tiny"] == {999}
        picks.append(by_src)
    assert picks[0] == picks[1] == picks[2]


def test_setsim_join_matches_quadratic_model_exactly(spark):
    """Prefix filtering is EXACT: for random corpora and thresholds
    (including a threshold chosen to hit ⌈τ·n⌉ boundaries), the pair
    set equals the brute-force all-pairs Jaccard join — no false
    negatives (the LSH tier's trade) and no extras."""
    import itertools
    import random as _random

    from visual_asset_management_system_spark.operators.dedup import (
        setsim_join,
    )

    rng = _random.Random(17)
    vocab = [f"w{i}" for i in range(60)]
    for threshold in (0.5, 0.8):
        rows = []
        for did in range(40):
            n = rng.randrange(3, 25)
            rows.append((did, " ".join(rng.sample(vocab, n))))
        # planted near-identical pair: same set minus one token
        rows.append((100, " ".join(vocab[:20])))
        rows.append((101, " ".join(vocab[:19])))
        docs = spark.createDataFrame(rows, ["doc_id", "text"])
        got = {
            (r["id_a"], r["id_b"], r["overlap"], r["n_a"], r["n_b"])
            for r in setsim_join(docs, threshold).collect()
        }
        sets = {did: set(text.split()) for did, text in rows}
        want = set()
        for a, b in itertools.combinations(sorted(sets), 2):
            o = len(sets[a] & sets[b])
            u = len(sets[a] | sets[b])
            if u and o / u >= threshold:
                want.add((a, b, o, len(sets[a]), len(sets[b])))
        assert got == want, (threshold, got ^ want)
        assert (100, 101, 19, 20, 19) in got  # planted pair found


def test_setsim_dictionary_encoding_bit_identical(spark):
    """r15 int64 dictionary encoding: both stage paths (string keys vs
    dense (df, tok)-ordered int64 ids) must produce the SAME verified
    pairs AND the same candidate set on a randomized corpus, for every
    combination with the positional filter and the df stop-list —
    encoding is bijective and order-preserving, so nothing downstream
    of the vocabulary may move. Auto mode must also agree (it picks one
    of the two paths by input size)."""
    import random as _random

    from visual_asset_management_system_spark.operators.dedup import (
        setsim_candidates,
        setsim_join,
    )

    rng = _random.Random(23)
    vocab = [f"w{i}" for i in range(50)]
    rows = []
    for did in range(35):
        n = rng.randrange(3, 22)
        rows.append((did, " ".join(rng.sample(vocab, n))))
    rows.append((90, " ".join(vocab[:18])))
    rows.append((91, " ".join(vocab[:17])))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    for kwargs in (
        {},
        {"positional_filter": True},
        {"max_df_ratio": 0.6},
    ):
        j_str = sorted(
            tuple(r)
            for r in setsim_join(
                docs, 0.8, encode_items=False, **kwargs
            ).collect()
        )
        j_int = sorted(
            tuple(r)
            for r in setsim_join(
                docs, 0.8, encode_items=True, **kwargs
            ).collect()
        )
        j_auto = sorted(
            tuple(r) for r in setsim_join(docs, 0.8, **kwargs).collect()
        )
        assert j_str == j_int == j_auto, (kwargs, len(j_str), len(j_int))
        c_str = sorted(
            tuple(r)
            for r in setsim_candidates(
                docs, 0.8, encode_items=False, **kwargs
            ).collect()
        )
        c_int = sorted(
            tuple(r)
            for r in setsim_candidates(
                docs, 0.8, encode_items=True, **kwargs
            ).collect()
        )
        assert c_str == c_int, (kwargs, len(c_str), len(c_int))
    assert any(a == 90 and b == 91 for a, b, *_ in j_str)


def test_setsim_positional_filter_prunes_losslessly(spark):
    """The PPJoin positional filter cuts the candidate set but never a
    qualifying pair. Planted geometry: docs A and B share exactly one
    token u, with u at rank 3 of A (behind two df-1 tokens) and rank 1
    of B, both n=30, τ=0.9 — prefix lengths 30−27+1 = 4 (past the ≤2
    gate), and the bound min(3,1) + min(27,29) = 28 is below the
    required overlap ⌈9·60/19⌉ = 29, so the candidate is pruned
    BEFORE verification; the filterless candidate set must still
    contain it, and the verified join output must equal the quadratic
    model either way."""
    import itertools

    from visual_asset_management_system_spark.operators.dedup import (
        setsim_candidates,
        setsim_join,
    )

    f = [f"f{i:02d}" for i in range(27)]
    g = [f"g{i:02d}" for i in range(29)]
    rows = [
        (0, " ".join(["a1", "a2", "u", *f])),  # doc A: n=30, u at rank 3
        (1, " ".join(["u", *g])),              # doc B: n=30, u at rank 1
        (2, " ".join([*f, "c1", "c2"])),       # f* df boosters (df=3)
        (3, " ".join([*f, "d1", "d2"])),
        (4, " ".join([*g, "e1"])),             # g* df boosters (df=3)
        (5, " ".join([*g, "e2"])),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    pruned = {
        (r["id_a"], r["id_b"])
        for r in setsim_candidates(
            docs, 0.9, positional_filter=True
        ).collect()
    }
    unpruned = {
        (r["id_a"], r["id_b"])
        for r in setsim_candidates(
            docs, 0.9, positional_filter=False
        ).collect()
    }
    assert pruned <= unpruned
    assert (0, 1) in unpruned and (0, 1) not in pruned  # the planted prune

    sets = {did: set(text.split()) for did, text in rows}
    # verified output exact under BOTH settings (the filter is
    # lossless; default has been False since r13)
    for threshold, pos in ((0.5, False), (0.9, True)):
        got = {
            (r["id_a"], r["id_b"], r["overlap"])
            for r in setsim_join(
                docs, threshold, positional_filter=pos
            ).collect()
        }
        want = {
            (a, b, len(sets[a] & sets[b]))
            for a, b in itertools.combinations(sorted(sets), 2)
            if len(sets[a] & sets[b]) / len(sets[a] | sets[b]) >= threshold
        }
        assert got == want, (threshold, got ^ want)


def test_setsim_positional_filter_short_prefix_gate(spark):
    """The r12 prefix-length gate: pairs where BOTH docs' computed
    prefix lengths are ≤2 contribute no positional bound — the r11
    planted geometry (n=10, τ=0.9, prefix length 10−9+1 = 2, bound
    min(2,1)+min(8,9) = 9 < ⌈9·20/19⌉ = 10) would have been pruned by
    the raw bound, and with the gate it deliberately is NOT (the
    bound's rare short-prefix prunes were measured a net loss,
    SOAK_r11 step2; forgoing them is lossless — min over a SUBSET of
    valid upper bounds is a looser prune, never a wrong one). The
    verified join stays exact."""
    import itertools

    from visual_asset_management_system_spark.operators.dedup import (
        setsim_candidates,
        setsim_join,
    )

    f = [f"f{i}" for i in range(8)]
    g = [f"g{i}" for i in range(9)]
    rows = [
        (0, " ".join(["arare", "u", *f])),  # doc A: n=10, u at rank 2
        (1, " ".join(["u", *g])),           # doc B: n=10, u at rank 1
        (2, " ".join([*f, "c1", "c2"])),
        (3, " ".join([*f, "d1", "d2"])),
        (4, " ".join([*g, "e1"])),
        (5, " ".join([*g, "e2"])),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    pruned = {
        (r["id_a"], r["id_b"])
        for r in setsim_candidates(
            docs, 0.9, positional_filter=True
        ).collect()
    }
    assert (0, 1) in pruned  # gate active: short-prefix bound forgone

    sets = {did: set(text.split()) for did, text in rows}
    got = {
        (r["id_a"], r["id_b"], r["overlap"])
        for r in setsim_join(docs, 0.9, positional_filter=True).collect()
    }
    want = {
        (a, b, len(sets[a] & sets[b]))
        for a, b in itertools.combinations(sorted(sets), 2)
        if len(sets[a] & sets[b]) / len(sets[a] | sets[b]) >= 0.9
    }
    assert got == want


def test_setsim_max_df_ratio_stop_lists_item_space(spark):
    """max_df_ratio drops saturated tokens from the ITEM SPACE (not
    just prefixes), so the join equals the quadratic model computed
    over the stop-listed sets — exact w.r.t. the filtered universe,
    zero false negatives. A universal token pushes two otherwise-
    distinct docs over τ; with the cap their true (stop-listed)
    similarity governs."""
    import itertools

    from visual_asset_management_system_spark.operators.dedup import (
        setsim_join,
    )

    import random as _random

    rng = _random.Random(23)
    vocab = [f"w{i}" for i in range(40)]
    rows = []
    for did in range(30):
        n = rng.randrange(3, 15)
        # 'the' is in EVERY doc: df ratio 1.0 > cap 0.5
        rows.append((did, "the " + " ".join(rng.sample(vocab, n))))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    for threshold in (0.5, 0.8):
        got = {
            (r["id_a"], r["id_b"], r["overlap"], r["n_a"], r["n_b"])
            for r in setsim_join(
                docs, threshold, max_df_ratio=0.5
            ).collect()
        }
        sets = {
            did: set(text.split()) - {"the"} for did, text in rows
        }
        want = set()
        for a, b in itertools.combinations(sorted(sets), 2):
            o = len(sets[a] & sets[b])
            u = len(sets[a] | sets[b])
            if u and o / u >= threshold:
                want.add((a, b, o, len(sets[a]), len(sets[b])))
        assert got == want, (threshold, got ^ want)


def test_kmv_empty_sketch_edges(spark):
    """Empty segments must not error the rollup: theta is NULL, the
    estimate is 0.0, an empty array unions losslessly, and the
    intersect count against an empty side is 0."""
    from pyspark.sql import functions as F

    from visual_asset_management_system_spark.operators.sketches import (
        kmv_estimate,
        kmv_intersect_count,
        kmv_theta,
        kmv_union_expr,
    )

    row = spark.createDataFrame(
        [([], [11, 22, 33])], "e array<bigint>, s array<bigint>"
    )
    got = row.select(
        kmv_theta(F.col("e")).alias("theta_e"),
        kmv_estimate(F.col("e"), 8).alias("est_e"),
        kmv_union_expr(F.col("e"), F.col("s"), 8).alias("u"),
        kmv_intersect_count(
            F.col("e"), F.col("s"), kmv_union_expr(F.col("e"), F.col("s"), 8)
        ).alias("common"),
    ).collect()[0]
    assert got["theta_e"] is None
    assert got["est_e"] == 0.0
    assert list(got["u"]) == [11, 22, 33]
    assert got["common"] == 0


def test_sketches_and_cap_guard_null_keys(spark):
    """NULL keys must not enter any sketch (sample_hash(NULL) is NULL,
    and Spark's ascending sort puts NULLs FIRST while DuckDB puts them
    LAST — the cross-engine divergence class from ADVICE r9): the KMV
    sketch and CMS grid of a column with NULLs equal those of the
    non-NULL subset; cms_probe estimates 0 for a NULL key; group_cap
    still caps NULL-keyed rows but orders them last under both engines'
    semantics."""
    from visual_asset_management_system_spark.operators.sampling import (
        group_cap,
    )
    from visual_asset_management_system_spark.operators.sketches import (
        cms_build,
        cms_probe,
        kmv_sketch,
    )

    rows = [(f"k{i % 13}",) for i in range(100)] + [(None,)] * 40
    with_nulls = spark.createDataFrame(rows, "key string")
    clean = with_nulls.filter("key IS NOT NULL")

    sk = lambda df: [  # noqa: E731
        list(r["kmv"]) for r in kmv_sketch(df, "key", k=8).collect()
    ]
    assert sk(with_nulls) == sk(clean)

    grid = lambda df: {  # noqa: E731
        (r["d"], r["c"]): r["cell_cnt"]
        for r in cms_build(df, "key", depth=3, width=16).collect()
    }
    assert grid(with_nulls) == grid(clean)

    probe = spark.createDataFrame([("k1",), (None,)], "key string")
    est = {
        r["key"]: r["cms_est"]
        for r in cms_probe(
            probe, cms_build(clean, "key", depth=3, width=16), "key",
            depth=3, width=16,
        ).collect()
    }
    assert est[None] == 0 and est["k1"] > 0

    capped = group_cap(
        with_nulls.withColumn("grp", F.lit("g")), ["grp"], "key", k=101
    )
    # k larger than the non-null extent: the non-null keys all survive
    # and NULL-keyed rows fill the remaining slots (ordered last)
    got = [r["key"] for r in capped.collect()]
    assert len(got) == 101 and sum(1 for k in got if k is None) == 1


def test_cms_store_update_requires_batch_key(spark, tmp_path):
    """The additive CMS store refuses untagged appends (ADVICE r9:
    NULL tags fall through compaction's keep/old isin split and get
    silently dropped)."""
    import pytest as _pytest

    from visual_asset_management_system_spark.operators.sketches import (
        cms_store_update,
    )

    df = spark.createDataFrame([("a",)], "key string")
    with _pytest.raises(ValueError, match="batch_key"):
        cms_store_update(spark, str(tmp_path / "s"), df, "key")


def test_drop_table_rejects_qualified_names(spark):
    """drop_table's orphan cleanup assumes the default database's
    warehouse/<name> layout; a db-qualified name must be rejected, not
    silently leave the orphan dir behind (ADVICE r9)."""
    import pytest as _pytest

    from visual_asset_management_system_spark.operators.bucketing import (
        drop_table,
    )

    with _pytest.raises(ValueError, match="unqualified"):
        drop_table(spark, "db.tbl")


def test_bloom_filter_no_false_negatives_and_merge(spark):
    """Bloom contract: every inserted key probes true (zero false
    negatives); OR-merge of segment filters equals the filter of the
    union; NULL keys neither enter the filter nor probe true; a key
    set far smaller than m yields few false positives."""
    from visual_asset_management_system_spark.operators.sketches import (
        bloom_build,
        bloom_merge,
        bloom_probe,
    )

    m, d = 8192, 3
    seg1 = spark.createDataFrame(
        [(f"in{i}",) for i in range(100)] + [(None,)] * 5, "key string"
    )
    seg2 = spark.createDataFrame([(f"in{i}",) for i in range(80, 200)], "key string")
    both = seg1.unionByName(seg2)

    merged = bloom_merge(
        bloom_build(seg1, "key", m=m, depth=d).unionByName(
            bloom_build(seg2, "key", m=m, depth=d)
        )
    )
    direct = bloom_build(both, "key", m=m, depth=d)
    assert {r["bit"] for r in merged.collect()} == {
        r["bit"] for r in direct.collect()
    }

    probe = spark.createDataFrame(
        [(f"in{i}",) for i in range(200)]
        + [(f"out{i}",) for i in range(500)]
        + [(None,)],
        "key string",
    )
    got = {
        r["key"]: r["bloom_maybe"]
        for r in bloom_probe(probe, direct, "key", m=m, depth=d).collect()
    }
    assert all(got[f"in{i}"] for i in range(200)), "false negative!"
    assert got[None] is False
    fp = sum(1 for i in range(500) if got[f"out{i}"])
    # n=200, m=8192, d=3 → fp rate ≈ (1-e^{-600/8192})^3 ≈ 3.6e-4
    assert fp <= 5, fp


def test_bloom_prefiltered_anti_join_equals_plain_anti_join(spark):
    """The semi-join-reduction form must equal the plain anti-join for
    ANY filter parameters (zero false negatives make non-members exact;
    false positives just take the slow path), including tiny saturated
    filters — and NULL left keys survive as anti-rows (a NULL never
    joins) exactly as in the plain form."""
    left = spark.createDataFrame(
        [(f"k{i}", i) for i in range(400)] + [(None, 999)],
        "key string, payload int",
    )
    right = spark.createDataFrame(
        [(f"k{i}",) for i in range(0, 400, 3)], "rk string"
    )
    from visual_asset_management_system_spark.operators.sketches import (
        bloom_prefiltered_anti_join,
    )

    srt = lambda rows: sorted(  # noqa: E731 — None-safe tuple sort
        rows, key=lambda t: (t[0] is None, t[0] or "", t[1])
    )
    want = srt(
        (r["key"], r["payload"])
        for r in left.join(
            right.withColumnRenamed("rk", "key"), "key", "left_anti"
        ).collect()
    )
    for m, d in ((8192, 3), (64, 2)):  # roomy and deliberately saturated
        got = srt(
            (r["key"], r["payload"])
            for r in bloom_prefiltered_anti_join(
                left, right, "key", "rk", m=m, depth=d
            ).collect()
        )
        assert got == want, (m, d)


def test_bloom_flag_is_shuffle_free_and_matches_probe(spark):
    """bloom_flag's verdict must equal bloom_probe's for every key, and
    its executed plan must hold ZERO exchanges (the per-row projection
    over a single-row broadcast mask — the property the prefiltered
    anti-join's 'never enters a shuffle' claim rests on)."""
    from visual_asset_management_system_spark.operators.sketches import (
        bloom_build,
        bloom_flag,
        bloom_probe,
    )
    from visual_asset_management_system_spark.plans.audit import (
        exchange_count,
    )

    members = spark.createDataFrame(
        [(f"in{i}",) for i in range(80)], "key string"
    )
    bloom = bloom_build(members, "key", m=2048, depth=3)
    probe = spark.createDataFrame(
        [(f"in{i}",) for i in range(80)]
        + [(f"out{i}",) for i in range(200)]
        + [(None,)],
        "key string",
    )
    flagged = bloom_flag(probe, bloom, "key", m=2048, depth=3)
    flagged.collect()
    plan = flagged._jdf.queryExecution().executedPlan().toString()
    assert exchange_count(plan) == 0, plan

    got = {r["key"]: r["bloom_maybe"] for r in flagged.collect()}
    want = {
        r["key"]: r["bloom_maybe"]
        for r in bloom_probe(probe, bloom, "key", m=2048, depth=3).collect()
    }
    assert got == want
    assert all(got[f"in{i}"] for i in range(80))
    assert got[None] is False


def test_bottomk_sample_deterministic_mergeable_quantiles(spark):
    """The bottom-k-by-hash sample is identical under any partitioning,
    merges as a semilattice (merge of segment samples == sample of the
    union), excludes NULL ids, and its quantile estimates land within
    the sampling error band of the exact quantiles on a skewed
    distribution."""
    from visual_asset_management_system_spark.operators.sketches import (
        bottomk_merge,
        bottomk_sample,
        sample_quantiles,
    )

    # skewed values: id i -> i^2 (heavy right tail)
    rows = [(i, float(i * i)) for i in range(2000)] + [(None, 0.0)]
    df = spark.createDataFrame(rows, "rid long, v double")

    ids = lambda d: sorted(  # noqa: E731
        r["rid"] for r in bottomk_sample(d, "rid", 256).collect()
    )
    base = ids(df)
    assert len(base) == 256 and None not in base
    assert base == ids(df.repartition(13, "v")) == ids(df.coalesce(1))

    # semilattice: segment samples merge to the union's sample
    seg1 = bottomk_sample(df.filter("rid < 1200"), "rid", 256)
    seg2 = bottomk_sample(df.filter("rid >= 1100"), "rid", 256)  # overlap
    merged = sorted(
        r["rid"]
        for r in bottomk_merge(seg1.unionByName(seg2), "rid", 256).collect()
    )
    assert merged == base

    # quantile accuracy: sampling sigma = sqrt(q(1-q)/k) on the RANK
    # scale; compare sample quantiles of v against exact at 4 sigma
    got = sample_quantiles(
        bottomk_sample(df, "rid", 256), "v", [0.1, 0.5, 0.9]
    ).collect()[0]
    for q, col in ((0.1, "q0_1"), (0.5, "q0_5"), (0.9, "q0_9")):
        sigma_rank = (q * (1 - q) / 256) ** 0.5
        lo = ((q - 4 * sigma_rank) * 2000) ** 2
        hi = ((q + 4 * sigma_rank) * 2000) ** 2
        assert lo <= got[col] <= hi, (q, got[col], lo, hi)


def test_pagerank_dangling_mass_and_hoisted_denominators(spark):
    """Pin the r14 loop restructure (loop-invariant edges x outdeg
    hoist + static has_out dangling flag): ranks on a graph WITH a
    dangling node and a diamond must equal an independent Python
    reference of the same recurrence — teleport + d*(inflow +
    dangling/N) with exact per-edge contributions. Exercises exactly
    the two rewritten paths: the hoisted contribution denominator and
    the filter-based dangling-mass aggregate."""
    from visual_asset_management_system_spark.operators.graph import pagerank

    # a -> b, a -> c, b -> d, c -> d; d dangling (no out-edges)
    edges = [("a", "b"), ("a", "c"), ("b", "d"), ("c", "d")]
    df = spark.createDataFrame(edges, "src string, dst string")
    iters, d = 3, 0.85
    nodes = sorted({x for e in edges for x in e})
    n = len(nodes)
    outdeg = {}
    for s, _ in edges:
        outdeg[s] = outdeg.get(s, 0) + 1
    ranks = {v: 1.0 / n for v in nodes}
    for _ in range(iters):
        inflow = {v: 0.0 for v in nodes}
        for s, t in edges:
            inflow[t] += ranks[s] / outdeg[s]
        dang = sum(r for v, r in ranks.items() if v not in outdeg)
        ranks = {
            v: (1 - d) / n + d * (inflow[v] + dang / n) for v in nodes
        }
    got = {
        r["node"]: r["rank"]
        for r in pagerank(df, iters=iters, damping=d).collect()
    }
    assert set(got) == set(nodes)
    for v in nodes:
        # tolerance, not exact equality (r14 ADVICE): Spark accumulates
        # in decimal(38,18) and the reference in Python floats — a value
        # landing on a round-half boundary would differ in the last
        # rounded digit without being wrong
        assert abs(got[v] - round(ranks[v], 6)) < 1e-9, (v, got[v], ranks[v])
    # mass conservation: total rank stays ~1 up to rounding
    assert abs(sum(got.values()) - 1.0) < 1e-5


def test_descendants_dedup_guard_invariance(spark):
    """Pin the r14 per-level-dedup removal: on a stacked-diamond graph
    (path multiplicity doubles per level — the exact geometry the
    adaptive guard exists for) the result must be identical whether
    the guard fires immediately (factor below any duplication), at the
    default threshold, or never (factor above any possible
    duplication) — same node set, same minimum depths. On this ladder
    the default-factor run crosses the guard threshold mid-loop, so
    the dedup-free and dedup-on round paths are BOTH exercised within
    one call."""
    k = 12
    pairs = []
    for i in range(k):
        pairs += [
            (f"d{i}", f"a{i}"), (f"d{i}", f"b{i}"),
            (f"a{i}", f"d{i+1}"), (f"b{i}", f"d{i+1}"),
        ]
    links = spark.createDataFrame(
        [("db", a, "db", b, "parentChild") for a, b in pairs],
        "from_database_id string, from_asset_id string, "
        "to_database_id string, to_asset_id string, "
        "relationship_type string",
    )
    rows = {}
    for label, factor in [
        ("always_dedup", 0.0),
        ("default", 4.0),
        ("never_dedup", 1e18),
    ]:
        rows[label] = sorted(
            (r["asset_id"], r["depth"])
            for r in descendants(
                links, "db", "d0", dedup_guard_factor=factor
            ).collect()
        )
    assert rows["always_dedup"] == rows["default"] == rows["never_dedup"]
    got = dict(rows["default"])
    # min-depth semantics through every diamond: d_i at 2i, wings at 2i-1
    assert got["d6"] == 12 and got["a5"] == 11 and got[f"d{k}"] == 2 * k
    assert len(got) == 3 * k  # a_i, b_i (k each), d_1..d_k — root excluded


def _links_df(spark, pairs):
    return spark.createDataFrame(
        [("db", a, "db", b, "parentChild") for a, b in pairs],
        "from_database_id string, from_asset_id string, "
        "to_database_id string, to_asset_id string, "
        "relationship_type string",
    )


def test_descendants_late_diamond_guard_trips(spark):
    """r15 worst-case pin (the r14 verdict's residual exposure): a
    graph that is a plain chain through the small geometric rounds
    (levels 1-9, zero duplication — the guard has nothing to see) and
    only THEN stacks diamonds (levels 10+, multiplicity doubling per
    diamond). The dedup-free round that first meets the diamonds pays
    bounded in-round multiplicity, the guard must trip on that round's
    stats, and the emitted rows must equal the always-dedup variant
    exactly (the round-end groupBy collapses multiplicity before
    anything leaves the round)."""
    pairs = [(f"c{i}", f"c{i+1}") for i in range(9)]  # c0..c9 chain
    for i in range(6):  # diamonds over levels 10..21
        top = f"c9" if i == 0 else f"m{i-1}"
        pairs += [
            (top, f"p{i}"), (top, f"q{i}"),
            (f"p{i}", f"m{i}"), (f"q{i}", f"m{i}"),
        ]
    links = _links_df(spark, pairs)
    info: dict = {}
    got = sorted(
        (r["asset_id"], r["depth"])
        for r in descendants(links, "db", "c0", _stats_out=info).collect()
    )
    want = sorted(
        (r["asset_id"], r["depth"])
        for r in descendants(
            links, "db", "c0", dedup_guard_factor=0.0
        ).collect()
    )
    assert got == want
    assert info["guard_tripped"] is True
    d = dict(got)
    assert d["c9"] == 9 and d["m5"] == 9 + 12  # min depths intact


def test_descendants_backedge_reconvergence_trips_guard(spark):
    """r15 guard-signal fix (ADVICE r14): duplication that reconverges
    onto ALREADY-VISITED nodes (back-edges into earlier levels) must
    count toward the guard. Geometry: chain c0..c9 (visited in the
    dedup-free early rounds), then c9 fans out to x0..x3, each of
    which points BACK at c1..c8 plus one shared new child y — the
    in-round arrival flood lands almost entirely on visited nodes, so
    the r14 post-anti-join signal stayed under threshold while the
    frontier kept re-walking the chain dedup-free. The pre-exclusion
    signal must trip, and rows must equal the always-dedup variant."""
    pairs = [(f"c{i}", f"c{i+1}") for i in range(9)]
    for j in range(4):
        pairs.append(("c9", f"x{j}"))
        pairs.append((f"x{j}", "y"))
        pairs += [(f"x{j}", f"c{i}") for i in range(1, 9)]
    links = _links_df(spark, pairs)
    info: dict = {}
    got = sorted(
        (r["asset_id"], r["depth"])
        for r in descendants(links, "db", "c0", _stats_out=info).collect()
    )
    want = sorted(
        (r["asset_id"], r["depth"])
        for r in descendants(
            links, "db", "c0", dedup_guard_factor=0.0
        ).collect()
    )
    assert got == want
    assert info["guard_tripped"] is True
    d = dict(got)
    assert d["y"] == 11 and d["x0"] == 10 and d["c9"] == 9


def test_descendants_guard_dormant_on_benign_tree(spark):
    """Both r15 tripwires must stay OFF on benign geometry (a branching
    tree has exactly one path per node), so the bench fixture keeps the
    dedup-free fast path."""
    pairs = []
    nodes = ["r"]
    nid = 0
    for _level in range(4):
        nxt = []
        for p in nodes:
            for _ in range(3):
                c = f"n{nid}"
                nid += 1
                pairs.append((p, c))
                nxt.append(c)
        nodes = nxt
    links = _links_df(spark, pairs)
    info: dict = {}
    out = descendants(links, "db", "r", _stats_out=info).collect()
    assert info["guard_tripped"] is False
    assert len(out) == nid  # 3 + 9 + 27 + 81


def test_connected_components_early_exit_change_column(spark):
    """Pin the r14 in-projection change flag: on an already-clustered
    tiny graph the loop must stop after the first no-change round
    (observable as maybe_checkpoint call count staying far below
    max_iter) and still label every node with its component min."""
    from visual_asset_management_system_spark.operators import checkpointing
    from visual_asset_management_system_spark.operators.graph import (
        connected_components,
    )

    df = spark.createDataFrame(
        [("a", "b"), ("c", "d")], "src string, dst string"
    )
    before = checkpointing.CALLS
    got = {
        r["node"]: r["component"]
        for r in connected_components(df, max_iter=20).collect()
    }
    rounds = checkpointing.CALLS - before - 1  # minus the label init cut
    assert got == {"a": "a", "b": "a", "c": "c", "d": "c"}
    # 1-round convergence + 1 confirming no-change round; 20 would mean
    # the early exit regressed
    assert rounds <= 3, rounds


def test_lang_quality_gate_matches_column_form(spark):
    """Pin the r14 fused filter gate: lang_quality_gate must select
    exactly the rows the staged column-form (lang_id == lang AND
    quality_score >= min_quality) selects, across language, quality
    and boundary regimes — including empty text and non-default
    thresholds."""
    from visual_asset_management_system_spark.operators.text import (
        lang_id,
        lang_quality_gate,
        quality_score,
        tokens,
    )

    rows = [
        # clearly-English, long enough to pass the length term
        (1, "the cat and the dog sat of the mat and the sun was warm "
            "over the garden and the day was long"),
        # German markers dominate
        (2, "der hund und die katze und der vogel und die sonne und "
            "der tag war lang und die nacht war kurz"),
        # English markers but too short for the length term
        (3, "the and of"),
        # empty and whitespace-only text
        (4, ""),
        (5, "   "),
        # mixed markers, tie-break territory
        (6, "the el und le the el und le the el und le the el und le "
            "the el und le the el und le the el und le"),
        # no markers at all
        (7, "zzz qqq www rrr ttt yyy uuu iii ooo ppp aaa sss ddd fff "
            "ggg hhh jjj kkk lll xxx ccc vvv bbb nnn mmm"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    for lang, min_q in [("en", 0.5), ("de", 0.25), ("und", 0.0)]:
        col_form = (
            df.withColumn("_lt", tokens(F.lower(F.col("text"))))
            .withColumn("_lang", lang_id(F.col("text"), F.col("_lt")))
            .withColumn("_q", quality_score(F.col("text"), F.col("_lt")))
            .filter((F.col("_lang") == lang) & (F.col("_q") >= min_q))
            .select("doc_id")
        )
        gated = df.filter(
            lang_quality_gate(F.col("text"), lang=lang, min_quality=min_q)
        ).select("doc_id")
        a = sorted(r["doc_id"] for r in col_form.collect())
        b = sorted(r["doc_id"] for r in gated.collect())
        assert a == b, (lang, min_q, a, b)
        assert a, (lang, min_q)  # each regime must select something
