"""Smoke the CatalogService façade — every reference REST operation has
an engine method that runs and returns sane shapes."""

from __future__ import annotations

from pyspark.sql import functions as F

import hashlib
from urllib.parse import urlparse

import pytest

from visual_asset_management_system_spark.models.search import (
    SearchFilter,
    SearchRequest,
    SortSpec,
)
from visual_asset_management_system_spark.operators.authz import (
    Constraint,
    Criterion,
)
from visual_asset_management_system_spark.queries import tables
from visual_asset_management_system_spark.service import CatalogService

SF = "/root/testdata/sf0.001"


def _svc(spark, constraints=None) -> CatalogService:
    return CatalogService(tables(spark, SF), constraints)


def test_search_and_facets_and_mappings(spark):
    svc = _svc(spark)
    hits = svc.search(
        SearchRequest(query="red", entity_types=("asset",), size=10)
    ).collect()
    assert 0 < len(hits) <= 10
    assert svc.facets(
        SearchRequest(entity_types=("asset",), facets=["asset_type"], size=1)
    ).count() > 0
    m = svc.mappings()
    assert {"entity_type", "field", "dtype"} <= set(m.columns)


def test_asset_crud_surface(spark):
    svc = _svc(spark)
    one = svc.get_asset("db_3", "asset_123").collect()
    assert len(one) == 1
    page = svc.list_assets("db_3", page_size=5).collect()
    assert len(page) == 5
    md = svc.get_metadata("db_3", "asset_123").collect()
    assert len(md) <= 1  # zero or one map row for the entity


def test_authz_applies_inside_plans(spark):
    deny_all_but_db4 = [
        Constraint(
            effect="allow", action="GET",
            criteria=(Criterion("database_id", "equals", "db_4"),),
        )
    ]
    svc = _svc(spark, deny_all_but_db4)
    assert svc.get_asset("db_3", "asset_123").count() == 0
    assert svc.list_assets("db_3").count() == 0


def test_links_versions_graph(spark):
    svc = _svc(spark)
    hop = svc.get_asset_links("db_2", "asset_42")
    assert {"neighbor_asset_id", "neighbor_name", "relationship"} <= set(
        hop.columns
    )
    counts = svc.unauthorized_counts("db_2", "asset_42").collect()
    assert all(r["unauthorized_count"] >= 0 for r in counts)
    assert svc.child_tree("db_8", "asset_48").count() >= 1
    kg = svc.knowledge_graph()
    assert {r["record_type"] for r in kg.select("record_type").distinct().collect()} == {
        "node", "edge"
    }
    assert svc.current_versions().count() > 0


def test_export_and_reconcile(spark, tmp_path):
    svc = _svc(spark)
    manifest = svc.export_database("db_3", str(tmp_path / "exp")).collect()
    assert len(manifest) == 1 and manifest[0]["n_rows"] > 0
    t = tables(spark, SF)
    legs = svc.reconcile(t["files"].filter(~F.col("is_archived")))
    assert "missing_in_storage" in legs and "to_register" in legs
    assert legs["to_register"].count() >= 0


def test_round3_surface(spark):
    """BM25 search, explanations, and the new row-store operations all
    run through the façade and return sane shapes."""
    t = tables(spark, SF)
    svc = CatalogService(t, enable_bm25=True)

    bm25 = svc.search(
        SearchRequest(query="red", relevance="bm25", entity_types=("asset",))
    )
    assert "score" in bm25.columns and bm25.count() > 0
    # dual-entity BM25: both indexes are built, the union scores both
    dual = svc.search(SearchRequest(query="glb", relevance="bm25", size=2000))
    assert {r["rectype"] for r in dual.collect()} == {"asset", "file"}

    explained = svc.search_with_explanations(
        SearchRequest(query="red", entity_types=("asset",))
    )
    row = explained.select("explanation.*").first()
    assert row["query_type"] == "general" and row["field_matches"] >= 1

    assert svc.comments_for_version("db_5", "asset_5", "v1").count() > 0
    tags = svc.tags()
    assert {r["type_declared"] for r in tags.collect()} == {True, False}
    assert svc.subscribers("Asset", "asset_5").count() >= 0
    dbs = svc.databases()
    assert dbs.count() == 20 and "asset_count" in dbs.columns
    assert svc.roles_for_user("user_4").count() >= 1
    assert svc.enabled_pipelines("db_1").count() == 2


def test_data_driven_constraints_match_literals(spark):
    """constraints_df (the ConstraintsStorageTable path) must compile to
    the same row filter as the equivalent Python literals."""
    from visual_asset_management_system_spark.queries import (
        _CONSTRAINT_ROWS_SQL,
        _LINK_CONSTRAINTS,
    )

    t = tables(spark, SF)
    lit_svc = CatalogService(t, constraints=_LINK_CONSTRAINTS)
    df_svc = CatalogService(t, constraints_df=spark.sql(_CONSTRAINT_ROWS_SQL))
    req = SearchRequest(entity_types=("asset",), size=2000)
    lit_ids = {tuple(r) for r in lit_svc.search(req).select("database_id", "asset_id").collect()}
    df_ids = {tuple(r) for r in df_svc.search(req).select("database_id", "asset_id").collect()}
    assert lit_ids == df_ids and lit_ids


def test_round5_tier_facade(spark, tmp_path):
    """Round-5 operators stay reachable through the one engine surface:
    suggester, date facet, phrase search, incremental corpus build."""
    svc = _svc(spark)

    # type-ahead: point lookup on the suggest index
    sug = svc.suggest("re").collect()
    assert sug and sug[0]["rank"] == 1 and sug[0]["prefix"] == "re"
    idx = svc.suggest_index()
    assert {"prefix", "suggestion", "freq", "rank"} <= set(idx.columns)

    # timeline facet: monthly buckets, months-in-range cardinality
    buckets = svc.date_facet().collect()
    assert buckets and all(len(r["bucket"]) == 7 for r in buckets)
    years = svc.date_facet(granularity="year").collect()
    assert 0 < len(years) <= len(buckets)

    # quoted-phrase search through the compiler (auto-quoting)
    hits = svc.phrase_search("red widget").collect()
    assert hits and all(r["score"] > 0 for r in hits)

    # incremental corpus build against fresh state
    docs = svc.t["assets"].sparkSession.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog near the bank"),
            (2, "the quick brown fox jumps over the lazy dog near the bank"),
        ],
        "doc_id long, text string",
    )
    accepted = svc.corpus_stream_update(str(tmp_path / "corpus"), docs)
    ids = {r["doc_id"] for r in accepted.select("doc_id").collect()}
    assert ids == {1}  # exact duplicate rejected within the batch

    # incremental substring dedup against fresh state: within-batch
    # duplicated 4-token span cut from both docs
    span = "s1 s2 s3 s4"
    sdocs = svc.t["assets"].sparkSession.createDataFrame(
        [(1, f"a {span} b"), (2, f"c {span} d")],
        "doc_id long, text string",
    )
    rewritten = {
        r["doc_id"]: (r["text"], r["n_removed"])
        for r in svc.substring_dedup_update(
            str(tmp_path / "subdedup"), sdocs, min_len=4, min_count=2
        ).collect()
    }
    assert rewritten == {1: ("a b", 4), 2: ("c d", 4)}


def test_geo_search_facade(spark):
    svc = _svc(spark)
    pts = spark.createDataFrame(
        [("a1", 45.0, -122.5), ("a2", 45.5, -122.0), ("a3", -30.0, 60.0)],
        "asset_id string, lat double, lon double",
    )
    hits = svc.geo_search(pts, 45.0, -122.5, radius_km=100.0).collect()
    ids = [r["asset_id"] for r in hits]
    assert ids == ["a1", "a2"]  # ordered by distance; antipode excluded
    assert hits[0]["dist_km"] == 0.0 and 0 < hits[1]["dist_km"] < 100


def test_geo_search_tie_page_deterministic_across_partitionings(spark):
    """Targeted regression for the r6 advisory: distances are grid-
    rounded to 1 m, so a ring of points ties freely — the returned
    size-limited page must be identical whatever the physical layout
    (the full-row tiebreak after dist_km, service.py geo_search).
    Plant 40 points at the SAME rounded distance plus row-level
    variety, take a page of 10 under several partitionings/orders."""
    svc = _svc(spark)
    rows = [
        # one degree of longitude at the equator, name varies per row —
        # identical dist_km after the 1 m grid for all of them
        (f"tie_{i:02d}", 0.0, 1.0, f"site_{i % 7}")
        for i in range(40)
    ] + [("near", 0.0, 0.5, "x"), ("far", 0.0, 30.0, "y")]
    base = spark.createDataFrame(
        rows, "asset_id string, lat double, lon double, label string"
    )
    pages = []
    for df in (
        base,
        base.repartition(13, "label"),
        base.repartition(1),
        base.orderBy(F.col("asset_id").desc()).repartition(5),
    ):
        page = svc.geo_search(df, 0.0, 0.0, radius_km=200.0, size=10)
        pages.append([tuple(r) for r in page.collect()])
    assert pages[0] == pages[1] == pages[2] == pages[3]
    assert pages[0][0][0] == "near"  # closest point leads the page


def test_suggest_serves_from_maintained_table(spark, tmp_path):
    """With a CDC-maintained suggest table in the tables dict, the
    facade serves from it (no rebuild over live assets)."""
    from visual_asset_management_system_spark.operators.inverted_index import (
        suggest_index_update,
    )
    from visual_asset_management_system_spark.streaming.cdc import read_sink

    state = str(tmp_path / "sugg")
    suggest_index_update(
        spark,
        state,
        spark.createDataFrame(
            [("db", "a1", "INSERT", "zephyr engine")],
            "database_id string, asset_id string, event_name string,"
            " asset_name string",
        ),
        "b1",
    )
    t = dict(tables(spark, SF))
    t["suggest"] = read_sink(spark, state + "/suggest")
    svc = CatalogService(t)
    got = svc.suggest("zep").collect()
    assert [r["suggestion"] for r in got] == ["zephyr"]
    # live assets don't contain 'zephyr' — proof it served the table
    assert (
        t["search_assets"].filter(F.col("asset_name").contains("zephyr")).count()
        == 0
    )


def test_more_like_this_facade(spark):
    svc = _svc(spark)
    out = svc.more_like_this("db_3", "asset_123", size=5)
    rows = out.collect()
    assert list(out.columns) == ["_mlt_key", "matched_terms", "mlt_score"]
    assert 0 < len(rows) <= 5
    # seed never appears in its own results
    assert all(r["_mlt_key"] != "db_3|asset_123" for r in rows)
    assert all(r["matched_terms"] >= 2 for r in rows)


def test_data_selection_facade(spark):
    """The training-mix assembly tier is reachable from the facade:
    dsir_weights / dsir_sample / token_budget wrap the sampling
    operators with the same defaults the registered queries use."""
    docs = tables(spark, SF)["documents"].select("doc_id", "text")
    target = docs.filter(F.col("doc_id") % 7 == 0)
    svc = _svc(spark)
    w = svc.dsir_weights(docs, target, n_buckets=1 << 20)
    assert {"doc_id", "n_grams", "n_target_leaning", "log_weight"} <= set(
        w.columns
    )
    picked = svc.dsir_sample(docs, target, k=5, n_buckets=1 << 20).collect()
    assert len(picked) == 5
    assert {r["doc_id"] for r in picked} <= {
        r["doc_id"] for r in docs.select("doc_id").collect()
    }
    tb = svc.token_budget(docs, budget=500, salt="tb").collect()
    assert tb and sum(r["n_tokens"] for r in tb) >= 500


def test_percolate_facade(spark):
    svc = _svc(spark)
    pq = spark.createDataFrame(
        [("pq_a", "red", "widget", "and"), ("pq_b", "red", "blue", "or")],
        ["query_id", "term_a", "term_b", "mode"],
    )
    changed = svc.t["assets"].filter(~F.col("is_archived"))
    out = svc.percolate(changed, pq).collect()
    assert out  # fixture names contain red/blue/widget
    by_asset = {r["asset_id"]: r["matched_queries"] for r in out}
    # every AND match is also an OR match on the shared term
    for r in out:
        if "pq_a" in r["matched_queries"]:
            assert "pq_b" in r["matched_queries"]
    # matched ids are sorted, comma-joined scalars
    for v in by_asset.values():
        parts = v.split(",")
        assert parts == sorted(parts)


def test_sketch_facade(spark):
    """The mergeable-sketch tier is reachable from the facade:
    distinct_sketch / merge_distinct_sketches / frequency_sketch /
    frequency_probe wrap operators/sketches.py with query defaults."""
    ev = tables(spark, SF)["events"]
    svc = _svc(spark)
    sk = svc.distinct_sketch(ev, "user_id", ["event_type"], k=8)
    rows = sk.collect()
    assert rows and all(len(r["kmv"]) <= 8 for r in rows)
    merged = svc.merge_distinct_sketches(sk, k=8).collect()
    assert len(merged) == 1 and len(merged[0]["kmv"]) == 8
    cms = svc.frequency_sketch(ev, "user_id", depth=2, width=32)
    probed = svc.frequency_probe(
        ev.select("user_id").distinct(), cms, "user_id", depth=2, width=32
    ).collect()
    exact = {
        r["user_id"]: r["n"]
        for r in ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert all(r["cms_est"] >= exact[r["user_id"]] for r in probed)


def test_kmv_store_facade(spark, tmp_path):
    """Maintained KMV store round-trip through the facade."""
    ev = tables(spark, SF)["events"]
    svc = _svc(spark)
    store = str(tmp_path / "kmv_store")
    svc.distinct_sketch_update(
        store, ev, "user_id", group_cols=["event_type"], k=8, batch_key="b0"
    )
    sk = svc.distinct_sketch_read(
        spark, store, group_cols=["event_type"], k=8
    ).collect()
    direct = {
        r["event_type"]: list(r["kmv"])
        for r in svc.distinct_sketch(
            ev, "user_id", ["event_type"], k=8
        ).collect()
    }
    assert {r["event_type"]: list(r["kmv"]) for r in sk} == direct
    cms_store = str(tmp_path / "cms_store")
    svc.frequency_sketch_update(
        cms_store, ev, "user_id", depth=2, width=32, batch_key="b0"
    )
    got = {
        (r["d"], r["c"]): r["cell_cnt"]
        for r in svc.frequency_sketch_read(spark, cms_store).collect()
    }
    direct_cms = {
        (r["d"], r["c"]): r["cell_cnt"]
        for r in svc.frequency_sketch(
            ev, "user_id", depth=2, width=32
        ).collect()
    }
    assert got == direct_cms


def test_setsim_and_mad_facades(spark, tmp_path):
    """setsim_join / setsim_update / mad_anomaly round-trip through the
    facade: batch join equals the incremental store's cumulative
    emissions; mad_anomaly matches the q_events_anomaly_mad registered
    plan's semantics on the events table."""
    svc = _svc(spark)

    t = lambda lo, hi: " ".join(f"tok{i}" for i in range(lo, hi))  # noqa: E731
    docs = [(1, t(0, 60)), (2, t(0, 55)), (3, t(200, 240))]
    full = spark.createDataFrame(docs, "doc_id long, text string")
    want = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in svc.setsim_join(full, threshold=0.8).collect()
    }
    assert {(p[0], p[1]) for p in want} == {(1, 2)}

    store = str(tmp_path / "svc_setsim")
    got = set()
    for i, b in enumerate([docs[:2], docs[2:]]):
        got |= {
            (r["id_a"], r["id_b"], r["jaccard"])
            for r in svc.setsim_update(
                store,
                spark.createDataFrame(b, "doc_id long, text string"),
                threshold=0.8,
                batch_key=f"b{i}",
            ).collect()
        }
    assert got == want

    ev = tables(spark, SF)["events"].select("event_type", "value")
    from visual_asset_management_system_spark.queries import QUERIES

    facade = {
        r["event_type"]: (r["n"], r["med"], r["mad"], r["n_anomalies"])
        for r in svc.mad_anomaly(ev, "value", ["event_type"]).collect()
    }
    registered = {
        r["event_type"]: (r["n"], r["med"], r["mad"], r["n_anomalies"])
        for r in QUERIES["q_events_anomaly_mad"](spark, SF).collect()
    }
    assert facade == registered


def test_membership_filter_facade(spark):
    """Bloom facade round-trip: keys in -> all probe true."""
    svc = _svc(spark)
    keys = spark.createDataFrame([(f"k{i}",) for i in range(50)], "key string")
    bloom = svc.membership_filter(keys, "key", m=4096, depth=3)
    got = {
        r["key"]: r["bloom_maybe"]
        for r in svc.membership_probe(keys, bloom, "key", m=4096, depth=3).collect()
    }
    assert all(got.values()) and len(got) == 50


# -- per-request Spark work ---------------------------------------------------

#: kind -> (request, max jobs, max tasks or None)
_BUDGETS = {
    "get_metadata": (lambda s: s.get_metadata("db_3", "asset_123"), 2, None),
    "get_asset_links": (lambda s: s.get_asset_links("db_2", "asset_42"), 3, None),
    "suggest": (lambda s: s.suggest("re"), 2, None),
    "text": (lambda s: s.search(SearchRequest(
        query="red", entity_types=("asset",), size=20)), 1, 2),
    "filter": (lambda s: s.search(SearchRequest(
        entity_types=("file",),
        filters=[SearchFilter("file_ext", "eq", "glb"),
                 SearchFilter("file_size", "gte", 1000)],
        sort=[SortSpec("file_size", descending=True)], size=20)), 1, 2),
    "metadata_query": (lambda s: s.search(SearchRequest(
        metadata_query="status:F", entity_types=("asset",), size=20)), 1, 2),
}


@pytest.mark.parametrize("kind", sorted(_BUDGETS))
@pytest.mark.parametrize("constrained", [False, True])
def test_request_job_and_task_budget(spark, jobs_and_tasks, kind, constrained):
    """Each serving request starts at most its budgeted Spark jobs (and,
    for the full-scan searches, tasks): one job per lookup stage, and a
    search table scan in as few tasks as its files need."""
    allow = [Constraint("allow", "GET", (
        Criterion("database_id", "is_in", ("db_2", "db_3", "db_6")),
    ))]
    svc = _svc(spark, allow if constrained else None)
    request, max_jobs, max_tasks = _BUDGETS[kind]
    request(svc).collect()  # first run: code generation, file listing
    jobs, tasks = jobs_and_tasks(lambda: request(svc).collect())
    assert 1 <= jobs <= max_jobs, (kind, jobs, tasks)
    if max_tasks is not None:
        assert tasks <= max_tasks, (kind, jobs, tasks)


def test_search_tables_are_key_clustered(spark):
    """The materialized search tables carry no bucket spec, and their
    files hold sorted, non-overlapping (database_id, asset_id) ranges —
    also when the write produces several files."""
    import pyarrow.parquet as pq

    from visual_asset_management_system_spark.operators.bucketing import (
        drop_table,
        write_clustered_table,
    )

    def key_ranges(df):
        ranges = []
        for f in df.inputFiles():
            cols = pq.read_table(
                urlparse(f).path, columns=["database_id", "asset_id"]
            ).to_pydict()
            keys = list(zip(cols["database_id"], cols["asset_id"]))
            assert keys == sorted(keys), f
            ranges.append((keys[0], keys[-1]))
        ranges.sort()
        assert all(a[1] < b[0] for a, b in zip(ranges, ranges[1:])), ranges
        return ranges

    t = tables(spark, SF)
    tag = hashlib.md5(SF.encode()).hexdigest()[:8]
    for name in ("search_assets", "search_files"):
        desc = spark.sql(f"DESCRIBE TABLE EXTENDED {name}_{tag}").collect()
        assert not [r for r in desc if r["col_name"] == "Num Buckets"], name
        assert key_ranges(t[name])

    # without AQE's coalescing the sort writes one file per shuffle
    # partition — the many-file shape of a large table
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        write_clustered_table(
            t["search_files"], "clustered_files", ["database_id", "asset_id"]
        )
        split = spark.table("clustered_files")
        assert len(key_ranges(split)) > 1
        assert split.count() == t["search_files"].count()
    finally:
        spark.conf.set(key, prev)
        drop_table(spark, "clustered_files")
