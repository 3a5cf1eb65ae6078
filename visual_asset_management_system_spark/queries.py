"""Query registry: every declared operator as (Spark callable, DuckDB oracle).

Each entry is one operator/query from SURVEY.md §2 (or a BASELINE.json
scale extension), expressed twice:

- a Spark callable ``(spark, sf_dir) -> DataFrame`` — the engine path;
- an ANSI-SQL oracle string DuckDB runs on the same parquet tables.

Cross-engine determinism conventions (see also sources/vams.py):
- double SUMs go through DECIMAL(38,10) accumulation then cast back to
  double — exact, order-independent, identical in both engines;
- float comparisons round to a fixed digit count *before* ordering;
- every ORDER BY ends in a unique-key tiebreak when a LIMIT follows;
- timestamps with sub-microsecond sources are compared as epoch micros;
- DuckDB types ``SUM(CASE WHEN … THEN 1 …)`` as HUGEINT (int128) where
  Spark emits bigint — the driver's value hash is type-sensitive, so
  every conditional-count SUM in an oracle must be wrapped in
  ``CAST(… AS BIGINT)``.
"""

from __future__ import annotations

import os
from collections.abc import Callable

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .models.search import SearchFilter, SearchRequest, SortSpec
from .operators.authz import Constraint, Criterion, compile_constraints
from .operators.dedup import (
    exact_duplicate_groups,
    minhash_dedup,
    simhash_near_duplicates,
    word_shingles,
)
from .functions.normalize import (
    coerce_boolean,
    coerce_number,
    composite_key,
    file_extension,
    is_folder,
    split_composite_key,
)
from .operators.graph import descendants, one_hop
from .operators.search_tables import (
    build_search_assets,
    build_search_files,
    relationship_flags,
)
from .operators.similarity import cosine_topk, lsh_topk, _hyperplanes
from .operators.text import (
    STOPWORDS,
    bpe_token_estimate,
    fingerprint,
    lang_id,
    lang_quality_gate,
    quality_score,
    token_count,
    tokens,
)
from .operators.versions import as_of, latest_versions
from .operators.eav import pivot_metadata, validate_metadata
from .plans.compiler import SearchCompiler
from .plans.workflow import Pipeline, Workflow
from .sources.tpch import load_tables
from .sources.vams import VAMS_VIEW_SQL, oracle_with

# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------

def _dsum(col, alias: str):
    """Order-independent exact sum of a double column (see module doc)."""
    return F.sum(col.cast("decimal(38,10)")).cast("double").alias(alias)


def _davg(col, alias: str):
    return (
        F.sum(col.cast("decimal(38,10)")).cast("double") / F.count(F.lit(1))
    ).alias(alias)


def O_SUM(expr: str) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(38,10))) AS DOUBLE)"


def O_AVG(expr: str) -> str:
    return f"({O_SUM(expr)} / COUNT(*))"


_tables_cache: dict[tuple[int, str], dict[str, DataFrame]] = {}


def _materialize(
    df: DataFrame, name: str, sf_dir: str,
    write: Callable[[DataFrame, str], None],
) -> DataFrame:
    """Write maintained state as an on-disk table (once per session ×
    sf_dir) with ``write(df, table)`` and return the read-back scan.

    The search tables and the inverted index are MAINTAINED state in
    the architecture (CDC keeps them current — streaming/cdc.py); a
    per-query rebuild would charge every search with its own index
    build. Earlier rounds modeled this with ``.persist()``, but cache
    residency is suite-order-dependent — under memory pressure the
    blocks evict and every consumer branch re-derives the build subtree
    (VERDICT r8 #2: 10 ``part`` scans in the bm25 executed plan). A
    materialized table is also the honest deployment model: on a
    cluster these are parquet/Delta tables, not executor caches — every
    read is a plain FileScan of the artifact regardless of what else
    ran.

    Each caller picks the layout its readers use (operators/
    bucketing.py): the search tables are key-clustered on
    (database_id, asset_id) — AQE sizes the files, so a serving scan
    opens as few files (and runs as few tasks) as the table's size
    needs; no serving plan reads a bucket spec. A ``database_id``
    filter still opens every file: only row-group skipping by parquet
    min/max statistics is possible, and it is not measured. The
    postings stay bucketed on ``term``: a bm25 query's term lookup
    prunes to the probed buckets and joins without a shuffle."""
    import hashlib

    spark = df.sparkSession
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    table = f"{name}_{tag}"
    try:
        write(df, table)
    except Exception as exc:  # noqa: BLE001 — unwritable warehouse
        # (e.g. a read-only harness cwd under a vanilla session):
        # degrade to the cache model rather than failing every consumer
        # query. The degradation is LOUD (a genuine write bug —
        # schema/serialization, not permissions — must not hide behind
        # the cache model whose scan-count nondeterminism the plan
        # baselines were built to remove), and permission-class errors
        # keep the quiet fallback.
        import warnings

        msg = str(exc)
        permission_class = any(
            s in msg
            for s in ("Permission denied", "Read-only file system",
                      "AccessDenied", "EACCES", "EROFS")
        )
        if not permission_class:
            warnings.warn(
                f"_materialize({table}): saveAsTable failed with "
                f"{type(exc).__name__}: {msg[:200]} — degrading to "
                "persist(); plan-structure baselines may not hold",
                RuntimeWarning,
                stacklevel=2,
            )
        return df.persist()
    return spark.table(table)


def _write_search_table(df: DataFrame, table: str) -> None:
    from .operators.bucketing import write_clustered_table

    write_clustered_table(df, table, ["database_id", "asset_id"])


def tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Base tables + VAMS derived views + denormalized search tables."""
    key = (id(spark), sf_dir)
    if key in _tables_cache:
        return _tables_cache[key]
    t = load_tables(spark, sf_dir)
    for name, df in t.items():
        df.createOrReplaceTempView(name)
    for name, sql in VAMS_VIEW_SQL.items():
        t[name] = spark.sql(sql)
        t[name].createOrReplaceTempView(name)
    t["search_assets"] = _materialize(
        build_search_assets(
            t["assets"], t["buckets"], t["metadata"], t["asset_links"]
        ),
        "search_assets", sf_dir, _write_search_table,
    )
    t["search_files"] = _materialize(
        build_search_files(
            t["files"], t["assets"], t["file_metadata"], t["file_attributes"]
        ),
        "search_files", sf_dir, _write_search_table,
    )
    _tables_cache[key] = t
    return t


def _query_vector(sf_dir: str, vec_id: int = 0) -> list[float]:
    """One embedding row via parquet row-group filter pushdown — never a
    full-table driver materialization (the 100 TB posture: a point lookup
    reads only the row groups whose statistics admit the key)."""
    import pyarrow.parquet as pq

    tbl = pq.read_table(
        os.path.join(sf_dir, "embeddings.parquet"),
        columns=["embedding"],
        filters=[("vec_id", "==", vec_id)],
    )
    return [float(x) for x in tbl.column("embedding")[0].as_py()]


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# ---------------------------------------------------------------------------
# §2.4/2.6 relational core on the TPC-H-ish tables
# ---------------------------------------------------------------------------

@query(
    "q01_pricing_summary",
    f"""
    SELECT l_returnflag, l_linestatus,
           {O_SUM('l_quantity')} AS sum_qty,
           {O_SUM('l_extendedprice')} AS sum_base_price,
           {O_SUM('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
           {O_SUM('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
           {O_AVG('l_quantity')} AS avg_qty,
           {O_AVG('l_extendedprice')} AS avg_price,
           {O_AVG('l_discount')} AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q01(spark, sf_dir):
    li = tables(spark, sf_dir)["lineitem"]
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dsum(F.col("l_quantity"), "sum_qty"),
            _dsum(F.col("l_extendedprice"), "sum_base_price"),
            _dsum(disc, "sum_disc_price"),
            _dsum(disc * (1 + F.col("l_tax")), "sum_charge"),
            _davg(F.col("l_quantity"), "avg_qty"),
            _davg(F.col("l_extendedprice"), "avg_price"),
            _davg(F.col("l_discount"), "avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query(
    "q03_shipping_priority",
    f"""
    SELECT l_orderkey, o_orderdate,
           {O_SUM('l_extendedprice * (1 - l_discount)')} AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1997-01-01'
      AND l_shipdate > TIMESTAMP '1997-01-01'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
    """,
)
def q03(spark, sf_dir):
    t = tables(spark, sf_dir)
    return (
        t["customer"]
        .filter(F.col("c_mktsegment") == "BUILDING")
        .join(t["orders"], F.col("c_custkey") == F.col("o_custkey"))
        .filter(F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
        .join(t["lineitem"], F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("l_shipdate") > F.lit("1997-01-01").cast("timestamp"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )


@query(
    "q05_local_supplier_volume",
    f"""
    SELECT n_name, {O_SUM('l_extendedprice * (1 - l_discount)')} AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
)
def q05(spark, sf_dir):
    t = tables(spark, sf_dir)
    return (
        t["customer"]
        .join(t["orders"], F.col("c_custkey") == F.col("o_custkey"))
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .join(t["lineitem"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            t["supplier"],
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(F.col("r_name") == "ASIA")
        .groupBy("n_name")
        .agg(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .orderBy(F.desc("revenue"), "n_name")
    )


@query(
    "q_top_parts_revenue",
    f"""
    WITH rev AS (
        SELECT l_partkey, {O_SUM('l_extendedprice * (1 - l_discount)')} AS revenue
        FROM lineitem GROUP BY l_partkey
        ORDER BY revenue DESC, l_partkey LIMIT 20
    )
    SELECT r.l_partkey, p.p_name, r.revenue
    FROM rev r JOIN part p ON r.l_partkey = p.p_partkey
    ORDER BY r.revenue DESC, r.l_partkey
    """,
)
def q_top_parts(spark, sf_dir):
    t = tables(spark, sf_dir)
    top = (
        t["lineitem"]
        .groupBy("l_partkey")
        .agg(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .orderBy(F.desc("revenue"), "l_partkey")
        .limit(20)
    )
    return (
        F.broadcast(top).join(t["part"], top["l_partkey"] == F.col("p_partkey"))
        .select("l_partkey", "p_name", "revenue")
        .orderBy(F.desc("revenue"), "l_partkey")
    )


@query(
    "q_window_rank",
    """
    SELECT * FROM (
        SELECT c_mktsegment, c_custkey, c_name, c_acctbal,
               ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                  ORDER BY c_acctbal DESC, c_custkey) AS rn
        FROM customer
    ) WHERE rn <= 3
    ORDER BY c_mktsegment, rn
    """,
)
def q_window_rank(spark, sf_dir):
    t = tables(spark, sf_dir)
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("c_acctbal"), F.asc("c_custkey")
    )
    return (
        t["customer"]
        .select(
            "c_mktsegment",
            "c_custkey",
            "c_name",
            "c_acctbal",
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 3)
        .orderBy("c_mktsegment", "rn")
    )


@query(
    "q_window_running_total",
    """
    SELECT o_custkey, o_orderkey, o_orderdate,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,10))) OVER (
                PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             AS running_spend
    FROM orders WHERE o_custkey <= 200
    ORDER BY o_custkey, o_orderdate, o_orderkey
    """,
)
def q_window_running(spark, sf_dir):
    t = tables(spark, sf_dir)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        t["orders"]
        .filter(F.col("o_custkey") <= 200)
        .select(
            "o_custkey",
            "o_orderkey",
            "o_orderdate",
            F.sum(F.col("o_totalprice").cast("decimal(38,10)"))
            .over(w)
            .cast("double")
            .alias("running_spend"),
        )
        .orderBy("o_custkey", "o_orderdate", "o_orderkey")
    )


@query(
    "q_cube_returns",
    f"""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows,
           {O_SUM('l_quantity')} AS sum_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
)
def q_cube(spark, sf_dir):
    t = tables(spark, sf_dir)
    return (
        t["lineitem"]
        .cube("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            _dsum(F.col("l_quantity"), "sum_qty"),
        )
        .orderBy(
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
    )


@query(
    "q_rollup_orders",
    f"""
    SELECT CAST(YEAR(o_orderdate) AS INT) AS order_year, o_orderpriority,
           COUNT(*) AS n_orders, {O_SUM('o_totalprice')} AS sum_price
    FROM orders
    GROUP BY ROLLUP (CAST(YEAR(o_orderdate) AS INT), o_orderpriority)
    ORDER BY order_year NULLS FIRST, o_orderpriority NULLS FIRST
    """,
)
def q_rollup(spark, sf_dir):
    t = tables(spark, sf_dir)
    return (
        t["orders"]
        .withColumn("order_year", F.year("o_orderdate").cast("int"))
        .rollup("order_year", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            _dsum(F.col("o_totalprice"), "sum_price"),
        )
        .orderBy(
            F.col("order_year").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


@query(
    "q_distinct_counts",
    """
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS n_parts,
           COUNT(DISTINCT l_suppkey) AS n_suppliers,
           COUNT(*) AS n_rows
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def q_distinct_counts(spark, sf_dir):
    t = tables(spark, sf_dir)
    return (
        t["lineitem"]
        .groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("n_parts"),
            F.countDistinct("l_suppkey").alias("n_suppliers"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "q_percentiles",
    """
    SELECT o_orderpriority,
           ROUND(quantile_cont(o_totalprice, 0.5), 2) AS p50,
           ROUND(quantile_cont(o_totalprice, 0.9), 2) AS p90,
           ROUND(MAX(o_totalprice), 2) AS max_price
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def q_percentiles(spark, sf_dir):
    t = tables(spark, sf_dir)
    return (
        t["orders"]
        .groupBy("o_orderpriority")
        .agg(
            F.round(F.expr("percentile(o_totalprice, 0.5)"), 2).alias("p50"),
            F.round(F.expr("percentile(o_totalprice, 0.9)"), 2).alias("p90"),
            F.round(F.max("o_totalprice"), 2).alias("max_price"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "q_set_except",
    """
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    EXCEPT
    SELECT o_custkey FROM orders WHERE o_totalprice > 250000
    ORDER BY c_custkey
    """,
)
def q_set_except(spark, sf_dir):
    t = tables(spark, sf_dir)
    building = (
        t["customer"].filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    )
    big = (
        t["orders"]
        .filter(F.col("o_totalprice") > 250000)
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return building.subtract(big).orderBy("c_custkey")


@query(
    "q_set_intersect",
    """
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_totalprice > 250000
    ORDER BY c_custkey
    """,
)
def q_set_intersect(spark, sf_dir):
    t = tables(spark, sf_dir)
    building = (
        t["customer"].filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    )
    big = (
        t["orders"]
        .filter(F.col("o_totalprice") > 250000)
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return building.intersect(big).orderBy("c_custkey")


@query(
    "q_theta_join",
    f"""
    SELECT p_brand, COUNT(*) AS n_rows, {O_SUM('l_quantity')} AS sum_qty
    FROM lineitem JOIN part ON l_partkey = p_partkey AND l_quantity > p_size
    GROUP BY p_brand ORDER BY p_brand
    """,
)
def q_theta_join(spark, sf_dir):
    t = tables(spark, sf_dir)
    return (
        t["lineitem"]
        .join(
            t["part"],
            (F.col("l_partkey") == F.col("p_partkey"))
            & (F.col("l_quantity") > F.col("p_size")),
        )
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            _dsum(F.col("l_quantity"), "sum_qty"),
        )
        .orderBy("p_brand")
    )


@query(
    "q_range_band_join",
    """
    WITH bands AS (
        SELECT r_regionkey AS band,
               r_regionkey * 60000.0 AS lo, (r_regionkey + 1) * 60000.0 AS hi
        FROM region
    )
    SELECT band, COUNT(*) AS n_orders
    FROM orders JOIN bands ON o_totalprice >= lo AND o_totalprice < hi
    GROUP BY band ORDER BY band
    """,
)
def q_range_band_join(spark, sf_dir):
    t = tables(spark, sf_dir)
    bands = t["region"].select(
        F.col("r_regionkey").alias("band"),
        (F.col("r_regionkey") * 60000.0).alias("lo"),
        ((F.col("r_regionkey") + 1) * 60000.0).alias("hi"),
    )
    return (
        t["orders"]
        .join(
            F.broadcast(bands),
            (F.col("o_totalprice") >= F.col("lo")) & (F.col("o_totalprice") < F.col("hi")),
        )
        .groupBy("band")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy("band")
    )


@query(
    "q_offset_pagination",
    """
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 20 OFFSET 100
    """,
)
def q_offset_pagination(spark, sf_dir):
    t = tables(spark, sf_dir)
    return (
        t["orders"]
        .select("o_orderkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .offset(100)
        .limit(20)
    )


# ---------------------------------------------------------------------------
# §2.9-adjacent event-time queries on the events table (batch form of the
# streaming operators: tumbling window, sessionization, as-of enrichment)
# ---------------------------------------------------------------------------

@query(
    "q_events_tumbling",
    f"""
    SELECT CAST(epoch_us(date_trunc('hour', ts)) / 1000000 AS BIGINT) AS hour_s,
           event_type, COUNT(*) AS n_events, {O_SUM('value')} AS sum_value
    FROM events
    GROUP BY 1, 2 ORDER BY hour_s, event_type
    """,
)
def q_events_tumbling(spark, sf_dir):
    # events.ts arrives as bigint nanos (load_tables conforms every
    # physical encoding to epoch_ns — sources/tpch.py): pure integer
    # truncation — ns values exceed double's exact range, so no floats
    t = tables(spark, sf_dir)
    return (
        t["events"]
        .groupBy(
            F.expr("(ts div 3600000000000) * 3600").alias("hour_s"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _dsum(F.col("value"), "sum_value"),
        )
        .orderBy("hour_s", "event_type")
    )


@query(
    "q_events_hopping",
    f"""
    WITH e AS (
        SELECT epoch_us(ts) AS ts_us, event_type, value FROM events
    ), w AS (
        SELECT unnest([
                   (ts_us // 1800000000) * 1800000000,
                   (ts_us // 1800000000) * 1800000000 - 1800000000
               ]) AS w_start_us,
               event_type, value
        FROM e
    )
    SELECT w_start_us // 1000000 AS w_start_s, event_type,
           COUNT(*) AS n_events, {O_SUM('value')} AS sum_value
    FROM w
    GROUP BY w_start_s, event_type
    ORDER BY w_start_s, event_type
    """,
)
def q_events_hopping(spark, sf_dir):
    """Hopping (sliding) windows: 1 h windows every 30 min — each event
    lands in exactly size/slide = 2 windows (the explode-over-starts
    construction ``F.window(ts, size, slide)`` uses internally; done in
    pure integer nanosecond math here because events.ts arrives as
    bigint nanos). Streaming form: same aggregation under
    ``withWatermark`` (streaming/windows.py)."""
    t = tables(spark, sf_dir)
    slide_ns = 1_800_000_000_000  # 30 min
    base = F.expr(f"(ts div {slide_ns}) * {slide_ns}")
    return (
        t["events"]
        .withColumn(
            "w_start_ns",
            F.explode(F.array(base, base - F.lit(slide_ns))),
        )
        .groupBy(
            F.expr("w_start_ns div 1000000000").alias("w_start_s"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _dsum(F.col("value"), "sum_value"),
        )
        .orderBy("w_start_s", "event_type")
    )


@query(
    "q_events_sessionize",
    f"""
    WITH e AS (
        SELECT user_id, event_id, epoch_us(ts) AS ts_us, value FROM events
    ), flagged AS (
        SELECT *, CASE WHEN ts_us - LAG(ts_us) OVER w > 1800000000
                       THEN 1 ELSE 0 END AS new_session
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
    ), sessions AS (
        SELECT *, SUM(new_session) OVER (PARTITION BY user_id
                   ORDER BY ts_us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
        FROM flagged
    )
    SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
           COUNT(*) AS n_events,
           MIN(ts_us) AS session_start_us, MAX(ts_us) AS session_end_us,
           {O_SUM('value')} AS sum_value
    FROM sessions GROUP BY user_id, session_idx
    ORDER BY user_id, session_idx
    """,
)
def q_events_sessionize(spark, sf_dir):
    t = tables(spark, sf_dir)
    e = t["events"].select(
        "user_id", "event_id", F.expr("ts div 1000").alias("ts_us"), "value"
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    flagged = e.withColumn(
        "new_session",
        F.when(
            F.col("ts_us") - F.lag("ts_us").over(w) > 1800000000, 1
        ).otherwise(0),
    )
    sessions = flagged.withColumn(
        "session_idx",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        sessions.groupBy("user_id", F.col("session_idx").cast("bigint").alias("session_idx"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts_us").alias("session_start_us"),
            F.max("ts_us").alias("session_end_us"),
            _dsum(F.col("value"), "sum_value"),
        )
        .orderBy("user_id", "session_idx")
    )


@query(
    "q_events_asof",
    """
    WITH e AS (
        SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us FROM events
    ), enriched AS (
        SELECT *, LAST_VALUE(CASE WHEN event_type = 'signup' THEN ts_us END
                             IGNORE NULLS) OVER (
                    PARTITION BY user_id ORDER BY ts_us, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS last_signup_us
        FROM e
    )
    SELECT event_id, user_id, ts_us, last_signup_us
    FROM enriched WHERE event_type = 'purchase'
    ORDER BY event_id
    """,
)
def q_events_asof(spark, sf_dir):
    t = tables(spark, sf_dir)
    e = t["events"].select(
        "user_id", "event_id", "event_type", F.expr("ts div 1000").alias("ts_us")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        e.withColumn(
            "last_signup_us",
            F.last(
                F.when(F.col("event_type") == "signup", F.col("ts_us")),
                ignorenulls=True,
            ).over(w),
        )
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "ts_us", "last_signup_us")
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# VAMS domain surface (search compiler, EAV, graph, versions, authz) over
# the derived views — SURVEY §2.1-2.3, §2.6, §2.11
# ---------------------------------------------------------------------------

@query(
    "q_vams_simple_search",
    oracle_with("files")
    + """
    SELECT database_id, asset_id, file_key, file_size FROM files
    WHERE NOT is_archived AND file_ext = 'glb' AND file_size >= 50000
      AND database_id IN ('db_1', 'db_3', 'db_5')
    ORDER BY file_size DESC, database_id, asset_id, file_key
    LIMIT 100
    """,
)
def q_vams_simple_search(spark, sf_dir):
    t = tables(spark, sf_dir)
    sc = SearchCompiler({"file": t["search_files"], "asset": t["search_assets"]})
    req = SearchRequest(
        entity_types=("file",),
        filters=[
            SearchFilter("file_ext", "eq", "glb"),
            SearchFilter("file_size", "gte", 50000),
        ],
        databases=["db_1", "db_3", "db_5"],
        sort=[SortSpec("file_size", descending=True)],
        size=100,
    )
    return sc.hits(req).select("database_id", "asset_id", "file_key", "file_size")


@query(
    "q_vams_text_search",
    oracle_with("assets")
    + """
    SELECT * FROM (
        SELECT database_id, asset_id, asset_name,
               CAST(CASE WHEN contains(lower(asset_name), 'red') THEN 2.0 ELSE 0.0 END
                  + CASE WHEN contains(lower(description), 'red') THEN 1.0 ELSE 0.0 END
                  + CASE WHEN contains(lower(asset_type), 'red') THEN 1.0 ELSE 0.0 END
                    AS DOUBLE) AS score
        FROM assets WHERE NOT is_archived
    ) WHERE score > 0.01
    ORDER BY score DESC, database_id, asset_id
    LIMIT 500
    """,
)
def q_vams_text_search(spark, sf_dir):
    t = tables(spark, sf_dir)
    sc = SearchCompiler({"asset": t["search_assets"], "file": t["search_files"]})
    req = SearchRequest(
        query="red", entity_types=("asset",), size=500
    )
    return sc.hits(req).select("database_id", "asset_id", "asset_name", "score")


@query(
    "q_vams_facets",
    oracle_with("assets")
    + """
    SELECT facet_field, facet_value, COUNT(*) AS doc_count FROM (
        SELECT 'asset_type' AS facet_field, asset_type AS facet_value
        FROM assets WHERE NOT is_archived
        UNION ALL
        SELECT 'tags', tag1 FROM assets WHERE NOT is_archived
        UNION ALL
        SELECT 'tags', tag2 FROM assets WHERE NOT is_archived
    )
    GROUP BY facet_field, facet_value
    ORDER BY doc_count DESC, facet_value
    LIMIT 1000
    """,
)
def q_vams_facets(spark, sf_dir):
    t = tables(spark, sf_dir)
    sc = SearchCompiler({"asset": t["search_assets"], "file": t["search_files"]})
    req = SearchRequest(
        entity_types=("asset",), facets=["asset_type", "tags"], size=1
    )
    return sc.facets(req)


@query(
    "q_vams_search_totals",
    oracle_with("assets", "files")
    + """
    SELECT * FROM (
        SELECT 'asset' AS rectype, COUNT(*) AS total_hits FROM assets
        WHERE NOT is_archived AND (
            contains(lower(asset_name), 'red')
            OR contains(lower(description), 'red')
            OR contains(lower(asset_type), 'red'))
        UNION ALL
        SELECT 'file', COUNT(*) FROM files
        WHERE NOT is_archived AND (
            contains(lower(file_key), 'red')
            OR contains(lower(file_ext), 'red'))
    )
    ORDER BY rectype
    """,
)
def q_vams_search_totals(spark, sf_dir):
    """track_total_hits: exact pre-limit hit counts per entity for a
    dual-entity text query (search.py:1589-1603) — computed inside the
    plan, never by over-fetching."""
    t = tables(spark, sf_dir)
    sc = SearchCompiler({"asset": t["search_assets"], "file": t["search_files"]})
    req = SearchRequest(query="red", entity_types=("asset", "file"), size=1)
    return sc.totals_df(req).orderBy("rectype")


@query(
    "q_vams_metadata_facets",
    oracle_with("assets", "metadata")
    + """
    SELECT facet_field, facet_value, COUNT(*) AS doc_count FROM (
        SELECT 'metadata.status' AS facet_field, m.status AS facet_value
        FROM assets a JOIN (
            SELECT database_id, asset_id,
                   MAX(CASE WHEN metadata_key = 'status'
                       THEN metadata_value END) AS status
            FROM metadata WHERE file_path = '/'
            GROUP BY database_id, asset_id
        ) m ON a.database_id = m.database_id AND a.asset_id = m.asset_id
        WHERE NOT a.is_archived AND m.status IS NOT NULL
    )
    GROUP BY facet_field, facet_value
    ORDER BY doc_count DESC, facet_value
    LIMIT 1000
    """,
)
def q_vams_metadata_facets(spark, sf_dir):
    """Terms aggregation on a metadata pseudo-field (``MD_.status``) —
    the flat-object facet leg of search.py:1392-1486."""
    t = tables(spark, sf_dir)
    sc = SearchCompiler({"asset": t["search_assets"], "file": t["search_files"]})
    req = SearchRequest(
        entity_types=("asset",), facets=["metadata.status"], size=1
    )
    return sc.facets(req)


@query(
    "q_vams_metadata_pivot",
    oracle_with("metadata")
    + """
    SELECT database_id, asset_id,
           MAX(CASE WHEN metadata_key = 'status' THEN metadata_value END) AS status,
           MAX(CASE WHEN metadata_key = 'priority' THEN metadata_value END) AS priority,
           MAX(CASE WHEN metadata_key = 'price_tier' THEN metadata_value END) AS price_tier,
           MAX(CASE WHEN metadata_key = 'order_date' THEN metadata_value END) AS order_date
    FROM metadata GROUP BY database_id, asset_id
    ORDER BY database_id, asset_id
    """,
)
def q_vams_metadata_pivot(spark, sf_dir):
    t = tables(spark, sf_dir)
    return pivot_metadata(
        t["metadata"], keys=["status", "priority", "price_tier", "order_date"]
    ).orderBy("database_id", "asset_id")


@query(
    "q_vams_metadata_query",
    oracle_with("assets", "metadata")
    + """
    SELECT a.database_id, a.asset_id, a.asset_name
    FROM assets a JOIN (
        SELECT database_id, asset_id,
               MAX(CASE WHEN metadata_key = 'status' THEN metadata_value END) AS status,
               MAX(CASE WHEN metadata_key = 'price_tier' THEN metadata_value END) AS price_tier
        FROM metadata GROUP BY database_id, asset_id
    ) m ON a.database_id = m.database_id AND a.asset_id = m.asset_id
    WHERE NOT a.is_archived
      AND contains(lower(m.status), 'p')
      AND contains(lower(m.price_tier), 'low')
    ORDER BY a.database_id, a.asset_id
    """,
)
def q_vams_metadata_query(spark, sf_dir):
    t = tables(spark, sf_dir)
    sc = SearchCompiler({"asset": t["search_assets"], "file": t["search_files"]})
    req = SearchRequest(
        entity_types=("asset",),
        metadata_query="status:P AND price_tier:low",
        size=2000,
    )
    return sc.hits(req).select("database_id", "asset_id", "asset_name")


@query(
    "q_vams_metadata_exists",
    oracle_with("assets", "metadata")
    + """
    SELECT a.database_id, a.asset_id
    FROM assets a
    WHERE NOT a.is_archived AND EXISTS (
        SELECT 1 FROM metadata m
        WHERE m.database_id = a.database_id AND m.asset_id = a.asset_id
          AND m.metadata_key = 'priority'
    )
    ORDER BY a.database_id, a.asset_id
    """,
)
def q_vams_metadata_exists(spark, sf_dir):
    t = tables(spark, sf_dir)
    sc = SearchCompiler({"asset": t["search_assets"], "file": t["search_files"]})
    req = SearchRequest(
        entity_types=("asset",),
        metadata_query="priority:any",
        metadata_search_mode="key",
        size=2000,
    )
    return sc.hits(req).select("database_id", "asset_id")


@query(
    "q_vams_file_metadata_query",
    oracle_with("files", "file_metadata")
    + """
    SELECT f.database_id, f.asset_id, f.file_key
    FROM files f JOIN (
        SELECT database_id, asset_id, file_key,
               MAX(CASE WHEN metadata_key = 'codec' THEN metadata_value END)
                   AS codec
        FROM file_metadata GROUP BY database_id, asset_id, file_key
    ) m ON f.database_id = m.database_id AND f.asset_id = m.asset_id
       AND f.file_key = m.file_key
    WHERE NOT f.is_archived AND contains(lower(m.codec), 'pro')
    ORDER BY f.database_id, f.asset_id, f.file_key
    LIMIT 2000
    """,
)
def q_vams_file_metadata_query(spark, sf_dir):
    """metadataQuery against FILE docs — the MD_ flat object on the file
    index (search.py:787-811, 1272-1303; models/indexing.py:154-172)."""
    t = tables(spark, sf_dir)
    sc = SearchCompiler({"asset": t["search_assets"], "file": t["search_files"]})
    req = SearchRequest(
        entity_types=("file",),
        metadata_query="codec:pro",
        sort=[
            SortSpec("database_id"), SortSpec("asset_id"), SortSpec("file_key"),
        ],
        size=2000,
    )
    return sc.hits(req).select("database_id", "asset_id", "file_key")


@query(
    "q_vams_file_attr_value_search",
    oracle_with("files", "file_metadata", "file_attributes")
    + """
    SELECT f.database_id, f.asset_id, f.file_key
    FROM files f
    WHERE NOT f.is_archived AND (
        EXISTS (SELECT 1 FROM file_metadata m
                WHERE m.database_id = f.database_id
                  AND m.asset_id = f.asset_id AND m.file_key = f.file_key
                  AND contains(lower(m.metadata_value), 'stage_3'))
        OR EXISTS (SELECT 1 FROM file_attributes a
                WHERE a.database_id = f.database_id
                  AND a.asset_id = f.asset_id AND a.file_key = f.file_key
                  AND contains(lower(a.attribute_value), 'stage_3'))
    )
    ORDER BY f.database_id, f.asset_id, f.file_key
    LIMIT 2000
    """,
)
def q_vams_file_attr_value_search(spark, sf_dir):
    """Value-mode metadata search on file docs spans MD_._value AND
    AB_._value (search.py:787-811) — any metadata OR pipeline-attribute
    value matching the pattern hits."""
    t = tables(spark, sf_dir)
    sc = SearchCompiler({"asset": t["search_assets"], "file": t["search_files"]})
    req = SearchRequest(
        entity_types=("file",),
        metadata_query="any:stage_3",
        metadata_search_mode="value",
        sort=[
            SortSpec("database_id"), SortSpec("asset_id"), SortSpec("file_key"),
        ],
        size=2000,
    )
    return sc.hits(req).select("database_id", "asset_id", "file_key")


@query(
    "q_vams_one_hop",
    oracle_with("asset_links")
    + """
    SELECT asset_link_id, to_database_id AS neighbor_database_id,
           to_asset_id AS neighbor_asset_id,
           CASE WHEN relationship_type = 'parentChild'
                THEN 'child' ELSE 'related' END AS relationship
    FROM asset_links
    WHERE from_database_id = 'db_2' AND from_asset_id = 'asset_42'
    UNION ALL
    SELECT asset_link_id, from_database_id, from_asset_id,
           CASE WHEN relationship_type = 'parentChild'
                THEN 'parent' ELSE 'related' END
    FROM asset_links
    WHERE to_database_id = 'db_2' AND to_asset_id = 'asset_42'
    ORDER BY asset_link_id
    """,
)
def q_vams_one_hop(spark, sf_dir):
    t = tables(spark, sf_dir)
    return one_hop(t["asset_links"], "db_2", "asset_42").orderBy("asset_link_id")


#: shared 1-hop-enrichment oracle CTE: neighbors of db_3/asset_3 with
#: endpoint attributes and the q_vams_authz constraint set evaluated per
#: neighbor (missing endpoint ⇒ unauthorized, assetLinksService.py:260).
_ONE_HOP_ENRICHED_SQL = """
    nb AS (
        SELECT asset_link_id, to_database_id AS neighbor_database_id,
               to_asset_id AS neighbor_asset_id,
               CASE WHEN relationship_type = 'parentChild'
                    THEN 'child' ELSE 'related' END AS relationship
        FROM asset_links
        WHERE from_database_id = 'db_3' AND from_asset_id = 'asset_3'
        UNION ALL
        SELECT asset_link_id, from_database_id, from_asset_id,
               CASE WHEN relationship_type = 'parentChild'
                    THEN 'parent' ELSE 'related' END
        FROM asset_links
        WHERE to_database_id = 'db_3' AND to_asset_id = 'asset_3'
    ), enriched AS (
        SELECT nb.asset_link_id, nb.neighbor_database_id,
               nb.neighbor_asset_id, nb.relationship,
               a.asset_name AS neighbor_name,
               COALESCE(
                   ((a.database_id IN ('db_1', 'db_2', 'db_3')
                     AND a.asset_type = 'glb')
                    OR a.database_id = 'db_4')
                   AND NOT (a.tag1 = 'large' OR a.tag2 = 'large'),
                   FALSE) AS authorized
        FROM nb LEFT JOIN assets a
          ON a.database_id = nb.neighbor_database_id
         AND a.asset_id = nb.neighbor_asset_id
    )
"""

_LINK_CONSTRAINTS = [
    Constraint(
        effect="allow",
        action="GET",
        criteria=(
            Criterion("database_id", "is_in", ("db_1", "db_2", "db_3")),
            Criterion("asset_type", "equals", "glb"),
        ),
    ),
    Constraint(
        effect="allow",
        action="GET",
        criteria=(Criterion("database_id", "equals", "db_4"),),
    ),
    Constraint(
        effect="deny",
        action="GET",
        criteria=(Criterion("tags", "contains", "large"),),
    ),
]


@query(
    "q_vams_one_hop_enriched",
    oracle_with("assets", "asset_links")
    + ", "
    + _ONE_HOP_ENRICHED_SQL
    + """
    SELECT * FROM enriched
    ORDER BY asset_link_id
    """,
)
def q_vams_one_hop_enriched(spark, sf_dir):
    """1-hop with endpoint-attribute join + per-neighbor authorization
    (assetLinksService.py:207-331): neighbor name from the batch get,
    authorized flag from the ABAC constraint set."""
    t = tables(spark, sf_dir)
    pred = compile_constraints(_LINK_CONSTRAINTS, "GET")
    return one_hop(
        t["asset_links"], "db_3", "asset_3",
        assets=t["search_assets"], auth_predicate=pred,
    ).orderBy("asset_link_id")


@query(
    "q_vams_link_auth_counts",
    oracle_with("assets", "asset_links")
    + ", "
    + _ONE_HOP_ENRICHED_SQL
    + """
    SELECT relationship,
           CAST(SUM(CASE WHEN authorized THEN 1 ELSE 0 END) AS BIGINT)
               AS authorized_count,
           CAST(SUM(CASE WHEN authorized THEN 0 ELSE 1 END) AS BIGINT)
               AS unauthorized_count
    FROM enriched
    GROUP BY relationship
    ORDER BY relationship
    """,
)
def q_vams_link_auth_counts(spark, sf_dir):
    """unauthorizedCounts per relationship class
    (assetLinksService.py:250-331, UnauthorizedCountsModel)."""
    t = tables(spark, sf_dir)
    pred = compile_constraints(_LINK_CONSTRAINTS, "GET")
    hop = one_hop(
        t["asset_links"], "db_3", "asset_3",
        assets=t["search_assets"], auth_predicate=pred,
    )
    from .operators.graph import link_auth_counts

    return link_auth_counts(hop).orderBy("relationship")


@query(
    "q_vams_descendants",
    "WITH RECURSIVE asset_links AS ({links_sql}), walk AS (\n"
    "    SELECT 'db_8' AS database_id, 'asset_48' AS asset_id, 0 AS depth\n"
    "    UNION\n"
    "    SELECT l.to_database_id, l.to_asset_id, w.depth + 1\n"
    "    FROM walk w JOIN asset_links l\n"
    "      ON l.from_database_id = w.database_id AND l.from_asset_id = w.asset_id\n"
    "     AND l.relationship_type = 'parentChild'\n"
    "    WHERE w.depth < 25\n"
    ")\n"
    "SELECT database_id, asset_id, CAST(MIN(depth) AS INT) AS depth FROM walk\n"
    "GROUP BY database_id, asset_id HAVING MIN(depth) > 0\n"
    "ORDER BY depth, database_id, asset_id\n".format(
        links_sql=VAMS_VIEW_SQL["asset_links"]
    ),
)
def q_vams_descendants(spark, sf_dir):
    t = tables(spark, sf_dir)
    return descendants(t["asset_links"], "db_8", "asset_48").orderBy(
        "depth", "database_id", "asset_id"
    )


@query(
    "q_vams_latest_versions",
    oracle_with("asset_versions")
    + """
    SELECT database_id, asset_id, asset_version_id, date_created FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY database_id, asset_id
                   ORDER BY date_created DESC, asset_version_id DESC) AS rn
        FROM asset_versions WHERE database_id = 'db_7'
    ) WHERE rn = 1
    ORDER BY database_id, asset_id
    """,
)
def q_vams_latest_versions(spark, sf_dir):
    t = tables(spark, sf_dir)
    return (
        latest_versions(t["asset_versions"].filter(F.col("database_id") == "db_7"))
        .select("database_id", "asset_id", "asset_version_id", "date_created")
        .orderBy("database_id", "asset_id")
    )


@query(
    "q_vams_version_asof",
    oracle_with("asset_versions")
    + """
    SELECT database_id, asset_id, asset_version_id, date_created FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY database_id, asset_id
                   ORDER BY date_created DESC, asset_version_id DESC) AS rn
        FROM asset_versions
        WHERE database_id = 'db_7' AND date_created <= TIMESTAMP '1997-01-01'
    ) WHERE rn = 1
    ORDER BY database_id, asset_id
    """,
)
def q_vams_version_asof(spark, sf_dir):
    import datetime

    t = tables(spark, sf_dir)
    return (
        as_of(
            t["asset_versions"].filter(F.col("database_id") == "db_7"),
            datetime.datetime(1997, 1, 1),
        )
        .select("database_id", "asset_id", "asset_version_id", "date_created")
        .orderBy("database_id", "asset_id")
    )


@query(
    "q_vams_file_asset_join",
    oracle_with("files", "assets")
    + """
    SELECT f.database_id, f.asset_id, f.file_key, f.file_size, a.asset_name
    FROM files f LEFT JOIN assets a
      ON f.database_id = a.database_id AND f.asset_id = a.asset_id
    WHERE f.database_id = 'db_7'
    ORDER BY f.file_key LIMIT 300
    """,
)
def q_vams_file_asset_join(spark, sf_dir):
    t = tables(spark, sf_dir)
    return (
        t["search_files"]
        .filter(F.col("database_id") == "db_7")
        .select("database_id", "asset_id", "file_key", "file_size", "asset_name")
        .orderBy("file_key")
        .limit(300)
    )


@query(
    "q_vams_orphans",
    oracle_with("assets", "files")
    + """
    SELECT a.database_id, a.asset_id FROM assets a
    WHERE NOT EXISTS (
        SELECT 1 FROM files f
        WHERE f.database_id = a.database_id AND f.asset_id = a.asset_id
          AND f.file_ext = 'glb' AND NOT f.is_archived
    )
    ORDER BY a.database_id, a.asset_id
    """,
)
def q_vams_orphans(spark, sf_dir):
    """Reconciliation diff (sqsBucketSync semantics): catalog assets with
    no live primary-format file — an anti-join between catalog and file
    listing (SURVEY §2.7 'needed for reconciliation diff')."""
    t = tables(spark, sf_dir)
    live_glb = (
        t["files"]
        .filter((F.col("file_ext") == "glb") & ~F.col("is_archived"))
        .select("database_id", "asset_id")
        .distinct()
    )
    return (
        t["assets"]
        .join(live_glb, ["database_id", "asset_id"], "left_anti")
        .select("database_id", "asset_id")
        .orderBy("database_id", "asset_id")
    )


@query(
    "q_vams_graph_export",
    oracle_with("assets", "asset_links")
    + """
    SELECT * FROM (
        SELECT 'node' AS record_type,
               database_id || ':' || asset_id AS id,
               CAST(NULL AS STRING) AS src, CAST(NULL AS STRING) AS dst,
               'asset' AS label, asset_name AS name
        FROM assets WHERE NOT is_archived
        UNION ALL
        SELECT 'edge', asset_link_id,
               from_database_id || ':' || from_asset_id,
               to_database_id || ':' || to_asset_id,
               relationship_type, CAST(NULL AS STRING)
        FROM asset_links
    )
    ORDER BY record_type, id
    """,
)
def q_vams_graph_export(spark, sf_dir):
    """Knowledge-graph export (garnetFramework addon): live assets as
    nodes + links as typed edges in one bulk-loadable frame."""
    from .operators.graph import graph_export

    t = tables(spark, sf_dir)
    return graph_export(
        t["assets"].filter(~F.col("is_archived")), t["asset_links"]
    ).orderBy("record_type", "id")


@query(
    "q_vams_keyset_page",
    oracle_with("files")
    + """
    SELECT database_id, asset_id, file_key FROM (
        SELECT database_id, asset_id, file_key,
               ROW_NUMBER() OVER (ORDER BY file_key) AS rn
        FROM files WHERE database_id = 'db_5' AND NOT is_archived
    ) WHERE rn BETWEEN 26 AND 50
    ORDER BY file_key
    """,
)
def q_vams_keyset_page(spark, sf_dir):
    """Token (keyset) pagination (assetService.py:760-804): page 2 of a
    bounded listing fetched via the opaque-token boundary filter — the
    O(page) path, equivalent to rows 26..50 of the ordered listing."""
    from .plans.pagination import encode_page_token, keyset_page_df

    t = tables(spark, sf_dir)
    listing = t["files"].filter(
        (F.col("database_id") == "db_5") & ~F.col("is_archived")
    ).select("database_id", "asset_id", "file_key")
    page1 = keyset_page_df(listing, ["file_key"], page_size=25).collect()
    token = encode_page_token({"file_key": page1[-1]["file_key"]})
    return keyset_page_df(listing, ["file_key"], page_size=25, token=token)


@query(
    "q_vams_auto_register",
    oracle_with("assets", "files")
    + """
    SELECT f.database_id, f.asset_id,
           COUNT(*) AS n_objects,
           MIN(f.file_key) AS first_key,
           'auto-registered' AS register_source
    FROM files f
    WHERE NOT f.is_archived AND NOT EXISTS (
        SELECT 1 FROM assets a
        WHERE a.database_id = f.database_id AND a.asset_id = f.asset_id
          AND NOT a.is_archived
    )
    GROUP BY f.database_id, f.asset_id
    ORDER BY f.database_id, f.asset_id
    """,
)
def q_vams_auto_register(spark, sf_dir):
    """Reconciliation get-or-create leg (fileIndexer.py auto-register /
    sqsBucketSync): storage objects whose asset the live catalog doesn't
    know, projected to minimal registration records. Archived assets
    stand in for 'missing from catalog' in the fixture mapping."""
    from .operators.reconcile import register_candidates

    t = tables(spark, sf_dir)
    return register_candidates(
        t["assets"].filter(~F.col("is_archived")),
        t["files"].filter(~F.col("is_archived")),
        ["database_id", "asset_id"],
    ).orderBy("database_id", "asset_id")


@query(
    "q_vams_authz",
    oracle_with("assets")
    + """
    SELECT database_id, asset_id FROM assets
    WHERE ((database_id IN ('db_1', 'db_2', 'db_3') AND asset_type = 'glb')
           OR database_id = 'db_4')
      AND NOT (tag1 = 'large' OR tag2 = 'large')
    ORDER BY database_id, asset_id
    """,
)
def q_vams_authz(spark, sf_dir):
    t = tables(spark, sf_dir)
    constraints = [
        Constraint(
            effect="allow",
            action="GET",
            criteria=(
                Criterion("database_id", "is_in", ("db_1", "db_2", "db_3")),
                Criterion("asset_type", "equals", "glb"),
            ),
        ),
        Constraint(
            effect="allow",
            action="GET",
            criteria=(Criterion("database_id", "equals", "db_4"),),
        ),
        Constraint(
            effect="deny",
            action="GET",
            criteria=(Criterion("tags", "contains", "large"),),
        ),
    ]
    pred = compile_constraints(constraints, "GET")
    return (
        t["search_assets"]
        .filter(pred)
        .select("database_id", "asset_id")
        .orderBy("database_id", "asset_id")
    )


@query(
    "q_vams_point_lookup",
    oracle_with("assets")
    + """
    SELECT database_id, asset_id, asset_name, asset_type, is_archived
    FROM assets
    WHERE database_id = 'db_3' AND asset_id = 'asset_123'
    """,
)
def q_vams_point_lookup(spark, sf_dir):
    """KV point lookup by full key (get_item, assetIndexer.py:320-337) —
    a partition-pruned filter on (database_id, asset_id)."""
    t = tables(spark, sf_dir)
    return t["assets"].filter(
        (F.col("database_id") == "db_3") & (F.col("asset_id") == "asset_123")
    ).select("database_id", "asset_id", "asset_name", "asset_type", "is_archived")


@query(
    "q_vams_keyed_listing",
    oracle_with("assets")
    + """
    SELECT database_id, asset_id, asset_name FROM assets
    WHERE database_id = 'db_5' AND NOT is_archived
    ORDER BY asset_id DESC LIMIT 25
    """,
)
def q_vams_keyed_listing(spark, sf_dir):
    """Key-condition scan: all rows for one partition key, ordered by
    sort key descending, limited (assetService.py:747-806 /
    ScanIndexForward=False)."""
    t = tables(spark, sf_dir)
    return (
        t["assets"]
        .filter((F.col("database_id") == "db_5") & ~F.col("is_archived"))
        .select("database_id", "asset_id", "asset_name")
        .orderBy(F.desc("asset_id"))
        .limit(25)
    )


@query(
    "q_vams_dual_search",
    oracle_with("assets", "files")
    + """
    SELECT * FROM (
        SELECT 'asset' AS rectype, database_id, asset_id,
               CAST(NULL AS STRING) AS file_key,
               CAST(CASE WHEN contains(lower(asset_name), 'glb') THEN 2.0 ELSE 0.0 END
                  + CASE WHEN contains(lower(description), 'glb') THEN 1.0 ELSE 0.0 END
                  + CASE WHEN contains(lower(asset_type), 'glb') THEN 1.0 ELSE 0.0 END
                    AS DOUBLE) AS score
        FROM assets WHERE NOT is_archived AND database_id = 'db_7'
        UNION ALL
        SELECT 'file', database_id, asset_id, file_key,
               CAST(CASE WHEN contains(lower(file_key), 'glb') THEN 2.0 ELSE 0.0 END
                  + CASE WHEN contains(lower(file_ext), 'glb') THEN 1.0 ELSE 0.0 END
                    AS DOUBLE)
        FROM files WHERE NOT is_archived AND database_id = 'db_7'
    ) WHERE score > 0.01
    ORDER BY score DESC, rectype, database_id, asset_id, file_key
    """,
)
def q_vams_dual_search(spark, sf_dir):
    """Dual-index search: one text query over both entity types, hits
    unioned with a rectype tag (search.py:197-296)."""
    t = tables(spark, sf_dir)
    sc = SearchCompiler({"asset": t["search_assets"], "file": t["search_files"]})
    req = SearchRequest(
        query="glb", entity_types=("asset", "file"), databases=["db_7"], size=2000
    )
    return (
        sc.hits(req)
        .select("rectype", "database_id", "asset_id", "file_key", "score")
        .orderBy(
            F.desc("score"), "rectype", "database_id", "asset_id", "file_key"
        )
    )


@query(
    "q_vams_highlight",
    oracle_with("assets")
    + r"""
    SELECT database_id, asset_id, asset_name,
           CASE WHEN contains(lower(asset_name), 'red')
                THEN regexp_replace(asset_name, '(?i)(red)', '<em>\1</em>', 'g')
                END AS highlight_asset_name,
           CASE WHEN contains(lower(description), 'red')
                THEN regexp_replace(description, '(?i)(red)', '<em>\1</em>', 'g')
                END AS highlight_description
    FROM assets
    WHERE NOT is_archived
      AND (contains(lower(asset_name), 'red') OR contains(lower(description), 'red'))
    ORDER BY database_id, asset_id
    """,
)
def q_vams_highlight(spark, sf_dir):
    """Highlighting: per-field match fragments wrapped in pre/post tags
    (search.py:869-886) as derived regexp_replace columns."""
    t = tables(spark, sf_dir)
    sc = SearchCompiler({"asset": t["search_assets"], "file": t["search_files"]})
    req = SearchRequest(query="red", entity_types=("asset",), size=2000)
    hits = t["search_assets"].filter(
        ~F.col("is_archived")
        & (
            F.lower("asset_name").contains("red")
            | F.lower("description").contains("red")
        )
    )
    return (
        sc.highlight(hits, req)
        .select(
            "database_id",
            "asset_id",
            "asset_name",
            "highlight_asset_name",
            "highlight_description",
        )
        .orderBy("database_id", "asset_id")
    )


@query(
    "q_vams_relationship_flags",
    oracle_with("asset_links")
    + """
    , e AS (
        SELECT from_database_id AS database_id, from_asset_id AS asset_id,
               relationship_type, 'out' AS direction
        FROM asset_links
        UNION ALL
        SELECT to_database_id, to_asset_id, relationship_type, 'in'
        FROM asset_links
    )
    SELECT database_id, asset_id,
           MAX(CASE WHEN relationship_type = 'parentChild' AND direction = 'out'
                    THEN TRUE ELSE FALSE END) AS has_asset_children,
           MAX(CASE WHEN relationship_type = 'parentChild' AND direction = 'in'
                    THEN TRUE ELSE FALSE END) AS has_asset_parents,
           MAX(CASE WHEN relationship_type <> 'parentChild'
                    THEN TRUE ELSE FALSE END) AS has_assets_related
    FROM e GROUP BY database_id, asset_id
    ORDER BY database_id, asset_id
    """,
)
def q_vams_relationship_flags(spark, sf_dir):
    """Existence aggregates: bool_has_asset_children / parents / related
    per asset (assetIndexer.py:405-454) — one pass over the edges."""
    t = tables(spark, sf_dir)
    return relationship_flags(t["asset_links"]).orderBy("database_id", "asset_id")


@query(
    "q_vams_schema_validation",
    oracle_with("metadata", "metadata_schemas")
    + """
    , latest AS (
        SELECT database_id, asset_id, metadata_key,
               MAX(metadata_value) AS metadata_value
        FROM metadata GROUP BY 1, 2, 3
    ), joined AS (
        SELECT l.*, s.value_type, s.required, s.allowed_values
        FROM latest l JOIN metadata_schemas s USING (metadata_key)
    )
    SELECT * FROM (
        SELECT database_id, asset_id, metadata_key,
               'not_in_controlled_list' AS violation
        FROM joined
        WHERE allowed_values IS NOT NULL
          AND NOT contains(',' || allowed_values || ',',
                           ',' || metadata_value || ',')
        UNION ALL
        SELECT database_id, asset_id, metadata_key, 'bad_type'
        FROM joined
        WHERE value_type = 'date' AND TRY_CAST(metadata_value AS DATE) IS NULL
        UNION ALL
        SELECT e.database_id, e.asset_id, s.metadata_key, 'missing_required'
        FROM (SELECT DISTINCT database_id, asset_id FROM metadata) e
        CROSS JOIN metadata_schemas s
        WHERE s.required AND NOT EXISTS (
            SELECT 1 FROM latest l
            WHERE l.database_id = e.database_id AND l.asset_id = e.asset_id
              AND l.metadata_key = s.metadata_key)
    )
    ORDER BY database_id, asset_id, metadata_key, violation
    """,
)
def q_vams_schema_validation(spark, sf_dir):
    """Declared-schema validation: metadata joined against the schema
    dimension, violations flagged (common/metadataSchemaValidation.py)."""
    t = tables(spark, sf_dir)
    return validate_metadata(t["metadata"], t["metadata_schemas"]).orderBy(
        "database_id", "asset_id", "metadata_key", "violation"
    )


#: DuckDB-side per-type validity (mirrors operators.eav.type_valid; the
#: Spark side uses from_json/try_cast, the oracle uses DuckDB's json_*).
#: DuckDB evaluates ALL branches of a vectorized CASE, so every json_*
#: path accessor must see a null-shielded input ({j}) — json_type on a
#: non-JSON string THROWS rather than returning NULL.
_NUM_JT = "('UBIGINT','BIGINT','DOUBLE')"
_J = "(CASE WHEN json_valid({v}) THEN {v} END)"
_TYPED_OK_SQL: dict[str, str] = {
    "string": "TRUE",
    "multiline_string": "TRUE",
    "inline_controlled_list": "TRUE",
    "number": "TRY_CAST({v} AS DOUBLE) IS NOT NULL",
    "boolean": "lower({v}) IN ('true','false')",
    "date": "(TRY_CAST({v} AS TIMESTAMP) IS NOT NULL"
            " OR TRY_CAST({v} AS DATE) IS NOT NULL)",
    "json": "json_valid({v})",
    "xyz": "(json_type({j}) = 'OBJECT'"
           f" AND json_type({{j}}, '$.x') IN {_NUM_JT}"
           f" AND json_type({{j}}, '$.y') IN {_NUM_JT}"
           f" AND json_type({{j}}, '$.z') IN {_NUM_JT})",
    "wxyz": "(json_type({j}) = 'OBJECT'"
            f" AND json_type({{j}}, '$.w') IN {_NUM_JT}"
            f" AND json_type({{j}}, '$.x') IN {_NUM_JT}"
            f" AND json_type({{j}}, '$.y') IN {_NUM_JT}"
            f" AND json_type({{j}}, '$.z') IN {_NUM_JT})",
    "matrix4x4": "(json_type({j}) = 'ARRAY'"
                 " AND json_array_length({j}) = 4"
                 + "".join(
                     f" AND json_type({{j}}, '$[{i}]') = 'ARRAY'"
                     f" AND json_array_length({{j}}, '$[{i}]') = 4"
                     for i in range(4)
                 )
                 + ")",
    "geopoint": "(json_extract_string({j}, '$.type') = 'Point'"
                " AND json_type({j}, '$.coordinates') = 'ARRAY'"
                " AND json_array_length({j}, '$.coordinates') >= 2)",
    "geojson": "(json_extract_string({j}, '$.type') IN"
               " ('Point','MultiPoint','LineString','MultiLineString',"
               "'Polygon','MultiPolygon','GeometryCollection','Feature',"
               "'FeatureCollection'))",
    "lla": "(TRY_CAST(json_extract_string({j}, '$.lat') AS DOUBLE)"
           " BETWEEN -90 AND 90"
           " AND TRY_CAST(json_extract_string({j}, '$.long') AS DOUBLE)"
           " BETWEEN -180 AND 180"
           " AND TRY_CAST(json_extract_string({j}, '$.alt') AS DOUBLE)"
           " IS NOT NULL)",
}


def _typed_ok_case(v: str) -> str:
    j = _J.format(v=v)
    whens = "".join(
        f" WHEN '{t}' THEN {ok.format(v=v, j=j)}"
        for t, ok in _TYPED_OK_SQL.items()
    )
    return f"(CASE value_type{whens} ELSE FALSE END)"


@query(
    "q_vams_typed_validation",
    oracle_with("typed_metadata", "typed_metadata_schemas")
    + f"""
    , latest AS (
        SELECT database_id, asset_id, metadata_key,
               MAX(metadata_value) AS metadata_value
        FROM typed_metadata GROUP BY database_id, asset_id, metadata_key
    ), joined AS (
        SELECT l.*, s.value_type, s.required, s.allowed_values
        FROM latest l JOIN typed_metadata_schemas s USING (metadata_key)
    )
    SELECT * FROM (
        SELECT database_id, asset_id, metadata_key,
               'not_in_controlled_list' AS violation
        FROM joined
        WHERE allowed_values IS NOT NULL
          AND NOT contains(',' || allowed_values || ',',
                           ',' || metadata_value || ',')
        UNION ALL
        SELECT database_id, asset_id, metadata_key, 'bad_type'
        FROM joined
        WHERE metadata_value <> ''
          AND NOT COALESCE({_typed_ok_case('metadata_value')}, FALSE)
        UNION ALL
        SELECT e.database_id, e.asset_id, s.metadata_key, 'missing_required'
        FROM (SELECT DISTINCT database_id, asset_id FROM typed_metadata) e
        CROSS JOIN typed_metadata_schemas s
        WHERE s.required AND NOT EXISTS (
            SELECT 1 FROM latest l
            WHERE l.database_id = e.database_id AND l.asset_id = e.asset_id
              AND l.metadata_key = s.metadata_key)
    )
    ORDER BY database_id, asset_id, metadata_key, violation
    """,
)
def q_vams_typed_validation(spark, sf_dir):
    """Full 13-type metadata validation (models/metadata.py:20-221):
    number, boolean, date, json, xyz, wxyz, matrix4x4, geopoint,
    geojson, lla (with range checks) + controlled list + required —
    all as Column predicates over the typed fixture."""
    t = tables(spark, sf_dir)
    return validate_metadata(
        t["typed_metadata"], t["typed_metadata_schemas"]
    ).orderBy("database_id", "asset_id", "metadata_key", "violation")


@query(
    "q_vams_version_file_counts",
    oracle_with("asset_versions")
    + """
    SELECT database_id, asset_id, COUNT(*) AS n_versions,
           CAST(SUM(file_count) AS BIGINT) AS total_files,
           CAST(MAX(file_count) AS BIGINT) AS max_files
    FROM asset_versions
    WHERE database_id = 'db_9'
    GROUP BY database_id, asset_id
    ORDER BY database_id, asset_id
    """,
)
def q_vams_version_file_counts(spark, sf_dir):
    """File-count per version manifest rollup (assetVersions.py:637-663)."""
    t = tables(spark, sf_dir)
    return (
        t["asset_versions"]
        .filter(F.col("database_id") == "db_9")
        .groupBy("database_id", "asset_id")
        .agg(
            F.count(F.lit(1)).alias("n_versions"),
            F.sum("file_count").alias("total_files"),
            F.max("file_count").alias("max_files"),
        )
        .orderBy("database_id", "asset_id")
    )


@query(
    "q_vams_scalar_funcs",
    oracle_with("files")
    + r"""
    SELECT database_id || ':' || asset_id || ':' || file_key AS ck,
           list_extract(string_split(
               database_id || ':' || asset_id || ':' || file_key, ':'), 2)
             AS parsed_asset,
           lower(list_extract(string_split(
               list_extract(string_split(file_key, '/'), -1), '.'), -1)) AS ext,
           (file_key LIKE '%/' OR NOT contains(
               list_extract(string_split(file_key, '/'), -1), '.')) AS folder,
           COALESCE(CAST(TRY_CAST(CAST(file_size AS STRING) AS BIGINT) AS DOUBLE),
                    TRY_CAST(CAST(file_size AS STRING) AS DOUBLE)) AS as_number,
           CASE WHEN lower(trim(CASE WHEN file_size % 2 = 0 THEN 'yes' ELSE 'off' END))
                     IN ('true', '1', 'yes', 'on') THEN TRUE
                WHEN lower(trim(CASE WHEN file_size % 2 = 0 THEN 'yes' ELSE 'off' END))
                     IN ('false', '0', 'no', 'off') THEN FALSE END AS as_boolean
    FROM files WHERE database_id = 'db_1'
    ORDER BY ck
    """,
)
def q_vams_scalar_funcs(spark, sf_dir):
    """Scalar-function surface (SURVEY §2.8): composite key build/parse,
    file-extension + folder detection, numeric and boolean coercion."""
    t = tables(spark, sf_dir)
    f = t["files"].filter(F.col("database_id") == "db_1")
    ck = composite_key("database_id", "asset_id", "file_key")
    bool_src = F.when(F.col("file_size") % 2 == 0, F.lit("yes")).otherwise("off")
    return f.select(
        ck.alias("ck"),
        split_composite_key(ck, 3)[1].alias("parsed_asset"),
        file_extension(F.col("file_key")).alias("ext"),
        is_folder(F.col("file_key")).alias("folder"),
        coerce_number(F.col("file_size").cast("string")).alias("as_number"),
        coerce_boolean(bool_src).alias("as_boolean"),
    ).orderBy("ck")


@query(
    "q_workflow_pipeline",
    oracle_with("files")
    + """
    SELECT database_id, size_band, COUNT(*) AS n_files,
           CAST(SUM(file_size) AS BIGINT) AS total_size
    FROM (
        SELECT database_id,
               CASE WHEN file_size >= 50000 THEN 'big' ELSE 'small' END AS size_band,
               file_size
        FROM files WHERE NOT is_archived
    )
    GROUP BY database_id, size_band
    ORDER BY database_id, size_band
    """,
)
def q_workflow_pipeline(spark, sf_dir):
    """Workflow runner (SURVEY §2.10): a linear two-pipeline composition
    (classify stage → aggregate stage) with per-stage retry policy; the
    stages stay lazy so Catalyst optimizes across pipeline boundaries."""
    t = tables(spark, sf_dir)

    def classify(df, ctx):
        return df.filter(~F.col("is_archived")).withColumn(
            "size_band",
            F.when(F.col("file_size") >= 50000, "big").otherwise("small"),
        )

    def aggregate(df, ctx):
        return df.groupBy("database_id", "size_band").agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("file_size").alias("total_size"),
        )

    wf = Workflow(
        "size-bands", [Pipeline("classify", classify), Pipeline("aggregate", aggregate)]
    )
    return wf.run(t["files"]).orderBy("database_id", "size_band")


@query(
    "q_vams_json_url_scalars",
    oracle_with("raw_objects")
    + """
    SELECT object_id,
           replace(replace(replace(s3_key, '+', ' '), '%2B', '+'),
                   '%20', ' ') AS decoded_key,
           json_extract_string(
               (CASE WHEN json_valid(gs_blob) THEN gs_blob END),
               '$.vendor') AS vendor,
           json_extract_string(
               (CASE WHEN json_valid(gs_blob) THEN gs_blob END),
               '$.rev') AS rev,
           json_extract_string(
               (CASE WHEN json_valid(gs_blob) THEN gs_blob END),
               '$.nested.depth') AS nested_depth,
           CAST(COALESCE(
               TRY_CAST(date_str AS TIMESTAMP),
               TRY_CAST(regexp_replace(date_str, '\\.\\d+', '') AS TIMESTAMP),
               CAST(TRY_CAST(date_str AS DATE) AS TIMESTAMP)
           ) AS STRING) AS parsed_ts
    FROM raw_objects
    ORDER BY object_id
    """,
)
def q_vams_json_url_scalars(spark, sf_dir):
    """Scalar surface: URL-decode of S3 keys (unquote_plus,
    fileIndexer.py:876), JSON extraction from gs_ blobs
    (models/indexing.py:94-97), and lenient ISO date parse with
    sub-second truncation (models/indexing.py:100-123). The oracle
    decodes the planted escapes via replace chains (DuckDB has no
    url_decode) — coverage documented, not general."""
    from .functions.normalize import (
        json_blob_get,
        parse_flexible_date,
        url_decode_key,
    )

    t = tables(spark, sf_dir)
    return (
        t["raw_objects"]
        .select(
            "object_id",
            url_decode_key(F.col("s3_key")).alias("decoded_key"),
            json_blob_get(F.col("gs_blob"), "$.vendor").alias("vendor"),
            json_blob_get(F.col("gs_blob"), "$.rev").alias("rev"),
            json_blob_get(F.col("gs_blob"), "$.nested.depth").alias(
                "nested_depth"
            ),
            parse_flexible_date(F.col("date_str")).cast("string").alias(
                "parsed_ts"
            ),
        )
        .orderBy("object_id")
    )


@query(
    "q_vams_link_create_checks",
    oracle_with("asset_links", "candidate_links")
    + """
    SELECT c.*,
           CASE
             WHEN c.from_database_id = c.to_database_id
                  AND c.from_asset_id = c.to_asset_id THEN 'self_link'
             WHEN c.alias_id IS NOT NULL
                  AND c.relationship_type <> 'parentChild'
                  THEN 'alias_not_allowed'
             WHEN c.relationship_type = 'related' AND (
                  EXISTS (SELECT 1 FROM asset_links e
                          WHERE e.relationship_type = 'related'
                            AND e.from_database_id = c.from_database_id
                            AND e.from_asset_id = c.from_asset_id
                            AND e.to_database_id = c.to_database_id
                            AND e.to_asset_id = c.to_asset_id)
                  OR EXISTS (SELECT 1 FROM asset_links e
                          WHERE e.relationship_type = 'related'
                            AND e.from_database_id = c.to_database_id
                            AND e.from_asset_id = c.to_asset_id
                            AND e.to_database_id = c.from_database_id
                            AND e.to_asset_id = c.from_asset_id))
                  THEN 'duplicate'
             WHEN c.relationship_type = 'parentChild'
                  AND EXISTS (SELECT 1 FROM asset_links e
                          WHERE e.relationship_type = 'parentChild'
                            AND e.from_database_id = c.from_database_id
                            AND e.from_asset_id = c.from_asset_id
                            AND e.to_database_id = c.to_database_id
                            AND e.to_asset_id = c.to_asset_id
                            -- existing edges carry no alias column, so
                            -- their normalized alias is '': the engine's
                            -- alias-equality check reduces to candidate
                            -- alias = '' against this fixture
                            AND COALESCE(c.alias_id, '') = '')
                  THEN 'duplicate'
             WHEN c.relationship_type = 'parentChild'
                  AND EXISTS (SELECT 1 FROM asset_links e
                          WHERE e.relationship_type = 'parentChild'
                            AND e.from_database_id = c.to_database_id
                            AND e.from_asset_id = c.to_asset_id
                            AND e.to_database_id = c.from_database_id
                            AND e.to_asset_id = c.from_asset_id)
                  THEN 'reverse_exists'
             ELSE 'ok'
           END AS status
    FROM candidate_links c
    ORDER BY from_database_id, from_asset_id, to_database_id, to_asset_id,
             relationship_type, alias_id NULLS FIRST
    """,
)
def q_vams_link_create_checks(spark, sf_dir):
    """Edge-create constraint checks (createAssetLink.py:73-190):
    self-loop, alias-only-on-parentChild, duplicate (direction-aware),
    and reverse-parentChild rejection, as anti-join annotations."""
    from .operators.graph import create_links

    t = tables(spark, sf_dir)
    return create_links(t["asset_links"], t["candidate_links"]).orderBy(
        "from_database_id", "from_asset_id", "to_database_id",
        "to_asset_id", "relationship_type",
        F.col("alias_id").asc_nulls_first(),
    )


_export_cache: dict[tuple[int, str], str] = {}


@query(
    "q_vams_export_manifest",
    oracle_with("assets")
    + """
    SELECT database_id, COUNT(*) AS n_rows
    FROM assets WHERE NOT is_archived
    GROUP BY database_id
    ORDER BY database_id
    """,
)
def q_vams_export_manifest(spark, sf_dir):
    """Export sink (assetExportService.py): write non-archived assets as
    a database_id-partitioned parquet package, then derive the manifest
    FROM the written files — verifying the export round-trips."""
    import tempfile

    from .operators.export import export_entities, export_manifest

    t = tables(spark, sf_dir)
    key = (id(spark), sf_dir)
    if key not in _export_cache:
        out = tempfile.mkdtemp(prefix="vams_spark_export_")
        export_entities(t["assets"].filter(~F.col("is_archived")), out)
        _export_cache[key] = out
    return export_manifest(spark, _export_cache[key]).orderBy("database_id")


@query(
    "q_vams_bulk_tally",
    oracle_with("typed_metadata", "typed_metadata_schemas")
    + f"""
    , latest AS (
        SELECT database_id, asset_id, metadata_key,
               MAX(metadata_value) AS metadata_value
        FROM typed_metadata GROUP BY database_id, asset_id, metadata_key
    ), joined AS (
        -- LEFT join: submitted keys with no declared schema cannot fail
        -- validation and still count as items (matching the engine and
        -- the reference, which only validates schema-declared keys)
        SELECT l.*, s.value_type, s.allowed_values
        FROM latest l LEFT JOIN typed_metadata_schemas s USING (metadata_key)
    ), judged AS (
        SELECT database_id, asset_id, metadata_key,
               -- value_type IS NOT NULL guard: undeclared keys (no schema
               -- row) cannot fail, matching the engine's inner join on
               -- declared schemas
               ((value_type IS NOT NULL
                 AND metadata_value <> ''
                 AND NOT COALESCE({_typed_ok_case('metadata_value')}, FALSE))
                OR (allowed_values IS NOT NULL
                    AND NOT contains(',' || allowed_values || ',',
                                     ',' || metadata_value || ','))
               ) AS failed
        FROM joined
    )
    SELECT database_id, asset_id, COUNT(*) AS total_items,
           CAST(SUM(CASE WHEN failed THEN 0 ELSE 1 END) AS BIGINT)
               AS success_count,
           CAST(SUM(CASE WHEN failed THEN 1 ELSE 0 END) AS BIGINT)
               AS failure_count
    FROM judged
    GROUP BY database_id, asset_id
    ORDER BY database_id, asset_id
    """,
)
def q_vams_bulk_tally(spark, sf_dir):
    """Bulk metadata operation tallies (BulkOperationResponseModel,
    models/metadata.py:260-269): per entity, submitted-item success and
    failure counts under full type + controlled-list validation."""
    from .operators.eav import bulk_validation_tally

    t = tables(spark, sf_dir)
    return bulk_validation_tally(
        t["typed_metadata"], t["typed_metadata_schemas"]
    ).orderBy("database_id", "asset_id")


@query(
    "q_vams_index_mappings",
    """
    SELECT * FROM (VALUES
        ('asset', 'database_id',        'string'),
        ('asset', 'asset_id',           'string'),
        ('asset', 'bucket_id',          'string'),
        ('asset', 'asset_name',         'string'),
        ('asset', 'description',        'string'),
        ('asset', 'asset_type',         'string'),
        ('asset', 'tag1',               'string'),
        ('asset', 'tag2',               'string'),
        ('asset', 'is_distributable',   'boolean'),
        ('asset', 'is_archived',        'boolean'),
        ('asset', 'asset_size',         'double'),
        ('asset', 'tags',               'array<string>'),
        ('asset', 'bucket_name',        'string'),
        ('asset', 'base_assets_prefix', 'string'),
        ('asset', 'metadata',           'map<string,string>'),
        ('asset', 'has_asset_children', 'boolean'),
        ('asset', 'has_asset_parents',  'boolean'),
        ('asset', 'has_assets_related', 'boolean'),
        ('file',  'database_id',        'string'),
        ('file',  'asset_id',           'string'),
        ('file',  'file_key',           'string'),
        ('file',  'file_ext',           'string'),
        ('file',  'file_size',          'bigint'),
        ('file',  'last_modified',      'timestamp_ntz'),
        ('file',  'etag',               'string'),
        ('file',  'is_archived',        'boolean'),
        ('file',  'asset_name',         'string'),
        ('file',  'tags',               'array<string>'),
        ('file',  'metadata',           'map<string,string>'),
        ('file',  'attributes',         'map<string,string>')
    ) AS t(entity_type, field, dtype)
    ORDER BY entity_type, field
    """,
)
def q_vams_index_mappings(spark, sf_dir):
    """Schema introspection (search.py:1782-1800): the index mappings of
    both search tables as rows. The oracle is the golden mapping
    contract — a schema change must consciously update it."""
    from .plans.compiler import index_mappings

    t = tables(spark, sf_dir)
    return index_mappings(
        {"asset": t["search_assets"], "file": t["search_files"]}
    ).orderBy("entity_type", "field")


@query(
    "q_workflow_output_ingest",
    oracle_with("files")
    + """
    , src AS (
        SELECT database_id, asset_id, file_key FROM files
        WHERE database_id = 'db_7' AND file_ext = 'glb' AND NOT is_archived
    )
    SELECT * FROM (
        SELECT database_id, asset_id,
               file_key || '.preview.png' AS file_key,
               'file' AS record_type,
               CAST(NULL AS STRING) AS attribute_key,
               CAST(NULL AS STRING) AS attribute_value
        FROM src
        UNION ALL
        SELECT database_id, asset_id, file_key, 'attribute',
               'pipeline', 'preview' FROM src
        UNION ALL
        SELECT database_id, asset_id, file_key, 'attribute',
               'src_ext', 'glb' FROM src
    )
    ORDER BY database_id, asset_id, file_key, record_type, attribute_key
    """,
)
def q_workflow_output_ingest(spark, sf_dir):
    """Workflow output ingestion (processWorkflowExecutionOutput.py): a
    preview-render pipeline emits one data file + one ``*.attribute.json``
    sidecar per input; ingestion dispatches data files to the files
    table and explodes sidecar JSON into AB_ attribute EAV rows."""
    from .plans.workflow import ingest_workflow_outputs

    t = tables(spark, sf_dir)
    src = t["files"].filter(
        (F.col("database_id") == "db_7")
        & (F.col("file_ext") == "glb")
        & ~F.col("is_archived")
    )

    def render_previews(df, ctx):
        previews = df.select(
            "database_id",
            "asset_id",
            F.concat("file_key", F.lit(".preview.png")).alias("file_key"),
            F.lit(None).cast("string").alias("content"),
        )
        sidecars = df.select(
            "database_id",
            "asset_id",
            F.concat("file_key", F.lit(".attribute.json")).alias("file_key"),
            F.lit('{"pipeline":"preview","src_ext":"glb"}').alias("content"),
        )
        return previews.unionByName(sidecars)

    wf = Workflow("render-previews", [Pipeline("render", render_previews)])
    legs = ingest_workflow_outputs(wf.run(src, {"database_id": "db_7"}))
    null_s = F.lit(None).cast("string")
    files_leg = legs["files"].select(
        "database_id", "asset_id", "file_key",
        F.lit("file").alias("record_type"),
        null_s.alias("attribute_key"), null_s.alias("attribute_value"),
    )
    ab_leg = legs["file_attributes"].select(
        "database_id", "asset_id", "file_key",
        F.lit("attribute").alias("record_type"),
        "attribute_key", "attribute_value",
    )
    return files_leg.unionByName(ab_leg).orderBy(
        "database_id", "asset_id", "file_key", "record_type", "attribute_key"
    )


@query(
    "q_workflow_auto_trigger",
    oracle_with("files", "workflows")
    + """
    SELECT w.workflow_id, f.database_id, f.asset_id, f.file_key,
           'auto-trigger' AS trigger_source
    FROM files f JOIN workflows w ON w.database_id = f.database_id
    WHERE NOT f.is_archived AND f.file_size % 7 = 0
      AND w.auto_trigger_extensions IS NOT NULL
      AND w.auto_trigger_extensions <> ''
      AND (w.auto_trigger_extensions = '.all'
           OR contains(',' || w.auto_trigger_extensions || ',',
                       ',' || lower(f.file_ext) || ','))
    ORDER BY workflow_id, f.database_id, asset_id, file_key
    """,
)
def q_workflow_auto_trigger(spark, sf_dir):
    """Auto-execute-on-upload (sqsAutoExecuteWorkflow.py:146-331): new
    file events joined to the registered-workflow dimension, kept where
    the auto-trigger extension list matches."""
    from .plans.workflow import auto_execute_triggers

    t = tables(spark, sf_dir)
    events = t["files"].filter(
        ~F.col("is_archived") & (F.col("file_size") % 7 == 0)
    )
    return auto_execute_triggers(events, t["workflows"]).orderBy(
        "workflow_id", "database_id", "asset_id", "file_key"
    )


@query(
    "q_workflow_executions",
    """
    SELECT * FROM (VALUES
        ('etl_exec_000003', 'etl', 'SUCCEEDED', 'db_1', 'asset_9',
         '/f/9.glb', 2, 2),
        ('etl_exec_000001', 'etl', 'SUCCEEDED', 'db_1', 'asset_9',
         '/f/1.glb', 2, 2)
    ) AS t(execution_id, workflow_name, status, database_id, asset_id,
           file_key, n_stages, n_attempts)
    ORDER BY execution_id DESC
    """,
)
def q_workflow_executions(spark, sf_dir):
    """Keyed execution listing (executeWorkflow.py:394-487): runs a
    deterministic execution log, then lists executions for one
    (database, asset) newest-first with an inputAssetFileKey filter.
    The oracle is the golden expected log — execution ids and statuses
    are deterministic by construction."""
    from .plans.workflow import list_executions

    t = tables(spark, sf_dir)
    identity = Pipeline("noop", lambda df, ctx: df)
    wf = Workflow("etl", [identity, Pipeline("noop2", lambda df, ctx: df)])
    src = t["files"].limit(1)
    wf.run(src, {"database_id": "db_1", "asset_id": "asset_9", "file_key": "/f/1.glb"})
    wf.run(src, {"database_id": "db_2", "asset_id": "asset_7", "file_key": "/f/7.glb"})
    wf.run(src, {"database_id": "db_1", "asset_id": "asset_9", "file_key": "/f/9.glb"})
    return list_executions(wf.executions_df(spark), "db_1", "asset_9")


@query(
    "q_multimodal_bytes",
    """
    SELECT doc_id AS media_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
    FROM documents ORDER BY media_id
    """,
)
def q_multimodal_bytes(spark, sf_dir):
    """Multimodal plumbing: opaque binary column processed by an
    Arrow-batched mapInPandas kernel (the decode-stub pattern of
    operators/multimodal.py) — the oracle checks the byte accounting."""
    import pandas as pd

    t = tables(spark, sf_dir)
    media = t["documents"].select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "UTF-8").alias("content"),
    )

    def kernel(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "n_bytes": pdf["content"].map(
                        lambda b: len(b) if b is not None else 0
                    ),
                }
            )

    return media.mapInPandas(kernel, "media_id bigint, n_bytes bigint").orderBy(
        "media_id"
    )


# ---------------------------------------------------------------------------
# LLM-data-pipeline extensions: text analysis, dedup, similarity search
# (BASELINE.json north star)
# ---------------------------------------------------------------------------

# DuckDB mirrors of the operators.text building blocks
_O_TOKS = r"list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '')"
_O_BPE_WORDS = (
    "list_filter(string_split_regex(trim(text), "
    r"'[\s\.,;:!\?\(\)\[\]\{\}\"'']+'), t -> t <> '')"
)
_O_STOPS = ", ".join(f"'{w}'" for w in STOPWORDS)
_O_FP = r"md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g')))"


@query(
    "q_multimodal_frame_sample",
    """
    WITH media AS (
        SELECT doc_id AS media_id, length(text) / 100.0 AS duration_s
        FROM documents WHERE doc_id % 3 = 0
    ), frames AS (
        SELECT media_id,
               unnest(range(0,
                   GREATEST(CAST(FLOOR(duration_s / 2.0) AS INT), 0) + 1)) AS i
        FROM media
    )
    SELECT media_id, CAST(i AS BIGINT) AS frame_idx, i * 2.0 AS frame_ts_s
    FROM frames
    ORDER BY media_id, frame_idx
    """,
)
def q_multimodal_frame_sample(spark, sf_dir):
    """Video frame sampling as UDTF-style row expansion (one output row
    per sampled timestamp, explode over a generated sequence) — the
    partitioning-relevant plumbing of the preview/conversion pipelines;
    frame decode itself stays stubbed (no codecs in the container)."""
    from .operators.multimodal import sample_frames

    t = tables(spark, sf_dir)
    media = t["documents"].select(
        F.col("doc_id").alias("media_id"),
        F.when(F.col("doc_id") % 3 == 0, "video")
        .when(F.col("doc_id") % 3 == 1, "image")
        .otherwise("audio")
        .alias("media_type"),
        F.lit(None).cast("binary").alias("content"),
        F.struct(
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            (F.length("text") / 100.0).alias("duration_s"),
            F.lit("h264").alias("codec"),
        ).alias("meta"),
    )
    return (
        sample_frames(media, every_s=2.0)
        .select(
            "media_id",
            F.col("frame_idx").cast("long").alias("frame_idx"),
            "frame_ts_s",
        )
        .orderBy("media_id", "frame_idx")
    )


@query(
    "q_doc_stats",
    f"""
    WITH base AS (
        SELECT doc_id, text, {_O_TOKS} AS toks, {_O_BPE_WORDS} AS words
        FROM documents
    )
    SELECT doc_id,
        CAST(len(toks) AS BIGINT) AS n_tokens,
        CAST(len(words) + COALESCE(list_sum(list_transform(words,
             w -> CASE WHEN length(w) > 4
                       THEN CAST(FLOOR(length(w) / 4) AS BIGINT) - 1
                       ELSE 0 END)), 0) AS BIGINT) AS bpe_tokens,
        ROUND(
            0.25 * (CASE WHEN length(text) >= 50 AND length(text) <= 100000
                         THEN 1.0 ELSE 0.0 END)
          + 0.25 * (length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                    / GREATEST(length(text), 1))
          + 0.25 * LEAST((len(list_filter(toks, t -> lower(t) IN ({_O_STOPS})))
                          / GREATEST(len(toks), 1)) * 4.0, 1.0)
          + 0.25 * (CASE WHEN length(text) / GREATEST(len(toks), 1) >= 3
                          AND length(text) / GREATEST(len(toks), 1) <= 12
                         THEN 1.0 ELSE 0.0 END), 4) AS quality
    FROM base ORDER BY doc_id
    """,
)
def q_doc_stats(spark, sf_dir):
    from .operators.partitioning import ensure_min_parallelism

    t = tables(spark, sf_dir)
    txt = F.col("text")
    # one shared lowered-token column feeds the count AND the quality
    # score (token boundaries are case-invariant) — one full-text split
    # regex pass per row instead of two (r14 probe5)
    return (
        ensure_min_parallelism(t["documents"])
        .withColumn("_lt", tokens(F.lower(txt)))
        .select(
            "doc_id",
            F.size("_lt").cast("bigint").alias("n_tokens"),
            bpe_token_estimate(txt).cast("bigint").alias("bpe_tokens"),
            quality_score(txt, F.col("_lt")).alias("quality"),
        )
        .orderBy("doc_id")
    )


def _o_lang_count(markers: tuple[str, ...]) -> str:
    lits = ", ".join(f"'{m}'" for m in markers)
    return f"len(list_filter(toks, t -> lower(t) IN ({lits})))"


@query(
    "q_doc_lang",
    f"""
    WITH base AS (SELECT doc_id, {_O_TOKS} AS toks FROM documents),
    counts AS (
        SELECT doc_id,
            {_o_lang_count(("der", "die", "und"))} AS c_de,
            {_o_lang_count(("the", "and", "of"))} AS c_en,
            {_o_lang_count(("el", "los", "que"))} AS c_es,
            {_o_lang_count(("le", "la", "et"))} AS c_fr
        FROM base
    )
    SELECT doc_id,
        CASE WHEN GREATEST(c_de, c_en, c_es, c_fr) = 0 THEN 'und'
             WHEN c_de = GREATEST(c_de, c_en, c_es, c_fr) THEN 'de'
             WHEN c_en = GREATEST(c_de, c_en, c_es, c_fr) THEN 'en'
             WHEN c_es = GREATEST(c_de, c_en, c_es, c_fr) THEN 'es'
             ELSE 'fr' END AS lang_pred
    FROM counts ORDER BY doc_id
    """,
)
def q_doc_lang(spark, sf_dir):
    t = tables(spark, sf_dir)
    return (
        t["documents"]
        .select("doc_id", lang_id(F.col("text")).alias("lang_pred"))
        .orderBy("doc_id")
    )


@query(
    "q_doc_fingerprint",
    f"SELECT doc_id, {_O_FP} AS fp FROM documents ORDER BY doc_id",
)
def q_doc_fingerprint(spark, sf_dir):
    t = tables(spark, sf_dir)
    return (
        t["documents"]
        .select("doc_id", fingerprint(F.col("text")).alias("fp"))
        .orderBy("doc_id")
    )


@query(
    "q_dedup_exact",
    f"""
    WITH all_docs AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id, text FROM documents
    ), fps AS (SELECT doc_id, {_O_FP} AS fp FROM all_docs)
    SELECT fp, COUNT(*) AS dup_count, MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
    FROM fps GROUP BY fp HAVING COUNT(*) > 1
    ORDER BY fp
    """,
)
def q_dedup_exact(spark, sf_dir):
    t = tables(spark, sf_dir)
    docs = t["documents"].select("doc_id", "text")
    doubled = docs.unionByName(
        docs.select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    )
    return (
        exact_duplicate_groups(doubled)
        .select(
            "fp",
            "dup_count",
            F.array_min("doc_ids").alias("min_id"),
            F.array_max("doc_ids").alias("max_id"),
        )
        .orderBy("fp")
    )


@query(
    "q_doc_winnow_overlap",
    """
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                           t -> t <> '') AS toks
        FROM documents
    ), corpus AS (
        SELECT doc_id, toks FROM toks
        UNION ALL
        SELECT doc_id + 1000000,
               list_slice(toks, 1, GREATEST(len(toks) - 5, 1))
        FROM toks
    ), grams AS (
        SELECT doc_id,
               CASE WHEN len(toks) >= 5 THEN list_transform(
                   range(1, len(toks) - 3),
                   i -> md5(array_to_string(list_slice(toks, i, i + 4), ' '))
               ) ELSE [] END AS grams
        FROM corpus
    ), fps AS (
        SELECT doc_id,
               list_sort(list_distinct(
                   CASE WHEN len(grams) >= 4 THEN list_transform(
                       range(1, len(grams) - 2),
                       i -> list_min(list_slice(grams, i, i + 3))
                   ) ELSE [] END
               )) AS fps
        FROM grams
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(len(list_intersect(a.fps, b.fps)) AS BIGINT) AS shared,
           CAST(len(a.fps) AS BIGINT) AS n_a,
           CAST(len(b.fps) AS BIGINT) AS n_b
    FROM fps a JOIN fps b ON b.doc_id = a.doc_id + 1000000
    ORDER BY id_a
    """,
)
def q_doc_winnow_overlap(spark, sf_dir):
    """Winnowing fingerprints (k-gram rolling hash + window min,
    Schleimer et al. SIGMOD'03) detecting partial overlap: each doc vs
    its truncated twin shares most fingerprints. The selection runs as
    array expressions per row — no explode, no shuffle until the 1:1
    pair join."""
    from .operators.text import winnow_fingerprints

    t = tables(spark, sf_dir)
    docs = t["documents"].select("doc_id", "text")
    toks = F.filter(
        F.split(F.lower(F.trim("text")), r"\s+"), lambda tok: tok != ""
    )
    mutated = docs.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat_ws(
            " ", F.slice(toks, 1, F.greatest(F.size(toks) - 5, F.lit(1)))
        ).alias("text"),
    )
    corpus = docs.unionByName(mutated)
    f = corpus.select(
        "doc_id", winnow_fingerprints(F.col("text"), k=5, window=4).alias("fps")
    )
    a, b = f.alias("a"), f.alias("b")
    return (
        a.join(b, F.col("b.doc_id") == F.col("a.doc_id") + 1000000)
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.size(F.array_intersect("a.fps", "b.fps")).cast("long").alias(
                "shared"
            ),
            F.size("a.fps").cast("long").alias("n_a"),
            F.size("b.fps").cast("long").alias("n_b"),
        )
        .orderBy("id_a")
    )


@query(
    "q_dedup_drop",
    f"""
    WITH all_docs AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id, text FROM documents
    ), ranked AS (
        SELECT doc_id, {_O_FP} AS fp,
               ROW_NUMBER() OVER (PARTITION BY {_O_FP} ORDER BY doc_id) AS rn
        FROM all_docs
    )
    SELECT doc_id, fp FROM ranked WHERE rn = 1
    ORDER BY doc_id
    """,
)
def q_dedup_drop(spark, sf_dir):
    """The keep-one-representative half of exact dedup: lowest-id row
    survives per fingerprint group (drop_exact_duplicates) — one window
    over the fingerprint hash partition."""
    t = tables(spark, sf_dir)
    docs = t["documents"].select("doc_id", "text")
    doubled = docs.unionByName(
        docs.select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    )
    from .operators.dedup import drop_exact_duplicates

    return (
        drop_exact_duplicates(doubled)
        .select("doc_id", fingerprint(F.col("text")).alias("fp"))
        .orderBy("doc_id")
    )


@query(
    "q_ngram_jaccard_topk",
    """
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                           t -> t <> '') AS toks
        FROM documents
    ), corpus AS (
        SELECT doc_id, toks FROM toks
        UNION ALL
        SELECT doc_id + 1000000,
               list_slice(toks, 1, GREATEST(len(toks) - 5, 1))
        FROM toks
    ), sh AS (
        SELECT doc_id,
               CASE WHEN len(toks) >= 3 THEN list_distinct(list_transform(
                   range(0, len(toks) - 3 + 1),
                   i -> array_to_string(list_slice(toks, i + 1, i + 3), ' ')
               )) ELSE [] END AS sh
        FROM corpus
    )
    SELECT * FROM (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               ROUND(len(list_intersect(a.sh, b.sh))
                     / len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    ) WHERE jaccard >= 0.9
    ORDER BY jaccard DESC, id_a, id_b
    LIMIT 50
    """,
)
def q_ngram_jaccard_topk(spark, sf_dir):
    """n-gram Jaccard near-dup pairs (jaccard ≥ 0.9) over documents ∪ a
    mutated copy (last 5 tokens dropped), so true near-duplicates exist
    at every SF.

    The engine path NEVER does an all-pairs join: candidates come from
    banded MinHash LSH (equi-join on (band, band_hash)) and only those
    pairs get the exact shingle-set verification; the oracle is the
    quadratic exact form, feasible at the correctness SF.

    Threshold/banding honesty: with 16 bands × 4 rows, a pair at
    jaccard j collides with probability 1-(1-j⁴)^16 — ≈0.89 at j=0.6
    but ≥1-4e-8 at j=0.9, so the contract is set at 0.9 where recall is
    deterministically ~1 for any corpus; the mutation keeps pairs of
    ≥52-token documents above it. (32 bands × 2 rows would have recall
    ~1 even at 0.5 but admits ~1% of ALL pairs as candidates — measured
    6× slower at sf0.1 from shuffling shingle arrays for noise pairs;
    noise pairs at jaccard ≈ 0.02 essentially never collide at 16×4.)
    """
    from .operators.dedup import minhash_lsh_candidates, ngram_jaccard_pairs

    t = tables(spark, sf_dir)
    docs = t["documents"].select("doc_id", "text")
    toks = F.filter(
        F.split(F.lower(F.trim("text")), r"\s+"), lambda tok: tok != ""
    )
    mutated = docs.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat_ws(
            " ", F.slice(toks, 1, F.greatest(F.size(toks) - 5, F.lit(1)))
        ).alias("text"),
    )
    corpus = docs.unionByName(mutated)
    cands = minhash_lsh_candidates(corpus, num_hashes=64, bands=16)
    return (
        ngram_jaccard_pairs(corpus, cands, threshold=0.9)
        .orderBy(F.desc("jaccard"), "id_a", "id_b")
        .limit(50)
    )


# -- similarity search ------------------------------------------------------

_EMB_DIM = 64
# Skew-guard cap for q_embedding_near_dup, mirrored in its oracle: with
# 8 hyperplanes (256 buckets) a healthy corpus averages far below this;
# only duplicate-flood / degenerate buckets exceed it.
_EMB_NEAR_DUP_CAP = 512
_ORACLE_SF_DIR = "/root/testdata/sf0.01"  # the driver's correctness SF


def _o_dot(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(range(1, {_EMB_DIM + 1}), "
        f"i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE))"
    )


def _o_cosine(a: str, b: str) -> str:
    return (
        f"({_o_dot(a, b)} / "
        f"(sqrt({_o_dot(a, a)}) * sqrt({_o_dot(b, b)})))"
    )


@query(
    "q_knn_cosine",
    f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id,
           ROUND({_o_cosine('e.embedding', 'q.qv')}, 6) AS cosine_sim
    FROM embeddings e, q
    ORDER BY cosine_sim DESC, vec_id
    LIMIT 10
    """,
)
def q_knn_cosine(spark, sf_dir):
    t = tables(spark, sf_dir)
    return cosine_topk(t["embeddings"], _query_vector(sf_dir), k=10)


@query(
    "q_knn_sq8_rerank",
    f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id,
           ROUND({_o_cosine('e.embedding', 'q.qv')}, 6) AS cosine_sim
    FROM embeddings e, q
    ORDER BY cosine_sim DESC, vec_id
    LIMIT 10
    """,
)
def q_knn_sq8_rerank(spark, sf_dir):
    """SQ8 quantized top-k with exact re-rank (operators/similarity.py
    quantize_embeddings + cosine_topk_quantized): stage 1 ranks by the
    asymmetric int8 approximate cosine over the NARROW (q8, q_scale,
    nrm) relation — 1 byte/element instead of 4, the 100 TB scan-I/O
    cut (measured 3.2x smaller on parquet, SOAK_r13 sq8_probe) — via
    TakeOrderedAndProject; stage 2 fetches full vectors for only the
    bounded `rerank` survivors — their ids collected driver-side and
    PUSHED into the float scan as an In filter, so row-group stats
    skip the non-survivor bytes — and scores them EXACTLY. The oracle is the exact cosine top-10 (the q_lsh_ann
    discipline for approximate tiers): final scores are exact by
    construction, and with rerank=100 >> k=10 the true top-k survives
    the approximate cut — the pinned fixture test asserts strict
    equality, so a hash mismatch here means the quantization or
    rescale drifted."""
    from .operators.similarity import (
        cosine_topk_quantized,
        quantize_embeddings,
    )

    t = tables(spark, sf_dir)
    emb = t["embeddings"]
    return cosine_topk_quantized(
        quantize_embeddings(emb), emb, _query_vector(sf_dir),
        k=10, rerank=100,
    )


def _lsh_oracle() -> str:
    """Generated oracle for the LSH ANN query: inlines the deterministic
    hyperplanes and the probe-bucket list computed from the correctness-SF
    query vector (the Spark path derives both identically from seed 42)."""
    planes = _hyperplanes(_EMB_DIM, 8, seed=42)
    qv = np.asarray(_query_vector(_ORACLE_SF_DIR), dtype=np.float64)
    signs = (planes @ qv) > 0
    qbucket = int(sum(1 << i for i, s in enumerate(signs) if s))
    probe = sorted({qbucket} | {qbucket ^ (1 << i) for i in range(8)})
    probe_sql = ", ".join(str(p) for p in probe)

    def plane_lit(i: int) -> str:
        vals = ", ".join(repr(float(v)) for v in planes[i])
        return f"([{vals}]::DOUBLE[])"

    bucket_terms = " + ".join(
        f"(CASE WHEN {_o_dot('embedding', plane_lit(i))} > 0 "
        f"THEN {1 << i} ELSE 0 END)"
        for i in range(8)
    )
    return f"""
    WITH cand AS (
        SELECT vec_id, embedding, CAST({bucket_terms} AS BIGINT) AS bucket
        FROM embeddings
    ), q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
    SELECT c.vec_id, ROUND({_o_cosine('c.embedding', 'q.qv')}, 6) AS cosine_sim
    FROM cand c, q WHERE c.bucket IN ({probe_sql})
    ORDER BY cosine_sim DESC, vec_id
    LIMIT 10
    """


_bucketed_emb_cache: dict[tuple[int, str], str] = {}


def _bucketed_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANN read path: embeddings materialized PARTITIONED BY the LSH
    bucket (once per session × sf_dir), so a probe's bucket IN-list
    becomes partition pruning — the scan touches |probe|/256 of the
    corpus instead of all of it. At cluster scale this directory layout
    is the Delta/Iceberg partition key; here it's plain parquet."""
    import tempfile

    from .operators.similarity import write_bucketed_embeddings

    key = (id(spark), sf_dir)
    if key not in _bucketed_emb_cache:
        out = tempfile.mkdtemp(prefix="vams_spark_lsh_buckets_")
        write_bucketed_embeddings(
            tables(spark, sf_dir)["embeddings"], out, dim=_EMB_DIM,
            n_planes=8, seed=42,
        )
        _bucketed_emb_cache[key] = out
    return spark.read.parquet(_bucketed_emb_cache[key])


@query("q_lsh_ann", _lsh_oracle() if os.path.isdir(_ORACLE_SF_DIR) else None)
def q_lsh_ann(spark, sf_dir):
    return lsh_topk(
        _bucketed_embeddings(spark, sf_dir), _query_vector(sf_dir), k=10,
        n_planes=8, multiprobe_hamming=1, seed=42, bucket_col="bucket",
    )


def _emb_near_dup_oracle() -> str:
    """Generated oracle for embedding near-dup pairs: inlines the
    deterministic hyperplanes; the corpus plants exact near-duplicates
    by appending a ×2-scaled copy (scaling by a power of two is exact in
    IEEE754 and commutes with rounding, so the sign pattern — the LSH
    bucket — is bit-identical to the original's in both engines)."""
    planes = _hyperplanes(_EMB_DIM, 8, seed=42)

    def plane_lit(i: int) -> str:
        vals = ", ".join(repr(float(v)) for v in planes[i])
        return f"([{vals}]::DOUBLE[])"

    def bucket_terms(col: str) -> str:
        return " + ".join(
            f"(CASE WHEN {_o_dot(col, plane_lit(i))} > 0 "
            f"THEN {1 << i} ELSE 0 END)"
            for i in range(8)
        )

    return f"""
    WITH corpus AS (
        SELECT vec_id, embedding::DOUBLE[] AS embedding FROM embeddings
        UNION ALL
        SELECT vec_id + 1000000, list_transform(embedding, x -> x::DOUBLE * 2)
        FROM embeddings
    ), b AS (
        SELECT vec_id, embedding,
               CAST({bucket_terms('embedding')} AS BIGINT) AS bucket
        FROM corpus
    ), bf AS (
        -- mirror of the engine's max_bucket_size skew guard: buckets
        -- over the cap contribute no pairs
        SELECT * FROM b WHERE bucket IN (
            SELECT bucket FROM b GROUP BY bucket
            HAVING COUNT(*) <= {_EMB_NEAR_DUP_CAP}
        )
    )
    SELECT * FROM (
        SELECT l.vec_id AS id_a, r.vec_id AS id_b,
               ROUND({_o_cosine('l.embedding', 'r.embedding')}, 6) AS cosine_sim
        FROM bf l JOIN bf r ON l.bucket = r.bucket AND l.vec_id < r.vec_id
    ) WHERE cosine_sim >= 0.9
    ORDER BY id_a, id_b
    """


@query("q_embedding_near_dup", _emb_near_dup_oracle())
def q_embedding_near_dup(spark, sf_dir):
    """Embedding-cosine near-dup pairs: exact cosine WITHIN LSH buckets
    only (never all-pairs) over documents' embeddings ∪ a ×2-scaled
    copy — the planted duplicates are co-bucketed by construction. The
    bucket-size cap (oracle-mirrored) drops pathological pair-bomb
    buckets; at correctness SFs no bucket approaches it."""
    from .operators.similarity import pairwise_cosine_within_buckets

    t = tables(spark, sf_dir)
    emb = t["embeddings"].select("vec_id", "embedding")
    scaled = emb.select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform(
            "embedding", lambda x: x.cast("double") * F.lit(2.0)
        ).alias("embedding"),
    )
    corpus = emb.selectExpr(
        "vec_id", "transform(embedding, x -> cast(x as double)) AS embedding"
    ).unionByName(scaled)
    return pairwise_cosine_within_buckets(
        corpus, dim=_EMB_DIM, min_cosine=0.9,
        max_bucket_size=_EMB_NEAR_DUP_CAP,
    ).orderBy("id_a", "id_b")


def _ivf_oracle() -> str:
    """Generated oracle for IVF ANN: centroid literals are the first 16
    vectors of the correctness-SF corpus; the probe list is computed
    with the same numpy code the Spark path uses."""
    import pyarrow.parquet as pq

    tbl = pq.read_table(
        os.path.join(_ORACLE_SF_DIR, "embeddings.parquet"),
        columns=["vec_id", "embedding"],
        filters=[("vec_id", "<", 16)],
    ).sort_by("vec_id")
    cents = np.asarray(
        [[float(x) for x in row] for row in tbl.column("embedding").to_pylist()]
    )
    q = np.asarray(_query_vector(_ORACLE_SF_DIR), dtype=np.float64)
    d2 = ((cents - q) ** 2).sum(axis=1)
    probe = sorted(int(i) for i in np.argsort(d2, kind="stable")[:4])
    probe_sql = ", ".join(str(p) for p in probe)

    def cent_lit(i: int) -> str:
        vals = ", ".join(repr(float(v)) for v in cents[i])
        return f"([{vals}]::DOUBLE[])"

    def sqdist(i: int) -> str:
        return (
            f"list_sum(list_transform(range(1, {_EMB_DIM + 1}), "
            f"j -> (embedding[j]::DOUBLE - {cent_lit(i)}[j]) "
            f"* (embedding[j]::DOUBLE - {cent_lit(i)}[j])))"
        )

    dists = ", ".join(f"{sqdist(i)} AS d{i}" for i in range(16))
    least = "LEAST(" + ", ".join(f"d{i}" for i in range(16)) + ")"
    argmin = (
        "CASE "
        + " ".join(f"WHEN d{i} = m THEN {i}" for i in range(16))
        + " END"
    )
    return f"""
    WITH d AS MATERIALIZED (
        SELECT vec_id, embedding, {dists} FROM embeddings
    ), assigned AS MATERIALIZED (
        SELECT vec_id, embedding, {argmin} AS list_id
        FROM (SELECT *, {least} AS m FROM d)
    ), q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
    SELECT a.vec_id, ROUND({_o_cosine('a.embedding', 'q.qv')}, 6) AS cosine_sim
    FROM assigned a, q WHERE a.list_id IN ({probe_sql})
    ORDER BY cosine_sim DESC, vec_id
    LIMIT 10
    """


# built once at import: two queries share this generated oracle, and
# each build pays a pyarrow read of the correctness-SF embeddings
_IVF_ORACLE_SQL = _ivf_oracle() if os.path.isdir(_ORACLE_SF_DIR) else None


@query("q_ivf_ann", _IVF_ORACLE_SQL)
def q_ivf_ann(spark, sf_dir):
    """IVF-lite ANN: inverted lists keyed by nearest sampled centroid,
    probe the 4 nearest lists, exact cosine within — the second
    approximate tier next to LSH (true k-means centroids slot in via
    Spark ML without changing the probe contract)."""
    from .operators.similarity import ivf_topk, sample_centroids

    t = tables(spark, sf_dir)
    emb = t["embeddings"]
    cents = sample_centroids(emb, 16)
    return ivf_topk(emb, _query_vector(sf_dir), cents, k=10, nprobe=4)


_ann_store_cache: dict = {}


def _ann_event_store(spark: SparkSession, sf_dir: str) -> str:
    """The maintained IVF index over embeddings, built the way a
    deployment builds it: three incremental ann_index_update calls
    (vec_id thirds — new assets landing over time), once per session ×
    sf_dir. The FIRST batch holds the lowest vec_ids, so the frozen
    sampled centroids are the corpus's first 16 by id — byte-identical
    to q_ivf_ann's matrix, which is what lets the probe share its
    generated oracle."""
    import tempfile

    from .operators.similarity import ann_index_update

    key = (spark.sparkContext.applicationId, sf_dir)
    cached = _ann_store_cache.get(key)
    if cached is not None and not os.path.isdir(cached):
        del _ann_store_cache[key]
    if key not in _ann_store_cache:
        out = tempfile.mkdtemp(prefix="vams_spark_ann_store_")
        emb = tables(spark, sf_dir)["embeddings"]
        n = emb.count()
        cuts = [0, max(n // 3, 16), max(2 * n // 3, 17), n]
        for i in range(3):
            batch = emb.filter(
                (F.col("vec_id") >= cuts[i]) & (F.col("vec_id") < cuts[i + 1])
            )
            ann_index_update(
                spark, out, batch, _EMB_DIM, n_lists=16, batch_key=f"b{i}"
            )
        _ann_store_cache[key] = out
    return _ann_store_cache[key]


@query("q_ann_store_topk", _IVF_ORACLE_SQL)
def q_ann_store_topk(spark, sf_dir):
    """The DEPLOYMENT shape of the IVF tier: q_ivf_ann assigns the
    whole corpus in one plan; THIS query probes a MAINTAINED index
    (operators/similarity.py ann_index_update/ann_store_topk — the
    FAISS add() discipline as a Spark store: centroids frozen at
    creation, each batch assigned to the nearest existing list and
    appended partition-by-list, max-seq reads giving replay-free
    at-least-once semantics AND deterministic re-embedding upserts).
    The executed probe prunes to the 4 probed list partitions
    (PartitionFilters — plan-asserted in tests) and runs exact cosine
    within them. With the same frozen centroids the result provably
    equals q_ivf_ann (assignment is a pure function of (vector,
    centroids)), so the two queries SHARE the generated oracle — the
    driver gate certifies the maintained path against the same SQL."""
    from .operators.similarity import ann_store_topk

    store = _ann_event_store(spark, sf_dir)
    return ann_store_topk(
        spark, store, _query_vector(sf_dir), k=10, nprobe=4
    )


def _ann_knn_oracle() -> str:
    """Generated oracle for the BATCHED maintained-store probe: the
    assignment CTE is q_ivf_ann's (same frozen first-16 centroids);
    each of the 4 query vectors gets its probe lists computed at
    generation time with the same numpy argsort the single-vector
    probe uses, shipped as a VALUES mapping. Deliberately standalone
    from _ivf_oracle (sharing its helpers would fold this generator
    into q_ivf_ann's fingerprint and re-stale a settled green)."""
    import pyarrow.parquet as pq

    tbl = pq.read_table(
        os.path.join(_ORACLE_SF_DIR, "embeddings.parquet"),
        columns=["vec_id", "embedding"],
        filters=[("vec_id", "<", 16)],
    ).sort_by("vec_id")
    cents = np.asarray(
        [[float(x) for x in row] for row in tbl.column("embedding").to_pylist()]
    )
    # probe lists via the SAME sequential left fold the engine uses
    # (JVM zip_with/aggregate in ann_store_knn_join and the driver-side
    # _sqdist_fold in ann_store_topk) — numpy's pairwise .sum can
    # differ at the ULP on near-tied centroid distances, which would
    # be enough to ship a different probe mapping than the engine
    # derives (r12 advisory)
    from .operators.similarity import _sqdist_fold

    pairs = []
    for qid in range(4):
        q = [float(x) for x in _query_vector(_ORACLE_SF_DIR, qid)]
        d2 = _sqdist_fold(cents, q)
        for lst in np.argsort(d2, kind="stable")[:4]:
            pairs.append(f"({qid}, {int(lst)})")
    probes = ", ".join(pairs)

    def cent_lit(i: int) -> str:
        vals = ", ".join(repr(float(v)) for v in cents[i])
        return f"([{vals}]::DOUBLE[])"

    def sqdist(i: int) -> str:
        return (
            f"list_sum(list_transform(range(1, {_EMB_DIM + 1}), "
            f"j -> (embedding[j]::DOUBLE - {cent_lit(i)}[j]) "
            f"* (embedding[j]::DOUBLE - {cent_lit(i)}[j])))"
        )

    dists = ", ".join(f"{sqdist(i)} AS d{i}" for i in range(16))
    least = "LEAST(" + ", ".join(f"d{i}" for i in range(16)) + ")"
    argmin = (
        "CASE "
        + " ".join(f"WHEN d{i} = m THEN {i}" for i in range(16))
        + " END"
    )
    return f"""
    WITH d AS MATERIALIZED (
        SELECT vec_id, embedding, {dists} FROM embeddings
    ), assigned AS MATERIALIZED (
        SELECT vec_id, embedding, {argmin} AS list_id
        FROM (SELECT *, {least} AS m FROM d)
    ), probes AS (
        SELECT * FROM (VALUES {probes}) v(query_id, list_id)
    ), q AS (
        SELECT vec_id AS query_id, embedding AS qv FROM embeddings
        WHERE vec_id < 4
    ), scored AS (
        SELECT q.query_id, a.vec_id,
               ROUND({_o_cosine('a.embedding', 'q.qv')}, 6) AS cosine_sim
        FROM q
        JOIN probes p ON p.query_id = q.query_id
        JOIN assigned a ON a.list_id = p.list_id
    ), ranked AS (
        SELECT query_id, vec_id, cosine_sim,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY query_id
                   ORDER BY cosine_sim DESC, vec_id
               ) AS INT) AS rank
        FROM scored
    )
    SELECT query_id, vec_id, cosine_sim, rank FROM ranked
    WHERE rank <= 10 ORDER BY query_id, rank
    """


_ANN_KNN_ORACLE_SQL = (
    _ann_knn_oracle() if os.path.isdir(_ORACLE_SF_DIR) else None
)


@query("q_ann_store_knn_join", _ANN_KNN_ORACLE_SQL)
def q_ann_store_knn_join(spark, sf_dir):
    """Batched query-table probes over the MAINTAINED IVF index
    (operators/similarity.py ann_store_knn_join) — the re-embedding
    pipeline shape: a 4-row query table is assigned to its nprobe
    lists JVM-SIDE (frozen centroids as literal arrays; array_sort
    over (distance, list) structs ranks exactly like the numpy stable
    argsort the single-vector probe uses), the union of probed lists
    lands on the vector fetch AND the live-key scan as a static IN
    filter (PartitionFilters), and per-query top-k is a rank-filtered
    window (WindowGroupLimit) over one scan — no per-vector driver
    round-trips, no global sort. With the store's frozen first-16
    centroids the result provably equals per-list exact cosine, so
    the oracle is generated the same way q_ivf_ann's is, extended to
    a per-query probe mapping."""
    from .operators.similarity import ann_store_knn_join

    store = _ann_event_store(spark, sf_dir)
    queries_df = tables(spark, sf_dir)["embeddings"].filter(
        F.col("vec_id") < 4
    ).select(F.col("vec_id").alias("query_id"), "embedding")
    return ann_store_knn_join(
        spark, store, queries_df, k=10, nprobe=4,
        query_id_col="query_id", id_col="vec_id", vec_col="embedding",
    )


# -- no-oracle entries (non-SQL-expressible; driver records rows-only) ------

@query(
    "q_multimodal_features",
    """
    SELECT CAST(doc_id AS VARCHAR) AS media_id,
           array_to_string(list_transform(range(0, 16), i -> CAST(
               ('0x' || substr(md5(text || CAST(i AS VARCHAR)), 1, 8))::BIGINT
                % 1000 AS VARCHAR)), ',') AS features
    FROM documents
    ORDER BY media_id
    """,
)
def q_multimodal_features(spark, sf_dir):
    """Arrow-batched feature extraction over binary media content
    (operators/multimodal.py extract_features — mapInPandas batch path).
    The stub kernel's feature derivation is md5-based precisely so the
    oracle can recompute every vector element in SQL: the differential
    check verifies the full Arrow round-trip (binary column in, typed
    array<float> out, batch iteration) value-for-value. Output contract:
    the float32 vector is re-quantized to integer milli-units and joined
    with commas — the driver canonicalizer cannot sort list cells, so
    registered queries never emit top-level array columns (the
    test_plan_lint.py output-schema lint enforces this)."""
    from .operators.multimodal import extract_features

    t = tables(spark, sf_dir)
    media = t["documents"].select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.lit("image").alias("media_type"),
        F.encode("text", "UTF-8").alias("content"),
        F.struct(
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("double").alias("duration_s"),
            F.lit(None).cast("string").alias("codec"),
        ).alias("meta"),
    )
    return (
        extract_features(media)
        .select(
            "media_id",
            F.concat_ws(
                ",",
                F.transform(
                    "features",
                    lambda x: F.round(x.cast("double") * 1000)
                    .cast("bigint")
                    .cast("string"),
                ),
            ).alias("features"),
        )
        .orderBy("media_id")
    )


@query(
    "q_minhash_pairs",
    """
    WITH toks AS (
        SELECT doc_id,
               len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                               t -> t <> '')) AS n
        FROM documents
    )
    SELECT doc_id AS id_a, doc_id + 1000000 AS id_b
    FROM toks WHERE n >= 32
    ORDER BY id_a
    """,
)
def q_minhash_pairs(spark, sf_dir):
    """Planted-pair recovery through the ESTIMATE-path MinHash pipeline
    (the 100 TB default: signatures computed once, banded LSH candidate
    generation, jaccard estimated from signature agreement — dedup.py
    minhash_dedup). The corpus is documents ∪ a mutated copy of each
    (last 5 tokens dropped, id + 1,000,000); the contract is that every
    planted pair whose original has ≥ 32 tokens is recovered.

    Why 32 is safe: at L ≥ 32 tokens the pair's true shingle Jaccard is
    ≥ (L−7)/(L−2) ≈ 0.83, so (a) a band of 4 rows collides with
    probability 1−(1−0.83⁴)^16 ≈ 1−3e−5 and (b) the 64-component
    signature-agreement estimate sits ~10σ above the 0.4 threshold —
    recovery is deterministic in practice for any corpus (verified
    against the exact all-pairs oracle at the correctness SF). Raw
    non-planted pairs still flow through the same plan; only the OUTPUT
    is restricted to the SQL-decidable planted subset."""
    t = tables(spark, sf_dir)
    docs = t["documents"].select("doc_id", "text")
    toks = F.split(F.trim("text"), r"\s+")
    mutated = docs.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat_ws(
            " ", F.slice(toks, 1, F.greatest(F.size(toks) - 5, F.lit(1)))
        ).alias("text"),
    )
    pairs = minhash_dedup(
        docs.unionByName(mutated), threshold=0.4, num_hashes=64, bands=16
    )
    from .operators.text import token_count

    eligible = docs.filter(token_count(F.lower("text")) >= 32).select(
        F.col("doc_id").alias("id_a")
    )
    return (
        pairs.filter(F.col("id_b") == F.col("id_a") + 1000000)
        .join(eligible, "id_a", "left_semi")
        .select("id_a", "id_b")
        .orderBy("id_a")
    )


@query(
    "q_simhash_pairs",
    """
    WITH toks AS (
        SELECT doc_id,
               len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                               t -> t <> '')) AS n
        FROM documents
    )
    SELECT doc_id AS id_a, doc_id + 1000000 AS id_b, 0 AS hamming
    FROM toks WHERE n >= 1
    ORDER BY id_a
    """,
)
def q_simhash_pairs(spark, sf_dir):
    """SimHash invariance contract, SQL-decidable form: the signature is
    a function of the token BAG (per-bit sums over xxhash64(token) —
    dedup.py simhash_signatures), so a token-order-reversed copy of a
    document has the IDENTICAL signature. The corpus is documents ∪ a
    reversed copy (id + 1,000,000); every planted pair must come back at
    hamming distance exactly 0, and the chunked pigeonhole join finds
    distance-0 pairs with certainty (all chunks match). Non-planted
    near-dup pairs still flow through the same plan; only the OUTPUT is
    restricted to the planted subset the oracle can enumerate."""
    t = tables(spark, sf_dir)
    docs = t["documents"].select("doc_id", "text")
    toks = F.filter(
        F.split(F.trim("text"), r"\s+"), lambda tok: tok != ""
    )
    mutated = docs.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat_ws(" ", F.reverse(toks)).alias("text"),
    )
    pairs = simhash_near_duplicates(
        docs.unionByName(mutated), bits=32, max_hamming=3, chunks=4
    )
    return (
        pairs.filter(F.col("id_b") == F.col("id_a") + 1000000)
        .select("id_a", "id_b", "hamming")
        .orderBy("id_a")
    )


# ---------------------------------------------------------------------------
# round 3: BM25 relevance tier
# ---------------------------------------------------------------------------

def asset_inverted_index(
    t: dict[str, DataFrame], sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(postings, stats) for the asset search table — maintained state
    like the search tables themselves (built lazily, the first time a
    bm25 request runs), materialized as on-disk bucketed tables rather
    than ``.persist()`` so every consumer reads a term-pruned FileScan
    regardless of executor cache residency (VERDICT r8 #2; see
    ``_materialize``). The single-row stats frame rides along as a tiny
    table — recomputing it per query would charge each search with a
    distinct+agg over the postings (operators/inverted_index.py
    ``postings_stats`` docstring: rebuild-time, not query-time)."""
    import hashlib

    from .operators.inverted_index import build_inverted_index
    from .plans.compiler import DEFAULT_TEXT_FIELDS

    if "asset_postings" not in t:
        spark = t["search_assets"].sparkSession
        postings, stats = build_inverted_index(
            t["search_assets"],
            ["database_id", "asset_id"],
            DEFAULT_TEXT_FIELDS["asset"],
        )
        from .operators.bucketing import drop_table
        from .operators.inverted_index import write_postings

        t["asset_postings"] = _materialize(
            postings, "asset_postings", sf_dir, write_postings
        )

        tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
        try:
            drop_table(spark, f"asset_postings_stats_{tag}")
            stats.write.mode("overwrite").saveAsTable(
                f"asset_postings_stats_{tag}"
            )
            t["asset_postings_stats"] = spark.table(
                f"asset_postings_stats_{tag}"
            )
        except Exception:  # noqa: BLE001 — same unwritable-warehouse
            # fallback as _materialize (single-row frame; cache is fine)
            t["asset_postings_stats"] = stats.persist()
    return t["asset_postings"], t["asset_postings_stats"]


@query(
    "q_vams_bm25_search",
    oracle_with("assets")
    + """
    SELECT database_id, asset_id FROM assets
    WHERE NOT is_archived
      AND list_has_any(
            string_split_regex(
                lower(concat_ws(' ', asset_name, description, asset_type)),
                '[^a-z0-9]+'),
            ['red', 'metallic'])
    ORDER BY database_id, asset_id
    """,
)
def q_vams_bm25_search(spark, sf_dir):
    """BM25 relevance tier over the tokenized inverted index
    (operators/inverted_index.py), selected via
    SearchRequest(relevance="bm25") behind the same ``score`` contract
    as the v0 match-count tier — the engine's deterministic analog of
    the reference's OpenSearch BM25 (search.py:1089-1121).

    Oracle checks the matched-id set: a BM25 hit iff ≥1 query TOKEN
    appears in the searched fields (token semantics, not substring —
    'red' does not match 'goldenrod', distinguishing this tier from the
    v0 containment path). Scores are ln-based doubles, not
    cross-engine hashable; determinism and ranking are unit-tested
    (tests/test_search_compiler.py)."""
    t = tables(spark, sf_dir)
    postings, stats = asset_inverted_index(t, sf_dir)
    sc = SearchCompiler(
        {"asset": t["search_assets"]},
        inverted_indexes={"asset": (postings, stats)},
    )
    req = SearchRequest(
        query="red metallic", relevance="bm25",
        entity_types=("asset",), size=2000,
    )
    return (
        sc.hits(req)
        .select("database_id", "asset_id")
        .orderBy("database_id", "asset_id")
    )


# ---------------------------------------------------------------------------
# round 3: data-driven ABAC (constraints from a table)
# ---------------------------------------------------------------------------

#: the q_vams_authz policy as constraint ROWS (the engine analog of
#: ConstraintsStorageTable items) — built as a DataFrame per query so
#: the compiled predicate provably derives from data, not code
_CONSTRAINT_ROWS_SQL = """
    SELECT * FROM (VALUES
        ('c1', 'allow', 'GET', array(
            named_struct('field', 'database_id', 'operator', 'is_in',
                         'value', CAST(NULL AS STRING),
                         'values', array('db_1', 'db_2', 'db_3')),
            named_struct('field', 'asset_type', 'operator', 'equals',
                         'value', 'glb',
                         'values', CAST(NULL AS ARRAY<STRING>)))),
        ('c2', 'allow', 'GET', array(
            named_struct('field', 'database_id', 'operator', 'equals',
                         'value', 'db_4',
                         'values', CAST(NULL AS ARRAY<STRING>)))),
        ('c3', 'deny', 'GET', array(
            named_struct('field', 'tags', 'operator', 'contains',
                         'value', 'large',
                         'values', CAST(NULL AS ARRAY<STRING>))))
    ) AS t(constraint_id, effect, action, criteria)
"""


@query(
    "q_vams_authz_table",
    oracle_with("assets")
    + """
    SELECT database_id, asset_id FROM assets
    WHERE ((database_id IN ('db_1', 'db_2', 'db_3') AND asset_type = 'glb')
           OR database_id = 'db_4')
      AND NOT (tag1 = 'large' OR tag2 = 'large')
    ORDER BY database_id, asset_id
    """,
)
def q_vams_authz_table(spark, sf_dir):
    """Row-level ABAC with the policy loaded FROM A CONSTRAINTS TABLE
    (authz/__init__.py:387-559 reads ConstraintsStorageTable rows;
    storageBuilder-nestedStack.ts:1057-1147) — same allow/deny policy
    and result set as q_vams_authz, but compiled by
    compile_constraints_df from constraint rows instead of Python
    literals. Oracle is the hand-written equivalent predicate."""
    from .operators.authz import compile_constraints_df

    t = tables(spark, sf_dir)
    constraints_df = spark.sql(_CONSTRAINT_ROWS_SQL)
    pred = compile_constraints_df(constraints_df, "GET")
    return (
        t["search_assets"]
        .filter(pred)
        .select("database_id", "asset_id")
        .orderBy("database_id", "asset_id")
    )


# ---------------------------------------------------------------------------
# round 3: comment / tag / tagType / subscription row stores
# ---------------------------------------------------------------------------

@query(
    "q_vams_comments_listing",
    oracle_with("comments")
    + """
    SELECT asset_version_id, comment_id, comment_body, comment_owner_id,
           date_created
    FROM comments
    WHERE database_id = 'db_5' AND asset_id = 'asset_5'
      AND asset_version_id = 'v1'
    ORDER BY comment_id
    """,
)
def q_vams_comments_listing(spark, sf_dir):
    """Comment keyed listing for one asset version
    (commentService.py:119-151: Key(assetId).eq &
    Key('assetVersionId:commentId').begins_with(versionId)) — the
    composite range key's parts are first-class columns, so the
    begins_with becomes an equality on asset_version_id plus the
    comment_id sort."""
    t = tables(spark, sf_dir)
    return (
        t["comments"]
        .filter(
            (F.col("database_id") == "db_5")
            & (F.col("asset_id") == "asset_5")
            & (F.col("asset_version_id") == "v1")
        )
        .select(
            "asset_version_id", "comment_id", "comment_body",
            "comment_owner_id", "date_created",
        )
        .orderBy("comment_id")
    )


@query(
    "q_vams_tags_listing",
    oracle_with("tags", "tag_types")
    + """
    SELECT t.tag_name, t.tag_description, t.tag_type_name,
           (ty.tag_type_name IS NOT NULL) AS type_declared
    FROM tags t LEFT JOIN tag_types ty USING (tag_type_name)
    ORDER BY t.tag_name
    """,
)
def q_vams_tags_listing(spark, sf_dir):
    """Tag listing enriched with the tag-type referential check
    (tagService.py full-table listing; createTag.py:90 validates
    tagTypeName exists). tag_types is a tiny dimension → broadcast."""
    t = tables(spark, sf_dir)
    ty = t["tag_types"].select(
        "tag_type_name", F.lit(True).alias("_declared")
    )
    return (
        t["tags"]
        .join(F.broadcast(ty), "tag_type_name", "left")
        .select(
            "tag_name", "tag_description", "tag_type_name",
            F.coalesce(F.col("_declared"), F.lit(False)).alias("type_declared"),
        )
        .orderBy("tag_name")
    )


@query(
    "q_vams_tag_type_usage",
    oracle_with("tags", "tag_types")
    + """
    SELECT ty.tag_type_name, ty.tag_type_description, ty.required,
           COUNT(t.tag_name) AS tag_count
    FROM tag_types ty LEFT JOIN tags t USING (tag_type_name)
    GROUP BY ty.tag_type_name, ty.tag_type_description, ty.required
    ORDER BY ty.tag_type_name
    """,
)
def q_vams_tag_type_usage(spark, sf_dir):
    """Tag types with their tag usage counts (tagTypeService.py listing
    returns each type with its associated tags; here as the aggregate
    relation). LEFT join so a declared-but-unused type reports 0."""
    t = tables(spark, sf_dir)
    return (
        t["tag_types"]
        .join(t["tags"].select("tag_type_name", "tag_name"), "tag_type_name", "left")
        .groupBy("tag_type_name", "tag_type_description", "required")
        .agg(F.count("tag_name").alias("tag_count"))
        .orderBy("tag_type_name")
    )


@query(
    "q_vams_subscription_counts",
    oracle_with("subscriptions")
    + """
    SELECT event_name, entity_id, COUNT(*) AS subscriber_count
    FROM subscriptions
    WHERE database_id = 'db_5' AND entity_name = 'Asset'
    GROUP BY event_name, entity_id
    ORDER BY entity_id
    """,
)
def q_vams_subscription_counts(spark, sf_dir):
    """Subscription fan-out per entity (subscriptionService.py:96-121:
    rows keyed by entityName_entityId with a subscribers list — here
    normalized to one row per subscriber, aggregated back to the
    fan-out count the notifier needs)."""
    t = tables(spark, sf_dir)
    return (
        t["subscriptions"]
        .filter(
            (F.col("database_id") == "db_5")
            & (F.col("entity_name") == "Asset")
        )
        .groupBy("event_name", "entity_id")
        .agg(F.count(F.lit(1)).alias("subscriber_count"))
        .orderBy("entity_id")
    )


# ---------------------------------------------------------------------------
# round 3: trained-centroid IVF tier
# ---------------------------------------------------------------------------

_KMEANS_CENTROID_CACHE: dict[tuple[int, str], object] = {}


@query(
    "q_ivf_ann_kmeans",
    f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id,
           ROUND({_o_cosine('e.embedding', 'q.qv')}, 6) AS cosine_sim
    FROM embeddings e, q
    ORDER BY cosine_sim DESC, vec_id
    LIMIT 10
    """,
)
def q_ivf_ann_kmeans(spark, sf_dir):
    """IVF ANN with TRAINED centroids (Spark ML k-means, seed-pinned)
    instead of first-N sampling — the quality upgrade slotted in behind
    sample_centroids' contract, as planned in similarity.py.

    The oracle is the EXACT cosine top-10: at the correctness SF the
    4-of-16-list probe over trained centroids achieves 10/10 recall
    (verified against brute force; the recall-vs-exact property is also
    unit-tested at tests/test_operators.py), so the end-to-end check is
    "trained-centroid IVF loses nothing on this corpus" — stronger than
    a rows-only row count, honest about not SQL-replicating the
    training loop itself."""
    from .operators.similarity import ivf_topk, kmeans_centroids

    t = tables(spark, sf_dir)
    emb = t["embeddings"]
    key = (id(spark), sf_dir)
    if key not in _KMEANS_CENTROID_CACHE:
        _KMEANS_CENTROID_CACHE[key] = kmeans_centroids(emb, 16)
    cents = _KMEANS_CENTROID_CACHE[key]
    return ivf_topk(emb, _query_vector(sf_dir), cents, k=10, nprobe=4)


# ---------------------------------------------------------------------------
# round 3: search explanation synthesis
# ---------------------------------------------------------------------------

@query(
    "q_vams_search_explain",
    oracle_with("assets")
    + """
    SELECT * FROM (
        SELECT database_id, asset_id,
               CAST(CASE WHEN contains(lower(asset_name), 'red')
                         THEN 2.0 ELSE 0.0 END
                  + CASE WHEN contains(lower(description), 'red')
                         THEN 1.0 ELSE 0.0 END
                  + CASE WHEN contains(lower(asset_type), 'red')
                         THEN 1.0 ELSE 0.0 END AS DOUBLE) AS total_score,
               'general' AS query_type,
               concat_ws(',',
                   CASE WHEN contains(lower(asset_name), 'red')
                        THEN 'asset_name' END,
                   CASE WHEN contains(lower(description), 'red')
                        THEN 'description' END,
                   CASE WHEN contains(lower(asset_type), 'red')
                        THEN 'asset_type' END) AS matched_fields,
               CAST(CASE WHEN contains(lower(asset_name), 'red')
                         THEN 1 ELSE 0 END
                  + CASE WHEN contains(lower(description), 'red')
                         THEN 1 ELSE 0 END
                  + CASE WHEN contains(lower(asset_type), 'red')
                         THEN 1 ELSE 0 END AS INT) AS field_matches
        FROM assets WHERE NOT is_archived
    ) WHERE total_score > 0.01
    ORDER BY total_score DESC, database_id, asset_id
    LIMIT 500
    """,
)
def q_vams_search_explain(spark, sf_dir):
    """Search explanation synthesis (search.py:1569-1621,
    _add_search_explanation): each hit carries which fields matched,
    the query type, and a score breakdown — computed inside the plan by
    SearchCompiler.explain from the same predicates highlight uses.
    The struct column is flattened here so the oracle hashes scalars."""
    t = tables(spark, sf_dir)
    sc = SearchCompiler({"asset": t["search_assets"]})
    req = SearchRequest(query="red", entity_types=("asset",), size=500)
    hits = sc.explain(sc.hits(req), req)
    return hits.select(
        "database_id",
        "asset_id",
        F.col("explanation.total_score").alias("total_score"),
        F.col("explanation.query_type").alias("query_type"),
        F.concat_ws(",", F.col("explanation.matched_fields")).alias(
            "matched_fields"
        ),
        F.col("explanation.field_matches").alias("field_matches"),
    ).orderBy(F.desc("total_score"), "database_id", "asset_id")


# ---------------------------------------------------------------------------
# round 3: end-to-end training-data preprocessing pipeline
# ---------------------------------------------------------------------------

@query(
    "q_pipeline_preprocess",
    f"""
    WITH all_docs AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id, text FROM documents
    ), base AS (
        SELECT doc_id, text, {_O_TOKS} AS toks, {_O_BPE_WORDS} AS words
        FROM all_docs
    ), feats AS (
        SELECT doc_id, text, toks, words,
            {_o_lang_count(("der", "die", "und"))} AS c_de,
            {_o_lang_count(("the", "and", "of"))} AS c_en,
            {_o_lang_count(("el", "los", "que"))} AS c_es,
            {_o_lang_count(("le", "la", "et"))} AS c_fr,
            ROUND(
                0.25 * (CASE WHEN length(text) >= 50 AND length(text) <= 100000
                             THEN 1.0 ELSE 0.0 END)
              + 0.25 * (length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                        / GREATEST(length(text), 1))
              + 0.25 * LEAST((len(list_filter(toks,
                              t -> lower(t) IN ({_O_STOPS})))
                              / GREATEST(len(toks), 1)) * 4.0, 1.0)
              + 0.25 * (CASE WHEN length(text) / GREATEST(len(toks), 1) >= 3
                              AND length(text) / GREATEST(len(toks), 1) <= 12
                             THEN 1.0 ELSE 0.0 END), 4) AS quality
        FROM base
    ), langed AS (
        SELECT *,
            CASE WHEN GREATEST(c_de, c_en, c_es, c_fr) = 0 THEN 'und'
                 WHEN c_de = GREATEST(c_de, c_en, c_es, c_fr) THEN 'de'
                 WHEN c_en = GREATEST(c_de, c_en, c_es, c_fr) THEN 'en'
                 WHEN c_es = GREATEST(c_de, c_en, c_es, c_fr) THEN 'es'
                 ELSE 'fr' END AS lang_pred
        FROM feats
    ), filtered AS (
        SELECT * FROM langed WHERE lang_pred = 'en' AND quality >= 0.5
    ), ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY {_O_FP}
                                     ORDER BY doc_id) AS rn
        FROM filtered
    )
    SELECT doc_id,
        CAST(len(toks) AS BIGINT) AS n_tokens,
        CAST(len(words) + COALESCE(list_sum(list_transform(words,
             w -> CASE WHEN length(w) > 4
                       THEN CAST(FLOOR(length(w) / 4) AS BIGINT) - 1
                       ELSE 0 END)), 0) AS BIGINT) AS bpe_tokens,
        quality
    FROM ranked WHERE rn = 1
    ORDER BY doc_id
    """,
)
def q_pipeline_preprocess(spark, sf_dir):
    """End-to-end training-data preprocessing as ONE declarative plan —
    the composition a corpus build actually runs: language-ID filter →
    quality filter → exact-dedup representative drop → per-doc token
    accounting. Every stage is the same operator its standalone query
    oracle-checks (q_doc_lang / q_doc_stats / q_dedup_drop); composing
    them costs exactly one shuffle (the dedup window over the
    fingerprint) on top of pure codegen-eligible Column stages, because
    the filters run BEFORE the shuffle — at 100 TB the dedup window
    sees only the ~surviving fraction of the corpus. The corpus is
    doubled (id+1e6 copies) so the dedup stage provably drops rows."""
    from .operators.dedup import drop_exact_duplicates

    t = tables(spark, sf_dir)
    docs = t["documents"].select("doc_id", "text")
    doubled = docs.unionByName(
        docs.select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    )
    from .operators.partitioning import ensure_min_parallelism

    # token accounting computed in the SAME pre-shuffle pass as
    # lang/quality: after the dedup window AQE coalesces the tiny
    # shuffle to few partitions, so any CPU-heavy projection placed
    # there would run nearly serially — carry two longs through the
    # window instead
    # the lang+quality filter is the fused single-expression gate
    # (one let-bound split per row at the filter — column-form features
    # get re-inlined 5x/row by filter pushdown, r14 probe7: 0.74x on
    # this stack at 10x scale); survivors recompute quality/n_tokens
    # from one shared lowered-token column
    staged = (
        ensure_min_parallelism(doubled)
        .filter(lang_quality_gate(F.col("text")))
        .withColumn("_lt", tokens(F.lower(F.col("text"))))
        .withColumn("quality", quality_score(F.col("text"), F.col("_lt")))
        .withColumn("n_tokens", F.size("_lt").cast("int"))
        .withColumn("bpe_tokens", bpe_token_estimate(F.col("text")))
        .drop("_lt")
    )
    kept = drop_exact_duplicates(staged)
    return kept.select(
        "doc_id", "n_tokens", "bpe_tokens", "quality"
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# round 3: database / role / pipeline row stores
# ---------------------------------------------------------------------------

@query(
    "q_vams_database_listing",
    oracle_with("databases", "assets")
    + """
    SELECT d.database_id, d.description, d.default_bucket_id,
           d.restrict_metadata_outside_schemas,
           COUNT(a.asset_id) AS asset_count
    FROM databases d
    LEFT JOIN (SELECT database_id, asset_id FROM assets
               WHERE NOT is_archived) a USING (database_id)
    GROUP BY d.database_id, d.description, d.default_bucket_id,
             d.restrict_metadata_outside_schemas
    ORDER BY d.database_id
    """,
)
def q_vams_database_listing(spark, sf_dir):
    """Database listing with LIVE asset counts (databaseService.py; the
    reference persists assetCount as a maintained counter,
    createDatabase.py:65 — the engine computes it from the source of
    truth, so it can never drift). LEFT join keeps empty databases."""
    t = tables(spark, sf_dir)
    live = t["assets"].filter(~F.col("is_archived")).select(
        "database_id", "asset_id"
    )
    return (
        t["databases"]
        .join(live, "database_id", "left")
        .groupBy(
            "database_id", "description", "default_bucket_id",
            "restrict_metadata_outside_schemas",
        )
        .agg(F.count("asset_id").alias("asset_count"))
        .orderBy("database_id")
    )


@query(
    "q_vams_role_membership",
    oracle_with("roles", "user_roles")
    + """
    SELECT r.role_name, r.role_description,
           COUNT(u.user_id) AS member_count
    FROM roles r LEFT JOIN user_roles u USING (role_name)
    GROUP BY r.role_name, r.role_description
    ORDER BY r.role_name
    """,
)
def q_vams_role_membership(spark, sf_dir):
    """Role listing with membership counts (roleService.py listing +
    userRolesService.py:69-130 user→roles rows, normalized). LEFT join
    reports declared-but-unassigned roles as 0. The broadcast hint goes
    on the BUILD (right) side — an outer join cannot build its
    preserved side, so hinting `roles` here would be silently dropped
    (the graph.py:85 lesson)."""
    t = tables(spark, sf_dir)
    return (
        t["roles"]
        .join(F.broadcast(t["user_roles"]), "role_name", "left")
        .groupBy("role_name", "role_description")
        .agg(F.count("user_id").alias("member_count"))
        .orderBy("role_name")
    )


@query(
    "q_vams_pipelines_enabled",
    oracle_with("pipelines")
    + """
    SELECT database_id, pipeline_id, pipeline_type
    FROM pipelines WHERE enabled
    ORDER BY database_id, pipeline_id
    """,
)
def q_vams_pipelines_enabled(spark, sf_dir):
    """Enabled-pipeline keyed listing (pipelineService.py /
    enablePipeline.py: the execution planner reads only enabled rows
    per database)."""
    t = tables(spark, sf_dir)
    return (
        t["pipelines"]
        .filter(F.col("enabled"))
        .select("database_id", "pipeline_id", "pipeline_type")
        .orderBy("database_id", "pipeline_id")
    )


@query(
    "q_vams_enabled_features",
    oracle_with("app_features")
    + """
    SELECT string_agg(feature_name, ',' ORDER BY feature_name)
               AS features_enabled,
           COUNT(*) AS feature_count
    FROM app_features
    """,
)
def q_vams_enabled_features(spark, sf_dir):
    """The config surface (configService.py:19-70): the app-feature
    table scanned and aggregated into the single featuresEnabled
    response row — full scan, sorted deterministic join."""
    t = tables(spark, sf_dir)
    return t["app_features"].agg(
        F.concat_ws(",", F.sort_array(F.collect_list("feature_name"))).alias(
            "features_enabled"
        ),
        F.count(F.lit(1)).alias("feature_count"),
    )


# ---------------------------------------------------------------------------
# round 3: connected components (dedup clusters / related-asset groups)
# ---------------------------------------------------------------------------

@query(
    "q_vams_related_components",
    # the reach CTE is recursive → RECURSIVE must head the WITH clause
    oracle_with("asset_links").replace("WITH ", "WITH RECURSIVE ", 1)
    + """
    , edges AS (
        SELECT from_database_id || ':' || from_asset_id AS a,
               to_database_id || ':' || to_asset_id AS b
        FROM asset_links WHERE relationship_type = 'related'
    ), sym AS (
        SELECT a, b FROM edges UNION SELECT b, a FROM edges
    ), nodes AS (SELECT DISTINCT a AS node FROM sym),
    reach AS (
        SELECT node AS src, node FROM nodes
        UNION
        SELECT r.src, s.b AS node FROM reach r JOIN sym s ON r.node = s.a
    )
    SELECT src AS node, MIN(node) AS component
    FROM reach GROUP BY src ORDER BY src
    """,
)
def q_vams_related_components(spark, sf_dir):
    """Connected components over the related-asset graph — the cluster
    view the reference's per-node 1-hop listing cannot express, and the
    same operator that turns near-dup PAIRS (minhash/simhash/embedding)
    into duplicate CLUSTERS with a canonical MIN representative. Oracle
    is the recursive reachability closure + MIN; the engine runs
    pointer-jumping min-label propagation (O(log diameter) rounds,
    operators/graph.py)."""
    from .operators.graph import connected_components

    t = tables(spark, sf_dir)
    edges = t["asset_links"].filter(
        F.col("relationship_type") == "related"
    ).select(
        F.concat_ws(":", "from_database_id", "from_asset_id").alias("a"),
        F.concat_ws(":", "to_database_id", "to_asset_id").alias("b"),
    )
    return connected_components(edges, "a", "b").orderBy("node")


@query(
    "q_doc_chunks",
    f"""
    WITH base AS (
        SELECT doc_id, {_O_TOKS} AS toks FROM documents
    ), sized AS (
        SELECT doc_id, toks,
               GREATEST(CAST(CEIL((len(toks) - 8) / 56.0) AS INT), 1)
                   AS n_chunks
        FROM base
    )
    SELECT doc_id, CAST(i - 1 AS INT) AS chunk_id,
           array_to_string(toks[((i - 1) * 56 + 1):((i - 1) * 56 + 64)], ' ')
               AS chunk_text
    FROM sized, UNNEST(generate_series(1, n_chunks)) AS t(i)
    ORDER BY doc_id, chunk_id
    """,
)
def q_doc_chunks(spark, sf_dir):
    """Token-window chunking of the documents corpus (64-token windows,
    8-token overlap) — the context-window preparation step of a corpus
    build (operators/text.py chunk_documents). Oracle replicates the
    window math with DuckDB list slicing."""
    from .operators.text import chunk_documents

    t = tables(spark, sf_dir)
    return chunk_documents(
        t["documents"].select("doc_id", "text"), chunk_tokens=64, overlap=8
    ).orderBy("doc_id", "chunk_id")


# ---------------------------------------------------------------------------
# round 3: deterministic sampling / splits
# ---------------------------------------------------------------------------

@query(
    "q_doc_sample_split",
    """
    WITH hashed AS (
        SELECT doc_id,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|corpus_v1'),
                               1, 8))::UBIGINT AS h
        FROM documents
    ), assigned AS (
        SELECT doc_id,
               CASE WHEN h < CAST(FLOOR(0.8 * 4294967296) AS UBIGINT) THEN 'train'
                    WHEN h < CAST(FLOOR(0.9 * 4294967296) AS UBIGINT) THEN 'val'
                    ELSE 'test' END AS split
        FROM hashed
    )
    SELECT split, COUNT(*) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc
    FROM assigned GROUP BY split ORDER BY split
    """,
)
def q_doc_sample_split(spark, sf_dir):
    """Deterministic train/val/test split of the documents corpus by
    content hash (operators/sampling.py): a document's split can never
    change between runs, repartitions, or engines — the oracle
    reproduces the exact assignment, not just the proportions."""
    from .operators.sampling import hash_split

    t = tables(spark, sf_dir)
    assigned = hash_split(
        t["documents"].select("doc_id"),
        {"train": 0.8, "val": 0.1, "test": 0.1},
        "doc_id",
        salt="corpus_v1",
    )
    return (
        assigned.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").cast("bigint").alias("min_doc"),
        )
        .orderBy("split")
    )


@query(
    "q_corpus_mix",
    f"""
    WITH tagged AS (
        SELECT doc_id, text, 'web' AS source FROM documents
        WHERE doc_id % 2 = 0
          AND ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|web'), 1, 8)
              )::UBIGINT < CAST(FLOOR(0.5 * 4294967296) AS UBIGINT)
        UNION ALL
        SELECT doc_id, text, 'books' AS source FROM documents
        WHERE doc_id % 2 = 1
          AND ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|books'), 1, 8)
              )::UBIGINT < CAST(FLOOR(0.9 * 4294967296) AS UBIGINT)
    )
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(len({_O_TOKS})) AS BIGINT) AS total_tokens
    FROM tagged GROUP BY source ORDER BY source
    """,
)
def q_corpus_mix(spark, sf_dir):
    """Corpus mixture assembly (operators/sampling.py mix_corpora):
    two synthetic sub-corpora sampled at different rates with
    independent salts, unioned with a source tag, summarized per
    source. The oracle reproduces the exact per-document inclusion
    decisions, not just the proportions."""
    from .operators.sampling import mix_corpora

    t = tables(spark, sf_dir)
    docs = t["documents"].select("doc_id", "text")
    mixed = mix_corpora(
        {
            "web": (docs.filter(F.col("doc_id") % 2 == 0), 0.5),
            "books": (docs.filter(F.col("doc_id") % 2 == 1), 0.9),
        },
        "doc_id",
    )
    return (
        mixed.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(token_count(F.col("text")).cast("bigint")).alias(
                "total_tokens"
            ),
        )
        .orderBy("source")
    )


@query(
    "q_corpus_token_budget",
    f"""
    WITH base AS (
        SELECT doc_id,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|tb'), 1, 8)
               )::UBIGINT AS h,
               CAST(len({_O_TOKS}) AS BIGINT) AS n_tokens
        FROM documents
    ), cum AS (
        SELECT doc_id, n_tokens,
               COALESCE(SUM(n_tokens) OVER (
                   ORDER BY h, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS bef
        FROM base
    )
    SELECT doc_id, n_tokens FROM cum WHERE bef < 20000
    ORDER BY doc_id
    """,
)
def q_corpus_token_budget(spark, sf_dir):
    """Deterministic token-budget subsample (operators/sampling.py
    token_budget_sample): the hash-ordered corpus prefix whose token
    total first reaches 20k tokens — the "cut the corpus to N tokens"
    step of training-mix assembly. The oracle is the global-window
    form of the keep rule (before < budget over (hash, id) order); the
    engine computes the same set with NO global sort — an
    order-preserving hash-cell dictionary classifies whole cells and
    only the one straddling cell pays a per-row window."""
    from .operators.sampling import token_budget_sample

    t = tables(spark, sf_dir)
    return token_budget_sample(
        t["documents"].select("doc_id", "text"),
        budget=20_000,
        salt="tb",
    ).orderBy("doc_id")


@query(
    "q_doc_dsir",
    """
    WITH bags AS (
        SELECT doc_id,
               list_transform(
                   range(0, GREATEST(len(tk) - 1, 0)),
                   i -> tk[i + 1] || ' ' || tk[i + 2]) AS gs
        FROM (
            SELECT doc_id,
                   list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                               t -> t <> '') AS tk
            FROM documents
        )
    ), inst AS (
        SELECT doc_id, unnest(gs) AS g FROM bags
    ), rdict AS (
        SELECT g, COUNT(*) AS cr FROM inst GROUP BY g
    ), tdict AS (
        SELECT g, COUNT(*) AS ct FROM inst WHERE doc_id % 7 = 0 GROUP BY g
    ), tot AS (
        SELECT (SELECT COALESCE(SUM(ct), 0) FROM tdict) AS Nt,
               (SELECT COALESCE(SUM(cr), 0) FROM rdict) AS Nr,
               (SELECT COUNT(*) FROM (SELECT g FROM rdict
                                      UNION SELECT g FROM tdict)) AS B
    ), counts AS (
        SELECT doc_id, g, COUNT(*) AS k FROM inst GROUP BY doc_id, g
    ), agg AS (
        SELECT c.doc_id,
               SUM(k) AS n_grams,
               SUM(CASE WHEN (COALESCE(ct, 0) + 1) * (Nr + B)
                             > (cr + 1) * (Nt + B)
                        THEN k ELSE 0 END) AS n_target_leaning
        FROM counts c
        JOIN rdict USING (g)
        LEFT JOIN tdict USING (g)
        CROSS JOIN tot
        GROUP BY c.doc_id
    )
    SELECT b.doc_id,
           CAST(COALESCE(n_grams, 0) AS BIGINT) AS n_grams,
           CAST(COALESCE(n_target_leaning, 0) AS BIGINT)
             AS n_target_leaning
    FROM bags b LEFT JOIN agg USING (doc_id)
    ORDER BY b.doc_id
    """,
)
def q_doc_dsir(spark, sf_dir):
    """DSIR importance weighting (operators/sampling.py
    dsir_log_weights; Xie et al. 2023): score every document by how
    target-like its bigram distribution is, target = the doc_id % 7
    slice. The driver-gated columns are the INTEGER-EXACT pair
    (n_grams, n_target_leaning) — per-gram leaning compares exact
    int64 cross-products of the add-1 smoothed distributions, so both
    engines agree bit-for-bit; the float log_weight itself is checked
    against a plain-Python model in tests (the BM25 split between
    exact membership and float scores). Oracle runs the unhashed
    (n_buckets=None) gram-string form; the hashed scale path is
    pinned equal to it on a collision-free fixture in tests."""
    from .operators.sampling import dsir_log_weights

    t = tables(spark, sf_dir)
    docs = t["documents"].select("doc_id", "text")
    # target is an in-corpus id slice: pass the predicate so the target
    # dictionary aggregates from the one checkpointed gram relation
    # instead of re-scanning + re-tokenizing documents (r15, guide §6;
    # counts provably identical — same exploded instances, same filter)
    return (
        dsir_log_weights(
            docs,
            n=2,
            n_buckets=None,
            target_pred=lambda c: c % 7 == 0,
        )
        .select("doc_id", "n_grams", "n_target_leaning")
        .orderBy("doc_id")
    )


@query(
    "q_doc_dsir_sample",
    """
    WITH bags AS (
        SELECT doc_id,
               list_transform(
                   range(0, GREATEST(len(tk) - 1, 0)),
                   i -> tk[i + 1] || ' ' || tk[i + 2]) AS gs
        FROM (
            SELECT doc_id,
                   list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                               t -> t <> '') AS tk
            FROM documents
        )
    ), inst AS (
        SELECT doc_id, unnest(gs) AS g FROM bags
    ), rdict AS (
        SELECT g, COUNT(*) AS cr FROM inst GROUP BY g
    ), tdict AS (
        SELECT g, COUNT(*) AS ct FROM inst WHERE doc_id % 7 = 0 GROUP BY g
    ), tot AS (
        SELECT (SELECT COALESCE(SUM(ct), 0) FROM tdict) AS Nt,
               (SELECT COALESCE(SUM(cr), 0) FROM rdict) AS Nr,
               (SELECT COUNT(*) FROM (SELECT g FROM rdict
                                      UNION SELECT g FROM tdict)) AS B
    ), lw AS (
        -- per-INSTANCE addends rounded to DECIMAL(38,10) then summed
        -- exactly: mirrors the engine's order-independent decimal sum
        -- bit-for-bit (k identical instances contribute k * round(lr))
        SELECT i.doc_id,
               CAST(SUM(CAST(
                   ln((COALESCE(ct, 0) + 1) / (Nt + B))
                 - ln((cr + 1) / (Nr + B)) AS DECIMAL(38,10))) AS DOUBLE)
                   AS log_weight
        FROM inst i
        JOIN rdict USING (g)
        LEFT JOIN tdict USING (g)
        CROSS JOIN tot
        GROUP BY i.doc_id
    ), keyed AS (
        SELECT b.doc_id,
               CAST(FLOOR(
                   (COALESCE(log_weight, 0.0)
                    - ln(-ln((('0x' || substr(md5(CAST(b.doc_id AS VARCHAR)
                                                  || '|dsir'), 1, 8))::UBIGINT
                              + 0.5) / 4294967296.0)))
                   * 1000000 + 0.5) AS BIGINT) AS gumbel_key
        FROM bags b LEFT JOIN lw ON b.doc_id = lw.doc_id
    )
    SELECT doc_id, gumbel_key
    FROM (SELECT * FROM keyed ORDER BY gumbel_key DESC, doc_id LIMIT 40)
    ORDER BY doc_id
    """,
)
def q_doc_dsir_sample(spark, sf_dir):
    """DSIR's actual selection step (Xie et al. 2023: importance
    RESAMPLING): Gumbel-top-k over the dsir_log_weights scores —
    40 docs sampled without replacement ∝ exp(log_weight), with the
    Gumbel noise derived from the content hash (u = (h+0.5)/2³²,
    g = −ln(−ln(u))) so the selected set is stable across runs,
    partitionings, and engines. Membership is driver-hash-exact: the
    log weight is an order-independent decimal sum, the noise is a
    deterministic function of doc_id, and the selection key is
    quantized to the 1e-6 grid with doc_id as tie-break — the oracle
    reproduces the exact 40-doc set and keys, not just the
    distributional shape."""
    from .operators.sampling import dsir_gumbel_topk, dsir_log_weights

    t = tables(spark, sf_dir)
    docs = t["documents"].select("doc_id", "text")
    # same single-scan target_pred form as q_doc_dsir (r15, guide §6)
    w = dsir_log_weights(
        docs, n=2, n_buckets=None, target_pred=lambda c: c % 7 == 0
    )
    return dsir_gumbel_topk(w, k=40).orderBy("doc_id")


@query(
    "q_doc_repetition",
    f"""
    WITH base AS (
        SELECT doc_id, list_transform({_O_TOKS}, t -> lower(t)) AS toks
        FROM (
            SELECT doc_id, text FROM documents
            UNION ALL
            -- planted pathological repeater so the filter has work
            SELECT 9000001, 'spam spam spam spam spam spam spam spam'
        )
    ), grams AS (
        SELECT doc_id,
               CASE WHEN len(toks) >= 3 THEN
                   list_transform(generate_series(0, GREATEST(len(toks) - 3, 0)),
                       i -> array_to_string(toks[(i + 1):(i + 3)], ' '))
               ELSE [] END AS g
        FROM base
    )
    SELECT doc_id,
           CASE WHEN len(g) > 0 THEN
               ROUND((len(g) - len(list_distinct(g))) / CAST(len(g) AS DOUBLE), 6)
           ELSE 0.0 END AS rep_ratio
    FROM grams
    ORDER BY rep_ratio DESC, doc_id
    LIMIT 200
    """,
)
def q_doc_repetition(spark, sf_dir):
    """Repeated-3-gram ratio per document (operators/text.py
    repetition_score) — the Gopher-style repetition quality filter; the
    planted all-'spam' doc must top the ranking. Oracle replicates the
    window slicing with DuckDB list ops."""
    from .operators.partitioning import ensure_min_parallelism
    from .operators.text import repetition_score

    t = tables(spark, sf_dir)
    # the guard matters here: the fixture corpus is one parquet split,
    # and the O(len^2)-per-doc n-gram scoring otherwise runs as a
    # single straggler task (measured 11s -> ~1s at sf0.1)
    docs = ensure_min_parallelism(
        t["documents"].select("doc_id", "text")
    ).unionByName(
        spark.createDataFrame(
            [(9000001, "spam spam spam spam spam spam spam spam")],
            "doc_id long, text string",
        )
    )
    return (
        docs.select(
            "doc_id", repetition_score(F.col("text")).alias("rep_ratio")
        )
        .orderBy(F.desc("rep_ratio"), "doc_id")
        .limit(200)
    )


# ---------------------------------------------------------------------------
# round 5: corpus-construction tier — sequence packing, decontamination,
# repeated n-gram spans, PII audit (operators/corpus.py, operators/pii.py)
# ---------------------------------------------------------------------------

@query(
    "q_doc_pack",
    """
    WITH t AS (
        SELECT doc_id, doc_id % 8 AS bucket,
               CAST(COALESCE(len(list_filter(
                   string_split_regex(trim(text), '\\s+'),
                   x -> x <> '')), 0) AS BIGINT) AS n_tokens
        FROM documents
    ), c AS (
        SELECT *, SUM(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM t
    )
    SELECT doc_id, bucket, n_tokens,
           CAST((cum - n_tokens) // 512 AS BIGINT) AS seq_id,
           CAST((cum - n_tokens) % 512 AS BIGINT) AS offset,
           CAST(((cum - n_tokens + GREATEST(n_tokens, 1) - 1) // 512)
             - ((cum - n_tokens) // 512) + 1 AS BIGINT) AS n_seqs
    FROM c ORDER BY doc_id
    """,
)
def q_doc_pack(spark, sf_dir):
    """Concat-and-chunk sequence packing (operators/corpus.py
    pack_sequences): docs hash-bucketed into independent streams,
    running-token-total window per stream, cut every 512 tokens. The
    oracle replicates the window math exactly; the bucket function here
    is ``doc_id % 8`` so DuckDB can compute it (production default is
    xxhash64 — same plan shape, just a different hash)."""
    from .operators.corpus import pack_sequences

    t = tables(spark, sf_dir)
    return pack_sequences(
        t["documents"],
        seq_len=512,
        n_buckets=8,
        bucket_col=F.pmod(F.col("doc_id"), F.lit(8)),
    ).orderBy("doc_id")


@query(
    "q_doc_decontaminate",
    """
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                           t -> t <> '') AS toks
        FROM documents
    ), train AS (
        SELECT doc_id, toks FROM toks
        UNION ALL
        SELECT doc_id + 1000000, list_slice(toks, 1, GREATEST(len(toks) - 5, 1))
        FROM toks WHERE doc_id % 11 = 0
    ), grams AS (
        SELECT doc_id, unnest(
            CASE WHEN len(toks) >= 8 THEN list_distinct(list_transform(
                range(0, len(toks) - 8 + 1),
                i -> array_to_string(list_slice(toks, i + 1, i + 8), ' ')
            )) ELSE [] END) AS ngram
        FROM train
    ), bench AS (
        SELECT DISTINCT ngram FROM grams
        WHERE doc_id % 11 = 0 AND doc_id < 1000000
    )
    SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_overlap
    FROM grams g JOIN bench b USING (ngram)
    GROUP BY g.doc_id HAVING COUNT(*) >= 3
    ORDER BY doc_id
    """,
)
def q_doc_decontaminate(spark, sf_dir):
    """GPT-3-style benchmark decontamination (operators/corpus.py
    contamination): training docs sharing >= 3 distinct 8-grams with a
    benchmark set (every 11th doc) are flagged. The train side includes
    a mutated near-copy of each benchmark doc (last 5 tokens dropped,
    id + 1,000,000) so the flag provably catches non-exact leakage.
    Scale shape: benchmark grams broadcast, corpus explode + semi-join +
    one doc-key aggregation."""
    from .operators.corpus import contamination

    t = tables(spark, sf_dir)
    docs = t["documents"].select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") % 11 == 0)
    toks = F.filter(
        F.split(F.trim("text"), r"\s+"), lambda tok: tok != ""
    )
    mutated = bench.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat_ws(
            " ", F.slice(toks, 1, F.greatest(F.size(toks) - 5, F.lit(1)))
        ).alias("text"),
    )
    train = docs.unionByName(mutated)
    return contamination(train, bench, n=8, min_overlap=3).orderBy("doc_id")


@query(
    "q_doc_repeated_ngrams",
    """
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                           t -> t <> '') AS toks
        FROM documents
    ), corpus AS (
        SELECT doc_id, toks FROM toks
        UNION ALL
        SELECT doc_id + 1000000, list_slice(toks, 1, GREATEST(len(toks) - 5, 1))
        FROM toks
    ), grams AS (
        SELECT doc_id, unnest(
            CASE WHEN len(toks) >= 10 THEN list_distinct(list_transform(
                range(0, len(toks) - 10 + 1),
                i -> array_to_string(list_slice(toks, i + 1, i + 10), ' ')
            )) ELSE [] END) AS ngram
        FROM corpus
    )
    SELECT ngram, CAST(COUNT(*) AS BIGINT) AS n_docs,
           array_to_string(list_slice(list_sort(list(doc_id)), 1, 20), ',')
             AS doc_ids
    FROM grams GROUP BY ngram HAVING COUNT(*) >= 2
    ORDER BY ngram
    """,
)
def q_doc_repeated_ngrams(spark, sf_dir):
    """Cross-document exact repeated spans at fixed n=10 (operators/
    corpus.py repeated_ngrams) — the fixed-n form of suffix-array
    exact-substring dedup (Lee et al. 2022). Corpus = documents ∪
    mutated copies so repeated spans provably exist. One explode + one
    groupBy on the span; per-span doc list capped at 20 (n_docs keeps
    the true count). The capped id list is comma-joined in the final
    projection (both engines) — registered queries never emit top-level
    array columns (driver-canonicalizer contract)."""
    from .operators.corpus import repeated_ngrams

    t = tables(spark, sf_dir)
    docs = t["documents"].select("doc_id", "text")
    toks = F.filter(
        F.split(F.trim("text"), r"\s+"), lambda tok: tok != ""
    )
    mutated = docs.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat_ws(
            " ", F.slice(toks, 1, F.greatest(F.size(toks) - 5, F.lit(1)))
        ).alias("text"),
    )
    return (
        repeated_ngrams(
            docs.unionByName(mutated), n=10, min_docs=2, max_docs_listed=20
        )
        .select(
            "ngram",
            "n_docs",
            F.concat_ws(
                ",", F.transform("doc_ids", lambda x: x.cast("string"))
            ).alias("doc_ids"),
        )
        .orderBy("ngram")
    )


@query(
    "q_doc_substring_dedup",
    """
    WITH toks0 AS (
        SELECT doc_id,
               list_filter(string_split_regex(trim(text), '\\s+'),
                           t -> t <> '') AS tk
        FROM documents
    ), toks AS (
        SELECT doc_id, tk FROM toks0
        UNION ALL
        SELECT doc_id + 1000000, list_slice(tk, 1, GREATEST(len(tk) - 5, 1))
        FROM toks0
    ), grams AS (
        SELECT doc_id,
               unnest(range(0, GREATEST(len(tk) - 15, 0))) AS pos,
               unnest(list_transform(range(0, GREATEST(len(tk) - 15, 0)),
                      i -> lower(array_to_string(tk[i + 1:i + 16], ' '))))
                 AS g
        FROM toks
    ), dupg AS (
        SELECT g FROM grams GROUP BY g HAVING COUNT(*) >= 2
    ), dup AS (
        SELECT doc_id, pos FROM grams JOIN dupg USING (g)
    ), covered AS (
        SELECT DISTINCT doc_id, unnest(range(pos, pos + 16)) AS p FROM dup
    ), positions AS (
        SELECT doc_id, tk, unnest(range(0, len(tk))) AS p FROM toks
    ), kept AS (
        SELECT positions.doc_id,
               string_agg(tk[positions.p + 1], ' ' ORDER BY positions.p)
                 AS text_kept
        FROM positions LEFT JOIN covered
          ON positions.doc_id = covered.doc_id AND positions.p = covered.p
        WHERE covered.p IS NULL
        GROUP BY positions.doc_id
    ), nrem AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nr
        FROM covered GROUP BY doc_id
    )
    SELECT t.doc_id,
           COALESCE(k.text_kept, '') AS text,
           CAST(COALESCE(n.nr, 0) AS BIGINT) AS n_removed
    FROM toks t LEFT JOIN kept k USING (doc_id) LEFT JOIN nrem n USING (doc_id)
    ORDER BY t.doc_id
    """,
)
def q_doc_substring_dedup(spark, sf_dir):
    """Exact substring DEDUP — the rewrite form of suffix-array
    substring deduplication (Lee et al. 2022; operators/corpus.py
    dedup_substrings): every token position covered by a 16-token
    window occurring >= 2 times across the corpus (case-insensitive
    match; kept text preserves original case) is removed from every
    document. Corpus = documents ∪ a mutated copy (last 5 tokens
    dropped, id + 1,000,000), so every >= 21-token document provably
    shares long spans with its mutation and both copies come back cut;
    shorter documents pass through untouched. Complements
    q_doc_repeated_ngrams (reports spans, no rewrite) and
    q_doc_line_dedup (line unit)."""
    from .operators.corpus import dedup_substrings

    t = tables(spark, sf_dir)
    docs = t["documents"].select("doc_id", "text")
    toks = F.filter(
        F.split(F.trim("text"), r"\s+"), lambda tok: tok != ""
    )
    mutated = docs.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat_ws(
            " ", F.slice(toks, 1, F.greatest(F.size(toks) - 5, F.lit(1)))
        ).alias("text"),
    )
    return dedup_substrings(
        docs.unionByName(mutated), min_len=16, min_count=2
    ).orderBy("doc_id")


def _pii_oracle() -> str:
    """PII-audit oracle built from the SAME pattern strings the engine
    applies (operators/pii.py PII_PATTERNS) — byte-identical regexes in
    both dialects (the pattern set is restricted to the Java∩RE2
    subset), applied in the same declaration order."""
    from .operators.pii import PII_PATTERNS

    counts = ",\n           ".join(
        f"CAST(len(regexp_extract_all(ptext, '{pat}')) AS BIGINT) AS n_{kind}"
        for kind, pat in PII_PATTERNS.items()
    )
    red = "ptext"
    for kind, pat in PII_PATTERNS.items():
        red = f"regexp_replace({red}, '{pat}', '[{kind.upper()}]', 'g')"
    return f"""
    WITH planted AS (
        SELECT doc_id,
               text || ' contact user' || CAST(doc_id AS VARCHAR)
                    || '@example.com call 415-555-'
                    || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                    || ' ssn 123-45-6789 from 10.0.'
                    || CAST(doc_id % 256 AS VARCHAR) || '.'
                    || CAST(doc_id % 200 AS VARCHAR) AS ptext
        FROM documents
    )
    SELECT doc_id,
           {counts},
           md5({red}) AS red_fp
    FROM planted
    ORDER BY doc_id
    """


@query("q_doc_pii", _pii_oracle())
def q_doc_pii(spark, sf_dir):
    """PII audit + redaction (operators/pii.py scan_corpus): per-doc
    counts of email/SSN/phone/IPv4 spans and the md5 of the redacted
    text. Deterministic PII is planted per doc (id-derived email,
    phone, SSN, dotted-quad) so every pattern provably fires; the
    oracle re-runs the byte-identical patterns in DuckDB and checks
    the redacted output fingerprint value-for-value. Pure projection —
    no shuffle, codegen-eligible."""
    from .operators.pii import scan_corpus

    t = tables(spark, sf_dir)
    planted = t["documents"].select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com call 415-555-"),
            F.lpad(F.pmod(F.col("doc_id"), F.lit(10000)).cast("string"), 4, "0"),
            F.lit(" ssn 123-45-6789 from 10.0."),
            F.pmod(F.col("doc_id"), F.lit(256)).cast("string"),
            F.lit("."),
            F.pmod(F.col("doc_id"), F.lit(200)).cast("string"),
        ).alias("text"),
    )
    return (
        scan_corpus(planted)
        .withColumn("red_fp", F.md5(F.col("redacted")))
        .drop("redacted")
        .orderBy("doc_id")
    )


@query(
    "q_events_dedup",
    """
    WITH doubled AS (
        SELECT event_id, epoch_us(ts) * 1000 AS ts, user_id, event_type,
               value, props
        FROM events
        UNION ALL
        SELECT event_id, epoch_us(ts) * 1000 AS ts, user_id, event_type,
               value, props
        FROM events
    )
    SELECT DISTINCT * FROM doubled ORDER BY event_id
    """,
)
def q_events_dedup(spark, sf_dir):
    """Batch mirror of the streaming replay-dedup (streaming/windows.py
    dedup_events_stream): an at-least-once source is simulated by
    doubling the events table; exact-duplicate rows collapse to one.
    The streaming form bounds its seen-id state by the watermark
    horizon; the batch form is one hash-distinct shuffle."""
    t = tables(spark, sf_dir)
    e = t["events"]
    return e.unionByName(e).distinct().orderBy("event_id")


@query(
    "q_token_vocab_topk",
    """
    WITH toks AS (
        SELECT unnest(list_filter(
            string_split_regex(lower(trim(text)), '\\s+'), t -> t <> ''
        )) AS token
        FROM documents
    )
    SELECT token, CAST(COUNT(*) AS BIGINT) AS n
    FROM toks GROUP BY token
    ORDER BY n DESC, token
    LIMIT 100
    """,
)
def q_token_vocab_topk(spark, sf_dir):
    """Corpus vocabulary head: top-100 tokens by frequency — the
    dictionary/stopword-candidate profile every corpus build inspects.
    One explode + one map-side-combinable groupBy + TakeOrdered (no
    global sort)."""
    from .operators.partitioning import ensure_min_parallelism
    from .operators.text import tokens

    t = tables(spark, sf_dir)
    return (
        ensure_min_parallelism(t["documents"])
        .select(F.explode(tokens(F.lower(F.col("text")))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "token")
        .limit(100)
    )


@query(
    "q_corpus_vocab_stats",
    """
    WITH toks AS (
        SELECT unnest(list_filter(
            string_split_regex(lower(trim(text)), '\\s+'), t -> t <> ''
        )) AS token
        FROM documents
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS total_tokens,
           CAST(COUNT(DISTINCT token) AS BIGINT) AS distinct_tokens,
           ROUND(COUNT(DISTINCT token) / COUNT(*), 6) AS type_token_ratio,
           CAST(MAX(length(token)) AS BIGINT) AS max_token_len
    FROM toks
    """,
)
def q_corpus_vocab_stats(spark, sf_dir):
    """Corpus-level vocabulary statistics (total/distinct tokens,
    type-token ratio) — one aggregation; the distinct count is exact
    here because the oracle needs determinism (the 100 TB variant swaps
    in approx_count_distinct at a declared error bound)."""
    from .operators.partitioning import ensure_min_parallelism
    from .operators.text import tokens

    t = tables(spark, sf_dir)
    toks = (
        ensure_min_parallelism(t["documents"])
        .select(F.explode(tokens(F.lower(F.col("text")))).alias("token"))
    )
    return toks.agg(
        F.count(F.lit(1)).alias("total_tokens"),
        F.countDistinct("token").alias("distinct_tokens"),
        F.round(
            F.countDistinct("token") / F.count(F.lit(1)), 6
        ).alias("type_token_ratio"),
        F.max(F.length("token")).cast("bigint").alias("max_token_len"),
    )


@query(
    "q_events_session_native",
    f"""
    WITH e AS (
        SELECT user_id, event_id, epoch_us(ts) AS ts_us, value FROM events
    ), flagged AS (
        SELECT *, CASE WHEN ts_us - LAG(ts_us) OVER w >= 1800000000
                       THEN 1 ELSE 0 END AS new_session
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
    ), sessions AS (
        SELECT *, SUM(new_session) OVER (PARTITION BY user_id
                   ORDER BY ts_us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM flagged
    )
    SELECT user_id,
           MIN(ts_us) AS w_start_us,
           MAX(ts_us) + 1800000000 AS w_end_us,
           COUNT(*) AS n_events, {O_SUM('value')} AS sum_value
    FROM sessions GROUP BY user_id, sid
    ORDER BY user_id, w_start_us
    """,
)
def q_events_session_native(spark, sf_dir):
    """Sessionization via Spark's BUILT-IN ``session_window`` (the
    Catalyst-native gap-session operator, usable in batch and
    streaming): one groupBy, no window-function cascade. Gap semantics:
    a session extends while consecutive events are STRICTLY closer
    than the gap; window end = last event + gap. The oracle replicates
    that with the lag/cumsum construction (note ``>=`` — session_window
    closes at exactly-gap spacing, unlike the ``>`` convention of
    q_events_sessionize, which is why both operators exist)."""
    t = tables(spark, sf_dir)
    e = t["events"].select(
        "user_id",
        F.timestamp_micros(F.expr("ts div 1000")).alias("ts_t"),
        "value",
    )
    return (
        e.groupBy("user_id", F.session_window("ts_t", "30 minutes"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _dsum(F.col("value"), "sum_value"),
        )
        .select(
            "user_id",
            F.unix_micros("session_window.start").alias("w_start_us"),
            F.unix_micros("session_window.end").alias("w_end_us"),
            "n_events",
            "sum_value",
        )
        .orderBy("user_id", "w_start_us")
    )


@query(
    "q_corpus_build",
    f"""
    WITH base AS (
        SELECT doc_id, text,
               list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                           t -> t <> '') AS toks
        FROM documents
    ), feats AS (
        SELECT doc_id, text, toks,
            {_o_lang_count(("der", "die", "und"))} AS c_de,
            {_o_lang_count(("the", "and", "of"))} AS c_en,
            {_o_lang_count(("el", "los", "que"))} AS c_es,
            {_o_lang_count(("le", "la", "et"))} AS c_fr,
            ROUND(
                0.25 * (CASE WHEN length(text) >= 50 AND length(text) <= 100000
                             THEN 1.0 ELSE 0.0 END)
              + 0.25 * (length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                        / GREATEST(length(text), 1))
              + 0.25 * LEAST((len(list_filter(toks,
                              t -> lower(t) IN ({_O_STOPS})))
                              / GREATEST(len(toks), 1)) * 4.0, 1.0)
              + 0.25 * (CASE WHEN length(text) / GREATEST(len(toks), 1) >= 3
                              AND length(text) / GREATEST(len(toks), 1) <= 12
                             THEN 1.0 ELSE 0.0 END), 4) AS quality
        FROM base
    ), langed AS (
        SELECT * , CASE WHEN GREATEST(c_de, c_en, c_es, c_fr) = 0 THEN 'und'
                 WHEN c_de = GREATEST(c_de, c_en, c_es, c_fr) THEN 'de'
                 WHEN c_en = GREATEST(c_de, c_en, c_es, c_fr) THEN 'en'
                 WHEN c_es = GREATEST(c_de, c_en, c_es, c_fr) THEN 'es'
                 ELSE 'fr' END AS lang_pred
        FROM feats
    ), filtered AS (
        SELECT * FROM langed WHERE lang_pred = 'en' AND quality >= 0.5
    ), deduped AS (
        SELECT * FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY {_O_FP}
                                         ORDER BY doc_id) AS rn
            FROM filtered
        ) WHERE rn = 1
    ), grams AS (
        SELECT doc_id, unnest(
            CASE WHEN len(toks) >= 8 THEN list_distinct(list_transform(
                range(0, len(toks) - 8 + 1),
                i -> array_to_string(list_slice(toks, i + 1, i + 8), ' ')
            )) ELSE [] END) AS ngram
        FROM deduped
    ), bench AS (
        SELECT DISTINCT ngram FROM grams WHERE doc_id % 11 = 0
    ), contaminated AS (
        SELECT g.doc_id FROM grams g JOIN bench b USING (ngram)
        WHERE g.doc_id % 11 <> 0
        GROUP BY g.doc_id HAVING COUNT(*) >= 3
    ), clean AS (
        SELECT d.doc_id, CAST(len(d.toks) AS BIGINT) AS n_tokens
        FROM deduped d
        WHERE d.doc_id % 11 <> 0
          AND d.doc_id NOT IN (SELECT doc_id FROM contaminated)
    ), packed AS (
        SELECT doc_id, n_tokens, doc_id % 8 AS bucket,
               SUM(n_tokens) OVER (PARTITION BY doc_id % 8 ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM clean
    )
    SELECT doc_id, bucket, n_tokens,
           CAST((cum - n_tokens) // 512 AS BIGINT) AS seq_id,
           CAST((cum - n_tokens) % 512 AS BIGINT) AS offset
    FROM packed ORDER BY doc_id
    """,
)
def q_corpus_build(spark, sf_dir):
    """The END-TO-END corpus build as one declarative plan — the
    composition a pre-training data pipeline actually ships: language
    filter → quality filter → exact-dedup representative drop →
    benchmark decontamination (benchmark = every 11th doc; the
    benchmark docs themselves are excluded from the corpus) → concat-
    and-chunk sequence packing. Every stage is the operator its
    standalone query oracle-checks; total cost is three shuffles
    (dedup window, contamination doc-agg, packing window) with every
    filter BEFORE its shuffle, so each successive stage sees only the
    surviving fraction — the property that makes the composition
    viable at 100 TB."""
    from .operators.corpus import contamination, pack_sequences
    from .operators.dedup import drop_exact_duplicates
    from .operators.partitioning import ensure_min_parallelism

    t = tables(spark, sf_dir)
    docs = t["documents"].select("doc_id", "text")
    # fused single-expression lang+quality gate: one let-bound split
    # per row at the filter, and the survivor frame carries no dead
    # feature columns into the dedup checkpoint (r14 probe7: 0.84x on
    # this stack at 10x scale)
    staged = ensure_min_parallelism(docs).filter(
        lang_quality_gate(F.col("text"))
    )
    # the deduped corpus feeds FOUR consumers (benchmark grams, train
    # grams, the anti-join, packing); eager localCheckpoint materializes
    # the filtered+deduped survivors once — the natural staging point a
    # production build would persist anyway. Re-spread first: AQE
    # coalesces the byte-small dedup shuffle to few partitions, and the
    # checkpoint would freeze that narrow layout under every consumer's
    # CPU-heavy n-gram explode.
    from .operators.checkpointing import maybe_checkpoint

    deduped = maybe_checkpoint(
        ensure_min_parallelism(drop_exact_duplicates(staged))
    )
    bench = deduped.filter(F.col("doc_id") % 11 == 0)
    train = deduped.filter(F.col("doc_id") % 11 != 0)
    dirty = contamination(train, bench, n=8, min_overlap=3).select("doc_id")
    clean = train.join(dirty, "doc_id", "left_anti")
    return pack_sequences(
        clean,
        seq_len=512,
        n_buckets=8,
        bucket_col=F.pmod(F.col("doc_id"), F.lit(8)),
    ).select("doc_id", "bucket", "n_tokens", "seq_id", "offset").orderBy("doc_id")


@query(
    "q_knn_join",
    f"""
    WITH q AS (
        SELECT vec_id AS query_id, embedding AS qv FROM embeddings
        WHERE vec_id % 97 = 0
    ), scored AS (
        SELECT q.query_id, e.vec_id,
               ROUND({_o_cosine('e.embedding', 'q.qv')}, 6) AS cosine_sim
        FROM embeddings e CROSS JOIN q
    ), ranked AS (
        SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY cosine_sim DESC, vec_id) AS INT) AS rank
        FROM scored
    )
    SELECT query_id, vec_id, cosine_sim, rank
    FROM ranked WHERE rank <= 5
    ORDER BY query_id, rank
    """,
)
def q_knn_join(spark, sf_dir):
    """Batch kNN join (operators/similarity.py knn_join): every 97th
    embedding is a query row; each gets its exact top-5 corpus
    neighbors in ONE corpus scan (broadcast query set + per-query
    row_number window — no global sort of the product). Rank 1 is the
    query vector itself (cosine 1.0) — kept deliberately as a
    determinism anchor."""
    from .operators.similarity import knn_join

    t = tables(spark, sf_dir)
    emb = t["embeddings"]
    queries_df = emb.filter(F.col("vec_id") % 97 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return knn_join(queries_df, emb, k=5).orderBy("query_id", "rank")


@query(
    "q_events_rollup_cascade",
    f"""
    WITH hourly AS (
        SELECT (epoch_us(ts) // 3600000000) * 3600 AS hour_s, event_type,
               COUNT(*) AS n, SUM(CAST(value AS DECIMAL(38,10))) AS sv
        FROM events GROUP BY 1, 2
    )
    SELECT (hour_s // 86400) * 86400 AS day_s, event_type,
           CAST(SUM(n) AS BIGINT) AS n_events,
           CAST(SUM(sv) AS DOUBLE) AS sum_value
    FROM hourly
    GROUP BY day_s, event_type
    ORDER BY day_s, event_type
    """,
)
def q_events_rollup_cascade(spark, sf_dir):
    """Hierarchical rollup cascade (the continuous-aggregate /
    hypertable pattern): the DAILY aggregate is computed FROM the
    HOURLY aggregate, not from raw events — at 100 TB the hourly tier
    is ~3-6 orders smaller than raw, so each coarser tier costs a scan
    of the tier below it, and a late-data refresh rewrites one hour
    bucket then one day bucket (the CDC partial-rewrite merge applies
    unchanged with hour_s as the partition key). count/sum are
    decomposable, which is what makes the cascade exact — the oracle
    verifies hourly→daily equals raw→daily. Integer epoch math, exact
    decimal accumulation both tiers."""
    t = tables(spark, sf_dir)
    hourly = (
        t["events"]
        .groupBy(
            F.expr("(ts div 3600000000000) * 3600").alias("hour_s"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(38,10)")).alias("sv"),
        )
    )
    return (
        hourly.groupBy(
            F.expr("(hour_s div 86400) * 86400").alias("day_s"),
            "event_type",
        )
        .agg(
            F.sum("n").alias("n_events"),
            F.sum("sv").cast("double").alias("sum_value"),
        )
        .orderBy("day_s", "event_type")
    )


def _pagerank_oracle(damping: float = 0.85, iters: int = 10) -> str:
    """Unrolled fixed-iteration PageRank oracle — 3 CTEs per iteration,
    generated so the constants and expression tree are byte-identical
    to the Spark loop (operators/graph.py pagerank). Every CTE is
    MATERIALIZED: without it DuckDB inlines the iteration chain and the
    plan grows 2^iters (each it{i+1} references it{i} twice)."""
    prefix = oracle_with("asset_links").rstrip().rstrip("\n")
    parts = ["""
    edges AS MATERIALIZED (
        SELECT from_database_id || '/' || from_asset_id AS src,
               to_database_id || '/' || to_asset_id AS dst
        FROM asset_links
    ), nodes AS MATERIALIZED (
        SELECT src AS node FROM edges UNION SELECT dst FROM edges
    ), outdeg AS MATERIALIZED (
        SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src
    ), nn AS MATERIALIZED (SELECT COUNT(*) AS n FROM nodes),
    it0 AS MATERIALIZED (
        SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes
    )"""]
    for i in range(iters):
        parts.append(f""",
    c{i} AS MATERIALIZED (
        SELECT e.dst AS node, r.rank / o.outdeg AS c
        FROM edges e JOIN it{i} r ON e.src = r.node
        JOIN outdeg o ON e.src = o.src
    ), g{i} AS MATERIALIZED (
        SELECT node, CAST(SUM(CAST(c AS DECIMAL(38,18))) AS DOUBLE) AS s
        FROM c{i} GROUP BY node
    ), dg{i} AS MATERIALIZED (
        SELECT COALESCE(CAST(SUM(CAST(r.rank AS DECIMAL(38,18))) AS DOUBLE),
                        0.0) AS dang
        FROM it{i} r LEFT JOIN outdeg o ON r.node = o.src
        WHERE o.src IS NULL
    ), it{i + 1} AS MATERIALIZED (
        SELECT n.node,
               (1.0 - {damping!r}) / (SELECT n FROM nn)
               + {damping!r} * (COALESCE(g.s, 0.0)
                                + dg.dang / (SELECT n FROM nn)) AS rank
        FROM nodes n LEFT JOIN g{i} g USING (node) CROSS JOIN dg{i} dg
    )""")
    parts.append(f"""
    SELECT node, ROUND(rank, 6) AS rank FROM it{iters}
    ORDER BY rank DESC, node
    """)
    return prefix + ", " + "".join(parts).lstrip()


@query("q_vams_pagerank", _pagerank_oracle())
def q_vams_pagerank(spark, sf_dir):
    """PageRank over the asset-link graph (operators/graph.py
    pagerank) — graph-centrality ranking as an iterative DataFrame
    loop: decimal-accumulated contribution sums (order-independent),
    in-plan dangling-mass redistribution, per-iteration lineage cuts.
    The oracle is the same 10 iterations unrolled as generated CTEs
    with byte-identical constants."""
    from .operators.graph import pagerank

    t = tables(spark, sf_dir)
    edges = t["asset_links"].select(
        F.concat_ws("/", "from_database_id", "from_asset_id").alias("src"),
        F.concat_ws("/", "to_database_id", "to_asset_id").alias("dst"),
    )
    return pagerank(edges).orderBy(F.desc("rank"), "node")


@query(
    "q08_market_share",
    f"""
    WITH flat AS (
        SELECT EXTRACT(YEAR FROM o_orderdate) AS o_year,
               l_extendedprice * (1 - l_discount) AS volume,
               n2.n_name AS supp_nation
        FROM part
        JOIN lineitem ON l_partkey = p_partkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        JOIN nation n1 ON n1.n_nationkey = c_nationkey
        JOIN region   ON r_regionkey = n1.n_regionkey
        JOIN nation n2 ON n2.n_nationkey = s_nationkey
        WHERE r_name = 'AMERICA' AND p_type LIKE '%ECO%'
    )
    SELECT CAST(o_year AS BIGINT) AS o_year,
           ROUND({O_SUM("CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE 0 END")}
                 / {O_SUM('volume')}, 6) AS mkt_share
    FROM flat GROUP BY o_year ORDER BY o_year
    """,
)
def q08_market_share(spark, sf_dir):
    """TPC-H Q8 shape (national market share): a 7-relation join tree
    the optimizer must reorder — region/nation dims broadcast, the
    part filter prunes lineitem through the join, and the share is a
    conditional-over-total aggregate in one pass. Exercises join
    reordering + dual-purpose dimension (nation joined twice) — the
    relational-core stress the single-table queries don't cover."""
    t = tables(spark, sf_dir)
    flat = (
        t["part"]
        .filter(F.col("p_type").like("%ECO%"))
        .join(t["lineitem"], F.col("l_partkey") == F.col("p_partkey"))
        .join(t["supplier"], F.col("s_suppkey") == F.col("l_suppkey"))
        .join(t["orders"], F.col("o_orderkey") == F.col("l_orderkey"))
        .join(t["customer"], F.col("c_custkey") == F.col("o_custkey"))
        .join(
            t["nation"].alias("n1"),
            F.col("n1.n_nationkey") == F.col("c_nationkey"),
        )
        .join(t["region"], F.col("r_regionkey") == F.col("n1.n_regionkey"))
        .join(
            t["nation"].alias("n2"),
            F.col("n2.n_nationkey") == F.col("s_nationkey"),
        )
        .filter(F.col("r_name") == "AMERICA")
        .select(
            F.year("o_orderdate").alias("o_year"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "volume"
            ),
            F.col("n2.n_name").alias("supp_nation"),
        )
    )
    brazil = F.when(F.col("supp_nation") == "NATION_3", F.col("volume")).otherwise(
        F.lit(0.0)
    )
    return (
        flat.groupBy(F.col("o_year").cast("bigint").alias("o_year"))
        .agg(
            F.round(
                F.sum(brazil.cast("decimal(38,10)")).cast("double")
                / F.sum(F.col("volume").cast("decimal(38,10)")).cast("double"),
                6,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


# ---------------------------------------------------------------------------
# relational subquery shapes: EXISTS / NOT EXISTS / scalar subqueries /
# outer-join aggregation / HAVING — the decorrelation tier.
#
# The reference's query surface is key-value + search; these cover the
# remaining ANSI shapes an analytics engine must plan well (TPC-H
# Q4/Q12/Q13/Q14/Q15/Q17/Q18/Q21/Q22 skeletons adapted to the fixture
# columns). Each Spark plan is the DECORRELATED form — semi/anti joins
# and broadcast scalar aggregates — because that is the plan a 100 TB
# run needs (one shuffle per aggregate, no per-row subquery execution);
# the oracles keep the correlated form where DuckDB's decorrelator
# handles it, making the check a genuine cross-plan differential.
# ---------------------------------------------------------------------------

@query(
    "q04_order_priority",
    """
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1996-07-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q04_order_priority(spark, sf_dir):
    """TPC-H Q4 shape: correlated EXISTS decorrelated to a LEFT SEMI
    join. At scale the semi join shuffles only (orderkey) pairs and the
    date filter is pushed below it, so lineitem is never widened."""
    t = tables(spark, sf_dir)
    flagged = t["lineitem"].filter(F.col("l_returnflag") == "R").select("l_orderkey")
    return (
        t["orders"]
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
        )
        .join(flagged, F.col("o_orderkey") == F.col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


@query(
    "q12_priority_linestatus",
    """
    SELECT l_linestatus,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
    GROUP BY l_linestatus
    ORDER BY l_linestatus
    """,
)
def q12_priority_linestatus(spark, sf_dir):
    """TPC-H Q12 shape: conditional aggregation (CASE inside SUM) after
    a fact-fact join — one pass, map-side combinable, no second scan
    for the complementary count."""
    t = tables(spark, sf_dir)
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        t["lineitem"]
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .join(t["orders"], F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


@query(
    "q13_customer_distribution",
    """
    SELECT c_count, COUNT(*) AS custdist
    FROM (
        SELECT c_custkey, COUNT(o_orderkey) AS c_count
        FROM customer LEFT JOIN orders
          ON c_custkey = o_custkey AND o_orderstatus <> 'F'
        GROUP BY c_custkey
    )
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def q13_customer_distribution(spark, sf_dir):
    """TPC-H Q13 shape: left outer join with a predicate INSIDE the
    join condition (not a post-filter — customers with only 'F' orders
    must still appear with count 0), then a second aggregation over the
    first. COUNT(o_orderkey) counts non-null keys only, giving the
    outer-join null rows a true zero."""
    t = tables(spark, sf_dir)
    per_cust = (
        t["customer"]
        .join(
            t["orders"].filter(F.col("o_orderstatus") != "F"),
            F.col("c_custkey") == F.col("o_custkey"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count(F.col("o_orderkey")).alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@query(
    "q14_promo_revenue",
    f"""
    SELECT ROUND(
        100.0 * {O_SUM("CASE WHEN p_type = 'PROMO' "
                       "THEN l_extendedprice * (1 - l_discount) ELSE 0 END")}
        / {O_SUM('l_extendedprice * (1 - l_discount)')}, 6) AS promo_revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-03-01'
      AND l_shipdate < TIMESTAMP '1996-04-01'
    """,
)
def q14_promo_revenue(spark, sf_dir):
    """TPC-H Q14 shape: conditional-over-total ratio in ONE aggregation
    (no separate numerator/denominator scans); part joins broadcast."""
    t = tables(spark, sf_dir)
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", vol).otherwise(F.lit(0.0))
    return (
        t["lineitem"]
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .join(t["part"], F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(
                F.lit(100.0)
                * F.sum(promo.cast("decimal(38,10)")).cast("double")
                / F.sum(vol.cast("decimal(38,10)")).cast("double"),
                6,
            ).alias("promo_revenue")
        )
    )


@query(
    "q15_top_supplier",
    f"""
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               {O_SUM('l_extendedprice * (1 - l_discount)')} AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1996-04-01'
        GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    ORDER BY s_suppkey
    """,
)
def q15_top_supplier(spark, sf_dir):
    """TPC-H Q15 shape: scalar subquery over an aggregate (revenue =
    global max). The Spark plan reuses ONE revenue aggregate for both
    sides: the 1-row max is broadcast back against it, so the fact
    table is scanned once, not twice. Exact equality on the double is
    safe because both sides derive it from the same decimal-exact sum."""
    from .operators.checkpointing import maybe_checkpoint

    t = tables(spark, sf_dir)
    revenue = (
        t["lineitem"]
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            _dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")),
                "total_revenue",
            )
        )
    )
    # one compute, two consumers (the max probe and the equality join)
    revenue = maybe_checkpoint(revenue, eager=False)
    best = revenue.agg(F.max("total_revenue").alias("max_revenue"))
    # the max-revenue winner set is ~1 row — broadcast IT into supplier
    # (supplier scales with SF; broadcasting it was the 100 TB hazard)
    winners = revenue.join(
        F.broadcast(best),
        F.col("total_revenue") == F.col("max_revenue"),
    )
    return (
        t["supplier"]
        .join(F.broadcast(winners), F.col("s_suppkey") == F.col("supplier_no"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


@query(
    "q17_small_quantity_revenue",
    f"""
    WITH part_avg AS (  -- decorrelated exactly as the Spark plan computes it
        SELECT l_partkey,
               0.2 * ({O_SUM('l_quantity')} / COUNT(*)) AS qty_floor
        FROM lineitem GROUP BY l_partkey
    )
    SELECT ROUND({O_SUM('l_extendedprice')} / 7.0, 6) AS avg_yearly
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN part_avg ON part_avg.l_partkey = p_partkey
    WHERE p_brand = 'Brand#19' AND lineitem.l_quantity < qty_floor
    """,
)
def q17_small_quantity_revenue(spark, sf_dir):
    """TPC-H Q17 shape: correlated scalar aggregate (per-part average
    quantity) decorrelated to a groupBy + equi-join. Both engines
    compute the threshold with the same decimal-exact sum / count
    division, so the `<` boundary is bit-identical cross-engine.

    Scale note: the per-part average is only needed for the ~1/25 of
    parts in the brand, so the aggregate input is semi-joined down to
    those parts FIRST — the big groupBy shuffles a brand-sized slice of
    lineitem, not the whole fact table (Catalyst does not infer this
    reduction through the aggregate on its own). The oracle averages
    over all parts then filters, proving the reduction is lossless."""
    t = tables(spark, sf_dir)
    brand_parts = (
        t["part"].filter(F.col("p_brand") == "Brand#19").select("p_partkey")
    )
    li = t["lineitem"].join(
        F.broadcast(brand_parts), F.col("l_partkey") == F.col("p_partkey"), "left_semi"
    )
    part_avg = (
        li.groupBy(F.col("l_partkey").alias("pa_partkey"))
        .agg(
            (
                F.lit(0.2)
                * (
                    F.sum(F.col("l_quantity").cast("decimal(38,10)")).cast("double")
                    / F.count(F.lit(1))
                )
            ).alias("qty_floor")
        )
    )
    return (
        li.join(part_avg, F.col("l_partkey") == F.col("pa_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_floor"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(38,10)")).cast("double")
                / F.lit(7.0),
                6,
            ).alias("avg_yearly")
        )
    )


@query(
    "q18_large_volume_orders",
    f"""
    SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice,
           {O_SUM('l_quantity')} AS sum_qty
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey HAVING SUM(l_quantity) > 150)
    GROUP BY c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 20
    """,
)
def q18_large_volume_orders(spark, sf_dir):
    """TPC-H Q18 shape: IN over a grouped HAVING (aggregate semi-join).
    The Spark plan filters the per-order aggregate FIRST (HAVING before
    any wide join), so only qualifying orderkeys reach the 3-way join,
    and the final TopK is TakeOrderedAndProject, never a global sort."""
    t = tables(spark, sf_dir)
    big = (
        t["lineitem"]
        .groupBy("l_orderkey")
        .agg(_dsum(F.col("l_quantity"), "sum_qty"))
        .filter(F.col("sum_qty") > 150)
    )
    return (
        big.join(t["orders"], F.col("o_orderkey") == F.col("l_orderkey"))
        .join(t["customer"], F.col("c_custkey") == F.col("o_custkey"))
        .select(
            "c_custkey", "c_name", "o_orderkey", "o_orderdate",
            "o_totalprice", "sum_qty",
        )
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(20)
    )


@query(
    "q21_waiting_supplier",
    """
    SELECT s_name, COUNT(*) AS numwait
    FROM supplier
    JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
    JOIN orders ON o_orderkey = l1.l_orderkey
    WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_returnflag = 'R')
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 10
    """,
)
def q21_waiting_supplier(spark, sf_dir):
    """TPC-H Q21 shape: DOUBLE correlated subquery (EXISTS another
    supplier's line + NOT EXISTS another supplier's flagged line).
    Decorrelated to ONE per-order aggregate — n_suppliers and
    n_flagged_suppliers — replacing two correlated re-scans of
    lineitem with aggregation:
    EXISTS other-supplier      <=> n_supp >= 2
    NOT EXISTS other-R-supplier <=> n_r_supp = 1   (l1 itself is R).
    ONE lineitem scan total: when n_r_supp = 1 the waiting supplier IS
    the single distinct R-supplier, so the same aggregate carries its
    key (min over the R-conditioned suppkey) and the order's R-line
    count — no join back to the R rows. The subsequent orders join
    runs on the per-ORDER relation (already one row per orderkey),
    not the line-level one. The oracle keeps the correlated form, so
    the differential crosses two genuinely different plan shapes.

    The distinct counts are computed as a TWO-LEVEL aggregation over
    an explicit hash(l_orderkey) repartition rather than two
    countDistinct aggregates: Catalyst plans multi-distinct aggregates
    via RewriteDistinctAggregates, whose Expand node replicates every
    lineitem row 3x ahead of the shuffle and then re-shuffles the
    distinct-grain rows a second time. hash(l_orderkey) satisfies the
    clustering of BOTH the (l_orderkey, l_suppkey) and the l_orderkey
    aggregates, so the whole pipeline runs on ONE exchange of the raw
    projected rows (r15: Exchange 3 -> 2, Expand eliminated; 2.6x at
    sf0.1, 3.2x at the sf1 analog, margin growing with scale).
    Equivalence, including NULL suppkey/returnflag edge cases:
    countDistinct skips NULL, so n_supp counts the non-null-suppkey
    (order, supplier) groups; n_r_supp counts those groups with any R
    line; min/count are grain-invariant sums over the groups."""
    t = tables(spark, sf_dir)
    li = t["lineitem"]
    is_r = F.col("l_returnflag") == "R"
    per_os = (
        li.repartition("l_orderkey")
        .groupBy("l_orderkey", "l_suppkey")
        .agg(
            F.max(is_r).alias("has_r"),
            F.count(F.when(is_r, F.lit(1))).alias("n_r_lines_s"),
        )
    )
    has_key = F.col("l_suppkey").isNotNull()
    per_order = per_os.groupBy("l_orderkey").agg(
        F.count(F.when(has_key, F.lit(1))).alias("n_supp"),
        F.count(F.when(F.col("has_r") & has_key, F.lit(1))).alias("n_r_supp"),
        F.min(F.when(F.col("has_r"), F.col("l_suppkey"))).alias("r_suppkey"),
        F.sum("n_r_lines_s").alias("n_r_lines"),
    )
    return (
        per_order.filter((F.col("n_supp") >= 2) & (F.col("n_r_supp") == 1))
        .join(
            t["orders"].filter(F.col("o_orderstatus") == "F"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .join(t["supplier"], F.col("s_suppkey") == F.col("r_suppkey"))
        .groupBy("s_name")
        .agg(F.sum("n_r_lines").cast("bigint").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(10)
    )


@query(
    "q22_idle_rich_customers",
    f"""
    WITH bal AS (
        SELECT {O_SUM('c_acctbal')} / COUNT(*) AS avg_bal
        FROM customer WHERE c_acctbal > 0
    )
    SELECT c_nationkey,
           COUNT(*) AS numcust,
           {O_SUM('c_acctbal')} AS totacctbal
    FROM customer, bal
    WHERE c_acctbal > avg_bal
      AND NOT EXISTS (
          SELECT 1 FROM orders
          WHERE o_custkey = c_custkey
            AND o_orderpriority = '1-URGENT'
            AND o_orderdate >= TIMESTAMP '1996-01-01'
            AND o_orderdate < TIMESTAMP '1997-01-01')
    GROUP BY c_nationkey
    ORDER BY c_nationkey
    """,
)
def q22_idle_rich_customers(spark, sf_dir):
    """TPC-H Q22 shape: uncorrelated scalar subquery (global average,
    broadcast as a 1-row frame) + NOT EXISTS decorrelated to a LEFT
    ANTI join. Fixture note: every customer has orders, so the classic
    'no orders at all' predicate is vacuous; the anti-join side is the
    urgent-orders-in-1996 subset instead, which leaves a real survivor
    set. The average is decimal-exact in both engines, making the `>`
    threshold deterministic cross-engine."""
    t = tables(spark, sf_dir)
    avg_bal = (
        t["customer"]
        .filter(F.col("c_acctbal") > 0)
        .agg(
            (
                F.sum(F.col("c_acctbal").cast("decimal(38,10)")).cast("double")
                / F.count(F.lit(1))
            ).alias("avg_bal")
        )
    )
    urgent = (
        t["orders"]
        .filter(
            (F.col("o_orderpriority") == "1-URGENT")
            & (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .select("o_custkey")
    )
    return (
        t["customer"]
        .join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(urgent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            _dsum(F.col("c_acctbal"), "totacctbal"),
        )
        .orderBy("c_nationkey")
    )


@query(
    "q06_forecast_revenue",
    f"""
    SELECT {O_SUM('l_extendedprice * l_discount')} AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q06_forecast_revenue(spark, sf_dir):
    """TPC-H Q6 shape: pure scan + conjunctive filter + global aggregate —
    the canonical predicate-pushdown benchmark. All three predicates reach
    the parquet scan as PushedFilters (date + two numeric ranges), so at
    100 TB row-group statistics skip most of the table before decode; the
    aggregate is a map-side partial with a 1-row exchange. Both engines
    compare the identical stored doubles against the identical literals,
    so the BETWEEN boundary is deterministic cross-engine."""
    li = tables(spark, sf_dir)["lineitem"]
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(_dsum(F.col("l_extendedprice") * F.col("l_discount"), "revenue"))
    )


@query(
    "q07_nation_volume",
    f"""
    SELECT supp_nation, cust_nation, l_year,
           {O_SUM('volume')} AS revenue
    FROM (
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               CAST(EXTRACT(year FROM l_shipdate) AS INT) AS l_year,
               l_extendedprice * (1 - l_discount) AS volume
        FROM supplier
        JOIN lineitem ON s_suppkey = l_suppkey
        JOIN orders ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
            OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
          AND l_shipdate BETWEEN TIMESTAMP '1996-01-01'
                             AND TIMESTAMP '1997-12-31'
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
)
def q07_nation_volume(spark, sf_dir):
    """TPC-H Q7 shape: bilateral trade volume between a nation pair. The
    nation table joins twice under different roles (supplier side /
    customer side) — both broadcast, and the disjunctive pair predicate is
    applied after both attachments so Catalyst can still push each
    equality branch into the respective build side. The big
    lineitem⋈orders⋈customer chain shuffles on its natural keys once
    each; the final aggregate is tiny (pairs × years)."""
    t = tables(spark, sf_dir)
    n1 = t["nation"].select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = t["nation"].select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    return (
        t["supplier"]
        .join(
            t["lineitem"].filter(
                (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
                & (F.col("l_shipdate") <= F.lit("1997-12-31").cast("timestamp"))
            ),
            F.col("s_suppkey") == F.col("l_suppkey"),
        )
        .join(t["orders"], F.col("o_orderkey") == F.col("l_orderkey"))
        .join(t["customer"], F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(
            (
                (F.col("supp_nation") == "NATION_1")
                & (F.col("cust_nation") == "NATION_2")
            )
            | (
                (F.col("supp_nation") == "NATION_2")
                & (F.col("cust_nation") == "NATION_1")
            )
        )
        .withColumn("l_year", F.year("l_shipdate"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(
            _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue")
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@query(
    "q09_product_profit",
    f"""
    SELECT n_name,
           CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
           {O_SUM('l_extendedprice * (1 - l_discount)')} AS profit
    FROM part
    JOIN lineitem ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN orders ON o_orderkey = l_orderkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE p_name LIKE '%red%'
    GROUP BY n_name, o_year
    ORDER BY n_name, o_year DESC
    """,
)
def q09_product_profit(spark, sf_dir):
    """TPC-H Q9 shape (adapted: the fixture set has no partsupp, so
    profit omits the supplycost term): substring-filtered part dimension
    drives a 5-relation join, grouped by nation × order-year. The
    ``p_name LIKE '%red%'`` filter prunes part before the join —
    broadcast-eligible after the filter — and lineitem shuffles once on
    l_orderkey for the orders attachment. Year extraction stays JVM-side
    (`F.year`), no UDF."""
    t = tables(spark, sf_dir)
    red_parts = t["part"].filter(F.col("p_name").contains("red")).select("p_partkey")
    return (
        t["lineitem"]
        .join(red_parts, F.col("p_partkey") == F.col("l_partkey"))
        .join(t["supplier"], F.col("s_suppkey") == F.col("l_suppkey"))
        .join(t["orders"], F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .withColumn("o_year", F.year("o_orderdate"))
        .groupBy("n_name", "o_year")
        .agg(
            _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "profit")
        )
        .orderBy("n_name", F.desc("o_year"))
    )


@query(
    "q10_returned_items",
    f"""
    SELECT c_custkey, c_name,
           {O_SUM('l_extendedprice * (1 - l_discount)')} AS revenue,
           c_acctbal, n_name
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1996-04-01'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark, sf_dir):
    """TPC-H Q10 shape: top-20 customers by returned-item revenue in one
    quarter. The quarter filter pushes to the orders scan and the
    returnflag filter to the lineitem scan; the top-k ORDER BY + LIMIT
    compiles to TakeOrderedAndProject (per-partition heaps, no global
    sort). c_custkey tiebreak makes the LIMIT edge deterministic."""
    t = tables(spark, sf_dir)
    return (
        t["customer"]
        .join(
            t["orders"].filter(
                (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
                & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
            ),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .join(
            t["lineitem"].filter(F.col("l_returnflag") == "R"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue")
        )
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@query(
    "q19_disjunctive_revenue",
    f"""
    SELECT {O_SUM('l_extendedprice * (1 - l_discount)')} AS revenue
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#21' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 20 AND 30)
    """,
)
def q19_disjunctive_revenue(spark, sf_dir):
    """TPC-H Q19 shape (adapted to the fixture's part columns):
    OR-of-ANDs predicate spanning both join sides. Catalyst's CNF
    conversion extracts the single-side residuals — part gets
    ``p_brand IN (…) AND p_size BETWEEN 1 AND 15``, lineitem gets
    ``l_quantity BETWEEN 1 AND 30`` — and pushes both below the join, so
    each scan prunes before the (broadcast) hash join evaluates the full
    disjunction. That pre-join pruning is the entire point of this shape
    at 100 TB."""
    t = tables(spark, sf_dir)
    cond = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#21")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        t["lineitem"]
        .join(t["part"], F.col("p_partkey") == F.col("l_partkey"))
        .filter(cond)
        .agg(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
    )


# ---------------------------------------------------------------------------
# multi-granularity aggregation / window navigation / reshaping /
# time-series regularization
# ---------------------------------------------------------------------------

@query(
    "q_grouping_sets",
    f"""
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
           COUNT(*) AS n_orders,
           ROUND({O_SUM('o_totalprice')}, 2) AS total_price
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                            (o_orderstatus), ())
    ORDER BY gid, o_orderstatus, o_orderpriority
    """,
)
def q_grouping_sets(spark, sf_dir):
    """Explicit GROUPING SETS (the general form cube/rollup specialize):
    three granularities in ONE aggregation pass — Catalyst plans an
    Expand (one row per set per input row) feeding a single
    map-combinable hash aggregate, not three scans. grouping_id
    disambiguates a NULL dimension value from a NULL 'all' placeholder;
    both engines emit the same MSB-first bitmask.

    The currency sum is rounded to cents on BOTH sides: the decimal
    accumulations are bit-identical, but DuckDB's DECIMAL→DOUBLE cast
    can land one ulp off the correctly-rounded double (observed on this
    very fixture), and this cell straddles the comparison's
    10-significant-digit boundary — rounding to the currency's true
    precision removes the cast from the contract."""
    t = tables(spark, sf_dir)
    return (
        t["orders"]
        .groupingSets(
            [["o_orderstatus", "o_orderpriority"], ["o_orderstatus"], []],
            "o_orderstatus",
            "o_orderpriority",
        )
        .agg(
            F.grouping_id().alias("gid"),
            F.count(F.lit(1)).alias("n_orders"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(38,10)")).cast(
                    "double"
                ),
                2,
            ).alias("total_price"),
        )
        .orderBy("gid", "o_orderstatus", "o_orderpriority")
    )


@query(
    "q_window_navigation",
    """
    SELECT o_custkey, o_orderkey, o_totalprice,
           LAG(o_totalprice) OVER w AS prev_price,
           LEAD(o_totalprice) OVER w AS next_price,
           o_totalprice - LAG(o_totalprice) OVER w AS delta_price,
           CAST(NTILE(4) OVER (PARTITION BY o_custkey
                               ORDER BY o_totalprice DESC, o_orderkey)
                AS BIGINT) AS price_quartile
    FROM orders
    WHERE o_custkey < 100
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ORDER BY o_custkey, o_orderdate, o_orderkey
    """,
)
def q_window_navigation(spark, sf_dir):
    """Window navigation functions: lag/lead offsets over an ordered
    per-customer frame plus ntile bucketing under a SECOND ordering —
    two window specs over one partitioning key, so the plan sorts the
    partition twice but shuffles it once. Every window order ends in
    the unique orderkey, keeping offsets deterministic cross-engine;
    the lag subtraction is same-input IEEE arithmetic, so delta needs
    no rounding."""
    t = tables(spark, sf_dir)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wq = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        t["orders"]
        .filter(F.col("o_custkey") < 100)
        .select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.lag("o_totalprice").over(w).alias("prev_price"),
            F.lead("o_totalprice").over(w).alias("next_price"),
            (F.col("o_totalprice") - F.lag("o_totalprice").over(w)).alias(
                "delta_price"
            ),
            F.ntile(4).over(wq).cast("bigint").alias("price_quartile"),
            "o_orderdate",
        )
        .orderBy("o_custkey", "o_orderdate", "o_orderkey")
        .drop("o_orderdate")
    )


@query(
    "q_unpivot_segment_measures",
    f"""
    WITH seg AS (
        SELECT c_mktsegment,
               CAST(COUNT(*) AS DOUBLE) AS n_customers,
               {O_SUM('c_acctbal')} AS total_balance,
               MAX(c_acctbal) AS max_balance
        FROM customer GROUP BY c_mktsegment
    )
    SELECT c_mktsegment, 'n_customers' AS measure, n_customers AS value FROM seg
    UNION ALL
    SELECT c_mktsegment, 'total_balance', total_balance FROM seg
    UNION ALL
    SELECT c_mktsegment, 'max_balance', max_balance FROM seg
    ORDER BY c_mktsegment, measure
    """,
)
def q_unpivot_segment_measures(spark, sf_dir):
    """Unpivot (melt): wide per-segment measures to long (measure,
    value) rows via ``DataFrame.unpivot`` — Catalyst plans an Expand
    over the aggregated (5-row) frame, NOT a re-scan per measure; the
    oracle's UNION ALL form is the plan shape unpivot exists to avoid.
    Measures share one double type, the unpivot type contract."""
    t = tables(spark, sf_dir)
    seg = (
        t["customer"]
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("double").alias("n_customers"),
            _dsum(F.col("c_acctbal"), "total_balance"),
            F.max("c_acctbal").alias("max_balance"),
        )
    )
    return seg.unpivot(
        ["c_mktsegment"],
        ["n_customers", "total_balance", "max_balance"],
        "measure",
        "value",
    ).orderBy("c_mktsegment", "measure")


@query(
    "q_events_gap_fill",
    f"""
    WITH hourly AS (
        SELECT user_id,
               CAST(epoch_us(date_trunc('hour', ts)) / 1000000 AS BIGINT) AS hour_s,
               {O_SUM('value')} AS sum_value,
               COUNT(*) AS n_events
        FROM events WHERE user_id < 20
        GROUP BY 1, 2
    ), bounds AS (
        SELECT user_id, MIN(hour_s) AS h0, MAX(hour_s) AS h1
        FROM hourly GROUP BY user_id
    ), grid AS (
        SELECT user_id, UNNEST(generate_series(h0, h1, 3600)) AS hour_s
        FROM bounds
    ), joined AS (
        SELECT g.user_id, g.hour_s,
               COALESCE(h.n_events, 0) AS n_events, h.sum_value
        FROM grid g LEFT JOIN hourly h
          ON g.user_id = h.user_id AND g.hour_s = h.hour_s
    )
    SELECT user_id, hour_s, n_events,
           LAST_VALUE(sum_value IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY hour_s
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS locf_value
    FROM joined
    ORDER BY user_id, hour_s
    """,
)
def q_events_gap_fill(spark, sf_dir):
    """Time-series regularization: densify each user's hourly series to
    a gapless grid (per-user ``sequence`` + explode — the grid is
    generated WHERE the user's rows live, never on the driver), then
    LOCF-fill missing hours with ``last(value) IGNORE NULLS`` over an
    ordered running frame. The TimescaleDB time_bucket_gapfill/locf
    analog as a pure DataFrame plan: one aggregate, one per-user
    bounds pass, one explode, one window — all partitioned by user, so
    at 100 TB the grid never concentrates (skew bound = one user's
    hour count)."""
    t = tables(spark, sf_dir)
    hourly = (
        t["events"]
        .filter(F.col("user_id") < 20)
        .groupBy(
            "user_id",
            F.expr("(ts div 3600000000000) * 3600").alias("hour_s"),
        )
        .agg(
            _dsum(F.col("value"), "sum_value"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    grid = (
        hourly.groupBy("user_id")
        .agg(F.min("hour_s").alias("h0"), F.max("hour_s").alias("h1"))
        .select(
            "user_id",
            F.explode(F.sequence("h0", "h1", F.lit(3600))).alias("hour_s"),
        )
    )
    joined = grid.join(hourly, ["user_id", "hour_s"], "left").select(
        "user_id",
        "hour_s",
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        "sum_value",
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("hour_s")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        joined.select(
            "user_id",
            "hour_s",
            "n_events",
            F.last("sum_value", ignorenulls=True).over(w).alias("locf_value"),
        )
        .orderBy("user_id", "hour_s")
    )


@query(
    "q_events_interval_join",
    """
    SELECT p.user_id AS user_id,
           p.event_id AS purchase_id,
           c.event_id AS click_id,
           (epoch_us(p.ts) - epoch_us(c.ts)) // 1000000 AS delay_s,
           p.value AS purchase_value
    FROM events p JOIN events c
      ON p.user_id = c.user_id
     AND p.event_type = 'purchase' AND c.event_type = 'click'
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 6 HOUR
    ORDER BY user_id, purchase_id, click_id
    """,
)
def q_events_interval_join(spark, sf_dir):
    """Batch mirror of the stream-stream interval join
    (streaming/windows.py interval_join_streams): purchase→click
    attribution within a 6 h window. The equi-key (user_id) carries the
    shuffle; the event-time band is a post-join filter on co-located
    rows, so the plan is a plain SortMergeJoin, never a cartesian —
    the same shape the streaming form maintains incrementally with
    watermark-evicted state. Integer nanosecond math (events.ts is
    conformed to epoch-ns bigint on load)."""
    t = tables(spark, sf_dir)
    e = t["events"]
    p = e.filter(F.col("event_type") == "purchase").alias("p")
    c = e.filter(F.col("event_type") == "click").alias("c")
    window_ns = 6 * 3600 * 1_000_000_000
    return (
        p.join(
            c,
            (F.col("p.user_id") == F.col("c.user_id"))
            & (F.col("p.ts") >= F.col("c.ts"))
            & (F.col("p.ts") <= F.col("c.ts") + F.lit(window_ns)),
        )
        .select(
            F.col("p.user_id").alias("user_id"),
            F.col("p.event_id").alias("purchase_id"),
            F.col("c.event_id").alias("click_id"),
            ((F.col("p.ts") - F.col("c.ts")).cast("bigint") / F.lit(1_000_000_000))
            .cast("bigint")
            .alias("delay_s"),
            F.col("p.value").alias("purchase_value"),
        )
        .orderBy("user_id", "purchase_id", "click_id")
    )


@query(
    "q_approx_sketch_bounds",
    """
    SELECT event_type,
           COUNT(DISTINCT user_id) AS exact_users,
           TRUE AS hll_in_bounds,
           TRUE AS median_in_bounds
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def q_approx_sketch_bounds(spark, sf_dir):
    """Sketch tier: HyperLogLog++ distinct counting and quantile-sketch
    medians, verified as PROPERTIES (the q_vams_bm25_search precedent:
    a sketch's value is not SQL-reproducible, its error contract is).
    The query computes the approximation AND its exact reference in one
    aggregation pass, emitting deterministic bound checks the oracle
    pins to TRUE:
    - approx_count_distinct (HLL++, rsd 5%) within 15% (3 sigma) of the
      exact distinct;
    - approx_percentile(value, 0.5) between the exact 35th and 65th
      percentiles.
    Both sketches are deterministic for a given input, so the booleans
    are stable rows, not flaky assertions. At 100 TB the sketches are
    the ONLY viable plan shape — mergeable fixed-size state vs the
    exact path's per-group value sets — which is why the engine carries
    them despite the weaker oracle form."""
    t = tables(spark, sf_dir)
    return (
        t["events"]
        .groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("exact_users"),
            F.approx_count_distinct("user_id", rsd=0.05).alias("hll_users"),
            F.expr("approx_percentile(value, 0.5, 10000)").alias("approx_med"),
            F.expr("percentile(value, 0.35)").alias("p35"),
            F.expr("percentile(value, 0.65)").alias("p65"),
        )
        .select(
            "event_type",
            "exact_users",
            (
                F.abs(F.col("hll_users") - F.col("exact_users"))
                <= 0.15 * F.col("exact_users")
            ).alias("hll_in_bounds"),
            (
                (F.col("approx_med") >= F.col("p35"))
                & (F.col("approx_med") <= F.col("p65"))
            ).alias("median_in_bounds"),
        )
        .orderBy("event_type")
    )


def _zorder_oracle_expr(qa: str, qb: str, bits: int) -> str:
    """DuckDB bit-interleave expression mirroring layout._interleave."""
    terms = []
    for j in range(bits):
        terms.append(f"((({qa} >> {j}) & 1) << {2 * j})")
        terms.append(f"((({qb} >> {j}) & 1) << {2 * j + 1})")
    return " | ".join(terms)


@query(
    "q_zorder_histogram",
    f"""
    WITH q AS (
        SELECT NTILE(16) OVER (ORDER BY o_totalprice, o_orderkey) - 1 AS qa,
               NTILE(16) OVER (ORDER BY o_custkey, o_orderkey) - 1 AS qb
        FROM orders
    )
    SELECT {_zorder_oracle_expr('qa', 'qb', 4)} AS zval,
           COUNT(*) AS n_rows
    FROM q GROUP BY zval ORDER BY zval
    """,
)
def q_zorder_histogram(spark, sf_dir):
    """Morton-code histogram over (o_totalprice, o_custkey): both
    dimensions rank-quantized to 4 bits (equal-population ntile with a
    unique-key tiebreak so both engines bucket identically), bits
    interleaved JVM-side (operators/layout.py). 256 equal-population
    cells verify the interleave math bit-for-bit cross-engine; the
    layout pass (cluster_by_zorder) range-partitions on exactly this
    code, and its pruning effect is asserted in
    tests/test_operators.py::test_zorder_clustering_confines_box_queries."""
    from .operators.layout import zorder_key

    t = tables(spark, sf_dir)
    wq_a = Window.orderBy("o_totalprice", "o_orderkey")
    wq_b = Window.orderBy("o_custkey", "o_orderkey")
    q = t["orders"].select(
        (F.ntile(16).over(wq_a) - 1).cast("bigint").alias("qa"),
        (F.ntile(16).over(wq_b) - 1).cast("bigint").alias("qb"),
    )
    return (
        q.select(zorder_key(["qa", "qb"], bits=4).alias("zval"))
        .groupBy("zval")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .orderBy("zval")
    )


@query(
    "q_vams_scd2_intervals",
    oracle_with("asset_versions")
    + """
    SELECT database_id, asset_id, asset_version_id,
           date_created AS effective_from,
           LEAD(date_created) OVER w AS effective_to,
           CAST(LEAD(date_created) OVER w IS NULL AS BOOLEAN) AS is_current
    FROM asset_versions
    WHERE database_id = 'db_3'
    WINDOW w AS (PARTITION BY database_id, asset_id
                 ORDER BY date_created, asset_version_id)
    ORDER BY database_id, asset_id, effective_from, asset_version_id
    """,
)
def q_vams_scd2_intervals(spark, sf_dir):
    """SCD Type-2 interval construction: the version LOG becomes a
    dimension of [effective_from, effective_to) validity ranges via one
    LEAD window — the standard warehouse build for point-in-time joins
    (the as_of operator then becomes a plain range predicate instead of
    a per-read window). One shuffle on the entity key; the database
    filter prunes before it. Open intervals (current versions) carry
    NULL effective_to and the is_current flag."""
    t = tables(spark, sf_dir)
    w = Window.partitionBy("database_id", "asset_id").orderBy(
        "date_created", "asset_version_id"
    )
    return (
        t["asset_versions"]
        .filter(F.col("database_id") == "db_3")
        .select(
            "database_id",
            "asset_id",
            "asset_version_id",
            F.col("date_created").alias("effective_from"),
            F.lead("date_created").over(w).alias("effective_to"),
            F.lead("date_created").over(w).isNull().alias("is_current"),
        )
        .orderBy(
            "database_id", "asset_id", "effective_from", "asset_version_id"
        )
    )


@query(
    "q_events_anomaly",
    f"""
    WITH stats AS (
        SELECT event_type,
               {O_SUM('value')} / COUNT(*) AS mean_v,
               SQRT(({O_SUM('value * value')}
                     - {O_SUM('value')} * {O_SUM('value')} / COUNT(*))
                    / (COUNT(*) - 1)) AS sd_v
        FROM events GROUP BY event_type
    )
    SELECT event_id, e.event_type AS event_type, value,
           ROUND((value - mean_v) / sd_v, 6) AS zscore
    FROM events e JOIN stats s ON e.event_type = s.event_type
    WHERE ABS((value - mean_v) / sd_v) > 2.5
    ORDER BY e.event_type, event_id
    """,
)
def q_events_anomaly(spark, sf_dir):
    """Statistical outlier detection: per-type z-scores against
    broadcast moment statistics. The stddev is derived from decimal-
    exact sum and sum-of-squares (never the engines' own STDDEV_SAMP,
    whose accumulation order is engine-dependent), so mean, sd, and
    every z-score are bit-identical IEEE arithmetic cross-engine — the
    2.5-sigma cut cannot straddle. Plan: one map-combinable aggregate
    (5 groups), broadcast back over the fact scan — no window over the
    full partition, so a skewed event_type costs nothing."""
    t = tables(spark, sf_dir)
    e = t["events"]
    n = F.count(F.lit(1))
    s1 = F.sum(F.col("value").cast("decimal(38,10)")).cast("double")
    s2 = F.sum((F.col("value") * F.col("value")).cast("decimal(38,10)")).cast(
        "double"
    )
    stats = e.groupBy(F.col("event_type").alias("s_type")).agg(
        (s1 / n).alias("mean_v"),
        F.sqrt((s2 - s1 * s1 / n) / (n - F.lit(1))).alias("sd_v"),
    )
    z = (F.col("value") - F.col("mean_v")) / F.col("sd_v")
    return (
        e.join(F.broadcast(stats), F.col("event_type") == F.col("s_type"))
        .filter(F.abs(z) > 2.5)
        .select(
            "event_id",
            "event_type",
            "value",
            F.round(z, 6).alias("zscore"),
        )
        .orderBy("event_type", "event_id")
    )


@query(
    "q_doc_char_lm_score",
    f"""
    WITH grams AS (
        SELECT doc_id,
               UNNEST(list_transform(range(1, length(lower(text))),
                                     i -> substring(lower(text), i, 2))) AS bg
        FROM documents
    ), model AS (
        SELECT bg, COUNT(*) AS c FROM grams GROUP BY bg
    ), total AS (
        SELECT CAST(SUM(c) AS DOUBLE) AS n FROM model
    ), logp AS (
        SELECT bg, ROUND(LN(c / n), 6) AS lp FROM model, total
    )
    SELECT g.doc_id AS doc_id,
           COUNT(*) AS n_bigrams,
           ROUND({O_SUM('lp')} / COUNT(*), 6) AS avg_logp
    FROM grams g JOIN logp USING (bg)
    GROUP BY g.doc_id
    ORDER BY g.doc_id
    """,
)
def q_doc_char_lm_score(spark, sf_dir):
    """Cheap-LM fluency filter (the CCNet/KenLM pattern, reduced to a
    corpus-fit character-bigram model): per-document mean log
    probability of its character bigrams under the corpus distribution
    — gibberish and encoding damage score far below prose and can be
    cut at a threshold. Two aggregates: the model (≤|alphabet|² rows,
    broadcast back) and the per-doc score; bigram extraction is a pure
    array expression (transform over sequence — no UDF).

    Cross-engine float discipline: each bigram's log-prob is rounded to
    a 1e-6 grid BEFORE decimal-exact accumulation — Java's and
    DuckDB's `ln` may legitimately differ in the last ulp, and the
    rounding makes that difference unobservable instead of hoping it
    never straddles a comparison boundary."""
    t = tables(spark, sf_dir)
    scored = _char_lm_scores(t["documents"])
    return scored.select(
        "doc_id",
        "n_bigrams",
        F.round(F.col("sum_lp") / F.col("n_bigrams"), 6).alias("avg_logp"),
    ).orderBy("doc_id")


def _char_lm_scores(docs: DataFrame) -> DataFrame:
    """(doc_id, n_bigrams, sum_lp): per-document char-bigram LM totals.

    The gram stream is aggregated to per-(doc, bigram) COUNTS first —
    one map-combined shuffle of the raw grams — so the model rollup,
    the log-prob join, and the per-doc aggregation all run on the
    bounded (docs × ≤|alphabet|²) relation instead of the corpus-length
    gram stream (the original form re-exploded and re-shuffled ~50M
    gram rows twice at sf0.1). Exactness is preserved: the oracle's
    decimal-exact SUM of per-instance lp equals the decimal product
    cnt × lp summed per doc, because lp is grid-rounded to 1e-6 before
    either accumulation."""
    from .operators.checkpointing import maybe_checkpoint
    from .operators.partitioning import ensure_min_parallelism

    # the fixture corpus is one parquet split — without the guard the
    # CPU-heavy bigram explode runs on a single core (measured 5.5s of
    # the 6s total at sf0.1); no-op once inputs have real splits
    grams = ensure_min_parallelism(docs).select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, length(lower(text)) - 1),"
                " i -> substring(lower(text), i, 2))"
            )
        ).alias("bg"),
    )
    doc_bg = grams.groupBy("doc_id", "bg").agg(F.count(F.lit(1)).alias("cnt"))
    # two consumers (model rollup + scoring join) — materialize once
    doc_bg = maybe_checkpoint(doc_bg, eager=False)
    model = doc_bg.groupBy("bg").agg(F.sum("cnt").alias("c"))
    total = model.agg(F.sum("c").cast("double").alias("n"))
    logp = model.join(F.broadcast(total)).select(
        "bg", F.round(F.log(F.col("c") / F.col("n")), 6).alias("lp")
    )
    return (
        doc_bg.join(F.broadcast(logp), "bg")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_bigrams"),
            F.sum(
                (F.col("lp").cast("decimal(38,10)") * F.col("cnt")).cast(
                    "decimal(38,10)"
                )
            )
            .cast("double")
            .alias("sum_lp"),
        )
    )


# ---------------------------------------------------------------------------
# behavioral analytics over the event stream: funnel + cohort retention
# (the product-analytics staples every warehouse on this schema runs)
# ---------------------------------------------------------------------------

@query(
    "q_events_funnel",
    """
    WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
    s1 AS (SELECT user_id, MIN(ts_us) AS t1 FROM e
           WHERE event_type = 'view' GROUP BY user_id),
    s2 AS (SELECT e.user_id, MIN(ts_us) AS t2 FROM e
           JOIN s1 ON e.user_id = s1.user_id
           WHERE event_type = 'click' AND ts_us > t1 GROUP BY e.user_id),
    s3 AS (SELECT e.user_id, MIN(ts_us) AS t3 FROM e
           JOIN s2 ON e.user_id = s2.user_id
           WHERE event_type = 'purchase' AND ts_us > t2 GROUP BY e.user_id)
    SELECT * FROM (
        SELECT 1 AS step, 'view' AS event_type, COUNT(*) AS n_users FROM s1
        UNION ALL
        SELECT 2, 'click', COUNT(*) FROM s2
        UNION ALL
        SELECT 3, 'purchase', COUNT(*) FROM s3
    ) ORDER BY step
    """,
)
def q_events_funnel(spark, sf_dir):
    """Ordered-sequence funnel (view → click → purchase, strictly
    increasing event time) — the sequential-pattern query that
    MATCH_RECOGNIZE engines special-case. Expressed as three STACKED
    whole-partition window minimums over one user_id partitioning:
    t1 = min view time, t2 = min click time after t1, t3 = min purchase
    time after t2 — each step's condition references the previous
    window's result, and because every window (and the per-user dedup
    that follows) clusters on the same user_id key, Catalyst plans ONE
    hash exchange of the type-filtered events for the whole funnel
    (plan-audited: a cascaded aggregate-join form of this query costs 5
    exchanges + 3 joins; this form costs 1 + the final 3-row rollup).
    At 100 TB the shuffled relation is only the funnel types' events,
    and per-user state is three timestamps."""
    t = tables(spark, sf_dir)
    e = t["events"].filter(
        F.col("event_type").isin("view", "click", "purchase")
    ).select("user_id", "event_type", F.expr("ts div 1000").alias("ts_us"))
    w = Window.partitionBy("user_id")
    typ, ts = F.col("event_type"), F.col("ts_us")
    e = e.withColumn("t1", F.min(F.when(typ == "view", ts)).over(w))
    e = e.withColumn(
        "t2",
        F.min(F.when((typ == "click") & (ts > F.col("t1")), ts)).over(w),
    )
    e = e.withColumn(
        "t3",
        F.min(F.when((typ == "purchase") & (ts > F.col("t2")), ts)).over(w),
    )
    users = e.select("user_id", "t1", "t2", "t3").distinct()
    counts = users.agg(
        F.count("t1").alias("n1"),
        F.count("t2").alias("n2"),
        F.count("t3").alias("n3"),
    )

    def _row(step, label, col):
        return counts.select(
            F.lit(step).alias("step"),
            F.lit(label).alias("event_type"),
            F.col(col).alias("n_users"),
        )

    return (
        _row(1, "view", "n1")
        .unionByName(_row(2, "click", "n2"))
        .unionByName(_row(3, "purchase", "n3"))
        .orderBy("step")
    )


@query(
    "q_events_retention",
    """
    WITH e AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day
               FROM events),
    f AS (SELECT user_id, MIN(day) AS day0 FROM e GROUP BY user_id)
    SELECT CAST(day0 // 7 AS BIGINT) AS cohort_week,
           CAST((day - day0) // 7 AS BIGINT) AS week_offset,
           COUNT(DISTINCT e.user_id) AS n_users
    FROM e JOIN f ON e.user_id = f.user_id
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def q_events_retention(spark, sf_dir):
    """Cohort retention triangle: users bucketed by first-seen week,
    counted distinct per (cohort, weeks-since-first-seen). The first-seen
    aggregate and the enrichment join share the user_id key (one
    partitioning, no extra shuffle between them); the final distinct
    count is over (cohort_week, week_offset, user_id) — partial
    aggregation collapses each user's many events map-side before the
    exchange. Day/week arithmetic is pure bigint division on the
    epoch-ns contract column."""
    t = tables(spark, sf_dir)
    e = t["events"].select(
        "user_id", F.expr("ts div 86400000000000").alias("day")
    )
    # first-seen via a whole-partition window min instead of an
    # aggregate + self-join: one user_id exchange serves both the min
    # and the per-user attach (plan-audited: the join form costs 3
    # exchanges + a join, this form 2 exchanges and none)
    e = e.withColumn(
        "day0", F.min("day").over(Window.partitionBy("user_id"))
    )
    return (
        e.select(
            F.expr("day0 div 7").alias("cohort_week"),
            F.expr("(day - day0) div 7").alias("week_offset"),
            "user_id",
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").alias("n_users"))
        .orderBy("cohort_week", "week_offset")
    )


# ---------------------------------------------------------------------------
# near-dup cluster representative selection (keep-best-per-cluster)
# ---------------------------------------------------------------------------

@query(
    "q_dedup_representatives",
    r"""
    WITH RECURSIVE toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(trim(text)), '\s+'),
                           t -> t <> '') AS toks
        FROM documents
    ), corpus AS (
        SELECT doc_id, toks FROM toks
        UNION ALL
        SELECT doc_id + 1000000,
               list_slice(toks, 1, GREATEST(len(toks) - 5, 1))
        FROM toks
    ), sh AS (
        SELECT doc_id,
               CASE WHEN len(toks) >= 3 THEN list_distinct(list_transform(
                   range(0, len(toks) - 3 + 1),
                   i -> array_to_string(list_slice(toks, i + 1, i + 3), ' ')
               )) ELSE [] END AS sh
        FROM corpus
    ), pairs AS (
        SELECT id_a, id_b FROM (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   ROUND(len(list_intersect(a.sh, b.sh))
                         / len(list_distinct(list_concat(a.sh, b.sh))), 6)
                       AS jaccard
            FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        ) WHERE jaccard >= 0.9
    ), sym AS (
        SELECT id_a AS a, id_b AS b FROM pairs
        UNION SELECT id_b, id_a FROM pairs
    ), nodes AS (SELECT DISTINCT a AS node FROM sym),
    reach AS (
        SELECT node AS src, node FROM nodes
        UNION
        SELECT r.src, s.b AS node FROM reach r JOIN sym s ON r.node = s.a
    ), comp AS (
        SELECT src AS node, MIN(node) AS component FROM reach GROUP BY src
    ), members AS (
        SELECT comp.node, comp.component, CAST(len(c.toks) AS INT) AS n_toks
        FROM comp JOIN corpus c ON c.doc_id = comp.node
    )
    SELECT component, node AS keep_doc_id, n_toks, n_members
    FROM (
        SELECT component, node, n_toks,
               COUNT(*) OVER (PARTITION BY component) AS n_members,
               ROW_NUMBER() OVER (PARTITION BY component
                                  ORDER BY n_toks DESC, node) AS rn
        FROM members
    ) WHERE rn = 1
    ORDER BY component
    """,
)
def q_dedup_representatives(spark, sf_dir):
    """Keep-best-per-cluster near-dedup — the selection policy
    RefinedWeb/SlimPajama-style pipelines apply after pair generation:
    near-dup pairs (banded-LSH candidates, exact shingle-Jaccard ≥ 0.9
    verify) → connected components (pointer-jumping min-label,
    operators/graph.py) → per-cluster representative = longest member
    (doc_id tiebreak), with the cluster size for drop accounting. The
    pair graph is the bounded near-dup fraction of the corpus, so the
    component/argmax stages run on a relation orders of magnitude
    smaller than the input; nothing in this plan touches all-pairs.
    Oracle: quadratic exact Jaccard + recursive reachability closure."""
    from .operators.dedup import minhash_lsh_candidates, ngram_jaccard_pairs
    from .operators.graph import connected_components

    t = tables(spark, sf_dir)
    docs = t["documents"].select("doc_id", "text")
    toks = F.filter(
        F.split(F.lower(F.trim("text")), r"\s+"), lambda tok: tok != ""
    )
    mutated = docs.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat_ws(
            " ", F.slice(toks, 1, F.greatest(F.size(toks) - 5, F.lit(1)))
        ).alias("text"),
    )
    corpus = docs.unionByName(mutated)
    cands = minhash_lsh_candidates(corpus, num_hashes=64, bands=16)
    pairs = ngram_jaccard_pairs(corpus, cands, threshold=0.9).select(
        "id_a", "id_b"
    )
    comp = connected_components(pairs, "id_a", "id_b")
    sizes = corpus.select("doc_id", F.size(toks).alias("n_toks"))
    members = comp.join(sizes, comp["node"] == sizes["doc_id"]).select(
        "component", "node", "n_toks"
    )
    w = Window.partitionBy("component")
    wr = w.orderBy(F.desc("n_toks"), "node")
    return (
        members.withColumn("n_members", F.count(F.lit(1)).over(w))
        .withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == 1)
        .select(
            "component",
            F.col("node").alias("keep_doc_id"),
            "n_toks",
            "n_members",
        )
        .orderBy("component")
    )


# ---------------------------------------------------------------------------
# semi-structured parsing, distribution windows, histograms, fuzzy matching,
# embedding quantization
# ---------------------------------------------------------------------------

@query(
    "q_events_props_json",
    """
    SELECT CAST(CAST(json_extract_string(props, '$.k') AS INT) // 10
                AS BIGINT) AS k_bucket,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(38,10))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1 ORDER BY 1
    """,
)
def q_events_props_json(spark, sf_dir):
    """Semi-structured payload analytics: the JSON ``props`` column is
    parsed with a declared schema (``from_json``, JVM-side Jackson — no
    Python in the loop) and aggregated by extracted-field bucket. At
    100 TB the parse cost dominates, so the projection parses each blob
    exactly once and prunes every other field at the scan; schema-on-read
    stays a Column expression, never a UDF."""
    t = tables(spark, sf_dir)
    return (
        t["events"]
        .select(
            F.from_json("props", "k INT").alias("p"),
            "value",
        )
        .select(F.expr("CAST(p.k div 10 AS BIGINT)").alias("k_bucket"), "value")
        .groupBy("k_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _dsum(F.col("value"), "sum_value"),
        )
        .orderBy("k_bucket")
    )


@query(
    "q_value_histogram",
    """
    SELECT CAST(LEAST(FLOOR(value / 50.0), 9) AS BIGINT) AS bucket,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(38,10))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1 ORDER BY 1
    """,
)
def q_value_histogram(spark, sf_dir):
    """Equi-width histogram (10 × 50-unit buckets, open-ended top) over
    the event value measure — the profiling primitive behind range-
    partition planning and UI distribution charts. One map-combinable
    groupBy on a computed key; bucket arithmetic is identical IEEE
    double math in both engines so bin edges are deterministic."""
    t = tables(spark, sf_dir)
    return (
        t["events"]
        .select(
            F.least(F.floor(F.col("value") / 50.0), F.lit(9))
            .cast("bigint")
            .alias("bucket"),
            "value",
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"), _dsum(F.col("value"), "sum_value"))
        .orderBy("bucket")
    )


@query(
    "q_window_distribution",
    """
    SELECT o_orderkey, o_orderpriority,
           ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
           ROUND(CUME_DIST() OVER w, 6) AS cume
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority
                 ORDER BY o_totalprice, o_orderkey)
    ORDER BY o_orderpriority, pct_rank, o_orderkey
    LIMIT 500
    """,
)
def q_window_distribution(spark, sf_dir):
    """Distribution window functions (percent_rank / cume_dist) per
    priority class — the remaining SQL-window family not yet covered by
    rank/ntile/lag. One shuffle on the partition key; the o_orderkey
    tiebreak in the ORDER BY makes ranks (and the LIMIT edge)
    deterministic under ties."""
    t = tables(spark, sf_dir)
    w = Window.partitionBy("o_orderpriority").orderBy(
        "o_totalprice", "o_orderkey"
    )
    return (
        t["orders"]
        .select(
            "o_orderkey",
            "o_orderpriority",
            F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
            F.round(F.cume_dist().over(w), 6).alias("cume"),
        )
        .orderBy("o_orderpriority", "pct_rank", "o_orderkey")
        .limit(500)
    )


@query(
    "q_fuzzy_name_match",
    """
    WITH names AS (SELECT DISTINCT p_name FROM part),
    corpus AS (
        SELECT p_name FROM names
        UNION
        SELECT substr(p_name, 1, 1) || substr(p_name, 3) FROM names
    )
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
    FROM corpus a JOIN corpus b
      ON substr(a.p_name, 1, 1) = substr(b.p_name, 1, 1)
     AND a.p_name < b.p_name
    WHERE abs(len(a.p_name) - len(b.p_name)) <= 2
      AND levenshtein(a.p_name, b.p_name) <= 2
    ORDER BY name_a, name_b
    """,
)
def q_fuzzy_name_match(spark, sf_dir):
    """Fuzzy string matching (edit distance ≤ 2) with BLOCKED candidate
    generation — never an all-pairs cross join: candidates must share a
    first-character block and have compatible lengths (both cheap
    equi/range predicates), and only survivors pay the O(len²)
    levenshtein. Near-miss variants are planted (second character
    deleted) so true fuzzy pairs exist at every SF, mirroring the
    mutated-copy convention of the dedup queries. At 100 TB the blocking
    key becomes the shuffle partition key and per-block skew is bounded
    by the key-design (first char + length band), the same guard
    discipline as the LSH buckets."""
    t = tables(spark, sf_dir)
    names = t["part"].select("p_name").distinct()
    mutated = names.select(
        F.concat(
            F.substring("p_name", 1, 1), F.expr("substring(p_name, 3)")
        ).alias("p_name")
    )
    corpus = names.unionByName(mutated).distinct().withColumn(
        "blk", F.substring("p_name", 1, 1)
    )
    a = corpus.select(F.col("p_name").alias("name_a"), F.col("blk"))
    b = corpus.select(F.col("p_name").alias("name_b"), F.col("blk"))
    return (
        a.join(b, "blk")
        .filter(
            (F.col("name_a") < F.col("name_b"))
            & (F.abs(F.length("name_a") - F.length("name_b")) <= 2)
        )
        # Catalyst pushes the aliased predicate back below the Project
        # (re-inlining the levenshtein), so the DP still evaluates
        # twice per block-surviving pair — a constant factor the
        # blocking join, not expression sharing, is responsible for
        # bounding. Kept in the single-projection form for readability.
        .withColumn("dist", F.levenshtein("name_a", "name_b").cast("int"))
        .filter(F.col("dist") <= 2)
        .select("name_a", "name_b", "dist")
        .orderBy("name_a", "name_b")
    )


@query(
    "q_embedding_quantize",
    """
    WITH sc AS (
        SELECT vec_id, embedding,
               CASE WHEN list_max(list_transform(embedding,
                             x -> abs(CAST(x AS DOUBLE)))) > 0
                    THEN list_max(list_transform(embedding,
                             x -> abs(CAST(x AS DOUBLE)))) / 127.0
               END AS scale
        FROM embeddings
    )
    SELECT vec_id,
           ROUND(scale, 6) AS scale_r6,
           CASE WHEN scale IS NOT NULL THEN
               CAST(list_sum(list_transform(embedding,
                    x -> CAST(FLOOR(CAST(x AS DOUBLE) / scale + 0.5)
                         AS BIGINT))) AS BIGINT)
           END AS q_sum,
           CASE WHEN scale IS NOT NULL THEN
               CAST(list_sum(list_transform(embedding,
                    x -> abs(CAST(FLOOR(CAST(x AS DOUBLE) / scale + 0.5)
                             AS BIGINT)))) AS BIGINT)
           END AS q_l1
    FROM sc
    ORDER BY vec_id
    LIMIT 500
    """,
)
def q_embedding_quantize(spark, sf_dir):
    """Int8 scalar quantization of the embedding column — the 4×
    storage/bandwidth reduction step vector stores apply before ANN
    serving. Per-vector symmetric scale = max|x|/127; codes are
    floor(x/scale + 0.5) (explicit half-up on exact doubles, so both
    engines produce bit-identical integer codes — verified via the exact
    integer checksums q_sum/q_l1 rather than a float reconstruction
    error that would only test rounding). A ZERO vector has nothing to
    scale: scale/q_sum/q_l1 are NULL, matching the engine-wide zero-norm
    contract (`quantize_embeddings` in operators/similarity.py) and the
    DuckDB oracle's x/0 → NULL semantics — this was the engine's last
    unguarded realistic ANSI divide site. Pure array expressions over
    the vector column: no shuffle, no UDF, linear scan — the shape that
    streams through 100 TB of vectors at NIC speed."""
    t = tables(spark, sf_dir)
    absd = lambda c: F.abs(c.cast("double"))  # noqa: E731
    # scale is hoisted to its own projection: referenced from inside a
    # higher-order-function lambda it would be re-evaluated (an O(d)
    # reduction) once per ELEMENT — O(d²)/row — because Spark's
    # subexpression elimination does not hoist loop-invariant subtrees
    # out of lambda bodies. The NULL guard (rather than try_divide
    # inside the lambda) keeps the zero-vector row's q_sum/q_l1 NULL
    # as a unit instead of summing over a NULL-element array.
    maxabs = F.array_max(F.transform("embedding", absd))
    scaled = t["embeddings"].withColumn(
        "_scale", F.when(maxabs > 0, maxabs / F.lit(127.0))
    )
    code = lambda x: F.floor(  # noqa: E731
        x.cast("double") / F.col("_scale") + F.lit(0.5)
    ).cast("bigint")
    codes = F.transform("embedding", code)
    guarded = lambda c: F.when(  # noqa: E731
        F.col("_scale").isNotNull(), c
    )
    return (
        scaled.withColumn("_codes", codes)
        .select(
            "vec_id",
            F.round(F.col("_scale"), 6).alias("scale_r6"),
            guarded(
                F.aggregate(
                    "_codes", F.lit(0).cast("bigint"), lambda acc, x: acc + x
                )
            ).alias("q_sum"),
            guarded(
                F.aggregate(
                    "_codes",
                    F.lit(0).cast("bigint"),
                    lambda acc, x: acc + F.abs(x),
                )
            ).alias("q_l1"),
        )
        .orderBy("vec_id")
        .limit(500)
    )


# ---------------------------------------------------------------------------
# phrase search over positional postings + date-histogram facet
# ---------------------------------------------------------------------------

@query(
    "q_doc_phrase_search",
    """
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(COALESCE(text, '')),
                                              '[^a-z0-9]+'),
                           t -> t <> '') AS toks
        FROM documents
    ), occ AS (
        SELECT doc_id,
               CAST(len(list_filter(range(1, len(toks)),
                        i -> toks[i] = 'hash' AND toks[i+1] = 'join'))
                    AS INT) AS n_occurrences
        FROM toks
    )
    SELECT doc_id, n_occurrences FROM occ
    WHERE n_occurrences > 0
    ORDER BY doc_id
    """,
)
def q_doc_phrase_search(spark, sf_dir):
    """Exact-phrase search ("hash join") via positional postings — the
    quoted-phrase operator of the reference's OpenSearch query_string
    tier (backend/backend/handlers/search/search.py query_string path),
    which tf-only BM25 postings cannot answer. The engine probes ONLY
    the phrase terms' postings (term IN (...) pruned scan over the
    maintained positional index) and chains adjacency as shifted-array
    intersections — k-term phrase = k-1 joins co-partitioned on doc_id,
    no corpus re-read, no explode at query time. Oracle recomputes
    occurrences from first principles with the identical analyzer."""
    from .operators.inverted_index import phrase_match, positional_postings

    t = tables(spark, sf_dir)
    postings = positional_postings(t["documents"], "doc_id", "text")
    return phrase_match(postings, ["hash", "join"], "doc_id").orderBy("doc_id")


@query(
    "q_vams_date_facet",
    oracle_with("files")
    + """
    SELECT strftime(last_modified, '%Y-%m') AS month,
           COUNT(*) AS doc_count
    FROM files
    GROUP BY 1 ORDER BY 1
    """,
)
def q_vams_date_facet(spark, sf_dir):
    """Date-histogram facet (monthly buckets over file last_modified) —
    the OpenSearch date_histogram aggregation of the search UI's
    timeline filter, as one map-combinable groupBy on a truncated date
    key. Month formatting stays JVM-side (date_format); no UDF; the
    facet cardinality is months-in-range, so the exchange carries a few
    dozen rows regardless of corpus size."""
    t = tables(spark, sf_dir)
    return (
        t["files"]
        .groupBy(F.date_format("last_modified", "yyyy-MM").alias("month"))
        .agg(F.count(F.lit(1)).alias("doc_count"))
        .orderBy("month")
    )


# ---------------------------------------------------------------------------
# last-touch attribution + prefix completion suggester
# ---------------------------------------------------------------------------

@query(
    "q_events_attribution",
    f"""
    WITH e AS (
        SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us, value
        FROM events
    ), att AS (
        SELECT *,
               LAST_VALUE(CASE WHEN event_type <> 'purchase'
                               THEN event_type END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS channel
        FROM e
    )
    SELECT COALESCE(channel, 'none') AS channel,
           COUNT(*) AS n_purchases,
           {O_SUM('value')} AS attributed_value
    FROM att WHERE event_type = 'purchase'
    GROUP BY 1 ORDER BY 1
    """,
)
def q_events_attribution(spark, sf_dir):
    """Last-touch attribution: each purchase is credited to the user's
    most recent preceding non-purchase event type. One whole-history
    window (`last(..., ignorenulls=True)` over an unbounded-preceding
    frame) on a single user_id partitioning — the same one-shuffle
    discipline as the funnel; the rollup that follows is a tiny
    channel-cardinality aggregate. The (ts, event_id) ordering tiebreak
    makes attribution deterministic under timestamp collisions."""
    t = tables(spark, sf_dir)
    e = t["events"].select(
        "user_id",
        "event_id",
        "event_type",
        F.expr("ts div 1000").alias("ts_us"),
        "value",
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    channel = F.last(
        F.when(F.col("event_type") != "purchase", F.col("event_type")),
        ignorenulls=True,
    ).over(w)
    return (
        e.withColumn("channel", channel)
        .filter(F.col("event_type") == "purchase")
        .groupBy(F.coalesce("channel", F.lit("none")).alias("channel"))
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            _dsum(F.col("value"), "attributed_value"),
        )
        .orderBy("channel")
    )


@query(
    "q_vams_suggest",
    oracle_with("assets")
    + """
    , toks AS (
        SELECT unnest(list_filter(
                   string_split_regex(lower(asset_name), '[^a-z0-9]+'),
                   t -> t <> '')) AS token
        FROM assets WHERE NOT is_archived
    ), freq AS (
        SELECT token, COUNT(*) AS freq FROM toks GROUP BY token
    ), pfx AS (
        SELECT substr(token, 1, i) AS prefix, token, freq
        FROM freq, UNNEST(range(1, LEAST(len(token), 4) + 1)) AS t(i)
    ), ranked AS (
        SELECT prefix, token AS suggestion, freq,
               CAST(ROW_NUMBER() OVER (PARTITION BY prefix
                    ORDER BY freq DESC, token) AS INT) AS rank
        FROM pfx
    )
    SELECT prefix, suggestion, freq, rank
    FROM ranked WHERE rank <= 3
    ORDER BY prefix, rank
    """,
)
def q_vams_suggest(spark, sf_dir):
    """Prefix completion suggester — the OpenSearch completion-suggester
    feature of the search UI's type-ahead box, as a precomputed
    (prefix → top-3 tokens by corpus frequency) table over live asset
    names. Build shape: tokenize once, aggregate token frequencies
    (map-combinable), explode each DISTINCT token into ≤4 prefixes (the
    explode runs on the token dictionary, not the corpus), rank per
    prefix. Serving is then a point lookup on the prefix key — the
    suggest index is maintained state exactly like the search tables."""
    from .operators.inverted_index import build_suggest_index

    t = tables(spark, sf_dir)
    return build_suggest_index(
        t["assets"].filter(~F.col("is_archived")),
        "asset_name",
        max_prefix_len=4,
        k=3,
    ).orderBy("prefix", "rank")


@query(
    "q_vams_phrase_query",
    oracle_with("assets")
    + r"""
    , toksets AS (
        SELECT database_id, asset_id, asset_name, description, asset_type,
               list_filter(string_split_regex(lower(COALESCE(asset_name, '')),
                                              '[^a-z0-9]+'), t -> t <> '')
                   AS t_name,
               list_filter(string_split_regex(lower(COALESCE(description, '')),
                                              '[^a-z0-9]+'), t -> t <> '')
                   AS t_desc,
               list_filter(string_split_regex(lower(COALESCE(asset_type, '')),
                                              '[^a-z0-9]+'), t -> t <> '')
                   AS t_type
        FROM assets WHERE NOT is_archived
    ), flags AS (
        SELECT *,
               len(list_filter(range(1, GREATEST(len(t_name), 1)),
                   i -> t_name[i] = 'red' AND t_name[i+1] = 'widget')) > 0
                   AS p_name,
               len(list_filter(range(1, GREATEST(len(t_desc), 1)),
                   i -> t_desc[i] = 'red' AND t_desc[i+1] = 'widget')) > 0
                   AS p_desc,
               len(list_filter(range(1, GREATEST(len(t_type), 1)),
                   i -> t_type[i] = 'red' AND t_type[i+1] = 'widget')) > 0
                   AS p_type
        FROM toksets
    ), hit AS (
        SELECT *,
               CAST(CASE WHEN contains(lower(asset_name), 'red widget')
                         THEN 2.0 ELSE 0.0 END
                  + CASE WHEN contains(lower(description), 'red widget')
                         THEN 1.0 ELSE 0.0 END
                  + CASE WHEN contains(lower(asset_type), 'red widget')
                         THEN 1.0 ELSE 0.0 END
                  + CASE WHEN p_name THEN 2.0 ELSE 0.0 END
                  + CASE WHEN p_desc THEN 1.0 ELSE 0.0 END
                  + CASE WHEN p_type THEN 1.0 ELSE 0.0 END AS DOUBLE) AS score
        FROM flags
    )
    SELECT database_id, asset_id, asset_name, score
    FROM hit WHERE (p_name OR p_desc OR p_type) AND score > 0.01
    ORDER BY score DESC, database_id, asset_id
    LIMIT 500
    """,
)
def q_vams_phrase_query(spark, sf_dir):
    """Quoted-phrase search through the FULL request compiler: the
    query string ``'"red widget"'`` demands exact token adjacency in at
    least one searched text field (the reference's query_string quoting
    — search.py:1089-1121) as filter context, then scores the
    quote-stripped terms with the match-count tier. The phrase
    predicate is pure Column algebra over the short search-document
    fields (operators/inverted_index.phrase_expr — slice-equality
    subsequence scan, no positional index needed at name/description
    lengths; documents-scale phrase search uses the positional-postings
    path, q_doc_phrase_search)."""
    t = tables(spark, sf_dir)
    sc = SearchCompiler({"asset": t["search_assets"], "file": t["search_files"]})
    req = SearchRequest(
        query='"red widget"', entity_types=("asset",), size=500
    )
    return sc.hits(req).select("database_id", "asset_id", "asset_name", "score")


@query(
    "q_table_profile",
    """
    WITH m AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS row_count,
               CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END)
                    AS DOUBLE) / COUNT(*) AS null_frac_totalprice,
               CAST(COUNT(DISTINCT o_orderstatus) AS DOUBLE)
                   AS distinct_status,
               MIN(o_totalprice) AS min_totalprice,
               MAX(o_totalprice) AS max_totalprice,
               CAST(epoch_us(MIN(o_orderdate)) AS DOUBLE)
                   AS min_orderdate_us,
               CAST(epoch_us(MAX(o_orderdate)) AS DOUBLE)
                   AS max_orderdate_us
        FROM orders
    )
    SELECT metric, value FROM (
        SELECT 'row_count' AS metric, row_count AS value FROM m
        UNION ALL SELECT 'null_frac_totalprice', null_frac_totalprice FROM m
        UNION ALL SELECT 'distinct_status', distinct_status FROM m
        UNION ALL SELECT 'min_totalprice', min_totalprice FROM m
        UNION ALL SELECT 'max_totalprice', max_totalprice FROM m
        UNION ALL SELECT 'min_orderdate_us', min_orderdate_us FROM m
        UNION ALL SELECT 'max_orderdate_us', max_orderdate_us FROM m
        UNION ALL SELECT 'expect_totalprice_nonneg',
               CASE WHEN min_totalprice >= 0 THEN 1.0 ELSE 0.0 END FROM m
        UNION ALL SELECT 'expect_no_null_totalprice',
               CASE WHEN null_frac_totalprice = 0 THEN 1.0 ELSE 0.0 END FROM m
        UNION ALL SELECT 'expect_status_domain',
               CASE WHEN distinct_status <= 3 THEN 1.0 ELSE 0.0 END FROM m
    ) ORDER BY metric
    """,
)
def q_table_profile(spark, sf_dir):
    """Single-pass data-quality profile + expectation checks (the
    Deequ/Great-Expectations pattern): every metric — row count, null
    fraction, distinct cardinality, numeric and date ranges — and every
    derived pass/fail expectation comes from ONE aggregation over the
    table (map-side combinable, 1-row exchange), then melts to the
    (metric, value) long form. At 100 TB this is the profile job run
    before promoting a snapshot: one scan, no per-metric passes, no
    driver-side row inspection."""
    t = tables(spark, sf_dir)
    m = t["orders"].agg(
        F.count(F.lit(1)).cast("double").alias("row_count"),
        (
            F.sum(
                F.when(F.col("o_totalprice").isNull(), 1).otherwise(0)
            ).cast("double")
            / F.count(F.lit(1))
        ).alias("null_frac_totalprice"),
        # size(collect_set) not countDistinct: COUNT(DISTINCT) plans an
        # Expand + two aggregation phases (3 exchanges); a collect_set
        # over a DOMAIN-BOUNDED column (order status has ≤3 values) is a
        # plain single-phase aggregate, keeping the whole profile at one
        # pass + one 1-row exchange. For unbounded-cardinality columns
        # the 100 TB substitute is approx_count_distinct (sketch tier).
        F.size(F.collect_set("o_orderstatus")).cast("double").alias(
            "distinct_status"
        ),
        F.min("o_totalprice").alias("min_totalprice"),
        F.max("o_totalprice").alias("max_totalprice"),
        F.unix_micros(F.min("o_orderdate").cast("timestamp"))
        .cast("double")
        .alias("min_orderdate_us"),
        F.unix_micros(F.max("o_orderdate").cast("timestamp"))
        .cast("double")
        .alias("max_orderdate_us"),
    )
    m = m.withColumns(
        {
            "expect_totalprice_nonneg": F.when(
                F.col("min_totalprice") >= 0, 1.0
            ).otherwise(0.0),
            "expect_no_null_totalprice": F.when(
                F.col("null_frac_totalprice") == 0, 1.0
            ).otherwise(0.0),
            "expect_status_domain": F.when(
                F.col("distinct_status") <= 3, 1.0
            ).otherwise(0.0),
        }
    )
    return m.unpivot([], None, "metric", "value").orderBy("metric")


@query(
    "q_user_entropy",
    f"""
    WITH counts AS (
        SELECT user_id, event_type, COUNT(*) AS c
        FROM events GROUP BY user_id, event_type
    ), totals AS (
        SELECT user_id, SUM(c) AS total FROM counts GROUP BY user_id
    ), terms AS (
        SELECT c.user_id,
               ROUND(-(c.c / t.total) * LN(c.c / t.total), 6) AS term
        FROM counts c JOIN totals t USING (user_id)
    )
    SELECT user_id,
           ROUND({O_SUM('term')}, 6) AS entropy
    FROM terms GROUP BY user_id
    ORDER BY entropy DESC, user_id
    LIMIT 50
    """,
)
def q_user_entropy(spark, sf_dir):
    """Per-user behavioral entropy (Shannon entropy of the event-type
    distribution) — the diversity metric behind bot/outlier screens and
    corpus-mix diagnostics. Two aggregations on the SAME user_id key
    (per-type counts, then totals via a whole-partition window so no
    self-join re-shuffle), entropy terms rounded to a 1e-6 grid before
    decimal-exact accumulation — the q_doc_char_lm_score convention
    that makes cross-engine ``ln`` ulp differences unobservable."""
    t = tables(spark, sf_dir)
    counts = (
        t["events"]
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    counts = counts.withColumn(
        "total", F.sum("c").over(Window.partitionBy("user_id"))
    )
    p = F.col("c") / F.col("total")
    terms = counts.withColumn("term", F.round(-p * F.log(p), 6))
    return (
        terms.groupBy("user_id")
        .agg(
            F.round(
                F.sum(F.col("term").cast("decimal(38,10)")).cast("double"), 6
            ).alias("entropy")
        )
        .orderBy(F.desc("entropy"), "user_id")
        .limit(50)
    )


@query(
    "q_referential_audit",
    """
    SELECT fk, orphans FROM (
        SELECT 'orders.o_custkey' AS fk, CAST(COUNT(*) AS BIGINT) AS orphans
        FROM orders o WHERE NOT EXISTS (
            SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
        UNION ALL
        SELECT 'lineitem.l_orderkey', CAST(COUNT(*) AS BIGINT)
        FROM lineitem l WHERE NOT EXISTS (
            SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
        UNION ALL
        SELECT 'lineitem.l_partkey', CAST(COUNT(*) AS BIGINT)
        FROM lineitem l WHERE NOT EXISTS (
            SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)
        UNION ALL
        SELECT 'lineitem.l_suppkey', CAST(COUNT(*) AS BIGINT)
        FROM lineitem l WHERE NOT EXISTS (
            SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey)
        UNION ALL
        SELECT 'customer.c_nationkey', CAST(COUNT(*) AS BIGINT)
        FROM customer c WHERE NOT EXISTS (
            SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey)
    ) ORDER BY fk
    """,
)
def q_referential_audit(spark, sf_dir):
    """Whole-star referential-integrity audit: orphan counts for every
    foreign key in one plan — the dbt-test / constraint-check job a
    warehouse runs before promoting a load. Each FK is a LEFT ANTI join
    (NOT EXISTS decorrelated) followed by a count; dimension sides
    (customer, part, supplier, nation) broadcast, so each check is one
    scan of its fact side with no fact shuffle — the whole audit reads
    each table once per constraint and exchanges only 1-row counts.
    All-zero orphans on the fixture is itself the assertion: the
    generator guarantees closure, and a nonzero row pinpoints the
    broken key."""
    t = tables(spark, sf_dir)

    def orphans(fact, fk, dim, pk, label):
        return (
            t[fact]
            .join(
                t[dim].select(pk),
                F.col(fk) == F.col(pk),
                "left_anti",
            )
            .agg(F.count(F.lit(1)).alias("orphans"))
            .select(F.lit(label).alias("fk"), "orphans")
        )

    return (
        orphans("orders", "o_custkey", "customer", "c_custkey", "orders.o_custkey")
        .unionByName(
            orphans("lineitem", "l_orderkey", "orders", "o_orderkey",
                    "lineitem.l_orderkey")
        )
        .unionByName(
            orphans("lineitem", "l_partkey", "part", "p_partkey",
                    "lineitem.l_partkey")
        )
        .unionByName(
            orphans("lineitem", "l_suppkey", "supplier", "s_suppkey",
                    "lineitem.l_suppkey")
        )
        .unionByName(
            orphans("customer", "c_nationkey", "nation", "n_nationkey",
                    "customer.c_nationkey")
        )
        .orderBy("fk")
    )


@query(
    "q_doc_tfidf_keywords",
    r"""
    WITH toks AS (
        SELECT doc_id,
               unnest(list_filter(string_split_regex(lower(COALESCE(text, '')),
                                                     '[^a-z0-9]+'),
                                  t -> t <> '')) AS term
        FROM documents
    ), tf AS (
        SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term
    ), df AS (
        SELECT term, COUNT(*) AS df FROM tf GROUP BY term
    ), n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.term,
               ROUND(tf.tf * ROUND(LN(n.n_docs / df.df), 6), 6) AS tfidf
        FROM tf JOIN df USING (term), n
    )
    SELECT doc_id, term, tfidf, rank FROM (
        SELECT doc_id, term, tfidf,
               CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                    ORDER BY tfidf DESC, term) AS INT) AS rank
        FROM scored
    ) WHERE rank <= 3
    ORDER BY doc_id, rank
    """,
)
def q_doc_tfidf_keywords(spark, sf_dir):
    """Per-document top-3 TF-IDF keywords — the classic keyword-
    extraction / document-signature operator. One explode + two
    aggregations (term frequencies shuffle on (doc, term); document
    frequencies reuse the term key), a broadcast (term, idf) dictionary
    join back, and a per-doc row_number window. idf is grid-rounded to
    1e-6 BEFORE the tf multiply (the ln-determinism convention), and
    the (score, term) ordering tiebreak pins rank edges. At 100 TB the
    idf dictionary is |vocabulary|-bounded and broadcastable; nothing
    else leaves its natural key."""
    from .operators.inverted_index import tokenize

    t = tables(spark, sf_dir)
    docs = t["documents"]
    tf = (
        docs.select("doc_id", F.explode(tokenize(F.col("text"))).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    idf = dfreq.crossJoin(F.broadcast(n_docs)).select(
        "term", F.round(F.log(F.col("n_docs") / F.col("df")), 6).alias("idf")
    )
    scored = tf.join(F.broadcast(idf), "term").select(
        "doc_id",
        "term",
        F.round(F.col("tf") * F.col("idf"), 6).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), "term")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "term", "tfidf", "rank")
        .orderBy("doc_id", "rank")
    )


# ---------------------------------------------------------------------------
# round 6: the partsupp-dependent TPC-H shapes (Q2/Q11/Q16/Q20), unlocked by
# the deterministic pseudo-partsupp view (sources/vams.py "partsupp" — the
# fixture set has no partsupp table; the view derives one from part x
# supplier with the same shared-SQL trick as the VAMS star)
# ---------------------------------------------------------------------------

@query(
    "q02_min_cost_supplier",
    oracle_with("partsupp")
    + """
    , eu AS (
        SELECT s_suppkey, s_name, s_acctbal, n_name
        FROM supplier
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'EUROPE'
    ), cand AS (
        SELECT p_partkey, s_acctbal, s_name, n_name, ps_supplycost
        FROM part
        JOIN partsupp ON p_partkey = ps_partkey
        JOIN eu ON ps_suppkey = s_suppkey
        WHERE p_size = 15 AND p_type = 'MEDIUM'
    ), mc AS (
        SELECT p_partkey AS mk, MIN(ps_supplycost) AS min_cost
        FROM cand GROUP BY p_partkey
    )
    SELECT s_acctbal, s_name, n_name, p_partkey
    FROM cand JOIN mc ON p_partkey = mk AND ps_supplycost = min_cost
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    LIMIT 100
    """,
)
def q02_min_cost_supplier(spark, sf_dir):
    """TPC-H Q2 shape: correlated scalar MIN over a join (cheapest
    supplier per part within a region), decorrelated to a per-part MIN
    aggregate equi-joined back — the classic decorrelation Catalyst
    would otherwise have to synthesize. The region-restricted supplier
    dim is built once and BROADCAST into partsupp (suppliers are a
    dimension even at 100 TB); the candidate relation feeds two
    consumers (the MIN aggregate and the equality join), so it is
    lineage-cut once rather than recomputed. Predicates (p_size,
    p_type, region) all apply BEFORE the aggregate, so the shuffled
    relation is the filtered candidates, not all of partsupp. Exact
    double equality on the min is safe cross-engine: both sides derive
    ps_supplycost from the same integer-hash formula. Fixture note:
    the slim part/supplier schemas carry no mfgr/address/phone/comment
    columns, so the output list is the subset that exists; p_type is a
    single word here, so the TPC-H '%BRASS' suffix match becomes an
    equality (reference shape: SURVEY.md §10)."""
    from .operators.checkpointing import maybe_checkpoint

    t = tables(spark, sf_dir)
    eu = (
        t["supplier"]
        .join(
            F.broadcast(t["nation"]),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(t["region"].filter(F.col("r_name") == "EUROPE")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    parts = t["part"].filter(
        (F.col("p_size") == 15) & (F.col("p_type") == "MEDIUM")
    )
    cand = (
        t["partsupp"]
        .join(F.broadcast(parts), F.col("ps_partkey") == F.col("p_partkey"))
        .join(eu, F.col("ps_suppkey") == F.col("s_suppkey"))
        .select("p_partkey", "s_acctbal", "s_name", "n_name", "ps_supplycost")
    )
    cand = maybe_checkpoint(cand, eager=False)
    mc = cand.groupBy(F.col("p_partkey").alias("mk")).agg(
        F.min("ps_supplycost").alias("min_cost")
    )
    return (
        cand.join(
            F.broadcast(mc),
            (F.col("p_partkey") == F.col("mk"))
            & (F.col("ps_supplycost") == F.col("min_cost")),
        )
        .select("s_acctbal", "s_name", "n_name", "p_partkey")
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


@query(
    "q11_important_stock",
    oracle_with("partsupp")
    + f"""
    , nat_ps AS (
        SELECT ps_partkey, ps_supplycost * ps_availqty AS v
        FROM partsupp
        JOIN supplier ON ps_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        WHERE n_name = 'NATION_7'
    ), per_part AS (
        SELECT ps_partkey, {O_SUM('v')} AS value
        FROM nat_ps GROUP BY ps_partkey
    ), total AS (
        SELECT {O_SUM('v')} * 0.005 AS threshold FROM nat_ps
    )
    SELECT ps_partkey, ROUND(value, 6) AS value
    FROM per_part, total
    WHERE value > threshold
    ORDER BY value DESC, ps_partkey
    """,
)
def q11_important_stock(spark, sf_dir):
    """TPC-H Q11 shape: HAVING-over-global-total (parts representing a
    significant fraction of one nation's stock value). The
    nation-filtered partsupp relation feeds BOTH the per-part aggregate
    and the grand total; it is computed once (lineage cut) and the
    1-row total is broadcast back as a threshold — the fact relation is
    scanned once and shuffled once, on its natural ps_partkey key.
    Decimal-exact sums make the > threshold boundary bit-identical
    cross-engine. The fraction is 0.005 (vs TPC-H's 0.0001/SF): the
    pseudo-partsupp has ~4 P/S rows per nation, and 0.005 keeps the
    predicate actually selective at fixture scale."""
    from .operators.checkpointing import maybe_checkpoint

    t = tables(spark, sf_dir)
    nat_sup = (
        t["supplier"]
        .join(
            F.broadcast(t["nation"].filter(F.col("n_name") == "NATION_7")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey")
    )
    nat_ps = (
        t["partsupp"]
        .join(
            F.broadcast(nat_sup),
            F.col("ps_suppkey") == F.col("s_suppkey"),
            "left_semi",
        )
        .select(
            "ps_partkey",
            (F.col("ps_supplycost") * F.col("ps_availqty")).alias("v"),
        )
    )
    nat_ps = maybe_checkpoint(nat_ps, eager=False)
    per_part = nat_ps.groupBy("ps_partkey").agg(_dsum(F.col("v"), "value"))
    total = nat_ps.agg(
        (F.sum(F.col("v").cast("decimal(38,10)")).cast("double") * 0.005).alias(
            "threshold"
        )
    )
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("value") > F.col("threshold"))
        .select("ps_partkey", F.round("value", 6).alias("value"))
        .orderBy(F.desc("value"), "ps_partkey")
    )


@query(
    "q16_parts_supplier_relationship",
    oracle_with("partsupp")
    + """
    SELECT p_brand, p_type, p_size,
           CAST(COUNT(DISTINCT ps_suppkey) AS BIGINT) AS supplier_cnt
    FROM partsupp
    JOIN part ON p_partkey = ps_partkey
    WHERE p_brand <> 'Brand#45'
      AND p_type <> 'MEDIUM'
      AND p_size IN (49, 14, 23, 45, 19, 3, 36, 9)
      AND ps_suppkey NOT IN (
          SELECT s_suppkey FROM supplier WHERE s_suppkey % 7 = 0
      )
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
)
def q16_parts_supplier_relationship(spark, sf_dir):
    """TPC-H Q16 shape: distinct-supplier counts per part descriptor
    with a NOT-IN supplier exclusion. The exclusion subquery becomes a
    broadcast LEFT ANTI join (null-safe here: s_suppkey is a key), the
    part filter broadcasts into partsupp, and COUNT(DISTINCT) runs as
    Spark's two-phase partial-distinct aggregate on the
    (brand, type, size) key. Fixture note: the slim supplier schema has
    no s_comment, so TPC-H's '%Customer%Complaints%' exclusion is
    modeled by a deterministic key predicate (every 7th supplier) —
    same shape, reproducible in both engines."""
    t = tables(spark, sf_dir)
    parts = t["part"].filter(
        (F.col("p_brand") != "Brand#45")
        & (F.col("p_type") != "MEDIUM")
        & (F.col("p_size").isin(49, 14, 23, 45, 19, 3, 36, 9))
    )
    complaints = t["supplier"].filter(F.col("s_suppkey") % 7 == 0).select(
        "s_suppkey"
    )
    return (
        t["partsupp"]
        .join(F.broadcast(parts), F.col("ps_partkey") == F.col("p_partkey"))
        .join(
            complaints,
            F.col("ps_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("ps_suppkey").cast("bigint").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


@query(
    "q20_excess_stock_suppliers",
    oracle_with("partsupp")
    + f"""
    , red_parts AS (
        SELECT p_partkey FROM part WHERE p_name LIKE 'red%'
    ), shipped AS (
        SELECT l_partkey, l_suppkey, {O_SUM('l_quantity')} AS qty
        FROM lineitem
        JOIN red_parts ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
        GROUP BY l_partkey, l_suppkey
    ), excess AS (
        SELECT DISTINCT ps_suppkey
        FROM partsupp
        JOIN shipped ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
        WHERE ps_availqty > 0.5 * qty
    )
    SELECT s_suppkey, s_name
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    JOIN excess ON s_suppkey = ps_suppkey
    WHERE n_name = 'NATION_3'
    ORDER BY s_name
    """,
)
def q20_excess_stock_suppliers(spark, sf_dir):
    """TPC-H Q20 shape: nested IN-subqueries (suppliers holding excess
    stock of a named part family) decorrelated to semi-joins over a
    correlated per-(part,supplier) shipped-quantity aggregate. The part
    family filter broadcasts into BOTH the lineitem aggregate input and
    partsupp (so the year's shipments are aggregated only for the ~1/N
    matching parts), the excess check is an equi-join on the compound
    (partkey, suppkey) key, and the surviving supplier ids collapse
    through distinct before the final dimension join. Decimal-exact
    quantity sums pin the 0.5x boundary cross-engine."""
    t = tables(spark, sf_dir)
    red_parts = (
        t["part"].filter(F.col("p_name").startswith("red")).select("p_partkey")
    )
    shipped = (
        t["lineitem"]
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .join(
            red_parts,
            F.col("l_partkey") == F.col("p_partkey"),
            "left_semi",
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(_dsum(F.col("l_quantity"), "qty"))
    )
    excess = (
        t["partsupp"]
        .join(
            shipped,
            (F.col("ps_partkey") == F.col("l_partkey"))
            & (F.col("ps_suppkey") == F.col("l_suppkey")),
        )
        .filter(F.col("ps_availqty") > 0.5 * F.col("qty"))
        .select("ps_suppkey")
        .distinct()
    )
    return (
        t["supplier"]
        .join(
            F.broadcast(t["nation"].filter(F.col("n_name") == "NATION_3")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(
            excess, F.col("s_suppkey") == F.col("ps_suppkey"), "left_semi"
        )
        .select("s_suppkey", "s_name")
        .orderBy("s_name")
    )


# ---------------------------------------------------------------------------
# round 6: Gopher line-repetition signals, corpus line dedup, event-transition
# matrix, linear-interpolation gap fill
# ---------------------------------------------------------------------------

@query(
    "q_doc_gopher_quality",
    r"""
    WITH base AS (
        SELECT doc_id, replace(text, ' table ', chr(10)) AS text
        FROM documents
        UNION ALL
        SELECT * FROM (VALUES
            (9000001, '- item one' || chr(10) || '- item two' || chr(10)
                      || 'regular line'),
            (9000002, 'to be continued...' || chr(10) || 'same line'
                      || chr(10) || 'same line')
        ) AS t(doc_id, text)
    ), l AS (
        SELECT doc_id,
               list_filter(list_transform(string_split(text, chr(10)),
                                          s -> trim(s)), s -> s <> '') AS l
        FROM base
    )
    SELECT doc_id,
        ROUND((len(l) - len(list_distinct(l)))
              / GREATEST(len(l), 1), 6) AS dup_line_frac,
        ROUND(COALESCE(list_sum(list_transform(
                  list_filter(l, x -> len(list_filter(l, y -> y = x)) > 1),
                  x -> length(x))), 0)
              / GREATEST(COALESCE(list_sum(list_transform(
                  l, x -> length(x))), 0), 1), 6) AS dup_line_char_frac,
        ROUND(len(list_filter(l, x -> x LIKE '%...' OR x LIKE '%…'))
              / GREATEST(len(l), 1), 6) AS ellipsis_line_frac,
        ROUND(len(list_filter(l, x -> regexp_matches(x, '^[\-\*•]')))
              / GREATEST(len(l), 1), 6) AS bullet_line_frac
    FROM l ORDER BY doc_id
    """,
)
def q_doc_gopher_quality(spark, sf_dir):
    """Gopher-style line-level repetition/format quality signals
    (operators/text.py gopher_repetition_signals — Rae et al. 2021
    §A1.1): per-document duplicate-line fraction, duplicate-line
    character mass, ellipsis-line and bullet-line fractions. The
    fixture docs are single-line, so the corpus is made multi-line by
    a deterministic delimiter substitution both engines apply
    identically, plus two planted docs exercising the bullet/ellipsis
    paths. All four signals are one split + array algebra — a
    shuffle-free map stage at any scale."""
    from .operators.text import gopher_repetition_signals

    t = tables(spark, sf_dir)
    docs = t["documents"].select(
        "doc_id", F.replace("text", F.lit(" table "), F.lit("\n")).alias("text")
    ).unionByName(
        spark.createDataFrame(
            [
                (9000001, "- item one\n- item two\nregular line"),
                (9000002, "to be continued...\nsame line\nsame line"),
            ],
            "doc_id long, text string",
        )
    )
    sig = gopher_repetition_signals(F.col("text"))
    return docs.select(
        "doc_id", *[c.alias(name) for name, c in sig.items()]
    ).orderBy("doc_id")


@query(
    "q_doc_line_dedup",
    """
    WITH base AS (
        SELECT doc_id, replace(text, ' table ', chr(10)) AS text
        FROM documents WHERE doc_id < 200
    ), lines AS (
        SELECT doc_id, i AS pos, lines[i] AS line
        FROM (
            SELECT doc_id,
                   list_filter(list_transform(string_split(text, chr(10)),
                                              s -> trim(s)),
                               s -> s <> '') AS lines
            FROM base
        ), UNNEST(range(1, len(lines) + 1)) AS u(i)
    ), boiler AS (
        SELECT line FROM (
            SELECT line, COUNT(DISTINCT doc_id) AS n_docs
            FROM lines GROUP BY line
        ) WHERE n_docs >= 2
    ), kept AS (
        SELECT l.* FROM lines l ANTI JOIN boiler b USING (line)
    ), totals AS (
        -- anchored on the ORIGINAL doc set (mirrors dedup_lines):
        -- a doc with no non-empty lines still yields (id, '', 0)
        SELECT b.doc_id, CAST(COALESCE(c.n_total, 0) AS BIGINT) AS n_total
        FROM base b LEFT JOIN (
            SELECT doc_id, COUNT(*) AS n_total FROM lines GROUP BY doc_id
        ) c ON b.doc_id = c.doc_id
    ), rebuilt AS (
        SELECT doc_id,
               array_to_string(list(line ORDER BY pos), chr(10)) AS text,
               CAST(COUNT(*) AS BIGINT) AS n_kept
        FROM kept GROUP BY doc_id
    )
    SELECT t.doc_id,
           COALESCE(r.text, '') AS text,
           t.n_total - COALESCE(r.n_kept, 0) AS n_removed
    FROM totals t LEFT JOIN rebuilt r ON t.doc_id = r.doc_id
    ORDER BY t.doc_id
    """,
)
def q_doc_line_dedup(spark, sf_dir):
    """Corpus-wide line-level boilerplate removal (operators/corpus.py
    dedup_lines — the CCNet/C4 pipeline stage): lines occurring in >= 2
    distinct documents are dropped from every document, and documents
    are reassembled in original line order. Distinct from
    repeated_ngrams (which reports spans): this op REWRITES the corpus.
    The fixture corpus is made multi-line with the same deterministic
    substitution as q_doc_gopher_quality; with a ~40-word vocabulary
    the short inter-'table' segments collide across docs heavily, so
    the op has real work. Scale shape: posexplode -> distinct-doc count
    on the line-hash key -> anti equi-join -> bounded per-doc
    reassembly; no broadcast of the (corpus-sized) boilerplate set."""
    from .operators.corpus import dedup_lines

    t = tables(spark, sf_dir)
    docs = t["documents"].filter(F.col("doc_id") < 200).select(
        "doc_id", F.replace("text", F.lit(" table "), F.lit("\n")).alias("text")
    )
    return dedup_lines(docs, min_docs=2).orderBy("doc_id")


@query(
    "q_events_markov_transitions",
    """
    WITH e AS (
        SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us
        FROM events
    ), nxt AS (
        SELECT event_type AS src,
               LEAD(event_type) OVER (PARTITION BY user_id
                    ORDER BY ts_us, event_id) AS dst
        FROM e
    ), pairs AS (
        SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS n
        FROM nxt WHERE dst IS NOT NULL GROUP BY src, dst
    )
    SELECT src, dst, n,
           ROUND(CAST(n AS DOUBLE)
                 / CAST(SUM(n) OVER (PARTITION BY src) AS DOUBLE), 6) AS p
    FROM pairs ORDER BY src, dst
    """,
)
def q_events_markov_transitions(spark, sf_dir):
    """First-order Markov transition matrix over per-user event
    sequences: P(next event type | event type), the navigation-flow /
    next-action model behind product-analytics sankey views. One LEAD
    window on the SAME user_id exchange discipline as the funnel
    (deterministic (ts, event_id) ordering), then a (src, dst)
    aggregate whose output is event-type-squared-sized — the row
    normalization window runs on that tiny relation, not the event
    log."""
    t = tables(spark, sf_dir)
    e = t["events"].select(
        "user_id",
        "event_id",
        "event_type",
        F.expr("ts div 1000").alias("ts_us"),
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    pairs = (
        e.withColumn("dst", F.lead("event_type").over(w))
        .filter(F.col("dst").isNotNull())
        .groupBy(F.col("event_type").alias("src"), "dst")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wsrc = Window.partitionBy("src")
    return (
        pairs.withColumn(
            "p",
            F.round(
                F.col("n").cast("double")
                / F.sum("n").over(wsrc).cast("double"),
                6,
            ),
        )
        .select("src", "dst", "n", "p")
        .orderBy("src", "dst")
    )


@query(
    "q_events_interpolate",
    f"""
    WITH hourly AS (
        SELECT user_id,
               CAST(epoch_us(date_trunc('hour', ts)) / 1000000 AS BIGINT)
                   AS hour_s,
               {O_SUM('value')} AS sum_value
        FROM events WHERE user_id < 20
        GROUP BY 1, 2
    ), bounds AS (
        SELECT user_id, MIN(hour_s) AS h0, MAX(hour_s) AS h1
        FROM hourly GROUP BY user_id
    ), grid AS (
        SELECT user_id, UNNEST(generate_series(h0, h1, 3600)) AS hour_s
        FROM bounds
    ), joined AS (
        SELECT g.user_id, g.hour_s, h.sum_value
        FROM grid g LEFT JOIN hourly h
          ON g.user_id = h.user_id AND g.hour_s = h.hour_s
    ), ctx AS (
        SELECT user_id, hour_s, sum_value,
            LAST_VALUE(sum_value IGNORE NULLS) OVER (
                PARTITION BY user_id ORDER BY hour_s
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
            LAST_VALUE(CASE WHEN sum_value IS NOT NULL THEN hour_s END
                       IGNORE NULLS) OVER (
                PARTITION BY user_id ORDER BY hour_s
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
            FIRST_VALUE(sum_value IGNORE NULLS) OVER (
                PARTITION BY user_id ORDER BY hour_s
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
            FIRST_VALUE(CASE WHEN sum_value IS NOT NULL THEN hour_s END
                        IGNORE NULLS) OVER (
                PARTITION BY user_id ORDER BY hour_s
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt
        FROM joined
    )
    SELECT user_id, hour_s,
           FLOOR((CASE
               WHEN sum_value IS NOT NULL THEN sum_value
               WHEN pv IS NOT NULL AND nv IS NOT NULL AND nt <> pt
                   THEN pv + (nv - pv) * (CAST(hour_s - pt AS DOUBLE)
                                          / CAST(nt - pt AS DOUBLE))
               WHEN pv IS NOT NULL THEN pv
               ELSE nv END) * 1000000 + 0.5) / 1000000 AS interp_value
    FROM ctx
    ORDER BY user_id, hour_s
    """,
)
def q_events_interpolate(spark, sf_dir):
    """Linear-interpolation gap fill — the TimescaleDB
    ``interpolate()`` companion to q_events_gap_fill's LOCF: missing
    hours get the line between the previous and next observed values
    (boundary gaps degrade to nearest-observation). Same scale story:
    per-user grid explode plus TWO ordered windows (backward LAST and
    forward FIRST with IGNORE NULLS) on one user_id exchange; the
    division is written identically in both engines so the doubles are
    bit-equal before the final rounding. That rounding is the
    FLOOR(x*1e6 + 0.5)/1e6 form, NOT round(): grid-midpoint
    interpolants land EXACTLY on the 1e-6 half boundary, where Spark's
    BigDecimal HALF_UP and DuckDB's double rounding disagree per value
    — the floor form is pure IEEE arithmetic on bit-identical inputs,
    so it cannot diverge."""
    t = tables(spark, sf_dir)
    hourly = (
        t["events"]
        .filter(F.col("user_id") < 20)
        .groupBy(
            "user_id",
            F.expr("(ts div 3600000000000) * 3600").alias("hour_s"),
        )
        .agg(_dsum(F.col("value"), "sum_value"))
    )
    grid = (
        hourly.groupBy("user_id")
        .agg(F.min("hour_s").alias("h0"), F.max("hour_s").alias("h1"))
        .select(
            "user_id",
            F.explode(F.sequence("h0", "h1", F.lit(3600))).alias("hour_s"),
        )
    )
    joined = grid.join(hourly, ["user_id", "hour_s"], "left")
    back = (
        Window.partitionBy("user_id")
        .orderBy("hour_s")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    fwd = (
        Window.partitionBy("user_id")
        .orderBy("hour_s")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    marked_t = F.when(F.col("sum_value").isNotNull(), F.col("hour_s"))
    ctx = joined.select(
        "user_id",
        "hour_s",
        "sum_value",
        F.last("sum_value", ignorenulls=True).over(back).alias("pv"),
        F.last(marked_t, ignorenulls=True).over(back).alias("pt"),
        F.first("sum_value", ignorenulls=True).over(fwd).alias("nv"),
        F.first(marked_t, ignorenulls=True).over(fwd).alias("nt"),
    )
    frac = (F.col("hour_s") - F.col("pt")).cast("double") / (
        F.col("nt") - F.col("pt")
    ).cast("double")
    interp = (
        F.when(F.col("sum_value").isNotNull(), F.col("sum_value"))
        .when(
            F.col("pv").isNotNull()
            & F.col("nv").isNotNull()
            & (F.col("nt") != F.col("pt")),
            F.col("pv") + (F.col("nv") - F.col("pv")) * frac,
        )
        .when(F.col("pv").isNotNull(), F.col("pv"))
        .otherwise(F.col("nv"))
    )
    half_up = F.floor(interp * 1000000 + 0.5) / 1000000
    return ctx.select(
        "user_id", "hour_s", half_up.alias("interp_value")
    ).orderBy("user_id", "hour_s")


@query(
    "q_vams_snapshot_diff",
    oracle_with("asset_versions")
    + """
    , s1 AS (
        SELECT database_id, asset_id, asset_version_id AS v1 FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY database_id, asset_id
                ORDER BY date_created DESC, asset_version_id DESC) AS rn
            FROM asset_versions
            WHERE date_created <= TIMESTAMP '1996-06-30'
        ) WHERE rn = 1
    ), s2 AS (
        SELECT database_id, asset_id, asset_version_id AS v2 FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY database_id, asset_id
                ORDER BY date_created DESC, asset_version_id DESC) AS rn
            FROM asset_versions
            WHERE date_created <= TIMESTAMP '1997-06-30'
        ) WHERE rn = 1
    )
    SELECT database_id, status, CAST(COUNT(*) AS BIGINT) AS n FROM (
        SELECT COALESCE(s1.database_id, s2.database_id) AS database_id,
               CASE WHEN v1 IS NULL THEN 'added'
                    WHEN v2 IS NULL THEN 'removed'
                    WHEN v1 <> v2 THEN 'changed'
                    ELSE 'unchanged' END AS status
        FROM s1 FULL OUTER JOIN s2
          ON s1.database_id = s2.database_id AND s1.asset_id = s2.asset_id
    )
    GROUP BY database_id, status
    ORDER BY database_id, status
    """,
)
def q_vams_snapshot_diff(spark, sf_dir):
    """Catalog churn between two as-of snapshot reads (operators/
    versions.py snapshot_diff): per database, how many assets were
    added / changed version / stayed unchanged between mid-1996 and
    mid-1997 — the audit view a Delta DESCRIBE HISTORY diff answers,
    from explicit SCD version tables. Both as-of picks and the
    full-outer join run on ONE (database_id, asset_id) partitioning;
    the per-database rollup that follows is database-cardinality
    sized."""
    from .operators.versions import snapshot_diff

    t = tables(spark, sf_dir)
    diff = snapshot_diff(t["asset_versions"], "1996-06-30", "1997-06-30")
    return (
        diff.groupBy("database_id", "status")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("database_id", "status")
    )


@query(
    "q_events_winsorize",
    f"""
    WITH b AS (
        SELECT event_type,
               FLOOR(quantile_cont(value, 0.05) * 1000000 + 0.5) / 1000000
                   AS lo,
               FLOOR(quantile_cont(value, 0.95) * 1000000 + 0.5) / 1000000
                   AS hi
        FROM events GROUP BY event_type
    )
    SELECT e.event_type, b.lo, b.hi,
           CAST(COUNT(*) FILTER (WHERE value < lo) AS BIGINT) AS n_below,
           CAST(COUNT(*) FILTER (WHERE value > hi) AS BIGINT) AS n_above,
           {O_SUM('CASE WHEN value < lo THEN lo '
                  'WHEN value > hi THEN hi ELSE value END')} AS winsorized_sum
    FROM events e JOIN b USING (event_type)
    GROUP BY e.event_type, b.lo, b.hi
    ORDER BY e.event_type
    """,
)
def q_events_winsorize(spark, sf_dir):
    """Per-group winsorization — clip each event type's value column at
    its exact p05/p95 (the standard outlier-robust cleaning step before
    training-metric aggregation). Spark's exact `percentile` and
    DuckDB's `quantile_cont` share the linear-interpolation definition;
    the thresholds are grid-rounded with the cross-engine-safe
    FLOOR(x*1e6+0.5)/1e6 form BEFORE the clip comparison so a last-ulp
    interpolation difference cannot flip a boundary row. Two passes
    over events (bounds, then clip), both aggregating on the
    event-type key — the bounds relation is type-cardinality sized and
    broadcast back.

    Scale note: exact `percentile` buffers each group's values in the
    aggregation state, which is unbounded at 100 TB — this registered
    form exists for oracle-exact differential checking; the production
    path swaps `percentile` for `approx_percentile` (the sketch tier's
    bounded-error contract, q_approx_sketch_bounds) with no other plan
    change."""
    t = tables(spark, sf_dir)
    grid = lambda c: F.floor(c * 1000000 + 0.5) / 1000000  # noqa: E731
    bounds = (
        t["events"]
        .groupBy("event_type")
        .agg(
            grid(F.percentile("value", F.lit(0.05))).alias("lo"),
            grid(F.percentile("value", F.lit(0.95))).alias("hi"),
        )
    )
    clipped = (
        F.when(F.col("value") < F.col("lo"), F.col("lo"))
        .when(F.col("value") > F.col("hi"), F.col("hi"))
        .otherwise(F.col("value"))
    )
    return (
        t["events"]
        .join(F.broadcast(bounds), "event_type")
        .groupBy("event_type", "lo", "hi")
        .agg(
            F.count(F.when(F.col("value") < F.col("lo"), 1)).alias("n_below"),
            F.count(F.when(F.col("value") > F.col("hi"), 1)).alias("n_above"),
            _dsum(clipped, "winsorized_sum"),
        )
        .orderBy("event_type")
    )


@query(
    "q_doc_ccnet_buckets",
    f"""
    WITH grams AS (
        SELECT doc_id,
               UNNEST(list_transform(range(1, length(lower(text))),
                                     i -> substring(lower(text), i, 2))) AS bg
        FROM documents
    ), model AS (
        SELECT bg, COUNT(*) AS c FROM grams GROUP BY bg
    ), total AS (
        SELECT CAST(SUM(c) AS DOUBLE) AS n FROM model
    ), logp AS (
        SELECT bg, ROUND(LN(c / n), 6) AS lp FROM model, total
    ), scored AS (
        SELECT g.doc_id,
               FLOOR(({O_SUM('lp')} / COUNT(*)) * 1000 + 0.5) / 1000 AS cell
        FROM grams g JOIN logp USING (bg)
        GROUP BY g.doc_id
    ), cells AS (
        SELECT cell, COUNT(*) AS cnt FROM scored GROUP BY cell
    ), cum AS (
        SELECT cell, SUM(cnt) OVER (ORDER BY cell) AS cum_n FROM cells
    ), nn AS (SELECT COUNT(*) AS n_docs FROM scored
    ), th AS (
        SELECT (SELECT MIN(cell) FROM cum, nn
                WHERE cum_n >= CAST(CEIL(n_docs / 3.0) AS BIGINT)) AS t1,
               (SELECT MIN(cell) FROM cum, nn
                WHERE cum_n >= CAST(CEIL(2 * n_docs / 3.0) AS BIGINT)) AS t2
    ), bucketed AS (
        SELECT doc_id, cell,
               CASE WHEN cell > t2 THEN 'head'
                    WHEN cell > t1 THEN 'middle'
                    ELSE 'tail' END AS bucket,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|'), 1, 8))
                   ::BIGINT AS h
        FROM scored, th
    )
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(*) FILTER (WHERE
               (bucket = 'head')
               OR (bucket = 'middle' AND h < 2147483648)
               OR (bucket = 'tail' AND h < 429496729)) AS BIGINT)
               AS n_sampled
    FROM bucketed
    GROUP BY bucket
    ORDER BY bucket
    """,
)
def q_doc_ccnet_buckets(spark, sf_dir):
    """CCNet-style perplexity-bucketed sampling (Wenzek et al. 2020):
    score every document under the corpus-fit char-bigram LM
    (q_doc_char_lm_score's model), split the corpus into head / middle
    / tail TERCILES by score, and keep 100% / 50% / 10% of each bucket
    with the deterministic content-hash sampler (operators/sampling.py
    — md5-based, so the oracle reproduces the exact kept set).

    The tercile thresholds avoid a global sort: scores are quantized to
    a 1e-3 grid (FLOOR half-up form — cross-engine safe), the
    ~|grid|-sized cell histogram is aggregated (map-combinable), and a
    cumulative window over THAT dictionary — thousands of rows
    regardless of corpus size — yields the cut cells. The corpus-side
    work stays one aggregate + one broadcast-threshold join; nothing
    corpus-sized is ever sorted or windowed."""
    from .operators.sampling import sample_hash

    from .operators.checkpointing import maybe_checkpoint

    t = tables(spark, sf_dir)
    scored = _char_lm_scores(t["documents"]).select(
        "doc_id",
        (
            F.floor((F.col("sum_lp") / F.col("n_bigrams")) * 1000 + 0.5)
            / 1000
        ).alias("cell"),
    )
    scored = maybe_checkpoint(scored, eager=False)
    cells = scored.groupBy("cell").agg(F.count(F.lit(1)).alias("cnt"))
    wcum = Window.orderBy("cell").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # the cumulative window runs over the grid-cell DICTIONARY
    # (|grid| ~ 1e3 rows), never the corpus — the unpartitioned window
    # is deliberate and bounded
    cum = cells.select("cell", F.sum("cnt").over(wcum).alias("cum_n"))
    n_docs = scored.agg(F.count(F.lit(1)).alias("n_docs"))
    th = (
        cum.crossJoin(F.broadcast(n_docs))
        .agg(
            F.min(
                F.when(
                    F.col("cum_n") >= F.ceil(F.col("n_docs") / 3.0),
                    F.col("cell"),
                )
            ).alias("t1"),
            F.min(
                F.when(
                    F.col("cum_n") >= F.ceil(2 * F.col("n_docs") / 3.0),
                    F.col("cell"),
                )
            ).alias("t2"),
        )
    )
    bucket = (
        F.when(F.col("cell") > F.col("t2"), F.lit("head"))
        .when(F.col("cell") > F.col("t1"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    h = sample_hash(F.col("doc_id"))
    kept = (
        (F.col("bucket") == "head")
        | ((F.col("bucket") == "middle") & (h < F.lit(2147483648)))
        | ((F.col("bucket") == "tail") & (h < F.lit(429496729)))
    )
    return (
        scored.crossJoin(F.broadcast(th))
        .withColumn("bucket", bucket)
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count(F.when(kept, 1)).alias("n_sampled"),
        )
        .orderBy("bucket")
    )


@query(
    "q_vams_triangles",
    oracle_with("asset_links")
    + """
    , raw AS (
        SELECT from_database_id || '/' || from_asset_id AS s,
               to_database_id || '/' || to_asset_id AS d
        FROM asset_links
        UNION ALL
        SELECT * FROM (VALUES
            ('tdb/t1', 'tdb/t2'), ('tdb/t2', 'tdb/t3'), ('tdb/t1', 'tdb/t3'),
            ('tdb/t2', 'tdb/t4'), ('tdb/t3', 'tdb/t4')
        ) AS t(s, d)
    ), e AS (
        SELECT DISTINCT LEAST(s, d) AS a, GREATEST(s, d) AS b
        FROM raw WHERE s <> d
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM e e1
    JOIN e e2 ON e1.b = e2.a
    JOIN e e3 ON e1.a = e3.a AND e2.b = e3.b
    """,
)
def q_vams_triangles(spark, sf_dir):
    """Triangle count of the undirected asset-link graph (operators/
    graph.py triangle_count) — the cohesion metric beside
    connected-components and PageRank. The fixture link graph is
    triangle-free by construction (edges funnel into 50 hub assets), so
    two overlapping triangles are PLANTED and the base graph stays in
    the count — the oracle proves both that the planted triangles are
    found and that the real graph contributes exactly zero. Edges are
    degree-oriented (lower-(degree,id) endpoint → higher) and wedges
    enumerated only at out-edges, so each triangle is counted once at
    its minimum corner and a celebrity hub generates ~0 wedges instead
    of deg²; two equi-joins + a closing semi-join, no cartesian."""
    from .operators.graph import triangle_count

    t = tables(spark, sf_dir)
    edges = t["asset_links"].select(
        F.concat_ws("/", "from_database_id", "from_asset_id").alias("src"),
        F.concat_ws("/", "to_database_id", "to_asset_id").alias("dst"),
    ).unionByName(
        spark.createDataFrame(
            [
                ("tdb/t1", "tdb/t2"),
                ("tdb/t2", "tdb/t3"),
                ("tdb/t1", "tdb/t3"),
                ("tdb/t2", "tdb/t4"),
                ("tdb/t3", "tdb/t4"),
            ],
            "src string, dst string",
        )
    )
    return triangle_count(edges)


@query(
    "q_doc_token_pmi",
    f"""
    WITH toks AS (
        SELECT doc_id, i AS pos, t[i] AS tok
        FROM (
            SELECT doc_id,
                   list_filter(string_split_regex(lower(COALESCE(text, '')),
                                                  '[^a-z0-9]+'),
                               s -> s <> '') AS t
            FROM documents
        ), UNNEST(range(1, len(t) + 1)) AS u(i)
    ), pairs AS (
        SELECT a.tok AS tok_a, b.tok AS tok_b,
               CAST(COUNT(*) AS BIGINT) AS c_ab
        FROM toks a JOIN toks b
          ON a.doc_id = b.doc_id
         AND b.pos - a.pos BETWEEN 1 AND 3
        GROUP BY a.tok, b.tok
    ), uni AS (
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY tok
    ), np AS (SELECT CAST(SUM(c_ab) AS DOUBLE) AS n_pairs FROM pairs
    ), nu AS (SELECT CAST(SUM(c) AS DOUBLE) AS n_uni FROM uni)
    SELECT tok_a, tok_b, c_ab,
           ROUND(LN((c_ab / n_pairs)
                    / ((ua.c / n_uni) * (ub.c / n_uni))), 6) AS pmi
    FROM pairs
    JOIN uni ua ON tok_a = ua.tok
    JOIN uni ub ON tok_b = ub.tok
    CROSS JOIN np CROSS JOIN nu
    WHERE c_ab >= 50
    ORDER BY pmi DESC, tok_a, tok_b
    LIMIT 50
    """,
)
def q_doc_token_pmi(spark, sf_dir):
    """PMI collocation mining — the phrase/multi-word-expression
    discovery operator (pointwise mutual information of token pairs
    co-occurring within a 3-token forward window). Corpus shape: the
    positional token relation self-joins on the document key with a
    position-band predicate (co-partitioned by doc_id — the classic
    range-band join, never a cartesian), pair and unigram counts are
    map-combinable aggregates, and the unigram dictionary + scalar
    totals broadcast back onto the pair relation. The ln is grid-
    rounded to 1e-6 (the repo's log-determinism convention) and the
    top-k ordering carries a full (pmi, tok_a, tok_b) tiebreak."""
    from .operators.inverted_index import tokenize

    t = tables(spark, sf_dir)
    toks = t["documents"].select(
        "doc_id",
        F.posexplode(tokenize(F.col("text"))).alias("pos", "tok"),
    )
    # explicit renames on the right side: Spark's self-join column
    # resolution would otherwise bind a.pos and b.pos to the same
    # attribute and the band predicate would be vacuously false
    right = toks.select(
        F.col("doc_id").alias("doc_id_b"),
        F.col("pos").alias("pos_b"),
        F.col("tok").alias("tok_b_raw"),
    )
    pairs = (
        toks.join(
            right,
            (F.col("doc_id") == F.col("doc_id_b"))
            & (F.col("pos_b") - F.col("pos")).between(1, 3),
        )
        .groupBy(
            F.col("tok").alias("tok_a"), F.col("tok_b_raw").alias("tok_b")
        )
        .agg(F.count(F.lit(1)).alias("c_ab"))
    )
    uni = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    np_ = pairs.agg(F.sum("c_ab").cast("double").alias("n_pairs"))
    nu = uni.agg(F.sum("c").cast("double").alias("n_uni"))
    pmi = F.round(
        F.log(
            (F.col("c_ab") / F.col("n_pairs"))
            / ((F.col("ua.c") / F.col("n_uni")) * (F.col("ub.c") / F.col("n_uni")))
        ),
        6,
    )
    return (
        pairs.filter(F.col("c_ab") >= 50)
        .join(
            uni.alias("ua"), F.col("tok_a") == F.col("ua.tok")
        )
        .join(
            uni.alias("ub"), F.col("tok_b") == F.col("ub.tok")
        )
        .crossJoin(F.broadcast(np_))
        .crossJoin(F.broadcast(nu))
        .select("tok_a", "tok_b", "c_ab", pmi.alias("pmi"))
        .orderBy(F.desc("pmi"), "tok_a", "tok_b")
        .limit(50)
    )


@query(
    "q_events_twa",
    f"""
    WITH e AS (
        SELECT user_id, event_id, value, epoch_us(ts) AS ts_us FROM events
    ), seg AS (
        SELECT user_id, value,
               LEAD(ts_us) OVER (PARTITION BY user_id
                    ORDER BY ts_us, event_id) - ts_us AS dt
        FROM e
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_intervals,
           FLOOR(({O_SUM('value * dt')} / {O_SUM('dt')}) * 1000000 + 0.5)
               / 1000000 AS twa_value
    FROM seg WHERE dt IS NOT NULL AND dt > 0
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def q_events_twa(spark, sf_dir):
    """Time-weighted average (the TimescaleDB time_weight/LOCF
    aggregate): each observation's value holds until the next
    observation, so irregular sampling doesn't bias the mean toward
    burst periods. One LEAD window on the single user_id exchange
    (funnel discipline) derives interval durations; the aggregate is
    decimal-exact on both value x dt products and durations, and the
    final ratio rounds with the FLOOR(x*1e6+0.5)/1e6 form (identical
    IEEE ops on identical doubles — the round() tie-break trap cannot
    bite). Zero-length intervals (duplicate timestamps) carry zero
    weight and are dropped explicitly so both engines agree on the
    interval count."""
    t = tables(spark, sf_dir)
    e = t["events"].select(
        "user_id", "event_id", "value", F.expr("ts div 1000").alias("ts_us")
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    seg = e.select(
        "user_id",
        "value",
        (F.lead("ts_us").over(w) - F.col("ts_us")).alias("dt"),
    ).filter(F.col("dt").isNotNull() & (F.col("dt") > 0))
    twa = F.floor(
        (
            F.sum((F.col("value") * F.col("dt")).cast("decimal(38,10)")).cast(
                "double"
            )
            / F.sum(F.col("dt").cast("decimal(38,10)")).cast("double")
        )
        * 1000000
        + 0.5
    ) / 1000000
    return (
        seg.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_intervals"),
            twa.alias("twa_value"),
        )
        .orderBy("user_id")
    )


def _bpe_oracle(n_merges: int = 8) -> str:
    """Unrolled per-step BPE oracle (the pagerank-oracle technique:
    iteration count is fixed, so each step is one CTE chain of
    pair-count -> deterministic argmax -> string-rewrite merge, using
    the same double-space symbol representation and left-to-right
    `replace` semantics as the engine)."""
    parts = [
        """
    WITH toks AS (
        SELECT unnest(list_filter(string_split_regex(lower(COALESCE(text, '')),
                                                     '[^a-z0-9]+'),
                      t -> t <> '')) AS word
        FROM documents
    ), w0 AS (
        SELECT word, CAST(COUNT(*) AS BIGINT) AS freq,
               '  ' || array_to_string(string_split(word, ''), '  ') || '  '
                   AS sym
        FROM toks GROUP BY word
    )"""
    ]
    for i in range(1, n_merges + 1):
        parts.append(f"""
    , p{i} AS (
        SELECT s[j] AS a, s[j + 1] AS b, SUM(freq) AS c
        FROM (SELECT freq,
                     list_filter(string_split(sym, '  '), x -> x <> '') AS s
              FROM w{i - 1}),
             UNNEST(range(1, len(s))) AS u(j)
        GROUP BY s[j], s[j + 1]
    ), t{i} AS (
        SELECT a, b, c FROM p{i} ORDER BY c DESC, a, b LIMIT 1
    ), w{i} AS (
        SELECT word, freq,
               replace(sym, ' ' || a || '  ' || b || ' ',
                       ' ' || a || b || ' ') AS sym
        FROM w{i - 1}, t{i}
    )""")
    selects = " UNION ALL ".join(
        f"SELECT {i} AS step, a AS left_sym, b AS right_sym, "
        f"a || b AS merged, CAST(c AS BIGINT) AS pair_count FROM t{i}"
        for i in range(1, n_merges + 1)
    )
    return "".join(parts) + f"\n    SELECT * FROM ({selects}) ORDER BY step"


def _bpe_oracle_ctes(n_merges: int = 8) -> str:
    """Just the CTE chain of :func:`_bpe_oracle` (w0..wN, t1..tN), for
    oracles that APPLY the learned merges rather than report them."""
    full = _bpe_oracle(n_merges)
    return full[: full.rindex("\n    SELECT * FROM")]


@query("q_doc_bpe_merges", _bpe_oracle(8))
def q_doc_bpe_merges(spark, sf_dir):
    """BPE vocabulary induction over the corpus (operators/text.py
    bpe_learn — Sennrich et al. 2016): the first 8 merge steps of a
    tokenizer trained on the documents table, verified step-for-step
    against an unrolled SQL oracle. The corpus appears only in the
    initial word-frequency aggregate; every iteration then runs on the
    vocabulary-bounded word table (map-combinable weighted pair count,
    1-row broadcast argmax, left-to-right string-rewrite merge with
    identical `replace` semantics in both engines), with a lineage cut
    per step. The merge table is the artifact a tokenizer trainer
    ships; tokenization itself is then the greedy application of this
    table."""
    from .operators.inverted_index import tokenize
    from .operators.text import bpe_learn

    t = tables(spark, sf_dir)
    words = (
        t["documents"]
        .select(F.explode(tokenize(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    return (
        bpe_learn(words, n_merges=8)
        .select(
            "step",
            F.col("left").alias("left_sym"),
            F.col("right").alias("right_sym"),
            "merged",
            "pair_count",
        )
        .orderBy("step")
    )


@query(
    "q_vams_geo_search",
    oracle_with("assets")
    + """
    , pts AS (
        SELECT database_id, asset_id,
               (CAST(CAST(substr(asset_id, 7) AS BIGINT) * 7 % 1600 AS DOUBLE)
                    / 10.0) - 80.0 AS lat,
               (CAST(CAST(substr(asset_id, 7) AS BIGINT) * 13 % 3600 AS DOUBLE)
                    / 10.0) - 180.0 AS lon
        FROM assets WHERE NOT is_archived
    ), d AS (
        SELECT database_id, asset_id, lat, lon,
               FLOOR((2 * 6371.0 * asin(sqrt(
                   pow(sin(radians(lat - 45.0) / 2), 2)
                   + cos(radians(45.0)) * cos(radians(lat))
                     * pow(sin(radians(lon - (-122.5)) / 2), 2)
               ))) * 1000 + 0.5) / 1000 AS dist_km
        FROM pts
    )
    SELECT database_id, asset_id, dist_km
    FROM d WHERE dist_km < 2000.0005
    ORDER BY dist_km, database_id, asset_id
    LIMIT 100
    """,
)
def q_vams_geo_search(spark, sf_dir):
    """Geo-distance search — the OpenSearch geo_distance filter over
    the reference's ``gp_`` geo_point fields (models/indexing.py:58-106
    maps lat+lon metadata dicts to geo_point; the search surface
    filters by radius). Assets get deterministic synthetic coordinates
    (integer-hash formulas both engines compute bit-identically — the
    fixture metadata carries no geo values), distance is the pure
    Column haversine (functions/geo.py — codegen trigonometry, no
    UDF), grid-rounded to 1 m with the floor half-up form BEFORE the
    radius comparison, and the radius sits off-grid so the predicate
    can never tie. Scan-side predicate + top-k with full tiebreak; at
    scale the pre-filter is a bounding-box comparison that prunes on
    min/max column stats before any trigonometry runs."""
    from .functions.geo import haversine_km

    t = tables(spark, sf_dir)
    key_num = F.substring("asset_id", 7, 100).cast("bigint")
    pts = (
        t["assets"]
        .filter(~F.col("is_archived"))
        .select(
            "database_id",
            "asset_id",
            ((key_num * 7 % 1600).cast("double") / 10.0 - 80.0).alias("lat"),
            ((key_num * 13 % 3600).cast("double") / 10.0 - 180.0).alias("lon"),
        )
    )
    # argument order matters for bit-parity: (center, point) makes the
    # engine's dlat/dlon literally radians(lat - 45) / radians(lon -
    # (-122.5)), the same expression tree as the oracle (sin is odd-
    # symmetric mathematically, but libm implementations need not be
    # bit-symmetric under negation)
    dist = haversine_km(
        F.lit(45.0), F.lit(-122.5), F.col("lat"), F.col("lon")
    )
    rounded = F.floor(dist * 1000 + 0.5) / 1000
    return (
        pts.withColumn("dist_km", rounded)
        .filter(F.col("dist_km") < 2000.0005)
        .select("database_id", "asset_id", "dist_km")
        .orderBy("dist_km", "database_id", "asset_id")
        .limit(100)
    )


def _bpe_encode_oracle(n_merges: int = 8) -> str:
    """Oracle for applying the learned BPE merges: re-derives the merge
    table (the shared CTE chain), then encodes the word DICTIONARY by
    chaining the same left-to-right replaces and joins the per-word
    subword counts back onto per-document word counts."""
    sym = "('  ' || array_to_string(string_split(word, ''), '  ') || '  ')"
    for i in range(1, n_merges + 1):
        sym = (
            f"replace({sym}, ' ' || t{i}.a || '  ' || t{i}.b || ' ', "
            f"' ' || t{i}.a || t{i}.b || ' ')"
        )
    crosses = " ".join(f"CROSS JOIN t{i}" for i in range(1, n_merges + 1))
    return _bpe_oracle_ctes(n_merges) + f"""
    , toks2 AS (
        SELECT doc_id,
               unnest(list_filter(string_split_regex(lower(COALESCE(text, '')),
                                                     '[^a-z0-9]+'),
                      t -> t <> '')) AS word
        FROM documents
    ), docwords AS (
        SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS n FROM toks2
        GROUP BY doc_id, word
    ), dict AS (
        SELECT DISTINCT word FROM docwords
    ), encoded AS (
        SELECT word,
               CAST(len(list_filter(string_split({sym}, '  '),
                        x -> x <> '')) AS BIGINT) AS n_sub
        FROM dict {crosses}
    )
    SELECT d.doc_id,
           CAST(SUM(d.n) AS BIGINT) AS n_words,
           CAST(SUM(d.n * e.n_sub) AS BIGINT) AS n_subwords
    FROM docwords d JOIN encoded e USING (word)
    GROUP BY d.doc_id
    ORDER BY d.doc_id
    """


@query("q_doc_bpe_encode", _bpe_encode_oracle(8))
def q_doc_bpe_encode(spark, sf_dir):
    """Apply the learned BPE merge table (train -> apply parity with
    q_doc_bpe_merges): per document, word count and post-merge subword
    count — the tokenizer-budget numbers a packing/pricing pipeline
    needs. The 8-row merge table pivots into ONE broadcast row (no
    collect — the model stays in-plan), encoding runs on the word
    DICTIONARY (vocabulary-bounded, never the corpus), and per-doc
    totals come from one (doc, word) aggregate joined against the
    encoded dictionary. The oracle re-derives the merges with the
    shared CTE chain and chains the identical replaces."""
    from .operators.inverted_index import tokenize
    from .operators.text import bpe_learn

    t = tables(spark, sf_dir)
    docs = t["documents"]
    toks = docs.select(
        "doc_id", F.explode(tokenize(F.col("text"))).alias("word")
    )
    docwords = toks.groupBy("doc_id", "word").agg(
        F.count(F.lit(1)).alias("n")
    )
    words = toks.groupBy("word").agg(F.count(F.lit(1)).alias("freq"))
    merges = bpe_learn(words, n_merges=8)
    piv = merges.groupBy().agg(
        *[
            F.max(F.when(F.col("step") == i, F.col(c))).alias(f"{c}{i}")
            for i in range(1, 9)
            for c in ("left", "right")
        ]
    )
    enc = docwords.select("word").distinct().crossJoin(F.broadcast(piv))
    sym = F.concat(
        F.lit("  "), F.array_join(F.split("word", ""), "  "), F.lit("  ")
    )
    for i in range(1, 9):
        sym = F.replace(
            sym,
            F.concat(
                F.lit(" "),
                F.col(f"left{i}"),
                F.lit("  "),
                F.col(f"right{i}"),
                F.lit(" "),
            ),
            F.concat(
                F.lit(" "), F.col(f"left{i}"), F.col(f"right{i}"), F.lit(" ")
            ),
        )
    encoded = enc.select(
        "word",
        F.size(F.filter(F.split(sym, "  "), lambda x: x != ""))
        .cast("bigint")
        .alias("n_sub"),
    )
    return (
        docwords.join(encoded, "word")
        .groupBy("doc_id")
        .agg(
            F.sum("n").alias("n_words"),
            F.sum(F.col("n") * F.col("n_sub")).alias("n_subwords"),
        )
        .orderBy("doc_id")
    )


@query(
    "q_corpus_build_v2",
    f"""
    WITH base AS (
        SELECT doc_id, replace(text, ' table ', chr(10)) AS text
        FROM documents
    ), tok0 AS (
        SELECT doc_id, text,
               list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                           t -> t <> '') AS toks
        FROM base
    ), feats AS (
        SELECT doc_id, text, toks,
            {_o_lang_count(("der", "die", "und"))} AS c_de,
            {_o_lang_count(("the", "and", "of"))} AS c_en,
            {_o_lang_count(("el", "los", "que"))} AS c_es,
            {_o_lang_count(("le", "la", "et"))} AS c_fr,
            ROUND(
                0.25 * (CASE WHEN length(text) >= 50 AND length(text) <= 100000
                             THEN 1.0 ELSE 0.0 END)
              + 0.25 * (length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                        / GREATEST(length(text), 1))
              + 0.25 * LEAST((len(list_filter(toks,
                              t -> lower(t) IN ({_O_STOPS})))
                              / GREATEST(len(toks), 1)) * 4.0, 1.0)
              + 0.25 * (CASE WHEN length(text) / GREATEST(len(toks), 1) >= 3
                              AND length(text) / GREATEST(len(toks), 1) <= 12
                             THEN 1.0 ELSE 0.0 END), 4) AS quality,
            list_filter(list_transform(string_split(text, chr(10)),
                                        s -> trim(s)), s -> s <> '') AS lns
        FROM tok0
    ), gated AS (
        SELECT doc_id, text,
               CASE WHEN GREATEST(c_de, c_en, c_es, c_fr) = 0 THEN 'und'
                    WHEN c_de = GREATEST(c_de, c_en, c_es, c_fr) THEN 'de'
                    WHEN c_en = GREATEST(c_de, c_en, c_es, c_fr) THEN 'en'
                    WHEN c_es = GREATEST(c_de, c_en, c_es, c_fr) THEN 'es'
                    ELSE 'fr' END AS lang_pred,
               quality,
               ROUND((len(lns) - len(list_distinct(lns)))
                     / GREATEST(len(lns), 1), 6) AS dup_line_frac
        FROM feats
    ), filtered AS (
        SELECT doc_id, text FROM gated
        WHERE lang_pred = 'en' AND quality >= 0.5 AND dup_line_frac <= 0.5
    ), lines AS (
        SELECT doc_id, i AS pos, lines[i] AS line
        FROM (
            SELECT doc_id,
                   list_filter(list_transform(string_split(text, chr(10)),
                                              s -> trim(s)),
                               s -> s <> '') AS lines
            FROM filtered
        ), UNNEST(range(1, len(lines) + 1)) AS u(i)
    ), boiler AS (
        SELECT line FROM (
            SELECT line, COUNT(DISTINCT doc_id) AS n_docs
            FROM lines GROUP BY line
        ) WHERE n_docs >= 2
    ), kept AS (
        SELECT l.* FROM lines l ANTI JOIN boiler b USING (line)
    ), rebuilt AS (
        SELECT doc_id,
               array_to_string(list(line ORDER BY pos), chr(10)) AS text
        FROM kept GROUP BY doc_id
    ), deduped AS (
        SELECT doc_id, text FROM (
            SELECT doc_id, text, ROW_NUMBER() OVER (
                PARTITION BY {_O_FP} ORDER BY doc_id) AS rn
            FROM rebuilt WHERE text <> ''
        ) WHERE rn = 1
    ), dtoks AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                           t -> t <> '') AS toks
        FROM deduped
    ), grams AS (
        SELECT doc_id, unnest(
            CASE WHEN len(toks) >= 8 THEN list_distinct(list_transform(
                range(0, len(toks) - 8 + 1),
                i -> array_to_string(list_slice(toks, i + 1, i + 8), ' ')
            )) ELSE [] END) AS ngram
        FROM dtoks
    ), bench AS (
        SELECT DISTINCT ngram FROM grams WHERE doc_id % 11 = 0
    ), contaminated AS (
        SELECT g.doc_id FROM grams g JOIN bench b USING (ngram)
        WHERE g.doc_id % 11 <> 0
        GROUP BY g.doc_id HAVING COUNT(*) >= 3
    ), clean AS (
        SELECT d.doc_id, CAST(len(d.toks) AS BIGINT) AS n_tokens
        FROM dtoks d
        WHERE d.doc_id % 11 <> 0
          AND d.doc_id NOT IN (SELECT doc_id FROM contaminated)
    ), packed AS (
        SELECT doc_id, n_tokens, doc_id % 8 AS bucket,
               SUM(n_tokens) OVER (PARTITION BY doc_id % 8 ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM clean
    )
    SELECT doc_id, bucket, n_tokens,
           CAST((cum - n_tokens) // 512 AS BIGINT) AS seq_id,
           CAST((cum - n_tokens) % 512 AS BIGINT) AS offset
    FROM packed ORDER BY doc_id
    """,
)
def q_corpus_build_v2(spark, sf_dir):
    """The round-6 END-TO-END corpus build: v1's composition extended
    with the line-level tier — lang filter -> quality filter -> Gopher
    duplicate-line gate -> corpus-wide boilerplate-line REWRITE
    (dedup_lines; token budgets downstream see the cleaned text) ->
    exact-dedup representative drop -> benchmark decontamination ->
    sequence packing. Every stage is the operator its standalone query
    oracle-checks; stage order keeps each filter BEFORE the next
    shuffle, the line-dedup anti-join runs on the line-hash key, and
    the only window shuffles are the dedup pick and the per-bucket
    packing — the same every-stage-shrinks property that makes v1
    viable at 100 TB, now with the rewrite stage in the middle."""
    from .operators.checkpointing import maybe_checkpoint
    from .operators.corpus import contamination, dedup_lines, pack_sequences
    from .operators.dedup import drop_exact_duplicates
    from .operators.partitioning import ensure_min_parallelism
    from .operators.text import gopher_repetition_signals

    t = tables(spark, sf_dir)
    docs = t["documents"].select(
        "doc_id", F.replace("text", F.lit(" table "), F.lit("\n")).alias("text")
    )
    sig = gopher_repetition_signals(F.col("text"))
    # fused single-expression lang+quality gate AND'd with the Gopher
    # line gate: one let-bound split per row at the filter instead of
    # the pushed column-form condition re-inlining it 5x/row (r14
    # probe7: 0.84x on the build stack at 10x scale)
    staged = (
        ensure_min_parallelism(docs)
        .filter(
            lang_quality_gate(F.col("text"))
            & (sig["dup_line_frac"] <= 0.5)
        )
        .select("doc_id", "text")
    )
    # checkpoint the staging point: dedup_lines fans out to two
    # consumers, and staged carries the (HOF-heavy) filter stack —
    # materialize it once instead of evaluating it per branch
    rewritten = (
        dedup_lines(maybe_checkpoint(staged), min_docs=2)
        .filter(F.col("text") != "")
        .select("doc_id", "text")
    )
    deduped = maybe_checkpoint(
        ensure_min_parallelism(drop_exact_duplicates(rewritten))
    )
    bench = deduped.filter(F.col("doc_id") % 11 == 0)
    train = deduped.filter(F.col("doc_id") % 11 != 0)
    dirty = contamination(train, bench, n=8, min_overlap=3).select("doc_id")
    clean = train.join(dirty, "doc_id", "left_anti")
    return (
        pack_sequences(
            clean,
            seq_len=512,
            n_buckets=8,
            bucket_col=F.pmod(F.col("doc_id"), F.lit(8)),
        )
        .select("doc_id", "bucket", "n_tokens", "seq_id", "offset")
        .orderBy("doc_id")
    )


@query(
    "q_vams_significant_terms",
    oracle_with("assets")
    + """
    , live AS (
        SELECT asset_type, asset_name FROM assets WHERE NOT is_archived
    ), bg AS (
        SELECT unnest(list_filter(string_split_regex(lower(asset_name),
                                                     '[^a-z0-9]+'),
                      t -> t <> '')) AS term
        FROM live
    ), fg AS (
        SELECT unnest(list_filter(string_split_regex(lower(asset_name),
                                                     '[^a-z0-9]+'),
                      t -> t <> '')) AS term
        FROM live WHERE asset_type = 'glb'
    ), bgc AS (
        SELECT term, CAST(COUNT(*) AS BIGINT) AS bg_count FROM bg
        GROUP BY term
    ), fgc AS (
        SELECT term, CAST(COUNT(*) AS BIGINT) AS fg_count FROM fg
        GROUP BY term
    ), totals AS (
        SELECT (SELECT CAST(SUM(bg_count) AS DOUBLE) FROM bgc) AS n_bg,
               (SELECT CAST(SUM(fg_count) AS DOUBLE) FROM fgc) AS n_fg
    )
    SELECT term, fg_count, bg_count,
           FLOOR(((fg_count / n_fg - bg_count / n_bg)
                  * ((fg_count / n_fg) / (bg_count / n_bg)))
                 * 1000000 + 0.5) / 1000000 AS jlh
    FROM fgc JOIN bgc USING (term) CROSS JOIN totals
    WHERE fg_count >= 3
    ORDER BY jlh DESC, term
    LIMIT 20
    """,
)
def q_vams_significant_terms(spark, sf_dir):
    """Significant-terms aggregation — OpenSearch's significant_terms
    bucket agg (the "what is unusual about this result set" feature of
    the reference's search tier): terms overrepresented in a foreground
    slice (glb-type assets) relative to the whole live corpus, scored
    with JLH = (fg% - bg%) x (fg% / bg%). Two map-combinable term
    counts (the foreground one over the already-filtered slice), a
    dictionary-sized equi-join, 1-row totals broadcast, floor-form
    rounding, full-tiebreak top-k. At 100 TB the background counts are
    maintained state (the same CDC story as the suggest index); the
    per-query work is the foreground slice only."""
    from .operators.inverted_index import tokenize

    t = tables(spark, sf_dir)
    live = t["assets"].filter(~F.col("is_archived")).select(
        "asset_type", "asset_name"
    )
    explode_terms = lambda df: df.select(  # noqa: E731
        F.explode(tokenize(F.col("asset_name"))).alias("term")
    )
    bgc = explode_terms(live).groupBy("term").agg(
        F.count(F.lit(1)).alias("bg_count")
    )
    fgc = (
        explode_terms(live.filter(F.col("asset_type") == "glb"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("fg_count"))
    )
    n_bg = bgc.agg(F.sum("bg_count").cast("double").alias("n_bg"))
    n_fg = fgc.agg(F.sum("fg_count").cast("double").alias("n_fg"))
    fg_pct = F.col("fg_count") / F.col("n_fg")
    bg_pct = F.col("bg_count") / F.col("n_bg")
    jlh = F.floor(
        ((fg_pct - bg_pct) * (fg_pct / bg_pct)) * 1000000 + 0.5
    ) / 1000000
    return (
        fgc.join(bgc, "term")
        .crossJoin(F.broadcast(n_bg))
        .crossJoin(F.broadcast(n_fg))
        .filter(F.col("fg_count") >= 3)
        .select("term", "fg_count", "bg_count", jlh.alias("jlh"))
        .orderBy(F.desc("jlh"), "term")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# round 6 (cont.): search-surface parity — more-like-this and percolator
# ---------------------------------------------------------------------------

@query(
    "q_doc_more_like_this",
    r"""
    WITH toks AS (
        SELECT doc_id,
               unnest(list_filter(string_split_regex(lower(COALESCE(text, '')),
                                                     '[^a-z0-9]+'),
                                  t -> t <> '')) AS term
        FROM documents
    ), tf AS (
        SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term
    ), df AS (
        SELECT term, COUNT(*) AS df FROM tf GROUP BY term
    ), n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents),
    idf AS (
        SELECT term, ROUND(LN(n.n_docs / df.df), 6) AS idf FROM df, n
    ), seed AS (
        SELECT term, idf FROM (
            SELECT tf.term, idf.idf,
                   ROW_NUMBER() OVER (
                       ORDER BY FLOOR(tf.tf * idf.idf * 1000000 + 0.5)
                                    / 1000000 DESC,
                                tf.term) AS rn
            FROM tf JOIN idf USING (term)
            WHERE tf.doc_id = 0
        ) WHERE rn <= 10
    )
    SELECT tf.doc_id,
           CAST(COUNT(*) AS INT) AS matched_terms,
           CAST(SUM(CAST(seed.idf AS DECIMAL(38,10))) AS DOUBLE) AS mlt_score
    FROM tf JOIN seed USING (term)
    WHERE tf.doc_id <> 0
    GROUP BY tf.doc_id
    HAVING COUNT(*) >= 2
    ORDER BY mlt_score DESC, doc_id
    LIMIT 20
    """,
)
def q_doc_more_like_this(spark, sf_dir):
    """More-like-this similarity search — OpenSearch's ``more_like_this``
    query (the reference's search tier exposes OpenSearch query DSL;
    MLT is the "find assets like this one" feature): extract the seed
    document's top-10 TF-IDF terms, then score every other document by
    the summed idf of the seed terms it shares (>= 2 matched terms, the
    MLT ``min_term_freq``/``min_doc_freq`` analog). Plan: one tokenize
    explode feeds both the per-doc term frequencies and the document
    frequencies; the idf dictionary is vocabulary-bounded and broadcast;
    the seed's term ranking is a window over ONE document's terms; the
    scoring join probes the corpus term pairs with a 10-row broadcast.
    idf is grid-rounded BEFORE the decimal-accumulated sum, so the score
    is order-independent and engine-exact. At 100 TB nothing but the
    (doc, term) aggregate leaves its natural key — the same maintained
    tf/df state the BM25 tier (operators/inverted_index.py) keeps."""
    from .operators.inverted_index import more_like_this

    t = tables(spark, sf_dir)
    return more_like_this(
        t["documents"],
        "doc_id",
        F.col("text"),
        F.col("doc_id") == 0,
        top_terms=10,
        min_match=2,
        k=20,
    )


_PERCOLATE_QUERIES: list[tuple[str, str, str, str]] = [
    # (query_id, term_a, term_b, mode) — the stored-query registry the
    # percolator matches documents against. Deterministic fixture
    # content; both engines embed the identical literal table.
    ("pq_01", "red", "widget", "and"),
    ("pq_02", "blue", "gear", "and"),
    ("pq_03", "hot", "cold", "or"),
    ("pq_04", "small", "plate", "and"),
    ("pq_05", "large", "bolt", "and"),
    ("pq_06", "anvil", "gizmo", "or"),
    ("pq_07", "red", "blue", "or"),
    ("pq_08", "old", "rod", "and"),
    ("pq_09", "ring", "gear", "or"),
    ("pq_10", "hot", "widget", "and"),
]


def _percolate_values_sql() -> str:
    rows = ", ".join(
        f"('{q}', '{a}', '{b}', '{m}')" for q, a, b, m in _PERCOLATE_QUERIES
    )
    return (
        f"SELECT * FROM (VALUES {rows}) "
        "AS pq(query_id, term_a, term_b, mode)"
    )


@query(
    "q_vams_percolate",
    oracle_with("assets")
    + f"""
    , pq AS ({_percolate_values_sql()})
    , qterms AS (
        SELECT query_id, mode, term_a AS term FROM pq
        UNION ALL
        SELECT query_id, mode, term_b AS term FROM pq
    ), doc_terms AS (
        SELECT database_id, asset_id,
               unnest(list_distinct(list_filter(
                   string_split_regex(
                       lower(concat_ws(' ', asset_name, description)),
                       '[^a-z0-9]+'),
                   t -> t <> ''))) AS term
        FROM assets WHERE NOT is_archived
    ), hits AS (
        SELECT d.database_id, d.asset_id, q.query_id, q.mode,
               COUNT(*) AS matched
        FROM doc_terms d JOIN qterms q USING (term)
        GROUP BY d.database_id, d.asset_id, q.query_id, q.mode
    ), matched_q AS (
        SELECT database_id, asset_id, query_id
        FROM hits
        WHERE (mode = 'and' AND matched = 2) OR (mode = 'or' AND matched >= 1)
    )
    SELECT database_id, asset_id,
           CAST(COUNT(*) AS INT) AS n_queries,
           string_agg(query_id, ',' ORDER BY query_id) AS matched_queries
    FROM matched_q
    GROUP BY database_id, asset_id
    ORDER BY n_queries DESC, database_id, asset_id
    LIMIT 200
    """,
)
def q_vams_percolate(spark, sf_dir):
    """Percolator — OpenSearch's reverse search (``percolate`` query):
    a registry of STORED queries is matched against incoming documents,
    answering "which saved searches / alert subscriptions does this
    asset satisfy" (the reference's subscription + notification surface
    — handlers/assets checks subscriptions per-asset on change). Each
    stored query here is a two-term predicate with and/or semantics.

    Plan: stored queries explode to (query_id, term) rows — a registry-
    sized relation that BROADCASTS; documents tokenize once into
    distinct (doc, term) pairs; one equi-join + count per (doc, query)
    decides satisfaction (AND = all terms matched, OR = any), then a
    per-doc sorted aggregation serializes the matching query ids. At
    100 TB the stream side is the document corpus scan — there is no
    per-(doc x query) work for non-matching terms, the classic inverted
    percolation shape. Output is scalar-only (comma-joined ids)."""
    from .operators.inverted_index import percolate

    t = tables(spark, sf_dir)
    pq = spark.createDataFrame(
        _PERCOLATE_QUERIES, ["query_id", "term_a", "term_b", "mode"]
    )
    return (
        percolate(
            t["assets"].filter(~F.col("is_archived")),
            pq,
            ["database_id", "asset_id"],
            F.concat_ws(" ", F.col("asset_name"), F.col("description")),
        )
        .orderBy(F.desc("n_queries"), "database_id", "asset_id")
        .limit(200)
    )


# ---------------------------------------------------------------------------
# round 6 (cont.): date-histogram pipeline aggregations and trending
# ---------------------------------------------------------------------------

@query(
    "q_events_pipeline_aggs",
    """
    WITH daily AS (
        SELECT event_type,
               (epoch_us(ts) // 86400000000) * 86400 AS day_s,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events
        GROUP BY event_type, day_s
    )
    SELECT event_type, day_s, n_events,
           CAST(n_events - LAG(n_events) OVER w AS BIGINT) AS derivative,
           CAST(SUM(n_events) OVER (w ROWS BETWEEN 6 PRECEDING
                                    AND CURRENT ROW) AS DOUBLE)
               / CAST(COUNT(*) OVER (w ROWS BETWEEN 6 PRECEDING
                                     AND CURRENT ROW) AS DOUBLE)
               AS moving_avg_7d,
           CAST(SUM(n_events) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS BIGINT)
               AS cumulative
    FROM daily
    WINDOW w AS (PARTITION BY event_type ORDER BY day_s)
    ORDER BY event_type, day_s
    """,
)
def q_events_pipeline_aggs(spark, sf_dir):
    """Date-histogram pipeline aggregations — OpenSearch's
    ``derivative`` / ``moving_avg`` / ``cumulative_sum`` pipeline aggs
    stacked on a daily histogram (the dashboard time-series surface of
    the reference's search tier). One map-combinable daily aggregate,
    then all three pipeline functions share a single per-type window
    (one exchange on event_type — type-cardinality partitions, each a
    bounded day series). Day bucketing is pure integer ns math
    (events.ts arrives as bigint epoch-ns). The moving average divides
    two window aggregates of exact integers — identical IEEE division
    on both engines; window SUMs are BIGINT-cast (DuckDB HUGEINT
    convention). At 100 TB the daily pre-aggregate IS the continuous-
    aggregate rollup (q_events_rollup_cascade); the window stage runs
    over days-x-types rows only."""
    t = tables(spark, sf_dir)
    daily = (
        t["events"]
        .groupBy(
            "event_type",
            F.expr("(ts div 86400000000000) * 86400").alias("day_s"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    w = Window.partitionBy("event_type").orderBy("day_s")
    w7 = w.rowsBetween(-6, 0)
    wcum = w.rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        "event_type",
        "day_s",
        "n_events",
        (F.col("n_events") - F.lag("n_events").over(w))
        .cast("bigint")
        .alias("derivative"),
        (
            F.sum("n_events").over(w7).cast("double")
            / F.count(F.lit(1)).over(w7).cast("double")
        ).alias("moving_avg_7d"),
        F.sum("n_events").over(wcum).cast("bigint").alias("cumulative"),
    ).orderBy("event_type", "day_s")


@query(
    "q_events_trending",
    """
    WITH daily AS (
        SELECT event_type,
               (epoch_us(ts) // 86400000000) * 86400 AS day_s,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events
        GROUP BY event_type, day_s
    ), growth AS (
        SELECT event_type, day_s, n_events,
               CAST(LAG(n_events) OVER (PARTITION BY event_type
                                        ORDER BY day_s) AS BIGINT) AS prev_n
        FROM daily
    ), scored AS (
        SELECT event_type, day_s, n_events, prev_n,
               FLOOR((CAST(n_events - prev_n AS DOUBLE) / prev_n)
                     * 1000000 + 0.5) / 1000000 AS growth
        FROM growth WHERE prev_n >= 5
    )
    SELECT day_s, event_type, n_events, prev_n, growth, rnk FROM (
        SELECT day_s, event_type, n_events, prev_n, growth,
               CAST(ROW_NUMBER() OVER (PARTITION BY day_s
                    ORDER BY growth DESC, event_type) AS INT) AS rnk
        FROM scored
    ) WHERE rnk <= 3
    ORDER BY day_s, rnk
    """,
)
def q_events_trending(spark, sf_dir):
    """Trending detection — per day, the top-3 event types by relative
    growth over their own previous day (the "trending topics" shape:
    rate-of-change ranking over a date histogram, OpenSearch dashboards'
    trend widgets / serial differencing). Two windows on two SMALL
    pre-aggregated keys: the LAG runs per event_type, the rank per day
    — both over days-x-types rows, never the raw event log; a minimum
    prior-volume floor (prev >= 5) keeps small-denominator noise out,
    and growth is floor-form grid-rounded before ranking so rank edges
    cannot tie-break differently across engines."""
    t = tables(spark, sf_dir)
    daily = (
        t["events"]
        .groupBy(
            "event_type",
            F.expr("(ts div 86400000000000) * 86400").alias("day_s"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    wt = Window.partitionBy("event_type").orderBy("day_s")
    growth_df = daily.withColumn(
        "prev_n", F.lag("n_events").over(wt).cast("bigint")
    ).filter(F.col("prev_n") >= 5)
    scored = growth_df.withColumn(
        "growth",
        F.floor(
            ((F.col("n_events") - F.col("prev_n")).cast("double") / F.col("prev_n"))
            * 1000000
            + 0.5
        )
        / 1000000,
    )
    wd = Window.partitionBy("day_s").orderBy(F.desc("growth"), "event_type")
    return (
        scored.withColumn("rnk", F.row_number().over(wd).cast("int"))
        .filter(F.col("rnk") <= 3)
        .select("day_s", "event_type", "n_events", "prev_n", "growth", "rnk")
        .orderBy("day_s", "rnk")
    )


# ---------------------------------------------------------------------------
# round 6 (cont.): stratified sampling, numeric correlation, link
# prediction, geo-grid aggregation
# ---------------------------------------------------------------------------

_STRAT_RATES: list[tuple[str, float]] = [
    ("click", 0.1),
    ("view", 0.05),
    ("purchase", 1.0),
    ("signup", 0.5),
    ("error", 0.25),
]


@query(
    "q_events_stratified_sample",
    f"""
    WITH rates AS (
        SELECT * FROM (VALUES {", ".join(f"('{t}', {r})" for t, r in _STRAT_RATES)})
            AS r(event_type, rate)
    ), sampled AS (
        SELECT e.event_type, e.event_id, e.value
        FROM events e JOIN rates USING (event_type)
        WHERE ('0x' || substr(md5(CAST(e.event_id AS VARCHAR) || '|strat_v1'),
                              1, 8))::UBIGINT
              < CAST(FLOOR(rate * 4294967296) AS UBIGINT)
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_sampled,
           CAST(MIN(event_id) AS BIGINT) AS min_event,
           CAST(MAX(event_id) AS BIGINT) AS max_event,
           {O_SUM('value')} AS sum_value
    FROM sampled GROUP BY event_type ORDER BY event_type
    """,
)
def q_events_stratified_sample(spark, sf_dir):
    """Stratified sampling — per-stratum rates over the event log (the
    class-rebalancing step of a training-data pipeline: downsample the
    dominant classes, keep all of the rare one). Membership is the
    repo's deterministic content-hash rule (operators/sampling.py):
    keep iff h(event_id, salt) < rate x 2^32, with the rate looked up
    from a broadcast per-type table — so the sample is stable across
    runs, repartitions, cluster sizes, and engines, and the oracle
    reproduces the EXACT membership (min/max ids + exact value sum),
    not just proportions. One scan, no shuffle before the final
    per-type rollup; at 100 TB the rate table stays registry-sized."""
    from .operators.sampling import sample_hash

    t = tables(spark, sf_dir)
    rates = spark.createDataFrame(_STRAT_RATES, ["event_type", "rate"])
    sampled = (
        t["events"]
        .join(F.broadcast(rates), "event_type")
        .filter(
            sample_hash(F.col("event_id"), "strat_v1")
            < F.floor(F.col("rate") * 4294967296).cast("bigint")
        )
    )
    return (
        sampled.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.min("event_id").cast("bigint").alias("min_event"),
            F.max("event_id").cast("bigint").alias("max_event"),
            _dsum(F.col("value"), "sum_value"),
        )
        .orderBy("event_type")
    )


_CORR_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def _corr_oracle() -> str:
    moments = ["CAST(COUNT(*) AS DOUBLE) AS n"]
    for c in _CORR_COLS:
        moments.append(f"{O_SUM(c)} AS s_{c}")
        moments.append(f"{O_SUM(f'{c} * {c}')} AS s_{c}_{c}")
    pairs = []
    for i, x in enumerate(_CORR_COLS):
        for y in _CORR_COLS[i + 1:]:
            moments.append(f"{O_SUM(f'{x} * {y}')} AS s_{x}_{y}")
            pairs.append(
                f"SELECT '{x}' AS col_x, '{y}' AS col_y,\n"
                f"  FLOOR(((n * s_{x}_{y} - s_{x} * s_{y})\n"
                f"    / (sqrt(n * s_{x}_{x} - s_{x} * s_{x})\n"
                f"       * sqrt(n * s_{y}_{y} - s_{y} * s_{y})))\n"
                f"    * 1000000 + 0.5) / 1000000 AS pearson_r\n"
                f"FROM m"
            )
    return (
        "WITH m AS (SELECT " + ", ".join(moments) + " FROM lineitem)\n"
        + "\nUNION ALL\n".join(pairs)
        + "\nORDER BY col_x, col_y"
    )


@query("q_numeric_corr", _corr_oracle())
def q_numeric_corr(spark, sf_dir):
    """Pairwise Pearson correlation matrix over the lineitem measures —
    the numeric-profiling companion to q_table_profile (every pair of
    quantity / price / discount / tax). All 14 moment sums (n, Σx, Σx²,
    Σxy) accumulate in ONE map-combined aggregate pass as exact
    DECIMAL(38,10) — order-independent, so the correlation is
    bit-reproducible regardless of partitioning; the 6 pair rows are
    then pure scalar math over a single broadcast-sized moments row
    (identical IEEE expression trees on both engines, floor-form
    rounding). Built-in corr() is NOT used precisely because its
    streaming double accumulation is partition-order-dependent. At
    100 TB this stays one scan + one 1-row reduce: the textbook
    sufficient-statistics shape."""
    from .operators.profiling import correlation_matrix

    t = tables(spark, sf_dir)
    return correlation_matrix(t["lineitem"], _CORR_COLS).orderBy(
        "col_x", "col_y"
    )


@query(
    "q_vams_link_jaccard",
    oracle_with("asset_links")
    + """
    , und AS (
        SELECT DISTINCT from_asset_id AS node, to_asset_id AS nbr
        FROM asset_links
        UNION
        SELECT DISTINCT to_asset_id AS node, from_asset_id AS nbr
        FROM asset_links
    ), deg AS (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS degree FROM und GROUP BY node
    ), common AS (
        SELECT a.node AS node_a, b.node AS node_b,
               CAST(COUNT(*) AS BIGINT) AS n_common
        FROM und a JOIN und b ON a.nbr = b.nbr AND a.node < b.node
        GROUP BY a.node, b.node
    )
    SELECT node_a, node_b, n_common,
           FLOOR((CAST(n_common AS DOUBLE)
                  / (da.degree + db.degree - n_common))
                 * 1000000 + 0.5) / 1000000 AS jaccard
    FROM common
    JOIN deg da ON common.node_a = da.node
    JOIN deg db ON common.node_b = db.node
    ORDER BY jaccard DESC, node_a, node_b
    LIMIT 50
    """,
)
def q_vams_link_jaccard(spark, sf_dir):
    """Neighbor-Jaccard link prediction over the asset graph — "assets
    you might want to link": for every asset pair sharing at least one
    neighbor (undirected view of asset_links), Jaccard similarity of
    their neighbor sets (|common| / |union|). The pair surface is
    generated by the co-neighbor self-join — pairs appear ONLY through
    shared neighbors, never a cross product — with the right side's
    columns explicitly renamed (the self-join ambiguity trap: same-name
    Column references can silently resolve to one attribute and void
    the a<b predicate). Degrees join back on dictionary-sized keys. At
    100 TB the known skew risk is a hub neighbor fanning out n² pairs —
    operators/graph.jaccard_link_prediction carries a max_degree skew
    guard (hubs excluded from pair GENERATION, true degrees kept for
    the denominator); the fixture graph is chain-bounded, so the
    registered query runs unguarded for exact oracle parity."""
    from .operators.graph import jaccard_link_prediction

    t = tables(spark, sf_dir)
    return (
        jaccard_link_prediction(t["asset_links"])
        .orderBy(F.desc("jaccard"), "node_a", "node_b")
        .limit(50)
    )


@query(
    "q_vams_link_jaccard_guarded",
    oracle_with("asset_links")
    + """
    , und AS (
        SELECT DISTINCT from_asset_id AS node, to_asset_id AS nbr
        FROM asset_links
        UNION
        SELECT DISTINCT to_asset_id AS node, from_asset_id AS nbr
        FROM asset_links
    ), deg AS (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS degree FROM und GROUP BY node
    ), gen AS (
        SELECT u.node, u.nbr
        FROM und u JOIN deg d ON u.nbr = d.node
        WHERE d.degree <= 10
    ), common AS (
        SELECT a.node AS node_a, b.node AS node_b,
               CAST(COUNT(*) AS BIGINT) AS n_common
        FROM gen a JOIN gen b ON a.nbr = b.nbr AND a.node < b.node
        GROUP BY a.node, b.node
    )
    SELECT node_a, node_b, n_common,
           FLOOR((CAST(n_common AS DOUBLE)
                  / (da.degree + db.degree - n_common))
                 * 1000000 + 0.5) / 1000000 AS jaccard
    FROM common
    JOIN deg da ON common.node_a = da.node
    JOIN deg db ON common.node_b = db.node
    ORDER BY jaccard DESC, node_a, node_b
    LIMIT 50
    """,
)
def q_vams_link_jaccard_guarded(spark, sf_dir):
    """The max_degree skew-guarded form of q_vams_link_jaccard — the
    configuration a real-data deployment MUST run (VERDICT r8 watch
    item #3): hub neighbors (degree > 10; the fixture's `% 50 + 1`
    targets reach degree 27 at sf0.01) are excluded from pair
    GENERATION, so a super-node cannot fan out deg² pairs, while the
    Jaccard denominator keeps every pair's TRUE degrees. The oracle
    mirrors the exclusion exactly (a degree filter is SQL-expressible),
    pinning the guard's semantics — not just its existence — under the
    driver gate. The unguarded oracle-parity form stays registered
    unchanged."""
    from .operators.graph import jaccard_link_prediction

    t = tables(spark, sf_dir)
    return (
        jaccard_link_prediction(t["asset_links"], max_degree=10)
        .orderBy(F.desc("jaccard"), "node_a", "node_b")
        .limit(50)
    )


@query(
    "q_vams_geo_grid",
    oracle_with("assets")
    + """
    , pts AS (
        SELECT (CAST(CAST(substr(asset_id, 7) AS BIGINT) * 7 % 1600 AS DOUBLE)
                    / 10.0) - 80.0 AS lat,
               (CAST(CAST(substr(asset_id, 7) AS BIGINT) * 13 % 3600 AS DOUBLE)
                    / 10.0) - 180.0 AS lon
        FROM assets WHERE NOT is_archived
    )
    SELECT CAST(FLOOR(lat / 20) AS BIGINT) AS cell_lat,
           CAST(FLOOR(lon / 20) AS BIGINT) AS cell_lon,
           CAST(COUNT(*) AS BIGINT) AS n_points,
           """
    + O_SUM("lat")
    + """ / COUNT(*) AS centroid_lat,
           """
    + O_SUM("lon")
    + """ / COUNT(*) AS centroid_lon
    FROM pts
    GROUP BY cell_lat, cell_lon
    ORDER BY n_points DESC, cell_lat, cell_lon
    LIMIT 50
    """,
)
def q_vams_geo_grid(spark, sf_dir):
    """Geo-grid aggregation — OpenSearch's ``geohash_grid`` /
    ``geotile_grid`` bucket agg over the reference's gp_ geo_point
    surface (map heat tiles): points bucket into fixed 20-degree cells
    by pure integer floor division (the geotile scheme at low zoom —
    same bit-twiddling family as the z-order quantizer, layout.py),
    each cell reporting its point count and exact decimal-accumulated
    centroid. One map-combinable aggregate over the scan; cells are
    bounded (18x9 at this zoom) so the result is always tiny. The same
    synthetic deterministic coordinates as q_vams_geo_search."""
    t = tables(spark, sf_dir)
    key_num = F.substring("asset_id", 7, 100).cast("bigint")
    pts = (
        t["assets"]
        .filter(~F.col("is_archived"))
        .select(
            ((key_num * 7 % 1600).cast("double") / 10.0 - 80.0).alias("lat"),
            ((key_num * 13 % 3600).cast("double") / 10.0 - 180.0).alias("lon"),
        )
    )
    return (
        pts.groupBy(
            F.floor(F.col("lat") / 20).cast("bigint").alias("cell_lat"),
            F.floor(F.col("lon") / 20).cast("bigint").alias("cell_lon"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            _davg(F.col("lat"), "centroid_lat"),
            _davg(F.col("lon"), "centroid_lon"),
        )
        .orderBy(F.desc("n_points"), "cell_lat", "cell_lon")
        .limit(50)
    )


# ---------------------------------------------------------------------------
# round 6 (cont.): SemDeDup and function_score recency decay
# ---------------------------------------------------------------------------

def _semdedup_oracle() -> str:
    """Generated oracle for SemDeDup: the near-dup planted corpus and
    inlined hyperplanes (same construction as _emb_near_dup_oracle),
    closed with the keep/drop decision — dropped iff a lower-id
    bucket-mate is >= the threshold."""
    planes = _hyperplanes(_EMB_DIM, 8, seed=42)

    def plane_lit(i: int) -> str:
        vals = ", ".join(repr(float(v)) for v in planes[i])
        return f"([{vals}]::DOUBLE[])"

    bucket_terms = " + ".join(
        f"(CASE WHEN {_o_dot('embedding', plane_lit(i))} > 0 "
        f"THEN {1 << i} ELSE 0 END)"
        for i in range(8)
    )
    return f"""
    WITH corpus AS (
        SELECT vec_id, embedding::DOUBLE[] AS embedding FROM embeddings
        UNION ALL
        SELECT vec_id + 1000000, list_transform(embedding, x -> x::DOUBLE * 2)
        FROM embeddings
    ), b AS (
        SELECT vec_id, embedding,
               CAST({bucket_terms} AS BIGINT) AS bucket
        FROM corpus
    ), bf AS (
        SELECT * FROM b WHERE bucket IN (
            SELECT bucket FROM b GROUP BY bucket
            HAVING COUNT(*) <= {_EMB_NEAR_DUP_CAP}
        )
    ), dropped AS (
        SELECT DISTINCT r.vec_id
        FROM bf l JOIN bf r ON l.bucket = r.bucket AND l.vec_id < r.vec_id
        WHERE ROUND({_o_cosine('l.embedding', 'r.embedding')}, 6) >= 0.9
    )
    SELECT b.vec_id, b.bucket, (d.vec_id IS NULL) AS is_kept
    FROM b LEFT JOIN dropped d ON b.vec_id = d.vec_id
    ORDER BY b.vec_id
    """


@query("q_embedding_semdedup", _semdedup_oracle())
def q_embedding_semdedup(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023) over the planted near-dup corpus:
    cluster by the deterministic LSH signature, drop every vector whose
    cosine to a lower-id cluster-mate is >= 0.9, keep one representative
    per semantic group. Every planted ×2-scaled copy co-buckets with
    its original (power-of-two scaling preserves the sign pattern
    bit-for-bit) and must be dropped; the oracle reproduces the full
    keep/drop decision vector, not a count. Pair surface is
    bucket-bounded with the max_bucket_size pair-bomb guard; decisions
    for over-cap buckets default to kept (exact-dedup's job). At 100 TB
    the clusters are the partition key and each cluster's pair join is
    local — the SemDeDup paper's per-cluster independence, verbatim."""
    from .operators.similarity import semdedup

    t = tables(spark, sf_dir)
    emb = t["embeddings"].select("vec_id", "embedding")
    scaled = emb.select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform(
            "embedding", lambda x: x.cast("double") * F.lit(2.0)
        ).alias("embedding"),
    )
    corpus = emb.selectExpr(
        "vec_id", "transform(embedding, x -> cast(x as double)) AS embedding"
    ).unionByName(scaled)
    return semdedup(
        corpus, dim=_EMB_DIM, min_cosine=0.9,
        max_bucket_size=_EMB_NEAR_DUP_CAP,
    ).orderBy("vec_id")


@query(
    "q_vams_recency_decay",
    oracle_with("files")
    + """
    , scored AS (
        SELECT database_id, asset_id, file_key,
               date_diff('day', CAST(last_modified AS DATE),
                         DATE '1998-12-01') AS age_days,
               CASE WHEN file_key LIKE '%.glb' THEN 2.0 ELSE 1.0 END
                   AS match_boost
        FROM files
    )
    SELECT database_id, asset_id, file_key, CAST(age_days AS INT) AS age_days,
           FLOOR(match_boost * exp(-CAST(age_days AS DOUBLE) / 365.0)
                 * 1000000 + 0.5) / 1000000 AS score
    FROM scored
    WHERE age_days >= 0
    ORDER BY score DESC, database_id, asset_id, file_key
    LIMIT 100
    """,
)
def q_vams_recency_decay(spark, sf_dir):
    """function_score recency decay — OpenSearch's ``function_score``
    with an exp decay on a date field (the "boost fresh results"
    ranking the reference's search tier gets from OpenSearch): a match
    boost multiplied by exp(-age/365d), ages as exact integer day
    diffs, the product floor-form grid-rounded BEFORE the top-k so
    sub-ulp libm differences cannot reorder ties (the haversine
    precedent: identical expression trees on both engines). Pure
    scan-side projection + TakeOrderedAndProject — no exchange at all
    until the k-row driver merge; at 100 TB the decay is a
    per-partition heap's comparator, never a sort."""
    t = tables(spark, sf_dir)
    age = F.datediff(
        F.lit("1998-12-01").cast("date"), F.col("last_modified").cast("date")
    )
    boost = F.when(F.col("file_key").endswith(".glb"), F.lit(2.0)).otherwise(
        F.lit(1.0)
    )
    return (
        t["files"]
        .select(
            "database_id",
            "asset_id",
            "file_key",
            age.cast("int").alias("age_days"),
            (
                F.floor(
                    boost
                    * F.exp(-age.cast("double") / 365.0)
                    * 1000000
                    + 0.5
                )
                / 1000000
            ).alias("score"),
        )
        .filter(F.col("age_days") >= 0)
        .orderBy(F.desc("score"), "database_id", "asset_id", "file_key")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# round 9: mergeable sketch tier — deterministic KMV + count-min
# (operators/sketches.py; the SQL-reproducible complement of the
#  error-contract HLL tier in q_approx_sketch_bounds)
# ---------------------------------------------------------------------------

_O_KMV_H = (
    "('0x' || substr(md5(CAST({key} AS VARCHAR) || '|kmv'), 1, 8))::BIGINT"
)
#: (k-1)·2³² for k=64 — exact in double on both engines
_O_KMV_EST = "63 * 4294967296.0"


@query(
    "q_kmv_distinct",
    f"""
    WITH h AS (
        SELECT DISTINCT o_orderpriority,
               {_O_KMV_H.format(key='o_custkey')} AS h
        FROM orders
    ),
    tk AS (
        SELECT o_orderpriority, h FROM h
        QUALIFY row_number() OVER (PARTITION BY o_orderpriority ORDER BY h)
                <= 64
    ),
    sk AS (
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS sketch_size,
               MAX(h) AS theta,
               ROUND(CASE WHEN COUNT(*) < 64 THEN CAST(COUNT(*) AS DOUBLE)
                          ELSE {_O_KMV_EST} / MAX(h) END, 4) AS est_keys
        FROM tk GROUP BY o_orderpriority
    ),
    ex AS (
        SELECT o_orderpriority, COUNT(DISTINCT o_custkey) AS exact_keys
        FROM orders GROUP BY o_orderpriority
    )
    SELECT sk.o_orderpriority, ex.exact_keys, sk.sketch_size, sk.theta,
           sk.est_keys,
           CAST(ABS(sk.est_keys - ex.exact_keys) <= 0.4 * ex.exact_keys
                AS BOOLEAN) AS in_bounds
    FROM sk JOIN ex USING (o_orderpriority)
    ORDER BY o_orderpriority
    """,
)
def q_kmv_distinct(spark, sf_dir):
    """KMV distinct-count sketch per order priority (k=64 minimum
    md5-derived hashes of o_custkey; operators/sketches.py). Unlike the
    HLL++ tier (q_approx_sketch_bounds) the sketch is DETERMINISTIC, so
    the estimate itself hash-gates under the differential oracle — the
    exact distinct count rides along only to exhibit the ≈1/√62 error
    contract (in_bounds pins |est−exact| ≤ 0.4·exact ≈ 3σ). Build shape
    at scale: one distinct-pairs shuffle, then WindowGroupLimit top-k —
    no group is ever fully sorted, and the k-array is the ONLY state
    that leaves the executor."""
    from .operators.sketches import kmv_estimate, kmv_sketch, kmv_theta

    t = tables(spark, sf_dir)
    sk = kmv_sketch(t["orders"], "o_custkey", ["o_orderpriority"], k=64)
    ex = t["orders"].groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("exact_keys")
    )
    est = F.round(kmv_estimate(F.col("kmv"), 64), 4)
    return (
        sk.join(ex, "o_orderpriority")
        .select(
            "o_orderpriority",
            "exact_keys",
            F.size("kmv").cast("bigint").alias("sketch_size"),
            kmv_theta(F.col("kmv")).alias("theta"),
            est.alias("est_keys"),
            (
                F.abs(est - F.col("exact_keys")) <= 0.4 * F.col("exact_keys")
            ).alias("in_bounds"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "q_kmv_set_ops",
    f"""
    WITH y AS (
        SELECT DISTINCT EXTRACT(YEAR FROM o_orderdate) AS yr, o_custkey
        FROM orders
        WHERE EXTRACT(YEAR FROM o_orderdate) IN (1995, 1996)
    ),
    h AS (
        SELECT DISTINCT yr, {_O_KMV_H.format(key='o_custkey')} AS h FROM y
    ),
    tk AS (
        SELECT yr, h FROM h
        QUALIFY row_number() OVER (PARTITION BY yr ORDER BY h) <= 64
    ),
    uk AS (SELECT DISTINCT h FROM tk ORDER BY h LIMIT 64),
    st AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS ksz, MAX(h) AS theta,
               CASE WHEN COUNT(*) < 64 THEN CAST(COUNT(*) AS DOUBLE)
                    ELSE {_O_KMV_EST} / MAX(h) END AS est
        FROM uk
    ),
    cm AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS common_minima
        FROM (SELECT h FROM tk WHERE yr = 1995
              INTERSECT
              SELECT h FROM tk WHERE yr = 1996) i, st
        WHERE i.h <= st.theta
    ),
    ex AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS union_exact,
               CAST(COUNT(*) FILTER (WHERE ny = 2) AS BIGINT) AS inter_exact
        FROM (SELECT o_custkey, COUNT(DISTINCT yr) AS ny FROM y GROUP BY 1)
    )
    SELECT ex.union_exact,
           ROUND(st.est, 4) AS union_est,
           ex.inter_exact,
           ROUND((CAST(cm.common_minima AS DOUBLE) / st.ksz) * st.est, 4)
               AS inter_est,
           ROUND(CAST(cm.common_minima AS DOUBLE) / st.ksz, 6) AS jaccard_est,
           st.ksz AS union_sketch_size,
           st.theta,
           cm.common_minima
    FROM st, cm, ex
    """,
)
def q_kmv_set_ops(spark, sf_dir):
    """KMV set-operation estimates WITHOUT rescanning the raw relation:
    per-year (1995/1996) customer sketches of k=64 minimum hashes merge
    by union-then-retake-k; the union's θ then prices the union
    cardinality and the count of shared minima below θ gives the
    Jaccard / intersection estimators (Beyer et al. 2007). Everything
    after the two base aggregations is expression-level array math on
    two 64-element sketches — the exact columns (union_exact,
    inter_exact) ride along as the accuracy exhibit and are the ONLY
    reason orders is scanned twice; a deployment keeps just the
    sketches. All estimator arithmetic is integer-derived IEEE division
    — deterministic cross-engine, hash-gated."""
    from .operators.sketches import (
        kmv_estimate,
        kmv_intersect_count,
        kmv_sketch,
        kmv_theta,
        kmv_union_expr,
    )

    t = tables(spark, sf_dir)
    o = (
        t["orders"]
        .select(F.year("o_orderdate").alias("yr"), "o_custkey")
        .filter(F.col("yr").isin(1995, 1996))
    )
    sk = kmv_sketch(o, "o_custkey", ["yr"], k=64)
    one = sk.groupBy().agg(
        F.coalesce(
            F.first(
                F.when(F.col("yr") == 1995, F.col("kmv")), ignorenulls=True
            ),
            F.array().cast("array<bigint>"),
        ).alias("a"),
        F.coalesce(
            F.first(
                F.when(F.col("yr") == 1996, F.col("kmv")), ignorenulls=True
            ),
            F.array().cast("array<bigint>"),
        ).alias("b"),
    )
    u = one.select(
        "a", "b", kmv_union_expr(F.col("a"), F.col("b"), 64).alias("u")
    ).select(
        F.size("u").cast("bigint").alias("union_sketch_size"),
        kmv_theta(F.col("u")).alias("theta"),
        kmv_estimate(F.col("u"), 64).alias("est"),
        kmv_intersect_count(F.col("a"), F.col("b"), F.col("u"))
        .cast("bigint")
        .alias("common_minima"),
    )
    ex = (
        o.groupBy("o_custkey")
        .agg(F.countDistinct("yr").alias("ny"))
        .agg(
            F.count(F.lit(1)).alias("union_exact"),
            F.count(F.when(F.col("ny") == 2, F.lit(1))).alias("inter_exact"),
        )
    )
    jac = F.col("common_minima").cast("double") / F.col("union_sketch_size")
    return u.crossJoin(F.broadcast(ex)).select(
        "union_exact",
        F.round("est", 4).alias("union_est"),
        "inter_exact",
        F.round(jac * F.col("est"), 4).alias("inter_est"),
        F.round(jac, 6).alias("jaccard_est"),
        "union_sketch_size",
        "theta",
        "common_minima",
    )


@query(
    "q_cms_heavy_hitters",
    """
    WITH cells AS (
        SELECT s.d AS d,
               (('0x' || substr(md5(CAST(user_id AS VARCHAR)
                                    || '|cms' || CAST(s.d AS VARCHAR)),
                                1, 8))::BIGINT % 64) AS c,
               COUNT(*) AS cell_cnt
        FROM events CROSS JOIN (VALUES (0), (1), (2), (3)) AS s(d)
        GROUP BY 1, 2
    ),
    users AS (
        SELECT user_id, COUNT(*) AS exact_cnt FROM events GROUP BY user_id
    ),
    probe AS (
        SELECT u.user_id, u.exact_cnt, MIN(c.cell_cnt) AS cms_est
        FROM users u
        CROSS JOIN (VALUES (0), (1), (2), (3)) AS s(d)
        JOIN cells c
          ON c.d = s.d
         AND c.c = (('0x' || substr(md5(CAST(u.user_id AS VARCHAR)
                                        || '|cms' || CAST(s.d AS VARCHAR)),
                                    1, 8))::BIGINT % 64)
        GROUP BY 1, 2
    )
    SELECT user_id, exact_cnt, cms_est,
           CAST(cms_est >= exact_cnt AS BOOLEAN) AS never_under
    FROM probe
    ORDER BY exact_cnt DESC, user_id
    LIMIT 20
    """,
)
def q_cms_heavy_hitters(spark, sf_dir):
    """Count-min frequency sketch over per-user event counts (d=4
    salted hashes × w=64 columns; operators/sketches.py cms_build /
    cms_probe), probed for the 20 heaviest users. The 4×64 grid is
    deterministic, so the ESTIMATES hash-gate — never_under pins the
    sketch's one-sided error guarantee (min of d cells ≥ true count,
    over by ≤ e·N/w w.h.p.). Scale shape: the build is one map-side-
    combinable groupBy bounded at d·w cells regardless of input rows;
    the grid broadcasts on probe; cells from different segments merge
    by addition — frequency rollups without re-scanning the events."""
    from .operators.sketches import cms_build, cms_probe

    t = tables(spark, sf_dir)
    ev = t["events"]
    cms = cms_build(ev, "user_id", depth=4, width=64)
    users = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_cnt"))
    return (
        cms_probe(users, cms, "user_id", depth=4, width=64)
        .select(
            "user_id",
            "exact_cnt",
            "cms_est",
            (F.col("cms_est") >= F.col("exact_cnt")).alias("never_under"),
        )
        .orderBy(F.desc("exact_cnt"), "user_id")
        .limit(20)
    )


@query(
    "q_kmv_rollup",
    f"""
    WITH h AS (
        SELECT DISTINCT o_orderpriority,
               EXTRACT(YEAR FROM o_orderdate) AS yr,
               {_O_KMV_H.format(key='o_custkey')} AS h
        FROM orders
    ),
    seg AS (
        SELECT o_orderpriority, yr, h FROM h
        QUALIFY row_number() OVER (PARTITION BY o_orderpriority, yr
                                   ORDER BY h) <= 64
    ),
    segs AS (
        SELECT o_orderpriority,
               CAST(COUNT(DISTINCT yr) AS BIGINT) AS n_segments
        FROM seg GROUP BY o_orderpriority
    ),
    merged AS (
        SELECT o_orderpriority, h
        FROM (SELECT DISTINCT o_orderpriority, h FROM seg)
        QUALIFY row_number() OVER (PARTITION BY o_orderpriority ORDER BY h)
                <= 64
    ),
    sk AS (
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS sketch_size,
               ROUND(CASE WHEN COUNT(*) < 64 THEN CAST(COUNT(*) AS DOUBLE)
                          ELSE {_O_KMV_EST} / MAX(h) END, 4) AS est_keys
        FROM merged GROUP BY o_orderpriority
    ),
    ex AS (
        SELECT o_orderpriority, COUNT(DISTINCT o_custkey) AS exact_keys
        FROM orders GROUP BY o_orderpriority
    )
    SELECT sk.o_orderpriority, segs.n_segments, sk.sketch_size, sk.est_keys,
           ex.exact_keys
    FROM sk JOIN segs USING (o_orderpriority) JOIN ex USING (o_orderpriority)
    ORDER BY sk.o_orderpriority
    """,
)
def q_kmv_rollup(spark, sf_dir):
    """Sketch ROLLUP without rescan: per-(priority, year) segment
    sketches — the granularity a deployment materializes (think daily
    partitions) — merge up to priority level via kmv_merge, touching
    only segments·k hashes. Because min-merge is lossless (every union
    minimum is a minimum of the segment that contains it), the merged
    estimates provably equal the direct per-priority sketch's
    (q_kmv_distinct) — THE property that lets segment sketches answer
    any coarser ad-hoc rollup. Exact counts ride along as the accuracy
    exhibit; n_segments shows what was merged."""
    from .operators.sketches import kmv_estimate, kmv_merge, kmv_sketch

    t = tables(spark, sf_dir)
    seg = kmv_sketch(
        t["orders"].withColumn("yr", F.year("o_orderdate")),
        "o_custkey",
        ["o_orderpriority", "yr"],
        k=64,
    )
    # seg is one row per (priority, yr) — plain count, no distinct agg
    segs = seg.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_segments")
    )
    rolled = kmv_merge(seg, "kmv", ["o_orderpriority"], k=64)
    ex = t["orders"].groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("exact_keys")
    )
    return (
        rolled.join(segs, "o_orderpriority")
        .join(ex, "o_orderpriority")
        .select(
            "o_orderpriority",
            "n_segments",
            F.size("kmv").cast("bigint").alias("sketch_size"),
            F.round(kmv_estimate(F.col("kmv"), 64), 4).alias("est_keys"),
            "exact_keys",
        )
        .orderBy("o_orderpriority")
    )


_kmv_segment_cache: dict = {}


def _kmv_segment_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-built per-(priority, year) KMV segment sketches as an
    on-disk artifact (once per session × sf_dir — the write path a
    deployment runs when a partition lands, exactly like the BM25
    postings and the ANN bucket layout). Readers answer any coarser
    rollup from THIS relation: segments·k hash values, never the base
    table."""
    import tempfile

    from .operators.sketches import kmv_sketch

    # keyed by applicationId, not id(spark): CPython can reuse a
    # stopped session's id for a new one, which would serve the new
    # session a stale tempdir; existence-checked so a tmp-cleaner
    # sweep just triggers a rebuild instead of a read error
    key = (spark.sparkContext.applicationId, sf_dir)
    cached = _kmv_segment_cache.get(key)
    if cached is not None and not os.path.isdir(cached):
        del _kmv_segment_cache[key]
    if key not in _kmv_segment_cache:
        out = tempfile.mkdtemp(prefix="vams_spark_kmv_segments_")
        kmv_sketch(
            tables(spark, sf_dir)["orders"].withColumn(
                "yr", F.year("o_orderdate")
            ),
            "o_custkey",
            ["o_orderpriority", "yr"],
            k=64,
        ).write.mode("overwrite").parquet(out)
        _kmv_segment_cache[key] = out
    return spark.read.parquet(_kmv_segment_cache[key])


@query(
    "q_kmv_rollup_merged",
    f"""
    WITH h AS (
        SELECT DISTINCT o_orderpriority,
               EXTRACT(YEAR FROM o_orderdate) AS yr,
               {_O_KMV_H.format(key='o_custkey')} AS h
        FROM orders
    ),
    seg AS (
        SELECT o_orderpriority, yr, h FROM h
        QUALIFY row_number() OVER (PARTITION BY o_orderpriority, yr
                                   ORDER BY h) <= 64
    ),
    merged AS (
        SELECT o_orderpriority, h
        FROM (SELECT DISTINCT o_orderpriority, h FROM seg)
        QUALIFY row_number() OVER (PARTITION BY o_orderpriority ORDER BY h)
                <= 64
    )
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS sketch_size,
           ROUND(CASE WHEN COUNT(*) < 64 THEN CAST(COUNT(*) AS DOUBLE)
                      ELSE {_O_KMV_EST} / MAX(h) END, 4) AS est_keys
    FROM merged GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q_kmv_rollup_merged(spark, sf_dir):
    """The DEPLOYMENT shape of the sketch rollup: q_kmv_rollup builds
    segments, merges, AND computes the exact comparator in one plan
    (a 10-exchange demo); THIS query answers the same per-priority
    distinct estimate from PRE-BUILT segment sketches
    (_kmv_segment_store — the artifact a deployment maintains per
    landed partition), so the executed plan is merge-only: scan the
    segment relation, explode, distinct, one rank-k window, aggregate.
    Everything after the artifact scan is sketch-sized (≤ segments·k
    rows) — the rollup-without-rescan claim, driver-gated in the plan
    shape a cluster would actually run. The oracle recomputes the same
    segment sketches from orders (DuckDB has no store), which is
    equivalent by kmv_sketch's determinism."""
    from .operators.sketches import kmv_estimate, kmv_merge

    seg = _kmv_segment_store(spark, sf_dir)
    rolled = kmv_merge(seg, "kmv", ["o_orderpriority"], k=64)
    return rolled.select(
        "o_orderpriority",
        F.size("kmv").cast("bigint").alias("sketch_size"),
        F.round(kmv_estimate(F.col("kmv"), 64), 4).alias("est_keys"),
    ).orderBy("o_orderpriority")


@query(
    "q_doc_source_cap",
    """
    SELECT source, doc_id
    FROM documents
    QUALIFY row_number() OVER (
        PARTITION BY source
        ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|cap'),
                                 1, 8))::BIGINT,
                 doc_id
    ) <= 10
    ORDER BY source, doc_id
    """,
)
def q_doc_source_cap(spark, sf_dir):
    """Per-source document cap (operators/sampling.py group_cap): at
    most 10 docs per source, selected by content-hash order — the
    standard training-mix guard against one domain dominating the
    corpus. Content-derived selection makes the kept set stable across
    runs/layouts/engines (vs RNG or arrival order); the rank filter
    compiles to WindowGroupLimit, so a hot source never materializes
    its full extent (each partition keeps ≤ k before the merge)."""
    from .operators.sampling import group_cap

    t = tables(spark, sf_dir)
    return (
        group_cap(
            t["documents"].select("source", "doc_id"),
            ["source"],
            "doc_id",
            k=10,
        )
        .orderBy("source", "doc_id")
    )


@query(
    "q_events_anomaly_mad",
    """
    WITH med AS (
        SELECT event_type, quantile_cont(value, 0.5) AS med
        FROM events GROUP BY event_type
    ),
    dev AS (
        SELECT e.event_type, e.value, m.med,
               ABS(e.value - m.med) AS adev
        FROM events e JOIN med m USING (event_type)
    ),
    mad AS (
        SELECT event_type, quantile_cont(adev, 0.5) AS mad
        FROM dev GROUP BY event_type
    )
    SELECT d.event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(MAX(d.med), 6) AS med,
           ROUND(MAX(m.mad), 6) AS mad,
           CAST(COUNT(*) FILTER (WHERE d.adev > 3 * m.mad) AS BIGINT)
               AS n_anomalies
    FROM dev d JOIN mad m USING (event_type)
    GROUP BY d.event_type
    ORDER BY d.event_type
    """,
)
def q_events_anomaly_mad(spark, sf_dir):
    """Robust anomaly detection: flag events whose |value − median|
    exceeds 3× the median absolute deviation, per event type — the
    outlier rule that, unlike z-scores, is not itself corrupted by the
    outliers it hunts. Exact interpolated percentiles are identical
    IEEE arithmetic in both engines, so counts and the med/mad values
    hash-gate. Plan shape: two per-type aggregations + two broadcast
    joins of the 5-row stats dims — the fact table shuffles only for
    its own aggregations; at 100 TB the exact median would swap for the
    approx_percentile sketch (q_approx_sketch_bounds contract) with the
    same plan shape."""
    t = tables(spark, sf_dir)
    ev = t["events"].select("event_type", "value")
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(adev, 0.5)").alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.max("med"), 6).alias("med"),
            F.round(F.max("mad"), 6).alias("mad"),
            F.count(F.when(F.col("adev") > 3 * F.col("mad"), F.lit(1)))
            .alias("n_anomalies"),
        )
        .orderBy("event_type")
    )


@query(
    "q_doc_setsim_join",
    r"""
    WITH base AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(trim(text)), '\s+'),
                           t -> t <> '') AS toks
        FROM documents
    ), corpus AS (
        SELECT doc_id, toks FROM base
        UNION ALL
        SELECT doc_id + 1000000,
               list_slice(toks, 1, GREATEST(len(toks) - 5, 1))
        FROM base
    ), sh AS (
        SELECT doc_id,
               CASE WHEN len(toks) >= 3 THEN list_sort(list_distinct(
                   list_transform(
                       range(0, len(toks) - 3 + 1),
                       i -> array_to_string(list_slice(toks, i + 1, i + 3),
                                            ' ')
                   ))) ELSE [] END AS g
        FROM corpus
    ), reps AS (
        SELECT MIN(doc_id) AS doc_id, g,
               CAST(COUNT(*) AS BIGINT) AS members
        FROM sh WHERE len(g) > 0 GROUP BY g
    ), pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               len(list_intersect(a.g, b.g)) AS o,
               len(a.g) AS n_a, len(b.g) AS n_b,
               a.members AS members_a, b.members AS members_b
        FROM reps a JOIN reps b ON a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, CAST(o AS BIGINT) AS overlap,
           CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           ROUND(o / (n_a + n_b - o), 6) AS jaccard,
           members_a, members_b
    FROM pairs
    WHERE o >= 1 AND o / (n_a + n_b - o) >= 0.9
    ORDER BY id_a, id_b
    """,
)
def q_doc_setsim_join(spark, sf_dir):
    """EXACT shingle-set similarity self-join at jaccard >= 0.9 via
    prefix filtering (operators/dedup.py setsim_join; Bayardo et al.
    2007 AllPairs / PPJoin family) over documents + a mutated copy
    (last 5 tokens dropped). Same contract surface as the LSH tier's
    q_ngram_jaccard_topk, with the guarantee LSH cannot give: EVERY
    qualifying pair is returned, not 1-(1-j^r)^b of them. Two
    skew/flood defenses, both also oracle-mirrored: (1) identical
    shingle SETS collapse to one representative first (min doc_id,
    members carried) — this corpus holds 51-member identical floods
    whose quadratic jaccard-1.0 pair lists are exactly the flood class
    exact-dedup-then-near-dup ordering removes; (2) items are 3-gram
    SHINGLES, not unigrams — the raw vocabulary here is 31 tokens
    (every one in ~78% of docs, so unigram prefixes prune nothing)
    while the shingle space has median df 9, which is what makes the
    rarest-first prefix equi-join (provably lossless; integer
    ceil(tau*n) math) selective. tau-length prune + array
    verification; quadratic oracle at the correctness SF."""
    from .operators.dedup import setsim_join, word_shingles

    t = tables(spark, sf_dir)
    docs = t["documents"].select("doc_id", "text")
    toks = F.filter(
        F.split(F.lower(F.trim("text")), r"\s+"), lambda tok: tok != ""
    )
    mutated = docs.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat_ws(
            " ", F.slice(toks, 1, F.greatest(F.size(toks) - 5, F.lit(1)))
        ).alias("text"),
    )
    shingled = (
        docs.unionByName(mutated)
        .select(
            "doc_id",
            F.array_sort(word_shingles(F.lower(F.col("text")), 3)).alias("g"),
        )
        .filter(F.size("g") > 0)
    )
    reps = shingled.groupBy("g").agg(
        F.min("doc_id").alias("doc_id"),
        F.count(F.lit(1)).alias("members"),
    )
    pairs = setsim_join(reps, threshold=0.9, items_col="g")
    m = reps.select("doc_id", "members")
    return (
        pairs.join(m.withColumnRenamed("members", "members_a"),
                   pairs.id_a == m.doc_id)
        .drop("doc_id")
        .join(
            reps.select(
                F.col("doc_id").alias("_b"),
                F.col("members").alias("members_b"),
            ),
            F.col("id_b") == F.col("_b"),
        )
        .select(
            "id_a", "id_b", "overlap", "n_a", "n_b", "jaccard",
            "members_a", "members_b",
        )
        .orderBy("id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# round 10: Bloom membership tier (semi-join reduction)
# ---------------------------------------------------------------------------

_O_BLOOM_BIT = (
    "(('0x' || substr(md5(CAST({key} AS VARCHAR) || '|bloom{i}'), 1, 8))"
    "::BIGINT % {m})"
)


def _bloom_oracle(m: int = 16384, depth: int = 3) -> str:
    bits_build = ", ".join(
        _O_BLOOM_BIT.format(key="o_custkey", i=i, m=m) for i in range(depth)
    )
    probe_hits = " + ".join(
        "CASE WHEN "
        + _O_BLOOM_BIT.format(key="c.c_custkey", i=i, m=m)
        + " IN (SELECT bit FROM bloom) THEN 1 ELSE 0 END"
        for i in range(depth)
    )
    return f"""
    WITH urgent AS (
        SELECT DISTINCT o_custkey FROM orders
        WHERE o_orderpriority = '1-URGENT'
          AND EXTRACT(YEAR FROM o_orderdate) = 1998
    ),
    bloom AS (
        SELECT DISTINCT bit FROM (
            SELECT unnest([{bits_build}]) AS bit FROM urgent
        )
    ),
    probed AS (
        SELECT c.c_mktsegment,
               ({probe_hits}) = {depth} AS bloom_maybe,
               u.o_custkey IS NOT NULL AS has_urgent
        FROM customer c LEFT JOIN urgent u ON c.c_custkey = u.o_custkey
    )
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(COUNT(*) FILTER (WHERE bloom_maybe) AS BIGINT)
               AS n_bloom_maybe,
           CAST(COUNT(*) FILTER (WHERE has_urgent) AS BIGINT)
               AS n_with_urgent,
           CAST(COUNT(*) FILTER (WHERE bloom_maybe AND NOT has_urgent)
                AS BIGINT) AS n_false_positive
    FROM probed
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """


@query("q_bloom_prefilter", _bloom_oracle())
def q_bloom_prefilter(spark, sf_dir):
    """Bloom-filter semi-join reduction (operators/sketches.py
    bloom_build/bloom_probe): the membership synopsis completing the
    sketch tier (KMV = how many distinct, CMS = how often, Bloom = is
    it present). The exhibit is the classic 100 TB shape — "customers
    who placed an urgent 1998 order" as a ≤ m-row bit relation that
    BROADCASTS and prefilters the probe side before any shuffle, with
    zero false negatives — plus the accuracy ledger: per market
    segment, total customers, Bloom-positive count, exact count (the
    left join the Bloom would prefilter), and the false-positive
    overshoot. Bit positions are salted md5 content hashes, so every
    verdict is deterministic cross-engine and the counts hash-gate
    (a java-hash Bloom could not be oracle-checked). The broadcast
    rides on the single-row bit MASK only — bounded by the constant m,
    never by an SF-scaling side (SCALE.md broadcast discipline) — and
    the verdict is bloom_flag's shuffle-free per-row projection, so
    the only shuffle the probe side ever pays is the final per-segment
    aggregation itself."""
    from .operators.sketches import bloom_build, bloom_flag

    m, depth = 16384, 3
    t = tables(spark, sf_dir)
    urgent = (
        t["orders"]
        .filter(
            (F.col("o_orderpriority") == "1-URGENT")
            & (F.year("o_orderdate") == 1998)
        )
        .select("o_custkey")
    )
    bloom = bloom_build(urgent, "o_custkey", m=m, depth=depth)
    probed = bloom_flag(
        t["customer"].select("c_custkey", "c_mktsegment"),
        bloom,
        "c_custkey",
        m=m,
        depth=depth,
    )
    exact = urgent.distinct().withColumnRenamed("o_custkey", "c_custkey")
    return (
        probed.join(
            exact.withColumn("_has", F.lit(True)), "c_custkey", "left"
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.count(F.when(F.col("bloom_maybe"), 1)).alias("n_bloom_maybe"),
            F.count(F.when(F.col("_has"), 1)).alias("n_with_urgent"),
            F.count(
                F.when(F.col("bloom_maybe") & F.col("_has").isNull(), 1)
            ).alias("n_false_positive"),
        )
        .orderBy("c_mktsegment")
    )


@query(
    "q_bottomk_quantiles",
    """
    WITH samp AS (
        SELECT event_type, value
        FROM (
            SELECT event_type, value, event_id,
                   ('0x' || substr(md5(CAST(event_id AS VARCHAR)
                                        || '|qsample'), 1, 8))::BIGINT AS hh
            FROM events WHERE event_id IS NOT NULL
        )
        QUALIFY row_number() OVER (PARTITION BY event_type
                                   ORDER BY hh, event_id) <= 256
    ),
    est AS (
        SELECT event_type,
               ROUND(quantile_cont(value, 0.5), 6) AS q0_5,
               ROUND(quantile_cont(value, 0.9), 6) AS q0_9
        FROM samp GROUP BY event_type
    ),
    ex AS (
        SELECT event_type,
               ROUND(quantile_cont(value, 0.5), 6) AS x0_5,
               ROUND(quantile_cont(value, 0.9), 6) AS x0_9
        FROM events GROUP BY event_type
    )
    SELECT est.event_type, est.q0_5, est.q0_9, ex.x0_5, ex.x0_9
    FROM est JOIN ex USING (event_type)
    ORDER BY event_type
    """,
)
def q_bottomk_quantiles(spark, sf_dir):
    """Bottom-k-by-hash quantile synopsis (operators/sketches.py
    bottomk_sample/sample_quantiles) with its accuracy ledger: per
    event type, the median and p90 read from a k=256 content-hash
    row sample next to the exact interpolated quantiles over the full
    relation. The order-free member of the synopsis family — KLL, GK
    and t-digest are insertion-order-dependent and could never be
    differentially oracled; a bottom-k sample is a pure function of
    the data (salted md5 ranks, DuckDB recomputes the identical
    sample), merges as a join-semilattice exactly like KMV, and its
    rank filter compiles to WindowGroupLimit so no group is ever
    fully sorted (plan-linted). Expected error per quantile q is
    ~sqrt(q(1-q)/k); the exact columns exist so the gate itself
    verifies the estimates, not just the plumbing. At 100 TB only the
    synopsis build touches the base relation — reads are sketch-sized,
    and per-partition samples roll up without a rescan
    (bottomk_merge)."""
    from .operators.sketches import bottomk_sample, sample_quantiles

    t = tables(spark, sf_dir)
    ev = t["events"].select("event_type", "event_id", "value")
    samp = bottomk_sample(ev, "event_id", k=256, group_cols=["event_type"])
    est = sample_quantiles(samp, "value", [0.5, 0.9], ["event_type"])
    exact = ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("x0_5"),
        F.round(F.expr("percentile(value, 0.9)"), 6).alias("x0_9"),
    )
    return est.join(exact, "event_type").orderBy("event_type")


_bottomk_store_cache: dict = {}


def _bottomk_event_store(spark: SparkSession, sf_dir: str) -> str:
    """A maintained bottom-k sample store over events, built the way a
    deployment builds it: one bottomk_store_update PER WEEKLY SEGMENT
    as the segment lands (here: a loop over the fixture's ~5 ISO
    weeks), once per session × sf_dir. The driver-side week list is
    bounded by the calendar, not the data (≤53 rows collected).
    Readers answer quantile questions from the store's ≤ types·k rows
    — never the base relation (the q_kmv_rollup_merged artifact
    discipline, extended to the quantile member of the synopsis
    family)."""
    import tempfile

    from .operators.sketches import bottomk_store_update

    key = (spark.sparkContext.applicationId, sf_dir)
    cached = _bottomk_store_cache.get(key)
    if cached is not None and not os.path.isdir(cached):
        del _bottomk_store_cache[key]
    if key not in _bottomk_store_cache:
        out = tempfile.mkdtemp(prefix="vams_spark_bottomk_store_")
        ev = tables(spark, sf_dir)["events"].select(
            "event_type",
            "event_id",
            "value",
            # NULL ts lands in its own -1 segment rather than crashing
            # the sorted() week list or silently dropping the row (the
            # oracle's sample has no ts condition, so a dropped row
            # would diverge at the hash gate); WHICH segment a row
            # lands in never affects the merged sample (semilattice)
            F.coalesce(
                F.weekofyear(F.timestamp_micros(F.expr("ts div 1000"))),
                F.lit(-1),
            ).alias("wk"),
        )
        weeks = sorted(
            r["wk"] for r in ev.select("wk").distinct().collect()
        )
        for wk in weeks:
            bottomk_store_update(
                spark,
                out,
                ev.filter(F.col("wk") == wk).drop("wk"),
                "event_id",
                k=256,
                group_cols=["event_type"],
                batch_key=f"wk{wk}",
            )
        _bottomk_store_cache[key] = out
    return _bottomk_store_cache[key]


@query(
    "q_bottomk_merged",
    """
    WITH samp AS (
        SELECT event_type, value
        FROM (
            SELECT event_type, value, event_id,
                   ('0x' || substr(md5(CAST(event_id AS VARCHAR)
                                        || '|qsample'), 1, 8))::BIGINT AS hh
            FROM events WHERE event_id IS NOT NULL
        )
        QUALIFY row_number() OVER (PARTITION BY event_type
                                   ORDER BY hh, event_id) <= 256
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS sample_size,
           ROUND(quantile_cont(value, 0.5), 6) AS q0_5,
           ROUND(quantile_cont(value, 0.9), 6) AS q0_9
    FROM samp GROUP BY event_type
    ORDER BY event_type
    """,
)
def q_bottomk_merged(spark, sf_dir):
    """The DEPLOYMENT shape of the quantile synopsis:
    q_bottomk_quantiles builds its sample and the exact comparator in
    one plan; THIS query answers the same per-type median/p90 from a
    MAINTAINED bottom-k store fed one weekly segment at a time
    (operators/sketches.py bottomk_store_update/-_sample — the kappa
    form whose semilattice merge makes at-least-once replays
    exactly-once for free, tested with split/replay/compaction/crash
    equivalence). The executed plan is merge-only: scan the ≤ types·k
    sample artifact, dedup, one rank-k window, aggregate — everything
    after the artifact scan is sketch-sized. The oracle recomputes the
    sample from events (DuckDB has no store), equivalent by the
    semilattice property: merging per-week bottom-k samples IS the
    global bottom-k sample."""
    from .operators.sketches import bottomk_store_sample, sample_quantiles

    store = _bottomk_event_store(spark, sf_dir)
    samp = bottomk_store_sample(
        spark, store, "event_id", k=256, group_cols=["event_type"]
    )
    est = sample_quantiles(samp, "value", [0.5, 0.9], ["event_type"])
    size = samp.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("sample_size")
    )
    return (
        size.join(est, "event_type")
        .select("event_type", "sample_size", "q0_5", "q0_9")
        .orderBy("event_type")
    )
