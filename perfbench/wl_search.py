"""catalog_search: a closed loop of one client sending a read-only
request mix to the catalog service.

Every request goes through the package's public surface
(``service.CatalogService`` and the ``SearchRequest`` model); half go
to a service built with an ABAC allow-list (``operators.authz``).
Each distinct request's first response is checked against a DuckDB
evaluation of the same request over the ``sources.vams`` views, and
every repeat must hash equal to its first response.
"""

from __future__ import annotations

import hashlib
import math
import os
import time

import gen
from tracing import StealGate, Tracer, p50, pct, supported_percentile


def _constraints():
    from visual_asset_management_system_spark.operators.authz import (
        Constraint,
        Criterion,
    )

    return [
        Constraint("allow", "GET", (
            Criterion("database_id", "is_in", gen.ALLOWED_DATABASES),
        )),
        Constraint("deny", "GET", (
            Criterion("database_id", "equals", gen.DENIED_DATABASE),
        )),
    ]


AUTH_SQL = (
    "(database_id IN ({}) AND NOT database_id = '{}')".format(
        ", ".join(f"'{d}'" for d in gen.ALLOWED_DATABASES), gen.DENIED_DATABASE
    )
)


class SearchWorkload:
    name = "catalog_search"
    #: set-ups per run: a second queries.tables costs about half of the
    #: first, more than the benchmark's time budget has room for
    setup_repeats = 1
    #: decks per timed loop: a kind's cost depends on which pooled
    #: request is drawn, so a per-kind median over three draws varies
    #: less with the seed than one draw
    min_ops = 3

    def __init__(self, spark, tracer: Tracer, work: str, fixture: str,
                 tables: dict, seed: int):
        self.spark, self.tr, self.work, self.fixture, self.seed = (
            spark, tracer, work, fixture, seed,
        )

    # -- set-up --------------------------------------------------------------
    def setup(self) -> None:
        """Build the catalog tables and the two services over them."""
        from visual_asset_management_system_spark import queries
        from visual_asset_management_system_spark.service import CatalogService

        t0 = time.perf_counter()
        self.t = queries.tables(self.spark, self.fixture)
        self.build_s = time.perf_counter() - t0
        self.services = {
            False: CatalogService(self.t),
            True: CatalogService(self.t, constraints=_constraints()),
        }

    def traced_calls(self):
        """Every package call this workload makes is its own; no wrapping."""
        return []

    # -- one request ---------------------------------------------------------
    def build(self, req: gen.Request):
        """The package call for ``req``, returning its DataFrame."""
        from visual_asset_management_system_spark.models.search import (
            SearchFilter,
            SearchRequest,
            SortSpec,
        )
        from visual_asset_management_system_spark.plans.pagination import (
            encode_page_token,
        )

        svc = self.services[req.constrained]
        k, p = req.kind, req.p
        if k == "get_asset":
            return svc.get_asset(p("database_id"), p("asset_id"))
        if k == "get_metadata":
            return svc.get_metadata(p("database_id"), p("asset_id"))
        if k == "links":
            return svc.get_asset_links(p("database_id"), p("asset_id"))
        if k == "suggest":
            return svc.suggest(p("prefix"))
        if k == "list_page":
            token = encode_page_token({"asset_id": p("after")})
            return svc.list_assets(p("database_id"), p("page_size"), token)
        if k == "filter":
            sreq = SearchRequest(
                entity_types=("file",),
                filters=[
                    SearchFilter("file_ext", "eq", p("ext")),
                    SearchFilter("file_size", "gte", p("min_size")),
                ],
                sort=[SortSpec("file_size", descending=p("sort_desc"))],
                size=gen.PAGE,
            )
        elif k == "text":
            sreq = SearchRequest(query=p("query"), entity_types=("asset",), size=gen.PAGE)
        elif k == "dual":
            sreq = SearchRequest(query=p("query"), size=gen.PAGE)
        elif k == "metadata_query":
            sreq = SearchRequest(
                metadata_query=p("mq"), entity_types=("asset",), size=gen.PAGE
            )
        else:  # facets
            entity = "file" if p("field") == "file_ext" else "asset"
            return svc.facets(SearchRequest(
                entity_types=(entity,), facets=[p("field")],
                databases=[p("database_id")],
            ))
        return svc.search(sreq)

    def run_one(self, req: gen.Request) -> list:
        with self.tr.span(f"req.{req.kind}"):
            with self.tr.span("service.build"):
                df = self.build(req)
            if self.tr.enabled:
                with self.tr.span("catalyst.plan"):
                    df._jdf.queryExecution().executedPlan()
            with self.tr.span("exec"):
                return df.collect()

    # -- timed loop ----------------------------------------------------------
    def _stream(self):
        """The request stream; it and the first responses carry over
        between calls (the traced run measures twice)."""
        if not hasattr(self, "decks"):
            self.decks = gen.search_decks(self.seed, gen.search_pool(self.seed))
            self.first: dict[int, tuple] = {}
        return self.decks

    def _record(self, req: gen.Request, rows: list) -> bool:
        """Keep a request's first response; False when a repeat's
        response differs from it."""
        canon = canonical(req, rows)
        if req.rid not in self.first:
            self.first[req.rid] = (_digest(canon), canon, req)
            return True
        if _digest(canon) == self.first[req.rid][0]:
            return True
        print(f"repeat of request {req.rid} changed its response", flush=True)
        return False

    def warm_up(self) -> dict:
        """Send one deck with its requests in parallel threads. Code
        generation and JIT warm-up need every request kind once, not one
        after another: sent one at a time, a cold deck takes about 1.6
        times as long as a warm one, and in parallel about 1.4 times."""
        from concurrent.futures import ThreadPoolExecutor

        deck = next(self._stream())
        t_start = time.perf_counter()
        with ThreadPoolExecutor(len(os.sched_getaffinity(0))) as pool:
            futures = [pool.submit(self.run_one, req) for req in deck]
        failed = 0
        for req, fut in zip(deck, futures):
            if fut.exception() is not None:
                failed += 1
                print(f"request {req} failed: {fut.exception()!r}"[:500], flush=True)
            elif not self._record(req, fut.result()):
                failed += 1
        return {"attempted": len(deck), "failed": failed,
                "elapsed": time.perf_counter() - t_start}

    def measure(self, seconds: float, min_ops: int) -> dict:
        """Send whole decks (one request of each kind), at least
        ``min_ops`` counted, until ``seconds`` have passed (see
        ``tracing.StealGate``)."""
        decks = self._stream()
        self.lat: dict[str, list[float]] = {}
        self.by_rid: dict[int, list[float]] = {}
        failed = attempted = repeats = counted = 0
        gate = StealGate(seconds, min_ops)
        while gate.more():
            samples = []
            gate.start()
            for req in next(decks):
                self.tr.op(attempted)
                attempted += 1
                t0 = time.perf_counter()
                try:
                    rows = self.run_one(req)
                except Exception as exc:  # noqa: BLE001 — counted, run goes on
                    failed += 1
                    print(f"request {req} failed: {exc!r}"[:500], flush=True)
                    continue
                samples.append((req, time.perf_counter() - t0))
                repeats += req.rid in self.first
                failed += not self._record(req, rows)
            if gate.end() is None:
                continue
            counted += len(samples)
            for req, dt in samples:
                self.lat.setdefault(req.kind, []).append(dt)
                self.by_rid.setdefault(req.rid, []).append(dt)
        self.repeat_share = repeats / attempted
        return {
            "attempted": attempted, "failed": failed, "skipped": gate.skipped,
            "counted": counted, "elapsed": gate.busy,
        }

    # -- output check ----------------------------------------------------------
    def check(self) -> int:
        """Compare each distinct request's first response with DuckDB;
        returns the number of mismatches."""
        import duckdb

        con = duckdb.connect()
        for name in ("part", "lineitem", "orders", "customer", "supplier"):
            path = os.path.join(self.fixture, f"{name}.parquet")
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        bad = 0
        for _, canon, req in self.first.values():
            want = canonical_oracle(req, con.execute(oracle_sql(req)).fetchall())
            if want != canon:
                bad += 1
                print(f"oracle mismatch for {req}: got {canon[:3]} want {want[:3]}", flush=True)
        con.close()
        return bad

    # -- metrics ---------------------------------------------------------------
    def metrics(self, stats: dict) -> tuple[dict, dict]:
        lookups = [x for k in gen.LOOKUP_KINDS for x in self.lat.get(k, [])]
        searches = [x for k in gen.SEARCH_KINDS for x in self.lat.get(k, [])]
        kind_p50 = [p50(v) for v in self.lat.values()]
        out = {
            "latency_ms": (1000 * math.exp(
                sum(math.log(x) for x in kind_p50) / len(kind_p50)), "ms"),
            "throughput_per_s": (stats["counted"] / stats["elapsed"], "1/s"),
        }
        detail = {
            **{f"req.{k}_ms": (1000 * p50(v), "ms") for k, v in sorted(self.lat.items())},
            "lookup_p50_ms": (1000 * p50(lookups), "ms"),
            "search_p50_ms": (1000 * p50(searches), "ms"),
            "requests_per_s": out["throughput_per_s"],
            "lookup_count": (len(lookups), "count"),
            "search_count": (len(searches), "count"),
            "skipped_ops": (stats["skipped"], "count"),
        }
        for name, vals in (("lookup", lookups), ("search", searches)):
            q = supported_percentile(len(vals))
            if q:
                detail[f"{name}_p{q}_ms"] = (1000 * pct(vals, q), "ms")
        return out, detail

    def layer_metrics(self) -> dict:
        st = self.tr.self_times()
        n = max(1, sum(len(v) for v in self.lat.values()))
        out = {
            "service.build_ms": (1000 * sum(st.get("service.build", [])) / n, "ms"),
            "catalyst.plan_ms": (1000 * sum(st.get("catalyst.plan", [])) / n, "ms"),
            "exec_ms": (1000 * sum(st.get("exec", [])) / n, "ms"),
            "tables.build_s": (self.build_s, "s"),
            "cache.repeat_share": (self.repeat_share, "ratio"),
        }
        shapes = ("get_asset", "links", "list_page", "filter", "text", "dual")
        con, unc = [], []
        for rid, vals in self.by_rid.items():
            req = self.first[rid][2]
            if req.kind in shapes:
                (con if req.constrained else unc).extend(vals)
        if con and unc:
            out["authz.overhead_ms"] = (1000 * (p50(con) - p50(unc)), "ms")
        return out


# ---------------------------------------------------------------------------
# canonical responses and the DuckDB oracle
# ---------------------------------------------------------------------------

def _digest(canon) -> str:
    return hashlib.sha1(repr(canon).encode()).hexdigest()


def _r(x):
    return round(float(x), 6) if isinstance(x, float) else x


#: per kind: the response columns compared, and whether row order is
#: part of the answer (else compared as a sorted multiset)
COLUMNS = {
    "get_asset": (("database_id", "asset_id", "asset_name", "asset_type", "is_archived"), False),
    "get_metadata": (("database_id", "asset_id", "metadata"), False),
    "links": (("asset_link_id", "neighbor_database_id", "neighbor_asset_id",
               "relationship", "neighbor_name", "authorized"), False),
    "suggest": (("prefix", "suggestion", "freq", "rank"), True),
    "list_page": (("database_id", "asset_id"), True),
    "filter": (("database_id", "asset_id", "file_key", "file_size"), True),
    "text": (("database_id", "asset_id", "score"), True),
    # ties on (score, database_id, asset_id) make the file rows at the
    # page boundary arbitrary; the multiset of these columns is not
    "dual": (("rectype", "database_id", "asset_id", "score"), False),
    "metadata_query": (("database_id", "asset_id"), True),
    "facets": (("facet_field", "facet_value", "doc_count"), True),
}


def _canon_rows(kind: str, rows: list[tuple]) -> tuple:
    cols, ordered = COLUMNS[kind]
    out = []
    for r in rows:
        vals = []
        for v in r:
            if isinstance(v, dict):
                v = tuple(sorted(v.items()))
            vals.append(_r(v))
        out.append(tuple(vals))
    if not ordered:
        out.sort(key=repr)
    return tuple(out)


def canonical(req: gen.Request, rows) -> tuple:
    cols, _ = COLUMNS[req.kind]
    return _canon_rows(req.kind, [tuple(r[c] for c in cols) for r in rows])


def canonical_oracle(req: gen.Request, rows) -> tuple:
    if req.kind == "get_metadata":
        if not rows:
            return ()
        db, aid = rows[0][0], rows[0][1]
        rows = [(db, aid, {k: v for _, _, k, v in rows})]
    return _canon_rows(req.kind, rows)


def _q(v) -> str:
    return "'" + str(v).replace("'", "''") + "'"


def _like(pattern: str) -> str:
    return pattern.lower().replace("*", "%").replace("?", "_")


def oracle_sql(req: gen.Request) -> str:
    """DuckDB SQL answering ``req`` over the sources.vams views."""
    from visual_asset_management_system_spark.sources.vams import oracle_with

    k, p = req.kind, req.p
    auth = AUTH_SQL if req.constrained else "TRUE"
    key = f"database_id = {_q(p('database_id'))}" if "database_id" in dict(req.params) else ""
    if k == "get_asset":
        return oracle_with("assets") + (
            "SELECT database_id, asset_id, asset_name, asset_type, is_archived "
            f"FROM assets WHERE {key} AND asset_id = {_q(p('asset_id'))} AND {auth}"
        )
    if k == "get_metadata":
        return oracle_with("metadata") + (
            "SELECT database_id, asset_id, metadata_key, MAX(metadata_value) "
            f"FROM metadata WHERE {key} AND asset_id = {_q(p('asset_id'))} "
            "GROUP BY database_id, asset_id, metadata_key"
        )
    if k == "links":
        db, aid = _q(p("database_id")), _q(p("asset_id"))
        a_auth = auth.replace("database_id", "a.database_id") if req.constrained else "a.database_id IS NOT NULL"
        return oracle_with("assets", "asset_links") + f""",
            nb AS (
                SELECT asset_link_id, to_database_id AS nd, to_asset_id AS na,
                       CASE WHEN relationship_type = 'parentChild'
                            THEN 'child' ELSE 'related' END AS relationship
                FROM asset_links WHERE from_database_id = {db} AND from_asset_id = {aid}
                UNION ALL
                SELECT asset_link_id, from_database_id, from_asset_id,
                       CASE WHEN relationship_type = 'parentChild'
                            THEN 'parent' ELSE 'related' END
                FROM asset_links WHERE to_database_id = {db} AND to_asset_id = {aid}
            )
            SELECT nb.asset_link_id, nb.nd, nb.na, nb.relationship, a.asset_name,
                   COALESCE({a_auth}, FALSE)
            FROM nb LEFT JOIN assets a ON a.database_id = nb.nd AND a.asset_id = nb.na
        """
    if k == "suggest":
        return oracle_with("assets") + f"""
            , toks AS (
                SELECT unnest(list_filter(
                    string_split_regex(lower(asset_name), '[^a-z0-9]+'),
                    t -> t <> '')) AS token
                FROM assets WHERE NOT is_archived
            ), freq AS (SELECT token, COUNT(*) AS freq FROM toks GROUP BY token
            ), pfx AS (
                SELECT substr(token, 1, i) AS prefix, token, freq
                FROM freq, UNNEST(range(1, LEAST(len(token), 4) + 1)) AS t(i)
            ), ranked AS (
                SELECT prefix, token AS suggestion, freq,
                       CAST(ROW_NUMBER() OVER (PARTITION BY prefix
                            ORDER BY freq DESC, token) AS INT) AS rank
                FROM pfx
            )
            SELECT prefix, suggestion, freq, rank FROM ranked
            WHERE rank <= 3 AND prefix = {_q(p('prefix').lower())} ORDER BY rank
        """
    if k == "list_page":
        return oracle_with("assets") + (
            f"SELECT database_id, asset_id FROM assets WHERE {key} AND {auth} "
            f"AND asset_id > {_q(p('after'))} ORDER BY asset_id LIMIT {p('page_size')}"
        )
    if k == "filter":
        order = "DESC" if p("sort_desc") else "ASC"
        return oracle_with("files") + (
            "SELECT database_id, asset_id, file_key, file_size FROM files "
            f"WHERE NOT is_archived AND file_ext = {_q(p('ext'))} "
            f"AND file_size >= {p('min_size')} AND {auth} "
            f"ORDER BY file_size {order}, database_id, asset_id, file_key LIMIT {gen.PAGE}"
        )
    if k in ("text", "dual"):
        q = _q(p("query").lower())
        parts = [f"""
            SELECT 'asset' AS rectype, database_id, asset_id, CAST(
                CASE WHEN contains(lower(asset_name), {q}) THEN 2.0 ELSE 0.0 END
              + CASE WHEN contains(lower(description), {q}) THEN 1.0 ELSE 0.0 END
              + CASE WHEN contains(lower(asset_type), {q}) THEN 1.0 ELSE 0.0 END
                AS DOUBLE) AS score
            FROM assets WHERE NOT is_archived AND {auth}"""]
        if k == "dual":
            parts.append(f"""
            SELECT 'file', database_id, asset_id, CAST(
                CASE WHEN contains(lower(file_key), {q}) THEN 2.0 ELSE 0.0 END
              + CASE WHEN contains(lower(file_ext), {q}) THEN 1.0 ELSE 0.0 END
                AS DOUBLE)
            FROM files WHERE NOT is_archived AND {auth}""")
        cols = "rectype, database_id, asset_id, score" if k == "dual" else "database_id, asset_id, score"
        return oracle_with("assets", "files") + (
            f"SELECT {cols} FROM ({' UNION ALL '.join(parts)}) WHERE score > 0.01 "
            f"ORDER BY score DESC, database_id, asset_id LIMIT {gen.PAGE}"
        )
    if k == "metadata_query":
        mkey, _, mval = p("mq").partition(":")
        v = mval.lower()
        pred = f"lower(mv) LIKE {_q(_like(v))}" if ("*" in v or "?" in v) else f"contains(lower(mv), {_q(v)})"
        return oracle_with("assets", "metadata") + f"""
            , m AS (
                SELECT database_id, asset_id, MAX(metadata_value) AS mv
                FROM metadata WHERE file_path = '/' AND metadata_key = {_q(mkey)}
                GROUP BY database_id, asset_id
            )
            SELECT a.database_id, a.asset_id FROM assets a JOIN m
              ON a.database_id = m.database_id AND a.asset_id = m.asset_id
            WHERE NOT a.is_archived AND {pred} AND {auth.replace('database_id', 'a.database_id')}
            ORDER BY a.database_id, a.asset_id LIMIT {gen.PAGE}
        """
    # facets
    f = p("field")
    if f == "file_ext":
        src = f"SELECT file_ext AS v FROM files WHERE NOT is_archived AND {key} AND {auth}"
    elif f == "tags":
        base = f"FROM assets WHERE NOT is_archived AND {key} AND {auth}"
        src = f"SELECT tag1 AS v {base} UNION ALL SELECT tag2 {base}"
    else:
        src = f"SELECT {f} AS v FROM assets WHERE NOT is_archived AND {key} AND {auth}"
    return oracle_with("assets", "files") + (
        f"SELECT {_q(f)}, v, COUNT(*) AS n FROM ({src}) GROUP BY v "
        "ORDER BY n DESC, v LIMIT 1000"
    )
