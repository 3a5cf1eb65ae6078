"""API façade: the reference's REST surface mapped 1:1 onto engine plans.

A user of the reference talks to Lambda handlers behind API Gateway
routes; this class exposes the same operations as methods returning
DataFrames (callers ``collect()``/page as needed). Each method cites
the handler it re-expresses; all heavy lifting lives in the operator
modules, so this file is intentionally thin glue — the "switch your
client here" map.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .models.search import SearchRequest
from .operators.authz import Constraint, compile_constraints
from .operators.eav import (
    bulk_validation_tally,
    metadata_map,
    validate_metadata,
)
from .operators.export import export_entities, export_manifest
from .operators.graph import (
    create_links,
    descendants,
    graph_export,
    link_auth_counts,
    one_hop,
)
from .operators.reconcile import missing_in_storage, register_candidates
from .operators.versions import as_of, latest_versions
from .plans.compiler import SearchCompiler, index_mappings
from .plans.pagination import keyset_page_df
from .plans.workflow import (
    Workflow,
    auto_execute_triggers,
    ingest_workflow_outputs,
    list_executions,
)


class CatalogService:
    """One façade over the catalog tables.

    ``tables`` maps logical names (assets, files, metadata, asset_links,
    asset_versions, metadata_schemas, search_assets, search_files, …) to
    DataFrames — typically :func:`queries.tables`'s output, or reads of
    the CDC-maintained parquet/Delta tables in a deployment.
    ``constraints`` (operators.authz) applies row-level ABAC inside
    every plan that lists entities.
    """

    def __init__(
        self,
        tables: dict[str, DataFrame],
        constraints: list[Constraint] | None = None,
        constraints_df: DataFrame | None = None,
        enable_bm25: bool = False,
    ) -> None:
        self.t = tables
        if constraints_df is not None:
            # data-driven policy (ConstraintsStorageTable analog,
            # authz/__init__.py:387-559) wins over the literal path
            from .operators.authz import compile_constraints_df

            self.auth: Column | None = compile_constraints_df(
                constraints_df, "GET"
            )
        else:
            self.auth = (
                compile_constraints(constraints, "GET") if constraints else None
            )
        inverted = None
        if enable_bm25:
            from .operators.inverted_index import build_inverted_index
            from .plans.compiler import DEFAULT_TEXT_FIELDS, SearchCompiler as _SC

            inverted = {
                entity: build_inverted_index(
                    tables[f"search_{entity}s"],
                    _SC.ENTITY_KEYS[entity],
                    DEFAULT_TEXT_FIELDS[entity],
                )
                for entity in ("asset", "file")
            }
        self._compiler = SearchCompiler(
            {"asset": tables["search_assets"], "file": tables["search_files"]},
            auth_predicate=self.auth,
            inverted_indexes=inverted,
        )

    # -- search (handlers/search/search.py) --------------------------------
    def search(self, req: SearchRequest) -> DataFrame:
        """POST /search — dual-entity hits (search.py:949-1776)."""
        return self._compiler.hits(req)

    def facets(self, req: SearchRequest) -> DataFrame:
        """POST /search aggregations leg (search.py:1392-1486)."""
        return self._compiler.facets(req)

    def mappings(self) -> DataFrame:
        """GET /search — index mappings (search.py:1782-1800)."""
        return index_mappings(self._compiler.search_tables)

    def search_with_explanations(self, req: SearchRequest) -> DataFrame:
        """POST /search with per-hit match explanations
        (search.py:1569-1621 _add_search_explanation)."""
        return self._compiler.explain(self._compiler.hits(req), req)

    def phrase_search(
        self, phrase: str, entity: str = "asset", size: int = 500
    ) -> DataFrame:
        """POST /search with a quoted phrase — exact token adjacency as
        filter context plus the match-count score tier (the reference's
        query_string quoting, search.py:1089-1121). Thin wrapper over
        the compiler's quoted-phrase path so callers don't hand-build
        the quoting."""
        quoted = phrase if phrase.startswith('"') else f'"{phrase}"'
        return self.search(
            SearchRequest(query=quoted, entity_types=(entity,), size=size)
        )

    def date_facet(
        self,
        entity: str = "file",
        field: str = "last_modified",
        granularity: str = "month",
    ) -> DataFrame:
        """POST /search date_histogram aggregation (the OpenSearch date
        facet of the search UI's timeline filter): bucket counts on a
        truncated date key. Granularity is year | month | day; the
        formatting stays JVM-side and the exchange carries only
        buckets-in-range rows."""
        fmt = {"year": "yyyy", "month": "yyyy-MM", "day": "yyyy-MM-dd"}[
            granularity
        ]
        table = self.t[f"search_{entity}s" if entity in ("asset", "file")
                       else entity]
        return (
            table.groupBy(F.date_format(field, fmt).alias("bucket"))
            .agg(F.count(F.lit(1)).alias("doc_count"))
            .orderBy("bucket")
        )

    def suggest_index(
        self, entity: str = "asset", text_col: str = "asset_name"
    ) -> DataFrame:
        """Completion-suggester index build (write path): the
        (prefix -> top-3 tokens) table over live entity names —
        maintained state exactly like the search tables."""
        from .operators.inverted_index import build_suggest_index

        return build_suggest_index(self._suggest_source(entity), text_col)

    def _suggest_source(self, entity: str) -> DataFrame:
        """The rows that feed the suggester: live entity names."""
        return self.t[f"{entity}s"].filter(~F.col("is_archived"))

    def suggest(self, prefix: str, entity: str = "asset") -> DataFrame:
        """Type-ahead suggestions for one prefix — a point lookup. When
        the tables dict carries a CDC-maintained ``suggest`` table
        (suggest_index_update's ``suggest/`` sink, loaded with
        ``streaming.cdc.read_sink`` — the sink's committed snapshot),
        serve from it; otherwise compute that one prefix's rows over
        live entity names (the rows the full index build would hold
        for it, without building it)."""
        from .operators.inverted_index import suggest_for_prefix

        prefix = prefix.lower()
        if "suggest" in self.t:
            index = self.t["suggest"].filter(F.col("prefix") == prefix)
        else:
            index = suggest_for_prefix(
                self._suggest_source(entity), "asset_name", prefix
            )
        return index.select("prefix", "suggestion", "freq", "rank").orderBy("rank")

    def geo_search(
        self,
        points: DataFrame,
        lat: float,
        lon: float,
        radius_km: float,
        lat_col: str = "lat",
        lon_col: str = "lon",
        size: int = 100,
    ) -> DataFrame:
        """Geo-distance filter — the OpenSearch geo_distance query over
        gp_ geo_point fields (models/indexing.py:58-106 mapping).
        ``points`` is any entity frame carrying coordinate columns;
        distance is pure Column trigonometry (functions/geo.py),
        grid-rounded to 1 m before the radius comparison."""
        from .functions.geo import haversine_km

        dist = haversine_km(
            F.lit(lat), F.lit(lon), F.col(lat_col), F.col(lon_col)
        )
        # full-row tiebreak after dist_km: rounded distances tie freely
        # (1 m grid), and a single-column tiebreak would make the
        # returned page nondeterministic across partitionings
        return (
            points.withColumn(
                "dist_km", F.floor(dist * 1000 + 0.5) / 1000
            )
            .filter(F.col("dist_km") < radius_km)
            .orderBy("dist_km", *points.columns)
            .limit(size)
        )

    def suggest_update(
        self, state_dir: str, changes: DataFrame, batch_key: str, **kwargs
    ) -> DataFrame:
        """CDC maintenance step for the suggest index: apply one batch
        of entity upserts/deletes to the maintained prefix table
        (operators/inverted_index.suggest_index_update — crash-safe
        partition rewrites, replay-idempotent via the persisted
        affected-prefix manifest)."""
        from .operators.inverted_index import suggest_index_update

        spark = changes.sparkSession
        return suggest_index_update(spark, state_dir, changes, batch_key, **kwargs)

    def more_like_this(
        self,
        database_id: str,
        asset_id: str,
        top_terms: int = 10,
        min_match: int = 2,
        size: int = 20,
    ) -> DataFrame:
        """"Find assets like this one" — OpenSearch more_like_this over
        the searched text fields (name + description), seeded by one
        asset (operators/inverted_index.more_like_this; differential
        oracle at queries.py q_doc_more_like_this)."""
        from .operators.inverted_index import more_like_this as _mlt

        live = self.t["assets"].filter(~F.col("is_archived")).withColumn(
            "_mlt_key",
            F.concat_ws("|", F.col("database_id"), F.col("asset_id")),
        )
        return _mlt(
            live,
            "_mlt_key",
            F.concat_ws(" ", F.col("asset_name"), F.col("description")),
            F.col("_mlt_key") == f"{database_id}|{asset_id}",
            top_terms=top_terms,
            min_match=min_match,
            k=size,
        )

    def percolate(self, changed: DataFrame, stored_queries: DataFrame) -> DataFrame:
        """Which saved searches match these changed assets — the
        subscription/alerting reverse search (checkSubscriptionService +
        sendEmail notification fan-out decide WHO to tell; this decides
        WHAT matched). ``changed`` carries asset rows; ``stored_queries``
        the (query_id, term_a, term_b, mode) registry
        (operators/inverted_index.percolate; oracle at
        queries.py q_vams_percolate)."""
        from .operators.inverted_index import percolate as _perc

        return _perc(
            changed,
            stored_queries,
            ["database_id", "asset_id"],
            F.concat_ws(" ", F.col("asset_name"), F.col("description")),
        )

    # -- comments / tags / subscriptions (handlers/comments|tags|
    #    tagTypes|subscription/) -------------------------------------------
    def comments_for_version(
        self, database_id: str, asset_id: str, asset_version_id: str
    ) -> DataFrame:
        """GET comments for one asset version (commentService.py:119-151,
        begins_with on the composite range key → version equality)."""
        return self.t["comments"].filter(
            (F.col("database_id") == database_id)
            & (F.col("asset_id") == asset_id)
            & (F.col("asset_version_id") == asset_version_id)
        )

    def tags(self) -> DataFrame:
        """GET tags enriched with the type referential check
        (tagService.py; createTag.py:90)."""
        ty = self.t["tag_types"].select(
            "tag_type_name", F.lit(True).alias("_declared")
        )
        return (
            self.t["tags"]
            .join(F.broadcast(ty), "tag_type_name", "left")
            .withColumn(
                "type_declared", F.coalesce(F.col("_declared"), F.lit(False))
            )
            .drop("_declared")
        )

    def subscribers(self, entity_name: str, entity_id: str) -> DataFrame:
        """checkSubscriptionService semantics: who is subscribed to this
        entity's events."""
        return self.t["subscriptions"].filter(
            (F.col("entity_name") == entity_name)
            & (F.col("entity_id") == entity_id)
        )

    # -- databases / roles / pipelines (handlers/databases|roles|
    #    userRoles|pipelines/) ---------------------------------------------
    def databases(self) -> DataFrame:
        """GET databases with live asset counts (databaseService.py;
        the reference's persisted assetCount computed from truth)."""
        live = self.t["assets"].filter(~F.col("is_archived")).select(
            "database_id", "asset_id"
        )
        return (
            self.t["databases"]
            .join(live, "database_id", "left")
            .groupBy(*self.t["databases"].columns)
            .agg(F.count("asset_id").alias("asset_count"))
        )

    def roles_for_user(self, user_id: str) -> DataFrame:
        """get_all_roles_for_user (userRolesService.py:69-88)."""
        return self.t["user_roles"].filter(
            F.col("user_id") == user_id
        ).join(F.broadcast(self.t["roles"]), "role_name", "left")

    def enabled_pipelines(self, database_id: str) -> DataFrame:
        """Enabled pipelines for one database (pipelineService.py /
        enablePipeline.py)."""
        return self.t["pipelines"].filter(
            (F.col("database_id") == database_id) & F.col("enabled")
        )

    # -- assets (handlers/assets/*.py) --------------------------------------
    def get_asset(self, database_id: str, asset_id: str) -> DataFrame:
        """GET /database/{d}/assets/{a} — point lookup."""
        df = self.t["assets"].filter(
            (F.col("database_id") == database_id)
            & (F.col("asset_id") == asset_id)
        )
        return df.filter(self.auth) if self.auth is not None else df

    def list_assets(
        self, database_id: str, page_size: int = 3000, token: str | None = None
    ) -> DataFrame:
        """GET /database/{d}/assets — keyset-paged listing
        (assetService.py:760-804)."""
        df = self.t["assets"].filter(F.col("database_id") == database_id)
        if self.auth is not None:
            df = df.filter(self.auth)
        return keyset_page_df(df, ["asset_id"], page_size, token)

    def export_database(self, database_id: str, out_dir: str) -> DataFrame:
        """Export sink (assetExportService.py) → written-data manifest."""
        export_entities(
            self.t["assets"].filter(F.col("database_id") == database_id),
            out_dir,
        )
        spark = self.t["assets"].sparkSession
        return export_manifest(spark, out_dir)

    # -- metadata (handlers/metadata/*.py) ----------------------------------
    def get_metadata(self, database_id: str, asset_id: str) -> DataFrame:
        """GET metadata — the MD_ map for one entity
        (metadataService.py:1460-1479)."""
        rows = self.t["metadata"].filter(
            (F.col("database_id") == database_id)
            & (F.col("asset_id") == asset_id)
        )
        return metadata_map(rows)

    def validate(self) -> DataFrame:
        """Schema validation sweep (common/metadataSchemaValidation.py +
        models/metadata.py:74-221 type checks)."""
        return validate_metadata(self.t["metadata"], self.t["metadata_schemas"])

    def bulk_tally(self) -> DataFrame:
        """Bulk-operation result counts (models/metadata.py:260-269)."""
        return bulk_validation_tally(
            self.t["metadata"], self.t["metadata_schemas"]
        )

    # -- links / graph (handlers/assetLinks/*.py) ---------------------------
    def get_asset_links(self, database_id: str, asset_id: str) -> DataFrame:
        """GET asset links — enriched 1-hop with per-neighbor
        authorization (assetLinksService.py:207-331). With no constraint
        set, every existing neighbor is authorized (the reference's
        no-policy default)."""
        return one_hop(
            self.t["asset_links"], database_id, asset_id,
            assets=self.t["search_assets"],
            auth_predicate=self.auth if self.auth is not None else F.lit(True),
        )

    def unauthorized_counts(self, database_id: str, asset_id: str) -> DataFrame:
        """unauthorizedCounts per class (assetLinksService.py:250-331)."""
        return link_auth_counts(self.get_asset_links(database_id, asset_id))

    def child_tree(self, database_id: str, asset_id: str) -> DataFrame:
        """Recursive descendants (assetLinksService.py:337-405)."""
        return descendants(self.t["asset_links"], database_id, asset_id)

    def create_asset_links(self, candidates: DataFrame) -> DataFrame:
        """POST asset links — constraint-checked insert set
        (createAssetLink.py:73-190); returns candidates + status."""
        return create_links(self.t["asset_links"], candidates)

    def knowledge_graph(self) -> DataFrame:
        """Graph export addon (handlers/addon/garnetFramework/)."""
        return graph_export(self.t["assets"], self.t["asset_links"])

    # -- versions (handlers/assets/assetVersions.py) ------------------------
    def current_versions(self) -> DataFrame:
        return latest_versions(self.t["asset_versions"])

    def versions_as_of(self, ts) -> DataFrame:
        return as_of(self.t["asset_versions"], ts)

    # -- workflows (handlers/workflows/*.py) --------------------------------
    def executions(
        self, wf: Workflow, database_id: str, asset_id: str,
        file_key: str | None = None,
    ) -> DataFrame:
        """List executions by asset (executeWorkflow.py:394-487)."""
        spark: SparkSession = self.t["assets"].sparkSession
        return list_executions(
            wf.executions_df(spark), database_id, asset_id, file_key
        )

    def ingest_outputs(self, outputs: DataFrame) -> dict[str, DataFrame]:
        """Pipeline output ingestion (processWorkflowExecutionOutput.py)."""
        return ingest_workflow_outputs(outputs)

    def auto_triggers(self, file_events: DataFrame) -> DataFrame:
        """Auto-execute-on-upload requests (sqsAutoExecuteWorkflow.py)."""
        return auto_execute_triggers(file_events, self.t["workflows"])

    # -- corpus construction (BASELINE.json scale extensions) ---------------
    def corpus_stream_update(
        self, state_dir: str, new_docs: DataFrame, **kwargs
    ) -> DataFrame:
        """One incremental corpus-build step: filter -> exact-dedup ->
        near-dedup a batch of NEW documents against the maintained
        fingerprint/signature stores under ``state_dir`` and return the
        accepted rows (operators/corpus.py corpus_index_update — the
        kappa counterpart of the q_corpus_build batch plan)."""
        from .operators.corpus import corpus_index_update

        spark = new_docs.sparkSession
        return corpus_index_update(spark, state_dir, new_docs, **kwargs)

    def substring_dedup_update(
        self, state_dir: str, new_docs: DataFrame, **kwargs
    ) -> DataFrame:
        """One incremental substring-dedup step: rewrite a batch of NEW
        documents against the maintained gram-frequency store under
        ``state_dir`` (operators/corpus.py substring_index_update —
        PREFIX semantics: each batch equals the batch operator over the
        corpus prefix; the kappa counterpart of q_doc_substring_dedup)."""
        from .operators.corpus import substring_index_update

        spark = new_docs.sparkSession
        return substring_index_update(spark, state_dir, new_docs, **kwargs)

    # -- data selection (training-mix assembly) -----------------------------
    def dsir_weights(
        self, raw: DataFrame, target: DataFrame, **kwargs
    ) -> DataFrame:
        """DSIR importance log-weights for every ``raw`` doc against a
        ``target`` corpus (operators/sampling.py dsir_log_weights; Xie
        et al. 2023). Pass ``n_buckets`` for the hashed 100 TB path."""
        from .operators.sampling import dsir_log_weights

        return dsir_log_weights(raw, target, **kwargs)

    def dsir_sample(
        self, raw: DataFrame, target: DataFrame, k: int, **kwargs
    ) -> DataFrame:
        """End-to-end DSIR selection: weights + deterministic
        Gumbel-top-k resample of ``k`` docs (the paper's sampler;
        operators/sampling.py dsir_gumbel_topk). Weight kwargs go to
        dsir_log_weights; ``salt``/``temperature`` to the sampler."""
        from .operators.sampling import dsir_gumbel_topk, dsir_log_weights

        sample_kw = {
            key: kwargs.pop(key)
            for key in ("salt", "temperature", "grid")
            if key in kwargs
        }
        id_col = kwargs.get("id_col", "doc_id")
        w = dsir_log_weights(raw, target, **kwargs)
        return dsir_gumbel_topk(w, k, id_col=id_col, **sample_kw)

    def token_budget(
        self, docs: DataFrame, budget: int, **kwargs
    ) -> DataFrame:
        """Deterministic token-budget subsample — the hash-ordered
        corpus prefix whose token total first reaches ``budget``
        (operators/sampling.py token_budget_sample)."""
        from .operators.sampling import token_budget_sample

        return token_budget_sample(docs, budget, **kwargs)

    def cap_per_group(
        self, df: DataFrame, group_cols, key_col: str, k: int, **kwargs
    ) -> DataFrame:
        """Deterministic at-most-k-rows-per-group cap by content-hash
        order (operators/sampling.py group_cap) — the per-domain
        document guard of a training mix."""
        from .operators.sampling import group_cap

        return group_cap(df, group_cols, key_col, k, **kwargs)

    # -- mergeable sketches (segment-level synopses) -------------------------
    def distinct_sketch(
        self, df: DataFrame, key_col: str, group_cols=None, **kwargs
    ) -> DataFrame:
        """Per-group KMV distinct-count sketch (operators/sketches.py
        kmv_sketch): k minimum content hashes per group — mergeable via
        ``merge_distinct_sketches``, priced via kmv_estimate. Built once
        per segment, it answers any later distinct-count rollup without
        re-reading the raw relation."""
        from .operators.sketches import kmv_sketch

        return kmv_sketch(df, key_col, group_cols, **kwargs)

    def merge_distinct_sketches(self, sketches: DataFrame, **kwargs) -> DataFrame:
        """Union-merge KMV sketches to a coarser rollup level
        (operators/sketches.py kmv_merge) — sketch-sized work only."""
        from .operators.sketches import kmv_merge

        return kmv_merge(sketches, **kwargs)

    def frequency_sketch(
        self, df: DataFrame, key_col: str, **kwargs
    ) -> DataFrame:
        """Deterministic count-min grid over ``key_col`` (operators/
        sketches.py cms_build); cells add across segments."""
        from .operators.sketches import cms_build

        return cms_build(df, key_col, **kwargs)

    def frequency_probe(
        self, keys: DataFrame, cms: DataFrame, key_col: str, **kwargs
    ) -> DataFrame:
        """Point-query a count-min grid for every row of ``keys``
        (operators/sketches.py cms_probe; never underestimates)."""
        from .operators.sketches import cms_probe

        return cms_probe(keys, cms, key_col, **kwargs)

    def distinct_sketch_update(
        self, store_dir: str, new_df: DataFrame, key_col: str, **kwargs
    ) -> None:
        """Append a batch's per-group minima to a maintained KMV store
        (operators/sketches.py kmv_store_update — idempotent under
        replay; read back via ``distinct_sketch_read``)."""
        from .operators.sketches import kmv_store_update

        kmv_store_update(
            new_df.sparkSession, store_dir, new_df, key_col, **kwargs
        )

    def distinct_sketch_read(self, spark, store_dir: str, **kwargs) -> DataFrame:
        """Current sketches of a maintained KMV store
        (operators/sketches.py kmv_store_sketch)."""
        from .operators.sketches import kmv_store_sketch

        return kmv_store_sketch(spark, store_dir, **kwargs)

    def frequency_sketch_update(
        self, store_dir: str, new_df: DataFrame, key_col: str, **kwargs
    ) -> None:
        """Append one batch's count-min grid to a maintained store
        (operators/sketches.py cms_store_update — tag-deduped replays;
        read back via ``frequency_sketch_read``)."""
        from .operators.sketches import cms_store_update

        cms_store_update(
            new_df.sparkSession, store_dir, new_df, key_col, **kwargs
        )

    def frequency_sketch_read(self, spark, store_dir: str) -> DataFrame:
        """Current grid of a maintained count-min store
        (operators/sketches.py cms_store_read)."""
        from .operators.sketches import cms_store_read

        return cms_store_read(spark, store_dir)

    def membership_filter(
        self, df: DataFrame, key_col: str, **kwargs
    ) -> DataFrame:
        """Deterministic Bloom set-bit relation over ``key_col``
        (operators/sketches.py bloom_build): ≤ m rows, broadcastable,
        OR-mergeable across segments — the semi-join prefilter of the
        sketch tier."""
        from .operators.sketches import bloom_build

        return bloom_build(df, key_col, **kwargs)

    def membership_probe(
        self, keys: DataFrame, bloom: DataFrame, key_col: str, **kwargs
    ) -> DataFrame:
        """Membership verdicts against a Bloom bit relation
        (operators/sketches.py bloom_probe): never a false negative."""
        from .operators.sketches import bloom_probe

        return bloom_probe(keys, bloom, key_col, **kwargs)

    def bottomk_row_sample(
        self, df: DataFrame, id_col: str, k: int, **kwargs
    ) -> DataFrame:
        """Deterministic mergeable bottom-k-by-hash row sample
        (operators/sketches.py bottomk_sample) — the order-free
        quantile synopsis: segments merge via ``bottomk_merge``,
        quantiles read via ``quantiles_of_sample``."""
        from .operators.sketches import bottomk_sample

        return bottomk_sample(df, id_col, k, **kwargs)

    def quantiles_of_sample(
        self, sample: DataFrame, value_col: str, quantiles, **kwargs
    ) -> DataFrame:
        """Exact interpolated percentiles of a bottom-k sample
        (operators/sketches.py sample_quantiles)."""
        from .operators.sketches import sample_quantiles

        return sample_quantiles(sample, value_col, list(quantiles), **kwargs)

    def anti_join_prefiltered(
        self, left: DataFrame, right: DataFrame,
        left_key: str, right_key: str, **kwargs
    ) -> DataFrame:
        """Anti-join with a Bloom semi-join reduction
        (operators/sketches.py bloom_prefiltered_anti_join): exact for
        any filter parameters; only the bloom-positive sliver of
        ``left`` pays the shuffle."""
        from .operators.sketches import bloom_prefiltered_anti_join

        return bloom_prefiltered_anti_join(
            left, right, left_key, right_key, **kwargs
        )

    # -- exact set-similarity (zero-false-negative near-dup) ----------------
    def setsim_join(
        self, docs: DataFrame, threshold: float, **kwargs
    ) -> DataFrame:
        """EXACT Jaccard self-join at ``threshold`` via prefix
        filtering (operators/dedup.py setsim_join; Bayardo et al. 2007
        AllPairs / PPJoin) — every qualifying pair, unlike the LSH
        tier's probabilistic recall. Pass ``items_col`` for a
        pre-shingled item space."""
        from .operators.dedup import setsim_join

        return setsim_join(docs, threshold, **kwargs)

    def setsim_update(
        self, store_dir: str, new_docs: DataFrame, threshold: float, **kwargs
    ) -> DataFrame:
        """One incremental step of the MAINTAINED exact set-similarity
        index (operators/setsim_store.py setsim_index_update): emits
        every pair at jaccard ≥ τ between the new batch and everything
        indexed so far — each pair exactly once, when its later doc
        arrives — then grows the store. The kappa counterpart of
        :meth:`setsim_join` (same exactness, frozen hash token order)."""
        from .operators.setsim_store import setsim_index_update

        spark = new_docs.sparkSession
        return setsim_index_update(
            spark, store_dir, new_docs, threshold, **kwargs
        )

    # -- robust anomaly counts ----------------------------------------------
    def mad_anomaly(
        self,
        df: DataFrame,
        value_col: str,
        group_cols: list[str],
        nsigma: float = 3.0,
    ) -> DataFrame:
        """Median/MAD robust outlier counts per group (the
        q_events_anomaly_mad plan shape: two per-group exact-percentile
        aggregations + two broadcast joins of the tiny stats dims; at
        100 TB swap percentile for approx_percentile with the same
        shape). Flags rows with |value − median| > nsigma · MAD."""
        med = df.groupBy(*group_cols).agg(
            F.expr(f"percentile({value_col}, 0.5)").alias("med")
        )
        dev = df.join(F.broadcast(med), group_cols).withColumn(
            "adev", F.abs(F.col(value_col) - F.col("med"))
        )
        mad = dev.groupBy(*group_cols).agg(
            F.expr("percentile(adev, 0.5)").alias("mad")
        )
        return (
            dev.join(F.broadcast(mad), group_cols)
            .groupBy(*group_cols)
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(F.max("med"), 6).alias("med"),
                F.round(F.max("mad"), 6).alias("mad"),
                F.count(
                    F.when(F.col("adev") > nsigma * F.col("mad"), F.lit(1))
                ).alias("n_anomalies"),
            )
        )

    # -- reconciliation (sqsBucketSync semantics) ---------------------------
    def reconcile(self, storage_listing: DataFrame) -> dict[str, DataFrame]:
        keys = ["database_id", "asset_id"]
        catalog = self.t["assets"].filter(~F.col("is_archived"))
        return {
            "missing_in_storage": missing_in_storage(
                catalog, storage_listing, keys
            ),
            "to_register": register_candidates(catalog, storage_listing, keys),
        }
