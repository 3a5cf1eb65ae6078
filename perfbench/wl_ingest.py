"""catalog_ingest: routed CDC micro-batches into the search-table sinks,
with read-your-write lookups after each batch.

Set-up registers the ``sources.vams`` views over the fixture and loads
both sinks by replaying an INSERT change log of every asset and file
through ``streaming.cdc.apply_routed_cdc_batch`` in ``manifest`` commit
mode. Each timed operation hands one seeded batch of routed changes to
the same function; the recompute step is ``operators.search_tables``'s
builders restricted to the batch's keys by a semi-join. Ten lookups of
changed keys then read the sinks through ``read_sink``; the first of
them confirms that the batch is visible. Every fifth batch,
``compact_sink`` runs on both sinks.

Checks: each lookup must find a key exactly when it is live (in the
loop); after the loop, every row a lookup returned must equal the
recompute of its key, and each whole sink must equal a from-scratch
build minus the removed keys. The source tables do not change during
a run, so a key's recompute is the same at every batch.
"""

from __future__ import annotations

import json
import os
import time

import gen
from tracing import Tracer, p50, pct, supported_percentile

ASSET_KEYS = ["database_id", "asset_id"]
FILE_KEYS = ["database_id", "asset_id", "file_path"]
KEY_COLS = {"asset": ASSET_KEYS, "file": FILE_KEYS}
LOOKUPS = 10
COMPACT_EVERY = 5


class IngestWorkload:
    name = "catalog_ingest"
    setup_repeats = 1
    min_ops = 1  # batches per timed loop

    def __init__(self, spark, tracer: Tracer, work: str, fixture: str,
                 tables: dict, seed: int):
        self.spark, self.tr, self.work, self.fixture, self.seed = (
            spark, tracer, work, fixture, seed,
        )
        self.files = gen.file_keys(tables)

    # -- set-up --------------------------------------------------------------
    def setup(self) -> None:
        from pyspark.sql import functions as F

        from visual_asset_management_system_spark.operators.search_tables import (
            build_search_assets,
            build_search_files,
        )
        from visual_asset_management_system_spark.sources.vams import (
            register_vams_views,
        )
        from visual_asset_management_system_spark.streaming.cdc import (
            apply_routed_cdc_batch,
        )

        spark = self.spark
        register_vams_views(spark, self.fixture)
        t = {n: spark.table(n) for n in (
            "assets", "buckets", "metadata", "asset_links", "files",
            "file_metadata", "file_attributes",
        )}
        file_key = ["database_id", "asset_id", "file_key"]

        def recompute_assets(keys):
            with self.tr.span("cdc.recompute"):
                links = t["asset_links"]
                touching = links.join(
                    keys.withColumnsRenamed({"database_id": "from_database_id",
                                             "asset_id": "from_asset_id"}),
                    ["from_database_id", "from_asset_id"], "left_semi",
                ).unionByName(links.join(
                    keys.withColumnsRenamed({"database_id": "to_database_id",
                                             "asset_id": "to_asset_id"}),
                    ["to_database_id", "to_asset_id"], "left_semi",
                ))
                return build_search_assets(
                    t["assets"].join(keys, ASSET_KEYS, "left_semi"),
                    t["buckets"],
                    t["metadata"].join(keys, ASSET_KEYS, "left_semi"),
                    touching,
                )

        def recompute_files(keys):
            with self.tr.span("cdc.recompute"):
                k = keys.withColumnsRenamed({"file_path": "file_key"})
                return build_search_files(
                    t["files"].join(k, file_key, "left_semi"),
                    t["assets"],
                    t["file_metadata"].join(k, file_key, "left_semi"),
                    t["file_attributes"].join(k, file_key, "left_semi"),
                ).withColumnsRenamed({"file_key": "file_path"})

        self.recompute = {"asset": recompute_assets, "file": recompute_files}
        self.sinks = {
            "asset": os.path.join(self.work, "sinks", "assets"),
            "file": os.path.join(self.work, "sinks", "files"),
        }
        self.all_keys = {
            "asset": t["assets"].select(*ASSET_KEYS),
            "file": t["files"].select(
                "database_id", "asset_id", F.col("file_key").alias("file_path")
            ),
        }
        null = F.lit(None).cast("string")
        log = (
            t["assets"].select(
                F.lit("assets").alias("source"), "database_id", "asset_id",
                null.alias("file_path"))
            .unionByName(t["files"].select(
                F.lit("files").alias("source"), "database_id", "asset_id",
                F.col("file_key").alias("file_path")))
            .select(
                F.lit(0).cast("bigint").alias("seq"),
                F.lit("INSERT").alias("event_name"),
                "source", "database_id", "asset_id",
                null.alias("new_image"),
                F.lit(None).cast("timestamp").alias("event_time"),
                "file_path", null.alias("to_database_id"),
                null.alias("to_asset_id"),
            )
        )
        t0 = time.perf_counter()
        apply_routed_cdc_batch(log, self.recompute, self.sinks, commit_mode="manifest")
        self.load_s = time.perf_counter() - t0

    # -- one batch -----------------------------------------------------------
    def _apply(self, rows: list[tuple]) -> None:
        from visual_asset_management_system_spark.streaming import cdc

        batch = self.spark.createDataFrame(rows, cdc.ROUTED_CHANGE_LOG_SCHEMA)
        with self.tr.span("cdc.apply"):
            cdc.apply_routed_cdc_batch(
                batch, self.recompute, self.sinks, commit_mode="manifest"
            )
        for r in rows:
            if r[2] == "assets":
                key = (r[3], r[4])
                if r[1] == "REMOVE":
                    self.removed.add(key)
                else:
                    self.removed.discard(key)

    @staticmethod
    def _lookup_keys(rows: list[tuple]) -> list[tuple[str, tuple]]:
        assets = [("asset", (r[3], r[4])) for r in rows if r[2] == "assets"]
        files = [("file", (r[3], r[4], r[7])) for r in rows if r[2] in ("files", "metadata")]
        n_assets = min(LOOKUPS // 2, len(assets))
        return assets[:n_assets] + files[: LOOKUPS - n_assets]

    def _lookups(self, rows: list[tuple]) -> list[float]:
        """Read-your-write lookups; returns their latencies. A lookup that
        finds a removed key, or misses a live one, is a failed operation."""
        from pyspark.sql import functions as F

        from visual_asset_management_system_spark.streaming.cdc import read_sink

        out = []
        for target, key in self._lookup_keys(rows):
            t0 = time.perf_counter()
            with self.tr.span("cdc.read"):
                cond = None
                for c, v in zip(KEY_COLS[target], key):
                    cond = (F.col(c) == v) if cond is None else cond & (F.col(c) == v)
                got = read_sink(self.spark, self.sinks[target], "manifest").filter(
                    cond).collect()
            out.append(time.perf_counter() - t0)
            live = not (target == "asset" and key in self.removed)
            if bool(got) != live:
                self.lookup_failures += 1
                print(f"lookup of {target} {key}: found={bool(got)} live={live}",
                      flush=True)
            self.seen[target].update(_row(r) for r in got)
        return out

    # -- timed loop ----------------------------------------------------------
    def warm_up(self) -> dict:
        return self.measure(0, 1)

    def measure(self, seconds: float, min_ops: int) -> dict:
        """Apply whole batches, at least ``min_ops``, until ``seconds``
        have passed."""
        from visual_asset_management_system_spark.streaming.cdc import compact_sink

        if not hasattr(self, "batches"):
            # the change stream and sink state carry over between calls
            # (the traced run measures twice)
            self.batches = gen.change_batches(self.seed, 10**6, self.files)
            self.n_batches = 0
            self.removed: set = set()
            self.seen = {"asset": set(), "file": set()}
        self.lookup_failures = 0
        self.visible: list[float] = []
        self.lookup_lat: list[float] = []
        self.compact_lat: list[float] = []
        self.layout: list[dict] = []
        attempted = failed = changes = 0
        t_start = time.perf_counter()
        while attempted < min_ops or time.perf_counter() - t_start < seconds:
            rows = next(self.batches)
            self.tr.op(self.n_batches)
            self.n_batches += 1
            attempted += 1
            before = self._manifests() if self.tr.enabled else None
            t0 = time.perf_counter()
            try:
                self._apply(rows)
                applied = time.perf_counter() - t0
                lat = self._lookups(rows)
            except Exception as exc:  # noqa: BLE001 — counted, run goes on
                failed += 1
                print(f"batch {attempted} failed: {exc!r}"[:500], flush=True)
                continue
            self.visible.append(applied + lat[0])
            self.lookup_lat.extend(lat)
            changes += len(rows)
            if before is not None:
                self.layout.append(self._layout_change(before, rows))
            if self.n_batches % COMPACT_EVERY == 0:
                before = self._manifests() if self.tr.enabled else None
                t1 = time.perf_counter()
                with self.tr.span("cdc.compact"):
                    for path in self.sinks.values():
                        compact_sink(self.spark, path, commit_mode="manifest")
                self.compact_lat.append(time.perf_counter() - t1)
                if before is not None:
                    self.compact_bytes = self._layout_change(before, [])["bytes"]
        return {
            "attempted": attempted,
            "failed": failed + self.lookup_failures,
            "elapsed": time.perf_counter() - t_start,
            "changes": changes,
        }

    # -- storage layout (traced runs) --------------------------------------------
    def _manifests(self) -> dict[str, dict]:
        out = {}
        for target, path in self.sinks.items():
            with open(os.path.join(path, "_manifest.json")) as f:
                out[target] = json.load(f)["parts"]
        return out

    def _bytes(self, target: str, rel: str) -> tuple[int, int]:
        d = os.path.join(self.sinks[target], rel)
        files = [f for f in os.listdir(d) if f.endswith(".parquet")]
        return len(files), sum(os.path.getsize(os.path.join(d, f)) for f in files)

    def _layout_change(self, before: dict, rows: list[tuple]) -> dict:
        """Manifest entries a batch changed, the bytes it wrote and the
        number of distinct keys it routed."""
        after = self._manifests()
        parts = written = 0
        for target, man in after.items():
            for p, rel in man.items():
                if before[target].get(p) != rel:
                    parts += 1
                    written += self._bytes(target, rel)[1]
        keys = set()
        for r in rows:
            if r[2] == "assets" or (r[2] == "metadata" and r[7] == "/"):
                keys.add((r[3], r[4]))
            elif r[2] == "asset_links":
                keys.update({(r[3], r[4]), (r[8], r[9])})
            else:
                keys.add((r[3], r[4], r[7]))
        return {"parts": parts, "bytes": written, "keys": len(keys)}

    # -- output checks ---------------------------------------------------------
    def _sink_rows(self, target: str) -> set:
        from visual_asset_management_system_spark.streaming.cdc import read_sink

        df = read_sink(self.spark, self.sinks[target], "manifest")
        return set() if df is None else {_row(r) for r in df.collect()}

    def check(self) -> int:
        """Rows the lookups returned against their recompute, then the
        whole sinks against a from-scratch build minus removed keys."""
        bad = 0
        for target in ("asset", "file"):
            full = {
                _row(r)
                for r in self.recompute[target](self.all_keys[target]).collect()
            }
            if not self.seen[target] <= full:
                bad += 1
                print(f"a {target} lookup returned a row its recompute does not",
                      flush=True)
            if target == "asset":
                full = {r for r in full if _key(r) not in self.removed}
            if self._sink_rows(target) != full:
                bad += 1
                print(f"the {target} sink differs from a from-scratch build",
                      flush=True)
        return bad

    # -- metrics ---------------------------------------------------------------
    def metrics(self, stats: dict) -> tuple[dict, dict]:
        out = {
            "latency_ms": (1000 * p50(self.visible), "ms"),
            "throughput_per_s": (stats["changes"] / stats["elapsed"], "1/s"),
        }
        detail = {
            "visible_p50_ms": out["latency_ms"],
            "changes_per_s": out["throughput_per_s"],
            "lookup_p50_ms": (1000 * p50(self.lookup_lat), "ms"),
            "batches": (len(self.visible), "count"),
            "lookup_count": (len(self.lookup_lat), "count"),
        }
        q = supported_percentile(len(self.lookup_lat))
        if q:
            detail[f"lookup_p{q}_ms"] = (1000 * pct(self.lookup_lat, q), "ms")
        return out, detail

    def layer_metrics(self) -> dict:
        st = self.tr.self_times()
        n = max(1, len(self.visible))
        out = {
            "cdc.initial_load_s": (self.load_s, "s"),
            "cdc.route_ms": (1000 * sum(st.get("cdc.route", [])) / n, "ms"),
            "cdc.recompute_ms": (1000 * sum(st.get("cdc.recompute", [])) / n, "ms"),
            "cdc.apply_ms": (1000 * sum(st.get("cdc.apply", [])) / n, "ms"),
            "cdc.read_ms": (1000 * p50(st["cdc.read"]), "ms"),
        }
        if self.layout:
            keys = sum(x["keys"] for x in self.layout)
            out["cdc.touched_parts_per_batch"] = (
                sum(x["parts"] for x in self.layout) / len(self.layout), "count")
            out["cdc.bytes_written_per_changed_row"] = (
                sum(x["bytes"] for x in self.layout) / max(1, keys), "bytes")
        if self.compact_lat:
            out["cdc.compact_ms"] = (1000 * p50(self.compact_lat), "ms")
            out["cdc.compact_bytes_rewritten"] = (self.compact_bytes, "bytes")
        files = size = 0
        for target, man in self._manifests().items():
            for rel in man.values():
                n_files, n_bytes = self._bytes(target, rel)
                files += n_files
                size += n_bytes
        live = sum(len(self._sink_rows(t)) for t in self.sinks)
        out["cdc.sink_files"] = (files, "count")
        out["cdc.sink_bytes_per_live_row"] = (size / max(1, live), "bytes")
        return out

    def traced_calls(self):
        """Package functions the traced run wraps in spans because the
        workload does not call them directly."""
        from visual_asset_management_system_spark.streaming import cdc

        return [(cdc, "route_changes", "cdc.route")]


def _row(r) -> tuple:
    """A sink or recompute row as a hashable, column-order-free tuple."""
    d = r.asDict()
    d.pop("_part", None)
    return tuple(sorted((k, _freeze(v)) for k, v in d.items()))


def _key(row: tuple) -> tuple[str, str]:
    d = dict(row)
    return d["database_id"], d["asset_id"]


def _freeze(v):
    if isinstance(v, dict):
        return tuple(sorted(v.items()))
    if isinstance(v, list):
        return tuple(v)
    return v
