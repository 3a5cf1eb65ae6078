"""corpus_build: incremental corpus construction, one document batch at
a time.

One batch goes through ``operators.corpus.corpus_index_update`` (the
function behind ``CatalogService.corpus_stream_update``: language and
quality filter, exact and MinHash near-duplicate rejection against the
dedup stores), then ``operators.pii.redact`` masks PII in the accepted
documents and ``operators.corpus.pack_sequences`` packs them into
training sequences; the redacted documents and the packing are
appended to stores that grow over the run.

Set-up builds the initial corpus from the fixture's documents, as one
batch into fresh stores. It runs twice, each time into new stores: the
first pays the JVM's cold start, the second runs warm, and together
they warm every path a batch takes, so no separate warm-up batch is
needed. Each timed operation sends one seeded batch of new documents.

Checks, after the loop: the accepted ids equal those of one update over
the same documents in one batch, the stored documents carry no PII
pattern, and the packing holds every token of every accepted document
exactly once, laid out contiguously.
"""

from __future__ import annotations

import os
import re

import gen
from tracing import StealGate, Tracer, p50

SEQ_LEN = 512
N_BUCKETS = 8


class CorpusWorkload:
    name = "corpus_build"
    #: set-ups per run; setup_s is their median
    setup_repeats = 2
    #: batches per timed loop: one batch takes longer than --seconds
    min_ops = 1

    def __init__(self, spark, tracer: Tracer, work: str, fixture: str,
                 tables: dict, seed: int):
        self.spark, self.tr, self.work, self.seed = spark, tracer, work, seed
        docs = tables["documents"]
        self.base = list(zip(docs["doc_id"].tolist(), docs["text"]))
        self.n_setups = 0

    def _df(self, rows):
        return self.spark.createDataFrame(rows, "doc_id long, text string")

    def setup(self) -> None:
        """Build the initial corpus in new stores and restart the
        document stream; the timed loop appends to these stores."""
        self.n_setups += 1
        self.root = os.path.join(self.work, f"corpus-{self.n_setups}")
        self._batch(0, self.base)
        # the document stream and stores carry over between calls of
        # measure (the traced run measures twice)
        self.doc_iter = gen.doc_batches(self.seed, 10**6, [t for _, t in self.base])
        self.batches: list[list[tuple]] = []
        self.n_batches = 0

    def traced_calls(self):
        return []

    def _batch(self, i: int, rows: list[tuple]) -> int:
        from pyspark.sql import functions as F

        from visual_asset_management_system_spark.operators.corpus import (
            corpus_index_update,
            pack_sequences,
        )
        from visual_asset_management_system_spark.operators.pii import redact

        with self.tr.span("corpus.update"):
            accepted = corpus_index_update(
                self.spark, os.path.join(self.root, "state"), self._df(rows),
                batch_key=f"b{i}",
            )
        docs_dir = os.path.join(self.root, "docs", f"batch={i}")
        with self.tr.span("pii.redact"):
            accepted.select("doc_id", redact(F.col("text")).alias("text")).write.parquet(
                docs_dir)
        with self.tr.span("corpus.pack"):
            pack_sequences(
                self.spark.read.parquet(docs_dir), seq_len=SEQ_LEN, n_buckets=N_BUCKETS
            ).write.parquet(os.path.join(self.root, "packed", f"batch={i}"))
        return len(rows)

    def warm_up(self) -> dict:
        """Nothing: the repeated set-ups warm every path a batch takes."""
        return {"attempted": 0, "failed": 0}

    def measure(self, seconds: float, min_ops: int) -> dict:
        """Send whole batches, at least ``min_ops`` counted, until
        ``seconds`` have passed (see ``tracing.StealGate``)."""
        self.lat: list[float] = []
        attempted = failed = docs = 0
        gate = StealGate(seconds, min_ops)
        while gate.more():
            rows = next(self.doc_iter)
            self.tr.op(self.n_batches)
            self.n_batches += 1
            attempted += 1
            gate.start()
            try:
                n = self._batch(self.n_batches, rows)
            except Exception as exc:  # noqa: BLE001 — counted, run goes on
                failed += 1
                gate.end(ok=False)
                print(f"batch {attempted} failed: {exc!r}"[:500], flush=True)
                continue
            self.batches.append(rows)
            wall = gate.end()
            if wall is not None:
                self.lat.append(wall)
                docs += n
        return {
            "attempted": attempted, "failed": failed, "skipped": gate.skipped,
            "elapsed": gate.busy, "docs": docs,
        }

    def check(self) -> int:
        from visual_asset_management_system_spark.operators.corpus import (
            corpus_index_update,
        )
        from visual_asset_management_system_spark.operators.pii import PII_PATTERNS

        spark = self.spark
        stored = spark.read.parquet(os.path.join(self.root, "docs")).collect()
        docs = {r["doc_id"]: r["text"] for r in stored}
        packed = spark.read.parquet(os.path.join(self.root, "packed")).collect()
        streamed = set(docs)
        prefix = self.base + [r for b in self.batches for r in b]
        once = {
            r["doc_id"] for r in corpus_index_update(
                spark, os.path.join(self.root, "check_state"), self._df(prefix)
            ).select("doc_id").collect()
        }
        bad = 0
        if once != streamed:
            bad += 1
            print(f"streamed acceptance differs from one batch: "
                  f"{len(streamed ^ once)} ids", flush=True)
        pii = re.compile("|".join(PII_PATTERNS.values()))
        if any(pii.search(t) for t in docs.values()):
            bad += 1
            print("a stored document still carries PII", flush=True)
        if sorted(r["doc_id"] for r in packed) != sorted(docs):
            bad += 1
            print("packing does not hold every accepted document once", flush=True)
        streams: dict[tuple, list] = {}
        for r in packed:
            if r["n_tokens"] != len(docs.get(r["doc_id"], "").split()):
                bad += 1
                print(f"doc {r['doc_id']} lost tokens in packing", flush=True)
                break
            streams.setdefault((r["batch"], r["bucket"]), []).append(r)
        for rows in streams.values():
            cum = 0
            for r in sorted(rows, key=lambda r: r["doc_id"]):
                if (r["seq_id"], r["offset"]) != divmod(cum, SEQ_LEN):
                    bad += 1
                    print(f"packing of doc {r['doc_id']} is not contiguous", flush=True)
                    break
                cum += r["n_tokens"]
        # accepted documents of the timed batches (batch 0 is the set-up)
        self.n_accepted = sum(r["batch"] > 0 for r in stored)
        return bad

    def metrics(self, stats: dict) -> tuple[dict, dict]:
        out = {
            "latency_ms": (1000 * p50(self.lat), "ms"),
            "throughput_per_s": (stats["docs"] / stats["elapsed"], "1/s"),
        }
        detail = {
            "corpus_batch_p50_ms": out["latency_ms"],
            "docs_per_s": out["throughput_per_s"],
            "batches": (len(self.lat), "count"),
            "skipped_ops": (stats["skipped"], "count"),
        }
        return out, detail

    def layer_metrics(self) -> dict:
        st = self.tr.self_times()
        n = max(1, len(self.lat))
        files = size = 0
        for d, _, names in os.walk(self.root):
            for name in names:
                if name.endswith(".parquet"):
                    files += 1
                    size += os.path.getsize(os.path.join(d, name))
        return {
            "corpus.update_ms": (1000 * sum(st.get("corpus.update", [])) / n, "ms"),
            "pii.redact_ms": (1000 * sum(st.get("pii.redact", [])) / n, "ms"),
            "corpus.pack_ms": (1000 * sum(st.get("corpus.pack", [])) / n, "ms"),
            "corpus.accept_ratio": (
                self.n_accepted / max(1, gen.DOC_BATCH * len(self.batches)), "ratio"),
            "corpus.store_bytes": (size, "bytes"),
            "corpus.store_files": (files, "count"),
        }
