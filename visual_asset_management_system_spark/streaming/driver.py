"""The protocols every maintained store shares, defined once.

**Micro-batch driver.** Every ``start_*_stream`` wrapper is the same
Structured Streaming loop: a file-source stream, ``foreachBatch``
handing each non-empty micro-batch and its id to the store's step
function, a checkpoint directory, and an ``availableNow`` trigger —
process everything available, then stop. A continuous deployment
re-runs the same query on a schedule; the checkpoint makes each run
resume where the last one committed, so the visibility lag is the
schedule interval. The step owns its crash ordering (sink before
state, batch-id tags): the driver only guarantees at-least-once
delivery of each micro-batch id, in order.

**Directory swap.** Every store rewrite (compaction, key merge) writes
the replacement beside the live directory, then swaps in TWO renames —
live → ``<live>.old`` aside, replacement → live — so at no instant is
the only complete copy deleted. A crash between the renames leaves the
store complete but in the aside; :func:`recover_dir`, run before every
store read or rewrite, moves it back before anything can observe an
empty store. Plain POSIX renames cannot make the pair atomic; the
CDC merge sinks (streaming/cdc.py) therefore use no swap at all —
they publish immutable data directories through one atomic manifest
commit, the pattern an object store needs. Single writer per store.

**JSON commit.** Every small JSON file a store commits (the CDC
manifest, the ANN and bottom-k sidecars) is replaced by
:func:`commit_json`: a fixed temp sibling, fsynced before the rename,
so a power loss leaves the old file or the new one — never an empty
or torn file under the live name, which the stores' strict sidecar
checks would refuse.
"""

from __future__ import annotations

import json
import os
import shutil
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

_ASIDE = ".old"


def run_micro_batches(
    stream_df: DataFrame,
    checkpoint_dir: str,
    step: Callable[[DataFrame, int], None],
) -> StreamingQuery:
    """Start an ``availableNow`` query that calls ``step(batch,
    batch_id)`` once per non-empty micro-batch, checkpointed under
    ``checkpoint_dir``. Returns the started query (``awaitTermination``
    it to wait for the backlog to drain)."""

    def handle(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        step(batch, batch_id)

    return (
        stream_df.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def run_stream_to_parquet(
    stream_df: DataFrame, sink_dir: str, checkpoint_dir: str
) -> StreamingQuery:
    """``availableNow`` run of any streaming DF into an append-mode
    parquet file sink."""
    return (
        stream_df.writeStream.format("parquet")
        .option("path", sink_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def recover_dir(live: str) -> None:
    """Heal the swap's crash window: if ``live`` is missing but its
    aside exists, a crash landed between :func:`swap_dir`'s two
    renames — restore the aside. Call before every read or rewrite of
    a swapped directory."""
    aside = live + _ASIDE
    if not os.path.isdir(live) and os.path.isdir(aside):
        os.replace(aside, live)


def swap_dir(tmp: str, live: str) -> None:
    """Promote the fully written ``tmp`` to ``live``: move the current
    ``live`` (if any) aside, rename ``tmp`` into place, then drop the
    aside. A stale aside from an earlier crash AFTER promotion is
    cleared first."""
    aside = live + _ASIDE
    shutil.rmtree(aside, ignore_errors=True)
    if os.path.isdir(live):
        os.replace(live, aside)
    os.replace(tmp, live)
    shutil.rmtree(aside, ignore_errors=True)


def commit_json(path: str, obj) -> None:
    """Atomically replace the JSON file ``path`` with ``obj``: write
    the fixed sibling ``.<name>.tmp``, flush and fsync it, then rename
    it onto ``path``. A crash leaves the old file or the new one; the
    next commit overwrites a leftover temp file. Single writer per
    file."""
    parent, name = os.path.split(path)
    os.makedirs(parent, exist_ok=True)
    tmp = os.path.join(parent, f".{name}.tmp")
    with open(tmp, "w") as f:
        json.dump(obj, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)
