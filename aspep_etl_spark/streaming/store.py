"""[EXT] The one ``foreachBatch`` runner that keeps a parquet store up to
date from a stream (SURVEY.md §2.9).  The CDC upsert sink
(``enrich.run_stream_upsert``), streaming sketch maintenance
(``sketches.run_streaming_cms``) and streaming MV maintenance
(``mv.run_streaming_mv_maintenance``) differ only in their feed setup
and their ``merge``; the store protocol below is shared.
"""

from __future__ import annotations

import json
import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame

_MARKER = "_merged_batches"


def merge_stream_into_store(
    stream: DataFrame,
    store_path: str,
    checkpoint_dir: str,
    merge: Callable[[DataFrame | None, DataFrame], DataFrame],
    skip_replayed: bool = True,
) -> None:
    """Run ``stream`` to completion (``Trigger.AvailableNow``, the
    catch-up pattern; a live feed runs the same query untriggered),
    folding each micro-batch into the parquet store at ``store_path``:
    ``merge(base, batch)`` gets the stored frame (``None`` while the store
    holds no parquet file) and returns the new store.

    Commit protocol, per batch:

    1. the merge is written to ``<store>__staging`` first — overwriting the
       path a lazy plan still reads from is a data race, and collecting
       the store through the driver would not scale;
    2. the live store is renamed to ``<store>__old``, staging is renamed to
       the store, and ``__old`` is dropped.  The live store is never
       deleted before its successor is in place, so a crash between the
       two renames leaves ``__old`` behind, and the next batch (the
       checkpoint redelivers the interrupted one) rolls it back first.

    Replay marker: the store carries ``_merged_batches``, the list of
    applied batch ids (underscore-prefixed, so parquet readers skip it).
    It is written into staging before the swap, so marker and data commit
    in the same rename — the Delta ``txnAppId``/``txnVersion`` pattern on
    plain parquet.  With ``skip_replayed`` a batch id already in the list
    (a redelivery after a crash between the swap and the checkpoint
    commit, or a fresh checkpoint over the same feed) is skipped, which
    makes non-idempotent merges (counter sums) exactly-once per
    (store, batch id).  Latest-wins upserts are idempotent and pass
    ``skip_replayed=False``."""
    store = store_path.rstrip("/")
    staging, old = f"{store}__staging", f"{store}__old"

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        if not os.path.isdir(store) and os.path.isdir(old):
            os.replace(old, store)
        marker = os.path.join(store, _MARKER)
        merged_ids = []
        if os.path.exists(marker):
            with open(marker) as f:
                merged_ids = json.load(f)
        if skip_replayed and batch_id in merged_ids:
            return
        base = None
        if os.path.isdir(store) and any(f.endswith(".parquet") for f in os.listdir(store)):
            base = batch.sparkSession.read.parquet(store)
        merge(base, batch).write.mode("overwrite").parquet(staging)
        with open(os.path.join(staging, _MARKER), "w") as f:
            json.dump(sorted(set(merged_ids) | {batch_id}), f)
        shutil.rmtree(old, ignore_errors=True)
        if os.path.isdir(store):
            os.replace(store, old)
        os.replace(staging, store)
        shutil.rmtree(old, ignore_errors=True)

    (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
