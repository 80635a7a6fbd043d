"""[EXT] Stream-static enrichment and the foreachBatch CDC-upsert sink
(SURVEY.md §2.9 extensions — the reference pipeline is batch-only,
``process_aspep/assets.py``; these are the two streaming building blocks a
production incremental pipeline needs beyond windowed aggregation).

Stream-static join
------------------
Joining a micro-batch stream against a slowly-changing dimension is the
canonical enrichment shape.  Spark re-plans the static side per
micro-batch, so a small dimension rides as a broadcast hash join — the
stream side never shuffles.  The same function body serves the batch twin
(hand it two batch frames), which is what the DuckDB oracle checks.

foreachBatch upsert sink
------------------------
Streaming CDC (latest-wins merge into a keyed store) cannot be expressed
as a plain ``writeStream`` append — it needs per-batch MERGE semantics.
``foreachBatch`` hands each micro-batch to batch code, where the engine's
``upsert_latest`` (one keyed window, union-by-name) merges into the
store.  Idempotence under micro-batch REPLAY (checkpoint recovery
re-delivers the last batch) comes from latest-wins by (key, order_col)
being insensitive to duplicate delivery — merging the same updates twice
is a no-op.  With Delta/Iceberg the inner merge becomes the table
format's native ``MERGE INTO``; the pure-parquet store rewrite here keeps
the same call shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.setops import upsert_latest
from .events import events_stream
from .store import merge_stream_into_store


def enrich_with_dim(
    stream: DataFrame,
    dim: DataFrame,
    on: str,
    broadcast_dim: bool = True,
    how: str = "left",
) -> DataFrame:
    """Stream-static (or batch-batch) dimension enrichment.

    ``dim`` must be a STATIC frame (re-read per micro-batch by the
    streaming engine — this is how slowly-changing dims refresh without
    restarting the query).  ``broadcast_dim`` pins the broadcast-hash
    plan; disable only for dimension tables too large to broadcast, which
    at streaming enrichment scale usually means the design is wrong
    (pre-aggregate the dim instead)."""
    d = F.broadcast(dim) if broadcast_dim else dim
    return stream.join(d, on, how)


def run_stream_upsert(
    spark,
    updates_path: str,
    store_path: str,
    keys: list[str],
    order_col: str,
    checkpoint_dir: str,
    tiebreak_cols: list[str] | None = None,
    max_files_per_trigger: int | None = None,
) -> None:
    """Apply a parquet CDC feed to a keyed parquet store: each micro-batch
    is merged latest-wins by ``upsert_latest`` through
    ``store.merge_stream_into_store``.  At lake scale swap the merge for
    ``MERGE INTO`` on a real table format — the streaming plumbing
    (checkpoint, trigger, batch handoff) is unchanged."""

    def merge(base: DataFrame | None, batch: DataFrame) -> DataFrame:
        base = batch.limit(0) if base is None else base
        return upsert_latest(base, batch, keys, order_col, tiebreak_cols)

    merge_stream_into_store(
        events_stream(spark, updates_path, max_files_per_trigger),
        store_path,
        checkpoint_dir,
        merge,
        skip_replayed=False,
    )
