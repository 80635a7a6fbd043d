"""[EXT] Streaming sketch maintenance: keep a Count-Min sketch current
as micro-batches arrive.

The CMS relation (``operators/sketch.py``) is algebraically mergeable —
union + sum IS the merge — which makes streaming maintenance a
``foreachBatch`` one-liner: sketch the batch, union with the stored
sketch, re-aggregate, swap.  State is bounded at depth × width counters
FOREVER, whatever the stream's key cardinality — the property that makes
sketches the right tool for heavy-hitter monitoring on unbounded
streams (an exact groupBy's state grows without bound).

The equality the tests pin is exact, not approximate: because the merge
is algebraic, the sketch after N micro-batches equals the sketch built
from the same rows in one batch, bit for bit.  (Same verification
pattern as the other availableNow-vs-batch twins in this package.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..operators.sketch import cms_build
from .events import events_stream
from .store import merge_stream_into_store


def run_streaming_cms(
    spark,
    events_path: str,
    store_path: str,
    key_col: str,
    checkpoint_dir: str,
    depth: int = 4,
    width: int = 256,
    max_files_per_trigger: int | None = None,
) -> None:
    """Maintain a CMS parquet store over a parquet event feed through
    ``store.merge_stream_into_store``: each micro-batch is sketched and
    merged with the stored sketch by union + sum.  Counter merges — unlike
    latest-wins upserts — are NOT idempotent under duplicate delivery, so
    the runner's replay marker skips a redelivered batch id."""

    def merge(base: DataFrame | None, batch: DataFrame) -> DataFrame:
        delta = cms_build(batch, key_col, depth, width)
        if base is None:
            return delta
        return (
            base.unionByName(delta)
            .groupBy("d", "bucket")
            .sum("cnt")
            .withColumnRenamed("sum(cnt)", "cnt")
        )

    merge_stream_into_store(
        events_stream(spark, events_path, max_files_per_trigger),
        store_path,
        checkpoint_dir,
        merge,
    )
