"""Regression pin for the ``_fan`` AQE-coalesce fence
(``operators/candidates.py``).

AQE coalesces shuffle partitions by BYTE size.  A bare (id_a, id_b)
candidate-pair frame is a few MB even when each row expands into an
interpreted 64-element cosine/Jaccard fold after the vector attach, so
AQE happily funnels millions of folds through 1-2 tasks — the sf1 dress
rehearsal measured two 1100-second tasks in ``dedup_embedding_cosine``'s
verify stage with 30 idle cores.  ``_fan`` fixes this with an explicit
NUMBERED repartition (exempt from AQE coalescing, marked
``REPARTITION_BY_NUM`` in the physical plan).

These tests fail if the fence is weakened or removed:

- behavioral: a byte-tiny post-shuffle frame really is coalesced by AQE
  to ~1 partition (setup validity), and ``_fan`` restores full
  ``defaultParallelism`` with rows actually landing spread;
- plan pins: each guarded production query's physical plan must contain
  the numbered exchange — the candidate-dedup queries
  (``dedup_minhash_lsh``, ``dedup_prefix_filter``,
  ``dedup_embedding_cosine``, ``dedup_semantic``) exactly one
  ``hashpartitioning(id_a…, par)`` fence that the pair dedup rides (no
  ``(id_a, id_b)`` exchange of its own), ``customer_record_linkage``
  the two ``RoundRobinPartitioning(par)`` side fences.  Removing the
  ``_fan`` / ``repartition(par)`` call (``operators/candidates.py``,
  ``plans/analytics_r8.py:_linkage_candidates``) drops the marker and
  fails the pin — correctness gates alone would stay green because the
  funnel only costs wall-time.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from aspep_etl_spark.operators.candidates import _fan

SF_DIR = "/root/testdata/sf0.001"


def _n_busy_partitions(df) -> int:
    """Distinct spark_partition_id values that actually receive rows,
    observed at execution time (so AQE's runtime coalescing is seen)."""
    return df.select(F.spark_partition_id().alias("__pid")).distinct().count()


def test_fan_restores_parallelism_after_aqe_coalesce(spark):
    par = spark.sparkContext.defaultParallelism
    # a candidate-pair-shaped frame downstream of a real shuffle whose
    # byte size AQE will coalesce: 2000 bare longs is a few KB.  A
    # column-only repartition (no number) is the canonical coalescible
    # exchange — exactly the shape of a production shuffle output.
    cand = (
        spark.range(0, 2000)
        .select(F.col("id").alias("id_a"))
        .repartition(F.col("id_a"))
    )
    coalesced = _n_busy_partitions(cand)
    assert coalesced <= 2, (
        f"setup failed: AQE left {coalesced} busy partitions — the trap "
        "this fence exists for did not reproduce, test needs a new setup"
    )

    fenced = _fan(cand, "id_a")
    assert fenced.rdd.getNumPartitions() == par
    # rows must actually land spread across the full parallelism, not
    # merely claim `par` partitions (2000 distinct keys over `par`
    # hash buckets: every bucket is non-empty with overwhelming margin)
    assert _n_busy_partitions(fenced) == par


def _physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize(
    "name",
    ["dedup_minhash_lsh", "dedup_prefix_filter", "dedup_embedding_cosine", "dedup_semantic"],
)
def test_fan_pin_dedup_rides_fence(spark, name):
    """The candidate dedup rides the verify join's fence: exactly one
    numbered hash exchange on id_a at full parallelism, and no exchange
    of the dedup's own on (id_a, id_b)."""
    from aspep_etl_spark.plans.contract import SPARK_QUERIES

    par = spark.sparkContext.defaultParallelism
    plan = _physical_plan(SPARK_QUERIES[name](spark, SF_DIR))
    fences = re.findall(
        rf"Exchange hashpartitioning\(id_a#\d+L?, {par}\), REPARTITION_BY_NUM", plan
    )
    assert len(fences) == 1, (
        f"{name}: expected exactly one numbered id_a hash exchange at "
        f"par={par} (the _fan fence), found {len(fences)}"
    )
    pair_exchanges = re.findall(
        r"Exchange hashpartitioning\(id_a#\d+L?, id_b#\d+L?", plan
    )
    assert not pair_exchanges, (
        f"{name}: the candidate dedup pays its own (id_a, id_b) exchange "
        "instead of riding the id_a fence"
    )


def test_fan_pin_customer_record_linkage(spark):
    """Both linkage candidate sides are fenced with numbered round-robin
    repartitions before the levenshtein/band fan-out joins."""
    from aspep_etl_spark.plans.analytics_r8 import customer_record_linkage

    par = spark.sparkContext.defaultParallelism
    plan = _physical_plan(customer_record_linkage(spark, SF_DIR))
    fences = re.findall(
        rf"Exchange RoundRobinPartitioning\({par}\), REPARTITION_BY_NUM", plan
    )
    assert len(fences) >= 2, (
        "customer_record_linkage lost its side fences: expected >= 2 "
        f"numbered RoundRobin exchanges at par={par}, found {len(fences)}"
    )
