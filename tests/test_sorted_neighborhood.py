"""Sorted-neighborhood blocking (operators/dedup.sorted_neighborhood_pairs):
adjacency recall, linear candidate volume, and schema parity."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from aspep_etl_spark.operators.dedup import (
    jaccard_pairs,
    sorted_neighborhood_pairs,
)


def test_adjacent_near_dups_found(spark):
    # doc pairs sharing long prefixes sort adjacently and must be found
    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon eta"),
        (3, "omega psi chi phi upsilon tau"),
        (4, "omega psi chi phi upsilon sigma"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = sorted(
        (r["id_a"], r["id_b"])
        for r in sorted_neighborhood_pairs(df, "doc_id", "text", threshold=0.3).collect()
    )
    assert out == [(1, 2), (3, 4)]


def test_subset_of_exact_pairs_with_same_values(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    full = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.05).collect()
    }
    snm = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in sorted_neighborhood_pairs(
            docs, "doc_id", "text", window=8, threshold=0.05
        ).collect()
    }
    assert set(snm) <= set(full)          # blocking never invents pairs
    for k, v in snm.items():
        assert v == full[k]               # identical exact Jaccard values


def test_candidate_volume_is_linear(spark):
    # n docs, window w -> at most (w-1)·n candidate pairs regardless of
    # content (here: all-identical docs, the posting-list worst case)
    rows = [(i, "same text body for every document here") for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = sorted_neighborhood_pairs(df, "doc_id", "text", window=4, threshold=0.05)
    assert out.count() <= 3 * 100


@pytest.mark.parametrize("window", [1, 0, -3])
def test_window_below_two_rejected(spark, window):
    # sequence(1, window - 1) counts DOWN for window < 2, which paired
    # every doc with itself (and earlier neighbors) instead of nothing
    rows = [(1, "alpha beta gamma delta"), (2, "omega psi chi phi")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    with pytest.raises(ValueError, match=f"window={window}"):
        sorted_neighborhood_pairs(df, "doc_id", "text", window=window)
