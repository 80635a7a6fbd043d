"""The one scan-parallelism decision (``sources.registry.scan_decision``,
applied by ``fan_for_compute``): its decision table and fallbacks, its
split model, that it never starts a Spark job while a query is built,
and that every query using it returns the same rows on the compact
single-row-group files and on a multi-file, multi-row-group copy."""

from __future__ import annotations

import contextlib
import logging
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from aspep_etl_spark.sources import registry
from aspep_etl_spark.sources.registry import (
    TABLES,
    _scan_splits,
    fan_for_compute,
    scan_decision,
)

ROWS = 24_000  # divisible by every row-group count below


def _write(path: str, row_groups: int) -> int:
    rng = np.random.default_rng(row_groups)
    tbl = pa.table({"id": np.arange(ROWS), "v": rng.integers(0, 2**62, ROWS)})
    pq.write_table(tbl, path, row_group_size=ROWS // row_groups)
    return os.path.getsize(path)


@contextlib.contextmanager
def _file_confs(spark, max_bytes: str, open_cost: str):
    keys = ("spark.sql.files.maxPartitionBytes", "spark.sql.files.openCostInBytes")
    old = [spark.conf.get(k) for k in keys]
    for k, v in zip(keys, (max_bytes, open_cost)):
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in zip(keys, old):
            spark.conf.set(k, v)


@pytest.fixture()
def tight_splits(spark):
    """Byte-split scans finely so a ~380 KB file presents many scan
    splits, and its row groups, not its splits, bound the task count."""
    with _file_confs(spark, "16k", "0"):
        yield


# (row groups in a single file, cores) -> fired.  eff = min(splits, row
# groups) = row groups here; the rule is eff * 2 <= cores (3 row groups
# on 4 cores is where it differs from eff < cores).
TABLE = [
    (1, 1, False), (2, 1, False), (3, 1, False), (8, 1, False),
    (1, 2, True), (2, 2, False), (3, 2, False), (8, 2, False),
    (1, 4, True), (2, 4, True), (3, 4, False), (8, 4, False),
    (1, 32, True), (2, 32, True), (3, 32, True), (8, 32, True),
]


@pytest.mark.parametrize("row_groups,cores,fired", TABLE)
def test_decision_table(spark, tight_splits, tmp_path, row_groups, cores, fired):
    path = str(tmp_path / "t.parquet")
    size = _write(path, row_groups)
    rec = scan_decision(spark.read.parquet(path), min_bytes=0, cores=cores)
    assert rec["fired"] is fired
    assert rec["reason"] == ("undersubscribed" if fired else "subscribed")
    assert (rec["cores"], rec["bytes"], rec["files"]) == (cores, size, 1)
    assert rec["splits"] >= 8
    # footers are read only while the file count alone could still fire
    assert rec["row_groups"] == (row_groups if cores >= 2 else None)


@pytest.mark.parametrize(
    "files,max_bytes,open_cost",
    [(1, "16k", "0"), (1, "128m", "4m"), (6, "16k", "0"), (6, "128m", "4m"), (6, "64k", "8k")],
)
def test_split_model_matches_planner(spark, tmp_path, files, max_bytes, open_cost):
    """``_scan_splits`` predicts the planner's scan partition count from
    file sizes alone (byte splits plus the largest-first packing)."""
    sizes = [_write(str(tmp_path / f"p{i}.parquet"), 1) for i in range(files)]
    with _file_confs(spark, max_bytes, open_cost):
        df = spark.read.parquet(str(tmp_path))
        par = spark.sparkContext.defaultParallelism
        assert _scan_splits(sizes, spark, par) == df.rdd.getNumPartitions()


def test_size_floor(spark, tmp_path, monkeypatch):
    path = str(tmp_path / "t.parquet")
    size = _write(path, 1)
    df = spark.read.parquet(path)
    below = scan_decision(df, min_bytes=size + 1, cores=4)
    assert (below["fired"], below["reason"], below["bytes"]) == (False, "below floor", size)
    assert below["splits"] is None
    at = scan_decision(df, min_bytes=size, cores=4)
    assert (at["fired"], at["reason"]) == (True, "undersubscribed")
    assert scan_decision(df)["reason"] == "below floor"  # default 2 MB
    monkeypatch.setenv("SPARK_GRAFT_FAN_MIN_BYTES", str(size))
    assert scan_decision(df)["min_bytes"] == size
    assert fan_for_compute(df) is not df


def test_remote_scheme_never_fires(spark, tmp_path, monkeypatch):
    path = str(tmp_path / "t.parquet")
    _write(path, 1)
    df = spark.read.parquet(path)
    monkeypatch.setattr(df, "inputFiles", lambda: ["s3a://bucket/t.parquet"])
    rec = scan_decision(df, min_bytes=0)
    assert (rec["fired"], rec["reason"], rec["bytes"]) == (False, "remote input", None)


def test_inputs_that_are_not_scans(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    _write(path, 1)
    df = spark.read.parquet(path)
    cached = df.persist()
    try:
        for other in (df.repartition(2), df.groupBy("v").count(), cached):
            rec = scan_decision(other, min_bytes=0)
            assert (rec["fired"], rec["reason"]) == (False, "not a scan")
            assert fan_for_compute(other, min_bytes=0) is other
    finally:
        cached.unpersist()
    rec = scan_decision(spark.range(5), min_bytes=0)
    assert (rec["fired"], rec["reason"]) == (False, "no input files")


def test_footer_read_error_falls_back_and_records_it(spark, tmp_path, caplog):
    path = str(tmp_path / "t.parquet")
    _write(path, 1)
    df = spark.read.parquet(path)
    with open(path, "r+b") as f:  # same size, unreadable footer
        f.seek(-8, os.SEEK_END)
        f.write(b"\0" * 8)
    with caplog.at_level(logging.DEBUG, logger=registry.__name__):
        rec = scan_decision(df, min_bytes=0, cores=4)
        assert fan_for_compute(df, min_bytes=0) is df
    assert rec["fired"] is False
    assert rec["reason"].startswith("fallback: "), rec
    warned = [r for r in caplog.records if r.levelno == logging.WARNING]
    assert len(warned) == 2 and warned[0].exc_info is not None


def test_decisions_are_logged_at_debug(spark, tmp_path, caplog):
    path = str(tmp_path / "t.parquet")
    _write(path, 1)
    with caplog.at_level(logging.DEBUG, logger=registry.__name__):
        rec = scan_decision(spark.read.parquet(path), min_bytes=0, cores=4)
    (logged,) = [r for r in caplog.records if r.levelno == logging.DEBUG]
    assert logged.args is rec  # a lone mapping argument is unwrapped


# Queries whose decision sees an input that already passed through an
# exchange or a persist: the decision must not execute it.
EXCHANGED_INPUT_QUERIES = (
    "dedup_sweep",
    "dedup_embedding_cosine",
    "llm_curation_funnel",
    "llm_ingest_funnel",
)


def _wrap_everywhere(monkeypatch, fn, wrapped):
    for mod in list(sys.modules.values()):
        if getattr(mod, "__name__", "").startswith("aspep_etl_spark"):
            for attr, val in list(vars(mod).items()):
                if val is fn:
                    monkeypatch.setattr(mod, attr, wrapped)


@pytest.mark.parametrize("name", EXCHANGED_INPUT_QUERIES)
def test_building_queries_starts_no_job_inside_the_decision(spark, sf_dir, monkeypatch, name):
    from aspep_etl_spark.plans import contract

    sc = spark.sparkContext
    calls = []

    def counted(df, *args, **kwargs):
        group = f"scan-decision-{len(calls)}"
        sc.setJobGroup(group, "scan decision")
        try:
            out = fan_for_compute(df, *args, **kwargs)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        calls.append(len(sc.statusTracker().getJobIdsForGroup(group)))
        return out

    _wrap_everywhere(monkeypatch, fan_for_compute, counted)
    contract.SPARK_QUERIES[name](spark, sf_dir)
    spark.catalog.clearCache()
    assert calls, f"{name} made no scan decision"
    assert sum(calls) == 0, f"{name}: Spark jobs started inside the decision: {calls}"


# Every registry query that reads through the fan (``fan_for_compute`` on
# a loaded table) or whose dedup operator decides with ``min_bytes=0``.
FAN_QUERIES = (
    "text_quality",
    "docs_dsir_weights",
    "docs_classifier_score",
    "ann_cosine_topk",
    "docs_nb_crossval_capped",
    "docs_nb_crossval",
    "docs_logreg_train",
    "dedup_sweep",
    "dedup_ngram_jaccard",
    "dedup_ngram_jaccard_capped",
    "dedup_embedding_cosine",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "docs_substring_dedup",
    "docs_ngram_novelty",
    "docs_decontaminate",
    "dedup_clusters",
    "llm_curation_funnel",
    "docs_bloom_decontaminate",
    "dedup_incremental",
    "dedup_prefix_filter",
    "dedup_sorted_neighborhood",
    "components_incremental",
    "llm_ingest_funnel",
)


@pytest.fixture(scope="module")
def lake_dir(sf_dir, tmp_path_factory):
    """A copy of the compact tables as 2 files per table, each holding
    several row groups (>= 8 per table wherever the table has the rows)."""
    out = tmp_path_factory.mktemp("lake")
    for name in TABLES:
        src = f"{sf_dir}/{name}.parquet"
        if not os.path.exists(src):
            continue
        tbl = pq.read_table(src)
        half = (tbl.num_rows + 1) // 2
        os.makedirs(out / f"{name}.parquet")
        for i in range(2):
            part = tbl.slice(i * half, half)
            pq.write_table(
                part,
                str(out / f"{name}.parquet" / f"part-{i}.parquet"),
                row_group_size=max(1, -(-part.num_rows // 4)),
            )
    for name in ("documents", "embeddings"):
        files = [str(p) for p in (out / f"{name}.parquet").iterdir()]
        assert len(files) >= 2
        assert sum(pq.read_metadata(f).num_row_groups for f in files) >= 8
    return str(out)


@pytest.mark.parametrize("name", FAN_QUERIES)
def test_fan_queries_same_rows_on_both_layouts(spark, sf_dir, lake_dir, monkeypatch, name):
    from aspep_etl_spark.plans import contract

    monkeypatch.setenv("SPARK_GRAFT_FAN_MIN_BYTES", "1")  # let the fan fire
    fn = contract.SPARK_QUERIES[name]
    compact = sorted(map(tuple, fn(spark, sf_dir).collect()))
    spark.catalog.clearCache()
    lake = sorted(map(tuple, fn(spark, lake_dir).collect()))
    spark.catalog.clearCache()
    assert lake == compact
