"""End-to-end ASPEP job: the reference's Dagster asset DAG
(definitions.py:23-27) as one composable Spark program.

``scrape → download → combine_years → derive_stats →
derive_extended_stats → publish`` becomes: manifest chain (driver-side,
cached) → Excel adapters → canonical year-partitioned parquet store →
the two analytic plans → JSON-array artifacts (+ optional gzip).

Stage boundaries persist parquet, replacing Dagster's pickled handoffs;
within a stage everything is one lazy Catalyst plan.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from ..sinks.publish import gzip_publish, write_canonical_store, write_json_array
from ..sources.excel import ingest_grids, parse_workbook_files
from ..sources.manifest import build_year_url_mapping, download_workbooks
from .pipeline import derive_extended_stats, derive_stats


@dataclass
class JobPaths:
    work_dir: str
    raw_dir: str = field(init=False)
    out_dir: str = field(init=False)
    store_dir: str = field(init=False)

    def __post_init__(self) -> None:
        self.raw_dir = os.path.join(self.work_dir, "raw")
        self.out_dir = os.path.join(self.work_dir, "out")
        self.store_dir = os.path.join(self.work_dir, "store")


def run_aspep_job(
    spark: SparkSession,
    paths: JobPaths,
    census_dim: DataFrame | None = None,
    fetch=None,
    fetch_bytes=None,
    parsed: tuple[dict, list] | None = None,
    gzip_artifacts: bool = False,
) -> dict:
    """Run the full pipeline.  Network edges are injectable; alternatively
    pass ``parsed`` — what ``parse_workbook_files`` returns, ``({year:
    canonical frame}, quarantine)`` — to skip scrape/download/parse (the
    offline path).  Returns artifact paths + quarantine.
    """
    if parsed is None:
        mapping_file = os.path.join(paths.out_dir, "year_url_mapping.json")
        mapping = build_year_url_mapping(mapping_file, fetch=fetch) if fetch else {}
        files, bad_dl = download_workbooks(mapping, paths.raw_dir, fetch_bytes)
        frames, bad_parse = parse_workbook_files(files.items())
        parsed = frames, bad_dl + bad_parse
    frames, bad_files = parsed

    fact, bad_ingest = ingest_grids(spark, frames, census_dim)
    bad_files = bad_files + bad_ingest

    # Canonical store: year-partitioned parquet; downstream stages read it
    # back so each stage starts from columnar storage, not lineage.
    write_canonical_store(fact, paths.store_dir)
    fact = spark.read.parquet(paths.store_dir)

    from ..operators.setops import sort_canonical

    # ``derived_stats`` publishes the stats plan and ``extended_stats``
    # derives from it: cache it so it runs once.  Publishing already caps it
    # at JSON_ARRAY_MAX_ROWS on the driver, so the cache adds no scale risk.
    stats = derive_stats(fact).cache()
    try:
        ext = derive_extended_stats(stats)
        artifacts = {
            # reference sorts the combined artifact by (state, year, function)
            # before publishing (assets.py:322) — O1 total sort at publish time
            "combined_data": write_json_array(
                sort_canonical(fact), os.path.join(paths.out_dir, "combined_data.json")
            ),
            "derived_stats": write_json_array(
                stats, os.path.join(paths.out_dir, "aspep_with_derived_stats.json")
            ),
            "extended_stats": write_json_array(
                ext, os.path.join(paths.out_dir, "aspep_with_extended_derived_stats.json")
            ),
        }
        if gzip_artifacts:
            artifacts = {k: gzip_publish(p) for k, p in artifacts.items()}
        return {"artifacts": artifacts, "bad_files": bad_files, "store": paths.store_dir}
    finally:
        stats.unpersist()
