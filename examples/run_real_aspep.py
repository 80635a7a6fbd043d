#!/usr/bin/env python
"""End-to-end demo: the full ASPEP job over the reference's REAL cached
census workbooks (2003-2023) — parse (stdlib BIFF8/OOXML readers) →
canonical year-partitioned store → derive_stats → derive_extended_stats →
published JSON artifacts.

Usage: python examples/run_real_aspep.py [work_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

RAW_DIR = "/root/reference/data/raw"


def main() -> None:
    from aspep_etl_spark.plans.aspep_job import JobPaths, run_aspep_job
    from aspep_etl_spark.session import get_spark
    from aspep_etl_spark.sources.excel import grids_from_raw_dir

    work_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/aspep_real_job"
    spark = get_spark(app_name="aspep-real-job")
    result = run_aspep_job(spark, JobPaths(work_dir), parsed=grids_from_raw_dir(RAW_DIR))
    print("quarantine:", result["bad_files"])
    print("store:", result["store"])
    for name, path in result["artifacts"].items():
        print(f"artifact {name}: {path} ({os.path.getsize(path):,} bytes)")
    spark.stop()


if __name__ == "__main__":
    main()
