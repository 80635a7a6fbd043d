#!/usr/bin/env python
"""Regenerate QUERIES.md: the full contract-query inventory with
first-docstring-line descriptions — the one-page map of the engine's
judged surface."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from aspep_etl_spark.plans.contract import SPARK_QUERIES

    lines = [
        "# QUERIES — contract-query inventory",
        "",
        "Generated by `python tools/dump_queries.py`.  The driver",
        "hash-compares every query's Spark result against its DuckDB twin",
        "at sf0.01.",
        "",
        f"{len(SPARK_QUERIES)} queries.",
        "",
        "| query | what it covers |",
        "|---|---|",
    ]
    for name in sorted(SPARK_QUERIES):
        fn = SPARK_QUERIES[name]
        doc = (fn.__doc__ or "").strip().splitlines()
        desc = doc[0].strip() if doc else ""
        while len(desc) < 40 and len(doc) > 1 and doc[1].strip():
            desc = f"{desc} {doc[1].strip()}"
            doc = doc[1:]
        lines.append(f"| `{name}` | {desc} |")
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "QUERIES.md"), "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote QUERIES.md with {len(SPARK_QUERIES)} queries")


if __name__ == "__main__":
    main()
