#!/usr/bin/env python
"""Per-query ratios of two bench result lines (bench.py or
tools/bench_tier.py output): B over baseline A.

Usage: python tools/bench_compare.py A.json B.json

Reads the last JSON line of each file and prints one JSON line with
``ratio``, ``rows_out_ratio``, ``work_per_output_ratio`` and
``total_ratio`` (null when A's total is not positive).  An sf1 → sf10
probe is two tier runs and one compare; a core-scaling probe is two
bench.py runs at different ``SPARK_GRAFT_CPUS``.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def last_json_line(path: str) -> dict:
    with open(path) as f:
        lines = [ln for ln in f.read().splitlines() if ln.startswith("{")]
    if not lines:
        raise SystemExit(f"{path}: no JSON result line")
    return json.loads(lines[-1])


def main() -> None:
    from aspep_etl_spark.measure import compare

    if len(sys.argv) != 3:
        raise SystemExit(__doc__)
    a, b = (last_json_line(p) for p in sys.argv[1:])
    print(json.dumps({"a": sys.argv[1], "b": sys.argv[2], **compare(a, b)}))


if __name__ == "__main__":
    main()
