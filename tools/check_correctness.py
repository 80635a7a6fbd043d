#!/usr/bin/env python
"""Local simulation of the driver's t2 correctness gate.

Runs every ``queries()`` entry at sf0.01 and compares it with its
``oracle_sql()`` DuckDB twin: row count, column set, and an
order-insensitive value comparison (exact string match after sorting, plus
a float-tolerant fallback report so near-misses are distinguishable from
real bugs).

Usage: python tools/check_correctness.py [--out PATH] [--timeout SEC] [name ...]

``--timeout SEC`` bounds each DuckDB oracle with an interrupt watchdog —
for non-default-SF sweeps (the r10-verdict sf1 tier sweep) where a
quadratic oracle can be arbitrarily slow: a timed-out oracle is recorded
as a DOCUMENTED EXCLUSION (``excluded`` list, ``mode: excluded_timeout``),
not a failure, so the artifact carries exact/excluded accounting instead
of hiding the gap.  Default off (the driver-gate twin at sf0.01 must run
every oracle).

A full-registry run (no names given) also writes ``CORRECTNESS_local.json``
at the repo root — the same per-query shape as the driver's
``CORRECTNESS_r*.json`` plus a ``mode`` field — so the queries the driver's
sample misses stay auditable per-round without re-running Spark.
``--out PATH`` redirects that snapshot (judge/CI verification runs can
point it at a scratch file and leave the committed tree untouched).
"""

from __future__ import annotations

import json
import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canon(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        if pdf[c].dtype == object:
            pdf[c] = pdf[c].astype(str)
    return pdf.sort_values(list(pdf.columns), kind="mergesort").reset_index(drop=True)


def value_match(a: pd.DataFrame, b: pd.DataFrame) -> tuple[bool, bool, str]:
    """(exact, close, detail)"""
    if list(a.columns) != list(b.columns):
        return False, False, f"columns {list(a.columns)} vs {list(b.columns)}"
    if len(a) != len(b):
        return False, False, f"rows {len(a)} vs {len(b)}"
    exact = True
    close = True
    detail = ""
    for c in a.columns:
        av, bv = a[c], b[c]
        if pd.api.types.is_float_dtype(av) or pd.api.types.is_float_dtype(bv):
            avn = av.astype(float).to_numpy()
            bvn = bv.astype(float).to_numpy()
            nan_ok = np.isnan(avn) == np.isnan(bvn)
            eq = (avn == bvn) | (np.isnan(avn) & np.isnan(bvn))
            cl = nan_ok & (np.isclose(avn, bvn, rtol=1e-6, atol=1e-9) | (np.isnan(avn) & np.isnan(bvn)))
            if not eq.all():
                exact = False
                if not cl.all():
                    close = False
                    i = int(np.argmax(~cl))
                    detail += f" [{c}] row{i}: {avn[i]!r} vs {bvn[i]!r};"
        else:
            av2, bv2 = av.astype(str), bv.astype(str)
            if not (av2 == bv2).all():
                exact = False
                close = False
                i = int((av2 != bv2).idxmax())
                detail += f" [{c}] row{i}: {av2[i]!r} vs {bv2[i]!r};"
    return exact, close, detail


def run_oracle(con, sql: str, timeout: float | None) -> pd.DataFrame:
    """Execute an oracle, optionally bounded by an interrupt watchdog.
    Raises ``duckdb.InterruptException`` on timeout."""
    if not timeout:
        return con.sql(sql).df()
    import threading

    done = threading.Event()

    def watchdog() -> None:
        if not done.wait(timeout):
            con.interrupt()

    t = threading.Thread(target=watchdog, daemon=True)
    t.start()
    try:
        return con.sql(sql).df()
    finally:
        done.set()
        t.join()


def main(argv: list[str]) -> int:
    out_override = None
    timeout = None
    names: list[str] = []
    i = 0
    while i < len(argv):
        if argv[i] == "--out":
            if i + 1 >= len(argv):
                print("usage: check_correctness.py [--out PATH] [--timeout SEC] [name ...]")
                return 2
            out_override = argv[i + 1]
            i += 2
        elif argv[i].startswith("--out="):
            out_override = argv[i].split("=", 1)[1]
            i += 1
        elif argv[i] == "--timeout":
            timeout = float(argv[i + 1])
            i += 2
        elif argv[i].startswith("--timeout="):
            timeout = float(argv[i].split("=", 1)[1])
            i += 1
        else:
            names.append(argv[i])
            i += 1
    import __spark_entry__ as contract
    from aspep_etl_spark.cache import free_cached_blocks
    from aspep_etl_spark.session import get_spark

    qs = contract.queries()
    oracles = contract.oracle_sql()
    targets = names or list(qs)

    spark = get_spark(app_name="check-correctness")
    con = duckdb.connect()
    for t in TABLES:
        p = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    failures = []
    closes = []
    excluded: list[str] = []
    report: dict[str, dict] = {}
    for name in targets:
        fn = qs[name]
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR).toPandas()
        except Exception as exc:  # noqa: BLE001
            failures.append(name)
            report[name] = {
                "rows_match": False, "schema_match": False, "hash_match": False,
                "spark_rows": None, "oracle_rows": None, "err": str(exc)[:500],
                "mode": "oracle",
            }
            print(f"FAIL  {name:28s} spark error: {exc}")
            continue
        finally:
            # queries are independent jobs; don't let one query's persisted
            # subtrees steal executor memory from the next 100
            free_cached_blocks(spark)
        try:
            odf = run_oracle(con, oracles[name], timeout)
        except duckdb.InterruptException:
            excluded.append(name)
            report[name] = {
                "rows_match": None, "schema_match": None, "hash_match": None,
                "spark_rows": len(sdf), "oracle_rows": None,
                "err": f"oracle exceeded --timeout {timeout}s — documented exclusion",
                "mode": "excluded_timeout",
            }
            print(f"SKIP  {name:28s} oracle > {timeout}s (documented exclusion)")
            continue
        except Exception as exc:  # noqa: BLE001
            failures.append(name)
            report[name] = {
                "rows_match": False, "schema_match": False, "hash_match": False,
                "spark_rows": len(sdf), "oracle_rows": None,
                "err": f"duckdb: {exc}"[:500], "mode": "oracle",
            }
            print(f"FAIL  {name:28s} duckdb error: {exc}")
            continue
        exact, close, detail = value_match(canon(sdf), canon(odf))
        report[name] = {
            "rows_match": len(sdf) == len(odf),
            "schema_match": sorted(sdf.columns) == sorted(odf.columns),
            "hash_match": exact,
            "spark_rows": len(sdf), "oracle_rows": len(odf),
            "err": None if exact else detail[:500] or "close-not-exact",
            "mode": "oracle",
        }
        if exact:
            print(f"OK    {name:28s} rows={len(sdf)} exact ({time.time()-t0:.1f}s)")
        elif close:
            # the driver's t2 gate hashes EXACT values — CLOSE passes here
            # but fails there, so treat it as a failure locally too
            closes.append(name)
            print(f"CLOSE {name:28s} rows={len(sdf)} within 1e-6 but NOT hash-exact — the driver gate would FAIL this ({time.time()-t0:.1f}s)")
        else:
            failures.append(name)
            print(f"FAIL  {name:28s}{detail[:300]}")
    # SKETCH RANK AUDIT (r10 verdict ask #5): the benched
    # `a1_grouped_median_sketch` slot's oracle only checks an in-[min,max]
    # flag; every sweep now also rank-audits the same single-pass sketch
    # against the raw rows so the benched plan's median output is verified
    # mechanically, not just by a pytest run.
    sketch_audit = None
    if "a1_grouped_median_sketch" in targets:
        from aspep_etl_spark.operators.stats import sketch_median_rank_audit

        try:
            sketch_audit = sketch_median_rank_audit(spark, SF_DIR)
        except Exception as exc:  # noqa: BLE001
            sketch_audit = {"ok": False, "groups_checked": 0,
                            "violations": [f"audit error: {exc}"[:500]]}
        if sketch_audit["ok"]:
            print(f"OK    sketch_rank_audit           "
                  f"{sketch_audit['groups_checked']} elements in rank window")
        else:
            failures.append("sketch_rank_audit")
            print(f"FAIL  sketch_rank_audit           {sketch_audit['violations']}")
    spark.stop()
    # snapshot: full-registry runs always; named subsets when --out names a
    # destination (the sf1 tier sweep is a named subset with an artifact)
    if not names or out_override:  # → committed audit snapshot
        # non-default SF sweeps get their own file so the canonical sf0.01
        # snapshot (the driver-gate twin) is never clobbered; tag from the
        # path's basename only (an arbitrary directory must not leak path
        # separators into the filename)
        base = os.path.basename(SF_DIR.rstrip("/"))
        sf_tag = "" if base == "sf0.01" else "_" + base
        out = out_override or os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            f"CORRECTNESS_local{sf_tag}.json",
        )
        n_oracle = sum(1 for r in report.values() if r["mode"] == "oracle")
        with open(out, "w") as fh:
            json.dump(
                {
                    "sf_dir": SF_DIR,
                    "total": len(report),
                    "oracle_checked": n_oracle,
                    "rows_only": 0,  # every entry carries an oracle; key kept so sweeps compare
                    "exact": len(targets)
                    - len([f for f in failures if f != "sketch_rank_audit"])
                    - len(closes)
                    - len(excluded),
                    "sketch_audit": (
                        ("ok" if sketch_audit["ok"] else "VIOLATION")
                        if sketch_audit is not None
                        else None
                    ),
                    "sketch_audit_detail": sketch_audit,
                    "oracle_timeout_sec": timeout,
                    "excluded": excluded,
                    "failures": failures,
                    "close_not_exact": closes,
                    "queries": report,
                },
                fh,
                indent=1,
            )
        print(f"wrote {out}")
    print(
        f"\n{len(targets) - len([f for f in failures if f != 'sketch_rank_audit']) - len(closes) - len(excluded)}"
        f"/{len(targets)} exact; "
        f"failures: {failures}; close-but-not-exact (driver gate would fail): {closes}"
        + (f"; excluded (oracle timeout): {excluded}" if excluded else "")
    )
    return 1 if failures or closes else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
