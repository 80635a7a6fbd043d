"""The benchmark's workloads: what one unit of work is, and how its output
is checked.

A workload object is built once per run.  ``prepare`` makes (or reuses)
the seeded inputs under the run's cache directory, and the oracle where
it needs no Spark output; it runs no Spark.
``unit`` runs one unit of work in the given session and returns the
seconds of timed work; ``check`` then compares the unit's outputs with an
oracle, untimed.  Spans go through the tracer, which does nothing unless
the run is traced.
"""

from __future__ import annotations

import gzip
import hashlib
import json
import math
import os
import re
import time

import numpy as np

from . import inputs


def _canon(v) -> str:
    """Order-free, engine-free text form of one cell: numbers to 9
    significant digits, NaN/inf/None to one null token, arrays and maps
    element-wise."""
    if v is None:
        return "~"
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v))
    if isinstance(v, (int, float, np.integer, np.floating)) or type(v).__name__ == "Decimal":
        x = float(v)
        return "~" if not math.isfinite(x) else f"{x:.9g}"
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(x)}" for k, x in sorted(v.items())) + "}"
    if hasattr(v, "asDict"):
        return _canon(v.asDict())
    try:
        import pandas as pd

        if v is pd.NaT or (not isinstance(v, str) and pd.isna(v)):
            return "~"
    except (TypeError, ValueError):
        pass
    return str(v)


def frame_hash(columns: list[str], rows) -> tuple[int, str]:
    """(row count, digest) of a result, ignoring row and column order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x1f".join(_canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\x1f".join(columns[i] for i in order).encode())
    for line in lines:
        h.update(b"\n" + line.encode())
    return len(lines), h.hexdigest()


def _pandas_hash(pdf) -> tuple[int, str]:
    return frame_hash(list(pdf.columns), pdf.itertuples(index=False, name=None))


def _cached_json(path: str, make):
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    value = make()
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "w") as f:
        json.dump(value, f)
    os.replace(tmp, path)
    return value


# --------------------------------------------------------------------------
# aspep_etl: the paper's six-step job
# --------------------------------------------------------------------------

# Census regions and divisions, by state code (the dimension the job joins).
_DIVISIONS = {
    ("Northeast", "New England"): "CT ME MA NH RI VT",
    ("Northeast", "Middle Atlantic"): "NJ NY PA",
    ("Midwest", "East North Central"): "IL IN MI OH WI",
    ("Midwest", "West North Central"): "IA KS MN MO NE ND SD",
    ("South", "South Atlantic"): "DE FL GA MD NC SC VA WV",
    ("South", "East South Central"): "AL KY MS TN",
    ("South", "West South Central"): "AR LA OK TX",
    ("West", "Mountain"): "AZ CO ID MT NV NM UT WY",
    ("West", "Pacific"): "AK CA HI OR WA",
}

_ORACLE_METRICS = (
    "total_pay", "ft_eq_employment", "pt_pay", "pt_hour", "ft_pay",
    "ft_employment", "pay_per_fte", "pay_per_pt_hour", "pay_per_ft",
)


class AspepEtl:
    """One unit = one full ``run_aspep_job`` with gzip: scrape and download
    through the job's ``fetch``/``fetch_bytes`` seams, parse 22 seeded
    workbooks, write the parquet store, derive both stats plans, publish
    three JSON artifacts and gzip them."""

    name = "aspep_etl"
    #: warm units an untraced run makes at least.  Two cost ~8 s less
    #: than three on a 4-core host, and over ten seeds their mean spread
    #: 0.06-0.08 of the median against 0.05-0.08 for the median of three.
    min_warm = 2
    #: states (plus the US rollup) and canonical gov_functions per workbook
    n_states = 25
    n_functions = 1

    def __init__(self, seed: int, cache_dir: str):
        self.seed = seed
        self.dir = os.path.join(
            cache_dir, f"{self.name}-s{seed}-g{self.n_states}-f{self.n_functions}"
        )
        self.books: dict[int, bytes] = {}
        self.census = None
        self.oracle: dict | None = None
        self.last: dict | None = None

    def prepare(self) -> None:
        os.makedirs(self.dir, exist_ok=True)
        marker = os.path.join(self.dir, "books.done")
        if not os.path.exists(marker):
            for year, raw in inputs.aspep_workbooks(
                self.seed, self.n_states, self.n_functions
            ).items():
                with open(os.path.join(self.dir, f"aspep_{year}.xlsx"), "wb") as f:
                    f.write(raw)
            open(marker, "w").close()
        for year in inputs.YEARS:
            with open(os.path.join(self.dir, f"aspep_{year}.xlsx"), "rb") as f:
                self.books[year] = f.read()

    @property
    def sf(self) -> str:
        return (
            f"{self.n_states + 1} geographies x {self.n_functions} functions"
            f" x {len(inputs.YEARS)} years"
        )

    def start(self, spark) -> None:
        from aspep_etl_spark import maps
        from aspep_etl_spark.sources.census import census_dim_from_rows

        rows = [
            (code, maps.STATE_CODE_TO_NAME[code], region, division)
            for (region, division), codes in _DIVISIONS.items()
            for code in codes.split()
        ]
        self.census = census_dim_from_rows(spark, rows)

    def unit(self, spark, tracer, work_dir: str) -> float:
        from aspep_etl_spark.plans.aspep_job import JobPaths, run_aspep_job

        t0 = time.perf_counter()
        with tracer.span("job", "run_aspep_job"):
            result = run_aspep_job(
                spark,
                JobPaths(work_dir),
                census_dim=self.census,
                fetch=inputs.landing_page,
                fetch_bytes=inputs.workbook_fetcher(self.books),
                gzip_artifacts=True,
            )
        elapsed = time.perf_counter() - t0
        self.last = result
        tracer.note_artifacts(result)
        return elapsed

    # -- output check -----------------------------------------------------

    def _oracle(self, store: str) -> dict:
        """Record hashes of the 9-metric derived and extended stats from
        ``ASPEP_PIPELINE_SQL`` replayed in DuckDB over the stored fact."""
        import duckdb

        from aspep_etl_spark.plans.pipeline_oracle import ASPEP_PIPELINE_SQL
        from aspep_etl_spark.sinks.publish import _fmt_float

        cols = ", ".join(("state_code", "gov_function", "year") + _ORACLE_METRICS[:6])
        sql, n = re.subn(
            r"fact AS MATERIALIZED \(.*?\n\), s0",
            f"fact AS MATERIALIZED (SELECT {cols} FROM store), s0",
            ASPEP_PIPELINE_SQL,
            count=1,
            flags=re.S,
        )
        if n != 1:
            raise RuntimeError("ASPEP_PIPELINE_SQL no longer starts with the fact CTE")
        con = duckdb.connect()
        try:
            con.execute(
                "CREATE VIEW store AS SELECT * FROM "
                f"read_parquet('{store}/*/*.parquet', hive_partitioning = 1)"
            )
            cur = con.execute(sql)
            names = [d[0] for d in cur.description]
            rows = cur.fetchall()
        finally:
            con.close()
        # state_scope is NULL for fact rows in the replay; the job labels them
        cols = [c for c in names if c != "state_scope"]
        return {
            "derived_stats": _stats_hash(names, rows, _DERIVED_COLS, _fmt_float),
            "extended_stats": _stats_hash(names, rows, cols, _fmt_float),
            "extended_cols": cols,
        }

    def check(self) -> str | None:
        """None when the last unit's outputs are right, else why not."""
        from aspep_etl_spark.sinks.publish import _fmt_float

        res = self.last
        if res is None:
            return "no result"
        if res["bad_files"]:
            return f"bad_files: {res['bad_files']}"
        if self.oracle is None:
            self.oracle = _cached_json(
                os.path.join(self.dir, "oracle.json"), lambda: self._oracle(res["store"])
            )
        arts = {}
        for key, path in res["artifacts"].items():
            if not path.endswith(".gz"):
                return f"{key}: not gzipped"
            with gzip.open(path, "rt") as f:
                arts[key] = json.load(f)  # every artifact parses
        if not arts["combined_data"]:
            return "combined_data is empty"
        for key, cols in (
            ("derived_stats", _DERIVED_COLS),
            ("extended_stats", self.oracle["extended_cols"]),
        ):
            recs = arts[key]
            got = _stats_hash(cols, [tuple(r.get(c) for c in cols) for r in recs], cols, _fmt_float)
            if got != self.oracle[key]:
                return f"{key}: {got} != oracle {self.oracle[key]}"
        return None


_DERIVED_COLS = ("state_code", "gov_function", "year") + _ORACLE_METRICS


def _stats_hash(names, rows, cols, fmt) -> list:
    """Hash of ``cols`` over ``rows``, floats as the JSON sink prints them
    (its 10-decimal form; NaN/inf are null there)."""
    idx = [list(names).index(c) for c in cols]

    def cell(v):
        if isinstance(v, (int, float)) and not isinstance(v, bool):
            x = float(v)
            return float(fmt(x)) if math.isfinite(x) else None
        return v

    return list(frame_hash(list(cols), [tuple(cell(r[i]) for i in idx) for r in rows]))


# --------------------------------------------------------------------------
# query_mix: read-only registry queries
# --------------------------------------------------------------------------


class QueryMix:
    """One unit = one pass over a list of ``SPARK_QUERIES`` entries in an
    order the seed shuffles per pass.  Each query is built (the builder
    call), then collected; the collected rows are hashed against the
    query's DuckDB twin from ``ORACLE_SQL``, untimed."""

    name = "query_mix"
    #: The first warm pass is still ~20% slower than the third (planner and
    #: codegen JIT): with three, the median ``warm_s`` is a later pass.
    #: Over ten seeds the mean of the first two spread 0.13-0.26 of the
    #: median, the median of three 0.10-0.16.
    min_warm = 3
    sf = 0.01
    docs = 1000
    queries = (
        "q3_top_orders",
        "dedup_ngram_jaccard",
        "docs_classifier_score",
        "streaming_sessionize",
        "streaming_hourly_rollup",
    )

    def __init__(self, seed: int, cache_dir: str):
        self.seed = seed
        self.dir = os.path.join(cache_dir, f"{self.name}-s{seed}-sf{self.sf}-d{self.docs}")
        self.tables = os.path.join(self.dir, "tables")
        self.oracle: dict = {}
        self.passes = 0
        self.failures: list[str] = []

    def prepare(self) -> None:
        marker = os.path.join(self.dir, "tables.done")
        if not os.path.exists(marker):
            inputs.write_tables(self.seed, self.tables, self.sf, self.docs)
            open(marker, "w").close()
        # before the session starts, so DuckDB does not share the cold pass
        self.oracle = _cached_json(os.path.join(self.dir, "oracle.json"), self._oracle)

    def _oracle(self) -> dict:
        import duckdb

        from aspep_etl_spark.plans.contract import ORACLE_SQL

        con = duckdb.connect()
        try:
            con.execute("SET threads TO 2")
            for f in sorted(os.listdir(self.tables)):
                t = f.removesuffix(".parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.tables}/{f}'")
            out = {}
            for q in self.queries:
                cur = con.execute(ORACLE_SQL[q])
                out[q] = list(frame_hash([d[0] for d in cur.description], cur.fetchall()))
        finally:
            con.close()
        return out

    def start(self, spark) -> None:
        pass

    def unit(self, spark, tracer, work_dir: str) -> float:
        from aspep_etl_spark.plans.contract import SPARK_QUERIES

        # The first query of a fresh session pays the session's one-off
        # costs (Python worker start, codegen), so the cold pass keeps the
        # listed order and ``cold_s`` does not vary with the seed's shuffle.
        order = range(len(self.queries))
        if self.passes:
            order = np.random.default_rng([self.seed, self.passes]).permutation(len(self.queries))
        self.passes += 1
        self.failures = []
        timed = 0.0
        for i in order:
            q = self.queries[i]
            with tracer.query(q):
                t0 = time.perf_counter()
                with tracer.span("plans", "build"):
                    df = SPARK_QUERIES[q](spark, self.tables)
                if tracer.enabled:
                    with tracer.span("plans", "plan"):
                        df._jdf.queryExecution().executedPlan()
                with tracer.span("plans", "execute"):
                    pdf = df.toPandas()
                timed += time.perf_counter() - t0
                tracer.note_rows(len(pdf))
            got = list(_pandas_hash(pdf))
            if got != self.oracle[q]:
                self.failures.append(f"{q}: {got} != oracle {self.oracle[q]}")
            tracer.free_blocks()
        return timed

    def check(self) -> str | None:
        return "; ".join(self.failures) or None


WORKLOADS = {w.name: w for w in (AspepEtl, QueryMix)}
