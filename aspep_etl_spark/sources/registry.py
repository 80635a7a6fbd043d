"""Testdata table loaders (TESTDATA.md tables; driver contract
__spark_entry__.py — every queries() entry reads through here).

Handles the parquet physical-type wrinkle in the driver's data: the
``events`` table has stored ``ts`` either as INT64 TIMESTAMP(NANOS) —
which Spark 4 refuses outright ([PARQUET_TYPE_ILLEGAL]) — or, in newer
generations, as TIMESTAMP(MICROS) with ``isAdjustedToUTC=false``, which
Spark reads as TIMESTAMP_NTZ (watermarks and several time functions
require plain TIMESTAMP).  The loader normalizes both to a microsecond
TIMESTAMP: the nanos path flips the session to ``nanosAsLong`` and
rebuilds with **integer** division (nanosecond epochs ~1.7e18 exceed
2^53, so a double-division round-trip would corrupt timestamps by whole
microseconds); the NTZ path casts, which in this UTC container maps
wall-clock to the identical instant DuckDB's naive TIMESTAMP shows.
"""

from __future__ import annotations

import logging
import os
import re
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

log = logging.getLogger(__name__)


#: The canonical table set (TESTDATA.md); `register_views` publishes these.
TABLES = (
    "region nation customer supplier part orders lineitem "
    "events documents embeddings"
).split()


#: Fan-out floor: below this compressed size the per-task overhead of the
#: extra exchange (shuffle fences, Python-worker batch setup, more tasks in
#: every downstream stage) outweighs the parallelism — measured at sf0.1
#: (594 KB documents): dsir fan +23%, classifier fan a wash, extended
#: pipeline fan +43%.  ``$SPARK_GRAFT_FAN_MIN_BYTES`` overrides it.
_FAN_MIN_BYTES = 2 * 1024 * 1024

#: Physical operators after which a frame is no longer a bare file scan
#: (matched at a ``treeString`` line start, after any ``*(n)`` prefix).
_NOT_A_SCAN = re.compile(r"^[ :|+-]*(\*\(\d+\) )?(\w*Exchange|\w*QueryStage|InMemory|\w*Subquery)", re.M)


def _scan_splits(sizes: list[int], spark: SparkSession, cores: int) -> int:
    """The read tasks Spark plans for files of these sizes
    (``FilePartition.maxSplitBytes`` and its largest-first packing)."""

    def conf(key: str, default: str) -> int:  # "128MB", "8m", "134217728b"
        m = re.fullmatch(r"(\d+)\s*([kmgtp]?)b?", spark.conf.get(key, default).strip().lower())
        return int(m[1]) << 10 * " kmgtp".index(m[2] or " ")

    max_bytes = conf("spark.sql.files.maxPartitionBytes", "128m")
    open_cost = conf("spark.sql.files.openCostInBytes", "4m")
    keys = ("spark.sql.files.minPartitionNum", "spark.sql.leafNodeDefaultParallelism")
    min_parts = int(next((v for k in keys if (v := spark.conf.get(k, None))), cores))
    split = min(max_bytes, max(open_cost, sum(s + open_cost for s in sizes) // min_parts))
    parts = size = n = 0
    for p in sorted((min(split, s - o) for s in sizes for o in range(0, s, split)), reverse=True):
        if n and size + p > split:
            parts, size, n = parts + 1, 0, 0
        size, n = size + p + open_cost, n + 1
    return parts + (n > 0)


def scan_decision(df: DataFrame, min_bytes: int | None = None, cores: int | None = None) -> dict:
    """The one scan-parallelism decision: is ``df`` a file scan running as
    fewer tasks than ``cores`` (default: the session's)?  Returns the
    record ``cores``, ``min_bytes``, ``bytes``, ``files``, ``splits``,
    ``row_groups``, ``fired``, ``reason``; logs it at DEBUG.

    Plan-only, ``df`` is never executed: a frame past an exchange, cache
    or subquery is ``"not a scan"``.  ``bytes``/``files`` come from
    ``df.inputFiles()`` (object-store paths never fire), ``splits`` from
    those sizes and the ``spark.sql.files.*`` confs, ``row_groups`` from
    the parquet footers, read only while ``min(splits, files)`` could
    still fire.  Parquet splits at row-group boundaries only, so the
    effective task count is ``eff = min(splits, row_groups)``.  It fires
    when ``eff * 2 <= cores``: one exchange of the whole payload is worth
    it only if it at least doubles the working tasks (on single-row-group
    files, ``eff`` = 1, this agrees with ``eff < cores`` at every core
    count).  Inputs under ``min_bytes`` (default 2 MB,
    ``$SPARK_GRAFT_FAN_MIN_BYTES``) never fire; operators whose per-row
    work dwarfs the bytes pass 0.  An exception while gathering falls
    back to not firing, logged at WARNING and named in ``reason``."""
    if min_bytes is None:
        min_bytes = int(os.environ.get("SPARK_GRAFT_FAN_MIN_BYTES", _FAN_MIN_BYTES))
    rec = dict(cores=cores or df.sparkSession.sparkContext.defaultParallelism, min_bytes=min_bytes,
               bytes=None, files=None, splits=None, row_groups=None, fired=False)
    try:
        rec["reason"] = _decide(df, rec)
    except Exception as e:  # noqa: BLE001 — an optimization, never a gate
        rec["reason"] = f"fallback: {type(e).__name__}: {e}"
        log.warning("scan fan fell back: %s", rec, exc_info=True)
    else:
        log.debug("scan fan: %s", rec)
    return rec


def _decide(df: DataFrame, rec: dict) -> str:
    if _NOT_A_SCAN.search(df._jdf.queryExecution().executedPlan().toString()):
        return "not a scan"
    urls = [urlparse(f) for f in df.inputFiles()]
    if not urls:
        return "no input files"
    if any(u.scheme not in ("file", "") for u in urls):
        return "remote input"
    paths = [unquote(u.path) for u in urls]
    sizes = [os.path.getsize(p) for p in paths]
    rec.update(bytes=sum(sizes), files=len(paths))
    if rec["bytes"] < rec["min_bytes"]:
        return "below floor"
    rec["splits"] = _scan_splits(sizes, df.sparkSession, rec["cores"])
    if min(rec["splits"], len(paths)) * 2 > rec["cores"]:
        return "subscribed"
    if not all(p.endswith(".parquet") for p in paths):
        return "not parquet"
    import pyarrow.parquet as pq
    rec["row_groups"] = sum(pq.read_metadata(p).num_row_groups for p in paths)
    if min(rec["splits"], rec["row_groups"]) * 2 > rec["cores"]:
        return "subscribed"
    rec["fired"] = True
    return "undersubscribed"


def fan_for_compute(df: DataFrame, min_bytes: int | None = None) -> DataFrame:
    """Scan fan-out for compute-heavy consumers of a compact input (guide
    §2.5 "input skew"): when ``scan_decision`` fires, redistribute the
    rows round-robin across the cores so the regex/vector/Arrow work
    downstream runs at full parallelism; otherwise return ``df`` itself.
    ``repartition(n)`` is retry-safe (SPARK-23207) and row-set-preserving;
    every caller aggregates or ranks downstream, so order is invisible."""
    rec = scan_decision(df, min_bytes)
    return df.repartition(rec["cores"]) if rec["fired"] else df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = f"{sf_dir}/{name}.parquet"
    if name != "events":
        return spark.read.parquet(path)

    # Runtime-settable SQL confs; also works when the caller (the driver)
    # built its own SparkSession without these flags.  The UTC pin makes
    # the NTZ→LTZ cast (and every epoch-derived op downstream: cast to
    # long in sessionize, hourly window alignment) independent of the
    # host JVM zone, so the loader is self-sufficient rather than
    # relying on the container default being UTC.
    #
    # DELIBERATELY session-global and not restored: downstream
    # tz-sensitive ops (date_trunc, window alignment) are analyzed
    # LATER, under whatever tz the session then has — restoring the
    # previous zone here would realign them off the oracle contract.
    # UTC-pinned analytics sessions are this engine's convention
    # (session.py sets the same); callers needing another zone should
    # set it after loading and own the divergence.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, T.LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif isinstance(ts_type, T.TimestampNTZType):
        # Explicit LTZ type (not the "timestamp" alias, which resolves
        # through spark.sql.timestampType and becomes a no-op if a
        # caller session defaults to TIMESTAMP_NTZ).
        df = df.withColumn("ts", F.col("ts").cast(T.TimestampType()))
    return df


def register_views(
    spark: SparkSession, sf_dir: str, tables: list[str] | None = None
) -> list[str]:
    """Publish the canonical tables as temp views so users run plain
    ``spark.sql("SELECT ... FROM lineitem JOIN orders ...")`` — the same
    names the DuckDB oracle layer uses, with the events-timestamp wrinkle
    already normalized.  Views are lazy: registering all ten costs only
    parquet footer reads.  Returns the registered names.

    Missing files are skipped (a user may materialize a subset), so this
    also works on a directory holding only e.g. ``documents``/
    ``embeddings`` for the LLM-curation surface."""
    done: list[str] = []
    for name in tables or TABLES:
        if not os.path.exists(f"{sf_dir}/{name}.parquet"):
            continue
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
        done.append(name)
    return done
