"""Sinks: year-partitioned canonical store + JSON-array publisher."""

from __future__ import annotations

import gzip
import json
import os

from pyspark.sql import functions as F

from aspep_etl_spark.sinks import gzip_publish, write_canonical_store, write_json_array


def test_canonical_store_partition_pruning(spark, tmp_path):
    path = str(tmp_path / "store")
    df = spark.createDataFrame(
        [(1, 2003, "a"), (2, 2004, "b"), (3, 2004, "c")], ["id", "year", "v"]
    )
    write_canonical_store(df, path)
    assert sorted(p for p in os.listdir(path) if p.startswith("year=")) == [
        "year=2003",
        "year=2004",
    ]
    back = spark.read.parquet(path).filter(F.col("year") == 2004)
    assert back.count() == 2


def test_json_array_publisher(spark, tmp_path):
    path = str(tmp_path / "out" / "artifact.json")
    df = spark.createDataFrame(
        [("WI", 2017, 42327514.0), ("MO", 2024, float("nan"))],
        ["state_code", "year", "total_pay"],
    )
    write_json_array(df, path)
    with open(path) as f:
        data = json.load(f)
    assert data[0] == {"state_code": "WI", "year": 2017, "total_pay": 42327514.0}
    assert data[1]["total_pay"] is None  # NaN → null, strict JSON

    gz = gzip_publish(path)
    with gzip.open(gz) as f:
        assert json.load(f) == data


def test_json_array_row_cap_guard(spark, tmp_path):
    """The sanctioned driver-side collect refuses pipeline-scale input."""
    import pytest

    from aspep_etl_spark.sinks import write_json_array

    df = spark.range(50)
    with pytest.raises(ValueError, match="more than 10 rows"):
        write_json_array(df, str(tmp_path / "big.json"), max_rows=10)
    # under the cap still writes
    out = write_json_array(df.limit(3), str(tmp_path / "ok.json"), max_rows=10)
    import json

    assert len(json.load(open(out))) == 3


def test_publish_dir_walks_gzips_and_returns_urls(tmp_path):
    """Reference s3_upload surface: walk, gzip text, per-file quarantine,
    public URL list — uploader injected (no boto3/network in container)."""
    import gzip as gz
    import json

    from aspep_etl_spark.sinks import publish_dir

    (tmp_path / "sub").mkdir()
    (tmp_path / "combined.json").write_text(json.dumps([{"a": 1}]))
    (tmp_path / "sub" / "stats.csv").write_text("a,b\n1,2\n")
    (tmp_path / "raw.parquet").write_bytes(b"\x00binary")
    # unreadable text file: gzip step fails → quarantined like an upload
    # failure (gzip runs INSIDE the per-file try), walk must continue
    (tmp_path / "broken.json").symlink_to(tmp_path / "does-not-exist")

    calls, sent_bytes = [], {}

    def uploader(path, bucket, key, extra):
        if key.endswith("stats.csv"):
            raise OSError("simulated transfer failure")
        calls.append((path, bucket, key, tuple(sorted(extra.items()))))
        with open(path, "rb") as f:  # the gzip is removed after the upload
            sent_bytes[key] = f.read()

    res = publish_dir(str(tmp_path), "my-bucket", prefix="aspep/v1", uploader=uploader)
    by_file = {r["file"]: r["url"] for r in res}
    assert by_file["combined.json"] == "https://my-bucket.s3.amazonaws.com/aspep/v1/combined.json"
    # quarantined file is OMITTED (reference appends only successes) and
    # the walk continued past it
    assert "stats.csv" not in by_file
    assert "broken.json" not in by_file  # gzip failure quarantined too
    assert by_file["raw.parquet"] == "https://my-bucket.s3.amazonaws.com/aspep/v1/raw.parquet"

    sent = {k: (p, dict(e)) for p, b, k, e in calls}
    gz_path, extra = sent["aspep/v1/combined.json"]
    assert gz_path.endswith(".json.gz")  # text → gzipped upload
    assert extra["ContentEncoding"] == "gzip" and extra["ACL"] == "public-read"
    assert json.loads(gz.decompress(sent_bytes["aspep/v1/combined.json"])) == [{"a": 1}]
    _, bin_extra = sent["aspep/v1/raw.parquet"]
    assert "ContentEncoding" not in bin_extra  # binary uploaded as-is


def test_publish_dir_twice_uploads_same_keys_and_leaves_tree(tmp_path):
    """The gzip of a text artifact is not written into the walked tree, so
    a second publish of the same directory uploads the same keys (no
    ``combined.json.gz`` as a raw binary key) and the listing is unchanged."""
    from aspep_etl_spark.sinks import publish_dir

    (tmp_path / "sub").mkdir()
    (tmp_path / "combined.json").write_text("[]")
    (tmp_path / "sub" / "stats.csv").write_text("a,b\n1,2\n")
    (tmp_path / "raw.parquet").write_bytes(b"\x00binary")

    def listing():
        return sorted(str(p.relative_to(tmp_path)) for p in tmp_path.rglob("*"))

    before = listing()
    runs = []
    for _ in range(2):
        calls = []
        publish_dir(
            str(tmp_path), "b",
            uploader=lambda path, bucket, key, extra: calls.append(
                (key, extra.get("ContentEncoding"))
            ),
        )
        runs.append(calls)
        assert listing() == before
    assert runs[0] == runs[1] == [
        ("combined.json", "gzip"), ("raw.parquet", None), ("sub/stats.csv", "gzip"),
    ]


def test_json_array_byte_parity_with_reference_serializer(spark, tmp_path):
    """BYTE-level parity of S8: write_json_array must emit exactly what the
    reference's pandas ``to_json(orient="records", indent=4)`` emits
    (assets.py:325,380,486) — no space after ':', ``\\/`` slash escapes,
    ``\\uXXXX`` non-ASCII, ujson double_precision=10 float shape, and the
    ``[\\n\\n]`` empty-frame form.  pandas itself is the oracle."""
    import pandas as pd

    records = [
        {
            "government_function": "Fire Protection",  # plain string
            "slug": "fire—protection/x",  # unicode + slash escape
            "year": 2017,  # int
            "total_pay": 42327514.0,  # float with .0
            "ratio": 0.30000000000000004,  # rounds to 0.3 at dp=10
            "tiny": 1e-7,  # decimal, not exponent
            "huge": 1.5e20,  # exponent form
            "missing": None,  # null
            "flag": True,  # bool
            "precise": 1234.5678901234567,  # 10-dp rounding
        },
        {
            "government_function": "Police Protection",
            "slug": None,
            "year": 2024,
            "total_pay": float("nan"),  # NaN → null
            "ratio": -17.125,
            "tiny": 5e-17,  # small exponent form
            "huge": 1e16,  # decimal boundary
            "missing": "ok",
            "flag": False,
            "precise": 123456789.123456789,
        },
    ]
    expected = pd.DataFrame(records).to_json(orient="records", indent=4)

    df = spark.createDataFrame(
        pd.DataFrame(records).astype(object).where(pd.notnull(pd.DataFrame(records)))
    )
    path = str(tmp_path / "parity.json")
    write_json_array(df, path)
    got = open(path).read()
    assert got == expected

    # empty-frame shape
    from aspep_etl_spark.sinks.publish import render_records_json

    assert render_records_json([]) == pd.DataFrame([]).to_json(
        orient="records", indent=4
    )


def test_compact_partitions_merges_small_files(spark, tmp_path):
    """OPTIMIZE-style maintenance: a store fragmented into many small
    files per partition compacts to size-targeted file counts with data
    and partition layout unchanged."""
    from aspep_etl_spark.sinks.publish import compact_partitions

    path = str(tmp_path / "store")
    df = spark.createDataFrame(
        [(i, 2003 + i % 2, f"v{i}") for i in range(2000)], ["id", "year", "v"]
    )
    # fragment: 20 writer tasks per partition
    df.repartition(20).write.partitionBy("year").parquet(path)
    frag = sum(
        1
        for e in (tmp_path / "store").rglob("*.parquet")
    )
    assert frag >= 30  # genuinely fragmented

    report = compact_partitions(spark, path, "year", target_file_bytes=64 * 1024 * 1024)
    assert set(report["before"]) == {"year=2003", "year=2004"}
    assert all(n == 1 for n in report["after"].values())  # tiny data → 1 file

    back = spark.read.parquet(path)
    assert back.count() == 2000
    assert back.filter("year = 2004").count() == 1000
    assert {r["v"] for r in back.filter("id < 3").collect()} == {"v0", "v1", "v2"}


def test_compact_partitions_hive_escaped_and_null_values(spark, tmp_path):
    """Regression: string partition values with Hive-escaped characters
    ('x:y' → 'x%3Ay' on disk) and the null partition must be matched for
    rewrite — the raw directory token matched zero rows and silently left
    those partitions uncompacted."""
    from aspep_etl_spark.sinks.publish import compact_partitions

    path = str(tmp_path / "store")
    df = spark.createDataFrame(
        [(i, "x:y" if i % 2 == 0 else None) for i in range(40)], "v long, part string"
    )
    # fragment: many tiny files per partition
    df.repartition(8).write.partitionBy("part").parquet(path)
    import os

    assert os.path.isdir(f"{path}/part=x%3Ay")
    assert os.path.isdir(f"{path}/part=__HIVE_DEFAULT_PARTITION__")

    report = compact_partitions(spark, path, partition_col="part")
    for entry, n_before in report["before"].items():
        assert n_before > 1, entry
        assert report["after"][entry] == 1, entry  # tiny data → one file
    back = spark.read.parquet(path)
    assert back.count() == 40
    assert back.filter("part IS NULL").count() == 20
    assert back.filter("part = 'x:y'").count() == 20
