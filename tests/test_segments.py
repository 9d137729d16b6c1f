"""Segment lake layout: round-trip + partition pruning verification."""

import os
import shutil
import tempfile
import uuid
from contextlib import contextmanager

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from lakeside_spark import schema as S
from lakeside_spark.schema import load_telemetry
from lakeside_spark.sources.segments import (
    SCHEMA_FILE,
    compact_segments,
    read_segments,
    write_segments,
)


@contextmanager
def jobs_started(spark):
    """Collects the ids of the Spark jobs started inside the block."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    ids: list[int] = []
    try:
        yield ids
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))


def merge_read(spark, path):
    return spark.read.option("mergeSchema", "true").parquet(path)


def shape(schema):
    return [(f.name, f.dataType, f.nullable) for f in schema.fields]


def raw_hive_lake(spark, sf_dir, path):
    """A lake written straight by Spark, without write_segments: no
    _schema.json, 16 small files per partition."""
    ts = F.timestamp_millis(F.col("timestamp_ms"))
    (
        load_telemetry(spark, sf_dir)
        .withColumn("dataset", F.lit("logs"))
        .withColumn("dateint", F.date_format(ts, "yyyyMMdd").cast("int"))
        .withColumn("hour", F.date_format(ts, "HH").cast("int"))
        .repartition(16)
        .write.mode("overwrite")
        .partitionBy("dataset", "dateint", "hour")
        .parquet(path)
    )


@pytest.fixture(scope="module")
def lake(spark, sf_dir):
    path = tempfile.mkdtemp(prefix="lake_")
    tele = load_telemetry(spark, sf_dir)
    write_segments(tele, path, dataset="logs")
    yield path, tele
    shutil.rmtree(path, ignore_errors=True)


def test_roundtrip_preserves_rows(spark, lake):
    path, tele = lake
    got = read_segments(spark, path, dataset="logs")
    assert got.count() == tele.count()


def test_time_range_filters_rows(spark, lake):
    path, tele = lake
    bounds = tele.select(F.min(S.TIMESTAMP), F.max(S.TIMESTAMP)).first()
    start = bounds[0] + 86_400_000  # skip first day
    end = bounds[1] - 86_400_000
    got = read_segments(spark, path, dataset="logs", start_ts=start, end_ts=end)
    exp = tele.filter((F.col(S.TIMESTAMP) >= start) & (F.col(S.TIMESTAMP) < end))
    assert got.count() == exp.count()


def test_partition_pruning_in_plan(spark, lake):
    path, _ = lake
    df = read_segments(spark, path, dataset="logs", start_ts=1704412800000, end_ts=1704499200000)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    # partition filters must reference the layout columns, not be empty
    pf = plan.split("PartitionFilters: [")[1].split("]")[0]
    assert "dateint" in pf and "dataset" in pf


def test_compaction_reduces_files_preserves_rows(spark, sf_dir, tmp_path):
    import glob

    lake = str(tmp_path / "lake")
    # simulate many tiny sealed segments: 16 files per partition
    raw_hive_lake(spark, sf_dir, lake)
    rows_before = spark.read.parquet(lake).count()
    files_before = len(glob.glob(f"{lake}/**/*.parquet", recursive=True))
    compact_segments(spark, lake, target_file_bytes=64 * 1024 * 1024)
    rows_after = spark.read.parquet(lake).count()
    files_after = len(glob.glob(f"{lake}/**/*.parquet", recursive=True))
    assert rows_after == rows_before
    assert files_after < files_before, (files_before, files_after)


def test_partitions_timezone_independent(spark, sf_dir, tmp_path):
    """write_segments must derive dateint/hour from UTC integer math, not
    the session timezone — otherwise read-side UTC pruning silently drops
    rows near day/hour boundaries on non-UTC sessions."""
    lake = str(tmp_path / "tzlake")
    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        tele = load_telemetry(spark, sf_dir)
        write_segments(tele, lake, dataset="logs")
        bounds = tele.select(F.min(S.TIMESTAMP), F.max(S.TIMESTAMP)).first()
        got = read_segments(
            spark, lake, dataset="logs", start_ts=bounds[0], end_ts=bounds[1] + 1
        )
        assert got.count() == tele.count()
        # spot-check: every partition value equals the UTC derivation
        row = got.select(S.TIMESTAMP, "dateint", "hour").first()
        from lakeside_spark.sources.segments import _dateint_hour

        day, hour = _dateint_hour(row[S.TIMESTAMP])
        assert (row["dateint"], row["hour"]) == (day, hour)
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_compaction_failure_leaves_source_intact(spark, sf_dir, tmp_path, monkeypatch):
    """A crash mid-compaction (here: during the temp write) must not lose
    lake data — the swap only happens after the temp copy verifies."""
    import lakeside_spark.sources.segments as seg

    lake = str(tmp_path / "crashlake")
    tele = load_telemetry(spark, sf_dir).limit(500)
    write_segments(tele, lake, dataset="logs")
    before = read_segments(spark, lake, dataset="logs").count()
    with open(os.path.join(lake, SCHEMA_FILE)) as fh:
        sealed = fh.read()

    import os as os_mod

    def exploding_rename(src, dst):
        raise OSError("simulated crash before swap")

    monkeypatch.setattr(os_mod, "rename", exploding_rename)
    with pytest.raises(OSError, match="simulated crash"):
        seg.compact_segments(spark, lake)
    monkeypatch.undo()
    assert read_segments(spark, lake, dataset="logs").count() == before
    with open(os.path.join(lake, SCHEMA_FILE)) as fh:
        assert fh.read() == sealed
    assert not os.path.exists(lake + ".compact.tmp")


def test_jsonl_ingest_roundtrip(spark, tmp_path):
    import json

    from lakeside_spark.sources.ingest import ingest_files, read_jsonl_telemetry

    src = tmp_path / "in.jsonl"
    rows = [
        {"timestamp_ms": 1_700_000_000_000 + i * 3_600_000, "name": "error",
         "value": float(i), "message": f"m{i}", "host": f"h{i % 2}"}
        for i in range(6)
    ]
    lines = [json.dumps(r) for r in rows]
    lines.insert(3, "{not json at all")          # malformed line drops
    lines.append(json.dumps({"value": 1.0}))      # missing ts+name drops
    src.write_text("\n".join(lines))

    tele = read_jsonl_telemetry(spark, str(src), tag_columns=("host",))
    assert tele.count() == 6
    assert tele.columns == ["timestamp_ms", "name", "value", "message", "host"]

    # the count is observed on the write's own pass: ingest_files starts
    # exactly the jobs of sealing the same frame, no extra count job
    with jobs_started(spark) as seal_jobs:
        write_segments(tele, str(tmp_path / "sealed"), dataset="logs")
    lake = tmp_path / "lake"
    with jobs_started(spark) as ingest_jobs:
        n = ingest_files(spark, str(src), str(lake), fmt="jsonl", tag_columns=("host",))
    assert n == 6
    assert len(ingest_jobs) == len(seal_jobs) > 0
    from lakeside_spark.sources.segments import read_segments

    back = read_segments(spark, str(lake), dataset="logs")
    assert back.count() == 6
    assert {r["host"] for r in back.select("host").collect()} == {"h0", "h1"}


def test_csv_ingest(spark, tmp_path):
    from lakeside_spark.sources.ingest import read_csv_telemetry

    src = tmp_path / "in.csv"
    src.write_text(
        "timestamp_ms,name,value,message,region\n"
        "1700000000000,error,1.5,boom,us\n"
        "1700000100000,info,2.5,ok,eu\n"
        ",missing,1.0,dropped,us\n"
    )
    tele = read_csv_telemetry(spark, str(src), tag_columns=("region",))
    got = {(r["name"], r["region"]) for r in tele.collect()}
    assert got == {("error", "us"), ("info", "eu")}


def check_sealed(spark, lake):
    """The sealed schema equals the mergeSchema read's (names, types,
    nullability, order), and opening the lake starts no Spark job."""
    assert os.path.exists(os.path.join(lake, SCHEMA_FILE))
    with jobs_started(spark) as jobs:
        df = read_segments(spark, lake, dataset="logs", start_ts=0, end_ts=4_102_444_800_000)
    assert jobs == []
    assert shape(df.schema) == shape(merge_read(spark, lake).schema)


def check_layout(lake):
    """One parquet file per (dataset, dateint, hour) directory, its rows
    ordered by (timestamp_ms, name)."""
    leaves = [(d, fs) for d, _, fs in os.walk(lake) if os.path.basename(d).startswith("hour=")]
    assert len(leaves) > 1
    for d, fs in leaves:
        files = [f for f in fs if f.endswith(".parquet")]
        assert len(files) == 1, (d, files)
        t = pq.read_table(os.path.join(d, files[0]), columns=[S.TIMESTAMP, S.NAME])
        keys = list(zip(t.column(0).to_pylist(), t.column(1).to_pylist()))
        assert keys == sorted(keys, key=lambda k: (k[0], k[1] is not None, k[1] or "")), d


def test_sealed_schema_and_layout_survive_compaction(spark, sf_dir, tmp_path):
    lake = str(tmp_path / "sealed")
    # shuffled input, so the (ts, name) order in the files is the seal's
    tele = load_telemetry(spark, sf_dir).orderBy(F.rand(7))
    write_segments(tele, lake, dataset="logs")
    check_sealed(spark, lake)
    check_layout(lake)
    compact_segments(spark, lake)
    check_sealed(spark, lake)
    check_layout(lake)
    assert read_segments(spark, lake, dataset="logs").count() == tele.count()


def test_empty_sealed_lake_reads_and_compacts(spark, sf_dir, tmp_path):
    """An empty seal leaves no parquet file; the sealed schema still opens
    the lake, and compaction's row-count check accepts zero rows."""
    lake = str(tmp_path / "empty")
    write_segments(load_telemetry(spark, sf_dir).limit(0), lake, dataset="logs")
    compact_segments(spark, lake)
    got = read_segments(spark, lake, dataset="logs")
    assert got.count() == 0
    assert S.TIMESTAMP in got.columns


def test_lakes_without_a_valid_schema_file_fall_back_to_merge(spark, sf_dir, tmp_path):
    raw = str(tmp_path / "raw")
    raw_hive_lake(spark, sf_dir, raw)
    corrupt = str(tmp_path / "corrupt")
    write_segments(load_telemetry(spark, sf_dir), corrupt, dataset="logs")
    with open(os.path.join(corrupt, SCHEMA_FILE), "w") as fh:
        fh.write('{"type": "struct", "fields": [')
    for lake in (raw, corrupt):
        got = read_segments(spark, lake, dataset="logs")
        want = merge_read(spark, lake)
        assert shape(got.schema) == shape(want.schema)
        assert got.count() == want.count() > 0
        assert got.exceptAll(want).count() == 0


def test_schema_file_only_for_local_lakes():
    from lakeside_spark.sources.segments import _schema_path

    assert _schema_path("/data/lake") == "/data/lake/_schema.json"
    assert _schema_path("file:///data/lake") == "/data/lake/_schema.json"
    assert _schema_path("s3a://bucket/lake") is None


def files_listed(spark):
    """Files Spark's file indexes have listed so far in this JVM."""
    metrics = spark._jvm.org.apache.spark.metrics.source.HiveCatalogMetrics
    return metrics.METRIC_FILES_DISCOVERED().getCount()


def test_sealed_lake_is_listed_once_per_schema_file(spark, sf_dir, tmp_path):
    """read_segments lists a sealed lake once: a second read lists no file.
    A compaction or a rewrite replaces _schema.json, and the next read sees
    the new files and rows."""
    lake = str(tmp_path / "lake")
    tele = load_telemetry(spark, sf_dir)
    write_segments(tele, lake, dataset="logs")
    n = tele.count()
    assert read_segments(spark, lake, dataset="logs").count() == n
    before = files_listed(spark)
    again = read_segments(spark, lake, dataset="logs", start_ts=0, end_ts=4_102_444_800_000)
    assert files_listed(spark) == before
    assert again.count() == n

    compact_segments(spark, lake)
    assert read_segments(spark, lake, dataset="logs").count() == n
    assert files_listed(spark) > before

    ts = tele.agg(F.min(S.TIMESTAMP)).first()[0]
    first_hour = tele.filter(F.col(S.TIMESTAMP) < ts - ts % 3_600_000 + 3_600_000)
    write_segments(first_hour, lake, dataset="logs")
    assert read_segments(spark, lake, dataset="logs").count() == first_hour.count() < n
