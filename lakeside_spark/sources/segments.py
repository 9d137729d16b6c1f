"""Partitioned segment lake layout.

The reference stores sealed segments at
``db/{customer}/{collector}/{dateint}/{dataset}/{hour}/{segmentId}.parquet``
and prunes segments with a trigram index + time metadata
(core Commons.scala:160-177, NLPUtils.scala). The Spark-native equivalent is
a hive-partitioned layout — ``dataset=X/dateint=D/hour=H`` — where time-range
predicates become partition filters: excluded hours are never listed, read,
or even footer-checked. Tag-value skipping comes from parquet row-group
statistics and (optionally) bloom filters instead of trigrams.

Like the reference's per-segment catalog metadata, the lake carries its own
shape: ``{lake}/_schema.json`` holds the merged schema (data columns, then
``dataset, dateint, hour``), so opening the lake hands Spark an explicit
schema instead of a ``mergeSchema`` read, which runs a footer-reading job
over every file at plan time. Spark's listing skips ``_``-prefixed names.

Lake contract: only :func:`write_segments` and :func:`compact_segments` add
files to a lake, and both rewrite ``_schema.json``. A file added out of band
must come with a rewritten or deleted ``_schema.json``; a lake without one
(or with a corrupt one) still reads, through the ``mergeSchema`` fallback.
:func:`read_segments` relies on the contract: it lists a sealed lake's files
once per ``_schema.json`` and reuses that listing until the file is replaced.
"""

from __future__ import annotations

import json
import os
from urllib.parse import urlparse

from pyspark.sql import DataFrame, DataFrameReader, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lakeside_spark import schema as S

SCHEMA_FILE = "_schema.json"
PARTITION_COLUMNS = ("dataset", "dateint", "hour")

#: file listings of sealed lakes: path -> (session, seal stamp, frame).
#: A frame holds no rows and no plan beyond the lake's listing; it is
#: reused only while the lake's ``_schema.json`` is the same file.
_LISTED: dict[str, tuple[SparkSession, tuple, DataFrame]] = {}
_LISTED_MAX = 16


def seal_schema(path: str, schema: T.StructType) -> None:
    """Write ``schema`` as the lake's ``_schema.json`` in the column order a
    ``mergeSchema`` read returns: data columns, then the partition columns,
    all nullable. Atomic (tmp + rename): a racing reader sees the old file
    or the new one, never a truncated one."""
    schema_path = _schema_path(path)
    if schema_path is None:
        return
    by_name = {f.name: f for f in schema.fields}
    names = [n for n in by_name if n not in PARTITION_COLUMNS]
    names += [n for n in PARTITION_COLUMNS if n in by_name]
    sealed = T.StructType([T.StructField(n, by_name[n].dataType, True) for n in names])
    tmp_path = schema_path + ".tmp"
    with open(tmp_path, "w") as fh:
        fh.write(sealed.json())
    os.replace(tmp_path, schema_path)


def lake_reader(spark: SparkSession, path: str) -> DataFrameReader:
    """A parquet reader for the lake at ``path``: the sealed schema when
    ``_schema.json`` is there, otherwise (missing, corrupt or wrong-shape
    file) the footer-merging ``mergeSchema`` read."""
    schema_path = _schema_path(path)
    if schema_path is not None:
        try:
            with open(schema_path) as fh:
                return spark.read.schema(T.StructType.fromJson(json.load(fh)))
        except (OSError, ValueError, KeyError, TypeError):
            pass
    return spark.read.option("mergeSchema", "true")


def _schema_path(path: str) -> str | None:
    """Local path of the lake's ``_schema.json``; None for a lake behind a
    non-local URI (``s3a://``, ``hdfs://``), which stays unsealed and reads
    through ``mergeSchema``."""
    url = urlparse(path)
    if url.scheme == "file":
        return os.path.join(url.path, SCHEMA_FILE)
    return None if url.scheme else os.path.join(path, SCHEMA_FILE)


def _by_partition(df: DataFrame) -> DataFrame:
    """Shuffle into ``defaultParallelism`` hash buckets of the partition
    key, one writer task each, and sort each bucket by the key, then
    (ts, name). The explicit count keeps AQE from coalescing the shuffle
    into a single task that writes every file in series; rows of one
    partition still land in one task, hence one file, and leading with
    the key spares the writer a sort of its own."""
    n = df.sparkSession.sparkContext.defaultParallelism
    sort_cols = [c for c in (S.TIMESTAMP, S.NAME) if c in df.columns]
    return df.repartition(n, *PARTITION_COLUMNS).sortWithinPartitions(
        *PARTITION_COLUMNS, *sort_cols
    )


def write_segments(
    telemetry: DataFrame,
    path: str,
    dataset: str = S.DATASET_LOGS,
    bloom_columns: tuple[str, ...] = (),
) -> None:
    """Seal a telemetry frame into the partitioned lake layout.

    Partition columns derive from the timestamp: dateint=YYYYMMDD, hour=HH
    (reference dateint/hour path parity); each partition gets one file,
    its rows sorted by (ts, name). The lake's schema is sealed into
    ``_schema.json`` after the parquet write.
    """
    # timezone-INDEPENDENT partition derivation: pure integer math on epoch
    # millis plus DateType arithmetic (dates carry no timezone), so written
    # partitions always agree with read_segments' UTC pruning
    # (_dateint_hour) no matter what spark.sql.session.timeZone a
    # caller-supplied session uses
    epoch_day = (F.col(S.TIMESTAMP) / F.lit(86_400_000)).cast("long")
    dateint = F.date_format(
        F.date_add(F.to_date(F.lit("1970-01-01")), epoch_day.cast("int")), "yyyyMMdd"
    ).cast("int")
    hour = ((F.col(S.TIMESTAMP) / F.lit(3_600_000)).cast("long") % 24).cast("int")
    df = (
        telemetry.withColumn("dataset", F.lit(dataset))
        .withColumn("dateint", dateint)
        .withColumn("hour", hour)
    )
    # rows inside each file sorted by (ts, name): parquet row-group min/max
    # statistics become tight ranges, so time- and name-predicate scans
    # skip whole row groups at read time — free pruning on every query
    writer = _by_partition(df).write.mode("overwrite")
    writer = writer.partitionBy(*PARTITION_COLUMNS)
    for col in bloom_columns:
        writer = writer.option(f"parquet.bloom.filter.enabled#{col}", "true")
    writer.parquet(path)
    seal_schema(path, df.schema)


def compact_segments(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 256 * 1024 * 1024,
) -> None:
    """Rewrite each (dataset, dateint, hour) partition with right-sized
    files. Streaming ingest seals many small segments (the reference seals
    every ~20 min per collector); at lake scale the file-count, not the
    byte-count, dominates scan planning time — compaction batches them to
    ~target_file_bytes.

    Crash-safe: the compacted lake is written to a sibling temp directory,
    row-count-verified against the source, and only then swapped into place
    with two renames — a failure at any earlier point leaves the original
    lake (its ``_schema.json`` included) untouched (on an object store the
    same two-phase shape applies with the store's atomic-rename/committer
    primitive). The temp lake gets its ``_schema.json`` before the swap.
    """
    import shutil

    base = path.rstrip("/")
    tmp, old = base + ".compact.tmp", base + ".compact.old"
    shutil.rmtree(tmp, ignore_errors=True)
    try:
        df = lake_reader(spark, path).parquet(path)
        total_rows = df.count()
        total_bytes = sum(
            os.path.getsize(os.path.join(dp, f))
            for dp, _, fs in os.walk(path)
            for f in fs
            if f.endswith(".parquet")
        )
        # estimate rows per target file from overall average row width;
        # skewed hours get ceil(rows/rows_per_file) files, never one giant
        row_bytes = max(total_bytes / max(total_rows, 1), 1)
        rows_per_file = max(1, int(target_file_bytes / row_bytes))
        (
            _by_partition(df)
            .write.mode("overwrite")
            .option("maxRecordsPerFile", rows_per_file)
            .partitionBy(*PARTITION_COLUMNS)
            .parquet(tmp)
        )
        seal_schema(tmp, df.schema)
        compacted_rows = spark.read.schema(df.schema).parquet(tmp).count()
        if compacted_rows != total_rows:
            raise RuntimeError(
                f"compact_segments: row count changed during compaction "
                f"({total_rows} -> {compacted_rows}); source left untouched"
            )
        os.rename(base, old)
        os.rename(tmp, base)
        shutil.rmtree(old)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise


def read_segments(
    spark: SparkSession,
    path: str,
    dataset: str | None = None,
    start_ts: int | None = None,
    end_ts: int | None = None,
) -> DataFrame:
    """Read with partition pruning: the dataset/dateint/hour predicates are
    partition filters (check .explain() → PartitionFilters), so out-of-range
    segments cost nothing. The residual precise timestamp bounds remain as
    pushed row-group filters. Opening a sealed lake starts no Spark job and
    lists its files once per seal (:func:`_open_lake`), and the time bounds
    go in as one SQL predicate: parsed in one call, where building them as
    Columns costs a py4j round trip per operator. Every call still reads
    its rows from parquet."""
    df = _open_lake(spark, path)
    bounds = []
    if start_ts is not None:
        day, hour = _dateint_hour(start_ts)
        bounds.append(
            f"(`dateint` > {day} OR (`dateint` = {day} AND `hour` >= {hour}))"
            f" AND `{S.TIMESTAMP}` >= {int(start_ts)}"
        )
    if end_ts is not None:
        day, hour = _dateint_hour(end_ts)
        bounds.append(
            f"(`dateint` < {day} OR (`dateint` = {day} AND `hour` <= {hour}))"
            f" AND `{S.TIMESTAMP}` < {int(end_ts)}"
        )
    cond = F.expr(" AND ".join(bounds)) if bounds else None
    if dataset is not None:
        is_dataset = F.col("dataset") == dataset
        cond = is_dataset if cond is None else is_dataset & cond
    return df if cond is None else df.filter(cond)


def _open_lake(spark: SparkSession, path: str) -> DataFrame:
    """The lake at ``path`` as an unfiltered frame. A sealed lake's files
    change only with its ``_schema.json`` (the lake contract above: every
    write and compaction replaces that file), so the file's identity
    (device, inode, mtime, size) stamps the listing, and a lake whose stamp
    is unchanged is not listed again. An unsealed lake is listed afresh on
    every call."""
    schema_path = _schema_path(path)
    try:
        st = os.stat(schema_path) if schema_path is not None else None
    except OSError:
        st = None
    if st is None:
        return lake_reader(spark, path).parquet(path)
    stamp = (st.st_dev, st.st_ino, st.st_mtime_ns, st.st_size)
    hit = _LISTED.get(path)
    if hit is not None and hit[0] is spark and hit[1] == stamp:
        return hit[2]
    df = lake_reader(spark, path).parquet(path)
    _LISTED.pop(path, None)
    if len(_LISTED) >= _LISTED_MAX:
        _LISTED.pop(next(iter(_LISTED)))
    _LISTED[path] = (spark, stamp, df)
    return df


def _dateint_hour(ts_ms: int) -> tuple[int, int]:
    from datetime import datetime, timezone

    dt = datetime.fromtimestamp(ts_ms / 1000.0, tz=timezone.utc)
    return int(dt.strftime("%Y%m%d")), dt.hour
