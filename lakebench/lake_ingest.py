"""``lake_ingest``: seal-and-compact cycles, each on a fresh lake directory.

One operation seals a one-day JSON-lines batch into hourly segments
(``ingest_files``), compacts them (``compact_segments``) and counts the lake
back (``read_segments``), which is the time until the batch is queryable.
"""

from __future__ import annotations

import itertools
import math
import os
import shutil
import sys
import time

import duckdb

import harness
import inputs
from lakeside_spark.session import get_spark
from lakeside_spark.sources.ingest import ingest_files
from lakeside_spark.sources.segments import compact_segments, read_segments
from measure import SparkCounters, Tracer

# the first cycle of a JVM takes about four times a warm one; the second is
# within the spread of the later ones
WARMUP_CYCLES = 1
# a measured round; the loop stops at the first round boundary past --seconds
CYCLES_PER_ROUND = 3


def _parquet_files(path: str) -> list[str]:
    return [
        os.path.join(d, f)
        for d, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    ]


def _bytes(files: list[str]) -> int:
    return sum(os.path.getsize(f) for f in files)


def _cycle(spark, batch: str, lake: str, tracer) -> dict:
    with tracer.span("ingest.seal"):
        ingested = ingest_files(spark, batch, lake, tag_columns=("user_id",))
    sealed = _parquet_files(lake)
    sealed_bytes = _bytes(sealed)
    with tracer.span("segments.compact"):
        compact_segments(spark, lake)
    with tracer.span("segments.readback"):
        readback = read_segments(spark, lake).count()
    compacted = _parquet_files(lake)
    return {
        "ingested": ingested,
        "readback": readback,
        "files_sealed": len(sealed),
        "files_compacted": len(compacted),
        "bytes_written": sealed_bytes + _bytes(compacted),
        "bytes_stored": _bytes(compacted),
    }


def run(seed: int, seconds: float, trace: bool, work: str) -> dict:
    t0 = time.perf_counter()
    spark = get_spark("lakebench-lake-ingest")
    session_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")

    batch = os.path.join(work, "batch.jsonl")
    t0 = time.perf_counter()
    payload, value_sum = inputs.ingest_batch(seed)
    with open(batch, "wb") as fh:
        fh.write(payload)
    build_s = time.perf_counter() - t0
    input_bytes = len(payload)

    lakes = (os.path.join(work, f"lake{i}") for i in itertools.count())
    idle = Tracer(False)
    for _ in range(WARMUP_CYCLES):
        lake = next(lakes)
        _cycle(spark, batch, lake, idle)
        shutil.rmtree(lake)

    tracer = Tracer(trace)
    counters = SparkCounters(spark) if trace else None
    failed = 0

    def call(_):
        lake = next(lakes)
        return {"lake": lake, **_cycle(spark, batch, lake, tracer)}

    def check(rec: harness.OpRecord) -> None:
        # outside the timed region: counts and the value sum against the
        # generator's, the sum read by DuckDB from the compacted lake files
        nonlocal failed
        ok = rec.error is None
        if ok:
            out = rec.output
            got_sum = duckdb.sql(
                f"SELECT sum(value) FROM read_parquet('{out['lake']}/**/*.parquet')"
            ).fetchone()[0]
            ok = (
                out["ingested"] == out["readback"] == inputs.BATCH_ROWS
                and math.isclose(got_sum, value_sum, rel_tol=1e-9)
            )
            shutil.rmtree(out["lake"])
        if not ok:
            failed += 1
            print(f"lake_ingest: wrong result in cycle {rec.op}", file=sys.stderr)

    records = harness.measure(
        [batch] * CYCLES_PER_ROUND, call, seconds, tracer, counters, after=check
    )

    ok = [r.output for r in records if r.error is None]
    n = max(len(ok), 1)
    return {
        "records": records,
        "failed": failed,
        "tracer": tracer,
        "counters": counters,
        "session_s": session_s,
        "setup_s": session_s + build_s,
        # every cycle seals the same batch
        "kind": lambda rec: "cycle",
        "rows": lambda _: inputs.BATCH_ROWS,
        "layers": {
            "segments.files_sealed": sum(o["files_sealed"] for o in ok) / n,
            "segments.files_compacted": sum(o["files_compacted"] for o in ok) / n,
            "segments.bytes_written_per_input_byte": sum(
                o["bytes_written"] for o in ok
            )
            / n
            / input_bytes,
            "segments.stored_bytes_per_input_byte": sum(o["bytes_stored"] for o in ok)
            / n
            / input_bytes,
        },
    }
