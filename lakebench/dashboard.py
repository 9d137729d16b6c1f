"""``dashboard``: graph requests replayed over a 96-partition segment lake.

Each operation is what a dashboard panel costs the server: parse the graph
request (``ast``), open the lake for its time range (``read_segments``),
build the plan (``QueryEngine``) and collect the answer (Spark).
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np
from pyspark.sql import types as T

import checks
import harness
import inputs
from measure import SparkCounters, Tracer
from lakeside_spark.ast.formula import parse_formula
from lakeside_spark.ast.model import ast_input_from_json
from lakeside_spark.engine import QueryEngine
from lakeside_spark.session import get_spark
from lakeside_spark.sources.segments import read_segments, write_segments

WARMUP_PASSES = 1

LAKE_SCHEMA = T.StructType(
    [
        T.StructField("timestamp_ms", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("message", T.StringType()),
        T.StructField("user_id", T.StringType()),
        T.StructField("event_id", T.LongType()),
    ]
)


def _answer(spark, engine: QueryEngine, lake: str, req: dict, tracer):
    with tracer.span("ast.parse"):
        exprs, formulae = ast_input_from_json(req["body"])
        for f in formulae:
            parse_formula(f)
    with tracer.span("segments.read"):
        df = read_segments(spark, lake, "logs", req["start_ms"], req["end_ms"])
    with tracer.span("engine.build"):
        if req["shape"] == "tag_values":
            frames = {"a": engine.tag_values(exprs["a"], df, req["tag_name"])}
        elif formulae:
            frames = engine.run_graph(exprs, formulae, df, step_ms=req["step_ms"])
        else:
            frames = {
                label: engine.run(e, df, step_ms=req["step_ms"])
                for label, e in exprs.items()
            }
    with tracer.span("spark.exec"):
        return {label: (f.columns, f.collect()) for label, f in frames.items()}


def run(seed: int, seconds: float, trace: bool, work: str) -> dict:
    t0 = time.perf_counter()
    spark = get_spark("lakebench-dashboard")
    session_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")

    lake = os.path.join(work, "lake")
    t0 = time.perf_counter()
    events = inputs.lake_events(seed)
    write_segments(spark.createDataFrame(events, schema=LAKE_SCHEMA), lake)
    build_s = time.perf_counter() - t0

    requests = inputs.dashboard_requests(seed)
    engine = QueryEngine(spark)
    idle = Tracer(False)
    for req in requests * WARMUP_PASSES:
        _answer(spark, engine, lake, req, idle)

    tracer = Tracer(trace)
    counters = SparkCounters(spark) if trace else None
    records = harness.measure(
        requests,
        lambda req: _answer(spark, engine, lake, req, tracer),
        seconds,
        tracer,
        counters,
    )

    # checks, outside the timed region: every answer against DuckDB
    existing = set(read_segments(spark, lake, "logs").columns)
    con = checks.lake_connection(lake)
    want = [checks.expected_answer(con, req, existing) for req in requests]
    failed = checks.count_failed(records, want)
    con.close()

    # rows of the lake inside each request's time range
    ts = np.asarray(events["timestamp_ms"])
    in_range = [
        int(np.searchsorted(ts, r["end_ms"]) - np.searchsorted(ts, r["start_ms"]))
        for r in requests
    ]

    by_shape: dict[str, list[float]] = {}
    for rec in records:
        by_shape.setdefault(requests[rec.key]["shape"], []).append(rec.latency_s)
    return {
        "records": records,
        "failed": failed,
        "tracer": tracer,
        "counters": counters,
        "session_s": session_s,
        "setup_s": session_s + build_s,
        "kind": lambda rec: rec.key,
        "rows": lambda key: in_range[key],
        "layers": {
            f"shape.{s}.p50_ms": statistics.median(v) * 1e3 for s, v in by_shape.items()
        },
    }
