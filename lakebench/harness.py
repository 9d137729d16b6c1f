"""The closed loop every workload shares, and the metric catalogue.

A workload hands ``measure`` its fixed item list and a call per item. The
loop replays the list in whole rounds until the measured time reaches the
run length, so a slower or faster program changes how many rounds run, never
which requests make up a round.
"""

from __future__ import annotations

import statistics
import sys
import time
import traceback
from collections.abc import Callable
from dataclasses import dataclass

from inputs import CORPUS_KEYS, SHAPES
from measure import COUNTERS, SparkCounters, Tracer, self_times

# (name, unit); every workload prints all of them
END_TO_END = (
    ("setup_s", "s"),
    ("ops_per_s", "1/s"),
    ("p50_ms", "ms"),
    ("rows_per_s", "1/s"),
)

# (name, unit); a layer a workload does not touch reads 0 there
PER_LAYER = (
    ("session.start_ms", "ms"),
    ("ast.parse_ms", "ms"),
    ("segments.read_ms", "ms"),
    ("engine.build_ms", "ms"),
    ("spark.exec_ms", "ms"),
    ("ingest.seal_ms", "ms"),
    ("segments.compact_ms", "ms"),
    ("segments.readback_ms", "ms"),
    ("registry.build_ms", "ms"),
    ("trace.unattributed_ms", "ms"),
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.run_ms", "ms"),
    ("spark.cpu_ms", "ms"),
    ("spark.noncpu_ms", "ms"),
    ("spark.shuffle_mb", "MB"),
    ("spark.spill_mb", "MB"),
    ("segments.files_sealed", "count"),
    ("segments.files_compacted", "count"),
    ("segments.bytes_written_per_input_byte", "ratio"),
    ("segments.stored_bytes_per_input_byte", "ratio"),
    *((f"shape.{s}.p50_ms", "ms") for s in SHAPES),
    *(
        (f"{m}.{k}", unit)
        for k in CORPUS_KEYS
        for m, unit in (
            ("registry.build_ms", "ms"),
            ("spark.exec_ms", "ms"),
            ("spark.jobs", "count"),
            ("spark.stages", "count"),
            ("spark.noncpu_ms", "ms"),
            ("spark.spill_mb", "MB"),
        )
    ),
    ("jvm.heap_after_gc_mb", "MB"),
    ("peak_rss_mb", "MB"),
    ("ops.measured", "count"),
    ("trace.ops_per_s", "1/s"),
)

# span name -> per-layer metric holding its self time per operation
SPAN_METRICS = {
    "op": "trace.unattributed_ms",
    "ast.parse": "ast.parse_ms",
    "segments.read": "segments.read_ms",
    "engine.build": "engine.build_ms",
    "spark.exec": "spark.exec_ms",
    "ingest.seal": "ingest.seal_ms",
    "segments.compact": "segments.compact_ms",
    "segments.readback": "segments.readback_ms",
    "registry.build": "registry.build_ms",
}


@dataclass
class OpRecord:
    op: int
    key: int  # index of the item in the workload's list
    latency_s: float  # the operation alone
    cost_s: float  # the operation plus the loop's own per-operation work
    output: object
    counters: dict[str, float] | None
    error: str | None


def measure(
    items: list,
    call: Callable[[object], object],
    seconds: float,
    tracer: Tracer,
    counters: SparkCounters | None,
    after: Callable[[OpRecord], None] | None = None,
) -> list[OpRecord]:
    """Closed loop, one client: replay ``items`` in whole rounds until the
    summed cost reaches ``seconds``. An operation that raises is recorded as
    failed and the loop goes on. ``after`` runs outside the timed region."""
    records: list[OpRecord] = []
    spent = 0.0
    while spent < seconds:
        for key, item in enumerate(items):
            op = len(records)
            if counters:
                counters.begin(op)
            output = error = None
            t0 = time.perf_counter()
            try:
                with tracer.span("op", op=op):
                    output = call(item)
            except Exception:  # noqa: BLE001 - a failed op is a result
                error = traceback.format_exc()
                print(error, file=sys.stderr)
            t1 = time.perf_counter()
            counts = counters.end(op) if counters else None
            rec = OpRecord(op, key, t1 - t0, time.perf_counter() - t0, output, counts, error)
            records.append(rec)
            spent += rec.cost_s
            if after:
                after(rec)
    return records


def rates(
    records: list[OpRecord], kind: Callable[[OpRecord], object], rows: Callable[[object], float]
) -> tuple[float, float]:
    """Operations and rows per second of a typical round. Records of the same
    ``kind`` repeat one item; each kind counts with the median cost of its
    records, so one operation caught in a slow moment of the host moves the
    rate less than it would move a sum. ``rows(kind)`` is the rows one
    operation of that kind handles."""
    costs: dict[object, list[float]] = {}
    for r in records:
        costs.setdefault(kind(r), []).append(r.cost_s)
    typical = {k: statistics.median(v) for k, v in costs.items()}
    round_s = sum(typical.values())
    return len(typical) / round_s, sum(rows(k) for k in typical) / round_s


def end_to_end(
    records: list[OpRecord],
    setup_s: float,
    kind: Callable[[OpRecord], object],
    rows: Callable[[object], float],
) -> dict[str, float]:
    ops_per_s, rows_per_s = rates(records, kind, rows)
    return {
        "setup_s": setup_s,
        "ops_per_s": ops_per_s,
        "p50_ms": statistics.median(r.latency_s for r in records) * 1e3,
        "rows_per_s": rows_per_s,
    }


def per_layer(
    records: list[OpRecord],
    tracer: Tracer,
    counters: SparkCounters,
    session_s: float,
    peak_mb: float,
    extra: dict[str, float],
    kind: Callable[[OpRecord], object],
) -> dict[str, float]:
    """Per-operation means of span self times and Spark counters, plus the
    workload's own ``extra`` figures; layers not measured read 0."""
    n = len(records)
    out = dict.fromkeys((name for name, _ in PER_LAYER), 0.0)
    for span, secs in self_times(tracer.spans).items():
        out[SPAN_METRICS[span]] = secs * 1e3 / n
    for c in COUNTERS:
        out[f"spark.{c}"] = sum(r.counters[c] for r in records) / n
    out["spark.noncpu_ms"] = out["spark.run_ms"] - out["spark.cpu_ms"]
    out["session.start_ms"] = session_s * 1e3
    out["jvm.heap_after_gc_mb"] = counters.heap_after_gc_mb
    out["peak_rss_mb"] = peak_mb
    out["ops.measured"] = n
    out["trace.ops_per_s"] = rates(records, kind, lambda _: 0.0)[0]
    out.update(extra)
    return out
