"""``corpus_batch``: registry keys of the corpus pipeline through the noop sink.

One operation is one registry key, as ``bench.py`` runs it: the builder call
(``registry``, which runs the operators' eager jobs such as checkpoints) and
then a write of the returned frame to Spark's ``noop`` sink. The tables are
seeded documents and embeddings at the sizes of sf0.1.
"""

from __future__ import annotations

import os
import statistics
import time
from concurrent.futures import ThreadPoolExecutor

import checks
import harness
import inputs
from measure import SparkCounters, Tracer, self_times_by_op
from lakeside_spark.registry import QUERIES
from lakeside_spark.session import get_spark

WARMUP_PASSES = 1
# a measured round; one pass of the three keys takes 4-6 s, so a round of
# three passes always outlasts --seconds and every run measures one round.
# Three passes give each key a median of three operations.
ROUND_PASSES = 3
# documents each key reads; semdedup reads the embeddings
KEY_ROWS = {
    "corpus_gopher_filter": inputs.CORPUS_DOCS,
    "semdedup": inputs.CORPUS_VECTORS,
    "multimodal_phash_dedup": inputs.CORPUS_DOCS,
}


def _run_key(spark, sf_dir: str, key: str, tracer):
    with tracer.span("registry.build"):
        df = QUERIES[key](spark, sf_dir)
    with tracer.span("spark.exec"):
        df.write.format("noop").mode("overwrite").save()
    return df


def run(seed: int, seconds: float, trace: bool, work: str) -> dict:
    t0 = time.perf_counter()
    spark = get_spark("lakebench-corpus-batch")
    session_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")

    t0 = time.perf_counter()
    sf_dir = os.path.join(work, "sf")
    os.makedirs(sf_dir)
    inputs.corpus_tables(seed, sf_dir)
    build_s = time.perf_counter() - t0

    one_pass = inputs.corpus_keys(seed)
    idle = Tracer(False)
    # DuckDB answers the oracles (5 s or more for semdedup) during the
    # warm-up, which is not timed, and is done before the timed region starts
    with ThreadPoolExecutor(1) as pool:
        oracle = pool.submit(checks.oracle_answers, sf_dir, one_pass)
        for key in one_pass * WARMUP_PASSES:
            _run_key(spark, sf_dir, key, idle)
        expected = oracle.result()
    keys = one_pass * ROUND_PASSES

    tracer = Tracer(trace)
    counters = SparkCounters(spark) if trace else None
    records = harness.measure(
        keys,
        lambda key: _run_key(spark, sf_dir, key, tracer),
        seconds,
        tracer,
        counters,
    )

    # checks, outside the timed region: each measured frame is collected
    # again and compared with the key's DuckDB oracle on the same tables
    failed = checks.count_failed_corpus(records, keys, expected)
    for rec in records:
        rec.output = None

    layers: dict[str, float] = {}
    if trace:
        by_op = self_times_by_op(tracer.spans)
        for key in inputs.CORPUS_KEYS:
            recs = [r for r in records if keys[r.key] == key]
            if not recs:
                continue
            ms = {
                span: statistics.mean(by_op[r.op].get(span, 0.0) for r in recs) * 1e3
                for span in ("registry.build", "spark.exec")
            }
            c = {
                name: statistics.mean(r.counters[name] for r in recs)
                for name in recs[0].counters
            }
            layers[f"registry.build_ms.{key}"] = ms["registry.build"]
            layers[f"spark.exec_ms.{key}"] = ms["spark.exec"]
            layers[f"spark.jobs.{key}"] = c["jobs"]
            layers[f"spark.stages.{key}"] = c["stages"]
            layers[f"spark.noncpu_ms.{key}"] = c["run_ms"] - c["cpu_ms"]
            layers[f"spark.spill_mb.{key}"] = c["spill_mb"]
    return {
        "records": records,
        "failed": failed,
        "tracer": tracer,
        "counters": counters,
        "session_s": session_s,
        "setup_s": session_s + build_s,
        "kind": lambda rec: keys[rec.key],
        "rows": KEY_ROWS.get,
        "layers": layers,
    }
