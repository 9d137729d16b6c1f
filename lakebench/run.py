"""Lake benchmark entry point.

    python3 lakebench/run.py --workload dashboard --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (end-to-end
metrics with ``--trace 0``, per-layer metrics with ``--trace 1``). Spans of a
traced run go to ``.bench_out/``. Exits non-zero, printing no result, when the
repository's package cannot be imported from the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("dashboard", "lake_ingest", "corpus_batch")


def _parse(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _environment(work: str) -> None:
    """Pin Spark to one local executor with a thread per core, and keep every
    file Spark, the JVM and Python write inside the checkout. The session's
    other settings, driver memory among them, are the program's own."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.pop("SPARK_MASTER", None)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # Python workers import the package from the checkout too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(
        [
            "--conf", "spark.ui.showConsoleProgress=false",
            "--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "--driver-java-options", java_opts,
            "pyspark-shell",
        ]
    )


def _import_program() -> bool:
    sys.path.insert(0, ROOT)
    try:
        import lakeside_spark
    except ImportError as exc:
        print(f"lakebench: cannot import the program from {ROOT}: {exc}", file=sys.stderr)
        return False
    if os.path.dirname(os.path.dirname(os.path.abspath(lakeside_spark.__file__))) != ROOT:
        print(f"lakebench: lakeside_spark resolved outside {ROOT}", file=sys.stderr)
        return False
    return True


def _stop_spark() -> None:
    """Stop the session and wait for the JVM, whose exit ends its Python
    workers."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def main(argv: list[str]) -> int:
    args = _parse(argv)
    if not _import_program():
        return 2

    import harness
    from measure import PeakRss

    workload = __import__(args.workload)
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".bench_out")
    _environment(work)
    try:
        with PeakRss() as rss:
            try:
                res = workload.run(args.seed, args.seconds, bool(args.trace), work)
            finally:
                _stop_spark()
    finally:
        shutil.rmtree(work, ignore_errors=True)

    records = res["records"]
    if args.trace:
        os.makedirs(out_dir, exist_ok=True)
        res["tracer"].write(
            os.path.join(out_dir, f"spans-{args.workload}-seed{args.seed}.json")
        )
        values = harness.per_layer(
            records,
            res["tracer"],
            res["counters"],
            res["session_s"],
            rss.peak_mb,
            res["layers"],
            res["kind"],
        )
        units = harness.PER_LAYER
    else:
        values = harness.end_to_end(records, res["setup_s"], res["kind"], res["rows"])
        units = harness.END_TO_END
    print(
        json.dumps(
            {
                "correct": res["failed"] == 0,
                "attempted": len(records),
                "failed": res["failed"],
                "metrics": {
                    name: {"value": values[name], "unit": unit} for name, unit in units
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
