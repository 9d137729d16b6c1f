"""Self-tests of the benchmark itself (no Spark session needed):

    python3 lakebench/selftest.py
"""

from __future__ import annotations

import json
import os
import re
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import duckdb  # noqa: E402

import checks  # noqa: E402
import harness  # noqa: E402
import inputs  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


class Inputs(unittest.TestCase):
    def test_same_seed_gives_identical_bytes(self):
        self.assertEqual(
            inputs.lake_events(7).to_csv().encode(), inputs.lake_events(7).to_csv().encode()
        )
        self.assertEqual(inputs.ingest_batch(7), inputs.ingest_batch(7))
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            inputs.corpus_tables(7, a)
            inputs.corpus_tables(7, b)
            for table in ("documents.parquet", "embeddings.parquet"):
                with open(os.path.join(a, table), "rb") as fa, open(
                    os.path.join(b, table), "rb"
                ) as fb:
                    self.assertEqual(fa.read(), fb.read())
        self.assertEqual(inputs.corpus_keys(7), inputs.corpus_keys(7))
        self.assertEqual(sorted(inputs.corpus_keys(7)), sorted(inputs.CORPUS_KEYS))
        self.assertEqual(
            json.dumps(inputs.dashboard_requests(7)),
            json.dumps(inputs.dashboard_requests(7)),
        )

    def test_other_seed_gives_other_inputs(self):
        self.assertNotEqual(inputs.ingest_batch(7)[0], inputs.ingest_batch(8)[0])
        self.assertNotEqual(inputs.dashboard_requests(7), inputs.dashboard_requests(8))

    def test_every_pass_holds_every_shape_and_every_range(self):
        reqs = inputs.dashboard_requests(3)
        self.assertEqual(len(reqs), 12)
        self.assertEqual(sorted({r["shape"] for r in reqs}), sorted(inputs.SHAPES))
        ranges = [r["range"] for r in reqs]
        self.assertEqual(sorted(ranges), sorted([label for label, _, _ in inputs.RANGES] * 3))
        self.assertEqual(reqs, inputs.dashboard_requests(3))


class Metrics(unittest.TestCase):
    def test_names_and_units_are_well_formed(self):
        names = [n for n, _ in harness.END_TO_END + harness.PER_LAYER]
        self.assertEqual(len(names), len(set(names)))
        for name, unit in harness.END_TO_END + harness.PER_LAYER:
            self.assertRegex(name, f"^{NAME.pattern}$")
            self.assertRegex(unit, f"^{UNIT.pattern}$")

    def test_benchmark_json_matches_the_catalogue(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        self.assertEqual(
            [(m["name"], m["unit"]) for m in spec["end_to_end"]], list(harness.END_TO_END)
        )
        self.assertEqual(
            [(m["name"], m["unit"]) for m in spec["per_layer"]], list(harness.PER_LAYER)
        )

    def test_no_tail_percentile_without_ten_samples_above_it(self):
        # p90 needs 100 operations per run (ten above it); a run holds 12
        # dashboard operations, three ingest cycles or nine corpus operations,
        # so no tail percentile is printed at all
        rec = harness.OpRecord(0, 0, 0.5, 0.5, None, None, None)
        for n in (1, 12, 99, 100, 500):
            metrics = harness.end_to_end([rec] * n, 1.0, lambda r: r.key, lambda _: 10.0)
            self.assertFalse([m for m in metrics if re.match(r"p(9\d|100)_", m)])

    def test_rates_take_each_kind_at_its_median(self):
        # two kinds, three operations each; one slow outlier of kind 0
        costs = {0: [1.0, 1.0, 9.0], 1: [3.0, 3.0, 3.0]}
        records = [
            harness.OpRecord(i, key, c, c, None, None, None)
            for key, cs in costs.items()
            for i, c in enumerate(cs)
        ]
        ops_per_s, rows_per_s = harness.rates(records, lambda r: r.key, lambda k: 10.0 * (k + 1))
        self.assertAlmostEqual(ops_per_s, 2 / 4.0)
        self.assertAlmostEqual(rows_per_s, 30.0 / 4.0)


class Checks(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        lake = os.path.join(cls.tmp.name, "lake")
        ev = inputs.lake_events(5).head(15000)  # the first ~14 hours
        duckdb.sql(
            "COPY (SELECT *, 'logs' AS dataset, "
            "CAST(strftime(to_timestamp(timestamp_ms / 1000), '%Y%m%d') AS INT) AS dateint, "
            "CAST(hour(to_timestamp(timestamp_ms / 1000)) AS INT) AS hour FROM ev) "
            f"TO '{lake}' (FORMAT PARQUET, PARTITION_BY (dataset, dateint, hour))"
        )
        cls.con = checks.lake_connection(lake)
        cls.existing = {*ev.columns, "dataset", "dateint", "hour"}
        cls.req = {
            "shape": "chart_count",
            "start_ms": inputs.LAKE_START_MS,
            "end_ms": inputs.LAKE_START_MS + 12 * inputs.HOUR_MS,
            "step_ms": inputs.HOUR_MS,
            "body": json.dumps(
                {
                    "baseExpressions": {
                        "a": {
                            "dataset": "logs",
                            "filter": {"k": "name", "v": ["click"], "op": "eq"},
                            "chart": {"aggregation": "count"},
                        }
                    },
                    "formulae": [],
                }
            ),
        }

    @classmethod
    def tearDownClass(cls):
        cls.con.close()
        cls.tmp.cleanup()

    def test_corrupted_answer_counts_as_failed(self):
        want = checks.expected_answer(self.con, self.req, self.existing)
        cols, rows = want["a"]
        self.assertEqual(len(rows), 12)
        vi = cols.index("value")
        bad = [r[:vi] + (r[vi] + 1.0,) + r[vi + 1 :] if i == 3 else r for i, r in enumerate(rows)]
        records = [
            harness.OpRecord(0, 0, 1.0, 1.0, {"a": (cols, rows[::-1])}, None, None),
            harness.OpRecord(1, 0, 1.0, 1.0, {"a": (cols, bad)}, None, None),
            harness.OpRecord(2, 0, 1.0, 1.0, {"a": (cols, rows[1:])}, None, None),
            harness.OpRecord(3, 0, 1.0, 1.0, None, None, "Traceback: boom"),
        ]
        self.assertEqual(checks.count_failed(records, [want]), 3)



class _Frame:
    """Stands in for a measured DataFrame: ``columns`` and ``collect``."""

    def __init__(self, cols, rows):
        self.columns, self._rows = cols, rows

    def collect(self):
        return self._rows


class CorpusChecks(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        inputs.corpus_tables(5, cls.tmp.name)
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM '{cls.tmp.name}/documents.parquet'"
        )
        rel = con.sql(checks.ORACLES["corpus_gopher_filter"])
        cls.cols, cls.rows = list(rel.columns), rel.fetchall()
        cls.texts = checks._texts(con)
        con.close()

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def test_corrupted_oracle_key_counts_as_failed(self):
        cols, rows = self.cols, self.rows
        vi = cols.index("top2_frac")
        bad = [r[:vi] + (r[vi] + 0.01,) + r[vi + 1 :] if i == 7 else r for i, r in enumerate(rows)]
        frames = [
            _Frame(cols[::-1], [r[::-1] for r in reversed(rows)]),
            _Frame(cols, bad),
            _Frame(cols, rows[1:]),
            None,
        ]
        records = [
            harness.OpRecord(i, 0, 1.0, 1.0, f, None, None if f else "Traceback: boom")
            for i, f in enumerate(frames)
        ]
        self.assertEqual(
            checks.count_failed_corpus(
                records,
                ["corpus_gopher_filter"],
                checks.oracle_answers(self.tmp.name, ["corpus_gopher_filter"]),
            ),
            3,
        )

    def test_phash_invariant(self):
        off = checks.PHASH_VARIANT_OFFSET
        same: dict[str, list[int]] = {}
        for i, t in enumerate(self.texts):
            same.setdefault(t, []).append(i)
        copies = [(x, y) for ids in same.values() for x in ids for y in ids if x < y]
        self.assertTrue(copies)  # the generator repeats every 40th document
        variants = [(0, off), (50, off + 50)]
        cols = ["id_a", "id_b", "hamming"]

        def ok(pairs):
            return checks.phash_pairs_ok(cols, [(a, b, 0) for a, b in pairs], self.texts)

        self.assertTrue(ok(copies + variants))
        self.assertFalse(ok(copies))  # no variant found
        self.assertFalse(ok(copies[1:] + variants))  # an identical image missed
        self.assertFalse(ok(copies + variants + [(1, 2)]))  # a false pair
        self.assertFalse(ok(copies + variants + [(0, off + 100)]))  # a foreign variant
        self.assertFalse(ok(copies + variants + variants[:1]))  # a repeated pair


if __name__ == "__main__":
    unittest.main()
