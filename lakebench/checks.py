"""Output checks. Dashboard answers are compared with DuckDB running the
repository's SQL twins of the engine (``ast/sqlgen.py``) over the same lake
files; the comparison ignores row and column order and allows only float
rounding differences. Corpus keys are compared with their registry oracle
(``ORACLES``) by the md5 of their normalized rows."""

from __future__ import annotations

import hashlib
import math
import sys
import traceback
from concurrent.futures import ThreadPoolExecutor

import duckdb

from lakeside_spark.ast import sqlgen
from lakeside_spark.ast.formula import parse_formula
from lakeside_spark.ast.model import ast_input_from_json
from lakeside_spark.registry import ORACLES

Result = tuple[list[str], list[tuple]]  # (column names, rows)


def lake_connection(lake_path: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE lake AS SELECT * FROM "
        f"read_parquet('{lake_path}/**/*.parquet', hive_partitioning=1)"
    )
    return con


def expected_answer(
    con: duckdb.DuckDBPyConnection, req: dict, existing: set[str]
) -> dict[str, Result]:
    """DuckDB's answer to one dashboard request, label by label."""
    con.execute(
        "CREATE OR REPLACE TEMP VIEW req AS SELECT * FROM lake "
        f"WHERE dataset = 'logs' AND timestamp_ms >= {req['start_ms']} "
        f"AND timestamp_ms < {req['end_ms']}"
    )
    exprs, formulae = ast_input_from_json(req["body"])
    step = req["step_ms"]
    if req["shape"] == "tag_values":
        sqls = {"a": sqlgen.tag_values_sql(exprs["a"], "req", existing, req["tag_name"])}
    elif req["shape"] == "exemplars":
        sqls = {"a": sqlgen.exemplar_sql(exprs["a"], "req", existing)}
    else:
        sqls = {
            label: sqlgen.chart_sql(e, "req", step, existing)
            for label, e in exprs.items()
        }
        # a formula combines the per-step global sum of each labeled series
        branches = {
            label: f"SELECT step_ts, SUM(value) AS value FROM ({sql}) GROUP BY 1"
            for label, sql in sqls.items()
        }
        for f in formulae:
            sqls[f] = sqlgen.formula_sql(parse_formula(f), branches)
    out = {}
    for label, sql in sqls.items():
        rel = con.sql(sql)
        out[label] = (list(rel.columns), rel.fetchall())
    return out


def _sort_key(row: tuple) -> tuple:
    return tuple((v is None, v) for v in row)


def _same_value(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6)
    return a == b


def same_result(got: Result, want: Result) -> bool:
    (gcols, grows), (wcols, wrows) = got, want
    if sorted(gcols) != sorted(wcols) or len(grows) != len(wrows):
        return False
    gi = [gcols.index(c) for c in sorted(gcols)]
    wi = [wcols.index(c) for c in sorted(wcols)]
    g = sorted((tuple(r[i] for i in gi) for r in grows), key=_sort_key)
    w = sorted((tuple(r[i] for i in wi) for r in wrows), key=_sort_key)
    return all(
        _same_value(a, b) for grow, wrow in zip(g, w) for a, b in zip(grow, wrow)
    )


def same_answer(got: dict[str, Result], want: dict[str, Result]) -> bool:
    return got.keys() == want.keys() and all(
        same_result(got[k], want[k]) for k in want
    )


def count_failed(records, want: list[dict[str, Result]]) -> int:
    """Operations that raised or whose answer differs from ``want`` (indexed
    by the record's request)."""
    failed = 0
    for rec in records:
        ok = rec.error is None and same_answer(
            {
                label: (cols, [tuple(r) for r in rows])
                for label, (cols, rows) in rec.output.items()
            },
            want[rec.key],
        )
        if not ok:
            failed += 1
            print(f"dashboard: wrong answer to request {rec.key}", file=sys.stderr)
    return failed


# ---------------------------------------------------------------------------
# corpus_batch

PHASH_VARIANT_OFFSET = 1_000_000  # variant ids of multimodal_phash_dedup


def _norm(v):
    # the value normalization of the repository's oracle-parity test
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.9g}"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    return v


def rows_md5(cols: list[str], rows: list[tuple]) -> str:
    """md5 of a result with its columns sorted by name and its rows sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    body = sorted(tuple(_norm(r[i]) for i in order) for r in rows)
    return hashlib.md5(repr(([cols[i] for i in order], body)).encode()).hexdigest()


def phash_pairs_ok(cols: list[str], rows: list[tuple], texts: list[str]) -> bool:
    """The row-count invariant of ``multimodal_phash_dedup``. An image is
    drawn from its document's text alone, so two documents with the same
    text give the same hash: every such pair must be found. The other
    pairs, at least one, join a sampled document (every 50th) to a
    brightened variant of its own text. Any pair of different texts is a
    false pair. ``texts`` is indexed by ``doc_id``."""
    a, b = cols.index("id_a"), cols.index("id_b")
    pairs = {tuple(sorted((r[a], r[b]))) for r in rows}
    if len(pairs) != len(rows):
        return False

    def text(i: int) -> str:
        return texts[i - PHASH_VARIANT_OFFSET if i >= PHASH_VARIANT_OFFSET else i]

    same_text: dict[str, list[int]] = {}
    for i, t in enumerate(texts):
        same_text.setdefault(t, []).append(i)
    copies = {
        (x, y) for ids in same_text.values() for x in ids for y in ids if x < y
    }
    variant_pairs = pairs - copies
    return (
        copies <= pairs
        and 0 < len(variant_pairs) <= sum(
            len(same_text[t]) for t in texts[::50]
        )
        and all(y >= PHASH_VARIANT_OFFSET > x and text(x) == text(y) for x, y in variant_pairs)
    )


Oracle = tuple[dict[str, str], list[str]]  # (md5 per key, texts by doc_id)


def oracle_answers(sf_dir: str, keys: list[str]) -> Oracle:
    """The md5 of each oracle-backed key's result, and the documents' texts.
    They depend on the input tables alone."""
    keys = sorted(set(keys) & set(ORACLES))
    con = duckdb.connect()
    for table in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{sf_dir}/{table}.parquet'")
    md5s = {}
    for key in keys:
        rel = con.sql(ORACLES[key])
        md5s[key] = rows_md5(list(rel.columns), rel.fetchall())
    texts = _texts(con)
    con.close()
    return md5s, texts


def _collect(rec) -> Result | None:
    if rec.error is not None:
        return None
    try:
        return list(rec.output.columns), [tuple(r) for r in rec.output.collect()]
    except Exception:  # noqa: BLE001 - a frame that cannot be read is wrong
        print(traceback.format_exc(), file=sys.stderr)
        return None


def count_failed_corpus(records, keys: list[str], oracle: Oracle) -> int:
    """Operations that raised, or whose frame, collected again, differs from
    the key's oracle (md5) or breaks the phash invariant. Spark collects the
    frames on three threads, as concurrent jobs; most of them are too small to
    keep the cores busy alone."""
    with ThreadPoolExecutor(3) as pool:
        got = list(pool.map(_collect, records))
    md5s, texts = oracle
    failed = 0
    for rec, result in zip(records, got):
        key = keys[rec.key]
        ok = result is not None and (
            rows_md5(*result) == md5s[key]
            if key in ORACLES
            else phash_pairs_ok(*result, texts)
        )
        if not ok:
            failed += 1
            print(f"corpus_batch: wrong result from {key}", file=sys.stderr)
    return failed


def _texts(con: duckdb.DuckDBPyConnection) -> list[str]:
    rows = con.sql("SELECT doc_id, text FROM documents ORDER BY doc_id").fetchall()
    assert [i for i, _ in rows] == list(range(len(rows)))
    return [t for _, t in rows]
