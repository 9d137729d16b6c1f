"""Seeded input generators. The same seed gives byte-identical inputs; the
program under test only ever sees what these functions return."""

from __future__ import annotations

import json

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

LAKE_START_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z
HOUR_MS = 3_600_000
LAKE_HOURS = 96  # 4 days of hourly partitions
LAKE_ROWS = 100_000
BATCH_HOURS = 24  # one seal batch covers one day
BATCH_ROWS = 50_000
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
USERS = 1500
# the corpus tables at the sizes of the repository's sf0.1 test data
CORPUS_DOCS = 5000
CORPUS_VECTORS = 2000
EMBED_DIM = 64
CORPUS_WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark window order data column join small line customer query big "
    "filter group sort stream vector"
).split()
LANGS = ("de", "en", "es", "fr", "zh")
# registry keys of corpus_batch: two with a DuckDB oracle and one
# (multimodal_phash_dedup) checked by a row invariant
CORPUS_KEYS = (
    "corpus_gopher_filter",
    "semdedup",
    "multimodal_phash_dedup",
)

# (range label, hours, chart step): a dashboard panel keeps about a hundred
# points whatever its range
RANGES = (
    ("1h", 1, 60_000),
    ("6h", 6, 300_000),
    ("1d", 24, 900_000),
    ("4d", 96, 3_600_000),
)
SHAPES = (
    "chart_count",
    "chart_sum_by_user",
    "chart_p95",
    "graph_formula",
    "exemplars",
    "tag_values",
)


def _telemetry_columns(
    rng: np.random.Generator, rows: int, start_ms: int, hours: int
) -> dict[str, list]:
    ts = np.sort(rng.integers(start_ms, start_ms + hours * HOUR_MS, rows))
    return {
        "timestamp_ms": ts.tolist(),
        "name": np.asarray(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), rows)].tolist(),
        "value": np.round(rng.exponential(50.0, rows), 2).tolist(),
        "message": [f'{{"k": {k}}}' for k in rng.integers(0, 100, rows).tolist()],
        "user_id": [str(u) for u in rng.integers(0, USERS, rows).tolist()],
    }


def lake_events(seed: int) -> pd.DataFrame:
    """Canonical telemetry rows for the dashboard lake: 100k events spread
    over 4 days, so the lake has 96 hourly partitions."""
    cols = _telemetry_columns(
        np.random.default_rng([seed, 0]), LAKE_ROWS, LAKE_START_MS, LAKE_HOURS
    )
    cols["event_id"] = list(range(LAKE_ROWS))
    return pd.DataFrame(cols)


def ingest_batch(seed: int) -> tuple[bytes, float]:
    """One seal batch as JSON lines (about 5 MB) and the sum of its values."""
    cols = _telemetry_columns(
        np.random.default_rng([seed, 2]), BATCH_ROWS, LAKE_START_MS, BATCH_HOURS
    )
    lines = [
        json.dumps(
            {
                "timestamp_ms": t,
                "name": n,
                "value": v,
                "message": m,
                "user_id": u,
            }
        )
        for t, n, v, m, u in zip(
            cols["timestamp_ms"],
            cols["name"],
            cols["value"],
            cols["message"],
            cols["user_id"],
        )
    ]
    return ("\n".join(lines) + "\n").encode(), sum(cols["value"])


def _eq(key: str, value: str) -> dict:
    return {"k": key, "v": [value], "op": "eq"}


def _request_body(shape: str, rng: np.random.Generator) -> dict:
    a, b = (str(x) for x in rng.choice(EVENT_TYPES, 2, replace=False))
    logs = {"dataset": "logs", "filter": _eq("name", a)}
    if shape == "chart_count":
        exprs = {"a": {**logs, "chart": {"aggregation": "count"}}}
    elif shape == "chart_sum_by_user":
        users = sorted(str(u) for u in rng.choice(USERS, 20, replace=False))
        exprs = {
            "a": {
                "dataset": "logs",
                "filter": {
                    "q1": {"k": "name", "v": [a, b], "op": "in"},
                    "q2": {"k": "user_id", "v": users, "op": "in"},
                    "op": "and",
                },
                "chart": {"aggregation": "sum", "groupBys": ["user_id"]},
            }
        }
    elif shape == "chart_p95":
        exprs = {"a": {**logs, "chart": {"aggregation": "p95"}}}
    elif shape == "graph_formula":
        exprs = {
            "a": {**logs, "chart": {"aggregation": "count"}},
            "b": {
                "dataset": "logs",
                "filter": _eq("name", b),
                "chart": {"aggregation": "count"},
            },
        }
        return {
            "baseExpressions": exprs,
            "formulae": [str(rng.choice(["a / b", "a + b", "(a - b) / b"]))],
        }
    elif shape == "exemplars":
        floor = int(rng.integers(10, 100))
        exprs = {
            "a": {
                "dataset": "logs",
                "filter": {
                    "q1": _eq("name", a),
                    "q2": {"k": "value", "v": [str(floor)], "op": "gt", "dataType": "number"},
                    "op": "and",
                },
                "limit": 100,
                "order": "DESC",
            }
        }
    elif shape == "tag_values":
        exprs = {"a": logs}
    else:
        raise ValueError(f"unknown shape {shape}")
    return {"baseExpressions": exprs, "formulae": []}


def shape_ranges(i: int) -> tuple[tuple[str, int, int], ...]:
    """The two ranges of the ``i``-th shape: a short and a long one, so
    that each range serves three of the six shapes."""
    return RANGES[i % 4], RANGES[(i + 2) % 4]


def dashboard_requests(seed: int) -> list[dict]:
    """The fixed request list one pass replays: every shape at two ranges
    (12 requests), in a seeded order with seeded windows and filters. Each
    request carries its graph body as a JSON string, the way it arrives at
    the server."""
    rng = np.random.default_rng([seed, 1])
    reqs = []
    for i, shape in enumerate(SHAPES):
        for label, hours, step_ms in shape_ranges(i):
            start = LAKE_START_MS + int(rng.integers(0, LAKE_HOURS - hours + 1)) * HOUR_MS
            req = {
                "shape": shape,
                "range": label,
                "start_ms": start,
                "end_ms": start + hours * HOUR_MS,
                "step_ms": step_ms,
                "body": json.dumps(_request_body(shape, rng), sort_keys=True),
            }
            if shape == "tag_values":
                req["tag_name"] = "user_id"
            reqs.append(req)
    return [reqs[i] for i in rng.permutation(len(reqs))]


def corpus_tables(seed: int, sf_dir: str) -> None:
    """Write ``documents.parquet`` and ``embeddings.parquet`` into ``sf_dir``,
    shaped like the repository's sf0.1 test data: 5000 documents of 10-100
    words over a 30-word vocabulary, every 40th a verbatim repeat of an
    earlier one, and 2000 unit vectors around ten cluster centres."""
    rng = np.random.default_rng([seed, 3])
    words = np.asarray(CORPUS_WORDS)
    texts: list[str] = []
    for i in range(CORPUS_DOCS):
        if i % 40 == 39:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), int(rng.integers(10, 101)))]))
    docs = pa.table(
        {
            "doc_id": pa.array(range(CORPUS_DOCS), pa.int64()),
            "text": texts,
            "lang": np.asarray(LANGS)[rng.integers(0, len(LANGS), CORPUS_DOCS)].tolist(),
            "source": [f"src{k}" for k in rng.integers(0, 20, CORPUS_DOCS).tolist()],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    centres = rng.normal(size=(10, EMBED_DIM))
    label = rng.integers(0, 10, CORPUS_VECTORS)
    vec = centres[label] + rng.normal(scale=0.8, size=(CORPUS_VECTORS, EMBED_DIM))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.table(
        {
            "vec_id": pa.array(range(CORPUS_VECTORS), pa.int64()),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": pa.array(label, pa.int32()),
        }
    )
    pq.write_table(docs, f"{sf_dir}/documents.parquet")
    pq.write_table(emb, f"{sf_dir}/embeddings.parquet")


def corpus_keys(seed: int) -> list[str]:
    """One pass of ``corpus_batch``: every key once, in a seeded order."""
    rng = np.random.default_rng([seed, 4])
    return [CORPUS_KEYS[i] for i in rng.permutation(len(CORPUS_KEYS))]
