"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of its arguments: the same seed gives
byte-identical inputs, and the program under test only ever sees the files
these functions write.

- ``write_tables``: the ten tables the registered queries read (TPC-H-shaped
  relations plus ``events``, ``documents`` and ``embeddings``), with the
  column vocabularies and key ranges of the query corpus's fixtures.
- ``covid_stream``: the reference pipeline's wire format (``{"value":
  "<event json>"}`` lines), one file per micro-batch, with injected
  malformed payloads and events far behind the watermark.
- ``user_event_stream``: time-ordered user events with Zipf-skewed
  ``user_id`` for the stateful stream operators.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGION_NAMES = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()

# Rows per unit of scale factor (sf0.01 -> 60k lineitem rows).
PER_SF = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "users": 15_000,
    "documents": 50_000,
    "embeddings": 50_000,
}
EMB_DIM = 64
N_LABELS = 10


def _n(sf: float, table: str) -> int:
    return max(10, int(PER_SF[table] * sf))


def _dates(rng: np.random.Generator, n: int, start: str, end: str) -> np.ndarray:
    s = np.datetime64(start, "D")
    days = int((np.datetime64(end, "D") - s) / np.timedelta64(1, "D"))
    return (s + rng.integers(0, days + 1, size=n).astype("timedelta64[D]")).astype(
        "datetime64[us]"
    )


def _documents(n: int, rng: np.random.Generator) -> pa.Table:
    """Word-salad documents with a near-duplicate tail. Each tail document
    copies a base document and swaps one token, so near-duplicate groups
    are stars around their base: connected components converge in the
    same number of rounds for every seed."""
    n_base = n - n // 10
    texts = [" ".join(rng.choice(VOCAB, size=int(rng.integers(10, 100)))) for _ in range(n_base)]
    for _ in range(n - n_base):
        toks = texts[int(rng.integers(0, n_base))].split(" ")
        toks[int(rng.integers(0, len(toks)))] = "dup"
        texts.append(" ".join(toks))
    order = rng.permutation(n)
    texts = [texts[i] for i in order]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(LANGS, size=n, p=LANG_P)),
            "source": pa.array([f"src{i}" for i in rng.integers(0, 20, size=n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def _embeddings(n: int, rng: np.random.Generator) -> pa.Table:
    centroids = rng.normal(0.0, 1.0, size=(N_LABELS, EMB_DIM))
    labels = rng.integers(0, N_LABELS, size=n)
    vecs = centroids[labels] + rng.normal(0.0, 0.35, size=(n, EMB_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(vecs.astype(np.float32)), type=pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32)),
        }
    )


def _events(n: int, n_users: int, rng: np.random.Generator) -> pa.Table:
    base = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, size=n))
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(base + offs.astype("timedelta64[us]"), type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, size=n).astype(np.int64)),
            "event_type": pa.array(rng.choice(EVENT_TYPES, size=n)),
            "value": pa.array(np.round(rng.gamma(1.0, 50.0, size=n) + 0.01, 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)]),
        }
    )


def write_tables(out: str, sf: float, seed: int) -> dict[str, int]:
    """Write the ten query-corpus tables for scale factor ``sf`` under
    ``out``; returns the row count of each table."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp, n_part = _n(sf, "customer"), _n(sf, "supplier"), _n(sf, "part")
    n_ord, n_li = _n(sf, "orders"), _n(sf, "lineitem")
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(REGION_NAMES),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, size=n_cust).astype(np.int32)),
            "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, size=n_cust), 2)),
            "c_mktsegment": pa.array(rng.choice(SEGMENTS, size=n_cust)),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, size=n_supp).astype(np.int32)),
            "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, size=n_supp), 2)),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": pa.array(
                [f"{a} {b}" for a, b in zip(rng.choice(P_ADJ, size=n_part), rng.choice(P_NOUN, size=n_part))]
            ),
            "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, size=n_part)]),
            "p_type": pa.array(rng.choice(P_TYPES, size=n_part)),
            "p_size": pa.array(rng.integers(1, 51, size=n_part).astype(np.int32)),
            "p_retailprice": pa.array(np.round(900.0 + rng.integers(0, 1000, size=n_part) / 10.0, 1)),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, size=n_ord).astype(np.int64)),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], size=n_ord, p=[0.49, 0.49, 0.02])),
            "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, size=n_ord), 2)),
            "o_orderdate": pa.array(_dates(rng, n_ord, "1995-01-01", "2001-08-01"), type=pa.timestamp("us")),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, size=n_ord)),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, size=n_li).astype(np.int64)),
            "l_partkey": pa.array(rng.integers(0, n_part, size=n_li).astype(np.int64)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, size=n_li).astype(np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, size=n_li).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, size=n_li).astype(np.float64)),
            "l_extendedprice": pa.array(np.round(rng.uniform(900, 105000, size=n_li), 2)),
            "l_discount": pa.array(rng.integers(0, 11, size=n_li) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, size=n_li) / 100.0),
            "l_returnflag": pa.array(rng.choice(["R", "A", "N"], size=n_li, p=[0.25, 0.25, 0.5])),
            "l_linestatus": pa.array(rng.choice(["O", "F"], size=n_li)),
            "l_shipdate": pa.array(_dates(rng, n_li, "1995-01-02", "2001-11-04"), type=pa.timestamp("us")),
        }),
        "events": _events(_n(sf, "events"), _n(sf, "users"), rng),
        "documents": _documents(_n(sf, "documents"), rng),
        "embeddings": _embeddings(_n(sf, "embeddings"), rng),
    }
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out, f"{name}.parquet"))
    return {name: table.num_rows for name, table in tables.items()}


# --------------------------------------------------------------------------
# Streams
# --------------------------------------------------------------------------

STREAM_T0 = np.datetime64("2024-03-01T00:00:00", "s")


@dataclass(frozen=True)
class CovidStream:
    """Per file: its lines; the lines of its well-formed events that no
    watermark can drop (the batch twin's input); and the counts of
    injected malformed and behind-the-watermark events."""

    files: list[list[str]]
    on_time: list[list[str]]
    malformed: list[int]
    late: list[int]
    dim: list[tuple[str, int, str]]


def _envelope(event: dict) -> str:
    return json.dumps({"value": json.dumps(event)})


def covid_stream(
    seed: int,
    *,
    n_files: int,
    rows_per_file: int,
    n_locations: int,
    first_late_file: int,
    bad_share: float = 0.01,
) -> CovidStream:
    """Event time advances one minute per file, so every file opens new
    1-minute windows and the upsert target grows. Late events are placed
    a day before the stream starts, only in files from ``first_late_file``
    on: by then a watermark exists, so they are dropped however the files
    are grouped into micro-batches, and no on-time event can be."""
    rng = np.random.default_rng([seed, 2])
    locations = [f"loc_{i:04d}" for i in range(n_locations)]
    dim = [
        (loc, int(p), str(c))
        for loc, p, c in zip(
            locations,
            rng.integers(50_000, 50_000_000, size=n_locations),
            rng.choice(["Africa", "Asia", "Europe", "North America", "Oceania", "South America"], size=n_locations),
        )
    ]
    n_bad = max(1, round(rows_per_file * bad_share))
    files, on_time, malformed, late = [], [], [], []
    for j in range(n_files):
        secs = np.sort(rng.integers(0, 60, size=rows_per_file))
        locs = rng.choice(n_locations, size=rows_per_file)
        cases = rng.integers(0, 500, size=rows_per_file)
        totals = rng.integers(1_000, 5_000_000, size=rows_per_file)
        lines = []
        for s, loc, c, t in zip(secs, locs, cases, totals):
            ts = STREAM_T0 + np.timedelta64(60 * j + int(s), "s")
            line = _envelope({
                "event_time": str(ts).replace("T", " "),
                "location": locations[loc],
                "new_cases": int(c),
                "total_cases": int(t),
            })
            lines.append(line)
        on_time.append(list(lines))
        for k in range(n_bad):
            lines.append(json.dumps({"value": '{"event_time": "2024-03-01 00:0' if k % 2 else "not json"}))
        malformed.append(n_bad)
        n_late = n_bad if j >= first_late_file else 0
        for _ in range(n_late):
            ts = STREAM_T0 - np.timedelta64(86_400 - 60 * j, "s")
            lines.append(_envelope({
                "event_time": str(ts).replace("T", " "),
                "location": locations[int(rng.integers(0, n_locations))],
                "new_cases": int(rng.integers(0, 500)),
                "total_cases": int(rng.integers(1_000, 5_000_000)),
            }))
        late.append(n_late)
        files.append(lines)
    return CovidStream(files, on_time, malformed, late, dim)


@dataclass(frozen=True)
class UserEventStream:
    """Time-ordered event dicts split into files, plus the number of
    distinct users each file touches."""

    files: list[list[dict]]
    keys_per_file: list[int]


def user_event_stream(
    seed: int,
    *,
    n_files: int,
    rows_per_file: int,
    n_users: int,
    zipf_a: float = 1.3,
    event_id_base: int = 0,
) -> UserEventStream:
    """Zipf-skewed ``user_id``: a handful of hot users own a large share of
    events while the tail touches thousands of distinct keys per file.
    Files cover consecutive, non-overlapping time ranges (in-order
    delivery), so the stream operators must reproduce their batch twins."""
    rng = np.random.default_rng([seed, 3])
    base = np.datetime64("2024-02-01T00:00:00", "ms")
    files, keys = [], []
    eid = event_id_base
    for j in range(n_files):
        users = (rng.zipf(zipf_a, size=rows_per_file) - 1) % n_users
        offs = np.sort(rng.integers(0, 3_600_000, size=rows_per_file))
        types = rng.choice(["view", "click", "purchase", "signup", "search"], size=rows_per_file,
                           p=[0.4, 0.25, 0.15, 0.1, 0.1])
        values = np.round(rng.gamma(1.0, 40.0, size=rows_per_file), 2)
        rows = []
        for u, o, t, v in zip(users, offs, types, values):
            ts = base + np.timedelta64(3_600_000 * j + int(o), "ms")
            rows.append({
                "event_id": eid,
                "ts": str(ts).replace("T", " "),
                "user_id": int(u),
                "event_type": str(t),
                "value": float(v) if t == "purchase" else 0.0,
            })
            eid += 1
        files.append(rows)
        keys.append(len(set(users.tolist())))
    return UserEventStream(files, keys)
