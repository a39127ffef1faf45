"""Seeded benchmark inputs, built before the workload process starts.

The catalog tables have the shape of the engine's TPC-H-like test data
(region ... lineitem, events, documents, embeddings). Their logical
contents depend only on the scale and on ``CONTENT_SEED``, so oracle
answers can be cached per scale. The ``--seed`` of a run picks the
physical layout instead: the row order and the number of parquet files
(one to eight) of every table. Split planning, ``spread_if_narrow`` and AQE see a
different layout on every seed while the answers stay fixed.

The flights inputs are windows of ``sources.synthetic.flights_gen_sql``
(the same SQL text the engine's tests use), cut out by DuckDB: the seed
picks where the train and the disjoint test window start.
"""

from __future__ import annotations

import hashlib
import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CONTENT_SEED = 42
_WORDS = (
    "a the agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "value vector window"
).split()
_DAY_US = 86_400 * 1_000_000
# The streaming and streaming-ANN queries stage ``<table>.parquet``
# behind a symlink in a source directory, which only works when the
# table is one file: a multi-file events table makes every events_*
# stream read zero rows. These tables get a seeded row order but
# always one file.
SINGLE_FILE = ("events", "embeddings")


def _days_us(start: str, end: str) -> tuple[int, int]:
    a, b = (np.datetime64(x, "us").astype(np.int64) for x in (start, end))
    return int(a), int(b)


def _random_days(rng: np.random.Generator, n: int, start: str, end: str) -> pa.Array:
    a, b = _days_us(start, end)
    days = rng.integers(0, (b - a) // _DAY_US + 1, n)
    return pa.array(a + days * _DAY_US, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.array(values, dtype=object)[rng.integers(0, len(values), n)])


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Bag-of-words documents; one in twenty is an earlier document with
    a trailing ' dup', so the dedup operators have pairs to find."""
    texts = [
        " ".join(np.array(_WORDS)[rng.integers(0, len(_WORDS), rng.integers(10, 100))])
        for _ in range(n)
    ]
    for i in rng.choice(np.arange(1, n), size=n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    langs = np.array(["en", "zh", "es", "de", "fr"], dtype=object)
    lang = langs[rng.choice(5, size=n, p=[0.44, 0.14, 0.14, 0.14, 0.14])]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(lang),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    """Unit vectors around ten weak cluster centres (label = centre)."""
    centres = rng.standard_normal((10, dim))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    label = rng.integers(0, 10, n)
    vec = 0.15 * centres[label] + rng.standard_normal((n, dim)) / np.sqrt(dim)
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })


def make_tables(scale: float) -> dict[str, pa.Table]:
    """Logical contents at ``scale`` (1.0 = 6M lineitem rows)."""
    rng = np.random.default_rng(CONTENT_SEED)
    n_cust, n_supp, n_part = int(150_000 * scale), max(int(10_000 * scale), 25), int(200_000 * scale)
    n_ord, n_line, n_ev = int(1_500_000 * scale), int(6_000_000 * scale), int(1_000_000 * scale)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    segments = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, segments, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    adjectives = ["small", "red", "blue", "hot", "old", "large", "new", "cold"]
    nouns = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]
    names = [f"{a} {b}" for a in adjectives for b in nouns]
    types = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": _pick(rng, names, n_part),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, types, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
    })
    priorities = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _random_days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": _pick(rng, priorities, n_ord),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _random_days(rng, n_line, "1995-01-02", "2001-11-04"),
    })
    start, _ = _days_us("2024-01-01", "2024-01-01")
    gaps = rng.exponential(30 * _DAY_US / n_ev, n_ev).astype(np.int64) + 1
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(start + np.cumsum(gaps), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(int(15_000 * scale), 10), n_ev), pa.int64()),
        "event_type": _pick(rng, ["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })
    t["documents"] = _documents(rng, max(int(50_000 * scale), 200))
    t["embeddings"] = _embeddings(rng, max(int(20_000 * scale), 200))
    return t


def content_digest(scale: float) -> str:
    """Names the logical contents: this file's source plus the scale."""
    with open(__file__, "rb") as f:
        src = f.read()
    return hashlib.sha256(src + repr(scale).encode()).hexdigest()[:16]


def write_layout(tables: dict[str, pa.Table], out_dir: str, seed: int) -> dict[str, int]:
    """Write every table in a seeded row order, as
    ``<out_dir>/<name>.parquet/part-*.parquet`` with a seeded count of one
    to eight files (narrower and wider than a 4-core host), or for
    ``SINGLE_FILE`` as the one file ``<out_dir>/<name>.parquet``.
    Returns the file counts."""
    rng = np.random.default_rng([seed, 7])
    files = {}
    for name, table in tables.items():
        n = table.num_rows
        k = int(min(rng.integers(1, 9), max(n, 1)))
        shuffled = table.take(pa.array(rng.permutation(n)))
        path = os.path.join(out_dir, f"{name}.parquet")
        if name in SINGLE_FILE:
            pq.write_table(shuffled, path)
            files[name] = 1
            continue
        os.makedirs(path)
        bounds = np.linspace(0, n, k + 1).astype(int)
        for i in range(k):
            pq.write_table(
                shuffled.slice(bounds[i], bounds[i + 1] - bounds[i]),
                os.path.join(path, f"part-{i:05d}.parquet"),
            )
        files[name] = k
    return files


def write_flights(out_dir: str, seed: int, train_rows: int, test_rows: int) -> dict[str, str]:
    """Train and disjoint test CSV windows plus the plane-data CSV."""
    from flight_delay_prediction_using_pyspark_spark.sources.schemas import FLIGHTS_SCHEMA
    from flight_delay_prediction_using_pyspark_spark.sources.synthetic import (
        flights_gen_sql,
        plane_gen_sql,
    )

    rng = np.random.default_rng([seed, 11])
    cols = ", ".join(f.name for f in FLIGHTS_SCHEMA.fields)
    train_start = int(rng.integers(0, 50)) * 100_000
    test_start = train_start + train_rows + int(rng.integers(0, 50)) * 100_000
    paths = {
        "train": os.path.join(out_dir, "flights_train.csv"),
        "test": os.path.join(out_dir, "flights_test.csv"),
        "plane": os.path.join(out_dir, "plane_data.csv"),
    }
    con = duckdb.connect()
    try:
        for key, start, n in (("train", train_start, train_rows), ("test", test_start, test_rows)):
            stop = start + n
            sql = flights_gen_sql(stop).replace(f"range({stop})", f"range({start}, {stop})")
            con.execute(
                f"COPY (SELECT {cols} FROM ({sql}) ORDER BY row_id) "
                f"TO '{paths[key]}' (HEADER, NULLSTR 'NA')"
            )
        con.execute(f"COPY ({plane_gen_sql()}) TO '{paths['plane']}' (HEADER, NULLSTR 'NA')")
    finally:
        con.close()
    return paths
