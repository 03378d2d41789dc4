"""Seeded input generator for the benchmark.

Writes the ten fixture tables (``region nation customer supplier part
orders lineitem events documents embeddings``) as one parquet file
each, with the schemas and value domains of the repository's fixture
set (FIXTURES.md / TESTDATA.md), so every registered operator and its
DuckDB oracle run on them unchanged. The same ``(seed, sf)`` always
gives byte-identical tables; the program only ever sees these files.

Row counts follow the fixture scale factors: ``events = 1e6 * sf``,
``lineitem = 6e6 * sf`` and so on; ``documents`` and ``embeddings``
scale sub-linearly with a floor of 500 rows, as in the fixtures.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
DIM = 64

EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")
MONTH_US = 30 * 86_400 * 1_000_000


def table_rows(sf: float) -> dict[str, int]:
    """Row count per table at scale factor ``sf``."""
    return {
        "region": 5,
        "nation": 25,
        "customer": max(15, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(20, int(200_000 * sf)),
        "orders": max(150, int(1_500_000 * sf)),
        "lineitem": max(600, int(6_000_000 * sf)),
        "events": max(100, int(1_000_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, first: str, last: str, n: int) -> pa.Array:
    lo = np.datetime64(first, "D")
    span = int((np.datetime64(last, "D") - lo).astype(int))
    days = lo + rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(days.astype("datetime64[us]"), pa.timestamp("us"))


def _ids(n: int, dtype=np.int64) -> np.ndarray:
    return np.arange(n, dtype=dtype)


def gen_events(rng: np.random.Generator, n: int) -> pa.Table:
    """A month of log events: sorted timestamps, ~67 events per user,
    exponential values, five event types, a small JSON ``props``."""
    users = max(15, n // 67)
    offs = np.sort(rng.integers(0, MONTH_US, n))
    return pa.table(
        {
            "event_id": _ids(n),
            "ts": pa.array(EPOCH_2024 + offs.astype("timedelta64[us]"), pa.timestamp("us")),
            "user_id": rng.integers(0, users, n),
            "event_type": _pick(rng, EVENT_TYPES, n),
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def gen_documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Texts over a 30-word vocabulary (10-99 words each), so nearly
    every pair of documents is a near duplicate; one in twenty is an
    earlier document with a trailing ``dup`` token."""
    texts: list[str] = []
    vocab = np.asarray(VOCAB, dtype=object)
    for i in range(n):
        if i > 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(VOCAB), rng.integers(10, 100))]))
    lang = np.where(
        rng.random(n) < 0.43, "en", np.asarray(LANGS[1:], dtype=object)[rng.integers(0, 4, n)]
    )
    return pa.table(
        {
            "doc_id": _ids(n),
            "text": pa.array(texts),
            "lang": pa.array(lang.astype(object)),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def gen_embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    """Unit-norm Gaussian vectors of dimension 64 with a 0-9 label."""
    vecs = rng.standard_normal((n, DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, n * DIM + 1, DIM, dtype=np.int32))
    return pa.table(
        {
            "vec_id": _ids(n),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": rng.integers(0, 10, n).astype(np.int32),
        }
    )


def generate(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the tables for ``(seed, sf)`` under ``out_dir``; returns
    the row count per table. Every table draws from its own seeded
    stream."""
    os.makedirs(out_dir, exist_ok=True)
    rows = table_rows(sf)

    def rng_for(name: str) -> np.random.Generator:
        return np.random.default_rng([seed, sorted(rows).index(name)])

    builders = {
        "region": lambda r, n: pa.table(
            {"r_regionkey": _ids(n, np.int32), "r_name": pa.array(REGIONS)}
        ),
        "nation": lambda r, n: pa.table(
            {
                "n_nationkey": _ids(n, np.int32),
                "n_name": pa.array([f"NATION_{i}" for i in range(n)]),
                "n_regionkey": (_ids(n) % 5).astype(np.int32),
            }
        ),
        "customer": lambda r, n: pa.table(
            {
                "c_custkey": _ids(n),
                "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
                "c_nationkey": r.integers(0, 25, n).astype(np.int32),
                "c_acctbal": _money(r, -999.99, 9999.99, n),
                "c_mktsegment": _pick(r, SEGMENTS, n),
            }
        ),
        "supplier": lambda r, n: pa.table(
            {
                "s_suppkey": _ids(n),
                "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)]),
                "s_nationkey": r.integers(0, 25, n).astype(np.int32),
                "s_acctbal": _money(r, -999.99, 9999.99, n),
            }
        ),
        "part": lambda r, n: pa.table(
            {
                "p_partkey": _ids(n),
                "p_name": pa.array(
                    [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in r.integers(0, 8, (n, 2))]
                ),
                "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, n)]),
                "p_type": _pick(r, PART_TYPES, n),
                "p_size": r.integers(1, 51, n).astype(np.int32),
                "p_retailprice": np.round(900.0 + (_ids(n) % 1000) * 0.1, 2),
            }
        ),
        "orders": lambda r, n: pa.table(
            {
                "o_orderkey": _ids(n),
                "o_custkey": r.integers(0, rows["customer"], n),
                "o_orderstatus": _pick(r, ["F", "O", "P"], n),
                "o_totalprice": _money(r, 1000.0, 500_000.0, n),
                "o_orderdate": _days(r, "1995-01-01", "2001-08-01", n),
                "o_orderpriority": _pick(r, PRIORITIES, n),
            }
        ),
        "lineitem": lambda r, n: pa.table(
            {
                "l_orderkey": r.integers(0, rows["orders"], n),
                "l_partkey": r.integers(0, rows["part"], n),
                "l_suppkey": r.integers(0, rows["supplier"], n),
                "l_linenumber": r.integers(1, 8, n).astype(np.int32),
                "l_quantity": r.integers(1, 51, n).astype(np.float64),
                "l_extendedprice": _money(r, 900.0, 105_000.0, n),
                "l_discount": r.integers(0, 11, n) / 100.0,
                "l_tax": r.integers(0, 9, n) / 100.0,
                "l_returnflag": _pick(r, ["A", "N", "R"], n),
                "l_linestatus": _pick(r, ["F", "O"], n),
                "l_shipdate": _days(r, "1995-01-02", "2001-11-04", n),
            }
        ),
        "events": gen_events,
        "documents": gen_documents,
        "embeddings": gen_embeddings,
    }
    written = {}
    for name in rows:
        table = builders[name](rng_for(name), rows[name])
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        written[name] = table.num_rows
    return written
