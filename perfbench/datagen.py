"""Seeded input generation for the benchmark.

The benchmark reads nothing outside its checkout, so it makes its own
fixture: the ten TPC-H-ish tables the package's plans read (``region``
through ``embeddings``), with the schemas and value ranges of the
package's test fixtures (see FIXTURES.md §B).

Two inputs per run:

- **day-2** is the fixture itself, generated from a fixed generator seed,
  so it is the same for every benchmark seed;
- **day-1** is picked by ``--seed``: a ~90% key sample of ``orders``
  (with the ``lineitem`` rows of the kept orders) and of ``events``,
  ``documents`` and ``embeddings``. The small dimension tables are
  copied whole.

Day-1 is therefore a strict key subset of day-2, which is what makes the
incremental load of day-2 after day-1 append exactly the new keys.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

FIXTURE_SEED = 42
DAY1_KEEP = 0.9
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
# table -> key column of the day-1 sample (the others are copied whole)
SAMPLED = {
    "orders": "o_orderkey",
    "events": "event_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
}

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def fixture_tables(sf: float) -> dict[str, pa.Table]:
    """The day-2 fixture at scale factor ``sf`` (sf=0.01 gives 15,000
    orders and 60,000 line items, like the package's sf0.01 fixture)."""
    rng = np.random.default_rng(FIXTURE_SEED)
    n_cust = max(int(150_000 * sf), 10)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 10)
    n_ord = max(int(1_500_000 * sf), 10)
    n_line = 4 * n_ord
    n_ev = max(int(1_000_000 * sf), 10)
    n_users = max(int(15_000 * sf), 10)
    n_docs = max(int(50_000 * sf), 500)
    n_emb = max(int(20_000 * sf), 500)

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
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": segments[rng.integers(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    adj = np.array(["small", "red", "blue", "hot", "old", "large", "new", "cold"])
    noun = np.array(["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"])
    ptypes = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(
            np.char.add(adj[rng.integers(0, 8, n_part)], " "),
            noun[rng.integers(0, 8, n_part)],
        ),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": ptypes[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
    })
    # order dates 1995-01-01 .. 2001-08-01; the flagship's and the
    # views' date cutoffs fall inside this range
    order_days = rng.integers(0, 2404, n_ord)
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(_EPOCH_1995 + order_days * _DAY_US),
        "o_orderpriority": np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
        )[rng.integers(0, 5, n_ord)],
    })
    # line items draw their order key at random, as in the package's
    # fixtures: some orders have no lines, and (order, line) pairs repeat
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(_EPOCH_1995 + (1 + rng.integers(0, 2499, n_line)) * _DAY_US),
    })
    ev_start = np.datetime64("2024-01-01", "us").astype(np.int64)
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(np.sort(ev_start + rng.integers(0, 30 * _DAY_US, n_ev))),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
            rng.integers(0, 5, n_ev)
        ],
        "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    t["documents"] = _documents(rng, n_docs)
    t["embeddings"] = _embeddings(rng, n_emb)
    return t


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    words = np.array(_WORDS)
    texts: list[str] = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document: its prefix plus a marker
            src = texts[int(rng.integers(0, i))].split()
            texts.append(" ".join(src[: max(5, int(len(src) * 0.9))] + ["dup"]))
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), rng.integers(10, 100))]))
    langs = np.array(["en", "zh", "es", "de", "fr"])[
        rng.choice(5, n, p=[0.44, 0.15, 0.15, 0.14, 0.12])
    ]
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    centers = rng.normal(size=(10, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, 10, n)
    vecs = rng.normal(size=(n, dim)) / np.sqrt(dim) + 0.15 * centers[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })


def day1_tables(fixture: dict[str, pa.Table], seed: int) -> dict[str, pa.Table]:
    """Day-1: a seeded ~90% key sample of the sampled tables; line items
    follow their orders; the dimension tables are copied whole."""
    rng = np.random.default_rng([seed, 1])
    out = dict(fixture)
    for name, key in SAMPLED.items():
        tbl = fixture[name]
        out[name] = tbl.filter(pa.array(rng.random(tbl.num_rows) < DAY1_KEEP))
    kept = pc.is_in(
        fixture["lineitem"]["l_orderkey"], value_set=out["orders"]["o_orderkey"]
    )
    out["lineitem"] = fixture["lineitem"].filter(kept)
    return out


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name in TABLES:
        pq.write_table(tables[name], os.path.join(out_dir, f"{name}.parquet"))


def digest(data_dir: str) -> str:
    """Content hash of a generated input directory (file names + bytes)."""
    h = hashlib.blake2b(digest_size=16)
    for name in sorted(os.listdir(data_dir)):
        h.update(name.encode())
        with open(os.path.join(data_dir, name), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def generate(sf: float, seed: int, out_dir: str) -> dict[str, str]:
    """Write day-1 and day-2 under ``out_dir``; returns their paths."""
    fixture = fixture_tables(sf)
    paths = {"day1": os.path.join(out_dir, "day1"), "day2": os.path.join(out_dir, "day2")}
    write_tables(fixture, paths["day2"])
    write_tables(day1_tables(fixture, seed), paths["day1"])
    return paths
