"""Seeded input generation for the benchmark workloads.

Everything here is a pure function of its seed: the same seed gives the same
vectors, batches and tables, written with pyarrow so that generating inputs
never touches the program under test.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# the fixture vocabulary of the `documents` table (31 words)
WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "en", "en", "de", "es", "fr", "zh")

# row counts of the generated star schema; about the driver fixture's sf0.01
TABLE_ROWS = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}


def vector_ids(n: int, offset: int = 0) -> list[str]:
    return [f"v{i:07d}" for i in range(offset, offset + n)]


def clustered_vectors(
    rng: np.random.Generator, n: int, dim: int, n_clusters: int
) -> tuple[np.ndarray, np.ndarray]:
    """``n`` float32 vectors drawn around ``n_clusters`` Gaussian centres;
    returns (vectors, cluster label per row)."""
    centres = rng.standard_normal((n_clusters, dim)).astype(np.float32)
    labels = rng.integers(0, n_clusters, n)
    noise = rng.standard_normal((n, dim)).astype(np.float32)
    return (centres[labels] + np.float32(0.6) * noise).astype(np.float32), labels


def vector_table(ids: list[str], vectors: np.ndarray, cat: np.ndarray) -> pa.Table:
    """A collection batch in the engine schema: ``__id__``, ``vector``, ``cat``."""
    flat = pa.array(vectors.ravel(), pa.float32())
    vec = pa.ListArray.from_arrays(
        pa.array(np.arange(0, vectors.size + 1, vectors.shape[1]), pa.int32()), flat
    )
    return pa.table(
        {"__id__": pa.array(ids, pa.string()), "vector": vec, "cat": pa.array(cat, pa.int32())}
    )


def write_parquet(table: pa.Table, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return path


def write_collection(table: pa.Table, path: str) -> str:
    """Write ``table`` as a stored collection directory (one Parquet file in
    the engine schema), the state a collection is opened from."""
    return os.path.dirname(write_parquet(table, os.path.join(path, "part-00000.parquet")))


def _dates(rng, n, start, days):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, days, n).astype("timedelta64[D]").astype("timedelta64[us]")


def _texts(rng: np.random.Generator, n: int) -> list[str]:
    """Documents of 10-99 vocabulary words; about 4% exact copies and 4%
    one-word edits of an earlier document, so every dedup stage has work."""
    out: list[str] = []
    for i in range(n):
        roll = rng.random()
        if i > 10 and roll < 0.04:
            out.append(out[int(rng.integers(0, i))])
        elif i > 10 and roll < 0.08:
            words = out[int(rng.integers(0, i))].split(" ")
            words[int(rng.integers(0, len(words)))] = WORDS[int(rng.integers(0, len(WORDS)))]
            out.append(" ".join(words))
        else:
            k = int(rng.integers(10, 100))
            out.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    return out


def fixture_tables(seed: int) -> dict[str, pa.Table]:
    """The ten tables the declared queries read (schemas as in the driver's
    fixture), at the sizes in ``TABLE_ROWS``."""
    rng = np.random.default_rng(seed)
    n = TABLE_ROWS
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": list(REGIONS)}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(range(n["customer"]), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
            "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n["customer"]), 2),
            "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n["customer"])],
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(range(n["supplier"]), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
            "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n["supplier"]), 2),
        }
    )
    np_ = n["part"]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(range(np_), pa.int64()),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, np_), rng.integers(0, 8, np_))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, np_)],
            "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, np_)],
            "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(np_) % 1000) * 0.1, 2),
        }
    )
    no = n["orders"]
    odate = _dates(rng, no, "1995-01-01", 2404)
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(range(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n["customer"], no), pa.int64()),
            "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, no)],
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, no), 2),
            "o_orderdate": pa.array(odate, pa.timestamp("us")),
            "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, no)],
        }
    )
    nl = n["lineitem"]
    l_order = rng.integers(0, no, nl)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(l_order, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, np_, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n["supplier"], nl), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, nl), 2),
            "l_discount": np.round(rng.integers(0, 11, nl) * 0.01, 2),
            "l_tax": np.round(rng.integers(0, 9, nl) * 0.01, 2),
            "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, nl)],
            "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, nl)],
            "l_shipdate": pa.array(
                odate[l_order]
                + rng.integers(1, 95, nl).astype("timedelta64[D]").astype("timedelta64[us]"),
                pa.timestamp("us"),
            ),
        }
    )
    ne = n["events"]
    ts = np.sort(
        np.datetime64("2024-01-01", "us")
        + rng.integers(0, 30 * 86400 * 10**6, ne).astype("timedelta64[us]")
    )
    t["events"] = pa.table(
        {
            "event_id": pa.array(range(ne), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 150, ne), pa.int64()),
            "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, ne)],
            "value": np.round(rng.uniform(0.01, 490.0, ne), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )
    nd = n["documents"]
    texts = _texts(rng, nd)
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(range(nd), pa.int64()),
            "text": texts,
            "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), nd)],
            "source": [f"src{i % 20}" for i in range(nd)],
            "n_chars": pa.array([len(s) for s in texts], pa.int64()),
        }
    )
    nv = n["embeddings"]
    labels = rng.integers(0, 10, nv)
    centres = rng.standard_normal((10, 64))
    emb = centres[labels] * 0.4 + rng.standard_normal((nv, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(range(nv), pa.int64()),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return t


def write_fixture(seed: int, out_dir: str) -> str:
    for name, table in fixture_tables(seed).items():
        write_parquet(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
