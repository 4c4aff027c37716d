"""Seeded input directories for the benchmark.

Every table is drawn from the run's seed, so the program never sees a
fixed fixture.  The keyed TPC-H-style tables, ``events`` and
``embeddings`` are synthesised here with the same schemas, key domains and
value ranges as the repository's sf0.01 test tables (uniform independent
columns, as those tables have).  ``tools/gen_scale_data.generate`` then
builds each input directory from that base: it writes the seeded Zipf
document corpus and copies the keyed tables through its tiling path, so
the documents follow exactly the model the repository's scale points use.
"""

from __future__ import annotations

import datetime
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# sf0.01 sizes: the benchmark's time budget is set by fixed per-job
# overheads, which do not shrink with the data (see README.md).
SIZES = {
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "embeddings": 500,
    "documents": 500,
}
EVENT_USERS = 150
EMBED_DIM = 64

TABLES = (
    "region nation customer supplier part orders lineitem events documents "
    "embeddings"
).split()

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Uniform 2-decimal amounts in [lo, hi], exact in cents."""
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _days(rng: np.random.Generator, start: datetime.date, span: int, n: int):
    base = np.datetime64(start.isoformat(), "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _write(outdir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(outdir, f"{name}.parquet"))


def write_base_tables(outdir: str, seed: int) -> None:
    """Write every non-document table of one input directory."""
    os.makedirs(outdir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = SIZES
    i32 = pa.int32()

    _write(outdir, "region", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": _REGIONS,
    })
    _write(outdir, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": pa.array([k % 5 for k in range(25)], i32),
    })
    _write(outdir, "customer", {
        "c_custkey": np.arange(n["customer"], dtype=np.int64),
        "c_name": [f"Customer#{k:09d}" for k in range(n["customer"])],
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": rng.choice(_SEGMENTS, n["customer"]),
    })
    _write(outdir, "supplier", {
        "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
        "s_name": [f"Supplier#{k:09d}" for k in range(n["supplier"])],
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
    })
    keys = np.arange(n["part"], dtype=np.int64)
    _write(outdir, "part", {
        "p_partkey": keys,
        "p_name": [
            f"{a} {b}"
            for a, b in zip(
                rng.choice(_PART_ADJ, n["part"]), rng.choice(_PART_NOUN, n["part"])
            )
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n["part"])],
        "p_type": rng.choice(_PART_TYPES, n["part"]),
        "p_size": pa.array(rng.integers(1, 51, n["part"]), i32),
        "p_retailprice": 900.0 + (keys % 1000) / 10.0,
    })
    _write(outdir, "orders", {
        "o_orderkey": np.arange(n["orders"], dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], n["orders"]),
        "o_orderstatus": rng.choice(["F", "O", "P"], n["orders"]),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n["orders"]),
        "o_orderdate": _days(rng, datetime.date(1995, 1, 1), 2404, n["orders"]),
        "o_orderpriority": rng.choice(_PRIORITIES, n["orders"]),
    })
    m = n["lineitem"]
    _write(outdir, "lineitem", {
        "l_orderkey": rng.integers(0, n["orders"], m),
        "l_partkey": rng.integers(0, n["part"], m),
        "l_suppkey": rng.integers(0, n["supplier"], m),
        "l_linenumber": pa.array(rng.integers(1, 8, m), i32),
        "l_quantity": rng.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, m),
        "l_discount": rng.integers(0, 11, m) / 100.0,
        "l_tax": rng.integers(0, 9, m) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], m),
        "l_linestatus": rng.choice(["F", "O"], m),
        "l_shipdate": _days(rng, datetime.date(1995, 1, 2), 2498, m),
    })
    e = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offsets = np.sort(rng.integers(0, 30 * 86_400 * 10**6, e))
    _write(outdir, "events", {
        "event_id": np.arange(e, dtype=np.int64),
        "ts": start + offsets.astype("timedelta64[us]"),
        "user_id": rng.integers(0, EVENT_USERS, e),
        "event_type": rng.choice(_EVENT_TYPES, e),
        "value": np.round(rng.exponential(50.0, e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
    })
    v = n["embeddings"]
    labels = rng.integers(0, 10, v)
    centroids = rng.normal(0.0, 0.0625 / np.sqrt(EMBED_DIM), (10, EMBED_DIM))
    vecs = centroids[labels] + rng.normal(0.0, 0.125, (v, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(outdir, "embeddings", {
        "vec_id": np.arange(v, dtype=np.int64),
        "embedding": pa.array(vecs.astype(np.float32).tolist(), pa.list_(pa.float32())),
        "label": pa.array(labels, i32),
    })


def make_input_dirs(workdir: str, seed: int, count: int) -> list[str]:
    """Build ``count`` input directories under ``workdir`` from ``seed``.

    Directory ``i`` draws its tables from ``(seed, i)``, so the same seed
    always gives byte-identical inputs and no two directories share data.
    """
    from tools.gen_scale_data import generate

    dirs = []
    for i in range(count):
        sub_seed = seed * 1_000 + i
        base = os.path.join(workdir, f"base{i}")
        out = os.path.join(workdir, f"in{i}")
        write_base_tables(base, sub_seed)
        generate(out, 1, SIZES["documents"], doc_seed=sub_seed, src=base)
        shutil.rmtree(base)
        dirs.append(out)
    return dirs
