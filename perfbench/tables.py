"""Seeded TPC-H-like tables plus the ``events``, ``documents`` and
``embeddings`` tables the headline queries read, at the shape and size of
the engine's sf0.1 test data (600k lineitem rows)."""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
LANGS = ["en", "de", "fr", "es", "zh"]
WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
N = dict(customer=15_000, supplier=1_000, orders=150_000, lineitem=600_000,
         events=100_000, documents=5_000, embeddings=2_000)


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, n, start: str, end: str):
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    d = lo + rng.integers(0, (hi - lo).astype(int) + 1, n).astype("timedelta64[D]")
    return d.astype("datetime64[us]")


def _names(prefix: str, n: int):
    return [f"{prefix}#{i:09d}" for i in range(n)]


def generate(out: Path, seed: int) -> None:
    rng = np.random.default_rng(seed)
    out.mkdir(parents=True, exist_ok=True)
    i32 = lambda a: pa.array(a, pa.int32())  # noqa: E731
    tables = {
        "region": {"r_regionkey": i32(range(5)), "r_name": REGIONS},
        "nation": {"n_nationkey": i32(range(25)),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": i32([i % 5 for i in range(25)])},
        "customer": {"c_custkey": np.arange(N["customer"]),
                     "c_name": _names("Customer", N["customer"]),
                     "c_nationkey": i32(rng.integers(0, 25, N["customer"])),
                     "c_acctbal": _money(rng, N["customer"], -999.99, 9999.99),
                     "c_mktsegment": rng.choice(SEGMENTS, N["customer"])},
        "supplier": {"s_suppkey": np.arange(N["supplier"]),
                     "s_name": _names("Supplier", N["supplier"]),
                     "s_nationkey": i32(rng.integers(0, 25, N["supplier"])),
                     "s_acctbal": _money(rng, N["supplier"], -999.99, 9999.99)},
    }
    n = N["orders"]
    tables["orders"] = {
        "o_orderkey": np.arange(n),
        "o_custkey": rng.integers(0, N["customer"], n),
        "o_orderstatus": rng.choice(["O", "F", "P"], n),
        "o_totalprice": _money(rng, n, 1000, 500_000),
        "o_orderdate": _days(rng, n, "1995-01-01", "2001-08-01"),
        "o_orderpriority": rng.choice(PRIORITIES, n)}
    n = N["lineitem"]
    tables["lineitem"] = {
        "l_orderkey": rng.integers(0, N["orders"], n),
        "l_partkey": rng.integers(0, 20_000, n),
        "l_suppkey": rng.integers(0, N["supplier"], n),
        "l_linenumber": i32(rng.integers(1, 8, n)),
        "l_quantity": rng.integers(1, 51, n).astype(float),
        "l_extendedprice": _money(rng, n, 900, 105_000),
        "l_discount": rng.integers(0, 11, n) / 100,
        "l_tax": rng.integers(0, 9, n) / 100,
        "l_returnflag": rng.choice(["A", "N", "R"], n),
        "l_linestatus": rng.choice(["O", "F"], n),
        "l_shipdate": _days(rng, n, "1995-01-02", "2001-11-04")}
    n = N["events"]
    ts = np.datetime64("2024-01-01", "us") + np.sort(
        rng.integers(0, 30 * 86_400_000_000, n)).astype("timedelta64[us]")
    tables["events"] = {
        "event_id": np.arange(n), "ts": ts,
        "user_id": rng.integers(0, 1_500, n),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": _money(rng, n, 0, 560),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]}
    n = N["documents"]
    texts = [" ".join(rng.choice(WORDS, k)) for k in rng.integers(10, 101, n)]
    for i in rng.choice(n, n // 50, replace=False):  # near-duplicates
        texts[i] = texts[(i + 1) % n] + " dup"
    tables["documents"] = {
        "doc_id": np.arange(n), "text": texts,
        "lang": rng.choice(LANGS, n), "source": [f"src{k}" for k in rng.integers(0, 20, n)],
        "n_chars": np.array([len(t) for t in texts])}
    n = N["embeddings"]
    vecs = (rng.standard_normal((n, 64)) * 0.15).astype(np.float32)
    tables["embeddings"] = {
        "vec_id": np.arange(n),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": i32(rng.integers(0, 10, n))}
    for name, cols in tables.items():
        pq.write_table(pa.table(cols), out / f"{name}.parquet")
