"""Seeded generator for the catalog tables (TPC-H-ish star schema plus
events, documents and embeddings), written as one parquet file each with the
column names and types of ``schemas.TESTDATA_TABLES``' layout.

Row counts scale with ``sf`` like the reference test data (lineitem = 6M x
sf). Value ranges follow the same shape: uniform keys, two-decimal prices,
discount/tax in hundredths, return flag A/N/R, line status F/O, event
timestamps over 30 days at microsecond precision, props ``{"k": n}``."""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
WORDS = ("key agg row scan slow fast table value part hash the a data window "
         "spark merge batch join big small line customer query stream filter "
         "sort order column").split()


def _us(d: datetime) -> int:
    return int(d.timestamp() * 1_000_000)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us, type=pa.timestamp("us"))


def tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users, n_docs, n_vecs = int(15_000 * sf), int(50_000 * sf), int(20_000 * sf)
    day = 86_400_000_000
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    out["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"part {i}" for i in range(n_part)],
        "p_brand": [f"Brand#{a}{b}" for a, b in rng.integers(1, 6, (n_part, 2))],
        "p_type": np.array(["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY"])[
            rng.integers(0, 5, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": _money(rng, 900.0, 2100.0, n_part),
    })
    o_start, o_days = _us(datetime(1995, 1, 1)), 2404
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 400_000.0, n_ord),
        "o_orderdate": _ts(o_start + rng.integers(0, o_days, n_ord) * day),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                     "5-LOW"])[rng.integers(0, 5, n_ord)],
    })
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    l_start = _us(datetime(1995, 1, 2))
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line, dtype=np.int64),
        "l_partkey": rng.integers(0, n_part, n_line, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line, dtype=np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(l_start + rng.integers(0, 2498, n_line) * day),
    })
    ev_start = _us(datetime(2024, 1, 1))
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(np.sort(ev_start + rng.integers(0, 30 * day, n_ev))),
        "user_id": rng.integers(0, n_users, n_ev, dtype=np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    lens = rng.integers(20, 80, n_docs)
    words = np.array(WORDS)[rng.integers(0, len(WORDS), int(lens.sum()))]
    cuts = np.cumsum(lens)[:-1]
    texts = [" ".join(w) for w in np.split(words, cuts)]
    out["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(["en", "de", "es", "fr", "zh"])[rng.integers(0, 5, n_docs)],
        "source": [f"src{i % 10}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    vecs = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), 64).cast(
            pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32()),
    })
    return out


def write(seed: int, sf: float, out_dir: str) -> int:
    """Generate every table into ``out_dir``; returns the bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, t in tables(seed, sf).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(t, path)
        total += os.path.getsize(path)
    return total
