"""Seeded input generators. The program under test sees only the files
these functions write.

CDC inputs are wrapped changefeed envelopes (one JSON object per line):

  upsert : {"after":{"id":K,"v":V,"bal":B,"tag":"T"},"updated":"N.L","key":[K]}
  delete : {"after":null,"updated":"N.L","key":[K]}
  resolved (backfill dump only): {"resolved":"N.L"}

HLC timestamps are written as the reference formats them (nanos, a dot, a
ten-digit logical counter) and strictly increase over the whole feed, so no two mutations
tie and per-key last-write-wins has exactly one answer however the lines
are grouped into batches.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

PAYLOAD = "id bigint, v bigint, bal double, tag string"
KEY = ["id"]
TAGS = np.array(["alpha", "beta", "gamma", "delta", "epsilon", "zeta"])
HLC_BASE = 1_700_000_000_000_000_000
DELETE_SHARE = 0.05
ZIPF_S = 1.1
N_ROWS = 50_000   # CDC target rows at the start
N_KEYS = 62_500   # CDC key space: a fifth of the keys start absent, so upserts also insert


def target_table(seed: int, n_rows: int) -> pa.Table:
    """Initial target snapshot: ids 0..n_rows-1."""
    rng = np.random.default_rng([seed, 0])
    return pa.table({
        "id": pa.array(np.arange(n_rows, dtype=np.int64)),
        "v": pa.array(rng.integers(0, 1_000_000, n_rows, dtype=np.int64)),
        "bal": pa.array(rng.integers(-100_000, 1_000_000, n_rows) / 100.0),
        "tag": pa.array(TAGS[rng.integers(0, len(TAGS), n_rows)]),
    })


class KeySampler:
    """Zipf-like key skew over ``n_keys`` keys (rank r drawn with weight
    r^-ZIPF_S, ranks mapped to keys by a seeded permutation). ``n_keys``
    exceeds the target's row count, so some upserts insert new rows."""

    def __init__(self, seed: int, n_keys: int):
        w = 1.0 / np.arange(1, n_keys + 1) ** ZIPF_S
        self.cdf = np.cumsum(w) / w.sum()
        self.perm = np.random.default_rng([seed, 1]).permutation(n_keys).astype(np.int64)

    def sample(self, rng, n: int) -> np.ndarray:
        return self.perm[np.minimum(np.searchsorted(self.cdf, rng.random(n)), len(self.perm) - 1)]


def mutation_lines(rng, keys: np.ndarray, first_seq: int) -> tuple[list[str], int]:
    """Render mutations ``first_seq..first_seq+len(keys)-1`` as envelope
    lines; returns (lines, number of deletes)."""
    n = len(keys)
    deleted = rng.random(n) < DELETE_SHARE
    v = rng.integers(0, 1_000_000, n)
    bal = rng.integers(-100_000, 1_000_000, n) / 100.0
    tag = TAGS[rng.integers(0, len(TAGS), n)]
    seq = first_seq + np.arange(n, dtype=np.int64)

    def s(x):
        return pc.cast(pa.array(x), pa.string())

    k = s(keys)
    hlc = pc.binary_join_element_wise(
        s(HLC_BASE + (seq >> 1) * 1000),
        pa.array(np.where(seq & 1, "0000000001", "0000000000")), ".")
    tail = pc.binary_join_element_wise('"updated":"', hlc, '","key":[', k, "]}", "")
    upsert = pc.binary_join_element_wise(
        '{"after":{"id":', k, ',"v":', s(v), ',"bal":', s(bal), ',"tag":"', pa.array(tag), '"},',
        tail, "")
    delete = pc.binary_join_element_wise('{"after":null,', tail, "")
    return pc.if_else(pa.array(deleted), delete, upsert).to_pylist(), int(deleted.sum())


def hlc_of(seq: int) -> tuple[int, int]:
    return HLC_BASE + (seq >> 1) * 1000, seq & 1


def write_atomic(path: str, data: str) -> int:
    """Write via a hidden temp name then rename, so a file source never
    lists a half-written file."""
    d, name = os.path.split(path)
    tmp = os.path.join(d, "." + name + ".tmp")
    with open(tmp, "w") as f:
        f.write(data)
    os.rename(tmp, path)
    return len(data.encode())


def write_dump(path: str, seed: int, n_keys: int, n_mutations: int, resolved_every: int) -> dict:
    """Backfill dump: ``n_mutations`` mutations with a resolved line after
    every ``resolved_every`` of them, except that the last chunk stays
    unresolved (the pending tail the backfill stages)."""
    rng = np.random.default_rng([seed, 2])
    keys = KeySampler(seed, n_keys).sample(rng, n_mutations)
    lines, deletes = mutation_lines(rng, keys, 0)
    out, n_resolved = [], 0
    for start in range(0, n_mutations, resolved_every):
        out.extend(lines[start:start + resolved_every])
        end = start + resolved_every
        if end < n_mutations:
            n, lg = hlc_of(end - 1)
            out.append(f'{{"resolved":"{n}.{lg:010d}"}}')
            n_resolved += 1
    data = "\n".join(out) + "\n"
    nbytes = write_atomic(path, data)
    last_resolved = (n_resolved * resolved_every) if n_resolved else 0
    return {"mutations": n_mutations, "deletes": deletes, "resolved": n_resolved,
            "pending": n_mutations - last_resolved, "bytes": nbytes}


# --------------------------------------------------------------------------
# query-suite tables: the TPC-H-like star schema plus the events, documents
# and embeddings tables the suite reads, at sf0.01 row counts by default.
VOCAB = np.array(
    "join hash row batch scan column customer filter small slow merge order vector "
    "line table data agg value key stream window a spark part group big sort query "
    "fast the".split()
)
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
P_ADJ = ["small", "red", "blue", "hot", "old", "green", "big", "cold"]
P_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "nut", "pipe", "valve"]
P_TYPES = np.array(["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"])
EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
LANGS = np.array(["en", "en", "en", "zh", "es", "de", "fr"])


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    a, b = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    return (a + rng.integers(0, int((b - a).astype(int)) + 1, n)).astype("datetime64[us]")


def _cents(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def suite_tables(seed: int, sf: float = 0.01) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 3])
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev, n_doc = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf), int(50_000 * sf)
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_cents(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(SEGMENTS[rng.integers(0, 5, n_cust)]),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_cents(rng, -999.99, 9999.99, n_supp)),
    })
    names = np.array([f"{a} {b}" for a in P_ADJ for b in P_NOUN])
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array(names[rng.integers(0, len(names), n_part)]),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": pa.array(P_TYPES[rng.integers(0, len(P_TYPES), n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(900.0 + (np.arange(n_part) % 1000) / 10.0),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(_cents(rng, 1000.0, 500000.0, n_ord)),
        "o_orderdate": pa.array(_days(rng, "1995-01-01", "2001-08-01", n_ord)),
        "o_orderpriority": pa.array(PRIORITIES[rng.integers(0, 5, n_ord)]),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(_cents(rng, 900.0, 105000.0, n_li)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_li)]),
        "l_shipdate": pa.array(_days(rng, "1995-01-02", "2001-11-04", n_li)),
    })
    start = np.datetime64(datetime(2024, 1, 1), "us")
    offs = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n_ev))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(start + offs.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, max(1, n_cust // 10), n_ev)),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, n_ev)]),
        "value": pa.array(np.maximum(1, np.round(rng.exponential(5000, n_ev))) / 100.0),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    lens = rng.integers(10, 100, n_doc)
    words = VOCAB[rng.integers(0, len(VOCAB), int(lens.sum()))]
    texts, pos = [], 0
    for n in lens:
        texts.append(" ".join(words[pos:pos + n]))
        pos += n
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": texts,
        "lang": pa.array(LANGS[rng.integers(0, len(LANGS), n_doc)]),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array(np.array([len(s) for s in texts], dtype=np.int64)),
    })
    emb = rng.standard_normal((n_doc, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_doc).astype(np.int32)),
    })
    return t


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, tb in tables.items():
        pq.write_table(tb, os.path.join(out_dir, f"{name}.parquet"))
