"""Seeded input generators. The package under test sees only what these
write: parquet tables shaped like the project's TPC-H-style fixtures
(FIXTURES.md: same names, columns, types and value domains) and log records
for the ingest stream.

Row counts follow a scale factor ``sf``: at sf=0.1 the tables have the
fixture sizes (lineitem 600k, orders 150k, events 100k, documents 5000,
embeddings 2000). Documents are built the way the fixtures' are: 10-100
words drawn uniformly from the same 30-word vocabulary; 5% of documents are
an earlier document with " dup" appended, and 0.16% (rounded down) are
exact copies. ``fidelity.py`` compares the generated tables with the
fixtures.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

DOC_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window").split()
PART_ADJ = "blue cold hot large new old red small".split()
PART_NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.41, 0.15, 0.15, 0.15]
NEAR_DUP_SHARE = 0.05
EXACT_DUP_SHARE = 0.0016


def _write(df: pd.DataFrame, path: str, schema: pa.Schema) -> None:
    pq.write_table(pa.Table.from_pandas(df, schema=schema,
                                        preserve_index=False), path)


def _days(rng, n: int, first: str, last: str) -> np.ndarray:
    lo = np.datetime64(first, "D")
    span = int((np.datetime64(last, "D") - lo).astype(int))
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def documents(rng, n: int) -> pd.DataFrame:
    words = np.array(DOC_WORDS)
    lengths = rng.integers(10, 101, n)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lengths]
    order = rng.permutation(np.arange(1, n))
    n_near = int(round(n * NEAR_DUP_SHARE))
    n_exact = int(n * EXACT_DUP_SHARE)
    for j in order[:n_near]:
        texts[j] = texts[int(rng.integers(0, j))] + " dup"
    for j in order[n_near:n_near + n_exact]:
        texts[j] = texts[int(rng.integers(0, j))]
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def embeddings(rng, n: int, dim: int = 64) -> pd.DataFrame:
    m = rng.standard_normal((n, dim)).astype(np.float32)
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    return pd.DataFrame({"vec_id": np.arange(n, dtype=np.int64),
                         "embedding": list(m),
                         "label": rng.integers(0, 10, n).astype(np.int32)})


def make_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the ten fixture tables under ``out_dir``; returns row counts."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_ev = max(1000, int(1_000_000 * sf))
    n_users = max(150, int(15_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")
    t = {}

    t["region"] = (pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        pa.schema([("r_regionkey", i32), ("r_name", s)]))
    t["nation"] = (pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)}),
        pa.schema([("n_nationkey", i32), ("n_name", s), ("n_regionkey", i32)]))
    t["customer"] = (pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)}),
        pa.schema([("c_custkey", i64), ("c_name", s), ("c_nationkey", i32),
                   ("c_acctbal", f64), ("c_mktsegment", s)]))
    t["supplier"] = (pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)}),
        pa.schema([("s_suppkey", i64), ("s_name", s), ("s_nationkey", i32),
                   ("s_acctbal", f64)]))
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = (pd.DataFrame({
        "p_partkey": pk,
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(P_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2)}),
        pa.schema([("p_partkey", i64), ("p_name", s), ("p_brand", s),
                   ("p_type", s), ("p_size", i32), ("p_retailprice", f64)]))
    t["orders"] = (pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)}),
        pa.schema([("o_orderkey", i64), ("o_custkey", i64),
                   ("o_orderstatus", s), ("o_totalprice", f64),
                   ("o_orderdate", ts), ("o_orderpriority", s)]))
    t["lineitem"] = (pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04")}),
        pa.schema([("l_orderkey", i64), ("l_partkey", i64),
                   ("l_suppkey", i64), ("l_linenumber", i32),
                   ("l_quantity", f64), ("l_extendedprice", f64),
                   ("l_discount", f64), ("l_tax", f64),
                   ("l_returnflag", s), ("l_linestatus", s),
                   ("l_shipdate", ts)]))
    start = np.datetime64("2024-01-01T00:00:00", "us")
    month_us = 30 * 86_400 * 1_000_000
    t["events"] = (pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": start + np.sort(rng.integers(0, month_us, n_ev)).astype(
            "timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}),
        pa.schema([("event_id", i64), ("ts", ts), ("user_id", i64),
                   ("event_type", s), ("value", f64), ("props", s)]))
    t["documents"] = (documents(rng, n_doc),
                      pa.schema([("doc_id", i64), ("text", s), ("lang", s),
                                 ("source", s), ("n_chars", i64)]))
    t["embeddings"] = (embeddings(rng, n_emb),
                       pa.schema([("vec_id", i64),
                                  ("embedding", pa.list_(pa.float32())),
                                  ("label", i32)]))
    for name, (df, schema) in t.items():
        _write(df, os.path.join(out_dir, f"{name}.parquet"), schema)
    return {name: len(df) for name, (df, _) in t.items()}


# ------------------------------------------------------------ log records

INGEST_KINDS = np.array(["buy", "click", "view", "hb"])
INGEST_KIND_P = [0.2, 0.4, 0.3, 0.1]   # "hb" (heartbeat) is filtered out
_BLOCK = 4096


class IngestRecords:
    """The ingest stream's records, derived per index from the seed: the
    content of record i does not depend on how the producer chunks its
    appends. ``value`` is a compact JSON object with an id, a kind and a
    short body."""

    def __init__(self, seed: int, partitions: int = 4) -> None:
        self.seed = seed
        self.partitions = partitions
        self._blocks: dict[int, pd.DataFrame] = {}

    def _block(self, b: int) -> pd.DataFrame:
        if b not in self._blocks:
            rng = np.random.default_rng([self.seed, b])
            ids = np.arange(b * _BLOCK, (b + 1) * _BLOCK)
            kinds = rng.choice(INGEST_KINDS, _BLOCK, p=INGEST_KIND_P)
            words = np.array(DOC_WORDS)[rng.integers(0, len(DOC_WORDS),
                                                     (_BLOCK, 3))]
            self._blocks[b] = pd.DataFrame({
                "partition": rng.integers(0, self.partitions, _BLOCK),
                "key": [f"r{i:09d}" for i in ids],
                "value": [json.dumps({"id": int(i), "kind": k,
                                      "body": " ".join(w)},
                                     separators=(",", ":"))
                          for i, k, w in zip(ids, kinds, words)],
                "kind": kinds,
            })
        return self._blocks[b]

    def slice(self, lo: int, hi: int) -> pd.DataFrame:
        """Records [lo, hi) with columns partition, key, value, kind."""
        parts = [self._block(b) for b in range(lo // _BLOCK,
                                               (hi - 1) // _BLOCK + 1)]
        df = pd.concat(parts, ignore_index=True)
        off = (lo // _BLOCK) * _BLOCK
        return df.iloc[lo - off:hi - off].reset_index(drop=True)

