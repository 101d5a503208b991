"""Seeded input generators, built with numpy/pyarrow in the runner
process (no Spark jobs).

Sync inputs: ObjectId-shaped string keys (24 hex chars: 8 of seconds,
10 of a per-process random value, 6 of counter) so that key order is
insertion order, as in MongoDB; JSON documents; and a change log whose replay by
``cdc_feed.expected_final_state`` is the correctness oracle.

Query inputs: the ten tables of the TPC-H-ish star schema plus the
events/documents/embeddings tables, with the column names, types and
value domains of the repository's test tables (FIXTURES.md), written as
one parquet file each.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CDC_TS = datetime(2024, 1, 2)
_OID_T0 = 0x65000000  # ObjectId seconds prefix of the snapshot's first key


def object_id(i: int, process: int) -> str:
    """Key ``i`` in ObjectId order. Counters are even for generated keys,
    so the same key with an odd counter sorts inside the table's range
    and is never present."""
    return f"{_OID_T0 + i // 64:08x}{process:010x}{(2 * i) % (1 << 24):06x}"


def absent_id(present: str) -> str:
    """A key adjacent to ``present`` in key order that no generator emits."""
    return present[:-6] + f"{(int(present[-6:], 16) | 1):06x}"


def doc_json(key: str, seq: int, qty: int) -> str:
    # fixed key order and separators, so the text is the replay oracle's
    # exact byte content
    return (
        f'{{"_id": "{key}", "sku": "sku-{qty % 5000:05d}", "qty": {qty}, '
        f'"price": {qty * 1.25:.2f}, "status": "{_STATUS[qty % 4]}", "v": {seq}}}'
    )


_STATUS = ("new", "paid", "shipped", "returned")


class ChangeLog:
    """A seeded MongoDB-style snapshot plus a lazily generated change log.

    ``snapshot_table()`` is the initial collection. ``next_batch(n)``
    draws the next ``n`` events with the mix given at construction;
    every event is also replayed into ``rows`` (the sequential log that
    ``expected_final_state`` consumes) and ``batches_with`` (which
    commits mention each key, for read-amplification ratios).
    """

    def __init__(
        self,
        seed: int,
        n_docs: int,
        insert_share: float,
        delete_share: float,
        replace_share: float,
    ):
        self.rng = np.random.default_rng(seed)
        self.insert_share = insert_share
        self.delete_share = delete_share
        self.replace_share = replace_share
        self.process = int(self.rng.integers(0, 1 << 40))
        qty = self.rng.integers(0, 100_000, n_docs)
        self.keys = [object_id(i, self.process) for i in range(n_docs)]
        self.docs = [doc_json(k, 0, int(q)) for k, q in zip(self.keys, qty)]
        # live keys in an array with swap-remove, for uniform draws
        self.live = list(self.keys)
        self.pos = {k: i for i, k in enumerate(self.live)}
        self.next_id = n_docs
        self.seq = 0
        self.rows: list[tuple] = [(0, "insert", k, None, d) for k, d in zip(self.keys, self.docs)]
        self.batches_with: dict[str, list[int]] = {}

    def snapshot_table(self) -> pa.Table:
        n = len(self.keys)
        return pa.table(
            {
                "doc_id": pa.array(self.keys, pa.string()),
                "full_doc": pa.array(self.docs, pa.string()),
                "ts": pa.array(np.full(n, np.datetime64(CDC_TS, "us"))),
            }
        )

    def _remove(self, key: str) -> None:
        i = self.pos.pop(key)
        last = self.live.pop()
        if last != key:
            self.live[i] = last
            self.pos[last] = i

    def next_batch(self, n: int) -> tuple[int, pa.Table]:
        """(batch id = first op_seq, events table in the cdc_feed schema)."""
        draw = self.rng.random(n)
        picks = self.rng.random(n)
        qtys = self.rng.integers(0, 100_000, n)
        batch_id = self.seq + 1
        seqs, ops, keys, docs = [], [], [], []
        ins = self.insert_share
        dele = ins + self.delete_share
        rep = dele + self.replace_share
        for j in range(n):
            self.seq += 1
            if draw[j] < ins or not self.live:
                key = object_id(self.next_id, self.process)
                self.next_id += 1
                op = "insert"
                self.pos[key] = len(self.live)
                self.live.append(key)
            else:
                key = self.live[int(picks[j] * len(self.live))]
                op = "delete" if draw[j] < dele else ("replace" if draw[j] < rep else "update")
                if op == "delete":
                    self._remove(key)
            doc = None if op == "delete" else doc_json(key, self.seq, int(qtys[j]))
            seqs.append(self.seq)
            ops.append(op)
            keys.append(key)
            docs.append(doc)
            self.rows.append((self.seq, op, key, None, doc))
            hits = self.batches_with.setdefault(key, [])
            if not hits or hits[-1] != batch_id:
                hits.append(batch_id)
        table = pa.table(
            {
                "op_seq": pa.array(seqs, pa.int64()),
                "op_type": pa.array(ops, pa.string()),
                "doc_id": pa.array(keys, pa.string()),
                "ts": pa.array(np.full(n, np.datetime64(CDC_TS, "us"))),
                "full_doc": pa.array(docs, pa.string()),
            }
        )
        return batch_id, table


# -- query tables ------------------------------------------------------

_VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
_LANGS = np.array(["en", "zh", "es", "de", "fr"])
_LANG_P = [0.44, 0.15, 0.15, 0.14, 0.12]
_EVENT_TYPES = np.array(["signup", "error", "click", "view", "purchase"])
_SEGMENTS = np.array(["FURNITURE", "MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD"])
_PART_ADJ = ["large", "small", "hot", "cold", "blue", "red", "old", "new"]
_PART_NOUN = ["ring", "bolt", "plate", "gear", "widget", "gizmo", "nut", "pipe"]
_PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])


def _dates(rng, lo: str, hi: str, n: int) -> pa.Array:
    days = (np.datetime64(hi) - np.datetime64(lo)).astype(int)
    d = np.datetime64(lo) + rng.integers(0, days + 1, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"))


def query_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_doc, n_emb = int(1_000_000 * sf), int(50_000 * sf), int(50_000 * sf)
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)  # noqa: E731
    out = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": np.arange(n_cust, dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
                "c_acctbal": money(-999.99, 9999.99, n_cust),
                "c_mktsegment": _SEGMENTS[rng.integers(0, 5, n_cust)],
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": np.arange(n_supp, dtype=np.int64),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
                "s_acctbal": money(-999.99, 9999.99, n_supp),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": np.arange(n_part, dtype=np.int64),
                "p_name": [
                    f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
                    for a, b in rng.integers(0, 8, (n_part, 2))
                ],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                "p_type": np.array(["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"])[
                    rng.integers(0, 6, n_part)
                ],
                "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
                "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": np.arange(n_ord, dtype=np.int64),
                "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
                "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)],
                "o_totalprice": money(1000, 500_000, n_ord),
                "o_orderdate": _dates(rng, "1995-01-01", "2001-08-01", n_ord),
                "o_orderpriority": _PRIORITIES[rng.integers(0, 5, n_ord)],
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
                "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
                "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
                "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
                "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
                "l_extendedprice": money(900, 105_000, n_li),
                "l_discount": rng.integers(0, 11, n_li) / 100.0,
                "l_tax": rng.integers(0, 9, n_li) / 100.0,
                "l_returnflag": np.array(["N", "A", "R"])[rng.integers(0, 3, n_li)],
                "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
                "l_shipdate": _dates(rng, "1995-01-02", "2001-11-04", n_li),
            }
        ),
    }
    ts = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    out["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": pa.array((np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"))),
            "user_id": rng.integers(0, max(150, int(15_000 * sf)), n_ev).astype(np.int64),
            "event_type": _EVENT_TYPES[rng.integers(0, 5, n_ev)],
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    lens = rng.integers(10, 100, n_doc)
    words = rng.integers(0, len(_VOCAB), int(lens.sum()))
    texts, at = [], 0
    for n in lens:
        texts.append(" ".join(_VOCAB[w] for w in words[at : at + n]))
        at += n
    # near-duplicates: 5% of documents copy an earlier one with two words
    # changed and a marker word appended, so dedup queries find pairs
    for i in np.flatnonzero(rng.random(n_doc) < 0.05):
        if i == 0:
            continue
        toks = texts[int(rng.integers(0, i))].split()
        for pos in rng.integers(0, len(toks), 2):
            toks[pos] = _VOCAB[int(rng.integers(0, len(_VOCAB)))]
        texts[i] = " ".join(toks + ["dup"])
    out["documents"] = pa.table(
        {
            "doc_id": np.arange(n_doc, dtype=np.int64),
            "text": texts,
            "lang": _LANGS[rng.choice(5, n_doc, p=_LANG_P)],
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
        }
    )
    labels = rng.integers(0, 10, n_emb)
    centroids = rng.normal(0, 1, (10, 64))
    vecs = centroids[labels] * 0.15 + rng.normal(0, 1, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32)),
        }
    )
    return out


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
