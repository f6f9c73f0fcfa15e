"""Seeded inputs: supplier loads for the SCD2 workloads and a small query
corpus. Everything here is a pure function of the seed, and none of it
touches Spark, so generating inputs is never part of a measured time."""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STATES = (
    "Andhra Pradesh", "Assam", "Bihar", "Delhi", "Goa", "Gujarat", "Haryana",
    "Karnataka", "Kerala", "Madhya Pradesh", "Maharashtra", "Mumbai",
    "Odisha", "Punjab", "Rajasthan", "Ranchi", "Saurasthra", "Sikkim",
    "Tamilnadu", "Telangana", "Tripura", "Uttarakhand", "West Bengal",
)
NAMES = (
    "Virat Kohli", "MS Dhoni", "Pujara", "Bumrah", "Rohit Sharma", "Dravid",
    "Hanuma Vihari", "Ashwin", "Jadeja", "Shami", "Rahane", "Pant", "Gill",
    "Iyer", "Siraj", "Kuldeep", "Axar", "Ishan", "Saha", "Umesh",
)


class SupplierFeed:
    """The supplier dimension's load sequence for one seed.

    Load 0 is the initial load of ``n_codes`` new codes. Every later load
    has ``load_rows`` rows: half change the state of a live code (always
    to a state that code never held, so no load exercises the reference's
    "revert does not reopen" quirk by accident), a quarter are new codes
    and a quarter re-send a code's current row unchanged. Each code
    appears at most once per load: the reference's MERGE rejects a
    source that matches one target row twice, so that is the input
    contract. Load ``k`` is the same for a seed however many loads a run
    consumes."""

    def __init__(self, seed: int, n_codes: int, load_rows: int):
        self.seed = seed
        self.load_rows = load_rows
        self._n_initial = n_codes
        self.loads = 0
        cap = n_codes + 1024 * load_rows   # new codes of 4096 loads
        self._state = np.zeros(cap, dtype=np.int64)   # index into STATES
        self._gen = np.zeros(cap, dtype=np.int64)     # state changes so far
        self._name = np.zeros(cap, dtype=np.int64)
        self._live = 0

    def _rng(self, k: int) -> np.random.Generator:
        return np.random.default_rng([self.seed, k])

    def _new_codes(self, rng, m: int) -> np.ndarray:
        ids = np.arange(self._live, self._live + m)
        self._state[ids] = rng.integers(0, len(STATES), m)
        self._name[ids] = rng.integers(0, len(NAMES), m)
        self._live += m
        return ids

    def next_load(self) -> list[tuple[int, str, str, str]]:
        """Rows ``(supplier_key, supplier_code, supplier_name,
        supplier_state)`` of the next load, in file order."""
        rng = self._rng(self.loads)
        if self.loads == 0:
            ids = self._new_codes(rng, self._n_initial)
        else:
            m = self.load_rows
            n_chg, n_new = m // 2, m // 4
            n_same = m - n_chg - n_new
            old = rng.choice(self._live, size=n_chg + n_same, replace=False)
            chg = old[:n_chg]
            self._gen[chg] += 1
            self._state[chg] = (self._state[chg]
                                + rng.integers(1, len(STATES), n_chg)) % len(STATES)
            ids = np.concatenate([old, self._new_codes(rng, n_new)])
            ids = ids[rng.permutation(len(ids))]
        self.loads += 1
        return [(int(i) + 1, code(int(i)), NAMES[self._name[i]],
                 state_label(int(self._state[i]), int(self._gen[i])))
                for i in ids]


def code(i: int) -> str:
    return f"C{i:07d}"


def state_label(state: int, gen: int) -> str:
    return STATES[state] if gen == 0 else f"{STATES[state]} {gen}"


def write_csv(rows, path: str) -> str:
    """Headerless 4-column CSV in the reference's file format."""
    with open(path, "w") as f:
        f.write("".join(f"{k},{c},{n},{s}\n" for k, c, n, s in rows))
    return path


# ---------------------------------------------------------------------------
# Query corpus: the ten tables ``schemas.load_testdata`` reads, sized like
# the engine's sf0.01 tree.

_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_PART_ADJ = ("small", "large", "red", "blue", "hot", "cold", "old", "new")
_PART_NOUN = ("ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod")
_PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
_LANGS = ("en", "en", "en", "de", "es", "fr", "zh")
_VOCAB = ("join hash row batch scan column customer filter small slow merge "
          "order vector line table data agg value key stream window a spark "
          "part group big sort query fast the").split()

CORPUS_SIZES = {"customer": 1500, "supplier": 100, "part": 2000,
                "orders": 15000, "events": 10000, "documents": 500,
                "embeddings": 500}


def _ts(days: np.ndarray, start: dt.datetime) -> pa.Array:
    base = np.datetime64(start, "us")
    return pa.array(base + (days * 86_400e6).astype("timedelta64[us]"),
                    type=pa.timestamp("us"))


def write_corpus(seed: int, out_dir: str) -> str:
    """Write the corpus as ``<out_dir>/<table>.parquet``."""
    rng = np.random.default_rng([seed, 1 << 20])
    os.makedirs(out_dir, exist_ok=True)
    n = CORPUS_SIZES
    i32, i64 = pa.int32(), pa.int64()

    def put(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    put("region", {"r_regionkey": pa.array(range(5), i32),
                   "r_name": list(_REGIONS)})
    put("nation", {"n_nationkey": pa.array(range(25), i32),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    put("customer", {
        "c_custkey": pa.array(range(n["customer"]), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), i32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n["customer"]), 2),
        "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, n["customer"])],
    })
    put("supplier", {
        "s_suppkey": pa.array(range(n["supplier"]), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), i32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n["supplier"]), 2),
    })
    np_ = n["part"]
    retail = np.round(900 + rng.integers(0, 1000, np_) / 10, 2)
    put("part", {
        "p_partkey": pa.array(range(np_), i64),
        "p_name": [f"{_PART_ADJ[a]} {_PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, np_), rng.integers(0, 8, np_))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, np_)],
        "p_type": [_PART_TYPES[t] for t in rng.integers(0, 6, np_)],
        "p_size": pa.array(rng.integers(1, 51, np_), i32),
        "p_retailprice": retail,
    })
    no = n["orders"]
    odays = rng.integers(0, 2400, no)
    lines = rng.integers(1, 8, no)
    nl = int(lines.sum())
    l_order = np.repeat(np.arange(no), lines)
    l_num = np.concatenate([np.arange(1, k + 1) for k in lines])
    l_part = rng.integers(0, np_, nl)
    qty = rng.integers(1, 51, nl).astype(float)
    price = np.round(qty * retail[l_part], 2)
    l_days = odays[l_order] + rng.integers(1, 122, nl)
    flag = rng.integers(0, 3, nl)
    status = np.where(l_days < 2000, "F", "O")
    per_order = np.bincount(l_order, weights=price, minlength=no)
    ostat = np.full(no, "P", dtype=object)
    done = np.bincount(l_order, weights=(status == "F"), minlength=no)
    ostat[done == lines] = "F"
    ostat[done == 0] = "O"
    put("orders", {
        "o_orderkey": pa.array(range(no), i64),
        "o_custkey": pa.array(rng.integers(0, n["customer"], no), i64),
        "o_orderstatus": list(ostat),
        "o_totalprice": np.round(per_order, 2),
        "o_orderdate": _ts(odays, dt.datetime(1995, 1, 1)),
        "o_orderpriority": [_PRIORITIES[p] for p in rng.integers(0, 5, no)],
    })
    put("lineitem", {
        "l_orderkey": pa.array(l_order, i64),
        "l_partkey": pa.array(l_part, i64),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], nl), i64),
        "l_linenumber": pa.array(l_num, i32),
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": rng.integers(0, 11, nl) / 100,
        "l_tax": rng.integers(0, 9, nl) / 100,
        "l_returnflag": [("A", "N", "R")[f] for f in flag],
        "l_linestatus": list(status),
        "l_shipdate": _ts(l_days, dt.datetime(1995, 1, 1)),
    })
    ne = n["events"]
    esec = np.sort(rng.uniform(0, 30 * 86_400, ne))
    put("events", {
        "event_id": pa.array(range(ne), i64),
        "ts": _ts(esec / 86_400, dt.datetime(2024, 1, 1)),
        "user_id": pa.array(rng.integers(0, 150, ne), i64),
        "event_type": [_EVENT_TYPES[t] for t in rng.integers(0, 5, ne)],
        "value": np.round(rng.uniform(0.01, 490.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    nd = n["documents"]
    texts = []
    for i in range(nd):
        if i >= 20 and rng.random() < 0.06:   # near-duplicate of an earlier doc
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), 2):
                words[j] = _VOCAB[int(rng.integers(0, len(_VOCAB)))]
            texts.append(" ".join(words + ["dup"]))
        else:
            texts.append(" ".join(_VOCAB[w] for w in
                                  rng.integers(0, len(_VOCAB), rng.integers(10, 100))))
    put("documents", {
        "doc_id": pa.array(range(nd), i64),
        "text": texts,
        "lang": [_LANGS[x] for x in rng.integers(0, len(_LANGS), nd)],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], i64),
    })
    nv = n["embeddings"]
    labels = rng.integers(0, 10, nv)
    centers = rng.normal(size=(10, 64))
    vecs = centers[labels] + rng.normal(scale=1.5, size=(nv, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    put("embeddings", {
        "vec_id": pa.array(range(nv), i64),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(labels, i32),
    })
    return out_dir
