"""Seeded input generation for the benchmark workloads.

Everything the program under test receives is made here from the
workload seed: the CDC seed table and JSONL delivery buffers, and the
analytic fixture tables. The generator also writes the reference model
the correctness checks compare against, so it never asks the program
what the right answer is.

The benchmark runs the generator in a child process, so that its
memory never counts in the peak RSS of the process that drives Spark:

    python3 perfbench/gen.py <result.pkl> cdc|analytic '<json args>'

writes the maker's return value to ``result.pkl``. numpy and pyarrow
are imported inside the makers only, so unpickling a result does not
load them.
"""

from __future__ import annotations

import json
import math
import os
import pickle
import random
import sys
from dataclasses import dataclass

EVENTS = ["visit", "view", "cart", "list", "like", "purchase"]
DEVICES = ["pc", "mobile", "tablet"]
_UPPER = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
# 2023-01-16T06:00:00Z, the reference demo's trans_datetime day
_ROW_EPOCH = 1673848800
# 2023-01-17T00:00:00Z, start of the envelope metadata clock
_META_EPOCH = 1673913600
_BASE_TXN = 12884904641

# one truncated JSON object and one envelope whose metadata is not an
# object: both are T4 parse failures the transform must dead-letter
_MALFORMED = (
    '{"data": {"trans_id": 1, "event": "view"',
    '{"data": {"trans_id": 2}, "metadata": "not-an-object"}',
)


def _row(rng: random.Random, key: int) -> tuple:
    """One retail_trans row image: (customer_id, event, sku, amount,
    device, trans_datetime epoch seconds), shaped like the reference's
    fake-data generator."""
    event = rng.choice(EVENTS)
    amount = rng.randint(0, 100) if event in ("cart", "purchase") else 1
    sku = (
        rng.choice(_UPPER) + rng.choice(_UPPER) + str(rng.randint(100, 999))
        + "".join(rng.choice(_UPPER) for _ in range(4))
    )
    cust = f"{rng.randrange(10**12):012d}"
    ts = _ROW_EPOCH + rng.randrange(26 * 60)
    return (cust, event, sku, amount, rng.choice(DEVICES), ts)


def _iso(epoch_s: int) -> str:
    import datetime as dt

    return dt.datetime.fromtimestamp(epoch_s, dt.timezone.utc).strftime(
        "%Y-%m-%dT%H:%M:%SZ"
    )


def _meta_ts(i: int) -> str:
    """Strictly increasing metadata timestamp with microseconds."""
    import datetime as dt

    t = dt.datetime.fromtimestamp(_META_EPOCH, dt.timezone.utc) + dt.timedelta(
        microseconds=i * 1013
    )
    return t.strftime("%Y-%m-%dT%H:%M:%S.%fZ")


@dataclass
class Buffer:
    """One delivery buffer: a JSONL file plus what the model expects
    after applying it."""

    path: str
    n_envelopes: int
    n_malformed: int
    input_bytes: int
    ops: dict
    distinct_keys: int
    # distinct keys whose last op in the buffer is a delete; the rest
    # reach the MERGE as upserts
    final_deletes: int
    rows_after: int
    events_after: dict
    point_key: int
    point_row: tuple | None


@dataclass
class CdcInputs:
    seed_path: str
    n_seed: int
    warmup: Buffer
    buffers: list[Buffer]
    # pickled {trans_id: row image} after the last buffer; see load_model
    model_path: str


def load_model(inputs: CdcInputs) -> dict:
    with open(inputs.model_path, "rb") as f:
        return pickle.load(f)


class _LiveKeys:
    """Live key set with O(1) uniform pick and a recency order for the
    Zipf-biased pick (the newest keys are the hottest)."""

    def __init__(self, keys):
        self.keys = list(keys)
        self.pos = {k: i for i, k in enumerate(self.keys)}
        self.recent = list(keys)

    def add(self, k: int) -> None:
        self.pos[k] = len(self.keys)
        self.keys.append(k)
        self.recent.append(k)

    def remove(self, k: int) -> None:
        i = self.pos.pop(k)
        last = self.keys.pop()
        if i < len(self.keys):
            self.keys[i] = last
            self.pos[last] = i

    def uniform(self, rng: random.Random) -> int:
        return self.keys[rng.randrange(len(self.keys))]

    def recent_zipf(self, rng: random.Random) -> int:
        # log-uniform rank ~ Zipf(s=1) over the recency order; ranks
        # that landed on a deleted key fall back to a uniform live key
        n = len(self.recent)
        r = int(math.exp(rng.random() * math.log(n))) - 1
        k = self.recent[n - 1 - r]
        return k if k in self.pos else self.uniform(rng)


def _seed_table(path: str, n: int, rng: random.Random, model: dict) -> None:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    np_rng = np.random.default_rng(rng.randrange(2**63))
    ev = np_rng.integers(0, len(EVENTS), n)
    amount = np.where(np.isin(ev, [2, 5]), np_rng.integers(0, 101, n), 1)
    dev = np_rng.integers(0, len(DEVICES), n)
    cust = np_rng.integers(0, 10**12, n)
    ts = _ROW_EPOCH + np_rng.integers(0, 26 * 60, n)
    letters = np.array(list(_UPPER))
    sku_l = letters[np_rng.integers(0, 26, (n, 6))]
    sku_d = np_rng.integers(100, 1000, n)
    cust_s = [f"{c:012d}" for c in cust.tolist()]
    sku_s = [
        "".join(r[:2]) + str(d) + "".join(r[2:])
        for r, d in zip(sku_l.tolist(), sku_d.tolist())
    ]
    ev_s = [EVENTS[e] for e in ev.tolist()]
    dev_s = [DEVICES[d] for d in dev.tolist()]
    amt = amount.tolist()
    tsl = ts.tolist()
    for k in range(n):
        model[k] = (cust_s[k], ev_s[k], sku_s[k], amt[k], dev_s[k], tsl[k])
    table = pa.table(
        {
            "trans_id": pa.array(np.arange(n, dtype=np.int32)),
            "customer_id": pa.array(cust_s),
            "event": pa.array(ev_s),
            "sku": pa.array(sku_s),
            "amount": pa.array(amount.astype(np.int32)),
            "device": pa.array(dev_s),
            "trans_datetime": pa.array(
                ts.astype("int64") * 1_000_000, pa.timestamp("us", tz="UTC")
            ),
        }
    )
    pq.write_table(table, path)


def make_cdc_inputs(
    out_dir: str,
    seed: int,
    mode: str,
    n_seed: int,
    n_buffers: int,
    buffer_size: int,
) -> CdcInputs:
    """Seed table, one warm-up buffer and ``n_buffers`` timed buffers.

    ``mode="upsert"``: ~30% inserts of new keys, ~55% updates, ~15%
    deletes. ``mode="insert_delete"``: ~60% inserts of new keys and
    ~40% deletes, no updates. Existing keys are picked half
    recency-biased Zipf (hot keys recur within a buffer) and half
    uniform; every buffer also carries the malformed lines above."""
    os.makedirs(out_dir, exist_ok=True)
    rng = random.Random(seed)
    model: dict[int, tuple] = {}
    seed_path = os.path.join(out_dir, "seed.parquet")
    _seed_table(seed_path, n_seed, rng, model)
    live = _LiveKeys(range(n_seed))
    next_key = n_seed
    meta_i = 0

    def one_buffer(name: str) -> Buffer:
        nonlocal next_key, meta_i
        ops = {"insert": 0, "update": 0, "delete": 0}
        touched: dict[int, str] = {}
        inserted: list[int] = []
        lines = []
        for _ in range(buffer_size):
            r = rng.random()
            if mode == "upsert":
                op = "insert" if r < 0.30 else "update" if r < 0.85 else "delete"
            else:
                op = "insert" if r < 0.60 else "delete"
            if op == "insert":
                k = next_key
                next_key += 1
            else:
                k = live.recent_zipf(rng) if rng.random() < 0.5 else live.uniform(rng)
            if op == "delete":
                img = model[k]
                model.pop(k)
                live.remove(k)
            else:
                img = _row(rng, k)
                if k not in model:
                    live.add(k)
                    inserted.append(k)
                model[k] = img
            ops[op] += 1
            touched[k] = op
            data = {
                "trans_id": k,
                "customer_id": img[0],
                "event": img[1],
                "sku": img[2],
                "amount": img[3],
                "device": img[4],
                "trans_datetime": _iso(img[5]),
            }
            meta = {
                "timestamp": _meta_ts(meta_i),
                "record-type": "data",
                "operation": op,
                "partition-key-type": "primary-key",
                "schema-name": "testdb",
                "table-name": "retail_trans",
                "transaction-id": _BASE_TXN + meta_i * 7,
            }
            meta_i += 1
            lines.append(json.dumps({"data": data, "metadata": meta}))
        # malformed lines land at seeded positions inside the buffer
        for bad in _MALFORMED:
            lines.insert(rng.randrange(len(lines) + 1), bad)
        path = os.path.join(out_dir, f"{name}.jsonl")
        payload = ("\n".join(lines) + "\n").encode()
        with open(path, "wb") as f:
            f.write(payload)
        events: dict[str, int] = {}
        for img in model.values():
            events[img[1]] = events.get(img[1], 0) + 1
        live_inserted = [k for k in inserted if k in model]
        point = rng.choice(live_inserted) if live_inserted else live.uniform(rng)
        return Buffer(
            path=path,
            n_envelopes=buffer_size,
            n_malformed=len(_MALFORMED),
            input_bytes=len(payload),
            ops=ops,
            distinct_keys=len(touched),
            final_deletes=sum(op == "delete" for op in touched.values()),
            rows_after=len(model),
            events_after=events,
            point_key=point,
            point_row=model.get(point),
        )

    warmup = one_buffer("warmup")
    buffers = [one_buffer(f"buffer{i:03d}") for i in range(n_buffers)]
    model_path = os.path.join(out_dir, "model.pkl")
    with open(model_path, "wb") as f:
        pickle.dump(model, f)
    return CdcInputs(seed_path, n_seed, warmup, buffers, model_path)


# --------------------------------------------------------------------------
# analytic fixtures: the TPC-H-ish star schema + events, documents and
# embeddings, with the column names, types and value domains the
# headline query set filters on
# --------------------------------------------------------------------------
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PNAME_A = ["small", "red", "blue", "green", "large", "shiny", "matte", "old"]
_PNAME_B = ["ring", "widget", "bolt", "gear", "nut", "plate", "pipe", "valve"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]


def _days(np_rng, lo: str, hi: str, n: int):
    """Midnight timestamps drawn uniformly from [lo, hi)."""
    import numpy as np
    import pyarrow as pa

    a = np.datetime64(lo, "D").astype("int64")
    b = np.datetime64(hi, "D").astype("int64")
    return pa.array(np_rng.integers(a, b, n) * 86_400_000_000, pa.timestamp("us"))


def make_analytic_fixtures(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the fixture parquet files at scale ``sf`` (lineitem ~6M*sf
    rows); returns rows per table."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    g = np.random.default_rng(seed)
    n_cust = max(int(150_000 * sf), 50)
    n_ord = max(int(1_500_000 * sf), 500)
    n_part = max(int(200_000 * sf), 100)
    n_supp = max(int(10_000 * sf), 10)
    n_events = max(int(1_000_000 * sf), 1000)
    n_users = max(int(15_000 * sf), 50)
    n_docs, n_vecs, dim = 500, 500, 64

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(g.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(np.round(g.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": [_SEGMENTS[i] for i in g.integers(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(g.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(np.round(g.uniform(-999.99, 9999.99, n_supp), 2)),
    })
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": [
            f"{_PNAME_A[a]} {_PNAME_B[b]}"
            for a, b in zip(g.integers(0, 8, n_part), g.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{i}" for i in g.integers(1, 26, n_part)],
        "p_type": [_PTYPES[i] for i in g.integers(0, 6, n_part)],
        "p_size": pa.array(g.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(g.integers(0, n_cust, n_ord)),
        "o_orderstatus": [("F", "O", "P")[i] for i in g.integers(0, 3, n_ord)],
        "o_totalprice": pa.array(np.round(g.uniform(1000, 500000, n_ord), 2)),
        "o_orderdate": _days(g, "1995-01-01", "2001-08-02", n_ord),
        "o_orderpriority": [_PRIORITIES[i] for i in g.integers(0, 5, n_ord)],
    })
    lines_per = g.integers(1, 8, n_ord)
    l_order = np.repeat(np.arange(n_ord, dtype=np.int64), lines_per)
    n_li = len(l_order)
    starts = np.cumsum(lines_per) - lines_per
    l_num = (np.arange(n_li) - np.repeat(starts, lines_per) + 1).astype(np.int32)
    qty = g.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_order),
        "l_partkey": pa.array(g.integers(0, n_part, n_li)),
        "l_suppkey": pa.array(g.integers(0, n_supp, n_li)),
        "l_linenumber": pa.array(l_num),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * g.uniform(900, 2100, n_li), 2)),
        "l_discount": pa.array(g.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(g.integers(0, 9, n_li) / 100.0),
        "l_returnflag": [("A", "N", "R")[i] for i in g.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[i] for i in g.integers(0, 2, n_li)],
        "l_shipdate": _days(g, "1995-01-02", "2001-11-05", n_li),
    })
    ev_ts = np.sort(
        g.integers(
            np.datetime64("2024-01-01", "us").astype("int64"),
            np.datetime64("2024-01-31", "us").astype("int64"),
            n_events,
        )
    )
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": pa.array(ev_ts, pa.timestamp("us")),
        "user_id": pa.array(g.integers(0, n_users, n_events)),
        "event_type": [_EVENT_TYPES[i] for i in g.integers(0, 5, n_events)],
        "value": pa.array(np.round(g.uniform(0.01, 490.0, n_events), 2)),
        "props": [f'{{"k": {i}}}' for i in g.integers(0, 100, n_events)],
    })
    texts: list[str] = []
    for i in range(n_docs):
        if i >= 20 and g.random() < 0.05:
            # near-duplicate of an earlier document: what the dedup
            # specs exist to find
            words = texts[int(g.integers(0, i))].split()
            words[int(g.integers(0, len(words)))] = "dup"
        else:
            words = [_WORDS[w] for w in g.integers(0, len(_WORDS), int(g.integers(8, 90)))]
        texts.append(" ".join(words))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": texts,
        "lang": [_LANGS[i] for i in g.integers(0, len(_LANGS), n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array(np.array([len(x) for x in texts], dtype=np.int64)),
    })
    emb = (g.standard_normal((n_vecs, dim)) * 0.15).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(g.integers(0, 10, n_vecs).astype(np.int32)),
    })
    for name, tbl in t.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return {name: tbl.num_rows for name, tbl in t.items()}


if __name__ == "__main__":
    # the makers are looked up on the imported module, not on __main__,
    # so the pickled dataclasses unpickle as gen.Buffer / gen.CdcInputs
    import gen

    out, kind, args = sys.argv[1], sys.argv[2], json.loads(sys.argv[3])
    maker = {"cdc": gen.make_cdc_inputs, "analytic": gen.make_analytic_fixtures}[kind]
    result = maker(*args)
    with open(out, "wb") as f:
        pickle.dump(result, f)
