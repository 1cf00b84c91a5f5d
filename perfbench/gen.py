"""Seeded input generator: the board's tables and the event stream.

Every table has the schema and value mix of the sf0.01 test tables
(FIXTURES.md §B): a TPC-H-ish star schema without `part`, an `events`
table of click/error/purchase/signup/view events with `{"k": n}` props, a
`documents` corpus over a 31-word vocabulary with 5% near-duplicates
(a copy of an earlier document plus " dup"), and unit-norm 64-d
`embeddings`.  The same seed always gives byte-identical parquet.

The stream generator draws user ids with Zipf-like skew over the whole
customer dimension and emits files in strict event-time order, with
UTC-adjusted timestamps (the type a streaming file source with the
events schema reads).
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ("de", "en", "es", "fr", "zh")
LANG_P = (0.14, 0.41, 0.15, 0.15, 0.15)
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

# table sizes of the sf0.01 test tables ("part" is only the range of
# l_partkey: no board entry reads the part table)
BOARD_SIZES = {
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "event_users": 150,
    "documents": 500,
    "embeddings": 500,
}
EVENTS_START = dt.datetime(2024, 1, 1)
EVENTS_DAYS = 30


def _us(d: dt.datetime) -> int:
    return int((d - dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000)


def _ts_array(us: np.ndarray, tz: str | None = None) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.int64()).cast(pa.timestamp("us", tz=tz))


def write(table: pa.Table, path: str) -> None:
    tmp = path + ".tmp"
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _events_table(
    rng: np.random.Generator, n: int, user_ids: np.ndarray, start_us: int,
    span_us: int, first_event_id: int = 0, tz: str | None = None,
) -> pa.Table:
    """`n` events with strictly increasing ts (and event_id) over
    [start_us, start_us + span_us); value ~ Exp(mean 50) to 2 decimals."""
    ts = start_us + np.sort(rng.choice(span_us, size=n, replace=False))
    return pa.table(
        {
            "event_id": pa.array(np.arange(first_event_id, first_event_id + n), pa.int64()),
            "ts": _ts_array(ts, tz),
            "user_id": pa.array(user_ids.astype("int64"), pa.int64()),
            "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.integers(0, len(VOCAB), int(rng.integers(10, 100)))
            texts.append(" ".join(VOCAB[w] for w in words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(np.array(LANGS)[rng.choice(5, n, p=LANG_P)]),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def write_board_tables(out_dir: str, seed: int) -> None:
    """Write the nine tables as `<out_dir>/<name>.parquet`."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n = BOARD_SIZES
    tables: dict[str, pa.Table] = {
        "region": pa.table(
            {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": pa.array(REGIONS)}
        ),
        "nation": nation_table(),
        "customer": customer_table(rng, n["customer"]),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n["supplier"]), pa.int64()),
                "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n["supplier"])]),
                "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
                "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n["supplier"])),
            }
        ),
    }
    n_ord = n["orders"]
    day_us = 86_400_000_000
    o_lo, o_days = _us(dt.datetime(1995, 1, 1)), 2404  # .. 2001-08-01
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n["customer"], n_ord), pa.int64()),
            "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
            "o_orderdate": _ts_array(o_lo + rng.integers(0, o_days + 1, n_ord) * day_us),
            "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]),
        }
    )
    n_li = n["lineitem"]
    qty = rng.integers(1, 51, n_li).astype(float)
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n["part"], n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n["supplier"], n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_li)),
            "l_discount": pa.array(np.round(rng.integers(0, 11, n_li) * 0.01, 2)),
            "l_tax": pa.array(np.round(rng.integers(0, 9, n_li) * 0.01, 2)),
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
            "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_li)]),
            "l_shipdate": _ts_array(
                _us(dt.datetime(1995, 1, 2)) + rng.integers(0, 2498, n_li) * day_us
            ),
        }
    )
    n_ev = n["events"]
    # every user in [0, event_users) appears; the rest uniformly
    users = np.concatenate(
        [np.arange(n["event_users"]), rng.integers(0, n["event_users"], n_ev - n["event_users"])]
    )
    rng.shuffle(users)
    tables["events"] = _events_table(
        rng, n_ev, users, _us(EVENTS_START), EVENTS_DAYS * day_us
    )
    tables["documents"] = _documents(rng, n["documents"])
    emb = rng.standard_normal((n["embeddings"], 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    tables["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n["embeddings"]), pa.int64()),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n["embeddings"]), pa.int32()),
        }
    )
    for name, table in tables.items():
        write(table, os.path.join(out_dir, f"{name}.parquet"))


def nation_table() -> pa.Table:
    return pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )


def customer_table(rng: np.random.Generator, n: int) -> pa.Table:
    return pa.table(
        {
            "c_custkey": pa.array(np.arange(n), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n)),
            "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n)]),
        }
    )


class EventStream:
    """Event files for the streaming workload.

    File i holds the requested number of events in strict event-time
    order, all later than every event of file i-1 (out-of-order share 0),
    with event ids from i * ID_STRIDE.  User ids follow a Zipf(1.1)-shaped
    skew over [0, n_users), mapped through a fixed permutation so hot
    users are spread over the id space.  Each file spans `file_span_s`
    seconds of event time.
    """

    ID_STRIDE = 1_000_000

    def __init__(self, seed: int, n_users: int, file_span_s: int = 6 * 3600) -> None:
        self.seed = seed
        self.n_users = n_users
        self.file_span_us = file_span_s * 1_000_000
        ranks = np.arange(1, n_users + 1, dtype=float)
        p = ranks ** -1.1
        self._p = p / p.sum()
        # which ids are hot is part of the workload, not of the seed: it
        # decides how the skew falls on the shuffle partitions
        self._perm = np.random.default_rng(0).permutation(n_users)

    def table(self, i: int, n: int) -> pa.Table:
        rng = np.random.default_rng([self.seed, 2, i])
        users = self._perm[rng.choice(self.n_users, size=n, p=self._p)]
        return _events_table(
            rng, n, users, _us(EVENTS_START) + i * self.file_span_us,
            self.file_span_us, first_event_id=i * self.ID_STRIDE, tz="UTC",
        )
