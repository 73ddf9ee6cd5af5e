"""Seeded input generators for the benchmark.

Two families, both a pure function of ``seed`` (numpy PCG64):

- ``jaffle_seeds``: the three raw jaffle seed CSVs at any size, built
  from the stated invariants of the reference seeds (dense ids,
  resolvable foreign keys, ~38 % zero-order customers, multi-payment and
  multi-method orders, zero amounts, amounts in whole dollars, every
  status and payment method, no NULLs). No reference row is
  reconstructed; ``check_jaffle_seeds`` asserts the invariants after
  writing.
- ``star_schema``: the ten star-schema parquet tables the operator
  catalog reads (region ... embeddings), one file and one row group per
  table, with the schemas, row counts per scale factor and value
  distributions of the TPC-H-style test data the repo's tests read:
  uniform keys, one events user per ten customers, event times sorted
  over 30 days, documents of 10-99 words from a 30-word vocabulary of
  which one in twenty is another document plus " dup", and 64-d unit
  embeddings whose labels carry no signal. ``perfbench/track.py`` compares the two, table by table and
  catalog entry by catalog entry.
"""

from __future__ import annotations

import csv
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STATUSES = ("placed", "shipped", "completed", "return_pending", "returned")
METHODS = ("credit_card", "coupon", "bank_transfer", "gift_card")
FIRST_NAMES = (
    "Michael", "Shawn", "Kathleen", "Jimmy", "Katherine", "Sarah", "Martin",
    "Frank", "Jennifer", "Henry", "Fred", "Amy", "Kathleen", "Steve", "Teresa",
    "Amanda", "Kimberly", "Johnny", "Virginia", "Anna", "Willie", "Sean",
)
INITIALS = tuple(f"{c}." for c in "ABCDEFGHIJKLMNOPQRSTUVWXYZ")
ZERO_ORDER_SHARE = 0.38


def _write_csv(path: str, header: tuple, rows) -> int:
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(header)
        w.writerows(rows)
    return os.path.getsize(path)


def jaffle_seeds(out_dir: str, seed: int, n_customers: int) -> dict:
    """Write raw_customers/raw_orders/raw_payments CSVs; return the
    in-memory columns (for the day-2 batch and the checks) plus the
    bytes written."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    cust_ids = np.arange(1, n_customers + 1)
    # exactly round(38 %) of customers place no order; the rest place
    # 1..4 orders (mean ~1.6 per buying customer, as in the reference)
    n_zero = round(ZERO_ORDER_SHARE * n_customers)
    buyers = rng.permutation(cust_ids)[n_zero:]
    per_buyer = rng.choice([1, 1, 1, 2, 2, 3, 4], size=len(buyers))
    user_id = rng.permutation(np.repeat(buyers, per_buyer))
    n_orders = len(user_id)
    start = dt.date(2018, 1, 1).toordinal()
    order_date = start + np.sort(rng.integers(0, 99, n_orders))
    status = rng.choice(len(STATUSES), n_orders, p=[0.1, 0.1, 0.6, 0.1, 0.1])
    status[: len(STATUSES)] = np.arange(len(STATUSES))  # every status occurs
    # every order has >=1 payment; ~13 % have 2-3, possibly mixed methods
    n_pay = np.where(rng.random(n_orders) < 0.13, rng.integers(2, 4, n_orders), 1)
    pay_order = np.repeat(np.arange(1, n_orders + 1), n_pay)
    n_payments = len(pay_order)
    method = rng.choice(len(METHODS), n_payments, p=[0.5, 0.2, 0.2, 0.1])
    method[: len(METHODS)] = np.arange(len(METHODS))
    amount = rng.integers(0, 31, n_payments) * 100  # cents, whole dollars
    amount[rng.integers(0, n_payments, 3)] = 0  # zero amounts occur

    cols = {
        "raw_customers": {
            "id": cust_ids,
            "first_name": rng.choice(FIRST_NAMES, n_customers),
            "last_name": rng.choice(INITIALS, n_customers),
        },
        "raw_orders": {
            "id": np.arange(1, n_orders + 1),
            "user_id": user_id,
            "order_date": order_date,
            "status": np.asarray(STATUSES)[status],
        },
        "raw_payments": {
            "id": np.arange(1, n_payments + 1),
            "order_id": pay_order,
            "payment_method": np.asarray(METHODS)[method],
            "amount": amount,
        },
    }
    nbytes = write_jaffle_csvs(out_dir, cols)
    return {"cols": cols, "csv_bytes": nbytes}


def write_jaffle_csvs(out_dir: str, cols: dict) -> int:
    os.makedirs(out_dir, exist_ok=True)
    nbytes = 0
    for name, c in cols.items():
        header = tuple(c)
        values = [
            [dt.date.fromordinal(int(v)).isoformat() for v in c[k]]
            if k == "order_date"
            else c[k].tolist()
            for k in header
        ]
        nbytes += _write_csv(os.path.join(out_dir, f"{name}.csv"), header, zip(*values))
    return nbytes


def day2_orders(cols: dict, seed: int, share: float = 0.1) -> tuple[dict, int]:
    """A copy of the seed columns where ``share`` of the orders advanced
    one status (placed -> shipped -> ... -> returned); returns the new
    columns and how many orders changed."""
    rng = np.random.default_rng(seed + 1)
    pos = np.array([STATUSES.index(s) for s in cols["raw_orders"]["status"]])
    move = (pos < len(STATUSES) - 1) & (rng.random(len(pos)) < share)
    orders = dict(cols["raw_orders"], status=np.asarray(STATUSES)[pos + move])
    return dict(cols, raw_orders=orders), int(move.sum())


def check_jaffle_seeds(cols: dict) -> None:
    """The reference seeds' distributional invariants, at any size."""
    c, o, p = cols["raw_customers"], cols["raw_orders"], cols["raw_payments"]
    for name, t in cols.items():
        for k, v in t.items():
            if v.dtype.kind == "U" and (v == "").any():
                raise ValueError(f"{name}.{k} has empty (NULL) values")
        if not np.array_equal(t["id"], np.arange(1, len(t["id"]) + 1)):
            raise ValueError(f"{name}.id is not dense 1..n")
    if not np.isin(o["user_id"], c["id"]).all():
        raise ValueError("raw_orders.user_id does not resolve")
    if not np.isin(p["order_id"], o["id"]).all():
        raise ValueError("raw_payments.order_id does not resolve")
    if not np.isin(o["id"], p["order_id"]).all():
        raise ValueError("an order has no payment")
    zero_share = 1 - len(np.unique(o["user_id"])) / len(c["id"])
    if abs(zero_share - ZERO_ORDER_SHARE) > 0.02:
        raise ValueError(f"zero-order customer share {zero_share:.3f}")
    methods: dict[int, list] = {}
    for oid, m in zip(p["order_id"].tolist(), p["payment_method"].tolist()):
        methods.setdefault(oid, []).append(m)
    if not any(len(ms) > 1 for ms in methods.values()):
        raise ValueError("no multi-payment order")
    if not any(len(set(ms)) > 1 for ms in methods.values()):
        raise ValueError("no order spans more than one payment method")
    if not (p["amount"] == 0).any() or (p["amount"] % 100).any():
        raise ValueError("amounts must include 0 and all be multiples of 100")
    if set(o["status"]) != set(STATUSES) or set(p["payment_method"]) != set(METHODS):
        raise ValueError("a status or payment method is missing")


# -- star schema --------------------------------------------------------

WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
PART_ADJ = ("blue", "cold", "hot", "large", "new", "red", "small", "old")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("signup", "click", "view", "purchase", "error")
LANGS = ("en", "en", "en", "de", "es", "fr", "zh")


def _ts(days_from: dt.date, offsets_us: np.ndarray) -> pa.Array:
    base = (days_from - dt.date(1970, 1, 1)).days * 86_400 * 1_000_000
    return pa.array(base + offsets_us.astype(np.int64), type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def star_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users, n_docs, n_emb = n_cust // 10, max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    day_us = 86_400 * 1_000_000
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": list(REGIONS)})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n_part),
                                             rng.choice(PART_NOUN, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": np.round(900 + (pk % 1000) / 10, 1)})
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(("F", "O", "P"), n_ord),
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _ts(dt.date(1995, 1, 1), rng.integers(0, 2405, n_ord) * day_us),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": rng.integers(1, 8, n_li, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100,
        "l_tax": rng.integers(0, 9, n_li) / 100,
        "l_returnflag": rng.choice(("A", "N", "R"), n_li),
        "l_linestatus": rng.choice(("F", "O"), n_li),
        "l_shipdate": _ts(dt.date(1995, 1, 2), rng.integers(0, 2498, n_li) * day_us)})
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(dt.date(2024, 1, 1), np.sort(rng.integers(0, 30 * day_us, n_ev))),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.maximum(0.01, np.round(rng.exponential(50, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    t["documents"] = _documents(rng, n_docs)
    t["embeddings"] = _embeddings(rng, n_emb)
    return t


def _documents(rng, n: int) -> pa.Table:
    texts = [" ".join(rng.choice(WORDS, rng.integers(10, 100))) for _ in range(n)]
    # 5 % near-duplicates: another document plus a trailing marker word,
    # so dedup operators find real pairs
    for i in rng.choice(n, n // 20, replace=False):
        texts[i] = texts[(i + rng.integers(1, n)) % n] + " dup"
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})


def _embeddings(rng, n: int, dim: int = 64, k: int = 10) -> pa.Table:
    labels = rng.integers(0, k, n).astype(np.int32)
    v = rng.normal(0, 1, (n, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v.astype(np.float32)), pa.list_(pa.float32())),
        "label": labels})


def star_schema(out_dir: str, seed: int, sf: float) -> int:
    """Write every star table as ``<out_dir>/<name>.parquet``; return bytes."""
    os.makedirs(out_dir, exist_ok=True)
    nbytes = 0
    for name, table in star_tables(seed, sf).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path, row_group_size=max(1, table.num_rows))
        nbytes += os.path.getsize(path)
    return nbytes
