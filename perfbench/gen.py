"""Seeded input generators for the benchmark.

Every generator takes a seed and writes parquet with pyarrow; the
engine then reads those files. Nothing here imports Spark, so inputs
never travel through ``spark.createDataFrame`` from Python lists.

* ``write_cdc_feed``: ``customers_cdc`` / ``orders_cdc`` bronze feeds
  with the FIXTURES.md dirt (several versions per key, DELETEs, dirty
  vocabularies, bad emails and phones, dangling customer FKs), split
  into a full-refresh segment plus small incremental batches with
  non-overlapping ``_cdc_timestamp`` ranges. Each batch touches a
  small, recency-skewed share of keys and inserts a few new ones.
* ``write_corpus``: documents with planted exact-dup and near-dup
  shares, a language mix and short docs that fail the quality gate.
* ``write_embeddings``: 64-d float32 vectors with planted near-dup
  clusters.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# -------------------------------------------------------------- CDC feed

AS_OF = dt.date(2024, 9, 30)
AS_OF_TS = dt.datetime(2024, 9, 30, 12, 0, 0)
FEED_T0 = dt.datetime(2024, 8, 1)
#: the full-refresh segment spans 30 days; each batch spans one hour
INITIAL_SPAN = dt.timedelta(days=30)
BATCH_SPAN = dt.timedelta(hours=1)
ORDER_DATE_LO = dt.datetime(2023, 6, 1)  # >= 13 months before AS_OF

DIRTY_STATUS = np.array([
    "PENDING", "pending", " Confirmed ", "processing", "IN_TRANSIT",
    "out_for_delivery", "Completed", "FULFILLED", "canceled", "VOID",
    "REJECTED", "DELIVERED", "shipped", "weird_status",
], dtype=object)
DIRTY_PAY_STATUS = np.array(
    ["PAID", "paid ", "authorized", "CAPTURED", "declined", "Chargeback",
     "??", "PENDING"], dtype=object)
DIRTY_PAY_METHOD = np.array(
    ["visa", "MASTERCARD", "apple_pay", "ACH", "paypal", "DEBIT_CARD",
     "bitcoin"], dtype=object)
DIRTY_SHIP_METHOD = np.array(
    ["ground", "NEXT_DAY", "two_day", "saver", "STANDARD", "warp"],
    dtype=object)
DIRTY_REGION = np.array(
    ["NE", "se", " midwest ", "NW", "sw", "CENTRAL", "atlantis", "MW"],
    dtype=object)
COUNTRIES = np.array(
    ["USA", "usa", " Canada", "UK", "germany", "France", "AUSTRALIA",
     "Brazil"], dtype=object)
EMAILS = ("ok{i}@example.com", "bad{i}@", "{i}missing.at", "", None,
          "UPPER{i}@Mail.COM", "x@y")
PHONES = ("555-123-{i:04d}", "000-000-0000", "12{i}", "", None,
          "(555) 987-{i:04d}", "555.{i:03d}.0000")
CUST_STATUS = np.array(["active", "ACTIVE", "inactive", "SUSPENDED"], dtype=object)
CUST_SEGMENT = np.array(["vip", "REGULAR", "new", "Regular"], dtype=object)
CITIES = np.array(["Springfield", " Shelbyville ", "", None], dtype=object)
STATES = np.array(["CA", "NY", "tx ", "", None], dtype=object)

#: share of update events that are DELETEs (FIXTURES.md: ~5 %)
DELETE_SHARE = 0.06
#: share of orders whose customer_id is dangling (FIXTURES.md: ~10 %)
DANGLING_SHARE = 0.10

_TS = pa.timestamp("us", tz="UTC")

CUSTOMERS_SCHEMA = pa.schema([
    ("customer_id", pa.int64()), ("email", pa.string()),
    ("first_name", pa.string()), ("last_name", pa.string()),
    ("phone", pa.string()), ("address_line1", pa.string()),
    ("address_line2", pa.string()), ("city", pa.string()),
    ("state", pa.string()), ("country", pa.string()),
    ("postal_code", pa.string()), ("registration_date", pa.date32()),
    ("customer_status", pa.string()), ("customer_segment", pa.string()),
    ("_cdc_operation", pa.string()), ("_cdc_timestamp", _TS),
    ("_ingested_at", _TS), ("_source_system", pa.string()),
    ("_batch_id", pa.string()),
])

ORDERS_SCHEMA = pa.schema([
    ("order_id", pa.int64()), ("customer_id", pa.int64()),
    ("order_date", _TS), ("order_status", pa.string()),
    ("payment_status", pa.string()), ("payment_method", pa.string()),
    ("shipping_address_line1", pa.string()),
    ("shipping_address_line2", pa.string()), ("shipping_city", pa.string()),
    ("shipping_state", pa.string()), ("shipping_country", pa.string()),
    ("shipping_postal_code", pa.string()), ("shipping_method", pa.string()),
    ("estimated_delivery_date", pa.date32()),
    ("actual_delivery_date", pa.date32()), ("order_total", pa.float64()),
    ("tax_amount", pa.float64()), ("shipping_cost", pa.float64()),
    ("discount_amount", pa.float64()), ("region", pa.string()),
    ("_cdc_operation", pa.string()), ("_cdc_timestamp", _TS),
    ("_ingested_at", _TS), ("_source_system", pa.string()),
    ("_batch_id", pa.string()),
])


def _pick(rng, values, n):
    return values[rng.integers(0, len(values), n)]


def _fmt(rng, templates, ids):
    picks = rng.integers(0, len(templates), len(ids))
    out = []
    for t, i in zip(picks, ids):
        tmpl = templates[t]
        out.append(None if tmpl is None else tmpl.format(i=int(i)))
    return out


def _money(rng, n, lo, hi, cap_bad):
    """Clean amounts with NULL / negative / oversized dirt mixed in."""
    x = np.round(rng.uniform(lo, hi, n), 2).astype(object)
    r = rng.random(n)
    x[r < 0.04] = None
    x[(r >= 0.04) & (r < 0.07)] = -5.0
    x[(r >= 0.07) & (r < 0.10)] = cap_bad
    return x


def _versions(rng, keys, n_versions, ops_first):
    """Expand keys into (key, op) rows: first version ``ops_first``,
    later ones UPDATE or (DELETE_SHARE) DELETE."""
    rep = np.repeat(keys, n_versions)
    first = np.ones(len(rep), dtype=bool)
    first[1:] = rep[1:] != rep[:-1]
    op = np.where(
        first, ops_first,
        np.where(rng.random(len(rep)) < DELETE_SHARE, "DELETE", "UPDATE"),
    ).astype(object)
    return rep, op


def _stamp(rng, rep, start: dt.datetime, span: dt.timedelta):
    """Distinct timestamps in [start, start+span), increasing per key
    in row order (rows of one key are contiguous, oldest first)."""
    n = len(rep)
    step = max(1, int(span / dt.timedelta(microseconds=1)) // max(n, 1))
    ranks = np.empty(n, dtype=np.int64)
    ranks[rng.permutation(n)] = np.arange(n)
    # sort the ranks within each key's run so versions increase
    order = np.lexsort((ranks, rep))
    sorted_ranks = ranks[order]
    out = np.empty(n, dtype=np.int64)
    out[order] = sorted_ranks
    base = int((start - dt.datetime(1970, 1, 1)) / dt.timedelta(microseconds=1))
    return base + out * step


def _customers(rng, rep, op, ts_us, batch_id):
    n = len(rep)
    reg_days = rng.integers(0, 900, n)
    return pa.table({
        "customer_id": rep.astype(np.int64),
        "email": _fmt(rng, EMAILS, rep),
        "first_name": [f"  First{k} " for k in rep],
        "last_name": [f" Last{k}" for k in rep],
        "phone": _fmt(rng, PHONES, rep),
        "address_line1": np.where(
            rng.random(n) < 0.85, [f"{k} Main St" for k in rep], None),
        "address_line2": _pick(rng, np.array(["Apt 1", "", None], dtype=object), n),
        "city": _pick(rng, CITIES, n),
        "state": _pick(rng, STATES, n),
        "country": _pick(rng, COUNTRIES, n),
        "postal_code": np.where(
            rng.random(n) < 0.85, [f"9{k % 10000:04d}" for k in rep], None),
        "registration_date": (
            np.datetime64("2022-01-01") + reg_days).astype("datetime64[D]"),
        "customer_status": _pick(rng, CUST_STATUS, n),
        "customer_segment": _pick(rng, CUST_SEGMENT, n),
        "_cdc_operation": op,
        "_cdc_timestamp": pa.array(ts_us, _TS),
        "_ingested_at": pa.array(ts_us + 60_000_000, _TS),
        "_source_system": ["crm"] * n,
        "_batch_id": [batch_id] * n,
    }, schema=CUSTOMERS_SCHEMA)


def _orders(rng, rep, op, ts_us, batch_id, cust_of):
    n = len(rep)
    lo = int((ORDER_DATE_LO - dt.datetime(1970, 1, 1)).total_seconds())
    hi = int((dt.datetime.combine(AS_OF, dt.time()) - dt.datetime(1970, 1, 1)).total_seconds())
    # order_date is a property of the order: derive it from the key
    odate = lo + (rep * 2654435761 % (hi - lo))
    odate_us = odate.astype(np.int64) * 1_000_000
    est_days = odate // 86400 + rng.integers(2, 10, n)
    actual = est_days + rng.integers(-2, 6, n)
    actual_obj = actual.astype("datetime64[D]").astype(object)
    actual_obj[rng.random(n) < 0.3] = None
    cust = cust_of[rep].astype(object)
    cust[rng.random(n) < 0.02] = None
    total = _money(rng, n, 5, 2000, 60000.0)
    return pa.table({
        "order_id": rep.astype(np.int64),
        "customer_id": pa.array(list(cust), pa.int64()),
        "order_date": pa.array(odate_us, _TS),
        "order_status": _pick(rng, DIRTY_STATUS, n),
        "payment_status": _pick(rng, DIRTY_PAY_STATUS, n),
        "payment_method": _pick(rng, DIRTY_PAY_METHOD, n),
        "shipping_address_line1": np.where(
            rng.random(n) < 0.9, [f"{k} Oak Ave " for k in rep], None),
        "shipping_address_line2": [""] * n,
        "shipping_city": _pick(rng, CITIES, n),
        "shipping_state": _pick(rng, STATES, n),
        "shipping_country": _pick(rng, COUNTRIES, n),
        "shipping_postal_code": np.where(
            rng.random(n) < 0.9, [f"1{k % 10000:04d}" for k in rep], None),
        "shipping_method": _pick(rng, DIRTY_SHIP_METHOD, n),
        "estimated_delivery_date": est_days.astype("datetime64[D]"),
        "actual_delivery_date": pa.array(list(actual_obj), pa.date32()),
        "order_total": pa.array(list(total), pa.float64()),
        "tax_amount": pa.array(list(_money(rng, n, 0, 100, 1e9)), pa.float64()),
        "shipping_cost": pa.array(list(_money(rng, n, 0, 50, 500.0)), pa.float64()),
        "discount_amount": pa.array(list(_money(rng, n, 0, 80, 1e9)), pa.float64()),
        "region": _pick(rng, DIRTY_REGION, n),
        "_cdc_operation": op,
        "_cdc_timestamp": pa.array(ts_us, _TS),
        "_ingested_at": pa.array(ts_us + 120_000_000, _TS),
        "_source_system": ["oms"] * n,
        "_batch_id": [batch_id] * n,
    }, schema=ORDERS_SCHEMA)


def _initial_versions(rng, n):
    # >= 3 versions for ~30 % of keys (FIXTURES.md)
    return rng.choice([1, 2, 3, 4], size=n, p=[0.45, 0.25, 0.2, 0.1])


def _touched(rng, n_keys, share):
    """Exactly ``share`` of the existing keys (1-based), sampled without
    replacement with weights rising steeply with recency: the newest
    keys are the likeliest to change again."""
    m = max(1, int(n_keys * share))
    w = np.arange(1, n_keys + 1, dtype=np.float64) ** 2
    idx = rng.choice(n_keys, size=m, replace=False, p=w / w.sum())
    return np.sort(idx + 1)


def _n_versions(rng, n):
    """1 or 2 versions per key in a batch: exactly 30 % get two."""
    nv = np.ones(n, dtype=np.int64)
    nv[rng.choice(n, size=int(round(n * 0.3)), replace=False)] = 2
    return nv


def write_cdc_feed(
    out_dir: str,
    seed: int,
    n_customers: int,
    n_orders: int,
    n_batches: int,
    touch_share: float = 0.01,
    new_share: float = 0.002,
) -> dict:
    """Write ``customers/bNNNN.parquet`` and ``orders/bNNNN.parquet``
    (batch 0 = the full-refresh segment). Returns a manifest with the
    file lists and byte sizes."""
    rng = np.random.default_rng(seed)
    paths = {"customers": [], "orders": []}
    sizes = {"customers": [], "orders": []}
    rows = {"customers": [], "orders": []}
    for t in paths:
        os.makedirs(os.path.join(out_dir, t), exist_ok=True)

    # customer assigned to each order key; ~10 % dangling FKs
    max_orders = n_orders + n_batches * max(1, int(n_orders * new_share)) + 1
    max_cust = n_customers + n_batches * max(1, int(n_customers * new_share)) + 1
    cust_of = rng.integers(1, n_customers + 1, max_orders)
    dangling = rng.random(max_orders) < DANGLING_SHARE
    cust_of[dangling] = max_cust + rng.integers(1, 1000, dangling.sum())

    def emit(kind, table, b):
        p = os.path.join(out_dir, kind, f"b{b:04d}.parquet")
        pq.write_table(table, p, compression="snappy")
        paths[kind].append(p)
        sizes[kind].append(os.path.getsize(p))
        rows[kind].append(table.num_rows)

    nc, no = n_customers, n_orders
    for b in range(n_batches + 1):
        if b == 0:
            start, span = FEED_T0, INITIAL_SPAN
            ck = np.arange(1, nc + 1)
            c_rep, c_op = _versions(rng, ck, _initial_versions(rng, nc), "INSERT")
            ok = np.arange(1, no + 1)
            o_rep, o_op = _versions(rng, ok, _initial_versions(rng, no), "INSERT")
        else:
            start, span = FEED_T0 + INITIAL_SPAN + (b - 1) * BATCH_SPAN, BATCH_SPAN
            new_c = max(1, int(n_customers * new_share))
            upd = _touched(rng, nc, touch_share)
            fresh = np.arange(nc + 1, nc + new_c + 1)
            nc += new_c
            keys = np.concatenate([upd, fresh])
            c_rep, c_op = _versions(rng, keys, _n_versions(rng, len(keys)), "UPDATE")
            c_op[np.isin(c_rep, fresh) & (np.r_[True, c_rep[1:] != c_rep[:-1]])] = "INSERT"
            new_o = max(1, int(n_orders * new_share))
            oupd = _touched(rng, no, touch_share)
            ofresh = np.arange(no + 1, no + new_o + 1)
            no += new_o
            okeys = np.concatenate([oupd, ofresh])
            o_rep, o_op = _versions(rng, okeys, _n_versions(rng, len(okeys)), "UPDATE")
            o_op[np.isin(o_rep, ofresh) & (np.r_[True, o_rep[1:] != o_rep[:-1]])] = "INSERT"
        bid = f"b{b:04d}"
        emit("customers", _customers(rng, c_rep, c_op, _stamp(rng, c_rep, start, span), bid), b)
        emit("orders", _orders(rng, o_rep, o_op, _stamp(rng, o_rep, start, span), bid,
                               cust_of), b)
    return {"paths": paths, "bytes": sizes, "rows": rows}


# ---------------------------------------------------------------- corpus

_WORDS = np.array(
    ("data spark table merge batch stream window join key value part "
     "hash sort scan query order line customer region filter group agg "
     "fast slow big small column row schema commit log file delta snapshot "
     "version model gold silver bronze feed dedup token vector index shard "
     "cache replay reader writer shuffle stage task driver executor").split(),
    dtype=object)
LANGS = np.array(["en", "de", "fr", "es", "zh"], dtype=object)
LANG_P = [0.6, 0.15, 0.1, 0.1, 0.05]
#: planted shares of the corpus
EXACT_DUP_SHARE = 0.10
NEAR_DUP_SHARE = 0.10
SHORT_SHARE = 0.08


def write_corpus(path: str, seed: int, n_docs: int) -> dict:
    """Documents (doc_id, text, lang, source, n_chars)."""
    rng = np.random.default_rng(seed)
    texts: list[str] = []
    langs = rng.choice(LANGS, size=n_docs, p=LANG_P)
    kind = rng.random(n_docs)
    for i in range(n_docs):
        k = kind[i]
        if i > 10 and k < EXACT_DUP_SHARE:
            j = int(rng.integers(0, i))
            texts.append(texts[j])
            langs[i] = langs[j]
        elif i > 10 and k < EXACT_DUP_SHARE + NEAR_DUP_SHARE:
            j = int(rng.integers(0, i))
            toks = texts[j].split(" ")
            for _ in range(int(rng.integers(1, 3))):
                toks[int(rng.integers(0, len(toks)))] = str(_WORDS[rng.integers(0, len(_WORDS))])
            texts.append(" ".join(toks))
            langs[i] = langs[j]
        elif k < EXACT_DUP_SHARE + NEAR_DUP_SHARE + SHORT_SHARE:
            texts.append(" ".join(_pick(rng, _WORDS, int(rng.integers(2, 7)))))
        else:
            texts.append(" ".join(_pick(rng, _WORDS, int(rng.integers(12, 48)))))
    table = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": list(langs),
        "source": [f"src{i % 7}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(table, path, compression="snappy")
    return {"rows": n_docs, "bytes": os.path.getsize(path)}


EMBED_DIM = 64
NEAR_VEC_SHARE = 0.05


def write_embeddings(path: str, seed: int, n_vecs: int) -> dict:
    """Vectors (vec_id, embedding float32[64], label) with planted
    near-dup clusters: NEAR_VEC_SHARE of the rows are a jittered copy
    of an earlier row, each at its own noise level (so cosine ties at
    the top-k boundary are unlikely)."""
    rng = np.random.default_rng(seed)
    centers = rng.normal(0, 1, (16, EMBED_DIM))
    label = rng.integers(0, 16, n_vecs)
    v = centers[label] + rng.normal(0, 1.5, (n_vecs, EMBED_DIM))
    near = np.flatnonzero(rng.random(n_vecs) < NEAR_VEC_SHARE)
    near = near[near > 0]
    src = (rng.random(len(near)) * near).astype(np.int64)
    sigma = rng.uniform(0.002, 0.2, len(near))[:, None]
    v[near] = v[src] + rng.normal(0, 1, (len(near), EMBED_DIM)) * sigma
    v = (v / np.linalg.norm(v, axis=1, keepdims=True) / 2).astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(v.ravel()), EMBED_DIM)
    table = pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": emb.cast(pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    })
    pq.write_table(table, path, compression="snappy")
    return {"rows": n_vecs, "bytes": os.path.getsize(path)}

