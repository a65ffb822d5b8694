"""Output checks, each an independent computation of what the engine
must have produced.

* CDC tables: a pandas model of the merge semantics (high-watermark
  filter, latest version per key, DELETE skipped, upsert) replayed over
  the same segments the engine applied, plus a recomputation of the
  cleaned columns from each key's winning CDC row.
  Point reads are checked against the same model, stopped after the
  pass that preceded the read (the files the read saw are gone by
  then, replaced by later versions).
* Change feed: DuckDB over the change files the benchmark's own log
  reader (deltalog.py) finds for the same commit.
* Corpus: the DuckDB oracles the q25/q27/q388 driver keys already use.
"""

from __future__ import annotations

import math
import re

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import deltalog

_EMAIL_RE = re.compile(r"^[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}$")


# ------------------------------------------------------------ CDC model

class CdcModel:
    """Replays incremental-merge semantics for one keyed table."""

    def __init__(self, key: str):
        self.key = key
        self.state: dict[int, dict] = {}

    def apply(self, rows: pd.DataFrame, seg: int) -> None:
        if self.state:
            wm = max(r["_cdc_timestamp"] for r in self.state.values())
            rows = rows[rows["_cdc_timestamp"] > wm]
        if rows.empty:
            return
        latest = (
            rows.sort_values(["_cdc_timestamp", "_ingested_at"])
            .groupby(self.key, sort=False)
            .tail(1)
        )
        for r in latest.to_dict("records"):
            if r["_cdc_operation"] == "DELETE":
                continue
            k = r[self.key]
            prior = self.state.get(k)
            if r["_cdc_operation"] == "INSERT" or prior is None:
                first = r["_cdc_timestamp"]
            else:
                first = prior["_first_seen"]
            r["_first_seen"] = first
            r["_seg"] = seg
            self.state[k] = r


def _us(series: pd.Series) -> pd.Series:
    """Timestamps as integer microseconds since the epoch (UTC)."""
    ts = pd.to_datetime(series, utc=True)
    return (ts - pd.Timestamp(0, tz="UTC")) // pd.Timedelta(microseconds=1)


def _read_feed(paths: list[str]) -> pd.DataFrame:
    df = pq.read_table(paths).to_pandas()
    for c in ("_cdc_timestamp", "_ingested_at"):
        df[c] = _us(df[c])
    return df


def _trim(s):
    return None if s is None else s.strip(" ")


def _expected_customers(model: CdcModel) -> pd.DataFrame:
    out = []
    for k, r in model.state.items():
        email, phone = r["email"], r["phone"]
        first, last = _trim(r["first_name"]), _trim(r["last_name"])
        digits = re.sub(r"[^0-9]", "", phone) if phone is not None else ""
        out.append({
            "customer_id": k,
            "email": None if email is None else email.strip(" ").lower(),
            "full_name": None if first is None or last is None else f"{first} {last}",
            "country": None if r["country"] is None else r["country"].strip(" ").upper(),
            "customer_status": r["customer_status"].upper(),
            "customer_segment": r["customer_segment"].upper(),
            "is_email_valid": bool(email) and bool(_EMAIL_RE.match(email)),
            "is_phone_valid": bool(phone) and phone != "000-000-0000" and len(digits) >= 10,
            "last_updated_at": r["_cdc_timestamp"],
            "first_seen_at": r["_first_seen"],
            "_batch_id": r["_batch_id"],
            "_seg": r["_seg"],
        })
    return pd.DataFrame(out)


def _clamp_total(x):
    if x is None or (isinstance(x, float) and math.isnan(x)) or x < 0:
        return 0.0
    if x > 50000:
        return 50000.0
    return round(x, 2)


def _order_row(k, r: dict) -> dict:
    cid = r["customer_id"]
    return {
        "order_id": k,
        "customer_id": None if pd.isna(cid) else int(cid),
        "order_total": _clamp_total(r["order_total"]),
        "last_updated_at": r["_cdc_timestamp"],
        "first_seen_at": r["_first_seen"],
        "_batch_id": r["_batch_id"],
        "_seg": r["_seg"],
    }


def _expected_orders(model: CdcModel) -> pd.DataFrame:
    return pd.DataFrame([_order_row(k, r) for k, r in model.state.items()])


def _compare(name, engine: pd.DataFrame, expected: pd.DataFrame, key: str,
             problems: list, bad_segs: set) -> None:
    dup = engine[key].duplicated().sum()
    if dup:
        problems.append(f"{name}: {dup} duplicate keys")
        bad_segs.add(-1)
    e = engine.drop_duplicates(key).set_index(key)
    x = expected.set_index(key)
    missing = x.index.difference(e.index)
    extra = e.index.difference(x.index)
    if len(missing) or len(extra):
        problems.append(f"{name}: {len(missing)} keys missing, {len(extra)} unexpected")
        bad_segs.update(x.loc[missing, "_seg"].tolist())
        if len(extra):
            bad_segs.add(-1)
    common = x.index.intersection(e.index)
    for col in x.columns:
        if col == "_seg":
            continue
        a, b = e.loc[common, col], x.loc[common, col]
        if col in ("last_updated_at", "first_seen_at"):
            a = _us(a)
            bad = a != b.astype("int64")
        elif a.dtype.kind == "f" or b.dtype.kind == "f":
            bad = ~np.isclose(a.astype(float), b.astype(float), atol=1e-6, equal_nan=True)
        else:
            bad = ~((a == b) | (a.isna() & b.isna()))
        n = int(np.asarray(bad).sum())
        if n:
            keys = common[np.asarray(bad)]
            problems.append(f"{name}.{col}: {n} rows differ (e.g. key {keys[0]})")
            bad_segs.update(x.loc[keys, "_seg"].tolist())


def check_cdc(store, segments: list[tuple[list[str], list[str]]],
              probes: list[tuple[int, int]] = ()) -> tuple[list, set, list]:
    """``segments``: the (customers files, orders files) the engine
    applied, pass by pass, in order. ``probes``: (pass, order_id)
    point reads of orders_cleaned taken right after that pass.
    Returns (problems, indices of the passes whose keys mismatch, -1
    when unattributable; per probe the expected rows, [] or [row])."""
    cust, orders = CdcModel("customer_id"), CdcModel("order_id")
    expected: list = [None] * len(probes)
    for i, (cfiles, ofiles) in enumerate(segments):
        if cfiles:
            cust.apply(_read_feed(cfiles), i)
        if ofiles:
            orders.apply(_read_feed(ofiles), i)
        for j, (seg, key) in enumerate(probes):
            if seg == i:
                r = orders.state.get(key)
                expected[j] = [] if r is None else [_order_row(key, r)]
    problems: list[str] = []
    bad: set = set()
    cl = store.read("customers_latest").select(
        "customer_id", "email", "full_name", "country", "customer_status",
        "customer_segment", "is_email_valid", "is_phone_valid",
        "last_updated_at", "first_seen_at", "_batch_id").toPandas()
    _compare("customers_latest", cl, _expected_customers(cust), "customer_id", problems, bad)
    oc = store.read("orders_cleaned").select(
        "order_id", "customer_id", "order_total", "last_updated_at",
        "first_seen_at", "_batch_id").toPandas()
    oc["customer_id"] = oc["customer_id"].map(lambda v: None if pd.isna(v) else int(v))
    _compare("orders_cleaned", oc, _expected_orders(orders), "order_id", problems, bad)

    # gold: one row per customer of the silver table, and each
    # customer's order count equal to the valid orders in silver
    dim = store.read("dim_customer").select("customer_id", "lifetime_orders").toPandas()
    silver = store.read("orders_cleaned").select(
        "order_id", "customer_id", "order_status", "is_valid_order").toPandas()
    valid = silver[silver.customer_id.notna() & (silver.order_status != "CANCELLED")
                   & (silver.is_valid_order == True)]  # noqa: E712
    counts = valid.groupby("customer_id").order_id.nunique()
    if dim.customer_id.duplicated().any():
        problems.append("dim_customer: duplicate keys")
        bad.add(-1)
    d = dim.drop_duplicates("customer_id").set_index("customer_id")
    if set(d.index) != set(cl.customer_id):
        problems.append("dim_customer: key set differs from customers_latest")
        bad.add(-1)
    got = d.lifetime_orders.fillna(0).astype("int64")
    want = counts.reindex(d.index).fillna(0).astype("int64")
    n = int((got != want).sum())
    if n:
        problems.append(f"dim_customer.lifetime_orders: {n} rows differ")
        bad.add(-1)
    return problems, bad, expected


# --------------------------------------------------------- change feed

def change_counts(table_dir: str, version: int) -> list[tuple[str, int]]:
    """Rows per change type that commit ``version`` of the table
    carries, counted by DuckDB over the files its log entry lists."""
    import duckdb

    con = duckdb.connect()
    counts: dict[str, int] = {}
    for kind, path in deltalog.change_sources(table_dir, version):
        if kind == "cdc":
            rows = con.execute(
                "SELECT _change_type, count(*) FROM read_parquet(?) GROUP BY 1",
                [path]).fetchall()
        else:
            rows = [(kind, con.execute(
                "SELECT count(*) FROM read_parquet(?)", [path]).fetchone()[0])]
        for t, n in rows:
            counts[t] = counts.get(t, 0) + n
    con.close()
    return sorted(counts.items())


def same(a, b) -> bool:
    """Structural equality with a 0.01 tolerance on floats (sums of
    money rounded to cents by two engines)."""
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(same(x, y) for x, y in zip(a, b))
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return abs(float(a) - float(b)) <= 0.011
    if hasattr(a, "item"):
        a = a.item()
    if hasattr(b, "item"):
        b = b.item()
    return a == b


# -------------------------------------------------------------- corpus

def _materialized(sql: str, ctes: list[str]) -> str:
    """Mark CTEs ``AS MATERIALIZED``: DuckDB otherwise re-evaluates a
    CTE at every reference (the q388 funnel references its near-dup
    pipeline eight times). An evaluation hint only; the SQL is the
    driver key's oracle unchanged."""
    for name in ctes:
        sql, n = re.subn(rf"(?m)^{name} AS \(", f"{name} AS MATERIALIZED (", sql)
        if n != 1:
            raise ValueError(f"CTE {name} not found once in the oracle SQL")
    return sql


def corpus_oracle(docs_path: str, emb_path: str) -> dict:
    """Funnel, SimHash pairs and IVF pairs from the DuckDB oracles of
    q388, q25 and q27."""
    import duckdb

    from product_analytics_spark.driver_queries import _q25_sql, _q27_sql
    from product_analytics_spark.driver_queries_ext75 import _q388_sql

    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs_path}')")
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{emb_path}')")
    funnel = [tuple(r) for r in con.execute(
        _materialized(_q388_sql(), ["sig", "b3", "b4"])).fetchall()]
    simhash = sorted(tuple(r) for r in con.execute(
        _materialized(_q25_sql(), ["sh"])).fetchall())
    ivf = sorted(tuple(r) for r in con.execute(_q27_sql()).fetchall())
    con.close()
    return {"funnel": funnel, "simhash": simhash, "ivf": ivf}
