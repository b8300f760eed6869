"""Seeded ETL inputs for the benchmark (pure numpy/pandas, no Spark).

``write_etl_inputs`` turns the ``customer``/``part``/``orders``/``lineitem``
tables of the benchmark's data directory (a copy of the repository's sf0.01
test data) into the reference ETL's four CSVs, one initial load plus
incremental batches, with dirt injected at fixed rates, and records the
final row counts and reject counts each ``run_pipeline`` call must report.
``expected_counts`` is the pandas statement of the reference ETL's
semantics that produces those numbers.

The inputs are written into a temporary sibling directory and renamed into
place, so a killed run never leaves a half-written cache entry behind.
"""

from __future__ import annotations

import json
import os
import shutil
from pathlib import Path

import numpy as np
import pandas as pd

ETL_TABLES = ("customers", "products", "orders", "order_details")
KEYS = {
    "customers": ["CustomerID"],
    "products": ["ProductID"],
    "orders": ["OrderID"],
    "order_details": ["OrderID", "ProductID"],
}
# Rows whose value in any of these is NULL are dropped before dedupe.
NOT_NULL = {**KEYS, "orders": ["OrderID", "CustomerID"]}

# Dirt rates, as shares of each table's rows.
PAD_RATE = 0.02  # a string field padded with spaces
NULL_KEY_RATE = 0.005  # a key field left empty or made unparseable
DUP_RATE = 0.01  # a row repeated later in the file with new values
BAD_VALUE_RATE = 0.005  # an unparseable number or date
ORPHAN_RATE = 0.005  # a foreign key that matches no parent row


def _publish(tmp: Path, final: Path) -> None:
    """Rename a finished temporary directory into place (first one wins)."""
    try:
        os.rename(tmp, final)
    except OSError:
        if not final.exists():
            raise
        shutil.rmtree(tmp, ignore_errors=True)


def reference_frames(base_dir: str | Path) -> dict[str, pd.DataFrame]:
    """The four reference CSV tables as clean string frames, mapped from
    the base tables (customer -> customers, part -> products, orders ->
    orders, lineitem -> order_details)."""
    base = Path(base_dir)
    cust = pd.read_parquet(base / "customer.parquet")
    part = pd.read_parquet(base / "part.parquet")
    orders = pd.read_parquet(base / "orders.parquet")
    items = pd.read_parquet(base / "lineitem.parquet")
    ck = cust.c_custkey.astype(str)
    status = {"F": "Delivered", "O": "Shipped", "P": "Pending"}
    return {
        "customers": pd.DataFrame(
            {
                "CustomerID": ck,
                "FirstName": "First" + (cust.c_custkey % 97).astype(str),
                "LastName": cust.c_name.str.slice(9),
                "Email": "c" + ck + "@example.com",
                "Phone": "+1-555-" + ck.str.zfill(6),
                "City": "City" + (cust.c_custkey % 113).astype(str),
                "Country": "NATION_" + cust.c_nationkey.astype(str),
            }
        ),
        "products": pd.DataFrame(
            {
                "ProductID": part.p_partkey.astype(str),
                "ProductName": part.p_name,
                "Category": part.p_type,
                "Price": part.p_retailprice.map("{:.2f}".format),
                "Stock": (part.p_size * 10).astype(str),
            }
        ),
        "orders": pd.DataFrame(
            {
                "OrderID": orders.o_orderkey.astype(str),
                "CustomerID": orders.o_custkey.astype(str),
                "OrderDate": orders.o_orderdate.dt.strftime("%Y-%m-%d"),
                "Status": orders.o_orderstatus.map(status),
            }
        ),
        "order_details": pd.DataFrame(
            {
                "OrderID": items.l_orderkey.astype(str),
                "ProductID": items.l_partkey.astype(str),
                "Quantity": items.l_quantity.astype(int).astype(str),
                "TotalPrice": items.l_extendedprice.map("{:.2f}".format),
            }
        ),
    }


def _dirty(df: pd.DataFrame, name: str, rng: np.random.Generator,
           orphan_base: dict[str, int]) -> pd.DataFrame:
    """Inject dirt into one clean string frame at the fixed rates."""
    df = df.reset_index(drop=True).copy()
    n = len(df)

    def pick(rate: float) -> np.ndarray:
        return rng.choice(n, size=int(round(rate * n)), replace=False)

    key_cols = set(NOT_NULL[name])
    text_cols = [c for c in df.columns if c not in key_cols and c not in
                 ("Price", "Stock", "Quantity", "TotalPrice", "OrderDate")]
    if text_cols:
        rows = pick(PAD_RATE)
        col = text_cols[int(rng.integers(0, len(text_cols)))]
        df.loc[rows, col] = "  " + df.loc[rows, col] + " "
    bad_value_col = {"customers": None, "products": "Price", "orders": "OrderDate",
                     "order_details": "Quantity"}[name]
    if bad_value_col:
        df.loc[pick(BAD_VALUE_RATE), bad_value_col] = (
            "not-a-date" if bad_value_col == "OrderDate" else "abc"
        )
    fk = {"orders": "CustomerID", "order_details": "ProductID"}.get(name)
    if fk:
        rows = pick(ORPHAN_RATE)
        df.loc[rows, fk] = [str(orphan_base[fk] + i) for i in range(len(rows))]
    # duplicates: a later copy with changed non-key values wins (keep-last)
    dups = df.iloc[pick(DUP_RATE)].copy()
    if "Status" in dups:
        dups["Status"] = "Cancelled"
    for c in ("Email", "Price", "TotalPrice"):
        if c in dups:
            dups[c] = dups[c].str.replace("5", "7")
    df = pd.concat([df, dups], ignore_index=True)
    # null keys last, so a NULL-keyed duplicate never shadows its original
    rows = pick(NULL_KEY_RATE)
    key = NOT_NULL[name][int(rng.integers(0, len(NOT_NULL[name])))]
    df.loc[rows, key] = np.where(rng.random(len(rows)) < 0.5, "", "x1")
    return df


def _parse_int(col: pd.Series) -> pd.Series:
    return pd.to_numeric(col.where(col.str.fullmatch(r"-?\d+").fillna(False)), errors="coerce")


def clean_frame(df: pd.DataFrame, name: str) -> pd.DataFrame:
    """Drop rows with an unparseable or empty key, then keep the last row
    of each key in file order (the reference's trim/drop-null/dedupe; trim
    does not change counts)."""
    keys = KEYS[name]
    parsed = {c: _parse_int(df[c].fillna("").str.strip()) for c in NOT_NULL[name]}
    ok = np.logical_and.reduce([parsed[c].notna().to_numpy() for c in parsed])
    out = pd.DataFrame({c: parsed[c][ok].astype(np.int64) for c in parsed})
    return out.drop_duplicates(subset=keys, keep="last")


def expected_counts(batch: dict[str, pd.DataFrame],
                    target: dict[str, pd.DataFrame] | None):
    """Apply one ``run_pipeline`` call's semantics to key frames.

    Returns ``(new_target, final_counts, reject_counts)``. FK validation is
    against the batch's own parents and is skipped when the parent file is
    empty, as in the reference; details validate against the orders that
    passed their own FK.
    """
    clean = {name: clean_frame(batch[name], name) for name in ETL_TABLES}
    cust, prod, orders, details = (clean[n] for n in ETL_TABLES)
    rejects = {}
    if len(cust):
        orders_ok = orders[orders.CustomerID.isin(cust.CustomerID)]
    else:
        orders_ok = orders
    rejects["orders"] = len(orders) - len(orders_ok)
    mask = np.ones(len(details), dtype=bool)
    if len(orders):
        mask &= details.OrderID.isin(orders_ok.OrderID).to_numpy()
    if len(prod):
        mask &= details.ProductID.isin(prod.ProductID).to_numpy()
    rejects["order_details"] = int((~mask).sum())
    incoming = {"customers": cust, "products": prod, "orders": orders_ok,
                "order_details": details[mask]}
    new_target = {}
    for name, inc in incoming.items():
        keys = KEYS[name]
        inc = inc[keys]
        if target is None:
            new_target[name] = inc.reset_index(drop=True)
            continue
        old = target[name]
        hit = old.merge(inc.drop_duplicates(), on=keys, how="left", indicator=True)
        kept = old[(hit["_merge"] == "left_only").to_numpy()]
        new_target[name] = pd.concat([kept, inc], ignore_index=True)
    counts = {name: len(df) for name, df in new_target.items()}
    return new_target, counts, rejects


def _batch(ref: dict[str, pd.DataFrame], rng: np.random.Generator, k: int,
           share: float) -> dict[str, pd.DataFrame]:
    """One incremental batch: new orders with their details, updates to
    existing orders, and every customer and product those rows reference
    (the batch's parents, since FK checks run against the batch) plus
    brand-new customers and products."""
    n_orders = len(ref["orders"])
    new_base = 10_000_000 * k
    n_new = int(share * n_orders)
    upd = ref["orders"].iloc[rng.choice(n_orders, n_new // 2, replace=False)].copy()
    upd["Status"] = "Shipped"
    new = ref["orders"].iloc[rng.choice(n_orders, n_new, replace=False)].copy()
    src_ids = new["OrderID"].to_numpy()
    new["OrderID"] = [str(new_base + i) for i in range(n_new)]
    orders = pd.concat([upd, new], ignore_index=True)

    det = ref["order_details"]
    picked = det[det.OrderID.isin(src_ids)].copy()
    remap = dict(zip(src_ids, new["OrderID"]))
    picked["OrderID"] = picked["OrderID"].map(remap)
    upd_det = det[det.OrderID.isin(upd["OrderID"])].copy()
    upd_det["Quantity"] = "1"
    details = pd.concat([upd_det, picked], ignore_index=True)

    cust = ref["customers"]
    cust = cust[cust.CustomerID.isin(orders.CustomerID)].copy()
    cust["Email"] = "b" + str(k) + "." + cust["Email"]
    new_cust = ref["customers"].iloc[: max(1, int(share * len(ref["customers"]) / 4))].copy()
    new_cust["CustomerID"] = [str(new_base + i) for i in range(len(new_cust))]
    prod = ref["products"]
    prod = prod[prod.ProductID.isin(details.ProductID)].copy()
    prod["Stock"] = "0"
    new_prod = ref["products"].iloc[: max(1, int(share * len(ref["products"]) / 4))].copy()
    new_prod["ProductID"] = [str(new_base + i) for i in range(len(new_prod))]
    return {
        "customers": pd.concat([cust, new_cust], ignore_index=True),
        "products": pd.concat([prod, new_prod], ignore_index=True),
        "orders": orders,
        "order_details": details,
    }


def make_etl_inputs(base_dir: str | Path, seed: int, n_batches: int,
                    batch_share: float = 0.08):
    """Frames for the initial load and ``n_batches`` incremental batches,
    dirt included, with the expected counts after each pipeline run."""
    rng = np.random.default_rng(seed)
    ref = reference_frames(base_dir)
    orphan_base = {"CustomerID": 50_000_000, "ProductID": 60_000_000}
    raw = [{n: _dirty(ref[n], n, rng, orphan_base) for n in ETL_TABLES}]
    for k in range(1, n_batches + 1):
        batch = _batch(ref, rng, k, batch_share)
        raw.append({n: _dirty(batch[n], n, rng, orphan_base) for n in ETL_TABLES})
    expected = []
    target = None
    for frames in raw:
        target, counts, rejects = expected_counts(frames, target)
        expected.append({
            "rows": sum(len(f) for f in frames.values()),
            "counts": counts,
            "rejects": rejects,
        })
    return raw, expected


def write_etl_inputs(base_dir: str | Path, out_dir: str | Path, seed: int,
                     n_batches: int) -> Path:
    """Write ``batch_00`` (the initial load) .. ``batch_NN`` CSV directories
    and ``expected.json`` into ``out_dir`` (no-op when it already exists)."""
    out = Path(out_dir)
    if out.exists():
        return out
    tmp = out.with_name(f"{out.name}.tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    raw, expected = make_etl_inputs(base_dir, seed, n_batches)
    for i, frames in enumerate(raw):
        d = tmp / f"batch_{i:02d}"
        d.mkdir()
        for name, df in frames.items():
            df.to_csv(d / f"{name}.csv", index=False)
        expected[i]["csv_bytes"] = sum(
            (d / f"{name}.csv").stat().st_size for name in frames
        )
    (tmp / "expected.json").write_text(json.dumps(expected, indent=1))
    _publish(tmp, out)
    return out
