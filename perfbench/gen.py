"""Seeded input generators for the benchmark.

Two families, both pure functions of ``seed`` (the same seed writes the same
bytes):

- ``write_star``: the synthetic star (region … lineitem, events, documents,
  embeddings) as parquet, with the same schemas and value domains as the
  engine's reference fixtures, so every registered query and its DuckDB
  oracle run on it unchanged.
- ``write_olist_csvs``: Olist-shape CSVs for the bronze → silver → gold
  pipeline, including the dirty cases the silver rules exist for.

The program under test receives only the files written here.
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "red", "blue", "hot", "cold", "new", "old", "green"]
PART_NOUN = ["ring", "widget", "bolt", "anvil", "rod", "plate", "gear", "nut"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
VOCAB = (
    "a the key agg row scan slow fast table value part hash batch merge spark "
    "line sort window data column join small big query customer order group "
    "filter stream vector"
).split()


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _shuffled(rng: np.random.Generator, values, n: int) -> np.ndarray:
    """``values`` repeated to length ``n`` in a seeded order: the multiset,
    and so the amount of work it implies, is the same for every seed."""
    return rng.permutation(np.resize(np.asarray(values), n))


def _picks(rng: np.random.Generator, n: int, share: float) -> np.ndarray:
    """A seeded set of ``round(n * share)`` (at least one) distinct indices
    below ``n``."""
    return np.sort(rng.choice(n, max(int(round(n * share)), 1), replace=False))


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = int((np.datetime64(end, "D") - lo).astype(int))
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def write_star(out_dir: str, seed: int, sizes: dict[str, int]) -> None:
    """Write the ten synthetic tables under ``out_dir``.

    ``sizes`` keys: customer, supplier, part, orders, events, documents,
    embeddings. Lineitem averages four lines per order."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp, n_part = sizes["customer"], sizes["supplier"], sizes["part"]
    n_ord, n_ev = sizes["orders"], sizes["events"]
    n_doc, n_emb = sizes["documents"], sizes["embeddings"]

    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    }), f"{out_dir}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }), f"{out_dir}/nation.parquet")

    def money(lo: float, hi: float, n: int) -> np.ndarray:
        return np.round(rng.uniform(lo, hi, n), 2)

    _write(pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    }), f"{out_dir}/customer.parquet")
    _write(pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": money(-999.99, 9999.99, n_supp),
    }), f"{out_dir}/supplier.parquet")
    pk = np.arange(n_part, dtype=np.int64)
    _write(pa.table({
        "p_partkey": pk,
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
    }), f"{out_dir}/part.parquet")

    _write(pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": money(1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    }), f"{out_dir}/orders.parquet")

    lines = _shuffled(rng, range(1, 8), n_ord)
    n_li = int(lines.sum())
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    _write(pa.table({
        "l_orderkey": np.repeat(np.arange(n_ord, dtype=np.int64), lines),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_li),
    }), f"{out_dir}/lineitem.parquet")

    # events: monotone timestamps over 30 days, one user per 10 customers
    gaps = rng.exponential(30 * 86400e6 / n_ev, n_ev).astype(np.int64)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps).astype("timedelta64[us]")
    _write(pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, max(n_cust // 10, 10), n_ev).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }), f"{out_dir}/events.parquet")

    # documents: bag-of-words texts; exactly one in twenty is a near-duplicate
    # of an earlier document (its text plus one marker token), so the dedup
    # work does not swing with the seed
    dup_of = dict(zip(
        rng.choice(np.arange(20, n_doc), n_doc // 20, replace=False).tolist(),
        rng.integers(0, 20, n_doc // 20).tolist(),
    ))
    lengths = _shuffled(rng, range(8, 100), n_doc)
    texts: list[str] = []
    for i in range(n_doc):
        if i in dup_of:
            texts.append(texts[dup_of[i] * i // 20] + " dup")
        else:
            n_words = int(lengths[i])
            texts.append(" ".join(np.array(VOCAB)[rng.integers(0, len(VOCAB), n_words)]))
    _write(pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }), f"{out_dir}/documents.parquet")

    vecs = rng.standard_normal((n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32),
    }), f"{out_dir}/embeddings.parquet")


# --- Olist-shape CSVs --------------------------------------------------------

STATUSES = ["delivered", "shipped", "canceled", "invoiced", "processing", "approved"]
CATEGORIES = [f"categoria_{i}" for i in range(24)]
STATES = ["sp", "rj", "mg", "rs", "pr", "ba"]


def _ts_strings(base: datetime, offsets_s: np.ndarray) -> list[str]:
    return [(base + timedelta(seconds=int(s))).strftime("%Y-%m-%d %H:%M:%S") for s in offsets_s]


def write_olist_csvs(out_dir: str, seed: int, n_orders: int) -> int:
    """Write the seven Olist tables the silver and gold layers read; return
    the total bytes written. Dirty cases: exact duplicate order rows, blank
    order status, an unparseable timestamp, negative price and freight,
    duplicate customer and product ids, NULL and untranslated categories."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    base = datetime(2017, 1, 1)
    n_prod, n_sell = max(n_orders // 8, 10), max(n_orders // 40, 5)
    oid = [f"o{i:08x}" for i in range(n_orders)]
    cid = [f"c{i:08x}" for i in range(n_orders)]
    pid = [f"p{i:06x}" for i in range(n_prod)]
    sid = [f"s{i:05x}" for i in range(n_sell)]

    purchase = rng.integers(0, 600 * 86400, n_orders)
    approve = purchase + rng.integers(600, 2 * 86400, n_orders)
    carrier = approve + rng.integers(86400, 5 * 86400, n_orders)
    deliver = carrier + rng.integers(86400, 20 * 86400, n_orders)
    estimate = purchase + rng.integers(10 * 86400, 40 * 86400, n_orders)
    status = np.array(STATUSES)[rng.integers(0, len(STATUSES), n_orders)].astype(object)
    status[_picks(rng, n_orders, 0.01)] = None  # blank status → "pending"
    delivered = _ts_strings(base, deliver)
    for i in np.flatnonzero(status != "delivered"):
        delivered[i] = None
    orders = pd.DataFrame({
        "order_id": oid,
        "customer_id": cid,
        "order_status": status,
        "order_purchase_timestamp": _ts_strings(base, purchase),
        "order_approved_at": _ts_strings(base, approve),
        "order_delivered_carrier_date": _ts_strings(base, carrier),
        "order_delivered_customer_date": delivered,
        "order_estimated_delivery_date": _ts_strings(base, estimate),
    })
    orders.loc[3, "order_approved_at"] = "2017-13-45 99:99:99"  # unparseable
    dup_rows = orders.iloc[rng.integers(0, n_orders, max(n_orders // 100, 1))]
    orders = pd.concat([orders, dup_rows], ignore_index=True)

    customers = pd.DataFrame({
        "customer_id": cid,
        "customer_unique_id": [f"u{i:08x}" for i in rng.integers(0, n_orders * 9 // 10, n_orders)],
        "customer_zip_code_prefix": rng.integers(1000, 99999, n_orders),
        "customer_city": [f"  City {i} " for i in rng.integers(0, 300, n_orders)],
        "customer_state": np.array(STATES)[rng.integers(0, len(STATES), n_orders)],
    })
    customers = pd.concat([customers, customers.iloc[: max(n_orders // 200, 1)]], ignore_index=True)

    n_items_per = _shuffled(rng, range(1, 4), n_orders)
    n_items = int(n_items_per.sum())
    price = np.round(rng.uniform(5.0, 900.0, n_items), 2)
    freight = np.round(rng.uniform(0.0, 60.0, n_items), 2)
    price[_picks(rng, n_items, 0.005)] *= -1  # negative price → filtered
    freight[_picks(rng, n_items, 0.005)] *= -1  # negative freight → filtered
    order_of_item = np.repeat(np.arange(n_orders), n_items_per)
    items = pd.DataFrame({
        "order_id": np.array(oid)[order_of_item],
        "order_item_id": np.concatenate([np.arange(1, k + 1) for k in n_items_per]),
        "product_id": np.array(pid)[rng.integers(0, n_prod, n_items)],
        "seller_id": np.array(sid)[rng.integers(0, n_sell, n_items)],
        "shipping_limit_date": _ts_strings(base, purchase[order_of_item] + 3 * 86400),
        "price": price,
        "freight_value": freight,
    })

    cat = np.array(CATEGORIES)[rng.integers(0, len(CATEGORIES), n_prod)].astype(object)
    cat[_picks(rng, n_prod, 0.02)] = None
    products = pd.DataFrame({
        "product_id": pid,
        "product_category_name": cat,
        "product_name_lenght": rng.integers(5, 70, n_prod),
        "product_description_lenght": rng.integers(20, 3000, n_prod),
        "product_photos_qty": rng.integers(1, 8, n_prod),
        "product_weight_g": rng.integers(50, 30000, n_prod),
        "product_length_cm": rng.integers(10, 100, n_prod),
        "product_height_cm": rng.integers(2, 100, n_prod),
        "product_width_cm": rng.integers(6, 100, n_prod),
    })
    products = pd.concat([products, products.iloc[: max(n_prod // 100, 1)]], ignore_index=True)
    # the last four categories have no translation row → fallback path
    translation = pd.DataFrame({
        "product_category_name": CATEGORIES[:-4],
        "product_category_name_english": [f"category_{i}" for i in range(len(CATEGORIES) - 4)],
    })

    sellers = pd.DataFrame({
        "seller_id": sid,
        "seller_zip_code_prefix": rng.integers(1000, 99999, n_sell),
        "seller_city": [f" Town {i}" for i in rng.integers(0, 80, n_sell)],
        "seller_state": np.array(STATES)[rng.integers(0, len(STATES), n_sell)],
    })

    reviewed = _picks(rng, n_orders, 0.9)
    created = deliver[reviewed] + 86400
    score = rng.integers(1, 6, len(reviewed)).astype(object)
    score[_picks(rng, len(reviewed), 0.01)] = None
    reviews = pd.DataFrame({
        "review_id": [f"r{i:08x}" for i in reviewed],
        "order_id": np.array(oid)[reviewed],
        "review_score": score,
        "review_comment_title": None,
        "review_comment_message": np.array(["ok", "bom", None], dtype=object)[
            rng.integers(0, 3, len(reviewed))
        ],
        "review_creation_date": _ts_strings(base, created),
        "review_answer_timestamp": _ts_strings(base, created + 3600),
    })

    frames = {
        "olist_orders_dataset.csv": orders,
        "olist_customers_dataset.csv": customers,
        "olist_order_items_dataset.csv": items,
        "olist_products_dataset.csv": products,
        "product_category_name_translation.csv": translation,
        "olist_sellers_dataset.csv": sellers,
        "olist_order_reviews_dataset.csv": reviews,
    }
    total = 0
    for name, df in frames.items():
        path = os.path.join(out_dir, name)
        df.to_csv(path, index=False)
        total += os.path.getsize(path)
    return total
