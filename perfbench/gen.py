"""Seeded input generators for the benchmark.

Everything the package sees is made here from the seed: nested TikTok
order payloads in the declared ``schemas.tiktok`` shape, the incremental
change windows over them, and the small star-schema corpus the query
registry reads.
"""

from __future__ import annotations

import random

import numpy as np
import pandas as pd

T0 = 1_700_000_000  # epoch seconds of the first generated order
STATUSES = ["UNPAID", "AWAITING_SHIPMENT", "AWAITING_COLLECTION",
            "IN_TRANSIT", "DELIVERED", "COMPLETED", "CANCELLED"]
CARRIERS = ["J&T", "GHN", "GHTK", "VNPost", "Ninja Van"]
WORDS = ["red", "blue", "cotton", "shirt", "phone", "case", "lamp", "desk",
         "mug", "tea", "rice", "soap", "pen", "bag", "shoe", "cable"]


def _money(rng: random.Random, hi: int = 500) -> str:
    return f"{rng.randrange(hi)}.{rng.randrange(100):02d}"


def _name(rng: random.Random, n: int = 3) -> str:
    return " ".join(rng.choice(WORDS) for _ in range(n))


# --------------------------------------------------------------- TikTok

def tiktok_order(rng: random.Random, i: int) -> dict:
    """One raw TikTok order with 0-4 line items (every 7th is itemless)."""
    ct = T0 + i * 37
    n_items = 0 if i % 7 == 0 else rng.randint(1, 4)
    oid = f"TT{i:09d}"
    items = [{
        "id": f"{oid}-{j}", "product_id": f"P{rng.randrange(5000)}",
        "product_name": _name(rng), "sku_id": f"S{rng.randrange(20000)}",
        "sku_name": _name(rng, 2), "sku_type": "NORMAL",
        "sku_image": f"https://img.example/{rng.randrange(10**6)}.jpg",
        "seller_sku": f"SS-{rng.randrange(10**5)}", "quantity": rng.randint(1, 5),
        "currency": "VND", "display_status": "TO_SHIP", "is_gift": j == 3,
        "original_price": _money(rng), "sale_price": _money(rng),
        "platform_discount": _money(rng, 20), "seller_discount": _money(rng, 20),
        "package_id": f"PK{i}", "package_status": "TO_FULFILL",
        "shipping_provider_id": "7", "shipping_provider_name": "J&T",
        "tracking_number": f"TN{i}", "cancel_reason": None,
        "rts_time": ct + 3600,
    } for j in range(n_items)]
    return {
        "id": oid, "status": rng.choice(STATUSES),
        "buyer_email": f"b{i}@example.com", "buyer_message": _name(rng, 4),
        "create_time": ct, "update_time": ct + rng.randrange(3600),
        "paid_time": ct + 60, "rts_time": ct + 7200,
        "cancel_order_sla_time": ct + 86400, "collection_due_time": ct + 172800,
        "shipping_due_time": ct + 259200, "rts_sla_time": ct + 86400,
        "tts_sla_time": ct + 345600,
        "recommended_shipping_time": (ct + 43200) * 1000,  # epoch ms
        "fulfillment_type": "FULFILLMENT_BY_SELLER",
        "payment_method_name": rng.choice(["COD", "Card", "Wallet"]),
        "warehouse_id": f"W{rng.randrange(8)}", "user_id": f"U{rng.randrange(10**5)}",
        "request_id": f"R{i}", "shop_id": "SHOP1", "region": "VN",
        "commerce_platform": "TIKTOK_SHOP", "delivery_option_id": "1",
        "delivery_option_name": "Standard", "delivery_type": "HOME_DELIVERY",
        "fulfillment_priority_level": rng.randint(0, 3),
        "has_updated_recipient_address": False, "is_cod": rng.random() < 0.3,
        "is_on_hold_order": False, "is_replacement_order": False,
        "is_sample_order": False, "order_type": "NORMAL",
        "shipping_provider": rng.choice(CARRIERS), "shipping_provider_id": "7",
        "shipping_type": "TIKTOK", "tracking_number": f"TN{i}-{rng.randrange(100)}",
        "is_buyer_request_cancel": False, "cancel_reason": None,
        "split_or_combine_tag": None,
        "payment": {
            "currency": "VND", "original_shipping_fee": _money(rng, 50),
            "original_total_product_price": _money(rng), "platform_discount": "0",
            "seller_discount": _money(rng, 20), "shipping_fee": _money(rng, 50),
            "shipping_fee_cofunded_discount": "0",
            "shipping_fee_platform_discount": "0",
            "shipping_fee_seller_discount": "0", "sub_total": _money(rng),
            "tax": "0", "total_amount": _money(rng, 900),
        },
        "recipient_address": {
            "address_detail": f"{rng.randrange(300)} Le Loi", "address_line1": "L1",
            "address_line2": "L2", "address_line3": "", "address_line4": "",
            "first_name": "An", "first_name_local_script": "An",
            "last_name": "Nguyen", "last_name_local_script": "Nguyen",
            "name": "An Nguyen", "full_address": "Ho Chi Minh City",
            "phone_number": f"+84{rng.randrange(10**9):09d}", "postal_code": "700000",
            "region_code": "VN",
            "district_info": [
                {"address_level": "L0", "address_level_name": "Country",
                 "address_name": "Viet Nam"},
                {"address_level": "L1", "address_level_name": "City",
                 "address_name": "Ho Chi Minh"},
            ],
        },
        "line_items": items,
        "packages": [{"id": f"PK{i}"}] if n_items else [],
    }


def tiktok_rows(order: dict) -> int:
    """Staged rows one order becomes (itemless orders keep one row)."""
    return max(1, len(order["line_items"]))


def pages(records: list[dict], page: int = 100):
    """Yield records in API-sized pages, the shape ``land_jsonl`` takes."""
    for k in range(0, len(records), page):
        yield records[k:k + page]


# ------------------------------------------------------------- windows

GUARDS = ("status", "tracking_number", "shipping_provider")


def change_windows(rng: random.Random, orders: list[dict], n_windows: int,
                   min_size: int, max_size: int) -> list[list[dict]]:
    """A sequence of TikTok change windows over ``orders``. Window sizes
    grow geometrically from ``min_size`` to ``max_size``, the same on
    every seed, so a run's total work does not depend on it; the seed
    picks the orders and their changes. A window mixes new orders, newer
    versions of existing orders, guard-only changes (same
    ``update_time``) and stale re-deliveries; every fifth window replays
    the previous one verbatim. Every window is smaller than the table."""
    n_fresh = sum(1 for w in range(n_windows) if w % 5 != 4)
    sizes = [int(x) for x in np.geomspace(max_size, min_size, n_fresh)]
    if sizes[0] >= len(orders):
        raise ValueError(f"window of {sizes[0]} orders over a table of "
                         f"{len(orders)}")
    latest = {o["id"]: o for o in orders}
    next_id = len(orders)
    windows: list[list[dict]] = []
    for w in range(n_windows):
        if w % 5 == 4:
            windows.append(windows[-1])
            continue
        size = sizes.pop()
        batch: list[dict] = []
        picked = rng.sample(sorted(latest), size)
        for k, oid in enumerate(picked):
            cur = latest[oid]
            kind = k % 4
            if kind == 0:  # a new order
                new = tiktok_order(rng, next_id)
                next_id += 1
                new["update_time"] = T0 + 10**7 + w * 1000 + k % 1000
                latest[new["id"]] = new
                batch.append(new)
            elif kind == 1:  # newer version
                new = dict(cur, update_time=cur["update_time"] + 600,
                           status=rng.choice(STATUSES))
                latest[oid] = new
                batch.append(new)
            elif kind == 2:  # guard-only change, same update_time
                new = dict(cur, tracking_number=f"TN-R{w}-{k}",
                           shipping_provider=rng.choice(CARRIERS))
                latest[oid] = new
                batch.append(new)
            else:  # stale re-delivery: older than what is staged
                batch.append(dict(cur, update_time=cur["update_time"] - 1,
                                  status="STALE"))
        windows.append(batch)
    return windows


# ------------------------------------------------------ registry corpus

def registry_tables(seed: int, scale: int) -> dict[str, pd.DataFrame]:
    """The star schema + corpus tables the query registry reads
    (region nation customer supplier part orders lineitem events
    documents embeddings), with the column types of the reference
    test corpus. ``scale`` = orders; the other tables follow its ratios."""
    r = np.random.default_rng(seed)
    n_cust, n_supp, n_part = max(20, scale // 10), max(10, scale // 150), max(20, scale // 7)
    n_line, n_events, n_docs, n_vecs = scale * 4, scale * 2 // 3, scale // 3, scale // 3
    t = {}
    t["region"] = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype="int32"),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype="int32"),
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype("int32")})
    t["customer"] = pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{k:09d}" for k in range(n_cust)],
        "c_nationkey": r.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": np.round(r.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": r.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                  "HOUSEHOLD", "MACHINERY"], n_cust)})
    t["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{k:09d}" for k in range(n_supp)],
        "s_nationkey": r.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": np.round(r.uniform(-999, 9999, n_supp), 2)})
    t["part"] = pd.DataFrame({
        "p_partkey": np.arange(n_part, dtype="int64"),
        "p_name": [f"{a} widget" for a in r.choice(
            ["cold", "small", "large", "shiny", "green", "dark"], n_part)],
        "p_brand": [f"Brand#{k}" for k in r.integers(1, 30, n_part)],
        "p_type": r.choice(["ECONOMY", "STANDARD", "PROMO", "LARGE"], n_part),
        "p_size": r.integers(1, 50, n_part).astype("int32"),
        "p_retailprice": np.round(900 + np.arange(n_part) * 0.1, 2)})
    day = np.datetime64("1992-01-01")
    odate = day + r.integers(0, 2400, scale).astype("timedelta64[D]")
    t["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(scale, dtype="int64"),
        "o_custkey": r.integers(0, n_cust, scale).astype("int64"),
        "o_orderstatus": r.choice(["F", "O", "P"], scale),
        "o_totalprice": np.round(r.uniform(900, 400000, scale), 2),
        "o_orderdate": odate.astype("datetime64[us]"),
        "o_orderpriority": r.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"], scale)})
    lo = r.integers(0, scale, n_line)
    lo.sort()
    lineno = np.zeros(n_line, dtype="int32")
    for k in range(1, n_line):  # 1-based line number within each order
        lineno[k] = lineno[k - 1] + 1 if lo[k] == lo[k - 1] else 0
    qty = r.integers(1, 51, n_line).astype("float64")
    t["lineitem"] = pd.DataFrame({
        "l_orderkey": lo.astype("int64"),
        "l_partkey": r.integers(0, n_part, n_line).astype("int64"),
        "l_suppkey": r.integers(0, n_supp, n_line).astype("int64"),
        "l_linenumber": lineno + 1,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * r.uniform(900, 2100, n_line), 2),
        "l_discount": np.round(r.integers(0, 11, n_line) / 100, 2),
        "l_tax": np.round(r.integers(0, 9, n_line) / 100, 2),
        "l_returnflag": r.choice(["A", "N", "R"], n_line),
        "l_linestatus": r.choice(["F", "O"], n_line),
        "l_shipdate": (odate[lo] + r.integers(1, 122, n_line).astype(
            "timedelta64[D]")).astype("datetime64[us]")})
    ev_ts = (np.datetime64("2024-01-01T00:00:00", "us")
             + np.sort(r.integers(0, 30 * 86400 * 10**6, n_events)).astype(
                 "timedelta64[us]"))
    t["events"] = pd.DataFrame({
        "event_id": np.arange(n_events, dtype="int64"),
        "ts": ev_ts,
        "user_id": r.integers(0, max(10, n_cust // 5), n_events).astype("int64"),
        "event_type": r.choice(["view", "click", "add_to_cart", "purchase",
                                "signup", "error"], n_events),
        "value": np.round(r.uniform(0, 500, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_events)]})
    t["documents"] = _documents(r, n_docs)
    t["embeddings"] = _embeddings(r, n_vecs)
    return t


_VOCAB = ["the", "a", "data", "spark", "table", "scan", "join", "merge", "key",
          "order", "sort", "hash", "window", "stream", "batch", "query", "row",
          "column", "filter", "group", "agg", "line", "part", "customer",
          "value", "vector", "dup", "fast", "slow", "small", "big"]


def _documents(r: np.random.Generator, n: int) -> pd.DataFrame:
    """Bag-of-words documents; every 10th seeds a cluster of near-copies
    (a few words changed) so the dedup and near-dup paths find work."""
    texts: list[str] = []
    for k in range(n):
        if k % 10 and texts and k % 10 < 4:
            words = texts[k - k % 10].split()
            for p in r.integers(0, len(words), 2):
                words[p] = _VOCAB[r.integers(len(_VOCAB))]
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(r.choice(_VOCAB, r.integers(15, 90))))
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype="int64"), "text": texts,
        "lang": r.choice(["en", "es", "de", "fr", "zh"], n),
        "source": [f"src{k}" for k in r.integers(0, 4, n)],
        "n_chars": np.array([len(x) for x in texts], dtype="int64")})


def _embeddings(r: np.random.Generator, n: int) -> pd.DataFrame:
    """64-d unit-scale vectors around 10 label centroids, every 10th row
    followed by a near-duplicate."""
    cent = r.normal(0, 0.15, (10, 64))
    labels = r.integers(0, 10, n)
    vecs = cent[labels] + r.normal(0, 0.08, (n, 64))
    for k in range(1, n):
        if k % 10 == 1:
            vecs[k] = vecs[k - 1] + r.normal(0, 0.002, 64)
            labels[k] = labels[k - 1]
    return pd.DataFrame({
        "vec_id": np.arange(n, dtype="int64"),
        "embedding": [v.astype("float32") for v in vecs],
        "label": labels.astype("int32")})
