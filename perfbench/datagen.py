"""Seeded input generators for the benchmark.

``write_tables`` writes the ten registry tables (TPC-H-shaped star schema
plus ``events``, ``documents`` and ``embeddings``) with the column names,
types and value domains the registry queries read. ``etl_sources`` builds
dirty Bsale-shaped API records for the ETL pipeline and, from the same dirt
strides, the valid/invalid counts each entity sync must report.

Everything is numpy + pyarrow, so generation needs no Spark session.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: the registry data is fixed (goldens are recorded against it); the
#: workload seed only reorders the keys
TABLE_SEED = 20261017

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["blue", "cold", "hot", "large", "old", "red", "small", "new"]
_NOUN = ["anvil", "bolt", "plate", "ring", "rod", "widget", "gear", "pipe"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_US_PER_DAY = 86_400_000_000


def _ts(base: dt.date, offsets_us: np.ndarray) -> pa.Array:
    start = int(
        (dt.datetime(base.year, base.month, base.day) - dt.datetime(1970, 1, 1))
        / dt.timedelta(microseconds=1)
    )
    return pa.array(start + offsets_us.astype(np.int64), pa.timestamp("us"))


def _money(rng: np.random.RandomState, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict[str, pa.Array]) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def write_tables(out_dir: str, sf: float) -> dict[str, int]:
    """Write the ten registry tables at scale ``sf`` (lineitem ≈ 6M·sf
    rows) into ``out_dir``; returns the row count per table."""
    rng = np.random.RandomState(TABLE_SEED)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = 4 * n_ord, int(1_000_000 * sf)
    # the corpus and vector tables grow from 500 rows, as the registry's
    # test data does (5,000 documents and 2,000 vectors at sf 0.1)
    n_doc, n_vec = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": pa.array(_REGIONS),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.randint(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(rng.choice(_SEGMENTS, n_cust)),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.randint(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    })
    names = [f"{a} {b}" for a in _ADJ for b in _NOUN]
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array(rng.choice(names, n_part)),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.randint(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(_PART_TYPES, n_part)),
        "p_size": pa.array(rng.randint(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)),
    })
    order_day = rng.randint(0, 2404, n_ord)
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.randint(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": pa.array(_money(rng, 1000, 500_000, n_ord)),
        "o_orderdate": _ts(dt.date(1995, 1, 1), order_day * _US_PER_DAY),
        "o_orderpriority": pa.array(rng.choice(_PRIORITIES, n_ord)),
    })
    l_order = rng.randint(0, n_ord, n_line)
    ship_day = order_day[l_order] + rng.randint(1, 96, n_line)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(rng.randint(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.randint(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.randint(1, 8, n_line), pa.int32()),
        "l_quantity": pa.array(rng.randint(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900, 105_000, n_line)),
        "l_discount": pa.array(rng.randint(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.randint(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_line)),
        "l_shipdate": _ts(dt.date(1995, 1, 1), ship_day * _US_PER_DAY),
    })
    ev_us = np.sort(rng.randint(0, 30 * _US_PER_DAY, n_ev))
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(dt.date(2024, 1, 1), ev_us),
        "user_id": pa.array(rng.randint(0, 150, n_ev), pa.int64()),
        "event_type": pa.array(rng.choice(_EVENT_TYPES, n_ev)),
        "value": pa.array(np.minimum(np.round(rng.exponential(50, n_ev) + 0.01, 2), 490.02)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.randint(0, 100, n_ev)]),
    })
    texts: list[str] = []
    for i in range(n_doc):
        if i > 10 and rng.rand() < 0.05:
            # near-duplicate: an earlier document plus one marker token
            texts.append(texts[rng.randint(0, i)] + " dup")
        else:
            texts.append(" ".join(rng.choice(_WORDS, rng.randint(10, 100))))
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(_LANGS, n_doc, p=_LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    centroids = rng.normal(size=(10, 64))
    labels = rng.randint(0, 10, n_vec)
    vecs = 0.3 * centroids[labels] + rng.normal(size=(n_vec, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return {
        "region": 5, "nation": 25, "customer": n_cust, "supplier": n_supp,
        "part": n_part, "orders": n_ord, "lineitem": n_line, "events": n_ev,
        "documents": n_doc, "embeddings": n_vec,
    }


# -- ETL sources -------------------------------------------------------------

#: dirt strides per rule (the shapes of tools/pipeline_bench.py); the seed
#: picks each rule's residue, so every seed dirties a different key set
_STRIDES = {
    "client_null_id": 53, "client_sentinel_name": 41, "client_bad_rut": 37,
    "client_bad_email": 11, "product_sentinel_name": 43,
    "product_missing_sku": 31, "product_inactive_v0": 5,
    "product_no_price": 19, "product_zero_price": 47,
    "doc_null_emission": 31, "doc_negative_net": 29, "doc_dangling_client": 13,
    "line_zero_qty": 23,
}
_DOC_EPOCH = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
#: the documents window re-synced incrementally, in days before the last
#: emission day: fixed in data terms, so it does not drift with the date
WINDOW_DAYS = 30


def etl_sources(seed: int, n_clients: int, n_products: int, n_docs: int, n_days: int):
    """Dirty Bsale-shaped API records, plus what a correct pipeline must
    report for them.

    Returns ``(records, expected)``: ``records`` maps each endpoint
    (clients, products, price_list, costs, documents) to a list of dicts;
    ``expected`` holds the (valid, invalid) count per warehouse entity for
    a full sync, the same for the documents window that starts
    ``WINDOW_DAYS`` before the last emission day, and that window's start
    date.
    """
    rng = np.random.RandomState(seed)
    res = {rule: int(rng.randint(stride)) for rule, stride in _STRIDES.items()}

    def dirty(rule: str, k: int) -> bool:
        return k % _STRIDES[rule] == res[rule]

    clients, bad_clients = [], 0
    for k in range(n_clients):
        bad = dirty("client_null_id", k) or dirty("client_sentinel_name", k) or dirty("client_bad_rut", k)
        bad_clients += bad
        clients.append({
            "id": None if dirty("client_null_id", k) else k,
            "firstName": "  " if dirty("client_sentinel_name", k) else "Customer",
            "lastName": _SEGMENTS[k % 5],
            "code": "BADRUT" if dirty("client_bad_rut", k) else f"{10_000_000 + k}-{k % 10}",
            "email": "not-an-email" if dirty("client_bad_email", k) else f"u{k}@example.com",
            "phone": f"+56 9 {k}",
            "address": f"Calle {k % 999}",
            "creationDate": 1_700_000_000 + k,
        })

    products, price_list, costs, bad_products = [], [], [], 0
    names = [f"{a} {b}" for a in _ADJ for b in _NOUN]
    for p in range(n_products):
        v0_active = not dirty("product_inactive_v0", p)
        v0_sku = None if dirty("product_missing_sku", p) else f"SKU{p * 10}"
        bad = (
            dirty("product_sentinel_name", p) or dirty("product_no_price", p)
            or dirty("product_zero_price", p) or (v0_active and v0_sku is None)
        )
        bad_products += bad
        variant = {"barCode": None, "track": p % 2 == 0}
        products.append({
            "product_order": p, "id": p,
            "name": "null" if dirty("product_sentinel_name", p) else names[p % len(names)],
            "description": _PART_TYPES[p % 6],
            "creationDate": 1_700_000_000 + p,
            "variants": {"items": [
                dict(variant, id=p * 10, code=v0_sku, state=0 if v0_active else 1),
                dict(variant, id=p * 10 + 1, code=f"SKU{p * 10 + 1}", state=0),
            ]},
        })
        if not dirty("product_no_price", p):
            price = 0.0 if dirty("product_zero_price", p) else float(1000 + p % 9000)
            price_list += [{"variantid": p * 10 + j, "variantValue": price} for j in (0, 1)]
        if p % 2 == 0:
            avg = float(p % 5000 + 100)
            costs.append({
                "variant_id": p * 10, "averageCost": avg,
                "history": [{"cost": 0.0 if p % 3 == 0 else avg}],
            })

    days = np.sort(rng.randint(0, n_days, n_docs))
    n_lines = rng.randint(0, 8, n_docs)
    documents, doc_rows = [], []
    for o in range(n_docs):
        net = round(float(rng.uniform(1000, 500_000)), 2)
        null_emit, neg = dirty("doc_null_emission", o), dirty("doc_negative_net", o)
        emitted = _DOC_EPOCH + dt.timedelta(days=int(days[o]), seconds=o % 3600)
        items, bad_lines = [], 0
        for rn in range(1, n_lines[o] + 1):
            qty = float(rng.randint(1, 51))
            unit = round(float(rng.uniform(10, 2000)), 2)
            zero = (o + rn) % _STRIDES["line_zero_qty"] == res["line_zero_qty"]
            bad_lines += zero
            items.append({
                "id": o * 1000 + rn,
                "variant": {"id": int(rng.randint(0, n_products)) * 10},
                "quantity": 0.0 if zero else qty,
                "netUnitValue": unit,
                "discount": float(rng.randint(0, 11)),
                "netTotal": round(qty * unit, 2),
            })
        client = int(rng.randint(0, n_clients)) + dirty("doc_dangling_client", o) * n_clients
        documents.append({
            "id": o,
            "emissionDate": None if null_emit else int(emitted.timestamp()),
            "number": o,
            "client": {"id": client},
            "documentType": {"id": 5},
            "netAmount": -net if neg else net,
            "taxAmount": round(net * 0.19, 2),
            "totalAmount": round(net * 1.19, 2),
            "details": {"items": items},
        })
        doc_rows.append((None if null_emit else int(days[o]), neg, len(items), bad_lines))

    last_day = max(d for d, *_ in doc_rows if d is not None)
    window_day = last_day - WINDOW_DAYS

    def doc_counts(rows):
        ok = [r for r in rows if r[0] is not None and not r[1]]
        lines_ok = sum(r[2] - r[3] for r in ok)
        lines_bad = sum(r[3] for r in ok)
        return (len(ok), len(rows) - len(ok)), (lines_ok, lines_bad)

    full_docs, full_lines = doc_counts(doc_rows)
    win_docs, win_lines = doc_counts([r for r in doc_rows if r[0] is not None and r[0] >= window_day])
    expected = {
        "full": {
            "cliente": (n_clients - bad_clients, bad_clients),
            "producto": (n_products - bad_products, bad_products),
            "documento_venta": full_docs,
            "detalle_documento": full_lines,
        },
        "window": {"documento_venta": win_docs, "detalle_documento": win_lines},
        "window_start": (_DOC_EPOCH + dt.timedelta(days=window_day)).strftime("%Y-%m-%d"),
    }
    records = {
        "clients": clients, "products": products, "price_list": price_list,
        "costs": costs, "documents": documents,
    }
    return records, expected
