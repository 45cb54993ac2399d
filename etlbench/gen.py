"""Seeded input generator for the benchmark's workloads.

Every input is a pure function of (workload, seed, VERSION): the same
seed writes byte-identical files. Inputs are synthesised here rather
than copied from a fixture directory, so the benchmark reads nothing
outside its checkout. Their shapes follow the engine's test data
(TPC-H-style `lineitem`, the `documents` corpus) and the reference
project's CSV data model (`graft.catalog.ReferenceSchemas`).

Sizes are fixed per workload (SIZES); each run's detail line and
etlbench/README.md record the row counts, bytes and repeat shares.
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Bump when any generated byte changes, so cached inputs are rebuilt.
VERSION = 1

SIZES = {
    "ref_etl": {"orders": 30_000, "reviews": 5_000, "products": 1_000},
    "graph_iter": {"orders": 8_000, "parts": 2_000, "max_lines": 7},
    "ingest_drops": {"drops": 64, "docs_per_drop": 100, "repeat_share": 0.3,
                     "in_drop_dup_share": 0.05},
}

_WORDS = ("batch part spark line column order small sort fast value scan hash "
          "slow group agg filter query big key window row table stream merge "
          "data join vector customer lake file page index cache plan node "
          "shard queue log").split()
_LANGS = ["en", "de", "fr", "es", "zh"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def generate(workload, seed, out_dir):
    """Writes `workload`'s inputs for `seed` under `out_dir` and returns
    a dict of row counts, bytes and duplicate shares."""
    rng = np.random.default_rng([seed, VERSION, sorted(SIZES).index(workload)])
    os.makedirs(out_dir, exist_ok=True)
    make = {"ref_etl": _ref_etl, "graph_iter": _graph_iter, "ingest_drops": _ingest_drops}
    stats = make[workload](rng, out_dir, SIZES[workload])
    stats["bytes"] = sum(os.path.getsize(os.path.join(d, f))
                         for d, _, fs in os.walk(out_dir) for f in fs)
    return stats


def _write_csv(path, columns):
    """Headered CSV; None is written as an empty field (CSV null)."""
    names = list(columns)
    cols = [columns[n] for n in names]
    with open(path, "w") as f:
        f.write(",".join(names) + "\n")
        for row in zip(*cols):
            f.write(",".join("" if v is None else str(v) for v in row) + "\n")


def _dates(start, days):
    base = np.datetime64(start)
    return [str(base + int(d)) for d in days]


def _ref_etl(rng, out, z):
    n, p = z["orders"], z["products"]
    # order ids are distinct and scattered, like l_orderkey * 8 + l_linenumber
    order_id = rng.permutation(n).astype(np.int64) * 8 + rng.integers(1, 8, n)
    # 2021-01-01 .. 2022-09-05, the reference's ingestion date
    span = (dt.date(2022, 9, 5) - dt.date(2021, 1, 1)).days + 1
    od = rng.integers(0, span, n)
    price = rng.integers(1, 1000, n)
    qty = rng.integers(1, 10, n)
    _write_csv(os.path.join(out, "orders.csv"), {
        "order_id": order_id, "customer_id": rng.integers(1, 15_000, n),
        "order_date": _dates("2021-01-01", od),
        "product_id": rng.integers(1, p + 1, n), "unit_price": price,
        "quantity": qty, "amount": price * qty})

    ship_delay = rng.integers(0, 15, n)
    shipped = rng.random(n) >= 0.1
    delivered = shipped & (rng.random(n) >= 0.2)
    deliv_delay = ship_delay + rng.integers(1, 10, n)
    ship_dates = _dates("2021-01-01", od + ship_delay)
    deliv_dates = _dates("2021-01-01", od + deliv_delay)
    perm = rng.permutation(n)
    _write_csv(os.path.join(out, "shipments_deliveries.csv"), {
        "shipment_id": np.arange(1, n + 1),
        "order_id": order_id[perm],
        "shipment_date": [ship_dates[i] if shipped[i] else None for i in perm],
        "delivery_date": [deliv_dates[i] if delivered[i] else None for i in perm]})

    r = z["reviews"]
    _write_csv(os.path.join(out, "reviews.csv"), {
        "review": rng.integers(1, 6, r), "product_id": rng.integers(1, p + 1, r)})
    cats = ["toys", "books", "garden", "kitchen", "sports", "music"]
    _write_csv(os.path.join(out, "dim_products.csv"), {
        "product_id": np.arange(1, p + 1),
        "product_category": [cats[i % len(cats)] for i in range(p)],
        "product_name": [f"product_{i:05d}" for i in range(1, p + 1)]})

    days = [dt.date(2020, 1, 1) + dt.timedelta(d) for d in range(366 + 365 * 3)]
    holidays = {(1, 1), (4, 15), (5, 1), (7, 4), (10, 1), (12, 25), (12, 26)}
    _write_csv(os.path.join(out, "dim_dates.csv"), {
        "calendar_dt": [d.isoformat() for d in days],
        "year_num": [d.year for d in days],
        "month_of_the_year_num": [d.month for d in days],
        "day_of_the_month_num": [d.day for d in days],
        "day_of_the_week_num": [d.isoweekday() for d in days],
        "working_day": ["false" if d.isoweekday() > 5 or (d.month, d.day) in holidays
                        else "true" for d in days]})
    return {"rows": {"orders": n, "shipments_deliveries": n, "reviews": r,
                     "dim_products": p, "dim_dates": len(days)}}


def _text(rng, n_words):
    return " ".join(rng.choice(_WORDS, n_words))


def _corpus(rng, n, exact_share):
    """`n` docs: fresh texts, then exact copies of some of them."""
    n_exact = int(n * exact_share)
    texts = [_text(rng, int(rng.integers(10, 80))) for _ in range(n - n_exact)]
    texts += [texts[int(i)] for i in rng.integers(0, len(texts), n_exact)]
    order = rng.permutation(n)
    return [texts[i] for i in order]


def _docs_table(rng, doc_ids, texts):
    return pa.table({
        "doc_id": pa.array(doc_ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(_LANGS, len(texts), p=_LANG_P).tolist(), pa.string()),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 8, len(texts))], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def _graph_iter(rng, out, z):
    n = z["orders"]
    lines = rng.integers(1, z["max_lines"] + 1, n)
    okey = np.repeat(np.arange(1, n + 1, dtype=np.int64) * 4, lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    pkey = rng.integers(1, z["parts"] + 1, len(okey)).astype(np.int64)
    pq.write_table(pa.table({"l_orderkey": okey, "l_partkey": pkey,
                             "l_linenumber": lnum,
                             "l_quantity": rng.integers(1, 51, len(okey)).astype(np.float64)}),
                   os.path.join(out, "lineitem.parquet"))
    return {"rows": {"lineitem": int(len(okey))}}


def _ingest_drops(rng, out, z):
    d, m = z["drops"], z["docs_per_drop"]
    n = d * m
    # doc ids are scattered over the drops, so a text repeated in a
    # later drop may carry a smaller id than its first occurrence:
    # the winner is the smallest id within the earliest drop
    doc_ids = rng.permutation(n).astype(np.int64)
    texts, drop_no = [], []
    for k in range(d):
        fresh = _corpus(rng, m, z["in_drop_dup_share"])
        if k:
            rep = rng.random(m) < z["repeat_share"]
            for i in np.flatnonzero(rep):
                fresh[i] = texts[int(rng.integers(0, len(texts)))]
        texts += fresh
        drop_no += [k] * m
    table = _docs_table(rng, doc_ids, texts)
    pq.write_table(table.append_column("drop_no", pa.array(drop_no, pa.int32())),
                   os.path.join(out, "drops.parquet"))
    pq.write_table(table.slice(0, 0), os.path.join(out, "documents.parquet"))
    os.makedirs(os.path.join(out, "drops"), exist_ok=True)
    rows = table.to_pylist()
    for k in range(d):
        with open(os.path.join(out, "drops", f"drop_{k:04d}.json"), "w") as f:
            for row in rows[k * m:(k + 1) * m]:
                f.write(json.dumps(row) + "\n")
    return {"rows": {"drops": d, "docs_per_drop": m},
            "repeat_share": z["repeat_share"], "in_drop_dup_share": z["in_drop_dup_share"]}
