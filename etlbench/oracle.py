"""Engine-independent output checks, run with DuckDB outside the timed
window.

- ref_etl: SQL written here, equivalent to graft.transforms.ReferenceTransforms,
  over the same generated CSV.
- graph_iter: the engine's registered oracle SQL (SparkEntry.oracleSql,
  written by the harness to oracle.sql) over the generated parquet.
- ingest_drops: one row per distinct text; the winner is the smallest
  doc_id within the earliest drop that holds the text, the rule of
  IncrementalIngest's own oracle generalised to many drops.

Expected results depend only on the inputs and the oracle text, so
they are cached next to the inputs.
"""
import datetime as dt
import glob
import hashlib
import json
import math
import os
import re

import duckdb

_MONTHS = ["jan", "feb", "mar", "apr", "may", "jun",
           "jul", "aug", "sep", "oct", "nov", "dec"]

_REF_COLUMNS = {
    "orders": {"order_id": "INTEGER", "customer_id": "INTEGER", "order_date": "DATE",
               "product_id": "VARCHAR", "unit_price": "INTEGER", "quantity": "INTEGER",
               "amount": "INTEGER"},
    "shipments_deliveries": {"shipment_id": "INTEGER", "order_id": "INTEGER",
                             "shipment_date": "DATE", "delivery_date": "DATE"},
    "reviews": {"review": "INTEGER", "product_id": "INTEGER"},
    "dim_products": {"product_id": "INTEGER", "product_category": "VARCHAR",
                     "product_name": "VARCHAR"},
    "dim_dates": {"calendar_dt": "DATE", "year_num": "INTEGER",
                  "month_of_the_year_num": "INTEGER", "day_of_the_month_num": "INTEGER",
                  "day_of_the_week_num": "INTEGER", "working_day": "BOOLEAN"},
}

_INGEST = "DATE '2022-09-05' AS ingestion_date"
_HOLIDAY = "(working_day = false AND day_of_the_week_num IN (1, 2, 3, 4, 5))"

REF_SQL = {
    "agg_public_holiday": f"""
        SELECT {_INGEST}, """ + ", ".join(
        f"sum(CASE WHEN month_of_the_year_num = {i + 1} THEN 1 ELSE 0 END)::BIGINT "
        f"AS tt_order_hol_{m}" for i, m in enumerate(_MONTHS)) + f"""
        FROM orders o JOIN dim_dates d ON o.order_date = d.calendar_dt
        WHERE {_HOLIDAY}""",
    "agg_shipments": f"""
        SELECT {_INGEST},
          sum(CASE WHEN (s.shipment_date - o.order_date) >= 6 AND s.delivery_date IS NULL
              THEN 1 ELSE 0 END)::BIGINT AS tt_late_shipments,
          sum(CASE WHEN s.delivery_date IS NULL AND s.shipment_date IS NULL
                    AND (DATE '2022-09-05' - o.order_date) = 15
              THEN 1 ELSE 0 END)::BIGINT AS tt_undelivered_items
        FROM shipments_deliveries s JOIN orders o USING (order_id)""",
    "best_performing_product": f"""
        WITH cte1 AS (
          SELECT a.review, a.product_id, b.product_name, c.order_id, c.order_date,
                 d.day_of_the_week_num, d.working_day, e.shipment_date, e.delivery_date
          FROM reviews a
          JOIN dim_products b ON a.product_id = b.product_id
          JOIN orders c ON b.product_id = CAST(c.product_id AS INTEGER)
          JOIN dim_dates d ON c.order_date = d.calendar_dt
          JOIN shipments_deliveries e ON c.order_id = e.order_id),
        cte2 AS (
          SELECT product_id, product_name, avg(review) AS average,
                 sum(review)::BIGINT AS tt_review_points
          FROM cte1 GROUP BY product_id, product_name
          ORDER BY average DESC, product_id ASC LIMIT 1),
        best AS (SELECT * FROM cte1 WHERE product_id = (SELECT product_id FROM cte2)),
        most AS (
          SELECT order_date AS most_ordered_day, {_HOLIDAY} AS is_public_holiday,
                 count(order_id) AS total
          FROM best GROUP BY order_date, {_HOLIDAY}
          ORDER BY total DESC, order_date ASC LIMIT 1),
        stars AS (SELECT review, count(*) AS cnt FROM best GROUP BY review),
        star_pcts AS (
          SELECT """ + ", ".join(
        f"sum(CASE WHEN review = {s} THEN cnt ELSE 0 END)::DOUBLE * 100.0::DOUBLE "
        f"/ (SELECT sum(cnt) FROM stars) AS pct_{n}_star_review"
        for s, n in enumerate(["one", "two", "three", "four", "five"], 1)) + f"""
          FROM stars),
        ship AS (
          SELECT sum(CASE WHEN (shipment_date - order_date) <= 6 AND delivery_date IS NOT NULL
                     THEN 1 ELSE 0 END)::DOUBLE * 100.0::DOUBLE / count(*) AS pct_early_shipment,
                 sum(CASE WHEN (shipment_date - order_date) >= 6 AND delivery_date IS NULL
                     THEN 1 ELSE 0 END)::DOUBLE * 100.0::DOUBLE / count(*) AS pct_late_shipment
          FROM best)
        SELECT {_INGEST}, cte2.product_name, most.most_ordered_day, most.is_public_holiday,
               cte2.tt_review_points, pct_one_star_review, pct_two_star_review,
               pct_three_star_review, pct_four_star_review, pct_five_star_review,
               pct_early_shipment, pct_late_shipment
        FROM cte2, most, star_pcts, ship""",
}

INGEST_EXPECTED = """
    WITH d AS (SELECT * FROM drops WHERE drop_no < {n}),
    first AS (SELECT coalesce(text, '') AS tkey, min(drop_no) AS k FROM d
              GROUP BY coalesce(text, '')),
    win AS (SELECT f.tkey, min(d.doc_id) AS wid FROM d JOIN first f
              ON coalesce(d.text, '') = f.tkey AND d.drop_no = f.k GROUP BY f.tkey)
    SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars
    FROM d JOIN win w ON coalesce(d.text, '') = w.tkey AND d.doc_id = w.wid"""


def _rows(con, sql):
    cur = con.execute(sql)
    cols = [c[0] for c in cur.description]
    return cols, [list(r) for r in cur.fetchall()]


def _parquet(con, name, path):
    con.execute(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM "
                f"read_parquet('{path}')")


def expected(workload, in_dir, oracle_sql=None, n_drops=None):
    """Expected rows for one rep: {table: (columns, rows)}."""
    if workload == "ingest_drops":
        con = duckdb.connect()
        _parquet(con, "drops", os.path.join(in_dir, "drops.parquet"))
        return {"dest": _rows(con, INGEST_EXPECTED.format(n=int(n_drops)))}
    key = hashlib.sha256((oracle_sql or "").encode()).hexdigest()[:16]
    cache = os.path.join(in_dir, f"expected-{key}.json")
    if os.path.exists(cache):
        with open(cache) as f:
            return {t: (c, rows) for t, (c, rows) in json.load(f).items()}
    con = duckdb.connect()
    if workload == "ref_etl":
        for t, cols in _REF_COLUMNS.items():
            spec = "{" + ", ".join(f"'{c}': '{ty}'" for c, ty in cols.items()) + "}"
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_csv("
                        f"'{os.path.join(in_dir, t + '.csv')}', header=true, "
                        f"columns={spec}, dateformat='%Y-%m-%d')")
        exp = {t: _rows(con, sql) for t, sql in REF_SQL.items()}
    else:
        _parquet(con, "lineitem", os.path.join(in_dir, "lineitem.parquet"))
        # every CTE materialised once: the unrolled rounds reference
        # each other, and inlining them re-evaluates earlier rounds
        # many times over (same result, about 30x the time)
        exp = {"out": _rows(con, re.sub(r"\b(\w+) AS \(", r"\1 AS MATERIALIZED (",
                                        oracle_sql))}
    tmp = cache + ".tmp"
    with open(tmp, "w") as f:
        json.dump({t: (c, [_encode(r) for r in rows]) for t, (c, rows) in exp.items()}, f)
    os.replace(tmp, cache)
    return exp


def actual(workload, out_dir, columns):
    """The engine's committed output of one rep, in `columns` order per table."""
    con = duckdb.connect()
    if workload == "ref_etl":
        res = {}
        for t, (cols, _) in columns.items():
            files = glob.glob(os.path.join(out_dir, t, "*.csv"))
            if not files:
                raise AssertionError(f"no CSV written for {t}")
            res[t] = _rows(con, f"SELECT {', '.join(cols)} FROM read_csv({files!r}, "
                                f"header=true, all_varchar=true)")
        return res
    _parquet(con, "out", os.path.join(out_dir, "*.parquet"))
    table = "dest" if workload == "ingest_drops" else "out"
    return {table: _rows(con, f"SELECT {', '.join(columns[table][0])} FROM out")}


def mismatch(exp, act):
    """None when every table matches, else a one-line reason. Rows are
    compared as multisets; doubles to 1e-9 relative."""
    for t, (cols, rows) in exp.items():
        if t not in act:
            return f"{t}: missing"
        acols, arows = act[t]
        if [c.lower() for c in acols] != [c.lower() for c in cols]:
            return f"{t}: columns {acols} != {cols}"
        if len(arows) != len(rows):
            return f"{t}: {len(arows)} rows != {len(rows)} expected"
        key = lambda r: [_sort_key(v) for v in r]
        for a, e in zip(sorted(arows, key=key), sorted(rows, key=key)):
            if not all(_same(x, y) for x, y in zip(a, e)):
                return f"{t}: row {a} != expected {e}"
    return None


def _sort_key(v):
    # CSV output is read back as text: order numbers by value either way
    if v is None:
        return (0, 0.0, "")
    if isinstance(v, bool):
        return (2, 0.0, str(v).lower())
    try:
        return (1, float(v), "")
    except (TypeError, ValueError):
        return (2, 0.0, str(v))


def _same(a, e):
    if a is None or e is None:
        return a is None and e is None
    if isinstance(e, bool):
        return str(a).lower() == str(e).lower()
    if isinstance(e, float):
        a = float(a)
        if math.isnan(a) or math.isnan(e):
            return math.isnan(a) and math.isnan(e)
        return abs(a - e) <= 1e-9 * max(1.0, abs(a), abs(e))
    if isinstance(e, int):
        return int(a) == e
    return str(a) == str(e)


def _encode(row):
    return [v.isoformat() if isinstance(v, (dt.date, dt.datetime)) else v for v in row]
