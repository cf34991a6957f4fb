"""Independent answers the benchmark checks the engine against.

* ``lww_state``: a DuckDB last-writer-wins replay of the change log up to
  a sequence number, with a byte-exact SQL replica of the engine's
  html→text extraction for the synthetic corpus.
* ``query_tables`` / ``query_oracle``: the headline queries' input
  tables, generated from the seed, and the registry's own oracle SQL run
  on them by DuckDB.
"""

from __future__ import annotations

import math
import os

import duckdb

_TEXT = r"""
CASE WHEN html IS NULL THEN NULL ELSE
  trim(regexp_replace(replace(regexp_replace(
    decode(html),
    '<script[^>]*>.*?</script\s*>|<!--.*?-->|<[^>]*>', ' ', 'gs'),
    '&amp;', '&'), '\s+', ' ', 'g')) END
"""


def lww_state(log_path: str, hwm: int) -> dict[str, tuple[int, str]]:
    """url → (seq, text) of every live key after applying seq ≤ hwm."""
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        rows = con.execute(
            f"""
            WITH w AS (
              SELECT url, seq, op, html,
                     row_number() OVER (PARTITION BY url
                                        ORDER BY warc_ts DESC, seq DESC) AS rn
              FROM read_parquet('{log_path}/*.parquet') WHERE seq <= {int(hwm)})
            SELECT url, seq, {_TEXT} AS text FROM w
            WHERE rn = 1 AND op <> 'delete'
            """
        ).fetchall()
    finally:
        con.close()
    return {u: (s, t) for u, s, t in rows}


def change_counts(before: dict, after: dict) -> dict[str, int]:
    """Row images a change feed between two states must hold."""
    ins = sum(1 for k in after if k not in before)
    dels = sum(1 for k in before if k not in after)
    upd = sum(1 for k in after if k in before and after[k] != before[k])
    out = {"insert": ins, "delete": dels,
           "update_preimage": upd, "update_postimage": upd}
    return {k: v for k, v in out.items() if v}


# ------------------------------------------------------------------ queries

HEADLINE = [
    "lww_latest_event",
    "lww_latest_event_salted",
    "pricing_summary",
    "revenue_by_nation",
    "range_join_1day",
    "semi_join_active_customers",
]


def query_tables(out_dir: str, seed: int, scale: float) -> None:
    """TPC-H-shaped tables plus an ``events`` stream, in the column
    layout the registry's queries read. ``scale`` = 1.0 would be
    6M lineitems; the same (seed, scale) gives the same bytes."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    n_cust, n_supp = max(int(150_000 * scale), 10), max(int(10_000 * scale), 5)
    n_ord, n_li = max(int(1_500_000 * scale), 20), max(int(6_000_000 * scale), 50)
    n_ev, n_users = max(int(1_000_000 * scale), 50), max(int(10_000 * scale), 5)
    os.makedirs(out_dir, exist_ok=True)

    def put(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), f"{out_dir}/{name}.parquet")

    def days(lo: str, n_days: int, n: int):
        base = np.datetime64(lo, "D")
        return (base + rng.integers(0, n_days, n)).astype("datetime64[us]")

    put("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    put("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    put("customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust),
    })
    put("supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2),
    })
    # two thirds of the customers place orders, so the semi join filters
    put("orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, max(n_cust * 2 // 3, 1), n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_ord), 2),
        "o_orderdate": days("1992-01-01", 2400, n_ord),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM"], n_ord),
    })
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    put("lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, max(n_li // 30, 1), n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2000, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": days("1992-01-01", 2600, n_li),
    })
    start = np.datetime64("2024-01-01T00:00:00", "us")
    put("events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": start + np.sort(rng.integers(0, 60 * 86_400_000_000, n_ev)),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": rng.choice(["click", "view", "purchase", "error"], n_ev),
        "value": np.round(rng.uniform(0, 100, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })


def _norm(v):
    if isinstance(v, float):
        return round(v, 2)
    if hasattr(v, "isoformat"):
        return v.isoformat()[:10]
    return v


def results_match(got: list[tuple], want: list[tuple]) -> bool:
    """Same rows in any order; floats equal to the cent (the queries
    round their aggregates), dates compared by day."""
    def canon(rows):
        return sorted((tuple(map(_norm, r)) for r in rows), key=repr)

    if len(got) != len(want):
        return False
    for g, w in zip(canon(got), canon(want)):
        for a, b in zip(g, w):
            if isinstance(a, float) and isinstance(b, float):
                if not math.isclose(a, b, rel_tol=1e-9, abs_tol=0.011):
                    return False
            elif a != b:
                return False
    return True


def query_oracle(data_dir: str, sql_by_name: dict[str, str]) -> dict[str, list[tuple]]:
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        for t in ("region", "nation", "customer", "supplier", "orders",
                  "lineitem", "events"):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
            )
        return {n: con.execute(sql_by_name[n]).fetchall() for n in HEADLINE}
    finally:
        con.close()

