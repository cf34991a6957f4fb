#!/usr/bin/env python
"""Local mirror of the driver's correctness gate.

Runs each ``__spark_entry__.queries()[name]`` on Spark and the matching
``oracle_sql()[name]`` on DuckDB over the same parquet tables, then
compares row count, column names, and order-insensitive values
(column-name-sorted, row-sorted, floats rounded).

Usage: python tools/check_oracle.py [pattern ...] [--sf=DIR]

Each pattern is a query name or a shell-style glob over the registered
names (``'cdc_*'``); a pattern that matches no registered query counts
as a failure, so a typo cannot pass as "0/0 ok".
"""

from __future__ import annotations

import fnmatch
import math
import sys
from pathlib import Path

# The checkout this file lives in, so a copy of the checker tests its own tree.
sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 6)
    if isinstance(v, (list, tuple)):
        return tuple(norm_cell(x) for x in v)
    if isinstance(v, bytes):
        return v.hex()
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def df_to_sorted(rows, cols):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in idx) for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return [cols[i] for i in idx], out


def main():
    import duckdb

    import __spark_entry__ as entrymod
    from clinvar_ingest_spark.session import get_spark

    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = "/root/testdata/sf0.01"
    for a in sys.argv[1:]:
        if a.startswith("--sf="):
            sf_dir = a.split("=", 1)[1]

    spark = get_spark("oracle-check", master="local[8]", shuffle_partitions=16)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    names: list[str] = []
    unmatched = []
    for pat in args or ["*"]:
        hits = [n for n in qs if fnmatch.fnmatchcase(n, pat)]
        if not hits:
            print(f"{pat:34s} NO REGISTERED QUERY MATCHES")
            unmatched.append(pat)
        names += [n for n in hits if n not in names]
    failed = list(unmatched)
    for name in names:
        try:
            sdf = qs[name](spark, sf_dir)
            # Driver-hasher mimic: the driver canonicalizes with pandas
            # sort_values over every column — array/map/struct outputs
            # crash it (unhashable list). Flag them here so the failure
            # surfaces locally, not in CORRECTNESS_r{N}.json.
            complex_cols = [
                f.name for f in sdf.schema.fields
                if f.dataType.typeName() in ("array", "map", "struct")
            ]
            if complex_cols and name in oracles:
                print(
                    f"{name:34s} DRIVER-HASH RISK: complex output cols "
                    f"{complex_cols} — array_join/to_json them"
                )
                failed.append(name)
                continue
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            print(f"{name:34s} SPARK ERROR: {e}")
            failed.append(name)
            continue
        if name not in oracles:
            print(f"{name:34s} rows={len(srows):6d} (rows-only check, no oracle)")
            continue
        try:
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            # Driver-hasher mimic: DuckDB sum(int) yields HUGEINT
            # (int128) which pandas renders as object → value-hash
            # mismatch vs Spark BIGINT even when values are equal.
            hugeint_cols = [
                d[0] for d in res.description
                if str(d[1]).upper() in ("HUGEINT", "INT128")
            ]
            if hugeint_cols:
                print(
                    f"{name:34s} DRIVER-HASH RISK: oracle HUGEINT cols "
                    f"{hugeint_cols} — CAST(... AS BIGINT) in the SQL"
                )
                failed.append(name)
                continue
            drows = res.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"{name:34s} DUCKDB ERROR: {e}")
            failed.append(name)
            continue
        sc, sv = df_to_sorted(srows, scols)
        dc, dv = df_to_sorted(drows, dcols)
        if sc != dc:
            print(f"{name:34s} SCHEMA MISMATCH spark={sc} duck={dc}")
            failed.append(name)
        elif len(sv) != len(dv):
            print(f"{name:34s} COUNT MISMATCH spark={len(sv)} duck={len(dv)}")
            failed.append(name)
        elif sv != dv:
            bad = next(i for i, (a, b) in enumerate(zip(sv, dv)) if a != b)
            print(f"{name:34s} VALUE MISMATCH at sorted row {bad}:")
            print(f"   spark: {sv[bad]}")
            print(f"   duck : {dv[bad]}")
            failed.append(name)
        else:
            print(f"{name:34s} rows={len(sv):6d} MATCH")
    total = len(names) + len(unmatched)
    print(f"\n{total - len(failed)}/{total} ok")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
