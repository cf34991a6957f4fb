#!/usr/bin/env python
"""Which public ``SnapshotTable`` methods does the query registry reach?

Runs every ``__spark_entry__.queries()`` entry (collecting its result)
and builds ``oracle_sql()`` under a driver-side ``sys.setprofile``
tracer, then prints each public ``SnapshotTable`` method that was never
entered, one per line. Executor-side code (UDF bodies) is not seen;
table methods run on the driver, so the trace sees every call to them.

Usage: python tools/reach.py [--sf=DIR]
"""

from __future__ import annotations

import sys
import threading
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def main() -> int:
    sf_args = [a.split("=", 1)[1] for a in sys.argv[1:] if a.startswith("--sf=")]
    sf_dir = sf_args[-1] if sf_args else "/root/testdata/sf0.001"

    import __spark_entry__ as entrymod
    from clinvar_ingest_spark.session import get_spark
    from clinvar_ingest_spark.tables import SnapshotTable

    public = {}  # code object -> method name
    for name, attr in vars(SnapshotTable).items():
        fn = getattr(attr, "fget", None) or getattr(attr, "__func__", attr)
        if not name.startswith("_") and hasattr(fn, "__code__"):
            public[fn.__code__] = name

    entered: set = set()

    def prof(frame, event, _arg):
        if event == "call" and frame.f_code in public:
            entered.add(frame.f_code)

    spark = get_spark("reach", master="local[4]", shuffle_partitions=8)
    sys.setprofile(prof)
    threading.setprofile(prof)
    try:
        entrymod.oracle_sql()
        for qname, q in entrymod.queries().items():
            try:
                q(spark, sf_dir).collect()
            except Exception as e:  # noqa: BLE001 — report, keep tracing
                print(f"# {qname}: {type(e).__name__}: {e}", file=sys.stderr)
    finally:
        sys.setprofile(None)
        threading.setprofile(None)
    for name in sorted(n for c, n in public.items() if c not in entered):
        print(name)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
