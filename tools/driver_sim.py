#!/usr/bin/env python
"""Simulate the external correctness gate locally.

Runs every ``queries()`` entry at an arbitrary scale factor (default the
driver's sf0.01) on Spark AND its DuckDB oracle, comparing the way the
driver does: column names sorted, rows order-insensitive, values
normalised. Prints one line per query plus a failure summary, exit 1 on
any mismatch. Before Spark starts, every registered oracle is
type-checked (``plans.registry.validate_oracles``); a failure exits 1.

Usage: python tools/driver_sim.py [--sf /root/testdata/sf0.01] [name ...]
"""

from __future__ import annotations

import argparse
import datetime
import decimal
import math
import os
import sys
import time

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings".split()
)


def _norm(v):
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return v


def _table(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm(r[i]) for i in idx) for r in rows]
    out.sort(key=repr)
    return [cols[i] for i in idx], out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SIM_SF", "/root/testdata/sf0.01"))
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    import duckdb

    from backend_big_data_spark.plans.all_plans import ORACLES, QUERIES
    from backend_big_data_spark.plans.registry import validate_oracles
    from backend_big_data_spark.session import get_spark

    try:
        validate_oracles()
    except ValueError as exc:
        print(f"FAILURE: {exc}")
        return 1

    spark = get_spark(app_name="driver-sim", shuffle_partitions=16)
    duck = duckdb.connect()
    for t in TABLES:
        duck.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{args.sf}/{t}.parquet')"
        )

    names = args.names or list(QUERIES)
    failures: list[str] = []
    for name in names:
        t0 = time.time()
        try:
            sdf = QUERIES[name](spark, args.sf)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as exc:  # noqa: BLE001
            failures.append(f"{name}: SPARK ERROR {exc}")
            print(f"ERR  {name}: spark raised {exc}")
            continue
        if name not in ORACLES:
            print(f"rows {name}: {len(srows)} rows (no oracle) "
                  f"[{time.time()-t0:.1f}s]")
            continue
        try:
            res = duck.execute(ORACLES[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as exc:  # noqa: BLE001
            failures.append(f"{name}: DUCK ERROR {exc}")
            print(f"ERR  {name}: duckdb raised {exc}")
            continue
        status = []
        if sorted(scols) != sorted(dcols):
            status.append(f"schema {sorted(scols)} vs {sorted(dcols)}")
        _, s_rows = _table(scols, srows)
        _, d_rows = _table(dcols, drows)
        if len(s_rows) != len(d_rows):
            status.append(f"rows {len(s_rows)} vs {len(d_rows)}")
        elif not status:
            bad = [(a, b) for a, b in zip(s_rows, d_rows) if a != b]
            if bad:
                status.append(
                    f"{len(bad)} value mismatches; first "
                    f"spark={bad[0][0]} duck={bad[0][1]}")
        if status:
            failures.append(f"{name}: {'; '.join(status)}")
            print(f"FAIL {name}: {'; '.join(status)[:300]}")
        else:
            print(f"ok   {name}: {len(s_rows)} rows "
                  f"[{time.time()-t0:.1f}s]")
        sys.stdout.flush()

    print(f"\n{len(names) - len(failures)}/{len(names)} ok at {args.sf}")
    for f in failures:
        print("FAILURE:", f[:500])
    return 1 if failures else 0


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    sys.exit(main())
