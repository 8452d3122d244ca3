"""Simulate the grading driver: t1 smoke (entry on sf0.001) + t2 DuckDB-oracle
comparison (sf0.01) for every registered query. Exit non-zero on any mismatch.

Usage: python scripts/driver_sim.py [--sf /root/testdata/sf0.01] [--only name,name]
       [--json OUT.json]

``--json`` writes a driver-style artifact (per-query rows_match /
schema_match / hash_match / spark_rows / oracle_rows / err) covering EVERY
registered query — including the ones past the driver's 50-slot window — so
each has machine-checked evidence somewhere in the repo.
"""

from __future__ import annotations

import argparse
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _canon(v):
    import datetime

    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if isinstance(v, float):
        return round(v, 6)
    if isinstance(v, datetime.datetime):
        # Spark DATE arrives as datetime.date, DuckDB DATE as midnight
        # Timestamp — canonicalize both to the ISO date string.
        if v.hour == v.minute == v.second == v.microsecond == 0:
            return v.date().isoformat()
        return v.isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    return str(v)


def norm_frame(df, cols):
    rows = []
    for row in df[cols].itertuples(index=False):
        rows.append(tuple(_canon(v) for v in row))
    return sorted(rows, key=repr)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--only", default=None)
    ap.add_argument("--skip-smoke", action="store_true")
    ap.add_argument("--json", default=None, help="write driver-style artifact here")
    args = ap.parse_args()

    import duckdb

    import __spark_entry__ as e
    from ningaloo_turtle_etl_spark.session import get_spark

    spark = get_spark("driver-sim", master="local[8]")
    spark.sparkContext.setLogLevel("ERROR")

    if not args.skip_smoke:
        t0 = time.time()
        rows = e.entry(spark).collect()
        print(f"t1 smoke: {len(rows)} rows in {time.time()-t0:.1f}s")
        assert len(rows) > 0

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{args.sf}/{t}.parquet')"
        )

    qs, osql = e.queries(), e.oracle_sql()
    only = set(args.only.split(",")) if args.only else None
    failed = []
    # --only + --json appends: preload the existing artifact so a
    # post-sweep query addition can land its row without re-running the
    # full registry (the full-sweep path still rewrites every row).
    # Preloaded keys that are no longer in the registry are PRUNED so
    # rows for removed/renamed queries can't persist and overstate the
    # artifact's freshness.
    report: dict[str, dict] = {}
    if args.json and only and os.path.exists(args.json):
        import json

        with open(args.json) as fh:
            stale = json.load(fh)
        report = {k: v for k, v in stale.items() if k in qs}
        dropped = sorted(set(stale) - set(report))
        if dropped:
            print(f"pruned {len(dropped)} stale rows: {', '.join(dropped)}")
    for name, fn in qs.items():
        if only and name not in only:
            continue
        rec = {
            "rows_match": None, "schema_match": None, "hash_match": None,
            "spark_rows": None, "oracle_rows": None, "err": None,
        }
        report[name] = rec
        t0 = time.time()
        try:
            sdf = fn(spark, args.sf).toPandas()
            rec["spark_rows"] = len(sdf)
        except Exception as ex:
            print(f"t2 {name}: SPARK ERROR {ex}")
            rec["err"] = f"spark: {ex}"[:300]
            failed.append(name)
            continue
        if name not in osql:
            rec["err"] = "no_oracle"
            print(f"t2 {name}: rows-only check, {len(sdf)} rows ({time.time()-t0:.1f}s)")
            continue
        ddf = con.sql(osql[name]).df()
        rec["oracle_rows"] = len(ddf)
        scols = sorted(c.lower() for c in sdf.columns)
        dcols = sorted(c.lower() for c in ddf.columns)
        sdf.columns = [c.lower() for c in sdf.columns]
        ddf.columns = [c.lower() for c in ddf.columns]
        rec["schema_match"] = scols == dcols
        if scols != dcols:
            print(f"t2 {name}: COLUMN MISMATCH {scols} vs {dcols}")
            failed.append(name)
            continue
        rec["rows_match"] = len(sdf) == len(ddf)
        if len(sdf) != len(ddf):
            print(f"t2 {name}: ROWCOUNT MISMATCH {len(sdf)} vs {len(ddf)}")
            failed.append(name)
            continue
        s, d = norm_frame(sdf, scols), norm_frame(ddf, scols)
        rec["hash_match"] = s == d
        if s != d:
            bad = next(i for i, (a, b) in enumerate(zip(s, d)) if a != b)
            print(f"t2 {name}: VALUE MISMATCH at sorted-row {bad}:")
            print(f"   spark={s[bad]}")
            print(f"   duck ={d[bad]}")
            failed.append(name)
            continue
        print(f"t2 {name}: OK {len(sdf)} rows ({time.time()-t0:.1f}s)")

    if args.json:
        import json

        with open(args.json, "w") as fh:
            json.dump(report, fh, indent=2)
        print(f"wrote {args.json} ({len(report)} queries)")

    print(f"\n{len(qs) - len(failed)}/{len(qs)} queries OK")
    if failed:
        print("FAILED:", ", ".join(failed))
        return 1
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
