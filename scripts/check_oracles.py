"""Local stand-in for the driver's correctness gate.

Runs every queries() entry on Spark at --sf-dir and the matching
oracle_sql() in DuckDB (views pre-registered like the driver does), then
compares row count, column names, and an order-insensitive value hash.

Usage: python scripts/check_oracles.py [--sf-dir /root/testdata/sf0.01] [--only name]
"""

from __future__ import annotations

import argparse
import hashlib
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = ("events", "documents")


def value_hash(df) -> str:
    """Order-insensitive: sort columns by name, stringify, sort rows, md5."""
    cols = sorted(df.columns)
    sub = df[cols]
    rows = []
    for tup in sub.itertuples(index=False):
        rows.append("\x01".join(_norm(v) for v in tup))
    rows.sort()
    return hashlib.md5("\n".join(rows).encode()).hexdigest()


def _norm(v) -> str:
    import math

    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(round(v, 9))
    if isinstance(v, bool):
        return str(v)
    return str(v)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--only", default=None)
    ap.add_argument("--json-out", default=None,
                    help="write per-query results as JSON (sweep artifact)")
    args = ap.parse_args()

    import __spark_entry__ as entry_mod
    from intelligent_document_processing_on_aws_spark.session import get_spark

    spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(args.sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = []
    results = {}
    for name, fn in qs.items():
        if args.only and name not in args.only.split(","):
            continue
        try:
            sdf = fn(spark, args.sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"SPARK ERROR: {e}"))
            results[name] = {"ok": False, "err": f"spark: {str(e)[:300]}"}
            print(f"[FAIL-spark] {name}: {str(e)[:300]}")
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"ORACLE ERROR: {e}"))
            results[name] = {"ok": False, "err": f"oracle: {str(e)[:300]}"}
            print(f"[FAIL-oracle] {name}: {str(e)[:300]}")
            continue
        problems = []
        if len(sdf) != len(odf):
            problems.append(f"rows {len(sdf)} != {len(odf)}")
        if sorted(sdf.columns) != sorted(odf.columns):
            problems.append(f"cols {sorted(sdf.columns)} != {sorted(odf.columns)}")
        else:
            hs, ho = value_hash(sdf), value_hash(odf)
            if hs != ho:
                problems.append("value-hash mismatch")
                cols = sorted(sdf.columns)
                a = {tuple(_norm(v) for v in t) for t in sdf[cols].itertuples(index=False)}
                b = {tuple(_norm(v) for v in t) for t in odf[cols].itertuples(index=False)}
                only_a, only_b = list(a - b)[:3], list(b - a)[:3]
                problems.append(f"spark-only={only_a} oracle-only={only_b}")
        results[name] = {"ok": not problems, "spark_rows": len(sdf),
                         "oracle_rows": len(odf)}
        if problems:
            results[name]["err"] = "; ".join(p[:400] for p in problems)
            failures.append((name, "; ".join(p[:400] for p in problems)))
            print(f"[FAIL] {name}: {'; '.join(p[:400] for p in problems)}")
        else:
            print(f"[OK]   {name}: {len(sdf)} rows")
    spark.stop()
    if args.json_out:
        import json

        payload = {
            "sf_dir": args.sf_dir,
            "n_queries": len(results),
            "n_ok": sum(1 for r in results.values() if r["ok"]),
            "queries": results,
        }
        with open(args.json_out, "w") as f:
            json.dump(payload, f, indent=1, sort_keys=True)
        print(f"wrote {args.json_out}")
    if failures:
        print(f"\n{len(failures)} FAILURES")
        return 1
    print("\nall oracles match")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
