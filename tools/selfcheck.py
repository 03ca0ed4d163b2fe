"""Mimic the driver's correctness gate locally.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB
at the given sf dir, then compares row count, sorted-by-name schema, and an
order-insensitive value hash. Usage:

    python tools/selfcheck.py [sf_dir] [query_name ...]
    python tools/selfcheck.py --json OUT.json [sf_dir] [query_name ...]

The JSON report holds, per query, the match booleans plus the row counts
and value hashes of both sides (``spark_hash``/``oracle_hash``), so the
reports of two commits can be compared with each other directly.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time

sys.path.insert(0, ".")

import duckdb

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def norm_cell(v) -> str:
    import datetime
    import math
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(round(v, 9))
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat(sep=" ").replace("+00:00", "")
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    if isinstance(v, bool):
        return str(v).lower()
    return str(v)


def frame_fingerprint(cols: list[str], rows: list[tuple]) -> tuple[int, str, str]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    schema = ",".join(cols[i] for i in order)
    lines = sorted(
        "|".join(norm_cell(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]
    return len(rows), schema, h


def main() -> int:
    argv = sys.argv[1:]
    json_out = None
    if argv and argv[0] == "--json":
        json_out = argv[1]
        argv = argv[2:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])
    report: dict[str, dict] = {}

    import __spark_entry__ as E
    from catalog_pii_scanner_spark.session import get_spark

    spark = get_spark("selfcheck")
    con = duckdb.connect()
    for t in TABLES:
        # driver testdata is one file per table; probe corpora
        # (tools/scale_probe.py, edge_sweep fuzz variants written by
        # Spark) are part-file DIRECTORIES — glob those for DuckDB
        path = f"{sf_dir}/{t}.parquet"
        src = f"{path}/*.parquet" if os.path.isdir(path) else path
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")

    qs, oracles = E.queries(), E.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as exc:
            print(f"FAIL {name}: spark error: {exc}")
            report[name] = {"rows_match": False, "schema_match": False,
                            "hash_match": False, "err": f"spark: {exc}"[:300]}
            failures += 1
            continue
        spark_fp = frame_fingerprint(scols, srows)
        t1 = time.time()
        if name not in oracles:
            print(f"PASS? {name}: rows={spark_fp[0]} (no oracle, "
                  f"rows-only check) [{t1-t0:.1f}s]")
            report[name] = {"rows_match": spark_fp[0] >= 0,
                            "schema_match": None, "hash_match": None,
                            "spark_rows": spark_fp[0],
                            "spark_hash": spark_fp[2], "err": None}
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as exc:
            print(f"FAIL {name}: duckdb error: {str(exc)[:300]}")
            report[name] = {"rows_match": False, "schema_match": False,
                            "hash_match": False,
                            "err": f"duckdb: {exc}"[:300]}
            failures += 1
            continue
        t2 = time.time()
        duck_fp = frame_fingerprint(ocols, orows)
        ok = spark_fp == duck_fp
        # magnitude audit (advisory): integer outputs above 2^48 are
        # outside the driver-proven exact BIGINT rendering range — the
        # r7-r9 hash-red class was exactly "wide integer above the
        # fetch path's exact range" (operators/sketches.py docstring).
        # Types are banned by tests/test_entry_contract.py; magnitudes
        # are data-dependent, so the gate warns on them here.
        big = [(c, v) for r in (srows, orows) for row in r
               for c, v in zip(scols if r is srows else ocols, row)
               if isinstance(v, int) and not isinstance(v, bool)
               and abs(v) > 1 << 48]
        if big:
            print(f"MAGNITUDE {name}: integer output above 2^48: "
                  f"{big[:3]}")
        report[name] = {
            "rows_match": spark_fp[0] == duck_fp[0],
            "schema_match": spark_fp[1] == duck_fp[1],
            "hash_match": spark_fp[2] == duck_fp[2],
            "spark_rows": spark_fp[0], "oracle_rows": duck_fp[0],
            "spark_hash": spark_fp[2], "oracle_hash": duck_fp[2],
            "err": None}
        if not ok:
            failures += 1
            print(f"FAIL {name}: spark={spark_fp} duck={duck_fp}")
            if spark_fp[1] != duck_fp[1]:
                print(f"  schema spark: {spark_fp[1]}\n  schema duck:  {duck_fp[1]}")
            elif spark_fp[0] and duck_fp[0]:
                sset = {"|".join(norm_cell(c) for c in r) for r in srows}
                oset = {"|".join(norm_cell(c) for c in r) for r in orows}
                print("  spark-only:", list(sset - oset)[:3])
                print("  duck-only: ", list(oset - sset)[:3])
        else:
            print(f"PASS {name}: rows={spark_fp[0]} hash={spark_fp[2]} "
                  f"[spark {t1-t0:.1f}s, duck {t2-t1:.1f}s]")
    if json_out:
        with open(json_out, "w") as f:
            json.dump(report, f, indent=2)
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
