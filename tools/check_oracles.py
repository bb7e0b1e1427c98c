"""Local simulation of the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() on DuckDB at sf=0.01, compare row count,
column names, and an order-insensitive value hash (columns sorted by name,
values stringified with float rounding).

Usage:
    python tools/check_oracles.py                      # full catalog (~9 min)
    python tools/check_oracles.py q1 q2 ...            # named queries only
    python tools/check_oracles.py --module frontier,graph   # by source module
    python tools/check_oracles.py --log ORACLES_r05.log     # tee to artifact

``--module`` filters by the operator's defining module (the six catalog
modules under operators/); combine with ``--log`` to record a per-round
full-run artifact the judge can diff instead of re-running everything."""

from __future__ import annotations

import argparse
import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402

SF = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def norm_cell(v):
    import datetime
    import math

    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.6g}"
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    return str(v)


def table_hash(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x1f".join(norm_cell(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main():
    from google_maps_scraper_spark.session import get_spark, release_cached

    spark = get_spark(master="local[8]", shuffle_partitions=8, app_name="oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")

    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*", help="specific query names")
    ap.add_argument("--module", help="comma-separated operator modules")
    ap.add_argument("--log", help="tee results to this file")
    args = ap.parse_args()

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    mod_of: dict[str, str] = {}
    if args.module:
        from google_maps_scraper_spark.operators import (  # noqa: F401
            analytics, dedup_docs, frontier, graph, sampling, similarity,
        )

        for mname in ("analytics", "dedup_docs", "frontier", "graph",
                      "sampling", "similarity"):
            for q in getattr(sys.modules[
                f"google_maps_scraper_spark.operators.{mname}"
            ], "QUERIES"):
                mod_of[q] = mname
        wanted = set(args.module.split(","))

    logf = open(args.log, "w") if args.log else None

    def emit(line: str) -> None:
        print(line)
        if logf:
            logf.write(line + "\n")
            logf.flush()

    failures = []
    only = set(args.names) or None
    for name, fn in qs.items():
        if only and name not in only:
            continue
        if args.module and mod_of.get(name) not in wanted:
            continue
        try:
            sdf = fn(spark, SF)
            srows = [tuple(r) for r in sdf.collect()]
            scols = sdf.columns
        except Exception as exc:
            emit(f"FAIL  {name}: spark error {exc}")
            failures.append(name)
            continue
        finally:
            release_cached(spark)  # drop this query's checkpoint blocks
        if name not in oracles:
            emit(f"ROWS  {name}: {len(srows)} rows, cols={scols} (no oracle)")
            continue
        try:
            ddf = con.execute(oracles[name])
            dcols = [d[0] for d in ddf.description]
            drows = ddf.fetchall()
        except Exception as exc:
            emit(f"FAIL  {name}: duckdb error {exc}")
            failures.append(name)
            continue
        ok_count = len(srows) == len(drows)
        ok_cols = sorted(scols) == sorted(dcols)
        sh, dh = table_hash(srows, scols), table_hash(drows, dcols)
        ok_hash = sh == dh
        status = "OK  " if (ok_count and ok_cols and ok_hash) else "FAIL"
        emit(
            f"{status}  {name}: rows {len(srows)}/{len(drows)}"
            f" cols={'=' if ok_cols else f'{scols} vs {dcols}'}"
            f" hash={'=' if ok_hash else f'{sh} vs {dh}'}"
        )
        if status == "FAIL":
            failures.append(name)
            if not ok_hash and ok_count and ok_cols:
                s_sorted = sorted(srows)
                d_sorted = sorted(drows)
                for a, b in zip(s_sorted[:200], d_sorted[:200]):
                    if tuple(map(norm_cell, a)) != tuple(map(norm_cell, b)):
                        emit(f"      first diff:\n      spark  {a}\n      duckdb {b}")
                        break
    emit("\n" + ("ALL OK" if not failures else f"FAILURES: {failures}"))
    if logf:
        logf.close()
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
