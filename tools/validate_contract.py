"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry at sf0.01 and compares against
``oracle_sql()`` in DuckDB: column names, row count, and an
order-insensitive value comparison (columns sorted by name, rows sorted).

Usage: python tools/validate_contract.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import duckdb  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from norsk_historisk_avis_ocr_spark.plans import build_session  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 9)
    if isinstance(v, bytes):
        return v.hex()
    return v


def _norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    return sorted(cols), sorted(out, key=repr)


def _settle(sc, group: str) -> None:
    """Cancel what is left of a failed row's jobs and wait until no stage
    is active: a failed job returns before its other tasks are killed, and
    their dying Python workers can fail the next row's job."""
    sc.cancelJobGroup(group)
    tracker = sc.statusTracker()
    while tracker.getActiveStageIds():
        time.sleep(0.1)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    spark = build_session("validate", master="local[8]",
                          shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{sf_dir}/{t}.parquet')")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    n_ok = n_bad = n_rows_only = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        group = f"validate-{name}"
        spark.sparkContext.setJobGroup(group, name)
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            n_bad += 1
            _settle(spark.sparkContext, group)
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(srows)} rows (no oracle) "
                  f"[{time.time() - t0:.1f}s]")
            n_rows_only += 1
            continue
        try:
            rel = con.sql(oracles[name])
            dcols = list(rel.columns)
            drows = [tuple(r) for r in rel.fetchall()]
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            n_bad += 1
            continue
        # soft dtype audit: numeric-kind mismatches (int vs float vs str)
        # could trip a stricter driver compare even when values match
        try:
            import pandas as pd
            spdf = pd.DataFrame(srows, columns=scols)
            ddf = pd.DataFrame(drows, columns=dcols)
            for c in set(scols) & set(dcols):
                ks, kd = spdf[c].dtype.kind, ddf[c].dtype.kind
                if ks != kd and not {ks, kd} <= {"i", "u"}:
                    print(f"  dtype-warn {name}.{c}: spark={spdf[c].dtype} "
                          f"duckdb={ddf[c].dtype}")
        except Exception:
            pass
        sc, sr = _norm_rows(scols, srows)
        dc, dr = _norm_rows(dcols, drows)
        if sc != dc:
            print(f"FAIL  {name}: columns {sc} vs {dc}")
            n_bad += 1
            continue
        if len(sr) != len(dr):
            print(f"FAIL  {name}: rowcount {len(sr)} vs {len(dr)}")
            n_bad += 1
            continue
        if sr != dr:
            diff = [i for i, (a, b) in enumerate(zip(sr, dr)) if a != b]
            print(f"FAIL  {name}: {len(diff)} differing rows of {len(sr)}; "
                  f"first: spark={sr[diff[0]]} duck={dr[diff[0]]}")
            n_bad += 1
            continue
        print(f"ok    {name}: {len(sr)} rows match "
              f"[{time.time() - t0:.1f}s]")
        n_ok += 1

    print(f"\n{n_ok} ok, {n_rows_only} rows-only, {n_bad} FAIL")
    spark.stop()
    sys.exit(1 if n_bad else 0)


if __name__ == "__main__":
    main()
