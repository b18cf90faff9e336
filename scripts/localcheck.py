#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: reads the parquet
dumps written by graft.Verify plus oracle_sql.json, runs each oracle in
DuckDB over the same source tables, and compares (rows, schema-ish,
values) with columns sorted by name and rows sorted canonically.
Every query named in the run's attempted.txt that left no dump (it threw,
or the run died first) is a failure: `FAIL <name>: no dump`.
Usage: localcheck.py <sfDir> <verifyOutDir>
"""
import json, math, sys
from pathlib import Path

import duckdb

def canon(v):
    if v is None:
        return ("null",)
    if isinstance(v, float):
        if math.isnan(v):
            return ("f", "nan")
        return ("f", repr(v))
    if isinstance(v, bytes):
        return ("b", v.hex())
    try:
        import decimal
        if isinstance(v, decimal.Decimal):
            return ("d", str(v))
    except ImportError:
        pass
    if isinstance(v, (list, tuple)):
        return ("l", tuple(canon(x) for x in v))
    if hasattr(v, "isoformat"):
        return ("t", v.isoformat())
    return (type(v).__name__, str(v))

def table_of(rows, cols):
    # sort columns by name, then rows
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(canon(r[i]) for i in order) for r in rows]
    out.sort()
    return [cols[i] for i in order], out

def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.loads(Path(out_dir, "oracle_sql.json").read_text())
    failures, passes, skips = [], [], []
    dumps = sorted(p.name for p in Path(out_dir).iterdir() if p.is_dir())
    attempted = Path(out_dir, "attempted.txt")
    if attempted.exists():
        failures += [(name, "no dump") for name in attempted.read_text().split()
                     if name not in dumps]
    for name in dumps:
        got = con.sql(f"SELECT * FROM '{out_dir}/{name}/*.parquet'")
        grows, gcols = got.fetchall(), [d[0] for d in got.description]
        # DECIMAL output columns are a driver-compare hazard: the driver
        # materializes duckdb results and spark parquet through different
        # paths (float64 vs decimal.Decimal) and hash-mismatches even when
        # values are equal (round-1: q1_agg/q_join_agg/q_events_window/
        # q_salted_agg). Keep decimal math internal, emit DOUBLE/BIGINT.
        dec_cols = [c for c, t in zip(gcols, [str(x) for x in got.types])
                    if "DECIMAL" in str(t).upper()]
        if dec_cols:
            failures.append((name, f"DECIMAL output columns {dec_cols} — cast to DOUBLE/BIGINT"))
            continue
        if name not in oracle:
            skips.append((name, len(grows)))
            continue
        try:
            exp = con.sql(oracle[name])
            erows, ecols = exp.fetchall(), [d[0] for d in exp.description]
        except Exception as e:
            failures.append((name, f"oracle error: {e}"))
            continue
        gc, gt = table_of(grows, gcols)
        ec, et = table_of(erows, ecols)
        if [c.lower() for c in gc] != [c.lower() for c in ec]:
            failures.append((name, f"columns differ: {gc} vs {ec}"))
        elif len(gt) != len(et):
            failures.append((name, f"row count differs: {len(gt)} vs {len(et)}"))
        elif gt != et:
            bad = next(i for i, (a, b) in enumerate(zip(gt, et)) if a != b)
            failures.append((name, f"values differ at sorted row {bad}:\n  spark: {gt[bad]}\n  duck:  {et[bad]}"))
        else:
            passes.append((name, len(gt)))
    for n, c in passes:
        print(f"PASS {n} ({c} rows)")
    for n, c in skips:
        print(f"SKIP (rows-only) {n} ({c} rows)")
    for n, msg in failures:
        print(f"FAIL {n}: {msg}")
    print(f"\n{len(passes)} pass, {len(skips)} rows-only, {len(failures)} fail")
    return 1 if failures else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
