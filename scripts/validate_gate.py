"""Local stand-in for the driver's correctness gate: runs every
__spark_entry__ queries() entry and its oracle_sql() twin on the same
sf dir, and compares row count + column names + order-insensitive values
exactly. Usage: python scripts/validate_gate.py [sf_dir] [name ...]

Writes a machine-readable per-gate report to GATES_LOCAL.json (same row shape
as the driver's CORRECTNESS_r*.json) so the judge can diff local claims
against driver evidence. Partial runs (explicit name args) merge into any
existing report rather than truncating it."""

from __future__ import annotations

import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from lucene_spark.session import get_spark

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(lambda v: v.hex() if isinstance(v, (bytes, bytearray)) else v)
    return df.sort_values(list(df.columns), ignore_index=True)


def compare(name: str, a: pd.DataFrame, b: pd.DataFrame) -> list[str]:
    errs = []
    if sorted(a.columns) != sorted(b.columns):
        return [f"columns differ: spark={sorted(a.columns)} oracle={sorted(b.columns)}"]
    if len(a) != len(b):
        errs.append(f"row count differs: spark={len(a)} oracle={len(b)}")
    ca, cb = canon(a), canon(b)
    n = min(len(ca), len(cb))
    for c in ca.columns:
        va, vb = ca[c].iloc[:n], cb[c].iloc[:n]
        if np.issubdtype(va.dtype, np.floating) or np.issubdtype(vb.dtype, np.floating):
            va = pd.to_numeric(va, errors="coerce").astype(float)
            vb = pd.to_numeric(vb, errors="coerce").astype(float)
            bad = ~(np.isclose(va, vb, rtol=0, atol=0, equal_nan=True))
        else:
            bad = ~((va == vb) | (va.isna() & vb.isna()))
        if bad.any():
            i = int(np.flatnonzero(bad)[0])
            errs.append(f"col {c}: {int(bad.sum())} mismatches; first at row {i}: "
                        f"spark={va.iloc[i]!r} oracle={vb.iloc[i]!r}")
    return errs


REPORT_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "GATES_LOCAL.json")


def _write_report(report: dict) -> None:
    import json
    merged = {}
    if os.path.exists(REPORT_PATH):
        try:
            with open(REPORT_PATH) as f:
                merged = json.load(f)
        except Exception:
            merged = {}
    for name, row in report.items():
        # a gate whose outcome is unchanged keeps its stored row, timing
        # included, so a rerun with every gate green rewrites nothing
        old = merged.get(name)
        if not (isinstance(old, dict) and
                {k: v for k, v in old.items() if k != "sec"} ==
                {k: v for k, v in row.items() if k != "sec"}):
            merged[name] = row
    with open(REPORT_PATH, "w") as f:
        json.dump(merged, f, indent=1, sort_keys=True)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    spark = get_spark("validate_gate")
    qs, osql = entrymod.queries(), entrymod.oracle_sql()
    failed = []
    report: dict[str, dict] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            failed.append(name)
            print(f"FAIL {name}: spark error: {type(e).__name__}: {e}")
            report[name] = {"rows_match": False, "schema_match": False,
                            "hash_match": False, "spark_rows": None,
                            "oracle_rows": None, "sec": round(time.time() - t0, 2),
                            "err": f"spark: {type(e).__name__}: {e}"[:500]}
            continue
        if name not in osql:
            print(f"ok   {name}: rows-only ({len(sdf)} rows) [{time.time()-t0:.1f}s]")
            if len(sdf) == 0 and name != "dd_exact":
                print(f"     WARNING: 0 rows")
            report[name] = {"rows_match": len(sdf) > 0 or name == "dd_exact",
                            "schema_match": None, "hash_match": None,
                            "spark_rows": len(sdf), "oracle_rows": None,
                            "sec": round(time.time() - t0, 2), "err": None,
                            "note": "rows-only (no oracle by design)"}
            continue
        try:
            odf = con.execute(osql[name]).fetchdf()
        except Exception as e:
            failed.append(name)
            print(f"FAIL {name}: oracle error: {type(e).__name__}: {e}")
            report[name] = {"rows_match": False, "schema_match": False,
                            "hash_match": False, "spark_rows": len(sdf),
                            "oracle_rows": None, "sec": round(time.time() - t0, 2),
                            "err": f"oracle: {type(e).__name__}: {e}"[:500]}
            continue
        errs = compare(name, sdf, odf)
        report[name] = {
            "rows_match": len(sdf) == len(odf),
            "schema_match": sorted(sdf.columns) == sorted(odf.columns),
            "hash_match": not errs,
            "spark_rows": len(sdf), "oracle_rows": len(odf),
            "sec": round(time.time() - t0, 2),
            "err": "; ".join(errs)[:500] or None,
        }
        if errs:
            failed.append(name)
            print(f"FAIL {name} ({len(sdf)} vs {len(odf)} rows) [{time.time()-t0:.1f}s]")
            for e in errs[:4]:
                print(f"     {e}")
        else:
            print(f"ok   {name}: {len(sdf)} rows match [{time.time()-t0:.1f}s]")
    _write_report(report)
    print(f"\n{'ALL OK' if not failed else 'FAILED: ' + ', '.join(failed)}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
