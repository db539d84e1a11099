"""Local stand-in for the driver's correctness gate: run every
``queries()`` entry on Spark and its ``oracle_sql()`` twin on DuckDB over
the same sf dir, then compare row count, column names, and values
(rows sorted, exact for ints/strings, bit-exact-then-1e-9 report for
floats). Usage: python scripts/check_correctness.py [sf_dir] [name ...]"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = pd.to_datetime(df[c]).astype("datetime64[us]")
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def compare(name: str, sdf: pd.DataFrame, odf: pd.DataFrame) -> list[str]:
    problems = []
    if len(sdf) != len(odf):
        problems.append(f"rowcount spark={len(sdf)} oracle={len(odf)}")
    if sorted(sdf.columns) != sorted(odf.columns):
        problems.append(f"columns spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}")
        return problems
    s, o = normalize(sdf.copy()), normalize(odf.copy())
    if len(s) != len(o):
        return problems
    for c in s.columns:
        sv, ov = s[c], o[c]
        if sv.dtype.kind == "f" or ov.dtype.kind == "f":
            sv = sv.astype(float).to_numpy()
            ov = ov.astype(float).to_numpy()
            both_nan = np.isnan(sv) & np.isnan(ov)
            eq = (sv == ov) | both_nan
            if not eq.all():
                bad = np.where(~eq)[0][:3]
                close = np.isclose(sv, ov, rtol=0, atol=1e-9, equal_nan=True).all()
                problems.append(
                    f"col {c}: {int((~eq).sum())} mismatches "
                    f"(within 1e-9: {close}) e.g. idx {bad.tolist()} "
                    f"spark={sv[bad].tolist()} oracle={ov[bad].tolist()}"
                )
        else:
            eq = (sv == ov) | (sv.isna() & ov.isna())
            if not eq.all():
                bad = eq[~eq].index[:3].tolist()
                problems.append(
                    f"col {c} ({sv.dtype}/{ov.dtype}): {int((~eq).sum())} mismatches "
                    f"e.g. idx {bad} spark={sv[bad].tolist()} oracle={ov[bad].tolist()}"
                )
    return problems


def oracle_connection(sf_dir: str):
    """DuckDB connection with the standard tables registered as views."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def check_entry(name: str, spark, con, sf_dir: str) -> dict:
    """Run ONE ``queries()`` entry on Spark and its ``oracle_sql()`` twin
    on DuckDB; returns {"status": ok|weak|fail, "rows": n, "problems": []}.
    Shared by the CLI below and the sf0.001 sweep in
    ``tests/test_oracle.py``, which the default test run includes (``-m
    oracle`` runs it alone)."""
    import __spark_entry__ as entrymod

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    try:
        sdf = qs[name](spark, sf_dir).toPandas()
    except Exception as e:
        return {"status": "fail", "rows": None,
                "problems": [f"spark error: {e}"]}
    if name not in oracles:
        return {"status": "weak", "rows": len(sdf), "problems": []}
    try:
        odf = con.execute(oracles[name]).fetchdf()
    except Exception as e:
        return {"status": "fail", "rows": len(sdf),
                "problems": [f"oracle error: {e}"]}
    problems = compare(name, sdf, odf)
    return {"status": "fail" if problems else "ok", "rows": len(sdf),
            "problems": problems}


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("check-correctness")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = oracle_connection(sf_dir)

    import __spark_entry__ as entrymod

    n_ok = n_bad = n_weak = 0
    for name in entrymod.queries():
        if only and name not in only:
            continue
        t0 = time.time()
        res = check_entry(name, spark, con, sf_dir)
        took = f"[{time.time()-t0:.1f}s]"
        if res["status"] == "ok":
            n_ok += 1
            print(f"ok   {name}: rows={res['rows']} {took}")
        elif res["status"] == "weak":
            n_weak += 1
            print(f"weak {name}: rows={res['rows']} (no oracle) {took}")
        else:
            n_bad += 1
            print(f"FAIL {name}: rows={res['rows']} {took}")
            for p in res["problems"]:
                print(f"    {p}")
    print(f"\n{n_ok} ok, {n_bad} fail, {n_weak} weak (rows-only)")
    return 1 if n_bad else 0


if __name__ == "__main__":
    sys.exit(main())
