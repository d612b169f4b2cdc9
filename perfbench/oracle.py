#!/usr/bin/env python3
"""Records the expected result digests and cross-checks them against DuckDB.

    python3 perfbench/oracle.py

Runs every workload query once in Spark (`run.py --dump`), which writes its
result as parquet, its digest and its oracle SQL (`SparkEntry.oracleSql`). Each result is compared with the
DuckDB oracle on the same tables, normalized the way `tools/compare.py`
normalizes (columns by name, rows sorted, ints to int64, floats to float64),
and the oracle's seconds are timed. Writes:

    expected/digests.tsv  query, rows, digest (read by every run)
    expected/oracle.tsv   query, rows, oracle status, oracle seconds

A query whose oracle fails, disagrees or runs past ORACLE_TIMEOUT_S keeps
Spark's digest, pinned to the committed data, and is named in oracle.tsv.
"""
import importlib.util
import json
import os
import subprocess
import sys
import threading
import time

import duckdb
import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# A query whose oracle runs longer is pinned to the committed data.
ORACLE_TIMEOUT_S = 120


def compare_norm():
    spec = importlib.util.spec_from_file_location(
        "compare", os.path.join(ROOT, "tools", "compare.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.norm


def same(a, b, norm):
    if sorted(a.columns) != sorted(b.columns):
        return f"columns {sorted(a.columns)} vs {sorted(b.columns)}"
    ra, rb = norm(a), norm(b)
    if len(ra) != len(rb):
        return f"rows {len(ra)} vs {len(rb)}"
    for c in ra.columns:
        va, vb = ra[c], rb[c]
        eq = (va == vb) | (va.isna() & vb.isna())
        if va.dtype.kind == "f":
            eq = eq | np.isclose(va, vb, rtol=1e-9, atol=0)
        if not eq.all():
            return f"values differ in {c} ({int((~eq).sum())} rows)"
    return None


def oracle(con, sql, timeout):
    timer = threading.Timer(timeout, con.interrupt)
    timer.start()
    t0 = time.monotonic()
    try:
        return con.execute(sql).fetchdf(), time.monotonic() - t0
    finally:
        timer.cancel()


def main():
    norm = compare_norm()
    digests, report = [], []
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--dump"],
                       stdout=subprocess.PIPE, text=True)
    if r.returncode != 0:
        sys.exit("dump failed")
    out = r.stdout.strip().splitlines()[-1]
    sql = json.load(open(os.path.join(out, "oracle_sql.json")))
    con = duckdb.connect()
    data = os.path.join(HERE, "data")
    for f in sorted(os.listdir(data)):
        con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{data}/{f}')")
    for line in open(os.path.join(out, "digests.tsv")).read().split("\n"):
        if not line:
            continue
        q, rows, _ = line.split("\t")
        digests.append(line)
        spark_df = con.execute(
            f"SELECT * FROM read_parquet('{out}/{q}/*.parquet')").fetchdf()
        if q not in sql:
            report.append((q, rows, "no-oracle", ""))
            continue
        try:
            want, secs = oracle(con, sql[q], ORACLE_TIMEOUT_S)
            diff = same(spark_df, want, norm)
            status = "match" if diff is None else "MISMATCH " + diff
            report.append((q, rows, status, f"{secs:.3f}"))
        except duckdb.InterruptException:
            report.append((q, rows, f"timeout>{ORACLE_TIMEOUT_S}s; pinned to the data", ""))
        except duckdb.Error as e:
            report.append((q, rows, f"oracle-error {type(e).__name__}", ""))
        print("\t".join(report[-1]), flush=True)
    os.makedirs(os.path.join(HERE, "expected"), exist_ok=True)
    with open(os.path.join(HERE, "expected", "digests.tsv"), "w") as f:
        f.write("# query\trows\tdigest (written by oracle.py)\n")
        f.write("\n".join(digests) + "\n")
    with open(os.path.join(HERE, "expected", "oracle.tsv"), "w") as f:
        f.write("# query\trows\toracle\toracle_s (DuckDB %s)\n" % duckdb.__version__)
        f.write("\n".join("\t".join(r) for r in report) + "\n")
    bad = [r for r in report if r[2] != "match"]
    print(f"{len(report) - len(bad)}/{len(report)} match the DuckDB oracle")


if __name__ == "__main__":
    main()
