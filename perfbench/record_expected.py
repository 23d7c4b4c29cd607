#!/usr/bin/env python3
"""Records the expected result of every query_session entry in
perfbench/expected_queries.json: its row count (checked on every op) and
an order-independent content hash. Each entry is confirmed against its
DuckDB twin (SparkEntry.oracleSql) where one exists and finishes, with the
comparison rules of tools/verify_local.py.

Usage, from the repo root (builds first, like run.py):
  python3 perfbench/record_expected.py

The content hash is DuckDB's `sum(CAST(hash(<columns sorted by name>)
AS HUGEINT))` over the Spark output, the hash verify_local.py's sql-hash
mode compares.
"""
import importlib.util
import json
import os
import shutil
import sys
import time

import duckdb

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import run  # noqa: E402

DATA = "perfbench/data/sf0.1"
TWIN_TIMEOUT_S = 120


def load_verify_local(root):
    spec = importlib.util.spec_from_file_location(
        "verify_local", os.path.join(root, "tools", "verify_local.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def twin_verdict(vl, con, qdir, sql, timeout_s):
    try:
        s_rows, s_cols = vl.canon(*vl.fetch(con, f"SELECT * FROM '{qdir}/*.parquet'", 0))
        o_rows, o_cols = vl.canon(*vl.fetch(con, sql, timeout_s))
    except duckdb.InterruptException:
        return f"unconfirmed: twin exceeded {timeout_s} s"
    except Exception as e:  # a twin that cannot run at this scale
        return f"unconfirmed: twin failed ({str(e).splitlines()[0][:120]})"
    if s_cols != o_cols:
        return f"MISMATCH: columns {s_cols} vs {o_cols}"
    if len(s_rows) != len(o_rows):
        return f"MISMATCH: rows {len(s_rows)} vs {len(o_rows)}"
    for i, (a, b) in enumerate(zip(s_rows, o_rows)):
        for j, (x, y) in enumerate(zip(a, b)):
            if not vl.cmp_cell(x, y):
                return f"MISMATCH: row {i} column {s_cols[j]}: {x!r} vs {y!r}"
    return "confirmed"


def main():
    root = os.getcwd()
    out = build.build_dir(root)
    classes = build.ensure_built(root, out)
    work = os.path.join(out, "work", f"expect-{os.getpid()}")
    dump = os.path.join(work, "outputs")
    try:
        code, _ = run.jvm(root, classes, work, [
            "--mode", "expect", "--out", dump, "--seed", "1",
            "--cores", str(len(os.sched_getaffinity(0))), "--root", root,
            "--work", work], 3600)
        if code != 0:
            raise SystemExit(f"harness failed ({code})")
        vl = load_verify_local(root)
        con = duckdb.connect()
        for t in vl.TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{root}/{DATA}/{t}.parquet'")
        with open(os.path.join(dump, "oracle_sql.json")) as f:
            twins = json.load(f)
        entries = {}
        for name in sorted(d for d in os.listdir(dump)
                           if os.path.isdir(os.path.join(dump, d))):
            qdir = os.path.join(dump, name)
            cols = sorted(con.sql(f"SELECT * FROM '{qdir}/*.parquet' LIMIT 0").columns)
            hexpr = ", ".join(f'"{c}"' for c in cols)
            n, h = con.sql(f"SELECT count(*), sum(CAST(hash({hexpr}) AS HUGEINT)) "
                           f"FROM '{qdir}/*.parquet'").fetchone()
            t0 = time.time()
            verdict = (twin_verdict(vl, con, qdir, twins[name], TWIN_TIMEOUT_S)
                       if name in twins else "unconfirmed: no DuckDB twin")
            print(f"{name:42s} {n:>8} rows  {verdict}  ({time.time() - t0:.1f} s)")
            entries[name] = {"rows": n, "content_hash": str(h), "twin": verdict}
    finally:
        shutil.rmtree(work, ignore_errors=True)
    bad = [n for n, e in entries.items() if e["twin"].startswith("MISMATCH")]
    doc = {
        "data": DATA,
        "content_hash": "DuckDB sum(CAST(hash(<columns sorted by name>) AS HUGEINT))",
        "unconfirmed": sorted(n for n, e in entries.items()
                              if e["twin"].startswith("unconfirmed")),
        "entries": entries,
    }
    with open(os.path.join(root, "perfbench", "expected_queries.json"), "w") as f:
        json.dump(doc, f, indent=1, sort_keys=False)
        f.write("\n")
    if bad:
        print(f"twin mismatches: {bad}", file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
