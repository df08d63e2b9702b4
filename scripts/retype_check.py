#!/usr/bin/env python3
"""Robustness check: rewrite the corpus with SCHEMA DRIFT — the two
lossless rewrites real lakehouse writers produce constantly — and re-run
the full oracle gate against the drifted copy:

  1. physical column order REVERSED per table (a different writer, a
     schema-evolution append, or a SELECT-reordering ETL step changes
     file column order freely; readers must bind by NAME, never by
     position), and
  2. integer columns NARROWED to INT32 wherever the table's actual value
     range fits (a space-conscious writer, a different language's ORM,
     or a Parquet statistics-aware compactor picks the smallest physical
     type; readers must treat int32/int64 ids as the same key domain —
     joins, window keys, staged-table round-trips and driver-side
     collects all included).

Both engines read the same drifted files, so every query must still
value-match — any divergence is a positional or width assumption one
engine makes and the other doesn't. Timestamps, floats and text are
left untouched (those are genuinely different values when rewritten,
not drift). The rewrite is a pure projection, so row order and content
are byte-identical to the source corpus.

Usage: python3 scripts/retype_check.py [src_sf_dir]
Artifact: RETYPECHECK.json
"""
import json
import os
import subprocess
import sys
import tempfile
from pathlib import Path

import duckdb

REPO = Path(__file__).resolve().parents[1]
SRC = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
DST = tempfile.mkdtemp(prefix="graft-retyped-")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
I32_MIN, I32_MAX = -(2 ** 31), 2 ** 31 - 1

con = duckdb.connect()

stats = {}
for t in TABLES:
    src = f"{SRC}/{t}.parquet"
    if not os.path.exists(src):
        continue
    cols = con.sql(f"DESCRIBE SELECT * FROM '{src}'").fetchall()
    narrowed = []
    exprs = []
    for name, typ, *_ in reversed(cols):  # reversed = drifted column order
        if typ == "BIGINT":
            lo, hi = con.sql(
                f'SELECT min("{name}"), max("{name}") FROM \'{src}\''
            ).fetchone()
            if lo is not None and lo >= I32_MIN and hi <= I32_MAX:
                exprs.append(f'CAST("{name}" AS INTEGER) AS "{name}"')
                narrowed.append(name)
                continue
        exprs.append(f'"{name}"')
    con.sql(f"COPY (SELECT {', '.join(exprs)} FROM '{src}') "
            f"TO '{DST}/{t}.parquet' (FORMAT PARQUET)")
    stats[t] = {"narrowed_to_int32": narrowed, "columns_reversed": True}

print("[retype] corpus rewritten with drifted schema at " + DST + ": " +
      ", ".join(f"{t}[{len(v['narrowed_to_int32'])} cols->i32]"
                for t, v in stats.items()))

r = subprocess.run([sys.executable, "scripts/check_oracle.py", DST,
                    f"{DST}/verify_out"], cwd=REPO,
                   capture_output=True, text=True)
sys.stdout.write(r.stdout)
sys.stderr.write(r.stderr[-2000:] if r.returncode else "")

lines = r.stdout.splitlines()
# ADVICE r12: a crashed gate (check_oracle exiting before any per-query
# line) used to write n_ok=0/n_fail=0/failed=[], which reads as clean.
# Record the child's exit code AND assert the per-query line count covers
# the declared oracle inventory; an incomplete sweep is itself a failure.
try:
    n_declared = len(json.load(open(f"{DST}/verify_out/oracle_sql.json")))
except Exception:
    n_declared = -1  # Verify never wrote the inventory — definitely crashed
summary = {
    "src_sf": SRC,
    "drift": stats,
    "returncode": r.returncode,
    "n_declared": n_declared,
    "n_ok": sum(1 for l in lines if l.startswith("[ok]")),
    "n_fail": sum(1 for l in lines if l.startswith("[FAIL]")),
    "failed": [l.split()[1].rstrip(":") for l in lines
               if l.startswith("[FAIL]")],
}
summary["complete"] = (n_declared > 0
                       and summary["n_ok"] + summary["n_fail"] >= n_declared)
with open(REPO / "RETYPECHECK.json", "w") as f:
    json.dump(summary, f, indent=1)
print(f"[retype] summary -> RETYPECHECK.json "
      f"({summary['n_ok']} ok, {summary['n_fail']} fail, "
      f"complete={summary['complete']})")
sys.exit(r.returncode or (0 if summary["complete"] else 3))
