#!/usr/bin/env python3
"""Robustness check: rewrite `orders.o_orderdate` with calendar-edge
timestamps and re-run the full oracle gate on the mutated copy. Closes
the pathology matrix alongside time_check.py (events.ts): this one
stresses the DATE-ARITHMETIC family — date_trunc / last_day /
dayofweek / datediff / +INTERVAL / year-month grouping / date range
joins — on the dates where calendar systems diverge:

  - 1582-10-05: inside the Julian→Gregorian cutover gap. Valid in the
    proleptic Gregorian calendar both engines use; a hybrid-calendar
    regression (pre-Spark-3 behavior) would shift it by 10 days;
  - 0001-01-01: minimum practical year — exercises signed day/µs
    arithmetic ~2 million days before the epoch;
  - 2000-02-29 12:00:00: a leap day WITH a time-of-day — last_day /
    date_trunc must ignore the time part, and day-difference semantics
    must agree between Spark's cast-to-date datediff and DuckDB's
    boundary-counting date_diff when one endpoint has hours;
  - 9999-11-30 23:59:59: near-max year, still safe under the +30 day
    shift every consumer applies (lands 9999-12-30).

Mutations (deterministic, rn = row_number() OVER (ORDER BY o_orderkey)):
  rn % 19 == 3  -> 1582-10-05 00:00:00
  rn % 19 == 8  -> 0001-01-01 00:00:00
  rn % 19 == 13 -> 2000-02-29 12:00:00
  rn % 19 == 17 -> 9999-11-30 23:59:59

All other columns/tables untouched.

Usage: python3 scripts/date_check.py [src_sf_dir]
Writes DATECHECK.json (house style of the other *CHECK artifacts).
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
DST = tempfile.mkdtemp(prefix="graft-datepath-")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

con = duckdb.connect()
for t in TABLES:
    src = f"{SRC}/{t}.parquet"
    if not os.path.exists(src):
        continue
    if t != "orders":
        con.sql(f"COPY (SELECT * FROM '{src}') TO '{DST}/{t}.parquet' (FORMAT PARQUET)")
        continue
    cols = con.sql(f"SELECT * FROM '{src}' LIMIT 0").columns
    sel = ", ".join(
        "CASE WHEN __rn % 19 = 3  THEN '1582-10-05 00:00:00'::TIMESTAMP "
        "     WHEN __rn % 19 = 8  THEN '0001-01-01 00:00:00'::TIMESTAMP "
        "     WHEN __rn % 19 = 13 THEN '2000-02-29 12:00:00'::TIMESTAMP "
        "     WHEN __rn % 19 = 17 THEN '9999-11-30 23:59:59'::TIMESTAMP "
        "     ELSE o_orderdate END AS o_orderdate"
        if c == "o_orderdate" else f'"{c}"' for c in cols)
    con.sql(f"""
      COPY (SELECT {sel} FROM
              (SELECT *, row_number() OVER (ORDER BY o_orderkey) AS __rn
               FROM '{src}')
            ORDER BY o_orderkey)
      TO '{DST}/{t}.parquet' (FORMAT PARQUET)""")
    stats = con.sql(f"""
      SELECT SUM(CASE WHEN o_orderdate < '1990-01-01' THEN 1 ELSE 0 END),
             SUM(CASE WHEN o_orderdate > '9000-01-01' THEN 1 ELSE 0 END)
      FROM '{DST}/{t}.parquet'""").fetchone()
    print(f"[date] orders: {stats[0]} pre-1990 edge dates, "
          f"{stats[1]} near-max dates")

print(f"[date] corpus rewritten with calendar-edge dates at {DST}")

r = subprocess.run([sys.executable, "scripts/check_oracle.py", DST,
                    f"{DST}/verify_out"], cwd=REPO,
                   capture_output=True, text=True)
sys.stdout.write(r.stdout)
sys.stderr.write(r.stderr[-2000:] if r.returncode else "")

lines = r.stdout.splitlines()
summary = {
    "src_sf": SRC,
    "mutations": {
        "julian_gap": "rn % 19 == 3 -> 1582-10-05",
        "year_one": "rn % 19 == 8 -> 0001-01-01",
        "leap_day_with_time": "rn % 19 == 13 -> 2000-02-29 12:00:00",
        "near_max": "rn % 19 == 17 -> 9999-11-30 23:59:59",
    },
    "n_ok": sum(1 for l in lines if l.startswith("[ok]")),
    "n_fail": sum(1 for l in lines if l.startswith("[FAIL]")),
    "failed": [l.split()[1].rstrip(":") for l in lines
               if l.startswith("[FAIL]")],
}
with open(REPO / "DATECHECK.json", "w") as f:
    json.dump(summary, f, indent=1)
print(f"[date] summary -> DATECHECK.json "
      f"({summary['n_ok']} ok, {summary['n_fail']} fail)")
sys.exit(r.returncode)
