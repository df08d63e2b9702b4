#!/usr/bin/env python3
"""Robustness check: rewrite `events.ts` with pathological but legal
timestamps and re-run the full oracle gate on the mutated copy. The
other corpus gates cover NULLs/empties/skew/layout/unicode/JSON/vector/
numeric pathology; this one stresses TIME — the window/session/as-of/
path family where engines classically diverge:

  - an exact-tie pile: hundreds of events (many sharing a user) carry
    the IDENTICAL timestamp — every ORDER BY ts window (lag/lead,
    running sums with RANGE frames, as-of joins, session splits, funnel
    and path orderings) must either be tie-insensitive or carry an id
    tie-break;
  - pre-epoch timestamps: negative epoch values expose floor-vs-
    truncate bucketing (Spark's window() floor-divides; DuckDB's `//`
    TRUNCATES toward zero — -7//2 = -3 — and time_bucket's 2000-01-01
    origin only agrees with the epoch origin because floor semantics
    hold on both sides);
  - epoch zero exactly; and a far-future 2200 timestamp (well inside
    µs range) for the other end.

Mutations (deterministic, rn = row_number() OVER (ORDER BY event_id)):
  rn % 23 == 4  -> '2024-03-10 02:30:00'  (the shared tie instant)
  rn % 23 == 9  -> '1969-12-31 23:57:30'  (pre-epoch, off the 5-min grid)
  rn % 23 == 14 -> '1970-01-01 00:00:00'  (epoch zero)
  rn % 23 == 19 -> '2200-06-15 12:34:56.789' (far future)

All whole-ms values (exact in µs parquet); all other columns/tables
untouched.

Usage: python3 scripts/time_check.py [src_sf_dir]
Writes TIMECHECK.json (house style of NULLCHECK/VECCHECK/NUMCHECK).
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
DST = tempfile.mkdtemp(prefix="graft-timepath-")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

con = duckdb.connect()
for t in TABLES:
    src = f"{SRC}/{t}.parquet"
    if not os.path.exists(src):
        continue
    if t != "events":
        con.sql(f"COPY (SELECT * FROM '{src}') TO '{DST}/{t}.parquet' (FORMAT PARQUET)")
        continue
    cols = con.sql(f"SELECT * FROM '{src}' LIMIT 0").columns
    sel = ", ".join(
        "CASE WHEN __rn % 23 = 4  THEN '2024-03-10 02:30:00'::TIMESTAMP "
        "     WHEN __rn % 23 = 9  THEN '1969-12-31 23:57:30'::TIMESTAMP "
        "     WHEN __rn % 23 = 14 THEN '1970-01-01 00:00:00'::TIMESTAMP "
        "     WHEN __rn % 23 = 19 THEN '2200-06-15 12:34:56.789'::TIMESTAMP "
        "     ELSE ts END AS ts"
        if c == "ts" else f'"{c}"' for c in cols)
    con.sql(f"""
      COPY (SELECT {sel} FROM
              (SELECT *, row_number() OVER (ORDER BY event_id) AS __rn
               FROM '{src}')
            ORDER BY event_id)
      TO '{DST}/{t}.parquet' (FORMAT PARQUET)""")
    stats = con.sql(f"""
      SELECT SUM(CASE WHEN ts = '2024-03-10 02:30:00' THEN 1 ELSE 0 END),
             SUM(CASE WHEN ts < '1970-01-01' THEN 1 ELSE 0 END),
             COUNT(DISTINCT CASE WHEN ts = '2024-03-10 02:30:00'
                                 THEN user_id END)
      FROM '{DST}/{t}.parquet'""").fetchone()
    print(f"[time] events: {stats[0]} events on the tie instant across "
          f"{stats[2]} users, {stats[1]} pre-epoch")

print(f"[time] corpus rewritten with pathological timestamps at {DST}")

r = subprocess.run([sys.executable, "scripts/check_oracle.py", DST,
                    f"{DST}/verify_out"], cwd=REPO,
                   capture_output=True, text=True)
sys.stdout.write(r.stdout)
sys.stderr.write(r.stderr[-2000:] if r.returncode else "")

lines = r.stdout.splitlines()
summary = {
    "src_sf": SRC,
    "mutations": {
        "tie_instant": "rn % 23 == 4 -> 2024-03-10 02:30:00",
        "pre_epoch": "rn % 23 == 9 -> 1969-12-31 23:57:30",
        "epoch_zero": "rn % 23 == 14 -> 1970-01-01 00:00:00",
        "far_future": "rn % 23 == 19 -> 2200-06-15 12:34:56.789",
    },
    "n_ok": sum(1 for l in lines if l.startswith("[ok]")),
    "n_fail": sum(1 for l in lines if l.startswith("[FAIL]")),
    "failed": [l.split()[1].rstrip(":") for l in lines
               if l.startswith("[FAIL]")],
}
with open(REPO / "TIMECHECK.json", "w") as f:
    json.dump(summary, f, indent=1)
print(f"[time] summary -> TIMECHECK.json "
      f"({summary['n_ok']} ok, {summary['n_fail']} fail)")
sys.exit(r.returncode)
