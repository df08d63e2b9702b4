#!/usr/bin/env python3
"""Robustness check: rewrite the numeric measure columns with degenerate
but contract-legal values and re-run the full oracle gate on the mutated
copy. Complements the other corpus gates (null/empty/skew/shuffle/
unicode mutate documents+events structure; vector_check mutates
embeddings): this one stresses the DISPERSION / PERCENTILE / WINDOW-RANK
family where degenerate distributions diverge engines:

  - a zero-variance group: var = 0 hits the floor-bias clamp, and the
    Pearson denominator becomes exactly 0 — correlation is undefined
    (NULL, DuckDB's divide-by-zero) and must not ANSI-throw in Spark;
  - massive tie blocks: exact/approx percentiles over a constant group,
    rank/percent_rank/cume_dist/ntile over repeated values (every rank
    window must carry a deterministic tie-break to survive this);
  - negative zero: -0.0 must compare, rank and aggregate as 0.0 in both
    engines while the stored value round-trips.

Mutations (deterministic):
  lineitem rows with l_returnflag = 'A'  -> l_quantity = 7.0,
      l_discount = 0.05, l_extendedprice = 1234.56   (whole group
      constant: zero variance, zero covariance, percentile ties)
  events rows with rn % 5 == 2           -> value = 42.0  (tie blocks
      inside every user's rank window)
  events rows with rn % 17 == 5          -> value = -0.0  (negative
      zero through sums, ranks and lag/lead)

All other columns and tables stay untouched.

Usage: python3 scripts/numeric_check.py [src_sf_dir]
Writes NUMCHECK.json (house style of NULLCHECK.json / VECCHECK.json).
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
DST = tempfile.mkdtemp(prefix="graft-numpath-")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

con = duckdb.connect()
for t in TABLES:
    src = f"{SRC}/{t}.parquet"
    if not os.path.exists(src):
        continue
    if t == "lineitem":
        cols = con.sql(f"SELECT * FROM '{src}' LIMIT 0").columns
        sel = ", ".join({
            "l_quantity": "CASE WHEN l_returnflag = 'A' THEN 7.0 ELSE l_quantity END AS l_quantity",
            "l_discount": "CASE WHEN l_returnflag = 'A' THEN 0.05 ELSE l_discount END AS l_discount",
            "l_extendedprice": "CASE WHEN l_returnflag = 'A' THEN 1234.56 ELSE l_extendedprice END AS l_extendedprice",
        }.get(c, f'"{c}"') for c in cols)
        con.sql(f"COPY (SELECT {sel} FROM '{src}') TO '{DST}/{t}.parquet' (FORMAT PARQUET)")
        n = con.sql(f"SELECT COUNT(*) FROM '{DST}/{t}.parquet' "
                    f"WHERE l_returnflag = 'A'").fetchone()[0]
        print(f"[num] lineitem: {n} rows in the constant 'A' group")
    elif t == "events":
        cols = con.sql(f"SELECT * FROM '{src}' LIMIT 0").columns
        sel = ", ".join(
            "CASE WHEN __rn % 5 = 2 THEN 42.0 "
            # NB '-0.0'::DOUBLE, not the literal -0.0: DuckDB parses the
            # bare literal as DECIMAL, which has no signed zero
            "     WHEN __rn % 17 = 5 THEN '-0.0'::DOUBLE ELSE value END AS value"
            if c == "value" else f'"{c}"' for c in cols)
        con.sql(f"""
          COPY (SELECT {sel} FROM
                  (SELECT *, row_number() OVER (ORDER BY event_id) AS __rn
                   FROM '{src}')
                ORDER BY event_id)
          TO '{DST}/{t}.parquet' (FORMAT PARQUET)""")
        stats = con.sql(f"""
          SELECT SUM(CASE WHEN value = 42.0 THEN 1 ELSE 0 END),
                 SUM(CASE WHEN value = 0.0 AND signbit(value) THEN 1 ELSE 0 END)
          FROM '{DST}/{t}.parquet'""").fetchone()
        print(f"[num] events: {stats[0]} tie-block rows, {stats[1]} negative zeros")
    else:
        con.sql(f"COPY (SELECT * FROM '{src}') TO '{DST}/{t}.parquet' (FORMAT PARQUET)")

print(f"[num] corpus rewritten with degenerate numerics at {DST}")

r = subprocess.run([sys.executable, "scripts/check_oracle.py", DST,
                    f"{DST}/verify_out"], cwd=REPO,
                   capture_output=True, text=True)
sys.stdout.write(r.stdout)
sys.stderr.write(r.stderr[-2000:] if r.returncode else "")

lines = r.stdout.splitlines()
summary = {
    "src_sf": SRC,
    "mutations": {
        "lineitem_constant_group": "l_returnflag='A' -> qty 7.0, disc 0.05, price 1234.56",
        "events_tie_block": "rn % 5 == 2 -> value 42.0",
        "events_negative_zero": "rn % 17 == 5 -> value -0.0",
    },
    "n_ok": sum(1 for l in lines if l.startswith("[ok]")),
    "n_fail": sum(1 for l in lines if l.startswith("[FAIL]")),
    "failed": [l.split()[1].rstrip(":") for l in lines
               if l.startswith("[FAIL]")],
}
with open(REPO / "NUMCHECK.json", "w") as f:
    json.dump(summary, f, indent=1)
print(f"[num] summary -> NUMCHECK.json "
      f"({summary['n_ok']} ok, {summary['n_fail']} fail)")
sys.exit(r.returncode)
