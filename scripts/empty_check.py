#!/usr/bin/env python3
"""Robustness check: run the full oracle gate against an EMPTY corpus —
every table present with its exact schema, zero rows. This is the
"empty partition" production edge (a date-scoped run over a range with
no data, a new tenant, a filtered slice that matched nothing): every
query must degrade to an empty (or empty-aggregate) result identically
in both engines, not crash on a missing seed row, an empty staged
write, or a 0/0.

Usage: python3 scripts/empty_check.py [template_sf_dir]
"""
import json
import os
import subprocess
import sys
import tempfile
from pathlib import Path

import duckdb

REPO = Path(__file__).resolve().parents[1]
SRC = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
DST = tempfile.mkdtemp(prefix="graft-empty-")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

con = duckdb.connect()
for t in TABLES:
    src = f"{SRC}/{t}.parquet"
    if not os.path.exists(src):
        continue
    con.sql(f"COPY (SELECT * FROM '{src}' LIMIT 0) "
            f"TO '{DST}/{t}.parquet' (FORMAT PARQUET)")
print(f"[empty] zero-row corpus (schemas from {SRC}) at {DST}")

r = subprocess.run([sys.executable, "scripts/check_oracle.py", DST,
                    f"{DST}/verify_out"], cwd=REPO,
                   capture_output=True, text=True)
sys.stdout.write(r.stdout)
sys.stderr.write(r.stderr[-2000:] if r.returncode else "")

lines = r.stdout.splitlines()
summary = {
    "template_sf": SRC,
    "n_ok": sum(1 for l in lines if l.startswith("[ok]")),
    "n_fail": sum(1 for l in lines if l.startswith("[FAIL]")),
    "failed": [l.split()[1].rstrip(":") for l in lines
               if l.startswith("[FAIL]")],
}
with open(REPO / "EMPTYCHECK.json", "w") as f:
    json.dump(summary, f, indent=1)
print(f"[empty] summary -> EMPTYCHECK.json "
      f"({summary['n_ok']} ok, {summary['n_fail']} fail)")
sys.exit(r.returncode)
