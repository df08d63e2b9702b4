#!/usr/bin/env python3
"""Robustness check: rewrite `embeddings.embedding` with pathological but
contract-legal vectors and re-run the full oracle gate on the mutated
copy. The five existing corpus gates (null/empty/skew/shuffle/unicode)
all mutate `documents`; this one stresses the VECTOR family — the
fixed-point cosine/IVF/LSH/k-means/quantization paths — where the
engines most plausibly diverge:

  - division semantics: DuckDB float division by zero yields NULL,
    Spark yields Inf/NaN — a zero-norm vector turns every cosine it
    touches into engine-dependent garbage unless the operator pins a
    contract (graft's contract: cosine with a zero-norm side is NULL);
  - NULL ordering under rank windows (Spark ASC = NULLS FIRST vs
    DuckDB NULLS LAST — the cosine windows are DESC where both agree,
    and this gate proves it stays that way);
  - fixed-point underflow: components so small that floor(x·2^40) = 0
    makes the EXACT norm 0 while the float norm is not — both engines
    must agree the fixed-point norm is what defines the contract;
  - exact ties: duplicated vectors force cosine = 1.0 / dist = 0 ties
    through every (cosine DESC, vid) / (dist, cid) tie-break.

Mutations (deterministic, keyed on row_number() OVER (ORDER BY vec_id),
1-based, so vec_id v gets rn = v+1 on the driver's 0-based ids):
  rn % 13 == 3  -> zero vector (all 0.0f): zero norm, zero dots
  rn % 13 == 7  -> negated vector: cosine sign flips, same norm
  rn % 13 == 9  -> x * 1e-12: fixed-point underflow (exact norm 0,
                   float norm > 0)
  rn % 13 == 11 -> previous row's vector (lag): exact-duplicate ties

vec_id / label / all other tables stay untouched; every value stays a
finite float, so FixedPoint* expressions stay long-safe and no contract
raise fires. ~4/13 of rows mutated.

Usage: python3 scripts/vector_check.py [src_sf_dir]
Writes VECCHECK.json (house style of NULLCHECK.json).
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
DST = tempfile.mkdtemp(prefix="graft-vecpath-")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

con = duckdb.connect()
for t in TABLES:
    src = f"{SRC}/{t}.parquet"
    if not os.path.exists(src):
        continue
    if t != "embeddings":
        con.sql(f"COPY (SELECT * FROM '{src}') TO '{DST}/{t}.parquet' (FORMAT PARQUET)")
        continue
    con.sql(f"""
      COPY (
        SELECT vec_id,
          CASE
            WHEN __rn % 13 = 3 THEN list_transform(embedding, x -> 0.0::FLOAT)
            WHEN __rn % 13 = 7 THEN list_transform(embedding, x -> (-x)::FLOAT)
            WHEN __rn % 13 = 9 THEN list_transform(embedding, x -> (x * 1e-12)::FLOAT)
            WHEN __rn % 13 = 11 THEN prev
            ELSE embedding
          END AS embedding,
          label
        FROM (SELECT *,
                row_number() OVER (ORDER BY vec_id) AS __rn,
                COALESCE(lag(embedding) OVER (ORDER BY vec_id), embedding) AS prev
              FROM '{src}')
        ORDER BY vec_id)
      TO '{DST}/{t}.parquet' (FORMAT PARQUET)""")
    stats = con.sql(f"""
      SELECT
        SUM(CASE WHEN list_max(list_transform(embedding, x -> abs(x))) = 0
            THEN 1 ELSE 0 END) AS n_zero,
        COUNT(*) AS n
      FROM '{DST}/{t}.parquet'""").fetchone()
    print(f"[vec] embeddings: {stats[0]} zero-norm rows of {stats[1]}")

print(f"[vec] corpus rewritten with pathological vectors at {DST}")

r = subprocess.run([sys.executable, "scripts/check_oracle.py", DST,
                    f"{DST}/verify_out"], cwd=REPO,
                   capture_output=True, text=True)
sys.stdout.write(r.stdout)
sys.stderr.write(r.stderr[-2000:] if r.returncode else "")

lines = r.stdout.splitlines()
summary = {
    "src_sf": SRC,
    "mutations": {
        "stride": 13,
        "zero_vector": "rn % 13 == 3",
        "negated": "rn % 13 == 7",
        "fixed_point_underflow_1e-12": "rn % 13 == 9",
        "exact_duplicate_of_prev": "rn % 13 == 11",
    },
    "n_ok": sum(1 for l in lines if l.startswith("[ok]")),
    "n_fail": sum(1 for l in lines if l.startswith("[FAIL]")),
    "failed": [l.split()[1].rstrip(":") for l in lines
               if l.startswith("[FAIL]")],
}
with open(REPO / "VECCHECK.json", "w") as f:
    json.dump(summary, f, indent=1)
print(f"[vec] summary -> VECCHECK.json "
      f"({summary['n_ok']} ok, {summary['n_fail']} fail)")
sys.exit(r.returncode)
