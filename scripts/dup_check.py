#!/usr/bin/env python3
"""Robustness check: rewrite the corpus as an at-least-once REPLAY — a
second copy of ~1/7 of every ingest-shaped table's rows, carrying the
SAME content under FRESH primary keys (id + 10^9; replayed lineitems
keep their order key and take fresh line numbers) — and re-run the full
oracle gate. This is the duplication shape a real pipeline produces
(a retried ingest batch or an overlapping backfill lands twice AFTER id
assignment), and it preserves the corpus's primary-key contract, which
both the operators' keyed semantics (content-addressed staging,
keep-one-per-id, the reference's keyed store) and the oracle mirrors'
unnest-regroup idiom (GROUP BY id to mirror per-row array math in SQL)
are built on. A first cut of this gate duplicated FULL ROWS id-and-all:
31 queries diverged — every one an artifact of breaking that contract
(e.g. the mirrors' n2-by-vec_id CTE collapses id-duplicates where Spark
computes per row), none an engine multiplicity bug — so the id-violating
axis tests the wrong thing.

What the replay exercises that no other gate does: pairwise duplicate
CONTENT spread across the whole corpus (the skew gate builds ONE giant
pile instead) — every near-dup/exact-dup operator must flag each
(original, replay) pair, ANN rankings gain cosine-1.0 ties that the
vid tie-breaks must order identically in both engines, quantizer
training prefixes (vec_id < cap) must exclude the fresh-id copies in
both, keep-one and CC see thousands of 2-clusters, and every count/sum
carries the extra multiplicity.

Duplicates are keyed on a row number ordered by the table's primary key,
so the replayed slice is deterministic by construction (row_number() with
no ORDER BY would lean on DuckDB's default preserve_insertion_order — a
setting, not a guarantee). Tables replayed: events, documents,
embeddings, lineitem.

Usage: python3 scripts/dup_check.py [src_sf_dir]
Artifact: DUPCHECK.json
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
DST = tempfile.mkdtemp(prefix="graft-dup-")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
OFF = 1000000000  # fresh-id offset for replayed rows

# replayed copy of every 7th row: SAME content, FRESH primary key
REPLAY = {
    "events": f"event_id + {OFF} AS event_id, ts, user_id, event_type, "
              "value, props",
    "documents": f"doc_id + {OFF} AS doc_id, text, lang, source, n_chars",
    "embeddings": f"vec_id + {OFF} AS vec_id, embedding, label",
    # lineitem's key is (l_orderkey, l_linenumber): the replay keeps the
    # order attachment and takes fresh line numbers — a partially
    # re-ingested order
    "lineitem": "l_orderkey, l_partkey, l_suppkey, l_linenumber + 1000 AS "
                "l_linenumber, l_quantity, l_extendedprice, l_discount, "
                "l_tax, l_returnflag, l_linestatus, l_shipdate",
}

# primary key per replayed table: orders the row_number() windows so the
# replayed slice (and the interleave shuffle's __rn keys) are identical
# across DuckDB versions/settings
KEY = {
    "events": "event_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
    "lineitem": "l_orderkey, l_linenumber",
}

con = duckdb.connect()

stats = {}
for t in TABLES:
    src = f"{SRC}/{t}.parquet"
    if not os.path.exists(src):
        continue
    if t in REPLAY:
        # original bag UNION ALL the replayed slice, scrambled so copies
        # arrive interleaved like a real overlapping backfill
        con.sql(f"""
          COPY (
            SELECT * EXCLUDE (__rn) FROM (
              SELECT *, row_number() OVER (ORDER BY {KEY[t]}) AS __rn
              FROM '{src}'
              UNION ALL
              SELECT {REPLAY[t]},
                     row_number() OVER (ORDER BY {KEY[t]}) + {OFF} AS __rn
              FROM (SELECT *, row_number() OVER (ORDER BY {KEY[t]}) AS __r0
                    FROM '{src}')
              WHERE __r0 % 7 = 3
            ) ORDER BY md5(CAST(__rn AS VARCHAR)))
          TO '{DST}/{t}.parquet' (FORMAT PARQUET)""")
        n0 = con.sql(f"SELECT COUNT(*) FROM '{src}'").fetchone()[0]
        n1 = con.sql(f"SELECT COUNT(*) FROM '{DST}/{t}.parquet'").fetchone()[0]
        stats[t] = {"rows": n1, "replayed": n1 - n0}
    else:
        con.sql(f"COPY (SELECT * FROM '{src}') TO '{DST}/{t}.parquet' "
                "(FORMAT PARQUET)")

print(f"[dup] corpus rewritten at {DST}: " + ", ".join(
    f"{t}+{v['replayed']}" for t, v in stats.items()))

r = subprocess.run([sys.executable, "scripts/check_oracle.py", DST,
                    f"{DST}/verify_out"], cwd=REPO,
                   capture_output=True, text=True)
sys.stdout.write(r.stdout)
sys.stderr.write(r.stderr[-2000:] if r.returncode else "")

lines = r.stdout.splitlines()
# ADVICE r12 (same pattern as retype_check): a crashed gate must not
# write an artifact that reads as clean — record the exit code and gate
# on per-query coverage of the declared oracle inventory.
try:
    n_declared = len(json.load(open(f"{DST}/verify_out/oracle_sql.json")))
except Exception:
    n_declared = -1
summary = {
    "src_sf": SRC,
    "replayed_tables": stats,
    "returncode": r.returncode,
    "n_declared": n_declared,
    "n_ok": sum(1 for l in lines if l.startswith("[ok]")),
    "n_fail": sum(1 for l in lines if l.startswith("[FAIL]")),
    "failed": [l.split()[1].rstrip(":") for l in lines
               if l.startswith("[FAIL]")],
}
summary["complete"] = (n_declared > 0
                       and summary["n_ok"] + summary["n_fail"] >= n_declared)
with open(REPO / "DUPCHECK.json", "w") as f:
    json.dump(summary, f, indent=1)
print(f"[dup] summary -> DUPCHECK.json "
      f"({summary['n_ok']} ok, {summary['n_fail']} fail, "
      f"complete={summary['complete']})")
sys.exit(r.returncode or (0 if summary["complete"] else 3))
