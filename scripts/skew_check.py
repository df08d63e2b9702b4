#!/usr/bin/env python3
"""Robustness check: rewrite the corpus with heavy DETERMINISTIC key/value
skew and re-run the full oracle gate on the skewed copy. Both engines see
the same skewed bag, so every query must still hash-match — this probes
the hot-key production shape (one viral document template, one bot user,
one dominant source/part/customer) for correctness: hot group keys, hot
window partitions, hot join keys, giant exact/near-dup clusters, and a
packed LSH bucket all appear at once.

Skew injected (all keyed on a stable row number, so runs are identical):
  documents: every 10th doc gets doc 0's text (a corpus-wide duplicate
             cluster ~10% of the corpus -> one packed LSH/simhash
             bucket, quadratic-in-cluster pair lists); every 3rd doc
             gets source 'hot_src' (a dominant source stratum).
             n_chars follows the copied text (consistency contract).
  events:    every 3rd event gets user_id 0 (hot window partition and
             hot session/range-join key).
  orders:    every 3rd order gets o_custkey of the first customer (hot
             fact->dim join key).
  lineitem:  every 3rd row gets l_partkey of the first part (hot
             fact->dim join key + skewed groupBy).
  embeddings: every 10th vector gets vec 0's embedding (hot quantizer
             cell, cosine-1 duplicate pile).

Pair-producing queries legitimately emit O(cluster^2) rows for the
duplicate pile — that is the DATA's shape, not an engine artifact; the
check asserts both engines agree on all of it.

Usage: python3 scripts/skew_check.py [src_sf_dir]
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
DST = tempfile.mkdtemp(prefix="graft-skewed-")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

con = duckdb.connect()


def rewrite(t, select_body):
    src = f"{SRC}/{t}.parquet"
    con.sql(f"""
      COPY (SELECT {select_body} FROM
              (SELECT *, row_number() OVER () AS __rn FROM '{src}'))
      TO '{DST}/{t}.parquet' (FORMAT PARQUET)""")


for t in TABLES:
    src = f"{SRC}/{t}.parquet"
    if not os.path.exists(src):
        continue
    if t == "documents":
        con.sql(f"CREATE OR REPLACE VIEW d0 AS SELECT text AS t0 FROM '{src}' "
                "ORDER BY doc_id LIMIT 1")
        rewrite(t, """
          doc_id,
          CASE WHEN __rn % 10 = 3 THEN (SELECT t0 FROM d0) ELSE text END AS text,
          lang,
          CASE WHEN __rn % 3 = 1 THEN 'hot_src' ELSE source END AS source,
          CASE WHEN __rn % 10 = 3 THEN length((SELECT t0 FROM d0))
               ELSE n_chars END AS n_chars""")
    elif t == "events":
        rewrite(t, """
          event_id, ts,
          CASE WHEN __rn % 3 = 1 THEN CAST(0 AS BIGINT) ELSE user_id END AS user_id,
          event_type, value, props""")
    elif t == "orders":
        con.sql(f"CREATE OR REPLACE VIEW c0 AS SELECT MIN(o_custkey) AS k "
                f"FROM '{src}'")
        rewrite(t, """
          o_orderkey,
          CASE WHEN __rn % 3 = 1 THEN (SELECT k FROM c0) ELSE o_custkey END AS o_custkey,
          o_orderstatus, o_totalprice, o_orderdate, o_orderpriority""")
    elif t == "lineitem":
        con.sql(f"CREATE OR REPLACE VIEW p0 AS SELECT MIN(l_partkey) AS k "
                f"FROM '{src}'")
        rewrite(t, """
          l_orderkey,
          CASE WHEN __rn % 3 = 1 THEN (SELECT k FROM p0) ELSE l_partkey END AS l_partkey,
          l_suppkey, l_linenumber, l_quantity, l_extendedprice, l_discount,
          l_tax, l_returnflag, l_linestatus, l_shipdate""")
    elif t == "embeddings":
        con.sql(f"CREATE OR REPLACE VIEW e0 AS SELECT embedding AS em FROM '{src}' "
                "ORDER BY vec_id LIMIT 1")
        rewrite(t, """
          vec_id,
          CASE WHEN __rn % 10 = 3 THEN (SELECT em FROM e0) ELSE embedding END
            AS embedding,
          label""")
    else:
        con.sql(f"COPY (SELECT * FROM '{src}') TO '{DST}/{t}.parquet' "
                "(FORMAT PARQUET)")

n_hot = con.sql(f"SELECT COUNT(*) FROM '{DST}/documents.parquet' d, d0 "
                "WHERE d.text = d0.t0").fetchone()[0]
print(f"[skew] corpus rewritten at {DST} (duplicate pile: {n_hot} docs)")

r = subprocess.run([sys.executable, "scripts/check_oracle.py", DST,
                    f"{DST}/verify_out"], cwd=REPO,
                   capture_output=True, text=True)
sys.stdout.write(r.stdout)
sys.stderr.write(r.stderr[-2000:] if r.returncode else "")

lines = r.stdout.splitlines()
summary = {
    "src_sf": SRC,
    "duplicate_pile_docs": n_hot,
    "n_ok": sum(1 for l in lines if l.startswith("[ok]")),
    "n_fail": sum(1 for l in lines if l.startswith("[FAIL]")),
    "failed": [l.split()[1].rstrip(":") for l in lines
               if l.startswith("[FAIL]")],
}
with open(REPO / "SKEWCHECK.json", "w") as f:
    json.dump(summary, f, indent=1)
print(f"[skew] summary -> SKEWCHECK.json "
      f"({summary['n_ok']} ok, {summary['n_fail']} fail)")
sys.exit(r.returncode)
