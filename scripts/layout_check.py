#!/usr/bin/env python3
"""Robustness check: rewrite the corpus with a different PHYSICAL LAYOUT
— the two lossless rewrites every lakehouse maintenance job produces —
and prove the full query inventory is layout-blind:

  1. row order SHUFFLED deterministically (ORDER BY md5 of the whole
     row): compaction, clustering, re-ingest and distributed writers all
     reorder rows freely; no operator may depend on physical row order
     (seeded-hash sampling, first-seen/earlier-doc semantics, ties,
     top-k must all be keyed on DATA, never on position), and
  2. each table split into MANY SMALL FILES (small row groups +
     FILE_SIZE_BYTES): the file count is the unit of scan parallelism,
     and `Tables.spread` keys its adaptive post-scan repartition on it —
     a multi-file corpus must take the no-exchange path and still
     produce identical results.

Two gates run against the re-laid-out copy:
  a. the full DuckDB oracle parity sweep (both engines read the same
     re-laid-out files), and
  b. a CROSS-LAYOUT bit-identity sweep: every query's output on the
     shuffled multi-file corpus must equal its output on the pristine
     single-file corpus exactly (columns name-sorted, rows sorted — the
     driver-harness compare), because the rewrite changed no VALUES.
     DuckDB parity alone is blind to order-dependence both engines
     share; (b) is the check that catches it.

Supersedes the early `shuffle_check.py` (row shuffle only, sf0.001,
DuckDB parity only, no artifact): parity alone cannot catch an
order-dependence both engines share, and a single-file rewrite never
exercises the multi-file scan path or the adaptive spread heuristic.

Usage: python3 scripts/layout_check.py [src_sf_dir]
Artifact: LAYOUTCHECK.json
"""
import json
import os
import subprocess
import sys
import tempfile
from pathlib import Path

import duckdb
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import check_oracle as co  # norm / row_key — the driver-harness compare

REPO = Path(__file__).resolve().parents[1]
SRC = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
DST = tempfile.mkdtemp(prefix="graft-relayout-")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

con = duckdb.connect()

stats = {}
for t in TABLES:
    src = f"{SRC}/{t}.parquet"
    if not os.path.exists(src):
        continue
    dst = f"{DST}/{t}.parquet"
    # ORDER BY md5(row) is a deterministic full shuffle: same corpus in,
    # same (scrambled) order out — reproducible across runs for debugging.
    # Splitting happens at row-group boundaries, so the row group must be
    # sized per table (a fixed 2048 left the 500-row documents table — a
    # spread-heuristic table, the whole point of the multi-file axis —
    # in one file); n/12 + a tiny FILE_SIZE_BYTES forces ~12 files per
    # table regardless of its row count or width.
    n_rows = con.sql(f"SELECT count(*) FROM read_parquet('{src}')").fetchone()[0]
    if n_rows < 4096:
        # DuckDB clamps row groups to its 2048-row vector granularity, so
        # FILE_SIZE_BYTES cannot split a small table (documents/embeddings
        # — the spread-heuristic tables this axis exists for). Chunk by
        # hand: 8 part files sliced from the one deterministic ordering.
        os.makedirs(dst, exist_ok=True)
        k = min(8, max(1, n_rows // 16))
        per = -(-n_rows // k)  # ceil
        for i in range(k):
            con.sql(f"COPY (SELECT * FROM read_parquet('{src}') t "
                    f"ORDER BY md5(CAST(t AS VARCHAR)) "
                    f"LIMIT {per} OFFSET {i * per}) "
                    f"TO '{dst}/part-{i:02d}.parquet' (FORMAT PARQUET)")
    else:
        rg = max(2048, n_rows // 12)
        con.sql(f"COPY (SELECT * FROM read_parquet('{src}') t "
                f"ORDER BY md5(CAST(t AS VARCHAR))) TO '{dst}' "
                f"(FORMAT PARQUET, ROW_GROUP_SIZE {rg}, FILE_SIZE_BYTES 1024)")
    n_files = len([f for f in os.listdir(dst) if f.endswith(".parquet")])
    stats[t] = {"files": n_files, "rows_shuffled": True}

print("[layout] corpus re-laid-out at " + DST + ": " +
      ", ".join(f"{t}[{v['files']}f]" for t, v in stats.items()))

# Gate (a): full oracle parity on the re-laid-out corpus (runs Verify
# against DST, then DuckDB over the same files).
r = subprocess.run([sys.executable, "scripts/check_oracle.py", DST,
                    f"{DST}/verify_out"], cwd=REPO,
                   capture_output=True, text=True)
sys.stdout.write(r.stdout)
sys.stderr.write(r.stderr[-2000:] if r.returncode else "")

lines = r.stdout.splitlines()
try:
    n_declared = len(json.load(open(f"{DST}/verify_out/oracle_sql.json")))
except Exception:
    n_declared = -1  # Verify never wrote the inventory — crashed

# Gate (b): the pristine corpus's outputs, for the cross-layout
# bit-identity sweep. Verify only — DuckDB parity of the pristine corpus
# is the standing CORRECTNESS gate, no need to repeat it here.
BASE = f"{DST}/verify_base"
rb = subprocess.run(["sbt", "-batch", f"runMain graft.Verify {SRC} {BASE}"],
                    cwd=REPO,
                    env=dict(os.environ, SPARK_GRAFT_CPUS="8"),
                    capture_output=True, text=True)
if rb.returncode != 0:
    print(rb.stdout[-3000:])
    print(rb.stderr[-2000:])


def sorted_rows(outdir, name):
    tbl = pq.read_table(f"{outdir}/{name}", coerce_int96_timestamp_unit="us")
    cols = sorted(tbl.column_names)
    rows = [tuple(co.norm(row[c]) for c in cols) for row in tbl.to_pylist()]
    return cols, sorted(rows, key=co.row_key)


n_same = 0
divergent = []
base_queries = sorted(d for d in os.listdir(BASE)
                      if os.path.isdir(f"{BASE}/{d}")) if rb.returncode == 0 else []
for name in base_queries:
    try:
        bc, br = sorted_rows(BASE, name)
        lc, lr = sorted_rows(f"{DST}/verify_out", name)
        if bc != lc:
            divergent.append({"q": name, "why": f"schema {bc} vs {lc}"})
        elif br != lr:
            i = next(i for i, (a, b) in enumerate(
                zip(br + [None] * len(lr), lr + [None] * len(br))) if a != b)
            divergent.append({"q": name, "why":
                              f"row {i}: pristine={br[i] if i < len(br) else 'absent'}"
                              f" relayout={lr[i] if i < len(lr) else 'absent'}"})
        else:
            n_same += 1
    except Exception as e:
        divergent.append({"q": name, "why": f"EXC {type(e).__name__}: {e}"})
for d in divergent:
    print(f"[LAYOUT-DIVERGENT] {d['q']}: {d['why'][:400]}")

summary = {
    "src_sf": SRC,
    "layout": stats,
    "returncode": r.returncode,
    "base_verify_returncode": rb.returncode,
    "n_declared": n_declared,
    "n_ok": sum(1 for l in lines if l.startswith("[ok]")),
    "n_fail": sum(1 for l in lines if l.startswith("[FAIL]")),
    "failed": [l.split()[1].rstrip(":") for l in lines
               if l.startswith("[FAIL]")],
    "n_identical_to_pristine": n_same,
    "n_divergent": len(divergent),
    "divergent": [d["q"] for d in divergent],
}
summary["complete"] = (n_declared > 0
                       and summary["n_ok"] + summary["n_fail"] >= n_declared
                       and rb.returncode == 0
                       and n_same + len(divergent) >= len(base_queries) > 0)
with open(REPO / "LAYOUTCHECK.json", "w") as f:
    json.dump(summary, f, indent=1)
print(f"[layout] summary -> LAYOUTCHECK.json "
      f"({summary['n_ok']} ok, {summary['n_fail']} fail, "
      f"{n_same} bit-identical, {len(divergent)} divergent, "
      f"complete={summary['complete']})")
sys.exit(r.returncode or (0 if summary["complete"] and not divergent else 3))
