#!/usr/bin/env python3
"""Robustness check: rewrite the corpus with deterministic NULLs injected
into every contract-NULLABLE column and re-run the full oracle gate on
the nulled copy. Both engines see the same nulled bag, so every query
must still hash-match — this catches NULL-semantics divergence between
Spark and the DuckDB mirrors (three-valued predicates, count-vs-sum skip
rules, null group keys, size/split-of-NULL) across the whole inventory
at once, not one op at a time.

What gets nulled (every Nth row by a stable row hash, ~1 in 7):
  events.props, events.event_type, events.value
  documents.text, documents.lang, documents.source
  customer.c_mktsegment, customer.c_acctbal
  part.p_type, part.p_brand
  orders.o_orderpriority
  lineitem.l_returnflag (NULL group key exercises null-grouping)

What NEVER gets nulled — columns with an enforced non-null contract:
  - all join/id keys (doc_id, vec_id, event_id, *_key): a null key is a
    different dataset, not a robustness probe;
  - embeddings.embedding (FixedPointVectorSum raises on null by design —
    FIXTURES.md contract);
  - events.ts (watermark/window column; the streaming contract requires
    event time);
  - documents.n_chars stays consistent with text: rows whose text is
    nulled get n_chars NULL too, so the length-consistency contract
    (n_chars = length(text)) holds with NULL = NULL.

Usage: python3 scripts/null_check.py [src_sf_dir]
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
DST = tempfile.mkdtemp(prefix="graft-nulled-")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# table -> list of columns to null on the selected rows; documents.text
# drags n_chars with it (consistency contract, see module doc).
NULLED = {
    "events": ["props", "event_type", "value"],
    "documents": ["text", "lang", "source", "n_chars"],
    "customer": ["c_mktsegment", "c_acctbal"],
    "part": ["p_type", "p_brand"],
    "orders": ["o_orderpriority"],
    "lineitem": ["l_returnflag"],
}

con = duckdb.connect()
for t in TABLES:
    src = f"{SRC}/{t}.parquet"
    if not os.path.exists(src):
        continue
    cols = NULLED.get(t)
    if not cols:
        con.sql(f"COPY (SELECT * FROM '{src}') TO '{DST}/{t}.parquet' (FORMAT PARQUET)")
        continue
    # deterministic 1-in-7 selection keyed on the row number, so the same
    # rows are nulled on every run (and on re-generated corpora)
    others = con.sql(f"SELECT * FROM '{src}' LIMIT 0").columns
    select = ", ".join(
        f"CASE WHEN __rn % 7 = 3 THEN NULL ELSE \"{c}\" END AS \"{c}\""
        if c in cols else f'"{c}"'
        for c in others)
    con.sql(f"""
      COPY (SELECT {select} FROM
              (SELECT *, row_number() OVER () AS __rn FROM '{src}'))
      TO '{DST}/{t}.parquet' (FORMAT PARQUET)""")
    n = con.sql(f"SELECT COUNT(*) FROM '{DST}/{t}.parquet' "
                f"WHERE \"{cols[0]}\" IS NULL").fetchone()[0]
    print(f"[null] {t}: nulled {cols} on {n} rows")

print(f"[null] corpus rewritten with injected NULLs at {DST}")

# The sampling family raise_error-guards NULL quality scores / token
# counts / weights / strata (documented input contracts): on the nulled
# corpus the CORRECT behavior is the loud failure, not output.
# check_oracle turns these into [ok (contract raise)] and fails if any
# of them silently produces rows instead.
CONTRACT_RAISE = ",".join([
    # name=message-substring: check_oracle verifies the recorded raise IS
    # the operator's contract raise_error, not an unrelated crash
    "q114_adaptive_quality_floor=adaptiveQualityFloor: NULL score",
    "q121_token_budget_sample=tokenBudgetSample: NULL token count",
    "q122_matched_contrast_sample=matchedSample: NULL",
    "q138_pps_sample=systematicPps: NULL weight",
])

env = dict(os.environ, GRAFT_EXPECT_RAISE=CONTRACT_RAISE)
r = subprocess.run([sys.executable, "scripts/check_oracle.py", DST,
                    f"{DST}/verify_out"], cwd=REPO, env=env,
                   capture_output=True, text=True)
sys.stdout.write(r.stdout)
sys.stderr.write(r.stderr[-2000:] if r.returncode else "")

# committed artifact, house style (SOAK_sf1.json / LEAKCHECK.json)
lines = r.stdout.splitlines()
summary = {
    "src_sf": SRC,
    "nulled_columns": NULLED,
    "null_stride": 7,
    "n_ok": sum(1 for l in lines if l.startswith("[ok]")),
    "n_fail": sum(1 for l in lines if l.startswith("[FAIL]")),
    "contract_raises": CONTRACT_RAISE.split(","),
    "failed": [l.split()[1].rstrip(":") for l in lines
               if l.startswith("[FAIL]")],
}
with open(REPO / "NULLCHECK.json", "w") as f:
    json.dump(summary, f, indent=1)
print(f"[null] summary -> NULLCHECK.json "
      f"({summary['n_ok']} ok, {summary['n_fail']} fail)")
sys.exit(r.returncode)
