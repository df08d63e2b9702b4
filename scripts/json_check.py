#!/usr/bin/env python3
"""Robustness check: pathological-JSON corpus over `events.props`.

The unicode gate stresses documents.text; nothing stressed the JSON
parse path (q18/q19/q60/q66) where engine semantics diverge hardest:
DuckDB's json_extract_string THROWS on malformed input while Spark's
parsers return NULL, ANSI CAST of a non-numeric extract throws where
TRY_CAST returns NULL, typed from_json maps NULL the whole document on
one bad value, and get_json_object's streaming early-exit can "extract"
from truncated JSON that DuckDB rejects outright. At 100 TB of scraped
data, malformed JSON is the NORM for some sources — the parse path must
degrade to NULLs identically in both engines, never crash the job.

This gate rewrites ONLY events.props with deterministic pathologies and
re-runs the full oracle gate on the rewritten copy — both engines see
the same bytes, so every query must still hash-match.

Pathology classes, keyed on event_id % 13 (deterministic):
   0  truncated object:   {"k": 4        (unterminated — parsers differ
                                          on whether a trailing number
                                          token is recoverable)
   1  plain garbage:      not json at all
   2  empty string
   3  JSON null literal:  null           (VALID json, not an object)
   4  wrong-typed value:  {"k": "str12"} (cast must NULL, not throw)
   5  extra keys:         {"a": 1, "k": 7, "zz": 3}  (key order, multi-
                                          value joins)
   6  nested object:      {"k": {"deep": 1}}  (raw-text extraction
                                          renders differently per engine;
                                          must die in try_cast, not leak)
   7  int64 overflow:     {"k": 12345678901234567890123}  (DuckDB renders
                                          1.23e22, Spark keeps raw digits
                                          — both must TRY_CAST to NULL)
   8  escaped unicode:    {"k": "\\u00e9\\ud83d\\ude00"}  (escape decode,
                                          then non-numeric NULL)
   9  whitespace-padded:  ___{"k": 5}___ (valid in both)
  10  null-valued key:    {"k": null}
  11  empty object:       {}             (empty key list is '' not NULL)
  12  untouched           {"k": <n>}

All other tables and columns are byte-copied.

Usage: python3 scripts/json_check.py [src_sf_dir]
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

REPO = Path(__file__).resolve().parents[1]
SRC = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
DST = tempfile.mkdtemp(prefix="graft-json-")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

CLASSES = {
    0: lambda p: '{"k": 4',
    1: lambda p: 'not json at all',
    2: lambda p: '',
    3: lambda p: 'null',
    4: lambda p: '{"k": "str12"}',
    5: lambda p: '{"a": 1, "k": 7, "zz": 3}',
    6: lambda p: '{"k": {"deep": 1}}',
    7: lambda p: '{"k": 12345678901234567890123}',
    8: lambda p: '{"k": "\\u00e9\\ud83d\\ude00"}',
    9: lambda p: '   {"k": 5}   ',
    10: lambda p: '{"k": null}',
    11: lambda p: '{}',
}


def pathologize(event_id, props):
    f = CLASSES.get(event_id % 13)
    return props if f is None else f(props)


counts = {}
for t in TABLES:
    src = f"{SRC}/{t}.parquet"
    if not os.path.exists(src):
        continue
    if t != "events":
        shutil.copyfile(src, f"{DST}/{t}.parquet")
        continue
    tbl = pq.read_table(src)
    ids = tbl.column("event_id").to_pylist()
    props = tbl.column("props").to_pylist()
    new_props = [None if p is None else pathologize(i, p)
                 for i, p in zip(ids, props)]
    cols = {}
    for name in tbl.column_names:
        if name == "props":
            cols[name] = pa.array(new_props, type=pa.string())
        else:
            cols[name] = tbl.column(name)
    out = pa.table(cols, schema=tbl.schema)
    pq.write_table(out, f"{DST}/{t}.parquet")
    for i, p in zip(ids, props):
        if p is not None and i % 13 in CLASSES:
            counts[i % 13] = counts.get(i % 13, 0) + 1
    print(f"[json] events: rewrote props; class counts "
          f"{dict(sorted(counts.items()))}")

print(f"[json] corpus rewritten with JSON pathologies at {DST}")

r = subprocess.run([sys.executable, "scripts/check_oracle.py", DST,
                    f"{DST}/verify_out"], cwd=REPO,
                   capture_output=True, text=True)
sys.stdout.write(r.stdout)
sys.stderr.write(r.stderr[-2000:] if r.returncode else "")

lines = r.stdout.splitlines()
summary = {
    "src_sf": SRC,
    "pathology_classes": {
        "0": "truncated object", "1": "plain garbage", "2": "empty string",
        "3": "JSON null literal", "4": "wrong-typed value",
        "5": "extra keys", "6": "nested object value", "7": "int64 overflow",
        "8": "escaped unicode string", "9": "whitespace-padded",
        "10": "null-valued key", "11": "empty object"},
    "class_counts": {str(k): v for k, v in sorted(counts.items())},
    "n_ok": sum(1 for l in lines if l.startswith("[ok]")),
    "n_fail": sum(1 for l in lines if l.startswith("[FAIL]")),
    "failed": [l.split()[1].rstrip(":") for l in lines
               if l.startswith("[FAIL]")],
}
with open(REPO / "JSONCHECK.json", "w") as f:
    json.dump(summary, f, indent=1)
print(f"[json] summary -> JSONCHECK.json "
      f"({summary['n_ok']} ok, {summary['n_fail']} fail)")
sys.exit(r.returncode)
