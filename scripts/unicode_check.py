#!/usr/bin/env python3
"""Robustness check: degenerate-TEXT corpus (VERDICT r9 item 2).

The NULL/empty/skew/layout gates never touch text pathology, yet the
codegen text expressions (NgramShingles, TokenStats, ShingleRepetition,
Md5Hash60 over shingles) do byte/char-level work exactly where engines
most often diverge (UTF-8 code points vs UTF-16 units vs graphemes,
regex over astral-plane chars, whitespace classes). This gate rewrites
`documents.text` with deterministic unicode pathologies and re-runs the
full oracle gate on the rewritten copy — both engines see the same
bytes, so every query must still hash-match.

Pathology classes, keyed on doc_id % 13 (deterministic, corpus-stable):
  0  emoji/ZWJ prefix: family + rainbow-flag ZWJ sequences, astral plane
  3  RTL/bidi suffix: Arabic + Hebrew with an RLO..PDF override span
  5  repaired lone surrogates: U+FFFD replacement chars woven in (valid
     parquet cannot carry a real lone surrogate; repair-to-FFFD is what
     any ingest would produce)
  7  whitespace-only doc: spaces/tab/newline/NBSP — zero real tokens
  9  100 kB single-token doc: one unbroken token (shingle windows,
     length stats, and hashing over a degenerate token stream)
  11 combining marks (zalgo) on the first word + CJK no-space append

n_chars is recomputed as the new code-point count (FIXTURES contract:
n_chars matches text length; Python len == Spark length == DuckDB
length == code points — verified). All other tables byte-copied.

Usage: python3 scripts/unicode_check.py [src_sf_dir]
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
DST = tempfile.mkdtemp(prefix="graft-unicode-")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# All pathology chars via explicit escapes (no invisible source literals):
# \u200d=ZWJ  \ufe0f=VS16  \u202e/\u202c=RLO/PDF  \ufffd=replacement
ZWJ_PREFIX = ("\U0001F468\u200d\U0001F469\u200d\U0001F467\u200d\U0001F466 "
              "\U0001F3F3\ufe0f\u200d\U0001F308 ")
BIDI_SUFFIX = (" \u202e\u0634\u0645\u0627\u0644\u202c"
               " \u05e9\u05b8\u05c1\u05dc\u05d5\u05b9\u05dd")
ZALGO = "\u0301\u0302\u0303\u0316\u0317"
CJK = "\u65e5\u672c\u8a9e\u4e2d\u6587\ud55c\uad6d\uc5b4"
WS_ONLY = " \t\n \u00a0 \u3000 \t "
BIG_TOKEN = ("abcdefghij" * 10000)  # 100 kB, one unbroken token


def pathologize(doc_id, text):
    k = doc_id % 13
    if k == 0:
        return ZWJ_PREFIX + text
    if k == 3:
        return text + BIDI_SUFFIX
    if k == 5:
        toks = text.split(" ")
        mid = len(toks) // 2
        return " ".join(toks[:mid] + ["\ufffd\ufffdbad\ufffd"] + toks[mid:])
    if k == 7:
        return WS_ONLY
    if k == 9:
        # doc_id suffix keeps the docs DISTINCT while preserving the
        # pathology (one unbroken 100 kB token): identical big docs
        # formed an accidental exact-dup pile whose C(38,2)=703 pairs of
        # 100k-element exact-Jaccard intersects cost the ORACLE side
        # alone ~650 s (measured — 60% of the whole gate's wall; the
        # engine side handles the pile fine). Dup piles are SKEWCHECK's
        # axis, at realistic doc sizes; this gate's axis is per-doc text
        # pathology.
        return f"{BIG_TOKEN}{doc_id}"
    if k == 11:
        toks = text.split(" ", 1)
        zalgoed = "".join(ch + ZALGO for ch in toks[0])
        rest = (" " + toks[1]) if len(toks) > 1 else ""
        return zalgoed + rest + " " + CJK
    return text


counts = {}
for t in TABLES:
    src = f"{SRC}/{t}.parquet"
    if not os.path.exists(src):
        continue
    if t != "documents":
        shutil.copyfile(src, f"{DST}/{t}.parquet")
        continue
    tbl = pq.read_table(src)
    ids = tbl.column("doc_id").to_pylist()
    texts = tbl.column("text").to_pylist()
    new_texts = [None if tx is None else pathologize(i, tx)
                 for i, tx in zip(ids, texts)]
    new_nchars = [None if tx is None else len(tx) for tx in new_texts]
    cols = {}
    for name in tbl.column_names:
        if name == "text":
            cols[name] = pa.array(new_texts, type=pa.string())
        elif name == "n_chars":
            cols[name] = pa.array(new_nchars, type=pa.int64())
        else:
            cols[name] = tbl.column(name)
    out = pa.table(cols, schema=tbl.schema)
    pq.write_table(out, f"{DST}/{t}.parquet")
    for i, tx in zip(ids, texts):
        if tx is not None:
            k = i % 13
            if k in (0, 3, 5, 7, 9, 11):
                counts[k] = counts.get(k, 0) + 1
    print(f"[unicode] documents: rewrote text/n_chars; class counts {counts}")

print(f"[unicode] corpus rewritten with text pathologies at {DST}")

r = subprocess.run([sys.executable, "scripts/check_oracle.py", DST,
                    f"{DST}/verify_out"], cwd=REPO,
                   capture_output=True, text=True)
sys.stdout.write(r.stdout)
sys.stderr.write(r.stderr[-2000:] if r.returncode else "")

lines = r.stdout.splitlines()
summary = {
    "src_sf": SRC,
    "pathology_classes": {
        "0": "emoji/ZWJ prefix", "3": "RTL/bidi override suffix",
        "5": "U+FFFD repaired lone surrogates", "7": "whitespace-only",
        "9": "100 kB single token", "11": "zalgo + CJK no-space"},
    "class_counts": {str(k): v for k, v in sorted(counts.items())},
    "n_ok": sum(1 for l in lines if l.startswith("[ok]")),
    "n_fail": sum(1 for l in lines if l.startswith("[FAIL]")),
    "failed": [l.split()[1].rstrip(":") for l in lines
               if l.startswith("[FAIL]")],
}
with open(REPO / "UNICODECHECK.json", "w") as f:
    json.dump(summary, f, indent=1)
print(f"[unicode] summary -> UNICODECHECK.json "
      f"({summary['n_ok']} ok, {summary['n_fail']} fail)")
sys.exit(r.returncode)
