#!/usr/bin/env python3
"""Memory-pressure soak: run the FULL 138-query inventory at a soak tier
inside deliberately small per-task-slot memory and prove the engine
degrades by SPILLING, not by dying — and that the spilled run produces
BIT-IDENTICAL results to the unconstrained one.

SCALING.md claims every operator's aggregation state is bounded and its
shuffles spill-safe; the scale soaks measure TIME growth but run in the
default 8 GiB heap, so an operator that quietly needs corpus-sized
execution memory would pass them on this box and OOM on a real, memory-
constrained executor. The governing quantity is MEMORY PER TASK SLOT
(what a real cluster provisions per core): the ladder tightens heap at
local[32] — 2 GiB/32 slots is ~32 MiB of unified memory per slot — and
its last rung keeps a small heap but realistic per-slot provisioning
(4 GiB / 8 slots ≈ 512 MiB/slot, the shape of a memory-lean executor).
Per attempt it records:

  - whether the JVM survived (Spark halts the JVM with exit 52 on an
    executor-thread OOM; a GC-thrash timeout also counts as death),
  - wall seconds,
  - Verify's metrics.json: bytes spilled and the peak per-task
    execution memory, with per-query attribution (top spillers and the
    largest single-task acquisitions).

Then an 8 GiB / 32-slot reference Verify runs on the same corpus and
every query's output is compared as a MULTISET via DuckDB (symmetric
EXCEPT ALL over name-aligned columns — NaN/NULL-safe, and fast enough
for corpus-sized outputs at sf10): a spill path that corrupts, drops or
duplicates rows fails here. Value correctness of the unconstrained path
itself is the standing DuckDB-parity gates' job.

Both runs set GRAFT_VERIFY_NO_COALESCE=1: Verify's one-file-per-query
dump convenience otherwise funnels corpus-sized outputs through a single
task (measured 1.6 GB peak on plain projection queries at sf10 — the
dump, not the operators).

Measured findings this script exists to keep true:
  - sf1: the FIRST rung (2 GiB / 32 slots) survives, ~2.4 GB spilled,
    ~1.05-1.3x the zero-spill 8 GiB wall, 138/138 bit-identical.
  - sf10f (100x bench): every 32-slot rung dies (64-128 MB/slot — far
    below any real executor), and 512 MB/slot (4g/8) is the measured
    BOUNDARY: one run survived the whole inventory (~190 GB spilled,
    0 query errors), a repeat OOM'd 17 min in — provision above it.

Usage: python3 scripts/memory_soak.py [sf_dir]  (default target/sf1;
       generate tiers via scripts/full_soak.py [--sf10] first)
Artifact: MEMSOAK.json (sf1) / MEMSOAK_<tier>.json (other tiers)
"""
import json
import os
import re
import subprocess
import sys
import tempfile
import time
from pathlib import Path

import duckdb
import pyarrow.parquet as pq

REPO = Path(__file__).resolve().parents[1]
SF = sys.argv[1] if len(sys.argv) > 1 else f"{REPO}/target/sf1"
# (heap, task slots): tighten heap at full width first, then the
# realistic memory-lean-executor shape (small heap, fewer slots).
# Override with GRAFT_MEMSOAK_LADDER="6g:8,8g:8" to probe a boundary
# without re-running rungs already known to fail.
LADDER = [("2g", "32"), ("3g", "32"), ("4g", "32"), ("4g", "8")]
if os.environ.get("GRAFT_MEMSOAK_LADDER"):
    LADDER = [tuple(x.split(":"))
              for x in os.environ["GRAFT_MEMSOAK_LADDER"].split(",")]
REF = ("8g", "32")
ATTEMPT_TIMEOUT_SEC = 2400
# tier-named artifact: target/sf1 -> MEMSOAK.json (the standing gate),
# anything else -> MEMSOAK_<tier>.json (e.g. the sf10f extension)
_tier = os.path.basename(SF.rstrip("/"))
ARTIFACT = (f"{REPO}/MEMSOAK.json" if _tier == "sf1"
            else f"{REPO}/MEMSOAK_{_tier}.json")


def verify(heap, cpus, outdir):
    env = dict(os.environ, SPARK_DRIVER_MEM=heap, SPARK_GRAFT_CPUS=cpus,
               GRAFT_VERIFY_NO_COALESCE="1")
    t0 = time.time()
    try:
        r = subprocess.run(
            ["sbt", "-batch", f"runMain graft.Verify {SF} {outdir}"],
            cwd=REPO, env=env, capture_output=True, text=True,
            timeout=ATTEMPT_TIMEOUT_SEC)
        rc, tail = r.returncode, (r.stdout[-1500:] + r.stderr[-1500:])
        # BOTH streams: Verify prints its breadcrumbs to ITS stderr, but
        # sbt re-emits the runMain process's stderr as '[error]'-tagged
        # lines on sbt's own STDOUT — a stderr-only scrape sees nothing
        # (the r15 2g/8 rung died exit-52 with died_during=None that way)
        crumb_src = (r.stdout or "") + "\n" + (r.stderr or "")
    except subprocess.TimeoutExpired as e:
        rc, tail = -9, f"TIMEOUT after {ATTEMPT_TIMEOUT_SEC}s: " + str(
            (e.stdout or b"")[-800:])
        def _s(x):
            return (x.decode("utf-8", "replace")
                    if isinstance(x, bytes) else (x or ""))
        crumb_src = _s(e.stdout) + "\n" + _s(e.stderr)
    wall = round(time.time() - t0, 1)
    # Attribute a JVM-level halt (Spark exits 52 on an executor-thread
    # OOM before Verify's per-query catch can run) to the query that was
    # running: Verify prints a `[verify] running <name>` breadcrumb to
    # stderr for exactly this (VERDICT r13 item 2 — the sf10f ladder's
    # dead rungs carried no attribution).
    crumbs = re.findall(r"\[verify\] running (\S+)", crumb_src)
    died_during = crumbs[-1] if crumbs else None
    # a query-level failure (errors.json non-empty) is a FAIL even if the
    # JVM exits 0 — Verify catches per-query Throwables incl. OOMs
    errs = {}
    try:
        errs = json.load(open(f"{outdir}/errors.json"))
    except Exception:
        pass
    metrics = None
    try:
        metrics = json.load(open(f"{outdir}/metrics.json"))
        pq_map = metrics.pop("per_query", {})
        metrics["top_spill"] = dict(sorted(
            ((k, v["spill"]) for k, v in pq_map.items()),
            key=lambda kv: -kv[1])[:5])
        metrics["top_peak_task_mem"] = dict(sorted(
            ((k, v["peak_task_mem"]) for k, v in pq_map.items()),
            key=lambda kv: -kv[1])[:5])
    except Exception:
        pass
    ok = rc == 0 and not errs and metrics is not None
    att = {"heap": heap, "slots": int(cpus), "survived": ok,
           "wall_sec": wall, "query_errors": list(errs)[:10],
           "metrics": metrics}
    if not ok:
        att["tail"] = tail[-800:]
        att["died_during"] = died_during
    return att


def multiset_equal(con, a_dir, b_dir):
    """DuckDB multiset compare of two parquet outputs (file or dir),
    columns aligned by name. Returns (equal, detail)."""
    def rel(path):
        return (f"read_parquet('{path}/*.parquet')" if os.path.isdir(path)
                else f"read_parquet('{path}')")
    ca = sorted(pq.read_schema(_one_file(a_dir)).names)
    cb = sorted(pq.read_schema(_one_file(b_dir)).names)
    if ca != cb:
        return False, f"schema {ca} vs {cb}"
    cols = ", ".join(f'"{c}"' for c in ca)
    q = (f"SELECT (SELECT COUNT(*) FROM (SELECT {cols} FROM {rel(a_dir)} "
         f"EXCEPT ALL SELECT {cols} FROM {rel(b_dir)})) + "
         f"(SELECT COUNT(*) FROM (SELECT {cols} FROM {rel(b_dir)} "
         f"EXCEPT ALL SELECT {cols} FROM {rel(a_dir)}))")
    n_diff = con.sql(q).fetchone()[0]
    return n_diff == 0, f"{n_diff} multiset-different rows"


def _one_file(path):
    if os.path.isdir(path):
        for f in sorted(os.listdir(path)):
            if f.endswith(".parquet"):
                return f"{path}/{f}"
    return path


def main():
    if not os.path.isdir(f"{SF}/embeddings.parquet") and \
       not os.path.exists(f"{SF}/embeddings.parquet"):
        sys.exit(f"[memsoak] corpus missing at {SF} — run full_soak.py first")
    attempts = []
    green = None
    for heap, cpus in LADDER:
        out = tempfile.mkdtemp(prefix=f"graft-memsoak-{heap}x{cpus}-")
        print(f"[memsoak] Verify at {heap} / {cpus} slots ...", flush=True)
        att = verify(heap, cpus, out)
        attempts.append(att)
        print(f"[memsoak] {heap}/{cpus}: survived={att['survived']} "
              f"wall={att['wall_sec']}s metrics={att['metrics']}", flush=True)
        if att["survived"]:
            green = (f"{heap}/{cpus}slots", out)
            break
    # No green rung → the reference has nothing to compare against: skip
    # the (up to ~40 min at sf10) run and record reference: null
    # (ADVICE r13). ok is already False either way.
    if green is None:
        ref, ref_out = None, None
        print("[memsoak] every ladder rung died — skipping the reference "
              "run (nothing to compare)", flush=True)
    else:
        print(f"[memsoak] reference Verify at {REF[0]} / {REF[1]} slots ...",
              flush=True)
        ref_out = tempfile.mkdtemp(prefix="graft-memsoak-ref-")
        ref = verify(REF[0], REF[1], ref_out)
        print(f"[memsoak] ref {REF[0]}/{REF[1]}: survived={ref['survived']} "
              f"wall={ref['wall_sec']}s metrics={ref['metrics']}", flush=True)

    # multiset bit-identity of the constrained run vs the reference
    n_same = 0
    divergent = []
    if green and ref and ref["survived"]:
        con = duckdb.connect()
        _, out = green
        names = sorted(d for d in os.listdir(ref_out)
                       if os.path.isdir(f"{ref_out}/{d}"))
        for name in names:
            try:
                eq, detail = multiset_equal(con, f"{ref_out}/{name}",
                                            f"{out}/{name}")
                if eq:
                    n_same += 1
                else:
                    divergent.append({"q": name, "why": detail})
            except Exception as e:
                divergent.append({"q": name,
                                  "why": f"EXC {type(e).__name__}: {e}"})
        for d in divergent:
            print(f"[MEMSOAK-DIVERGENT] {d['q']}: {d['why'][:300]}")

    summary = {
        "sf_dir": SF,
        "attempts": attempts,
        "reference": ref,
        "min_green": green[0] if green else None,
        "n_identical_to_reference": n_same,
        "n_divergent": len(divergent),
        "divergent": [d["q"] for d in divergent][:10],
        "wall_ratio_vs_ref": (round(attempts[-1]["wall_sec"] /
                                    ref["wall_sec"], 3)
                              if green and ref and ref["survived"] else None),
        "ok": bool(green) and bool(ref) and ref["survived"] and
              not divergent and n_same > 0,
    }
    with open(ARTIFACT, "w") as f:
        json.dump(summary, f, indent=1)
    print(f"[memsoak] -> {os.path.basename(ARTIFACT)} (min green: "
          f"{summary['min_green']}, {n_same} identical, "
          f"{len(divergent)} divergent, ok={summary['ok']})")
    sys.exit(0 if summary["ok"] else 1)


if __name__ == "__main__":
    main()
