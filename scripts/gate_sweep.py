#!/usr/bin/env python3
"""End-of-round gate sweep (VERDICT r12 item 6).

Regenerates EVERY corpus-gate artifact from its committed script at the
current HEAD, plus the two streaming gates (replay parity, eviction
reclaim) and the bounded-state stream soak, so a round can never ship a
query-semantics change with stale *CHECK.json evidence. Runs gates
SEQUENTIALLY (each spins its own local Spark) and writes a one-line
summary to GATESWEEP.json recording, per gate, the exit code and wall
seconds. Exits non-zero if any gate failed.

Usage: python3 scripts/gate_sweep.py [--skip-streams]
  --skip-streams  corpus gates only (the streaming gates add ~3 min)
"""
import json, subprocess, sys, time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
# generous vs the slowest recorded gate (UNICODECHECK ~18 min): a gate
# that triples its own record is hung, not slow
GATE_TIMEOUT_SEC = int(__import__("os").environ.get(
    "GRAFT_GATE_TIMEOUT_SEC", 3600))

CORPUS_GATES = [
    ("EMPTYCHECK",   [sys.executable, "scripts/empty_check.py"]),
    ("SKEWCHECK",    [sys.executable, "scripts/skew_check.py"]),
    ("UNICODECHECK", [sys.executable, "scripts/unicode_check.py"]),
    ("JSONCHECK",    [sys.executable, "scripts/json_check.py"]),
    ("VECCHECK",     [sys.executable, "scripts/vector_check.py"]),
    ("NUMCHECK",     [sys.executable, "scripts/numeric_check.py"]),
    ("TIMECHECK",    [sys.executable, "scripts/time_check.py"]),
    ("DATECHECK",    [sys.executable, "scripts/date_check.py"]),
    ("NULLCHECK",    [sys.executable, "scripts/null_check.py"]),
    ("DUPCHECK",     [sys.executable, "scripts/dup_check.py"]),
    ("RETYPECHECK",  [sys.executable, "scripts/retype_check.py"]),
    ("LAYOUTCHECK",  [sys.executable, "scripts/layout_check.py"]),
]

STREAM_GATES = [
    ("STREAMREPLAY", ["sbt", "-batch", "runMain graft.tools.StreamReplay"]),
    ("STREAMLATE",   ["sbt", "-batch", "runMain graft.tools.StreamLate"]),
    ("EVICTCHECK",   ["sbt", "-batch", "runMain graft.tools.EvictProof"]),
    ("STREAMSOAK",   ["sbt", "-batch", "runMain graft.tools.StreamSoak"]),
]


def main():
    gates = list(CORPUS_GATES)
    if "--skip-streams" not in sys.argv:
        gates += STREAM_GATES
    results = {}
    fail = 0
    for name, cmd in gates:
        t0 = time.time()
        print(f"[sweep] {name} ...", flush=True)
        # Per-gate timeout (ADVICE r13): a hung streaming gate
        # (processAllAvailable can block forever on a stuck query) must
        # not stall the sweep and leave stale GATESWEEP.json evidence —
        # record the timeout as a failure and keep going. Each gate runs
        # in its OWN session/process group (ADVICE r14): sbt/JVM
        # grandchildren outlive a kill of the direct child and would
        # contend CPU with every later gate (skewing timings toward
        # false failures) and hold staged-table write locks — on timeout
        # the whole group is killed before moving on.
        p = subprocess.Popen(cmd, cwd=REPO, stdout=subprocess.PIPE,
                             stderr=subprocess.PIPE, text=True,
                             start_new_session=True)
        try:
            out, err = p.communicate(timeout=GATE_TIMEOUT_SEC)
            rc, timed_out = p.returncode, False
        except subprocess.TimeoutExpired:
            rc, timed_out = -9, True
            try:
                import os, signal
                os.killpg(os.getpgid(p.pid), signal.SIGKILL)
            except (ProcessLookupError, PermissionError):
                pass
            try:
                out, err = p.communicate(timeout=30)
            except subprocess.TimeoutExpired:
                out, err = "", ""
            out, err = out or "", err or ""
        dt = round(time.time() - t0, 1)
        ok = rc == 0
        if not ok:
            fail += 1
            sys.stdout.write(out[-3000:])
            sys.stderr.write(err[-2000:])
        results[name] = {"rc": rc, "sec": dt, "timed_out": timed_out}
        print(f"[sweep] {name}: "
              f"{'ok' if ok else ('TIMEOUT' if timed_out else 'FAIL')} "
              f"({dt}s)", flush=True)
    summary = {"gates": results, "n_fail": fail,
               "all_ok": fail == 0}
    with open(f"{REPO}/GATESWEEP.json", "w") as f:
        json.dump(summary, f, indent=1)
    print(f"[sweep] {len(gates) - fail}/{len(gates)} gates green "
          f"-> GATESWEEP.json")
    sys.exit(1 if fail else 0)


if __name__ == "__main__":
    main()
