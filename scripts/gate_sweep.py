#!/usr/bin/env python3
"""End-of-round gate sweep (VERDICT r12 item 6).

Regenerates EVERY gate artifact at the current HEAD, so a round can never
ship a query-semantics change with stale *CHECK.json evidence:

  1. writes the drifted corpus of each selected corpus gate
     (`scripts/corpus_gates.py`);
  2. runs ONE graft.Verify over all of them, plus LAYOUTCHECK's pristine
     base corpus;
  3. replays each corpus through the DuckDB oracle in-process
     (`check_oracle.compare_corpus`);
  4. writes each <GATE>.json, then runs the streaming gates (replay
     parity, late data, eviction reclaim, bounded-state soak) one by one.

Every corpus artifact records `returncode`, `n_declared` and `complete`;
a gate passes only when it is complete and has no failures. A passing
gate's temporary corpus is deleted; a failing one's stays. A full run
writes GATESWEEP.json with, per gate, the exit code, wall seconds (its
rewrite, Verify section and compare) and whether it timed out. Exits
non-zero if any gate failed.

Usage: python3 scripts/gate_sweep.py [--skip-streams] [GATE ...]
  --skip-streams  corpus gates only (the streaming gates add ~3 min)
  GATE ...        run only these gates, e.g. NULLCHECK STREAMLATE
"""
import json, os, re, shutil, signal, subprocess, sys, tempfile, time
from pathlib import Path

import check_oracle as co
from corpus_gates import GATES, cross_layout

REPO = Path(__file__).resolve().parents[1]
# a Verify with no corpus finished in this long, or a streaming gate
# running this long, is hung, not slow (the slowest recorded gate,
# UNICODECHECK, once took ~18 min)
GATE_TIMEOUT_SEC = 3600

STREAM_GATES = [
    ("STREAMREPLAY", "graft.tools.StreamReplay"),
    ("STREAMLATE",   "graft.tools.StreamLate"),
    ("EVICTCHECK",   "graft.tools.EvictProof"),
    ("STREAMSOAK",   "graft.tools.StreamSoak"),
]


def kill_group(p):
    # sbt/JVM grandchildren outlive a kill of the direct child and would
    # contend CPU with every later gate and hold staged-table write
    # locks (ADVICE r14): kill the whole process group
    try:
        os.killpg(os.getpgid(p.pid), signal.SIGKILL)
    except (ProcessLookupError, PermissionError):
        pass
    p.wait()


def finished(out):
    return os.path.exists(f"{out}/metrics.json")  # Verify writes it last


def write_corpus(g):
    t0 = time.time()
    dst = tempfile.mkdtemp(prefix=f"graft-{g.name.lower()}-")
    stats = {}
    for t in co.TABLES:
        src = f"{g.src_sf}/{t}.parquet"
        if not os.path.exists(src):
            continue
        if t in g.rewrites:
            stats[t] = g.rewrites[t](src, f"{dst}/{t}.parquet")
        else:
            shutil.copyfile(src, f"{dst}/{t}.parquet")
    shown = {t: s for t, s in stats.items() if s is not None}
    print(f"[sweep] {g.name} corpus at {dst}: {shown}", flush=True)
    return {"g": g, "dst": dst, "out": f"{dst}/verify_out",
            "base": f"{dst}/verify_base", "stats": stats,
            "sec": time.time() - t0}


def run_verify(pairs, log):
    """One Verify over every (sf, out) pair, killed once no corpus has
    finished for GATE_TIMEOUT_SEC. Returns (exit code, timed out)."""
    cmd = ["sbt", "-batch", "runMain graft.Verify " +
           " ".join(f"{sf} {out}" for sf, out in pairs)]
    with open(log, "w") as f:
        p = subprocess.Popen(cmd, cwd=REPO, stdout=f, stderr=subprocess.STDOUT,
                             start_new_session=True)
        done, deadline = 0, time.time() + GATE_TIMEOUT_SEC
        while p.poll() is None:
            time.sleep(2)
            n = sum(finished(out) for _, out in pairs)
            if n > done:
                done, deadline = n, time.time() + GATE_TIMEOUT_SEC
            elif time.time() > deadline:
                kill_group(p)
                return -9, True
    return p.returncode, False


def report(r, vrc, timed_out, section):
    """Compare one gate's corpus, write <GATE>.json, return its
    GATESWEEP entry."""
    g, out, base, t0 = r["g"], r["out"], r["base"], time.time()
    done = finished(out)
    n_declared, found = co.compare_corpus(r["dst"], out, g.expect_raise) \
        if done else (-1, [])
    failed = [n for n, v, _ in found if v == "FAIL"]
    for n, v, d in found:
        if v == "FAIL":
            print(co.result_line(n, v, d))
    summary = {g.src_key: g.src_sf, **g.fields(r["stats"])}
    if g.expect_raise:
        summary["contract_raises"] = [f"{k}={v}" for k, v in
                                      g.expect_raise.items()]
    summary.update({
        # a corpus Verify never finished carries Verify's own exit code
        "returncode": (1 if failed else 0) if done else (vrc or 1),
        "n_declared": n_declared,
        "n_ok": sum(v == "ok" for _, v, _ in found),
        "n_fail": len(failed),
        "failed": failed,
    })
    complete = n_declared > 0 and len(failed) + summary["n_ok"] >= n_declared
    divergent = []
    if g.cross_layout:
        n_base, divergent = cross_layout(base, out) \
            if done and finished(base) else (0, [])
        for q, why in divergent:
            print(f"[LAYOUT-DIVERGENT] {q}: {why[:400]}")
        summary.update({
            "base_verify_returncode": 0 if finished(base) else (vrc or 1),
            "n_identical_to_pristine": n_base - len(divergent),
            "n_divergent": len(divergent),
            "divergent": [q for q, _ in divergent],
        })
        complete = complete and n_base > 0
    summary["complete"] = complete
    with open(REPO / f"{g.name}.json", "w") as f:
        json.dump(summary, f, indent=1)
    rc = summary["returncode"] or (0 if complete and not divergent else 3)
    if rc == 0:  # a failing gate's corpus and outputs stay for debugging
        shutil.rmtree(r["dst"], ignore_errors=True)
    sec = (r["sec"] + section.get(r["dst"], 0.0) + time.time() - t0
           + (section.get(g.src_sf, 0.0) if g.cross_layout else 0.0))
    timed_out = timed_out and not done
    print(f"[sweep] {g.name}: "
          f"{'TIMEOUT' if timed_out else 'FAIL' if rc else 'ok'} "
          f"({summary['n_ok']} ok, {summary['n_fail']} fail, "
          f"complete={complete}, {sec:.1f}s)", flush=True)
    return {"rc": rc, "sec": round(sec, 1), "timed_out": timed_out}


def corpus_gates(gates):
    runs = [write_corpus(g) for g in gates]
    pairs = [(r["dst"], r["out"]) for r in runs]
    pairs += [(r["g"].src_sf, r["base"]) for r in runs if r["g"].cross_layout]
    log = tempfile.mkstemp(prefix="graft-gate-verify-", suffix=".log")[1]
    print(f"[sweep] Verify over {len(pairs)} corpora (log {log}) ...",
          flush=True)
    t0 = time.time()
    vrc, timed_out = run_verify(pairs, log)
    print(f"[sweep] Verify exit {vrc}{' (TIMEOUT)' if timed_out else ''} "
          f"after {time.time() - t0:.1f}s", flush=True)
    # per-corpus wall seconds, as Verify reports them
    section = {m[1]: float(m[2]) for m in re.finditer(
        r"\[verify\] corpus (\S+) done in ([\d.]+) s", open(log).read())}
    return {r["g"].name: report(r, vrc, timed_out, section) for r in runs}


def stream_gate(name, main):
    t0 = time.time()
    print(f"[sweep] {name} ...", flush=True)
    log = tempfile.mkstemp(prefix=f"graft-{name.lower()}-", suffix=".log")[1]
    with open(log, "w") as f:
        p = subprocess.Popen(["sbt", "-batch", f"runMain {main}"], cwd=REPO,
                             stdout=f, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            rc, timed_out = p.wait(timeout=GATE_TIMEOUT_SEC), False
        except subprocess.TimeoutExpired:
            # processAllAvailable can block forever on a stuck query
            kill_group(p)
            rc, timed_out = -9, True
    if rc != 0:
        sys.stdout.write(open(log).read()[-3000:])
    else:
        os.remove(log)
    dt = round(time.time() - t0, 1)
    print(f"[sweep] {name}: "
          f"{'ok' if rc == 0 else ('TIMEOUT' if timed_out else 'FAIL')} "
          f"({dt}s)", flush=True)
    return {"rc": rc, "sec": dt, "timed_out": timed_out}


def main():
    names = [a for a in sys.argv[1:] if not a.startswith("--")]
    known = [g.name for g in GATES] + [n for n, _ in STREAM_GATES]
    unknown = [n for n in names if n not in known]
    if unknown:
        sys.exit(f"unknown gate(s) {unknown}; known: {known}")
    streams = [] if "--skip-streams" in sys.argv else STREAM_GATES
    gates = [g for g in GATES if not names or g.name in names]
    streams = [s for s in streams if not names or s[0] in names]
    t0 = time.time()
    results = corpus_gates(gates) if gates else {}
    for name, main_class in streams:
        results[name] = stream_gate(name, main_class)
    fail = sum(r["rc"] != 0 for r in results.values())
    if len(results) == len(known):
        with open(REPO / "GATESWEEP.json", "w") as f:
            json.dump({"gates": results, "n_fail": fail, "all_ok": fail == 0,
                       "wall_sec": round(time.time() - t0, 1)}, f, indent=1)
    print(f"[sweep] {len(results) - fail}/{len(results)} gates green "
          f"in {time.time() - t0:.1f}s"
          f"{' -> GATESWEEP.json' if len(results) == len(known) else ''}")
    # the highest failing gate's code (LAYOUTCHECK's 3 on divergence)
    sys.exit(max([r["rc"] for r in results.values()] + [1 if fail else 0]))


if __name__ == "__main__":
    main()
