#!/usr/bin/env python3
"""End-to-end benchmark of the engine: warmed batch query slates and a
live-plus-catch-up HTTP ingest stream, with a traced per-layer run.

    python3 e2ebench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 e2ebench/run.py --smoke           # every workload, briefly, on a tiny corpus
    python3 e2ebench/run.py --record-digests  # re-derive e2ebench/digests.json

Run from the root of a checkout. The first run builds the engine and this
harness with sbt (the harness is its own sbt build, ``e2ebench/build.sbt``,
depending on the engine's) and generates the seeded corpus; both are kept
under ``.bench_build/`` for later runs. Each run starts one fresh JVM.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics when
``--trace 0``, the per-layer metrics when ``--trace 1``). The lines before
it report every metric under its workload-specific name with unit and
sample count; the full run record is written to ``.bench_build/runs/``.
See ``e2ebench/README.md`` for the workload -> layer -> metric map.
"""

import argparse
import hashlib
import http.client
import json
import math
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
DIGESTS = os.path.join(BENCH, "digests.json")

CORPUS_SEED = 42
BENCH_SCALE = 0.01
SMOKE_SCALE = 0.001

ITERATIVE = ["q71_near_dup_clusters", "q113_incremental_clusters", "q128_ann_ivf_sampled",
             "q133_principal_direction"]
SCAN = ["q01_pricing_summary", "q03_star_join_revenue", "q05_cust_order_counts",
        "q10_distinct_counts", "q18_json_extract", "q19_regex_filter", "q24_token_stats",
        "q25_text_quality", "q34_vector_norms", "q38_tumbling_window"]

WORKLOADS = {
    "batch-iterative": dict(kind="batch", slate=ITERATIVE, warmup_passes=2,
                            tables=["documents", "embeddings"]),
    "batch-scan": dict(kind="batch", slate=SCAN, warmup_passes=6,
                       tables=["lineitem", "orders", "customer", "nation", "region",
                               "events", "documents", "embeddings"]),
    "ingest-stream": dict(kind="ingest", warmup_s=8.0, posts_per_s=10, events_per_post=40,
                          warm_backlog_chunks=1, backlog_events=150_000, backlog_chunks=3,
                          backlog_file_events=5000, tail_pct=90),
}

E2E_UNITS = {"setup_s": "s", "ops_per_s": "1/s", "op_latency_ms": "ms", "op_tail_ms": "ms"}

PER_LAYER = [
    ("queries.build_ms", "ms"), ("queries.build_jobs", "count"),
    ("pins.jobs", "count"), ("pins.job_ms", "ms"),
    ("pins.held_blocks", "count"), ("pins.held_bytes", "bytes"),
    ("catalyst.analysis_ms", "ms"), ("catalyst.optimization_ms", "ms"),
    ("catalyst.planning_ms", "ms"),
    ("exec.jobs", "count"), ("exec.stages", "count"), ("exec.tasks", "count"),
    ("exec.tasks_per_stage_p50", "count"), ("exec.slot_busy_frac", "fraction"),
    ("exec.sched_delay_ms", "ms"), ("exec.run_core_s", "s"), ("exec.cpu_core_s", "s"),
    ("exec.gc_ms", "ms"), ("exec.shuffle_read_bytes", "bytes"),
    ("exec.shuffle_write_bytes", "bytes"), ("exec.spill_bytes", "bytes"),
    ("sources.input_bytes", "bytes"), ("sources.input_rows", "count"),
    ("trigger.latestOffset_ms", "ms"), ("trigger.getBatch_ms", "ms"),
    ("trigger.queryPlanning_ms", "ms"), ("trigger.walCommit_ms", "ms"),
    ("trigger.commitOffsets_ms", "ms"), ("trigger.addBatch_ms", "ms"),
    ("trigger.rows_per_trigger", "count"), ("trigger.files_per_trigger", "count"),
    ("trigger.count", "count"),
    ("HttpIngest.accept_p50_ms", "ms"), ("HttpIngest.accept_p99_ms", "ms"),
    ("HttpIngest.posts_refused", "count"),
    ("state.rows", "count"), ("state.mem_bytes", "bytes"),
    ("state.rows_dropped_late", "count"), ("state.dup_drop_frac", "fraction"),
    ("sink.write_ms", "ms"),
    ("spool.backlog_files", "count"), ("gen.late_p99_ms", "ms"),
    ("external_cores", "cores"), ("steal_cores", "cores"), ("iowait_cores", "cores"),
    ("self.client_ms", "ms"), ("self.queries_ms", "ms"), ("self.pins_ms", "ms"),
    ("self.catalyst_ms", "ms"), ("self.exec_ms", "ms"), ("self.sink_ms", "ms"),
    ("self.trigger_ms", "ms"),
    ("drift.second_half_ratio", "ratio"),
    ("trace.ops_per_s", "1/s"),
]

JVM_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[e2ebench] {msg}", file=sys.stderr, flush=True)


def pct(xs, p):
    """Linear-interpolated percentile (the same rule as numpy's default)."""
    if not xs:
        return float("nan")
    s = sorted(xs)
    r = p / 100.0 * (len(s) - 1)
    lo = int(r)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (r - lo)


def mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def geomean(xs):
    return math.exp(mean([math.log(x) for x in xs])) if xs else float("nan")


# ---------------------------------------------------------------- build

def check_tree():
    for rel in ("build.sbt", os.path.join("src", "main", "scala"),
                os.path.join("e2ebench", "build.sbt")):
        if not os.path.exists(os.path.join(ROOT, rel)):
            raise BenchError(f"not a checkout of the engine: {rel} is missing under {ROOT}")


def source_fingerprint():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
             os.path.join(ROOT, "project"), os.path.join(BENCH, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + harness once per source state; return the classpath
    and the source fingerprint."""
    os.makedirs(BUILD, exist_ok=True)
    cp_file = os.path.join(BUILD, "classpath.txt")
    fp = source_fingerprint()
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            saved = json.load(f)
        if saved.get("fingerprint") == fp:
            return saved["classpath"], fp
    log("building engine and harness with sbt ...")
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "export e2ebench/Runtime/fullClasspath"],
                       cwd=BENCH, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       stdin=subprocess.DEVNULL, text=True, timeout=840)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines or ".jar" not in lines[-1]:
        raise BenchError("sbt build failed:\n" + "\n".join(lines[-40:]))
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        json.dump({"fingerprint": fp, "classpath": cp}, f)
    log(f"built in {time.time() - t0:.1f}s")
    return cp, fp


def corpus(scale):
    path = os.path.join(BUILD, "corpus", f"sf{scale}-seed{CORPUS_SEED}")
    if not os.path.isdir(path):
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        subprocess.run([sys.executable, os.path.join(BENCH, "corpus.py"), tmp,
                        "--scale", str(scale), "--seed", str(CORPUS_SEED)], check=True)
        os.rename(tmp, path)
    return path


def java_cmd(cp, args):
    cores = os.cpu_count() or 4
    opens = [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={BUILD}/tmp",
             "-Dlog4j2.level=WARN"] + opens +
            ["-cp", cp, "e2ebench.Main", "--cores", str(cores)] + args)


def start_jvm(cp, args, run_dir, stdin=None):
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    log_path = os.path.join(run_dir, "jvm.log")
    logf = open(log_path, "w")
    p = subprocess.Popen(java_cmd(cp, args), cwd=run_dir, stdin=stdin,
                         stdout=subprocess.PIPE, stderr=logf, text=True, bufsize=1,
                         start_new_session=True)
    p.log_path = log_path
    p.logf = logf
    return p


def stop_jvm(p, timeout=60):
    try:
        p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
    p.logf.close()


def jvm_failure(p, what):
    with open(p.log_path) as f:
        tail = f.read()[-3000:]
    return BenchError(f"{what} (exit {p.returncode}); JVM log tail:\n{tail}")


def new_run_dir(tag):
    d = os.path.join(BUILD, "runs", f"{tag}-{os.getpid()}-{int(time.time() * 1000)}")
    os.makedirs(d)
    return d


# ---------------------------------------------------------------- batch

def load_digests():
    if not os.path.exists(DIGESTS):
        return {}
    with open(DIGESTS) as f:
        return json.load(f)


def run_batch(wl, spec, seed, seconds, trace, cp, scale, expected=None):
    run_dir = new_run_dir(wl)
    out = os.path.join(run_dir, "record.json")
    args = ["--mode", "batch", "--corpus", corpus(scale), "--slate", ",".join(spec["slate"]),
            "--tables", ",".join(spec["tables"]), "--seed", str(seed),
            "--seconds", str(seconds), "--warmup-passes", str(spec["warmup_passes"]),
            "--trace", "1" if trace else "0", "--out", out]
    t0 = time.time()
    p = start_jvm(cp, args, run_dir, stdin=subprocess.DEVNULL)
    p.stdout.read()
    stop_jvm(p, timeout=max(60, 3 * seconds + 120))
    if p.returncode != 0 or not os.path.exists(out):
        raise jvm_failure(p, f"batch JVM failed for {wl}")
    with open(out) as f:
        rec = json.load(f)
    rec["client_wall_s"] = time.time() - t0
    if expected is None:
        expected = load_digests().get(str(scale), {})
    measured = [e for e in rec["execs"] if e["measured"]]
    for e in rec["execs"]:
        want = expected.get(e["q"])
        e["ok"] = e["error"] is None and e["digest"] is not None and \
            (want is None or e["digest"] == want)
        e["checked"] = want is not None
    ok = [e for e in measured if e["ok"]]
    window_s = (rec["window_end_ms"] - rec["window_start_ms"]) / 1000.0
    # Each slate query runs equally often but takes its own time, so a
    # percentile over all executions would be one particular query's time.
    # Per query, its median and its slowest execution; across the slate,
    # their geometric means, which weight every query alike.
    by_q = {}
    for e in ok:
        by_q.setdefault(e["q"], []).append(e["total_ms"])
    typical = geomean([statistics.median(v) for v in by_q.values()])
    worst = geomean([max(v) for v in by_q.values()])
    passes = sorted({e["pass"] for e in measured})
    half = len(passes) // 2
    first = [e for e in ok if e["pass"] in passes[:half]]
    second = [e for e in ok if e["pass"] in passes[len(passes) - half:]]
    qpm = lambda es: 60000.0 * len(es) / sum(e["total_ms"] for e in es) if es else 0.0
    report = {
        "setup_s": (rec["setup_s"], "s", 1),
        "queries_per_min": (60.0 * len(ok) / window_s, "1/min", len(ok)),
        "query_median_geomean_ms": (typical, "ms", len(ok)),
        "query_max_geomean_ms": (worst, "ms", len(ok)),
        "ops_total": (len(measured), "count", len(measured)),
        "ops_failed": (len(measured) - len(ok), "count", len(measured)),
        "drift.first_half_qpm": (qpm(first), "1/min", len(first)),
        "drift.second_half_qpm": (qpm(second), "1/min", len(second)),
    }
    report.update({k: (v, "cores", 1) for k, v in rec["meters"].items()})
    e2e = {"setup_s": rec["setup_s"], "ops_per_s": len(ok) / window_s,
           "op_latency_ms": typical, "op_tail_ms": worst}
    layers = batch_layers(rec, measured, window_s) if trace else {}
    layers["drift.second_half_ratio"] = qpm(second) / qpm(first) if qpm(first) else 0.0
    fails = [f"{e['q']}: {e['error'] or 'digest ' + str(e['digest']) + ' != ' + str(expected.get(e['q']))}"
             for e in rec["execs"] if not e["ok"]]
    return dict(record=rec, run_dir=run_dir, report=report, e2e=e2e, layers=layers,
                attempted=len(measured), failed=len(measured) - len(ok), failures=fails,
                unchecked=sorted({e["q"] for e in measured if not e["checked"]}))


def exec_layers(jobs, stages, n_ops, window_s):
    """exec.* and sources.* from listener job and stage records."""
    ids = {j["job"] for j in jobs}
    st = [s for s in stages if s["job"] in ids]
    cores = os.cpu_count() or 4
    per = lambda x: x / n_ops if n_ops else 0.0
    return {
        "exec.jobs": per(len(jobs)), "exec.stages": per(len(st)),
        "exec.tasks": per(sum(s["tasks"] for s in st)),
        "exec.tasks_per_stage_p50": pct([s["tasks"] for s in st], 50) if st else 0.0,
        "exec.slot_busy_frac": sum(s["task_ms"] for s in st) / 1000.0 / (cores * window_s),
        "exec.sched_delay_ms": per(sum(s["sched_delay_ms"] for s in st)),
        "exec.run_core_s": per(sum(s["run_ms"] for s in st) / 1000.0),
        "exec.cpu_core_s": per(sum(s["cpu_ns"] for s in st) / 1e9),
        "exec.gc_ms": per(sum(s["gc_ms"] for s in st)),
        "exec.shuffle_read_bytes": per(sum(s["shuffle_read_bytes"] for s in st)),
        "exec.shuffle_write_bytes": per(sum(s["shuffle_write_bytes"] for s in st)),
        "exec.spill_bytes": per(sum(s["spill_bytes"] for s in st)),
        "sources.input_bytes": per(sum(s["input_bytes"] for s in st)),
        "sources.input_rows": per(sum(s["input_rows"] for s in st)),
    }


def self_times(spans, n_ops):
    """Per-operation self time of each layer: a span's duration minus the
    time covered by its children."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    layer_of = {"exec": "client", "queries.build": "queries", "pins.job": "pins",
                "exec.job": "exec", "sink.write": "sink", "trigger": "trigger"}
    out = {f"self.{v}_ms": 0.0 for v in set(layer_of.values()) | {"catalyst"}}
    for s in spans:
        name = s["name"]
        layer = "catalyst" if name.startswith("catalyst.") else \
            "trigger" if name.startswith("trigger") else layer_of.get(name)
        if layer is None:
            continue
        dur = s["end_ms"] - s["start_ms"]
        covered = sum(k["end_ms"] - k["start_ms"] for k in kids.get(s["id"], []))
        out[f"self.{layer}_ms"] += max(0.0, dur - covered)
    return {k: (v / n_ops if n_ops else 0.0) for k, v in out.items()}


def zero_layers():
    return {name: 0.0 for name, _ in PER_LAYER}


def batch_layers(rec, measured, window_s):
    reqs = {e["exec"] for e in measured}
    n = len(measured)
    jobs = [j for j in rec["jobs"] if j["group"].split(":")[0] in reqs]
    build_jobs = [j for j in jobs if j["group"].endswith(":build")]
    pins = [j for j in jobs if j["pin"]]
    spans = rec["spans"]
    phase = lambda k: sum(s["end_ms"] - s["start_ms"] for s in spans
                          if s["name"] == f"catalyst.{k}") / n
    out = zero_layers()
    out.update({
        "queries.build_ms": mean([e["build_ms"] for e in measured]),
        "queries.build_jobs": len(build_jobs) / n,
        "pins.jobs": len(pins) / n,
        "pins.job_ms": sum(j["end_ms"] - j["start_ms"] for j in pins) / n,
        "pins.held_blocks": mean([e["held_blocks"] for e in measured]),
        "pins.held_bytes": mean([e["held_bytes"] for e in measured]),
        "catalyst.analysis_ms": phase("analysis"),
        "catalyst.optimization_ms": phase("optimization"),
        "catalyst.planning_ms": phase("planning"),
    })
    out.update(exec_layers(jobs, rec["stages"], n, window_s))
    out.update(rec["meters"])
    out.update(self_times(spans, n))
    return out


# ---------------------------------------------------------------- ingest

EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]


def iso(ms):
    t = time.gmtime(ms / 1000.0)
    return time.strftime("%Y-%m-%dT%H:%M:%S", t) + f".{int(ms) % 1000:03d}Z"


def event_line(eid, ts_ms, post_id, due_ms, rng):
    return (f'{{"event_id":{eid},"ts":"{iso(ts_ms)}","user_id":{rng.randrange(1500)},'
            f'"event_type":"{rng.choice(EVENT_TYPES)}","value":{rng.randrange(56000) / 100},'
            f'"props":"{{\\"k\\": {rng.randrange(100)}}}","post_id":{post_id},"due_ms":{due_ms}}}')


class Plan:
    """The seeded ingest input: live posts (each a list of NDJSON events
    with its due offset) and the pre-spooled backlog files."""

    def __init__(self, spec, seed, live_s):
        rng = random.Random(seed)
        self.rng = rng
        self.dup_share = 0.04 + 0.02 * rng.random()
        self.late_share = 0.01 + 0.01 * rng.random()
        self.backlog_events = int(spec["backlog_events"] * (0.95 + 0.1 * rng.random()))
        self.rate = spec["posts_per_s"]
        self.per_post = spec["events_per_post"]
        self.warm_posts = int(spec["warmup_s"] * self.rate)
        self.live_posts = int(live_s * self.rate)
        self.next_id = 1
        self.recent = []          # (event_id, ts_ms, line) available for redelivery
        self.on_time = set()      # ids that must land exactly once
        self.late = set()         # ids that may land once or be dropped as late
        self.fresh = {}           # post id -> ids first sent in that post

    def post_body(self, post_id, due_ms):
        rng = self.rng
        lines = []
        for k in range(self.per_post):
            r = rng.random()
            if k > 0 and r < self.dup_share and self.recent:
                lines.append(rng.choice(self.recent)[2])
                continue
            eid = self.next_id
            self.next_id += 1
            late = k > 0 and r < self.dup_share + self.late_share
            ts = due_ms - 3_600_000 if late else due_ms
            line = event_line(eid, ts, post_id, due_ms, rng)
            lines.append(line)
            self.fresh.setdefault(post_id, []).append(eid)
            if late:
                self.late.add(eid)
            else:
                self.on_time.add(eid)
                self.recent.append((eid, ts, line))
                if len(self.recent) > 500:
                    self.recent.pop(0)
        return ("\n".join(lines) + "\n").encode()

    def write_backlog(self, spec, dest, now_ms):
        """Backlog chunks as spool-format files, written before the JVM starts."""
        rng = self.rng
        chunks = []
        per_file = spec["backlog_file_events"]
        n_chunks = spec["backlog_chunks"]
        sizes = [self.backlog_events // n_chunks] * (spec["warm_backlog_chunks"] + n_chunks)
        first_id = 1_000_000_000
        ids = []
        for c, n in enumerate(sizes):
            cdir = os.path.join(dest, f"chunk{c}")
            os.makedirs(cdir)
            lines, files, rows = [], [], 0
            for i in range(n):
                if ids and rng.random() < self.dup_share:
                    eid = rng.choice(ids[-2000:])
                else:
                    eid = first_id + len(ids)
                    ids.append(eid)
                lines.append(event_line(eid, now_ms - 1000, -2 - c, now_ms, rng))
                if len(lines) == per_file or i == n - 1:
                    name = f"batch-backlog-{c}-{len(files):05d}.json"
                    with open(os.path.join(cdir, name), "w") as f:
                        f.write("\n".join(lines) + "\n")
                    files.append(name)
                    rows += len(lines)
                    lines = []
            chunks.append((cdir, files, rows))
        self.backlog_ids = set(ids)
        return chunks


class ProgressReader(threading.Thread):
    """Reads the ingest JVM's stdout: READY, then one PROGRESS line per
    trigger with that trigger's input rows and commit time."""

    def __init__(self, proc):
        super().__init__(daemon=True)
        self.proc = proc
        self.cond = threading.Condition()
        self.ready = None
        self.rows = 0
        self.batches = []
        self.closed = False

    def run(self):
        for line in self.proc.stdout:
            parts = line.split()
            with self.cond:
                if parts[:1] == ["READY"]:
                    self.ready = (int(parts[1]), float(parts[2]))
                elif parts[:1] == ["PROGRESS"]:
                    self.rows += int(parts[2])
                    self.batches.append((int(parts[1]), int(parts[2]), float(parts[3])))
                self.cond.notify_all()
        with self.cond:
            self.closed = True
            self.cond.notify_all()

    def wait_for(self, pred, timeout):
        end = time.time() + timeout
        with self.cond:
            while not pred() and not self.closed:
                left = end - time.time()
                if left <= 0:
                    return False
                self.cond.wait(left)
            return pred()


def run_ingest(wl, spec, seed, seconds, trace, cp):
    import pyarrow.dataset as ds

    run_dir = new_run_dir(wl)
    out = os.path.join(run_dir, "record.json")
    plan = Plan(spec, seed, seconds)
    chunks = plan.write_backlog(spec, os.path.join(run_dir, "backlog"), int(time.time() * 1000))
    t0 = time.time()
    p = start_jvm(cp, ["--mode", "ingest", "--run-dir", run_dir, "--trace", "1" if trace else "0",
                       "--out", out], run_dir, stdin=subprocess.PIPE)
    reader = ProgressReader(p)
    reader.start()
    try:
        if not reader.wait_for(lambda: reader.ready is not None, 170):
            raise jvm_failure(p, "ingest JVM never became ready")
        port = reader.ready[0]
        spool = os.path.join(run_dir, "spool")

        def tell(msg):
            p.stdin.write(msg + "\n")
            p.stdin.flush()

        posts = []
        backlog_samples = []

        def send(post_id, due_ms, live):
            # one connection per post: the server answers with two writes
            # (headers, then body), which a kept-alive client socket would
            # stall on delayed ACKs
            body = plan.post_body(post_id, due_ms)
            sent = time.time() * 1000
            status = 0
            conn = http.client.HTTPConnection("127.0.0.1", port, timeout=30)
            try:
                conn.request("POST", "/ingest", body=body,
                             headers={"Content-Type": "application/x-ndjson",
                                      "Connection": "close"})
                resp = conn.getresponse()
                resp.read()
                status = resp.status
            except (http.client.HTTPException, OSError):
                pass
            finally:
                conn.close()
            posts.append(dict(post=post_id, due_ms=due_ms, sent_ms=sent,
                              ack_ms=time.time() * 1000, status=status, live=live,
                              events=body.count(b"\n")))

        def phase(first_post, n, live):
            start = time.time() * 1000 + 20
            next_sample = start
            for i in range(n):
                due = start + i * 1000.0 / plan.rate
                now = time.time() * 1000
                if now < due:
                    time.sleep((due - now) / 1000.0)
                send(first_post + i, int(due), live)
                if live and time.time() * 1000 >= next_sample:
                    backlog_samples.append(sum(1 for f in os.listdir(spool)
                                               if not f.startswith(".")))
                    next_sample += 500

        def drain(cdir, files, rows):
            target = reader.rows + rows
            start = time.time() * 1000
            for f in files:
                os.rename(os.path.join(cdir, f), os.path.join(spool, f))
            if not reader.wait_for(lambda: reader.rows >= target, 150):
                raise jvm_failure(p, f"backlog not drained ({reader.rows}/{target} rows)")
            with reader.cond:
                commit = max(b[2] for b in reader.batches)
            return dict(start_ms=start, end_ms=commit, rows=rows, files=len(files))

        # warm-up, unmeasured: backlog chunks, then a stretch of live posts
        warm = spec["warm_backlog_chunks"]
        for c in chunks[:warm]:
            drain(*c)
        phase(1, plan.warm_posts, False)
        tell("MARK live")
        phase(1 + plan.warm_posts, plan.live_posts, True)
        tell("METER live")
        posted_rows = 1 + sum(c[2] for c in chunks[:warm]) + sum(x["events"] for x in posts if x["status"] == 202)
        if not reader.wait_for(lambda: reader.rows >= posted_rows, 120):
            raise jvm_failure(p, f"live posts not all committed ({reader.rows}/{posted_rows} rows)")

        # catch-up: each pre-spooled chunk is moved into the spool and
        # drained to its last committed row before the next one moves
        tell("MARK drain")
        drains = [drain(*c) for c in chunks[warm:]]
        tell("METER drain")
        tell("STOP")
        p.stdin.close()
        stop_jvm(p, timeout=150)
    except BaseException:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
        raise
    reader.join(10)
    if p.returncode != 0 or not os.path.exists(out):
        raise jvm_failure(p, f"ingest JVM failed for {wl}")
    with open(out) as f:
        rec = json.load(f)
    rec["client_wall_s"] = time.time() - t0
    if rec.get("query_error"):
        raise BenchError(f"streaming query failed: {rec['query_error']}")

    store = ds.dataset(os.path.join(run_dir, "store"), format="parquet", partitioning="hive")
    tbl = store.to_table(columns=["event_id", "post_id", "batch_id"]).to_pydict()
    count = {}
    post_batch = {}
    for eid, pid, bid in zip(tbl["event_id"], tbl["post_id"], tbl["batch_id"]):
        count[eid] = count.get(eid, 0) + 1
        post_batch.setdefault(pid, bid)

    progress = {b["batch"]: b for b in rec["progress"]}
    dropped_late = sum(b["state_dropped_late"] for b in rec["progress"])
    acked = [x for x in posts if x["status"] == 202]
    refused = [x for x in posts if x["status"] != 202]
    for x in refused:  # a refused post's events are failures, not losses
        plan.on_time.difference_update(plan.fresh.get(x["post"], []))
        plan.late.difference_update(plan.fresh.get(x["post"], []))
    # correctness: every acknowledged on-time id exactly once, late ids at
    # most once and otherwise accounted as dropped late, no unknown ids
    known = plan.on_time | plan.late | plan.backlog_ids | {-1}
    bad = [e for e in plan.on_time | plan.backlog_ids if count.get(e, 0) != 1]
    late_missing = [e for e in plan.late if count.get(e, 0) == 0]
    late_dup = [e for e in plan.late if count.get(e, 0) > 1]
    unknown = [e for e in count if e not in known]
    refused_events = sum(x["events"] for x in refused)
    failures = []
    if refused:
        failures.append(f"{len(refused)} posts refused ({refused_events} events)")
    if bad:
        failures.append(f"{len(bad)} on-time/backlog ids not stored exactly once, e.g. {bad[:5]}")
    if late_dup:
        failures.append(f"{len(late_dup)} late ids stored twice")
    if len(late_missing) != dropped_late:
        failures.append(f"{len(late_missing)} late ids missing but {dropped_late} rows dropped late")
    if unknown:
        failures.append(f"{len(unknown)} unknown ids in the store, e.g. {unknown[:5]}")
    failed = refused_events + len(bad) + len(late_dup) + len(unknown) + \
        abs(len(late_missing) - dropped_late)

    live = [x for x in acked if x["live"]]
    lat = []
    for x in live:
        b = progress.get(post_batch.get(x["post"]))
        if b is not None and b["commit_ms"] is not None:
            lat.append(b["commit_ms"] - x["due_ms"])
    missing_lat = len(live) - len(lat)
    if missing_lat:
        failures.append(f"{missing_lat} live posts with no committed batch")
        failed += missing_lat
    drain_ms = sum(d["end_ms"] - d["start_ms"] for d in drains)
    drain_rows = sum(d["rows"] for d in drains)
    eps = drain_rows / (drain_ms / 1000.0) if drain_ms > 0 else 0.0
    tail = spec["tail_pct"]
    half = len(lat) // 2
    attempted = sum(x["events"] for x in posts) + sum(c[2] for c in chunks)
    report = {
        "setup_s": (rec["setup_s"], "s", 1),
        "catchup_eps": (eps, "events/s", drain_rows),
        "ingest_e2e_p50_ms": (pct(lat, 50), "ms", len(lat)),
        f"ingest_e2e_p{tail}_ms": (pct(lat, tail), "ms", len(lat)),
        "ops_total": (attempted, "count", attempted),
        "ops_failed": (failed, "count", attempted),
        "drift.first_half_p50_ms": (pct(lat[:half], 50), "ms", half),
        "drift.second_half_p50_ms": (pct(lat[half:], 50), "ms", len(lat) - half),
    }
    report.update({k: (v, "cores", 1) for k, v in rec["meters"]["live"].items()})
    e2e = {"setup_s": rec["setup_s"], "ops_per_s": eps,
           "op_latency_ms": pct(lat, 50), "op_tail_ms": pct(lat, tail)}
    layers = zero_layers()
    if trace:
        layers.update(ingest_layers(rec, live, drains, post_batch, progress, backlog_samples))
        layers["HttpIngest.posts_refused"] = float(sum(1 for x in refused if x["live"]))
    layers["drift.second_half_ratio"] = (pct(lat[half:], 50) / pct(lat[:half], 50)
                                         if half else 0.0)
    rec["posts"] = posts
    rec["drains"] = drains
    if trace:
        rec["spans"] += [dict(id=-x["post"], name="post", start_ms=x["sent_ms"], end_ms=x["ack_ms"],
                              parent=0, req=f"p{x['post']}") for x in posts]
    return dict(record=rec, run_dir=run_dir, report=report, e2e=e2e, layers=layers,
                attempted=attempted, failed=failed, failures=failures, unchecked=[])


def ingest_layers(rec, live, drains, post_batch, progress, backlog_samples):
    prog = rec["progress"]
    live_lo = min(x["due_ms"] for x in live)
    live_hi = max(post_batch_commit(x, post_batch, progress) for x in live)
    in_live = [b for b in prog if b["input_rows"] > 0 and live_lo <= b["start_ms"] <= live_hi]
    in_drain = [b for b in prog if b["input_rows"] > 0 and
                any(d["start_ms"] - 1 <= b["start_ms"] <= d["end_ms"] for d in drains)]
    dur = lambda bs, k: mean([b["durations"].get(k, 0) for b in bs])
    files = {}
    for pid, bid in post_batch.items():
        files[bid] = files.get(bid, 0) + 1
    window_s = (live_hi - live_lo) / 1000.0
    live_ids = {b["batch"] for b in in_live}
    jobs = [j for j in rec["jobs"] if j["batch"] and int(j["batch"]) in live_ids]
    accept = [x["ack_ms"] - x["sent_ms"] for x in live]
    rows_in = sum(b["input_rows"] for b in prog)
    dropped = sum(b["state_dropped_late"] for b in prog)
    updated = sum(b["state_updated"] for b in prog)
    spans = rec["spans"]
    live_spans = [s for s in spans if s["req"][1:].isdigit() and int(s["req"][1:]) in live_ids]
    out = {
        "trigger.latestOffset_ms": dur(in_live, "latestOffset"),
        "trigger.getBatch_ms": dur(in_live, "getBatch"),
        "trigger.queryPlanning_ms": dur(in_live, "queryPlanning"),
        "trigger.walCommit_ms": dur(in_live, "walCommit"),
        "trigger.commitOffsets_ms": dur(in_live, "commitOffsets"),
        "trigger.addBatch_ms": dur(in_drain, "addBatch"),
        "trigger.rows_per_trigger": mean([b["input_rows"] for b in in_drain]),
        "trigger.files_per_trigger": mean([files.get(b["batch"], 0) for b in in_live]),
        "trigger.count": float(len(in_live)),
        "HttpIngest.accept_p50_ms": pct(accept, 50),
        "HttpIngest.accept_p99_ms": pct(accept, 99),
        "state.rows": float(prog[-1]["state_rows"]) if prog else 0.0,
        "state.mem_bytes": float(max(b["state_mem_bytes"] for b in prog)) if prog else 0.0,
        "state.rows_dropped_late": float(dropped),
        "state.dup_drop_frac": (rows_in - dropped - updated) / rows_in if rows_in else 0.0,
        "sink.write_ms": mean([b["commit_ms"] - b["sink_start_ms"] for b in in_drain]),
        "spool.backlog_files": statistics.median(backlog_samples) if backlog_samples else 0.0,
        "gen.late_p99_ms": pct([x["sent_ms"] - x["due_ms"] for x in live], 99),
    }
    for k in ("analysis", "optimization", "planning"):
        out[f"catalyst.{k}_ms"] = sum(s["end_ms"] - s["start_ms"] for s in live_spans
                                      if s["name"] == f"catalyst.{k}") / max(1, len(in_live))
    out.update(exec_layers(jobs, rec["stages"], len(in_live), window_s))
    out.update(rec["meters"].get("live", {}))
    out.update(self_times(live_spans, len(in_live)))
    return out


def post_batch_commit(x, post_batch, progress):
    b = progress.get(post_batch.get(x["post"]))
    return b["commit_ms"] if b else x["due_ms"]


# ---------------------------------------------------------------- main

def run_workload(wl, seed, seconds, trace, cp):
    spec = WORKLOADS[wl]
    if spec["kind"] == "batch":
        return run_batch(wl, spec, seed, seconds, trace, cp, BENCH_SCALE)
    return run_ingest(wl, spec, seed, seconds, trace, cp)


def tracing_overhead(wl, seconds, fp, res):
    """1 - traced / untraced throughput, against the median of the untraced
    runs of this workload, build and length already recorded in this
    checkout; None when there are none."""
    runs = os.path.join(BUILD, "runs")
    vals = []
    for d in os.listdir(runs):
        f = os.path.join(runs, d, "summary.json")
        if d.startswith(wl + "-") and os.path.exists(f):
            with open(f) as fh:
                s = json.load(fh)
            if (not s["trace"] and s["workload"] == wl and s.get("fingerprint") == fp
                    and s["seconds"] == seconds and s["ops_per_s"] > 0):
                vals.append(s["ops_per_s"])
    if not vals:
        return None, 0
    return 1.0 - res["e2e"]["ops_per_s"] / statistics.median(vals), len(vals)


def print_report(wl, res, trace):
    for name, (value, unit, n) in res["report"].items():
        if value is None:
            print(f"[{wl}] {name} = unknown (n={n})")
        else:
            print(f"[{wl}] {name} = {value:.6g} {unit} (n={n})")
    if trace:
        for name, unit in PER_LAYER:
            print(f"[{wl}] {name} = {res['layers'].get(name, 0.0):.6g} {unit}")
    for f in res["failures"]:
        print(f"[{wl}] FAILED {f}")
    if res["unchecked"]:
        print(f"[{wl}] no committed digest for: {', '.join(res['unchecked'])}")
    print(f"[{wl}] run record: {os.path.relpath(res['run_dir'], ROOT)}")


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--record-digests", action="store_true")
    a = ap.parse_args(argv)
    try:
        check_tree()
        cp, fp = build()
        if a.smoke:
            return smoke(cp)
        if a.record_digests:
            return record_digests(cp)
        if not a.workload:
            ap.error("--workload is required")
        res = run_workload(a.workload, a.seed, a.seconds, bool(a.trace), cp)
    except BenchError as e:
        log(str(e))
        return 1
    if a.trace:
        res["layers"]["trace.ops_per_s"] = res["e2e"]["ops_per_s"]
        # not a per-layer metric: it needs untraced runs of the same build
        overhead, n = tracing_overhead(a.workload, a.seconds, fp, res)
        res["report"]["trace.overhead_frac"] = (overhead, "fraction", n)
    with open(os.path.join(res["run_dir"], "summary.json"), "w") as f:
        json.dump(dict(workload=a.workload, seed=a.seed, seconds=a.seconds, trace=bool(a.trace),
                       fingerprint=fp,
                       ops_per_s=res["e2e"]["ops_per_s"], e2e=res["e2e"], layers=res["layers"],
                       report=res["report"], failures=res["failures"]), f, indent=1)
    with open(os.path.join(res["run_dir"], "record.json"), "w") as f:
        json.dump(res["record"], f)
    print_report(a.workload, res, a.trace)
    names = PER_LAYER if a.trace else list(E2E_UNITS.items())
    values = res["layers"] if a.trace else res["e2e"]
    metrics = {n: {"value": float(values.get(n, 0.0)), "unit": u} for n, u in names}
    print(json.dumps({"correct": res["failed"] == 0 and not res["failures"],
                      "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": metrics}))
    return 0


def smoke(cp):
    """Every workload for a few seconds on the tiny corpus, digest and id
    checks included; exit status 0 only when every operation passed."""
    expected = load_digests().get(str(SMOKE_SCALE), {})
    bad = 0
    for wl in WORKLOADS:
        spec = dict(WORKLOADS[wl])
        spec.update(warmup_s=1.0, warmup_passes=1)
        if spec["kind"] == "ingest":
            spec.update(backlog_events=3000, backlog_file_events=200)
            res = run_ingest(wl, spec, 7, 3, True, cp)
        else:
            res = run_batch(wl, spec, 7, 1, True, cp, SMOKE_SCALE, expected)
        print_report(wl, res, False)
        bad += res["failed"] + len(res["failures"]) + len(res["unchecked"])
    print("smoke: " + ("ok" if bad == 0 else f"{bad} problems"))
    return 0 if bad == 0 else 1


def record_digests(cp):
    """Run each slate query once per corpus scale and store its digest."""
    digests = load_digests()
    for scale in (BENCH_SCALE, SMOKE_SCALE):
        got = {}
        for wl, spec in WORKLOADS.items():
            if spec["kind"] != "batch":
                continue
            res = run_batch(wl, dict(spec, warmup_passes=1), 1, 0.1, False, cp, scale, expected={})
            for e in res["record"]["execs"]:
                if e["error"] is not None or e["digest"] is None:
                    raise BenchError(f"{e['q']} failed at scale {scale}: {e['error']}")
                if got.setdefault(e["q"], e["digest"]) != e["digest"]:
                    raise BenchError(f"{e['q']} digest unstable at scale {scale}")
        digests[str(scale)] = dict(sorted(got.items()))
    with open(DIGESTS, "w") as f:
        json.dump(digests, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {DIGESTS}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
