#!/usr/bin/env python3
"""Local mirror of the driver's t2 correctness gate.

Runs graft.Verify at the given sf dir (unless --skip-verify), then replays
each oracle_sql.json query in DuckDB against the same parquet tables and
compares values with columns sorted by name, rows sorted by all columns.
`compare_corpus` is the same compare as a function; the corpus gates
(`scripts/gate_sweep.py`) call it once per drifted corpus.

Usage: python3 scripts/check_oracle.py [sfdir] [outdir] [--skip-verify]
"""
import json, math, os, subprocess, sys, time
from pathlib import Path

import duckdb
import pyarrow.parquet as pq

try:
    import pandas as pd
except ImportError:  # driver machines have pandas; warn-and-skip elsewhere
    pd = None

REPO = Path(__file__).resolve().parents[1]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def run_verify(sf, out):
    cmd = ["sbt", "-batch", f'runMain graft.Verify {sf} {out}']
    r = subprocess.run(cmd, cwd=REPO, capture_output=True, text=True)
    sys.stdout.write("\n".join(l for l in r.stdout.splitlines()
                               if "error" in l.lower() or "failed" in l.lower()) + "\n")
    if r.returncode != 0:
        print(r.stdout[-3000:]); print(r.stderr[-2000:])
        sys.exit(1)


def norm(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    return v


def pandas_sortable(name, tbl):
    """Mirror the driver harness: it sorts result rows with pandas
    sort_values, which dies on an array/ndarray cell (q137 was red a
    whole round for this). Surface that failure mode locally."""
    if pd is None:
        print(f"  [warn] {name}: pandas not installed — skipping sortability check")
        return None
    try:
        df = tbl.to_pandas()
        if len(df.columns):
            df.sort_values(by=list(df.columns))
    except Exception as e:
        return f"PANDAS-SORT (driver harness would fail): {type(e).__name__}: {e}"
    return None


def row_key(row):
    # Total order over mixed/None cells (ADVICE r9: keying on raw repr()
    # distinguishes ==-equal cells of different Python types — bool True
    # vs int 1, int 5 vs float 5.0 — which can align rows differently on
    # the two sides and produce a spurious VALUE mismatch). Key on a
    # type-CLASS plus the value itself: Python compares mixed
    # int/float/Decimal numerically and exactly, so equal numbers get
    # equal keys regardless of which type each engine returned.
    import numbers

    def cell_key(v):
        if v is None:
            return (0, 0, "")
        if isinstance(v, bool):          # bool is a Number; fold into num
            return (1, 1, int(v))
        if isinstance(v, numbers.Number):
            return (1, 1, v)
        return (1, 2, repr(v))
    return tuple(cell_key(v) for v in row)


def compare(name, spark_rows, spark_cols, duck_rows, duck_cols):
    if sorted(spark_cols) != sorted(duck_cols):
        return f"SCHEMA: spark={sorted(spark_cols)} duck={sorted(duck_cols)}"
    order = sorted(range(len(spark_cols)), key=lambda i: spark_cols[i])
    dorder = sorted(range(len(duck_cols)), key=lambda i: duck_cols[i])
    s_pos = [tuple(norm(r[i]) for i in order) for r in spark_rows]
    d_pos = [tuple(norm(r[i]) for i in dorder) for r in duck_rows]
    if len(s_pos) != len(d_pos):
        return f"ROWS: spark={len(s_pos)} duck={len(d_pos)}"
    # ADVICE r9: compare positionally FIRST — the sorted compare below
    # (which mirrors the driver's sorted-hash gate) is blind to a final
    # ORDER BY that the two engines resolve differently. A positional
    # match is the strong result; on positional mismatch fall back to the
    # sorted compare and, if THAT matches, report the order-only
    # divergence as a warning instead of silently accepting it.
    positional_ok = all(a == b for a, b in zip(s_pos, d_pos))
    if positional_ok:
        return None
    # Sorted fallback — mirroring the driver harness, which hashes
    # pandas-sorted frames. Without this, a NULL-bearing ORDER BY column
    # fails the zip spuriously: Spark defaults to NULLS FIRST on ASC,
    # DuckDB to NULLS LAST — an ordering-cosmetics difference the
    # driver's sorted hash never sees.
    s = sorted(s_pos, key=row_key)
    d = sorted(d_pos, key=row_key)
    for i, (a, b) in enumerate(zip(s, d)):
        if a != b:
            return f"VALUE mismatch at row {i}:\n  spark={a}\n  duck ={b}"
    print(f"  [order-warn] {name}: row ORDER diverges between engines (values match "
          "sorted; driver's sorted-hash gate is unaffected)")
    return None


def compare_corpus(sf, out, expect_raise={}):
    """Replay every query of `out`/oracle_sql.json over `sf`'s tables in
    DuckDB and compare it with Spark's dump in `out`. Returns
    (n_declared, results): the oracle inventory size and one
    (name, verdict, detail) per query, verdict "ok", "FAIL" or
    "rows-only".

    `expect_raise` maps `name` to a message substring ("" for any) for
    queries whose input CONTRACT requires them to raise on the corpus
    under test (the sampling family raise_error-guards NULL
    scores/weights/tokens — NULLCHECK lists them). For those, a MISSING
    spark output is the contract firing — but only if Verify's
    errors.json recorded a raise_error (USER_RAISED_EXCEPTION) whose
    message carries the operator's contract text (ADVICE r9: a genuine
    crash — OOM, NPE, unrelated analysis error — must NOT pass green)."""
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf}/{t}.parquet"
        if os.path.isdir(p):
            # soak tiers: <table>.parquet is a DIRECTORY of part files
            # (GenCorpus's splittable layout); glob it for DuckDB
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}/*.parquet'")
        elif os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracle = json.load(open(f"{out}/oracle_sql.json"))
    results = []
    declared = [d for d in sorted(os.listdir(out))
                if os.path.isdir(f"{out}/{d}")]
    try:
        verify_errors = json.load(open(f"{out}/errors.json"))
    except Exception:
        verify_errors = None  # pre-upgrade Verify output: fall back
    slow = []  # (name, duck_sec) — find where gate wall time goes
    for name in declared:
        if name in expect_raise:
            results.append((name, "FAIL", "expected contract raise, but "
                            "query produced output"))
            continue
        if name not in oracle:
            results.append((name, "rows-only", ""))
            continue
        try:
            _t0 = time.time()
            # Spark dumps timestamps as parquet INT96 (its default, and
            # what the driver harness has compared against since round
            # 1). PyArrow maps INT96 to NANOSECOND resolution by
            # default, which silently WRAPS for dates past 2262-04-11
            # (the calendar-edge gate's 9999-11-01 read back as
            # 1816-01-29 — DATECHECK's first run caught it). Coercing
            # the INT96 read to microseconds is lossless (Spark
            # timestamps ARE micros internally) and overflow-free to
            # year 9999+.
            tbl = pq.read_table(f"{out}/{name}",
                                coerce_int96_timestamp_unit="us")
            spark_cols = tbl.column_names
            spark_rows = [tuple(row[c] for c in spark_cols)
                          for row in tbl.to_pylist()]
            res = con.sql(oracle[name])
            duck_cols = res.columns
            duck_rows = res.fetchall()
            datb = res.arrow()
            for c in spark_cols:
                st = str(tbl.schema.field(c).type)
                dt = str(datb.schema.field(c).type) if c in datb.column_names else "?"
                # normalize timestamp unit/tz (parquet INT96 vs duckdb us)
                n1 = "ts" if st.startswith("timestamp") else st
                n2 = "ts" if dt.startswith("timestamp") else dt
                if n1 != n2:
                    print(f"  [type-warn] {name}.{c}: spark={st} duck={dt}")
            err = (pandas_sortable(name, tbl)
                   or compare(name, spark_rows, spark_cols, duck_rows, duck_cols))
        except Exception as e:
            err = f"EXC: {e}"
        _dt = time.time() - _t0
        if _dt > 5:
            slow.append((name, round(_dt, 1)))
        if err:
            results.append((name, "FAIL", err))
        else:
            results.append((name, "ok", f"{len(spark_rows)} rows"))
    for m in (k for k in oracle if k not in declared):
        if m in expect_raise:
            chain = (verify_errors or {}).get(m)
            if verify_errors is None:
                results.append((m, "ok", "contract raise; errors.json absent — "
                                "failure mode unverified"))
            elif chain is None:
                results.append((m, "FAIL", "expected contract raise but Verify "
                                "recorded no error (output silently missing)"))
            elif "USER_RAISED_EXCEPTION" not in chain:
                results.append((m, "FAIL", "expected contract raise_error, got: "
                                f"{chain[:300]}"))
            elif expect_raise[m] and expect_raise[m] not in chain:
                results.append((m, "FAIL", "raise message lacks contract text "
                                f"'{expect_raise[m]}': {chain[:300]}"))
            else:
                results.append((m, "ok", "contract raise verified: "
                                f"{expect_raise[m] or 'USER_RAISED_EXCEPTION'}"))
        else:
            results.append((m, "FAIL", "spark output missing (query crashed?)"))
    if slow:
        print("[timing] oracle-side queries >5s: " +
              ", ".join(f"{n}={t}s" for n, t in
                        sorted(slow, key=lambda x: -x[1])[:10]))
    return len(oracle), results


def result_line(name, verdict, detail):
    if verdict == "FAIL":
        return f"[FAIL] {name}: {detail}"
    if verdict == "rows-only":
        return f"[rows-only] {name}"
    return f"[ok]   {name} ({detail})"


def main():
    args = [a for a in sys.argv[1:] if a != "--skip-verify"]
    sf = args[0] if args else "/root/testdata/sf0.01"
    out = args[1] if len(args) > 1 else "/tmp/verify_out"
    t_start = time.time()
    if "--skip-verify" not in sys.argv:
        run_verify(sf, out)
    t_verify = time.time() - t_start
    _, results = compare_corpus(sf, out)
    for r in results:
        print(result_line(*r))
    n_ok = sum(v == "ok" for _, v, _ in results)
    n_bad = sum(v == "FAIL" for _, v, _ in results)
    print(f"[timing] verify={round(t_verify, 1)}s "
          f"compare={round(time.time() - t_start - t_verify, 1)}s")
    print(f"\n== {n_ok} ok, {n_bad} fail ==")
    sys.exit(1 if n_bad else 0)


if __name__ == "__main__":
    main()
