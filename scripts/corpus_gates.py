"""Rewrite specs for the twelve corpus gates.

Each gate rewrites a copy of a source corpus into a drifted one that both
engines read; `scripts/gate_sweep.py` writes every selected corpus, runs
one `graft.Verify` over all of them, replays each through the DuckDB
oracle (`check_oracle.compare_corpus`) and writes `<NAME>.json`.

A spec names the artifact, the source corpus, and a rewrite per table it
touches: `fn(src, dst)` writes the drifted table at `dst` and returns a
stat the sweep prints. Tables without a rewrite are byte-copied. `fields`
turns the per-table stats into the gate's own artifact fields, and
`expect_raise` lists the queries whose input contract must raise on the
corpus (`name -> substring of the raise message`).
"""
import os
from dataclasses import dataclass, field
from typing import Callable

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

import check_oracle as co  # norm / row_key — the driver-harness compare

SF_01 = "/root/testdata/sf0.01"
SF_001 = "/root/testdata/sf0.001"

con = duckdb.connect()


@dataclass
class Gate:
    name: str                     # artifact is <name>.json
    doc: str                      # why the gate exists
    rewrites: dict                # table -> fn(src_path, dst_path) -> stat
    fields: Callable = lambda stats: {}
    src_sf: str = SF_01
    src_key: str = "src_sf"
    expect_raise: dict = field(default_factory=dict)
    cross_layout: bool = False    # also compare against src_sf's outputs


def every(fn):
    return {t: fn for t in co.TABLES}


def copy_select(src, dst, select, order=None):
    """COPY (SELECT <select> FROM (SELECT *, row_number() OVER
    (ORDER BY <order>) AS __rn FROM src) ORDER BY <order>) TO dst."""
    by = f"ORDER BY {order}" if order else ""
    con.sql(f"""
      COPY (SELECT {select} FROM
              (SELECT *, row_number() OVER ({by}) AS __rn
               FROM '{src}') {by})
      TO '{dst}' (FORMAT PARQUET)""")


def replace_col(src, name, expr):
    """Select list of src's columns with `name` replaced by `expr`."""
    cols = con.sql(f"SELECT * FROM '{src}' LIMIT 0").columns
    return ", ".join(f"{expr} AS \"{c}\"" if c == name else f'"{c}"'
                     for c in cols)


def fetchone(sql):
    return con.sql(sql).fetchone()


# ---------------------------------------------------------------- EMPTY
def _empty(src, dst):
    con.sql(f"COPY (SELECT * FROM '{src}' LIMIT 0) TO '{dst}' (FORMAT PARQUET)")


EMPTY = Gate("EMPTYCHECK", """
Robustness check: run the full oracle gate against an EMPTY corpus —
every table present with its exact schema, zero rows. This is the
"empty partition" production edge (a date-scoped run over a range with
no data, a new tenant, a filtered slice that matched nothing): every
query must degrade to an empty (or empty-aggregate) result identically
in both engines, not crash on a missing seed row, an empty staged
write, or a 0/0.
""", every(_empty), src_sf=SF_001, src_key="template_sf")


# ----------------------------------------------------------------- SKEW
def _skew_documents(src, dst):
    con.sql(f"CREATE OR REPLACE VIEW d0 AS SELECT text AS t0 FROM '{src}' "
            "ORDER BY doc_id LIMIT 1")
    copy_select(src, dst, """
      doc_id,
      CASE WHEN __rn % 10 = 3 THEN (SELECT t0 FROM d0) ELSE text END AS text,
      lang,
      CASE WHEN __rn % 3 = 1 THEN 'hot_src' ELSE source END AS source,
      CASE WHEN __rn % 10 = 3 THEN length((SELECT t0 FROM d0))
           ELSE n_chars END AS n_chars""")
    return fetchone(f"SELECT COUNT(*) FROM '{dst}' d, d0 "
                 "WHERE d.text = d0.t0")[0]


def _skew_events(src, dst):
    copy_select(src, dst, """
      event_id, ts,
      CASE WHEN __rn % 3 = 1 THEN CAST(0 AS BIGINT) ELSE user_id END AS user_id,
      event_type, value, props""")


def _skew_orders(src, dst):
    con.sql(f"CREATE OR REPLACE VIEW c0 AS SELECT MIN(o_custkey) AS k "
            f"FROM '{src}'")
    copy_select(src, dst, """
      o_orderkey,
      CASE WHEN __rn % 3 = 1 THEN (SELECT k FROM c0) ELSE o_custkey END AS o_custkey,
      o_orderstatus, o_totalprice, o_orderdate, o_orderpriority""")


def _skew_lineitem(src, dst):
    con.sql(f"CREATE OR REPLACE VIEW p0 AS SELECT MIN(l_partkey) AS k "
            f"FROM '{src}'")
    copy_select(src, dst, """
      l_orderkey,
      CASE WHEN __rn % 3 = 1 THEN (SELECT k FROM p0) ELSE l_partkey END AS l_partkey,
      l_suppkey, l_linenumber, l_quantity, l_extendedprice, l_discount,
      l_tax, l_returnflag, l_linestatus, l_shipdate""")


def _skew_embeddings(src, dst):
    con.sql(f"CREATE OR REPLACE VIEW e0 AS SELECT embedding AS em FROM '{src}' "
            "ORDER BY vec_id LIMIT 1")
    copy_select(src, dst, """
      vec_id,
      CASE WHEN __rn % 10 = 3 THEN (SELECT em FROM e0) ELSE embedding END
        AS embedding,
      label""")


SKEW = Gate("SKEWCHECK", """
Robustness check: rewrite the corpus with heavy DETERMINISTIC key/value
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
""", {"documents": _skew_documents, "events": _skew_events,
      "orders": _skew_orders, "lineitem": _skew_lineitem,
      "embeddings": _skew_embeddings},
    fields=lambda st: {"duplicate_pile_docs": st["documents"]})


# -------------------------------------------------------------- UNICODE
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


def _text_pathology(doc_id, text):
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


def rewrite_strings(src, dst, id_col, col, fn, classes, extra=None):
    """Apply fn(id, value) to a string column through pyarrow; `extra`
    (name, fn(new_values)) recomputes a dependent column. Returns the
    per-class counts of non-NULL rows (class = id % 13)."""
    tbl = pq.read_table(src)
    ids = tbl.column(id_col).to_pylist()
    vals = tbl.column(col).to_pylist()
    new = [None if v is None else fn(i, v) for i, v in zip(ids, vals)]
    cols = {n: tbl.column(n) for n in tbl.column_names}
    cols[col] = pa.array(new, type=pa.string())
    if extra:
        cols[extra[0]] = extra[1](new)
    pq.write_table(pa.table(cols, schema=tbl.schema), dst)
    counts = {}
    for i, v in zip(ids, vals):
        if v is not None and i % 13 in classes:
            counts[i % 13] = counts.get(i % 13, 0) + 1
    return {str(k): v for k, v in sorted(counts.items())}


UNICODE_CLASSES = {
    "0": "emoji/ZWJ prefix", "3": "RTL/bidi override suffix",
    "5": "U+FFFD repaired lone surrogates", "7": "whitespace-only",
    "9": "100 kB single token", "11": "zalgo + CJK no-space"}

UNICODE = Gate("UNICODECHECK", """
Robustness check: degenerate-TEXT corpus (VERDICT r9 item 2).

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
""", {"documents": lambda src, dst: rewrite_strings(
        src, dst, "doc_id", "text", _text_pathology, {0, 3, 5, 7, 9, 11},
        extra=("n_chars", lambda texts: pa.array(
            [None if t is None else len(t) for t in texts], type=pa.int64())))},
    fields=lambda st: {"pathology_classes": UNICODE_CLASSES,
                       "class_counts": st["documents"]})


# ----------------------------------------------------------------- JSON
JSON_PATHOLOGIES = {
    0: '{"k": 4',
    1: 'not json at all',
    2: '',
    3: 'null',
    4: '{"k": "str12"}',
    5: '{"a": 1, "k": 7, "zz": 3}',
    6: '{"k": {"deep": 1}}',
    7: '{"k": 12345678901234567890123}',
    8: '{"k": "\\u00e9\\ud83d\\ude00"}',
    9: '   {"k": 5}   ',
    10: '{"k": null}',
    11: '{}',
}

JSON = Gate("JSONCHECK", """
Robustness check: pathological-JSON corpus over `events.props`.

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
""", {"events": lambda src, dst: rewrite_strings(
        src, dst, "event_id", "props",
        lambda i, p: JSON_PATHOLOGIES.get(i % 13, p), JSON_PATHOLOGIES)},
    fields=lambda st: {
        "pathology_classes": {
            "0": "truncated object", "1": "plain garbage",
            "2": "empty string", "3": "JSON null literal",
            "4": "wrong-typed value", "5": "extra keys",
            "6": "nested object value", "7": "int64 overflow",
            "8": "escaped unicode string", "9": "whitespace-padded",
            "10": "null-valued key", "11": "empty object"},
        "class_counts": st["events"]})


# ------------------------------------------------------------------ VEC
def _vec_embeddings(src, dst):
    con.sql(f"""
      COPY (
        SELECT vec_id,
          CASE
            WHEN __rn % 13 = 3 THEN list_transform(embedding, x -> 0.0::FLOAT)
            WHEN __rn % 13 = 7 THEN list_transform(embedding, x -> (-x)::FLOAT)
            WHEN __rn % 13 = 9 THEN list_transform(embedding, x -> (x * 1e-12)::FLOAT)
            WHEN __rn % 13 = 11 THEN prev
            ELSE embedding
          END AS embedding,
          label
        FROM (SELECT *,
                row_number() OVER (ORDER BY vec_id) AS __rn,
                COALESCE(lag(embedding) OVER (ORDER BY vec_id), embedding) AS prev
              FROM '{src}')
        ORDER BY vec_id)
      TO '{dst}' (FORMAT PARQUET)""")
    n_zero, n = fetchone(f"""
      SELECT SUM(CASE WHEN list_max(list_transform(embedding, x -> abs(x))) = 0
                 THEN 1 ELSE 0 END), COUNT(*)
      FROM '{dst}'""")
    return f"{n_zero} zero-norm rows of {n}"


VEC = Gate("VECCHECK", """
Robustness check: rewrite `embeddings.embedding` with pathological but
contract-legal vectors and re-run the full oracle gate on the mutated
copy. The five existing corpus gates (null/empty/skew/shuffle/unicode)
all mutate `documents`; this one stresses the VECTOR family — the
fixed-point cosine/IVF/LSH/k-means/quantization paths — where the
engines most plausibly diverge:

  - division semantics: DuckDB float division by zero yields NULL,
    Spark yields Inf/NaN — a zero-norm vector turns every cosine it
    touches into engine-dependent garbage unless the operator pins a
    contract (graft's contract: cosine with a zero-norm side is NULL);
  - NULL ordering under rank windows (Spark ASC = NULLS FIRST vs
    DuckDB NULLS LAST — the cosine windows are DESC where both agree,
    and this gate proves it stays that way);
  - fixed-point underflow: components so small that floor(x·2^40) = 0
    makes the EXACT norm 0 while the float norm is not — both engines
    must agree the fixed-point norm is what defines the contract;
  - exact ties: duplicated vectors force cosine = 1.0 / dist = 0 ties
    through every (cosine DESC, vid) / (dist, cid) tie-break.

Mutations (deterministic, keyed on row_number() OVER (ORDER BY vec_id),
1-based, so vec_id v gets rn = v+1 on the driver's 0-based ids):
  rn % 13 == 3  -> zero vector (all 0.0f): zero norm, zero dots
  rn % 13 == 7  -> negated vector: cosine sign flips, same norm
  rn % 13 == 9  -> x * 1e-12: fixed-point underflow (exact norm 0,
                   float norm > 0)
  rn % 13 == 11 -> previous row's vector (lag): exact-duplicate ties

vec_id / label / all other tables stay untouched; every value stays a
finite float, so FixedPoint* expressions stay long-safe and no contract
raise fires. ~4/13 of rows mutated.
""", {"embeddings": _vec_embeddings},
    fields=lambda st: {"mutations": {
        "stride": 13,
        "zero_vector": "rn % 13 == 3",
        "negated": "rn % 13 == 7",
        "fixed_point_underflow_1e-12": "rn % 13 == 9",
        "exact_duplicate_of_prev": "rn % 13 == 11",
    }})


# ------------------------------------------------------------------ NUM
def _num_lineitem(src, dst):
    cols = con.sql(f"SELECT * FROM '{src}' LIMIT 0").columns
    sel = ", ".join({
        "l_quantity": "CASE WHEN l_returnflag = 'A' THEN 7.0 ELSE l_quantity END AS l_quantity",
        "l_discount": "CASE WHEN l_returnflag = 'A' THEN 0.05 ELSE l_discount END AS l_discount",
        "l_extendedprice": "CASE WHEN l_returnflag = 'A' THEN 1234.56 ELSE l_extendedprice END AS l_extendedprice",
    }.get(c, f'"{c}"') for c in cols)
    con.sql(f"COPY (SELECT {sel} FROM '{src}') TO '{dst}' (FORMAT PARQUET)")
    n = fetchone(f"SELECT COUNT(*) FROM '{dst}' WHERE l_returnflag = 'A'")[0]
    return f"{n} rows in the constant 'A' group"


def _num_events(src, dst):
    copy_select(src, dst, replace_col(
        src, "value",
        "CASE WHEN __rn % 5 = 2 THEN 42.0 "
        # NB '-0.0'::DOUBLE, not the literal -0.0: DuckDB parses the
        # bare literal as DECIMAL, which has no signed zero
        "     WHEN __rn % 17 = 5 THEN '-0.0'::DOUBLE ELSE value END"),
        order="event_id")
    ties, negz = fetchone(f"""
      SELECT SUM(CASE WHEN value = 42.0 THEN 1 ELSE 0 END),
             SUM(CASE WHEN value = 0.0 AND signbit(value) THEN 1 ELSE 0 END)
      FROM '{dst}'""")
    return f"{ties} tie-block rows, {negz} negative zeros"


NUM = Gate("NUMCHECK", """
Robustness check: rewrite the numeric measure columns with degenerate
but contract-legal values and re-run the full oracle gate on the mutated
copy. Complements the other corpus gates (null/empty/skew/shuffle/
unicode mutate documents+events structure; VECCHECK mutates
embeddings): this one stresses the DISPERSION / PERCENTILE / WINDOW-RANK
family where degenerate distributions diverge engines:

  - a zero-variance group: var = 0 hits the floor-bias clamp, and the
    Pearson denominator becomes exactly 0 — correlation is undefined
    (NULL, DuckDB's divide-by-zero) and must not ANSI-throw in Spark;
  - massive tie blocks: exact/approx percentiles over a constant group,
    rank/percent_rank/cume_dist/ntile over repeated values (every rank
    window must carry a deterministic tie-break to survive this);
  - negative zero: -0.0 must compare, rank and aggregate as 0.0 in both
    engines while the stored value round-trips.

Mutations (deterministic):
  lineitem rows with l_returnflag = 'A'  -> l_quantity = 7.0,
      l_discount = 0.05, l_extendedprice = 1234.56   (whole group
      constant: zero variance, zero covariance, percentile ties)
  events rows with rn % 5 == 2           -> value = 42.0  (tie blocks
      inside every user's rank window)
  events rows with rn % 17 == 5          -> value = -0.0  (negative
      zero through sums, ranks and lag/lead)

All other columns and tables stay untouched.
""", {"lineitem": _num_lineitem, "events": _num_events},
    fields=lambda st: {"mutations": {
        "lineitem_constant_group": "l_returnflag='A' -> qty 7.0, disc 0.05, price 1234.56",
        "events_tie_block": "rn % 5 == 2 -> value 42.0",
        "events_negative_zero": "rn % 17 == 5 -> value -0.0",
    }})


# ----------------------------------------------------------------- TIME
def _time_events(src, dst):
    copy_select(src, dst, replace_col(
        src, "ts",
        "CASE WHEN __rn % 23 = 4  THEN '2024-03-10 02:30:00'::TIMESTAMP "
        "     WHEN __rn % 23 = 9  THEN '1969-12-31 23:57:30'::TIMESTAMP "
        "     WHEN __rn % 23 = 14 THEN '1970-01-01 00:00:00'::TIMESTAMP "
        "     WHEN __rn % 23 = 19 THEN '2200-06-15 12:34:56.789'::TIMESTAMP "
        "     ELSE ts END"), order="event_id")
    tie, pre, users = fetchone(f"""
      SELECT SUM(CASE WHEN ts = '2024-03-10 02:30:00' THEN 1 ELSE 0 END),
             SUM(CASE WHEN ts < '1970-01-01' THEN 1 ELSE 0 END),
             COUNT(DISTINCT CASE WHEN ts = '2024-03-10 02:30:00'
                                 THEN user_id END)
      FROM '{dst}'""")
    return (f"{tie} events on the tie instant across {users} users, "
            f"{pre} pre-epoch")


TIME = Gate("TIMECHECK", """
Robustness check: rewrite `events.ts` with pathological but legal
timestamps and re-run the full oracle gate on the mutated copy. The
other corpus gates cover NULLs/empties/skew/layout/unicode/JSON/vector/
numeric pathology; this one stresses TIME — the window/session/as-of/
path family where engines classically diverge:

  - an exact-tie pile: hundreds of events (many sharing a user) carry
    the IDENTICAL timestamp — every ORDER BY ts window (lag/lead,
    running sums with RANGE frames, as-of joins, session splits, funnel
    and path orderings) must either be tie-insensitive or carry an id
    tie-break;
  - pre-epoch timestamps: negative epoch values expose floor-vs-
    truncate bucketing (Spark's window() floor-divides; DuckDB's `//`
    TRUNCATES toward zero — -7//2 = -3 — and time_bucket's 2000-01-01
    origin only agrees with the epoch origin because floor semantics
    hold on both sides);
  - epoch zero exactly; and a far-future 2200 timestamp (well inside
    µs range) for the other end.

Mutations (deterministic, rn = row_number() OVER (ORDER BY event_id)):
  rn % 23 == 4  -> '2024-03-10 02:30:00'  (the shared tie instant)
  rn % 23 == 9  -> '1969-12-31 23:57:30'  (pre-epoch, off the 5-min grid)
  rn % 23 == 14 -> '1970-01-01 00:00:00'  (epoch zero)
  rn % 23 == 19 -> '2200-06-15 12:34:56.789' (far future)

All whole-ms values (exact in µs parquet); all other columns/tables
untouched.
""", {"events": _time_events},
    fields=lambda st: {"mutations": {
        "tie_instant": "rn % 23 == 4 -> 2024-03-10 02:30:00",
        "pre_epoch": "rn % 23 == 9 -> 1969-12-31 23:57:30",
        "epoch_zero": "rn % 23 == 14 -> 1970-01-01 00:00:00",
        "far_future": "rn % 23 == 19 -> 2200-06-15 12:34:56.789",
    }})


# ----------------------------------------------------------------- DATE
def _date_orders(src, dst):
    copy_select(src, dst, replace_col(
        src, "o_orderdate",
        "CASE WHEN __rn % 19 = 3  THEN '1582-10-05 00:00:00'::TIMESTAMP "
        "     WHEN __rn % 19 = 8  THEN '0001-01-01 00:00:00'::TIMESTAMP "
        "     WHEN __rn % 19 = 13 THEN '2000-02-29 12:00:00'::TIMESTAMP "
        "     WHEN __rn % 19 = 17 THEN '9999-11-30 23:59:59'::TIMESTAMP "
        "     ELSE o_orderdate END"), order="o_orderkey")
    early, late = fetchone(f"""
      SELECT SUM(CASE WHEN o_orderdate < '1990-01-01' THEN 1 ELSE 0 END),
             SUM(CASE WHEN o_orderdate > '9000-01-01' THEN 1 ELSE 0 END)
      FROM '{dst}'""")
    return f"{early} pre-1990 edge dates, {late} near-max dates"


DATE = Gate("DATECHECK", """
Robustness check: rewrite `orders.o_orderdate` with calendar-edge
timestamps and re-run the full oracle gate on the mutated copy. Closes
the pathology matrix alongside TIMECHECK (events.ts): this one
stresses the DATE-ARITHMETIC family — date_trunc / last_day /
dayofweek / datediff / +INTERVAL / year-month grouping / date range
joins — on the dates where calendar systems diverge:

  - 1582-10-05: inside the Julian→Gregorian cutover gap. Valid in the
    proleptic Gregorian calendar both engines use; a hybrid-calendar
    regression (pre-Spark-3 behavior) would shift it by 10 days;
  - 0001-01-01: minimum practical year — exercises signed day/µs
    arithmetic ~2 million days before the epoch;
  - 2000-02-29 12:00:00: a leap day WITH a time-of-day — last_day /
    date_trunc must ignore the time part, and day-difference semantics
    must agree between Spark's cast-to-date datediff and DuckDB's
    boundary-counting date_diff when one endpoint has hours;
  - 9999-11-30 23:59:59: near-max year, still safe under the +30 day
    shift every consumer applies (lands 9999-12-30).

Mutations (deterministic, rn = row_number() OVER (ORDER BY o_orderkey)):
  rn % 19 == 3  -> 1582-10-05 00:00:00
  rn % 19 == 8  -> 0001-01-01 00:00:00
  rn % 19 == 13 -> 2000-02-29 12:00:00
  rn % 19 == 17 -> 9999-11-30 23:59:59

All other columns/tables untouched.
""", {"orders": _date_orders},
    fields=lambda st: {"mutations": {
        "julian_gap": "rn % 19 == 3 -> 1582-10-05",
        "year_one": "rn % 19 == 8 -> 0001-01-01",
        "leap_day_with_time": "rn % 19 == 13 -> 2000-02-29 12:00:00",
        "near_max": "rn % 19 == 17 -> 9999-11-30 23:59:59",
    }})


# ----------------------------------------------------------------- NULL
# table -> list of columns to null on the selected rows; documents.text
# drags n_chars with it (consistency contract, see the gate's doc).
NULLED = {
    "events": ["props", "event_type", "value"],
    "documents": ["text", "lang", "source", "n_chars"],
    "customer": ["c_mktsegment", "c_acctbal"],
    "part": ["p_type", "p_brand"],
    "orders": ["o_orderpriority"],
    "lineitem": ["l_returnflag"],
}


def _nulled(cols):
    def rewrite(src, dst):
        # deterministic 1-in-7 selection keyed on the row number, so the
        # same rows are nulled on every run (and on re-generated corpora)
        names = con.sql(f"SELECT * FROM '{src}' LIMIT 0").columns
        copy_select(src, dst, ", ".join(
            f"CASE WHEN __rn % 7 = 3 THEN NULL ELSE \"{c}\" END AS \"{c}\""
            if c in cols else f'"{c}"' for c in names))
        n = fetchone(f"SELECT COUNT(*) FROM '{dst}' WHERE \"{cols[0]}\" IS NULL")[0]
        return f"nulled {cols} on {n} rows"
    return rewrite


NULL = Gate("NULLCHECK", """
Robustness check: rewrite the corpus with deterministic NULLs injected
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

The sampling family raise_error-guards NULL quality scores / token
counts / weights / strata (documented input contracts): on the nulled
corpus the CORRECT behavior is the loud failure, not output. The oracle
compare turns these into [ok (contract raise)] only when Verify's
errors.json records the operator's raise_error carrying the message
substring below, and fails if any of them silently produces rows.
""", {t: _nulled(cols) for t, cols in NULLED.items()},
    fields=lambda st: {"nulled_columns": NULLED, "null_stride": 7},
    expect_raise={
        "q114_adaptive_quality_floor": "adaptiveQualityFloor: NULL score",
        "q121_token_budget_sample": "tokenBudgetSample: NULL token count",
        "q122_matched_contrast_sample": "matchedSample: NULL",
        "q138_pps_sample": "systematicPps: NULL weight",
    })


# ------------------------------------------------------------------ DUP
OFF = 1000000000  # fresh-id offset for replayed rows

# replayed copy of every 7th row: SAME content, FRESH primary key
REPLAY = {
    "events": f"event_id + {OFF} AS event_id, ts, user_id, event_type, "
              "value, props",
    "documents": f"doc_id + {OFF} AS doc_id, text, lang, source, n_chars",
    "embeddings": f"vec_id + {OFF} AS vec_id, embedding, label",
    # lineitem's key is (l_orderkey, l_linenumber): the replay keeps the
    # order attachment and takes fresh line numbers — a partially
    # re-ingested order
    "lineitem": "l_orderkey, l_partkey, l_suppkey, l_linenumber + 1000 AS "
                "l_linenumber, l_quantity, l_extendedprice, l_discount, "
                "l_tax, l_returnflag, l_linestatus, l_shipdate",
}

# primary key per replayed table: orders the row_number() windows so the
# replayed slice (and the interleave shuffle's __rn keys) are identical
# across DuckDB versions/settings
KEY = {
    "events": "event_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
    "lineitem": "l_orderkey, l_linenumber",
}


def _replayed(t):
    def rewrite(src, dst):
        # original bag UNION ALL the replayed slice, scrambled so copies
        # arrive interleaved like a real overlapping backfill
        con.sql(f"""
          COPY (
            SELECT * EXCLUDE (__rn) FROM (
              SELECT *, row_number() OVER (ORDER BY {KEY[t]}) AS __rn
              FROM '{src}'
              UNION ALL
              SELECT {REPLAY[t]},
                     row_number() OVER (ORDER BY {KEY[t]}) + {OFF} AS __rn
              FROM (SELECT *, row_number() OVER (ORDER BY {KEY[t]}) AS __r0
                    FROM '{src}')
              WHERE __r0 % 7 = 3
            ) ORDER BY md5(CAST(__rn AS VARCHAR)))
          TO '{dst}' (FORMAT PARQUET)""")
        n0 = fetchone(f"SELECT COUNT(*) FROM '{src}'")[0]
        n1 = fetchone(f"SELECT COUNT(*) FROM '{dst}'")[0]
        return {"rows": n1, "replayed": n1 - n0}
    return rewrite


DUP = Gate("DUPCHECK", """
Robustness check: rewrite the corpus as an at-least-once REPLAY — a
second copy of ~1/7 of every ingest-shaped table's rows, carrying the
SAME content under FRESH primary keys (id + 10^9; replayed lineitems
keep their order key and take fresh line numbers) — and re-run the full
oracle gate. This is the duplication shape a real pipeline produces
(a retried ingest batch or an overlapping backfill lands twice AFTER id
assignment), and it preserves the corpus's primary-key contract, which
both the operators' keyed semantics (content-addressed staging,
keep-one-per-id, the reference's keyed store) and the oracle mirrors'
unnest-regroup idiom (GROUP BY id to mirror per-row array math in SQL)
are built on. A first cut of this gate duplicated FULL ROWS id-and-all:
31 queries diverged — every one an artifact of breaking that contract
(e.g. the mirrors' n2-by-vec_id CTE collapses id-duplicates where Spark
computes per row), none an engine multiplicity bug — so the id-violating
axis tests the wrong thing.

What the replay exercises that no other gate does: pairwise duplicate
CONTENT spread across the whole corpus (the skew gate builds ONE giant
pile instead) — every near-dup/exact-dup operator must flag each
(original, replay) pair, ANN rankings gain cosine-1.0 ties that the
vid tie-breaks must order identically in both engines, quantizer
training prefixes (vec_id < cap) must exclude the fresh-id copies in
both, keep-one and CC see thousands of 2-clusters, and every count/sum
carries the extra multiplicity.

Duplicates are keyed on a row number ordered by the table's primary key,
so the replayed slice is deterministic by construction (row_number() with
no ORDER BY would lean on DuckDB's default preserve_insertion_order — a
setting, not a guarantee). Tables replayed: events, documents,
embeddings, lineitem.
""", {t: _replayed(t) for t in REPLAY},
    fields=lambda st: {"replayed_tables": st})


# --------------------------------------------------------------- RETYPE
I32_MIN, I32_MAX = -(2 ** 31), 2 ** 31 - 1


def _retype(src, dst):
    cols = con.sql(f"DESCRIBE SELECT * FROM '{src}'").fetchall()
    narrowed = []
    exprs = []
    for name, typ, *_ in reversed(cols):  # reversed = drifted column order
        if typ == "BIGINT":
            lo, hi = fetchone(f'SELECT min("{name}"), max("{name}") FROM \'{src}\'')
            if lo is not None and lo >= I32_MIN and hi <= I32_MAX:
                exprs.append(f'CAST("{name}" AS INTEGER) AS "{name}"')
                narrowed.append(name)
                continue
        exprs.append(f'"{name}"')
    con.sql(f"COPY (SELECT {', '.join(exprs)} FROM '{src}') "
            f"TO '{dst}' (FORMAT PARQUET)")
    return {"narrowed_to_int32": narrowed, "columns_reversed": True}


RETYPE = Gate("RETYPECHECK", """
Robustness check: rewrite the corpus with SCHEMA DRIFT — the two
lossless rewrites real lakehouse writers produce constantly — and re-run
the full oracle gate against the drifted copy:

  1. physical column order REVERSED per table (a different writer, a
     schema-evolution append, or a SELECT-reordering ETL step changes
     file column order freely; readers must bind by NAME, never by
     position), and
  2. integer columns NARROWED to INT32 wherever the table's actual value
     range fits (a space-conscious writer, a different language's ORM,
     or a Parquet statistics-aware compactor picks the smallest physical
     type; readers must treat int32/int64 ids as the same key domain —
     joins, window keys, staged-table round-trips and driver-side
     collects all included).

Both engines read the same drifted files, so every query must still
value-match — any divergence is a positional or width assumption one
engine makes and the other doesn't. Timestamps, floats and text are
left untouched (those are genuinely different values when rewritten,
not drift). The rewrite is a pure projection, so row order and content
are byte-identical to the source corpus.
""", every(_retype), fields=lambda st: {"drift": st})


# --------------------------------------------------------------- LAYOUT
def _relayout(src, dst):
    # ORDER BY md5(row) is a deterministic full shuffle: same corpus in,
    # same (scrambled) order out — reproducible across runs for debugging.
    # Splitting happens at row-group boundaries, so the row group must be
    # sized per table (a fixed 2048 left the 500-row documents table — a
    # spread-heuristic table, the whole point of the multi-file axis —
    # in one file); n/12 + a tiny FILE_SIZE_BYTES forces ~12 files per
    # table regardless of its row count or width.
    n_rows = fetchone(f"SELECT count(*) FROM read_parquet('{src}')")[0]
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
    return {"files": n_files, "rows_shuffled": True}


def cross_layout(base, out):
    """(queries in base, [(query, why)] whose out differs): every query's
    output on the re-laid-out corpus must equal its output on the pristine
    one, columns name-sorted and rows sorted (the driver-harness compare)."""
    def sorted_rows(outdir, name):
        tbl = pq.read_table(f"{outdir}/{name}", coerce_int96_timestamp_unit="us")
        cols = sorted(tbl.column_names)
        rows = [tuple(co.norm(row[c]) for c in cols) for row in tbl.to_pylist()]
        return cols, sorted(rows, key=co.row_key)

    names = sorted(d for d in os.listdir(base) if os.path.isdir(f"{base}/{d}"))
    divergent = []
    for name in names:
        try:
            bc, br = sorted_rows(base, name)
            lc, lr = sorted_rows(out, name)
            if bc != lc:
                divergent.append((name, f"schema {bc} vs {lc}"))
            elif br != lr:
                i = next(i for i, (a, b) in enumerate(
                    zip(br + [None] * len(lr), lr + [None] * len(br))) if a != b)
                divergent.append((name,
                                  f"row {i}: pristine={br[i] if i < len(br) else 'absent'}"
                                  f" relayout={lr[i] if i < len(lr) else 'absent'}"))
        except Exception as e:
            divergent.append((name, f"EXC {type(e).__name__}: {e}"))
    return len(names), divergent


LAYOUT = Gate("LAYOUTCHECK", """
Robustness check: rewrite the corpus with a different PHYSICAL LAYOUT
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
     share; (b) is the check that catches it. The pristine corpus is
     verified in the same Verify run; its DuckDB parity is the standing
     CORRECTNESS gate, so it is not compared again here.

Supersedes the early row-shuffle-only check (sf0.001, DuckDB parity
only, no artifact): parity alone cannot catch an order-dependence both
engines share, and a single-file rewrite never exercises the multi-file
scan path or the adaptive spread heuristic.
""", every(_relayout), fields=lambda st: {"layout": st}, cross_layout=True)


GATES = [EMPTY, SKEW, UNICODE, JSON, VEC, NUM, TIME, DATE, NULL, DUP,
         RETYPE, LAYOUT]
