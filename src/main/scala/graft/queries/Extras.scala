package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.Tables
import graft.functions.Num._

/** Further breadth: TF-IDF relevance, MinHash similarity estimation vs
  * exact, the window-function family, date arithmetic, JSON validity. */
object Extras extends QueryModule {

  val all: Seq[Q] = Seq(

    // ---- TF-IDF (linear idf N/df — ln() is not ulp-portable across
    //      libm implementations; integer-ratio idf is exact) ----
    Q("q56_tfidf_top_terms", Some("""
      WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS t FROM documents),
      tf AS (SELECT doc_id, t, COUNT(*) AS tf FROM tok GROUP BY doc_id, t),
      df AS (SELECT t, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY t),
      n AS (SELECT COUNT(*) AS n FROM documents),
      scored AS (SELECT tf.doc_id, tf.t,
          CAST(tf.tf AS DOUBLE) * (CAST(n.n AS DOUBLE) / df.df) AS score
        FROM tf JOIN df ON tf.t = df.t CROSS JOIN n),
      ranked AS (SELECT doc_id, t, score,
          ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, t) AS rn
        FROM scored)
      SELECT doc_id, t AS term, score, CAST(rn AS INT) AS rank
      FROM ranked WHERE rn <= 3 ORDER BY doc_id, rank""")) { (s, d) =>
      val tok = Tables.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
      val tf = graft.Pins.pin(
        tok.groupBy("doc_id", "t").agg(count(lit(1)).as("tf")), "q56.tf")
      // df from tf, not tok: tf's rows are already the distinct (doc_id, t)
      // pairs, so COUNT(*) per term equals COUNT(DISTINCT doc_id) over the
      // raw tokens — the old countDistinct planned an Expand that
      // multiplied every token 2× through the first shuffle; this plans a
      // plain re-aggregation. tf is PINNED (r16): its two consumers (df
      // and the scoring join) de-canonicalize under column pruning, so
      // unpinned the scan → explode → corpus-tokens EXCHANGE → aggregate
      // subtree ran twice — the r15 trade note blamed the extra tokenize
      // and called a persist worse, but the duplicated cost is the
      // shuffle, and the sf1 A/B refutes the note decisively (alternating
      // pairs: pin 1.44/1.36 s vs 2.61/2.60 s; sf0.1 1.06-1.09 vs 1.11).
      // The pinned frame is distinct (doc_id, term) + a count —
      // corpus-scale but several× smaller than the raw token stream, and
      // localCheckpoint stores MEMORY_AND_DISK (spills, never OOMs); the
      // durability caveat (executor loss fails the query instead of
      // recomputing) is the standard trade documented in SCALING.md —
      // at 100 TB the production path is a staged postings table
      // (operators/Postings.scala), not a per-run pin.
      val df = tf.groupBy("t").agg(count(lit(1)).as("df"))
      // Corpus size as a broadcast 1-row frame inside the same job — a
      // driver-side .count() at plan-build time would run an extra job per
      // build and bake a stale constant into the plan.
      val n = Tables.documents(s, d).agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("doc_id")).orderBy(desc("score"), asc("t"))
      tf.join(df, "t")
        .crossJoin(broadcast(n))
        .withColumn("score",
          col("tf").cast("double") * (col("n").cast("double") / col("df")))
        .drop("n")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("doc_id"), col("t").as("term"), col("score"),
          col("rn").as("rank"))
        .orderBy("doc_id", "rank")
    },

    // ---- MinHash similarity estimate vs exact jaccard on candidates ----
    Q("q57_minhash_estimate", Some(s"""
      WITH sp AS (SELECT doc_id, string_split(text,' ') tk FROM documents),
      sh AS (SELECT doc_id,
        list_distinct(list_transform(generate_series(1, len(tk)-2),
          i -> array_to_string(tk[i:i+2],' '))) AS sh FROM sp),
      mh AS (SELECT doc_id, sh,
        ${(0 until 8).map(i =>
          s"list_min(list_transform(sh, t -> xor(CAST(('0x'||substr(md5(t||':0'),1,15)) AS BIGINT), CAST(('0x'||substr(md5('mix:$i'),1,15)) AS BIGINT)))) AS mh$i")
          .mkString(",\n        ")}
      FROM sh),
      bands AS (
        ${(0 until 4).map(b =>
          s"SELECT doc_id, $b AS band, CAST(mh${2 * b} AS VARCHAR)||'_'||CAST(mh${2 * b + 1} AS VARCHAR) AS bkey FROM mh")
          .mkString("\n        UNION ALL ")}),
      cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        FROM bands x JOIN bands y
          ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id)
      SELECT c.a, c.b,
        (${(0 until 8).map(i =>
          s"CASE WHEN sa.mh$i = sb.mh$i THEN 1 ELSE 0 END").mkString(" + ")}) / 8.0
          AS est_jaccard,
        CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
          / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)))
          AS exact_jaccard
      FROM cand c JOIN mh sa ON sa.doc_id = c.a JOIN mh sb ON sb.doc_id = c.b
      ORDER BY a, b""")) { (s, d) =>
      // estimator = matching signature slots / k, on LSH candidates. The
      // pairs operator already carries both sides' signatures — no extra
      // signature pipelines or joins.
      import graft.operators.Dedup
      Dedup.minhashLshPairsWithSigs(Tables.documents(s, d), "doc_id", "text",
          numHashes = 8, bands = 4, shingleSize = 3, threshold = -1.0)
        .withColumn("est_jaccard",
          (0 until 8).map(i =>
            when(col(s"a_mh$i") === col(s"b_mh$i"), 1).otherwise(0))
            .reduce(_ + _) / 8.0)
        .select(col("a"), col("b"), col("est_jaccard"),
          col("jaccard").as("exact_jaccard"))
        .orderBy("a", "b")
    },

    // ---- window-function family ----
    Q("q58_window_family", Some("""
      SELECT event_id, user_id, value,
        lag(value) OVER w AS prev_value,
        lead(value) OVER w AS next_value,
        first_value(event_id) OVER w AS first_id,
        CAST(rank() OVER wv AS INT) AS value_rank,
        percent_rank() OVER wv AS pct_rank,
        cume_dist() OVER wv AS cume,
        CAST(ntile(4) OVER wv AS INT) AS quartile
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id),
             wv AS (PARTITION BY user_id ORDER BY value NULLS FIRST, event_id)
      ORDER BY event_id""")) { (s, d) =>
      // `value` is nullable ⇒ the rank-family window order must pin NULL
      // placement: Spark ASC defaults to NULLS FIRST, DuckDB to NULLS
      // LAST — unpinned, every rank/percent_rank/cume/ntile value in a
      // partition with NULLs diverges (caught by NULLCHECK).
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val wv = Window.partitionBy(col("user_id")).orderBy(col("value"), col("event_id"))
      Tables.events(s, d).select(
        col("event_id"), col("user_id"), col("value"),
        lag(col("value"), 1).over(w).as("prev_value"),
        lead(col("value"), 1).over(w).as("next_value"),
        first(col("event_id")).over(w).as("first_id"),
        rank().over(wv).as("value_rank"),
        percent_rank().over(wv).as("pct_rank"),
        cume_dist().over(wv).as("cume"),
        ntile(4).over(wv).as("quartile")
      ).orderBy("event_id")
    },

    // ---- date arithmetic ----
    Q("q59_date_arith", Some("""
      SELECT o_orderkey,
        CAST(o_orderdate + INTERVAL 30 DAY AS TIMESTAMP) AS due_date,
        CAST(date_diff('day', o_orderdate, TIMESTAMP '2001-09-02 00:00:00') AS INT)
          AS days_to_ref,
        CAST(last_day(CAST(o_orderdate AS DATE)) AS DATE) AS month_end,
        CAST(dayofweek(o_orderdate) + 1 AS INT) AS dow,
        CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start
      FROM orders ORDER BY o_orderkey""")) { (s, d) =>
      Tables.orders(s, d).select(
        col("o_orderkey"),
        (col("o_orderdate") + expr("INTERVAL 30 days")).as("due_date"),
        datediff(lit("2001-09-02").cast("date"), col("o_orderdate"))
          .as("days_to_ref"),
        last_day(col("o_orderdate")).as("month_end"),
        dayofweek(col("o_orderdate")).as("dow"), // Spark: 1=Sunday; DuckDB dayofweek: 0=Sunday
        date_trunc("month", col("o_orderdate")).as("month_start")
      ).orderBy("o_orderkey")
    },

    // ---- §1.3 data model: array column functions ----
    // Array-valued output is serialized (array_join) at the SELECT
    // boundary: the driver's pandas compare gate cannot sort array cells.
    Q("q65_array_funcs", Some("""
      WITH sp AS (SELECT doc_id, string_split(text,' ') tk FROM documents)
      SELECT doc_id,
        list_contains(tk, 'the') AS has_the,
        CASE WHEN tk IS NULL THEN NULL
          ELSE CAST(coalesce(list_position(tk, 'the'), 0) AS BIGINT) END AS the_pos,
        tk[2] AS second_tok,
        array_to_string(list_reverse(tk[1:3]), ',') AS first3_rev
      FROM sp ORDER BY doc_id""")) { (s, d) =>
      val toks = split(col("text"), " ")
      Tables.documents(s, d).select(
        col("doc_id"),
        array_contains(toks, "the").as("has_the"),
        array_position(toks, "the").as("the_pos"),
        // try_: ANSI element_at throws past the end — a single-token doc
        // must yield NULL like DuckDB's tk[2] (unicode_check class 9)
        try_element_at(toks, lit(2)).as("second_tok"),
        array_join(reverse(slice(toks, 1, 3)), ",").as("first3_rev")
      ).orderBy("doc_id")
    },

    // ---- §1.3 data model: MapType projection from JSON events ----
    // Map keys/values are serialized (array_join) at the SELECT boundary:
    // the driver's pandas compare gate cannot sort array/map cells.
    // Malformed-input contract (JSONCHECK): the map parses
    // values as STRINGS (a typed Long map would NULL the whole map on one
    // non-numeric value, while json_keys still lists the keys), each
    // value try_casts individually (NULLs are SKIPPED by array_join /
    // array_to_string in both engines), and every column is NULL for
    // invalid/non-object documents. The oracle guards json_keys /
    // json_extract_string behind json_valid (DuckDB throws on malformed
    // JSON) and COALESCEs the empty-object key list (json_keys('{}')
    // composes to NULL, Spark's map_keys(empty map) to ''). Per-key
    // values resolve through RFC 6901 JSON Pointer ('/' || key with ~/
    // escaped), not '$.'-concatenated JSONPath: Spark reads the map value
    // directly, so a key containing path metacharacters ('.', '[', '"',
    // '*') must resolve LITERALLY in the mirror too — pointer syntax does
    // (verified: {"a.b","c[0]","d\"e","f/g","h~i","*"} all resolve),
    // while path concat mis-resolves '.'/'[' and DuckDB even throws on a
    // '*' key ("JSON path cannot contain wildcards") (ADVICE r10).
    Q("q66_map_ops", Some("""
      SELECT event_id,
        CASE WHEN json_valid(props) AND json_type(props) = 'OBJECT'
          THEN COALESCE(array_to_string(json_keys(props), ','), '') END AS ks,
        CASE WHEN json_valid(props) AND json_type(props) = 'OBJECT'
          THEN COALESCE(array_to_string(list_transform(json_keys(props),
            x -> TRY_CAST(json_extract_string(props,
              '/' || replace(replace(x, '~', '~0'), '/', '~1')) AS BIGINT)),
            ','), '') END AS vs,
        CASE WHEN json_valid(props)
          THEN TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) END AS k_val
      FROM events ORDER BY event_id""")) { (s, d) =>
      val m = from_json(col("props"),
        org.apache.spark.sql.types.MapType(
          org.apache.spark.sql.types.StringType,
          org.apache.spark.sql.types.StringType))
      val longTy = org.apache.spark.sql.types.LongType
      Tables.eventsProps(s, d).select(
        col("event_id"),
        array_join(map_keys(m), ",").as("ks"),
        array_join(transform(map_values(m), _.try_cast(longTy).cast("string")),
          ",").as("vs"),
        try_element_at(m, lit("k")).try_cast(longTy).as("k_val")
      ).orderBy("event_id")
    },

    // ---- §1.3 data model: nested struct column ----
    // The struct is built and field-projected in Spark; the struct-valued
    // output column goes through to_json (both engines print compact
    // `{"uid":1,"typ":"x"}`) so the driver's pandas gate can hash it.
    Q("q67_struct_ops", Some("""
      SELECT event_id,
        to_json({'uid': user_id, 'typ': event_type}) AS who,
        user_id AS uid2
      FROM events ORDER BY event_id""")) { (s, d) =>
      // ignoreNullFields=false: Spark's to_json default DROPS null struct
      // fields ({"uid":7}), while DuckDB's struct-to-json keeps them
      // ({"uid":7,"typ":null}) — with a nullable event_type the two
      // disagree on every null row (caught by NULLCHECK);
      // explicit nulls are also the lossless choice for a serialized
      // record.
      val who = struct(col("user_id").as("uid"), col("event_type").as("typ"))
      Tables.events(s, d).select(
        col("event_id"),
        to_json(who, Map("ignoreNullFields" -> "false")).as("who"),
        who.getField("uid").as("uid2")
      ).orderBy("event_id")
    },

    // ---- F8: id generation, oracle-gated via deterministic *checks* ----
    // uuid()/monotonically_increasing_id() values are nondeterministic, so
    // the query emits properties that must always hold — RFC-4122-v4 shape,
    // uniqueness — plus a fully deterministic md5 id mirrored in DuckDB.
    Q("q61_id_generation", Some("""
      WITH base AS (SELECT event_id, user_id,
          md5(CAST(event_id AS VARCHAR) || ':' || CAST(user_id AS VARCHAR))
            AS stable_id
        FROM (SELECT * FROM events ORDER BY event_id LIMIT 100))
      SELECT COUNT(*) AS n,
        true AS uuids_valid,
        true AS uuids_unique,
        true AS mono_unique,
        (COUNT(DISTINCT stable_id) = COUNT(*)) AS stable_unique,
        min(stable_id) AS first_stable_id
      FROM base""")) { (s, d) =>
      val base = Tables.events(s, d).orderBy("event_id").limit(100).select(
        col("event_id"),
        uuid().as("row_uuid"),
        monotonically_increasing_id().as("mono_id"),
        md5(concat_ws(":", col("event_id"), col("user_id"))).as("stable_id"))
      val uuidV4 =
        "^[0-9a-f]{8}-[0-9a-f]{4}-4[0-9a-f]{3}-[89ab][0-9a-f]{3}-[0-9a-f]{12}$"
      base.agg(
        count(lit(1)).as("n"),
        (count(when(col("row_uuid").rlike(uuidV4), 1)) === count(lit(1)))
          .as("uuids_valid"),
        (countDistinct(col("row_uuid")) === count(lit(1))).as("uuids_unique"),
        (countDistinct(col("mono_id")) === count(lit(1))).as("mono_unique"),
        (countDistinct(col("stable_id")) === count(lit(1))).as("stable_unique"),
        min(col("stable_id")).as("first_stable_id"))
    },

    // ---- JSON validity / error-tolerant extraction ----
    Q("q60_json_validity", Some("""
      SELECT event_type,
        COUNT(CASE WHEN json_valid(props) THEN
          CASE WHEN json_type(props) = 'OBJECT' THEN 1 END END) AS n_valid,
        COUNT(CASE WHEN json_valid('x' || props) THEN
          CASE WHEN json_type('x' || props) = 'OBJECT' THEN 1 END END)
          AS n_valid_corrupt,
        CAST(SUM(CASE WHEN json_valid(props)
          THEN TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) END) AS BIGINT)
          AS sum_k
      FROM events GROUP BY event_type ORDER BY event_type""")) { (s, d) =>
      // Corrupt input uses LEADING garbage: Spark's JSON parsers tolerate
      // trailing bytes after a complete object, DuckDB's json_valid does
      // not — leading garbage is invalid in both engines.
      // Validity is tested by parsing as a MAP — from_json(map) returns
      // NULL for unparseable input, so isNotNull IS "valid JSON object"
      // (probing a field would also miss valid objects that merely lack
      // the field, or carry it as null — not a validity test at all).
      // Both engines therefore test the SAME predicate — "valid JSON
      // object", not "any valid JSON value": the oracle guards
      // json_type(props)='OBJECT' behind json_valid (nested CASE, which
      // DuckDB evaluates with selection vectors, so json_type never sees
      // malformed input), mirroring from_json(MapType).isNotNull, which
      // is false for valid non-object JSON (scalars, arrays, null).
      //
      // ONE full parse per row: validity and k-extraction share the same
      // from_json(map) result, materialized in a Project below the
      // aggregate (CollapseProject never inlines a non-cheap producer
      // referenced twice, so the parse stays single). The corrupt-input
      // probe is a second from_json, but Jackson rejects leading garbage
      // at the first token — near-zero cost. try_element_at/try_cast
      // keep missing-key and non-numeric values NULL under ANSI mode,
      // matching json_extract_string's NULL and the permissive struct
      // coercion this replaced.
      val mapTy = org.apache.spark.sql.types.MapType(
        org.apache.spark.sql.types.StringType,
        org.apache.spark.sql.types.StringType)
      Tables.eventsProps(s, d)
        .select(col("event_type"),
          from_json(col("props"), mapTy).as("m"),
          from_json(concat(lit("x"), col("props")), mapTy).isNotNull
            .as("corrupt_ok"))
        .groupBy(col("event_type"))
        .agg(
          count(when(col("m").isNotNull, 1)).as("n_valid"),
          count(when(col("corrupt_ok"), 1)).as("n_valid_corrupt"),
          sum(try_element_at(col("m"), lit("k"))
            .try_cast(org.apache.spark.sql.types.LongType)).as("sum_k"))
        .orderBy("event_type")
    }
  )
}
