package graft.queries

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.Num._
import graft.functions.GraftFunctions
import graft.operators.Dedup

/** Remaining SURVEY §2 rows: simhash near-dup pairing via the custom
  * codegen Hamming expression, full-outer join, self range join, grouped
  * string aggregation (A5), approximate distinct (A6, rows-only), time
  * formatting (F1/F2), base64 (F9).
  */
object Coverage extends QueryModule {

  /** DuckDB mirror of the q41 simhash CTEs (60-bit — the full width of the
    * md5-derived `hash64`, which is 15 hex chars = 60 bits). */
  private val dkSimhash = s"""
      tok AS (SELECT doc_id, unnest(list_distinct(string_split(text,' '))) AS t
              FROM documents),
      h AS (SELECT doc_id,
              CAST(('0x'||substr(md5(t||':0'),1,15)) AS BIGINT) AS h FROM tok),
      votes AS (SELECT doc_id, g.b, SUM(((h >> g.b) & 1)*2 - 1) AS v
                FROM h, generate_series(0, 59) g(b) GROUP BY doc_id, g.b),
      sig AS (SELECT doc_id,
        CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT)
          AS simhash
      FROM votes GROUP BY doc_id)"""

  val all: Seq[Q] = Seq(

    // ---- simhash near-dup pairs: pigeonhole banding + codegen hamming ----
    // 60-bit simhash in 3 chunks of 20 bits: hamming <= 2 implies at least
    // one chunk equal (pigeonhole), so the bucket join finds all pairs
    // without an n² comparison. Bucket space per band is 2^20 (~1M), so
    // candidate volume scales with true near-duplicate density rather than
    // collapsing into a constant number of buckets — a 16-bit signature
    // (≤128 total buckets) degenerates to O(n²/128) at corpus scale.
    Q("q41_simhash_near_dup", Some(s"""
      WITH $dkSimhash,
      chunks AS (
        SELECT doc_id, simhash, 0 AS band, simhash & 1048575 AS ck FROM sig
        UNION ALL SELECT doc_id, simhash, 1, (simhash >> 20) & 1048575 FROM sig
        UNION ALL SELECT doc_id, simhash, 2, (simhash >> 40) & 1048575 FROM sig),
      cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        FROM chunks x JOIN chunks y
          ON x.band = y.band AND x.ck = y.ck AND x.doc_id < y.doc_id),
      p AS (SELECT c.a, c.b,
          CAST(bit_count(xor(sa.simhash, sb.simhash)) AS INT) AS hamming
        FROM cand c JOIN sig sa ON sa.doc_id = c.a JOIN sig sb ON sb.doc_id = c.b)
      SELECT a, b, hamming FROM p WHERE hamming <= 2 ORDER BY a, b""")) { (s, d) =>
      val sig = Dedup.simhashSignatures(Tables.documents(s, d), "doc_id", "text", 60)
      // Carry the 8-byte signature through the chunk explode instead of
      // joining it back per side (the old shape re-scanned documents
      // twice and DISTINCT-aggregated the candidate list; at corpus
      // scale those "payload" joins shuffle the corpus twice — the same
      // diamond minhashLshPairsWithSigs documents avoiding). A pair
      // colliding in several chunk-bands is kept only at its FIRST
      // shared band (the candidatePairs/lshTopKMulti residual, r15/r16):
      // earlier-band chunk equality is a pure bit-slice of the carried
      // signatures, so the residual is codegen long-compares inside the
      // join and the distinct aggregation disappears. Hamming is
      // computed inline from the carried signatures.
      val chunks = sig.select(col("doc_id"), col("simhash"), posexplode(array(
        col("simhash").bitwiseAND(1048575L),
        shiftright(col("simhash"), 20).bitwiseAND(1048575L),
        shiftright(col("simhash"), 40).bitwiseAND(1048575L))).as(Seq("band", "ck")))
      def ckAt(side: String, b: Int) = b match {
        case 0 => col(s"$side.simhash").bitwiseAND(1048575L)
        case 1 => shiftright(col(s"$side.simhash"), 20).bitwiseAND(1048575L)
        case _ => shiftright(col(s"$side.simhash"), 40).bitwiseAND(1048575L)
      }
      val firstShared = (col("x.band") === 0) ||
        (col("x.band") === 1 && ckAt("x", 0) =!= ckAt("y", 0)) ||
        (col("x.band") === 2 && ckAt("x", 0) =!= ckAt("y", 0) &&
          ckAt("x", 1) =!= ckAt("y", 1))
      chunks.as("x").join(chunks.as("y"),
          col("x.band") === col("y.band") && col("x.ck") === col("y.ck") &&
            col("x.doc_id") < col("y.doc_id") && firstShared)
        .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
          GraftFunctions.hamming(col("x.simhash"), col("y.simhash"))
            .as("hamming"))
        .filter(col("hamming") <= 2)
        .orderBy("a", "b")
    },

    // ---- J3: full outer join ----
    Q("q42_full_outer", Some(s"""
      SELECT coalesce(f.k, o.k) AS custkey, f.n_f, o.n_o
      FROM (SELECT o_custkey AS k, COUNT(*) AS n_f FROM orders
            WHERE o_orderstatus = 'F' GROUP BY 1) f
      FULL OUTER JOIN
           (SELECT o_custkey AS k, COUNT(*) AS n_o FROM orders
            WHERE o_orderstatus = 'P' GROUP BY 1) o
      ON f.k = o.k ORDER BY custkey""")) { (s, d) =>
      val ord = Tables.orders(s, d)
      val f = ord.filter(col("o_orderstatus") === "F")
        .groupBy(col("o_custkey").as("k")).agg(count(lit(1)).as("n_f"))
      val o = ord.filter(col("o_orderstatus") === "P")
        .groupBy(col("o_custkey").as("k")).agg(count(lit(1)).as("n_o"))
      f.join(o, Seq("k"), "full_outer")
        .select(col("k").as("custkey"), col("n_f"), col("n_o"))
        .orderBy("custkey")
    },

    // ---- J3: self range join (follow-up events within 5 minutes) ----
    Q("q43_range_join", Some("""
      SELECT e.event_id, COUNT(f.event_id) AS n_followups
      FROM events e LEFT JOIN events f
        ON f.user_id = e.user_id AND f.event_id <> e.event_id
       AND f.ts >= e.ts AND f.ts < e.ts + INTERVAL '5 minutes'
      WHERE e.event_type = 'purchase'
      GROUP BY e.event_id ORDER BY e.event_id""")) { (s, d) =>
      val ev = Tables.events(s, d)
      val e = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val f = ev.select(col("user_id").as("f_user"), col("event_id").as("f_id"),
        col("ts").as("f_ts"))
      e.join(f,
          col("f_user") === col("user_id") && col("f_id") =!= col("event_id") &&
            col("f_ts") >= col("ts") &&
            col("f_ts") < col("ts") + expr("INTERVAL 5 minutes"), "left")
        .groupBy("event_id").agg(count(col("f_id")).as("n_followups"))
        .orderBy("event_id")
    },

    // ---- A5: grouped ordered string aggregation ----
    Q("q44_string_agg", Some("""
      SELECT r_name, string_agg(n_name, ', ' ORDER BY n_name) AS nations,
        COUNT(*) AS n
      FROM region JOIN nation ON n_regionkey = r_regionkey
      GROUP BY r_name ORDER BY r_name""")) { (s, d) =>
      Tables.region(s, d)
        .join(Tables.nation(s, d), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name")
        .agg(array_join(array_sort(collect_list(col("n_name"))), ", ").as("nations"),
          count(lit(1)).as("n"))
        .orderBy("r_name")
    },

    // ---- A6: approx_count_distinct (HLL) — oracle-gated via a
    // deterministic *check*: the HLL estimate itself is engine-specific,
    // so the query emits the exact count plus a boolean asserting the
    // estimate is within 3× the configured rsd (0.05). HLL is
    // order-independent and deterministic for fixed input, so the boolean
    // is stable; the oracle emits the same exact counts and literal true.
    Q("q45_approx_distinct", Some("""
      SELECT l_returnflag,
        COUNT(DISTINCT l_partkey) AS exact_parts,
        true AS within_rsd
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")) { (s, d) =>
      Tables.lineitem(s, d).groupBy(col("l_returnflag"))
        .agg(
          approx_count_distinct(col("l_partkey"), 0.05).as("approx_parts"),
          countDistinct(col("l_partkey")).as("exact_parts"))
        .select(col("l_returnflag"), col("exact_parts"),
          (abs(col("approx_parts") - col("exact_parts")).cast("double")
            / col("exact_parts") <= 0.15).as("within_rsd"))
        .orderBy("l_returnflag")
    },

    // ---- F1/F2: time formatting + epoch round-trip ----
    Q("q46_time_format", Some("""
      SELECT event_id,
        strftime(ts, '%Y-%m-%d %H:%M:%S') AS iso,
        strftime(ts, '%a, %d %b %Y') AS rfc_date,
        CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s,
        CAST(year(ts) AS INT) AS y, CAST(hour(ts) AS INT) AS h
      FROM events ORDER BY event_id""")) { (s, d) =>
      Tables.events(s, d).select(
        col("event_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("iso"),
        date_format(col("ts"), "EEE, dd MMM yyyy").as("rfc_date"),
        unix_timestamp(col("ts")).as("epoch_s"),
        year(col("ts")).as("y"), hour(col("ts")).as("h")
      ).orderBy("event_id")
    },

    // ---- F9: base64 round-trip ----
    Q("q47_base64", Some("""
      SELECT doc_id, to_base64(encode(text)) AS b64,
        (decode(from_base64(to_base64(encode(text)))) = text) AS roundtrip_ok
      FROM documents ORDER BY doc_id""")) { (s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        // Spark's base64 MIME-wraps at 76 chars; strip to canonical form
        regexp_replace(base64(col("text").cast("binary")), "\r\n", "").as("b64"),
        (unbase64(base64(col("text").cast("binary"))).cast("string") === col("text"))
          .as("roundtrip_ok")
      ).orderBy("doc_id")
    }
  )
}
