package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.Tables
import graft.functions.Num._

/** Batch relational surface (SURVEY §2.3–§2.6): joins, aggregations,
  * grouping sets, window functions, set ops, sorts/top-k, dedup policies.
  *
  * Every query is declarative DataFrame API so Catalyst owns pushdown,
  * pruning and join-strategy selection; dimension tables are explicitly
  * `broadcast()` where a 100 TB fact side must never shuffle them
  * (SURVEY §2.3 J1/J3).
  */
object Relational extends QueryModule {

  private def li(s: SparkSession, d: String) = Tables.lineitem(s, d)
  private def ord(s: SparkSession, d: String) = Tables.orders(s, d)
  private def cust(s: SparkSession, d: String) = Tables.customer(s, d)

  val all: Seq[Q] = Seq(

    // ---- A1/A6: hash aggregation with partial+final, multi-aggregate ----
    Q("q01_pricing_summary", Some(s"""
      SELECT l_returnflag, l_linestatus,
        ${sqlSum("l_quantity")} AS sum_qty,
        ${sqlSum("l_extendedprice")} AS sum_base_price,
        ${sqlSum("l_extendedprice * (1.0 - l_discount)")} AS sum_disc_price,
        ${sqlSum("l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)")} AS sum_charge,
        ${sqlAvg("l_quantity")} AS avg_qty,
        ${sqlAvg("l_extendedprice")} AS avg_price,
        ${sqlAvg("l_discount")} AS avg_disc,
        COUNT(*) AS count_order
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '2001-09-02 00:00:00'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus""")) { (s, d) =>
      li(s, d)
        .filter(col("l_shipdate") <= lit("2001-09-02 00:00:00").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax"))).as("sum_charge"),
          davg(col("l_quantity")).as("avg_qty"),
          davg(col("l_extendedprice")).as("avg_price"),
          davg(col("l_discount")).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },

    // ---- O7: top-k (plans as TakeOrderedAndProject — no global sort) ----
    Q("q02_topk_orders", Some("""
      SELECT o_orderkey, o_custkey, o_totalprice
      FROM orders
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 25""")) { (s, d) =>
      ord(s, d).select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(desc("o_totalprice"), asc("o_orderkey")).limit(25)
    },

    // ---- J3: 5-way star join, dims broadcast; revenue per nation ----
    Q("q03_star_join_revenue", Some(s"""
      SELECT n_name, ${sqlSum("l_extendedprice * (1.0 - l_discount)")} AS revenue
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation   ON c_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
      WHERE r_name = 'ASIA'
        AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      GROUP BY n_name ORDER BY n_name""")) { (s, d) =>
      // nation/region are fixed-cardinality → always broadcast; customer
      // SCALES with the data volume, so no hint — Catalyst/AQE broadcasts
      // it while it fits and falls back to a shuffled join at 100 TB
      // (a hard broadcast() would OOM the driver there).
      li(s, d)
        .join(ord(s, d).filter(col("o_orderdate") >= lit("1996-01-01 00:00:00").cast("timestamp")),
          col("l_orderkey") === col("o_orderkey"))
        .join(cust(s, d), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d).filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
        .orderBy("n_name")
    },

    // ---- J1-style broadcast dim join + agg by brand ----
    Q("q04_brand_profile", Some(s"""
      SELECT p_brand,
        COUNT(*) AS n_items,
        ${sqlAvg("l_quantity")} AS avg_qty,
        ${sqlSum("l_extendedprice * (1.0 - l_discount)")} AS revenue
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY p_brand ORDER BY p_brand""")) { (s, d) =>
      // part scales with SF — no broadcast hint, AQE decides (see q03)
      li(s, d).join(Tables.part(s, d), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(
          count(lit(1)).as("n_items"),
          davg(col("l_quantity")).as("avg_qty"),
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
        .orderBy("p_brand")
    },

    // ---- J3: left outer join preserving customers with no orders ----
    Q("q05_cust_order_counts", Some(s"""
      SELECT c_custkey, c_name,
        COUNT(o_orderkey) AS n_orders,
        ${sqlSum("o_totalprice")} AS total_spend
      FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      GROUP BY c_custkey, c_name ORDER BY c_custkey""")) { (s, d) =>
      cust(s, d).join(ord(s, d), col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"), col("c_name"))
        .agg(count(col("o_orderkey")).as("n_orders"),
          dsum(col("o_totalprice")).as("total_spend"))
        .orderBy("c_custkey")
    },

    // ---- J3: left-semi (EXISTS) ----
    Q("q06_semi_join", Some("""
      SELECT c_custkey, c_name FROM customer
      WHERE EXISTS (SELECT 1 FROM orders
                    WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
      ORDER BY c_custkey""")) { (s, d) =>
      cust(s, d)
        .join(ord(s, d).filter(col("o_orderstatus") === "F"),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name").orderBy("c_custkey")
    },

    // ---- J3: left-anti (NOT EXISTS) ----
    Q("q07_anti_join", Some("""
      SELECT c_custkey, c_name FROM customer
      WHERE NOT EXISTS (SELECT 1 FROM orders
                        WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
      ORDER BY c_custkey""")) { (s, d) =>
      cust(s, d)
        .join(ord(s, d).filter(col("o_orderstatus") === "P"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name").orderBy("c_custkey")
    },

    // ---- A6: ROLLUP ----
    // `HAVING COUNT(*) > 0` pins the EMPTY-INPUT contract, and is an
    // identity everywhere else (every grouping-set row aggregates >= 1
    // source row on non-empty input): Spark's grouping-sets Aggregate
    // emits NO rows over an empty relation — including the grand-total
    // row — while standard SQL (DuckDB) emits the () row with n = 0.
    // The engine's contract is Spark's (caught by
    // EMPTYCHECK); same pin on q09/q51.
    Q("q08_rollup", Some(s"""
      SELECT l_returnflag, l_linestatus,
        COUNT(*) AS n, ${sqlSum("l_quantity")} AS sum_qty
      FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
      HAVING COUNT(*) > 0
      ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""")) { (s, d) =>
      li(s, d).rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    },

    // ---- A6: CUBE ----
    Q("q09_cube", Some(s"""
      SELECT o_orderstatus, o_orderpriority,
        COUNT(*) AS n, ${sqlSum("o_totalprice")} AS total
      FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
      HAVING COUNT(*) > 0
      ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""")) { (s, d) =>
      ord(s, d).cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)
    },

    // ---- A6: exact distinct counts per group ----
    Q("q10_distinct_counts", Some("""
      SELECT l_returnflag,
        COUNT(DISTINCT l_partkey) AS n_parts,
        COUNT(DISTINCT l_suppkey) AS n_supps,
        COUNT(DISTINCT l_orderkey) AS n_orders
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")) { (s, d) =>
      li(s, d).groupBy(col("l_returnflag"))
        .agg(
          countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"),
          countDistinct(col("l_orderkey")).as("n_orders"))
        .orderBy("l_returnflag")
    },

    // ---- O7: UNION (distinct) ----
    Q("q11_union", Some("""
      SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'P'
      UNION
      SELECT o_custkey FROM orders WHERE o_totalprice > 400000
      ORDER BY custkey""")) { (s, d) =>
      ord(s, d).filter(col("o_orderstatus") === "P").select(col("o_custkey").as("custkey"))
        .union(ord(s, d).filter(col("o_totalprice") > 400000).select(col("o_custkey").as("custkey")))
        .distinct().orderBy("custkey")
    },

    // ---- O7: INTERSECT ----
    Q("q12_intersect", Some("""
      SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
      INTERSECT
      SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
      ORDER BY custkey""")) { (s, d) =>
      ord(s, d).filter(col("o_orderstatus") === "F").select(col("o_custkey").as("custkey"))
        .intersect(ord(s, d).filter(col("o_orderstatus") === "O").select(col("o_custkey").as("custkey")))
        .orderBy("custkey")
    },

    // ---- O7: EXCEPT ----
    Q("q13_except", Some("""
      SELECT c_custkey AS custkey FROM customer
      EXCEPT
      SELECT o_custkey FROM orders WHERE o_totalprice > 200000
      ORDER BY custkey""")) { (s, d) =>
      cust(s, d).select(col("c_custkey").as("custkey"))
        .except(ord(s, d).filter(col("o_totalprice") > 200000).select(col("o_custkey").as("custkey")))
        .orderBy("custkey")
    },

    // ---- window: per-group top-N with rank ----
    Q("q14_top3_orders_per_cust", Some("""
      SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS INT) AS rn FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
          ROW_NUMBER() OVER (PARTITION BY o_custkey
                             ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM orders) t
      WHERE rn <= 3 ORDER BY o_custkey, rn""")) { (s, d) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(desc("o_totalprice"), asc("o_orderkey"))
      ord(s, d).withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
        .orderBy("o_custkey", "rn")
    },

    // ---- window: running sum over event stream (frame-based) ----
    Q("q15_running_sum", Some("""
      SELECT event_id, user_id,
        CAST(CAST(SUM(CAST(floor(value * 1000000.0) AS BIGINT)) OVER (
          PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS DOUBLE) / 1000000.0
          AS running_value
      FROM events ORDER BY event_id""")) { (s, d) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d)
        .withColumn("running_value", dsumOver(col("value"), w))
        .select("event_id", "user_id", "running_value")
        .orderBy("event_id")
    },

    // ---- A3: keep-latest dedup (REPLACE-WITH-LATEST policy) ----
    Q("q16_keep_latest_event", Some("""
      SELECT user_id, event_id, ts, event_type, value FROM (
        SELECT user_id, event_id, ts, event_type, value,
          ROW_NUMBER() OVER (PARTITION BY user_id
                             ORDER BY ts DESC, event_id DESC) AS rn
        FROM events) t
      WHERE rn = 1 ORDER BY user_id""")) { (s, d) =>
      graft.operators.Dedup.keepLatestAgg(Tables.events(s, d),
          keys = Seq("user_id"),
          order = Seq(col("ts"), col("event_id")),
          payload = Seq("event_id", "ts", "event_type", "value"))
        .select("user_id", "event_id", "ts", "event_type", "value")
        .orderBy("user_id")
    },

    // ---- A2: first-wins dedup (DISCARD policy) ----
    Q("q17_first_wins_dedup", Some("""
      SELECT user_id, event_type, MIN(event_id) AS first_event_id,
        COUNT(*) AS n_dups
      FROM events GROUP BY user_id, event_type
      ORDER BY user_id, event_type""")) { (s, d) =>
      Tables.events(s, d).groupBy(col("user_id"), col("event_type"))
        .agg(min(col("event_id")).as("first_event_id"), count(lit(1)).as("n_dups"))
        .orderBy("user_id", "event_type")
    },

    // ---- P1/F7: JSON field projection with typed extraction ----
    // Malformed-input contract (JSONCHECK): invalid JSON,
    // a non-numeric/overflowing/missing k, and non-object documents all
    // contribute NULL to the sum in BOTH engines. get_json_object NULLs
    // on truncated/garbage input (probed class-by-class — it does NOT
    // early-exit a truncated document; its one deviation, trailing
    // garbage after a complete object, is shared by every Spark JSON
    // parser and excluded from the gate, the q60 constraint); try_cast
    // NULLs the non-numeric extracts where an ANSI cast would throw.
    // The oracle guards json_extract_string behind json_valid (DuckDB
    // THROWS on malformed JSON) and TRY_CASTs the text.
    Q("q18_json_extract", Some("""
      SELECT event_type,
        COUNT(*) AS n,
        CAST(CAST(SUM(CASE WHEN json_valid(props)
            THEN TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) END)
          AS BIGINT) AS DOUBLE) / COUNT(*) AS avg_k
      FROM events GROUP BY event_type ORDER BY event_type""")) { (s, d) =>
      Tables.eventsProps(s, d)
        .withColumn("k", get_json_object(col("props"), "$.k")
          .try_cast(org.apache.spark.sql.types.LongType))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          (sum(col("k")).cast("double") / count(lit(1))).as("avg_k"))
        .orderBy("event_type")
    },

    // ---- P3: regex predicate + capture extraction ----
    Q("q19_regex_filter", Some(s"""
      SELECT event_type, COUNT(*) AS n,
        ${sqlSum("value")} AS sum_value,
        CAST(SUM(TRY_CAST(regexp_extract(props, '"k": (\\d+)', 1) AS BIGINT)) AS BIGINT) AS sum_k
      FROM events
      WHERE regexp_matches(event_type, '^(purchase|signup)$$')
      GROUP BY event_type ORDER BY event_type""")) { (s, d) =>
      Tables.eventsProps(s, d)
        .filter(col("event_type").rlike("^(purchase|signup)$"))
        // no-match regexp_extract returns '' in both engines; try_cast
        // keeps it NULL where an ANSI cast would throw (json_check gate)
        .withColumn("k", regexp_extract(col("props"), "\"k\": (\\d+)", 1)
          .try_cast(org.apache.spark.sql.types.LongType))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"),
          sum(col("k")).as("sum_k"))
        .orderBy("event_type")
    },

    // ---- F1/F2: date part extraction + time grouping ----
    Q("q20_orders_by_month", Some(s"""
      SELECT CAST(year(o_orderdate) AS INT) AS o_year,
             CAST(month(o_orderdate) AS INT) AS o_month,
        COUNT(*) AS n, ${sqlSum("o_totalprice")} AS total
      FROM orders GROUP BY 1, 2 ORDER BY o_year, o_month""")) { (s, d) =>
      ord(s, d)
        .withColumn("o_year", year(col("o_orderdate")))
        .withColumn("o_month", month(col("o_orderdate")))
        .groupBy("o_year", "o_month")
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .orderBy("o_year", "o_month")
    },

    // ---- P5/F3/F4: string projection surface ----
    Q("q21_string_funcs", Some("""
      SELECT c_custkey,
        upper(c_name) AS name_upper,
        concat_ws('|', c_name, c_mktsegment) AS tagged,
        substring(c_name, 1, 8) AS name_prefix,
        CAST(length(c_name) AS INT) AS name_len,
        ltrim(concat('  ', c_name)) AS name_ltrim,
        replace(c_name, '_', '..') AS name_dotesc
      FROM customer ORDER BY c_custkey""")) { (s, d) =>
      cust(s, d).select(
        col("c_custkey"),
        upper(col("c_name")).as("name_upper"),
        concat_ws("|", col("c_name"), col("c_mktsegment")).as("tagged"),
        substring(col("c_name"), 1, 8).as("name_prefix"),
        length(col("c_name")).as("name_len"),
        ltrim(concat(lit("  "), col("c_name"))).as("name_ltrim"),
        regexp_replace(col("c_name"), "_", "..").as("name_dotesc")
      ).orderBy("c_custkey")
    },

    // ---- F11/P4: null-safe compare, least/greatest ----
    Q("q22_nullsafe_minmax", Some("""
      SELECT c_custkey,
        least(c_acctbal, 1000.0) AS bal_capped,
        greatest(c_acctbal, 0.0) AS bal_floored,
        (nullif(c_mktsegment, 'BUILDING') IS NOT DISTINCT FROM 'AUTOMOBILE')
          AS is_auto_nullsafe,
        (nullif(c_mktsegment, 'BUILDING') IS NOT DISTINCT FROM NULL)
          AS is_building_nullsafe
      FROM customer ORDER BY c_custkey""")) { (s, d) =>
      cust(s, d).select(
        col("c_custkey"),
        least(col("c_acctbal"), lit(1000.0)).as("bal_capped"),
        greatest(col("c_acctbal"), lit(0.0)).as("bal_floored"),
        (nullif(col("c_mktsegment"), lit("BUILDING")) <=> lit("AUTOMOBILE")).as("is_auto_nullsafe"),
        (nullif(col("c_mktsegment"), lit("BUILDING")) <=> lit(null)).as("is_building_nullsafe")
      ).orderBy("c_custkey")
    },

    // ---- as-of join: each event ↔ most recent prior order of that user ----
    // (SURVEY §2.3 J3: range/as-of join; composed as range-join + windowed
    // keep-latest so tie-breaking is explicit and deterministic.)
    // Mirror shape: MAX(date) then MAX(orderkey) at that date — the
    // identical relation as ROW_NUMBER(date DESC, key DESC) = 1 over the
    // range join, but STREAMING: the windowed formulation materializes
    // the full |events|×|qualifying orders| intermediate for per-event
    // sorting, which OOMed DuckDB on the skew gate's hot-key corpus
    // (~0.5G intermediate rows); grouped MAXes stream through hash
    // aggregation at O(groups) memory. The engine side never had this
    // shape at all — union-and-carry is one sort per key partition.
    Q("q23_asof_join", Some("""
      WITH m AS (
        SELECT e.event_id, e.user_id, MAX(o.o_orderdate) AS o_orderdate
        FROM events e JOIN orders o
          ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
        GROUP BY e.event_id, e.user_id)
      SELECT m.event_id, m.user_id, MAX(o.o_orderkey) AS o_orderkey,
        m.o_orderdate
      FROM m JOIN orders o
        ON o.o_custkey = m.user_id AND o.o_orderdate = m.o_orderdate
      GROUP BY m.event_id, m.user_id, m.o_orderdate
      ORDER BY event_id""")) { (s, d) =>
      val e = Tables.events(s, d).select("event_id", "user_id", "ts")
      val o = ord(s, d)
        .select(col("o_custkey").as("user_id"), col("o_orderkey"), col("o_orderdate"))
      graft.operators.AsOf.joinLatest(e, o,
          key = "user_id", leftTime = "ts", rightTime = "o_orderdate",
          rightTiebreak = "o_orderkey", carried = Seq("o_orderkey", "o_orderdate"))
        .filter(col("o_orderkey").isNotNull) // inner semantics, like the oracle
        .select("event_id", "user_id", "o_orderkey", "o_orderdate")
        .orderBy("event_id")
    }
  )
}
