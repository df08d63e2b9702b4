package graft.core

import org.apache.spark.sql.SparkSession

/** Session factory for the engine, and the only place in `src/main` that
  * builds a `SparkSession`: Bench, Verify, the test base and every tool
  * under `graft.tools` take their session from [[GraftSession.local]], so
  * what is verified, probed and dumped is what is benchmarked.
  *
  * Design point (SURVEY §6): the engine must hold up on a 1000-executor
  * cluster at ~100 TB. Locally we run `local[N]`, but every config here is
  * chosen to be correct at both scales:
  *   - AQE on: runtime coalescing of shuffle partitions + skew-join splitting
  *     replaces hand-tuned partition counts at any scale.
  *   - UTC session timezone: deterministic timestamp semantics vs the oracle.
  *   - shuffle.partitions is max(cores, 4); on a real cluster AQE's
  *     coalescing makes the initial number mostly irrelevant.
  */
object GraftSession {

  /** Optimizer rules excluded engine-wide, at ANY scale (r16).
    *
    * InferFiltersFromGenerate: for a non-outer generate the rule adds a
    * redundant `size(arr) > 0 && isnotnull(arr)` filter below the
    * Generate (an inner posexplode already emits nothing for empty or
    * null arrays — results cannot change). When the generated array is
    * COMPUTED — every explode in this engine: LSH bucket arrays,
    * tokenize/shingle splits, band keys — predicate pushdown then
    * substitutes the whole array expression into that filter, so every
    * scanned row evaluates the array TWICE, and the single monolithic
    * `size(array(...))` expression is hostile to codegen/JIT where the
    * projection's copy is split normally. Measured on q125 at sf1: the
    * bucket-side map stage dropped 104.7 -> 8.0 core-s (13x) and the
    * query 7.2 -> 2.2 s wall with the rule excluded. The rule could
    * only ever pay off for arrays READ FROM STORAGE (pushing the size
    * filter toward a scan); no table in this engine stores arrays that
    * feed a generate. Scale-independent: the removed work is per-row
    * CPU on every executor. */
  val ExcludedOptimizerRules: String =
    "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"

  /** The engine's session at `local[cores]`; a later call reuses the
    * running session. A tool that needs more, such as a state-store
    * provider, sets it with `spark.conf.set` before its first query. */
  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val s = SparkSession.builder().master(s"local[$cores]").appName("graft")
      .config("spark.sql.warehouse.dir",
        s"${System.getProperty("java.io.tmpdir")}/graft-warehouse")
      .config("spark.sql.optimizer.excludedRules", ExcludedOptimizerRules)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", math.max(cores, 4).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      .config("spark.sql.parquet.filterPushdown", "true")
      // events.ts is ns-precision parquet; read as long, Tables.events converts
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // the one in-process registration: graft_* SQL names and
    // CompileHashRewrite (the Column wrappers need neither)
    graft.functions.GraftFunctions.register(s)
    s
  }
}
