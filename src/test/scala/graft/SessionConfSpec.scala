package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** What the oracle verifies must be what the benchmark runs: Verify's
  * and Bench's sessions carry exactly the SQL confs of the engine's
  * session factory (the CC driver bound and the candidate-pair join
  * regime both read `autoBroadcastJoinThreshold` from them). Each
  * session is built fresh, so the confs are the builder's own. No other
  * file in src/main builds a session, so the tools (probes, plan dumps,
  * streaming gates) run on the same confs, and only tools and mains read
  * the environment, so no knob outside a session's confs changes what a
  * library call plans. Measured values ([[graft.core.Measured]]) live
  * no longer than their session. */
class SessionConfSpec extends AnyFunSuite {

  private def sqlConfs(build: => SparkSession): Map[String, String] = {
    val old = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
    old.foreach(_.stop())
    val s = build
    assert(old.forall(_.sparkContext ne s.sparkContext), "session was reused")
    s.conf.getAll.filter(_._1.startsWith("spark.sql.")).toMap
  }

  test("Verify and Bench sessions have GraftSession.local's spark.sql.* confs") {
    val verify = sqlConfs(Verify.session(4))
    val bench = sqlConfs(Bench.session(4))
    // left running: the remaining suites share this session
    val local = sqlConfs(graft.core.GraftSession.local(4))
    assert(local("spark.sql.autoBroadcastJoinThreshold") === (64L << 20).toString)
    assert(verify === local)
    assert(bench === local)
  }

  /** The .scala files under `src/main/scala/<dir>` whose text contains
    * any of `needles`, relative to src/main/scala. */
  private def sourcesContaining(dir: String, needles: String*): List[String] =
    MainSources.matching(dir)(text => needles.exists(text.contains))

  test("GraftSession.local is the only SparkSession builder in src/main") {
    assert(sourcesContaining("graft", "SparkSession.builder") ===
      List("graft/core/GraftSession.scala"))
  }

  test("only tools and mains read the environment") {
    val libraries = Seq("core", "operators", "queries", "sources",
      "streaming", "functions", "multimodal", "plans")
    assert(libraries.flatMap(d =>
      sourcesContaining(s"graft/$d", "sys.env", "System.getenv")) === Nil)
  }

  test("stopping a session evicts its measured values") {
    import graft.core.Measured
    import graft.operators.Similarity
    val old = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
    old.foreach(_.stop())
    val first = graft.core.GraftSession.local(4)
    assert(Similarity.corpusCount(first.range(7).toDF()) === 7)
    assert(Measured.sessions.contains(first))
    first.stop()
    // left running: the remaining suites share this session
    val next = graft.core.GraftSession.local(4)
    assert(Similarity.corpusCount(next.range(5).toDF()) === 5)
    assert(!Measured.sessions.contains(first))
    assert(Measured.sessions.contains(next))
  }
}
