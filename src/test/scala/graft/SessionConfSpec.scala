package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** What the oracle verifies must be what the benchmark runs: Verify's
  * and Bench's sessions carry exactly the SQL confs of the engine's
  * session factory (the CC driver bound and the candidate-pair join
  * regime both read `autoBroadcastJoinThreshold` from them). Each
  * session is built fresh, so the confs are the builder's own. */
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
}
