package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** What the oracle verifies must be what the benchmark runs: Verify's
  * and Bench's sessions carry exactly the SQL confs of the engine's
  * session factory (the CC driver bound and the candidate-pair join
  * regime both read `autoBroadcastJoinThreshold` from them). Each
  * session is built fresh, so the confs are the builder's own. No other
  * file in src/main builds a session, so the tools (probes, plan dumps,
  * streaming gates) run on the same confs. */
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

  test("GraftSession.local is the only SparkSession builder in src/main") {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), root.toAbsolutePath)
    val files = java.nio.file.Files.walk(root)
    val builders = try files.iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(f => java.nio.file.Files.readString(f).contains("SparkSession.builder"))
      .map(root.relativize(_).toString).toList.sorted
    finally files.close()
    assert(builders === List("graft/core/GraftSession.scala"))
  }
}
