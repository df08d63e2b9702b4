package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (getOrCreate reuses one JVM-wide
  * session across suites in the forked test JVM). */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = graft.core.GraftSession.local(4)
  lazy implicit val sparkImplicit: SparkSession = spark

  /** Runs `body` with the RocksDB state store provider set (the
    * transformWithState operators require it), then restores the conf. */
  protected def withRocksDb[A](body: => A): A = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, graft.tools.StreamGates.RocksDbProvider)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }
}
