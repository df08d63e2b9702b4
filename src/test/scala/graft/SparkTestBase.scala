package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (getOrCreate reuses one JVM-wide
  * session across suites in the forked test JVM). */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = graft.core.GraftSession.local(4)
  lazy implicit val sparkImplicit: SparkSession = spark

  private val tmpDirs = new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]()

  /** A fresh directory under the JVM temp dir, deleted with everything in
    * it once the suite has run. */
  protected def tmpDir(tag: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(s"graft-$tag-").toFile
    tmpDirs.add(dir)
    dir.toString
  }

  /** Write `content` to `path` through the Hadoop filesystem (so a
    * local checksum file matches it) — a planted or damaged file. */
  protected def writeFile(path: String, content: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val out = p.getFileSystem(spark.sparkContext.hadoopConfiguration).create(p, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
  }

  override protected def afterAll(): Unit =
    try tmpDirs.forEach(d => org.apache.commons.io.FileUtils.deleteQuietly(d))
    finally super.afterAll()

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

/** Source scans over src/main, for specs that guard "one way to do it". */
object MainSources {
  /** The .scala files under `src/main/scala/<dir>` whose text satisfies
    * `hit`, relative to src/main/scala and sorted. */
  def matching(dir: String)(hit: String => Boolean): List[String] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    val top = root.resolve(dir)
    assert(java.nio.file.Files.isDirectory(top), top.toAbsolutePath)
    val files = java.nio.file.Files.walk(top)
    try files.iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(f => hit(java.nio.file.Files.readString(f)))
      .map(root.relativize(_).toString).toList.sorted
    finally files.close()
  }
}
