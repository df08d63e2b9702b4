package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** One Verify session dumps several corpora: each out dir gets the same
  * query results and its own oracle_sql/errors/metrics JSON, including
  * for the queries that stage stores under the tmpdir (q112 signatures,
  * q131 IVF index), which key those stores by corpus path. */
class VerifySpec extends SparkTestBase {

  private val names = Seq("q01_pricing_summary",
    "q112_staged_incremental_dedup", "q131_ann_ivf_staged")

  test("Verify.run dumps every (sfDir, outDir) pair in one session") {
    val src = Paths.get("/root/testdata/sf0.001")
    val tmp = Paths.get(tmpDir("verify-spec"))
    val copy = Files.createDirectory(tmp.resolve("sf-copy"))
    Files.list(src).iterator().asScala.foreach(f =>
      Files.copy(f, copy.resolve(f.getFileName)))
    val outs = Seq(tmp.resolve("out-a"), tmp.resolve("out-b"))
    Verify.run(spark, Seq(src, copy).zip(outs).map { case (s, o) =>
      (s.toString, o.toString) }, SparkEntry.queries.filter(q => names.contains(q._1)))

    def rows(out: Path, name: String): Seq[String] =
      spark.read.parquet(out.resolve(name).toString).collect()
        .map(_.toString).toSeq.sorted
    outs.foreach { out =>
      Seq("oracle_sql.json", "errors.json", "metrics.json").foreach(f =>
        assert(Files.isRegularFile(out.resolve(f)), s"$out lacks $f"))
      assert(Files.readString(out.resolve("errors.json")) === "{}")
    }
    names.foreach { n =>
      val a = rows(outs(0), n)
      assert(a.nonEmpty, s"$n wrote no rows")
      assert(a === rows(outs(1), n), s"$n differs between the two corpora")
    }
  }
}
