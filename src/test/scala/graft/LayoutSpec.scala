package graft

import org.apache.spark.sql.functions._

import graft.sources.Layout

/** The staged-table manifest is the one way a staged table describes
  * itself, and the content-keyed snapshot restages exactly when its
  * source's files change. */
class LayoutSpec extends SparkTestBase {

  test("only sources/Layout.scala names or touches a _graft_ metadata file") {
    // `_graft_` not preceded by a word character: a metadata file name,
    // not a column like `__graft_bm`
    val metadata = """(?<![\w])_graft_\w|ManifestName|Sidecar""".r
    assert(MainSources.matching("graft")(metadata.findFirstIn(_).isDefined) ===
      List("graft/sources/Layout.scala"))
  }

  test("a source table rewritten in place gets a new snapshot key and is restaged") {
    val src = tmpDir("snapshot-src") + "/t.parquet"
    // a fresh salt, so no snapshot left by an earlier run is reused
    val salt = s"layout-spec-${java.util.UUID.randomUUID()}"
    var stagings = 0
    def snapshot(): String =
      Layout.stagedSnapshot(spark.read.parquet(src), "spec", salt) { tmp =>
        stagings += 1
        val rows = spark.read.parquet(src)
        rows.write.parquet(tmp)
        Layout.writeManifest(spark, tmp, Layout.Manifest("spec", 1,
          schemas = Map(Layout.Root -> rows.schema.toDDL)))
      }
    spark.range(40).write.parquet(src)
    val first = snapshot()
    var second = first
    try {
      assert(snapshot() == first && stagings == 1, "an unchanged source was restaged")
      // same path, schema and row count: only the files change
      spark.range(40).select((col("id") + 1000).as("id"))
        .write.mode("overwrite").parquet(src)
      second = snapshot()
      assert(second != first && stagings == 2, "a rewritten source kept its snapshot")
      val m = Layout.readManifest(spark, second).get
      assert(Layout.readStaged(spark, second, m).agg(min("id")).head().getLong(0) === 1000L)
    } finally Seq(first, second).foreach(p =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
  }

  test("every snapshot lies under this JVM's root, and the shutdown hook's delete removes them") {
    val src = tmpDir("snapshot-root") + "/t.parquet"
    spark.range(10).write.parquet(src)
    val salt = s"layout-spec-${java.util.UUID.randomUUID()}"
    def snapshot(name: String): java.io.File = new java.io.File(
      Layout.stagedSnapshot(spark.read.parquet(src), name, salt) { tmp =>
        spark.range(10).write.parquet(tmp)
        Layout.writeManifest(spark, tmp, Layout.Manifest("spec", 1))
      })
    val snaps = Seq(snapshot("a"), snapshot("b"))
    val root = Layout.snapshotRoot
    assert(root.getParentFile == new java.io.File(System.getProperty("java.io.tmpdir")))
    snaps.foreach { p =>
      assert(p.getParentFile == root, s"$p is not under $root")
      assert(new java.io.File(p, Layout.ManifestName).exists())
    }
    Layout.dropSnapshots()
    assert(!root.exists() && snaps.forall(!_.exists()), "snapshots survived the hook's delete")
    // a later stage in this JVM makes the root again
    val again = snapshot("a")
    assert(again.getParentFile == root && new java.io.File(again, Layout.ManifestName).exists())
  }
}
