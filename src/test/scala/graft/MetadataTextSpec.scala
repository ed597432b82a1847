package graft

import java.nio.file.Files

import graft.sources.{AtomicCommit, DataSkipping}

/** Metadata text the table format must carry verbatim: a statistics
  * bound with a line break must stay inside its one-line sidecar
  * record, a bound of any length must parse without deep recursion, and
  * a CHECK constraint may contain braces.
  */
class MetadataTextSpec extends SparkSpec {
  import spark.implicits._

  private def statsTable(value: String): String = {
    val root = Files.createTempDirectory("graft_mtext").toString
    DataSkipping.commitWithStats(spark, root,
      Seq((1L, "A", value), (2L, "B", "zz")).toDF("k", "p", "s"), "p",
      Seq("s"))
    root
  }

  test("a string stats bound holding a newline survives a pruned read") {
    val root = statsTable("a\nb")
    val gen = AtomicCommit.readManifest(root).get.entries("A")
    assert(DataSkipping.readStats(root, gen).filter(_.partition == "A")
      .map(s => (s.min, s.max)) === Seq((Some("a\nb"), Some("a\nb"))))
    assert(DataSkipping.readWhere(spark, root, "s", "a", "b")
      .select("k").as[Long].collect().toSeq === Seq(1L))
  }

  test("a 20,000-character string stats bound survives a pruned read") {
    val long = "x" * 20000
    val root = statsTable(long)
    assert(DataSkipping.readWhere(spark, root, "s", "x", "y")
      .select("k").as[Long].collect().toSeq === Seq(1L))
    assert(DataSkipping.readWhere(spark, root, "s", "y", "z")
      .select("k").as[Long].collect().isEmpty)
  }

  test("a CHECK constraint containing braces is recorded and enforced") {
    val root = Files.createTempDirectory("graft_mtext_cons").toString
    AtomicCommit.commitReplacePartitions(spark, root,
      Seq((1L, "a", "A")).toDF("k", "t", "p"), "p")
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    spark.conf.set("spark.graft.table.braced", root)
    try {
      spark.sql("ALTER TABLE graft.braced ADD CONSTRAINT c CHECK (t <> '{x}')")
      assert(AtomicCommit.constraints(root) === Map("c" -> "t <> '{x}'"))
      intercept[Exception] {
        spark.sql("INSERT INTO graft.braced VALUES (2, '{x}', 'B')")
      }
      assert(spark.sql("SELECT k FROM graft.braced").as[Long].collect()
        .toSeq === Seq(1L))
    } finally {
      spark.conf.unset("spark.graft.table.braced")
      spark.conf.unset("spark.sql.catalog.graft")
    }
  }
}
