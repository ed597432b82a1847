package graft

import java.net.URI
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{FSDataInputStream, Path, RawLocalFileSystem}
import org.apache.spark.sql.types.{BinaryType, StringType}

import graft.ops.PlanStatMemo

/** A local filesystem under the `graftmemo` scheme that counts the files
  * it opens: a footer read opens its file, a memo hit does not.
  */
class CountingLocalFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("graftmemo:///")
  override def getScheme: String = "graftmemo"
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    CountingLocalFs.opens.incrementAndGet()
    super.open(f, bufferSize)
  }
}

object CountingLocalFs {
  val opens = new AtomicInteger()
}

/** The one metadata memo ([[Memo]]) and its file stamp, and the memo
  * sites built on them.
  */
class MemoSpec extends SparkSpec {

  test("a throwing compute caches nothing; a None result is cached") {
    val m = new Memo[String, Option[Int]](capacity = 4)
    var computes = 0
    intercept[IllegalStateException] {
      m("k") { computes += 1; throw new IllegalStateException("boom") }
    }
    assert(m.get("k").isEmpty, "a failed compute must leave no entry")
    assert(m("k") { computes += 1; None } === None)
    assert(m("k") { computes += 1; Some(1) } === None,
      "None is a cached answer, not a miss")
    assert(computes === 2)
  }

  test("a file whose stamp changed misses") {
    val f = Files.createTempFile("graft_memo_stamp", ".txt")
    Files.write(f, "one".getBytes)
    val m = new Memo[(String, (Long, Long)), String](capacity = 4)
    var computes = 0
    def read(): String = m((f.toString, Memo.stamp(f.toString))) {
      computes += 1; new String(Files.readAllBytes(f))
    }
    assert(read() === "one" && read() === "one" && computes === 1)
    Files.write(f, "three".getBytes)
    assert(read() === "three" && computes === 2,
      "a rewritten file must miss")
  }

  /** Replaces `dir/documents.parquet` with one parquet file of `n` rows. */
  private def writeDocuments(dir: java.nio.file.Path, n: Int): Unit = {
    val staging = Files.createTempDirectory(dir, "stage")
    spark.range(n).selectExpr("id AS doc_id", "concat('w', id % 7, ' x') AS text")
      .coalesce(1).write.mode("overwrite").parquet(s"$staging/out")
    val part = Files.list(Paths.get(s"$staging/out"))
      .filter(_.toString.endsWith(".parquet")).findFirst().get
    Files.move(part, dir.resolve("documents.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
  }

  test("PlanStatMemo and Tables.load memoize through a non-file scheme and miss after a rewrite") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftmemo.impl", classOf[CountingLocalFs].getName)
    val dir = Files.createTempDirectory("graft_memo_scheme")
    writeDocuments(dir, 40)
    val sf = s"graftmemo://$dir"
    // the footer is read once: the second load is a schema memo hit
    CountingLocalFs.opens.set(0)
    Tables.load(spark, sf, "documents")
    assert(CountingLocalFs.opens.get > 0, "premise: the first load reads a footer")
    CountingLocalFs.opens.set(0)
    val docs = Tables.load(spark, sf, "documents")
    assert(CountingLocalFs.opens.get === 0,
      "the second load must reuse the memoized schema")
    assert(docs.inputFiles.forall(_.startsWith("graftmemo:")))
    // the probe memo keys on the scheme's file stamps: a hit, then a miss
    // once the same file name holds different bytes
    var computes = 0
    def probe(): Int = PlanStatMemo.cached(
      Tables.load(spark, sf, "documents"), "memoSpec") { computes += 1; computes }
    assert(probe() === 1)
    assert(probe() === 1, "the second probe must hit")
    writeDocuments(dir, 60)
    assert(probe() === 2, "a rewritten input must miss")
    assert(Tables.load(spark, sf, "documents").count() === 60)
  }

  test("the table schema memo keys on the session's parquet-inference confs") {
    val dir = Files.createTempDirectory("graft_memo_bas")
    val file = dir.resolve("blobs.parquet")
    // an unannotated BINARY column, as DuckDB writes a BLOB (Spark's own
    // files carry their Spark schema, which inference prefers)
    val duck = Seq("python3", "-c",
      "import duckdb, sys; duckdb.sql(\"COPY (SELECT 1 AS id, 'abc'::BLOB AS b) " +
        "TO '\" + sys.argv[1] + \"' (FORMAT PARQUET)\")", file.toString)
    assert(scala.sys.process.Process(duck).! === 0, "duckdb must write the file")
    val plain = spark.newSession()
    val asString = spark.newSession()
    asString.conf.set("spark.sql.parquet.binaryAsString", "true")
    assert(Tables.load(plain, dir.toString, "blobs").schema("b").dataType === BinaryType)
    assert(asString.read.parquet(file.toString).schema("b").dataType === StringType,
      "premise: binaryAsString infers the column as a string")
    assert(Tables.load(asString, dir.toString, "blobs").schema("b").dataType === StringType,
      "a session with another inference conf must not reuse the schema")
  }
}
