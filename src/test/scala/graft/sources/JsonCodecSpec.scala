package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.types.StructType
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.util.Pretty
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.AtomicCommit.{EqDelete, Manifest}
import graft.sources.DataSkipping.{ColBloom, ColHist, ColStats}

/** Round-trip properties of [[JsonCodec]] through every metadata format
  * built on it: arbitrary strings — quotes, backslashes, braces, line
  * breaks, tabs, other control characters, non-BMP code points — render
  * to ONE line and parse back unchanged. Fields that carry their own
  * separator encoding (owner lists, histogram bounds, bloom words) get
  * separator-free values; that encoding is the format's, not the
  * codec's. The generation digest holds numbers only and is covered by
  * FileIndexSpec.
  */
class JsonCodecSpec extends AnyFunSuite {

  private val tricky: Gen[String] = Gen.oneOf("\"", "\\", "{", "}", "[", "]",
    ":", ",", "\n", "\r", "\t", "\u0000", "\u0001", "\u001f", "\u007f",
    " ", "😀", "𝄞", "null", "\\\"", "\"}")
  private val codePoint: Gen[String] = Gen.choose(0, 0x10ffff)
    .filter(cp => cp < 0xd800 || cp > 0xdfff)
    .map(cp => new String(Character.toChars(cp)))
  private val str: Gen[String] = Gen.listOf(Gen.frequency(
    3 -> tricky, 2 -> Gen.alphaNumChar.map(_.toString), 1 -> codePoint))
    .map(_.mkString)
  private val strMap: Gen[Map[String, String]] =
    Gen.mapOf(Gen.zip(str, str))
  private val word: Gen[String] = Gen.nonEmptyListOf(Gen.alphaNumChar)
    .map(_.mkString)
  private val nonNeg: Gen[Long] = Gen.choose(0L, Long.MaxValue)

  private def check(p: Prop): Unit = {
    val r = Test.check(Test.Parameters.default.withMinSuccessfulTests(200), p)
    assert(r.passed, Pretty.pretty(r))
  }

  private def oneLine(s: String): Boolean = !s.contains('\n')

  private def tmpGen(): (String, String) = {
    val root = Files.createTempDirectory("graft_codec").toString
    Files.createDirectories(Paths.get(root, "g0"))
    (root, "g0")
  }

  test("manifest: version, partition column, entries and props round-trip") {
    check(Prop.forAll(Gen.choose(1L, Long.MaxValue), str, strMap, strMap) {
      (v, pc, entries, props) =>
        val m = Manifest(v, pc, entries, props)
        val text = AtomicCommit.renderJson(m)
        AtomicCommit.parseBody(text.getBytes(StandardCharsets.UTF_8)) == m
    })
  }

  test("stats records round-trip, absent optional fields stay absent") {
    val gen = for {
      p <- str; c <- str; kind <- Gen.oneOf("num", "str", "tsn", "dtn")
      mn <- Gen.option(str); mx <- Gen.option(str)
      nulls <- nonNeg; rows <- nonNeg; file <- Gen.option(str)
      ndv <- Gen.option(nonNeg); sum <- Gen.option(str)
    } yield ColStats(p, c, kind, mn, mx, nulls, rows, file, ndv, sum)
    check(Prop.forAll(gen) { s =>
      val line = DataSkipping.renderRecord(s)
      oneLine(line) &&
        DataSkipping.parseRecord(JsonCodec.parse(line)) == s &&
        line.contains("\"file\"") == s.file.nonEmpty &&
        line.contains("\"ndv\"") == s.ndv.nonEmpty
    })
  }

  test("bloom records round-trip") {
    val gen = for {
      p <- str; c <- str; dt <- str; file <- Gen.option(str)
      bits <- Gen.choose(1, Int.MaxValue); hashes <- Gen.choose(1, 16)
      salt <- Gen.choose(Long.MinValue, Long.MaxValue)
      words <- Gen.mapOf(Gen.zip(Gen.choose(0, 1 << 20),
        Gen.choose(Long.MinValue, Long.MaxValue)))
    } yield ColBloom(p, c, dt, bits, hashes, salt, words, file)
    check(Prop.forAll(gen) { b =>
      val line = DataSkipping.renderBloom(b)
      oneLine(line) && DataSkipping.parseBloom(JsonCodec.parse(line)) == b
    })
  }

  test("equality-delete records round-trip through the sidecar") {
    val gen = Gen.listOf(for {
      p <- str; c <- str; values <- Gen.listOf(str)
      owners <- Gen.nonEmptyListOf(word)
    } yield EqDelete(p, c, values, owners))
      .map(_.groupBy(e => (e.partition, e.col)).values.map(_.head).toSeq)
    check(Prop.forAll(gen) { eqs =>
      val (root, g) = tmpGen()
      AtomicCommit.writeEqs(s"$root/$g", eqs)
      AtomicCommit.readEqs(root, g).toSet == eqs.toSet
    })
  }

  test("histogram records round-trip through the sidecar") {
    val bound = Gen.choose(Long.MinValue, Long.MaxValue).map(_.toString)
    val gen = Gen.nonEmptyListOf(for {
      p <- str; c <- str; bounds <- Gen.listOf(bound)
    } yield ColHist(p, c, bounds))
    check(Prop.forAll(gen) { hs =>
      val (root, g) = tmpGen()
      DataSkipping.writeHistSidecar(s"$root/$g", hs)
      DataSkipping.readHists(root, g).toSet == hs.toSet
    })
  }

  test("column summaries round-trip their column names") {
    val gen = Gen.nonEmptyListOf(for {
      p <- str; c <- str; mn <- Gen.option(str)
    } yield ColStats(p, c, "str", mn, mn, 0L, 1L, None, Some(1L)))
    check(Prop.forAll(gen) { recs =>
      val (root, g) = tmpGen()
      DataSkipping.writeColSummary(s"$root/$g", recs)
      val sum = DataSkipping.readColSummary(root, g).get
      sum.keySet == recs.map(_.col).toSet &&
        recs.groupBy(_.col).forall { case (c, rs) =>
          sum(c).parts == rs.map(_.partition).distinct.size &&
            sum(c).psig == DataSkipping.partSig(rs.map(_.partition).distinct)
        }
    })
  }

  test("file index records round-trip") {
    val gen = Gen.listOf(Gen.zip(str, str, nonNeg, Gen.choose(1L, Long.MaxValue)))
      .map(_.groupBy(f => (f._1, f._2)).values.map(_.head).toSeq)
    check(Prop.forAll(gen) { files =>
      val (root, g) = tmpGen()
      DataSkipping.writeIndexLines(Paths.get(root, g), files)
      DataSkipping.readFileIndex(root, g).contains(
        files.groupBy(_._1).map { case (pv, fs) =>
          pv -> fs.map(f => (f._2, f._3, f._4)).sortBy(_._1)
        })
    })
  }

  test("table declarations round-trip") {
    val schema = StructType.fromDDL("k BIGINT, `a{\"b\"}` STRING")
    check(Prop.forAll(str) { pc =>
      val store = new InMemoryObjectStore
      GraftCatalog.writeDeclared(store, pc, schema)
      GraftCatalog.readDeclared(store).contains((pc, schema))
    })
  }

  test("transaction decisions read back exactly as decided") {
    check(Prop.forAll(word, Gen.listOf(str), Gen.oneOf(true, false)) {
      (id, tables, commit) =>
        val root = s"mem://codec/$id"
        Transactions.registerStore(root, new InMemoryObjectStore)
        try {
          Transactions.decide(root, id, commit, tables :+
            "\"decision\":\"commit\"") ==
            (if (commit) Transactions.Committed else Transactions.Aborted)
        } finally Transactions.unregisterStore(root)
    })
  }
}
