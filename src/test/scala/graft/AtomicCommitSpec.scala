package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.sources.AtomicCommit

/** The properties that distinguish the manifest commit from dynamic
  * partition overwrite: a reader NEVER observes a half-published
  * multi-partition refresh (whole old snapshot or whole new one), and two
  * racing writers serialize through the hard-link CAS instead of silently
  * clobbering each other.
  */
class AtomicCommitSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(): String =
    Files.createTempDirectory("graft_ac").toString

  private def snap(root: String): Map[(String, Long), Double] =
    AtomicCommit.read(spark, root)
      .select("k", "flag", "v").as[(Long, String, Double)].collect()
      .map { case (k, f, v) => (f, k) -> v }.toMap

  test("commit + read round-trips a partitioned snapshot") {
    val root = freshRoot()
    val df = Seq((1L, "A", 1.0), (2L, "A", 2.0), (3L, "B", 3.0))
      .toDF("k", "flag", "v")
    val v1 = AtomicCommit.commitReplacePartitions(spark, root, df, "flag")
    assert(v1 === 1L)
    assert(snap(root) === Map(("A", 1L) -> 1.0, ("A", 2L) -> 2.0, ("B", 3L) -> 3.0))
  }

  test("replace-partitions: only partitions present in the commit change owner") {
    val root = freshRoot()
    AtomicCommit.commitReplacePartitions(spark, root,
      Seq((1L, "A", 1.0), (3L, "B", 3.0)).toDF("k", "flag", "v"), "flag")
    val v2 = AtomicCommit.commitReplacePartitions(spark, root,
      Seq((9L, "B", 9.0)).toDF("k", "flag", "v"), "flag")
    assert(v2 === 2L)
    // A still owned by the first generation, B replaced wholesale
    assert(snap(root) === Map(("A", 1L) -> 1.0, ("B", 9L) -> 9.0))
    val m = AtomicCommit.readManifest(root).get
    assert(m.entries("A") !== m.entries("B"))
  }

  test("crash window: a staged-but-unpublished commit is invisible; publish flips atomically") {
    val root = freshRoot()
    AtomicCommit.commitReplacePartitions(spark, root,
      Seq((1L, "A", 1.0), (3L, "B", 3.0)).toDF("k", "flag", "v"), "flag")
    val before = snap(root)
    // phase 1 only — this is the crash point dynamic overwrite can't
    // survive: BOTH partitions already rewritten on disk, no manifest yet.
    // The reader must see the complete OLD snapshot.
    val staged = AtomicCommit.stage(spark, root,
      Seq((7L, "A", 7.0), (8L, "B", 8.0)).toDF("k", "flag", "v"), "flag")
    assert(snap(root) === before, "staged generation leaked into a read")
    // phase 2 — now BOTH partitions flip in one hard-link
    AtomicCommit.publish(root, staged)
    assert(snap(root) === Map(("A", 7L) -> 7.0, ("B", 8L) -> 8.0))
  }

  test("CAS: a racing writer's version is never clobbered; the loser retries onto the next") {
    val root = freshRoot()
    AtomicCommit.commitReplacePartitions(spark, root,
      Seq((1L, "A", 1.0), (3L, "B", 3.0)).toDF("k", "flag", "v"), "flag")
    // two writers stage concurrently against the SAME current version (1)
    val sA = AtomicCommit.stage(spark, root,
      Seq((7L, "A", 7.0)).toDF("k", "flag", "v"), "flag")
    val sB = AtomicCommit.stage(spark, root,
      Seq((9L, "B", 9.0)).toDF("k", "flag", "v"), "flag")
    val vA = AtomicCommit.publish(root, sA) // wins version 2
    val vB = AtomicCommit.publish(root, sB) // loses the CAS at 2? no —
    // publish re-reads current BEFORE linking, so B simply lands at 3;
    // the CAS matters when the read and link race, which the next test
    // forces explicitly
    assert(vA === 2L && vB === 3L)
    // BOTH commits survive: B's replace did not resurrect A's old rows
    assert(snap(root) === Map(("A", 7L) -> 7.0, ("B", 9L) -> 9.0))
  }

  test("CAS under a forced race: the occupied version triggers a retry, not a clobber") {
    val root = freshRoot()
    AtomicCommit.commitReplacePartitions(spark, root,
      Seq((1L, "A", 1.0)).toDF("k", "flag", "v"), "flag")
    val staged = AtomicCommit.stage(spark, root,
      Seq((7L, "A", 7.0)).toDF("k", "flag", "v"), "flag")
    // simulate a writer that won version 2 between our read and our link:
    // hand-write a manifest at v2 keeping A at its CURRENT owner
    val m1 = AtomicCommit.readManifest(root).get
    val raced = m1.copy(version = 2L)
    val tmp = Files.createTempFile(java.nio.file.Paths.get(root), "_graft_manifest.tmp_", "")
    Files.write(tmp,
      s"""{"version":2,"partitionCol":"flag","entries":{${
        m1.entries.toSeq.sorted.map { case (k, v) => s""""$k":"$v"""" }.mkString(",")
      }}}""".getBytes("UTF-8"))
    Files.createLink(java.nio.file.Paths.get(root, f"_graft_manifest.v${2L}%08d.json"), tmp)
    Files.delete(tmp)
    assert(raced.version === 2L)
    // our publish must observe v2 occupied, re-merge onto it, and land at 3
    val v = AtomicCommit.publish(root, staged)
    assert(v === 3L)
    assert(snap(root) === Map(("A", 7L) -> 7.0))
  }

  test("a version-naming prop staged as the sentinel resolves to the version the CAS actually lands") {
    val root = freshRoot()
    AtomicCommit.commitReplacePartitions(spark, root,
      Seq((1L, "A", 1.0)).toDF("k", "flag", "v"), "flag")
    val staged = AtomicCommit.stage(spark, root,
      Seq((7L, "A", 7.0)).toDF("k", "flag", "v"), "flag")
      .copy(props = Map("graft.test.version" ->
        AtomicCommit.VersionValueSentinel))
    // a concurrent writer wins v2 between our read and our link: the
    // retry lands at v3, and the sentinel must name 3 — not the
    // pre-computable base+1=2, which now belongs to the other writer
    val m1 = AtomicCommit.readManifest(root).get
    val tmp = Files.createTempFile(java.nio.file.Paths.get(root),
      "_graft_manifest.tmp_", "")
    Files.write(tmp,
      s"""{"version":2,"partitionCol":"flag","entries":{${
        m1.entries.toSeq.sorted.map { case (k, v) => s""""$k":"$v"""" }.mkString(",")
      }}}""".getBytes("UTF-8"))
    Files.createLink(
      java.nio.file.Paths.get(root, f"_graft_manifest.v${2L}%08d.json"), tmp)
    Files.delete(tmp)
    val v = AtomicCommit.publish(root, staged)
    assert(v === 3L)
    assert(AtomicCommit.readManifest(root).get
      .props("graft.test.version") === "3",
      "the sentinel must resolve to the landed version, per CAS attempt")
  }

  test("sentinel resolution is staged-keys-only: a carried prop whose value is the literal sentinel survives verbatim") {
    val root = freshRoot()
    AtomicCommit.commitReplacePartitions(spark, root,
      Seq((1L, "A", 1.0)).toDF("k", "flag", "v"), "flag")
    // an externally-authored manifest (the one path that can hold the
    // literal: every API publish resolves its own staged sentinels) with
    // a user prop whose VALUE happens to be the sentinel string
    val m1 = AtomicCommit.readManifest(root).get
    val tmp = Files.createTempFile(java.nio.file.Paths.get(root),
      "_graft_manifest.tmp_", "")
    Files.write(tmp,
      s"""{"version":2,"partitionCol":"flag","props":{"user.note":"${
        AtomicCommit.VersionValueSentinel}"},"entries":{${
        m1.entries.toSeq.sorted.map { case (k, v) => s""""$k":"$v"""" }
          .mkString(",")
      }}}""".getBytes("UTF-8"))
    Files.createLink(
      java.nio.file.Paths.get(root, f"_graft_manifest.v${2L}%08d.json"), tmp)
    Files.delete(tmp)
    // a commit on top, itself staging a DIFFERENT sentinel prop: the
    // staged key must resolve to the landed version, the carried user
    // prop must NOT be rewritten
    val staged = AtomicCommit.stage(spark, root,
      Seq((7L, "A", 7.0)).toDF("k", "flag", "v"), "flag")
      .copy(props = Map("graft.test.version" ->
        AtomicCommit.VersionValueSentinel))
    val v = AtomicCommit.publish(root, staged)
    assert(v === 3L)
    val props = AtomicCommit.readManifest(root).get.props
    assert(props("graft.test.version") === "3")
    assert(props("user.note") === AtomicCommit.VersionValueSentinel,
      "a carried (non-staged) prop valued as the literal sentinel must " +
        "survive publish verbatim")
  }

  test("CAS under true thread concurrency: simultaneous publishes both land, neither clobbers") {
    val root = freshRoot()
    AtomicCommit.commitReplacePartitions(spark, root,
      Seq((1L, "A", 1.0), (3L, "B", 3.0)).toDF("k", "flag", "v"), "flag")
    val sA = AtomicCommit.stage(spark, root,
      Seq((7L, "A", 7.0)).toDF("k", "flag", "v"), "flag")
    val sB = AtomicCommit.stage(spark, root,
      Seq((9L, "B", 9.0)).toDF("k", "flag", "v"), "flag")
    // fire both publishes at once: the hard-link CAS serializes them —
    // whichever loses version 2 re-merges onto the winner and lands at 3
    val gate = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val fA = pool.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long = { gate.await(); AtomicCommit.publish(root, sA) }
      })
      val fB = pool.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long = { gate.await(); AtomicCommit.publish(root, sB) }
      })
      gate.countDown()
      val versions = Set(fA.get(60, java.util.concurrent.TimeUnit.SECONDS),
        fB.get(60, java.util.concurrent.TimeUnit.SECONDS))
      assert(versions === Set(2L, 3L), s"expected versions 2 and 3, got $versions")
    } finally pool.shutdown()
    // BOTH commits took effect regardless of which won the race
    assert(snap(root) === Map(("A", 7L) -> 7.0, ("B", 9L) -> 9.0))
  }

  test("vacuum drops only unreferenced generations and stale manifests; reads survive") {
    val root = freshRoot()
    AtomicCommit.commitReplacePartitions(spark, root,
      Seq((1L, "A", 1.0), (3L, "B", 3.0)).toDF("k", "flag", "v"), "flag")
    AtomicCommit.commitReplacePartitions(spark, root,
      Seq((7L, "A", 7.0), (8L, "B", 8.0)).toDF("k", "flag", "v"), "flag")
    val dropped = AtomicCommit.vacuum(root)
    assert(dropped.size === 1)
    assert(snap(root) === Map(("A", 7L) -> 7.0, ("B", 8L) -> 8.0))
    // only the current manifest version remains
    val manifests = java.nio.file.Paths.get(root).toFile.listFiles
      .map(_.getName).filter(_.startsWith("_graft_manifest.v"))
    assert(manifests.toSeq === Seq("_graft_manifest.v00000002.json"))
    // idempotent
    assert(AtomicCommit.vacuum(root) === Nil)
  }

  test("read-set conflict: two writers replacing the SAME partition — exactly one aborts") {
    val root = freshRoot()
    AtomicCommit.commitReplacePartitions(spark, root,
      Seq((1L, "A", 1.0), (3L, "B", 3.0)).toDF("k", "flag", "v"), "flag")
    // both stage against version 1, both replace partition A
    val sA = AtomicCommit.stage(spark, root,
      Seq((7L, "A", 7.0)).toDF("k", "flag", "v"), "flag")
    val sB = AtomicCommit.stage(spark, root,
      Seq((9L, "A", 9.0)).toDF("k", "flag", "v"), "flag")
    assert(AtomicCommit.publish(root, sA) === 2L)
    // last-wins would silently drop sA's rows; the read-set check aborts
    val e = intercept[AtomicCommit.PartitionConflictException] {
      AtomicCommit.publish(root, sB)
    }
    assert(e.getMessage.contains("A"))
    assert(snap(root) === Map(("A", 7L) -> 7.0, ("B", 3L) -> 3.0),
      "the winner's commit must survive the loser's abort")
    // the loser's recovery path: re-stage against the CURRENT snapshot
    val sB2 = AtomicCommit.stage(spark, root,
      Seq((9L, "A", 9.0)).toDF("k", "flag", "v"), "flag")
    assert(AtomicCommit.publish(root, sB2) === 3L)
    assert(snap(root) === Map(("A", 9L) -> 9.0, ("B", 3L) -> 3.0))
  }

  test("read-set conflict: a partition CREATED by a concurrent commit also conflicts") {
    val root = freshRoot()
    AtomicCommit.commitReplacePartitions(spark, root,
      Seq((1L, "A", 1.0)).toDF("k", "flag", "v"), "flag")
    // both writers introduce partition C (absent at their shared base)
    val s1 = AtomicCommit.stage(spark, root,
      Seq((5L, "C", 5.0)).toDF("k", "flag", "v"), "flag")
    val s2 = AtomicCommit.stage(spark, root,
      Seq((6L, "C", 6.0)).toDF("k", "flag", "v"), "flag")
    AtomicCommit.publish(root, s1)
    intercept[AtomicCommit.PartitionConflictException] {
      AtomicCommit.publish(root, s2)
    }
    assert(snap(root) === Map(("A", 1L) -> 1.0, ("C", 5L) -> 5.0))
  }

  test("vacuum: a staged-but-unpublished generation is not an orphan until it ages out") {
    val root = freshRoot()
    AtomicCommit.commitReplacePartitions(spark, root,
      Seq((1L, "A", 1.0)).toDF("k", "flag", "v"), "flag")
    val staged = AtomicCommit.stage(spark, root,
      Seq((7L, "A", 7.0)).toDF("k", "flag", "v"), "flag")
    // default retention: another writer's in-flight phase-1 output survives
    assert(AtomicCommit.vacuum(root) === Nil)
    assert(java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get(root, staged.gen)))
    assert(AtomicCommit.publish(root, staged) === 2L)
    assert(snap(root) === Map(("A", 7L) -> 7.0))
  }

  test("a vacuumed-away stage fails its publish loudly instead of committing deleted data") {
    val root = freshRoot()
    AtomicCommit.commitReplacePartitions(spark, root,
      Seq((1L, "A", 1.0)).toDF("k", "flag", "v"), "flag")
    val staged = AtomicCommit.stage(spark, root,
      Seq((7L, "A", 7.0)).toDF("k", "flag", "v"), "flag")
    // zero retention = the caller asserted no writer is in flight; the
    // sleep puts the stage's mtime strictly before vacuum's cutoff
    Thread.sleep(10)
    assert(AtomicCommit.vacuum(root, orphanAgeMillis = 0L) === Seq(staged.gen))
    val e = intercept[IllegalStateException] { AtomicCommit.publish(root, staged) }
    assert(e.getMessage.contains(staged.gen))
    // the table is UNHARMED — old snapshot intact, no manifest points at
    // the deleted generation
    assert(snap(root) === Map(("A", 1L) -> 1.0))
  }

  test("an empty replace is rejected at stage time, not published as an unreadable manifest") {
    val root = freshRoot()
    val e = intercept[IllegalArgumentException] {
      AtomicCommit.commitReplacePartitions(spark, root,
        Seq((1L, "A", 1.0)).toDF("k", "flag", "v").filter(lit(false)), "flag")
    }
    assert(e.getMessage.contains("no partition directories"))
    assert(AtomicCommit.readManifest(root).isEmpty, "nothing may be published")
  }

  test("time travel: every on-disk version replays its exact snapshot; vacuum sets the horizon") {
    val root = freshRoot()
    AtomicCommit.commitReplacePartitions(spark, root,
      Seq((1L, "A", 1.0), (3L, "B", 3.0)).toDF("k", "flag", "v"), "flag")
    AtomicCommit.commitReplacePartitions(spark, root,
      Seq((7L, "A", 7.0)).toDF("k", "flag", "v"), "flag")
    assert(AtomicCommit.versions(root) === Seq(1L, 2L))
    def at(v: Long) = AtomicCommit.readAt(spark, root, v)
      .select("k", "flag", "v").as[(Long, String, Double)].collect()
      .map { case (k, f, x) => (f, k) -> x }.toMap
    // v1 replays the pre-replace snapshot byte-identically; v2 == current
    assert(at(1L) === Map(("A", 1L) -> 1.0, ("B", 3L) -> 3.0))
    assert(at(2L) === snap(root))
    // vacuum prunes history to the current version; a vacuumed version
    // fails with a clear error, never a partial read
    AtomicCommit.vacuum(root)
    assert(AtomicCommit.versions(root) === Seq(2L))
    assert(at(2L) === Map(("A", 7L) -> 7.0, ("B", 3L) -> 3.0))
    val e = intercept[RuntimeException] { at(1L) }
    assert(e.getMessage.contains("v1") && e.getMessage.contains("vacuumed"))
  }

  test("version diff: manifest-pruned CDC scans only partitions whose owner changed") {
    val root = freshRoot()
    // v1: A{1,2} B{3} C{4}; v2 replaces ONLY A (drop k=2, update k=1, add k=9)
    AtomicCommit.commitReplacePartitions(spark, root,
      Seq((1L, "A", 1.0), (2L, "A", 2.0), (3L, "B", 3.0), (4L, "C", 4.0))
        .toDF("k", "flag", "v"), "flag")
    AtomicCommit.commitReplacePartitions(spark, root,
      Seq((1L, "A", 10.0), (9L, "A", 9.0)).toDF("k", "flag", "v"), "flag")
    // the change surface is resolved from the manifests alone: just A
    assert(AtomicCommit.changedPartitions(root, 1L, 2L) === Seq("A"))
    val d = AtomicCommit.diff(spark, root, 1L, 2L, "k")
      .select("change_type", "k", "v_from", "v_to")
      .as[(String, Long, Option[Double], Option[Double])].collect().toSet
    // untouched partitions (B, C) contribute NOTHING — their rows are
    // byte-identical by the immutability argument and are never scanned
    assert(d === Set(
      ("update", 1L, Some(1.0), Some(10.0)),
      ("delete", 2L, Some(2.0), None),
      ("insert", 9L, None, Some(9.0))))
    // identical versions diff to empty
    assert(AtomicCommit.diff(spark, root, 2L, 2L, "k").isEmpty)
  }

  test("additive schema evolution: a column new to one generation reads as null in the rest") {
    val root = freshRoot()
    AtomicCommit.commitReplacePartitions(spark, root,
      Seq((1L, "A", 1.0)).toDF("k", "flag", "v"), "flag")
    // the new generation carries an extra column — old data is NOT rewritten
    AtomicCommit.commitReplacePartitions(spark, root,
      Seq((2L, "B", 2.0, 0.9)).toDF("k", "flag", "v", "score"), "flag")
    val got = AtomicCommit.read(spark, root)
      .select("k", "flag", "v", "score")
      .as[(Long, String, Double, Option[Double])].collect().toSet
    assert(got === Set((1L, "A", 1.0, None), (2L, "B", 2.0, Some(0.9))))
  }

  test("scanSchema equals the full scan's schema across every evolution shape, probing one partition per generation") {
    val root = freshRoot()
    val store = new graft.sources.PosixManifestStore(root)
    def check(label: String): Unit = {
      val m = AtomicCommit.readManifest(store).get
      assert(AtomicCommit.scanSchema(spark, root, m) ===
        AtomicCommit.scanManifest(spark, root, m).schema,
        s"scanSchema diverged after: $label")
    }
    AtomicCommit.commitReplacePartitions(spark, root,
      Seq((1, "A", 1.0), (2, "B", 2.0)).toDF("k", "flag", "v"), "flag")
    check("plain commit")
    // a generation carrying a NEW column: unionByName appends it
    AtomicCommit.commitReplacePartitions(spark, root,
      Seq((3, "C", 3.0, 0.9)).toDF("k", "flag", "v", "score"), "flag")
    check("additive generation")
    // appends: multi-owner entries (several generations per partition)
    AtomicCommit.commitAppendPartitions(spark, root,
      Seq((4, "A", 4.0)).toDF("k", "flag", "v"), "flag")
    check("append")
    // mapping state: rename + widen ride the logical view
    AtomicCommit.renameColumn(spark, root, store, "v", "val")
    check("rename")
    AtomicCommit.widenColumn(spark, root, store, "k",
      org.apache.spark.sql.types.LongType)
    check("widen")
    // ALTER-added column no footer carries: NULL-backfilled
    AtomicCommit.addColumnsAtomic(spark, root, store,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("note",
          org.apache.spark.sql.types.StringType))))
    check("added column")
    // merge-on-read delete evidence (schema-neutral but on the path)
    graft.sources.Deletes.deleteKeysMoR(spark, root, store, "k", Seq(2L))
    check("MoR delete evidence")
  }

  test("manifest props ride the atomic swap, carry forward, and round-trip braces") {
    val root = freshRoot()
    val s1 = AtomicCommit.stage(spark, root,
      Seq((1L, "A", 1.0)).toDF("k", "flag", "v"), "flag")
    AtomicCommit.publish(root, s1.copy(props = Map("owner" -> "ingest", "n" -> "1")))
    // every commit additionally stamps its timestamp (TimeTravelSpec owns
    // that contract) — user props are everything else
    def userProps() = AtomicCommit.readManifest(root).get.props -
      AtomicCommit.CommitWhenProp
    assert(userProps() === Map("owner" -> "ingest", "n" -> "1"))
    // a later commit overrides the keys it sets and inherits the rest
    val s2 = AtomicCommit.stage(spark, root,
      Seq((3L, "B", 3.0)).toDF("k", "flag", "v"), "flag")
    AtomicCommit.publish(root, s2.copy(props = Map("n" -> "2")))
    assert(userProps() === Map("owner" -> "ingest", "n" -> "2"))
    // braces, quotes and backslashes are ordinary prop text: they publish
    // and every later reader sees them verbatim
    val s3 = AtomicCommit.stage(spark, root,
      Seq((5L, "C", 5.0)).toDF("k", "flag", "v"), "flag")
    AtomicCommit.publish(root, s3.copy(props = Map("{k}" -> "{\"oops\"}\\")))
    assert(AtomicCommit.currentVersion(root) === Some(3L))
    assert(userProps() === Map("owner" -> "ingest", "n" -> "2",
      "{k}" -> "{\"oops\"}\\"))
  }

  test("vacuum keepVersions: the retention window stays fully time-travelable") {
    val root = freshRoot()
    // v1: A+B on gen1; v2: replace A (gen1 still live via B); v3: replace B
    AtomicCommit.commitReplacePartitions(spark, root,
      Seq((1L, "A", 1.0), (3L, "B", 3.0)).toDF("k", "flag", "v"), "flag")
    AtomicCommit.commitReplacePartitions(spark, root,
      Seq((7L, "A", 7.0)).toDF("k", "flag", "v"), "flag")
    AtomicCommit.commitReplacePartitions(spark, root,
      Seq((8L, "B", 8.0)).toDF("k", "flag", "v"), "flag")
    AtomicCommit.vacuum(root, keepVersions = 2)
    // v2 and v3 readable — including v2's view of B, whose generation
    // only v2 (not v3) still references
    assert(AtomicCommit.versions(root) === Seq(2L, 3L))
    def at(v: Long) = AtomicCommit.readAt(spark, root, v)
      .select("k", "flag", "v").as[(Long, String, Double)].collect()
      .map { case (k, f, x) => (f, k) -> x }.toMap
    assert(at(2L) === Map(("A", 7L) -> 7.0, ("B", 3L) -> 3.0))
    assert(at(3L) === Map(("A", 7L) -> 7.0, ("B", 8L) -> 8.0))
    intercept[RuntimeException] { at(1L) } // beyond the horizon
    // tightening the window to 1 then drops v2 and the generation only it
    // referenced
    val dropped = AtomicCommit.vacuum(root)
    assert(dropped.size === 1)
    assert(AtomicCommit.versions(root) === Seq(3L))
    assert(at(3L) === Map(("A", 7L) -> 7.0, ("B", 8L) -> 8.0))
  }

  test("rollbackTo republishes an old snapshot as a new version; vacuum bounds it") {
    val root = freshRoot()
    AtomicCommit.commitReplacePartitions(spark, root,
      Seq((1L, "A", 1.0), (3L, "B", 3.0)).toDF("k", "flag", "v"), "flag")
    val s2 = AtomicCommit.stage(spark, root,
      Seq((7L, "A", 7.0)).toDF("k", "flag", "v"), "flag")
    AtomicCommit.publish(root, s2.copy(props = Map("wm" -> "9")))
    // rollback = metadata-only commit: v3 replays v1's data...
    assert(AtomicCommit.rollbackTo(root, 1L) === 3L)
    assert(snap(root) === Map(("A", 1L) -> 1.0, ("B", 3L) -> 3.0))
    // ...but keeps the CURRENT props (reverting data must not revert the
    // streaming watermark, or replayed batches would double-append)
    assert(AtomicCommit.readManifest(root).get.props -
      AtomicCommit.CommitWhenProp === Map("wm" -> "9"))
    // a rollback is itself a version: rolling back the rollback works
    assert(AtomicCommit.rollbackTo(root, 2L) === 4L)
    assert(snap(root) === Map(("A", 7L) -> 7.0, ("B", 3L) -> 3.0))
    // vacuum drops v1's superseded generation → rolling back to it must
    // fail loudly instead of publishing a manifest onto deleted data
    AtomicCommit.vacuum(root)
    val e = intercept[RuntimeException] { AtomicCommit.rollbackTo(root, 1L) }
    assert(e.getMessage.contains("vacuum"))
  }

  test("append commits grow the owner list O(batch): no read-back, no rewrite, union reads") {
    val root = freshRoot()
    AtomicCommit.commitReplacePartitions(spark, root,
      Seq((1L, "A", 1.0), (3L, "B", 3.0)).toDF("k", "flag", "v"), "flag")
    val genA1 = AtomicCommit.readManifest(root).get.entries("A")
    val before = java.nio.file.Files.getLastModifiedTime(
      java.nio.file.Paths.get(root, genA1, "flag=A"))
    assert(AtomicCommit.commitAppendPartitions(spark, root,
      Seq((7L, "A", 7.0)).toDF("k", "flag", "v"), "flag") === 2L)
    val m = AtomicCommit.readManifest(root).get
    // A is now owned by BOTH generations, in append order; B untouched
    assert(AtomicCommit.ownersOf(m.entries("A")).size === 2)
    assert(AtomicCommit.ownersOf(m.entries("A")).head === genA1)
    assert(AtomicCommit.ownersOf(m.entries("B")) === Seq(m.entries("B")))
    // the original generation's partition dir was never touched
    assert(java.nio.file.Files.getLastModifiedTime(
      java.nio.file.Paths.get(root, genA1, "flag=A")) === before)
    // reads union the owners
    assert(snap(root) === Map(("A", 1L) -> 1.0, ("A", 7L) -> 7.0, ("B", 3L) -> 3.0))
    // a REPLACE of A staged against the pre-append owner aborts (the
    // appended rows would be silently lost) — the appended table wins
    val stale = AtomicCommit.stage(spark, root,
      Seq((9L, "A", 9.0)).toDF("k", "flag", "v"), "flag")
      .copy(baseOwners = Map("A" -> genA1))
    intercept[AtomicCommit.PartitionConflictException] {
      AtomicCommit.publish(root, stale)
    }
    // a replace staged against the CURRENT owner list collapses A back
    // to single ownership
    val fresh = AtomicCommit.stage(spark, root,
      Seq((9L, "A", 9.0)).toDF("k", "flag", "v"), "flag")
    AtomicCommit.publish(root, fresh)
    assert(AtomicCommit.ownersOf(
      AtomicCommit.readManifest(root).get.entries("A")).size === 1)
    assert(snap(root) === Map(("A", 9L) -> 9.0, ("B", 3L) -> 3.0))
  }

  test("racing appends to the SAME partition both land — appends commute, no conflict") {
    val root = freshRoot()
    AtomicCommit.commitReplacePartitions(spark, root,
      Seq((1L, "A", 1.0)).toDF("k", "flag", "v"), "flag")
    val s1 = AtomicCommit.stage(spark, root,
      Seq((2L, "A", 2.0)).toDF("k", "flag", "v"), "flag")
    val s2 = AtomicCommit.stage(spark, root,
      Seq((3L, "A", 3.0)).toDF("k", "flag", "v"), "flag")
    val gate = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val store = new graft.sources.PosixManifestStore(root)
      val f1 = pool.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long = { gate.await(); AtomicCommit.publishAppend(root, store, s1) }
      })
      val f2 = pool.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long = { gate.await(); AtomicCommit.publishAppend(root, store, s2) }
      })
      gate.countDown()
      val got = Set(f1.get(60, java.util.concurrent.TimeUnit.SECONDS),
        f2.get(60, java.util.concurrent.TimeUnit.SECONDS))
      assert(got === Set(2L, 3L))
    } finally pool.shutdown()
    assert(snap(root) ===
      Map(("A", 1L) -> 1.0, ("A", 2L) -> 2.0, ("A", 3L) -> 3.0))
    assert(AtomicCommit.ownersOf(
      AtomicCommit.readManifest(root).get.entries("A")).size === 3)
  }

  test("mismatched partition column is rejected before any data is written") {
    val root = freshRoot()
    AtomicCommit.commitReplacePartitions(spark, root,
      Seq((1L, "A", 1.0)).toDF("k", "flag", "v"), "flag")
    val e = intercept[IllegalArgumentException] {
      AtomicCommit.stage(spark, root,
        Seq((1L, "A", 1.0)).toDF("k", "flag", "v"), "k")
    }
    assert(e.getMessage.contains("partitioned by"))
  }
}
