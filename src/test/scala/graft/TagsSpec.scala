package graft

import java.nio.file.Files

import graft.sources.{AtomicCommit, InMemoryObjectStore}

/** [[graft.sources.AtomicCommit]] tags — named snapshot pins (Iceberg's
  * tagged references): "the snapshot this training run read" recorded as
  * table metadata that [[AtomicCommit.vacuum]] honors. The contract under
  * test: a tag survives ANY retention horizon (manifest and generations
  * both), a released tag ages out normally, and tagging rides the same
  * CAS as data commits (atomically visible, conflict-free with writers).
  */
class TagsSpec extends SparkSpec {
  import spark.implicits._

  private def commitN(root: String, store: InMemoryObjectStore, n: Int): Long =
    AtomicCommit.commitReplacePartitions(spark, root, store,
      Seq(("a", n.toLong, s"r$n")).toDF("p", "k", "v"), "p", 1)

  test("a tagged version survives vacuum past the retention horizon, untag releases it") {
    val root = Files.createTempDirectory("graft_tag").toString
    val store = new InMemoryObjectStore
    val v1 = commitN(root, store, 1)
    AtomicCommit.tag(root, store, "train-run-7", v1)
    // three more data versions push v1 far past keepVersions = 1
    (2 to 4).foreach(commitN(root, store, _))
    AtomicCommit.vacuum(root, store, 0L, 1)
    // the tag pins BOTH the manifest and the generation: full read works
    assert(AtomicCommit.tags(store) === Map("train-run-7" -> v1))
    val pinned = AtomicCommit.readTag(spark, root, store, "train-run-7")
      .select("k", "v").as[(Long, String)].collect().toSet
    assert(pinned === Set((1L, "r1")))
    // untagged versions inside the horizon vacuumed as usual
    assert(AtomicCommit.versions(store).toSet === Set(v1, 5L),
      "only the tagged version and the current one should remain")

    // release the pin: the next vacuum ages it out
    AtomicCommit.untag(root, store, "train-run-7")
    AtomicCommit.vacuum(root, store, 0L, 1)
    assert(AtomicCommit.tags(store) === Map.empty)
    assert(AtomicCommit.versions(store).toSet === Set(6L),
      "after untag only the current version survives")
    intercept[RuntimeException] {
      AtomicCommit.readTag(spark, root, store, "train-run-7")
    }
    // current data never touched by any of it
    assert(AtomicCommit.read(spark, root, store)
      .select("k").as[Long].collect().toSet === Set(4L))
  }

  test("history classifies the commit log from manifest deltas alone") {
    val root = Files.createTempDirectory("graft_hist").toString
    val store = new InMemoryObjectStore
    import org.apache.spark.sql.functions.col
    // v1 replace (seed), v2 append, v3 metadata (tag), v4 replace,
    // v5 drop (delete empties partition b)
    AtomicCommit.commitReplacePartitions(spark, root, store,
      Seq(("a", 1L, "r1"), ("b", 2L, "r2")).toDF("p", "k", "v"), "p", 1)
    AtomicCommit.commitAppendPartitions(spark, root, store,
      Seq(("a", 3L, "r3"), ("c", 9L, "r9")).toDF("p", "k", "v"), "p", 1)
    AtomicCommit.tag(root, store, "t", 2L)
    AtomicCommit.commitReplacePartitions(spark, root, store,
      Seq(("a", 4L, "r4")).toDF("p", "k", "v"), "p", 1)
    graft.sources.Deletes.deleteWhere(spark, root, store, col("k") === 2L, Nil)
    val h = AtomicCommit.history(store, root)
    assert(h.map(c => c.version -> c.kind) ===
      Seq(1L -> "replace", 2L -> "append", 3L -> "metadata",
        4L -> "replace", 5L -> "drop"))
    // v2 lands rows in the existing partition a AND creates partition c:
    // a publishAppend touching a brand-new value still reads as append
    // (the CommitInfo docs call out the replace ambiguity)
    assert(h.find(_.version == 2L).get.changedPartitions === Some(Seq("a", "c")))
    assert(h.find(_.version == 5L).get.changedPartitions === Some(Seq("b")))
    assert(h.find(_.version == 3L).get.props.contains("graft.tag.t"))
    assert(h.forall(_.partitionCol == "p"))
    // vacuum truncates the log to retention + tags; the oldest survivor
    // past a vacuumed predecessor reports no change set rather than a
    // wrong one
    AtomicCommit.vacuum(root, store, 0L, 1)
    val h2 = AtomicCommit.history(store, root)
    assert(h2.map(_.version) === Seq(2L, 5L))
    assert(h2.head.changedPartitions === None,
      "v2's predecessor is vacuumed — the change set is unknowable")
  }

  test("tagging is a props-only commit: version bumps, entries untouched, data commits unaffected") {
    val root = Files.createTempDirectory("graft_tag2").toString
    val store = new InMemoryObjectStore
    val v1 = commitN(root, store, 1)
    val before = AtomicCommit.readManifest(store).get
    val tv = AtomicCommit.tag(root, store, "pin", v1)
    assert(tv === v1 + 1)
    val after = AtomicCommit.readManifest(store).get
    assert(after.entries === before.entries, "a tag moves no data")
    // tags do not disturb the exactly-once watermark or other props
    assert(after.props.get("graft.tag.pin") === Some(v1.toString))
    // a later data commit carries the tag forward
    commitN(root, store, 2)
    assert(AtomicCommit.tags(store) === Map("pin" -> v1))
    // tagging a vacuumed/never-published version fails loudly
    intercept[RuntimeException] {
      AtomicCommit.tag(root, store, "ghost", 999L)
    }
    // an empty name is rejected before any commit; braces and quotes are
    // ordinary name text
    intercept[IllegalArgumentException] {
      AtomicCommit.tag(root, store, "", v1)
    }
    AtomicCommit.tag(root, store, "br{ce\"", v1)
    assert(AtomicCommit.tags(store) === Map("pin" -> v1, "br{ce\"" -> v1))
  }
}
