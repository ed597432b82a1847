package graft

import java.nio.file.Files

import graft.sources.{AtomicCommit, InMemoryObjectStore}
import graft.streaming.AtomicStreamSink

/** CHECK constraints on [[graft.sources.AtomicCommit]] tables: named
  * boolean SQL expressions in manifest props, enforced on the staged
  * bytes of EVERY write path before anything publishes. The contract
  * under test: a violating commit aborts leaving the table untouched,
  * enforcement binds appends and the streaming sink (not just replaces),
  * existing-data validation gates constraint creation, null passes (SQL
  * semantics), and drop releases enforcement.
  */
class ConstraintsSpec extends SparkSpec {
  import spark.implicits._

  test("violating commits abort whole on every write path; valid ones pass") {
    val root = Files.createTempDirectory("graft_cons").toString
    val store = new InMemoryObjectStore
    AtomicCommit.commitReplacePartitions(spark, root, store,
      Seq(("a", 1L, 10L), ("b", 2L, 20L)).toDF("p", "k", "n"), "p", 1)
    AtomicCommit.addConstraint(spark, root, store, "n_nonneg", "n >= 0")
    assert(AtomicCommit.constraints(store) === Map("n_nonneg" -> "n >= 0"))

    // replace path: valid passes, violating aborts atomically
    AtomicCommit.commitReplacePartitions(spark, root, store,
      Seq(("a", 3L, 30L)).toDF("p", "k", "n"), "p", 1)
    val vBefore = AtomicCommit.currentVersion(store).get
    intercept[AtomicCommit.ConstraintViolationException] {
      AtomicCommit.commitReplacePartitions(spark, root, store,
        Seq(("a", 4L, -5L)).toDF("p", "k", "n"), "p", 1)
    }
    assert(AtomicCommit.currentVersion(store).get === vBefore,
      "a rejected commit must not burn a version")
    assert(AtomicCommit.read(spark, root, store)
      .filter($"n" < 0).count() === 0L)

    // append path and the streaming sink inherit enforcement
    intercept[AtomicCommit.ConstraintViolationException] {
      AtomicCommit.commitAppendPartitions(spark, root, store,
        Seq(("b", 5L, -1L)).toDF("p", "k", "n"), "p", 1)
    }
    intercept[AtomicCommit.ConstraintViolationException] {
      AtomicStreamSink.commitBatch(root, store, "p", "q",
        Seq(("b", 6L, -2L)).toDF("p", "k", "n"), 0L)
    }
    assert(AtomicStreamSink.lastBatchId(store, "q") === None,
      "a rejected batch must not advance the watermark")

    // null passes (SQL: violation iff FALSE)
    AtomicCommit.commitAppendPartitions(spark, root, store,
      Seq[(String, Long, Option[Long])](("b", 7L, None)).toDF("p", "k", "n"),
      "p", 1)
    // drop releases enforcement
    AtomicCommit.dropConstraint(root, store, "n_nonneg")
    assert(AtomicCommit.constraints(store) === Map.empty)
    AtomicCommit.commitAppendPartitions(spark, root, store,
      Seq(("b", 8L, -9L)).toDF("p", "k", "n"), "p", 1)
  }

  test("addConstraint validates existing data first and is atomic with its version") {
    val root = Files.createTempDirectory("graft_cons2").toString
    val store = new InMemoryObjectStore
    AtomicCommit.commitReplacePartitions(spark, root, store,
      Seq(("a", 1L, -10L)).toDF("p", "k", "n"), "p", 1)
    intercept[AtomicCommit.ConstraintViolationException] {
      AtomicCommit.addConstraint(spark, root, store, "n_nonneg", "n >= 0")
    }
    assert(AtomicCommit.constraints(store) === Map.empty)
    // braces are ordinary expression text: recorded verbatim and enforced
    AtomicCommit.addConstraint(spark, root, store, "{braced}",
      "concat('{', p, '}') <> '{b}'")
    assert(AtomicCommit.constraints(store) ===
      Map("{braced}" -> "concat('{', p, '}') <> '{b}'"))
    intercept[AtomicCommit.ConstraintViolationException] {
      AtomicCommit.commitAppendPartitions(spark, root, store,
        Seq(("b", 2L, 5L)).toDF("p", "k", "n"), "p", 1)
    }
  }

  test("a constraint landing in the stage-to-publish window aborts the in-flight writer") {
    val root = Files.createTempDirectory("graft_cons3").toString
    val store = new InMemoryObjectStore
    AtomicCommit.commitReplacePartitions(spark, root, store,
      Seq(("a", 1L, 10L)).toDF("p", "k", "n"), "p", 1)
    // the advisory race: writer stages BEFORE the constraint exists...
    val staged = AtomicCommit.stage(spark, root, store,
      Seq(("a", 2L, -5L)).toDF("p", "k", "n"), "p", 1)
    // ...the constraint lands (its full-table scan cannot see the
    // unpublished generation)...
    AtomicCommit.addConstraint(spark, root, store, "n_nonneg", "n >= 0")
    // ...and the publish must NOT slip the unvalidated rows through
    intercept[AtomicCommit.PartitionConflictException] {
      AtomicCommit.publish(root, store, staged)
    }
    assert(AtomicCommit.read(spark, root, store).filter($"n" < 0).count() === 0L)

    // the append path races identically (appends add rows too) — and a
    // VALID batch still aborts: the point is that no rule set validated
    // it, not that it happens to violate
    val stagedOk = AtomicCommit.stage(spark, root, store,
      Seq(("a", 3L, 7L)).toDF("p", "k", "n"), "p", 1)
    AtomicCommit.dropConstraint(root, store, "n_nonneg")
    intercept[AtomicCommit.PartitionConflictException] {
      AtomicCommit.publishAppend(root, store, stagedOk)
    }
    // the loser protocol: re-stage against the fresh rules, then publish
    val restaged = AtomicCommit.stage(spark, root, store,
      Seq(("a", 3L, 7L)).toDF("p", "k", "n"), "p", 1)
    AtomicCommit.publishAppend(root, store, restaged)
    assert(AtomicCommit.read(spark, root, store).count() === 2L)
  }
}
