package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

import graft.sources.{AtomicCommit, Compaction, DataSkipping, Deletes, GraftBatchScan, GraftRelation, GraftScanProbe, PosixManifestStore}

/** The storage-partitioned batch face ([[graft.sources.GraftBatchScan]]):
  * an opt-in native DSv2 scan whose splits carry partition keys, so two
  * graft tables co-partitioned on the join key plan their join with ZERO
  * shuffle exchanges under Spark's v2 bucketing — and a groupBy on the
  * partition column aggregates exchange-free. Gated to snapshots where a
  * verbatim parquet read is exact; everything else must fall back to the
  * V1 composition unchanged.
  */
class StoragePartitionedJoinSpec extends SparkSpec {
  import spark.implicits._

  private val BatchOn = GraftBatchScan.EnabledConf -> "true"
  private val SpjConfs = Seq(
    GraftBatchScan.EnabledConf -> "true",
    "spark.sql.sources.v2.bucketing.enabled" -> "true",
    "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
    "spark.sql.autoBroadcastJoinThreshold" -> "-1")

  private def register(name: String, root: String): Unit = {
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.graft.table.$name", root)
  }
  private def unregister(names: String*): Unit =
    names.foreach(n => spark.conf.unset(s"spark.graft.table.$n"))

  private def executed(df: DataFrame): SparkPlan = {
    df.collect() // finalize AQE
    df.queryExecution.executedPlan
  }
  /** Every physical node, descending through AQE wrappers and query
    * stages (whose inner plans are not `children`).
    */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
      case other => other.children
    }
    p +: kids.flatMap(nodes)
  }
  private def shuffles(p: SparkPlan): Int =
    nodes(p).count(_.isInstanceOf[ShuffleExchangeExec])
  private def batchScans(p: SparkPlan): Int =
    nodes(p).count(_.isInstanceOf[BatchScanExec])

  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("verbatim parity: the batch face returns exactly what the V1 composition returns") {
    val root = Files.createTempDirectory("graft_spj_par").toString
    // escaped dir value, a null partition, mixed data types
    val df = Seq(
      (Some("A"), 1L, 1.5, "x"), (Some("A"), 2L, 2.5, "y"),
      (Some("B"), 3L, 3.5, "z"), (Some("a/b"), 4L, 4.5, "w"),
      (None, 5L, 5.5, "v")
    ).toDF("p", "k", "v", "s").select($"k", $"v", $"s", $"p")
    AtomicCommit.commitReplacePartitions(spark, root, df, "p")
    // a second generation via append — multi-owner partitions
    AtomicCommit.commitAppendPartitions(spark, root,
      Seq((6L, 6.5, "u", "A"), (7L, 7.5, "t", "B"))
        .toDF("k", "v", "s", "p"), "p")
    register("spj_par", root)
    try {
      val queries = Seq(
        "SELECT * FROM graft.spj_par",
        "SELECT p, k FROM graft.spj_par",           // pc first (reorder)
        "SELECT k, s FROM graft.spj_par",           // no pc
        "SELECT p FROM graft.spj_par",              // pc only
        "SELECT k, v, p FROM graft.spj_par WHERE p = 'A'",
        "SELECT k, p FROM graft.spj_par WHERE p IS NULL",
        "SELECT k, p FROM graft.spj_par WHERE p = 'a/b'",
        "SELECT k, s FROM graft.spj_par WHERE k >= 3 AND k <= 6",
        "SELECT count(*), sum(k * 2) FROM graft.spj_par WHERE v > 2.0")
      for (q <- queries) {
        val off = rowsOf(spark.sql(q))
        val (on, plan) = withSQLConf(BatchOn) {
          val d = spark.sql(q); (rowsOf(d), executed(d))
        }
        assert(on === off, s"batch/V1 divergence for: $q")
        assert(batchScans(plan) > 0, s"expected the batch face for: $q\n$plan")
      }
      // pruning parity: a partition equality reads 1 entry on the batch face
      GraftScanProbe.reset(root)
      withSQLConf(BatchOn) {
        spark.sql("SELECT k FROM graft.spj_par WHERE p = 'B'").collect()
      }
      assert(GraftScanProbe.entriesSeen(root).exists(_ == 1),
        s"batch face must prune entries: ${GraftScanProbe.entriesSeen(root)}")
    } finally unregister("spj_par")
  }

  test("co-partitioned join and partition-keyed aggregation plan with zero shuffles") {
    val rootA = Files.createTempDirectory("graft_spj_a").toString
    val rootB = Files.createTempDirectory("graft_spj_b").toString
    val parts = Seq("P0", "P1", "P2", "P3")
    val a = (0 until 80).map(i => (i.toLong, i * 1.0, parts(i % 4)))
      .toDF("k", "v", "p")
    val b = (0 until 40).map(i => (i.toLong, s"n$i", parts(i % 4)))
      .toDF("k2", "name", "p")
    AtomicCommit.commitReplacePartitions(spark, rootA, a, "p")
    AtomicCommit.commitReplacePartitions(spark, rootB, b, "p")
    register("spj_a", rootA); register("spj_b", rootB)
    try {
      val join =
        """SELECT a.p, a.k, b.name FROM graft.spj_a a
          |JOIN graft.spj_b b ON a.p = b.p""".stripMargin
      // baseline: V1 path shuffles both sides
      val (offRows, offPlan) = withSQLConf(
          "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        val d = spark.sql(join); (rowsOf(d), executed(d))
      }
      assert(shuffles(offPlan) > 0, s"expected shuffles on the V1 path\n$offPlan")
      // SPJ: zero exchanges, same answer
      val (onRows, onPlan) = withSQLConf(SpjConfs: _*) {
        val d = spark.sql(join); (rowsOf(d), executed(d))
      }
      assert(onRows === offRows)
      assert(batchScans(onPlan) === 2, s"both sides on the batch face\n$onPlan")
      assert(shuffles(onPlan) === 0,
        s"storage-partitioned join must not shuffle\n$onPlan")

      // partition-keyed aggregation: exchange-free under key grouping
      // (sum(v*2) so the metadata-aggregate pushdown cannot intercept)
      val agg = "SELECT p, sum(v * 2) AS sv FROM graft.spj_a GROUP BY p"
      val aggOff = rowsOf(spark.sql(agg))
      val (aggOn, aggPlan) = withSQLConf(SpjConfs: _*) {
        val d = spark.sql(agg); (rowsOf(d), executed(d))
      }
      assert(aggOn === aggOff)
      assert(shuffles(aggPlan) === 0,
        s"partition-keyed aggregation must not shuffle\n$aggPlan")
    } finally unregister("spj_a", "spj_b")
  }

  test("position-bitmap deletes ride the batch face: parity, split-local evidence, columnar kept for clean files") {
    val root = Files.createTempDirectory("graft_spj_dv").toString
    // escaped + null partitions, several rows per partition so deletes
    // leave survivors in the same files
    val df = (0 until 30).map { i =>
      val p = i % 3 match {
        case 0 => Some("A")
        case 1 => Some("a/b")
        case _ => None
      }
      (i.toLong, i * 1.0, p)
    }.toDF("k", "v", "p")
    AtomicCommit.commitReplacePartitions(spark, root, df, "p")
    register("spj_dv", root)
    try {
      // two MoR position deletes, touching every partition incl. the
      // escaped and the null one (accumulating vectors)
      Deletes.deleteWhereMoR(spark, root, col("k") % 5 === 0L)
      Deletes.deleteWhereMoR(spark, root, col("k") === 7L)
      val queries = Seq(
        "SELECT k, v, p FROM graft.spj_dv",
        "SELECT k FROM graft.spj_dv WHERE p = 'a/b'",
        "SELECT k, p FROM graft.spj_dv WHERE p IS NULL",
        "SELECT k, v FROM graft.spj_dv WHERE k >= 3 AND k <= 23", // data filter over DV'd files
        "SELECT count(*) AS c, sum(k * 2) AS s FROM graft.spj_dv WHERE v > 2.0")
      for (q <- queries) {
        val off = rowsOf(spark.sql(q))
        val (on, plan) = withSQLConf(BatchOn) {
          val d = spark.sql(q); (rowsOf(d), executed(d))
        }
        assert(on === off, s"batch/V1 divergence under position deletes: $q")
        assert(batchScans(plan) > 0,
          s"position-bitmap evidence must keep the batch face: $q\n$plan")
      }
      // no deleted key survives, survivors intact
      val ks = withSQLConf(BatchOn) {
        spark.sql("SELECT k FROM graft.spj_dv").collect().map(_.getLong(0)).toSet
      }
      assert((0 until 30).filter(i => i % 5 != 0 && i != 7).map(_.toLong).toSet === ks)

      // split-local evidence: only marked files carry bitmaps. The
      // columnar decision is UNIFORM per scan (Spark's PARTITION_DEFINED
      // contract forbids mixing): any evidence in the planned set means
      // every split takes the row path
      withSQLConf(BatchOn) {
        val rel = new GraftRelation(spark, root, new PosixManifestStore(root), None)
        val scan = GraftBatchScan.eligibleScan(rel, rel.schema, Array.empty)
          .getOrElse(fail("bitmap-only evidence must stay eligible"))
        val splits = scan.planInputPartitions()
        val dvd = splits.map(_.asInstanceOf[graft.sources.GraftFileSplit])
          .count(_.files.exists(_.dv.isDefined))
        assert(dvd > 0, "marked files must carry their bitmaps on the split")
        val factory = scan.createReaderFactory()
        splits.foreach { s =>
          assert(!factory.supportColumnarReads(s),
            "a scan with planned delete evidence reads row-wise uniformly")
        }
      }

      // the shuffle-free co-partitioned join survives delete evidence
      val rootB = Files.createTempDirectory("graft_spj_dvb").toString
      val b = Seq(("A", "dimA"), ("a/b", "dimE")).toDF("p", "name")
        .select($"name", $"p")
      AtomicCommit.commitReplacePartitions(spark, rootB, b, "p")
      register("spj_dv_dim", rootB)
      val join =
        """SELECT a.k, b.name FROM graft.spj_dv a
          |JOIN graft.spj_dv_dim b ON a.p = b.p""".stripMargin
      val offJ = rowsOf(spark.sql(join))
      val (onJ, planJ) = withSQLConf(SpjConfs: _*) {
        val d = spark.sql(join); (rowsOf(d), executed(d))
      }
      assert(onJ === offJ)
      assert(shuffles(planJ) === 0,
        s"SPJ must stay shuffle-free under position deletes\n$planJ")
      unregister("spj_dv_dim")

      // a legacy vector (sidecar removed) must fall back to V1 — only
      // the anti-join frame can apply it
      val m = AtomicCommit.readManifest(root).get
      val dvGens = m.entries.values.flatMap(AtomicCommit.dvOf).toSeq.distinct
      assert(dvGens.nonEmpty)
      dvGens.foreach { g =>
        val d = new java.io.File(s"$root/$g/${graft.sources.DvBitmap.SidecarDir}")
        if (d.isDirectory) {
          d.listFiles().foreach(_.delete()); assert(d.delete())
        }
      }
      val (legacyRows, legacyPlan) = withSQLConf(BatchOn) {
        val d = spark.sql("SELECT k FROM graft.spj_dv")
        (d.collect().map(_.getLong(0)).toSet, executed(d))
      }
      assert(batchScans(legacyPlan) === 0,
        s"pre-sidecar vectors must gate the batch face out\n$legacyPlan")
      assert(legacyRows === ks, "the V1 fallback still applies the vectors")
    } finally unregister("spj_dv")
  }

  test("gates: delete evidence, schema-mapping state, or mixed footers fall back to V1") {
    val root = Files.createTempDirectory("graft_spj_gate").toString
    val df = Seq((1L, "x", "A"), (2L, "y", "B")).toDF("k", "s", "p")
    AtomicCommit.commitReplacePartitions(spark, root, df, "p")
    register("spj_gate", root)
    try {
      // the self-heal policy is pinned OFF here: this test proves the
      // RAW gate (auto-materialization has its own test below)
      def planOn(q: String): SparkPlan =
        withSQLConf(BatchOn,
          GraftBatchScan.AutoMaterializeConf -> "0")(executed(spark.sql(q)))
      val q = "SELECT k, s, p FROM graft.spj_gate"
      assert(batchScans(planOn(q)) === 1, "clean snapshot takes the batch face")

      // 1. a MoR delete parks delete evidence → V1 path, correct rows
      Deletes.deleteKeysMoR(spark, root, new PosixManifestStore(root), "k", Seq(1L))
      val afterDelete = planOn(q)
      assert(batchScans(afterDelete) === 0,
        s"delete evidence must gate the batch face out\n$afterDelete")
      assert(withSQLConf(BatchOn,
        GraftBatchScan.AutoMaterializeConf -> "0")(
        rowsOf(spark.sql(q))) === Seq("[2,y,B]"))

      // a compaction rewrite folds the evidence away → eligible again
      Compaction.compactAtomicTable(spark, root)
      assert(batchScans(planOn(q)) === 1,
        "a healed snapshot re-qualifies for the batch face")

      // 2. a rename parks mapping state → V1 path, correct rows
      AtomicCommit.renameColumn(spark, root, new PosixManifestStore(root), "s", "s2")
      val q2 = "SELECT k, s2, p FROM graft.spj_gate"
      val afterRename = planOn(q2)
      assert(batchScans(afterRename) === 0,
        s"rename mapping state must gate the batch face out\n$afterRename")
      assert(withSQLConf(BatchOn)(rowsOf(spark.sql(q2))) === Seq("[2,y,B]"))
    } finally unregister("spj_gate")
  }

  test("Spark's OWN dynamic partition pruning delivers to the batch face") {
    // the V1 bridge needed the AQE-rule workaround because V1ScanWrapper
    // implements no runtime-filtering face; the native batch scan takes
    // Spark's stock DPP delivery (PartitionPruning → DynamicPruningExpression
    // → BatchScanExec.runtimeFilters → scan.filter) with nothing injected
    val root = Files.createTempDirectory("graft_spj_dpp").toString
    val parts = (0 until 40).map(i => f"P$i%02d")
    val fact = (0 until 40000).map { i =>
      (i.toLong, s"pay-$i-${"x" * 64}", parts(i % 40))
    }.toDF("k", "payload", "p")
    AtomicCommit.commitReplacePartitions(spark, root, fact, "p")
    register("spj_dpp", root)
    // the dim must be a real SCAN carrying a selective Filter (a
    // LocalRelation constant-folds the predicate away and PartitionPruning
    // sees nothing selective to prune with)
    val dimPath = Files.createTempDirectory("graft_spj_dppd").toString + "/dim"
    parts.map(p => (p, if (p == "P03" || p == "P07") 1 else 0))
      .toDF("p2", "sel").write.parquet(dimPath)
    spark.read.parquet(dimPath).createOrReplaceTempView("spj_dpp_dim")
    try {
      val q =
        """SELECT f.k FROM graft.spj_dpp f
          |JOIN spj_dpp_dim d ON f.p = d.p2 WHERE d.sel = 1""".stripMargin
      // the graft AQE bridge rule targets the V1 wrapper only — disable it
      // anyway so the pruning seen here is unambiguously Spark's own. The
      // broadcast threshold sits between the dim (~KBs, must broadcast —
      // DPP reuses the broadcast) and the fact (~175 KB width-scaled, must
      // NOT be hinted broadcast itself by BroadcastStatsRule)
      withSQLConf(BatchOn,
        "spark.graft.runtimeFilter.enabled" -> "false",
        "spark.sql.autoBroadcastJoinThreshold" -> "51200",
        "spark.sql.optimizer.dynamicPartitionPruning.useStats" -> "false") {
        GraftScanProbe.reset(root)
        val rows = spark.sql(q).collect()
        assert(rows.length === 2000, s"2 of 40 partitions x 1000 rows")
        val seen = GraftScanProbe.entriesSeen(root)
        assert(seen.last === 2,
          s"DPP must re-prune the executed batch scan to 2 of 40 entries: $seen")
      }
    } finally unregister("spj_dpp")
  }

  test("a pending ADD COLUMN stays on the batch face: per-file null fill equals the V1 backfill") {
    val root = Files.createTempDirectory("graft_spj_add").toString
    val df = Seq((1L, "x", "A"), (2L, "y", "B"), (3L, "z", "A"))
      .toDF("k", "s", "p")
    AtomicCommit.commitReplacePartitions(spark, root, df, "p")
    AtomicCommit.addColumnsAtomic(spark, root, new PosixManifestStore(root),
      org.apache.spark.sql.types.StructType.fromDDL("extra DOUBLE, note STRING"))
    register("spj_add", root)
    try {
      val q = "SELECT k, s, extra, note, p FROM graft.spj_add"
      val off = rowsOf(spark.sql(q))
      val (on, plan) = withSQLConf(BatchOn) {
        val d = spark.sql(q); (rowsOf(d), executed(d))
      }
      assert(on === off, "added-column null fill diverged from the V1 backfill")
      assert(batchScans(plan) === 1,
        s"a pending ADD COLUMN must not gate the batch face out\n$plan")
      // filters touching the added column still answer correctly
      val qf = "SELECT k FROM graft.spj_add WHERE extra IS NULL AND p = 'A'"
      assert(withSQLConf(BatchOn)(rowsOf(spark.sql(qf))) === rowsOf(spark.sql(qf)))
      // once a rewrite MATERIALIZES the column alongside older footers,
      // generations disagree and the face must fall back
      AtomicCommit.commitAppendPartitions(spark, root,
        Seq((4L, "w", 1.5, "n", "B")).toDF("k", "s", "extra", "note", "p"), "p")
      val (rows2, plan2) = withSQLConf(BatchOn) {
        val d = spark.sql(q); (rowsOf(d), executed(d))
      }
      assert(batchScans(plan2) === 0,
        s"mixed footers (materialized + missing) must fall back\n$plan2")
      assert(rows2 === rowsOf(spark.sql(q)))
    } finally unregister("spj_add")
  }

  test("bucket-transform SPJ: co-bucketed tables join on the SOURCE key with zero shuffles") {
    val rootA = Files.createTempDirectory("graft_spj_ba").toString
    val rootB = Files.createTempDirectory("graft_spj_bb").toString
    val spec = graft.sources.HiddenPartitioning.Bucket(8, "k")
    val a = (0 until 400).map(i => (i.toLong, i * 1.0)).toDF("k", "v")
    val b = (0 until 100).map(i => ((i * 4).toLong, s"n$i")).toDF("k", "name")
    graft.sources.HiddenPartitioning.commitReplace(spark, rootA, a, spec)
    graft.sources.HiddenPartitioning.commitReplace(spark, rootB, b, spec)
    register("spj_ba", rootA); register("spj_bb", rootB)
    try {
      // join on the SOURCE column — the derived k_bucket dir column
      // never appears in the query
      val join =
        """SELECT a.k, a.v, b.name FROM graft.spj_ba a
          |JOIN graft.spj_bb b ON a.k = b.k""".stripMargin
      val off = rowsOf(withSQLConf(
        "spark.sql.autoBroadcastJoinThreshold" -> "-1")(spark.sql(join)))
      assert(off.length === 100)
      val (on, plan) = withSQLConf(SpjConfs: _*) {
        val d = spark.sql(join); (rowsOf(d), executed(d))
      }
      assert(on === off, "bucket SPJ changed the answer")
      assert(batchScans(plan) === 2, s"both sides on the batch face\n$plan")
      assert(shuffles(plan) === 0,
        s"co-bucketed source-key join must not shuffle\n$plan")

      // parity under projection shapes and a source-key equality (which
      // prunes through the transform)
      for (q <- Seq(
        "SELECT k, v FROM graft.spj_ba WHERE k = 37",
        "SELECT a.k FROM graft.spj_ba a JOIN graft.spj_bb b ON a.k = b.k WHERE b.name = 'n5'")) {
        val base = rowsOf(spark.sql(q))
        assert(withSQLConf(SpjConfs: _*)(rowsOf(spark.sql(q))) === base, q)
      }

      // a query NOT projecting the source column still works (identity
      // face or unknown partitioning — never a wrong grouping)
      val noSrc = "SELECT v FROM graft.spj_ba"
      assert(withSQLConf(SpjConfs: _*)(rowsOf(spark.sql(noSrc))) ===
        rowsOf(spark.sql(noSrc)))

      // shuffle-ONE-side mode: joined to a plain (non-graft) view, Spark
      // may shuffle only the small side INTO the bucket layout — which
      // EVALUATES GraftBucketBound.produceResult, proving the V2
      // function's hash equals the directory derivation end-to-end
      // (a mismatch would silently lose matches, so the row assert is
      // the parity proof)
      val plain = (0 until 400 by 3).map(i => (i.toLong, s"p$i"))
        .toDF("k2", "tag")
      plain.createOrReplaceTempView("spj_bk_plain")
      val mixed =
        """SELECT a.k, p.tag FROM graft.spj_ba a
          |JOIN spj_bk_plain p ON a.k = p.k2""".stripMargin
      val mixedOff = rowsOf(spark.sql(mixed))
      assert(mixedOff.length === 134)
      val (mixedOn, mixedPlan) = withSQLConf(SpjConfs ++ Seq(
        "spark.sql.sources.v2.bucketing.shuffle.enabled" -> "true"): _*) {
        val d = spark.sql(mixed); (rowsOf(d), executed(d))
      }
      assert(mixedOn === mixedOff, "one-side-shuffled bucket join lost rows")
      // the graft side must not have shuffled, whatever Spark chose for
      // the plain side
      val factShuffled = nodes(mixedPlan).exists {
        case s: ShuffleExchangeExec => nodes(s).exists(_.isInstanceOf[BatchScanExec])
        case _ => false
      }
      assert(!factShuffled, s"the bucketed side must never shuffle\n$mixedPlan")
    } finally unregister("spj_ba", "spj_bb")
  }

  test("time-transform SPJ: co-days-partitioned tables join on the raw timestamp with zero shuffles") {
    val rootA = Files.createTempDirectory("graft_spj_ta").toString
    val rootB = Files.createTempDirectory("graft_spj_tb").toString
    val spec = graft.sources.HiddenPartitioning.Days("ts")
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // four days, several rows per day, plus a NULL-ts row (derives the
    // null-sentinel partition)
    val a = ((0 until 40).map { i =>
      (i.toLong, Some(ts(f"2024-03-${i % 4 + 1}%02d 0${i % 9}:15:0${i % 6}")))
    } :+ (99L, Option.empty[java.sql.Timestamp])).toDF("k", "ts")
    val b = ((0 until 40 by 3).map { i =>
      (Some(ts(f"2024-03-${i % 4 + 1}%02d 0${i % 9}:15:0${i % 6}")), s"n$i")
    } :+ (Option.empty[java.sql.Timestamp], "nx")).toDF("ts", "name")
    graft.sources.HiddenPartitioning.commitReplace(spark, rootA, a, spec)
    graft.sources.HiddenPartitioning.commitReplace(spark, rootB, b, spec)
    register("spj_ta", rootA); register("spj_tb", rootB)
    try {
      // join on the RAW timestamp — the derived ts_day column never
      // appears in the query; null ts rows must not match (SQL equality)
      val join =
        """SELECT a.k, b.name FROM graft.spj_ta a
          |JOIN graft.spj_tb b ON a.ts = b.ts""".stripMargin
      val off = withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        rowsOf(spark.sql(join))
      }
      assert(off.nonEmpty)
      val (on, plan) = withSQLConf(SpjConfs: _*) {
        val d = spark.sql(join); (rowsOf(d), executed(d))
      }
      assert(on === off, "days-transform SPJ changed the answer")
      assert(batchScans(plan) === 2, s"both sides on the batch face\n$plan")
      assert(shuffles(plan) === 0,
        s"co-days-partitioned timestamp join must not shuffle\n$plan")

      // parity under source-range pruning and projections that keep or
      // drop the source column
      for (q <- Seq(
        "SELECT k, ts FROM graft.spj_ta WHERE ts >= '2024-03-02 00:00:00' AND ts <= '2024-03-03 23:59:59'",
        "SELECT k FROM graft.spj_ta", // ts unprojected: no wrong grouping
        "SELECT k, ts FROM graft.spj_ta WHERE ts IS NULL")) {
        val base = rowsOf(spark.sql(q))
        assert(withSQLConf(SpjConfs: _*)(rowsOf(spark.sql(q))) === base, q)
      }

      // shuffle-ONE-side mode: joined to a plain (non-graft) view,
      // Spark may shuffle only the plain side INTO the days layout —
      // which EVALUATES GraftTimeTransformBound.produceResult, proving
      // the hand-rolled micros→UTC rendering byte-equals the write
      // side's date_format derivation end-to-end (a mismatch would
      // silently lose matches; the row parity IS the proof)
      val plain = (0 until 40 by 2).map { i =>
        (ts(f"2024-03-${i % 4 + 1}%02d 0${i % 9}:15:0${i % 6}"), s"p$i")
      }.toDF("ts2", "tag")
      plain.createOrReplaceTempView("spj_tt_plain")
      val mixed =
        """SELECT a.k, p.tag FROM graft.spj_ta a
          |JOIN spj_tt_plain p ON a.ts = p.ts2""".stripMargin
      val mixedOff = rowsOf(spark.sql(mixed))
      assert(mixedOff.nonEmpty)
      val (mixedOn, mixedPlan) = withSQLConf(SpjConfs ++ Seq(
        "spark.sql.sources.v2.bucketing.shuffle.enabled" -> "true"): _*) {
        val d = spark.sql(mixed); (rowsOf(d), executed(d))
      }
      assert(mixedOn === mixedOff, "one-side-shuffled days join lost rows")
      val factShuffled = nodes(mixedPlan).exists {
        case s: ShuffleExchangeExec => nodes(s).exists(_.isInstanceOf[BatchScanExec])
        case _ => false
      }
      assert(!factShuffled,
        s"the days-partitioned side must never shuffle\n$mixedPlan")

      // queries touching the DERIVED day column keep the identity face:
      // a join written on ts_day (day-grain rollups) must stay
      // shuffle-free too — the transform report serves only queries
      // where the derived column never appears
      val joinDerived =
        """SELECT a.k, b.name FROM graft.spj_ta a
          |JOIN graft.spj_tb b ON a.ts_day = b.ts_day""".stripMargin
      val offD = withSQLConf(
        "spark.sql.autoBroadcastJoinThreshold" -> "-1")(rowsOf(spark.sql(joinDerived)))
      val (onD, planD) = withSQLConf(SpjConfs: _*) {
        val d = spark.sql(joinDerived); (rowsOf(d), executed(d))
      }
      assert(onD === offD)
      assert(shuffles(planD) === 0,
        s"a derived-column join must keep the identity-face SPJ\n$planD")

      // malformed width-pinned function names are "no such function",
      // never an internal crash (the FunctionCatalog contract)
      val cat = new graft.sources.GraftCatalog
      for (bad <- Seq("truncate_0", "truncate_99999999999", "truncate_x"))
        intercept[org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException] {
          cat.loadFunction(org.apache.spark.sql.connector.catalog.Identifier
            .of(Array.empty[String], bad))
        }

      // TRUNCATE-transform SPJ: prefix layouts with ESCAPE-needing
      // values ("a/b…" dirs into a%2Fb) join on the raw string
      val rootC = Files.createTempDirectory("graft_spj_tra").toString
      val rootD = Files.createTempDirectory("graft_spj_trb").toString
      val tspec = graft.sources.HiddenPartitioning.Truncate(3, "s")
      val sv = Seq("alpha", "alpine", "beta", "a/b-one", "a/b-two", "gamma")
      graft.sources.HiddenPartitioning.commitReplace(spark, rootC,
        sv.zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("k", "s"),
        tspec)
      graft.sources.HiddenPartitioning.commitReplace(spark, rootD,
        sv.filter(_.length % 2 == 0).map(s => (s, s"d-$s")).toDF("s", "d"),
        tspec)
      register("spj_tra", rootC); register("spj_trb", rootD)
      val joinT =
        """SELECT a.k, b.d FROM graft.spj_tra a
          |JOIN graft.spj_trb b ON a.s = b.s""".stripMargin
      val offT = withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        rowsOf(spark.sql(joinT))
      }
      val (onT, planT) = withSQLConf(SpjConfs: _*) {
        val d = spark.sql(joinT); (rowsOf(d), executed(d))
      }
      assert(onT === offT, "truncate-transform SPJ changed the answer")
      assert(shuffles(planT) === 0,
        s"co-truncate-partitioned join must not shuffle\n$planT")
      unregister("spj_tra", "spj_trb")
    } finally unregister("spj_ta", "spj_tb")
  }

  test("sorted-bucket provenance: a reclustered co-bucketed join plans zero-shuffle AND zero-sort") {
    val rootA = Files.createTempDirectory("graft_spj_sba").toString
    val rootB = Files.createTempDirectory("graft_spj_sbb").toString
    val spec = graft.sources.HiddenPartitioning.Bucket(8, "k")
    // multi-generation fact (replace + append) so pre-recluster buckets
    // hold several unordered files
    graft.sources.HiddenPartitioning.commitReplace(spark, rootA,
      (0 until 400).map(i => (i.toLong, i * 1.0)).toDF("k", "v"), spec)
    graft.sources.HiddenPartitioning.commitAppend(spark, rootA,
      (400 until 600).map(i => (i.toLong, i * 1.0)).toDF("k", "v"), spec)
    graft.sources.HiddenPartitioning.commitReplace(spark, rootB,
      (0 until 150).map(i => ((i * 4).toLong, s"n$i")).toDF("k", "name"), spec)
    register("spj_sba", rootA); register("spj_sbb", rootB)
    try {
      val join =
        """SELECT a.k, a.v, b.name FROM graft.spj_sba a
          |JOIN graft.spj_sbb b ON a.k = b.k""".stripMargin
      val off = withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        rowsOf(spark.sql(join))
      }
      assert(off.length === 150)
      // pre-recluster: zero shuffles, but rows within a bucket are NOT
      // source-key-ordered — the merge join honestly pays its sorts
      val (pre, prePlan) = withSQLConf(SpjConfs: _*) {
        val d = spark.sql(join); (rowsOf(d), executed(d))
      }
      assert(pre === off)
      assert(shuffles(prePlan) === 0, s"bucket SPJ must not shuffle\n$prePlan")
      assert(sorts(prePlan) > 0,
        s"no sort provenance yet — the merge join needs its sorts\n$prePlan")

      // recluster BOTH sides on the source key (2 files/bucket → the
      // cross-file sidecar evidence path): the stamped provenance lets
      // each bucket face claim [k ASC] per coalesced split
      Compaction.recluster(spark, rootA, Seq("k"), filesPerDir = 2)
      Compaction.recluster(spark, rootB, Seq("k"), filesPerDir = 2)
      val off2 = withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        rowsOf(spark.sql(join))
      }
      assert(off2 === off, "recluster changed the answer")
      val (post, postPlan) = withSQLConf(SpjConfs: _*) {
        val d = spark.sql(join); (rowsOf(d), executed(d))
      }
      assert(post === off)
      assert(batchScans(postPlan) === 2, s"both sides on the face\n$postPlan")
      assert(shuffles(postPlan) === 0,
        s"reclustered bucket SPJ must not shuffle\n$postPlan")
      assert(sorts(postPlan) === 0,
        s"recluster's [k ASC] provenance must serve the sorted-bucketed " +
          s"join sort-free\n$postPlan")

      // an append retires the claim (sole ownership broken): answers
      // identical, sorts honestly come back, the join still never
      // shuffles
      graft.sources.HiddenPartitioning.commitAppend(spark, rootA,
        Seq((1000L, 1.5)).toDF("k", "v"), spec)
      val off3 = withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        rowsOf(spark.sql(join))
      }
      val (stale, stalePlan) = withSQLConf(SpjConfs: _*) {
        val d = spark.sql(join); (rowsOf(d), executed(d))
      }
      assert(stale === off3)
      assert(shuffles(stalePlan) === 0, s"SPJ survives the append\n$stalePlan")
      assert(sorts(stalePlan) > 0,
        s"a post-recluster append must retire the bucket ordering claim\n$stalePlan")
    } finally unregister("spj_sba", "spj_sbb")
  }

  test("runtime filters re-prune the batch face's splits") {
    val root = Files.createTempDirectory("graft_spj_rf").toString
    val df = (0 until 40).map(i => (i.toLong, s"P${i % 4}")).toDF("k", "p")
    AtomicCommit.commitReplacePartitions(spark, root, df, "p")
    withSQLConf(BatchOn) {
      val rel = new GraftRelation(spark, root, new PosixManifestStore(root), None)
      val scan = GraftBatchScan.eligibleScan(rel, rel.schema, Array.empty)
        .getOrElse(fail("clean snapshot must be eligible"))
      val before = scan.planInputPartitions()
      assert(before.nonEmpty)
      scan.filter(Array[org.apache.spark.sql.sources.Filter](
        org.apache.spark.sql.sources.In("p", Array("P1"))))
      val after = scan.planInputPartitions()
      assert(after.length < before.length && after.nonEmpty,
        s"runtime IN must shrink the split list: ${before.length} -> ${after.length}")
    }
  }

  private def sorts(p: SparkPlan): Int =
    nodes(p).count(_.isInstanceOf[org.apache.spark.sql.execution.SortExec])

  test("sort-free SPJ: reported per-partition ordering eliminates the merge-join sorts") {
    val rootA = Files.createTempDirectory("graft_spj_sa").toString
    val rootB = Files.createTempDirectory("graft_spj_sb").toString
    val parts = Seq(Some("P0"), Some("a/b"), None) // escaped + null keys
    def slice(lo: Int, hi: Int) = (lo until hi)
      .map(i => (i.toLong, i * 1.0, parts(i % 3))).toDF("k", "v", "p")
    // MULTI-file partitions on both sides (replace + two appends → three
    // owner generations each): without per-key split coalescing Spark's
    // `parts.length <= 1` check would drop the reported ordering, so this
    // layout is what proves the coalescing carries it
    AtomicCommit.commitReplacePartitions(spark, rootA, slice(0, 30), "p")
    AtomicCommit.commitAppendPartitions(spark, rootA, slice(30, 60), "p")
    AtomicCommit.commitAppendPartitions(spark, rootA, slice(60, 90), "p")
    AtomicCommit.commitReplacePartitions(spark, rootB, slice(0, 12)
      .withColumnRenamed("k", "k2").withColumnRenamed("v", "w"), "p")
    AtomicCommit.commitAppendPartitions(spark, rootB, slice(12, 24)
      .withColumnRenamed("k", "k2").withColumnRenamed("v", "w"), "p")
    register("spj_sa", rootA); register("spj_sb", rootB)
    try {
      val join =
        """SELECT a.p, a.k, b.k2 FROM graft.spj_sa a
          |JOIN graft.spj_sb b ON a.p = b.p""".stripMargin
      val offRows = withSQLConf(
          "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        rowsOf(spark.sql(join))
      }
      val (onRows, onPlan) = withSQLConf(SpjConfs: _*) {
        val d = spark.sql(join); (rowsOf(d), executed(d))
      }
      assert(onRows === offRows)
      assert(shuffles(onPlan) === 0, s"SPJ must not shuffle\n$onPlan")
      assert(sorts(onPlan) === 0,
        s"reported [p ASC] ordering must eliminate both merge-join sorts\n$onPlan")

      // the coalesced shape: one split per surviving partition key
      withSQLConf(SpjConfs: _*) {
        val rel = new GraftRelation(spark, rootA, new PosixManifestStore(rootA), None)
        val scan = GraftBatchScan.eligibleScan(rel, rel.schema, Array.empty)
          .getOrElse(fail("clean snapshot must be eligible"))
        val splits = scan.planInputPartitions()
          .map(_.asInstanceOf[graft.sources.GraftFileSplit])
        assert(splits.length === 3, s"one split per key: ${splits.length}")
        assert(splits.forall(_.files.length === 3),
          "each key's split must carry all three generations' files")
      }

      // position deletes keep the sort-free plan: DV'd files read
      // row-wise inside their key's split, ordering claim unaffected
      Deletes.deleteWhereMoR(spark, rootA, col("k") % 7 === 0L)
      val offDv = withSQLConf(
          "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        rowsOf(spark.sql(join))
      }
      val (onDv, dvPlan) = withSQLConf(SpjConfs: _*) {
        val d = spark.sql(join); (rowsOf(d), executed(d))
      }
      assert(onDv === offDv)
      assert(shuffles(dvPlan) === 0 && sorts(dvPlan) === 0,
        s"DV-served SPJ must stay shuffle- and sort-free\n$dvPlan")

      // partially-clustered distribution deliberately keeps a key's
      // splits separate (skew spreading wins over the ordering report):
      // answers stay identical, with or without sorts
      val pcdRows = withSQLConf(SpjConfs :+
          ("spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled" -> "true"): _*) {
        rowsOf(spark.sql(join))
      }
      assert(pcdRows === offDv,
        "partially-clustered distribution must not change answers")
    } finally unregister("spj_sa", "spj_sb")
  }

  test("an equality-only rejection self-heals: planning materializes the records and the face re-qualifies") {
    val root = Files.createTempDirectory("graft_spj_am").toString
    val parts = Seq("P0", "P1", "a/b")
    val df = (0 until 30).map(i => (i.toLong, i * 1.0, parts(i % 3)))
      .toDF("k", "v", "p")
    AtomicCommit.commitReplacePartitions(spark, root, df, "p")
    register("spj_am", root)
    try {
      val q = "SELECT k, v, p FROM graft.spj_am"
      // the zero-scan takedown parks equality records; a re-insert of a
      // deleted key AFTER the delete must survive the materialization
      // (owner scoping), so the heal is semantics-preserving, not just
      // plan-preserving
      Deletes.deleteKeysMoR(spark, root, new PosixManifestStore(root),
        "k", Seq(4L, 7L))
      AtomicCommit.commitAppendPartitions(spark, root,
        Seq((4L, 444.0, "P1")).toDF("k", "v", "p"), "p")
      val expect = rowsOf(spark.sql(q)) // V1 truth, eq records in force
      val vBefore = AtomicCommit.readManifest(root).get.version

      // under the cap (default): the face read triggers ONE maintenance
      // commit and serves the healed snapshot itself
      val (got, plan) = withSQLConf(BatchOn) {
        val d = spark.sql(q); (rowsOf(d), executed(d))
      }
      assert(got === expect, "auto-materialization changed visible rows")
      assert(batchScans(plan) === 1,
        s"the healed snapshot must serve on the batch face\n$plan")
      def liveEqs(): Int = AtomicCommit.readManifest(root).get.entries.toSeq
        .flatMap { case (p, e) => AtomicCommit.dvOf(e).toSeq.flatMap(g =>
          AtomicCommit.readEqs(root, g).filter(_.partition == p)) }.size
      val m2 = AtomicCommit.readManifest(root).get
      assert(m2.version === vBefore + 1, "exactly one maintenance commit")
      assert(liveEqs() === 0, "the equality records must be resolved away")

      // steady state: the next face read qualifies directly — no
      // further commits burn
      withSQLConf(BatchOn)(spark.sql(q).collect())
      assert(AtomicCommit.readManifest(root).get.version === m2.version)

      // over the cap: the policy refuses and the read falls back to V1
      // (correct rows, no commit)
      Deletes.deleteKeysMoR(spark, root, new PosixManifestStore(root),
        "k", Seq(10L, 13L, 16L))
      val v3 = AtomicCommit.readManifest(root).get.version
      val expect2 = rowsOf(spark.sql(q))
      val (got2, plan2) = withSQLConf(BatchOn,
        GraftBatchScan.AutoMaterializeConf -> "2") {
        val d = spark.sql(q); (rowsOf(d), executed(d))
      }
      assert(got2 === expect2)
      assert(batchScans(plan2) === 0,
        s"an over-budget record set must keep the V1 fallback\n$plan2")
      assert(AtomicCommit.readManifest(root).get.version === v3,
        "a refused policy must not commit")

      // byte-denominated refusal: even a tiny record set refuses when
      // the marked partitions' live footprint exceeds the byte cap —
      // "resolve during planning" must never mean "scan the table
      // during planning"
      val (gotB, planB) = withSQLConf(BatchOn,
        GraftBatchScan.AutoMaterializeBytesConf -> "1") {
        val d = spark.sql(q); (rowsOf(d), executed(d))
      }
      assert(gotB === expect2)
      assert(batchScans(planB) === 0,
        s"an over-footprint resolution must keep the V1 fallback\n$planB")
      assert(AtomicCommit.readManifest(root).get.version === v3,
        "a byte-refused policy must not commit")

      // a pinned time-travel read never triggers the policy (healing an
      // old view would commit on the current table): V1 fallback, and
      // the version stays put
      val pinnedRows = withSQLConf(BatchOn) {
        rowsOf(spark.read.format("graft").option("path", root)
          .option("versionAsOf", v3.toString).load()
          .selectExpr("k", "v", "p"))
      }
      assert(pinnedRows === expect2)
      assert(AtomicCommit.readManifest(root).get.version === v3,
        "a pinned read must not auto-materialize")

      // a snapshot the heal could never re-qualify (non-uniform footer
      // schemas) must not burn a maintenance commit: append a wider
      // footer, then a face read refuses BOTH the face and the heal
      val rootF = Files.createTempDirectory("graft_spj_amf").toString
      AtomicCommit.commitReplacePartitions(spark, rootF,
        Seq((1L, "A"), (2L, "B")).toDF("k", "p"), "p")
      AtomicCommit.commitAppendPartitions(spark, rootF,
        Seq((3L, 1.5, "A")).toDF("k", "extra", "p"), "p")
      Deletes.deleteKeysMoR(spark, rootF, new PosixManifestStore(rootF),
        "k", Seq(1L))
      register("spj_amf", rootF)
      val vF = AtomicCommit.readManifest(rootF).get.version
      val qF = "SELECT k, p FROM graft.spj_amf"
      val expectF = rowsOf(spark.sql(qF))
      val (gotF, planF) = withSQLConf(BatchOn) {
        val d = spark.sql(qF); (rowsOf(d), executed(d))
      }
      assert(gotF === expectF)
      assert(batchScans(planF) === 0, s"mixed footers stay on V1\n$planF")
      assert(AtomicCommit.readManifest(rootF).get.version === vF,
        "a heal that cannot re-qualify the face must not commit")
      unregister("spj_amf")

      // raising the cap heals the second batch too, and the SPJ join
      // rides the healed face shuffle-free
      val rootD = Files.createTempDirectory("graft_spj_amd").toString
      AtomicCommit.commitReplacePartitions(spark, rootD,
        parts.map(p => (p, s"dim-$p")).toDF("p", "name").select($"name", $"p"),
        "p")
      register("spj_am_dim", rootD)
      val join =
        """SELECT a.k, b.name FROM graft.spj_am a
          |JOIN graft.spj_am_dim b ON a.p = b.p""".stripMargin
      val offJ = rowsOf(spark.sql(join))
      val (onJ, planJ) = withSQLConf(SpjConfs: _*) {
        val d = spark.sql(join); (rowsOf(d), executed(d))
      }
      assert(onJ === offJ)
      assert(shuffles(planJ) === 0,
        s"the healed face must keep the shuffle-free join\n$planJ")
      assert(liveEqs() === 0)
      unregister("spj_am_dim")
    } finally unregister("spj_am")
  }

  test("runtime filtering preserves the ordering claim: pruned coalesced splits stay one-per-key, name-ordered, DV evidence intact") {
    val root = Files.createTempDirectory("graft_spj_rfo").toString
    val parts = Seq("P0", "P1", "a/b")
    // wide enough that the FACT never broadcasts under the 50 KB
    // threshold below (a broadcast fact would become the build side and
    // the join would discard its reported ordering)
    AtomicCommit.commitReplacePartitions(spark, root,
      (0 until 42000).map(i =>
        (i.toLong, i * 7L, s"pay-$i-${"x" * 24}", parts(i % 3)))
        .toDF("k", "v", "payload", "p"),
      "p")
    // sort provenance (2 files/dir → multi-file coalesced splits), then
    // a scattered MoR delete so the DV-served leg is exercised too
    Compaction.recluster(spark, root, Seq("v"), filesPerDir = 2)
    Deletes.deleteWhereMoR(spark, root, col("k") % 11 === 0L)
    withSQLConf(SpjConfs: _*) {
      val rel = new GraftRelation(spark, root, new PosixManifestStore(root), None)
      val scan = GraftBatchScan.eligibleScan(rel, rel.schema, Array.empty)
        .getOrElse(fail("bitmap evidence must keep the face"))
      val claim = scan.outputOrdering()
      assert(claim.length === 2, s"expected [p, v] claim: ${claim.mkString(",")}")
      val before = scan.planInputPartitions()
        .map(_.asInstanceOf[graft.sources.GraftFileSplit])
      assert(before.length === 3 && before.forall(_.files.length >= 2),
        "multi-file coalesced splits expected")
      assert(before.exists(_.files.exists(_.dv.isDefined)),
        "the delete must have marked some file")

      // a runtime partition filter arrives (the DPP delivery shape):
      // the re-planned splits are a SUBSET — still one per surviving
      // key, files still in name order (the order the claim was
      // verified in), marked files still carrying their bitmaps — so
      // the construction-time ordering claim stays sound through
      // execution-time pruning
      scan.filter(Array[org.apache.spark.sql.sources.Filter](
        org.apache.spark.sql.sources.In("p", Array("P0", "a/b"))))
      val after = scan.planInputPartitions()
        .map(_.asInstanceOf[graft.sources.GraftFileSplit])
      assert(after.length === 2, s"2 surviving keys: ${after.length}")
      val beforeByKey = before.map(s => s.key.toString -> s).toMap
      after.foreach { s =>
        assert(s.files.map(_.path) === s.files.map(_.path).sortBy(
          p => p.substring(p.lastIndexOf('/') + 1)),
          "coalesced files must stay in file-name order")
        val orig = beforeByKey(s.key.toString)
        assert(s.files.map(_.path).toSet.subsetOf(orig.files.map(_.path).toSet),
          "runtime pruning may only remove files")
        s.files.foreach(f => assert(
          f.dv.isDefined === orig.files.find(_.path == f.path).get.dv.isDefined,
          "delete evidence must survive the re-plan"))
      }
      assert(scan.outputOrdering().map(_.toString).toSeq ===
        claim.map(_.toString).toSeq,
        "the ordering claim must be unchanged by runtime filters")
    }

    // end-to-end: a DPP-pruned scan still serves the window SORT-FREE —
    // the broadcast join preserves the streamed side's reported order,
    // and runtime pruning only shrank per-key file lists
    val dimPath = Files.createTempDirectory("graft_spj_rfod").toString + "/dim"
    parts.map(p => (p, if (p == "P0" || p == "a/b") 1 else 0))
      .toDF("p2", "sel").write.parquet(dimPath)
    spark.read.parquet(dimPath).createOrReplaceTempView("spj_rfo_dim")
    register("spj_rfo", root)
    try {
      val q =
        """SELECT f.k, f.v, f.p, row_number()
          |  OVER (PARTITION BY f.p ORDER BY f.v) AS rn
          |FROM graft.spj_rfo f JOIN spj_rfo_dim d ON f.p = d.p2
          |WHERE d.sel = 1""".stripMargin
      val expectRows = rowsOf(spark.sql(q))
      val (got, plan) = withSQLConf(SpjConfs ++ Seq(
        "spark.graft.runtimeFilter.enabled" -> "false",
        "spark.sql.autoBroadcastJoinThreshold" -> "51200",
        "spark.sql.optimizer.dynamicPartitionPruning.useStats" -> "false"): _*) {
        GraftScanProbe.reset(root)
        val d = spark.sql(q); (rowsOf(d), executed(d))
      }
      assert(got === expectRows, "DPP-pruned windowed read diverged")
      assert(sorts(plan) === 0,
        s"the ordering claim must survive DPP file pruning\n$plan")
      assert(GraftScanProbe.entriesSeen(root).last === 2,
        s"DPP must have pruned the executed scan: " +
          s"${GraftScanProbe.entriesSeen(root)}")
    } finally unregister("spj_rfo")
  }

  test("recluster's proven sort order eliminates the window sort on the batch face") {
    val root = Files.createTempDirectory("graft_spj_so").toString
    val parts = Seq("P0", "P1", "a/b")
    // v unique per partition so window ranks are deterministic
    def slice(lo: Int, hi: Int) = (lo until hi)
      .map(i => (i.toLong, i * 10L + i % 3, parts(i % 3))).toDF("k", "v", "p")
    AtomicCommit.commitReplacePartitions(spark, root, slice(0, 30), "p")
    AtomicCommit.commitAppendPartitions(spark, root, slice(30, 60), "p")
    register("spj_so", root)
    try {
      val win =
        """SELECT k, v, p, row_number()
          |  OVER (PARTITION BY p ORDER BY v) AS rn
          |FROM graft.spj_so""".stripMargin
      val expected = rowsOf(spark.sql(win))

      // pre-recluster: no provenance, the window must sort
      val (pre, prePlan) = withSQLConf(SpjConfs: _*) {
        val d = spark.sql(win); (rowsOf(d), executed(d))
      }
      assert(pre === expected)
      assert(sorts(prePlan) > 0,
        s"no sort-order provenance yet — the window needs its sort\n$prePlan")

      // recluster on v (2 files/dir → the cross-file evidence path)
      Compaction.recluster(spark, root, Seq("v"), filesPerDir = 2)
      val (post, postPlan) = withSQLConf(SpjConfs: _*) {
        val d = spark.sql(win); (rowsOf(d), executed(d))
      }
      assert(post === rowsOf(spark.sql(win)), "parity after recluster")
      assert(shuffles(postPlan) === 0,
        s"partition-keyed window must not exchange\n$postPlan")
      assert(sorts(postPlan) === 0,
        s"recluster's [v ASC] provenance must eliminate the window sort\n$postPlan")

      // an append to ONE partition retires the claim for scans that
      // read it: answers identical, the sort honestly comes back
      AtomicCommit.commitAppendPartitions(spark, root,
        Seq((100L, 999L, "P0")).toDF("k", "v", "p"), "p")
      val fresh = rowsOf(spark.sql(win))
      val (stale, stalePlan) = withSQLConf(SpjConfs: _*) {
        val d = spark.sql(win); (rowsOf(d), executed(d))
      }
      assert(stale === fresh)
      assert(sorts(stalePlan) > 0,
        s"a post-recluster append must retire the ordering claim\n$stalePlan")

      // ...but the claim is gated on the PRUNED entry set: a filtered
      // scan of a partition the append never touched keeps its
      // sort-free plan (the hot/cold shape of any long-lived table)
      val winCold = win.replace("FROM graft.spj_so",
        "FROM graft.spj_so WHERE p = 'P1'")
      val expCold = rowsOf(spark.sql(winCold))
      val (cold, coldPlan) = withSQLConf(SpjConfs: _*) {
        val d = spark.sql(winCold); (rowsOf(d), executed(d))
      }
      assert(cold === expCold)
      assert(sorts(coldPlan) === 0 && shuffles(coldPlan) === 0,
        s"a cold-partition scan must keep the sort-free plan\n$coldPlan")

      // nulls in the sort column gate the claim out (NULLS FIRST could
      // not hold across a file seam): parity, sort present
      val rootN = Files.createTempDirectory("graft_spj_son").toString
      val withNulls = (0 until 24).map { i =>
        (i.toLong, if (i % 7 == 0) None else Some(i * 5L), parts(i % 3))
      }.toDF("k", "v", "p")
      AtomicCommit.commitReplacePartitions(spark, rootN, withNulls, "p")
      Compaction.recluster(spark, rootN, Seq("v"), filesPerDir = 2)
      register("spj_son", rootN)
      val winN = win.replace("spj_so", "spj_son")
      val expN = rowsOf(spark.sql(winN))
      val (gotN, planN) = withSQLConf(SpjConfs: _*) {
        val d = spark.sql(winN); (rowsOf(d), executed(d))
      }
      assert(gotN === expN)
      assert(sorts(planN) > 0,
        s"nullable sort evidence must not claim NULLS FIRST\n$planN")
      unregister("spj_son")
    } finally unregister("spj_so")
  }

  test("a failed heal degrades to V1 loudly once: cached per snapshot, no version burned, retried only on a new commit") {
    val root = Files.createTempDirectory("graft_spj_hfail").toString
    val df = (0 until 12).map(i => (i.toLong, i * 1.0, s"P${i % 2}"))
      .toDF("k", "v", "p")
    AtomicCommit.commitReplacePartitions(spark, root, df, "p")
    Deletes.deleteKeysMoR(spark, root, new PosixManifestStore(root),
      "k", Seq(3L, 8L))
    val v1 = AtomicCommit.readManifest(root).get.version
    val expect = rowsOf(spark.read.format("graft").option("path", root)
      .load().selectExpr("k", "v", "p"))

    // a store whose PUBLISH fails (read-only backend): the heal's
    // maintenance commit dies at putIfAbsent, reads keep working
    val attempts = new java.util.concurrent.atomic.AtomicInteger
    val failing = new graft.sources.ManifestStore {
      private val inner = new PosixManifestStore(root)
      override def putIfAbsent(name: String, body: Array[Byte]): Boolean = {
        attempts.incrementAndGet()
        throw new RuntimeException("manifest store is read-only")
      }
      override def get(name: String): Option[Array[Byte]] = inner.get(name)
      override def list(): Seq[String] = inner.list()
      override def delete(name: String): Unit = inner.delete(name)
    }
    val rel = new GraftRelation(spark, root, failing, None)
    val tbl = new graft.sources.GraftTable("graft.spj_hfail", rel)
    def faceRead() = withSQLConf(BatchOn) {
      val d = org.apache.spark.sql.classic.GraftBridge.ofRows(spark,
        org.apache.spark.sql.execution.datasources.v2
          .DataSourceV2Relation.create(tbl, None, None))
        .selectExpr("k", "v", "p")
      (rowsOf(d), executed(d))
    }

    // first read: the heal ATTEMPTS (reaches the store), fails, and the
    // query still answers correctly on the V1 fallback with the version
    // unburned and the failure recorded per snapshot
    val (got1, plan1) = faceRead()
    assert(got1 === expect, "a failed heal must not change visible rows")
    assert(batchScans(plan1) === 0,
      s"an unhealed equality snapshot stays on V1\n$plan1")
    assert(attempts.get === 1, "the heal must reach the store exactly once")
    assert(AtomicCommit.readManifest(root).get.version === v1,
      "a failed heal must not burn a version")
    assert(GraftBatchScan.healFailure(root, v1).isDefined,
      "the failure must be recorded for this snapshot")

    // second read of the SAME snapshot: the cached failure suppresses
    // the retry — a persistently failing heal is one attempt per
    // snapshot, not a per-query planning tax
    val (got2, _) = faceRead()
    assert(got2 === expect)
    assert(attempts.get === 1,
      "a cached heal failure must not re-run the materialization job")

    // a NEW commit changes the snapshot version: the policy naturally
    // retries once against the new snapshot (and fails again here)
    AtomicCommit.commitAppendPartitions(spark, root,
      Seq((100L, 1.0, "P0")).toDF("k", "v", "p"), "p")
    val v2 = AtomicCommit.readManifest(root).get.version
    assert(v2 === v1 + 1)
    val expect2 = rowsOf(spark.read.format("graft").option("path", root)
      .load().selectExpr("k", "v", "p"))
    val (got3, _) = faceRead()
    assert(got3 === expect2)
    assert(attempts.get === 2, "a new snapshot version must retry the heal")

    // through a WORKING store the heal lands, and the commit is
    // OBSERVABLE: DESCRIBE HISTORY classifies exactly that version as
    // kind "heal", DESCRIBE DETAIL reports it as last_heal_version next
    // to the session's policy caps. (The failure cache keys on the
    // snapshot VERSION — advance it first, since v2's failure above is
    // rightly remembered regardless of which store instance reads it.)
    AtomicCommit.commitAppendPartitions(spark, root,
      Seq((200L, 3.0, "P1")).toDF("k", "v", "p"), "p")
    val v2b = AtomicCommit.readManifest(root).get.version
    val expect2b = rowsOf(spark.read.format("graft").option("path", root)
      .load().selectExpr("k", "v", "p"))
    register("spj_hfail", root)
    try {
      val (got4, plan4) = withSQLConf(BatchOn) {
        val d = spark.sql("SELECT k, v, p FROM graft.spj_hfail")
        (rowsOf(d), executed(d))
      }
      assert(got4 === expect2b)
      assert(batchScans(plan4) === 1,
        s"the healed snapshot must serve on the batch face\n$plan4")
      val v3 = AtomicCommit.readManifest(root).get.version
      assert(v3 === v2b + 1, "exactly one maintenance commit")
      val hist = AtomicCommit.history(root)
      assert(hist.find(_.version == v3).map(_.kind) === Some("heal"),
        s"the read-triggered commit must classify as a heal: $hist")
      assert(hist.count(_.kind == "heal") === 1,
        "carried props must not re-classify later versions")
      val detail = withSQLConf(BatchOn) {
        spark.sql("DESCRIBE DETAIL graft.spj_hfail").collect().head
      }
      assert(detail.getAs[Long]("last_heal_version") === v3)
      assert(detail.getAs[String]("auto_materialize")
        .startsWith("maxRecords="),
        "the session policy caps must print when the face is on")
      val detailOff = spark.sql("DESCRIBE DETAIL graft.spj_hfail")
        .collect().head
      assert(detailOff.getAs[String]("auto_materialize") === "off",
        "a session without the face opt-in cannot heal — policy is off")
      // an append on top of the heal classifies as itself, and the
      // carried marker still names the heal version
      AtomicCommit.commitAppendPartitions(spark, root,
        Seq((101L, 2.0, "P1")).toDF("k", "v", "p"), "p")
      val hist2 = AtomicCommit.history(root)
      assert(hist2.find(_.version == v3 + 1).map(_.kind) === Some("append"))
      val detail2 = spark.sql("DESCRIBE DETAIL graft.spj_hfail")
        .collect().head
      assert(detail2.getAs[Long]("last_heal_version") === v3)
    } finally unregister("spj_hfail")
  }

  test("the heal-failure cache evicts one eldest entry past its cap — never wholesale — and access keeps a snapshot resident") {
    // the memo type GraftBatchScan.healFailures is built on, at a small
    // cap: crossing it must evict exactly the least-recently-USED entry,
    // so the one-attempt-per-snapshot discipline holds across the cap
    // (a wholesale clear would permit a retry storm of every previously
    // failed heal at planning time)
    val c = new Memo[(String, Long), String](capacity = 3)
    c.put(("r", 1L), "e1"); c.put(("r", 2L), "e2"); c.put(("r", 3L), "e3")
    // touch v1: it becomes most-recently-used
    assert(c.get(("r", 1L)) === Some("e1"))
    c.put(("r", 4L), "e4") // crosses the cap: evicts v2 (LRU), ONLY v2
    assert(c.size === 3, "the cap must hold")
    assert(c.get(("r", 2L)).isEmpty, "the least-recently-used entry evicts")
    assert(c.get(("r", 1L)) === Some("e1"),
      "an accessed snapshot survives the cap crossing")
    assert(c.get(("r", 3L)) === Some("e3") && c.get(("r", 4L)) === Some("e4"),
      "eviction is one entry, not a clear()")
  }

  test("SPJ under skew: a zipfian hot key keeps parity in coalesced mode AND under partially-clustered distribution, shuffle-free in both") {
    val rootF = Files.createTempDirectory("graft_spj_skew_f").toString
    val rootD = Files.createTempDirectory("graft_spj_skew_d").toString
    // ~90% of the fact under ONE key, written from several tasks so the
    // hot partition holds multiple files (the shape coalescing folds
    // into one giant split and PCD deliberately keeps apart)
    val fact = spark.range(16000).select(
      when($"id" % 10 < 9, "HOT").otherwise(concat(lit("t"), $"id" % 7))
        .as("p"),
      $"id".as("k"), ($"id" * 1.0).as("v"))
    AtomicCommit.commitReplacePartitions(spark, rootF, fact, "p")
    // append a second hot batch: the HOT entry now owns TWO
    // generations, guaranteeing multiple files for the key — the shape
    // coalescing folds into one giant split and PCD keeps apart
    AtomicCommit.commitAppendPartitions(spark, rootF,
      spark.range(16000, 20000).select(lit("HOT").as("p"),
        $"id".as("k"), ($"id" * 1.0).as("v")), "p")
    val hotOwners = AtomicCommit.ownersOf(
      AtomicCommit.readManifest(rootF).get.entries("HOT"))
    assert(hotOwners.size === 2, "the hot key must span several files")
    AtomicCommit.commitReplacePartitions(spark, rootD,
      ("HOT" +: (0 until 7).map(i => s"t$i")).map(p => (p, s"dim-$p"))
        .toDF("p", "name"), "p")
    register("spj_skew_f", rootF)
    register("spj_skew_d", rootD)
    try {
      // a plain join, not a join+groupBy: PCD's whole point is letting
      // one key span several output partitions, so only the JOIN is
      // exchange-free — a downstream key-grouped agg would rightly
      // re-shuffle there
      val join =
        """SELECT f.k, f.v, d.name
          |FROM graft.spj_skew_f f JOIN graft.spj_skew_d d ON f.p = d.p
          |""".stripMargin
      val off = rowsOf(spark.sql(join))

      // coalesced SPJ: the hot key serializes into one task — correct,
      // shuffle-free, the skew cost is wall-clock only (TableBench's
      // skew A/B prices it)
      val (co, coPlan) = withSQLConf(SpjConfs: _*) {
        val d = spark.sql(join); (rowsOf(d), executed(d))
      }
      assert(co === off, "coalesced SPJ changed answers under skew")
      assert(shuffles(coPlan) === 0,
        s"coalesced SPJ must stay shuffle-free\n$coPlan")
      assert(batchScans(coPlan) === 2,
        s"both sides must serve on the face\n$coPlan")

      // partially-clustered distribution: Spark keeps the hot key's
      // splits separate to spread them over tasks; coalescePerKey
      // yields (no stale one-split-per-key shape, no wrong ordering
      // claim) and the join still plans without an exchange
      val pcd = SpjConfs :+
        ("spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled"
          -> "true")
      val (sk, skPlan) = withSQLConf(pcd: _*) {
        val d = spark.sql(join); (rowsOf(d), executed(d))
      }
      assert(sk === off,
        "partially-clustered distribution changed answers under skew")
      assert(shuffles(skPlan) === 0,
        s"PCD is still storage-partitioned — no exchange\n$skPlan")
      assert(batchScans(skPlan) === 2,
        s"PCD must not gate the face out\n$skPlan")
    } finally unregister("spj_skew_f", "spj_skew_d")
  }

  test("pinned snapshots serve on the batch face: a VERSION AS OF read on a qualifying snapshot joins and aggregates exchange-free") {
    val rootA = Files.createTempDirectory("graft_spj_pin_a").toString
    val rootB = Files.createTempDirectory("graft_spj_pin_b").toString
    val parts = Seq("P0", "P1", "P2")
    AtomicCommit.commitReplacePartitions(spark, rootA,
      (0 until 30).map(i => (i.toLong, i * 1.0, parts(i % 3)))
        .toDF("k", "v", "p"), "p")
    AtomicCommit.commitReplacePartitions(spark, rootB,
      parts.map(p => (s"dim-$p", p)).toDF("name", "p"), "p")
    // advance BOTH tables past the pinned version: the historical
    // reprocessing case reads an OLD snapshot while the head moved on
    AtomicCommit.commitAppendPartitions(spark, rootA,
      Seq((999L, 9.9, "P0")).toDF("k", "v", "p"), "p")
    AtomicCommit.commitAppendPartitions(spark, rootB,
      Seq(("late", "P1")).toDF("name", "p"), "p")
    register("spj_pin_a", rootA)
    register("spj_pin_b", rootB)
    try {
      // the pinned AGGREGATE: groupBy on the partition column plans
      // with no exchange below the aggregate
      val agg = "SELECT p, count(*) AS c, sum(v) AS s " +
        "FROM graft.spj_pin_a VERSION AS OF 1 GROUP BY p"
      val expAgg = rowsOf(spark.sql(agg))
      val (gotAgg, planAgg) = withSQLConf(SpjConfs: _*) {
        val d = spark.sql(agg); (rowsOf(d), executed(d))
      }
      assert(gotAgg === expAgg)
      assert(batchScans(planAgg) === 1,
        s"a qualifying pinned snapshot must serve on the face\n$planAgg")
      assert(shuffles(planAgg) === 0,
        s"the pinned aggregate must plan exchange-free\n$planAgg")

      // the pinned JOIN: both sides pinned to their version-1 snapshots,
      // co-partitioned on p — zero shuffles, and the answer is the OLD
      // data (the appends above must not leak into the pinned read)
      val join =
        """SELECT a.k, b.name FROM graft.spj_pin_a VERSION AS OF 1 a
          |JOIN graft.spj_pin_b VERSION AS OF 1 b ON a.p = b.p""".stripMargin
      val expJoin = rowsOf(spark.sql(join))
      assert(!expJoin.exists(_.contains("999")),
        "the pinned read must not see rows appended after the pin")
      val (gotJoin, planJoin) = withSQLConf(SpjConfs: _*) {
        val d = spark.sql(join); (rowsOf(d), executed(d))
      }
      assert(gotJoin === expJoin)
      assert(shuffles(planJoin) === 0,
        s"pinned co-partitioned reads must join shuffle-free\n$planJoin")
    } finally unregister("spj_pin_a", "spj_pin_b")
  }
}
