package graft.sources

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder => V2SortOrder}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, HasPartitionKey, PartitionReader, PartitionReaderFactory, Scan, SupportsReportOrdering, SupportsReportStatistics, SupportsRuntimeFiltering}
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.vectorized.ColumnarBatch
import org.apache.spark.unsafe.types.UTF8String

/** The STORAGE-PARTITIONED batch face of a graft catalog read: a native
  * DSv2 `Batch` whose input splits carry their partition key
  * ([[HasPartitionKey]]) and whose [[Scan]] reports
  * [[KeyGroupedPartitioning]] over the table's partition column — so
  * under `spark.sql.sources.v2.bucketing.enabled` a join or aggregation
  * keyed on that column plans with ZERO shuffle exchanges (Spark groups
  * the file splits by key and co-schedules matching keys). At 100 TB
  * that turns the recurring fact-to-fact join of two co-partitioned
  * tables from the dominant shuffle into a per-key local join: the read
  * ratio IS the whole cost, because neither side ever re-materializes.
  *
  * The V1 bridge scan ([[GraftV1Scan]]) cannot carry this — Spark plans
  * a `V1ScanWrapper` as a `RowDataSourceScanExec` with unknown output
  * partitioning — so this face exists alongside it, OPT-IN
  * (`spark.graft.batchScan.enabled`) and only when the composition the
  * face serves is provably equal to the V1 one ([[AtomicCommit
  * .scanManifest]]): no rename/drop/widen mapping state, no pending
  * ALTER-added backfill columns, one footer schema shared by every
  * owner generation, and delete evidence — when any exists — entirely
  * POSITION-BITMAP-shaped ([[GraftBatchScan.eligibleScan]]).
  * Merge-on-read position deletes ride the face natively: each file
  * split carries its own compressed bitmap ([[DvBitmap.Bitmap]],
  * bounded 8 KiB per 65K rows) and the reader drops marked positions
  * while counting rows sequentially — so one scattered takedown no
  * longer forfeits the shuffle-free join on a 100 TB table. Equality
  * records and pre-sidecar legacy vectors fall back to the V1 path,
  * which is always correct — the same gate philosophy as the
  * metadata-answered aggregates. The steady-state maintained table
  * (compaction folds owner lists, rewrites heal mapping state and
  * deletes) qualifies, which is exactly the 100 TB shape the join
  * matters for.
  *
  * Pruning parity: splits come from [[GraftRelation
  * .partitionFileLayout]] — the same manifest-entry pruning and
  * file-granular sidecar evidence as the V1 path, probe-recorded
  * identically. Parquet row-group skipping gets the pushed DATA filters
  * through the reader. Runtime filters arrive through the standard
  * [[SupportsRuntimeFiltering]] face — on this native scan Spark's OWN
  * dynamic-partition-pruning delivery works (no AQE bridge needed, the
  * `V1ScanWrapper` limitation does not exist here).
  */
final class GraftBatchScan private[graft] (
    relation: GraftRelation,
    dataSchema: StructType,
    private[graft] val required: StructType,
    private[graft] val pushed: Array[Filter],
    dvBitmaps: Map[String, Map[(UTF8String, UTF8String), DvBitmap.Bitmap]] =
      Map.empty) extends Scan with Batch
  with SupportsReportStatistics with SupportsRuntimeFiltering
  with SupportsReportOrdering
  with org.apache.spark.sql.connector.read.SupportsReportPartitioning {

  @volatile private[graft] var runtime: Array[Filter] = Array.empty
  private def effective: Array[Filter] = pushed ++ runtime

  private val pc: String = relation.partitionColOpt.getOrElse(
    sys.error(s"graft batch scan needs a committed table at ${relation.root}"))
  private val pcRequired: Boolean = required.fieldNames.contains(pc)
  // required DATA columns in the reader's (footer) types — the gate
  // proved them identical to the logical schema's
  private val requiredData: StructType = StructType(
    required.fields.filterNot(_.name == pc)
      .map(f => dataSchema.find(_.name == f.name).getOrElse(f)))

  /** The TRANSFORM face: when the table is hidden-partitioned
    * ([[HiddenPartitioning]] — `bucket(n, k)`, `days(ts)`, `hours(ts)`,
    * `months(ts)`, `truncate(w, s)`) and the SOURCE column is in the
    * projection, the scan reports its key grouping as the TRANSFORM
    * over the source — not identity over the derived dir column — so a
    * join written `ON f.k = g.k` (or `ON f.ts = g.ts` for two tables
    * co-partitioned by the same time transform) plans shuffle-free:
    * Spark resolves the transform through the catalog's FunctionCatalog
    * face ([[GraftBucketFunction]], [[GraftDaysFunction]], …) and
    * proves both sides co-partitioned via the bound canonical names.
    * Guarded to layouts whose every entry value is SHAPED like the
    * transform's rendering (bucket ordinals parse as ints, day dirs as
    * `yyyy-MM-dd`, truncate dirs within the width; time layouts may
    * also hold the null-sentinel dir — a null source derives a null
    * partition) — the write path's invariant; a hand-written layout
    * that violates it falls back to the identity report, never to a
    * wrong grouping.
    *
    * The IDENTITY face wins whenever the derived partition column
    * itself is projected: a query that touches `ts_day`/`k_bucket`
    * explicitly (day-grain rollup joins, `PARTITION BY ts_day` windows)
    * keeps the identity grouping and `[pc ASC]` ordering it always had —
    * the transform report serves exactly the queries where the derived
    * column never appears, which is the hidden-partitioning contract.
    */
  private val transformFace: Option[HiddenPartitioning.Spec] =
    if (pcRequired) None
    else relation.snapshotOpt().flatMap { m =>
      HiddenPartitioning.specOf(m)
        .filter(spec => requiredData.fieldNames.contains(spec.source) &&
          m.entries.keys.forall(pv =>
            GraftBatchScan.entryShapedLike(spec, pv)))
    }
  private def isBucketFace: Boolean =
    transformFace.exists(_.isInstanceOf[HiddenPartitioning.Bucket])

  /** Rows come out data-columns-first, partition column appended (the
    * `FileFormat` layout); Spark projects back to the asked order above
    * the scan.
    */
  override def readSchema(): StructType = StructType(
    requiredData.fields ++
      (if (pcRequired) Array(StructField(pc, StringType)) else Array.empty[StructField]))

  override def toBatch: Batch = this

  override def description(): String = {
    // surface the ordering claim in .explain: "ordered=[p,v]" is how a
    // user confirms the sort-free plan engaged (and why a sort came
    // back after an append retired the claim)
    val ordered =
      if (transformFace.isDefined && sortedCols.nonEmpty)
        s" ordered=[${sortedCols.mkString(",")}]"
      else if (transformFace.isEmpty && pcRequired)
        s" ordered=[${(pc +: sortedCols).mkString(",")}]"
      else ""
    s"GraftBatchScan ${relation.root} " +
      s"[${readSchema().fieldNames.mkString(",")}]$ordered"
  }

  /** One split per surviving data FILE, keyed by its partition value —
    * file-granular parallelism when no key grouping is asked for, and
    * Spark's `groupPartitions` folds splits per key when storage-
    * partitioned planning is on. Keys are the DECODED partition values
    * (dir escapes undone, the null sentinel as null), matching row
    * values exactly. A file whose (partition, file) the snapshot's
    * deletion bitmaps mark carries ITS OWN bitmap on the split — the
    * evidence ships per file, never the whole map per task.
    *
    * Under the identity SPJ handshake ([[coalescePerKey]]) a
    * partition's files COALESCE into one multi-file split: Spark's
    * grouped execution already co-schedules them into one task, so the
    * shape changes nothing about work placement — but it is what lets
    * the reported per-partition ordering ([[outputOrdering]]) survive
    * `DataSourceV2ScanExecBase.outputOrdering`'s conservative
    * `parts.length <= 1` check, which is the difference between a
    * sort-free merge join and two full sorts of the fact.
    */
  override def planInputPartitions(): Array[InputPartition] = synchronized {
    // memoized per (effective-filter, coalesce-decision) state: Spark
    // plans the partitions, the reader factory re-asks to detect delete
    // evidence, and runtime filtering re-plans — each distinct state
    // walks the layout (and fires its scan-probe observability) exactly
    // ONCE. The coalesce decision rides the key because it reads
    // session confs (v2 bucketing / partially-clustered) that can flip
    // between plannings of one long-lived scan; synchronized so
    // concurrent planners can't double-compute (and double-fire the
    // probe's "exactly once" record).
    val key = (effective.toSeq, coalescePerKey)
    val cur = plannedFor
    if (cur != null && cur._1 == key) cur._2
    else {
      val computed = planPartitions()
      plannedFor = (key, computed)
      computed
    }
  }
  private var plannedFor: ((Seq[Filter], Boolean), Array[InputPartition]) = null

  private def planPartitions(): Array[InputPartition] = {
    val coalesce = coalescePerKey
    relation.partitionFileLayout(effective).flatMap { case (pv, files) =>
      val decoded: String =
        if (pv == GraftRelation.NullPartitionName) null
        else ExternalCatalogUtils.unescapePathName(pv)
      // the key row must match the REPORTED partitioning's type: the
      // bucket ordinal (int) on the bucket face, the decoded rendering
      // (string, the sentinel as null) on the time/truncate faces and
      // the identity face
      val key: InternalRow =
        if (isBucketFace) new GenericInternalRow(Array[Any](pv.toInt))
        else new GenericInternalRow(Array[Any](
          if (decoded == null) null else UTF8String.fromString(decoded)))
      // bitmap keys are the DECODED value, the null partition as the
      // sentinel — the readSidecars keying ([[DvBitmap.readSidecars]])
      val probe = UTF8String.fromString(
        if (decoded == null) GraftRelation.NullPartitionName else decoded)
      val slices = files.map { case (path, len) =>
        val rel = path.stripPrefix(s"${relation.root}/")
        val gen = rel.takeWhile(_ != '/')
        val fileName = path.substring(path.lastIndexOf('/') + 1)
        val dv = dvBitmaps.get(gen)
          .flatMap(_.get((probe, UTF8String.fromString(fileName))))
        GraftFileSlice(path, len, dv)
      }
      // coalesced slices read in FILE-NAME order — Spark's part-file
      // names encode the writing task, so name order IS range order for
      // a recluster generation, and it is the order the sort-order
      // evidence was verified in ([[GraftBatchScan.provenSortOrder]]);
      // for same-key files the read order is otherwise free, so the
      // canonicalization costs nothing when no ordering is claimed
      if (coalesce)
        Seq(GraftFileSplit(key,
          slices.sortBy(s => s.path.substring(s.path.lastIndexOf('/') + 1)))
          : InputPartition)
      else slices.map(s => GraftFileSplit(key, Seq(s)): InputPartition)
    }.toArray
  }

  /** Whether to emit ONE split per partition key. True exactly when
    * Spark will group this scan's splits per key anyway — under the
    * v2-bucketing handshake — AND the coalescing buys an ordering
    * report: always on the identity face (`[pc ASC]` holds trivially
    * per key group), on the bucket face only when recluster provenance
    * proves a source-key order ([[sortedCols]] — otherwise coalescing
    * buys nothing and the file-parallel shape stays). Coalescing costs
    * no parallelism either way (grouped execution is one task per key).
    * Partially-clustered distribution is the exception: there Spark
    * deliberately keeps a skewed partition's splits separate so it can
    * spread them over several tasks, and coalescing would defeat that —
    * so skew mode wins and the ordering (moot under replication anyway)
    * is forfeited.
    */
  private def coalescePerKey: Boolean = {
    // SQLConf accessors, NOT getConfString with a hardcoded default:
    // v2.bucketing.enabled defaults TRUE in this Spark, so a raw read
    // with "false" as the fallback would silently disable coalescing —
    // and the ordering report with it — in every default session
    val c = relation.session.sessionState.conf
    val handshake = c.v2BucketingEnabled &&
      !c.v2BucketingPartiallyClusteredDistributionEnabled
    if (transformFace.isDefined) handshake && sortedCols.nonEmpty
    else pcRequired && handshake
  }

  /** Per-partition ordering on the identity face: within one key group
    * every row carries the SAME partition value, so `[pc ASC]` holds
    * trivially over any concatenation of the group's files — no file
    * was ever sorted to earn it. Spark converts this to the catalyst
    * ordering on the scan output and `EnsureRequirements` then skips
    * the two per-side sorts a storage-partitioned SortMergeJoin would
    * otherwise insert — at 100 TB those sorts are the join's dominant
    * memory cost (sort + spill of the whole fact per query, for rows
    * that are already grouped). Spark drops the claim itself whenever a
    * key group holds >1 split (`parts.length <= 1` check), which is
    * why [[coalescePerKey]] folds a partition's files into one split
    * under the SPJ handshake. The bucket face reports nothing: rows
    * within a bucket are NOT ordered by the source key, and an
    * ordering on the bucket ordinal satisfies no join requirement.
    *
    * DATA columns extend the claim when [[Compaction.recluster]]'s
    * provenance survives and the sidecar evidence verifies
    * ([[GraftBatchScan.provenSortOrder]]): `[pc ASC, c ASC, ...]` then
    * eliminates the sort under `PARTITION BY pc ORDER BY c` windows and
    * compound-key merge joins — the recluster bought that order with
    * one range shuffle at maintenance time; queries shouldn't pay for
    * it again.
    *
    * The BUCKET face claims the proven data-column order alone (no
    * leading pc — the bucket ordinal satisfies no join requirement):
    * a recluster sorted every bucket directory by the SOURCE key, so a
    * coalesced bucket split reads `[k ASC, ...]` and the co-bucketed
    * SortMergeJoin on k plans with zero exchanges AND zero sorts — the
    * classic sorted-bucketed join, provenance-verified instead of
    * trusted. Without provenance it reports nothing, correctly: rows
    * within a bucket are NOT source-key-ordered by layout alone.
    */
  override def outputOrdering(): Array[V2SortOrder] =
    if (transformFace.isDefined)
      sortedCols.map(c =>
        Expressions.sort(Expressions.identity(c), SortDirection.ASCENDING)).toArray
    else if (pcRequired)
      (pc +: sortedCols).map(c =>
        Expressions.sort(Expressions.identity(c), SortDirection.ASCENDING)).toArray
    else Array.empty

  /** The recluster-proven data-column sort order this scan may claim:
    * the longest [[AtomicCommit.SortedByProp]] prefix whose columns are
    * all projected and whose evidence verifies against the live
    * snapshot. Empty whenever anything is off — the claim costs I/O
    * when wrong, so every gate errs toward silence.
    */
  private lazy val sortedCols: Seq[String] =
    // lazy AND short-circuited on the face that can never claim it:
    // the verification walks every surviving partition directory and
    // parses the stats sidecar, which an identity scan that will report
    // no ordering (pc not projected) must not pay. The bucket face DOES
    // pay it — a reclustered bucket table's source-key order is exactly
    // what it can claim (sort-free sorted-bucketed joins); provenSortOrder
    // short-circuits cheaply when no provenance is recorded. Gated on
    // the PUSHED-FILTER-pruned entry set, not the whole table: an
    // append to one hot partition retires the claim only for scans
    // that actually read it — a filtered scan of the still-sorted cold
    // partitions keeps its sort-free plan. Runtime filters arriving
    // later only shrink the set further, and a subset of qualifying
    // partitions still qualifies, so the construction-time claim
    // stays sound through execution-time pruning.
    if (transformFace.isEmpty && !pcRequired) Nil
    else relation.snapshotOpt().map(m =>
      GraftBatchScan.provenSortOrder(relation.root, m,
        relation.prunedEntriesFor(m, pushed),
        requiredData.fieldNames.toSet)).getOrElse(Nil)

  override def createReaderFactory(): PartitionReaderFactory = {
    val partSchema =
      if (pcRequired) StructType(Array(StructField(pc, StringType)))
      else new StructType()
    // data filters only (partition-column shapes already decided the
    // split list) — the parquet reader turns them into row-group and
    // page skips; Spark re-evaluates residuals above, so exactness at
    // the reader is not required
    val dataFilters = effective.filterNot(_.references.contains(pc)).toIndexedSeq
    val fmt = new ParquetFileFormat()
    // COLUMNAR whenever the vectorized reader can serve the projection
    // (atomic types + conf): the scan then feeds ColumnarBatches under a
    // codegen'd ColumnarToRow — the same read shape FileSourceScanExec
    // plans, so opting into the batch face costs no scan throughput
    val columnar = fmt.supportBatch(relation.session,
      StructType(requiredData.fields ++ partSchema.fields))
    val readFunc = fmt.buildReaderWithPartitionValues(
      relation.session, dataSchema, partSchema, requiredData, dataFilters,
      Map(FileFormat.OPTION_RETURNING_BATCH -> columnar.toString),
      relation.session.sessionState.newHadoopConfWithOptions(Map.empty))
    // the DELETE-VECTORED read: row-wise and with NO pushed data filters,
    // so consumed rows enumerate the file sequentially and the running
    // counter IS the parquet row index the delete recorded (a row-group
    // or page skip would desynchronize it); Spark re-evaluates residual
    // filters above the scan, so dropping the pushdown costs only the
    // vectored files' skipping, never correctness
    lazy val dvReadFunc = fmt.buildReaderWithPartitionValues(
      relation.session, dataSchema, partSchema, requiredData, Nil,
      Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
      relation.session.sessionState.newHadoopConfWithOptions(Map.empty))
    val anyDv = dvBitmaps.nonEmpty
    // Spark's PARTITION_DEFINED columnar contract REQUIRES one answer
    // per scan — mixing row and columnar splits fails planning with
    // "Cannot mix row-based and columnar input partitions" — so the
    // columnar path is taken only when NO planned split carries delete
    // evidence. The decision stays valid under runtime filtering:
    // pruning only removes files, so a clean split set stays clean. A
    // partially-marked snapshot reads row-wise until compaction or
    // materialization heals it — correct, and cheaper than forfeiting
    // the face entirely.
    val plannedDv = anyDv && planInputPartitions().exists(
      _.asInstanceOf[GraftFileSplit].files.exists(_.dv.isDefined))
    new GraftReaderFactory(readFunc,
      if (anyDv) dvReadFunc else readFunc, pcRequired,
      columnar && !plannedDv)
  }

  /** Key grouping — the contract that unlocks storage-partitioned
    * joins. The recorded TRANSFORM over the source column when the
    * table is hidden-partitioned and the source is projected
    * ([[transformFace]] — bucket/days/hours/months/truncate, resolved
    * through the catalog's FunctionCatalog face); identity over the
    * partition column when IT is projected (Spark resolves the
    * expressions against the scan's attributes); unknown otherwise.
    * The split count per key is free to differ, Spark groups by
    * [[HasPartitionKey]].
    */
  override def outputPartitioning(): Partitioning = transformFace match {
    case Some(b: HiddenPartitioning.Bucket) =>
      new KeyGroupedPartitioning(
        Array(Expressions.bucket(b.n, b.source)), keyCount)
    case Some(t: HiddenPartitioning.Truncate) =>
      // width baked into the name: a literal argument would give the
      // transform a second leaf, which KeyGroupedPartitioning.satisfies0
      // rejects for clustered distributions ([[GraftTruncateFunction]])
      new KeyGroupedPartitioning(
        Array(Expressions.apply(s"truncate_${t.w}",
          Expressions.column(t.source))), keyCount)
    case Some(s) => // days/hours/months: one-argument named transforms
      val fn = s match {
        case _: HiddenPartitioning.Days => "days"
        case _: HiddenPartitioning.Hours => "hours"
        case _ => "months"
      }
      new KeyGroupedPartitioning(
        Array(Expressions.apply(fn, Expressions.column(s.source))), keyCount)
    case None if pcRequired =>
      new KeyGroupedPartitioning(Array(Expressions.identity(pc)), keyCount)
    case None => new UnknownPartitioning(0)
  }

  private lazy val keyCount: Int = relation.snapshotOpt()
    .map(m => relation.prunedEntriesFor(m, pushed).size).getOrElse(0)

  /** Only PROJECTED columns may be offered: Spark's stock DPP resolves
    * these against the scan's own output (`PartitionPruning
    * .getFilterableTableScan` → `resolveRefs`, which THROWS on a miss),
    * so advertising the derived partition column on a projection that
    * dropped it would crash planning rather than skip the filter.
    */
  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] = {
    val out = readSchema().fieldNames.toSet
    relation.runtimeFilterable.filter(out)
      .map(Expressions.column).toArray
  }

  /** Same acceptance as [[GraftV1Scan.filter]]: runtime shapes the
    * pruner consumes on columns it can prune; dropping one costs I/O,
    * never correctness.
    */
  override def filter(fs: Array[Filter]): Unit = {
    val prunable = relation.runtimeFilterable.toSet
    runtime = fs.filter {
      case org.apache.spark.sql.sources.In(c, vs) =>
        prunable(c) && vs != null && vs.nonEmpty
      case org.apache.spark.sql.sources.EqualTo(c, v) =>
        prunable(c) && v != null
      case org.apache.spark.sql.sources.GreaterThanOrEqual(c, v) =>
        prunable(c) && v != null
      case org.apache.spark.sql.sources.LessThanOrEqual(c, v) =>
        prunable(c) && v != null
      case _ => false
    }
  }

  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics = {
    val (bytes, rowsOpt) = relation.projectedStats(effective, required)
    // sidecar row counts are PHYSICAL; the face drops bitmap-marked
    // positions at read, so subtract the marked cardinality (an upper
    // bound on the overcount — bitmaps of pruned-out partitions only
    // make the estimate conservative in the broadcast-safe direction)
    val marked: Long =
      dvBitmaps.valuesIterator.flatMap(_.valuesIterator)
        .map(_.cardinality).sum
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(bytes)
      override def numRows(): java.util.OptionalLong =
        rowsOpt.map(r => java.util.OptionalLong.of(math.max(0L, r - marked)))
          .getOrElse(java.util.OptionalLong.empty())
    }
  }
}

object GraftBatchScan extends org.apache.spark.internal.Logging {
  /** Session opt-in for the storage-partitioned batch face. Pair with
    * `spark.sql.sources.v2.bucketing.enabled` (Spark's side of the
    * handshake) to plan co-partitioned joins shuffle-free.
    */
  val EnabledConf = "spark.graft.batchScan.enabled"

  /** Qualification-demand equality-delete materialization: when the ONLY
    * thing gating the batch face out is outstanding equality records
    * (the zero-scan takedown [[Deletes.deleteKeysMoR]] writes) and their
    * total key count is at most this, planning runs [[Deletes
    * .materializeEqDeletes]] as a maintenance commit and re-qualifies —
    * so one GDPR-style instant takedown no longer disables the
    * engine's best join table-wide until a human remembers
    * `OPTIMIZE … MATERIALIZE DELETES`. 0 disables the policy (the face
    * then just falls back to V1 until a manual OPTIMIZE/compaction).
    * The default is bloom-budget-sized: under it the resolution is two
    * bounded passes over only the bloom-narrowed marked partitions —
    * maintenance the read was already paying for in NOT-IN filters.
    */
  val AutoMaterializeConf = "spark.graft.batchScan.autoMaterialize.maxRecords"
  private val AutoMaterializeDefault = 65536L

  /** The second, byte-denominated bound on qualification-demand
    * materialization: the marked partitions' live data footprint (from
    * the stats sidecars — driver metadata, no I/O) must fit this, or
    * the policy refuses and the scan falls back to V1. The key-count
    * cap bounds the RECORD set; this bounds what the resolution
    * actually READS — on a bloom-less table a 2-key takedown marks
    * every partition, and at 100 TB "resolve it during planning" must
    * not mean "scan the table during planning". The footprint comes
    * from [[TableStats.partitionBytes]] (a cached directory-size walk —
    * listing metadata, never data reads).
    */
  val AutoMaterializeBytesConf = "spark.graft.batchScan.autoMaterialize.maxBytes"
  private val AutoMaterializeBytesDefault = 16L * 1024 * 1024 * 1024

  /** The batch face, when the snapshot qualifies: opted in, no
    * logical-view mapping state (rename/drop/widen), no pending
    * ALTER-added backfill, every owner generation sharing one footer
    * schema, and any delete evidence entirely position-bitmap-shaped
    * ([[deleteBitmaps]] — the face applies those per split). A snapshot
    * rejected ONLY for outstanding equality records self-heals under
    * [[AutoMaterializeConf]]: planning materializes them into position
    * bitmaps (one maintenance commit) and re-qualifies against the new
    * snapshot. None = take the V1 path.
    */
  private[graft] def eligibleScan(relation: GraftRelation,
                                    required: StructType,
                                    filters: Array[Filter]): Option[GraftBatchScan] = {
    val spark = relation.session
    if (spark.sessionState.conf.getConfString(EnabledConf, "false") != "true")
      return None
    relation.snapshotOpt().flatMap { m =>
      // the snapshot's delete evidence, computed AT MOST ONCE per
      // planning: qualification consumes it, and on an equality-shaped
      // rejection the self-heal policy reuses the same reading instead
      // of re-walking the vector sidecars. None = the snapshot holds NO
      // vectors (zero evidence I/O); an unreadable evidence state stays
      // a LOUD failure, exactly as before — silently qualifying without
      // deletes would resurrect rows
      def evidenceOf(mm: AtomicCommit.Manifest)
          : Option[AtomicCommit.DeleteEvidence] =
        if (!mm.hasVectors) None
        else Some(AtomicCommit.deleteEvidence(spark, relation.root, mm))
      val ev0 = evidenceOf(m)
      qualify(relation, m, required, filters, ev0).orElse {
        if (autoMaterialize(relation, m, ev0))
          // the commit advanced the table: re-resolve and re-qualify
          // against the CURRENT snapshot (the healed one — or whatever
          // a racing writer published, which must re-gate honestly)
          relation.snapshotOpt().flatMap(m2 =>
            qualify(relation, m2, required, filters, evidenceOf(m2)))
        else None
      }
    }
  }

  private def qualify(relation: GraftRelation, m: AtomicCommit.Manifest,
                      required: StructType, filters: Array[Filter],
                      evOpt: Option[AtomicCommit.DeleteEvidence])
      : Option[GraftBatchScan] = {
    val clean = AtomicCommit.renamesOf(m).isEmpty &&
      AtomicCommit.droppedOf(m).isEmpty &&
      AtomicCommit.widenedOf(m).isEmpty
    if (!clean) None
    else for {
      bitmaps <- deleteBitmaps(evOpt)
      ds <- uniformFooterSchema(relation, m)
    } yield new GraftBatchScan(relation, withAdded(ds, m), required,
      filters, bitmaps)
  }

  /** Run the auto-materialization policy if it is due: TRUE means a
    * maintenance commit landed and qualification should retry. Fires
    * only when (a) the policy is enabled and the read is not a pinned
    * time-travel/tag snapshot (materialization commits on the CURRENT
    * table — healing an old view would be wrong twice over), (b) the
    * snapshot would qualify but for equality records — mapping state,
    * anti-join-only position vectors, AND non-uniform footer schemas
    * reject as before (materialization can't heal those, and a commit
    * that cannot re-qualify the face would burn a version for nothing),
    * and (c) the outstanding key count and the marked partitions' byte
    * footprint fit the conf budgets, bounding the planning-time job at
    * two passes over the narrowed marked partitions.
    *
    * OBSERVABILITY AND FAILURE DISCIPLINE (a SELECT that writes a
    * commit is a big enough side effect that both outcomes must leave
    * a trace):
    *  - a LANDED heal logs at WARN (operators won't expect a read to
    *    advance the version) and its commit carries [[AtomicCommit
    *    .HealVersionProp]], so DESCRIBE HISTORY classifies it `heal`
    *    and DESCRIBE DETAIL reports it as `last_heal_version`;
    *  - a concurrent commit racing the materialization ([[AtomicCommit
    *    .PartitionConflictException]]) is the documented benign race:
    *    logged, NOT cached (the table advanced — the next planning
    *    reads a different snapshot anyway), degrade to V1 for THIS
    *    query;
    *  - any OTHER failure (unreadable sidecar, read-only store, a
    *    half-broken eq file) logs the cause at WARN and is CACHED per
    *    (root, snapshot version) — without the cache a persistently
    *    failing heal would re-run the two-pass materialization job
    *    during EVERY query's planning and fail silently each time, an
    *    invisible repeated planning-time tax. Any new commit retires
    *    the entry by construction: it changes the version key.
    * A policy REFUSAL (over-budget, pinned read, un-healable snapshot)
    * is not a failure — it is cheap metadata arithmetic, recomputed
    * per planning, never logged or cached.
    */
  private def autoMaterialize(relation: GraftRelation,
                              m: AtomicCommit.Manifest,
                              evOpt: Option[AtomicCommit.DeleteEvidence])
      : Boolean = {
    val spark = relation.session
    val cap = Try(spark.sessionState.conf
        .getConfString(AutoMaterializeConf, AutoMaterializeDefault.toString)
        .toLong).getOrElse(0L)
    if (cap <= 0L || relation.pinned.nonEmpty) return false
    if (AtomicCommit.renamesOf(m).nonEmpty ||
      AtomicCommit.droppedOf(m).nonEmpty ||
      AtomicCommit.widenedOf(m).nonEmpty) return false
    // the footer gate qualify enforces: a snapshot that would STILL be
    // rejected after the heal must not pay (or conflict-risk) a commit.
    // uniformFooterSchema's footers are memoized per generation — the
    // qualify call above already read them
    if (uniformFooterSchema(relation, m).isEmpty) return false
    val byteCap = Try(spark.sessionState.conf
        .getConfString(AutoMaterializeBytesConf,
          AutoMaterializeBytesDefault.toString).toLong).getOrElse(0L)
    val key = (relation.root, m.version)
    // get marks the entry used: a snapshot still being planned against
    // must stay resident in the LRU
    if (healFailures.get(key).nonEmpty) return false
    // the ELIGIBILITY arithmetic sits OUTSIDE the caching catch: it is
    // cheap metadata work recomputed per planning, and a transient
    // error in it (a vacuum racing the sizeInBytes walk) must degrade
    // to a refusal for THIS query — caching it would disable healing
    // for the whole snapshot off a blip that never attempted a heal
    val due = try {
      evOpt.exists { ev =>
        ev.eqs.nonEmpty && ev.positions.isEmpty &&
          ev.eqs.iterator.map(_.values.size.toLong).sum <= cap && {
            // what the resolution will READ: the marked partitions' live
            // bytes (sidecar metadata only) — bounded or refused
            val marked = ev.eqs.map(_.partition).toSet
            TableStats.sizeInBytes(relation.root, m, marked) <= byteCap
          }
      }
    } catch {
      case scala.util.control.NonFatal(e) =>
        logWarning(s"graft auto-materialize: eligibility check failed " +
          s"at ${relation.root} v${m.version} — refusing for this query " +
          s"(not cached; the next planning recomputes): $e")
        false
    }
    if (!due) return false
    try {
      Deletes.materializeEqDeletes(spark, relation.root, relation.store,
          Map(AtomicCommit.HealVersionProp ->
            AtomicCommit.VersionValueSentinel)) match {
        case Some(v) =>
          logWarning(s"graft auto-materialize: read-triggered " +
            s"maintenance commit landed version $v at ${relation.root} " +
            "(outstanding equality deletes materialized to position " +
            "bitmaps so the batch face re-qualifies; disable with " +
            s"$AutoMaterializeConf=0)")
          true
        case None => false
      }
    } catch {
      case e: AtomicCommit.PartitionConflictException =>
        logWarning(s"graft auto-materialize: concurrent commit raced " +
          s"the maintenance commit at ${relation.root} " +
          s"(v${m.version} base) — falling back to V1 for this query; " +
          s"the next planning re-reads the advanced snapshot: " +
          s"${e.getMessage}")
        false
      case scala.util.control.NonFatal(e) =>
        healFailures.put(key, e.toString)
        logWarning(s"graft auto-materialize: heal FAILED at " +
          s"${relation.root} v${m.version} — falling back to V1 " +
          "(correct, slower); this snapshot version will not be " +
          s"retried until a new commit changes it. Cause: $e")
        false
    }
  }

  /** Per-(root, snapshot-version) record of heal attempts that failed
    * for a non-conflict cause: the value is the failure's rendering.
    * Bounds the planning-time tax of a persistently failing heal to ONE
    * attempt per snapshot — a new commit changes the version and so
    * retries naturally. Conflicts are never recorded (the racing commit
    * already changed the version). A [[graft.Memo]]: past 4096 entries
    * it evicts only the least recently used, so a cached failure is
    * never forgotten wholesale — that would permit a retry storm of up
    * to 4096 two-pass materialization attempts at planning time.
    */
  private val healFailures =
    new graft.Memo[(String, Long), String](capacity = 4096)

  /** Why the last heal attempt on this exact snapshot failed, if one
    * did — the ops/test window into the failure cache.
    */
  private[graft] def healFailure(root: String, version: Long)
      : Option[String] = healFailures.get((root, version))

  /** The session's auto-materialization policy, rendered for the
    * operator surface (DESCRIBE DETAIL): `off` when disabled or the
    * face itself is off (a heal can only fire from a face read), else
    * the two caps a face read would apply.
    */
  private[graft] def autoMaterializePolicy(
      spark: org.apache.spark.sql.SparkSession): String = {
    val conf = spark.sessionState.conf
    val faceOn = conf.getConfString(EnabledConf, "false") == "true"
    val cap = Try(conf.getConfString(AutoMaterializeConf,
      AutoMaterializeDefault.toString).toLong).getOrElse(0L)
    if (!faceOn || cap <= 0L) "off"
    else {
      val byteCap = Try(conf.getConfString(AutoMaterializeBytesConf,
        AutoMaterializeBytesDefault.toString).toLong).getOrElse(0L)
      s"maxRecords=$cap maxBytes=$byteCap"
    }
  }

  /** Whether a manifest entry's raw dir name is SHAPED like `spec`'s
    * rendering — the transform face's layout guard ([[GraftBatchScan
    * .transformFace]]): bucket ordinals parse as ints (and the hash is
    * never null, so no sentinel); time renderings match their fixed
    * patterns; truncate dirs decode to at most the width in CODE POINTS
    * (the SQL-substring unit). Time/truncate layouts may hold the
    * null-sentinel dir — a null source derives a null partition value,
    * which keys as a null partition row.
    */
  private[sources] def entryShapedLike(spec: HiddenPartitioning.Spec,
                                       pv: String): Boolean = {
    val np = GraftRelation.NullPartitionName
    spec match {
      case _: HiddenPartitioning.Bucket => Try(pv.toInt).isSuccess
      case _: HiddenPartitioning.Days =>
        pv == np || pv.matches("\\d{4}-\\d{2}-\\d{2}")
      case _: HiddenPartitioning.Hours =>
        pv == np || pv.matches("\\d{4}-\\d{2}-\\d{2}-\\d{2}")
      case _: HiddenPartitioning.Months =>
        pv == np || pv.matches("\\d{4}-\\d{2}")
      case t: HiddenPartitioning.Truncate =>
        pv == np || {
          val d = ExternalCatalogUtils.unescapePathName(pv)
          d.codePointCount(0, d.length) <= t.w
        }
    }
  }

  /** The snapshot's delete evidence in the one shape the batch face can
    * serve — complete position BITMAPS (owner generation → (partition,
    * file) → bitmap), applied per split by a sequential row counter.
    * `Some(empty)` when the snapshot carries no vectors at all (the
    * common case — zero evidence I/O); None when any EQUALITY record is
    * outstanding (an arbitrary-predicate screen the per-position reader
    * cannot express) or a position vector predates the sidecar format /
    * overflows the bitmap budget (only the anti-join frame can apply
    * it) — the V1 composition handles all of those.
    */
  private def deleteBitmaps(evOpt: Option[AtomicCommit.DeleteEvidence])
      : Option[Map[String, Map[(UTF8String, UTF8String), DvBitmap.Bitmap]]] =
    evOpt match {
      case None => Some(Map.empty) // no vectors at all: zero evidence I/O
      case Some(ev) if ev.eqs.isEmpty && ev.positions.isEmpty =>
        Some(ev.bitmaps.getOrElse(Map.empty))
      case _ => None
    }

  /** ALTER-added columns no footer carries yet ([[AtomicCommit
    * .SchemaAddedProp]]) appended to the reader's data schema, exactly
    * Spark's own parquet schema-evolution shape: the table schema holds
    * the column, individual files lack it, and the (vectorized) reader
    * null-fills per file — byte-equal to the V1 path's
    * `lit(null).cast(type)` backfill, so a fresh ADD COLUMN no longer
    * kicks the table off the face until the next rewrite. A column
    * SOME generation already materialized never reaches here: mixed
    * footers fail [[uniformFooterSchema]]'s one-schema test first.
    */
  private def withAdded(ds: StructType,
                        m: AtomicCommit.Manifest): StructType =
    m.props.get(AtomicCommit.SchemaAddedProp)
      .map(StructType.fromDDL)
      .fold(ds)(added => StructType(ds.fields ++
        added.fields.filterNot(f => ds.fieldNames.contains(f.name) ||
          f.name == m.partitionCol).map(_.copy(nullable = true))))

  /** The one footer data schema shared by every owner generation —
    * names and types, order-insensitive (the reader clips by name), all
    * fields relaxed nullable (a per-generation REQUIRED field still
    * reads fine as optional). None when generations disagree or a probe
    * fails — the V1 path's per-generation `unionByName` handles those.
    * Each generation's footer comes from
    * [[GraftFileIndex.footerSchema]]'s memo: one footer read per
    * generation, not per query.
    */
  private[sources] def uniformFooterSchema(relation: GraftRelation,
                                           m: AtomicCommit.Manifest): Option[StructType] =
    Try {
      // ownerGens is the manifest instance's own lazy derivation — a
      // per-call O(partitions) flatMap here was most of the warm
      // qualification cost at 200k partitions
      val schemas = m.ownerGens.map { g =>
        val footer = GraftFileIndex.footerSchema(relation.session,
          relation.root, g)(AtomicCommit.probeParquet(Seq(s"${relation.root}/$g")))
        StructType(footer.filterNot(_.name == m.partitionCol)
          .map(_.copy(nullable = true)))
      }
      val shape = schemas.map(_.map(f => (f.name, f.dataType)).sortBy(_._1))
      if (shape.distinct.size == 1) Some(schemas.head) else None
    }.toOption.flatten

  /** The data-column sort order the snapshot PROVABLY carries — the
    * longest prefix of [[AtomicCommit.SortedByProp]]'s recorded columns
    * that is (a) fully projected, and (b) evidence-verified:
    *
    *  - every SURVIVING entry's sole data owner is the recording
    *    generation — `entries` is the pushed-filter-pruned set, so an
    *    append to one partition retires the claim only for scans that
    *    read it (position-bitmap deletes don't change owners and row
    *    drops preserve order);
    *  - every live file is null-free in the column (the sidecar's
    *    per-file or envelope `nulls == 0` — a null in a NON-first file
    *    would break the NULLS FIRST claim across the concatenation);
    *  - in a multi-file partition, every file has recorded bounds and
    *    consecutive files in FILE-NAME order — the order coalesced
    *    splits read them in — cover
    *    non-interleaved ranges (`max(fileᵢ) <= min(fileᵢ₊₁)`; ties at
    *    the boundary are fine, the recording job range-partitioned on
    *    the FULL sort tuple so equal leading keys stay ordered by the
    *    trailing ones across the seam).
    *
    * Within-FILE order is the provenance's contribution (one
    * sort-within-partitions job wrote every file); the sidecar check is
    * what makes the cross-file claim verified rather than trusted.
    * Pruning only ever removes files, and a subsequence of a sorted
    * sequence is sorted — so a claim verified against the full layout
    * holds for every filtered scan of it.
    */
  private[graft] def provenSortOrder(root: String,
                                     m: AtomicCommit.Manifest,
                                     entries: Map[String, String],
                                     projected: String => Boolean): Seq[String] =
    m.props.get(AtomicCommit.SortedByProp).toSeq.flatMap { v =>
      val sep = v.indexOf(':')
      if (sep <= 0) Nil
      else {
        val gen = v.substring(0, sep)
        val cols = v.substring(sep + 1).split(',').toSeq.filter(_.nonEmpty)
        val owned = entries.nonEmpty && entries.values.forall(e =>
          AtomicCommit.ownersOf(e) == Seq(gen))
        if (!owned || cols.isEmpty) Nil
        else {
          // the verification walk (one sidecar parse + one dir listing
          // per surviving partition) is MEMOIZED per (root, provenance,
          // entry set): a published generation's data files are
          // immutable (rewrites make new generations), so the verified
          // prefix can never change for the same key — the recurring
          // co-partitioned join pays the walk once, not per query. The
          // one mutable input — ANALYZE retrofitting the stats sidecar
          // in place — rides the key as the sidecar's (mtime, size)
          // stamp: one stat call, and retrofitted evidence upgrades the
          // claim at the next planning instead of staling conservative
          val stamp = Try(graft.Memo.stamp(java.nio.file.Paths.get(root,
            gen, DataSkipping.StatsFile).toString)).toOption
          claimCache((root, v, stamp, entries.keys.toSeq.sorted))(
            verifiedPrefix(root, m, entries, gen, cols)).takeWhile(projected)
        }
      }
    }

  private val claimCache = new graft.Memo[
    (String, String, Option[(Long, Long)], Seq[String]), Seq[String]](capacity = 256)

  /** The projection-independent verified prefix of the recorded sort
    * columns — the sidecar walk behind [[provenSortOrder]]'s claim.
    */
  private def verifiedPrefix(root: String, m: AtomicCommit.Manifest,
                             entries: Map[String, String], gen: String,
                             cols: Seq[String]): Seq[String] = {
    val stats = Try(DataSkipping.readStats(root, gen))
      .getOrElse(Nil)
    val byPartCol = stats.groupBy(s => (s.partition, s.col))
    // one directory listing per partition, shared by every column's
    // check. FILE-NAME order — the order coalesced splits read in
    // (part-file names encode the writing task, so name order is the
    // recluster job's range order)
    val filesByPart: Map[String, Seq[String]] =
      entries.keysIterator.map(pv => pv -> DataSkipping.listParquetIndexed(
        root, gen, pv, s"$root/$gen/${m.partitionCol}=$pv").sorted).toMap
    def verified(c: String): Boolean = entries.keys.forall { pv =>
      val files = filesByPart(pv)
      val recs = byPartCol.getOrElse((pv, c), Nil)
      if (files.isEmpty) true
      else if (files.size == 1)
        recs.exists(r => r.nulls == 0L &&
          (r.file.isEmpty || r.file.contains(files.head)))
      else {
        val frs = files.map(f => recs.find(_.file.contains(f)))
        frs.forall(_.exists(r => r.nulls == 0L &&
            r.min.isDefined && r.max.isDefined)) &&
          frs.flatten.sliding(2).forall {
            case Seq(a, b) =>
              DataSkipping.boundLeq(a.kind, a.max.get, b.min.get)
            case _ => true
          }
      }
    }
    cols.takeWhile(verified)
  }
}

/** One data file of one partition — and, when the snapshot's deletion
  * vectors mark it, its own compressed position bitmap.
  */
private[graft] final case class GraftFileSlice(
    path: String, length: Long, dv: Option[DvBitmap.Bitmap] = None)

/** One scan split: one or more files of ONE partition, carrying the
  * DECODED partition key for Spark-side key grouping. One file in the
  * file-parallel shape; a whole partition's files when the scan
  * coalesced per key ([[GraftBatchScan.planInputPartitions]]).
  */
private[graft] final case class GraftFileSplit(
    key: InternalRow, files: Seq[GraftFileSlice])
  extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow = key
}

/** Executor-side reader: the driver-built `FileFormat` parquet function
  * over the split's file(s) in sequence, partition value appended by
  * the function itself. COLUMNAR when the scan said so (the function
  * returns ColumnarBatch disguised as InternalRow — the FileScanRDD
  * contract); the row face stays for non-atomic projections and any
  * split carrying deletion evidence, flattening defensively (rows may
  * be reused buffers — standard DSv2 reader contract). A file with a
  * deletion bitmap takes `dvReadFunc` — the filterless sequential read
  * whose consumed-row counter IS the parquet row index (the counter
  * resets PER FILE: positions are file-local) — and drops the marked
  * positions; clean files keep the full-speed path. Files open lazily,
  * one at a time, as the iterator advances.
  */
private[graft] final class GraftReaderFactory(
    readFunc: PartitionedFile => Iterator[InternalRow],
    dvReadFunc: PartitionedFile => Iterator[InternalRow],
    usePartitionValues: Boolean,
    columnar: Boolean) extends PartitionReaderFactory {

  private def fileOf(key: InternalRow, s: GraftFileSlice): PartitionedFile =
    PartitionedFile(
      if (usePartitionValues) key else InternalRow.empty,
      SparkPath.fromPathString(s.path), 0L, s.length,
      Array.empty, 0L, s.length)

  override def supportColumnarReads(p: InputPartition): Boolean =
    columnar && p.asInstanceOf[GraftFileSplit].files.forall(_.dv.isEmpty)

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val split = p.asInstanceOf[GraftFileSplit]
    val rows: Iterator[InternalRow] = split.files.iterator.flatMap { s =>
      val raw = (if (s.dv.isDefined) dvReadFunc else readFunc)(fileOf(split.key, s))
      val flat = raw.asInstanceOf[Iterator[Any]].flatMap {
        case b: ColumnarBatch => b.rowIterator().asScala
        case r => Iterator.single(r.asInstanceOf[InternalRow])
      }
      s.dv match {
        case Some(bm) =>
          var pos = -1L
          flat.filter { _ => pos += 1; !bm.contains(pos) }
        case None => flat
      }
    }
    new PartitionReader[InternalRow] {
      private var cur: InternalRow = null
      override def next(): Boolean = rows.hasNext && { cur = rows.next(); true }
      override def get(): InternalRow = cur
      override def close(): Unit = ()
    }
  }

  override def createColumnarReader(p: InputPartition): PartitionReader[ColumnarBatch] = {
    val split = p.asInstanceOf[GraftFileSplit]
    val it: Iterator[ColumnarBatch] = split.files.iterator.flatMap(s =>
      readFunc(fileOf(split.key, s)).asInstanceOf[Iterator[ColumnarBatch]])
    new PartitionReader[ColumnarBatch] {
      private var cur: ColumnarBatch = null
      override def next(): Boolean = it.hasNext && { cur = it.next(); true }
      override def get(): ColumnarBatch = cur
      override def close(): Unit = ()
    }
  }
}
