package graft.sources

import java.math.BigDecimal
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{NumericType, StringType}

/** Column-statistics data skipping for [[AtomicCommit]] tables — the
  * Iceberg/Delta min-max file-skipping idea at partition granularity.
  * Partition-column pruning is free (the manifest maps values to
  * directories), but a predicate on any OTHER column still scans every
  * owned partition. At 100 TB that difference is the whole game: a query
  * for `n_chars BETWEEN 5000 AND 6000` over a lang-partitioned corpus
  * touches every language unless something records that `lang=de` only
  * holds 12..4031.
  *
  * Mechanics, riding the module's immutability invariant:
  *
  *   - Between stage and publish, [[annotateStaged]] aggregates per
  *     (partition, column) `min` / `max` / `nulls` / `rows` from the rows
  *     the generation actually landed on disk (ONE `groupBy(partitionCol)`
  *     job over the staged directory; result is O(#partitions × #cols)
  *     driver rows — manifest scale) and writes them as
  *     `_graft_stats.jsonl` INSIDE the generation directory. The sidecar
  *     is created before any manifest references the generation and never
  *     touched after, so it inherits the generation's immutability: same
  *     owner ⇒ same stats, no refresh problem, vacuumed with its data.
  *   - [[readWhere]] resolves the manifest, keeps only partitions whose
  *     recorded `[min, max]` interval intersects `[lower, upper]` (plus a
  *     residual row filter — stats are partition-granular), and scans
  *     nothing else: pruned directories are never even listed, the same
  *     guarantee [[AtomicCommit.readPartitions]] gives for partition-key
  *     reads, now for arbitrary numeric/string columns.
  *
  * Soundness before aggressiveness: a partition with NO stats for the
  * column (older generation, un-annotated commit, unknown column) is
  * always KEPT — skipping is an optimization that can only narrow where
  * evidence exists. Numeric min/max are stored as exact decimal strings
  * and compared as [[BigDecimal]] (an int64 near 2^63 round-tripped
  * through double could round the wrong way and prune a matching
  * partition); string bounds compare by CODE POINT, matching Spark's
  * binary UTF8String ordering, not UTF-16 `compareTo` (which disagrees on
  * supplementary characters).
  */
object DataSkipping {

  val StatsFile = "_graft_stats.jsonl"

  /** The FILE INDEX sidecar: one line per data file of the generation —
    * `{"partition": <raw dir value>, "file": <basename>, "bytes": N}` —
    * written at STAGE time from one walk of the directory the stage
    * just produced (the listing the commit already paid). Readers
    * ([[partitionFilesSized]], [[listParquetIndexed]]) then plan file
    * sets from driver metadata instead of listing partition directories
    * per query: at 50k partitions that is 50k LIST calls per unpruned
    * face plan on an object store — this is the same move Iceberg makes
    * by recording data files in manifests. Generations are immutable
    * after publish, so the index never invalidates; absent (pre-index
    * tables, hand-written generations) or unreadable ⇒ every consumer
    * falls back to the live listing, correct and merely slower.
    *
    * AUTHORITY CONTRACT: when present, the index IS the generation's
    * file catalog. A parquet file dropped into a published generation
    * behind the format's back is not part of the table on indexed
    * paths (exactly Iceberg's rule — files outside manifests do not
    * exist), while the listing fallback and the V1 whole-directory
    * read would still discover it; writing into a published generation
    * violates the format's immutability contract and has no defined
    * visibility. The STATS/bloom sidecars keep their own soundness
    * rule unchanged: an index-listed file the stats never recorded has
    * no evidence against it and is scanned.
    */
  val FilesFile = "_graft_files.jsonl"

  /** One (partition, column) statistics record. `min`/`max` are None only
    * when every value in the partition is null. `file` present makes the
    * record FILE-granular — the bounds of one parquet data file (by
    * basename) inside the partition directory, written when a partition
    * spans multiple files (`filesPerDir > 1`, [[Compaction.recluster]]'s
    * layout) so [[readWhere]] can prune WITHIN a partition it must touch;
    * `file = None` is the partition-level envelope (and the only record
    * kind pre-r13 sidecars carry — absent field parses as None).
    */
  /** `sum` is the slice's EXACT non-null sum, DECIMAL-rendered
    * (integral columns aggregate as decimal(38,0), decimals at their
    * own scale — never float math), recorded only for types whose
    * distributed sum is exact; absent elsewhere and on pre-r17
    * sidecars. An absent sum with `nulls == rows` still carries
    * evidence — the slice's true sum is EMPTY (all-null) — which is
    * how [[GraftRelation.metadataAggregate]] answers `SUM(col)` over
    * mixed old/new generations without guessing.
    */
  final case class ColStats(partition: String, col: String, kind: String,
                            min: Option[String], max: Option[String],
                            nulls: Long, rows: Long,
                            file: Option[String] = None,
                            ndv: Option[Long] = None,
                            sum: Option[String] = None)

  /** EXACT distributed summability — the ONE predicate the sum-record
    * writer ([[annotateStaged]]'s aggregation), the ANALYZE retrofit
    * check, and the aggregate push site ([[GraftCatalog]]) must agree
    * on, or evidence gets written that is never read (or demanded but
    * never written). Integral family and decimals only; float/double
    * sums are order-dependent.
    */
  private[sources] def exactSummable(dt: org.apache.spark.sql.types.DataType): Boolean =
    sumCastTypeOf(dt).isDefined

  /** The exact decimal the writer casts to before summing — integral
    * at scale 0, decimal at its own scale; None = not exact-summable.
    */
  private[sources] def sumCastTypeOf(dt: org.apache.spark.sql.types.DataType): Option[String] = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType =>
        Some("decimal(38,0)")
      case d: DecimalType => Some(s"decimal(38,${d.scale})")
      case _ => None
    }
  }

  /** Stage → annotate → publish: [[AtomicCommit.commitReplacePartitions]]
    * with stats for `cols` recorded on the new generation.
    */
  def commitWithStats(spark: SparkSession, root: String, df: DataFrame,
                      partitionCol: String, cols: Seq[String]): Long =
    commitWithStats(spark, root, new PosixManifestStore(root), df,
      partitionCol, cols)

  def commitWithStats(spark: SparkSession, root: String, store: ManifestStore,
                      df: DataFrame, partitionCol: String,
                      cols: Seq[String]): Long = {
    val staged = AtomicCommit.stage(spark, root, store, df, partitionCol, 1)
    annotateStaged(spark, root, staged, cols)
    AtomicCommit.publish(root, store, staged)
  }

  /** Compute and write the stats sidecar for a staged-but-unpublished
    * generation. Reads back the directory the stage actually wrote (not
    * the caller's DataFrame) so the recorded bounds are the bounds of the
    * bytes on disk, whatever the write's lineage did.
    */
  def annotateStaged(spark: SparkSession, root: String,
                     staged: AtomicCommit.Staged, cols: Seq[String]): Unit = {
    val genPath = s"$root/${staged.gen}"
    // verbatim-partition read: the sidecar keys must equal the manifest's
    // partition VALUES verbatim ("01" must not become 1, or readWhere's
    // lookup misses and the partition is scanned needlessly)
    val data = AtomicCommit.readVerbatim(spark, genPath, staged.partitionCol,
      staged.partitions.map(v => s"$genPath/${staged.partitionCol}=$v"))
    writeSidecar(genPath, computeRecords(data, staged.partitionCol, cols))
  }

  /** The RAW partition-directory name a DECODED partition value came
    * from: partition discovery unescapes special characters and reads
    * the null sentinel as a real null, but the manifest — and
    * therefore every sidecar consumer — keys slices by the DIRECTORY
    * NAME. Re-applying the same escape is the exact inverse, keeps
    * sidecar keys byte-identical to entry keys for EVERY value
    * (escaped and null included), and never yields a null key (which
    * the renderer could not write).
    */
  private def rawPartitionKey(decoded: String): String =
    if (decoded == null)
      org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .DEFAULT_PARTITION_NAME
    else org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      .escapePathName(decoded)

  /** The stats records (file-granular + partition envelopes) of `cols`
    * over `data`, one aggregation job at (partition, file) granularity.
    */
  private def computeRecords(data: DataFrame, partitionCol: String,
                             cols: Seq[String]): Seq[ColStats] = {
    val kinds: Map[String, String] = cols.map { c =>
      data.schema.find(_.name == c).getOrElse(
        sys.error(s"stats column $c not in generation schema")) match {
        case f if f.dataType.isInstanceOf[NumericType] => c -> "num"
        case f if f.dataType == StringType => c -> "str"
        // EVENT-TIME EVIDENCE: timestamps record as epoch MICROS and
        // dates as epoch DAYS — numeric kinds with a time unit, so a
        // retention predicate (`ts < cutoff`) prunes partitions and
        // files exactly like a numeric range, and recluster provenance
        // on an event-time column verifies (sorted-days layouts serve
        // windows and merge joins sort-free). unix_micros/unix_date are
        // timezone-free (instant arithmetic), so the recorded bounds
        // never depend on writer session time
        case f if f.dataType == org.apache.spark.sql.types.TimestampType =>
          c -> "tsn"
        case f if f.dataType == org.apache.spark.sql.types.DateType =>
          c -> "dtn"
        case f => sys.error(
          s"stats column $c has unsupported type ${f.dataType.simpleString} " +
            "(numeric, string, timestamp, and date columns only)")
      }
    }.toMap
    // exact-summable types aggregate their sum as DECIMAL in the same
    // pass: integral at scale 0, decimal at its own scale — 38 digits
    // of headroom, no overflow, no float rounding. Float/double sums
    // are order-dependent and stay scan-only
    val sumCast: Map[String, Option[String]] = cols.map { c =>
      c -> sumCastTypeOf(data.schema.find(_.name == c).get.dataType)
    }.toMap
    // min/max of the time kinds aggregate in their EPOCH unit (min of
    // micros = micros of min — the mapping is monotone); other kinds
    // aggregate the raw column
    def statCol(c: String) = kinds(c) match {
      case "tsn" => unix_micros(col(c))
      case "dtn" => unix_date(col(c))
      case _ => col(c)
    }
    val aggs = count(lit(1)).as("__rows") +: cols.flatMap(c => Seq(
      min(statCol(c)).as(s"__min_$c"), max(statCol(c)).as(s"__max_$c"),
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__nulls_$c"),
      // HyperLogLog++ NDV per slice (same one-job pass): the planner's
      // selectivity evidence — ~2% relative error, summed upward by
      // [[TableStats.columnStats]]
      approx_count_distinct(col(c)).as(s"__ndv_$c")) ++
      sumCast(c).map(t => sum(col(c).cast(t)).as(s"__sum_$c")))
    // ONE job at FILE granularity (partition, data-file basename); the
    // partition-level envelopes are derived driver-side from the file
    // records — manifest-scale work, no second scan of the staged bytes
    val rows = data.groupBy(col(partitionCol).cast("string").as("__p"),
        regexp_extract(input_file_name(), "[^/]+$", 0).as("__f"))
      .agg(aggs.head, aggs.tail: _*).collect()
    val fileRecords = rows.flatMap { r =>
      val p = rawPartitionKey(r.getAs[String]("__p"))
      val f = r.getAs[String]("__f")
      val n = r.getAs[Long]("__rows")
      cols.map { c =>
        val mn = Option(r.getAs[Any](s"__min_$c")).map(_.toString)
        val mx = Option(r.getAs[Any](s"__max_$c")).map(_.toString)
        val sm = sumCast(c).flatMap(_ =>
          Option(r.getAs[java.math.BigDecimal](s"__sum_$c"))
            .map(_.toPlainString))
        ColStats(p, c, kinds(c), mn, mx, r.getAs[Long](s"__nulls_$c"), n,
          Some(f), Some(r.getAs[Long](s"__ndv_$c")), sm)
      }
    }
    val partRecords = fileRecords.groupBy(s => (s.partition, s.col)).toSeq
      .map { case ((p, c), fs) => combine(p, c, kinds(c), fs.toSeq) }
    // file records are only worth their bytes where they can out-prune the
    // envelope: partitions a single file covers entirely carry just it
    val multiFile = fileRecords.groupBy(_.partition)
      .filter(_._2.map(_.file).distinct.size > 1).keySet
    partRecords ++ fileRecords.filter(s => multiFile(s.partition))
  }

  /** Render and write a generation's sidecar atomically. */
  private def writeSidecar(genPath: String, records: Seq[ColStats]): Unit = {
    JsonCodec.writeAtomically(Paths.get(genPath, StatsFile),
      records.sortBy(s => (s.partition, s.col, s.file.getOrElse("")))
        .map(renderRecord))
    writeColSummary(genPath, records)
  }

  /** One combined envelope per column over the sidecar's PARTITION
    * records (the generation's "column-stat rollup" — r19 verdict task
    * 3): whole-table [[TableStats.columnStats]] (join reorder,
    * selectivity) then resolves in O(generations) instead of parsing the
    * O(partitions) sidecar on the first CBO touch of each snapshot
    * (measured 0.93 s at 16M/50k — TableBench `meta`). Validity is the
    * READER's judgment (owned-partition count == `parts`); rewritten
    * whenever the sidecar is (ANALYZE merges included), so the two never
    * drift. `ndv` is the partition-NDV SUM exactly as the exact path
    * sums before capping; absent when any partition record lacks one —
    * the exact path answers None there, and the rollup must agree.
    */
  val ColSumFile = "_graft_colsum.jsonl"

  private[sources] def writeColSummary(genPath: String,
                                       records: Seq[ColStats]): Unit = {
    val lines = records.filter(_.file.isEmpty).groupBy(_.col).toSeq
      .sortBy(_._1).map { case (c, rs) =>
        val parts = rs.map(_.partition).distinct.size
        val kinds = rs.map(_.kind).distinct
        val kind = if (kinds.size == 1) kinds.head else ""
        def bd(o: Option[String]) =
          o.flatMap(v => scala.util.Try(new java.math.BigDecimal(v)).toOption)
        // bounds only where the exact path would use them (one uniform
        // numeric kind); rendered as the ORIGINAL record strings so they
        // re-parse to the same BigDecimal
        val numeric = kinds.size == 1 && numericKind(kind)
        val mins = rs.flatMap(r => bd(r.min).map(_ -> r.min.get))
        val maxs = rs.flatMap(r => bd(r.max).map(_ -> r.max.get))
        val mn = if (numeric && mins.nonEmpty) Some(mins.minBy(_._1)._2) else None
        val mx = if (numeric && maxs.nonEmpty) Some(maxs.maxBy(_._1)._2) else None
        JsonCodec.render("col" -> c, "parts" -> parts,
          "psig" -> partSig(rs.map(_.partition).distinct), "kind" -> kind,
          "min" -> mn.orNull, "max" -> mx.orNull, "nulls" -> rs.map(_.nulls).sum,
          "rows" -> rs.map(_.rows).sum,
          "ndv" -> (if (rs.forall(_.ndv.nonEmpty))
            Some(rs.iterator.map(_.ndv.get).sum) else None))
      }
    JsonCodec.writeAtomically(Paths.get(genPath, ColSumFile), lines)
  }

  /** Parsed generation rollup: col → (parts, kind, min, max, nulls,
    * rows, ndvSum). None when absent/unreadable — the exact sidecar
    * parse is the fallback, identical answers.
    */
  final case class ColSummary(parts: Long, psig: Long, kind: String,
                              min: Option[String], max: Option[String],
                              nulls: Long, rows: Long, ndv: Option[Long])

  private[graft] def readColSummary(root: String, gen: String)
      : Option[Map[String, ColSummary]] = {
    val p = Paths.get(root, gen, ColSumFile)
    if (!Files.exists(p)) return None
    scala.util.Try {
      JsonCodec.readLines(p).map { r =>
        r.str("col") -> ColSummary(r.long("parts"),
          r.longOpt("psig").getOrElse(0L), r.strOpt("kind").getOrElse(""),
          r.strOpt("min"), r.strOpt("max"), r.long("nulls"), r.long("rows"),
          r.longOpt("ndv"))
      }.toMap
    }.toOption
  }

  /** Write the generation's FILE INDEX ([[FilesFile]]) from one
    * recursive walk — called at stage time by every data-generation
    * writer, before publish (a crash leaves it inside an unreferenced
    * directory, invisible like the data). Atomic temp+move like every
    * sidecar here.
    */
  private[graft] def writeFileIndex(root: String, gen: String,
                                      pc: String): Unit = {
    val base = Paths.get(root, gen)
    if (!Files.isDirectory(base)) return
    val prefix = s"$pc="
    // (raw partition dir value, basename, bytes, mtime) per data file
    val files = scala.collection.mutable.ArrayBuffer
      .empty[(String, String, Long, Long)]
    val s = Files.walk(base)
    try {
      val it = s.iterator()
      while (it.hasNext) {
        val f = it.next()
        if (f.toString.endsWith(".parquet") && Files.isRegularFile(f)) {
          val rel = base.relativize(f)
          // DIRECT children of the partition dir only (nameCount == 2):
          // every consumer resolves the basename one level under the
          // dir, and the live-listing fallback is shallow — indexing a
          // nested stray would plan a phantom path instead of skipping
          // it like the listing does
          if (rel.getNameCount == 2) {
            val d = rel.getName(0).toString
            if (d.startsWith(prefix)) {
              val pv = d.stripPrefix(prefix)
              // mtime travels with the catalog: the index-backed V1
              // FileIndex surfaces it as _metadata.file_modification_time,
              // which must match what the listed read would report
              val (mt, sz) = graft.Memo.stamp(f.toString)
              files += ((pv, f.getFileName.toString, sz, mt))
            }
          }
        }
      }
    } finally s.close()
    writeIndexLines(base, files.toSeq)
    // the generation DIGEST, from the same walk (r19 verdict task 3):
    // whole-generation rollups so snapshot-level first-touch quantities
    // (planner sizeInBytes, DESCRIBE DETAIL num_files) are O(generations)
    // — the per-file index above is O(partitions) to parse, which at 50k
    // partitions put ~0.4 s in front of the first query per snapshot.
    // psig: order-free signature of the partition SET (count equality
    // alone could theoretically coincide across different sets after a
    // rollback+replace sequence) — readers match count AND signature.
    // Both rollups hash the RAW dir names readers compare against
    val parts = files.map(_._1).toSet
    JsonCodec.writeAtomically(base.resolve(DigestFile), Seq(JsonCodec.render(
      "partitions" -> parts.size, "files" -> files.size,
      "bytes" -> files.iterator.map(_._3).sum, "psig" -> partSig(parts))))
  }

  /** Write a file index from (raw partition value, basename, bytes,
    * mtime) tuples — the stage-time writer and the mtime backfill share
    * it.
    */
  private[sources] def writeIndexLines(genDir: java.nio.file.Path,
      files: Seq[(String, String, Long, Long)]): Unit =
    JsonCodec.writeAtomically(genDir.resolve(FilesFile),
      files.sortBy(f => (f._1, f._2)).map { case (pv, n, b, mt) =>
        JsonCodec.render("partition" -> pv, "file" -> n, "bytes" -> b,
          "mtime" -> mt)
      })

  /** One-line generation rollup written beside [[FilesFile]] from the
    * same stage-time walk: partition-dir count, data-file count, byte
    * total. Lets whole-snapshot quantities resolve without parsing the
    * O(partitions) file index — valid for a manifest exactly when the
    * manifest owns EVERY partition the generation holds, which the
    * owned-count == digest-count test decides (owned is a subset of
    * on-disk by the commit invariant, so equal cardinality is equality).
    */
  val DigestFile = "_graft_digest.json"

  /** Order-free signature of a raw-partition-name set: sum of per-name
    * 64-bit FNV-1a hashes. Not adversarial-proof (our own commits are
    * the only writers) — it exists so two DIFFERENT sets of equal size
    * cannot validate a rollup/digest against each other.
    */
  private[graft] def partSig(parts: Iterable[String]): Long = {
    var acc = 0L
    parts.foreach { s =>
      var h = 0xcbf29ce484222325L
      var i = 0
      while (i < s.length) { h ^= s.charAt(i); h *= 0x100000001b3L; i += 1 }
      acc += h
    }
    acc
  }

  /** Generation digest: (partitions, files, bytes, psig). None when
    * absent or unreadable — strictly an accelerator, like every sidecar
    * here. `psig` is 0 for a pre-r20 digest (never matches a real set's
    * signature unless empty — readers then fall back, identical
    * answers).
    */
  private[graft] def readDigest(root: String, gen: String)
      : Option[(Long, Long, Long, Long)] = {
    val p = Paths.get(root, gen, DigestFile)
    if (!Files.exists(p)) return None
    scala.util.Try {
      val r = JsonCodec.readLines(p).head
      (r.long("partitions"), r.long("files"), r.long("bytes"),
        r.longOpt("psig").getOrElse(0L))
    }.toOption
  }

  /** [[statsMemo]]'s twin for the file index, keyed on the sidecar's
    * (mtime, size) stamp too. Value: partition raw dir
    * value → (file basename, bytes, mtime-millis) triples, name-sorted —
    * or None for an UNPARSABLE index at that stamp (negative cache: an
    * acceleration sidecar degrades, never fails, but a corrupt one must
    * cost ONE read until its bytes change, not a re-read per
    * (generation, partition) per plan — O(P × file bytes) per query
    * otherwise). Only a PARSE failure is cached: the content at a given
    * (mtime, size) stamp is deterministic, so re-parsing cannot succeed.
    * A transient READ failure (IO blip, interrupt) is NOT cached — the
    * next call retries, so one bad read never pins a session to the
    * listing path (and its weaker authority) for an immutable
    * generation.
    */
  private val filesMemo = new graft.Memo[(String, String, (Long, Long)),
    Option[Map[String, Seq[(String, Long, Long)]]]](capacity = 256)

  private[graft] def readFileIndex(root: String, gen: String)
      : Option[Map[String, Seq[(String, Long, Long)]]] = {
    val p = Paths.get(root, gen, FilesFile)
    if (!Files.exists(p)) return None
    // stamp failure (file vanished between exists and stat) = no index
    val stamp = scala.util.Try(graft.Memo.stamp(p.toString))
      .getOrElse(return None)
    val cached = filesMemo.get((root, gen, stamp))
    if (cached.nonEmpty) return cached.get
    // read (transient, retryable — never cached) …
    val raw = try new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
      catch { case scala.util.control.NonFatal(_) => return None }
    // … then parse (deterministic at this stamp — negative-cacheable)
    val parsed = scala.util.Try {
      JsonCodec.parseLines(raw).map { r =>
        (r.str("partition"), (r.str("file"), r.long("bytes"),
          // 0 = a pre-mtime index: still authoritative for names and
          // bytes; the V1 FileIndex declines it (metadata-column parity)
          r.longOpt("mtime").getOrElse(0L)))
      }.groupBy(_._1)
        .map { case (pv, xs) => pv -> xs.map(_._2).sortBy(_._1) }
    }.toOption
    // pre-mtime (r19-format) index: stat each file ONCE and rewrite the
    // sidecar with the stamps, so an existing table regains the
    // zero-listing V1 plan (which declines mtime-less catalogs for
    // _metadata parity) instead of re-listing forever. Best-effort: a
    // read-only store or a vanished file leaves the parsed index as-is
    // — names and bytes still serve every evidence consumer
    val (upgraded, memoStamp) = parsed match {
      case Some(ix) if ix.nonEmpty &&
          ix.valuesIterator.exists(_.exists(_._3 == 0L)) =>
        backfillMtimes(root, gen, ix) match {
          case Some(fixed) =>
            val s2 = scala.util.Try(graft.Memo.stamp(p.toString))
              .getOrElse(stamp)
            (Some(fixed), s2)
          case None => (parsed, stamp)
        }
      case _ => (parsed, stamp)
    }
    filesMemo.put((root, gen, memoStamp), upgraded)
    upgraded
  }

  /** Upgrade an mtime-less file index in place: resolve the partition
    * dir prefix from the generation's own children (the index predates
    * the field, so the caller has no column name to offer), stat every
    * file missing a stamp, and atomically rewrite the sidecar in the
    * current line shape. One O(files) stat pass, paid once — the exact
    * cost the catalog then saves per query. None on any failure.
    */
  private def backfillMtimes(root: String, gen: String,
                             ix: Map[String, Seq[(String, Long, Long)]])
      : Option[Map[String, Seq[(String, Long, Long)]]] = scala.util.Try {
    val genDir = Paths.get(root, gen)
    val pc = {
      val s = Files.list(genDir)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala
          .map(_.getFileName.toString).find(_.contains('='))
          .map(d => d.substring(0, d.indexOf('='))).get
      } finally s.close()
    }
    val fixed = ix.map { case (pv, fs) =>
      pv -> fs.map { case (n, b, mt) =>
        if (mt > 0L) (n, b, mt)
        else (n, b, graft.Memo.stamp(
          genDir.resolve(s"$pc=$pv").resolve(n).toString)._1)
      }
    }
    writeIndexLines(genDir, fixed.toSeq.flatMap { case (pv, fs) =>
      fs.map { case (n, b, mt) => (pv, n, b, mt) }
    })
    fixed
  }.toOption

  /** The (basename, bytes) pairs of one partition directory: from the
    * generation's file index when present (driver metadata, no LIST),
    * else a live listing — identical result either way on an intact
    * table. `dir` must be `$root/$gen/$pc=$pv`.
    */
  private[graft] def partitionFilesSized(root: String, gen: String,
                                           pv: String, dir: String)
      : Seq[(String, Long)] =
    readFileIndex(root, gen)
      .map(_.getOrElse(pv, Nil).map { case (n, b, _) => (n, b) })
      .getOrElse(
        // a stat failure on a file the listing just returned (vacuum race,
        // transient IO) propagates and fails the query loudly — mapping it
        // to 0 would plan the file as an EMPTY slice and silently drop its
        // rows from the answer
        listParquet(dir).sorted.map(f =>
          f -> Files.size(Paths.get(dir, f))))

  /** [[partitionFilesSized]] names-only — the indexed replacement for
    * per-query [[listParquet]] at evidence-check sites.
    */
  private[graft] def listParquetIndexed(root: String, gen: String,
                                          pv: String, dir: String)
      : Seq[String] =
    readFileIndex(root, gen) match {
      case Some(ix) => ix.getOrElse(pv, Nil).map(_._1)
      case None => listParquet(dir)
    }

  /** `ANALYZE TABLE` engine: retrofit or refresh the statistics sidecars
    * of the snapshot's CURRENT owner generations for `cols`, without
    * touching a byte of data layout. A generation is REWRITTEN only when
    * some requested (partition, column) lacks an NDV-annotated envelope
    * record — so re-running is free, a commitWithStats-era table is a
    * no-op, and a pre-NDV (r14) or never-annotated table gets exactly
    * the records [[TableStats.columnStats]] needs for selectivity.
    * Merging keeps every record outside the recomputed
    * (owned-partition × requested-column) set: other columns' evidence
    * and partitions the generation still holds for OTHER snapshots
    * survive verbatim.
    *
    * Columns missing from a generation's footers (schema evolution —
    * older generations predate the column) are skipped for that
    * generation: no data, no evidence, and [[TableStats.columnStats]]
    * treats the absence soundly. Stats are PHYSICAL-slice stats, like
    * every sidecar this module writes: under merge-on-read deletes the
    * envelopes cover deleted rows too — pruning stays sound (a superset
    * interval never drops a match) and counts are upper bounds until the
    * next rewrite.
    *
    * Returns the number of generation sidecars written; 0 = evidence was
    * already complete (callers skip the metadata commit, burning no
    * version).
    */
  val HistFile = "_graft_hist.jsonl"

  /** Equi-depth bucket count: 32 boundaries+1 per slice — enough to
    * price a skewed column's range within ~2× (each bucket holds ~3%
    * of the rows), small enough that a 10k-partition generation's
    * sidecar stays manifest-scale.
    */
  val HistBuckets = 32

  /** Equi-depth histogram of one (partition, column) slice: the
    * `HistBuckets+1` bucket BOUNDARIES over the non-null values,
    * decimal-rendered. `bounds` empty = the slice was analyzed and
    * holds no non-null value (zero matchable rows — evidence, not a
    * gap). Written by [[analyze]] only (the write path stays cheap);
    * numeric columns only.
    */
  final case class ColHist(partition: String, col: String,
                           bounds: Seq[String])

  /** The histogram records of a generation (empty when un-analyzed). */
  def readHists(root: String, gen: String): Seq[ColHist] = {
    val p = Paths.get(root, gen, HistFile)
    if (!Files.exists(p)) return Nil
    JsonCodec.readLines(p).map(r => ColHist(r.str("partition"), r.str("col"),
      r.str("bounds").split(';').toSeq.filter(_.nonEmpty)))
  }

  /** One aggregation job: per-partition equi-depth boundaries of every
    * NUMERIC requested column (`percentile_approx` at manifest-scale
    * accuracy). All-null slices record EMPTY bounds; a boundary that
    * defeats decimal parsing (NaN/Infinity) drops the record — no
    * evidence beats wrong evidence.
    */
  private def computeHists(data: DataFrame, partitionCol: String,
                           cols: Seq[String]): Seq[ColHist] = {
    def typeOf(c: String) = data.schema.find(_.name == c).map(_.dataType)
    // time columns histogram in their EPOCH units (micros/days — the
    // same units their stats records and normalized probes use), so a
    // skewed event-time distribution prices its true bucket mass: a
    // burst day no longer reads like 1/Nth of the range
    val numeric = cols.filter(c => typeOf(c).exists(t =>
      t.isInstanceOf[NumericType] ||
        t == org.apache.spark.sql.types.TimestampType ||
        t == org.apache.spark.sql.types.DateType))
    if (numeric.isEmpty) return Nil
    def histCol(c: String) = typeOf(c) match {
      case Some(org.apache.spark.sql.types.TimestampType) => unix_micros(col(c))
      case Some(org.apache.spark.sql.types.DateType) => unix_date(col(c))
      case _ => col(c)
    }
    val pcts = (0 to HistBuckets).map(_.toDouble / HistBuckets)
    val aggs = numeric.map(c =>
      percentile_approx(histCol(c), typedlit(pcts), lit(10000)).as(s"__h_$c"))
    val rows = data.groupBy(col(partitionCol).cast("string").as("__p"))
      .agg(aggs.head, aggs.tail: _*).collect()
    rows.toSeq.flatMap { r =>
      val p = rawPartitionKey(r.getAs[String]("__p"))
      numeric.flatMap { c =>
        val arr = r.getAs[scala.collection.Seq[Any]](s"__h_$c")
        if (arr == null) Some(ColHist(p, c, Nil))
        else Some(ColHist(p, c, arr.toSeq.map { v =>
          // keep the raw rendering when decimal normalization fails
          // (NaN/Infinity): the record EXISTS — so ANALYZE converges —
          // and consumers Try-parse it, degrading to the uniform
          // fallback instead of wrong evidence
          val raw = String.valueOf(v)
          scala.util.Try(new BigDecimal(raw).toPlainString).getOrElse(raw)
        }))
      }
    }
  }

  private[sources] def writeHistSidecar(genPath: String,
                                        records: Seq[ColHist]): Unit =
    JsonCodec.writeAtomically(Paths.get(genPath, HistFile),
      records.sortBy(h => (h.partition, h.col)).map(h => JsonCodec.render(
        "partition" -> h.partition, "col" -> h.col,
        "bounds" -> h.bounds.mkString(";"))))

  def analyze(spark: SparkSession, root: String,
              m: AtomicCommit.Manifest, cols: Seq[String]): Int = {
    require(cols.nonEmpty, "ANALYZE needs at least one column")
    val genParts: Seq[(String, Seq[String])] = m.entries.toSeq
      .flatMap { case (p, e) => AtomicCommit.ownersOf(e).map(_ -> p) }
      .groupBy(_._1).map { case (g, ps) => g -> ps.map(_._2).sorted }
      .toSeq.sortBy(_._1)
    // exact-summable columns (by the CURRENT table schema) also need a
    // sum record — a pre-r17 envelope without one re-analyzes, while a
    // double column (never summable) or an all-null slice (sum absent
    // IS the evidence) stays complete, keeping re-runs free
    val tableTypes: Map[String, org.apache.spark.sql.types.DataType] =
      scala.util.Try(AtomicCommit.scanManifest(spark, root, m).schema
        .map(f => f.name -> f.dataType).toMap).getOrElse(Map.empty)
    def summable(c: String): Boolean = tableTypes.get(c).exists(exactSummable)
    // numeric columns also carry an equi-depth histogram record — the
    // range-selectivity evidence. Absent record = missing (one
    // retrofit pass); an empty-bounds record (all-null slice) is
    // complete evidence
    def histable(c: String): Boolean =
      tableTypes.get(c).exists(t => t.isInstanceOf[NumericType] ||
        t == org.apache.spark.sql.types.TimestampType ||
        t == org.apache.spark.sql.types.DateType)
    var written = 0
    genParts.foreach { case (gen, parts) =>
      val existing = readStats(root, gen)
      val envelopes = existing.filter(_.file.isEmpty)
        .map(s => (s.partition, s.col) -> s).toMap
      val existingHists = readHists(root, gen)
      val histKeys = existingHists.map(h => (h.partition, h.col)).toSet
      val genPath = s"$root/$gen"
      // lazy: the logical view (one footer probe) is consulted only
      // when some evidence LOOKS missing — a column the generation's
      // footers never carried (schema evolution) can never have
      // evidence, and treating it as forever-missing would re-run the
      // full scan job on every ANALYZE (the convergence bug)
      lazy val data = AtomicCommit.logicalView(
        AtomicCommit.readVerbatim(spark, genPath, m.partitionCol,
          parts.map(v => s"$genPath/${m.partitionCol}=$v")), m)
      lazy val genCols: Set[String] = data.schema.fieldNames.toSet
      val missing = parts.exists(p =>
        cols.exists { c =>
          (envelopes.get((p, c)) match {
            case e if !e.exists(_.ndv.isDefined) => true
            case e => (summable(c) &&
                e.exists(r => r.sum.isEmpty && r.nulls < r.rows)) ||
              (histable(c) && !histKeys((p, c)))
          }) && genCols(c)
        })
      if (missing) {
        val here = cols.filter(genCols)
        if (here.nonEmpty) {
          val fresh = computeRecords(data, m.partitionCol, here)
          val partSet = parts.toSet
          val colSet = here.toSet
          val kept = existing.filterNot(s =>
            partSet(s.partition) && colSet(s.col))
          writeSidecar(genPath, kept ++ fresh)
          val freshHists = computeHists(data, m.partitionCol, here)
          val keptHists = existingHists.filterNot(h =>
            partSet(h.partition) && colSet(h.col))
          if (freshHists.nonEmpty || keptHists.nonEmpty)
            writeHistSidecar(genPath, keptHists ++ freshHists)
          written += 1
        }
      }
    }
    written
  }

  /** Fold file-granular records into the partition envelope, preserving
    * what Spark's global min/max would have rendered: the combined bound
    * is one of the per-file renderings of the same typed value, compared
    * num-as-decimal / str-by-code-point exactly as [[intersects]] reads
    * them back. A bound that defeats decimal parsing (NaN/Infinity in a
    * double column) is passed through verbatim — [[intersects]] treats it
    * as no-evidence and keeps the partition, sound by construction.
    */
  private def combine(p: String, c: String, kind: String,
                      fs: Seq[ColStats]): ColStats = {
    def pick(vals: Seq[String], takeMin: Boolean): Option[String] =
      if (vals.isEmpty) None
      else if (numericKind(kind))
        try {
          val sorted = vals.sortBy(new BigDecimal(_))
          Some(if (takeMin) sorted.head else sorted.last)
        } catch { case _: NumberFormatException =>
          Some(vals.find(v => scala.util.Try(new BigDecimal(v)).isFailure).get)
        }
      else {
        val ord = Ordering.fromLessThan[String](cpCompare(_, _) < 0)
        Some(if (takeMin) vals.min(ord) else vals.max(ord))
      }
    val nulls = fs.map(_.nulls).sum
    val rows = fs.map(_.rows).sum
    // summed file NDVs over-count values spanning files; cap at the
    // non-null row count (an upper bound keeps selectivity conservative)
    val ndv =
      if (fs.forall(_.ndv.isDefined))
        Some(math.min(fs.flatMap(_.ndv).sum, math.max(1L, rows - nulls)))
      else None
    // exact partition sum = decimal sum of file sums; a file with no
    // sum is fine only when it is all-null (its true sum is empty)
    val sum: Option[String] =
      if (fs.forall(s => s.sum.isDefined || s.nulls == s.rows)) {
        val vals = fs.flatMap(_.sum)
        if (vals.isEmpty) None // all-null partition: nulls==rows says so
        else scala.util.Try(
          vals.map(new BigDecimal(_)).reduce(_.add(_)).toPlainString).toOption
      } else None
    ColStats(p, c, kind,
      pick(fs.flatMap(_.min), takeMin = true),
      pick(fs.flatMap(_.max), takeMin = false),
      nulls, rows, None, ndv, sum)
  }

  /** Snapshot read of rows with `colName` between `lower` and `upper`
    * (inclusive), scanning ONLY partitions whose stats interval intersects
    * — un-annotated partitions are scanned too (soundness). Bounds are
    * compared exactly: numbers as decimals, strings by code point.
    */
  def readWhere(spark: SparkSession, root: String, colName: String,
                lower: Any, upper: Any): DataFrame =
    readWhere(spark, root, new PosixManifestStore(root), colName, lower, upper)

  /** The manifest entries that COULD hold a row with `colName` in
    * `[lower, upper]` — the pruning decision, shared by [[readWhere]] and
    * [[Deletes]]' range delete.
    */
  private[sources] def prunedEntries(root: String, m: AtomicCommit.Manifest,
                                     colName: String, lower: Any,
                                     upper: Any): Map[String, String] = {
    // partition-level envelopes only: a file-granular record's narrower
    // interval must never stand in for its partition's (the toMap would
    // otherwise keep an arbitrary record per (partition, col) key)
    val statsByGen: Map[String, Map[(String, String), ColStats]] =
      m.ownerGens
        .map(g => g -> readStats(root, g).filter(_.file.isEmpty)
          .map(s => (s.partition, s.col) -> s).toMap)
        .toMap
    // multi-owner partitions (appends): the partition's rows are the
    // union of its slice of EVERY owner, so it prunes only when every
    // owner has evidence and every owner's interval is disjoint
    m.entries.filter { case (pv, entry) =>
      AtomicCommit.ownersOf(entry).exists { gen =>
        statsByGen(gen).get((pv, colName)) match {
          case None => true // no evidence — must scan
          case Some(s) => intersects(s, lower, upper)
        }
      }
    }
  }

  /** Per-value interval testing stops paying beyond this many values —
    * a 10^5-key runtime join filter would run 10^5 BigDecimal compares
    * per evidence record. Above it the SET's overall [min, max] bounds
    * test the record instead (a sound superset — blooms, whose per-key
    * probe stays cheap at any count via [[localPositions]], refute what
    * bounds can't).
    */
  private[graft] val EqIntervalCap = 4096

  /** The [min, max] of an equality set under [[looseCompare]]'s order —
    * None when the values aren't comparable (callers degrade to admit).
    */
  private[graft] def valueBounds(vs: Seq[Any]): Option[(Any, Any)] =
    scala.util.Try {
      var lo = vs.head
      var hi = vs.head
      vs.foreach { v =>
        if (looseCompare(v, lo) < 0) lo = v
        if (looseCompare(v, hi) > 0) hi = v
      }
      (lo, hi)
    }.toOption

  /** Whether the stats record could hold ANY of `vs`: exact per-value
    * interval tests under [[EqIntervalCap]], the set's overall bounds
    * beyond it (`bounds` is evaluated lazily — only large sets pay it).
    */
  private def intervalAdmitsAny(s: ColStats, vs: Seq[Any],
                                bounds: => Option[(Any, Any)]): Boolean =
    if (vs.length <= EqIntervalCap) vs.exists(v => intersects(s, v, v))
    else bounds.forall { case (lo, hi) => intersects(s, lo, hi) }

  /** Bloom probe positions computed DRIVER-SIDE by evaluating the SAME
    * Catalyst expression tree the sidecar writer ran in its Spark job —
    * `pmod(xxhash64(cast(v AS dt), salt, h), numBits)` — interpreted,
    * one value at a time. Parity with the job path is by construction
    * (identical expression classes; DataSkippingSpec pins it bit-for-
    * bit), and removing the per-parameter-tuple `spark.range(1)` job is
    * what lets a RUNTIME join filter probe a 10^5-key set against
    * per-file blooms in driver milliseconds instead of building a
    * 300k-column local plan. `None` for a value whose cast/eval fails —
    * callers treat it as "could be anywhere" (admit).
    */
  private[graft] def localPositions(values: Seq[Any], dataType: String,
      numBits: Int, numHashes: Int, salt: Long): Seq[Option[Seq[Long]]] = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal, Pmod, XxHash64}
    val dt = scala.util.Try(
      org.apache.spark.sql.catalyst.parser.CatalystSqlParser
        .parseDataType(dataType))
    values.map { v =>
      scala.util.Try {
        val cast = Cast(Literal(v), dt.get)
        (0 until numHashes).map { h =>
          Pmod(new XxHash64(Seq(cast, Literal(salt), Literal(h))),
            Literal(numBits.toLong)).eval(null).asInstanceOf[Long]
        }: Seq[Long]
      }.toOption
    }
  }

  /** The manifest entries that COULD hold a row with `colName` equal to
    * ANY of `values` — the multi-value (runtime join-filter) face of
    * [[prunedEntries]]: an entry survives when any owner generation
    * lacks evidence for it, or any value lands inside its [min, max]
    * envelope (the set's overall bounds beyond [[EqIntervalCap]]).
    * Blooms refute the rest ([[partitionsAdmittingAny]]).
    */
  private[sources] def entriesAdmittingAnyEq(root: String,
                                             m: AtomicCommit.Manifest,
                                             colName: String,
                                             values: Seq[Any]): Map[String, String] = {
    val statsByGen: Map[String, Map[(String, String), ColStats]] =
      m.ownerGens
        .map(g => g -> readStats(root, g).filter(_.file.isEmpty)
          .map(s => (s.partition, s.col) -> s).toMap)
        .toMap
    lazy val bounds = valueBounds(values)
    m.entries.filter { case (pv, entry) =>
      AtomicCommit.ownersOf(entry).exists { gen =>
        statsByGen(gen).get((pv, colName)) match {
          case None => true // no evidence — must scan
          case Some(s) => intervalAdmitsAny(s, values, bounds)
        }
      }
    }
  }

  /** SCAN-path file pruning — [[readWhereAll]]'s per-owner/per-file
    * evidence test generalized to the predicate shapes the graft scan
    * pushes (closed ranges AND equality sets, the latter including
    * RUNTIME join-key filters), with bloom evidence (envelope and
    * per-file) refuting what min/max intervals can't. Returns the
    * per-generation path lists to read: partition DIRECTORIES where no
    * finer evidence exists, individual FILES where it does. None when
    * no file-granular record exists under any owner of `m`'s entries —
    * the caller keeps the dir-granular plan, so evidence-less tables
    * see zero new plan shapes. NO residual filtering happens here: the
    * engine above re-applies every predicate (pruning stays advisory),
    * and both stats and blooms remain sound over merge-on-read deletes
    * (deletion only shrinks a slice's value set).
    */
  private[sources] def prunedScanPaths(spark: SparkSession, root: String,
      m: AtomicCommit.Manifest,
      rangePreds: Seq[(String, Any, Any)],
      eqPreds: Seq[(String, Seq[Any])]): Option[Seq[(String, Seq[String])]] = {
    if (rangePreds.isEmpty && eqPreds.isEmpty) return None
    val statsCache = scala.collection.mutable.Map.empty[String, Seq[ColStats]]
    def statsOf(gen: String): Seq[ColStats] =
      statsCache.getOrElseUpdate(gen, readStats(root, gen))
    val bloomCache = scala.collection.mutable.Map.empty[String, Seq[ColBloom]]
    def bloomsOf(gen: String): Seq[ColBloom] =
      bloomCache.getOrElseUpdate(gen, readBlooms(root, gen))
    // probe positions per (column, bloom params) — local Catalyst eval
    // ([[localPositions]]), cached across every partition and file of
    // the table; an uncomputable probe (None) admits. The early-exit
    // `exists` makes surviving slices cheap; fully-probed slices are
    // the PRUNED ones, where the driver work buys skipped I/O
    val posCache = scala.collection.mutable.Map
      .empty[(String, String, Int, Int, Long), Seq[Option[Seq[Long]]]]
    def positions(c: String, vs: Seq[Any], b: ColBloom): Seq[Option[Seq[Long]]] =
      posCache.getOrElseUpdate((c, b.dataType, b.numBits, b.numHashes, b.salt),
        localPositions(vs, b.dataType, b.numBits, b.numHashes, b.salt))
    def bloomAdmitsAny(c: String, vs: Seq[Any], b: ColBloom): Boolean =
      positions(c, vs, b).exists {
        case None => true
        case Some(ps) => ps.forall { pos =>
          (b.words.getOrElse((pos >> 6).toInt, 0L) & (1L << (pos % 64).toInt)) != 0L
        }
      }
    // large-set interval bounds, one per eq column (lazy map: small
    // sets never compute them)
    val eqBounds: Map[String, Option[(Any, Any)]] =
      eqPreds.filter(_._2.length > EqIntervalCap)
        .map { case (c, vs) => c -> valueBounds(vs) }.toMap
    var sawFileEvidence = false
    val byGen = m.entries.toSeq
      .flatMap { case (pv, entry) => AtomicCommit.ownersOf(entry).map(_ -> pv) }
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (gen, pairs) =>
        val paths = pairs.map(_._2).distinct.sorted.flatMap { pv =>
          val dir = s"$root/$gen/${m.partitionCol}=$pv"
          val sRecs = statsOf(gen).filter(_.partition == pv)
          val bRecs = bloomsOf(gen).filter(_.partition == pv)
          // every predicate must ADMIT the slice under every evidence
          // kind it has; no record for (slice, column) ⇒ cannot prune
          def keepSlice(statFor: String => Option[ColStats],
                        bloomFor: String => Option[ColBloom]): Boolean =
            rangePreds.forall { case (c, lo, hi) =>
              statFor(c).forall(intersects(_, lo, hi))
            } && eqPreds.forall { case (c, vs) =>
              statFor(c).forall(
                intervalAdmitsAny(_, vs, eqBounds.getOrElse(c, None))) &&
                bloomFor(c).forall(bloomAdmitsAny(c, vs, _))
            }
          if (!keepSlice(c => sRecs.find(s => s.col == c && s.file.isEmpty),
              c => bRecs.find(b => b.col == c && b.file.isEmpty)))
            Nil // this OWNER's slice is provably disjoint
          else {
            val cols = (rangePreds.map(_._1) ++ eqPreds.map(_._1)).toSet
            val sFiles = sRecs.filter(r => r.file.nonEmpty && cols(r.col))
            val bFiles = bRecs.filter(r => r.file.nonEmpty && cols(r.col))
            if (sFiles.isEmpty && bFiles.isEmpty) Seq(dir)
            else {
              sawFileEvidence = true
              val recorded = (sFiles.flatMap(_.file) ++
                bFiles.flatMap(_.file)).toSet
              val keepFiles = recorded.toSeq.filter(f => keepSlice(
                c => sFiles.find(s => s.col == c && s.file.contains(f)),
                c => bFiles.find(b => b.col == c && b.file.contains(f))))
              // data files the STATS sidecar never recorded have no
              // evidence against them: scanned. The enumeration comes
              // from the file index when present (its authority
              // contract: files outside it are outside the generation),
              // so a hand-edited stats sidecar still cannot hide an
              // indexed file
              val unrecorded = listParquetIndexed(root, gen, pv, dir).filterNot(recorded)
              (keepFiles ++ unrecorded).sorted.map(f => s"$dir/$f")
            }
          }
        }
        gen -> paths
      }
      .filter(_._2.nonEmpty)
    if (sawFileEvidence) Some(byGen) else None
  }

  def readWhere(spark: SparkSession, root: String, store: ManifestStore,
                colName: String, lower: Any, upper: Any): DataFrame =
    readWhereAll(spark, root, store, Seq((colName, lower, upper)))

  /** Conjunction pruning: rows satisfying EVERY `(col, lower, upper)`
    * range, pruned with every predicate's evidence at every grain —
    * partition envelope, per owner, per file. This is where a
    * [[Compaction.reclusterZorder]] layout earns its keep: each file
    * covers a hyper-rectangle, so an AND of ranges prunes to ~the files
    * whose rectangles intersect the query box (single-column probes keep
    * the slab behavior). Soundness rule per grain and per predicate: no
    * record for (slice, column) ⇒ that predicate cannot prune that slice.
    */
  def readWhereAll(spark: SparkSession, root: String,
                   preds: Seq[(String, Any, Any)]): DataFrame =
    readWhereAll(spark, root, new PosixManifestStore(root), preds)

  def readWhereAll(spark: SparkSession, root: String, store: ManifestStore,
                   preds: Seq[(String, Any, Any)]): DataFrame = {
    require(preds.nonEmpty, "readWhereAll needs at least one predicate")
    val m = AtomicCommit.readManifest(store).getOrElse(
      sys.error(s"no manifest at $root — not an AtomicCommit table"))
    val residual: Column = preds
      .map { case (c, lo, hi) => col(c) >= lit(lo) && col(c) <= lit(hi) }
      .reduce(_ && _)
    // per (owner, partition): keep unless SOME predicate's evidence is
    // disjoint; per (owner, partition, file): same test on file records.
    // The exists-an-owner partition rule of the single-column path is
    // subsumed: a partition contributes nothing exactly when every owner
    // slice is pruned.
    val statsCache = scala.collection.mutable.Map.empty[String, Seq[ColStats]]
    def statsOf(gen: String): Seq[ColStats] =
      statsCache.getOrElseUpdate(gen, readStats(root, gen))
    val byGen = m.entries.toSeq
      .flatMap { case (pv, entry) => AtomicCommit.ownersOf(entry).map(_ -> pv) }
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (gen, pairs) =>
        val paths = pairs.map(_._2).distinct.sorted.flatMap { pv =>
          val dir = s"$root/$gen/${m.partitionCol}=$pv"
          val recs = statsOf(gen).filter(_.partition == pv)
          def keepSlice(recsFor: String => Option[ColStats]): Boolean =
            preds.forall { case (c, lo, hi) =>
              recsFor(c) match {
                case None => true // no evidence — cannot prune on c
                case Some(s) => intersects(s, lo, hi)
              }
            }
          if (!keepSlice(c => recs.find(s => s.col == c && s.file.isEmpty)))
            Nil // this OWNER's slice is provably disjoint on some predicate
          else {
            val fileRecs = recs.filter(_.file.nonEmpty)
            if (fileRecs.isEmpty) Seq(dir)
            else {
              val recorded = fileRecs.flatMap(_.file).toSet
              val keepFiles = recorded.toSeq.filter(f =>
                keepSlice(c => fileRecs.find(s => s.col == c && s.file.contains(f))))
              // a data file the stats sidecar never recorded has no
              // evidence against it — scanned; enumerated from the file
              // index when present (see FilesFile's authority contract)
              val unrecorded = listParquetIndexed(root, gen, pv, dir).filterNot(recorded)
              (keepFiles ++ unrecorded).sorted.map(f => s"$dir/$f")
            }
          }
        }
        gen -> paths
      }
      .filter(_._2.nonEmpty)
    // min/max stats remain SOUND over merge-on-read deletes (a deletion
    // only shrinks the value set), so pruning is unchanged — but the rows
    // returned must have the vectors applied
    val ev = AtomicCommit.deleteEvidence(spark, root, m)
    if (byGen.isEmpty) emptySnapshot(spark, root, m)
    else byGen.map { case (gen, paths) =>
      AtomicCommit.applyDeletes(
        AtomicCommit.logicalView(AtomicCommit.readSlices(spark,
          root, gen, m.partitionCol, paths), m),
        m.partitionCol, gen, ev)
    }.reduce(_.unionByName(_, allowMissingColumns = true))
      .filter(residual)
  }

  /** COUNT of rows with `colName` in `[lower, upper]`, answered from
    * METADATA wherever the stats allow — the table-format trick behind
    * instant `SELECT count(*)` dashboards at 100 TB. Three-way
    * classification per (owner, partition) slice, refined per FILE where
    * file records exist:
    *
    *   - recorded interval DISJOINT from the range → contributes 0;
    *   - recorded interval fully CONTAINED in the range → contributes
    *     `rows - nulls` (a BETWEEN never matches null) with no I/O;
    *   - straddling, or no evidence → queued for one residual scan.
    *
    * The residual scan is a single Spark count over only the straddling
    * files; a probe the stats fully decide touches ZERO data files — the
    * spec proves that by answering over a partition whose data files were
    * physically removed.
    */
  def countWhere(spark: SparkSession, root: String, colName: String,
                 lower: Any, upper: Any): Long =
    countWhere(spark, root, new PosixManifestStore(root), colName, lower, upper)

  def countWhere(spark: SparkSession, root: String, store: ManifestStore,
                 colName: String, lower: Any, upper: Any): Long =
    countWhereAll(spark, root, store, Seq((colName, lower, upper)))

  /** [[countWhere]] for a CONJUNCTION of ranges: a slice contributes 0
    * when ANY predicate's evidence is disjoint, its full row count when
    * EVERY predicate's evidence proves containment (for multi-predicate
    * probes additionally `nulls == 0` per column — per-column null counts
    * say nothing about their co-occurrence, so only null-free slices are
    * decidable; single-predicate probes subtract the one null count
    * exactly), and is scanned otherwise.
    */
  def countWhereAll(spark: SparkSession, root: String,
                    preds: Seq[(String, Any, Any)]): Long =
    countWhereAll(spark, root, new PosixManifestStore(root), preds)

  def countWhereAll(spark: SparkSession, root: String, store: ManifestStore,
                    preds: Seq[(String, Any, Any)]): Long = {
    require(preds.nonEmpty, "countWhereAll needs at least one predicate")
    val m = AtomicCommit.readManifest(store).getOrElse(
      sys.error(s"no manifest at $root — not an AtomicCommit table"))
    val statsCache = scala.collection.mutable.Map.empty[String, Seq[ColStats]]
    def statsOf(gen: String): Seq[ColStats] =
      statsCache.getOrElseUpdate(gen, readStats(root, gen))
    var metaCount = 0L
    val scanPaths = scala.collection.mutable.Map
      .empty[String, Vector[String]] // gen -> paths needing the residual scan
    def queue(gen: String, path: String): Unit =
      scanPaths.updateWith(gen)(v => Some(v.getOrElse(Vector.empty) :+ path))
    val single = preds.size == 1
    // the slice's decided contribution, or None = must scan
    def decide(recFor: String => Option[ColStats]): Option[Long] = {
      var allContained = true
      var contribution = 0L
      preds.foreach { case (c, lo, hi) =>
        recFor(c) match {
          case Some(s) =>
            if (!intersects(s, lo, hi)) return Some(0L)
            if (containedIn(s, lo, hi) && (single || s.nulls == 0L))
              contribution = s.rows - (if (single) s.nulls else 0L)
            else allContained = false
          case None => allContained = false
        }
      }
      if (allContained) Some(contribution) else None
    }
    m.entries.foreach { case (pv, entry) =>
      // a partition with a deletion vector cannot be METADATA-decided:
      // its recorded row counts predate the deletes (overcounts), and
      // interval disjointness is the only still-sound evidence — but the
      // scan path applies the vectors anyway, so the whole entry routes
      // there. Rewrites clear vectors, restoring the metadata fast path.
      val hasDv = AtomicCommit.dvOf(entry).nonEmpty
      AtomicCommit.ownersOf(entry).foreach { gen =>
        val dir = s"$root/$gen/${m.partitionCol}=$pv"
        val recs = statsOf(gen).filter(_.partition == pv)
        val fileRecs = recs.filter(_.file.nonEmpty)
        if (hasDv) {
          // interval-disjoint evidence still prunes (deletes only shrink)
          val disjoint = preds.exists { case (c, lo, hi) =>
            recs.find(s => s.col == c && s.file.isEmpty)
              .exists(s => !intersects(s, lo, hi))
          }
          if (!disjoint) queue(gen, dir)
        } else if (fileRecs.nonEmpty) {
          val files = fileRecs.flatMap(_.file).distinct
          files.foreach { f =>
            decide(c => fileRecs.find(s => s.col == c && s.file.contains(f))) match {
              case Some(n) => metaCount += n
              case None => queue(gen, s"$dir/$f")
            }
          }
          // soundness: files the stats sidecar never recorded must be
          // scanned (index-enumerated when present)
          listParquetIndexed(root, gen, pv, dir).filterNot(files.toSet)
            .foreach(f => queue(gen, s"$dir/$f"))
        } else decide(c => recs.find(s => s.col == c && s.file.isEmpty)) match {
          case Some(n) => metaCount += n
          case None => queue(gen, dir)
        }
      }
    }
    val ev = AtomicCommit.deleteEvidence(spark, root, m)
    val scanned =
      if (scanPaths.isEmpty) 0L
      else scanPaths.toSeq.sortBy(_._1).map { case (gen, paths) =>
        AtomicCommit.applyDeletes(
          AtomicCommit.logicalView(AtomicCommit.readSlices(spark,
            root, gen, m.partitionCol, paths), m),
          m.partitionCol, gen, ev)
      }.reduce(_.unionByName(_, allowMissingColumns = true))
        .filter(preds
        .map { case (c, lo, hi) => col(c) >= lit(lo) && col(c) <= lit(hi) }
        .reduce(_ && _))
        .count()
    metaCount + scanned
  }

  /** Every non-null value provably inside [lower, upper]: the record's
    * interval is contained. All-null slices are vacuously contained
    * (they contribute rows − nulls = 0). Unparseable numeric bounds
    * (NaN/Infinity) are never "contained" — no evidence, scan.
    */
  private def containedIn(s: ColStats, lower: Any, upper: Any): Boolean =
    (s.min, s.max) match {
      case (None, None) => true // all-null: zero matching rows either way
      case (Some(mn), Some(mx)) =>
        if (numericKind(s.kind))
          (numericProbe(s.kind, lower), numericProbe(s.kind, upper)) match {
            case (Some(lo), Some(hi)) =>
              try {
                new BigDecimal(mn).compareTo(lo) >= 0 &&
                  new BigDecimal(mx).compareTo(hi) <= 0
              } catch { case _: NumberFormatException => false }
            case _ => false // unmappable probe: no containment evidence
          }
        else
          cpCompare(mn, lower.toString) >= 0 && cpCompare(mx, upper.toString) <= 0
      case _ => false // half-recorded — no containment evidence
    }

  private[sources] def listParquet(dir: String): Seq[String] =
    Option(Paths.get(dir).toFile.listFiles).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .map(_.getName).toSeq

  /** Scan-free empty relation carrying the table's schema: probe ONE owned
    * directory for the schema (a footer read — the first OWNER of the
    * entry's list, since an appended partition's entry is a comma-joined
    * owner list, not a directory name) and hand back an empty DataFrame
    * so the all-pruned plan touches zero data files.
    */
  private def emptySnapshot(spark: SparkSession, root: String,
                            m: AtomicCommit.Manifest)
      : DataFrame = {
    val (pv, entry) = m.entries.head
    val gen = AtomicCommit.ownersOf(entry).head
    val schema = AtomicCommit.logicalView(
      AtomicCommit.readVerbatim(spark, s"$root/$gen", m.partitionCol,
        Seq(s"$root/$gen/${m.partitionCol}=$pv")), m).schema
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }

  val BloomFile = "_graft_bloom.jsonl"

  /** One (partition, column) bloom record: `words` maps 64-bit word index
    * → set bits (sparse — zero words are absent), built with
    * [[graft.ops.BloomJoin]]'s hash family so build and probe share
    * Spark's own `xxhash64`. `dataType` is the column's Spark type name;
    * the probe casts its literal to it, because `xxhash64` hashes by type
    * width and a long-vs-int mismatch would probe a different filter.
    * `file` present makes the record FILE-granular (the [[ColStats.file]]
    * pattern): the bloom of one data file, written when a partition spans
    * multiple files so [[readWhereEq]] can prune WITHIN a partition it
    * must touch; `file = None` is the partition-level bloom (the union of
    * its files' blooms) and the only record kind pre-r13 sidecars carry.
    */
  final case class ColBloom(partition: String, col: String, dataType: String,
                            numBits: Int, numHashes: Int, salt: Long,
                            words: Map[Int, Long],
                            file: Option[String] = None)

  /** Per-partition bloom sidecar for POINT-LOOKUP skipping — the probe
    * min/max cannot serve: a high-cardinality key (doc_id) spans nearly
    * the full value range in every partition, so interval stats prune
    * nothing, but each partition holds only its own keys and a bloom over
    * them rejects foreign probes with certainty-of-membership semantics
    * reversed: NO FALSE NEGATIVES (a present key always survives), false
    * positives only cost one partition scan. Written between stage and
    * publish like the min/max sidecar, immutable with its generation.
    * Null keys are excluded (an equality probe never matches null);
    * partitions with no non-null keys carry an EMPTY bloom that rejects
    * every probe.
    *
    * Sizing (the [[graft.ops.BloomJoin]] fpp math): the default
    * `numBits = 2^16` holds fpp < 1% to ~5k distinct keys per partition —
    * a 8 KiB-per-partition sidecar. Scale `numBits` with per-partition
    * key count (2^20 ≈ 80k keys at ~1%), but remember the sidecar and its
    * driver-side build grow with `partitions × numBits/64` words: past
    * ~10^5 keys per partition this belongs in parquet row-group bloom
    * filters (`parquet.bloom.filter.enabled`), not a manifest-scale
    * sidecar — the two compose (partition-level rejection first, row-group
    * level within scanned files).
    */
  def annotateStagedBloom(spark: SparkSession, root: String,
                          staged: AtomicCommit.Staged, cols: Seq[String],
                          numBits: Int = 1 << 16, numHashes: Int = 3,
                          salt: Long = 0L): Unit = {
    require(numBits > 0 && numBits % 64 == 0, s"numBits=$numBits")
    require(numHashes >= 1, s"numHashes=$numHashes")
    val genPath = s"$root/${staged.gen}"
    val data = AtomicCommit.readVerbatim(spark, genPath, staged.partitionCol,
      staged.partitions.map(v => s"$genPath/${staged.partitionCol}=$v"))
    val records = cols.flatMap { c =>
      val dt = data.schema.find(_.name == c).getOrElse(
        sys.error(s"bloom column $c not in generation schema")).dataType
      val positions = (0 until numHashes).map(i =>
        pmod(xxhash64(col(c), lit(salt), lit(i)), lit(numBits.toLong)))
      // ONE job at FILE granularity; partition-level blooms are the
      // bitwise OR of their files' words, folded driver-side
      val perFile: Map[(String, String), Map[Int, Long]] =
        data.filter(col(c).isNotNull)
          .select(col(staged.partitionCol).cast("string").as("__p"),
            regexp_extract(input_file_name(), "[^/]+$", 0).as("__f"),
            explode(array(positions: _*)).as("pos"))
          .select(col("__p"), col("__f"),
            shiftright(col("pos"), 6).cast("int").as("word"),
            call_function("shiftleft", lit(1L), (col("pos") % 64).cast("int"))
              .as("mask"))
          .groupBy("__p", "__f", "word").agg(expr("bit_or(mask)").as("bits"))
          .collect()
          .groupBy(r => (rawPartitionKey(r.getAs[String]("__p")),
            r.getAs[String]("__f")))
          .map { case (k, rows) =>
            k -> rows.map(r => r.getAs[Int]("word") -> r.getAs[Long]("bits")).toMap
          }
      val byPartition = perFile.groupBy(_._1._1)
      def orWords(ws: Iterable[Map[Int, Long]]): Map[Int, Long] =
        ws.foldLeft(Map.empty[Int, Long]) { (acc, w) =>
          w.foldLeft(acc) { case (a, (i, bits)) =>
            a.updated(i, a.getOrElse(i, 0L) | bits)
          }
        }
      val partRecords = staged.partitions.map { p =>
        ColBloom(p, c, dt.simpleString, numBits, numHashes, salt,
          orWords(byPartition.getOrElse(p, Map.empty).values))
      }
      // file records only where they can out-prune the partition bloom —
      // and only for files holding non-null keys (an all-null file would
      // need an explicit empty record; the partition union covers it by
      // the unrecorded-file-scans soundness rule)
      val multiFile = byPartition.filter(_._2.size > 1).keySet
      val fileRecords = perFile.collect {
        case ((p, f), words) if multiFile(p) =>
          ColBloom(p, c, dt.simpleString, numBits, numHashes, salt, words,
            Some(f))
      }
      partRecords ++ fileRecords
    }
    JsonCodec.writeAtomically(Paths.get(genPath, BloomFile),
      records.sortBy(b => (b.partition, b.col, b.file.getOrElse("")))
        .map(renderBloom))
  }

  /** Point-lookup read: rows with `colName = value`, scanning only
    * partitions whose bloom (if any) admits the probe — partitions
    * without bloom evidence are scanned (soundness), empty blooms reject.
    */
  def readWhereEq(spark: SparkSession, root: String, colName: String,
                  value: Any): DataFrame =
    readWhereEq(spark, root, new PosixManifestStore(root), colName, value)

  def readWhereEq(spark: SparkSession, root: String, store: ManifestStore,
                  colName: String, value: Any): DataFrame = {
    require(value != null, "equality probe for null never matches — filter isNull instead")
    val m = AtomicCommit.readManifest(store).getOrElse(
      sys.error(s"no manifest at $root — not an AtomicCommit table"))
    val bloomCache = scala.collection.mutable.Map.empty[String, Seq[ColBloom]]
    def bloomsOf(gen: String): Seq[ColBloom] =
      bloomCache.getOrElseUpdate(gen, readBlooms(root, gen))
    // probe positions from the record's declared type via the SAME
    // Catalyst expressions the writer ran ([[localPositions]]), cached
    // per distinct (type, params) tuple across partitions; an
    // uncomputable probe admits (cannot prune soundly)
    val posCache = scala.collection.mutable.Map
      .empty[(String, Int, Int, Long), Option[Seq[Long]]]
    def positions(b: ColBloom): Option[Seq[Long]] =
      posCache.getOrElseUpdate((b.dataType, b.numBits, b.numHashes, b.salt),
        localPositions(Seq(value), b.dataType, b.numBits, b.numHashes,
          b.salt).head)
    def admits(b: ColBloom): Boolean = positions(b).forall(_.forall { pos =>
      (b.words.getOrElse((pos >> 6).toInt, 0L) & (1L << (pos % 64).toInt)) != 0L
    })
    // PER-OWNER and PER-FILE pruning (r13, symmetric with readWhere): the
    // key could live in any owner of an appended partition, but each
    // OWNER prunes independently, and within a multi-file owner slice
    // each FILE's bloom prunes independently. No evidence for a slice ⇒
    // that slice is scanned (soundness).
    val byGen = m.entries.toSeq
      .flatMap { case (pv, entry) => AtomicCommit.ownersOf(entry).map(_ -> pv) }
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (gen, pairs) =>
        val paths = pairs.map(_._2).distinct.sorted.flatMap { pv =>
          val dir = s"$root/$gen/${m.partitionCol}=$pv"
          val recs = bloomsOf(gen).filter(b => b.partition == pv && b.col == colName)
          val envelope = recs.find(_.file.isEmpty)
          if (envelope.exists(b => !admits(b)))
            Nil // this OWNER's slice provably lacks the key
          else {
            val fileRecs = recs.filter(_.file.nonEmpty)
            if (fileRecs.isEmpty) Seq(dir)
            else {
              val recorded = fileRecs.flatMap(_.file).toSet
              val keepFiles = fileRecs.filter(admits).flatMap(_.file)
              // files without bloom records (all-null keys, foreign
              // sidecars) have no evidence against them — scanned;
              // enumerated from the file index when present
              val unrecorded = listParquetIndexed(root, gen, pv, dir).filterNot(recorded)
              (keepFiles ++ unrecorded).sorted.map(f => s"$dir/$f")
            }
          }
        }
        gen -> paths
      }
      .filter(_._2.nonEmpty)
    val residual = col(colName) === lit(value)
    // blooms stay sound over MoR deletes (a deleted key is at worst a
    // false positive — one partition scan); the returned rows merge DVs
    val ev = AtomicCommit.deleteEvidence(spark, root, m)
    if (byGen.isEmpty) emptySnapshot(spark, root, m)
    else byGen.map { case (gen, paths) =>
      AtomicCommit.applyDeletes(
        AtomicCommit.logicalView(AtomicCommit.readSlices(spark,
          root, gen, m.partitionCol, paths), m),
        m.partitionCol, gen, ev)
    }.reduce(_.unionByName(_, allowMissingColumns = true))
      .filter(residual)
  }

  /** Partition values whose bloom evidence ADMITS at least one of
    * `values` on `colName` — [[Deletes.deleteKeysMoR]]'s candidate
    * narrowing. A partition with no envelope evidence for the column
    * (in any owner) is admitted (soundness); one whose every owner's
    * envelope bloom rejects every value is excluded with certainty
    * (blooms have no false negatives). Metadata-only: sidecar reads plus
    * one tiny local hashing job per distinct bloom-parameter tuple.
    */
  private[sources] def partitionsAdmittingAny(spark: SparkSession,
      root: String, m: AtomicCommit.Manifest, colName: String,
      values: Seq[Any]): Seq[String] = {
    val bloomCache = scala.collection.mutable.Map.empty[String, Seq[ColBloom]]
    def bloomsOf(gen: String): Seq[ColBloom] =
      bloomCache.getOrElseUpdate(gen, readBlooms(root, gen))
    val posCache = scala.collection.mutable.Map
      .empty[(String, Int, Int, Long), Seq[Option[Seq[Long]]]]
    def positions(b: ColBloom): Seq[Option[Seq[Long]]] =
      posCache.getOrElseUpdate((b.dataType, b.numBits, b.numHashes, b.salt),
        localPositions(values, b.dataType, b.numBits, b.numHashes, b.salt))
    def admitsAny(b: ColBloom): Boolean = positions(b).exists {
      case None => true
      case Some(ps) => ps.forall { pos =>
        (b.words.getOrElse((pos >> 6).toInt, 0L) & (1L << (pos % 64).toInt)) != 0L
      }
    }
    m.entries.toSeq.sortBy(_._1).filter { case (pv, entry) =>
      AtomicCommit.ownersOf(entry).exists { gen =>
        bloomsOf(gen).find(b =>
          b.partition == pv && b.col == colName && b.file.isEmpty) match {
          case None => true // no evidence — the keys could be here
          case Some(b) => admitsAny(b)
        }
      }
    }.map(_._1)
  }

  /** [[statsMemo]]'s twin for the bloom sidecar — same stamp-keyed
    * invalidation (ANALYZE rewrites blooms via temp+move too).
    */
  private val bloomMemo =
    new graft.Memo[(String, String, (Long, Long)), Seq[ColBloom]](capacity = 256)

  /** The bloom records of a generation (empty when un-annotated). */
  def readBlooms(root: String, gen: String): Seq[ColBloom] = {
    val p = Paths.get(root, gen, BloomFile)
    if (!Files.exists(p)) return Nil
    bloomMemo((root, gen, graft.Memo.stamp(p.toString)))(
      JsonCodec.readLines(p).map(parseBloom))
  }

  // `file` is left out when absent: partition-level records keep the
  // pre-r13 byte format, and an absent field parses back as None
  private[sources] def renderBloom(b: ColBloom): String =
    JsonCodec.render("partition" -> b.partition, "col" -> b.col,
      "file" -> b.file, "dataType" -> b.dataType, "numBits" -> b.numBits,
      "numHashes" -> b.numHashes, "salt" -> b.salt,
      "words" -> b.words.toSeq.sortBy(_._1)
        .map { case (w, bits) => s"$w:${java.lang.Long.toHexString(bits)}" }
        .mkString(";"))

  private[sources] def parseBloom(r: JsonCodec.Record): ColBloom = {
    val words = r.str("words").split(';').toSeq.filter(_.nonEmpty).map { kv =>
      val Array(w, hex) = kv.split(':')
      w.toInt -> java.lang.Long.parseUnsignedLong(hex, 16)
    }.toMap
    ColBloom(r.str("partition"), r.str("col"), r.str("dataType"),
      r.long("numBits").toInt, r.long("numHashes").toInt, r.long("salt"),
      words, r.strOpt("file"))
  }

  /** Sidecar parse memo keyed by the file's (mtime, size) stamp
    * ([[graft.Memo.stamp]]): a
    * generation's DATA is immutable but its sidecar is not (`ANALYZE`
    * retrofits records via temp+move), so content identity rides the
    * stamp — a stat call per hit instead of an O(partitions) JSONL
    * parse per query (the per-query metadata-aggregate and pruning
    * paths both read here; measured as the dominant term of a warm
    * pruned read at 16M/50k — TableBench `meta`).
    */
  private val statsMemo =
    new graft.Memo[(String, String, (Long, Long)), Seq[ColStats]](capacity = 256)

  /** The stats records of a generation (empty when un-annotated). */
  def readStats(root: String, gen: String): Seq[ColStats] = {
    val p = Paths.get(root, gen, StatsFile)
    if (!Files.exists(p)) return Nil
    statsMemo((root, gen, graft.Memo.stamp(p.toString)))(
      JsonCodec.readLines(p).map(parseRecord))
  }

  /** Keep iff some row COULD fall in [lower, upper]: all-null partitions
    * cannot (a between predicate never matches null), and a recorded
    * interval strictly outside the bounds cannot.
    */
  /** Kinds whose recorded bounds compare as exact decimals: plain
    * numerics, and the time kinds — timestamps as epoch micros ("tsn"),
    * dates as epoch days ("dtn"). Pre-r18 sidecars only ever carry
    * "num"/"str", so old evidence reads back unchanged.
    */
  private[sources] def numericKind(kind: String): Boolean =
    kind == "num" || kind == "tsn" || kind == "dtn"

  /** A probe value normalized into the record kind's numeric unit:
    * plain values parse as decimals under "num"; time probes map to the
    * kind's epoch unit (micros for "tsn", days for "dtn"; date-only
    * probes promote at UTC midnight, matching the unix_micros/unix_date
    * recording). None = unmappable — no evidence, the caller keeps the
    * slice (scan), never guesses.
    */
  private[sources] def numericProbe(kind: String, v: Any): Option[BigDecimal] = {
    if (v == null) return None
    if (kind == "num")
      return scala.util.Try(new BigDecimal(String.valueOf(v))).toOption
    val inst: Option[java.time.Instant] = v match {
      case t: java.sql.Timestamp => Some(t.toInstant)
      case d: java.sql.Date =>
        Some(d.toLocalDate.atStartOfDay(java.time.ZoneOffset.UTC).toInstant)
      case d: java.time.LocalDate =>
        Some(d.atStartOfDay(java.time.ZoneOffset.UTC).toInstant)
      case i: java.time.Instant => Some(i)
      case d: java.time.LocalDateTime =>
        Some(d.toInstant(java.time.ZoneOffset.UTC))
      case n: java.lang.Number => // already in the record's own unit
        return scala.util.Try(new BigDecimal(n.toString)).toOption
      case _ => None
    }
    kind match {
      case "tsn" => inst.map(i =>
        new BigDecimal(i.getEpochSecond).multiply(new BigDecimal(1000000L))
          .add(new BigDecimal(i.getNano / 1000)))
      case "dtn" => inst.map(i =>
        new BigDecimal(java.lang.Math.floorDiv(i.getEpochSecond, 86400L)))
      case _ => None
    }
  }

  private def intersects(s: ColStats, lower: Any, upper: Any): Boolean =
    (s.min, s.max) match {
      case (None, None) => s.rows == 0 // all-null ⇒ no match possible
      case (Some(mn), Some(mx)) =>
        if (numericKind(s.kind)) {
          // NaN/Infinity bounds (a double column holding them) are not
          // decimals — no usable evidence, keep the partition; an
          // unmappable time probe likewise keeps it
          (numericProbe(s.kind, lower), numericProbe(s.kind, upper)) match {
            case (Some(lo), Some(hi)) =>
              try {
                new BigDecimal(mx).compareTo(lo) >= 0 &&
                  new BigDecimal(mn).compareTo(hi) <= 0
              } catch { case _: NumberFormatException => true }
            case _ => true
          }
        } else {
          cpCompare(mx, lower.toString) >= 0 && cpCompare(mn, upper.toString) <= 0
        }
      case _ => true // half-recorded — treat as no evidence
    }

  /** Order two pushed-filter literals of one column: numbers as exact
    * decimals, anything else by code point — [[GraftRelation]]'s bound
    * tightening when several comparisons constrain the same column.
    */
  private[sources] def looseCompare(a: Any, b: Any): Int = (a, b) match {
    case (x: java.lang.Number, y: java.lang.Number) =>
      new BigDecimal(x.toString).compareTo(new BigDecimal(y.toString))
    // time literals order chronologically, never by rendering (a
    // session-timezone toString could mis-fold two bounds on one
    // column) — and at FULL precision via Instant: a millis-only
    // compare (getTime) would tie sub-millisecond timestamps, and
    // [[valueBounds]] built on a tied compare could pick an envelope
    // that excludes a matching partition (silent row loss under large
    // runtime key sets). Timestamp.toInstant carries nanos; a plain
    // java.util.Date is millis-exact by construction.
    case (x: java.util.Date, y: java.util.Date) =>
      def inst(d: java.util.Date): java.time.Instant = d match {
        case t: java.sql.Timestamp => t.toInstant
        case o => java.time.Instant.ofEpochMilli(o.getTime)
      }
      inst(x).compareTo(inst(y))
    case (x: java.time.Instant, y: java.time.Instant) => x.compareTo(y)
    case (x: java.time.LocalDate, y: java.time.LocalDate) => x.compareTo(y)
    case _ => cpCompare(String.valueOf(a), String.valueOf(b))
  }

  /** `a <= b` under a record's `kind` — numeric records compare as
    * decimals, string records by code point (the order Spark realizes).
    * Unparseable numeric bounds prove nothing and compare false, the
    * same conservatism as [[containedIn]]. The batch face's sort-order
    * verification uses this to check consecutive files of a reclustered
    * partition really cover non-interleaved key ranges.
    */
  private[sources] def boundLeq(kind: String, a: String, b: String): Boolean =
    if (numericKind(kind))
      try new BigDecimal(a).compareTo(new BigDecimal(b)) <= 0
      catch { case _: NumberFormatException => false }
    else cpCompare(a, b) <= 0

  /** Lexicographic comparison by Unicode CODE POINT — the order Spark's
    * binary UTF8String comparison realizes. Java's `String.compareTo`
    * (UTF-16 units) would rank supplementary characters below U+E000..
    * U+FFFF and could prune a partition that actually matches.
    */
  private[graft] def cpCompare(a: String, b: String): Int = {
    val ai = a.codePoints().iterator()
    val bi = b.codePoints().iterator()
    while (ai.hasNext && bi.hasNext) {
      val c = Integer.compare(ai.nextInt(), bi.nextInt())
      if (c != 0) return c
    }
    java.lang.Boolean.compare(ai.hasNext, bi.hasNext)
  }

  // `file`, `ndv` and `sum` are left out when absent: older sidecars
  // (pre-r13/r15/r17) stay byte-stable and an absent field parses back as
  // None; an all-null slice renders its bounds as JSON null
  private[sources] def renderRecord(s: ColStats): String =
    JsonCodec.render("partition" -> s.partition, "col" -> s.col,
      "file" -> s.file, "kind" -> s.kind, "min" -> s.min.orNull,
      "max" -> s.max.orNull, "nulls" -> s.nulls, "rows" -> s.rows,
      "ndv" -> s.ndv, "sum" -> s.sum)

  private[sources] def parseRecord(r: JsonCodec.Record): ColStats =
    ColStats(r.str("partition"), r.str("col"), r.str("kind"),
      r.strOpt("min"), r.strOpt("max"), r.long("nulls"), r.long("rows"),
      r.strOpt("file"), r.longOpt("ndv"), r.strOpt("sum"))
}
