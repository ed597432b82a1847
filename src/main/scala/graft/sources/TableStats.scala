package graft.sources

import java.nio.file.{Files, Path, Paths}

import graft.sources.AtomicCommit.Manifest

/** SNAPSHOT STATISTICS for the SQL planner — the missing half of "is
  * this join broadcast-able, and did the engine broadcast it?".
  *
  * Without a size estimate, Spark prices every external relation at
  * `spark.sql.defaultSizeInBytes` (effectively infinite), so a SQL join
  * against even a 10-row graft dimension table NEVER auto-broadcasts and
  * the planner falls back to a full shuffle — the exact scale defect
  * this engine exists to avoid. (Delta and Iceberg both feed file sizes
  * from their logs into the planner for the same reason.)
  *
  * Source of truth: the data files the snapshot actually references —
  * per partition, the sum of parquet byte sizes under each owner
  * generation's partition directory. That is a driver-side metadata walk
  * (same cost class as vacuum's liveness listing), done once per
  * snapshot and cached in a bounded [[graft.Memo]]: manifests are
  * immutable per version, so an entry never goes stale, and commits
  * arrive at new versions with their own entries. Row counts come for
  * free from the skipping sidecars ([[DataSkipping.readStats]]) when
  * every owner generation is annotated; merge-on-read deletion vectors make the physical row count
  * an overestimate of the logical one, so a snapshot carrying DVs
  * reports bytes only (bytes stay RIGHT — the scan still reads those
  * files — while a wrong row count would mislead CBO cardinality).
  */
object TableStats {

  /** Cache key: the manifest CONTENT that statistics derive from, not
    * its version number — a [[BranchStore]] lineage shares the root and
    * an overlapping version sequence with main, so after a fork diverges
    * `main v3` and `branch v3` are different snapshots; keying on the
    * entry map (which names every file set the stats walk) keeps each
    * lineage's numbers its own, while identical snapshots still share.
    * The `ANALYZE` marker joins the key because [[DataSkipping.analyze]]
    * adds sidecar evidence WITHOUT changing any entry — the marker
    * commit is what moves cached "no evidence" to the fresh numbers.
    */
  private type Key = (String, String, String)
  private def keyOf(root: String, m: Manifest): Key =
    // entriesDigest stands in for the entry map itself: same
    // (partitionCol, entries) → same digest → identical cache sharing
    // to the old entries-valued key, at O(1) hashing per lookup instead
    // of an O(partitions) Map.hashCode per cache touch
    (root, m.entriesDigest,
      m.props.getOrElse(AtomicCommit.StatsAnalyzedProp, ""))

  /** partition → live data bytes, cached per immutable snapshot. */
  private val bytesCache = new graft.Memo[Key, Map[String, Long]](capacity = 256)

  /** partition → physical rows (None when any owner gen lacks stats). */
  private val rowsCache =
    new graft.Memo[Key, Option[Map[String, Long]]](capacity = 256)

  def partitionBytes(root: String, m: Manifest): Map[String, Long] =
    bytesCache(keyOf(root, m))(computeBytes(root, m))

  /** Per-partition live bytes: the generation's FILE INDEX when it has
    * one ([[DataSkipping.readFileIndex]] — bytes are recorded at stage
    * time, zero I/O beyond the memoized sidecar read), else ONE
    * recursive walk per GENERATION attributing files to their partition
    * directory — never one walk per (generation, partition): stream
    * setup stays O(generations), and on an object store that is one
    * LIST per generation prefix instead of one per partition (measured
    * ~1 s of 50k per-dir walks at 16M/50000 — TableBench `meta`). Files
    * in directories the manifest does not own for this generation
    * (superseded partitions) are never sized on either path.
    */
  private def computeBytes(root: String, m: Manifest): Map[String, Long] = {
    val pc = m.partitionCol
    val acc = scala.collection.mutable.HashMap.empty[String, Long]
    m.entries.toSeq
      .flatMap { case (p, e) => AtomicCommit.ownersOf(e).map(_ -> p) }
      .groupBy(_._1).foreach { case (gen, ps) =>
        val owned = ps.iterator.map(_._2).toSet
        DataSkipping.readFileIndex(root, gen) match {
          case Some(ix) => owned.foreach { pv =>
            acc(pv) = acc.getOrElse(pv, 0L) +
              ix.getOrElse(pv, Nil).iterator.map(_._2).sum
          }
          case None => walkGenFiles(root, gen, pc) { (pv, f) =>
            if (owned(pv)) acc(pv) = acc.getOrElse(pv, 0L) + Files.size(f)
          }
        }
      }
    m.entries.map { case (p, _) => p -> acc.getOrElse(p, 0L) }
  }

  /** The shared fallback walk: visit every `*.parquet` under the
    * generation ONCE, handing (partition raw value, path) to `f` —
    * the one place the attribute-by-first-path-component logic lives
    * (computeBytes and DESCRIBE DETAIL's num_files both fall back
    * here when a generation predates the file index).
    */
  private[graft] def walkGenFiles(root: String, gen: String, pc: String)(
      f: (String, Path) => Unit): Unit = {
    val base = Paths.get(root, gen)
    if (!Files.isDirectory(base)) return
    val prefix = s"$pc="
    val s = Files.walk(base)
    try {
      val it = s.iterator()
      while (it.hasNext) {
        val p = it.next()
        if (p.toString.endsWith(".parquet") && Files.isRegularFile(p)) {
          val rel = base.relativize(p)
          if (rel.getNameCount >= 2) {
            val d = rel.getName(0).toString
            if (d.startsWith(prefix)) f(d.stripPrefix(prefix), p)
          }
        }
      }
    } finally s.close()
  }

  /** Bytes of the whole snapshot, or of a pruned subset of partitions
    * (the DSv2 scan calls this AFTER manifest/stats pruning, so the
    * planner prices the partitions the scan will actually read).
    *
    * Whole-snapshot form: O(generations) via the stage-time DIGESTS when
    * every generation is fully owned by this manifest (the common case —
    * a generation is shared-and-partial only after a REPLACE superseded
    * some of its partitions), so the FIRST query of a snapshot no longer
    * pays the O(partitions) file-index parse just to price the scan
    * (measured 433 ms at 16M/50k — TableBench `meta`). Any generation
    * without a usable digest falls back to the exact per-partition path.
    */
  def sizeInBytes(root: String, m: Manifest): Long = {
    val key = keyOf(root, m)
    // O(1) warm path first — re-summing the per-partition map on every
    // call would be an O(partitions) fold per planning touch whenever
    // partitionBytes happened to materialize before the first
    // whole-snapshot ask
    sizeCache(key)(bytesCache.get(key) match {
      case Some(bytes) => bytes.values.sum
      case None =>
        digestBytes(root, m).getOrElse(partitionBytes(root, m).values.sum)
    })
  }

  /** Whole-snapshot byte total, memoized per immutable snapshot (the
    * digest path resolves it without materializing the per-partition
    * map, so it gets its own cache).
    */
  private val sizeCache = new graft.Memo[Key, Long](capacity = 256)

  /** Digest-summed snapshot bytes: Some only when EVERY generation
    * carries a digest whose partition count equals the count this
    * manifest owns in it (owned ⊆ on-disk by the commit invariant, so
    * equal cardinality means the manifest owns the whole generation and
    * the generation total is exactly the owned total).
    */
  private def digestBytes(root: String, m: Manifest): Option[Long] = {
    var total = 0L
    val ok = m.entries.toSeq
      .flatMap { case (p, e) => AtomicCommit.ownersOf(e).map(_ -> p) }
      .groupBy(_._1).forall { case (gen, ps) =>
        DataSkipping.readDigest(root, gen) match {
          case Some((parts, _, bytes, psig)) =>
            val owned = ps.map(_._2).distinct
            if (parts == owned.size &&
              psig == DataSkipping.partSig(owned)) { total += bytes; true }
            else false
          case _ => false
        }
      }
    if (ok) Some(total) else None
  }

  def sizeInBytes(root: String, m: Manifest, parts: Set[String]): Long = {
    val all = partitionBytes(root, m)
    parts.iterator.map(all.getOrElse(_, 0L)).sum
  }

  /** partition → physical row count from the per-generation stats
    * sidecars: the partition-envelope record (`file = None`) of ANY
    * column carries the slice's row count. None when any owner
    * generation is un-annotated (a table written without
    * [[DataSkipping.commitWithStats]]) — callers fall back to
    * bytes-only statistics rather than guess.
    */
  def partitionRows(root: String, m: Manifest): Option[Map[String, Long]] =
    rowsCache(keyOf(root, m))(computeRows(root, m))

  private def computeRows(root: String, m: Manifest): Option[Map[String, Long]] = {
    val gens = m.ownerGens
    val byGen: Map[String, Map[String, Long]] = gens.map { g =>
      g -> DataSkipping.readStats(root, g)
        .filter(_.file.isEmpty)
        .groupBy(_.partition)
        .map { case (p, recs) => p -> recs.head.rows }
    }.toMap
    val perPart = m.entries.toSeq.map { case (p, entry) =>
      val counts = AtomicCommit.ownersOf(entry).map(g => byGen(g).get(p))
      if (counts.exists(_.isEmpty)) None else Some(p -> counts.flatten.sum)
    }
    if (perPart.exists(_.isEmpty)) None
    else Some(perPart.flatten.toMap)
  }

  /** Logical row count of the snapshot (or a partition subset): physical
    * rows from the sidecars, defined only when every owner generation is
    * annotated AND no entry carries a deletion vector (DV-marked rows
    * are physically present but logically gone — reporting the physical
    * count would overstate cardinality to CBO).
    */
  def rowCount(root: String, m: Manifest): Option[Long] =
    rowCount(root, m, m.entries.keySet)

  def rowCount(root: String, m: Manifest, parts: Set[String]): Option[Long] = {
    val hasDv = m.entries.exists { case (p, e) =>
      parts(p) && AtomicCommit.dvOf(e).isDefined
    }
    if (hasDv) None
    else partitionRows(root, m).map(all =>
      parts.iterator.map(all.getOrElse(_, 0L)).sum)
  }

  /** COLUMN-LEVEL planner statistics over a partition subset — the
    * selectivity half of CBO input (sizeInBytes/rowCount above are the
    * cardinality half): non-null rows, an NDV estimate, and global
    * numeric bounds, aggregated from the skipping sidecars' envelope
    * records. NDV is the sum of per-slice HyperLogLog estimates capped
    * at the non-null count — an upper bound under cross-slice overlap,
    * which keeps equality-selectivity (rows/NDV) conservative. None
    * unless EVERY owner generation of every selected partition carries
    * an ndv-annotated record for the column (pre-r15 sidecars lack the
    * field): estimates never guess over missing evidence.
    */
  /** `kind` is the sidecar record kind ("num"/"str"/"tsn"/"dtn") — the
    * numeric bounds of the TIME kinds are in their epoch units, and a
    * caller pricing a probe against them must normalize it with
    * [[DataSkipping.numericProbe]] under this kind.
    */
  final case class ColumnStats(rows: Long, nonNull: Long, ndv: Long,
                               numMin: Option[java.math.BigDecimal],
                               numMax: Option[java.math.BigDecimal],
                               kind: String = "num")

  private val colCache = new graft.Memo[
    (Key, String, Set[String]), Option[ColumnStats]](capacity = 256)

  def columnStats(root: String, m: Manifest, colName: String,
                  parts: Set[String]): Option[ColumnStats] =
    colCache((keyOf(root, m), colName, parts))(
      computeColumnStats(root, m, colName, parts))

  private def computeColumnStats(root: String, m: Manifest, colName: String,
                                 parts: Set[String]): Option[ColumnStats] = {
    val selected = m.entries.filter { case (p, _) => parts(p) }
    if (selected.isEmpty) return None
    // WHOLE-TABLE fast path via the generation column rollups: when the
    // request covers every entry and every generation is fully owned
    // (owned count == rollup `parts` — owned ⊆ on-disk, so equal
    // cardinality is whole ownership), the combine is O(generations)
    // and numerically identical to the exact path below. Any gap —
    // missing rollup, partial ownership, mixed kinds the exact path
    // would also reject bounds for — falls through to the sidecar parse.
    if (parts == m.entries.keySet)
      rollupColumnStats(root, m, colName).foreach(r => return r)
    val gens = selected.values.flatMap(AtomicCommit.ownersOf).toSeq.distinct
    val byGen: Map[String, Map[String, DataSkipping.ColStats]] = gens.map { g =>
      g -> DataSkipping.readStats(root, g)
        .filter(s => s.file.isEmpty && s.col == colName)
        .groupBy(_.partition).map { case (p, rs) => p -> rs.head }
    }.toMap
    val recs = selected.toSeq.flatMap { case (p, entry) =>
      AtomicCommit.ownersOf(entry).map(g => byGen(g).get(p))
    }
    if (recs.exists(r => r.isEmpty || r.get.ndv.isEmpty)) return None
    val rs = recs.flatten
    val rows = rs.map(_.rows).sum
    val nonNull = rs.map(r => r.rows - r.nulls).sum
    val ndv = math.min(rs.flatMap(_.ndv).sum, math.max(1L, nonNull))
    def bd(o: Option[String]): Option[java.math.BigDecimal] =
      o.flatMap(v => scala.util.Try(new java.math.BigDecimal(v)).toOption)
    // one uniform kind required for usable bounds (mixed kinds across
    // generations — a type rewrite mid-history — prove nothing)
    val kind = rs.head.kind
    val numeric = rs.forall(r => r.kind == kind) &&
      DataSkipping.numericKind(kind)
    val mins = rs.flatMap(r => bd(r.min))
    val maxs = rs.flatMap(r => bd(r.max))
    Some(ColumnStats(rows, nonNull, ndv,
      if (numeric && mins.nonEmpty) Some(mins.min) else None,
      if (numeric && maxs.nonEmpty) Some(maxs.max) else None,
      kind))
  }

  /** The rollup combine: OUTER None = the rollups cannot decide (fall
    * through to the exact parse); Some(inner) = the decided answer,
    * where inner None reproduces the exact path's refusal (a partition
    * record without NDV exists, encoded as an absent rollup `ndv`).
    */
  private def rollupColumnStats(root: String, m: Manifest, colName: String)
      : Option[Option[ColumnStats]] = {
    val byGen = m.entries.toSeq
      .flatMap { case (p, e) => AtomicCommit.ownersOf(e).map(_ -> p) }
      .groupBy(_._1).toSeq.sortBy(_._1)
    val sums = byGen.map { case (gen, ps) =>
      val owned = ps.map(_._2).distinct
      DataSkipping.readColSummary(root, gen).flatMap(_.get(colName))
        .filter(s => s.parts == owned.size &&
          s.psig == DataSkipping.partSig(owned))
    }
    if (sums.exists(_.isEmpty)) return None // a gap: exact path decides
    val rs = sums.flatten
    if (rs.exists(_.ndv.isEmpty)) return Some(None) // exact would refuse
    // kind uniformity: mixed kinds (a type rewrite mid-history) keep the
    // exact path's record-level judgment
    if (rs.exists(_.kind.isEmpty) || rs.exists(_.kind != rs.head.kind))
      return None
    val rows = rs.map(_.rows).sum
    val nonNull = rs.map(r => r.rows - r.nulls).sum
    val ndv = math.min(rs.flatMap(_.ndv).sum, math.max(1L, nonNull))
    def bd(o: Option[String]): Option[java.math.BigDecimal] =
      o.flatMap(v => scala.util.Try(new java.math.BigDecimal(v)).toOption)
    val kind = rs.head.kind
    val numeric = kind.nonEmpty && rs.forall(_.kind == kind) &&
      DataSkipping.numericKind(kind)
    val mins = rs.flatMap(r => bd(r.min))
    val maxs = rs.flatMap(r => bd(r.max))
    Some(Some(ColumnStats(rows, nonNull, ndv,
      if (numeric && mins.nonEmpty) Some(mins.min) else None,
      if (numeric && maxs.nonEmpty) Some(maxs.max) else None,
      kind)))
  }

  // ---- equi-depth histogram selectivity ([[DataSkipping.analyze]]'s
  // `_graft_hist.jsonl` sidecars) ------------------------------------

  private val histCache = new graft.Memo[
    (Key, String, Set[String]),
    Option[Seq[(Seq[java.math.BigDecimal], Long)]]](capacity = 256)

  /** Per-slice (bucket bounds, non-null rows) for `colName` over the
    * selected partitions — None unless EVERY owner slice carries BOTH
    * a histogram record and a stats envelope (estimates never guess
    * over missing evidence). Empty bounds = all-null slice, zero
    * matchable rows.
    */
  private def sliceHists(root: String, m: Manifest, colName: String,
                         parts: Set[String])
      : Option[Seq[(Seq[java.math.BigDecimal], Long)]] =
    histCache((keyOf(root, m), colName, parts)) {
      val selected = m.entries.filter { case (p, _) => parts(p) }
      if (selected.isEmpty) None
      else {
        val gens = selected.values.flatMap(AtomicCommit.ownersOf).toSeq.distinct
        val byGenH: Map[String, Map[String, DataSkipping.ColHist]] = gens.map { g =>
          g -> DataSkipping.readHists(root, g).filter(_.col == colName)
            .groupBy(_.partition).map { case (p, hs) => p -> hs.head }
        }.toMap
        val byGenS: Map[String, Map[String, DataSkipping.ColStats]] = gens.map { g =>
          g -> DataSkipping.readStats(root, g)
            .filter(s => s.file.isEmpty && s.col == colName)
            .groupBy(_.partition).map { case (p, rs) => p -> rs.head }
        }.toMap
        val slices = selected.toSeq.flatMap { case (p, entry) =>
          AtomicCommit.ownersOf(entry).map { g =>
            for {
              h <- byGenH(g).get(p)
              s <- byGenS(g).get(p)
              bounds <- scala.util.Try(
                h.bounds.map(new java.math.BigDecimal(_))).toOption
            } yield (bounds, math.max(0L, s.rows - s.nulls))
          }
        }
        if (slices.exists(_.isEmpty)) None else Some(slices.flatten)
      }
    }

  /** Fraction of one slice's rows falling in [lo, hi] under its
    * equi-depth bounds: each bucket holds 1/k of the rows; degenerate
    * buckets (equal bounds — heavy hitters) count fully iff their
    * value is inside, others by linear interpolation of the overlap.
    */
  private def histFrac(bounds: Seq[java.math.BigDecimal],
                       lo: java.math.BigDecimal,
                       hi: java.math.BigDecimal): Double = {
    if (bounds.length < 2) return 0.0 // all-null slice (or malformed)
    val k = bounds.length - 1
    var f = 0.0
    var i = 0
    while (i < k) {
      val b0 = bounds(i)
      val b1 = bounds(i + 1)
      if (b1.compareTo(b0) == 0) {
        if (lo.compareTo(b0) <= 0 && b0.compareTo(hi) <= 0) f += 1.0 / k
      } else {
        val ov = hi.min(b1).subtract(lo.max(b0))
        if (ov.signum > 0)
          f += math.min(1.0,
            ov.doubleValue / b1.subtract(b0).doubleValue) / k
      }
      i += 1
    }
    math.min(1.0, f)
  }

  /** Estimated rows with `colName` in [lo, hi], summed per slice from
    * the equi-depth histograms — the range-selectivity evidence that
    * prices a SKEWED column honestly where min/max interpolation is
    * 10× off. None = some slice lacks histogram evidence (callers
    * fall back to uniform interpolation).
    */
  def histogramRows(root: String, m: Manifest, colName: String,
                    parts: Set[String], lo: java.math.BigDecimal,
                    hi: java.math.BigDecimal): Option[Double] =
    sliceHists(root, m, colName, parts).map(_.iterator.map {
      case (bounds, nonNull) => nonNull * histFrac(bounds, lo, hi)
    }.sum)

  /** HEAVY-HITTER floor for a point value: rows provably ≈ equal to
    * `v` because equi-depth bucket boundaries COLLAPSED onto it (j
    * degenerate buckets ⇒ ≥ j/k of the slice's rows hold v). Zero for
    * ordinary values — callers take `max(heavy, nonNull/ndv)`, so the
    * uniform-frequency estimate keeps pricing the long tail while a
    * `status = 'common'` probe on a 90%-one-value column prices at
    * its true mass instead of 1/ndv. None = missing evidence.
    */
  def histogramPointRows(root: String, m: Manifest, colName: String,
                         parts: Set[String],
                         v: java.math.BigDecimal): Option[Double] =
    sliceHists(root, m, colName, parts).map(_.iterator.map {
      case (bounds, nonNull) =>
        if (bounds.length < 2) 0.0
        else {
          val k = bounds.length - 1
          var degenerate = 0
          var i = 0
          while (i < k) {
            if (bounds(i).compareTo(bounds(i + 1)) == 0 &&
              bounds(i).compareTo(v) == 0) degenerate += 1
            i += 1
          }
          nonNull * degenerate.toDouble / k
        }
    }.sum)
}
