package graft.sources

import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentHashMap

import graft.sources.AtomicCommit.{Manifest, Staged}

/** MULTI-TABLE TRANSACTIONS: one atomic commit spanning several
  * [[AtomicCommit]] tables — the corpus + its dedup index, a table and
  * its materialized aggregate, a fact table and the audit row that
  * vouches for it. Either every table's change becomes visible or none
  * does, under crashes at any point and under concurrent single-table
  * writers, WITHOUT any new storage primitive: the protocol is built
  * entirely from the manifest CAS ([[ManifestStore.putIfAbsent]]) that
  * single-table commits already use.
  *
  * == Protocol (cooperative two-phase commit, decision-object variant) ==
  *
  * PREPARE: participants sort by root (a canonical order, so concurrent
  * transactions collide deterministically) and each table publishes its
  * staged change as an ordinary CAS commit whose manifest additionally
  * carries `graft.txn.id` / `graft.txn.decisionroot` props — a PENDING
  * manifest. Because prepare rides the normal publish path, it gets every
  * existing validation for free (read-set conflicts, CHECK-constraint
  * races, the exactly-once watermark guard) and serializes against all
  * other writers with no separate lock object.
  *
  * DECIDE: after every table is prepared, the coordinator atomically
  * creates ONE decision object (`_graft_txn.<id>.json`, create-if-absent
  * in the first participant's store) saying `commit`. The create is the
  * commit point: whoever creates the object first — coordinator
  * committing, or a concurrent writer force-aborting a stalled
  * transaction — decides for everyone, and the decision is immutable.
  *
  * FINALIZE: on commit, each table gets a props-only seal commit
  * dropping the txn markers (lazy — any later commit strips them too);
  * on abort, each pending manifest is capped by a REVERT commit that
  * restores the previous version's entries (or, for a version-1 pending
  * manifest, the manifest is deleted — the table never existed). Both
  * finalizations are idempotent CAS races any helper may run.
  *
  * == Visibility and liveness ==
  *
  *  - READERS ([[AtomicCommit.readManifest]]) resolve a pending head
  *    through the decision object: committed serves as-is; undecided or
  *    aborted steps down to the version below — snapshot isolation, a
  *    reader never observes half a transaction and never blocks.
  *  - WRITERS (the publish CAS loop) finding a pending head help it to
  *    completion: a decided transaction is finalized and the writer
  *    proceeds on the result; an undecided one is given
  *    [[undecidedGraceMillis]] to decide and then FORCE-ABORTED (the
  *    writer creates the `abort` decision). Single-table traffic
  *    therefore never blocks behind a crashed coordinator — the Iceberg/
  *    Nessie-style liveness choice: transactions yield to writers.
  *  - A crashed coordinator leaves either an undecided transaction
  *    (aborted by the next writer or [[recover]]) or a decided one
  *    (finalized by the next writer/reader path) — no state needs manual
  *    repair, and the staged generations of an aborted transaction age
  *    out through [[AtomicCommit.vacuum]]'s orphan collection.
  *
  * == Deployment note ==
  *
  * Participants of one transaction must share a failure domain for the
  * decision object: helpers resolve the decision store from the
  * `graft.txn.decisionroot` prop via [[storeFor]] — a process-local
  * registry (tests, embedded engines) falling back to
  * [[PosixManifestStore]] on the recorded path (POSIX/HDFS deployments;
  * an object-store deployment registers its store factory once at
  * startup). Decision objects are tiny and never block manifest reads;
  * [[AtomicCommit.vacuum]] garbage-collects those of fully-resolved
  * transactions.
  */
object Transactions {

  /** Props namespace on pending/revert manifests. Inherited props under
    * this prefix are STRIPPED by every subsequent commit (they describe
    * one specific version, never the lineage).
    */
  val TxnPrefix = "graft.txn."
  val IdKey: String = TxnPrefix + "id"
  val DecisionRootKey: String = TxnPrefix + "decisionroot"
  val TablesKey: String = TxnPrefix + "tables"
  /** Marks a revert commit (the cap over an aborted pending manifest). */
  val RevertedKey: String = TxnPrefix + "reverted"

  private[sources] val DecisionPrefix = "_graft_txn."

  /** The decision object's store key (exposed so tests and operators can
    * inspect a transaction's fate directly).
    */
  def decisionName(txnId: String): String = s"$DecisionPrefix$txnId.json"

  sealed trait Decision
  case object Committed extends Decision
  case object Aborted extends Decision
  case object Undecided extends Decision

  /** How long a writer lets an undecided transaction keep its pending
    * head before force-aborting it. Zero makes contention deterministic
    * (specs); the default gives a healthy coordinator a beat to finish
    * its decision write.
    */
  @volatile var undecidedGraceMillis: Long = 200L

  /** Decision-store resolution for helpers that only hold ANOTHER
    * table's store: explicit registrations win, then POSIX on the path.
    * Register object-store roots once at startup; entries are tiny.
    */
  private val storeRegistry = new ConcurrentHashMap[String, ManifestStore]()

  def registerStore(root: String, store: ManifestStore): Unit =
    storeRegistry.put(root, store)

  def unregisterStore(root: String): Unit = {
    storeRegistry.remove(root); ()
  }

  private[sources] def storeFor(root: String): ManifestStore =
    Option(storeRegistry.get(root)).getOrElse(new PosixManifestStore(root))

  final class TxnAbortedException(msg: String, cause: Throwable = null)
    extends RuntimeException(msg, cause)

  /** One table's contribution: its root, its store, and the change
    * already staged against it ([[AtomicCommit.stage]] /
    * [[AtomicCommit.Staged]] built by any existing path — replace,
    * append-shaped entries via `overrides`, props-only).
    */
  final case class Participant(root: String, store: ManifestStore,
                               staged: Staged)

  def isPending(m: Manifest): Boolean =
    m.props.contains(IdKey)

  def decisionOf(m: Manifest): Decision = {
    val txnId = m.props(IdKey)
    val droot = m.props.getOrElse(DecisionRootKey,
      sys.error(s"pending manifest v${m.version} carries no decision root"))
    decisionAt(droot, txnId)
  }

  private def decisionAt(decisionRoot: String, txnId: String): Decision =
    storeFor(decisionRoot).get(decisionName(txnId)) match {
      case Some(bytes) =>
        if (JsonCodec.parse(new String(bytes, StandardCharsets.UTF_8))
            .str("decision") == "commit") Committed
        else Aborted
      case None => Undecided
    }

  /** Atomically decide `txnId` (create-if-absent is the commit point);
    * returns the decision that actually holds — ours if the create won,
    * the earlier winner's otherwise.
    */
  private[sources] def decide(decisionRoot: String, txnId: String,
                              commit: Boolean, tables: Seq[String]): Decision = {
    val verdict = if (commit) "commit" else "abort"
    val body = JsonCodec.render("txn" -> txnId, "decision" -> verdict,
      "tables" -> tables.mkString(","))
    storeFor(decisionRoot).putIfAbsent(decisionName(txnId),
      body.getBytes(StandardCharsets.UTF_8))
    decisionAt(decisionRoot, txnId)
  }

  /** Commit `participants` atomically. Returns root → published version
    * (the pending version, which the decision makes permanent). Throws
    * [[TxnAbortedException]] — with every table reverted — when any
    * table's prepare fails validation (read-set conflict, constraint
    * race, lost CAS storm) or a concurrent writer force-aborts the
    * transaction between prepare and decision.
    */
  def commitAll(participants: Seq[Participant]): Map[String, Long] = {
    require(participants.nonEmpty, "empty transaction")
    require(participants.map(_.root).distinct.size == participants.size,
      "duplicate participant roots — merge per-table changes first")
    val sorted = participants.sortBy(_.root)
    val txnId = java.util.UUID.randomUUID.toString
    val roots = sorted.map(_.root)
    val decisionRoot = sorted.head.root
    if (storeRegistry.get(decisionRoot) == null)
      registerStore(decisionRoot, sorted.head.store)
    val txnProps = Map(IdKey -> txnId, DecisionRootKey -> decisionRoot,
      TablesKey -> roots.mkString(","))
    val prepared = scala.collection.mutable.ListBuffer
      .empty[(Participant, Long)]
    try {
      sorted.foreach { p =>
        val v = AtomicCommit.publish(p.root, p.store,
          p.staged.copy(props = p.staged.props ++ txnProps))
        prepared += (p -> v)
      }
    } catch {
      case e: Throwable =>
        decide(decisionRoot, txnId, commit = false, roots)
        prepared.foreach { case (p, v) => revert(p.root, p.store, txnId, v) }
        throw new TxnAbortedException(
          s"transaction $txnId aborted during prepare: ${e.getMessage}", e)
    }
    decide(decisionRoot, txnId, commit = true, roots) match {
      case Committed =>
        prepared.foreach { case (p, v) => seal(p.root, p.store, txnId, v) }
        prepared.map { case (p, v) => p.root -> v }.toMap
      case _ =>
        prepared.foreach { case (p, v) => revert(p.root, p.store, txnId, v) }
        throw new TxnAbortedException(
          s"transaction $txnId force-aborted by a concurrent writer " +
            "before its decision — re-stage and retry")
    }
  }

  /** Drop the txn markers of committed pending manifest `version` with a
    * props-only commit. Lazy by design: any later commit strips them
    * too, so a lost race or a crash here costs nothing but a decision
    * lookup on subsequent reads.
    */
  private def seal(root: String, store: ManifestStore, txnId: String,
                   version: Long): Unit = {
    val raw = AtomicCommit.readManifestRaw(store)
    raw match {
      case Some(m) if m.version == version && m.props.get(IdKey).contains(txnId) =>
        try {
          AtomicCommit.publish(root, store,
            Staged("", m.partitionCol, Nil, m.version, Map.empty,
              propDrops = Seq(IdKey, DecisionRootKey, TablesKey)))
          ()
        } catch { case _: Throwable => () } // a racing commit sealed for us
      case _ => () // already sealed or superseded
    }
  }

  /** Cap aborted pending manifest `version` with a revert commit
    * restoring the entries and props of the version below (marked
    * `graft.txn.reverted` for the commit log); a version-1 pending
    * manifest is deleted instead (nothing below to restore — the table
    * reverts to nonexistent). Idempotent: concurrent helpers compose
    * identical bodies and the CAS picks one.
    */
  private[sources] def revert(root: String, store: ManifestStore,
                              txnId: String, version: Long): Unit = {
    val raw = AtomicCommit.readManifestRaw(store)
    raw match {
      case Some(m) if m.version == version &&
          m.props.get(IdKey).contains(txnId) =>
        if (version <= 1L) store.delete(AtomicCommit.manifestName(version))
        else {
          val below = AtomicCommit.manifestAt(store, root, version - 1)
          // stamped against the PENDING manifest (the lineage head being
          // stepped past), so the revert's timestamp stays monotonic
          val body = Manifest(version + 1, below.partitionCol, below.entries,
            AtomicCommit.stampWhen(Some(m.props),
              below.props.filterNot(_._1.startsWith(TxnPrefix)) +
                (RevertedKey -> txnId)))
          store.putIfAbsent(AtomicCommit.manifestName(body.version),
            AtomicCommit.renderJson(body)
              .getBytes(StandardCharsets.UTF_8))
          ()
        }
      case _ => () // someone else finalized, or the head moved past it
    }
  }

  /** READ-side resolution: the manifest a reader should serve given raw
    * head `m` — pending-committed serves as-is; pending-undecided and
    * pending-aborted step down below the pending version (never forcing
    * a decision: reads don't kill in-flight transactions). None = the
    * table has no committed state yet.
    */
  private[sources] def resolveRead(store: ManifestStore,
                                   m: Manifest): Option[Manifest] =
    if (!isPending(m)) Some(m)
    else decisionOf(m) match {
      case Committed => Some(m)
      case _ =>
        if (m.version <= 1L) None
        else store.get(AtomicCommit.manifestName(m.version - 1)) match {
          case Some(bytes) => resolveRead(store, AtomicCommit.parseBody(bytes))
          case None => sys.error(
            s"manifest v${m.version - 1} below pending v${m.version} is " +
              "gone — vacuum outran an in-flight transaction (keepVersions " +
              "must cover transaction duration)")
        }
    }

  /** WRITE-side resolution with HELPING: the base manifest a writer may
    * commit on top of, finalizing or force-aborting any pending head in
    * the way. Returns the resolved base (None = table empty after an
    * aborted first commit).
    */
  private[sources] def resolveWrite(root: String, store: ManifestStore,
                                    m: Manifest): Option[Manifest] =
    resolveWrite(root, store, m, undecidedGraceMillis)

  private def resolveWrite(root: String, store: ManifestStore, m: Manifest,
                           graceMillis: Long): Option[Manifest] = {
    if (!isPending(m)) return Some(m)
    val txnId = m.props(IdKey)
    var d = decisionOf(m)
    if (d == Undecided) {
      val deadline = System.currentTimeMillis() + graceMillis
      while (d == Undecided && System.currentTimeMillis() < deadline) {
        Thread.sleep(math.min(20L, math.max(1L, graceMillis)))
        d = decisionOf(m)
      }
      if (d == Undecided) {
        val droot = m.props.getOrElse(DecisionRootKey, sys.error(
          s"pending manifest v${m.version} carries no decision root"))
        val tables = m.props.getOrElse(TablesKey, root).split(',').toSeq
        d = decide(droot, txnId, commit = false, tables)
      }
    }
    d match {
      case Committed => Some(m) // serve; seal is lazy (next commit strips)
      case _ =>
        revert(root, store, txnId, m.version)
        AtomicCommit.readManifestRaw(store)
          .flatMap(resolveWrite(root, store, _, graceMillis))
    }
  }

  /** Operator-facing recovery: resolve a pending head NOW (finalize a
    * decided transaction, force-abort an undecided one, no grace).
    * Returns the manifest the table settles on. Normal traffic does this
    * automatically; this exists for quiesced tables one wants clean.
    */
  def recover(root: String, store: ManifestStore): Option[Manifest] =
    AtomicCommit.readManifestRaw(store)
      .flatMap(m => resolveWrite(root, store, m, graceMillis = 0L))

  def recover(root: String): Option[Manifest] =
    recover(root, new PosixManifestStore(root))

  /** A CONSISTENT CROSS-TABLE SNAPSHOT: the resolved manifest of every
    * table, taken so that NO commit — transactional or single-table —
    * interleaved the reads. Individually, [[AtomicCommit.readManifest]]
    * already never shows half a transaction; but reading table A before
    * a transaction's decision and table B after it would pair a pre-txn
    * A with a post-txn B. The optimistic double-read closes that: read
    * every head, read them all again, and accept only if no resolved
    * version moved (a decision landing mid-pass changes the resolved
    * version of every table it touches, so it cannot hide). Retries up
    * to [[AtomicCommit.MaxPublishRetries]] passes under sustained commit
    * traffic. Absent tables (declared, never written) stay absent from
    * the map. Pin the returned versions with [[AtomicCommit.readAt]] /
    * tags for anything longer-lived than the call.
    */
  def readConsistent(tables: Seq[(String, ManifestStore)])
      : Map[String, Manifest] = {
    require(tables.map(_._1).distinct.size == tables.size,
      "duplicate roots in readConsistent")
    var attempt = 0
    while (attempt < AtomicCommit.MaxPublishRetries) {
      val first = tables.map { case (r, s) =>
        r -> AtomicCommit.readManifest(s)
      }
      val second = tables.map { case (r, s) =>
        r -> AtomicCommit.readManifest(s)
      }
      if (first.map { case (r, m) => r -> m.map(_.version) } ==
          second.map { case (r, m) => r -> m.map(_.version) })
        return first.collect { case (r, Some(m)) => r -> m }.toMap
      attempt += 1
    }
    sys.error("no stable cross-table snapshot after " +
      s"${AtomicCommit.MaxPublishRetries} passes — sustained commit storm")
  }

  /** Decision objects of transactions no longer referenced by any
    * retained manifest of any of their recorded tables — [[AtomicCommit
    * .vacuum]]'s GC hook. Conservative: an unresolvable table root (not
    * registered, directory gone) keeps the decision.
    */
  private[sources] def collectibleDecisions(store: ManifestStore)
      : Seq[String] =
    store.list().filter(n => n.startsWith(DecisionPrefix) &&
        n.endsWith(".json")).filter { n =>
      store.get(n).exists { bytes =>
        val r = scala.util.Try(
          JsonCodec.parse(new String(bytes, StandardCharsets.UTF_8))).toOption
        val txnId = r.flatMap(_.strOpt("txn")).filter(_.nonEmpty)
        val tables = r.flatMap(_.strOpt("tables"))
          .map(_.split(',').toSeq.filter(_.nonEmpty))
        (txnId, tables) match {
          case (Some(id), Some(ts)) if ts.nonEmpty =>
            ts.forall { t =>
              try {
                val s = storeFor(t)
                val vs = s.list().flatMap(AtomicCommit.versionOf)
                // a root with NO manifests can't vouch (wrong resolution,
                // dropped table) — keep the decision, it's tiny
                vs.nonEmpty && vs.forall { v =>
                  !s.get(AtomicCommit.manifestName(v)).exists(b =>
                    AtomicCommit.parseBody(b).props.get(IdKey).contains(id))
                }
              } catch { case _: Throwable => false }
            }
          case _ => false
        }
      }
    }
}
