package graft.sources

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Row, SparkSession, SQLContext}
import org.apache.spark.sql.catalyst.analysis.{NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns, V1Scan}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.sources.{BaseRelation, Filter, InsertableRelation, TableScan}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A DataSourceV2 [[TableCatalog]] for manifest tables — the full
  * catalog-addressed SQL surface, time-travel syntax included:
  *
  * {{{
  * SET spark.sql.catalog.graft=graft.sources.GraftCatalog
  * SET spark.graft.table.docs=/data/docs
  * SELECT * FROM graft.docs                        -- current snapshot
  * SELECT * FROM graft.docs VERSION AS OF 3        -- snapshot version
  * SELECT * FROM graft.docs VERSION AS OF `run7`   -- tag name
  * SELECT * FROM graft.`docs@dev`                  -- branch lineage
  * INSERT INTO graft.docs ... / INSERT OVERWRITE graft.docs ...
  * }}}
  *
  * Identifiers resolve through the session registry
  * (`spark.graft.table.<name> = <table root>`); `VERSION AS OF` lands on
  * [[TableCatalog.loadTable(Identifier, String)]], the DSv2 time-travel
  * hook, accepting a version number or a tag name.
  *
  * Architecture: the catalog's tables READ and WRITE through Spark's own
  * V1 bridge interfaces — [[V1Scan]] hands the planner a relation whose
  * scan delegates to [[GraftRelation]] (the same
  * [[AtomicCommit.scanManifest]] plan as every other surface: parquet
  * vectorized read, deletion-vector merge, manifest/stats pruning from
  * the pushed filters and column pruning collected by the DSv2
  * ScanBuilder), and [[V1Write]] hands INSERT INTO / INSERT OVERWRITE to
  * the [[InsertableRelation]] commit paths (append generations /
  * whole-table replace, constraints and conflicts included). All pushed
  * filters are reported unhandled, so Spark re-evaluates them above the
  * pruned scan — pruning stays a pure optimization.
  */
final class GraftCatalog extends TableCatalog with FunctionCatalog {
  private var catalogName: String = "graft"

  override def initialize(name: String,
                          options: CaseInsensitiveStringMap): Unit =
    catalogName = name

  override def name(): String = catalogName

  private def spark: SparkSession = SparkSession.active
  private val Prefix = "spark.graft.table."

  override def listTables(namespace: Array[String]): Array[Identifier] =
    spark.conf.getAll.keys.filter(_.startsWith(Prefix))
      .map(k => Identifier.of(namespace, k.stripPrefix(Prefix)))
      .toArray

  override def loadTable(ident: Identifier): Table = graftTable(ident, None)

  /** The [[org.apache.spark.sql.connector.catalog.FunctionCatalog]]
    * face: exactly the functions graft's hidden partition transforms
    * derive with, so the storage-partitioned batch face can report
    * transform-shaped key groupings ([[GraftBucketFunction]]) and Spark
    * can prove two bucketed tables co-partitioned AT THE SOURCE-KEY
    * level. Resolution happens on the relation's own catalog instance
    * (`DataSourceV2Relation.funCatalog`), nothing global.
    */
  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty)
      Array("bucket", "days", "hours", "months")
        .map(Identifier.of(namespace, _))
    else Array.empty

  private val TruncateFn = raw"truncate_(\d+)".r

  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if (ident.namespace().nonEmpty)
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchFunctionException(ident)
    else ident.name() match {
      case "bucket" => GraftBucketFunction
      case "days" => GraftDaysFunction
      case "hours" => GraftHoursFunction
      case "months" => GraftMonthsFunction
      // width-pinned prefix transforms (truncate_3, truncate_8, …): the
      // width rides the NAME so the reported transform keeps one leaf —
      // see [[GraftTruncateFunction]]. A malformed width (overflow,
      // zero) is NOT a function here — the FunctionCatalog contract is
      // NoSuchFunctionException, never an internal-looking crash
      case TruncateFn(w) if w.toIntOption.exists(_ > 0) =>
        new GraftTruncateFunction(w.toInt)
      case _ => throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchFunctionException(ident)
    }

  /** The DSv2 time-travel hook: `VERSION AS OF <v>` — a snapshot version
    * number, or a tag name pinned with [[AtomicCommit.tag]].
    */
  override def loadTable(ident: Identifier, version: String): Table =
    graftTable(ident, Some(version))

  /** The DSv2 `TIMESTAMP AS OF <ts>` hook — Spark hands the literal as
    * MICROSECONDS since the epoch; commit stamps are millis
    * ([[AtomicCommit.CommitWhenProp]]), so the resolution floors the
    * division (a timestamp mid-millisecond is after that milli's commits).
    */
  override def loadTable(ident: Identifier, timestamp: Long): Table =
    graftTable(ident, None, Some(Math.floorDiv(timestamp, 1000L)))

  private def graftTable(ident: Identifier, version: Option[String],
                         tsMillis: Option[Long] = None): Table = {
    val (table, branch) = ident.name().split('@') match {
      case Array(t, b) => (t, Some(b))
      case _ => (ident.name(), None)
    }
    val root = spark.conf.getOption(Prefix + table)
      .getOrElse(throw new NoSuchTableException(
        Seq(catalogName) ++ ident.namespace() :+ ident.name()))
    val store: ManifestStore = branch match {
      case Some(b) => new BranchStore(new PosixManifestStore(root), b)
      case None => new PosixManifestStore(root)
    }
    val pinned = version.map { v =>
      v.toLongOption match {
        case Some(n) => AtomicCommit.manifestAt(store, root, n)
        case None => AtomicCommit.manifestAt(store, root,
          AtomicCommit.tags(store).getOrElse(v,
            sys.error(s"no tag $v at $root (tags: " +
              s"${AtomicCommit.tags(store).keys.toSeq.sorted.mkString(", ")})")))
      }
    }.orElse(tsMillis.map(ts => AtomicCommit.manifestAt(store, root,
      AtomicCommit.versionAsOfTimestamp(store, root, ts))))
    new GraftTable(s"$catalogName.${ident.name()}",
      new GraftRelation(spark, root, store, pinned,
        GraftCatalog.readDeclared(store)))
  }

  /** `CREATE TABLE graft.<name> (cols…) PARTITIONED BY (col)` — and CTAS,
    * which arrives here with the query's schema before the write runs.
    * The table root is `LOCATION`/`path` when given, else
    * `spark.graft.warehouse` (else the session warehouse dir) + the
    * table name. Over a root that already holds a manifest this is pure
    * REGISTRATION (the footers own the schema; a declared partition
    * column must match). Over an empty root it records a
    * `_graft_declared.json` declaration — schema and partition column —
    * through the store's create-if-absent (racing CREATEs get one
    * winner); the table reads as empty and the first INSERT/CTAS write
    * commits manifest version 1. Exactly one identity partition
    * transform is required (the engine's layout is value-partitioned by
    * one column); the declaration also pins the SQL-facing column order
    * across that first commit.
    */
  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: java.util.Map[String, String]): Table = {
    val name = ident.name()
    require(!name.contains('@'),
      s"CREATE TABLE targets main — fork $name with AtomicCommit.createBranch")
    if (spark.conf.getOption(Prefix + name).isDefined)
      throw new TableAlreadyExistsException(ident)
    // LOCATION arrives URI-form ("file:/tmp/t"); the store and the
    // staging paths speak local paths
    def localPath(p: String): String =
      if (p.startsWith("file:"))
        java.nio.file.Paths.get(java.net.URI.create(p)).toString
      else p
    val root = Option(properties.get(TableCatalog.PROP_LOCATION))
      .orElse(Option(properties.get("path")))
      .orElse(Option(properties.get("option.path")))
      .map(localPath)
      .getOrElse {
        val wh = spark.conf.getOption("spark.graft.warehouse").getOrElse(
          localPath(spark.conf.get("spark.sql.warehouse.dir")))
        s"$wh/$name"
      }
    val store = new PosixManifestStore(root)
    val pcDeclared = partitions.toSeq match {
      case Seq() => None
      case Seq(t) if t.name == "identity" && t.references.length == 1 =>
        Some(t.references.head.fieldNames.mkString("."))
      case other => throw new UnsupportedOperationException(
        "graft tables take exactly one identity PARTITIONED BY column, " +
          s"got: ${other.mkString(", ")}")
    }
    AtomicCommit.readManifest(store) match {
      case Some(m) => // existing data: registration, not declaration
        pcDeclared.foreach(p => require(p == m.partitionCol,
          s"table at $root is partitioned by ${m.partitionCol}, not $p"))
      case None =>
        val pc = pcDeclared.getOrElse(throw new UnsupportedOperationException(
          s"a new graft table needs PARTITIONED BY (<column>) — $root " +
            "holds no data to infer one from"))
        require(schema.nonEmpty,
          s"CREATE TABLE $catalogName.$name needs columns (or point " +
            s"LOCATION/path at an existing table root)")
        require(schema.exists(_.name == pc),
          s"partition column $pc is not among the declared columns " +
            s"${schema.fieldNames.mkString(", ")}")
        GraftCatalog.writeDeclared(store, pc, schema)
    }
    spark.conf.set(Prefix + name, root)
    graftTable(ident, None)
  }

  /** `SUPPORT_TABLE_CONSTRAINT` opts this catalog into Spark's ANSI
    * constraint DDL — without it the analyzer rejects `ADD CONSTRAINT`
    * before [[alterTable]] ever sees the change.
    */
  override def capabilities(): java.util.Set[TableCatalogCapability] =
    java.util.EnumSet.of(TableCatalogCapability.SUPPORT_TABLE_CONSTRAINT)

  /** `ALTER TABLE graft.<name> ...` — the subset the engine evolves
    * through metadata commits, everything else loudly rejected:
    *
    *  - `ADD COLUMN(S)`: the ADDITIVE schema subset, mapped onto
    *    [[AtomicCommit.addColumns]] (props-only commit, atomic with the
    *    version bump, CAS-raced like every commit). The SQL schema grows
    *    immediately, existing rows read NULL-backfilled, and the first
    *    INSERT carrying the column moves type ownership to the footers.
    *  - `ALTER COLUMN <name> TYPE <t>`: LOSSLESS widening only
    *    ([[AtomicCommit.widenColumn]] — integral up-casts, float→double,
    *    decimal scale-up), a metadata commit whose read-side cast per
    *    narrow generation self-eliminates as rewrites heal the layout.
    *    Narrowing and column-position changes keep the loud rejection.
    *  - `ADD CONSTRAINT <name> CHECK (<expr>)`: lowered onto
    *    [[AtomicCommit.addConstraint]] — the engine validates ALL
    *    current rows itself (one scan, atomic with the props commit
    *    under the constraint-vs-writer CAS rules) even though Spark's
    *    `AddCheckConstraintExec` pre-validated; the engine's scan is the
    *    one the publish race protection is anchored to. PRIMARY KEY /
    *    FOREIGN KEY / UNIQUE are rejected: this engine enforces what it
    *    declares, and those it cannot enforce at commit time.
    *  - `DROP CONSTRAINT <name>`: [[AtomicCommit.dropConstraint]];
    *    `IF EXISTS` no-ops on an absent name, otherwise absent fails.
    */
  override def alterTable(ident: Identifier,
                          changes: TableChange*): Table = {
    val name = ident.name()
    require(!name.contains('@'),
      s"ALTER TABLE targets main — merge or re-fork the branch instead")
    val root = spark.conf.getOption(Prefix + name)
      .getOrElse(throw new NoSuchTableException(
        Seq(catalogName) ++ ident.namespace() :+ name))
    val store = new PosixManifestStore(root)
    val supported = changes.forall {
      case _: TableChange.AddColumn => true
      case _: TableChange.AddConstraint => true
      case _: TableChange.DropConstraint => true
      case _: TableChange.RenameColumn => true
      case _: TableChange.DeleteColumn => true
      case _: TableChange.UpdateColumnType => true
      case _ => false
    }
    if (changes.isEmpty || !supported)
      throw new UnsupportedOperationException(
        "graft ALTER TABLE supports ADD COLUMN(S), RENAME COLUMN, DROP " +
          "COLUMN, ALTER COLUMN ... TYPE (lossless widening), ADD " +
          "CONSTRAINT ... CHECK, and DROP CONSTRAINT only — other " +
          "changes evolve through commits (commitRepartition, " +
          "schema-additive writes)")
    // all ADD COLUMNs of one statement land as ONE props commit (the
    // multi-column ALTER is atomic); the other verbs follow in order
    val adds = changes.collect { case a: TableChange.AddColumn => a }
    if (adds.nonEmpty) addColumnsBatch(root, store, adds)
    def onePart(fieldNames: Array[String]): String = {
      require(fieldNames.length == 1,
        "graft ALTER TABLE: nested columns are unsupported: " +
          fieldNames.mkString("."))
      fieldNames.head
    }
    changes.foreach {
      case _: TableChange.AddColumn => () // batched above
      case r: TableChange.RenameColumn =>
        AtomicCommit.renameColumn(spark, root, store,
          onePart(r.fieldNames()), r.newName())
      case d: TableChange.DeleteColumn =>
        val colName = onePart(d.fieldNames())
        try AtomicCommit.dropColumn(spark, root, store, colName)
        catch {
          case e: RuntimeException
              if d.ifExists() != null && d.ifExists() &&
                e.getMessage.contains(s"no column $colName") => ()
        }
      case u: TableChange.UpdateColumnType =>
        AtomicCommit.widenColumn(spark, root, store,
          onePart(u.fieldNames()), u.newDataType())
      case a: TableChange.AddConstraint => a.constraint() match {
        case c: org.apache.spark.sql.connector.catalog.constraints.Check =>
          AtomicCommit.addConstraint(spark, root, store, c.name(),
            c.predicateSql())
        case other => throw new UnsupportedOperationException(
          s"graft tables enforce CHECK constraints only — ${other.toDDL} " +
            "cannot be enforced at commit time and will not be recorded")
      }
      case d: TableChange.DropConstraint =>
        if (AtomicCommit.constraints(store).contains(d.name()))
          AtomicCommit.dropConstraint(root, store, d.name())
        else if (!d.ifExists())
          sys.error(s"no constraint ${d.name()} on $catalogName.$name " +
            s"(constraints: ${AtomicCommit.constraints(store).keys.toSeq
              .sorted.mkString(", ")})")
      case _ => () // unreachable: screened above
    }
    graftTable(ident, None)
  }

  private def addColumnsBatch(root: String, store: ManifestStore,
                              adds: Seq[TableChange.AddColumn]): Unit = {
    if (AtomicCommit.readManifest(store).isEmpty)
      throw new UnsupportedOperationException(
        s"ALTER TABLE needs a committed table at $root — a declared-only " +
          "table takes its columns from CREATE TABLE")
    var toAdd = new StructType()
    adds.foreach { a =>
      require(a.fieldNames().length == 1,
        "graft ALTER TABLE: nested ADD COLUMN is unsupported: " +
          a.fieldNames().mkString("."))
      val colName = a.fieldNames().head
      // a new column lands nullable: existing rows backfill NULL, so a
      // NOT NULL add could never hold on a non-empty table. Explicit
      // user DDL asking for NOT NULL is REJECTED (silently relaxing a
      // declared constraint would swallow intent); analyzer-generated
      // AddColumns — MERGE ... WITH SCHEMA EVOLUTION derives them from
      // the SOURCE expression's (often non-null) flag — coerce, which
      // is the semantics every lakehouse gives evolved columns.
      // Provenance is only observable from the call stack (Spark's
      // TableChange carries none): the match is deliberately broad
      // (any merge/schema-evolution analyzer frame, surviving a rule
      // rename), and a future miss degrades LOUDLY — the evolution
      // merge fails with this message, never a silent behavior flip
      // (MergeSpec pins the path)
      if (!a.isNullable) {
        val analyzerGenerated = Thread.currentThread().getStackTrace
          .exists(f => f.getClassName.contains("MergeInto") ||
            f.getClassName.contains("SchemaEvolution"))
        require(analyzerGenerated,
          s"graft ALTER TABLE: new column $colName cannot be NOT NULL — " +
            "existing rows backfill NULL; add it nullable")
      }
      require(a.position() == null,
        s"graft ALTER TABLE: new column $colName appends at the end only")
      toAdd = toAdd.add(colName, a.dataType(), nullable = true)
    }
    // collision + name-recycling validation and the merge with the
    // CURRENT added set happen inside the guarded read-modify-write —
    // racing DDL can't clobber entries (AtomicCommit.addColumnsAtomic)
    AtomicCommit.addColumnsAtomic(spark, root, store, toAdd)
  }

  /** DROP TABLE unregisters the name. The data, its manifests, and the
    * declaration stay on disk (external-table semantics — the registry
    * entry is a pointer, never ownership); re-CREATE or SET the conf to
    * point at them again, or delete the directory to truly destroy.
    */
  override def dropTable(ident: Identifier): Boolean = {
    val key = Prefix + ident.name()
    val existed = spark.conf.getOption(key).isDefined
    if (existed) spark.conf.unset(key)
    existed
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException(
      s"re-point the registry instead: SET $Prefix${newIdent.name()}=<root>")
}

object GraftCatalog {
  /** [[GraftCatalog.createTable]]'s declaration sidecar: the partition
    * column and schema of a table created before its first commit,
    * stored through the manifest store (create-if-absent = CREATE's
    * CAS). Once a manifest exists the footers own the types and the
    * declaration only pins column order.
    */
  private[sources] val DeclaredFile = "_graft_declared.json"

  private[sources] def writeDeclared(store: ManifestStore, pc: String,
                                     schema: StructType): Unit = {
    val body = JsonCodec.render("partitionCol" -> pc, "ddl" -> schema.toDDL)
    if (!store.putIfAbsent(DeclaredFile,
        body.getBytes(java.nio.charset.StandardCharsets.UTF_8))) {
      // a racing CREATE (or a leftover declaration) won — identical is
      // idempotent, different is a real conflict
      val existing = readDeclared(store)
      require(existing.contains((pc, StructType.fromDDL(schema.toDDL))),
        s"a different declaration already exists: $existing")
    }
  }

  private[sources] def readDeclared(store: ManifestStore)
      : Option[(String, StructType)] =
    store.get(DeclaredFile).map { bytes =>
      val r = JsonCodec.parse(
        new String(bytes, java.nio.charset.StandardCharsets.UTF_8))
      (r.str("partitionCol"), StructType.fromDDL(r.str("ddl")))
    }
}

/** One catalog table: a thin DSv2 face over [[GraftRelation]] via the
  * V1 bridges (see [[GraftCatalog]]), plus the [[SupportsDelete]] face —
  * `DELETE FROM graft.<name> WHERE ...` routes onto the MERGE-ON-READ
  * delete paths (a lone IN/`=` on a string/integral column takes the
  * zero-scan equality delete; the rest record positions with one
  * matching scan — never a partition rewrite; see
  * [[GraftRelation.deleteWhere]]).
  */
final class GraftTable(ident: String, relation: GraftRelation)
  extends Table with SupportsRead with SupportsWrite with SupportsDelete {

  override def name(): String = ident
  override def schema(): StructType = relation.schema

  /** Pruned-slice bytes for the planner ([[graft.plans
    * .BroadcastStatsRule]] prices join sides pre-pushdown, where the
    * optimizer's extension hooks actually run): manifest/stats pruning
    * under `filters`, full projected width.
    */
  private[graft] def prunedBytes(filters: Array[Filter]): Long =
    relation.estimateStats(filters)._1

  /** Selectivity-priced row estimate of the slice surviving `filters`
    * — [[graft.plans.JoinOrderRule]]'s cardinality input. None when
    * the sidecars can't prove row counts.
    */
  private[graft] def prunedRows(filters: Array[Filter]): Option[Long] =
    relation.estimateStats(filters)._2

  /** NDV of `colName` over the partitions surviving `filters`
    * ([[TableStats.columnStats]] — an upper bound, which keeps the
    * join-output estimate `|L||R|/max(ndv)` conservative).
    */
  private[graft] def columnNdv(filters: Array[Filter],
                               colName: String): Option[Long] =
    relation.estimateNdv(filters, colName)

  /** The backing relation, for [[graft.plans.GraftDmlRewrite]]'s lowered
    * UPDATE/MERGE commands (root, store, and the one scan plan).
    */
  private[graft] def underlying: GraftRelation = relation
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
      // gates MERGE INTO ... WITH SCHEMA EVOLUTION: the analyzer's
      // ResolveMergeIntoSchemaEvolution computes the AddColumn changes
      // and applies them through alterTable (→ addColumnsAtomic) before
      // the merge resolves; without the capability the clause is
      // silently inert (schemaEvolutionEnabled requires BOTH)
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)

  /** The snapshot's CHECK constraints, reported through the DSv2 face —
    * `DESCRIBE TABLE EXTENDED` lists them, `DROP CONSTRAINT` resolves
    * them, and Spark's analyzer may ALSO guard INSERT plans with them
    * (belt over the engine's own braces: [[AtomicCommit]] enforcement at
    * stage time remains the commit-path guarantee — it binds Scala-API
    * writers this analyzer never sees). Enforced + VALID: every recorded
    * rule was validated against all data when it landed and at every
    * commit since.
    */
  override def constraints()
      : Array[org.apache.spark.sql.connector.catalog.constraints.Constraint] =
    AtomicCommit.constraints(relation.store).toSeq.sortBy(_._1).map {
      case (n, sql) =>
        org.apache.spark.sql.connector.catalog.constraints.Constraint
          .check(n).predicateSql(sql).enforced(true)
          .validationStatus(org.apache.spark.sql.connector.catalog
            .constraints.Constraint.ValidationStatus.VALID)
          .build(): org.apache.spark.sql.connector.catalog.constraints.Constraint
    }.toArray

  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    filters.forall(FilterColumns.toColumn(_).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit =
    relation.deleteWhere(filters)

  /** TRUNCATE would empty the table; the engine keeps tables non-empty
    * by invariant (the manifest always names data). Spark treats a
    * `false` return as a silent no-op (TruncateTableExec just skips the
    * cache refresh), so refuse LOUDLY instead.
    */
  override def truncateTable(): Boolean =
    throw new UnsupportedOperationException(
      s"TRUNCATE is unsupported on graft table $ident — the engine keeps " +
        "tables non-empty; DELETE with a predicate, or INSERT OVERWRITE")

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownFilters
      with SupportsPushDownRequiredColumns
      with org.apache.spark.sql.connector.read.SupportsPushDownAggregates
      with org.apache.spark.sql.connector.read.SupportsPushDownLimit {
      private var filters: Array[Filter] = Array.empty
      private var required: StructType = relation.schema
      private var agg: Option[(StructType, Seq[Seq[Any]])] = None
      private var limit: Option[Int] = None

      override def pushFilters(fs: Array[Filter]): Array[Filter] = {
        filters = fs
        // partition-DECIDED shapes on a STRING partition column are
        // fully enforced by manifest pruning — exact in both
        // directions (the dir name IS the row value), so declaring
        // them handled is sound, removes the residual Filter node, and
        // thereby lets Spark push a LIMIT below (`WHERE lang='de'
        // LIMIT 10` reads one partition's prefix). Everything else
        // re-evaluates above the scan (pruning stays advisory)
        relation.partitionColOpt.filter(pc =>
          relation.schema.find(_.name == pc)
            .exists(_.dataType == org.apache.spark.sql.types.StringType)) match {
          case Some(pc) =>
            fs.filterNot(GraftRelation.partitionDecided(pc, _))
          case None => fs
        }
      }
      override def pushedFilters(): Array[Filter] = filters
      override def pruneColumns(s: StructType): Unit =
        if (agg.isEmpty) // a pushed aggregate owns the output schema
          required = if (s.isEmpty) relation.schema else s

      /** METADATA-ANSWERED AGGREGATES: COUNT(*)/COUNT(col)/MIN/MAX,
        * plus SUM over exact-summable (integral/decimal) columns —
        * optionally grouped by the partition column — answer from the
        * manifest + stats sidecars without touching a data file
        * ([[GraftRelation.metadataAggregate]]: per-partition PARTIAL
        * rows; Spark's final aggregate folds them, so grouped and
        * global shapes share one path). Rejected — Spark falls back to
        * the ordinary scan — whenever the evidence cannot answer
        * EXACTLY: residual filters, delete evidence, rename/drop
        * mapping state, un-annotated generations (or pre-sum sidecars
        * for SUM), float/double SUM (order-dependent), or any
        * aggregate beyond the supported shapes (DISTINCT, AVG,
        * expressions).
        */
      override def pushAggregation(
          aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
        import org.apache.spark.sql.connector.expressions.NamedReference
        import org.apache.spark.sql.connector.expressions.aggregate._
        import org.apache.spark.sql.types.{LongType, StructField}
        val pc = relation.partitionColOpt.getOrElse(return false)
        // filters are fine EXACTLY when every one is decided by
        // partition pruning (the handled-declaration classes): the
        // pruned entries' evidence then describes the filtered result,
        // so `SELECT count(*) FROM t WHERE p='A'` stays scan-free.
        // Anything residual rejects — Spark re-applies it above a real
        // scan (and with a residual Filter node present Spark would
        // not push the aggregate anyway)
        if (!filters.forall(GraftRelation.partitionDecided(pc, _)))
          return false
        def fieldOf(e: org.apache.spark.sql.connector.expressions.Expression)
            : Option[String] = e match {
          case n: NamedReference if n.fieldNames().length == 1 =>
            Some(n.fieldNames()(0))
          case _ => None
        }
        val grouped = aggregation.groupByExpressions() match {
          case Array() => false
          case Array(g) if fieldOf(g).contains(pc) => true
          case _ => return false
        }
        // the ONE summability predicate the sidecar writer shares —
        // push-site acceptance and recorded evidence stay in lockstep
        def summable(c: String): Boolean =
          relation.schema.find(_.name == c)
            .exists(f => DataSkipping.exactSummable(f.dataType))
        val specs = aggregation.aggregateExpressions().toSeq.map {
          case _: CountStar => GraftRelation.CountStarSpec
          case c: Count if !c.isDistinct =>
            GraftRelation.CountColSpec(fieldOf(c.column()).getOrElse(return false))
          case mn: Min =>
            GraftRelation.MinSpec(fieldOf(mn.column()).getOrElse(return false))
          case mx: Max =>
            GraftRelation.MaxSpec(fieldOf(mx.column()).getOrElse(return false))
          case sm: Sum if !sm.isDistinct =>
            // exact-summable columns only: float/double sums are
            // order-dependent and belong to the scan
            val c = fieldOf(sm.column()).getOrElse(return false)
            if (!summable(c)) return false
            GraftRelation.SumSpec(c)
          case _ => return false
        }
        if (specs.isEmpty) return false
        val computed = scala.util.Try(relation.metadataAggregate(specs, filters))
          .toOption.flatten.getOrElse(return false)
        val aggFields = specs.map {
          case GraftRelation.CountStarSpec =>
            StructField("count(*)", LongType, nullable = false)
          case GraftRelation.CountColSpec(c) =>
            StructField(s"count($c)", LongType, nullable = false)
          case GraftRelation.MinSpec(c) =>
            StructField(s"min($c)", relation.schema(c).dataType)
          case GraftRelation.MaxSpec(c) =>
            StructField(s"max($c)", relation.schema(c).dataType)
          case GraftRelation.SumSpec(c) =>
            // the partial column carries sum's RESULT type — what the
            // final Sum aggregate above expects to fold
            val dt = relation.schema(c).dataType match {
              case d: org.apache.spark.sql.types.DecimalType =>
                org.apache.spark.sql.types.DecimalType(
                  math.min(38, d.precision + 10), d.scale)
              case _ => LongType // integral family
            }
            StructField(s"sum($c)", dt)
        }
        val outSchema = StructType(
          (if (grouped) Seq(relation.schema(pc)) else Nil) ++ aggFields)
        val rows = computed.map { case (pv, vals) =>
          // the group key is the DECODED partition value (entry keys
          // are raw dir names: null sentinel → null group, escapes
          // undone), matching what a real scan would group by
          if (grouped) {
            val key: Any =
              if (pv == GraftRelation.NullPartitionName) null
              else org.apache.spark.sql.catalyst.catalog
                .ExternalCatalogUtils.unescapePathName(pv)
            key +: vals
          } else vals
        }
        agg = Some((outSchema, rows))
        true
      }

      /** The scan reports filter-aware statistics
        * ([[GraftRelation.estimateStats]]): bytes and rows of only the
        * partitions surviving manifest/stats pruning, priced per column
        * width for the pruned projection — so `SELECT two_cols FROM
        * graft.small_dim JOIN big ...` auto-broadcasts exactly when the
        * slice the scan will read fits the broadcast threshold.
        */
      /** PUSHED LIMIT, partial semantics (Spark re-applies the exact
        * limit above the scan): the scan reads only a partition prefix
        * the sidecar row counts PROVE covers the limit
        * ([[GraftRelation.buildScan]]'s limit hint) — `SELECT * FROM t
        * LIMIT 10` touches one partition of a thousand. Accepted
        * without filters, OR when every pushed filter is FULLY decided
        * by partition pruning ([[GraftRelation.partitionDecided]]:
        * exact partition-column shapes) — then the surviving entries'
        * counts still describe the filtered result and `WHERE
        * lang='de' LIMIT 10` reads one partition's prefix.
        */
      override def pushLimit(n: Int): Boolean = {
        val decided = relation.partitionColOpt.exists(pc =>
          filters.forall(GraftRelation.partitionDecided(pc, _)))
        if ((filters.isEmpty || decided) && n > 0) {
          limit = Some(n); true
        } else false
      }

      override def build(): Scan = agg match {
        case Some((outSchema, rows)) => new GraftAggScan(outSchema, rows)
        case None =>
          // the storage-partitioned batch face, opt-in and gated to the
          // snapshots where a verbatim read is exact; a pushed LIMIT
          // stays on the V1 path (the provable-prefix logic lives there)
          (if (limit.isEmpty)
            GraftBatchScan.eligibleScan(relation, required, filters)
          else None)
            .getOrElse(new GraftV1Scan(relation, required, filters, limit))
      }
    }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      private var overwrite = false
      override def truncate(): WriteBuilder = { overwrite = true; this }
      override def build(): Write = new V1Write {
        override def toInsertableRelation(): InsertableRelation =
          new InsertableRelation {
            override def insert(data: org.apache.spark.sql.DataFrame,
                                ignored: Boolean): Unit =
              relation.insert(data, overwrite)
          }
      }
    }
}

/** One catalog read: the V1 bridge scan ([[GraftRelation.buildScan]]
  * behind a [[V1Scan]]), statistics-reporting, and RUNTIME-filterable —
  * the standard `SupportsRuntimeFiltering` contract: at execution time
  * a broadcast join's built key set arrives through [[filter]] and the
  * scan re-prunes manifest entries before reading a byte (the DSv2
  * analog of dynamic partition pruning). Spark's own delivery path
  * can't reach a V1 bridge scan — `V2ScanRelationPushDown` wraps it in
  * a `V1ScanWrapper` that implements neither runtime-filtering
  * interface, so `PartitionPruning` never injects — which is why
  * [[graft.plans.RuntimeFilterRule]] (an AQE runtime-optimizer rule)
  * extracts the materialized broadcast stage's keys itself and calls
  * the SAME [[filter]] face before the final stage plans. Runtime
  * filters compose with the pushed set: [[GraftRelation
  * .prunedEntriesFor]] prunes `IN` key sets through the manifest
  * (partition column), the hidden-partitioning transform, and the
  * min/max + bloom sidecars.
  */
final class GraftV1Scan(
    private[graft] val relation: GraftRelation,
    private[graft] val required: StructType,
    private[graft] val pushed: Array[Filter],
    private[graft] val limitHint: Option[Int] = None) extends V1Scan
  with org.apache.spark.sql.connector.read.SupportsReportStatistics
  with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering {

  @volatile private[graft] var runtime: Array[Filter] = Array.empty
  private def effective: Array[Filter] = pushed ++ runtime

  override def readSchema(): StructType = required

  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    relation.runtimeFilterable.map(
      org.apache.spark.sql.connector.expressions.Expressions.column).toArray

  /** Accept the runtime shapes the pruner consumes on columns it can
    * prune; everything else is dropped — sound, because runtime filters
    * only ever REMOVE rows the join above would drop anyway, so
    * ignoring one costs I/O, never correctness.
    */
  override def filter(fs: Array[Filter]): Unit = {
    val prunable = relation.runtimeFilterable.toSet
    runtime = fs.filter {
      case org.apache.spark.sql.sources.In(c, vs) =>
        prunable(c) && vs != null && vs.nonEmpty
      case org.apache.spark.sql.sources.EqualTo(c, v) =>
        prunable(c) && v != null
      // the over-budget fallback arrives as a [min, max] pair; the
      // pruner folds the two one-sided bounds into a closed interval
      case org.apache.spark.sql.sources.GreaterThanOrEqual(c, v) =>
        prunable(c) && v != null
      case org.apache.spark.sql.sources.LessThanOrEqual(c, v) =>
        prunable(c) && v != null
      case _ => false
    }
  }

  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics = {
    // bytes scaled by projected width ([[GraftRelation.projectedStats]])
    val (scaled, rowsOpt) = relation.projectedStats(effective, required)
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(scaled)
      override def numRows(): java.util.OptionalLong =
        rowsOpt.map(java.util.OptionalLong.of)
          .getOrElse(java.util.OptionalLong.empty())
    }
  }

  override def toV1TableScan[T <: BaseRelation with TableScan](
      context: SQLContext): T =
    new BaseRelation with TableScan {
      override def sqlContext: SQLContext = context
      override def schema: StructType = required
      override def needConversion: Boolean = false
      override def buildScan(): RDD[Row] =
        // effective prunes; only the planner-pushed subset inlines —
        // runtime sets are prune-only (see GraftRelation.buildScan)
        relation.buildScan(required.fieldNames, effective, limitHint,
          pushed)
    }.asInstanceOf[T]
}

/** Scan-free aggregate results: the V1 face of a PUSHED aggregation
  * ([[GraftTable]]'s SupportsPushDownAggregates) — the per-partition
  * partial rows were already computed from the manifest and sidecars at
  * push time, so "execution" is materializing them as one driver-built
  * RDD partition. Spark's final aggregate above folds the partials
  * (sum of counts, min of mins), which is what makes the grouped and
  * global shapes share this path.
  */
final class GraftAggScan(outSchema: StructType, rows: Seq[Seq[Any]])
  extends V1Scan {

  override def readSchema(): StructType = outSchema

  override def toV1TableScan[T <: BaseRelation with TableScan](
      context: SQLContext): T =
    new BaseRelation with TableScan {
      override def sqlContext: SQLContext = context
      override def schema: StructType = outSchema
      override def needConversion: Boolean = false
      override def buildScan(): RDD[Row] = {
        val convs = outSchema.fields.map(f =>
          org.apache.spark.sql.catalyst.CatalystTypeConverters
            .createToCatalystConverter(f.dataType))
        val internal = rows.map(vs =>
          new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
            vs.zip(convs.toSeq).map { case (v, c) => c(v) }.toArray)
            : org.apache.spark.sql.catalyst.InternalRow)
        context.sparkContext.parallelize(internal, 1).asInstanceOf[RDD[Row]]
      }
    }.asInstanceOf[T]
}
