package graft.sources.v2

import java.util
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import graft.ingest.{SchemaEvolution, Snapshots}

/** Standard DSv2 catalog over one snapshot warehouse — the table format
  * resolved through Spark's OWN name resolution instead of this library's
  * parser regexes:
  *
  * {{{
  * spark.conf: spark.sql.catalog.graft = graft.sources.v2.GraftCatalog
  *             spark.sql.catalog.graft.warehouse = /path/to/wh
  *
  * SELECT * FROM graft.events WHERE dt = '2024-01-01'
  * SELECT * FROM graft.events VERSION AS OF 7      -- time travel
  * CREATE TABLE graft.t PARTITIONED BY (dt) AS SELECT ...
  * INSERT INTO graft.t SELECT ...                  -- one atomic version
  * INSERT OVERWRITE graft.t SELECT ...             -- coarse-OCC replace
  * ALTER TABLE graft.t RENAME COLUMN a TO b        -- metadata-only
  * DROP TABLE graft.t                              -- time-travelable drop
  * }}}
  *
  * Reads resolve to [[GraftCatalogTable]] (BATCH_READ), pinned at load
  * to one snapshot version and its served schema: correct in any session
  * via the per-file DSv2 batch scan (log-planned files decoded by Spark's
  * own parquet reader, so every type Spark's parquet format serves;
  * partition tuples from the log, DV subtraction, column mapping,
  * stats-pruned by pushed filters); sessions with `GraftSqlExtensions`
  * splice the table's own plan at that version into the vectorized
  * parquet plan pre-CBO, so large scans run columnar.
  * Writes stage through the vectorized [[SnapshotDataWriter]] and publish
  * one TxnCommit version per job. Table identity lives in the log alone —
  * no metastore: CREATE TABLE declares schema/partitioning as table
  * properties, the first write commits it, DROP is one logical-REMOVE
  * commit (old versions time-travelable until vacuum).
  *
  * Namespaces: the warehouse is flat; the empty namespace (`graft.t`) and
  * `default` both resolve to it. */
class GraftCatalog extends TableCatalog
  with org.apache.spark.sql.connector.catalog.StagingTableCatalog {
  import scala.jdk.CollectionConverters._

  private var catName = "graft"
  private var whOpt: Option[String] = None

  override def initialize(name: String,
                          options: CaseInsensitiveStringMap): Unit = {
    catName = name
    whOpt = Option(options.get("warehouse"))
  }
  override def name(): String = catName

  private def spark = SparkSession.active
  private def warehouse: String =
    whOpt.orElse(spark.conf.getOption("spark.graft.warehouse")).getOrElse(
      throw new IllegalStateException(
        s"catalog '$catName' has no warehouse — set " +
          s"spark.sql.catalog.$catName.warehouse (or spark.graft.warehouse)"))
  private def fs = new Path(warehouse)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def tableName(ident: Identifier): String = {
    require(ident.namespace().isEmpty ||
        ident.namespace().sameElements(Array("default")),
      s"catalog '$catName' is a flat warehouse — namespace " +
        s"'${ident.namespace().mkString(".")}' does not exist")
    ident.name()
  }

  override def listTables(namespace: Array[String]): Array[Identifier] =
    Snapshots.tableNames(fs, warehouse)
      .map(Identifier.of(namespace, _)).toArray

  override def tableExists(ident: Identifier): Boolean = {
    val t = tableName(ident)
    val snap = Snapshots.snapshot(fs, warehouse)
    snap.files(t).nonEmpty ||
      snap.properties(t).contains("catalog.schema.ddl")
  }

  override def loadTable(ident: Identifier): Table = loadAt(ident, None)

  /** `SELECT … FROM graft.t VERSION AS OF n` — Spark's time-travel
    * resolution lands here. */
  override def loadTable(ident: Identifier, version: String): Table =
    loadAt(ident, Some(version.toLong))

  /** `TIMESTAMP AS OF` — `timestamp` arrives in MICROseconds. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val t = tableName(ident)
    val v = Snapshots.versionAt(fs, warehouse, timestamp / 1000L).getOrElse(
      throw new IllegalArgumentException(
        s"no snapshot version of '$t' existed at timestamp $timestamp"))
    loadAt(ident, Some(v))
  }

  private def loadAt(ident: Identifier, asOf: Option[Long]): Table = {
    val t = tableName(ident)
    // Schema, layout and TBLPROPERTIES all come from one snapshot, so a
    // time-traveled load serves THAT era's; the schema is the snapshot's
    // own ([[graft.ingest.Snapshot.schema]]), so no read is planned here.
    val snap = Snapshots.snapshot(fs, warehouse, asOf)
    val tblProps = snap.properties(t)
    if (snap.files(t).isEmpty && !tblProps.contains("catalog.schema.ddl"))
      throw new NoSuchTableException(ident)
    // properties() is what `SHOW TBLPROPERTIES graft.t` shows: the log's
    // TBLPROPERTIES plus the identity. Reads take identity and version
    // from the typed fields only.
    val props = tblProps ++
      Map("warehouse" -> warehouse, "table" -> t) ++
      asOf.map(v => "versionAsOf" -> v.toString)
    new GraftCatalogTable(warehouse, t, snap.version, snap.schema(spark, t),
      props.asJava, snap.partitionLayout(t))
  }

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table = {
    val t = tableName(ident)
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    val partCols = identityPartCols(partitions)
    // Declared schema/partitioning ride the log as table properties: the
    // table is queryable (empty) before its first commit, and CTAS's
    // follow-up append validates against this declaration at the commit
    // point like any other write.
    Snapshots.setProperties(fs, warehouse, t,
      Map("catalog.schema.ddl" -> schema.toDDL) ++
        (if (partCols.nonEmpty)
           Map("catalog.partition.columns" -> partCols.mkString(","))
         else Map.empty) ++
        properties.asScala.filterNot(_._1.startsWith("option.")))
    loadTable(ident)
  }

  // CREATE-time engine-managed columns: Spark routes `GENERATED ALWAYS
  // AS (expr)` / `AS IDENTITY` in CREATE TABLE to catalogs declaring the
  // capability, delivering the specs on the v2 Column array — declare
  // the plain table, then the identity marks / generation expressions
  // (each its own validated metadata commit, same as the ALTER grammar).
  override def capabilities()
      : util.Set[org.apache.spark.sql.connector.catalog.TableCatalogCapability] = {
    import org.apache.spark.sql.connector.catalog.TableCatalogCapability._
    util.EnumSet.of(SUPPORTS_CREATE_TABLE_WITH_GENERATED_COLUMNS,
      SUPPORTS_CREATE_TABLE_WITH_IDENTITY_COLUMNS)
  }

  override def createTable(ident: Identifier,
                           columns: Array[org.apache.spark.sql.connector.catalog.Column],
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table = {
    val gens = columns.filter(_.generationExpression() != null)
    val ids = columns.filter(_.identityColumnSpec() != null)
    val schema = columnsToSchema(columns)
    if (gens.isEmpty && ids.isEmpty)
      return createTable(ident, schema, partitions, properties)
    val t = tableName(ident)
    // Validate every spec BEFORE the plain table lands — a rejected
    // CREATE TABLE must leave NO table behind, not a declared plain one.
    ids.foreach { c =>
      val spec = c.identityColumnSpec()
      require(spec.getStep == 1L,
        s"identity column '${c.name}': STEP ${spec.getStep} is not " +
          "supported — engine allocation is step-1 monotone")
      require(!spec.isAllowExplicitInsert,
        s"identity column '${c.name}': GENERATED BY DEFAULT is not " +
          "supported — ids are GENERATED ALWAYS (engine-minted only)")
    }
    createTable(ident, schema, partitions, properties)
    // The declares re-validate (generation expressions need the declared
    // table to resolve against); a failure here still unwinds the
    // just-created table so the CREATE is all-or-nothing.
    try {
      ids.foreach(c => graft.ingest.Identity.declare(spark, warehouse, t,
        c.name, c.identityColumnSpec().getStart))
      gens.foreach(c => graft.ingest.Generated.declare(spark, warehouse, t,
        c.name, c.generationExpression(), schemaHint = Some(schema)))
    } catch {
      case scala.util.control.NonFatal(e) =>
        try dropTable(ident)
        catch { case scala.util.control.NonFatal(_) => () }
        throw e
    }
    loadTable(ident)
  }

  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val t = tableName(ident)
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    changes.foreach {
      case sp: TableChange.SetProperty =>
        Snapshots.setProperties(fs, warehouse, t,
          Map(sp.property() -> sp.value()))
      case rp: TableChange.RemoveProperty =>
        Snapshots.setProperties(fs, warehouse, t, Map(rp.property() -> null))
      case rc: TableChange.RenameColumn =>
        require(rc.fieldNames().length == 1, nestedDdlError(
          "RENAME", rc.fieldNames(), t))
        SchemaEvolution.renameColumn(spark, warehouse, t,
          rc.fieldNames()(0), rc.newName())
      case dc: TableChange.DeleteColumn =>
        require(dc.fieldNames().length == 1, nestedDdlError(
          "DROP", dc.fieldNames(), t))
        SchemaEvolution.dropColumn(spark, warehouse, t, dc.fieldNames()(0))
        Snapshots.setProperties(fs, warehouse, t,
          Map(s"catalog.coltype.${dc.fieldNames()(0)}" -> null))
      case ut: TableChange.UpdateColumnType =>
        require(ut.fieldNames().length == 1, nestedDdlError(
          "ALTER", ut.fieldNames(), t))
        val c = ut.fieldNames()(0)
        val cur = loadTable(ident).columns()
          .find(_.name == c).getOrElse(throw new IllegalArgumentException(
            s"column '$c' does not exist in table '$t'")).dataType()
        require(Snapshots.safeWidening(cur, ut.newDataType()),
          s"ALTER COLUMN '$c' TYPE ${ut.newDataType().sql}: only safe " +
            s"widenings evolve metadata-only (INT→BIGINT, FLOAT→DOUBLE); " +
            s"'$c' is ${cur.sql} — rewrite via CREATE OR REPLACE for " +
            "other changes")
        // Metadata-only: the snapshot's schema serves the declared type,
        // existing narrow files read at the wide type, new writes land
        // wide.
        Snapshots.setProperties(fs, warehouse, t,
          Map(s"catalog.coltype.$c" -> ut.newDataType().sql))
      case ac: TableChange.AddColumn =>
        require(ac.fieldNames().length == 1, nestedDdlError(
          "ADD", ac.fieldNames(), t))
        SchemaEvolution.addColumn(spark, warehouse, t, ac.fieldNames()(0))
        // Record the declared type: until a file carries the column, the
        // snapshot's schema types it from this property.
        Snapshots.setProperties(fs, warehouse, t,
          Map(s"catalog.coltype.${ac.fieldNames()(0)}" ->
            ac.dataType().sql))
      case ch => throw new UnsupportedOperationException(
        s"table change '$ch' is not supported by catalog '$catName'")
    }
    loadTable(ident)
  }

  /** Metadata-only evolution (the column mapping) tracks TOP-LEVEL
    * columns; a struct's interior cannot evolve without rewriting files —
    * and this is PERMANENT (decided round 15, COVERAGE.md): struct columns
    * are stored and served as whole values, never remapped inside.
    * The error names the EXECUTABLE flatten path (a catalog CREATE OR
    * REPLACE cannot read the struct table — the API read can), so a user
    * is never stranded. */
  private def nestedDdlError(op: String, fieldNames: Array[String],
                             table: String): String =
    s"ALTER TABLE $op COLUMN of nested field " +
      s"'${fieldNames.mkString(".")}' is not supported — snapshot tables " +
      "evolve top-level columns only (metadata-only, zero rewrite). " +
      "Flatten instead (one atomic overwrite — the CREATE OR REPLACE of " +
      "this format): graft.ingest.Snapshots.read(spark, wh, \"" + table +
      "\").select(col(\"*\"), col(\"" + fieldNames.head +
      ".*\")).drop(\"" + fieldNames.head + "\").write" +
      ".format(\"graft-snapshots\").option(\"warehouse\", wh)" +
      ".option(\"table\", \"" + table + "\").mode(\"overwrite\").save(), " +
      "then ALTER the now-flat column"

  override def dropTable(ident: Identifier): Boolean =
    tableExists(ident) && Snapshots.dropTable(fs, warehouse, tableName(ident))

  /** `DROP TABLE … PURGE`: the logical drop plus IMMEDIATE physical
    * deletion of the table's live data files — time travel to the dropped
    * table is forfeited (that is what PURGE means); the log entries stay
    * and vacuum reaps the remainder on schedule. Files another LIVE table
    * still references (zero-copy clones share files) are spared — only
    * the reference sweep may reclaim those, once every table lets go. */
  override def purgeTable(ident: Identifier): Boolean = {
    val t = tableName(ident)
    val live = Snapshots.snapshot(fs, warehouse).files(t)
    val dropped = dropTable(ident)
    if (dropped) {
      // Clone-sharing spare list from ONE warehouse fold (not a per-table
      // fileMeta walk): on a thousand-table warehouse a DROP PURGE pays
      // one cached fold plus a set build over live references.
      val (sharedFiles, sharedDvs) =
        Snapshots.snapshot(fs, warehouse).liveRefsExcept(t)
      live.filterNot(a => sharedFiles(a.file)).foreach { a =>
        fs.delete(new Path(a.file), false)
        if (a.dv.nonEmpty && !sharedDvs(a.dvPath))
          fs.delete(new Path(a.dvPath), false)
      }
    }
    dropped
  }

  // ---- atomic CTAS (StagingTableCatalog) -------------------------------
  // CREATE TABLE … AS SELECT stages NOTHING until the query succeeds: the
  // declaration (schema/partitioning properties) is held in memory on the
  // staged table, the data write publishes its one TxnCommit version, and
  // commitStagedChanges lands the declaration afterwards — a failed CTAS
  // query leaves no trace (no declared-empty ghost table), and a crash
  // between the two commits leaves a fully queryable table whose committed
  // schema serves in place of the declaration.

  private def columnsToSchema(
      columns: Array[org.apache.spark.sql.connector.catalog.Column])
      : StructType =
    StructType(columns.map { c =>
      val f = org.apache.spark.sql.types.StructField(
        c.name, c.dataType, c.nullable)
      Option(c.comment()).fold(f)(cm => f.withComment(cm))
    })

  private def rejectEngineManaged(
      columns: Array[org.apache.spark.sql.connector.catalog.Column],
      what: String): Unit =
    columns.foreach { c =>
      require(c.generationExpression() == null &&
          c.identityColumnSpec() == null,
        s"$what cannot declare engine-managed column '${c.name}' — the " +
          "query's rows would bypass materialization; CREATE TABLE " +
          "first, then load through the engine-managed append paths")
    }

  override def stageCreate(ident: Identifier,
                           columns: Array[org.apache.spark.sql.connector.catalog.Column],
                           partitions: Array[Transform],
                           properties: util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.StagedTable = {
    rejectEngineManaged(columns, "CTAS")
    stageCreate(ident, columnsToSchema(columns), partitions, properties)
  }

  override def stageReplace(ident: Identifier,
                            columns: Array[org.apache.spark.sql.connector.catalog.Column],
                            partitions: Array[Transform],
                            properties: util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.StagedTable = {
    rejectEngineManaged(columns, "REPLACE TABLE AS SELECT")
    stageReplace(ident, columnsToSchema(columns), partitions, properties)
  }

  override def stageCreateOrReplace(ident: Identifier,
                                    columns: Array[org.apache.spark.sql.connector.catalog.Column],
                                    partitions: Array[Transform],
                                    properties: util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.StagedTable = {
    rejectEngineManaged(columns, "CREATE OR REPLACE TABLE AS SELECT")
    stageCreateOrReplace(ident, columnsToSchema(columns), partitions,
      properties)
  }

  override def stageCreate(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.StagedTable = {
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    val t = tableName(ident)
    val partCols = identityPartCols(partitions)
    val declared =
      Map("catalog.schema.ddl" -> schema.toDDL) ++
        (if (partCols.nonEmpty)
           Map("catalog.partition.columns" -> partCols.mkString(","))
         else Map.empty) ++
        properties.asScala.filterNot(_._1.startsWith("option."))
    new GraftStagedTable(this, t, schema, partCols, declared)
  }

  /** `REPLACE TABLE … AS SELECT`: replace = a NEW schema contract. The
    * query's data lands as ONE atomic OCC-guarded overwrite version
    * (every old live file removed, new files added — readers see the old
    * table or the new one, never a mix; prior versions stay
    * time-travelable), then [[GraftStagedReplaceTable.commitStagedChanges]]
    * swaps the declaration wholesale (stale properties dropped, column
    * mapping cleared) in one metadata commit. A failed query leaves the
    * old table untouched. */
  override def stageReplace(ident: Identifier, schema: StructType,
                            partitions: Array[Transform],
                            properties: util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.StagedTable = {
    if (!tableExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis
        .CannotReplaceMissingTableException(ident)
    stagedReplace(ident, schema, partitions, properties)
  }

  override def stageCreateOrReplace(ident: Identifier, schema: StructType,
                                    partitions: Array[Transform],
                                    properties: util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.StagedTable =
    if (tableExists(ident))
      stagedReplace(ident, schema, partitions, properties)
    else stageCreate(ident, schema, partitions, properties)

  private def stagedReplace(ident: Identifier, schema: StructType,
                            partitions: Array[Transform],
                            properties: util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.StagedTable = {
    val t = tableName(ident)
    val partCols = identityPartCols(partitions)
    val declared =
      Map("catalog.schema.ddl" -> schema.toDDL) ++
        (if (partCols.nonEmpty)
           Map("catalog.partition.columns" -> partCols.mkString(","))
         else Map.empty) ++
        properties.asScala.filterNot(_._1.startsWith("option."))
    new GraftStagedReplaceTable(this, t, schema, partCols, declared)
  }

  private[v2] def identityPartCols(partitions: Array[Transform]): Seq[String] =
    partitions.toSeq.map { tr =>
      if (tr.name() == "identity" && tr.references().length == 1)
        tr.references()(0).fieldNames().mkString(".")
      else throw new UnsupportedOperationException(
        s"partition transform '$tr' is not supported (identity columns only)")
    }

  private[v2] def commitDeclaration(table: String,
                                    declared: Map[String, String]): Unit =
    Snapshots.setProperties(fs, warehouse, table, declared)

  private[v2] def commitReplacedDeclaration(table: String,
                                            declared: Map[String, String]): Unit =
    Snapshots.replaceDeclaration(fs, warehouse, table, declared)

  private[v2] def warehousePath: String = warehouse

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException(
      "RENAME TABLE is not supported — table names are directory " +
        "structure; CTAS into the new name instead")
}

/** Catalog-resolved table, pinned at load: `warehouse`, `table`, the
  * loaded snapshot's `snapshotVersion` and the served schema are the only
  * source of what a read of it serves. BATCH_READ runs the log-planned
  * per-file scan at that version (each file decoded by Spark's parquet
  * reader); under the graft extensions [[planFor]] splices the same version
  * into a plain file-source plan. BATCH_WRITE / TRUNCATE go through the
  * staged TxnCommit write. `properties()` is what `SHOW TBLPROPERTIES`
  * shows; no read takes its identity or version from it.
  * `snapshotVersion` is None only for a staged CTAS/REPLACE table, which
  * is written, never read. */
class GraftCatalogTable(val warehouse: String, val table: String,
                        val snapshotVersion: Option[Long],
                        tableSchema: StructType,
                        props: util.Map[String, String],
                        partCols: Seq[String])
  extends SnapshotTable(tableSchema, props)
  with org.apache.spark.sql.connector.catalog.SupportsDelete {
  import scala.jdk.CollectionConverters._

  private def spark = SparkSession.active
  private def snapshot: graft.ingest.Snapshot =
    Snapshots.snapshot(new Path(warehouse)
      .getFileSystem(spark.sparkContext.hadoopConfiguration), warehouse,
      snapshotVersion)

  /** `DELETE FROM graft.t WHERE …` — Spark's row-level delete resolution
    * hands the (exactly translatable) condition here; it lowers onto the
    * format's merge-on-read/copy-on-write delete, which picks deletion
    * vectors or rewrites per file by deletion density. */
  override def canDeleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    filters.forall(SnapshotDataSource.filterToColumn(_).isDefined)

  override def deleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    import org.apache.spark.sql.functions.lit
    val cond = filters.flatMap(SnapshotDataSource.filterToColumn)
      .reduceOption(_ && _).getOrElse(lit(true))
    graft.ingest.Merge.deleteWhereDv(spark, warehouse, table, cond)
  }

  // No ACCEPT_ANY_SCHEMA here (unlike the format-path SnapshotTable,
  // whose sink supports create-on-first-write): a catalog table always
  // has a schema — declared or committed — so Spark's own INSERT column
  // alignment/casting runs, and the commit point re-enforces on top.
  override def capabilities(): util.Set[org.apache.spark.sql.connector.catalog.TableCapability] = {
    import org.apache.spark.sql.connector.catalog.TableCapability._
    util.EnumSet.of(BATCH_READ, BATCH_WRITE, TRUNCATE, OVERWRITE_DYNAMIC,
      MICRO_BATCH_READ, STREAMING_WRITE)
  }

  override def partitioning(): Array[Transform] =
    partCols.map(c =>
      org.apache.spark.sql.connector.expressions.Expressions.identity(c))
      .toArray

  override def properties(): util.Map[String, String] = props

  /** Live-row bound at the pinned version from the log's stats tokens —
    * zero jobs; [[graft.ingest.Merge]] routes merge-source sizing through
    * this instead of a probe job. */
  private[graft] def logRowBound: Option[Long] = snapshot.logRowCount(table)

  /** The optimized plan of this table's rows at the pinned version, with
    * `pred` pruning the file list from log stats, at this table's schema
    * (both are [[graft.ingest.Snapshot.schema]]). What
    * [[graft.sql.SnapshotScanRule]] splices in place of the relation; built
    * fresh per call, so each splice has its own expression ids. */
  private[graft] def planFor(pred: graft.ingest.FileStats.Pred)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    snapshot.read(spark, table, dataFilter = pred).queryExecution.optimizedPlan

  // SQL reads arrive with the per-query options; the typed identity and
  // the pinned version override them, and the log's TBLPROPERTIES serve
  // only as defaults beneath (stream options such as maxFilesPerTrigger).
  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : SnapshotScanBuilder = {
    val merged = new CaseInsensitiveStringMap((props.asScala ++
      options.asScala ++ Map("warehouse" -> warehouse, "table" -> table) ++
      snapshotVersion.map(v => "versionAsOf" -> v.toString)).asJava)
    // Protocol gate: the per-file catalog scan serves rows directly from
    // the log's file list, so it needs every reader feature a batch read
    // needs — refuse unknown ones at plan time, naming the feature. The
    // gate reads the scan's own pinned snapshot.
    val builder = super.newScanBuilder(merged)
    builder.requireReadable()
    // The catalog table's resolved schema is the SNAPSHOT schema; serving
    // the change feed under it would silently surface merge pre/post-image
    // rows as plain data. The feed has its own surfaces — fail fast.
    require(!Option(merged.get("readChangeFeed")).exists(_.toBoolean),
      "readChangeFeed is not supported on catalog tables — use " +
        "SNAPSHOT CHANGES OF t, Snapshots.changes, or " +
        "spark.read.format(\"graft-snapshots\").option(\"readChangeFeed\", " +
        "\"true\") (whose schema carries _change_type/_commit_version)")
    builder
  }

  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new SnapshotWriteBuilder(info,
      props.asScala.toMap ++
        (if (partCols.nonEmpty) Map("partitionBy" -> partCols.mkString(","))
         else Map.empty))
}

/** The in-flight table of an atomic CTAS: writes flow through the normal
  * batch write (one TxnCommit version on success), the held declaration
  * commits only in [[commitStagedChanges]], and abort commits nothing —
  * the data write's own abort already swept its staging. */
private[v2] class GraftStagedTable(catalog: GraftCatalog, table: String,
                                   tableSchema: StructType,
                                   partCols: Seq[String],
                                   declared: Map[String, String])
  extends GraftCatalogTable(catalog.warehousePath, table, None, tableSchema,
    {
      import scala.jdk.CollectionConverters._
      // Declared TBLPROPERTIES configure the CTAS data write itself
      // (e.g. graft.optimizeWrite) — identity props still win.
      (declared.filterNot(_._1.startsWith("option.")) ++
        Map("warehouse" -> catalog.warehousePath, "table" -> table)).asJava
    }, partCols)
  with org.apache.spark.sql.connector.catalog.StagedTable {

  override def commitStagedChanges(): Unit =
    catalog.commitDeclaration(table, declared)

  override def abortStagedChanges(): Unit = ()
}

/** The in-flight table of an atomic REPLACE: the data write is FORCED
  * into truncate (overwrite) mode — one OCC-guarded version swaps every
  * old live file for the query's output — and the held declaration
  * replaces the old one wholesale on commit (stale properties dropped,
  * column mapping cleared). Abort leaves the old table untouched. */
private[v2] class GraftStagedReplaceTable(catalog: GraftCatalog, table: String,
                                          tableSchema: StructType,
                                          partCols: Seq[String],
                                          declared: Map[String, String])
  extends GraftStagedTable(catalog, table, tableSchema, partCols, declared) {

  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    super.newWriteBuilder(info)
      .asInstanceOf[org.apache.spark.sql.connector.write.SupportsTruncate]
      .truncate()

  override def commitStagedChanges(): Unit =
    catalog.commitReplacedDeclaration(table, declared)
}
