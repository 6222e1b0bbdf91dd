package graft.ingest

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, NullType, StructField, StructType}

/** One pinned version of a warehouse's snapshot log: the version and the
  * log state folded at it (the Delta `Snapshot` analog). An operation takes
  * ONE of these ([[Snapshots.snapshot]] — one anchored tail walk plus a
  * cached fold) and serves every read, metadata lookup and OCC base from
  * it, so all of them describe the same version and the log is walked
  * once per operation, not once per accessor.
  *
  * Immutable. `version` is None when the warehouse has no log yet (every
  * table is then empty). The fold it holds covers the WHOLE warehouse, so
  * long-lived holders (stream sources, cached relations, reader factories)
  * keep only the version and the per-table facts they need, never the
  * snapshot itself. */
final class Snapshot private[ingest] (
    private[graft] val fs: FileSystem, val warehouse: String,
    val version: Option[Long],
    private[ingest] val state: Snapshots.Folded) {
  import Snapshots.Action

  /** Live files of `table`: one ADD Action per file, with partition
    * tuple, stats token and deletion-vector attachment. */
  def files(table: String): Seq[Action] =
    state.files.get(table)
      .map(_.toSeq.map { case (f, (part, stats, dv)) =>
        Action("ADD", table, f, part, stats, dv) })
      .getOrElse(Seq.empty)

  /** Raw META payload of a key (a table's mapping, a pseudo-key such as
    * `t#props`, `t#idhw#c` or `#txn#app`). */
  def metaValue(key: String): Option[String] = state.metas.get(key)

  /** The table's [[ColumnMapping]] — None until the first RENAME/DROP
    * COLUMN commit ("" = cleared by a drop or replace). */
  def columnMapping(table: String): Option[ColumnMapping] =
    metaValue(table).filter(_.nonEmpty).map(ColumnMapping.decode)

  /** The table's properties (empty until the first property commit). */
  def properties(table: String): Map[String, String] =
    metaValue(Snapshots.propsKey(table)).map(Snapshots.decodeProps)
      .getOrElse(Map.empty)

  /** The table's required protocol features (scope-prefixed names). */
  def features(table: String): Set[String] =
    metaValue(Snapshots.featuresKey(table)).filter(_.nonEmpty)
      .map(Snapshots.decodeFeatures).getOrElse(Set.empty)

  /** Refuse to serve (or, `forWrite`, to mutate) `table` when it requires
    * features this build does not implement — never silently-wrong rows. */
  def requireFeatures(table: String, forWrite: Boolean = false): Unit =
    Snapshots.checkFeatures(table, features(table), forWrite)

  /** Column DEFAULTs as PHYSICAL name → SQL literal text (see
    * [[Snapshots.defaultPresence]] for how reads apply them). */
  def defaults(table: String): Map[String, String] = {
    val mapping = columnMapping(table)
    properties(table).collect {
      case (k, v) if k.startsWith("default.") && v.nonEmpty =>
        val logical = k.stripPrefix("default.")
        mapping.fold(logical)(_.physicalFor(logical)) -> v
    }
  }

  /** Writer options every rewrite of `table` stages under (the table's
    * bloom properties, in physical names). */
  def bloomWriteOptions(table: String): Map[String, String] =
    Snapshots.bloomOptions(properties(table), columnMapping(table))

  /** Ordered partition-column list of the table's live layout — its
    * catalog declaration (`catalog.partition.columns`) while it has no live
    * files; empty for flat tables. */
  def partitionLayout(table: String): Seq[String] = {
    val live = files(table)
    if (live.nonEmpty) Snapshots.partitionColumns(live.map(_.partition))
    else properties(table).get("catalog.partition.columns").toSeq
      .flatMap(_.split(",")).filter(_.nonEmpty)
  }

  /** The schema `table` serves at this version, in LOGICAL names — the one
    * place a column's type is decided, so no filter, pruning or rewrite can
    * move it: every read, DML rewrite and catalog scan reads at it. Computed
    * from the log ([[physicalSchema]]), then resolved through the column
    * mapping. A declared table with no live files serves its declaration;
    * any other table without committed files throws. */
  def schema(spark: SparkSession, table: String,
             mergeSchema: Boolean = false): StructType = {
    requireFeatures(table)
    logicalSchema(table, liveSchema(spark, table, mergeSchema))
  }

  /** `physical` in LOGICAL names, as [[ColumnMapping.applyTo]] serves it:
    * mapped columns in mapping order, then the `passthrough` columns. */
  private[ingest] def logicalSchema(table: String, physical: StructType,
                                    passthrough: Seq[String] = Nil)
      : StructType =
    columnMapping(table).fold(physical)(m => StructType(m.cols.map {
      case (logical, p) => physical.find(_.name == p)
        .fold(StructField(logical, NullType))(_.copy(name = logical))
    } ++ physical.filter(f => passthrough.contains(f.name))))

  /** [[physicalSchema]] over the live files, memoized on the shared fold
    * per table, `mergeSchema` and the session confs it reads, so all the
    * operations planning one version pay for it once. */
  private[ingest] def liveSchema(spark: SparkSession, table: String,
                                 mergeSchema: Boolean = false): StructType = {
    val conf = spark.sessionState.conf
    state.schemas.computeIfAbsent((table, mergeSchema,
        conf.partitionColumnTypeInferenceEnabled, conf.caseSensitiveAnalysis,
        conf.sessionLocalTimeZone),
      _ => physicalSchema(spark, table, files(table), mergeSchema))
  }

  /** [[schema]] in PHYSICAL names over the files `acts` (the live files,
    * or a change feed's range):
    *  - data columns from one cached footer per schema-tag signature
    *    ([[Snapshots.footerSchema]]);
    *  - partition columns: the declared type (`catalog.schema.ddl`), else
    *    the type files carrying the column as data give it (a flat era's
    *    files, change files), else Spark's inference over every tuple
    *    ([[Snapshots.partitionSchema]]);
    *  - `catalog.coltype.*` widens a column safely and, like an initial
    *    default's literal, types a mapped column no file carries;
    *  - no files: the declaration, else an error. */
  private[ingest] def physicalSchema(spark: SparkSession, table: String,
                                     acts: Seq[Action],
                                     mergeSchema: Boolean = false): StructType = {
    val props = properties(table)
    val mapping = columnMapping(table)
    val declared = props.get("catalog.schema.ddl").map(StructType.fromDDL)
    def ddlType(c: String, ddl: String): DataType =
      StructType.fromDDL(s"`$c` $ddl").fields(0).dataType
    val altered: Map[String, DataType] = props.collect {
      case (k, v) if k.startsWith("catalog.coltype.") && v.nonEmpty =>
        val c = k.stripPrefix("catalog.coltype.")
        mapping.fold(c)(_.physicalFor(c)) -> ddlType(c, v)
    }
    def widened(f: StructField) = altered.get(f.name)
      .filter(Snapshots.safeWidening(f.dataType, _))
      .fold(f)(t => f.copy(dataType = t))
    val (data, parts) =
      if (acts.isEmpty) (declared.getOrElse(throw new IllegalArgumentException(
        s"table '$table' has no committed files at version " +
          version.getOrElse(-1L))), new StructType())
      else {
        val footer = Snapshots.footerSchema(spark, acts, mergeSchema)
        def types(s: StructType) = s.fields.map(f => f.name -> f.dataType).toMap
        val parts = Snapshots.partitionSchema(spark, acts,
          types(footer) ++ declared.fold(Map.empty[String, DataType])(types))
        (footer.filterNot(f => parts.fieldNames.contains(f.name)), parts)
      }
    val carried = (data ++ parts).map(_.name).toSet
    // Initial defaults are SQL literals: their type is the parsed literal's.
    val defaultTypes = defaults(table).flatMap { case (c, text) =>
      scala.util.Try(spark.sessionState.sqlParser.parseExpression(text).dataType)
        .toOption.map(c -> _) }
    val uncarried = (mapping.toSeq.flatMap(_.cols.map(_._2)) ++
        defaultTypes.keys).distinct.filterNot(carried)
      .flatMap(c => altered.get(c).orElse(defaultTypes.get(c))
        .map(StructField(c, _)))
    StructType(data.map(widened) ++ uncarried ++ parts.map(widened))
  }

  /** Summed live-row count of `table` from the stats tokens alone
    * (deletion-vectored rows subtracted). None when there is no log or any
    * live file lacks a rows token. */
  def logRowCount(table: String): Option[Long] =
    version.flatMap(_ => files(table).foldLeft(Option(0L)) { (acc, a) =>
      acc.flatMap(t => FileStats.decode(a.stats).filter(_.rows >= 0)
        .map(st => t + math.max(0L, st.rows - a.dvCount)))
    })

  /** THE file-skipping step: live files of `table` whose partition tuple
    * passes `partitionFilter` and whose log-side stats — partition tuple
    * folded in as exact ranges, renamed to logical names through the
    * mapping, sidecar blooms loaded only for survivors — may match `pred`.
    * Files without stats are kept. Null filters prune nothing. */
  def pruned(table: String, pred: FileStats.Pred,
             partitionFilter: Map[String, String] => Boolean = null)
      : Seq[Action] = {
    val all = files(table)
    val parts =
      if (partitionFilter == null) all
      else all.filter(a => partitionFilter(Snapshots.specToMap(a.partition)))
    if (pred == null || parts.isEmpty) parts
    else {
      val mapping = columnMapping(table)
      val loader = Snapshots.sidecarBloomLoader(fs, warehouse)
      parts.filter { a =>
        val stats = Snapshots.statsWithPartition(a)
        FileStats.mayMatch(mapping.fold(stats)(_.statsToLogical(stats)),
          pred, loader)
      }
    }
  }

  /** Table names: tables with live files plus declared-but-empty tables
    * that carry properties. */
  def tableNames: Seq[String] = {
    val live = state.files.collect { case (t, fsq) if fsq.nonEmpty => t }
    // A dropped table's props key survives the fold with an EMPTY payload
    // (drop writes `p1;` to clear) — only a nonEmpty decoded payload marks
    // a declared table, so SHOW TABLES never lists a ghost.
    val declared = state.metas.collect {
      case (k, v) if k.endsWith("#props") &&
          Snapshots.decodeProps(v).nonEmpty => k.stripSuffix("#props")
    }
    (live ++ declared).toSeq.distinct.sorted
  }

  /** Every live data file and deletion-vector path referenced by any
    * table EXCEPT `except` — DROP PURGE's clone-sharing spare list. */
  def liveRefsExcept(except: String): (Set[String], Set[String]) = {
    val files = Set.newBuilder[String]
    val dvs = Set.newBuilder[String]
    state.files.foreach { case (t, m) =>
      if (t != except) m.foreach { case (f, (part, stats, dv)) =>
        files += f
        if (dv.nonEmpty) dvs += Action("ADD", t, f, part, stats, dv).dvPath
      }
    }
    (files.result(), dvs.result())
  }

  /** META entries whose key starts with `prefix` (e.g. a table's identity
    * high-water marks, `t#idhw#…`). */
  private[ingest] def metasWithPrefix(prefix: String): Seq[(String, String)] =
    state.metas.toSeq.filter(_._1.startsWith(prefix))

  /** THE log-to-DataFrame builder: the rows of `acts` (ADD or CDF actions
    * of `table`) as one frame in PHYSICAL names, read at `schema` (the
    * caller's [[physicalSchema]]: a column a file lacks reads null, a narrow
    * file reads at the wide type, a partition column takes its served type
    * straight from its path string), minus deletion vectors, with
    * initial-defaults injected for files that predate their column.
    * Reads, the change feed, DML and compaction all plan through here.
    *
    * One relation per (root table dir, partition layout, defaulted-column
    * presence), read under `basePath` = the root dir: a clone's files can
    * sit in the source's dir, and a layout-evolved table must not mix
    * depths under one basePath (Spark's conflicting-directory check);
    * groups union by name, columns in `schema` order, then whatever
    * `scanSide` adds. `scanSide` runs on each group's raw scan, where
    * `_metadata` columns still resolve. The same path may appear more than
    * once in `acts`; it is read once, under the deletion vector its
    * actions carry. An explicit schema plans no footer-inference job. */
  private[ingest] def scanFiles(spark: SparkSession, table: String,
                                acts: Seq[Action], schema: StructType,
                                scanSide: DataFrame => DataFrame = identity)
      : DataFrame = {
    val defaults = this.defaults(table)
    val frames = acts.groupBy(a => (Snapshots.rootDirOf(a),
        Snapshots.partitionColumns(Seq(a.partition)),
        Snapshots.defaultPresence(a, defaults))).toSeq.map {
      case ((root, layout, present), g) =>
        val rd = spark.read.schema(schema)
        val raw = (if (layout.isEmpty) rd else rd.option("basePath", root))
          .parquet(g.map(_.file).distinct: _*)
        Snapshots.injectDefaults(Snapshots.applyDv(spark, scanSide(raw), g),
          present, defaults)
    }
    val all = frames.reduce(_.unionByName(_, allowMissingColumns = true))
    // Spark puts a relation's partition columns last: a group of a shorter
    // layout would otherwise move them.
    val order = schema.fieldNames ++ all.columns.filterNot(schema.fieldNames.contains)
    if (all.columns.sameElements(order)) all
    else all.select(order.map(c => all.col(s"`${c.replace("`", "``")}`")).toSeq: _*)
  }

  /** Snapshot-isolated read of `table` at this version — see
    * [[Snapshots.read]]. */
  def read(spark: SparkSession, table: String, mergeSchema: Boolean = false,
           partitionFilter: Map[String, String] => Boolean = null,
           dataFilter: FileStats.Pred = null): DataFrame =
    Snapshots.readAt(spark, this, table, mergeSchema, partitionFilter,
      dataFilter)
}
