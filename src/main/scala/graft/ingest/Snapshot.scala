package graft.ingest

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

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
    fs: FileSystem, val warehouse: String, val version: Option[Long],
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

  /** Ordered partition-column list of the table's live layout (empty for
    * flat tables). */
  def partitionLayout(table: String): Seq[String] =
    Snapshots.partitionColumns(files(table).map(_.partition))

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
    * of `table`) as one frame in PHYSICAL names, minus deletion vectors,
    * with initial-defaults injected for files that predate their column.
    * Reads, the change feed, DML and compaction all plan through here.
    *
    * One relation per (root table dir, partition layout, defaulted-column
    * presence), read under `basePath` = the root dir: a clone's files can
    * sit in the source's dir, and a layout-evolved table must not mix
    * depths under one basePath (Spark's conflicting-directory check);
    * groups union with additive semantics. Each group's schema is, in
    * order: the widest schema of a width- or column-mixed group
    * ([[Snapshots.widenedSchema]]); the cached footer of any member when
    * the log's schema tags prove a flat group uniform (tags carry the full
    * top-level signature, so footer merging could find nothing more; a
    * partitioned group's column types derive from its paths); else footer
    * inference, merging all footers when `mergeSchema`. The
    * schema comes from `schemaFrom`'s files of the same group when given
    * (a pruned read keeps the schema of its unpruned table). `scanSide`
    * runs on each group's raw scan, where `_metadata` columns still
    * resolve. The same path may appear more than once in `acts`; it is
    * read once, under the deletion vector its actions carry.
    * `partitionTypes` (physical names) types a partition column straight
    * from its path strings instead of by path inference, which would read
    * a STRING `h=05` as INT 5. */
  private[ingest] def scanFiles(spark: SparkSession, table: String,
                                acts: Seq[Action], partCols: Seq[String],
                                scanSide: DataFrame => DataFrame = identity,
                                mergeSchema: Boolean = false,
                                schemaFrom: Seq[Action] = Nil,
                                partitionTypes: Map[String, DataType] = Map.empty)
      : DataFrame = {
    val defaults = this.defaults(table)
    def groupKey(a: Action): (String, Seq[String], Set[String]) =
      (Snapshots.rootDirOf(a), Snapshots.partitionColumns(Seq(a.partition)),
        Snapshots.defaultPresence(a, defaults))
    val schemaGroups = schemaFrom.groupBy(groupKey)
    val frames = acts.groupBy(groupKey).toSeq.map { case (key, g) =>
      val (root, layout, present) = key
      val bp = if (layout.isEmpty) None else Some(root)
      val src = schemaGroups.getOrElse(key, g)
      val rd0 = spark.read.option("mergeSchema", mergeSchema)
      val rd = bp.fold(rd0)(rd0.option("basePath", _))
      val schema = Snapshots.widenedSchema(spark, src, bp).orElse(
        if (bp.isEmpty && Snapshots.uniformStatsSchema(src))
          Some(Snapshots.cachedFileSchema(spark, src.head.file))
        else None)
      val paths = g.map(_.file).distinct
      def typed(s: StructType) = StructType(s.map(f =>
        partitionTypes.get(f.name).filter(_ => layout.contains(f.name))
          .fold(f)(t => f.copy(dataType = t))))
      // An explicit schema is the only way to type partition values: an
      // inferred one is re-read under its typed copy when they differ.
      val inferred = schema.map(typed).fold(rd)(rd.schema).parquet(paths: _*)
      val raw =
        if (typed(inferred.schema) == inferred.schema) inferred
        else rd.schema(typed(inferred.schema)).parquet(paths: _*)
      Snapshots.injectDefaults(Snapshots.applyDv(spark, scanSide(raw), g),
        present, defaults)
    }
    Snapshots.deVoidPartitions(
      frames.reduce(_.unionByName(_, allowMissingColumns = true)), partCols)
  }

  /** Snapshot-isolated read of `table` at this version — see
    * [[Snapshots.read]]. */
  def read(spark: SparkSession, table: String, mergeSchema: Boolean = false,
           partitionFilter: Map[String, String] => Boolean = null,
           dataFilter: FileStats.Pred = null,
           partitionTypes: Map[String, DataType] = Map.empty): DataFrame =
    Snapshots.readAt(spark, this, table, mergeSchema, partitionFilter,
      dataFilter, partitionTypes)
}
