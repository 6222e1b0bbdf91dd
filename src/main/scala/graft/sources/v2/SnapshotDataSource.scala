package graft.sources.v2

import java.util
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, MicroBatchStream, Offset, ReadAllAvailable, ReadLimit, ReadMaxBytes, ReadMaxFiles, ReadMaxRows, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetPartitionReaderFactory
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration
import graft.ingest.{ColumnMapping, FileStats, Snapshot, Snapshots, TxnCommit}

/** Structured Streaming source over the [[Snapshots]] log — the read-side
  * dual of the exactly-once transactional sink: offsets ARE snapshot
  * versions, and each micro-batch plans exactly the files the in-range
  * append commits added (the same per-version file lists `changes()`
  * serves in batch). This completes the table format's streaming story:
  * one job writes through TxnCommit, any number of downstream jobs tail
  * the log incrementally with Spark's own checkpointing giving
  * exactly-once delivery across restarts.
  *
  * {{{
  * spark.readStream.format("graft-snapshots")
  *   .option("warehouse", wh).option("table", "t")
  *   .load()  // table schema; one batch per unseen version range
  * }}}
  *
  * Options: `startingVersion` (exclusive, default -1 = from the log's
  * beginning), `skipChangeCommits` (default false — a merge commit in
  * range then fails the stream rather than silently dropping its rewrites;
  * true skips them, the Delta option of the same name), and
  * `readChangeFeed` (true = stream the row-level change feed instead:
  * schema gains `_change_type` and `_commit_version`, appends arrive as
  * `insert` rows, merges as their staged pre/post-image and delete rows —
  * the streaming dual of `Snapshots.changes`). Compaction / zorder
  * rewrites move rows without changing them and are always skipped.
  *
  * Scale shape: a trigger lists the log tail (tiny files, O(new versions)),
  * never the table directory; one input partition per new data file; the
  * readers stream parquet row groups directly. Partition-column values come
  * from the log's recorded tuples — constant per file, appended by the
  * reader, no path parsing.
  *
  * Rows are decoded by Spark's own parquet reader
  * ([[SnapshotFileReaderFactory]]), so the stream serves every type Spark's
  * parquet format serves — decimals, arrays, structs, maps included.
  * Reference: the reference's tail-the-bucket loop
  * (huckli-import/src/lib.rs:150-210) replayed as a log-offset stream.
  */
class SnapshotDataSource extends TableProvider with DataSourceRegister
  with org.apache.spark.sql.sources.RelationProvider
  with org.apache.spark.sql.sources.CreatableRelationProvider {
  override def shortName(): String = "graft-snapshots"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    SnapshotDataSource.tableSchema(options)
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new SnapshotTable(schema, properties)
  /** Batch reads (`spark.read.format("graft-snapshots")`) resolve through
    * the V1 fallback: the DSv2 table advertises MICRO_BATCH_READ only, so
    * DataFrameReader lands here and gets a relation that delegates to the
    * log-pinned [[Snapshots.read]] plan — vectorized parquet IO, log-side
    * stats/partition skipping, column pruning — instead of one input
    * partition per file (the stream's shape, made for tailing small
    * commits, the wrong tool for a backfill). */
  override def createRelation(sqlContext: org.apache.spark.sql.SQLContext,
                              parameters: Map[String, String])
      : org.apache.spark.sql.sources.BaseRelation = {
    import scala.jdk.CollectionConverters._
    new SnapshotBatchRelation(sqlContext,
      new CaseInsensitiveStringMap(parameters.asJava))
  }

  /** Batch WRITE (`df.write.format("graft-snapshots").mode(...).save()`) —
    * the V1 fallback mirror of the read side: Spark's parquet writer stages
    * the data (vectorized, partitionBy via the `partitionBy` option), and
    * one TxnCommit publish lands it atomically.
    *
    *  - Append / first write: one new log version of ADDs.
    *  - Overwrite: ADDs + REMOVEs of every previously-live file in ONE
    *    version — readers flip atomically, old files stay on disk for time
    *    travel until vacuum, and coarse OCC (baseVersion = the version
    *    read) aborts the overwrite if ANY commit touched the table since
    *    (an overwrite that silently kept a racing append's rows would be
    *    neither the old nor the new table). Schema must match the current
    *    table (the commit point enforces it) — overwrite replaces DATA,
    *    not the contract; use SchemaEvolution for that.
    *  - ErrorIfExists / Ignore: the Spark-standard existence semantics.
    *
    * Downstream consumers see an `overwrite` op tag: the streaming source
    * and `changes()` treat it like a merge rewrite (fail by default, skip
    * with skipChangeCommits) — its REMOVEs are not representable as
    * append-only events. `option("changeFeed", "true")` additionally
    * stages row-level change files (old rows as `delete`, new as
    * `insert`), making the overwrite servable by `changes()` and
    * `readChangeFeed` streams at the cost of one extra pass. */
  override def createRelation(sqlContext: org.apache.spark.sql.SQLContext,
                              mode: org.apache.spark.sql.SaveMode,
                              parameters: Map[String, String],
                              data: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.sources.BaseRelation = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.SaveMode
    val options = new CaseInsensitiveStringMap(parameters.asJava)
    val warehouse = SnapshotDataSource.required(options, "warehouse")
    val table = SnapshotDataSource.required(options, "table")
    val spark = data.sparkSession
    val fs = new Path(warehouse)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    TxnCommit.recover(fs, warehouse)
    // OCC base and live-file set from ONE snapshot: a commit racing in
    // after it has version > base and aborts the overwrite at publish —
    // it can slip past neither the REMOVE set nor the conflict check.
    val snap = Snapshots.snapshot(fs, warehouse)
    val existing = snap.files(table).map(_.file)
    val exists = existing.nonEmpty
    val skip = mode match {
      case SaveMode.ErrorIfExists if exists =>
        throw new IllegalStateException(
          s"table '$table' already exists under $warehouse " +
            "(SaveMode.ErrorIfExists)")
      case SaveMode.Ignore if exists => true
      case _ => false
    }
    if (!skip) {
      val cid = java.util.UUID.randomUUID().toString
      // Engine-managed columns: identity tables refuse generic writes
      // (ids are minted under the allocation-serialized high-water mark);
      // generated columns RECOMPUTE from their expression (the engine's
      // value wins — a supplied value cannot break stored ≡ expression).
      require(graft.ingest.Identity.identityColumns(snap, table).isEmpty,
        s"table '$table' declares GENERATED ALWAYS AS IDENTITY columns — " +
          "write through Identity.appendWithIdentity")
      val data1 = graft.ingest.Generated.materialize(snap, table, data)
      // Column-mapped (renamed) tables: files store PHYSICAL names. A
      // caller naturally writes the LOGICAL schema it reads — translate,
      // or the logical name would silently evolve as a duplicate column.
      val mapping = snap.columnMapping(table)
        .map(_.cols.toMap).getOrElse(Map.empty)
      val physData = mapping.foldLeft(data1) {
        case (df, (logical, physical)) =>
          if (logical != physical && df.columns.contains(logical))
            df.withColumnRenamed(logical, physical)
          else df
      }
      val partCols = Option(options.get("partitionBy")).toSeq
        .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
        .map(c => mapping.getOrElse(c, c))
      val stagingTable = s"${TxnCommit.stagingDir(warehouse, cid)}/$table"
      // Optimized write (table property / write option
      // `graft.optimizeWrite`, off by default): REBALANCE the frame on
      // the partition columns (round-robin when unpartitioned) before
      // staging, so AQE coalesces small outputs and splits skewed ones
      // at the advisory size instead of landing tasks × partitions
      // files. The v2 write path declares the same intent through
      // RequiresDistributionAndOrdering; AQE-off sessions skip the hint
      // (REBALANCE is an AQE optimization).
      val ow = Option(options.get("graft.optimizeWrite"))
        .orElse(snap.properties(table).get("graft.optimizeWrite"))
        .exists(_.toBoolean) &&
        spark.conf.get("spark.sql.adaptive.enabled", "true").toBoolean
      val staged =
        if (!ow) physData
        else if (partCols.isEmpty) physData.hint("rebalance")
        else physData.hint("rebalance",
          partCols.map(org.apache.spark.sql.functions.col): _*)
      val writer = staged.write
      (if (partCols.isEmpty) writer else writer.partitionBy(partCols: _*))
        .parquet(stagingTable)
      var moves = TxnCommit.movesFor(fs, warehouse, cid, table)
      if (mode == SaveMode.Overwrite && exists) {
        // Opt-in change feed for the rewrite (`option("changeFeed","true")`):
        // stage one CDF set — every replaced row as `delete`, every new row
        // as `insert` — so changes() and readChangeFeed streams can serve
        // the overwrite instead of refusing it. The insert half re-reads
        // the STAGED files (not the incoming plan): a nondeterministic
        // query must contribute the same rows to the table and its feed.
        // Costs one extra pass over old + new data; off by default.
        if (Option(options.get("changeFeed")).exists(_.toBoolean)) {
          import org.apache.spark.sql.functions.lit
          val inserts = {
            val r = spark.read
            (if (partCols.isEmpty) r else r.option("basePath", stagingTable))
              .parquet(stagingTable)
          }.withColumn("_change_type", lit("insert"))
          // Pre-images translated to physical names like the staged data —
          // CDF files follow the same on-disk naming as data files.
          val deletes = mapping.foldLeft(snap.read(spark, table)) {
              case (df, (logical, physical)) =>
                if (logical != physical && df.columns.contains(logical))
                  df.withColumnRenamed(logical, physical)
                else df
            }.withColumn("_change_type", lit("delete"))
          deletes.unionByName(inserts)
            .write.parquet(s"${TxnCommit.stagingDir(warehouse, cid)}/_changes/$table")
          moves = moves ++
            TxnCommit.movesFor(fs, warehouse, cid, s"_changes/$table")
        }
        TxnCommit.commit(fs, warehouse, cid, moves, retained = existing,
          op = "overwrite", baseVersion = snap.version, asTable = Some(table))
        TxnCommit.publish(fs, warehouse, cid, moves, retained = existing,
          op = "overwrite", baseVersion = snap.version, asTable = Some(table))
      } else {
        TxnCommit.commit(fs, warehouse, cid, moves)
        TxnCommit.publish(fs, warehouse, cid, moves)
      }
    }
    new SnapshotBatchRelation(sqlContext, options)
  }
}

/** Snapshot-pinned batch relation. The served version is resolved ONCE at
  * relation creation (`versionAsOf`/`timestampAsOf`, else the latest at
  * load time), so every action over the returned DataFrame sees the same
  * snapshot — commits landing between two actions are invisible, the same
  * isolation contract as `Snapshots.read`. With `readChangeFeed=true` the
  * relation serves the row-level change feed (`startingVersion` exclusive,
  * `endingVersion` inclusive) — the batch dual of the CDC stream. */
class SnapshotBatchRelation(override val sqlContext: org.apache.spark.sql.SQLContext,
                            options: CaseInsensitiveStringMap)
  extends org.apache.spark.sql.sources.BaseRelation
  with org.apache.spark.sql.sources.PrunedFilteredScan {

  import org.apache.spark.sql.{Column, DataFrame, Row}
  import org.apache.spark.sql.functions.col
  import org.apache.spark.sql.sources.Filter

  private val spark = sqlContext.sparkSession
  private val warehouse = SnapshotDataSource.required(options, "warehouse")
  private val table = SnapshotDataSource.required(options, "table")
  private val mergeSchema =
    Option(options.get("mergeSchema")).exists(_.toBoolean)
  private val changeFeed = SnapshotDataSource.readChangeFeed(options)
  private def fs = new Path(warehouse)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  // The pinned END of what this relation serves, resolved ONCE at load():
  // the snapshot version for plain reads, the change feed's inclusive
  // upper bound for CDF reads — so two actions on the same DataFrame see
  // the same data even while commits land in between. The relation keeps
  // that version and its schema, never the snapshot: both come from one
  // snapshot taken here, and every later plan re-pins the version.
  private val (pinnedVersion, loadSchema): (Option[Long], StructType) = {
    val requested =
      if (changeFeed)
        Option(options.get("endingVersion")).map(_.toLong)
          .orElse(Option(options.get("endingTimestamp")).map { ts =>
            // Inclusive: everything committed by the instant.
            Snapshots.versionAt(fs, warehouse,
              java.sql.Timestamp.valueOf(ts).getTime).getOrElse(-1L)
          })
      else Option(options.get("versionAsOf")).map(_.toLong)
        .orElse(Option(options.get("timestampAsOf")).map { ts =>
          Snapshots.versionAt(fs, warehouse,
              java.sql.Timestamp.valueOf(ts).getTime)
            .getOrElse(throw new IllegalArgumentException(
              s"no snapshot version existed at '$ts' under $warehouse"))
        })
    if (changeFeed) {
      val v = requested.orElse(Snapshots.snapshot(fs, warehouse).version)
      (v, baseFrame(v, null).schema)
    } else {
      val snap = Snapshots.snapshot(fs, warehouse, requested)
      (requested.orElse(snap.version),
        snap.read(spark, table, mergeSchema).schema)
    }
  }

  /** Live-row bound at the pinned version from the log's stats tokens —
    * zero jobs; [[graft.ingest.Merge]] routes merge-source sizing through
    * this instead of a probe job. None for CDF reads (feed rows are not
    * file rows) or token-less files. */
  private[graft] def logRowBound: Option[Long] =
    if (changeFeed) None
    else Snapshots.snapshot(fs, warehouse, pinnedVersion).logRowCount(table)

  private def baseFrame(at: Option[Long],
                        dataFilter: graft.ingest.FileStats.Pred): DataFrame =
    if (changeFeed)
      Snapshots.changes(spark, warehouse, table,
        fromExclusive =
          Option(options.get("startingVersion")).map(_.toLong)
            .orElse(Option(options.get("startingTimestamp")).map { ts =>
              // Delta-parity INCLUSIVE timestamp bound: serve changes
              // committed at or after the instant.
              Snapshots.versionAt(fs, warehouse,
                java.sql.Timestamp.valueOf(ts).getTime - 1).getOrElse(-1L)
            }).getOrElse(-1L),
        toInclusive = at)
    else Snapshots.snapshot(fs, warehouse, at).read(spark, table,
      mergeSchema, dataFilter = dataFilter,
      partitionTypes = schema.map(f => f.name -> f.dataType).toMap)

  override val schema: StructType = loadSchema

  /** The relation's rows ARE the inner vectorized plan's rows — serve
    * InternalRows straight from `toRdd` instead of paying a per-row
    * Row→InternalRow re-encode on every format-based scan (at 100 TB that
    * round trip roughly doubles scan CPU). Spark then uses the RDD as
    * `RDD[InternalRow]` directly. */
  override def needConversion: Boolean = false

  /** The inner frame with log-side skipping applied, conformed to the
    * advertised schema: skipping can prune away every file CARRYING a
    * schema-evolved column, whose rows would have read it as null, and
    * partition columns keep their advertised type whatever values the
    * surviving paths hold. */
  private def frameFor(pred: graft.ingest.FileStats.Pred): DataFrame =
    SnapshotDataSource.conform(
      baseFrame(pinnedVersion, if (changeFeed) null else pred), schema)

  /** The OPTIMIZED logical plan this relation delegates to, output columns
    * in schema order — what [[graft.sql.SnapshotScanRule]]
    * splices into the query plan in place of the relation so the final
    * physical plan is the vectorized columnar parquet scan itself (full
    * parquet predicate pushdown, partition pruning, column pruning),
    * with `pred` pruning the pinned file list from log stats first.
    * Optimized, not merely analyzed: the splice happens at pre-CBO, after
    * the outer optimizer's early batches — an un-eliminated ResolvedHint
    * (the change feed broadcasts its version map) would fail planning.
    * Built fresh per call: each splice needs its own expression ids (a
    * self-join swaps two relation nodes independently). */
  private[graft] def planFor(pred: graft.ingest.FileStats.Pred)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    frameFor(pred).queryExecution.optimizedPlan

  override def buildScan(requiredColumns: Array[String],
                         filters: Array[Filter])
      : org.apache.spark.rdd.RDD[Row] = {
    // Log-side file skipping from the pushed filters (conjunction: any one
    // proving a file irrelevant skips it); the same filters are re-applied
    // on the inner frame so parquet row-group pushdown fires too. Spark
    // still evaluates every filter on the surfaced rows (unhandledFilters
    // defaults to all) — both layers here are IO reduction, not semantics.
    val pred = filters.flatMap(f =>
        if (changeFeed) None else graft.ingest.FileStats.fromV1Filter(f))
      .reduceOption((a, b) => a.and(b)).orNull
    val inner = filters.flatMap(toColumn).foldLeft(frameFor(pred))(
      (df, c) => df.filter(c))
    // Empty projection (count-star shape) must still scan zero columns.
    // needConversion=false contract: the "Row" RDD actually carries the
    // inner plan's InternalRows — whole-stage-codegen output, no per-row
    // conversion layer.
    inner.select(requiredColumns.map(col).toSeq: _*)
      .queryExecution.toRdd.asInstanceOf[org.apache.spark.rdd.RDD[Row]]
  }

  private def toColumn(f: Filter): Option[Column] =
    SnapshotDataSource.filterToColumn(f)
}

object SnapshotDataSource {
  /** Exact V1-Filter → Column translation (every node must convert — a
    * partially converted NOT/OR could drop rows). Exactness means the
    * expression is the one Spark itself would evaluate, so applying it
    * early — or handing it to a DML rewrite — is safe. */
  private[graft] def filterToColumn(f: org.apache.spark.sql.sources.Filter)
      : Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions.{col, lit}
    import org.apache.spark.sql.sources._
    def go(f: Filter): Option[Column] = f match {
      case And(l, r) => for (a <- go(l); b <- go(r)) yield a && b
      case Or(l, r) => for (a <- go(l); b <- go(r)) yield a || b
      case Not(c) => go(c).map(!_)
      case EqualTo(a, v) => Some(col(a) === lit(v))
      case EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
      case GreaterThan(a, v) => Some(col(a) > lit(v))
      case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
      case LessThan(a, v) => Some(col(a) < lit(v))
      case LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
      case In(a, vs) => Some(col(a).isin(vs.toSeq: _*))
      case IsNull(a) => Some(col(a).isNull)
      case IsNotNull(a) => Some(col(a).isNotNull)
      case StringStartsWith(a, p) => Some(col(a).startsWith(p))
      case StringEndsWith(a, p) => Some(col(a).endsWith(p))
      case StringContains(a, p) => Some(col(a).contains(p))
      case AlwaysTrue() => Some(lit(true))
      case AlwaysFalse() => Some(lit(false))
      case _ => None
    }
    go(f)
  }

  /** `df` by name in `schema`'s column order and types: a column whose
    * type safely widens to the served one (or is all-null VOID) is cast,
    * one `df` lacks is a typed null. Any other type difference would cast
    * values into different values, so it fails instead. */
  private[v2] def conform(df: org.apache.spark.sql.DataFrame,
                          schema: StructType): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    import org.apache.spark.sql.types.NullType
    val have = df.schema.fields.map(f => f.name -> f.dataType).toMap
    df.select(schema.fields.map { f =>
      have.get(f.name) match {
        case Some(t) if t == f.dataType => col(f.name)
        case Some(t) if t == NullType || GraftCatalog.safeWidening(t, f.dataType) =>
          col(f.name).cast(f.dataType).as(f.name)
        case Some(t) => throw new IllegalStateException(
          s"column '${f.name}' reads as ${t.sql}, which does not widen " +
            s"to its served type ${f.dataType.sql}")
        case None => lit(null).cast(f.dataType).as(f.name)
      }
    }.toSeq: _*)
  }

  private[v2] def required(options: CaseInsensitiveStringMap, key: String): String =
    Option(options.get(key)).getOrElse(
      throw new IllegalArgumentException(s"option '$key' is required"))

  private[v2] def readChangeFeed(options: CaseInsensitiveStringMap): Boolean =
    Option(options.get("readChangeFeed")).exists(_.toBoolean)

  /** Schema = the current snapshot's read schema (partition columns last,
    * exactly as a batch Snapshots.read sees them); the change feed adds the
    * same metadata columns as the batch `changes()`. A table with no
    * committed snapshot yet yields an EMPTY schema — the write path needs
    * that for create-on-first-write (the sink's schema comes from the
    * query, not the table); the read path fails fast in newScanBuilder. */
  private[v2] def tableSchema(options: CaseInsensitiveStringMap): StructType = {
    // Resolve the required options OUTSIDE the not-committed-yet catch: a
    // caller that forgot `warehouse`/`table` must get the clear required-
    // option error, not an empty schema and a confusing "table 'null'
    // does not exist" three calls later.
    val warehouse = required(options, "warehouse")
    val table = required(options, "table")
    val base =
      try Snapshots.read(SparkSession.active, warehouse, table).schema
      catch { case _: IllegalStateException | _: IllegalArgumentException =>
        return new StructType()
      }
    if (!readChangeFeed(options)) base
    else base.add("_change_type", StringType).add("_commit_version", LongType)
  }

  /** The DSv2 scans and the sink serve exactly what Spark's parquet
    * format serves: the check `df.write.parquet` applies. */
  private[v2] def validate(schema: StructType): Unit =
    org.apache.spark.sql.execution.datasources.DataSourceUtils.verifySchema(
      new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat,
      schema)
}

class SnapshotTable(tableSchema: StructType, properties: util.Map[String, String])
  extends Table with SupportsRead
  with org.apache.spark.sql.connector.catalog.SupportsWrite {
  override def name(): String =
    s"graft-snapshots(${properties.get("warehouse")}/${properties.get("table")})"
  override def schema(): StructType = tableSchema
  // ACCEPT_ANY_SCHEMA: the sink supports create-on-first-write (no table
  // schema exists to check against at plan time); for existing tables the
  // commit point enforces schema + constraints transactionally, which is
  // strictly stronger than the analyzer's structural check.
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ,
      TableCapability.STREAMING_WRITE, TableCapability.ACCEPT_ANY_SCHEMA)
  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : SnapshotScanBuilder = {
    require(tableSchema.nonEmpty,
      s"graft-snapshots table '${properties.get("table")}' does not exist " +
        s"yet under ${properties.get("warehouse")} — nothing to read")
    new SnapshotScanBuilder(tableSchema, options)
  }
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new SnapshotWriteBuilder(info)
}

class SnapshotScanBuilder(tableSchema: StructType,
                          options: CaseInsensitiveStringMap)
  extends ScanBuilder with Scan with SupportsPushDownRequiredColumns
  with SupportsPushDownFilters with SupportsReportStatistics
  with SupportsPushDownAggregates {

  // ---- metadata-only aggregates -----------------------------------------
  // A filterless COUNT(*) / MIN / MAX is answered from the LOG alone when
  // the per-file stats make it exact: count from the rows tokens (deletion
  // vectors subtracted), min/max folded over the exact [min,max] tokens.
  // Any inexactness — a file without stats, a DV under a min/max, a
  // double column (NaN ordering), a partition or unmapped column — bails
  // to the normal scan. Spark only attempts the push when every filter
  // was consumed (this scan keeps all filters post-scan, so only
  // unfiltered aggregates arrive here). At 100 TB this is the difference
  // between a driver log walk and a full-table scan for `SELECT count(*)`.
  import org.apache.spark.sql.connector.expressions.NamedReference
  import org.apache.spark.sql.connector.expressions.aggregate.{AggregateFunc, Aggregation, CountStar, Max, Min}

  private val table = SnapshotDataSource.required(options, "table")

  /** The ONE version this scan serves (`versionAsOf`, else the latest at
    * first use): pushed aggregates, statistics and the planned files all
    * read it. */
  private lazy val snap: Snapshot = {
    val warehouse = SnapshotDataSource.required(options, "warehouse")
    Snapshots.snapshot(
      new Path(warehouse).getFileSystem(
        SparkSession.active.sparkContext.hadoopConfiguration),
      warehouse, Option(options.get("versionAsOf")).map(_.toLong))
  }

  /** The protocol gate for scans that serve file rows directly. */
  private[v2] def requireReadable(): Unit = snap.requireFeatures(table)

  private var aggPush: Option[(StructType, Array[String])] = None
  private var aggCache: Option[(Aggregation, Option[(StructType, Array[String])])] = None

  override def supportCompletePushDown(agg: Aggregation): Boolean =
    computeAgg(agg).isDefined
  override def pushAggregation(agg: Aggregation): Boolean =
    computeAgg(agg) match {
      case Some(r) => aggPush = Some(r); true
      case None => false
    }

  private def computeAgg(agg: Aggregation)
      : Option[(StructType, Array[String])] = {
    aggCache match {
      case Some((a, r)) if a eq agg => return r
      case _ => ()
    }
    val r = computeAggUncached(agg)
    aggCache = Some((agg, r))
    r
  }

  private def computeAggUncached(agg: Aggregation)
      : Option[(StructType, Array[String])] = {
    if (agg.groupByExpressions.nonEmpty) return None
    if (Option(options.get("readChangeFeed")).exists(_.toBoolean)) return None
    if (snap.version.isEmpty) return None
    val files = snap.files(table)
    val mapping = snap.columnMapping(table)
    val decoded: Seq[(Snapshots.Action, graft.ingest.FileStats.Stats)] =
      files.map { a =>
        val st = graft.ingest.FileStats.decode(a.stats)
        a -> mapping.fold(st)(_.statsToLogical(st)).getOrElse(return None)
      }
    val needsMinMax = agg.aggregateExpressions.exists(!_.isInstanceOf[CountStar])
    if (needsMinMax && files.exists(_.dv.nonEmpty)) return None

    def colOf(f: AggregateFunc): Option[String] = f match {
      case m: Min => m.column match {
        case nr: NamedReference if nr.fieldNames().length == 1 =>
          Some(nr.fieldNames()(0))
        case _ => None
      }
      case m: Max => m.column match {
        case nr: NamedReference if nr.fieldNames().length == 1 =>
          Some(nr.fieldNames()(0))
        case _ => None
      }
      case _ => None
    }
    def utf8Le(a: String, b: String): Boolean = {
      val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var i = 0
      while (i < x.length && i < y.length) {
        val c = (x(i) & 0xff) - (y(i) & 0xff)
        if (c != 0) return c < 0
        i += 1
      }
      x.length <= y.length
    }
    // Fold one column's exact bound over every file, or bail (None).
    def foldMinMax(col: String, isMin: Boolean): Option[Option[String]] = {
      val field = tableSchema.fields.find(_.name == col).getOrElse(return None)
      val expectTyp = field.dataType match {
        case LongType | IntegerType | ShortType | ByteType | DateType |
             TimestampType => "long"
        case StringType => "string"
        case _: DecimalType => "dec"
        case _ => return None // double/float: NaN breaks stats ordering
      }
      var best: Option[String] = None
      decoded.foreach { case (_, st) =>
        st.cols.get(col) match {
          case Some(cs) =>
            if (cs.typ != expectTyp) return None
            val v = if (isMin) cs.min else cs.max
            val better = best match {
              case None => true
              case Some(b) =>
                if (expectTyp == "long")
                  if (isMin) v.toLong < b.toLong else v.toLong > b.toLong
                else if (expectTyp == "dec") {
                  val c = new java.math.BigDecimal(v)
                    .compareTo(new java.math.BigDecimal(b))
                  if (isMin) c < 0 else c > 0
                }
                else if (isMin) utf8Le(v, b) && v != b
                else utf8Le(b, v) && v != b
            }
            if (better) best = Some(v)
          case None =>
            // No [min,max]: sound to skip ONLY a provably all-null file.
            if (!st.nulls.get(col).contains(st.rows)) return None
        }
      }
      Some(best)
    }

    val results = agg.aggregateExpressions.map {
      case _: CountStar =>
        val n = decoded.map { case (a, st) =>
          math.max(0L, st.rows - a.dvCount) }.sum
        (StructField("count(*)", LongType, nullable = false), n.toString)
      case f @ (_: Min) =>
        val col = colOf(f).getOrElse(return None)
        val v = foldMinMax(col, isMin = true).getOrElse(return None)
        (StructField(s"min($col)", tableSchema(col).dataType), v.orNull)
      case f @ (_: Max) =>
        val col = colOf(f).getOrElse(return None)
        val v = foldMinMax(col, isMin = false).getOrElse(return None)
        (StructField(s"max($col)", tableSchema(col).dataType), v.orNull)
      case _ => return None // Count(col), Sum, avg …: not exact from the log
    }
    Some((StructType(results.map(_._1)), results.map(_._2)))
  }
  // -----------------------------------------------------------------------

  // Column pruning: ship only projected fields; the parquet reader reads
  // just the kept columns' pages.
  private var requiredSchema: StructType = tableSchema
  override def pruneColumns(required: StructType): Unit = {
    val keep = required.fieldNames.toSet
    requiredSchema = StructType(tableSchema.fields.filter(f => keep(f.name)))
  }

  // Filter pushdown feeds log-side FILE skipping only (a pruned file costs
  // nothing, not even a task); every filter is returned as post-scan, so
  // Spark still evaluates all of them on the surfaced rows — both layers
  // are IO reduction, never semantics.
  private var pred: graft.ingest.FileStats.Pred = null
  private var prunable: Array[org.apache.spark.sql.sources.Filter] = Array.empty
  override def pushFilters(filters: Array[org.apache.spark.sql.sources.Filter])
      : Array[org.apache.spark.sql.sources.Filter] = {
    prunable = filters.filter(f =>
      graft.ingest.FileStats.fromV1Filter(f).isDefined)
    pred = filters.flatMap(graft.ingest.FileStats.fromV1Filter)
      .reduceOption((a, b) => a.and(b)).orNull
    filters
  }
  override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] =
    prunable

  override def build(): Scan = { SnapshotDataSource.validate(tableSchema); this }
  override def readSchema(): StructType =
    aggPush.map(_._1).getOrElse(requiredSchema)

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new SnapshotMicroBatchStream(options, requiredSchema)

  /** Scan statistics from the SAME log walk that plans the files — summed
    * size/row tokens of the pruning-surviving files, zero file opens — so
    * Spark's join planning (broadcast thresholds, AQE) sees honest sizes
    * even on the extension-less fallback path. */
  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics = {
    import java.util.OptionalLong
    var bytes = 0L; var rows = 0L
    var haveBytes = true; var haveRows = true
    snap.pruned(table, pred).foreach { a =>
      val st = graft.ingest.FileStats.decode(a.stats)
      st.map(_.bytes).filter(_ >= 0) match {
        case Some(b) => bytes += b
        case None => haveBytes = false
      }
      st.map(_.rows) match {
        case Some(r) => rows += math.max(0L, r - a.dvCount)
        case None => haveRows = false
      }
    }
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): OptionalLong =
        if (haveBytes) OptionalLong.of(bytes) else OptionalLong.empty()
      override def numRows(): OptionalLong =
        if (haveRows) OptionalLong.of(rows) else OptionalLong.empty()
    }
  }

  /** Batch scan for catalog-resolved reads ([[GraftCatalogTable]]
    * advertises BATCH_READ): one input partition per log-live file at the
    * pinned version, served by the same per-file reader the stream uses —
    * partition columns from the log's tuples, deletion vectors subtracted,
    * column mapping applied. Sessions with the graft extensions splice
    * this relation into the vectorized parquet plan before physical
    * planning ever reaches here (see `graft.sql.SnapshotScanRule`). */
  override def toBatch: Batch = aggPush match {
    case Some((schema, values)) => new SnapshotAggBatch(schema, values)
    case None =>
      // The files are planned here, at the scan's pinned version, like the
      // V1 relation: every action over this plan sees the same snapshot.
      val mapping = snap.columnMapping(table)
      val defaults = snap.defaults(table)
      val version = snap.version.getOrElse(-1L)
      new SnapshotBatch(
        snap.pruned(table, pred).map(a =>
          SnapshotInputPartition.of(a, version, mapping, defaults)).toArray,
        SnapshotFileReaderFactory(requiredSchema, mapping))
  }
}

/** One synthetic row carrying a fully-pushed aggregation's final values —
  * the whole "scan" is the driver-side log fold that already happened at
  * push time; no data file is opened. Values travel as strings and decode
  * per the agg schema's types. */
class SnapshotAggBatch(schema: StructType, values: Array[String])
  extends Batch {
  override def planInputPartitions(): Array[InputPartition] =
    Array(SnapshotAggPartition(schema, values))
  override def createReaderFactory(): PartitionReaderFactory =
    SnapshotAggReaderFactory()
}

case class SnapshotAggPartition(schema: StructType, values: Array[String])
  extends InputPartition

case class SnapshotAggReaderFactory() extends PartitionReaderFactory {
  override def createReader(partition: InputPartition)
      : PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[SnapshotAggPartition]
    new PartitionReader[InternalRow] {
      private var served = false
      override def next(): Boolean = { val r = !served; served = true; r }
      override def get(): InternalRow =
        new GenericInternalRow(p.schema.fields.zip(p.values).map {
          case (_, null) => null
          case (f, v) => f.dataType match {
            case LongType | TimestampType => v.toLong
            case IntegerType | DateType => v.toLong.toInt
            case ShortType => v.toLong.toShort
            case ByteType => v.toLong.toByte
            case StringType => UTF8String.fromString(v)
            case d: DecimalType => org.apache.spark.sql.types.Decimal(
              scala.math.BigDecimal(v), d.precision, d.scale)
            case dt => throw new IllegalStateException(
              s"unexpected pushed-aggregate type $dt")
          }
        }.asInstanceOf[Array[Any]])
      override def close(): Unit = ()
    }
  }
}

/** The catalog batch scan: the pinned version's log-surviving files
  * (stats-pruned by the pushed filters) as [[SnapshotInputPartition]]s,
  * planned by [[SnapshotScanBuilder.toBatch]]. */
class SnapshotBatch(partitions: Array[InputPartition],
                    readerFactory: PartitionReaderFactory) extends Batch {
  override def planInputPartitions(): Array[InputPartition] = partitions
  override def createReaderFactory(): PartitionReaderFactory = readerFactory
}

/** Offset = snapshot log version (inclusive high-water mark), plus an
  * optional intra-version position for rate-limited triggers. `index < 0`
  * means `version` is FULLY consumed (the legacy single-field form, still
  * serialized without the index so existing checkpoints keep working);
  * `index >= 0` means only the first `index` servable file units of
  * `version` have been consumed — admission control splits a large commit
  * across triggers exactly the way Delta's (reservoirVersion, index)
  * offsets do, so a backfill against a 100 TB table never plans one
  * trigger containing the entire history.
  *
  * `units` fingerprints the split version's TOTAL servable unit count at
  * mint time: a mid-version index is only exact while the per-version
  * unit list is what admission enumerated, and a restart with toggled
  * `skipChangeCommits`/`readChangeFeed` changes that list — the restart
  * then fails fast on the mismatch instead of silently skipping or
  * re-serving files of the split version. Absent (-1) on legacy
  * checkpoints: no check. */
case class SnapshotVersionOffset(version: Long, index: Long = -1L,
                                 units: Long = -1L)
  extends Offset {
  override def json(): String =
    if (index < 0) s"""{"version":${version}}"""
    else if (units < 0) s"""{"version":${version},"index":${index}}"""
    else s"""{"version":${version},"index":${index},"units":${units}}"""
}

object SnapshotMicroBatchStream {
  /** Test-visible count of per-file getFileStatus fallbacks in byte-limited
    * admission — the metric the size-on-ADD-stats token exists to zero:
    * a trigger's accounting must come from the log walk alone. */
  private[graft] val sizeFallbackRpcs =
    new java.util.concurrent.atomic.AtomicLong(0)
}

class SnapshotMicroBatchStream(options: CaseInsensitiveStringMap,
                               schema: StructType) extends MicroBatchStream
  with SupportsAdmissionControl with SupportsTriggerAvailableNow {
  private val spark = SparkSession.active
  private val warehouse = SnapshotDataSource.required(options, "warehouse")
  private val table = SnapshotDataSource.required(options, "table")
  // `startingTimestamp` (Delta parity, INCLUSIVE: changes committed at or
  // after the instant are served) resolves to the exclusive version bound
  // "latest version committed strictly before the timestamp".
  private val startingVersion =
    Option(options.get("startingVersion")).map(_.toLong)
      .orElse(Option(options.get("startingTimestamp")).map { ts =>
        Snapshots.versionAt(fs, warehouse,
          java.sql.Timestamp.valueOf(ts).getTime - 1).getOrElse(-1L)
      })
      .getOrElse(-1L)
  private val skipChangeCommits =
    Option(options.get("skipChangeCommits")).exists(_.toBoolean)
  private val readChangeFeed = SnapshotDataSource.readChangeFeed(options)
  private def fs = new Path(warehouse)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  override def initialOffset(): Offset = SnapshotVersionOffset(startingVersion)

  /** The log's current end: the latest snapshot's version. */
  private def logEnd: Long =
    Snapshots.snapshot(fs, warehouse).version.getOrElse(startingVersion)

  override def latestOffset(): Offset = SnapshotVersionOffset(logEnd)

  /** Default per-trigger admission from the Delta-style options:
    * `maxFilesPerTrigger` / `maxBytesPerTrigger` / `maxRowsPerTrigger`
    * (several → composite; none → all available). Rows are accounted from
    * the log's per-file stats — zero file opens. Trigger.AvailableNow
    * composes with these — the run drains the prepared bound across
    * rate-limited triggers. */
  override def getDefaultReadLimit: ReadLimit = {
    val limits =
      Option(options.get("maxFilesPerTrigger")).map(v => ReadLimit.maxFiles(v.toInt)).toSeq ++
      Option(options.get("maxBytesPerTrigger")).map(v => ReadLimit.maxBytes(v.toLong)).toSeq ++
      Option(options.get("maxRowsPerTrigger")).map(v => ReadLimit.maxRows(v.toLong)).toSeq
    limits match {
      case Nil => ReadLimit.allAvailable()
      case Seq(one) => one
      case many => ReadLimit.compositeLimit(many.toArray)
    }
  }

  // Trigger.AvailableNow bound: the log end captured ONCE at stream start;
  // every subsequent latestOffset is capped there, so the run drains
  // exactly the versions present when it began and then terminates even
  // while upstream keeps committing.
  private var availableNowBound: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowBound = Some(logEnd)

  /** Admission control: advance the offset by whole file units until the
    * limit is hit, recording a mid-version position as (version, index) —
    * the same shape as Delta's (reservoirVersion, index) — so one huge
    * commit (a backfill's single 100k-file append) is split across
    * triggers instead of planned as one batch. At least one file is always
    * admitted (progress guarantee); versions with zero servable units
    * (compactions, skipped rewrites) are swallowed by the advance. */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[SnapshotVersionOffset]
    val logEnd = availableNowBound.getOrElse(this.logEnd)
    val (maxFiles, maxBytes, maxRows) = flattenLimit(limit)
    val caughtUp = logEnd <= s.version && s.index < 0
    if (caughtUp) s
    else if (maxFiles.isEmpty && maxBytes.isEmpty && maxRows.isEmpty)
      SnapshotVersionOffset(logEnd)
    else {
      val from = if (s.index >= 0) s.version - 1 else s.version
      val all = unitsInRange(from, logEnd)
      val countByVersion = all.groupBy(_._1).map { case (v, us) => (v, us.size) }
      checkUnitsFingerprint(s, countByVersion.getOrElse(s.version, 0))
      val pending = all.filter { case (v, i, _, _) =>
        v > s.version || (s.index >= 0 && v == s.version && i >= s.index) }
      if (pending.isEmpty) SnapshotVersionOffset(logEnd)
      else {
        var files = 0L; var bytes = 0L; var rows = 0L
        var lastV = s.version; var lastI = -1
        var admittedAll = true
        val it = pending.iterator
        while (admittedAll && it.hasNext) {
          val (v, i, p, nRows) = it.next()
          // Byte accounting only when a byte limit is set. Sizes come from
          // the log's stats token (recorded at collect time — zero RPCs);
          // only a pre-size-token file pays a getFileStatus fallback. Row
          // accounting reads the same token; a file WITHOUT stats counts
          // as trigger-filling — conservative, still progresses via the
          // at-least-one rule.
          val sz = if (maxBytes.isDefined)
            if (p.bytes >= 0) p.bytes else {
              SnapshotMicroBatchStream.sizeFallbackRpcs.incrementAndGet()
              fs.getFileStatus(new Path(p.file)).getLen
            }
          else 0L
          val r = nRows.getOrElse(Long.MaxValue / 4)
          val fits = maxFiles.forall(files + 1 <= _) &&
            maxBytes.forall(bytes + sz <= _) &&
            maxRows.forall(rows + r <= _)
          if (files == 0 || fits) {
            files += 1; bytes += sz; rows += r; lastV = v; lastI = i
          } else admittedAll = false
        }
        if (admittedAll) SnapshotVersionOffset(logEnd) // drained → whole-range offset
        else if (lastI + 1 == countByVersion(lastV)) SnapshotVersionOffset(lastV)
        else SnapshotVersionOffset(lastV, lastI + 1L,
          units = countByVersion(lastV))
      }
    }
  }

  /** A checkpointed mid-version offset is only exact while the split
    * version's unit list is what admission enumerated when the offset was
    * minted; restarting with toggled `skipChangeCommits`/`readChangeFeed`
    * changes that list. The minted fingerprint (total unit count of the
    * split version) catches the mismatch — fail fast instead of silently
    * skipping or re-serving files. Legacy offsets (units = -1) skip the
    * check. */
  private def checkUnitsFingerprint(o: SnapshotVersionOffset,
                                    current: Int): Unit =
    if (o.index >= 0 && o.units >= 0 && current != o.units)
      throw new IllegalStateException(
        s"checkpointed mid-version offset (version ${o.version}, index " +
          s"${o.index}) was minted when the version had ${o.units} servable " +
          s"file unit(s), but the current options enumerate $current — " +
          "the stream was restarted with different admission options " +
          "(skipChangeCommits / readChangeFeed). Restore the original " +
          "options or start a fresh checkpoint.")

  /** Progress reporting: the TRUE log end, even while a rate limit or an
    * AvailableNow bound holds the admitted offset back — so lag metrics
    * (`latestOffset - endOffset` in StreamingQueryProgress) are honest. */
  override def reportLatestOffset(): Offset = latestOffset()

  /** (maxFiles, maxBytes, maxRows) from a possibly-composite limit — min
    * per axis. */
  private def flattenLimit(limit: ReadLimit)
      : (Option[Long], Option[Long], Option[Long]) =
    limit match {
      case c: CompositeReadLimit =>
        c.getReadLimits.map(flattenLimit).foldLeft(
          (Option.empty[Long], Option.empty[Long], Option.empty[Long])) {
          case ((f1, b1, r1), (f2, b2, r2)) =>
            (minOpt(f1, f2), minOpt(b1, b2), minOpt(r1, r2))
        }
      case f: ReadMaxFiles => (Some(f.maxFiles().toLong), None, None)
      case b: ReadMaxBytes => (None, Some(b.maxBytes()), None)
      case r: ReadMaxRows => (None, None, Some(r.maxRows()))
      case _: ReadAllAvailable => (None, None, None)
      case _ => (None, None, None) // unknown limit kinds degrade to all-available
    }
  private def minOpt(a: Option[Long], b: Option[Long]): Option[Long] =
    (a.toSeq ++ b.toSeq).minOption

  /** Ordered servable file units over versions in (fromExclusive,
    * toInclusive]: (version, ordinal-within-version, partition, log-stats
    * row count). Log-line order, deterministic across calls — admission
    * accounting in latestOffset and the slice in planInputPartitions walk
    * the SAME list, so an offset minted by one is exact for the other.
    *
    * Memoized so each trigger walks the log ONCE: latestOffset enumerates
    * (from, logEnd) and planInputPartitions re-requests (from, end≤logEnd)
    * moments later. Committed log entries are immutable, so the prefix of
    * the cached walk IS that narrower range — slice, don't re-list. */
  @volatile private var unitsCache
      : (Long, Long, Seq[(Long, Int, SnapshotInputPartition, Option[Long])]) = null
  private def unitsInRange(fromExclusive: Long, toInclusive: Long)
      : Seq[(Long, Int, SnapshotInputPartition, Option[Long])] = {
    val c = unitsCache
    if (c != null && c._1 == fromExclusive && c._2 >= toInclusive)
      c._3.filter(_._1 <= toInclusive)
    else {
      val u = Snapshots.addsInRange(fs, warehouse, table, fromExclusive, toInclusive)
        .flatMap { case (v, op, acts) =>
          unitsForVersion(v, op, acts).zipWithIndex.map {
            case ((p, st), i) =>
              (v, i, p, st.map(_.rows))
          }
        }
      unitsCache = (fromExclusive, toInclusive, u)
      u
    }
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val so = start.asInstanceOf[SnapshotVersionOffset]
    val eo = end.asInstanceOf[SnapshotVersionOffset]
    // A mid-version start (index >= 0) still needs version s listed — its
    // remaining units are this batch's head.
    val s = if (so.index >= 0) so.version - 1 else so.version
    // An offset below the vacuumed log's earliest retained version cannot
    // be served faithfully: a restart would silently skip the truncated
    // versions' rows, and a fresh full-history stream would miss appends
    // already folded into compacted files. Fail loudly (the same stance as
    // batch changes()); the consumer pattern for a vacuumed table is one
    // batch Snapshots.read of the current snapshot + a stream from
    // startingVersion = that snapshot's version.
    // boundedFrom: in the steady tailing state (offset at/above the
    // checkpoint anchor) this is the anchored tail listing, so a trigger
    // never pays an O(dir) list just to re-check the vacuum guard.
    val earliest = Snapshots.boundedFrom(fs, warehouse, s)
      .headOption.map(_.version)
    earliest.filter(_ > 0).foreach(first => require(s >= 0 && s + 1 >= first,
      s"stream offset $s predates the vacuumed snapshot log (earliest " +
        s"retained version: $first) — the truncated range is unrecoverable; " +
        "batch-read the current snapshot and stream from its version"))
    if (so.index >= 0)
      checkUnitsFingerprint(so,
        unitsInRange(s, eo.version).count(_._1 == so.version))
    unitsInRange(s, eo.version).collect {
      case (v, i, p, _)
        if (v > so.version || (so.index >= 0 && i >= so.index)) &&
           (v < eo.version || eo.index < 0 || i < eo.index) => p: InputPartition
    }.toArray
  }

  /** The servable (partition, log-stats) pairs of one committed
    * version, in log-line order. */
  private def unitsForVersion(v: Long, op: String, acts: Seq[Snapshots.Action])
      : Seq[(SnapshotInputPartition, Option[graft.ingest.FileStats.Stats])] = {
        val adds = acts.filter(_.add)
        val cdfs = acts.filter(_.cdf)
        if (op == "compact" || op == "zorder") Nil // moved rows, not new ones
        else if (op == "merge" || op == "overwrite" || op == "drop") {
          // A rewrite that never touched THIS table (multi-table
          // warehouse) serves nothing and streams on.
          if (acts.isEmpty) Nil
          else if (readChangeFeed) {
            // A CDF-less rewrite is unrepresentable whether it carries
            // ADDs (replacement rows with no delete events) or bare
            // REMOVEs (a drop: the deletion itself is the event). Serving
            // Nil for a drop would let a consumer apply later re-create
            // inserts on top of never-deleted rows — the exact corruption
            // batch changes() refuses.
            val removes = acts.exists(a =>
              !a.add && !a.cdf && !a.meta && !a.isDv)
            require(cdfs.nonEmpty || (adds.isEmpty && !removes),
              s"snapshot version $v is a $op commit without change files " +
                "— the change-feed stream cannot represent it")
            // CDF files carry _change_type per row; version is constant.
            cdfs.map(a => (SnapshotInputPartition.of(a, v, mapping, defaults),
              graft.ingest.FileStats.decode(a.stats)))
          } else if (skipChangeCommits) Nil
          else throw new IllegalStateException(
            s"snapshot version $v of '$table' is a $op rewrite; this " +
              "stream serves appended rows only — restart past it, set " +
              "skipChangeCommits=true to ignore rewrites, or read the " +
              "change feed (readChangeFeed=true)")
        } else {
          // A restore re-ADD can carry a deletion vector: the reader
          // subtracts its positions row-by-row (the per-file dual of
          // `Snapshots.applyDv`), so the stream serves exactly the restored
          // rows — same semantics as batch `changes()` over the range, in
          // BOTH modes (a restore is an append of surviving rows, not a
          // rewrite, so skipChangeCommits does not skip it). Admission's
          // row accounting subtracts the vector too.
          adds.map { a =>
            val st = graft.ingest.FileStats.decode(a.stats).map(s =>
              if (a.dv.nonEmpty)
                s.copy(rows = math.max(0L, s.rows - a.dvCount))
              else s)
            (SnapshotInputPartition.of(a, v, mapping, defaults), st)
          }
        }
  }

  // Current-era mapping and initial-defaults, like the stream schema: a
  // new stream replaying old append commits serves what the batch read
  // serves. Captured once, from one snapshot the stream does not keep —
  // physical names never change across renames, so the mapping stays
  // valid for the stream's lifetime.
  private lazy val (mapping, defaults) = {
    val snap = Snapshots.snapshot(fs, warehouse)
    (snap.columnMapping(table), snap.defaults(table))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    SnapshotFileReaderFactory(schema, mapping)

  override def deserializeOffset(json: String): Offset = {
    def field(name: String): Option[Long] =
      ("\"" + name + "\"\\s*:\\s*(-?\\d+)").r
        .findFirstMatchIn(json).map(_.group(1).toLong)
    // `index` absent (legacy single-field checkpoints, and every
    // fully-consumed-version offset) parses as -1 = version complete.
    field("version") match {
      case Some(v) => SnapshotVersionOffset(v, field("index").getOrElse(-1L),
        field("units").getOrElse(-1L))
      case None => throw new IllegalArgumentException(
        s"malformed graft-snapshots offset: $json")
    }
  }

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** One committed file as a DSv2 input partition, with the facts the log
  * knows and the file does not: `partSpec` is its partition tuple,
  * `version` fills `_commit_version`, `changeType` fills `_change_type`
  * for data files (appends are all inserts; None for change files, whose
  * `_change_type` column is read per row), `dvPath` nonempty = a deletion
  * vector whose positions are subtracted, `defaults` maps the LOGICAL name
  * of each column this file predates to its stored SQL literal
  * (initial-defaults, [[Snapshot.defaults]]), and `bytes` is the
  * file's length from the log's stats token (-1: token absent, the reader
  * asks the filesystem once). */
case class SnapshotInputPartition(file: String, partSpec: Map[String, String],
                                  version: Long,
                                  changeType: Option[String] = None,
                                  dvPath: String = "",
                                  defaults: Map[String, String] = Map.empty,
                                  bytes: Long = -1L)
  extends InputPartition

object SnapshotInputPartition {
  /** `a` served at `version`. `defaults` are the table's initial-defaults
    * by PHYSICAL name ([[Snapshot.defaults]]); those this file predates
    * are named logically through `mapping`. Change files carry their own
    * `_change_type` and never a default or a vector. */
  def of(a: Snapshots.Action, version: Long, mapping: Option[ColumnMapping],
         defaults: Map[String, String]): SnapshotInputPartition = {
    val bytes = FileStats.decode(a.stats).map(_.bytes).filter(_ >= 0)
      .getOrElse(-1L)
    if (a.cdf) SnapshotInputPartition(a.file, Map.empty, version, bytes = bytes)
    else {
      val present = Snapshots.defaultPresence(a, defaults)
      val toLogical =
        mapping.map(_.cols.map { case (l, p) => p -> l }.toMap).getOrElse(Map.empty)
      val missing = defaults.collect { case (phys, text) if !present(phys) =>
        toLogical.getOrElse(phys, phys) -> text }
      SnapshotInputPartition(a.file, a.partitionMap, version, Some("insert"),
        a.dvPath, missing, bytes)
    }
  }
}

/** Reads committed files through Spark's own parquet reader
  * ([[ParquetPartitionReaderFactory]]: vectorized, every type Spark's
  * parquet format serves, safe widening, INT96) and adds only what the log
  * knows per file: partition tuple, `_commit_version`/`_change_type`,
  * initial-defaults, deletion-vector subtraction. Constructed driver-side;
  * `schema` is LOGICAL, `nameMap` maps it to the files' physical names. */
class SnapshotFileReaderFactory(schema: StructType,
                                nameMap: Map[String, String])
  extends PartitionReaderFactory {
  import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, JoinedRow, Literal, UnsafeProjection}
  import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat

  private val sessionTz =
    SparkSession.active.sessionState.conf.sessionLocalTimeZone
  // All nullable: a column the file lacks (partition, metadata, defaulted)
  // reads as null before its per-file constant replaces it.
  private val fileSchema = StructType(schema.map(f =>
    f.copy(name = nameMap.getOrElse(f.name, f.name), nullable = true)))
  private val plain = SnapshotFileReaderFactory.parquet(fileSchema)
  // Files with a deletion vector also read Spark's file-wide row index —
  // the position `_metadata.row_index` serves and vectors record.
  private val withRowIndex = SnapshotFileReaderFactory.parquet(fileSchema.add(
    ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME, LongType))
  private val dvRows = SnapshotFileReaderFactory.parquet(new StructType()
    .add("_dv_data_file", StringType).add("_dv_pos", LongType))

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[SnapshotInputPartition]
    val deleted = if (p.dvPath.isEmpty) null else deletedRows(p)
    val rows = (if (deleted == null) plain else withRowIndex)
      .buildReader(partitionedFile(p.file, p.bytes))
    // Output column i is file column i, or — for a per-file constant —
    // column i of a constants row joined after the file row.
    val width = if (deleted == null) schema.length else schema.length + 1
    val consts = new GenericInternalRow(schema.length)
    val project = UnsafeProjection.create(schema.fields.toIndexedSeq.zipWithIndex
      .map { case (f, i) =>
        constant(f, p) match {
          case Some(v) =>
            consts.update(i, v); BoundReference(width + i, f.dataType, nullable = true)
          case None => BoundReference(i, f.dataType, nullable = true)
        }
      })
    val joined = new JoinedRow(null, consts)
    new PartitionReader[InternalRow] {
      override def next(): Boolean = {
        var more = rows.next()
        while (more && deleted != null && java.util.Arrays.binarySearch(
            deleted, rows.get().getLong(schema.length)) >= 0)
          more = rows.next()
        more
      }
      override def get(): InternalRow = project(joined.withLeft(rows.get()))
      override def close(): Unit = rows.close()
    }
  }

  private def partitionedFile(file: String, bytes: Long): PartitionedFile = {
    val path = new Path(file)
    val len = if (bytes >= 0) bytes else path
      .getFileSystem(plain.broadcastedConf.value.value).getFileStatus(path).getLen
    PartitionedFile(InternalRow.empty, SparkPath.fromPath(path), 0L, len,
      Array.empty, 0L, len, Map.empty)
  }

  /** Sorted deleted positions of THIS file. The vector's parquet bundles
    * several files' deletion sets, keyed by the scheme-less encoded path —
    * the join key `Snapshots.applyDv` uses in batch. */
  private def deletedRows(p: SnapshotInputPartition): Array[Long] = {
    val key = UTF8String.fromString(Snapshots.pathKey(p.file))
    val rows = dvRows.buildReader(partitionedFile(p.dvPath, -1L))
    val out = Array.newBuilder[Long]
    try while (rows.next()) {
      val r = rows.get()
      if (r.getUTF8String(0) == key) out += r.getLong(1)
    } finally rows.close()
    val sorted = out.result()
    java.util.Arrays.sort(sorted)
    sorted
  }

  /** The per-file constant serving `f`, if the log supplies one. */
  private def constant(f: StructField, p: SnapshotInputPartition): Option[Any] =
    if (f.name == "_commit_version") Some(p.version)
    else if (f.name == "_change_type" && p.changeType.isDefined)
      Some(UTF8String.fromString(p.changeType.get))
    else p.partSpec.get(f.name) match {
      // The Hive null sentinel decodes to NULL for every type, as in
      // Spark's own path-inference read.
      case Some(org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .DEFAULT_PARTITION_NAME) => Some(null)
      case Some(v) => Some(fold(Literal(v), f, v))
      // Initial-default: the stored SQL literal, parsed and cast the way
      // the batch read's `injectDefaults` does (`expr(text).cast(type)`).
      case None => p.defaults.get(f.name).map { text =>
        val lit =
          try org.apache.spark.sql.catalyst.parser.CatalystSqlParser
            .parseExpression(text)
          catch { case scala.util.control.NonFatal(ex) =>
            throw new IllegalStateException(
              s"unparseable stored DEFAULT '$text' for '${f.name}'", ex) }
        require(lit.foldable,
          s"stored DEFAULT '$text' for '${f.name}' is not a literal")
        fold(lit, f, text)
      }
    }

  /** `e` cast to `f`'s type under the SESSION timezone (captured driver
    * side, as the batch read evaluates it) and folded to one constant. */
  private def fold(e: org.apache.spark.sql.catalyst.expressions.Expression,
                   f: StructField, text: String): Any = {
    val cast = Cast(e, f.dataType, Some(sessionTz))
    if (!cast.resolved) throw new UnsupportedOperationException(
      s"'$text' cannot be cast to ${f.dataType} for column '${f.name}'")
    cast.eval(InternalRow.empty)
  }
}

object SnapshotFileReaderFactory {
  /** The reader for a LOGICAL `schema` over files named through `mapping`. */
  def apply(schema: StructType, mapping: Option[ColumnMapping])
      : SnapshotFileReaderFactory =
    new SnapshotFileReaderFactory(schema,
      mapping.map(_.cols.toMap).getOrElse(Map.empty))

  import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetReadSupport, ParquetWriteSupport}
  import org.apache.spark.sql.internal.SQLConf

  /** Spark's parquet reader for `readSchema`, its Hadoop conf primed the
    * way `ParquetScan.createReaderFactory` primes it — the read-side
    * mirror of the sink's `writeConf`. */
  private def parquet(readSchema: StructType): ParquetPartitionReaderFactory = {
    val spark = SparkSession.active
    val sql = spark.sessionState.conf
    val conf = spark.sessionState.newHadoopConf()
    val json = readSchema.json
    conf.set(org.apache.parquet.hadoop.ParquetInputFormat.READ_SUPPORT_CLASS,
      classOf[ParquetReadSupport].getName)
    conf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, json)
    conf.set(ParquetWriteSupport.SPARK_ROW_SCHEMA, json)
    conf.set(SQLConf.SESSION_LOCAL_TIMEZONE.key, sql.sessionLocalTimeZone)
    conf.setBoolean(SQLConf.NESTED_SCHEMA_PRUNING_ENABLED.key,
      sql.nestedSchemaPruningEnabled)
    conf.setBoolean(SQLConf.CASE_SENSITIVE.key, sql.caseSensitiveAnalysis)
    conf.setBoolean(SQLConf.PARQUET_BINARY_AS_STRING.key,
      sql.isParquetBinaryAsString)
    conf.setBoolean(SQLConf.PARQUET_INT96_AS_TIMESTAMP.key,
      sql.isParquetINT96AsTimestamp)
    conf.setBoolean(SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED.key,
      sql.parquetInferTimestampNTZEnabled)
    conf.setBoolean(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key,
      sql.legacyParquetNanosAsLong)
    conf.setBoolean(SQLConf.PARQUET_READER_RESPECT_UNKNOWN_TYPE_ANNOTATION.key,
      sql.parquetReaderRespectUnknownTypeAnnotation)
    ParquetPartitionReaderFactory(sql,
      spark.sparkContext.broadcast(new SerializableConfiguration(conf)),
      readSchema, readSchema, new StructType(), Array.empty, None,
      new ParquetOptions(Map.empty[String, String], sql))
  }
}
