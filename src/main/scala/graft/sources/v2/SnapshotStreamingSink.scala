package graft.sources.v2

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{DataWriter, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.types._
import org.apache.spark.util.SerializableConfiguration
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopOutputFile
import graft.ingest.{Snapshots, TxnCommit}

/** Native Structured Streaming SINK for the snapshot log — the write-side
  * dual of [[SnapshotMicroBatchStream]]:
  *
  * {{{
  * df.writeStream.format("graft-snapshots")
  *   .option("warehouse", wh).option("table", "t")
  *   .option("checkpointLocation", ckpt)
  *   .start()
  * }}}
  *
  * Exactly-once without foreachBatch: executors stage one parquet file per
  * task under the commit's staging dir, and the driver-side `commit(epoch)`
  * publishes them through [[TxnCommit]] under a commitId derived from
  * (queryId, table, epochId). A crash-replayed epoch re-stages, finds its
  * commitId already in the log, and drops the restaged files — the same
  * idempotence contract as `StreamingOps.commitBatch`, now wired into the
  * engine so user code never sees a batchId.
  *
  * Only moves listed in the WriterCommitMessages are published: a failed or
  * speculative task attempt's orphan file is never moved (publish drops the
  * whole staging dir afterwards), so at-most-one attempt's output lands —
  * message-based moves, not directory listing.
  *
  * Scale shape: writers stream rows straight into parquet (row-group
  * buffering only), the commit is O(files-in-epoch) driver work, and
  * readers flip to the new version atomically via the log. Schema and
  * constraint enforcement ride `TxnCommit.commit` like every other writer,
  * so a stream cannot drift a table's schema. Every type Spark's parquet
  * format serves is accepted — the same surface the streaming reader
  * serves. Output modes: append (one
  * ADD version per epoch) and complete (SupportsTruncate: one OVERWRITE
  * version per epoch — the streaming materialized-view shape); update mode
  * is rejected (upsert-by-key belongs to `foreachBatch` + `Merge.upsert`).
  *
  * `option("partitionBy", "dt[,hour]")` lands a Hive-partitioned table:
  * writers split rows into one file per distinct tuple per task (partition
  * columns live in the log's recorded tuples and the `k=v` path, never in
  * the data files), so the batch reader partition-prunes and the streaming
  * reader serves the columns from the log — identical layout to a
  * `partitionBy` batch write.
  */
class SnapshotWriteBuilder(info: LogicalWriteInfo,
                           tableDefaults: Map[String, String] = Map.empty)
  extends WriteBuilder
  with org.apache.spark.sql.connector.write.SupportsTruncate
  with org.apache.spark.sql.connector.write.SupportsDynamicOverwrite {
  private var truncateMode = false
  private var dynamicMode = false
  /** Streaming complete output mode / batch INSERT OVERWRITE (Spark calls
    * this for both): the write REPLACES the table — one overwrite version
    * per epoch (streaming) or per job (batch); prior versions stay
    * time-travelable until vacuum. */
  override def truncate(): WriteBuilder = { truncateMode = true; this }
  /** Dynamic partition overwrite (`partitionOverwriteMode=dynamic`): the
    * job replaces ONLY the partitions its data touches — REMOVEs scoped
    * to the staged tuples, one atomic OCC-guarded version. */
  override def overwriteDynamicPartitions(): WriteBuilder = {
    dynamicMode = true; this
  }
  // Catalog-resolved writes carry no warehouse/table options on the query;
  // the table's own properties (and its partition layout) fill them in.
  // Explicit write options win over the table defaults.
  private def mergedOptions
      : org.apache.spark.sql.util.CaseInsensitiveStringMap = {
    import scala.jdk.CollectionConverters._
    new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      (tableDefaults ++ info.options().asScala).asJava)
  }
  /** Optimized write (the Delta `optimizeWrite` analog), gated by the
    * table property / write option `graft.optimizeWrite` and OFF by
    * default: the Write declares a NON-strict clustered distribution on
    * the partition columns plus an advisory size
    * (`graft.optimizeWrite.targetBytes`, default 128 MiB), so Spark
    * itself plans the pre-write shuffle — under AQE a
    * RebalancePartitions that coalesces small partitions AND splits
    * skewed ones to the advisory size; without AQE (streaming
    * microbatches disable it) a hash repartition that still lands ONE
    * file per partition value per epoch instead of one per task per
    * value. Complements post-commit autoCompact by not writing the
    * small files in the first place. Unpartitioned writes are unchanged
    * on this path (no clustering columns to declare — their file count
    * is the task count, and autoCompact owns the tail). */
  override def build(): Write = {
    val merged = mergedOptions
    val ow = Option(merged.get("graft.optimizeWrite")).exists(_.toBoolean)
    val owTarget = Option(merged.get("graft.optimizeWrite.targetBytes"))
      .flatMap(_.toLongOption).getOrElse(128L * 1024 * 1024)
    val owPartCols = Option(merged.get("partitionBy")).toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    trait Core extends Write {
      override def toStreaming: StreamingWrite = {
        SnapshotDataSource.validate(info.schema())
        new SnapshotStreamingWrite(info.queryId(), info.schema(),
          mergedOptions, truncateMode)
      }
      override def toBatch
          : org.apache.spark.sql.connector.write.BatchWrite = {
        SnapshotDataSource.validate(info.schema())
        new SnapshotBatchWrite(info.schema(), mergedOptions, truncateMode,
          dynamicMode)
      }
    }
    if (!ow || owPartCols.isEmpty) new Core {}
    else new Core
      with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
      import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
      import org.apache.spark.sql.connector.expressions.{Expression, Expressions, SortOrder}
      override def requiredDistribution(): Distribution =
        Distributions.clustered(
          owPartCols.map(c => Expressions.identity(c): Expression).toArray)
      override def distributionStrictlyRequired(): Boolean = false
      override def advisoryPartitionSizeInBytes(): Long = owTarget
      override def requiredOrdering(): Array[SortOrder] = Array.empty
    }
  }
}

private[v2] object SnapshotStreamingWrite {
  /** The epoch's idempotence key: stable across crash-replays of the same
    * checkpoint (queryId persists in checkpoint metadata), distinct across
    * sinks feeding different tables of one warehouse. */
  def commitId(queryId: String, table: String, epochId: Long): String =
    s"stream-$queryId-$table-$epochId"
}

/** Shared write-side core: option parsing/validation (partitionBy, column
  * mapping), the staged-files commit, and abort cleanup — the streaming
  * sink publishes one epoch per call with a checkpoint-stable commitId
  * (idempotent against crash-replays); the batch write publishes one job
  * under a fresh commitId. */
private[v2] class SnapshotWriteCore(
    schema: StructType,
    options: org.apache.spark.sql.util.CaseInsensitiveStringMap,
    truncateMode: Boolean,
    dynamicMode: Boolean = false) {

  protected val warehouse = SnapshotDataSource.required(options, "warehouse")
  protected val table = SnapshotDataSource.required(options, "table")
  protected val partCols: Seq[String] = Option(options.get("partitionBy")).toSeq
    .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
  partCols.foreach { c =>
    require(schema.fieldNames.contains(c),
      s"partitionBy column '$c' is not in the written schema " +
        s"(${schema.fieldNames.mkString(", ")})")
    schema(c).dataType match {
      // No BooleanType: Spark's partition path-inference has no boolean
      // domain, so a boolean-partitioned table would batch-read the column
      // as STRING — the written schema must round-trip, so reject at write
      // time instead of silently changing the type.
      case StringType | IntegerType | LongType | DateType => ()
      case dt => throw new UnsupportedOperationException(
        s"partitionBy column '$c' of type $dt is not supported " +
          "(string/int/long/date partition values only)")
    }
  }
  require(partCols.size < schema.size,
    "partitionBy cannot cover every column — no data columns would remain")

  protected def spark = SparkSession.active
  protected def fs = new Path(warehouse)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  // The table's column mapping and engine-managed columns, read at write
  // start from ONE snapshot (only these facts are kept, not the snapshot).
  private val (mapping, idNames, gens) = {
    val snap = Snapshots.snapshot(fs, warehouse)
    (snap.columnMapping(table), graft.ingest.Identity.identityColumns(snap, table),
      graft.ingest.Generated.generatedColumns(snap, table))
  }

  // Column-mapped (renamed) tables: files store PHYSICAL names; the write
  // carries the LOGICAL schema the caller reads. Translate field names
  // once (captured at write start — physical names never change across
  // renames). Partition columns must be unmapped: the k=v path and the
  // log tuple would otherwise disagree with the logical reader.
  protected val nameMap: Map[String, String] =
    mapping.map(_.cols.toMap).getOrElse(Map.empty)
  partCols.foreach(c => require(nameMap.getOrElse(c, c) == c,
    s"partitionBy column '$c' is renamed (physical '${nameMap(c)}') — " +
      "partitioned writes to column-mapped tables require " +
      "unmapped partition columns"))
  protected val physSchema = StructType(schema.fields.map(f =>
    f.copy(name = nameMap.getOrElse(f.name, f.name))))
  protected val physPartCols = partCols // unmapped by the require above

  // IDENTITY columns with their index in the written schema. The
  // STREAMING sink mints them natively (writers allocate against the
  // epoch's high-water mark; the publishing commit advances the mark
  // atomically under OCC — see [[SnapshotWriterFactory]]); the generic
  // BATCH write still refuses (its subclass enforces it) — batch callers
  // route through Identity.appendWithIdentity.
  protected val identityCols: Seq[(String, Int)] =
    idNames.map { c =>
      val idx = schema.fieldNames.indexOf(c)
      require(idx >= 0,
        s"table '$table' declares GENERATED ALWAYS AS IDENTITY column " +
          s"'$c' — the write schema must carry it (the engine overrides " +
          "the value)")
      require(schema(idx).dataType == LongType,
        s"identity column '$c' must be BIGINT in the written schema")
      require(!partCols.contains(c),
        s"identity column '$c' cannot be a partition column — the " +
          "high-water mark advances from file stats, which partition " +
          "values don't carry")
      c -> idx
    }

  /** GENERATED columns: the expression is resolved against the written
    * schema on the DRIVER and bound by position; every writer OVERRIDES
    * the column per row (GENERATED ALWAYS — the engine's value wins, a
    * user-supplied value can never break the stored ≡ expression
    * invariant on this path). */
  protected val generatedBound
      : Seq[(Int, org.apache.spark.sql.catalyst.expressions.Expression)] = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeSeq, BindReferences}
    import org.apache.spark.sql.catalyst.plans.logical.Project
    gens.map { case (c, e) =>
      val idx = schema.fieldNames.indexOf(c)
      require(idx >= 0,
        s"table '$table' declares GENERATED column '$c' — the write must " +
          "carry it in its schema (the engine overrides the value from " +
          s"the expression $e)")
      val frame = spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
      val analyzed = frame.select(org.apache.spark.sql.functions.expr(e)
        .cast(schema(c).dataType).as(c)).queryExecution.analyzed
      val proj = analyzed.collectFirst { case p: Project => p }.getOrElse(
        throw new IllegalStateException(
          s"generated column '$c': unexpected plan shape for $e"))
      val resolved = proj.projectList.head match {
        case a: Alias => a.child
        case other => other
      }
      idx -> BindReferences.bindReference(resolved,
        AttributeSeq(proj.child.output))
    }
  }

  /** Publish one write's staged files atomically under `cid`.
    * `skipIfCommitted` = the streaming idempotence check (a crash-replayed
    * epoch finds its commitId in the log and drops the restaged files);
    * batch writes use fresh commitIds and skip the lookup. */
  protected def commitStaged(cid: String,
                             messages: Array[WriterCommitMessage],
                             skipIfCommitted: Boolean): Unit = {
    TxnCommit.recover(fs, warehouse) // finish any crashed publish first
    // Replay check: surviving log entry OR the vacuum-exempt applied-txn
    // registry — a crash-replayed epoch arriving after vacuum truncated
    // its entry must still drop its restaged files.
    if (skipIfCommitted &&
        (Snapshots.entries(fs, warehouse).exists(_.commitId == cid) ||
          Snapshots.txnApplied(fs, warehouse, cid))) {
      fs.delete(new Path(TxnCommit.stagingDir(warehouse, cid)), true)
      return
    }
    val staged = messages.collect {
      case m: SnapshotWriteMessage => m.files }.flatten
    // The OCC base and the live-file set come from one snapshot: a commit
    // landing after it has version > base and aborts this write instead of
    // slipping past the REMOVE set unflagged.
    val snap =
      if (truncateMode || dynamicMode) Some(Snapshots.snapshot(fs, warehouse))
      else None
    val base = snap.flatMap(_.version)
    val live = snap.fold(Seq.empty[Snapshots.Action])(_.files(table))
    val existing =
      if (truncateMode) live.map(_.file)
      else if (dynamicMode) {
        // Replace only the partitions this job's data touches.
        val specs = staged.map(_._2).toSet
        require(!specs.contains(""),
          "dynamic partition overwrite requires a partitioned table — " +
            "unpartitioned data would silently replace everything; use " +
            "plain INSERT OVERWRITE (truncate) for that")
        live.filter(a => specs.contains(a.partition)).map(_.file)
      } else Seq.empty
    if (staged.isEmpty && existing.isEmpty) {
      // Empty write over an empty (or append-mode) table: no version, no
      // log noise. In truncate mode an empty write over a NON-empty table
      // still commits below — replace-the-table means "the table IS this
      // data", including empty.
      fs.delete(new Path(TxnCommit.stagingDir(warehouse, cid)), true)
      return
    }
    // Hive-style k=v dirs at the destination: the log's ADD lines record
    // the partition tuple from the path, so the streaming reader serves
    // the columns from the log and the batch reader partition-prunes.
    val moves = staged.toSeq.map { case (src, spec) =>
      val destDir = if (spec.isEmpty) s"$warehouse/$table"
                    else s"$warehouse/$table/$spec"
      TxnCommit.Move(src, s"$destDir/$cid-${new Path(src).getName}")
    }
    // IDENTITY epochs: every writer allocated against ONE high-water-mark
    // snapshot (they embed the log version they read); the publish
    // carries the new mark in the SAME entry and anchors OCC at that
    // version — ANY commit racing in between aborts this epoch (the
    // restarted query re-runs it against the fresh mark, re-minting from
    // scratch; the replay check above keeps it exactly-once).
    val idVersions = messages.collect {
      case m: SnapshotWriteMessage => m.idBaseVersion }.flatten.distinct
    val idMetas: Seq[(String, String)] =
      if (identityCols.isEmpty || staged.isEmpty) Nil
      else {
        require(idVersions.size == 1,
          s"identity allocation for '$table' raced a concurrent commit " +
            "mid-epoch (writers read different high-water marks) — the " +
            "restarted query replays this epoch cleanly")
        graft.ingest.Identity.marksFromStaged(fs, warehouse, table,
          moves.map(_.src), identityCols.map(_._1))
      }
    val idBase: Option[Long] =
      if (idMetas.isEmpty) None else idVersions.headOption
    if (truncateMode || dynamicMode) {
      // One overwrite version: REMOVEs + ADDs flip atomically, prior
      // versions stay time-travelable until vacuum. Coarse OCC: a
      // concurrent writer to this table aborts this write (a streaming
      // trigger retries; a batch job surfaces the conflict) rather than
      // being silently replaced.
      // Both anchors must hold: the overwrite's live-set base AND the
      // identity allocation base — the earlier one subsumes the other.
      val occBase: Option[Long] =
        (base.toSeq ++ idBase.toSeq).reduceOption((a, b) => math.min(a, b))
      val txn = if (skipIfCommitted) Some(cid) else None
      TxnCommit.commit(fs, warehouse, cid, moves, retained = existing,
        op = "overwrite", baseVersion = occBase, asTable = Some(table),
        txnId = txn, metas = idMetas)
      TxnCommit.publish(fs, warehouse, cid, moves, retained = existing,
        op = "overwrite", baseVersion = occBase, asTable = Some(table),
        txnId = txn, metas = idMetas)
    } else {
      val txn = if (skipIfCommitted) Some(cid) else None
      TxnCommit.commit(fs, warehouse, cid, moves, txnId = txn,
        baseVersion = idBase, metas = idMetas)
      TxnCommit.publish(fs, warehouse, cid, moves, txnId = txn,
        baseVersion = idBase, metas = idMetas)
    }
    // Post-commit auto-compaction (table-property-gated, off by default):
    // bin-pack the just-written partitions when their small-file count
    // crossed the threshold. AFTER publish — the write's durability never
    // depends on maintenance; runs under its own commit, best-effort.
    graft.ingest.Compaction.autoCompact(spark, warehouse, table,
      staged.map(_._2).toSet)
  }

  /** Pre-manifest staging is dead state (the commit point never passed);
    * recovery would also sweep it, but clean up eagerly. */
  protected def abortStaged(cid: String): Unit =
    fs.delete(new Path(TxnCommit.stagingDir(warehouse, cid)), true)
}

class SnapshotStreamingWrite(queryId: String, schema: StructType,
                             options: org.apache.spark.sql.util.CaseInsensitiveStringMap,
                             truncateEachEpoch: Boolean = false)
  extends SnapshotWriteCore(schema, options, truncateEachEpoch)
  with StreamingWrite {

  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : StreamingDataWriterFactory =
    SnapshotWriterFactory(
      new SerializableConfiguration(spark.sessionState.newHadoopConf()),
      physSchema, physPartCols, warehouse, table, queryId, generatedBound,
      identityCols)

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    commitStaged(SnapshotStreamingWrite.commitId(queryId, table, epochId),
      messages, skipIfCommitted = true)

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    abortStaged(SnapshotStreamingWrite.commitId(queryId, table, epochId))
}

/** Catalog batch write (INSERT INTO / INSERT OVERWRITE / CTAS through
  * [[GraftCatalog]]): executors stage through the same vectorized
  * [[SnapshotDataWriter]], and one TxnCommit publish lands the job
  * atomically — append mode adds one version, truncate mode replaces the
  * table under coarse OCC. Task retries stage collision-free files; only
  * the committed attempts' messages are moved, and the staging dir drops
  * with the publish. */
class SnapshotBatchWrite(schema: StructType,
                         options: org.apache.spark.sql.util.CaseInsensitiveStringMap,
                         truncate: Boolean,
                         dynamic: Boolean = false)
  extends SnapshotWriteCore(schema, options, truncate, dynamic)
  with org.apache.spark.sql.connector.write.BatchWrite {

  // Ids are engine-minted under an allocation-serialized high-water
  // mark; the generic batch write has no epoch discipline to keep that
  // contract — refuse with the steering error (the streaming sink DOES
  // mint natively).
  require(identityCols.isEmpty,
    s"table '$table' declares GENERATED ALWAYS AS IDENTITY columns — " +
      "write through Identity.appendWithIdentity (batch); the streaming " +
      "sink mints ids natively")

  private val cid = "batch" +
    java.util.UUID.randomUUID().toString.replace("-", "")

  override def createBatchWriterFactory(info: PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.DataWriterFactory =
    SnapshotBatchWriterFactory(
      new SerializableConfiguration(spark.sessionState.newHadoopConf()),
      physSchema, physPartCols,
      s"${TxnCommit.stagingDir(warehouse, cid)}/$table", generatedBound)

  override def commit(messages: Array[WriterCommitMessage]): Unit =
    commitStaged(cid, messages, skipIfCommitted = false)

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    abortStaged(cid)
}

case class SnapshotBatchWriterFactory(conf: SerializableConfiguration,
                                      schema: StructType,
                                      partCols: Seq[String],
                                      stagingTableDir: String,
                                      generated: Seq[(Int, org.apache.spark.sql.catalyst.expressions.Expression)] = Nil)
  extends org.apache.spark.sql.connector.write.DataWriterFactory {
  override def createWriter(partitionId: Int,
                            taskId: Long): DataWriter[InternalRow] =
    new SnapshotDataWriter(conf.value, schema, partCols, stagingTableDir,
      s"part-$partitionId-$taskId.parquet", generated)
}

case class SnapshotWriterFactory(conf: SerializableConfiguration,
                                 schema: StructType, partCols: Seq[String],
                                 warehouse: String,
                                 table: String, queryId: String,
                                 generated: Seq[(Int, org.apache.spark.sql.catalyst.expressions.Expression)] = Nil,
                                 identityCols: Seq[(String, Int)] = Nil)
  extends StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
                            epochId: Long): DataWriter[InternalRow] = {
    val cid = SnapshotStreamingWrite.commitId(queryId, table, epochId)
    // IDENTITY allocation: each writer reads the mark from the log (an
    // O(checkpoint-tail) read, once per task per epoch) and mints
    // hw + 1 + (partition << 33) + row — unique within the epoch without
    // coordination (the monotonically_increasing_id layout; gaps allowed,
    // Delta's contract). The log VERSION the mark was read at rides the
    // commit message: the driver refuses mixed versions and anchors the
    // publish's OCC there, so a racing commit aborts the epoch instead of
    // ever minting duplicates. Zombie attempts of the same (epoch,
    // partition) mint the same ids — only one attempt's message commits.
    // Per-task cost is ONE anchor-bounded log listing plus a memoized
    // state-fold lookup (Snapshots.foldCache) — deliberately NOT cached
    // per epoch: a cached allocation replayed after an OCC abort would
    // re-serve the stale mark forever (livelock), and the fold cache
    // already amortizes the expensive part within a JVM.
    val (idBase, idVersion) =
      if (identityCols.isEmpty) (Nil, None)
      else {
        // The marks and their version: one snapshot.
        val snap = Snapshots.snapshot(
          new Path(warehouse).getFileSystem(conf.value), warehouse)
        val bases = identityCols.map { case (c, i) =>
          i -> (graft.ingest.Identity.highWaterMark(snap, table, c)
            .getOrElse(0L) + 1L) }
        (bases, Some(snap.version.getOrElse(-1L)))
      }
    // taskId in the name keeps retried attempts collision-free; only the
    // committed attempt's message reaches the driver.
    new SnapshotDataWriter(conf.value, schema, partCols,
      s"${TxnCommit.stagingDir(warehouse, cid)}/$table",
      s"part-$partitionId-$taskId.parquet", generated,
      identityBase = idBase, initPartitionId = partitionId,
      idBaseVersion = idVersion)
  }
}

/** The committed staged files as (stagingPath, partitionSpec) pairs —
  * empty for a zero-row writer — plus the row count, for observability.
  * `idBaseVersion`: the log version this writer's identity allocation was
  * read at (None for non-identity tables) — the driver's OCC anchor. */
case class SnapshotWriteMessage(files: Seq[(String, String)], rows: Long,
                                idBaseVersion: Option[Long] = None)
  extends WriterCommitMessage

/** Streams InternalRows into staged parquet through Spark's own
  * [[org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport]]
  * — the exact record-materialization layer Spark's native parquet write
  * path uses (no boxing, no Group objects; a codegen'd UnsafeProjection
  * strips partition columns) — wrapped in a parquet-mr writer so there is
  * no Spark datasource re-entry inside a DSv2 writer. Bytes-on-disk
  * semantics match a `df.write.parquet` of the same data schema: identical
  * physical/logical types, micros timestamps, footer schema metadata.
  *
  * Unpartitioned: ONE file per task. Partitioned (`partitionBy` option):
  * one file per distinct partition tuple seen by this task, under a
  * Hive-style `k=v` staging subpath; partition columns are NOT stored in
  * the data files (the log's recorded tuples serve them at read time, the
  * same convention as every other writer of this format). Writers are
  * opened lazily per tuple and kept open until commit — the per-task open
  * count is the task's distinct-tuple count, so repartition the stream by
  * the partition columns upstream if cardinality is high. */
class SnapshotDataWriter(conf: Configuration, schema: StructType,
                         partCols: Seq[String], stagingTableDir: String,
                         fileName: String,
                         generated: Seq[(Int, org.apache.spark.sql.catalyst.expressions.Expression)] = Nil,
                         identityBase: Seq[(Int, Long)] = Nil,
                         initPartitionId: Int = 0,
                         idBaseVersion: Option[Long] = None)
  extends DataWriter[InternalRow] {

  // GENERATED and IDENTITY columns recompute per row BEFORE partition
  // routing (a generated partition column must route by the engine's
  // value): one codegen'd projection substituting the bound expressions —
  // identity as base + monotonically_increasing_id (unique per partition,
  // gaps allowed), initialized with this task's partition index.
  private val regen: InternalRow => InternalRow =
    if (generated.isEmpty && identityBase.isEmpty) identity
    else {
      import org.apache.spark.sql.catalyst.expressions.{Add, BoundReference, EvalMode, Expression, Literal, MonotonicallyIncreasingID, UnsafeProjection}
      val g = generated.toMap
      val ids = identityBase.toMap
      val exprs = schema.fields.zipWithIndex.map { case (f, i) =>
        ids.get(i)
          .map(base => Add(Literal(base), MonotonicallyIncreasingID(),
            EvalMode.LEGACY): Expression)
          .orElse(g.get(i))
          .getOrElse(BoundReference(i, f.dataType, f.nullable): Expression) }
      val p = UnsafeProjection.create(exprs.toIndexedSeq)
      p.initialize(initPartitionId)
      p.apply _
    }

  private val partIdx: Seq[Int] = partCols.map(schema.fieldIndex)
  private val dataFields: Seq[(StructField, Int)] =
    schema.fields.zipWithIndex.toSeq
      .filter { case (f, _) => !partCols.contains(f.name) }
  private val dataSchema = StructType(dataFields.map(_._1))

  // Codegen'd projection dropping partition columns (identity-skip when
  // there are none: incoming rows are already UnsafeRows in data order).
  private val project: InternalRow => InternalRow =
    if (partCols.isEmpty) identity
    else {
      import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, UnsafeProjection}
      val p = UnsafeProjection.create(dataFields.map { case (f, ri) =>
        BoundReference(ri, f.dataType, f.nullable): Expression }.toIndexedSeq)
      p.apply _
    }

  // Writer-side conf: ParquetWriteSupport reads its settings from the
  // Hadoop conf (Spark's own write path primes these the same way).
  private val writeConf: Configuration = {
    import org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport
    import org.apache.spark.sql.internal.SQLConf
    val c = new Configuration(conf)
    ParquetWriteSupport.setSchema(dataSchema, c)
    c.set(SQLConf.PARQUET_WRITE_LEGACY_FORMAT.key, "false")
    c.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key, "TIMESTAMP_MICROS")
    c.set(SQLConf.PARQUET_REBASE_MODE_IN_WRITE.key, "CORRECTED")
    c.set(SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE.key, "CORRECTED")
    c.set(SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED.key, "false")
    // The schema converter reads this flag for every schema; off writes a
    // variant column without the parquet logical-type annotation.
    c.set(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.key, "false")
    c
  }

  // spec ("" when unpartitioned) → open writer; opened lazily on first row.
  private val writers =
    scala.collection.mutable.LinkedHashMap.empty[String, org.apache.parquet.hadoop.ParquetWriter[InternalRow]]
  private var rows = 0L

  private def writerFor(spec: String) = writers.getOrElseUpdate(spec, {
    val dir = if (spec.isEmpty) stagingTableDir else s"$stagingTableDir/$spec"
    new SnapshotDataWriter.InternalRowWriterBuilder(
        HadoopOutputFile.fromPath(new Path(s"$dir/$fileName"), writeConf))
      .withConf(writeConf)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .build()
  })

  /** Hive-style escaped `k=v/...` spec for this row's partition tuple. */
  private def specOf(row: InternalRow): String = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    if (partCols.isEmpty) ""
    else partCols.zip(partIdx).map { case (c, i) =>
      val v =
        if (row.isNullAt(i)) ExternalCatalogUtils.DEFAULT_PARTITION_NAME
        else schema(c).dataType match {
          case StringType => ExternalCatalogUtils.escapePathName(
            row.getUTF8String(i).toString)
          case IntegerType => row.getInt(i).toString
          case LongType => row.getLong(i).toString
          case BooleanType => row.getBoolean(i).toString
          case DateType => java.time.LocalDate.ofEpochDay(row.getInt(i)).toString
          case dt => throw new UnsupportedOperationException(
            s"partition column '$c' of type $dt")
        }
      s"${ExternalCatalogUtils.escapePathName(c)}=$v"
    }.mkString("/")
  }

  override def write(row: InternalRow): Unit = {
    val r = regen(row)
    writerFor(specOf(r)).write(project(r))
    rows += 1
  }

  override def commit(): WriterCommitMessage = {
    val files = writers.toSeq.map { case (spec, w) =>
      w.close()
      val dir = if (spec.isEmpty) stagingTableDir else s"$stagingTableDir/$spec"
      (s"$dir/$fileName", spec)
    }
    SnapshotWriteMessage(files, rows, idBaseVersion)
  }

  override def abort(): Unit = writers.foreach { case (spec, w) =>
    try w.close() catch { case _: Throwable => () }
    try {
      val dir = if (spec.isEmpty) stagingTableDir else s"$stagingTableDir/$spec"
      val p = new Path(s"$dir/$fileName")
      p.getFileSystem(conf).delete(p, false)
    } catch { case _: Throwable => () }
  }

  override def close(): Unit = ()
}

private[v2] object SnapshotDataWriter {
  /** parquet-mr builder over Spark's InternalRow write support — the
    * minimal shim parquet-mr needs to drive the same record materializer
    * `ParquetOutputWriter` uses (schema + settings ride the Hadoop conf). */
  class InternalRowWriterBuilder(file: org.apache.parquet.io.OutputFile)
    extends org.apache.parquet.hadoop.ParquetWriter.Builder[
      InternalRow, InternalRowWriterBuilder](file) {
    override def self(): InternalRowWriterBuilder = this
    override def getWriteSupport(conf: Configuration)
        : org.apache.parquet.hadoop.api.WriteSupport[InternalRow] =
      new org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport
  }
}
