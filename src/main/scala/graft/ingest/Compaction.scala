package graft.ingest

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** Bin-pack compaction for TxnCommit tables.
  *
  * Every incremental ingest publishes commitId-prefixed part files; thousands
  * of runs → small-file proliferation, the classic listing/scan killer at
  * scale (each file costs a listing entry, a footer read, and a task). This
  * rewrites a table's committed files into ~targetBytes outputs behind the
  * same stage/commit/publish protocol as ingest, so the swap is crash-safe
  * and — through the [[Snapshots]] log entry — atomic for snapshot readers:
  * they see the old file set or the new one, never half of each.
  *
  * By default (`retainRemoved = true`) the swapped-out inputs are only
  * *logically* removed: in-flight readers pinned to older versions and
  * `asOf` time travel keep working, and [[Snapshots.vacuum]] later deletes
  * files no retained version can reach. `retainRemoved = false` deletes the
  * inputs at publish (reclaims space immediately, breaks older versions —
  * and a live *directory* reader can transiently double-count between the
  * adds landing and the deletes finishing, exactly the race
  * `Snapshots.read` exists to close).
  *
  * The rewrite reads only the input file list (no directory scan), and
  * `coalesce` packs partitions without a shuffle — compaction moves bytes
  * once, through narrow tasks.
  */
object Compaction {

  case class Result(filesBefore: Int, filesAfter: Int, bytes: Long)

  /** Committed part files of `table` with their partition specs: the
    * latest snapshot's file set when a log exists (never touches
    * uncommitted or mid-publish files), else the live directory listing
    * (pre-snapshot-era warehouses, flat layout only). `partitionFilter`
    * scopes maintenance to matching partitions — at 100 TB you compact
    * yesterday's `dt`, never the table. */
  private def liveFiles(fs: FileSystem, snap: Snapshot, table: String,
                        partitionFilter: Map[String, String] => Boolean)
      : Seq[(String, Long, String, String, String)] = {
    val all = snap.version match {
      case Some(_) =>
        // Candidate sizes come from the ADD line's stats token (recorded
        // at collect time) — zero filesystem RPCs on the common path; only
        // pre-size-token files pay one getFileStatus (which doubles as the
        // liveness probe the exists() check used to provide).
        snap.files(table).flatMap { a =>
          val logged = FileStats.decode(a.stats).map(_.bytes).filter(_ >= 0)
          logged match {
            case Some(sz) => Some((a.file, sz, a.partition, a.dv, a.stats))
            case None =>
              try Some((a.file, fs.getFileStatus(new Path(a.file)).getLen,
                a.partition, a.dv, a.stats))
              catch { case _: java.io.FileNotFoundException => None }
          }
        }
      case None =>
        val dir = new Path(s"${snap.warehouse}/$table")
        if (!fs.exists(dir)) Seq.empty
        else fs.listStatus(dir).toSeq.filter(_.isFile)
          .filterNot(_.getPath.getName.startsWith("_"))
          .map(st => (st.getPath.toString, st.getLen, "", "", ""))
    }
    if (partitionFilter == null) all
    else all.filter { case (_, _, spec, _, _) =>
      partitionFilter(Snapshots.specToMap(spec)) }
  }

  /** Read the input files so that partition columns (if any) stay in the
    * schema, minus any attached deletion vectors (a compaction of a
    * DV-carrying file materializes the subtraction — the rewrite IS the
    * vector purge), and write the rewrite preserving the partition layout —
    * a partition-blind rewrite would silently DROP the partition column
    * from a `dt=…` table. */
  private def readInputs(spark: SparkSession, snap: Snapshot,
                         table: String,
                         inputs: Seq[(String, Long, String, String, String)]) = {
    val partCols = Snapshots.partitionColumns(inputs.map(_._3))
    val acts = inputs.map { case (f, _, spec, dv, stats) =>
      Snapshots.Action("ADD", table, f, spec, stats, dv) }
    // The rewrite is where narrow files physically widen and metadata
    // defaults become stored values (see Snapshot.scanFiles).
    (snap.scanFiles(spark, table, acts, partCols), partCols)
  }

  /** Compact `table` into files of ~`targetBytes`. No-op (None) when the
    * table already has ≤1 file or fewer than `minInputFiles` inputs.
    *
    * `sortBy` additionally range-clusters the rewrite (Delta's `ZORDER BY`
    * for the common single-dimension case): rows are range-partitioned and
    * sorted on the given columns, so each output file covers a disjoint key
    * range and parquet row-group min/max stats let later scans with
    * predicates on those columns skip whole files. Clustering needs a
    * shuffle (range exchange) where plain bin-packing is narrow `coalesce` —
    * pay it when the table has a dominant filter column. */
  /** `purgeDropped` is Delta's `REORG TABLE … APPLY (PURGE)` analog for
    * column mapping: DROP COLUMN is metadata-only, so the dropped bytes
    * live on in the files until a rewrite; with this flag the compaction
    * physically excludes every tombstoned physical column — and forces the
    * rewrite even on an already-packed table, since removing the bytes IS
    * the point. Pre-purge versions still time-travel (inputs retained). */
  /** `maxInputBytes` restricts the rewrite to files at or under the
    * size — the bin-packing mode auto-compaction uses: already-packed
    * files are left alone, so the pass stays O(small files), not
    * O(partition). */
  def compact(spark: SparkSession, warehouse: String, table: String,
              targetBytes: Long = 128L * 1024 * 1024,
              minInputFiles: Int = 2,
              retainRemoved: Boolean = true,
              sortBy: Seq[String] = Nil,
              partitionFilter: Map[String, String] => Boolean = null,
              purgeDropped: Boolean = false,
              maxInputBytes: Long = Long.MaxValue,
              maxInputFiles: Int = Int.MaxValue)
      : Option[Result] = {
    val fs = new Path(warehouse)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // OCC guard: the input list, the table config and the base version
    // come from one snapshot — a concurrent rewrite landing after it makes
    // the commit abort instead of re-adding rows the rival already
    // rewrote (double data).
    val snap = Snapshots.snapshot(fs, warehouse)
    val mapping = snap.columnMapping(table)
    val tombstoned: Seq[String] =
      if (!purgeDropped) Nil else mapping.map(_.droppedPhysical).getOrElse(Nil)
    val inputsAll = liveFiles(fs, snap, table, partitionFilter)
      .filter(_._2 <= maxInputBytes)
    // Per-run work bound (auto-compaction's latency cap): when the
    // eligible set exceeds it, pack the SMALLEST files first — best
    // file-count reduction per byte rewritten; the remainder converges on
    // later invocations.
    val inputs =
      if (inputsAll.size <= maxInputFiles) inputsAll
      else inputsAll.sortBy(_._2).take(maxInputFiles)
    // REORG … APPLY (PURGE) also purges deletion vectors: the rewrite
    // materializes the DV subtraction, so the outputs carry no vectors —
    // force it even on an already-packed table when vectors are present.
    val purging = tombstoned.nonEmpty ||
      (purgeDropped && inputs.exists(_._4.nonEmpty))
    if (inputs.isEmpty || (inputs.size < minInputFiles && !purging)) return None
    val totalBytes = inputs.map(_._2).sum
    val nOut0 = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes).toInt
    // Clustering is worth a rewrite even when the file count doesn't shrink
    // (the value is the disjoint ranges), but never grow the file count.
    val nOut = if (sortBy.nonEmpty || purging) math.min(nOut0, inputs.size)
               else nOut0
    if (sortBy.isEmpty && !purging && nOut >= inputs.size)
      return None // already packed

    val commitId = java.util.UUID.randomUUID().toString
    val staging = s"${TxnCommit.stagingDir(warehouse, commitId)}/$table"
    val (df0, partCols) = readInputs(spark, snap, table, inputs)
    // Physically shed tombstoned columns (schema inference may not even
    // surface them when the sampled footer postdates the drop — intersect).
    val df = tombstoned.intersect(df0.columns.toSeq).foldLeft(df0)(_.drop(_))
    // Callers name columns LOGICALLY; the rewrite reads physical files —
    // resolve sortBy through the mapping (identity when none).
    val sortPhys = sortBy.map(c => mapping.fold(c)(_.physicalFor(c)))
    val packed =
      if (sortPhys.isEmpty) df.coalesce(nOut)
      else df.repartitionByRange(nOut, sortPhys.map(col): _*)
        .sortWithinPartitions(sortPhys.head, sortPhys.tail: _*)
    // Table-property bloom config: compacted files keep the point-lookup
    // blooms their inputs carried (options are physical-named already).
    val writer = packed.write.options(snap.bloomWriteOptions(table))
    (if (partCols.isEmpty) writer else writer.partitionBy(partCols: _*))
      .parquet(staging)
    val moves = TxnCommit.movesFor(fs, warehouse, commitId, table)
    val (deletes, retained) =
      if (retainRemoved) (Nil, inputs.map(_._1)) else (inputs.map(_._1), Nil)
    // File-granular OCC: this rewrite depends only on its inputs — a
    // concurrent APPEND to the table must not abort it (at 100 TB a
    // continuously-ingested table would otherwise never compact).
    TxnCommit.commit(fs, warehouse, commitId, moves, deletes, retained,
      op = "compact", baseVersion = snap.version, fileGranularOcc = true,
      asTable = Some(table))
    TxnCommit.publish(fs, warehouse, commitId, moves, deletes, retained,
      op = "compact", baseVersion = snap.version, fileGranularOcc = true,
      asTable = Some(table))
    Some(Result(inputs.size, moves.size, totalBytes))
  }

  /** Spread the low `bits` bits of `x` so consecutive bits land `stride`
    * apart (Morton/Z-curve bit interleave), as pure codegen'd bit
    * arithmetic. Callers must keep (bits-1)*stride + stride-1 < 64: Spark's
    * shiftleft wraps the shift amount mod 64, so an overflowing interleave
    * would silently corrupt the key instead of failing. */
  private def spreadBits(x: Column, stride: Int, bits: Int): Column =
    (0 until bits).map(i =>
      shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), i * stride))
      .reduce(_.bitwiseOR(_))

  /** Multi-dimensional Z-order rewrite (Delta's `OPTIMIZE ZORDER BY`):
    * each numeric column is min/max-normalized to a 16-bit rank, the ranks'
    * bits are interleaved into one Morton key, and the table is
    * range-repartitioned + sorted on that key — so every output file covers
    * a small hyper-rectangle of the key space and parquet min/max stats can
    * skip files for predicates on ANY of the clustered columns, not just a
    * leading sort column. Bounds come from one model-sized agg; the rewrite
    * itself is one range exchange, same cost shape as sorted compaction. */
  def zorder(spark: SparkSession, warehouse: String, table: String,
             cols: Seq[String],
             targetBytes: Long = 128L * 1024 * 1024,
             partitionFilter: Map[String, String] => Boolean = null)
      : Option[Result] = {
    require(cols.size >= 2, "zorder needs >= 2 columns (1 column = sortBy)")
    val fs = new Path(warehouse)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val snap = Snapshots.snapshot(fs, warehouse) // inputs + OCC base, as in compact
    val inputs = liveFiles(fs, snap, table, partitionFilter)
    // Unlike bin-packing, clustering pays off even for a single input file
    // (row groups inside it become range-disjoint) — only empty is a no-op.
    if (inputs.isEmpty) return None
    val totalBytes = inputs.map(_._2).sum
    val nOut = math.min(
      math.max(1L, (totalBytes + targetBytes - 1) / targetBytes),
      inputs.size.toLong).toInt
    val (df, partCols) = readInputs(spark, snap, table, inputs)
    // Logical→physical for the clustering columns, like compact's sortBy.
    val mapping = snap.columnMapping(table)
    val cols0 = cols.map(c => mapping.fold(c)(_.physicalFor(c)))
    val aggs = cols0.flatMap(c =>
      Seq(min(col(c)).cast("double"), max(col(c)).cast("double")))
    val bounds = df.agg(aggs.head, aggs.tail: _*).head()
    require(!bounds.anyNull,
      s"zorder columns ${cols.mkString(",")} must be numeric and not all-null")
    // Per-column rank precision shrinks with column count so the interleaved
    // key always fits 64 bits (5+ cols at 16 bits each would overflow and
    // shiftleft's mod-64 wrap would scramble the curve): 16 bits up to 4
    // cols, then 64 / n.
    val bitsPerCol = math.min(16, 64 / cols.size)
    val maxRank = (1L << bitsPerCol) - 1
    val zval = cols0.zipWithIndex.map { case (c, i) =>
      val (lo, hi) = (bounds.getDouble(2 * i), bounds.getDouble(2 * i + 1))
      val span = math.max(hi - lo, java.lang.Double.MIN_VALUE)
      val rank = least(greatest(
        ((col(c).cast("double") - lit(lo)) / lit(span) * lit(maxRank.toDouble))
          .cast("long"), lit(0L)), lit(maxRank))
      shiftleft(spreadBits(rank, cols.size, bitsPerCol), i)
    }.reduce(_.bitwiseOR(_))

    val commitId = java.util.UUID.randomUUID().toString
    val staging = s"${TxnCommit.stagingDir(warehouse, commitId)}/$table"
    val zsorted = df.withColumn("__z", zval)
      .repartitionByRange(nOut, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
    val writer = zsorted.write.options(snap.bloomWriteOptions(table))
    (if (partCols.isEmpty) writer else writer.partitionBy(partCols: _*))
      .parquet(staging)
    val moves = TxnCommit.movesFor(fs, warehouse, commitId, table)
    val retained = inputs.map(_._1)
    TxnCommit.commit(fs, warehouse, commitId, moves, retained = retained,
      op = "zorder", baseVersion = snap.version, fileGranularOcc = true,
      asTable = Some(table))
    TxnCommit.publish(fs, warehouse, commitId, moves, retained = retained,
      op = "zorder", baseVersion = snap.version, fileGranularOcc = true,
      asTable = Some(table))
    Some(Result(inputs.size, moves.size, totalBytes))
  }

  /** Post-commit auto-compaction (the Delta `autoCompact` analog), gated
    * by TABLE PROPERTIES and OFF by default:
    *
    *   graft.autoCompact.minFiles    — small-file threshold (absent/≤1 = off)
    *   graft.autoCompact.targetBytes — pack target (default 128 MiB)
    *
    * A streaming sink lands ≥1 file per task per epoch; at 100 TB with
    * minute-level triggers that is millions of small files between manual
    * OPTIMIZE runs. Writers call this AFTER a successful publish: each
    * partition the commit touched is examined, and a partition whose
    * count of small files (≤ targetBytes) reaches minFiles is bin-packed —
    * ONLY the small files rewrite (O(small), never O(partition)), under
    * file-granular OCC so concurrent appends never abort it and it never
    * aborts them. Best-effort by design: a lost race (rival rewrite of
    * the same inputs) skips silently — the small files are still there
    * and the next commit's hook retries. Failure is contained: the
    * triggering write ALREADY published. */
  /** Single daemon maintenance thread per JVM for async auto-compaction
    * (`graft.autoCompact.async=true`): the triggering write returns
    * immediately and the pack runs here. At most ONE run queues behind
    * the in-flight one PER (warehouse, table) — further triggers for that
    * table drop (the hook is level-based: the queued run sees the latest
    * live-file state when it executes, so dropped triggers lose nothing),
    * while other tables' triggers queue independently: the one-queued
    * collapse is only sound within a table, where the queued run provably
    * covers every dropped trigger's state. The single thread also bounds
    * the QUEUE: at most 2 × live tables entries, never an unbounded
    * backlog. */
  private[graft] lazy val maintenanceThread =
    java.util.concurrent.Executors.newSingleThreadExecutor(r => {
      val t = new Thread(r, "graft-auto-compact")
      t.setDaemon(true); t
    })
  private val maintenancePending =
    new java.util.concurrent.ConcurrentHashMap[
      (String, String), java.util.concurrent.atomic.AtomicInteger]()

  def autoCompact(spark: SparkSession, warehouse: String, table: String,
                  touchedSpecs: Set[String]): Unit = {
    val fs = new Path(warehouse)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val props = Snapshots.snapshot(fs, warehouse).properties(table)
    val minFiles = props.get("graft.autoCompact.minFiles")
      .flatMap(_.toIntOption).getOrElse(0)
    if (minFiles <= 1) return
    if (props.get("graft.autoCompact.async").contains("true")) {
      // in-flight + one queued PER TABLE, max — beyond that the trigger
      // drops.
      val key = (warehouse, table)
      val pending = maintenancePending.computeIfAbsent(key,
        _ => new java.util.concurrent.atomic.AtomicInteger(0))
      if (pending.incrementAndGet() <= 2)
        maintenanceThread.submit(new Runnable {
          override def run(): Unit =
            try autoCompactNow(spark, warehouse, table, touchedSpecs)
            finally if (pending.decrementAndGet() == 0)
              // Evict idle counters so short-lived warehouses/tables
              // don't accrete map entries for the JVM's lifetime. The
              // check-then-remove can race a fresh increment from the
              // map; the loser just mints a new counter at 0 — at worst
              // one extra queued run, which the level-based hook
              // tolerates by design.
              maintenancePending.remove(key, pending)
        })
      else pending.decrementAndGet()
    } else autoCompactNow(spark, warehouse, table, touchedSpecs)
  }

  private def autoCompactNow(spark: SparkSession, warehouse: String,
                             table: String, touchedSpecs: Set[String])
      : Unit = {
    // Shutdown ordering: a queued maintenance run must never land a
    // commit after its session began stopping (tests tear the warehouse
    // temp dirs down right after spark.stop(); in production the rewrite
    // job would die mid-flight anyway). Advisory work — abandoning it is
    // always safe, the small files stay and the next commit's hook
    // retries.
    if (spark.sparkContext.isStopped) return
    val fs = new Path(warehouse)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val snap = Snapshots.snapshot(fs, warehouse)
    val props = snap.properties(table)
    val minFiles = props.get("graft.autoCompact.minFiles")
      .flatMap(_.toIntOption).getOrElse(0)
    if (minFiles <= 1) return
    val target = props.get("graft.autoCompact.targetBytes")
      .flatMap(_.toLongOption).getOrElse(128L * 1024 * 1024)
    // Latency bound: one post-commit invocation rewrites at most this
    // many input files across all specs (unset = unbounded). A streaming
    // epoch that trips the threshold on a huge backlog pays a CAPPED
    // bin-pack, never an unbounded one — the next commit's hook
    // continues where this one stopped, so the file count still
    // converges.
    val maxPerRun = props.get("graft.autoCompact.maxInputsPerRun")
      .flatMap(_.toIntOption).getOrElse(Int.MaxValue)
    try {
      val perSpec = liveFiles(fs, snap, table, null)
        .filter(_._2 <= target).groupBy(_._3)
        .filter { case (spec, fs0) =>
          fs0.size >= minFiles &&
            (touchedSpecs.isEmpty || touchedSpecs.contains(spec)) }
      var budget = maxPerRun
      perSpec.keys.toSeq.sorted.foreach { spec =>
        // Uniform equality filter: "" matches only layout-era
        // unpartitioned files (mixed-layout tables must not widen the
        // rewrite to other partitions).
        if (budget >= minFiles) {
          val want = Snapshots.specToMap(spec)
          compact(spark, warehouse, table, targetBytes = target,
            minInputFiles = minFiles,
            partitionFilter = m => m == want,
            maxInputBytes = target,
            maxInputFiles = budget)
            .foreach(r => budget -= r.filesBefore)
        }
      }
    } catch {
      // Contention (a rival rewrite won the race on these inputs) or any
      // other failure: skip — auto-compaction is advisory maintenance and
      // must never fail the write that triggered it.
      case _: Snapshots.ConcurrentCommitException => ()
      case scala.util.control.NonFatal(e) =>
        org.slf4j.LoggerFactory.getLogger(getClass)
          .warn(s"auto-compaction of $table skipped: ${e.getMessage}")
    }
  }
}
