package graft.ingest

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, input_file_name, lit, max, min}

/** Copy-on-write MERGE (upsert / delete-by-key) for TxnCommit tables — the
  * Delta `MERGE INTO` analog over the [[Snapshots]] log.
  *
  * Only files that actually contain a matching key are rewritten, and only
  * files that COULD are read: candidate files come from intersecting the
  * update keys' [min,max] with each file's log-side stats
  * ([[FileStats]] on the ADD line) — on a key-clustered table a narrow
  * merge opens a handful of files, not the table; files without stats are
  * conservatively candidates. A broadcast semi-join over just the
  * candidates then yields the affected-file list, those files are
  * rewritten with matched rows replaced, and everything lands through the
  * same stage/commit/publish protocol as ingest — snapshot readers see the
  * old version or the new one, never a half-merged table, and the
  * swapped-out originals stay on disk for `asOf` time travel until
  * [[Snapshots.vacuum]].
  *
  * Alongside the rewrite the merge stages row-level change files
  * (`_change_type` ∈ insert | update_preimage | update_postimage | delete,
  * the Delta CDF convention) under `warehouse/_changes/<table>/`; they ride
  * the same manifest (crash-safe, exactly-once) and are recorded as CDF
  * lines in the log entry, which is how [[Snapshots.changes]] serves an
  * upserted table incrementally instead of refusing.
  *
  * Scale shape: the update side is SIZE-ROUTED — dim-sized sources (the
  * common merge) broadcast and point-prune; a source past
  * `graft.merge.broadcastMaxRows` drops the hint (the joins plan as
  * shuffle joins) and keeps [min,max] envelope pruning only, so a
  * fact-sized CDC backfill re-plans instead of OOMing executors. On the
  * broadcast route the table side is never shuffled — candidate files are
  * read once, anti-joined, and written back with narrow tasks. Unaffected
  * files move zero bytes. Driver state is O(affected files), not O(rows).
  */
object Merge {

  // Encoded-path comparison keys — the one shared contract lives in
  // [[Snapshots.pathKey]]/[[Snapshots.srcFileKey]].
  private def pathKey(file: String): String = Snapshots.pathKey(file)
  private def srcFileKey(uri: String): String = Snapshots.srcFileKey(uri)

  /** Scan-side row identity columns: the row's source file (scheme-less
    * encoded path — directly comparable to [[pathKey]] output) and its row
    * index within that file. Captured from `_metadata` AT THE SCAN, before
    * any join — `input_file_name()` is only reliable scan-side and a
    * deletion-vector anti-join may sit between the scan and the consumer. */
  private[ingest] val SrcFileCol = "_src_file"
  private[ingest] val RowPosCol = "_row_pos"

  /** Read committed files with row identity ([[SrcFileCol]], [[RowPosCol]]),
    * minus any attached deletion vectors, resolved to the logical schema.
    * Every DML read routes through here so no path can resurrect DV'd rows,
    * and every one reads at the table's served schema, so a rewrite writes
    * back the values a read serves (a STRING `h=05` stays '05'). */
  private def dvAwareRead(spark: SparkSession, snap: Snapshot,
                          table: String,
                          acts: Seq[Snapshots.Action]): DataFrame = {
    import org.apache.spark.sql.functions.regexp_replace
    // Row identity is captured per group at the scan, where the metadata
    // columns resolve; DML reads serve (and rewrites materialize) defaults.
    val df = snap.scanFiles(spark, table, acts,
      snap.liveSchema(spark, table), _
      .withColumn(SrcFileCol,
        regexp_replace(col("_metadata.file_path"), Snapshots.SchemeRe, ""))
      .withColumn(RowPosCol, col("_metadata.row_index")))
    snap.columnMapping(table)
      .fold(df)(_.applyTo(df, passthrough = Seq(SrcFileCol, RowPosCol)))
  }

  /** The snapshot a DML operation plans from and commits against (its
    * OCC base): files, mapping, table config and candidate pruning all
    * come from this one version. */
  private def pinned(fs: org.apache.hadoop.fs.FileSystem,
                     warehouse: String): Snapshot = {
    val snap = Snapshots.snapshot(fs, warehouse)
    if (snap.version.isEmpty) throw new IllegalStateException(
      s"no snapshot log under $warehouse — DML needs a TxnCommit table")
    snap
  }

  /** `rowsMatched`: rows of the table whose key matched the source —
    * replaced on upsert, removed on delete. `filesScanned`: stats-surviving
    * candidate files actually opened to find matches (≤ table file count;
    * the log-side skipping win is `filesScanned` ≪ total on a clustered
    * table). `filesDvAttached`: files that got a deletion vector instead of
    * a rewrite (merge-on-read paths only). */
  case class Result(filesRewritten: Int, filesAdded: Int, rowsMatched: Long,
                    filesScanned: Int = 0, filesDvAttached: Int = 0)

  /** Upsert `updates` into `table` by `keyCols`: rows whose key matches are
    * replaced, the rest of `updates` is inserted. `updates` must carry the
    * table's full schema. */
  def upsert(spark: SparkSession, warehouse: String, table: String,
             updates: DataFrame, keyCols: Seq[String]): Result =
    merge(spark, warehouse, table, updates, keyCols, insertSource = true)

  /** Delete every row of `table` whose `keyCols` tuple appears in `keys`. */
  def deleteKeys(spark: SparkSession, warehouse: String, table: String,
                 keys: DataFrame, keyCols: Seq[String]): Result =
    merge(spark, warehouse, table, keys, keyCols, insertSource = false)

  /** Predicate DML (`DELETE FROM t WHERE …`): rewrite only the files that
    * contain a matching row, dropping those rows; change files record the
    * deletions. Candidate files come from log-side stats intersection with
    * the predicate (same skipping as [[Snapshots.readWhere]]). */
  def deleteWhere(spark: SparkSession, warehouse: String, table: String,
                  condition: org.apache.spark.sql.Column): Result =
    rewriteWhere(spark, warehouse, table, condition, Map.empty)

  /** Predicate DML (`UPDATE t SET c = expr WHERE …`): matched rows are
    * rewritten with `assignments` applied (each value may reference the
    * row's current columns); unmatched rows and untouched files move zero
    * bytes. Change files record pre/post images. */
  def updateWhere(spark: SparkSession, warehouse: String, table: String,
                  condition: org.apache.spark.sql.Column,
                  assignments: Map[String, org.apache.spark.sql.Column]): Result = {
    require(assignments.nonEmpty, "updateWhere needs at least one assignment")
    rewriteWhere(spark, warehouse, table, condition, assignments)
  }

  /** Merge-on-read predicate DELETE (the Delta deletion-vector path): the
    * matched rows' (file, position) pairs are committed as deletion-vector
    * attachments — NO data file is rewritten. Copy-on-write deleting 0.1%
    * of a 100 TB table rewrites every affected file; this writes O(matched
    * rows) positions and one log entry. Reads subtract the vector
    * ([[Snapshots.applyDv]]), `changes()` serves the staged CDF delete
    * rows, compaction purges vectors, and a file whose deletions come to
    * cover EVERY row is logically REMOVEd outright instead of carrying a
    * full vector. */
  def deleteWhereDv(spark: SparkSession, warehouse: String, table: String,
                    condition: org.apache.spark.sql.Column,
                    rewriteFraction: Double = 1.0): Result =
    dvWhere(spark, warehouse, table, condition, Map.empty, rewriteFraction)

  /** Merge-on-read predicate UPDATE: matched rows are deletion-vectored
    * out of their files and re-appended with `assignments` applied (the
    * DV-update shape: vector + append — unmatched rows move zero bytes,
    * same as copy-on-write, but matched FILES aren't rewritten either). */
  def updateWhereDv(spark: SparkSession, warehouse: String, table: String,
                    condition: org.apache.spark.sql.Column,
                    assignments: Map[String, org.apache.spark.sql.Column],
                    rewriteFraction: Double = 1.0): Result = {
    require(assignments.nonEmpty, "updateWhereDv needs at least one assignment")
    dvWhere(spark, warehouse, table, condition, assignments, rewriteFraction)
  }

  /** Distinct leading-key cap below which keyed candidate pruning
    * enumerates point-equality leaves instead of one [min,max] envelope.
    * Point leaves probe per-file BLOOMS ([[FileStats.bloomWriteOptions]]),
    * which is what skips a non-clustered file whose range spans the whole
    * key space — the envelope can't. Merges are dim-sized by contract, so
    * the extra distinct+limit driver collect is bounded and cheap. */
  private def maxPointPruneKeys: Int =
    sys.props.get("graft.merge.pointPruneMaxKeys").map(_.toInt).getOrElse(1024)

  /** Source row count above which the merge engines DROP the `broadcast`
    * hint. Spark honors a broadcast hint regardless of size, so an
    * unconditional hint turns a fact-sized CDC backfill or
    * snapshot-to-snapshot sync source into an executor OOM instead of a
    * plan change. Above the threshold the joins plan as shuffle joins
    * (SMJ / shuffled hash — the keys are equi-join keys throughout) and
    * keyed candidate pruning keeps only the [min,max] envelope: the
    * per-column point enumeration is a driver-side distinct+collect the
    * large path must not pay. ≤ 0 disables the guard (always broadcast). */
  // Session conf first (the user-facing knob), JVM property as the
  // session-less fallback/test hook.
  private def broadcastMaxRows(spark: SparkSession): Long =
    spark.conf.getOption("graft.merge.broadcastMaxRows")
      .orElse(sys.props.get("graft.merge.broadcastMaxRows"))
      .map(_.toLong).getOrElse(4L * 1000 * 1000)

  /** Zero-job source-row UPPER BOUND from the snapshot log: when the
    * source plan bottoms out in graft snapshot relations (V1
    * `graft-snapshots` reads or catalog tables) whose live files all carry
    * row-count stats tokens, and every node above the leaves can only
    * KEEP OR SHRINK the row count (project/filter/distinct/agg/limit/…),
    * the summed log tokens bound the source size without running
    * anything. A join, generator, or unrecognized node disables the
    * shortcut — the probe job below is the fallback, never a guess. */
  private[graft] def statsRowBound(source: DataFrame): Option[Long] = {
    import org.apache.spark.sql.catalyst.plans.logical._
    def leafRows(p: LogicalPlan): Option[Long] = p match {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case sbr: graft.sources.v2.SnapshotBatchRelation => sbr.logRowBound
          case _ => None
        }
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
        r.table match {
          case t: graft.sources.v2.GraftCatalogTable => t.logRowBound
          case _ => None
        }
      case _ => None
    }
    def bound(p: LogicalPlan): Option[Long] = leafRows(p).orElse(p match {
      case u: Union =>
        u.children.map(bound).foldLeft(Option(0L)) { (a, b) =>
          for (x <- a; y <- b) yield x + y
        }
      case _: Project | _: Filter | _: SubqueryAlias | _: Distinct |
           _: Deduplicate | _: Sort | _: Window | _: GlobalLimit |
           _: LocalLimit | _: RepartitionOperation =>
        bound(p.children.head)
      // A grouped aggregate yields ≤ input rows; a GLOBAL one yields
      // exactly 1 even over an empty child — max-guard the bound.
      case a: Aggregate => bound(a.child).map(math.max(_, 1L))
      case _ => None
    })
    bound(source.queryExecution.analyzed)
  }

  /** Route the merge by source size, with probe-cost containment. The
    * log's row tokens answer first — zero jobs for a snapshot-table
    * source ([[statsRowBound]]); otherwise ONE bounded probe job counts
    * at most threshold+1 rows (the limit caps the scan — a 100 TB source
    * answers "big" after the first partitions, never a full count).
    *
    * When the probe must run (a plain DataFrame source), the source is
    * persisted FIRST, so the probe's partial execution lands in the
    * cache and the merge body's own re-executions (bounds agg, key
    * enumeration, the pairs join) hit it instead of re-running an
    * arbitrarily expensive upstream plan. The cache is kept only on a
    * SMALL verdict (≤ broadcast-threshold rows — bounded memory by
    * construction); a fact-sized source unpersists immediately, since
    * spilling a 100 TB plan to MEMORY_AND_DISK would cost more than the
    * one probe re-execution it saves — and a probe that THROWS also
    * unpersists before propagating. A source the CALLER already
    * persisted is probed but never double-persisted or unpersisted here.
    * Callers must invoke the returned release handle when the merge is
    * done. */
  private def sizeRouted(source: DataFrame): (Boolean, () => Unit) = {
    val noop: () => Unit = () => ()
    val t = broadcastMaxRows(source.sparkSession)
    if (t <= 0) return (true, noop)
    def probeSmall(): Boolean =
      source.limit(math.min(t + 1, Int.MaxValue.toLong).toInt).count() <= t
    statsRowBound(source) match {
      case Some(b) => (b <= t, noop)
      case None =>
        if (source.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
          (probeSmall(), noop)
        else {
          source.persist(
            org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          val small =
            try probeSmall()
            catch { case e: Throwable => source.unpersist(false); throw e }
          if (small) (true, () => { source.unpersist(false); () })
          else { source.unpersist(false); (false, noop) }
        }
    }
  }

  /** The broadcast hint, applied only on the small-source route. */
  private def hintIf(small: Boolean)(df: DataFrame): DataFrame =
    if (small) broadcast(df) else df

  /** Additive MERGE schema evolution, the Delta
    * `spark.databricks.delta.schema.autoMerge` analog: when the session
    * conf `graft.merge.schemaEvolution` is `true`, source columns the
    * target lacks are ADDED to the table (each a metadata-only
    * [[SchemaEvolution.addColumn]] commit) instead of failing the merge;
    * pre-merge files read the new columns as null. The evolution commits
    * land BEFORE the merge captures its OCC base version, so they never
    * conflict with the merge's own publish. Off (strict schemas) by
    * default, like Delta. */
  private def schemaEvolutionOn(spark: SparkSession): Boolean =
    spark.conf.getOption("graft.merge.schemaEvolution")
      .exists(_.equalsIgnoreCase("true"))

  /** Commit add-column evolution for every source column absent from the
    * target's logical schema (skipping `excluded` — source-side key names
    * paired to differently-named target keys are the join keys, not new
    * columns). `restrictTo` (None = all) bounds evolution to columns a
    * clause actually REFERENCES — Delta's autoMerge only evolves
    * referenced/star columns, so a stray extra source column must not
    * grow the table. Target names come from the mapping when one exists,
    * else from the log's schema tags + partition columns — no footer
    * reads. A pre-stats log (any file without tags) disables evolution:
    * the target column set is unknowable, and guessing could shadow a
    * real column. */
  private def evolveExtraColumns(spark: SparkSession, warehouse: String,
                                 table: String,
                                 fs: org.apache.hadoop.fs.FileSystem,
                                 srcCols: Seq[String],
                                 excluded: Set[String] = Set.empty,
                                 restrictTo: Option[Set[String]] = None): Unit = {
    if (!schemaEvolutionOn(spark)) return
    val snap = Snapshots.snapshot(fs, warehouse)
    val meta = snap.files(table)
    val tcols: Set[String] =
      snap.columnMapping(table) match {
        case Some(m) => m.logicalNames.toSet
        case None =>
          val tags = meta.map(a => FileStats.schemaTags(a.stats))
          if (meta.isEmpty || tags.exists(_.isEmpty)) return
          tags.flatten.map(_._1).toSet ++
            Snapshots.partitionColumns(meta.map(_.partition))
      }
    srcCols.filterNot(c => tcols(c) || excluded(c))
      .filter(c => restrictTo.forall(_(c))).foreach { c =>
      // A racing evolving merge may add the same column between our
      // mapping read and this commit — "already exists" means the goal
      // state holds, not a failure.
      try SchemaEvolution.addColumn(spark, warehouse, table, c)
      catch {
        case e: IllegalArgumentException
            if e.getMessage != null && e.getMessage.contains("already exists") =>
          ()
      }
    }
  }

  /** Candidate-pruning predicate for keyed DML: per KEY COLUMN, an OR of
    * point lookups when that column's distinct source values fit
    * [[maxPointPruneKeys]] — ANDed across columns (sound: the per-column
    * value sets are a superset of the key tuples, and a file missing ANY
    * column's whole set cannot hold a matching tuple), so a composite key
    * prunes on whichever columns are selective, not just the leading one.
    * The leading key's [min,max] envelope always rides along — it is the
    * whole predicate when no column enumerates. `bounds` is the caller's
    * pre-computed leading-column min/max row. */
  private def keyPrunePred(source: DataFrame, keyCols: Seq[String],
                           bounds: org.apache.spark.sql.Row,
                           enumerate: Boolean = true): FileStats.Pred = {
    val cap = maxPointPruneKeys
    val perCol = if (!enumerate) Nil else keyCols.flatMap { c =>
      val ks = source.select(col(c)).filter(col(c).isNotNull)
        .distinct().limit(cap + 1).collect().map(_.get(0))
      if (ks.nonEmpty && ks.length <= cap)
        Some(ks.map(v => FileStats.eq(c, v)).reduce[FileStats.Pred](_.or(_)))
      else None
    }
    (perCol :+ FileStats.between(keyCols.head, bounds.get(0), bounds.get(1)))
      .reduce(_.and(_))
  }

  /** Merge-on-read delete-by-key: every row whose `keyCols` tuple appears
    * in `keys` is deletion-vectored out — the vector twin of
    * [[deleteKeys]]. Candidates come from the keys' point/[min,max]
    * pruning against log stats — incl. bloom probes on bloom-carrying
    * tables ([[keyPrunePred]]); the match is a broadcast semi-join (keys
    * are dim-sized by contract). */
  def deleteKeysDv(spark: SparkSession, warehouse: String, table: String,
                   keys: DataFrame, keyCols: Seq[String],
                   rewriteFraction: Double = 1.0): Result = {
    val srcKeys = keys.select(keyCols.map(col): _*).distinct()
    // Probe-cached (released in the finally below): the keys frame is
    // re-executed by the bounds agg, the prune predicate, and the
    // semi-join.
    val (small, releaseProbe) = sizeRouted(keys)
    try {
    val bounds = keys.agg(min(col(keyCols.head)), max(col(keyCols.head))).head()
    dvCore(spark, warehouse, table,
      candidatesOf = snap =>
        if (bounds.isNullAt(0)) Nil
        else snap.pruned(table,
          keyPrunePred(keys, keyCols, bounds, enumerate = small)),
      matcher = df => df
        .filter(col(keyCols.head).between(lit(bounds.get(0)), lit(bounds.get(1))))
        .join(hintIf(small)(srcKeys), keyCols, "left_semi"),
      keeper = df => df.join(hintIf(small)(srcKeys), keyCols, "left_anti"),
      assignments = Map.empty, rewriteFraction = rewriteFraction)
    } finally releaseProbe()
  }

  /** Shared merge-on-read core. Empty `assignments` = delete.
    *
    * Scale shape: pass 1 scans only stats-surviving candidates to find
    * affected files + per-file new-deletion counts (driver state is
    * O(candidate files)); pass 2 scans only AFFECTED files for the CDF
    * rows and vector positions. The vector parquet is repartitioned by
    * data file so each file's full deletion set lands in exactly one
    * staged part (bounded by 32 writer tasks — vectors are position lists,
    * tiny next to the data); attachments ride the manifest so a crashed
    * publish replays them exactly. */
  /** `rewriteFraction` is the per-file vector budget (the Delta
    * auto-tuning analog): a file whose CUMULATIVE deleted fraction (old
    * vector + this commit) reaches it is rewritten — survivors re-added,
    * original REMOVEd — instead of carrying a vector that every future
    * read anti-joins. 1.0 = pure merge-on-read (only all-dead files are
    * removed); 0.0 = effectively copy-on-write. Files without row-count
    * stats always take the vector path (their fraction is unknowable). */
  private def dvWhere(spark: SparkSession, warehouse: String, table: String,
                      condition: org.apache.spark.sql.Column,
                      assignments: Map[String, org.apache.spark.sql.Column],
                      rewriteFraction: Double = 1.0): Result = {
    import org.apache.spark.sql.functions.{coalesce => cl, not}
    dvCore(spark, warehouse, table,
      // Candidates by log-side stats, exactly as the copy-on-write path.
      candidatesOf = snap => snap.pruned(table,
        Snapshots.statsPred(spark, snap, table, condition)),
      matcher = _.filter(condition),
      // SQL three-valued logic: rows where the condition evaluates NULL
      // survive a rewrite.
      keeper = _.filter(cl(not(condition), lit(true))),
      assignments = assignments, rewriteFraction = rewriteFraction)
  }

  /** The merge-on-read engine shared by the predicate and keyed fronts:
    * `candidatesOf` prunes the file list from log stats, `matcher` yields
    * the rows to delete/update, `keeper` the survivors of a
    * budget-routed rewrite (must honor SQL three-valued logic for
    * predicates). Both run over the dv-aware read, so already-deleted
    * rows are invisible. */
  private def dvCore(spark: SparkSession, warehouse: String, table: String,
                     candidatesOf: Snapshot => Seq[Snapshots.Action],
                     matcher: DataFrame => DataFrame,
                     keeper: DataFrame => DataFrame,
                     assignments: Map[String, org.apache.spark.sql.Column],
                     rewriteFraction: Double)
      : Result = {
    import org.apache.spark.sql.functions.{count, first, when}
    val fs = new Path(warehouse)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val snap = pinned(fs, warehouse)
    val partCols = snap.partitionLayout(table)
    assignments.keys.foreach(c => require(!partCols.contains(c),
      s"updateWhereDv cannot reassign partition column '$c' (rows would " +
        "land in the wrong directory) — delete + append instead"))
    requireAssignable(snap, table, assignments.keys, "updateWhereDv")
    val mapping = snap.columnMapping(table)
    val candidates = candidatesOf(snap)
    if (candidates.isEmpty) return Result(0, 0, 0L, 0)
    // The predicate is evaluated ONCE, over the stats-surviving
    // candidates, and the matched set is persisted: per-file routing
    // counts, deletion-vector positions, CDF rows, and the update
    // postimage all derive from this single materialization — a
    // non-deterministic predicate (rand(), a current_timestamp
    // comparison) cannot produce a vector, change feed, and postimage
    // that disagree. (Rows already vectored out are invisible to the
    // dv-aware read, so a re-run of the same predicate matches nothing
    // and commits nothing.) The one remaining re-evaluation is
    // keeper() for files the vector budget routes to a REWRITE — its
    // survivors are the predicate's complement, so predicates must be
    // deterministic when rewriteFraction < 1 can trigger rewrites; the
    // default pure merge-on-read path never calls it. Cache size is
    // bounded by the matched rows (the deletion set), spilling to disk.
    val matched =
      matcher(dvAwareRead(spark, snap, table, candidates))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def run(): Result = {
    val newCounts: Map[String, Long] = matched
      .groupBy(SrcFileCol).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val affected = candidates.filter(a => newCounts.contains(pathKey(a.file)))
    if (affected.isEmpty) return Result(0, 0, 0L, candidates.size)

    // Per-file routing by cumulative deleted fraction: all-dead files are
    // logically REMOVEd (readers skip them entirely — no vector at all);
    // files at/above `rewriteFraction` are rewritten (survivors re-added);
    // the rest get a vector. The bytes of removed originals stay for time
    // travel either way.
    val frac: Map[String, Double] = affected.map { a =>
      val key = pathKey(a.file)
      key -> FileStats.decode(a.stats).map(_.rows).filter(_ > 0)
        .map(r => (a.dvCount + newCounts(key)).toDouble / r).getOrElse(0.0)
    }.toMap
    val (full, rest) = affected.partition(a => frac(pathKey(a.file)) >= 1.0)
    val (heavy, partial) =
      rest.partition(a => frac(pathKey(a.file)) >= rewriteFraction)

    // The persisted matched rows feed the CDF change files (and the
    // update postimage); their (file, pos) pairs — merged with the
    // files' existing vectors — become the new vectors.
    val commitId = java.util.UUID.randomUUID().toString
    val dvStaging =
      s"${TxnCommit.stagingDir(warehouse, commitId)}/_dv/$table"
    val cdfStaging =
      s"${TxnCommit.stagingDir(warehouse, commitId)}/_changes/$table"
    val dataStaging = s"${TxnCommit.stagingDir(warehouse, commitId)}/$table"

    if (partial.nonEmpty) {
      val partialKeys = partial.map(a => pathKey(a.file))
      val newDv = matched
        .filter(col(SrcFileCol).isin(partialKeys: _*))
        .select(col(SrcFileCol).as("_dv_data_file"),
          col(RowPosCol).as("_dv_pos"))
      val withOld = partial.filter(_.dv.nonEmpty)
      val dvOut =
        if (withOld.isEmpty) newDv
        else newDv.unionByName(Snapshots.dvRowsDf(spark,
          withOld.map(a => (pathKey(a.file), a.dvPath))))
      dvOut.repartition(math.min(32, partial.size), col("_dv_data_file"))
        .write.parquet(dvStaging)
    }

    // CDF rows (and the update postimage) carry the table's data columns
    // under physical names, like every staged file.
    val matchedData = matched.drop(SrcFileCol, RowPosCol)
    // Assignments are cast back to the table's column types: the postimage
    // stands alone in its own file (no survivors to union-coerce against,
    // unlike copy-on-write), so `SET v = 0` on a BIGINT column must not
    // write an INT32 file — schema enforcement would rightly reject it.
    def applied(df: DataFrame): DataFrame = {
      val upd = assignments.foldLeft(df) { case (d, (c, e)) => d.withColumn(c, e) }
      // GENERATED columns recompute on the postimage (base-column updates
      // must not leave a stale generated value on the merge-on-read path
      // either).
      val gen = Generated.materialize(snap, table, upd)
      gen.select(df.schema.fields.toIndexedSeq.map(f =>
        col(f.name).cast(f.dataType).as(f.name)): _*)
    }
    val changes =
      if (assignments.isEmpty)
        matchedData.withColumn("_change_type", lit("delete"))
      else
        matchedData.withColumn("_change_type", lit("update_preimage"))
          .unionByName(applied(matchedData)
            .withColumn("_change_type", lit("update_postimage")))
    val obs = new org.apache.spark.sql.Observation()
    mapping.fold(changes)(_.toPhysicalDf(changes))
      .observe(obs,
        count(when(col("_change_type") === "delete", 1)).as("deleted"),
        count(when(col("_change_type") === "update_preimage", 1)).as("updated"))
      .coalesce(math.max(1, affected.size)).write.parquet(cdfStaging)
    val dvDeleted = obs.get.apply("deleted").asInstanceOf[Long]
    val dvUpdated = obs.get.apply("updated").asInstanceOf[Long]
    val matchedCount = dvDeleted + dvUpdated
    val dvMetrics = Map("rows_deleted" -> dvDeleted,
      "rows_updated" -> dvUpdated, "rows_inserted" -> 0L)
    // Data appends: the update postimage, plus — when the vector budget
    // routed files to a rewrite — those files' survivors (SQL three-valued
    // logic: rows where the condition evaluates NULL survive).
    val survivors =
      if (heavy.isEmpty) None
      else Some(keeper(dvAwareRead(spark, snap, table, heavy))
        .drop(SrcFileCol, RowPosCol))
    val post = if (assignments.isEmpty) None else Some(applied(matchedData))
    val outData = (survivors, post) match {
      case (Some(s0), Some(p0)) => Some(s0.unionByName(p0))
      case (s0, p0)             => s0.orElse(p0)
    }
    outData.foreach { out =>
      val outPhys = mapping.fold(out)(_.toPhysicalDf(out))
      // Table-property bloom config: rewritten/postimage files carry the
      // same point-lookup blooms the original appends did.
      val w = outPhys
        .coalesce(math.max(1, heavy.size +
          (if (assignments.isEmpty) 0 else affected.size))).write
        .options(snap.bloomWriteOptions(table))
      (if (partCols.isEmpty) w else w.partitionBy(partCols: _*))
        .parquet(dataStaging)
    }

    // Attachment map: the repartition above put each file's vector rows in
    // exactly one staged part — one read of the tiny staged vector learns
    // which, and how many. Unreferenced (empty) parts never publish.
    val dvMoves = TxnCommit.movesFor(fs, warehouse, commitId, s"_dv/$table")
    val srcToDest = dvMoves.map(m => srcFileKey(m.src) -> m.dest).toMap
    val attach: Seq[(String, String, Long)] =
      if (partial.isEmpty) Nil
      else {
        val keyToFile = partial.map(a => pathKey(a.file) -> a.file).toMap
        spark.read.parquet(dvStaging)
          .withColumn("_p", input_file_name())
          .groupBy("_dv_data_file")
          .agg(count(lit(1)).as("_n"), first(col("_p")).as("_p"))
          .collect()
          .map(r => (keyToFile(r.getString(0)),
            srcToDest(srcFileKey(r.getString(2))), r.getLong(1))).toSeq
      }
    val usedDvDests = attach.map(_._2).toSet
    val dataMoves =
      if (outData.isEmpty) Nil
      else TxnCommit.movesFor(fs, warehouse, commitId, table)
    val moves = dataMoves ++
      TxnCommit.movesFor(fs, warehouse, commitId, s"_changes/$table") ++
      dvMoves.filter(m => usedDvDests(m.dest))
    val removed = (full ++ heavy).map(_.file)
    TxnCommit.commit(fs, warehouse, commitId, moves,
      retained = removed, op = "merge", baseVersion = snap.version,
      dvAttach = attach, fileGranularOcc = true, asTable = Some(table),
      metrics = dvMetrics)
    TxnCommit.publish(fs, warehouse, commitId, moves,
      retained = removed, op = "merge", baseVersion = snap.version,
      dvAttach = attach, fileGranularOcc = true, asTable = Some(table),
      metrics = dvMetrics)
    Result(heavy.size, dataMoves.size, matchedCount, candidates.size,
      partial.size)
    }
    try run() finally matched.unpersist()
  }


  /** Direct assignments to engine-managed columns are rejected:
    * GENERATED values re-materialize from their expression (assign the
    * BASE columns instead), identity values are minted once at append
    * and never rewritten. */
  private def requireAssignable(snap: Snapshot, table: String,
                                cols: Iterable[String], what: String): Unit = {
    val gen = Generated.generatedColumns(snap, table).map(_._1).toSet
    val ids = Identity.identityColumns(snap, table).toSet
    cols.foreach { c =>
      require(!gen.contains(c),
        s"$what cannot assign GENERATED column '$c' — it re-materializes " +
          "from its expression; assign the base columns instead")
      require(!ids.contains(c),
        s"$what cannot assign IDENTITY column '$c' — ids are minted at " +
          "append and never rewritten")
    }
  }

  /** Shared copy-on-write core for predicate delete/update. Empty
    * `assignments` = delete. */
  private def rewriteWhere(spark: SparkSession, warehouse: String, table: String,
                           condition: org.apache.spark.sql.Column,
                           assignments: Map[String, org.apache.spark.sql.Column])
      : Result = {
    import org.apache.spark.sql.functions.{coalesce => cl, not}
    val fs = new Path(warehouse)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val snap = pinned(fs, warehouse)
    val meta = snap.files(table)
    val partCols = snap.partitionLayout(table)
    assignments.keys.foreach(c => require(!partCols.contains(c),
      s"updateWhere cannot reassign partition column '$c' (rows would " +
        "land in the wrong directory) — delete + append instead"))
    requireAssignable(snap, table, assignments.keys, "updateWhere")
    // Condition/assignments are expressed in LOGICAL names; files store
    // physical ones. Read through the mapping (and minus any attached
    // deletion vectors — a rewrite must not resurrect DV'd rows), rewrite
    // back to physical.
    def readFiles(acts: Seq[Snapshots.Action]): DataFrame =
      dvAwareRead(spark, snap, table, acts)
    // Candidates by log-side stats; affected = candidates that truly match.
    val candidates = snap.pruned(table,
      Snapshots.statsPred(spark, snap, table, condition))
    // Scheme-less FULL paths, not basenames: one dynamic-partition write
    // emits the same basename into every partition dir, so a basename
    // match would drag every sibling partition's file into the rewrite.
    // Both sides compare in URL-ENCODED form (see [[pathKey]]).
    val affectedNames: Set[String] =
      if (candidates.isEmpty) Set.empty
      else readFiles(candidates).filter(condition)
        .select(SrcFileCol).distinct()
        .collect().map(_.getString(0)).toSet
    val affected = meta.filter(a => affectedNames(pathKey(a.file)))
    if (affected.isEmpty) return Result(0, 0, 0L, candidates.size)

    val hit = readFiles(affected).drop(SrcFileCol, RowPosCol)
    // SQL three-valued logic: DELETE/UPDATE act only on rows where the
    // condition is TRUE; rows where it evaluates NULL (e.g. a NULL in the
    // predicate column) must SURVIVE the rewrite — `not(condition)` alone
    // is NULL for them and would silently drop them from the table.
    val matchedRows = hit.filter(condition)
    val survivors = hit.filter(cl(not(condition), lit(true)))
    val (out, changes) =
      if (assignments.isEmpty)
        (survivors, matchedRows.withColumn("_change_type", lit("delete")))
      else {
        val updated = assignments.foldLeft(matchedRows) {
          case (df, (c, e)) => df.withColumn(c, e) }
        (survivors.unionByName(updated),
          matchedRows.withColumn("_change_type", lit("update_preimage"))
            .unionByName(updated.withColumn("_change_type", lit("update_postimage"))))
      }
    commitRewrite(fs, snap, table, partCols, out, changes,
      affected.map(_.file), candidates.size)
  }

  /** Shared commit tail for the key-merge and predicate-DML paths: stage
    * the rewrite (+ CDF change files), observe the matched count on the
    * CDF write, and drive stage→commit→publish. The matched-row count
    * rides the CDF write as an Observation (one pre-image/delete row per
    * matched row) instead of a separate pass over the affected files;
    * both writes coalesce to the affected-file count — a predicate
    * hitting 10% of a 100 TB table must not funnel every row through one
    * writer task. */
  private def commitRewrite(fs: org.apache.hadoop.fs.FileSystem,
                            snap: Snapshot, table: String,
                            partCols: Seq[String], out: DataFrame,
                            changes: DataFrame, affected: Seq[String],
                            candidates: Int,
                            fileGranularOcc: Boolean = false,
                            fixedCommitId: Option[String] = None): Result = {
    import org.apache.spark.sql.functions.{count, when}
    val warehouse = snap.warehouse
    val mapping = snap.columnMapping(table)
    val commitId =
      fixedCommitId.getOrElse(java.util.UUID.randomUUID().toString)
    // A caller-supplied commitId is a REPLAY key: a prior attempt that
    // crashed before the manifest commit point may have left its staging
    // dir behind, and ErrorIfExists writes against a commitId-named dir
    // would then fail until the orphan TTL reaps it — stalling the
    // exactly-once CDC loop this feature exists for. Deleting the old dir
    // is NOT the answer: a concurrent duplicate (zombie driver + restart,
    // the exact pair replay keys target) would clobber its rival's
    // in-flight files and publish a mixed manifest. Instead each ATTEMPT
    // stages into its own uniquely-named dir; the manifest's put-if-absent
    // on the COMMIT id stays the single arbitration point — the first
    // attempt to commit wins, a concurrent rival converges by publishing
    // the winner's manifest (idempotent renames), and every attempt reaps
    // its own staging afterwards (a crashed attempt's dir falls to the
    // orphan TTL).
    val stagingId =
      if (fixedCommitId.isEmpty) commitId
      else s"$commitId-a-${java.util.UUID.randomUUID().toString}"
    val staging = s"${TxnCommit.stagingDir(warehouse, stagingId)}/$table"
    val cdfStaging =
      s"${TxnCommit.stagingDir(warehouse, stagingId)}/_changes/$table"
    // GENERATED columns re-materialize on every rewrite frame (this is
    // the staging funnel all copy-on-write DML passes through):
    // assignments to base columns recompute the generated value in the
    // same commit; untouched rows recompute to their stored value
    // (idempotent), so one hook keeps the invariant everywhere. CDF
    // preimages carry OLD base columns and recompute to the OLD stored
    // value — also idempotent.
    val outG = Generated.materialize(snap, table, out)
    val changesG = Generated.materialize(snap, table, changes)
    // Rewritten data (and CDF rows) land under PHYSICAL names — renames
    // never fork the files' schema; only the META mapping moves.
    val outPhys = mapping.fold(outG)(_.toPhysicalDf(outG))
    val changesPhys = mapping.fold(changesG)(_.toPhysicalDf(changesG))
    // Table-property bloom config: rewrites re-establish the blooms the
    // swapped-out files carried.
    val writer = outPhys.coalesce(math.max(1, affected.size)).write
      .options(snap.bloomWriteOptions(table))
    (if (partCols.isEmpty) writer else writer.partitionBy(partCols: _*))
      .parquet(staging)
    // The CDF write's Observation yields the per-kind row counts — the
    // operation metrics SNAPSHOT HISTORY surfaces — with zero extra jobs
    // (deletes + update preimages = the matched count the Result reports).
    val obs = new org.apache.spark.sql.Observation()
    changesPhys
      .observe(obs,
        count(when(col("_change_type") === "delete", 1)).as("deleted"),
        count(when(col("_change_type") === "update_preimage", 1)).as("updated"),
        count(when(col("_change_type") === "insert", 1)).as("inserted"))
      .coalesce(math.max(1, affected.size)).write.parquet(cdfStaging)
    val deleted = obs.get.apply("deleted").asInstanceOf[Long]
    val updated = obs.get.apply("updated").asInstanceOf[Long]
    val inserted = obs.get.apply("inserted").asInstanceOf[Long]
    val matched = deleted + updated
    val metrics = Map("rows_deleted" -> deleted, "rows_updated" -> updated,
      "rows_inserted" -> inserted)
    val dataMoves = TxnCommit.movesFor(fs, warehouse, stagingId, table)
    val moves = dataMoves ++
      TxnCommit.movesFor(fs, warehouse, stagingId, s"_changes/$table")
    TxnCommit.commit(fs, warehouse, commitId, moves, retained = affected,
      op = "merge", baseVersion = snap.version,
      fileGranularOcc = fileGranularOcc,
      asTable = Some(table), metrics = metrics, txnId = fixedCommitId)
    TxnCommit.publish(fs, warehouse, commitId, moves, retained = affected,
      op = "merge", baseVersion = snap.version,
      fileGranularOcc = fileGranularOcc,
      asTable = Some(table), metrics = metrics, txnId = fixedCommitId)
    // Reap the attempt dir (publish only knows the commitId-named one):
    // the winner's is empty shells, a converged loser's still holds its
    // unpublished parts — both are dead weight either way.
    if (stagingId != commitId)
      fs.delete(new Path(TxnCommit.stagingDir(warehouse, stagingId)), true)
    Result(affected.size, dataMoves.size, matched, candidates)
  }

  private def merge(spark: SparkSession, warehouse: String, table: String,
                    source: DataFrame, keyCols: Seq[String],
                    insertSource: Boolean): Result = {
    val fs = new Path(warehouse)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Additive schema evolution (flag-gated) — before the OCC base so the
    // metadata commits are not "intervening". Delete-by-key sources carry
    // only keys; evolution applies to inserting merges.
    if (insertSource)
      evolveExtraColumns(spark, warehouse, table, fs, source.columns.toSeq)
    // OCC guard: a merge is stale the moment ANY commit touches the table
    // after this read (an intervening append may carry matching keys).
    val snap = pinned(fs, warehouse)
    val meta = snap.files(table)
    // Partitioned tables: read with basePath so the partition column stays
    // in the schema (a partition-blind rewrite would drop it), and write
    // the rewrite back through the same partition layout.
    val partCols = snap.partitionLayout(table)
    // Source and keyCols are LOGICAL; files are physical. Read through the
    // mapping so the join/union see one schema; the commit tail restores
    // physical names on write.
    def readFiles(acts: Seq[Snapshots.Action]): DataFrame =
      dvAwareRead(spark, snap, table, acts)
    val srcKeys = source.select(keyCols.map(col): _*).distinct()
    // Size-routed: a dim-sized source broadcasts (and point-prunes); a
    // fact-sized one plans shuffle joins and keeps envelope pruning only.
    // Probe-cached (released in the finally below).
    val (small, releaseProbe) = sizeRouted(source)
    try {
    // Candidate files by LOG-SIDE stats intersection: a file whose recorded
    // [min,max] on the leading key cannot overlap the update keys' bounds
    // cannot contain a match — skip it without opening anything. Files
    // without stats (pre-stats commits, non-leading layouts) stay
    // candidates; the residual scan below still pushes the bounds to the
    // parquet reader for row-group skipping.
    val bounds = source.agg(min(col(keyCols.head)), max(col(keyCols.head))).head()
    val candidates: Seq[Snapshots.Action] =
      if (meta.isEmpty || bounds.isNullAt(0)) Nil
      else snap.pruned(table,
        keyPrunePred(source, keyCols, bounds, enumerate = small))
    // Affected files by scheme-less FULL path — basenames are NOT unique
    // across a commit's partition dirs, so a name match would rewrite
    // every sibling partition's file. Encoded-form keys (see [[pathKey]]).
    val affectedNames: Set[String] =
      if (candidates.isEmpty) Set.empty
      else readFiles(candidates)
        .filter(col(keyCols.head).between(lit(bounds.get(0)), lit(bounds.get(1))))
        .join(hintIf(small)(srcKeys), keyCols, "left_semi")
        .select(SrcFileCol).distinct()
        .collect().map(_.getString(0)).toSet
    val affected = meta.filter(a => affectedNames(pathKey(a.file)))

    // Delta MERGE errors when several source rows share a key (the same
    // target row would be updated twice, nondeterministically); enforce the
    // same contract up front. Merges are dim-sized by design, so the extra
    // aggregation over the source is cheap.
    if (insertSource) {
      val dup = source.groupBy(keyCols.map(col): _*)
        .agg(org.apache.spark.sql.functions.count(lit(1)).as("_n"))
        .filter(col("_n") > 1).limit(1).collect()
      require(dup.isEmpty, s"merge source has duplicate keys on " +
        s"(${keyCols.mkString(", ")}), e.g. ${dup.head.mkString("[", ",", "]")}" +
        " — deduplicate the source first")
    }
    // Nothing matched and nothing to insert: no commit, no empty data file.
    if (affected.isEmpty && (!insertSource || source.isEmpty))
      return Result(0, 0, 0L, candidates.size)

    // CDF volume is O(source) for key merges; the commit tail still scales
    // its write with the rewrite, and the partition columns travel as
    // ordinary data columns in CDF rows.
    val (out, changes) =
      if (affected.isEmpty) {
        (source, source.withColumn("_change_type", lit("insert")))
      } else {
        val hit = readFiles(affected).drop(SrcFileCol, RowPosCol)
        val preimage = hit.join(hintIf(small)(srcKeys), keyCols, "left_semi")
        val survivors = hit.join(hintIf(small)(srcKeys), keyCols, "left_anti")
        if (insertSource) {
          // hitKeys is bounded by the source's matched keys — same route.
          val hitKeys = preimage.select(keyCols.map(col): _*).distinct()
          val srcMatched = source.join(hintIf(small)(hitKeys), keyCols, "left_semi")
          val srcNew = source.join(hintIf(small)(hitKeys), keyCols, "left_anti")
          (survivors.unionByName(source),
            preimage.withColumn("_change_type", lit("update_preimage"))
              .unionByName(srcMatched.withColumn("_change_type", lit("update_postimage")))
              .unionByName(srcNew.withColumn("_change_type", lit("insert"))))
        } else
          (survivors, preimage.withColumn("_change_type", lit("delete")))
      }
    // deleteKeys depends only on the files it rewrites → file-granular.
    // UPSERT stays table-granular: a concurrent append could land a row
    // with an inserted key, silently breaking the MERGE uniqueness
    // contract — correctness outranks liveness there.
    commitRewrite(fs, snap, table, partCols, out, changes,
      affected.map(_.file), candidates.size,
      fileGranularOcc = !insertSource)
    } finally releaseProbe()
  }

  /** One `WHEN` clause of a general MERGE. For a MATCHED clause,
    * `assigns = Some(col → expr)` is `UPDATE SET col = expr` (expressions
    * may reference `t.<col>` and `s.<col>`) and `assigns = None` is
    * `DELETE`. For a NOT MATCHED clause, `Some` is
    * `INSERT (cols) VALUES (exprs)` (unassigned target columns insert
    * NULL) and `None` is `INSERT *` (same-named source columns).
    * `cond = None` is an unconditional clause. */
  case class WhenClause(cond: Option[org.apache.spark.sql.Column],
                        assigns: Option[Seq[(String, org.apache.spark.sql.Column)]])

  /** General MERGE with conditional and column-level clauses — the full
    * Delta `MERGE INTO t USING s ON t.k = s.k WHEN MATCHED [AND c] THEN
    * UPDATE SET col = expr | DELETE / WHEN NOT MATCHED [AND c] THEN
    * INSERT …` shape, which [[upsert]]/[[deleteKeys]] (star shapes) cannot
    * express. Per MERGE semantics, clauses apply in order: the FIRST
    * matched clause whose condition is true acts on a matched row; a
    * matched row no clause acts on survives unchanged; the first
    * not-matched clause whose condition is true inserts an unmatched
    * source row. A target row matched by several acting source rows is an
    * error (the Delta multi-match contract).
    *
    * Scale shape: candidates come from the source keys' log-stats pruning
    * (point/bloom/minmax — same as [[upsert]]); clause conditions are
    * evaluated in ONE join over the candidates; only files where some
    * clause ACTS are rewritten; the not-matched set anti-joins the
    * matched keys observed in that same join — never a full-table scan.
    * Driver state is O(affected files). */
  /** `notMatchedBySource` clauses (`WHEN NOT MATCHED BY SOURCE [AND c]
    * THEN UPDATE SET … | DELETE`) act on TARGET rows whose key has no
    * source match; their conditions/assignments may reference `t.<col>`
    * only. By semantics they cannot be key-pruned (any file may hold an
    * unmatched row), so supplying one scans the whole table — the same
    * cost Delta pays. */
  /** `sourceKeyCols` (empty = same names as `keyCols`) lets the ON
    * condition pair differently-named columns (`ON t.id = s.customer_id`):
    * keyCols(i) on the target joins sourceKeyCols(i) on the source.
    *
    * `commitId` (None = fresh UUID) makes the merge IDEMPOTENT under that
    * key: a commitId already in the log returns a zero Result without
    * staging anything — the exactly-once handle a `foreachBatch` CDC
    * loop needs (`Some(s"merge-$queryId-$table-$batchId")`, the same
    * convention as the streaming sink's epoch keys).
    *
    * `onResidual` is the ON condition's non-equi remainder (`ON t.k = s.k
    * AND t.dt = '…'` — the partition-scoped merge): matching requires the
    * keys AND the residual, so rows failing it are NOT matched — NOT
    * MATCHED inserts fire for their source rows and NOT MATCHED BY SOURCE
    * clauses act on their target rows, exactly the Delta semantics (scope
    * NMBS clauses with conditions when using a scoping residual). */
  /** `nmbsAntiOn` (None = the default key-equality anti-join) replaces the
    * NOT MATCHED BY SOURCE unmatched-ness condition wholesale: a target
    * row is "unmatched" iff NO source row satisfies it. This is how
    * general `NOT IN` lowers exactly — its three-valued semantics are an
    * anti-join on `AND_i(t.ki = s.ki OR t.ki IS NULL OR s.ki IS NULL)`
    * (strict equalities for correlation conjuncts), which plain key
    * equality cannot express. Conditions reference the `t`/`s` aliases. */
  /** `dedupeMatched = true` keeps ONE arbitrary witness per matched
    * target row instead of enforcing the multi-match contract — sound
    * ONLY when every matched clause's condition and assignments reference
    * `t.<col>` alone (any witness acts identically). This is how
    * EXISTS-derived DML lowers: several subquery rows witnessing one
    * target row is the NORM there, and the action never reads the
    * witness. */
  /** `targetFilter` (None = identity) restricts which TARGET rows may act
    * at all — applied to the candidate read before the pairs join and to
    * the NOT-MATCHED-BY-SOURCE frame before its anti-join. Excluded rows
    * behave as if no clause matched them: they survive rewrites
    * untouched. This is how a multi-conjunct DML condition's SECONDARY
    * IN/NOT IN subqueries lower past the literal-inline cap — each
    * becomes a distributed semi/anti join on its column instead of a
    * driver value list. The filter must be row-REDUCING only (joins,
    * filters); it runs over frames still carrying the engine's internal
    * row-identity columns, which it must pass through untouched. */
  def mergeClauses(spark: SparkSession, warehouse: String, table: String,
                   source: DataFrame, keyCols: Seq[String],
                   matched: Seq[WhenClause],
                   notMatched: Seq[WhenClause],
                   notMatchedBySource: Seq[WhenClause] = Nil,
                   sourceKeyCols: Seq[String] = Nil,
                   commitId: Option[String] = None,
                   onResidual: Option[org.apache.spark.sql.Column] = None,
                   nmbsAntiOn: Option[org.apache.spark.sql.Column] = None,
                   dedupeMatched: Boolean = false,
                   evolveSchema: Boolean = true,
                   targetFilter: Option[DataFrame => DataFrame] = None): Result = {
    import org.apache.spark.sql.functions.{count, lit => flit, when}
    require(matched.nonEmpty || notMatched.nonEmpty ||
        notMatchedBySource.nonEmpty,
      "MERGE needs at least one WHEN clause")
    val srcKeyCols = if (sourceKeyCols.isEmpty) keyCols else sourceKeyCols
    require(srcKeyCols.size == keyCols.size,
      "sourceKeyCols must pair one-to-one with keyCols")
    val fs = new Path(warehouse)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Idempotence: finish any crashed publish first (same order as the
    // streaming sink), then a replayed batch lands nothing — either its
    // commitId is still among the surviving log entries, or the
    // vacuum-exempt applied-txn registry ([[Snapshots.txnApplied]],
    // checkpoint-carried META state every commitId merge records) proves
    // it applied even after [[Snapshots.vacuum]] reaped the entry. The
    // registry is what makes exactly-once survive ANY retention schedule;
    // ad-hoc commitIds without the `<app>-<n>` suffix convention fall
    // back to verbatim membership (see the registry's Scaladoc).
    if (commitId.isDefined) {
      TxnCommit.recover(fs, warehouse)
      if (Snapshots.entries(fs, warehouse)
          .exists(e => commitId.contains(e.commitId)) ||
          commitId.exists(Snapshots.txnApplied(fs, warehouse, _)))
        return Result(0, 0, 0L, 0)
    }
    // Additive schema evolution (flag-gated): only when some clause can
    // MATERIALIZE a new column (an insert or an update assignment) — a
    // delete-only merge must not add an all-null column — and never for
    // internally derived sources (`evolveSchema = false`: EXISTS / NOT IN
    // DML lowerings build sources whose extras are subquery plumbing, not
    // user columns). Without an INSERT * clause, evolution is bounded to
    // columns the clauses actually ASSIGN (the Delta autoMerge stance —
    // an unreferenced extra source column must not grow the table). Runs
    // before the OCC base capture so the metadata commits are not
    // "intervening".
    if (evolveSchema && (notMatched.nonEmpty ||
        (matched ++ notMatchedBySource).exists(_.assigns.isDefined))) {
      val restrictTo =
        if (notMatched.exists(_.assigns.isEmpty)) None // INSERT *
        else Some((matched ++ notMatched ++ notMatchedBySource)
          .flatMap(_.assigns.getOrElse(Nil)).map(_._1).toSet)
      evolveExtraColumns(spark, warehouse, table, fs, source.columns.toSeq,
        excluded = srcKeyCols.zip(keyCols)
          .collect { case (s, t) if s != t => s }.toSet,
        restrictTo = restrictTo)
    }
    val snap = pinned(fs, warehouse)
    val meta = snap.files(table)
    val partCols = snap.partitionLayout(table)
    (matched ++ notMatchedBySource).flatMap(_.assigns.getOrElse(Nil)).map(_._1)
      .foreach(c => require(!partCols.contains(c),
        s"MERGE cannot reassign partition column '$c' (rows would land " +
          "in the wrong directory) — delete + insert instead"))
    requireAssignable(snap, table,
      (matched ++ notMatchedBySource).flatMap(_.assigns.getOrElse(Nil))
        .map(_._1), "MERGE")

    // Size-routed source (see [[broadcastMaxRows]]): broadcast + point
    // pruning when dim-sized, shuffle joins + envelope pruning when not.
    // Probe-cached: a plain-DataFrame source persists across the probe
    // and the body's reuses (released in the tail's finally).
    val (small, releaseProbe) = sizeRouted(source)
    try {
    // Candidate files by log-side stats intersection with the source keys
    // (source values pruned under the TARGET column's name).
    val srcAsTgtKeys = source.select(srcKeyCols.zip(keyCols).map {
      case (s, t) => col(s).as(t) }: _*)
    val bounds =
      srcAsTgtKeys.agg(min(col(keyCols.head)), max(col(keyCols.head))).head()
    val candidates: Seq[Snapshots.Action] =
      if (meta.isEmpty || bounds.isNullAt(0)) Nil
      else snap.pruned(table,
        keyPrunePred(srcAsTgtKeys, keyCols, bounds, enumerate = small))

    val tAll =
      if (candidates.isEmpty) null
      else {
        val raw = dvAwareRead(spark, snap, table, candidates)
        targetFilter.fold(raw)(f => f(raw))
      }
    val dataCols0: Seq[org.apache.spark.sql.types.StructField] =
      snap.schema(spark, table).fields.toSeq
    // A just-evolved column exists in no file yet: the mapped read serves
    // it as a typeless null (NullType), which parquet cannot write and
    // casts cannot target — type it from the source's same-named column.
    val srcTypes = source.schema.fields.map(f => f.name -> f.dataType).toMap
    val dataCols = dataCols0.map(f =>
      if (f.dataType == org.apache.spark.sql.types.NullType)
        srcTypes.get(f.name).map(t => f.copy(dataType = t)).getOrElse(f)
      else f)
    def firstAction(cls: Seq[WhenClause]): org.apache.spark.sql.Column =
      cls.zipWithIndex.foldRight(flit(0)) { case ((cl, i), els) =>
        when(cl.cond.getOrElse(flit(true)), flit(i + 1)).otherwise(els)
      }

    // ONE join evaluates every matched clause's condition; `_m_action` is
    // the 1-based index of the first acting clause (0 = none acts).
    val onCond = keyCols.zip(srcKeyCols).map { case (tk, sk) =>
      col(s"t.$tk") === col(s"s.$sk") }.reduce(_ && _)
    val fullOn = onResidual.fold(onCond)(onCond && _)
    val pairs =
      if (tAll == null) null
      else tAll.alias("t")
        .join(hintIf(small)(source).alias("s"), fullOn, "inner")
    val acted =
      if (pairs == null || matched.isEmpty) null
      else {
        val a0 = pairs.withColumn("_m_action", firstAction(matched))
          .filter(col("_m_action") > 0)
        // One witness per target row on the dedupe route (t-only actions
        // by contract — any witness acts identically).
        val a1 =
          if (!dedupeMatched) a0
          else a0.withColumn("_dd_f", col(s"t.$SrcFileCol"))
            .withColumn("_dd_p", col(s"t.$RowPosCol"))
            .dropDuplicates("_dd_f", "_dd_p").drop("_dd_f", "_dd_p")
        a1.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      }
    // NOT MATCHED BY SOURCE: target rows with no source key match — an
    // anti-join against the (broadcast, dim-sized) source keys; clause
    // conditions see `t.<col>` only. Unmatched-ness itself cannot be
    // key-pruned, but a row no clause CONDITION matches cannot act — so
    // when every NMBS clause is conditional, log-side stats skip files
    // provably outside OR(conditions) (`WHEN NOT MATCHED BY SOURCE AND
    // t.dt = '…' THEN DELETE` scans one partition's files, not 100 TB).
    val nmbsActed =
      if (notMatchedBySource.isEmpty || meta.isEmpty) null
      else {
        val nmbsMeta =
          if (notMatchedBySource.exists(_.cond.isEmpty)) meta
          else {
            // Resolve the t-qualified conditions against an EMPTY frame
            // carrying the table schema — zero file access (a footer read
            // over the full list would defeat the point of pruning) —
            // so FileStats can translate them (same trick as
            // rewriteWhere); untranslatable conditions disable pruning.
            val schemaFrame = spark.createDataFrame(
              new java.util.ArrayList[org.apache.spark.sql.Row](),
              org.apache.spark.sql.types.StructType(dataCols))
            val preds = notMatchedBySource.flatMap(_.cond).map { c =>
              schemaFrame.alias("t").filter(c)
                .queryExecution.analyzed.collectFirst {
                  case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
                    f.condition
                }.flatMap(FileStats.fromExpression)
            }
            if (preds.exists(_.isEmpty)) meta
            else snap.pruned(table,
              preds.flatten.reduce[FileStats.Pred](_.or(_)))
          }
        if (nmbsMeta.isEmpty) null
        else {
          val tRaw =
            dvAwareRead(spark, snap, table, nmbsMeta)
          val tFrame = targetFilter.fold(tRaw)(f => f(tRaw)).alias("t")
          // Without a residual, source keys renamed to the TARGET key
          // names so the usingColumns anti-join drops them and the
          // surviving frame is pure `t`; with one, unmatched-ness is
          // "no pair satisfying keys AND residual" — anti-join the full
          // ON condition (an expression anti-join keeps only t columns).
          val unmatchedT = (nmbsAntiOn, onResidual) match {
            case (Some(cond), _) => // caller-supplied unmatched-ness
              tFrame.join(hintIf(small)(source).alias("s"), cond,
                "left_anti")
            case (None, None) =>
              tFrame.join(hintIf(small)(srcAsTgtKeys.distinct()), keyCols,
                "left_anti")
            case (None, Some(_)) =>
              tFrame.join(hintIf(small)(source).alias("s"), fullOn,
                "left_anti")
          }
          unmatchedT
            .withColumn("_b_action", firstAction(notMatchedBySource))
            .filter(col("_b_action") > 0)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        }
      }
    def run(): Result = {
    val affectedNames: Set[String] =
      (if (acted == null) Set.empty[String]
       else acted.select(col(s"t.$SrcFileCol")).distinct()
         .collect().map(_.getString(0)).toSet) ++
      (if (nmbsActed == null) Set.empty[String]
       else nmbsActed.select(col(s"t.$SrcFileCol")).distinct()
         .collect().map(_.getString(0)).toSet)
    val affected = meta.filter(a => affectedNames(pathKey(a.file)))
    // Delta multi-match contract: a target row several source rows ACT on
    // is nondeterministic — fail before staging anything. (The dedupe
    // route already collapsed witnesses; its actions are t-only.)
    if (acted != null && matched.nonEmpty && !dedupeMatched) {
      val dup = acted.groupBy(col(s"t.$SrcFileCol"), col(s"t.$RowPosCol"))
        .agg(count(flit(1)).as("_n")).filter(col("_n") > 1).limit(1).collect()
      require(dup.isEmpty,
        s"MERGE: multiple source rows act on the same target row " +
          s"(keys ${keyCols.mkString(", ")}) — deduplicate the source")
    }

    // Unmatched source rows: anti-join against the keys seen to MATCH in
    // the pairs join (a matched-but-unacted row still blocks its key from
    // inserting). Keys not in any candidate file cannot match — stats
    // pruning is conservative — so the pairs join's key set IS the
    // matched-key set.
    val inserts: Option[DataFrame] =
      if (notMatched.isEmpty) None
      else {
        val matchedKeys =
          if (pairs == null) null
          else pairs.select(srcKeyCols.map(k =>
            col(s"s.$k").as(k)): _*).distinct()
        val unmatched0 =
          if (matchedKeys == null) source
          else source.join(matchedKeys, srcKeyCols, "left_anti")
        val withAct = unmatched0.alias("s")
          .withColumn("_i_action", firstAction(notMatched))
          .filter(col("_i_action") > 0)
        val branches = notMatched.zipWithIndex.map { case (cl, i) =>
          val sel = withAct.filter(col("_i_action") === i + 1)
          cl.assigns match {
            case None => // INSERT *: same-named source columns
              sel.select(dataCols.map(f =>
                col(s"s.${f.name}").cast(f.dataType).as(f.name)): _*)
            case Some(asg) =>
              val m = asg.toMap
              sel.select(dataCols.map(f =>
                m.get(f.name).fold(flit(null).cast(f.dataType).as(f.name))(
                  _.cast(f.dataType).as(f.name))): _*)
          }
        }
        branches.reduceOption(_.unionByName(_))
      }

    if (affected.isEmpty && inserts.isEmpty)
      return Result(0, 0, 0L, candidates.size)

    // Replacement rows for update clauses; delete clauses contribute
    // nothing to the rewrite (their rows just vanish) but feed the CDF.
    def updateBranchesOf(cls: Seq[WhenClause], df: DataFrame,
                         actionCol: String): Seq[DataFrame] =
      cls.zipWithIndex.collect {
        case (cl, i) if cl.assigns.isDefined =>
          val m = cl.assigns.get.toMap
          df.filter(col(actionCol) === i + 1).select(dataCols.map(f =>
            m.get(f.name).fold(col(s"t.${f.name}"))(identity)
              .cast(f.dataType).as(f.name)): _*)
      }
    val updateBranches =
      (if (acted == null) Nil
       else updateBranchesOf(matched, acted, "_m_action")) ++
      (if (nmbsActed == null) Nil
       else updateBranchesOf(notMatchedBySource, nmbsActed, "_b_action"))
    val replacements = updateBranches.reduceOption(_.unionByName(_))
    val survivors =
      if (affected.isEmpty) None
      else {
        val hit = dvAwareRead(spark, snap, table, affected)
        val actedFrames =
          (if (acted == null) Nil else Seq(acted)) ++
          (if (nmbsActed == null) Nil else Seq(nmbsActed))
        val actedKeys = actedFrames.map(_.select(
          col(s"t.$SrcFileCol").as(SrcFileCol),
          col(s"t.$RowPosCol").as(RowPosCol))).reduce(_.unionByName(_))
        // The cast projection types any just-evolved (NullType) column;
        // identity casts fold away on the common path.
        Some(hit.join(actedKeys, Seq(SrcFileCol, RowPosCol), "left_anti")
          .drop(SrcFileCol, RowPosCol)
          .select(dataCols.map(f =>
            col(f.name).cast(f.dataType).as(f.name)): _*))
      }
    val out = (survivors.toSeq ++ replacements.toSeq ++ inserts.toSeq)
      .reduceOption(_.unionByName(_))
      .getOrElse(spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType(dataCols)))

    // CDF rows: preimages for EVERY acted row (update_preimage / delete by
    // clause kind), postimages for update clauses, inserts as inserts.
    def preimagesOf(cls: Seq[WhenClause], df: DataFrame,
                    actionCol: String): DataFrame = {
      val deleteIdx = cls.zipWithIndex.collect {
        case (cl, i) if cl.assigns.isEmpty => i + 1 }.toSet
      val pre = df.select(dataCols.map(f =>
        col(s"t.${f.name}").cast(f.dataType).as(f.name)) :+ col(actionCol): _*)
      pre.withColumn("_change_type",
        when(col(actionCol).isin(deleteIdx.toSeq.map(Integer.valueOf): _*),
          lit("delete")).otherwise(lit("update_preimage")))
        .drop(actionCol)
    }
    val changeBranches = Seq.newBuilder[DataFrame]
    if (acted != null && matched.nonEmpty)
      changeBranches += preimagesOf(matched, acted, "_m_action")
    if (nmbsActed != null)
      changeBranches += preimagesOf(notMatchedBySource, nmbsActed, "_b_action")
    replacements.foreach(r =>
      changeBranches += r.withColumn("_change_type", lit("update_postimage")))
    inserts.foreach(ins =>
      changeBranches += ins.withColumn("_change_type", lit("insert")))
    val changes = changeBranches.result().reduce(_.unionByName(_))

    // Matched-only merges depend only on the files they rewrite →
    // file-granular OCC; with a NOT MATCHED clause the insert keys'
    // uniqueness depends on the whole table → table-granular.
    commitRewrite(fs, snap, table, partCols, out, changes,
      affected.map(_.file), candidates.size,
      fileGranularOcc = notMatched.isEmpty && notMatchedBySource.isEmpty,
      fixedCommitId = commitId)
    }
    try run() finally {
      if (acted != null) acted.unpersist()
      if (nmbsActed != null) nmbsActed.unpersist()
    }
    } finally releaseProbe()
  }
}
