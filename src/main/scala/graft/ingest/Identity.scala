package graft.ingest

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, monotonically_increasing_id}

/** GENERATED ALWAYS AS IDENTITY columns (the Delta identity-column
  * analog; the reference's own surrogate-key pattern,
  * `huckli-import/src/radio_reward.rs:117`, is the use case): the ENGINE
  * mints the id at write time, and a log-carried high-water mark per
  * column guarantees ids are UNIQUE and MONOTONE across commits — every
  * commit's ids are strictly greater than every earlier commit's.
  *
  * Mechanics:
  *  - [[declare]] records `identity.<col>` as a table property, seeds the
  *    high-water META key (`<table>#idhw#<col>`), and stamps the
  *    `w:identityColumns` WRITER feature — readers serve plain stored
  *    values, but a writer that doesn't maintain the mark would mint
  *    duplicates, so unaware builds are refused at the protocol gate.
  *  - [[appendWithIdentity]] materializes `hw + 1 +
  *    monotonically_increasing_id()` (unique within the write; partition
  *    offsets may leave GAPS, exactly Delta's contract — dense only for
  *    single-partition writes), reads the true max back from the staged
  *    files' stats tokens, and commits data + new high-water mark in ONE
  *    log entry. Crash-recovery replays re-apply the same mark from the
  *    commit manifest; a `commitId` replay after vacuum is caught by the
  *    applied-txn registry — ids are exactly-once under any schedule.
  *  - Allocation serializes writers: the commit carries an OCC base, so a
  *    rival landing between the mark read and the publish aborts this
  *    attempt and it retries with a fresh mark (same serialization Delta
  *    pays on identity metadata). Bounded retries, then the conflict
  *    surfaces.
  *  - Raw appends that do NOT carry the column are rejected at the
  *    TxnCommit gate (null ids must be impossible by construction).
  */
object Identity {

  private def hwKey(table: String, column: String) = s"$table#idhw#$column"

  /** Declared identity columns of `table` (property-driven). */
  def identityColumns(snap: Snapshot, table: String): Seq[String] =
    snap.properties(table).keys.toSeq
      .filter(_.startsWith("identity.")).map(_.stripPrefix("identity."))
      .sorted

  /** The column's current high-water mark (last minted id). */
  def highWaterMark(snap: Snapshot, table: String,
                    column: String): Option[Long] =
    snap.metaValue(hwKey(table, column)).flatMap(_.toLongOption)

  /** Declare `column` GENERATED ALWAYS AS IDENTITY starting at `start`.
    * One metadata commit: property + seeded mark + writer feature. The
    * column must not already exist in committed data (identity is a
    * creation-time property, Delta's stance — a retrofit would leave
    * pre-declaration rows without ids). The checks and the OCC base come
    * from one snapshot. */
  def declare(spark: SparkSession, warehouse: String, table: String,
              column: String, start: Long = 1L): Unit = {
    val snap = Snapshots.snapshot(spark, warehouse)
    require(!snap.files(table).exists(a =>
        FileStats.schemaTags(a.stats).exists(_._1 == column)),
      s"column '$column' already carries data in '$table' — identity is " +
        "declared before the column's first write, not retrofitted")
    require(snap.columnMapping(table)
        .forall(m => m.physicalFor(column) == column),
      s"identity column '$column' must be unmapped (no rename history)")
    Snapshots.append(snap.fs, warehouse, "identity" +
        java.util.UUID.randomUUID().toString.replace("-", ""),
      adds = Nil, removes = Nil, op = "identity", baseVersion = snap.version,
      metas = Seq(
        Snapshots.propsMetaEntry(snap, table,
          Map(s"identity.$column" -> s"always,$start")),
        hwKey(table, column) -> (start - 1L).toString),
      features = Seq(table -> "w:identityColumns"))
  }

  /** High-water-mark META entries for a batch of STAGED files (the
    * streaming sink's per-epoch mark advance): the true per-column max
    * from the staged files' stats tokens, exactly like
    * [[appendWithIdentity]] — handed to the publishing commit so data and
    * mark land in ONE log entry. */
  private[graft] def marksFromStaged(fs: FileSystem, warehouse: String,
                                     table: String, stagedSrcs: Seq[String],
                                     cols: Seq[String])
      : Seq[(String, String)] = {
    val stats = stagedSrcs.flatMap(p =>
      FileStats.decode(FileStats.collect(fs.getConf, new Path(p))))
    cols.map { c =>
      val maxes = stats.flatMap(_.cols.get(c)).map(_.max.toLong)
      // Per-file per-column coverage: EVERY staged file must carry the
      // column's [min,max] token. A token-less file (any block without
      // usable stats) silently dropping from the max would under-advance
      // the mark and later epochs would mint duplicate ids.
      require(maxes.size == stagedSrcs.size,
        s"${stagedSrcs.size - maxes.size} of ${stagedSrcs.size} staged " +
          s"file(s) carry no [min,max] for identity column '$c' — " +
          "cannot advance the high-water mark")
      c -> maxes.max.toString
    }.map { case (c, m) => hwKey(table, c) -> m }
  }

  /** `ALTER TABLE … ALTER COLUMN c SYNC IDENTITY` (Delta parity): re-seed
    * the high-water mark from the MAX stored value over live data, so
    * out-of-band writes that carried explicit ids (raw appends WITH the
    * column pass the TxnCommit gate — e.g. migrations, CLONE-then-load)
    * can't collide with the next engine-minted id. Metadata-only: the
    * max comes from the log's exact per-file [min,max] stats tokens —
    * ZERO file reads, zero jobs (the same tokens the append path trusts).
    * Stats-max is ≥ the live-row max under deletion vectors, which only
    * widens the safety margin. OCC-guarded like allocation itself; the
    * mark never regresses. Returns the mark after the sync. */
  def syncIdentity(fs: FileSystem, warehouse: String, table: String,
                   column: String): Long =
    syncIdentity(fs, warehouse, table, column, () => ())

  /** [[syncIdentity]] with a post-scan hook — the deterministic test seam
    * for the stats-scan→publish race window (a raw append with explicit
    * ids landed by the hook must abort the sync). */
  private[graft] def syncIdentity(fs: FileSystem, warehouse: String,
                                  table: String, column: String,
                                  scanDone: () => Unit): Long = {
    require(identityColumns(Snapshots.snapshot(fs, warehouse), table)
        .contains(column),
      s"'$column' is not a declared identity column of '$table'")
    // The no-advance answer must be as race-proof as the advancing one:
    // with no commit to carry the OCC guard, a raw append landing between
    // the stats scan and the return would go unreconciled — so a
    // no-advance verdict is only returned when the log provably did not
    // move AGAINST THIS TABLE during the scan; otherwise rescan against
    // fresh stats. Two precision points: the log's identity is the top
    // entry's (version, commitId) PAIR — a zombie swap can re-land a
    // different commit at the same version number — and movement is
    // TABLE-scoped, so a busy warehouse committing to other tables can't
    // livelock the sync. Bounded: genuine contention on this table
    // surfaces as the same conflict the advancing path throws.
    def topId(): Option[(Long, String)] =
      Snapshots.entries(fs, warehouse).filterNot(_.isCheckpoint)
        .lastOption.map(e => (e.version, e.commitId))
    var spins = 0
    while (true) {
      val top0 = topId()
      // The mark, the stats scan and the OCC base: one snapshot.
      val snap = Snapshots.snapshot(fs, warehouse)
      val cur = highWaterMark(snap, table, column).getOrElse(0L)
      val maxes = snap.files(table).flatMap(a => FileStats.decode(a.stats))
        .flatMap { st =>
          // A live file that predates the column (or lacks its stats)
          // cannot carry ids — only files that STORE the column count, and
          // for those the [min,max] token must exist or the sync is
          // unprovable.
          if (!st.schema.exists(_._1 == column)) None
          else Some(st.cols.get(column).map(_.max.toLong).getOrElse(
            throw new IllegalStateException(
              s"a live file of '$table' stores '$column' without a " +
                "[min,max] stats token — SYNC IDENTITY cannot prove the " +
                "max without reading data; OPTIMIZE the table first")))
        }
      scanDone()
      val synced = (cur +: maxes).max
      if (synced > cur) {
        // The conflict scope includes the DATA TABLE (`occTables`), not
        // just the high-water pseudo-key: a raw append carrying explicit
        // ids that lands between the stats scan above and this commit —
        // the exact out-of-band write SYNC IDENTITY exists to reconcile —
        // emits no `#idhw#` line, so only conflicting on the table itself
        // makes the sync abort and the caller retry against fresh stats.
        Snapshots.append(fs, warehouse, "idsync" +
            java.util.UUID.randomUUID().toString.replace("-", ""),
          adds = Nil, removes = Nil, op = "syncIdentity",
          baseVersion = snap.version,
          occTables = Set(table),
          metas = Seq(hwKey(table, column) -> synced.toString))
        return synced
      }
      val top1 = topId()
      if (top1 == top0) return synced // quiescent scan: verdict proven
      val tableMoved = top1.exists { case (v1, _) =>
        // Same version number with a different commitId = a zombie swap
        // whose content is unknowable from the range read — conservative.
        top0.forall { case (v0, _) => v1 == v0 } ||
          Snapshots.addsInRange(fs, warehouse, table,
            top0.map(_._1).getOrElse(-1L), v1).exists(_._3.nonEmpty)
      }
      if (!tableMoved) return synced // the movers were other tables
      spins += 1
      if (spins >= 64)
        throw new Snapshots.ConcurrentCommitException(
          s"SYNC IDENTITY on '$table.$column' could not get a quiescent " +
            "stats view after 64 rescans — the table is under concurrent " +
            "writes; retry when the writers drain")
      // This table moved mid-scan: the mover may carry ids above the mark.
    }
    0L // unreachable
  }

  /** Append `df` minting the table's identity column(s). `df` must NOT
    * contain them (GENERATED ALWAYS — user-supplied values are an error,
    * the Delta semantics). `commitId` makes the append exactly-once under
    * replays, like merges and sink epochs. Returns the number of rows
    * appended (0 for a recognized replay). */
  def appendWithIdentity(spark: SparkSession, warehouse: String,
                         table: String, df: DataFrame,
                         commitId: Option[String] = None): Long = {
    val fs = new Path(warehouse)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val idCols = identityColumns(Snapshots.snapshot(fs, warehouse), table)
    require(idCols.nonEmpty,
      s"table '$table' has no declared identity column ([[declare]])")
    idCols.foreach(c => require(!df.columns.contains(c),
      s"GENERATED ALWAYS: the write must not supply identity column '$c'"))
    val cid = commitId.getOrElse(java.util.UUID.randomUUID().toString)
    var attempt = 0
    while (true) {
      attempt += 1
      TxnCommit.recover(fs, warehouse)
      if (commitId.isDefined &&
          (Snapshots.entries(fs, warehouse).exists(_.commitId == cid) ||
            Snapshots.txnApplied(fs, warehouse, cid)))
        return 0L // replay: the batch already landed, ids already minted
      // The marks, the table's layout and config, and the OCC base: one
      // snapshot per attempt.
      val snap = Snapshots.snapshot(fs, warehouse)
      val base = snap.version
      val marks = idCols.map(c => c ->
        highWaterMark(snap, table, c).getOrElse(0L)).toMap
      // Attempt-scoped staging (the zombie-vs-retry discipline every
      // replay-keyed path uses).
      val stagingId = s"$cid-a-${java.util.UUID.randomUUID().toString}"
      val staging = s"${TxnCommit.stagingDir(warehouse, stagingId)}/$table"
      val withIds = idCols.foldLeft(df)((d, c) =>
        d.withColumn(c, lit(marks(c) + 1L) + monotonically_increasing_id()))
      // Tables carrying BOTH engine-managed kinds: this is the one legal
      // append path, so it also materializes the generated expressions
      // (which may never reference identity columns — banned at declare,
      // so the order is immaterial).
      val gens = Generated.generatedColumns(snap, table)
      gens.foreach { case (c, _) => require(!df.columns.contains(c),
        s"GENERATED ALWAYS: the write must not supply generated column '$c'") }
      val withAll = gens.foldLeft(withIds) { case (d, (c, e)) =>
        d.withColumn(c, org.apache.spark.sql.functions.expr(e)) }
      // Honor the table's partition layout and declared blooms, exactly
      // like [[Generated.appendGenerated]] — otherwise appends to a
      // partitioned identity table land unpartitioned files (reads stay
      // correct via mixed-layout handling, but pruning and blooms are
      // lost for those files).
      val partCols = snap.partitionLayout(table)
      idCols.foreach(c => require(!partCols.contains(c),
        s"identity column '$c' cannot be a partition column — the " +
          "high-water mark advances from file stats, which partition " +
          "values don't carry"))
      val writer = withAll.write
        .options(Snapshots.bloomOptions(snap.properties(table), None))
      (if (partCols.isEmpty) writer else writer.partitionBy(partCols: _*))
        .parquet(staging)
      val moves = TxnCommit.movesFor(fs, warehouse, stagingId, table)
      if (moves.isEmpty) { // empty batch: nothing to mint
        fs.delete(new Path(TxnCommit.stagingDir(warehouse, stagingId)), true)
        return 0L
      }
      // The TRUE per-column max comes from the staged files' stats tokens
      // (footer-derived) — not from re-evaluating a possibly
      // non-deterministic plan.
      val stats = moves.flatMap(m =>
        FileStats.decode(FileStats.collect(fs.getConf, new Path(m.src))))
      val newMarks = idCols.map { c =>
        val maxes = stats.flatMap(_.cols.get(c)).map(_.max)
        // Per-file coverage, as in [[marksFromStaged]]: one token per
        // staged file or the epoch fails — a partial max is a duplicate
        // factory.
        require(maxes.size == moves.size,
          s"${moves.size - maxes.size} of ${moves.size} staged file(s) " +
            s"carry no [min,max] for identity column '$c' — cannot " +
            "advance the high-water mark")
        c -> maxes.map(_.toLong).max
      }
      val rows = stats.map(_.rows).sum
      try {
        // Coarse OCC (baseVersion): ANY commit landing on this table
        // between the mark read and this publish conflicts — allocation
        // is serialized, duplicates are impossible.
        TxnCommit.commit(fs, warehouse, cid, moves,
          baseVersion = base, txnId = commitId,
          metas = newMarks.map { case (c, m) => hwKey(table, c) -> m.toString })
        TxnCommit.publish(fs, warehouse, cid, moves,
          baseVersion = base, txnId = commitId,
          metas = newMarks.map { case (c, m) => hwKey(table, c) -> m.toString })
        fs.delete(new Path(TxnCommit.stagingDir(warehouse, stagingId)), true)
        return rows
      } catch {
        case _: Snapshots.ConcurrentCommitException if attempt < 8 =>
          fs.delete(new Path(TxnCommit.stagingDir(warehouse, stagingId)), true)
        // attempt 8 rethrows — the contention is real, surface it
      }
    }
    0L // unreachable
  }
}
