package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.ingest.Flatten
import graft.ingest.Tables.VerifiedSpeedtestReport
import graft.sources.FrameSource.RawFrame

/** Structured Streaming operators: watermarked windowed aggregation,
  * sessionization, custom keyed state, and a streaming variant of the
  * reference's file ingest (the natural replacement for its `--continue`
  * checkpoint loop — SURVEY §3.3: the file source + checkpointLocation give
  * exactly-once ingestion natively).
  */
object StreamingOps {

  case class Event(event_id: Long, ts: Timestamp, user_id: Long,
                   event_type: String, value: Double)

  /** Tumbling-window aggregate with a watermark: late events beyond the
    * delay are dropped, windows finalize in append mode. */
  def tumblingCounts(events: DataFrame, watermarkDelay: String = "10 minutes",
                     windowLen: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("sum_value"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("cnt"), col("sum_value"))

  /** Sliding-window variant. */
  def slidingCounts(events: DataFrame, watermarkDelay: String = "10 minutes",
                    windowLen: String = "1 hour", slide: String = "15 minutes"): DataFrame =
    events.withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowLen, slide), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("win_start"), col("event_type"), col("cnt"))

  /** Session windows (gap-based) per user with watermark. */
  def sessionCounts(events: DataFrame, watermarkDelay: String = "10 minutes",
                    gap: String = "30 minutes"): DataFrame =
    events.withWatermark("ts", watermarkDelay)
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("cnt"))
      .select(col("user_id"), col("session_window.start").as("sess_start"), col("cnt"))

  case class UserStat(user_id: Long, n_events: Long, total_value: Double)

  /** Custom keyed state via mapGroupsWithState: a running per-user counter
    * that survives across micro-batches (the arbitrary-state upgrade path
    * for logic window functions can't express). */
  def runningUserStats(events: Dataset[Event]): Dataset[UserStat] = {
    implicit val statEnc = Encoders.product[UserStat]
    implicit val longEnc = Encoders.scalaLong
    events.groupByKey(_.user_id)
      .mapGroupsWithState[UserStat, UserStat](GroupStateTimeout.NoTimeout) {
        (userId: Long, batch: Iterator[Event], state: GroupState[UserStat]) =>
          val prev = state.getOption.getOrElse(UserStat(userId, 0L, 0.0))
          val (n, v) = batch.foldLeft((prev.n_events, prev.total_value)) {
            case ((cn, cv), e) => (cn + 1, cv + e.value)
          }
          val updated = UserStat(userId, n, math.rint(v * 100) / 100)
          state.update(updated)
          updated
      }
  }

  /** Commit one micro-batch into a [[graft.ingest.TxnCommit]] warehouse
    * table, exactly-once under batch replays: Spark re-runs a foreachBatch
    * with the same batchId after a crash-before-offset-commit, and the
    * snapshot log's commitId is the dedup key — a replayed batch whose
    * commit already published is skipped entirely; one that crashed
    * mid-publish is finished by recovery before the skip-check runs. This is
    * the streaming writer the snapshot table format implies: readers switch
    * batches atomically via the log, never observing a half-landed trigger. */
  def commitBatch(df: org.apache.spark.sql.DataFrame, warehouse: String,
                  table: String, batchId: Long): Unit =
    commitBatch(df, warehouse, table, batchId, Nil)

  /** [[commitBatch]] whose log version also carries `metas`. */
  private[graft] def commitBatch(df: org.apache.spark.sql.DataFrame,
                                 warehouse: String, table: String,
                                 batchId: Long,
                                 metas: Seq[(String, String)]): Unit = {
    import graft.ingest.{Snapshots, TxnCommit}
    val spark = df.sparkSession
    val fs = new org.apache.hadoop.fs.Path(warehouse)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    TxnCommit.recover(fs, warehouse) // finish any crashed publish first
    val commitId = s"stream-$table-$batchId"
    if (Snapshots.entries(fs, warehouse).exists(_.commitId == commitId) ||
        Snapshots.txnApplied(fs, warehouse, commitId)) return
    // Identity tables: the engine mints the ids — route through the
    // allocation path under the SAME epoch commitId, so the stream keeps
    // exactly-once (a crash-replayed trigger re-finds the commitId and
    // mints nothing) and ids stay monotone across epochs.
    if (graft.ingest.Identity.identityColumns(fs, warehouse, table).nonEmpty) {
      graft.ingest.Identity.appendWithIdentity(spark, warehouse, table, df,
        commitId = Some(commitId))
      // Engine-managed appends stage under the table's own k=v partition
      // layout, which this caller doesn't see — Set.empty means ALL specs
      // are eligible (Set("") would match only layout-era unpartitioned
      // files and the hook would silently never fire for partitioned
      // tables). Threshold gating keeps untouched partitions no-ops.
      graft.ingest.Compaction.autoCompact(spark, warehouse, table, Set.empty)
      return
    }
    // Generated tables: the engine materializes the expressions — same
    // exactly-once epoch key, same discipline as identity.
    if (graft.ingest.Generated.generatedColumns(fs, warehouse, table)
        .nonEmpty) {
      graft.ingest.Generated.appendGenerated(spark, warehouse, table, df,
        commitId = Some(commitId))
      // Set.empty (all specs), same reason as the identity branch above.
      graft.ingest.Compaction.autoCompact(spark, warehouse, table, Set.empty)
      return
    }
    // Each ATTEMPT stages into its own dir: a zombie driver and its
    // restart replaying the same batchId must never interleave part files
    // in one staging dir. The manifest's put-if-absent on the batch's
    // commitId is the arbitration point — first committer wins, the rival
    // converges by publishing the winner's manifest.
    val stagingId = s"$commitId-a-${java.util.UUID.randomUUID().toString}"
    val staging = TxnCommit.stagingDir(warehouse, stagingId)
    df.write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(s"$staging/$table")
    val moves = TxnCommit.movesFor(fs, warehouse, stagingId, table)
    TxnCommit.commit(fs, warehouse, commitId, moves, txnId = Some(commitId),
      metas = metas)
    TxnCommit.publish(fs, warehouse, commitId, moves, txnId = Some(commitId),
      metas = metas)
    fs.delete(new org.apache.hadoop.fs.Path(staging), true)
    // Post-commit auto-compaction (table-property-gated, off by default;
    // best-effort, under its own commit — the epoch already published).
    graft.ingest.Compaction.autoCompact(spark, warehouse, table, Set(""))
  }

  /** writeStream half: `ds` → transactional warehouse table via
    * [[commitBatch]] under the stream's own checkpoint. */
  def transactionalSink[T](ds: Dataset[T], warehouse: String, table: String,
                           checkpointDir: String,
                           trigger: org.apache.spark.sql.streaming.Trigger =
                             org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    ds.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch((batch: Dataset[T], batchId: Long) =>
        commitBatch(batch.toDF(), warehouse, table, batchId))
      .trigger(trigger)
      .start()

  /** Streaming ingest of reference-format files through the `huckli-frames`
    * DSv2 source (MICRO_BATCH_READ): each trigger lists only keys past the
    * committed high-water file timestamp (the StartAfter analog), plans one
    * partition per new file, and the readers stream gunzip→frame — no
    * whole-object materialization, identical to the batch path. The stream's
    * checkpointLocation replaces the files_processed table with exactly-once
    * semantics. */
  def speedtestStream(spark: SparkSession, dir: String,
                      prefix: String = "verified_speedtest"): Dataset[VerifiedSpeedtestReport] = {
    implicit val enc = Encoders.product[VerifiedSpeedtestReport]
    implicit val rawEnc = Encoders.product[RawFrame]
    spark.readStream
      .format("huckli-frames")
      .option("path", dir)
      .option("prefix", prefix)
      .load()
      .as[RawFrame]
      .mapPartitions { it =>
        it.flatMap { raw =>
          try Some(Flatten.speedtest(raw))
          catch { case _: Exception => None } // S10: drop record, continue
        }
      }
  }
}
