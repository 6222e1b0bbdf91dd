package graft.ingest

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.{FileCatalog, FrameSource}
import Tables._

/** Checkpointing (K4/K5): a `files_processed` parquet table in the
  * warehouse, appended after each successful ingest batch; resume reads
  * max(file_timestamp) per prefix — the reference's only relational query
  * (huckli-db/src/lib.rs:32-56).
  */
object Checkpoint {
  val TableName = "files_processed"

  /** This run's checkpoint rows as a dataset (staged through [[TxnCommit]]
    * so data and checkpoint become visible atomically). */
  def batch(spark: SparkSession, files: Seq[FileCatalog.FileInfo]): Dataset[FileProcessed] = {
    implicit val enc = Encoders.product[FileProcessed]
    val now = new Timestamp(System.currentTimeMillis())
    spark.createDataset(files.map(f =>
      FileProcessed(f.key, f.prefix, new Timestamp(f.timestamp_ms), now)))
  }

  /** The checkpoint rows live at `snap`, read under the declared schema
    * (footer inference would add a job on a new warehouse) minus deletion
    * vectors. None before the first checkpoint commit. Reading the log's
    * files, not the directory, keeps restored-away and uncommitted files
    * out. */
  private def rows(spark: SparkSession, snap: Snapshot): Option[DataFrame] = {
    val acts = snap.files(TableName)
    if (acts.isEmpty) None
    else Some(Snapshots.applyDv(spark,
      spark.read.schema(graft.types.Schemas.filesProcessed)
        .parquet(acts.map(_.file): _*), acts))
  }

  private def latest(spark: SparkSession, warehouse: String): Snapshot =
    Snapshots.snapshot(new org.apache.hadoop.fs.Path(warehouse)
      .getFileSystem(spark.sparkContext.hadoopConfiguration), warehouse)

  /** The subset of `listed` not yet checkpointed, via a broadcast semi-join:
    * the listed batch (small, bounded by one run) is broadcast as the BUILD
    * side of a `left_semi` against the checkpoint table — a broadcast hint
    * on the left of a `left_anti` would be ignored (LeftAnti only builds on
    * the right) and plan a sort-merge join shuffling the whole checkpoint
    * history. The semi-join streams the history past the broadcast batch, so
    * driver memory and shuffled bytes are O(batch) — not O(every file ever
    * ingested) after years of incremental runs. Listing order is preserved. */
  def unprocessed(spark: SparkSession, warehouse: String, prefix: String,
                  listed: Seq[FileCatalog.FileInfo]): Seq[FileCatalog.FileInfo] =
    unprocessed(spark, latest(spark, warehouse), prefix, listed)

  private[ingest] def unprocessed(spark: SparkSession, snap: Snapshot,
                                  prefix: String,
                                  listed: Seq[FileCatalog.FileInfo])
      : Seq[FileCatalog.FileInfo] =
    if (listed.isEmpty) listed
    else rows(spark, snap).fold(listed) { cp =>
      import spark.implicits._
      val listedDf = listed.map(_.key).toDF("file_name")
      val done = cp.filter(col("prefix") === prefix).select("file_name")
      val already = done.join(broadcast(listedDf), Seq("file_name"), "left_semi")
        .distinct().collect().map(_.getString(0)).toSet
      listed.filterNot(f => already.contains(f.key))
    }

  /** K5: latest processed file timestamp for a prefix (epoch ms), as a
    * max() aggregate — the scalable plan for `ORDER BY ts DESC LIMIT 1`. */
  def latestMs(spark: SparkSession, warehouse: String, prefix: String): Option[Long] =
    latestMs(spark, latest(spark, warehouse), prefix)

  private[ingest] def latestMs(spark: SparkSession, snap: Snapshot,
                               prefix: String): Option[Long] =
    rows(spark, snap).flatMap(_.filter(col("prefix") === prefix)
      .agg(max(unix_millis(col("file_timestamp"))))
      .collect().headOption.flatMap(r => Option(r.get(0)).map(_.asInstanceOf[Long])))
}

/** O1: the type-dispatch registry — fileType → (prefix, table builder).
  * Each spec turns the raw frame stream into its output tables; demux specs
  * decode once, cache, and project per table (D1/D2/D3/D5).
  */
sealed trait IngestSpec {
  def prefix: String
  def tables(frames: Dataset[FrameSource.RawFrame]): IngestSpec.Output
  /** Output tables that land DATE-PARTITIONED (SURVEY §7.5): each listed
    * table gains a derived `dt` partition column — the UTC day of the
    * source FILE's embedded timestamp (ingest batches are time-bunched,
    * so the file day is the natural prune axis) — and its staged batch is
    * written Hive-partitioned by it. The commit path records the `dt=`
    * tuple on every ADD line, so date-range reads prune partitions from
    * the LOG and maintenance (OPTIMIZE/VACUUM) can scope to days — the
    * only maintenance shape that works at 100 TB. Flat by default. */
  def datePartitioned: Set[String] = Set.empty
}

object IngestSpec {
  /** One batch's output tables. A demux spec's projections all read one
    * cached decode, `shared`, which belongs to this call alone: the caller
    * unpersists it once the batch's writes are over, failed or not. */
  final case class Output(tables: Map[String, DataFrame],
                          shared: Option[Dataset[_]] = None)
}

object IngestSpecs {
  import scala.reflect.runtime.universe.TypeTag

  /** Generic single-table spec for flat record types (17 of 20 reference
    * types follow this shape — SURVEY §3.1). `partitioned = true` lands the
    * table day-partitioned (`dt` from the source file's timestamp) — declared
    * on the high-volume feeds where date-scoped reads and maintenance are
    * the only shapes that work at 100 TB; low-volume feeds stay flat (daily
    * slivers would just be a small-file factory). */
  final case class FlatSpec[T <: Product : TypeTag](
      prefix: String, table: String, decodeFn: FrameSource.RawFrame => T,
      partitioned: Boolean = false) extends IngestSpec {
    override def datePartitioned: Set[String] =
      if (partitioned) Set(table) else Set.empty
    def tables(frames: Dataset[FrameSource.RawFrame]): IngestSpec.Output = {
      implicit val enc = Encoders.product[T]
      IngestSpec.Output(Map(table -> FrameSource.decoded(frames, decodeFn).toDF()))
    }
  }

  case object VerifiedSpeedtestSpec extends IngestSpec {
    val prefix = "verified_speedtest"
    override def datePartitioned: Set[String] = Set("verified_speedtest_report")
    def tables(frames: Dataset[FrameSource.RawFrame]): IngestSpec.Output = {
      implicit val enc = Encoders.product[VerifiedSpeedtestReport]
      IngestSpec.Output(Map("verified_speedtest_report" ->
        FrameSource.decoded(frames, Flatten.speedtest).toDF()))
    }
  }

  case object MobileRewardsSpec extends IngestSpec {
    val prefix = "mobile_network_reward_shares_v1"
    // The heaviest feed at 100 TB: every output table (parents AND
    // exploded children) lands day-partitioned so maintenance and
    // date-range reads scope to single days.
    override def datePartitioned: Set[String] = Set(
      "mobile_gateway_rewards", "mobile_subscriber_rewards",
      "mobile_service_provider_rewards", "mobile_unallocated_rewards",
      "mobile_promotion_rewards", "mobile_radio_rewards",
      "mobile_reward_trust_scores", "mobile_reward_speedtests",
      "mobile_reward_covered_hexes")
    def tables(frames: Dataset[FrameSource.RawFrame]): IngestSpec.Output = {
      implicit val enc = Encoders.product[MobileShareFlat]
      // Decode ONCE, cache, then 9 filtered projections (D1+D3). At cluster
      // scale the cache bounds re-decode cost; each projection is a narrow
      // scan of the cached partitions.
      val shares = FrameSource.decoded(frames, Flatten.mobileShare).cache()
      val epoch = Seq(col("start_period"), col("end_period"))
      def arm(name: String, inner: String) =
        shares.filter(col("arm") === name)
          .select(epoch ++ Seq(col(s"$inner.*"), col("file_source")): _*)
      val radio = shares.filter(col("arm") === "radio")
      val radioParent = radio.select(
        col("radio.id").as("id"), col("start_period"), col("end_period"),
        col("radio.hotspot_key"), col("radio.base_coverage_points_sum"),
        col("radio.boosted_coverage_points_sum"), col("radio.base_reward_shares"),
        col("radio.boosted_reward_shares"), col("radio.base_poc_reward"),
        col("radio.boosted_poc_reward"), col("radio.seniority_timestamp"),
        col("radio.coverage_object"), col("radio.location_trust_score_multiplier"),
        col("radio.speedtest_multiplier"), col("radio.sp_boosted_hex_status"),
        col("radio.oracle_boosted_hex_status"), col("radio.speedtest_avg_upload"),
        col("radio.speedtest_avg_download"), col("radio.speedtest_avg_latency_ms"),
        col("radio.speedtest_avg_timestamp"), col("file_source"))
      def child(childCol: String) =
        radio.select(col("radio.id").as("id"),
            explode(col(s"radio.$childCol")).as("c"), col("file_source"))
          .select(col("id"), col("c.*"), col("file_source"))
      IngestSpec.Output(Map(
        "mobile_gateway_rewards" -> arm("gateway", "gateway"),
        "mobile_subscriber_rewards" -> arm("subscriber", "subscriber"),
        "mobile_service_provider_rewards" -> arm("service_provider", "service_provider"),
        "mobile_unallocated_rewards" -> arm("unallocated", "unallocated"),
        "mobile_promotion_rewards" -> arm("promotion", "promotion"),
        "mobile_radio_rewards" -> radioParent,
        "mobile_reward_trust_scores" -> child("location_trust_scores"),
        "mobile_reward_speedtests" -> child("speedtests"),
        "mobile_reward_covered_hexes" -> child("covered_hexes")), Some(shares))
    }
  }

  case object IotRewardsSpec extends IngestSpec {
    val prefix = "iot_network_reward_shares_v1"
    override def datePartitioned: Set[String] = Set(
      "iot_gateway_rewards", "iot_operational_rewards",
      "iot_unallocated_rewards")
    def tables(frames: Dataset[FrameSource.RawFrame]): IngestSpec.Output = {
      implicit val enc = Encoders.product[IotShareFlat]
      val shares = FrameSource.decoded(frames, Flatten.iotShare).cache()
      def arm(name: String, inner: String) =
        shares.filter(col("arm") === name)
          .select(col("start_period"), col("end_period"), col(s"$inner.*"), col("file_source"))
      IngestSpec.Output(Map(
        "iot_gateway_rewards" -> arm("gateway", "gateway"),
        "iot_operational_rewards" -> arm("operational", "operational"),
        "iot_unallocated_rewards" -> arm("unallocated", "unallocated")), Some(shares))
    }
  }

  case object CoverageSpec extends IngestSpec {
    val prefix = "coverage_object"
    override def datePartitioned: Set[String] =
      Set("coverage_object", "coverage_location")
    def tables(frames: Dataset[FrameSource.RawFrame]): IngestSpec.Output = {
      implicit val enc = Encoders.product[CoverageObjectFlat]
      val objs = FrameSource.decoded(frames, Flatten.coverage).cache()
      IngestSpec.Output(Map(
        "coverage_object" -> objs.select(col("radio_key"), col("radio_type"),
          col("uuid"), col("coverage_claim_time"), col("indoor"), col("file_source")),
        "coverage_location" -> objs
          .select(col("uuid"), explode(col("locations")).as("l"), col("file_source"))
          .select(col("uuid"), col("l.*"), col("file_source"))), Some(objs))
    }
  }

  /** The dispatch registry (O1, huckli-import/src/lib.rs:39-137) — all 20
    * reference file types. Bucket names are deployment config, not code;
    * the prefix is the behavioral binding. */
  val registry: Map[String, IngestSpec] = Map(
    "verified-speedtest" -> VerifiedSpeedtestSpec,
    "mobile-rewards" -> MobileRewardsSpec,
    "iot-rewards" -> IotRewardsSpec,
    "coverage-objects" -> CoverageSpec,
    "data-transfer" -> FlatSpec("data_transfer_session_ingest_report",
      "data_transfer_ingest_report", MoreFlatten.dataTransferIngest,
      partitioned = true),
    "verified-data-transfer" -> FlatSpec("verified_data_transfer_session",
      "verified_data_transfer_ingest_report", MoreFlatten.verifiedDataTransfer,
      partitioned = true),
    "data-transfer-burn" -> FlatSpec("valid_data_transfer_session",
      "data_transfer_burn", MoreFlatten.dataTransferBurn, partitioned = true),
    "verified-wifi-heartbeat" -> FlatSpec("validated_heartbeat",
      "verified_wifi_heartbeat", MoreFlatten.verifiedWifiHeartbeat,
      partitioned = true),
    "wifi-heartbeat-ingest" -> FlatSpec("wifi_heartbeat_report",
      "wifi_heartbeat_ingest_report", MoreFlatten.wifiHeartbeatIngest,
      partitioned = true),
    "boosted-hex-update" -> FlatSpec("boosted_hex_update",
      "boosted_hex_update", MoreFlatten.boostedHexUpdate),
    "subscriber-activity-ingest" -> FlatSpec("subscriber_mapping_activity_ingest_report",
      "subscriber_mapping_activity_ingest", MoreFlatten.subscriberActivityIngest,
      partitioned = true),
    "verified-subscriber-activity" -> FlatSpec("verified_subscriber_mapping_activity_report",
      "verified_subscriber_mapping_activity", MoreFlatten.verifiedSubscriberActivity,
      partitioned = true),
    "verified-radio-threshold" -> FlatSpec("verified_radio_threshold_report",
      "verified_radio_threshold", MoreFlatten.verifiedRadioThreshold),
    "verified-invalidated-radio-threshold" ->
      FlatSpec("verified_invalidated_radio_threshold_report",
        "verified_invalidated_radio_threshold", MoreFlatten.verifiedInvalidatedThreshold),
    "verified-cdr-verification" ->
      FlatSpec("verified_service_provider_boosted_rewards_banned_radio",
        "verified_cdr_verification", MoreFlatten.verifiedCdrVerification),
    "verified-unique-connections" -> FlatSpec("verified_unique_connections_report",
      "verified_unique_connections", MoreFlatten.verifiedUniqueConnections),
    "enabled-carriers-info" -> FlatSpec("enabled_carriers_report",
      "enabled_carriers_info", MoreFlatten.enabledCarriersInfo),
    "radio-usage-stats" -> FlatSpec("radio_usage_stats_ingest_report",
      "radio_usage_stats", MoreFlatten.radioUsageStats, partitioned = true),
    "radio-usage-stats-v2" -> FlatSpec("radio_usage_stats_ingest_report_v2",
      "radio_usage_stats_v2", MoreFlatten.radioUsageStatsV2, partitioned = true),
    "mobile-reward-manifest" -> FlatSpec("network_reward_manifest_v1",
      "mobile_reward_manifest", MoreFlatten.rewardManifest))
}

/** File-selection arguments (O4/O5, huckli-import/src/lib.rs:240-300).
  * `force` bypasses the idempotent-replay guard (the reference always
  * re-ingests an explicit --file target; we default to skipping processed
  * files and let --force opt into the at-least-once re-ingest). */
case class FileSelection(afterMs: Option[Long] = None, beforeMs: Option[Long] = None,
                         continue: Boolean = false, file: Option[String] = None,
                         force: Boolean = false) {
  /** O4 (lib.rs:253-263). */
  def validate(): Unit = {
    require(!(continue && afterMs.isDefined),
      "Invalid options, cannot specify both 'continue' and 'after'")
    require(!(file.isDefined && beforeMs.isDefined),
      "Invalid options, cannot specify 'before' with 'file'")
  }
}

object IngestJob {

  case class Result(files: Seq[FileCatalog.FileInfo], rowCounts: Map[String, Long])

  /** Run one ingest: list+prune (S1–S5, O5 resume) → frames (S6–S8) →
    * decode+flatten (S9/S10, T1–T10) → demux/unnest (D1–D5) → staged parquet
    * batches (K2) + checkpoint batch (K4), published atomically via
    * [[TxnCommit]].
    *
    * The reference appends data then checkpoint non-atomically — at-least-
    * once on crash between them (SURVEY §3.1). Here every table batch AND
    * the checkpoint are staged first and land together behind one manifest
    * commit: a crash at any point either publishes nothing (re-run
    * re-processes) or is completed by recovery before the next run reads the
    * checkpoint — exactly-once row counts either way.
    */
  def run(spark: SparkSession, inputDir: String, warehouse: String,
          fileType: String, selection: FileSelection = FileSelection()): Result = {
    selection.validate()
    val spec = IngestSpecs.registry.getOrElse(fileType,
      throw new IllegalArgumentException(s"unknown file type: $fileType"))
    val fs = new org.apache.hadoop.fs.Path(warehouse)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Finish any crashed publish BEFORE reading the checkpoint, so "file
    // recorded as processed" always implies "its rows are visible".
    TxnCommit.recover(fs, warehouse)
    // One snapshot, taken after recovery, serves the checkpoint reads and
    // every writer's table config.
    val snap = Snapshots.snapshot(fs, warehouse)
    val after = if (selection.continue) {
      Some(Checkpoint.latestMs(spark, snap, spec.prefix).getOrElse(
        throw new IllegalStateException("Cannot continue, no previously processed files")))
    } else selection.afterMs
    val listed = selection.file match {
      case Some(f) => FileCatalog.single(spark, f)
      case None => FileCatalog.list(spark, inputDir, spec.prefix, after, selection.beforeMs)
    }
    // Idempotent replay: a crash between data-append and checkpoint-append
    // leaves the file unrecorded; re-running would duplicate its rows (the
    // reference is at-least-once here, SURVEY §3.1). Skipping files already
    // checkpointed makes re-runs exactly-once at file granularity; the
    // anti-join guard keeps driver memory O(this batch), not O(history).
    // A plain `continue` listing needs no guard: it admits only files whose
    // basename timestamp is > latestMs (exclusive, FileCatalog.list), while
    // every checkpointed key of this prefix was recorded with the timestamp
    // parsed from that same basename, which is ≤ latestMs by definition. No
    // listed key can be checkpointed, so the semi-join could drop nothing.
    // `afterMs`, `file` and plain runs can list checkpointed keys and keep it.
    val files =
      if (selection.force || (selection.continue && selection.file.isEmpty)) listed
      else Checkpoint.unprocessed(spark, snap, spec.prefix, listed)
    // An explicit --file that the guard filtered out is surprising ("processed
    // 0 files") — say why, and how to override.
    if (selection.file.isDefined && listed.nonEmpty && files.isEmpty)
      System.err.println(
        s"skipping already-processed file ${listed.head.key} (use --force to re-ingest)")
    if (files.isEmpty) return Result(Seq.empty, Map.empty)
    val frames = FrameSource.frames(spark, files)
    val batch = spec.tables(frames)
    val commitId = java.util.UUID.randomUUID().toString
    val staging = TxnCommit.stagingDir(warehouse, commitId)
    // Derived `dt` partition value: UTC day of the source file's embedded
    // epoch-millis (the filename's metadata timestamp riding `file_source`
    // lineage) — a per-row codegen'd expression, no join, no driver map.
    // Emitted as the ISO STRING the Hive path segment carries, so log-side
    // partition tuples prune lexically (ISO order = date order).
    // Derivation mirrors FileCatalog.parse EXACTLY — basename first (the
    // full URI can carry dot-digit spans in a host `hdfs://10.0.0.1:8020`
    // or a dotted bucket `s3a://data.2023`), then the same unanchored
    // first-match `{name}.{digits}` search the catalog admits files by
    // (comma-quirk class included) — so every listed file derives the SAME
    // timestamp it was listed/checkpointed under, never a null or second-
    // guessed dt.
    def dtCol = {
      val base = element_at(split(col("file_source"), "/"), -1)
      val ms = regexp_extract(base, "[a-z\\d_,]+\\.(\\d+)", 1).cast("long")
      date_format(date_add(to_date(lit("1970-01-01")),
        floor(ms / 86400000L).cast("int")), "yyyy-MM-dd")
    }
    // One write wave: every table and the checkpoint batch stage to their
    // own dirs as concurrent Spark jobs, so executors serve them together
    // instead of one table after another. Writers (with the table's bloom
    // options and column mapping) are built here, on the calling thread;
    // only the write actions run on the pool. A demux spec's projections
    // share one cached decode: concurrent jobs reaching a cached partition
    // wait on its block lock rather than decode it twice. Row counts come
    // from the commit's stats tokens, so no job counts a table.
    try {
      val writes = batch.tables.toSeq.map { case (name, df) =>
        val out = if (spec.datePartitioned(name)) df.withColumn("dt", dtCol) else df
        // Table-property bloom config (`bloom.columns`): ingested files
        // carry the same point-lookup blooms DML rewrites re-establish.
        val writer = out.write.mode(SaveMode.Overwrite)
          .options(snap.bloomWriteOptions(name))
        val staged = if (spec.datePartitioned(name)) writer.partitionBy("dt") else writer
        () => staged.parquet(s"$staging/$name")
      } :+ {
        val cp = Checkpoint.batch(spark, files).write.mode(SaveMode.Overwrite)
        () => cp.parquet(s"$staging/${Checkpoint.TableName}")
      }
      runAll(writes)
    } finally batch.shared.foreach(_.unpersist())
    val moves = (batch.tables.keys.toSeq :+ Checkpoint.TableName)
      .flatMap(t => TxnCommit.movesFor(fs, warehouse, commitId, t))
    val statsFor = TxnCommit.commit(fs, warehouse, commitId, moves) // ← the atomic commit point
    // THIS run's rows per table (not a re-scan of the live table), from its
    // staged files' stats tokens; 0 when it staged no file. A file without
    // a readable token (never a Spark-written one) makes its table fall back
    // to one count over its staged dir, which publish has not yet moved.
    val counts = batch.tables.keys.map { t =>
      val dests = moves.map(_.dest).filter(d => TxnCommit.tableOf(d) == t)
      t -> TxnCommit.tokenRows(statsFor, dests)
        .getOrElse(spark.read.parquet(s"$staging/$t").count())
    }.toMap
    TxnCommit.publish(fs, warehouse, commitId, moves)
    Result(files, counts)
  }

  /** Run every action at once, one daemon thread per action
    * (`graft-ingest-write-<n>`), wait for ALL of them, then rethrow the
    * first failure (later ones suppressed). Threads start inside this call,
    * so they inherit the caller's Spark local properties (job group,
    * scheduler pool); the pool is gone when this returns. */
  private def runAll(actions: Seq[() => Unit]): Unit = {
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(actions.size, { r =>
      val t = new Thread(r, s"graft-ingest-write-${n.incrementAndGet()}")
      t.setDaemon(true)
      t
    })
    try {
      val futures = actions.map(a => pool.submit(new Runnable { def run(): Unit = a() }))
      val failures = futures.flatMap { f =>
        try { f.get(); None }
        catch { case e: java.util.concurrent.ExecutionException => Some(e.getCause) }
      }
      failures.headOption.foreach { first =>
        failures.tail.foreach(first.addSuppressed)
        throw first
      }
    } finally {
      pool.shutdown()
      pool.awaitTermination(Long.MaxValue, java.util.concurrent.TimeUnit.NANOSECONDS)
    }
  }
}
