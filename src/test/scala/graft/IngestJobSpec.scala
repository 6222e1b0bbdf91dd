package graft

import java.io.FileOutputStream
import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.codec.Framing
import graft.ingest.{FileSelection, IngestJob}
import graft.proto.Messages
import graft.proto.Messages._
import graft.sources.FileCatalog

/** End-to-end ingest conformance: fabricate reference-format `.gz` fixtures
  * (FIXTURES.md §B) → run IngestJob → assert routing counts, explode
  * cardinalities, checkpoint behavior, resume, and corrupt-record drops. */
class IngestJobSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var dir: Path = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("ingest-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    dir = Files.createTempDirectory("graft-ingest")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def writeFixture(name: String, frames: Seq[Array[Byte]], in: Path = dir): Unit = {
    val out = new FileOutputStream(in.resolve(name).toFile)
    try Framing.writeGzipFrames(out, frames) finally out.close()
  }

  private def wh(name: String): String = dir.resolve(name).toString

  test("filename parse + pruning (S2/S3/S4)") {
    val fi = FileCatalog.parse("verified_speedtest.1700000000123.gz")
    assert(fi.contains(FileCatalog.FileInfo(
      "verified_speedtest.1700000000123.gz", "verified_speedtest", 1700000000123L)))
    assert(FileCatalog.parse("no-timestamp-here").isEmpty)
  }

  test("nested date-partitioned listing: directory-level pruning + after/before") {
    val base = Files.createTempDirectory("graft-list")
    def touch(rel: String): Unit = {
      val p = base.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.write(p, Array.emptyByteArray)
    }
    touch("dt=2023-11-14/verified_speedtest.1699930000000.gz") // == after → excluded
    touch("dt=2023-11-15/verified_speedtest.1700010000000.gz")
    touch("2023-11-16/verified_speedtest.1700100000000.gz")    // bare-date dir form
    touch("dt=2023-11-15/other_prefix.1700010000001.gz")       // wrong prefix
    // dir date far out of range but the file ts inside IS in range: partition
    // pruning must never list this day, so the file cannot appear
    touch("dt=2020-01-01/verified_speedtest.1700020000000.gz")
    touch("misc/verified_speedtest.1700030000000.gz")          // non-date dir: not entered
    touch("verified_speedtest.1700050000000.gz")               // flat root file still works

    val got = FileCatalog.list(spark, base.toString, "verified_speedtest",
      afterMs = Some(1699930000000L), beforeMs = Some(1700101000000L))
    assert(got.map(_.timestamp_ms) ==
      Seq(1700010000000L, 1700050000000L, 1700100000000L))
    // day-range maths: dt= and bare forms parse; garbage does not
    assert(FileCatalog.dirDayRange("dt=2023-11-14").contains(
      (1699920000000L, 1700006399999L)))
    assert(FileCatalog.dirDayRange("2023-11-14").isDefined)
    assert(FileCatalog.dirDayRange("part-0001").isEmpty)
  }

  test("ordered-store mixed layout: dt= dirs sorting after the prefix block still scanned") {
    val base = Files.createTempDirectory("graft-list-ordered")
    def touch(rel: String): Unit = {
      val p = base.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.write(p, Array.emptyByteArray)
    }
    // Lexicographic root order: coverage_object.* < cz_marker.* < dt=2023-11-15.
    // The cz_marker file ends the `coverage_object.` block, so an ordered scan
    // goes past-file-block BEFORE reaching the dt= dir — the regression was
    // stopping the WHOLE scan there and silently dropping the partitioned
    // day's in-range files. (Created in sorted order for listing determinism.)
    touch("coverage_object.1700000001000.gz")
    touch("coverage_object.1700000002000.gz")
    touch("cz_marker.1700000003000.gz")
    touch("dt=2023-11-15/coverage_object.1700010000000.gz")
    sys.props("graft.test.assumeOrdered") = "true"
    try {
      val got = FileCatalog.list(spark, base.toString, "coverage_object",
        afterMs = Some(1700000000000L), beforeMs = Some(1700020000000L))
      assert(got.map(_.timestamp_ms) ==
        Seq(1700000001000L, 1700000002000L, 1700010000000L))
      // upper-bound early stop (before < both root files) must also keep
      // scanning directories
      val bounded = FileCatalog.list(spark, base.toString, "coverage_object",
        afterMs = None, beforeMs = Some(1700000001000L))
      assert(bounded.map(_.timestamp_ms) == Seq(1700000001000L))
    } finally sys.props.remove("graft.test.assumeOrdered")
    // unordered fallback finds the same set
    val unordered = FileCatalog.list(spark, base.toString, "coverage_object",
      afterMs = Some(1700000000000L), beforeMs = Some(1700020000000L))
    assert(unordered.map(_.timestamp_ms) ==
      Seq(1700000001000L, 1700000002000L, 1700010000000L))
  }

  test("verified speedtest: flat ingest end-to-end (t1 smoke)") {
    def st(i: Int) = Messages.VerifiedSpeedtest.encode(VerifiedSpeedtest(
      Some(SpeedtestIngest(Some(SpeedtestReq(
        pubKey = Array.tabulate[Byte](33)(b => (b + i).toByte), serial = s"serial-$i",
        timestamp = 1700000000L + i,            // seconds regime
        uploadSpeed = 1000L * i, downloadSpeed = 2000L * i, latency = 10 + i)),
        receivedTimestamp = 1700000100000L + i)), // millis regime (mixed on purpose)
      timestamp = 1700000200L + i, result = i % 3))
    writeFixture("verified_speedtest.1700000001000.gz", (0 until 5).map(st))
    writeFixture("verified_speedtest.1700000002000.gz", (5 until 8).map(st))

    val res = IngestJob.run(spark, dir.toString, wh("wh1"), "verified-speedtest")
    assert(res.files.size == 2)
    assert(res.rowCounts("verified_speedtest_report") == 8)

    val df = spark.read.parquet(s"${wh("wh1")}/verified_speedtest_report")
    assert(df.count() == 8)
    val row = df.filter(df("serial") === "serial-1").collect().head
    assert(row.getAs[java.sql.Timestamp]("timestamp").getTime == (1700000000L + 1) * 1000)
    assert(row.getAs[java.sql.Timestamp]("received_timestamp").getTime == 1700000100000L + 1)
    assert(row.getAs[String]("result") == "SPEEDTEST_RESULT_TOO_SLOW")
    assert(row.getAs[String]("hotspot_key").nonEmpty)
    assert(row.getAs[String]("file_source").endsWith("verified_speedtest.1700000001000.gz"))

    // checkpoint written (K4) + readable (K5)
    val cp = spark.read.parquet(s"${wh("wh1")}/files_processed")
    assert(cp.count() == 2)
    assert(graft.ingest.Checkpoint.latestMs(spark, wh("wh1"), "verified_speedtest")
      .contains(1700000002000L))
  }

  test("incremental resume (O5): --continue ingests only newer files") {
    def st(i: Int) = Messages.VerifiedSpeedtest.encode(VerifiedSpeedtest(
      Some(SpeedtestIngest(Some(SpeedtestReq(Array[Byte](1), s"r$i", 1700000000L,
        1, 2, 3)), 1700000000L)), 1700000000L, 0))
    writeFixture("verified_speedtest.1700000003000.gz", Seq(st(100)))
    val res2 = IngestJob.run(spark, dir.toString, wh("wh1"), "verified-speedtest",
      FileSelection(continue = true))
    assert(res2.files.map(_.timestamp_ms) == Seq(1700000003000L))
    assert(spark.read.parquet(s"${wh("wh1")}/verified_speedtest_report").count() == 9)
    // continue ∧ after is invalid (O4)
    intercept[IllegalArgumentException] {
      FileSelection(continue = true, afterMs = Some(1L)).validate()
    }
    intercept[IllegalArgumentException] {
      FileSelection(file = Some("x.1.gz"), beforeMs = Some(1L)).validate()
    }
  }

  test("date-partitioned ingest: dt= tuples on ADD lines, log-side pruning, scoped OPTIMIZE") {
    // The verified_speedtest spec declares a dt layout (SURVEY §7.5): each
    // staged batch lands Hive-partitioned by the UTC day of the source
    // FILE's embedded timestamp, the commit records dt= tuples on its ADD
    // lines, date-range reads prune from the LOG, and maintenance scopes
    // to single days — the only OPTIMIZE shape that works at 100 TB.
    val in = Files.createTempDirectory("graft-ingest-part")
    def fixture(name: String, n: Int): Unit = {
      def st(i: Int) = Messages.VerifiedSpeedtest.encode(VerifiedSpeedtest(
        Some(SpeedtestIngest(Some(SpeedtestReq(Array[Byte](1), s"p$i",
          1700000000L, 1, 2, 3)), 1700000000L)), 1700000000L, 0))
      val out = new FileOutputStream(in.resolve(name).toFile)
      try Framing.writeGzipFrames(out, (0 until n).map(st)) finally out.close()
    }
    // Two files on 2023-11-14 (separate runs → two parquet files in one
    // partition, so the scoped compact has something to pack) and one on
    // 2023-11-16.
    fixture("verified_speedtest.1700000001000.gz", 3) // 2023-11-14 UTC
    val w = wh("whPartIngest")
    val r1 = IngestJob.run(spark, in.toString, w, "verified-speedtest")
    fixture("verified_speedtest.1700000002000.gz", 2) // 2023-11-14 UTC
    val r2 = IngestJob.run(spark, in.toString, w, "verified-speedtest",
      FileSelection(continue = true))
    fixture("verified_speedtest.1700100000000.gz", 4) // 2023-11-16 UTC
    val r3 = IngestJob.run(spark, in.toString, w, "verified-speedtest",
      FileSelection(continue = true))
    assert(Seq(r1, r2, r3).map(_.rowCounts("verified_speedtest_report"))
      == Seq(3L, 2L, 4L), "demux counts unchanged by the layout")

    val fs = new org.apache.hadoop.fs.Path(w)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    import graft.ingest.{Compaction, Snapshots}
    val meta = Snapshots.snapshot(fs, w).files("verified_speedtest_report")
    assert(meta.size == 3)
    assert(meta.map(_.partition).sorted ==
      Seq("dt=2023-11-14", "dt=2023-11-14", "dt=2023-11-16"),
      s"ADD lines must carry the dt tuple: ${meta.map(_.partition)}")

    // Log-side partition pruning: a date-range readWhere plans ONLY the
    // matching day's files, and the dt column serves back.
    import org.apache.spark.sql.functions.col
    val day2 = Snapshots.readWhere(spark, w, "verified_speedtest_report",
      col("dt") >= "2023-11-15")
    assert(day2.inputFiles.length == 1, s"planned ${day2.inputFiles.length}")
    assert(day2.count() == 4)
    // (dt serves back DATE-typed — Spark's partition type inference on
    // the ISO path segment; compare canonically.)
    assert(day2.select("dt").distinct().collect().map(_.get(0).toString).toSeq
      == Seq("2023-11-16"))

    // Partition-scoped OPTIMIZE reaches the ingested table: pack only
    // 2023-11-14 (2 files → 1), leave 2023-11-16 untouched.
    Compaction.compact(spark, w, "verified_speedtest_report",
      partitionFilter = m => m.get("dt").contains("2023-11-14"))
    val after = Snapshots.snapshot(fs, w).files("verified_speedtest_report")
    assert(after.count(_.partition == "dt=2023-11-14") == 1, after.toString)
    assert(after.count(_.partition == "dt=2023-11-16") == 1)
    val all = Snapshots.read(spark, w, "verified_speedtest_report")
    assert(all.count() == 9)
    assert(all.filter(col("dt") === "2023-11-14").count() == 5)
  }

  test("dt derivation anchors on the FILENAME timestamp, not the first dot-digits in the URI") {
    // file_source is the fully-qualified URI: a dotted directory (or an
    // hdfs://host.with.digits authority) puts dot-digit spans BEFORE the
    // filename's `{prefix}.{epoch_ms}.gz`. An unanchored first-match
    // regex would extract those (ms=2023 → dt=1970-01-01) and silently
    // land every row in a garbage partition.
    val root = Files.createTempDirectory("graft-ingest-dotted")
    val in = root.resolve("in.2023.5")
    Files.createDirectories(in)
    def st(i: Int) = Messages.VerifiedSpeedtest.encode(VerifiedSpeedtest(
      Some(SpeedtestIngest(Some(SpeedtestReq(Array[Byte](1), s"p$i",
        1700000000L, 1, 2, 3)), 1700000000L)), 1700000000L, 0))
    val out = new FileOutputStream(
      in.resolve("verified_speedtest.1700000001000.gz").toFile)
    try Framing.writeGzipFrames(out, (0 until 3).map(st)) finally out.close()
    // A suffix-less key the catalog ALSO admits (parse is an unanchored
    // search): dt must derive the same timestamp the file was listed
    // under, not null out on a missing .gz tail.
    val out2 = new FileOutputStream(
      in.resolve("verified_speedtest.1700100000000").toFile) // 2023-11-16
    try Framing.writeFrames(out2, Seq(st(9))) finally out2.close()
    val w = wh("whDottedIngest")
    IngestJob.run(spark, in.toString, w, "verified-speedtest")
    val fs = new org.apache.hadoop.fs.Path(w)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val meta = graft.ingest.Snapshots.snapshot(fs, w).files("verified_speedtest_report")
    assert(meta.map(_.partition).sorted == Seq("dt=2023-11-14", "dt=2023-11-16"),
      s"dotted input dir corrupted the dt derivation: ${meta.map(_.partition)}")
  }

  test("mobile rewards: 6-way demux routing + child explode cardinalities (D1/D3/D4)") {
    val shares = Seq(
      MobileRewardShare(1700000000L, 1700003600L, GatewayArm(Array[Byte](1), 10, 20, 30)),
      MobileRewardShare(1700000000L, 1700003600L, GatewayArm(Array[Byte](2), 11, 21, 31)),
      MobileRewardShare(1700000000L, 1700003600L,
        SubscriberArm(Array.tabulate[Byte](16)(_.toByte), 5, 6, "override-key")),
      MobileRewardShare(1700000000L, 1700003600L, ServiceProviderArm(1, 99, "sp-key")),
      MobileRewardShare(1700000000L, 1700003600L, UnallocatedArm(2, 7)),
      MobileRewardShare(1700000000L, 1700003600L, PromotionArm("promo", 1, 2)),
      MobileRewardShare(1700000000L, 1700003600L, DeprecatedArm),
      MobileRewardShare(1700000000L, 1700003600L, RadioArm(
        hotspotKey = Array[Byte](3, 4), baseCoveragePointsSum = Some("100.5"),
        boostedCoveragePointsSum = Some("200.25"), baseRewardShares = None,
        boostedRewardShares = Some("garbage-not-a-decimal"), basePocReward = 1000,
        boostedPocReward = 2000, seniorityTimestamp = 1700000000L,
        coverageObject = Array.tabulate[Byte](16)(i => (15 - i).toByte),
        locationTrustScoreMultiplier = Some("0.9"), speedtestMultiplier = Some("1.0"),
        spBoostedHexStatus = 0, oracleBoostedHexStatus = 1,
        speedtestAverage = Some(SpeedtestAvgMsg(111, 222, 33, 1700000500L)),
        locationTrustScores = Seq(TrustScoreMsg(10, Some("0.8")), TrustScoreMsg(20, None)),
        speedtests = Seq(RadioSpeedtestMsg(1, 2, 3, 1700000000L)),
        coveredHexes = Seq.tabulate(3)(i => CoveredHexMsg(100L + i, Some("1.5"), None,
          0, 1, 2, Some("1.0"), i, Some("0.5"), 2, i % 2 == 0)))))
    writeFixture("mobile_network_reward_shares_v1.1700000001000.gz",
      shares.map(Messages.MobileRewardShare.encode))

    val res = IngestJob.run(spark, dir.toString, wh("wh2"), "mobile-rewards")
    assert(res.rowCounts("mobile_gateway_rewards") == 2)
    assert(res.rowCounts("mobile_subscriber_rewards") == 1)
    assert(res.rowCounts("mobile_service_provider_rewards") == 1)
    assert(res.rowCounts("mobile_unallocated_rewards") == 1)
    assert(res.rowCounts("mobile_promotion_rewards") == 1)
    assert(res.rowCounts("mobile_radio_rewards") == 1) // Deprecated arm dropped
    assert(res.rowCounts("mobile_reward_trust_scores") == 2)
    assert(res.rowCounts("mobile_reward_speedtests") == 1)
    assert(res.rowCounts("mobile_reward_covered_hexes") == 3)

    val radio = spark.read.parquet(s"${wh("wh2")}/mobile_radio_rewards").collect().head
    assert(radio.getAs[Double]("base_coverage_points_sum") == 100.5)
    assert(radio.getAs[Double]("boosted_reward_shares") == 0.0) // T5 default
    assert(radio.getAs[String]("coverage_object") == "0f0e0d0c-0b0a-0908-0706-050403020100")
    val id = radio.getAs[String]("id")
    val hexes = spark.read.parquet(s"${wh("wh2")}/mobile_reward_covered_hexes")
    assert(hexes.filter(hexes("id") === id).count() == 3) // FK propagated (D4)
    val sub = spark.read.parquet(s"${wh("wh2")}/mobile_subscriber_rewards").collect().head
    assert(sub.getAs[String]("subscriber_id") == "00010203-0405-0607-0809-0a0b0c0d0e0f")
    // Every demux output — parents and exploded children — lands
    // day-partitioned (the source file's day: 2023-11-14 UTC).
    val fsW = new org.apache.hadoop.fs.Path(wh("wh2"))
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq("mobile_radio_rewards", "mobile_reward_covered_hexes",
      "mobile_gateway_rewards").foreach { t =>
      val parts = graft.ingest.Snapshots.snapshot(fsW, wh("wh2")).files(t).map(_.partition)
      assert(parts.nonEmpty && parts.forall(_ == "dt=2023-11-14"),
        s"$t partitions: $parts")
    }
  }

  test("iot rewards: 3-way demux (D2)") {
    val shares = Seq(
      IotRewardShare(1700000000L, 1700003600L, IotGatewayArm(Array[Byte](1), 1, 2, 3)),
      IotRewardShare(1700000000L, 1700003600L, IotOperationalArm(42)),
      IotRewardShare(1700000000L, 1700003600L, IotOperationalArm(43)),
      IotRewardShare(1700000000L, 1700003600L, IotUnallocatedArm(0, 9)),
      IotRewardShare(1700000000L, 1700003600L, IotDeprecatedArm))
    writeFixture("iot_network_reward_shares_v1.1700000001000.gz",
      shares.map(Messages.IotRewardShare.encode))
    val res = IngestJob.run(spark, dir.toString, wh("wh3"), "iot-rewards")
    assert(res.rowCounts("iot_gateway_rewards") == 1)
    assert(res.rowCounts("iot_operational_rewards") == 2)
    assert(res.rowCounts("iot_unallocated_rewards") == 1)
  }

  test("coverage: key coalesce + location unnest (D5/T7)") {
    val objs = Seq(
      CoverageObjectV1(HotspotKey(Array[Byte](1, 2, 3)), Array.tabulate[Byte](16)(_.toByte),
        1700000000L, indoor = true,
        Seq(CoverageLocationMsg("hexA", 2, -80), CoverageLocationMsg("hexB", 3, -70))),
      CoverageObjectV1(CbsdId("cbsd-7"), Array.tabulate[Byte](16)(i => (i + 1).toByte),
        1700000001L, indoor = false, Seq(CoverageLocationMsg("hexC", 1, -95))))
    writeFixture("coverage_object.1700000001000.gz",
      objs.map(Messages.CoverageObjectV1.encode))
    val res = IngestJob.run(spark, dir.toString, wh("wh4"), "coverage-objects")
    assert(res.rowCounts("coverage_object") == 2)
    assert(res.rowCounts("coverage_location") == 3)
    val co = spark.read.parquet(s"${wh("wh4")}/coverage_object")
    assert(co.filter(co("radio_type") === "wifi").count() == 1)
    assert(co.filter(co("radio_type") === "cbrs").collect().head
      .getAs[String]("radio_key") == "cbsd-7")
  }

  test("corrupt record is dropped, valid records survive (S10)") {
    def st(i: Int) = Messages.VerifiedSpeedtest.encode(VerifiedSpeedtest(
      Some(SpeedtestIngest(Some(SpeedtestReq(Array[Byte](1), s"ok$i", 1700000000L,
        1, 2, 3)), 1700000000L)), 1700000000L, 0))
    // middle frame is valid framing but garbage proto → decode drop;
    // a speedtest with no inner report → flatten drop
    val noReport = Messages.VerifiedSpeedtest.encode(
      VerifiedSpeedtest(None, 1700000000L, 0))
    writeFixture("verified_speedtest.1700000004000.gz",
      Seq(st(1), Array[Byte](-1, -1, -1, -1, -1, -1, -1), noReport, st(2)))
    val res = IngestJob.run(spark, dir.toString, wh("wh5"), "verified-speedtest",
      FileSelection(afterMs = Some(1700000003000L)))
    assert(res.rowCounts("verified_speedtest_report") == 2)
  }

  test("DDL generation (K1) covers the catalog with reference-style types") {
    val ddl = graft.types.Schemas.ddl("verified_speedtest_report")
    assert(ddl.startsWith("CREATE TABLE IF NOT EXISTS verified_speedtest_report"))
    assert(ddl.contains("hotspot_key TEXT NOT NULL"))
    assert(ddl.contains("timestamp timestamptz NOT NULL"))
    assert(ddl.contains("upload_speed bigint NOT NULL"))
    assert(ddl.contains("latency int32 NOT NULL"))
    assert(graft.types.Schemas.catalog.size >= 16)
    assert(graft.types.Schemas.ddl("mobile_reward_covered_hexes")
      .contains("service_provider_override bool NOT NULL"))
  }

  test("flat types: boosted hex (T8 first-element), threshold coalesce (T7), carrier arrays (T9)") {
    import graft.proto.DynMessage.b
    // boosted_hex_update: update msg with 2 multipliers and with none
    val bh1 = b.i64(1, 1700000000L).msg(2, b.i64(1, 631210968L).i64(2, 1700000000L)
      .i64(3, 1700003600L).i32(4, 720).i64(5, 3L).i64(5, 9L).i32(6, 2)).toBytes
    val bh2 = b.i64(1, 1700000001L).msg(2, b.i64(1, 631210969L).i64(2, 1700000000L)
      .i64(3, 1700003600L).i32(4, 720).i32(6, 2)).toBytes
    writeFixture("boosted_hex_update.1700000001000.gz", Seq(bh1, bh2))
    val res = IngestJob.run(spark, dir.toString, wh("wh6"), "boosted-hex-update")
    assert(res.rowCounts("boosted_hex_update") == 2)
    val rows = spark.read.parquet(s"${wh("wh6")}/boosted_hex_update")
      .orderBy("location").collect()
    assert(rows(0).getAs[Int]("multiplier") == 3)  // first element wins
    assert(rows(1).getAs[Int]("multiplier") == 0)  // missing -> default 0

    // verified_radio_threshold: pubkey present vs empty (cbsd fallback)
    def thr(pk: Array[Byte], cbsd: String) = b.msg(1, b.msg(1,
        b.bytes(1, pk).str(2, cbsd).i64(3, 1000L).i32(4, 5).i64(5, 1700000000L))
      .i64(2, 1700000100L)).i64(2, 1700000200L).i32(3, 0).toBytes
    writeFixture("verified_radio_threshold_report.1700000001000.gz",
      Seq(thr(Array[Byte](1, 2), "cbsd-x"), thr(Array.emptyByteArray, "cbsd-y")))
    val res2 = IngestJob.run(spark, dir.toString, wh("wh6"), "verified-radio-threshold")
    assert(res2.rowCounts("verified_radio_threshold") == 2)
    val keys = spark.read.parquet(s"${wh("wh6")}/verified_radio_threshold")
      .select("radio_key").collect().map(_.getString(0)).toSet
    assert(keys.contains("cbsd-y"))
    assert(keys.exists(_ != "cbsd-y")) // base58 of the pubkey

    // enabled_carriers_info: repeated enums -> string arrays
    val eci = b.msg(1, b.bytes(1, Array[Byte](7)).i64(2, 0L).i64(2, 1L).i64(3, 1L)
      .str(4, "fw-1.2").i64(5, 1700000000123L)).i64(2, 1700000000200L).toBytes
    writeFixture("enabled_carriers_report.1700000001000.gz", Seq(eci))
    val res3 = IngestJob.run(spark, dir.toString, wh("wh6"), "enabled-carriers-info")
    assert(res3.rowCounts("enabled_carriers_info") == 1)
    val e = spark.read.parquet(s"${wh("wh6")}/enabled_carriers_info").collect().head
    assert(e.getAs[scala.collection.Seq[String]]("enabled_carriers").toSeq ==
      Seq("CARRIER_ID_UNKNOWN", "CARRIER_ID_HELIUM_MOBILE"))
    assert(e.getAs[java.sql.Timestamp]("timestamp_ms").getTime == 1700000000123L)

    // radio_usage_stats: repeated message -> typed array
    val us = b.msg(1, b.bytes(1, Array[Byte](8)).i64(2, 1700000000L).i64(3, 1700003600L)
        .i64(4, 10L).i64(5, 11L).i64(6, 12L).i64(7, 100L).i64(8, 200L).i64(9, 1700000000L)
        .msg(10, b.i32(1, 1).i64(2, 555L).i64(3, 3L))
        .msg(10, b.i32(1, 0).i64(2, 777L).i64(3, 4L)))
      .i64(2, 1700000100L).toBytes
    writeFixture("radio_usage_stats_ingest_report.1700000001000.gz", Seq(us))
    val res4 = IngestJob.run(spark, dir.toString, wh("wh6"), "radio-usage-stats")
    assert(res4.rowCounts("radio_usage_stats") == 1)
    val u = spark.read.parquet(s"${wh("wh6")}/radio_usage_stats").collect().head
    val xfers = u.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("carrier_transfer")
    assert(xfers.size == 2)
    assert(xfers.map(_.getAs[Long]("transfer_bytes")).toSet == Set(555L, 777L))
  }

  test("registry covers all 20 reference file types (O1)") {
    assert(graft.ingest.IngestSpecs.registry.size == 20)
    assert(graft.types.Schemas.catalog.size >= 30)
    // every flat spec's table has a schema in the catalog
    graft.ingest.IngestSpecs.registry.values.foreach {
      case graft.ingest.IngestSpecs.FlatSpec(_, table, _, _) =>
        assert(graft.types.Schemas.catalog.contains(table), table)
      case _ => ()
    }
  }

  test("DuckDB view catalog (--db interop): one view per live warehouse table") {
    val sql = graft.types.Schemas.writeDuckDbCatalog(spark, wh("wh1"))
    assert(sql.contains("CREATE OR REPLACE VIEW verified_speedtest_report AS"))
    assert(sql.contains("CREATE OR REPLACE VIEW files_processed AS"))
    assert(sql.contains("read_parquet"))
    assert(!sql.contains("_staging") && !sql.contains("_commits"))
    assert(Files.exists(dir.resolve("wh1").resolve("catalog.sql")))
  }

  test("atomic commit: crash mid-publish is repaired on re-run — exactly-once counts") {
    val objs = Seq(
      CoverageObjectV1(HotspotKey(Array[Byte](9)), Array.tabulate[Byte](16)(_.toByte),
        1700000000L, indoor = true,
        Seq(CoverageLocationMsg("hexX", 2, -80), CoverageLocationMsg("hexY", 3, -70))),
      CoverageObjectV1(CbsdId("cbsd-9"), Array.tabulate[Byte](16)(i => (i + 2).toByte),
        1700000001L, indoor = false, Seq(CoverageLocationMsg("hexZ", 1, -95))))
    val in = Files.createTempDirectory("graft-txn-in")
    def fixture(name: String): Unit = {
      val out = new FileOutputStream(in.resolve(name).toFile)
      try Framing.writeGzipFrames(out, objs.map(Messages.CoverageObjectV1.encode))
      finally out.close()
    }
    fixture("coverage_object.1700000005000.gz")

    // Crash after ONE published move: one table's files land, the other
    // table's and the checkpoint's do not — the exact window the reference
    // leaves open (data without checkpoint).
    sys.props("graft.test.failAfterMoves") = "1"
    try intercept[IllegalStateException] {
      IngestJob.run(spark, in.toString, wh("whTxn"), "coverage-objects")
    } finally sys.props.remove("graft.test.failAfterMoves")
    // the manifest committed, so recovery must finish the publish; the
    // re-run then sees the file checkpointed and ingests nothing new
    val res2 = IngestJob.run(spark, in.toString, wh("whTxn"), "coverage-objects")
    assert(res2.files.isEmpty)
    assert(spark.read.parquet(s"${wh("whTxn")}/coverage_object").count() == 2)
    assert(spark.read.parquet(s"${wh("whTxn")}/coverage_location").count() == 3)
    assert(spark.read.parquet(s"${wh("whTxn")}/files_processed").count() == 1)

    // Crash BEFORE the commit point (zero moves published): nothing live, no
    // checkpoint — recovery drops the orphan staging and the re-run ingests
    // the file exactly once.
    fixture("coverage_object.1700000006000.gz")
    sys.props("graft.test.failAfterMoves") = "0"
    try intercept[IllegalStateException] {
      IngestJob.run(spark, in.toString, wh("whTxn"), "coverage-objects")
    } finally sys.props.remove("graft.test.failAfterMoves")
    // pre-commit-point crash simulation: also drop the manifest, as if the
    // job died between staging and the commit rename
    val fsys = new org.apache.hadoop.fs.Path(wh("whTxn"))
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fsys.listStatus(new org.apache.hadoop.fs.Path(s"${wh("whTxn")}/_commits"))
      .foreach(st => fsys.delete(st.getPath, false))
    val res3 = IngestJob.run(spark, in.toString, wh("whTxn"), "coverage-objects")
    assert(res3.files.map(_.timestamp_ms) == Seq(1700000006000L))
    assert(spark.read.parquet(s"${wh("whTxn")}/coverage_object").count() == 4)
    assert(spark.read.parquet(s"${wh("whTxn")}/coverage_location").count() == 6)
    assert(spark.read.parquet(s"${wh("whTxn")}/files_processed").count() == 2)
  }

  test("idempotent replay: re-running the same ingest adds no duplicate rows") {
    def st(i: Int) = Messages.VerifiedSpeedtest.encode(VerifiedSpeedtest(
      Some(SpeedtestIngest(Some(SpeedtestReq(Array[Byte](1), s"rep$i", 1700000000L,
        1, 2, 3)), 1700000000L)), 1700000000L, 0))
    writeFixture("verified_speedtest.1700000009000.gz", Seq(st(1), st(2)))
    val first = IngestJob.run(spark, dir.toString, wh("wh7"), "verified-speedtest",
      FileSelection(afterMs = Some(1700000008000L)))
    assert(first.rowCounts("verified_speedtest_report") == 2)
    val again = IngestJob.run(spark, dir.toString, wh("wh7"), "verified-speedtest",
      FileSelection(afterMs = Some(1700000008000L)))
    assert(again.files.isEmpty) // already checkpointed -> skipped
    assert(spark.read.parquet(s"${wh("wh7")}/verified_speedtest_report").count() == 2)
  }

  /** One batch of each benchmark shape, every output table non-empty. */
  private def mobileFrames(tag: Int): Seq[Array[Byte]] = Seq(
    MobileRewardShare(1700000000L, 1700003600L, GatewayArm(Array[Byte](1, tag.toByte), 10, 20, 30)),
    MobileRewardShare(1700000000L, 1700003600L,
      SubscriberArm(Array.tabulate[Byte](16)(i => (i + tag).toByte), 5, 6, "k")),
    MobileRewardShare(1700000000L, 1700003600L, ServiceProviderArm(1, 99, "sp")),
    MobileRewardShare(1700000000L, 1700003600L, UnallocatedArm(2, 7)),
    MobileRewardShare(1700000000L, 1700003600L, PromotionArm("promo", 1, 2)),
    MobileRewardShare(1700000000L, 1700003600L, RadioArm(
      hotspotKey = Array[Byte](3, tag.toByte), baseCoveragePointsSum = Some("1.5"),
      boostedCoveragePointsSum = None, baseRewardShares = None, boostedRewardShares = None,
      basePocReward = 1, boostedPocReward = 2, seniorityTimestamp = 1700000000L,
      coverageObject = Array.tabulate[Byte](16)(_.toByte),
      locationTrustScoreMultiplier = None, speedtestMultiplier = None,
      spBoostedHexStatus = 0, oracleBoostedHexStatus = 0,
      speedtestAverage = Some(SpeedtestAvgMsg(111, 222, 33, 1700000500L)),
      locationTrustScores = Seq(TrustScoreMsg(10, Some("0.8"))),
      speedtests = Seq(RadioSpeedtestMsg(1, 2, 3, 1700000000L)),
      coveredHexes = Seq(CoveredHexMsg(100L, Some("1.5"), None, 0, 1, 2, Some("1.0"), 0,
        Some("0.5"), 2, true)))))
    .map(Messages.MobileRewardShare.encode)
  private def speedtestFrames(tag: Int): Seq[Array[Byte]] = (0 until 3).map(i =>
    Messages.VerifiedSpeedtest.encode(VerifiedSpeedtest(
      Some(SpeedtestIngest(Some(SpeedtestReq(Array[Byte](1), s"w$tag-$i", 1700000000L,
        1, 2, 3)), 1700000000L)), 1700000000L, 0)))
  private def coverageFrames(tag: Int): Seq[Array[Byte]] = Seq(
    Messages.CoverageObjectV1.encode(CoverageObjectV1(HotspotKey(Array[Byte](tag.toByte)),
      Array.tabulate[Byte](16)(i => (i + tag).toByte), 1700000000L, indoor = true,
      Seq(CoverageLocationMsg("hexA", 2, -80), CoverageLocationMsg("hexB", 3, -70)))))

  /** Spark jobs started while `body` runs. */
  private def jobsDuring(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    org.apache.spark.ListenerBusDrain.drain(sc)
    sc.addSparkListener(l)
    try { body; org.apache.spark.ListenerBusDrain.drain(sc) }
    finally sc.removeSparkListener(l)
    jobs.get
  }

  test("job-count pin: one continue ingest of each benchmark shape") {
    // One write wave per operation: one job per staged table plus one for
    // the checkpoint batch, the checkpoint's max() read, and nothing per
    // table (no cache-and-count) or for the replay guard (a continue
    // listing cannot hold a checkpointed file). A stray count() or
    // schema inference on any of these paths trips the pin.
    val in = Files.createTempDirectory("graft-ingest-jobs")
    val shapes = Seq(
      ("mobile-rewards", "mobile_network_reward_shares_v1", mobileFrames _),
      ("verified-speedtest", "verified_speedtest", speedtestFrames _),
      ("coverage-objects", "coverage_object", coverageFrames _))
    val jobs = shapes.map { case (fileType, prefix, frames) =>
      val w = wh(s"whJobs-$fileType")
      writeFixture(s"$prefix.1700000001000.gz", frames(1), in)
      IngestJob.run(spark, in.toString, w, fileType)
      writeFixture(s"$prefix.1700000002000.gz", frames(2), in)
      var res: IngestJob.Result = null
      val n = jobsDuring {
        res = IngestJob.run(spark, in.toString, w, fileType, FileSelection(continue = true))
      }
      assert(res.files.map(_.timestamp_ms) == Seq(1700000002000L), fileType)
      assert(res.rowCounts.values.forall(_ > 0), s"$fileType: ${res.rowCounts}")
      fileType -> n
    }.toMap
    assert(jobs == Map("mobile-rewards" -> 12, "verified-speedtest" -> 4,
      "coverage-objects" -> 5), jobs)
  }

  test("log-listing pin: one continue ingest of each benchmark shape") {
    // An operation folds the log once per phase — the writers' table
    // config, commit's checks, publish's constraint re-check, append's
    // feature gate — plus append's own claim walk, whatever the table
    // count. A per-table fold anywhere on the path trips the pin.
    import graft.ingest.Snapshots
    val in = Files.createTempDirectory("graft-ingest-lists")
    val shapes = Seq(
      ("mobile-rewards", "mobile_network_reward_shares_v1", mobileFrames _),
      ("verified-speedtest", "verified_speedtest", speedtestFrames _),
      ("coverage-objects", "coverage_object", coverageFrames _))
    val lists = shapes.map { case (fileType, prefix, frames) =>
      val w = wh(s"whLists-$fileType")
      writeFixture(s"$prefix.1700000001000.gz", frames(1), in)
      IngestJob.run(spark, in.toString, w, fileType)
      writeFixture(s"$prefix.1700000002000.gz", frames(2), in)
      Snapshots.logLists.set(0)
      IngestJob.run(spark, in.toString, w, fileType, FileSelection(continue = true))
      fileType -> Snapshots.logLists.get()
    }.toMap
    // Five walks of a one-version log (its entry, claim lock and
    // footer-era marker: 3 files each).
    assert(lists == Map("mobile-rewards" -> 15L, "verified-speedtest" -> 15L,
      "coverage-objects" -> 15L), lists)
  }

  test("a failed write wave publishes nothing and leaks no cache or thread") {
    import org.apache.hadoop.fs.{Path => HPath}
    import graft.ingest.Snapshots
    val in = Files.createTempDirectory("graft-ingest-wave")
    val w = wh("whWave")
    val prefix = "mobile_network_reward_shares_v1"
    writeFixture(s"$prefix.1700000001000.gz", mobileFrames(1), in)
    IngestJob.run(spark, in.toString, w, "mobile-rewards")
    writeFixture(s"$prefix.1700000002000.gz", mobileFrames(2), in)
    val fs = new HPath(w).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val version = Snapshots.latestVersion(fs, w)
    def checkpointRows = spark.read.parquet(s"$w/files_processed").count()
    assert(checkpointRows == 1)
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    // A plain file where the staging root belongs: every staged write fails.
    val blocker = new HPath(s"$w/_staging")
    fs.delete(blocker, true)
    fs.create(blocker).close()
    intercept[Exception] {
      IngestJob.run(spark, in.toString, w, "mobile-rewards", FileSelection(continue = true))
    }
    assert(Snapshots.latestVersion(fs, w) == version, "a failed wave committed")
    assert(checkpointRows == 1)
    assert(spark.sparkContext.getPersistentRDDs.keySet == persisted,
      "the decode cache outlived the failed run")
    import scala.jdk.CollectionConverters._
    val writers = Thread.getAllStackTraces.keySet.asScala
      .filter(_.getName.startsWith("graft-ingest-write-"))
    writers.foreach(_.join(10000))
    assert(writers.forall(!_.isAlive), writers.map(_.getName))
    fs.delete(blocker, false)
    val res = IngestJob.run(spark, in.toString, w, "mobile-rewards",
      FileSelection(continue = true))
    assert(res.files.map(_.timestamp_ms) == Seq(1700000002000L))
    assert(res.rowCounts("mobile_reward_covered_hexes") == 1)
    val cp = spark.read.parquet(s"$w/files_processed")
    assert(cp.count() == 2 && cp.select("file_name").distinct().count() == 2)
    assert(Snapshots.read(spark, w, "mobile_gateway_rewards").count() == 2)
  }

  test("continue after an explicit newer --file: every file ingested once") {
    val in = Files.createTempDirectory("graft-ingest-file-continue")
    val w = wh("whFileContinue")
    def key(ts: Long) = s"verified_speedtest.$ts.gz"
    writeFixture(key(1700000001000L), speedtestFrames(1), in)
    IngestJob.run(spark, in.toString, w, "verified-speedtest")
    // The explicit file is newer than anything listed so far: continue
    // resumes after IT, never re-listing it.
    writeFixture(key(1700000003000L), speedtestFrames(3), in)
    val byFile = IngestJob.run(spark, in.toString, w, "verified-speedtest",
      FileSelection(file = Some(in.resolve(key(1700000003000L)).toString)))
    assert(byFile.files.map(_.timestamp_ms) == Seq(1700000003000L))
    val idle = IngestJob.run(spark, in.toString, w, "verified-speedtest",
      FileSelection(continue = true))
    assert(idle.files.isEmpty && idle.rowCounts.isEmpty)
    writeFixture(key(1700000004000L), speedtestFrames(4), in)
    val next = IngestJob.run(spark, in.toString, w, "verified-speedtest",
      FileSelection(continue = true))
    assert(next.files.map(_.timestamp_ms) == Seq(1700000004000L))
    assert(next.rowCounts == Map("verified_speedtest_report" -> 3L))
    // The explicit file keeps its guard: a re-run of it ingests nothing.
    val again = IngestJob.run(spark, in.toString, w, "verified-speedtest",
      FileSelection(file = Some(in.resolve(key(1700000003000L)).toString)))
    assert(again.files.isEmpty)
    val cp = spark.read.parquet(s"$w/files_processed")
    assert(cp.count() == 3 && cp.select("file_name").distinct().count() == 3)
    assert(graft.ingest.Snapshots.read(spark, w, "verified_speedtest_report").count() == 9)
  }

  test("the checkpoint is read from the log: a restore rolls resume back") {
    import org.apache.hadoop.fs.{Path => HPath}
    import graft.ingest.{Checkpoint, Snapshots}
    val in = Files.createTempDirectory("graft-ingest-cp-restore")
    val w = wh("whCpRestore")
    def key(ts: Long) = s"verified_speedtest.$ts.gz"
    writeFixture(key(1700000001000L), speedtestFrames(1), in)
    IngestJob.run(spark, in.toString, w, "verified-speedtest")            // v0
    writeFixture(key(1700000002000L), speedtestFrames(2), in)
    IngestJob.run(spark, in.toString, w, "verified-speedtest",
      FileSelection(continue = true))                                      // v1
    assert(Checkpoint.latestMs(spark, w, "verified_speedtest")
      .contains(1700000002000L))
    // Roll the checkpoint table back to v0: the second file's checkpoint
    // parquet stays in the directory but is no longer live in the log.
    Snapshots.restore(spark, w, Checkpoint.TableName, 0L)
    val fs = new HPath(w).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.listStatus(new HPath(s"$w/${Checkpoint.TableName}"))
      .count(_.getPath.getName.endsWith(".parquet")) == 2)
    assert(Checkpoint.latestMs(spark, w, "verified_speedtest")
      .contains(1700000001000L))
    val listed = FileCatalog.list(spark, in.toString, "verified_speedtest")
    assert(Checkpoint.unprocessed(spark, w, "verified_speedtest", listed)
      .map(_.timestamp_ms) == Seq(1700000002000L))
  }

  test("salted join and salted aggregation match their unsalted results") {
    import org.apache.spark.sql.functions._
    val s0 = spark
    import s0.implicits._
    // one pathologically hot key
    val big = (1 to 2000).map(i => (if (i % 10 == 0) 1L else i.toLong, i.toLong, i * 1.5))
      .toDF("k", "id", "v")
    val small = Seq((1L, "hot"), (2L, "a"), (3L, "b")).toDF("k", "name")
    val salted = graft.operators.Salting.saltedJoin(big, small, "k", "id")
      .groupBy("name").agg(count(lit(1)).as("cnt")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    val plain = big.join(small, "k")
      .groupBy("name").agg(count(lit(1)).as("cnt")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(salted == plain)
    val agg = graft.operators.Salting.saltedCountSum(big, "k", "id", "v")
    val want = big.groupBy("k").agg(count(lit(1)).cast("long").as("cnt"),
      sum("v").as("sum_value"))
    assert(agg.orderBy("k").collect().map(r => (r.getLong(0), r.getLong(1)))
      .sameElements(want.orderBy("k").collect().map(r => (r.getLong(0), r.getLong(1)))))
  }
}
