package graft

import java.io.FileOutputStream
import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.codec.Framing
import graft.proto.Messages
import graft.proto.Messages._
import graft.streaming.StreamingOps
import graft.streaming.StreamingOps.Event

class StreamingSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("streaming-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def ts(minute: Int): Timestamp = new Timestamp(1700000000000L + minute * 60000L)

  test("watermarked tumbling window aggregates across micro-batches") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    val input = MemoryStream[Event]
    val q = StreamingOps.tumblingCounts(input.toDF(), "5 minutes", "10 minutes")
      .writeStream.format("memory").queryName("tumbling").outputMode(OutputMode.Update())
      .start()
    try {
      input.addData(
        Event(1, ts(0), 1, "click", 1.0), Event(2, ts(1), 1, "click", 2.0),
        Event(3, ts(11), 2, "view", 3.0))
      q.processAllAvailable()
      input.addData(Event(4, ts(2), 2, "click", 4.0)) // same first window
      q.processAllAvailable()
      val rows = spark.table("tumbling").collect()
        .map(r => (r.getAs[Timestamp]("win_start").getTime, r.getAs[String]("event_type"),
          r.getAs[Long]("cnt"))).toSet
      // latest update per (window, type): first window clicks reached 3
      assert(rows.contains((1700000000000L - 1700000000000L % 600000, "click", 3L)) ||
        rows.exists(t => t._2 == "click" && t._3 == 3L))
      assert(rows.exists(t => t._2 == "view" && t._3 == 1L))
    } finally q.stop()
  }

  test("mapGroupsWithState keeps running per-user totals across batches") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    val input = MemoryStream[Event]
    val q = StreamingOps.runningUserStats(input.toDS())
      .writeStream.format("memory").queryName("userstats").outputMode(OutputMode.Update())
      .start()
    try {
      input.addData(Event(1, ts(0), 7, "click", 1.5), Event(2, ts(1), 7, "view", 2.5))
      q.processAllAvailable()
      input.addData(Event(3, ts(2), 7, "click", 6.0))
      q.processAllAvailable()
      val latest = spark.table("userstats").collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n_events"), r.getAs[Double]("total_value")))
      // state accumulated: second batch emits (7, 3, 10.0)
      assert(latest.contains((7L, 3L, 10.0)))
    } finally q.stop()
  }

  test("transactional sink: micro-batches land atomically, replays are deduped") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    val wh = Files.createTempDirectory("graft-txn-sink").toString
    val ckpt = Files.createTempDirectory("graft-txn-sink-ckpt").toString
    val input = MemoryStream[Event]
    input.addData(Event(1, ts(0), 1, "click", 1.0), Event(2, ts(1), 2, "view", 2.0))
    val q = StreamingOps.transactionalSink(input.toDS(), wh, "events_t", ckpt)
    q.awaitTermination()
    assert(graft.ingest.Snapshots.read(spark, wh, "events_t").count() == 2)

    // a crash-replay re-runs foreachBatch with the SAME batchId: the
    // snapshot log's commitId dedups it — no duplicate rows
    val replay = Seq(Event(1, ts(0), 1, "click", 1.0), Event(2, ts(1), 2, "view", 2.0))
      .toDF()
    StreamingOps.commitBatch(replay, wh, "events_t", batchId = 0L)
    assert(graft.ingest.Snapshots.read(spark, wh, "events_t").count() == 2)

    // next trigger (new batchId) appends atomically
    input.addData(Event(3, ts(2), 1, "click", 3.0))
    val q2 = StreamingOps.transactionalSink(input.toDS(), wh, "events_t", ckpt)
    q2.awaitTermination()
    assert(graft.ingest.Snapshots.read(spark, wh, "events_t").count() == 3)
  }

  test("streaming incremental dedup: per-batch pairs union to the one-shot batch result") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    def doc(i: Long): (Long, String) =
      (i, s"document number $i talks at length about topic ${i % 3} with " +
        s"many shared words and a distinctive tail token t$i plus filler " +
        "text that makes shingles overlap only for true duplicates")
    def dup(i: Long): (Long, String) = { val (_, t) = doc(i); (i + 1000, t + " zz") }
    val batch1 = Seq(doc(1), doc(2), doc(3), dup(1)) // near-dup inside batch 1
    val batch2 = Seq(doc(4), doc(5), dup(2), dup(4)) // cross-batch + in-batch dups

    // Inputs: a fresh store (the default 64/16 scheme, stamped by the
    // first trigger) and a store built empty under a non-default scheme,
    // which every trigger must read back from its stamp.
    Seq(None, Some((32, 8))).foreach { scheme =>
      val wh = Files.createTempDirectory("graft-stream-dedup").toString
      val ckpt = Files.createTempDirectory("graft-stream-dedup-ckpt").toString
      val (numPerms, numBands) = scheme.getOrElse((64, 16))
      scheme.foreach { case (p, b) =>
        graft.llmops.SignatureStore.appendBatch(spark, wh,
          Seq.empty[(Long, String)].toDF("doc_id", "text"), "doc_id", "text",
          numPerms = p, numBands = b)
      }
      val input = MemoryStream[(Long, String)]
      input.addData(batch1: _*)
      val q = graft.llmops.SignatureStore.streamingIncrementalDedup(
        input.toDF().toDF("doc_id", "text"), wh, ckpt)
      q.awaitTermination()
      input.addData(batch2: _*)
      val q2 = graft.llmops.SignatureStore.streamingIncrementalDedup(
        input.toDF().toDF("doc_id", "text"), wh, ckpt)
      q2.awaitTermination()

      val streamed = graft.ingest.Snapshots.read(spark, wh, "dup_pairs")
        .select("doc_a", "doc_b").distinct().as[(Long, Long)].collect().toSet
      val oneShot = graft.llmops.MinHash.nearDupPairs(
          (batch1 ++ batch2).toDF("doc_id", "text"), "doc_id", "text",
          numPerms = numPerms, numBands = numBands)
        .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
      assert(oneShot.nonEmpty && oneShot.exists { case (a, b) => b - a == 1000 })
      assert(streamed == oneShot, s"scheme $scheme") // no pair lost or doubled
      // The store's rows carry the stamped scheme, not a default.
      assert(graft.ingest.Snapshots.read(spark, wh, "doc_signatures")
        .select("band").distinct().count() == numBands)
      assert(graft.ingest.Snapshots.read(spark, wh, "documents").count() == 8)
      // crash-replay of the last trigger: all three commits dedup by batchId
      val before = graft.ingest.Snapshots.read(spark, wh, "dup_pairs").count()
      StreamingOps.commitBatch(batch2.toDF("doc_id", "text"), wh, "documents", 1L)
      assert(graft.ingest.Snapshots.read(spark, wh, "documents").count() == 8)
      assert(graft.ingest.Snapshots.read(spark, wh, "dup_pairs").count() == before)
    }
  }

  test("streaming file ingest discovers new reference-format files incrementally") {
    val dir = Files.createTempDirectory("graft-stream")
    def fixture(name: String, n: Int, off: Int): Unit = {
      val frames = (0 until n).map(i => Messages.VerifiedSpeedtest.encode(VerifiedSpeedtest(
        Some(SpeedtestIngest(Some(SpeedtestReq(Array[Byte](1), s"s${off + i}",
          1700000000L, 1, 2, 3)), 1700000000L)), 1700000000L, 0)))
      val out = new FileOutputStream(dir.resolve(name).toFile)
      try Framing.writeGzipFrames(out, frames) finally out.close()
    }
    fixture("verified_speedtest.1700000001000.gz", 3, 0)
    val q = StreamingOps.speedtestStream(spark, dir.toString)
      .writeStream.format("memory").queryName("stream_ingest")
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      assert(spark.table("stream_ingest").count() == 3)
      fixture("verified_speedtest.1700000002000.gz", 2, 100)
      q.processAllAvailable()
      assert(spark.table("stream_ingest").count() == 5) // only the new file added
      val sources = spark.table("stream_ingest").select("file_source")
        .distinct().collect().map(_.getString(0))
      assert(sources.length == 2)
    } finally q.stop()
  }
}
