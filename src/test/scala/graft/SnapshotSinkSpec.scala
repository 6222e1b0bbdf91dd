package graft

import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.ingest.Snapshots

/** The native streaming SINK (`writeStream.format("graft-snapshots")`):
  * executors stage parquet, the driver publishes through TxnCommit with an
  * epoch-derived commitId — exactly-once across restarts, create-on-first-
  * write, and full round-trip symmetry with the streaming reader. */
class SnapshotSinkSpec extends AnyFunSuite with BeforeAndAfterAll {

  type WideRow = (Long, Option[Int], Option[Double], Float, Boolean,
    String, Array[Byte], java.sql.Date, java.sql.Timestamp, String)

  private var spark: SparkSession = _
  private lazy val dir = Files.createTempDirectory("graft-snapsink")
  private def wh(name: String) = dir.resolve(name).toString
  private def fs = new Path(dir.toString)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def sinkTo(df: DataFrame, w: String, ckpt: String): Unit = {
    val q = df.writeStream.format("graft-snapshots")
      .option("warehouse", w).option("table", "t")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  test("create-on-first-write, append-per-epoch, exactly-once on restart") {
    val s0 = spark
    import s0.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val w = wh("whSink"); val ckpt = wh("whSinkCkpt")
    val in = MemoryStream[(Long, String)]

    in.addData((0L until 10L).map(i => (i, s"a$i")): _*)
    sinkTo(in.toDF.toDF("id", "val"), w, ckpt) // table did not exist before
    val v0 = Snapshots.read(spark, w, "t")
    assert(v0.count() == 10)
    assert(v0.select("id").as[Long].collect().sorted.sameElements(0L until 10L))

    // Second drain with new data appends ONE more version, no dupes.
    in.addData((10L until 15L).map(i => (i, s"b$i")): _*)
    sinkTo(in.toDF.toDF("id", "val"), w, ckpt)
    assert(Snapshots.read(spark, w, "t")
      .select("id").as[Long].collect().sorted.sameElements(0L until 15L))

    // Nothing new → no new snapshot version, table unchanged.
    val vBefore = Snapshots.latestVersion(fs, w).get
    sinkTo(in.toDF.toDF("id", "val"), w, ckpt)
    assert(Snapshots.latestVersion(fs, w).get == vBefore)
    assert(Snapshots.read(spark, w, "t").count() == 15)

    // No staging debris survives the publishes.
    assert(!fs.exists(new Path(s"$w/_staging")) ||
      fs.listStatus(new Path(s"$w/_staging")).isEmpty)
  }

  test("auto-compaction bounds the sink's live-file count (property-gated)") {
    val s0 = spark
    import s0.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val w = wh("whAutoC"); val ckpt = wh("whAutoCCkpt")
    val in = MemoryStream[(Long, String)]
    in.addData((0L until 5L).map(i => (i, s"x$i")): _*)
    sinkTo(in.toDF.toDF("id", "val"), w, ckpt) // creates the table
    // Opt in: pack whenever 4+ small files accumulate.
    Snapshots.setProperties(fs, w, "t", Map(
      "graft.autoCompact.minFiles" -> "4",
      "graft.autoCompact.targetBytes" -> (64L * 1024 * 1024).toString))
    // A long-running ingest: 12 epochs, each landing >= 1 new file.
    (1 to 12).foreach { e =>
      in.addData((e * 100L until e * 100L + 5L).map(i => (i, s"x$i")): _*)
      sinkTo(in.toDF.toDF("id", "val"), w, ckpt)
    }
    val live = Snapshots.snapshot(fs, w).files("t")
    assert(live.size < 8,
      s"auto-compaction must bound live files, got ${live.size}")
    // Exactly the ingested rows — maintenance moved bytes, never rows.
    val ids = Snapshots.read(spark, w, "t").select("id").as[Long]
      .collect().sorted
    val expect = ((0L until 5L) ++
      (1 to 12).flatMap(e => e * 100L until e * 100L + 5L)).sorted
    assert(ids.sameElements(expect))
    // The packing ran as its own op=compact commits, AFTER the epochs.
    val hist = Snapshots.history(spark, w).select("op").as[String].collect()
    assert(hist.count(_ == "compact") >= 1, hist.mkString(","))
    // Control: without the property the same drive pattern accumulates.
    val w2 = wh("whAutoC2"); val ckpt2 = wh("whAutoC2Ckpt")
    val in2 = MemoryStream[(Long, String)]
    (0 to 8).foreach { e =>
      in2.addData((e * 100L until e * 100L + 3L).map(i => (i, s"y$i")): _*)
      val q = in2.toDF.toDF("id", "val").writeStream
        .format("graft-snapshots")
        .option("warehouse", w2).option("table", "t")
        .option("checkpointLocation", ckpt2)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    assert(Snapshots.snapshot(fs, w2).files("t").size >= 9,
      "control table without the property must accumulate files")
  }

  test("auto-compaction is partition-scoped: untouched partitions keep files") {
    val s0 = spark
    import s0.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val w = wh("whAutoP"); val ckpt = wh("whAutoPCkpt")
    val in = MemoryStream[(Long, String)]
    def drain(): Unit = {
      val q = in.toDF.toDF("id", "side").writeStream
        .format("graft-snapshots")
        .option("warehouse", w).option("table", "t")
        .option("partitionBy", "side")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    in.addData((0L until 4L).map(i => (i, "a")): _*); drain()
    Snapshots.setProperties(fs, w, "t", Map(
      "graft.autoCompact.minFiles" -> "4",
      "graft.autoCompact.targetBytes" -> (64L * 1024 * 1024).toString))
    // side=a accumulates 6 more epochs; side=b gets exactly 2 epochs —
    // below the threshold, its files must be left alone.
    (1 to 6).foreach { e =>
      in.addData((e * 10L until e * 10L + 2L).map(i => (i, "a")): _*)
      drain()
    }
    (1 to 2).foreach { e =>
      in.addData((100L + e, "b")); drain()
    }
    val bySpec = Snapshots.snapshot(fs, w).files("t").groupBy(_.partition)
    assert(bySpec("side=b").size == 2,
      s"untouched/below-threshold partition was rewritten: ${bySpec("side=b")}")
    assert(bySpec("side=a").size < 5,
      s"hot partition must be packed, got ${bySpec("side=a").size} files")
    val got = Snapshots.read(spark, w, "t").select("id").as[Long]
      .collect().sorted
    val expect = ((0L until 4L) ++
      (1 to 6).flatMap(e => e * 10L until e * 10L + 2L) ++
      (1 to 2).map(e => 100L + e)).sorted
    assert(got.sameElements(expect))
  }

  test("a replayed epoch is recognized by commitId and skipped") {
    val s0 = spark
    import s0.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val w = wh("whReplay"); val ckpt = wh("whReplayCkpt")
    val in = MemoryStream[(Long, String)]
    in.addData((0L until 5L).map(i => (i, s"x$i")): _*)
    sinkTo(in.toDF.toDF("id", "val"), w, ckpt)

    // Simulate Spark replaying epoch 0 after a crash-before-offset-commit:
    // delete the sink checkpoint so the SAME queryId cannot be reused, then
    // drive the write path directly with the published epoch's commitId
    // already in the log — commit() must detect and skip, not double-land.
    val entriesBefore = Snapshots.entries(fs, w).size
    val queryId = Snapshots.entries(fs, w)
      .find(_.commitId.startsWith("stream-")).get.commitId
      .stripPrefix("stream-").split("-t-")(0)
    import scala.jdk.CollectionConverters._
    val write = new graft.sources.v2.SnapshotStreamingWrite(queryId,
      new org.apache.spark.sql.types.StructType()
        .add("id", "long").add("val", "string"),
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        Map("warehouse" -> w, "table" -> "t").asJava))
    write.commit(0L, Array(graft.sources.v2.SnapshotWriteMessage(Nil, 0L)))
    assert(Snapshots.entries(fs, w).size == entriesBefore,
      "replayed epoch must not publish a second version")
    assert(Snapshots.read(spark, w, "t").count() == 5)
  }

  test("round trip: the streaming reader tails what the streaming sink lands") {
    val s0 = spark
    import s0.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val w = wh("whLoop")
    val in = MemoryStream[(Long, String)]
    in.addData((0L until 20L).map(i => (i, s"r$i")): _*)
    sinkTo(in.toDF.toDF("id", "val"), w, wh("whLoopSinkCkpt"))
    in.addData((20L until 30L).map(i => (i, s"s$i")): _*)
    sinkTo(in.toDF.toDF("id", "val"), w, wh("whLoopSinkCkpt"))

    val out = wh("whLoopOut")
    val q = spark.readStream.format("graft-snapshots")
      .option("warehouse", w).option("table", "t")
      .option("maxFilesPerTrigger", "1")
      .load()
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", wh("whLoopReadCkpt"))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(spark.read.parquet(out).select("id").as[Long]
      .collect().sorted.sameElements(0L until 30L))
  }

  test("partitionBy lands a Hive-partitioned table readable both ways") {
    val s0 = spark
    import s0.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val w = wh("whPartSink")
    val in = MemoryStream[(Long, String)]
    in.addData((1L, "2024-01-01"), (2L, "2024-01-02"), (3L, "2024-01-02"),
      (4L, "2024 01/03")) // space + slash: path-escaping must hold
    val q = in.toDF.toDF("id", "dt").writeStream.format("graft-snapshots")
      .option("warehouse", w).option("table", "t")
      .option("partitionBy", "dt")
      .option("checkpointLocation", wh("whPartSinkCkpt"))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    // Batch read: partition column from the log tuple; pruning works.
    val all = Snapshots.read(spark, w, "t").as[(Long, String)].collect().toSet
    assert(all == Set(1L -> "2024-01-01", 2L -> "2024-01-02",
      3L -> "2024-01-02", 4L -> "2024 01/03"))
    val pruned = Snapshots.read(spark, w, "t",
      partitionFilter = m => m.get("dt").exists(_.contains("2024-01-02")))
    assert(pruned.as[(Long, String)].collect().toSet ==
      Set(2L -> "2024-01-02", 3L -> "2024-01-02"))

    // Streaming read: the reader serves dt from the log's recorded tuples.
    val out = wh("whPartSinkOut")
    val q2 = spark.readStream.format("graft-snapshots")
      .option("warehouse", w).option("table", "t").load()
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", wh("whPartSinkCkpt2"))
      .trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination()
    assert(spark.read.parquet(out).as[(Long, String)].collect().toSet == all)

    // Layout: one k=v dir per value, data files free of the partition column.
    val dirs = fs.listStatus(new Path(s"$w/t"))
      .filter(_.isDirectory).map(_.getPath.getName).toSet
    assert(dirs.count(_.startsWith("dt=")) == 3, s"got $dirs")
  }

  test("optimizeWrite clusters each epoch's files by partition value") {
    val s0 = spark
    import s0.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val w = wh("whOwSink"); val ckpt = wh("whOwSinkCkpt")
    val in = MemoryStream[(Long, Long)]
    in.addData((0L until 80L).map(i => (i, i % 2)): _*)
    // Streaming disables AQE, so the declared clustered distribution
    // plans a strict hash repartition on p — each partition value lands
    // in exactly one task, hence ONE file per value per epoch (vs one
    // per task per value without the option).
    val q = in.toDF.toDF("id", "p").repartition(4)
      .writeStream.format("graft-snapshots")
      .option("warehouse", w).option("table", "t")
      .option("partitionBy", "p")
      .option("graft.optimizeWrite", "true")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val files = Snapshots.snapshot(fs, w).files("t")
    assert(files.size == 2, s"expected one file per partition value, " +
      s"got ${files.map(_.file).mkString(", ")}")
    assert(Snapshots.read(spark, w, "t").count() == 80)
  }

  test("null partition values round-trip as NULL both ways; boolean rejected") {
    val s0 = spark
    import s0.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val w = wh("whNullPart")
    val in = MemoryStream[(Long, Option[String])]
    in.addData((1L, Some("d1")), (2L, None), (3L, Some("d1")))
    val q = in.toDF.toDF("id", "dt").writeStream.format("graft-snapshots")
      .option("warehouse", w).option("table", "t")
      .option("partitionBy", "dt")
      .option("checkpointLocation", wh("whNullPartCkpt"))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    // Batch read: Spark's path inference maps the Hive sentinel to null.
    val batch = Snapshots.read(spark, w, "t")
      .select("id", "dt").as[(Long, Option[String])].collect().toSet
    assert(batch == Set((1L, Some("d1")), (2L, None), (3L, Some("d1"))),
      s"got $batch")
    // Streaming read: the partition-constant decode must agree — null,
    // never the literal __HIVE_DEFAULT_PARTITION__ string.
    val out = wh("whNullPartOut")
    val q2 = spark.readStream.format("graft-snapshots")
      .option("warehouse", w).option("table", "t").load()
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", wh("whNullPartCkpt2"))
      .trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination()
    val streamed = spark.read.parquet(out)
      .select("id", "dt").as[(Long, Option[String])].collect().toSet
    assert(streamed == batch, s"streamed $streamed != batch $batch")

    // Boolean partition columns don't survive batch path inference (they
    // read back as string) — rejected at stream start, not demoted.
    val inB = MemoryStream[(Long, Boolean)]
    inB.addData((1L, true))
    val err = intercept[Exception] {
      val qb = inB.toDF.toDF("id", "flag").writeStream
        .format("graft-snapshots")
        .option("warehouse", wh("whBoolPart")).option("table", "t")
        .option("partitionBy", "flag")
        .option("checkpointLocation", wh("whBoolPartCkpt"))
        .trigger(Trigger.AvailableNow()).start()
      qb.awaitTermination()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => e.getMessage +: msgs(e.getCause))
    assert(msgs(err).exists(m => m != null && m.contains("not supported")),
      msgs(err).mkString(" | "))
  }

  test("complete mode keeps a materialized aggregate as overwrite versions") {
    val s0 = spark
    import s0.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val w = wh("whComplete"); val ckpt = wh("whCompleteCkpt")
    val in = MemoryStream[(String, Long)]
    def drainComplete(): Unit = {
      val q = in.toDF.toDF("k", "n").groupBy("k")
        .agg(org.apache.spark.sql.functions.sum("n").as("total"))
        .writeStream.format("graft-snapshots")
        .option("warehouse", w).option("table", "agg")
        .option("checkpointLocation", ckpt)
        .outputMode("complete")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    in.addData(("a", 1L), ("b", 2L))
    drainComplete()
    assert(Snapshots.read(spark, w, "agg").as[(String, Long)].collect().toSet ==
      Set("a" -> 1L, "b" -> 2L))

    in.addData(("a", 10L))
    drainComplete()
    // The table IS the latest aggregate state — replaced, not appended.
    assert(Snapshots.read(spark, w, "agg").as[(String, Long)].collect().toSet ==
      Set("a" -> 11L, "b" -> 2L))
    // Prior epoch still time-travelable (overwrite retains files).
    val versions = (0L to Snapshots.latestVersion(fs, w).get)
    val states = versions.map(v =>
      Snapshots.read(spark, w, "agg", asOf = Some(v))
        .as[(String, Long)].collect().toSet)
    assert(states.contains(Set("a" -> 1L, "b" -> 2L)))
  }

  test("schema enforcement holds at the commit point for existing tables") {
    val s0 = spark
    import s0.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val w = wh("whSchema"); val ok = MemoryStream[(Long, String)]
    ok.addData((1L, "a"))
    sinkTo(ok.toDF.toDF("id", "val"), w, wh("whSchemaCkpt1"))
    // Same column name, incompatible type: the transactional commit must
    // refuse (type-safe evolution), failing the stream.
    val bad = MemoryStream[(Long, Double)]
    bad.addData((2L, 1.5))
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      sinkTo(bad.toDF.toDF("id", "val"), w, wh("whSchemaCkpt2"))
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ msgs(e.getCause))
    assert(msgs(err).exists(m => m.toLowerCase.contains("schema") ||
      m.toLowerCase.contains("type")), s"got: ${msgs(err)}")
    // The failed epoch landed nothing.
    assert(Snapshots.read(spark, w, "t").count() == 1)
  }

  test("sink to a renamed table translates logical names to physical") {
    val s0 = spark
    import s0.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val w = wh("whSinkRename")
    val in = MemoryStream[(Long, String)]
    in.addData((1L, "a"))
    sinkTo(in.toDF.toDF("id", "val"), w, wh("whSinkRenameCkpt1"))
    graft.ingest.SchemaEvolution.renameColumn(spark, w, "t", "val", "label")
    val in2 = MemoryStream[(Long, String)]
    in2.addData((2L, "b"))
    sinkTo(in2.toDF.toDF("id", "label"), w, wh("whSinkRenameCkpt2"))
    val got = Snapshots.read(spark, w, "t")
    assert(got.columns.toSet == Set("id", "label"), got.columns.toSeq)
    assert(got.orderBy("id").as[(Long, String)].collect().toSeq ==
      Seq(1L -> "a", 2L -> "b"))
  }

  test("wide schema: bytes-on-disk match Spark's native parquet writer") {
    val s0 = spark
    import s0.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val w = wh("whWide"); val ckpt = wh("whWideCkpt")
    // Every type the sink supports, nulls included, plus a partition column.
    val rows: Seq[WideRow] = Seq(
      (1L, Some(7), Some(1.5), 2.5f, true, "alpha", Array[Byte](1, 2),
        java.sql.Date.valueOf("2024-01-01"),
        java.sql.Timestamp.valueOf("2024-01-01 10:30:00.123456"), "p1"),
      (2L, None, None, -0.5f, false, "béta/ gamma", Array[Byte](),
        java.sql.Date.valueOf("2024-06-15"),
        java.sql.Timestamp.valueOf("1969-12-31 23:59:59.999999"), "p2"))
    val cols = Seq("l", "i", "d", "f", "b", "s", "bin", "dt", "ts", "part")
    val in = MemoryStream[WideRow]
    in.addData(rows: _*)
    val q = in.toDF.toDF(cols: _*).writeStream.format("graft-snapshots")
      .option("warehouse", w).option("table", "t")
      .option("partitionBy", "part")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()

    // Reference: Spark's own parquet writer over the same DATA schema
    // (pinned to the sink's modern micros timestamps — the session default
    // is legacy INT96).
    val ref = wh("whWideRef")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    spark.createDataset(rows).toDF(cols: _*).drop("part")
      .coalesce(1).write.parquet(ref)
    def physSchema(dir: String): String = {
      val f = fs.listStatus(new Path(dir)).map(_.getPath)
        .filter(_.getName.endsWith(".parquet")).head
      org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          f, spark.sparkContext.hadoopConfiguration))
        .getFooter.getFileMetaData.getSchema.toString
    }
    // Identical parquet MessageType (physical + logical annotations), and
    // the Hive partition layout on disk.
    assert(physSchema(s"$w/t/part=p1") == physSchema(ref))
    assert(fs.exists(new Path(s"$w/t/part=p2")))

    // Row-for-row parity through the table format's batch reader.
    val got = Snapshots.read(spark, w, "t")
      .orderBy("l").as[WideRow].collect().toSeq
    assert(got.map(r => r.copy(_7 = null)) == rows.map(r => r.copy(_7 = null)))
    assert(got.map(_._7.toSeq) == rows.map(_._7.toSeq)) // binary by value
  }

  test("reading a not-yet-existing table fails with a clear error") {
    val err = intercept[Exception] {
      spark.readStream.format("graft-snapshots")
        .option("warehouse", wh("whNope")).option("table", "t")
        .load()
        .writeStream.format("memory").queryName("nope_sink")
        .option("checkpointLocation", wh("whNopeCkpt"))
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ msgs(e.getCause))
    assert(msgs(err).exists(_.contains("does not exist")), s"got: ${msgs(err)}")
  }

  test("auto-compaction per-run input cap bounds epoch latency, still converges") {
    val s0 = spark
    import s0.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val w = wh("whAutoCap"); val ckpt = wh("whAutoCapCkpt")
    val in = MemoryStream[(Long, String)]
    in.addData((0L until 3L).map(i => (i, s"x$i")): _*)
    sinkTo(in.toDF.toDF("id", "val"), w, ckpt)
    // Opt in with a per-invocation work bound: one post-commit hook may
    // rewrite at most 4 input files — a minute-trigger epoch never pays
    // an unbounded bin-pack on a backlog.
    Snapshots.setProperties(fs, w, "t", Map(
      "graft.autoCompact.minFiles" -> "4",
      "graft.autoCompact.targetBytes" -> (64L * 1024 * 1024).toString,
      "graft.autoCompact.maxInputsPerRun" -> "4"))
    (1 to 14).foreach { e =>
      in.addData((e * 100L until e * 100L + 3L).map(i => (i, s"x$i")): _*)
      sinkTo(in.toDF.toDF("id", "val"), w, ckpt)
    }
    // EVERY hook invocation stayed within the cap: each compact commit
    // consumed at most 4 inputs (its REMOVE lines).
    val compacts = Snapshots.history(spark, w)
      .filter("op = 'compact'").select("n_removed").collect()
      .map(_.getLong(0))
    assert(compacts.nonEmpty, "hook never fired")
    assert(compacts.forall(_ <= 4L),
      s"a capped run rewrote more than its budget: ${compacts.mkString(",")}")
    // … and the live-file count still converges under the capped packs.
    val live = Snapshots.snapshot(fs, w).files("t")
    assert(live.size < 10,
      s"capped auto-compaction failed to converge: ${live.size} files")
    // Rows exactly once through all the maintenance.
    val got = Snapshots.read(spark, w, "t").select("id").as[Long]
      .collect().sorted
    val expect = ((0L until 3L) ++
      (1 to 14).flatMap(e => e * 100L until e * 100L + 3L)).sorted
    assert(got.sameElements(expect))
  }

  test("native sink mints identity ids per epoch; replayed epoch mints nothing") {
    val s0 = spark
    import s0.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val w = wh("whIdSink"); val ckpt = wh("whIdSinkCkpt")
    graft.ingest.Identity.declare(spark, w, "t", "row_id")
    val in = MemoryStream[(Long, String)]
    // The write schema CARRIES the identity column (the engine overrides
    // every value — GENERATED ALWAYS; the user's 0L can never land).
    def df = in.toDF.toDF("k", "v")
      .withColumn("row_id", org.apache.spark.sql.functions.lit(0L))
    in.addData((0L until 5L).map(i => (i, s"a$i")): _*)
    sinkTo(df, w, ckpt)
    val e1 = Snapshots.read(spark, w, "t")
      .select("row_id").as[Long].collect().toSeq
    assert(e1.distinct.size == 5 && e1.forall(_ >= 1L), e1.sorted)
    // Epoch 2: unique across epochs AND monotone — every id of the later
    // commit exceeds every id of the earlier one (mark-carried).
    in.addData((5L until 9L).map(i => (i, s"b$i")): _*)
    sinkTo(df, w, ckpt)
    val e2 = Snapshots.read(spark, w, "t")
      .select("row_id").as[Long].collect().toSeq
    assert(e2.distinct.size == 9, e2.sorted)
    assert(e2.filterNot(e1.contains).min > e1.max,
      "later epoch ids must exceed all earlier ids")
    assert(graft.ingest.Identity.highWaterMark(Snapshots.snapshot(fs, w), "t", "row_id")
      .contains(e2.max), "mark must ride the epoch commit")
    // Replayed epoch (same queryId + epochId → same commitId): recognized
    // and skipped — nothing re-minted, mark unchanged.
    val queryId = Snapshots.entries(fs, w)
      .find(_.commitId.startsWith("stream-")).get.commitId
      .stripPrefix("stream-").split("-t-")(0)
    import scala.jdk.CollectionConverters._
    val write = new graft.sources.v2.SnapshotStreamingWrite(queryId,
      new org.apache.spark.sql.types.StructType()
        .add("k", "long").add("v", "string").add("row_id", "long"),
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        Map("warehouse" -> w, "table" -> "t").asJava))
    write.commit(0L, Array(graft.sources.v2.SnapshotWriteMessage(Nil, 0L,
      Some(0L))))
    assert(Snapshots.read(spark, w, "t").count() == 9,
      "replayed epoch re-landed rows")
    assert(graft.ingest.Identity.highWaterMark(Snapshots.snapshot(fs, w), "t", "row_id")
      .contains(e2.max), "replayed epoch moved the mark")
    // The BATCH v2 write still refuses identity tables with the steering
    // error (no epoch discipline → no allocation contract).
    val ex = intercept[Exception] {
      new graft.sources.v2.SnapshotBatchWrite(
        new org.apache.spark.sql.types.StructType()
          .add("k", "long").add("v", "string").add("row_id", "long"),
        new org.apache.spark.sql.util.CaseInsensitiveStringMap(
          Map("warehouse" -> w, "table" -> "t").asJava), false)
    }
    assert(ex.getMessage.contains("appendWithIdentity"), ex.getMessage)
  }

  test("a stale identity allocation aborts the epoch instead of minting duplicates") {
    val s0 = spark
    import s0.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val w = wh("whIdOcc"); val ckpt = wh("whIdOccCkpt")
    graft.ingest.Identity.declare(spark, w, "t", "row_id")
    val in = MemoryStream[(Long, String)]
    in.addData((0L until 3L).map(i => (i, s"a$i")): _*)
    sinkTo(in.toDF.toDF("k", "v")
      .withColumn("row_id", org.apache.spark.sql.functions.lit(0L)), w, ckpt)
    val vNow = Snapshots.latestVersion(fs, w).get
    // Stage one real file the way a writer would, then drive the commit
    // with an allocation anchored BELOW the current version — the exact
    // state after a rival identity append landed mid-epoch. The publish
    // must abort (restart re-mints), never land possibly-duplicate ids.
    import scala.jdk.CollectionConverters._
    val write = new graft.sources.v2.SnapshotStreamingWrite("occq",
      new org.apache.spark.sql.types.StructType()
        .add("k", "long").add("v", "string").add("row_id", "long"),
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        Map("warehouse" -> w, "table" -> "t").asJava))
    val cid = "stream-occq-t-0"
    val staging = s"${graft.ingest.TxnCommit.stagingDir(w, cid)}/t"
    Seq((99L, "z", 1L)).toDF("k", "v", "row_id").coalesce(1)
      .write.parquet(staging)
    val file = fs.listStatus(new Path(staging)).map(_.getPath)
      .find(_.getName.endsWith(".parquet")).get.toString
    // Mixed allocation versions across writers refuse outright…
    val exMix = intercept[IllegalArgumentException](write.commit(0L, Array(
      graft.sources.v2.SnapshotWriteMessage(Seq(file -> ""), 1L,
        Some(vNow - 1)),
      graft.sources.v2.SnapshotWriteMessage(Nil, 0L, Some(vNow)))))
    assert(exMix.getMessage.contains("high-water marks"), exMix.getMessage)
    // …and a uniformly STALE allocation aborts at the OCC gate.
    intercept[graft.ingest.Snapshots.ConcurrentCommitException](
      write.commit(0L, Array(graft.sources.v2.SnapshotWriteMessage(
        Seq(file -> ""), 1L, Some(vNow - 1)))))
    // Nothing landed: same version, same rows, mark unmoved.
    assert(Snapshots.latestVersion(fs, w).get == vNow)
    assert(Snapshots.read(spark, w, "t").count() == 3)
  }

  test("async auto-compaction packs off the write path and still converges") {
    val s0 = spark
    import s0.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val w = wh("whAutoAsync"); val ckpt = wh("whAutoAsyncCkpt")
    val in = MemoryStream[(Long, String)]
    in.addData((0L until 3L).map(i => (i, s"x$i")): _*)
    sinkTo(in.toDF.toDF("id", "val"), w, ckpt)
    Snapshots.setProperties(fs, w, "t", Map(
      "graft.autoCompact.minFiles" -> "4",
      "graft.autoCompact.targetBytes" -> (64L * 1024 * 1024).toString,
      "graft.autoCompact.async" -> "true"))
    (1 to 10).foreach { e =>
      in.addData((e * 100L until e * 100L + 3L).map(i => (i, s"x$i")): _*)
      sinkTo(in.toDF.toDF("id", "val"), w, ckpt)
    }
    // The packs run on the maintenance thread — poll for convergence
    // (level-based: the last queued run sees the final live set).
    val deadline = System.currentTimeMillis() + 30000
    var live = Snapshots.snapshot(fs, w).files("t").size
    while (live >= 8 && System.currentTimeMillis() < deadline) {
      Thread.sleep(250)
      live = Snapshots.snapshot(fs, w).files("t").size
    }
    assert(live < 8, s"async auto-compaction never converged: $live files")
    // Maintenance moved bytes, never rows.
    val got = Snapshots.read(spark, w, "t").select("id").as[Long]
      .collect().sorted
    val expect = ((0L until 3L) ++
      (1 to 10).flatMap(e => e * 100L until e * 100L + 3L)).sorted
    assert(got.sameElements(expect))
  }

  test("partitioned identity table through the native sink: routed, pruned, monotone") {
    val s0 = spark
    import s0.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val w = wh("whIdPart"); val ckpt = wh("whIdPartCkpt")
    graft.ingest.Identity.declare(spark, w, "t", "row_id")
    val in = MemoryStream[(Long, String)]
    def drain(): Unit = {
      val q = in.toDF.toDF("k", "side")
        .withColumn("row_id", org.apache.spark.sql.functions.lit(0L))
        .writeStream.format("graft-snapshots")
        .option("warehouse", w).option("table", "t")
        .option("partitionBy", "side")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    in.addData((0L until 6L).map(i => (i, if (i % 2 == 0) "a" else "b")): _*)
    drain()
    in.addData((6L until 10L).map(i => (i, "a")): _*)
    drain()
    // Files landed under the k=v layout with specs recorded — pruning fires.
    val bySpec = Snapshots.snapshot(fs, w).files("t").groupBy(_.partition)
    assert(bySpec.keySet == Set("side=a", "side=b"), bySpec.keySet)
    val pruned = Snapshots.read(spark, w, "t",
      partitionFilter = m => m("side") == "b")
    assert(pruned.count() == 3)
    // Ids unique across epochs/partitions; mark = true max.
    val got = Snapshots.read(spark, w, "t")
      .select("row_id").as[Long].collect().toSeq
    assert(got.distinct.size == 10, got.sorted)
    assert(graft.ingest.Identity.highWaterMark(Snapshots.snapshot(fs, w), "t", "row_id")
      .contains(got.max))
    // The identity column itself can never be the partition column.
    val ex = intercept[Exception] {
      import scala.jdk.CollectionConverters._
      new graft.sources.v2.SnapshotStreamingWrite("ppq",
        new org.apache.spark.sql.types.StructType()
          .add("k", "long").add("row_id", "long"),
        new org.apache.spark.sql.util.CaseInsensitiveStringMap(
          Map("warehouse" -> w, "table" -> "t",
            "partitionBy" -> "row_id").asJava))
    }
    assert(ex.getMessage.contains("partition column"), ex.getMessage)
  }

  test("mixed identity + generated table through the native sink") {
    val s0 = spark
    import s0.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val w = wh("whIdGen"); val ckpt = wh("whIdGenCkpt")
    graft.ingest.Identity.declare(spark, w, "t", "row_id")
    graft.ingest.Generated.declare(spark, w, "t", "total",
      "price * qty", schemaHint = Some(
        new org.apache.spark.sql.types.StructType()
          .add("price", "double").add("qty", "long")))
    val in = MemoryStream[(Double, Long)]
    def drain(): Unit = {
      val q = in.toDF.toDF("price", "qty")
        .withColumn("row_id", org.apache.spark.sql.functions.lit(0L))
        .withColumn("total", org.apache.spark.sql.functions.lit(-1.0))
        .writeStream.format("graft-snapshots")
        .option("warehouse", w).option("table", "t")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    in.addData((2.0, 3L), (5.0, 2L)); drain()
    in.addData((1.5, 4L)); drain()
    val got = Snapshots.read(spark, w, "t")
      .select("price", "qty", "row_id", "total").collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // The ENGINE's values win on both columns: user 0L/-1.0 never land.
    assert(got.map(_._3).distinct.length == 3, got.mkString(","))
    assert(got.forall { case (p, q, _, t) => t == p * q }, got.mkString(","))
    assert(graft.ingest.Identity.highWaterMark(Snapshots.snapshot(fs, w), "t", "row_id")
      .contains(got.map(_._3).max))
  }
}
