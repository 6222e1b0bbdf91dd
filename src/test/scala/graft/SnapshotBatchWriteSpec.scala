package graft

import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{SaveMode, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.ingest.Snapshots

/** Batch writes through `df.write.format("graft-snapshots")`: SaveMode
  * semantics over the transactional log — append versions, an atomic
  * time-travel-preserving overwrite, and the existence modes. */
class SnapshotBatchWriteSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private lazy val dir = Files.createTempDirectory("graft-batchwrite")
  private def wh(name: String) = dir.resolve(name).toString
  private def fs = new Path(dir.toString)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def write(w: String, rows: Seq[(Long, String)], mode: SaveMode,
                    partitionBy: String = null): Unit = {
    val s0 = spark
    import s0.implicits._
    val writer = rows.toDF("id", "val").coalesce(1).write
      .format("graft-snapshots")
      .option("warehouse", w).option("table", "t")
      .mode(mode)
    (if (partitionBy == null) writer
     else writer.option("partitionBy", partitionBy)).save()
  }

  test("append creates then extends; overwrite replaces atomically, history intact") {
    val s0 = spark
    import s0.implicits._
    val w = wh("whBw")
    write(w, Seq(1L -> "a", 2L -> "b"), SaveMode.Append)      // v0 (create)
    write(w, Seq(3L -> "c"), SaveMode.Append)                 // v1
    assert(Snapshots.read(spark, w, "t").select("id").as[Long]
      .collect().sorted.sameElements(Array(1L, 2L, 3L)))

    write(w, Seq(10L -> "x", 11L -> "y"), SaveMode.Overwrite) // v2 (replace)
    assert(Snapshots.read(spark, w, "t").select("id").as[Long]
      .collect().sorted.sameElements(Array(10L, 11L)))
    // Time travel still serves the pre-overwrite snapshot (REMOVEs retain
    // files on disk until vacuum).
    assert(Snapshots.read(spark, w, "t", asOf = Some(1L)).select("id")
      .as[Long].collect().sorted.sameElements(Array(1L, 2L, 3L)))

    // The round trip through the V1 read fallback sees the same rows.
    assert(spark.read.format("graft-snapshots")
      .option("warehouse", w).option("table", "t").load()
      .select("id").as[Long].collect().sorted.sameElements(Array(10L, 11L)))
  }

  test("optimizeWrite rebalances staged files to the partition layout") {
    val s0 = spark
    import s0.implicits._
    val rows = (0L until 200L).map(i => (i, (i % 2).toString))
    def df = rows.toDF("id", "p").repartition(4)
    // Without: every input task writes a file per partition value it
    // holds — tasks × values small files.
    val w0 = wh("whOwOff")
    df.write.format("graft-snapshots").option("warehouse", w0)
      .option("table", "t").option("partitionBy", "p")
      .mode(SaveMode.Append).save()
    val off = Snapshots.snapshot(fs, w0).files("t").size
    assert(off > 2, s"expected tasks × values without optimizeWrite, got $off")
    // With: the staged frame REBALANCEs on p — AQE coalesces the tiny
    // shuffle partitions, so each partition value lands in ONE file.
    val w1 = wh("whOwOn")
    df.write.format("graft-snapshots").option("warehouse", w1)
      .option("table", "t").option("partitionBy", "p")
      .option("graft.optimizeWrite", "true")
      .mode(SaveMode.Append).save()
    val on = Snapshots.snapshot(fs, w1).files("t")
    assert(on.size == 2, s"expected one file per partition value, got " +
      on.map(_.file).mkString(", "))
    assert(on.map(_.partition).distinct.size == 2)
    assert(Snapshots.read(spark, w1, "t").count() == 200)
    assert(Snapshots.read(spark, w1, "t").select("id").as[Long]
      .collect().sorted.sameElements(0L until 200L))
  }

  test("ErrorIfExists and Ignore honor table existence") {
    val s0 = spark
    import s0.implicits._
    val w = wh("whModes")
    write(w, Seq(1L -> "a"), SaveMode.ErrorIfExists) // fresh: fine
    intercept[IllegalStateException] {
      write(w, Seq(2L -> "b"), SaveMode.ErrorIfExists)
    }
    write(w, Seq(3L -> "c"), SaveMode.Ignore) // existing: silently skipped
    assert(Snapshots.read(spark, w, "t").select("id").as[Long]
      .collect().sameElements(Array(1L)))
  }

  test("partitionBy option lands a partitioned table with recorded tuples") {
    val s0 = spark
    import s0.implicits._
    val w = wh("whBwPart")
    Seq((1L, "2024-01-01"), (2L, "2024-01-02"), (3L, "2024-01-02"))
      .toDF("id", "dt").write.format("graft-snapshots")
      .option("warehouse", w).option("table", "t")
      .option("partitionBy", "dt")
      .mode(SaveMode.Append).save()
    val got = Snapshots.read(spark, w, "t").as[(Long, String)].collect().toSet
    assert(got == Set(1L -> "2024-01-01", 2L -> "2024-01-02", 3L -> "2024-01-02"))
    // Partition pruning via the log's recorded tuples: one partition read.
    val pruned = Snapshots.read(spark, w, "t",
      partitionFilter = m => m.get("dt").contains("2024-01-02"))
    assert(pruned.as[(Long, String)].collect().toSet ==
      Set(2L -> "2024-01-02", 3L -> "2024-01-02"))
  }

  test("changeFeed overwrite serves delete pre-images + inserts as CDF") {
    val s0 = spark
    import s0.implicits._
    val w = wh("whBwCdf")
    write(w, Seq(1L -> "a", 2L -> "b"), SaveMode.Append)       // v0
    Seq(9L -> "z").toDF("id", "val").coalesce(1).write
      .format("graft-snapshots")
      .option("warehouse", w).option("table", "t")
      .option("changeFeed", "true")
      .mode(SaveMode.Overwrite).save()                          // v1 + CDF
    // Batch change feed: the rewrite is fully represented.
    val feed = Snapshots.changes(spark, w, "t", fromExclusive = -1L)
      .select("id", "val", "_change_type", "_commit_version")
      .as[(Long, String, String, Long)].collect().toSet
    assert(feed == Set(
      (1L, "a", "insert", 0L), (2L, "b", "insert", 0L),
      (1L, "a", "delete", 1L), (2L, "b", "delete", 1L),
      (9L, "z", "insert", 1L)))
    // Streaming change feed drains the same rows.
    val out = wh("whBwCdfOut")
    val q = spark.readStream.format("graft-snapshots")
      .option("warehouse", w).option("table", "t")
      .option("readChangeFeed", "true").load()
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", wh("whBwCdfCkpt"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(spark.read.parquet(out)
      .select("id", "val", "_change_type", "_commit_version")
      .as[(Long, String, String, Long)].collect().toSet == feed)
    // The table itself is just the overwrite result.
    assert(Snapshots.read(spark, w, "t").as[(Long, String)].collect().toSeq ==
      Seq(9L -> "z"))
  }

  test("writes to a renamed table translate logical names to physical") {
    val s0 = spark
    import s0.implicits._
    val w = wh("whBwRename")
    write(w, Seq(1L -> "a"), SaveMode.Append)                       // val
    graft.ingest.SchemaEvolution.renameColumn(spark, w, "t", "val", "label")
    // Caller writes the LOGICAL schema it reads — no duplicate column may
    // evolve, and the read must serve the new row's value under `label`.
    Seq(2L -> "b").toDF("id", "label").coalesce(1).write
      .format("graft-snapshots")
      .option("warehouse", w).option("table", "t")
      .mode(SaveMode.Append).save()
    val got = Snapshots.read(spark, w, "t")
    assert(got.columns.toSet == Set("id", "label"), got.columns.toSeq)
    assert(got.orderBy("id").as[(Long, String)].collect().toSeq ==
      Seq(1L -> "a", 2L -> "b"))
  }

  test("overwrite commits read as change commits downstream") {
    val s0 = spark
    import s0.implicits._
    val w = wh("whBwStream")
    write(w, Seq(1L -> "a"), SaveMode.Append)    // v0
    write(w, Seq(2L -> "b"), SaveMode.Overwrite) // v1 (rewrite)
    // changes() refuses the unrepresentable rewrite...
    val err = intercept[IllegalArgumentException] {
      Snapshots.changes(spark, w, "t", fromExclusive = -1L).collect()
    }
    assert(err.getMessage.contains("overwrite"))
    // ...and the plain-append stream fails by default, skips when asked.
    val out = wh("whBwStreamOut")
    intercept[Exception] {
      val q = spark.readStream.format("graft-snapshots")
        .option("warehouse", w).option("table", "t").load()
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", wh("whBwCkpt1"))
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    val q2 = spark.readStream.format("graft-snapshots")
      .option("warehouse", w).option("table", "t")
      .option("skipChangeCommits", "true").load()
      .writeStream.format("parquet")
      .option("path", out + "2").option("checkpointLocation", wh("whBwCkpt2"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q2.awaitTermination()
    assert(spark.read.parquet(out + "2").select("id").as[Long]
      .collect().sameElements(Array(1L))) // v0's append only, by contract
  }
}
