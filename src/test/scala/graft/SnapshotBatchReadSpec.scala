package graft

import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.ingest.{Merge, Snapshots, TxnCommit}

/** Batch DSv2 entry point for the table format:
  * `spark.read.format("graft-snapshots")` must serve exactly what
  * `Snapshots.read` serves — pinned snapshot, time travel, partition
  * columns, schema evolution — via the V1 relation fallback that delegates
  * to the log-pinned vectorized plan. */
class SnapshotBatchReadSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private lazy val dir = Files.createTempDirectory("graft-batchread")
  private def wh(name: String) = dir.resolve(name).toString
  private def fs = new Path(dir.toString)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def pub(w: String, table: String, df: DataFrame,
                  partitionBy: Seq[String] = Nil): Unit = {
    val cid = java.util.UUID.randomUUID().toString
    val writer = df.coalesce(1).write
    (if (partitionBy.isEmpty) writer else writer.partitionBy(partitionBy: _*))
      .parquet(s"${TxnCommit.stagingDir(w, cid)}/$table")
    val moves = TxnCommit.movesFor(fs, w, cid, table)
    TxnCommit.commit(fs, w, cid, moves)
    TxnCommit.publish(fs, w, cid, moves)
  }

  private def load(w: String, table: String,
                   opts: Map[String, String] = Map.empty): DataFrame =
    opts.foldLeft(spark.read.format("graft-snapshots")
        .option("warehouse", w).option("table", table)) {
      case (r, (k, v)) => r.option(k, v)
    }.load()

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("batch read ≡ Snapshots.read on a partitioned, schema-evolved table") {
    val w = wh("whBatch")
    val s0 = spark
    import s0.implicits._
    pub(w, "t", (0 until 10).map(i => (i.toLong, s"2024-01-0${i % 2 + 1}"))
      .toDF("id", "dt"), partitionBy = Seq("dt"))
    // Additive evolution: second commit adds `score`.
    pub(w, "t", (10 until 20).map(i => (i.toLong, s"2024-01-0${i % 2 + 1}", i * 1.5))
      .toDF("id", "dt", "score").select("id", "score", "dt"),
      partitionBy = Seq("dt"))

    val api = Snapshots.read(spark, w, "t", mergeSchema = true)
    val dsv2 = load(w, "t", Map("mergeSchema" -> "true"))
    assert(dsv2.columns.sorted.sameElements(api.columns.sorted))
    assert(sortedRows(dsv2.select("id", "score", "dt")) ==
      sortedRows(api.select("id", "score", "dt")))
    assert(dsv2.count() == 20)
    // Partition column served and usable in predicates + projections.
    assert(dsv2.filter($"dt" === "2024-01-02").count() == 10)
    assert(dsv2.filter($"id" < 5L && $"dt" === "2024-01-01")
      .select("id").as[Long].collect().sorted.sameElements(Array(0L, 2L, 4L)))
  }

  test("versionAsOf/timestampAsOf time travel; load() pins the snapshot") {
    val w = wh("whTravel")
    val s0 = spark
    import s0.implicits._
    pub(w, "t", (1 to 5).map(_.toLong).toDF("id"))   // v0
    val pinned = load(w, "t")
    pub(w, "t", (6 to 9).map(_.toLong).toDF("id"))   // v1
    // The relation resolved its version at load() — later commits invisible.
    assert(pinned.count() == 5)
    assert(load(w, "t").count() == 9)
    assert(load(w, "t", Map("versionAsOf" -> "0")).count() == 5)
    // DML lands a merge commit; history stays readable by version.
    Merge.deleteWhere(spark, w, "t", $"id" >= 8L)
    assert(load(w, "t").count() == 7)
    assert(load(w, "t", Map("versionAsOf" -> "1")).count() == 9)
  }

  test("batch change feed: readChangeFeed serves changes() with version bounds") {
    val w = wh("whCdf")
    val s0 = spark
    import s0.implicits._
    pub(w, "t", Seq((1L, 10L), (2L, 20L)).toDF("id", "v"))  // v0
    pub(w, "t", Seq((3L, 30L)).toDF("id", "v"))             // v1
    Merge.updateWhere(spark, w, "t", $"id" === 2L, Map("v" -> ($"v" + 1L))) // v2
    val feed = load(w, "t",
      Map("readChangeFeed" -> "true", "startingVersion" -> "0"))
    val api = Snapshots.changes(spark, w, "t", fromExclusive = 0L)
    assert(sortedRows(feed) == sortedRows(api))
    assert(feed.filter($"_change_type" === "update_postimage")
      .select("v").as[Long].head() == 21L)
    // Bounded range excludes the merge.
    assert(load(w, "t", Map("readChangeFeed" -> "true",
      "startingVersion" -> "0", "endingVersion" -> "1")).count() == 1)
    // Delta-parity TIMESTAMP bounds: startingTimestamp is INCLUSIVE of
    // commits at/after the instant, endingTimestamp of commits by it.
    val entries = Snapshots.entries(fs, w).filterNot(_.isCheckpoint)
    def fmtTs(v: Long): String = new java.text.SimpleDateFormat(
      "yyyy-MM-dd HH:mm:ss.SSS").format(
      new java.sql.Timestamp(entries.find(_.version == v).get.mtime))
    // From v1's own commit instant: v1 and v2 changes serve (v1's insert
    // + the merge's pre/postimage rows).
    assert(load(w, "t", Map("readChangeFeed" -> "true",
      "startingTimestamp" -> fmtTs(1L))).count() ==
      Snapshots.changes(spark, w, "t", fromExclusive = 0L).count())
    // Ending at v1's instant: only v1's insert (when v2 landed in the
    // same millisecond the window widens — tolerate both).
    val ended = load(w, "t", Map("readChangeFeed" -> "true",
      "startingVersion" -> "0", "endingTimestamp" -> fmtTs(1L))).count()
    assert(ended >= 1 && ended <= 3, s"got $ended")
  }

  test("batch change feed ending at a delete of every row serves the delete rows") {
    val w = wh("whCdfEmptied")
    val s0 = spark
    import s0.implicits._
    pub(w, "t", Seq((1L, "05"), (2L, "abc")).toDF("id", "h"),
      partitionBy = Seq("h"))                                 // v0
    pub(w, "t", Seq((3L, 7.5, "05")).toDF("id", "x", "h"),
      partitionBy = Seq("h"))                                 // v1
    Merge.deleteWhere(spark, w, "t", $"id" > 0L)             // v2: no live files
    val end = Snapshots.snapshot(fs, w).version.get
    val feed = load(w, "t", Map("readChangeFeed" -> "true",
      "startingVersion" -> "0", "endingVersion" -> end.toString))
    val api = Snapshots.changes(spark, w, "t", 0L, Some(end))
    // The feed's own schema: `x` lives only in the range's files, and `h`
    // takes the type the change files carry it at ('abc' is among them,
    // though no in-range ADD tuple holds it).
    assert(feed.schema == api.schema)
    assert(feed.schema("x").dataType.typeName == "double")
    assert(feed.schema("h").dataType.typeName == "string")
    assert(sortedRows(feed.filter($"_change_type" === "delete")
      .select("id", "x", "h")) ==
      Seq("[1,null,05]", "[2,null,abc]", "[3,7.5,05]"))
    assert(sortedRows(feed) == sortedRows(api))
  }

  test("batch read subtracts deletion vectors, with and without pushed filters") {
    val s0 = spark
    import s0.implicits._
    val w = wh("whDvBatch")
    pub(w, "t", (0L until 20L).map(i => (i, s"n$i")).toDF("id", "name"))
    Merge.deleteWhereDv(spark, w, "t",
      org.apache.spark.sql.functions.col("id") % 4 === 0)
    val viaFormat = load(w, "t").select("id").as[Long].collect().sorted.toSeq
    assert(viaFormat == (0L until 20L).filterNot(_ % 4 == 0))
    // A pushed filter composes with the vector subtraction.
    val filtered = load(w, "t").filter($"id" > 10).select("id")
      .as[Long].collect().sorted.toSeq
    assert(filtered == (11L until 20L).filterNot(_ % 4 == 0))
  }

  test("pushdown that prunes every evolved-schema file still serves the column as nulls") {
    val w = wh("whEvoPrune")
    val s0 = spark
    import s0.implicits._
    pub(w, "t", (0 until 10).map(_.toLong).toDF("id"))             // (id)
    pub(w, "t", (10 until 20).map(i => (i.toLong, i * 1.0))
      .toDF("id", "score"))                                        // (id, score)
    val df = load(w, "t", Map("mergeSchema" -> "true"))
    // id < 5 skips every file that CARRIES score; the relation must keep
    // its advertised schema and read the column as null, not throw.
    val rows = df.filter($"id" < 5L).select("id", "score")
      .as[(Long, Option[Double])].collect().sortBy(_._1)
    assert(rows.length == 5 && rows.forall(_._2.isEmpty))
    assert(df.filter($"id" < 5L && $"score".isNull).count() == 5)
    // And the mixed case still serves real values.
    assert(df.filter($"id" === 15L).select("score").as[Double].head() == 15.0)
  }

  test("NaN-valued pushed filters never prune files (Spark orders NaN greatest)") {
    val w = wh("whNaN")
    val s0 = spark
    import s0.implicits._
    pub(w, "t", Seq((1L, 1.5), (2L, 2.5)).toDF("id", "d"))
    pub(w, "t", Seq((3L, Double.NaN)).toDF("id", "d"))
    val df = load(w, "t")
    // d < NaN is true for every non-NaN row in Spark's ordering; a
    // compare-based stats check would prune everything.
    assert(df.filter($"d" < Double.NaN).count() == 2)
    assert(df.filter($"d" >= Double.NaN).select("id").as[Long].head() == 3L)
    // A NaN stats bound (file 2's min=max=NaN) must not mislead either.
    assert(df.filter($"d" > 2.0).count() == 2) // 2.5 and NaN
  }

  test("filters and projections prune through to the inner plan correctly") {
    val w = wh("whPrune")
    val s0 = spark
    import s0.implicits._
    // Disjoint id ranges → verify filter+projection correctness end to end
    // (file skipping itself is covered by FileStatsSpec; here the contract
    // is that pushed filters/columns never change results).
    (0 until 4).foreach(i => pub(w, "t",
      (i * 10 until i * 10 + 10).map(k => (k.toLong, s"v$k")).toDF("id", "val")))
    val df = load(w, "t")
    assert(df.filter($"id".between(15L, 17L)).select("val").as[String]
      .collect().sorted.sameElements(Array("v15", "v16", "v17")))
    assert(df.filter(!($"id" < 30L)).count() == 10)
    assert(df.filter($"val".startsWith("v2") && $"id" =!= 2L).count() == 10)
    assert(df.select("id").distinct().count() == 40)
    assert(df.count() == 40) // empty projection (count star) works
  }
}
