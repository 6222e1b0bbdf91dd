package graft

import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{IntegerType, StringType}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.ingest.{Compaction, Merge, Snapshots, TxnCommit}

/** Partitioned tables INSIDE the snapshot log: `dt=…` layouts carried
  * through stage/commit/publish, partition tuples recorded on ADD lines,
  * log-side partition pruning, and partition-preserving maintenance
  * (compaction / merge). Closes the round-7 gap where a table could have
  * snapshot isolation OR partition pruning but not both. */
class PartitionedTableSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private lazy val dir = Files.createTempDirectory("graft-parttab")
  private def wh(name: String) = dir.resolve(name).toString
  private def fs = new Path(dir.toString)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      // keep dt a STRING so assertions don't depend on date inference
      .config("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** Stage + commit + publish one batch of (id, dt) rows partitioned by dt. */
  private def publishPartitioned(warehouse: String, table: String,
                                 rows: Seq[(Long, String)]): String = {
    val commitId = java.util.UUID.randomUUID().toString
    val staging = s"${TxnCommit.stagingDir(warehouse, commitId)}/$table"
    val s0 = spark
    import s0.implicits._
    rows.toDF("id", "dt").coalesce(1).write.partitionBy("dt").parquet(staging)
    val moves = TxnCommit.movesFor(fs, warehouse, commitId, table)
    TxnCommit.commit(fs, warehouse, commitId, moves)
    TxnCommit.publish(fs, warehouse, commitId, moves)
    commitId
  }

  private def days(d: Int) = f"2024-01-$d%02d"

  /** Stage + commit + publish `df` partitioned by `part`, one file per
    * partition value. */
  private def publishBy(warehouse: String, table: String,
                        df: org.apache.spark.sql.DataFrame,
                        part: String): Unit = {
    val commitId = java.util.UUID.randomUUID().toString
    df.coalesce(1).write.partitionBy(part)
      .parquet(s"${TxnCommit.stagingDir(warehouse, commitId)}/$table")
    val moves = TxnCommit.movesFor(fs, warehouse, commitId, table)
    TxnCommit.commit(fs, warehouse, commitId, moves)
    TxnCommit.publish(fs, warehouse, commitId, moves)
  }

  /** `body` with Spark's partition-column type inference on (this spec
    * keeps it off elsewhere). */
  private def inferring[T](body: => T): T = {
    val key = "spark.sql.sources.partitionColumnTypeInference.enabled"
    spark.conf.set(key, "true")
    try body finally spark.conf.set(key, "false")
  }

  /** Spark jobs started while `body` runs. */
  private def jobs(body: => Any): Int = {
    val sc = spark.sparkContext
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    org.apache.spark.ListenerBusDrain.drain(sc)
    sc.addSparkListener(l)
    try { body; org.apache.spark.ListenerBusDrain.drain(sc) }
    finally sc.removeSparkListener(l)
    n.get
  }

  test("partitioned publish lands dt=… files under the log with recorded tuples") {
    val w = wh("whPub")
    publishPartitioned(w, "t", Seq(1L -> days(1), 2L -> days(1), 3L -> days(2)))
    val pf = Snapshots.snapshot(fs, w).files("t").map(a => (a.file, a.partition))
    assert(pf.size == 2) // one file per dt value
    assert(pf.map(_._2).toSet == Set(s"dt=${days(1)}", s"dt=${days(2)}"))
    pf.foreach { case (f, spec) =>
      assert(f.contains(s"/$spec/"), s"file $f not under its partition dir")
      assert(fs.exists(new Path(f)))
    }
    // The dt column survives the read, values intact.
    val got = Snapshots.read(spark, w, "t")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> days(1), 2L -> days(1), 3L -> days(2)))
  }

  test("log-side partition pruning plans only matching files; Spark sees dt as a partition column") {
    val w = wh("whPrune")
    (1 to 4).foreach(d => publishPartitioned(w, "t",
      Seq((d * 10L) -> days(d), (d * 10L + 1) -> days(d))))
    val all = Snapshots.read(spark, w, "t")
    assert(all.inputFiles.length == 4)
    // Driver-side pruning from the log's partition tuples — before planning.
    val pruned = Snapshots.read(spark, w, "t",
      partitionFilter = m => m("dt") >= days(3))
    assert(pruned.inputFiles.length == 2,
      s"expected 2 planned files, got ${pruned.inputFiles.mkString(",")}")
    assert(pruned.count() == 4)
    assert(pruned.agg(org.apache.spark.sql.functions.min("dt")).head.getString(0) == days(3))
    // And dt is a real partition column: a filter on it shows up as a
    // PartitionFilter in the scan, not a data filter.
    val plan = all.filter(col("dt") === days(2))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("dt"),
      s"dt filter not recognized as partition filter:\n$plan")
    assert(all.filter(col("dt") === days(2)).count() == 2)
  }

  test("snapshot isolation and time travel hold for partitioned tables") {
    val w = wh("whIso")
    publishPartitioned(w, "t", Seq(1L -> days(1)))
    val pinned = Snapshots.read(spark, w, "t")
    assert(pinned.count() == 1)
    publishPartitioned(w, "t", Seq(2L -> days(2)))
    assert(pinned.count() == 1) // pinned file list is immune
    assert(Snapshots.read(spark, w, "t").count() == 2)
    assert(Snapshots.read(spark, w, "t", asOf = Some(0L)).count() == 1)
  }

  test("compaction preserves the partition column and layout") {
    val w = wh("whComp")
    (0 until 4).foreach { i =>
      publishPartitioned(w, "t",
        Seq((i * 10L) -> days(1 + i % 2), (i * 10L + 1) -> days(1 + i % 2)))
    }
    assert(Snapshots.snapshot(fs, w).files("t").map(a => (a.file, a.partition)).size == 4)
    val before = Snapshots.read(spark, w, "t")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toSet

    val res = Compaction.compact(spark, w, "t").get
    assert(res.filesBefore == 4)
    val pf = Snapshots.snapshot(fs, w).files("t").map(a => (a.file, a.partition))
    // Every compacted file still lives under a dt=… dir with its tuple
    // recorded; both partitions survive.
    assert(pf.forall(_._2.startsWith("dt=")), s"lost partition layout: $pf")
    assert(pf.map(_._2).toSet == Set(s"dt=${days(1)}", s"dt=${days(2)}"))
    val after = Snapshots.read(spark, w, "t")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toSet
    assert(after == before)
    // Pruning still works post-compaction.
    assert(Snapshots.read(spark, w, "t",
      partitionFilter = m => m("dt") == days(1)).inputFiles.length < pf.size)
    // Time travel back to the pre-compaction layout still reads.
    assert(Snapshots.read(spark, w, "t", asOf = Some(3L)).count() == 8)
  }

  test("merge upserts into a partitioned table without dropping dt") {
    val w = wh("whMerge")
    val s0 = spark
    import s0.implicits._
    publishPartitioned(w, "t", Seq(1L -> days(1), 2L -> days(1)))
    publishPartitioned(w, "t", Seq(3L -> days(2)))
    val updates = Seq(2L -> days(1), 4L -> days(2)).toDF("id", "dt")
    val res = Merge.upsert(spark, w, "t", updates, Seq("id"))
    assert(res.rowsMatched == 1)
    val got = Snapshots.read(spark, w, "t")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toSet
    assert(got == Set(1L -> days(1), 2L -> days(1), 3L -> days(2), 4L -> days(2)))
    // Rewrite kept the Hive layout + recorded tuples.
    assert(Snapshots.snapshot(fs, w).files("t").forall(_.partition.startsWith("dt=")))
  }

  test("partition layout evolution: a flat era and a dt= era read together") {
    val w = wh("whEvolve")
    val s0 = spark
    import s0.implicits._
    // Era 1: FLAT files (no partition column).
    val cid = java.util.UUID.randomUUID().toString
    Seq(Tuple1(1L), Tuple1(2L)).toDF("id").coalesce(1)
      .write.parquet(s"${TxnCommit.stagingDir(w, cid)}/t")
    val mv = TxnCommit.movesFor(fs, w, cid, "t")
    TxnCommit.commit(fs, w, cid, mv); TxnCommit.publish(fs, w, cid, mv)
    // Era 2: the table re-partitions by dt going forward.
    publishPartitioned(w, "t", Seq(3L -> days(1), 4L -> days(2)))
    val got = Snapshots.read(spark, w, "t")
    assert(got.columns.toSet == Set("id", "dt"))
    // Old rows read dt as null (additive semantics); new rows carry it.
    assert(got.collect().map(r =>
        r.getLong(0) -> (if (r.isNullAt(1)) null else r.getString(1))).toSet ==
      Set(1L -> null, 2L -> null, 3L -> days(1), 4L -> days(2)))
    // Partition pruning still plans only the matching dt files; the flat
    // era cannot be pruned by a partition filter and is kept.
    val prunedRows = Snapshots.read(spark, w, "t",
      partitionFilter = m => m.isEmpty || m.get("dt").contains(days(2)))
    assert(prunedRows.select("id").as[Long].collect().toSet == Set(1L, 2L, 4L))
  }

  test("DML and compaction span a layout-evolved table (flat + dt= eras)") {
    val w = wh("whEvolveDml")
    val s0 = spark
    import s0.implicits._
    // Era 1: FLAT files; era 2: dt= partitioned — both live under one root.
    val cid = java.util.UUID.randomUUID().toString
    Seq(Tuple1(1L), Tuple1(2L)).toDF("id").coalesce(1)
      .write.parquet(s"${TxnCommit.stagingDir(w, cid)}/t")
    val mv = TxnCommit.movesFor(fs, w, cid, "t")
    TxnCommit.commit(fs, w, cid, mv); TxnCommit.publish(fs, w, cid, mv)
    publishPartitioned(w, "t", Seq(3L -> days(1), 4L -> days(2)))
    // DELETE spanning both eras: one flat-era row and one dt-era row.
    val r = Merge.deleteWhere(spark, w, "t", col("id").isin(2L, 3L))
    assert(r.rowsMatched == 2, s"matched ${r.rowsMatched}")
    def ids() = Snapshots.read(spark, w, "t")
      .select("id").as[Long].collect().sorted.toSeq
    assert(ids() == Seq(1L, 4L))
    // UPDATE across eras.
    Merge.updateWhere(spark, w, "t", col("id") === 1L,
      Map("id" -> org.apache.spark.sql.functions.lit(10L)))
    assert(ids() == Seq(4L, 10L))
    // Keyed MERGE (upsert) across eras.
    Merge.upsert(spark, w, "t",
      Seq(10L -> days(3), 5L -> days(3)).toDF("id", "dt"), Seq("id"))
    assert(ids() == Seq(4L, 5L, 10L))
    // OPTIMIZE (compaction) over the mixed eras still reads + rewrites.
    Compaction.compact(spark, w, "t", minInputFiles = 2)
    assert(ids() == Seq(4L, 5L, 10L))
  }

  test("changes() on a partitioned table keeps the dt column") {
    val w = wh("whCdc")
    publishPartitioned(w, "t", Seq(1L -> days(1)))
    publishPartitioned(w, "t", Seq(2L -> days(2)))
    val delta = Snapshots.changes(spark, w, "t", fromExclusive = 0L)
    assert(delta.columns.toSeq ==
      Seq("id", "dt", "_change_type", "_commit_version"))
    assert(delta.select("id", "dt").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toSeq == Seq(2L -> days(2)))
  }

  test("a stats-pruned readWhere serves the table's partition type") {
    val s0 = spark
    import s0.implicits._
    inferring {
      val w = wh("whWhereType")
      publishBy(w, "p",
        Seq((1L, "05"), (2L, "1.50"), (3L, "abc")).toDF("id", "h"), "h")
      // The table's tuples type `h` as STRING; the h=05 file that stats
      // pruning leaves would alone infer INT 5.
      val df = Snapshots.readWhere(spark, w, "p", col("id") === 1L)
      assert(df.schema("h").dataType == StringType)
      assert(df.select("id", "h").as[(Long, String)].collect().toSeq ==
        Seq(1L -> "05"))
    }
  }

  test("a partition-filtered read keeps the table's partition type") {
    val s0 = spark
    import s0.implicits._
    inferring {
      val w = wh("whFilterType")
      publishBy(w, "p",
        Seq((1L, "05"), (2L, "1.50"), (3L, "abc")).toDF("id", "h"), "h")
      // Without h=abc the surviving tuples would infer DOUBLE 5.0 / 1.5.
      val df = Snapshots.read(spark, w, "p",
        partitionFilter = m => !m.get("h").contains("abc"))
      assert(df.schema("h").dataType == StringType)
      assert(df.select("h").as[String].collect().toSeq.sorted ==
        Seq("05", "1.50"))
    }
  }

  test("updateWhere leaves a partition value it did not assign untouched") {
    val s0 = spark
    import s0.implicits._
    inferring {
      val w = wh("whUpdType")
      publishBy(w, "u",
        Seq((1L, 1L, "05"), (2L, 2L, "abc")).toDF("id", "x", "h"), "h")
      Merge.updateWhere(spark, w, "u", col("id") === 1L,
        Map("x" -> org.apache.spark.sql.functions.lit(11L)))
      assert(Snapshots.read(spark, w, "u").filter(col("id") === 1L)
        .select("x", "h").as[(Long, String)].collect().toSeq == Seq(11L -> "05"))
      // The rewrite stays under its directory: no h=5 tuple appears.
      assert(Snapshots.snapshot(fs, w).files("u").map(_.partition).toSet ==
        Set("h=05", "h=abc"))
    }
  }

  test("an undeclared all-numeric partition column is rewritten at its inferred value") {
    // Current behaviour, not the goal: with no declared type the served
    // type is Spark's inference over the live tuples, INT here, and a DML
    // rewrite writes the row back under the directory of its typed value.
    // Writing each row back under its source file's recorded tuple (or
    // recording partition types in the log) would keep `h=05`.
    val s0 = spark
    import s0.implicits._
    inferring {
      val w = wh("whUpdNumeric")
      publishBy(w, "u",
        Seq((1L, 1L, "05"), (2L, 2L, "07")).toDF("id", "x", "h"), "h")
      assert(Snapshots.read(spark, w, "u").schema("h").dataType == IntegerType)
      Merge.updateWhere(spark, w, "u", col("id") === 1L,
        Map("x" -> org.apache.spark.sql.functions.lit(11L)))
      assert(Snapshots.snapshot(fs, w).files("u").map(_.partition).toSet ==
        Set("h=5", "h=07"))
      assert(Snapshots.read(spark, w, "u").select("id", "x", "h")
        .as[(Long, Long, Int)].collect().toSeq.sorted ==
        Seq((1L, 11L, 5), (2L, 2L, 7)))
    }
  }

  test("planning a partitioned read or readWhere runs no Spark job") {
    val w = wh("whPlanJobs")
    publishPartitioned(w, "t", Seq(1L -> days(1), 2L -> days(2)))
    Snapshots.read(spark, w, "t") // warms the footer cache
    assert(jobs(Snapshots.read(spark, w, "t").schema) == 0)
    assert(jobs(Snapshots.readWhere(spark, w, "t", col("id") === 1L)) == 0)
  }
}
