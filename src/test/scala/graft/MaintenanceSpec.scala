package graft

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.ingest.{Compaction, Snapshots, TxnCommit}

/** Async auto-compaction lifecycle: per-table trigger collapse and
  * shutdown ordering. Runs with its OWN SparkSession because the shutdown
  * case stops it mid-suite — nothing here may share a session with other
  * specs. */
class MaintenanceSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private lazy val dir = Files.createTempDirectory("graft-maint")
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

  override def afterAll(): Unit =
    if (spark != null && !spark.sparkContext.isStopped) spark.stop()

  /** Publish one small single-file batch into `table`. */
  private def publishSmall(w: String, table: String, ids: Seq[Long]): Unit = {
    val s0 = spark
    import s0.implicits._
    val cid = java.util.UUID.randomUUID().toString
    ids.toDF("id").coalesce(1)
      .write.parquet(s"${TxnCommit.stagingDir(w, cid)}/$table")
    val mv = TxnCommit.movesFor(fs, w, cid, table)
    TxnCommit.commit(fs, w, cid, mv)
    TxnCommit.publish(fs, w, cid, mv)
  }

  /** Park the maintenance thread behind a latch so queued runs are
    * observable; returns the release latch. */
  private def blockMaintenance(): CountDownLatch = {
    val release = new CountDownLatch(1)
    Compaction.maintenanceThread.submit(new Runnable {
      override def run(): Unit = release.await(60, TimeUnit.SECONDS)
    })
    release
  }

  /** Wait until every task queued so far has drained. */
  private def drainMaintenance(): Unit =
    Compaction.maintenanceThread.submit(new Runnable {
      override def run(): Unit = ()
    }).get(60, TimeUnit.SECONDS)

  test("async triggers collapse PER TABLE, not globally") {
    val w = wh("perTable")
    Seq("a", "b").foreach { t =>
      (0 until 3).foreach(i => publishSmall(w, t, Seq(i.toLong)))
      Snapshots.setProperties(fs, w, t, Map(
        "graft.autoCompact.minFiles" -> "2",
        "graft.autoCompact.targetBytes" -> (64L * 1024 * 1024).toString,
        "graft.autoCompact.async" -> "true"))
    }
    val release = blockMaintenance()
    try {
      // Table a: one in-flight (parked behind the blocker), one queued,
      // third drops — the per-table collapse.
      (0 until 3).foreach(_ => Compaction.autoCompact(spark, w, "a", Set.empty))
      // Table b's trigger must QUEUE despite a's saturation — under a
      // JVM-global counter it would drop and b would stay fragmented
      // until its next commit.
      Compaction.autoCompact(spark, w, "b", Set.empty)
    } finally release.countDown()
    drainMaintenance()
    assert(Snapshots.snapshot(fs, w).files("a").size == 1,
      "table a never compacted")
    assert(Snapshots.snapshot(fs, w).files("b").size == 1,
      "table b's trigger was dropped by another table's saturation")
  }

  test("queued maintenance never lands a commit after spark.stop() begins") {
    val w = wh("shutdown")
    (0 until 3).foreach(i => publishSmall(w, "t", Seq(i.toLong)))
    Snapshots.setProperties(fs, w, "t", Map(
      "graft.autoCompact.minFiles" -> "2",
      "graft.autoCompact.targetBytes" -> (64L * 1024 * 1024).toString,
      "graft.autoCompact.async" -> "true"))
    val hadoopConf = new org.apache.hadoop.conf.Configuration(
      spark.sparkContext.hadoopConfiguration)
    val vBefore = Snapshots.latestVersion(
      new Path(w).getFileSystem(hadoopConf), w).get
    val release = blockMaintenance()
    // Queue the compaction behind the blocker, then stop the session
    // BEFORE releasing: the queued run must notice and abandon, never
    // publish into a warehouse whose session is gone.
    Compaction.autoCompact(spark, w, "t", Set.empty)
    spark.stop()
    release.countDown()
    drainMaintenance()
    val fsAfter = new Path(w).getFileSystem(hadoopConf)
    assert(Snapshots.latestVersion(fsAfter, w).contains(vBefore),
      "a maintenance commit landed after spark.stop()")
    assert(Snapshots.snapshot(fsAfter, w).files("t").size == 3)
  }
}
