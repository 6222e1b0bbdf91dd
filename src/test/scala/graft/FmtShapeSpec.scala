package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.ingest.{Snapshots, TxnCommit}

/** Protocol-overhead pins for the `fmt_*` gate entries: exact commit
  * counts on the build side and exact log-I/O counts on the steady-state
  * read side. Bench timings drift with co-tenant load (r16's
  * llm_repetition, r19's fmt_replace…fmt_sql_insert stall — all
  * adjudicated environmental); these counters are pure functions of the
  * code and the built warehouse, so a REAL protocol regression (an extra
  * commit, a fold that stopped hitting its cache, a listing that went
  * O(history)) changes an integer here and can never hide behind noise. */
class FmtShapeSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val sfDir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.extensions", "graft.sql.GraftSqlExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def fs = new Path("/tmp")
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The warehouse a built entry reads from: walk up from any planned
    * file to the directory holding `_snapshots`. */
  private def warehouseOf(df: DataFrame): String = {
    var p = new Path(df.inputFiles.head).getParent
    while (p != null && !fs.exists(new Path(p, "_snapshots"))) p = p.getParent
    require(p != null, "no _snapshots above " + df.inputFiles.head)
    p.toUri.getPath
  }

  /** Pin one entry: `wantDeltas` log versions written by the build (the
    * commit count), then — after a warm run settles the fold cache —
    * `wantReads` entry-file opens and `wantLists` listing cost for one
    * steady-state evaluation. All exact integers. */
  private def pin(name: String, wantDeltas: Int, wantReads: Long,
                  wantLists: Long): Unit = {
    val fn = SparkEntry.queries(name)
    fn(spark, sfDir).collect() // build (Fixtures.once) + first fold
    val warm = fn(spark, sfDir)
    warm.collect() // settle caches deterministically
    val w = warehouseOf(warm)
    val deltas = Snapshots.entries(fs, w).filterNot(_.isCheckpoint)
    assert(deltas.size == wantDeltas,
      s"$name: build wrote ${deltas.size} commits, pinned $wantDeltas " +
        s"(versions: ${deltas.map(_.version)})")
    Snapshots.logReads.set(0)
    Snapshots.logLists.set(0)
    fn(spark, sfDir).collect()
    val (reads, lists) = (Snapshots.logReads.get(), Snapshots.logLists.get())
    assert(reads == wantReads && lists == wantLists,
      s"$name: steady-state cost (reads=$reads, lists=$lists), " +
        s"pinned (reads=$wantReads, lists=$wantLists)")
  }

  test("fmt_replace: 4 commits; steady-state read is listing-only") {
    pin("fmt_replace", wantDeltas = 4, wantReads = 0L, wantLists = 45L)
  }

  test("fmt_roundtrip: 3 commits; steady-state read is listing-only") {
    pin("fmt_roundtrip", wantDeltas = 3, wantReads = 0L, wantLists = 7L)
  }

  test("fmt_sql_ctas: 1 commit; steady-state read is listing-only") {
    pin("fmt_sql_ctas", wantDeltas = 1, wantReads = 0L, wantLists = 3L)
  }

  test("fmt_sql_insert: 2 commits; steady-state read is listing-only") {
    pin("fmt_sql_insert", wantDeltas = 2, wantReads = 0L, wantLists = 5L)
  }

  /** Log listings `body` pays. */
  private def lists(body: => Unit): Long = {
    Snapshots.logLists.set(0)
    body
    Snapshots.logLists.get()
  }

  /** A 5-version warehouse holding one flat table `t`. */
  private def smallWarehouse(): String = {
    val w = java.nio.file.Files.createTempDirectory("graft-fmtshape")
      .resolve("w").toString
    val s0 = spark
    import s0.implicits._
    (0 until 5).foreach { i =>
      val cid = java.util.UUID.randomUUID().toString
      Seq((i.toLong, s"v$i")).toDF("id", "v").coalesce(1).write
        .parquet(s"${TxnCommit.stagingDir(w, cid)}/t")
      val moves = TxnCommit.movesFor(fs, w, cid, "t")
      TxnCommit.commit(fs, w, cid, moves)
      TxnCommit.publish(fs, w, cid, moves)
    }
    w
  }

  test("a latest-version read or readWhere lists the log once, like latestVersion") {
    import org.apache.spark.sql.functions.col
    val w = smallWarehouse()
    Snapshots.readWhere(spark, w, "t", col("id") > 2).collect() // warm caches
    val one = lists(Snapshots.latestVersion(fs, w))
    assert(one > 0)
    assert(lists(Snapshots.read(spark, w, "t")) == one)
    assert(lists(Snapshots.readWhere(spark, w, "t", col("id") > 2)) == one)
  }

  test("one catalog SELECT through GraftCatalog lists the log a pinned number of times") {
    val w = smallWarehouse()
    spark.conf.set("spark.sql.catalog.gshape",
      classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gshape.warehouse", w)
    val q = "SELECT id, v FROM gshape.t WHERE id > 2"
    assert(spark.sql(q).collect().map(_.getLong(0)).sorted.sameElements(Seq(3L, 4L)))
    // Two log walks: loadTable pins the version, then the splice plans at
    // that version. Each walk lists the 11 log files (5 entries, their 5
    // claim locks, the footer-era marker).
    val one = lists(Snapshots.latestVersion(fs, w))
    val select = lists(spark.sql(q).collect())
    assert(one == 11L && select == 22L, s"one catalog SELECT paid $select " +
      s"log lists (one latestVersion: $one), pinned 22 (11)")
  }
}
