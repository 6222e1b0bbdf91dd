package graft

import java.net.URI
import java.nio.file.Files
import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.ingest.{Compaction, Merge, Snapshots, TxnCommit}

/** RawLocalFileSystem that lands a rival commit right after the n-th
  * listing of a `_snapshots` log dir — between an operation's first log
  * read and its commit. Arm with [[RivalAfterListFs.arm]]. Below
  * `CheckpointInterval` versions every log walk is one such listing. */
class RivalAfterListFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("rivallist:///")
  override def listStatus(f: Path): Array[FileStatus] = {
    val out = super.listStatus(f)
    if (f.getName == "_snapshots" &&
        RivalAfterListFs.countdown.decrementAndGet() == 0)
      RivalAfterListFs.rival()
    out
  }
}
object RivalAfterListFs {
  private val countdown = new java.util.concurrent.atomic.AtomicInteger(0)
  @volatile private var rival: () => Unit = () => ()
  /** Run `body` with `onList` firing after its `n`-th log listing. */
  def arm[A](n: Int)(onList: => Unit)(body: => A): A = {
    rival = () => onList
    countdown.set(n)
    try body finally countdown.set(0)
  }
}

/** Zero-copy shallow clones: one metadata commit shares the source's live
  * files, the clone diverges independently (reads group per root dir),
  * and warehouse-wide vacuum reference sweeps keep shared files alive
  * while either table needs them. */
class CloneSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private lazy val dir = Files.createTempDirectory("graft-clone")
  private def wh(name: String) = dir.resolve(name).toString
  private def fs = new Path(dir.toString)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.extensions", "graft.sql.GraftSqlExtensions")
      .config("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
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

  test("flat clone: zero data movement, snapshot + as-of fidelity") {
    val w = wh("flat")
    val s0 = spark
    import s0.implicits._
    pub(w, "src", (0L until 10L).map(i => (i, s"a$i")).toDF("id", "v")) // v0
    pub(w, "src", (10L until 15L).map(i => (i, s"b$i")).toDF("id", "v")) // v1
    Snapshots.cloneTable(spark, w, "src", "dst")
    // No file landed under the clone's directory — pure metadata.
    assert(!fs.exists(new Path(s"$w/dst")) ||
      fs.listStatus(new Path(s"$w/dst")).isEmpty)
    assert(Snapshots.read(spark, w, "dst").select("id").as[Long]
      .collect().sorted.sameElements(0L until 15L))
    // As-of clone pins the source's HISTORICAL file list.
    Snapshots.cloneTable(spark, w, "src", "dstV0", asOf = Some(0L))
    assert(Snapshots.read(spark, w, "dstV0").select("id").as[Long]
      .collect().sorted.sameElements(0L until 10L))
    // Source DML after the clone does not leak into it.
    Merge.deleteKeys(spark, w, "src", Seq(3L).toDF("id"), Seq("id"))
    assert(Snapshots.read(spark, w, "dst").count() == 15)
    assert(Snapshots.read(spark, w, "src").count() == 14)
  }

  test("partitioned clone diverges: appends and DML read across roots") {
    val w = wh("part")
    val s0 = spark
    import s0.implicits._
    pub(w, "src", Seq((1L, "d1"), (2L, "d2"), (3L, "d2")).toDF("id", "dt"),
      partitionBy = Seq("dt"))
    Snapshots.cloneTable(spark, w, "src", "dst")
    // Divergence 1: a NEW append lands under the clone's own directory —
    // the read now spans two roots, partition column intact for both.
    pub(w, "dst", Seq((4L, "d3")).toDF("id", "dt"), partitionBy = Seq("dt"))
    assert(Snapshots.read(spark, w, "dst").as[(Long, String)].collect().toSet ==
      Set(1L -> "d1", 2L -> "d2", 3L -> "d2", 4L -> "d3"))
    // Partition pruning still works across roots.
    assert(Snapshots.read(spark, w, "dst",
        partitionFilter = m => m.get("dt").contains("d2"))
      .select("id").as[Long].collect().sorted.toSeq == Seq(2L, 3L))
    // Divergence 2: DML on the clone rewrites into ITS dir; src untouched.
    Merge.deleteWhere(spark, w, "dst", col("id") === 2L)
    assert(Snapshots.read(spark, w, "dst").select("id").as[Long]
      .collect().sorted.toSeq == Seq(1L, 3L, 4L))
    assert(Snapshots.read(spark, w, "src").count() == 3)
    // Divergence 3: compaction pulls everything into the clone's dir.
    Compaction.compact(spark, w, "dst")
    assert(Snapshots.fileMeta(fs, w, "dst").get
      .forall(_.file.startsWith(s"$w/dst/")))
    assert(Snapshots.read(spark, w, "dst").select("id").as[Long]
      .collect().sorted.toSeq == Seq(1L, 3L, 4L))
  }

  test("change feed of a partitioned clone serves its rows as inserts") {
    val w = wh("partFeed")
    val s0 = spark
    import s0.implicits._
    pub(w, "src", Seq((1L, "d1"), (2L, "d2"), (3L, "d2")).toDF("id", "dt"),
      partitionBy = Seq("dt"))
    Snapshots.cloneTable(spark, w, "src", "dst")
    // The clone's files root in the SOURCE's dir: the feed must read them
    // under that root, as read() does.
    val feed = Snapshots.changes(spark, w, "dst", fromExclusive = -1L)
      .select("id", "dt", "_change_type").as[(Long, String, String)]
      .collect().toSet
    val read = Snapshots.read(spark, w, "dst").as[(Long, String)].collect()
      .map { case (id, dt) => (id, dt, "insert") }.toSet
    assert(feed == read && read.size == 3, s"feed $feed vs read $read")
  }

  test("deletion vectors ride the clone") {
    val w = wh("dv")
    val s0 = spark
    import s0.implicits._
    pub(w, "src", (0L until 50L).map(i => (i, i * 2)).toDF("id", "v"))
    Merge.deleteWhereDv(spark, w, "src", col("id") === 7L)
    Snapshots.cloneTable(spark, w, "src", "dst")
    assert(Snapshots.read(spark, w, "dst").count() == 49)
    assert(Snapshots.read(spark, w, "dst").filter(col("id") === 7L).count() == 0)
  }

  test("required features and identity marks ride the clone; drop clears them") {
    val w = wh("feat")
    val s0 = spark
    import s0.implicits._
    pub(w, "src", (0L until 20L).map(i => (i, i * 2)).toDF("id", "v"))
    Merge.deleteWhereDv(spark, w, "src", col("id") === 3L)
    Snapshots.cloneTable(spark, w, "src", "dst")
    // The clone carries DV files, so it needs the DV reader feature — a
    // clone WITHOUT it would dodge the protocol gate and serve deleted
    // rows to naive readers.
    assert(Snapshots.tableFeatures(fs, w, "dst")
      .contains("r:deletionVectors"))
    // Identity marks ride too: the clone continues where the source left
    // off, never re-minting the cloned rows' ids.
    graft.ingest.Identity.declare(spark, w, "idsrc", "row_id")
    graft.ingest.Identity.appendWithIdentity(spark, w, "idsrc",
      (0L until 5L).map(i => (i, s"a$i")).toDF("k", "v").coalesce(1))
    Snapshots.cloneTable(spark, w, "idsrc", "iddst")
    graft.ingest.Identity.appendWithIdentity(spark, w, "iddst",
      (5L until 8L).map(i => (i, s"b$i")).toDF("k", "v").coalesce(1))
    val ids = Snapshots.read(spark, w, "iddst").select("row_id")
      .collect().map(_.getLong(0)).toSeq
    assert(ids.length == 8 && ids.distinct.length == 8,
      s"cloned identity table re-minted ids: $ids")
    // DROP clears the name's features and marks — a re-created table of
    // the same name starts fresh (no stale refusals, ids from 1).
    Snapshots.dropTable(fs, w, "dst")
    assert(Snapshots.tableFeatures(fs, w, "dst").isEmpty)
    Snapshots.dropTable(fs, w, "iddst")
    assert(graft.ingest.Identity.highWaterMark(fs, w, "iddst", "row_id")
      .isEmpty)
  }

  test("vacuum keeps shared files alive until BOTH tables let go") {
    val w = wh("vac")
    val s0 = spark
    import s0.implicits._
    pub(w, "src", (0L until 10L).map(i => (i, s"x$i")).toDF("id", "v"))
    pub(w, "src", (10L until 20L).map(i => (i, s"x$i")).toDF("id", "v"))
    Snapshots.cloneTable(spark, w, "src", "dst")
    val shared = Snapshots.fileMeta(fs, w, "dst").get.map(_.file)
    // The source compacts away its originals; retention window elapsed.
    Compaction.compact(spark, w, "src")
    Snapshots.vacuum(fs, w, keepVersions = 1, minAgeMs = 0L)
    // The clone still references the originals — they must survive.
    shared.foreach(f => assert(fs.exists(new Path(f)),
      s"vacuum reaped $f while the clone still references it"))
    assert(Snapshots.read(spark, w, "dst").count() == 20)
    // Once the clone drops them too, vacuum reclaims.
    Snapshots.dropTable(fs, w, "dst")
    Snapshots.vacuum(fs, w, keepVersions = 1, minAgeMs = 0L)
    shared.foreach(f => assert(!fs.exists(new Path(f)),
      s"vacuum must reclaim $f after both tables dropped it"))
    assert(Snapshots.read(spark, w, "src").count() == 20)
  }

  test("randomized divergence: clone and source track independent models") {
    val w = wh("model")
    val s0 = spark
    import s0.implicits._
    def appendRows(t: String, rows: Seq[(Long, Long)]): Unit =
      pub(w, t, rows.toDF("id", "v"))
    val rng = new scala.util.Random(17)
    val model = Map("src" -> scala.collection.mutable.Map.empty[Long, Long],
      "dst" -> scala.collection.mutable.Map.empty[Long, Long])
    var nextId = 0L
    def fresh(t: String, n: Int): Unit = {
      val ids = (nextId until nextId + n); nextId += n
      ids.foreach(i => model(t)(i) = i * 10)
      appendRows(t, ids.map(i => (i, i * 10)))
    }
    fresh("src", 12)
    fresh("src", 8)
    Snapshots.cloneTable(spark, w, "src", "dst")
    model("dst") ++= model("src")
    (1 to 16).foreach { step =>
      val t = if (rng.nextBoolean()) "src" else "dst"
      rng.nextInt(5) match {
        case 0 => fresh(t, 3 + rng.nextInt(5))
        case 1 => // CoW delete of a residue class
          val k = 2 + rng.nextInt(3); val r = rng.nextInt(k)
          Merge.deleteWhere(spark, w, t, col("id") % k === r)
          model(t).keys.filter(_ % k == r).toSeq.foreach(model(t).remove)
        case 2 => // DV delete of a narrow range
          val lo = rng.nextLong(math.max(1L, nextId))
          Merge.deleteWhereDv(spark, w, t, col("id").between(lo, lo + 4))
          model(t).keys.filter(i => i >= lo && i <= lo + 4)
            .toSeq.foreach(model(t).remove)
        case 3 => // CoW update
          val lo = rng.nextLong(math.max(1L, nextId))
          Merge.updateWhere(spark, w, t, col("id").between(lo, lo + 6),
            Map("v" -> (col("v") + 1)))
          model(t).keys.filter(i => i >= lo && i <= lo + 6)
            .toSeq.foreach(i => model(t)(i) = model(t)(i) + 1)
        case 4 => Compaction.compact(spark, w, t)
      }
      Seq("src", "dst").foreach { tt =>
        val got = Snapshots.read(spark, w, tt).select("id", "v").collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == model(tt).toMap,
          s"table $tt diverged from its model after step $step (op on $t)")
      }
    }
  }

  test("PURGE of a clone spares files its source still references") {
    val w = wh("purge")
    val s0 = spark
    import s0.implicits._
    pub(w, "src", (0L until 8L).map(i => (i, s"p$i")).toDF("id", "v"))
    Snapshots.cloneTable(spark, w, "src", "dst")
    spark.conf.set("spark.sql.catalog.gcl",
      classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gcl.warehouse", w)
    spark.sql("DROP TABLE gcl.dst PURGE")
    // The shared files survive — src still serves them.
    assert(Snapshots.read(spark, w, "src").count() == 8)
    // Purging the LAST referencing table deletes for real.
    spark.sql("DROP TABLE gcl.src PURGE")
    assert(fs.listStatus(new Path(s"$w/src"))
      .count(_.getPath.getName.endsWith(".parquet")) == 0)
  }

  test("drop and clone take their OCC base with their reads: a rival commit aborts them") {
    // Log-only tables (no data files are opened): the rival lands right
    // after the operation's FIRST log read (drop) or right after the read
    // that found `dst` empty (clone). Either the operation aborts with
    // nothing committed, or it committed against a base that includes
    // the rival — a drop never leaves a rival file live, a clone never
    // lands on top of a concurrently created dst.
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.rivallist.impl", classOf[RivalAfterListFs].getName)
    conf.setBoolean("fs.rivallist.impl.disable.cache", true)
    conf.setBoolean("graft.commit.atomicConditionalCreate.rivallist", true)
    def whR(name: String) = "rivallist://" + wh(name)
    val rfs = new Path(whR("raceDrop")).getFileSystem(conf)
    def add(w: String, cid: String, table: String): Unit =
      Snapshots.append(rfs, w, cid,
        adds = Seq(table -> s"$w/$table/$cid.parquet"), removes = Nil)
    def outcome(body: => Unit): Option[Throwable] =
      try { body; None }
      catch { case e: Snapshots.ConcurrentCommitException => Some(e) }
    def commitIds(w: String) =
      Snapshots.entries(rfs, w).filterNot(_.isCheckpoint).map(_.commitId)

    val wd = whR("raceDrop")
    add(wd, "c0", "t")
    val dropped = outcome(RivalAfterListFs.arm(1)(add(wd, "rival", "t")) {
      Snapshots.dropTable(rfs, wd, "t")
    })
    assert(commitIds(wd).contains("rival"), "the rival commit must land")
    if (dropped.nonEmpty)
      assert(!commitIds(wd).exists(_.startsWith("drop")),
        "an aborted drop must commit nothing")
    else
      assert(Snapshots.fileMeta(rfs, wd, "t").get.isEmpty,
        "the drop committed while the rival's file stays live: " +
          Snapshots.fileMeta(rfs, wd, "t").get.map(_.file))

    val wc = whR("raceClone")
    add(wc, "c0", "src")
    val cloned = outcome(RivalAfterListFs.arm(2)(add(wc, "rival", "dst")) {
      Snapshots.cloneTable(spark, wc, "src", "dst")
    })
    assert(commitIds(wc).contains("rival"), "the rival commit must land")
    assert(cloned.nonEmpty,
      "the clone committed on top of a concurrently created dst: " +
        Snapshots.fileMeta(rfs, wc, "dst").get.map(_.file))
    assert(!commitIds(wc).exists(_.startsWith("clone")),
      "an aborted clone must commit nothing")
  }

  test("SQL: SNAPSHOT CLONE src TO dst [VERSION AS OF n]") {
    val w = wh("sql")
    val s0 = spark
    import s0.implicits._
    pub(w, "src", Seq((1L, "a")).toDF("id", "v"))                 // v0
    pub(w, "src", Seq((2L, "b")).toDF("id", "v"))                 // v1
    spark.conf.set("spark.graft.warehouse", w)
    try {
      val v = spark.sql("SNAPSHOT CLONE src TO full").head().getLong(0)
      assert(v == Snapshots.latestVersion(fs, w).get)
      assert(spark.sql("SNAPSHOT OF full").count() == 2)
      spark.sql("SNAPSHOT CLONE src TO old VERSION AS OF 0")
      assert(spark.sql("SNAPSHOT OF old").count() == 1)
      intercept[Exception](spark.sql("SNAPSHOT CLONE src TO full").collect())
    } finally spark.conf.unset("spark.graft.warehouse")
  }
}
