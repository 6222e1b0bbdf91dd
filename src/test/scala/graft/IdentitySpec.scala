package graft

import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.ingest.{Identity, Snapshots, TxnCommit}

/** GENERATED ALWAYS AS IDENTITY: engine-minted ids, unique and monotone
  * across commits via the log-carried high-water mark, exactly-once under
  * replays and crashes, serialized under contention. */
class IdentitySpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private lazy val dir = Files.createTempDirectory("graft-identity")
  private def wh(name: String) = dir.resolve(name).toString
  private def fs = new Path(dir.toString)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.extensions", "graft.sql.GraftSqlExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def ids(w: String, t: String = "t"): Seq[Long] =
    Snapshots.read(spark, w, t).select("row_id")
      .collect().map(_.getLong(0)).toSeq

  test("multi-commit appends mint unique monotone ids (gaps allowed)") {
    val s0 = spark
    import s0.implicits._
    val w = wh("mono")
    Identity.declare(spark, w, "t", "row_id")
    val n1 = Identity.appendWithIdentity(spark, w, "t",
      (0L until 10L).map(i => (i, s"a$i")).toDF("k", "v"))
    assert(n1 == 10L)
    // Multi-partition write: ids get partition-offset GAPS but stay
    // unique, and EVERY id exceeds every id of the earlier commit.
    Identity.appendWithIdentity(spark, w, "t",
      (10L until 30L).map(i => (i, s"b$i")).toDF("k", "v").repartition(3))
    val all = Snapshots.read(spark, w, "t")
      .select("k", "row_id").collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(all.map(_._2).distinct.length == 30, "ids must be unique")
    val batch1Max = all.filter(_._1 < 10L).map(_._2).max
    val batch2Min = all.filter(_._1 >= 10L).map(_._2).min
    assert(batch2Min > batch1Max, "commit N+1 ids must exceed commit N's")
    assert(Identity.highWaterMark(Snapshots.snapshot(fs, w), "t", "row_id")
      .contains(all.map(_._2).max))
  }

  test("GENERATED ALWAYS: user-supplied values and raw appends are refused") {
    val s0 = spark
    import s0.implicits._
    val w = wh("always")
    Identity.declare(spark, w, "t", "row_id")
    Identity.appendWithIdentity(spark, w, "t",
      Seq((1L, "a")).toDF("k", "v"))
    // Supplying the column through the API is an error.
    intercept[IllegalArgumentException](
      Identity.appendWithIdentity(spark, w, "t",
        Seq((2L, "b", 99L)).toDF("k", "v", "row_id")))
    // A raw TxnCommit append WITHOUT the column is refused at the commit
    // gate — null-id rows must be impossible by construction.
    val cid = java.util.UUID.randomUUID().toString
    Seq((2L, "b")).toDF("k", "v").coalesce(1)
      .write.parquet(s"${TxnCommit.stagingDir(w, cid)}/t")
    val mv = TxnCommit.movesFor(fs, w, cid, "t")
    val ex = intercept[IllegalArgumentException](
      TxnCommit.commit(fs, w, cid, mv))
    assert(ex.getMessage.contains("row_id"), ex.getMessage)
    // Declaring identity on a column that already carries data is refused.
    intercept[IllegalArgumentException](
      Identity.declare(spark, w, "t", "v"))
  }

  test("exactly-once: commitId replays and crash-recovery never re-mint") {
    val s0 = spark
    import s0.implicits._
    val w = wh("replay")
    Identity.declare(spark, w, "t", "row_id", start = 100L)
    val df = (0L until 5L).map(i => (i, s"x$i")).toDF("k", "v")
      .coalesce(1).sortWithinPartitions("k")
    assert(Identity.appendWithIdentity(spark, w, "t", df,
      commitId = Some("idload-b1")) == 5L)
    assert(ids(w).sorted == (100L until 105L))
    // Plain replay: recognized, nothing minted.
    assert(Identity.appendWithIdentity(spark, w, "t", df,
      commitId = Some("idload-b1")) == 0L)
    assert(ids(w).sorted == (100L until 105L))
    // Crash mid-publish: recovery must finish the batch ONCE, high-water
    // mark included (it rides the manifest).
    val df2 = (5L until 8L).map(i => (i, s"y$i")).toDF("k", "v")
      .coalesce(1).sortWithinPartitions("k")
    sys.props("graft.test.failAfterMoves") = "0"
    try intercept[IllegalStateException](
      Identity.appendWithIdentity(spark, w, "t", df2,
        commitId = Some("idload-b2")))
    finally sys.props.remove("graft.test.failAfterMoves")
    // The replay (same commitId) converges: recovery publishes the crashed
    // manifest, then the call recognizes it as applied.
    assert(Identity.appendWithIdentity(spark, w, "t", df2,
      commitId = Some("idload-b2")) == 0L)
    assert(ids(w).sorted == (100L until 108L))
    assert(Identity.highWaterMark(Snapshots.snapshot(fs, w), "t", "row_id").contains(107L))
    // Vacuum past the entries: the applied-txn registry still proves both.
    (0 until 20).foreach { i =>
      val cid = java.util.UUID.randomUUID().toString
      Seq((1000L + i, "z")).toDF("k", "v").coalesce(1)
        .write.parquet(s"${TxnCommit.stagingDir(w, cid)}/other")
      val mv = TxnCommit.movesFor(fs, w, cid, "other")
      TxnCommit.commit(fs, w, cid, mv); TxnCommit.publish(fs, w, cid, mv)
    }
    Snapshots.vacuum(fs, w, keepVersions = 2, minAgeMs = 0L)
    assert(Identity.appendWithIdentity(spark, w, "t", df2,
      commitId = Some("idload-b2")) == 0L)
    assert(ids(w).sorted == (100L until 108L))
  }

  test("contention: concurrent appends serialize, ids stay disjoint") {
    val s0 = spark
    import s0.implicits._
    val w = wh("race")
    Identity.declare(spark, w, "t", "row_id")
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val fs0 = (0 until 4).map { g =>
      Future {
        Identity.appendWithIdentity(spark, w, "t",
          (0L until 25L).map(i => (g * 100L + i, s"g$g-$i")).toDF("k", "v"))
      }
    }
    Await.result(Future.sequence(fs0), 120.seconds)
    val got = ids(w)
    assert(got.length == 100 && got.distinct.length == 100,
      s"ids must stay unique under contention (got ${got.length}, " +
        s"${got.distinct.length} distinct)")
  }

  test("randomized chain: crashes, replays, compactions keep ids unique") {
    val s0 = spark
    import s0.implicits._
    val w = wh("chaos")
    Identity.declare(spark, w, "t", "row_id")
    val rng = new scala.util.Random(7)
    var appended = 0L
    var nextK = 0L
    var batchNo = 0
    def fresh(n: Int) = {
      val ks = (nextK until nextK + n); nextK += n
      ks.map(k => (k, s"v$k")).toDF("k", "v")
    }
    (1 to 15).foreach { step =>
      rng.nextInt(4) match {
        case 0 => // plain append, multi-partition sometimes
          val df = fresh(3 + rng.nextInt(4))
          appended += Identity.appendWithIdentity(spark, w, "t",
            if (rng.nextBoolean()) df.repartition(2) else df)
        case 1 => // replay-keyed append driven twice: lands once
          batchNo += 1
          val cid = s"chaosload-$batchNo"
          val df = fresh(3)
          appended += Identity.appendWithIdentity(spark, w, "t", df,
            commitId = Some(cid))
          assert(Identity.appendWithIdentity(spark, w, "t", df,
            commitId = Some(cid)) == 0L, s"step $step: replay re-landed")
        case 2 => // crash mid-publish; recovery + replay converge
          batchNo += 1
          val cid = s"chaoscrash-$batchNo"
          val df = fresh(2)
          sys.props("graft.test.failAfterMoves") = "0"
          try intercept[IllegalStateException](
            Identity.appendWithIdentity(spark, w, "t", df,
              commitId = Some(cid)))
          finally sys.props.remove("graft.test.failAfterMoves")
          assert(Identity.appendWithIdentity(spark, w, "t", df,
            commitId = Some(cid)) == 0L,
            s"step $step: crashed batch replayed as new")
          appended += 2 // recovery landed the crashed publish exactly once
        case 3 => graft.ingest.Compaction.compact(spark, w, "t")
      }
      val got = ids(w)
      assert(got.length == appended,
        s"step $step: expected $appended rows, got ${got.length}")
      assert(got.distinct.length == got.length,
        s"step $step: duplicate ids minted")
      assert(Identity.highWaterMark(Snapshots.snapshot(fs, w), "t", "row_id")
        .contains(got.max), s"step $step: mark diverged from max id")
    }
  }

  test("streaming epochs mint identity ids exactly-once across restarts") {
    val s0 = spark
    import s0.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val w = wh("streamid"); val ckpt = wh("streamidCkpt")
    Identity.declare(spark, w, "t", "row_id")
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    def drain(): Unit = {
      val q = graft.streaming.StreamingOps.transactionalSink(
        in.toDF.toDF("k", "v"), w, "t", ckpt)
      q.awaitTermination()
    }
    in.addData((0L until 5L).map(i => (i, s"a$i")): _*)
    drain()
    in.addData((5L until 9L).map(i => (i, s"b$i")): _*)
    drain()
    val got = ids(w)
    assert(got.length == 9 && got.distinct.length == 9, got.toString)
    // A replayed epoch (same batchId through commitBatch directly) mints
    // nothing — the stream's exactly-once extends to the allocation.
    graft.streaming.StreamingOps.commitBatch(
      (0L until 5L).map(i => (i, s"a$i")).toDF("k", "v"), w, "t",
      batchId = 0L)
    assert(ids(w).length == 9, "replayed epoch re-minted ids")
  }

  test("SQL: ALTER TABLE ... GENERATED ALWAYS AS IDENTITY (START WITH n)") {
    val s0 = spark
    import s0.implicits._
    val w = wh("sql")
    spark.conf.set("spark.graft.warehouse", w)
    try {
      // Table must exist for isGraftTable routing — seed one committed era.
      val cid = java.util.UUID.randomUUID().toString
      Seq((1L, "a")).toDF("k", "v").coalesce(1)
        .write.parquet(s"${TxnCommit.stagingDir(w, cid)}/t")
      val mv = TxnCommit.movesFor(fs, w, cid, "t")
      TxnCommit.commit(fs, w, cid, mv); TxnCommit.publish(fs, w, cid, mv)
      spark.sql(
        "ALTER TABLE t ADD COLUMN row_id BIGINT GENERATED ALWAYS AS " +
          "IDENTITY (START WITH 500)")
      assert(Identity.identityColumns(Snapshots.snapshot(fs, w), "t") == Seq("row_id"))
      Identity.appendWithIdentity(spark, w, "t",
        Seq((2L, "b")).toDF("k", "v").coalesce(1))
      // Pre-declaration rows read NULL for the column (additive era);
      // minted rows start at the declared offset.
      val got = Snapshots.read(spark, w, "t", mergeSchema = true)
        .select("k", "row_id").collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
        .toMap
      assert(got(1L).isEmpty && got(2L).contains(500L), got.toString)
    } finally spark.conf.unset("spark.graft.warehouse")
  }

  test("appends to a partitioned identity table honor the layout (pruning kept)") {
    val s0 = spark
    import s0.implicits._
    val w = wh("partid")
    Snapshots.setProperties(fs, w, "t",
      Map("catalog.partition.columns" -> "pt"))
    Identity.declare(spark, w, "t", "row_id")
    Identity.appendWithIdentity(spark, w, "t",
      (0L until 12L).map(i => (i, s"p${i % 3}")).toDF("k", "pt"))
    // Files landed under the k=v layout with their specs recorded …
    val pf = Snapshots.snapshot(fs, w).files("t").map(a => (a.file, a.partition))
    assert(pf.map(_._2).toSet == Set("pt=p0", "pt=p1", "pt=p2"), pf)
    // … so log-side pruning plans only the matching partition.
    val pruned = Snapshots.read(spark, w, "t",
      partitionFilter = m => m("pt") == "p1")
    assert(pruned.inputFiles.length < pf.size)
    assert(pruned.count() == 4)
    // Ids still unique and stats-advanced across the partitioned write.
    val got = ids(w)
    assert(got.distinct.size == 12 && got.forall(_ >= 1L))
    assert(Identity.highWaterMark(Snapshots.snapshot(fs, w), "t", "row_id").contains(got.max))
    // An identity column can never BE the partition column: the mark
    // advances from file stats, which partition values don't carry.
    Snapshots.setProperties(fs, w, "bad",
      Map("catalog.partition.columns" -> "row_id"))
    Identity.declare(spark, w, "bad", "row_id")
    val e = intercept[IllegalArgumentException](
      Identity.appendWithIdentity(spark, w, "bad",
        Seq(1L).toDF("k")))
    assert(e.getMessage.contains("partition column"), e.getMessage)
  }

  test("streaming epochs auto-compact partitioned identity tables (hook fires)") {
    val s0 = spark
    import s0.implicits._
    val w = wh("autoc")
    // Partitioned identity table, auto-compaction opted in: the
    // post-commit hook must fire for the k=v layout the engine-managed
    // append stages (a Set("") spec filter would silently never match).
    Snapshots.setProperties(fs, w, "t", Map(
      "catalog.partition.columns" -> "pt",
      "graft.autoCompact.minFiles" -> "4",
      "graft.autoCompact.targetBytes" -> (64L * 1024 * 1024).toString))
    Identity.declare(spark, w, "t", "row_id")
    (0 until 10).foreach { b =>
      graft.streaming.StreamingOps.commitBatch(
        Seq((b.toLong, "a"), (b + 100L, "b")).toDF("k", "pt").coalesce(1),
        w, "t", batchId = b.toLong)
    }
    val live = Snapshots.snapshot(fs, w).files("t")
    assert(live.size < 10,
      s"auto-compaction never fired for the partitioned layout: ${live.size} files")
    assert(Snapshots.history(spark, w).select("op").as[String].collect()
      .contains("compact"), "no compact commit in history")
    // Maintenance moved bytes, never rows; ids stay unique.
    val got = Snapshots.read(spark, w, "t")
      .select("k", "row_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSeq
    assert(got.map(_._1).sorted ==
      ((0L until 10L) ++ (100L until 110L)).sorted)
    assert(got.map(_._2).distinct.size == 20, "duplicate ids after packing")
  }

  test("SYNC IDENTITY re-seeds the mark after out-of-band explicit ids") {
    val s0 = spark
    import s0.implicits._
    val w = wh("sync")
    Identity.declare(spark, w, "t", "row_id")
    Identity.appendWithIdentity(spark, w, "t",
      Seq("a", "b").toDF("v").coalesce(1)) // mints 1, 2
    // Out-of-band: a raw append CARRYING explicit ids passes the gate
    // (migrations do this) and lands ids far above the mark.
    val cid = java.util.UUID.randomUUID().toString
    Seq((100L, "m1"), (200L, "m2")).toDF("row_id", "v").coalesce(1)
      .write.parquet(s"${TxnCommit.stagingDir(w, cid)}/t")
    val mv = TxnCommit.movesFor(fs, w, cid, "t")
    TxnCommit.commit(fs, w, cid, mv)
    TxnCommit.publish(fs, w, cid, mv)
    assert(Identity.highWaterMark(Snapshots.snapshot(fs, w), "t", "row_id").contains(2L),
      "raw appends must not move the mark by themselves")
    // SYNC: metadata-only, from the log's stats tokens.
    assert(Identity.syncIdentity(fs, w, "t", "row_id") == 200L)
    assert(Identity.highWaterMark(Snapshots.snapshot(fs, w), "t", "row_id").contains(200L))
    // The next engine mint starts ABOVE the synced ids.
    Identity.appendWithIdentity(spark, w, "t", Seq("c").toDF("v"))
    val got = ids(w)
    assert(got.distinct.size == 5 && got.max > 200L, got.sorted)
    // Idempotent; never regresses.
    assert(Identity.syncIdentity(fs, w, "t", "row_id") == got.max)
    // SQL face (Delta grammar) + non-identity column refusal.
    spark.conf.set("spark.graft.warehouse", w)
    try assert(spark.sql("ALTER TABLE t ALTER COLUMN row_id SYNC IDENTITY")
      .head().getLong(0) == got.max)
    finally spark.conf.unset("spark.graft.warehouse")
    val e = intercept[IllegalArgumentException](
      Identity.syncIdentity(fs, w, "t", "v"))
    assert(e.getMessage.contains("not a declared identity"), e.getMessage)
  }

  test("SYNC IDENTITY aborts when a raw append races the stats scan") {
    val s0 = spark
    import s0.implicits._
    val w = wh("syncrace")
    Identity.declare(spark, w, "t", "row_id")
    Identity.appendWithIdentity(spark, w, "t",
      Seq("a").toDF("v").coalesce(1)) // mints 1
    def rawAppend(rows: Seq[(Long, String)]): Unit = {
      val cid = java.util.UUID.randomUUID().toString
      rows.toDF("row_id", "v").coalesce(1)
        .write.parquet(s"${TxnCommit.stagingDir(w, cid)}/t")
      val mv = TxnCommit.movesFor(fs, w, cid, "t")
      TxnCommit.commit(fs, w, cid, mv)
      TxnCommit.publish(fs, w, cid, mv)
    }
    rawAppend(Seq((100L, "m1")))
    // A second out-of-band append lands BETWEEN the sync's stats scan and
    // its publish — the exact write SYNC IDENTITY exists to reconcile.
    // The sync's conflict scope includes the table, so it must ABORT (a
    // mark of 100 would collide the next mint with the racing 500).
    intercept[Snapshots.ConcurrentCommitException](
      Identity.syncIdentity(fs, w, "t", "row_id",
        () => rawAppend(Seq((500L, "m2")))))
    assert(Identity.highWaterMark(Snapshots.snapshot(fs, w), "t", "row_id").contains(1L),
      "an aborted sync must not move the mark")
    // The caller's retry sees fresh stats and lands the true max.
    assert(Identity.syncIdentity(fs, w, "t", "row_id") == 500L)
    Identity.appendWithIdentity(spark, w, "t", Seq("c").toDF("v"))
    val got = ids(w)
    assert(got.distinct.size == got.size && got.max > 500L, got.sorted)
    // The NO-ADVANCE verdict must be just as race-proof: a racing append
    // landing ABOVE the mark during the scan would otherwise return a
    // stale "reconciled" mark with no OCC commit to catch it — the sync
    // detects the log moved mid-scan and rescans to the true max.
    val once = new java.util.concurrent.atomic.AtomicBoolean(false)
    val cur = Identity.highWaterMark(Snapshots.snapshot(fs, w), "t", "row_id").get
    val synced = Identity.syncIdentity(fs, w, "t", "row_id", () =>
      if (once.compareAndSet(false, true)) rawAppend(Seq((5000L, "m3"))))
    assert(synced == 5000L,
      s"no-advance path missed the racing append (returned $synced, cur $cur)")
    assert(Identity.highWaterMark(Snapshots.snapshot(fs, w), "t", "row_id").contains(5000L))
  }

  test("identity mark advance requires per-file per-column stats coverage") {
    val s0 = spark
    import s0.implicits._
    val w = wh("coverage")
    // Two staged files: one carries row_id [min,max], one does not store
    // the column at all — the max over the covered file alone would
    // under-advance the mark and later epochs would re-mint ids.
    val dA = s"$w/staged/a"; val dB = s"$w/staged/b"
    Seq((7L, "a")).toDF("row_id", "v").coalesce(1).write.parquet(dA)
    Seq("b").toDF("v").coalesce(1).write.parquet(dB)
    def part(d: String): String = fs.listStatus(new Path(d))
      .map(_.getPath.toString).find(_.endsWith(".parquet")).get
    val covered = part(dA); val uncovered = part(dB)
    val e = intercept[IllegalArgumentException](
      Identity.marksFromStaged(fs, w, "t", Seq(covered, uncovered),
        Seq("row_id")))
    assert(e.getMessage.contains("1 of 2"), e.getMessage)
    // Full coverage: the mark is the true max.
    assert(Identity.marksFromStaged(fs, w, "t", Seq(covered), Seq("row_id"))
      == Seq("t#idhw#row_id" -> "7"))
  }

  test("DESCRIBE DETAIL surfaces the identity high-water mark") {
    val s0 = spark
    import s0.implicits._
    val w = wh("detail")
    Identity.declare(spark, w, "t", "row_id", start = 5L)
    Identity.appendWithIdentity(spark, w, "t",
      Seq("a", "b", "c").toDF("v").coalesce(1)) // mints 5, 6, 7
    spark.conf.set("spark.graft.warehouse", w)
    try {
      val det = spark.sql("DESCRIBE DETAIL t").head()
      assert(det.getAs[String]("identity_high_water_marks") == "row_id=7",
        det.toString)
      assert(det.getAs[String]("table_features").contains("w:identityColumns"))
    } finally spark.conf.unset("spark.graft.warehouse")
  }
}
