package graft

import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.ingest.{Compaction, Merge, Snapshots, TxnCommit}

/** Merge-on-read DML via deletion vectors: DELETE/UPDATE commit (file, pos)
  * vectors instead of rewriting data files; reads subtract them; compaction
  * purges them. The Delta deletion-vector analog over the snapshot log. */
class DeletionVectorSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private lazy val dir = Files.createTempDirectory("graft-dv")
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

  /** Stage + commit + publish one single-file batch of `ids` into `table`. */
  private def publishBatch(warehouse: String, table: String, ids: Range): Unit = {
    val commitId = java.util.UUID.randomUUID().toString
    val staging = s"${TxnCommit.stagingDir(warehouse, commitId)}/$table"
    val s0 = spark
    import s0.implicits._
    ids.map(i => (i.toLong, s"name_$i")).toDF("id", "name")
      .coalesce(1).write.parquet(staging)
    val moves = TxnCommit.movesFor(fs, warehouse, commitId, table)
    TxnCommit.commit(fs, warehouse, commitId, moves)
    TxnCommit.publish(fs, warehouse, commitId, moves)
  }

  private def dataFiles(warehouse: String, table: String): Set[String] = {
    val d = new Path(s"$warehouse/$table")
    if (!fs.exists(d)) Set.empty
    else fs.listStatus(d).toSeq.filter(_.isFile)
      .map(_.getPath.getName).filterNot(_.startsWith("_")).toSet
  }

  private def ids(warehouse: String, table: String,
                  asOf: Option[Long] = None): Seq[Long] =
    Snapshots.read(spark, warehouse, table, asOf)
      .select("id").collect().map(_.getLong(0)).toSeq.sorted

  test("DV delete: rows vanish, data files do not move, vector attaches") {
    val w = wh("dv-delete")
    publishBatch(w, "t", 0 until 10)
    publishBatch(w, "t", 10 until 20)
    val before = dataFiles(w, "t")

    val r = Merge.deleteWhereDv(spark, w, "t", col("id") % 5 === 0)
    assert(r.filesRewritten == 0)
    assert(r.filesAdded == 0)
    assert(r.rowsMatched == 4) // 0, 5, 10, 15
    assert(r.filesDvAttached == 2)

    assert(dataFiles(w, "t") == before,
      "merge-on-read must not add, remove, or rewrite data files")
    assert(ids(w, "t") == (0L until 20L).filterNot(_ % 5 == 0))
    val meta = Snapshots.snapshot(fs, w).files("t")
    assert(meta.count(_.dv.nonEmpty) == 2)
    assert(meta.filter(_.dv.nonEmpty).map(_.dvCount).sum == 4)
    // Vector parquets live under _dv/<table>/ and are manifest-published.
    meta.filter(_.dv.nonEmpty).foreach { a =>
      assert(fs.exists(new Path(a.dvPath)))
      assert(new Path(a.dvPath).getParent.getParent.getName == "_dv")
    }
  }

  test("second DV delete merges with the first; re-run deletes nothing") {
    val w = wh("dv-merge")
    publishBatch(w, "t", 0 until 10)
    val r1 = Merge.deleteWhereDv(spark, w, "t", col("id") < 2)
    assert(r1.rowsMatched == 2)
    // Second vector on the same file must carry the FULL deletion set.
    val r2 = Merge.deleteWhereDv(spark, w, "t", col("id") === 5)
    assert(r2.rowsMatched == 1)
    assert(ids(w, "t") == Seq(2L, 3L, 4L, 6L, 7L, 8L, 9L))
    val att = Snapshots.snapshot(fs, w).files("t").filter(_.dv.nonEmpty)
    assert(att.size == 1 && att.head.dvCount == 3)
    // Idempotence: already-deleted rows are invisible to the matcher.
    val r3 = Merge.deleteWhereDv(spark, w, "t", col("id") < 2)
    assert(r3.rowsMatched == 0)
    assert(Snapshots.latestVersion(fs, w).get == 2L,
      "a no-match DV delete must not commit")
  }

  test("full-file deletion becomes a logical REMOVE, not a vector") {
    val w = wh("dv-full")
    publishBatch(w, "t", 0 until 8)   // file A
    publishBatch(w, "t", 8 until 12)  // file B
    val r = Merge.deleteWhereDv(spark, w, "t", col("id") >= 8)
    assert(r.rowsMatched == 4)
    assert(r.filesDvAttached == 0, "whole-file delete should REMOVE instead")
    val meta = Snapshots.snapshot(fs, w).files("t")
    assert(meta.size == 1 && meta.forall(_.dv.isEmpty))
    assert(ids(w, "t") == (0L until 8L))
    // ... and the removed file still serves time travel.
    assert(ids(w, "t", asOf = Some(1L)) == (0L until 12L))
  }

  test("DV update: vector + postimage append, no rewrite") {
    val w = wh("dv-update")
    publishBatch(w, "t", 0 until 10)
    val before = dataFiles(w, "t")
    val r = Merge.updateWhereDv(spark, w, "t", col("id") < 3,
      Map("name" -> concat(col("name"), lit("_X"))))
    assert(r.filesRewritten == 0)
    assert(r.filesAdded == 1, "postimage rows land as one new file")
    assert(r.rowsMatched == 3)
    assert(before.subsetOf(dataFiles(w, "t")),
      "original files must survive untouched")
    val got = Snapshots.read(spark, w, "t")
      .select("id", "name").collect()
      .map(r0 => r0.getLong(0) -> r0.getString(1)).toMap
    assert(got.size == 10)
    assert(got(0L) == "name_0_X" && got(2L) == "name_2_X" && got(5L) == "name_5")
  }

  test("time travel and restore resolve vectors per version") {
    val w = wh("dv-travel")
    publishBatch(w, "t", 0 until 10) // v0
    Merge.deleteWhereDv(spark, w, "t", col("id") < 3) // v1
    Merge.deleteWhereDv(spark, w, "t", col("id") === 7) // v2
    assert(ids(w, "t", Some(0L)) == (0L until 10L))
    assert(ids(w, "t", Some(1L)) == (3L until 10L))
    assert(ids(w, "t") == Seq(3L, 4L, 5L, 6L, 8L, 9L))
    // Restore to v1: the deleted row 7 comes back, rows 0-2 stay gone.
    val (re, rm) = Snapshots.restore(spark, w, "t", 1L)
    assert(re == 1 && rm == 0)
    assert(ids(w, "t") == (3L until 10L))
    // Restore to v0: the vector detaches entirely.
    Snapshots.restore(spark, w, "t", 0L)
    assert(ids(w, "t") == (0L until 10L))
  }

  test("change feed serves DV deletes as delete rows; restore re-ADD subtracts its vector") {
    val w = wh("dv-cdf")
    publishBatch(w, "t", 0 until 6) // v0
    Merge.deleteWhereDv(spark, w, "t", col("id") < 2) // v1
    val feed = Snapshots.changes(spark, w, "t", fromExclusive = -1L)
      .select("id", "_change_type", "_commit_version").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(feed.count(_._2 == "insert") == 6)
    assert(feed.filter(_._2 == "delete").map(_._1).sorted.toSeq == Seq(0L, 1L))
    assert(feed.filter(_._2 == "delete").forall(_._3 == 1L))
    // Restore to v1 after a further delete: v3's re-ADD carries v1's
    // vector, so its insert rows exclude ids 0-1 but include 3.
    Merge.deleteWhereDv(spark, w, "t", col("id") === 3) // v2
    Snapshots.restore(spark, w, "t", 1L) // v3
    val feed2 = Snapshots.changes(spark, w, "t", fromExclusive = 2L)
      .select("id", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(feed2.forall(_._2 == "insert"))
    assert(feed2.map(_._1).sorted.toSeq == (2L until 6L))
  }

  test("compaction subtracts vectors and purges them") {
    val w = wh("dv-compact")
    publishBatch(w, "t", 0 until 10)
    publishBatch(w, "t", 10 until 20)
    Merge.deleteWhereDv(spark, w, "t", col("id") % 3 === 0)
    val res = Compaction.compact(spark, w, "t").get
    assert(res.filesBefore == 2)
    val meta = Snapshots.snapshot(fs, w).files("t")
    assert(meta.forall(_.dv.isEmpty), "compaction outputs carry no vectors")
    assert(ids(w, "t") == (0L until 20L).filterNot(_ % 3 == 0))
  }

  test("REORG PURGE forces a single-file vector purge") {
    val w = wh("dv-reorg")
    publishBatch(w, "t", 0 until 10)
    Merge.deleteWhereDv(spark, w, "t", col("id") === 4)
    // One input file: plain compact is a no-op, purge must still rewrite.
    assert(Compaction.compact(spark, w, "t").isEmpty)
    val res = Compaction.compact(spark, w, "t", purgeDropped = true)
    assert(res.nonEmpty)
    assert(Snapshots.snapshot(fs, w).files("t").forall(_.dv.isEmpty))
    assert(ids(w, "t") == (0L until 10L).filterNot(_ == 4L))
  }

  test("copy-on-write DML and key merge do not resurrect DV'd rows") {
    val w = wh("dv-cow")
    publishBatch(w, "t", 0 until 10)
    Merge.deleteWhereDv(spark, w, "t", col("id") === 9)
    // CoW update touches the same file: the rewrite must keep 9 dead.
    Merge.updateWhere(spark, w, "t", col("id") === 1,
      Map("name" -> lit("one")))
    assert(ids(w, "t") == (0L until 9L))
    val s0 = spark
    import s0.implicits._
    // Key-merge upsert against the same file: still no resurrection.
    Merge.upsert(spark, w, "t",
      Seq((2L, "two")).toDF("id", "name"), Seq("id"))
    assert(ids(w, "t") == (0L until 9L))
    assert(Snapshots.snapshot(fs, w).files("t").forall(_.dv.isEmpty),
      "the CoW rewrite replaced the vectored file — attachment must die")
  }

  test("vectors survive checkpoint folds and a crashed publish replays attachments") {
    val w = wh("dv-ckpt")
    publishBatch(w, "t", 0 until 10)
    Merge.deleteWhereDv(spark, w, "t", col("id") === 2)
    // Push the log past a checkpoint: attachment must survive the fold.
    (0 until 16).foreach(_ => publishBatch(w, "t2", 0 until 2))
    assert(ids(w, "t") == (0L until 10L).filterNot(_ == 2L))

    // Crash injection: the publish dies mid-move — recovery must finish
    // the moves AND re-attach the vector from the manifest's DV lines.
    val w2 = wh("dv-crash")
    publishBatch(w2, "t", 0 until 10)
    sys.props.put("graft.test.failAfterMoves", "1")
    val ex = intercept[Exception] {
      Merge.deleteWhereDv(spark, w2, "t", col("id") < 2)
    }
    sys.props.remove("graft.test.failAfterMoves")
    assert(ex.getMessage.contains("injected crash"))
    TxnCommit.recover(fs, w2)
    assert(ids(w2, "t") == (2L until 10L))
    assert(Snapshots.snapshot(fs, w2).files("t").count(_.dv.nonEmpty) == 1)
  }

  test("deleteKeysDv: keyed merge-on-read delete with stats-pruned candidates") {
    val w = wh("dv-keys")
    publishBatch(w, "t", 0 until 10)   // file A: ids 0-9
    publishBatch(w, "t", 10 until 20)  // file B: ids 10-19
    val s0 = spark
    import s0.implicits._
    // Keys hit only file A: stats bounds [2,5] must keep file B unopened.
    val r = Merge.deleteKeysDv(spark, w, "t",
      Seq(2L, 5L).toDF("id"), Seq("id"))
    assert(r.rowsMatched == 2)
    assert(r.filesScanned == 1)
    assert(ids(w, "t") == (0L until 20L).filterNot(i => i == 2L || i == 5L))
    assert(Snapshots.snapshot(fs, w).files("t").count(_.dv.nonEmpty) == 1)
    // A narrow key set prunes to one candidate file.
    val r2 = Merge.deleteKeysDv(spark, w, "t", Seq(11L).toDF("id"), Seq("id"))
    assert(r2.rowsMatched == 1 && r2.filesScanned == 1)
    assert(ids(w, "t") ==
      (0L until 20L).filterNot(i => i == 2L || i == 5L || i == 11L))
  }

  test("auto mode: heavy files rewrite, light files vector, dead files remove") {
    val w = wh("dv-auto")
    publishBatch(w, "t", 0 until 10)   // file A: 10 rows
    publishBatch(w, "t", 10 until 20)  // file B: 10 rows
    publishBatch(w, "t", 20 until 24)  // file C: 4 rows
    // Matches: 8/10 of A (heavy), 1/10 of B (light), 4/4 of C (dead).
    val cond = (col("id") < 8) || (col("id") === 15) || (col("id") >= 20)
    val r = Merge.deleteWhereDv(spark, w, "t", cond, rewriteFraction = 0.5)
    assert(r.rowsMatched == 13)
    assert(r.filesRewritten == 1, "file A crosses the vector budget")
    assert(r.filesAdded == 1, "A's survivors re-added as one file")
    assert(r.filesDvAttached == 1, "file B stays vectored")
    assert(ids(w, "t") == Seq(8L, 9L) ++ (10L until 20L).filterNot(_ == 15L))
    val meta = Snapshots.snapshot(fs, w).files("t")
    assert(meta.size == 2) // survivors file + file B
    assert(meta.count(_.dv.nonEmpty) == 1)
    assert(meta.filter(_.dv.nonEmpty).head.dvCount == 1L)
    // Time travel still sees all 24 rows.
    assert(ids(w, "t", Some(2L)) == (0L until 24L))
    // Survivors of a rewritten file never appear in the change feed (the
    // merge op serves only its CDF rows — 13 deletes).
    val feed = Snapshots.changes(spark, w, "t", fromExclusive = 2L)
      .select("id", "_change_type").collect()
      .map(r0 => (r0.getLong(0), r0.getString(1)))
    assert(feed.length == 13 && feed.forall(_._2 == "delete"))
  }

  test("auto-mode update: heavy file rewrite composes with postimage append") {
    val w = wh("dv-auto-upd")
    publishBatch(w, "t", 0 until 10)
    val r = Merge.updateWhereDv(spark, w, "t", col("id") < 6,
      Map("name" -> concat(col("name"), lit("_U"))), rewriteFraction = 0.5)
    assert(r.filesRewritten == 1 && r.filesDvAttached == 0)
    assert(r.rowsMatched == 6)
    val got = Snapshots.read(spark, w, "t").select("id", "name").collect()
      .map(r0 => r0.getLong(0) -> r0.getString(1)).toMap
    assert(got.size == 10)
    assert(got(0L) == "name_0_U" && got(7L) == "name_7")
  }

  test("plan shape: filters push through the DV anti-join; DV-free reads plan no join") {
    val w = wh("dv-plan")
    publishBatch(w, "t", 0 until 100)
    // No vectors: the read plans exactly as before — no join anywhere.
    val clean = Snapshots.read(spark, w, "t").filter(col("id") > 10)
      .queryExecution.executedPlan.toString
    assert(!clean.contains("Join"), "DV-free read must not pay any join")

    Merge.deleteWhereDv(spark, w, "t", col("id") === 5)
    val df = Snapshots.read(spark, w, "t").filter(col("id") > 10)
    val plan = df.queryExecution.executedPlan.toString
    // Scan side stays shuffle-free (broadcast anti) and the caller's
    // filter still reaches the parquet scan as a pushed filter.
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"))
    assert(plan.contains("PushedFilters: [IsNotNull(id), GreaterThan(id,10)]"),
      s"filter must push through the DV anti-join to the scan:\n$plan")
    assert(df.count() == 89)
  }

  test("partitioned table (space in value): DV delete + update + scoped purge") {
    val w = wh("dv-part")
    val s0 = spark
    import s0.implicits._
    // Partition values with a space exercise the encoded-path contract the
    // (file, pos) vector keys ride on.
    def pub(ids: Range): Unit = {
      val cid = java.util.UUID.randomUUID().toString
      ids.map(i => (i.toLong, s"name_$i",
          if (i % 2 == 0) "d one" else "d two"))
        .toDF("id", "name", "dt").coalesce(1).write.partitionBy("dt")
        .parquet(s"${TxnCommit.stagingDir(w, cid)}/t")
      val moves = TxnCommit.movesFor(fs, w, cid, "t")
      TxnCommit.commit(fs, w, cid, moves)
      TxnCommit.publish(fs, w, cid, moves)
    }
    pub(0 until 10)
    pub(10 until 20)
    val r = Merge.deleteWhereDv(spark, w, "t", col("id") % 5 === 0)
    assert(r.rowsMatched == 4 && r.filesRewritten == 0)
    assert(ids(w, "t") == (0L until 20L).filterNot(_ % 5 == 0))
    // Postimage append must preserve the partition layout.
    val u = Merge.updateWhereDv(spark, w, "t", col("id") === 7,
      Map("name" -> lit("seven")))
    assert(u.filesAdded == 1)
    val got = Snapshots.read(spark, w, "t")
      .filter(col("id") === 7).select("name", "dt").collect().head
    assert(got.getString(0) == "seven" && got.getString(1) == "d two")
    // Partition pruning composes with the vector subtraction.
    assert(Snapshots.readWhere(spark, w, "t", col("dt") === "d one")
      .select("id").collect().map(_.getLong(0)).toSeq.sorted ==
      (0L until 20L).filter(i => i % 2 == 0 && i % 5 != 0))
    // Partition-scoped compaction purges only that partition's vectors.
    Compaction.compact(spark, w, "t",
      partitionFilter = m => m.get("dt").contains("d one"))
    val meta = Snapshots.snapshot(fs, w).files("t")
    assert(meta.filter(_.partition.contains("d%20one")).forall(_.dv.isEmpty) ||
      meta.filter(_.partition.contains("d one")).forall(_.dv.isEmpty))
    assert(ids(w, "t") == (0L until 20L).filterNot(_ % 5 == 0))
  }

  test("column mapping: logical-name DV DML over a renamed column") {
    val w = wh("dv-mapped")
    publishBatch(w, "t", 0 until 10)
    graft.ingest.SchemaEvolution.renameColumn(spark, w, "t", "name", "title")
    val r = Merge.deleteWhereDv(spark, w, "t", col("title") === "name_4")
    assert(r.rowsMatched == 1)
    val u = Merge.updateWhereDv(spark, w, "t", col("id") === 6,
      Map("title" -> lit("six")))
    assert(u.rowsMatched == 1)
    val got = Snapshots.read(spark, w, "t").select("id", "title").collect()
      .map(r0 => r0.getLong(0) -> r0.getString(1)).toMap
    assert(got.size == 9 && !got.contains(4L) && got(6L) == "six")
    // The change feed resolves through the mapping too.
    val feed = Snapshots.changes(spark, w, "t", fromExclusive = 1L)
      .select("id", "title", "_change_type").collect()
      .map(r0 => (r0.getLong(0), r0.getString(1), r0.getString(2))).toSet
    assert(feed == Set((4L, "name_4", "delete"),
      (6L, "name_6", "update_preimage"), (6L, "six", "update_postimage")))
  }

  test("additive schema evolution: mergeSchema read still subtracts vectors") {
    val w = wh("dv-evolve")
    publishBatch(w, "t", 0 until 6)
    Merge.deleteWhereDv(spark, w, "t", col("id") < 2)
    // A later commit adds a column; the old file's vector must still apply
    // under the merged schema.
    val s0 = spark
    import s0.implicits._
    val cid = java.util.UUID.randomUUID().toString
    Seq((100L, "x", 1.5)).toDF("id", "name", "score").coalesce(1)
      .write.parquet(s"${TxnCommit.stagingDir(w, cid)}/t")
    val moves = TxnCommit.movesFor(fs, w, cid, "t")
    TxnCommit.commit(fs, w, cid, moves)
    TxnCommit.publish(fs, w, cid, moves)
    val got = Snapshots.read(spark, w, "t", mergeSchema = true)
      .select("id", "score").collect()
      .map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(got.keySet == Set(2L, 3L, 4L, 5L, 100L))
    assert(got(100L).contains(1.5) && got(2L).isEmpty)
  }

  test("past the broadcast budget the anti-join degrades to a shuffle, correctly") {
    val w = wh("dv-shuffle")
    publishBatch(w, "t", 0 until 50)
    Merge.deleteWhereDv(spark, w, "t", col("id") % 7 === 0)
    // Dropping our hint isn't enough locally — the planner still
    // auto-broadcasts a tiny side, which is exactly what happens at real
    // scale only when the vector is small. Disable both thresholds to pin
    // the genuine worst case.
    sys.props.put("graft.test.dvBroadcastMaxRows", "0")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val df = Snapshots.read(spark, w, "t")
      val plan = df.queryExecution.executedPlan.toString
      // The ANTI join must have left the broadcast path (the inner pairs
      // semi-filter keeps its explicit hint — it is always tiny).
      assert(!plan.matches("(?s).*BroadcastHashJoin.*LeftAnti.*"),
        s"threshold 0 must force the non-broadcast anti-join:\n$plan")
      assert(plan.contains("LeftAnti"))
      assert(df.select("id").collect().map(_.getLong(0)).toSeq.sorted ==
        (0L until 50L).filterNot(_ % 7 == 0))
      // The change feed's path column was captured scan-side, so it
      // survives the shuffle too.
      Snapshots.restore(spark, w, "t", 1L) // no-op restore target == current
      val feed = Snapshots.changes(spark, w, "t", fromExclusive = -1L)
        .groupBy("_change_type").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(feed == Map("insert" -> 50L, "delete" -> 8L))
      // A further MoR delete through the shuffle path still merges vectors.
      Merge.deleteWhereDv(spark, w, "t", col("id") === 1)
      assert(Snapshots.read(spark, w, "t").count() == 41)
    } finally {
      sys.props.remove("graft.test.dvBroadcastMaxRows")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
  }

  test("vacuum keeps live vectors, reaps superseded ones") {
    val w = wh("dv-vacuum")
    publishBatch(w, "t", 0 until 10)
    Merge.deleteWhereDv(spark, w, "t", col("id") === 0) // vector 1
    val v1 = Snapshots.snapshot(fs, w).files("t").filter(_.dv.nonEmpty).head.dvPath
    Merge.deleteWhereDv(spark, w, "t", col("id") === 1) // vector 2 supersedes
    val v2 = Snapshots.snapshot(fs, w).files("t").filter(_.dv.nonEmpty).head.dvPath
    assert(v1 != v2)
    // Both exist pre-vacuum (v1 serves time travel to version 1).
    assert(fs.exists(new Path(v1)) && fs.exists(new Path(v2)))
    val reaped = Snapshots.vacuum(fs, w, keepVersions = 1, minAgeMs = 0L)
    assert(reaped > 0)
    assert(!fs.exists(new Path(v1)), "superseded vector must be reaped")
    assert(fs.exists(new Path(v2)), "live vector must survive")
    assert(ids(w, "t") == (2L until 10L))
  }
}
