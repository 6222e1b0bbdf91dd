package graft

import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.ingest.{Compaction, Merge, Snapshots, TxnCommit}

/** Snapshot-isolated reads + compaction over the TxnCommit log. */
class TableFormatSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private lazy val dir = Files.createTempDirectory("graft-tablefmt")
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
  private def publishBatch(warehouse: String, table: String, ids: Range): String = {
    val commitId = java.util.UUID.randomUUID().toString
    val staging = s"${TxnCommit.stagingDir(warehouse, commitId)}/$table"
    val s0 = spark
    import s0.implicits._
    ids.map(_.toLong).toDF("id").coalesce(1).write.parquet(staging)
    val moves = TxnCommit.movesFor(fs, warehouse, commitId, table)
    TxnCommit.commit(fs, warehouse, commitId, moves)
    TxnCommit.publish(fs, warehouse, commitId, moves)
    commitId
  }

  private def partFiles(warehouse: String, table: String): Seq[String] = {
    val d = new Path(s"$warehouse/$table")
    if (!fs.exists(d)) Seq.empty
    else fs.listStatus(d).toSeq.filter(_.isFile)
      .map(_.getPath.getName).filterNot(_.startsWith("_"))
  }

  test("snapshot isolation: a reader pinned at version N is immune to later commits") {
    val w = wh("whSnap")
    publishBatch(w, "t", 1 to 10)
    assert(Snapshots.latestVersion(fs, w).contains(0L))
    // Reader resolves (and pins) version 0's file list now.
    val pinned = Snapshots.read(spark, w, "t")
    assert(pinned.count() == 10)
    // A concurrent publish lands version 1 …
    publishBatch(w, "t", 11 to 20)
    assert(Snapshots.latestVersion(fs, w).contains(1L))
    // … the pinned reader still sees exactly version 0,
    assert(pinned.count() == 10)
    assert(pinned.agg(org.apache.spark.sql.functions.sum("id")).head.getLong(0) == 55L)
    // a fresh read sees both, and as-of time-travels back to 0.
    assert(Snapshots.read(spark, w, "t").count() == 20)
    assert(Snapshots.read(spark, w, "t", asOf = Some(0L)).count() == 10)
  }

  test("snapshot append is idempotent by commitId (recovery replays)") {
    val w = wh("whIdem")
    val cid = publishBatch(w, "t", 1 to 5)
    val before = Snapshots.entries(fs, w)
    Snapshots.append(fs, w, cid, adds = Seq("t" -> "bogus"), removes = Nil)
    assert(Snapshots.entries(fs, w) == before) // replay ignored
    assert(Snapshots.read(spark, w, "t").count() == 5)
  }

  test("compaction: snapshot-atomic swap, time travel retained until vacuum") {
    val w = wh("whComp")
    (0 until 4).foreach(i => publishBatch(w, "t", (i * 100) until (i * 100 + 25)))
    assert(partFiles(w, "t").size == 4)
    val sumBefore = Snapshots.read(spark, w, "t")
      .agg(org.apache.spark.sql.functions.sum("id")).head.getLong(0)
    val vBefore = Snapshots.latestVersion(fs, w).get

    val res = Compaction.compact(spark, w, "t").get
    assert(res.filesBefore == 4 && res.filesAfter == 1)
    // default retention: inputs stay on disk, so pre-compaction versions
    // still read — the snapshot swap is logical
    assert(partFiles(w, "t").size == 5)
    assert(Snapshots.fileSet(fs, w, "t").get.size == 1)
    val after = Snapshots.read(spark, w, "t")
    assert(after.count() == 100)
    assert(after.agg(org.apache.spark.sql.functions.sum("id")).head.getLong(0) == sumBefore)
    assert(Snapshots.latestVersion(fs, w).get == vBefore + 1)
    assert(Snapshots.read(spark, w, "t", asOf = Some(vBefore)).count() == 100)
    // a second compact is a no-op (the committed set is already one file)
    assert(Compaction.compact(spark, w, "t").isEmpty)
    // vacuum truncates history AND reaps the unreachable swapped-out inputs
    Snapshots.vacuum(fs, w, keepVersions = 1, minAgeMs = 0L)
    assert(partFiles(w, "t").size == 1)
    assert(Snapshots.read(spark, w, "t").count() == 100)
    intercept[IllegalArgumentException] {
      Snapshots.read(spark, w, "t", asOf = Some(vBefore))
    }
  }

  test("sorted compaction range-clusters files for min/max data skipping") {
    val w = wh("whSort")
    // Four commits each spanning the whole id range — the worst case for
    // min/max skipping: every file's [min,max] covers every predicate.
    (0 until 4).foreach(i => publishBatch(w, "t", i until 400 by 4))
    val res = Compaction.compact(spark, w, "t",
      targetBytes = 1, minInputFiles = 2, sortBy = Seq("id")).get
    assert(res.filesBefore == 4)
    val files = Snapshots.fileSet(fs, w, "t").get
    assert(files.size > 1)
    // After clustering, per-file id ranges must be pairwise disjoint — the
    // property parquet row-group stats pruning needs to skip whole files.
    val ranges = files.map { f =>
      val mm = spark.read.parquet(f)
        .agg(org.apache.spark.sql.functions.min("id"),
          org.apache.spark.sql.functions.max("id")).head
      (mm.getLong(0), mm.getLong(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) => assert(hi < lo2, s"overlapping ranges: $ranges")
      case _ =>
    }
    assert(Snapshots.read(spark, w, "t").count() == 400)
  }

  test("zorder clusters files into small hyper-rectangles on both dimensions") {
    val w = wh("whZ")
    val s0 = spark
    import s0.implicits._
    // 4 commits each spanning the FULL (a, b) grid — no single-column sort
    // can shrink both dimensions at once.
    val grid = for (a <- 0 until 32; b <- 0 until 32) yield (a.toLong, b.toLong)
    (0 until 4).foreach { i =>
      val commitId = java.util.UUID.randomUUID().toString
      grid.filter(p => (p._1 + p._2 + i) % 4 == 0).toDF("a", "b").coalesce(1)
        .write.parquet(s"${TxnCommit.stagingDir(w, commitId)}/t")
      val moves = TxnCommit.movesFor(fs, w, commitId, "t")
      TxnCommit.commit(fs, w, commitId, moves)
      TxnCommit.publish(fs, w, commitId, moves)
    }
    val res = Compaction.zorder(spark, w, "t", Seq("a", "b"), targetBytes = 1).get
    assert(res.filesBefore == 4)
    val files = Snapshots.fileSet(fs, w, "t").get
    assert(files.size == 4) // capped at input count
    // The data-skipping property: a predicate on EITHER column must be able
    // to skip at least one file by min/max stats. (A single-column sort
    // gives every file the full range of the other column — nothing skips.)
    val boxes = files.map { f =>
      val r = spark.read.parquet(f).agg(
        org.apache.spark.sql.functions.min("a"), org.apache.spark.sql.functions.max("a"),
        org.apache.spark.sql.functions.min("b"), org.apache.spark.sql.functions.max("b")).head
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    }
    val hitA = boxes.count { case (loA, _, _, _) => loA < 8 } // files a<8 must read
    val hitB = boxes.count { case (_, _, loB, _) => loB < 8 }
    assert(hitA < files.size, s"no file skippable for a<8: $boxes")
    assert(hitB < files.size, s"no file skippable for b<8: $boxes")
    assert(Snapshots.read(spark, w, "t").count() == grid.size)
  }

  test("zorder with 5 columns narrows rank bits instead of overflowing 64") {
    // 5 cols × 16 bits would shift past 64 and (shiftleft wraps mod 64)
    // scramble the curve; with 12-bit ranks the interleave stays exact and
    // a predicate on the FIRST column must still skip at least one file.
    val w = wh("whZ5")
    val s0 = spark
    import s0.implicits._
    val commitId = java.util.UUID.randomUUID().toString
    val rows = (0 until 4096).map { i =>
      (i.toLong, (i * 7 % 4096).toLong, (i * 13 % 4096).toLong,
        (i * 17 % 4096).toLong, (i * 19 % 4096).toLong)
    }
    rows.toDF("a", "b", "c", "d", "e").repartition(8)
      .write.parquet(s"${TxnCommit.stagingDir(w, commitId)}/t")
    val moves = TxnCommit.movesFor(fs, w, commitId, "t")
    TxnCommit.commit(fs, w, commitId, moves)
    TxnCommit.publish(fs, w, commitId, moves)
    val res = Compaction.zorder(spark, w, "t",
      Seq("a", "b", "c", "d", "e"), targetBytes = 1).get
    val files = Snapshots.fileSet(fs, w, "t").get
    assert(files.size >= 4)
    // With few files the range split lands on the key's top bits, owned by
    // the LAST column (highest interleave position) — that's where exact
    // interleaving is observable. A wrapped shift (the 5×16-bit bug) would
    // scatter e's top bits to low positions and nothing could skip.
    val skippableForE = files.count { f =>
      spark.read.parquet(f).agg(org.apache.spark.sql.functions.min("e"))
        .head.getLong(0) >= 2048
    }
    assert(skippableForE >= 1, "e<2048 cannot skip any file — curve scrambled?")
    assert(Snapshots.read(spark, w, "t").count() == 4096)
    assert(res.filesBefore == 8)
  }

  test("history lists commits newest-first with action counts and op tags") {
    val w = wh("whHist")
    publishBatch(w, "t", 1 to 5)
    publishBatch(w, "t", 6 to 9)
    Compaction.compact(spark, w, "t")
    val h = graft.ingest.Snapshots.history(spark, w).collect()
    assert(h.map(_.getLong(0)).toSeq == Seq(2L, 1L, 0L)) // newest first
    assert(h.head.getLong(3) == 1L && h.head.getLong(4) == 2L) // compact: +1/-2
    assert(h.forall(_.getString(5) == "t"))
    assert(h.map(_.getString(6)).toSeq == Seq("compact", "append", "append"))
  }

  test("timestamp time travel resolves the version live at that instant") {
    val w = wh("whTsTravel")
    publishBatch(w, "t", 1 to 3)
    Thread.sleep(30)
    val between = System.currentTimeMillis()
    Thread.sleep(30)
    publishBatch(w, "t", 4 to 8)
    assert(Snapshots.readAsOfTime(spark, w, "t", between).count() == 3)
    assert(Snapshots.readAsOfTime(spark, w, "t",
      System.currentTimeMillis()).count() == 8)
    intercept[IllegalStateException] {
      Snapshots.readAsOfTime(spark, w, "t", 1000L) // before any commit
    }
  }

  test("changes() tails appends, skips compaction rewrites, serves merges row-level") {
    val w = wh("whCdc")
    val s0 = spark
    import s0.implicits._
    publishBatch(w, "t", 1 to 5)    // v0
    publishBatch(w, "t", 6 to 8)    // v1
    Compaction.compact(spark, w, "t") // v2 — moves rows, adds none
    publishBatch(w, "t", 9 to 10)   // v3
    // Consumer last saw v0: the delta is exactly v1's and v3's rows —
    // the compaction's rewritten copies of v0/v1 must NOT be re-delivered.
    val delta = graft.ingest.Snapshots.changes(spark, w, "t", fromExclusive = 0L)
    assert(delta.select("id").as[Long].collect().sorted.sameElements(6L to 10L))
    assert(delta.select("_change_type").distinct().as[String].collect()
      .sameElements(Array("insert")))
    assert(delta.filter($"id" === 7L).select("_commit_version").as[Long].head() == 1L)
    // No new commits since v3 → empty, with the table+CDF schema intact.
    val none = graft.ingest.Snapshots.changes(spark, w, "t", fromExclusive = 3L)
    assert(none.count() == 0 &&
      none.columns.sorted.sameElements(Array("_change_type", "_commit_version", "id")))
    // A merge in range is served from its row-level change files: the
    // upsert of an existing key shows up as a pre/post image pair, and the
    // rewritten survivor copies are NOT re-delivered.
    Merge.upsert(spark, w, "t", Seq(1L).toDF("id"), Seq("id"))
    val vMerge = Snapshots.latestVersion(fs, w).get
    val cdf = graft.ingest.Snapshots.changes(spark, w, "t", fromExclusive = 3L)
    assert(cdf.select("_change_type", "id").as[(String, Long)].collect().toSet ==
      Set(("update_preimage", 1L), ("update_postimage", 1L)))
    assert(cdf.select("_commit_version").distinct().as[Long].head() == vMerge)
  }

  test("changes() reconstructs a before/after diff across upsert + delete") {
    val w = wh("whCdfDiff")
    val s0 = spark
    import s0.implicits._
    def publishKv(rows: Seq[(Long, String)]): Unit = {
      val cid = java.util.UUID.randomUUID().toString
      rows.toDF("id", "val").coalesce(1)
        .write.parquet(s"${TxnCommit.stagingDir(w, cid)}/t")
      val moves = TxnCommit.movesFor(fs, w, cid, "t")
      TxnCommit.commit(fs, w, cid, moves)
      TxnCommit.publish(fs, w, cid, moves)
    }
    publishKv(Seq((1L, "a"), (2L, "b"), (3L, "c")))            // v0
    val v0 = Snapshots.latestVersion(fs, w).get
    val before = Snapshots.read(spark, w, "t", asOf = Some(v0))
      .as[(Long, String)].collect().toSet
    Merge.upsert(spark, w, "t",
      Seq((2L, "B"), (4L, "d")).toDF("id", "val"), Seq("id")) // v1: update 2, insert 4
    Merge.deleteKeys(spark, w, "t", Seq(1L).toDF("id"), Seq("id")) // v2: delete 1
    val vEnd = Snapshots.latestVersion(fs, w).get
    val after = Snapshots.read(spark, w, "t").as[(Long, String)].collect().toSet
    // Replaying the feed over the before-image must yield the after-image:
    // apply deletes+preimages as removals, inserts+postimages as additions.
    val feed = Snapshots.changes(spark, w, "t", fromExclusive = v0,
        toInclusive = Some(vEnd))
      .select("_change_type", "id", "val").as[(String, Long, String)].collect()
    val removed = feed.collect {
      case (t, id, v) if t == "delete" || t == "update_preimage" => (id, v) }.toSet
    val added = feed.collect {
      case (t, id, v) if t == "insert" || t == "update_postimage" => (id, v) }.toSet
    assert((before -- removed) ++ added == after)
    // And the feed carries exactly the expected change rows.
    assert(feed.map { case (t, id, v) => (t, id, v) }.toSet == Set(
      ("update_preimage", 2L, "b"), ("update_postimage", 2L, "B"),
      ("insert", 4L, "d"), ("delete", 1L, "a")))
  }

  test("reconstruction over a deep log reads O(CheckpointInterval) entry files") {
    val w = wh("whDeep")
    // 200 synthetic commits, driver-only: the log grows far past several
    // checkpoint intervals without paying 200 Spark writes.
    (0 until 200).foreach { i =>
      Snapshots.append(fs, w, f"c$i%04d",
        adds = Seq("t" -> s"$w/t/f$i.parquet"), removes = Nil)
    }
    assert(Snapshots.latestVersion(fs, w).contains(199L))
    Snapshots.logReads.set(0L)
    val files = Snapshots.fileSet(fs, w, "t").get
    assert(files.size == 200)
    val reads = Snapshots.logReads.get()
    // Anchored fold: newest checkpoint (v192) + the ≤ interval deltas at or
    // after it — never the 200-entry history. Slack covers the anchor read
    // and the at-anchor-version replay.
    assert(reads <= Snapshots.CheckpointInterval + 2,
      s"reconstruction opened $reads log files; expected O(${Snapshots.CheckpointInterval})")
    // Time travel to a pre-anchor version still folds correctly (bounded by
    // the nearest earlier checkpoint, not version 0).
    Snapshots.logReads.set(0L)
    assert(Snapshots.fileSet(fs, w, "t", asOf = Some(100L)).get.size == 101)
    assert(Snapshots.logReads.get() <= Snapshots.CheckpointInterval + 2)
    // LISTING cost is bounded too: the _last_checkpoint pointer anchors the
    // listing walk, so one append (or one latest-state read) pays
    // O(interval) per-version globs — never a 200-status dir listing.
    Snapshots.logLists.set(0L)
    Snapshots.append(fs, w, "cNext",
      adds = Seq("t" -> s"$w/t/fNext.parquet"), removes = Nil)
    val listsPerAppend = Snapshots.logLists.get()
    assert(listsPerAppend <= 2 * Snapshots.CheckpointInterval + 4,
      s"append paid $listsPerAppend list ops; expected O(${Snapshots.CheckpointInterval})")
    Snapshots.logLists.set(0L)
    assert(Snapshots.fileSet(fs, w, "t").get.size == 201)
    assert(Snapshots.logLists.get() <= 2 * Snapshots.CheckpointInterval + 4,
      s"read paid ${Snapshots.logLists.get()} list ops")
    // Tailing consumers (changes / the streaming source's addsInRange)
    // with a recent offset also stay on the anchored listing.
    Snapshots.logLists.set(0L)
    assert(Snapshots.addsInRange(fs, w, "t", 195L, 200L).size == 5)
    assert(Snapshots.logLists.get() <= 2 * Snapshots.CheckpointInterval + 4,
      s"tailing addsInRange paid ${Snapshots.logLists.get()} list ops")
    // A stale/missing pointer only widens: delete it, everything still works.
    fs.delete(new Path(s"$w/_snapshots/_last_checkpoint"), false)
    assert(Snapshots.fileSet(fs, w, "t").get.size == 201)
    assert(Snapshots.latestVersion(fs, w).contains(200L))
  }

  test("crash mid-compaction loses nothing: recovery completes the swap") {
    val w = wh("whCompCrash")
    (0 until 3).foreach(i => publishBatch(w, "t", (i * 10) until (i * 10 + 10)))
    sys.props("graft.test.failAfterMoves") = "0" // die before any move lands
    // retainRemoved=false exercises the physical-DEL replay path
    try intercept[IllegalStateException] {
      Compaction.compact(spark, w, "t", retainRemoved = false)
    } finally sys.props.remove("graft.test.failAfterMoves")
    // Committed manifest + untouched inputs: snapshot readers still see v2.
    assert(Snapshots.read(spark, w, "t").count() == 30)
    TxnCommit.recover(fs, w)
    assert(partFiles(w, "t").size == 1)
    val df = Snapshots.read(spark, w, "t")
    assert(df.count() == 30)
    assert(df.agg(org.apache.spark.sql.functions.sum("id")).head.getLong(0) == (0 until 30).sum)
  }

  test("log checkpoints anchor reconstruction; vacuum bounds the log") {
    val w = wh("whCkpt")
    (0 until 18).foreach(i => publishBatch(w, "t", i to i)) // versions 0..17
    val all = Snapshots.entries(fs, w)
    assert(all.exists(e => e.isCheckpoint && e.version == 16L)) // interval hit
    // checkpointed fold == truth
    assert(Snapshots.read(spark, w, "t").count() == 18)
    assert(Snapshots.read(spark, w, "t", asOf = Some(5L)).count() == 6)

    val removed = Snapshots.vacuum(fs, w, keepVersions = 4, minAgeMs = 0L)
    assert(removed > 0)
    val kept = Snapshots.entries(fs, w)
    assert(kept.head.version >= 14L) // cutoff = 17 - 4 + 1
    assert(kept.exists(e => e.isCheckpoint && e.version == 14L)) // anchor written
    // reads at and after the cutoff still reconstruct exactly
    assert(Snapshots.read(spark, w, "t").count() == 18)
    assert(Snapshots.read(spark, w, "t", asOf = Some(15L)).count() == 16)
    // pre-cutoff history is gone — fail fast, never a silently wrong answer
    intercept[IllegalArgumentException] {
      Snapshots.read(spark, w, "t", asOf = Some(5L))
    }
    // the log keeps flowing: another publish, compaction, and a second
    // vacuum (reaping the retained compaction inputs) still work
    publishBatch(w, "t", 100 to 101)
    assert(Snapshots.read(spark, w, "t").count() == 20)
    Compaction.compact(spark, w, "t")
    assert(Snapshots.read(spark, w, "t").count() == 20)
    Snapshots.vacuum(fs, w, keepVersions = 1, minAgeMs = 0L)
    assert(partFiles(w, "t").size == 1)
    assert(Snapshots.read(spark, w, "t").count() == 20)
  }

  test("copy-on-write merge: rewrites only affected files; upsert, delete, time travel") {
    val w = wh("whMerge")
    val s0 = spark
    import s0.implicits._
    def publishKv(ids: Range, v: String): Unit = {
      val commitId = java.util.UUID.randomUUID().toString
      ids.map(i => (i.toLong, v)).toDF("id", "val").coalesce(1)
        .write.parquet(s"${TxnCommit.stagingDir(w, commitId)}/t")
      val moves = TxnCommit.movesFor(fs, w, commitId, "t")
      TxnCommit.commit(fs, w, commitId, moves)
      TxnCommit.publish(fs, w, commitId, moves)
    }
    publishKv(0 until 10, "a")  // file A
    publishKv(10 until 20, "b") // file B
    val fileB = Snapshots.fileSet(fs, w, "t").get
      .find(f => spark.read.parquet(f).agg(org.apache.spark.sql.functions.min("id"))
        .head.getLong(0) == 10L).get
    val vBefore = Snapshots.latestVersion(fs, w).get

    // Upsert touching only file A's keys (+ one brand-new key).
    val updates = Seq((5L, "x"), (7L, "x"), (100L, "x")).toDF("id", "val")
    val res = Merge.upsert(spark, w, "t", updates, Seq("id"))
    assert(res.filesRewritten == 1 && res.rowsMatched == 2)
    val after = Snapshots.read(spark, w, "t")
    assert(after.count() == 21)
    assert(after.filter($"val" === "x").select("id").as[Long].collect().sorted
      .sameElements(Array(5L, 7L, 100L)))
    // file B never moved: the same physical file is still in the snapshot
    assert(Snapshots.fileSet(fs, w, "t").get.contains(fileB))
    // pre-merge version still reads the original values
    assert(Snapshots.read(spark, w, "t", asOf = Some(vBefore))
      .filter($"id" === 5L).select("val").as[String].head() == "a")

    // Delete by key; missing keys are a no-op.
    val res2 = Merge.deleteKeys(spark, w, "t", Seq(10L, 11L).toDF("id"), Seq("id"))
    assert(res2.rowsMatched == 2)
    assert(Snapshots.read(spark, w, "t").count() == 19)
    assert(Merge.deleteKeys(spark, w, "t", Seq(999L).toDF("id"), Seq("id"))
      .rowsMatched == 0)
    assert(Snapshots.read(spark, w, "t").count() == 19)
  }

  test("column mapping: RENAME COLUMN is metadata-only, versioned, DML-compatible") {
    import graft.ingest.SchemaEvolution
    val w = wh("whRename")
    val s0 = spark
    import s0.implicits._
    def publishKv(rows: Seq[(Long, String, Long)]): Unit = {
      val commitId = java.util.UUID.randomUUID().toString
      rows.toDF("id", "name", "score").coalesce(1)
        .write.parquet(s"${TxnCommit.stagingDir(w, commitId)}/t")
      val moves = TxnCommit.movesFor(fs, w, commitId, "t")
      TxnCommit.commit(fs, w, commitId, moves)
      TxnCommit.publish(fs, w, commitId, moves)
    }
    publishKv(Seq((1L, "a", 10L), (2L, "b", 20L)))
    publishKv(Seq((3L, "c", 30L), (4L, "d", 40L)))
    val filesBefore = Snapshots.fileSet(fs, w, "t").get.toSet
    val vBefore = Snapshots.latestVersion(fs, w).get

    SchemaEvolution.renameColumn(spark, w, "t", "name", "doc_name")
    // zero files touched — pure metadata commit
    assert(Snapshots.fileSet(fs, w, "t").get.toSet == filesBefore)
    val df = Snapshots.read(spark, w, "t")
    assert(df.columns.toSeq == Seq("id", "doc_name", "score"))
    assert(df.filter($"doc_name" === "c").select("id").as[Long].head() == 3L)
    // time travel below the rename resolves the OLD logical schema
    assert(Snapshots.read(spark, w, "t", asOf = Some(vBefore))
      .columns.toSeq == Seq("id", "name", "score"))
    // data skipping still fires on the LOGICAL name: the log's physical
    // stats are renamed through the mapping, so readWhere on doc_name
    // plans only the file whose [min,max] overlaps.
    val pruned = Snapshots.readWhere(spark, w, "t", $"id" >= 3L)
    assert(pruned.inputFiles.length == 1)
    assert(pruned.count() == 2)
    // DML in logical names: upsert replaces by key, rewritten file keeps
    // the PHYSICAL column name on disk
    val res = Merge.upsert(spark, w, "t",
      Seq((1L, "A", 11L)).toDF("id", "doc_name", "score"), Seq("id"))
    assert(res.filesRewritten == 1 && res.rowsMatched == 1)
    val after = Snapshots.read(spark, w, "t")
    assert(after.filter($"id" === 1L).select("doc_name").as[String].head() == "A")
    val rewritten = (Snapshots.fileSet(fs, w, "t").get.toSet -- filesBefore).head
    assert(spark.read.parquet(rewritten).columns.contains("name")) // physical
    // change feed serves the logical schema too
    val feed = Snapshots.changes(spark, w, "t", fromExclusive = -1L)
    assert(feed.columns.contains("doc_name") && !feed.columns.contains("name"))
    assert(feed.filter($"_change_type" === "update_postimage")
      .select("doc_name").as[String].head() == "A")
    // guards
    intercept[IllegalArgumentException](
      SchemaEvolution.renameColumn(spark, w, "t", "nope", "x"))
    intercept[IllegalArgumentException](
      SchemaEvolution.renameColumn(spark, w, "t", "doc_name", "score"))
  }

  test("column mapping: DROP COLUMN tombstones, time travel serves the old era") {
    import graft.ingest.SchemaEvolution
    val w = wh("whDrop")
    val s0 = spark
    import s0.implicits._
    def publishKv(rows: Seq[(Long, String, Long)]): Unit = {
      val commitId = java.util.UUID.randomUUID().toString
      rows.toDF("id", "name", "score").coalesce(1)
        .write.parquet(s"${TxnCommit.stagingDir(w, commitId)}/t")
      val moves = TxnCommit.movesFor(fs, w, commitId, "t")
      TxnCommit.commit(fs, w, commitId, moves)
      TxnCommit.publish(fs, w, commitId, moves)
    }
    publishKv(Seq((1L, "a", 10L), (2L, "b", 20L)))
    val vBefore = Snapshots.latestVersion(fs, w).get
    val filesBefore = Snapshots.fileSet(fs, w, "t").get.toSet

    SchemaEvolution.dropColumn(spark, w, "t", "score")
    assert(Snapshots.fileSet(fs, w, "t").get.toSet == filesBefore) // no rewrite
    assert(Snapshots.read(spark, w, "t").columns.toSeq == Seq("id", "name"))
    // the bytes are still there for time travel below the drop
    assert(Snapshots.read(spark, w, "t", asOf = Some(vBefore))
      .filter($"id" === 2L).select("score").as[Long].head() == 20L)
    // a rewrite after the drop writes files WITHOUT the dropped column —
    // and mixed files (with/without the physical residue) read fine
    Merge.upsert(spark, w, "t", Seq((2L, "B")).toDF("id", "name"), Seq("id"))
    val after = Snapshots.read(spark, w, "t")
    assert(after.columns.toSeq == Seq("id", "name"))
    assert(after.orderBy("id").as[(Long, String)].collect()
      .toSeq == Seq((1L, "a"), (2L, "B")))
    val rewritten = (Snapshots.fileSet(fs, w, "t").get.toSet -- filesBefore).head
    assert(!spark.read.parquet(rewritten).columns.contains("score"))
    // the physical name is tombstoned in the mapping
    val m = Snapshots.columnMapping(fs, w, "t").get
    assert(m.droppedPhysical == Seq("score"))
    // guards: last column, unknown column
    intercept[IllegalArgumentException](
      SchemaEvolution.dropColumn(spark, w, "t", "nope"))
    SchemaEvolution.dropColumn(spark, w, "t", "name")
    intercept[IllegalArgumentException](
      SchemaEvolution.dropColumn(spark, w, "t", "id"))
  }

  test("ADD COLUMN after DROP: fresh physical name, old bytes never resurrect") {
    import graft.ingest.SchemaEvolution
    val w = wh("whReAdd")
    val s0 = spark
    import s0.implicits._
    def pub(df: org.apache.spark.sql.DataFrame): Unit = {
      val cid = java.util.UUID.randomUUID().toString
      df.coalesce(1).write.parquet(s"${TxnCommit.stagingDir(w, cid)}/t")
      val moves = TxnCommit.movesFor(fs, w, cid, "t")
      TxnCommit.commit(fs, w, cid, moves)
      TxnCommit.publish(fs, w, cid, moves)
    }
    pub(Seq((1L, "old1"), (2L, "old2")).toDF("id", "score"))
    SchemaEvolution.dropColumn(spark, w, "t", "score")
    // re-add the same LOGICAL name: gets a fresh physical slot
    val phys = SchemaEvolution.addColumn(spark, w, "t", "score")
    assert(phys != "score")
    // writers stage the physical name; old rows read the new column as null
    pub(Seq((3L, "new3")).toDF("id", phys))
    val df = Snapshots.read(spark, w, "t", mergeSchema = true).orderBy("id")
    assert(df.columns.toSeq == Seq("id", "score"))
    assert(df.as[(Long, Option[String])].collect().toSeq ==
      Seq((1L, None), (2L, None), (3L, Some("new3")))) // old1/old2 stay buried
    // duplicate add rejected
    intercept[IllegalArgumentException](
      SchemaEvolution.addColumn(spark, w, "t", "score"))
  }

  test("first rename on an additively-evolved table maps the FULL union schema") {
    import graft.ingest.SchemaEvolution
    val w = wh("whEvoRename")
    val s0 = spark
    import s0.implicits._
    publishBatch(w, "t", 1 to 3) // schema: (id)
    val cid = java.util.UUID.randomUUID().toString
    Seq((10L, "x")).toDF("id", "val").coalesce(1)
      .write.parquet(s"${TxnCommit.stagingDir(w, cid)}/t") // additive: + val
    val moves = TxnCommit.movesFor(fs, w, cid, "t")
    TxnCommit.commit(fs, w, cid, moves)
    TxnCommit.publish(fs, w, cid, moves)
    // the identity mapping must capture BOTH columns, whichever footer the
    // non-merge schema sample would have picked
    SchemaEvolution.renameColumn(spark, w, "t", "id", "key")
    val m = Snapshots.columnMapping(fs, w, "t").get
    assert(m.cols.toSet == Set(("key", "id"), ("val", "val")))
    val df = Snapshots.read(spark, w, "t", mergeSchema = true)
    assert(df.columns.toSet == Set("key", "val"))
    assert(df.filter($"val".isNotNull).select("key").as[Long].head() == 10L)
  }

  test("purging compaction physically sheds dropped columns; history still travels") {
    import graft.ingest.SchemaEvolution
    val w = wh("whPurge")
    val s0 = spark
    import s0.implicits._
    def publishKv(rows: Seq[(Long, String, Long)]): Unit = {
      val commitId = java.util.UUID.randomUUID().toString
      rows.toDF("id", "name", "secret").coalesce(1)
        .write.parquet(s"${TxnCommit.stagingDir(w, commitId)}/t")
      val moves = TxnCommit.movesFor(fs, w, commitId, "t")
      TxnCommit.commit(fs, w, commitId, moves)
      TxnCommit.publish(fs, w, commitId, moves)
    }
    publishKv(Seq((1L, "a", 101L)))
    publishKv(Seq((2L, "b", 102L)))
    val vBefore = Snapshots.latestVersion(fs, w).get
    SchemaEvolution.dropColumn(spark, w, "t", "secret")
    // metadata drop leaves the bytes in place …
    assert(Snapshots.fileSet(fs, w, "t").get
      .forall(f => spark.read.parquet(f).columns.contains("secret")))
    // … the purging rewrite removes them physically
    val res = Compaction.compact(spark, w, "t", purgeDropped = true)
    assert(res.nonEmpty)
    val live = Snapshots.fileSet(fs, w, "t").get
    assert(live.forall(f => !spark.read.parquet(f).columns.contains("secret")))
    assert(Snapshots.read(spark, w, "t").orderBy("id")
      .as[(Long, String)].collect().toSeq == Seq((1L, "a"), (2L, "b")))
    // pre-purge versions still serve the column (inputs retained for asOf)
    assert(Snapshots.read(spark, w, "t", asOf = Some(vBefore))
      .filter($"id" === 1L).select("secret").as[Long].head() == 101L)
    // a second purge run is a no-op only because nothing is left to pack
    // AND nothing tombstoned survives in live files — count stays stable
    assert(Snapshots.read(spark, w, "t").count() == 2)
  }

  test("column mapping survives checkpoints and rides rename chains") {
    import graft.ingest.SchemaEvolution
    val w = wh("whMapCkpt")
    publishBatch(w, "t", 1 to 5)
    publishBatch(w, "t", 6 to 10)
    SchemaEvolution.renameColumn(spark, w, "t", "id", "key")
    SchemaEvolution.renameColumn(spark, w, "t", "key", "pk")
    // maintenance names columns LOGICALLY: sorted compaction on the renamed
    // column resolves to the physical name under the hood
    assert(Compaction.compact(spark, w, "t", sortBy = Seq("pk")).nonEmpty)
    assert(Snapshots.read(spark, w, "t").columns.toSeq == Seq("pk"))
    // drive the log past a checkpoint boundary (interval 16)
    (0 until 20).foreach(_ => publishBatch(w, "t2", 1 to 2))
    assert(Snapshots.entries(fs, w).exists(_.isCheckpoint))
    // the mapping survives the checkpoint fold (META line in the anchor)
    assert(Snapshots.read(spark, w, "t").columns.toSeq == Seq("pk"))
    assert(Snapshots.columnMapping(fs, w, "t").get.cols == Seq(("pk", "id")))
    assert(Snapshots.read(spark, w, "t")
      .agg(org.apache.spark.sql.functions.sum("pk")).head.getLong(0) == 55L)
  }

  test("additive schema evolution: mergeSchema unions commit schemas") {
    val w = wh("whEvo")
    val s0 = spark
    import s0.implicits._
    publishBatch(w, "t", 1 to 3) // schema: (id)
    val commitId = java.util.UUID.randomUUID().toString
    Seq((10L, "x")).toDF("id", "val").coalesce(1)
      .write.parquet(s"${TxnCommit.stagingDir(w, commitId)}/t") // adds `val`
    val moves = TxnCommit.movesFor(fs, w, commitId, "t")
    TxnCommit.commit(fs, w, commitId, moves)
    TxnCommit.publish(fs, w, commitId, moves)
    val df = Snapshots.read(spark, w, "t", mergeSchema = true)
    assert(df.columns.sorted.sameElements(Array("id", "val")))
    assert(df.count() == 4)
    assert(df.filter($"val".isNull).count() == 3) // old files: new col is null
  }

  test("predicate DML: updateWhere/deleteWhere rewrite only matching files, record CDF") {
    val w = wh("whDml")
    val s0 = spark
    import s0.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    def pub(ids: Range): Unit = {
      val cid = java.util.UUID.randomUUID().toString
      ids.map(i => (i.toLong, i.toLong)).toDF("id", "v").coalesce(1)
        .write.parquet(s"${TxnCommit.stagingDir(w, cid)}/t")
      val moves = TxnCommit.movesFor(fs, w, cid, "t")
      TxnCommit.commit(fs, w, cid, moves)
      TxnCommit.publish(fs, w, cid, moves)
    }
    pub(0 until 10); pub(10 until 20); pub(20 until 30)
    val v0 = Snapshots.latestVersion(fs, w).get

    val up = Merge.updateWhere(spark, w, "t", col("id") === 15L,
      Map("v" -> (col("v") + lit(1000L))))
    assert(up.filesRewritten == 1 && up.rowsMatched == 1)
    assert(up.filesScanned == 1, "stats must prune to the one covering file")
    val after = Snapshots.read(spark, w, "t")
    assert(after.filter($"id" === 15L).select("v").as[Long].head() == 1015L)
    assert(after.count() == 30)

    val del = Merge.deleteWhere(spark, w, "t", col("id") >= 20L && col("id") < 25L)
    assert(del.filesRewritten == 1 && del.rowsMatched == 5)
    assert(Snapshots.read(spark, w, "t").count() == 25)
    // No-match predicates are free no-ops.
    assert(Merge.deleteWhere(spark, w, "t", col("id") === 9999L).rowsMatched == 0)
    // The change feed carries both DML commits row-level.
    val feed = Snapshots.changes(spark, w, "t", fromExclusive = v0)
      .select("_change_type", "id").as[(String, Long)].collect()
    assert(feed.toSet == Set(("update_preimage", 15L), ("update_postimage", 15L)) ++
      (20L until 25L).map(("delete", _)))
  }

  test("DML three-valued logic: NULL-evaluating rows survive; CDF scales past one file") {
    val w = wh("whDmlNull")
    val s0 = spark
    import s0.implicits._
    import org.apache.spark.sql.functions.col
    // Two files, each carrying rows whose predicate column is NULL.
    def pub(rows: Seq[(Long, Option[Long])]): Unit = {
      val cid = java.util.UUID.randomUUID().toString
      rows.toDF("id", "v").coalesce(1)
        .write.parquet(s"${TxnCommit.stagingDir(w, cid)}/t")
      val moves = TxnCommit.movesFor(fs, w, cid, "t")
      TxnCommit.commit(fs, w, cid, moves)
      TxnCommit.publish(fs, w, cid, moves)
    }
    pub(Seq((1L, Some(1L)), (2L, None), (3L, Some(3L))))
    pub(Seq((4L, Some(4L)), (5L, None), (6L, Some(6L))))
    val cdfBefore = {
      val d = new Path(s"$w/_changes/t")
      if (fs.exists(d)) fs.listStatus(d).count(_.isFile) else 0
    }
    // v < 100 is TRUE for 1,3,4,6 — NULL (not FALSE) for 2 and 5. Only the
    // TRUE rows may be deleted; the NULL rows must survive the rewrite.
    val del = Merge.deleteWhere(spark, w, "t", col("v") < 100L)
    assert(del.rowsMatched == 4 && del.filesRewritten == 2)
    val left = Snapshots.read(spark, w, "t").select("id").as[Long].collect().sorted
    assert(left.sameElements(Array(2L, 5L)),
      s"NULL-predicate rows must survive DELETE, got ${left.mkString(",")}")
    // Both affected files contributed change rows; the CDF write keeps that
    // parallelism instead of funnelling through one task.
    val cdfAfter = fs.listStatus(new Path(s"$w/_changes/t")).count(_.isFile)
    assert(cdfAfter - cdfBefore >= 2,
      s"expected >=2 staged change files for a 2-file DML, got ${cdfAfter - cdfBefore}")
    // updateWhere: same survival rule.
    pub(Seq((7L, Some(7L)), (8L, None)))
    val up = Merge.updateWhere(spark, w, "t", col("v") === 7L,
      Map("v" -> (col("v") + 1000L)))
    assert(up.rowsMatched == 1)
    assert(Snapshots.read(spark, w, "t").filter($"id" === 8L).count() == 1)
  }

  test("merge guards: empty source is a no-op commit; duplicate source keys rejected") {
    val w = wh("whMergeGuard")
    val s0 = spark
    import s0.implicits._
    publishBatch(w, "t", 1 to 5)
    val v0 = Snapshots.latestVersion(fs, w)
    val res = Merge.upsert(spark, w, "t",
      spark.emptyDataset[Long].toDF("id"), Seq("id"))
    assert(res == Merge.Result(0, 0, 0L, 0))
    assert(Snapshots.latestVersion(fs, w) == v0, "empty upsert must not commit")
    val ex = intercept[IllegalArgumentException] {
      Merge.upsert(spark, w, "t", Seq(3L, 3L, 9L).toDF("id"), Seq("id"))
    }
    assert(ex.getMessage.contains("duplicate keys"))
  }

  test("restore rolls back as a new commit; vacuum never reaps re-added files") {
    val w = wh("whRestore")
    val s0 = spark
    import s0.implicits._
    publishBatch(w, "t", 1 to 5)   // v0
    publishBatch(w, "t", 6 to 9)   // v1
    Compaction.compact(spark, w, "t") // v2: adds packed file, removes originals
    val (added, removed) = Snapshots.restore(spark, w, "t", 1L) // v3
    assert(added == 2 && removed == 1) // originals back, packed file out
    assert(Snapshots.read(spark, w, "t").select("id").as[Long].collect().sorted
      .sameElements(1L to 9L))
    // History intact: the compacted version is still readable.
    assert(Snapshots.read(spark, w, "t", asOf = Some(2L)).count() == 9)
    // Idempotent: restoring to the now-current state is a no-op commit.
    assert(Snapshots.restore(spark, w, "t", 3L) == ((0, 0)))
    // The hazard this exists to test: land one more commit (v4) and vacuum
    // with the cutoff at the COMPACTION version (2) — strictly below the
    // restore (3). The compaction's REMOVEs of the original files are ≤
    // cutoff and absent from the anchor state, so only the re-ADD by the
    // retained restore entry (futureAdds guard) spares them from physical
    // deletion. Without that guard this read loses both restored files.
    publishBatch(w, "t", 100 to 100) // v4
    Snapshots.vacuum(fs, w, keepVersions = 3, minAgeMs = 0L) // cutoff = 2
    assert(Snapshots.read(spark, w, "t").select("id").as[Long].collect().sorted
      .sameElements((1L to 9L) :+ 100L))
    // And the change feed serves the restored rows as fresh inserts.
    val feed = Snapshots.changes(spark, w, "t", fromExclusive = 2L)
    assert(feed.count() == 10 &&
      feed.select("_change_type").distinct().as[String].head() == "insert")
  }

  test("changes() over a long version range plans a bounded-depth tree") {
    val w = wh("whDeepFeed")
    val s0 = spark
    import s0.implicits._
    import org.apache.spark.sql.functions.col
    (0 until 60).foreach(i => publishBatch(w, "t", i to i))
    // One merge commit mid-range so the CDF leg is exercised too.
    Merge.upsert(spark, w, "t", Seq(5L).toDF("id"), Seq("id")) // v60
    (61 until 64).foreach(i => publishBatch(w, "t", (i * 10) to (i * 10)))
    val feed = Snapshots.changes(spark, w, "t", fromExclusive = -1L)
    // 64 versions, but the plan holds at most two parquet leaf relations
    // (appends + CDF) plus the broadcast version maps — not a union chain
    // one level deep per version.
    val leaves = feed.queryExecution.optimizedPlan.collectLeaves()
    val parquetLeaves = leaves.count {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation.isInstanceOf[
          org.apache.spark.sql.execution.datasources.HadoopFsRelation]
      case _ => false
    }
    assert(parquetLeaves <= 2,
      s"expected <=2 parquet leaves for a 64-version feed, got $parquetLeaves")
    // And the rows are exactly right: every append's insert tagged with its
    // committing version, plus the merge's pre/post images at v60.
    assert(feed.count() == 63 + 2) // 63 append rows + merge pre/post image
    val inserts = feed.filter(col("_change_type") === "insert")
      .select("id", "_commit_version").as[(Long, Long)].collect().toMap
    assert(inserts.size == 63 && inserts(0L) == 0L && inserts(59L) == 59L &&
      inserts(630L) == 63L)
    assert(feed.filter(col("_change_type") === "update_postimage")
      .select("_commit_version").as[Long].head() == 60L)
  }

  test("changes() serves a restore-re-ADDed file once per serving version") {
    val w = wh("whRestoreFeed")
    val s0 = spark
    import s0.implicits._
    import org.apache.spark.sql.functions.col
    publishBatch(w, "t", 1 to 3)                            // v0: file F
    Merge.deleteKeys(spark, w, "t", Seq(2L).toDF("id"), Seq("id")) // v1
    Snapshots.restore(spark, w, "t", 0L)                    // v2: re-ADDs F
    val feed = Snapshots.changes(spark, w, "t", fromExclusive = -1L)
    // F's rows appear EXACTLY twice — once tagged v0, once v2 (the restore
    // re-ADDs the same path; the multi-file read must not double-read it).
    val byVersion = feed.filter(col("_change_type") === "insert")
      .groupBy("_commit_version").count()
      .as[(Long, Long)].collect().toMap
    assert(byVersion == Map(0L -> 3L, 2L -> 3L), s"got $byVersion")
    assert(feed.filter(col("_change_type") === "delete").count() == 1)
  }

  test("partitioned restore feed: equal basenames across partition dirs don't cross-tag") {
    val w = wh("whPartRestoreFeed")
    val s0 = spark
    import s0.implicits._
    import org.apache.spark.sql.functions.col
    // ONE dynamic-partition write emits the SAME basename into dt=d1 and
    // dt=d2 — the version map must key on full paths, or d2's rows get
    // fanned out to the restore version too.
    val cid = java.util.UUID.randomUUID().toString
    Seq((1L, "d1"), (2L, "d1"), (3L, "d2"), (4L, "d2")).toDF("id", "dt")
      .coalesce(1).write.partitionBy("dt")
      .parquet(s"${TxnCommit.stagingDir(w, cid)}/t")
    val moves = TxnCommit.movesFor(fs, w, cid, "t")
    TxnCommit.commit(fs, w, cid, moves)
    TxnCommit.publish(fs, w, cid, moves)                       // v0
    Merge.deleteWhere(spark, w, "t", col("dt") === "d1")       // v1
    Snapshots.restore(spark, w, "t", 0L)                       // v2: re-ADDs d1's file
    val feed = Snapshots.changes(spark, w, "t", fromExclusive = -1L)
      .filter(col("_change_type") === "insert")
      .select("id", "_commit_version").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    // d1 rows (1,2): inserted at v0 AND re-inserted by the restore at v2;
    // d2 rows (3,4): v0 only — never v2.
    assert(feed == Map(1L -> Seq(0L, 2L), 2L -> Seq(0L, 2L),
      3L -> Seq(0L), 4L -> Seq(0L)), s"got $feed")
  }

  test("merge/DML and the change feed survive spaces in partition values") {
    // Spark's path escaping does NOT escape spaces, but input_file_name()
    // serves them percent-encoded — the affected-file match and the feed's
    // file→version join must meet in one encoding or DML silently no-ops
    // (upsert would then INSERT duplicates of matched keys).
    val w = wh("whSpacePath")
    val s0 = spark
    import s0.implicits._
    import org.apache.spark.sql.functions.col
    val cid = java.util.UUID.randomUUID().toString
    Seq((1L, 10L, "Jan 2024"), (2L, 20L, "Feb 2024"))
      .toDF("id", "v", "month").coalesce(1).write.partitionBy("month")
      .parquet(s"${TxnCommit.stagingDir(w, cid)}/t")
    val moves = TxnCommit.movesFor(fs, w, cid, "t")
    TxnCommit.commit(fs, w, cid, moves)
    TxnCommit.publish(fs, w, cid, moves)
    val up = Merge.upsert(spark, w, "t",
      Seq((1L, 100L, "Jan 2024")).toDF("id", "v", "month"), Seq("id"))
    assert(up.rowsMatched == 1 && up.filesRewritten == 1,
      s"space-path merge must find its file: $up")
    val after = Snapshots.read(spark, w, "t")
    assert(after.count() == 2) // replaced, NOT duplicated
    assert(after.filter($"id" === 1L).select("v").as[Long].head() == 100L)
    val del = Merge.deleteWhere(spark, w, "t", col("v") === 20L)
    assert(del.rowsMatched == 1)
    // And the change feed joins its version map on the same encoding.
    val feed = Snapshots.changes(spark, w, "t", fromExclusive = -1L)
    assert(feed.filter(col("_change_type") === "insert").count() == 2)
    assert(feed.filter(col("_change_type") === "delete").count() == 1)
  }

  test("changes() spans flat→partitioned→deeper-partitioned layout switches") {
    val w = wh("whLayoutSwitch")
    val s0 = spark
    import s0.implicits._
    import org.apache.spark.sql.functions.col
    def pubPart(df: org.apache.spark.sql.DataFrame, cols: String*): Unit = {
      val cid = java.util.UUID.randomUUID().toString
      df.coalesce(1).write.partitionBy(cols: _*)
        .parquet(s"${TxnCommit.stagingDir(w, cid)}/t")
      val moves = TxnCommit.movesFor(fs, w, cid, "t")
      TxnCommit.commit(fs, w, cid, moves)
      TxnCommit.publish(fs, w, cid, moves)
    }
    publishBatch(w, "t", 1 to 3) // v0: flat, schema (id)
    pubPart(Seq((10L, "d1"), (11L, "d2")).toDF("id", "dt"), "dt") // v1: dt=
    // v2: re-partitioned deeper — dt=/hour= (conflicting depth vs v1 if
    // read in one relation).
    pubPart(Seq((20L, "d1", 0L), (21L, "d1", 1L)).toDF("id", "dt", "hour"),
      "dt", "hour")
    val feed = Snapshots.changes(spark, w, "t", fromExclusive = -1L)
    assert(feed.count() == 7)
    assert(feed.filter(col("_commit_version") === 1L).count() == 2)
    assert(feed.filter(col("_commit_version") === 2L).count() == 2)
    assert(feed.filter(col("id") === 10L).select("dt")
      .collect().head.getString(0) == "d1")
    assert(feed.filter(col("id") === 21L).select("hour")
      .collect().head.get(0).toString == "1")
  }

  test("schema enforcement: a type change is rejected at the commit point") {
    val w = wh("whEnforce")
    val s0 = spark
    import s0.implicits._
    publishBatch(w, "t", 1 to 3) // id: INT64
    // Same column name, different physical type (BINARY/STRING): the
    // commit must throw BEFORE the commit point — no manifest, no moves,
    // table untouched.
    val cid = java.util.UUID.randomUUID().toString
    Seq("x", "y").toDF("id").coalesce(1)
      .write.parquet(s"${TxnCommit.stagingDir(w, cid)}/t")
    val moves = TxnCommit.movesFor(fs, w, cid, "t")
    val err = intercept[IllegalArgumentException] {
      TxnCommit.commit(fs, w, cid, moves)
    }
    assert(err.getMessage.contains("schema enforcement"))
    assert(!fs.exists(new Path(s"$w/_commits/$cid.manifest")))
    assert(Snapshots.read(spark, w, "t").count() == 3)
    // Additive evolution still commits (new column, existing types equal).
    val cid2 = java.util.UUID.randomUUID().toString
    Seq((10L, 1.5)).toDF("id", "score").coalesce(1)
      .write.parquet(s"${TxnCommit.stagingDir(w, cid2)}/t")
    val moves2 = TxnCommit.movesFor(fs, w, cid2, "t")
    TxnCommit.commit(fs, w, cid2, moves2)
    TxnCommit.publish(fs, w, cid2, moves2)
    assert(Snapshots.read(spark, w, "t", mergeSchema = true).count() == 4)
  }

  test("changes() spans additive schema evolution with nulls for old rows") {
    val w = wh("whCdcEvo")
    val s0 = spark
    import s0.implicits._
    publishBatch(w, "t", 1 to 3) // schema: (id)
    val cid = java.util.UUID.randomUUID().toString
    Seq((10L, "x")).toDF("id", "val").coalesce(1)
      .write.parquet(s"${TxnCommit.stagingDir(w, cid)}/t") // adds `val`
    val moves = TxnCommit.movesFor(fs, w, cid, "t")
    TxnCommit.commit(fs, w, cid, moves)
    TxnCommit.publish(fs, w, cid, moves)
    val feed = Snapshots.changes(spark, w, "t", fromExclusive = -1L)
    assert(feed.columns.sorted.sameElements(
      Array("_change_type", "_commit_version", "id", "val")))
    assert(feed.count() == 4)
    assert(feed.filter($"val".isNull).count() == 3) // pre-evolution inserts
    assert(feed.filter($"val" === "x").select("id").as[Long].head() == 10L)
  }

  test("vacuum retention window shields versions still pinnable by in-flight readers") {
    val w = wh("whRet")
    (0 until 6).foreach(i => publishBatch(w, "t", i to i)) // versions 0..5
    // Every entry just landed: within a 1h window, no version has been
    // superseded long enough to reclaim — vacuum must be a no-op even under
    // an aggressive keepVersions policy.
    assert(Snapshots.vacuum(fs, w, keepVersions = 1, minAgeMs = 3600000L) == 0)
    assert(Snapshots.read(spark, w, "t", asOf = Some(0L)).count() == 1)
    // Window elapsed (minAgeMs = 0): the version-count policy applies again.
    assert(Snapshots.vacuum(fs, w, keepVersions = 1, minAgeMs = 0L) > 0)
    intercept[IllegalArgumentException] {
      Snapshots.read(spark, w, "t", asOf = Some(0L))
    }
    assert(Snapshots.read(spark, w, "t").count() == 6)
  }

  test("changes() fails fast when the requested range was vacuumed") {
    val w = wh("whCdcVac")
    publishBatch(w, "t", 1 to 3)                      // v0
    (0 until 3).foreach(i => publishBatch(w, "t", (10 + i) to (10 + i))) // v1..v3
    Compaction.compact(spark, w, "t", retainRemoved = true) // v4
    Snapshots.vacuum(fs, w, keepVersions = 1, minAgeMs = 0L) // reaps pre-compaction files
    intercept[IllegalArgumentException] {
      Snapshots.changes(spark, w, "t", fromExclusive = -1L).count()
    }
  }

  test("merge works on string keys (bounds pushdown included)") {
    val w = wh("whMergeStr")
    val s0 = spark
    import s0.implicits._
    val cid = java.util.UUID.randomUUID().toString
    Seq(("alpha", 1L), ("beta", 2L), ("gamma", 3L)).toDF("k", "v").coalesce(1)
      .write.parquet(s"${TxnCommit.stagingDir(w, cid)}/t")
    val moves = TxnCommit.movesFor(fs, w, cid, "t")
    TxnCommit.commit(fs, w, cid, moves)
    TxnCommit.publish(fs, w, cid, moves)
    val res = Merge.upsert(spark, w, "t",
      Seq(("beta", 20L), ("delta", 4L)).toDF("k", "v"), Seq("k"))
    assert(res.rowsMatched == 1)
    val out = Snapshots.read(spark, w, "t").as[(String, Long)].collect().toMap
    assert(out == Map("alpha" -> 1L, "beta" -> 20L, "gamma" -> 3L, "delta" -> 4L))
  }

  test("vacuum sweeps unreferenced orphan files past the retention age") {
    val w = wh("whOrphan")
    publishBatch(w, "t", 1 to 4)
    val stray = new Path(s"$w/t/zz-stray-part-00000.parquet")
    fs.create(stray, true).close()
    // A fresh stray could be an in-flight publish's landed move — survives.
    Snapshots.vacuum(fs, w, keepVersions = 32, minAgeMs = 3600000L)
    assert(fs.exists(stray))
    // Aged out → reaped; committed data untouched.
    Snapshots.vacuum(fs, w, keepVersions = 32, minAgeMs = 0L)
    assert(!fs.exists(stray))
    assert(Snapshots.read(spark, w, "t").count() == 4)
  }

  test("stale rewrite aborts: concurrent compactions cannot double the table") {
    val w = wh("whOcc")
    publishBatch(w, "t", 1 to 10)  // v0
    publishBatch(w, "t", 11 to 20) // v1
    // Victim compaction reads the v1 snapshot and commits its manifest …
    val victim = java.util.UUID.randomUUID().toString
    val inputs = Snapshots.fileSet(fs, w, "t").get
    spark.read.parquet(inputs: _*).coalesce(1)
      .write.parquet(s"${TxnCommit.stagingDir(w, victim)}/t")
    val moves = TxnCommit.movesFor(fs, w, victim, "t")
    TxnCommit.commit(fs, w, victim, moves, retained = inputs,
      op = "compact", baseVersion = Some(1L))
    // … but a rival compaction publishes first (lands v2).
    assert(Compaction.compact(spark, w, "t").isDefined)
    val afterRival = Snapshots.fileSet(fs, w, "t").get.toSet
    // The victim's publish must abort — without OCC both rewrites' outputs
    // would fold in and every row would exist twice.
    intercept[Snapshots.ConcurrentCommitException] {
      TxnCommit.publish(fs, w, victim, moves, retained = inputs,
        op = "compact", baseVersion = Some(1L))
    }
    assert(Snapshots.fileSet(fs, w, "t").get.toSet == afterRival)
    assert(Snapshots.read(spark, w, "t").count() == 20) // not 40
    moves.foreach(m => assert(!fs.exists(new Path(m.dest))))
    assert(!fs.exists(new Path(s"$w/_commits/$victim.manifest")))
    assert(!fs.exists(new Path(s"$w/_commits/$victim.aborted")))
    // Life goes on: recovery is a no-op, appends keep landing.
    TxnCommit.recover(fs, w)
    publishBatch(w, "t", 21 to 22)
    assert(Snapshots.read(spark, w, "t").count() == 22)
  }

  test("replayed guarded append still runs the photo-finish check") {
    // Crash window: writer X wrote its v1 entry, crashed before the rival
    // check; rival Y also landed v1 and already returned success (it checked
    // before X's entry appeared). X's recovery replay must NOT take the
    // idempotent shortcut — it must see Y, unpublish itself, and throw;
    // otherwise both rewrites fold in and the table doubles.
    val w = wh("whReplayRace")
    publishBatch(w, "t", 1 to 5) // v0
    val snapDir = new Path(s"$w/_snapshots")
    def writeSnap(name: String, lines: String): Unit = {
      val out = fs.create(new Path(snapDir, name), true)
      // Complete entries carry the #END footer — both crashed AFTER their
      // write finished, inside the verify window.
      out.write((lines + "\n#END").getBytes("UTF-8")); out.close()
    }
    writeSnap("00000000000000000001-xxxx.snap", s"#OP\tcompact\nADD\tt\t$w/t/x.parquet")
    writeSnap("00000000000000000001-yyyy.snap", s"#OP\tcompact\nADD\tt\t$w/t/y.parquet")
    intercept[Snapshots.ConcurrentCommitException] {
      Snapshots.append(fs, w, "xxxx", adds = Seq("t" -> s"$w/t/x.parquet"),
        removes = Nil, op = "compact", baseVersion = Some(0L))
    }
    assert(!fs.exists(new Path(snapDir, "00000000000000000001-xxxx.snap")))
    assert(fs.exists(new Path(snapDir, "00000000000000000001-yyyy.snap")))
  }

  test("crash mid-abort: recover() finishes the rollback from the marker") {
    val w = wh("whOccCrash")
    publishBatch(w, "t", 1 to 5)
    // Craft the on-disk state of an abort that crashed after the marker
    // rename but before the dest delete: marker present, dest file landed.
    val cid = "deadbeef"
    val orphan = new Path(s"$w/t/$cid-part-00000.parquet")
    fs.create(orphan, true).close()
    val ab = new Path(s"$w/_commits/$cid.aborted")
    fs.mkdirs(ab.getParent)
    val out = fs.create(ab, true)
    out.write((s"#OP\tcompact\n#BASE\t0\n" +
      s"$w/_staging/$cid/t/part-00000.parquet\t$orphan").getBytes("UTF-8"))
    out.close()
    TxnCommit.recover(fs, w)
    assert(!fs.exists(orphan) && !fs.exists(ab))
    assert(Snapshots.read(spark, w, "t").count() == 5)
  }

  test("recover() leaves fresh (possibly live) staging alone; reaps aged orphans") {
    val w = wh("whTtl")
    publishBatch(w, "t", 1 to 3)
    val orphan = new Path(TxnCommit.stagingDir(w, "live-job"))
    fs.mkdirs(orphan)
    TxnCommit.recover(fs, w) // default TTL: the fresh dir survives
    assert(fs.exists(orphan))
    TxnCommit.recover(fs, w, orphanTtlMs = -1000L) // everything is "aged"
    assert(!fs.exists(orphan))
  }

  test("safe type widening: int→long and float→double mix across commits; reads resolve widest") {
    val w = wh("whWiden")
    val s0 = spark
    import s0.implicits._
    def pub(df: org.apache.spark.sql.DataFrame): Unit = {
      val cid = java.util.UUID.randomUUID().toString
      df.coalesce(1).write.parquet(s"${TxnCommit.stagingDir(w, cid)}/t")
      val moves = TxnCommit.movesFor(fs, w, cid, "t")
      TxnCommit.commit(fs, w, cid, moves)
      TxnCommit.publish(fs, w, cid, moves)
    }
    // v0: narrow era (int ids, float score).
    pub(Seq((1, 1.5f), (2, 2.5f)).toDF("id", "score"))
    // v1: a writer upgraded — long ids, double scores. Widening: accepted.
    pub(Seq((3000000000L, 3.5d)).toDF("id", "score"))
    // v2: a straggler still writes the NARROW types (rolling upgrade) —
    // also accepted; the effective schema stays the widest live tag.
    pub(Seq((4, 4.5f)).toDF("id", "score"))

    // Latest read resolves the WIDEST schema and serves every era's rows.
    val latest = Snapshots.read(spark, w, "t")
    assert(latest.schema("id").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(latest.schema("score").dataType ==
      org.apache.spark.sql.types.DoubleType)
    assert(latest.orderBy("id").as[(Long, Double)].collect().toSeq ==
      Seq((1L, 1.5), (2L, 2.5), (4L, 4.5), (3000000000L, 3.5)))
    // Time travel BELOW the widening still reads the narrow era natively.
    val v0 = Snapshots.read(spark, w, "t", asOf = Some(0L))
    assert(v0.schema("id").dataType ==
      org.apache.spark.sql.types.IntegerType && v0.count() == 2)

    // Incompatible changes stay rejected at the commit point.
    val ex = intercept[IllegalArgumentException](
      pub(Seq(("x", 1.0d)).toDF("id", "score")))
    assert(ex.getMessage.contains("schema enforcement"))

    // DML across the width mix: the dv-aware read widens too.
    Merge.deleteWhere(spark, w, "t", org.apache.spark.sql.functions.col("id") === 2L)
    assert(Snapshots.read(spark, w, "t").orderBy("id")
      .as[(Long, Double)].collect().toSeq ==
      Seq((1L, 1.5), (4L, 4.5), (3000000000L, 3.5)))
    // The change feed crosses the widening without a merge failure.
    val feed = Snapshots.changes(spark, w, "t", fromExclusive = -1L)
    assert(feed.filter("_change_type = 'insert'").count() == 4 &&
      feed.filter("_change_type = 'delete'").count() == 1)
    // Compaction materializes the widest type physically.
    assert(Compaction.compact(spark, w, "t", minInputFiles = 2).nonEmpty)
    val files = Snapshots.fileSet(fs, w, "t").get
    files.foreach { f =>
      val sch = spark.read.parquet(f).schema
      assert(sch("id").dataType == org.apache.spark.sql.types.LongType &&
        sch("score").dataType == org.apache.spark.sql.types.DoubleType)
    }
    assert(Snapshots.read(spark, w, "t").orderBy("id")
      .as[(Long, Double)].collect().toSeq ==
      Seq((1L, 1.5), (4L, 4.5), (3000000000L, 3.5)))
  }

  test("decimal widening: same-scale precision mixes read at the widest") {
    val w = wh("whDecWiden")
    def pub(df: org.apache.spark.sql.DataFrame): Unit = {
      val cid = java.util.UUID.randomUUID().toString
      df.coalesce(1).write.parquet(s"${TxnCommit.stagingDir(w, cid)}/t")
      val moves = TxnCommit.movesFor(fs, w, cid, "t")
      TxnCommit.commit(fs, w, cid, moves)
      TxnCommit.publish(fs, w, cid, moves)
    }
    import org.apache.spark.sql.types.DecimalType
    def dec(rows: Seq[(Long, String)], p: Int): org.apache.spark.sql.DataFrame = {
      val s0 = spark
      import s0.implicits._
      rows.toDF("id", "amt")
        .select(org.apache.spark.sql.functions.col("id"),
          org.apache.spark.sql.functions.col("amt").cast(DecimalType(p, 2))
            .as("amt"))
    }
    // v0: decimal(10,2) (INT64 carrier). v1: a writer upgraded to
    // decimal(14,2) — accepted; v2: a straggler still writes (5,2)
    // (INT32 carrier) — also accepted, the u64-escape-hatch rolling
    // upgrade shape.
    pub(dec(Seq((1L, "1.25"), (2L, "2.50")), 10))
    pub(dec(Seq((3L, "123456789012.75")), 14))
    pub(dec(Seq((4L, "9.99")), 5))
    val latest = Snapshots.read(spark, w, "t")
    assert(latest.schema("amt").dataType == DecimalType(14, 2),
      s"got ${latest.schema("amt").dataType}")
    assert(latest.orderBy("id").select("amt").collect()
      .map(_.getDecimal(0).toPlainString).toSeq ==
      Seq("1.25", "2.50", "123456789012.75", "9.99"))
    // Scale changes are NOT widening — rejected at the commit point.
    val ex = intercept[IllegalArgumentException](
      pub(dec(Seq((5L, "1.2")), 10).select(
        org.apache.spark.sql.functions.col("id"),
        org.apache.spark.sql.functions.col("amt").cast(DecimalType(10, 3))
          .as("amt"))))
    assert(ex.getMessage.contains("schema enforcement"))
    // DML across the precision mix: the dv-aware read widens too.
    Merge.deleteWhere(spark, w, "t",
      org.apache.spark.sql.functions.col("id") === 2L)
    assert(Snapshots.read(spark, w, "t").orderBy("id").select("amt")
      .collect().map(_.getDecimal(0).toPlainString).toSeq ==
      Seq("1.25", "123456789012.75", "9.99"))
  }

  test("stats-verifiable constraints enforce NOT NULL and numeric bounds") {
    val w = wh("constraints")
    val s0 = spark
    import s0.implicits._
    Snapshots.setProperties(fs, w, "t", Map(
      "constraint.notnull" -> "name",
      "constraint.bounds.id" -> "0,1000"))
    def tryCommit(df: org.apache.spark.sql.DataFrame): Unit = {
      val cid = java.util.UUID.randomUUID().toString
      df.coalesce(1).write.parquet(s"${TxnCommit.stagingDir(w, cid)}/t")
      val moves = TxnCommit.movesFor(fs, w, cid, "t")
      TxnCommit.commit(fs, w, cid, moves)
      TxnCommit.publish(fs, w, cid, moves)
    }
    // Clean data commits.
    tryCommit(Seq((1L, "a"), (2L, "b")).toDF("id", "name"))
    assert(Snapshots.read(spark, w, "t").count() == 2)
    // A null in a NOT NULL column aborts before anything is visible.
    val exN = intercept[IllegalArgumentException](tryCommit(
      Seq((3L, "c"), (4L, null)).toDF("id", "name")))
    assert(exN.getMessage.contains("NOT NULL") &&
      exN.getMessage.contains("1 null row"))
    // A row outside the bounds aborts too — min/max are actual row values,
    // so the check is exact, not may-contain.
    val exB = intercept[IllegalArgumentException](tryCommit(
      Seq((5L, "e"), (-7L, "f")).toDF("id", "name")))
    assert(exB.getMessage.contains("bounds") && exB.getMessage.contains("-7"))
    // A violating UPDATE aborts wholesale through the same commit gate.
    import org.apache.spark.sql.functions.{col, lit}
    val exU = intercept[IllegalArgumentException](
      Merge.updateWhere(spark, w, "t", col("id") === 1L,
        Map("id" -> lit(5000L))))
    assert(exU.getMessage.contains("bounds"))
    // Nothing of the aborted commits became visible.
    assert(Snapshots.read(spark, w, "t").orderBy("id")
      .as[(Long, String)].collect().toSeq == Seq((1L, "a"), (2L, "b")))
    // Dropping the constraint re-opens the gate.
    Snapshots.setProperties(fs, w, "t", Map("constraint.bounds.id" -> ""))
    tryCommit(Seq((-7L, "g")).toDF("id", "name"))
    assert(Snapshots.read(spark, w, "t").count() == 3)
  }

  test("bounds constraints verify DECIMAL columns exactly from decimal stats") {
    // Decimal columns used to be unverifiable from stats (no [min,max] —
    // the documented CAST-AS-DOUBLE workaround); with exact dec stats the
    // bounds gate now covers them directly, on both the int and the
    // byte-array carrier.
    val w = wh("constraintsDec")
    val s0 = spark
    import s0.implicits._
    Snapshots.setProperties(fs, w, "t", Map(
      "constraint.bounds.amt" -> "0,99.99", // decimal(9,2) → INT32 carrier
      "constraint.bounds.big" -> "-1000,1000")) // decimal(20,4) → byte-array
    def tryCommit(rows: Seq[(BigDecimal, BigDecimal)]): Unit = {
      val cid = java.util.UUID.randomUUID().toString
      import org.apache.spark.sql.functions.col
      rows.toDF("a", "b")
        .select(col("a").cast("decimal(9,2)").as("amt"),
          col("b").cast("decimal(20,4)").as("big"))
        .coalesce(1).write.parquet(s"${TxnCommit.stagingDir(w, cid)}/t")
      val moves = TxnCommit.movesFor(fs, w, cid, "t")
      TxnCommit.commit(fs, w, cid, moves)
      TxnCommit.publish(fs, w, cid, moves)
    }
    tryCommit(Seq((BigDecimal("10.50"), BigDecimal("-999.9999")),
      (BigDecimal("99.99"), BigDecimal("1000"))))
    assert(Snapshots.read(spark, w, "t").count() == 2)
    // One cent over the bound aborts — exact decimal compare, no rounding.
    val exHi = intercept[IllegalArgumentException](
      tryCommit(Seq((BigDecimal("100.00"), BigDecimal("0")))))
    assert(exHi.getMessage.contains("bounds") &&
      exHi.getMessage.contains("100.00"), exHi.getMessage)
    val exLo = intercept[IllegalArgumentException](
      tryCommit(Seq((BigDecimal("1.00"), BigDecimal("-1000.0001")))))
    assert(exLo.getMessage.contains("bounds") &&
      exLo.getMessage.contains("-1000.0001"), exLo.getMessage)
    assert(Snapshots.read(spark, w, "t").count() == 2, "aborts stayed invisible")
  }

  test("TIMESTAMP(NANOS) columns are rejected at the commit point, not at read") {
    // A NANOS column used to land silently and only degrade later (the
    // vectorized reader throws on it; stats are unit-ambiguous and
    // refused). The commit gate now fails it loudly with the workaround.
    // Spark cannot write NANOS itself — fabricate the staged file with
    // parquet-mr directly.
    val w = wh("nanosGate")
    val cid = java.util.UUID.randomUUID().toString
    val staged = new Path(
      s"${TxnCommit.stagingDir(w, cid)}/t/part-00000.parquet")
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message t { required int64 ev_ns (TIMESTAMP(NANOS,true)); }")
    val conf = spark.sparkContext.hadoopConfiguration
    org.apache.parquet.hadoop.example.GroupWriteSupport.setSchema(schema, conf)
    val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(org.apache.parquet.hadoop.util.HadoopOutputFile
        .fromPath(staged, conf))
      .withConf(conf).build()
    val factory =
      new org.apache.parquet.example.data.simple.SimpleGroupFactory(schema)
    try writer.write(factory.newGroup().append("ev_ns", 1700000000000000000L))
    finally writer.close()
    val moves = TxnCommit.movesFor(fs, w, cid, "t")
    val ex = intercept[IllegalArgumentException](
      TxnCommit.commit(fs, w, cid, moves))
    assert(ex.getMessage.contains("TIMESTAMP(NANOS)") &&
      ex.getMessage.contains("TIMESTAMP_MICROS"), ex.getMessage)
    assert(Snapshots.fileMeta(fs, w, "t").isEmpty, "nothing became visible")
  }

  test("changes() over change files that differ only in repetition equals a mergeSchema read") {
    // Log schema tags cannot see a column's repetition, so two such files
    // would look alike to a tag-trusting read. Fabricate one change file
    // with `required` columns and one with `optional` (Spark writes only
    // optional columns) with parquet-mr directly.
    val w = wh("cdfRepetition")
    publishBatch(w, "t", 1 to 2)                                        // v0
    def changeCommit(rep: String, rows: Seq[(Option[Long], String)]): Unit = {
      val cid = java.util.UUID.randomUUID().toString
      val staged = new Path(
        s"${TxnCommit.stagingDir(w, cid)}/_changes/t/part-00000.parquet")
      val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
        s"message t { $rep int64 id; $rep binary _change_type (STRING); }")
      val conf = new org.apache.hadoop.conf.Configuration(
        spark.sparkContext.hadoopConfiguration)
      org.apache.parquet.hadoop.example.GroupWriteSupport.setSchema(schema, conf)
      val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
        .builder(org.apache.parquet.hadoop.util.HadoopOutputFile
          .fromPath(staged, conf))
        .withConf(conf).build()
      val factory =
        new org.apache.parquet.example.data.simple.SimpleGroupFactory(schema)
      try rows.foreach { case (id, ct) =>
        val g = factory.newGroup()
        id.foreach(g.append("id", _))
        writer.write(g.append("_change_type", ct))
      } finally writer.close()
      val moves = TxnCommit.movesFor(fs, w, cid, "_changes/t")
      TxnCommit.commit(fs, w, cid, moves, op = "merge")
      TxnCommit.publish(fs, w, cid, moves, op = "merge")
    }
    changeCommit("required", Seq(Some(1L) -> "delete", Some(3L) -> "insert")) // v1
    changeCommit("optional", Seq(Some(4L) -> "insert", None -> "insert"))     // v2
    val cdfs = Snapshots.addsInRange(fs, w, "t", 0L, 2L)
      .flatMap(_._3).filter(_.cdf)
    assert(cdfs.size == 2, cdfs)
    val s0 = spark
    import s0.implicits._
    val feed = Snapshots.changes(spark, w, "t", fromExclusive = 0L)
      .select("id", "_change_type").as[(Option[Long], String)]
      .collect().toSeq.sortBy(_.toString)
    val merged = spark.read.option("mergeSchema", true)
      .parquet(cdfs.map(_.file): _*)
      .select("id", "_change_type").as[(Option[Long], String)]
      .collect().toSeq.sortBy(_.toString)
    assert(feed == merged && feed.size == 4, s"feed=$feed merged=$merged")
  }

  test("reserved engine column names are rejected at the commit point") {
    val w = wh("reserved")
    val s0 = spark
    import s0.implicits._
    // A user column named like the DV read's row-identity helper would be
    // silently replaced and dropped on every dv-carrying read.
    val cid = java.util.UUID.randomUUID().toString
    Seq((1L, "x")).toDF("id", "_src_file").coalesce(1)
      .write.parquet(s"${TxnCommit.stagingDir(w, cid)}/t")
    val moves = TxnCommit.movesFor(fs, w, cid, "t")
    val ex = intercept[IllegalArgumentException](
      TxnCommit.commit(fs, w, cid, moves))
    assert(ex.getMessage.contains("reserved"))
    assert(Snapshots.fileMeta(fs, w, "t").isEmpty, "nothing became visible")
  }

  test("corrupt deletion-vector tokens fail with a diagnosable error") {
    def act(dv: String) = Snapshots.Action("ADD", "t", "/w/t/f.parquet", dv = dv)
    // Well-formed token parses.
    assert(act("3:/w/_dv/t/v.parquet").dvCount == 3L)
    assert(act("3:/w/_dv/t/v.parquet").dvPath == "/w/_dv/t/v.parquet")
    // Truncated/corrupt shapes name the token and the file, not an
    // ArrayIndexOutOfBounds three frames away.
    Seq("3", ":p", "x:p", "-1:p", "3:").foreach { bad =>
      val ex = intercept[IllegalStateException](act(bad).dvCount)
      assert(ex.getMessage.contains("corrupt deletion-vector token") &&
        ex.getMessage.contains("f.parquet"), s"for '$bad': ${ex.getMessage}")
    }
  }

  test("a non-deterministic DV predicate stays internally consistent") {
    val w = wh("nondet")
    publishBatch(w, "t", 0 until 40)
    // rand()-gated delete: matched set is unstable across evaluations —
    // the single-materialization contract means the vector, the CDF
    // delete rows, and the surviving reads must all agree on ONE outcome.
    val r = Merge.deleteWhereDv(spark, w, "t",
      org.apache.spark.sql.functions.rand(7L) < 0.5)
    val left = Snapshots.read(spark, w, "t").count()
    assert(left + r.rowsMatched == 40L,
      s"vector and rowsMatched disagree: left=$left, matched=${r.rowsMatched}")
    val feed = Snapshots.changes(spark, w, "t", fromExclusive = 0L)
      .filter("_change_type = 'delete'")
    assert(feed.count() == r.rowsMatched,
      "CDF delete rows disagree with the committed vector")
    // The deleted ids per the feed are exactly the ids missing from reads.
    val deleted = feed.select("id").collect().map(_.getLong(0)).toSet
    val remaining = Snapshots.read(spark, w, "t")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(deleted.intersect(remaining).isEmpty &&
      deleted.union(remaining) == (0L until 40L).toSet)
  }

  test("protocol gate: a fabricated future feature refuses reads and writes") {
    val s0 = spark
    import s0.implicits._
    val w = wh("protogate")
    publishBatch(w, "t", 0 until 10)
    val vOld = Snapshots.latestVersion(fs, w).get
    // A DV commit stamps its reader feature; this build serves it fine.
    Merge.deleteWhereDv(spark, w, "t", org.apache.spark.sql.functions.col("id") === 0L)
    assert(Snapshots.tableFeatures(fs, w, "t")
      .contains("r:deletionVectors"))
    assert(Snapshots.read(spark, w, "t").count() == 9L)
    // A NEWER build marks the table as requiring a reader feature this
    // build has never heard of (raw META append — the upgrade commit).
    Snapshots.append(fs, w, "futurefeat", adds = Nil, removes = Nil,
      op = "meta", baseVersion = Snapshots.latestVersion(fs, w),
      metas = Seq("t#features" ->
        "tf1;r:deletionVectors;r:futureMagicEncoding"))
    // Reads refuse, NAMING the feature — batch, change feed, catalog.
    val exR = intercept[UnsupportedOperationException](
      Snapshots.read(spark, w, "t"))
    assert(exR.getMessage.contains("futureMagicEncoding") &&
      exR.getMessage.contains("t"), exR.getMessage)
    intercept[UnsupportedOperationException](
      Snapshots.changes(spark, w, "t", fromExclusive = 0L))
    spark.conf.set("spark.sql.catalog.protogate",
      classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.protogate.warehouse", w)
    try {
      val exC = intercept[Exception](
        spark.sql("SELECT * FROM protogate.t").collect())
      assert(exC.getMessage.contains("futureMagicEncoding") ||
        Option(exC.getCause).exists(_.getMessage
          .contains("futureMagicEncoding")), exC.toString)
    } finally {
      spark.conf.unset("spark.sql.catalog.protogate.warehouse")
      spark.conf.unset("spark.sql.catalog.protogate")
    }
    // Writes refuse too — fail fast at the commit gate, nothing staged.
    val exW = intercept[UnsupportedOperationException] {
      val cid = java.util.UUID.randomUUID().toString
      (10 until 12).map(_.toLong).toDF("id").coalesce(1)
        .write.parquet(s"${TxnCommit.stagingDir(w, cid)}/t")
      val mv = TxnCommit.movesFor(fs, w, cid, "t")
      TxnCommit.commit(fs, w, cid, mv)
    }
    assert(exW.getMessage.contains("futureMagicEncoding"))
    intercept[UnsupportedOperationException](
      Merge.deleteWhereDv(spark, w, "t",
        org.apache.spark.sql.functions.col("id") === 1L))
    // Vacuum refuses too: liveness itself is feature-dependent (DVs
    // redefined it once) — reaping by a build that can't read the table
    // could delete live data.
    intercept[UnsupportedOperationException](
      Snapshots.vacuum(fs, w, keepVersions = 1, minAgeMs = 0L))
    // Time travel BELOW the upgrade commit serves the era this build
    // fully understands.
    assert(Snapshots.read(spark, w, "t", asOf = Some(vOld)).count() == 10L)
    // A WRITER-only future feature (w: scope) lets reads through and
    // blocks only mutation — the Delta readerFeatures/writerFeatures
    // split.
    publishBatch(w, "t2", 0 until 5)
    Snapshots.append(fs, w, "futuresink", adds = Nil, removes = Nil,
      op = "meta", baseVersion = Snapshots.latestVersion(fs, w),
      metas = Seq("t2#features" -> "tf1;w:futureSinkProtocol"))
    assert(Snapshots.read(spark, w, "t2").count() == 5L)
    val exW2 = intercept[UnsupportedOperationException](
      Merge.updateWhere(spark, w, "t2",
        org.apache.spark.sql.functions.col("id") === 1L,
        Map("id" -> org.apache.spark.sql.functions.lit(99L))))
    assert(exW2.getMessage.contains("futureSinkProtocol"))
  }

  test("DROP FEATURE: purged tables free older builds; live dependents refuse") {
    val s0 = spark
    import s0.implicits._
    val w = wh("dropfeat")
    publishBatch(w, "t", 0 until 10)
    Merge.deleteWhereDv(spark, w, "t",
      org.apache.spark.sql.functions.col("id") === 0L)
    assert(Snapshots.tableFeatures(fs, w, "t").contains("r:deletionVectors"))
    // While a live file still carries its vector, the drop REFUSES and
    // names the purge verb.
    val exLive = intercept[IllegalStateException](
      Snapshots.dropFeature(fs, w, "t", "deletionVectors"))
    assert(exLive.getMessage.contains("deletion vectors"), exLive.getMessage)
    // Purge: REORG-style compaction consumes the vectors into clean files
    // (purgeDropped forces the rewrite even for a single input file).
    Compaction.compact(spark, w, "t", targetBytes = 512L * 1024 * 1024,
      purgeDropped = true)
    assert(Snapshots.fileMeta(fs, w, "t").get.forall(_.dv.isEmpty))
    val vBeforeDrop = Snapshots.latestVersion(fs, w).get
    Snapshots.dropFeature(fs, w, "t", "deletionVectors")
    // The requirement is gone at latest — a build that has never heard of
    // deletionVectors passes the gate (requireFeatures consults the same
    // cleared set for ANY build) — while time travel below the drop still
    // carries the era's requirement for history safety.
    assert(Snapshots.tableFeatures(fs, w, "t").isEmpty)
    assert(Snapshots.tableFeatures(fs, w, "t", Some(vBeforeDrop))
      .contains("r:deletionVectors"))
    assert(Snapshots.read(spark, w, "t").count() == 9L)
    // Dropping a feature the table never required, or one THIS build
    // cannot probe dependencies for, refuses crisply.
    intercept[IllegalArgumentException](
      Snapshots.dropFeature(fs, w, "t", "deletionVectors"))
    intercept[IllegalArgumentException](
      Snapshots.dropFeature(fs, w, "t", "futureMagicEncoding"))
    // End-to-end "older build" simulation: a NEWER build stamps a feature
    // this build does not implement — reads refuse; that newer build's
    // DROP FEATURE (emulated by the same cleared-set commit it would
    // write) restores this build's access. Roles exactly as in prod:
    // WE are the older build.
    Snapshots.append(fs, w, "futurefeat", adds = Nil, removes = Nil,
      op = "meta", baseVersion = Snapshots.latestVersion(fs, w),
      metas = Seq("t#features" -> "tf1;r:futureMagicEncoding"))
    intercept[UnsupportedOperationException](Snapshots.read(spark, w, "t"))
    Snapshots.append(fs, w, "futuredrop", adds = Nil, removes = Nil,
      op = "dropFeature", baseVersion = Snapshots.latestVersion(fs, w),
      metas = Seq("t#features" -> ""))
    assert(Snapshots.read(spark, w, "t").count() == 9L,
      "older build still locked out after the newer build's drop")
    // Writer-scope analog: identity declaration blocks the drop until the
    // declaration itself is cleared.
    graft.ingest.Identity.declare(spark, w, "idt", "row_id")
    val exId = intercept[IllegalStateException](
      Snapshots.dropFeature(fs, w, "idt", "identityColumns"))
    assert(exId.getMessage.contains("row_id"), exId.getMessage)
    Snapshots.setProperties(fs, w, "idt", Map("identity.row_id" -> null))
    Snapshots.dropFeature(fs, w, "idt", "identityColumns")
    assert(Snapshots.tableFeatures(fs, w, "idt").isEmpty)
    // A later write that re-exercises a feature simply re-stamps it.
    Merge.deleteWhereDv(spark, w, "t",
      org.apache.spark.sql.functions.col("id") === 1L)
    assert(Snapshots.tableFeatures(fs, w, "t").contains("r:deletionVectors"))
    assert(Snapshots.read(spark, w, "t").count() == 8L)
  }

  test("DROP FEATURE aborts when a concurrent commit re-exercises the feature") {
    val w = wh("dropfeatrace")
    publishBatch(w, "t", 0 until 10)
    Merge.deleteWhereDv(spark, w, "t",
      org.apache.spark.sql.functions.col("id") === 0L)
    Compaction.compact(spark, w, "t", targetBytes = 512L * 1024 * 1024,
      purgeDropped = true)
    assert(Snapshots.fileMeta(fs, w, "t").get.forall(_.dv.isEmpty))
    // The dependency probe passes (no live vectors) — and then a rival
    // DELETE attaches a fresh vector before the drop publishes. The
    // rival's entry carries NO `#features` META line (the feature is
    // already required), only a DV line on the table: the drop's OCC
    // scope must include the table itself to see it, and ABORT — an
    // older build opening the table after a drop that slipped through
    // would serve the deleted row back.
    intercept[Snapshots.ConcurrentCommitException](
      Snapshots.dropFeature(fs, w, "t", "deletionVectors", () =>
        Merge.deleteWhereDv(spark, w, "t",
          org.apache.spark.sql.functions.col("id") === 1L)))
    assert(Snapshots.tableFeatures(fs, w, "t").contains("r:deletionVectors"),
      "the drop slipped through with a live dependent")
    assert(Snapshots.fileMeta(fs, w, "t").get.exists(_.dv.nonEmpty))
    assert(Snapshots.read(spark, w, "t").count() == 8L)
    // The retry path: purge again, drop cleanly.
    Compaction.compact(spark, w, "t", targetBytes = 512L * 1024 * 1024,
      purgeDropped = true)
    Snapshots.dropFeature(fs, w, "t", "deletionVectors")
    assert(Snapshots.tableFeatures(fs, w, "t").isEmpty)
    assert(Snapshots.read(spark, w, "t").count() == 8L)
  }

  test("DROP FEATURE generatedColumns after the column drops; clone carries the cleared set") {
    val s0 = spark
    import s0.implicits._
    val w = wh("dropgenfeat")
    publishBatch(w, "t", 0 until 5)
    graft.ingest.Generated.declare(spark, w, "t", "twice", "id * 2")
    graft.ingest.Generated.appendGenerated(spark, w, "t",
      Seq(100L).toDF("id").coalesce(1))
    assert(Snapshots.tableFeatures(fs, w, "t").contains("w:generatedColumns"))
    // Refused while the declaration lives; the error names the column.
    val ex = intercept[IllegalStateException](
      Snapshots.dropFeature(fs, w, "t", "generatedColumns"))
    assert(ex.getMessage.contains("twice"), ex.getMessage)
    // DROP COLUMN clears the declaration in the same commit — then the
    // feature is droppable.
    graft.ingest.SchemaEvolution.dropColumn(spark, w, "t", "twice")
    Snapshots.dropFeature(fs, w, "t", "generatedColumns")
    // columnMapping (from the drop) now gates reads instead — expected:
    // the drop DDL is itself a feature; generatedColumns is gone.
    assert(!Snapshots.tableFeatures(fs, w, "t").exists(_.contains("generated")))
    assert(Snapshots.read(spark, w, "t").count() == 6)
    // A clone made AFTER the drop carries the cleared set, not a stale one.
    Snapshots.cloneTable(spark, w, "t", "t2")
    assert(!Snapshots.tableFeatures(fs, w, "t2").exists(_.contains("generated")),
      Snapshots.tableFeatures(fs, w, "t2").toString)
  }
}
