package graft

import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.ingest.{Compaction, Merge, Snapshots, TxnCommit}

/** Whole-format invariant checks under interleaving: a deterministic
  * random chain of appends / DV deletes / CoW updates / compactions must
  * always read back exactly the model's rows, and genuinely concurrent
  * appenders + compactors (file-granular OCC, retry on conflict) must
  * neither lose nor duplicate a row. */
class DmlInterleavingSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private lazy val dir = Files.createTempDirectory("graft-interleave")
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

  private def append(w: String, ids: Seq[Long]): Unit = {
    val cid = java.util.UUID.randomUUID().toString
    val s0 = spark
    import s0.implicits._
    ids.map(i => (i, i * 10)).toDF("id", "v").coalesce(1)
      .write.parquet(s"${TxnCommit.stagingDir(w, cid)}/t")
    val moves = TxnCommit.movesFor(fs, w, cid, "t")
    TxnCommit.commit(fs, w, cid, moves)
    TxnCommit.publish(fs, w, cid, moves)
  }

  test("random append/delete/update/compact chain always equals the model") {
    val w = wh("chain")
    val rng = new scala.util.Random(42)
    val model = scala.collection.mutable.Map.empty[Long, Long] // id -> v
    var nextId = 0L
    def freshBatch(n: Int): Seq[Long] = {
      val ids = (nextId until nextId + n); nextId += n
      ids.foreach(i => model(i) = i * 10)
      ids
    }
    append(w, freshBatch(20))
    val chaosModes = scala.collection.mutable.Set.empty[Int]
    // Set once mid-chain: a defaulted column joins the table; every row —
    // pre-add, post-add (appends never write it), rewritten by CoW/DV/
    // compaction/merges — must read the default forever after.
    var defaultAdded = false
    (1 to 24).foreach { step =>
      rng.nextInt(9) match {
        case 0 => append(w, freshBatch(5 + rng.nextInt(10)))
        case 1 => // DV delete of a residue class among live ids
          val k = 2 + rng.nextInt(4); val r = rng.nextInt(k)
          Merge.deleteWhereDv(spark, w, "t", col("id") % k === r,
            rewriteFraction = if (rng.nextBoolean()) 1.0 else 0.5)
          model.keys.filter(_ % k == r).toSeq.foreach(model.remove)
        case 2 => // CoW update of a narrow range
          val lo = rng.nextLong(math.max(1L, nextId))
          val cond = col("id").between(lo, lo + 7)
          Merge.updateWhere(spark, w, "t", cond, Map("v" -> (col("v") + 1)))
          model.keys.filter(i => i >= lo && i <= lo + 7)
            .toSeq.foreach(i => model(i) = model(i) + 1)
        case 3 => Compaction.compact(spark, w, "t")
        case 4 => // MoR update through the vector path
          val k = 3 + rng.nextInt(3)
          Merge.updateWhereDv(spark, w, "t", col("id") % k === 1,
            Map("v" -> (col("v") - 1)))
          model.keys.filter(_ % k == 1).toSeq.foreach(i => model(i) = model(i) - 1)
        case 5 => // vacuum mid-chain: latest state must be untouched
          Snapshots.vacuum(fs, w, keepVersions = 8, minAgeMs = 0L)
        case 6 => // general clause MERGE: conditional update + delete + insert
          val s0 = spark
          import s0.implicits._
          val liveIds = model.keys.toSeq.sorted
          val touch = rng.shuffle(liveIds).take(math.min(6, liveIds.size))
          val fresh = freshBatch(3) // model pre-filled at i*10 — fix below
          fresh.foreach(model.remove)
          val srcRows = touch.map(i => (i, rng.nextInt(100).toLong)) ++
            fresh.map(i => (i, rng.nextInt(100).toLong))
          Merge.mergeClauses(spark, w, "t",
            srcRows.toDF("id", "v"), Seq("id"),
            matched = Seq(
              Merge.WhenClause(Some(expr("s.v < 30")), None), // delete
              Merge.WhenClause(Some(expr("s.v >= 60")),
                Some(Seq("v" -> expr("t.v + s.v"))))),
            notMatched = Seq(Merge.WhenClause(Some(expr("s.v % 2 = 0")),
              Some(Seq("id" -> expr("s.id"), "v" -> expr("s.v"))))))
          srcRows.foreach { case (i, sv) =>
            if (model.contains(i)) {
              if (sv < 30) model.remove(i)
              else if (sv >= 60) model(i) = model(i) + sv
            } else if (sv % 2 == 0) model(i) = sv
          }
        case 7 => // commitId-keyed clause merge under crash-replay chaos:
          // a third of the time the first attempt dies BEFORE the manifest
          // commit point (stale staging left behind), a third it dies
          // MID-PUBLISH (manifest committed, moves half-applied), then the
          // CDC loop replays the same commitId — the deliberately
          // NON-idempOTENT assignment (t.v + s.v) must land exactly once
          // either way, interleaved with every other DML the chain throws.
          val s1 = spark
          import s1.implicits._
          val liveIds = model.keys.toSeq.sorted
          val touch = rng.shuffle(liveIds).take(math.min(4, liveIds.size))
          if (touch.nonEmpty) {
            val cid = s"chaos-merge-$step"
            val srcRows = touch.map(i => (i, 50L + rng.nextInt(50)))
            def run(): Merge.Result = Merge.mergeClauses(spark, w, "t",
              srcRows.toDF("id", "v"), Seq("id"),
              matched = Seq(Merge.WhenClause(None,
                Some(Seq("v" -> expr("t.v + s.v"))))),
              notMatched = Nil, commitId = Some(cid))
            // Force both crash modes to fire at least once per run: the
            // first two chaos steps take modes 0 and 1 deterministically,
            // later ones draw at random.
            val mode =
              if (!chaosModes(0)) 0
              else if (!chaosModes(1)) 1
              else rng.nextInt(3)
            chaosModes += mode
            mode match {
              case 0 => // pre-manifest death: leftover staging junk
                val junk = new Path(
                  s"${TxnCommit.stagingDir(w, cid)}/t/part-junk.parquet")
                fs.mkdirs(junk.getParent)
                val out = fs.create(junk, true)
                try out.write(Array[Byte](1, 2, 3)) finally out.close()
              case 1 => // mid-publish death: injected crash after one move
                sys.props("graft.test.failAfterMoves") = "1"
                try intercept[IllegalStateException](run())
                finally sys.props.remove("graft.test.failAfterMoves")
              case _ => () // clean first attempt
            }
            run() // the (re)play: lands the batch exactly once
            val replay = run() // an extra replay must be a no-op
            assert(replay.rowsMatched == 0 && replay.filesRewritten == 0,
              s"step $step: replayed commitId merge must land nothing")
            srcRows.foreach { case (i, sv) => model(i) = model(i) + sv }
          }
        case 8 => // initial-default column joins the chain (once)
          if (!defaultAdded) {
            graft.ingest.SchemaEvolution.addColumn(spark, w, "t", "tag",
              default = Some("'d'"))
            defaultAdded = true
          }
      }
      val got = Snapshots.read(spark, w, "t").select("id", "v").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == model.toMap, s"divergence after step $step")
      if (defaultAdded) {
        val tags = Snapshots.read(spark, w, "t").select("tag").collect()
        assert(tags.forall(r => !r.isNullAt(0) && r.getString(0) == "d"),
          s"step $step: a row lost the column default")
      }
    }
    assert(chaosModes.contains(0) && chaosModes.contains(1),
      s"chaos coverage: both crash modes must have fired (got $chaosModes)")
    assert(defaultAdded,
      "chaos coverage: the defaulted column must have joined the chain")
  }

  test("commitId replay is a no-op even after vacuum reaps the entry") {
    val s0 = spark
    import s0.implicits._
    val w = wh("vacreplay")
    append(w, 0L until 10L)
    val src = Seq((3L, 100L)).toDF("id", "v")
    def run(cid: String): Merge.Result =
      Merge.mergeClauses(spark, w, "t", src, Seq("id"),
        matched = Seq(Merge.WhenClause(None,
          Some(Seq("v" -> expr("t.v + s.v"))))), // NON-idempotent on purpose
        notMatched = Nil, commitId = Some(cid))
    def vOf3(): Long = Snapshots.read(spark, w, "t")
      .filter(col("id") === 3L).select("v").collect().head.getLong(0)
    assert(run("merge-vrapp-t-1").rowsMatched == 1L)
    assert(run("adhocmerge").rowsMatched == 1L) // suffix-less id, same guarantee
    assert(vOf3() == 230L) // 30 + 100 + 100
    // Push the log far past both merge entries, then vacuum aggressively —
    // the original entries are provably GONE from the retained log.
    (0 until 20).foreach(i => append(w, Seq(1000L + i)))
    Snapshots.vacuum(fs, w, keepVersions = 2, minAgeMs = 0L)
    assert(!Snapshots.entries(fs, w).exists(e =>
        e.commitId == "merge-vrapp-t-1" || e.commitId == "adhocmerge"),
      "precondition: vacuum must have reaped the merge entries")
    // Late CDC replays (the zombie-after-vacuum window): the vacuum-exempt
    // applied-txn registry — carried by the cutoff checkpoint — must prove
    // both applied, and land NOTHING.
    for (cid <- Seq("merge-vrapp-t-1", "adhocmerge")) {
      val replay = run(cid)
      assert(replay.rowsMatched == 0 && replay.filesRewritten == 0,
        s"replay of vacuumed $cid must be a no-op")
    }
    assert(vOf3() == 230L, "a vacuumed-entry replay re-applied the batch")
    // A LOWER batch of the same stream is also provably applied (batches
    // commit in order — the Delta txn-version semantics).
    assert(run("merge-vrapp-t-0").rowsMatched == 0)
    // The NEXT batch of the stream still applies normally.
    assert(run("merge-vrapp-t-2").rowsMatched == 1L)
    assert(vOf3() == 330L)

    // Streaming-sink epochs get the same guarantee through commitBatch.
    graft.streaming.StreamingOps.commitBatch(
      Seq((1L, 1L)).toDF("id", "v"), w, "t2", batchId = 1L)
    assert(Snapshots.read(spark, w, "t2").count() == 1L)
    (0 until 20).foreach(i => append(w, Seq(2000L + i)))
    Snapshots.vacuum(fs, w, keepVersions = 2, minAgeMs = 0L)
    assert(!Snapshots.entries(fs, w).exists(_.commitId == "stream-t2-1"))
    graft.streaming.StreamingOps.commitBatch(
      Seq((1L, 1L)).toDF("id", "v"), w, "t2", batchId = 1L)
    assert(Snapshots.read(spark, w, "t2").count() == 1L,
      "a vacuumed stream epoch replay re-landed its batch")
  }

  test("out-of-order ad-hoc commitIds with numeric suffixes all apply") {
    // The watermark interpretation is gated on framework prefixes: a
    // caller-supplied replay key that merely ENDS in digits must get pure
    // membership semantics. Before the gate, 'load-20240105' registered
    // app='load' @ 20240105 and a later 'load-20240104' was silently
    // dropped as "already applied" — a batch lost forever.
    val s0 = spark
    import s0.implicits._
    val w = wh("adhocorder")
    append(w, 0L until 10L)
    def run(cid: String): Merge.Result =
      Merge.mergeClauses(spark, w, "t", Seq((3L, 100L)).toDF("id", "v"),
        Seq("id"),
        matched = Seq(Merge.WhenClause(None,
          Some(Seq("v" -> expr("t.v + s.v"))))),
        notMatched = Nil, commitId = Some(cid))
    def vOf3(): Long = Snapshots.read(spark, w, "t")
      .filter(col("id") === 3L).select("v").collect().head.getLong(0)
    assert(run("load-20240105").rowsMatched == 1L)
    assert(run("load-20240104").rowsMatched == 1L,
      "an EARLIER-suffixed ad-hoc id must still apply (no inferred watermark)")
    assert(run("job-7").rowsMatched == 1L)
    assert(run("job-3").rowsMatched == 1L,
      "parallel per-partition backfill keys are independent")
    assert(vOf3() == 430L)
    // Replays of each stay exactly-once via verbatim membership — even
    // after vacuum reaps the entries (registry-carried).
    (0 until 20).foreach(i => append(w, Seq(1000L + i)))
    Snapshots.vacuum(fs, w, keepVersions = 2, minAgeMs = 0L)
    for (cid <- Seq("load-20240105", "load-20240104", "job-7", "job-3"))
      assert(run(cid).rowsMatched == 0, s"replay of $cid re-applied")
    assert(vOf3() == 430L)
  }

  test("ad-hoc txn retention: entries expire at checkpoint, watermarks exempt") {
    val s0 = spark
    import s0.implicits._
    val w = wh("txnret")
    append(w, 0L until 5L)
    // A framework watermark and 1k ad-hoc ids enter the registry. The
    // ad-hoc entries ride META state verbatim; unbounded callers would
    // grow it forever without retention.
    graft.streaming.StreamingOps.commitBatch(
      Seq((1L, 1L)).toDF("id", "v"), w, "wm", batchId = 3L)
    (0 until 50).foreach { g =>
      val base = Snapshots.latestVersion(fs, w)
      Snapshots.append(fs, w, f"adhocg$g%02d", adds = Nil, removes = Nil,
        op = "meta", baseVersion = base,
        metas = (1 to 20).map(j =>
          Snapshots.txnMetaEntry(Snapshots.snapshot(fs, w), f"adhocld${g * 20 + j}%04d")))
    }
    assert(Snapshots.txnApplied(fs, w, "adhocld0001") &&
      Snapshots.txnApplied(fs, w, "adhocld1000"))
    // Retention 1ms; everything registered above is already older.
    Snapshots.setTxnRetention(fs, w, retentionMs = 1L)
    Thread.sleep(5)
    // Expiry happens when the next CHECKPOINT is written — vacuum's
    // cutoff checkpoint is one such point (so is the every-16th-version
    // interval checkpoint).
    (0 until 20).foreach(i => append(w, Seq(5000L + i)))
    Snapshots.vacuum(fs, w, keepVersions = 2, minAgeMs = 0L)
    // Post-expiry: the replay is UNPROVABLE — txnApplied answers false and
    // the batch would re-apply (the documented at-least-once fallback past
    // retention, Delta's setTransactionRetentionDuration trade-off).
    assert(!Snapshots.txnApplied(fs, w, "adhocld0001"),
      "expired ad-hoc entry still provable")
    assert(!Snapshots.txnApplied(fs, w, "adhocld1000"))
    // The watermark entry is EXEMPT: the stream's exactly-once survives.
    assert(Snapshots.txnApplied(fs, w, "stream-wm-3"))
    assert(Snapshots.txnApplied(fs, w, "stream-wm-2")) // lower batch: provable
    graft.streaming.StreamingOps.commitBatch(
      Seq((9L, 9L)).toDF("id", "v"), w, "wm", batchId = 3L)
    assert(Snapshots.read(spark, w, "wm").count() == 1L,
      "watermarked epoch replay re-landed after retention")
    // META state is BOUNDED again: the newest checkpoint carries no
    // expired #txn# line (1k registered, ~0 retained).
    val ckpt = Snapshots.entries(fs, w).filter(_.isCheckpoint).last
    val txnLines = scala.io.Source.fromInputStream(fs.open(ckpt.path))
      .getLines().count(_.contains("#txn#"))
    assert(txnLines <= 2, s"checkpoint still carries $txnLines txn lines")
  }

  test("stress: sink epochs, batch overwrites, compactions interleave safely") {
    // Three randomized schedules: a streaming-sink writer (epoch commits
    // with crash-replays), a batch overwriter (coarse OCC), and a
    // compactor all hammer ONE table. Invariants, per schedule:
    //   1. no worker dies with anything but a lost OCC race;
    //   2. no snapshot version EVER shows a duplicated id (epoch
    //      idempotence + compaction correctness at every point in time);
    //   3. the first version where an overwrite's payload appears contains
    //      EXACTLY the payload — a racing append can never survive an
    //      overwrite unflagged (the a651d91 anchor-before-snapshot order);
    //   4. a replayed epoch publishes exactly one log entry.
    for (seed <- Seq(7, 21, 63)) {
      val w = wh(s"stress$seed")
      append(w, 0L until 10L)
      val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val okOverwrites = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
      def payload(k: Int): Seq[Long] = (50000L + k * 100) until (50000L + k * 100 + 5)
      def epochIds(e: Long): Seq[Long] = (10000L + e * 100) until (10000L + e * 100 + 10)

      import scala.jdk.CollectionConverters._
      val queryId = s"stress-$seed"
      val write = new graft.sources.v2.SnapshotStreamingWrite(queryId,
        new org.apache.spark.sql.types.StructType()
          .add("id", "long").add("v", "long"),
        new org.apache.spark.sql.util.CaseInsensitiveStringMap(
          Map("warehouse" -> w, "table" -> "t").asJava))
      def cidOf(e: Long) = s"stream-$queryId-t-$e"
      def stageEpoch(e: Long): Array[(String, String)] = {
        val s0 = spark
        import s0.implicits._
        val dir = s"${TxnCommit.stagingDir(w, cidOf(e))}/t"
        epochIds(e).map(i => (i, i * 10)).toDF("id", "v").coalesce(1)
          .write.mode("overwrite").parquet(dir)
        fs.listStatus(new Path(dir))
          .filter(_.getPath.getName.endsWith(".parquet"))
          .map(st => (st.getPath.toString, ""))
      }

      val sinkRng = new scala.util.Random(seed)
      val sinker = new Thread(() => {
        try (0L until 6L).foreach { e =>
          write.commit(e, Array(graft.sources.v2.SnapshotWriteMessage(
            stageEpoch(e).toSeq, 10L)))
          if (sinkRng.nextBoolean() && e > 0) {
            // Crash-replay of an already-published epoch: restage + commit
            // again; must be recognized by commitId and dropped.
            val replay = sinkRng.nextLong(e)
            write.commit(replay, Array(graft.sources.v2.SnapshotWriteMessage(
              stageEpoch(replay).toSeq, 10L)))
          }
          Thread.sleep(sinkRng.nextInt(40))
        } catch { case t: Throwable => failures.add(t) }
      })
      val owRng = new scala.util.Random(seed * 31)
      val overwriter = new Thread(() => {
        try (0 until 3).foreach { k =>
          val s0 = spark
          import s0.implicits._
          Thread.sleep(owRng.nextInt(60))
          try {
            payload(k).map(i => (i, i * 10)).toDF("id", "v")
              .write.format("graft-snapshots")
              .option("warehouse", w).option("table", "t")
              .mode("overwrite").save()
            okOverwrites.add(k)
          } catch { case _: Snapshots.ConcurrentCommitException => () }
        } catch { case t: Throwable => failures.add(t) }
      })
      val cpRng = new scala.util.Random(seed * 131)
      val compactor = new Thread(() => {
        try (0 until 3).foreach { _ =>
          Thread.sleep(cpRng.nextInt(50))
          try Compaction.compact(spark, w, "t")
          catch { case _: Snapshots.ConcurrentCommitException => () }
        } catch { case t: Throwable => failures.add(t) }
      })
      val workers = Seq(sinker, overwriter, compactor)
      workers.foreach(_.start())
      workers.foreach(_.join(180000))
      assert(failures.isEmpty,
        s"seed $seed: worker failed: ${Option(failures.peek()).map(t =>
          t.toString + "\n" + t.getStackTrace.take(14).mkString("\n"))}")

      // 4. replayed epochs: exactly one log entry per epoch commitId.
      val entries = Snapshots.entries(fs, w)
      (0L until 6L).foreach { e =>
        assert(entries.count(_.commitId == cidOf(e)) == 1,
          s"seed $seed: epoch $e published ${entries.count(_.commitId == cidOf(e))} entries")
      }

      // 2 + 3, checked at EVERY version of the log.
      val versions = entries.map(_.version).distinct.sorted
      var firstSeen = Map.empty[Int, Long] // overwrite k -> first version seen
      versions.foreach { v =>
        val ids = Snapshots.read(spark, w, "t", asOf = Some(v))
          .select("id").collect().map(_.getLong(0)).toSeq
        assert(ids.distinct.size == ids.size,
          s"seed $seed: duplicated ids at version $v")
        okOverwrites.asScala.foreach { k =>
          if (!firstSeen.contains(k) && ids.exists(payload(k).toSet))
            firstSeen += k -> v
        }
      }
      okOverwrites.asScala.foreach { k =>
        val v = firstSeen(k)
        val at = Snapshots.read(spark, w, "t", asOf = Some(v))
          .select("id").collect().map(_.getLong(0)).toSet
        assert(at == payload(k).toSet,
          s"seed $seed: overwrite $k's first version $v is not exactly its payload: $at")
      }

      // Quiescent overwrite always succeeds and replaces everything.
      val s0 = spark
      import s0.implicits._
      payload(9).map(i => (i, i * 10)).toDF("id", "v")
        .write.format("graft-snapshots")
        .option("warehouse", w).option("table", "t")
        .mode("overwrite").save()
      assert(Snapshots.read(spark, w, "t").select("id")
        .collect().map(_.getLong(0)).toSet == payload(9).toSet)
    }
  }

  test("concurrent appenders and compactors: no row lost, none duplicated") {
    val w = wh("race")
    append(w, 0L until 10L)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val appended = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val idGen = new java.util.concurrent.atomic.AtomicLong(100L)
    val appenders = (1 to 3).map { _ =>
      new Thread(() => {
        try (1 to 5).foreach { _ =>
          val base = idGen.getAndAdd(10L)
          val ids = base until base + 10
          append(w, ids)
          ids.foreach(appended.add)
        } catch { case t: Throwable => failures.add(t) }
      })
    }
    val compactor = new Thread(() => {
      try (1 to 4).foreach { _ =>
        // File-granular OCC: an append landing mid-compaction no longer
        // aborts it; a genuine input overlap (rival compaction) would.
        try Compaction.compact(spark, w, "t")
        catch { case _: Snapshots.ConcurrentCommitException => () }
        Thread.sleep(50)
      } catch { case t: Throwable => failures.add(t) }
    })
    (appenders :+ compactor).foreach(_.start())
    (appenders :+ compactor).foreach(_.join(120000))
    assert(failures.isEmpty, s"worker failed: ${Option(failures.peek())}")
    val got = Snapshots.read(spark, w, "t").select("id")
      .collect().map(_.getLong(0)).toSeq
    val expected = (0L until 10L) ++ appended.toArray(Array.empty[java.lang.Long])
      .map(_.longValue()).toSeq
    assert(got.sorted == expected.sorted,
      s"expected ${expected.size} rows exactly once, got ${got.size}")
  }

  test("legacy truncated-key watermarks still prove ad-hoc replays across the upgrade") {
    val w = wh("txnlegacy")
    append(w, 0L until 3L)
    // Simulate a registry written by a PRE-GATING build: back then ANY id
    // ending in `-<digits>` registered a plain-long watermark under its
    // TRUNCATED app key. A replay straddling the upgrade must still be
    // provably applied (read-only probe — new builds register ad-hoc ids
    // verbatim, so this shape is never written again).
    val base = Snapshots.latestVersion(fs, w)
    Snapshots.append(fs, w, "legacyreg", adds = Nil, removes = Nil,
      op = "meta", baseVersion = base,
      metas = Seq("#txn#load" -> "20240105"))
    assert(Snapshots.txnApplied(fs, w, "load-20240105"),
      "legacy-registered replay no longer provable after the upgrade")
    assert(Snapshots.txnApplied(fs, w, "load-20240104"),
      "below-watermark legacy id keeps the semantics it was recorded under")
    assert(!Snapshots.txnApplied(fs, w, "load-20240106"),
      "never-applied id must not be claimed by the legacy probe")
    // Non-numeric tails and framework-shaped ids never feed the probe.
    assert(!Snapshots.txnApplied(fs, w, "load-abc"))
    assert(!Snapshots.txnApplied(fs, w, "stream-load-1"))
    // A MODERN verbatim registration of a `-<digits>` id stays pure
    // membership: registering load-7 proves load-7 only.
    val base2 = Snapshots.latestVersion(fs, w)
    Snapshots.append(fs, w, "modernreg", adds = Nil, removes = Nil,
      op = "meta", baseVersion = base2,
      metas = Seq(Snapshots.txnMetaEntry(Snapshots.snapshot(fs, w), "job-7")))
    assert(Snapshots.txnApplied(fs, w, "job-7"))
    assert(!Snapshots.txnApplied(fs, w, "job-3"),
      "verbatim membership must not infer order from the suffix")
  }
}
