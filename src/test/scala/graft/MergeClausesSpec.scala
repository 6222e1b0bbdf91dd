package graft

import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, expr}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.ingest.{Merge, Snapshots, TxnCommit}

/** Model-checked general MERGE: random tables, sources, and clause sets
  * run through [[Merge.mergeClauses]] and through a plain-Scala reference
  * model of the MERGE semantics (first acting clause wins, matched-but-
  * unacted rows survive, unmatched-source inserts, NOT MATCHED BY SOURCE
  * acts on unmatched target rows). Catches clause-interaction bugs the
  * fixed-shape oracle entries cannot. */
class MergeClausesSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private lazy val dir = Files.createTempDirectory("graft-mergecl")
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

  /** One random scenario: table rows (id → v), source rows (id → v),
    * clause thresholds. Conditions are of the form `s.v % m == r` /
    * `t.v % m == r`; updates assign arithmetic over both sides. */
  private case class Scenario(seed: Long) {
    private val rnd = new scala.util.Random(seed)
    val tableRows: Seq[(Long, Long)] =
      (0L until (20 + rnd.nextInt(30))).map(i => i -> rnd.nextInt(100).toLong)
    val srcRows: Seq[(Long, Long)] = {
      val ids = rnd.shuffle((0L until 70L).toList).take(10 + rnd.nextInt(15))
      ids.map(i => i -> rnd.nextInt(100).toLong)
    }
    // matched clauses: (mod, rem, isDelete); evaluated in order on s.v.
    val matchedCls: Seq[(Int, Int, Boolean)] =
      (0 until 1 + rnd.nextInt(3)).map(_ =>
        (2 + rnd.nextInt(3), rnd.nextInt(3), rnd.nextBoolean()))
    // notMatched: (mod, rem) insert conditions on s.v (None cond = last
    // clause unconditional half the time).
    val insertCls: Seq[Option[(Int, Int)]] =
      if (rnd.nextBoolean())
        Seq(Some((2 + rnd.nextInt(2), rnd.nextInt(2)))) ++
          (if (rnd.nextBoolean()) Seq(None) else Nil)
      else Nil
    // nmbs: (mod, rem, isDelete) on t.v.
    val nmbsCls: Seq[(Int, Int, Boolean)] =
      if (rnd.nextBoolean())
        (0 until 1 + rnd.nextInt(2)).map(_ =>
          (2 + rnd.nextInt(3), rnd.nextInt(3), rnd.nextBoolean()))
      else Nil
    val hasClauses: Boolean =
      matchedCls.nonEmpty || insertCls.nonEmpty || nmbsCls.nonEmpty

    /** Reference result computed row-by-row on the driver. */
    def expected: Set[(Long, Long)] = {
      val srcByKey = srcRows.toMap // ids are distinct by construction
      val out = Seq.newBuilder[(Long, Long)]
      tableRows.foreach { case (id, tv) =>
        srcByKey.get(id) match {
          case Some(sv) =>
            matchedCls.find { case (m, r, _) => sv % m == r } match {
              case Some((_, _, true)) => () // delete
              case Some((_, _, false)) => out += (id -> (tv + sv)) // update
              case None => out += (id -> tv) // matched, no clause acts
            }
          case None =>
            nmbsCls.find { case (m, r, _) => tv % m == r } match {
              case Some((_, _, true)) => ()
              case Some((_, _, false)) => out += (id -> (tv + 1000L))
              case None => out += (id -> tv)
            }
        }
      }
      val tgtKeys = tableRows.map(_._1).toSet
      srcRows.filterNot { case (id, _) => tgtKeys(id) }.foreach {
        case (id, sv) =>
          insertCls.find(_.forall { case (m, r) => sv % m == r })
            .foreach(_ => out += (id -> (sv * 2)))
      }
      // Sets suffice: ids are unique in table and source, and surviving /
      // inserted rows keep unique ids.
      out.result().toSet
    }
  }

  private def publish(w: String, rows: Seq[(Long, Long)]): Unit = {
    val s0 = spark
    import s0.implicits._
    // Several files so candidate pruning and per-file rewrites engage.
    rows.grouped(math.max(1, rows.size / 3)).foreach { batch =>
      val cid = java.util.UUID.randomUUID().toString
      batch.toDF("id", "v").coalesce(1)
        .write.parquet(s"${TxnCommit.stagingDir(w, cid)}/t")
      val moves = TxnCommit.movesFor(fs, w, cid, "t")
      TxnCommit.commit(fs, w, cid, moves)
      TxnCommit.publish(fs, w, cid, moves)
    }
  }

  test("random clause sets match the reference model across seeds") {
    val s0 = spark
    import s0.implicits._
    (1L to 8L).foreach { seed =>
      val sc = Scenario(seed)
      if (sc.hasClauses) {
        val w = wh(s"m$seed")
        publish(w, sc.tableRows)
        val src = sc.srcRows.toDF("id", "v")
        val matched = sc.matchedCls.map { case (m, r, isDel) =>
          Merge.WhenClause(Some(expr(s"s.v % $m = $r")),
            if (isDel) None else Some(Seq("v" -> expr("t.v + s.v"))))
        }
        val notMatched = sc.insertCls.map { cnd =>
          Merge.WhenClause(cnd.map { case (m, r) => expr(s"s.v % $m = $r") },
            Some(Seq("id" -> expr("s.id"), "v" -> expr("s.v * 2"))))
        }
        val nmbs = sc.nmbsCls.map { case (m, r, isDel) =>
          Merge.WhenClause(Some(expr(s"t.v % $m = $r")),
            if (isDel) None else Some(Seq("v" -> expr("t.v + 1000"))))
        }
        Merge.mergeClauses(spark, w, "t", src, Seq("id"),
          matched, notMatched, nmbs)
        val got = Snapshots.read(spark, w, "t")
          .as[(Long, Long)].collect().toSet
        assert(got == sc.expected,
          s"seed=$seed\n got=${got.toSeq.sorted}\n exp=${sc.expected.toSeq.sorted}\n $sc")
      }
    }
  }

  test("conditional NMBS prunes files outside the conditions' stats") {
    val s0 = spark
    import s0.implicits._
    val w = wh("nmbsPrune")
    publish(w, (0L until 30L).map(i => i -> i)) // 3 files: 0-9, 10-19, 20-29
    // Corrupt the MIDDLE file's bytes on disk: a scan touching it would
    // throw, so the merge below succeeds ONLY if the NMBS condition's
    // stats pruning (t.id >= 20 cannot match [10,19]) skips it.
    val mid = Snapshots.fileMeta(fs, w, "t").get.find(a =>
      graft.ingest.FileStats.decode(a.stats).exists(s =>
        s.cols.get("id").exists(_.min == "10"))).get.file
    val orig = {
      val in = fs.open(new Path(mid))
      try { val b = new Array[Byte](fs.getFileStatus(new Path(mid)).getLen.toInt)
        in.readFully(b); b } finally in.close()
    }
    val out = fs.create(new Path(mid), true)
    try out.write("garbage-not-parquet".getBytes) finally out.close()
    try {
      // Unmatched rows with id >= 20 delete; key 25 is matched (survives).
      Merge.mergeClauses(spark, w, "t",
        Seq((25L, 0L)).toDF("id", "v"), Seq("id"),
        matched = Nil, notMatched = Nil,
        notMatchedBySource = Seq(
          Merge.WhenClause(Some(expr("t.id >= 20")), None)))
    } finally {
      val o2 = fs.create(new Path(mid), true)
      try o2.write(orig) finally o2.close()
    }
    assert(Snapshots.read(spark, w, "t").select("id").as[Long]
      .collect().sorted.toSeq == ((0L until 20L) :+ 25L),
      "NMBS delete must drop unmatched ids >= 20 and keep the matched 25")
  }

  test("clause-evaluation joins broadcast the source — never a cartesian") {
    val s0 = spark
    import s0.implicits._
    val w = wh("planShape")
    publish(w, (0L until 30L).map(i => i -> i))
    val plans = scala.collection.mutable.ArrayBuffer.empty[String]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit =
        plans.synchronized { plans += qe.executedPlan.toString }
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      Merge.mergeClauses(spark, w, "t",
        Seq((5L, 1L), (40L, 2L)).toDF("id", "v"), Seq("id"),
        matched = Seq(Merge.WhenClause(Some(expr("s.v > 0")),
          Some(Seq("v" -> expr("t.v + s.v"))))),
        notMatched = Seq(Merge.WhenClause(None, None /* INSERT * */)),
        notMatchedBySource = Seq(
          Merge.WhenClause(Some(expr("t.id >= 28")), None)))
      // The listener bus is asynchronous — poll until the broadcast-join
      // plan has been delivered (bounded; under parallel-suite load a
      // fixed sleep is flaky).
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!plans.synchronized(
          plans.exists(_.contains("BroadcastHashJoin"))) &&
          System.nanoTime() < deadline)
        Thread.sleep(100)
    } finally spark.listenerManager.unregister(listener)
    val all = plans.synchronized(plans.toSeq)
    assert(all.exists(_.contains("BroadcastHashJoin")),
      "the clause-evaluation join must broadcast the dim-sized source")
    all.foreach(p => assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"cartesian in a merge plan:\n$p"))
    assert(Snapshots.read(spark, w, "t").select("id").as[Long]
      .collect().sorted.toSeq == ((0L until 28L) :+ 40L))
  }

  test("a source past graft.merge.broadcastMaxRows takes a non-broadcast " +
      "plan — no BroadcastHashJoin, no cartesian") {
    val s0 = spark
    import s0.implicits._
    val w = wh("bigSource")
    publish(w, (0L until 30L).map(i => i -> i))
    // Route threshold below the source size; kill Spark's own
    // auto-broadcast (static AND adaptive) so any BroadcastHashJoin in a
    // merge plan could only come from the engine's hint — which the size
    // guard must drop.
    val prevAuto = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAdaptive = spark.conf
      .getOption("spark.sql.adaptive.autoBroadcastJoinThreshold")
    sys.props("graft.merge.broadcastMaxRows") = "10"
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    val plans = scala.collection.mutable.ArrayBuffer.empty[String]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit =
        plans.synchronized { plans += qe.executedPlan.toString }
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val src = (0L until 50L).map(i => i -> (i + 500L)).toDF("id", "v")
      Merge.mergeClauses(spark, w, "t", src, Seq("id"),
        matched = Seq(Merge.WhenClause(Some(expr("s.v > 0")),
          Some(Seq("v" -> expr("t.v + s.v"))))),
        notMatched = Seq(Merge.WhenClause(None, None /* INSERT * */)),
        notMatchedBySource = Seq(
          Merge.WhenClause(Some(expr("t.id >= 28")), None)))
      // Wait for the async listener bus to drain the merge's join plans.
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!plans.synchronized(plans.exists(p =>
          p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"))) &&
          System.nanoTime() < deadline)
        Thread.sleep(100)
    } finally {
      spark.listenerManager.unregister(listener)
      sys.props.remove("graft.merge.broadcastMaxRows")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevAuto)
      prevAdaptive match {
        case Some(v) =>
          spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", v)
        case None =>
          spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
      }
    }
    val all = plans.synchronized(plans.toSeq)
    assert(all.exists(p =>
      p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")),
      "the large-source route must plan a shuffle join")
    all.foreach(p => assert(!p.contains("BroadcastHashJoin") &&
      !p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"large-source merge must not broadcast or go cartesian:\n$p"))
    // Semantics are route-independent: matched 0-29 updated (t.v + s.v,
    // minus 28/29 which matched — NMBS only acts on UNMATCHED), source
    // 30-49 inserted as-is.
    val got = Snapshots.read(spark, w, "t").as[(Long, Long)].collect().toSet
    val exp = (0L until 30L).map(i => i -> (i + i + 500L)).toSet ++
      (30L until 50L).map(i => i -> (i + 500L)).toSet
    assert(got == exp, s"got=${got.toSeq.sorted}")
  }

  test("a snapshot-table source routes by log stats — no probe job") {
    val s0 = spark
    import s0.implicits._
    val w = wh("statsroute")
    publish(w, (0L until 30L).map(i => i -> i))
    // A second warehouse table as the merge SOURCE, read through the DSv2
    // catalog — its row count must come from the log's stats tokens, not
    // a limit+count probe job.
    val cid = java.util.UUID.randomUUID().toString
    (0L until 15L).map(i => i -> (i + 500L)).toDF("id", "v").coalesce(1)
      .write.parquet(s"${TxnCommit.stagingDir(w, cid)}/src")
    val mv = TxnCommit.movesFor(fs, w, cid, "src")
    TxnCommit.commit(fs, w, cid, mv)
    TxnCommit.publish(fs, w, cid, mv)
    spark.conf.set("spark.sql.catalog.mcstats",
      classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.mcstats.warehouse", w)
    try {
      val src = spark.table("mcstats.src")
      // The bound is exact on the bare table and survives row-preserving/
      // shrinking plans; foreign plans refuse (None → probe fallback).
      assert(Merge.statsRowBound(src) == Some(15L))
      assert(Merge.statsRowBound(
        src.filter($"id" >= 5L).select("id", "v").distinct()) == Some(15L))
      assert(Merge.statsRowBound(src.union(src)) == Some(30L))
      assert(Merge.statsRowBound(Seq((1L, 2L)).toDF("id", "v")).isEmpty)
      assert(Merge.statsRowBound(src.join(src, "id")).isEmpty)
      // Per-query time travel resolves through loadTable, so the table is
      // pinned at that version and its tokens bound exactly that read.
      val pinnedV = spark.read.option("versionAsOf",
          Snapshots.latestVersion(fs, w).get.toString)
        .table("mcstats.src")
      assert(Merge.statsRowBound(pinnedV) == Some(15L))
      val pinnedTs = spark.read
        .option("timestampAsOf", "2100-01-01 00:00:00")
        .table("mcstats.src")
      assert(Merge.statsRowBound(pinnedTs) == Some(15L))

      val events =
        scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      val listener = new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
                               qe: org.apache.spark.sql.execution.QueryExecution,
                               durationNs: Long): Unit =
          events.synchronized {
            events += ((funcName, qe.analyzed.toString.take(200))) }
        override def onFailure(funcName: String,
                               qe: org.apache.spark.sql.execution.QueryExecution,
                               exception: Exception): Unit = ()
      }
      spark.listenerManager.register(listener)
      try {
        Merge.mergeClauses(spark, w, "t", src, Seq("id"),
          matched = Seq(Merge.WhenClause(None,
            Some(Seq("v" -> expr("t.v + s.v"))))),
          notMatched = Seq(Merge.WhenClause(None, None)))
        // Drain marker: a sentinel count whose event PROVES the async bus
        // has delivered everything the merge posted before it.
        spark.range(1).count()
        val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
        while (!events.synchronized(events.exists { case (f, p) =>
            f == "count" && p.contains("Range (0, 1") }) &&
            System.nanoTime() < deadline)
          Thread.sleep(100)
      } finally spark.listenerManager.unregister(listener)
      val counts = events.synchronized(events.toSeq)
        .filter(_._1 == "count").filterNot(_._2.contains("Range (0, 1"))
      assert(counts.isEmpty,
        s"snapshot-table source must not pay a probe count job: $counts")
      // Route is correct, not just job-free: oracle-exact result.
      val got = Snapshots.read(spark, w, "t").as[(Long, Long)]
        .collect().toSet
      val exp = (0L until 15L).map(i => i -> (i + i + 500L)).toSet ++
        (15L until 30L).map(i => i -> i).toSet
      assert(got == exp, s"got=${got.toSeq.sorted}")
    } finally {
      spark.conf.unset("spark.sql.catalog.mcstats")
      spark.conf.unset("spark.sql.catalog.mcstats.warehouse")
    }
  }

  test("a skewed source merge rides AQE skew-join splitting on the large route") {
    val s0 = spark
    import s0.implicits._
    val w = wh("skewMerge")
    // One hot key dominates the TARGET (the skewed-CDC-key shape: 50k of
    // 60k rows share id 1); the source keys are unique per the MERGE
    // contract. On the large route the pairs join shuffles on id — without
    // skew handling the hot partition is one straggler task.
    val hot = (0 until 60000).map(i =>
      (if (i < 50000) 1L else i.toLong, i.toLong))
    hot.grouped(20000).foreach { batch =>
      val cid = java.util.UUID.randomUUID().toString
      batch.toDF("id", "v").coalesce(1)
        .write.parquet(s"${TxnCommit.stagingDir(w, cid)}/t")
      val moves = TxnCommit.movesFor(fs, w, cid, "t")
      TxnCommit.commit(fs, w, cid, moves)
      TxnCommit.publish(fs, w, cid, moves)
    }
    val src = (0 until 2000).map(i => (i.toLong, 100000L + i)).toDF("id", "v")
    val prevAuto = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevs = Seq(
      "spark.sql.adaptive.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes")
      .map(k => k -> spark.conf.getOption(k))
    sys.props("graft.merge.broadcastMaxRows") = "100" // 2000-row source = big
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    // Shrink AQE's skew thresholds to test scale — the POINT is that the
    // engine's join shape lets OptimizeSkewedJoin fire at all (no
    // hand-scheduling, no driver-side key split).
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    spark.conf.set(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8KB")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
    val plans = scala.collection.mutable.ArrayBuffer.empty[String]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit =
        plans.synchronized { plans += qe.executedPlan.toString }
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      Merge.mergeClauses(spark, w, "t", src, Seq("id"),
        matched = Seq(Merge.WhenClause(None,
          Some(Seq("v" -> expr("s.v"))))), notMatched = Nil)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!plans.synchronized(plans.exists(_.contains("skew"))) &&
          System.nanoTime() < deadline)
        Thread.sleep(100)
    } finally {
      spark.listenerManager.unregister(listener)
      sys.props.remove("graft.merge.broadcastMaxRows")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevAuto)
      prevs.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    val all = plans.synchronized(plans.toSeq)
    assert(all.exists(_.contains("skew")),
      "AQE skew-join splitting must fire on the skewed merge join; plans:\n" +
        all.filter(_.contains("SortMergeJoin")).map(_.take(2000)).mkString("\n---\n"))
    // Result stays oracle-exact: every hot row matched id 1 → v = 100001.
    val got = Snapshots.read(spark, w, "t")
    assert(got.filter(col("id") === 1L).select("v").distinct()
      .as[Long].collect().toSeq == Seq(100001L))
    assert(got.count() == 60000L)
    // Unmatched target rows (ids ≥ 50000) survive untouched: v == id.
    assert(got.filter(col("id") >= 50000L && col("id") =!= col("v"))
      .count() == 0L)
  }

  test("schema evolution is bounded to referenced columns (Delta autoMerge)") {
    val s0 = spark
    import s0.implicits._
    val w = wh("evolveScope")
    publish(w, (0L until 10L).map(i => i -> i))
    def cols(): Seq[String] = Snapshots.read(spark, w, "t").columns.toSeq
    val src = Seq((1L, 100L, 9L)).toDF("id", "v", "extra")
    spark.conf.set("graft.merge.schemaEvolution", "true")
    try {
      // Explicit assignments that never reference `extra`: no evolution.
      Merge.mergeClauses(spark, w, "t", src, Seq("id"),
        matched = Seq(Merge.WhenClause(None,
          Some(Seq("v" -> expr("t.v + s.v"))))), notMatched = Nil)
      assert(cols() == Seq("id", "v"),
        "unreferenced source column must not evolve the table")
      // evolveSchema = false (internal sources): even INSERT * won't add.
      Merge.mergeClauses(spark, w, "t", src, Seq("id"),
        matched = Nil, notMatched = Seq(Merge.WhenClause(None, None)),
        evolveSchema = false)
      assert(cols() == Seq("id", "v"))
      // An assignment TARGETING the new column evolves exactly it.
      Merge.mergeClauses(spark, w, "t", src, Seq("id"),
        matched = Seq(Merge.WhenClause(None,
          Some(Seq("extra" -> expr("s.extra"))))), notMatched = Nil)
      assert(cols().contains("extra"),
        s"assigned new column must evolve, got ${cols()}")
    } finally spark.conf.unset("graft.merge.schemaEvolution")
  }

  test("commitId-keyed merges are exactly-once under replay") {
    val s0 = spark
    import s0.implicits._
    val w = wh("idem")
    publish(w, (0L until 10L).map(i => i -> i))
    val src = Seq((3L, 100L)).toDF("id", "v")
    val clause = Seq(Merge.WhenClause(None,
      Some(Seq("v" -> expr("t.v + s.v"))))) // NON-idempotent on purpose
    def apply(): Merge.Result =
      Merge.mergeClauses(spark, w, "t", src, Seq("id"),
        matched = clause, notMatched = Nil,
        commitId = Some("merge-replay-test-batch-7"))
    val first = apply()
    assert(first.rowsMatched == 1)
    // The replay (same commitId) must land NOTHING: v stays +100, not +200.
    val replay = apply()
    assert(replay.rowsMatched == 0 && replay.filesRewritten == 0)
    assert(Snapshots.read(spark, w, "t").filter($"id" === 3L)
      .select("v").as[Long].collect().toSeq == Seq(103L))
    // A different batch's commitId applies normally.
    Merge.mergeClauses(spark, w, "t", src, Seq("id"),
      matched = clause, notMatched = Nil,
      commitId = Some("merge-replay-test-batch-8"))
    assert(Snapshots.read(spark, w, "t").filter($"id" === 3L)
      .select("v").as[Long].collect().toSeq == Seq(203L))
  }

  test("schema evolution: merge adds source-only columns when flagged on") {
    val s0 = spark
    import s0.implicits._
    val w = wh("evolve")
    publish(w, (0L until 20L).map(i => i -> i)) // cols (id, v), 3 files
    val src = Seq((5L, 100L, "x5"), (40L, 101L, "x40")).toDF("id", "v", "tag")
    // Flag off (default): strict schemas — the extra column fails the merge.
    intercept[Exception] { Merge.upsert(spark, w, "t", src, Seq("id")) }
    spark.conf.set("graft.merge.schemaEvolution", "true")
    try Merge.upsert(spark, w, "t", src, Seq("id"))
    finally spark.conf.unset("graft.merge.schemaEvolution")
    // Matched row updated with the new column; unmatched inserted; every
    // pre-merge row (including files the merge never rewrote) reads the
    // evolved column as NULL — no mergeSchema anywhere.
    val got = Snapshots.read(spark, w, "t")
      .select("id", "v", "tag").as[(Long, Long, Option[String])]
      .collect().toSet
    val exp = (0L until 20L).filterNot(_ == 5L).map(i => (i, i, None)).toSet ++
      Set((5L, 100L, Some("x5")), (40L, 101L, Some("x40")))
    assert(got == exp, s"got=${got.toSeq.sortBy(_._1)}")
    // Clause merges on the evolved table keep working (typed column now).
    Merge.mergeClauses(spark, w, "t",
      Seq((7L, 0L, "x7")).toDF("id", "v", "tag"), Seq("id"),
      matched = Seq(Merge.WhenClause(None,
        Some(Seq("tag" -> expr("s.tag"))))), notMatched = Nil)
    assert(Snapshots.read(spark, w, "t").filter($"id" === 7L)
      .select("v", "tag").as[(Long, String)].collect().toSeq == Seq((7L, "x7")))
  }

  test("evolving commitId merges stay exactly-once under crash-replay") {
    val s0 = spark
    import s0.implicits._
    val w = wh("evolveReplay")
    publish(w, (0L until 10L).map(i => i -> i))
    spark.conf.set("graft.merge.schemaEvolution", "true")
    try {
      val src = Seq((4L, 40L, "t4")).toDF("id", "v", "tag")
      def run(): Merge.Result = Merge.mergeClauses(spark, w, "t", src,
        Seq("id"),
        matched = Seq(Merge.WhenClause(None, Some(Seq(
          "v" -> expr("t.v + s.v"), "tag" -> expr("s.tag"))))),
        notMatched = Nil, commitId = Some("evolve-replay-1"))
      // First attempt dies mid-publish, AFTER the add-column metadata
      // commit landed; the replay must neither re-add the column nor
      // re-apply the (deliberately non-idempotent) assignment.
      sys.props("graft.test.failAfterMoves") = "1"
      try intercept[IllegalStateException](run())
      finally sys.props.remove("graft.test.failAfterMoves")
      run() // recovery finishes the crashed publish; batch lands once
      val replay = run()
      assert(replay.rowsMatched == 0 && replay.filesRewritten == 0)
      assert(Snapshots.read(spark, w, "t").filter($"id" === 4L)
        .select("v", "tag").as[(Long, String)].collect().toSeq ==
        Seq((44L, "t4")))
    } finally spark.conf.unset("graft.merge.schemaEvolution")
  }

  test("schema evolution composes with renamed (mapped) and partitioned tables") {
    val s0 = spark
    import s0.implicits._
    // Mapped table: RENAME first (creates the column mapping), then an
    // evolving merge — the new column joins the existing mapping.
    val w = wh("evolveMapped")
    publish(w, (0L until 10L).map(i => i -> i))
    graft.ingest.SchemaEvolution.renameColumn(spark, w, "t", "v", "val")
    spark.conf.set("graft.merge.schemaEvolution", "true")
    try {
      Merge.upsert(spark, w, "t",
        Seq((3L, 30L, "m3"), (20L, 200L, "m20")).toDF("id", "val", "tag"),
        Seq("id"))
      val got = Snapshots.read(spark, w, "t")
        .select("id", "val", "tag").as[(Long, Long, Option[String])]
        .collect().toSet
      val exp = (0L until 10L).filterNot(_ == 3L).map(i => (i, i, None)).toSet ++
        Set((3L, 30L, Some("m3")), (20L, 200L, Some("m20")))
      assert(got == exp, s"mapped: got=${got.toSeq.sortBy(_._1)}")

      // Partitioned table: the new column lands as a DATA column; the
      // partition layout survives the evolving clause merge.
      val w2 = wh("evolvePart")
      (0L until 6L).map(i => (i, i * 10, s"d${i % 2}")).toDF("id", "v", "dt")
        .write.format("graft-snapshots")
        .option("warehouse", w2).option("table", "p")
        .option("partitionBy", "dt").save()
      Merge.mergeClauses(spark, w2, "p",
        Seq((1L, 111L, "d1", "x1"), (9L, 999L, "d1", "x9"))
          .toDF("id", "v", "dt", "note"), Seq("id"),
        matched = Seq(Merge.WhenClause(None,
          Some(Seq("v" -> expr("s.v"), "note" -> expr("s.note"))))),
        notMatched = Seq(Merge.WhenClause(None, None /* INSERT * */)))
      val got2 = Snapshots.read(spark, w2, "p")
        .select("id", "v", "dt", "note")
        .as[(Long, Long, String, Option[String])].collect().toSet
      val exp2 = Set((0L, 0L, "d0", None), (2L, 20L, "d0", None),
        (4L, 40L, "d0", None), (3L, 30L, "d1", None), (5L, 50L, "d1", None),
        (1L, 111L, "d1", Some("x1")), (9L, 999L, "d1", Some("x9")))
      assert(got2 == exp2, s"partitioned: got=${got2.toSeq.sortBy(_._1)}")
      assert(graft.ingest.Snapshots.partitionLayout(fs, w2, "p") == Seq("dt"),
        "partition layout must survive the evolving merge")
    } finally spark.conf.unset("graft.merge.schemaEvolution")
  }

  test("matched-only clause merges are file-granular and skip clean files") {
    val s0 = spark
    import s0.implicits._
    val w = wh("granular")
    publish(w, (0L until 30L).map(i => i -> i)) // 3 files by construction
    val before = Snapshots.fileSet(fs, w, "t").get
    // Keys 0-4 live in the first file only: one file rewrites.
    val res = Merge.mergeClauses(spark, w, "t",
      Seq((2L, 5L), (3L, 5L)).toDF("id", "v"), Seq("id"),
      matched = Seq(Merge.WhenClause(Some(expr("s.v > 4")),
        Some(Seq("v" -> expr("s.v * 100"))))),
      notMatched = Nil)
    assert(res.rowsMatched == 2 && res.filesRewritten == 1,
      s"expected 1 rewritten file, got $res")
    val after = Snapshots.fileSet(fs, w, "t").get
    assert((before intersect after).size == before.size - 1,
      "only the matching file may swap out")
  }
}
