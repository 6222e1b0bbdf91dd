package graft

import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.ingest.{FileStats, Merge, Snapshots, TxnCommit}

/** Per-file bloom filters on ADD lines: point lookups on a
  * high-cardinality string key skip non-clustered files whose [min,max]
  * spans the whole key space — the case range stats can never prune.
  * Blooms are parquet-native (executors hash during the write; commit
  * lifts the finished bitsets off the footer), so the driver never reads
  * data. The filter is probabilistic ONLY toward keeping files: a "no"
  * is definite, so pruning is sound by construction.
  */
class BloomPruneSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private lazy val dir = Files.createTempDirectory("graft-bloom")
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

  /** Interleaved keys: file f holds doc-%04d for i % files == f, so every
    * file's [min,max] covers nearly the whole key range — range stats
    * cannot tell the files apart, only a bloom can. */
  private def docs(file: Int, files: Int, n: Int): DataFrame = {
    val s0 = spark
    import s0.implicits._
    (0 until n).filter(_ % files == file)
      .map(i => (f"doc-$i%04d", i.toLong)).toDF("doc_id", "score")
  }

  /** Appends consult the table's bloom properties exactly like the
    * engine's rewrite writers do — the property is the single source of
    * bloom config for the table's whole lifecycle. */
  private def publish(w: String, df: DataFrame): Unit = {
    val cid = java.util.UUID.randomUUID().toString
    df.coalesce(1).write
      .options(Snapshots.bloomWriteOptionsFor(fs, w, "docs", None))
      .parquet(s"${TxnCommit.stagingDir(w, cid)}/docs")
    val moves = TxnCommit.movesFor(fs, w, cid, "docs")
    TxnCommit.commit(fs, w, cid, moves)
    TxnCommit.publish(fs, w, cid, moves)
  }

  private def build(w: String, bloom: Boolean, files: Int = 4,
                    n: Int = 400): Unit = {
    if (bloom)
      Snapshots.setProperties(fs, w, "docs",
        Map("bloom.columns" -> "doc_id", "bloom.ndv" -> "1000"))
    (0 until files).foreach(f => publish(w, docs(f, files, n)))
  }

  private def keyDf(ks: String*): DataFrame = {
    val s0 = spark
    import s0.implicits._
    ks.toDF("doc_id")
  }

  test("ADD lines carry bloom bitsets only for opted-in writes") {
    val w = wh("tok")
    build(w, bloom = true, files = 1)
    val acts = Snapshots.snapshot(fs, w).files("docs")
    val st = FileStats.decode(acts.head.stats).get
    assert(st.blooms.keySet == Set("doc_id"),
      s"expected a doc_id bloom, got ${st.blooms.keySet}")

    val w2 = wh("tok-plain")
    build(w2, bloom = false, files = 1)
    val st2 = FileStats.decode(
      Snapshots.snapshot(fs, w2).files("docs").head.stats).get
    assert(st2.blooms.isEmpty, "un-opted write must not grow the log token")
  }

  test("keyed DV delete plans strictly fewer candidates with blooms") {
    val withBloom = wh("kd-bloom")
    val without = wh("kd-plain")
    build(withBloom, bloom = true)
    build(without, bloom = false)

    // doc-0005 lives in file 1 of 4; every file's [min,max] spans it.
    val rB = Merge.deleteKeysDv(spark, withBloom, "docs",
      keyDf("doc-0005"), Seq("doc_id"))
    val rP = Merge.deleteKeysDv(spark, without, "docs",
      keyDf("doc-0005"), Seq("doc_id"))
    assert(rP.filesScanned == 4, s"envelope keeps all files: $rP")
    assert(rB.filesScanned == 1, s"bloom should plan exactly 1 file: $rB")
    assert(rB.rowsMatched == 1 && rP.rowsMatched == 1)

    // Same result either way — pruning is an optimization, not semantics.
    val left = Snapshots.read(spark, withBloom, "docs")
      .orderBy("doc_id").collect().toSeq
    val right = Snapshots.read(spark, without, "docs")
      .orderBy("doc_id").collect().toSeq
    assert(left == right)
    assert(!left.exists(_.getString(0) == "doc-0005"))
  }

  test("copy-on-write keyed delete and upsert prune through blooms too") {
    val w = wh("cow")
    build(w, bloom = true)
    val r = Merge.deleteKeys(spark, w, "docs", keyDf("doc-0006"), Seq("doc_id"))
    assert(r.filesScanned == 1, s"CoW keyed delete should bloom-prune: $r")
    assert(r.rowsMatched == 1)

    // doc-0006 lived in file 2; its CoW rewrite staged a REPLACEMENT file.
    // The table property makes the rewrite writer re-establish the bloom,
    // so the follow-up upsert still plans exactly one candidate — without
    // the property, every rewrite would silently degrade pruning.
    val s0 = spark
    import s0.implicits._
    val upd = Seq(("doc-0007", 9999L)).toDF("doc_id", "score")
    val r2 = Merge.upsert(spark, w, "docs", upd, Seq("doc_id"))
    assert(r2.filesScanned == 1, s"upsert should bloom-prune: $r2")
    assert(Snapshots.read(spark, w, "docs")
      .filter(col("doc_id") === "doc-0007").head.getLong(1) == 9999L)
  }

  test("compaction re-establishes blooms on the packed files") {
    val w = wh("compact")
    build(w, bloom = true, files = 4, n = 200)
    graft.ingest.Compaction.compact(spark, w, "docs",
      sortBy = Seq("doc_id"), targetBytes = 512L * 1024 * 1024)
    val acts = Snapshots.snapshot(fs, w).files("docs")
    assert(acts.nonEmpty)
    assert(acts.forall(a =>
      FileStats.decode(a.stats).exists(_.blooms.contains("doc_id"))),
      "compacted files lost their blooms")
    // And the key-clustered compaction output still point-prunes.
    val r = Merge.deleteKeysDv(spark, w, "docs", keyDf("doc-0042"),
      Seq("doc_id"))
    assert(r.rowsMatched == 1)
  }

  test("a bloom never false-prunes: every present key is found") {
    val w = wh("sound")
    build(w, bloom = true, files = 4, n = 200)
    // Delete every 17th key across all files in one call — each must land.
    val victims = (0 until 200 by 17).map(i => f"doc-$i%04d")
    val r = Merge.deleteKeysDv(spark, w, "docs", keyDf(victims: _*),
      Seq("doc_id"))
    assert(r.rowsMatched == victims.size.toLong, s"lost deletions: $r")
    val left = Snapshots.read(spark, w, "docs")
      .select("doc_id").as[String](org.apache.spark.sql.Encoders.STRING)
      .collect().toSet
    assert(victims.forall(!left(_)))
    assert(left.size == 200 - victims.size)
  }

  test("absent keys plan zero candidates and delete nothing") {
    val w = wh("absent")
    build(w, bloom = true)
    val r = Merge.deleteKeysDv(spark, w, "docs",
      keyDf("doc-9999", "nope"), Seq("doc_id"))
    assert(r.filesScanned == 0 && r.rowsMatched == 0,
      s"absent keys should bloom-prune everything: $r")
  }

  test("readWhere point lookup prunes files via the bloom") {
    val w = wh("read")
    build(w, bloom = true)
    // Correctness: the pruned read returns exactly the key's row.
    val rows = Snapshots.readWhere(spark, w, "docs",
      col("doc_id") === "doc-0013").collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("doc-0013"))
    // Pruning: only the one bloom-positive file survives the log-side cut.
    val acts = Snapshots.snapshot(fs, w).files("docs")
    val pred = FileStats.eq("doc_id", "doc-0013")
    val kept = acts.filter(a =>
      FileStats.mayMatch(FileStats.decode(a.stats), pred))
    assert(kept.size == 1, s"expected 1 bloom-surviving file, got ${kept.size}")
  }

  test("point pruning past the key cap falls back to the envelope") {
    val w = wh("cap")
    build(w, bloom = true, files = 2, n = 100)
    val old = sys.props.put("graft.merge.pointPruneMaxKeys", "3")
    try {
      val victims = Seq("doc-0001", "doc-0003", "doc-0005", "doc-0007")
      val r = Merge.deleteKeysDv(spark, w, "docs", keyDf(victims: _*),
        Seq("doc_id"))
      // 4 distinct keys > cap 3 → [min,max] envelope → both files planned,
      // and the delete still lands everywhere.
      assert(r.filesScanned == 2 && r.rowsMatched == 4, s"$r")
    } finally {
      old.fold(sys.props.remove("graft.merge.pointPruneMaxKeys"))(v =>
        sys.props.put("graft.merge.pointPruneMaxKeys", v))
      ()
    }
  }

  test("composite keys prune on the selective non-leading column") {
    val w = wh("composite")
    val s0 = spark
    import s0.implicits._
    Snapshots.setProperties(fs, w, "docs",
      Map("bloom.columns" -> "score", "bloom.ndv" -> "1000"))
    // (doc_id, score = i % 8) interleaved across 4 files: file f holds
    // scores {f, f+4} — eq(score, 5) is bloom-definite-absent in 3 of 4.
    (0 until 4).foreach { f =>
      val cid = java.util.UUID.randomUUID().toString
      (0 until 400).filter(_ % 4 == f)
        .map(i => (f"doc-$i%04d", (i % 8).toLong)).toDF("doc_id", "score")
        .coalesce(1).write
        .options(Snapshots.bloomWriteOptionsFor(fs, w, "docs", None))
        .parquet(s"${TxnCommit.stagingDir(w, cid)}/docs")
      val moves = TxnCommit.movesFor(fs, w, cid, "docs")
      TxnCommit.commit(fs, w, cid, moves)
      TxnCommit.publish(fs, w, cid, moves)
    }
    // With the leading column past the enumeration cap, the per-column
    // AND still prunes through the SECOND key column's bloom.
    val old = sys.props.put("graft.merge.pointPruneMaxKeys", "3")
    try {
      val victims = (0 until 400).filter(_ % 8 == 5) // 50 tuples, one score
        .map(i => (f"doc-$i%04d", 5L))
      val r = Merge.deleteKeysDv(spark, w, "docs",
        victims.toDF("doc_id", "score"), Seq("doc_id", "score"))
      assert(r.filesScanned == 1,
        s"secondary-column bloom should plan 1 of 4 files: $r")
      assert(r.rowsMatched == victims.size.toLong)
    } finally {
      old.fold(sys.props.remove("graft.merge.pointPruneMaxKeys"))(v =>
        sys.props.put("graft.merge.pointPruneMaxKeys", v))
      ()
    }
  }

  test("complete dictionaries prune point lookups with no opt-in at all") {
    val w = wh("dict")
    val s0 = spark
    import s0.implicits._
    // No bloom property, plain writes: parquet dictionary-encodes the
    // low-cardinality category column by default, and collect() lifts the
    // complete per-file value set onto the ADD line.
    (0 until 4).foreach { f =>
      val cid = java.util.UUID.randomUUID().toString
      (0 until 100).map(i => (f"doc-$f-$i%03d", s"cat_$f"))
        .toDF("doc_id", "category").coalesce(1)
        .write.parquet(s"${TxnCommit.stagingDir(w, cid)}/docs")
      val moves = TxnCommit.movesFor(fs, w, cid, "docs")
      TxnCommit.commit(fs, w, cid, moves)
      TxnCommit.publish(fs, w, cid, moves)
    }
    val acts = Snapshots.snapshot(fs, w).files("docs")
    assert(acts.forall(a => FileStats.decode(a.stats)
      .exists(_.dicts.get("category").exists(_.values.size == 1))),
      "each file should carry its 1-value category dictionary")
    // Exact membership: only cat_2's file survives the log-side cut …
    val kept = acts.filter(a => FileStats.mayMatch(
      FileStats.decode(a.stats), FileStats.eq("category", "cat_2")))
    assert(kept.size == 1)
    // … and an absent category prunes everything (dictionaries are exact,
    // unlike blooms — no false-keep either way).
    assert(!acts.exists(a => FileStats.mayMatch(
      FileStats.decode(a.stats), FileStats.eq("category", "cat_9"))))
    // Correctness through the read path.
    assert(Snapshots.readWhere(s0, w, "docs", col("category") === "cat_2")
      .count() == 100L)
  }

  test("decimal keys bloom- and dictionary-prune on all carriers (unscaled-int probes)") {
    // Interleaved decimal values: every file's [min,max] spans the whole
    // range, so only the bloom/dictionary can tell files apart. Columns
    // pick their carrier by precision: d9 decimal(9,2) → INT32 unscaled,
    // d18 decimal(18,2) → INT64, d38 decimal(38,4) → FIXED_LEN_BYTE_ARRAY
    // — the probe must rescale the predicate value and hash the exact
    // bytes the writer stored (incl. the FLBA width and sign extension).
    val w = wh("decBloom")
    val s0 = spark
    import s0.implicits._
    Snapshots.setProperties(fs, w, "docs",
      Map("bloom.columns" -> "d9,d18,d38", "bloom.ndv" -> "1000"))
    val files = 4
    (0 until files).foreach { f =>
      val cid = java.util.UUID.randomUUID().toString
      (0 until 400).filter(_ % files == f)
        // Negative values exercise the two's-complement FLBA encoding.
        .map(i => (i.toLong, BigDecimal(i) + BigDecimal("0.25") - 200))
        .toDF("id", "v")
        .select(col("id"),
          col("v").cast("decimal(9,2)").as("d9"),
          col("v").cast("decimal(18,2)").as("d18"),
          col("v").cast("decimal(38,4)").as("d38"))
        .coalesce(1).write
        .options(Snapshots.bloomWriteOptionsFor(fs, w, "docs", None))
        .parquet(s"${TxnCommit.stagingDir(w, cid)}/docs")
      val moves = TxnCommit.movesFor(fs, w, cid, "docs")
      TxnCommit.commit(fs, w, cid, moves)
      TxnCommit.publish(fs, w, cid, moves)
    }
    val acts = Snapshots.snapshot(fs, w).files("docs")
    assert(acts.size == files)
    val stats = acts.map(a => FileStats.decode(a.stats).get)
    Seq("d9", "d18", "d38").foreach { c =>
      assert(stats.forall(st =>
        st.blooms.contains(c) || st.dicts.contains(c) ||
          st.bloomRefs.contains(c)),
        s"$c carries no probe structure: ${stats.map(_.blooms.keySet)}")
    }
    // Point lookups plan exactly the one covering file per carrier —
    // value -198.75 lives in file 1 (i=1): ranges can't separate, the
    // probe must. (SQL decimal literals; readWhere derives the eq leaf.)
    def planned(cond: org.apache.spark.sql.Column): Int =
      Snapshots.readWhere(s0, w, "docs", cond).inputFiles.length
    assert(planned(expr("d9 = -198.75")) == 1, "d9 int32-carrier probe")
    assert(planned(expr("d18 = -198.75")) == 1, "d18 int64-carrier probe")
    assert(planned(expr("d38 = -198.7500")) == 1, "d38 FLBA-carrier probe")
    assert(Snapshots.readWhere(s0, w, "docs", expr("d38 = -198.75"))
      .count() == 1)
    // Soundness sweep: every present value is FOUND by its probe.
    (0 until 400 by 37).foreach { i =>
      val v = java.math.BigDecimal.valueOf(i * 100 + 25 - 20000, 2)
      assert(acts.exists(a => FileStats.mayMatch(FileStats.decode(a.stats),
        FileStats.eq("d18", v))), s"present value $v wrongly pruned")
    }
    // A value not representable at the column scale keeps files (the
    // conservative answer — the range leaf owns impossibility).
    assert(acts.exists(a => FileStats.mayMatch(FileStats.decode(a.stats),
      FileStats.eq("d9", new java.math.BigDecimal("0.125")))))
  }

  test("decimal-keyed MERGE prunes candidates through dec stats and blooms") {
    // The DML side of decimal pruning: source key bounds collect as
    // java.math.BigDecimal (Row.get on a DecimalType agg) and must reach
    // the dec stats/bloom probes — a keyed delete on a decimal key plans
    // only the covering file, and the rewrite preserves semantics.
    val w = wh("decMergeKey")
    val s0 = spark
    import s0.implicits._
    Snapshots.setProperties(fs, w, "docs",
      Map("bloom.columns" -> "price", "bloom.ndv" -> "1000"))
    val files = 4
    (0 until files).foreach { f =>
      val cid = java.util.UUID.randomUUID().toString
      // Interleaved prices: every file's [min,max] spans the range.
      (0 until 400).filter(_ % files == f)
        .map(i => (i.toLong, BigDecimal(i) + BigDecimal("0.01")))
        .toDF("id", "p")
        .select(col("id"), col("p").cast("decimal(9,2)").as("price"))
        .coalesce(1).write
        .options(Snapshots.bloomWriteOptionsFor(fs, w, "docs", None))
        .parquet(s"${TxnCommit.stagingDir(w, cid)}/docs")
      val moves = TxnCommit.movesFor(fs, w, cid, "docs")
      TxnCommit.commit(fs, w, cid, moves)
      TxnCommit.publish(fs, w, cid, moves)
    }
    // price 5.01 (i=5) lives only in file 1 — range stats keep all 4.
    val keys = Seq(BigDecimal("5.01")).toDF("price")
      .select(col("price").cast("decimal(9,2)").as("price"))
    val r = Merge.deleteKeys(s0, w, "docs", keys, Seq("price"))
    assert(r.filesScanned == 1, s"decimal keyed delete should prune: $r")
    assert(r.rowsMatched == 1)
    assert(Snapshots.read(s0, w, "docs").count() == 399)
    assert(Snapshots.read(s0, w, "docs")
      .filter(col("price") === expr("CAST(5.01 AS DECIMAL(9,2))"))
      .count() == 0)
  }

  test("oversized blooms spill to sidecar files and still prune") {
    val w = wh("sidecar")
    // ndv 200k → ~256 KB bitset, past the 64 KB log cap: the payload must
    // land in _bloomidx/ with only a pointer on the ADD line.
    Snapshots.setProperties(fs, w, "docs",
      Map("bloom.columns" -> "doc_id", "bloom.ndv" -> "200000"))
    build(w, bloom = false) // property already set; build() publishes via it
    val acts = Snapshots.snapshot(fs, w).files("docs")
    acts.foreach { a =>
      val st = FileStats.decode(a.stats).get
      assert(st.blooms.isEmpty, "payload must not ride the log line")
      assert(st.bloomRefs.get("doc_id").exists(_.path.startsWith("_bloomidx/")),
        s"expected a sidecar pointer, got ${st.bloomRefs}")
      assert(a.stats.length < 8192, s"token still huge: ${a.stats.length}")
      assert(fs.exists(new org.apache.hadoop.fs.Path(
        s"$w/${st.bloomRefs("doc_id").path}")), "sidecar file missing")
    }
    // Pruning through the pointer: 1 of 4 candidates, delete lands.
    val r = Merge.deleteKeysDv(spark, w, "docs", keyDf("doc-0005"),
      Seq("doc_id"))
    assert(r.filesScanned == 1 && r.rowsMatched == 1,
      s"sidecar bloom should plan exactly 1 file: $r")
    // readWhere point lookup prunes through the loader too.
    assert(Snapshots.readWhere(spark, w, "docs",
      col("doc_id") === "doc-0013").count() == 1L)
  }

  test("a sidecar-bloom commit replays through crash recovery intact") {
    val w = wh("sidecar-crash")
    Snapshots.setProperties(fs, w, "docs",
      Map("bloom.columns" -> "doc_id", "bloom.ndv" -> "200000"))
    val cid = java.util.UUID.randomUUID().toString
    docs(0, 1, 100).coalesce(1).write
      .options(Snapshots.bloomWriteOptionsFor(fs, w, "docs", None))
      .parquet(s"${TxnCommit.stagingDir(w, cid)}/docs")
    val moves = TxnCommit.movesFor(fs, w, cid, "docs")
    TxnCommit.commit(fs, w, cid, moves)
    // Crash between commit point and publish: recovery must move the
    // SIDECAR with the data (the manifest is authoritative).
    TxnCommit.recover(fs, w)
    val st = FileStats.decode(
      Snapshots.snapshot(fs, w).files("docs").head.stats).get
    assert(st.bloomRefs.contains("doc_id"))
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$w/${st.bloomRefs("doc_id").path}")),
      "recovery dropped the sidecar file")
    assert(Snapshots.read(spark, w, "docs").count() == 100L)
  }

  test("a lost sidecar keeps files instead of mis-pruning") {
    val w = wh("sidecar-lost")
    Snapshots.setProperties(fs, w, "docs",
      Map("bloom.columns" -> "doc_id", "bloom.ndv" -> "200000"))
    build(w, bloom = false)
    // Delete every sidecar out from under the pointers.
    fs.delete(new org.apache.hadoop.fs.Path(s"$w/_bloomidx"), true)
    val r = Merge.deleteKeysDv(spark, w, "docs", keyDf("doc-0005"),
      Seq("doc_id"))
    // No pruning (all 4 candidates) — but never a lost deletion.
    assert(r.filesScanned == 4 && r.rowsMatched == 1,
      s"missing sidecar must degrade to keep-all: $r")
  }

  test("partitioned commits keep per-file sidecars distinct") {
    val w = wh("sidecar-part")
    val s0 = spark
    import s0.implicits._
    Snapshots.setProperties(fs, w, "docs",
      Map("bloom.columns" -> "doc_id", "bloom.ndv" -> "200000"))
    // ONE dynamic-partition commit: both partition dirs get part files
    // with the SAME basename — basename-keyed sidecar names would
    // overwrite each other and file A would probe file B's bitsets.
    val cid = java.util.UUID.randomUUID().toString
    (0 until 200).map(i => (f"doc-$i%04d", if (i % 2 == 0) "a" else "b"))
      .toDF("doc_id", "part").repartition(1)
      .write.partitionBy("part")
      .options(Snapshots.bloomWriteOptionsFor(fs, w, "docs", None))
      .parquet(s"${TxnCommit.stagingDir(w, cid)}/docs")
    val moves = TxnCommit.movesFor(fs, w, cid, "docs")
    TxnCommit.commit(fs, w, cid, moves)
    TxnCommit.publish(fs, w, cid, moves)

    val acts = Snapshots.snapshot(fs, w).files("docs")
    assert(acts.size == 2, s"expected one file per partition, got ${acts.size}")
    val refs = acts.map(a =>
      FileStats.decode(a.stats).get.bloomRefs("doc_id").path)
    assert(refs.distinct.size == 2,
      s"partition files must not share a sidecar: $refs")
    // Soundness end-to-end: every key is found in its own partition file.
    val r = Merge.deleteKeysDv(spark, w, "docs",
      Seq("doc-0004", "doc-0007").toDF("doc_id"), Seq("doc_id"))
    assert(r.rowsMatched == 2, s"collided sidecars lost a deletion: $r")
  }

  test("vacuum reaps sidecars of truncated files, keeps live ones") {
    val w = wh("sidecar-vacuum")
    Snapshots.setProperties(fs, w, "docs",
      Map("bloom.columns" -> "doc_id", "bloom.ndv" -> "200000"))
    build(w, bloom = false, files = 2, n = 100)
    def sidecars(): Set[String] = {
      val d = new org.apache.hadoop.fs.Path(s"$w/_bloomidx/docs")
      if (!fs.exists(d)) Set.empty
      else fs.listStatus(d).map(_.getPath.getName).toSet
    }
    val before = sidecars()
    assert(before.size == 2, s"expected 2 sidecars, got $before")
    // Compaction rewrites both files (new sidecars spill for the packed
    // output); vacuum to 1 version truncates the originals' ADD lines.
    graft.ingest.Compaction.compact(spark, w, "docs", minInputFiles = 2)
    Snapshots.vacuum(fs, w, keepVersions = 1, minAgeMs = 0L)
    val after = sidecars()
    assert(before.forall(!after(_)),
      s"truncated files' sidecars must be reaped: $before ∩ $after")
    assert(after.nonEmpty, "the live compacted file keeps its sidecar")
    // And the surviving pointer still prunes/serves correctly.
    val r = Merge.deleteKeysDv(spark, w, "docs", keyDf("doc-0005"),
      Seq("doc_id"))
    assert(r.rowsMatched == 1)
  }

  test("stats token with blooms round-trips through encode/decode") {
    val bits = Array.tabulate(64)(_.toByte)
    val st = FileStats.Stats(10L,
      Map("k" -> FileStats.ColStats("string", "a", "z")),
      Seq("k" -> "BINARY/STRING"), Map("k" -> 0L),
      Map("k" -> FileStats.BloomCol("s", Seq(bits)),
        "id" -> FileStats.BloomCol("i64", Seq(bits))),
      Map("cat" -> FileStats.DictCol("s", Set("a,b", "c|d", "")),
        "n" -> FileStats.DictCol("i32", Set("1", "-7"))))
    val rt = FileStats.decode(FileStats.encode(st)).get
    assert(rt.blooms.keySet == Set("k", "id"))
    assert(rt.blooms("k").tag == "s" && rt.blooms("id").tag == "i64")
    assert(rt.blooms("k").bitsets.head.toSeq == bits.toSeq)
    // Dictionary values with the token's own delimiters survive encoding.
    assert(rt.dicts == st.dicts)
    assert(rt.cols == st.cols && rt.nulls == st.nulls)
  }

  test("bigint keys bloom-prune too (the common MERGE key type)") {
    val w = wh("longkey")
    val s0 = spark
    import s0.implicits._
    Snapshots.setProperties(fs, w, "docs",
      Map("bloom.columns" -> "score", "bloom.ndv" -> "1000"))
    // `score` is the LongType key here: interleaved across 4 files so
    // every [min,max] spans the probed value.
    def part(f: Int): org.apache.spark.sql.DataFrame =
      (0 until 400).filter(_ % 4 == f)
        .map(i => (f"doc-$i%04d", i.toLong)).toDF("doc_id", "score")
    (0 until 4).foreach { f =>
      val cid = java.util.UUID.randomUUID().toString
      part(f).coalesce(1).write
        .options(Snapshots.bloomWriteOptionsFor(fs, w, "docs", None))
        .parquet(s"${TxnCommit.stagingDir(w, cid)}/docs")
      val moves = TxnCommit.movesFor(fs, w, cid, "docs")
      TxnCommit.commit(fs, w, cid, moves)
      TxnCommit.publish(fs, w, cid, moves)
    }
    val acts = Snapshots.snapshot(fs, w).files("docs")
    assert(acts.forall(a =>
      FileStats.decode(a.stats).exists(_.blooms.get("score")
        .exists(_.tag == "i64"))), "long column should carry an i64 bloom")
    // 17 % 4 == 1 → file 1 of 4; range stats alone keep all 4.
    val r = Merge.deleteKeysDv(spark, w, "docs",
      Seq(17L).toDF("score"), Seq("score"))
    assert(r.filesScanned == 1 && r.rowsMatched == 1,
      s"i64 bloom should plan exactly 1 file: $r")
    // Soundness across the key domain: every still-present key is found
    // (the 31-step set doesn't contain 17, so all of them are live).
    val r2 = Merge.deleteKeysDv(spark, w, "docs",
      (0L until 400L by 31L).toDF("score"), Seq("score"))
    assert(r2.rowsMatched == (0L until 400L by 31L).size,
      s"lost long-key deletions: $r2")
  }
}
