package graft

import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.ingest.{Snapshots, TxnCommit}
import graft.llmops.{Ivf, IvfStore, Similarity}

/** Persisted IVF index: centroids + cell assignments are snapshot tables,
  * so a cold session searches without re-training and without touching the
  * corpus table — and a low-nprobe query plans only the `ann_cells` files
  * whose cell range it probes. */
class IvfStoreSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private lazy val dir = Files.createTempDirectory("graft-ivfstore")
  private def wh(name: String) = dir.resolve(name).toString
  private def fs = new Path(dir.toString)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private val Dim = 8

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** Deterministic vector near axis (i % 4): four natural clusters. */
  private def vec(i: Int): Seq[Float] = {
    val v = Array.fill(Dim)(0.01f * ((i * 7 + 3) % 5))
    v(i % 4) = 1f + 0.001f * (i % 9)
    v.toSeq
  }

  private def embDf(ids: Range): DataFrame = {
    val s0 = spark
    import s0.implicits._
    ids.map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
  }

  private def pubEmb(w: String, ids: Range): Unit = {
    val cid = java.util.UUID.randomUUID().toString
    embDf(ids).coalesce(1)
      .write.parquet(s"${TxnCommit.stagingDir(w, cid)}/embeddings")
    val moves = TxnCommit.movesFor(fs, w, cid, "embeddings")
    TxnCommit.commit(fs, w, cid, moves)
    TxnCommit.publish(fs, w, cid, moves)
  }

  test("warm-store query plans ZERO corpus files and skips unprobed cells") {
    val w = wh("whPrune")
    pubEmb(w, 0 until 64)
    IvfStore.buildIndex(spark, w,
      Snapshots.read(spark, w, "embeddings"), Dim, k = 4, targetFiles = 4)

    val res = IvfStore.topK(spark, w, embDf(0 until 1), k = 5, nprobe = 1)
    assert(res.count() == 5)
    // The scale claim: search is served entirely from the index tables.
    val planned = res.inputFiles.toSet
    assert(planned.nonEmpty && !planned.exists(_.contains("/embeddings/")),
      s"corpus files in the search plan: $planned")
    // And with one probed cell of four, the range-by-cell layout lets the
    // log's [min,max] stats skip index files too.
    val totalCellFiles =
      Snapshots.read(spark, w, IvfStore.CellTable).inputFiles.length
    val plannedCellFiles = planned.count(_.contains(s"/${IvfStore.CellTable}/"))
    assert(totalCellFiles >= 3, s"layout produced $totalCellFiles files")
    assert(plannedCellFiles < totalCellFiles,
      s"probed 1 of 4 cells but planned $plannedCellFiles/$totalCellFiles index files")
  }

  test("nprobe = k through the warm store is exact (matches brute force)") {
    val w = wh("whExact")
    pubEmb(w, 0 until 48)
    IvfStore.buildIndex(spark, w,
      Snapshots.read(spark, w, "embeddings"), Dim, k = 4, targetFiles = 2)
    val queries = embDf(0 until 3)
    val got = IvfStore.topK(spark, w, queries, k = 7, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    val want = Similarity.bruteForceTopK(queries, embDf(0 until 48), 7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    assert(got == want)
  }

  test("appendBatch via the change feed completes the index without re-train or corpus re-scan") {
    val w = wh("whInc")
    pubEmb(w, 0 until 32)
    val m1 = IvfStore.buildIndex(spark, w,
      Snapshots.read(spark, w, "embeddings"), Dim, k = 4, targetFiles = 2)
    val vIndexed = Snapshots.latestVersion(fs, w).get
    pubEmb(w, 32 until 48)
    val m2 = IvfStore.appendBatch(spark, w,
      Snapshots.changes(spark, w, "embeddings", fromExclusive = vIndexed)
        .select("vec_id", "embedding"))
    // Same centroids (no re-train) …
    assert(m1.centroids.map(_.toSeq).toSeq == m2.centroids.map(_.toSeq).toSeq)
    // … and the index now covers both batches exactly once.
    val cells = Snapshots.read(spark, w, IvfStore.CellTable)
    assert(cells.count() == 48 && cells.select("vec_id").distinct().count() == 48)
    // Warm-store exact search over the completed index == brute force over
    // the full corpus: a lost (or duplicated) append row would change top-k.
    val queries = embDf(0 until 2)
    val got = IvfStore.topK(spark, w, queries, k = 10, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    val want = Similarity.bruteForceTopK(queries, embDf(0 until 48), 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    assert(got == want)
  }

  test("syncFromChanges: corpus delete + update propagate — dead postings never surface") {
    val w = wh("whSync")
    pubEmb(w, 0 until 48)
    IvfStore.buildIndex(spark, w,
      Snapshots.read(spark, w, "embeddings"), Dim, k = 4, targetFiles = 2)
    val vIndexed = Snapshots.latestVersion(fs, w).get
    // Corpus DML after the index was built: a merge-on-read DELETE of
    // vec_id in [40, 48) and an UPDATE re-pointing vec_id 5's vector.
    graft.ingest.Merge.deleteWhereDv(spark, w, "embeddings",
      col("vec_id") >= 40)
    val newVec = vec(37) // lands near a different axis than vec(5)
    graft.ingest.Merge.updateWhereDv(spark, w, "embeddings",
      col("vec_id") === 5,
      Map("embedding" -> typedLit(newVec).cast("array<float>")))
    IvfStore.syncFromChanges(spark, w, "embeddings", fromExclusive = vIndexed)

    // Index state: deleted ids gone, updated id present exactly once with
    // the NEW assignment's embedding.
    val cells = Snapshots.read(spark, w, IvfStore.CellTable)
    assert(cells.filter(col("vec_id") >= 40).count() == 0,
      "deleted vectors still have postings")
    assert(cells.filter(col("vec_id") === 5).count() == 1,
      "updated vector must have exactly one posting")
    // Exact search through the synced store == brute force over the LIVE
    // corpus (the dv-aware read): a stale posting would change some top-k.
    val queries = embDf(0 until 3)
    val got = IvfStore.topK(spark, w, queries, k = 10, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    val want = Similarity.bruteForceTopK(queries,
      Snapshots.read(spark, w, "embeddings"), 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    assert(got == want)
    assert(!got.exists(_._2 >= 40), "a deleted vector surfaced in top-k")
  }

  test("sync is last-writer-wins: insert-then-delete never resurrects; double update never duplicates") {
    val w = wh("whSyncNet")
    pubEmb(w, 0 until 32)
    IvfStore.buildIndex(spark, w,
      Snapshots.read(spark, w, "embeddings"), Dim, k = 4, targetFiles = 2)
    val vIndexed = Snapshots.latestVersion(fs, w).get
    // One sync range spanning: INSERT 100 (v+1), DELETE 100 (v+2), and
    // TWO updates of id 7 (v+3, v+4). The naive per-row split would
    // re-append 100 from its insert row (resurrection) and append BOTH
    // postimages of 7 (stale duplicate).
    pubEmb(w, 100 until 101)
    graft.ingest.Merge.deleteWhereDv(spark, w, "embeddings",
      col("vec_id") === 100)
    graft.ingest.Merge.updateWhereDv(spark, w, "embeddings",
      col("vec_id") === 7,
      Map("embedding" -> typedLit(vec(20)).cast("array<float>")))
    graft.ingest.Merge.updateWhereDv(spark, w, "embeddings",
      col("vec_id") === 7,
      Map("embedding" -> typedLit(vec(21)).cast("array<float>")))
    IvfStore.syncFromChanges(spark, w, "embeddings", fromExclusive = vIndexed)

    val cells = Snapshots.read(spark, w, IvfStore.CellTable)
    assert(cells.filter(col("vec_id") === 100).count() == 0,
      "insert-then-delete resurrected through the index")
    val sevens = cells.filter(col("vec_id") === 7)
      .select("embedding").collect()
      .map(_.getAs[scala.collection.Seq[Float]](0))
    assert(sevens.length == 1,
      s"double update left ${sevens.length} postings (stale duplicate)")
    assert(sevens.head == vec(21), "posting must carry the FINAL payload")
    // And exact search equals brute force over the live corpus.
    val queries = embDf(0 until 3)
    val got = IvfStore.topK(spark, w, queries, k = 10, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = Similarity.bruteForceTopK(queries,
      Snapshots.read(spark, w, "embeddings"), 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want)
  }

  test("compactIndex: append-eroded layout re-clusters; pruning and results survive") {
    val w = wh("whCompact")
    pubEmb(w, 0 until 32)
    IvfStore.buildIndex(spark, w,
      Snapshots.read(spark, w, "embeddings"), Dim, k = 4, targetFiles = 2)
    // Three one-file appends: each covers the FULL cell range, so the
    // range-by-cell pruning decays — exactly the erosion compaction fixes.
    (0 until 3).foreach { b =>
      val v = Snapshots.latestVersion(fs, w).get
      pubEmb(w, 32 + 8 * b until 40 + 8 * b)
      IvfStore.appendBatch(spark, w,
        Snapshots.changes(spark, w, "embeddings", fromExclusive = v)
          .select("vec_id", "embedding"))
    }
    val filesBefore = Snapshots.read(spark, w, IvfStore.CellTable)
      .inputFiles.length
    assert(filesBefore == 5) // 2 from build + 3 appends
    val total = Snapshots.read(spark, w, IvfStore.CellTable).inputFiles
      .map(f => fs.getFileStatus(new Path(new java.net.URI(f).getPath)).getLen).sum
    val res = IvfStore.compactIndex(spark, w, targetBytes = total / 3)
    assert(res.exists(r => r.filesAfter < r.filesBefore && r.filesBefore == 5))
    val filesAfter = Snapshots.read(spark, w, IvfStore.CellTable)
      .inputFiles.length
    assert(filesAfter < filesBefore && filesAfter >= 2)
    // The re-clustered layout prunes again: one probed cell of four plans
    // strictly fewer index files than the table has.
    val res1 = IvfStore.topK(spark, w, embDf(0 until 1), k = 5, nprobe = 1)
    val plannedCell = res1.inputFiles.toSet
      .count(_.contains(s"/${IvfStore.CellTable}/"))
    assert(plannedCell < filesAfter,
      s"compacted layout stopped pruning: planned $plannedCell/$filesAfter")
    // And nothing was lost or duplicated: exact search == brute force.
    val queries = embDf(0 until 2)
    val got = IvfStore.topK(spark, w, queries, k = 8, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    val want = Similarity.bruteForceTopK(queries, embDf(0 until 56), 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    assert(got == want)
  }

  test("rebuild swaps centroids+cells in ONE version; any pinned reader sees a matched pair") {
    val w = wh("whRebuild")
    pubEmb(w, 0 until 32)
    IvfStore.buildIndex(spark, w,
      Snapshots.read(spark, w, "embeddings"), Dim, k = 3, targetFiles = 2)
    val vPin = Snapshots.latestVersion(fs, w).get
    pubEmb(w, 32 until 96)
    val m2 = IvfStore.rebuild(spark, w,
      Snapshots.read(spark, w, "embeddings"), Dim, k = 4, targetFiles = 3)
    val vNew = Snapshots.latestVersion(fs, w).get
    // One corpus commit + ONE swap commit — no intermediate version can
    // pair new centroids with old assignments or vice versa.
    assert(vNew == vPin + 2, s"rebuild took ${vNew - vPin - 1} versions")
    // Pinned reader: the OLD consistent pair…
    assert(Snapshots.read(spark, w, IvfStore.CentroidTable, Some(vPin)).count() == 3)
    val oldCells = Snapshots.read(spark, w, IvfStore.CellTable, Some(vPin))
    assert(oldCells.count() == 32 &&
      oldCells.agg(max(col("cell"))).head.getInt(0) < 3)
    // …latest reader: the NEW pair, cell ids meaningful under k = 4.
    assert(IvfStore.loadModel(spark, w).centroids.map(_.toSeq).toSeq ==
      m2.centroids.map(_.toSeq).toSeq)
    val newCells = Snapshots.read(spark, w, IvfStore.CellTable)
    assert(newCells.count() == 96 &&
      newCells.select("vec_id").distinct().count() == 96 &&
      newCells.agg(max(col("cell"))).head.getInt(0) < 4)
    // Recall gate post-swap: exact search through the rebuilt store.
    val queries = embDf(0 until 3)
    val got = IvfStore.topK(spark, w, queries, k = 10, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    val want = Similarity.bruteForceTopK(queries, embDf(0 until 96), 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    assert(got == want)
  }

  test("a cold session loads the model from the log — no training data needed") {
    val w = wh("whCold")
    pubEmb(w, 0 until 24)
    val trained = IvfStore.buildIndex(spark, w,
      Snapshots.read(spark, w, "embeddings"), Dim, k = 3, targetFiles = 1)
    val loaded = IvfStore.loadModel(spark, w)
    assert(loaded.k == 3 && loaded.dim == Dim)
    assert(loaded.centroids.map(_.toSeq).toSeq ==
      trained.centroids.map(_.toSeq).toSeq)
  }

  test("buildIndex then buildPqIndex share one centroid set: full-probe search stays exact") {
    val w = wh("whFlatThenPq")
    pubEmb(w, 0 until 64)
    val corpus = Snapshots.read(spark, w, "embeddings")
    IvfStore.buildIndex(spark, w, corpus, Dim, k = 4, targetFiles = 2)
    IvfStore.buildPqIndex(spark, w, corpus, Dim, k = 4, m = 8, ksub = 16,
      targetFiles = 2)
    // The PQ build replaces the shared centroids and re-assigns the flat
    // postings under them in the same commit.
    assert(Snapshots.read(spark, w, IvfStore.CentroidTable).count() == 4)
    val queries = embDf(0 until 6)
    val got = IvfStore.topK(spark, w, queries, k = 10, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    val want = Similarity.bruteForceTopK(queries, embDf(0 until 64), 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    assert(got == want)
  }

  test("an append of the wrong dim fails naming both dims and commits nothing") {
    val w = wh("whWrongDim")
    pubEmb(w, 0 until 32)
    IvfStore.buildIndex(spark, w,
      Snapshots.read(spark, w, "embeddings"), Dim, k = 4, targetFiles = 2)
    val before = Snapshots.latestVersion(fs, w)
    val wide = embDf(100 until 104).withColumn("embedding",
      concat(col("embedding"), array(lit(0.5f))))
    val err = intercept[Exception](IvfStore.appendBatch(spark, w, wide))
    val msgs = Iterator.iterate[Throwable](err)(_.getCause)
      .takeWhile(_ != null).map(e => String.valueOf(e.getMessage)).toSeq
    assert(msgs.exists(m => m.contains(s"dim ${Dim + 1}") &&
      m.contains(s"expects dim $Dim")), msgs.mkString(" | "))
    assert(Snapshots.latestVersion(fs, w) == before)
    assert(Snapshots.read(spark, w, IvfStore.CellTable).count() == 32)
  }
}
