package graft

import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.ingest.{Snapshots, TxnCommit}
import graft.llmops.{IvfStore, Pq, Similarity}

/** IVF-PQ: product-quantized posting table (m bytes per vector instead of
  * dim floats), asymmetric code scoring, point-pruned exact re-rank of the
  * per-query shortlist. Exactness lives in the re-rank — the codes only
  * have to get the shortlist right, which the recall gate pins.
  */
class PqSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private lazy val dir = Files.createTempDirectory("graft-pq")
  private def wh(name: String) = dir.resolve(name).toString
  private def fs = new Path(dir.toString)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private val Dim = 64

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** Deterministic clustered vectors: 8 loose clusters in 64-dim. */
  private def vec(i: Int): Seq[Float] = {
    val v = new Array[Float](Dim)
    var j = 0
    while (j < Dim) {
      v(j) = 0.05f * (((i * 31 + j * 17) % 11) - 5)
      j += 1
    }
    v(i % 8 * 8) = 1f + 0.01f * (i % 13)
    v(i % 8 * 8 + 1) = 0.5f
    v.toSeq
  }

  private def embDf(n: Int): DataFrame = {
    val s0 = spark
    import s0.implicits._
    (0 until n).map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
  }

  private def pubEmb(w: String, df: DataFrame): Unit = {
    val cid = java.util.UUID.randomUUID().toString
    df.coalesce(2).write
      .parquet(s"${TxnCommit.stagingDir(w, cid)}/embeddings")
    val moves = TxnCommit.movesFor(fs, w, cid, "embeddings")
    TxnCommit.commit(fs, w, cid, moves)
    TxnCommit.publish(fs, w, cid, moves)
  }

  test("codes are m bytes and encoding is deterministic") {
    val corpus = embDf(256)
    val model = Pq.train(corpus, Dim, m = 8, ksub = 16, iters = 2)
    assert(model.dsub == 8)
    val codes = corpus.select(Pq.encodeCol(col("embedding"), model).as("c"))
      .collect().map(_.getAs[Array[Byte]](0))
    assert(codes.forall(_.length == 8), "one byte per subspace")
    val codes2 = corpus.select(Pq.encodeCol(col("embedding"), model).as("c"))
      .collect().map(_.getAs[Array[Byte]](0))
    assert(codes.zip(codes2).forall { case (a, b) => a.sameElements(b) })
    // Codes use the available ksub range (training actually clustered).
    assert(codes.flatten.map(_ & 0xff).distinct.length > 4)
  }

  test("asymmetric code score approximates true cosine") {
    val corpus = embDf(256)
    val model = Pq.train(corpus, Dim, m = 8, ksub = 16, iters = 3)
    val s0 = spark
    import s0.implicits._
    val q = corpus.filter(col("vec_id") === 0L)
      .select(col("embedding").as("q_vec"))
    val scored = q.crossJoin(corpus.limit(64))
      .select(
        VectorExprs2.adc(col("q_vec"), col("embedding"), model).as("approx"),
        graft.functions.VectorExprs.cosineSim(col("q_vec"), col("embedding"))
          .as("exact"))
      .as[(Double, Double)].collect()
    val mae = scored.map { case (a, e) => math.abs(a - e) }.sum / scored.length
    assert(mae < 0.08, s"mean |approx - exact| too high: $mae")
  }

  test("LUT scoring equals direct code reconstruction") {
    val corpus = embDf(128)
    val model = Pq.train(corpus, Dim, m = 8, ksub = 16, iters = 2)
    val s0 = spark
    import s0.implicits._
    val pairs = corpus.filter(col("vec_id") === 0L)
      .select(col("embedding").as("q_vec"))
      .crossJoin(corpus.limit(64)
        .select(Pq.encodeCol(col("embedding"), model).as("code")))
    val both = pairs.select(
        Pq.adcCosineCol(col("q_vec"), col("code"), model).as("direct"),
        Pq.lutScoreCol(Pq.lutCol(col("q_vec"), model), col("code"), model)
          .as("lut"))
      .as[(Double, Double)].collect()
    // Same math, different double-summation order — last-ulp tolerance.
    both.foreach { case (d, l) =>
      assert(math.abs(d - l) < 1e-9, s"direct=$d lut=$l") }
  }

  test("persisted PQ index: one-commit build, recall gate, tiny postings") {
    val w = wh("store")
    pubEmb(w, embDf(512))
    val corpus = Snapshots.read(spark, w, "embeddings")
    IvfStore.buildPqIndex(spark, w, corpus, dim = Dim, k = 8, m = 8,
      ksub = 16, targetFiles = 4)
    // All three tables appear at ONE version (atomic build).
    val v = Snapshots.latestVersion(fs, w).get
    Seq(IvfStore.CentroidTable, IvfStore.PqCodebookTable, IvfStore.PqCellTable)
      .foreach(t => assert(Snapshots.fileMeta(fs, w, t).exists(_.nonEmpty),
        s"missing $t"))
    assert(Snapshots.fileMeta(fs, w, IvfStore.PqCellTable, Some(v - 1))
      .getOrElse(Nil).isEmpty, "PQ tables must land in one atomic commit")

    // The posting table stores m-BYTE codes, never vectors — the 100 TB
    // claim is per-row payload (8 bytes vs dim·4 = 256), which parquet
    // fixed overhead obscures at this fixture size, so assert the schema
    // and the code payload directly.
    val postings = Snapshots.read(spark, w, IvfStore.PqCellTable)
    assert(postings.columns.toSeq == Seq("vec_id", "cell", "pq_code"))
    assert(postings.select("pq_code").collect()
      .forall(_.getAs[Array[Byte]](0).length == 8))

    // Recall@10 of the approximate configuration against brute force.
    val queries = corpus.filter(col("vec_id") < 8)
    val approx = IvfStore.pqTopK(spark, w, queries, k = 10, nprobe = 3,
      refine = 4)
      .select("q_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    val exact = Similarity.bruteForceTopK(queries, corpus, k = 10)
      .select("q_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    val recall = exact.count(approx.contains(_)).toDouble / exact.length
    assert(recall >= 0.9, s"recall@10 = $recall below the 0.9 gate")
  }

  test("nprobe = k with full refine is exactly brute force") {
    val w = wh("exact")
    pubEmb(w, embDf(300))
    val corpus = Snapshots.read(spark, w, "embeddings")
    IvfStore.buildPqIndex(spark, w, corpus, dim = Dim, k = 4, m = 8,
      ksub = 16, targetFiles = 2)
    val queries = corpus.filter(col("vec_id") < 5)
    val pqExact = IvfStore.pqTopK(spark, w, queries, k = 10, nprobe = 4,
      refine = Int.MaxValue / 16)
      .orderBy("q_id", "rnk").collect().toSeq
    val brute = Similarity.bruteForceTopK(queries, corpus, k = 10)
      .orderBy("q_id", "rnk").collect().toSeq
    assert(pqExact == brute)
    // r22 full-refine shortcut (k·refine covers the row_number domain →
    // scoring/window/shortlist provably skipped): same answer, both vs the
    // windowed path and vs brute force.
    val shortcut = IvfStore.pqTopK(spark, w, queries, k = 10, nprobe = 4,
      refine = Int.MaxValue)
      .orderBy("q_id", "rnk").collect().toSeq
    assert(shortcut == pqExact)
  }

  test("below full probe a multi-query batch never takes the full-refine shortcut") {
    val w = wh("partial")
    pubEmb(w, embDf(300))
    val corpus = Snapshots.read(spark, w, "embeddings")
    IvfStore.buildPqIndex(spark, w, corpus, dim = Dim, k = 8, m = 8,
      ksub = 16, targetFiles = 2)
    // Queries from every cluster: the batch's probed cells are all cells,
    // each query's own nearest cell is one of them.
    val queries = corpus.filter(col("vec_id") < 16)
    // k·refine past Int.MaxValue asks for the shortcut; a windowed call
    // whose refine covers every candidate must give the same answer.
    Seq((10, Int.MaxValue), (50, Int.MaxValue / 16)).foreach { case (k, big) =>
      val full = IvfStore.pqTopK(spark, w, queries, k = k, nprobe = 1,
        refine = big).orderBy("q_id", "rnk").collect().toSeq
      val windowed = IvfStore.pqTopK(spark, w, queries, k = k, nprobe = 1,
        refine = 300).orderBy("q_id", "rnk").collect().toSeq
      assert(full == windowed, s"k=$k refine=$big")
    }
  }

  test("corpus deletes propagate into the code postings") {
    val w = wh("dml")
    pubEmb(w, embDf(300))
    IvfStore.buildPqIndex(spark, w,
      Snapshots.read(spark, w, "embeddings"), dim = Dim, k = 4, m = 8,
      ksub = 16, targetFiles = 2)
    val vIndexed = Snapshots.latestVersion(fs, w).get
    graft.ingest.Merge.deleteWhereDv(spark, w, "embeddings",
      col("vec_id") % 5 === 1 && col("vec_id") >= 3)
    IvfStore.syncPqFromChanges(spark, w, "embeddings",
      fromExclusive = vIndexed)
    // No deleted id may surface — exact config makes the check total.
    val got = IvfStore.pqTopK(spark, w,
      embDf(300).filter(col("vec_id") < 3), k = 10, nprobe = 4,
      refine = Int.MaxValue / 16)
    val dead = got.filter(col("vec_id") % 5 === 1 && col("vec_id") >= 3)
    assert(dead.isEmpty, "a vectored-out corpus row resurfaced via PQ codes")
    val brute = Similarity.bruteForceTopK(embDf(300).filter(col("vec_id") < 3),
      Snapshots.read(spark, w, "embeddings"), k = 10)
      .orderBy("q_id", "rnk").collect().toSeq
    assert(got.orderBy("q_id", "rnk").collect().toSeq == brute)
  }

  test("rebuildPq atomically swaps all index tables; flat rebuild refuses") {
    val w = wh("rebuild")
    pubEmb(w, embDf(300))
    val corpus = Snapshots.read(spark, w, "embeddings")
    IvfStore.buildPqIndex(spark, w, corpus, dim = Dim, k = 4, m = 8,
      ksub = 16, targetFiles = 2)
    val before = Snapshots.latestVersion(fs, w).get
    IvfStore.rebuildPq(spark, w, corpus, dim = Dim, k = 8, m = 8, ksub = 16,
      targetFiles = 2)
    val after = Snapshots.latestVersion(fs, w).get
    assert(after == before + 1, "rebuild must be ONE commit")
    // A reader pinned below the swap sees the old consistent pair.
    assert(Snapshots.read(spark, w, IvfStore.CentroidTable, Some(before))
      .count() == 4)
    assert(Snapshots.read(spark, w, IvfStore.CentroidTable).count() == 8)
    // Post-swap the exact configuration still matches brute force.
    val queries = corpus.filter(col("vec_id") < 3)
    assert(IvfStore.pqTopK(spark, w, queries, k = 10, nprobe = 8,
        refine = Int.MaxValue / 16).orderBy("q_id", "rnk").collect().toSeq ==
      Similarity.bruteForceTopK(queries, corpus, k = 10)
        .orderBy("q_id", "rnk").collect().toSeq)
    // The flat-index rebuild would orphan the PQ postings' cell ids —
    // it must refuse while ann_cells_pq exists.
    val ex = intercept[IllegalArgumentException](
      IvfStore.rebuild(spark, w, corpus, dim = Dim, k = 4))
    assert(ex.getMessage.contains("rebuildPq"))
  }

  test("incremental append keeps the streamed half searchable") {
    val w = wh("append")
    val all = embDf(400)
    pubEmb(w, all.filter(col("vec_id") < 200))
    IvfStore.buildPqIndex(spark, w,
      Snapshots.read(spark, w, "embeddings"), dim = Dim, k = 4, m = 8,
      ksub = 16, targetFiles = 2)
    pubEmb(w, all.filter(col("vec_id") >= 200))
    IvfStore.appendPqBatch(spark, w, all.filter(col("vec_id") >= 200))
    val queries = all.filter(col("vec_id") < 3)
    val got = IvfStore.pqTopK(spark, w, queries, k = 10, nprobe = 4,
      refine = Int.MaxValue / 16)
      .orderBy("q_id", "rnk").collect().toSeq
    val brute = Similarity.bruteForceTopK(queries,
      Snapshots.read(spark, w, "embeddings"), k = 10)
      .orderBy("q_id", "rnk").collect().toSeq
    assert(got == brute, "appended vectors must be fully searchable")
  }
}

/** Small bridge so the spec can call the ADC kernel with a model. */
private object VectorExprs2 {
  def adc(q: org.apache.spark.sql.Column, v: org.apache.spark.sql.Column,
          model: Pq.Model): org.apache.spark.sql.Column =
    Pq.adcCosineCol(q,
      graft.functions.VectorExprs.pqEncodeCol(v, model.codebooks, model.m,
        model.ksub, model.dsub), model)
}
