package graft

import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.ingest.{Snapshots, TxnCommit}
import graft.llmops.{MinHash, SignatureStore}

/** Persisted MinHash signatures: incremental dedup whose per-run compute is
  * O(new batch) + O(candidates) — the corpus text is NEVER scanned
  * wholesale once its band rows live in the doc_signatures table. */
class SignatureStoreSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private lazy val dir = Files.createTempDirectory("graft-sigstore")
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

  /** Doc with per-doc-unique tokens: zero cross-doc shingle overlap, so the
    * only near-dup pairs are the deliberately-mutated copies. */
  private def doc(i: Int): (Long, String) =
    i.toLong -> (0 until 10).map(t => s"t${t}x$i").mkString(" ")

  private def pubDocs(w: String, rows: Seq[(Long, String)]): Unit =
    pubDf(w, toDf(rows))

  private def pubDf(w: String, df: DataFrame): Unit = {
    val cid = java.util.UUID.randomUUID().toString
    df.coalesce(1).write.parquet(s"${TxnCommit.stagingDir(w, cid)}/documents")
    val moves = TxnCommit.movesFor(fs, w, cid, "documents")
    TxnCommit.commit(fs, w, cid, moves)
    TxnCommit.publish(fs, w, cid, moves)
  }

  private def toDf(rows: Seq[(Long, String)]): DataFrame = {
    val s0 = spark
    import s0.implicits._
    rows.toDF("doc_id", "text")
  }

  test("persisted path matches the recompute path, and only candidate corpus files are read") {
    val w = wh("whInc")
    val s0 = spark
    import s0.implicits._
    // Corpus: three disjoint id-range files, each committed + signed.
    val fileA = (0 until 10).map(doc)
    val fileB = (10 until 20).map(doc)
    val fileC = (20 until 30).map(doc)
    Seq(fileA, fileB, fileC).foreach { batch =>
      pubDocs(w, batch)
      SignatureStore.appendBatch(spark, w, toDf(batch), "doc_id", "text")
    }
    // New batch: mutated copies of three docs from file A only.
    val batch2 = (0 until 3).map { i =>
      (1000L + i) -> (doc(i)._2 + " zz")
    }
    pubDocs(w, batch2)
    SignatureStore.appendBatch(spark, w, toDf(batch2), "doc_id", "text")

    val res = SignatureStore.incrementalNearDupPairs(
      spark, w, "documents", toDf(batch2), "doc_id", "text")
    val got = res.select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(got == Set((0L, 1000L), (1L, 1001L), (2L, 1002L)))

    // Ground truth via the recompute path over the full corpus.
    val full = toDf(fileA ++ fileB ++ fileC ++ batch2)
    val expected = MinHash.incrementalNearDupPairs(
        full, toDf(batch2).select("doc_id"), "doc_id", "text")
      .select("doc_a", "doc_b", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    assert(res.select("doc_a", "doc_b", "jaccard")
      .as[(Long, Long, Double)].collect().toSet == expected)

    // THE scale claim: the dedup run's plan opens only the ONE corpus file
    // whose [min,max] covers the candidate ids — files B and C (and the new
    // batch's own file, since newDocs came in as a DataFrame) contribute
    // zero bytes. Signature prep reads the doc_signatures table, not text.
    val docFiles = res.inputFiles.filter(_.contains("/documents/")).toSet
    assert(docFiles.size == 1,
      s"expected 1 candidate-covering corpus file, planned: $docFiles")
    // (The candidate subtree is cached inside the API, so its signature
    // scan is hidden behind an InMemoryRelation in res's optimized plan —
    // assert the store itself instead: one band file per appended batch,
    // served through the snapshot log.)
    val sigRead = Snapshots.read(spark, w, "doc_signatures")
    assert(sigRead.inputFiles.length >= 4 &&
      sigRead.inputFiles.forall(_.contains("/doc_signatures/")))
    assert(sigRead.count() == 33 * 16) // 33 docs × 16 bands
  }

  test("the signature table is a normal table: compaction doesn't change dedup results") {
    val w = wh("whSigComp")
    val batches = Seq((0 until 8).map(doc), (8 until 16).map(doc))
    batches.foreach { b =>
      pubDocs(w, b)
      SignatureStore.appendBatch(spark, w, toDf(b), "doc_id", "text")
    }
    // Bin-pack the band table (routine maintenance on a per-batch-append
    // table), then land a new batch and dedup through the compacted store.
    val res = graft.ingest.Compaction.compact(spark, w, "doc_signatures")
    assert(res.exists(_.filesBefore >= 2))
    val batch2 = Seq(2000L -> (doc(3)._2 + " zz"))
    pubDocs(w, batch2)
    SignatureStore.appendBatch(spark, w, toDf(batch2), "doc_id", "text")
    val s0 = spark
    import s0.implicits._
    val got = SignatureStore.incrementalNearDupPairs(
        spark, w, "documents", toDf(batch2), "doc_id", "text")
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(got == Set((3L, 2000L)))
  }

  test("new-vs-new only: no corpus endpoints means no corpus text read at all") {
    val w = wh("whNvN")
    val corpus = (0 until 5).map(doc)
    pubDocs(w, corpus)
    SignatureStore.appendBatch(spark, w, toDf(corpus), "doc_id", "text")
    // Two new docs that duplicate each other but nothing in the corpus.
    val batch2 = Seq(100L -> "q1 q2 q3 q4 q5 q6 q7 q8 q9 q10",
                     101L -> "q1 q2 q3 q4 q5 q6 q7 q8 q9 q10 zz")
    pubDocs(w, batch2)
    SignatureStore.appendBatch(spark, w, toDf(batch2), "doc_id", "text")
    val s0 = spark
    import s0.implicits._
    val res = SignatureStore.incrementalNearDupPairs(
      spark, w, "documents", toDf(batch2), "doc_id", "text")
    assert(res.select("doc_a", "doc_b").as[(Long, Long)].collect().toSet ==
      Set((100L, 101L)))
    assert(!res.inputFiles.exists(_.contains("/documents/")),
      "no corpus candidates → the documents table must not be planned")
  }

  test("syncFromChanges: a deleted doc's bands go, and it never pairs again") {
    val w = wh("whSync")
    val s0 = spark
    import s0.implicits._
    // Doc 7 is a near-dup of doc 100 (the later batch will re-introduce
    // that text); after doc 7 is deleted AND the sync runs, the new batch
    // must pair with nothing.
    val corpus = (0 until 10).map(doc)
    pubDocs(w, corpus)
    SignatureStore.appendBatch(spark, w, toDf(corpus), "doc_id", "text")
    val vSigned = Snapshots.latestVersion(fs, w).get
    graft.ingest.Merge.deleteWhereDv(spark, w, "documents",
      col("doc_id") === 7)
    SignatureStore.syncFromChanges(spark, w, "documents",
      fromExclusive = vSigned)
    assert(Snapshots.read(spark, w, "doc_signatures")
      .filter(col("doc_id") === 7).count() == 0,
      "deleted doc still has band rows")
    // New batch duplicating the DELETED doc's text: without the sync, the
    // stale bands would candidate-pair it with tombstoned doc 7.
    val batch2 = Seq(200L -> doc(7)._2)
    pubDocs(w, batch2)
    SignatureStore.appendBatch(spark, w, toDf(batch2), "doc_id", "text")
    val res = SignatureStore.incrementalNearDupPairs(
      spark, w, "documents", toDf(batch2), "doc_id", "text")
    assert(res.count() == 0, "a deleted doc resurfaced as a dedup endpoint")
  }

  test("an unstamped or other-kernel store is refused by append and by query, naming the key") {
    val corpus = (0 until 5).map(doc)
    val batch = Seq(100L -> (doc(1)._2 + " zz"))
    def refused(w: String, key: String): Unit = {
      val onAppend = intercept[IllegalArgumentException](
        SignatureStore.appendBatch(spark, w, toDf(batch), "doc_id", "text"))
      assert(onAppend.getMessage.contains(key), onAppend.getMessage)
      val onQuery = intercept[IllegalArgumentException](
        SignatureStore.incrementalNearDupPairs(spark, w, "documents",
          toDf(batch), "doc_id", "text").collect())
      assert(onQuery.getMessage.contains(key), onQuery.getMessage)
    }
    // Band rows committed with no build stamp (a store from before stamps).
    val unstamped = wh("whUnstamped")
    pubDocs(unstamped, corpus ++ batch)
    graft.streaming.StreamingOps.commitBatch(SignatureStore.bandRows(
      toDf(corpus ++ batch), "doc_id", "text", 64, 16), unstamped,
      "doc_signatures", 0L)
    refused(unstamped, "index.kind")
    // A store stamped by another signature kernel.
    val oldKernel = wh("whOldKernel")
    pubDocs(oldKernel, corpus ++ batch)
    SignatureStore.appendBatch(spark, oldKernel, toDf(corpus ++ batch),
      "doc_id", "text")
    Snapshots.setProperties(fs, oldKernel, "doc_signatures",
      Map("index.kernel" -> "1"))
    refused(oldKernel, "index.kernel")
    // An append under another banding scheme than the store's.
    val schemed = wh("whScheme")
    SignatureStore.appendBatch(spark, schemed, toDf(corpus), "doc_id", "text")
    val ex = intercept[IllegalArgumentException](SignatureStore.appendBatch(
      spark, schemed, toDf(batch), "doc_id", "text", numPerms = 32, numBands = 8))
    assert(ex.getMessage.contains("index.numBands"), ex.getMessage)
  }

  test("int ids at or above 2^30 pair through both incremental paths; string ids are refused") {
    val s0 = spark
    import s0.implicits._
    val base = 1L << 30
    val corpus = (0 until 10).map(i => (base + i) -> doc(i)._2)
    val batch = (0 until 3).map(i => (base + 100 + i) -> (doc(i)._2 + " zz"))
    def ints(rows: Seq[(Long, String)]): DataFrame =
      toDf(rows).select(col("doc_id").cast("int").as("doc_id"), col("text"))
    val want = (0 until 3).map(i => (base + i, base + 100 + i)).toSet
    def pairs(df: DataFrame): Set[(Long, Long)] =
      df.select(col("doc_a").cast("long"), col("doc_b").cast("long"))
        .as[(Long, Long)].collect().toSet
    assert(pairs(MinHash.incrementalNearDupPairs(ints(corpus ++ batch),
      ints(batch).select("doc_id"), "doc_id", "text")) == want)
    val w = wh("whIntIds")
    pubDf(w, ints(corpus))
    SignatureStore.appendBatch(spark, w, ints(corpus), "doc_id", "text")
    pubDf(w, ints(batch))
    SignatureStore.appendBatch(spark, w, ints(batch), "doc_id", "text")
    assert(pairs(SignatureStore.incrementalNearDupPairs(spark, w, "documents",
      ints(batch), "doc_id", "text")) == want)
    // Non-integral ids cannot ride the (id·2 + fresh) encoding: refused up
    // front, naming the column and its type.
    val strs = toDf(corpus ++ batch)
      .select(col("doc_id").cast("string").as("doc_id"), col("text"))
    val ex = intercept[IllegalArgumentException](MinHash.incrementalNearDupPairs(
      strs, strs.select("doc_id"), "doc_id", "text").collect())
    assert(ex.getMessage.contains("'doc_id' is string"), ex.getMessage)
  }
}
