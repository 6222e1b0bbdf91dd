package graft.bench

import scala.collection.mutable
import scala.util.Random
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.llmops.{IvfStore, LshStore, MinHash, SignatureStore, Similarity, TextOps}
import graft.operators.ConnectedComponents

/** The LLM-data half of the `lake` workload: a generated document corpus
  * with a known set of injected near-duplicate clusters, plus clustered
  * embedding vectors, committed into the lake's warehouse. Its operations
  * run full-corpus MinHash and SimHash near-dup detection, incremental dedup
  * of fresh batches through the persisted signature store (which grows),
  * connected components over the pairs, IVF / IVF-PQ / LSH top-k for
  * multi-query batches with `nprobe` below the cell count, and text cleaning
  * plus quality scoring. Per-row kernels, joins and iteration do their work.
  * Approximate results are gated on recall floors: the oracle cannot see
  * them, so the benchmark measures them. */
final class LlmData(spark: SparkSession, a: Main.Args) {
  import LlmData._

  private val sizes = if (a.smoke) Sizes(600, 30, 800, 60, 8) else
    Sizes(docs = 3000, clusters = 150, vectors = 4000, batch = 200, cells = 24)
  private var dir: String = _
  private var wh: String = _
  private var fs: FileSystem = _
  private var corpus: Corpus = _
  private var docsDf: DataFrame = _
  private var vecDf: DataFrame = _
  private var lastPairs: Seq[(Long, Long)] = Nil
  private var bytesTimed = 0L
  private var bytesTotal = 0L
  private var skewAtStart = -1L
  private val figures = mutable.Map[String, Double]().withDefaultValue(0.0)
  private val recall = mutable.Map[String, mutable.ArrayBuffer[Double]]()
  private var truth: Truth = _
  private var batches = 0

  /** The IVF-PQ index lives in a warehouse of its own: `buildPqIndex` appends
    * its coarse centroids to the same `ann_centroids` table `buildIndex`
    * writes, so the two indexes cannot share one warehouse. */
  private def pqWh = s"$dir/wh-pq"

  def setup(d: String): Unit = {
    dir = d; wh = s"$d/wh"
    fs = new Path(wh).getFileSystem(spark.sparkContext.hadoopConfiguration)
    import spark.implicits._
    corpus = generate(a.seed, sizes)
    val raw = s"$d/raw"
    corpus.docs.toDF("doc_id", "text").write.parquet(s"$raw/docs")
    corpus.vectors.toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
      .write.parquet(s"$raw/embeddings")
    bytesTotal = Workloads.duBytes(s"$raw/docs") + Workloads.duBytes(s"$raw/embeddings")
    docsDf = spark.read.parquet(s"$raw/docs").cache()
    vecDf = spark.read.parquet(s"$raw/embeddings").cache()
    Workloads.commit(fs, wh, "docs", docsDf.repartitionByRange(4, col("doc_id")))
    Workloads.commit(fs, wh, "embeddings", vecDf.repartitionByRange(4, col("vec_id")))
    Workloads.commit(fs, pqWh, "embeddings", vecDf.repartitionByRange(4, col("vec_id")))
    Main.log("llm: corpus and embeddings committed")
    SignatureStore.appendBatch(spark, wh, docsDf, "doc_id", "text")
    Main.log("llm: signature store built")
    IvfStore.buildIndex(spark, wh, vecDf, Dim, sizes.cells, targetFiles = 4)
    Main.log("llm: IVF index built")
    IvfStore.buildPqIndex(spark, pqWh, vecDf, Dim, sizes.cells, m = 8, ksub = 16, targetFiles = 4)
    Main.log("llm: IVF-PQ index built")
    LshStore.buildIndex(spark, wh, vecDf, Dim, numPlanes = 6, targetFiles = 4)
    Main.log("llm: LSH index built")
    truth = truthOf(spark, a.seed, sizes, corpus, vecDf)
  }

  private def pairsOf(df: DataFrame): Seq[(Long, Long)] =
    df.select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

  private def floorCheck(what: String, value: Double): Option[String] = {
    recall.getOrElseUpdate(what, mutable.ArrayBuffer()) += value
    val floor = if (Main.fault(a, "recall")) 1.01 else Floors(what)
    if (value >= floor) None else Some(f"$what recall $value%.3f below floor $floor%.2f")
  }

  /** Operation `kind`; `i` picks its query batch. */
  def op(kind: String, i: Int, clock: OpClock): Outcome = {
    import spark.implicits._
    kind match {
      case "minhash" =>
        val pairs = clock(Trace.span("llmops.minhash") {
          pairsOf(MinHash.nearDupPairs(docsDf, "doc_id", "text"))
        })
        lastPairs = pairs
        val r = truth.pairs.count(pairs.toSet.contains).toDouble / truth.pairs.size
        Outcome(kind, sizes.docs, floorCheck("minhash", r))
      case "simhash" =>
        val pairs = clock(Trace.span("llmops.simhash") {
          pairsOf(MinHash.simhashPairs(docsDf, "doc_id", "text"))
        })
        val r = truth.pairs.count(pairs.toSet.contains).toDouble / truth.pairs.size
        Outcome(kind, sizes.docs, floorCheck("simhash", r))
      case "incremental" =>
        val (batch, want) = freshBatch(a.seed, sizes, corpus, batches)
        batches += 1
        val batchDf = batch.toDF("doc_id", "text")
        val pairs = clock {
          Workloads.commit(fs, wh, "docs", batchDf.coalesce(1))
          Trace.span("llmops.signature_append") {
            SignatureStore.appendBatch(spark, wh, batchDf, "doc_id", "text")
          }
          Trace.span("llmops.incremental_dedup") {
            pairsOf(SignatureStore.incrementalNearDupPairs(spark, wh, "docs", batchDf,
              "doc_id", "text"))
          }
        }
        val handed = batch.map(d => 8L + d._2.getBytes("UTF-8").length).sum
        bytesTimed += handed
        bytesTotal += handed
        val r = want.count(pairs.toSet.contains).toDouble / want.size
        Outcome(kind, batch.size, floorCheck("incremental", r))
      case "cc" =>
        val edges = lastPairs.toDF("src", "dst")
        val got = clock(Trace.span("llmops.cc") {
          ConnectedComponents.run(edges).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        })
        val want = components(lastPairs)
        val wrong = if (Main.fault(a, "wrong")) want.take(1).map { case (k, v) => k -> (v + 1) }
          else Map.empty[Long, Long]
        Outcome(kind, lastPairs.size,
          if (got == want ++ wrong) None else Some(s"components differ on ${(got.toSet diff
            (want ++ wrong).toSet).size} nodes"))
      case "ivf" | "pq" | "lsh" =>
        val b = i % truth.queries.size
        val q = truth.queries(b)
        val got = clock(Trace.span(s"llmops.ann_topk_$kind") {
          (kind match {
            case "ivf" => IvfStore.topK(spark, wh, q, K, nprobe = 4)
            case "pq" => IvfStore.pqTopK(spark, pqWh, q, K, nprobe = 4)
            case "lsh" => LshStore.topK(spark, wh, q, K)
          }).select("q_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        })
        val want = truth.topK(b)
        Outcome(kind, QueriesPerBatch,
          floorCheck(kind, want.count(got.contains).toDouble / want.size).map(f =>
            s"$f (e.g. want ${want.sorted.take(3)}, got ${got.toSeq.sorted.take(3)})"))
      case "text" =>
        val (keep, emails, phones, left) = clock(Trace.span("llmops.text") {
          val scrubbed = TextOps.piiScrub(docsDf, "doc_id", "text").cache()
          val pii = scrubbed.agg(sum("n_emails"), sum("n_phones"),
            sum(when(col("clean_text").rlike(TextOps.EmailRe), 1).otherwise(0))).head()
          val kept = TextOps.qualityScore(scrubbed, "doc_id", "clean_text")
            .filter(col("keep")).count()
          scrubbed.unpersist()
          (kept, pii.getLong(0), pii.getLong(1), pii.getLong(2))
        })
        val want = (corpus.clean, corpus.emails, corpus.phones, 0L)
        val got = (keep + (if (Main.fault(a, "wrong")) 1 else 0), emails, phones, left)
        Outcome(kind, sizes.docs, if (got == want) None else Some(s"text ops $got != $want"))
    }
  }

  def probe(kind: String): Unit = {
    if (skewAtStart < 0) skewAtStart = Similarity.skewGuardDropped(spark)._2
    kind match {
      case "minhash" =>
        val cand = MinHash.candidates(MinHash.bands(
          MinHash.withSignatures(docsDf, "doc_id", "text", 64).select("doc_id", "sig"), 64, 16))
          .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
        figures("candidates") += cand.length
        figures("candidate_true") += cand.count(truth.pairSet.contains)
        figures("minhash_probes") += 1
        Trace.span("functions.shingle_sig") {
          MinHash.withSignatures(docsDf, "doc_id", "text", 64)
            .agg(sum(xxhash64(col("sig")))).head()
        }
      case "ivf" =>
        Trace.span("functions.cosine") {
          vecDf.crossJoin(broadcast(truth.queries(0).select(col("embedding").as("q"))))
            .agg(max(Similarity.cosine(col("embedding"), col("q")))).head()
        }
      case _ =>
    }
  }

  def inputs: Map[String, Long] = Map(
    "docs" -> sizes.docs.toLong, "vectors" -> sizes.vectors.toLong,
    "near_dup_pairs" -> truth.pairs.size.toLong,
    "queries" -> (QueryBatches * QueriesPerBatch).toLong)

  def userBytesTimed: Long = bytesTimed
  def userBytesTotal: Long = bytesTotal
  def pqWarehouse: String = pqWh
  def digests: Seq[(String, String)] = Seq(
    "docs" -> Workloads.rowsDigest(corpus.docs.iterator),
    "vectors" -> Workloads.rowsDigest(corpus.vectors.iterator),
    "batch_0" -> Workloads.rowsDigest(freshBatch(a.seed, sizes, corpus, 0)._1.iterator))

  def layerFigures: Map[String, Double] = {
    def mean(k: String) = recall.get(k).filter(_.nonEmpty).map(v => v.sum / v.size).getOrElse(0.0)
    val c = figures("candidates")
    Map(
      "llmops.candidate_pairs" -> c / math.max(1.0, figures("minhash_probes")),
      "llmops.pair_precision" -> (if (c > 0) figures("candidate_true") / c else 0.0),
      "llmops.near_dup_recall" -> mean("minhash"),
      "llmops.incremental_recall" -> mean("incremental"),
      "llmops.simhash_recall" -> mean("simhash"),
      "llmops.ann_recall_at_k_ivf" -> mean("ivf"),
      "llmops.ann_recall_at_k_pq" -> mean("pq"),
      "llmops.ann_recall_at_k_lsh" -> mean("lsh"),
      "llmops.ann_recall_at_k" -> Seq("ivf", "pq", "lsh").map(mean).min,
      "llmops.skew_guard_dropped" ->
        (if (skewAtStart < 0) 0.0 else (Similarity.skewGuardDropped(spark)._2 - skewAtStart).toDouble))
  }
}

object LlmData {
  final case class Sizes(docs: Int, clusters: Int, vectors: Int, batch: Int, cells: Int)

  val Kinds: Seq[String] = Seq("minhash", "simhash", "incremental", "cc", "ivf", "pq", "lsh", "text")
  val Dim = 32
  val K = 10
  val QueryBatches = 8
  val QueriesPerBatch = 16

  /** Recall floors the approximate operators must meet. */
  val Floors: Map[String, Double] = Map("minhash" -> 0.9, "incremental" -> 0.9,
    "simhash" -> 0.3, "ivf" -> 0.9, "pq" -> 0.4, "lsh" -> 0.5)

  final case class Corpus(docs: IndexedSeq[(Long, String)], vectors: IndexedSeq[(Long, Array[Float])],
                          pairs: Seq[(Long, Long)], clean: Long, emails: Long, phones: Long,
                          vocab: IndexedSeq[String])

  private def vocabulary(rnd: Random): IndexedSeq[String] =
    IndexedSeq.fill(4000)(Iterator.fill(3 + rnd.nextInt(6))(('a' + rnd.nextInt(26)).toChar).mkString)

  private def words(rnd: Random, vocab: IndexedSeq[String], n: Int): Array[String] =
    Array.fill(n) { val u = rnd.nextDouble(); vocab((u * u * vocab.size).toInt) }

  /** A near-duplicate: one or two token substitutions. */
  private def variant(rnd: Random, vocab: IndexedSeq[String], toks: Array[String]): Array[String] = {
    val t = toks.clone()
    (0 until 1 + rnd.nextInt(2)).foreach(_ => t(rnd.nextInt(t.length)) = vocab(rnd.nextInt(vocab.size)))
    t
  }

  def generate(seed: Long, s: Sizes): Corpus = {
    val rnd = new Random(seed)
    val vocab = vocabulary(rnd)
    var emails = 0L
    var phones = 0L
    var junk = 0L
    val docs = mutable.ArrayBuffer[(Long, String)]()
    val pairs = mutable.ArrayBuffer[(Long, Long)]()
    val bases = s.docs - 2 * s.clusters
    (0 until bases).foreach { i =>
      val toks = words(rnd, vocab, 50 + rnd.nextInt(60))
      // Cluster bases (the first `clusters` docs) stay clean so their
      // variants do not change the PII and quality expectations.
      (if (i < s.clusters) 4 else rnd.nextInt(20)) match {
        case 0 => toks(rnd.nextInt(toks.length)) = s"user${rnd.nextInt(99999)}@example.com"; emails += 1
        case 1 => toks(rnd.nextInt(toks.length)) = f"555-${rnd.nextInt(1000)}%03d-${rnd.nextInt(10000)}%04d"
          phones += 1
        case 2 | 3 => (0 until toks.length by 2).foreach(j => toks(j) = f"${10000 + rnd.nextInt(90000)}")
          junk += 1
        case _ =>
      }
      docs += i.toLong -> toks.mkString(" ")
    }
    // Near-duplicate clusters: each base doc i < clusters gains up to two
    // variants, appended after the bases.
    var next = bases.toLong
    (0 until s.clusters).foreach { c =>
      val base = docs(c)._2.split(" ")
      val members = mutable.ArrayBuffer(c.toLong)
      (0 until 2).foreach { _ =>
        docs += next -> variant(rnd, vocab, base).mkString(" ")
        members += next
        next += 1
      }
      for (x <- members; y <- members if x < y) pairs += x -> y
    }
    val centers = Array.fill(48)(Array.fill(Dim)(rnd.nextGaussian().toFloat))
    val vectors = IndexedSeq.tabulate(s.vectors) { v =>
      val c = centers(rnd.nextInt(centers.length))
      v.toLong -> c.map(x => x + 0.35f * rnd.nextGaussian().toFloat)
    }
    Corpus(docs.toIndexedSeq, vectors, pairs.toSeq, docs.size - junk, emails, phones, vocab)
  }

  /** Fresh batch for operation `i`: new documents, a tenth of them variants
    * of corpus documents. Returns the batch and the (corpus, new) pairs it
    * must surface. */
  def freshBatch(seed: Long, s: Sizes, c: Corpus, i: Int): (Seq[(Long, String)], Seq[(Long, Long)]) = {
    val rnd = new Random(seed * 31 + i)
    val first = 1000000L + i.toLong * s.batch
    val want = mutable.ArrayBuffer[(Long, Long)]()
    val docs = (0 until s.batch).map { j =>
      val id = first + j
      if (j % 10 == 0) {
        val src = rnd.nextInt(s.docs - 2 * s.clusters).toLong
        want += src -> id
        id -> variant(rnd, c.vocab, c.docs(src.toInt)._2.split(" ")).mkString(" ")
      } else id -> words(rnd, c.vocab, 50 + rnd.nextInt(60)).mkString(" ")
    }
    (docs, want.toSeq)
  }

  def components(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (x, y) =>
      val (a, b) = (find(x), find(y))
      if (a != b) parent(math.max(a, b)) = math.min(a, b)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  final case class Truth(pairs: Seq[(Long, Long)], pairSet: Set[(Long, Long)],
                         queries: IndexedSeq[DataFrame], topK: IndexedSeq[Seq[(Long, Long)]])

  /** Query batches (noisy copies of corpus vectors) and their exact top-k
    * from `Similarity.bruteForceTopK`. */
  def truthOf(spark: SparkSession, seed: Long, s: Sizes, c: Corpus, vecs: DataFrame): Truth = {
    import spark.implicits._
    val rnd = new Random(seed ^ 0xa11L)
    val qs = (0 until QueryBatches * QueriesPerBatch).map { j =>
      (2000000L + j) -> c.vectors(rnd.nextInt(s.vectors))._2.map(x => x + 0.2f * rnd.nextGaussian().toFloat)
    }
    val all = qs.toDF("vec_id", "embedding").withColumn("embedding", col("embedding").cast("array<float>"))
    val top = Similarity.bruteForceTopK(all, vecs, K).select("q_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val exact = qs.grouped(QueriesPerBatch).map { b =>
      val ids = b.map(_._1).toSet
      top.filter(p => ids.contains(p._1)).toSeq
    }.toIndexedSeq
    val queries = qs.grouped(QueriesPerBatch).map(b => b.toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>")).cache()).toIndexedSeq
    Truth(c.pairs, c.pairs.toSet, queries, exact)
  }
}
