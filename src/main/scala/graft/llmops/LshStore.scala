package graft.llmops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ingest.Snapshots

/** Persisted LSH ANN index — the [[IvfStore]] pattern for the hyperplane
  * family. The bucket function is deterministic (pseudo-random planes
  * derived from dim/numPlanes, no trained model), so what the store buys is
  * not avoided training but avoided SCANNING: bucket rows
  * (bucket, vec_id, embedding) are snapshot-committed range-clustered by
  * bucket, and a query reads only the index files whose log-side [min,max]
  * on `bucket` overlap its probed buckets — a multi-probe query over a
  * 100 TB corpus touches a handful of files, the corpus table none.
  *
  * The hashing parameters (dim, numPlanes) ride the bucket table's build
  * stamp ([[DerivedIndex]]) so appends and queries provably use the index's
  * own scheme — mixing bucket functions would silently zero recall.
  */
object LshStore {

  val BucketTable = "ann_lsh_buckets"

  case class Params(dim: Int, numPlanes: Int) {
    private[llmops] def stamp: DerivedIndex.Stamp =
      DerivedIndex.stamp("lsh", "dim" -> dim, "numPlanes" -> numPlanes)
  }

  private val Buckets = DerivedIndex.Postings(BucketTable, "vec_id", "bucket",
    DerivedIndex.stamp("lsh"))

  private def bucketRows(vecs: DataFrame, p: Params, idCol: String,
                         vecCol: String, targetFiles: Int): DataFrame =
    vecs.select(col(idCol).as("vec_id"), col(vecCol).as("embedding"))
      .withColumn("bucket",
        Similarity.lshBucket(col("embedding"), p.dim, p.numPlanes))
      // Range-by-bucket layout: each file covers a contiguous bucket
      // interval, which is what makes the log's [min,max] stats selective.
      .repartitionByRange(math.max(1, targetFiles), col("bucket"), col("vec_id"))

  /** Bucket `corpus` and commit the index: one range-by-bucket
    * `ann_lsh_buckets` commit stamped with the hashing params, replacing
    * any index already there. */
  def buildIndex(spark: SparkSession, warehouse: String, corpus: DataFrame,
                 dim: Int, numPlanes: Int = 8, targetFiles: Int = 8,
                 idCol: String = "vec_id", vecCol: String = "embedding"): Params = {
    val p = Params(dim, numPlanes)
    DerivedIndex.write(spark, warehouse, Seq((BucketTable, p.stamp,
      bucketRows(corpus, p, idCol, vecCol, targetFiles))), replace = true)
    p
  }

  /** The index's hashing params, from its build stamp — a log read, no
    * Spark job. */
  def loadParams(spark: SparkSession, warehouse: String): Params = {
    val st = DerivedIndex.check(DerivedIndex.fsOf(spark, warehouse), warehouse,
      BucketTable, Buckets.build)
    Params(DerivedIndex.param(st, "dim"), DerivedIndex.param(st, "numPlanes"))
  }

  /** Bucket a new batch under the PERSISTED params and append — O(new),
    * typically fed by the change feed since the last indexed version. */
  def appendBatch(spark: SparkSession, warehouse: String, newVecs: DataFrame,
                  idCol: String = "vec_id", vecCol: String = "embedding",
                  targetFiles: Int = 1): Params = {
    val p = loadParams(spark, warehouse)
    DerivedIndex.write(spark, warehouse, Seq((BucketTable, p.stamp,
      bucketRows(newVecs, p, idCol, vecCol, targetFiles))))
    p
  }

  /** Bin-pack + re-cluster the bucket table ([[DerivedIndex.compact]]):
    * re-establishes the range-by-bucket layout that probed-bucket pruning
    * depends on after many one-file appends. */
  def compactIndex(spark: SparkSession, warehouse: String,
                   targetBytes: Long = 128L * 1024 * 1024)
      : Option[graft.ingest.Compaction.Result] =
    DerivedIndex.compact(spark, warehouse, Buckets, targetBytes)

  /** Propagate corpus DML into the index ([[DerivedIndex.sync]]): changed
    * ids' postings are vector-deleted, surviving rows re-bucketed under
    * the persisted params and appended. */
  def syncFromChanges(spark: SparkSession, warehouse: String,
                      corpusTable: String, fromExclusive: Long,
                      idCol: String = "vec_id", vecCol: String = "embedding",
                      targetFiles: Int = 1): Params =
    DerivedIndex.sync(spark, warehouse, Buckets, corpusTable, fromExclusive,
        idCol, vecCol)(appendBatch(spark, warehouse, _, idCol, vecCol,
        targetFiles))
      .getOrElse(loadParams(spark, warehouse))

  /** ANN top-k through the warm store: probed bucket ids (≤ |queries| ×
    * (numPlanes+1) longs, collected — bounded driver traffic) drive
    * log-side file skipping over the index; the corpus table contributes
    * zero bytes. `probeAll` scans every bucket → exact top-k (the
    * oracle-checkable configuration, ≡ brute force). `maxBucket` drops
    * oversized buckets (skew guard) except under `probeAll`. */
  def topK(spark: SparkSession, warehouse: String, queries: DataFrame, k: Int,
           multiProbe: Boolean = true, probeAll: Boolean = false,
           maxBucket: Int = 100000,
           idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val p = loadParams(spark, warehouse)
    val qBase = queries
      .select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
      .withColumn("b0", Similarity.lshBucket(col("q_vec"), p.dim, p.numPlanes))
    val qb =
      if (probeAll)
        qBase.select(col("q_id"), col("q_vec"),
          explode(sequence(lit(0L), lit((1L << p.numPlanes) - 1L))).as("bucket"))
      else if (multiProbe)
        qBase.select(col("q_id"), col("q_vec"), explode(expr(
          s"array_union(array(b0), transform(sequence(0, ${p.numPlanes - 1}), " +
            "i -> CAST(b0 AS BIGINT) ^ shiftleft(CAST(1 AS BIGINT), i)))")).as("bucket"))
      else qBase.select(col("q_id"), col("q_vec"), col("b0").as("bucket"))
    val indexed =
      if (probeAll) Snapshots.read(spark, warehouse, BucketTable)
      else {
        val probed = qb.select("bucket").distinct()
          .collect().map(_.getLong(0)).sorted
        Similarity.dropLargeBuckets(
          DerivedIndex.probe(spark, warehouse, Buckets, probed.toSeq),
          Seq("bucket"), maxBucket)
      }
    val scored = broadcast(qb).join(indexed, Seq("bucket"))
      .filter(col("q_id") =!= col("vec_id"))
      .withColumn("sim",
        round(Similarity.cosine(col("q_vec"), col("embedding")), 4))
    val w = Window.partitionBy("q_id").orderBy(col("sim").desc, col("vec_id"))
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("vec_id"), col("sim"), col("rnk"))
  }
}
