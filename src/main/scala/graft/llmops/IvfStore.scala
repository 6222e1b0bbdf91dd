package graft.llmops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.VectorExprs
import graft.ingest.{FileStats, Snapshot, Snapshots}

/** Persisted IVF index: the [[SignatureStore]] pattern applied to ANN.
  *
  * [[Ivf]] alone trains per session — the centroid model lives in a JVM
  * cache and the corpus is re-assigned on every cold start. At 100 TB an
  * index must be a TABLE: here the trained model and the per-vector cell
  * assignments are snapshot-committed through the [[DerivedIndex]] writer
  * (the data's own stage/commit/publish protocol), stamped with their
  * dim/k, so
  *
  *   1. a new session loads k×dim floats from the `ann_centroids` table —
  *      no re-train, no corpus pass;
  *   2. new ingest batches are assigned against those centroids and their
  *      (vec_id, cell, embedding) rows APPENDED to `ann_cells` — O(new)
  *      work, typically fed by [[Snapshots.changes]] over the corpus table;
  *   3. a query reads ONLY the `ann_cells` files whose log-side
  *      [min,max] on `cell` overlap its probed cells — the corpus table
  *      contributes zero bytes, and with the range-by-cell file layout a
  *      low-nprobe query skips most of the index too.
  *
  * The index stores the vectors alongside the assignment (what an IVF
  * posting list is), so search never rejoins the corpus.
  */
object IvfStore {

  import DerivedIndex.Stamp

  val CentroidTable = "ann_centroids"
  val CellTable = "ann_cells"
  val PqCodebookTable = "ann_pq_codebooks"
  val PqCellTable = "ann_cells_pq"

  private val Flat = DerivedIndex.Postings(CellTable, "vec_id", "cell",
    DerivedIndex.stamp("ivf"))
  private val Coded = DerivedIndex.Postings(PqCellTable, "vec_id", "cell",
    DerivedIndex.stamp("ivf_pq"))

  /** Stamp of the coarse quantizer and the flat postings assigned under
    * it; the PQ tables add the product quantizer's shape. */
  private def coarseStamp(c: Ivf.Model): Stamp =
    DerivedIndex.stamp("ivf", "dim" -> c.dim, "k" -> c.k)
  private def pqStamp(c: Ivf.Model, pq: Pq.Model): Stamp =
    DerivedIndex.stamp("ivf_pq", "dim" -> c.dim, "k" -> c.k, "m" -> pq.m,
      "ksub" -> pq.ksub)

  private def vectors(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol).as("vec_id"), col(vecCol).as("embedding"))

  /** Cell rows of `vecs` (vec_id, embedding) under `model`, range-clustered
    * by cell so each parquet file covers a contiguous cell interval — that
    * is what makes the log's [min,max] stats on `cell` selective at query
    * time. */
  private def cellRows(vecs: DataFrame, model: Ivf.Model,
                       targetFiles: Int): DataFrame =
    Ivf.assign(vecs, model)
      .repartitionByRange(math.max(1, targetFiles), col("cell"), col("vec_id"))

  /** PQ posting rows: (vec_id, cell, m-byte code), range-clustered by cell
    * like [[cellRows]]. */
  private def codeRows(vecs: DataFrame, coarse: Ivf.Model, pq: Pq.Model,
                       targetFiles: Int): DataFrame =
    Ivf.assign(vecs, coarse)
      .withColumn("pq_code", Pq.encodeCol(col("embedding"), pq))
      .select("vec_id", "cell", "pq_code")
      .repartitionByRange(math.max(1, targetFiles), col("cell"), col("vec_id"))

  private val floats = ArrayType(FloatType, containsNull = false)

  /** The coarse model as `ann_centroids` rows: (cell, centroid). */
  private def centroidRows(spark: SparkSession, model: Ivf.Model): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
        model.centroids.zipWithIndex.map { case (c, i) => Row(i, c.toSeq) }
          .toSeq, 1),
      StructType(Seq(StructField("cell", IntegerType, nullable = false),
        StructField("centroid", floats, nullable = false))))

  /** The product quantizer as `ann_pq_codebooks` rows. */
  private def codebookRows(spark: SparkSession, pq: Pq.Model): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
        for (j <- 0 until pq.m; k0 <- 0 until pq.ksub) yield Row(j, k0,
          (0 until pq.dsub).map(i => pq.codebooks((j * pq.ksub + k0) * pq.dsub + i))),
        1),
      StructType(Seq(StructField("subspace", IntegerType, nullable = false),
        StructField("code", IntegerType, nullable = false),
        StructField("centroid", floats, nullable = false))))

  /** Train on `corpus` and commit the index — the empty-history case of
    * [[rebuild]]: one commit of `ann_centroids` (k rows of cell +
    * centroid) and `ann_cells` (the corpus assignment), stamped with
    * dim/k. Training itself is [[Ivf.train]] — one shuffle-free
    * treeAggregate per Lloyd step; only model parameters reach the driver.
    * `targetFiles` spreads `ann_cells` over that many range-by-cell files
    * (size for ~128 MB files at the real corpus; tests use small values to
    * exercise pruning). */
  def buildIndex(spark: SparkSession, warehouse: String, corpus: DataFrame,
                 dim: Int, k: Int, iters: Int = 2, targetFiles: Int = 8,
                 idCol: String = "vec_id", vecCol: String = "embedding"): Ivf.Model =
    rebuild(spark, warehouse, corpus, dim, k, iters, targetFiles, idCol, vecCol)

  /** Load the committed model: k×dim floats from the centroid table —
    * model parameters, not data, so the collect is bounded by k at any
    * corpus scale. Refused unless the table holds exactly the stamped
    * model. */
  def loadModel(spark: SparkSession, warehouse: String): Ivf.Model =
    loadModel(spark, Snapshots.snapshot(spark, warehouse))

  private def loadModel(spark: SparkSession, snap: Snapshot): Ivf.Model = {
    val st = DerivedIndex.check(snap, CentroidTable, Flat.build)
    val model = Ivf.Model(snap.read(spark, CentroidTable)
      .select("cell", "centroid").collect().sortBy(_.getInt(0))
      .map(_.getAs[scala.collection.Seq[Float]](1).toArray))
    DerivedIndex.agree(CentroidTable, st, coarseStamp(model))
    model
  }

  /** [[loadModel]], checked against the flat postings' stamp. */
  private def flatModel(spark: SparkSession, snap: Snapshot): Ivf.Model = {
    val model = loadModel(spark, snap)
    DerivedIndex.check(snap, CellTable, coarseStamp(model))
    model
  }

  /** Assign a new batch against the PERSISTED centroids (no re-train, no
    * corpus pass) and append its cell rows to `ann_cells` as one commit.
    * Feed with the change feed since the last indexed version:
    * `appendBatch(s, wh, Snapshots.changes(s, wh, "embeddings", from))`. */
  def appendBatch(spark: SparkSession, warehouse: String, newVecs: DataFrame,
                  idCol: String = "vec_id", vecCol: String = "embedding",
                  targetFiles: Int = 1): Ivf.Model = {
    val snap = Snapshots.snapshot(spark, warehouse)
    val model = loadModel(spark, snap)
    DerivedIndex.write(snap, Seq((CellTable, coarseStamp(model),
      cellRows(vectors(newVecs, idCol, vecCol), model, targetFiles))))
    model
  }

  /** Streaming dual of [[appendBatch]] (the [[SignatureStore
    * .streamingIncrementalDedup]] pattern): each micro-batch of vectors is
    * (1) committed to `corpusTable` and (2) assigned under the PERSISTED
    * centroids and appended to `ann_cells` — both batchId-keyed snapshot
    * commits ([[graft.streaming.StreamingOps.commitBatch]]), so corpus and
    * index stay exactly-once consistent under crash replays. Requires a
    * built store; per-trigger cost is O(batch). */
  def streamingAppend(vecs: DataFrame, warehouse: String,
                      checkpointDir: String,
                      idCol: String = "vec_id", vecCol: String = "embedding",
                      corpusTable: String = "embeddings",
                      trigger: org.apache.spark.sql.streaming.Trigger =
                        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.streaming.StreamingOps.commitBatch
    vecs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // The batch feeds two commits — pin it once.
        val b = batch.localCheckpoint(true)
        commitBatch(b.select(col(idCol), col(vecCol)), warehouse,
          corpusTable, batchId)
        val model = flatModel(b.sparkSession,
          Snapshots.snapshot(b.sparkSession, warehouse))
        commitBatch(cellRows(vectors(b, idCol, vecCol), model, targetFiles = 1),
          warehouse, CellTable, batchId)
        ()
      }
      .trigger(trigger)
      .start()
  }

  /** Re-train and atomically swap the WHOLE index — the answer to centroid
    * drift: after heavy appends the committed centroids no longer describe
    * the corpus and recall decays, because [[appendBatch]] deliberately
    * assigns under the frozen model. `rebuild` trains fresh centroids on
    * the current corpus and replaces BOTH tables in ONE log version:
    * new `ann_centroids` + `ann_cells` files added, every old file of both
    * logically removed, one manifest, one commit. A reader pinned to any
    * version therefore always sees a centroid set and a cell assignment
    * produced by the SAME training run — never new centroids over old
    * assignments (whose `cell` ids would be meaningless).
    *
    * OCC is table-granular over the two index tables: a concurrent
    * [[appendBatch]] (its rows were assigned under the OLD centroids and
    * would be orphaned by the swap) aborts this commit; commits to other
    * tables — the corpus included — do not. Old files stay on disk for
    * time travel until [[graft.ingest.Snapshots.vacuum]].
    *
    * The op tag is `merge` WITHOUT change files: a change-feed consumer
    * tailing the index tables across a rebuild fails fast instead of
    * seeing the whole re-assignment as inserts (the assignments are not
    * row-level changes of the old index — they are a new model). With
    * nothing to replace — [[buildIndex]] — it is a plain append. */
  def rebuild(spark: SparkSession, warehouse: String, corpus: DataFrame,
              dim: Int, k: Int, iters: Int = 2, targetFiles: Int = 8,
              idCol: String = "vec_id", vecCol: String = "embedding"): Ivf.Model = {
    // The mirror of [[rebuildPq]]'s shared-centroid rule: a PQ posting
    // table in this warehouse references the swapped centroids' cell ids
    // through the same `ann_centroids` — refuse rather than silently
    // orphan it (rebuildPq re-assigns BOTH flavors atomically). The check
    // and the swap's OCC base come from one snapshot.
    val snap = Snapshots.snapshot(spark, warehouse)
    require(snap.files(PqCellTable).isEmpty,
      s"this warehouse also hosts $PqCellTable, whose codes/cells reference " +
        "the shared centroids — use rebuildPq, which swaps both index " +
        "flavors in one commit")
    val vecs = vectors(corpus, idCol, vecCol)
    val model = Ivf.train(vecs, dim, k, iters)
    val st = coarseStamp(model)
    DerivedIndex.write(snap, Seq(
      (CentroidTable, st, centroidRows(spark, model)),
      (CellTable, st, cellRows(vecs, model, targetFiles))), replace = true)
    model
  }

  /** Bin-pack + re-cluster the posting table by cell
    * ([[DerivedIndex.compact]]): many [[appendBatch]] commits leave one
    * small file each, and a late append covers the full cell range, so
    * probed-cell stats stop skipping it until the layout is restored. */
  def compactIndex(spark: SparkSession, warehouse: String,
                   targetBytes: Long = 128L * 1024 * 1024)
      : Option[graft.ingest.Compaction.Result] =
    DerivedIndex.compact(spark, warehouse, Flat, targetBytes)

  /** Propagate corpus DML into the index — the maintenance half of the
    * append-only [[appendBatch]] contract. Without it a
    * [[graft.ingest.Merge.deleteWhereDv]] on the corpus leaves stale
    * postings in `ann_cells` and ANN hits can cite vectored-out rows.
    * [[DerivedIndex.sync]] over the corpus change feed since
    * `fromExclusive` (the last version the index reflects): changed ids'
    * postings are vector-deleted ON THE INDEX TABLE (merge-on-read, the
    * DV-aware read every query takes subtracts them; O(changed keys)), and
    * surviving rows are assigned against the persisted centroids and
    * appended — [[appendBatch]], O(new). */
  def syncFromChanges(spark: SparkSession, warehouse: String,
                      corpusTable: String, fromExclusive: Long,
                      idCol: String = "vec_id", vecCol: String = "embedding",
                      targetFiles: Int = 1): Ivf.Model =
    DerivedIndex.sync(spark, warehouse, Flat, corpusTable, fromExclusive,
        idCol, vecCol)(appendBatch(spark, warehouse, _, idCol, vecCol,
        targetFiles))
      .getOrElse(loadModel(spark, warehouse))

  // ------------------------------------------------------------- IVF-PQ

  /** Train coarse + product quantizers and commit the PQ index in ONE log
    * version — the empty-history case of [[rebuildPq]]: `ann_centroids`
    * (coarse model), `ann_pq_codebooks` (m×ksub sub-centroids), and
    * `ann_cells_pq` — the posting table holding (vec_id, cell, m-BYTE
    * code), range-clustered by cell like `ann_cells` but ~(4·dim/m)×
    * smaller because it stores CODES, not vectors. At 100 TB that factor
    * (32× at dim=64, m=8) is what keeps the scannable index in page cache;
    * full vectors stay only in the corpus table and are touched per-query
    * for the SHORTLIST re-rank alone ([[pqTopK]]). A flat index already in
    * the warehouse shares `ann_centroids` and is re-assigned in the same
    * commit. */
  def buildPqIndex(spark: SparkSession, warehouse: String, corpus: DataFrame,
                   dim: Int, k: Int, m: Int, ksub: Int, iters: Int = 2,
                   targetFiles: Int = 8, idCol: String = "vec_id",
                   vecCol: String = "embedding"): (Ivf.Model, Pq.Model) =
    rebuildPq(spark, warehouse, corpus, dim, k, m, ksub, iters, targetFiles,
      idCol, vecCol)

  /** Codebook rows (kind, subspace, code, centroid) → the PQ model. */
  private def pqModelOf(rows: Array[Row]): Pq.Model = {
    val m = rows.map(_.getInt(1)).max + 1
    val ksub = rows.map(_.getInt(2)).max + 1
    val dsub = rows.head.getAs[scala.collection.Seq[Float]](3).length
    val flat = new Array[Float](m * ksub * dsub)
    rows.foreach { r =>
      val off = (r.getInt(1) * ksub + r.getInt(2)) * dsub
      val c = r.getAs[scala.collection.Seq[Float]](3)
      var i = 0
      while (i < dsub) { flat(off + i) = c(i); i += 1 }
    }
    Pq.Model(m * dsub, m, ksub, flat)
  }

  /** Coarse + PQ models in ONE collect: both tables are a handful of
    * model-parameter rows, and a serving query pays driver-job latency per
    * action — two separate loads were two jobs for data that unions into
    * one aligned projection. Refused unless both match the PQ stamp. */
  private def loadModels(spark: SparkSession,
                         snap: Snapshot): (Ivf.Model, Pq.Model) = {
    val st = DerivedIndex.check(snap, PqCellTable, Coded.build)
    val cent = snap.read(spark, CentroidTable)
      .select(lit(0).as("kind"), col("cell").as("i"), lit(0).as("j"),
        col("centroid"))
    val cbs = snap.read(spark, PqCodebookTable)
      .select(lit(1).as("kind"), col("subspace").as("i"), col("code").as("j"),
        col("centroid"))
    val (centRows, cbRows) = cent.unionByName(cbs).collect()
      .partition(_.getInt(0) == 0)
    require(centRows.nonEmpty && cbRows.nonEmpty,
      s"$CentroidTable or $PqCodebookTable is empty under ${snap.warehouse}")
    val coarse = Ivf.Model(centRows.sortBy(_.getInt(1))
      .map(_.getAs[scala.collection.Seq[Float]](3).toArray))
    val pq = pqModelOf(cbRows)
    DerivedIndex.agree(PqCellTable, st, pqStamp(coarse, pq))
    (coarse, pq)
  }

  /** Append a new batch to the PQ posting table under the persisted
    * models — O(new), the [[appendBatch]] dual. */
  def appendPqBatch(spark: SparkSession, warehouse: String, newVecs: DataFrame,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    targetFiles: Int = 1): Unit = {
    val snap = Snapshots.snapshot(spark, warehouse)
    val (coarse, pq) = loadModels(spark, snap)
    DerivedIndex.write(snap, Seq((PqCellTable, pqStamp(coarse, pq),
      codeRows(vectors(newVecs, idCol, vecCol), coarse, pq, targetFiles))))
  }

  /** Corpus-DML propagation for the PQ posting table — [[syncFromChanges]]
    * for codes: deleted/updated ids' postings are vector-deleted (queries'
    * DV-aware reads subtract them), new/updated vectors are re-encoded
    * under the PERSISTED models and appended. */
  def syncPqFromChanges(spark: SparkSession, warehouse: String,
                        corpusTable: String, fromExclusive: Long,
                        idCol: String = "vec_id", vecCol: String = "embedding",
                        targetFiles: Int = 1): Unit =
    DerivedIndex.sync(spark, warehouse, Coded, corpusTable, fromExclusive,
      idCol, vecCol)(appendPqBatch(spark, warehouse, _, idCol, vecCol,
      targetFiles))

  /** Re-train coarse + product quantizers and atomically swap ALL THREE
    * PQ-index tables in one log version — the [[rebuild]] dual. Codes are
    * meaningful only under the codebooks that produced them, so readers
    * must never see new codebooks over old postings (or vice versa);
    * table-granular OCC aborts a concurrent [[appendPqBatch]] whose rows
    * were encoded under the old models. */
  def rebuildPq(spark: SparkSession, warehouse: String, corpus: DataFrame,
                dim: Int, k: Int, m: Int, ksub: Int, iters: Int = 2,
                targetFiles: Int = 8, idCol: String = "vec_id",
                vecCol: String = "embedding"): (Ivf.Model, Pq.Model) = {
    // `ann_centroids` is SHARED with the flat index: when this warehouse
    // also hosts `ann_cells`, its assignments reference the centroids
    // being swapped — re-assign it under the new model in the SAME
    // commit, or a reader would see new centroids over old cell ids.
    val snap = Snapshots.snapshot(spark, warehouse)
    val hasFlat = snap.files(CellTable).nonEmpty
    val vecs = vectors(corpus, idCol, vecCol)
    val coarse = Ivf.train(vecs, dim, k, iters)
    val pq = Pq.train(vecs, dim, m, ksub, iters)
    val (cs, ps) = (coarseStamp(coarse), pqStamp(coarse, pq))
    DerivedIndex.write(snap, Seq(
      (CentroidTable, cs, centroidRows(spark, coarse)),
      (PqCodebookTable, ps, codebookRows(spark, pq)),
      (PqCellTable, ps, codeRows(vecs, coarse, pq, targetFiles))) ++
      (if (hasFlat) Seq((CellTable, cs, cellRows(vecs, coarse, targetFiles)))
       else Nil),
      replace = true)
    (coarse, pq)
  }

  /** Shortlist ids above this count skip the corpus point-prune filter
    * (the re-rank join still runs; it just scans more files) — the same
    * bounded-driver-collect stance as [[graft.ingest.Merge]]'s key cap. */
  private val MaxRerankPruneIds = 4096

  /** IVF-PQ top-k: probe `nprobe` cells, score ALL candidates from their
    * m-byte codes (asymmetric cosine — the corpus contributes zero bytes
    * here), keep the best `k·refine` per query, then re-rank that
    * shortlist against true vectors from `corpusTable` and return the
    * exact-scored top-k. The re-rank read is POINT-PRUNED: the shortlist
    * ids (≤ |queries|·k·refine, driver-bounded) become equality leaves,
    * so a vec_id-clustered or bloom-carrying corpus opens only the files
    * that hold shortlist rows. nprobe = k with a refine that covers every
    * candidate degenerates to exact brute force — the oracle-checkable
    * configuration. Models, postings and corpus are all read at one
    * snapshot of the warehouse. */
  def pqTopK(spark: SparkSession, warehouse: String, queries: DataFrame,
             k: Int, nprobe: Int = 2, refine: Int = 4,
             corpusTable: String = "embeddings",
             idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    pqTopK(spark, Snapshots.snapshot(spark, warehouse), queries, k, nprobe,
      refine, corpusTable, idCol, vecCol)

  /** [[pqTopK]] at the pinned `snap`. */
  private[graft] def pqTopK(spark: SparkSession, snap: Snapshot,
                            queries: DataFrame, k: Int, nprobe: Int,
                            refine: Int, corpusTable: String, idCol: String,
                            vecCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (coarse, pq) = loadModels(spark, snap)
    val np = math.min(nprobe, coarse.k)
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
    val probed = probedCells(q, "q_vec", coarse, np)
    if (probed.isEmpty)
      return q.limit(0).select(col("q_id"), col("q_id").as("vec_id"),
        lit(0.0).as("sim"), lit(0L).as("rnk"))
    val postings = DerivedIndex.probe(spark, snap, Coded, probed)
    // Full-refine shortcut (r22), full probe only: below it every query
    // must see its OWN nprobe nearest cells, while `postings` is the union
    // over the batch — the windowed path joins per query on cell. When
    // every cell is probed and the shortlist cap k·refine covers the
    // whole valid row_number domain (rnk is IntegerType — a per-query
    // candidate count past 2^31 is outside the operator's domain either
    // way), the `prnk <= k·refine` filter provably passes every row, so the
    // PQ scoring + per-query window sort + shortlist checkpoint + the
    // point-prune id collect are all no-ops: the exact re-rank IS the
    // query. Collapses the exact entries from 4 driver jobs to 2 (model
    // load + answer) and drops the wasted O(candidates log candidates)
    // sort. The windowed path below is byte-identical for any smaller cap
    // and stays the serving configuration.
    if (np == coarse.k && k.toLong * refine >= Int.MaxValue.toLong) {
      val cand = postings.select(col("vec_id"))
        .join(snap.read(spark, corpusTable)
          .select(col(idCol).as("vec_id"), col(vecCol).as("embedding")),
          Seq("vec_id"))
      val exact = broadcast(q).join(cand, col("q_id") =!= col("vec_id"))
        .withColumn("sim",
          round(VectorExprs.cosineSim(col("q_vec"), col("embedding")), 4))
      val wx = Window.partitionBy("q_id").orderBy(col("sim").desc, col("vec_id"))
      return exact.withColumn("rnk", row_number().over(wx).cast("long"))
        .filter(col("rnk") <= k)
        .select("q_id", "vec_id", "sim", "rnk")
    }
    // The ADC lookup table is computed ONCE per query row (O(ksub·dim),
    // query side, before the fan-out join); every candidate then scores
    // in O(m) lookups — at m=8, dim=64 that is 8 adds per candidate
    // instead of a 64-float reconstruction.
    val qb = q.withColumn("cell",
        explode(VectorExprs.nearestCellsCol(col("q_vec"), coarse.flat,
          coarse.dim, np)))
      .withColumn("_lut", Pq.lutCol(col("q_vec"), pq))
    val w = Window.partitionBy("q_id")
      .orderBy(col("psim").desc, col("vec_id"))
    // localCheckpoint pins the shortlist: it feeds BOTH the driver-side
    // id collect (for corpus point-pruning) and the re-rank join —
    // without it the candidate scan + window sort would execute twice.
    // ContextCleaner-managed blocks (the SignatureStore stance).
    val shortlist = broadcast(qb).join(postings, Seq("cell"))
      .filter(col("q_id") =!= col("vec_id"))
      .withColumn("psim", Pq.lutScoreCol(col("_lut"), col("pq_code"), pq))
      .withColumn("prnk", row_number().over(w))
      .filter(col("prnk") <= k.toLong * refine)
      .select("q_id", "q_vec", "vec_id")
      .localCheckpoint(true)
    // Point-pruned exact re-rank: true vectors for the shortlist only.
    val ids = shortlist.select("vec_id").distinct()
      .limit(MaxRerankPruneIds + 1).collect().map(_.get(0))
    val corpus0 =
      if (ids.nonEmpty && ids.length <= MaxRerankPruneIds)
        snap.read(spark, corpusTable,
          dataFilter = ids.map(v => FileStats.eq(idCol, v)).reduce(_ or _))
      else snap.read(spark, corpusTable)
    val exact = broadcast(shortlist)
      .join(corpus0.select(col(idCol).as("vec_id"), col(vecCol).as("embedding")),
        Seq("vec_id"))
      .withColumn("sim",
        round(VectorExprs.cosineSim(col("q_vec"), col("embedding")), 4))
    val w2 = Window.partitionBy("q_id").orderBy(col("sim").desc, col("vec_id"))
    exact.withColumn("rnk", row_number().over(w2).cast("long"))
      .filter(col("rnk") <= k)
      .select("q_id", "vec_id", "sim", "rnk")
  }

  /** ANN top-k through the warm store: centroids from the log, candidates
    * from the `ann_cells` files overlapping the probed cells. `queries` is
    * the query batch (small by nature); its probed cell ids — at most
    * min(|queries|·nprobe, k) ints — are collected to drive log-side file
    * skipping, the same bounded-scalars-to-the-driver shape as
    * [[graft.ingest.Merge]]'s candidate bounds. nprobe = k scans every
    * cell → exact top-k (the oracle-checkable configuration). Model and
    * postings are read at one snapshot of the warehouse. */
  def topK(spark: SparkSession, warehouse: String, queries: DataFrame,
           k: Int, nprobe: Int = 2,
           idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val snap = Snapshots.snapshot(spark, warehouse)
    val model = flatModel(spark, snap)
    val np = math.min(nprobe, model.k)
    val q = vectors(queries, idCol, vecCol)
    Ivf.topK(q, DerivedIndex.probe(spark, snap, Flat,
      probedCells(q, "embedding", model, np)), model, k, np)
  }

  /** Cells the queries' `vecCol` vectors probe. Full probe (np = k, the
    * exact configuration) is every cell by definition — no discovery job;
    * with an empty query batch the downstream join is empty either way. */
  private def probedCells(q: DataFrame, vecCol: String, model: Ivf.Model,
                          np: Int): Seq[Int] =
    if (np == model.k) 0 until model.k
    else q.select(explode(VectorExprs.nearestCellsCol(
        col(vecCol), model.flat, model.dim, np)).as("cell"))
      .distinct().collect().map(_.getInt(0)).sorted.toSeq
}
