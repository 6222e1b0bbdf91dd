package graft.llmops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ingest.{FileStats, Snapshots}

/** Persisted MinHash signatures: the piece that makes incremental dedup
  * incremental in COMPUTE, not just in join topology.
  *
  * [[MinHash.incrementalNearDupPairs]] already joins new-side × corpus-side
  * (never O(corpus²)), but it re-shingles and re-signs the entire corpus
  * every run — O(corpus) prep defeats the point at 100 TB. Here the band
  * rows (doc_id, band, bh) are a snapshot-committed table of their own,
  * appended once per ingest batch through the [[DerivedIndex]] writer (the
  * same stage/commit/publish protocol as the data); an incremental run then
  *
  *   1. READS the corpus's bands from the signature table (no text touched),
  *   2. computes shingles only for the NEW batch (O(new)),
  *   3. bucket-joins new bands × all bands for candidates,
  *   4. verifies exact Jaccard, re-reading corpus text ONLY for candidate
  *      docs — a bounds-pruned [[Snapshots.read]] (log-side file skipping on
  *      the id column, the same shape as [[graft.ingest.Merge]]'s candidate
  *      discovery) joined against the candidate ids.
  *
  * Total per-run cost: O(new) signature compute + O(candidates) text
  * re-read. Untouched corpus files move zero bytes.
  */
object SignatureStore {

  import DerivedIndex.{Stamp, param}

  private def sigs(sigTable: String) = DerivedIndex.Postings(sigTable,
    "doc_id", "doc_id", DerivedIndex.stamp("minhash", "kernel" -> MinHash.Kernel))

  private def stamp(numPerms: Int, numBands: Int): Stamp =
    DerivedIndex.stamp("minhash", "kernel" -> MinHash.Kernel,
      "numPerms" -> numPerms, "numBands" -> numBands)

  /** (numPerms, numBands) of a stamped store, refusing another kernel. */
  private def scheme(sigTable: String, st: Stamp): (Int, Int) = {
    DerivedIndex.agree(sigTable, st, sigs(sigTable).build)
    (param(st, "numPerms"), param(st, "numBands"))
  }

  /** Band rows for one batch of documents: (doc_id, band, bh). r22: the
    * signature pass runs on hashed shingles ([[MinHash.withShingleHashes]])
    * — string bytes hashed once per shingle, not once per permutation. */
  def bandRows(batch: DataFrame, idCol: String, textCol: String,
               numPerms: Int, numBands: Int): DataFrame =
    MinHash.bands(
      MinHash.withShingleHashes(batch, idCol, textCol)
        .select(col("doc_id"),
          graft.functions.VectorExprs.minhashSigFromHashesCol(col("sh"), numPerms)
            .as("sig")),
      numPerms, numBands)

  /** Shingle + sign + band `batch` and append its band rows to
    * `sigTable` as one snapshot commit. The first append builds the store
    * and stamps `numPerms`/`numBands`; later appends must ask for the same
    * scheme (band hashes are only comparable within one banding scheme)
    * and are refused otherwise, naming the key. */
  def appendBatch(spark: SparkSession, warehouse: String, batch: DataFrame,
                  idCol: String, textCol: String,
                  numPerms: Int = 64, numBands: Int = 16,
                  sigTable: String = "doc_signatures"): Unit =
    DerivedIndex.write(spark, warehouse, Seq((sigTable,
      stamp(numPerms, numBands),
      bandRows(batch, idCol, textCol, numPerms, numBands))))

  /** Bin-pack + re-cluster the signature table by `doc_id`
    * ([[DerivedIndex.compact]]). The id clustering is what keeps
    * [[graft.ingest.Merge.deleteKeysDv]]'s bounds-based candidate pruning
    * selective when [[syncFromChanges]] maintains the store. */
  def compactIndex(spark: SparkSession, warehouse: String,
                   targetBytes: Long = 128L * 1024 * 1024,
                   sigTable: String = "doc_signatures")
      : Option[graft.ingest.Compaction.Result] =
    DerivedIndex.compact(spark, warehouse, sigs(sigTable), targetBytes)

  /** Propagate corpus DML into the signature table
    * ([[DerivedIndex.sync]]). A corpus `deleteWhereDv` otherwise leaves
    * the deleted docs' band rows behind, and future incremental runs would
    * still pair new docs against them. Changed docs are re-shingled,
    * signed and banded under the store's stamped scheme (O(new)). */
  def syncFromChanges(spark: SparkSession, warehouse: String,
                      docTable: String, fromExclusive: Long,
                      idCol: String = "doc_id", textCol: String = "text",
                      sigTable: String = "doc_signatures"): Unit = {
    val p = sigs(sigTable)
    val (numPerms, numBands) = scheme(sigTable, DerivedIndex.check(
      DerivedIndex.fsOf(spark, warehouse), warehouse, sigTable, p.build))
    DerivedIndex.sync(spark, warehouse, p, docTable, fromExclusive, idCol,
        textCol)(fresh =>
      appendBatch(spark, warehouse, fresh, idCol, textCol, numPerms,
        numBands, sigTable))
  }

  /** Streaming dual of [[incrementalNearDupPairs]]: each micro-batch of
    * documents is (1) committed to `docTable`, (2) signed and its band rows
    * appended to `sigTable`, (3) deduped against everything committed so
    * far — the batch's near-dup pairs land in `pairsTable`. All three are
    * batchId-keyed snapshot commits ([[graft.streaming.StreamingOps
    * .commitBatch]]), so a crash-replayed trigger skips what already
    * published and finishes what didn't: exactly-once end to end, and the
    * union of `pairsTable` over batches equals the one-shot batch result
    * (each pair is emitted at its later endpoint's batch).
    *
    * The banding scheme is the store's: an existing `sigTable` is read
    * under its stamp (build it with [[appendBatch]] to choose one); a new
    * store gets the default 64/16, stamped with its first batch's rows.
    *
    * Per-trigger cost is the incremental contract: O(batch) signature
    * compute + O(candidates) corpus re-read via log-side bounds pruning —
    * the corpus text is never re-scanned, which is what makes a
    * long-running 100 TB ingest loop viable. */
  def streamingIncrementalDedup(
      docs: DataFrame, warehouse: String, checkpointDir: String,
      idCol: String = "doc_id", textCol: String = "text",
      docTable: String = "documents", sigTable: String = "doc_signatures",
      pairsTable: String = "dup_pairs",
      threshold: Double = 0.6,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.streaming.StreamingOps.commitBatch
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // The batch feeds three actions — pin it once (checkpoint blocks
        // are ContextCleaner-managed, same stance as the dedup joins).
        val b = batch.localCheckpoint(true)
        val fs = DerivedIndex.fsOf(b.sparkSession, warehouse)
        commitBatch(b, warehouse, docTable, batchId)
        val st = DerivedIndex.stampOf(fs, warehouse, sigTable)
        val (numPerms, numBands) = st.fold((64, 16))(scheme(sigTable, _))
        commitBatch(bandRows(b, idCol, textCol, numPerms, numBands),
          warehouse, sigTable, batchId,
          if (st.nonEmpty) Nil
          else Seq(Snapshots.propsMetaEntry(fs, warehouse,
            sigTable, stamp(numPerms, numBands))))
        // The store now includes this batch's bands; pairs against the
        // full corpus-so-far, emitted exactly once per pair.
        commitBatch(
          incrementalNearDupPairs(b.sparkSession, warehouse, docTable,
            b.select(col(idCol), col(textCol)), idCol, textCol,
            threshold, sigTable = sigTable),
          warehouse, pairsTable, batchId)
        ()
      }
      .trigger(trigger)
      .start()
  }

  /** Near-dup pairs involving at least one document of `newDocs`
    * (id + text — e.g. the change feed since the last run), against the
    * full corpus whose bands are ALREADY PERSISTED in `sigTable` — which
    * must include the new batch's bands too ([[appendBatch]] runs at ingest
    * time, dedup after). The banding scheme is read from the store's
    * stamp. The corpus text is never scanned wholesale: only files whose
    * log-side [min,max] on `idCol` overlap the candidate-id bounds are
    * opened, and only candidate rows are shingled for the exact verify.
    * Output: (doc_a, doc_b, jaccard), doc_a < doc_b. */
  def incrementalNearDupPairs(spark: SparkSession, warehouse: String,
                              docTable: String, newDocs: DataFrame,
                              idCol: String, textCol: String,
                              threshold: Double = 0.6, maxBucket: Int = 1000,
                              sigTable: String = "doc_signatures"): DataFrame = {
    MinHash.requireIntegralId(newDocs, idCol)
    val (numPerms, numBands) = scheme(sigTable, DerivedIndex.check(
      DerivedIndex.fsOf(spark, warehouse), warehouse, sigTable,
      sigs(sigTable).build))
    val banded = Snapshots.read(spark, warehouse, sigTable)
    // localCheckpoint(eager=false), not cache(): the batch is reused
    // several times below, but a long-running ingest loop calls this per
    // batch — cached plans would pin block-manager memory until an
    // explicit unpersist the caller can't issue, while checkpoint blocks
    // are ContextCleaner-managed (freed when the frame is GC'd). Lazy, so
    // nothing runs unless the caller executes the result. Trade-off owned
    // here: truncated lineage means a lost executor fails the job instead
    // of recomputing (same stance as ConnectedComponents) — the frame is
    // O(new batch) small, so a retry is cheap.
    val freshDocs = newDocs
      .select(col(idCol).as("doc_id"), col(textCol).as("text"))
      .localCheckpoint(false)
    val fresh = freshDocs.select("doc_id").distinct()
    // r22: the batch's band rows are recomputed from its text — O(batch),
    // the same deterministic kernels that produced the persisted rows at
    // ingest, under the stamped scheme — so the candidate pre-filter's
    // bucket keys cost zero scans of the corpus band table.
    MinHash.incrementalPairs(banded, fresh,
        bandRows(freshDocs, "doc_id", "text", numPerms, numBands),
        threshold, maxBucket) { cand =>
      // Corpus endpoints of the candidate pairs: everything not in the new
      // batch. Their [min,max] drives log-side file skipping — two scalars
      // to the driver (the Merge bounds pattern), never an id list.
      val corpusIds = cand
        .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
        .distinct()
        .join(fresh, Seq("doc_id"), "left_anti")
      val bounds = corpusIds.agg(min("doc_id"), max("doc_id")).head()
      val corpusShingled =
        if (bounds.isNullAt(0)) // no corpus endpoints: new-vs-new pairs only
          MinHash.withShingleHashes(freshDocs.limit(0), "doc_id", "text")
        else MinHash.withShingleHashes(
          Snapshots.read(spark, warehouse, docTable,
              dataFilter = FileStats.between(idCol, bounds.get(0), bounds.get(1)))
            .select(col(idCol).as("doc_id"), col(textCol).as("text"))
            .join(corpusIds, "doc_id"),
          "doc_id", "text")
      corpusShingled
        .unionByName(MinHash.withShingleHashes(freshDocs, "doc_id", "text"))
    }
  }
}
