package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.llmops.{MinHash, Multimodal, Similarity, TextOps}

/** LLM-training-data pipeline queries over the `documents` and `embeddings`
  * tables: dedup (exact / MinHash-LSH / SimHash / n-gram Jaccard /
  * embedding-cosine), similarity search (brute-force + LSH ANN), multimodal
  * binary-column handling, and text analysis.
  *
  * Near-dup queries inject deterministic mutated copies (doc_id + 1000000,
  * text + " zz") so the expected pair set is non-empty and exactly computable
  * by the DuckDB oracle (ground-truth all-pairs Jaccard/cosine); the Spark
  * side must *find* those pairs via its bucketed LSH pipelines — an oracle
  * mismatch means lost recall or false positives, not just a formatting bug.
  */
object LlmQueries {

  /** A fresh fixture warehouse in a temp dir, and its filesystem. */
  private def freshWh(s: SparkSession, prefix: String)
      : (String, org.apache.hadoop.fs.FileSystem) = {
    val w = java.nio.file.Files.createTempDirectory(prefix).resolve("wh").toString
    (w, new org.apache.hadoop.fs.Path(w)
      .getFileSystem(s.sparkContext.hadoopConfiguration))
  }

  /** Commit `df` to `table` as one single-file append. */
  private def publish(fs: org.apache.hadoop.fs.FileSystem, w: String,
                      table: String, df: DataFrame): Unit =
    graft.ingest.TxnCommit.writeTables(fs, w, Seq(table -> df.coalesce(1).write))

  private def docs(s: SparkSession, d: String): DataFrame =
    Fixtures.table(s, d, "documents")
  private def embs(s: SparkSession, d: String): DataFrame =
    Fixtures.table(s, d, "embeddings")

  /** Build-once PQ warehouse: embeddings committed, IVF-PQ index built
    * (coarse k=8, m=8 one-byte subspaces, ksub=16) — the timed region of
    * the llm_ann_pq* entries is the warm-store query alone. */
  private def pqStore(s: SparkSession, d: String): String =
    Fixtures.once("llm_ann_pq_store", d) {
      import graft.ingest.{Snapshots, TxnCommit}
      val (w, fs) = freshWh(s, "graft-pqstore")
      TxnCommit.writeTables(fs, w, Seq("embeddings" ->
        embs(s, d).select("vec_id", "embedding").coalesce(2).write))
      graft.llmops.IvfStore.buildPqIndex(s, w,
        Snapshots.read(s, w, "embeddings"), dim = 64, k = 8, m = 8,
        ksub = 16, targetFiles = 4)
      w
    }

  /** documents ∪ mutated near-dup copies (every 10th doc, one token added). */
  private[queries] def docsWithDups(s: SparkSession, d: String): DataFrame = {
    val base = docs(s, d).select("doc_id", "text")
    base.union(
      base.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 1000000).as("doc_id"),
          concat(col("text"), lit(" zz")).as("text")))
  }

  /** embeddings ∪ exact duplicate vectors (every 10th, new id). */
  private def embsWithDups(s: SparkSession, d: String): DataFrame = {
    val base = embs(s, d).select("vec_id", "embedding")
    base.union(
      base.filter(col("vec_id") % 10 === 0)
        .select((col("vec_id") + 1000000).as("vec_id"), col("embedding")))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "llm_text_stats" -> ((s, d) => TextOps.stats(docs(s, d), "doc_id", "text")),
    "llm_lang_id" -> ((s, d) => TextOps.langId(docs(s, d), "doc_id", "text")),
    "llm_token_count" -> ((s, d) => TextOps.tokenCount(docs(s, d), "doc_id", "text")),
    "llm_fingerprint" -> ((s, d) => TextOps.fingerprint(docs(s, d), "doc_id", "text")),
    "llm_dedup_exact" -> ((s, d) => TextOps.exactDedup(docs(s, d), "doc_id", "text")),

    // PII scrub over documents with deterministic synthetic PII injected
    // into every 7th doc (the fixtures carry none) — the oracle injects the
    // same spans, so a hash mismatch means regex-semantics drift.
    "llm_pii_scrub" -> ((s, d) =>
      TextOps.piiScrub(
        docs(s, d).withColumn("text",
          when(col("doc_id") % 7 === 0,
            concat(col("text"), lit(" contact user"), col("doc_id"),
              lit("@example.com or 555-123-4567")))
            .otherwise(col("text"))),
        "doc_id", "text")),

    // 50-token windows with 10-token overlap.
    "llm_chunking" -> ((s, d) =>
      TextOps.chunk(docs(s, d), "doc_id", "text", chunkTokens = 50, overlap = 10)),

    // Composite punctuation/digit-density quality gate.
    "llm_quality_score" -> ((s, d) =>
      TextOps.qualityScore(docs(s, d), "doc_id", "text")),

    // MinHash+LSH near-dup: 64 perms × 16 bands, verify exact Jaccard ≥ 0.6.
    "llm_dedup_minhash" -> ((s, d) =>
      MinHash.nearDupPairs(docsWithDups(s, d), "doc_id", "text")),

    // Exact 3-gram Jaccard on the injected (original, mutated) pairs.
    // The shingle pass is cached: both jaccard join sides re-scan it (it
    // used to ride the minhash entries' shingle cache, which r21 moved to
    // the shingle+signature projection — this entry needs no signatures).
    // r22: hashed shingle sets (one native pass, longs in the cache).
    "llm_ngram_jaccard" -> ((s, d) => {
      val shingled = MinHash.withShingleHashes(docsWithDups(s, d), "doc_id", "text")
        .cache()
      val pairs = docs(s, d).filter(col("doc_id") % 10 === 0)
        .select(col("doc_id").as("doc_a"), (col("doc_id") + 1000000).as("doc_b"))
      MinHash.jaccard(pairs, shingled).withColumn("jaccard", round(col("jaccard"), 4))
    }),

    // SimHash near-dup: banded 16-bit chunks over the md5-derived 56-bit
    // signature. At maxHamming = 3 the banding is COMPLETE (pigeonhole:
    // four chunks can't all differ), so this hash-matches the all-pairs
    // hamming ground truth the oracle computes over the same signatures —
    // a mismatch means the banded join lost a pair the O(n²) truth has.
    "llm_dedup_simhash" -> ((s, d) =>
      MinHash.simhashPairs(docsWithDups(s, d), "doc_id", "text")),

    // Incremental dedup through the table format: originals land as one
    // snapshot commit, the mutated copies as a second; the change feed
    // serves exactly the new batch, which is deduped against the FULL
    // corpus with a new-side × corpus-side bucket join — never O(corpus²).
    // The oracle is the all-pairs ground truth restricted to pairs
    // involving a new document, so a hash match proves both the change
    // feed's delta (extra/missing rows change the pair set) and the
    // incremental join's recall.
    "llm_dedup_incremental" -> ((s, d) => {
      import graft.ingest.Snapshots
      // Fixture commits happen once per JVM (bench runs each entry 4×);
      // the timed region below is the change-feed read + incremental dedup.
      val (wh, vCorpus) = Fixtures.once("llm_dedup_incremental", d) {
        val (w, fs) = freshWh(s, "graft-incdedup")
        val all = docsWithDups(s, d)
        def pub(df: DataFrame): Unit = publish(fs, w, "documents", df)
        pub(all.filter(col("doc_id") < 1000000))   // corpus
        val vc = Snapshots.latestVersion(fs, w).get
        pub(all.filter(col("doc_id") >= 1000000))  // the new batch
        (w, java.lang.Long.valueOf(vc))
      }
      val fresh = Snapshots.changes(s, wh, "documents", fromExclusive = vCorpus)
        .select("doc_id")
      MinHash.incrementalNearDupPairs(
        Snapshots.read(s, wh, "documents"), fresh, "doc_id", "text")
    }),

    // Same contract as llm_dedup_incremental (same all-pairs oracle), but
    // TRULY incremental in compute: each batch's band rows are appended to
    // a snapshot-committed doc_signatures table at ingest time, and the
    // dedup run reads corpus bands from that table — corpus text is
    // shingled only for candidate docs (bounds-pruned read), never
    // wholesale. A hash mismatch here means the persisted-signature path
    // lost recall vs ground truth.
    "llm_dedup_incremental_persisted" -> ((s, d) => {
      import graft.ingest.Snapshots
      import graft.llmops.SignatureStore
      // Ingest-time work (document commits + signature-table appends) runs
      // once per JVM; the timed region is what a production incremental run
      // pays: change-feed read + signature-table dedup of the new batch.
      val (wh, vCorpus) = Fixtures.once("llm_dedup_incremental_persisted", d) {
        val (w, fs) = freshWh(s, "graft-sigstore")
        val all = docsWithDups(s, d)
        def pub(df: DataFrame): Unit = publish(fs, w, "documents", df)
        val corpus = all.filter(col("doc_id") < 1000000)
        val batch2 = all.filter(col("doc_id") >= 1000000)
        pub(corpus)
        SignatureStore.appendBatch(s, w, corpus, "doc_id", "text")
        val vc = Snapshots.latestVersion(fs, w).get
        pub(batch2)
        SignatureStore.appendBatch(s, w, batch2, "doc_id", "text")
        (w, java.lang.Long.valueOf(vc))
      }
      val fresh = Snapshots.changes(s, wh, "documents", fromExclusive = vCorpus)
        .select("doc_id", "text")
      SignatureStore.incrementalNearDupPairs(s, wh, "documents", fresh,
        "doc_id", "text")
    }),

    // SemDeDup: within each embedding cluster (the fixture's label column
    // stands in for a k-means cell id; at scale Ivf assigns it), drop
    // every vector with a smaller-id same-cluster neighbor at cosine
    // ≥ 0.95 — selection semantics, not just pair-finding. The injected
    // exact duplicates (vec_id + 1000000) must each lose to their
    // original; everything else survives.
    "llm_dedup_semantic" -> ((s, d) => {
      val base = embs(s, d).select(col("vec_id"), col("embedding"),
        col("label").cast("long").as("label"))
      val all = base.union(base.filter(col("vec_id") % 10 === 0)
        .select((col("vec_id") + 1000000).as("vec_id"), col("embedding"),
          col("label")))
      Similarity.semanticDedup(all, "vec_id", "embedding", "label", 0.95)
        .select("vec_id", "label")
    }),

    // Span-level exact dedup (C4 rule): 10-token spans, a duplicated span
    // keeps only its first (doc_id, span_idx) occurrence. Injected dup
    // docs share every aligned span with their original, so their spans
    // all come back keep=false except the trailing mutated one.
    "llm_dedup_spans" -> ((s, d) =>
      TextOps.spanDedup(docsWithDups(s, d), "doc_id", "text")),

    // The span-dedup rewrite: docs reassembled from globally-first spans.
    // Each injected dup doc collapses to just its trailing mutated span;
    // originals come back verbatim.
    "llm_clean_spans" -> ((s, d) =>
      TextOps.dropDupSpans(docsWithDups(s, d), "doc_id", "text")),

    // Brute-force cosine top-10 for query vectors vec_id < 5.
    "llm_cosine_topk" -> ((s, d) =>
      Similarity.bruteForceTopK(embs(s, d).filter(col("vec_id") < 5), embs(s, d), 10)),

    // LSH-bucketed ANN (approximate → rows-only).
    "llm_ann_lsh" -> ((s, d) =>
      Similarity.lshTopK(embs(s, d).filter(col("vec_id") < 5), embs(s, d),
        dim = 64, k = 10)),

    // LSH with probeAll scans every 2^numPlanes bucket → exact top-k;
    // hash-matches the same brute-force oracle as llm_cosine_topk, proving
    // the bucket/probe/score/rank machinery end-to-end (the LSH analog of
    // llm_ann_ivf_exact — a mismatch means lost candidates, not formatting).
    "llm_ann_lsh_exact" -> ((s, d) =>
      Similarity.lshTopK(embs(s, d).filter(col("vec_id") < 5), embs(s, d),
        dim = 64, k = 10, numPlanes = 4, probeAll = true)),

    // IVF ANN: deterministic k-means cells + nprobe search (approximate →
    // rows-only). The model is trained once per data dir and reused.
    "llm_ann_ivf" -> ((s, d) => {
      val corpus = embs(s, d)
      val model = graft.llmops.Ivf.trainCached(corpus, d, dim = 64, k = 8)
      graft.llmops.Ivf.topK(corpus.filter(col("vec_id") < 5),
        graft.llmops.Ivf.index(corpus, model), model, k = 10, nprobe = 3)
    }),

    // IVF with nprobe = k scans every cell → exact top-k; hash-matches the
    // same brute-force oracle as llm_cosine_topk, proving the whole IVF
    // train/index/probe/join machinery end-to-end (recall regression here
    // means lost candidates, not formatting).
    "llm_ann_ivf_exact" -> ((s, d) => {
      val corpus = embs(s, d)
      val model = graft.llmops.Ivf.trainCached(corpus, d, dim = 64, k = 8)
      graft.llmops.Ivf.topK(corpus.filter(col("vec_id") < 5),
        graft.llmops.Ivf.index(corpus, model), model, k = 10, nprobe = 8)
    }),

    // IVF through the PERSISTED index (ann_centroids + ann_cells snapshot
    // tables): train+index on the first corpus commit, append the second
    // batch's assignments via the change feed (no re-train, no corpus
    // re-scan), then search the warm store with nprobe = k → exact top-k.
    // Hash-matching the brute-force oracle proves the committed index is
    // COMPLETE (a lost appendBatch row changes the top-k) and the
    // cell-pruned read is sound.
    "llm_ann_ivf_persisted" -> ((s, d) => {
      import graft.ingest.Snapshots
      import graft.llmops.IvfStore
      // Index construction (train + assign + incremental append) runs once
      // per JVM; the timed region is the warm-store query — exactly what a
      // serving cluster pays: centroids + pruned ann_cells files, zero
      // corpus scan, zero re-train.
      val wh = Fixtures.once("llm_ann_ivf_persisted", d) {
        val (w, fs) = freshWh(s, "graft-ivfstore")
        val all = embs(s, d).select("vec_id", "embedding")
        def pub(df: DataFrame): Unit = publish(fs, w, "embeddings", df)
        pub(all.filter(col("vec_id") % 2 === 0))
        IvfStore.buildIndex(s, w,
          Snapshots.read(s, w, "embeddings"), dim = 64, k = 8)
        val vIndexed = Snapshots.latestVersion(fs, w).get
        pub(all.filter(col("vec_id") % 2 =!= 0))
        IvfStore.appendBatch(s, w,
          Snapshots.changes(s, w, "embeddings", fromExclusive = vIndexed)
            .select("vec_id", "embedding"))
        w
      }
      IvfStore.topK(s, wh, embs(s, d).select("vec_id", "embedding")
        .filter(col("vec_id") < 5), k = 10, nprobe = 8)
    }),

    // IVF-PQ through the persisted store: the posting table holds m-BYTE
    // product-quantization codes (dim=64 floats → 8 bytes, the 32×
    // memory/IO factor that keeps a 100 TB index scannable), candidates
    // are scored from codes alone, and the per-query shortlist re-ranks
    // against true vectors via a POINT-PRUNED corpus read. Exact twin:
    // nprobe = k and a refine that covers every candidate — the shortlist
    // provably contains the true top-k, so the re-ranked result equals
    // brute force and hash-matches the shared oracle.
    "llm_ann_pq_exact" -> ((s, d) => {
      val wh = pqStore(s, d)
      graft.llmops.IvfStore.pqTopK(s, wh,
        embs(s, d).select("vec_id", "embedding").filter(col("vec_id") < 5),
        k = 10, nprobe = 8, refine = Int.MaxValue)
    }),
    // The serving configuration (nprobe=3, refine=4): approximate by
    // design → rows-only here; PqSpec holds the recall@10 ≥ 0.9 gate.
    "llm_ann_pq" -> ((s, d) => {
      val wh = pqStore(s, d)
      graft.llmops.IvfStore.pqTopK(s, wh,
        embs(s, d).select("vec_id", "embedding").filter(col("vec_id") < 5),
        k = 10, nprobe = 3, refine = 4)
    }),

    // Index maintenance under corpus DML: same persisted IVF store, but a
    // merge-on-read DELETE hits the corpus between index build and query,
    // and syncFromChanges propagates it into ann_cells (vector-deleting
    // the dead postings). nprobe = k → exact, so hash-matching the
    // brute-force-over-SURVIVORS oracle proves a deleted vector can never
    // resurface through the index — the top-k would differ.
    "llm_ann_ivf_persisted_dml" -> ((s, d) => {
      import graft.ingest.{Merge, Snapshots}
      import graft.llmops.IvfStore
      val wh = Fixtures.once("llm_ann_ivf_persisted_dml", d) {
        val (w, fs) = freshWh(s, "graft-ivfstore-dml")
        val all = embs(s, d).select("vec_id", "embedding")
        def pub(df: DataFrame): Unit = publish(fs, w, "embeddings", df)
        pub(all)
        IvfStore.buildIndex(s, w,
          Snapshots.read(s, w, "embeddings"), dim = 64, k = 8)
        val vIndexed = Snapshots.latestVersion(fs, w).get
        // Corpus DML after the index is built: DV-delete a slice (query
        // vectors vec_id < 5 stay alive), then propagate into the index.
        Merge.deleteWhereDv(s, w, "embeddings",
          col("vec_id") % 7 === 3 && col("vec_id") >= 5)
        IvfStore.syncFromChanges(s, w, "embeddings", fromExclusive = vIndexed)
        w
      }
      IvfStore.topK(s, wh, embs(s, d).select("vec_id", "embedding")
        .filter(col("vec_id") < 5), k = 10, nprobe = 8)
    }),

    // PQ index under corpus DML: a DV-delete hits the corpus after the
    // PQ build, syncPqFromChanges vector-deletes the dead CODE postings,
    // and the full-probe/full-refine query (exact) must match brute force
    // over the SURVIVORS — a stale code would re-rank a deleted vector
    // into some top-10 and break the hash.
    "llm_ann_pq_dml" -> ((s, d) => {
      import graft.ingest.{Merge, Snapshots, TxnCommit}
      import graft.llmops.IvfStore
      val wh = Fixtures.once("llm_ann_pq_dml", d) {
        val (w, fs) = freshWh(s, "graft-pq-dml")
        TxnCommit.writeTables(fs, w, Seq("embeddings" ->
          embs(s, d).select("vec_id", "embedding").coalesce(2).write))
        IvfStore.buildPqIndex(s, w,
          Snapshots.read(s, w, "embeddings"), dim = 64, k = 8, m = 8,
          ksub = 16, targetFiles = 4)
        val vIndexed = Snapshots.latestVersion(fs, w).get
        Merge.deleteWhereDv(s, w, "embeddings",
          col("vec_id") % 7 === 3 && col("vec_id") >= 5)
        IvfStore.syncPqFromChanges(s, w, "embeddings",
          fromExclusive = vIndexed)
        w
      }
      IvfStore.pqTopK(s, wh, embs(s, d).select("vec_id", "embedding")
        .filter(col("vec_id") < 5), k = 10, nprobe = 8,
        refine = Int.MaxValue)
    }),

    // Persisted LSH ANN (the IvfStore pattern for the hyperplane family):
    // index built on half the corpus, completed via the change feed, then
    // queried probeAll through the warm store — exact, so it hash-matches
    // the same brute-force ground truth as llm_ann_lsh_exact. The
    // approximate multi-probe path is covered by LshStoreSpec's recall
    // floor; the pruning claim (probed buckets → index files, zero corpus
    // files) by its plan assertions.
    "llm_ann_lsh_persisted" -> ((s, d) => {
      import graft.ingest.Snapshots
      import graft.llmops.LshStore
      val wh = Fixtures.once("llm_ann_lsh_persisted", d) {
        val (w, fs) = freshWh(s, "graft-lshstore")
        val all = embs(s, d).select("vec_id", "embedding")
        def pub(df: DataFrame): Unit = publish(fs, w, "embeddings", df)
        pub(all.filter(col("vec_id") % 2 === 0))
        LshStore.buildIndex(s, w,
          Snapshots.read(s, w, "embeddings"), dim = 64, numPlanes = 6)
        val vIndexed = Snapshots.latestVersion(fs, w).get
        pub(all.filter(col("vec_id") % 2 =!= 0))
        LshStore.appendBatch(s, w,
          Snapshots.changes(s, w, "embeddings", fromExclusive = vIndexed)
            .select("vec_id", "embedding"))
        w
      }
      LshStore.topK(s, wh, embs(s, d).select("vec_id", "embedding")
        .filter(col("vec_id") < 5), k = 10, probeAll = true)
    }),

    // Embedding-cosine near-dup pairs ≥ 0.95 via LSH buckets.
    "llm_cosine_neardup" -> ((s, d) =>
      Similarity.cosineNearDupPairs(embsWithDups(s, d), dim = 64, threshold = 0.95)),

    // Multimodal: binary payload metadata (oracle-checkable part).
    "llm_multimodal_meta" -> ((s, d) =>
      Multimodal.binaryMeta(
        docs(s, d).withColumn("payload", col("text").cast("binary")),
        "doc_id", "payload")),

    // Multimodal: featurization through the mapPartitions decode pipeline,
    // with the oracle-checkable byte-histogram decoder (DuckDB recomputes
    // the identical 16-bin nibble histogram from hex(blob) — a hash match
    // proves the whole decode pipeline, not just row counts). Emitted as
    // scalar rows — (doc_id, kind, n_bytes, feature_idx, feature_value) via
    // posexplode — the joinable shape, and one every checker can canonicalize
    // (an array<double> column breaks pandas-style sort/compare tooling).
    "llm_multimodal_features" -> ((s, d) => {
      import s.implicits._
      val ds = docs(s, d)
        .select(col("doc_id"), lit("text").as("kind"),
          col("text").cast("binary").as("payload"))
        .as[Multimodal.MediaRecord]
      Multimodal.featurize(ds, dim = 16,
          (payload, _) => Multimodal.byteHistogram(payload)).toDF()
        .select(col("doc_id"), col("kind"), col("n_bytes"),
          posexplode(col("features")).as(Seq("feature_idx", "feature_value")))
        .withColumn("feature_idx", col("feature_idx").cast("long"))
    }),

    // Multimodal: deterministic frame sampling over the payload.
    "llm_frame_sample" -> ((s, d) =>
      Multimodal.frameSample(
        docs(s, d).withColumn("payload", col("text").cast("binary")),
        "doc_id", "payload", strideBytes = 64)),

    // Dedup clusters: connected components over the (oracle-proven) MinHash
    // near-dup pair graph — the step between "pairs" and "keep one doc per
    // duplicate group"; min(doc_id) is the canonical representative. The
    // oracle recomputes components via a recursive reachability CTE over the
    // all-pairs ground truth, so a hash match proves the distributed label
    // propagation, not just the pair set.
    "llm_dedup_clusters" -> ((s, d) => {
      val pairs = MinHash.nearDupPairs(docsWithDups(s, d), "doc_id", "text")
      graft.operators.ConnectedComponents.run(pairs.select("doc_a", "doc_b"))
        .select(col("node").as("doc_id"), col("component").as("cluster_id"))
    }),

    // Deterministic stratified sampling: 20 docs per predicted language in
    // md5(doc_id) order — proportional curation that is stable across
    // reruns, partitionings, and engines (no RNG state to disagree on).
    "llm_sample_stratified" -> ((s, d) => {
      val lang = TextOps.langId(docs(s, d), "doc_id", "text")
        .select("doc_id", "lang_pred")
      val w = Window.partitionBy("lang_pred")
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      lang.withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 20)
    }),

    // Shard-parallel next-fit sequence packing into 512-token bins: the
    // running capped-token sum within a shard assigns each doc the bin its
    // window starts in. Shards (doc_id % 32) keep the window partitioned —
    // no global ordering, so the plan parallelizes at any corpus size
    // (packing is per-worker in a real training loader anyway).
    "llm_pack_sequences" -> ((s, d) => {
      val t = docs(s, d).select(col("doc_id"), (col("doc_id") % 32).as("shard"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      val w = Window.partitionBy("shard").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t.withColumn("tok_c", least(col("n_tokens"), lit(512L)))
        .withColumn("cum", sum(col("tok_c")).over(w))
        .select(col("doc_id"), col("shard"), col("n_tokens"),
          expr("(cum - tok_c) div 512").as("pack_id"))
    }),

    // Benchmark decontamination: eval set = every 17th doc, train = the
    // rest; any shared 3-gram shingle flags the training doc. The eval
    // shingle set is broadcast — the 100 TB shape (benchmarks are MB-sized).
    "llm_decontaminate" -> ((s, d) => {
      val all = docs(s, d)
      TextOps.decontaminate(
        all.filter(col("doc_id") % 17 =!= 0),
        all.filter(col("doc_id") % 17 === 0), "doc_id", "text")
    }),

    // Gopher-style intra-document repetition filters (duplicate-token and
    // top-2-gram fractions), computed per-row with zero shuffles.
    "llm_repetition" -> ((s, d) =>
      TextOps.repetition(docs(s, d), "doc_id", "text")),

    // Weighted source mixing by hash gate: 'books' (doc_id%3=0) kept fully,
    // 'web' at ~30% via an md5-prefix threshold — deterministic,
    // engine-portable proportional downsampling (the dataset-mixing
    // primitive; no RNG, so the mix is reproducible and resumable).
    "llm_mix_sources" -> ((s, d) =>
      docs(s, d).select(col("doc_id"),
          when(col("doc_id") % 3 === 0, "books").otherwise("web").as("source"),
          substring(md5(col("doc_id").cast("string")), 1, 2).as("gate"))
        .filter(col("source") === "books" || col("gate") < "4d"))
  )

  private val enArr = TextOps.EnStop.map(w => s"'$w'").mkString("[", ", ", "]")
  private val deArr = TextOps.DeStop.map(w => s"'$w'").mkString("[", ", ", "]")
  private val esArr = TextOps.EsStop.map(w => s"'$w'").mkString("[", ", ", "]")
  private val frArr = TextOps.FrStop.map(w => s"'$w'").mkString("[", ", ", "]")

  private val dupDocsCte =
    """all_docs AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000 AS doc_id, text || ' zz' AS text
      |  FROM documents WHERE doc_id % 10 = 0)""".stripMargin

  // DuckDB 3-token shingle-set expression over a `text` column (mirrors
  // MinHash.withShingles; the CTE below wraps it over the dup-doc union).
  private val shingleExprSql =
    """list_distinct(CASE WHEN len(string_split(lower(text), ' ')) >= 3
      |      THEN list_transform(range(1, len(string_split(lower(text), ' ')) - 1),
      |        i -> string_split(lower(text), ' ')[i] || ' ' ||
      |             string_split(lower(text), ' ')[i+1] || ' ' ||
      |             string_split(lower(text), ' ')[i+2])
      |      ELSE [array_to_string(string_split(lower(text), ' '), ' ')] END)""".stripMargin

  // 3-token shingle set of `text` (mirrors MinHash.withShingles).
  private val shingleCte =
    """sh AS (
      |  SELECT doc_id,
      |    list_distinct(CASE WHEN len(string_split(lower(text), ' ')) >= 3
      |      THEN list_transform(range(1, len(string_split(lower(text), ' ')) - 1),
      |        i -> string_split(lower(text), ' ')[i] || ' ' ||
      |             string_split(lower(text), ' ')[i+1] || ' ' ||
      |             string_split(lower(text), ' ')[i+2])
      |      ELSE [array_to_string(string_split(lower(text), ' '), ' ')] END) AS s
      |  FROM all_docs)""".stripMargin

  // Exact cosine top-10 for query vectors vec_id < 5 — the brute-force
  // ground truth shared by llm_cosine_topk, llm_ann_ivf_exact (nprobe=k)
  // and llm_ann_lsh_exact (probeAll).
  private val bruteForceTopkSql =
    """WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS q_vec
      |           FROM embeddings WHERE vec_id < 5),
      |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |scored AS (
      |  SELECT q.q_id, c.vec_id,
      |    round(list_dot_product(q.q_vec, c.v) /
      |      sqrt(list_dot_product(q.q_vec, q.q_vec) * list_dot_product(c.v, c.v)), 4) AS sim
      |  FROM q JOIN c ON c.vec_id != q.q_id)
      |SELECT q_id, vec_id, sim, rnk FROM (
      |  SELECT q_id, vec_id, sim,
      |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS BIGINT) AS rnk
      |  FROM scored) WHERE rnk <= 10""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "llm_text_stats" ->
      s"""SELECT doc_id,
         | CAST(length(text) AS BIGINT) AS n_chars_m,
         | CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         | round(length(replace(text, ' ', '')) / len(string_split(text, ' ')), 4) AS avg_tok_len,
         | round(len(list_filter(string_split(lower(text), ' '),
         |   x -> list_contains($enArr, x))) / len(string_split(text, ' ')), 4) AS stop_ratio
         |FROM documents""".stripMargin,
    "llm_lang_id" ->
      s"""WITH h AS (SELECT doc_id,
         |  len(list_filter(string_split(lower(text), ' '), x -> list_contains($enArr, x))) AS en,
         |  len(list_filter(string_split(lower(text), ' '), x -> list_contains($deArr, x))) AS de,
         |  len(list_filter(string_split(lower(text), ' '), x -> list_contains($esArr, x))) AS es,
         |  len(list_filter(string_split(lower(text), ' '), x -> list_contains($frArr, x))) AS fr
         | FROM documents)
         |SELECT doc_id, CAST(en AS BIGINT) AS en_hits, CAST(de AS BIGINT) AS de_hits,
         | CASE WHEN en >= de AND en >= es AND en >= fr THEN 'en'
         |      WHEN de >= es AND de >= fr THEN 'de'
         |      WHEN es >= fr THEN 'es' ELSE 'fr' END AS lang_pred
         |FROM h""".stripMargin,
    "llm_token_count" ->
      """SELECT doc_id,
        | CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
        | CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS bpe_tokens
        |FROM documents""".stripMargin,
    "llm_fingerprint" ->
      """SELECT doc_id, md5(text) AS content_hash,
        | md5(array_to_string(list_sort(list_distinct(string_split(lower(text), ' '))), ' ')) AS bow_hash
        |FROM documents""".stripMargin,
    "llm_dedup_exact" ->
      """SELECT md5(text) AS text_hash, CAST(min(doc_id) AS BIGINT) AS keep_id,
        | CAST(count(*) AS BIGINT) AS n_copies
        |FROM documents GROUP BY md5(text)""".stripMargin,
    "llm_pii_scrub" ->
      raw"""WITH d AS (SELECT doc_id,
           |  CASE WHEN doc_id % 7 = 0
           |    THEN text || ' contact user' || doc_id || '@example.com or 555-123-4567'
           |    ELSE text END AS text
           |  FROM documents)
           |SELECT doc_id,
           | CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
           | CAST(len(regexp_extract_all(text, '\+?[0-9]{3}[- ][0-9]{3}[- ][0-9]{4}')) AS BIGINT) AS n_phones,
           | regexp_replace(regexp_replace(text,
           |   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
           |   '\+?[0-9]{3}[- ][0-9]{3}[- ][0-9]{4}', '<PHONE>', 'g') AS clean_text
           |FROM d""".stripMargin,
    "llm_chunking" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |s AS (SELECT doc_id, toks,
        |  unnest(range(1, greatest(len(toks), 1) + 1, 40)) AS start_tok FROM t)
        |SELECT doc_id,
        | CAST((start_tok - 1) // 40 AS BIGINT) AS chunk_idx,
        | CAST(start_tok AS BIGINT) AS start_tok,
        | CAST(len(list_slice(toks, start_tok, start_tok + 49)) AS BIGINT) AS n_tokens,
        | md5(array_to_string(list_slice(toks, start_tok, start_tok + 49), ' ')) AS chunk_hash
        |FROM s""".stripMargin,
    "llm_quality_score" ->
      """SELECT doc_id,
        | CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        | round(greatest(0.0,
        |   1.0 - 2.0 * (len(regexp_extract_all(text, '[^A-Za-z0-9 ]')) / length(text))
        |       - 3.0 * (len(regexp_extract_all(text, '[0-9]')) / length(text))), 4) AS quality_score,
        | (round(greatest(0.0,
        |   1.0 - 2.0 * (len(regexp_extract_all(text, '[^A-Za-z0-9 ]')) / length(text))
        |       - 3.0 * (len(regexp_extract_all(text, '[0-9]')) / length(text))), 4) >= 0.5
        |  AND len(string_split(text, ' ')) BETWEEN 5 AND 10000) AS keep
        |FROM documents""".stripMargin,
    // All-pairs hamming ground truth over the SAME 56-bit md5-derived
    // simhash signatures the Spark side computes: the banded pipeline must
    // reproduce it exactly (complete at hamming ≤ 3 by pigeonhole).
    "llm_dedup_simhash" ->
      s"""WITH $dupDocsCte,
         |h AS (SELECT doc_id, list_transform(string_split(lower(text), ' '),
         |  t -> CAST('0x' || substr(md5(t), 1, 14) AS BIGINT)) AS hs
         |  FROM all_docs),
         |sig AS (SELECT doc_id,
         |  CAST(list_sum(list_transform(range(0, 56), b ->
         |    CASE WHEN 2 * len(list_filter(hs, x -> ((x >> b) & 1) = 1)) > len(hs)
         |      THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)) AS BIGINT) AS sig
         |  FROM h)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
         |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.sig, b.sig)) <= 3""".stripMargin,
    // Ground truth for the MinHash pipeline: ALL pairs with Jaccard ≥ 0.6.
    "llm_dedup_minhash" ->
      s"""WITH $dupDocsCte,
         |$shingleCte
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  round(len(list_intersect(a.s, b.s)) / len(list_distinct(a.s || b.s)), 4) AS jaccard
         |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |WHERE len(list_intersect(a.s, b.s)) / len(list_distinct(a.s || b.s)) >= 0.6""".stripMargin,
    "llm_ngram_jaccard" ->
      s"""WITH $dupDocsCte,
         |$shingleCte
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  round(len(list_intersect(a.s, b.s)) / len(list_distinct(a.s || b.s)), 4) AS jaccard
         |FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1000000
         |WHERE a.doc_id % 10 = 0""".stripMargin,
    // All-pairs truth restricted to pairs involving a new (≥ 1000000) doc;
    // with doc_a < doc_b that is exactly "doc_b is new".
    "llm_dedup_incremental" ->
      s"""WITH $dupDocsCte,
         |$shingleCte
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  round(len(list_intersect(a.s, b.s)) / len(list_distinct(a.s || b.s)), 4) AS jaccard
         |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |WHERE b.doc_id >= 1000000
         |  AND len(list_intersect(a.s, b.s)) / len(list_distinct(a.s || b.s)) >= 0.6""".stripMargin,
    // The persisted-signature path must reproduce the same ground truth.
    "llm_dedup_incremental_persisted" ->
      s"""WITH $dupDocsCte,
         |$shingleCte
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  round(len(list_intersect(a.s, b.s)) / len(list_distinct(a.s || b.s)), 4) AS jaccard
         |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |WHERE b.doc_id >= 1000000
         |  AND len(list_intersect(a.s, b.s)) / len(list_distinct(a.s || b.s)) >= 0.6""".stripMargin,
    // SemDeDup ground truth: survivors = vectors with NO smaller-id
    // same-cluster neighbor at cosine ≥ 0.95 (exact NOT EXISTS).
    "llm_dedup_semantic" ->
      """WITH all_vecs AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |         CAST(label AS BIGINT) AS label FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000, CAST(embedding AS DOUBLE[]),
        |         CAST(label AS BIGINT) FROM embeddings WHERE vec_id % 10 = 0)
        |SELECT a.vec_id, a.label FROM all_vecs a
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM all_vecs b
        |  WHERE b.label = a.label AND b.vec_id < a.vec_id
        |    AND list_dot_product(a.v, b.v) /
        |        sqrt(list_dot_product(a.v, a.v) * list_dot_product(b.v, b.v))
        |        >= 0.95)""".stripMargin,
    // Span-dedup ground truth: first (doc_id, span_idx) per span hash.
    "llm_dedup_spans" ->
      s"""WITH $dupDocsCte,
         |t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM all_docs),
         |s AS (SELECT doc_id, toks,
         |  unnest(range(1, greatest(len(toks), 1) + 1, 10)) AS start_tok FROM t),
         |spans AS (SELECT doc_id,
         |  CAST((start_tok - 1) // 10 AS BIGINT) AS span_idx,
         |  md5(array_to_string(list_slice(toks, start_tok, start_tok + 9), ' ')) AS span_hash
         |  FROM s)
         |SELECT doc_id, span_idx, span_hash,
         |  (row_number() OVER (PARTITION BY span_hash ORDER BY doc_id, span_idx) = 1) AS keep
         |FROM spans""".stripMargin,
    // Clean-rewrite ground truth: first-occurrence spans, reassembled in
    // span order per doc; fully-duplicate docs produce no row.
    "llm_clean_spans" ->
      s"""WITH $dupDocsCte,
         |t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM all_docs),
         |s AS (SELECT doc_id, toks,
         |  unnest(range(1, greatest(len(toks), 1) + 1, 10)) AS start_tok FROM t),
         |spans AS (SELECT doc_id,
         |  CAST((start_tok - 1) // 10 AS BIGINT) AS span_idx,
         |  array_to_string(list_slice(toks, start_tok, start_tok + 9), ' ') AS span_text
         |  FROM s),
         |k AS (SELECT doc_id, span_idx, span_text,
         |  (row_number() OVER (PARTITION BY span_text ORDER BY doc_id, span_idx) = 1) AS keep
         |  FROM spans)
         |SELECT doc_id, string_agg(span_text, ' ' ORDER BY span_idx) AS clean_text
         |FROM k WHERE keep GROUP BY doc_id""".stripMargin,
    // Shared ground truth for llm_cosine_topk AND both exact ANN entries:
    // IVF with nprobe=k and LSH with probeAll must each find the exact
    // top-k, so a hash mismatch there is a recall bug in that ANN path.
    "llm_ann_ivf_exact" -> bruteForceTopkSql,
    "llm_ann_ivf_persisted" -> bruteForceTopkSql,
    // Exact-twin IVF-PQ: full-probe + full-refine re-rank IS brute force.
    "llm_ann_pq_exact" -> bruteForceTopkSql,
    // Ground truth after the corpus delete: brute force over SURVIVORS
    // only — a stale posting in the synced index would rank a deleted
    // vector into some top-10 and break the hash.
    "llm_ann_ivf_persisted_dml" ->
      """WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS q_vec
        |           FROM embeddings WHERE vec_id < 5),
        |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |      WHERE NOT (vec_id % 7 = 3 AND vec_id >= 5)),
        |scored AS (
        |  SELECT q.q_id, c.vec_id,
        |    round(list_dot_product(q.q_vec, c.v) /
        |      sqrt(list_dot_product(q.q_vec, q.q_vec) * list_dot_product(c.v, c.v)), 4) AS sim
        |  FROM q JOIN c ON c.vec_id != q.q_id)
        |SELECT q_id, vec_id, sim, rnk FROM (
        |  SELECT q_id, vec_id, sim,
        |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS BIGINT) AS rnk
        |  FROM scored) WHERE rnk <= 10""".stripMargin,
    // Same survivors-only ground truth for the PQ index after the sync.
    "llm_ann_pq_dml" ->
      """WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS q_vec
        |           FROM embeddings WHERE vec_id < 5),
        |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |      WHERE NOT (vec_id % 7 = 3 AND vec_id >= 5)),
        |scored AS (
        |  SELECT q.q_id, c.vec_id,
        |    round(list_dot_product(q.q_vec, c.v) /
        |      sqrt(list_dot_product(q.q_vec, q.q_vec) * list_dot_product(c.v, c.v)), 4) AS sim
        |  FROM q JOIN c ON c.vec_id != q.q_id)
        |SELECT q_id, vec_id, sim, rnk FROM (
        |  SELECT q_id, vec_id, sim,
        |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS BIGINT) AS rnk
        |  FROM scored) WHERE rnk <= 10""".stripMargin,
    "llm_ann_lsh_persisted" -> bruteForceTopkSql,
    "llm_ann_lsh_exact" -> bruteForceTopkSql,
    "llm_cosine_topk" -> bruteForceTopkSql,
    // Ground truth for the cosine-LSH pipeline: ALL pairs with sim ≥ 0.95.
    "llm_cosine_neardup" ->
      """WITH all_vecs AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id % 10 = 0)
        |SELECT id_a, id_b, sim FROM (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    round(list_dot_product(a.v, b.v) /
        |      sqrt(list_dot_product(a.v, a.v) * list_dot_product(b.v, b.v)), 4) AS sim
        |  FROM all_vecs a JOIN all_vecs b ON a.vec_id < b.vec_id)
        |WHERE sim >= 0.95""".stripMargin,
    "llm_multimodal_meta" ->
      """SELECT doc_id,
        | CAST(octet_length(encode(text)) AS BIGINT) AS bin_len,
        | sha256(text) AS sha,
        | md5(text) AS content_md5
        |FROM documents""".stripMargin,
    "llm_frame_sample" ->
      """SELECT doc_id,
        | unnest(range(0, CAST(octet_length(encode(text)) AS BIGINT), 64)) AS frame_off
        |FROM documents""".stripMargin,
    // Exact recomputation of the byte-histogram decode: byte i's high nibble
    // is hex char 2i+1 of hex(blob); 16-bin counts normalized with the same
    // floor(x*1e4 + 0.5)/1e4 fixing the Spark decoder applies.
    "llm_multimodal_features" ->
      """WITH b AS (
        |  SELECT doc_id, hex(encode(text)) AS hx,
        |         CAST(octet_length(encode(text)) AS BIGINT) AS n
        |  FROM documents),
        |i AS (SELECT doc_id, unnest(range(0, n)) AS i FROM b),
        |e AS (
        |  SELECT i.doc_id, CAST('0x' || substr(b.hx, CAST(2*i.i+1 AS INT), 1) AS INT) AS hi
        |  FROM i JOIN b ON i.doc_id = b.doc_id),
        |cnt AS (SELECT doc_id, hi, count(*) AS c FROM e GROUP BY 1, 2),
        |grid AS (SELECT doc_id, n, unnest(range(0, 16)) AS feature_idx FROM b)
        |SELECT g.doc_id, 'text' AS kind, g.n AS n_bytes,
        |  CAST(g.feature_idx AS BIGINT) AS feature_idx,
        |  CASE WHEN g.n = 0 THEN 0.0
        |       ELSE floor(coalesce(c.c, 0) / g.n * 10000 + 0.5) / 10000 END
        |    AS feature_value
        |FROM grid g LEFT JOIN cnt c
        |  ON c.doc_id = g.doc_id AND c.hi = g.feature_idx""".stripMargin,
    // Components via recursive reachability over the all-pairs ground truth:
    // cluster_id(node) = min reachable node.
    "llm_dedup_clusters" ->
      s"""WITH RECURSIVE $dupDocsCte,
         |$shingleCte,
         |pairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |  WHERE len(list_intersect(a.s, b.s)) / len(list_distinct(a.s || b.s)) >= 0.6),
         |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
         |          UNION SELECT doc_b, doc_a FROM pairs),
         |reach(node, r) AS (
         |  SELECT u, u FROM edges
         |  UNION
         |  SELECT reach.node, e.v FROM reach JOIN edges e ON reach.r = e.u)
         |SELECT node AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id
         |FROM reach GROUP BY node""".stripMargin,
    "llm_sample_stratified" ->
      s"""WITH h AS (SELECT doc_id,
         |  len(list_filter(string_split(lower(text), ' '), x -> list_contains($enArr, x))) AS en,
         |  len(list_filter(string_split(lower(text), ' '), x -> list_contains($deArr, x))) AS de,
         |  len(list_filter(string_split(lower(text), ' '), x -> list_contains($esArr, x))) AS es,
         |  len(list_filter(string_split(lower(text), ' '), x -> list_contains($frArr, x))) AS fr
         | FROM documents),
         |l AS (SELECT doc_id,
         |  CASE WHEN en >= de AND en >= es AND en >= fr THEN 'en'
         |       WHEN de >= es AND de >= fr THEN 'de'
         |       WHEN es >= fr THEN 'es' ELSE 'fr' END AS lang_pred FROM h),
         |r AS (SELECT doc_id, lang_pred,
         |  CAST(row_number() OVER (PARTITION BY lang_pred
         |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rk FROM l)
         |SELECT doc_id, lang_pred, rk FROM r WHERE rk <= 20""".stripMargin,
    "llm_pack_sequences" ->
      """WITH t AS (SELECT doc_id, doc_id % 32 AS shard,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents),
        |c AS (SELECT doc_id, shard, n_tokens, least(n_tokens, 512) AS tok_c,
        |  sum(least(n_tokens, 512)) OVER (PARTITION BY shard ORDER BY doc_id
        |    ROWS UNBOUNDED PRECEDING) AS cum FROM t)
        |SELECT doc_id, CAST(shard AS BIGINT) AS shard, n_tokens,
        |  CAST((cum - tok_c) // 512 AS BIGINT) AS pack_id FROM c""".stripMargin,
    "llm_mix_sources" ->
      """SELECT doc_id,
        | CASE WHEN doc_id % 3 = 0 THEN 'books' ELSE 'web' END AS source,
        | substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS gate
        |FROM documents
        |WHERE doc_id % 3 = 0 OR substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '4d'""".stripMargin,
    "llm_decontaminate" ->
      s"""WITH tsh AS (
         |  SELECT doc_id, unnest($shingleExprSql) AS shingle
         |  FROM documents WHERE doc_id % 17 <> 0),
         |esh AS (
         |  SELECT DISTINCT unnest($shingleExprSql) AS shingle
         |  FROM documents WHERE doc_id % 17 = 0),
         |c AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_overlap
         |  FROM tsh JOIN esh USING (shingle) GROUP BY doc_id)
         |SELECT d.doc_id, COALESCE(c.n_overlap, 0) AS n_overlap,
         |  COALESCE(c.n_overlap, 0) >= 1 AS contaminated
         |FROM documents d LEFT JOIN c USING (doc_id)
         |WHERE d.doc_id % 17 <> 0""".stripMargin,
    "llm_repetition" ->
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks
        |           FROM documents),
        |g AS (SELECT doc_id, toks,
        |  CASE WHEN len(toks) >= 2
        |    THEN list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
        |    ELSE CAST([] AS VARCHAR[]) END AS grams FROM t),
        |r AS (SELECT doc_id,
        |  round(1.0 - len(list_distinct(toks)) / len(toks), 4) AS dup_token_ratio,
        |  round(CASE WHEN len(grams) > 0 THEN
        |      list_max(list_transform(list_distinct(grams),
        |        x -> len(list_filter(grams, y -> y = x)))) / len(grams)
        |    ELSE 0.0 END, 4) AS top_2gram_ratio FROM g)
        |SELECT doc_id, dup_token_ratio, top_2gram_ratio,
        |  dup_token_ratio <= 0.3 AND top_2gram_ratio <= 0.2 AS keep FROM r""".stripMargin
  )
}
