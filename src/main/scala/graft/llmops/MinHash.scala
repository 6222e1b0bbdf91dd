package graft.llmops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

/** Near-duplicate detection: MinHash+LSH, SimHash, and exact n-gram Jaccard.
  *
  * Scale design (the 100 TB story): candidate generation is always a
  * *bucketed equi-join* on (band, bandHash) — never an all-pairs cross join.
  * Cost is O(docs × perms) for signatures (one shuffle, map-side combined)
  * plus a join whose width is the bucket size distribution; giant buckets
  * (degenerate shingles) can be dropped with `maxBucket` to bound skew.
  */
object MinHash {

  /** 3-token shingles (distinct, lowercased). Documents shorter than 3
    * tokens fall back to the whole text as a single shingle. */
  def withShingles(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("doc_id"), col(textCol))
      .withColumn("toks", split(lower(col(textCol)), " "))
      .withColumn("shingles", array_distinct(
        when(size(col("toks")) >= 3,
          expr("transform(sequence(1, size(toks) - 2), " +
            "i -> concat_ws(' ', toks[i-1], toks[i], toks[i+1]))"))
          .otherwise(array(concat_ws(" ", col("toks"))))))
      .drop("toks", textCol)

  /** MinHash signatures: numPerms seeded-xxhash64 mins over the shingle set,
    * computed per-row in one pass by a native expression
    * ([[graft.functions.VectorExprs.MinHashSig]]) — no explode, no shuffle;
    * signature cost is O(shingles × perms) inside whole-stage codegen. */
  def signatures(shingled: DataFrame, numPerms: Int): DataFrame =
    shingled.select(col("doc_id"),
      graft.functions.VectorExprs.minhashSigCol(col("shingles"), numPerms).as("sig"))

  /** Spread a CPU-heavy per-row pipeline beyond its input's split count —
    * generalized to [[graft.operators.Spread.toCores]] (r21), kept here as
    * the dedup family's local name. */
  private[llmops] def spread(df: DataFrame, key: String): DataFrame =
    graft.operators.Spread.toCores(df, key)

  /** Hashed shingle set: (doc_id, sh) where `sh` is the sorted-distinct
    * xxhash64 array of the 3-token shingles — ONE native pass over the
    * lowered text ([[graft.functions.ShingleExprs.ShingleHashes]]), r22.
    * Replaces the string-array [[withShingles]] in every hot path: the
    * string pipeline ran interpreted higher-order functions per row and
    * carried ~25-byte strings through cache/shuffle where 8-byte longs
    * suffice. Jaccard over the hashed sets ([[jaccard]]) is value-identical
    * to the string-set Jaccard absent a same-pair 64-bit collision
    * (P < 1e-12 per compared pair — see ShingleExprs). */
  def withShingleHashes(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("doc_id"),
      graft.functions.ShingleExprs.shingleHashesCol(col(textCol)).as("sh"))

  /** The shared shingle+signature pass behind [[nearDupPairs]] and
    * [[incrementalNearDupPairs]]: (doc_id, sh, sig) with the per-row
    * O(shingles + perms·shingles) hashing spread across every core.
    * Callers cache the result — BOTH the candidate pass (sig) and the
    * verify pass (sh) re-scan it, and without `sig` inside the cached
    * projection every broadcast/join subtree of the candidate join re-ran
    * the full signature computation (measured: the dominant cost of the
    * dedup family at sf0.1, recomputed up to 6x per action at file-bound
    * parallelism 2). r22: shingles live as hashed longs (see
    * [[withShingleHashes]]) and the per-perm values are integer mixes of
    * the shingle hash ([[graft.functions.VectorExprs.MinHashSigFromHashes]])
    * — the string bytes are hashed exactly once per shingle. */
  def withSignatures(df: DataFrame, idCol: String, textCol: String,
                     numPerms: Int): DataFrame =
    withShingleHashes(spread(df.select(col(idCol).as("doc_id"), col(textCol)),
        "doc_id"), "doc_id", textCol)
      .withColumn("sig",
        graft.functions.VectorExprs.minhashSigFromHashesCol(col("sh"), numPerms))

  /** LSH banding: numBands bands of (numPerms / numBands) rows; a band's
    * bucket key is the hash of its signature slice. Emits (doc_id, band, bh). */
  def bands(sigs: DataFrame, numPerms: Int, numBands: Int): DataFrame = {
    require(numPerms % numBands == 0,
      s"numPerms ($numPerms) must be divisible by numBands ($numBands) — " +
        "trailing permutations would be silently ignored, degrading recall")
    val rows = numPerms / numBands
    val bandStructs = (0 until numBands).map { b =>
      val slice = (b * rows until (b + 1) * rows).map(i => element_at(col("sig"), i + 1))
      struct(lit(b).as("band"), xxhash64(lit(b) +: slice: _*).as("bh"))
    }
    sigs.select(col("doc_id"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bh").as("bh"))
  }

  /** Candidate pairs (doc_a < doc_b), deduped across bands. ONE exchange:
    * each bucket's members are grouped in a single map-side-combinable
    * aggregate and the (a < b) pairs expanded in-row — replacing the
    * previous size-aggregate + join-back + bucket self-join, which scanned
    * the band stream three times and shuffled it twice for the same pair
    * set. Buckets larger than maxBucket are dropped before the expansion
    * (same skew guard, same accumulator accounting), so the in-row pair
    * work stays O(maxBucket²) per bucket — exactly the bound the
    * self-join had. */
  def candidates(bandDf: DataFrame, maxBucket: Int = 1000): DataFrame = {
    val grouped = bandDf.groupBy(col("band"), col("bh"))
      .agg(collect_list(col("doc_id")).as("ms"))
      .filter(Similarity.bucketKeep(bandDf, maxBucket)(
        size(col("ms")).cast("long")))
      .filter(size(col("ms")) >= 2)
    val ms = col("ms")
    val pairs = flatten(transform(ms, (x, i) =>
      transform(slice(ms, i + lit(2), size(ms)), y =>
        struct(least(x, y).as("doc_a"), greatest(x, y).as("doc_b")))))
    // explode_outer, not explode: the array is provably non-empty
    // (size >= 2 guard above), and plain explode would re-inline the whole
    // pair-expansion expression into a pushed-down emptiness guard.
    grouped.select(explode_outer(pairs).as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .distinct()
  }

  /** Exact n-gram Jaccard over given pairs: join the hashed shingle sets
    * (`sh` — the [[withShingleHashes]] sorted-distinct invariant) back and
    * compute |A∩B| / |A∪B| by linear merge — the same exact-integer IEEE
    * division the string-set `size(array_intersect)/size(array_union)`
    * produced. */
  def jaccard(pairs: DataFrame, shingled: DataFrame): DataFrame = {
    val sa = shingled.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
    val sb = shingled.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))
    pairs.join(sa, "doc_a").join(sb, "doc_b")
      .withColumn("jaccard",
        graft.functions.ShingleExprs.jaccardSortedCol(col("sh_a"), col("sh_b")))
      .select("doc_a", "doc_b", "jaccard")
  }

  /** Full MinHash-LSH near-dup pipeline: shingle → sign → band → bucket-join
    * → exact-Jaccard verify ≥ threshold. */
  def nearDupPairs(df: DataFrame, idCol: String, textCol: String,
                   numPerms: Int = 64, numBands: Int = 16,
                   threshold: Double = 0.6): DataFrame = {
    val sigd = withSignatures(df, idCol, textCol, numPerms).cache()
    val cand = candidates(bands(sigd.select(col("doc_id"), col("sig")),
      numPerms, numBands))
    jaccard(cand, sigd.select(col("doc_id"), col("sh")))
      .filter(col("jaccard") >= threshold)
      .withColumn("jaccard", round(col("jaccard"), 4))
  }

  /** Incremental near-dup detection: find pairs involving at least one NEW
    * document (a fresh batch, e.g. served by `Snapshots.changes`) against
    * the full corpus — the 100 TB dedup shape, where re-deduping the whole
    * corpus per ingest is a non-starter. The bucket join is new-side ×
    * corpus-side: cost is O(new × bucket width), never O(corpus²). Corpus
    * signatures are recomputed here; [[SignatureStore]] persists them.
    * Pairs are normalized (doc_a < doc_b) and include new-vs-new. */
  def incrementalNearDupPairs(corpus: DataFrame, newIds: DataFrame,
                              idCol: String, textCol: String,
                              numPerms: Int = 64, numBands: Int = 16,
                              threshold: Double = 0.6,
                              maxBucket: Int = 1000): DataFrame = {
    requireIntegralId(corpus, idCol)
    val sigd = withSignatures(corpus, idCol, textCol, numPerms).cache()
    val banded = bands(sigd.select(col("doc_id"), col("sig")),
      numPerms, numBands)
    // NOT checkpointed (r22, measured): pinning `fresh` to stop the
    // broadcast builds re-executing the caller's change-feed read was
    // tried and showed no win at sf0.1 (1.30 vs 1.37 s probe median —
    // inside noise); the persisted/streaming path (SignatureStore)
    // already pins its feed, and this in-memory variant is the
    // small-fixture path by design.
    val fresh = newIds.select(col(idCol).as("doc_id")).distinct()
    // Fresh band rows from the (cached) signature projection joined to the
    // fresh ids — O(batch), instead of a second full derivation of
    // `banded` inside the candidate pre-filter.
    val freshBands = bands(
      sigd.select(col("doc_id"), col("sig"))
        .join(broadcast(fresh), Seq("doc_id")),
      numPerms, numBands)
    incrementalPairs(banded, fresh, freshBands, threshold, maxBucket)(
      _ => sigd.select(col("doc_id"), col("sh")))
  }

  /** Signature kernel version in every signature store's build stamp:
    * bump it whenever shingling, signing or banding changes its output. */
  private[llmops] val Kernel = 2

  /** The candidate + verify core of both incremental entry points, which
    * differ only in where corpus `banded` rows and the `shingled(cand)`
    * (doc_id, sh) rows of candidate endpoints come from. `freshBands` are
    * the batch's own band rows. Candidates are pinned: a `shingled` that
    * reads from them would otherwise re-run the candidate pass. */
  private[llmops] def incrementalPairs(banded: DataFrame, fresh: DataFrame,
                                       freshBands: DataFrame,
                                       threshold: Double, maxBucket: Int)(
      shingled: DataFrame => DataFrame): DataFrame = {
    val cand = incrementalCandidates(banded, fresh, maxBucket, Some(freshBands))
      .localCheckpoint(false)
    jaccard(cand, shingled(cand))
      .filter(col("jaccard") >= threshold)
      .withColumn("jaccard", round(col("jaccard"), 4))
  }

  /** Incremental candidates carry (doc_id, fresh) as one long,
    * doc_id·2 + fresh: ids must be integral, and |id| < 2^62. */
  private[llmops] def requireIntegralId(df: DataFrame, idCol: String): Unit = {
    val t = df.schema(idCol).dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(t),
      s"incremental dedup needs an integral id column: '$idCol' is " +
        s"${t.simpleString} (ids must be byte/short/int/bigint with |id| < 2^62)")
  }

  /** Candidate pairs involving ≥ 1 fresh doc — the incremental dual of
    * [[candidates]], r21-restructured the same way: ONE exchange. The old
    * topology (bucket size-aggregate + join-back + new-side join + new×all
    * bucket join) shuffled the band stream three times; here each bucket is
    * grouped once with an in-row freshness flag (the fresh-id set is an
    * ingest batch — bounded by design, broadcast like every other new-side
    * structure in the incremental path), buckets with no fresh member are
    * discarded in-row, and (a < b) pairs with ≥ 1 fresh endpoint expand
    * in-row. The skew guard is unchanged: size(ms) is the FULL bucket
    * population, same maxBucket bound, same accumulator accounting. */
  private[graft] def incrementalCandidates(banded: DataFrame,
                                            fresh: DataFrame,
                                            maxBucket: Int,
                                            freshBands: Option[DataFrame] = None)
      : DataFrame = {
    // Candidate-bucket pre-filter (r22): only buckets holding ≥ 1 fresh doc
    // can emit a pair, so the grouped aggregate below need never see the
    // rest. The fresh docs' bucket keys are bounded by the ingest batch
    // (|fresh| × numBands — the same by-design bound that lets `fresh`
    // itself broadcast), so this is one broadcast-hash semi-join ABOVE the
    // band scan: the grouped exchange then carries candidate-bucket rows
    // only, instead of shuffling the ENTIRE persisted band table through an
    // object aggregate once per ingest batch — at corpus scale the
    // difference between O(batch-touched buckets) and O(corpus) per run.
    // The skew guard is unchanged: the pre-filter keeps whole buckets, so
    // size(ms) still sees the full bucket population (only buckets that
    // cannot contribute — and were previously discarded AFTER the shuffle
    // by the exists(fr) filter — drop out of the guard's accumulator
    // accounting).
    //
    // `freshBands`: the batch's own band rows, when the caller can supply
    // them in O(batch) (recomputed from the batch text, or the batch's own
    // commit) — deriving the bucket keys from them avoids a SECOND full
    // scan of `banded` just to find the fresh docs' buckets. Must carry
    // the same banding scheme as `banded` (the store contract). Defaults
    // to deriving them from `banded` itself.
    val fkeys = freshBands.getOrElse(
        banded.join(broadcast(fresh), Seq("doc_id")))
      .select(col("band"), col("bh")).distinct()
    // (doc_id, fresh) encoded as one long — doc_id·2 + fresh, widened to
    // long BEFORE the multiply (an int id ≥ 2^30 would overflow) — so the
    // collect_list aggregates a primitive array instead of per-element
    // InternalRow structs (r22: the object aggregate was the candidate
    // pass's dominant term). Monotone in doc_id, so least/greatest order
    // is preserved; decoded with shifts in the expansion below.
    val flagged = banded
      .join(broadcast(fkeys), Seq("band", "bh"), "left_semi")
      .join(broadcast(fresh.withColumn("__new", lit(true))),
        Seq("doc_id"), "left")
      .select(col("band"), col("bh"),
        (col("doc_id").cast("long") * 2 +
          when(coalesce(col("__new"), lit(false)), 1L).otherwise(0L)).as("m"))
    val grouped = flagged.groupBy(col("band"), col("bh"))
      .agg(collect_list(col("m")).as("ms"))
      .filter(Similarity.bucketKeep(flagged, maxBucket)(
        size(col("ms")).cast("long")))
      .filter(size(col("ms")) >= 2)
      .filter(exists(col("ms"), m => m.bitwiseAND(lit(1L)) === 1))
    val ms = col("ms")
    // Bit tests, not %: Spark's % keeps the dividend's sign, which would
    // mis-flag negative ids; & 1 and the arithmetic shift are sign-safe.
    val fr = (x: Column) => x.bitwiseAND(lit(1L)) === 1
    val id = (x: Column) => shiftright(x, 1)
    val pairs = flatten(transform(ms, (x, i) =>
      filter(
        transform(slice(ms, i + lit(2), size(ms)), y =>
          when(fr(x) || fr(y),
            struct(
              least(id(x), id(y)).as("doc_a"),
              greatest(id(x), id(y)).as("doc_b")))),
        p => p.isNotNull)))
    grouped.select(explode_outer(pairs).as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .distinct()
  }

  /** 56-bit SimHash over token hashes: per bit, sum +1/-1 weighted by token
    * occurrences; the sign vector is the fingerprint. The token hash is the
    * first 14 hex chars of md5 — engine-portable (DuckDB computes the
    * identical value with `CAST('0x' || substr(md5(t),1,14) AS BIGINT)`), so
    * the whole signature is oracle-checkable, unlike xxhash64 which exists
    * only in Spark. The sign accumulation is still the native single-pass
    * kernel ([[graft.functions.SimHash64Expr]]) — no explode, no shuffle,
    * stays inside whole-stage codegen; bits 56-63 are simply never set. */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("doc_id"),
      graft.functions.SimHash64Expr.simhash64(
        graft.functions.Md5Prefix56Expr.hashArray(
          split(lower(col(textCol)), " "))).as("sig"))

  /** SimHash near-dup: band the 56-bit signature into four 14-bit chunks
    * (even coverage — a 16-bit split would leave the top chunk only 8
    * effective bits and 256 possible buckets, a skew magnet at corpus
    * scale); candidates share ≥1 chunk, verified by exact hamming
    * distance. By pigeonhole the banding finds EVERY pair with hamming
    * ≤ 3 (4 chunks can't all differ), so at the default threshold the
    * result is exact — the all-pairs hamming ground truth, found without
    * the O(n²) join. Thresholds above 3 trade completeness for
    * recall-most. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3, maxBucket: Int = 1000): DataFrame = {
    // Spread the md5-per-token signature pass beyond the input's
    // (file-bound) split count and cache the 8-byte/doc result: the skew
    // guard and both self-join sides re-scan it, and uncached each
    // re-ran the full O(tokens) hashing.
    val sigs = simhash(
      spread(df.select(col(idCol).as("doc_id"), col(textCol)), "doc_id"),
      "doc_id", textCol).cache()
    val chunkStructs = (0 until 4).map { c =>
      struct(lit(c).as("band"),
        shiftright(col("sig"), c * 14).bitwiseAND(lit(16383L)).as("bh"))
    }
    val chunked = sigs
      .select(col("doc_id"), col("sig"), explode(array(chunkStructs: _*)).as("bb"))
      .select(col("doc_id"), col("sig"), col("bb.band").as("band"), col("bb.bh").as("bh"))
    // Join-based pair scoring, DELIBERATELY (r21 A/B, same cache+spread on
    // both sides): a grouped in-row pair expansion was tried and measured
    // NO better at sf0.1 (join 1.26 s vs grouped 1.32 s probe-median) and
    // ~40% worse at the 10× sf1 gate (1.72 s vs 2.5–3.2 s) — with 14-bit
    // buckets the population is mostly singletons, so collect_list's
    // object aggregate plus per-bucket interpreted higher-order-function
    // evaluation dominates, while the codegen'd self-join streams. (The
    // grouped form DOES win for [[candidates]]' 64-bit minhash buckets —
    // 0.80× at sf1 — where the three-fold band-stream shuffle it removes
    // is the bigger term. Measured per family, not assumed.)
    val guarded = Similarity.dropLargeBuckets(chunked, Seq("band", "bh"), maxBucket)
    val a = guarded.select(col("band"), col("bh"),
      col("doc_id").as("doc_a"), col("sig").as("sig_a"))
    val b = guarded.select(col("band"), col("bh"),
      col("doc_id").as("doc_b"), col("sig").as("sig_b"))
    a.join(b, Seq("band", "bh")).filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }
}
