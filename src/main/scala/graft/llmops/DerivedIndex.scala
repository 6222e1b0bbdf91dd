package graft.llmops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ingest.{Compaction, FileStats, Merge, Snapshot, Snapshots, TxnCommit}

/** The one contract under every derived index ([[SignatureStore]],
  * [[LshStore]], [[IvfStore]] flat and PQ): posting tables committed
  * through [[TxnCommit.writeTables]], kept in step with the corpus by one
  * change-feed [[sync]], re-clustered by one [[compact]], probed by one
  * [[probe]], and self-describing through a BUILD STAMP: `index.*` table
  * properties holding the index kind and every parameter its rows depend
  * on, written in the same commit as the first rows (or a rebuild's swap).
  * Two schemes in one index do not fail on their own — their band hashes,
  * bucket or cell ids just never meet and recall drops to nothing — so
  * every append, sync, compaction and query checks the stamp and refuses a
  * mismatch naming the key; a table written before stamps existed is
  * refused until rebuilt. Scheme parameters are given once, at build.
  * Each entry point reads the stamp, the live files and the postings from
  * the one [[Snapshot]] its operation took, so a rebuild landing
  * mid-operation is either wholly seen or not at all.
  */
private[llmops] object DerivedIndex {

  /** A build stamp: `index.*` property name → value. */
  type Stamp = Map[String, String]

  val KindKey = "index.kind"

  def stamp(kind: String, params: (String, Any)*): Stamp =
    Map(KindKey -> kind) ++ params.map { case (k, v) => s"index.$k" -> v.toString }

  def param(st: Stamp, name: String): Int = st(s"index.$name").toInt

  /** One index's posting table: `key` is the column corpus changes delete
    * by, `clusterBy` the column its files are range-clustered on (what
    * query-time pruning and compaction keep selective), and `build` the
    * stamp keys this code fixes regardless of scheme (kind, kernel). */
  final case class Postings(table: String, key: String, clusterBy: String,
                            build: Stamp)

  private def recorded(snap: Snapshot, table: String): Stamp =
    snap.properties(table).filter(_._1.startsWith("index."))

  /** `table`'s stamp at `snap`; None for a table never written. A table
    * that holds rows but no stamp predates stamped indexes and is
    * refused. */
  def stampOf(snap: Snapshot, table: String): Option[Stamp] = {
    val st = recorded(snap, table)
    if (st.contains(KindKey)) Some(st)
    else {
      require(snap.files(table).isEmpty,
        s"derived index '$table' under ${snap.warehouse} has no build stamp " +
          s"($KindKey unset): it was written before indexes recorded their " +
          "scheme — rebuild it")
      None
    }
  }

  /** Refuse unless `have` agrees with `want` on every key of `want`. */
  def agree(table: String, have: Stamp, want: Stamp): Unit =
    want.toSeq.sortBy(_._1).foreach { case (k, v) =>
      require(have.get(k).contains(v),
        s"derived index '$table' mismatch on $k: built with " +
          s"$k=${have.getOrElse(k, "<unset>")}, this call needs $k=$v " +
          "(an index keeps one scheme — rebuild it to change it)")
    }

  /** The stamp of an index that must exist at `snap`, checked against
    * `want`. */
  def check(snap: Snapshot, table: String, want: Stamp): Stamp = {
    val st = stampOf(snap, table).getOrElse(
      throw new IllegalArgumentException(
        s"no derived index '$table' under ${snap.warehouse} — build it first"))
    agree(table, st, want)
    st
  }

  /** Commit `(table, stamp, rows)` parts as ONE log version, checked
    * against `snap`. An append (`replace = false`) checks each table's
    * stamp against its part's and stamps a table on its first write. A
    * build (`replace = true`) swaps every file the tables hold at `snap`
    * out in the same version, OCC-based on `snap` against concurrent
    * writers of those tables, and re-stamps them — so a rebuild is also how
    * an unstamped or re-schemed index is replaced. */
  def write(snap: Snapshot, parts: Seq[(String, Stamp, DataFrame)],
            replace: Boolean = false): Unit = {
    val metas = parts.flatMap { case (t, st, _) =>
      val have = if (replace) Some(recorded(snap, t)) else stampOf(snap, t)
      if (!replace) have.foreach(agree(t, _, st))
      if (have.contains(st)) None
      else Some(Snapshots.propsMetaEntry(snap, t, st))
    }
    val old = if (!replace) Nil else parts.flatMap { case (t, _, _) =>
      snap.files(t).map(_.file)
    }
    TxnCommit.writeTables(snap.fs, snap.warehouse,
      parts.map { case (t, _, rows) => t -> rows.write },
      retained = old, op = if (old.isEmpty) "append" else "merge",
      baseVersion = if (replace) snap.version else None, metas = metas)
  }

  /** Propagate corpus DML since `fromExclusive` into `p`: every touched
    * key's postings are vector-deleted (merge-on-read, O(changed keys)),
    * then the keys alive at the range's end go to `append` — once, with
    * their final payload. Deletes commit first, so an interrupted sync is
    * conservatively delete-complete and the re-run's feed re-appends.
    * Returns `append`'s result, None when nothing survived. */
  def sync[A](spark: SparkSession, warehouse: String, p: Postings,
              corpusTable: String, fromExclusive: Long, idCol: String,
              payloadCol: String)(append: DataFrame => A): Option[A] = {
    check(Snapshots.snapshot(spark, warehouse), p.table, p.build)
    // The feed drives several actions — pin it once (ContextCleaner-
    // managed blocks; it is O(changed rows) small).
    val feed = Snapshots.changes(spark, warehouse, corpusTable, fromExclusive)
      .select(col(idCol), col(payloadCol), col("_change_type"),
        col("_commit_version"))
      .localCheckpoint(false)
    val (touched, alive) = net(feed, idCol, Seq(payloadCol))
    Merge.deleteKeysDv(spark, warehouse, p.table,
      touched.select(col(idCol).as(p.key)), Seq(p.key))
    if (alive.isEmpty) None else Some(append(alive))
  }

  /** Net state of a change-feed range, per-key LAST-WRITER-WINS over
    * `_commit_version`: `touched` is every changed key (its old postings
    * go whatever its final state), `alive` one payload row per key whose
    * latest change leaves it live. The naive split (delete preimage ids,
    * append every postimage) would resurrect a key inserted then deleted
    * inside the range, and append both postimages of a key updated twice.
    * (Within one version a key has at most one non-preimage row — a
    * commit is one DML operation — so the ordering is total.) */
  private def net(feed: DataFrame, idCol: String, payloadCols: Seq[String])
      : (DataFrame, DataFrame) = {
    val w = Window.partitionBy(idCol).orderBy(col("_commit_version").desc)
    val finals = feed
      .filter(col("_change_type").isin("insert", "update_postimage", "delete"))
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1)
    val touched = feed.select(col(idCol)).distinct()
    val alive = finals.filter(col("_change_type") =!= "delete")
      .select(idCol, payloadCols: _*)
    (touched, alive)
  }

  /** Bin-pack + re-cluster `p`'s postings by its clustering column. Many
    * small appends erode the range layout [[probe]] depends on (a late
    * append covers the full key range); one range exchange restores
    * disjoint per-file intervals in an OCC-guarded atomic swap, and
    * materializes away the deletion vectors [[sync]] leaves. The stamp
    * check, the inputs and the OCC base come from one snapshot. */
  def compact(spark: SparkSession, warehouse: String, p: Postings,
              targetBytes: Long): Option[Compaction.Result] = {
    val snap = Snapshots.snapshot(spark, warehouse)
    check(snap, p.table, p.build)
    Compaction.compact(spark, snap, p.table, targetBytes, minInputFiles = 2,
      retainRemoved = true, sortBy = Seq(p.clusterBy), partitionFilter = null,
      purgeDropped = false, maxInputBytes = Long.MaxValue,
      maxInputFiles = Int.MaxValue)
  }

  /** `p`'s postings at `snap` whose clustering key is one of `keys`,
    * reading only the files whose log-side [min,max] can hold one (nothing
    * for none). */
  def probe(spark: SparkSession, snap: Snapshot, p: Postings,
            keys: Seq[Any]): DataFrame =
    if (keys.isEmpty) snap.read(spark, p.table).limit(0)
    else snap.read(spark, p.table,
        dataFilter = keys.map(FileStats.eq(p.clusterBy, _)).reduce(_ or _))
      .filter(col(p.clusterBy).isInCollection(keys))
}
