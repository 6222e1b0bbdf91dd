package graft.ingest

import java.nio.charset.StandardCharsets
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrameWriter, Row}

/** Manifest-based transactional commit spanning the multi-table demux data
  * appends AND the checkpoint append (closing the reference's at-least-once
  * window, huckli-import/src/lib.rs:202-210 / huckli-db/src/lib.rs:32-41:
  * data then checkpoint, non-atomic).
  *
  * Protocol (minimal Delta-style, no extra jars):
  *  1. STAGE   — every output (each demux table batch + the files_processed
  *               batch) is written to `warehouse/_staging/<commitId>/…`;
  *               nothing under the live tables changes.
  *  2. COMMIT  — a manifest listing every staged-file → live-file move is
  *               written to `_commits/<commitId>.manifest.tmp` and renamed to
  *               `.manifest`. The rename is the commit point.
  *  3. PUBLISH — each staged part file is renamed into its live table
  *               directory (per-file rename is atomic on HDFS/local; on S3A
  *               rename is copy+delete, so pair this with a single-writer
  *               job or a real table format there). The manifest and staging
  *               dir are deleted only after every move has landed.
  *
  * Recovery (run before any read of the checkpoint):
  *  - a `.manifest` present ⇒ the job crashed mid-publish: re-apply the
  *    remaining moves (idempotent — a move whose source is gone already
  *    landed), then clean up. Data and checkpoint become visible together.
  *  - a staging dir without a manifest ⇒ crash before the commit point: no
  *    live state changed; delete the orphan. The re-run re-processes the
  *    files from scratch — exactly-once either way.
  */
object TxnCommit {

  private def commitsDir(warehouse: String) = new Path(s"$warehouse/_commits")
  private def stagingRoot(warehouse: String) = new Path(s"$warehouse/_staging")
  def stagingDir(warehouse: String, commitId: String): String =
    s"$warehouse/_staging/$commitId"

  /** One staged-file move: src (staging) → dest (live table dir). */
  case class Move(src: String, dest: String)

  /** Data files Spark wrote under a staged output dir, recursively — a
    * `partitionBy` write nests them in Hive-style `k=v` subdirectories
    * (part files only; `_SUCCESS` markers stay behind and are removed with
    * the staging dir). */
  def stagedParts(fs: FileSystem, stagedDir: String): Seq[Path] = {
    val p = new Path(stagedDir)
    if (!fs.exists(p)) return Seq.empty
    def walk(d: Path): Seq[Path] =
      fs.listStatus(d).toSeq.flatMap { st =>
        if (st.isDirectory) walk(st.getPath)
        else if (st.getPath.getName.startsWith("part-")) Seq(st.getPath)
        else Seq.empty
      }
    walk(p)
  }

  /** Moves publishing a staged table batch: the staged layout below the
    * table dir (including `k=v` partition subdirectories) is preserved at
    * the destination, and file names are prefixed with the commitId so
    * publishes are collision-free and idempotent. */
  def movesFor(fs: FileSystem, warehouse: String, commitId: String,
               table: String): Seq[Move] = {
    val root = s"${stagingDir(warehouse, commitId)}/$table"
    val rootPath = new Path(root).toUri.getPath
    stagedParts(fs, root).map { src =>
      val rel = src.getParent.toUri.getPath.stripPrefix(rootPath)
        .stripPrefix("/")
      val destDir =
        if (rel.isEmpty) s"$warehouse/$table" else s"$warehouse/$table/$rel"
      Move(src.toString, s"$destDir/$commitId-${src.getName}")
    }
  }

  /** The staged multi-table writer: each `(table, writer)` stages under
    * one commit id and all [[commit]] + [[publish]] as ONE log version — a
    * swap adds `retained`/`op`/`baseVersion`, and `metas` (e.g. a build
    * stamp) land with the rows. Callers shape their own writers. */
  def writeTables(fs: FileSystem, warehouse: String,
                  tables: Seq[(String, DataFrameWriter[Row])],
                  retained: Seq[String] = Nil, op: String = "append",
                  baseVersion: Option[Long] = None,
                  metas: Seq[(String, String)] = Nil): Unit = {
    val cid = java.util.UUID.randomUUID().toString
    tables.foreach { case (t, w) => w.parquet(s"${stagingDir(warehouse, cid)}/$t") }
    val moves = tables.flatMap { case (t, _) => movesFor(fs, warehouse, cid, t) }
    commit(fs, warehouse, cid, moves, retained = retained, op = op,
      baseVersion = baseVersion, metas = metas)
    publish(fs, warehouse, cid, moves, retained = retained, op = op,
      baseVersion = baseVersion, metas = metas)
  }

  /** The table a destination file belongs to: the first ancestor directory
    * that is NOT a Hive-style `k=v` partition segment. Destinations are
    * `<warehouse>/<table>[/<k=v>...]/<file>`, so inferring by parent-dir
    * name alone would call a partitioned file's table "dt=2024-01-01". */
  private val PartSegRe = raw"[^=/]+=[^/]*".r
  private[ingest] def tableOf(p: String): String = {
    var dir = new Path(p).getParent
    while (dir != null && PartSegRe.matches(dir.getName)) dir = dir.getParent
    dir.getName
  }

  /** Is this destination a row-level change file (staged by [[Merge]] under
    * `<warehouse>/_changes/<table>/`)? Those ride the same manifest/publish
    * path as data files but land in the log as CDF lines, not ADDs. */
  private def isChangeDest(p: String): Boolean =
    new Path(p).getParent.getParent.getName == "_changes"

  /** Is this destination a deletion-vector parquet (staged by [[Merge]]'s
    * merge-on-read DML under `<warehouse>/_dv/<table>/`)? Those ride the
    * manifest too but land in the log as DV attachment lines — never as
    * ADDs, and never schema-validated against the table (their schema is
    * (file, pos), not the table's). */
  private def isDvDest(p: String): Boolean =
    new Path(p).getParent.getParent.getName == "_dv"

  /** Is this destination a sidecar bloom file (spilled by the stats
    * collector under `<warehouse>/_bloomidx/<table>/` for bitsets too big
    * for a log line)? Rides the manifest — atomic with the data whose ADD
    * line points at it — but never becomes an ADD itself. A sidecar whose
    * last pointing ADD line leaves the retained log is reaped by
    * [[Snapshots.vacuum]]'s orphan sweep. */
  private def isBloomDest(p: String): Boolean =
    new Path(p).getParent.getParent.getName == "_bloomidx"

  /** Schema enforcement at the commit point (the Delta stance): every
    * staged file's top-level columns must type-match the table's current
    * committed schema on shared names — new columns are additive evolution
    * (allowed; `read(mergeSchema=true)` surfaces them), but silently
    * changing a column's type would poison every future read. Throws
    * before anything becomes visible; staging is reclaimed by recovery's
    * TTL sweep.
    *
    * Known TOCTOU window: two concurrent FIRST appends to a brand-new
    * table with conflicting schemas both see an empty current schema and
    * both pass — the same window Delta closes by revalidating inside its
    * OCC retry loop. Rewrites (merge/compact) are already serialized by
    * `baseVersion`; plain appends to an established table validate against
    * a schema that only ever grows, so the race is confined to the
    * table-creation instant. */
  /** Repetition (required vs optional) never poisons a read — Spark reads
    * every parquet column as nullable, so a literal-assignment rewrite that
    * happens to emit `required` into an `optional`-committed column (or
    * vice versa) is structurally the same type. Strip the repetition
    * tokens before comparing; everything else about the type must match. */
  private[ingest] def repNorm(tag: String): String =
    tag.replaceAll("\\b(required|optional)\\b\\s*", "")

  /** Safe type widening (the Delta `delta.enableTypeWidening` family,
    * restricted to the two promotions every engine reads losslessly):
    * a column may mix plain INT32/INT64 files, or plain FLOAT/DOUBLE
    * files, across commits. The table's effective type is the WIDEST live
    * tag — [[Snapshots.footerSchema]] resolves reads with an explicit
    * widened schema, and Spark's vectorized parquet reader materializes
    * the narrow files at the wide type. Both directions are accepted: a
    * wider file widens the table; a narrower file after the widening is
    * the rolling-upgrade writer, and reading it at the wide type is
    * exact. Annotated types (DATE rides INT32, DECIMAL rides both) never
    * match the plain tags, so they keep the strict path. */
  private val Widenable =
    Set(Set("INT32", "INT64"), Set("FLOAT", "DOUBLE"))
  /** DECIMAL widening (SURVEY §1.1's u64 escape hatch): decimal(p,s) files
    * may mix with decimal(p+k,s) — same scale, any precisions, any
    * physical carrier (INT32/INT64/FIXED per precision band) — and the
    * table reads at the widest live precision. Scale changes rescale
    * values and stay rejected. */
  private val DecTagRe =
    raw"(?:INT32|INT64|BINARY|FIXED_LEN_BYTE_ARRAY)\s*/\s*DECIMAL\((\d+),(\d+)\)".r
  private def decimalTag(tag: String): Option[(Int, Int)] =
    repNorm(tag).trim match {
      case DecTagRe(p, s) => Some((p.toInt, s.toInt))
      case _ => None
    }
  private def compatible(cur: String, tag: String): Boolean =
    repNorm(cur) == repNorm(tag) || Widenable.contains(Set(cur, tag)) ||
      ((decimalTag(cur), decimalTag(tag)) match {
        case (Some((_, s1)), Some((_, s2))) => s1 == s2
        case _ => false
      })

  /** Column names the engine materializes internally on DV-carrying reads
    * and DML scans (row identity, vector join keys, CDF tags). A table
    * column with one of these names would be silently REPLACED by the
    * helper and dropped from every dv-aware read, and DML matching on it
    * would key off the wrong values — reject at the commit point, the
    * Delta stance on its reserved `_change_type`/`_metadata` names. */
  private val ReservedCols = Set(
    "_src_file", "_row_pos", "_change_type", "_commit_version",
    "_dv_file", "_dv_row", "_dv_data_file", "_dv_pos", "_dv_src")

  /** `removed` = files this same commit swaps out: compatibility is
    * checked against the files the staged ones will COEXIST with, so a
    * full replace (overwrite/REPLACE TABLE — every live file removed)
    * may change column types, while a partial overwrite (dynamic
    * partitions) still validates against the surviving files. */
  private def validateSchemas(snap: Snapshot,
                              statsFor: Map[String, String],
                              removed: Set[String])
      : Seq[(String, String)] = {
    // Returns the protocol features this commit EXERCISES (table →
    // scope-prefixed feature name): a reader that cannot widen mixed
    // int/float or decimal precisions would type-clash on these tables,
    // so the requirement must land with the first widening commit.
    val exercised = scala.collection.mutable.LinkedHashSet
      .empty[(String, String)]
    statsFor.groupBy { case (dest, _) => tableOf(dest) }.foreach {
      case (table, destStats) =>
        destStats.values.flatMap(FileStats.decode).foreach(
          _.schema.foreach { case (n, tag) =>
            require(!ReservedCols(n),
              s"column name '$n' of table '$table' is reserved for the " +
                "engine's internal row-identity/change-feed columns — " +
                "rename it before committing")
            // Fail NANOS at CREATE, not at read: a nanosecond-annotated
            // column would land silently and only degrade later — this
            // Spark build's vectorized reader throws on it, and no sound
            // [min,max] unit exists (stats are refused, every filter
            // full-scans). Same fail-closed posture as the storage
            // contract: loud, at the first commit, with the workaround.
            require(!tag.contains("TIMESTAMP(NANOS"),
              s"column '$n' of table '$table' is TIMESTAMP(NANOS) — " +
                "unreadable by the vectorized parquet reader and " +
                "unit-ambiguous for stats. Write micros " +
                "(spark.sql.parquet.outputTimestampType=TIMESTAMP_MICROS) " +
                "or land the value as a raw INT64 nanos column instead")
          })
        val current: Map[String, String] =
          snap.files(table).filterNot(a => removed.contains(a.file))
            .flatMap(a => FileStats.schemaTags(a.stats))
            .toMap
        if (current.nonEmpty)
          destStats.values.flatMap(FileStats.decode).foreach { st =>
            st.schema.foreach { case (n, tag) =>
              current.get(n).foreach { cur =>
                require(compatible(cur, tag),
                  s"schema enforcement: column '$n' of table '$table' is " +
                    s"committed as $cur but this commit writes $tag — " +
                    "additive columns and safe widenings (int→long, " +
                    "float→double, same-scale decimal precision) evolve; " +
                    "other type changes are rejected")
                if (repNorm(cur) != repNorm(tag))
                  exercised += ((table,
                    if (Widenable.contains(Set(cur, tag))) "r:typeWidening"
                    else "r:decimalWidening"))
              }
            }
          }
    }
    exercised.toSeq
  }

  /** A parsed named CHECK constraint — the SQL face
    * (`ALTER TABLE t ADD CONSTRAINT c CHECK (…)`) of the same
    * stats-verifiable classes the raw properties expose: conjunctions of
    * `col IS NOT NULL`, `col >= n`, `col <= n`, `col BETWEEN n AND m`.
    * Bounds are kept as strings — the validator compares through
    * BigDecimal exactly, like the legacy `constraint.bounds.*` path. */
  private[graft] case class Check(notNull: Seq[String],
                                  bounds: Seq[(String, String, String)])

  private val CkNotNullRe = raw"(?i)\s*(\w+)\s+IS\s+NOT\s+NULL\s*".r
  private val CkGeRe = raw"(?i)\s*(\w+)\s*>=\s*(-?[\d.]+)\s*".r
  private val CkLeRe = raw"(?i)\s*(\w+)\s*<=\s*(-?[\d.]+)\s*".r
  private val CkBetweenLoRe = raw"(?i)\s*(\w+)\s+BETWEEN\s+(-?[\d.]+)\s*".r
  private val CkNumRe = raw"\s*(-?[\d.]+)\s*".r

  /** Parse a CHECK expression into its verifiable parts; throws a crisp
    * error naming the unsupported conjunct otherwise. The grammar is
    * deliberately the EXACTLY-stats-decidable class — enforcement stays a
    * driver-side token check, never a data pass. */
  private[graft] def parseCheck(sql: String): Check = {
    // BETWEEN owns one AND: the conjunct split leaves its upper bound as
    // the following fragment — stitch it back.
    val parts = sql.split("(?i)\\s+AND\\s+").toSeq.map(_.trim)
    val nn = Seq.newBuilder[String]
    val bd = Seq.newBuilder[(String, String, String)]
    var i = 0
    while (i < parts.length) {
      parts(i) match {
        case CkNotNullRe(c) => nn += c
        case CkGeRe(c, lo) => bd += ((c, lo, ""))
        case CkLeRe(c, hi) => bd += ((c, "", hi))
        case CkBetweenLoRe(c, lo) if i + 1 < parts.length &&
            CkNumRe.matches(parts(i + 1)) =>
          bd += ((c, lo, parts(i + 1).trim)); i += 1
        case other => throw new IllegalArgumentException(
          s"unsupported CHECK conjunct '$other' — stats-verifiable " +
            "constraints are: col IS NOT NULL, col >= n, col <= n, " +
            "col BETWEEN n AND m, AND-combined")
      }
      i += 1
    }
    val ck = Check(nn.result(), bd.result())
    if (ck.notNull.isEmpty && ck.bounds.isEmpty)
      throw new IllegalArgumentException(s"empty CHECK expression: '$sql'")
    ck
  }

  /** Named CHECK constraints of a property map, parsed. */
  private[graft] def namedChecks(props: Map[String, String])
      : Seq[(String, Check)] =
    props.toSeq.collect {
      case (k, v) if k.startsWith("constraint.check.") && v.nonEmpty =>
        k.stripPrefix("constraint.check.") -> parseCheck(v)
    }.sortBy(_._1)

  /** Stats-verifiable constraints, enforced at the commit point — the
    * Delta CHECK/NOT NULL analog restricted to the classes per-file
    * statistics decide EXACTLY, so enforcement is a driver-side token
    * check, not a data pass:
    *
    *   - `constraint.notnull` = comma-joined columns: a file violates iff
    *     its null count is nonzero (parquet null counts are exact), or
    *     the column is missing from the file entirely (reads would serve
    *     nulls). Partition columns cannot be constrained — they live in
    *     directory names, not files (and are never null in Hive layout).
    *   - `constraint.bounds.<col>` = "lo,hi" (either side may be empty):
    *     numeric columns only — a numeric [min,max] is a pair of ACTUAL
    *     row values, so min < lo ⇔ a violating row exists. String bounds
    *     are refused (writers may truncate string statistics).
    *
    * Violations throw BEFORE the commit point: a violating DML rewrite or
    * append aborts wholesale, staging is reclaimed, nothing becomes
    * visible. Constraints apply to commits made AFTER the property lands;
    * validate existing data before adding one. */
  /** One file's stats token against one table's constraint set.
    * `notNull` pairs (column, label); `bounds` tuples (column, lo, hi,
    * label) — labels carry the constraint's identity (the raw property
    * kind, or the NAMED CHECK constraint) into every error message. */
  private[graft] def checkStats(st: FileStats.Stats, dest: String,
                                notNull: Seq[(String, String)],
                                bounds: Seq[(String, String, String, String)])
      : Unit = {
    val schemaCols = st.schema.map(_._1).toSet
    notNull.foreach { case (c, who) =>
      if (!schemaCols(c))
        throw new IllegalArgumentException(
          s"$who: staged file $dest has no such column " +
            "(reads would serve nulls)")
      st.nulls.get(c) match {
        case Some(0L) => ()
        case Some(n) => throw new IllegalArgumentException(
          s"$who violated: staged file $dest holds $n null row(s)")
        case None => throw new IllegalArgumentException(
          s"$who: staged file $dest reports no null count for it — " +
            "unverifiable")
      }
    }
    bounds.foreach { case (c, lo, hi, who) =>
      val cs = st.cols.getOrElse(c,
        throw new IllegalArgumentException(
          s"$who: staged file $dest has no [min,max] for it — unverifiable"))
      // BigDecimal: exact for both long and double stats strings
      // (a double near 2^63 rendered through Double would corrupt
      // a long comparison). NaN bounds are unverifiable.
      def num(s: String, what: String): BigDecimal =
        try BigDecimal(s) catch { case _: NumberFormatException =>
          throw new IllegalArgumentException(
            s"$who: $what '$s' is not an exact numeric — unverifiable")
        }
      if (cs.typ != "long" && cs.typ != "double" && cs.typ != "dec")
        throw new IllegalArgumentException(
          s"$who: only numeric columns are exactly verifiable from " +
            s"stats (got ${cs.typ})")
      if (lo.nonEmpty && num(cs.min, "file min") < num(lo, "bound"))
        throw new IllegalArgumentException(
          s"$who violated: staged file $dest holds ${cs.min} < $lo")
      if (hi.nonEmpty && num(cs.max, "file max") > num(hi, "bound"))
        throw new IllegalArgumentException(
          s"$who violated: staged file $dest holds ${cs.max} > $hi")
    }
  }

  /** The constraint set of a property map as labeled check lists — raw
    * `constraint.notnull` / `constraint.bounds.<col>` keys plus named
    * `constraint.check.<name>` CHECK constraints. */
  private[graft] def constraintSet(props: Map[String, String], table: String)
      : (Seq[(String, String)], Seq[(String, String, String, String)]) = {
    val named = namedChecks(props)
    val notNull: Seq[(String, String)] =
      props.get("constraint.notnull")
        .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty)).getOrElse(Nil)
        .map(c => c -> s"NOT NULL constraint on '$c' of '$table'") ++
      named.flatMap { case (n, ck) => ck.notNull.map(c =>
        c -> s"CHECK constraint '$n' of '$table' (NOT NULL on '$c')") }
    val bounds: Seq[(String, String, String, String)] =
      props.toSeq.collect {
        case (k, v) if k.startsWith("constraint.bounds.") =>
          val c = k.stripPrefix("constraint.bounds.")
          val Array(lo, hi) = v.split(",", 2).padTo(2, "")
          (c, lo, hi, s"bounds constraint on '$c' of '$table'")
      } ++
      named.flatMap { case (n, ck) => ck.bounds.map { case (c, lo, hi) =>
        (c, lo, hi, s"CHECK constraint '$n' of '$table' (bounds on '$c')") } }
    (notNull, bounds)
  }

  private def validateConstraints(snap: => Snapshot,
                                  statsFor: Map[String, String]): Unit =
    statsFor.groupBy { case (dest, _) => tableOf(dest) }.foreach {
      case (table, destStats) =>
        val (notNull, bounds) = constraintSet(snap.properties(table), table)
        if (notNull.nonEmpty || bounds.nonEmpty)
          destStats.foreach { case (dest, token) =>
            val st = FileStats.decode(token).getOrElse(
              throw new IllegalArgumentException(
                s"table '$table' carries constraints but staged file $dest " +
                  "has no readable statistics — constraints need parquet stats"))
            checkStats(st, dest, notNull, bounds)
          }
    }

  /** The rows of `dests` summed from their stats tokens; None when any
    * of them has no token or its token carries no row count. */
  private[ingest] def tokenRows(statsFor: Map[String, String],
                                dests: Seq[String]): Option[Long] = {
    val rows = dests.map(d =>
      statsFor.get(d).flatMap(FileStats.decode).map(_.rows).filter(_ >= 0))
    if (rows.exists(_.isEmpty)) None else Some(rows.flatten.sum)
  }

  /** COMMIT point: persist the manifest (tmp + atomic rename). Two flavours
    * of swap-out are recorded for recovery: `DEL\t<path>` (logically removed
    * AND physically deleted at publish) and `RM\t<path>` (logically removed
    * from the snapshot only — the file stays on disk so older snapshot
    * versions keep reading until [[Snapshots.vacuum]] reaps it).
    *
    * Stats (and schema tags) are collected HERE, over the staged files —
    * one footer read per file, before anything is visible — validated for
    * schema compatibility, and recorded as the move lines' third field, so
    * publish (live or crash-recovery replay) writes them to the log without
    * re-opening any footer. Returns those tokens (data-file dest → token;
    * a file whose footer yielded none is absent) so a caller can total the
    * rows it staged without a Spark job. */
  def commit(fs: FileSystem, warehouse: String, commitId: String,
             moves: Seq[Move], deletes: Seq[String] = Nil,
             retained: Seq[String] = Nil, op: String = "append",
             baseVersion: Option[Long] = None,
             dvAttach: Seq[(String, String, Long)] = Nil,
             fileGranularOcc: Boolean = false,
             asTable: Option[String] = None,
             metrics: Map[String, Long] = Map.empty,
             txnId: Option[String] = None,
             metas: Seq[(String, String)] = Nil): Map[String, String] = {
    // Oversized blooms spill to sidecar files STAGED with this commit:
    // their moves join the manifest, so they publish (or replay) with the
    // data whose ADD lines point at them — crash-atomic either way.
    val sidecarMoves = scala.collection.mutable.ListBuffer.empty[Move]
    def spillFor(dest: String): (String, String, Seq[Array[Byte]]) => Option[String] = {
      val table = tableOf(dest)
      val base = new Path(dest).getName
      (colName, _, bitsets) => {
        // The counter disambiguates PARTITIONED commits: one dynamic-
        // partition write emits the same basename into every k=v dir, and
        // basename-only sidecar names would overwrite each other — file A
        // probed with file B's bitsets prunes files that hold the key.
        val name = s"${sidecarMoves.size}-$base." +
          java.net.URLEncoder.encode(colName, "UTF-8") + ".bloom"
        val rel = s"_bloomidx/$table/$name"
        val src = new Path(s"${stagingDir(warehouse, commitId)}/$rel")
        fs.mkdirs(src.getParent)
        val out = fs.create(src, true)
        try FileStats.writeSidecar(out, bitsets) finally out.close()
        sidecarMoves += Move(src.toString, s"$warehouse/$rel")
        Some(rel)
      }
    }
    // Every commit-time check of every table reads ONE fresh snapshot.
    // Writer-side protocol gate first, BEFORE staging work: refuse a table
    // requiring features this build doesn't know (fail fast, nothing to
    // roll back yet).
    val snap = Snapshots.snapshot(fs, warehouse)
    (moves.map(m => asTable.getOrElse(tableOf(m.dest))) ++
      (deletes ++ retained).map(d => asTable.getOrElse(tableOf(d))) ++
      dvAttach.map { case (data, _, _) => asTable.getOrElse(tableOf(data)) })
      .distinct.foreach(snap.requireFeatures(_, forWrite = true))
    val statsFor: Map[String, String] = moves
      .filterNot(m => isChangeDest(m.dest) || isDvDest(m.dest))
      .map(m => m.dest ->
        FileStats.collect(fs.getConf, new Path(m.src), spillFor(m.dest)))
      .filter(_._2.nonEmpty).toMap
    val exercisedFeatures =
      validateSchemas(snap, statsFor, (deletes ++ retained).toSet)
    // GENERATED ALWAYS: staged data files of an identity table must CARRY
    // the column — a raw append without it would silently land null-id
    // rows. Rewrites (merge/compact) read it from their inputs and pass;
    // fresh appends must route through Identity.appendWithIdentity.
    statsFor.groupBy { case (dest, _) => tableOf(dest) }.foreach {
      case (table, ds) =>
        val props = snap.properties(table)
        val idCols = props.keys.filter(_.startsWith("identity."))
          .map(_.stripPrefix("identity."))
        idCols.foreach { c =>
          ds.values.flatMap(FileStats.decode).foreach(st =>
            require(st.schema.exists(_._1 == c),
              s"table '$table' declares GENERATED ALWAYS identity column " +
                s"'$c' — appends must materialize it " +
                "(Identity.appendWithIdentity); raw files without it " +
                "would read null ids"))
        }
        val genCols = props.keys.filter(_.startsWith("generated."))
          .map(_.stripPrefix("generated."))
        genCols.foreach { c =>
          ds.foreach { case (dest, stats) =>
            // A generated PARTITION column lives in the k=v path / log
            // tuple, not the data file — the writer routed it from the
            // engine's value, so the tuple IS the materialization.
            val partitionRouted = dest.contains(s"/$c=")
            FileStats.decode(stats).foreach(st =>
              require(partitionRouted || st.schema.exists(_._1 == c),
                s"table '$table' declares GENERATED column '$c' — appends " +
                  "must materialize it (Generated.appendGenerated); raw " +
                  "files without it would read null values"))
          }
        }
    }
    // Constraints must see EVERY staged data file: one whose stats
    // collection failed (collect returns "" on any footer trouble) is
    // unverifiable and must fail the commit, not silently bypass the
    // constraint — hand the full dest list so absent tokens are caught.
    validateConstraints(snap,
      moves.filterNot(m => isChangeDest(m.dest) || isDvDest(m.dest))
        .map(m => m.dest -> statsFor.getOrElse(m.dest, "")).toMap)
    val allMoves = moves ++ sidecarMoves
    fs.mkdirs(commitsDir(warehouse))
    val fin = new Path(commitsDir(warehouse), s"$commitId.manifest")
    // The op tag and OCC base version ride the manifest so a crash-recovery
    // replay publishes with the same operation kind AND the same conflict
    // guard (a recovered compaction must not masquerade as an append, and
    // must still lose a race it would have lost live). Deletion-vector
    // attachments (`DV\t<dataFile>\t<dvDest>\t<count>`) ride it for the
    // same reason — a replayed merge-on-read commit must re-attach exactly
    // what the live publish would have. The manifest lands via
    // put-if-absent (commitId names are unique, so an existing file is
    // this commit's own retry) — recovery can never observe a half-copied
    // manifest on stores whose rename is copy+delete.
    Snapshots.putIfAbsent(fs, fin,
      (Seq(s"#OP\t$op") ++ baseVersion.map(v => s"#BASE\t$v") ++
        (if (fileGranularOcc) Seq("#GRANULAR\tfile") else Nil) ++
        // Operation metrics (rows inserted/updated/deleted) ride the
        // manifest so a crash-recovery replay records the same counts.
        (if (metrics.isEmpty) Nil
         else Seq("#METRICS\t" + metrics.toSeq.sorted
           .map { case (k, v) => s"$k=$v" }.mkString(","))) ++
        // REMOVEs/DVs normally attribute to the table the file path names;
        // a zero-copy CLONE's shared files live under the SOURCE table's
        // dir, so rewrites of the clone record their owning table here —
        // replayed identically from the manifest.
        asTable.map(t => s"#ASTABLE\t$t") ++
        // The exactly-once key rides the manifest so a crash-recovery
        // replay records the applied-txn watermark exactly like the live
        // publish would ([[Snapshots.txnApplied]]).
        txnId.map(id => s"#TXN\t$id") ++
        // Protocol features this commit exercises (widenings detected at
        // schema validation) ride the manifest so a crash-recovery replay
        // stamps the SAME requirements the live publish would.
        exercisedFeatures.map { case (t, f) => s"#FEATURE\t$t\t$f" } ++
        // Caller META entries (identity high-water marks) ride the
        // manifest for the same reason: they must land ATOMICALLY with
        // the data on every path, crash-recovery replays included.
        metas.map { case (k, v) => s"#META\t$k\t$v" } ++
        (allMoves.map(m =>
          s"${m.src}\t${m.dest}\t${statsFor.getOrElse(m.dest, "")}") ++
          deletes.map(d => s"DEL\t$d") ++
          retained.map(r => s"RM\t$r") ++
          dvAttach.map { case (data, dv, n) => s"DV\t$data\t$dv\t$n" }))
        .mkString("\n").getBytes(StandardCharsets.UTF_8))
    statsFor
  }

  /** PUBLISH: apply every move, flip the [[Snapshots]] log entry (snapshot
    * readers switch to the new version atomically here), apply deletes, then
    * drop staging + manifest (in that order — the manifest must outlive any
    * state it still needs to repair). Every step is idempotent, so a
    * recovery re-run after a crash at any point converges.
    * `graft.test.failAfterMoves` is a crash-injection point for tests. */
  def publish(fs: FileSystem, warehouse: String, commitId: String,
              moves: Seq[Move], deletes: Seq[String] = Nil,
              retained: Seq[String] = Nil, op: String = "append",
              baseVersion: Option[Long] = None,
              replay: Boolean = false,
              dvAttach: Seq[(String, String, Long)] = Nil,
              fileGranularOcc: Boolean = false,
              asTable: Option[String] = None,
              metrics: Map[String, Long] = Map.empty,
              txnId: Option[String] = None,
              metas: Seq[(String, String)] = Nil): Unit = {
    // The manifest's move list is authoritative when present: commit()
    // may have appended sidecar-bloom moves the caller never saw (their
    // dests must publish with the data whose ADD lines point at them).
    val mf0 = new Path(commitsDir(warehouse), s"$commitId.manifest")
    // A concurrent recover() may replay this commit and delete the
    // manifest between the existence check and the read: the publish
    // already happened (idempotently) — proceed on the caller's own args;
    // every downstream step converges.
    val manifest =
      try { if (fs.exists(mf0)) Some(readManifest(fs, mf0)) else None }
      catch { case _: java.io.FileNotFoundException => None }
    val effMoves = manifest.map(_.moves).getOrElse(moves)
    val failAfter = sys.props.get("graft.test.failAfterMoves").map(_.toInt)
    var applied = 0
    effMoves.foreach { m =>
      if (failAfter.contains(applied))
        throw new IllegalStateException(s"injected crash after $applied moves")
      val src = new Path(m.src)
      val dest = new Path(m.dest)
      if (fs.exists(src)) { // already-landed moves (recovery re-run) are skipped
        fs.mkdirs(dest.getParent)
        // A lost rename race against a concurrent recovery of the same
        // manifest is fine as long as the destination landed.
        if (!fs.rename(src, dest) && !fs.exists(dest))
          throw new IllegalStateException(s"publish rename failed: ${m.src} -> ${m.dest}")
      }
      applied += 1
    }
    val (cdfMoves, rest) = effMoves.partition(m => isChangeDest(m.dest))
    val dataMoves =
      rest.filterNot(m => isDvDest(m.dest) || isBloomDest(m.dest))
    // Stats were collected (and schema-validated) at the commit point and
    // ride the manifest; a manifest from before stats existed falls back
    // to one footer read per published file. Either way the [min,max] land
    // on the ADD lines so readers and merges skip files from the log alone.
    // DV attachments prefer the manifest copy (the live arg and the
    // manifest agree; a crash-recovery replay only has the manifest).
    val fromManifest: Map[String, String] =
      manifest.map(_.statsFor).getOrElse(Map.empty)
    val statsFor = dataMoves.map(m => m.dest -> fromManifest.getOrElse(m.dest,
      FileStats.collect(fs.getConf, new Path(m.dest)))).toMap
    // Constraints re-validate at the LAST point before visibility: a
    // constraint property that landed between this commit's validation
    // and its publish — or a crash-replayed manifest from before the
    // property — aborts here like a lost OCC race (marker, rollback)
    // instead of publishing violating rows or wedging recovery in a
    // throw loop. (A property landing between this check and the log
    // append can still race in; the documented activation contract —
    // constraints bind commits validated after the property — covers
    // that sliver, as it does for Delta's metadata races.)
    // One fresh snapshot, taken only when needed, serves the constraint
    // re-check and the applied-txn watermark.
    lazy val snap = Snapshots.snapshot(fs, warehouse)
    try validateConstraints(snap, statsFor)
    catch {
      case e: IllegalArgumentException =>
        val mf = new Path(commitsDir(warehouse), s"$commitId.manifest")
        val ab = new Path(commitsDir(warehouse), s"$commitId.aborted")
        if (fs.exists(mf) && !fs.rename(mf, ab) && !fs.exists(ab))
          throw new IllegalStateException(s"abort rename failed for $commitId")
        rollback(fs, warehouse, commitId, effMoves)
        throw e
    }
    val attach = manifest.map(_.dvAttach).filter(_.nonEmpty).getOrElse(dvAttach)
    // The OCC granularity rides the manifest like the op tag and base
    // version — a crash-recovery replay must run the SAME conflict check
    // the live publish would have.
    val granular = manifest.map(_.fileGranularOcc).getOrElse(fileGranularOcc)
    val asT = manifest.flatMap(_.asTable).orElse(asTable)
    // Metrics: the manifest copy wins (a replay only has the manifest);
    // appends/overwrites without explicit metrics get rows_inserted from
    // the stats tokens already in hand — zero extra reads. Rewrite ops
    // (merge/compact) must pass theirs explicitly: added-file row sums
    // would misreport survivors as inserts.
    val mEff0 = manifest.map(_.metrics).filter(_.nonEmpty).getOrElse(metrics)
    val opEff = manifest.map(_.op).getOrElse(op)
    val mEff =
      if (mEff0.nonEmpty || !Set("append", "overwrite").contains(opEff) ||
          dataMoves.isEmpty) mEff0
      else tokenRows(statsFor, dataMoves.map(_.dest))
        .map(n => Map("rows_inserted" -> n)).getOrElse(mEff0)
    val txnEff = manifest.flatMap(_.txnId).orElse(txnId)
    val featEff = manifest.map(_.features).getOrElse(Nil)
    val metasEff = manifest.map(_.metas).filter(_.nonEmpty).getOrElse(metas)
    try Snapshots.append(fs, warehouse, commitId,
      adds = dataMoves.map(m => tableOf(m.dest) -> m.dest),
      removes = (deletes ++ retained).map(d =>
        asT.getOrElse(tableOf(d)) -> d),
      op = op, baseVersion = baseVersion, statsFor = statsFor,
      changeFiles = cdfMoves.map(m => tableOf(m.dest) -> m.dest),
      replay = replay,
      metas = txnEff.map(Snapshots.txnMetaEntry(snap, _)).toSeq ++
        metasEff,
      dvs = attach.map { case (data, dv, n) =>
        (asT.getOrElse(tableOf(data)), data, s"$n:$dv") },
      fileGranularOcc = granular, metrics = mEff, features = featEff)
    catch {
      // An OCC loss unpublishes; so does a protocol refusal (a rival
      // introduced a feature this build doesn't know between our commit
      // gate and this publish — the rolling-upgrade race). Either way the
      // `.aborted` marker lands first so recovery finishes the rollback
      // instead of wedging in a replay-throw loop.
      case e @ (_: Snapshots.ConcurrentCommitException |
                _: Snapshots.UnsupportedTableFeatureException) =>
        // Lost the OCC race: unpublish. The `.aborted` marker lands first
        // (atomic rename), so a crash mid-rollback is finished by
        // recover() instead of re-publishing half-deleted files as a new
        // version. Physical deletes stop at the retained inputs — they are
        // still referenced by live versions.
        val mf = new Path(commitsDir(warehouse), s"$commitId.manifest")
        val ab = new Path(commitsDir(warehouse), s"$commitId.aborted")
        if (fs.exists(mf) && !fs.rename(mf, ab) && !fs.exists(ab))
          throw new IllegalStateException(s"abort rename failed for $commitId")
        rollback(fs, warehouse, commitId, effMoves)
        throw e
    }
    deletes.foreach(d => fs.delete(new Path(d), false))
    fs.delete(new Path(stagingDir(warehouse, commitId)), true)
    fs.delete(new Path(commitsDir(warehouse), s"$commitId.manifest"), false)
  }

  /** Undo an aborted commit's visible side effects: landed dest files,
    * staging, and the `.aborted` marker. Idempotent — recovery re-runs it. */
  private def rollback(fs: FileSystem, warehouse: String, commitId: String,
                       moves: Seq[Move]): Unit = {
    moves.foreach(m => fs.delete(new Path(m.dest), false))
    fs.delete(new Path(stagingDir(warehouse, commitId)), true)
    fs.delete(new Path(commitsDir(warehouse), s"$commitId.aborted"), false)
  }

  private case class Manifest(moves: Seq[Move], deletes: Seq[String],
                              retained: Seq[String], op: String,
                              baseVersion: Option[Long],
                              statsFor: Map[String, String],
                              dvAttach: Seq[(String, String, Long)],
                              fileGranularOcc: Boolean,
                              asTable: Option[String] = None,
                              metrics: Map[String, Long] = Map.empty,
                              txnId: Option[String] = None,
                              features: Seq[(String, String)] = Nil,
                              metas: Seq[(String, String)] = Nil)

  private def readManifest(fs: FileSystem, p: Path): Manifest = {
    val in = fs.open(p)
    val bytes =
      try {
        val buf = new java.io.ByteArrayOutputStream()
        val chunk = new Array[Byte](8192)
        var n = in.read(chunk)
        while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
        buf.toByteArray
      } finally in.close()
    val lines = new String(bytes, StandardCharsets.UTF_8).split("\n").toSeq
      .filter(_.nonEmpty).map(_.split("\t", 4))
    val moveLines = lines.filterNot(l =>
      Set("DEL", "RM", "DV", "#OP", "#BASE", "#GRANULAR", "#ASTABLE",
        "#METRICS", "#TXN", "#FEATURE", "#META")(l.head))
    Manifest(
      moveLines.map(l => Move(l(0), l(1))), // pre-stats manifests: 2 fields
      lines.filter(_.head == "DEL").map(_.apply(1)),
      lines.filter(_.head == "RM").map(_.apply(1)),
      lines.find(_.head == "#OP").map(_.apply(1)).getOrElse("append"),
      lines.find(_.head == "#BASE").map(_.apply(1).toLong),
      moveLines.collect { case Array(_, dest, stats) if stats.nonEmpty =>
        dest -> stats }.toMap,
      lines.filter(_.head == "DV").map(l => (l(1), l(2), l(3).toLong)),
      lines.exists(l => l.head == "#GRANULAR" && l.lift(1).contains("file")),
      lines.find(_.head == "#ASTABLE").map(_.apply(1)),
      lines.find(_.head == "#METRICS").map(_.apply(1)
          .split(",").toSeq.flatMap { kv =>
            kv.split("=", 2) match {
              case Array(k, v) => v.toLongOption.map(k -> _)
              case _ => None
            }
          }.toMap).getOrElse(Map.empty),
      lines.find(_.head == "#TXN").map(_.apply(1)),
      lines.filter(_.head == "#FEATURE").map(l => (l(1), l(2))),
      lines.filter(_.head == "#META").map(l => (l(1), l(2))))
  }

  /** Grace period before an uncommitted staging dir is considered orphaned.
    * Publishing a manifest is safe concurrently (idempotent renames), but
    * deleting staging is NOT: a second live job's in-progress staging looks
    * identical to a crashed job's leftovers. Age is the discriminator — a
    * live job touches its staging well within this window. */
  val OrphanStagingTtlMs: Long = 60L * 60 * 1000

  /** Repair on startup: finish committed-but-unpublished manifests, remove
    * orphaned (uncommitted) staging dirs older than `orphanTtlMs`. Call
    * before reading the checkpoint.
    *
    * Concurrency: manifest replay races a live publisher safely (every step
    * idempotent, lost renames tolerated). The TTL keeps recovery from wiping
    * a concurrent ingest's in-flight staging — without it, the victim's
    * publish would silently move nothing (missing src ⇒ "already landed")
    * while still reporting its row counts. S3A note stands: rename there is
    * copy+delete, so pair multi-writer warehouses with a real table format. */
  def recover(fs: FileSystem, warehouse: String,
              orphanTtlMs: Long = OrphanStagingTtlMs): Unit = {
    val cd = commitsDir(warehouse)
    if (fs.exists(cd)) {
      // Finish crashed aborts FIRST: their dest files must not look live.
      fs.listStatus(cd).toSeq.map(_.getPath)
        .filter(_.getName.endsWith(".aborted"))
        .foreach { ab =>
          val commitId = ab.getName.stripSuffix(".aborted")
          // A rival recover can finish (and remove) the abort between the
          // listing and the read — converged, move on.
          try rollback(fs, warehouse, commitId, readManifest(fs, ab).moves)
          catch { case _: java.io.FileNotFoundException => () }
        }
      fs.listStatus(cd).toSeq.map(_.getPath)
        .filter(_.getName.endsWith(".manifest"))
        .foreach { mf =>
          val commitId = mf.getName.stripSuffix(".manifest")
          // A replayed rewrite can lose its OCC race exactly like a live
          // one; publish has already rolled it back — recovery moves on.
          // The manifest's OWNER (or a rival recover) can also publish and
          // delete it mid-walk — converged, move on. replay = true: the
          // idempotency check must scan the FULL log (the original entry
          // may sit below the checkpoint anchor).
          try {
            val m = readManifest(fs, mf)
            publish(fs, warehouse, commitId, m.moves, m.deletes,
              m.retained, m.op, m.baseVersion, replay = true)
          } catch {
            case _: Snapshots.ConcurrentCommitException => ()
            case _: java.io.FileNotFoundException => ()
          }
        }
      // stray .tmp manifests never reached the commit point: drop them
      fs.listStatus(cd).toSeq.map(_.getPath)
        .filter(_.getName.endsWith(".manifest.tmp"))
        .foreach(fs.delete(_, false))
    }
    val sr = stagingRoot(warehouse)
    if (fs.exists(sr)) {
      val cutoff = System.currentTimeMillis() - orphanTtlMs
      fs.listStatus(sr).toSeq
        .filter(_.getModificationTime < cutoff)
        .foreach(st => fs.delete(st.getPath, true))
    }
  }
}
