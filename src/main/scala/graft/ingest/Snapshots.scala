package graft.ingest

import java.nio.charset.StandardCharsets
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Append-only snapshot log over [[TxnCommit]] — the read-side dual of the
  * manifest commit (minimal Delta/Iceberg-style, no extra jars).
  *
  * Every published transaction appends ONE log entry
  * `warehouse/_snapshots/<version>-<commitId>.snap` whose lines are
  * `ADD\t<table>\t<path>` / `REMOVE\t<table>\t<path>`. Version ownership is
  * claimed with an atomic create-iff-absent `<version>.lock` (see
  * [[putIfAbsent]] — hard-link promotion on local disks, conditional
  * create elsewhere; no step relies on rename being atomic), and only the
  * claim owner writes the version's entry, so a snapshot version flips into
  * existence all-or-nothing with exactly one writer; the table state at
  * version V is fold(adds − removes) over entries with version ≤ V.
  *
  * This closes the reader race the live-directory `read.parquet(dir)` has: a
  * reader that resolved version N keeps seeing exactly N's file set while any
  * number of later commits land (the file list is pinned at plan time), and
  * `asOf = N` time-travels back as long as N's files haven't been vacuumed.
  * The reference sidesteps all of this with a single-writer DuckDB file
  * (huckli-db/src/lib.rs:8-30); at 100 TB the log is the standard answer.
  *
  * Scale notes: one tiny log file per commit (no O(files) rewrite); state
  * reconstruction folds from the latest `.ckpt` checkpoint (a full
  * table→files state written every [[CheckpointInterval]] commits, the
  * Delta-checkpoint pattern) plus the few entries after it — O(interval),
  * not O(commit history); the read plans from an explicit file list — no
  * directory listing at all. [[vacuum]] bounds the log's file count.
  */
object Snapshots {

  /** A commit lost an optimistic-concurrency race: its snapshot state
    * changed under it. The transaction was rolled back cleanly (no log
    * entry, no visible data) — re-read the current snapshot and retry. */
  class ConcurrentCommitException(msg: String)
    extends IllegalStateException(msg)

  case class Entry(version: Long, commitId: String, path: Path,
                   isCheckpoint: Boolean, mtime: Long = 0L)

  /** One log line. `kind` ∈ ADD | REMOVE | CDF — CDF files are row-level
    * change files (merge commits), part of the entry but never of table
    * state. `partition` is the Hive-style spec of the file's partition
    * directory chain (`dt=2024-01-01/hour=3`), empty for unpartitioned
    * files. `stats` is the [[FileStats]] token collected at publish ("" for
    * pre-stats entries and non-parquet files — absent stats never skip). */
  /** One log line. `kind` ∈ ADD | REMOVE | CDF | META | DV — CDF files are
    * row-level change files (merge commits), part of the entry but never of
    * table state; META lines carry table-level metadata (the
    * [[ColumnMapping]] payload rides the `file` field) and the LATEST
    * visible one per table wins, like Delta's metaData action; DV lines
    * attach a deletion vector (`dv` = `<deletedRows>:<dvParquetPath>`) to a
    * LIVE data file — merge-on-read DML: the file's rows minus the DV'd
    * positions are the table's rows, no rewrite. A newer DV on the same
    * file supersedes the older one (each DV carries the file's FULL
    * deletion set), a REMOVE clears the attachment, and ADD lines may carry
    * `dv` directly (checkpoints and restore re-ADDs preserve attachments). */
  case class Action(kind: String, table: String, file: String,
                    partition: String = "", stats: String = "",
                    dv: String = "") {
    def add: Boolean = kind == "ADD"
    def cdf: Boolean = kind == "CDF"
    def meta: Boolean = kind == "META"
    def isDv: Boolean = kind == "DV"
    // DV token shape is `<count>:<path>`; a malformed one is LOG
    // corruption and must fail with a diagnosable message naming the
    // token, not an index/parse exception three frames away.
    private def dvParts: (Long, String) = {
      val i = dv.indexOf(':')
      val count =
        if (i > 0) dv.substring(0, i).toLongOption else None
      count match {
        case Some(n) if n >= 0 && i < dv.length - 1 => (n, dv.substring(i + 1))
        case _ => throw new IllegalStateException(
          s"corrupt deletion-vector token '$dv' on $kind line of table " +
            s"'$table' (file $file) — expected '<count>:<path>'")
      }
    }
    def dvPath: String = if (dv.isEmpty) "" else dvParts._2
    def dvCount: Long = if (dv.isEmpty) 0L else dvParts._1
    /** Parsed partition tuple with Hive path-escaping undone — consumers
      * (the streaming reader's served constants, partition filters, stats
      * ranges) compare REAL values; only paths carry the escaped form. */
    def partitionMap: Map[String, String] =
      if (partition.isEmpty) Map.empty
      else partition.split("/").toSeq.map { seg =>
        val Array(k, v) = seg.split("=", 2)
        unescapeSeg(k) -> unescapeSeg(v)
      }.toMap
  }

  private[graft] def unescapeSeg(s: String): String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName(s)

  private val PartSegRe = raw"[^=/]+=[^/]*".r

  /** The consecutive `k=v` directory segments immediately above `file` —
    * the partition spec its path self-describes (Hive layout). */
  private[graft] def partitionOf(file: String): String = {
    var dir = new Path(file).getParent
    val segs = scala.collection.mutable.ListBuffer.empty[String]
    while (dir != null && PartSegRe.matches(dir.getName)) {
      segs.prepend(dir.getName)
      dir = dir.getParent
    }
    segs.mkString("/")
  }

  /** Canonical comparison key for a log-side file path: the scheme-less
    * URL-ENCODED path. `input_file_name()` serves encoded URIs while the
    * log stores raw paths; Hadoop Path's `toUri.getRawPath` applies the
    * same encoding Spark's scan paths carry, so both sides meet in one
    * form (decoded-vs-encoded would silently mismatch on partition values
    * with spaces, which Spark's path escaping legitimately keeps). THE
    * single source of truth for this contract — Merge's affected-file
    * match and changes()' file→version join both key through here. */
  private[graft] def pathKey(file: String): String =
    new Path(file).toUri.getRawPath

  /** Comparison key for an `input_file_name()` value: drop the scheme and
    * optional authority (`file:///p`, `file:/p`, `hdfs://nn/p` all reduce
    * to `/p`), keep the already-encoded path. */
  private[graft] val SchemeRe = "^[a-zA-Z0-9+.-]+:(//[^/]*)?"

  /** Root table dir of a committed file = the dir above its partition
    * segments — normally `$warehouse/$table` for every live file, but a
    * zero-copy [[cloneTable]]'s ADDs point into the SOURCE table's
    * directory. Spark's basePath must be an ancestor of every file it
    * reads, so partitioned reads (and DML/compaction scans) build one
    * relation per root; a clone that has not diverged — and every normal
    * table — keeps the single-relation fast path. */
  private[graft] def rootDirOf(a: Action): String = {
    var d = new Path(a.file).getParent
    if (a.partition.nonEmpty) {
      var i = a.partition.count(_ == '/') + 1
      while (i > 0) { d = d.getParent; i -= 1 }
    }
    d.toString
  }

  private[graft] def srcFileKey(uri: String): String =
    uri.replaceFirst(SchemeRe, "")

  private def snapDir(warehouse: String) = new Path(s"$warehouse/_snapshots")

  private val SnapRe = raw"(\d{20})-(.+)\.(snap|ckpt)".r
  private val LockRe = raw"(\d{20})\.lock".r

  /** Test hook: invoked after an entry write, before the claim re-verify
    * (the zombie window) — lets the resolution decision table be driven
    * deterministically instead of by thread timing. Production: None. */
  @volatile private[graft] var testPostEntryWrite
      : Option[(String, Long) => Unit] = None

  /** Test hook: invoked after a version claim is WON, before the pre-write
    * guard globs the version (the stale-listing window an out-of-band
    * claim break opens) — lets the committed-foreign back-off be driven
    * deterministically. Production: None. */
  @volatile private[graft] var testPostClaim
      : Option[(String, Long) => Unit] = None

  /** Test-visible count of log-file opens — the metric the checkpoint
    * anchoring exists to bound: reconstruction must read O(interval) entry
    * files, not O(commit history). */
  private[graft] val logReads = new java.util.concurrent.atomic.AtomicLong(0)

  /** Test-visible LISTING cost: full dir listings add the number of
    * statuses returned (object stores price listings by results), anchored
    * per-version globs add one each. The `_last_checkpoint` pointer exists
    * to keep this O(interval) per operation instead of O(dir size). */
  private[graft] val logLists = new java.util.concurrent.atomic.AtomicLong(0)

  /** How long a version claim may sit without its entry before other
    * writers break it (the claimant died between claim and entry). Must be
    * much longer than an entry write (milliseconds) — minutes in
    * production. Operators tune it via `graft.commit.claimGraceMs` (a
    * REAL deployment knob, not test-only: stores whose mtime is fixed at
    * create use this same window as the dead-writer staleness rule, so a
    * deployment with slow commit paths should raise it); tests shrink it
    * via `graft.test.claimGraceMs`, which wins when both are set. */
  private def claimGraceMs: Long =
    sys.props.get("graft.test.claimGraceMs")
      .orElse(sys.props.get("graft.commit.claimGraceMs"))
      .map(_.toLong).getOrElse(60000L)

  /** THE load-bearing storage contract of the whole commit protocol:
    * version claims (and entry idempotence) serialize through an ATOMIC
    * create-iff-absent. Where that primitive is real, any number of
    * concurrent committers are safe; where it is emulated as
    * check-then-act (HEAD then PUT — e.g. Hadoop's classic S3A
    * `create(overwrite=false)` without conditional-write support), two
    * clients can both "win" a version and the log corrupts. So the
    * engine REFUSES to commit multi-writer on a scheme it cannot vouch
    * for, instead of corrupting quietly at 100 TB:
    *
    *  - `file://` — safe built-in (temp + hard-link promotion, atomic).
    *  - `hdfs://` / `viewfs://` — safe built-in (namenode arbitrates
    *    create-no-overwrite atomically).
    *  - any other scheme needs ONE of:
    *    `graft.commit.atomicConditionalCreate.<scheme>=true` — the
    *    operator vouches the store's create-no-overwrite is a true
    *    conditional put (S3 with the connector's If-None-Match
    *    conditional-write support enabled, GCS preconditions, ABFS,
    *    MinIO, …); or
    *    `graft.commit.singleWriter=true` — no cross-client race exists
    *    by deployment contract, so atomicity is not needed.
    *
    * Both keys are read from the FileSystem's Hadoop configuration
    * (settable per-session via `spark.hadoop.graft.commit.…`).
    *
    * UPGRADE NOTE (breaking on purpose): builds before this gate existed
    * committed on ANY scheme, silently unsafe multi-writer. Deployments
    * on other object-store schemes must set one of the two keys above —
    * or register a real [[ConditionalPut]] adapter — before commits
    * proceed. `abfs`/`abfss` ship vouched built-in (ABFS
    * create-no-overwrite is etag-conditional at the service). */
  private def requireConditionalPut(fs: FileSystem): Unit = {
    val scheme = fs.getUri.getScheme
    // Built-in safe schemes: local hard-link promotion, namenode-arbitrated
    // create, and ABFS (whose create(overwrite=false) is an If-None-Match
    // conditional operation at the service — a true conditional put).
    if (scheme == "file" || scheme == "hdfs" || scheme == "viewfs" ||
        scheme == "abfs" || scheme == "abfss") return
    // A registered adapter IS the proof — the operator supplied the
    // store's native conditional-create rather than vouching blind.
    if (putAdapters.containsKey(scheme)) return
    val conf = fs.getConf
    if (conf != null &&
        (conf.getBoolean(s"graft.commit.atomicConditionalCreate.$scheme", false) ||
          conf.getBoolean("graft.commit.singleWriter", false))) return
    throw new UnsupportedOperationException(
      s"scheme '$scheme' offers no proven atomic create-iff-absent — the " +
        "commit protocol's multi-writer safety rests on it. Either " +
        "register a ConditionalPut adapter for the store " +
        s"(Snapshots.registerConditionalPut), vouch for it " +
        s"(graft.commit.atomicConditionalCreate.$scheme=true " +
        "— only when its create-no-overwrite is a true conditional put, " +
        "e.g. S3 conditional writes / GCS preconditions) or declare " +
        "single-writer deployment (graft.commit.singleWriter=true)")
  }

  /** The commit primitive as a pluggable seam: atomically create a file
    * iff absent, never exposing partial content where the store allows it.
    * One binding per scheme (see [[registerConditionalPut]]); the built-in
    * bindings cover local disks (hard-link promotion), HDFS-semantics
    * stores (temp + no-overwrite rename — the namenode arbitrates, and an
    * in-flight file is NEVER visible under its final name, so a slow
    * checkpoint can't be mistaken for a torn one), and conditional-PUT
    * object stores (create(overwrite=false) where the connector maps it
    * to If-None-Match / preconditions; the PUT materializes on close). */
  trait ConditionalPut {
    /** Create `dest` with exactly the poured bytes iff absent. Returns
      * false when the name already exists (lost the race). */
    def create(fs: FileSystem, dest: Path,
               pour: java.io.OutputStream => Unit): Boolean
  }

  /** file:// — write a sibling temp, promote by hard link (atomic, fails
    * EEXIST, never exposes partial content). */
  private object LinkPut extends ConditionalPut {
    def create(fs: FileSystem, dest: Path,
               pour: java.io.OutputStream => Unit): Boolean = {
      val destNio = java.nio.file.Paths.get(dest.toUri.getPath)
      java.nio.file.Files.createDirectories(destNio.getParent)
      val tmp = destNio.resolveSibling(
        dest.getName + "." + java.util.UUID.randomUUID() + ".tmp")
      try {
        val os = java.nio.file.Files.newOutputStream(tmp)
        try pour(os) finally os.close()
        try { java.nio.file.Files.createLink(destNio, tmp); true }
        catch { case _: java.nio.file.FileAlreadyExistsException => false }
      } finally java.nio.file.Files.deleteIfExists(tmp)
    }
  }

  /** HDFS-semantics stores (atomic no-overwrite rename, mtime fixed at
    * close): write a temp name, promote by rename. Content-atomic — a
    * reader can never open a partially-written file under `dest`, so
    * even a checkpoint whose write outlives the claim grace is invisible
    * to the torn-entry sweep until it is COMPLETE. */
  private object RenamePut extends ConditionalPut {
    def create(fs: FileSystem, dest: Path,
               pour: java.io.OutputStream => Unit): Boolean = {
      fs.mkdirs(dest.getParent)
      val tmp = new Path(dest.getParent,
        dest.getName + "." + java.util.UUID.randomUUID() + ".tmp")
      var renamed = false
      try {
        val out = fs.create(tmp, false)
        try pour(out) finally out.close()
        renamed = try fs.rename(tmp, dest)
                  catch { case _: org.apache.hadoop.fs.FileAlreadyExistsException => false }
        if (renamed) true
        else if (fs.exists(dest)) false // lost the race
        else throw new java.io.IOException(
          s"rename($tmp, $dest) failed with no rival present")
      } finally if (!renamed) fs.delete(tmp, false)
    }
  }

  /** Conditional-PUT object stores: create(overwrite=false) + single
    * close — the connector maps it to the store's conditional write and
    * the object materializes atomically on close. */
  private object CreatePut extends ConditionalPut {
    def create(fs: FileSystem, dest: Path,
               pour: java.io.OutputStream => Unit): Boolean =
      try {
        val out = fs.create(dest, false)
        try pour(out) finally out.close()
        true
      } catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
      }
  }

  private val putAdapters =
    new java.util.concurrent.ConcurrentHashMap[String, ConditionalPut]()

  /** Register the store-native conditional-create adapter for a scheme —
    * the per-store seam [[requireConditionalPut]]'s contract asks for.
    * Registering counts as the vouch: commits on the scheme proceed and
    * every log write serializes through the adapter. */
  def registerConditionalPut(scheme: String, put: ConditionalPut): Unit =
    putAdapters.put(scheme, put)

  /** Remove a registered adapter (tests). */
  private[graft] def unregisterConditionalPut(scheme: String): Unit =
    putAdapters.remove(scheme)

  private def putBinding(fs: FileSystem): ConditionalPut = {
    val scheme = fs.getUri.getScheme
    val registered = putAdapters.get(scheme)
    if (registered != null) registered
    else scheme match {
      case "file" => LinkPut
      case "hdfs" | "viewfs" => RenamePut
      case _ => requireConditionalPut(fs); CreatePut
    }
  }

  /** Atomic create-iff-absent — the commit primitive, replacing any
    * reliance on copy+delete rename. Dispatches to the scheme's
    * [[ConditionalPut]] binding; returns false when the name already
    * exists (lost the race). Where the binding cannot hide in-flight
    * content (plain conditional PUT on a store that exposes partial
    * objects), the [[EndMarker]] footer makes the window detectable. */
  private[ingest] def putIfAbsent(fs: FileSystem, dest: Path,
                                  content: Array[Byte]): Boolean =
    putBinding(fs).create(fs, dest, _.write(content))

  /** Every `CheckpointInterval`-th version also writes a full-state
    * checkpoint so reconstruction never folds more than this many deltas. */
  val CheckpointInterval: Long = 16

  /** All log entries, oldest first ((version, commitId) order keeps two
    * racing writers that picked the same version deterministic; a version's
    * checkpoint sorts after its delta, which fold() relies on). */
  def entries(fs: FileSystem, warehouse: String): Seq[Entry] = {
    val dir = snapDir(warehouse)
    if (!fs.exists(dir)) return Seq.empty
    val sts = fs.listStatus(dir).toSeq
    logLists.addAndGet(math.max(1, sts.size))
    sts.flatMap { st =>
      st.getPath.getName match {
        case SnapRe(v, cid, kind) =>
          Some(Entry(v.toLong, cid, st.getPath, kind == "ckpt",
            st.getModificationTime))
        case _ => None
      }
    }.sortBy(e => (e.version, e.commitId, e.isCheckpoint))
  }

  private val LastCkptName = "_last_checkpoint"

  /** Log listing anchored at the `_last_checkpoint` pointer: walk versions
    * upward from the recorded checkpoint with one targeted glob each (a
    * prefix listing on an object store) instead of listing the whole log
    * dir — O(interval + unvacuumed tail) list operations per call, not
    * O(retained history). Sound because versions above the newest
    * checkpoint are DENSE: a writer claims V+1 only after V's entry is
    * visible (or its stale claim is broken), so the first version with no
    * entry is the end of the log. The pointer is a monotonic HINT — a
    * missing, stale, torn, or vacuum-regressed pointer falls back to the
    * full listing, and consumers needing pre-anchor history (time travel,
    * vacuum, history, changes) always use the full listing. */
  private[ingest] def tailEntries(fs: FileSystem, warehouse: String): Seq[Entry] = {
    val ptr = new Path(snapDir(warehouse), LastCkptName)
    val anchor =
      try {
        if (!fs.exists(ptr)) None
        else readLines(fs, ptr).headOption.flatMap(_.trim.toLongOption)
      } catch { case scala.util.control.NonFatal(_) => None }
    anchor match {
      case None => entries(fs, warehouse)
      case Some(a) =>
        val buf = Seq.newBuilder[Entry]
        var v = a
        var done = false
        while (!done) {
          val sts = fs.globStatus(new Path(snapDir(warehouse), f"$v%020d-*"))
          logLists.incrementAndGet()
          val es = sts.toSeq.flatMap { st =>
            st.getPath.getName match {
              case SnapRe(ver, cid, kind) =>
                Some(Entry(ver.toLong, cid, st.getPath, kind == "ckpt",
                  st.getModificationTime))
              case _ => None
            }
          }
          if (es.isEmpty) done = true else { buf ++= es; v += 1 }
        }
        val out = buf.result().sortBy(e => (e.version, e.commitId, e.isCheckpoint))
        if (out.exists(e => e.isCheckpoint && e.version == a)) out
        else entries(fs, warehouse) // stale pointer: anchor gone
    }
  }

  def latestVersion(fs: FileSystem, warehouse: String): Option[Long] =
    tailEntries(fs, warehouse).lastOption.map(_.version)

  private def readLines(fs: FileSystem, p: Path): Seq[String] = {
    logReads.incrementAndGet()
    val in = fs.open(p)
    val text =
      try {
        val buf = new java.io.ByteArrayOutputStream()
        val chunk = new Array[Byte](8192)
        var n = in.read(chunk)
        while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
        new String(buf.toByteArray, StandardCharsets.UTF_8)
      } finally in.close()
    text.split("\n").toSeq.filter(_.nonEmpty)
  }

  /** Completeness footer, the LAST line of every `.snap`/`.ckpt`. Entry
    * visibility is not content-atomic on every store: `file://` promotes a
    * fully-written temp by hard link, and a real S3 PUT materializes on
    * close, but HDFS/NFS-style stores expose `create(overwrite=false)` +
    * write — a concurrent lister can open the entry EMPTY or PARTIAL, and
    * a writer that dies mid-write leaves a truncated entry forever.
    * Folding a truncated entry silently loses ADD/REMOVE actions, so the
    * footer makes completeness CHECKABLE: readers treat a footer-less
    * entry as in-flight (bounded re-read — writes are ms-wide) and then
    * as torn — a torn CHECKPOINT is skipped (redundant state; the fold
    * falls back to the previous anchor), a torn DELTA fails loudly with
    * the path, never a silent partial fold. */
  private[ingest] val EndMarker = "#END"

  /** Era marker (`_footer_era` beside the log entries) certifying every
    * entry in this log was written under the footer protocol — so a
    * footer-LESS file here is provably a dead writer's torn residue, safe
    * to self-heal. Written on a log's very first commit and by
    * [[migrateFooters]]. Without it, [[sweepTorn]] refuses to delete
    * ANYTHING: a pre-footer-era log's entries are all footer-less yet
    * COMMITTED — sweeping them would silently destroy data (the
    * unmigrated-legacy-warehouse trap). Reads of such a log fail loudly
    * pointing at [[migrateFooters]] instead. */
  private val FooterEraName = "_footer_era"

  private[graft] def markFooterEra(fs: FileSystem, warehouse: String): Unit = {
    putIfAbsent(fs, new Path(snapDir(warehouse), FooterEraName),
      Array.emptyByteArray): Unit
  }

  private def footerEra(fs: FileSystem, logDir: Path): Boolean =
    try fs.exists(new Path(logDir, FooterEraName))
    catch { case _: java.io.IOException => false }

  /** Marker-present log dirs (qualified), memoized: once certified, the
    * per-append exists() probe is skipped for the JVM's lifetime. */
  private val certifiedEras =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Negative memo: log dirs whose last certification attempt FAILED, with
    * the earliest time a retry is worth paying for. Without it, a
    * marker-less log that cannot certify right now — a legacy log that
    * never will, or a busy log where some rival entry is mid-pour at every
    * instant — pays a full listing plus O(entries) footer probes on EVERY
    * append: O(N) store requests per commit, O(N²) cumulative. Certifying
    * is advisory (reads stay loud, the marker can land on any later
    * attempt), so deferring retries costs nothing but the sweep staying
    * un-armed a few extra seconds. */
  private val certifyRetryAt =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  private def certifyRetryMs: Long =
    sys.props.get("graft.test.certifyRetryMs").map(_.toLong).getOrElse(10000L)

  /** Test hook: forget memoized certifications (simulates a fresh JVM
    * looking at a warehouse certified by an earlier process). */
  private[graft] def resetEraMemo(): Unit = {
    certifiedEras.clear()
    certifyRetryAt.clear()
  }

  /** Self-certify an already-footer-complete log. A warehouse written
    * entirely under the footer protocol but BEFORE the era marker existed
    * (or whose marker file was lost) has every entry footered yet no
    * `_footer_era` — without this, the torn-residue self-heal stays
    * disabled forever and the first dead writer wedges reads on
    * [[migrateFooters]] (which demands a quiesce). Append calls this
    * before writing anything: when the marker is absent it scans the FULL
    * listing (anchored tails are not enough — below-anchor entries may be
    * pre-footer) and plants the marker iff EVERY entry carries its
    * [[EndMarker]]. A footer-less entry — legacy data, a live rival
    * mid-write, or torn residue — refuses certification (conservative:
    * retried on the next append; genuinely legacy logs keep failing
    * loudly at migrateFooters). Advisory and racy-safe: the marker put is
    * idempotent and certifying late never un-commits anything.
    *
    * UPGRADE CONTRACT (same as [[migrateFooters]], and as a marker
    * planted at a log's first commit): once the marker exists, EVERY
    * writer must be footer-aware — a pre-footer binary still committing
    * to the warehouse would land footer-less entries the armed self-heal
    * eventually sweeps as torn. Drain pre-footer writers before pointing
    * footer-protocol binaries at a shared warehouse; certification only
    * removes the quiesced-migration step for logs ALREADY written
    * entirely under the footer protocol — it does not relax the
    * no-mixed-fleet rule. */
  private[graft] def certifyFooterEra(fs: FileSystem, warehouse: String): Unit = {
    val dir = snapDir(warehouse)
    val key =
      try fs.makeQualified(dir).toString
      catch { case _: IllegalArgumentException => dir.toString }
    if (certifiedEras.contains(key)) return
    val now = System.currentTimeMillis()
    val retryAt = certifyRetryAt.get(key)
    if (retryAt != null && now < retryAt) return
    try {
      if (!fs.exists(dir)) return // brand-new: first commit plants it
      if (footerEra(fs, dir)) {
        certifiedEras.add(key); certifyRetryAt.remove(key); return
      }
      val all = entries(fs, warehouse)
      if (all.isEmpty) return // empty log: first commit plants it
      val complete = all.forall { e =>
        try hasFooterTail(fs, e.path)
        catch { case _: java.io.IOException => false }
      }
      if (complete) {
        markFooterEra(fs, warehouse)
        certifiedEras.add(key); certifyRetryAt.remove(key)
      } else
        // Stamp at FAILURE time, not scan start: a scan longer than the
        // retry window would otherwise memoize an already-expired
        // deadline and the next append re-pays the whole scan.
        certifyRetryAt.put(key, System.currentTimeMillis() + certifyRetryMs)
    } catch {
      case _: java.io.IOException =>
        certifyRetryAt.put(key, System.currentTimeMillis() + certifyRetryMs)
    }
  }

  /** O(1) footer probe: seeks to the entry's last bytes instead of pouring
    * the whole file through the driver — certification scans EVERY entry
    * including checkpoints, which enumerate one line per live file (hundreds
    * of MB at 100 TB). Equivalent to `readLines(p).lastOption.contains
    * (EndMarker)`: entries are written with the footer as the final line and
    * no trailing newline; stray trailing newlines are trimmed anyway. */
  private def hasFooterTail(fs: FileSystem, p: Path): Boolean = {
    val len = fs.getFileStatus(p).getLen
    if (len < EndMarker.length) return false
    val in = fs.open(p)
    try {
      val start = math.max(0L, len - 16)
      in.seek(start)
      val buf = new Array[Byte]((len - start).toInt)
      var off = 0
      while (off < buf.length) {
        val n = in.read(buf, off, buf.length - off)
        if (n < 0) return false
        off += n
      }
      val tail = new String(buf, StandardCharsets.UTF_8)
        .reverse.dropWhile(_ == '\n').reverse
      // The footer must be its own line: preceded by '\n', or the whole
      // file. A window that trims to bare "#END" mid-file can't prove the
      // preceding byte — refuse conservatively (no writer produces that).
      tail.endsWith("\n" + EndMarker) || (start == 0 && tail == EndMarker)
    } finally in.close()
  }

  /** Fault-SAFE completeness probe for the pre-write guard. FNF means the
    * foreign entry is provably gone (a swept zombie, not a commit) — report
    * incomplete. Any OTHER read fault leaves the verdict UNKNOWN, and the
    * unsafe misread here is the one the guard exists to prevent: calling a
    * committed entry "torn" lets the claimant write over it and its winner
    * sweep delete a commit that already returned success. So transient
    * faults retry briefly and a persistent fault reports COMPLETE: the
    * claimant backs off and re-lists, routing the ambiguity through the
    * read path's own rails (bounded waits, sweepTorn, loud failure) — a
    * false "complete" on a genuinely torn entry costs one outer-loop
    * retry, never data. */
  private def completeUnlessProvablyGone(fs: FileSystem, p: Path): Boolean = {
    var attempt = 0
    while (attempt < 3) {
      try return hasFooterTail(fs, p)
      catch {
        case _: java.io.FileNotFoundException => return false
        case _: java.io.IOException =>
          attempt += 1
          if (attempt < 3) Thread.sleep(10L * attempt)
      }
    }
    true
  }

  /** How long the optional-anchor read waits for an in-flight checkpoint:
    * checkpoints are redundant state, so the fold skips to the previous
    * anchor quickly instead of stalling a read behind a large checkpoint
    * mid-write. (DELTA reads wait the full [[claimGraceMs]] — see
    * [[readEntry]]: a delta has no substitute, and waiting out a live
    * writer beats failing the read.) */
  private def ckptSkipMs: Long = math.min(claimGraceMs, 2000L)

  /** Read a log entry's lines, validating the [[EndMarker]] footer. None
    * after `maxWaitMs` = torn (or still in-flight under a pathological
    * stall — retrying later is always safe: complete entries are
    * immutable). Footer line stripped from the result. */
  private def readEntryOpt(fs: FileSystem, p: Path,
                           maxWaitMs: Long): Option[Seq[String]] = {
    var lines = readLines(fs, p)
    if (lines.lastOption.contains(EndMarker)) return Some(lines.init)
    // The wait is anchored at the FILE's mtime, not at this call: a
    // residue already older than the claim grace is provably dead — no
    // reader should re-pay the full grace discovering what the mtime
    // already proves. (The stat runs only on this slow path — the happy
    // single-read path above costs no extra RPC.)
    val deadline = {
      val mtime =
        try fs.getFileStatus(p).getModificationTime
        catch { case _: java.io.IOException => 0L }
      math.min(System.currentTimeMillis() + maxWaitMs, mtime + claimGraceMs)
    }
    var backoff = 10L // exponential: each retry is a GET on object stores
    while (lines.lastOption.forall(_ != EndMarker) &&
        System.currentTimeMillis() < deadline) {
      Thread.sleep(backoff)
      backoff = math.min(backoff * 2, 250L)
      lines = readLines(fs, p)
    }
    if (lines.lastOption.contains(EndMarker)) Some(lines.init) else None
  }

  /** A log entry is visible but incomplete (no [[EndMarker]] footer) and
    * could not be self-healed yet: its writer may still be alive (inside
    * [[claimGraceMs]]), or it sits mid-log where sweeping would punch a
    * version hole. TRANSIENT in the first case — a retry after the grace
    * self-heals; callers that can re-drive the operation should. */
  final class TornLogEntryException(msg: String)
    extends IllegalStateException(msg)

  /** [[readEntryOpt]] that FAILS on a torn entry — the delta-entry read:
    * unlike a checkpoint (redundant state, skippable), a truncated delta
    * has no safe interpretation. The wait is the FULL claim grace: an
    * alive writer finishes in milliseconds, a dead one's residue
    * self-heals via [[sweepTorn]] at the grace boundary — so a reader
    * only ever FAILS on the rival-claimed or mid-log torn cases, never
    * on a merely-slow live writer (a pathological multi-minute straggler
    * may be swept as dead, in which case its own claim re-verify makes
    * it re-land — see [[sweepTorn]]). */
  private def readEntry(fs: FileSystem, p: Path): Seq[String] =
    readEntryOpt(fs, p, claimGraceMs).getOrElse {
      if (sweepTorn(fs, p))
        // The torn entry is gone: surface it as a vanished entry, which
        // every read path already retries with a re-list.
        throw new java.io.FileNotFoundException(
          s"$p was torn (dead writer) and has been swept")
      throw new TornLogEntryException(
        s"log entry $p is torn or still in flight (no $EndMarker footer " +
          s"after ${claimGraceMs}ms) — either its version claim is held " +
          "by a live rival (whose own commit will sweep it) or it sits " +
          "mid-log where sweeping would hole the version sequence; " +
          "see Snapshots.migrateFooters for pre-footer-era logs")
    }

  /** Self-heal a torn entry whose writer is provably dead: an entry still
    * footer-less past [[claimGraceMs]] (the same staleness rule claim
    * breaking uses — entry writes are ms-wide) is a died-mid-write
    * residue that would otherwise wedge every reader AND every writer
    * (version assignment counts it; `putIfAbsent` can never replace it).
    *
    * Two safety rails:
    *  - A DELTA sweeps only at the TOP of the log (no entry at version+1):
    *    deleting a mid-log version would punch a hole in the dense-version
    *    invariant the anchored listing and the OCC "seen every entry < V"
    *    argument rest on. Mid-log torn deltas are near-impossible anyway —
    *    every adds-bearing append folds the log (and so trips on the torn
    *    entry) BEFORE claiming a higher version; only metadata-only
    *    commits could stack past one, and those keep the loud error.
    *  - Against a merely-SLOW writer: (1) break the version claim FIRST,
    *    (2) re-read — a writer that completed and verified its claim
    *    before (1) has, by read-after-write, a visible footer at (2), so
    *    a completed entry is never deleted; a writer still in flight
    *    loses its claim, and its own post-write re-verify resolves it
    *    (re-take and keep, or lose to a rival and retry — the standard
    *    zombie path).
    *
    * Checkpoints sweep on age alone — redundant state with no role in
    * version assignment, and the lingering torn file would block
    * [[writeCheckpoint]]'s put-if-absent at that version forever.
    * Returns true when the entry was removed. */
  private def sweepTorn(fs: FileSystem, p: Path): Boolean = {
    val (version, commitId) = p.getName match {
      case SnapRe(v, cid, _) => (v.toLong, cid)
      case _ => return false
    }
    // PRE-FOOTER-ERA GUARD: without the era marker, footer absence proves
    // nothing — every entry of a legacy log is footer-less and aged, yet
    // committed. Never delete; the caller fails loudly pointing at
    // migrateFooters (which stamps the log AND plants the marker).
    if (!footerEra(fs, p.getParent)) return false
    // Age gate: entry writes are ms-wide, so a footer-less file this old
    // is near-certainly dead. On stores where writes refresh mtime
    // (POSIX) this is also a liveness heartbeat; where they don't
    // (HDFS sets mtime at close), a pathologically slow LIVE writer may
    // be swept as dead — safe regardless: the lock-then-reread ordering
    // below means any writer that completed before the re-read keeps its
    // entry, and one swept mid-write fails its own post-write claim
    // re-verify and simply re-lands the commit.
    val age =
      try System.currentTimeMillis() - fs.getFileStatus(p).getModificationTime
      catch {
        // Vanished between the caller's read and this stat: a concurrent
        // reader already swept the residue — report healed so retryVanished
        // callers re-list instead of failing the whole read as torn.
        case _: java.io.FileNotFoundException => return true
        case _: java.io.IOException => return false
      }
    if (age < claimGraceMs) return false
    if (!p.getName.endsWith(".ckpt")) {
      if (fs.globStatus(
          new Path(p.getParent, f"${version + 1}%020d-*.snap")).nonEmpty)
        return false // mid-log: never punch a hole
      // The version claim may belong to a RIVAL by now (the torn writer's
      // stale claim was broken and re-taken): deleting it would zombify a
      // LIVE rival — its post-write re-verify would self-delete a
      // perfectly valid entry. A lock read that FAILS (vanished between
      // exists and open — a break/retake racing this sweep) is treated
      // the same conservative way: prove nothing, touch nothing, retry
      // later.
      val lock = new Path(p.getParent, f"$version%020d.lock")
      val holder: Option[String] =
        try {
          if (!fs.exists(lock)) None
          else Some(readLines(fs, lock).headOption.getOrElse(""))
        } catch { case _: java.io.IOException => return false }
      holder match {
        case Some(h) if h != commitId =>
          // Rival-held. Three sub-cases, decided from the rival's own
          // entry at this version:
          //  - COMPLETE: the rival COMMITTED and died pre-sweep — this
          //    residue is a zombie its winner-sweep never cleared: sweep
          //    the residue alone, never the claim.
          //  - TORN too: both writers died mid-write at one version (the
          //    second after breaking and re-taking the first's claim) —
          //    recurse: sweeping the HOLDER's residue (age-gated like any
          //    sweep) also breaks the shared claim, unblocking this one.
          //    Without the recursion this state wedges forever, because
          //    the fold always trips on the lower-sorted residue first.
          //  - ABSENT: the rival is mid-commit (claimed, not yet written)
          //    — leave everything for its own winner-sweep.
          val rivalPath = new Path(p.getParent, f"$version%020d-$h.snap")
          val rivalLines =
            try Some(readLines(fs, rivalPath))
            catch { case _: java.io.IOException => None }
          rivalLines match {
            case Some(ls) if ls.lastOption.contains(EndMarker) => ()
            case Some(_) => if (!sweepTorn(fs, rivalPath)) return false
            case None => return false
          }
        case _ =>
          // Our own (or unclaimed): break the dead writer's claim first —
          // a writer that completed before this delete has, by
          // read-after-write, a visible footer at the re-read below.
          fs.delete(lock, false)
      }
    }
    val stillTorn =
      try readLines(fs, p).lastOption.forall(_ != EndMarker)
      catch { case _: java.io.FileNotFoundException => return true }
    if (stillTorn) fs.delete(p, false)
    stillTorn
  }

  /** A LISTED log entry can legitimately vanish before it is opened: the
    * commit protocol deletes `.snap` files after they become visible (a
    * loser's self-delete on a broken claim, the winner's same-version
    * zombie sweep), and vacuum truncates old entries. A vanished entry is
    * by construction not part of the committed log, so the consistent
    * answer is to RE-LIST and re-run the read — which every wrapped body
    * does internally (its listing happens inside). Bounded: persistent
    * FNF (someone deleted files out-of-band) surfaces the original error. */
  private def retryVanished[A](body: => A): A = {
    var attempts = 0
    while (true) {
      try return body
      catch {
        case e: java.io.FileNotFoundException =>
          attempts += 1
          if (attempts > 8) throw e
          Thread.sleep(5L * attempts)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private def readActions(fs: FileSystem, p: Path): Seq[Action] =
    parseActions(readEntry(fs, p))

  private def parseActions(lines: Seq[String]): Seq[Action] =
    lines.filterNot(_.startsWith("#")).map { line =>
      line.split("\t", 6) match {
        case Array(op, table, file, part, stats, dv) =>
          Action(op, table, file, part, stats, dv)
        case Array(op, table, file, part, stats) =>
          Action(op, table, file, part, stats)
        case Array(op, table, file, part) => Action(op, table, file, part)
        // Entries written before partition tuples were recorded: the path
        // self-describes its spec.
        case Array(op, table, file) =>
          Action(op, table, file, partitionOf(file))
      }
    }

  /** Operation tag of a log entry (`#OP` header line); entries written
    * before tagging existed default to "append". */
  private def readOp(fs: FileSystem, p: Path): String =
    readEntry(fs, p).find(_.startsWith("#OP\t"))
      .map(_.split("\t", 2)(1)).getOrElse("append")

  /** Operation metrics of a log entry (`#METRICS\tk=v,…` header line) —
    * row counts the committing operation observed (rows_inserted /
    * rows_updated / rows_deleted). Empty for entries written without
    * metrics (pre-metrics logs, metadata commits). */
  private def parseMetrics(lines: Seq[String]): Map[String, Long] =
    lines.find(_.startsWith("#METRICS\t"))
      .map(_.split("\t", 2)(1).split(",").toSeq.flatMap { kv =>
        kv.split("=", 2) match {
          case Array(k, v) => v.toLongOption.map(k -> _)
          case _ => None
        }
      }.toMap).getOrElse(Map.empty)

  /** Land a log file via [[putIfAbsent]]. Names are globally unique
    * (version + commitId), so an existing file can only be this commit's
    * own earlier write (crash-retry) — treated as success. */
  private def writeEntry(fs: FileSystem, warehouse: String, name: String,
                         lines: Seq[String]): Unit = {
    val dir = snapDir(warehouse)
    fs.mkdirs(dir)
    putIfAbsent(fs, new Path(dir, name),
      (lines :+ EndMarker).mkString("\n").getBytes(StandardCharsets.UTF_8))
  }

  /** [[writeEntry]] that STREAMS its lines — same put-if-absent contract
    * (temp + hard-link promotion on file://, create-no-overwrite
    * elsewhere) without materializing the payload. Delta commits are a
    * handful of lines, but a CHECKPOINT is one line per live file: at
    * millions of files the mkString+getBytes path would hold hundreds of
    * MB twice on the driver beside the fold itself. */
  private def writeEntryStream(fs: FileSystem, warehouse: String,
                               name: String, lines: Iterator[String])
      : Unit = {
    val dir = snapDir(warehouse)
    fs.mkdirs(dir)
    def pour(out: java.io.OutputStream): Unit = {
      val w = new java.io.BufferedOutputStream(out, 1 << 20)
      var first = true
      (lines ++ Iterator.single(EndMarker)).foreach { l =>
        if (!first) w.write('\n')
        first = false
        w.write(l.getBytes(StandardCharsets.UTF_8))
      }
      w.flush()
    }
    putBinding(fs).create(fs, new Path(dir, name), pour): Unit
  }

  /** One-time upgrade for PRE-FOOTER-era logs: stamp the [[EndMarker]]
    * footer onto every entry that lacks one, so a warehouse written by an
    * older build reads under the footer-validating protocol instead of
    * every entry looking torn. MUST run with no concurrent writers or
    * readers (the operator has declared quiescence). Idempotent and
    * crash-safe: each entry is backed up (`<name>.premigrate`) before
    * its in-place rewrite and the backup is removed only after the
    * rewrite verifies — a re-run first restores any entry whose backup
    * survived a mid-rewrite crash. Every line is validated as a
    * well-formed action BEFORE stamping: a pre-footer-era entry that was
    * itself torn (a dead writer's truncated line) is REFUSED with its
    * path, never certified complete. (Truncation that still parses — a
    * path cut at a field boundary — is undetectable in the legacy
    * format; that ambiguity is exactly why the footer exists.)
    * Returns the number of entries stamped. */
  def migrateFooters(fs: FileSystem, warehouse: String): Int = {
    def wellFormed(line: String): Boolean =
      line.startsWith("#") || {
        val kind = line.takeWhile(_ != '\t')
        Set("ADD", "REMOVE", "CDF", "META", "DV")(kind) &&
          line.split("\t", -1).length >= 3
      }
    def overwrite(p: Path, lines: Seq[String]): Unit = {
      val out = fs.create(p, true)
      try out.write(lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
      finally out.close()
    }
    var stamped = 0
    entries(fs, warehouse).foreach { e =>
      val bak = new Path(e.path.getParent, e.path.getName + ".premigrate")
      // The backup IS the migrated content (original lines + footer), so
      // its own footer doubles as its completeness proof. A complete
      // surviving backup means the previous run crashed mid-rewrite of
      // the original — restore from it; a footer-less backup means the
      // crash hit the backup write itself, BEFORE the original was
      // touched — discard it.
      if (fs.exists(bak)) {
        val bakLines = readLines(fs, bak)
        if (bakLines.lastOption.contains(EndMarker))
          overwrite(e.path, bakLines)
        else fs.delete(bak, false)
      }
      val lines = readLines(fs, e.path)
      if (lines.lastOption.forall(_ != EndMarker)) {
        val bad = lines.filterNot(wellFormed)
        require(bad.isEmpty,
          s"entry ${e.path} contains a malformed line (${bad.head.take(60)}" +
            "…) — a pre-footer-era torn write; restore or remove the " +
            "entry before migrating")
        val migrated = lines :+ EndMarker
        overwrite(bak, migrated)
        require(readLines(fs, bak) == migrated,
          s"backup write of ${e.path} did not verify — nothing touched")
        overwrite(e.path, migrated)
        require(readLines(fs, e.path) == migrated,
          s"rewrite of ${e.path} did not verify — backup kept at $bak")
        fs.delete(bak, false)
        stamped += 1
      } else fs.delete(bak, false)
    }
    // Every entry now carries its footer: certify the log as footer-era so
    // the torn-residue self-heal ([[sweepTorn]]) is allowed to operate.
    markFooterEra(fs, warehouse)
    stamped
  }

  private def lockPath(warehouse: String, version: Long): Path =
    new Path(snapDir(warehouse), f"$version%020d.lock")

  /** Does `commitId` hold the claim for `version`? (Pre-claim-era logs have
    * no lock files — then nobody provably owns the version.) */
  private def ownsClaim(fs: FileSystem, warehouse: String, version: Long,
                        commitId: String): Boolean = {
    val p = lockPath(warehouse, version)
    try fs.exists(p) && readLines(fs, p).headOption.contains(commitId)
    catch { case _: java.io.IOException => false }
  }

  /** Wait (bounded by [[claimGraceMs]]) for the claimed version's entry to
    * appear; if the claimant died first, break the stale claim so the log
    * never wedges on a hole. */
  private def awaitClaimedVersion(fs: FileSystem, warehouse: String,
                                  version: Long): Unit = {
    val deadline = System.currentTimeMillis() + claimGraceMs
    val glob = new Path(snapDir(warehouse), f"$version%020d-*.snap")
    while (System.currentTimeMillis() < deadline) {
      if (fs.globStatus(glob).nonEmpty) return
      Thread.sleep(10)
    }
    if (fs.globStatus(glob).isEmpty)
      fs.delete(lockPath(warehouse, version), false)
  }

  /** Append the log entry for a published commit. Idempotent by commitId
    * (recovery re-runs publish): an existing `*-<commitId>.snap` wins. The
    * version is max+1; two concurrent APPEND writers landing the same
    * version is tolerated — the commitId suffix keeps the filenames (and
    * rename atomicity) distinct, reconstruction re-applies same-version
    * deltas idempotently, and appends touch disjoint files by construction.
    * Every [[CheckpointInterval]]-th version also writes a full-state
    * `.ckpt` (best-effort: a crash between the two writes just defers the
    * anchor to the next interval).
    *
    * `baseVersion` is the optimistic-concurrency guard for REWRITE commits
    * (compact / zorder / merge — ops whose correctness depends on the
    * snapshot they read): if any commit has touched one of this commit's
    * tables since `baseVersion`, the rewrite's inputs may have been swapped
    * out from under it — two racing compactions would each re-add a full
    * copy of the rows the other removed, silently DOUBLING the table.
    * Throws [[ConcurrentCommitException]] instead (the Delta conflict-check
    * analog; conservative per-table serializability).
    *
    * Version assignment is serialized by a put-if-absent claim: a writer
    * owns version V only after atomically creating `<V>.lock` (content =
    * its commitId), and only the claim owner writes V's entry — so two
    * entries can never share a version, the log has exactly one winner per
    * version even on stores without atomic rename, and a guarded writer
    * that claims V has, by density, seen EVERY committed entry < V when it
    * ran its conflict check. A claim whose entry never appears (claimant
    * died in the ms-wide window between claim and entry) is broken by
    * waiting writers after [[claimGraceMs]]. Against the zombie tail of
    * that break (claimant wakes up and writes its entry anyway), the
    * entry write is followed by a claim re-verify: lost ownership runs a
    * RESOLUTION (see the decision table at the re-verify site) — re-take
    * the freed claim and keep the entry, or lose to a rival's entry and
    * retry; never an unconditional self-delete, which could hole the
    * version sequence under a successor that already built on the late
    * entry. The winner sweeps any same-version zombie entry it observes. */
  def append(fs: FileSystem, warehouse: String, commitId: String,
             adds: Seq[(String, String)], removes: Seq[(String, String)],
             op: String = "append", baseVersion: Option[Long] = None,
             statsFor: Map[String, String] = Map.empty,
             changeFiles: Seq[(String, String)] = Nil,
             replay: Boolean = false,
             metas: Seq[(String, String)] = Nil,
             dvs: Seq[(String, String, String)] = Nil,
             dvFor: Map[String, String] = Map.empty,
             fileGranularOcc: Boolean = false,
             metrics: Map[String, Long] = Map.empty,
             features: Seq[(String, String)] = Nil,
             occTables: Set[String] = Set.empty): Unit = {
    // Re-arm the torn-residue self-heal on logs that predate (or lost) the
    // era marker but are provably footer-complete — BEFORE anything folds
    // the log (requireFeatures below reads entries), so certification is
    // the first protocol decision an append makes. One exists() probe per
    // append until certified, then memoized.
    certifyFooterEra(fs, warehouse)
    // Writer-side protocol gate: refuse to mutate a table whose required
    // features this build doesn't know (recovery replays are exempt —
    // their commit passed the gate live; a replay must converge, not
    // wedge). Pseudo-keys (`t#props`, `#txn#…`) are not tables. One fold
    // gates every table.
    val gated =
      if (replay) Nil
      else (adds.map(_._1) ++ removes.map(_._1) ++ dvs.map(_._1) ++
        metas.map(_._1).filterNot(_.contains("#"))).distinct
    if (gated.nonEmpty) {
      val snap = snapshot(fs, warehouse)
      gated.foreach(snap.requireFeatures(_, forWrite = true))
    }
    // `occTables` widens the conflict scope beyond the keys this commit
    // writes: metadata-only commits whose VALIDITY depends on the table's
    // data state (DROP FEATURE's dependency probe, SYNC IDENTITY's stats
    // scan) pass the data table here, so a concurrent commit touching the
    // table — which emits no line under the metadata pseudo-key — still
    // conflicts and the caller re-validates against fresh state.
    val myTables = (adds ++ removes ++ metas).map(_._1).toSet ++
      dvs.map(_._1) ++ occTables
    // File-granular conflict detection (the Delta WriteSerializable
    // stance), opted into by rewrites whose read dependence IS their
    // swap-out set: this commit's removes + DV attach targets. An
    // intervening commit conflicts iff it touched one of those files —
    // REMOVE (a rival rewrite swapped it out), ADD (a restore re-added
    // it), DV (row deletes landed that this rewrite's outputs would
    // resurrect) — or changed the table's metadata (column mapping).
    // Intervening plain APPENDS do NOT conflict: they touch disjoint
    // files, and a predicate DML committing after an append simply hasn't
    // examined the appended rows — the WriteSerializable relaxation.
    // Ops whose correctness spans the whole table state (restore, schema
    // evolution, key-merge UPSERT — a concurrent append could carry a
    // duplicate of an inserted key) stay table-granular.
    val occSet: Set[(String, String)] =
      if (!fileGranularOcc) Set.empty
      else (removes.map { case (t, f) => (t, pathKey(f)) } ++
        dvs.map { case (t, f, _) => (t, pathKey(f)) }).toSet
    // A vanished-entry retry can leave an earlier attempt's claim behind
    // (claimed, then the fold aborted before the entry write): track it,
    // and on ANY exit where no entry of ours stands at the claimed
    // version, release the lock — otherwise the next committer to reach
    // that version sits the full claim grace breaking an orphan.
    var heldClaim = -1L
    def releaseHeldClaim(): Unit =
      if (heldClaim >= 0) {
        // Only a YOUNG claim releases: under the grace no rival may break
        // and re-take it, so ownsClaim==true proves the lock is still
        // ours and the delete cannot hit a re-taken claim. A claim that
        // aged past the grace belongs to the break machinery — deleting
        // it here could race a rival's fresh re-claim (the zombify class
        // sweepTorn also guards against).
        val lock = lockPath(warehouse, heldClaim)
        val young =
          try System.currentTimeMillis() -
            fs.getFileStatus(lock).getModificationTime < claimGraceMs
          catch { case _: java.io.IOException => false }
        if (young && ownsClaim(fs, warehouse, heldClaim, commitId) &&
            fs.globStatus(new Path(snapDir(warehouse),
              f"$heldClaim%020d-$commitId.snap")).isEmpty)
          fs.delete(lock, false)
        heldClaim = -1L
      }
    try {
    var attempts = 0
    while (true) {
      attempts += 1
      if (attempts > 64)
        throw new ConcurrentCommitException(
          s"commit $commitId could not claim a log version after 64 attempts")
      try {
      // Fresh commits list only the anchored tail: a brand-new commitId
      // cannot have an entry anywhere, and version assignment/zombie
      // checks only need the log's top. Two cases need the full listing:
      // a recovery REPLAY (its entry may have fallen below the anchor
      // while the job was down — missing it would double-commit), and an
      // OCC guard whose base predates the anchor (intervening commits in
      // (base, anchor) would be invisible to the tail).
      val tail = if (replay) entries(fs, warehouse)
                 else tailEntries(fs, warehouse)
      val existing =
        if (!replay && baseVersion.exists(b =>
            tail.headOption.exists(_.version > b + 1)))
          entries(fs, warehouse)
        else tail
      val huskRedrive: Boolean =
      existing.find(e => !e.isCheckpoint && e.commitId == commitId) match {
        case Some(mine) =>
          // Recovery replay: the entry is LISTED — but listed is not
          // landed. A crash mid-entry-pour (non-content-atomic store)
          // leaves a footer-less husk under our own commitId; concluding
          // "it landed" from the listing would return success on residue
          // the torn sweep later deletes — a silently lost batch. Resolve
          // through [[readEntry]], which carries every rail this decision
          // needs and a bare probe-and-delete would skip:
          //  - a merely-SLOW live twin of this commit is waited out to
          //    its footer (never a TOCTOU delete of an entry whose writer
          //    is about to verify its claim and return success);
          //  - a provably dead husk is swept only under sweepTorn's age
          //    gate, break-claim-then-re-read ordering, and TOP-of-log
          //    rail — surfacing as FNF, and the re-list below re-drives
          //    at the freed version (a stale-listing version assignment
          //    would hole it);
          //  - a MID-LOG husk under committed successors keeps the loud
          //    TornLogEntryException (transient: re-drive the replay
          //    after the grace) — deleting it would silently truncate
          //    every anchored listing at the hole.
          val landed =
            try { readEntry(fs, mine.path); true }
            catch {
              case _: java.io.FileNotFoundException =>
                // Gone between listing and read: a swept husk or a lost
                // zombie (batch never landed — re-drive), UNLESS a
                // checkpoint now covers its version, where a commit
                // vacuumed after folding is indistinguishable from a
                // husk that lost to a since-vacuumed rival: refuse
                // loudly rather than silently succeed (lost batch) or
                // silently re-drive (double commit).
                val fresh = entries(fs, warehouse)
                if (!fresh.exists(e => !e.isCheckpoint &&
                      e.commitId == commitId) &&
                    fresh.exists(e => e.isCheckpoint &&
                      e.version >= mine.version))
                  throw new java.io.IOException(
                    s"replay of commit $commitId raced vacuum at version " +
                      s"${mine.version}: its listed entry vanished under " +
                      "the checkpoint cutoff, so landed-then-vacuumed " +
                      "cannot be told apart from lost-to-a-vacuumed-rival; " +
                      "outcome UNKNOWN — verify downstream idempotence " +
                      "before re-submitting")
                false // re-list and re-resolve / re-drive
              case e: java.io.IOException =>
                // A transient read fault leaves landed-or-husk UNDECIDED:
                // surface the re-drive contract instead of a bare store
                // error — the same commitId is always safe to re-submit.
                throw new java.io.IOException(
                  s"replay of commit $commitId cannot verify its entry at " +
                    s"version ${mine.version} (${e.getMessage}); outcome " +
                    "UNKNOWN — re-drive when the store heals", e)
            }
          if (landed) {
            // It is valid only if this commit provably owns its version —
            // a same-version rival with the claim (or a pre-claim-era
            // photo finish nobody owns) means the crash hit the
            // unverified window: unpublish and throw rather than risk
            // folding two rewrites in. The rivals come from a FRESH glob,
            // not the pre-read listing: readEntry may have waited out a
            // slow live twin for the full grace, and a rival that took
            // the version DURING that wait would be invisible to the
            // stale listing — returning success on an entry the twin's
            // own lose path then deletes.
            val rivals = fs.globStatus(new Path(snapDir(warehouse),
                f"${mine.version}%020d-*.snap")).map(_.getPath.getName)
              .filter(_ != mine.path.getName)
            if (rivals.nonEmpty && !ownsClaim(fs, warehouse, mine.version, commitId)) {
              fs.delete(mine.path, false)
              throw new ConcurrentCommitException(
                s"commit $commitId replayed into a version-${mine.version} " +
                  s"conflict with ${rivals.head.stripSuffix(".snap").drop(21)}; " +
                  "aborted")
            }
            return
          } else true
        case None => false
      }
      if (!huskRedrive) {
      baseVersion.foreach { base =>
        val intervening = existing.filterNot(_.isCheckpoint)
          .filter(_.version > base)
          .filter { e =>
            val acts = readActions(fs, e.path).filter(a => myTables(a.table))
            if (!fileGranularOcc) acts.nonEmpty
            else acts.exists(a => a.meta ||
              (!a.cdf && occSet((a.table, pathKey(a.file)))))
          }
        if (intervening.nonEmpty)
          throw new ConcurrentCommitException(
            s"commit $commitId read version $base but ${intervening.size} " +
              s"commit(s) since touched " +
              (if (fileGranularOcc) "files it read in " else "") +
              s"${myTables.mkString(",")} " +
              s"(first: version ${intervening.head.version})")
      }
      val version = existing.lastOption.map(_.version + 1).getOrElse(0L)
      fs.mkdirs(snapDir(warehouse))
      // A brand-new log is footer-era by construction: plant the marker
      // BEFORE the first entry so no reader ever observes entries without
      // it. Only the first-ever commit pays this put (idempotent on a race).
      if (existing.isEmpty) markFooterEra(fs, warehouse)
      // An earlier attempt of THIS commit may already hold the claim (a
      // vanished-entry retry fired between claim and entry write):
      // ownership, not create success, decides who writes the entry.
      if (!putIfAbsent(fs, lockPath(warehouse, version),
            commitId.getBytes(StandardCharsets.UTF_8)) &&
          !ownsClaim(fs, warehouse, version, commitId)) {
        // Lost the claim: wait for that version's entry (or break a stale
        // claim), then re-list and try the next version.
        awaitClaimedVersion(fs, warehouse, version)
      } else {
        if (heldClaim >= 0 && heldClaim != version) releaseHeldClaim()
        heldClaim = version
        // PRE-WRITE GUARD against claiming a version an earlier writer
        // ALREADY COMMITTED: this claim may have been won only because an
        // out-of-band break freed a lock its owner had verified ownership
        // of and returned on (our listing predates its entry's
        // visibility). Writing here would fork the version, and the
        // claim-based winner sweep would then destroy a commit that
        // already REPORTED SUCCESS — the one deletion the protocol may
        // never make (found by the chaos soak at 2000 schedules). A
        // COMPLETE foreign entry at the claimed version is, or will be,
        // the committed one — its writer either returned, or is
        // mid-resolution and (seeing no rival ENTRY, only our claim)
        // never self-deletes, or died post-write (readers fold a complete
        // entry as committed) — so release and stack above it. TORN
        // foreign entries keep the existing write-and-winner-sweep path
        // (dead mid-pour residue; provably never a returned commit).
        // Cost on the overwhelmingly common path: ONE targeted glob.
        testPostClaim.foreach(_(commitId, version))
        val ownEntryName = f"$version%020d-$commitId.snap"
        val committedForeign = fs.globStatus(new Path(snapDir(warehouse),
            f"$version%020d-*.snap"))
          .exists(st => st.getPath.getName != ownEntryName &&
            completeUnlessProvablyGone(fs, st.getPath))
        if (committedForeign) {
          // Release only a claim we still hold (deleting a re-taken rival
          // claim would zombify the rival); the outer loop re-lists and
          // stacks above the committed entry.
          if (ownsClaim(fs, warehouse, version, commitId))
            fs.delete(lockPath(warehouse, version), false)
          heldClaim = -1L
        } else {
        // Feature requirements land ATOMICALLY with the commit that first
        // exercises them: explicit tags from the caller (widening,
        // mapping, defaults) plus the implicit one a DV attach carries.
        // Re-merged per ATTEMPT against current state, so a rival's
        // feature introduction between retries is never clobbered
        // (latest-wins META key — the union must be computed last).
        val featTags = (features ++
            dvs.map { case (t, _, _) => (t, "r:deletionVectors") })
          .groupBy(_._1).toSeq.sortBy(_._1)
        val featMetas =
          if (featTags.isEmpty) Nil
          else {
            val cur = snapshot(fs, warehouse)
            featTags.flatMap { case (t, tags) =>
              featureMetaEntry(cur, t, tags.map(_._2).toSet) }
          }
        writeEntry(fs, warehouse, f"$version%020d-$commitId.snap",
          (Seq(s"#OP\t$op") ++
            (if (metrics.isEmpty) Nil
             else Seq("#METRICS\t" + metrics.toSeq.sorted
               .map { case (k, v) => s"$k=$v" }.mkString(",")))) ++
            (adds.map { case (t, f) =>
              val base = s"ADD\t$t\t$f\t${partitionOf(f)}\t${statsFor.getOrElse(f, "")}"
              dvFor.get(f).fold(base)(tok => s"$base\t$tok") } ++
              removes.map { case (t, f) => s"REMOVE\t$t\t$f\t${partitionOf(f)}\t" } ++
              changeFiles.map { case (t, f) => s"CDF\t$t\t$f\t\t" } ++
              (metas ++ featMetas).map { case (t, m) => s"META\t$t\t$m\t\t" } ++
              dvs.map { case (t, f, tok) => s"DV\t$t\t$f\t\t\t$tok" }))
        // Deterministic race injection for the resolution tests: fires
        // between the entry write and the claim re-verify — exactly the
        // zombie window.
        testPostEntryWrite.foreach(_(commitId, version))
        // Post-write claim re-verify. A lost claim does NOT immediately
        // mean the entry must self-delete: between the stale break and any
        // rival's re-claim, OUR entry may have become visible — a
        // successor may already have listed it as the committed version
        // and stacked version+1 on it, so an unconditional self-delete
        // would punch a PERMANENT HOLE under committed versions (the
        // exact state sweepTorn's mid-log rail exists to prevent),
        // silently truncating the anchored listing and breaking the OCC
        // density argument. Resolve by polling until the race settles:
        //  - a RIVAL entry at this version → the rival won; delete our
        //    entry and retry (the classic zombie path — the rival's
        //    winner sweep also clears our residue);
        //  - the claim is FREE → re-take it; owning it again makes us the
        //    plain winner and our entry stays (any successor that already
        //    built on it stays consistent);
        //  - a rival HOLDS the claim → it is ms from writing its own
        //    entry here (the append path never claims a version it saw an
        //    entry for, and never lists between claim and write), so wait
        //    for the first case — or break its lock once it ages stale
        //    (the claimant died) and re-take.
        // Decision table, polled until settled (every wait is bounded by a
        // rival's liveness or the claim grace):
        //  1. I own the claim (or re-take it)      → WIN (keep entry).
        //  2. a rival holds the claim:
        //     a. a rival entry exists              → LOSE (delete mine —
        //        the version keeps ITS entry, density holds);
        //     b. no rival entry yet                → wait (it is ms from
        //        writing) / break its lock once stale.
        //  3. the claim is FREE:
        //     a. no rival entry                    → re-take → WIN.
        //     b. rival entry too (mutual zombies — both claims broken
        //        out-of-band): deterministic tiebreak on entry-name sort
        //        (both sides compute the same verdict from the same
        //        files): first-sorting entry's owner re-takes and WINS,
        //        the other LOSES — never both delete, so no hole.
        val resolvedWin: Boolean = {
          var result: Option[Boolean] =
            if (ownsClaim(fs, warehouse, version, commitId)) Some(true)
            else None
          val own = f"$version%020d-$commitId.snap"
          val myLock = lockPath(warehouse, version)
          // Every legitimate wait below settles within the claim grace (a
          // live rival writes in ms; a dead one's claim ages stale and is
          // broken). Only a PERSISTENT store fault (lock reads erroring,
          // staleness unprovable) can outlast 2× grace WITHOUT PROGRESS —
          // then fail loudly with the outcome explicitly unknown instead
          // of spinning forever: walking away here is crash-equivalent,
          // and the protocol already resolves the residue (winner sweep /
          // stale break) exactly as it would a died-right-here writer.
          // Progress (the claim changing hands, a stale break landing)
          // RESETS the budget: a chain of dead rivals each waiting out its
          // own grace is unlucky but healthy, and must not be misread as
          // the store fault the error blames. The poll backs off 5→100 ms
          // so a full grace wait is O(hundreds) of store requests, not
          // tens of thousands.
          def resolutionBudget = 2 * claimGraceMs + 10000L
          var deadline = System.currentTimeMillis() + resolutionBudget
          var lastHolder: Option[Option[String]] = null
          var napMs = 5L
          while (result.isEmpty) {
            if (System.currentTimeMillis() > deadline)
              throw new java.io.IOException(
                s"commit $commitId could not resolve ownership of log " +
                  s"version $version after $resolutionBudget ms without " +
                  "progress (persistent failure reading the version lock?); " +
                  "commit outcome UNKNOWN — the entry is left for the " +
                  "protocol's zombie resolution, do not blindly re-submit " +
                  "non-idempotent work")
            val sameVer = fs.globStatus(new Path(snapDir(warehouse),
                f"$version%020d-*.snap")).map(_.getPath.getName).sorted
            // The lose decisions below must only fire on a COMPLETE rival
            // entry (same rule as the pre-write guard): a rival mid-pour
            // on a non-content-atomic store is footer-less in the listing,
            // and deleting our complete entry in its favor would leave the
            // version holding only torn residue if the rival then dies —
            // readers stall on it for the full grace. Torn rivals fall
            // through to the wait/stale-break path instead; fault reads
            // count as complete (losing is data-safe — we have not
            // returned — and never forks the version).
            def completeRival(name: String): Boolean =
              name != own && completeUnlessProvablyGone(
                fs, new Path(snapDir(warehouse), name))
            val holderRead: Option[Option[Option[String]]] = // None = fault
              try {
                if (!fs.exists(myLock)) Some(None) // absent
                else Some(Some(readLines(fs, myLock).headOption))
              } catch { case _: java.io.IOException => None }
            // A FAULT is not progress: recording it in lastHolder (the old
            // code mapped it to "held, content unreadable") let an
            // INTERMITTENTLY failing store alternate fault/success holder
            // states, each flip resetting the budget — the loop then never
            // reached its deadline and the commit hung forever, the exact
            // shape the budget exists to bound. Only a successfully READ
            // state change is progress.
            val holder: Option[Option[String]] =
              holderRead.getOrElse(Some(None))
            if (holderRead.isDefined) {
              if (lastHolder != null && holder != lastHolder) {
                deadline = System.currentTimeMillis() + resolutionBudget
                napMs = 5L // a fresh state deserves a fresh fast poll
              }
              lastHolder = holder
            }
            holder match {
              case Some(h) if h.contains(commitId) =>
                result = Some(true)
              case Some(h) if h.exists(hc =>
                  sameVer.contains(f"$version%020d-$hc.snap") &&
                  completeRival(f"$version%020d-$hc.snap")) =>
                // The claim holder's OWN complete entry is down: that
                // rival is the version's winner — lose, delete ours,
                // retry above. The holder-owns-entry requirement matters:
                // losing to ANY (holder, entry) pair lets a TRANSIENT
                // holder (a stale claimant backing off via the pre-write
                // guard, writing nothing) plus a vanishing zombie entry
                // talk a healthy writer into self-deleting — the version
                // then ends up EMPTY and committed versions stack above
                // the hole (found by the chaos soak). A holder without
                // its entry — or with only a mid-pour torn one — is
                // handled like any live rival below: wait for its entry
                // to complete or break it stale.
                fs.delete(new Path(snapDir(warehouse), own), false)
                result = Some(false)
              case Some(_) =>
                val stale =
                  try System.currentTimeMillis() -
                    fs.getFileStatus(myLock).getModificationTime > claimGraceMs
                  catch { case _: java.io.IOException => false }
                if (stale) fs.delete(myLock, false)
                Thread.sleep(napMs)
                napMs = math.min(napMs * 2, 100L)
              case None if {
                  // Mutual-zombie tiebreak (both claims broken
                  // out-of-band): the winner is the first-sorting
                  // COMPLETE entry — every live rival computes the same
                  // verdict from the same files, so exactly one side
                  // keeps its entry. Torn entries are dead residue and
                  // must not anchor the sort: ranking them would make
                  // EVERY live zombie sort after the corpse, all lose,
                  // all self-delete — and the version would hold only
                  // the torn husk. (Own is complete by construction:
                  // writeEntry returned before resolution began.)
                  val firstComplete =
                    sameVer.find(n => n == own || completeRival(n))
                  firstComplete.isDefined && !firstComplete.contains(own)
                } =>
                fs.delete(new Path(snapDir(warehouse), own), false)
                result = Some(false)
              case None =>
                if (putIfAbsent(fs, myLock,
                    commitId.getBytes(StandardCharsets.UTF_8)))
                  result = Some(true)
                else { // re-claim raced: re-resolve
                  Thread.sleep(napMs)
                  napMs = math.min(napMs * 2, 100L)
                }
            }
          }
          result.get
        }
        if (!resolvedWin) {
          () // entry deleted above; the outer loop retries at a fresh version
        } else {
          // Winner sweeps zombie entries that raced this version before
          // their own re-verify could delete them (targeted glob — not a
          // full listing).
          val own = f"$version%020d-$commitId.snap"
          fs.globStatus(new Path(snapDir(warehouse), f"$version%020d-*.snap"))
            .filterNot(_.getPath.getName == own)
            .foreach(st => fs.delete(st.getPath, false))
          // Best-effort by contract (see the method doc): the COMMIT is
          // the entry already written; a failed checkpoint just defers
          // the anchor to the next interval. Without this containment a
          // checkpoint hiccup would surface as a commit failure AFTER
          // the commit became visible.
          if (version > 0 && version % CheckpointInterval == 0)
            try writeCheckpoint(fs, warehouse, version, commitId)
            catch {
              case scala.util.control.NonFatal(e) =>
                org.slf4j.LoggerFactory.getLogger(getClass).warn(
                  s"checkpoint at version $version deferred: ${e.getMessage}")
            }
          heldClaim = -1L // committed: the claim now guards a live version
          return
        }
        } // end pre-write-guard else (version not already committed)
      }
      } // end huskRedrive else (no torn own husk unpublished this attempt)
      } catch {
        // A listed entry vanished between listStatus and open — by
        // construction a swept zombie (loser self-delete / winner sweep)
        // or a concurrent vacuum's truncation: the next iteration
        // re-lists and sees a consistent log. Never give up on FNF alone:
        // the attempt cap still bounds the loop.
        case _: java.io.FileNotFoundException => Thread.sleep(5)
      }
    }
    } finally releaseHeldClaim()
  }

  /** Folded log state: per-table live files (ADD minus REMOVE; value =
    * (partition, stats, dv attachment)) and the latest visible table
    * metadata (META payload), both as of the same version. */
  private[ingest] case class Folded(
      files: scala.collection.mutable.LinkedHashMap[
        String, scala.collection.mutable.LinkedHashMap[String, (String, String, String)]],
      metas: scala.collection.mutable.LinkedHashMap[String, String]) {
    /** [[Snapshot.liveSchema]]'s memo: derived from this state alone. */
    private[ingest] val schemas = new java.util.concurrent.ConcurrentHashMap[
      (String, Boolean, Boolean, Boolean, String),
      org.apache.spark.sql.types.StructType]
  }

  /** Process-wide fold cache. A fold's entire input is (anchor checkpoint,
    * post-anchor delta entries); log entry FILES are immutable once
    * written, and any new commit, checkpoint, or vacuum changes the
    * visible-entry key — so a hit is exact. The freshness check each call
    * still pays is the (cheap) log tail LISTING; what the cache removes is
    * re-reading and re-parsing O(checkpoint interval) entry files on every
    * metadata touch — at 100 TB on object storage, the difference between
    * one listing and a dozen GETs per catalog query. Cached folds are
    * read-only by contract. */
  private val foldCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, Folded](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Folded]): Boolean = size() > 64
    })

  /** The log pinned at `asOf` (default: the latest version), folded
    * anchored on the newest visible checkpoint: ONE anchored tail walk (the
    * full listing only for time travel below the anchor) plus a fold-cache
    * lookup. An operation takes one and serves all of its reads, metadata
    * lookups and OCC base from it. A warehouse without a log yields an
    * empty snapshot (`version` None). CDF lines are per-version change
    * capture, not table state — skipped. */
  def snapshot(fs: FileSystem, warehouse: String,
               asOf: Option[Long] = None): Snapshot =
    // The fold can race the protocol's legitimate entry deletions (zombie
    // sweeps, vacuum truncation): a vanished entry aborts THIS pass and
    // the retry re-lists — listing happens inside, so each pass folds a
    // consistent view.
    retryVanished { snapshotPass(fs, warehouse, asOf) }

  /** The latest [[snapshot]] of `warehouse` on the session's filesystem. */
  private[graft] def snapshot(spark: SparkSession, warehouse: String): Snapshot =
    snapshot(fsOf(spark, warehouse), warehouse)

  /** The folded state at `asOf`; None when no log exists. */
  private def stateAt(fs: FileSystem, warehouse: String, asOf: Option[Long])
      : Option[Folded] = {
    val s = snapshot(fs, warehouse, asOf)
    s.version.map(_ => s.state)
  }

  private val NoState = Folded(scala.collection.mutable.LinkedHashMap.empty,
    scala.collection.mutable.LinkedHashMap.empty)

  private def snapshotPass(fs: FileSystem, warehouse: String,
                           asOf: Option[Long]): Snapshot = {
    // Latest-state reads ride the anchored tail listing; time travel below
    // the anchor needs the full log.
    val tail = tailEntries(fs, warehouse)
    val all =
      if (asOf.exists(v => tail.headOption.exists(_.version > v)))
        entries(fs, warehouse)
      else tail
    if (all.isEmpty) return new Snapshot(fs, warehouse, None, NoState)
    val visible = asOf.fold(all)(v => all.filter(_.version <= v))
    // Candidate anchors newest-first. A checkpoint without its [[EndMarker]]
    // footer is in-flight (a racing writeCheckpoint) or torn (its writer
    // died mid-write): checkpoints are REDUNDANT state, so the fold never
    // trusts one it can't validate — it falls back to the previous anchor
    // and the (longer) delta chain above it, which vacuum provably retains
    // (truncation only happens below a cutoff checkpoint it wrote itself).
    var ckpts = visible.filter(_.isCheckpoint).reverse
    while (true) {
      val anchor = ckpts.headOption
      // After a vacuum, history before the anchor checkpoint is gone; a read
      // that can see neither version 0 nor a valid checkpoint cannot be
      // answered.
      require(anchor.nonEmpty || visible.headOption.exists(_.version == 0),
        s"version ${asOf.getOrElse("latest")} predates the vacuumed snapshot history")
      val startV = anchor.map(_.version).getOrElse(Long.MinValue)
      // Deltas at the anchor's own version are re-applied: set ops are
      // idempotent, and a same-version racer that landed after the checkpoint
      // was computed is folded in exactly this way.
      val deltas = visible.filter(e => !e.isCheckpoint && e.version >= startV)
      val key = warehouse + "|" + anchor.map(_.path.getName).getOrElse("") +
        "|" + deltas.map(_.path.getName).mkString(",")
      // A hit needs no anchor validation: this exact (anchor, deltas) set
      // folded before, and complete entries are immutable.
      // The pinned version: the newest visible entry (a time travel past
      // the log's end pins the end).
      def pinned(st: Folded) =
        new Snapshot(fs, warehouse, Some(visible.last.version), st)
      val hit = foldCache.get(key)
      if (hit != null) return pinned(hit)
      val anchorActs: Option[Seq[Action]] = anchor match {
        case None => Some(Nil)
        case Some(c) => readEntryOpt(fs, c.path, ckptSkipMs).map(parseActions)
      }
      anchorActs match {
        case None =>
          // A footer-less checkpoint in a log with NO era marker is a
          // pre-footer-era log's COMMITTED anchor, not a torn one: on a
          // vacuumed legacy warehouse, skipping it would fail the read
          // with a misleading "predates the vacuumed history" (and
          // sweeping it would destroy the only anchor forever). Fail
          // loudly at the real cause instead.
          anchor.foreach { c =>
            if (!footerEra(fs, c.path.getParent))
              throw new TornLogEntryException(
                s"checkpoint ${c.path} has no $EndMarker footer and the " +
                  "log carries no footer-era marker — a pre-footer-era " +
                  "log; run Snapshots.migrateFooters (quiesced) before " +
                  "reading it under this build")
          }
          // Torn/in-flight anchor: fold from the previous one. An AGED
          // torn checkpoint also sweeps — it is redundant state, and
          // leaving it would block a future writeCheckpoint's
          // put-if-absent at that version forever.
          anchor.foreach(c => sweepTorn(fs, c.path))
          ckpts = ckpts.tail
        case Some(acts) =>
          return pinned(foldState(fs, warehouse, key, acts, deltas))
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private def foldState(fs: FileSystem, warehouse: String, key: String,
                        anchorActs: Seq[Action], deltas: Seq[Entry])
      : Folded = {
    val state = scala.collection.mutable.LinkedHashMap
      .empty[String, scala.collection.mutable.LinkedHashMap[String, (String, String, String)]]
    val metas = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def apply(a: Action): Unit =
      if (a.meta) metas += (a.table -> a.file)
      else if (!a.cdf) {
        val files = state.getOrElseUpdate(a.table,
          scala.collection.mutable.LinkedHashMap.empty[String, (String, String, String)])
        if (a.isDv)
          // Attach (or supersede) the deletion vector of a LIVE file; a DV
          // for a file this state can't see (already removed) is inert.
          files.get(a.file).foreach { case (part, stats, _) =>
            files += (a.file -> (part, stats, a.dv)) }
        else if (a.add) files += (a.file -> (a.partition, a.stats, a.dv))
        else files -= a.file
      }
    anchorActs.foreach(apply)
    deltas.foreach(e => readActions(fs, e.path).foreach(apply))
    val folded = Folded(state, metas)
    foldCache.synchronized {
      foldCache.put(key, folded)
      // Weight bound on top of the entry cap: each Folded holds a FULL
      // warehouse state (every table's live-file map), and every commit
      // mints a new key — a busy writer would otherwise retain dozens of
      // near-identical multi-GB folds on the driver. Keep only the 2
      // most-recently-used folds per warehouse (latest state + one
      // time-traveled era); cross-warehouse entries still share the 64 cap.
      val prefix = warehouse + "|"
      val same = scala.collection.mutable.ArrayBuffer.empty[String]
      val it = foldCache.entrySet().iterator()
      while (it.hasNext) {
        val k = it.next().getKey
        if (k.startsWith(prefix)) same += k // access order: LRU first
      }
      same.dropRight(2).foreach(foldCache.remove)
    }
    folded
  }

  /** Write the full-state checkpoint for `version` (ADD + META lines). */
  private def writeCheckpoint(fs: FileSystem, warehouse: String, version: Long,
                              commitId: String): Unit = {
    val folded = stateAt(fs, warehouse, Some(version)).getOrElse(return)
    // Applied-txn retention ([[setTxnRetention]]): expired AD-HOC registry
    // entries (payload `0@<registeredAtMs>`) drop here — the checkpoint is
    // the registry's only carrier once the original delta falls below the
    // anchor, so not re-emitting IS the expiry. Watermark entries (plain
    // long payload) and everything else pass through untouched.
    val cutoffMs = txnRetentionMs(folded.metas)
      .map(System.currentTimeMillis() - _)
    val keptMetas = folded.metas.toSeq.filter { case (k, m) =>
      !(k.startsWith("#txn#") && cutoffMs.exists(c =>
        m.split('@') match {
          case Array(_, ts) => ts.toLongOption.exists(_ < c)
          case _ => false
        }))
    }
    writeEntryStream(fs, warehouse, f"$version%020d-$commitId.ckpt",
      keptMetas.iterator.map { case (t, m) => s"META\t$t\t$m\t\t" } ++
        folded.files.iterator.flatMap { case (t, fsq) =>
          fsq.iterator.map { case (f, (part, stats, dv)) =>
            val base = s"ADD\t$t\t$f\t$part\t$stats"
            if (dv.isEmpty) base else s"$base\t$dv" } })
    // Advance the `_last_checkpoint` pointer (monotonic — a vacuum's
    // cutoff checkpoint below a newer anchor must not regress it). Plain
    // overwrite: a torn/stale pointer is a HINT failure, not a correctness
    // one — tailEntries verifies the anchor and falls back to the full
    // listing.
    val ptr = new Path(snapDir(warehouse), LastCkptName)
    val prev =
      try {
        if (fs.exists(ptr)) readLines(fs, ptr).headOption.flatMap(_.trim.toLongOption)
        else None
      } catch { case scala.util.control.NonFatal(_) => None }
    if (prev.forall(_ < version)) {
      val out = fs.create(ptr, true)
      try out.write(version.toString.getBytes(StandardCharsets.UTF_8))
      finally out.close()
    }
  }

  /** Drop log entries older than the last `keepVersions` versions AND reap
    * the data files only that truncated history could reach (files logically
    * REMOVEd — e.g. compaction inputs kept for time travel — that the
    * anchor state no longer references). An anchor checkpoint is written at
    * the cutoff first, so every retained version stays reconstructable;
    * `asOf` reads before the cutoff then fail fast instead of returning a
    * partial table — same trade-off as Delta's VACUUM. Returns the number
    * of log files removed.
    *
    * `minAgeMs` is the in-flight-reader retention window (Delta's
    * `deletedFileRetentionDuration`): a version is reclaimable only once it
    * was SUPERSEDED at least `minAgeMs` ago. Any reader still running
    * started within the window, so it pinned either the current latest or a
    * version whose successor landed inside the window — all of which stay
    * readable. Size it to the longest plausible query, not to commit rate.
    *
    * The default is 7 days (matching the CLI and Delta's
    * `deletedFileRetentionDuration`): a zero default would disable the
    * documented in-flight protection for every direct API caller — the
    * orphan sweep would reap a concurrent publish's just-moved data files
    * before its log entry lands. Pass an explicit 0 only when nothing else
    * can possibly be reading or writing the warehouse. */
  val DefaultRetentionMs: Long = 7L * 24 * 60 * 60 * 1000

  def vacuum(fs: FileSystem, warehouse: String, keepVersions: Int = 32,
             minAgeMs: Long = DefaultRetentionMs): Int =
    vacuumStats(fs, warehouse, keepVersions, minAgeMs).entriesRemoved

  /** What one vacuum run reaped — or, `dryRun`, WOULD reap: data/CDF/DV
    * files with their byte sizes (log entry files are bookkeeping and
    * counted only in `entriesRemoved`). */
  case class VacuumStats(entriesRemoved: Int, filesDeleted: Long,
                         bytesDeleted: Long, files: Seq[(String, Long)])

  /** Java-serializable Hadoop `Configuration` carrier (the standard Spark
    * idiom — `Configuration` itself is `Writable`, not `Serializable`) so
    * vacuum tasks can open the warehouse FileSystem on executors. */
  private[graft] final class SerializableHadoopConf(
      @transient var value: org.apache.hadoop.conf.Configuration)
      extends Serializable {
    private def writeObject(out: java.io.ObjectOutputStream): Unit = {
      out.defaultWriteObject(); value.write(out)
    }
    private def readObject(in: java.io.ObjectInputStream): Unit = {
      in.defaultReadObject()
      value = new org.apache.hadoop.conf.Configuration(false)
      value.readFields(in)
    }
  }

  /** Deterministic 64-bit path digest (MD5-prefix — stable across JVMs
    * and rounds) for the vacuum sweep's broadcast referenced-set. */
  private[graft] def pathHash64(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(StandardCharsets.UTF_8))
    java.nio.ByteBuffer.wrap(d, 0, 8).getLong
  }

  /** Pluggable executor for vacuum's three BULK I/O phases — directory
    * scans, file sizing, file deletion. The reap-set SEMANTICS (victims,
    * anchor refs, retention guards) live in [[vacuumStats]] and are
    * identical under either executor; only where the listStatus /
    * getFileStatus / delete calls run differs. At 100 TB a warehouse holds
    * millions of files across tens of thousands of partition directories —
    * a driver-sequential sweep is the one maintenance command that cannot
    * finish in a window, so the [[SparkSession]] overloads run these
    * phases as Spark jobs (Delta runs vacuum the same way). */
  private[graft] sealed trait VacuumExec {
    /** List plain files in `dirs`, dropping referenced paths, names that
      * start with `_` (when `skipUnderscore`), and files younger than the
      * retention window; returns orphan candidates. */
    def scanOrphans(dirs: Seq[String], referenced: Set[String], now: Long,
                    minAgeMs: Long, skipUnderscore: Boolean): Seq[String]
    /** Size each still-existing path (missing/unreadable paths drop). */
    def size(paths: Seq[String]): Seq[(String, Long)]
    /** Delete each path (single files, non-recursive). */
    def delete(paths: Seq[String]): Unit
  }

  /** Single-process executor — every call runs on the caller's thread
    * against the caller's FileSystem. Used by the legacy `(fs, warehouse)`
    * entry points and by tests that have no SparkSession. */
  private final class DriverVacuumExec(fs: FileSystem) extends VacuumExec {
    def scanOrphans(dirs: Seq[String], referenced: Set[String], now: Long,
                    minAgeMs: Long, skipUnderscore: Boolean): Seq[String] =
      dirs.map(new Path(_)).filter(fs.exists).flatMap { dir =>
        fs.listStatus(dir).toSeq.filter(_.isFile)
          .filterNot(st => skipUnderscore && st.getPath.getName.startsWith("_"))
          .filterNot(st => referenced(st.getPath.toUri.getPath))
          .filter(st => now - st.getModificationTime >= minAgeMs)
          .map(_.getPath.toString)
      }
    def size(paths: Seq[String]): Seq[(String, Long)] =
      paths.flatMap { f =>
        try { val p = new Path(f); if (fs.exists(p))
          Some(f -> fs.getFileStatus(p).getLen) else None }
        catch { case scala.util.control.NonFatal(_) => None }
      }
    def delete(paths: Seq[String]): Unit =
      paths.foreach(f => fs.delete(new Path(f), false))
  }

  /** Distributed executor: directory listing, sizing, and deletion run as
    * Spark jobs over the partition/table directories, with the
    * referenced-file set shipped as a broadcast (it is O(live files) —
    * path strings, not data). Results come back in deterministic input
    * order (parallelize slices preserve order through collect), so the
    * reap SET and the recorded stats are bit-identical to the driver
    * executor's — proven by the parity case in VacuumSpec. */
  private final class DistributedVacuumExec(spark: SparkSession)
      extends VacuumExec {
    private val conf =
      new SerializableHadoopConf(spark.sparkContext.hadoopConfiguration)
    private def slices(n: Int): Int =
      math.max(1, math.min(n, spark.sparkContext.defaultParallelism * 2))
    def scanOrphans(dirs: Seq[String], referenced: Set[String], now: Long,
                    minAgeMs: Long, skipUnderscore: Boolean): Seq[String] = {
      if (dirs.isEmpty) return Nil
      val c = conf
      // Ship the referenced set as a SORTED ARRAY of 64-bit path hashes,
      // not strings: 8 bytes/entry instead of ~100, so the broadcast for
      // millions of live files is tens of MB, not GBs. Collision
      // direction is FAIL-SAFE: a stray file hashing onto a referenced
      // path is merely kept (a leaked orphan, ~2⁻⁶⁴ per pair) — a
      // referenced file can never be mistaken for an orphan, since every
      // truly-referenced path is in the array by construction.
      val refHashes: Array[Long] = {
        val a = referenced.iterator.map(pathHash64).toArray
        java.util.Arrays.sort(a); a
      }
      val refB = spark.sparkContext.broadcast(refHashes)
      try spark.sparkContext.parallelize(dirs, slices(dirs.size))
        .flatMap { d =>
          val dir = new Path(d)
          val fs = dir.getFileSystem(c.value)
          if (!fs.exists(dir)) Iterator.empty
          else fs.listStatus(dir).iterator.filter(_.isFile)
            .filterNot(st =>
              skipUnderscore && st.getPath.getName.startsWith("_"))
            .filterNot(st => java.util.Arrays.binarySearch(refB.value,
              pathHash64(st.getPath.toUri.getPath)) >= 0)
            .filter(st => now - st.getModificationTime >= minAgeMs)
            .map(_.getPath.toString)
        }.collect().toSeq
      finally refB.unpersist(blocking = false)
    }
    def size(paths: Seq[String]): Seq[(String, Long)] = {
      if (paths.isEmpty) return Nil
      val c = conf
      val byPath = spark.sparkContext.parallelize(paths, slices(paths.size))
        .mapPartitions { it =>
          it.flatMap { f =>
            try { val p = new Path(f); val fs = p.getFileSystem(c.value)
              if (fs.exists(p)) Some(f -> fs.getFileStatus(p).getLen)
              else None }
            catch { case scala.util.control.NonFatal(_) => None }
          }
        }.collect().toMap
      paths.flatMap(f => byPath.get(f).map(f -> _))
    }
    def delete(paths: Seq[String]): Unit =
      if (paths.nonEmpty) {
        val c = conf // local capture — the closure must not drag `this` in
        spark.sparkContext.parallelize(paths, slices(paths.size))
          .foreachPartition { it =>
            it.foreach { f =>
              val p = new Path(f)
              p.getFileSystem(c.value).delete(p, false)
            }
          }
      }
  }

  /** [[vacuum]] with full accounting. `dryRun = true` computes the exact
    * reap set — truncatable entries, unreachable data/CDF files, orphans —
    * and deletes NOTHING, writes NOTHING (no cutoff checkpoint either):
    * at 100 TB vacuum is the most dangerous command in the surface, and
    * this is its safety preview (Delta `VACUUM … DRY RUN`). A real run
    * that reaped anything also records `files_deleted`/`bytes_deleted`/
    * `entries_removed` as a metadata-only `op=vacuum` commit, so
    * DESCRIBE HISTORY answers "what did that vacuum actually delete" like
    * it answers merge row counts. */
  def vacuumStats(fs: FileSystem, warehouse: String, keepVersions: Int = 32,
                  minAgeMs: Long = DefaultRetentionMs,
                  dryRun: Boolean = false): VacuumStats =
    vacuumStatsWith(fs, warehouse, keepVersions, minAgeMs, dryRun,
      new DriverVacuumExec(fs))

  /** [[vacuumStats]] with the bulk I/O phases (directory sweep, sizing,
    * deletion) running as DISTRIBUTED Spark jobs — the form a 100 TB
    * warehouse needs (the driver-only overload is a sequential
    * `listStatus` + per-file delete loop). Log reads, the cutoff
    * checkpoint, and the accounting commit stay driver-side: they are
    * O(log), not O(files). Semantics — `minAgeMs`, DRY RUN, the stats
    * rows — are identical to the driver overload (VacuumSpec proves the
    * dry-run reap sets match). */
  def vacuumStats(spark: SparkSession, warehouse: String, keepVersions: Int,
                  minAgeMs: Long, dryRun: Boolean): VacuumStats = {
    val fs = new Path(warehouse)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    vacuumStatsWith(fs, warehouse, keepVersions, minAgeMs, dryRun,
      new DistributedVacuumExec(spark))
  }

  /** Distributed [[vacuum]] — see the SparkSession [[vacuumStats]]. */
  def vacuum(spark: SparkSession, warehouse: String, keepVersions: Int,
             minAgeMs: Long): Int =
    vacuumStats(spark, warehouse, keepVersions, minAgeMs,
      dryRun = false).entriesRemoved

  private def vacuumStatsWith(fs: FileSystem, warehouse: String,
                              keepVersions: Int, minAgeMs: Long,
                              dryRun: Boolean, exec: VacuumExec)
      : VacuumStats = {
    // The whole READ phase (listing, state folds, reap-set computation)
    // retries as a unit on a vanished entry — a racing committer's zombie
    // sweep mid-scan aborts the pass, and the retry lists a consistent
    // log. All mutation below happens AFTER this block.
    val pass = retryVanished[Option[(Seq[Entry], Long, Seq[Entry], Seq[String])]] {
    val all = entries(fs, warehouse)
    if (all.isEmpty) None else {
    // Protocol gate: which files are LIVE is itself feature-dependent (a
    // future feature could redefine liveness the way deletion vectors
    // did) — a vacuum computed by a build that doesn't understand a
    // table's reader features could reap live data. Refuse for the whole
    // warehouse, naming the table (the Delta stance: protocol checks
    // guard every operation, vacuum included).
    val snap = snapshot(fs, warehouse)
    snap.state.metas.keys.filter(_.endsWith("#features"))
      .foreach(k => snap.requireFeatures(k.stripSuffix("#features")))
    val latest = all.last.version
    val now = System.currentTimeMillis()
    // Version V was superseded before the window iff some entry with a
    // HIGHER version is already older than the window; max such version
    // bounds what vacuum may touch.
    val agedOut = all.filter(e => now - e.mtime >= minAgeMs).map(_.version)
    val cutoff =
      if (agedOut.isEmpty) 0L
      else math.min(latest - keepVersions + 1, agedOut.max)
    val victims = if (cutoff <= 0) Nil else all.filter(_.version < cutoff)
    // Candidate data-file reaps are COLLECTED first (dedup'd, sized),
    // executed after — the same walk serves the dry run and the real one.
    val toReap = scala.collection.mutable.LinkedHashSet.empty[String]
    if (victims.nonEmpty) {
      // Truncation safety rests on a VALID checkpoint at the cutoff: a
      // footer-less one (a writer died mid-checkpoint) must never be
      // trusted as the anchor the victims' history collapses into.
      // Vacuum writes its OWN complete checkpoint (distinct commitId —
      // two checkpoints at one version are both valid anchors) and lets
      // [[sweepTorn]] reap the aged residue under the usual grace rail —
      // never a bare delete that could kill a LIVE committer's
      // still-streaming checkpoint.
      if (!dryRun) {
        val atCutoff = all.filter(e => e.isCheckpoint && e.version == cutoff)
        val complete = atCutoff.filter(c =>
          readEntryOpt(fs, c.path, ckptSkipMs).nonEmpty)
        atCutoff.filterNot(complete.toSet)
          .foreach(c => sweepTorn(fs, c.path))
        if (complete.isEmpty)
          writeCheckpoint(fs, warehouse, cutoff,
            "vacuum" + java.util.UUID.randomUUID().toString.replace("-", ""))
      }
      // A file REMOVEd at version Vr normally becomes unreachable once the
      // cutoff reaches Vr: physically delete REMOVEs from every entry with
      // version ≤ cutoff (not just the truncated ones — the entry AT the
      // cutoff survives but its removals are already invisible to every
      // readable version). Two guards keep this sound: the anchor state at
      // the cutoff, AND any re-ADD by a RETAINED entry above the cutoff —
      // [[restore]] re-ADDs files an older entry removed, so "removed
      // below the cutoff" no longer implies "unreachable".
      val anchorState = stateAt(fs, warehouse, Some(cutoff))
        .map(_.files.values.flatMap(_.keys).toSet).getOrElse(Set.empty)
      val futureAdds = all.filter(e => !e.isCheckpoint && e.version > cutoff)
        .flatMap(e => readActions(fs, e.path))
        .collect { case a if a.add => a.file }.toSet
      all.filter(e => !e.isCheckpoint && e.version <= cutoff).foreach { v =>
        readActions(fs, v.path).foreach { a =>
          // Change files are reachable only through their own entry: reap
          // them with the truncated entries (the cutoff entry itself
          // survives, so its CDF files stay serveable by changes()).
          if (a.cdf) {
            if (v.version < cutoff) toReap += a.file
          } else if (!a.add && !a.meta && !anchorState(a.file) && !futureAdds(a.file))
            toReap += a.file
        }
      }
    }
    // Files the CUTOFF STATE still references must never look orphaned:
    // live files added by truncated entries survive only through the
    // anchor checkpoint, which in a dry run is not written yet (and in a
    // real run was written after `all` was listed) — fold the anchor
    // state's files, their DV sidecars, and their bloom sidecars into the
    // reference set explicitly.
    val anchorRefs: Set[String] =
      if (victims.isEmpty) Set.empty
      else stateAt(fs, warehouse, Some(cutoff)).map { st =>
        st.files.values.flatten.flatMap { case (f, (_, stats, dv)) =>
          Seq(new Path(f).toUri.getPath) ++
            (if (dv.isEmpty) Nil
             else Seq(new Path(dv.split(":", 2)(1)).toUri.getPath)) ++
            FileStats.sidecarPaths(stats)
              .map(p => new Path(s"$warehouse/$p").toUri.getPath)
        }.toSet
      }.getOrElse(Set.empty)
    val orphans = orphanCandidates(fs, warehouse, now, minAgeMs,
      kept = all.filterNot(victims.toSet), extraReferenced = anchorRefs,
      exec = exec)
    Some((victims, cutoff, all, (toReap.toSeq ++ orphans).distinct))
    }}
    val (victims, cutoff, all, reapAll) = pass match {
      case None => return VacuumStats(0, 0L, 0L, Nil)
      case Some((v, c, a, r)) => (v, c, a, r)
    }
    val sized = exec.size(reapAll)
    if (!dryRun) {
      // Final guard before truncation: every retained version must stay
      // reconstructable, which needs a COMPLETE checkpoint at the cutoff
      // (the one written above, or a pre-existing valid one).
      if (victims.nonEmpty)
        require(entries(fs, warehouse).exists(e => e.isCheckpoint &&
            e.version == cutoff &&
            readEntryOpt(fs, e.path, ckptSkipMs).nonEmpty),
          s"vacuum aborted: no complete checkpoint at cutoff $cutoff — " +
            "refusing to truncate history it anchors")
      exec.delete(sized.map(_._1))
      // Log-entry and lock cleanup stay driver-side: both are O(retained
      // log), a few hundred files, not O(table data).
      victims.foreach(v => fs.delete(v.path, false))
      if (victims.nonEmpty)
        // Version claims below the cutoff have served their purpose (their
        // entries are truncated) — reap them with the entries they guarded.
        fs.listStatus(snapDir(warehouse)).foreach { st =>
          st.getPath.getName match {
            case LockRe(v) if v.toLong < cutoff => fs.delete(st.getPath, false)
            case _ => ()
          }
        }
    }
    val stats = VacuumStats(victims.size, sized.size.toLong,
      sized.map(_._2).sum, sized)
    // Accountability: a real run that reaped anything records its counts
    // as a metadata-only commit — visible in [[history]] / DESCRIBE
    // HISTORY alongside merge metrics. (Dry runs and no-op runs leave the
    // log untouched.)
    if (!dryRun && (stats.entriesRemoved > 0 || stats.filesDeleted > 0))
      append(fs, warehouse, "vacuum" +
          java.util.UUID.randomUUID().toString.replace("-", ""),
        adds = Nil, removes = Nil, op = "vacuum",
        metrics = Map(
          "entries_removed" -> stats.entriesRemoved.toLong,
          "files_deleted" -> stats.filesDeleted,
          "bytes_deleted" -> stats.bytesDeleted))
    stats
  }

  /** Reap table-dir files no retained log entry references — the residue of
    * crashed jobs and lost-OCC rewrites that aborted before their marker
    * landed. Such files are invisible to every snapshot reader, so the only
    * race is an in-flight publish whose moves have landed but whose log
    * entry hasn't — the `minAgeMs` guard covers it (a publish completes in
    * seconds; the retention window is hours). */
  private def orphanCandidates(fs: FileSystem, warehouse: String, now: Long,
                               minAgeMs: Long, kept: Seq[Entry],
                               extraReferenced: Set[String] = Set.empty,
                               exec: VacuumExec): Seq[String] = {
    // META lines carry metadata payloads, not paths — Path() on one throws.
    // Deletion-vector parquets referenced from any retained line (ADD's dv
    // field or a DV line) stay; a SUPERSEDED vector loses its last
    // reference when its attaching entries are truncated and is reaped
    // here with the same age guard. `kept` is the entry set AS IT WILL BE
    // after this run's truncation — the same computation serves the dry
    // run (nothing deleted yet) and the real one.
    val acts = kept.flatMap(e => readActions(fs, e.path)).filterNot(_.meta)
    val referenced = (acts.map(a => new Path(a.file).toUri.getPath) ++
      acts.filter(_.dv.nonEmpty).map(a => new Path(a.dvPath).toUri.getPath))
      .toSet ++ extraReferenced
    val tableDirs = (acts.map(a => new Path(a.file).getParent) ++
      acts.filter(_.dv.nonEmpty).map(a => new Path(a.dvPath).getParent)).distinct
    val dataOrphans = exec.scanOrphans(tableDirs.map(_.toString), referenced,
      now, minAgeMs, skipUnderscore = true)
    // Sidecar bloom files: referenced iff some retained ADD's stats token
    // still points at them (a removed data file's pointer dies with its
    // ADD line, truncation included) — reap the rest under the same age
    // guard. Light token scan, no base64 decoding. Only the per-table
    // sweeps distribute; the _bloomidx root list is one call.
    val sidecarRefs: Set[String] = acts.filter(_.add)
      .flatMap(a => FileStats.sidecarPaths(a.stats))
      .map(p => new Path(s"$warehouse/$p").toUri.getPath)
      .toSet ++ extraReferenced
    val bloomRoot = new Path(s"$warehouse/_bloomidx")
    val bloomDirs =
      if (fs.exists(bloomRoot))
        fs.listStatus(bloomRoot).toSeq.filter(_.isDirectory)
          .map(_.getPath.toString)
      else Nil
    val bloomOrphans = exec.scanOrphans(bloomDirs, sidecarRefs, now,
      minAgeMs, skipUnderscore = false)
    dataOrphans ++ bloomOrphans
  }

  /** Resolve the snapshot version that was latest at `tsMillis` (Delta's
    * `TIMESTAMP AS OF`): the highest version whose log entry landed at or
    * before the instant. None if the log is empty or starts later.
    *
    * Soundness rests on entry mtimes being NON-DECREASING in version
    * order, which this log guarantees structurally — no in-commit
    * timestamp machinery (Delta's ICT) needed:
    *  - entries are put-if-absent and never rewritten (a zombie
    *    re-publish converges on the existing file), so mtime IS the
    *    creation instant;
    *  - versions are DENSE and claim-ordered: a writer claims V+1 only
    *    after V's entry is visible, so creation order follows version
    *    order even across writers;
    *  - the timestamp source is the ONE backing store's clock (namenode /
    *    object-store Last-Modified), not per-writer wall clocks — writer
    *    clock skew cannot reorder it. Same-instant commits (store clock
    *    granularity) resolve to the higher version via `lastOption`. */
  def versionAt(fs: FileSystem, warehouse: String, tsMillis: Long): Option[Long] = {
    val eligible = entries(fs, warehouse)
      .filterNot(_.isCheckpoint).filter(_.mtime <= tsMillis)
    eligible.lastOption.map(_.version)
  }

  /** Time travel by wall clock: read the table as it was at `tsMillis`.
    * Throws if no version existed yet (same fail-fast stance as `asOf`). */
  def readAsOfTime(spark: SparkSession, warehouse: String, table: String,
                   tsMillis: Long): DataFrame = {
    val fs = new Path(warehouse)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v = versionAt(fs, warehouse, tsMillis).getOrElse(
      throw new IllegalStateException(
        s"no snapshot version existed at $tsMillis under $warehouse"))
    read(spark, warehouse, table, asOf = Some(v))
  }

  /** Row-level change feed (the Delta CDF analog): every change to `table`
    * in versions (`fromExclusive`, `toInclusive`], with two metadata
    * columns — `_change_type` ∈ insert | update_preimage | update_postimage
    * | delete, and `_commit_version` (the log version that made the
    * change). How a downstream consumer tails a 100 TB table without
    * rescanning it: plan from exactly the files each in-range commit added.
    *
    *  - append commits serve their ADD files directly, tagged `insert` —
    *    zero extra storage for the overwhelmingly common case;
    *  - merge commits serve the row-level change files [[Merge]] staged
    *    alongside the rewrite (CDF lines in the log entry);
    *  - compact / zorder rewrites move rows without changing them — skipped;
    *  - vacuumed-away change files throw (fail fast, never a silent partial
    *    answer), as does a merge commit from before CDF staging existed. */
  def changes(spark: SparkSession, warehouse: String, table: String,
              fromExclusive: Long, toInclusive: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, input_file_name, lit,
      regexp_replace}
    val (snap, appends, cdfs, schema) =
      feed(spark, warehouse, table, fromExclusive, toInclusive)
    // Plan shape: the whole range is normally served by TWO parquet reads
    // (more only across root-dir, layout, default-presence and deletion-
    // vector eras) — one over every in-range append/restore ADD file, one
    // over every merge CDF file — with `_commit_version` joined per file
    // from a broadcast (fileName → version) map (commitId-prefixed part
    // names are unique within a table's dirs). A consumer catching up over
    // thousands of versions gets a two-leaf plan, not an O(versions)-deep
    // union chain.
    // A file can be ADDed at SEVERAL in-range versions (restore re-ADDs the
    // original path): read each distinct path ONCE, and let the (path →
    // version) map fan each row out to one copy per serving version — the
    // same multiplicity the per-version plan produced. Passing the path
    // twice to read.parquet would double the rows BEFORE the fan-out. The
    // key is the scheme-less FULL path (basenames are NOT unique within a
    // commit — one dynamic-partition write emits the same basename into
    // every partition dir), in the URL-ENCODED form both sides can agree
    // on: input_file_name() serves encoded URIs, and Hadoop Path's
    // toUri.getRawPath produces the same encoding for the log's raw paths
    // (spaces in partition values survive Spark's path escaping, so
    // comparing decoded-vs-encoded would silently drop their rows).
    // Each leaf goes through the one builder ([[Snapshot.scanFiles]]):
    // basePath per root dir (a clone's files root in its source's dir),
    // one relation per partition layout (flat→partitioned or dt→dt/hour
    // switches), initial-defaults for rows that predate their column. All
    // leaves read at the feed's one schema ([[feed]]). The file path is
    // captured scan-side (input_file_name is only reliable there, before
    // the deletion-vector anti-join).
    def leaf(files: Seq[(Action, Long)], inserts: Boolean): DataFrame = {
      val df = snap.scanFiles(spark, table, files.map(_._1), schema,
        _.withColumn("_file_path",
          regexp_replace(input_file_name(), SchemeRe, "")))
      val tagged =
        if (inserts) df.withColumn("_change_type", lit("insert")) else df
      val verDf = spark.createDataFrame(
        files.map { case (a, v) => (pathKey(a.file), v) }.distinct)
        .toDF("_file_path", "_commit_version")
      tagged.join(broadcast(verDf), "_file_path").drop("_file_path")
    }
    // One leaf per deletion-vector era: a file served at two versions
    // under DIFFERENT vectors (restore eras) is read once per era, so each
    // version's insert rows subtract exactly its own vector. Plan depth
    // grows only with layout switches + restore-of-DV events. Change files
    // carry their own `_change_type` and no stats token, so they always
    // take the footer merge.
    val frames = appends.groupBy(_._1.dv).toSeq.sortBy(_._1)
      .map { case (_, files) => leaf(files, inserts = true) } ++
      (if (cdfs.isEmpty) Nil else Seq(leaf(cdfs, inserts = false)))
    val physical =
      if (frames.isEmpty) spark.createDataFrame(
        java.util.List.of[org.apache.spark.sql.Row](), schema.add(
          "_commit_version", org.apache.spark.sql.types.LongType, false))
      else frames.reduce(_.unionByName(_, allowMissingColumns = true))
    // Serve the feed in the range-end's LOGICAL schema: physical names
    // are stable across renames, so one mapping covers every era's files;
    // the feed's own columns pass through unmapped.
    snap.columnMapping(table)
      .fold(physical)(_.applyTo(physical,
        passthrough = Seq("_change_type", "_commit_version")))
  }

  /** The schema [[changes]] serves over the same range, from the log and
    * cached footers alone — no frame planned, so a relation can advertise
    * it at load. */
  private[graft] def changesSchema(spark: SparkSession, warehouse: String,
                                   table: String, fromExclusive: Long,
                                   toInclusive: Option[Long])
      : org.apache.spark.sql.types.StructType = {
    val (snap, _, _, schema) =
      feed(spark, warehouse, table, fromExclusive, toInclusive)
    snap.logicalSchema(table, schema, passthrough = Seq("_change_type"))
      .add("_commit_version", org.apache.spark.sql.types.LongType,
        nullable = false)
  }

  /** A change feed over (`fromExclusive`, `toInclusive`]: the range end
    * pinned once (a feed serves file rows, so it passes a plain read's
    * protocol gate); the in-range append/restore ADD files and merge change
    * files, each with the version serving it, from one bounded walk of the
    * log (compact and zorder rewrites move rows unchanged — skipped); and
    * the one PHYSICAL schema every leaf reads at, typed over the live and
    * the range's files together — so a range ending at a delete of every
    * row still has one — with the change files' `_change_type` last. */
  private def feed(spark: SparkSession, warehouse: String, table: String,
                   fromExclusive: Long, toInclusive: Option[Long])
      : (Snapshot, Seq[(Action, Long)], Seq[(Action, Long)],
         org.apache.spark.sql.types.StructType) = {
    val fs = fsOf(spark, warehouse)
    val snap = snapshot(fs, warehouse, toInclusive)
    snap.requireFeatures(table)
    val rewriteOps = Set("compact", "zorder")
    def checkLive(acts: Seq[Action]): Unit =
      acts.foreach(a => require(fs.exists(new Path(a.file)),
        s"change file ${a.file} was vacuumed — requested range predates retention"))
    // The walk retries whole on a vanished entry (zombie sweep / vacuum
    // racing it) — listing, range bound, and builders all reset per pass.
    val (appends, cdfs) = retryVanished {
      // A consumer tailing the log (from at/above the checkpoint anchor —
      // the steady state) pays only the anchored tail listing; catch-ups
      // reaching below the anchor list the full dir.
      val all = boundedFrom(fs, warehouse, fromExclusive)
      val to = toInclusive.getOrElse(snap.version.getOrElse(-1L))
      // Vacuum deletes pre-cutoff log entries outright — a range reaching
      // below the earliest retained entry would silently miss their appends.
      all.headOption.foreach(first => require(fromExclusive + 1 >= first.version,
        s"changes since $fromExclusive predate the vacuumed log " +
          s"(earliest retained version: ${first.version})"))
      val appendFiles = Seq.newBuilder[(Action, Long)]
      val cdfFiles = Seq.newBuilder[(Action, Long)]
      all.filter(e => e.version > fromExclusive && e.version <= to).foreach { e =>
        val lines = readEntry(fs, e.path) // one read: op + actions
        val op = lines.find(_.startsWith("#OP\t"))
          .map(_.split("\t", 2)(1)).getOrElse("append")
        if (!rewriteOps(op)) {
          val acts = parseActions(lines)
          if (op == "merge" || op == "overwrite" || op == "drop") {
            // All replace/remove rows: without CDF files their REMOVEs cannot
            // be represented as append-only events — refuse rather than serve
            // the new rows as plain inserts on top of the replaced ones.
            val cdfs = acts.filter(a => a.cdf && a.table == table)
            if (cdfs.isEmpty)
              require(!acts.exists(a => !a.cdf && a.table == table),
                s"version ${e.version} is a $op commit without change " +
                  s"files — changes() cannot represent it")
            else { checkLive(cdfs); cdfs.foreach(a => cdfFiles += (a -> e.version)) }
          } else {
            val adds = acts.filter(a => a.add && a.table == table)
            checkLive(adds)
            adds.foreach(a => appendFiles += (a -> e.version))
          }
        }
      }
      (appendFiles.result(), cdfFiles.result())
    }
    val schema = org.apache.spark.sql.types.StructType(
      snap.physicalSchema(spark, table,
        snap.files(table) ++ (appends ++ cdfs).map(_._1), mergeSchema = true)
        .filterNot(_.name == "_change_type"))
      .add("_change_type", org.apache.spark.sql.types.StringType)
    (snap, appends, cdfs, schema)
  }

  /** Roll `table` back to `version` as a NEW commit (Delta's RESTORE): the
    * target version's file set is re-ADDed and files it doesn't contain
    * are logically removed — history is never rewritten, so the bad
    * versions stay inspectable and time-travel-able until vacuum. Requires
    * the target's files to still exist (not vacuumed). OCC-guarded like
    * any rewrite: a concurrent commit to the table aborts the restore.
    *
    * Change-feed stance: the re-ADDed files are served as `insert` rows by
    * `changes()`/the streaming source — to a downstream consumer the
    * restored rows genuinely reappear. Returns (filesReAdded,
    * filesRemoved); (0, 0) when the table already equals the target. */
  def restore(spark: SparkSession, warehouse: String, table: String,
              version: Long): (Int, Int) = {
    val fs = new Path(warehouse)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // OCC base and current file set from one snapshot; the target era is
    // a second, time-traveled one.
    val cur = snapshot(fs, warehouse)
    if (cur.version.isEmpty)
      throw new IllegalStateException(s"no snapshot log under $warehouse")
    val target = snapshot(fs, warehouse, Some(version)).files(table)
    require(target.nonEmpty,
      s"table '$table' has no files at version $version — nothing to restore to")
    val current = cur.files(table)
    val currentDv = current.map(a => a.file -> a.dv).toMap
    val targetSet = target.map(_.file).toSet
    // A file present in both versions but with a different deletion-vector
    // attachment is re-ADDed too: the ADD resets the attachment to the
    // target era's (including clearing a later DV — the deleted rows
    // genuinely come back, and the change feed serves the re-ADD).
    val adds = target.filter(a =>
      !currentDv.contains(a.file) || currentDv(a.file) != a.dv)
    val removes = current.filterNot(a => targetSet(a.file))
    adds.foreach { a =>
      require(fs.exists(new Path(a.file)),
        s"restore target file ${a.file} was vacuumed — version $version is gone")
      if (a.dv.nonEmpty) require(fs.exists(new Path(a.dvPath)),
        s"restore target deletion vector ${a.dvPath} was vacuumed — " +
          s"version $version is gone")
    }
    if (adds.nonEmpty || removes.nonEmpty)
      append(fs, warehouse,
        "restore" + java.util.UUID.randomUUID().toString.replace("-", ""),
        adds = adds.map(a => a.table -> a.file),
        removes = removes.map(a => a.table -> a.file),
        op = "restore", baseVersion = cur.version,
        statsFor = adds.map(a => a.file -> a.stats).toMap,
        dvFor = adds.filter(_.dv.nonEmpty).map(a => a.file -> a.dv).toMap)
    (adds.size, removes.size)
  }

  /** Non-checkpoint entries sufficient to serve a range starting ABOVE
    * `fromExclusive`: the anchored tail when it covers the range (its
    * earliest version ≤ from+1 — the steady tailing state), else the full
    * listing (catch-up below the anchor, or no pointer yet). */
  private[graft] def boundedFrom(fs: FileSystem, warehouse: String,
                          fromExclusive: Long): Seq[Entry] = {
    val tail = tailEntries(fs, warehouse).filterNot(_.isCheckpoint)
    if (tail.headOption.exists(_.version <= fromExclusive + 1)) tail
    else entries(fs, warehouse).filterNot(_.isCheckpoint)
  }

  /** Per-version (version, op, ADD + CDF actions for `table`) over the
    * entries in (`fromExclusive`, `toInclusive`] — the driver-side planning
    * input for incremental consumers (the streaming source tails the log
    * with this, once per trigger: in the steady state the listing cost is
    * the anchored tail, not the dir). Reads only in-range entry files. */
  def addsInRange(fs: FileSystem, warehouse: String, table: String,
                  fromExclusive: Long, toInclusive: Long)
      : Seq[(Long, String, Seq[Action])] = retryVanished {
    boundedFrom(fs, warehouse, fromExclusive)
      .filter(e => e.version > fromExclusive && e.version <= toInclusive)
      // ALL of the table's actions (REMOVEs and metas included): the
      // streaming source must distinguish "a rewrite commit touched THIS
      // table" (fail/skip) from "the rewrite touched another table of the
      // warehouse" (serve nothing, keep streaming).
      .map(e => (e.version, readOp(fs, e.path),
        readActions(fs, e.path).filter(_.table == table)))
  }

  /** Commit history, newest first (the DESCRIBE HISTORY analog): one row
    * per log version with its commitId, entry timestamp, and add/remove
    * counts per action. Reads only the tiny log files — never data. */
  def history(spark: SparkSession, warehouse: String): DataFrame = {
    val fs = new Path(warehouse)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rows = retryVanished {
      entries(fs, warehouse).filterNot(_.isCheckpoint).map { e =>
      val lines = readEntry(fs, e.path) // one read: actions, op, metrics
      val parsed = parseActions(lines)
      val acts = parsed.filterNot(a => a.cdf || a.meta)
      // Metadata-only commits (add/rename/drop column, property and
      // constraint changes) attribute to their table in the `tables`
      // column — Delta's DESCRIBE HISTORY records ALTERs too — without
      // counting in n_added/n_removed. META pseudo-table keys
      // (`t#props`, `#txn#…`) reduce to the owning table; pure-registry
      // keys (leading `#`) attribute to nothing.
      val metaTables = parsed.filter(_.meta)
        .map(_.table.split("#", 2)(0)).filter(_.nonEmpty)
      val op = lines.find(_.startsWith("#OP\t"))
        .map(_.split("\t", 2)(1)).getOrElse("append")
      val m = parseMetrics(lines)
      (e.version, e.commitId, new java.sql.Timestamp(e.mtime),
        acts.count(_.add).toLong, acts.count(!_.add).toLong,
        (acts.map(_.table) ++ metaTables).distinct.sorted.mkString(","), op,
        m.get("rows_inserted"), m.get("rows_updated"), m.get("rows_deleted"),
        m.get("files_deleted"), m.get("bytes_deleted"))
      }.sortBy(-_._1)
    }
    import spark.implicits._
    rows.toDF("version", "commit_id", "committed_at", "n_added", "n_removed",
      "tables", "op", "rows_inserted", "rows_updated", "rows_deleted",
      "files_deleted", "bytes_deleted")
  }

  /** Table names visible in the CURRENT snapshot: tables with live files,
    * plus declared-but-empty tables that carry properties (a catalog
    * CREATE TABLE before its first data commit). */
  def tableNames(fs: FileSystem, warehouse: String): Seq[String] =
    snapshot(fs, warehouse).tableNames

  /** Zero-copy SHALLOW CLONE (the Delta `CREATE TABLE … SHALLOW CLONE`
    * analog): ONE metadata commit ADDs the source table's live file list —
    * partition tuples, stats tokens, and deletion-vector attachments
    * intact — under `dst`. No data moves; at 100 TB a clone is a driver
    * log walk. The clone then diverges independently: DML and compaction
    * rewrite into ITS directory (reads group per root dir), and vacuum's
    * reference sweeps are warehouse-wide over file paths, so shared files
    * survive while EITHER table's retained log references them. The
    * source's column mapping and properties at `asOf` carry over, so
    * logical names and constraints resolve identically. OCC-guarded
    * against a racing creation of `dst`: the emptiness check and the OCC
    * base come from one snapshot. Returns the clone's version. */
  def cloneTable(spark: SparkSession, warehouse: String, src: String,
                 dst: String, asOf: Option[Long] = None): Long = {
    val fs = new Path(warehouse)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(src != dst, "clone source and destination are the same table")
    val cur = snapshot(fs, warehouse)
    val from = if (asOf.isEmpty) cur else snapshot(fs, warehouse, asOf)
    val files = from.files(src)
    require(files.nonEmpty,
      s"source table '$src' has no committed files at " +
        s"version ${asOf.getOrElse("latest")}")
    require(cur.files(dst).isEmpty,
      s"table '$dst' already exists under $warehouse")
    val srcMapping = from.columnMapping(src)
    val srcProps = from.properties(src)
    // The clone needs everything a reader/writer of the SOURCE needs: its
    // required-feature set (a clone of a DV table without
    // r:deletionVectors would dodge the protocol gate and serve deleted
    // rows to naive readers) and its identity high-water marks (a clone
    // that restarts at 1 would mint ids colliding with the cloned rows).
    val srcHw = from.metasWithPrefix(s"$src#idhw#").map { case (k, v) =>
      (s"$dst#idhw#" + k.stripPrefix(s"$src#idhw#")) -> v }
    append(fs, warehouse,
      "clone" + java.util.UUID.randomUUID().toString.replace("-", ""),
      adds = files.map(a => dst -> a.file), removes = Nil,
      op = "clone", baseVersion = cur.version,
      statsFor = files.map(a => a.file -> a.stats).toMap,
      metas = srcMapping.map(m => dst -> m.encode).toSeq ++
        (if (srcProps.nonEmpty)
           Seq(propsKey(dst) -> encodeProps(srcProps)) else Nil) ++
        srcHw,
      features = from.features(src).map(dst -> _).toSeq,
      dvFor = files.filter(_.dv.nonEmpty).map(a => a.file -> a.dv).toMap)
    latestVersion(fs, warehouse).get
  }

  /** Drop `table`: ONE commit logically REMOVEs every live file (old
    * versions stay time-travelable until vacuum reaps them) and clears the
    * table's properties and column mapping, so a re-created table of the
    * same name starts fresh. The `drop` op tag makes the change stream and
    * `changes()` treat it like any other unrepresentable rewrite (fail
    * fast / skipChangeCommits). The live files and the OCC base come from
    * one snapshot, so a commit racing the drop aborts it. Returns false
    * when the table has neither live files nor declared properties —
    * nothing to drop. */
  def dropTable(fs: FileSystem, warehouse: String, table: String): Boolean = {
    val snap = snapshot(fs, warehouse)
    val live = snap.files(table)
    if (live.isEmpty && snap.properties(table).isEmpty) false
    else {
      append(fs, warehouse, "drop" +
          java.util.UUID.randomUUID().toString.replace("-", ""),
        adds = Nil, removes = live.map(a => table -> a.file),
        op = "drop", baseVersion = snap.version,
        metas = Seq(propsKey(table) -> encodeProps(Map.empty)) ++
          // "" clears the mapping
          snap.columnMapping(table).map(_ => table -> "").toSeq ++
          staleMetas(snap, table))
      true
    }
  }

  /** The META resets a table's new incarnation starts from (drop and
    * replace): its required-feature set and identity high-water marks
    * clear ("" = cleared in the fold, like the mapping). */
  private def staleMetas(snap: Snapshot, table: String): Seq[(String, String)] =
    (snap.metaValue(featuresKey(table)).map(_ => featuresKey(table)).toSeq ++
      snap.metasWithPrefix(s"$table#idhw#").map(_._1)).map(_ -> "")

  // ------------------------------------------------------ table properties

  /** Table properties (the Delta TBLPROPERTIES analog) ride the META
    * fold under the pseudo-table key `<table>#props` — latest payload
    * wins, checkpoints re-emit it, time travel sees the era's values, and
    * nothing else in the fold changes. `#` never appears in a table name
    * (names are single path segments the ingest surface validates), so
    * the key space cannot collide with a real table's column mapping.
    *
    * Property commits are metadata-only and deliberately do NOT conflict
    * with in-flight data commits (their OCC key is the pseudo-table).
    * For advisory writer configuration — bloom columns
    * ([[bloomWriteOptionsFor]]) — racing a rewrite is benign: the rewrite
    * stages files under the config it read, exactly like a writer that
    * started before the change. CONSTRAINT properties
    * ([[TxnCommit.validateConstraints]]) additionally re-validate at
    * publish, the last point before visibility, so a property landing
    * while a violating commit is in flight aborts it there; the
    * documented activation contract (a constraint binds commits
    * validated after it lands — validate existing data when adding one)
    * covers the remaining claim-window sliver. */
  private[ingest] def propsKey(table: String) = s"$table#props"

  // ---------------------------------------------------- applied-txn registry

  /** Vacuum-exempt applied-commitId registry — the Delta SetTransaction
    * (txn appId/version) analog. The raw exactly-once check scans
    * surviving log ENTRIES for the commitId, which [[vacuum]] truncates:
    * a CDC replay arriving after its original entry was reaped would
    * silently re-apply the batch. This registry rides the META fold under
    * the pseudo-key `#txn#<app>` with the applied version as the payload —
    * latest wins, every checkpoint re-emits it (vacuum's cutoff checkpoint
    * included), so the log can never forget an applied batch, no matter
    * how aggressive the retention.
    *
    * FRAMEWORK-MINTED commitIds — `merge-<queryId>-<table>-<batchId>` and
    * `stream-[<queryId>-]<table>-<batchId>`, the ONLY shapes this engine
    * mints itself — register app → n and count as applied iff n ≤ the
    * recorded watermark: batches commit in order per stream, so the
    * registry stays O(#streams), like Delta's per-appId version. The
    * watermark interpretation is gated on those documented prefixes, NOT
    * inferred from id shape: a caller-supplied replay key that merely
    * ends in digits (`load-20240105`, parallel backfills `job-7`/`job-3`)
    * is registered VERBATIM — pure membership, order-independent — so an
    * out-of-order ad-hoc commit can never be mistaken for already-applied
    * (the Delta SetTransaction contract, where appId/version are always
    * explicit). Verbatim entries carry their registration wall-clock and
    * are subject to [[setTxnRetention]] expiry at checkpoint time;
    * watermarks are exempt (they are O(#streams), never accumulate). */
  private val TxnIdRe = "^((?:merge|stream)-.+)-(\\d{1,18})$".r
  private[graft] def txnParse(commitId: String): (String, Long) =
    commitId match {
      case TxnIdRe(app, v) => (app, v.toLong)
      case _ => (commitId, 0L)
    }
  /** Is `commitId` a framework-minted `<app>-<n>` watermark id (vs an
    * ad-hoc verbatim-membership key)? */
  private[graft] def txnIsWatermark(commitId: String): Boolean =
    TxnIdRe.matches(commitId)
  private def txnMetaKey(appId: String): String =
    "#txn#" + java.net.URLEncoder.encode(appId, StandardCharsets.UTF_8)

  /** The applied-version watermark of a txn app, if any was recorded.
    * Verbatim (ad-hoc) entries answer 0 — membership only; their payload
    * also carries a `@<registeredAtMs>` tail for retention, which this
    * accessor strips. */
  private def txnVersion(snap: Snapshot, appId: String): Option[Long] =
    snap.metaValue(txnMetaKey(appId)).flatMap(_.split('@').head.toLongOption)

  /** Was `commitId` provably applied? Survives log vacuum — the check the
    * exactly-once merge/stream replay paths pair with the raw entry scan.
    * For ad-hoc ids this is pure membership; a verbatim entry expired by
    * [[setTxnRetention]] makes the replay UNPROVABLE and the batch
    * re-applies (documented at-least-once fallback past retention, the
    * Delta setTransactionRetentionDuration trade-off). */
  def txnApplied(fs: FileSystem, warehouse: String, commitId: String)
      : Boolean = {
    val (app, v) = txnParse(commitId)
    val snap = snapshot(fs, warehouse)
    txnVersion(snap, app).exists(_ >= v) ||
      // Upgrade bridge: before the watermark shape was gated to merge-/
      // stream- prefixes, ANY id ending in `-<digits>` registered under
      // its TRUNCATED app key with a numeric watermark. An ad-hoc replay
      // straddling that upgrade must still be provably applied, so on a
      // verbatim-key miss probe the legacy key too — read-only (new
      // builds never write this shape for ad-hoc ids, so the probe decays
      // to dead code as legacy entries expire). A legacy hit keeps the
      // legacy semantics it was recorded under; new registrations are
      // order-independent membership and never feed this branch.
      (!txnIsWatermark(commitId) && (commitId match {
        case LegacyTxnIdRe(lapp, lv) =>
          txnVersion(snap, lapp).exists(_ >= lv.toLong)
        case _ => false
      }))
  }

  /** The pre-gating watermark shape (any `-<digits>` tail) — kept ONLY
    * for [[txnApplied]]'s legacy-key probe. */
  private val LegacyTxnIdRe = "^(.+)-(\\d{1,18})$".r

  /** The META entry recording `commitId` as applied — handed to
    * [[append]]'s `metas` so the record lands ATOMICALLY with the
    * commit's own log entry (one file, one put-if-absent). Watermark ids
    * are max-guarded (a recovery replay of an older batch must never
    * regress the watermark); verbatim ids stamp their registration time
    * for [[setTxnRetention]] expiry. */
  private[graft] def txnMetaEntry(snap: Snapshot, commitId: String)
      : (String, String) = {
    val (app, v) = txnParse(commitId)
    if (txnIsWatermark(commitId)) {
      val cur = txnVersion(snap, app).getOrElse(Long.MinValue)
      (txnMetaKey(app), math.max(v, cur).toString)
    } else
      (txnMetaKey(app), s"0@${System.currentTimeMillis()}")
  }

  /** Warehouse-level retention for AD-HOC applied-txn registry entries
    * (the Delta `setTransactionRetentionDuration` analog, property name
    * `graft.txn.retentionMs`). Verbatim commitId entries older than this
    * are dropped when the next CHECKPOINT is written — the registry stays
    * bounded under undisciplined callers minting unbounded distinct keys —
    * at the documented cost that a replay arriving PAST retention is no
    * longer provably applied and re-applies (at-least-once; size it to
    * the longest plausible replay gap, like vacuum's `minAgeMs`).
    * Framework `<app>-<n>` watermark entries are exempt: they are
    * O(#streams) and must survive any schedule. Unset (the default) =
    * keep everything forever. */
  def setTxnRetention(fs: FileSystem, warehouse: String,
                      retentionMs: Long): Unit = {
    require(retentionMs >= 0, s"negative retention: $retentionMs")
    val base = latestVersion(fs, warehouse)
    append(fs, warehouse, "txnret" +
        java.util.UUID.randomUUID().toString.replace("-", ""),
      adds = Nil, removes = Nil, op = "meta", baseVersion = base,
      metas = Seq(TxnRetentionKey -> retentionMs.toString))
  }
  private val TxnRetentionKey = "#txn.retention"
  private[graft] def txnRetentionMs(metas: collection.Map[String, String])
      : Option[Long] =
    metas.get(TxnRetentionKey).flatMap(_.toLongOption)

  // ------------------------------------------------------- table features

  /** Protocol gate — the Delta minReaderVersion / table-features analog.
    * The format carries semantics a naive reader must UNDERSTAND to serve
    * correct rows: ignore a deletion vector and deleted rows come back;
    * ignore an initial default and pre-add files read the wrong value;
    * ignore the column mapping and renamed columns misresolve; ignore
    * widening and mixed-precision files type-clash. Before this gate an
    * older build of this engine (or a third-party reader) opening a newer
    * table failed SILENTLY-WRONG. Now the commit that FIRST uses a
    * feature merges its name into the table's required-feature set — a
    * `<table>#features` META entry riding the SAME log entry (atomic,
    * latest-wins, checkpoint-carried, vacuum-proof like every META key) —
    * and every read/write path refuses a table whose required features it
    * doesn't know, with an error NAMING the feature.
    *
    * Names carry a scope prefix, Delta's readerFeatures/writerFeatures
    * split: `r:<name>` gates reads AND writes (serving rows needs it);
    * `w:<name>` gates writes only (e.g. identity columns — a reader
    * serves plain stored values, but a writer that doesn't maintain the
    * high-water mark would mint duplicates). Time travel sees the era's
    * feature set: a read below the feature-introducing commit is served
    * even by a build that doesn't know the feature. */
  val SupportedReaderFeatures: Set[String] = Set(
    "deletionVectors", "columnMapping", "columnDefaults",
    "typeWidening", "decimalWidening")
  val SupportedWriterFeatures: Set[String] =
    SupportedReaderFeatures ++ Set("identityColumns", "generatedColumns")

  private[ingest] def featuresKey(table: String) = s"$table#features"
  private def encodeFeatures(fs0: Set[String]): String =
    "tf1;" + fs0.toSeq.sorted.mkString(";")
  private[ingest] def decodeFeatures(payload: String): Set[String] =
    payload.split(";").toSeq match {
      case "tf1" +: names => names.filter(_.nonEmpty).toSet
      case _ => throw new IllegalArgumentException(
        s"unrecognized table-features payload: $payload")
    }

  /** Thrown when a table requires features this build doesn't know —
    * deliberately NOT a subclass of the OCC/validation exceptions so
    * recovery and abort paths can route it precisely. */
  final class UnsupportedTableFeatureException(msg: String)
    extends UnsupportedOperationException(msg)

  private[ingest] def checkFeatures(table: String, req: Set[String],
                                    forWrite: Boolean): Unit = {
    if (req.isEmpty) return
    val unknownR = req.collect {
      case f if f.startsWith("r:") &&
        !SupportedReaderFeatures(f.drop(2)) => f.drop(2) }
    val unknownW =
      if (!forWrite) Set.empty[String]
      else req.collect {
        case f if f.startsWith("w:") &&
          !SupportedWriterFeatures(f.drop(2)) => f.drop(2) }
    val unknown = unknownR ++ unknownW
    if (unknown.nonEmpty)
      throw new UnsupportedTableFeatureException(
        s"table '$table' requires ${if (forWrite) "writer" else "reader"} " +
          s"support for feature(s) ${unknown.toSeq.sorted.mkString(", ")} " +
          "this build does not implement — upgrade the engine before " +
          s"${if (forWrite) "writing" else "reading"} it")
  }

  /** `ALTER TABLE … DROP FEATURE` (Delta parity): remove `name` from the
    * table's required set once nothing LIVE depends on it, so older
    * builds regain access to a table that stopped using a feature (all
    * DVs purged by REORG, generated column dropped, …) instead of being
    * locked out forever. One META commit under coarse OCC — a concurrent
    * write re-exercising the feature between the dependency probe and
    * this commit aborts the drop, never the reverse.
    *
    * History stays safe WITHOUT truncation: the feature gate is
    * versioned (`tableFeatures(asOf)` reads the era's set), so a time
    * travel below the drop still refuses an unaware build, while reads
    * at latest see the cleared requirement. A later write that exercises
    * the feature again simply re-stamps it. */
  def dropFeature(fs: FileSystem, warehouse: String, table: String,
                  name: String): Unit =
    dropFeature(fs, warehouse, table, name, () => ())

  /** [[dropFeature]] with a post-probe hook — the deterministic test seam
    * for the probe→publish race window (a rival commit landed by the hook
    * must abort the drop). */
  private[graft] def dropFeature(fs: FileSystem, warehouse: String,
                                 table: String, name: String,
                                 probeDone: () => Unit): Unit = {
    require(SupportedWriterFeatures(name),
      s"cannot drop feature '$name': this build does not implement it, " +
        "so it cannot prove nothing live depends on it — upgrade first")
    // The OCC base and the dependency probe come from ONE snapshot, and
    // the conflict scope includes the DATA TABLE (`occTables`), not just
    // the features pseudo-key: a concurrent commit re-exercising the
    // feature (e.g. a DELETE attaching a deletion vector) emits no
    // `#features` META line when the feature is already in the set — only
    // its ADD/REMOVE/DV lines on the table betray it, and those must
    // abort the drop.
    val snap = snapshot(fs, warehouse)
    val cur = snap.features(table)
    val scoped = cur.filter(_.drop(2) == name)
    require(scoped.nonEmpty,
      s"table '$table' does not require feature '$name'")
    val deps = featureDependents(snap, table, name)
    if (deps.nonEmpty)
      throw new IllegalStateException(
        s"cannot drop feature '$name' from '$table': ${deps.mkString("; ")}")
    probeDone()
    val remaining = cur -- scoped
    append(fs, warehouse, "dropfeat" +
        java.util.UUID.randomUUID().toString.replace("-", ""),
      adds = Nil, removes = Nil, op = "dropFeature",
      baseVersion = snap.version, occTables = Set(table),
      metas = Seq(featuresKey(table) ->
        (if (remaining.isEmpty) "" else encodeFeatures(remaining))))
  }

  /** What in the table's LIVE state still needs `name` (empty = safe to
    * drop). Checks are exact, not heuristic — each names the dependent
    * and the purge verb that clears it. */
  private def featureDependents(snap: Snapshot, table: String,
                                name: String): Seq[String] = {
    lazy val live = snap.files(table)
    lazy val props = snap.properties(table)
    name match {
      case "deletionVectors" =>
        val n = live.count(_.dv.nonEmpty)
        if (n > 0) Seq(s"$n live file(s) still carry deletion vectors — " +
          "REORG TABLE … APPLY (PURGE) or OPTIMIZE first") else Nil
      case "columnMapping" =>
        snap.columnMapping(table) match {
          case Some(m) if m.cols.exists { case (l, p) => l != p } ||
              m.droppedPhysical.nonEmpty =>
            Seq("the column mapping still renames columns or hides " +
              "dropped physical residue — REORG TABLE … APPLY (PURGE) " +
              "cannot undo renames; only an identity mapping is droppable")
          case _ => Nil
        }
      case "columnDefaults" =>
        val ks = props.keys.filter(_.startsWith("default.")).toSeq.sorted
        if (ks.nonEmpty)
          Seq(s"initial defaults still declared (${ks.mkString(", ")}) — " +
            "OPTIMIZE materializes them, then unset the properties")
        else Nil
      case "typeWidening" | "decimalWidening" =>
        val mixed = live.flatMap(a => FileStats.schemaTags(a.stats))
          .groupBy(_._1).collect { case (c, ts)
            if ts.map(t => TxnCommit.repNorm(t._2)).distinct.size > 1 => c }
          .toSeq.sorted
        if (mixed.nonEmpty)
          Seq(s"live files still mix physical widths for column(s) " +
            s"${mixed.mkString(", ")} — OPTIMIZE rewrites them at the " +
            "widest type")
        else Nil
      case "identityColumns" =>
        val ks = props.keys.filter(_.startsWith("identity.")).toSeq.sorted
        if (ks.nonEmpty)
          Seq(s"identity column(s) still declared " +
            s"(${ks.map(_.stripPrefix("identity.")).mkString(", ")})")
        else Nil
      case "generatedColumns" =>
        val ks = props.keys.filter(_.startsWith("generated.")).toSeq.sorted
        if (ks.nonEmpty)
          Seq(s"generated column(s) still declared " +
            s"(${ks.map(_.stripPrefix("generated.")).mkString(", ")})")
        else Nil
      case _ => Seq(s"no dependency probe for '$name'")
    }
  }

  /** The META entry merging `features` into the table's required set at
    * `snap` — None when nothing is new (no redundant log lines). [[append]]
    * writes it in the commit that first exercises the feature. */
  private def featureMetaEntry(snap: Snapshot, table: String,
                               features: Set[String])
      : Option[(String, String)] = {
    val cur = snap.features(table)
    if ((features -- cur).isEmpty) None
    else Some(featuresKey(table) -> encodeFeatures(cur ++ features))
  }

  private def encodeProps(props: Map[String, String]): String = {
    def e(s: String) = java.net.URLEncoder.encode(s, StandardCharsets.UTF_8)
    "p1;" + props.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${e(k)}=${e(v)}" }.mkString(";")
  }

  private[ingest] def decodeProps(payload: String): Map[String, String] = {
    def d(s: String) = java.net.URLDecoder.decode(s, StandardCharsets.UTF_8)
    payload.split(";", -1).toSeq match {
      case "p1" +: pairs => pairs.filter(_.nonEmpty).map { kv =>
        val Array(k, v) = kv.split("=", 2); d(k) -> d(v)
      }.toMap
      case _ => throw new IllegalArgumentException(
        s"unrecognized table-properties payload: $payload")
    }
  }

  /** The props META entry that merges `updates` into the table's
    * properties at `snap` — for callers composing a property change
    * ATOMICALLY with another metadata commit (e.g. ADD COLUMN … DEFAULT:
    * mapping + default land in one entry). */
  private[graft] def propsMetaEntry(snap: Snapshot, table: String,
                                    updates: Map[String, String])
      : (String, String) =
    propsKey(table) -> encodeProps((snap.properties(table) ++ updates)
      .filter { case (_, v) => v != null && v.nonEmpty })

  // ------------------------------------------------------- column defaults

  /** Which defaulted physical columns this file CARRIES — the subgroup
    * key: files sharing it read through one relation, and the defaults of
    * the complement are injected as constants.
    *
    * Column DEFAULTs (`ALTER TABLE t ADD COLUMN c DEFAULT lit`) are the
    * Iceberg initial-default / Delta column-default analog, metadata-only:
    * the literal lives in the `default.<logical>` table property
    * ([[Snapshot.defaults]] resolves it to the physical name) and is
    * served at READ time for rows of files written BEFORE the column
    * existed (per-FILE, decided from the log's schema tags — a post-add
    * file's stored values, explicit NULLs included, always win). Files
    * without schema tags (pre-stats eras) conservatively read null: a
    * wrong default is worse than the old behavior. */
  private[graft] def defaultPresence(a: Action,
                                     defaults: Map[String, String])
      : Set[String] =
    if (defaults.isEmpty) Set.empty
    else {
      val tags = FileStats.schemaTags(a.stats)
      if (tags.isEmpty) defaults.keySet // tagless: "has" → null, never a wrong default
      else defaults.keySet.intersect(tags.map(_._1).toSet)
    }

  /** Inject each defaulted column ABSENT from this subgroup's files as a
    * constant expression (typed from the frame's own column when an
    * explicit read schema already carries it). */
  private[ingest] def injectDefaults(df: org.apache.spark.sql.DataFrame,
                                     present: Set[String],
                                     defaults: Map[String, String])
      : org.apache.spark.sql.DataFrame =
    defaults.foldLeft(df) { case (d, (phys, text)) =>
      if (present(phys)) d
      else {
        val e = org.apache.spark.sql.functions.expr(text)
        val typed = d.schema.fields.find(_.name == phys)
          .map(f => e.cast(f.dataType)).getOrElse(e)
        d.withColumn(phys, typed)
      }
    }

  /** Merge `updates` into the table's properties as one metadata-only
    * commit (a `null`/empty value unsets the key). Versioned like any
    * commit — RESTORE and time travel see the era's properties. */
  def setProperties(fs: FileSystem, warehouse: String, table: String,
                    updates: Map[String, String]): Unit =
    setProperties(snapshot(fs, warehouse), table, updates)

  /** [[setProperties]] merged into, and OCC-based on, `snap` — for callers
    * that checked a condition against that snapshot first. */
  private[graft] def setProperties(snap: Snapshot, table: String,
                                   updates: Map[String, String]): Unit =
    append(snap.fs, snap.warehouse, java.util.UUID.randomUUID().toString,
      adds = Nil, removes = Nil, op = "set_properties",
      baseVersion = snap.version,
      metas = Seq(propsMetaEntry(snap, table, updates)))

  /** REPLACE TABLE's metadata tail: the table's declaration becomes
    * EXACTLY `declared` — stale properties of the old contract are
    * dropped, not merged — and any column mapping of the old era is
    * cleared, in ONE commit. Prior versions keep their own era's
    * properties/mapping (time travel across the replace). */
  def replaceDeclaration(fs: FileSystem, warehouse: String, table: String,
                         declared: Map[String, String]): Unit = {
    // Replace = a NEW contract: the required-feature set and identity
    // marks of the old incarnation clear with the properties (the new
    // data re-stamps whatever it actually uses).
    val snap = snapshot(fs, warehouse)
    append(fs, warehouse, java.util.UUID.randomUUID().toString,
      adds = Nil, removes = Nil, op = "set_properties",
      baseVersion = snap.version,
      metas = Seq(propsKey(table) -> encodeProps(
        declared.filter { case (_, v) => v != null && v.nonEmpty })) ++
        // "" clears the mapping
        snap.columnMapping(table).map(_ => table -> "").toSeq ++
        staleMetas(snap, table))
  }

  /** Writer options every rewrite of `table` must stage under — today the
    * parquet bloom config from the `bloom.columns` (comma-joined LOGICAL
    * names) / `bloom.ndv` / `bloom.fpp` properties, translated to the
    * files' PHYSICAL column names through `mapping`. Consulted by the
    * [[Merge]] and [[Compaction]] staging writers, so DML and OPTIMIZE
    * re-establish the blooms the original appends carried instead of
    * silently degrading point-lookup pruning with every rewrite. */
  def bloomWriteOptionsFor(fs: FileSystem, warehouse: String, table: String,
                           mapping: Option[ColumnMapping])
      : Map[String, String] =
    bloomOptions(snapshot(fs, warehouse).properties(table), mapping)

  private[ingest] def bloomOptions(props: Map[String, String],
                                   mapping: Option[ColumnMapping])
      : Map[String, String] =
    props.get("bloom.columns").map(_.split(",").toSeq.filter(_.nonEmpty))
      .filter(_.nonEmpty)
      .map { logical =>
        val physical = logical.map(c => mapping.fold(c)(_.physicalFor(c)))
        FileStats.bloomWriteOptions(physical,
          ndv = props.get("bloom.ndv").map(_.toLong).getOrElse(25000L),
          fpp = props.get("bloom.fpp").map(_.toDouble).getOrElse(0.01))
      }.getOrElse(Map.empty)

  /** Process-wide sidecar-bloom cache: one file holds one column's
    * bitsets for one data file (≤ [[FileStats.MaxBloomSidecarBytes]]);
    * repeat probes across queries/DML hit memory. Bounded by BYTES, not
    * entries (128 near-cap sidecars would otherwise pin ~1 GB of driver
    * heap), cleared wholesale past the bound — correctness never depends
    * on it. */
  private val sidecarBloomCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[Array[Byte]]]()
  private val sidecarBloomCacheBytes = new java.util.concurrent.atomic.AtomicLong(0)
  private val SidecarCacheMaxBytes: Long =
    sys.props.get("graft.bloom.cacheMaxBytes").map(_.toLong)
      .getOrElse(256L * 1024 * 1024)

  // Per-file parquet schema cache. Snapshot data files are WRITE-ONCE
  // (commits add/remove whole files, never rewrite one in place), so a
  // file's footer schema can never change under the cache — this is
  // metadata caching (the sidecar-bloom stance), not result caching.
  // Forced nullable, matching Spark's file-source read semantics. Payoff:
  // spark.read.parquet() re-infers the schema with a footer-reading job on
  // EVERY DataFrame construction; a steady-state reader (the fmt_* serving
  // paths, the ANN store queries) was paying that job once per read call.
  private val fileSchemaCache = new java.util.concurrent.ConcurrentHashMap[
    String, org.apache.spark.sql.types.StructType]()

  private def allNullable(dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    dt match {
      case s: StructType => StructType(s.fields.map(f =>
        f.copy(dataType = allNullable(f.dataType), nullable = true)))
      case a: ArrayType =>
        ArrayType(allNullable(a.elementType), containsNull = true)
      case m: MapType => MapType(allNullable(m.keyType),
        allNullable(m.valueType), valueContainsNull = true)
      case other => other
    }
  }

  private[graft] def cachedFileSchema(spark: SparkSession, file: String)
      : org.apache.spark.sql.types.StructType = {
    if (fileSchemaCache.size > 65536) fileSchemaCache.clear()
    fileSchemaCache.computeIfAbsent(file, f =>
      allNullable(spark.read.parquet(f).schema)
        .asInstanceOf[org.apache.spark.sql.types.StructType])
  }

  /** Loader for [[FileStats.mayMatch]]'s sidecar-resolution variant.
    * A missing/corrupt sidecar returns None — the caller keeps the file
    * (sound: absent bloom never skips). */
  def sidecarBloomLoader(fs: FileSystem, warehouse: String)
      : FileStats.BloomRef => Option[Seq[Array[Byte]]] = ref => {
    val full = s"$warehouse/${ref.path}"
    try {
      if (sidecarBloomCacheBytes.get > SidecarCacheMaxBytes) {
        sidecarBloomCache.clear()
        sidecarBloomCacheBytes.set(0)
      }
      Some(sidecarBloomCache.computeIfAbsent(full, _ => {
        val in = fs.open(new Path(full))
        val bits = try FileStats.readSidecar(in) finally in.close()
        sidecarBloomCacheBytes.addAndGet(bits.map(_.length.toLong).sum)
        bits
      }))
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Max total deletion-vector rows that ride a broadcast anti-join;
    * beyond this the join shuffles the scan side. DVs are meant to hold a
    * sliver of a table (heavy deletion is what compaction — which purges
    * vectors — is for), so the broadcast path is the steady state. Tests
    * shrink it via the system property to pin the degraded path. */
  private[ingest] def dvBroadcastMaxRows: Long =
    sys.props.get("graft.test.dvBroadcastMaxRows").map(_.toLong)
      .getOrElse(4L * 1000 * 1000)

  /** The live deletion-vector rows for `atts` = (dataFileKey, dvPath)
    * pairs, as columns `_dv_data_file` (scheme-less encoded path, the
    * [[pathKey]] form) + `_dv_pos` (row index within the file). A live DV
    * parquet may also carry rows for files whose attachment has since
    * moved to a NEWER vector (each commit's vector bundles several files'
    * full deletion sets) — the broadcast (vector, file) pair filter keeps
    * only currently-attached pairs. */
  private[ingest] def dvRowsDf(spark: SparkSession,
                               atts: Seq[(String, String)]): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, input_file_name,
      regexp_replace}
    val pairs = spark.createDataFrame(
        atts.map { case (f, p) => (pathKey(p), f) }.distinct)
      .toDF("_dv_src", "_dv_data_file")
    val dvPaths = atts.map(_._2).distinct
    // One live DV file (the steady state): its cached footer schema skips
    // the per-read inference job (DV files are write-once like data files).
    val dvReader =
      if (dvPaths.size == 1)
        spark.read.schema(cachedFileSchema(spark, dvPaths.head))
      else spark.read
    dvReader.parquet(dvPaths: _*)
      .withColumn("_dv_src", regexp_replace(input_file_name(), SchemeRe, ""))
      .join(broadcast(pairs), Seq("_dv_src", "_dv_data_file"), "left_semi")
      .select("_dv_data_file", "_dv_pos")
  }

  /** Merge-on-read: drop deletion-vectored rows from a parquet scan by
    * anti-joining the scan's (`_metadata.file_path`, `_metadata.row_index`)
    * against the live DV rows. Must be applied directly over the file-source
    * scan (metadata columns resolve there). Broadcast anti-join in the
    * steady state — the scan side is never shuffled; a table whose DVs
    * outgrow [[dvBroadcastMaxRows]] pays a shuffle until compaction purges
    * them. No attachments ⇒ the input plan is returned untouched. */
  private[ingest] def applyDv(spark: SparkSession, df: DataFrame,
                              atts: Seq[Action]): DataFrame = {
    val live = atts.filter(_.dv.nonEmpty)
    if (live.isEmpty) return df
    import org.apache.spark.sql.functions.{broadcast, col, regexp_replace}
    val dv = dvRowsDf(spark, live.map(a => (pathKey(a.file), a.dvPath)))
    val dvH =
      if (live.map(_.dvCount).sum <= dvBroadcastMaxRows) broadcast(dv) else dv
    val keyed = df
      .withColumn("_dv_file",
        regexp_replace(col("_metadata.file_path"), SchemeRe, ""))
      .withColumn("_dv_row", col("_metadata.row_index"))
    keyed.join(dvH,
        keyed("_dv_file") === dvH("_dv_data_file") &&
          keyed("_dv_row") === dvH("_dv_pos"),
        "left_anti")
      .drop("_dv_file", "_dv_row")
  }

  /** A file's skipping stats with its partition tuple folded in as exact
    * single-value ranges (strings — Hive specs are untyped; a predicate
    * comparing them to a non-string keeps the file, which is sound). */
  private[ingest] def statsWithPartition(a: Action): Option[FileStats.Stats] = {
    val base = FileStats.decode(a.stats)
    // The Hive null sentinel is NOT a value: claiming min=max=sentinel for
    // a null partition would compare the literal string against real
    // predicates. Treat it as unknown (absent stats never skip — sound).
    val pm = specToMap(a.partition).filterNot { case (_, v) =>
      v == org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .DEFAULT_PARTITION_NAME }
    if (pm.isEmpty) base
    else {
      val pcols = pm.map { case (k, v) => k -> FileStats.ColStats("string", v, v) }
      Some(base.map(s => s.copy(cols = s.cols ++ pcols))
        .getOrElse(FileStats.Stats(-1L, pcols)))
    }
  }

  /** One-predicate read: `condition` both filters rows AND (via
    * [[FileStats.fromExpression]]) skips non-overlapping files from the
    * log's stats and partition tuples — the ergonomic form of
    * `read(dataFilter=…).filter(…)` with the two predicates guaranteed
    * consistent. The condition is resolved against the table's schema
    * first (types checked, names bound, over an empty frame of
    * [[Snapshot.schema]] — no scan planned), then the resolved catalyst
    * tree is translated. Both plan from one snapshot. */
  def readWhere(spark: SparkSession, warehouse: String, table: String,
                condition: org.apache.spark.sql.Column,
                asOf: Option[Long] = None): DataFrame = {
    val snap = snapshot(fsOf(spark, warehouse), warehouse, asOf)
    snap.read(spark, table,
      dataFilter = statsPred(spark, snap, table, condition))
      .filter(condition)
  }

  /** `condition` resolved against `table`'s schema at `snap` and
    * translated to a stats predicate — null when it has no stats-decidable
    * part (DML candidate pruning and [[readWhere]] share it). */
  private[ingest] def statsPred(spark: SparkSession, snap: Snapshot,
                               table: String,
                               condition: org.apache.spark.sql.Column)
      : FileStats.Pred =
    spark.createDataFrame(java.util.List.of[org.apache.spark.sql.Row](),
        snap.schema(spark, table)).filter(condition)
      .queryExecution.analyzed.collectFirst {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
      }.flatMap(FileStats.fromExpression).orNull

  private def fsOf(spark: SparkSession, warehouse: String): FileSystem =
    new Path(warehouse).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Parse a `k=v/...` spec with Hive path-escaping undone (same contract
    * as [[Action.partitionMap]]): filters and stats compare real values —
    * an escaped bound against a real predicate value could unsoundly skip
    * a file the predicate matches. */
  private[graft] def specToMap(spec: String): Map[String, String] =
    if (spec.isEmpty) Map.empty
    else spec.split("/").toSeq.map { seg =>
      val Array(k, v) = seg.split("=", 2)
      unescapeSeg(k) -> unescapeSeg(v)
    }.toMap

  /** The partition column names (in directory order) of a table, from its
    * committed files' specs — empty for unpartitioned tables. */
  private[graft] def partitionColumns(specs: Seq[String]): Seq[String] =
    specs.find(_.nonEmpty)
      .map(_.split("/").toSeq.map(s => unescapeSeg(s.split("=", 2)(0))))
      .getOrElse(Seq.empty)

  /** The data columns the files of `acts` carry: ONE cached footer per
    * distinct schema-tag signature (bounded by schema-evolution events, not
    * file count; zero jobs once cached), merged so a later commit's column
    * is served (older files read null) and a width mix reads at the widest
    * of [[TxnCommit]]'s safe widenings (INT32/INT64, FLOAT/DOUBLE,
    * one-scale decimal precisions). Files without tags (pre-stats logs,
    * change files) take footer inference, over every footer when
    * `mergeSchema`. Signatures sorted, then the tagless footers. */
  private[ingest] def footerSchema(spark: SparkSession, acts: Seq[Action],
                                   mergeSchema: Boolean)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    def widen(a: DataType, b: DataType): DataType = (a, b) match {
      case (x, y) if x == y => x
      case (IntegerType, LongType) | (LongType, IntegerType) => LongType
      case (FloatType, DoubleType) | (DoubleType, FloatType) => DoubleType
      case (d1: DecimalType, d2: DecimalType) if d1.scale == d2.scale =>
        DecimalType(math.max(d1.precision, d2.precision), d1.scale)
      case (x, y) => throw new IllegalStateException(
        s"unmergeable column types $x vs $y across live files — schema " +
          "enforcement should have rejected this commit")
    }
    def merge(a: StructType, b: StructType): StructType = {
      val bMap = b.fields.map(f => f.name -> f).toMap
      val shared = a.fields.map { fa =>
        bMap.get(fa.name).fold(fa.copy(nullable = true))(fb =>
          StructField(fa.name, widen(fa.dataType, fb.dataType),
            fa.nullable || fb.nullable, fa.metadata))
      }
      val extra = b.fields.filterNot(f => a.fieldNames.contains(f.name))
        .map(_.copy(nullable = true))
      StructType(shared ++ extra)
    }
    // Light parse: this runs on every read — decoding the full token here
    // would base64-decode inline bloom payloads per file.
    val (tagged, tagless) = acts.map(a => FileStats.schemaTags(a.stats) -> a)
      .partition(_._1.nonEmpty)
    val footers = tagged.groupBy(_._1).toSeq.sortBy(_._1.toString)
      .map(g => cachedFileSchema(spark, g._2.head._2.file)) ++
      (if (tagless.isEmpty) Nil
       else Seq(spark.read.option("mergeSchema", mergeSchema)
         .parquet(tagless.map(_._2.file).distinct: _*).schema))
    footers.reduce(merge)
  }

  /** The partition columns of `acts`' layouts with their served types,
    * from the log's tuples alone (no listing, no footer): a column `typed`
    * names takes that type; any other Spark's own path inference
    * (`PartitioningUtils.parsePartitions` over synthetic `/c=v` paths of
    * every distinct value, session confs honoured), decided over ALL the
    * tuples so pruning cannot move it; an all-null column is STRING.
    * Columns in layout order, the longest layout first. */
  private[ingest] def partitionSchema(spark: SparkSession, acts: Seq[Action],
                                      typed: Map[String,
                                        org.apache.spark.sql.types.DataType])
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    val segs = acts.map(_.partition).distinct.filter(_.nonEmpty)
      .map(_.split("/").toSeq.map(s => unescapeSeg(s.split("=", 2)(0)) -> s))
    val cols = segs.map(_.map(_._1)).distinct
      .sortBy(l => (-l.size, l.mkString("/"))).flatten.distinct
    val values = segs.flatten.groupBy(_._1)
    StructType(cols.map { c =>
      val t = typed.getOrElse(c, org.apache.spark.sql.execution.datasources
        .graftbridge.PartitionBridge.inferredType(spark, values(c).map(_._2).distinct))
      StructField(c, if (t == NullType) StringType else t)
    })
  }

  /** The metadata-only type evolutions (ALTER COLUMN TYPE) that reads,
    * commits and compaction all honour exactly: narrow files read at the
    * wide type. */
  private[graft] def safeWidening(from: org.apache.spark.sql.types.DataType,
                                  to: org.apache.spark.sql.types.DataType)
      : Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (a, b) if a == b => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case _ => false
    }
  }

  /** Snapshot-isolated read: plan from the pinned file list of the resolved
    * version — concurrent publishes (and compactions) are invisible, and
    * `asOf` reads any retained historical version. Serves exactly
    * [[Snapshot.schema]] at that version, whatever the filters prune. A
    * read whose `dataFilter` excludes every file, and a declared table with
    * no live files, serve an empty frame of it; any other table without
    * committed files throws.
    *
    * `partitionFilter` prunes the pinned file list BEFORE planning, from
    * the partition tuples recorded in the log — no directory listing, no
    * footer read, no task for a pruned file. At 100 TB this is the
    * difference between planning over every file of a year-partitioned
    * table and over one day's worth. Files of a partitioned table are read
    * with `basePath` so the partition columns stay in the schema.
    *
    * `mergeSchema = true` merges every footer of files whose log entries
    * carry no schema tags (pre-stats eras); tagged files are always served
    * from one cached footer per distinct signature, so additive evolution
    * needs no flag there ([[Snapshots.footerSchema]]). */
  def read(spark: SparkSession, warehouse: String, table: String,
           asOf: Option[Long] = None, mergeSchema: Boolean = false,
           partitionFilter: Map[String, String] => Boolean = null,
           dataFilter: FileStats.Pred = null): DataFrame =
    snapshot(fsOf(spark, warehouse), warehouse, asOf)
      .read(spark, table, mergeSchema, partitionFilter, dataFilter)

  /** [[read]] at a pinned snapshot ([[Snapshot.read]]). */
  private[ingest] def readAt(spark: SparkSession, snap: Snapshot,
                             table: String, mergeSchema: Boolean,
                             partitionFilter: Map[String, String] => Boolean,
                             dataFilter: FileStats.Pred): DataFrame = {
    // Protocol gate: refuse a table requiring reader features this build
    // doesn't know — fail fast, never silently-wrong rows. Time travel
    // checks the ERA's feature set.
    snap.requireFeatures(table)
    val at = snap.version.getOrElse(throw new IllegalStateException(
      s"no snapshot log under ${snap.warehouse} — was this table committed via TxnCommit?"))
    val all = snap.files(table)
    def empty = spark.createDataFrame(
      java.util.List.of[org.apache.spark.sql.Row](),
      snap.schema(spark, table, mergeSchema))
    if (all.isEmpty) return empty
    val partPruned =
      if (partitionFilter == null) all
      else snap.pruned(table, null, partitionFilter)
    require(partPruned.nonEmpty,
      s"partition filter pruned every file of '$table' at version " +
        s"$at — relax the filter or read the empty table explicitly")
    // Data skipping from the log's per-file [min,max] — no footer reads at
    // plan time: a pruned file costs nothing, not even a task. dataFilter
    // must be implied by the query's own row filter (skipping is an
    // optimization, never a semantic change); files without stats are kept.
    val pruned =
      if (dataFilter == null) partPruned
      else snap.pruned(table, dataFilter, partitionFilter)
    if (pruned.isEmpty) return empty
    val physical = snap.scanFiles(spark, table, pruned,
      snap.liveSchema(spark, table, mergeSchema))
    // Column mapping (rename/drop without rewrite): files keep ONE physical
    // schema; the logical view is resolved at the end, and log-side stats
    // (physical keys) are renamed to logical so skipping still fires on
    // logically-named predicates.
    snap.columnMapping(table).fold(physical)(_.applyTo(physical))
  }
}
