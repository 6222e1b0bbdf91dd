package graft.sql

import org.apache.spark.sql.{Row, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType, StructType}
import org.apache.hadoop.fs.Path
import graft.ingest.{Compaction, Snapshots}

/** SQL surface for the table format (the `DESCRIBE HISTORY` / `OPTIMIZE` /
  * `VACUUM` statement family, Delta-style), wired in through the public
  * `SparkSessionExtensions` parser hook:
  *
  * {{{
  * spark.sql.extensions = graft.sql.GraftSqlExtensions
  * spark.graft.warehouse = /path/to/warehouse      // statement target
  *
  * SNAPSHOT OF t                          -- snapshot-isolated read (latest)
  * SNAPSHOT OF t VERSION AS OF 3          -- time travel by version
  * SNAPSHOT OF t TIMESTAMP AS OF '2024-01-01 00:00:00'
  * SNAPSHOT HISTORY                       -- commit log, newest first
  * SNAPSHOT CHANGES OF t FROM 2           -- row-level change feed (CDF)
  * SNAPSHOT CHANGES OF t FROM 2 TO 5      -- bounded version range
  * RESTORE t TO VERSION AS OF 3           -- roll back as a new commit
  * DELETE FROM t WHERE v > 10             -- predicate copy-on-write delete
  * UPDATE t SET v = v + 1 WHERE id = 7    -- predicate copy-on-write update
  * INSERT INTO t SELECT ... | VALUES ...  -- positional append (new version)
  * INSERT INTO t (a, b) SELECT ...        -- column-list append (nulls fill)
  * INSERT OVERWRITE t SELECT ...          -- atomic replace (history intact)
  * CREATE TABLE t [PARTITIONED BY (dt)] AS SELECT ...  -- DDL + first commit
  * MERGE INTO t USING s ON t.id = s.id    -- keyed upsert / delete-by-key
  *   WHEN MATCHED THEN UPDATE SET *
  *   WHEN NOT MATCHED THEN INSERT *
  * OPTIMIZE t                             -- bin-pack compaction
  * OPTIMIZE t WHERE dt='2024-01-01'       -- partition-scoped maintenance
  * OPTIMIZE t ZORDER BY (a, b)            -- multi-dim clustering rewrite
  * VACUUM SNAPSHOTS RETAIN 8 VERSIONS [MAX AGE 168 HOURS] [DRY RUN]
  * ALTER TABLE t ADD COLUMN c [type]       -- metadata-only evolution
  * DESCRIBE DETAIL t                      -- files/bytes/rows/partitions/props
  * ALTER TABLE t SET TBLPROPERTIES ('bloom.columns'='doc_id')
  * ALTER TABLE t UNSET TBLPROPERTIES ('bloom.columns')
  * SHOW TBLPROPERTIES t                   -- (key, value) rows
  * }}}
  *
  * Statements not in this grammar fall through to the delegate parser
  * untouched, so the extension is a pure addition to Spark SQL. Each
  * statement maps 1:1 onto the library API ([[Snapshots]]/[[Compaction]]) —
  * the tests assert SQL results equal the API calls. */
class GraftSqlExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectParser((session, delegate) => new GraftSqlParser(session, delegate))
    // Vectorize format-based batch scans: swap the V1 relation leaf for
    // the log-pinned parquet plan once pushdown has settled (pre-CBO), so
    // `spark.read.format("graft-snapshots")` plans a columnar parquet
    // scan — see [[SnapshotScanRule]].
    ext.injectPreCBORule(session => SnapshotScanRule(session))
    ext.injectPostHocResolutionRule(session => GraftCatalogDmlRule(session))
    // `table_changes('t' | 'cat.t', from [, to])` — the Delta TVF analog
    // of SNAPSHOT CHANGES OF, composable inside any query (joins, CTEs):
    // returns the row-level change feed with _change_type/_commit_version.
    // FROM is exclusive, TO inclusive — the changes() contract.
    ext.injectTableFunction((
      org.apache.spark.sql.catalyst.FunctionIdentifier("table_changes"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[GraftSqlExtensions].getName, "table_changes"),
      (args: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        GraftSqlExtensions.tableChangesPlan(args)))
  }
}

object GraftSqlExtensions {
  import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}

  /** Build the `table_changes` TVF's plan. Arguments must be literals:
    * the table name (optionally `cat.t` for a registered GraftCatalog),
    * the exclusive start version, and an optional inclusive end. */
  private[sql] def tableChangesPlan(args: Seq[Expression])
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    def lit(e: Expression, what: String): Any = e match {
      case Literal(v, _) if v != null => v
      case other => throw new IllegalArgumentException(
        s"table_changes: $what must be a literal, got ${other.sql}")
    }
    require(args.size == 2 || args.size == 3,
      "table_changes(table, fromVersionExclusive [, toVersionInclusive]) " +
        "— versions as numbers, or 'yyyy-MM-dd HH:mm:ss' timestamp strings")
    val session = SparkSession.active
    val name = lit(args(0), "the table name").toString
    val parts = name.split("\\.")
    val (wh, table) =
      if (parts.length == 2 && session.conf
          .getOption(s"spark.sql.catalog.${parts(0)}")
          .contains(classOf[graft.sources.v2.GraftCatalog].getName))
        (session.conf.getOption(s"spark.sql.catalog.${parts(0)}.warehouse")
          .orElse(session.conf.getOption("spark.graft.warehouse")).getOrElse(
            throw new IllegalStateException(
              s"catalog '${parts(0)}' has no warehouse configured")),
          parts(1))
      else
        (session.conf.getOption("spark.graft.warehouse").getOrElse(
          throw new IllegalStateException(
            "table_changes on a bare table name needs " +
              "spark.graft.warehouse (or use a cat.table name)")), name)
    // Bounds: plain numbers are versions; anything else parses as a
    // timestamp and resolves through the log's entry times (FROM stays
    // exclusive — the version current AT that moment is the consumer's
    // last-seen state; TO includes everything committed by its moment).
    lazy val fsW = new Path(wh)
      .getFileSystem(session.sparkContext.hadoopConfiguration)
    // NOTE the divergence from Delta's TVF: Delta's startingTimestamp is
    // INCLUSIVE of the commit at that moment; here FROM is exclusive —
    // "the version current at that moment is what you already saw". A
    // timestamp before the table's first commit resolves to -1: as FROM
    // it serves the full retained feed (nothing was seen yet), as TO an
    // empty one (nothing was committed yet). Ported Delta queries can opt
    // into Delta's inclusivity with the session conf
    // `graft.cdf.inclusiveFromTimestamp=true`: a timestamp FROM bound then
    // serves changes committed AT or AFTER the instant — the exclusive
    // bound is the version current one millisecond earlier, the SAME
    // resolution as the DSv2 `startingTimestamp` option (versionAt(ts-1)):
    // commits strictly before ts stay excluded even when no commit lands
    // exactly at ts. Numeric version bounds are unaffected — only the
    // timestamp form diverges from Delta.
    val inclusiveFrom = session.conf
      .getOption("graft.cdf.inclusiveFromTimestamp")
      .exists(_.equalsIgnoreCase("true"))
    def bound(e: Expression, what: String, isFrom: Boolean = false): Long = {
      val s = lit(e, what).toString
      s.toLongOption.getOrElse {
        val ms0 = java.sql.Timestamp.valueOf(s).getTime
        val ms = if (isFrom && inclusiveFrom) ms0 - 1 else ms0
        Snapshots.versionAt(fsW, wh, ms).getOrElse(-1L)
      }
    }
    val from = bound(args(1), "the start bound", isFrom = true).max(-1L)
    val to = args.lift(2).map(e => bound(e, "the end bound"))
    Snapshots.changes(session, wh, table, from, to).queryExecution.logical
  }
}

class GraftSqlParser(session: SparkSession, delegate: ParserInterface)
  extends ParserInterface {

  private val SnapshotRe =
    raw"(?is)\s*SNAPSHOT\s+OF\s+([\w.]+)\s*(?:VERSION\s+AS\s+OF\s+(\d+)\s*|TIMESTAMP\s+AS\s+OF\s+'([^']+)'\s*)?".r
  private val HistoryRe =
    raw"(?is)\s*SNAPSHOT\s+HISTORY\s*(?:OF\s+([\w.]+)\s*)?(?:IN\s+(\w+)\s*)?".r
  // Delta-compat alias (`DESCRIBE HISTORY t`) — not vanilla Spark
  // grammar, but gated on a configured warehouse so sessions without
  // graft still get the delegate's own error.
  private val DescHistoryRe =
    raw"(?is)\s*DESCRIBE\s+HISTORY\s+([\w.]+)\s*(?:LIMIT\s+(\d+)\s*)?".r
  // FROM optional (omitted or negative = the log's beginning), TO inclusive.
  private val ChangesRe =
    raw"(?is)\s*SNAPSHOT\s+CHANGES\s+OF\s+([\w.]+)\s*(?:FROM\s+(-?\d+)\s*)?(?:TO\s+(\d+)\s*)?".r
  private val OptimizeRe =
    raw"(?is)\s*OPTIMIZE\s+([\w.]+)\s*(?:WHERE\s+(.+?)\s*)??(?:ZORDER\s+BY\s+\(([^)]+)\)\s*)?".r
  // Conjunctive partition-equality predicates only: k='v' [AND k2='v2' …]
  private val PartEqRe = raw"(?i)\s*([\w]+)\s*=\s*'([^']*)'\s*".r
  // Optional TABLE keyword = the Delta spelling (`RESTORE TABLE t TO …`);
  // TIMESTAMP AS OF resolves through the log's entry times like reads.
  private val RestoreRe =
    raw"(?is)\s*RESTORE\s+(?:TABLE\s+)?([\w.]+)\s+TO\s+VERSION\s+AS\s+OF\s+(\d+)\s*".r
  private val RestoreTsRe =
    raw"(?is)\s*RESTORE\s+(?:TABLE\s+)?([\w.]+)\s+TO\s+TIMESTAMP\s+AS\s+OF\s+'([^']+)'\s*".r
  // Zero-copy shallow clone: one metadata commit, no data movement.
  private val CloneRe =
    raw"(?is)\s*SNAPSHOT\s+CLONE\s+([\w.]+)\s+TO\s+([\w.]+)\s*(?:VERSION\s+AS\s+OF\s+(\d+)\s*)?".r
  private val DeleteRe =
    raw"(?is)\s*DELETE\s+FROM\s+([\w.]+)\s+WHERE\s+(.+?)\s*".r
  private val UpdateRe =
    raw"(?is)\s*UPDATE\s+([\w.]+)\s+SET\s+(.+)".r
  // Optional standard-SQL column list `(a, b)` before the query: listed
  // columns map the query's output BY POSITION, unlisted table columns
  // fill with typed nulls. A parenthesized query `INSERT INTO t (SELECT …)`
  // does not match the list group (the list must close before the query
  // keyword) and falls through to the delegate.
  private val InsertIntoRe =
    raw"(?is)\s*INSERT\s+INTO\s+(?:TABLE\s+)?([\w.]+)\s*(?:\(\s*([\w\s,]+?)\s*\)\s*)?((?:SELECT|VALUES|FROM|WITH|TABLE)\b.*)".r
  private val InsertOverwriteRe =
    raw"(?is)\s*INSERT\s+OVERWRITE\s+(?:TABLE\s+)?([\w.]+)\s*(?:\(\s*([\w\s,]+?)\s*\)\s*)?((?:SELECT|VALUES|FROM|WITH|TABLE)\b.*)".r
  // `CREATE TABLE t [USING graft] [PARTITIONED BY (a,b)] AS <query>` —
  // DDL + first append in one statement (the reference's derive-macro
  // generates exactly this pair, huckli-import-derive/src/lib.rs:80-104).
  // Statements carrying other USING/OPTIONS/LOCATION clauses don't match
  // and reach the delegate untouched.
  private val CtasRe =
    raw"(?is)\s*CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?([\w.]+)\s+(?:USING\s+graft(?:-snapshots)?\s+)?(?:PARTITIONED\s+BY\s*\(\s*([\w\s,]+?)\s*\)\s+)?AS\s+((?:SELECT|VALUES|FROM|WITH|TABLE)\b.*)".r

  /** Split SET assignments on commas outside string literals (same quote
    * rules as [[splitSetWhere]] — single/double quotes, backslash
    * escapes). */
  private def splitAssignments(sets: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var start = 0
    var i = 0
    var sq = false
    var dq = false
    while (i < sets.length) {
      sets.charAt(i) match {
        case '\\' if sq || dq => i += 1
        case '\'' if !dq => sq = !sq
        case '"' if !sq => dq = !dq
        case ',' if !sq && !dq =>
          out += sets.substring(start, i); start = i + 1
        case _ => ()
      }
      i += 1
    }
    out += sets.substring(start)
    out.result()
  }

  /** Split `<assignments> WHERE <condition>` at the first WHERE keyword
    * outside string literals — single- OR double-quoted (Spark SQL treats
    * both as strings by default), with backslash escapes honored, so
    * `SET v = "has WHERE inside" WHERE …` and `SET v = 'it\'s WHERE'
    * WHERE …` split at the real condition. None when no unquoted WHERE. */
  private def splitSetWhere(rest: String): Option[(String, String)] = {
    var i = 0
    var sq = false
    var dq = false
    while (i < rest.length) {
      rest.charAt(i) match {
        case '\\' if sq || dq => i += 1 // skip the escaped character
        case '\'' if !dq => sq = !sq
        case '"' if !sq => dq = !dq
        case c if !sq && !dq && (c == 'w' || c == 'W') &&
            rest.regionMatches(true, i, "WHERE", 0, 5) &&
            i > 0 && Character.isWhitespace(rest.charAt(i - 1)) &&
            (i + 5 >= rest.length ||
              Character.isWhitespace(rest.charAt(i + 5))) =>
          val cond = rest.substring(math.min(i + 5, rest.length)).trim
          // A trailing WHERE with no condition is malformed — fall through
          // to the delegate's standard syntax error, don't half-parse.
          return if (cond.isEmpty) None
                 else Some((rest.take(i).trim, cond))
        case _ => ()
      }
      i += 1
    }
    None
  }

  /** DELETE/UPDATE are real Spark grammar too — only intercept statements
    * whose target is a committed table of the configured graft warehouse;
    * everything else falls through to the delegate untouched. The probe
    * must be failure-isolated: ANY trouble reaching the warehouse (bad
    * path, dead filesystem, missing log) means "not ours" — it must never
    * break parsing of unrelated Spark SQL DML. Cheap dir checks run before
    * the log fold so the common negative costs two existence probes. */
  private def isGraftTable(table: String): Boolean =
    session.conf.getOption("spark.graft.warehouse")
      .exists(isGraftTableIn(_, table))

  private def isGraftTableIn(wh: String, table: String): Boolean =
    try {
      val fs = new Path(wh)
        .getFileSystem(session.sparkContext.hadoopConfiguration)
      fs.exists(new Path(wh, "_snapshots")) &&
        fs.exists(new Path(wh, table)) &&
        Snapshots.snapshot(fs, wh).files(table).nonEmpty
    } catch { case scala.util.control.NonFatal(_) => false }
  private val VacuumRe =
    raw"(?is)\s*VACUUM\s+SNAPSHOTS\s*(?:IN\s+(\w+)\s*)?(?:RETAIN\s+(\d+)\s+VERSIONS\s*)?(?:MAX\s+AGE\s+(\d+)\s+HOURS\s*)?(DRY\s+RUN\s*)?".r
  // Delta-grammar MERGE (the most-used warehouse DML statement): target and
  // source are table names (graft tables or registered views), the WHEN
  // clauses are parsed separately below. Guarded by isGraftTable like
  // DELETE/UPDATE: another extension (or a v2 catalog) may own MERGE for
  // non-graft targets, and unsupported clause shapes against them must
  // reach the delegate, not throw here.
  private val MergeIntoRe =
    raw"(?is)\s*MERGE\s+INTO\s+([\w.]+)(?:\s+AS\s+(\w+))?\s+USING\s+([\w.]+)(?:\s+AS\s+(\w+))?\s+ON\s+(.+?)\s+(WHEN\s+.+?)\s*".r
  private val WhenMatchedUpdateAllRe =
    raw"(?is)WHEN\s+MATCHED\s+THEN\s+UPDATE\s+SET\s+\*".r
  private val WhenMatchedDeleteRe = raw"(?is)WHEN\s+MATCHED\s+THEN\s+DELETE".r
  private val WhenNotMatchedInsertAllRe =
    raw"(?is)WHEN\s+NOT\s+MATCHED\s+THEN\s+INSERT\s+\*".r
  // One ON-condition equality: [alias.]col = [alias.]col
  private val OnEqRe = raw"(?i)\s*(?:(\w+)\.)?(\w+)\s*=\s*(?:(\w+)\.)?(\w+)\s*".r
  // ALTER TABLE is real Spark grammar — intercept only committed graft
  // tables, like DELETE/UPDATE.
  // Delta's REORG TABLE … APPLY (PURGE): rewrite files to physically shed
  // columns dropped via the metadata-only mapping.
  private val ReorgRe =
    raw"(?is)\s*REORG\s+TABLE\s+([\w.]+)\s+APPLY\s*\(\s*PURGE\s*\)\s*".r
  private val RenameColRe =
    raw"(?is)\s*ALTER\s+TABLE\s+([\w.]+)\s+RENAME\s+COLUMN\s+(\w+)\s+TO\s+(\w+)\s*".r
  private val DropColRe =
    raw"(?is)\s*ALTER\s+TABLE\s+([\w.]+)\s+DROP\s+COLUMN\s+(\w+)\s*".r
  // Delta's `ALTER TABLE … DROP FEATURE f`: clear a protocol requirement
  // once nothing live depends on it ([[Snapshots.dropFeature]]).
  private val DropFeatureRe =
    raw"(?is)\s*ALTER\s+TABLE\s+([\w.]+)\s+DROP\s+FEATURE\s+(\w+)\s*".r
  // Delta's `ALTER TABLE … ALTER COLUMN c SYNC IDENTITY`: re-seed the
  // high-water mark from max(c) over live data (log stats, zero reads).
  private val SyncIdentityRe =
    raw"(?is)\s*ALTER\s+TABLE\s+([\w.]+)\s+ALTER\s+COLUMN\s+(\w+)\s+SYNC\s+IDENTITY\s*".r
  // ADD COLUMN is metadata-only under the mapping (the physical name is
  // assigned fresh; pre-add files read null) — type is accepted for
  // familiarity but additive evolution infers it from the first write.
  // Optional `DEFAULT <literal>`: pre-add rows read the literal instead
  // of null (the initial-default; one atomic metadata commit).
  private val AddColRe =
    raw"(?is)\s*ALTER\s+TABLE\s+([\w.]+)\s+ADD\s+COLUMN\s+(\w+)(?:\s+\w+(?:\([^)]*\))?)?(?:\s+DEFAULT\s+(.+?))?\s*".r
  // `GENERATED ALWAYS AS IDENTITY [(START WITH n)]` (Delta grammar):
  // engine-minted monotone ids via [[graft.ingest.Identity]].
  private val IdentityColRe =
    raw"(?is)\s*ALTER\s+TABLE\s+([\w.]+)\s+ADD\s+COLUMN\s+(\w+)(?:\s+\w+)?\s+GENERATED\s+ALWAYS\s+AS\s+IDENTITY(?:\s*\(\s*START\s+WITH\s+(\d+)\s*\))?\s*".r
  // `GENERATED ALWAYS AS (expr)` (Delta grammar): engine-materialized
  // deterministic expression columns via [[graft.ingest.Generated]] —
  // DML rewrites re-materialize, direct assignment is rejected.
  private val GeneratedColRe =
    raw"(?is)\s*ALTER\s+TABLE\s+([\w.]+)\s+ADD\s+COLUMN\s+(\w+)(?:\s+\w+(?:\([^)]*\))?)?\s+GENERATED\s+ALWAYS\s+AS\s*\((.+)\)\s*".r
  private val DescribeDetailRe =
    raw"(?is)\s*DESCRIBE\s+DETAIL\s+([\w.]+)\s*".r
  // Delta's TBLPROPERTIES family over the snapshot log's property META
  // lines ([[Snapshots.setProperties]]) — how SQL users configure bloom
  // columns and future writer knobs.
  // Named CHECK constraints (`ADD CONSTRAINT c CHECK (…)` / `DROP
  // CONSTRAINT c`) — sugar over the stats-verifiable constraint
  // properties, enforced at every commit point by TxnCommit.
  private val AddConstraintRe =
    raw"(?is)\s*ALTER\s+TABLE\s+([\w.]+)\s+ADD\s+CONSTRAINT\s+(\w+)\s+CHECK\s*\((.+)\)\s*".r
  private val DropConstraintRe =
    raw"(?is)\s*ALTER\s+TABLE\s+([\w.]+)\s+DROP\s+CONSTRAINT\s+(IF\s+EXISTS\s+)?(\w+)\s*".r
  private val SetPropsRe =
    raw"(?is)\s*ALTER\s+TABLE\s+([\w.]+)\s+SET\s+TBLPROPERTIES\s*\(\s*(.+?)\s*\)\s*".r
  private val UnsetPropsRe =
    raw"(?is)\s*ALTER\s+TABLE\s+([\w.]+)\s+UNSET\s+TBLPROPERTIES\s*\(\s*(.+?)\s*\)\s*".r
  private val ShowPropsRe =
    raw"(?is)\s*SHOW\s+TBLPROPERTIES\s+([\w.]+)\s*".r
  private val PropPairRe = raw"'([^']*)'\s*=\s*'([^']*)'".r
  private val PropKeyRe = raw"'([^']*)'".r

  /** TBLPROPERTIES statements additionally accept a table BEFORE its first
    * data commit (properties like `bloom.columns` must be set before the
    * first write to govern it) — but never hijack a registered catalog
    * table of the same name: these are real Spark grammar. */
  private def isGraftPropsTable(table: String): Boolean =
    isGraftTable(table) ||
      (session.conf.getOption("spark.graft.warehouse").isDefined &&
        !catalogQualified(table) &&
        !session.catalog.tableExists(table))

  /** Is this a multi-part name whose first segment names a REGISTERED
    * catalog? Such statements belong to that catalog's own resolution
    * (e.g. [[graft.sources.v2.GraftCatalog]]) — the regex surface must
    * never hijack them. */
  private def catalogQualified(table: String): Boolean = {
    val head = table.split("\\.")(0)
    table.contains(".") &&
      session.conf.getOption(s"spark.sql.catalog.$head").isDefined
  }

  private def warehouse: String =
    session.conf.getOption("spark.graft.warehouse").getOrElse(
      throw new IllegalStateException(
        "set spark.graft.warehouse to use SNAPSHOT/OPTIMIZE/VACUUM statements"))

  /** Resolve a graft-statement target that may be catalog-qualified:
    * `cat.t` where `cat` is a registered [[graft.sources.v2.GraftCatalog]]
    * resolves against THAT catalog's warehouse (so `OPTIMIZE graft.t`,
    * `RESTORE graft.t …`, `SNAPSHOT CHANGES OF graft.t` work for catalog
    * users without a separate spark.graft.warehouse); bare names use the
    * configured warehouse as before. Other multi-part names are returned
    * unresolved — their statements fall through to the delegate. */
  /** The warehouse of a registered GraftCatalog, if `cat` names one. */
  private def catalogWarehouse(cat: String): Option[String] =
    session.conf.getOption(s"spark.sql.catalog.$cat")
      .filter(_ == classOf[graft.sources.v2.GraftCatalog].getName)
      .flatMap(_ => session.conf
        .getOption(s"spark.sql.catalog.$cat.warehouse"))

  private def resolveTarget(name: String): (String, String) = {
    val parts = name.split("\\.")
    if (parts.length == 2 && session.conf
        .getOption(s"spark.sql.catalog.${parts(0)}")
        .contains(classOf[graft.sources.v2.GraftCatalog].getName))
      (session.conf.getOption(s"spark.sql.catalog.${parts(0)}.warehouse")
        .getOrElse(warehouse), parts(1))
    else (warehouse, name)
  }

  /** A null/empty comma-joined column list → Nil. */
  private def splitCols(list: String): Seq[String] =
    Option(list).toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)

  override def parsePlan(sqlText: String): LogicalPlan = sqlText match {
    case SnapshotRe(rawTable, version, ts) =>
      val (wh, table) = resolveTarget(rawTable)
      val asOf =
        if (version != null) Some(version.toLong)
        else if (ts != null)
          Some(Snapshots.versionAt(
            new Path(wh).getFileSystem(
              session.sparkContext.hadoopConfiguration),
            wh, java.sql.Timestamp.valueOf(ts).getTime).getOrElse(
            throw new IllegalStateException(
              s"no snapshot version existed at '$ts' under $wh")))
        else None
      Snapshots.read(session, wh, table, asOf).queryExecution.logical
    // Gated on the table actually RESOLVING as a graft table — a bare
    // warehouse conf must not hijack `DESCRIBE HISTORY` for Delta/parquet
    // tables living in the same session (those fall through to the
    // delegate parser's own handling).
    case DescHistoryRe(table, limit)
        if scala.util.Try(resolveTarget(table)).toOption
          .exists { case (w, t0) => isGraftTableIn(w, t0) } =>
      val (dhWh, dhT) = resolveTarget(table)
      val h = Snapshots.history(session, dhWh)
        .filter(org.apache.spark.sql.functions.array_contains(
          org.apache.spark.sql.functions.split(
            org.apache.spark.sql.functions.col("tables"), ","), dhT))
      // Optional LIMIT n (the Delta spelling): newest n commits.
      Option(limit).map(_.toInt).fold(h)(h.limit)
        .queryExecution.logical
    case HistoryRe(table, inCat) =>
      // Optional `OF t`: only the versions that touched that table
      // (catalog-qualified names resolve their catalog's warehouse);
      // optional `IN cat`: that GraftCatalog's whole warehouse.
      val (hWh, hT) =
        Option(table).map(resolveTarget).getOrElse(
          (Option(inCat).flatMap(catalogWarehouse).getOrElse(warehouse),
            null))
      val h = Snapshots.history(session, hWh)
      (if (hT == null) h
       else h.filter(org.apache.spark.sql.functions.array_contains(
         org.apache.spark.sql.functions.split(
           org.apache.spark.sql.functions.col("tables"), ","), hT)))
        .queryExecution.logical
    // FROM is exclusive (the last version the consumer saw), TO inclusive —
    // the same contract as the changes() API it maps onto.
    case ChangesRe(rawTable, from, to) =>
      val (chWh, table) = resolveTarget(rawTable)
      // Omitted FROM = the whole RETAINED feed ("the beginning" of a
      // vacuumed log is its earliest retained version — computed only on
      // this path, so FROM-ful statements pay no extra listing). An
      // EXPLICIT FROM passes through (below-retention values still fail
      // fast in changes() — silently clamping would hide vacuumed
      // versions from a consumer); negatives just normalize to -1.
      val fromV = Option(from).map(_.toLong.max(-1L)).getOrElse {
        Snapshots.entries(
            new Path(chWh).getFileSystem(
              session.sparkContext.hadoopConfiguration), chWh)
          .filterNot(_.isCheckpoint).headOption.map(_.version - 1)
          .getOrElse(-1L)
      }
      Snapshots.changes(session, chWh, table, fromV,
        Option(to).map(_.toLong)).queryExecution.logical
    case OptimizeRe(table, where, zcols) =>
      val partEq = Option(where).map { w =>
        w.split("(?i)\\s+AND\\s+").toSeq.map {
          case PartEqRe(k, v) => k -> v
          case other => throw new IllegalArgumentException(
            s"OPTIMIZE WHERE supports partition equalities (k='v' AND …); got: $other")
        }
      }.getOrElse(Nil)
      val (optWh, optTable) = resolveTarget(table)
      GraftOptimizeCommand(optWh, optTable,
        Option(zcols).map(_.split(",").map(_.trim).toSeq).getOrElse(Nil), partEq)
    case RestoreRe(table, version) =>
      val (rWh, rTable) = resolveTarget(table)
      GraftRestoreCommand(rWh, rTable, version.toLong)
    case RestoreTsRe(table, ts) =>
      val (rWh, rTable) = resolveTarget(table)
      val v = Snapshots.versionAt(
        new Path(rWh).getFileSystem(session.sparkContext.hadoopConfiguration),
        rWh, java.sql.Timestamp.valueOf(ts).getTime).getOrElse(
        throw new IllegalStateException(
          s"no snapshot version existed at '$ts' under $rWh"))
      GraftRestoreCommand(rWh, rTable, v)
    case CloneRe(src, dst, version) =>
      val (sWh, sT) = resolveTarget(src)
      val (dWh, dT) = resolveTarget(dst)
      require(sWh == dWh,
        "SNAPSHOT CLONE source and destination must share one warehouse")
      GraftCloneCommand(sWh, sT, dT, Option(version).map(_.toLong))
    case MergeIntoRe(target, tAlias, source, sAlias, onCond, whens)
        if isGraftTable(target) =>
      val matchedUpdate = WhenMatchedUpdateAllRe.findFirstIn(whens).isDefined
      val matchedDelete = WhenMatchedDeleteRe.findFirstIn(whens).isDefined
      val notMatchedInsert = WhenNotMatchedInsertAllRe.findFirstIn(whens).isDefined
      // Anything left after stripping the recognized clauses is a form this
      // surface doesn't lower (column-level SET, conditional clauses,
      // INSERT column lists) — fail loudly, never half-apply a MERGE.
      val residue = Seq(WhenMatchedUpdateAllRe, WhenMatchedDeleteRe,
          WhenNotMatchedInsertAllRe)
        .foldLeft(whens)((s, re) => re.replaceAllIn(s, " ")).trim
      require(residue.isEmpty,
        s"unsupported MERGE clause: '$residue' — this surface lowers " +
          "WHEN MATCHED THEN UPDATE SET * | WHEN MATCHED THEN DELETE | " +
          "WHEN NOT MATCHED THEN INSERT * (column-level updates: use the " +
          "graft.ingest.Merge API)")
      require(!(matchedUpdate && matchedDelete),
        "MERGE cannot have both an unconditional MATCHED UPDATE and a " +
          "MATCHED DELETE clause")
      val sideNames = Set(target, source) ++
        Option(tAlias).toSet ++ Option(sAlias).toSet
      val keyCols = onCond.split("(?i)\\s+AND\\s+").toSeq.map {
        case OnEqRe(q1, c1, q2, c2) =>
          require(c1.equalsIgnoreCase(c2),
            s"MERGE ON clause must equate same-named key columns " +
              s"(got $c1 = $c2) — Merge.upsert keys by shared names")
          Seq(Option(q1), Option(q2)).flatten.foreach(q =>
            require(sideNames.exists(_.equalsIgnoreCase(q)),
              s"unknown qualifier '$q' in MERGE ON clause"))
          c1
        case other => throw new IllegalArgumentException(
          s"MERGE ON supports AND-ed column equalities (t.k = s.k); got: $other")
      }
      GraftMergeCommand(warehouse, target, source, keyCols,
        matchedUpdate, matchedDelete, notMatchedInsert)
    case InsertOverwriteRe(table, colList, query) if isGraftTable(table) =>
      GraftInsertCommand(warehouse, table, query, overwrite = true,
        cols = splitCols(colList))
    case InsertIntoRe(table, colList, query) if isGraftTable(table) =>
      GraftInsertCommand(warehouse, table, query, overwrite = false,
        cols = splitCols(colList))
    // CTAS targets a table that does not exist yet, so the guard mirrors
    // isGraftPropsTable: the graft warehouse is configured and no catalog
    // table owns the name (a registered table's CTAS is real Spark
    // grammar and must reach the delegate).
    case CtasRe(ifNotExists, table, partCols, query)
        if session.conf.getOption("spark.graft.warehouse").isDefined &&
          !catalogQualified(table) &&
          !session.catalog.tableExists(table) =>
      GraftCtasCommand(warehouse, table, splitCols(partCols), query,
        ifNotExists != null)
    case DeleteRe(table, where) if isGraftTable(table) =>
      GraftDmlCommand(warehouse, table, where, Nil)
    case UpdateRe(table, rest)
        if splitSetWhere(rest).isDefined && isGraftTable(table) =>
      val (sets, where) = splitSetWhere(rest).get
      val assigns = splitAssignments(sets).map { a =>
        val Array(c, e) = a.split("=", 2)
        c.trim -> e.trim
      }
      GraftDmlCommand(warehouse, table, where, assigns)
    case ReorgRe(table) =>
      val (gWh, gTable) = resolveTarget(table)
      GraftOptimizeCommand(gWh, gTable, Nil, purgeDropped = true)
    case RenameColRe(table, from, to) if isGraftTable(table) =>
      GraftAlterColumnCommand(warehouse, table, from, Some(to))
    case DropColRe(table, name) if isGraftTable(table) =>
      GraftAlterColumnCommand(warehouse, table, name, None)
    // DROP FEATURE / SYNC IDENTITY are Delta-only grammar (no delegate
    // owns them) — unguarded like REORG, catalog-qualified names resolve
    // their warehouse.
    case DropFeatureRe(table, feature) =>
      val (gWh, gTable) = resolveTarget(table)
      GraftDropFeatureCommand(gWh, gTable, feature)
    case SyncIdentityRe(table, column) =>
      val (gWh, gTable) = resolveTarget(table)
      GraftSyncIdentityCommand(gWh, gTable, column)
    case IdentityColRe(table, name, start) if isGraftTable(table) =>
      GraftIdentityColumnCommand(warehouse, table, name,
        Option(start).map(_.toLong).getOrElse(1L))
    case GeneratedColRe(table, name, exprSql) if isGraftTable(table) =>
      GraftGeneratedColumnCommand(warehouse, table, name, exprSql.trim)
    case AddColRe(table, name, dflt) if isGraftTable(table) =>
      GraftAddColumnCommand(warehouse, table, name, Option(dflt))
    case DescribeDetailRe(rawTable)
        if scala.util.Try(resolveTarget(rawTable)).toOption
          .exists { case (w, t) => isGraftTableIn(w, t) } =>
      // A read, materialized at parse time like SHOW TBLPROPERTIES —
      // everything comes from one snapshot of the log (no footer opens, no
      // data), so every column of the row describes the same version.
      val (ddWh, table) = resolveTarget(rawTable)
      val fs = new Path(ddWh).getFileSystem(
        session.sparkContext.hadoopConfiguration)
      val snap = Snapshots.snapshot(fs, ddWh)
      val acts = snap.files(table)
      val stats = acts.map(a => graft.ingest.FileStats.decode(a.stats))
      val numRows = stats.map(_.map(_.rows).getOrElse(-1L))
      val props = snap.properties(table)
      // Sizes from the log's stats tokens; only pre-size-token files pay a
      // getFileStatus RPC.
      val bytes = acts.zip(stats).map { case (a, st) =>
        st.map(_.bytes).filter(_ >= 0).getOrElse(
          try fs.getFileStatus(new Path(a.file)).getLen
          catch { case scala.util.control.NonFatal(_) => 0L })
      }.sum
      import session.implicits._
      Seq((table, acts.size.toLong, bytes,
          if (numRows.exists(_ < 0)) -1L else numRows.sum,
          acts.count(_.dv.nonEmpty).toLong,
          snap.partitionLayout(table).mkString(","),
          props.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(","),
          // The protocol gate's required-feature set (Delta's
          // minReaderVersion/tableFeatures column): what a reader/writer
          // must support to open this table.
          snap.features(table).toSeq.sorted.mkString(","),
          // Identity allocation state (col=last-minted-id) — the mark the
          // next appendWithIdentity / sink epoch mints above, otherwise
          // invisible outside a SYNC IDENTITY run.
          graft.ingest.Identity.identityColumns(snap, table).map(c =>
            s"$c=${graft.ingest.Identity.highWaterMark(snap, table, c)
              .getOrElse(-1L)}").mkString(",")))
        .toDF("table", "num_files", "size_bytes", "num_rows",
          "files_with_deletion_vectors", "partition_columns", "properties",
          "table_features", "identity_high_water_marks")
        .queryExecution.logical
    case AddConstraintRe(table, name, check) if isGraftPropsTable(table) =>
      GraftAddConstraintCommand(warehouse, table, name, check.trim)
    case DropConstraintRe(table, ifExists, name) if isGraftPropsTable(table) =>
      GraftDropConstraintCommand(warehouse, table, name, ifExists != null)
    case SetPropsRe(table, pairs) if isGraftPropsTable(table) =>
      val kvs = PropPairRe.findAllMatchIn(pairs)
        .map(m => m.group(1) -> m.group(2)).toMap
      require(kvs.nonEmpty,
        s"SET TBLPROPERTIES expects ('k'='v'[, …]); got: ($pairs)")
      GraftSetPropertiesCommand(warehouse, table, kvs)
    case UnsetPropsRe(table, keys) if isGraftPropsTable(table) =>
      val ks = PropKeyRe.findAllMatchIn(keys).map(_.group(1)).toSeq
      require(ks.nonEmpty,
        s"UNSET TBLPROPERTIES expects ('k'[, …]); got: ($keys)")
      // setProperties removes empty-valued keys.
      GraftSetPropertiesCommand(warehouse, table, ks.map(_ -> "").toMap)
    case ShowPropsRe(table) if isGraftPropsTable(table) =>
      // A read, not a command — materialized at parse time like SNAPSHOT
      // HISTORY (driver-sized: a table has a handful of properties).
      val props = Snapshots.snapshot(session, warehouse).properties(table)
      import session.implicits._
      props.toSeq.sortBy(_._1).toDF("key", "value")
        .queryExecution.logical
    case VacuumRe(inCat, retain, maxAgeHours, dryRun) =>
      val whV = Option(inCat).flatMap(catalogWarehouse).getOrElse(warehouse)
      val keep = Option(retain).map(_.toInt).getOrElse(32)
      val ageMs = Option(maxAgeHours).map(_.toLong * 3600000L)
        .getOrElse(Snapshots.DefaultRetentionMs)
      if (dryRun != null) GraftVacuumDryRunCommand(whV, keep, ageMs)
      else GraftVacuumCommand(whV, keep, ageMs)
    case _ => delegate.parsePlan(sqlText)
  }

  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): DataType =
    delegate.parseDataType(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
}

/** `OPTIMIZE t [WHERE dt='…' [AND …]] [ZORDER BY (…)]` →
  * [[Compaction.compact]] / zorder. One clustering column degrades
  * gracefully to a sorted compaction (range clustering IS single-dimension
  * z-order); WHERE scopes the rewrite to matching partitions — the 100 TB
  * shape is compacting one day's `dt`, never the table. */
case class GraftOptimizeCommand(warehouse: String, table: String,
                                zorderBy: Seq[String],
                                partitionEq: Seq[(String, String)] = Nil,
                                purgeDropped: Boolean = false)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("files_before", IntegerType)(),
    AttributeReference("files_after", IntegerType)(),
    AttributeReference("bytes", LongType)())
  override def run(session: SparkSession): Seq[Row] = {
    val pf: Map[String, String] => Boolean =
      if (partitionEq.isEmpty) null
      else m => partitionEq.forall { case (k, v) => m.get(k).contains(v) }
    val res =
      if (zorderBy.size >= 2)
        Compaction.zorder(session, warehouse, table, zorderBy, partitionFilter = pf)
      else Compaction.compact(session, warehouse, table, sortBy = zorderBy,
        minInputFiles = if (zorderBy.nonEmpty) 1 else 2, partitionFilter = pf,
        purgeDropped = purgeDropped)
    Seq(res.map(r => Row(r.filesBefore, r.filesAfter, r.bytes))
      .getOrElse(Row(0, 0, 0L)))
  }
}

/** `ALTER TABLE t ADD CONSTRAINT c CHECK (…)` → the named-constraint
  * property `constraint.check.<c>`, enforced by [[graft.ingest.TxnCommit]]
  * at every later commit point (violating writes abort naming the
  * constraint, nothing becomes visible). The CHECK grammar is the
  * exactly-stats-decidable class — conjunctions of `col IS NOT NULL`,
  * `col >= n`, `col <= n`, `col BETWEEN n AND m`; anything else is
  * rejected HERE with the unsupported conjunct named. EXISTING data is
  * validated from the log's per-file stats tokens before the property
  * lands — Delta's add-constraint stance at zero data-pass cost. */
case class GraftAddConstraintCommand(warehouse: String, table: String,
                                     name: String, checkSql: String)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Nil
  override def run(session: SparkSession): Seq[Row] = {
    import graft.ingest.{FileStats, TxnCommit}
    val ck = TxnCommit.parseCheck(checkSql) // reject unsupported shapes now
    // The checks, the merged properties and the commit's OCC base: one
    // snapshot, so a property change landing after it aborts the commit.
    val snap = Snapshots.snapshot(session, warehouse)
    require(snap.properties(table)
        .getOrElse(s"constraint.check.$name", "").isEmpty,
      s"constraint '$name' already exists on '$table' — DROP CONSTRAINT " +
        "first")
    val who = (c: String, what: String) =>
      s"CHECK constraint '$name' of '$table' ($what on '$c')"
    val notNull = ck.notNull.map(c => c -> who(c, "NOT NULL"))
    val bounds = ck.bounds.map { case (c, lo, hi) =>
      (c, lo, hi, who(c, "bounds")) }
    snap.files(table).foreach { a =>
      val st = FileStats.decode(a.stats).getOrElse(
        throw new IllegalArgumentException(
          s"cannot add constraint '$name': live file ${a.file} has no " +
            "stats token — existing data is unverifiable"))
      TxnCommit.checkStats(st, a.file, notNull, bounds)
    }
    Snapshots.setProperties(snap, table,
      Map(s"constraint.check.$name" -> checkSql))
    Nil
  }
}

/** `ALTER TABLE t DROP CONSTRAINT [IF EXISTS] c` — unsets the named
  * property; dropping an absent constraint errors unless IF EXISTS (a
  * silent no-op would hide a typo'd name while the real constraint keeps
  * rejecting writes). */
case class GraftDropConstraintCommand(warehouse: String, table: String,
                                      name: String, ifExists: Boolean)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Nil
  override def run(session: SparkSession): Seq[Row] = {
    val snap = Snapshots.snapshot(session, warehouse)
    val key = s"constraint.check.$name"
    val exists = snap.properties(table).get(key).exists(_.nonEmpty)
    if (!exists) {
      if (ifExists) return Nil
      throw new IllegalArgumentException(
        s"no constraint '$name' on table '$table' — " +
          "use DROP CONSTRAINT IF EXISTS to no-op")
    }
    Snapshots.setProperties(snap, table, Map(key -> ""))
    Nil
  }
}

/** `ALTER TABLE t SET TBLPROPERTIES ('k'='v', …)` / `UNSET TBLPROPERTIES
  * ('k', …)` → [[Snapshots.setProperties]] — one metadata-only commit;
  * empty values unset. */
case class GraftSetPropertiesCommand(warehouse: String, table: String,
                                     updates: Map[String, String])
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Nil
  override def run(session: SparkSession): Seq[Row] = {
    val fs = new Path(warehouse)
      .getFileSystem(session.sparkContext.hadoopConfiguration)
    Snapshots.setProperties(fs, warehouse, table, updates)
    Nil
  }
}

/** `RESTORE t TO VERSION AS OF n` → [[Snapshots.restore]] (a new commit;
  * history stays intact and time-travel-able until vacuum). */
case class GraftRestoreCommand(warehouse: String, table: String,
                               version: Long) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("files_readded", IntegerType)(),
    AttributeReference("files_removed", IntegerType)())
  override def run(session: SparkSession): Seq[Row] = {
    val (a, r) = Snapshots.restore(session, warehouse, table, version)
    Seq(Row(a, r))
  }
}

/** `SNAPSHOT CLONE src TO dst [VERSION AS OF n]` →
  * [[graft.ingest.Snapshots.cloneTable]]: a zero-copy shallow clone of the
  * source's (as-of) live file list as a brand-new table. */
case class GraftCloneCommand(warehouse: String, src: String, dst: String,
                             asOf: Option[Long]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("clone_version", LongType)())
  override def run(session: SparkSession): Seq[Row] =
    Seq(Row(Snapshots.cloneTable(session, warehouse, src, dst, asOf)))
}

/** `DELETE FROM t WHERE …` / `UPDATE t SET … WHERE …` →
  * [[graft.ingest.Merge.deleteWhere]] / updateWhere (copy-on-write, CDF
  * recorded, stats-pruned candidates) — or the merge-on-read
  * deletion-vector twins when the session conf `graft.dml.mode` is `mor`
  * (Delta's `delta.enableDeletionVectors` analog: matched FILES are not
  * rewritten, a (file, pos) vector is committed instead; reads subtract
  * it, compaction purges it). Assignments/conditions are Spark SQL
  * expressions evaluated over the row's current columns. */
/** `INSERT INTO|OVERWRITE t <query>` → the native batch write path
  * (`format("graft-snapshots")`), with standard-SQL POSITIONAL column
  * mapping: the query's columns are renamed to the table's schema in
  * order (arity must match — a silent name-based partial insert would
  * corrupt positionally-written rows). A partitioned table keeps its
  * layout: the target's partition columns are re-derived from the log and
  * passed through, so an INSERT never mixes flat files into a Hive
  * layout. OVERWRITE is the atomic REMOVE+ADD single-version swap (OCC
  * aborts on a racing commit; time travel intact). */
case class GraftInsertCommand(warehouse: String, table: String,
                              querySql: String, overwrite: Boolean,
                              cols: Seq[String] = Nil)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Nil
  override def run(session: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.functions.{col => c, lit}
    val src = session.sql(querySql)
    // The table's schema and partition layout: one snapshot.
    val snap = Snapshots.snapshot(session, warehouse)
    val target = snap.read(session, table).schema
    val renamed = if (cols.isEmpty) {
      require(src.schema.length == target.length,
        s"INSERT arity mismatch: query produces ${src.schema.length} " +
          s"column(s), table '$table' has ${target.length} " +
          s"(${target.fieldNames.mkString(", ")})")
      src.toDF(target.fieldNames.toIndexedSeq: _*)
    } else {
      // Column-list form `INSERT INTO t (a, b) <query>`: the query's
      // columns map to the LISTED names by position; unlisted table
      // columns fill with typed nulls; output normalized to table order.
      require(src.schema.length == cols.length,
        s"INSERT arity mismatch: query produces ${src.schema.length} " +
          s"column(s), the column list names ${cols.length} " +
          s"(${cols.mkString(", ")})")
      cols.foreach(cn => require(target.fieldNames.contains(cn),
        s"unknown column '$cn' in INSERT column list — table '$table' " +
          s"has (${target.fieldNames.mkString(", ")})"))
      val named = src.toDF(cols.toIndexedSeq: _*)
      target.fields.foldLeft(named) { (df, f) =>
        if (cols.contains(f.name)) df
        else df.withColumn(f.name, lit(null).cast(f.dataType))
      }.select(target.fieldNames.map(c).toIndexedSeq: _*)
    }
    val partCols = snap.partitionLayout(table)
    val writer = renamed.write.format("graft-snapshots")
      .option("warehouse", warehouse).option("table", table)
      // graft.cdf.overwrite=true: INSERT OVERWRITE also stages a change
      // feed (delete pre-images + inserts) — see the batch writer's
      // changeFeed option.
      .option("changeFeed",
        session.conf.getOption("graft.cdf.overwrite").getOrElse("false"))
      .mode(if (overwrite) org.apache.spark.sql.SaveMode.Overwrite
            else org.apache.spark.sql.SaveMode.Append)
    (if (partCols.isEmpty) writer
     else writer.option("partitionBy", partCols.mkString(","))).save()
    Seq.empty
  }
}

/** `CREATE TABLE t [PARTITIONED BY (…)] AS <query>` → the native batch
  * write's create-on-first-write: one append commit lands the schema AND
  * the data (stats, blooms per table properties, partition tuples on the
  * ADD lines), exactly what the API caller gets from a first
  * `format("graft-snapshots")` write. `IF NOT EXISTS` no-ops on a
  * committed table; otherwise an existing table fails (this statement
  * CREATES — appends belong to INSERT INTO). */
case class GraftCtasCommand(warehouse: String, table: String,
                            partitionBy: Seq[String], querySql: String,
                            ifNotExists: Boolean) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Nil
  override def run(session: SparkSession): Seq[Row] = {
    val exists = Snapshots.snapshot(session, warehouse).files(table).nonEmpty
    if (exists && ifNotExists) return Seq.empty
    if (exists) throw new IllegalStateException(
      s"table '$table' already exists under $warehouse — use CREATE TABLE " +
        "IF NOT EXISTS to no-op, or INSERT INTO to append")
    val src = session.sql(querySql)
    partitionBy.foreach(c => require(src.columns.contains(c),
      s"PARTITIONED BY column '$c' is not in the query's output " +
        s"(${src.columns.mkString(", ")})"))
    val writer = src.write.format("graft-snapshots")
      .option("warehouse", warehouse).option("table", table)
      .mode(org.apache.spark.sql.SaveMode.ErrorIfExists)
    (if (partitionBy.isEmpty) writer
     else writer.option("partitionBy", partitionBy.mkString(","))).save()
    Seq.empty
  }
}

/** `scalarPlans`: uncorrelated scalar subqueries whose results splice in
  * for `__graft_scalar_i` markers in `where`/`assignments` at run time —
  * each is one tiny job (`limit(2)`, >1 row is the standard error), and
  * the value re-renders through `Literal.sql` so quoting/typing is
  * Catalyst's, not string concatenation. */
case class GraftDmlCommand(warehouse: String, table: String, where: String,
                           assignments: Seq[(String, String)],
                           scalarPlans: Seq[LogicalPlan] = Nil)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("files_rewritten", IntegerType)(),
    AttributeReference("rows_matched", LongType)())

  private def resolveScalars(session: SparkSession, s: String): String =
    scalarPlans.zipWithIndex.reverse.foldLeft(s) { case (acc, (p, i)) =>
      val marker = s"__graft_scalar_$i"
      if (!acc.contains(marker)) acc
      else {
        val df = org.apache.spark.sql.graftbridge.ColumnBridge.ofRows(session, p)
        val rows = df.limit(2).collect()
        require(rows.length <= 1,
          "scalar subquery in DML returned more than one row")
        val dt = df.schema.fields(0).dataType
        val v = if (rows.isEmpty || rows(0).isNullAt(0)) null
                else rows(0).get(0)
        val lit = org.apache.spark.sql.catalyst.expressions.Literal
          .create(v, dt).sql
        acc.replace(marker, lit)
      }
    }

  override def run(session: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.functions.expr
    // graft.dml.mode: cow (default) rewrites affected files; mor commits
    // deletion vectors only; auto routes per file — vectors below the
    // graft.dml.rewriteFraction budget (default 0.5), rewrite at/above it.
    val mode = session.conf.getOption("graft.dml.mode").getOrElse("cow")
    val fraction = mode match {
      case "mor"  => 1.0
      case "auto" => session.conf.getOption("graft.dml.rewriteFraction")
        .map(_.toDouble).getOrElse(0.5)
      case _      => 0.0
    }
    val where2 = resolveScalars(session, where)
    val asg = assignments.map { case (c, e) =>
      c -> expr(resolveScalars(session, e)) }.toMap
    val cow = mode != "mor" && mode != "auto" // unknown values fall back
    val res = (assignments.isEmpty, cow) match {
      case (true, true) =>
        graft.ingest.Merge.deleteWhere(session, warehouse, table, expr(where2))
      case (true, false) =>
        graft.ingest.Merge.deleteWhereDv(session, warehouse, table,
          expr(where2), fraction)
      case (false, true) =>
        graft.ingest.Merge.updateWhere(session, warehouse, table, expr(where2), asg)
      case (false, false) =>
        graft.ingest.Merge.updateWhereDv(session, warehouse, table,
          expr(where2), asg, fraction)
    }
    Seq(Row(res.filesRewritten, res.rowsMatched))
  }
}

/** `MERGE INTO t USING s ON t.k = s.k WHEN …` → the [[graft.ingest.Merge]]
  * engines. The four lowered shapes:
  *
  *   - `UPDATE SET *` + `INSERT *` → [[graft.ingest.Merge.upsert]] (the
  *     canonical upsert: matched rows replaced, the rest inserted);
  *   - `DELETE` alone → [[graft.ingest.Merge.deleteKeys]];
  *   - `UPDATE SET *` alone → upsert of the source semi-joined to the
  *     target's keys (unmatched source rows must NOT insert);
  *   - `INSERT *` alone → upsert of the source anti-joined to the
  *     target's keys (matched source rows must NOT update).
  *
  * The semi/anti prefilters read only the target's KEY COLUMNS (column
  * pruning reaches the scan), and the engine underneath still rewrites
  * only stats-surviving affected files. The source may be a committed
  * graft table or any registered Spark view/table. */
case class GraftMergeCommand(warehouse: String, table: String,
                             source: String, keyCols: Seq[String],
                             matchedUpdate: Boolean, matchedDelete: Boolean,
                             notMatchedInsert: Boolean,
                             sourcePlan: Option[LogicalPlan] = None)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("files_rewritten", IntegerType)(),
    AttributeReference("files_added", IntegerType)(),
    AttributeReference("rows_matched", LongType)())
  override def run(session: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.functions.col
    import graft.ingest.Merge
    // The source and the target's keys are read at one snapshot.
    val snap = Snapshots.snapshot(session, warehouse)
    val src = sourcePlan match {
      // Catalog MERGE hands the analyzed source plan directly.
      case Some(p) =>
        org.apache.spark.sql.graftbridge.ColumnBridge.ofRows(session, p)
      case None =>
        if (snap.files(source).nonEmpty) snap.read(session, source)
        else session.table(source)
    }
    def targetKeys =
      snap.read(session, table).select(keyCols.map(col): _*).distinct()
    val res = (matchedUpdate, matchedDelete, notMatchedInsert) match {
      case (true, false, true) =>
        Merge.upsert(session, warehouse, table, src, keyCols)
      case (false, true, false) =>
        Merge.deleteKeys(session, warehouse, table,
          src.select(keyCols.map(col): _*), keyCols)
      case (true, false, false) =>
        Merge.upsert(session, warehouse, table,
          src.join(targetKeys, keyCols, "left_semi"), keyCols)
      case (false, false, true) =>
        Merge.upsert(session, warehouse, table,
          src.join(targetKeys, keyCols, "left_anti"), keyCols)
      case _ => throw new IllegalArgumentException(
        "MERGE needs WHEN MATCHED THEN UPDATE SET * / DELETE and/or " +
          "WHEN NOT MATCHED THEN INSERT *")
    }
    Seq(Row(res.filesRewritten, res.filesAdded, res.rowsMatched))
  }
}

/** `ALTER TABLE t RENAME COLUMN a TO b` / `ALTER TABLE t DROP COLUMN a` →
  * [[graft.ingest.SchemaEvolution]]: a metadata-only commit through the
  * column mapping — zero files rewritten at any table size. */
case class GraftAlterColumnCommand(warehouse: String, table: String,
                                   column: String, renameTo: Option[String])
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Nil
  override def run(session: SparkSession): Seq[Row] = {
    renameTo match {
      case Some(to) =>
        graft.ingest.SchemaEvolution.renameColumn(session, warehouse, table, column, to)
      case None =>
        graft.ingest.SchemaEvolution.dropColumn(session, warehouse, table, column)
    }
    Nil
  }
}

/** `ALTER TABLE t ADD COLUMN c [type] [DEFAULT lit]` →
  * [[graft.ingest.SchemaEvolution.addColumn]]: one metadata commit; the
  * assigned physical name is returned (fresh — a previously-dropped name
  * is never reused). With DEFAULT, pre-add rows read the literal instead
  * of null (initial-default semantics; the property rides the same
  * commit). */
case class GraftAddColumnCommand(warehouse: String, table: String,
                                 column: String,
                                 default: Option[String] = None)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("physical_name", StringType)())
  override def run(session: SparkSession): Seq[Row] = Seq(Row(
    graft.ingest.SchemaEvolution.addColumn(session, warehouse, table, column,
      default)))
}

/** `ALTER TABLE t ADD COLUMN c [type] GENERATED ALWAYS AS IDENTITY
  * [(START WITH n)]` → [[graft.ingest.Identity.declare]]. */
case class GraftIdentityColumnCommand(warehouse: String, table: String,
                                      column: String, start: Long)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("column", StringType)())
  override def run(session: SparkSession): Seq[Row] = {
    graft.ingest.Identity.declare(session, warehouse, table, column, start)
    Seq(Row(column))
  }
}

/** `ALTER TABLE t ADD COLUMN c [type] GENERATED ALWAYS AS (expr)` →
  * [[graft.ingest.Generated.declare]]. */
case class GraftGeneratedColumnCommand(warehouse: String, table: String,
                                       column: String, exprSql: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("column", StringType)())
  override def run(session: SparkSession): Seq[Row] = {
    graft.ingest.Generated.declare(session, warehouse, table, column, exprSql)
    Seq(Row(column))
  }
}

/** `ALTER TABLE t DROP FEATURE f` → [[Snapshots.dropFeature]]: clears a
  * protocol requirement (refusing while live state still depends on it),
  * so older builds regain access to a table that stopped using the
  * feature. */
case class GraftDropFeatureCommand(warehouse: String, table: String,
                                   feature: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("feature", StringType)())
  override def run(session: SparkSession): Seq[Row] = {
    val fs = new Path(warehouse)
      .getFileSystem(session.sparkContext.hadoopConfiguration)
    Snapshots.dropFeature(fs, warehouse, table, feature)
    Seq(Row(feature))
  }
}

/** `ALTER TABLE t ALTER COLUMN c SYNC IDENTITY` →
  * [[graft.ingest.Identity.syncIdentity]]: returns the mark after the
  * sync (the last id considered minted). */
case class GraftSyncIdentityCommand(warehouse: String, table: String,
                                    column: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("high_water_mark", LongType)())
  override def run(session: SparkSession): Seq[Row] = {
    val fs = new Path(warehouse)
      .getFileSystem(session.sparkContext.hadoopConfiguration)
    Seq(Row(graft.ingest.Identity.syncIdentity(fs, warehouse, table, column)))
  }
}

/** `VACUUM SNAPSHOTS [RETAIN n VERSIONS] [MAX AGE h HOURS]` →
  * [[Snapshots.vacuum]]. The retention default matches the API's 7 days —
  * an explicit MAX AGE 0 HOURS is required for immediate reclaim. */
case class GraftVacuumCommand(warehouse: String, keepVersions: Int,
                              minAgeMs: Long) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("entries_removed", IntegerType)(),
    AttributeReference("files_deleted", LongType)(),
    AttributeReference("bytes_deleted", LongType)())
  override def run(session: SparkSession): Seq[Row] = {
    // Distributed executor: the sweep and delete run as Spark jobs, not a
    // driver listStatus loop — the only shape that finishes at 100 TB.
    val st = Snapshots.vacuumStats(session, warehouse, keepVersions,
      minAgeMs, dryRun = false)
    Seq(Row(st.entriesRemoved, st.filesDeleted, st.bytesDeleted))
  }
}

/** `VACUUM SNAPSHOTS … DRY RUN` → the exact reap set, one row per file
  * with its byte size, deleting and writing NOTHING (Delta's dry-run
  * semantics). At 100 TB vacuum is the most dangerous statement in the
  * surface — this is its preview. */
case class GraftVacuumDryRunCommand(warehouse: String, keepVersions: Int,
                                    minAgeMs: Long)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("file", StringType)(),
    AttributeReference("bytes", LongType)())
  override def run(session: SparkSession): Seq[Row] = {
    val st = Snapshots.vacuumStats(session, warehouse, keepVersions,
      minAgeMs, dryRun = true)
    st.files.map { case (f, sz) => Row(f, sz) }
  }
}
