package graft.ingest

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr

/** Expression-GENERATED columns (the Delta `GENERATED ALWAYS AS (expr)`
  * analog, completing SURVEY's surrogate-key family next to
  * [[Identity]]): the column's value is a deterministic expression over
  * the OTHER columns of the same row, materialized by the engine at
  * write time and RE-materialized by every DML rewrite, so the stored
  * value can never drift from the expression.
  *
  * Mechanics:
  *  - [[declare]] records `generated.<col>` (payload: the expression
  *    SQL) as a table property and stamps the `w:generatedColumns`
  *    WRITER feature — readers serve plain stored values; a writer
  *    unaware of the property would land rows violating the invariant,
  *    so unaware builds are refused at the protocol gate. Declared
  *    BEFORE the column's first data (the [[Identity]] stance — a
  *    retrofit would leave pre-declaration rows unverified).
  *  - [[appendGenerated]] is the blessed append: the caller's frame must
  *    NOT carry the column (GENERATED ALWAYS — user-supplied values are
  *    an error, the Delta semantics); the engine materializes each
  *    declared expression and commits. `commitId` makes it exactly-once
  *    under replays like every replay-keyed path.
  *  - DML rewrites RE-materialize: [[Merge]]'s shared staging hooks call
  *    [[materialize]] on every rewritten/postimage frame, so an UPDATE
  *    of a base column recomputes the generated value in the same
  *    commit. Recomputation is idempotent on untouched rows (stored ≡
  *    expression already holds), which is what lets ONE hook at the
  *    staging funnel cover every DML path. Direct assignments TO a
  *    generated column are rejected (as are identity columns).
  *  - Raw appends lacking the column are refused at the TxnCommit gate
  *    (same presence gate as identity): a file without it would read
  *    null values. A raw append SUPPLYING the column is the writer's
  *    responsibility (the identity contract) — route through
  *    [[appendGenerated]] to stay engine-verified.
  */
object Generated {

  /** Declared generated columns of `table` as (column, expressionSql),
    * property-driven. */
  def generatedColumns(snap: Snapshot, table: String): Seq[(String, String)] =
    snap.properties(table).toSeq
      .collect { case (k, v) if k.startsWith("generated.") =>
        k.stripPrefix("generated.") -> v }
      .sortBy(_._1)

  /** Generated columns whose expressions REFERENCE `col` — the rename /
    * drop DDL refuses to touch such a base column (the stored expression
    * text would dangle and every later materialization would fail). */
  def referencedBy(snap: Snapshot, table: String, col: String): Seq[String] =
    generatedColumns(snap, table).collect {
      case (g, e) if {
        val refs =
          try org.apache.spark.sql.catalyst.parser.CatalystSqlParser
            .parseExpression(e).collect {
              case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
                a.name
            }
          catch { case _: Exception => Nil }
        refs.contains(col)
      } => g
    }

  /** Functions Catalyst calls "deterministic" but that change BETWEEN
    * queries — a rewrite recomputing them would silently change rows it
    * merely carried (Delta bans the same set in generation expressions). */
  private val ContextDependent = Set(
    "current_timestamp", "now", "current_date", "localtimestamp",
    "curdate", "current_timezone", "current_database", "current_schema",
    "current_catalog", "current_user", "session_user", "user",
    "input_file_name", "input_file_block_start", "input_file_block_length",
    "spark_partition_id", "version", "java_method", "reflect")

  /** Validate an expression for generation: parses, deterministic, not
    * context-dependent, no subquery, and references no generated/identity
    * column (generation must be a function of STORED base columns only —
    * chains would make rewrite re-materialization order-dependent). */
  private def validate(snap: Snapshot, table: String, column: String,
                       exprSql: String): Unit = {
    val parsed =
      try org.apache.spark.sql.catalyst.parser.CatalystSqlParser
        .parseExpression(exprSql)
      catch {
        case e: Exception => throw new IllegalArgumentException(
          s"generated column '$column': cannot parse expression " +
            s"'$exprSql' — ${e.getMessage}")
      }
    require(!parsed.exists(
        _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.PlanExpression[_]]),
      s"generated column '$column': subqueries are not allowed in a " +
        "generation expression")
    val banned = (generatedColumns(snap, table).map(_._1) ++
      Identity.identityColumns(snap, table) :+ column).toSet
    parsed.foreach {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        require(!banned.contains(a.name),
          s"generated column '$column': expression references " +
            s"'${a.name}', which is itself generated — generation " +
            "expressions may reference stored base columns only")
      case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction =>
        val n = f.nameParts.last.toLowerCase(java.util.Locale.ROOT)
        require(!ContextDependent.contains(n),
          s"generated column '$column': $n() changes between queries — " +
            "a rewrite recomputing it would silently change carried " +
            "rows; generation must be a pure function of the row")
      case _ => ()
    }
  }

  /** Semantic validation: resolve the expression against the table's
    * schema (when the table already has one — a declared-only table
    * defers to the first materialization) and require determinism of
    * the RESOLVED tree; an unresolved `rand()` would claim determinism. */
  private def validateResolved(spark: SparkSession, snap: Snapshot,
                               table: String, column: String,
                               exprSql: String,
                               schemaHint: Option[org.apache.spark.sql.types.StructType])
      : Unit = {
    val probe =
      try Some(snap.read(spark, table).limit(0))
      catch {
        case _: Exception => // declared-only table: resolve on the hint
          schemaHint.map(sc => spark.createDataFrame(
            new java.util.ArrayList[org.apache.spark.sql.Row](), sc))
      }
    probe.foreach { p =>
      val analyzed =
        try p.select(expr(exprSql).as(column)).queryExecution.analyzed
        catch {
          case e: org.apache.spark.sql.AnalysisException =>
            throw new IllegalArgumentException(
              s"generated column '$column': expression '$exprSql' does " +
                s"not resolve against '$table' — ${e.getMessage}")
        }
      require(analyzed.expressions.forall(_.deterministic),
        s"generated column '$column': expression '$exprSql' is " +
          "non-deterministic — rewrites re-materialize it, so it must " +
          "be a pure function of the row")
      // Context-dependent functions resolve as "deterministic" (per-query
      // constants) — catch them on the RESOLVED tree too (the syntactic
      // pass misses SQL aliases that resolve to one).
      analyzed.expressions.foreach(_.foreach { e =>
        require(!ContextDependent.contains(
            e.prettyName.toLowerCase(java.util.Locale.ROOT)),
          s"generated column '$column': ${e.prettyName}() changes " +
            "between queries — a rewrite recomputing it would silently " +
            "change carried rows")
      })
    }
  }

  /** Declare `column` GENERATED ALWAYS AS (`exprSql`). One metadata
    * commit: property + writer feature. Every check and the OCC base come
    * from one snapshot, so a commit landing after the checks aborts the
    * declaration. */
  def declare(spark: SparkSession, warehouse: String, table: String,
              column: String, exprSql: String,
              schemaHint: Option[org.apache.spark.sql.types.StructType] = None)
      : Unit = {
    val snap = Snapshots.snapshot(spark, warehouse)
    validate(snap, table, column, exprSql)
    validateResolved(spark, snap, table, column, exprSql, schemaHint)
    require(!snap.files(table).exists(a =>
        FileStats.schemaTags(a.stats).exists(_._1 == column)),
      s"column '$column' already carries data in '$table' — generation " +
        "is declared before the column's first write, not retrofitted")
    require(!snap.properties(table).contains(s"default.$column"),
      s"column '$column' already carries a DEFAULT — a column is " +
        "defaulted or generated, not both")
    require(snap.columnMapping(table)
        .forall(m => m.physicalFor(column) == column),
      s"generated column '$column' must be unmapped (no rename history)")
    Snapshots.append(snap.fs, warehouse, "generated" +
        java.util.UUID.randomUUID().toString.replace("-", ""),
      adds = Nil, removes = Nil, op = "generated", baseVersion = snap.version,
      metas = Seq(Snapshots.propsMetaEntry(snap, table,
        Map(s"generated.$column" -> exprSql))),
      features = Seq(table -> "w:generatedColumns"))
  }

  /** Re-materialize every declared generated column PRESENT in `df`
    * (rewrite frames carry them; extra columns like `_change_type` pass
    * through). Idempotent on rows whose base columns are unchanged. */
  def materialize(snap: Snapshot, table: String, df: DataFrame): DataFrame =
    generatedColumns(snap, table).foldLeft(df) { case (d, (c, e)) =>
      if (!d.columns.contains(c)) d
      else d.withColumn(c, expr(e).cast(d.schema(c).dataType))
    }

  /** Append `df` materializing the table's generated column(s). `df`
    * must NOT contain them. Returns rows appended (0 for a recognized
    * `commitId` replay). */
  def appendGenerated(spark: SparkSession, warehouse: String,
                      table: String, df: DataFrame,
                      commitId: Option[String] = None): Long = {
    val fs = new Path(warehouse)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val snap = Snapshots.snapshot(fs, warehouse)
    val gens = generatedColumns(snap, table)
    require(gens.nonEmpty,
      s"table '$table' has no declared generated column ([[declare]])")
    require(Identity.identityColumns(snap, table).isEmpty,
      s"table '$table' also declares IDENTITY columns — route through " +
        "Identity.appendWithIdentity, which mints ids AND materializes " +
        "the generated expressions")
    gens.foreach { case (c, _) => require(!df.columns.contains(c),
      s"GENERATED ALWAYS: the write must not supply generated column '$c'") }
    val cid = commitId.getOrElse(java.util.UUID.randomUUID().toString)
    TxnCommit.recover(fs, warehouse)
    if (commitId.isDefined &&
        (Snapshots.entries(fs, warehouse).exists(_.commitId == cid) ||
          Snapshots.txnApplied(fs, warehouse, cid)))
      return 0L
    val stagingId =
      if (commitId.isEmpty) cid
      else s"$cid-a-${java.util.UUID.randomUUID().toString}"
    val staging = s"${TxnCommit.stagingDir(warehouse, stagingId)}/$table"
    val withGen = gens.foldLeft(df) { case (d, (c, e)) =>
      d.withColumn(c, expr(e)) }
    // Honor the table's partition layout (live files' specs, else its
    // catalog declaration) — a generated PARTITION column routes by the
    // just-materialized value and keeps its pruning.
    val partCols = snap.partitionLayout(table)
    val writer = withGen.write
      .options(Snapshots.bloomOptions(snap.properties(table), None))
    (if (partCols.isEmpty) writer else writer.partitionBy(partCols: _*))
      .parquet(staging)
    val moves = TxnCommit.movesFor(fs, warehouse, stagingId, table)
    if (moves.isEmpty) {
      fs.delete(new Path(TxnCommit.stagingDir(warehouse, stagingId)), true)
      return 0L
    }
    val rows = moves.flatMap(m =>
      FileStats.decode(FileStats.collect(fs.getConf, new Path(m.src))))
      .map(_.rows).sum
    TxnCommit.commit(fs, warehouse, cid, moves, txnId = commitId)
    TxnCommit.publish(fs, warehouse, cid, moves, txnId = commitId)
    fs.delete(new Path(TxnCommit.stagingDir(warehouse, stagingId)), true)
    rows
  }
}
