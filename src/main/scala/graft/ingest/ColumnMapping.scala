package graft.ingest

import java.net.{URLDecoder, URLEncoder}
import java.nio.charset.StandardCharsets
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

/** Delta-style column mapping: non-additive schema evolution (RENAME /
  * DROP COLUMN) as a metadata-only commit, no data rewrite.
  *
  * The log's META line carries, per table, the ordered logical schema with
  * each column's stable PHYSICAL name — the name actually stored in the
  * parquet files. RENAME changes only the logical side of one pair; DROP
  * removes the pair and tombstones the physical name. Readers resolve
  * physical→logical through the latest mapping visible at their pinned
  * version (time travel below the rename sees the old names — the mapping
  * folds like any other log state), and rewrite paths ([[Merge]]) operate
  * on the logical view then restore physical names before staging, so a
  * table's files keep ONE physical schema across any number of renames.
  *
  * Constraint (documented, enforced): a dropped column's physical name is
  * never reused — re-adding the same logical name would resurrect old
  * files' bytes under the new column. Partition columns cannot be renamed
  * or dropped (their physical names are directory structure).
  */
case class ColumnMapping(cols: Seq[(String, String)],
                         droppedPhysical: Seq[String]) {

  def logicalNames: Seq[String] = cols.map(_._1)
  private lazy val toPhys: Map[String, String] = cols.toMap

  /** The physical name behind a logical column (identity for unmapped
    * names — partition columns and feed metadata pass through). */
  def physicalFor(logical: String): String = toPhys.getOrElse(logical, logical)

  /** Resolve a physical-schema frame to the logical view: mapped columns
    * renamed into mapping order, unmapped data columns (dropped, or
    * physical residue in old files) projected away. `passthrough` columns
    * (e.g. `_change_type`) survive unmapped, in their original order after
    * the mapped ones. A mapped column missing from `df` entirely (possible
    * only mid-additive-evolution without mergeSchema) reads as null. */
  def applyTo(df: DataFrame, passthrough: Seq[String] = Nil): DataFrame = {
    val present = df.columns.toSet
    val mapped = cols.map { case (logical, physical) =>
      if (present(physical)) col(physical).as(logical)
      else lit(null).as(logical)
    }
    val extra = df.columns.filter(passthrough.contains(_)).map(col(_))
    df.select(mapped ++ extra: _*)
  }

  /** Inverse resolution for rewrite staging: a logical-view frame back to
    * physical column names, so rewritten files keep the table's one
    * physical schema. Non-mapped columns pass through unchanged. */
  def toPhysicalDf(df: DataFrame): DataFrame =
    df.select(df.columns.toIndexedSeq.map(c =>
      toPhys.get(c).map(p => col(c).as(p)).getOrElse(col(c))): _*)

  /** Physical→logical key rename on a decoded stats token, so log-side
    * data skipping keeps working against predicates written in logical
    * names. Stats of dropped/unmapped physical columns are discarded —
    * null counts and bloom bitsets ride the rename with the [min,max]
    * (leaving them physical-keyed would be sound but unpruned: every
    * logical-name lookup would miss and keep the file). */
  def statsToLogical(stats: Option[FileStats.Stats]): Option[FileStats.Stats] = {
    val toLogical = cols.map { case (l, p) => p -> l }.toMap
    def rekey[V](m: Map[String, V]): Map[String, V] =
      m.flatMap { case (p, v) => toLogical.get(p).map(_ -> v) }
    stats.map(s => s.copy(cols = rekey(s.cols), nulls = rekey(s.nulls),
      blooms = rekey(s.blooms), dicts = rekey(s.dicts),
      bloomRefs = rekey(s.bloomRefs)))
  }

  def encode: String = {
    def e(s: String) = URLEncoder.encode(s, StandardCharsets.UTF_8)
    val pairs = cols.map { case (l, p) => s"${e(l)}=${e(p)}" }.mkString(",")
    s"v1;$pairs;${droppedPhysical.map(e).mkString(",")}"
  }
}

object ColumnMapping {

  def decode(payload: String): ColumnMapping = {
    def d(s: String) = URLDecoder.decode(s, StandardCharsets.UTF_8)
    payload.split(";", -1) match {
      case Array("v1", pairs, dropped) =>
        ColumnMapping(
          pairs.split(",").toSeq.filter(_.nonEmpty).map { kv =>
            val Array(l, p) = kv.split("=", 2); (d(l), d(p))
          },
          dropped.split(",").toSeq.filter(_.nonEmpty).map(d))
      case _ => throw new IllegalArgumentException(
        s"unrecognized column-mapping payload: $payload")
    }
  }

  /** The identity mapping over a table's current physical schema — the
    * starting point for the first rename/drop. */
  def identity(physicalSchema: Seq[String]): ColumnMapping =
    ColumnMapping(physicalSchema.map(n => (n, n)), Nil)
}

/** ALTER TABLE surface for the snapshot log: RENAME COLUMN and DROP COLUMN
  * as metadata-only commits via [[ColumnMapping]]. ADD COLUMN needs no
  * statement — appends with the extra column are served by
  * `read(mergeSchema = true)` (additive evolution). */
object SchemaEvolution {

  /** Mapping of `table` at `snap`, or the identity mapping over its
    * physical schema when none was ever committed. */
  private def mappingOrIdentity(spark: SparkSession, snap: Snapshot,
                                table: String): ColumnMapping =
    snap.columnMapping(table).getOrElse {
      // With mergeSchema: on an additively-evolved table of untagged files
      // a sampled footer could miss a late column, which a mapping built
      // without it would project away on every later read.
      ColumnMapping.identity(
        snap.schema(spark, table, mergeSchema = true).fieldNames.toSeq)
    }

  /** RENAME COLUMN `from` → `to`: one metadata commit, zero files touched.
    * Fails if `from` doesn't exist, `to` is taken, or `from` is a
    * partition column. The checks and the OCC base come from one
    * snapshot (as for [[addColumn]] and [[dropColumn]]). */
  def renameColumn(spark: SparkSession, warehouse: String, table: String,
                   from: String, to: String): Unit = {
    val snap = Snapshots.snapshot(spark, warehouse)
    val m = mappingOrIdentity(spark, snap, table)
    require(m.logicalNames.contains(from), s"no column '$from' in $table " +
      s"(has: ${m.logicalNames.mkString(", ")})")
    require(!m.logicalNames.contains(to), s"column '$to' already exists in $table")
    requireNotPartition(snap, table, from, "rename")
    requireNotEngineManaged(snap, table, from, "rename")
    commitMeta(snap, table, "rename_column",
      m.copy(cols = m.cols.map { case (l, p) =>
        if (l == from) (to, p) else (l, p) }))
  }

  /** ADD COLUMN under the mapping: assigns the new logical name a physical
    * name that has never carried data — the plain name when fresh, a
    * version-suffixed one when the name was previously dropped (reusing a
    * tombstoned physical name would resurrect old files' bytes under the
    * new column). Writers stage the PHYSICAL name; readers see nulls for
    * pre-add files (additive semantics, `mergeSchema` for mixed eras).
    * Tables with no mapping don't need this — plain additive evolution
    * already covers them. */
  /** `default` (a SQL literal, e.g. `Some("'legacy'")` or `Some("42")`) is
    * the column's INITIAL DEFAULT: rows of files written before the column
    * existed read it instead of null ([[Snapshot.defaults]] — the
    * Iceberg initial-default analog). It lands as the `default.<name>`
    * table property in the SAME log entry as the mapping, so a crash can
    * never leave the column without its default. */
  def addColumn(spark: SparkSession, warehouse: String, table: String,
                name: String, default: Option[String] = None): String = {
    // Defaults must be PLAIN literals: the per-file DSv2 reader serves
    // them as parsed constants, so an expression (function call, cast,
    // column ref) would silently diverge between read paths — reject at
    // declaration, not at first read. Store the parsed Literal's
    // CANONICAL sql (when it round-trips to an equal plain literal), so
    // every read path sees one normalized spelling: a double-quoted
    // "legacy" lands as 'legacy', escapes are resolved by the real
    // parser once, here, not re-guessed per reader.
    val storedDefault = default.map { d =>
      val e =
        try org.apache.spark.sql.catalyst.parser.CatalystSqlParser
          .parseExpression(d)
        catch { case scala.util.control.NonFatal(ex) =>
          throw new IllegalArgumentException(
            s"unparseable DEFAULT '$d' for column '$name'", ex)
        }
      require(e.isInstanceOf[org.apache.spark.sql.catalyst.expressions.Literal],
        s"DEFAULT for column '$name' must be a plain literal " +
          s"(number, 'string', true/false), got '$d'")
      val canonical = e.sql
      val roundTrips =
        try org.apache.spark.sql.catalyst.parser.CatalystSqlParser
          .parseExpression(canonical) == e
        catch { case scala.util.control.NonFatal(_) => false }
      if (roundTrips) canonical else d
    }
    val snap = Snapshots.snapshot(spark, warehouse)
    val m = mappingOrIdentity(spark, snap, table)
    require(!m.logicalNames.contains(name), s"column '$name' already exists in $table")
    val taken = (m.cols.map(_._2) ++ m.droppedPhysical).toSet
    val phys =
      if (!taken(name)) name
      else Iterator.from(snap.version.getOrElse(0L).toInt + 1)
        .map(v => s"${name}_v$v").find(!taken(_)).get
    commitMeta(snap, table, "add_column",
      m.copy(cols = m.cols :+ (name, phys)),
      extraMetas = storedDefault.map(d => Snapshots.propsMetaEntry(
        snap, table, Map(s"default.$name" -> d))).toSeq)
    phys
  }

  /** DROP COLUMN: one metadata commit, zero files touched; the physical
    * name is tombstoned so it can never be re-added directly (old files
    * still carry its bytes and would resurrect under a reused name) —
    * [[addColumn]] re-adds the logical name under a FRESH physical name.
    * Time travel below the drop still serves the column. */
  def dropColumn(spark: SparkSession, warehouse: String, table: String,
                 name: String): Unit = {
    val snap = Snapshots.snapshot(spark, warehouse)
    val m = mappingOrIdentity(spark, snap, table)
    require(m.logicalNames.contains(name), s"no column '$name' in $table")
    require(m.cols.size > 1, s"cannot drop the last column of $table")
    requireNotPartition(snap, table, name, "drop")
    // Dropping a GENERATED column is legal — its declaration clears in
    // the SAME commit (a crash can never leave a declared-but-absent
    // column). Identity and generation-referenced base columns refuse.
    require(!Identity.identityColumns(snap, table).contains(name),
      s"cannot drop IDENTITY column '$name' — its high-water mark is " +
        "keyed by name")
    val refs = Generated.referencedBy(snap, table, name)
    require(refs.isEmpty,
      s"cannot drop column '$name' — generated column(s) " +
        s"${refs.mkString(", ")} reference it by name in their expressions")
    val clearGen =
      if (Generated.generatedColumns(snap, table).exists(_._1 == name))
        Seq(Snapshots.propsMetaEntry(snap, table,
          Map(s"generated.$name" -> "")))
      else Nil
    val phys = m.cols.find(_._1 == name).get._2
    commitMeta(snap, table, "drop_column",
      ColumnMapping(m.cols.filterNot(_._1 == name),
        m.droppedPhysical :+ phys), extraMetas = clearGen)
  }

  /** Engine-managed column DDL guards: a generated/identity column's
    * declaration is keyed by NAME (property + high-water META), and a
    * generation expression references base columns by NAME — renaming or
    * dropping either side would dangle the declaration and fail (or
    * corrupt) every later materialization. Crisp refusal instead. */
  private def requireNotEngineManaged(snap: Snapshot, table: String,
                                      name: String, verb: String): Unit = {
    require(!Generated.generatedColumns(snap, table).exists(_._1 == name),
      s"cannot $verb GENERATED column '$name' — its declaration is keyed " +
        "by name; DROP COLUMN (which clears the declaration) and " +
        "re-declare instead")
    require(!Identity.identityColumns(snap, table).contains(name),
      s"cannot $verb IDENTITY column '$name' — its high-water mark is " +
        "keyed by name")
    val refs = Generated.referencedBy(snap, table, name)
    require(refs.isEmpty,
      s"cannot $verb column '$name' — generated column(s) " +
        s"${refs.mkString(", ")} reference it by name in their " +
        "expressions")
  }

  /** A partition column — of the live layout, or the catalog declaration
    * of a table with no files yet — is never renamed or dropped. */
  private def requireNotPartition(snap: Snapshot, table: String,
                                  name: String, verb: String): Unit =
    require(!snap.partitionLayout(table).contains(name),
      s"cannot $verb partition column '$name' — partition names are " +
        "directory structure; repartition via compaction first")

  /** One metadata commit OCC-based on `snap`, the snapshot its caller
    * checked against. */
  private def commitMeta(snap: Snapshot, table: String, op: String,
                         m: ColumnMapping,
                         extraMetas: Seq[(String, String)] = Nil): Unit =
    Snapshots.append(snap.fs, snap.warehouse,
      java.util.UUID.randomUUID().toString,
      adds = Nil, removes = Nil, op = op, baseVersion = snap.version,
      metas = (table -> m.encode) +: extraMetas,
      // Protocol requirements land WITH the commit that introduces them:
      // a reader without mapping support misresolves renamed columns; one
      // without defaults support serves nulls where the literal belongs.
      features = (table -> "r:columnMapping") +:
        extraMetas.collect { case (k, v)
            if k.endsWith("#props") && v.contains("default.") =>
          table -> "r:columnDefaults" })
}
