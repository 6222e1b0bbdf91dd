package graft

import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.ingest.{FileStats, Merge, Snapshots, TxnCommit}

/** Per-file [min,max] stats on the snapshot log's ADD lines (the Delta
  * `stats` analog): collected once at publish, used for log-side file
  * skipping by `Snapshots.read(dataFilter=…)` and by Merge's affected-file
  * discovery — no footer reads or full-table scans at plan time. */
class FileStatsSpec extends AnyFunSuite with BeforeAndAfterAll with GenChecks {

  private var spark: SparkSession = _
  private lazy val dir = Files.createTempDirectory("graft-filestats")
  private def wh(name: String) = dir.resolve(name).toString
  private def fs = new Path(dir.toString)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** Publish one single-file batch of (id, val) rows. */
  private def publishKv(warehouse: String, rows: Seq[(Long, String)]): Unit = {
    val cid = java.util.UUID.randomUUID().toString
    val s0 = spark
    import s0.implicits._
    rows.toDF("id", "val").coalesce(1)
      .write.parquet(s"${TxnCommit.stagingDir(warehouse, cid)}/t")
    val moves = TxnCommit.movesFor(fs, warehouse, cid, "t")
    TxnCommit.commit(fs, warehouse, cid, moves)
    TxnCommit.publish(fs, warehouse, cid, moves)
  }

  test("stats token roundtrips and mayMatch is sound on the edges") {
    val s = FileStats.Stats(42L, Map(
      "id" -> FileStats.ColStats("long", "10", "20"),
      "txt" -> FileStats.ColStats("string", "a|b,c\td", "zz")),
      schema = Seq("id" -> "INT64", "txt" -> "BINARY/STRING"),
      nulls = Map("id" -> 0L, "txt" -> 7L))
    assert(FileStats.decode(FileStats.encode(s)).contains(s))
    assert(FileStats.decode("").isEmpty && FileStats.decode("junk").isEmpty)
    // File size rides the token (`z:`); absent = -1; pre-size tokens parse.
    val sized = s.copy(bytes = 123456L)
    assert(FileStats.decode(FileStats.encode(sized)).contains(sized))
    assert(FileStats.decode(FileStats.encode(s)).get.bytes == -1L)
    val st = Some(s)
    // overlap / touch-at-edge / miss on both sides
    assert(FileStats.mayMatch(st, FileStats.between("id", 15L, 25L)))
    assert(FileStats.mayMatch(st, FileStats.between("id", 20L, 30L)))
    assert(FileStats.mayMatch(st, FileStats.between("id", 5L, 10L)))
    assert(!FileStats.mayMatch(st, FileStats.between("id", 21L, 30L)))
    assert(!FileStats.mayMatch(st, FileStats.ltEq("id", 9L)))
    assert(!FileStats.mayMatch(st, FileStats.gtEq("id", 21L)))
    assert(FileStats.mayMatch(st, FileStats.eq("txt", "b")))
    assert(!FileStats.mayMatch(st, FileStats.eq("txt", "zzz")))
    // unknown column / missing stats / uncomparable value → keep
    assert(FileStats.mayMatch(st, FileStats.eq("nope", 1L)))
    assert(FileStats.mayMatch(None, FileStats.eq("id", 999L)))
    assert(FileStats.mayMatch(st, FileStats.eq("id", new Object)))
    // boolean composition
    assert(FileStats.mayMatch(st,
      FileStats.gtEq("id", 21L).or(FileStats.ltEq("id", 12L))))
    assert(!FileStats.mayMatch(st,
      FileStats.gtEq("id", 15L).and(FileStats.gtEq("id", 21L))))
  }

  test("legacy (pre-v2) tokens drop unit-hazardous stats; v2 keeps them") {
    // Hand-built legacy token (no v:2 marker): millis-unit timestamp
    // bounds and UTF-16-folded string bounds must NOT be trusted.
    val legacy = "rows=5|" +
      "s:id,INT64|s:ts,INT64%2FTIMESTAMP%28MILLIS%2Ctrue%29|s:name,BINARY%2FSTRING|" +
      "id,long,1,9|ts,long,1700000000000,1700000100000|name,string,a,z"
    val s = FileStats.decode(legacy).get
    assert(s.cols.keySet == Set("id"), s"kept: ${s.cols.keySet}")
    // Plain ints keep skipping; the dropped columns never prune.
    assert(!FileStats.mayMatch(Some(s), FileStats.gtEq("id", 10L)))
    assert(FileStats.mayMatch(Some(s), FileStats.gtEq("ts", 1700000000000000L)))
    assert(FileStats.mayMatch(Some(s), FileStats.eq("name", "😀")))
    // A legacy long column with NO schema tag is unidentifiable → dropped.
    val untagged = "rows=2|mystery,long,5,6"
    assert(FileStats.decode(untagged).get.cols.isEmpty)
    // The current encoder stamps v:2 and everything round-trips.
    val v2 = FileStats.Stats(5L,
      Map("ts" -> FileStats.ColStats("long", "1", "2"),
        "name" -> FileStats.ColStats("string", "a", "z")),
      schema = Seq("ts" -> "INT64/TIMESTAMP(MILLIS,true)", "name" -> "BINARY/STRING"))
    assert(FileStats.decode(FileStats.encode(v2)).contains(v2))
  }

  test("property: mayMatch never excludes a file containing a satisfying row") {
    import org.scalacheck.Gen
    // Random long-valued files and random predicate trees over one column;
    // the invariant is one-sided soundness: a row satisfying the predicate
    // ⇒ its file's [min,max] stats must survive mayMatch. (The reverse —
    // pruning everything prunable — is an optimization, not a contract.)
    sealed trait P
    case class Leaf(op: Int, v: Long) extends P
    case class Node(isAnd: Boolean, l: P, r: P) extends P
    val leaf = for (op <- Gen.choose(0, 4); v <- Gen.choose(-20L, 20L)) yield Leaf(op, v)
    def tree(depth: Int): Gen[P] =
      if (depth == 0) leaf
      else Gen.frequency(2 -> leaf, 3 -> (for {
        a <- Gen.oneOf(true, false); l <- tree(depth - 1); r <- tree(depth - 1)
      } yield Node(a, l, r)))
    def toPred(p: P): FileStats.Pred = p match {
      case Leaf(0, v) => FileStats.eq("c", v)
      case Leaf(1, v) => FileStats.ltEq("c", v)
      case Leaf(2, v) => FileStats.gtEq("c", v)
      case Leaf(3, v) => FileStats.lt("c", v)
      case Leaf(_, v) => FileStats.gt("c", v)
      case Node(true, l, r) => toPred(l).and(toPred(r))
      case Node(false, l, r) => toPred(l).or(toPred(r))
    }
    def sat(p: P, x: Long): Boolean = p match {
      case Leaf(0, v) => x == v
      case Leaf(1, v) => x <= v
      case Leaf(2, v) => x >= v
      case Leaf(3, v) => x < v
      case Leaf(_, v) => x > v
      case Node(true, l, r) => sat(l, x) && sat(r, x)
      case Node(false, l, r) => sat(l, x) || sat(r, x)
    }
    val rows = Gen.nonEmptyListOf(Gen.choose(-20L, 20L))
    forAll(Gen.zip(rows, tree(3)), trials = 300) { case (rs, p) =>
      val stats = Some(FileStats.Stats(rs.size.toLong, Map(
        "c" -> FileStats.ColStats("long", rs.min.toString, rs.max.toString))))
      if (rs.exists(sat(p, _)))
        assert(FileStats.mayMatch(stats, toPred(p)),
          s"pruned a file with a satisfying row: rows=$rs pred=$p")
    }
  }

  test("property: decimal predicates are sound, incl. mixed probe-value types") {
    import org.scalacheck.Gen
    // Same one-sided invariant as the long property, in the dec domain:
    // rows are decimal(_,2) values; probe values arrive in every exact
    // type the query side can produce (java/scala BigDecimal of varying
    // scale, integral longs) — a satisfying row must keep its file.
    sealed trait P
    case class Leaf(op: Int, cents: Long, form: Int) extends P
    case class Node(isAnd: Boolean, l: P, r: P) extends P
    val leaf = for {
      op <- Gen.choose(0, 5); v <- Gen.choose(-2000L, 2000L)
      f <- Gen.choose(0, 3)
    } yield Leaf(op, v, f)
    def tree(depth: Int): Gen[P] =
      if (depth == 0) leaf
      else Gen.frequency(2 -> leaf, 3 -> (for {
        a <- Gen.oneOf(true, false); l <- tree(depth - 1); r <- tree(depth - 1)
      } yield Node(a, l, r)))
    def bd(cents: Long): java.math.BigDecimal =
      java.math.BigDecimal.valueOf(cents, 2)
    // Probe-value forms: canonical scale-2, over-scaled (trailing zeros),
    // scala BigDecimal, and — when whole — a plain Long.
    def probeOf(cents: Long, form: Int): Any = form match {
      case 0 => bd(cents)
      case 1 => bd(cents).setScale(5)
      case 2 => scala.math.BigDecimal(bd(cents))
      case _ if cents % 100 == 0 => java.lang.Long.valueOf(cents / 100)
      case _ => bd(cents)
    }
    def toPred(p: P): FileStats.Pred = p match {
      case Leaf(0, v, f) => FileStats.eq("c", probeOf(v, f))
      case Leaf(1, v, f) => FileStats.ltEq("c", probeOf(v, f))
      case Leaf(2, v, f) => FileStats.gtEq("c", probeOf(v, f))
      case Leaf(3, v, f) => FileStats.lt("c", probeOf(v, f))
      case Leaf(4, v, f) => FileStats.gt("c", probeOf(v, f))
      case Leaf(_, v, f) => FileStats.notEq("c", probeOf(v, f))
      case Node(true, l, r) => toPred(l).and(toPred(r))
      case Node(false, l, r) => toPred(l).or(toPred(r))
    }
    def sat(p: P, cents: Long): Boolean = p match {
      case Leaf(0, v, _) => cents == v
      case Leaf(1, v, _) => cents <= v
      case Leaf(2, v, _) => cents >= v
      case Leaf(3, v, _) => cents < v
      case Leaf(4, v, _) => cents > v
      case Leaf(_, v, _) => cents != v
      case Node(true, l, r) => sat(l, cents) && sat(r, cents)
      case Node(false, l, r) => sat(l, cents) || sat(r, cents)
    }
    val rows = Gen.nonEmptyListOf(Gen.choose(-2000L, 2000L))
    forAll(Gen.zip(rows, tree(3)), trials = 300) { case (rs, p) =>
      val stats = Some(FileStats.Stats(rs.size.toLong, Map(
        "c" -> FileStats.ColStats("dec",
          bd(rs.min).toPlainString, bd(rs.max).toPlainString))))
      if (rs.exists(sat(p, _)))
        assert(FileStats.mayMatch(stats, toPred(p)),
          s"pruned a file with a satisfying row: rows=$rs pred=$p")
    }
  }

  test("property: string predicates (incl. not-eq, prefix) sound in UTF-8 order") {
    import org.scalacheck.Gen
    // Strings mixing ASCII, a U+E000-block char, and a supplementary-plane
    // character — exactly where UTF-16 code-unit order and UTF-8 byte order
    // disagree (surrogates sort below U+E000 in UTF-16, above in UTF-8).
    val atom = Gen.oneOf("a", "z", "\uE000", "\uD83D\uDE00" /* U+1F600 */)
    val str = Gen.choose(0, 3).flatMap(n => Gen.listOfN(n, atom).map(_.mkString))
    def u8(s: String) = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    def u8cmp(a: String, b: String): Int = {
      val (x, y) = (u8(a), u8(b))
      x.zip(y).collectFirst {
        case (p, q) if p != q => java.lang.Integer.compare(p & 0xff, q & 0xff)
      }.getOrElse(java.lang.Integer.compare(x.length, y.length))
    }
    val leaf = for (op <- Gen.choose(0, 6); v <- str) yield (op, v)
    def toPred(op: Int, v: String): FileStats.Pred = op match {
      case 0 => FileStats.eq("c", v)
      case 1 => FileStats.ltEq("c", v)
      case 2 => FileStats.gtEq("c", v)
      case 3 => FileStats.lt("c", v)
      case 4 => FileStats.gt("c", v)
      case 5 => FileStats.notEq("c", v)
      case _ => FileStats.startsWith("c", v)
    }
    // Row semantics in Spark/parquet order (UTF-8 bytes).
    def sat(op: Int, v: String, x: String): Boolean = op match {
      case 0 => x == v
      case 1 => u8cmp(x, v) <= 0
      case 2 => u8cmp(x, v) >= 0
      case 3 => u8cmp(x, v) < 0
      case 4 => u8cmp(x, v) > 0
      case 5 => x != v
      case _ => x.startsWith(v)
    }
    val rows = Gen.nonEmptyListOf(str)
    forAll(Gen.zip(rows, leaf), trials = 400) { case (rs, (op, v)) =>
      val sorted = rs.sortWith(u8cmp(_, _) < 0) // parquet stats are UTF-8-ordered
      val stats = Some(FileStats.Stats(rs.size.toLong, Map(
        "c" -> FileStats.ColStats("string", sorted.head, sorted.last))))
      if (rs.exists(sat(op, v, _)))
        assert(FileStats.mayMatch(stats, toPred(op, v)),
          s"pruned a file with a satisfying row: rows=$rs op=$op v=$v")
    }
  }

  test("property: negated long predicates stay sound (NotEq leaves)") {
    import org.scalacheck.Gen
    val leaf = for (op <- Gen.choose(0, 5); v <- Gen.choose(-10L, 10L)) yield (op, v)
    def toPred(op: Int, v: Long): FileStats.Pred = op match {
      case 0 => FileStats.notEq("c", v)
      case 1 => FileStats.ltEq("c", v)
      case 2 => FileStats.gtEq("c", v)
      case 3 => FileStats.lt("c", v)
      case 4 => FileStats.gt("c", v)
      case _ => FileStats.notEq("c", v).and(FileStats.gtEq("c", v - 3))
    }
    def sat(op: Int, v: Long, x: Long): Boolean = op match {
      case 0 => x != v
      case 1 => x <= v
      case 2 => x >= v
      case 3 => x < v
      case 4 => x > v
      case _ => x != v && x >= v - 3
    }
    val rows = Gen.nonEmptyListOf(Gen.choose(-10L, 10L))
    forAll(Gen.zip(rows, leaf), trials = 300) { case (rs, (op, v)) =>
      val stats = Some(FileStats.Stats(rs.size.toLong, Map(
        "c" -> FileStats.ColStats("long", rs.min.toString, rs.max.toString))))
      if (rs.exists(sat(op, v, _)))
        assert(FileStats.mayMatch(stats, toPred(op, v)),
          s"pruned a file with a satisfying row: rows=$rs op=$op v=$v")
    }
    // NotEq does prune a constant file.
    val const = Some(FileStats.Stats(5L,
      Map("c" -> FileStats.ColStats("long", "7", "7"))))
    assert(!FileStats.mayMatch(const, FileStats.notEq("c", 7L)))
    assert(FileStats.mayMatch(const, FileStats.notEq("c", 8L)))
  }

  test("null counts: IS [NOT] NULL skipping and all-null comparison pruning") {
    // Unit semantics first.
    val mixed = Some(FileStats.Stats(10L,
      Map("v" -> FileStats.ColStats("long", "1", "5")),
      nulls = Map("v" -> 3L, "w" -> 10L, "z" -> 0L)))
    assert(FileStats.mayMatch(mixed, FileStats.isNull("v")))     // 3 nulls
    assert(!FileStats.mayMatch(mixed, FileStats.isNull("z")))    // 0 nulls
    assert(FileStats.mayMatch(mixed, FileStats.isNull("nope")))  // unknown
    assert(FileStats.mayMatch(mixed, FileStats.isNotNull("v")))
    assert(!FileStats.mayMatch(mixed, FileStats.isNotNull("w"))) // all null
    // comparisons on an all-null column can never match, min/max or not
    assert(!FileStats.mayMatch(mixed, FileStats.eq("w", 1L)))

    // End to end: one file with val entirely null, one fully populated.
    val w = wh("whNulls")
    val s0 = spark
    import s0.implicits._
    def pub(rows: Seq[(Long, Option[String])]): Unit = {
      val cid = java.util.UUID.randomUUID().toString
      rows.toDF("id", "val").coalesce(1)
        .write.parquet(s"${TxnCommit.stagingDir(w, cid)}/t")
      val moves = TxnCommit.movesFor(fs, w, cid, "t")
      TxnCommit.commit(fs, w, cid, moves)
      TxnCommit.publish(fs, w, cid, moves)
    }
    pub((0 until 5).map(i => i.toLong -> None))               // all-null val
    pub((5 until 10).map(i => i.toLong -> Some(s"v$i")))      // no nulls
    import org.apache.spark.sql.functions.col
    val notNull = Snapshots.readWhere(spark, w, "t", col("val").isNotNull)
    assert(notNull.inputFiles.length == 1 && notNull.count() == 5)
    val isNull = Snapshots.readWhere(spark, w, "t", col("val").isNull)
    assert(isNull.inputFiles.length == 1 && isNull.count() == 5)
    // Equality prunes the all-null file though it has no [min,max] for val.
    val eqq = Snapshots.readWhere(spark, w, "t", col("val") === "v7")
    assert(eqq.inputFiles.length == 1 && eqq.count() == 1)
  }

  test("publish records per-file min/max in the log; read(dataFilter) plans only overlapping files") {
    val w = wh("whSkip")
    // Four disjoint key ranges → four files with disjoint [min,max].
    (0 until 4).foreach(i => publishKv(w,
      (i * 10 until i * 10 + 10).map(k => k.toLong -> s"v$k")))
    val meta = Snapshots.snapshot(fs, w).files("t")
    assert(meta.size == 4)
    val decoded = meta.map(a => FileStats.decode(a.stats))
    assert(decoded.forall(_.isDefined), s"missing stats: $meta")
    assert(decoded.flatMap(_.get.cols.get("id")).size == 4)
    assert(decoded.map(_.get.rows).sum == 40L)

    // A point-range filter plans exactly the one covering file.
    val one = Snapshots.read(spark, w, "t",
      dataFilter = FileStats.between("id", 15L, 17L))
    assert(one.inputFiles.length == 1, s"planned: ${one.inputFiles.mkString(",")}")
    assert(one.filter(org.apache.spark.sql.functions.col("id").between(15, 17))
      .count() == 3)
    // String-column skipping works too (val is "vNN", lexical order).
    val sone = Snapshots.read(spark, w, "t",
      dataFilter = FileStats.eq("val", "v12"))
    assert(sone.inputFiles.length < 4)
    // A filter excluding every file yields an empty frame, schema intact.
    val none = Snapshots.read(spark, w, "t",
      dataFilter = FileStats.gtEq("id", 1000L))
    assert(none.count() == 0 && none.columns.sameElements(Array("id", "val")))
  }

  test("stats survive checkpoints and compaction rewrites") {
    val w = wh("whCkptStats")
    // 17 commits crosses the CheckpointInterval (16) so the anchored fold
    // serves stats from the .ckpt lines, not just .snap deltas.
    (0 until 17).foreach(i => publishKv(w, Seq(i.toLong -> s"v$i")))
    val meta = Snapshots.snapshot(fs, w).files("t")
    assert(meta.size == 17 && meta.forall(a => FileStats.decode(a.stats).isDefined))
    // Compaction (sorted) republishes through the same stats collection.
    graft.ingest.Compaction.compact(spark, w, "t", sortBy = Seq("id"))
    val meta2 = Snapshots.snapshot(fs, w).files("t")
    assert(meta2.nonEmpty && meta2.forall(a => FileStats.decode(a.stats).isDefined))
    assert(Snapshots.read(spark, w, "t",
      dataFilter = FileStats.between("id", 3L, 3L)).count() == 17) // one file now
  }

  test("merge scans only stats-overlapping candidate files") {
    val w = wh("whMergeSkip")
    val s0 = spark
    import s0.implicits._
    (0 until 4).foreach(i => publishKv(w,
      (i * 10 until i * 10 + 10).map(k => k.toLong -> s"v$k")))
    // Update keys 12 and 14 live only in file [10,19]: the candidate set
    // from log-side stats intersection must be that single file.
    val res = Merge.upsert(spark, w, "t",
      Seq(12L -> "X", 14L -> "X").toDF("id", "val"), Seq("id"))
    assert(res.filesScanned == 1,
      s"expected 1 stats-surviving candidate, scanned ${res.filesScanned}")
    assert(res.filesRewritten == 1 && res.rowsMatched == 2)
    val after = Snapshots.read(spark, w, "t")
    assert(after.count() == 40)
    assert(after.filter($"val" === "X").select("id").as[Long].collect().sorted
      .sameElements(Array(12L, 14L)))
    // Delete path prunes the same way.
    val res2 = Merge.deleteKeys(spark, w, "t", Seq(35L).toDF("id"), Seq("id"))
    assert(res2.filesScanned == 1 && res2.rowsMatched == 1)
    assert(Snapshots.read(spark, w, "t").count() == 39)
  }

  test("readWhere derives skipping from a Catalyst predicate; conversion only widens") {
    val w = wh("whWhere")
    val s0 = spark
    import s0.implicits._
    (0 until 4).foreach(i => publishKv(w,
      (i * 10 until i * 10 + 10).map(k => k.toLong -> s"v$k")))
    import org.apache.spark.sql.functions.{col, length}
    // One predicate: rows filtered AND only the overlapping file planned.
    val q = Snapshots.readWhere(spark, w, "t", col("id") > 14L && col("id") < 18L)
    assert(q.inputFiles.length == 1, s"planned ${q.inputFiles.length} files")
    assert(q.select("id").as[Long].collect().sorted.sameElements(Array(15L, 16L, 17L)))
    // IN-lists skip to their covering files.
    val in = Snapshots.readWhere(spark, w, "t", col("id").isin(5L, 35L))
    assert(in.inputFiles.length == 2 && in.count() == 2)
    // An unconvertible conjunct only widens (still correct, just no skip):
    // ids 0..9 render as "v0".."v9" (length 2), so the length conjunct is
    // a no-op on the surviving file's rows.
    val wide = Snapshots.readWhere(spark, w, "t",
      length(col("val")) === 2 && col("id") <= 9L)
    assert(wide.inputFiles.length == 1 && wide.count() == 10)
    // An unconvertible disjunct disables skipping entirely (all 4 files
    // planned) — and still never drops rows.
    val all = Snapshots.readWhere(spark, w, "t",
      col("id") <= 9L || length(col("val")) === 4)
    assert(all.inputFiles.length == 4 && all.count() == 10)
    // NOT converts through De Morgan: ¬(id≤9 ∨ id≥20) = id>9 ∧ id<20 —
    // exactly the [10,19] file. (The analyzer keeps Not; only the
    // optimizer would rewrite it, and skipping runs on the analyzed tree.)
    val neg = Snapshots.readWhere(spark, w, "t",
      !(col("id") <= 9L || col("id") >= 20L))
    assert(neg.inputFiles.length == 1 && neg.count() == 10)
    // Prefix predicates skip as a string range: only "v25" matches, and
    // only files whose [min,max] straddles ["v25","v26") are planned —
    // [v20,v29] and [v0,v9] (lexical max "v9" > "v25"), not [v10,v19] or
    // [v30,v39].
    val pfx = Snapshots.readWhere(spark, w, "t", col("val").startsWith("v25"))
    assert(pfx.inputFiles.length == 2, s"planned ${pfx.inputFiles.length}")
    assert(pfx.count() == 1)
    // NOT IN prunes files pinned to the excluded values and keeps the rest.
    val notIn = Snapshots.readWhere(spark, w, "t", !col("id").isin(0L, 1L))
    assert(notIn.count() == 38)
    // Null-safe equality: <=> with a non-null literal prunes like =, and
    // its negation widens with nullability (no null ids here — rows equal
    // the plain ≠ count).
    val nsEq = Snapshots.readWhere(spark, w, "t", col("id") <=> 15L)
    assert(nsEq.inputFiles.length == 1 && nsEq.count() == 1)
    assert(Snapshots.readWhere(spark, w, "t", !(col("id") <=> 15L))
      .count() == 39)
  }

  test("timestamp MILLIS stats land in micros; DECIMAL stats skip in the exact value domain") {
    val w = wh("whUnits")
    val s0 = spark
    import s0.implicits._
    import org.apache.spark.sql.functions.{col, expr}
    val prevTs = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MILLIS")
    try {
      def pub(hours: Range): Unit = {
        val cid = java.util.UUID.randomUUID().toString
        hours.map(h => (h.toLong, f"2024-03-01 $h%02d:00:00", BigDecimal(h) / 4))
          .toDF("id", "ts_s", "amt")
          .select(col("id"), expr("cast(ts_s as timestamp)").as("ts"),
            col("amt").cast("decimal(10,2)").as("amt"))
          .coalesce(1).write.parquet(s"${TxnCommit.stagingDir(w, cid)}/t")
        val moves = TxnCommit.movesFor(fs, w, cid, "t")
        TxnCommit.commit(fs, w, cid, moves)
        TxnCommit.publish(fs, w, cid, moves)
      }
      pub(0 until 6); pub(6 until 12)
      val meta = Snapshots.snapshot(fs, w).files("t")
      val stats = meta.map(a => FileStats.decode(a.stats).get)
      // MILLIS files carry micros-unit ts stats (predicates compare in
      // micros); decimal stats are the unscaled ints rescaled by
      // 10^-scale — EXACT values in the query domain.
      assert(stats.forall(_.cols.contains("ts")))
      assert(stats.forall(s => s.cols.get("amt").exists(_.typ == "dec")),
        s"decimal column must record dec stats: ${stats.map(_.cols.get("amt"))}")
      val microsOf = (s: String) =>
        java.sql.Timestamp.valueOf(s).getTime * 1000L
      assert(stats.map(_.cols("ts").min.toLong).min ==
        microsOf("2024-03-01 00:00:00"))
      // A timestamp range predicate prunes to the covering file AND returns
      // the right rows (wrong-unit stats would prune everything).
      val q = Snapshots.readWhere(spark, w, "t",
        col("ts") >= expr("timestamp'2024-03-01 08:00:00'"))
      assert(q.inputFiles.length == 1 && q.count() == 4)
      // A decimal predicate skips to the covering file ([1.50,2.75]).
      val d = Snapshots.readWhere(spark, w, "t",
        col("amt") > BigDecimal(2.0))
      assert(d.inputFiles.length == 1 && d.count() == 3)
    } finally spark.conf.set("spark.sql.parquet.outputTimestampType", prevTs)
  }

  test("decimal [min,max] stats cover all three physical carriers and skip exactly") {
    val w = wh("whDecCarriers")
    val s0 = spark
    import s0.implicits._
    import org.apache.spark.sql.functions.{col, expr}
    // Three files with disjoint ranges (one strictly negative — the
    // byte-array carrier stores two's-complement unscaled ints, so sign
    // handling matters). Columns pick their carrier by precision:
    // d9 decimal(9,2) → INT32, d18 decimal(18,2) → INT64,
    // d38 decimal(38,6) → FIXED_LEN_BYTE_ARRAY.
    def pub(lo: Int): Unit = {
      val cid = java.util.UUID.randomUUID().toString
      (lo until lo + 10).map(k => (k.toLong, BigDecimal(k) + BigDecimal("0.25")))
        .toDF("id", "v")
        .select(col("id"),
          col("v").cast("decimal(9,2)").as("d9"),
          col("v").cast("decimal(18,2)").as("d18"),
          col("v").cast("decimal(38,6)").as("d38"))
        .coalesce(1).write.parquet(s"${TxnCommit.stagingDir(w, cid)}/t")
      val moves = TxnCommit.movesFor(fs, w, cid, "t")
      TxnCommit.commit(fs, w, cid, moves)
      TxnCommit.publish(fs, w, cid, moves)
    }
    pub(-10); pub(0); pub(10)
    val meta = Snapshots.snapshot(fs, w).files("t")
    assert(meta.size == 3)
    val stats = meta.map(a => FileStats.decode(a.stats).get)
    // Prove each column rode the intended carrier, then that ALL carry
    // exact dec stats.
    val tags = stats.head.schema.toMap
    assert(tags("d9").startsWith("INT32"), tags("d9"))
    assert(tags("d18").startsWith("INT64"), tags("d18"))
    assert(tags("d38").startsWith("FIXED_LEN_BYTE_ARRAY"), tags("d38"))
    Seq("d9", "d18", "d38").foreach { c =>
      assert(stats.forall(s => s.cols.get(c).exists(_.typ == "dec")),
        s"$c: ${stats.map(_.cols.get(c))}")
    }
    // Exact bounds: the 0-file holds [0.25, 9.25].
    val zeroFile = stats.find(_.cols("d9").min == "0.25").get
    assert(zeroFile.cols("d9").max == "9.25")
    assert(zeroFile.cols("d38").min == "0.250000" &&
      zeroFile.cols("d38").max == "9.250000")
    // Decimal predicates (SQL decimal literals) skip to the covering file
    // on every carrier — including the negative range on the byte-array
    // carrier.
    def planned(c: org.apache.spark.sql.Column): Int =
      Snapshots.readWhere(spark, w, "t", c).inputFiles.length
    assert(planned(expr("d9 > 12.50")) == 1)
    assert(Snapshots.readWhere(spark, w, "t", expr("d9 > 12.50"))
      .count() == 7)
    assert(planned(expr("d18 BETWEEN 0.25 AND 1.00")) == 1)
    assert(planned(expr("d38 <= -5.5")) == 1)
    assert(Snapshots.readWhere(spark, w, "t", expr("d38 <= -5.5"))
      .count() == 5) // -9.75 … -5.75
    // An int literal promotes into the decimal domain and skips too.
    assert(planned(expr("d18 >= 10")) == 1)
    // A predicate through CAST(col AS DOUBLE) must NOT prune (a decimal
    // row just below the bound can round UP across it): all files
    // planned, rows still correct.
    val cd = Snapshots.readWhere(spark, w, "t",
      col("d9").cast("double") > 12.5)
    assert(cd.inputFiles.length == 3 && cd.count() == 7)
    // Leaf-level soundness of the dec domain: exact BigDecimal compares,
    // double probe values refused (keep).
    val st = Some(FileStats.Stats(10L,
      Map("a" -> FileStats.ColStats("dec", "1.50", "2.75"))))
    assert(!FileStats.mayMatch(st, FileStats.gt("a", new java.math.BigDecimal("2.75"))))
    assert(FileStats.mayMatch(st, FileStats.gtEq("a", new java.math.BigDecimal("2.75"))))
    assert(!FileStats.mayMatch(st, FileStats.lt("a", BigDecimal("1.50"))))
    assert(!FileStats.mayMatch(st, FileStats.eq("a", 3L)))
    assert(FileStats.mayMatch(st, FileStats.eq("a", 2L)))
    assert(FileStats.mayMatch(st, FileStats.gt("a", 99.9)), "double → keep")
  }

  test("readWhere skips on partition columns through the same predicate") {
    val w = wh("whWherePart")
    val s0 = spark
    import s0.implicits._
    val cid = java.util.UUID.randomUUID().toString
    ((0 until 10).map(i => (i.toLong, "2024-01-01")) ++
      (10 until 20).map(i => (i.toLong, "2024-01-02")))
      .toDF("id", "dt").repartition(1)
      .write.partitionBy("dt").parquet(s"${TxnCommit.stagingDir(w, cid)}/t")
    val moves = TxnCommit.movesFor(fs, w, cid, "t")
    TxnCommit.commit(fs, w, cid, moves)
    TxnCommit.publish(fs, w, cid, moves)
    import org.apache.spark.sql.functions.col
    val q = Snapshots.readWhere(spark, w, "t",
      col("dt") === "2024-01-02" && col("id") >= 12L)
    assert(q.inputFiles.length == 1)
    assert(q.count() == 8)
    // Range on the (ISO string) partition column prunes lexically.
    assert(Snapshots.readWhere(spark, w, "t", col("dt") < "2024-01-02")
      .inputFiles.length == 1)
  }

  test("data skipping composes with partition pruning on a partitioned table") {
    val w = wh("whPartSkip")
    val s0 = spark
    import s0.implicits._
    val cid = java.util.UUID.randomUUID().toString
    ((0 until 10).map(i => (i.toLong, "2024-01-01")) ++
      (10 until 20).map(i => (i.toLong, "2024-01-02")))
      .toDF("id", "dt").repartition(1)
      .write.partitionBy("dt").parquet(s"${TxnCommit.stagingDir(w, cid)}/t")
    val moves = TxnCommit.movesFor(fs, w, cid, "t")
    TxnCommit.commit(fs, w, cid, moves)
    TxnCommit.publish(fs, w, cid, moves)
    val both = Snapshots.read(spark, w, "t",
      partitionFilter = m => m("dt") == "2024-01-02",
      dataFilter = FileStats.gtEq("id", 15L))
    assert(both.inputFiles.length == 1)
    assert(both.columns.contains("dt")) // partition column survives
    assert(both.filter($"id" >= 15L).count() == 5)
    // dataFilter alone can exclude a whole partition's file.
    val skipped = Snapshots.read(spark, w, "t",
      dataFilter = FileStats.ltEq("id", 5L))
    assert(skipped.inputFiles.length == 1)
  }
}
