package graft

import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.ingest.{Snapshots, TxnCommit}

/** SQL statements for the table format (SNAPSHOT OF / SNAPSHOT HISTORY /
  * OPTIMIZE / VACUUM SNAPSHOTS) through `SparkSessionExtensions` — each
  * must return exactly what the corresponding API call returns, and
  * ordinary SQL must fall through to Spark's parser untouched. */
class SqlSurfaceSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private lazy val dir = Files.createTempDirectory("graft-sqlsurface")
  private def wh = dir.resolve("wh").toString
  private def fs = new Path(dir.toString)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.extensions", "graft.sql.GraftSqlExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.graft.warehouse", wh)
    // three commits: v0 (ids 0-9), v1 (ids 10-19), v2 (ids 20-29)
    (0 until 3).foreach { i =>
      val cid = java.util.UUID.randomUUID().toString
      val s0 = spark
      import s0.implicits._
      (i * 10 until i * 10 + 10).map(k => (k.toLong, k * 2.0)).toDF("id", "x")
        .coalesce(1).write.parquet(s"${TxnCommit.stagingDir(wh, cid)}/t")
      val moves = TxnCommit.movesFor(fs, wh, cid, "t")
      TxnCommit.commit(fs, wh, cid, moves)
      TxnCommit.publish(fs, wh, cid, moves)
    }
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("SNAPSHOT OF reads the pinned snapshot; VERSION/TIMESTAMP AS OF time-travel") {
    assert(spark.sql("SNAPSHOT OF t").count() ==
      Snapshots.read(spark, wh, "t").count())
    assert(spark.sql("SNAPSHOT OF t VERSION AS OF 0").count() == 10)
    assert(spark.sql("snapshot of t version as of 1").count() == 20)
    val v1Time = Snapshots.entries(fs, wh).filterNot(_.isCheckpoint)
      .find(_.version == 1L).get.mtime
    val ts = new java.sql.Timestamp(v1Time).toString // keeps millis precision
    assert(spark.sql(s"SNAPSHOT OF t TIMESTAMP AS OF '$ts'").count() ==
      Snapshots.readAsOfTime(spark, wh, "t", v1Time).count())
  }

  test("SNAPSHOT CHANGES OF serves the change feed with version bounds") {
    val viaSql = spark.sql("SNAPSHOT CHANGES OF t FROM 0 TO 2")
    val viaApi = Snapshots.changes(spark, wh, "t", 0L, Some(2L))
    assert(viaSql.columns.sameElements(viaApi.columns))
    assert(viaSql.count() == viaApi.count() && viaSql.count() == 20)
    assert(viaSql.select("_commit_version").distinct().collect()
      .map(_.getLong(0)).sorted.sameElements(Array(1L, 2L)))
  }

  test("table_changes TVF serves the change feed and composes in queries") {
    val s0 = spark
    import s0.implicits._
    // TVF ≡ the changes() API over the same bounds.
    val viaTvf = spark.sql("SELECT * FROM table_changes('t', 0, 2)")
    val viaApi = Snapshots.changes(spark, wh, "t", 0L, Some(2L))
    assert(viaTvf.columns.sameElements(viaApi.columns))
    assert(viaTvf.select("id", "_change_type", "_commit_version")
      .as[(Long, String, Long)].collect().toSet ==
      viaApi.select("id", "_change_type", "_commit_version")
        .as[(Long, String, Long)].collect().toSet)
    // Composable: joined against another relation inside one query.
    val joined = spark.sql(
      """SELECT c._commit_version AS v, count(*) AS n
        |FROM table_changes('t', 0) c
        |JOIN (SELECT explode(sequence(10, 29)) AS id) keys ON c.id = keys.id
        |GROUP BY c._commit_version ORDER BY v""".stripMargin)
      .as[(Long, Long)].collect().toSeq
    assert(joined == Seq(1L -> 10L, 2L -> 10L), s"got $joined")
    // Catalog-qualified names resolve that catalog's warehouse.
    spark.conf.set("spark.sql.catalog.gtvf",
      classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gtvf.warehouse", wh)
    assert(spark.sql("SELECT count(*) FROM table_changes('gtvf.t', 0, 2)")
      .head().getLong(0) == viaApi.count())
    // Timestamp bounds resolve through the log's entry times: a FROM at
    // (or after) the newest commit's moment serves the same feed as that
    // version number.
    val lastTs = Snapshots.history(spark, wh)
      .orderBy(org.apache.spark.sql.functions.desc("version"))
      .select("committed_at").head().getTimestamp(0)
    val fmt = new java.text.SimpleDateFormat("yyyy-MM-dd HH:mm:ss.SSS")
    assert(spark.sql(
        s"SELECT count(*) FROM table_changes('t', '${fmt.format(lastTs)}')")
      .head().getLong(0) ==
      spark.sql(s"SELECT count(*) FROM table_changes('t', " +
        Snapshots.latestVersion(fs, wh).get + ")").head().getLong(0))
  }

  test("SNAPSHOT HISTORY matches the history() API") {
    val viaSql = spark.sql("SNAPSHOT HISTORY").collect()
    val viaApi = Snapshots.history(spark, wh).collect()
    assert(viaSql.map(_.getLong(0)).toSeq == viaApi.map(_.getLong(0)).toSeq)
    assert(viaSql.head.getLong(0) >= 2L)
    // Delta-compat aliases: DESCRIBE HISTORY t ≡ SNAPSHOT HISTORY OF t.
    assert(spark.sql("DESCRIBE HISTORY t").collect().map(_.getLong(0)).toSeq ==
      spark.sql("SNAPSHOT HISTORY OF t").collect().map(_.getLong(0)).toSeq)
    // LIMIT n = newest n commits (history is newest-first).
    assert(spark.sql("DESCRIBE HISTORY t LIMIT 2").collect()
      .map(_.getLong(0)).toSeq ==
      spark.sql("DESCRIBE HISTORY t").collect().map(_.getLong(0))
        .take(2).toSeq)
  }

  test("OPTIMIZE bin-packs; OPTIMIZE ZORDER BY clusters; results mirror the API") {
    val before = Snapshots.snapshot(fs, wh).files("t").size
    assert(before >= 3)
    val row = spark.sql("OPTIMIZE t").collect().head
    assert(row.getInt(0) == before && row.getInt(1) == 1)
    assert(Snapshots.snapshot(fs, wh).files("t").size == 1)
    assert(Snapshots.read(spark, wh, "t").count() == 30)
    // zorder on (id, x): a rewrite lands (files_before ≥ 1), rows intact.
    val zrow = spark.sql("OPTIMIZE t ZORDER BY (id, x)").collect().head
    assert(zrow.getInt(0) >= 1)
    assert(Snapshots.read(spark, wh, "t").count() == 30)
  }

  test("OPTIMIZE WHERE compacts only the matching partition") {
    val s0 = spark
    import s0.implicits._
    (0 until 2).foreach { i =>
      val cid = java.util.UUID.randomUUID().toString
      Seq((i * 2L, "2024-01-01"), (i * 2L + 1, "2024-01-02"))
        .toDF("id", "dt").coalesce(1).write.partitionBy("dt")
        .parquet(s"${TxnCommit.stagingDir(wh, cid)}/p")
      val moves = TxnCommit.movesFor(fs, wh, cid, "p")
      TxnCommit.commit(fs, wh, cid, moves)
      TxnCommit.publish(fs, wh, cid, moves)
    }
    def filesPer: Map[String, Int] = Snapshots.snapshot(fs, wh).files("p")
      .groupBy(_.partition).view.mapValues(_.size).toMap
    assert(filesPer == Map("dt=2024-01-01" -> 2, "dt=2024-01-02" -> 2))
    val row = spark.sql("OPTIMIZE p WHERE dt='2024-01-01'").collect().head
    assert(row.getInt(0) == 2 && row.getInt(1) == 1)
    // Only the matching partition was rewritten; the other kept its files.
    assert(filesPer == Map("dt=2024-01-01" -> 1, "dt=2024-01-02" -> 2))
    assert(Snapshots.read(spark, wh, "p").count() == 4)
    intercept[IllegalArgumentException] {
      spark.sql("OPTIMIZE p WHERE dt > '2024'")
    }
  }

  test("VACUUM SNAPSHOTS truncates the log only with explicit zero retention") {
    // Default/huge retention: nothing is old enough to reclaim.
    assert(spark.sql("VACUUM SNAPSHOTS RETAIN 1 VERSIONS").collect()
      .head.getInt(0) == 0)
    val removed = spark.sql("VACUUM SNAPSHOTS RETAIN 1 VERSIONS MAX AGE 0 HOURS")
      .collect().head.getInt(0)
    assert(removed > 0)
    assert(Snapshots.read(spark, wh, "t").count() == 30) // latest still reads
  }

  test("VACUUM DRY RUN previews the exact reap set; real runs record metrics") {
    val s0 = spark
    import s0.implicits._
    // Isolated warehouse via a registered catalog (`IN cat`), so the
    // shared-warehouse tests keep their own file accounting.
    val w2 = java.nio.file.Files.createTempDirectory("graft-vacdry")
      .resolve("wh").toString
    val fs2 = new org.apache.hadoop.fs.Path(w2)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def pub(ids: Range): Unit = {
      val cid = java.util.UUID.randomUUID().toString
      ids.map(_.toLong).toDF("id").coalesce(1)
        .write.parquet(s"${TxnCommit.stagingDir(w2, cid)}/vt")
      val moves = TxnCommit.movesFor(fs2, w2, cid, "vt")
      TxnCommit.commit(fs2, w2, cid, moves)
      TxnCommit.publish(fs2, w2, cid, moves)
    }
    pub(0 until 10); pub(10 until 20)
    graft.ingest.Compaction.compact(spark, w2, "vt") // inputs superseded
    pub(20 until 30); pub(30 until 40)
    spark.conf.set("spark.sql.catalog.vcat",
      classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.vcat.warehouse", w2)
    try {
      val entriesBefore = Snapshots.entries(fs2, w2).size
      val dry = spark.sql("VACUUM SNAPSHOTS IN vcat RETAIN 1 VERSIONS " +
        "MAX AGE 0 HOURS DRY RUN").collect()
      assert(dry.nonEmpty, "dry run must list the reapable files")
      // Deleted NOTHING, wrote NOTHING: every listed file still exists,
      // the log is byte-for-byte the same entry set, the table reads.
      dry.foreach(r => assert(
        fs2.exists(new org.apache.hadoop.fs.Path(r.getString(0))),
        s"dry run deleted ${r.getString(0)}"))
      assert(Snapshots.entries(fs2, w2).size == entriesBefore,
        "dry run changed the log")
      assert(Snapshots.read(spark, w2, "vt").count() == 40)
      val dryFiles = dry.map(_.getString(0)).toSet
      val dryBytes = dry.map(_.getLong(1)).sum
      // The real run reaps EXACTLY the previewed set and reports it.
      val real = spark.sql("VACUUM SNAPSHOTS IN vcat RETAIN 1 VERSIONS " +
        "MAX AGE 0 HOURS").collect().head
      assert(real.getInt(0) > 0)
      assert(real.getLong(1) == dryFiles.size.toLong,
        s"real=${real.getLong(1)} files vs dry=${dryFiles.size}")
      assert(real.getLong(2) == dryBytes)
      dryFiles.foreach(f => assert(
        !fs2.exists(new org.apache.hadoop.fs.Path(f)),
        s"real vacuum left previewed file $f"))
      assert(Snapshots.read(spark, w2, "vt").count() == 40)
      // Accountability: the newest history row is the vacuum's own
      // metadata commit carrying the reap counts.
      val h = Snapshots.history(spark, w2)
        .orderBy(org.apache.spark.sql.functions.desc("version")).head()
      assert(h.getAs[String]("op") == "vacuum", h.toString)
      assert(h.getAs[Long]("files_deleted") == dryFiles.size.toLong)
      assert(h.getAs[Long]("bytes_deleted") == dryBytes)
    } finally {
      spark.conf.unset("spark.sql.catalog.vcat.warehouse")
      spark.conf.unset("spark.sql.catalog.vcat")
    }
  }

  test("RESTORE TO VERSION AS OF rolls the table back via SQL") {
    val s0 = spark
    import s0.implicits._
    def pub(ids: Range): Long = {
      val cid = java.util.UUID.randomUUID().toString
      ids.map(_.toLong).toDF("id").coalesce(1)
        .write.parquet(s"${TxnCommit.stagingDir(wh, cid)}/r")
      val moves = TxnCommit.movesFor(fs, wh, cid, "r")
      TxnCommit.commit(fs, wh, cid, moves)
      TxnCommit.publish(fs, wh, cid, moves)
      Snapshots.latestVersion(fs, wh).get
    }
    val vA = pub(0 until 10)
    pub(10 until 20)
    assert(Snapshots.read(spark, wh, "r").count() == 20)
    val row = spark.sql(s"RESTORE r TO VERSION AS OF $vA").collect().head
    assert(row.getInt(0) == 0 && row.getInt(1) == 1) // second file swapped out
    assert(Snapshots.read(spark, wh, "r").count() == 10)
    // Delta-compat spelling: RESTORE TABLE t TO VERSION AS OF n.
    val vB = pub(20 until 25)
    assert(Snapshots.read(spark, wh, "r").count() == 15)
    spark.sql(s"RESTORE TABLE r TO VERSION AS OF ${vB - 1}").collect()
    assert(Snapshots.read(spark, wh, "r").count() == 10)
  }

  test("INSERT INTO / INSERT OVERWRITE lower onto the batch write path") {
    val s0 = spark
    import s0.implicits._
    // fresh table in the shared warehouse (t already has other tests' DML)
    val cid = java.util.UUID.randomUUID().toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "name").coalesce(1)
      .write.parquet(s"${TxnCommit.stagingDir(wh, cid)}/ins")
    val moves = TxnCommit.movesFor(fs, wh, cid, "ins")
    TxnCommit.commit(fs, wh, cid, moves)
    TxnCommit.publish(fs, wh, cid, moves)

    // VALUES append with positional mapping (query col names ignored).
    spark.sql("INSERT INTO ins VALUES (3, 'c'), (4, 'd')")
    assert(Snapshots.read(spark, wh, "ins").as[(Long, String)].collect().toSet ==
      Set(1L -> "a", 2L -> "b", 3L -> "c", 4L -> "d"))

    // SELECT append; arity mismatch fails loudly.
    spark.sql("INSERT INTO ins SELECT 5L, 'e'")
    assert(Snapshots.read(spark, wh, "ins").count() == 5)
    val err = intercept[Exception](spark.sql("INSERT INTO ins SELECT 6L"))
    assert(err.getMessage.contains("arity"))

    // OVERWRITE replaces atomically; prior version still time-travelable.
    val before = Snapshots.latestVersion(fs, wh).get
    spark.sql("INSERT OVERWRITE ins VALUES (9, 'z')")
    assert(Snapshots.read(spark, wh, "ins").as[(Long, String)].collect().toSet ==
      Set(9L -> "z"))
    assert(Snapshots.read(spark, wh, "ins", asOf = Some(before)).count() == 5)

    // Non-warehouse INSERT still falls through to Spark's own parser.
    spark.sql("CREATE TABLE spark_local_ins (id INT) USING parquet")
    try {
      spark.sql("INSERT INTO spark_local_ins VALUES (42)")
      assert(spark.table("spark_local_ins").collect().map(_.getInt(0)).toSeq == Seq(42))
    } finally spark.sql("DROP TABLE spark_local_ins")
  }

  test("CREATE TABLE AS SELECT creates and fills a warehouse table") {
    val s0 = spark
    import s0.implicits._
    (0L until 6L).map(i => (i, i * 3.0)).toDF("id", "y")
      .createOrReplaceTempView("ctas_src")
    // Plain CTAS.
    spark.sql("CREATE TABLE ctas_t AS SELECT id, y FROM ctas_src WHERE id < 5")
    val got = Snapshots.read(spark, wh, "ctas_t")
    assert(got.count() == 5)
    assert(got.select("y").as[Double].collect().sorted.sameElements(
      Array(0.0, 3.0, 6.0, 9.0, 12.0)))
    // Existing table: IF NOT EXISTS no-ops, plain CTAS fails.
    spark.sql("CREATE TABLE IF NOT EXISTS ctas_t AS SELECT 99 AS a")
    assert(Snapshots.read(spark, wh, "ctas_t").count() == 5)
    val err = intercept[IllegalStateException] {
      spark.sql("CREATE TABLE ctas_t AS SELECT 99 AS a")
    }
    assert(err.getMessage.contains("already exists"))
    // Partitioned CTAS: Hive layout + log tuples, partition column intact.
    spark.sql("CREATE TABLE ctas_p PARTITIONED BY (par) AS " +
      "SELECT id, CASE WHEN id % 2 = 0 THEN 'e' ELSE 'o' END AS par " +
      "FROM ctas_src")
    val p = Snapshots.read(spark, wh, "ctas_p")
    assert(p.columns.toSeq.sorted == Seq("id", "par"))
    assert(p.filter($"par" === "e").count() == 3)
    val spec = Snapshots.snapshot(fs, wh).files("ctas_p").map(_.partition)
    assert(spec.forall(_.startsWith("par=")), spec)
    // USING marker variant parses; a catalog CTAS still reaches Spark.
    spark.sql("CREATE TABLE ctas_u USING graft AS SELECT 7 AS k")
    assert(Snapshots.read(spark, wh, "ctas_u").as[Int].head() == 7)
    spark.sql("CREATE TABLE ctas_cat USING parquet AS SELECT 1 AS c")
    try assert(spark.table("ctas_cat").count() == 1)
    finally spark.sql("DROP TABLE ctas_cat")
  }

  test("INSERT INTO with a column list maps names, fills nulls") {
    val s0 = spark
    import s0.implicits._
    val cid = java.util.UUID.randomUUID().toString
    Seq((1L, 1.0)).toDF("id", "x").coalesce(1)
      .write.parquet(s"${TxnCommit.stagingDir(wh, cid)}/cl")
    val moves = TxnCommit.movesFor(fs, wh, cid, "cl")
    TxnCommit.commit(fs, wh, cid, moves)
    TxnCommit.publish(fs, wh, cid, moves)
    Seq((100L, 1.0)).toDF("id", "x").createOrReplaceTempView("ins_src2")
    // Reversed list: names map, positions don't.
    spark.sql("INSERT INTO cl (x, id) SELECT x * 10, id FROM ins_src2")
    assert(Snapshots.read(spark, wh, "cl").filter($"id" === 100L)
      .select("x").as[Double].head() == 10.0)
    // Partial list: unlisted column fills with null.
    spark.sql("INSERT INTO cl (id) VALUES (200)")
    val nulls = Snapshots.read(spark, wh, "cl").filter($"id" === 200L)
    assert(nulls.count() == 1 && nulls.filter($"x".isNull).count() == 1)
    // Unknown column in the list fails loudly.
    val err = intercept[Exception] {
      spark.sql("INSERT INTO cl (nope) VALUES (1)")
    }
    assert(err.getMessage.contains("unknown column 'nope'"), err.getMessage)
    // Arity mismatch against the list fails loudly.
    val err2 = intercept[Exception] {
      spark.sql("INSERT INTO cl (id, x) SELECT 1")
    }
    assert(err2.getMessage.contains("arity"), err2.getMessage)
  }

  test("DELETE FROM / UPDATE SET are copy-on-write DML for warehouse tables") {
    val s0 = spark
    import s0.implicits._
    val cid = java.util.UUID.randomUUID().toString
    (0 until 10).map(i => (i.toLong, i.toLong)).toDF("id", "v").coalesce(1)
      .write.parquet(s"${TxnCommit.stagingDir(wh, cid)}/d")
    val moves = TxnCommit.movesFor(fs, wh, cid, "d")
    TxnCommit.commit(fs, wh, cid, moves)
    TxnCommit.publish(fs, wh, cid, moves)

    val urow = spark.sql("UPDATE d SET v = v + 100 WHERE id = 3").collect().head
    assert(urow.getLong(1) == 1L)
    assert(Snapshots.read(spark, wh, "d").filter($"id" === 3L)
      .select("v").as[Long].head() == 103L)
    val drow = spark.sql("DELETE FROM d WHERE id >= 8").collect().head
    assert(drow.getLong(1) == 2L)
    assert(Snapshots.read(spark, wh, "d").count() == 8)
    // A non-warehouse target falls through to Spark's own DELETE handling.
    intercept[Exception](spark.sql("DELETE FROM not_a_graft_table WHERE x = 1"))

    // graft.dml.mode=mor routes the same statements to the deletion-vector
    // twins: rows vanish but files_rewritten stays 0 and a vector attaches.
    spark.conf.set("graft.dml.mode", "mor")
    try {
      val mrow = spark.sql("DELETE FROM d WHERE id = 1").collect().head
      assert(mrow.getInt(0) == 0 && mrow.getLong(1) == 1L)
      assert(Snapshots.read(spark, wh, "d").count() == 7)
      assert(Snapshots.snapshot(fs, wh).files("d").exists(_.dv.nonEmpty))
      val urow2 = spark.sql("UPDATE d SET v = 0 WHERE id = 2").collect().head
      assert(urow2.getInt(0) == 0 && urow2.getLong(1) == 1L)
      assert(Snapshots.read(spark, wh, "d").filter($"id" === 2L)
        .select("v").as[Long].head() == 0L)
    } finally spark.conf.unset("graft.dml.mode")
  }

  test("SNAPSHOT CHANGES without FROM reads from the beginning; quoted WHERE survives UPDATE") {
    val s0 = spark
    import s0.implicits._
    val cid = java.util.UUID.randomUUID().toString
    (0 until 5).map(i => (i.toLong, s"n$i")).toDF("id", "name").coalesce(1)
      .write.parquet(s"${TxnCommit.stagingDir(wh, cid)}/g")
    val moves = TxnCommit.movesFor(fs, wh, cid, "g")
    TxnCommit.commit(fs, wh, cid, moves)
    TxnCommit.publish(fs, wh, cid, moves)
    // No FROM = the full retained feed (the suite warehouse was vacuumed
    // by an earlier test, so "-1" would throw; the earliest retained
    // version is the honest beginning).
    val earliest = Snapshots.entries(fs, wh)
      .filterNot(_.isCheckpoint).head.version - 1
    assert(spark.sql("SNAPSHOT CHANGES OF g").count() ==
      Snapshots.changes(spark, wh, "g", fromExclusive = earliest).count())
    // A WHERE inside a string literal must not terminate the SET clause —
    // single-quoted, double-quoted, and escaped-quote variants.
    spark.sql("UPDATE g SET name = 'x WHERE y' WHERE id = 2")
    assert(Snapshots.read(spark, wh, "g").filter($"id" === 2L)
      .select("name").as[String].head() == "x WHERE y")
    spark.sql("UPDATE g SET name = \"a WHERE b\" WHERE id = 3")
    assert(Snapshots.read(spark, wh, "g").filter($"id" === 3L)
      .select("name").as[String].head() == "a WHERE b")
    spark.sql("UPDATE g SET name = 'it\\'s WHERE x' WHERE id = 4")
    assert(Snapshots.read(spark, wh, "g").filter($"id" === 4L)
      .select("name").as[String].head() == "it's WHERE x")
    // Commas inside quoted SET values must not split the assignment list.
    spark.sql("UPDATE g SET name = \"a, b\", id = id WHERE id = 0")
    assert(Snapshots.read(spark, wh, "g").filter($"id" === 0L)
      .select("name").as[String].head() == "a, b")
    // A trailing WHERE with no condition is a syntax error, not a
    // half-parsed empty predicate.
    intercept[Exception](spark.sql("UPDATE g SET name = 'x' WHERE"))
  }

  test("ALTER TABLE RENAME/DROP COLUMN: metadata-only evolution via SQL") {
    val s0 = spark
    import s0.implicits._
    val cid = java.util.UUID.randomUUID().toString
    Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("id", "name", "score")
      .coalesce(1).write.parquet(s"${TxnCommit.stagingDir(wh, cid)}/talter")
    val moves = TxnCommit.movesFor(fs, wh, cid, "talter")
    TxnCommit.commit(fs, wh, cid, moves)
    TxnCommit.publish(fs, wh, cid, moves)
    val filesBefore = Snapshots.snapshot(fs, wh).files("talter").map(_.file).toSet

    spark.sql("ALTER TABLE talter RENAME COLUMN name TO label").collect()
    spark.sql("ALTER TABLE talter DROP COLUMN score").collect()
    assert(Snapshots.snapshot(fs, wh).files("talter").map(_.file).toSet == filesBefore) // no rewrite
    val df = spark.sql("SNAPSHOT OF talter")
    assert(df.columns.toSeq == Seq("id", "label"))
    assert(df.orderBy("id").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "b")))
    // non-graft ALTER falls through to Spark's own resolution
    intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("ALTER TABLE no_such_graft_table RENAME COLUMN a TO b"))
    // REORG … APPLY (PURGE) physically sheds the dropped column
    spark.sql("REORG TABLE talter APPLY (PURGE)").collect()
    assert(Snapshots.snapshot(fs, wh).files("talter").map(_.file)
      .forall(f => !spark.read.parquet(f).columns.contains("score")))
    assert(spark.sql("SNAPSHOT OF talter").orderBy("id")
      .as[(Long, String)].collect().toSeq == Seq((1L, "a"), (2L, "b")))
  }

  test("MERGE INTO lowers the four Delta shapes onto the Merge engines") {
    val s0 = spark
    import s0.implicits._
    def pub(table: String, rows: Seq[(Long, String)]): Unit = {
      val cid = java.util.UUID.randomUUID().toString
      rows.toDF("id", "v").coalesce(1)
        .write.parquet(s"${TxnCommit.stagingDir(wh, cid)}/$table")
      val moves = TxnCommit.movesFor(fs, wh, cid, table)
      TxnCommit.commit(fs, wh, cid, moves)
      TxnCommit.publish(fs, wh, cid, moves)
    }
    pub("tmerge", Seq(1L -> "a", 2L -> "b", 3L -> "c"))
    Seq(2L -> "B2", 9L -> "I9").toDF("id", "v")
      .createOrReplaceTempView("msrc")

    // Canonical upsert: matched row replaced, unmatched inserted.
    val up = spark.sql(
      """MERGE INTO tmerge USING msrc ON tmerge.id = msrc.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect().head
    assert(up.getLong(2) == 1L) // rows_matched
    assert(Snapshots.read(spark, wh, "tmerge").orderBy("id")
      .as[(Long, String)].collect().toSeq ==
      Seq(1L -> "a", 2L -> "B2", 3L -> "c", 9L -> "I9"))

    // Update-only: unmatched source rows must NOT insert.
    Seq(3L -> "C3", 77L -> "nope").toDF("id", "v")
      .createOrReplaceTempView("msrc_u")
    spark.sql(
      """MERGE INTO tmerge USING msrc_u ON tmerge.id = msrc_u.id
        |WHEN MATCHED THEN UPDATE SET *""".stripMargin).collect()
    val afterU = Snapshots.read(spark, wh, "tmerge").orderBy("id")
      .as[(Long, String)].collect().toSeq
    assert(afterU == Seq(1L -> "a", 2L -> "B2", 3L -> "C3", 9L -> "I9"))

    // Insert-only: matched source rows must NOT update.
    Seq(1L -> "nope", 50L -> "I50").toDF("id", "v")
      .createOrReplaceTempView("msrc_i")
    spark.sql(
      """MERGE INTO tmerge USING msrc_i ON tmerge.id = msrc_i.id
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
    assert(Snapshots.read(spark, wh, "tmerge").orderBy("id")
      .as[(Long, String)].collect().toSeq ==
      Seq(1L -> "a", 2L -> "B2", 3L -> "C3", 9L -> "I9", 50L -> "I50"))

    // Matched-delete: rows whose key appears in the source go.
    Seq(2L -> "x", 50L -> "x").toDF("id", "v")
      .createOrReplaceTempView("msrc_d")
    spark.sql(
      """MERGE INTO tmerge USING msrc_d ON tmerge.id = msrc_d.id
        |WHEN MATCHED THEN DELETE""".stripMargin).collect()
    assert(Snapshots.read(spark, wh, "tmerge").orderBy("id")
      .as[(Long, String)].collect().toSeq ==
      Seq(1L -> "a", 3L -> "C3", 9L -> "I9"))

    // Unsupported clause shapes fail loudly, never half-apply.
    intercept[IllegalArgumentException](spark.sql(
      "MERGE INTO tmerge USING msrc ON tmerge.id = msrc.id " +
        "WHEN MATCHED THEN UPDATE SET v = 'x'"))
    intercept[IllegalArgumentException](spark.sql(
      "MERGE INTO tmerge USING msrc ON tmerge.id < msrc.id " +
        "WHEN MATCHED THEN DELETE"))
  }

  test("ordinary SQL falls through to the delegate parser") {
    assert(spark.sql("SELECT 1 + 1 AS two").collect().head.getInt(0) == 2)
    intercept[Exception](spark.sql("OPTIMIZE")) // malformed → delegate error
  }

  test("TBLPROPERTIES: SET / SHOW / UNSET round-trip through SQL") {
    spark.sql("ALTER TABLE t SET TBLPROPERTIES " +
      "('bloom.columns'='id', 'bloom.ndv'='1000')").collect()
    val shown = spark.sql("SHOW TBLPROPERTIES t")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(shown == Map("bloom.columns" -> "id", "bloom.ndv" -> "1000"))
    // The SQL path and the API read the same committed state.
    assert(Snapshots.snapshot(fs, wh).properties("t") == shown)
    spark.sql("ALTER TABLE t UNSET TBLPROPERTIES ('bloom.ndv')").collect()
    assert(Snapshots.snapshot(fs, wh).properties("t") == Map("bloom.columns" -> "id"))
    spark.sql("ALTER TABLE t UNSET TBLPROPERTIES ('bloom.columns')").collect()
    assert(Snapshots.snapshot(fs, wh).properties("t").isEmpty)
  }

  test("TBLPROPERTIES on a pre-first-commit table governs its first write") {
    // The property lands BEFORE any data commit — required for
    // bloom.columns to cover the very first file.
    spark.sql("ALTER TABLE fresh SET TBLPROPERTIES " +
      "('bloom.columns'='name')").collect()
    assert(Snapshots.snapshot(fs, wh).properties("fresh") ==
      Map("bloom.columns" -> "name"))
    val cid = java.util.UUID.randomUUID().toString
    val s0 = spark
    import s0.implicits._
    Seq((1L, "a"), (2L, "b")).toDF("id", "name").coalesce(1).write
      .options(Snapshots.bloomWriteOptionsFor(fs, wh, "fresh", None))
      .parquet(s"${TxnCommit.stagingDir(wh, cid)}/fresh")
    val moves = TxnCommit.movesFor(fs, wh, cid, "fresh")
    TxnCommit.commit(fs, wh, cid, moves)
    TxnCommit.publish(fs, wh, cid, moves)
    val st = graft.ingest.FileStats.decode(
      Snapshots.snapshot(fs, wh).files("fresh").head.stats).get
    assert(st.blooms.contains("name"), "first commit should carry the bloom")
  }

  test("SNAPSHOT HISTORY surfaces operation metrics per commit") {
    spark.sql("CREATE TABLE hm AS SELECT id, x FROM VALUES " +
      "(CAST(1 AS BIGINT), CAST(10.0 AS DOUBLE)), " +
      "(CAST(2 AS BIGINT), CAST(20.0 AS DOUBLE)), " +
      "(CAST(3 AS BIGINT), CAST(30.0 AS DOUBLE)) AS v(id, x)")
    spark.sql("DELETE FROM hm WHERE id = 1")
    spark.sql("UPDATE hm SET x = x + 1 WHERE id >= 2")
    def hist = spark.sql("SNAPSHOT HISTORY OF hm")
      .select("op", "rows_inserted", "rows_updated", "rows_deleted")
      .collect().toSeq.map(r => (r.getString(0),
        if (r.isNullAt(1)) -1L else r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3)))
    // Newest first: the UPDATE (2 rows), the DELETE (1 row), the CTAS
    // append (3 rows inserted, from the stats tokens already in hand).
    assert(hist == Seq(
      ("merge", 0L, 2L, 0L),
      ("merge", 0L, 0L, 1L),
      ("append", 3L, -1L, -1L)), s"got $hist")
  }

  test("ADD/DROP CONSTRAINT: named CHECK constraints gate commits by name") {
    def chain(t: Throwable): String = Iterator.iterate(t)(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    spark.sql("CREATE TABLE ct AS SELECT id, x FROM VALUES " +
      "(CAST(1 AS BIGINT), CAST(10.0 AS DOUBLE)), " +
      "(CAST(2 AS BIGINT), CAST(20.0 AS DOUBLE)) AS v(id, x)")
    spark.sql("ALTER TABLE ct ADD CONSTRAINT xrange CHECK " +
      "(x BETWEEN 0 AND 100 AND id IS NOT NULL)").collect()
    assert(Snapshots.snapshot(fs, wh).properties("ct")
      .get("constraint.check.xrange").nonEmpty)
    // A violating INSERT aborts NAMING the constraint; nothing lands.
    val err = intercept[Exception](
      spark.sql("INSERT INTO ct VALUES (CAST(3 AS BIGINT), CAST(-5.0 AS DOUBLE))"))
    assert(chain(err).contains("CHECK constraint 'xrange'"), chain(err))
    assert(Snapshots.read(spark, wh, "ct").count() == 2)
    // A conforming INSERT passes the gate.
    spark.sql("INSERT INTO ct VALUES (CAST(3 AS BIGINT), CAST(55.0 AS DOUBLE))")
    assert(Snapshots.read(spark, wh, "ct").count() == 3)
    // ADD CONSTRAINT validates EXISTING data from the log's stats tokens:
    // a constraint current rows violate is refused and never lands.
    val err2 = intercept[Exception](spark.sql(
      "ALTER TABLE ct ADD CONSTRAINT xbig CHECK (x >= 1000)").collect())
    assert(chain(err2).contains("CHECK constraint 'xbig'"), chain(err2))
    assert(Snapshots.snapshot(fs, wh).properties("ct")
      .get("constraint.check.xbig").isEmpty)
    // Unsupported CHECK shapes are rejected up front, naming the conjunct.
    val err3 = intercept[Exception](spark.sql(
      "ALTER TABLE ct ADD CONSTRAINT odd CHECK (x + id > 0)").collect())
    assert(chain(err3).contains("unsupported CHECK conjunct"), chain(err3))
    // Dropping a typo'd name errors (a silent no-op would hide the typo
    // while the real constraint keeps rejecting writes); IF EXISTS no-ops.
    val err4 = intercept[Exception](
      spark.sql("ALTER TABLE ct DROP CONSTRAINT xrang").collect())
    assert(chain(err4).contains("no constraint 'xrang'"), chain(err4))
    spark.sql("ALTER TABLE ct DROP CONSTRAINT IF EXISTS xrang").collect()
    // DROP CONSTRAINT re-opens the gate.
    spark.sql("ALTER TABLE ct DROP CONSTRAINT xrange").collect()
    spark.sql("INSERT INTO ct VALUES (CAST(4 AS BIGINT), CAST(-5.0 AS DOUBLE))")
    assert(Snapshots.read(spark, wh, "ct").count() == 4)
  }

  test("ALTER TABLE ADD COLUMN and DESCRIBE DETAIL") {
    val s0 = spark
    import s0.implicits._
    // Fresh table so column evolution doesn't disturb sibling tests.
    val cid = java.util.UUID.randomUUID().toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "name").coalesce(1)
      .write.parquet(s"${TxnCommit.stagingDir(wh, cid)}/addcol")
    val moves = TxnCommit.movesFor(fs, wh, cid, "addcol")
    TxnCommit.commit(fs, wh, cid, moves)
    TxnCommit.publish(fs, wh, cid, moves)

    val phys = spark.sql("ALTER TABLE addcol ADD COLUMN note STRING")
      .collect().head.getString(0)
    assert(phys == "note")
    // The new column reads as null for pre-add files (additive semantics).
    val got = Snapshots.read(spark, wh, "addcol", mergeSchema = true)
    assert(got.columns.contains("note"))
    assert(got.select("note").collect().forall(_.isNullAt(0)))

    val detail = spark.sql("DESCRIBE DETAIL addcol").collect().head
    assert(detail.getAs[String]("table") == "addcol")
    assert(detail.getAs[Long]("num_files") == 1L)
    assert(detail.getAs[Long]("num_rows") == 2L)
    assert(detail.getAs[Long]("size_bytes") > 0L)
    assert(detail.getAs[Long]("files_with_deletion_vectors") == 0L)
  }

  test("table_changes FROM-timestamp inclusivity flag (Delta compat)") {
    // Default: FROM is EXCLUSIVE — a timestamp at the newest commit's
    // moment means "that version is what you already saw", empty feed.
    // With graft.cdf.inclusiveFromTimestamp=true the same timestamp
    // INCLUDES that commit (Delta's startingTimestamp semantics).
    val s0 = spark
    import s0.implicits._
    (0 until 2).foreach { i =>
      val cid = java.util.UUID.randomUUID().toString
      (i * 10 until i * 10 + 10).map(k => (k.toLong, k * 3.0)).toDF("id", "x")
        .coalesce(1).write.parquet(s"${TxnCommit.stagingDir(wh, cid)}/cdf2")
      val moves = TxnCommit.movesFor(fs, wh, cid, "cdf2")
      TxnCommit.commit(fs, wh, cid, moves)
      TxnCommit.publish(fs, wh, cid, moves)
      // Separate the two commit mtimes so a BETWEEN-commits timestamp
      // exists (the inclusivity boundary case below needs one).
      Thread.sleep(5)
    }
    // cdf2's second commit is the warehouse's newest entry.
    val latest = Snapshots.latestVersion(fs, wh).get
    val lastTs = Snapshots.history(spark, wh)
      .orderBy(org.apache.spark.sql.functions.desc("version"))
      .select("committed_at").head().getTimestamp(0)
    val fmt = new java.text.SimpleDateFormat("yyyy-MM-dd HH:mm:ss.SSS")
    val q =
      s"SELECT count(*) FROM table_changes('cdf2', '${fmt.format(lastTs)}')"
    val exclusive = spark.sql(q).head().getLong(0)
    assert(exclusive == 0L,
      s"exclusive FROM at the newest commit's moment must serve nothing, got $exclusive")
    spark.conf.set("graft.cdf.inclusiveFromTimestamp", "true")
    try {
      val inclusive = spark.sql(q).head().getLong(0)
      assert(inclusive == 10L,
        s"inclusive FROM must include the commit at the timestamp, got $inclusive")
      // Numeric version bounds are unaffected by the flag.
      assert(spark.sql(
          s"SELECT count(*) FROM table_changes('cdf2', $latest)")
        .head().getLong(0) == 0L)
      // A timestamp BETWEEN the two commits (no commit lands exactly at
      // it): Delta's startingTimestamp serves changes at-or-after the
      // instant ONLY — the earlier commit stays excluded. This is the
      // exact case where versionAt(ts)-1 double-served a commit; the
      // bound must resolve as versionAt(ts-1), same as the DSv2
      // startingTimestamp option.
      val hist = Snapshots.history(spark, wh)
        .orderBy(org.apache.spark.sql.functions.desc("version"))
        .select("committed_at").limit(2).collect()
        .map(_.getTimestamp(0).getTime)
      val Array(t2, t1) = hist
      assert(t2 > t1 + 1, s"commits not separated: $t1 / $t2")
      val mid = new java.sql.Timestamp((t1 + t2) / 2 max (t1 + 1))
      val between = spark.sql(
        s"SELECT count(*) FROM table_changes('cdf2', '${fmt.format(mid)}')")
        .head().getLong(0)
      assert(between == 10L,
        s"inclusive FROM between commits must exclude the earlier one, " +
          s"got $between")
    } finally spark.conf.unset("graft.cdf.inclusiveFromTimestamp")
  }

  test("DESCRIBE HISTORY of a non-graft table falls through to the delegate") {
    // A configured warehouse must not hijack DESCRIBE HISTORY for tables
    // that don't resolve as graft tables — the delegate's own error (not
    // a silently empty graft history) must surface.
    intercept[Exception](spark.sql("DESCRIBE HISTORY not_a_graft_table"))
    // Sanity: the graft-table form still works after the fall-through.
    assert(spark.sql("DESCRIBE HISTORY t").count() > 0)
  }

  test("metadata-only commits appear in per-table history") {
    val s0 = spark
    import s0.implicits._
    val cid = java.util.UUID.randomUUID().toString
    Seq((1L, 2.0)).toDF("id", "v").coalesce(1)
      .write.parquet(s"${TxnCommit.stagingDir(wh, cid)}/histmeta")
    val moves = TxnCommit.movesFor(fs, wh, cid, "histmeta")
    TxnCommit.commit(fs, wh, cid, moves)
    TxnCommit.publish(fs, wh, cid, moves)
    spark.sql("ALTER TABLE histmeta ADD COLUMN note STRING")
    spark.sql("ALTER TABLE histmeta SET TBLPROPERTIES ('owner' = 'me')")
    val ops = spark.sql("SNAPSHOT HISTORY OF histmeta")
      .select("op").collect().map(_.getString(0)).toSeq
    assert(ops.contains("add_column"), s"ALTER missing from history: $ops")
    assert(ops.contains("set_properties"),
      s"property commit missing from history: $ops")
    // Metadata commits attribute to the table but count no files.
    val metaRow = spark.sql("SNAPSHOT HISTORY OF histmeta")
      .filter("op = 'add_column'").collect().head
    assert(metaRow.getAs[Long]("n_added") == 0L &&
      metaRow.getAs[Long]("n_removed") == 0L)
  }

  test("RESTORE TO TIMESTAMP AS OF rolls back via the log's entry times") {
    val s0 = spark
    import s0.implicits._
    def pub(ids: Seq[Long]): Unit = {
      val cid = java.util.UUID.randomUUID().toString
      ids.map(i => (i, i)).toDF("id", "v").coalesce(1)
        .write.parquet(s"${TxnCommit.stagingDir(wh, cid)}/rts")
      val moves = TxnCommit.movesFor(fs, wh, cid, "rts")
      TxnCommit.commit(fs, wh, cid, moves)
      TxnCommit.publish(fs, wh, cid, moves)
    }
    pub(0L until 5L)
    val v1 = Snapshots.latestVersion(fs, wh).get
    pub(5L until 12L)
    val ts = new java.sql.Timestamp(Snapshots.entries(fs, wh)
      .filterNot(_.isCheckpoint).find(_.version == v1).get.mtime)
    assert(Snapshots.read(spark, wh, "rts").count() == 12)
    spark.sql(s"RESTORE TABLE rts TO TIMESTAMP AS OF '$ts'")
    assert(Snapshots.read(spark, wh, "rts").count() == 5)
  }

  test("ADD COLUMN DEFAULT: pre-add rows read it; stored values win; DML materializes it") {
    val s0 = spark
    import s0.implicits._
    val cid = java.util.UUID.randomUUID().toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "name").coalesce(1)
      .write.parquet(s"${TxnCommit.stagingDir(wh, cid)}/dfl")
    val moves = TxnCommit.movesFor(fs, wh, cid, "dfl")
    TxnCommit.commit(fs, wh, cid, moves)
    TxnCommit.publish(fs, wh, cid, moves)
    spark.sql("ALTER TABLE dfl ADD COLUMN note STRING DEFAULT 'n/a'")
    def notes(): Map[Long, String] = Snapshots.read(spark, wh, "dfl")
      .select("id", "note").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getString(1)))
      .toMap
    assert(notes() == Map(1L -> "n/a", 2L -> "n/a"))
    // Post-add era: stored values — explicit NULLs included — always win.
    val cid2 = java.util.UUID.randomUUID().toString
    Seq((3L, "c", Some("x")), (4L, "d", None: Option[String]))
      .toDF("id", "name", "note").coalesce(1)
      .write.parquet(s"${TxnCommit.stagingDir(wh, cid2)}/dfl")
    val mv2 = TxnCommit.movesFor(fs, wh, cid2, "dfl")
    TxnCommit.commit(fs, wh, cid2, mv2)
    TxnCommit.publish(fs, wh, cid2, mv2)
    assert(notes() == Map(1L -> "n/a", 2L -> "n/a", 3L -> "x", 4L -> null))
    // A rewrite of a pre-add file MATERIALIZES the default for its rows.
    spark.sql("UPDATE dfl SET name = 'A' WHERE id = 1")
    assert(notes() == Map(1L -> "n/a", 2L -> "n/a", 3L -> "x", 4L -> null))
    // Numeric default through the same grammar.
    spark.sql("ALTER TABLE dfl ADD COLUMN score BIGINT DEFAULT 7")
    assert(Snapshots.read(spark, wh, "dfl")
      .selectExpr("cast(score as long)").collect()
      .forall(_.getLong(0) == 7L))
    // Non-literal defaults are rejected at declaration (the per-file
    // reader serves parsed constants — expressions would diverge).
    val exd = intercept[IllegalArgumentException](spark.sql(
      "ALTER TABLE dfl ADD COLUMN bad STRING DEFAULT upper(name)"))
    assert(exd.getMessage.contains("plain literal"), exd.getMessage)
    // OPTIMIZE merges pre-add and post-add files into one: the defaults
    // must MATERIALIZE in the rewrite, never degrade to stored NULLs.
    spark.sql("OPTIMIZE dfl")
    assert(notes() == Map(1L -> "n/a", 2L -> "n/a", 3L -> "x", 4L -> null))
    assert(Snapshots.read(spark, wh, "dfl")
      .selectExpr("cast(score as long)").collect()
      .forall(_.getLong(0) == 7L))
  }

  test("an unreachable warehouse never breaks parsing of non-graft DML") {
    val prev = spark.conf.get("spark.graft.warehouse")
    // An unresolvable filesystem: the probe's getFileSystem/exists throws
    // IOException — isGraftTable must swallow it and fall through, so the
    // user sees the DELEGATE's analysis error (table not found), not a
    // parse-time filesystem failure.
    spark.conf.set("spark.graft.warehouse", "hdfs://no-such-host-xyz:9/wh")
    try {
      val ex = intercept[Exception](
        spark.sql("DELETE FROM some_unrelated_table WHERE x = 1"))
      assert(!ex.isInstanceOf[java.io.IOException],
        s"filesystem failure leaked into parsing: $ex")
    } finally spark.conf.set("spark.graft.warehouse", prev)
  }

  test("ALTER TABLE DROP FEATURE clears the requirement after a purge") {
    val s0 = spark
    import s0.implicits._
    val cid = java.util.UUID.randomUUID().toString
    (0 until 10).map(_.toLong).toDF("id").coalesce(1)
      .write.parquet(s"${TxnCommit.stagingDir(wh, cid)}/dfeat")
    val mv = TxnCommit.movesFor(fs, wh, cid, "dfeat")
    TxnCommit.commit(fs, wh, cid, mv)
    TxnCommit.publish(fs, wh, cid, mv)
    // DV delete stamps the reader feature.
    spark.conf.set("graft.dml.mode", "mor")
    try spark.sql("DELETE FROM dfeat WHERE id = 0")
    finally spark.conf.unset("graft.dml.mode")
    assert(Snapshots.snapshot(fs, wh).features("dfeat")
      .contains("r:deletionVectors"))
    // Refused while a live vector depends on it; the error names the verb.
    val ex = intercept[Exception](
      spark.sql("ALTER TABLE dfeat DROP FEATURE deletionVectors"))
    assert(ex.getMessage.contains("REORG"), ex.getMessage)
    spark.sql("REORG TABLE dfeat APPLY (PURGE)").collect()
    val out = spark.sql("ALTER TABLE dfeat DROP FEATURE deletionVectors")
      .collect()
    assert(out.map(_.getString(0)).toSeq == Seq("deletionVectors"))
    assert(Snapshots.snapshot(fs, wh).features("dfeat").isEmpty)
    assert(spark.sql("SNAPSHOT OF dfeat").count() == 9)
  }
}
