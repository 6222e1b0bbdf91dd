package graft

import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.ingest.{Compaction, Merge, Snapshots, TxnCommit}

/** The vectorized format-read path ([[graft.sql.SnapshotScanRule]]): with
  * the extension installed, `spark.read.format("graft-snapshots")` must
  * plan Spark's own columnar parquet scan — no row-shaped V1 scan node, no
  * InternalRow re-encode — while serving exactly what `Snapshots.read`
  * serves. This is the public read API of the table format; at 100 TB the
  * re-encode the rule removes roughly doubles scan CPU. */
class SnapshotScanRuleSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private lazy val dir = Files.createTempDirectory("graft-scanrule")
  private def wh(name: String) = dir.resolve(name).toString
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
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def pub(w: String, table: String, df: DataFrame,
                  partitionBy: Seq[String] = Nil): Unit = {
    val cid = java.util.UUID.randomUUID().toString
    df.coalesce(1).write.partitionBy(partitionBy: _*)
      .parquet(s"${TxnCommit.stagingDir(w, cid)}/$table")
    val moves = TxnCommit.movesFor(fs, w, cid, table)
    TxnCommit.commit(fs, w, cid, moves)
    TxnCommit.publish(fs, w, cid, moves)
  }

  private def load(w: String): DataFrame =
    spark.read.format("graft-snapshots")
      .option("warehouse", w).option("table", "t").load()

  test("format read plans a columnar parquet scan, not a row-scan node") {
    val w = wh("vec")
    val s0 = spark
    import s0.implicits._
    pub(w, "t", (0L until 100L).map(i => (i, s"n$i", i * 2.0))
      .toDF("id", "name", "v"))
    val p = load(w).queryExecution.executedPlan.toString
    assert(p.contains("Scan parquet"), p)
    assert(!p.contains("ExistingRDD") && !p.contains("RowDataSourceScan"), p)
  }

  test("filters reach the parquet scan as pushed filters; projection prunes") {
    val w = wh("push")
    val s0 = spark
    import s0.implicits._
    pub(w, "t", (0L until 100L).map(i => (i, s"n$i", i * 2.0))
      .toDF("id", "name", "v"))
    val df = load(w).filter(org.apache.spark.sql.functions.col("id") > 50L)
      .select("id", "name")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("GreaterThan(id,50)"), p)
    val read = "ReadSchema: [^\\n]*".r.findFirstIn(p).getOrElse("")
    assert(!read.contains("\"v\""), read)
    assert(df.count() == 49)
  }

  test("format read ≡ Snapshots.read (values, filter, self-join)") {
    val w = wh("equiv")
    val s0 = spark
    import s0.implicits._
    pub(w, "t", (0L until 50L).map(i => (i, i % 7)).toDF("id", "g"))
    Merge.deleteKeys(s0, w, "t",
      Seq(3L, 4L).toDF("id"), Seq("id"))
    val api = Snapshots.read(spark, w, "t").collect().map(_.toString).sorted
    val fmt = load(w).collect().map(_.toString).sorted
    assert(api.toSeq == fmt.toSeq)
    // Self-join: each relation node splices independently (distinct ids).
    val df = load(w)
    val j = df.as("a").join(df.as("b"), "id").filter("a.g = b.g")
    assert(j.count() == 48)
    // Filtered read matches the predicate applied after the fact.
    val f = load(w).filter("id >= 40").collect().map(_.getLong(0)).sorted
    assert(f.toSeq == (40L until 50L).toSeq)
  }

  test("catalog reads splice to the columnar parquet scan too") {
    val w = wh("catVec")
    val s0 = spark
    import s0.implicits._
    spark.conf.set("spark.sql.catalog.gcat",
      classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gcat.warehouse", w)
    pub(w, "t", (0L until 100L).map(i => (i, s"n$i", i * 2.0))
      .toDF("id", "name", "v"))
    val q = spark.sql("SELECT id, v FROM gcat.t WHERE id >= 90")
    val p = q.queryExecution.executedPlan.toString
    // Spliced: the physical plan is the vectorized parquet scan, not the
    // per-file DSv2 BatchScan fallback.
    assert(p.contains("Scan parquet"), p)
    assert(!p.contains("BatchScan") && !p.contains("RowDataSourceScan"), p)
    assert(q.as[(Long, Double)].collect().toSeq.sorted ==
      (90L until 100L).map(i => (i, i * 2.0)))
    // The regex CTAS surface must NOT hijack catalog-qualified names even
    // with a graft warehouse configured: catalog CTAS goes through the
    // catalog (and lands in ITS warehouse).
    spark.conf.set("spark.graft.warehouse", wh("catVecOther"))
    try {
      spark.sql("CREATE TABLE gcat.ct AS SELECT 1L AS one")
      assert(Snapshots.fileMeta(fs, w, "ct").exists(_.nonEmpty),
        "catalog CTAS must land in the catalog's warehouse")
      assert(spark.sql("SELECT one FROM gcat.ct").as[Long]
        .collect().toSeq == Seq(1L))
    } finally spark.conf.unset("spark.graft.warehouse")
  }

  test("catalog UPDATE/DELETE/MERGE lower onto the Merge engines") {
    val w = wh("catDml")
    val s0 = spark
    import s0.implicits._
    spark.conf.set("spark.sql.catalog.gdml",
      classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gdml.warehouse", w)
    (0L until 10L).map(i => (i, i * 10)).toDF("id", "v").coalesce(1)
      .createOrReplaceTempView("dml_src")
    spark.sql("CREATE TABLE gdml.t AS SELECT id, v FROM dml_src")

    // UPDATE with an expression assignment and a non-trivially-translatable
    // predicate (modulo) — only the catalog DML rule can serve this.
    spark.sql("UPDATE gdml.t SET v = v + 1 WHERE id % 3 = 0")
    assert(spark.sql("SELECT sum(v) FROM gdml.t").head().getLong(0) ==
      (0L until 10L).map(i => i * 10 + (if (i % 3 == 0) 1 else 0)).sum)

    // DELETE with an arithmetic predicate (SupportsDelete can't translate).
    spark.sql("DELETE FROM gdml.t WHERE id % 4 = 1")
    assert(spark.sql("SELECT id FROM gdml.t ORDER BY id").as[Long]
      .collect().toSeq == (0L until 10L).filter(_ % 4 != 1))

    // MERGE: upsert star shape with a view source.
    Seq((2L, 999L), (100L, 1000L)).toDF("id", "v")
      .createOrReplaceTempView("dml_upd")
    spark.sql(
      """MERGE INTO gdml.t USING dml_upd ON gdml.t.id = dml_upd.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val after = spark.sql("SELECT id, v FROM gdml.t ORDER BY id")
      .as[(Long, Long)].collect().toMap
    assert(after(2L) == 999L && after(100L) == 1000L)
    assert(after.size == (0L until 10L).count(_ % 4 != 1) + 1)

    // MERGE delete-matched shape.
    Seq(Tuple1(3L)).toDF("id").createOrReplaceTempView("dml_del")
    spark.sql(
      """MERGE INTO gdml.t USING dml_del ON gdml.t.id = dml_del.id
        |WHEN MATCHED THEN DELETE""".stripMargin)
    assert(!spark.sql("SELECT id FROM gdml.t").as[Long]
      .collect().contains(3L))
  }

  test("MERGE mirror-sync shapes: NOT MATCHED BY SOURCE DELETE") {
    val w = wh("catSync")
    val s0 = spark
    import s0.implicits._
    spark.conf.set("spark.sql.catalog.gs",
      classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gs.warehouse", w)
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v").coalesce(1)
      .createOrReplaceTempView("sync_t")
    spark.sql("CREATE TABLE gs.t AS SELECT id, v FROM sync_t")
    val vBefore = {
      val fsW = new Path(w).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      Snapshots.latestVersion(fsW, w).get
    }
    // Full mirror: the table BECOMES the source in one version.
    Seq((2L, "B"), (4L, "d")).toDF("id", "v")
      .createOrReplaceTempView("sync_src")
    spark.sql(
      """MERGE INTO gs.t USING sync_src ON gs.t.id = sync_src.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *
        |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
    assert(spark.sql("SELECT id, v FROM gs.t ORDER BY id")
      .as[(Long, String)].collect().toSeq == Seq(2L -> "B", 4L -> "d"))
    // One atomic version; the pre-sync state time-travels.
    val fsW = new Path(w).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(Snapshots.latestVersion(fsW, w).get == vBefore + 1)
    assert(spark.sql(s"SELECT count(*) FROM gs.t VERSION AS OF $vBefore")
      .head().getLong(0) == 3)

    // NMBS DELETE alone: prune keys the source no longer has.
    Seq(Tuple1(2L)).toDF("id").createOrReplaceTempView("sync_keep")
    spark.sql(
      """MERGE INTO gs.t USING sync_keep ON gs.t.id = sync_keep.id
        |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
    assert(spark.sql("SELECT id FROM gs.t").as[Long]
      .collect().toSeq == Seq(2L))

    // UPDATE* + NMBS DELETE (no INSERT): source restricted to existing
    // keys — new source keys are NOT inserted, missing ones are dropped.
    spark.sql("INSERT INTO gs.t SELECT 5L, 'e'") // table: {2, 5}
    Seq((2L, "Z"), (9L, "q")).toDF("id", "v")
      .createOrReplaceTempView("sync_upd")
    spark.sql(
      """MERGE INTO gs.t USING sync_upd ON gs.t.id = sync_upd.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
    assert(spark.sql("SELECT id, v FROM gs.t").as[(Long, String)]
      .collect().toSeq == Seq(2L -> "Z"))

    // Duplicate source keys are rejected.
    Seq((7L, "x"), (7L, "y")).toDF("id", "v")
      .createOrReplaceTempView("sync_dup")
    val err = intercept[Exception](spark.sql(
      """MERGE INTO gs.t USING sync_dup ON gs.t.id = sync_dup.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *
        |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin))
    assert(err.getMessage.contains("duplicate keys"), err.getMessage)
  }

  test("mirror-sync MERGE reads its source exactly once (dup check rides the write)") {
    val w = wh("catSyncOnce")
    val s0 = spark
    import s0.implicits._
    spark.conf.set("spark.sql.catalog.gso",
      classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gso.warehouse", w)
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1)
      .createOrReplaceTempView("so_t")
    spark.sql("CREATE TABLE gso.t AS SELECT id, v FROM so_t")
    // An accumulator-ticking source: each scan of a row bumps the count,
    // so evals == rowCount proves ONE source pass (the old implementation
    // ran a separate duplicate-key aggregation first → 2× the count).
    val evals = spark.sparkContext.longAccumulator("srcEvals")
    val tick = org.apache.spark.sql.functions.udf { (id: Long) =>
      evals.add(1); id }
    spark.range(1, 5).select(tick(org.apache.spark.sql.functions.col("id")).as("id"),
        org.apache.spark.sql.functions.concat(
          org.apache.spark.sql.functions.lit("v"),
          org.apache.spark.sql.functions.col("id")).as("v"))
      .createOrReplaceTempView("so_src")
    spark.sql(
      """MERGE INTO gso.t USING so_src ON gso.t.id = so_src.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *
        |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
    assert(spark.sql("SELECT id FROM gso.t ORDER BY id").as[Long]
      .collect().toSeq == Seq(1L, 2L, 3L, 4L))
    assert(evals.value == 4L,
      s"mirror-sync MERGE evaluated the source ${evals.value} times for 4 rows")
  }

  test("conditional and column-level MERGE clauses lower onto the general engine") {
    val w = wh("catCondMerge")
    val s0 = spark
    import s0.implicits._
    spark.conf.set("spark.sql.catalog.gcm",
      classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gcm.warehouse", w)
    (0L until 6L).map(i => (i, i * 10)).toDF("id", "v").coalesce(1)
      .createOrReplaceTempView("cm_t")
    spark.sql("CREATE TABLE gcm.t AS SELECT id, v FROM cm_t")
    Seq((1L, 200L), (2L, -5L), (3L, 50L), (10L, 7L), (11L, -1L))
      .toDF("id", "v").createOrReplaceTempView("cm_src")
    // First acting clause wins; matched-but-unacted rows survive; a
    // failed NOT MATCHED condition suppresses the insert.
    spark.sql(
      """MERGE INTO gcm.t USING cm_src ON gcm.t.id = cm_src.id
        |WHEN MATCHED AND cm_src.v > 100 THEN UPDATE SET v = gcm.t.v + cm_src.v
        |WHEN MATCHED AND cm_src.v < 0 THEN DELETE
        |WHEN NOT MATCHED AND cm_src.v >= 0
        |  THEN INSERT (id, v) VALUES (cm_src.id, cm_src.v * 2)""".stripMargin)
    assert(spark.sql("SELECT id, v FROM gcm.t ORDER BY id")
      .as[(Long, Long)].collect().toSeq ==
      Seq(0L -> 0L, 1L -> 210L, 3L -> 30L, 4L -> 40L, 5L -> 50L, 10L -> 14L))
    // The change feed records the acted rows faithfully.
    val cdf = Snapshots.changes(spark, w, "t", fromExclusive = 0L)
      .select("id", "_change_type").as[(Long, String)].collect().toSet
    assert(cdf == Set((1L, "update_preimage"), (1L, "update_postimage"),
      (2L, "delete"), (10L, "insert")), s"cdf=$cdf")
    // Unconditional column-level UPDATE (no star): v = 0 for matched keys.
    Seq(Tuple1(4L)).toDF("id").createOrReplaceTempView("cm_zero")
    spark.sql(
      """MERGE INTO gcm.t USING cm_zero ON gcm.t.id = cm_zero.id
        |WHEN MATCHED THEN UPDATE SET v = 0""".stripMargin)
    assert(spark.sql("SELECT v FROM gcm.t WHERE id = 4").as[Long]
      .collect().toSeq == Seq(0L))
    // Multi-match contract: two source rows acting on one target row fail.
    Seq((1L, 500L), (1L, 600L)).toDF("id", "v")
      .createOrReplaceTempView("cm_dup")
    val err = intercept[Exception](spark.sql(
      """MERGE INTO gcm.t USING cm_dup ON gcm.t.id = cm_dup.id
        |WHEN MATCHED THEN UPDATE SET v = cm_dup.v""".stripMargin))
    assert(err.getMessage.contains("multiple source rows"), err.getMessage)
  }

  test("conditional NOT MATCHED BY SOURCE clauses act on unmatched target rows") {
    val w = wh("catNmbs")
    val s0 = spark
    import s0.implicits._
    spark.conf.set("spark.sql.catalog.gnb",
      classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gnb.warehouse", w)
    (0L until 8L).map(i => (i, i * 10)).toDF("id", "v").coalesce(1)
      .createOrReplaceTempView("nb_t")
    spark.sql("CREATE TABLE gnb.t AS SELECT id, v FROM nb_t")
    Seq((1L, 111L), (2L, 222L)).toDF("id", "v")
      .createOrReplaceTempView("nb_src")
    // Matched rows update; unmatched target rows: small v zeroed
    // (conditional NMBS UPDATE), large v deleted (conditional NMBS DELETE);
    // in-between (v = 40, 50) survive untouched.
    spark.sql(
      """MERGE INTO gnb.t USING nb_src ON gnb.t.id = nb_src.id
        |WHEN MATCHED THEN UPDATE SET v = nb_src.v
        |WHEN NOT MATCHED BY SOURCE AND gnb.t.v < 40 THEN UPDATE SET v = 0
        |WHEN NOT MATCHED BY SOURCE AND gnb.t.v > 50 THEN DELETE""".stripMargin)
    assert(spark.sql("SELECT id, v FROM gnb.t ORDER BY id")
      .as[(Long, Long)].collect().toSeq ==
      Seq(0L -> 0L, 1L -> 111L, 2L -> 222L, 3L -> 0L, 4L -> 40L, 5L -> 50L))
    // The change feed records NMBS actions like any other clause.
    val cdf = Snapshots.changes(spark, w, "t", fromExclusive = 0L)
      .select("id", "_change_type").as[(Long, String)].collect().toSet
    assert(cdf == Set(
      (1L, "update_preimage"), (1L, "update_postimage"),
      (2L, "update_preimage"), (2L, "update_postimage"),
      (0L, "update_preimage"), (0L, "update_postimage"),
      (3L, "update_preimage"), (3L, "update_postimage"),
      (6L, "delete"), (7L, "delete")), s"cdf=$cdf")
  }

  test("MERGE ON pairs differently-named key columns") {
    val w = wh("catDiffKeys")
    val s0 = spark
    import s0.implicits._
    spark.conf.set("spark.sql.catalog.gdk",
      classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gdk.warehouse", w)
    (0L until 6L).map(i => (i, i * 10)).toDF("id", "v").coalesce(1)
      .createOrReplaceTempView("dk_t")
    spark.sql("CREATE TABLE gdk.t AS SELECT id, v FROM dk_t")
    Seq((2L, 999L), (9L, 900L)).toDF("customer_id", "amount")
      .createOrReplaceTempView("dk_src")
    // Differently-named ON keys + column-level clauses → general engine.
    spark.sql(
      """MERGE INTO gdk.t USING dk_src ON gdk.t.id = dk_src.customer_id
        |WHEN MATCHED THEN UPDATE SET v = dk_src.amount
        |WHEN NOT MATCHED
        |  THEN INSERT (id, v) VALUES (dk_src.customer_id, dk_src.amount)""".stripMargin)
    assert(spark.sql("SELECT id, v FROM gdk.t ORDER BY id")
      .as[(Long, Long)].collect().toSeq ==
      Seq(0L -> 0L, 1L -> 10L, 2L -> 999L, 3L -> 30L, 4L -> 40L,
        5L -> 50L, 9L -> 900L))
    // Reversed equality order resolves the same pairing.
    Seq(Tuple1(9L)).toDF("cid").createOrReplaceTempView("dk_del")
    spark.sql(
      """MERGE INTO gdk.t USING dk_del ON dk_del.cid = gdk.t.id
        |WHEN MATCHED THEN DELETE""".stripMargin)
    assert(!spark.sql("SELECT id FROM gdk.t").as[Long]
      .collect().contains(9L))
  }

  test("ALTER COLUMN TYPE widening serves through the spliced scan") {
    val w = wh("catWiden")
    val s0 = spark
    import s0.implicits._
    import org.apache.spark.sql.types.{DoubleType, LongType}
    spark.conf.set("spark.sql.catalog.gwd",
      classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gwd.warehouse", w)
    spark.sql("CREATE TABLE gwd.t AS SELECT * FROM VALUES " +
      "(CAST(7 AS INT), 'a', CAST(1.5 AS FLOAT)), " +
      "(CAST(-7 AS INT), 'b', CAST(-2.25 AS FLOAT)) AS s(id, v, x)")
    spark.sql("ALTER TABLE gwd.t ALTER COLUMN id TYPE BIGINT")
    spark.sql("ALTER TABLE gwd.t ALTER COLUMN x TYPE DOUBLE")
    // Under the extensions the catalog read splices to the vectorized
    // parquet plan — the narrow (int32/float) file must still serve, and
    // execute, at the wide type.
    val df = spark.sql("SELECT id, x FROM gwd.t")
    val executed = df.queryExecution.executedPlan.schema
    assert(df.schema("id").dataType == LongType)
    assert(executed("id").dataType == LongType, executed)
    assert(executed("x").dataType == DoubleType, executed)
    assert(df.as[(Long, Double)].collect().toSeq.sorted ==
      Seq(-7L -> -2.25, 7L -> 1.5))
    // Arithmetic at the wide type: INT would overflow here.
    assert(spark.sql("SELECT id + 2147483647 FROM gwd.t").as[Long]
      .collect().toSeq.sorted == Seq(2147483640L, 2147483654L))
    spark.sql("INSERT INTO gwd.t SELECT 4000000000L, 'c', 0.5D")
    assert(spark.sql("SELECT sum(id) FROM gwd.t").head().getLong(0) ==
      4000000000L)
  }

  test("a BIGINT partition column filters at its declared type") {
    val s0 = spark
    import s0.implicits._
    spark.conf.set("spark.sql.catalog.gpb",
      classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gpb.warehouse", wh("catPartBig"))
    spark.sql("CREATE TABLE gpb.p (id BIGINT, g BIGINT) PARTITIONED BY (g)")
    spark.sql("INSERT INTO gpb.p VALUES (1L, 1L), (2L, 2L), (3L, 1L)")
    // Path inference types `g` as INT; the catalog declares BIGINT.
    assert(spark.sql("SELECT id FROM gpb.p WHERE g = 1").as[Long]
      .collect().toSeq.sorted == Seq(1L, 3L))
  }

  test("a STRING partition column keeps its path strings verbatim") {
    val s0 = spark
    import s0.implicits._
    spark.conf.set("spark.sql.catalog.gps",
      classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gps.warehouse", wh("catPartStr"))
    spark.sql("CREATE TABLE gps.p (id BIGINT, h STRING) PARTITIONED BY (h)")
    spark.sql("INSERT INTO gps.p VALUES (1L, '05'), (2L, '1.50'), (3L, '007')")
    // Path inference would read these as 5, 1.5 and 7.
    assert(spark.sql("SELECT h FROM gps.p").as[String].collect().toSeq.sorted ==
      Seq("007", "05", "1.50"))
    assert(spark.sql("SELECT id FROM gps.p WHERE h = '05'").as[Long]
      .collect().toSeq == Seq(1L))
    assert(spark.sql("SELECT id, h FROM gps.p WHERE id = 2").as[(Long, String)]
      .collect().toSeq == Seq(2L -> "1.50"))
  }

  test("a stats-pruned format read keeps the table's partition type") {
    val w = wh("prunePartType")
    val s0 = spark
    import s0.implicits._
    pub(w, "t", (0L until 10L).map(i => (i, "01")).toDF("id", "g"), Seq("g"))
    pub(w, "t", (100L until 110L).map(i => (i, "x")).toDF("id", "g"), Seq("g"))
    // The table infers `g` as STRING; the surviving g=01 file alone would
    // infer INT 1.
    val df = load(w).filter($"id" < 3L).select("id", "g")
    assert(df.as[(Long, String)].collect().toSeq.sorted ==
      Seq(0L -> "01", 1L -> "01", 2L -> "01"))
  }

  test("a column added before any file carries it serves as a typed null") {
    spark.conf.set("spark.sql.catalog.gac",
      classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gac.warehouse", wh("catAddCol"))
    spark.sql("CREATE TABLE gac.t AS SELECT 1L AS id")
    spark.sql("ALTER TABLE gac.t ADD COLUMN c INT")
    val df = spark.sql("SELECT id, c + 1 AS c1 FROM gac.t")
    assert(df.schema("c1").dataType == org.apache.spark.sql.types.IntegerType)
    val rows = df.collect()
    assert(rows.length == 1 && rows(0).getLong(0) == 1L && rows(0).isNullAt(1))
  }

  test("a declared table with no files reads as empty") {
    spark.conf.set("spark.sql.catalog.gem",
      classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gem.warehouse", wh("catEmpty"))
    spark.sql("CREATE TABLE gem.e (id BIGINT, v STRING)")
    val df = spark.sql("SELECT * FROM gem.e")
    assert(df.columns.toSeq == Seq("id", "v"))
    assert(df.collect().isEmpty)
    assert(spark.sql("SELECT count(*) FROM gem.e").head().getLong(0) == 0L)
  }

  test("TBLPROPERTIES never pin a catalog read's version") {
    spark.conf.set("spark.sql.catalog.gtp",
      classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gtp.warehouse", wh("catTblProps"))
    spark.sql("CREATE TABLE gtp.f AS SELECT id FROM range(100)")
    spark.sql("ALTER TABLE gtp.f SET TBLPROPERTIES ('versionAsOf'='0')")
    spark.sql("INSERT INTO gtp.f SELECT id FROM range(100, 250)")
    assert(spark.sql("SELECT count(*) FROM gtp.f").head().getLong(0) == 250L)
    assert(spark.sql("SHOW TBLPROPERTIES gtp.f").collect()
      .exists(r => r.getString(0) == "versionAsOf" && r.getString(1) == "0"))
  }

  test("MERGE ON with a non-equi residual scopes matching") {
    val w = wh("catOnRes")
    val s0 = spark
    import s0.implicits._
    spark.conf.set("spark.sql.catalog.gor",
      classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gor.warehouse", w)
    Seq((1L, "d1", 10L), (2L, "d1", 20L), (1L, "d2", 30L), (3L, "d2", 40L))
      .toDF("id", "dt", "v").coalesce(1).createOrReplaceTempView("or_t")
    spark.sql("CREATE TABLE gor.t AS SELECT id, dt, v FROM or_t")
    Seq((1L, 100L), (2L, 200L), (9L, 900L)).toDF("id", "v")
      .createOrReplaceTempView("or_src")
    // Residual t.dt = 'd1': only d1 rows match — (1, d2) must NOT update,
    // and the NOT MATCHED insert must not fire for keys matched in d1.
    spark.sql(
      """MERGE INTO gor.t USING or_src
        |ON gor.t.id = or_src.id AND gor.t.dt = 'd1'
        |WHEN MATCHED THEN UPDATE SET v = or_src.v
        |WHEN NOT MATCHED THEN INSERT (id, dt, v) VALUES (or_src.id, 'new', or_src.v)""".stripMargin)
    assert(spark.sql("SELECT id, dt, v FROM gor.t ORDER BY id, dt")
      .as[(Long, String, Long)].collect().toSeq == Seq(
        (1L, "d1", 100L), (1L, "d2", 30L), (2L, "d1", 200L),
        (3L, "d2", 40L), (9L, "new", 900L)))
    // A key whose only pairs FAIL the residual inserts (id 3 is d2-only).
    Seq((3L, 333L)).toDF("id", "v").createOrReplaceTempView("or_src2")
    spark.sql(
      """MERGE INTO gor.t USING or_src2
        |ON gor.t.id = or_src2.id AND gor.t.dt = 'd1'
        |WHEN MATCHED THEN UPDATE SET v = or_src2.v
        |WHEN NOT MATCHED THEN INSERT (id, dt, v) VALUES (or_src2.id, 'new', or_src2.v)""".stripMargin)
    assert(spark.sql("SELECT dt, v FROM gor.t WHERE id = 3 ORDER BY dt")
      .as[(String, Long)].collect().toSeq ==
      Seq("d2" -> 40L, "new" -> 333L))
  }

  test("IN-subquery DML conditions lower onto the keyed merge engine") {
    val w = wh("catSubq")
    val s0 = spark
    import s0.implicits._
    spark.conf.set("spark.sql.catalog.gsq",
      classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gsq.warehouse", w)
    (0L until 10L).map(i => (i, i * 10)).toDF("id", "v").coalesce(1)
      .createOrReplaceTempView("sq_t")
    spark.sql("CREATE TABLE gsq.t AS SELECT id, v FROM sq_t")
    // DELETE … WHERE id IN (SELECT …): subquery becomes the keyed source.
    Seq(Tuple1(2L), Tuple1(5L), Tuple1(5L), Tuple1(99L)).toDF("k")
      .createOrReplaceTempView("sq_del")
    spark.sql("DELETE FROM gsq.t WHERE id IN (SELECT k FROM sq_del)")
    assert(spark.sql("SELECT id FROM gsq.t ORDER BY id").as[Long]
      .collect().toSeq == Seq(0L, 1L, 3L, 4L, 6L, 7L, 8L, 9L))
    // Residual subquery-free conjunct: applies on top of membership.
    Seq(Tuple1(3L), Tuple1(4L)).toDF("k").createOrReplaceTempView("sq_del2")
    spark.sql(
      "DELETE FROM gsq.t WHERE id IN (SELECT k FROM sq_del2) AND v > 35")
    assert(spark.sql("SELECT id FROM gsq.t ORDER BY id").as[Long]
      .collect().toSeq == Seq(0L, 1L, 3L, 6L, 7L, 8L, 9L))
    // UPDATE with an IN-subquery condition and an expression assignment.
    spark.sql(
      "UPDATE gsq.t SET v = v + 1 WHERE id IN (SELECT k FROM sq_del2)")
    assert(spark.sql("SELECT v FROM gsq.t WHERE id = 3").as[Long]
      .collect().toSeq == Seq(31L))
    // NOT IN: unmatched rows act, with full three-valued-logic semantics.
    // Table here: ids {0,1,3,6,7,8,9} with v = id*10 except v(3)=31.
    Seq(Tuple1(0L), Tuple1(1L), Tuple1(3L), Tuple1(6L)).toDF("k")
      .createOrReplaceTempView("sq_keep")
    spark.sql(
      "DELETE FROM gsq.t WHERE id NOT IN (SELECT k FROM sq_keep) AND v < 90")
    // 7 and 8 are not in the keep-set and v < 90 → deleted; 9 kept (v=90).
    assert(spark.sql("SELECT id FROM gsq.t ORDER BY id").as[Long]
      .collect().toSeq == Seq(0L, 1L, 3L, 6L, 9L))
    // A NULL in the subquery makes NOT IN never-true: statement no-ops.
    Seq(Some(0L), None).toDF("k").createOrReplaceTempView("sq_null")
    spark.sql("DELETE FROM gsq.t WHERE id NOT IN (SELECT k FROM sq_null)")
    assert(spark.sql("SELECT count(*) FROM gsq.t").head().getLong(0) == 5)
    // UPDATE via NOT IN.
    spark.sql(
      "UPDATE gsq.t SET v = -1 WHERE id NOT IN (SELECT k FROM sq_del2)")
    assert(spark.sql("SELECT count(*) FROM gsq.t WHERE v = -1")
      .head().getLong(0) == 4) // all but id=3 (sq_del2 = {3, 4})
    // Table at this point: ids {0,1,3,6,9}, v = -1 except v(3)=31.
    // Equality-correlated EXISTS decorrelates onto the IN machinery.
    Seq(Tuple1(0L), Tuple1(9L)).toDF("k").createOrReplaceTempView("sq_ex")
    spark.sql(
      "DELETE FROM gsq.t WHERE EXISTS (SELECT 1 FROM sq_ex WHERE k = id)")
    assert(spark.sql("SELECT id FROM gsq.t ORDER BY id").as[Long]
      .collect().toSeq == Seq(1L, 3L, 6L))
    // NOT EXISTS (with an s-side predicate) → the NMBS machinery.
    Seq((1L, true), (3L, false), (6L, true)).toDF("k", "keep")
      .createOrReplaceTempView("sq_nex")
    spark.sql(
      "DELETE FROM gsq.t WHERE NOT EXISTS " +
        "(SELECT 1 FROM sq_nex WHERE k = id AND keep)")
    assert(spark.sql("SELECT id FROM gsq.t ORDER BY id").as[Long]
      .collect().toSeq == Seq(1L, 6L))
    // Non-equality correlation keeps a crisp unsupported error.
    val err = intercept[Exception](spark.sql(
      "DELETE FROM gsq.t WHERE EXISTS (SELECT 1 FROM sq_ex WHERE k > id)"))
    assert(err.getMessage.contains("unsupported subquery"), err.getMessage)
    // Uncorrelated SCALAR subqueries evaluate at run time and splice as
    // literals — in conditions and in assignment values.
    // Table here: ids {1, 6}, both v = -1.
    spark.sql("UPDATE gsq.t SET v = (SELECT max(k) FROM sq_ex) " +
      "WHERE id > (SELECT min(k) FROM sq_nex)")
    assert(spark.sql("SELECT id, v FROM gsq.t ORDER BY id")
      .as[(Long, Long)].collect().toSeq == Seq(1L -> -1L, 6L -> 9L))
    spark.sql("DELETE FROM gsq.t WHERE v = (SELECT max(k) FROM sq_ex)")
    assert(spark.sql("SELECT id FROM gsq.t").as[Long]
      .collect().toSeq == Seq(1L))
  }

  test("multi-column and correlated NOT IN lower with exact 3VL semantics") {
    val w = wh("catNotIn")
    val s0 = spark
    import s0.implicits._
    spark.conf.set("spark.sql.catalog.gni",
      classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gni.warehouse", w)
    // Multi-column tuples with NULL components on both sides.
    Seq((Some(0L), Some(0L), 0L), (Some(1L), Some(1L), 10L),
      (Some(2L), Some(2L), 20L), (Some(3L), None, 30L),
      (None, Some(4L), 40L), (Some(5L), Some(5L), 50L),
      (Some(6L), Some(6L), 60L))
      .toDF("a", "b", "v").coalesce(1).createOrReplaceTempView("ni_t")
    spark.sql("CREATE TABLE gni.t2 AS SELECT a, b, v FROM ni_t")
    Seq((Some(1L), Some(1L)), (Some(3L), Some(7L)), (Some(5L), None))
      .toDF("x", "y").createOrReplaceTempView("ni_m1")
    spark.sql(
      "DELETE FROM gni.t2 WHERE (a, b) NOT IN (SELECT x, y FROM ni_m1)")
    // (0,0),(2,2),(6,6) definitely absent → deleted. (1,1) matches.
    // (3,NULL) vs (3,7) is UNKNOWN → survives; (NULL,4) vs (5,NULL) is
    // UNKNOWN → survives; (5,5) vs (5,NULL) is UNKNOWN → survives.
    assert(spark.sql("SELECT v FROM gni.t2 ORDER BY v").as[Long]
      .collect().toSeq == Seq(10L, 30L, 40L, 50L))
    // Equality-correlated NOT IN: per-row membership in the correlated
    // slice; a NULL correlation key yields an empty list → row acts.
    Seq((Some(1L), Some(10L), 0L), (Some(1L), Some(12L), 0L),
      (Some(2L), Some(5L), 0L), (Some(3L), Some(7L), 0L),
      (None, Some(8L), 0L))
      .toDF("g", "k", "v").coalesce(1).createOrReplaceTempView("ni_t3")
    spark.sql("CREATE TABLE gni.t3 AS SELECT g, k, v FROM ni_t3")
    Seq((Some(1L), Some(10L)), (Some(1L), Some(11L)), (Some(2L), None))
      .toDF("g2", "k2").createOrReplaceTempView("ni_c1")
    spark.sql(
      """UPDATE gni.t3 SET v = -1 WHERE k NOT IN
        |  (SELECT k2 FROM ni_c1 WHERE ni_c1.g2 = gni.t3.g)""".stripMargin)
    // (1,10) in its slice → keep; (1,12) definitely absent → act;
    // (2,5) vs NULL member → UNKNOWN → keep; (3,7) empty slice → act;
    // (NULL,8) NULL correlation → empty slice → act.
    assert(spark.sql("SELECT k, v FROM gni.t3 ORDER BY k")
      .as[(Long, Long)].collect().toSeq == Seq(
        5L -> 0L, 7L -> -1L, 8L -> -1L, 10L -> 0L, 12L -> -1L))
    // Equality-correlated IN: per-row membership in the slice — strict
    // equality throughout, so a NULL member or a NULL correlation key
    // simply never matches. Only (g=1, k=10) is in its own slice.
    spark.sql(
      """UPDATE gni.t3 SET v = 100 WHERE k IN
        |  (SELECT k2 FROM ni_c1 WHERE ni_c1.g2 = gni.t3.g)""".stripMargin)
    assert(spark.sql("SELECT k, v FROM gni.t3 ORDER BY k")
      .as[(Long, Long)].collect().toSeq == Seq(
        5L -> 0L, 7L -> -1L, 8L -> -1L, 10L -> 100L, 12L -> -1L))
    // Multiple subquery conjuncts: the first lowers as the engine's
    // source; the second (uncorrelated single-column NOT IN) inlines as
    // a bounded literal list. A NULL in the secondary NOT IN makes the
    // whole statement a no-op (3VL), exactly as a primary would.
    Seq(Some(0L), None).toDF("x").createOrReplaceTempView("ni_nullsec")
    spark.sql(
      """DELETE FROM gni.t3 WHERE k IN (SELECT k2 FROM ni_c1)
        |  AND k NOT IN (SELECT x FROM ni_nullsec)""".stripMargin)
    assert(spark.sql("SELECT count(*) FROM gni.t3").head().getLong(0) == 5)
    Seq(Tuple1(12L)).toDF("x").createOrReplaceTempView("ni_keep12")
    spark.sql(
      """DELETE FROM gni.t3 WHERE k IN (SELECT k2 FROM ni_c1)
        |  AND k NOT IN (SELECT x FROM ni_keep12)""".stripMargin)
    // primary membership {10, 11}; secondary excludes 12 (no-op here) →
    // only k = 10 deletes.
    assert(spark.sql("SELECT k FROM gni.t3 ORDER BY k").as[Long]
      .collect().toSeq == Seq(5L, 7L, 8L, 12L))
    // NON-equality NOT IN correlation: the conjunct rides the anti-join
    // ON (a witness is an inner row the subquery's WHERE admits — TRUE
    // only, exactly the membership test), composed with the three-valued
    // tuple comparison. Slice per target row of t4 under `g2 < g`:
    //   (g=2,k=10): {10,NULL} → member → keep
    //   (g=2,k=99): {10,NULL} → NULL member → UNKNOWN → keep
    //   (g=4,k=20): {10,NULL,20} → member → keep
    //   (g=0,k=7):  {} → empty → act
    //   (g=NULL,k=7): g2<NULL never TRUE → empty slice → act
    //   (g=2,k=NULL): nonempty slice → UNKNOWN → keep
    //   (g=0,k=NULL): EMPTY slice → NOT IN {} = TRUE → act
    Seq((Some(2L), Some(10L), 1L), (Some(2L), Some(99L), 2L),
      (Some(4L), Some(20L), 3L), (Some(0L), Some(7L), 4L),
      (None, Some(7L), 5L), (Some(2L), None, 6L), (Some(0L), None, 7L))
      .toDF("g", "k", "v").coalesce(1).createOrReplaceTempView("ni_t4")
    spark.sql("CREATE TABLE gni.t4 AS SELECT g, k, v FROM ni_t4")
    Seq((1L, Some(10L)), (1L, None), (3L, Some(20L)), (5L, Some(30L)))
      .toDF("g2", "k2").createOrReplaceTempView("ni_c2")
    spark.sql(
      """DELETE FROM gni.t4 WHERE k NOT IN
        |  (SELECT k2 FROM ni_c2 WHERE ni_c2.g2 < gni.t4.g)""".stripMargin)
    assert(spark.sql("SELECT v FROM gni.t4 ORDER BY v").as[Long]
      .collect().toSeq == Seq(1L, 2L, 3L, 6L))
    // Correlation OUTSIDE the subquery's WHERE keeps a crisp error.
    val err = intercept[Exception](spark.sql(
      "DELETE FROM gni.t4 WHERE k NOT IN " +
        "(SELECT k2 + gni.t4.g FROM ni_c2)"))
    assert(err.getMessage.contains("NOT IN") ||
      err.getMessage.contains("correlat"), err.getMessage)
  }

  test("past-cap secondary subqueries lower onto semi/anti joins") {
    val w = wh("catSubqCap")
    val s0 = spark
    import s0.implicits._
    spark.conf.set("spark.sql.catalog.gcap",
      classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gcap.warehouse", w)
    def reset(): Unit = {
      Seq((1L, Some(10L), 0L), (2L, Some(20L), 0L), (3L, Some(30L), 0L),
        (4L, Some(40L), 0L), (5L, None, 0L))
        .toDF("id", "k", "v").coalesce(1).createOrReplaceTempView("cap_t")
      spark.sql("DROP TABLE IF EXISTS gcap.t4")
      spark.sql("CREATE TABLE gcap.t4 AS SELECT id, k, v FROM cap_t")
    }
    def vs(): Seq[(Long, Long)] =
      spark.sql("SELECT id, v FROM gcap.t4 ORDER BY id")
        .as[(Long, Long)].collect().toSeq
    Seq(1L, 2L, 4L, 5L).toDF("p").createOrReplaceTempView("cap_prim")
    Seq(10L, 20L, 30L).toDF("x").createOrReplaceTempView("cap_in")
    Seq(Some(10L), None).toDF("x").createOrReplaceTempView("cap_null")
    Seq(10L).toDF("x").filter($"x" > 99L).createOrReplaceTempView("cap_empty")
    // Cap 0: EVERY secondary subquery takes the join route — identical
    // semantics to the literal-inline route it replaces past the cap.
    spark.conf.set("graft.dml.inlineCap", "0")
    try {
      reset()
      // Secondary IN: acts on primary-matching rows whose k is present.
      spark.sql("""UPDATE gcap.t4 SET v = 1 WHERE id IN (SELECT p FROM cap_prim)
        | AND k IN (SELECT x FROM cap_in)""".stripMargin)
      assert(vs() == Seq(1L -> 1L, 2L -> 1L, 3L -> 0L, 4L -> 0L, 5L -> 0L))
      // Secondary NOT IN (null-free): NULL target k must NOT act (3VL).
      reset()
      spark.sql("""UPDATE gcap.t4 SET v = 2 WHERE id IN (SELECT p FROM cap_prim)
        | AND k NOT IN (SELECT x FROM cap_in)""".stripMargin)
      assert(vs() == Seq(1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 2L, 5L -> 0L))
      // A NULL in the secondary NOT IN list: whole statement no-ops.
      reset()
      spark.sql("""DELETE FROM gcap.t4 WHERE id IN (SELECT p FROM cap_prim)
        | AND k NOT IN (SELECT x FROM cap_null)""".stripMargin)
      assert(vs().size == 5)
      // Secondary IN over an empty list: never TRUE — statement no-ops.
      spark.sql("""DELETE FROM gcap.t4 WHERE id IN (SELECT p FROM cap_prim)
        | AND k IN (SELECT x FROM cap_empty)""".stripMargin)
      assert(vs().size == 5)
      // Secondary NOT IN over an empty list: TRUE for every row — even a
      // NULL-k one (id 5 deletes with the rest of the primary set).
      spark.sql("""DELETE FROM gcap.t4 WHERE id IN (SELECT p FROM cap_prim)
        | AND k NOT IN (SELECT x FROM cap_empty)""".stripMargin)
      assert(vs().map(_._1) == Seq(3L))
      // NMBS route (NOT IN primary) takes the same target filter.
      reset()
      spark.sql("""DELETE FROM gcap.t4 WHERE id NOT IN (SELECT p FROM cap_prim)
        | AND k IN (SELECT x FROM cap_in)""".stripMargin)
      assert(vs().map(_._1) == Seq(1L, 2L, 4L, 5L)) // only id 3 acts
    } finally spark.conf.unset("graft.dml.inlineCap")
  }

  test("IN with non-equality correlation lowers via the residual engine") {
    val w = wh("catInResid")
    val s0 = spark
    import s0.implicits._
    spark.conf.set("spark.sql.catalog.gir",
      classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gir.warehouse", w)
    Seq((1L, 5L, 0L), (1L, 9L, 0L), (2L, 3L, 0L), (3L, 4L, 0L))
      .toDF("g", "ts", "v").coalesce(1).createOrReplaceTempView("ir_t")
    spark.sql("CREATE TABLE gir.tx AS SELECT g, ts, v FROM ir_t")
    // Value anchor (g2 = t.g) + a RANGE correlated conjunct. Row (1, 9)
    // has TWO qualifying witnesses (ts2 = 6, 7) — must act exactly once.
    Seq((1L, 6L), (1L, 7L), (2L, 9L), (9L, 0L)).toDF("g2", "ts2")
      .createOrReplaceTempView("ir_s")
    spark.sql("""UPDATE gir.tx SET v = v + 1 WHERE g IN
      | (SELECT g2 FROM ir_s WHERE ts2 < gir.tx.ts)""".stripMargin)
    assert(spark.sql("SELECT g, ts, v FROM gir.tx ORDER BY g, ts")
      .as[(Long, Long, Long)].collect().toSeq == Seq(
        (1L, 5L, 0L), (1L, 9L, 1L), (2L, 3L, 0L), (3L, 4L, 0L)))
    // Expression-valued projection (g2 + 1) exercises the alias path; no
    // row has a qualifying witness here (g2+1 = t.g ∧ ts2 < ts is empty
    // on this data), so the statement must be a clean no-op.
    spark.sql("""UPDATE gir.tx SET v = 100 WHERE g IN
      | (SELECT g2 + 1 FROM ir_s WHERE ts2 < gir.tx.ts)""".stripMargin)
    assert(spark.sql("SELECT sum(v) FROM gir.tx").head().getLong(0) == 1L)
    spark.sql("""DELETE FROM gir.tx WHERE g IN
      | (SELECT g2 + 1 FROM ir_s WHERE ts2 > gir.tx.ts)""".stripMargin)
    // (2,3): g2=1, ts2>3 → witnesses (6,7) → delete; (3,4): g2=2,
    // ts2>4 → witness (9) → delete; (1,5)/(1,9): g2=0 → none.
    assert(spark.sql("SELECT g, ts FROM gir.tx ORDER BY g, ts")
      .as[(Long, Long)].collect().toSeq == Seq(1L -> 5L, 1L -> 9L))
  }

  test("disjunctive subquery conditions: IN/EXISTS OR plain predicate") {
    val w = wh("catSubqOr")
    val s0 = spark
    import s0.implicits._
    spark.conf.set("spark.sql.catalog.gor",
      classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gor.warehouse", w)
    def reset(): Unit = {
      Seq((1L, Some(10L), 0L), (2L, Some(20L), 0L), (3L, Some(30L), 0L),
        (4L, Some(40L), 7L), (5L, None, 7L))
        .toDF("id", "k", "v").coalesce(1).createOrReplaceTempView("or_t")
      spark.sql("DROP TABLE IF EXISTS gor.t5")
      spark.sql("CREATE TABLE gor.t5 AS SELECT id, k, v FROM or_t")
    }
    def vs(): Seq[(Long, Long)] =
      spark.sql("SELECT id, v FROM gor.t5 ORDER BY id")
        .as[(Long, Long)].collect().toSeq
    Seq(10L, 20L).toDF("x").createOrReplaceTempView("or_in")
    // IN OR plain: union of the act sets — id 1,2 via membership, 4 AND
    // the NULL-k row 5 via the plain side (NULL k never blocks r).
    reset()
    spark.sql("""UPDATE gor.t5 SET v = 1 WHERE k IN (SELECT x FROM or_in)
      | OR v = 7""".stripMargin)
    assert(vs() == Seq(1L -> 1L, 2L -> 1L, 3L -> 0L, 4L -> 1L, 5L -> 1L))
    // Subquery side with its own plain conjunct: (IN ∧ B) ∨ r — a
    // matched row failing B still acts when r holds.
    reset()
    spark.sql("""UPDATE gor.t5 SET v = 2
      | WHERE (k IN (SELECT x FROM or_in) AND id >= 2) OR v = 7""".stripMargin)
    assert(vs() == Seq(1L -> 0L, 2L -> 2L, 3L -> 0L, 4L -> 2L, 5L -> 2L))
    // EXISTS OR plain, and as a DELETE.
    reset()
    Seq((1L, "a"), (3L, "b")).toDF("id2", "tag")
      .createOrReplaceTempView("or_ex")
    spark.sql("""DELETE FROM gor.t5 WHERE EXISTS
      | (SELECT 1 FROM or_ex WHERE id2 = id) OR v = 7""".stripMargin)
    assert(vs().map(_._1) == Seq(2L))
    // NOT IN OR plain: ¬coalesce(r, false) rides the anti ON, (b OR r)
    // the clause condition. id 3,4 act via NOT IN TRUE; NULL-k id 5 has
    // NOT IN UNKNOWN but acts via r; members 1,2 keep.
    reset()
    spark.sql("""UPDATE gor.t5 SET v = 3 WHERE k NOT IN (SELECT x FROM or_in)
      | OR v = 7""".stripMargin)
    assert(vs() == Seq(1L -> 0L, 2L -> 0L, 3L -> 3L, 4L -> 3L, 5L -> 3L))
    // NULL in the subquery result: NOT IN is never TRUE, but — unlike
    // the conjunctive no-op — r-TRUE rows (4, 5) still act.
    reset()
    Seq(Some(10L), None).toDF("x").createOrReplaceTempView("or_in_n")
    spark.sql("""UPDATE gor.t5 SET v = 4
      | WHERE k NOT IN (SELECT x FROM or_in_n) OR v = 7""".stripMargin)
    assert(vs() == Seq(1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 4L, 5L -> 4L))
    // Empty subquery: NOT IN {} is TRUE everywhere (NULL keys included).
    reset()
    spark.sql("""UPDATE gor.t5 SET v = 5 WHERE k NOT IN
      | (SELECT x FROM or_in WHERE x > 99) OR v = 7""".stripMargin)
    assert(vs() == Seq(1L -> 5L, 2L -> 5L, 3L -> 5L, 4L -> 5L, 5L -> 5L))
    // UNKNOWN OR UNKNOWN must NOT act: r = k > 15 is UNKNOWN on the
    // NULL-k row, as is its NOT IN — id 5 keeps; 2 acts via r, 3,4 via
    // the subquery; (NOT IN ∧ b) ∨ r with b = id <= 3 drops 4's
    // subquery route but r = v = 7 restores it.
    reset()
    spark.sql("""DELETE FROM gor.t5 WHERE k NOT IN (SELECT x FROM or_in)
      | OR k > 15""".stripMargin)
    assert(vs().map(_._1) == Seq(1L, 5L))
    reset()
    spark.sql("""UPDATE gor.t5 SET v = 6 WHERE (k NOT IN
      | (SELECT x FROM or_in) AND id <= 3) OR v = 7""".stripMargin)
    assert(vs() == Seq(1L -> 0L, 2L -> 0L, 3L -> 6L, 4L -> 6L, 5L -> 6L))
    // NOT EXISTS OR plain (equality anchor): unmatched ids 2,4,5 act;
    // 4,5 double-covered by r.
    reset()
    spark.sql("""DELETE FROM gor.t5 WHERE NOT EXISTS
      | (SELECT 1 FROM or_ex WHERE id2 = id) OR v = 7""".stripMargin)
    assert(vs().map(_._1) == Seq(1L, 3L))
    // NOT EXISTS with a non-equality residual OR plain: witness needs
    // id2 = id AND lim < k — id 1 blocked (5 < 10), id 2 unmatched
    // (25 < 20 fails), 3,4,5 unmatched (no id2).
    reset()
    Seq((1L, 5L), (2L, 25L)).toDF("id2", "lim")
      .createOrReplaceTempView("or_ex3")
    spark.sql("""UPDATE gor.t5 SET v = 8 WHERE NOT EXISTS
      | (SELECT 1 FROM or_ex3 WHERE id2 = id AND lim < k)
      | OR v = 7""".stripMargin)
    assert(vs() == Seq(1L -> 0L, 2L -> 8L, 3L -> 8L, 4L -> 8L, 5L -> 8L))
    // IN with a NON-equality correlation under OR: the residual engine
    // grows a conditional NMBS clause — matched (witness) rows act
    // always here (B empty), unmatched rows act iff r.
    reset()
    spark.sql("""UPDATE gor.t5 SET v = 11 WHERE k IN
      | (SELECT x FROM or_in WHERE x < gor.t5.id * 15)
      | OR v = 7""".stripMargin)
    assert(vs() == Seq(1L -> 11L, 2L -> 11L, 3L -> 0L, 4L -> 11L, 5L -> 11L))
    // EXISTS with a non-equality residual under OR, same construction.
    reset()
    Seq((1L, 5L), (2L, 25L)).toDF("id2", "lim")
      .createOrReplaceTempView("or_ex4")
    spark.sql("""UPDATE gor.t5 SET v = 10 WHERE EXISTS
      | (SELECT 1 FROM or_ex4 WHERE id2 = id AND lim < k)
      | OR v = 7""".stripMargin)
    assert(vs() == Seq(1L -> 10L, 2L -> 0L, 3L -> 0L, 4L -> 10L, 5L -> 10L))
    // SEVERAL subquery conjuncts under OR: the secondary inlines to a
    // literal and rides B — (k IN s ∧ id IN s2) ∨ r. id 1 (member, but
    // 1 ∉ {2,4}) keeps; id 2 acts via both; 4,5 via r.
    reset()
    Seq(2L, 4L).toDF("y").createOrReplaceTempView("or_in2")
    spark.sql("""UPDATE gor.t5 SET v = 9
      | WHERE (k IN (SELECT x FROM or_in)
      |        AND id IN (SELECT y FROM or_in2)) OR v = 7""".stripMargin)
    assert(vs() == Seq(1L -> 0L, 2L -> 9L, 3L -> 0L, 4L -> 9L, 5L -> 9L))
    // …and with a NOT IN head: (k NOT IN s ∧ id IN s2) ∨ r — id 4 acts
    // via both routes, id 3 fails the secondary, id 5 via r.
    reset()
    spark.sql("""DELETE FROM gor.t5
      | WHERE (k NOT IN (SELECT x FROM or_in)
      |        AND id IN (SELECT y FROM or_in2)) OR v = 7""".stripMargin)
    assert(vs().map(_._1) == Seq(1L, 2L, 3L))
    // Past the inline cap the secondary's distributed route cannot
    // compose with OR — crisp error, cap restored after.
    reset()
    spark.conf.set("graft.dml.inlineCap", "0")
    try {
      val err2 = intercept[Exception](spark.sql(
        """DELETE FROM gor.t5 WHERE (k IN (SELECT x FROM or_in)
          | AND id IN (SELECT y FROM or_in2)) OR v = 7""".stripMargin))
      assert(err2.getMessage.contains("inline"), err2.getMessage)
    } finally spark.conf.unset("graft.dml.inlineCap")
  }

  test("non-equality-correlated EXISTS/NOT EXISTS lower with ON residuals") {
    val w = wh("catExResid")
    val s0 = spark
    import s0.implicits._
    spark.conf.set("spark.sql.catalog.gex",
      classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gex.warehouse", w)
    Seq((1L, 5L, 0L), (1L, 9L, 0L), (2L, 3L, 0L), (2L, 1L, 0L),
      (3L, 4L, 0L)).toDF("g", "ts", "v").coalesce(1)
      .createOrReplaceTempView("ex_t")
    spark.sql("CREATE TABLE gex.tx AS SELECT g, ts, v FROM ex_t")
    Seq((1L, 6L), (1L, 7L), (2L, 2L), (9L, 0L)).toDF("g2", "ts2")
      .createOrReplaceTempView("ex1")
    // EXISTS with a range conjunct beside the equality anchor. Row
    // (1, 9) has TWO witnesses (ts2 = 6 and 7) — it must act exactly
    // once (v + 1, not v + 2): the witness dedupe.
    spark.sql("UPDATE gex.tx SET v = v + 1 WHERE EXISTS " +
      "(SELECT 1 FROM ex1 WHERE g2 = g AND ts2 < ts)")
    assert(spark.sql("SELECT g, ts, v FROM gex.tx ORDER BY g, ts")
      .as[(Long, Long, Long)].collect().toSeq == Seq(
        (1L, 5L, 0L), (1L, 9L, 1L), (2L, 1L, 0L), (2L, 3L, 1L),
        (3L, 4L, 0L)))
    // NOT EXISTS: act iff NO subquery row satisfies keys AND residual.
    spark.sql("UPDATE gex.tx SET v = 7 WHERE NOT EXISTS " +
      "(SELECT 1 FROM ex1 WHERE g2 = g AND ts2 >= ts)")
    assert(spark.sql("SELECT g, ts, v FROM gex.tx ORDER BY g, ts")
      .as[(Long, Long, Long)].collect().toSeq == Seq(
        (1L, 5L, 0L), (1L, 9L, 7L), (2L, 1L, 0L), (2L, 3L, 7L),
        (3L, 4L, 7L)))
    // DELETE combining the residual EXISTS with a subquery-free conjunct.
    spark.sql("DELETE FROM gex.tx WHERE EXISTS " +
      "(SELECT 1 FROM ex1 WHERE g2 = g AND ts2 < ts) AND v = 7")
    assert(spark.sql("SELECT g, ts, v FROM gex.tx ORDER BY g, ts")
      .as[(Long, Long, Long)].collect().toSeq == Seq(
        (1L, 5L, 0L), (2L, 1L, 0L), (3L, 4L, 7L)))
  }

  test("schema evolution never fires for subquery-DML internal sources") {
    val w = wh("catEvGuard")
    val s0 = spark
    import s0.implicits._
    spark.conf.set("spark.sql.catalog.gevg",
      classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gevg.warehouse", w)
    Seq((1L, 5L, 0L), (2L, 3L, 0L), (3L, 4L, 0L)).toDF("g", "ts", "v")
      .coalesce(1).createOrReplaceTempView("evg_t")
    spark.sql("CREATE TABLE gevg.tx AS SELECT g, ts, v FROM evg_t")
    Seq((1L, 4L, "x"), (2L, 9L, "y")).toDF("g2", "ts2", "tag")
      .createOrReplaceTempView("evg_s")
    spark.conf.set("graft.merge.schemaEvolution", "true")
    try {
      // The residual-EXISTS lowering builds an internal merge source
      // carrying the subquery's extra columns (ts2); with autoMerge on,
      // a plain UPDATE must NOT evolve them into the table.
      spark.sql("UPDATE gevg.tx SET v = v + 1 WHERE EXISTS " +
        "(SELECT 1 FROM evg_s WHERE g2 = g AND ts2 < ts)")
      assert(spark.table("gevg.tx").columns.toSeq == Seq("g", "ts", "v"),
        "UPDATE ... WHERE EXISTS must never alter the schema")
      // Same for the general NOT IN anti-join lowering.
      spark.sql("DELETE FROM gevg.tx WHERE (g, ts) NOT IN " +
        "(SELECT g2, ts2 FROM evg_s)")
      assert(spark.table("gevg.tx").columns.toSeq == Seq("g", "ts", "v"))
    } finally spark.conf.unset("graft.merge.schemaEvolution")
  }

  test("randomized subquery-DML ≡ Spark's own filter semantics") {
    // Model check: every lowered subquery shape, on random NULL-carrying
    // data, must delete EXACTLY the rows Spark's own 3VL filter semantics
    // say are TRUE — Spark evaluating the identical condition on a plain
    // view is the oracle, so any divergence in a lowering's NULL traps,
    // witness handling, or join shape fails here.
    val w = wh("catSubqRnd")
    val s0 = spark
    import s0.implicits._
    spark.conf.set("spark.sql.catalog.grnd",
      classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.grnd.warehouse", w)
    val conds = Seq(
      "k IN (SELECT x FROM rnd_s1)",
      "k NOT IN (SELECT x FROM rnd_s1)",
      "(g, k) NOT IN (SELECT g2, x2 FROM rnd_s2)",
      "k IN (SELECT x FROM rnd_s1) AND g IN (SELECT g2 FROM rnd_s2)",
      "k IN (SELECT x FROM rnd_s1) AND g NOT IN (SELECT g2 FROM rnd_s2)",
      "k IN (SELECT x FROM rnd_s1) OR v >= 50",
      "EXISTS (SELECT 1 FROM rnd_s2 WHERE g2 = grnd.t6.g)",
      "NOT EXISTS (SELECT 1 FROM rnd_s2 WHERE g2 = grnd.t6.g)",
      "k NOT IN (SELECT x2 FROM rnd_s2 WHERE rnd_s2.g2 = grnd.t6.g)",
      "k IN (SELECT x2 FROM rnd_s2 WHERE x2 < grnd.t6.v)",
      "k NOT IN (SELECT x2 FROM rnd_s2 WHERE x2 < grnd.t6.v)",
      "k NOT IN (SELECT x2 FROM rnd_s2 WHERE rnd_s2.g2 = grnd.t6.g " +
        "AND x2 < grnd.t6.v)",
      "k NOT IN (SELECT x FROM rnd_s1) OR v >= 50",
      "(k NOT IN (SELECT x FROM rnd_s1) AND g <= 3) OR v >= 80",
      "(g, k) NOT IN (SELECT g2, x2 FROM rnd_s2) OR k >= 15",
      "k NOT IN (SELECT x2 FROM rnd_s2 WHERE rnd_s2.g2 = grnd.t6.g) " +
        "OR v >= 50",
      "EXISTS (SELECT 1 FROM rnd_s2 WHERE g2 = grnd.t6.g) OR v >= 50",
      "NOT EXISTS (SELECT 1 FROM rnd_s2 WHERE g2 = grnd.t6.g) OR v >= 50",
      "NOT EXISTS (SELECT 1 FROM rnd_s2 WHERE g2 = grnd.t6.g " +
        "AND x2 < grnd.t6.k) OR v >= 80",
      "k IN (SELECT x2 FROM rnd_s2 WHERE x2 < grnd.t6.v) OR v >= 50",
      "EXISTS (SELECT 1 FROM rnd_s2 WHERE g2 = grnd.t6.g " +
        "AND x2 < grnd.t6.k) OR v >= 80",
      "k NOT IN (SELECT x2 FROM rnd_s2 WHERE x2 < grnd.t6.v) OR v >= 50")
    try {
      for (seed <- Seq(11, 47)) {
        val rnd = new scala.util.Random(seed)
        def mk[T](f: => T, nullEvery: Int): Option[T] =
          if (rnd.nextInt(nullEvery) == 0) None else Some(f)
        val rows = (0 until 40).map(i => (i.toLong,
          mk(rnd.nextInt(6).toLong, 10),
          mk(rnd.nextInt(20).toLong, 10),
          rnd.nextInt(100).toLong))
        rows.toDF("id", "g", "k", "v").coalesce(2)
          .createOrReplaceTempView("rnd_t")
        (0 until 8).map(_ => mk(rnd.nextInt(20).toLong, 8)).toDF("x")
          .createOrReplaceTempView("rnd_s1")
        (0 until 8).map(_ =>
          (mk(rnd.nextInt(6).toLong, 8), mk(rnd.nextInt(20).toLong, 8)))
          .toDF("g2", "x2").createOrReplaceTempView("rnd_s2")
        for (cond <- conds) {
          // Both secondary routes: literal inline and the join lowering.
          spark.conf.set("graft.dml.inlineCap",
            if (rnd.nextBoolean()) "0" else "1024")
          spark.sql("DROP TABLE IF EXISTS grnd.t6")
          spark.sql("CREATE TABLE grnd.t6 AS SELECT id, g, k, v FROM rnd_t")
          spark.sql(s"DELETE FROM grnd.t6 WHERE $cond")
          val got = spark.sql("SELECT id FROM grnd.t6")
            .as[Long].collect().sorted.toSeq
          val oracleCond = cond.replace("grnd.t6.", "rnd_t.")
          val expected = spark.sql(
            s"SELECT id FROM rnd_t WHERE NOT coalesce(($oracleCond), false)")
            .as[Long].collect().sorted.toSeq
          assert(got == expected,
            s"seed $seed cond [$cond]: got $got expected $expected")
        }
      }
    } finally spark.conf.unset("graft.dml.inlineCap")
  }

  test("maintenance statements accept catalog-qualified names") {
    val w = wh("catMaint")
    val s0 = spark
    import s0.implicits._
    spark.conf.set("spark.sql.catalog.gm",
      classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gm.warehouse", w)
    // No spark.graft.warehouse set: the statements must resolve the
    // warehouse from the catalog prefix alone.
    spark.conf.unset("spark.graft.warehouse")
    (0L until 20L).map(i => (i, s"n$i")).toDF("id", "v").coalesce(1)
      .createOrReplaceTempView("maint_src")
    spark.sql("CREATE TABLE gm.t AS SELECT id, v FROM maint_src")
    spark.sql("INSERT INTO gm.t SELECT 100L, 'x'")
    val fsW = new Path(w).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v1 = Snapshots.latestVersion(fsW, w).get

    // SNAPSHOT OF / CHANGES with the catalog prefix.
    assert(spark.sql("SNAPSHOT OF gm.t").count() == 21)
    assert(spark.sql(s"SNAPSHOT CHANGES OF gm.t FROM ${v1 - 1}")
      .filter($"_change_type" === "insert").count() == 1)

    // OPTIMIZE compacts the two commits into one file.
    spark.sql("OPTIMIZE gm.t")
    assert(Snapshots.fileMeta(fsW, w, "t").get.size == 1)
    assert(spark.sql("SELECT count(*) FROM gm.t").head().getLong(0) == 21)

    // DESCRIBE DETAIL resolves the prefix too.
    val det = spark.sql("DESCRIBE DETAIL gm.t").head()
    assert(det.getString(0) == "t" && det.getLong(1) == 1L)

    // RESTORE back to the pre-compaction version.
    spark.sql(s"RESTORE gm.t TO VERSION AS OF $v1")
    assert(spark.sql("SELECT count(*) FROM gm.t").head().getLong(0) == 21)

    // Zero-copy clone with catalog-qualified names on both sides.
    spark.sql("SNAPSHOT CLONE gm.t TO gm.t2")
    assert(spark.sql("SELECT count(*) FROM gm.t2").head().getLong(0) == 21)
    spark.sql("DELETE FROM gm.t2 WHERE id >= 100")
    assert(spark.sql("SELECT count(*) FROM gm.t2").head().getLong(0) == 20)
    assert(spark.sql("SELECT count(*) FROM gm.t").head().getLong(0) == 21)

    // SYNC IDENTITY and DROP FEATURE resolve the prefix too.
    graft.ingest.Identity.declare(spark, w, "idc", "rid")
    graft.ingest.Identity.appendWithIdentity(spark, w, "idc",
      Seq("a", "b").toDF("v").coalesce(1))
    assert(spark.sql("ALTER TABLE gm.idc ALTER COLUMN rid SYNC IDENTITY")
      .head().getLong(0) == 2L)
    Snapshots.setProperties(fsW, w, "idc", Map("identity.rid" -> null))
    assert(spark.sql("ALTER TABLE gm.idc DROP FEATURE identityColumns")
      .head().getString(0) == "identityColumns")
    assert(Snapshots.tableFeatures(fsW, w, "idc").isEmpty)
  }

  test("SNAPSHOT HISTORY OF t and SHOW TBLPROPERTIES resolve per table") {
    val w = wh("histOf")
    val s0 = spark
    import s0.implicits._
    spark.conf.set("spark.sql.catalog.gh",
      classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gh.warehouse", w)
    pub(w, "a", Seq((1L, "x")).toDF("id", "v"))
    pub(w, "b", Seq((2L, "y")).toDF("id", "v"))
    pub(w, "a", Seq((3L, "z")).toDF("id", "v"))
    spark.conf.set("spark.graft.warehouse", w)
    try {
      assert(spark.sql("SNAPSHOT HISTORY").count() == 3)
      assert(spark.sql("SNAPSHOT HISTORY OF a").count() == 2)
      assert(spark.sql("SNAPSHOT HISTORY OF gh.b").count() == 1)
      // TBLPROPERTIES land in the log and surface through the catalog.
      spark.sql("ALTER TABLE gh.a SET TBLPROPERTIES ('quality'='gold')")
      val shown = spark.sql("SHOW TBLPROPERTIES gh.a").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(shown.get("quality").contains("gold"), shown)
    } finally spark.conf.unset("spark.graft.warehouse")
  }

  test("HISTORY IN cat / VACUUM IN cat and explicit-schema DDL work catalog-only") {
    val w = wh("inCat")
    val s0 = spark
    import s0.implicits._
    spark.conf.set("spark.sql.catalog.gic",
      classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gic.warehouse", w)
    // No spark.graft.warehouse anywhere in this test.
    spark.conf.unset("spark.graft.warehouse")
    // Explicit-schema DDL (no AS SELECT) through the catalog, then INSERT.
    spark.sql("CREATE TABLE gic.t (id BIGINT, v STRING)")
    spark.sql("INSERT INTO gic.t VALUES (1, 'a'), (2, 'b')")
    assert(spark.sql("SELECT id FROM gic.t ORDER BY id").as[Long]
      .collect().toSeq == Seq(1L, 2L))
    spark.sql("INSERT INTO gic.t VALUES (3, 'c')")
    assert(spark.sql("SNAPSHOT HISTORY IN gic").count() == 3) // props + 2 appends
    Compaction.compact(spark, w, "t")
    spark.sql("VACUUM SNAPSHOTS IN gic RETAIN 1 VERSIONS MAX AGE 0 HOURS")
    val fsW = new Path(w).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(Snapshots.entries(fsW, w).filterNot(_.isCheckpoint).size <= 2)
    assert(spark.sql("SELECT count(*) FROM gic.t").head().getLong(0) == 3)
  }

  test("change-feed relation still serves through the splice") {
    val w = wh("cdf")
    val s0 = spark
    import s0.implicits._
    pub(w, "t", (0L until 10L).map(i => (i, s"n$i")).toDF("id", "name"))
    val feed = spark.read.format("graft-snapshots")
      .option("warehouse", w).option("table", "t")
      .option("readChangeFeed", "true").load()
    assert(feed.columns.toSeq.takeRight(2) ==
      Seq("_change_type", "_commit_version"))
    assert(feed.count() == 10)
    assert(feed.select("_change_type").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("insert"))
  }
}
