package graft

import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.ingest.Snapshots

/** The DSv2 catalog (`spark.sql.catalog.graft`): standard Spark SQL
  * resolution over the snapshot warehouse — CTAS, SELECT (with time
  * travel), INSERT INTO/OVERWRITE, DELETE, ALTER, DROP — in a session
  * WITHOUT the graft extensions, so every read exercises the per-file
  * DSv2 batch scan (partition tuples from the log, DV subtraction, column
  * mapping) rather than the spliced vectorized plan. */
class GraftCatalogSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private lazy val dir = Files.createTempDirectory("graft-catalog")
  private lazy val wh = dir.resolve("wh").toString
  private def fs = new Path(wh)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
      .config("spark.sql.catalog.graft", classOf[graft.sources.v2.GraftCatalog].getName)
      .config("spark.sql.catalog.graft.warehouse", wh)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("CTAS, SELECT, INSERT INTO, time travel, INSERT OVERWRITE") {
    val s0 = spark
    import s0.implicits._
    Seq((1L, "a"), (2L, "b")).toDF("id", "name").createOrReplaceTempView("src")
    spark.sql("CREATE TABLE graft.city AS SELECT id, name FROM src")
    assert(spark.sql("SELECT * FROM graft.city ORDER BY id")
      .as[(Long, String)].collect().toSeq == Seq(1L -> "a", 2L -> "b"))
    assert(spark.sql("SHOW TABLES IN graft").collect()
      .map(_.getString(1)).contains("city"))

    spark.sql("INSERT INTO graft.city SELECT 3L, 'c'")
    assert(spark.sql("SELECT count(*) FROM graft.city").head().getLong(0) == 3)
    val vAfterInsert = Snapshots.latestVersion(fs, wh).get

    // INSERT OVERWRITE replaces the table in one version…
    spark.sql("INSERT OVERWRITE graft.city SELECT 9L, 'z'")
    assert(spark.sql("SELECT * FROM graft.city")
      .as[(Long, String)].collect().toSeq == Seq(9L -> "z"))
    // …and the pre-overwrite state stays time-travelable by version.
    assert(spark.sql(
        s"SELECT id FROM graft.city VERSION AS OF $vAfterInsert ORDER BY id")
      .as[Long].collect().toSeq == Seq(1L, 2L, 3L))
  }

  test("CREATE TABLE declares identity and generated columns natively") {
    val s0 = spark
    import s0.implicits._
    import graft.ingest.{Generated, Identity}
    // Spark's own DDL routes the specs through the catalog capability.
    spark.sql("CREATE TABLE graft.em (" +
      "rid BIGINT GENERATED ALWAYS AS IDENTITY (START WITH 10), " +
      "price DOUBLE, qty BIGINT, " +
      "total DOUBLE GENERATED ALWAYS AS (price * qty))")
    assert(Identity.identityColumns(fs, wh, "em") == Seq("rid"))
    assert(Generated.generatedColumns(fs, wh, "em").map(_._1) == Seq("total"))
    // The one legal append path mints ids AND materializes expressions.
    Identity.appendWithIdentity(spark, wh, "em",
      Seq((2.0, 3L), (5.0, 2L)).toDF("price", "qty").coalesce(1))
    val got = spark.sql("SELECT rid, total FROM graft.em ORDER BY rid")
      .as[(Long, Double)].collect().toSeq
    assert(got == Seq(10L -> 6.0, 11L -> 10.0), got)
    // appendGenerated steers to the identity path on mixed tables.
    val e = intercept[IllegalArgumentException](
      Generated.appendGenerated(spark, wh, "em",
        Seq((1.0, 1L)).toDF("price", "qty")))
    assert(e.getMessage.contains("appendWithIdentity"), e.getMessage)
    // Unsupported specs are rejected with crisp errors.
    val e2 = intercept[Exception](spark.sql("CREATE TABLE graft.em2 " +
      "(rid BIGINT GENERATED ALWAYS AS IDENTITY (START WITH 1 " +
      "INCREMENT BY 2), k BIGINT)"))
    assert(e2.getMessage.contains("STEP"), e2.getMessage)
    // …and the rejected CREATE left NO table behind (specs validate
    // before the plain table is declared).
    assert(!spark.sql("SHOW TABLES IN graft").collect()
      .map(_.getString(1)).contains("em2"))
    // A failure in the declare phase (bad generation expression) also
    // unwinds the just-created table — CREATE is all-or-nothing.
    intercept[Exception](spark.sql("CREATE TABLE graft.em4 " +
      "(k BIGINT, t TIMESTAMP GENERATED ALWAYS AS (current_timestamp()))"))
    assert(!spark.sql("SHOW TABLES IN graft").collect()
      .map(_.getString(1)).contains("em4"))
    // CTAS with engine-managed columns is refused — by Spark's parser
    // (schema-in-CTAS) or by the staging guard; either way the rows can
    // never bypass materialization.
    intercept[Exception](spark.sql("CREATE TABLE graft.em3 " +
      "(k BIGINT, t BIGINT GENERATED ALWAYS AS (k + 1)) AS SELECT 1L AS k"))
    assert(!spark.sql("SHOW TABLES IN graft").collect()
      .map(_.getString(1)).contains("em3"))
    // Generic v2 writes to identity tables are refused at plan time —
    // user-supplied ids would break uniqueness under the high-water mark.
    val e4 = intercept[Exception](
      spark.sql("INSERT INTO graft.em SELECT 99L, 1.0, 1L, 1.0"))
    assert(e4.getMessage.contains("appendWithIdentity"), e4.getMessage)
    // Generated-only tables: catalog INSERT works, and the ENGINE's value
    // wins — a wrong user-supplied total can never land.
    spark.sql("CREATE TABLE graft.gv (price DOUBLE, qty BIGINT, " +
      "total DOUBLE GENERATED ALWAYS AS (price * qty))")
    spark.sql("INSERT INTO graft.gv SELECT 2.0, 4L, 999.0")
    assert(spark.sql("SELECT total FROM graft.gv").head().getDouble(0)
      == 8.0)
  }

  test("generated PARTITION columns route and prune by the engine's value") {
    val s0 = spark
    import s0.implicits._
    // The Delta generated-partition pattern: partition by an expression
    // of a data column. Rows route by the ENGINE-computed value (regen
    // runs before partition routing), and reads prune on the partition
    // tuple.
    spark.sql("CREATE TABLE graft.gp (id BIGINT, v STRING, " +
      "bucket BIGINT GENERATED ALWAYS AS (id % 4)) PARTITIONED BY (bucket)")
    (0L until 40L).map(i => (i, s"v$i")).toDF("id", "v")
      .createOrReplaceTempView("gp_src")
    // The INSERT must carry the column (schema arity); values are
    // engine-overridden, so a constant works.
    spark.sql("INSERT INTO graft.gp SELECT id, v, 0L FROM gp_src")
    assert(spark.sql("SELECT count(*) FROM graft.gp WHERE bucket = 3")
      .head().getLong(0) == 10)
    // Routing correct: every row's tuple matches its id.
    assert(spark.sql(
      "SELECT count(*) FROM graft.gp WHERE bucket <> id % 4")
      .head().getLong(0) == 0)
    // Partition pruning: a bucket filter plans a quarter of the files.
    val all = Snapshots.fileMeta(fs, wh, "gp").get
    assert(all.map(_.partition).distinct.size == 4, all.map(_.partition))
    val one = spark.sql("SELECT id FROM graft.gp WHERE bucket = 2")
      .queryExecution.executedPlan.toString
    assert(spark.sql("SELECT id FROM graft.gp WHERE bucket = 2")
      .collect().map(_.getLong(0)).forall(_ % 4 == 2), one)
    // The blessed append path honors the partition layout too — the
    // materialized bucket routes to k=v dirs, keeping the pruning.
    graft.ingest.Generated.appendGenerated(spark, wh, "gp",
      (40L until 48L).map(i => (i, s"v$i")).toDF("id", "v"))
    val after = Snapshots.fileMeta(fs, wh, "gp").get
    assert(after.forall(_.partition.startsWith("bucket=")),
      after.map(_.partition).distinct.mkString(", "))
    assert(spark.sql(
      "SELECT count(*) FROM graft.gp WHERE bucket <> id % 4")
      .head().getLong(0) == 0)
  }

  test("optimizeWrite property drives the catalog write's distribution") {
    val s0 = spark
    import s0.implicits._
    (0L until 200L).map(i => (i, i % 2)).toDF("id", "p")
      .createOrReplaceTempView("ow_src")
    // CTAS and INSERT flow through the v2 Write, which declares a
    // non-strict clustered distribution on the partition columns
    // (RequiresDistributionAndOrdering) — AQE rebalances the 4-task
    // input onto the partition layout: ONE file per partition value per
    // commit instead of one per task per value.
    spark.sql("CREATE TABLE graft.owt PARTITIONED BY (p) " +
      "TBLPROPERTIES ('graft.optimizeWrite'='true') AS " +
      "SELECT /*+ REPARTITION(4) */ id, p FROM ow_src")
    val afterCtas = Snapshots.fileMeta(fs, wh, "owt").get.size
    assert(afterCtas == 2,
      s"expected one file per partition value from CTAS, got $afterCtas")
    spark.sql("INSERT INTO graft.owt " +
      "SELECT /*+ REPARTITION(4) */ id + 200, p FROM ow_src")
    val afterInsert = Snapshots.fileMeta(fs, wh, "owt").get.size
    assert(afterInsert == 4,
      s"expected two more files from INSERT, got $afterInsert")
    assert(spark.sql("SELECT count(*) FROM graft.owt").head().getLong(0)
      == 400)
    assert(spark.sql("SELECT count(DISTINCT id) FROM graft.owt")
      .head().getLong(0) == 400)
  }

  test("partitioned CTAS: k=v layout on disk, log-served partition column") {
    val s0 = spark
    import s0.implicits._
    Seq((1L, "2024-01-01"), (2L, "2024-01-02"), (3L, "2024-01-02"))
      .toDF("id", "dt").createOrReplaceTempView("psrc")
    spark.sql(
      "CREATE TABLE graft.pt PARTITIONED BY (dt) AS SELECT id, dt FROM psrc")
    val dirs = fs.listStatus(new Path(s"$wh/pt"))
      .filter(_.isDirectory).map(_.getPath.getName).toSet
    assert(dirs.count(_.startsWith("dt=")) == 2, s"got $dirs")
    assert(spark.sql("SELECT id FROM graft.pt WHERE dt = '2024-01-02' ORDER BY id")
      .as[Long].collect().toSeq == Seq(2L, 3L))
    // An INSERT keeps the declared layout without any per-query option.
    spark.sql("INSERT INTO graft.pt SELECT 4L, '2024-01-03'")
    assert(fs.exists(new Path(s"$wh/pt/dt=2024-01-03")))
    assert(spark.sql("SELECT count(*) FROM graft.pt").head().getLong(0) == 4)
  }

  test("DELETE FROM lowers onto the format's DV delete; reads subtract it") {
    val s0 = spark
    import s0.implicits._
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
      .createOrReplaceTempView("dsrc")
    spark.sql("CREATE TABLE graft.dv AS SELECT id, v FROM dsrc")
    val vBefore = Snapshots.latestVersion(fs, wh).get
    spark.sql("DELETE FROM graft.dv WHERE id = 2")
    // The delete picks DV or rewrite per file by deletion density; either
    // way the catalog read serves exactly the surviving rows, and the
    // pre-delete version still time-travels.
    assert(spark.sql("SELECT id FROM graft.dv ORDER BY id")
      .as[Long].collect().toSeq == Seq(1L, 3L))
    assert(spark.sql(s"SELECT id FROM graft.dv VERSION AS OF $vBefore ORDER BY id")
      .as[Long].collect().toSeq == Seq(1L, 2L, 3L))
    // Force the DV path with a sub-threshold delete over a bigger file,
    // so the per-file DSv2 reader's vector subtraction is exercised too.
    spark.range(0, 100).toDF("id").selectExpr("id", "'w' AS v")
      .coalesce(1).createOrReplaceTempView("big")
    spark.sql("CREATE TABLE graft.dv2 AS SELECT id, v FROM big")
    spark.sql("DELETE FROM graft.dv2 WHERE id = 7")
    assert(Snapshots.fileMeta(fs, wh, "dv2").get.exists(_.dv.nonEmpty),
      "a 1-percent delete must attach a deletion vector, not rewrite")
    assert(spark.sql("SELECT count(*) FROM graft.dv2").head().getLong(0) == 99)
    assert(spark.sql("SELECT count(*) FROM graft.dv2 WHERE id = 7")
      .head().getLong(0) == 0)
  }

  test("ALTER TABLE column DDL routes through the mapping; reads follow") {
    val s0 = spark
    import s0.implicits._
    Seq((1L, "x")).toDF("id", "v").createOrReplaceTempView("asrc")
    spark.sql("CREATE TABLE graft.alt AS SELECT id, v FROM asrc")
    spark.sql("ALTER TABLE graft.alt RENAME COLUMN v TO label")
    assert(spark.sql("SELECT label FROM graft.alt").as[String]
      .collect().toSeq == Seq("x"))
    spark.sql("ALTER TABLE graft.alt ADD COLUMN note STRING")
    assert(spark.sql("SELECT note FROM graft.alt").collect().head.isNullAt(0))
    spark.sql("ALTER TABLE graft.alt DROP COLUMN note")
    assert(spark.sql("SELECT * FROM graft.alt").columns.toSeq ==
      Seq("id", "label"))
    spark.sql("ALTER TABLE graft.alt SET TBLPROPERTIES ('team'='data-eng')")
    assert(Snapshots.properties(fs, wh, "alt").get("team").contains("data-eng"))
  }

  test("per-file catalog reads serve initial-defaults for pre-add files") {
    val s0 = spark
    import s0.implicits._
    Seq((1L, "a")).toDF("id", "v").createOrReplaceTempView("dfsrc")
    spark.sql("CREATE TABLE graft.dft AS SELECT id, v FROM dfsrc")
    graft.ingest.SchemaEvolution.addColumn(spark, wh, "dft", "tag",
      default = Some("'old'"))
    spark.sql("INSERT INTO graft.dft VALUES (2, 'b', 'new')")
    // The pre-add file's row reads the default through the per-file DSv2
    // reader; the post-add file's stored value wins.
    assert(spark.sql("SELECT id, tag FROM graft.dft ORDER BY id")
      .as[(Long, String)].collect().toSeq == Seq(1L -> "old", 2L -> "new"))
  }

  test("default literals decode identically on the batch and per-file paths") {
    val s0 = spark
    import s0.implicits._
    Seq((1L, "a")).toDF("id", "v").createOrReplaceTempView("dlsrc")
    spark.sql("CREATE TABLE graft.dlt AS SELECT id, v FROM dlsrc")
    // Double-quoted string literal: legal at declaration (the parser
    // accepts it), must NOT be served with the quote characters.
    graft.ingest.SchemaEvolution.addColumn(spark, wh, "dlt", "dq",
      default = Some("\"legacy\""))
    // Escaped single quote: the parser, not a strip-quotes hack, must
    // resolve it.
    graft.ingest.SchemaEvolution.addColumn(spark, wh, "dlt", "esc",
      default = Some("'it''s'"))
    // Timestamp-typed column default — formerly an
    // UnsupportedOperationException at scan time, after a LEGAL ALTER.
    graft.ingest.SchemaEvolution.addColumn(spark, wh, "dlt", "ts",
      default = Some("TIMESTAMP'2024-01-02 03:04:05'"))
    // Binary-typed column default (same former crash class). A decimal
    // literal like DEFAULT 1.5 on a DOUBLE column folds through the same
    // Cast path.
    graft.ingest.SchemaEvolution.addColumn(spark, wh, "dlt", "bin",
      default = Some("X'0A0B'"))
    // A post-add file pins the columns' types (timestamp / binary).
    spark.sql("INSERT INTO graft.dlt VALUES " +
      "(2, 'b', 'n', 'm', TIMESTAMP'2025-06-07 08:09:10', X'FF')")
    val perFile = spark.sql(
      "SELECT id, dq, esc, CAST(ts AS STRING) AS ts, hex(bin) AS bin " +
        "FROM graft.dlt ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getString(4))).toSeq
    val batch = Snapshots.read(spark, wh, "dlt")
      .selectExpr("id", "dq", "esc", "CAST(ts AS STRING) AS ts",
        "hex(bin) AS bin").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getString(4))).toSeq
    val expect = Seq(
      (1L, "legacy", "it's", "2024-01-02 03:04:05", "0A0B"),
      (2L, "n", "m", "2025-06-07 08:09:10", "FF"))
    assert(perFile == expect, s"per-file path diverged: $perFile")
    assert(batch == expect, s"batch path diverged: $batch")
    // The stored property is the parser's canonical spelling.
    val props = Snapshots.properties(fs, wh, "dlt")
    assert(props.get("default.dq").contains("'legacy'"), props)
  }

  test("timestamp defaults fold under the SESSION timezone on both read paths") {
    val s0 = spark
    import s0.implicits._
    val jvmTz = java.util.TimeZone.getDefault.getID
    // Pick a session TZ guaranteed ≠ the executor JVM's default: a
    // string→timestamp default must serve the SAME instant on the batch
    // path (injectDefaults, session TZ) and the per-file DSv2 path
    // (which used to fold the Cast under the JVM TZ — +5:30 off here).
    val sessTz = if (jvmTz == "Asia/Kolkata") "Pacific/Marquesas"
                 else "Asia/Kolkata"
    val prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", sessTz)
    try {
      Seq(1L).toDF("id").createOrReplaceTempView("tzsrc")
      spark.sql("CREATE TABLE graft.tzd AS SELECT id FROM tzsrc")
      // STRING literal default on a timestamp column: the Cast's timezone
      // decides the instant (a TIMESTAMP'…' typed literal would hide it).
      graft.ingest.SchemaEvolution.addColumn(spark, wh, "tzd", "ts",
        default = Some("'2024-01-02 03:04:05'"))
      spark.sql(
        "INSERT INTO graft.tzd VALUES (2, TIMESTAMP'2025-06-07 08:09:10')")
      val perFile = spark.sql(
        "SELECT id, CAST(ts AS STRING) AS ts FROM graft.tzd ORDER BY id")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toSeq
      val batch = Snapshots.read(spark, wh, "tzd")
        .selectExpr("id", "CAST(ts AS STRING) AS ts").orderBy("id")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toSeq
      val expect = Seq(1L -> "2024-01-02 03:04:05",
        2L -> "2025-06-07 08:09:10")
      assert(batch == expect, s"batch path diverged: $batch")
      assert(perFile == expect,
        s"per-file path folded the default under the wrong TZ: $perFile")
    } finally spark.conf.set("spark.sql.session.timeZone", prev)
  }

  test("DROP TABLE is a time-travelable logical remove; name is reusable") {
    val s0 = spark
    import s0.implicits._
    Seq((1L, 10L)).toDF("id", "v").createOrReplaceTempView("drsrc")
    spark.sql("CREATE TABLE graft.dr AS SELECT id, v FROM drsrc")
    val vLive = Snapshots.latestVersion(fs, wh).get
    spark.sql("DROP TABLE graft.dr")
    assert(!spark.catalog.tableExists("graft.dr"))
    intercept[Exception](spark.sql("SELECT * FROM graft.dr").collect())
    // Pre-drop versions still read (files were logically removed only).
    assert(spark.sql(s"SELECT id FROM graft.dr VERSION AS OF $vLive")
      .as[Long].collect().toSeq == Seq(1L))
    // The name is immediately reusable with a different schema.
    spark.sql("CREATE TABLE graft.dr AS SELECT 'fresh' AS tag")
    assert(spark.sql("SELECT tag FROM graft.dr").as[String]
      .collect().toSeq == Seq("fresh"))
  }

  test("TRUNCATE TABLE empties via the delete path; vacuum reclaims drops") {
    val s0 = spark
    import s0.implicits._
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1)
      .createOrReplaceTempView("trsrc")
    spark.sql("CREATE TABLE graft.tr AS SELECT id, v FROM trsrc")
    spark.sql("TRUNCATE TABLE graft.tr")
    assert(spark.sql("SELECT count(*) FROM graft.tr").head().getLong(0) == 0)
    // Still a live (empty) table: INSERT works.
    spark.sql("INSERT INTO graft.tr SELECT 5L, 'e'")
    assert(spark.sql("SELECT id FROM graft.tr").as[Long]
      .collect().toSeq == Seq(5L))

    // DROP then vacuum: the dropped table's data files are physically
    // reclaimed once the retention window passes them.
    val dataFiles = Snapshots.fileMeta(fs, wh, "tr").get.map(_.file)
    assert(dataFiles.nonEmpty)
    spark.sql("DROP TABLE graft.tr")
    Snapshots.vacuum(fs, wh, keepVersions = 1, minAgeMs = 0L)
    dataFiles.foreach(f => assert(!fs.exists(new Path(f)),
      s"vacuum must reclaim dropped file $f"))
  }

  test("dynamic partition overwrite replaces only the touched partitions") {
    val s0 = spark
    import s0.implicits._
    Seq((1L, "d1"), (2L, "d2"), (3L, "d3")).toDF("id", "dt")
      .createOrReplaceTempView("dposrc")
    spark.sql(
      "CREATE TABLE graft.dpo PARTITIONED BY (dt) AS SELECT id, dt FROM dposrc")
    val vBefore = Snapshots.latestVersion(fs, wh).get
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      // Touches only d2: d1 and d3 must survive, d2 replaced — atomically.
      spark.sql("INSERT OVERWRITE graft.dpo SELECT 20L, 'd2'")
      assert(spark.sql("SELECT id, dt FROM graft.dpo ORDER BY id")
        .as[(Long, String)].collect().toSeq ==
          Seq(1L -> "d1", 3L -> "d3", 20L -> "d2"))
      // One overwrite version; the pre-state time-travels.
      assert(Snapshots.latestVersion(fs, wh).get == vBefore + 1)
      assert(spark.sql(
          s"SELECT id FROM graft.dpo VERSION AS OF $vBefore ORDER BY id")
        .as[Long].collect().toSeq == Seq(1L, 2L, 3L))
      // STATIC mode still replaces everything.
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
      spark.sql("INSERT OVERWRITE graft.dpo SELECT 99L, 'd9'")
      assert(spark.sql("SELECT id FROM graft.dpo").as[Long]
        .collect().toSeq == Seq(99L))
    } finally
      spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
  }

  test("DROP TABLE PURGE deletes data files immediately") {
    val s0 = spark
    import s0.implicits._
    Seq((1L, "p")).toDF("id", "v").createOrReplaceTempView("pgsrc")
    spark.sql("CREATE TABLE graft.pg AS SELECT id, v FROM pgsrc")
    val files = Snapshots.fileMeta(fs, wh, "pg").get.map(_.file)
    assert(files.nonEmpty && files.forall(f => fs.exists(new Path(f))))
    spark.sql("DROP TABLE graft.pg PURGE")
    assert(!spark.catalog.tableExists("graft.pg"))
    files.foreach(f => assert(!fs.exists(new Path(f)),
      s"PURGE must delete $f immediately"))
  }

  test("SHOW TABLES never lists a dropped table's ghost") {
    val s0 = spark
    import s0.implicits._
    Seq((1L, "g")).toDF("id", "v").createOrReplaceTempView("ghsrc")
    spark.sql("CREATE TABLE graft.gh AS SELECT id, v FROM ghsrc")
    assert(spark.sql("SHOW TABLES IN graft").collect()
      .map(_.getString(1)).contains("gh"))
    spark.sql("DROP TABLE graft.gh")
    // The drop clears the props payload; the fold keeps the meta key —
    // listTables must filter the ghost (tableExists already rejects it).
    assert(!spark.sql("SHOW TABLES IN graft").collect()
      .map(_.getString(1)).contains("gh"),
      "dropped table listed forever (ghost #props key)")
  }

  test("DROP PURGE on a multi-table warehouse spares clone-shared files") {
    val s0 = spark
    import s0.implicits._
    Seq((1L, "s")).toDF("id", "v").createOrReplaceTempView("pmsrc")
    spark.sql("CREATE TABLE graft.pm AS SELECT id, v FROM pmsrc")
    // A zero-copy clone shares pm's files; siblings make the sweep walk.
    Snapshots.cloneTable(spark, wh, "pm", "pm_clone")
    spark.sql("CREATE TABLE graft.pm_other AS SELECT 2L AS id")
    val shared = Snapshots.fileMeta(fs, wh, "pm").get.map(_.file)
    spark.sql("DROP TABLE graft.pm PURGE")
    // Shared files survive (the clone still references them) and the
    // clone still reads.
    shared.foreach(f => assert(fs.exists(new Path(f)),
      s"PURGE deleted clone-shared file $f"))
    assert(spark.sql("SELECT id FROM graft.pm_clone").as[Long]
      .collect().toSeq == Seq(1L))
  }

  test("ALTER COLUMN TYPE widens metadata-only; narrow files still read") {
    val s0 = spark
    import s0.implicits._
    spark.sql("CREATE TABLE graft.wd AS " +
      "SELECT CAST(1 AS INT) AS id, CAST(1.5 AS FLOAT) AS x, 'a' AS tag")
    val filesBefore = Snapshots.fileMeta(fs, wh, "wd").get.map(_.file).toSet
    spark.sql("ALTER TABLE graft.wd ALTER COLUMN id TYPE BIGINT")
    spark.sql("ALTER TABLE graft.wd ALTER COLUMN x TYPE DOUBLE")
    // Metadata-only: zero files moved.
    assert(Snapshots.fileMeta(fs, wh, "wd").get.map(_.file).toSet == filesBefore)
    val sch = spark.table("graft.wd").schema
    assert(sch("id").dataType == org.apache.spark.sql.types.LongType &&
      sch("x").dataType == org.apache.spark.sql.types.DoubleType, sch)
    // The pre-widening (narrow) file reads at the wide type…
    assert(spark.sql("SELECT id, x FROM graft.wd").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq == Seq((1L, 1.5)))
    // …and post-widening appends land wide values beyond the narrow range.
    spark.sql("INSERT INTO graft.wd SELECT 3000000000, 2.5D, 'b'")
    assert(spark.sql("SELECT sum(id) FROM graft.wd").head().getLong(0) ==
      3000000001L)
    // Narrowing is rejected by Spark's own analysis; a non-widening
    // change Spark lets through (long → string is an upcast) hits the
    // catalog's guard with guidance.
    intercept[Exception](
      spark.sql("ALTER TABLE graft.wd ALTER COLUMN id TYPE INT"))
    val err = intercept[Exception](
      spark.sql("ALTER TABLE graft.wd ALTER COLUMN id TYPE STRING"))
    assert(err.getMessage.contains("safe widening"), err.getMessage)
  }

  test("nested-column ALTER DDL fails with the flatten workaround") {
    import org.apache.spark.sql.connector.catalog.TableChange
    spark.sql("CREATE TABLE graft.nd AS SELECT 1L AS id, 'x' AS v")
    val cat = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[graft.sources.v2.GraftCatalog]
    val ident = org.apache.spark.sql.connector.catalog.Identifier
      .of(Array.empty[String], "nd")
    val changes: Seq[TableChange] = Seq(
      TableChange.renameColumn(Array("s", "x"), "a"),
      TableChange.deleteColumn(Array("s", "x"), false),
      TableChange.addColumn(Array("s", "z"),
        org.apache.spark.sql.types.StringType))
    changes.foreach { ch =>
      val err = intercept[Exception](cat.alterTable(ident, ch))
      assert(err.getMessage.contains("nested field") &&
        err.getMessage.contains("Flatten instead"),
        s"$ch → ${err.getMessage}")
    }
  }

  test("nested-column ALTER: the documented flatten workaround works end-to-end") {
    // DECIDED (round 15): struct-interior ALTER stays permanently
    // unsupported — the metadata-only column mapping tracks TOP-LEVEL
    // columns, and evolving a struct's interior without it means
    // rewriting every file, which this format refuses to do silently.
    // The error names the flatten workaround; this proves that path.
    val s0 = spark
    import s0.implicits._
    // A struct-bearing table, staged through the raw commit path (the
    // DSv2 write paths serve struct columns too; only ALTER of a struct's
    // interior is refused).
    import graft.ingest.TxnCommit
    val cid = java.util.UUID.randomUUID().toString
    spark.sql("SELECT 1L AS id, named_struct('a', 2L, 'b', 'x') AS s")
      .coalesce(1).write.parquet(s"${TxnCommit.stagingDir(wh, cid)}/nw")
    val mv = TxnCommit.movesFor(fs, wh, cid, "nw")
    TxnCommit.commit(fs, wh, cid, mv)
    TxnCommit.publish(fs, wh, cid, mv)
    val cat = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[graft.sources.v2.GraftCatalog]
    val ident = org.apache.spark.sql.connector.catalog.Identifier
      .of(Array.empty[String], "nw")
    val err = intercept[Exception](cat.alterTable(ident,
      org.apache.spark.sql.connector.catalog.TableChange
        .renameColumn(Array("s", "a"), "aa")))
    assert(err.getMessage.contains("Flatten instead"), err.getMessage)
    // The workaround from the error text: API read (the one surface that
    // serves struct columns), flattened, written back as ONE atomic
    // overwrite — then the flat column ALTERs normally.
    import org.apache.spark.sql.functions.col
    Snapshots.read(spark, wh, "nw")
      .select(col("*"), col("s.*")).drop("s")
      .write.format("graft-snapshots")
      .option("warehouse", wh).option("table", "nw")
      .mode("overwrite").save()
    spark.sql("ALTER TABLE graft.nw RENAME COLUMN a TO aa")
    assert(spark.table("graft.nw").columns.toSeq == Seq("id", "aa", "b"))
    assert(spark.table("graft.nw").select("id", "aa", "b")
      .as[(Long, Long, String)].collect().toSeq == Seq((1L, 2L, "x")))
  }

  test("time-traveled loads apply that era's declared properties") {
    val s0 = spark
    import s0.implicits._
    spark.sql("CREATE TABLE graft.era AS SELECT 1L AS id, 'a' AS v")
    spark.sql("ALTER TABLE graft.era SET TBLPROPERTIES ('era' = 'one')")
    val vOld = Snapshots.latestVersion(fs, wh).get
    spark.sql("ALTER TABLE graft.era SET TBLPROPERTIES ('era' = 'two')")
    // loadTable(ident, version) must serve the OLD era's properties.
    val cat = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[graft.sources.v2.GraftCatalog]
    val ident = org.apache.spark.sql.connector.catalog.Identifier
      .of(Array.empty[String], "era")
    assert(cat.loadTable(ident, vOld.toString).properties()
      .get("era") == "one")
    assert(cat.loadTable(ident).properties().get("era") == "two")
  }

  test("readChangeFeed on a catalog table fails fast with guidance") {
    val s0 = spark
    import s0.implicits._
    Seq((1L, "a")).toDF("id", "v").createOrReplaceTempView("cfsrc")
    spark.sql("CREATE TABLE graft.cf AS SELECT id, v FROM cfsrc")
    val err = intercept[Exception](
      spark.read.option("readChangeFeed", "true").table("graft.cf").collect())
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ msgs(e.getCause))
    assert(msgs(err).exists(_.contains("SNAPSHOT CHANGES")), msgs(err))
  }

  test("REPLACE TABLE swaps data and contract atomically; time travel holds") {
    val s0 = spark
    import s0.implicits._
    Seq((1L, "a"), (2L, "b")).toDF("id", "name").createOrReplaceTempView("rp_src")
    spark.sql("CREATE TABLE graft.rp AS SELECT id, name FROM rp_src")
    spark.sql("ALTER TABLE graft.rp SET TBLPROPERTIES ('team' = 'old')")
    val vBefore = Snapshots.latestVersion(fs, wh).get
    // REPLACE with a DIFFERENT schema (new contract): data + declaration swap.
    spark.sql(
      "REPLACE TABLE graft.rp AS SELECT CAST(9 AS INT) AS k, 1.5D AS score")
    assert(spark.sql("SELECT k, score FROM graft.rp").collect()
      .map(r => (r.getInt(0), r.getDouble(1))).toSeq == Seq((9, 1.5)))
    // The old contract's properties are gone, not merged.
    assert(!spark.sql("SHOW TBLPROPERTIES graft.rp").collect()
      .exists(_.getString(0) == "team"))
    // Pre-replace versions still read under the OLD schema.
    assert(spark.sql(s"SELECT id, name FROM graft.rp VERSION AS OF $vBefore " +
        "ORDER BY id").as[(Long, String)].collect().toSeq ==
      Seq(1L -> "a", 2L -> "b"))
    // CREATE OR REPLACE over an existing table replaces…
    spark.sql("CREATE OR REPLACE TABLE graft.rp AS SELECT 7L AS id")
    assert(spark.sql("SELECT id FROM graft.rp").as[Long]
      .collect().toSeq == Seq(7L))
    // …and over a missing one creates.
    spark.sql("CREATE OR REPLACE TABLE graft.rp_new AS SELECT 3L AS id")
    assert(spark.sql("SELECT id FROM graft.rp_new").as[Long]
      .collect().toSeq == Seq(3L))
    // Plain REPLACE of a missing table fails.
    intercept[Exception](
      spark.sql("REPLACE TABLE graft.rp_missing AS SELECT 1L AS id"))
    assert(!spark.catalog.tableExists("graft.rp_missing"))
    // A failed REPLACE query leaves the old table untouched.
    intercept[Exception](spark.sql(
      "REPLACE TABLE graft.rp AS SELECT assert_true(id > 100L) AS x, id " +
        "FROM graft.rp_new"))
    assert(spark.sql("SELECT id FROM graft.rp").as[Long]
      .collect().toSeq == Seq(7L))
  }

  test("CTAS is atomic: a failed query leaves no table behind") {
    intercept[Exception](spark.sql(
      "CREATE TABLE graft.ghost AS SELECT raise_error('boom') AS x"))
    assert(!spark.catalog.tableExists("graft.ghost"),
      "failed CTAS must not leave a declared-empty ghost table")
    assert(!spark.sql("SHOW TABLES IN graft").collect()
      .map(_.getString(1)).contains("ghost"))
    // The name stays fully usable afterwards.
    spark.sql("CREATE TABLE graft.ghost AS SELECT 1L AS x")
    assert(spark.sql("SELECT x FROM graft.ghost").head().getLong(0) == 1L)
  }

  test("a STRING partition column keeps its path strings verbatim") {
    val s0 = spark
    import s0.implicits._
    spark.conf.set("spark.sql.catalog.gps",
      classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gps.warehouse",
      dir.resolve("partstr").toString)
    spark.sql("CREATE TABLE gps.p (id BIGINT, h STRING) PARTITIONED BY (h)")
    spark.sql("INSERT INTO gps.p VALUES (1L, '05'), (2L, '1.50'), (3L, '007')")
    assert(spark.sql("SELECT h FROM gps.p").as[String].collect().toSeq.sorted ==
      Seq("007", "05", "1.50"))
    assert(spark.sql("SELECT id FROM gps.p WHERE h = '05'").as[Long]
      .collect().toSeq == Seq(1L))
    assert(spark.sql("SELECT id, h FROM gps.p WHERE id = 2").as[(Long, String)]
      .collect().toSeq == Seq(2L -> "1.50"))
  }

  test("TBLPROPERTIES never pin a catalog read's version") {
    spark.conf.set("spark.sql.catalog.gtp",
      classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gtp.warehouse",
      dir.resolve("tblprops").toString)
    spark.sql("CREATE TABLE gtp.f AS SELECT id FROM range(100)")
    spark.sql("ALTER TABLE gtp.f SET TBLPROPERTIES ('versionAsOf'='0')")
    spark.sql("INSERT INTO gtp.f SELECT id FROM range(100, 250)")
    assert(spark.sql("SELECT count(*) FROM gtp.f").head().getLong(0) == 250L)
    assert(spark.sql("SELECT id FROM gtp.f").count() == 250L)
  }

  test("a version-pinned catalog source bounds its merge size from the log") {
    spark.conf.set("spark.sql.catalog.gsb",
      classOf[graft.sources.v2.GraftCatalog].getName)
    val w = dir.resolve("statsbound").toString
    spark.conf.set("spark.sql.catalog.gsb.warehouse", w)
    spark.sql("CREATE TABLE gsb.f AS SELECT id FROM range(100)")
    spark.sql("INSERT INTO gsb.f SELECT id FROM range(100, 250)")
    // Version 0 is the CTAS data commit: 100 rows.
    val pinned = spark.read.option("versionAsOf", "0").table("gsb.f")
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.ListenerBusDrain.drain(sc)
    sc.addSparkListener(l)
    val bound =
      try {
        val b = graft.ingest.Merge.statsRowBound(pinned)
        org.apache.spark.ListenerBusDrain.drain(sc)
        b
      } finally sc.removeSparkListener(l)
    assert(bound == Some(100L) && jobs.get == 0, s"bound $bound, ${jobs.get} jobs")
    assert(pinned.count() == 100L)
    assert(graft.ingest.Merge.statsRowBound(spark.table("gsb.f")) ==
      Some(250L))
  }

  test("table properties act as default read options for catalog streams") {
    val s0 = spark
    import s0.implicits._
    Seq((1L, "a")).toDF("id", "v").createOrReplaceTempView("optsrc")
    val startFrom = Snapshots.latestVersion(fs, wh).getOrElse(-1L)
    spark.sql("CREATE TABLE graft.opts AS SELECT id, v FROM optsrc")
    spark.sql("INSERT INTO graft.opts SELECT 2L, 'b'")
    spark.sql("INSERT INTO graft.opts SELECT 3L, 'c'")
    // A table-level default: every stream of this table is rate-limited
    // without per-query options (the Delta table-properties model).
    spark.sql(
      "ALTER TABLE graft.opts SET TBLPROPERTIES ('maxFilesPerTrigger'='1')")
    val out = dir.resolve("optsOut").toString
    val ckpt = dir.resolve("optsCkpt").toString
    val q = spark.readStream
      .option("startingVersion", startFrom.toString) // per-query still wins
      .table("graft.opts")
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(spark.read.parquet(out).count() == 3)
    val batches = new java.io.File(s"$ckpt/offsets").listFiles()
      .count(f => f.getName.forall(_.isDigit))
    assert(batches >= 3,
      s"table-level maxFilesPerTrigger must rate-limit: got $batches batches")
  }

  test("streaming read and write resolve through the catalog table name") {
    val s0 = spark
    import s0.implicits._
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").createOrReplaceTempView("ssrc")
    // Earlier tests may have vacuumed the shared warehouse's log tail —
    // stream from just below this table's own first commit.
    val startFrom = Snapshots.latestVersion(fs, wh).getOrElse(-1L)
    spark.sql("CREATE TABLE graft.str AS SELECT id, v FROM ssrc")
    // readStream.table: the catalog table's MICRO_BATCH_READ serves the
    // log tail with the table identity from its properties.
    val out = dir.resolve("strOut").toString
    val q = spark.readStream
      .option("startingVersion", startFrom.toString)
      .table("graft.str")
      .writeStream.format("parquet")
      .option("path", out)
      .option("checkpointLocation", dir.resolve("strCkpt").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(spark.read.parquet(out).as[(Long, String)].collect().toSet ==
      Set(1L -> "a", 2L -> "b"))
    // writeStream.toTable: STREAMING_WRITE through the same resolution —
    // epochs append to the catalog table exactly once.
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    in.addData((3L, "c"))
    val q2 = in.toDF.toDF("id", "v").writeStream
      .option("checkpointLocation", dir.resolve("strCkpt2").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .toTable("graft.str")
    q2.awaitTermination()
    assert(spark.sql("SELECT id FROM graft.str ORDER BY id")
      .as[Long].collect().toSeq == Seq(1L, 2L, 3L))
  }

  test("filterless count/min/max answer from the log, not a data scan") {
    import org.apache.spark.sql.connector.expressions.Expressions.{column => colRef}
    import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar, Max, Min}
    val s0 = spark
    import s0.implicits._
    Seq((5L, "cc"), (1L, "aa"), (9L, "bb")).toDF("id", "s").coalesce(1)
      .createOrReplaceTempView("aggsrc")
    spark.sql("CREATE TABLE graft.agg AS SELECT id, s FROM aggsrc")
    spark.sql("INSERT INTO graft.agg SELECT 42L, 'zz'")

    // SQL correctness through the pushed path.
    val r = spark.sql(
      "SELECT count(*), min(id), max(id), min(s), max(s) FROM graft.agg").head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3),
      r.getString(4)) == ((4L, 1L, 42L, "aa", "zz")))

    // The scan itself: a pushed aggregation plans ONE synthetic partition
    // (the log fold), not per-file partitions.
    def builder() = new graft.sources.v2.SnapshotScanBuilder(
      new org.apache.spark.sql.types.StructType()
        .add("id", "long").add("s", "string"),
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Map.of("warehouse", wh, "table", "agg")))
    val b = builder()
    assert(b.pushAggregation(new Aggregation(
      Array(new CountStar, new Min(colRef("id")),
        new Max(colRef("s"))), Array.empty)))
    val parts = b.toBatch.planInputPartitions()
    assert(parts.length == 1 &&
      parts(0).isInstanceOf[graft.sources.v2.SnapshotAggPartition], parts.toSeq)

    // A deletion vector keeps count(*) exact (subtracted) but bails
    // min/max back to the real scan — both stay correct.
    spark.sql("DELETE FROM graft.agg WHERE id = 1")
    assert(Snapshots.fileMeta(fs, wh, "agg").get.exists(_.dv.nonEmpty))
    val r2 = spark.sql(
      "SELECT count(*), min(id), min(s) FROM graft.agg").head()
    assert((r2.getLong(0), r2.getLong(1), r2.getString(2)) == ((3L, 5L, "bb")))
    val b2 = builder()
    assert(b2.pushAggregation(new Aggregation(
      Array(new CountStar), Array.empty)), "count alone must still push")
    assert(!builder().pushAggregation(new Aggregation(
      Array(new Min(colRef("id"))), Array.empty)),
      "min under a deletion vector must bail to the scan")
  }

  test("scan statistics from log tokens drive broadcast-join planning") {
    val s0 = spark
    import s0.implicits._
    spark.range(0, 5000).toDF("id").selectExpr("id", "id * 2 AS v")
      .createOrReplaceTempView("bigsrc")
    Seq((1L, "dim1"), (2L, "dim2")).toDF("id", "name")
      .createOrReplaceTempView("dimsrc")
    spark.sql("CREATE TABLE graft.fact AS SELECT id, v FROM bigsrc")
    spark.sql("CREATE TABLE graft.dim AS SELECT id, name FROM dimsrc")
    // Without SupportsReportStatistics a DSv2 scan defaults to
    // defaultSizeInBytes (huge) and the join sort-merges; the log's size
    // tokens make the tiny dimension broadcast.
    val q = spark.sql(
      "SELECT f.id, f.v, d.name FROM graft.fact f JOIN graft.dim d ON f.id = d.id")
    val p = q.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p)
    assert(q.count() == 2)
  }

  test("filter pushdown prunes files from log stats in the DSv2 scan") {
    val s0 = spark
    import s0.implicits._
    // Two single-file commits with disjoint id ranges: a filter on one
    // range must plan ONE input partition (log-stats skipping).
    Seq(1L, 2L).toDF("id").coalesce(1).createOrReplaceTempView("lo")
    Seq(100L, 200L).toDF("id").coalesce(1).createOrReplaceTempView("hi")
    spark.sql("CREATE TABLE graft.pr AS SELECT id FROM lo")
    spark.sql("INSERT INTO graft.pr SELECT id FROM hi")
    val scan = new graft.sources.v2.SnapshotScanBuilder(
      new org.apache.spark.sql.types.StructType().add("id", "long"),
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Map.of("warehouse", wh, "table", "pr")))
    scan.pushFilters(Array(org.apache.spark.sql.sources.GreaterThan("id", 50L)))
    val parts = scan.build()
      .asInstanceOf[graft.sources.v2.SnapshotScanBuilder]
      .toBatch.planInputPartitions()
    assert(parts.length == 1, s"expected 1 stats-surviving file, got ${parts.length}")
    // And the full query still returns exact rows.
    assert(spark.sql("SELECT id FROM graft.pr WHERE id > 50 ORDER BY id")
      .as[Long].collect().toSeq == Seq(100L, 200L))
  }

  test("decimal, array, struct and map columns serve on every DSv2 path") {
    // decimal(20,0) is the uint64 fallback type; array<float> an embedding.
    val ddl = "id BIGINT, big DECIMAL(20,0), emb ARRAY<FLOAT>, " +
      "st STRUCT<a: INT, b: STRING>, m MAP<STRING, BIGINT>"
    def rowsSql(ids: String) = s"""SELECT id,
        CASE WHEN id = 3 THEN CAST('18446744073709551615' AS DECIMAL(20,0))
             ELSE CAST(id AS DECIMAL(20,0)) END AS big,
        array(CAST(id AS FLOAT), CAST(NULL AS FLOAT), 0.5F) AS emb,
        named_struct('a', CAST(id AS INT), 'b', concat('s', id)) AS st,
        map('k', id * 10) AS m
      FROM VALUES $ids AS v(id)"""
    val src = dir.resolve("nestedSrc").toString
    spark.sql(rowsSql("(1L), (2L), (3L)")).coalesce(1).write.parquet(src)
    val startFrom = Snapshots.latestVersion(fs, wh).getOrElse(-1L)
    // Written once through the streaming sink …
    spark.readStream.schema(org.apache.spark.sql.types.StructType.fromDDL(ddl))
      .parquet(src)
      .writeStream.format("graft-snapshots")
      .option("warehouse", wh).option("table", "nested_sink")
      .option("checkpointLocation", dir.resolve("nestedSinkCkpt").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
    // … and once through a catalog INSERT.
    spark.sql(s"CREATE TABLE graft.nested_ins ($ddl)")
    spark.sql(s"INSERT INTO graft.nested_ins SELECT * FROM parquet.`$src`")
    def sorted(df: org.apache.spark.sql.DataFrame, cols: Seq[String]) =
      df.select(cols.map(org.apache.spark.sql.functions.col): _*).collect()
        .toSeq.sortBy(_.toString)
    val cols = Seq("id", "big", "emb", "st", "m")
    val feedCols = cols ++ Seq("_change_type", "_commit_version")
    def stream(t: String, tag: String, opts: Map[String, String]) = {
      val out = dir.resolve(s"${t}_${tag}Out").toString
      spark.readStream.format("graft-snapshots")
        .option("warehouse", wh).option("table", t)
        .option("startingVersion", startFrom.toString).options(opts).load()
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", dir.resolve(s"${t}_${tag}Ckpt").toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
      spark.read.parquet(out)
    }
    Seq("nested_sink", "nested_ins").foreach { t =>
      val read = sorted(Snapshots.read(spark, wh, t), cols)
      assert(read.size == 3 &&
        read(2).getDecimal(1) == new java.math.BigDecimal("18446744073709551615"),
        s"$t: $read")
      assert(sorted(stream(t, "append", Map.empty), cols) == read, t)
      graft.ingest.Merge.upsert(spark, wh, t, spark.sql(rowsSql("(2L), (4L)"))
        .withColumn("m", org.apache.spark.sql.functions.map(
          org.apache.spark.sql.functions.lit("k"),
          org.apache.spark.sql.functions.lit(-1L))), Seq("id"))
      val feed = stream(t, "cdf", Map("readChangeFeed" -> "true"))
      val changes = Snapshots.changes(spark, wh, t, fromExclusive = startFrom)
      assert(sorted(feed, feedCols) == sorted(changes, feedCols), t)
      assert(feed.select("_change_type").distinct().count() == 3, t)
      assert(sorted(spark.sql(s"SELECT * FROM graft.$t"), cols) ==
        sorted(Snapshots.read(spark, wh, t), cols), t)
    }
  }
}
