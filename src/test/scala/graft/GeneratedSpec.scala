package graft

import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.ingest.{Generated, Merge, Snapshots, TxnCommit}

/** GENERATED ALWAYS AS (expr): engine-materialized expression columns —
  * appends materialize, every DML rewrite RE-materializes (base-column
  * updates can never leave a stale generated value), direct assignment
  * is rejected, raw appends without the column are refused at the
  * commit gate. */
class GeneratedSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private lazy val dir = Files.createTempDirectory("graft-generated")
  private def wh(name: String) = dir.resolve(name).toString
  private def fs = new Path(dir.toString)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.extensions", "graft.sql.GraftSqlExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** The invariant every test closes with: stored ≡ expression. */
  private def assertInvariant(w: String, t: String, c: String,
                              exprSql: String): Unit = {
    val bad = Snapshots.read(spark, w, t)
      .filter(s"NOT ($c <=> ($exprSql))").count()
    assert(bad == 0, s"$bad rows violate $c = $exprSql")
  }

  test("appends materialize; raw/user-supplied writes are refused") {
    val s0 = spark
    import s0.implicits._
    val w = wh("gen")
    Generated.declare(spark, w, "t", "total", "price * qty")
    val n = Generated.appendGenerated(spark, w, "t",
      Seq((1L, 10.0, 3L), (2L, 2.5, 4L)).toDF("id", "price", "qty"))
    assert(n == 2L)
    assert(Snapshots.read(spark, w, "t").select("id", "total")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap ==
      Map(1L -> 30.0, 2L -> 10.0))
    // Supplying the column through the API is an error.
    intercept[IllegalArgumentException](
      Generated.appendGenerated(spark, w, "t",
        Seq((3L, 1.0, 1L, 99.0)).toDF("id", "price", "qty", "total")))
    // A raw TxnCommit append WITHOUT the column is refused at the gate.
    val cid = java.util.UUID.randomUUID().toString
    Seq((3L, 1.0, 1L)).toDF("id", "price", "qty").coalesce(1)
      .write.parquet(s"${TxnCommit.stagingDir(w, cid)}/t")
    val mv = TxnCommit.movesFor(fs, w, cid, "t")
    val ex = intercept[IllegalArgumentException](
      TxnCommit.commit(fs, w, cid, mv))
    assert(ex.getMessage.contains("total"), ex.getMessage)
    // Writer feature stamped: an unaware build must refuse to write.
    assert(Snapshots.snapshot(fs, w).features("t").contains("w:generatedColumns"))
    assertInvariant(w, "t", "total", "price * qty")
  }

  test("declaration validation: parse, determinism, chains, conflicts") {
    val s0 = spark
    import s0.implicits._
    val w = wh("genVal")
    Generated.appendGenerated(spark, w, "base", {
      Generated.declare(spark, w, "base", "twice", "k * 2")
      Seq((1L, "a")).toDF("k", "v")
    })
    // Non-deterministic expressions are rejected (resolved check).
    val e1 = intercept[IllegalArgumentException](
      Generated.declare(spark, w, "base", "r", "k + rand()"))
    assert(e1.getMessage.contains("non-deterministic"), e1.getMessage)
    // Unresolvable references are rejected at declare time.
    val e2 = intercept[IllegalArgumentException](
      Generated.declare(spark, w, "base", "x", "no_such_col + 1"))
    assert(e2.getMessage.contains("does not resolve"), e2.getMessage)
    // Generated-on-generated chains are rejected.
    val e3 = intercept[IllegalArgumentException](
      Generated.declare(spark, w, "base", "quad", "twice * 2"))
    assert(e3.getMessage.contains("itself generated"), e3.getMessage)
    // Subqueries are rejected.
    intercept[IllegalArgumentException](
      Generated.declare(spark, w, "base", "s", "(SELECT max(k) FROM base)"))
    // Context-dependent functions (Catalyst calls them deterministic —
    // per-query constants) are rejected: a rewrite recomputing
    // current_timestamp would silently change carried rows.
    val e5 = intercept[IllegalArgumentException](
      Generated.declare(spark, w, "base", "ts", "current_timestamp()"))
    assert(e5.getMessage.contains("changes"), e5.getMessage)
    intercept[IllegalArgumentException](
      Generated.declare(spark, w, "base", "d", "k + spark_partition_id()"))
    // Retrofitting a column that already carries data is refused.
    intercept[IllegalArgumentException](
      Generated.declare(spark, w, "base", "v", "upper(v)"))
  }

  test("DML rewrites re-materialize; direct assignment is rejected") {
    val s0 = spark
    import s0.implicits._
    val w = wh("genDml")
    Generated.declare(spark, w, "t", "total", "price * qty")
    Generated.appendGenerated(spark, w, "t",
      (0L until 20L).map(i => (i, i.toDouble, 2L)).toDF("id", "price", "qty"))
    // Copy-on-write UPDATE of a BASE column recomputes the generated one.
    Merge.updateWhere(spark, w, "t", col("id") < 5L,
      Map("qty" -> lit(10L)))
    assert(Snapshots.read(spark, w, "t").filter("id = 3").select("total")
      .head().getDouble(0) == 30.0)
    // Merge-on-read (deletion-vector) UPDATE recomputes too.
    Merge.updateWhereDv(spark, w, "t", col("id") === 7L,
      Map("price" -> lit(100.0)))
    assert(Snapshots.read(spark, w, "t").filter("id = 7").select("total")
      .head().getDouble(0) == 200.0)
    // DELETE keeps the invariant (survivor rewrite re-materializes).
    Merge.deleteWhere(spark, w, "t", col("id") === 9L)
    assert(Snapshots.read(spark, w, "t").count() == 19)
    assertInvariant(w, "t", "total", "price * qty")
    // Assigning the generated column directly is rejected on every route.
    val e1 = intercept[IllegalArgumentException](
      Merge.updateWhere(spark, w, "t", col("id") === 1L,
        Map("total" -> lit(0.0))))
    assert(e1.getMessage.contains("GENERATED"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](
      Merge.updateWhereDv(spark, w, "t", col("id") === 1L,
        Map("total" -> lit(0.0))))
    assert(e2.getMessage.contains("GENERATED"), e2.getMessage)
    val e3 = intercept[IllegalArgumentException](
      Merge.mergeClauses(spark, w, "t",
        Seq((1L, 5.0)).toDF("id", "price"), Seq("id"),
        matched = Seq(Merge.WhenClause(None,
          Some(Seq("total" -> lit(1.0))))),
        notMatched = Nil))
    assert(e3.getMessage.contains("GENERATED"), e3.getMessage)
    // MERGE assigning a BASE column recomputes on the general engine.
    Merge.mergeClauses(spark, w, "t",
      Seq((2L, 50.0)).toDF("id", "p2"), Seq("id"),
      matched = Seq(Merge.WhenClause(None,
        Some(Seq("price" -> col("s.p2"))))),
      notMatched = Nil)
    // id = 2 had qty bumped to 10 by the first UPDATE: 50.0 × 10.
    assert(Snapshots.read(spark, w, "t").filter("id = 2").select("total")
      .head().getDouble(0) == 500.0)
    assertInvariant(w, "t", "total", "price * qty")
  }

  test("randomized chain: appends, DML, crashes, compaction keep the invariant") {
    val s0 = spark
    import s0.implicits._
    val w = wh("genChaos")
    Generated.declare(spark, w, "t", "total", "price * qty")
    val rng = new scala.util.Random(13)
    var rows = 0L
    var nextK = 0L
    var batchNo = 0
    def fresh(n: Int) = {
      val ks = (nextK until nextK + n); nextK += n
      ks.map(k => (k, (k % 9).toDouble, 1L + k % 4)).toDF("id", "price", "qty")
    }
    rows += Generated.appendGenerated(spark, w, "t", fresh(6))
    (1 to 14).foreach { step =>
      rng.nextInt(6) match {
        case 0 =>
          rows += Generated.appendGenerated(spark, w, "t",
            fresh(2 + rng.nextInt(4)))
        case 1 => // replay-keyed append driven twice: lands once
          batchNo += 1
          val cid = s"genload-$batchNo"
          val df = fresh(3)
          rows += Generated.appendGenerated(spark, w, "t", df,
            commitId = Some(cid))
          assert(Generated.appendGenerated(spark, w, "t", df,
            commitId = Some(cid)) == 0L, s"step $step: replay re-landed")
        case 2 => // crash mid-publish; recovery + replay converge
          batchNo += 1
          val cid = s"gencrash-$batchNo"
          val df = fresh(2)
          sys.props("graft.test.failAfterMoves") = "0"
          try intercept[IllegalStateException](
            Generated.appendGenerated(spark, w, "t", df,
              commitId = Some(cid)))
          finally sys.props.remove("graft.test.failAfterMoves")
          assert(Generated.appendGenerated(spark, w, "t", df,
            commitId = Some(cid)) == 0L,
            s"step $step: crashed batch replayed as new")
          rows += 2
        case 3 => // base-column update on a random slice (either route)
          val lo = rng.nextInt(nextK.toInt.max(1)).toLong
          if (rng.nextBoolean())
            Merge.updateWhere(spark, w, "t",
              col("id") >= lo && col("id") < lo + 3,
              Map("qty" -> (col("qty") + lit(1L))))
          else
            Merge.updateWhereDv(spark, w, "t",
              col("id") >= lo && col("id") < lo + 3,
              Map("price" -> (col("price") + lit(0.5))))
        case 4 => // delete a row
          val k = rng.nextInt(nextK.toInt.max(1)).toLong
          rows -= Snapshots.read(spark, w, "t")
            .filter(col("id") === k).count()
          Merge.deleteWhere(spark, w, "t", col("id") === k)
        case 5 => graft.ingest.Compaction.compact(spark, w, "t")
      }
      assert(Snapshots.read(spark, w, "t").count() == rows,
        s"step $step: row count diverged")
      assertInvariant(w, "t", "total", "price * qty")
    }
  }

  test("catalog SQL DML and MERGE inserts keep the invariant") {
    val s0 = spark
    import s0.implicits._
    val w = wh("genCat")
    Generated.declare(spark, w, "t", "total", "price * qty")
    Generated.appendGenerated(spark, w, "t",
      (0L until 10L).map(i => (i, i.toDouble, 2L)).toDF("id", "price", "qty"))
    spark.conf.set("spark.sql.catalog.ggen",
      classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.ggen.warehouse", w)
    // Catalog SQL UPDATE of a base column lowers onto the merge engine,
    // whose staging hook recomputes the generated value.
    spark.sql("UPDATE ggen.t SET qty = 5 WHERE id = 4")
    assert(spark.sql("SELECT total FROM ggen.t WHERE id = 4")
      .head().getDouble(0) == 20.0)
    // Direct SQL assignment of the generated column is rejected.
    val e = intercept[Exception](
      spark.sql("UPDATE ggen.t SET total = 0.0 WHERE id = 1"))
    assert(e.getMessage.contains("GENERATED"), e.getMessage)
    // MERGE inserts with explicit assignments OMITTING the generated
    // column land it from the expression (null placeholder recomputed).
    Merge.mergeClauses(spark, w, "t",
      Seq((100L, 7.0, 3L)).toDF("id", "price", "qty"), Seq("id"),
      matched = Nil,
      notMatched = Seq(Merge.WhenClause(None, Some(Seq(
        "id" -> col("s.id"), "price" -> col("s.price"),
        "qty" -> col("s.qty"))))))
    assert(Snapshots.read(spark, w, "t").filter("id = 100").select("total")
      .head().getDouble(0) == 21.0)
    assertInvariant(w, "t", "total", "price * qty")
  }

  test("random expression shapes hold the invariant through DML") {
    val s0 = spark
    import s0.implicits._
    // Beyond the arithmetic happy path: string building, CASE, integer
    // division (NULL on zero via nullif), and null-propagating inputs —
    // each declared, appended, updated twice, and re-verified.
    val exprs = Seq(
      "concat(name, '-', CAST(qty AS STRING))",
      "CASE WHEN qty > 2 THEN price * 2 ELSE price END",
      "price / nullif(CAST(qty AS DOUBLE) - 2.0, 0.0)",
      "coalesce(price, 0.0) + qty",
      "upper(substring(name, 1, 3))",
      "CAST(price AS DECIMAL(12,2)) * qty")
    exprs.zipWithIndex.foreach { case (e, i) =>
      val w = wh(s"genProp$i")
      Generated.declare(spark, w, "t", "g", e)
      val rng = new scala.util.Random(100 + i)
      def optD() = if (rng.nextInt(8) == 0) None else Some(rng.nextInt(9).toDouble)
      val rows = (0L until 30L).map(k =>
        (k, optD(), 1L + rng.nextInt(4), s"n$k"))
      Generated.appendGenerated(spark, w, "t",
        rows.toDF("id", "price", "qty", "name"))
      Merge.updateWhere(spark, w, "t", col("id") % 3 === 0L,
        Map("qty" -> (col("qty") + lit(2L))))
      Merge.updateWhereDv(spark, w, "t", col("id") % 5 === 1L,
        Map("price" -> (col("price") * lit(2.0))))
      assertInvariant(w, "t", "g", e)
      assert(Snapshots.read(spark, w, "t").count() == 30, s"expr [$e]")
    }
  }

  test("mixed identity+generated chain: ids unique, invariant holds") {
    val s0 = spark
    import s0.implicits._
    import graft.ingest.Identity
    val w = wh("genMix")
    Identity.declare(spark, w, "t", "rid")
    Generated.declare(spark, w, "t", "total", "price * qty")
    val rng = new scala.util.Random(29)
    var rows = 0L
    var nextK = 0L
    var batchNo = 0
    def fresh(n: Int) = {
      val ks = (nextK until nextK + n); nextK += n
      ks.map(k => ((k % 7).toDouble, 1L + k % 3)).toDF("price", "qty")
    }
    rows += Identity.appendWithIdentity(spark, w, "t", fresh(5))
    (1 to 12).foreach { step =>
      rng.nextInt(5) match {
        case 0 =>
          rows += Identity.appendWithIdentity(spark, w, "t",
            fresh(2 + rng.nextInt(3)))
        case 1 => // replay-keyed: lands once, mints once
          batchNo += 1
          val cid = s"mixload-$batchNo"
          val df = fresh(3)
          rows += Identity.appendWithIdentity(spark, w, "t", df,
            commitId = Some(cid))
          assert(Identity.appendWithIdentity(spark, w, "t", df,
            commitId = Some(cid)) == 0L, s"step $step: replay re-landed")
        case 2 => // base-column update recomputes the generated value
          val lo = rng.nextInt(rows.toInt.max(1)).toLong
          Merge.updateWhere(spark, w, "t",
            col("rid") >= lo && col("rid") < lo + 4,
            Map("price" -> (col("price") + lit(1.0))))
        case 3 => // identity/generated assignment both refuse
          intercept[IllegalArgumentException](
            Merge.updateWhere(spark, w, "t", col("qty") > 0L,
              Map("rid" -> lit(0L))))
          intercept[IllegalArgumentException](
            Merge.updateWhereDv(spark, w, "t", col("qty") > 0L,
              Map("total" -> lit(0.0))))
        case 4 => graft.ingest.Compaction.compact(spark, w, "t")
      }
      val got = Snapshots.read(spark, w, "t")
        .select("rid").as[Long].collect().toSeq
      assert(got.length == rows, s"step $step: row count diverged")
      assert(got.distinct.length == got.length,
        s"step $step: duplicate ids")
      assertInvariant(w, "t", "total", "price * qty")
    }
  }

  test("rename/drop DDL refuses to dangle generation expressions") {
    val s0 = spark
    import s0.implicits._
    import graft.ingest.SchemaEvolution
    val w = wh("genDdl")
    Generated.declare(spark, w, "t", "total", "price * qty")
    Generated.appendGenerated(spark, w, "t",
      Seq((1L, 2.0, 3L)).toDF("id", "price", "qty"))
    // Renaming a referenced base column would dangle the expression.
    val e1 = intercept[IllegalArgumentException](
      SchemaEvolution.renameColumn(spark, w, "t", "price", "p"))
    assert(e1.getMessage.contains("total"), e1.getMessage)
    // Dropping a referenced base column likewise.
    val e2 = intercept[IllegalArgumentException](
      SchemaEvolution.dropColumn(spark, w, "t", "qty"))
    assert(e2.getMessage.contains("total"), e2.getMessage)
    // Renaming the generated column itself refuses (name-keyed).
    val e3 = intercept[IllegalArgumentException](
      SchemaEvolution.renameColumn(spark, w, "t", "total", "t2"))
    assert(e3.getMessage.contains("GENERATED"), e3.getMessage)
    // Unreferenced columns rename/drop freely.
    SchemaEvolution.renameColumn(spark, w, "t", "id", "key")
    // DROPPING the generated column clears its declaration in the same
    // commit — later appends need (and accept) no generated column.
    SchemaEvolution.dropColumn(spark, w, "t", "total")
    assert(Generated.generatedColumns(Snapshots.snapshot(fs, w), "t").isEmpty)
    val cid = java.util.UUID.randomUUID().toString
    Seq((2L, 5.0, 1L)).toDF("key", "price", "qty").coalesce(1)
      .write.parquet(s"${TxnCommit.stagingDir(w, cid)}/t")
    TxnCommit.commit(fs, w, cid, TxnCommit.movesFor(fs, w, cid, "t"))
    TxnCommit.publish(fs, w, cid, TxnCommit.movesFor(fs, w, cid, "t"))
    assert(Snapshots.read(spark, w, "t").count() == 2)
  }

  test("streaming epochs materialize exactly-once across restarts") {
    val s0 = spark
    import s0.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val w = wh("genStream"); val ckpt = wh("genStreamCkpt")
    Generated.declare(spark, w, "t", "total", "price * qty")
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Double, Long)]
    def drain(): Unit = {
      val q = graft.streaming.StreamingOps.transactionalSink(
        in.toDF.toDF("price", "qty"), w, "t", ckpt)
      q.awaitTermination()
    }
    in.addData((1L to 5L).map(i => (i.toDouble, i)): _*)
    drain()
    in.addData((6L to 9L).map(i => (i.toDouble, i)): _*)
    drain()
    assert(Snapshots.read(spark, w, "t").count() == 9)
    assertInvariant(w, "t", "total", "price * qty")
    // A replayed epoch (same batchId through commitBatch) lands nothing.
    graft.streaming.StreamingOps.commitBatch(
      (1L to 5L).map(i => (i.toDouble, i)).toDF("price", "qty"), w, "t",
      batchId = 0L)
    assert(Snapshots.read(spark, w, "t").count() == 9,
      "replayed epoch re-landed")
  }

  test("exactly-once epochs, SQL grammar, clone carries the declaration") {
    val s0 = spark
    import s0.implicits._
    val w = wh("genSql")
    spark.conf.set("spark.graft.warehouse", w)
    try {
      // Table must exist for isGraftTable routing — seed one committed
      // era; its rows read NULL for the later column (additive era).
      val cid = java.util.UUID.randomUUID().toString
      Seq((0L, 6L)).toDF("id", "ts").coalesce(1)
        .write.parquet(s"${TxnCommit.stagingDir(w, cid)}/t")
      val mv = TxnCommit.movesFor(fs, w, cid, "t")
      TxnCommit.commit(fs, w, cid, mv); TxnCommit.publish(fs, w, cid, mv)
      spark.sql(
        "ALTER TABLE t ADD COLUMN day INT GENERATED ALWAYS AS " +
          "((CAST(ts AS INT) % 7))")
      assert(Generated.generatedColumns(Snapshots.snapshot(fs, w), "t") ==
        Seq("day" -> "(CAST(ts AS INT) % 7)"))
      Generated.appendGenerated(spark, w, "t",
        Seq((1L, 20L), (2L, 13L)).toDF("id", "ts"))
      val got = Snapshots.read(spark, w, "t", mergeSchema = true)
        .select("id", "day").collect()
        .map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) None else Some(r.getInt(1)))).toMap
      assert(got == Map(0L -> None, 1L -> Some(6), 2L -> Some(6)), got)
      // commitId replay: the batch lands once.
      val df = Seq((3L, 21L)).toDF("id", "ts")
      assert(Generated.appendGenerated(spark, w, "t", df,
        commitId = Some("gen-load-1")) == 1L)
      assert(Generated.appendGenerated(spark, w, "t", df,
        commitId = Some("gen-load-1")) == 0L)
      assert(Snapshots.read(spark, w, "t", mergeSchema = true).count() == 4)
      // Clone carries the property + feature; appends there materialize.
      Snapshots.cloneTable(spark, w, "t", "t2")
      assert(Generated.generatedColumns(Snapshots.snapshot(fs, w), "t2").nonEmpty)
      assert(Snapshots.snapshot(fs, w).features("t2")
        .contains("w:generatedColumns"))
      Generated.appendGenerated(spark, w, "t2",
        Seq((4L, 15L)).toDF("id", "ts"))
      assert(Snapshots.read(spark, w, "t2", mergeSchema = true)
        .filter("id = 4").select("day").head().getInt(0) == 1)
    } finally spark.conf.unset("spark.graft.warehouse")
  }

  test("schema DDL checks and commits at one snapshot: one walk before its commit") {
    val s0 = spark
    import s0.implicits._
    /** Log-list operations `ddl` performs before its version claim, in
      * walks of `w`'s one-commit log (one snapshot's listing). */
    def walksBeforeClaim(w: String)(ddl: => Unit): Double = {
      val cid = java.util.UUID.randomUUID().toString
      Seq((1L, 2.0, 3L)).toDF("id", "price", "qty").coalesce(1)
        .write.parquet(s"${TxnCommit.stagingDir(w, cid)}/t")
      val mv = TxnCommit.movesFor(fs, w, cid, "t")
      TxnCommit.commit(fs, w, cid, mv)
      TxnCommit.publish(fs, w, cid, mv)
      Snapshots.logLists.set(0)
      Snapshots.snapshot(fs, w)
      val walk = Snapshots.logLists.get
      val atClaim = new java.util.concurrent.atomic.AtomicLong(-1L)
      Snapshots.testPostClaim =
        Some((_, _) => atClaim.compareAndSet(-1L, Snapshots.logLists.get))
      Snapshots.logLists.set(0)
      try ddl finally Snapshots.testPostClaim = None
      atClaim.get.toDouble / walk
    }
    // Each is the operation's one snapshot plus append's own tail walk; a
    // column-mapping commit writes the table's own key, so append's write
    // gate adds its snapshot.
    val walks = Map(
      "identity" -> walksBeforeClaim(wh("walkId"))(graft.ingest.Identity
        .declare(spark, wh("walkId"), "t", "row_id")),
      "generated" -> walksBeforeClaim(wh("walkGen"))(Generated
        .declare(spark, wh("walkGen"), "t", "total", "price * qty")),
      "addColumn" -> walksBeforeClaim(wh("walkAdd"))(graft.ingest
        .SchemaEvolution.addColumn(spark, wh("walkAdd"), "t", "tag",
          Some("'x'"))))
    assert(walks == Map("identity" -> 2.0, "generated" -> 2.0,
      "addColumn" -> 3.0), walks)
  }
}
