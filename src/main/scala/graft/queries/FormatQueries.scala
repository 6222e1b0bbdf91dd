package graft.queries

import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ingest.{Compaction, Merge, Snapshots, TxnCommit}

/** CORRECTNESS bridge for the table format: drive the REAL
  * stage→commit→publish→snapshot-read machinery inside the driver's
  * DuckDB-oracle gate, not just ScalaTest. Each entry builds a fresh
  * throwaway warehouse from the `nation` fixture (25 rows at every SF —
  * constant cost in bench), pushes it through the format, and returns a
  * result whose ground truth is expressible as plain SQL over the original
  * parquet — so a regression in the commit protocol, snapshot fold, merge
  * rewrite, or change feed breaks a hash match, exactly like any other
  * operator.
  */
object FormatQueries {

  private def nation(s: SparkSession, dir: String): DataFrame =
    Fixtures.table(s, dir, "nation")
      .select(col("n_nationkey").cast("long").as("n_nationkey"),
        col("n_name"), col("n_regionkey").cast("long").as("n_regionkey"))

  /** One warehouse per (entry, sfDir) per JVM, built on first use: bench
    * runs entries 4× (warm-up + 3 timed) and the timed runs must measure
    * the snapshot READ, not fixture authoring — all commits happen inside
    * the [[Fixtures.once]] build, every later invocation is a pure read of
    * identical state. */
  private def freshWh(): String =
    Files.createTempDirectory("graft-fmtq").resolve("wh").toString

  private def publish(s: SparkSession, wh: String, table: String,
                      df: DataFrame): Unit =
    TxnCommit.writeTables(
      new Path(wh).getFileSystem(s.sparkContext.hadoopConfiguration), wh,
      Seq(table -> df.coalesce(1).write))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Native DSv2 streaming SINK end-to-end: events → writeStream
    // .format("graft-snapshots") → epoch-committed snapshot table. The
    // read-back must hash-match the fixture exactly — exactly-once landing,
    // schema (incl. timestamps) preserved through the executor-side parquet
    // encode and the transactional publish.
    "fmt_stream_sink" -> ((s, d) => {
      val wh = Fixtures.once("fmt_stream_sink", d) {
        val w = freshWh()
        val path = s"$d/events.parquet"
        val schema = s.read.parquet(path).schema
        val stream = Fixtures.adaptEventsTs(
          s.readStream.schema(schema).parquet(path + "*"))
        val ckpt = Files.createTempDirectory("graft-sink-ckpt").toString
        val q = stream.writeStream.format("graft-snapshots")
          .option("warehouse", w).option("table", "events")
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        w
      }
      Snapshots.read(s, wh, "events")
    }),
    // Native batch WRITE path: append, then an atomic overwrite replacing
    // the low keys — the final read-back must equal the overwrite result,
    // proving SaveMode plumbing, the REMOVE+ADD single-version swap, and
    // the V1 write fallback end-to-end.
    "fmt_batch_write" -> ((s, d) => {
      val wh = Fixtures.once("fmt_batch_write", d) {
        val w = freshWh()
        val n = nation(s, d)
        n.filter(col("n_nationkey") < 10).write.format("graft-snapshots")
          .option("warehouse", w).option("table", "nation")
          .mode(org.apache.spark.sql.SaveMode.Append).save()
        n.write.format("graft-snapshots")
          .option("warehouse", w).option("table", "nation")
          .mode(org.apache.spark.sql.SaveMode.Overwrite).save()
        w
      }
      s.read.format("graft-snapshots")
        .option("warehouse", wh).option("table", "nation").load()
    }),
    // Two commits + a compaction + data-skipping read: the returned rows
    // must equal the plain table — proving the snapshot fold (adds minus
    // compaction removes) and the stats-pruned read drop nothing.
    "fmt_roundtrip" -> ((s, d) => {
      val wh = Fixtures.once("fmt_roundtrip", d) {
        val w = freshWh()
        val n = nation(s, d)
        publish(s, w, "nation", n.filter(col("n_nationkey") < 12))
        publish(s, w, "nation", n.filter(col("n_nationkey") >= 12))
        Compaction.compact(s, w, "nation", sortBy = Seq("n_nationkey"))
        w
      }
      Snapshots.readWhere(s, wh, "nation", col("n_nationkey") >= 0L)
    }),
    // Copy-on-write upsert: modified names for keys < 5, one brand-new row;
    // result must match a CASE/UNION oracle over the original fixture.
    // The same upsert driven through the SQL statement (`MERGE INTO …
    // USING … ON … WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN
    // INSERT *`): hash-matching fmt_merge's oracle proves the parser
    // lowers onto exactly the engine the API path runs.
    "fmt_sql_merge" -> ((s, d) => {
      val wh = Fixtures.once("fmt_sql_merge", d) {
        val w = freshWh()
        val n = nation(s, d)
        publish(s, w, "nation", n)
        n.filter(col("n_nationkey") < 5)
          .withColumn("n_name", concat(col("n_name"), lit("_X")))
          .unionByName(s.range(1).select(lit(990L).as("n_nationkey"),
            lit("NEWLAND").as("n_name"), lit(0L).as("n_regionkey")))
          .createOrReplaceTempView("fmt_merge_src")
        val prev = s.conf.getOption("spark.graft.warehouse")
        s.conf.set("spark.graft.warehouse", w)
        try s.sql(
          """MERGE INTO nation USING fmt_merge_src
            |ON nation.n_nationkey = fmt_merge_src.n_nationkey
            |WHEN MATCHED THEN UPDATE SET *
            |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
        finally prev.fold(s.conf.unset("spark.graft.warehouse"))(v =>
          s.conf.set("spark.graft.warehouse", v))
        w
      }
      Snapshots.read(s, wh, "nation")
    }),

    // SQL INSERT INTO lowered onto the batch write path: a partial first
    // commit + an INSERT of the remainder must reassemble the exact
    // fixture — proving the parser lowering, positional column mapping,
    // and the append commit end-to-end through the oracle gate.
    "fmt_sql_insert" -> ((s, d) => {
      val wh = Fixtures.once("fmt_sql_insert", d) {
        val w = freshWh()
        val n = nation(s, d)
        publish(s, w, "nation", n.filter(col("n_nationkey") < 20))
        n.filter(col("n_nationkey") >= 20)
          .createOrReplaceTempView("fmt_ins_src")
        val prev = s.conf.getOption("spark.graft.warehouse")
        s.conf.set("spark.graft.warehouse", w)
        try s.sql(
          "INSERT INTO nation SELECT n_nationkey, n_name, n_regionkey " +
            "FROM fmt_ins_src").collect()
        finally prev.fold(s.conf.unset("spark.graft.warehouse"))(v =>
          s.conf.set("spark.graft.warehouse", v))
        w
      }
      Snapshots.read(s, wh, "nation")
    }),

    // SQL CTAS lowered onto create-on-first-write: one statement lands the
    // DDL and the data as a PARTITIONED table; the read-back (partition
    // column served from log tuples) must reassemble the fixture exactly.
    "fmt_sql_ctas" -> ((s, d) => {
      val wh = Fixtures.once("fmt_sql_ctas", d) {
        val w = freshWh()
        nation(s, d)
          .withColumn("side", when(col("n_nationkey") % 2 === 0,
            lit("even")).otherwise(lit("odd")))
          .createOrReplaceTempView("fmt_ctas_src")
        val prev = s.conf.getOption("spark.graft.warehouse")
        s.conf.set("spark.graft.warehouse", w)
        try s.sql(
          "CREATE TABLE nation_ctas PARTITIONED BY (side) AS " +
            "SELECT n_nationkey, n_name, n_regionkey, side FROM fmt_ctas_src"
        ).collect()
        finally prev.fold(s.conf.unset("spark.graft.warehouse"))(v =>
          s.conf.set("spark.graft.warehouse", v))
        w
      }
      Snapshots.read(s, wh, "nation_ctas")
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"),
          col("side").cast("string").as("side"))
    }),

    // DSv2 catalog end-to-end: CTAS through catalog resolution, INSERT of
    // the remainder, a DELETE lowered onto the format's row-level delete,
    // then a catalog SELECT (spliced to the vectorized plan in this
    // session). Ground truth: plain SQL over the original parquet.
    "fmt_catalog" -> ((s, d) => {
      s.conf.set("spark.sql.catalog.gwh",
        classOf[graft.sources.v2.GraftCatalog].getName)
      val wh = Fixtures.once("fmt_catalog", d) {
        val w = freshWh()
        s.conf.set("spark.sql.catalog.gwh.warehouse", w)
        nation(s, d).createOrReplaceTempView("fmt_cat_src")
        s.sql("CREATE TABLE gwh.nation_cat AS " +
          "SELECT n_nationkey, n_name, n_regionkey FROM fmt_cat_src " +
          "WHERE n_nationkey < 15")
        s.sql("INSERT INTO gwh.nation_cat " +
          "SELECT n_nationkey, n_name, n_regionkey FROM fmt_cat_src " +
          "WHERE n_nationkey >= 15")
        s.sql("DELETE FROM gwh.nation_cat WHERE n_nationkey IN (3, 10, 17, 24)")
        w
      }
      s.conf.set("spark.sql.catalog.gwh.warehouse", wh)
      s.sql("SELECT n_nationkey, n_name, n_regionkey FROM gwh.nation_cat")
    }),

    // Catalog row-level SQL (UPDATE + MERGE lowered onto the Merge
    // engines by the injected resolution rule): suffix region-2 names,
    // then upsert modified low keys + one new row — ground truth is a
    // CASE/UNION oracle over the fixture.
    "fmt_catalog_dml" -> ((s, d) => {
      s.conf.set("spark.sql.catalog.gdml",
        classOf[graft.sources.v2.GraftCatalog].getName)
      val wh = Fixtures.once("fmt_catalog_dml", d) {
        val w = freshWh()
        s.conf.set("spark.sql.catalog.gdml.warehouse", w)
        nation(s, d).createOrReplaceTempView("fmt_cdml_src")
        s.sql("CREATE TABLE gdml.nation_dml AS " +
          "SELECT n_nationkey, n_name, n_regionkey FROM fmt_cdml_src")
        s.sql("UPDATE gdml.nation_dml SET n_name = concat(n_name, '_U') " +
          "WHERE n_regionkey = 2")
        nation(s, d).filter(col("n_nationkey") < 5)
          .withColumn("n_name", concat(col("n_name"), lit("_M")))
          .unionByName(s.range(1).select(lit(990L).as("n_nationkey"),
            lit("NEWLAND").as("n_name"), lit(0L).as("n_regionkey")))
          .createOrReplaceTempView("fmt_cdml_upd")
        s.sql(
          """MERGE INTO gdml.nation_dml USING fmt_cdml_upd
            |ON gdml.nation_dml.n_nationkey = fmt_cdml_upd.n_nationkey
            |WHEN MATCHED THEN UPDATE SET *
            |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
        w
      }
      s.conf.set("spark.sql.catalog.gdml.warehouse", wh)
      s.sql("SELECT n_nationkey, n_name, n_regionkey FROM gdml.nation_dml")
    }),

    // Conditional + column-level MERGE clauses through the catalog: the
    // general engine path (first acting clause wins, matched-but-unacted
    // rows survive, a failed NOT MATCHED condition suppresses the insert,
    // unassigned INSERT columns land NULL). Ground truth: a CASE/filter/
    // UNION over the fixture.
    "fmt_sql_merge_cond" -> ((s, d) => {
      s.conf.set("spark.sql.catalog.gmc",
        classOf[graft.sources.v2.GraftCatalog].getName)
      val wh = Fixtures.once("fmt_sql_merge_cond", d) {
        val w = freshWh()
        s.conf.set("spark.sql.catalog.gmc.warehouse", w)
        nation(s, d).createOrReplaceTempView("fmt_mc_base")
        s.sql("CREATE TABLE gmc.nation_cond AS " +
          "SELECT n_nationkey, n_name, n_regionkey FROM fmt_mc_base")
        nation(s, d).filter(col("n_nationkey") < 15)
          .unionByName(s.range(1).select(lit(990L).as("n_nationkey"),
            lit("NEWLAND").as("n_name"), lit(1L).as("n_regionkey")))
          .unionByName(s.range(1).select(lit(996L).as("n_nationkey"),
            lit("FARLAND").as("n_name"), lit(1L).as("n_regionkey")))
          .createOrReplaceTempView("fmt_mc_src")
        s.sql(
          """MERGE INTO gmc.nation_cond USING fmt_mc_src
            |ON gmc.nation_cond.n_nationkey = fmt_mc_src.n_nationkey
            |WHEN MATCHED AND fmt_mc_src.n_regionkey = 2
            |  THEN UPDATE SET n_name = concat(gmc.nation_cond.n_name, '_C')
            |WHEN MATCHED AND fmt_mc_src.n_regionkey = 4 THEN DELETE
            |WHEN NOT MATCHED AND fmt_mc_src.n_nationkey < 995
            |  THEN INSERT (n_nationkey, n_name)
            |       VALUES (fmt_mc_src.n_nationkey, fmt_mc_src.n_name)""".stripMargin)
        w
      }
      s.conf.set("spark.sql.catalog.gmc.warehouse", wh)
      s.sql("SELECT n_nationkey, n_name, n_regionkey FROM gmc.nation_cond")
    }),

    // REPLACE TABLE through the staged catalog path: data and declaration
    // swap atomically with a NEW schema contract; the pre-replace version
    // stays time-travelable. The entry reads the replaced table UNIONed
    // with a time-traveled projection of the original — proving both the
    // swap and cross-replace time travel. Ground truth: plain SQL over
    // the fixture.
    "fmt_replace" -> ((s, d) => {
      s.conf.set("spark.sql.catalog.grp",
        classOf[graft.sources.v2.GraftCatalog].getName)
      val wh = Fixtures.once("fmt_replace", d) {
        val w = freshWh()
        s.conf.set("spark.sql.catalog.grp.warehouse", w)
        nation(s, d).createOrReplaceTempView("fmt_rp_base")
        s.sql("CREATE TABLE grp.nation_rp AS " +
          "SELECT n_nationkey, n_name, n_regionkey FROM fmt_rp_base")
        s.sql(
          """REPLACE TABLE grp.nation_rp AS
            |SELECT n_regionkey AS region, count(*) AS n,
            |       sum(n_nationkey) AS key_sum
            |FROM fmt_rp_base GROUP BY n_regionkey""".stripMargin)
        w
      }
      s.conf.set("spark.sql.catalog.grp.warehouse", wh)
      val fsW = new Path(wh).getFileSystem(s.sparkContext.hadoopConfiguration)
      val vPre = Snapshots.latestVersion(fsW, wh).get - 2 // before the replace
      s.sql(
        s"""SELECT region, n, key_sum FROM grp.nation_rp
           |UNION ALL
           |SELECT n_nationkey AS region, -1L AS n, -1L AS key_sum
           |FROM grp.nation_rp VERSION AS OF $vPre WHERE n_regionkey = 3""".stripMargin)
    }),

    // Conditional WHEN NOT MATCHED BY SOURCE clauses (general engine):
    // unmatched target rows update or delete by condition — the full
    // Delta NMBS surface beyond the star mirror-sync shape. Ground
    // truth: CASE/filter SQL over the fixture.
    "fmt_merge_nmbs_cond" -> ((s, d) => {
      s.conf.set("spark.sql.catalog.gnbq",
        classOf[graft.sources.v2.GraftCatalog].getName)
      val wh = Fixtures.once("fmt_merge_nmbs_cond", d) {
        val w = freshWh()
        s.conf.set("spark.sql.catalog.gnbq.warehouse", w)
        nation(s, d).createOrReplaceTempView("fmt_nb_base")
        s.sql("CREATE TABLE gnbq.nation_nb AS " +
          "SELECT n_nationkey, n_name, n_regionkey FROM fmt_nb_base")
        nation(s, d).filter(col("n_nationkey") < 10)
          .createOrReplaceTempView("fmt_nb_src")
        // Matched (keys < 10): tag the name. Unmatched: region-2 rows
        // get region 99 (conditional NMBS UPDATE); region-4 rows drop
        // (conditional NMBS DELETE); the rest survive untouched.
        s.sql(
          """MERGE INTO gnbq.nation_nb USING fmt_nb_src
            |ON gnbq.nation_nb.n_nationkey = fmt_nb_src.n_nationkey
            |WHEN MATCHED THEN UPDATE SET n_name = concat(gnbq.nation_nb.n_name, '_M')
            |WHEN NOT MATCHED BY SOURCE AND gnbq.nation_nb.n_regionkey = 2
            |  THEN UPDATE SET n_regionkey = 99
            |WHEN NOT MATCHED BY SOURCE AND gnbq.nation_nb.n_regionkey = 4
            |  THEN DELETE""".stripMargin)
        w
      }
      s.conf.set("spark.sql.catalog.gnbq.warehouse", wh)
      s.sql("SELECT n_nationkey, n_name, n_regionkey FROM gnbq.nation_nb")
    }),

    // MERGE additive schema evolution (graft.merge.schemaEvolution, the
    // Delta autoMerge analog): the target starts WITHOUT n_regionkey; a
    // clause merge whose source carries it adds the column (metadata-only
    // add-column commit + typed values on the rewritten/inserted rows),
    // and pre-merge rows read it as NULL — served by the default
    // snapshot read (additive-mix schema resolution), no mergeSchema.
    // Ground truth: CASE SQL over the fixture.
    "fmt_merge_evolve" -> ((s, d) => {
      val wh = Fixtures.once("fmt_merge_evolve", d) {
        val w = freshWh()
        // Two files/commits: the merge rewrites only the first — the
        // second survives WITHOUT the evolved column, so the final read
        // must null-fill it from the log-side additive-mix schema.
        val base = nation(s, d).select(col("n_nationkey"), col("n_name"))
        publish(s, w, "nation_ev", base.filter(col("n_nationkey") < 15))
        publish(s, w, "nation_ev", base.filter(col("n_nationkey") >= 15))
        val src = nation(s, d).filter(col("n_nationkey") < 10)
          .select(col("n_nationkey"),
            concat(col("n_name"), lit("_E")).as("n_name"),
            col("n_regionkey"))
          .unionByName(s.range(1).select(lit(990L).as("n_nationkey"),
            lit("NEWLAND").as("n_name"), lit(7L).as("n_regionkey")))
        s.conf.set("graft.merge.schemaEvolution", "true")
        try Merge.mergeClauses(s, w, "nation_ev", src, Seq("n_nationkey"),
          matched = Seq(Merge.WhenClause(None,
            Some(Seq("n_name" -> expr("s.n_name"),
              "n_regionkey" -> expr("s.n_regionkey"))))),
          notMatched = Seq(Merge.WhenClause(None, None /* INSERT * */)))
        finally s.conf.unset("graft.merge.schemaEvolution")
        w
      }
      Snapshots.read(s, wh, "nation_ev")
        .select(col("n_nationkey"), col("n_name"),
          col("n_regionkey").cast("long").as("n_regionkey"))
    }),

    // ALTER TABLE ADD COLUMN … DEFAULT (initial-default semantics, the
    // Iceberg initial-default / Delta column-default analog): rows of
    // files written BEFORE the column existed read the literal; post-add
    // files' stored values — explicit NULLs included — always win. One
    // metadata commit (mapping + default property together), zero
    // rewrites. Ground truth: a CASE over the fixture.
    "fmt_default" -> ((s, d) => {
      val wh = Fixtures.once("fmt_default", d) {
        val w = freshWh()
        val base = nation(s, d).select(col("n_nationkey"), col("n_name"))
        publish(s, w, "nation_df", base.filter(col("n_nationkey") < 15))
        graft.ingest.SchemaEvolution.addColumn(s, w, "nation_df", "n_tag",
          default = Some("'legacy'"))
        // Post-add era carries the column, with explicit NULLs for odd
        // keys — those must read back NULL, never the default.
        publish(s, w, "nation_df", base.filter(col("n_nationkey") >= 15)
          .withColumn("n_tag",
            when(col("n_nationkey") % 2 === 0, lit("fresh"))))
        w
      }
      Snapshots.read(s, wh, "nation_df")
        .select(col("n_nationkey"), col("n_name"), col("n_tag"))
    }),

    // GENERATED ALWAYS AS IDENTITY: two appendWithIdentity commits mint
    // engine-assigned ids; single-partition sorted writes make them DENSE
    // and deterministic (batch order = key order here), so DuckDB's
    // row_number() is the exact ground truth. The second batch also
    // replays under its commitId — exactly-once, no ids re-minted.
    "fmt_identity" -> ((s, d) => {
      val wh = Fixtures.once("fmt_identity", d) {
        val w = freshWh()
        val base = nation(s, d).select(col("n_nationkey"), col("n_name"))
        graft.ingest.Identity.declare(s, w, "nation_id", "row_id")
        def batch(pred: org.apache.spark.sql.Column): DataFrame =
          base.filter(pred).coalesce(1).sortWithinPartitions("n_nationkey")
        graft.ingest.Identity.appendWithIdentity(s, w, "nation_id",
          batch(col("n_nationkey") < 12))
        graft.ingest.Identity.appendWithIdentity(s, w, "nation_id",
          batch(col("n_nationkey") >= 12),
          commitId = Some("load-identity-b2"))
        // Replayed batch: recognized, nothing minted, nothing landed.
        graft.ingest.Identity.appendWithIdentity(s, w, "nation_id",
          batch(col("n_nationkey") >= 12),
          commitId = Some("load-identity-b2"))
        w
      }
      Snapshots.read(s, wh, "nation_id")
        .select(col("n_nationkey"), col("n_name"), col("row_id"))
    }),

    // Optimized write (graft.optimizeWrite): a CTAS + INSERT under the
    // declared clustered distribution — proves the REBALANCE shuffle
    // changes file layout only, never the rows. Ground truth: plain
    // projection of the fixture (doubled key era from the INSERT).
    "fmt_optimize_write" -> ((s, d) => {
      s.conf.set("spark.sql.catalog.gow",
        classOf[graft.sources.v2.GraftCatalog].getName)
      val wh = Fixtures.once("fmt_optimize_write", d) {
        val w = freshWh()
        s.conf.set("spark.sql.catalog.gow.warehouse", w)
        nation(s, d).createOrReplaceTempView("fmt_ow_src")
        s.sql("CREATE TABLE gow.nation_ow PARTITIONED BY (n_regionkey) " +
          "TBLPROPERTIES ('graft.optimizeWrite'='true') AS " +
          "SELECT /*+ REPARTITION(8) */ n_nationkey, n_name, n_regionkey " +
          "FROM fmt_ow_src")
        s.sql("INSERT INTO gow.nation_ow " +
          "SELECT /*+ REPARTITION(8) */ n_nationkey + 100, n_name, " +
          "n_regionkey FROM fmt_ow_src")
        w
      }
      s.conf.set("spark.sql.catalog.gow.warehouse", wh)
      s.sql("SELECT n_nationkey, n_name, n_regionkey FROM gow.nation_ow")
    }),

    // CREATE-time generated columns through Spark's own DDL (catalog
    // capability): a generated PARTITION column routes rows by the
    // ENGINE's value — the INSERT's user-supplied constant can never
    // land. Ground truth: the same expression in plain SQL.
    "fmt_generated_ddl" -> ((s, d) => {
      s.conf.set("spark.sql.catalog.ggen2",
        classOf[graft.sources.v2.GraftCatalog].getName)
      val wh = Fixtures.once("fmt_generated_ddl", d) {
        val w = freshWh()
        s.conf.set("spark.sql.catalog.ggen2.warehouse", w)
        nation(s, d).createOrReplaceTempView("fmt_gddl_src")
        s.sql("CREATE TABLE ggen2.nation_gddl (n_nationkey BIGINT, " +
          "n_name STRING, bucket BIGINT GENERATED ALWAYS AS " +
          "(n_nationkey % 3)) PARTITIONED BY (bucket)")
        s.sql("INSERT INTO ggen2.nation_gddl " +
          "SELECT n_nationkey, n_name, 0L FROM fmt_gddl_src")
        w
      }
      s.conf.set("spark.sql.catalog.ggen2.warehouse", wh)
      s.sql("SELECT n_nationkey, n_name, bucket FROM ggen2.nation_gddl")
    }),

    // GENERATED ALWAYS AS (expr): the engine materializes the expression
    // at append and RE-materializes it through a base-column UPDATE (the
    // rewrite hook) — stored ≡ expression everywhere. Ground truth: the
    // same expression over the post-update image in plain SQL.
    "fmt_generated" -> ((s, d) => {
      val wh = Fixtures.once("fmt_generated", d) {
        val w = freshWh()
        graft.ingest.Generated.declare(s, w, "nation_gen", "key2",
          "n_nationkey * 2 + n_regionkey")
        graft.ingest.Generated.appendGenerated(s, w, "nation_gen",
          nation(s, d).select(col("n_nationkey"), col("n_name"),
            col("n_regionkey")))
        // Base-column UPDATE: key2 recomputes in the same commit.
        Merge.updateWhere(s, w, "nation_gen", col("n_nationkey") < 10,
          Map("n_regionkey" -> (col("n_regionkey") + lit(100L))))
        w
      }
      Snapshots.read(s, wh, "nation_gen")
        .select(col("n_nationkey"), col("n_regionkey"), col("key2"))
    }),

    // Same-scale DECIMAL precision widening across commits: a (10,2) era
    // and a (14,2) era mix on one column; the read resolves the widest
    // precision and serves every era's values exactly. Ground truth: the
    // same CASE over the fixture, cast to the wide type.
    "fmt_decimal_widen" -> ((s, d) => {
      val wh = Fixtures.once("fmt_decimal_widen", d) {
        val w = freshWh()
        val base = nation(s, d)
        def era(pred: org.apache.spark.sql.Column, p: Int,
                offset: String): DataFrame =
          base.filter(pred).select(col("n_nationkey"),
            (col("n_nationkey").cast("decimal(10,2)") + expr(offset))
              .cast(s"decimal($p,2)").as("amt"))
        publish(s, w, "nation_dec",
          era(col("n_nationkey") < 15, 10, "0.25BD"))
        publish(s, w, "nation_dec",
          era(col("n_nationkey") >= 15, 14, "123456789000.25BD"))
        w
      }
      Snapshots.read(s, wh, "nation_dec").select(col("n_nationkey"),
        col("amt").cast("decimal(14,2)").as("amt"))
    }),

    // DECIMAL file skipping: per-file [min,max] on decimal columns are the
    // parquet unscaled ints rescaled by 10^-scale — exact query-domain
    // bounds on both the INT32 (decimal(10,2)) and the byte-array
    // (decimal(20,2)) carrier. Three key-banded commits give disjoint amt
    // ranges; the decimal-predicate read must plan EXACTLY the covering
    // file (required inline — a skip regression fails the gate, not just a
    // spec) and hash-match the same filter over the fixture.
    "fmt_decimal_skip" -> ((s, d) => {
      val wh = Fixtures.once("fmt_decimal_skip", d) {
        val w = freshWh()
        val base = nation(s, d).select(col("n_nationkey"),
          (col("n_nationkey").cast("decimal(10,2)") + expr("0.25BD"))
            .cast("decimal(10,2)").as("amt"),
          (col("n_nationkey").cast("decimal(20,2)") +
            expr("123456789000.25BD")).cast("decimal(20,2)").as("amt_big"))
        publish(s, w, "nation_skip", base.filter(col("n_nationkey") < 10))
        publish(s, w, "nation_skip",
          base.filter(col("n_nationkey").between(10, 19)))
        publish(s, w, "nation_skip", base.filter(col("n_nationkey") >= 20))
        w
      }
      val q = Snapshots.readWhere(s, wh, "nation_skip",
        expr("amt BETWEEN 10.25 AND 14.25"))
      require(q.inputFiles.length == 1,
        s"decimal-stats skip planned ${q.inputFiles.length} files, wanted 1")
      val qb = Snapshots.readWhere(s, wh, "nation_skip",
        expr("amt_big >= 123456789020.25"))
      require(qb.inputFiles.length == 1,
        s"byte-array-carrier skip planned ${qb.inputFiles.length} files")
      q.select(col("n_nationkey"), col("amt"), col("amt_big"))
        .unionByName(qb.select(col("n_nationkey"), col("amt"), col("amt_big")))
    }),

    // The LARGE-source merge route (graft.merge.broadcastMaxRows exceeded):
    // the broadcast hint drops, the clause-evaluation joins plan as shuffle
    // joins, and driver-side point-key enumeration is skipped — the
    // scale-safe path a fact-sized CDC backfill takes. The threshold is
    // lowered below the source size so this gate entry re-proves the
    // route's RESULT (not just its plan shape) every round. Ground truth:
    // the same upsert expressed as plain SQL over the fixture.
    "fmt_merge_large" -> ((s, d) => {
      val wh = Fixtures.once("fmt_merge_large", d) {
        val w = freshWh()
        val base = nation(s, d)
        publish(s, w, "nation_lg", base.filter(col("n_nationkey") < 15))
        publish(s, w, "nation_lg", base.filter(col("n_nationkey") >= 15))
        val src = base
          .select(col("n_nationkey"),
            concat(col("n_name"), lit("_L")).as("n_name"),
            col("n_regionkey"))
          .unionByName(s.range(1).select(lit(991L).as("n_nationkey"),
            lit("BIGLAND").as("n_name"), lit(7L).as("n_regionkey")))
        s.conf.set("graft.merge.broadcastMaxRows", "10") // 26-row source = big
        try Merge.mergeClauses(s, w, "nation_lg", src, Seq("n_nationkey"),
          matched = Seq(Merge.WhenClause(None,
            Some(Seq("n_name" -> expr("s.n_name"))))),
          notMatched = Seq(Merge.WhenClause(None, None /* INSERT * */)),
          notMatchedBySource = Seq(Merge.WhenClause(
            Some(expr("t.n_regionkey = 999")), None))) // never acts; exercises the NMBS anti-join on the large route
        finally s.conf.unset("graft.merge.broadcastMaxRows")
        w
      }
      Snapshots.read(s, wh, "nation_lg")
        .select(col("n_nationkey"), col("n_name"),
          col("n_regionkey").cast("long").as("n_regionkey"))
    }),

    // IN-subquery DML through the catalog: DELETE/UPDATE whose condition
    // is `col IN (SELECT …)` [AND residual] lower onto the keyed merge
    // engine (the subquery is the MERGE source — no driver value list).
    // Ground truth: the same membership expressed as a plain SQL filter.
    "fmt_catalog_subq" -> ((s, d) => {
      s.conf.set("spark.sql.catalog.gsq",
        classOf[graft.sources.v2.GraftCatalog].getName)
      val wh = Fixtures.once("fmt_catalog_subq", d) {
        val w = freshWh()
        s.conf.set("spark.sql.catalog.gsq.warehouse", w)
        nation(s, d).createOrReplaceTempView("fmt_sq_base")
        s.sql("CREATE TABLE gsq.nation_sq AS " +
          "SELECT n_nationkey, n_name, n_regionkey FROM fmt_sq_base")
        // Delete every nation of regions 0/4 with an odd key; bump the
        // names of region-2 keys via a second IN-subquery UPDATE.
        s.sql(
          """DELETE FROM gsq.nation_sq WHERE n_nationkey IN
            |  (SELECT n_nationkey FROM fmt_sq_base
            |   WHERE n_regionkey IN (0, 4)) AND n_nationkey % 2 = 1""".stripMargin)
        s.sql(
          """UPDATE gsq.nation_sq SET n_name = concat(n_name, '_S')
            |WHERE n_nationkey IN
            |  (SELECT n_nationkey FROM fmt_sq_base WHERE n_regionkey = 2)""".stripMargin)
        // Multi-column NOT IN (general anti-join lowering): tuples not in
        // the low-key slice of the fixture — drops every key >= 20.
        s.sql(
          """DELETE FROM gsq.nation_sq WHERE (n_nationkey, n_regionkey) NOT IN
            |  (SELECT n_nationkey, n_regionkey FROM fmt_sq_base
            |   WHERE n_nationkey < 20)""".stripMargin)
        // Equality-correlated NOT IN: keys absent from their own region's
        // <10 slice — tags exactly the surviving keys 10-19.
        s.sql(
          """UPDATE gsq.nation_sq SET n_name = concat(n_name, '_N')
            |WHERE n_nationkey NOT IN
            |  (SELECT n_nationkey FROM fmt_sq_base
            |   WHERE fmt_sq_base.n_regionkey = gsq.nation_sq.n_regionkey
            |     AND n_nationkey < 10)""".stripMargin)
        // Equality-correlated IN (the positive twin): a row is in its own
        // region's slice iff its own fixture name matches — deletes the
        // surviving keys whose ORIGINAL name contains a '3'.
        s.sql(
          """DELETE FROM gsq.nation_sq WHERE n_nationkey IN
            |  (SELECT n_nationkey FROM fmt_sq_base
            |   WHERE fmt_sq_base.n_regionkey = gsq.nation_sq.n_regionkey
            |     AND n_name LIKE '%3%')""".stripMargin)
        // Non-equality-correlated EXISTS (equality anchor + range
        // residual): drop survivors with a same-region fixture key more
        // than 18 above theirs.
        s.sql(
          """DELETE FROM gsq.nation_sq WHERE EXISTS
            |  (SELECT 1 FROM fmt_sq_base b
            |   WHERE b.n_regionkey = gsq.nation_sq.n_regionkey
            |     AND b.n_nationkey > gsq.nation_sq.n_nationkey + 18)""".stripMargin)
        w
      }
      s.conf.set("spark.sql.catalog.gsq.warehouse", wh)
      s.sql("SELECT n_nationkey, n_name, n_regionkey FROM gsq.nation_sq")
    }),

    // PAST-CAP secondary subqueries (graft.dml.inlineCap exceeded): the
    // second IN/NOT IN conjunct of a multi-subquery DML condition lowers
    // onto a distributed target-side semi/anti join instead of a driver
    // literal list — the route an oversized secondary takes at 100 TB.
    // The cap is shrunk to 3 so every secondary here exercises the join
    // path. Ground truth: the same memberships as plain SQL filters.
    "fmt_catalog_subq_cap" -> ((s, d) => {
      s.conf.set("spark.sql.catalog.gsc",
        classOf[graft.sources.v2.GraftCatalog].getName)
      val wh = Fixtures.once("fmt_catalog_subq_cap", d) {
        val w = freshWh()
        s.conf.set("spark.sql.catalog.gsc.warehouse", w)
        nation(s, d).createOrReplaceTempView("fmt_sc_base")
        s.sql("CREATE TABLE gsc.nation_sc AS " +
          "SELECT n_nationkey, n_name, n_regionkey FROM fmt_sc_base")
        s.conf.set("graft.dml.inlineCap", "3")
        try {
          // Secondary IN past the cap (12 names): delete region-1 keys
          // whose name sits in the low-key name list (names are unique →
          // region 1 AND key < 12).
          s.sql(
            """DELETE FROM gsc.nation_sc WHERE n_nationkey IN
              |  (SELECT n_nationkey FROM fmt_sc_base WHERE n_regionkey = 1)
              |  AND n_name IN
              |  (SELECT n_name FROM fmt_sc_base WHERE n_nationkey < 12)""".stripMargin)
          // Secondary NOT IN past the cap (~5 region-2 keys > 3): tag
          // every surviving non-region-2 key.
          s.sql(
            """UPDATE gsc.nation_sc SET n_name = concat(n_name, '_C')
              |WHERE n_nationkey IN (SELECT n_nationkey FROM fmt_sc_base)
              |  AND n_nationkey NOT IN
              |  (SELECT n_nationkey FROM fmt_sc_base WHERE n_regionkey = 2)""".stripMargin)
        } finally s.conf.unset("graft.dml.inlineCap")
        w
      }
      s.conf.set("spark.sql.catalog.gsc.warehouse", wh)
      s.sql("SELECT n_nationkey, n_name, n_regionkey FROM gsc.nation_sc")
    }),

    // DISJUNCTIVE subquery DML (`IN (…) OR plain` / `EXISTS (…) OR
    // plain`): the union act-set lowers as matched clause + conditional
    // NMBS clause in ONE atomic merge. Ground truth: the same unions as
    // plain SQL filters.
    "fmt_catalog_subq_or" -> ((s, d) => {
      s.conf.set("spark.sql.catalog.gor2",
        classOf[graft.sources.v2.GraftCatalog].getName)
      val wh = Fixtures.once("fmt_catalog_subq_or", d) {
        val w = freshWh()
        s.conf.set("spark.sql.catalog.gor2.warehouse", w)
        nation(s, d).createOrReplaceTempView("fmt_or_base")
        s.sql("CREATE TABLE gor2.nation_or AS " +
          "SELECT n_nationkey, n_name, n_regionkey FROM fmt_or_base")
        s.sql(
          """UPDATE gor2.nation_or SET n_name = concat(n_name, '_O')
            |WHERE n_nationkey IN
            |  (SELECT n_nationkey FROM fmt_or_base WHERE n_regionkey = 1)
            |  OR n_regionkey = 3""".stripMargin)
        s.sql(
          """DELETE FROM gor2.nation_or WHERE EXISTS
            |  (SELECT 1 FROM fmt_or_base
            |   WHERE fmt_or_base.n_nationkey = gor2.nation_or.n_nationkey
            |     AND fmt_or_base.n_regionkey = 0)
            |  OR n_nationkey >= 20""".stripMargin)
        w
      }
      s.conf.set("spark.sql.catalog.gor2.warehouse", wh)
      s.sql("SELECT n_nationkey, n_name, n_regionkey FROM gor2.nation_or")
    }),

    // Negated subqueries under OR: `NOT IN … OR r` rides the general
    // anti-join with ¬coalesce(r, false) in the ON, `NOT EXISTS … OR r`
    // the nmbs residual engine — each ONE atomic merge. Ground truth:
    // plain SQL filters over the same unions.
    "fmt_catalog_subq_notor" -> ((s, d) => {
      s.conf.set("spark.sql.catalog.gnor",
        classOf[graft.sources.v2.GraftCatalog].getName)
      val wh = Fixtures.once("fmt_catalog_subq_notor", d) {
        val w = freshWh()
        s.conf.set("spark.sql.catalog.gnor.warehouse", w)
        nation(s, d).createOrReplaceTempView("fmt_nor_base")
        s.sql("CREATE TABLE gnor.nation_nor AS " +
          "SELECT n_nationkey, n_name, n_regionkey FROM fmt_nor_base")
        s.sql(
          """UPDATE gnor.nation_nor SET n_name = concat(n_name, '_X')
            |WHERE n_nationkey NOT IN
            |  (SELECT n_nationkey FROM fmt_nor_base
            |   WHERE n_regionkey IN (1, 2))
            |  OR n_regionkey = 4""".stripMargin)
        s.sql(
          """DELETE FROM gnor.nation_nor WHERE NOT EXISTS
            |  (SELECT 1 FROM fmt_nor_base
            |   WHERE fmt_nor_base.n_nationkey = gnor.nation_nor.n_nationkey
            |     AND fmt_nor_base.n_regionkey < 2)
            |  OR n_nationkey >= 20""".stripMargin)
        w
      }
      s.conf.set("spark.sql.catalog.gnor.warehouse", wh)
      s.sql("SELECT n_nationkey, n_name, n_regionkey FROM gnor.nation_nor")
    }),

    // Zero-copy shallow clone + divergence: clone the committed fixture,
    // DELETE the high keys on the CLONE (a rewrite spanning the shared
    // root), and read the clone back — proving the one-commit clone, the
    // per-root read, and remove-attribution to the owning table. Ground
    // truth: a plain filter over the fixture.
    "fmt_clone" -> ((s, d) => {
      val wh = Fixtures.once("fmt_clone", d) {
        val w = freshWh()
        publish(s, w, "nation", nation(s, d))
        Snapshots.cloneTable(s, w, "nation", "nation_clone")
        Merge.deleteWhere(s, w, "nation_clone", col("n_nationkey") >= 20L)
        w
      }
      Snapshots.read(s, wh, "nation_clone")
    }),

    // Partition-layout evolution: a FLAT first era (no side column on
    // disk, keys < 13) and a side-partitioned second era read as ONE
    // table — old rows serve the partition column as NULL. Ground truth:
    // a UNION with a NULL side for the flat era.
    "fmt_layout_evolve" -> ((s, d) => {
      val wh = Fixtures.once("fmt_layout_evolve", d) {
        val w = freshWh()
        val n = nation(s, d)
        publish(s, w, "nation", n.filter(col("n_nationkey") < 13))
        TxnCommit.writeTables(
          new Path(w).getFileSystem(s.sparkContext.hadoopConfiguration), w,
          Seq("nation" -> n.filter(col("n_nationkey") >= 13)
            .withColumn("side", when(col("n_nationkey") % 2 === 0,
              lit("even")).otherwise(lit("odd")))
            .coalesce(1).write.partitionBy("side")))
        w
      }
      Snapshots.read(s, wh, "nation")
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"),
          col("side").cast("string").as("side"))
    }),

    "fmt_merge" -> ((s, d) => {
      val wh = Fixtures.once("fmt_merge", d) {
        val w = freshWh()
        val n = nation(s, d)
        publish(s, w, "nation", n)
        val updates = n.filter(col("n_nationkey") < 5)
          .withColumn("n_name", concat(col("n_name"), lit("_X")))
          .unionByName(s.range(1).select(lit(990L).as("n_nationkey"),
            lit("NEWLAND").as("n_name"), lit(0L).as("n_regionkey")))
        Merge.upsert(s, w, "nation", updates, Seq("n_nationkey"))
        w
      }
      Snapshots.read(s, wh, "nation")
    }),
    // Version-pinned time travel: after a second commit and a delete, asOf
    // the first version must still read exactly the original first half.
    "fmt_timetravel" -> ((s, d) => {
      val wh = Fixtures.once("fmt_timetravel", d) {
        val w = freshWh()
        val n = nation(s, d)
        publish(s, w, "nation", n.filter(col("n_nationkey") < 12)) // v0
        publish(s, w, "nation", n.filter(col("n_nationkey") >= 12)) // v1
        Merge.deleteKeys(s, w, "nation",
          n.filter(col("n_nationkey") < 3).select("n_nationkey"),
          Seq("n_nationkey")) // v2
        w
      }
      Snapshots.read(s, wh, "nation", asOf = Some(0L))
    }),
    // Partitioned table end-to-end: two partitionBy commits, a
    // partition-SCOPED compaction (the OPTIMIZE WHERE path — only
    // dt=d1's files are rewritten), then a read with a combined
    // partition + data predicate served from log tuples + stats. The
    // returned rows must equal the plain-SQL oracle — proving partition
    // tuples on ADD lines, scoped maintenance, and pruning drop nothing.
    "fmt_partition" -> ((s, d) => {
      val wh = Fixtures.once("fmt_partition", d) {
        val w = freshWh()
        val n = nation(s, d).withColumn("dt",
          when(col("n_nationkey") % 2 === 0, lit("d1")).otherwise(lit("d2")))
        def pubPart(df: DataFrame): Unit = TxnCommit.writeTables(
          new Path(w).getFileSystem(s.sparkContext.hadoopConfiguration), w,
          Seq("nation" -> df.coalesce(1).write.partitionBy("dt")))
        pubPart(n.filter(col("n_nationkey") < 12))
        pubPart(n.filter(col("n_nationkey") >= 12))
        Compaction.compact(s, w, "nation", sortBy = Seq("n_nationkey"),
          partitionFilter = m => m.get("dt").contains("d1"))
        w
      }
      Snapshots.readWhere(s, wh, "nation",
          col("dt") === "d1" && col("n_nationkey") >= 4L)
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"),
          col("dt").cast("string").as("dt"))
    }),
    // Row-level change feed across an upsert: inserts from both appends,
    // pre/post images for the updated key, tagged with change type (the
    // commit-version column is warehouse-relative, so the oracle-checked
    // surface is the change rows themselves).
    // Dynamic file pruning under the oracle gate: the dim side's keys prune
    // the fact side's pinned file list via log stats (2 commits sorted by
    // key → the selective dim plans 1 of 2 files, asserted in
    // DynamicFilePruningSpec); the joined rows must equal the plain-SQL
    // join — pruning is an optimization, never a semantic change.
    "fmt_dpp_join" -> ((s, d) => {
      val wh = Fixtures.once("fmt_dpp_join", d) {
        val w = freshWh()
        val n = nation(s, d)
        publish(s, w, "nation", n.filter(col("n_nationkey") < 12))
        publish(s, w, "nation", n.filter(col("n_nationkey") >= 12))
        w
      }
      val dim = nation(s, d).filter(col("n_nationkey") < 5)
        .select(col("n_nationkey").as("dim_key"), col("n_name").as("dim_name"))
      graft.operators.DynamicFilePruning.joinPruned(
          s, wh, "nation", "n_nationkey", dim, "dim_key")
        .select("n_nationkey", "n_name", "n_regionkey", "dim_name")
    }),

    // Merge-on-read DML: a deletion-vector DELETE (no data file rewritten —
    // DeletionVectorSpec asserts the file set is untouched) followed by the
    // snapshot read that subtracts the vector; rows must equal a plain
    // WHERE NOT(...) oracle. Three-valued logic rides free (nation has no
    // NULL keys, but the predicate shape matches the CoW entries).
    "fmt_dv_delete" -> ((s, d) => {
      val wh = Fixtures.once("fmt_dv_delete", d) {
        val w = freshWh()
        val n = nation(s, d)
        publish(s, w, "nation", n.filter(col("n_nationkey") < 12))
        publish(s, w, "nation", n.filter(col("n_nationkey") >= 12))
        Merge.deleteWhereDv(s, w, "nation", col("n_nationkey") % 4 === 1)
        w
      }
      Snapshots.read(s, wh, "nation")
    }),
    // Auto-mode DML: the per-file vector budget routes the first file
    // (keys 0-11, 11 of 12 rows matched) to a rewrite and the second
    // (keys 12-24, 3 of 13 matched) to a vector — one commit, both
    // shapes, same WHERE NOT oracle.
    "fmt_dv_auto" -> ((s, d) => {
      val wh = Fixtures.once("fmt_dv_auto", d) {
        val w = freshWh()
        val n = nation(s, d)
        publish(s, w, "nation", n.filter(col("n_nationkey") < 12))
        publish(s, w, "nation", n.filter(col("n_nationkey") >= 12))
        val r = Merge.deleteWhereDv(s, w, "nation",
          col("n_nationkey") < 10 || col("n_nationkey") % 4 === 2,
          rewriteFraction = 0.5)
        require(r.filesRewritten == 1 && r.filesDvAttached == 1,
          s"auto-mode routing drifted: $r")
        w
      }
      Snapshots.read(s, wh, "nation")
    }),
    // Merge-on-read UPDATE: vector + postimage append; result must equal a
    // CASE oracle over the original fixture.
    "fmt_dv_update" -> ((s, d) => {
      val wh = Fixtures.once("fmt_dv_update", d) {
        val w = freshWh()
        val n = nation(s, d)
        publish(s, w, "nation", n)
        Merge.updateWhereDv(s, w, "nation", col("n_nationkey") < 6,
          Map("n_name" -> concat(col("n_name"), lit("_D"))))
        w
      }
      Snapshots.read(s, wh, "nation")
    }),

    // Bloom-pruned keyed DML: the table property puts a parquet bloom on
    // n_name; two interleaved-alphabet commits make both files' [min,max]
    // span the deleted key, so ONLY the bloom can prune — the fixture
    // asserts exactly one candidate file was planned, and the surviving
    // rows must equal a plain NOT-IN oracle (pruning is an optimization,
    // never a semantic change).
    "fmt_bloom_delete" -> ((s, d) => {
      val wh = Fixtures.once("fmt_bloom_delete", d) {
        val w = freshWh()
        val fs = new Path(w).getFileSystem(s.sparkContext.hadoopConfiguration)
        val n = nation(s, d)
        Snapshots.setProperties(fs, w, "nation",
          Map("bloom.columns" -> "n_name", "bloom.ndv" -> "1000"))
        def pubBloom(df: DataFrame): Unit = TxnCommit.writeTables(fs, w,
          Seq("nation" -> df.coalesce(1).write
            .options(Snapshots.bloomWriteOptionsFor(fs, w, "nation", None))))
        pubBloom(n.filter(col("n_nationkey") % 2 === 0))
        pubBloom(n.filter(col("n_nationkey") % 2 === 1))
        val r = Merge.deleteKeysDv(s, w, "nation",
          n.filter(col("n_name") === "NATION_12").select("n_name"),
          Seq("n_name"))
        require(r.filesScanned == 1 && r.rowsMatched == 1,
          s"bloom pruning drifted (want 1 candidate of 2): $r")
        w
      }
      Snapshots.read(s, wh, "nation")
    }),

    "fmt_changes" -> ((s, d) => {
      val wh = Fixtures.once("fmt_changes", d) {
        val w = freshWh()
        val n = nation(s, d)
        publish(s, w, "nation", n)
        val upd = n.filter(col("n_nationkey") === 7)
          .withColumn("n_name", concat(col("n_name"), lit("_Y")))
        Merge.upsert(s, w, "nation", upd, Seq("n_nationkey"))
        w
      }
      Snapshots.changes(s, wh, "nation", fromExclusive = -1L)
        .select("n_nationkey", "n_name", "n_regionkey", "_change_type")
    }),

    // The table_changes TVF (composable SQL change feed): same fixture
    // shape as fmt_changes, but served through SELECT … FROM
    // table_changes('cat.t', from) with a catalog-qualified name — the
    // Delta-TVF analog of the SNAPSHOT CHANGES statement.
    "fmt_tvf_changes" -> ((s, d) => {
      s.conf.set("spark.sql.catalog.gtc",
        classOf[graft.sources.v2.GraftCatalog].getName)
      val wh = Fixtures.once("fmt_tvf_changes", d) {
        val w = freshWh()
        val n = nation(s, d)
        publish(s, w, "nation", n)
        Merge.deleteKeys(s, w, "nation",
          n.filter(col("n_nationkey") % 10 === 3).select("n_nationkey"),
          Seq("n_nationkey"))
        w
      }
      s.conf.set("spark.sql.catalog.gtc.warehouse", wh)
      s.sql(
        """SELECT n_nationkey, n_name, n_regionkey, _change_type
          |FROM table_changes('gtc.nation', -1)""".stripMargin)
    }))

  val oracleSql: Map[String, String] = Map(
    "fmt_stream_sink" ->
      """SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type,
        |       value, props FROM events""".stripMargin,
    // CTAS read-back = the source view, partition column intact.
    "fmt_sql_ctas" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
        |       CAST(n_regionkey AS BIGINT) AS n_regionkey,
        |       CASE WHEN n_nationkey % 2 = 0 THEN 'even' ELSE 'odd' END AS side
        |FROM nation""".stripMargin,
    // Flat era (keys < 13, NULL side) unioned with the partitioned era.
    "fmt_layout_evolve" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
        |       CAST(n_regionkey AS BIGINT) AS n_regionkey,
        |       CAST(NULL AS VARCHAR) AS side
        |FROM nation WHERE n_nationkey < 13
        |UNION ALL
        |SELECT CAST(n_nationkey AS BIGINT), n_name,
        |       CAST(n_regionkey AS BIGINT),
        |       CASE WHEN n_nationkey % 2 = 0 THEN 'even' ELSE 'odd' END
        |FROM nation WHERE n_nationkey >= 13""".stripMargin,
    // Clone of the full fixture minus the clone-side DELETE of high keys.
    "fmt_clone" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
        |       CAST(n_regionkey AS BIGINT) AS n_regionkey
        |FROM nation WHERE n_nationkey < 20""".stripMargin,
    // Catalog CTAS(<15) + INSERT(>=15) + DELETE(in-list) = all but the
    // deleted keys.
    "fmt_catalog" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
        |       CAST(n_regionkey AS BIGINT) AS n_regionkey
        |FROM nation WHERE n_nationkey NOT IN (3, 10, 17, 24)""".stripMargin,
    // Catalog UPDATE (suffix region-2) then MERGE upsert (low keys
    // re-suffixed from the ORIGINAL fixture + one new row).
    "fmt_catalog_dml" ->
      """WITH src AS (
        |  SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
        |         n_name || '_M' AS n_name,
        |         CAST(n_regionkey AS BIGINT) AS n_regionkey
        |  FROM nation WHERE n_nationkey < 5
        |  UNION ALL SELECT 990, 'NEWLAND', 0),
        |upd AS (
        |  SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
        |         CASE WHEN n_regionkey = 2 THEN n_name || '_U'
        |              ELSE n_name END AS n_name,
        |         CAST(n_regionkey AS BIGINT) AS n_regionkey
        |  FROM nation)
        |SELECT * FROM src
        |UNION ALL
        |SELECT * FROM upd
        |WHERE n_nationkey NOT IN (SELECT n_nationkey FROM src)""".stripMargin,
    // Partial commit + SQL INSERT of the remainder = the full table.
    "fmt_sql_insert" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
        |       CAST(n_regionkey AS BIGINT) AS n_regionkey FROM nation""".stripMargin,
    // Overwrite replaced the partial first commit with the full table.
    "fmt_batch_write" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
        |       CAST(n_regionkey AS BIGINT) AS n_regionkey FROM nation""".stripMargin,
    "fmt_roundtrip" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
        |       CAST(n_regionkey AS BIGINT) AS n_regionkey FROM nation""".stripMargin,
    "fmt_merge" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
        |       CASE WHEN n_nationkey < 5 THEN n_name || '_X' ELSE n_name END AS n_name,
        |       CAST(n_regionkey AS BIGINT) AS n_regionkey FROM nation
        |UNION ALL SELECT 990, 'NEWLAND', 0""".stripMargin,
    // Same ground truth as fmt_merge: the SQL statement must land the
    // identical upsert.
    "fmt_sql_merge" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
        |       CASE WHEN n_nationkey < 5 THEN n_name || '_X' ELSE n_name END AS n_name,
        |       CAST(n_regionkey AS BIGINT) AS n_regionkey FROM nation
        |UNION ALL SELECT 990, 'NEWLAND', 0""".stripMargin,
    "fmt_sql_merge_cond" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
        |       CASE WHEN n_nationkey < 15 AND n_regionkey = 2
        |            THEN n_name || '_C' ELSE n_name END AS n_name,
        |       CAST(n_regionkey AS BIGINT) AS n_regionkey
        |FROM nation
        |WHERE NOT (n_nationkey < 15 AND n_regionkey = 4)
        |UNION ALL SELECT 990, 'NEWLAND', CAST(NULL AS BIGINT)""".stripMargin,
    "fmt_identity" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
        |       CAST(row_number() OVER (ORDER BY n_nationkey) AS BIGINT)
        |         AS row_id
        |FROM nation""".stripMargin,
    "fmt_optimize_write" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
        |       CAST(n_regionkey AS BIGINT) AS n_regionkey
        |FROM nation
        |UNION ALL
        |SELECT CAST(n_nationkey AS BIGINT) + 100, n_name,
        |       CAST(n_regionkey AS BIGINT)
        |FROM nation""".stripMargin,
    "fmt_generated_ddl" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
        |       CAST(n_nationkey AS BIGINT) % 3 AS bucket
        |FROM nation""".stripMargin,
    "fmt_generated" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
        |       CAST(n_regionkey AS BIGINT) +
        |         CASE WHEN n_nationkey < 10 THEN 100 ELSE 0 END
        |         AS n_regionkey,
        |       CAST(n_nationkey AS BIGINT) * 2 +
        |         CAST(n_regionkey AS BIGINT) +
        |         CASE WHEN n_nationkey < 10 THEN 100 ELSE 0 END AS key2
        |FROM nation""".stripMargin,
    "fmt_decimal_widen" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
        |       CAST(CASE WHEN n_nationkey < 15 THEN n_nationkey + 0.25
        |                 ELSE n_nationkey + 123456789000.25 END
        |            AS DECIMAL(14,2)) AS amt
        |FROM nation""".stripMargin,
    "fmt_decimal_skip" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
        |       CAST(n_nationkey + 0.25 AS DECIMAL(10,2)) AS amt,
        |       CAST(n_nationkey + 123456789000.25 AS DECIMAL(20,2)) AS amt_big
        |FROM nation
        |WHERE n_nationkey + 0.25 BETWEEN 10.25 AND 14.25
        |   OR n_nationkey + 123456789000.25 >= 123456789020.25""".stripMargin,
    "fmt_default" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
        |       CASE WHEN n_nationkey < 15 THEN 'legacy'
        |            WHEN n_nationkey % 2 = 0 THEN 'fresh' END AS n_tag
        |FROM nation""".stripMargin,
    "fmt_catalog_subq_cap" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
        |       CASE WHEN n_regionkey <> 2 THEN n_name || '_C' ELSE n_name END
        |         AS n_name,
        |       CAST(n_regionkey AS BIGINT) AS n_regionkey
        |FROM nation
        |WHERE NOT (n_regionkey = 1 AND n_nationkey < 12)""".stripMargin,
    "fmt_catalog_subq_or" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
        |       CASE WHEN n_regionkey IN (1, 3) THEN n_name || '_O'
        |            ELSE n_name END AS n_name,
        |       CAST(n_regionkey AS BIGINT) AS n_regionkey
        |FROM nation
        |WHERE NOT (n_regionkey = 0 OR n_nationkey >= 20)""".stripMargin,
    "fmt_catalog_subq_notor" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
        |       CASE WHEN n_regionkey IN (0, 3, 4) THEN n_name || '_X'
        |            ELSE n_name END AS n_name,
        |       CAST(n_regionkey AS BIGINT) AS n_regionkey
        |FROM nation
        |WHERE NOT (n_regionkey >= 2 OR n_nationkey >= 20)""".stripMargin,
    "fmt_merge_large" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
        |       n_name || '_L' AS n_name,
        |       CAST(n_regionkey AS BIGINT) AS n_regionkey
        |FROM nation
        |UNION ALL SELECT 991, 'BIGLAND', 7""".stripMargin,
    "fmt_catalog_subq" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
        |       CASE WHEN n_regionkey = 2 THEN n_name || '_S' ELSE n_name END ||
        |       CASE WHEN n_nationkey >= 10 THEN '_N' ELSE '' END AS n_name,
        |       CAST(n_regionkey AS BIGINT) AS n_regionkey
        |FROM nation
        |WHERE NOT (n_regionkey IN (0, 4) AND n_nationkey % 2 = 1)
        |  AND n_nationkey < 20
        |  AND n_nationkey NOT IN
        |    (SELECT n_nationkey FROM nation WHERE n_name LIKE '%3%')
        |  AND NOT EXISTS
        |    (SELECT 1 FROM nation b
        |     WHERE b.n_regionkey = nation.n_regionkey
        |       AND b.n_nationkey > nation.n_nationkey + 18)""".stripMargin,
    "fmt_merge_nmbs_cond" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
        |       CASE WHEN n_nationkey < 10 THEN n_name || '_M' ELSE n_name END AS n_name,
        |       CAST(CASE WHEN n_nationkey >= 10 AND n_regionkey = 2 THEN 99
        |                 ELSE n_regionkey END AS BIGINT) AS n_regionkey
        |FROM nation
        |WHERE NOT (n_nationkey >= 10 AND n_regionkey = 4)""".stripMargin,
    "fmt_merge_evolve" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
        |       CASE WHEN n_nationkey < 10 THEN n_name || '_E' ELSE n_name END AS n_name,
        |       CAST(CASE WHEN n_nationkey < 10 THEN n_regionkey END AS BIGINT) AS n_regionkey
        |FROM nation
        |UNION ALL SELECT 990, 'NEWLAND', 7""".stripMargin,
    "fmt_replace" ->
      """SELECT CAST(n_regionkey AS BIGINT) AS region,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(n_nationkey) AS BIGINT) AS key_sum
        |FROM nation GROUP BY n_regionkey
        |UNION ALL
        |SELECT CAST(n_nationkey AS BIGINT), -1, -1 FROM nation
        |WHERE n_regionkey = 3""".stripMargin,
    "fmt_timetravel" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
        |       CAST(n_regionkey AS BIGINT) AS n_regionkey FROM nation
        |WHERE n_nationkey < 12""".stripMargin,
    "fmt_partition" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
        |       CAST(n_regionkey AS BIGINT) AS n_regionkey, 'd1' AS dt
        |FROM nation
        |WHERE n_nationkey % 2 = 0 AND n_nationkey >= 4""".stripMargin,
    "fmt_dpp_join" ->
      """SELECT CAST(a.n_nationkey AS BIGINT) AS n_nationkey, a.n_name,
        |       CAST(a.n_regionkey AS BIGINT) AS n_regionkey,
        |       b.n_name AS dim_name
        |FROM nation a JOIN nation b ON a.n_nationkey = b.n_nationkey
        |WHERE b.n_nationkey < 5""".stripMargin,
    "fmt_dv_delete" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
        |       CAST(n_regionkey AS BIGINT) AS n_regionkey FROM nation
        |WHERE NOT (n_nationkey % 4 = 1)""".stripMargin,
    "fmt_dv_auto" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
        |       CAST(n_regionkey AS BIGINT) AS n_regionkey FROM nation
        |WHERE NOT (n_nationkey < 10 OR n_nationkey % 4 = 2)""".stripMargin,
    "fmt_dv_update" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
        |       CASE WHEN n_nationkey < 6 THEN n_name || '_D' ELSE n_name END AS n_name,
        |       CAST(n_regionkey AS BIGINT) AS n_regionkey FROM nation""".stripMargin,
    "fmt_bloom_delete" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
        |       CAST(n_regionkey AS BIGINT) AS n_regionkey FROM nation
        |WHERE n_name <> 'NATION_12'""".stripMargin,
    "fmt_changes" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
        |       CAST(n_regionkey AS BIGINT) AS n_regionkey, _change_type
        |FROM (
        |  SELECT n_nationkey, n_name, n_regionkey, 'insert' AS _change_type FROM nation
        |  UNION ALL
        |  SELECT n_nationkey, n_name, n_regionkey, 'update_preimage' FROM nation WHERE n_nationkey = 7
        |  UNION ALL
        |  SELECT n_nationkey, n_name || '_Y', n_regionkey, 'update_postimage' FROM nation WHERE n_nationkey = 7
        |)""".stripMargin,
    "fmt_tvf_changes" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
        |       CAST(n_regionkey AS BIGINT) AS n_regionkey, _change_type
        |FROM (
        |  SELECT n_nationkey, n_name, n_regionkey, 'insert' AS _change_type FROM nation
        |  UNION ALL
        |  SELECT n_nationkey, n_name, n_regionkey, 'delete' FROM nation
        |  WHERE n_nationkey % 10 = 3
        |)""".stripMargin)
}
