package graft.bench

import scala.collection.mutable
import scala.util.Random
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ingest.{Compaction, Merge, Snapshots, TxnCommit}

/** `lake`: analyst and LLM-data traffic on one snapshot warehouse. Set-up
  * commits a TPC-H-shaped warehouse through the public write path — a
  * month-partitioned lineitem carrying stats and a bloom column, orders
  * clustered by key, customer — then enough small lineitem appends that the
  * log spans several checkpoints and more versions than the 64-entry fold
  * cache holds, then the document corpus, embeddings and derived indexes of
  * [[LlmData]]. The rotation mixes planning-, fold-, listing- and
  * skipping-bound reads with no decoding (selective `readWhere` lookups,
  * joins / aggregates / windows over `read`, time travel to past versions in
  * an order that defeats an LRU cache next to latest-version reads that hit
  * it, `changes`), ~10% small DML on a separate hot table, a compaction of it
  * once per rotation, and the kernel-, join- and iteration-bound LLM-data
  * operators. */
final class LakeWorkload(spark: SparkSession, a: Main.Args) extends Workload {
  import LakeWorkload._

  private val sizes = if (a.smoke) Sizes(4000, 1000, 200, 20, 10, 300) else
    Sizes(lineitem = 30000, orders = 8000, customers = 800, appends = 24,
      appendRows = 40, hotRows = 2000)
  private var dir: String = _
  private var wh: String = _
  private var fs: FileSystem = _
  private var gen: Generated = _
  /** version → lineitem append batches visible at it (setup's appends). */
  private val batchesAt = mutable.ArrayBuffer[(Long, Int)]()
  private var hotKeys = mutable.LinkedHashSet[Long]()
  private var nextHotKey = 0L
  private var bytesTimed = 0L
  private var bytesTotal = 0L
  private var hotRowBytes = 1.0
  private val figures = mutable.Map[String, Double]().withDefaultValue(0.0)
  private var lastPlanned: Option[(DataFrame, String)] = None
  private var expected: Expected = _
  private val llm = new LlmData(spark, a)

  private def commit(table: String, df: DataFrame, partitionBy: Seq[String] = Nil): Unit =
    Workloads.commit(fs, wh, table, df, partitionBy,
      Snapshots.bloomWriteOptionsFor(fs, wh, table, None))

  def setup(d: String): Unit = {
    dir = d; wh = s"$d/wh"
    fs = new Path(wh).getFileSystem(spark.sparkContext.hadoopConfiguration)
    import spark.implicits._
    gen = generate(a.seed, sizes)
    val raw = s"$d/raw"
    gen.lines.toDF().write.parquet(s"$raw/lineitem")
    gen.appends.toDF().write.parquet(s"$raw/appends")
    gen.orders.toDF().write.parquet(s"$raw/orders")
    gen.customers.toDF().write.parquet(s"$raw/customer")
    gen.hot.toDF().write.parquet(s"$raw/hot")
    bytesTotal = Workloads.duBytes(raw)
    hotRowBytes = Workloads.duBytes(s"$raw/hot").toDouble / sizes.hotRows
    val rawLine = spark.read.parquet(s"$raw/lineitem")
    val rawApp = spark.read.parquet(s"$raw/appends")
    expected = expectedOf(a.seed, sizes, gen)
    Main.log("lake: raw inputs written, reference answers ready")

    Snapshots.setProperties(fs, wh, "lineitem", Map("bloom.columns" -> "l_tag"))
    commit("lineitem", rawLine.repartition(8, col("ship_month")), Seq("ship_month"))
    commit("orders", spark.read.parquet(s"$raw/orders")
      .repartitionByRange(8, col("o_orderkey")))
    commit("customer", spark.read.parquet(s"$raw/customer").coalesce(1))
    commit("hot", spark.read.parquet(s"$raw/hot").coalesce(2))
    Main.log("lake: base tables committed")
    hotKeys = mutable.LinkedHashSet(0L until sizes.hotRows: _*)
    nextHotKey = sizes.hotRows
    batchesAt += Snapshots.latestVersion(fs, wh).get -> 0
    // Small appends, one month each, so the log outgrows the fold cache:
    // written by one job, then committed batch by batch.
    val tmp = s"$d/appends-staged"
    rawApp.repartition(col("batch")).write
      .options(Snapshots.bloomWriteOptionsFor(fs, wh, "lineitem", None))
      .partitionBy("batch", "ship_month").parquet(tmp)
    for (b <- 1 to sizes.appends) {
      val cid = java.util.UUID.randomUUID().toString
      fs.mkdirs(new Path(TxnCommit.stagingDir(wh, cid)))
      fs.rename(new Path(s"$tmp/batch=$b"), new Path(s"${TxnCommit.stagingDir(wh, cid)}/lineitem"))
      Workloads.publish(fs, wh, cid, "lineitem")
      batchesAt += Snapshots.latestVersion(fs, wh).get -> b
    }
    Main.log("lake: appends committed")
    llm.setup(d)
    Main.log("lake: corpus, embeddings and indexes committed")
  }

  private def rowsOf(df: DataFrame): Seq[Row] = df.collect().toSeq

  private def check(kind: String, got: Seq[Row], want: Seq[Row]): Option[String] = {
    val w = if (Main.fault(a, "wrong")) want.drop(1) else want
    if (sameRows(got, w)) None
    else Some(s"$kind: got ${got.take(3).mkString(",")}… (${got.size} rows), " +
      s"want ${w.take(3).mkString(",")}… (${w.size} rows)")
  }

  private def read(table: String, asOf: Option[Long] = None): DataFrame =
    Trace.span("snapshots.read") { Snapshots.read(spark, wh, table, asOf) }

  private def readWhere(table: String, cond: org.apache.spark.sql.Column): DataFrame = {
    val df = Trace.span("snapshots.read") { Snapshots.readWhere(spark, wh, table, cond) }
    if (Trace.enabled) lastPlanned = Some(df -> table)
    df
  }

  val rotation: Int = Mix.size

  def op(i: Int, clock: OpClock): Outcome = {
    val rnd = new Random(a.seed * 7919L + i)
    val kind = Mix(i % Mix.size)
    if (LlmData.Kinds.contains(kind)) return llm.op(kind, i / Mix.size, clock)
    kind match {
      case "lookup_bloom" =>
        val tag = expected.tags(rnd.nextInt(expected.tags.size))
        val got = clock(rowsOf(readWhere("lineitem", col("l_tag") === tag)
          .select(TagCols.map(col): _*).orderBy(TagCols.map(col): _*)))
        Outcome(kind, got.size, check(kind, got, expected.byTag(tag)))
      case "lookup_stats" =>
        val (lo, hi) = expected.orderRanges(rnd.nextInt(expected.orderRanges.size))
        val got = clock(rowsOf(readWhere("orders", col("o_orderkey").between(lo, hi))
          .orderBy("o_orderkey")))
        Outcome(kind, got.size, check(kind, got, expected.byOrderRange((lo, hi))))
      case "lookup_partition" =>
        val m = expected.months(rnd.nextInt(expected.months.size))
        val got = clock(rowsOf(readWhere("lineitem",
          col("ship_month") === m && col("l_quantity") >= 48.0)
          .agg(count(lit(1)), sum("l_extendedprice"))))
        Outcome(kind, got.head.getLong(0), check(kind, got, expected.monthHeavy(m)))
      case "join_agg" =>
        val got = clock(rowsOf(joinAgg(read("lineitem"), read("orders"), read("customer"))))
        Outcome(kind, got.size, check(kind, got, expected.joinAgg))
      case "window" =>
        val got = clock(rowsOf(window(read("orders"), read("customer"))))
        Outcome(kind, got.size, check(kind, got, expected.window))
      case "time_travel" =>
        // Stride through every setup version: an access order in which an
        // LRU cache smaller than the version count never hits.
        val (v, b) = batchesAt((i * 7 + 1) % batchesAt.size)
        val got = clock(rowsOf(totals(read("lineitem", Some(v)))))
        Outcome(kind, got.head.getLong(0), check(kind, got, expected.totalsAt(b)))
      case "latest" =>
        val got = clock(rowsOf(totals(read("lineitem"))))
        Outcome(kind, got.head.getLong(0), check(kind, got, expected.totalsAt(sizes.appends)))
      case "changes" =>
        val from = rnd.nextInt(batchesAt.size - 8)
        val to = from + 1 + rnd.nextInt(7)
        val got = clock(rowsOf(Trace.span("snapshots.read") {
          Snapshots.changes(spark, wh, "lineitem", batchesAt(from)._1, Some(batchesAt(to)._1))
        }.agg(count(lit(1)), sum("l_extendedprice"))))
        val want = expected.changesBetween(batchesAt(from)._2, batchesAt(to)._2)
        Outcome(kind, got.head.getLong(0), check(kind, got, want))
      case "upsert" =>
        val upd = hotKeys.iterator.drop(rnd.nextInt(hotKeys.size - 10)).take(10).toSeq ++
          (nextHotKey until nextHotKey + 10)
        nextHotKey += 10
        val src = spark.createDataFrame(upd.map(k => (k, s"v$i", i.toDouble)))
          .toDF("k", "label", "amount")
        clock(Trace.span("snapshots.dml") { Merge.upsert(spark, wh, "hot", src, Seq("k")) })
        hotKeys ++= upd
        bytesTimed += (upd.size * hotRowBytes).toLong
        bytesTotal += (upd.size * hotRowBytes).toLong
        Outcome(kind, upd.size, hotCheck())
      case "delete_dv" =>
        val lo = hotKeys.iterator.drop(rnd.nextInt(hotKeys.size - 5)).next()
        clock(Trace.span("snapshots.dml") {
          Merge.deleteWhereDv(spark, wh, "hot", col("k").between(lo, lo + 4))
        })
        val gone = hotKeys.filter(k => k >= lo && k <= lo + 4)
        hotKeys --= gone
        Outcome(kind, gone.size, hotCheck())
      case "compact" =>
        val r = clock(Trace.span("snapshots.compact") {
          Compaction.compact(spark, wh, "hot", targetBytes = 64L * 1024 * 1024)
        })
        if (Trace.enabled) figures("compact_bytes") += r.map(_.bytes).getOrElse(0L)
        Outcome(kind, r.map(_.filesBefore.toLong).getOrElse(0L), hotCheck())
    }
  }

  private def hotCheck(): Option[String] = {
    val n = Snapshots.read(spark, wh, "hot").count()
    val want = hotKeys.size + (if (Main.fault(a, "wrong")) 1 else 0)
    if (n == want) None else Some(s"hot table has $n rows, ledger says $want")
  }

  override def probe(i: Int): Unit = {
    llm.probe(Mix(i % Mix.size))
    lastPlanned.foreach { case (df, table) =>
      figures("planned") += df.inputFiles.length
      figures("total") += Snapshots.read(spark, wh, table).inputFiles.length
      figures("lookups") += 1
      lastPlanned = None
    }
  }

  def inputs: Map[String, Long] = llm.inputs ++ Map(
    "rows" -> (sizes.lineitem + sizes.appends * sizes.appendRows + sizes.orders +
      sizes.customers + sizes.hotRows + llm.inputs("docs") + llm.inputs("vectors")),
    "files" -> Workloads.countFiles(s"$dir/raw", ".parquet"),
    "bytes" -> Workloads.duBytes(s"$dir/raw"),
    "versions" -> batchesAt.size.toLong)

  def userBytesTimed: Long = bytesTimed + llm.userBytesTimed
  def userBytesTotal: Long = bytesTotal + llm.userBytesTotal
  def warehouses: Seq[String] = Seq(wh, llm.pqWarehouse)
  def digests: Seq[(String, String)] = gen.digests ++ llm.digests

  /** Rows scanned: the timed phase's parquet input records. */
  override def scannedRows: Boolean = true

  override def layerFigures: Map[String, Double] = {
    val n = math.max(1.0, figures("lookups"))
    val compacts = math.max(1, Trace.count("snapshots.compact"))
    llm.layerFigures ++ Map(
      "snapshots.files_total" -> figures("total") / n,
      "snapshots.files_planned" -> figures("planned") / n,
      "snapshots.skip_ratio" ->
        (if (figures("total") > 0) 1 - figures("planned") / figures("total") else 0.0),
      "snapshots.compact_bytes_rewritten" -> figures("compact_bytes") / compacts)
  }
}

object LakeWorkload {
  final case class Sizes(lineitem: Int, orders: Int, customers: Int, appends: Int,
                         appendRows: Int, hotRows: Int)

  /** The fixed rotation: ~10% DML, one compaction per rotation. */
  val Mix: Seq[String] = Seq(
    "lookup_bloom", "minhash", "time_travel", "ivf", "upsert", "lookup_stats", "text",
    "incremental", "latest", "pq", "join_agg", "delete_dv", "compact", "lsh",
    "time_travel", "cc", "window", "simhash", "changes", "lookup_partition")

  val TagCols = Seq("l_orderkey", "l_linenumber", "l_tag", "l_extendedprice", "ship_month")

  final case class Generated(lines: Seq[Line], appends: Seq[AppendLine], orders: Seq[Order],
                             customers: Seq[Customer], hot: Seq[Hot]) {
    def digests: Seq[(String, String)] = Seq(
      "lineitem" -> Workloads.rowsDigest(lines.iterator),
      "appends" -> Workloads.rowsDigest(appends.iterator),
      "orders" -> Workloads.rowsDigest(orders.iterator),
      "customer" -> Workloads.rowsDigest(customers.iterator),
      "hot" -> Workloads.rowsDigest(hot.iterator))
  }

  private val Segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Flags = Array("A", "N", "R")

  final case class Line(l_orderkey: Long, l_linenumber: Int, l_partkey: Long,
                        l_quantity: Double, l_extendedprice: Double, l_discount: Double,
                        l_tax: Double, l_returnflag: String, l_linestatus: String,
                        l_tag: String, ship_month: String)
  final case class AppendLine(l_orderkey: Long, l_linenumber: Int, l_partkey: Long,
                              l_quantity: Double, l_extendedprice: Double, l_discount: Double,
                              l_tax: Double, l_returnflag: String, l_linestatus: String,
                              l_tag: String, ship_month: String, batch: Int)
  final case class Order(o_orderkey: Long, o_custkey: Long, o_orderstatus: String,
                         o_totalprice: Double, o_orderdate: java.sql.Date, o_orderpriority: String)
  final case class Customer(c_custkey: Long, c_name: String, c_nationkey: Int,
                            c_acctbal: Double, c_mktsegment: String)
  final case class Hot(k: Long, label: String, amount: Double)

  private def cents(rnd: Random, max: Int): Double = rnd.nextInt(max * 100) / 100.0

  /** Deterministic driver-side generation from the seed. */
  def generate(seed: Long, s: Sizes): Generated = {
    val rnd = new Random(seed)
    val months = (1 to 12).map(m => f"1995-$m%02d")
    def line(ok: Long, ln: Int, month: String) = {
      val q = 1 + rnd.nextInt(50)
      Line(ok, ln, rnd.nextInt(20000).toLong, q.toDouble, q * cents(rnd, 1000),
        rnd.nextInt(11) / 100.0, rnd.nextInt(9) / 100.0, Flags(rnd.nextInt(3)),
        if (rnd.nextBoolean()) "O" else "F", f"tag-${rnd.nextLong() & 0xffffffffffL}%010x", month)
    }
    val lines = (0 until s.lineitem).map(i =>
      line(i / 4L, i % 4, months(rnd.nextInt(months.size))))
    val appends = (0 until s.appends).flatMap { b =>
      val month = months(b % months.size)
      (0 until s.appendRows).map { j =>
        val l = line(s.lineitem / 4L + b * s.appendRows + j, 0, month)
        AppendLine(l.l_orderkey, l.l_linenumber, l.l_partkey, l.l_quantity, l.l_extendedprice,
          l.l_discount, l.l_tax, l.l_returnflag, l.l_linestatus, l.l_tag, month, b + 1)
      }
    }
    val orders = (0 until s.orders).map(o => Order(o.toLong, rnd.nextInt(s.customers).toLong,
      Flags(rnd.nextInt(3)), cents(rnd, 100000),
      java.sql.Date.valueOf(f"1995-${1 + rnd.nextInt(12)}%02d-${1 + rnd.nextInt(28)}%02d"),
      s"${1 + rnd.nextInt(5)}-PRIORITY"))
    val customers = (0 until s.customers).map(c => Customer(c.toLong, f"Customer#$c%09d",
      rnd.nextInt(25), cents(rnd, 10000) - 999.99, Segments(rnd.nextInt(Segments.size))))
    val hot = (0 until s.hotRows).map(k => Hot(k.toLong, s"h$k", cents(rnd, 1000)))
    Generated(lines, appends, orders, customers, hot)
  }

  def joinAgg(l: DataFrame, o: DataFrame, c: DataFrame): DataFrame =
    l.filter(col("ship_month").between("1995-03", "1995-08"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment", "l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
      .orderBy("c_mktsegment", "l_returnflag")

  def window(o: DataFrame, c: DataFrame): DataFrame = {
    val w = Window.partitionBy("c_nationkey").orderBy(col("spend").desc, col("c_custkey"))
    o.groupBy("o_custkey").agg(sum("o_totalprice").as("spend"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select("c_nationkey", "rk", "c_custkey", "spend")
      .orderBy("c_nationkey", "rk")
  }

  def totals(l: DataFrame): DataFrame =
    l.agg(count(lit(1)).as("n"), sum("l_extendedprice").as("base"))

  /** Reference answers: the operations' queries evaluated directly over
    * the generated rows (the content of the raw parquet), bypassing both the
    * table format and Spark. */
  final case class Expected(tags: IndexedSeq[String], byTag: Map[String, Seq[Row]],
                            orderRanges: IndexedSeq[(Long, Long)],
                            byOrderRange: Map[(Long, Long), Seq[Row]],
                            months: IndexedSeq[String], monthHeavy: Map[String, Seq[Row]],
                            joinAgg: Seq[Row], window: Seq[Row],
                            base: (Long, Double), perBatch: Map[Int, (Long, Double)]) {
    def totalsAt(b: Int): Seq[Row] = {
      val in = perBatch.filter(_._1 <= b).values
      Seq(Row(base._1 + in.map(_._1).sum, base._2 + in.map(_._2).sum))
    }
    def changesBetween(fromB: Int, toB: Int): Seq[Row] = {
      val in = perBatch.filter { case (b, _) => b > fromB && b <= toB }.values
      Seq(Row(in.map(_._1).sum, if (in.isEmpty) null else in.map(_._2).sum))
    }
  }

  def expectedOf(seed: Long, s: Sizes, g: Generated): Expected = {
    val rnd = new Random(seed ^ 0x5eedL)
    val all = g.lines ++ g.appends.map(l => Line(l.l_orderkey, l.l_linenumber, l.l_partkey,
      l.l_quantity, l.l_extendedprice, l.l_discount, l.l_tax, l.l_returnflag, l.l_linestatus,
      l.l_tag, l.ship_month))
    val tags = g.lines.map(_.l_tag).sorted
    val pickTags = IndexedSeq.fill(16)(tags(rnd.nextInt(tags.length)))
    val byTag = all.filter(l => pickTags.contains(l.l_tag))
      .sortBy(l => (l.l_orderkey, l.l_linenumber, l.l_tag, l.l_extendedprice, l.ship_month))
      .map(l => Row(l.l_orderkey, l.l_linenumber, l.l_tag, l.l_extendedprice, l.ship_month))
      .groupBy(_.getString(2))
    val ranges = IndexedSeq.fill(16) { val lo = rnd.nextInt(s.orders - 60).toLong; (lo, lo + 40) }
    val months = (1 to 12).map(m => f"1995-$m%02d")
    def countSum(ls: Seq[Line]) = (ls.size.toLong, ls.map(_.l_extendedprice).sum)
    val heavy = all.filter(_.l_quantity >= 48.0).groupBy(_.ship_month).map { case (m, ls) =>
      m -> Seq(Row(ls.size.toLong, ls.map(_.l_extendedprice).sum)) }
    val perBatch = g.appends.groupBy(_.batch).map { case (b, ls) =>
      b -> (ls.size.toLong, ls.map(_.l_extendedprice).sum) }
    // join_agg
    val orderCust = g.orders.map(o => o.o_orderkey -> o.o_custkey).toMap
    val segment = g.customers.map(c => c.c_custkey -> c.c_mktsegment).toMap
    val joined = all.filter(l => l.ship_month >= "1995-03" && l.ship_month <= "1995-08")
      .flatMap(l => orderCust.get(l.l_orderkey).flatMap(segment.get).map(seg => (seg, l)))
    val joinAggRows = joined.groupBy { case (seg, l) => (seg, l.l_returnflag) }.toSeq.sortBy(_._1)
      .map { case ((seg, flag), ls) =>
        Row(seg, flag, ls.size.toLong, ls.map { case (_, l) => l.l_extendedprice * (1 - l.l_discount) }.sum)
      }
    // window: top three customers by spend per nation
    val spend = g.orders.groupBy(_.o_custkey).map { case (c, os) => c -> os.map(_.o_totalprice).sum }
    val windowRows = g.customers.filter(c => spend.contains(c.c_custkey)).groupBy(_.c_nationkey)
      .toSeq.sortBy(_._1).flatMap { case (nation, cs) =>
        cs.sortBy(c => (-spend(c.c_custkey), c.c_custkey)).take(3).zipWithIndex.map { case (c, r) =>
          Row(nation, r + 1, c.c_custkey, spend(c.c_custkey)) }
      }
    val orderRow = (o: Order) => Row(o.o_orderkey, o.o_custkey, o.o_orderstatus, o.o_totalprice,
      o.o_orderdate, o.o_orderpriority)
    Expected(pickTags, pickTags.map(t => t -> byTag.getOrElse(t, Nil)).toMap, ranges,
      ranges.map { case (lo, hi) =>
        (lo, hi) -> g.orders.filter(o => o.o_orderkey >= lo && o.o_orderkey <= hi).map(orderRow) }.toMap,
      months, months.map(m => m -> heavy.getOrElse(m, Seq(Row(0L, null)))).toMap,
      joinAggRows, windowRows, countSum(g.lines), perBatch)
  }

  /** Row equality with a relative tolerance on doubles (sums over
    * differently ordered inputs differ in the last bits). */
  def sameRows(a: Seq[Row], b: Seq[Row]): Boolean =
    a.size == b.size && a.zip(b).forall { case (x, y) =>
      x.length == y.length && (0 until x.length).forall { i =>
        (x.get(i), y.get(i)) match {
          case (p: Double, q: Double) => math.abs(p - q) <= 1e-9 * math.max(1.0, math.abs(p) + math.abs(q))
          case (p: Number, q: Number) => p.longValue == q.longValue
          case (p: java.sql.Date, q: java.sql.Date) => p.toString == q.toString
          case (p, q) => p == q
        }
      }
    }
}
