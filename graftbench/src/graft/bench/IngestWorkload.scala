package graft.bench

import java.io.{ByteArrayOutputStream, DataOutputStream, File, FileInputStream, FileOutputStream}
import scala.collection.mutable
import scala.util.Random
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import graft.codec.Framing
import graft.ingest.{Checkpoint, FileSelection, IngestJob, Snapshots}
import graft.proto.Messages
import graft.proto.Messages._
import graft.sources.FileCatalog

/** `ingest`: the paper's pipeline. Each operation drops a fresh batch of
  * gzipped frame files for one of three record shapes and runs one
  * `IngestJob.run` with `continue = true` over it:
  *  - mobile rewards: six-way oneof demux, radio arms with child lists of
  *    varying length (nine tables);
  *  - verified speedtests: flat, date-partitioned;
  *  - coverage objects: key-type oneof plus an exploded location list.
  * About 1% of frames are corrupt (a bad length header or a truncated body
  * at a file's tail) and must be dropped. The checkpoint and the log grow
  * with every batch, so a cost that scales with history shows in the tail. */
final class IngestWorkload(spark: SparkSession, a: Main.Args) extends Workload {
  import IngestWorkload._

  private var in: String = _
  private var wh: String = _
  private val ledger = mutable.Map[String, Long]().withDefaultValue(0L)
  private val digestLog = mutable.ArrayBuffer[(String, String)]()
  private val inputsAcc = mutable.Map[String, Long]().withDefaultValue(0L)
  private var filesTotal = 0L
  private var corruptInjectedTimed = 0L
  private var corruptAtStart = -1L
  private var bytesTimed = 0L
  private var bytesTotal = 0L
  private var lastBatch: Seq[File] = Nil
  private val figures = mutable.Map[String, Double]().withDefaultValue(0.0)
  private var filesBefore = 0L
  private val framesPerFile = if (a.smoke) (8, 20) else (90, 110)

  /** Write batch `b` of `kind` (files, expected rows, corrupt frames). */
  private def dropBatch(kind: Kind, b: Int): (Seq[File], Map[String, Long], Int) = {
    val rnd = new Random(a.seed * 1000003L + b * 31L + kind.ordinal)
    val expect = mutable.Map[String, Long]().withDefaultValue(0L)
    var corrupt = 0
    val files = (0 until kind.files).map { f =>
      val ts = BaseMs + b * 3600000L + kind.ordinal * 60000L + f * 1000L
      val file = new File(in, s"${kind.prefix}.$ts.gz")
      val n = framesPerFile._1 + rnd.nextInt(framesPerFile._2 - framesPerFile._1)
      val frames = (0 until n).map(_ => kind.frame(rnd, expect))
      val raw = new ByteArrayOutputStream()
      val d = new DataOutputStream(raw)
      frames.foreach { fr => d.writeInt(fr.length); d.write(fr) }
      inputsAcc("frames") += n
      inputsAcc("frame_bytes") += frames.map(_.length + 4L).sum
      // ~1% of frames corrupt: most files end in one unrecoverable frame.
      if (rnd.nextDouble() < 0.8) {
        corrupt += 1
        if (rnd.nextBoolean()) d.writeInt(-7) // negative length header
        else { d.writeInt(200); d.write(Array.fill[Byte](17)(1)) } // truncated body
      }
      d.flush()
      val gz = new ByteArrayOutputStream()
      val zip = new java.util.zip.GZIPOutputStream(gz)
      zip.write(raw.toByteArray); zip.finish()
      val bytes = gz.toByteArray
      val out = new FileOutputStream(file)
      try out.write(bytes) finally out.close()
      digestLog += file.getName -> Workloads.sha256(bytes)
      inputsAcc("files") += 1
      inputsAcc("bytes") += bytes.length
      bytesTotal += bytes.length
      file
    }
    inputsAcc("corrupt_frames") += corrupt
    inputsAcc("rows") += expect.values.sum
    filesTotal += kind.files
    (files, expect.toMap, corrupt)
  }

  private def runChecked(kind: Kind, b: Int, sel: FileSelection, clock: OpClock,
                         timed: Boolean): Outcome = {
    val (files, expect, corrupt) = dropBatch(kind, b)
    lastBatch = files
    if (timed) {
      corruptInjectedTimed += corrupt
      bytesTimed += files.map(_.length).sum
    }
    expect.foreach { case (t, n) => ledger(t) += n }
    val res = clock(Trace.span("ingest.run") {
      IngestJob.run(spark, in, wh, kind.fileType, sel)
    })
    val got = res.rowCounts.filter(_._2 > 0)
    // `--fault wrong` expects one row too many, so the check must fail.
    val skew = if (Main.fault(a, "wrong")) 1L else 0L
    val want = (expect + (kind.tables.head -> (expect.getOrElse(kind.tables.head, 0L) + skew)))
      .filter(_._2 > 0)
    val failure =
      if (res.files.size != files.size) Some(s"ingested ${res.files.size} of ${files.size} files")
      else if (got != want) Some(s"row counts $got != expected $want")
      else None
    Outcome(kind.fileType, res.rowCounts.values.sum, failure)
  }

  def setup(dir: String): Unit = {
    in = s"$dir/in"; wh = s"$dir/wh"
    new File(in).mkdirs()
    // Batch 0 of each shape starts the warehouse.
    for (k <- Kinds) runChecked(k, 0, FileSelection(), new OpClock, timed = false)
      .failure.foreach(f => throw new IllegalStateException(s"set-up ingest failed: $f"))
  }

  val rotation: Int = Kinds.size

  def op(i: Int, clock: OpClock): Outcome = {
    if (corruptAtStart < 0) {
      Counters.drain(spark)
      corruptAtStart = Counters.snapshot()(Counters("corrupt_frames"))
    }
    if (Trace.enabled) filesBefore = Workloads.countFiles(wh, ".parquet")
    runChecked(Kinds(i % Kinds.size), 1 + i / Kinds.size, FileSelection(continue = true),
      clock, timed = true)
  }

  override def probe(i: Int): Unit = {
    val kind = Kinds(i % Kinds.size)
    figures("files_written") += Workloads.countFiles(wh, ".parquet") - filesBefore
    val listed = Trace.span("sources.list") { FileCatalog.list(spark, in, kind.prefix) }
    figures("listed") += listed.size
    Trace.span("ingest.checkpoint") {
      Checkpoint.latestMs(spark, wh, kind.prefix)
      Checkpoint.unprocessed(spark, wh, kind.prefix, listed)
    }
    // Bench-side decode pass over the same files: framing + protobuf only.
    var frames = 0L
    var bytes = 0L
    Trace.span("codec.decode") {
      lastBatch.foreach { f =>
        val s = new FileInputStream(f)
        try Framing.gzipFrames(s).foreach { fr =>
          kind.decode(fr); frames += 1; bytes += fr.length
        } finally s.close()
      }
    }
    figures("frames") += frames
    figures("frame_bytes") += bytes
  }

  override def finalCheck(): Seq[String] = {
    Counters.drain(spark)
    val corrupt = Counters.snapshot()(Counters("corrupt_frames")) - corruptAtStart
    val fs = new Path(wh).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tables = Snapshots.tableNames(fs, wh).toSet
    val counts = ledger.toSeq.sortBy(_._1).collect {
      case (t, n) if !tables.contains(t) => s"table $t missing (expected $n rows)"
      case (t, n) if Snapshots.read(spark, wh, t).count() != n =>
        s"table $t has ${Snapshots.read(spark, wh, t).count()} rows, expected $n"
    }
    val ckpt = Snapshots.read(spark, wh, Checkpoint.TableName).count()
    counts ++
      (if (ckpt != filesTotal) Seq(s"checkpoint has $ckpt rows, expected $filesTotal") else Nil) ++
      (if (corrupt != corruptInjectedTimed)
        Seq(s"corrupt frames counted $corrupt, injected $corruptInjectedTimed") else Nil)
  }

  def inputs: Map[String, Long] = inputsAcc.toMap
  def userBytesTimed: Long = bytesTimed
  def userBytesTotal: Long = bytesTotal
  def warehouses: Seq[String] = Seq(wh)
  def digests: Seq[(String, String)] = digestLog.toSeq

  override def layerFigures: Map[String, Double] = {
    val ops = math.max(1, Trace.count("op"))
    val lists = math.max(1, Trace.count("sources.list"))
    val decodeS = Trace.total("codec.decode")
    Map(
      "sources.files_listed" -> figures("listed") / lists,
      "codec.frames" -> figures("frames") / math.max(1, Trace.count("codec.decode")),
      "codec.mb_per_s" -> (if (decodeS > 0) figures("frame_bytes") / 1048576.0 / decodeS else 0.0),
      "codec.corrupt_frames" -> Trace.counter("op", "corrupt_frames").toDouble / ops,
      "ingest.files_written" -> figures("files_written") / ops)
  }
}

object IngestWorkload {
  val BaseMs = 1700000000000L

  /** One record shape: how to generate a frame (tallying the rows it must
    * produce per table) and how to decode one. */
  sealed abstract class Kind(val ordinal: Int, val fileType: String, val prefix: String,
                             val files: Int, val tables: Seq[String]) {
    def frame(rnd: Random, expect: mutable.Map[String, Long]): Array[Byte]
    def decode(bytes: Array[Byte]): Any
  }

  private def bytes(rnd: Random, n: Int): Array[Byte] = Array.fill(n)(rnd.nextInt(256).toByte)
  private def dec(rnd: Random): Option[String] =
    if (rnd.nextInt(5) == 0) None else Some(f"${rnd.nextInt(100000) / 100.0}%.2f")
  private def secs(rnd: Random): Long = 1700000000L + rnd.nextInt(86400 * 30)

  object Mobile extends Kind(0, "mobile-rewards", "mobile_network_reward_shares_v1", 2, Seq(
      "mobile_radio_rewards", "mobile_gateway_rewards", "mobile_subscriber_rewards",
      "mobile_service_provider_rewards", "mobile_unallocated_rewards",
      "mobile_promotion_rewards", "mobile_reward_trust_scores", "mobile_reward_speedtests",
      "mobile_reward_covered_hexes")) {
    def frame(rnd: Random, expect: mutable.Map[String, Long]): Array[Byte] = {
      def tally(t: String, n: Long = 1) = expect(t) += n
      val arm: MobileArm = rnd.nextInt(10) match {
        case 0 => tally("mobile_gateway_rewards")
          GatewayArm(bytes(rnd, 33), rnd.nextInt(1 << 20), rnd.nextInt(1 << 30), rnd.nextInt(1000))
        case 1 => tally("mobile_subscriber_rewards")
          SubscriberArm(bytes(rnd, 16), rnd.nextInt(10000), rnd.nextInt(10000), s"ent-${rnd.nextInt(99)}")
        case 2 => tally("mobile_service_provider_rewards")
          ServiceProviderArm(rnd.nextInt(2), rnd.nextInt(1 << 20), s"sp-${rnd.nextInt(9)}")
        case 3 => tally("mobile_unallocated_rewards")
          UnallocatedArm(rnd.nextInt(4), rnd.nextInt(1 << 20))
        case 4 => tally("mobile_promotion_rewards")
          PromotionArm(s"promo-${rnd.nextInt(50)}", rnd.nextInt(5000), rnd.nextInt(5000))
        case _ =>
          tally("mobile_radio_rewards")
          val trust = Seq.fill(rnd.nextInt(4))(TrustScoreMsg(rnd.nextInt(500), dec(rnd)))
          val tests = Seq.fill(rnd.nextInt(6))(RadioSpeedtestMsg(rnd.nextInt(1 << 20),
            rnd.nextInt(1 << 24), rnd.nextInt(200), secs(rnd)))
          val hexes = Seq.fill(rnd.nextInt(12))(CoveredHexMsg(rnd.nextLong() >>> 4, dec(rnd),
            dec(rnd), rnd.nextInt(3), rnd.nextInt(3), rnd.nextInt(3), dec(rnd), rnd.nextInt(5),
            dec(rnd), rnd.nextInt(3), rnd.nextBoolean()))
          tally("mobile_reward_trust_scores", trust.size)
          tally("mobile_reward_speedtests", tests.size)
          tally("mobile_reward_covered_hexes", hexes.size)
          RadioArm(bytes(rnd, 33), dec(rnd), dec(rnd), dec(rnd), dec(rnd), rnd.nextInt(1 << 20),
            rnd.nextInt(1 << 20), secs(rnd), bytes(rnd, 16), dec(rnd), dec(rnd), rnd.nextInt(3),
            rnd.nextInt(3),
            Some(SpeedtestAvgMsg(rnd.nextInt(1 << 20), rnd.nextInt(1 << 24), rnd.nextInt(200),
              secs(rnd))),
            trust, tests, hexes)
      }
      val start = secs(rnd)
      MobileRewardShare.encode(MobileRewardShare(start, start + 86400, arm))
    }
    def decode(b: Array[Byte]): Any = MobileRewardShare.decode(b)
  }

  object Speedtest extends Kind(1, "verified-speedtest", "verified_speedtest", 3,
      Seq("verified_speedtest_report")) {
    def frame(rnd: Random, expect: mutable.Map[String, Long]): Array[Byte] = {
      expect("verified_speedtest_report") += 1
      val t = secs(rnd)
      VerifiedSpeedtest.encode(VerifiedSpeedtest(Some(SpeedtestIngest(Some(SpeedtestReq(
        bytes(rnd, 33), s"serial-${rnd.nextInt(100000)}", t, rnd.nextInt(1 << 24),
        rnd.nextInt(1 << 26), rnd.nextInt(300))), t * 1000 + rnd.nextInt(1000))),
        t + rnd.nextInt(60), rnd.nextInt(3)))
    }
    def decode(b: Array[Byte]): Any = VerifiedSpeedtest.decode(b)
  }

  object Coverage extends Kind(2, "coverage-objects", "coverage_object", 1,
      Seq("coverage_object", "coverage_location")) {
    def frame(rnd: Random, expect: mutable.Map[String, Long]): Array[Byte] = {
      val locs = Seq.fill(rnd.nextInt(5))(CoverageLocationMsg(
        f"8c2a${rnd.nextInt(1 << 24)}%06x", rnd.nextInt(4), -40 - rnd.nextInt(80)))
      expect("coverage_object") += 1
      expect("coverage_location") += locs.size
      val key = if (rnd.nextBoolean()) HotspotKey(bytes(rnd, 33)) else CbsdId(s"cbsd-${rnd.nextInt(9999)}")
      CoverageObjectV1.encode(CoverageObjectV1(key, bytes(rnd, 16), secs(rnd), rnd.nextBoolean(), locs))
    }
    def decode(b: Array[Byte]): Any = CoverageObjectV1.decode(b)
  }

  val Kinds: Seq[Kind] = Seq(Mobile, Speedtest, Coverage)
}
