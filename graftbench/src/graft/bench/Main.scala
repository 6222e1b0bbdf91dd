package graft.bench

import java.lang.management.ManagementFactory
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession

/** Result of one operation. `rows` is the workload's unit of useful work
  * (rows committed, rows scanned, docs + vectors processed). */
final case class Outcome(kind: String, rows: Long, failure: Option[String] = None)

/** Accumulates the latency of the calls that make up one operation. Input
  * generation, result checks and traced-mode probes run outside it. */
final class OpClock {
  var ns = 0L
  def apply[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally ns += System.nanoTime() - t0
  }
}

/** One closed-loop, single-client workload. */
trait Workload {
  /** Generate the seed's inputs under `dir` and commit the starting
    * warehouse through the public write path. */
  def setup(dir: String): Unit
  /** Operation `i` of the timed phase; `clock` brackets the timed calls. */
  def op(i: Int, clock: OpClock): Outcome
  /** Operations in one rotation of the workload's fixed mix. */
  def rotation: Int
  /** Traced runs only: bench-side layer calls after a traced operation. */
  def probe(i: Int): Unit = ()
  /** Whole-run checks after the timed phase (ledger totals). */
  def finalCheck(): Seq[String] = Nil
  /** Input sizes: files, frames, bytes, rows, docs, vectors. */
  def inputs: Map[String, Long]
  /** Bytes of user data handed to the system so far in the timed phase,
    * and in total (set-up + timed phase). */
  def userBytesTimed: Long
  def userBytesTotal: Long
  def warehouses: Seq[String]
  /** Canonical digests of every generated input (same seed ⇒ same bytes). */
  def digests: Seq[(String, String)]
  /** Whether `rows_per_s` counts rows scanned (parquet input records)
    * rather than the operations' own row counts. */
  def scannedRows: Boolean = false
  /** Workload-specific per-layer figures (recall, skip ratio, …). */
  def layerFigures: Map[String, Double] = Map.empty
}

object Main {
  private val started = System.nanoTime()
  /** Progress line on stderr, seconds since start. */
  def log(msg: String): Unit =
    System.err.println(f"[graftbench] ${(System.nanoTime() - started) / 1e9}%7.2f $msg")

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        cores: Int, work: String, smoke: Boolean, fault: Option[String],
                        generateOnly: Boolean)

  /** True during the timed phase; `--fault` only bites there, so set-up
    * stays valid. */
  @volatile var timedPhase = false

  /** A seed no change was tuned on; gain claims must also hold on it. */
  val HeldOutSeed = 7919L

  private def parse(argv: Array[String]): Args = {
    val kv = argv.sliding(2).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    def flag(f: String) = argv.contains(f)
    Args(kv("--workload"), kv("--seed").toLong, kv("--seconds").toDouble,
      kv("--trace") == "1", kv("--cores").toInt, kv("--work"), flag("--smoke"),
      kv.get("--fault"), flag("--generate-only"))
  }

  def session(a: Args): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName(s"graftbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.default.parallelism", a.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def make(a: Args, spark: SparkSession): Workload = a.workload match {
    case "ingest" => new IngestWorkload(spark, a)
    case "lake" => new LakeWorkload(spark, a)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def loadAvg(): Double =
    scala.io.Source.fromFile("/proc/loadavg").mkString.split(" ")(0).toDouble

  /** (steal, total) CPU ticks from /proc/stat: time a virtual machine's
    * host gave its CPUs to someone else. */
  private def cpuTicks(): (Long, Long) = {
    val f = scala.io.Source.fromFile("/proc/stat").getLines().next().split("\\s+").drop(1)
      .map(_.toLong)
    (if (f.length > 7) f(7) else 0L, f.take(8).sum)
  }

  private val hostSink = new java.util.concurrent.atomic.AtomicLong()

  /** Seconds `threads` threads take for a fixed amount of integer work each,
    * best of three: the CPU speed this process gets from the host. */
  private def hostLoopS(threads: Int): Double = Seq.fill(3) {
    val t0 = System.nanoTime()
    val ts = (1 to threads).map { k =>
      val t = new Thread(() => {
        var x = k.toLong
        var j = 0
        while (j < 60000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; j += 1 }
        hostSink.addAndGet(x)
      })
      t.start()
      t
    }
    ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }.min

  private def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  private def processCpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** One timed operation: its latency, and at its end the time since the
    * timed phase began, the counter deltas over the operation itself and
    * since the timed phase began, and the user bytes handed over so far. */
  final case class OpRecord(i: Int, kind: String, seconds: Double, rows: Long,
                            failure: Option[String], endS: Double, opCounts: Array[Long],
                            counts: Array[Long], userBytes: Long)

  /** The recorded spans, one JSON object a line. */
  private def writeSpans(path: String): Unit = {
    val out = new java.io.PrintWriter(path, "UTF-8")
    try Trace.spans.foreach { s =>
      out.println(Json(Map("name" -> s.name, "id" -> s.id, "op" -> s.op, "parent" -> s.parent,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "counts" -> Counters.Names.zip(s.counts).filter(_._2 != 0).toMap)))
    } finally out.close()
  }

  /** Whether `--fault f` is in force now. */
  def fault(a: Args, f: String): Boolean = timedPhase && a.fault.contains(f)

  def main(argv: Array[String]): Unit = {
    // Before this process adds load of its own.
    val load1Before = loadAvg()
    val a = parse(argv)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(a)
    Counters.install(spark)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    try run(a, spark, sessionS, load1Before) finally spark.stop()
  }

  private def run(a: Args, spark: SparkSession, sessionS: Double, load1Before: Double): Unit = {
    if (a.generateOnly) {
      val w = make(a, spark)
      w.setup(s"${a.work}/gen")
      w.digests.foreach { case (k, d) => println(s"DIGEST $k $d") }
      println("RESULT " + Json(Map("correct" -> true, "attempted" -> 1, "failed" -> 0,
        "metrics" -> Map.empty[String, Any])))
      return
    }
    // One set-up per run and no warm-up: a fresh JVM's set-up is 20-40 s of
    // mostly cold code, and neither repeating it nor an untimed warm-up
    // rotation fits the benchmark's time budget. The first operation of each
    // kind carries its first-use (JIT, codegen) cost, alike in every run.
    val w = make(a, spark)
    val s0 = System.nanoTime()
    w.setup(s"${a.work}/setup")
    val setupS = sessionS + (System.nanoTime() - s0) / 1e9
    log(s"set-up took $setupS s")

    Counters.drain(spark)
    val c0 = Counters.snapshot()
    hostLoopS(a.cores) // warms the loop up
    val hostBefore = hostLoopS(a.cores)
    val cpu0 = processCpuNs()
    val ticks0 = cpuTicks()
    val records = ArrayBuffer[OpRecord]()
    timedPhase = true
    val t0 = System.nanoTime()
    val deadline = t0 + (a.seconds * 1e9).toLong
    // Whole rotations only, at least one, so every run weighs the same mix of
    // operation kinds however fast the host is.
    var i = 0
    var warehouseBytes = 0L
    var tracingNs = 0L // listener drains and probes: work only a traced run does
    def tracing(body: => Unit): Unit = {
      val t = System.nanoTime()
      try body finally tracingNs += System.nanoTime() - t
    }
    while (i < w.rotation || i % w.rotation != 0 || System.nanoTime() < deadline) {
      Trace.enabled = a.trace
      Trace.op = i
      Counters.drain(spark)
      val before = Counters.snapshot()
      val clock = new OpClock
      val out = try Trace.span("op") {
        val o = w.op(i, clock)
        if (a.trace) tracing(Counters.drain(spark))
        o
      } catch {
        case e: Exception => Outcome("error", 0, Some(s"${e.getClass.getSimpleName}: ${e.getMessage}"))
      }
      Counters.drain(spark)
      val after = Counters.snapshot()
      if (a.trace) tracing(try w.probe(i) catch {
        case e: Exception => System.err.println(s"probe $i failed: $e")
      })
      Trace.enabled = false
      log(s"op $i ${out.kind} ${clock.ns / 1e9} s${out.failure.fold("")(f => s" FAILED: $f")}")
      // Space after set-up plus one rotation: a state the seed alone fixes,
      // where the end of a closed-loop run depends on how far it got.
      if (i == w.rotation - 1) warehouseBytes = w.warehouses.map(Workloads.duBytes).sum
      records += OpRecord(i, out.kind, clock.ns / 1e9, out.rows, out.failure,
        (System.nanoTime() - t0) / 1e9, Counters.delta(before, after), Counters.delta(c0, after),
        w.userBytesTimed)
      i += 1
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    timedPhase = false
    val cpuS = (processCpuNs() - cpu0) / 1e9
    val ticks1 = cpuTicks()
    val hostAfter = hostLoopS(a.cores)
    val steal = (ticks1._1 - ticks0._1).toDouble / math.max(1L, ticks1._2 - ticks0._2)
    Counters.drain(spark)
    val timed = Counters.delta(c0, Counters.snapshot())
    val finalFailures = try w.finalCheck() catch { case e: Exception => Seq(e.toString) }
    finalFailures.foreach(f => System.err.println(s"[graftbench] final check failed: $f"))
    val load1After = loadAvg()

    val attempted = records.size
    val failed = records.count(_.failure.isDefined) + finalFailures.size
    val window = records.toSeq
    val last = window.last
    val lat = window.map(_.seconds)
    val n = lat.size
    // Tail: the median over whole rotations of each rotation's slowest
    // operation. A run holds 1 to 4 rotations of 3 (ingest) or 20 (lake)
    // operations, too few for a percentile with ten samples beyond it, and
    // this rule reads the same whatever number of rotations a run completes.
    val rotationMax = window.grouped(w.rotation).map(_.map(_.seconds).max).toSeq
    val runMs = timed(Counters("run_ms"))
    val cpuNs = timed(Counters("cpu_ns"))
    val busy = runMs / 1000.0 / (wallS * a.cores)
    val cpuPerRun = if (runMs > 0) cpuNs / 1e6 / runMs else 1.0
    val ownLoad = cpuS / wallS
    val hostDrift = hostAfter / hostBefore
    // Polluted: other work held more runnable threads than Spark has cores
    // during the run (load net of this process's own CPU use), the host took
    // over 5% of the machine's CPU time, or the fixed CPU loop ran over a
    // quarter slower or faster after the timed phase than before. The load at
    // start is recorded but not judged: in a series of runs it still holds
    // the previous run's load (up to 4.6 on 4 cores, measured).
    val polluted = load1After - ownLoad > a.cores || steal > 0.05 ||
      hostDrift > 1.25 || hostDrift < 1 / 1.25
    val health = Map(
      "load1_before" -> load1Before, "load1_after" -> load1After,
      "process_cpu_per_wall" -> ownLoad, "executor_busy_share" -> busy,
      "executor_cpu_per_run" -> cpuPerRun, "cpu_steal_share" -> steal,
      "host_loop_s_before" -> hostBefore, "host_loop_s_after" -> hostAfter,
      "host_drift" -> hostDrift, "polluted" -> polluted)

    if (warehouseBytes == 0) warehouseBytes = w.warehouses.map(Workloads.duBytes).sum
    val rows = if (w.scannedRows) last.counts(Counters("records_read")) else window.map(_.rows).sum
    val endToEnd = Map[String, Double](
      "setup_s" -> setupS,
      "op_p50_s" -> median(lat),
      "op_tail_s" -> median(rotationMax),
      "ops_per_s" -> n / last.endS,
      "rows_per_s" -> rows / last.endS,
      "write_amp" -> last.counts(Counters("fs_bytes_written")).toDouble / math.max(1L, last.userBytes),
      "space_amp" -> warehouseBytes.toDouble / math.max(1L, w.userBytesTotal),
      "peak_rss_mb" -> vmHwmMb())
    val units = Map("setup_s" -> "s", "op_p50_s" -> "s", "op_tail_s" -> "s",
      "ops_per_s" -> "1/s", "rows_per_s" -> "rows/s", "write_amp" -> "ratio",
      "space_amp" -> "ratio", "peak_rss_mb" -> "MB")
    val metrics: Map[String, (Double, String)] =
      if (a.trace) Layers.metrics(w, a.cores, wallS / math.max(1e-9, wallS - tracingNs / 1e9))
      else endToEnd.map { case (k, v) => k -> (v, units(k)) }

    // Per kind: latency, and where it went — executor task time, Catalyst
    // (analysis + optimization + planning) time, and the share of the
    // operation's core-seconds the executors were busy.
    val byKind = records.groupBy(_.kind).map { case (k, rs) =>
      def sum(c: String) = rs.map(_.opCounts(Counters(c))).sum.toDouble
      val opS = rs.map(_.seconds).sum
      k -> Map("ops" -> rs.size, "p50_s" -> median(rs.map(_.seconds).toSeq),
        "failed" -> rs.count(_.failure.isDefined),
        "executor_run_s" -> sum("run_ms") / 1e3 / rs.size,
        "catalyst_s" -> (sum("analysis_ns") + sum("optimization_ns") + sum("planning_ns")) / 1e9 / rs.size,
        "jobs" -> sum("jobs") / rs.size,
        "fs_bytes_written" -> sum("fs_bytes_written") / rs.size,
        "executor_busy_share" -> (if (opS > 0) sum("run_ms") / 1e3 / (opS * a.cores) else 0.0))
    }
    val report = Map(
      "workload" -> a.workload, "seed" -> a.seed, "held_out_seed" -> HeldOutSeed,
      "cores" -> a.cores, "seconds" -> a.seconds, "trace" -> a.trace,
      "timed_wall_s" -> wallS, "window_s" -> last.endS, "session_s" -> sessionS,
      "error_rate" -> failed.toDouble / attempted, "ops" -> attempted, "window_ops" -> n,
      "rotations" -> rotationMax.size,
      "op_tail_rule" -> "median over whole rotations of each rotation's slowest operation",
      "by_kind" -> byKind, "inputs" -> w.inputs, "health" -> health,
      "user_bytes_timed" -> w.userBytesTimed, "user_bytes_total" -> w.userBytesTotal,
      "warehouse_bytes" -> warehouseBytes,
      "recall" -> w.layerFigures.filter(_._1.contains("recall")),
      "span_counts" -> Trace.spans.groupBy(_.name).map { case (k, v) => k -> v.size },
      "trace_self_s" -> Trace.selfSeconds,
      "failures" -> (records.flatMap(r => r.failure.map(f => s"op ${r.i} ${r.kind}: $f")) ++
        finalFailures).take(20).toSeq)
    if (a.trace) writeSpans(s"${a.work}/spans.jsonl")
    println("REPORT " + Json(report))
    println("RESULT " + Json(Map(
      "correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) })))
  }
}

/** Minimal JSON rendering for the report and result lines. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.sortBy(_._1.toString).map { case (k, x) => apply(k.toString) + ": " + apply(x) }
        .mkString("{", ", ", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ", ", "]")
    case x => apply(x.toString)
  }
}
