package graft.bench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.FileSystem
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters read at layer boundaries, from public sources only: Spark's
  * listener bus (jobs, stages, task metrics, named accumulators, Catalyst
  * phase times) and Hadoop's per-scheme FileSystem statistics, plus the
  * snapshot log's list/read counters. */
object Counters {
  val Names: Array[String] = Array(
    "jobs", "stages", "tasks", "run_ms", "cpu_ns", "gc_ms",
    "shuffle_read_b", "shuffle_write_b", "spill_b", "records_read", "corrupt_frames",
    "analysis_ns", "optimization_ns", "planning_ns",
    "fs_read_ops", "fs_large_read_ops", "fs_write_ops", "fs_bytes_read", "fs_bytes_written",
    "log_lists", "log_reads")
  private val index = Names.zipWithIndex.toMap
  def apply(name: String): Int = index(name)

  private val listened = Array.fill(index("planning_ns") + 1)(new AtomicLong())
  private def add(name: String, v: Long): Unit = listened(index(name)).addAndGet(v)

  /** Task-level and job-level events. `graft.corrupt_frames` is the frame
    * source's per-run accumulator; its task updates are summed here. */
  object Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = add("jobs", 1)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add("stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("run_ms", m.executorRunTime)
        add("cpu_ns", m.executorCpuTime)
        add("gc_ms", m.jvmGCTime)
        add("shuffle_read_b", m.shuffleReadMetrics.totalBytesRead)
        add("shuffle_write_b", m.shuffleWriteMetrics.bytesWritten)
        add("spill_b", m.diskBytesSpilled)
        add("records_read", m.inputMetrics.recordsRead)
      }
      e.taskInfo.accumulables.foreach { a =>
        if (a.name.contains("graft.corrupt_frames"))
          a.update.foreach(u => add("corrupt_frames", u.toString.toLong))
      }
    }
  }

  /** Catalyst phase times of every executed query (`QueryExecution.tracker`). */
  object Phases extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val p = qe.tracker.phases
      def ns(phase: String) = p.get(phase).map(_.durationMs * 1000000L).getOrElse(0L)
      add("analysis_ns", ns(QueryPlanningTracker.ANALYSIS))
      add("optimization_ns", ns(QueryPlanningTracker.OPTIMIZATION))
      add("planning_ns", ns(QueryPlanningTracker.PLANNING))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def install(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(Listener)
    spark.listenerManager.register(Phases)
  }

  /** Wait until every posted listener event has been delivered, so counts
    * read afterwards include the work that just finished. */
  def drain(spark: SparkSession): Unit =
    org.apache.spark.GraftBenchBus.drain(spark.sparkContext)

  def snapshot(): Array[Long] = {
    val out = new Array[Long](Names.length)
    var i = 0
    while (i < listened.length) { out(i) = listened(i).get; i += 1 }
    val fs = FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")
    out(index("fs_read_ops")) = fs.map(_.getReadOps.toLong).sum
    out(index("fs_large_read_ops")) = fs.map(_.getLargeReadOps.toLong).sum
    out(index("fs_write_ops")) = fs.map(_.getWriteOps.toLong).sum
    out(index("fs_bytes_read")) = fs.map(_.getBytesRead).sum
    out(index("fs_bytes_written")) = fs.map(_.getBytesWritten).sum
    out(index("log_lists")) = graft.ingest.Snapshots.logLists.get
    out(index("log_reads")) = graft.ingest.Snapshots.logReads.get
    out
  }

  def delta(a: Array[Long], b: Array[Long]): Array[Long] =
    Array.tabulate(a.length)(i => b(i) - a(i))
}

/** In-memory span recorder. A span brackets one call into a layer:
  * name, operation id, parent span, start/end, and the counter deltas over
  * the call. Off (zero work beyond the call itself) unless `enabled`. */
object Trace {
  final case class Span(name: String, id: Int, op: Int, parent: Int, startNs: Long,
                        endNs: Long, counts: Array[Long]) {
    def seconds: Double = (endNs - startNs) / 1e9
  }

  @volatile var enabled = false
  var op: Int = -1
  val spans = new ArrayBuffer[Span]()
  private var open: List[Int] = Nil
  private var nextId = 0

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(-1)
      open = id :: open
      val before = Counters.snapshot()
      val start = System.nanoTime()
      try body
      finally {
        val end = System.nanoTime()
        open = open.tail
        spans += Span(name, id, op, parent, start, end, Counters.delta(before, Counters.snapshot()))
      }
    }

  /** Self time per span name: duration minus the time its direct children
    * cover (children of one span run sequentially on the driver). */
  def selfSeconds: Map[String, Double] = {
    val child = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(c => c.endNs - c.startNs).sum }
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => (s.endNs - s.startNs - child.getOrElse(s.id, 0L)) / 1e9).sum
    }
  }

  def total(name: String): Double = spans.filter(_.name == name).map(_.seconds).sum
  def count(name: String): Int = spans.count(_.name == name)
  def counter(name: String, counter: String): Long =
    spans.filter(_.name == name).map(_.counts(Counters(counter))).sum
}
