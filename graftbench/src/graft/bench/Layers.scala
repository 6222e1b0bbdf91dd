package graft.bench

import java.nio.file.{Files, Paths}
import java.security.MessageDigest
import org.apache.hadoop.fs.FileSystem
import org.apache.spark.sql.{DataFrame, SaveMode}
import graft.ingest.TxnCommit

/** Per-layer metrics of a traced run, named after the engine's modules.
  *
  * `<layer>.<call>_s` figures are mean seconds per call of that layer;
  * counts (`snapshots.log_*`, `driver.*`, `executor.*`, `fs.*`) are per
  * traced operation, read from the counter deltas of each operation's root
  * span. A layer a workload never calls reports 0. */
object Layers {
  val TimeSpans: Seq[(String, String)] = Seq(
    "sources.list_s" -> "sources.list",
    "codec.decode_s" -> "codec.decode",
    "ingest.run_s" -> "ingest.run",
    "ingest.checkpoint_s" -> "ingest.checkpoint",
    "snapshots.read_s" -> "snapshots.read",
    "snapshots.dml_s" -> "snapshots.dml",
    "snapshots.compact_s" -> "snapshots.compact",
    "llmops.minhash_s" -> "llmops.minhash",
    "llmops.simhash_s" -> "llmops.simhash",
    "llmops.signature_append_s" -> "llmops.signature_append",
    "llmops.incremental_dedup_s" -> "llmops.incremental_dedup",
    "llmops.cc_s" -> "llmops.cc",
    "llmops.ann_topk_ivf_s" -> "llmops.ann_topk_ivf",
    "llmops.ann_topk_pq_s" -> "llmops.ann_topk_pq",
    "llmops.ann_topk_lsh_s" -> "llmops.ann_topk_lsh",
    "llmops.text_s" -> "llmops.text",
    "functions.shingle_sig_s" -> "functions.shingle_sig",
    "functions.cosine_s" -> "functions.cosine")

  /** Workload figures every traced run reports (0 where not exercised). */
  val FigureNames: Seq[(String, String)] = Seq(
    "sources.files_listed" -> "count", "codec.mb_per_s" -> "MB/s", "codec.frames" -> "count",
    "codec.corrupt_frames" -> "count", "ingest.files_written" -> "count",
    "snapshots.files_total" -> "count", "snapshots.files_planned" -> "count",
    "snapshots.skip_ratio" -> "ratio", "snapshots.compact_bytes_rewritten" -> "bytes",
    "llmops.candidate_pairs" -> "count", "llmops.pair_precision" -> "ratio",
    "llmops.near_dup_recall" -> "ratio", "llmops.ann_recall_at_k" -> "ratio",
    "llmops.ann_recall_at_k_ivf" -> "ratio", "llmops.ann_recall_at_k_pq" -> "ratio",
    "llmops.ann_recall_at_k_lsh" -> "ratio", "llmops.skew_guard_dropped" -> "count")

  /** `overhead`: the traced timed phase's wall over that wall less the work
    * only a traced run does (listener drains, probes). */
  def metrics(w: Workload, cores: Int, overhead: Double): Map[String, (Double, String)] = {
    def perCall(span: String) = {
      val n = Trace.count(span)
      if (n == 0) 0.0 else Trace.total(span) / n
    }
    val ops = Trace.spans.filter(_.name == "op")
    val nOps = math.max(1, ops.size)
    val opWall = ops.map(_.seconds).sum
    def c(name: String): Double = ops.map(_.counts(Counters(name))).sum.toDouble
    def perOp(name: String, scale: Double = 1.0) = c(name) * scale / nOps
    val planNs = c("analysis_ns") + c("optimization_ns") + c("planning_ns")

    val mb = 1.0 / (1024 * 1024)
    val generic = TimeSpans.map { case (m, s) => m -> (perCall(s), "s") } ++ Seq(
      "snapshots.log_lists" -> (perOp("log_lists"), "count"),
      "snapshots.log_reads" -> (perOp("log_reads"), "count"),
      "driver.analysis_s" -> (perOp("analysis_ns", 1e-9), "s"),
      "driver.optimization_s" -> (perOp("optimization_ns", 1e-9), "s"),
      "driver.planning_s" -> (perOp("planning_ns", 1e-9), "s"),
      "driver.jobs" -> (perOp("jobs"), "count"),
      "driver.stages" -> (perOp("stages"), "count"),
      "driver.plan_share" -> (if (opWall > 0) planNs / 1e9 / opWall else 0.0, "ratio"),
      "executor.run_s" -> (perOp("run_ms", 1e-3), "s"),
      "executor.cpu_s" -> (perOp("cpu_ns", 1e-9), "s"),
      "executor.gc_s" -> (perOp("gc_ms", 1e-3), "s"),
      "executor.tasks" -> (perOp("tasks"), "count"),
      "executor.shuffle_read_mb" -> (perOp("shuffle_read_b", mb), "MB"),
      "executor.shuffle_write_mb" -> (perOp("shuffle_write_b", mb), "MB"),
      "executor.spill_mb" -> (perOp("spill_b", mb), "MB"),
      "executor.busy_share" -> (if (opWall > 0) c("run_ms") / 1000 / (opWall * cores) else 0.0,
        "ratio"),
      "fs.read_ops" -> (perOp("fs_read_ops"), "count"),
      "fs.large_read_ops" -> (perOp("fs_large_read_ops"), "count"),
      "fs.write_ops" -> (perOp("fs_write_ops"), "count"),
      "fs.bytes_read" -> (perOp("fs_bytes_read"), "bytes"),
      "fs.bytes_written" -> (perOp("fs_bytes_written"), "bytes"),
      "trace.overhead" -> (overhead, "ratio"))
    val figures = w.layerFigures
    generic.toMap ++ FigureNames.map { case (m, u) => m -> (figures.getOrElse(m, 0.0), u) }
  }
}

/** Helpers shared by the workloads. */
object Workloads {
  /** Publish what is staged for `table` under commit `cid` as one snapshot
    * commit (the engine's own write path). */
  def publish(fs: FileSystem, wh: String, cid: String, table: String): Unit = {
    val moves = TxnCommit.movesFor(fs, wh, cid, table)
    TxnCommit.commit(fs, wh, cid, moves)
    TxnCommit.publish(fs, wh, cid, moves)
  }

  /** Stage `df` as parquet and commit it to `table`. */
  def commit(fs: FileSystem, wh: String, table: String, df: DataFrame,
             partitionBy: Seq[String] = Nil, options: Map[String, String] = Map.empty): Unit = {
    val cid = java.util.UUID.randomUUID().toString
    val w = df.write.mode(SaveMode.Overwrite).options(options)
    (if (partitionBy.isEmpty) w else w.partitionBy(partitionBy: _*))
      .parquet(s"${TxnCommit.stagingDir(wh, cid)}/$table")
    publish(fs, wh, cid, table)
  }

  def duBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
  }

  def countFiles(dir: String, suffix: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(f => f.toString.endsWith(suffix) && !f.toString.contains("/_")).count()
      finally s.close()
    }
  }

  def sha256(bytes: Array[Byte]): String =
    MessageDigest.getInstance("SHA-256").digest(bytes).map(b => f"${b & 0xff}%02x").mkString

  /** Digest over a canonical rendering of generated rows. */
  def rowsDigest(rows: Iterator[Product]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.foreach { r =>
      md.update(r.productIterator.map {
        case a: Array[_] => a.mkString("[", ",", "]")
        case x => String.valueOf(x)
      }.mkString("\u0001").getBytes("UTF-8"))
      md.update('\n'.toByte)
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
}
