package org.apache.spark.sql.execution.datasources.graftbridge

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.PartitioningUtils
import org.apache.spark.sql.types.DataType

/** Spark's own partition-value type inference, applied to values alone.
  * Spark keeps `PartitioningUtils.parsePartitions` behind
  * `private[datasources]`. */
object PartitionBridge {
  /** The type Spark's path inference gives partition column `segs`' values,
    * each an escaped `k=v` directory name: the session's
    * `partitionColumnTypeInference` and time zone apply, and no filesystem
    * is touched (the paths are synthetic). */
  def inferredType(spark: SparkSession, segs: Seq[String]): DataType = {
    val conf = spark.sessionState.conf
    PartitioningUtils.parsePartitions(segs.map(s => new Path(s"/$s")),
      conf.partitionColumnTypeInferenceEnabled, Set(new Path("/")),
      None, conf.caseSensitiveAnalysis, false, conf.sessionLocalTimeZone,
      false).partitionColumns.head.dataType
  }
}
