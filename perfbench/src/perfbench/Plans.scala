package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

/** Facts read off an executed query's physical plan. */
object Plans extends AdaptiveSparkPlanHelper {

  /** Distinct data files the query's scans read: the `numFiles` metric of
    * V1 file scans, and the file splits of V2 batch scans' partitions.
    * A scan reachable twice (through an adaptive query stage) counts once. */
  def filesRead(df: DataFrame): Double = {
    val scans = collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s
      case b: BatchScanExec => b
    }.distinct
    val v1 = scans.collect { case s: FileSourceScanExec =>
      s.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum
    val v2 = scans.collect { case b: BatchScanExec =>
      b.inputPartitions.flatMap {
        case fp: FilePartition => fp.files.toSeq
        case p: Product => p.productIterator.collectFirst {
          case a: Array[PartitionedFile] => a.toSeq
        }.getOrElse(Nil)
        case _ => Nil
      }.map(_.filePath.toString)
    }.flatten.distinct.size
    (v1 + v2).toDouble
  }
}
