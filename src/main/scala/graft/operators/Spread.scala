package graft.operators

import org.apache.spark.sql.SparkSession

/** Scale-adaptive spread arithmetic shared by the fan-out pins. */
private[graft] object Spread {

  /** Partition width for spreading a frame, sized from the optimizer's
    * size estimate (file size for parquet scans, rows×rowWidth for local
    * relations): one task per `bytesPerTask`, capped at the session's
    * parallelism and at least 1, so a tiny frame keeps few partitions
    * while a big one gets the full width. Costs NO job at all, where
    * even a metadata-only count() pays one fixed-cost action on every
    * driver run. */
  def sizedWidthFromBytes(
      spark: SparkSession, bytes: BigInt, bytesPerTask: Long): Int =
    ((bytes + bytesPerTask - 1) / bytesPerTask)
      .min(BigInt(spark.sparkContext.defaultParallelism))
      .max(BigInt(1)).toInt
}
