package graft.streaming

import java.util.UUID

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

import graft.pipeline.{Ingest, SpectrumObs}

/** Structured Streaming ingest of new observation batches (SURVEY §7
  * optional extension): new FITS files landing in a directory become
  * SpectrumObs rows incrementally — the batch path's decoder
  * (`Ingest.decodeSpectra`), driven by the file stream source. At scale
  * this is the "update" pipeline: each micro-batch decodes only the newly
  * arrived files and appends to the zoom-partitioned table.
  */
object ObservationStream {

  /** Streaming spectra: file stream of FITS bytes → decoded observation
    * rows (all zoom levels). Append-mode; one row group per micro-batch.
    */
  def spectra(spark: SparkSession, dir: String,
      zoomCnt: Int = Ingest.SpecZoomCnt): Dataset[SpectrumObs] = {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val binaryFileSchema = StructType(Seq(
      StructField("path", StringType),
      StructField("modificationTime", TimestampType),
      StructField("length", LongType),
      StructField("content", BinaryType)))
    val files = spark.readStream.format("binaryFile")
      .schema(binaryFileSchema)
      .option("pathGlobFilter", "*.fits")
      .option("recursiveFileLookup", "true")
      .load(dir)
      .select("path", "content").as[(String, Array[Byte])]
    Ingest.decodeSpectra(files, zoomCnt)
  }

  /** Streaming INCREMENTAL UPDATE: each micro-batch of newly arrived
    * FITS spectra runs the same re-link/re-stack the batch `update`
    * command does (`UpdateCube.updateWith` inside `foreachBatch`) — the
    * Spark-native form of the reference's `update` pipeline running
    * continuously. `AvailableNow` drains what's present and stops
    * (test/bootstrap); pass a processing-time trigger + checkpoint for a
    * long-lived watcher. */
  def updateStream(
      spark: SparkSession, watchDir: String, outDir: String,
      trigger: Trigger = Trigger.AvailableNow(),
      checkpoint: Option[String] = None): Unit = {
    var w = spectra(spark, watchDir)
      .writeStream
      .foreachBatch { (batch: Dataset[SpectrumObs], _: Long) =>
        graft.pipeline.UpdateCube.updateWith(spark, outDir, batch)
        ()
      }
      .trigger(trigger)
    checkpoint.foreach(c => w = w.option("checkpointLocation", c))
    val q = w.start()
    try q.awaitTermination() finally q.stop()
  }

  /** Drain the current directory contents through the stream into an
    * in-memory table (test/bootstrap helper); production would
    * `writeStream.partitionBy("zoom").format("parquet")` with a
    * checkpoint. Returns the drained rows. */
  def drainOnce(spark: SparkSession, dir: String): DataFrame = {
    val name = "obs_" + UUID.randomUUID().toString.replace("-", "")
    val q = spectra(spark, dir)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally q.stop()
    spark.table(name)
  }
}
