package graft.pipeline

import org.apache.spark.sql.{DataFrame, Encoder, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, shiftright}

/** Full cube construction — the analogue of `hisscube.py <in> <out>
  * create` (reference §3.1 builder list: metadata-cache → metadata →
  * data → link → visualization → ml-cube). In Spark the phases are five
  * table writes over one shared, cached ingest (about 30 Spark jobs in
  * all, counting the range-partition samples and AQE's stage jobs);
  * ordering is only data-dependency, not hand-scheduling.
  * Each write counts its own rows for the returned [[Summary]].
  *
  * Usage: BuildCube <spectraDir> <imagesDir> <ccdConfigDir> <outDir>
  *
  * Output layout (the 100 TB layout in miniature):
  *   out/spectra/zoom=Z/...   parquet, range-sorted by healpix
  *   out/images/zoom=Z/...
  *   out/cutout_links/zoom=Z/...
  *   out/ml_cube/zoom=Z/...
  *   out/viz_cube/zoom=Z/...  range-sorted by heal_id (V3 read path)
  */
object BuildCube {

  final case class Summary(
      spectra: Long, images: Long, links: Long, mlRows: Long, vizRows: Long)

  def build(
      spark: SparkSession,
      spectraDir: String, imagesDir: String, ccdConfigDir: String,
      outDir: String): Summary = {

    // each input feeds its own write, the links, the ML stack and the viz
    // flatten: cached, so each FITS file is decoded once
    val spectra = Ingest.spectra(spark, spectraDir).cache()
    val images = Ingest.images(spark, imagesDir, ccdConfigDir).cache()

    val nSpectra = Ingest.writeSorted(spectra, s"$outDir/spectra")
    val nImages = Ingest.writeSorted(images, s"$outDir/images")

    // feeds its write, the ML stack and the viz flatten
    val links = Link.linkCutouts(spectra, images).cache()
    val nLinks = Ingest.writeCounted(links.toDF())(_.write.mode(SaveMode.Overwrite)
      .partitionBy("zoom").parquet(s"$outDir/cutout_links"))

    // (zoom, spatial-bucket) partitioning so the incremental update phase
    // (UpdateCube) can dynamic-overwrite only the buckets it re-stacks
    val nMl = Ingest.writeCounted(MlCube.build(spectra, links, images).toDF()
      .withColumn("bucket", shiftright(col("target_healpix"), UpdateCube.BucketShift)))(
      _.write.mode(SaveMode.Overwrite).partitionBy("zoom", "bucket").parquet(s"$outDir/ml_cube"))

    // cached: the range partitioner's sampling job would otherwise run
    // the viz flatten a second time
    val viz = VizCube.build(spectra, links, images).cache()
    val nViz = Ingest.writeCounted(viz.toDF()
      .repartitionByRange(col("zoom"), col("heal_id"))
      .sortWithinPartitions("zoom", "heal_id"))(
      _.write.mode(SaveMode.Overwrite).partitionBy("zoom").parquet(s"$outDir/viz_cube"))

    Seq(spectra, images, links, viz).foreach(_.unpersist())
    Summary(nSpectra, nImages, nLinks, nMl, nViz)
  }

  /** One cube table read with its model case class `T` as the schema.
    * Partition columns are still discovered from the directories and
    * come last, as in an inferred read, and no job has to infer the
    * schema from a parquet footer. */
  private[pipeline] def readTable[T: Encoder](
      spark: SparkSession, outDir: String, table: String): DataFrame =
    spark.read.schema(implicitly[Encoder[T]].schema).parquet(s"$outDir/$table")

  /** V3 read path: one zoom level of the dense visualization cube —
    * partition-pruned by the `zoom=` directory, row-group-pruned on
    * heal_id ranges. */
  def readVizAtZoom(spark: SparkSession, outDir: String, zoom: Int) = {
    import spark.implicits._
    readTable[VizRow](spark, outDir, "viz_cube").where(col("zoom") === zoom)
  }

  /** §3.3 ML read path — `MLProcessor.get_spectrum_3d_cube(conn, zoom)`
    * parity (`cube_ml.py:11-12`, `tests/test_export.py:94-99`): one zoom
    * of the ML cube as the reference's four dense arrays — image cube
    * (bands × h × w), image errors, spectral cube, spectral errors — one
    * row per target, partition-pruned by the `zoom=` directory. */
  def readMlAtZoom(spark: SparkSession, outDir: String, zoom: Int) = {
    import org.apache.spark.sql.functions.transform
    import spark.implicits._
    readTable[MlCubeRow](spark, outDir, "ml_cube").where(col("zoom") === zoom)
      .select(col("target_healpix"),
        transform(col("cutouts"), c => c.getField("flux")).as("image_cube"),
        transform(col("cutouts"), c => c.getField("sigma")).as("image_errors"),
        col("spec_flux").as("spectral_cube"),
        col("spec_sigma").as("spectral_errors"),
        col("n_spectra"), col("spec_ids"), col("image_ids"))
  }

  def main(args: Array[String]): Unit = {
    val Array(spectraDir, imagesDir, ccdConfigDir, outDir) = args.take(4)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val s = build(spark, spectraDir, imagesDir, ccdConfigDir, outDir)
    println(s"""{"spectra":${s.spectra},"images":${s.images},"links":${s.links},"ml_rows":${s.mlRows},"viz_rows":${s.vizRows}}""")
    spark.stop()
  }
}
