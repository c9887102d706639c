package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.load
import graft.pipeline.{Ingest, VizCube}
import graft.plans.HealpixExpressions.{healpix_cell, healpix_disc}
import graft.syntax._

/** Astronomy-operator queries for the driver gate. Spatial indexing runs
  * over a deterministic synthetic sky (fixed 1500-point generator, so the
  * result is scale-factor-independent and the DuckDB oracle can pin the
  * exact counts); the FITS-backed queries exercise the real ingest
  * pipeline on the reference's committed files — fixed inputs, so their
  * outputs are golden literals pinned in the oracle (the healpix/FITS
  * MATH itself is covered by the ScalaTest truth tables vs published
  * values; the oracle gates cross-round regressions).
  */
object AstroOps {

  private val refData = "/root/reference/data/raw"

  /** Synthetic sky: 1500 deterministic positions (same arithmetic the
    * round-1 customer-keyed sky used, now keyed on a fixed range so the
    * oracle constants hold at every scale factor). */
  private def sky(s: SparkSession, dir: String): DataFrame = {
    graft.plans.HealpixExpressions.register(s)
    s.range(0, 1500).select(
      $"id",
      (($"id" * 7.001) % 360.0).as("ra"),
      ((($"id" * 3.503) % 120.0) - 60.0).as("dec"))
  }

  /** I1: native healpix_cell Expression inside whole-stage codegen;
    * spatial histogram at two orders (hierarchy via bit-shift, I2). */
  def q37Healpix(s: SparkSession, dir: String): DataFrame =
    sky(s, dir)
      .select(
        healpix_cell($"ra", $"dec", lit(11)).as("cell11"),
        healpix_cell($"ra", $"dec", lit(6)).as("cell6"))
      .withColumn("parent_ok", (shiftright($"cell11", 10) === $"cell6").cast("long"))
      .groupBy()
      .agg(
        countDistinct($"cell11").as("n_cells11"),
        countDistinct($"cell6").as("n_cells6"),
        sum($"parent_ok").as("n_parent_consistent"),
        count(lit(1)).as("n"))

  /** I6: disc-cover explode — the link phase's candidate generator. */
  def q42DiscCover(s: SparkSession, dir: String): DataFrame =
    sky(s, dir)
      .filter($"id" <= 50)
      .select($"id".as("probe_id"),
        explode(healpix_disc($"ra", $"dec", lit(10), lit(8.0 * math.Pi / (60 * 180))))
          .as("cell"))
      .groupBy($"probe_id")
      .agg(count(lit(1)).as("n_cells"), countDistinct($"cell").as("n_distinct"))

  /** S1+S5+P5+P9+X1: real FITS spectra ingest through the pipeline
    * (reference's committed files), reporting the pyramid law. */
  def q38FitsSpectra(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val specs = Ingest.spectra(s, s"$refData/galaxy_small/spectra")
    specs.map(o => (o.zoom, o.flux.length, o.flux.count(v => !v.isNaN)))
      .toDF("zoom", "n_samples", "n_finite")
      .groupBy(col("zoom"), col("n_samples"))
      .agg(count(lit(1)).as("n_spectra"), sum(col("n_finite")).as("total_finite"))
      .select(col("zoom").cast("long").as("zoom"),
        col("n_samples").cast("long").as("n_samples"),
        col("n_spectra"), col("total_finite"))
  }

  /** The DSv2 FITS format end-to-end through the oracle gate: the q38
    * pyramid-law shape served by `spark.read.format(...)` instead of
    * the binaryFile ingest path, so the DataSourceV2 reader (decode,
    * pyramid fan-out, conf threading) is hash-gated cross-round — its
    * row-level parity with `Ingest.spectra` is ScalaTest-gated in
    * FitsDataSourceSpec; pruning is plan-gated in PlanSpec. The finite
    * count runs as a codegen'd HOF fold (no Dataset map), so the only
    * non-built-in in the plan is the source itself. */
  def q111DsvFitsSpectra(s: SparkSession, dir: String): DataFrame =
    s.read.format("graft.sources.fits.FitsDataSource")
      .load(s"$refData/galaxy_small/spectra")
      .select($"zoom", $"flux")
      .select($"zoom", size($"flux").as("n_samples"),
        aggregate($"flux", lit(0L),
          (acc, x) => acc + when(isnan(x), 0L).otherwise(1L)).as("n_finite"))
      .groupBy($"zoom", $"n_samples")
      .agg(count(lit(1)).as("n_spectra"), sum($"n_finite").as("total_finite"))
      .select($"zoom".cast("long").as("zoom"),
        $"n_samples".cast("long").as("n_samples"),
        $"n_spectra", $"total_finite")

  /** S4+P1-P4+X2: real SDSS frame ingest (single committed frame). */
  def q39FitsImage(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val imgs = Ingest.images(s, s"$refData/images_medium_ds", "/root/reference/config")
    imgs.map(o => (o.zoom, o.width, o.height, o.band))
      .toDF("zoom", "width", "height", "band")
      .select(col("zoom").cast("long").as("zoom"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height"), col("band"))
      .orderBy(col("zoom"))
  }

  /** P12 float_compress over embedding vectors via the native expression:
    * every output float has its 13 low mantissa bits zero and stays
    * within 1/1024 of the input — both invariants aggregated so the
    * rows-only check still pins semantics. */
  def q50FloatCompress(s: SparkSession, dir: String): DataFrame = {
    graft.plans.FloatCompressExpression.register(s)
    import graft.plans.FloatCompressExpression.float_compress_array
    load(s, dir, "embeddings")
      .select($"vec_id", $"embedding", float_compress_array($"embedding").as("comp"))
      .select($"vec_id",
        zip_with($"embedding", $"comp", (a, b) =>
          when(a =!= 0.0f && !isnan(a),
            (abs(b.cast("double") / a.cast("double") - 1.0) < 0.001).cast("int"))
            .otherwise(lit(1))).as("ok"))
      .select($"vec_id", aggregate($"ok", lit(0), (acc, x) => acc + x).as("n_ok"))
      .groupBy()
      .agg(count(lit(1)).as("n_vectors"), sum($"n_ok").cast("long").as("total_ok"))
  }

  /** Full J1+A2 on synthetic-fixture-style data is covered in ScalaTest;
    * here: viz-flatten of the ingested spectra (V1) with heal order 19. */
  def q40VizFlatten(s: SparkSession, dir: String): DataFrame = {
    val specs = Ingest.spectra(s, s"$refData/galaxy_small/spectra")
    VizCube.spectrumRows(specs)
      .groupBy("zoom")
      .agg(count(lit(1)).as("n_pixels"))
      .select(col("zoom").cast("long").as("zoom"), col("n_pixels"))
  }

  /** DuckDB oracles. The synthetic-sky counts and the FITS golden rows
    * are pinned literals: inputs are fixed (the deterministic 1500-point
    * sky; the reference's committed spectra + frame), so any value drift
    * is a regression. q50's invariants are derived from the data. */
  val oracles: Map[String, String] = Map(
    "q37_healpix" ->
      """SELECT CAST(1500 AS BIGINT) AS n_cells11, CAST(1475 AS BIGINT) AS n_cells6,
        |CAST(1500 AS BIGINT) AS n_parent_consistent, CAST(1500 AS BIGINT) AS n""".stripMargin,
    "q42_disc_cover" ->
      """SELECT CAST(probe_id AS BIGINT) AS probe_id, CAST(n_cells AS BIGINT) AS n_cells,
        |CAST(n_cells AS BIGINT) AS n_distinct FROM (VALUES
        |(0,36),(1,33),(2,33),(3,32),(4,31),(5,34),(6,30),(7,32),(8,31),(9,30),
        |(10,29),(11,29),(12,29),(13,29),(14,30),(15,31),(16,32),(17,30),(18,30),(19,30),
        |(20,30),(21,30),(22,30),(23,29),(24,28),(25,31),(26,30),(27,31),(28,33),(29,34),
        |(30,31),(31,32),(32,32),(33,32),(34,30),(35,32),(36,34),(37,33),(38,36),(39,36),
        |(40,31),(41,33),(42,29),(43,30),(44,30),(45,29),(46,30),(47,30),(48,29),(49,30),
        |(50,30)) t(probe_id, n_cells)""".stripMargin,
    "q38_fits_spectra" ->
      """SELECT CAST(zoom AS BIGINT) AS zoom, CAST(n_samples AS BIGINT) AS n_samples,
        |CAST(n_spectra AS BIGINT) AS n_spectra, CAST(total_finite AS BIGINT) AS total_finite
        |FROM (VALUES (0,4620,11,50820),(1,2310,11,25410),(2,1155,11,12705),
        |(3,577,11,6347),(4,288,11,3168)) t(zoom, n_samples, n_spectra, total_finite)""".stripMargin,
    "q39_fits_image" ->
      """SELECT CAST(zoom AS BIGINT) AS zoom, CAST(width AS BIGINT) AS width,
        |CAST(height AS BIGINT) AS height, band
        |FROM (VALUES (0,2048,1489,'u'),(1,1024,744,'u'),(2,512,372,'u'),
        |(3,256,186,'u'),(4,128,93,'u')) t(zoom, width, height, band)""".stripMargin,
    "q111_dsv2_fits_spectra" ->
      """SELECT CAST(zoom AS BIGINT) AS zoom, CAST(n_samples AS BIGINT) AS n_samples,
        |CAST(n_spectra AS BIGINT) AS n_spectra, CAST(total_finite AS BIGINT) AS total_finite
        |FROM (VALUES (0,4620,11,50820),(1,2310,11,25410),(2,1155,11,12705),
        |(3,577,11,6347),(4,288,11,3168)) t(zoom, n_samples, n_spectra, total_finite)""".stripMargin,
    "q40_viz_flatten" ->
      """SELECT CAST(zoom AS BIGINT) AS zoom, CAST(n_pixels AS BIGINT) AS n_pixels
        |FROM (VALUES (0,50820),(1,25410),(2,12705),(3,6347),(4,3168)) t(zoom, n_pixels)""".stripMargin,
    "q50_float_compress" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_vectors,
        |CAST(count(*) * 64 AS BIGINT) AS total_ok FROM embeddings""".stripMargin,
  )
}
