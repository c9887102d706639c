package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Wcs

/** J1 — the spectra ⟕ image-cutouts spatial join (the reference's "link"
  * phase, `metadata_strategy_spectrum.py:440-477,569-734`).
  *
  * Spark shape: disc-cover explode on the spectrum side → equi-join on
  * the healpix cell id against the image index → exact cutout-bounds
  * filter → per-(spectrum, zoom) cap at MAX_CUTOUT_REFS. The candidate
  * explode replaces the reference's sorted-index searchsorted probe; the
  * equi-join gives Catalyst a shuffle-on-cell (or broadcast, when the
  * image index is small) plan that scales horizontally.
  */
object Link {

  val CutoutSize = 64 // IMAGE_CUTOUT_SIZE (config.ini:13)
  val MaxCutoutRefs = 200 // MAX_CUTOUT_REFS (config.ini:36)
  /** disc radius: IMG_DIAMETER_ANG_MIN = 8 arcmin passed as the radius
    * (reference quirk, `astrometry.py:160-163`) */
  val DiscRadiusRad: Double = 8.0 * math.Pi / (60 * 180)

  /** Candidate (spec, image) pairs via healpix-cell equi-join at the
    * image index order. One row per pair (dedup over cells). The disc
    * cover runs as the native `healpix_disc` Expression + explode —
    * columnar, no per-row Dataset decode. */
  def candidates(spectra: Dataset[SpectrumObs], images: Dataset[ImageObs]): DataFrame = {
    val spark = spectra.sparkSession
    import spark.implicits._
    graft.plans.HealpixExpressions.register(spark)
    import graft.plans.HealpixExpressions.healpix_disc

    // columnar filters/projections — NOT typed lambdas: a .map over the
    // observation Datasets would deserialize the full rows (pixel arrays
    // included) to extract a few metadata fields, and would block column
    // pruning when the inputs come from the stored parquet tables
    val spec0 = spectra.toDF().where($"zoom" === 0)
      .select($"spec_id", $"ra", $"dec", $"healpix".as("spec_healpix"))
      .select($"spec_id", $"ra", $"dec", $"spec_healpix",
        explode(healpix_disc($"ra", $"dec",
          lit(Ingest.ImgHealOrder), lit(DiscRadiusRad))).as("cell"))

    val imgIndex = images.toDF().where($"zoom" === 0)
      .select($"image_id", $"healpix".as("img_healpix"), $"width".as("width0"),
        $"height".as("height0"), $"time".as("img_time"), $"band", $"wcs".as("wcs0"))

    spec0.join(imgIndex, $"cell" === $"img_healpix")
      .drop("cell", "img_healpix")
      .distinct()
  }

  /** Full link table: exact WCS cutout-bounds check per zoom, whole-cutout
    * filter (J2), deterministic ≤200 cap per (spectrum, zoom) in the
    * reference's index order (spatial, time). */
  def linkCutouts(
      spectra: Dataset[SpectrumObs], images: Dataset[ImageObs],
      zoomCnt: Int = Ingest.ImgZoomCnt): Dataset[CutoutLink] = {
    val spark = spectra.sparkSession
    import spark.implicits._

    val cand = candidates(spectra, images)
    val links = cand.flatMap { r =>
      val specId = r.getLong(r.fieldIndex("spec_id"))
      val ra = r.getDouble(r.fieldIndex("ra"))
      val dec = r.getDouble(r.fieldIndex("dec"))
      val imageId = r.getLong(r.fieldIndex("image_id"))
      val w0 = r.getInt(r.fieldIndex("width0"))
      val h0 = r.getInt(r.fieldIndex("height0"))
      val band = r.getString(r.fieldIndex("band"))
      val wr = r.getStruct(r.fieldIndex("wcs0"))
      val wcs0 = graft.functions.TanWcs(
        wr.getDouble(0), wr.getDouble(1), wr.getDouble(2), wr.getDouble(3),
        wr.getDouble(4), wr.getDouble(5), wr.getDouble(6), wr.getDouble(7))
      (0 to zoomCnt).flatMap { z =>
        val wz = if (z == 0) wcs0 else wcs0.atZoom(z)
        val wDim = w0 >> z
        val hDim = h0 >> z
        Wcs.cutoutBounds(wz, wDim, hDim, ra, dec, CutoutSize, z)
          .filter(b => Wcs.isCutoutWhole(b, wDim, hDim))
          .map(b => CutoutLink(z, specId, imageId, band, b.xMin, b.xMax, b.yMin, b.yMax))
      }
    }

    // ≤ MAX_CUTOUT_REFS per (spectrum, zoom), ordered like the reference's
    // sorted image index (spatial, time) — join back minimal order keys
    val order = images.toDF().where($"zoom" === 0)
      .select($"image_id", $"healpix".as("o_healpix"), $"time".as("o_time"))
    val w = Window.partitionBy($"spec_id", $"zoom")
      .orderBy($"o_healpix", $"o_time", $"image_id")
    links.toDF()
      .join(broadcast(order), "image_id")
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= MaxCutoutRefs)
      .drop("rn", "o_healpix", "o_time")
      .select($"zoom", $"spec_id", $"image_id", $"band",
        $"x_min", $"x_max", $"y_min", $"y_max")
      .as[CutoutLink]
  }
}
