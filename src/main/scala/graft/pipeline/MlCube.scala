package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.functions.IvwStackAggregator

/** A2 — dense ML-cube assembly (`metadata_strategy_cube_ml.py:520-637`):
  * group spectra by target (unique spectrum healpix), IVW-stack the
  * repeated spectra; take the FIRST spectrum's cutouts (reference rule,
  * line 652), group them by band and IVW-stack per band; keep only
  * targets with all 5 bands (lines 261-262).
  *
  * Scale shape: every stack is a RELATIONAL aggregate over the native
  * [[IvwStackAggregator]] (a `TypedImperativeAggregate` reading the f32
  * pixel arrays in place), so partial aggregation (map-side combine)
  * collapses repeat observations of a target to one (ΣW, ΣWF) buffer pair
  * per group BEFORE the shuffle — with healpix-sorted storage the repeats
  * co-locate and only #targets × 2×n doubles cross the wire, never the
  * raw per-observation payloads (the round-1 `mapGroups` full-payload
  * shuffle is gone; PlanSpec asserts no MapGroups node survives).
  * Provenance (sorted spec_ids / image_ids) rides along as lightweight
  * collect_list/collect_set aggregates in the same pass.
  * Accumulation f64, output f32 (reference lines 27,37).
  */
object MlCube {

  final case class SpecStack(
      zoom: Int, target_healpix: Long, n_spectra: Int,
      spec_flux: Array[Float], spec_sigma: Array[Float],
      spec_ids: Array[Long], first_spec_id: Long)

  private def toDoubleArr(c: Column): Column = transform(c, _.cast("double"))
  private def toFloatArr(c: Column): Column = transform(c, _.cast("float"))

  /** Per (target, zoom): IVW spectral stack + provenance + the id of the
    * first spectrum (reference order: the sorted (spatial, time) index).
    * One shuffle on (healpix, zoom) carrying one partial-agg buffer per
    * group per map partition. */
  def specStacks(spectra: Dataset[SpectrumObs]): Dataset[SpecStack] = {
    val spark = spectra.sparkSession
    import spark.implicits._
    spectra.toDF()
      .groupBy($"healpix", $"zoom")
      .agg(
        IvwStackAggregator.stack($"flux", $"sigma").as("stk"),
        count(lit(1)).cast("int").as("n_spectra"),
        sort_array(collect_list(struct($"time", $"spec_id"))).as("prov"))
      .select(
        $"zoom",
        $"healpix".as("target_healpix"),
        $"n_spectra",
        toFloatArr(col("stk._1")).as("spec_flux"),
        toFloatArr(col("stk._2")).as("spec_sigma"),
        transform($"prov", p => p.getField("spec_id")).as("spec_ids"),
        element_at($"prov", 1).getField("spec_id").as("first_spec_id"))
      .as[SpecStack]
  }

  /** Re-chunk a flattened row-major pixel vector back to h×w (the stack
    * runs element-wise over the flat form so one aggregate serves all
    * shapes). */
  private def rechunk(a: Column, w: Column): Column =
    transform(sequence(lit(0), (size(a) / w).cast("int") - 1),
      r => toFloatArr(slice(a, r * w + 1, w)))

  /** Full ML cube. */
  def build(
      spectra: Dataset[SpectrumObs],
      links: Dataset[CutoutLink],
      images: Dataset[ImageObs],
      requiredBands: Int = 5,
      broadcastLinks: Boolean = true): Dataset[MlCubeRow] = {
    val spark = spectra.sparkSession
    import spark.implicits._

    val stacks = specStacks(spectra)

    // restrict links to each target's first spectrum (reference rule).
    // Derived by a LIGHTWEIGHT aggregate over the raw spectra — not by
    // re-running the array-stacking aggregation (which specStacks would
    // recompute for this subtree) and not by deserializing stack rows.
    val firstIds = spectra.toDF().where($"zoom" === 0)
      .groupBy($"healpix".as("target_healpix"))
      .agg(min(struct($"time", $"spec_id")).getField("spec_id").as("first_spec_id"))
      .select($"target_healpix", $"first_spec_id")

    // filter links to first spectra BEFORE dereferencing pixels: with K
    // repeat observations per target, this skips K-1 of every K cutout
    // slices (the reference rule makes them dead work)
    val firstLinks = links.toDF()
      .join(broadcast(firstIds.select($"first_spec_id")),
        $"spec_id" === $"first_spec_id", "left_semi")
      .as[CutoutLink]
    val cut = cutoutPixelTable(firstLinks, images, broadcastLinks)
      .join(broadcast(firstIds), $"spec_id" === $"first_spec_id")

    // IVW stack per (target, zoom, band) over the FLATTENED cutouts —
    // partial aggregation again; shapes restored after the shuffle.
    val bandStacks = cut
      .select($"target_healpix", $"zoom", $"band", $"image_id",
        size(element_at($"flux", 1)).as("w"),
        flatten($"flux").as("flux1d"),
        flatten($"sigma").as("sigma1d"))
      .groupBy($"target_healpix", $"zoom", $"band")
      .agg(
        IvwStackAggregator.stack($"flux1d", $"sigma1d").as("stk"),
        first($"w").as("w"),
        sort_array(collect_set($"image_id")).as("image_ids"))
      .select($"target_healpix", $"zoom", $"band",
        rechunk(col("stk._1"), $"w").as("flux"),
        rechunk(col("stk._2"), $"w").as("sigma"),
        $"image_ids")

    // assemble: 5-band completeness filter (HAVING over collected bands)
    val grouped = bandStacks
      .groupBy($"target_healpix", $"zoom")
      .agg(
        sort_array(collect_list(struct($"band", $"flux", $"sigma"))).as("cutouts"),
        sort_array(array_distinct(flatten(collect_list($"image_ids")))).as("image_ids"))

    stacks.toDF()
      .join(grouped, Seq("target_healpix", "zoom"))
      .filter(size($"cutouts") === requiredBands)
      .select($"zoom", $"target_healpix", $"n_spectra",
        $"spec_flux", $"spec_sigma", $"cutouts", $"spec_ids", $"image_ids")
      .as[MlCubeRow]
  }

  /** §3.3 read path: top-k most similar targets to a probe target by
    * `target_distance` (A4 — nansum of |Δ| over the stacked spectra;
    * the reference computes this in notebook numpy; here it is a real
    * distributed top-k: broadcast probe + TakeOrderedAndProject). */
  def similarTargets(
      ml: Dataset[MlCubeRow], probeTarget: Long, zoom: Int, k: Int)
      : DataFrame = {
    val spark = ml.sparkSession
    import spark.implicits._
    graft.plans.VectorExpressions.register(spark)
    // columnar filters + projection, NOT typed lambdas: when `ml` is the
    // stored parquet cube, pruning reaches the scan and only
    // (target_healpix, spec_flux) is read — never the cutout payloads
    val flux = ml.toDF().where($"zoom" === zoom)
      .select($"target_healpix", toDoubleArr($"spec_flux").as("flux"))
    val probe = flux.where($"target_healpix" === probeTarget)
      .select($"flux".as("probe_flux"))
    flux
      .where($"target_healpix" =!= probeTarget)
      .crossJoin(broadcast(probe))
      .select($"target_healpix",
        nanDistance($"flux", $"probe_flux").as("target_distance"))
      .orderBy($"target_distance", $"target_healpix")
      .limit(k)
  }

  /** nansum of |a-b|: NaN elements contribute 0
    * (`metadata_strategy_cube_ml.py:40-48`). Native codegen kernel —
    * the stacked spectra are 4620-sample vectors, so the interpreted
    * HOF fold was the similarity scan's dominant cost. */
  private def nanDistance(a: Column, b: Column) =
    graft.plans.VectorExpressions.vec_nanl1(a, b)

  /** J6 — region-ref dereference as a join: link rows → sliced image
    * pixel arrays (`utils/io_strategy.py:80-100`).
    *
    * Scale contract (SCALE.md §broadcast-bound): full frames never cross
    * the wire on the default path. The link projection (~48 B per link,
    * ≤ MAX_CUTOUT_REFS per spectrum-zoom) is broadcast; frames stream
    * through the BroadcastHashJoin and are sliced to ≤16 KB cutouts in
    * the SAME stage, so only cutout-sized data shuffles downstream.
    * QUANTIFIED BOUND: the broadcast side is ≈ #spectra × 25 links ×
    * 48 B ≈ 1.2 KB/spectrum — it crosses Spark's 8 GB broadcast ceiling
    * around ~6M spectra. Above that pass `broadcastLinks = false`: both
    * sides hash-partition on (zoom, image_id) and each frame crosses the
    * wire ONCE (no fan-out — links per image are collocated), which is a
    * bounded one-pass shuffle, not a scale killer. PlanSpec asserts the
    * BroadcastHashJoin survives on the default path. */
  def cutoutPixelTable(
      links: Dataset[CutoutLink], images: Dataset[ImageObs],
      broadcastLinks: Boolean = true): DataFrame = {
    val spark = links.sparkSession
    import spark.implicits._
    val linkProj = links.toDF().select(
      $"zoom", $"image_id", $"spec_id", $"band",
      $"x_min".cast("int").as("x_min"), $"x_max".cast("int").as("x_max"),
      $"y_min".cast("int").as("y_min"), $"y_max".cast("int").as("y_max"))
    val linkCols = if (broadcastLinks) broadcast(linkProj) else linkProj
    // slice [yMin,yMax) × [xMin,xMax) columnar-side (1-based slice())
    def sliceCol(img: Column): Column =
      transform(slice(img, $"y_min" + 1, $"y_max" - $"y_min"),
        row => slice(row, $"x_min" + 1, $"x_max" - $"x_min"))
    images.toDF()
      .select($"zoom", $"image_id", $"flux".as("img_flux"), $"sigma".as("img_sigma"))
      .join(linkCols, Seq("zoom", "image_id"))
      .select($"zoom", $"spec_id", $"image_id", $"band",
        sliceCol($"img_flux").as("flux"), sliceCol($"img_sigma").as("sigma"))
  }
}
