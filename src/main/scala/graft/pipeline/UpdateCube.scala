package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.Jobs
import graft.functions.Healpix
import graft.operators.TextOps

/** Incremental update — the analogue of `hisscube.py update`
  * (`hisscube.py:18-80`, `builders_parallel.py`): bring NEW spectra into
  * an existing cube without a from-scratch rebuild. Where the reference
  * deletes and recreates whole HDF5 groups, the Spark-native shape is:
  *
  *  - `spectra`, `cutout_links`, `viz_cube`: per-observation tables →
  *    pure APPEND (a new spectrum adds its own rows and links; nothing
  *    existing changes).
  *  - `ml_cube`: per-target STACKS change when a target gains a spectrum
  *    → re-stack ONLY the affected targets and rewrite only the spatial
  *    buckets that contain them (dynamic partition overwrite on
  *    (zoom, bucket)); every other bucket's files are untouched.
  *
  * Plan shape: the control sets — which incoming ids each table lacks,
  * which targets are stale, their buckets and spectrum ids — come from
  * two collected actions (the batch's zoom-0 keys; one tagged-union probe
  * of the four tables) and reach every later plan as literal `IN`
  * predicates, not broadcast joins. QUANTIFIED BOUND: ids, names, targets
  * and order-19 cells ≤ #batch spectra each; spectrum ids of stale
  * targets ≤ repeats × stale targets — ≈ 50 B per batch spectrum, under
  * 1 MB of literals per plan at 10k spectra; feed larger inputs as
  * smaller batches (as the streaming entry does).
  *
  * Writes: two waves of concurrent Spark jobs ([[graft.Jobs.all]]).
  * Wave 1 appends `spectra` and `cutout_links`, which read only the
  * batch and `images`; wave 2 rewrites the `ml_cube` buckets and appends
  * `viz_cube`, which read what wave 1 wrote. A crash mid-wave can leave
  * either write of a wave done without the other; the per-table probe
  * makes the retry finish exactly the rest (crash law in UpdateSpec).
  *
  * Cost: the appends write O(new data); the `ml_cube` rewrite reads and
  * writes only the affected (zoom, bucket) partitions. Batch-bounded
  * reads: `ml_cube` (bucket partitions), `spectra` and the `viz_cube`
  * probe (row groups of their healpix / heal_id sort). Unbounded:
  * `cutout_links` (unsorted by `spec_id`: its filter drops rows, not
  * files) and `images`, read in full by the link, re-stack and viz steps.
  */
object UpdateCube {

  /** order-15 target healpix → order-3 supercell (2 bits per order). */
  val BucketShift: Int = 2 * (Ingest.SpecHealOrder - 3)

  final case class UpdateSummary(
      newSpectra: Long, newLinks: Long, affectedTargets: Long,
      mlRowsRewritten: Long, vizRowsAppended: Long)

  /** Append `newSpectraDir`'s spectra to the cube at `outDir` and
    * re-stack affected targets. Equivalent to a full rebuild over the
    * union of old and new inputs (asserted in UpdateSpec). */
  def update(
      spark: SparkSession, outDir: String, newSpectraDir: String): UpdateSummary =
    updateWith(spark, outDir, Ingest.spectra(spark, newSpectraDir))

  /** Same, over an already-decoded batch of new spectra — the
    * `foreachBatch` entry the streaming ingest drives
    * ([[graft.streaming.ObservationStream.updateStream]]). */
  def updateWith(
      spark: SparkSession, outDir: String,
      newSpecsIn: Dataset[SpectrumObs]): UpdateSummary = {
    import spark.implicits._

    // CONVERGENT RETRY DESIGN: the writes run as two waves of concurrent
    // jobs — {append spectra, append links}, then {overwrite ML buckets,
    // append viz} — and nothing is atomic (a transactional table format
    // is out of scope). A crash can therefore leave any subset of a wave's
    // writes done: links without spectra, or viz without the ML rewrite,
    // as well as every prefix of the serial order. So each table derives
    // its own missing-work set from the INCOMING batch (not one "new
    // spectra" filter, which would skip unfinished ML/viz steps forever):
    // a retry after a failure at ANY step completes exactly the remaining
    // steps, and a rerun of a completed update is a no-op. Each table is
    // written only by its own step, so one probe at the start sees each
    // table as it is before its step.

    // cached: every step below reads the batch, and decoding it is the
    // expensive part of an update. Action 1, the batch's keys, fills it.
    val incoming = newSpecsIn.cache()
    val batch = incoming.toDF().where(col("zoom") === 0)
      .select("spec_id", "fits_name", "healpix", "ra", "dec")
      .as[(Long, String, Long, Double, Double)].collect()
    if (batch.isEmpty) { incoming.unpersist(); return UpdateSummary(0, 0, 0, 0, 0) }
    val targets = batch.map(_._3).distinct
    def buckets(ts: Iterable[Long]) = ts.map(t => (t >> BucketShift).toInt).toSeq
    def read[T: Encoder](table: String) = BuildCube.readTable[T](spark, outDir, table)
    val images = read[ImageObs]("images").as[ImageObs]
    val ml = read[MlCubeRow]("ml_cube") // one listing for the probe and the survivors

    // Action 2: ONE tagged union (the q280 idiom) answers each table's
    // missing-work question, pruned by the batch's keys; a spectrum's viz
    // samples sit in its own order-19 cell (row groups of the heal_id sort)
    val cells = batch.map(b => Healpix.ang2pixLonLat(VizCube.OutputHealOrder, b._4, b._5))
    val probe = Seq(
      read[SpectrumObs]("spectra").where(col("zoom") === 0 && col("healpix").isin(targets: _*))
        .selectExpr("'spectra' t", "spec_id key", "healpix n", "null name"),
      read[CutoutLink]("cutout_links")
        .where(col("zoom") === 0 && col("spec_id").isin(batch.map(_._1): _*))
        .selectExpr("'links'", "spec_id", "null", "null"),
      read[VizRow]("viz_cube").where(col("zoom") === 0 && col("heal_id").isin(cells: _*) &&
        col("fits_name").isin(batch.map(_._2): _*))
        .selectExpr("'viz'", "null", "null", "fits_name"),
      ml.where(col("zoom") === 0 && col("bucket").isin(buckets(targets): _*) &&
        col("target_healpix").isin(targets: _*))
        .selectExpr("'ml'", "target_healpix", "n_spectra", "null")
    ).reduce(_ union _).groupBy("t", "key", "n", "name").count()
      .as[(String, Option[Long], Option[Long], Option[String], Long)].collect()
      .groupBy(_._1).withDefaultValue(Array.empty)
    val stored = probe("spectra").map(p => (p._2.get, p._3.get, p._5)) // (id, target, rows)
    val linked = probe("links").flatMap(_._2).toSet
    val inViz = probe("viz").flatMap(_._4).toSet
    val mlN = probe("ml").map(p => p._2.get -> p._3.get).toMap // one row per target

    // 3. stale targets: no stack yet, or a stored n_spectra other than the
    // zoom-0 rows the spectra table holds after step 1 (stored + missing
    // incoming). A completed update re-runs as a no-op.
    val storedIds = stored.map(_._1).toSet
    val newRows = batch.filterNot(b => storedIds(b._1))
    val after = stored ++ newRows.map(b => (b._1, b._3, 1L))
    val expected = after.groupMapReduce(_._2)(_._3)(_ + _)
    val stale = targets.filter(t => !mlN.get(t).contains(expected(t))).toSet

    def append(df: DataFrame, table: String): Long = Ingest.writeCounted(df)(
      _.write.mode(SaveMode.Append).partitionBy("zoom").parquet(s"$outDir/$table"))
    def ofIds(ds: Dataset[_], ids: Seq[Long]) = ds.toDF().where(col("spec_id").isin(ids: _*))

    // wave 1, two concurrent jobs over the batch alone:
    // 1. spectra: append only observations not already present
    // 2. links: link incoming spectra that have none yet (per-spectrum → append)
    val unlinked = batch.map(_._1).filterNot(linked)
    val Seq(nNewSpectra, nNewLinks) = Jobs.all(
      () => if (newRows.isEmpty) 0L else append(ofIds(incoming, newRows.map(_._1)), "spectra"),
      () => if (unlinked.isEmpty) 0L else append(Link.linkCutouts(
        ofIds(incoming, unlinked).as[SpectrumObs], images).toDF(), "cutout_links"))
    val links = read[CutoutLink]("cutout_links") // after wave 1; the re-stack and viz share it

    // wave 2, two concurrent jobs over the tables wave 1 completed:
    // 4.+5. re-stack stale targets from the UPDATED tables; rewrite their (zoom, bucket)s
    def restack(): Long = if (stale.isEmpty) 0L else {
      val mlNew = MlCube.build(
        read[SpectrumObs]("spectra").where(col("healpix").isin(stale.toSeq: _*)).as[SpectrumObs],
        ofIds(links, after.filter(a => stale.contains(a._2)).map(_._1)).as[CutoutLink], images)
      // the affected buckets' surviving rows (unaffected targets) + the re-stacked rows
      val survivors = ml.where(col("bucket").isin(buckets(stale): _*) &&
        !col("target_healpix").isin(stale.toSeq: _*))
      // materialization BARRIER: the dynamic overwrite deletes partition
      // files this plan reads, so the union is pinned with localCheckpoint
      // and the write scans materialized blocks, its file lineage cut.
      // (cache() is no barrier: an evicted block would recompute mid-write
      // from files the overwrite is deleting.)
      val mlRewrite = survivors.unionByName(
        mlNew.toDF().withColumn("bucket", shiftright(col("target_healpix"), BucketShift)))
        .localCheckpoint()
      require(!mlRewrite.queryExecution.executedPlan.toString.contains("ml_cube"),
        "ml_cube rewrite plan must not read the path being overwritten")
      // the writer option scopes the overwrite without touching the session's conf
      try Ingest.writeCounted(mlRewrite)(
        _.write.mode(SaveMode.Overwrite).option("partitionOverwriteMode", "dynamic")
          .partitionBy("zoom", "bucket").parquet(s"$outDir/ml_cube"))
      finally TextOps.releaseLocalCheckpoint(mlRewrite)
    }
    // 6. viz rows are per-observation → append, for incoming spectra not in
    // the viz cube yet (cutout-pixel rows ride along, from step 2's links);
    // the range partitioner's sample reruns the flatten, which costs less
    // than caching it
    val vizSpecs = batch.filterNot(b => inViz(b._2))
    def vizAppend(): Long = if (vizSpecs.isEmpty) 0L else append(
      VizCube.build(ofIds(incoming, vizSpecs.map(_._1)).as[SpectrumObs],
        ofIds(links, vizSpecs.map(_._1)).as[CutoutLink], images).toDF()
        .repartitionByRange(col("zoom"), col("heal_id"))
        .sortWithinPartitions("zoom", "heal_id"), "viz_cube")
    val Seq(mlRowCount, vizCount) = Jobs.all(() => restack(), () => vizAppend())

    incoming.unpersist()
    UpdateSummary(nNewSpectra, nNewLinks, stale.size, mlRowCount, vizCount)
  }

  /** CLI parity with `hisscube.py <in> <out> update`:
    * UpdateCube <cubeOutDir> <newSpectraDir> */
  def main(args: Array[String]): Unit = {
    val Array(outDir, newSpectraDir) = args.take(2)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val s = update(spark, outDir, newSpectraDir)
    println(s"""{"new_spectra":${s.newSpectra},"new_links":${s.newLinks},"affected_targets":${s.affectedTargets},"ml_rows_rewritten":${s.mlRowsRewritten},"viz_rows_appended":${s.vizRowsAppended}}""")
    spark.stop()
  }
}
