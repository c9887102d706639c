package graft.pipeline

import org.apache.spark.sql.{Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

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
  * Cost: the appends write O(new data), and the `ml_cube` rewrite reads
  * and writes only the affected (zoom, bucket) partitions. The re-stack's
  * inputs are not bounded that way: it scans all of `spectra`,
  * `cutout_links` and `images` and filters them with a broadcast join on
  * `healpix`, which is not a partition column, so that read grows with
  * the whole cube. The missing-work probes add one single-column scan of
  * each table's zoom=0 partition.
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

    // CONVERGENT RETRY DESIGN: the multi-step sequence (append spectra →
    // append links → overwrite ML buckets → append viz) is not atomic,
    // and a transactional table format is out of scope — so instead each
    // table derives its own missing-work set from the INCOMING batch.
    // Re-running the same update after a failure at ANY step completes
    // exactly the remaining steps; re-running a completed update is a
    // no-op. (A single up-front "new spectra" filter would do the
    // opposite: after a mid-sequence failure the already-appended spectra
    // would vanish from the batch and the unfinished ML/viz steps would
    // be skipped forever.) Every probe is a pruned single-column read of
    // the zoom=0 partition.

    // cached: every step below reads the batch, and decoding it is the
    // expensive part of an update
    val incoming = newSpecsIn.cache()
    if (incoming.isEmpty) {
      incoming.unpersist()
      return UpdateSummary(0, 0, 0, 0, 0)
    }
    val images = spark.read.parquet(s"$outDir/images").as[ImageObs]

    // 1. spectra: append only observations not already present
    val existingSpecIds = spark.read.parquet(s"$outDir/spectra")
      .where(col("zoom") === 0).select(col("spec_id")).distinct()
    val nNewSpectra = Ingest.writeCounted(incoming.toDF()
      .join(existingSpecIds, Seq("spec_id"), "left_anti"))(
      _.write.mode(SaveMode.Append).partitionBy("zoom").parquet(s"$outDir/spectra"))

    // 2. links: link the incoming spectra that have no links yet (links
    // are per-spectrum → pure append)
    val linkedIds = spark.read.parquet(s"$outDir/cutout_links")
      .where(col("zoom") === 0).select(col("spec_id")).distinct()
    val unlinked = incoming.toDF()
      .join(linkedIds, Seq("spec_id"), "left_anti")
      .as[SpectrumObs]
    val nNewLinks = Ingest.writeCounted(Link.linkCutouts(unlinked, images).toDF())(
      _.write.mode(SaveMode.Append).partitionBy("zoom").parquet(s"$outDir/cutout_links"))

    // 3. affected targets: cells touched by the INCOMING batch whose
    // stored stack is STALE — stored n_spectra (zoom 0) differs from the
    // spectra-table count (or the target has no stack yet). A completed
    // update re-runs as a no-op; a half-applied one converges.
    val touched = incoming.toDF().where(col("zoom") === 0)
      .select(col("healpix").as("affected_healpix")).distinct()
    val allSpectra = spark.read.parquet(s"$outDir/spectra").as[SpectrumObs]
    val expected = allSpectra.toDF().where(col("zoom") === 0)
      .join(broadcast(touched), col("healpix") === col("affected_healpix"))
      .groupBy(col("affected_healpix")).agg(count(lit(1)).as("expected_n"))
    val stored = spark.read.parquet(s"$outDir/ml_cube")
      .where(col("zoom") === 0)
      .select(col("target_healpix"), col("n_spectra"))
    // cached and counted: the count guards the re-stack, and the buckets,
    // the re-stack's inputs and the surviving rows all reuse the set
    val affected = expected
      .join(stored, col("affected_healpix") === col("target_healpix"), "left")
      .filter(col("n_spectra").isNull || col("n_spectra") =!= col("expected_n"))
      .select(col("affected_healpix")).cache()
    val nAffected = affected.count()

    // 4.+5. re-stack stale targets from the UPDATED tables and rewrite
    // only their (zoom, bucket) partitions
    val mlRowCount = if (nAffected == 0) 0L else {
      val affectedBuckets = affected
        .select(shiftright(col("affected_healpix"), BucketShift).as("bucket")).distinct()
      val affectedSpectra = allSpectra.toDF()
        .join(broadcast(affected), col("healpix") === col("affected_healpix"))
        .drop("affected_healpix")
        .as[SpectrumObs]
      val affectedSpecIds = affectedSpectra.toDF().where(col("zoom") === 0)
        .select(col("spec_id").as("a_spec_id")).distinct()
      val allLinks = spark.read.parquet(s"$outDir/cutout_links").as[CutoutLink]
      val affectedLinks = allLinks.toDF()
        .join(broadcast(affectedSpecIds), col("spec_id") === col("a_spec_id"))
        .drop("a_spec_id")
        .as[CutoutLink]
      val mlNew = MlCube.build(affectedSpectra, affectedLinks, images)

      // surviving rows of the affected buckets (unaffected targets) +
      // the re-stacked rows
      val oldMl = spark.read.parquet(s"$outDir/ml_cube")
        .join(broadcast(affectedBuckets), Seq("bucket"), "left_semi")
        .join(broadcast(affected),
          col("target_healpix") === col("affected_healpix"), "left_anti")
      // materialization BARRIER: the dynamic overwrite below deletes
      // partition files this plan reads, so the union is pinned with
      // localCheckpoint — the write job's plan becomes a scan of already-
      // materialized blocks with its file lineage cut. (cache() was not a
      // barrier: an evicted block would recompute mid-write and re-read
      // files the overwrite is deleting.)
      val mlRewrite = oldMl.unionByName(
        mlNew.toDF().withColumn("bucket", shiftright(col("target_healpix"), BucketShift)))
        .localCheckpoint()
      require(!mlRewrite.queryExecution.executedPlan.toString.contains("ml_cube"),
        "ml_cube rewrite plan must not read the path being overwritten")
      // the writer option scopes the overwrite to the written (zoom,
      // bucket) partitions without touching the session's conf
      Ingest.writeCounted(mlRewrite)(
        _.write.mode(SaveMode.Overwrite).option("partitionOverwriteMode", "dynamic")
          .partitionBy("zoom", "bucket").parquet(s"$outDir/ml_cube"))
    }

    // 6. viz rows are per-observation → append, for incoming spectra
    // whose samples are not in the viz cube yet (their cutout-pixel rows
    // ride along, rebuilt from the links table — which step 2 completed)
    val vizNames = spark.read.parquet(s"$outDir/viz_cube")
      .where(col("zoom") === 0).select(col("fits_name").as("viz_name")).distinct()
    val vizSpecs = incoming.toDF()
      .join(vizNames, col("fits_name") === col("viz_name"), "left_anti")
      .as[SpectrumObs]
    val vizSpecIds = vizSpecs.toDF().where(col("zoom") === 0)
      .select(col("spec_id").as("v_spec_id")).distinct()
    val vizLinks = spark.read.parquet(s"$outDir/cutout_links")
      .join(broadcast(vizSpecIds), col("spec_id") === col("v_spec_id"))
      .drop("v_spec_id")
      .as[CutoutLink]
    // cached: the range partitioner's sampling job would otherwise run
    // the viz flatten a second time
    val vizNew = VizCube.build(vizSpecs, vizLinks, images).cache()
    val vizCount = Ingest.writeCounted(vizNew.toDF()
      .repartitionByRange(col("zoom"), col("heal_id"))
      .sortWithinPartitions("zoom", "heal_id"))(
      _.write.mode(SaveMode.Append).partitionBy("zoom").parquet(s"$outDir/viz_cube"))

    Seq(incoming, affected, vizNew).foreach(_.unpersist())
    UpdateSummary(nNewSpectra, nNewLinks, nAffected, mlRowCount, vizCount)
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
