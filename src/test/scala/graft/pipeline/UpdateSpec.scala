package graft.pipeline

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.{JobCounter, ListenerBusDrain}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Attribute, DynamicPruning, EqualTo, Expression, In, InSet, Literal}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** Incremental update parity (`hisscube.py update` semantics): build a
  * cube from a subset of spectra, update with one more spectrum of an
  * EXISTING target, and require every table to equal a from-scratch
  * rebuild over the full input — including the re-stacked ML rows. */
class UpdateSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  // synthetic CCD gain/dark-variance tables; no assertion reads their values
  lazy val ccdConfig: String = {
    val dir = graft.TempDirs.create("update-ccd").toString
    FitsFixtures.writeCcdConfig(dir)
    dir
  }

  def writeFixtures(): (Path, Path, Path) = {
    val dir = graft.TempDirs.create("update")
    val specAll = dir.resolve("spectra_all"); Files.createDirectories(specAll)
    val specInit = dir.resolve("spectra_init"); Files.createDirectories(specInit)
    val specNew = dir.resolve("spectra_new"); Files.createDirectories(specNew)
    val imgDir = dir.resolve("images"); Files.createDirectories(imgDir)

    val (loglam, flux, ivar) = FitsFixtures.specGrid()
    // target A: two spectra in one order-15 cell; the second arrives as
    // the update. target B: one spectrum, untouched by the update.
    def spec(d: Path, name: String, ra: Double, dec: Double, p: Int, m: Int, f: Int): Unit =
      FitsFixtures.writeSpectrum(d.resolve(name).toString, ra, dec, p, m, f, loglam, flux, ivar)
    spec(specAll, "spec-1001-53000-0001.fits", 150.0, 2.0, 1001, 53000, 1)
    spec(specInit, "spec-1001-53000-0001.fits", 150.0, 2.0, 1001, 53000, 1)
    spec(specAll, "spec-1001-53050-0002.fits", 150.0 + 0.2 / 3600, 2.0, 1001, 53050, 2)
    spec(specNew, "spec-1001-53050-0002.fits", 150.0 + 0.2 / 3600, 2.0, 1001, 53050, 2)
    spec(specAll, "spec-1002-53100-0003.fits", 150.2, 2.1, 1002, 53100, 3)
    spec(specInit, "spec-1002-53100-0003.fits", 150.2, 2.1, 1002, 53100, 3)

    var run = 3000
    for (band <- Seq("u", "g", "r", "i", "z"); (ra, dec) <- Seq((150.0, 2.0), (150.2, 2.1))) {
      FitsFixtures.writeFrame(
        imgDir.resolve(f"frame-$band-$run%06d-3-0001.fits").toString,
        band, run, 3, 1, 512, 372, ra, dec)
      run += 1
    }
    (dir, specInit, specNew)
  }

  def tbl(out: String, name: String) = spark.read.parquet(s"$out/$name")

  /** Every table of the cube at `outInc` equals the from-scratch rebuild
    * at `outFull`. */
  def assertSameAsRebuild(outInc: String, outFull: String): Unit = {
    import spark.implicits._
    // spectra + links: identical row multisets
    assert(tbl(outInc, "spectra").count() == tbl(outFull, "spectra").count())
    val linkCols = Seq("zoom", "spec_id", "image_id", "band", "x_min", "x_max", "y_min", "y_max")
    val li = tbl(outInc, "cutout_links").select(linkCols.map(col): _*).collect().map(_.toSeq).sortBy(_.mkString("|"))
    val lf = tbl(outFull, "cutout_links").select(linkCols.map(col): _*).collect().map(_.toSeq).sortBy(_.mkString("|"))
    assert(li.length == lf.length && li.zip(lf).forall(p => p._1 == p._2))

    // ml cube: same targets, same stack values (incremental re-stack of
    // target A over both spectra must equal the from-scratch stack)
    def mlKey(out: String) = tbl(out, "ml_cube")
      .select($"zoom", $"target_healpix", $"n_spectra",
        round(aggregate(transform($"spec_flux", _.cast("double")),
          lit(0.0), (a, x) => a + when(isnan(x), 0.0).otherwise(x)), 6).as("flux_sum"),
        aggregate(transform($"spec_flux", x => isnan(x).cast("int")),
          lit(0), (a, x) => a + x).as("n_nan"),
        size($"cutouts").as("n_bands"))
      .collect().map(_.toSeq).sortBy(_.mkString("|"))
    val mi = mlKey(outInc)
    val mf = mlKey(outFull)
    assert(mi.length == mf.length, s"${mi.length} vs ${mf.length}")
    mi.zip(mf).foreach { case (a, b) => assert(a == b, s"$a vs $b") }
    // target A now stacks 2 spectra in both cubes
    assert(tbl(outInc, "ml_cube").where($"n_spectra" === 2).count() == 5)

    // viz cube: identical row counts per zoom
    val vi = tbl(outInc, "viz_cube").groupBy("zoom").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val vf = tbl(outFull, "viz_cube").groupBy("zoom").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(vi == vf)
  }

  test("update(one new spectrum) equals a from-scratch rebuild on every table") {
    import spark.implicits._
    val (dir, specInit, specNew) = writeFixtures()
    val cfg = ccdConfig
    val outInc = dir.resolve("cube_incremental").toString
    val outFull = dir.resolve("cube_full").toString

    // incremental: build on the subset, then update with the new spectrum
    BuildCube.build(spark, specInit.toString, dir.resolve("images").toString, cfg, outInc)
    val vizBefore = tbl(outInc, "viz_cube").count()
    val overwriteMode = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    val s = UpdateCube.update(spark, outInc, specNew.toString)
    assert(s.newSpectra == 5) // 1 spectrum × 5 zooms
    assert(s.affectedTargets == 1) // only target A re-stacked
    assert(s.newLinks == 25) // 5 bands × 5 zooms
    // the summary's row counts are the rows the update wrote
    val vizGrowth = tbl(outInc, "viz_cube").count() - vizBefore
    assert(vizGrowth > 0 && s.vizRowsAppended == vizGrowth, s"${s.vizRowsAppended} vs $vizGrowth")
    val rewrittenBuckets = Ingest.spectra(spark, specNew.toString).where($"zoom" === 0)
      .select(shiftright($"healpix", UpdateCube.BucketShift).as("bucket")).distinct()
    val inRewritten = tbl(outInc, "ml_cube").join(rewrittenBuckets, "bucket").count()
    assert(inRewritten > 0 && s.mlRowsRewritten == inRewritten, s"${s.mlRowsRewritten} vs $inRewritten")
    // the dynamic overwrite leaves the session's conf as it found it
    assert(spark.conf.getOption("spark.sql.sources.partitionOverwriteMode") == overwriteMode)

    // reference: one-shot build over the full input
    BuildCube.build(spark, dir.resolve("spectra_all").toString,
      dir.resolve("images").toString, cfg, outFull)

    assertSameAsRebuild(outInc, outFull)
  }

  test("re-running a completed update is a no-op (convergent retry)") {
    import spark.implicits._
    val (dir, specInit, specNew) = writeFixtures()
    val out = dir.resolve("cube_rerun").toString
    BuildCube.build(spark, specInit.toString, dir.resolve("images").toString,
      ccdConfig, out)
    val s1 = UpdateCube.update(spark, out, specNew.toString)
    assert(s1.newSpectra == 5 && s1.affectedTargets == 1)
    def snapshot() = Seq("spectra", "cutout_links", "ml_cube", "viz_cube")
      .map(t => t -> spark.read.parquet(s"$out/$t").count()).toMap
    val before = snapshot()
    // the same batch again: every per-table missing-work set is empty
    val s2 = UpdateCube.update(spark, out, specNew.toString)
    assert(s2 == UpdateCube.UpdateSummary(0, 0, 0, 0, 0), s2.toString)
    assert(snapshot() == before)
    // ml stacks unchanged: target A still a 2-spectrum stack at all zooms
    assert(spark.read.parquet(s"$out/ml_cube").where($"n_spectra" === 2).count() == 5)
  }

  /** Copy the directory tree at `from` to `to`. */
  def copyTree(from: Path, to: Path): Unit =
    Files.walk(from).iterator().asScala.foreach { f =>
      val t = to.resolve(from.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(t) else Files.copy(f, t)
    }

  test("a crash after any of the first three writes converges to the rebuild on retry") {
    val (dir, specInit, specNew) = writeFixtures()
    val images = dir.resolve("images").toString
    val pre = dir.resolve("cube_pre")
    BuildCube.build(spark, specInit.toString, images, ccdConfig, pre.toString)
    val post = dir.resolve("cube_post")
    copyTree(pre, post)
    val full = UpdateCube.update(spark, post.toString, specNew.toString)
    val outFull = dir.resolve("cube_full").toString
    BuildCube.build(spark, dir.resolve("spectra_all").toString, images, ccdConfig, outFull)
    // the update's writes in order: spectra, links, ml_cube, then viz.
    // The state after a crash following write k is the pre-update cube
    // with the first k tables as the completed update left them. (A crash
    // inside the ml_cube dynamic overwrite is not modelled.)
    val order = Seq("spectra", "cutout_links", "ml_cube")
    for (k <- 1 to 3) {
      val crashed = dir.resolve(s"cube_crash_$k")
      copyTree(pre, crashed)
      order.take(k).foreach { t =>
        Files.walk(crashed.resolve(t)).iterator().asScala.toSeq.reverse.foreach(Files.delete)
        copyTree(post.resolve(t), crashed.resolve(t))
      }
      val s = UpdateCube.update(spark, crashed.toString, specNew.toString)
      // the retry does exactly the writes the crash left undone
      assert(s == UpdateCube.UpdateSummary(0,
        if (k >= 2) 0 else full.newLinks,
        if (k >= 3) 0 else full.affectedTargets,
        if (k >= 3) 0 else full.mlRowsRewritten,
        full.vizRowsAppended), s"k=$k: $s vs $full")
      assertSameAsRebuild(crashed.toString, outFull)
    }
  }

  test("update with a spectrum of a NEW target creates its ML rows in place") {
    import spark.implicits._
    val (dir, _, _) = writeFixtures()
    // build with only target A's first spectrum; target B's frames exist
    val specA = dir.resolve("spectra_only_a"); Files.createDirectories(specA)
    val specB = dir.resolve("spectra_only_b"); Files.createDirectories(specB)
    val (loglam, flux, ivar) = FitsFixtures.specGrid()
    FitsFixtures.writeSpectrum(specA.resolve("spec-1001-53000-0001.fits").toString,
      150.0, 2.0, 1001, 53000, 1, loglam, flux, ivar)
    FitsFixtures.writeSpectrum(specB.resolve("spec-1002-53100-0003.fits").toString,
      150.2, 2.1, 1002, 53100, 3, loglam, flux, ivar)
    val out = dir.resolve("cube_newtarget").toString
    BuildCube.build(spark, specA.toString, dir.resolve("images").toString,
      ccdConfig, out)
    val targetsBefore = spark.read.parquet(s"$out/ml_cube")
      .select("target_healpix").distinct().count()
    assert(targetsBefore == 1)
    val s = UpdateCube.update(spark, out, specB.toString)
    assert(s.affectedTargets == 1 && s.newLinks == 25)
    val ml = spark.read.parquet(s"$out/ml_cube")
    assert(ml.select("target_healpix").distinct().count() == 2)
    // both targets complete: 5 zooms × 5 bands each, single-spectrum stacks
    assert(ml.count() == 2 * 5)
    assert(ml.where($"n_spectra" === 1).count() == 10)
  }

  test("streaming update: foreachBatch drives the same incremental re-stack") {
    import spark.implicits._
    val (dir, specInit, specNew) = writeFixtures()
    val out = dir.resolve("cube_streamed").toString
    BuildCube.build(spark, specInit.toString, dir.resolve("images").toString,
      ccdConfig, out)
    // before: target A is a 1-spectrum stack
    assert(spark.read.parquet(s"$out/ml_cube").where($"n_spectra" === 2).count() == 0)
    graft.streaming.ObservationStream.updateStream(spark, specNew.toString, out)
    // after: the streamed micro-batch re-stacked target A at every zoom
    assert(spark.read.parquet(s"$out/ml_cube").where($"n_spectra" === 2).count() == 5)
    assert(spark.read.parquet(s"$out/spectra").count() == 3 * 5)
    assert(spark.read.parquet(s"$out/cutout_links").count() == 3 * 25)
  }

  /** Spark jobs one `UpdateCube.update` may run on the one-new-spectrum
    * fixture (local[8], 8 shuffle partitions): the count measured with
    * the control sets collected up front. Job count, not bytes, is
    * what an update of this size pays for, so a rise here is a new
    * per-step action or exchange. */
  val UpdateJobCeiling = 25

  /** Every physical node of `p`, through adaptive plans, query stages,
    * reused exchanges, subqueries and cached relations. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case r: ReusedExchangeExec => nodes(r.child)
    case m: InMemoryTableScanExec => nodes(m.relation.cachedPlan)
    case o => (o.children ++ o.subqueries).flatMap(nodes)
  })

  def scansOf(p: SparkPlan, table: String): Seq[FileSourceScanExec] = nodes(p).collect {
    case f: FileSourceScanExec if f.relation.location.rootPaths.exists(_.getName == table) => f
  }

  /** A filter that bounds a scan by literal keys: `IN`, `InSet` or `=`
    * against literals, on a column other than `zoom`, with no dynamic
    * pruning subquery in it. */
  def literalKeyFilter(e: Expression): Boolean =
    !e.exists(_.isInstanceOf[DynamicPruning]) && (e match {
      case In(a: Attribute, list) => a.name != "zoom" && list.forall(_.foldable)
      case InSet(a: Attribute, _) => a.name != "zoom"
      case EqualTo(a: Attribute, _: Literal) => a.name != "zoom"
      case _ => false
    })

  test("update stays within its job budget, prunes ml_cube by bucket, broadcasts no unbounded table") {
    val (dir, specInit, specNew) = writeFixtures()
    val out = dir.resolve("cube_budget").toString
    BuildCube.build(spark, specInit.toString, dir.resolve("images").toString, ccdConfig, out)
    ListenerBusDrain(spark.sparkContext)
    val plans = new ConcurrentLinkedQueue[(String, SparkPlan)]()
    val planCollector = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        plans.add(funcName -> qe.executedPlan); ()
      }
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val jobs = JobCounter.start(spark.sparkContext)
    spark.listenerManager.register(planCollector)
    val s = try UpdateCube.update(spark, out, specNew.toString) finally {
      jobs.stop() // drains the bus, so planCollector has every plan too
      spark.listenerManager.unregister(planCollector)
    }
    assert(s.newSpectra == 5 && s.affectedTargets == 1)
    assert(jobs.count() <= UpdateJobCeiling, s"update ran ${jobs.count()} jobs")

    // the rows surviving the ml_cube rewrite are read from literal buckets
    val executed = plans.asScala.toSeq
    val rewriteScans = executed.filter(_._1 == "localCheckpoint").flatMap(p => scansOf(p._2, "ml_cube"))
    assert(rewriteScans.nonEmpty, executed.map(_._1).mkString(", "))
    rewriteScans.foreach { f =>
      assert(f.partitionFilters.exists(e => literalKeyFilter(e) && e.references.exists(_.name == "bucket")),
        s"ml_cube rewrite scan without a literal bucket filter: ${f.partitionFilters}")
    }
    // every table scan on a broadcast build side is bounded by literal keys
    for {
      (name, p) <- executed
      b <- nodes(p).collect { case b: BroadcastExchangeExec => b }
      t <- Seq("spectra", "cutout_links", "ml_cube")
      f <- scansOf(b, t)
    } assert((f.dataFilters ++ f.partitionFilters).exists(literalKeyFilter),
      s"$name broadcasts an unbounded $t scan: ${f.dataFilters ++ f.partitionFilters}")
  }

  test("a batch mixing an applied and a new spectrum appends and re-stacks only the new one") {
    import spark.implicits._
    val (dir, specInit, specNew) = writeFixtures()
    val images = dir.resolve("images").toString
    // target C: a new order-15 cell inside target B's frames
    val (loglam, flux, ivar) = FitsFixtures.specGrid()
    val (raC, decC) = (150.2 + 30.0 / 3600, 2.1)
    assert(graft.functions.Healpix.ang2pixLonLat(Ingest.SpecHealOrder, raC, decC) !=
      graft.functions.Healpix.ang2pixLonLat(Ingest.SpecHealOrder, 150.2, 2.1))
    val specMixed = dir.resolve("spectra_mixed"); Files.createDirectories(specMixed)
    copyTree(specNew, specMixed)
    Seq(dir.resolve("spectra_all"), specMixed).foreach(d => FitsFixtures.writeSpectrum(
      d.resolve("spec-1003-53200-0004.fits").toString, raC, decC, 1003, 53200, 4, loglam, flux, ivar))

    val out = dir.resolve("cube_mixed").toString
    BuildCube.build(spark, specInit.toString, images, ccdConfig, out)
    UpdateCube.update(spark, out, specNew.toString)
    def counts() = Seq("spectra", "cutout_links", "viz_cube")
      .map(t => t -> tbl(out, t).count()).toMap
    // viz sample rows per spectrum (a cutout row carries its frame's name)
    def specVizRows() = tbl(out, "viz_cube").where($"fits_name".startsWith("spec-"))
      .groupBy("fits_name").count().as[(String, Long)].collect().toMap
    val (before, vizBefore) = (counts(), specVizRows())
    val s = UpdateCube.update(spark, out, specMixed.toString)
    assert(s.newSpectra == 5 && s.newLinks == 25 && s.affectedTargets == 1, s.toString)
    // only the new spectrum's rows, links and viz rows were appended
    val (after, vizAfter) = (counts(), specVizRows())
    assert(after("spectra") - before("spectra") == 5)
    assert(after("cutout_links") - before("cutout_links") == 25)
    assert(after("viz_cube") - before("viz_cube") == s.vizRowsAppended)
    val newName = "spec-1003-53200-0004.fits"
    assert(vizAfter.getOrElse(newName, 0L) > 0 && vizAfter - newName == vizBefore,
      s"$vizBefore -> $vizAfter")

    val outFull = dir.resolve("cube_full").toString
    BuildCube.build(spark, dir.resolve("spectra_all").toString, images, ccdConfig, outFull)
    assertSameAsRebuild(out, outFull)
  }
}
