package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{Dataset, SaveMode}
import org.apache.spark.sql.functions._

import graft.functions.Healpix
import graft.pipeline._
import graft.sources.{Export, SdssFits}

/** `cube_build` and `cube_update`: the paper's own job on seeded
  * synthetic FITS, timed through the public `graft.pipeline` and
  * `graft.sources` calls. */
object CubeWorkloads {

  /** Sized so that one warm job (build, update, read) takes about 20 s
    * on a 4-core host: the benchmark's whole run budget is fixed. */
  val Size: CubeFixtures.Size = CubeFixtures.Size(targets = 3, spectra = 18, width = 128, height = 96)
  val UpdateSpectra = 6
  val SetupReps = 3
  /** Timed jobs per run at least: each part counts its fastest rep, so a
    * host hiccup in one rep does not set the run's figure. */
  val MinReps = 2
  val Tables: Seq[String] = Seq("spectra", "images", "cutout_links", "ml_cube", "viz_cube")
  val SpecZooms: Seq[Int] = 0 to Ingest.SpecZoomCnt
  val ImgZooms: Seq[Int] = 0 to Ingest.ImgZoomCnt
  /** Probes per zoom on the viz read path, and probe targets for top-k. */
  val VizProbesPerZoom = 1
  val SimilarProbes = 3
  val SimilarK = 3
  val ExportZoom = 1

  private def files(dir: Path): Seq[Path] =
    Files.list(dir).iterator().asScala.toSeq.sortBy(_.toString)

  /** Samples per zoom of one spectrum, decoded single-threaded on the
    * driver — independent of the Spark path under test. */
  def spectrumSamples(specDir: Path): IndexedSeq[Int] = {
    val f = files(specDir).head
    SdssFits.loadSpectrum(Files.readAllBytes(f), f.toString, Ingest.SpecZoomCnt)
      .pyramid.map(_._1.length).toIndexedSeq
  }

  /** Exact rows per (table, zoom). Targets lie far apart and every
    * spectrum sits at its target's frame centre, so each spectrum links
    * to exactly its own five frames at every image zoom, and every link
    * fans out to a whole (64 / 2^zoom)² cutout in the viz cube. */
  def expectedRows(s: CubeFixtures.Survey, samples: IndexedSeq[Int]): Map[(String, Int), Long] = {
    val nSpec = s.spectra.toLong
    val nT = s.targets.size.toLong
    val bands = CubeFixtures.Bands.size.toLong
    def pix(z: Int) = { val c = Link.CutoutSize >> z; c.toLong * c }
    val spec = SpecZooms.map(z => ("spectra", z) -> nSpec)
    val img = ImgZooms.map(z => ("images", z) -> nT * bands)
    val links = ImgZooms.map(z => ("cutout_links", z) -> nSpec * bands)
    val ml = SpecZooms.intersect(ImgZooms).map(z => ("ml_cube", z) -> nT)
    val viz = SpecZooms.map(z => ("viz_cube", z) -> (nSpec * samples(z) + nSpec * bands * pix(z)))
    (spec ++ img ++ links ++ ml ++ viz).toMap
  }

  def observedRows(ctx: Ctx, cube: Path): Map[(String, Int), Long] =
    Tables.flatMap { t =>
      ctx.spark.read.parquet(cube.resolve(t).toString).groupBy("zoom").count().collect()
        .map(r => (t, r.getInt(0)) -> r.getLong(1))
    }.toMap

  /** Every output check on a written cube: row counts, link cap, band
    * completeness, stack sizes and an IVW recomputation for a seeded
    * target. */
  def checkCube(ctx: Ctx, cube: Path, s: CubeFixtures.Survey, samples: IndexedSeq[Int]): Seq[String] = {
    val spark = ctx.spark
    def read(t: String) = spark.read.parquet(cube.resolve(t).toString)
    val counts = Checks.rowCounts(expectedRows(s, samples), observedRows(ctx, cube))
    val maxLinks = read("cutout_links").groupBy("spec_id", "zoom").count()
      .agg(max("count")).head().getLong(0)
    // one read of the zoom-0 stacks serves stack sizes and IVW
    val ml0 = read("ml_cube").where(col("zoom") === 0)
      .select(col("target_healpix"), col("n_spectra"), col("spec_flux")).collect()
      .map(r => r.getLong(0) -> r).toMap
    val bands = read("ml_cube").select(col("cutouts.band")).collect().map(_.getSeq[String](0)).toSeq
    val hp = s.targets.map(t => Healpix.ang2pixLonLat(Ingest.SpecHealOrder, t.ra, t.dec))
    val nSpec = s.targets.indices.flatMap { t =>
      val got = ml0.get(hp(t)).map(_.getInt(1))
      if (got.contains(s.perTarget(t))) None
      else Some(s"ml_cube target ${hp(t)}: n_spectra $got, expected ${s.perTarget(t)}")
    }
    // IVW recomputation for one seeded target, from the stored spectra
    val t = new Random(ctx.seed + 17).nextInt(s.targets.size)
    val rows = read("spectra").where(col("zoom") === 0 && col("healpix") === hp(t))
      .select("flux", "sigma").collect()
    val ivw = ml0.get(hp(t)).toSeq.flatMap { r =>
      Checks.ivw(hp(t), Checks.ivwMean(rows.map(_.getSeq[Float](0).toArray).toSeq,
        rows.map(_.getSeq[Float](1).toArray).toSeq), r.getSeq[Float](2).toArray)
    }
    counts ++ Checks.linkCap(maxLinks) ++ Checks.bandComplete(bands) ++ nSpec ++ ivw
  }

  private def fixtureDirs(root: Path) =
    (root.resolve("spectra").toString, root.resolve("images").toString, root.resolve("ccd").toString)

  /** Everything the workload needs on disk: the survey, the update
    * batch and the CCD tables. */
  private def writeInputs(dir: Path, seed: Long, size: CubeFixtures.Size,
      base: CubeFixtures.Survey, batch: CubeFixtures.Survey): Unit = {
    CubeFixtures.write(dir, seed, size, base)
    CubeFixtures.write(dir.resolve("new"), seed, size, batch, plateBase = 6000, withImages = false)
  }

  /** Build, update and read one cube: returns the three timed parts. */
  private def job(ctx: Ctx, fx: Path, cube: Path, p: Probes, exportDir: Path)
      : (Timed[BuildCube.Summary], Timed[UpdateCube.UpdateSummary], Reads) = {
    val (specDir, imgDir, ccdDir) = fixtureDirs(fx)
    Ctx.rm(cube)
    // each part starts from a collected heap, so that dead shuffle and
    // broadcast state of the part before is not reaped inside it
    System.gc()
    val b = ctx.trace("build")(BuildCube.build(ctx.spark, specDir, imgDir, ccdDir, cube.toString))
    System.gc()
    val u = ctx.trace("update")(
      UpdateCube.update(ctx.spark, cube.toString, fx.resolve("new/spectra").toString))
    System.gc()
    (b, u, readPath(ctx, cube, p, exportDir))
  }

  /** The `cube` workload. One rep is the paper's whole job on seeded
    * synthetic FITS: `BuildCube.build` from FITS to the five written
    * tables, `UpdateCube.update` with a seeded batch of repeat spectra
    * for about half the targets, then the read path over the updated
    * cube. */
  def cube(ctx: Ctx, out: Outcome, size: CubeFixtures.Size, nNew: Int = UpdateSpectra): Unit = {
    val base = CubeFixtures.plan(ctx.seed, size)
    val batch = CubeFixtures.updatePlan(ctx.seed, base, nNew)
    val setup = (1 to SetupReps).map { _ =>
      val t0 = System.nanoTime()
      val dir = ctx.fresh("fixtures")
      writeInputs(dir, ctx.seed, size, base, batch)
      val d = CubeFixtures.digest(dir)
      ((System.nanoTime() - t0) / 1e9, d)
    }
    out.setupS = Ctx.median(setup.map(_._1))
    out.notes += s"fixture_digest ${setup.head._2}"
    val digestProblems =
      if (setup.map(_._2).distinct.size == 1) Nil else Seq("fixture tree differs between set-ups")
    val fx = ctx.work.resolve("fixtures")
    val samples = spectrumSamples(fx.resolve("spectra"))
    val merged = CubeFixtures.Survey(base.targets,
      base.perTarget.zip(batch.perTarget).map { case (a, b) => a + b })
    def total(s: CubeFixtures.Survey, t: String) =
      expectedRows(s, samples).collect { case ((`t`, _), n) => n }.sum
    val touched = batch.perTarget.count(_ > 0).toLong
    val newSpectra = batch.spectra.toLong * SpecZooms.size
    val p = probes(ctx.seed, base)
    val cube = ctx.work.resolve("cube")
    val exportDir = ctx.work.resolve("export")
    val vizAtExportZoom = expectedRows(merged, samples)(("viz_cube", ExportZoom))

    // one untimed job on a tiny survey first: the first job in a JVM also
    // pays for class loading, code generation and JIT, which the plans of
    // later jobs reuse whatever their size
    val warm = System.nanoTime()
    val tiny = CubeFixtures.Size(targets = 2, spectra = 4, width = 128, height = 96)
    val tinyBase = CubeFixtures.plan(ctx.seed, tiny)
    val wd = ctx.fresh("warm-up")
    writeInputs(wd, ctx.seed, tiny, tinyBase, CubeFixtures.updatePlan(ctx.seed, tinyBase, 2))
    job(ctx, wd, wd.resolve("cube"), probes(ctx.seed, tinyBase), wd.resolve("export"))
    Ctx.rm(wd)
    val warmS = (System.nanoTime() - warm) / 1e9
    out.notes += setup.map(t => f"${t._1}%.3f").mkString("fixture_setup_s ", " ", "") + f" warm_up_s $warmS%.3f"
    out.setupS += warmS

    val times = ArrayBuffer.empty[(Double, Double, Double)]
    var last: (Timed[BuildCube.Summary], Timed[UpdateCube.UpdateSummary], Reads) = null
    ctx.measure(ctx.seconds, MinReps) { rep =>
      ctx.trace.newTrace(s"job-$rep")
      val (b, u, r) = ctx.pinned(out)(job(ctx, fx, cube, p, exportDir))
      times += ((b.seconds, u.seconds, r.seconds))
      out.notes += f"rep $rep build_s ${b.seconds}%.3f update_s ${u.seconds}%.3f read_s ${r.seconds}%.3f"
      last = (b, u, r)
      val s = b.value
      val got = Seq(s.spectra, s.images, s.links, s.mlRows, s.vizRows)
      val want = Tables.map(total(base, _))
      val built = if (got == want) Nil else Seq(s"build summary $got, expected $want")
      val updated = if (u.value.affectedTargets == touched && u.value.newSpectra == newSpectra) Nil
        else Seq(s"update summary ${u.value}, expected $touched targets and $newSpectra spectrum rows")
      out.op((if (rep == 0) digestProblems else Nil) ++ built ++ updated ++
        checkReads(r, merged, vizAtExportZoom, exportDir))
    }
    // each part counts its fastest rep, as a query does in query_mix
    val (buildS, updateS, readS) = (times.map(_._1).min, times.map(_._2).min, times.map(_._3).min)
    out.opS = buildS + updateS + readS
    out.notes += f"build_s $buildS%.4f update_s $updateS%.4f read_s $readS%.4f reps ${times.size}"
    out.failLast(checkCube(ctx, cube, merged, samples))
    if (ctx.trace.traced) {
      layerMetrics(out, last._2, last._3, CubeFixtures.totalBytes(fx.resolve("new")), vizAtExportZoom)
      // the phase-by-phase build runs warm, so its overhead is taken
      // against warm whole builds, one just before it and one just after
      val (specDir, imgDir, ccdDir) = fixtureDirs(fx)
      def whole() = {
        Ctx.rm(cube)
        ctx.trace("build_warm")(BuildCube.build(ctx.spark, specDir, imgDir, ccdDir, cube.toString))
      }
      val before = whole()
      val phasedCube = ctx.work.resolve("cube-traced")
      val phased = tracedBuild(ctx, out, fx, phasedCube)
      val after = whole()
      out.put(Metric("build.trace_overhead_s", phased.seconds - (before.seconds + after.seconds) / 2, "s"))
      // the phases copy BuildCube.build's body, so they must write what it
      // writes; a change to the build that they miss fails the run
      val s = after.value
      out.op(Checks.sameBuild(Seq(s.spectra, s.images, s.links, s.mlRows, s.vizRows), phased.value,
        observedRows(ctx, cube), observedRows(ctx, phasedCube), partitionDirs(cube), partitionDirs(phasedCube)))
    }
  }

  private def partitionDirs(root: Path): Set[String] =
    Files.walk(root).iterator().asScala.filter(Files.isDirectory(_)).map(root.relativize(_).toString).toSet

  /** The phases of `BuildCube.build`, in its order, each a span: a copy
    * of its body, which must change with it. Each phase materializes what
    * it caches or writes in full. Returns the whole phased build, timed,
    * with its row counts in the order of `BuildCube.Summary`. */
  private def tracedBuild(ctx: Ctx, out: Outcome, fx: Path, cube: Path): Timed[Seq[Long]] = {
    val spark = ctx.spark
    val tr = ctx.trace
    val (specDir, imgDir, ccdDir) = fixtureDirs(fx)
    Ctx.rm(cube)
    tr.newTrace("build-traced")
    val rows = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    val phases = ArrayBuffer.empty[(String, Timed[Unit])]
    def phase(name: String)(body: => Unit): Unit = phases += name -> tr(name)(body)
    var cached: Seq[Dataset[_]] = Nil
    val whole = tr("build_traced") {
      val spectra = Ingest.spectra(spark, specDir).cache()
      // building a cache computes every column of every row, so the count
      // that triggers it is a full materialization
      phase("ingest_spectra") { rows("ingest_spectra") = spectra.count() }
      val images = Ingest.images(spark, imgDir, ccdDir).cache()
      phase("ingest_images") { rows("ingest_images") = images.count() }
      phase("ingest_write") {
        Ingest.writeSorted(spectra, cube.resolve("spectra").toString)
        Ingest.writeSorted(images, cube.resolve("images").toString)
      }
      rows("ingest_write") = rows("ingest_spectra") + rows("ingest_images")
      val links = Link.linkCutouts(spectra, images).cache()
      phase("link") {
        links.toDF().write.mode(SaveMode.Overwrite).partitionBy("zoom")
          .parquet(cube.resolve("cutout_links").toString)
      }
      val ml = MlCube.build(spectra, links, images).cache()
      phase("ml") {
        ml.toDF().withColumn("bucket", shiftright(col("target_healpix"), UpdateCube.BucketShift))
          .write.mode(SaveMode.Overwrite).partitionBy("zoom", "bucket")
          .parquet(cube.resolve("ml_cube").toString)
      }
      val viz = VizCube.build(spectra, links, images).cache()
      phase("viz") {
        viz.toDF().repartitionByRange(col("zoom"), col("heal_id"))
          .sortWithinPartitions("zoom", "heal_id")
          .write.mode(SaveMode.Overwrite).partitionBy("zoom")
          .parquet(cube.resolve("viz_cube").toString)
      }
      tr("summary") {
        rows("link") = links.count(); rows("ml") = ml.count(); rows("viz") = viz.count()
      }
      cached = Seq(spectra, images, links, ml, viz)
    }
    phases.foreach { case (name, t) =>
      out.put(Metrics.stats(name, t.seconds, t.counts) :+ Metric(s"$name.rows", rows(name).toDouble, "count"): _*)
    }
    val spectra = cached.head.asInstanceOf[Dataset[SpectrumObs]]
    val images = cached(1).asInstanceOf[Dataset[ImageObs]]
    val stack = tr("ml.spec_stack")(ctx.materialize(MlCube.specStacks(spectra).toDF()))
    // what a `.count()` benchmark of the ML phase sees: Catalyst prunes
    // the stacks the count does not need
    val mlCount = tr("ml.count_only") {
      MlCube.build(spectra, cached(2).asInstanceOf[Dataset[CutoutLink]], images).count()
    }
    val candidates = Link.candidates(spectra, images).count()
    cached.foreach(_.unpersist())
    val viz = phases.find(_._1 == "viz").get._2
    out.put(
      Metric("ml.spec_stack.s", stack.seconds, "s"),
      Metric("ml.count_only_s", mlCount.seconds, "s"),
      Metric("link.candidates_per_link", candidates.toDouble / math.max(1L, rows("link")), "ratio"),
      Metric("viz.rows_per_s", rows("viz") / viz.seconds, "rows/s"),
      Metric("build.spill_mb", Metrics.mb(phases.map(_._2.counts.spillBytes).sum), "MB"))
    out.put(decodeBaseline(fx): _*)
    whole.copy(value = Seq("ingest_spectra", "ingest_images", "link", "ml", "viz").map(rows))
  }

  /** Single-threaded per-file decode on the driver: the plain baseline
    * the distributed ingest is compared with. */
  private def decodeBaseline(fx: Path): Seq[Metric] = {
    def perFile(fs: Seq[Path])(decode: (Array[Byte], String) => Any): Double = {
      val raw = fs.map(f => (Files.readAllBytes(f), f.toString))
      raw.foreach { case (b, p) => decode(b, p) } // JIT warm-up
      Ctx.median(raw.map { case (b, p) =>
        val t0 = System.nanoTime(); decode(b, p); (System.nanoTime() - t0) / 1e6
      })
    }
    val gains = SdssFits.readCcdTsv(fx.resolve("ccd/ccd_gain.tsv").toString)
    val dark = SdssFits.readCcdTsv(fx.resolve("ccd/ccd_dark_variance.tsv").toString)
    Seq(
      Metric("decode.spectrum_ms", perFile(files(fx.resolve("spectra")).take(12))(
        (b, p) => SdssFits.loadSpectrum(b, p, Ingest.SpecZoomCnt)), "ms"),
      Metric("decode.frame_ms", perFile(files(fx.resolve("images")).take(5))(
        (b, p) => SdssFits.loadFrame(b, p, gains, dark, Ingest.ImgZoomCnt)), "ms"))
  }

  /** Seeded probes of the read path: order-13 heal_id cells around
    * seeded targets at each zoom, and seeded top-k probe targets. */
  final case class Probes(viz: Seq[(Int, Long, Long)], similar: Seq[Long])

  def probes(seed: Long, s: CubeFixtures.Survey): Probes = {
    val rnd = new Random(seed + 31)
    val shift = 2 * (VizCube.OutputHealOrder - 13)
    val viz = for {
      z <- SpecZooms
      _ <- 0 until VizProbesPerZoom
    } yield {
      val t = s.targets(rnd.nextInt(s.targets.size))
      val lo = (Healpix.ang2pixLonLat(VizCube.OutputHealOrder, t.ra, t.dec) >> shift) << shift
      (z, lo, lo + (1L << shift) - 1)
    }
    val similar = rnd.shuffle(s.targets.toList).take(SimilarProbes)
      .map(t => Healpix.ang2pixLonLat(Ingest.SpecHealOrder, t.ra, t.dec))
    Probes(viz, similar)
  }

  final case class Reads(viz: Timed[Long], ml: Timed[Long], similar: Timed[Seq[(Long, Seq[(Long, Double)])]],
      export: Timed[Unit]) {
    def seconds: Double = viz.seconds + ml.seconds + similar.seconds + export.seconds
  }

  /** The read path over a stored cube; every call collects or writes its
    * full output. */
  def readPath(ctx: Ctx, cube: Path, p: Probes, exportDir: Path): Reads = {
    val spark = ctx.spark
    import spark.implicits._
    val tr = ctx.trace
    val viz = tr("read_viz") {
      p.viz.map { case (z, lo, hi) =>
        BuildCube.readVizAtZoom(spark, cube.toString, z)
          .where(col("heal_id").between(lo, hi)).collect().length.toLong
      }.sum
    }
    val ml = tr("read_ml") {
      SpecZooms.map(z => BuildCube.readMlAtZoom(spark, cube.toString, z).collect().length.toLong).sum
    }
    val similar = tr("read_similar") {
      val stored = spark.read.parquet(cube.resolve("ml_cube").toString).drop("bucket").as[MlCubeRow]
      p.similar.map { probe =>
        probe -> MlCube.similarTargets(stored, probe, 0, SimilarK).collect()
          .map(r => r.getLong(0) -> r.getDouble(1)).toSeq
      }
    }
    Ctx.rm(exportDir)
    val export = tr("export") {
      Export.writeVOTableBinaryPartitioned(
        BuildCube.readVizAtZoom(spark, cube.toString, ExportZoom).as[VizRow],
        exportDir.toString)
    }
    Reads(viz, ml, similar, export)
  }

  def checkReads(r: Reads, s: CubeFixtures.Survey, vizAtExportZoom: Long, exportDir: Path): Seq[String] = {
    val nT = s.targets.size
    val ml = if (r.ml.value == nT.toLong * SpecZooms.size) Nil
      else Seq(s"read_ml rows ${r.ml.value}, expected ${nT * SpecZooms.size}")
    val viz = if (r.viz.value > 0) Nil else Seq("read_viz returned no rows")
    val similar = r.similar.value.flatMap { case (probe, top) =>
      val d = top.map(_._2)
      if (top.size == math.min(SimilarK, nT - 1) && !top.exists(_._1 == probe) && d == d.sorted) None
      else Some(s"similarTargets($probe) returned $top")
    }
    val exported = files(exportDir).filter(_.toString.endsWith(".vot.xml"))
      .map(f => Export.readVOTableBinary(f.toString).size.toLong).sum
    val export = if (exported == vizAtExportZoom) Nil
      else Seq(s"export wrote $exported rows, expected $vizAtExportZoom")
    ml ++ viz ++ similar ++ export
  }

  private def layerMetrics(out: Outcome, u: Timed[UpdateCube.UpdateSummary], r: Reads,
      newBytes: Long, exported: Long): Unit = {
    val c = u.counts
    out.put(Metrics.stats("update", u.seconds, c): _*)
    out.put(
      Metric("update.read_mb", Metrics.mb(c.inputBytes), "MB"),
      Metric("update.written_mb", Metrics.mb(c.outputBytes), "MB"),
      Metric("update.read_per_new_byte", c.inputBytes.toDouble / newBytes, "ratio"))
    val reads = Seq("read_viz" -> (r.viz.seconds, r.viz.counts, r.viz.value),
      "read_ml" -> (r.ml.seconds, r.ml.counts, r.ml.value),
      "read_similar" -> (r.similar.seconds, r.similar.counts, r.similar.value.map(_._2.size.toLong).sum),
      "export" -> (r.export.seconds, r.export.counts, exported))
    reads.foreach { case (name, (s, cs, n)) =>
      out.put(Metric(s"$name.s", s, "s"), Metric(s"$name.jobs", cs.jobs.toDouble, "count"),
        Metric(s"$name.input_mb", Metrics.mb(cs.inputBytes), "MB"), Metric(s"$name.rows", n.toDouble, "count"))
    }
    out.put(Metric("read_viz.scanned_per_returned",
      r.viz.counts.inputRecords.toDouble / math.max(1L, r.viz.value), "ratio"))
  }
}
