package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** DataSourceV2 packaging of the spectrum reader: row-identical to the
  * binaryFile ingest path, with column pruning reaching the scan. */
class FitsDataSourceSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val Fmt = "graft.sources.fits.FitsDataSource"

  private lazy val dir: String = {
    val d = graft.TempDirs.create("dsv2-spec")
    val (loglam, flux, ivar) = graft.pipeline.FitsFixtures.specGrid()
    for (k <- 0 until 5)
      graft.pipeline.FitsFixtures.writeSpectrum(
        d.resolve(f"spec-4000-5200$k%d-000$k%d.fits").toString,
        30.0 + k, -20.0 + k * 0.5, 4000, 52000 + k, k, loglam, flux, ivar)
    Files.writeString(d.resolve("not-a-spectrum.txt"), "ignore me")
    d.toString
  }

  test("DSv2 read is row-identical to Ingest.spectra") {
    import spark.implicits._
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select($"zoom", $"spec_id", $"fits_name", $"ra", $"dec", $"time",
        $"plateid", $"mjd", $"fiberid", $"healpix", $"wl", $"flux", $"sigma",
        org.apache.spark.sql.functions.to_json(
          org.apache.spark.sql.functions.map_entries($"header")).as("hdr"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getString(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5), r.getLong(6), r.getLong(7), r.getInt(8),
        r.getLong(9),
        // bit-compare the pixel arrays: NaN fills (rebin edges, ivar=0)
        // are value-unequal to themselves under Seq ==
        r.getSeq[Float](10).map(java.lang.Float.floatToIntBits),
        r.getSeq[Float](11).map(java.lang.Float.floatToIntBits),
        r.getSeq[Float](12).map(java.lang.Float.floatToIntBits),
        r.getString(13)))
      .sortBy(t => (t._1, t._2))
      .toSeq
    val dsv2 = canon(spark.read.format(Fmt).load(dir))
    val ingest = canon(graft.pipeline.Ingest.spectra(spark, dir).toDF())
    assert(dsv2.nonEmpty && dsv2.size == 25) // 5 files x 5 zooms
    assert(dsv2 === ingest)
  }

  test("column pruning reaches the DSv2 scan (no pixel arrays for metadata queries)") {
    val df = spark.read.format(Fmt).load(dir).select("ra", "dec", "zoom")
    val scan = df.queryExecution.executedPlan.toString
    val read = "cols=([^ \\n]*)".r.findFirstMatchIn(scan).map(_.group(1))
    assert(read.isDefined && !read.get.contains("flux") && !read.get.contains("wl"),
      s"pruning did not reach the scan:\n$scan")
    assert(df.count() == 25)
  }

  test("zoom equality filter skips pyramid levels at the source") {
    import spark.implicits._
    val df = spark.read.format(Fmt).load(dir).filter($"zoom" === 2)
    assert(df.count() == 5)
    assert(df.select("zoom").distinct().as[Int].collect().toSeq == Seq(2))
  }

  test("zoomCnt option bounds the pyramid depth") {
    val df = spark.read.format(Fmt).option("zoomCnt", "1").load(dir)
    assert(df.count() == 10) // 5 files x (zoom 0, zoom 1)
  }

  test("plate/mjd/fiber equalities prune the spectra listing to fewer partitions") {
    import spark.implicits._
    // dir: spec-4000-5200k-000k.fits, k = 0..4 (plate 4000, mjd 52000+k,
    // fiber k)
    val all = spark.read.format(Fmt).load(dir)
    assert(all.rdd.getNumPartitions == 5)
    val byMjd = spark.read.format(Fmt).load(dir).filter($"mjd" === 52002L)
    // the filter reaches the LISTING: one input partition, not a
    // post-scan row filter over all five files
    assert(byMjd.rdd.getNumPartitions == 1,
      s"expected 1 pruned partition, got ${byMjd.rdd.getNumPartitions}")
    assert(byMjd.count() == 5) // 1 file × 5 zooms — rows unchanged
    assert(byMjd.select("fiberid").distinct().as[Int].collect().toSeq == Seq(2))
    val byFiber = spark.read.format(Fmt).load(dir).filter($"fiberid" === 3)
    assert(byFiber.rdd.getNumPartitions == 1)
    assert(byFiber.select("mjd").distinct().as[Long].collect().toSeq == Seq(52003L))
    // plate matches every file — nothing pruned
    val byPlate = spark.read.format(Fmt).load(dir).filter($"plateid" === 4000L)
    assert(byPlate.rdd.getNumPartitions == 5)
    // SOUNDNESS: a spectrum with a NON-canonical name is never pruned
    // away — its triple comes from the header and the residual filter
    // keeps it (same rules as the frame side)
    val d2 = graft.TempDirs.create("dsv2-specprune")
    val (loglam, flux, ivar) = graft.pipeline.FitsFixtures.specGrid()
    graft.pipeline.FitsFixtures.writeSpectrum(
      d2.resolve("spec-4000-52000-0001.fits").toString,
      30.0, -20.0, 4000, 52000, 1, loglam, flux, ivar)
    graft.pipeline.FitsFixtures.writeSpectrum(
      d2.resolve("oddly-named-spectrum.fits").toString,
      31.0, -20.0, 4000, 52000, 2, loglam, flux, ivar)
    // embedded-canonical: the anchored regex must not parse the inner
    // 'spec-9999-99999-0003' of a copy-of- name (header says mjd 52000)
    graft.pipeline.FitsFixtures.writeSpectrum(
      d2.resolve("copy-of-spec-9999-99999-0003.fits").toString,
      32.0, -20.0, 4000, 52000, 3, loglam, flux, ivar)
    val sound = spark.read.format(Fmt).load(d2.toString)
      .filter($"mjd" === 52000L)
    assert(sound.rdd.getNumPartitions == 3, "non-canonical names pruned away")
    assert(sound.select("fiberid").distinct().as[Int].collect().sorted.toSeq
      == Seq(1, 2, 3))
    // a Long-overflowing numeral in a canonical-looking name must
    // neither crash the listing nor be pruned (header decides)
    graft.pipeline.FitsFixtures.writeSpectrum(
      d2.resolve("spec-4000-123456789012345678901-0004.fits").toString,
      33.0, -20.0, 4000, 52000, 4, loglam, flux, ivar)
    val big = spark.read.format(Fmt).load(d2.toString)
      .filter($"mjd" === 52000L)
    assert(big.select("fiberid").distinct().as[Int].collect().sorted.toSeq
      == Seq(1, 2, 3, 4), "oversized numeral crashed or pruned the listing")
  }

  private lazy val imgDir: String = {
    val d = graft.TempDirs.create("dsv2-img")
    for ((band, k) <- Seq("r", "g").zipWithIndex)
      graft.pipeline.FitsFixtures.writeFrame(
        d.resolve(f"frame-$band-00520$k%d-3-0001.fits").toString,
        band, 5200 + k, 3, 1, 512, 372, 40.0 + k, -10.0)
    d.toString
  }

  // synthetic CCD gain/dark-variance tables; no assertion reads their values
  private lazy val ccdConfig: String = {
    val d = graft.TempDirs.create("dsv2-ccd").toString
    graft.pipeline.FitsFixtures.writeCcdConfig(d)
    d
  }

  test("kind=images is row-identical to Ingest.images") {
    import spark.implicits._
    val cfg = ccdConfig
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select($"zoom", $"image_id", $"fits_name", $"band", $"wl", $"run",
        $"camcol", $"field", $"time", $"healpix", $"width", $"height",
        org.apache.spark.sql.functions.hash($"flux").as("fh"),
        org.apache.spark.sql.functions.hash($"sigma").as("sh"),
        $"wcs.crpix1", $"wcs.cd11", $"wcs.crval1",
        org.apache.spark.sql.functions.to_json(
          org.apache.spark.sql.functions.map_entries($"header")).as("hdr"))
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    val dsv2 = canon(spark.read.format(Fmt)
      .option("kind", "images").option("ccdConfig", cfg).load(imgDir))
    val ingest = canon(graft.pipeline.Ingest.images(spark, imgDir, cfg).toDF())
    assert(dsv2.nonEmpty && dsv2.size == 10) // 2 frames x 5 zooms
    assert(dsv2 === ingest)
  }

  test("kind=images prunes pixel planes for metadata-only queries") {
    val df = spark.read.format(Fmt)
      .option("kind", "images").option("ccdConfig", ccdConfig)
      .load(imgDir).select("band", "run", "zoom")
    val scan = df.queryExecution.executedPlan.toString
    val read = "cols=([^ \\n]*)".r.findFirstMatchIn(scan).map(_.group(1))
    assert(read.isDefined && !read.get.contains("flux"), s"pruning missing:\n$scan")
    assert(df.count() == 10)
  }

  test("run/camcol/field/band equalities prune the frame listing to fewer partitions") {
    import spark.implicits._
    val cfg = ccdConfig
    def read() = spark.read.format(Fmt)
      .option("kind", "images").option("ccdConfig", cfg).load(imgDir)
    // imgDir: frame-r-005200-3-0001 + frame-g-005201-3-0001
    val all = read()
    assert(all.rdd.getNumPartitions == 2)
    val one = read().filter($"run" === 5200)
    // the filter reaches the LISTING: one input partition, not a
    // post-scan row filter over both files
    assert(one.rdd.getNumPartitions == 1,
      s"expected 1 pruned partition, got ${one.rdd.getNumPartitions}")
    assert(one.select("band").distinct().as[String].collect().toSeq == Seq("r"))
    assert(one.count() == 5) // 1 frame × 5 zooms — rows unchanged
    val byBand = read().filter($"band" === "g")
    assert(byBand.rdd.getNumPartitions == 1)
    assert(byBand.select("run").distinct().as[Int].collect().toSeq == Seq(5201))
    // SOUNDNESS: a frame with a NON-canonical name is never pruned away —
    // its run comes from the header and the residual filter keeps it
    val d2 = graft.TempDirs.create("dsv2-prune")
    graft.pipeline.FitsFixtures.writeFrame(
      d2.resolve("frame-r-005200-3-0001.fits").toString, "r", 5200, 3, 1,
      512, 372, 40.0, -10.0)
    graft.pipeline.FitsFixtures.writeFrame(
      d2.resolve("oddly-named.fits").toString, "r", 5200, 4, 2,
      512, 372, 41.0, -10.0)
    val sound = spark.read.format(Fmt)
      .option("kind", "images").option("ccdConfig", cfg).load(d2.toString)
      .filter($"run" === 5200)
    assert(sound.rdd.getNumPartitions == 2) // the odd name is kept
    assert(sound.select("camcol").distinct().as[Int].collect().sorted.toSeq
      == Seq(3, 4))
    // a name CONTAINING a canonical substring is still non-canonical:
    // its metadata comes from the header (run 9999 here), and a run=9999
    // filter must keep it — the anchored regex must not parse the
    // embedded 'frame-r-005200-…' and prune it away
    graft.pipeline.FitsFixtures.writeFrame(
      d2.resolve("copy-of-frame-r-005200-3-0001.fits").toString,
      "r", 9999, 5, 7, 512, 372, 42.0, -10.0)
    val headerRun = spark.read.format(Fmt)
      .option("kind", "images").option("ccdConfig", cfg).load(d2.toString)
      .filter($"run" === 9999)
    assert(headerRun.count() == 5, "embedded-canonical name wrongly pruned")
    assert(headerRun.select("camcol").distinct().as[Int].collect().toSeq
      == Seq(5))
    // an Int-overflowing run numeral in a canonical-looking name must
    // neither crash the listing nor be pruned (header decides: run 5200)
    graft.pipeline.FitsFixtures.writeFrame(
      d2.resolve("frame-r-12345678901-6-0001.fits").toString,
      "r", 5200, 6, 3, 512, 372, 43.0, -10.0)
    val big = spark.read.format(Fmt)
      .option("kind", "images").option("ccdConfig", cfg).load(d2.toString)
      .filter($"run" === 5200)
    assert(big.select("camcol").distinct().as[Int].collect().sorted.toSeq
      == Seq(3, 4, 6), "oversized numeral crashed or pruned the listing")
  }

  test("runDirLayout skips sibling run subtrees at listing time") {
    import spark.implicits._
    val cfg = ccdConfig
    val root = graft.TempDirs.create("dsv2-rundirs")
    for (run <- Seq(5300, 5301, 5302)) {
      val rd = root.resolve(run.toString).resolve("3")
      Files.createDirectories(rd)
      graft.pipeline.FitsFixtures.writeFrame(
        rd.resolve(f"frame-r-$run%06d-3-0001.fits").toString, "r", run, 3, 1,
        512, 372, 40.0, -10.0)
    }
    def read(runDirs: Boolean) = {
      val r = spark.read.format(Fmt)
        .option("kind", "images").option("ccdConfig", cfg)
      (if (runDirs) r.option("runDirLayout", "true") else r)
        .load(root.toString)
    }
    assert(read(runDirs = false).rdd.getNumPartitions == 3)
    val pruned = read(runDirs = true).filter($"run" === 5301)
    assert(pruned.rdd.getNumPartitions == 1)
    assert(pruned.count() == 5)
    assert(pruned.select("field").distinct().as[Int].collect().toSeq == Seq(1))
    // distributed listing honors the same subtree pruning
    val dist = spark.read.format(Fmt)
      .option("kind", "images").option("ccdConfig", cfg)
      .option("runDirLayout", "true").option("listParallelism", "2")
      .load(root.toString).filter($"run" === 5301)
    assert(dist.rdd.getNumPartitions == 1)
    assert(dist.count() == 5)
  }

  test("distributed listing finds the same files as the driver walk") {
    import spark.implicits._
    // nested run-directory layout: root files + two subtrees, one of
    // them two levels deep — the shape the executor-side walk must cover
    val d = graft.TempDirs.create("dsv2-dist")
    val (loglam, flux, ivar) = graft.pipeline.FitsFixtures.specGrid()
    val layout = Seq(
      d.resolve("spec-4100-52000-0001.fits"),
      d.resolve("runA").resolve("spec-4100-52001-0002.fits"),
      d.resolve("runB").resolve("deep").resolve("spec-4100-52002-0003.fits"))
    layout.zipWithIndex.foreach { case (p, k) =>
      Files.createDirectories(p.getParent)
      graft.pipeline.FitsFixtures.writeSpectrum(
        p.toString, 30.0 + k, -20.0, 4100, 52000 + k, k + 1, loglam, flux, ivar)
    }
    Files.writeString(d.resolve("runA").resolve("skip.txt"), "not fits")
    def names(df: org.apache.spark.sql.DataFrame) =
      df.filter($"zoom" === 0).select("fits_name").as[String].collect().sorted.toSeq
    val driver = names(spark.read.format(Fmt).load(d.toString))
    val dist = names(spark.read.format(Fmt)
      .option("listParallelism", "4").load(d.toString))
    assert(driver.size == 3)
    assert(dist == driver)
  }

  test("session Hadoop conf reaches the driver listing and executor readers") {
    import spark.implicits._
    // `graftfs` resolves ONLY through the session conf key set here —
    // `new Configuration()` (the round-4 bug) cannot see it, so this
    // read succeeds iff the session conf is threaded into BOTH
    // FitsFiles.list (driver) and the serialized reader factories
    // (executors), the same way spark.hadoop.* credentials would be
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftfs.impl", classOf[GraftTestFs].getName)
    try {
      val df = spark.read.format(Fmt).load("graftfs://" + dir)
      assert(df.count() == 25)
      assert(df.filter($"zoom" === 0).select("fits_name").as[String]
        .collect().length == 5)
    } finally
      spark.sparkContext.hadoopConfiguration.unset("fs.graftfs.impl")
  }
}

/** A local-filesystem clone under a private scheme: reachable only via
  * the `fs.graftfs.impl` conf key the spec sets on the SESSION Hadoop
  * configuration (instantiated reflectively by Hadoop's FileSystem
  * registry, so it must be a top-level class). */
class GraftTestFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "graftfs"
  override def getUri: java.net.URI = java.net.URI.create("graftfs:///")

  // RawLocalFileSystem's lazy permission loader rebuilds a java.io.File
  // from the status URI and rejects non-"file" schemes; return eager
  // statuses so it never runs
  private def eager(st: org.apache.hadoop.fs.FileStatus): org.apache.hadoop.fs.FileStatus =
    new org.apache.hadoop.fs.FileStatus(
      st.getLen, st.isDirectory, 1, st.getBlockSize, st.getModificationTime, 0L,
      org.apache.hadoop.fs.permission.FsPermission.getFileDefault, "u", "g",
      st.getPath)
  override def getFileStatus(f: org.apache.hadoop.fs.Path): org.apache.hadoop.fs.FileStatus =
    eager(super.getFileStatus(f))
  override def listStatus(f: org.apache.hadoop.fs.Path): Array[org.apache.hadoop.fs.FileStatus] =
    super.listStatus(f).map(eager)
}
