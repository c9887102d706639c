package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Healpix
import graft.functions.PhotometryKernels
import graft.sources.SdssFits

/** Ingest phase: FITS directories → typed observation Datasets with full
  * zoom pyramids (reference phases "metadata-cache/metadata/data",
  * SURVEY §3.1 — in Spark they collapse into one distributed scan).
  *
  * Scale shape: the decode flatMap runs in the same task as the
  * `binaryFile` scan of its split — no exchange in between — so decoding
  * is exactly as wide as the scan's file partitions, and so are the
  * map-side stages over a cached result. Each action that is not served from a
  * cache decodes again, which is why [[BuildCube]] caches both tables.
  * The optional write partitions by zoom and range-sorts by healpix so
  * downstream joins prune (I3/I4).
  */
object Ingest {

  val ImgZoomCnt = 4
  val SpecZoomCnt = 4
  val ImgHealOrder = 10 // IMG_SPAT_INDEX_ORDER - 1 (config.ini:17)
  val SpecHealOrder = 15 // SPEC_SPAT_INDEX_ORDER - 1 (config.ini:18)

  /** FNV-1a 64-bit of the file name — stable observation id. */
  def stableId(name: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < name.length) {
      h ^= name.charAt(i)
      h *= 0x100000001b3L
      i += 1
    }
    h & Long.MaxValue // keep non-negative for readability
  }

  def baseName(path: String): String = path.substring(path.lastIndexOf('/') + 1)

  /** Spectrum decode + X1 pyramid fan-out over an already-selected file
    * table (path, content); the batch scan and `ObservationStream`
    * share it. */
  private[graft] def decodeSpectra(
      files: Dataset[(String, Array[Byte])], zoomCnt: Int): Dataset[SpectrumObs] = {
    import files.sparkSession.implicits._
    files.flatMap { case (path, bytes) =>
      val sp = SdssFits.loadSpectrum(bytes, path, zoomCnt)
      val name = baseName(path)
      val id = stableId(name)
      val hp = Healpix.ang2pixLonLat(SpecHealOrder, sp.ra, sp.dec)
      val header = sp.header.cards.toMap
      sp.pyramid.zipWithIndex.map { case ((wl, f, s), z) =>
        SpectrumObs(z, id, name, sp.ra, sp.dec, sp.time,
          sp.plateid, sp.mjd, sp.fiberid, hp,
          SdssFits.toF32Scrubbed1d(wl),
          SdssFits.toF32Scrubbed1d(f),
          SdssFits.toF32Scrubbed1d(s),
          header)
      }
    }
  }

  /** S1 recursive scan + S5 spectrum decode + X1 pyramid fan-out. */
  def spectra(
      spark: SparkSession, dir: String,
      pattern: String = "*.fits",
      zoomCnt: Int = SpecZoomCnt): Dataset[SpectrumObs] = {
    import spark.implicits._
    val files = spark.read.format("binaryFile")
      .option("pathGlobFilter", pattern)
      .option("recursiveFileLookup", "true")
      .load(dir)
      .select("path", "content").as[(String, Array[Byte])]
    decodeSpectra(files, zoomCnt)
  }

  /** S1 + S4 frame decode (P1-P4 kernels) + X2 pyramid fan-out.
    * CCD gain tables are read once on the driver and shipped in the
    * closure (tiny broadcast analogue of the reference's config cache). */
  def images(
      spark: SparkSession, dir: String, ccdConfigDir: String,
      pattern: String = "*.fits*",
      zoomCnt: Int = ImgZoomCnt): Dataset[ImageObs] = {
    import spark.implicits._
    val gains = SdssFits.readCcdTsv(s"$ccdConfigDir/ccd_gain.tsv")
    val darkVars = SdssFits.readCcdTsv(s"$ccdConfigDir/ccd_dark_variance.tsv")
    val files = spark.read.format("binaryFile")
      .option("pathGlobFilter", pattern)
      .option("recursiveFileLookup", "true")
      .load(dir)
      .select("path", "content").as[(String, Array[Byte])]
    decodeImages(files, gains, darkVars, zoomCnt)
  }

  /** Frame decode + X2 pyramid fan-out over an already-selected file
    * table (path, content). */
  private def decodeImages(
      files: Dataset[(String, Array[Byte])],
      gains: Seq[PhotometryKernels.CcdConfigRow],
      darkVars: Seq[PhotometryKernels.CcdConfigRow],
      zoomCnt: Int): Dataset[ImageObs] = {
    import files.sparkSession.implicits._
    files.flatMap { case (path, bytes) =>
      val fr = SdssFits.loadFrame(bytes, path, gains, darkVars, zoomCnt)
      val name = baseName(path)
      val id = stableId(name)
      val hp = Healpix.ang2pixLonLat(ImgHealOrder, fr.wcs.crval1, fr.wcs.crval2)
      val wlMid = PhotometryKernels.filterMidpoints(fr.band)
      val header = fr.header.cards.toMap
      fr.pyramid.zipWithIndex.map { case ((f, s), z) =>
        val wz = fr.wcs.atZoom(z)
        ImageObs(z, id, name, fr.band, wlMid, fr.run, fr.camcol, fr.field,
          fr.timeMjd, hp, f(0).length, f.length, f, s,
          WcsParams(wz.crpix1, wz.crpix2, wz.cd11, wz.cd12, wz.cd21, wz.cd22,
            wz.crval1, wz.crval2),
          header)
      }
    }
  }

  /** S2 FULL semantics — manifest(CSV)-driven image scan
    * (`hisscube/processors/metadata.py:132-146`): each manifest row
    * (run, camcol, field) expands to the directory
    * `imageRoot/rerun/run/camcol` scanned for `*%04d.fits*` of the field.
    *
    * Scale shape: the directory LISTING is Spark's distributed file index
    * over only the manifest's directories; the row→file match is a
    * broadcast join (directory equality + field-suffix residual), so a
    * 5M-file manifest never funnels paths through the driver — only the
    * distinct (run, camcol) directory list does (bounded: one per CCD
    * strip, thousands at SDSS scale). */
  def imagesFromManifest(
      spark: SparkSession, csvPath: String, imageRoot: String,
      ccdConfigDir: String, rerun: String = "301",
      zoomCnt: Int = ImgZoomCnt): Dataset[ImageObs] = {
    import spark.implicits._
    val gains = SdssFits.readCcdTsv(s"$ccdConfigDir/ccd_gain.tsv")
    val darkVars = SdssFits.readCcdTsv(s"$ccdConfigDir/ccd_dark_variance.tsv")
    val manifest = spark.read.option("header", "true").csv(csvPath)
      .select(
        concat_ws("/", lit(imageRoot), lit(rerun), $"run", $"camcol").as("dir"),
        format_string("%04d.fits", $"field".cast("int")).as("suffix"))
      .distinct()
    val files = manifestFiles(spark, manifest, "*.fits*")
    decodeImages(files, gains, darkVars, zoomCnt)
  }

  /** S2 spectra variant (`metadata.py:148-160`): manifest rows carry a
    * plate; every `*.fits` under `spectraRoot/%04d` ingests. */
  def spectraFromManifest(
      spark: SparkSession, csvPath: String, spectraRoot: String,
      zoomCnt: Int = SpecZoomCnt): Dataset[SpectrumObs] = {
    import spark.implicits._
    val manifest = spark.read.option("header", "true").csv(csvPath)
      .select(
        concat_ws("/", lit(spectraRoot),
          format_string("%04d", $"plate".cast("int"))).as("dir"),
        lit(".fits").as("suffix"))
      .distinct()
    decodeSpectra(manifestFiles(spark, manifest, "*.fits"), zoomCnt)
  }

  /** Distributed listing of the manifest's directories joined back to the
    * manifest's (dir, basename-suffix) filters. */
  private def manifestFiles(
      spark: SparkSession, manifest: DataFrame,
      globPattern: String): Dataset[(String, Array[Byte])] = {
    import spark.implicits._
    // resolve through the Hadoop FileSystem of each path's scheme (file:,
    // hdfs:, s3a:, …) — a java.io.File check would silently drop every
    // directory on a non-local filesystem. Bounded: one RPC per distinct
    // (run, camcol) dir, thousands at survey scale, not per file.
    val hconf = spark.sparkContext.hadoopConfiguration
    val dirs = manifest.select("dir").distinct().as[String].collect()
      .filter { d =>
        val p = new org.apache.hadoop.fs.Path(d)
        try p.getFileSystem(hconf).getFileStatus(p).isDirectory
        catch { case _: java.io.FileNotFoundException => false }
      }.sorted
    if (dirs.isEmpty) return spark.emptyDataset[(String, Array[Byte])]
    val listing = spark.read.format("binaryFile")
      .option("pathGlobFilter", globPattern)
      .option("recursiveFileLookup", "true")
      .load(dirs.toIndexedSeq: _*)
      // binaryFile paths are file: URIs; normalize to the manifest's form
      .withColumn("fs_path", regexp_replace(col("path"), "^file:", ""))
      .withColumn("file_dir", regexp_replace(col("fs_path"), "/[^/]+$", ""))
    listing
      .join(broadcast(manifest),
        col("file_dir") === col("dir") && col("fs_path").endsWith(col("suffix")))
      .dropDuplicates("path")
      .select("path", "content").as[(String, Array[Byte])]
  }

  /** Persist a table BUCKETED on its join key — the co-located-join
    * layout for the repeatedly-joined 100 TB tables (links ⋈ images,
    * spectra ⋈ links): two tables bucketed on the same key with the
    * same bucket count join WITHOUT any shuffle exchange (asserted in
    * BucketedJoinSpec) — the per-round shuffle cost is paid once at
    * write time instead of at every join. Catalog-backed
    * (`saveAsTable`), since bucket metadata lives in the table catalog. */
  def writeBucketed(
      df: org.apache.spark.sql.DataFrame, table: String,
      buckets: Int, keyCols: Seq[String],
      path: Option[String] = None): Unit = {
    val w = df.write.mode("overwrite")
      .bucketBy(buckets, keyCols.head, keyCols.tail: _*)
      .sortBy(keyCols.head, keyCols.tail: _*)
      .format("parquet")
    path.fold(w)(p => w.option("path", p)).saveAsTable(table)
  }

  /** Run `write` on `df` and return the number of rows it wrote: an
    * `Observation` of `count(*)` that the write action itself collects,
    * so the count needs no cache and no second action. `df` must be the
    * frame exactly as it goes to the writer, ABOVE any
    * `repartitionByRange`: the range partitioner's sampling job runs the
    * subtree below its exchange too, so an observation there counts
    * every row twice. An empty write reports 0. */
  def writeCounted(df: DataFrame)(write: DataFrame => Unit): Long = {
    val rows = org.apache.spark.sql.Observation()
    write(df.observe(rows, count(lit(1)).as("rows")))
    rows.get("rows").asInstanceOf[Long]
  }

  /** Persist an observation table the way the 100 TB layout wants it:
    * partitioned by zoom, range-sorted by healpix within partitions so
    * parquet row-group min/max stats prune spatial probes (I4). Returns
    * the number of rows written. */
  def writeSorted[T](ds: Dataset[T], outDir: String, numFiles: Int = 32): Long =
    writeCounted(ds.toDF()
      .repartitionByRange(numFiles, col("zoom"), col("healpix"))
      .sortWithinPartitions("zoom", "healpix"))(
      _.write.mode("overwrite").partitionBy("zoom").parquet(outDir))
}
