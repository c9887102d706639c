package graft.pipeline

import java.nio.file.Files

import org.apache.spark.sql.{Dataset, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** The decode runs as wide as the `binaryFile` scan it reads: no
  * single-partition exchange (a no-op `limit`, say) may funnel the
  * survey through one task ahead of the decode. Synthetic spectra,
  * frames and CCD config only — no reference snapshot needed. */
class IngestParallelismSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  lazy val root: java.nio.file.Path = {
    val dir = graft.TempDirs.create("ingest-par")
    val specDir = Files.createDirectories(dir.resolve("spectra"))
    val imgDir = Files.createDirectories(dir.resolve("images"))
    val (loglam, flux, ivar) = FitsFixtures.specGrid(1200)
    (0 until 8).foreach { i =>
      FitsFixtures.writeSpectrum(
        specDir.resolve(f"spec-1001-${53000 + i}-${i + 1}%04d.fits").toString,
        150.0 + 0.01 * i, 2.0, 1001, 53000 + i, i + 1, loglam, flux, ivar)
    }
    "ugriz".zipWithIndex.foreach { case (band, i) =>
      FitsFixtures.writeFrame(
        imgDir.resolve(f"frame-$band-${3000 + i}%06d-3-0001.fits").toString,
        band.toString, 3000 + i, 3, 1, 64, 48, 150.0, 2.0)
    }
    FitsFixtures.writeCcdConfig(dir.resolve("ccd").toString)
    dir
  }

  private def scanPartitions(dir: String, pattern: String): Int =
    spark.read.format("binaryFile")
      .option("pathGlobFilter", pattern)
      .option("recursiveFileLookup", "true")
      .load(dir).rdd.getNumPartitions

  private def assertAsWideAsScan(ds: Dataset[_], scan: Int, rows: Long): Unit = {
    assert(ds.count() == rows)
    val p = ds.queryExecution.executedPlan.toString
    assert(!p.contains("GlobalLimit"), p)
    assert(!p.contains("SinglePartition"), p)
    assert(scan > 1, s"the fixture scan should span several partitions, got $scan")
    assert(ds.rdd.getNumPartitions == scan, p)
  }

  test("spectra decode as wide as the binaryFile scan, no single-partition funnel") {
    val dir = root.resolve("spectra").toString
    assertAsWideAsScan(Ingest.spectra(spark, dir), scanPartitions(dir, "*.fits"),
      8L * (Ingest.SpecZoomCnt + 1)) // zoom 0 plus SpecZoomCnt coarser levels
  }

  test("images decode as wide as the binaryFile scan, no single-partition funnel") {
    val dir = root.resolve("images").toString
    assertAsWideAsScan(Ingest.images(spark, dir, root.resolve("ccd").toString),
      scanPartitions(dir, "*.fits*"), 5L * (Ingest.ImgZoomCnt + 1))
  }
}
