package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.SparkSession

import graft.pipeline.{FitsFixtures, Ingest}

/** Single-node ingest throughput vs the reference's per-phase anchors
  * (BASELINE.md: header-cache 271 spectra/s / 1156 images/s, metadata
  * 480 spectra/s / 250 images/s, mpiexec -n 8 — and the reference still
  * runs a third DATA pass after those). Here ingest is ONE pass doing
  * header + data + rebin + pyramid, so spectra/s is comparable to the
  * reference's slowest-of-three, not the sum.
  *
  * Run: sbt "Test/runMain graft.tools.IngestBench [nSpectra] [nFrames]"
  */
object IngestBench {
  def main(args: Array[String]): Unit = {
    val nSpectra = args.headOption.map(_.toInt).getOrElse(400)
    val nFrames = args.lift(1).map(_.toInt).getOrElse(40)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val dir = graft.TempDirs.create("ingest-bench")
    val specDir = dir.resolve("spectra"); Files.createDirectories(specDir)
    val imgDir = dir.resolve("images"); Files.createDirectories(imgDir)
    val (loglam, flux, ivar) = FitsFixtures.specGrid()
    (0 until nSpectra).foreach { i =>
      FitsFixtures.writeSpectrum(
        specDir.resolve(f"spec-${1000 + i / 50}%04d-${51000 + i}-${i % 640}%04d.fits").toString,
        (i * 0.37) % 350.0, ((i * 0.11) % 100.0) - 50.0,
        1000 + i / 50, 51000 + i, i % 640, loglam, flux, ivar)
    }
    (0 until nFrames).foreach { i =>
      val band = "ugriz" (i % 5).toString
      FitsFixtures.writeFrame(
        imgDir.resolve(f"frame-$band-${3000 + i}%06d-3-0001.fits").toString,
        band, 3000 + i, 3, 1, 512, 372, (i * 1.7) % 350.0, ((i * 0.9) % 100.0) - 50.0)
    }

    // warmup JVM + session
    Ingest.spectra(spark, specDir.toString).count()

    val t0 = System.nanoTime()
    val sRows = Ingest.spectra(spark, specDir.toString).count()
    val tSpec = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    val iRows = Ingest.images(spark, imgDir.toString, "/root/reference/config").count()
    val tImg = (System.nanoTime() - t1) / 1e9
    println(f"{'spectra': $nSpectra, 'spectra_rows': $sRows, 'spectra_sec': $tSpec%.2f, " +
      f"'spectra_per_sec': ${nSpectra / tSpec}%.1f, " +
      f"'frames': $nFrames, 'image_rows': $iRows, 'images_sec': $tImg%.2f, " +
      f"'frames_per_sec': ${nFrames / tImg}%.1f}")
    spark.stop()
  }
}
