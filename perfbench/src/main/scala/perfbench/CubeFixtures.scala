package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._
import scala.util.Random

import graft.pipeline.FitsFixtures

/** Seeded synthetic SDSS-shaped survey: T targets, each with its own five
  * band frames centred on it and a share of a fixed total of repeat
  * spectra (high fan-in into the ML stack), plus the CCD calibration
  * tables the frame decoder needs.
  *
  * The seed sets the target positions, which targets get the remainder
  * of the spectrum split and which half the update touches, per-spectrum
  * flux noise and the ~1% of samples with ivar = 0. File count, file
  * sizes and the spectra per stack do not depend on it, so the work is
  * fixed across seeds. The same seed writes a byte-identical tree. */
object CubeFixtures {

  final case class Size(targets: Int, spectra: Int, width: Int, height: Int) {
    require(spectra >= 2 * targets, "every target needs at least two spectra")
  }

  final case class Target(ra: Double, dec: Double)

  /** What was written: the per-target spectrum counts drive every
    * expected row count. */
  final case class Survey(targets: IndexedSeq[Target], perTarget: IndexedSeq[Int]) {
    def spectra: Int = perTarget.sum
  }

  val Bands: Seq[String] = Seq("u", "g", "r", "i", "z")
  val GridSamples = 3700

  /** Targets ≥ 10° apart in RA (each target's frames cover only it) at
    * seeded offsets. The spectrum total is split as evenly as it
    * divides, the remainder going to seeded targets: the work of a
    * stack then does not depend on the seed. */
  def plan(seed: Long, size: Size): Survey = {
    val rnd = new Random(seed)
    val step = 360.0 / size.targets
    val targets = (0 until size.targets).map { t =>
      Target(t * step + rnd.nextDouble() * step * 0.5, -50.0 + rnd.nextDouble() * 100.0)
    }
    Survey(targets, split(rnd, size.spectra, (0 until size.targets).toList, size.targets))
  }

  private def split(rnd: Random, n: Int, among: List[Int], slots: Int): IndexedSeq[Int] = {
    val counts = Array.fill(slots)(0)
    among.foreach(counts(_) = n / among.size)
    rnd.shuffle(among).take(n % among.size).foreach(counts(_) += 1)
    counts.toIndexedSeq
  }

  /** Repeat spectra for a seeded half of the targets, `n` in total split
    * evenly: the batch an incremental update brings in. */
  def updatePlan(seed: Long, base: Survey, n: Int): Survey = {
    val rnd = new Random(seed ^ 0x5DEECE66DL)
    val touched = rnd.shuffle(base.targets.indices.toList).take((base.targets.size + 1) / 2)
    Survey(base.targets, split(rnd, n, touched, base.targets.size))
  }

  /** Writes `root/spectra`, `root/images` and `root/ccd`. `platBase`
    * keeps the file names (and so the observation ids) of different
    * batches apart. */
  def write(root: Path, seed: Long, size: Size, survey: Survey,
      plateBase: Int = 4000, withImages: Boolean = true): Unit = {
    val specDir = Files.createDirectories(root.resolve("spectra"))
    val (loglam, shape, _) = FitsFixtures.specGrid(GridSamples)
    survey.targets.indices.foreach { t =>
      val tg = survey.targets(t)
      (0 until survey.perTarget(t)).foreach { k =>
        val rnd = new Random(seed * 1000003L + (plateBase + t) * 1009L + k)
        val flux = shape.map(_ * (1.0 + 0.05 * rnd.nextGaussian()))
        val ivar = shape.map(_ => if (rnd.nextDouble() < 0.01) 0.0 else 4.0)
        FitsFixtures.writeSpectrum(
          specDir.resolve(f"spec-${plateBase + t}%04d-${52000 + k}%05d-${k + 1}%04d.fits").toString,
          tg.ra, tg.dec, plateBase + t, 52000 + k, k + 1, loglam, flux, ivar)
      }
    }
    if (withImages) {
      val imgDir = Files.createDirectories(root.resolve("images"))
      survey.targets.indices.foreach { t =>
        val tg = survey.targets(t)
        Bands.zipWithIndex.foreach { case (band, b) =>
          val run = 5000 + 5 * t + b
          FitsFixtures.writeFrame(
            imgDir.resolve(f"frame-$band-$run%06d-${camcol(t)}-0011.fits").toString,
            band, run, camcol(t), 11, size.width, size.height, tg.ra, tg.dec,
            (x, y) => 1.0 + 0.001 * ((x * 31 + y * 17 + t * 7 + b) % 97))
        }
      }
      writeCcd(Files.createDirectories(root.resolve("ccd")))
    }
  }

  private def camcol(t: Int): Int = 1 + t % 6

  /** `ccd_gain.tsv` / `ccd_dark_variance.tsv` in the schema
    * `SdssFits.readCcdTsv` parses: camcol, a run predicate, one column
    * per band; two run ranges per camcol. */
  def writeCcd(dir: Path): Unit = {
    def table(base: Double) = {
      val rows = for {
        c <- 1 to 6
        (pred, k) <- Seq(("<5020", 0), (">=5020", 1))
      } yield (Seq(c.toString, pred) ++ Bands.indices.map(b => f"${base + 0.1 * c + 0.05 * b + 0.2 * k}%.3f"))
        .mkString("\t")
      (("camcol\trun\t" + Bands.mkString("\t")) +: rows).mkString("", "\n", "\n")
    }
    Files.write(dir.resolve("ccd_gain.tsv"), table(1.5).getBytes(StandardCharsets.US_ASCII))
    Files.write(dir.resolve("ccd_dark_variance.tsv"), table(8.0).getBytes(StandardCharsets.US_ASCII))
  }

  /** SHA-256 over the tree's sorted relative paths and file bytes. */
  def digest(root: Path): String = {
    val md = MessageDigest.getInstance("SHA-256")
    val files = Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => root.relativize(p).toString -> p).toSeq.sortBy(_._1)
    files.foreach { case (rel, p) =>
      md.update(rel.getBytes(StandardCharsets.UTF_8)); md.update(0.toByte)
      md.update(Files.readAllBytes(p))
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  def totalBytes(dir: Path): Long =
    Files.walk(dir).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
}
