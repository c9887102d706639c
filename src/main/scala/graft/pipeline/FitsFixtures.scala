package graft.pipeline

import java.io.{BufferedOutputStream, DataOutputStream, FileOutputStream}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Synthetic SDSS-shaped FITS writers for pipeline tests (FIXTURES.md §1).
  * Deterministic miniature frames/spectra positioned wherever a test
  * wants them, so the link/ML/viz phases can be exercised without the
  * (uncommitted) galaxy_small image set.
  */
object FitsFixtures {

  private def card(key: String, value: String): Array[Byte] = {
    val s = key.padTo(8, ' ') + "= " + value.reverse.padTo(20, ' ').reverse
    s.padTo(80, ' ').take(80).getBytes(StandardCharsets.US_ASCII)
  }
  private def strCard(key: String, value: String): Array[Byte] =
    card(key, s"'$value'")
  private val end = "END".padTo(80, ' ').getBytes(StandardCharsets.US_ASCII)

  private def writeHeader(out: DataOutputStream, cards: Seq[Array[Byte]]): Unit = {
    cards.foreach(out.write)
    out.write(end)
    val written = (cards.length + 1) * 80L
    padBlock(out, written)
  }

  private def padBlock(out: DataOutputStream, written: Long): Unit = {
    val rem = (2880 - (written % 2880)) % 2880
    out.write(new Array[Byte](rem.toInt))
  }

  /** Spectrum FITS: HDU0 metadata header; HDU1 bintable loglam/flux/ivar. */
  def writeSpectrum(
      path: String, ra: Double, dec: Double,
      plateid: Int, mjd: Int, fiberid: Int,
      loglam: Array[Double], flux: Array[Double], ivar: Array[Double]): Unit = {
    val out = new DataOutputStream(new BufferedOutputStream(new FileOutputStream(path)))
    try {
      writeHeader(out, Seq(
        card("SIMPLE", "T"), card("BITPIX", "8"), card("NAXIS", "0"),
        card("EXTEND", "T"),
        card("PLUG_RA", ra.toString), card("PLUG_DEC", dec.toString),
        card("PLATEID", plateid.toString), card("MJD", mjd.toString),
        card("FIBERID", fiberid.toString)))
      val n = loglam.length
      writeHeader(out, Seq(
        strCard("XTENSION", "BINTABLE"), card("BITPIX", "8"), card("NAXIS", "2"),
        card("NAXIS1", "12"), card("NAXIS2", n.toString),
        card("PCOUNT", "0"), card("GCOUNT", "1"), card("TFIELDS", "3"),
        strCard("TTYPE1", "flux"), strCard("TFORM1", "E"),
        strCard("TTYPE2", "loglam"), strCard("TFORM2", "E"),
        strCard("TTYPE3", "ivar"), strCard("TFORM3", "E")))
      var i = 0
      while (i < n) {
        out.writeFloat(flux(i).toFloat)
        out.writeFloat(loglam(i).toFloat)
        out.writeFloat(ivar(i).toFloat)
        i += 1
      }
      padBlock(out, 12L * n)
    } finally out.close()
  }

  /** Frame FITS: HDU0 image (w×h f32) with WCS; HDU1 calib vector; HDU2
    * sky bintable (allsky + xinterp + yinterp). TAN WCS centered at
    * (crval1, crval2) with 0.396"/pix scale. */
  def writeFrame(
      path: String, band: String, run: Int, camcol: Int, field: Int,
      w: Int, h: Int, crval1: Double, crval2: Double,
      pixValue: (Int, Int) => Double = (_, _) => 1.0): Unit = {
    val out = new DataOutputStream(new BufferedOutputStream(new FileOutputStream(path)))
    val scale = 0.396 / 3600
    try {
      writeHeader(out, Seq(
        card("SIMPLE", "T"), card("BITPIX", "-32"), card("NAXIS", "2"),
        card("NAXIS1", w.toString), card("NAXIS2", h.toString),
        strCard("FILTER", band), card("RUN", run.toString),
        card("CAMCOL", camcol.toString), card("FIELD", field.toString),
        strCard("DATE-OBS", "2004-11-10"),
        card("CRPIX1", (w / 2.0 + 0.5).toString), card("CRPIX2", (h / 2.0 + 0.5).toString),
        card("CRVAL1", crval1.toString), card("CRVAL2", crval2.toString),
        card("CD1_1", scale.toString), card("CD1_2", "0.0"),
        card("CD2_1", "0.0"), card("CD2_2", scale.toString),
        strCard("CTYPE1", "RA---TAN"), strCard("CTYPE2", "DEC--TAN")))
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) { out.writeFloat(pixValue(x, y).toFloat); x += 1 }
        y += 1
      }
      padBlock(out, 4L * w * h)

      // HDU1: calib vector (1-D image, length w)
      writeHeader(out, Seq(
        strCard("XTENSION", "IMAGE"), card("BITPIX", "-32"), card("NAXIS", "1"),
        card("NAXIS1", w.toString), card("PCOUNT", "0"), card("GCOUNT", "1")))
      var x = 0
      while (x < w) { out.writeFloat(0.01f); x += 1 }
      padBlock(out, 4L * w)

      // HDU2: sky bintable — allsky 4×4, xinterp w, yinterp h
      val aw = 4
      val ah = 4
      val rowBytes = 4 * (aw * ah + w + h)
      writeHeader(out, Seq(
        strCard("XTENSION", "BINTABLE"), card("BITPIX", "8"), card("NAXIS", "2"),
        card("NAXIS1", rowBytes.toString), card("NAXIS2", "1"),
        card("PCOUNT", "0"), card("GCOUNT", "1"), card("TFIELDS", "3"),
        strCard("TTYPE1", "allsky"), strCard("TFORM1", s"${aw * ah}E"),
        strCard("TDIM1", s"($aw,$ah)"),
        strCard("TTYPE2", "xinterp"), strCard("TFORM2", s"${w}E"),
        strCard("TTYPE3", "yinterp"), strCard("TFORM3", s"${h}E")))
      (0 until aw * ah).foreach(_ => out.writeFloat(0.1f))
      (0 until w).foreach(i => out.writeFloat(i.toFloat * (aw - 1) / (w - 1)))
      (0 until h).foreach(i => out.writeFloat(i.toFloat * (ah - 1) / (h - 1)))
      padBlock(out, rowBytes.toLong)
    } finally out.close()
  }

  /** Synthetic SFR catalog pair (gal_info + gal_fibsfr), positionally
    * aligned like the DR7 tables (FIXTURES.md §1.5). */
  def writeGalTables(infoPath: String, fibPath: String, keys: Seq[(Int, Int, Int)]): Unit = {
    // gal_info: PLATEID, MJD, FIBERID (J) + PHOTOID (J, dropped) + NAME (8A)
    val info = new DataOutputStream(new BufferedOutputStream(new FileOutputStream(infoPath)))
    try {
      writeHeader(info, Seq(
        card("SIMPLE", "T"), card("BITPIX", "8"), card("NAXIS", "0"), card("EXTEND", "T")))
      writeHeader(info, Seq(
        strCard("XTENSION", "BINTABLE"), card("BITPIX", "8"), card("NAXIS", "2"),
        card("NAXIS1", "24"), card("NAXIS2", keys.length.toString),
        card("PCOUNT", "0"), card("GCOUNT", "1"), card("TFIELDS", "5"),
        strCard("TTYPE1", "PLATEID"), strCard("TFORM1", "J"),
        strCard("TTYPE2", "MJD"), strCard("TFORM2", "J"),
        strCard("TTYPE3", "FIBERID"), strCard("TFORM3", "J"),
        strCard("TTYPE4", "PHOTOID"), strCard("TFORM4", "J"),
        strCard("TTYPE5", "NAME"), strCard("TFORM5", "8A")))
      keys.zipWithIndex.foreach { case ((p, m, f), i) =>
        info.writeInt(p); info.writeInt(m); info.writeInt(f); info.writeInt(i)
        info.write(s"gal$i".padTo(8, ' ').getBytes(StandardCharsets.US_ASCII))
      }
      padBlock(info, 24L * keys.length)
    } finally info.close()

    // gal_fibsfr: AVG, MEDIAN (E)
    val fib = new DataOutputStream(new BufferedOutputStream(new FileOutputStream(fibPath)))
    try {
      writeHeader(fib, Seq(
        card("SIMPLE", "T"), card("BITPIX", "8"), card("NAXIS", "0"), card("EXTEND", "T")))
      writeHeader(fib, Seq(
        strCard("XTENSION", "BINTABLE"), card("BITPIX", "8"), card("NAXIS", "2"),
        card("NAXIS1", "8"), card("NAXIS2", keys.length.toString),
        card("PCOUNT", "0"), card("GCOUNT", "1"), card("TFIELDS", "2"),
        strCard("TTYPE1", "AVG"), strCard("TFORM1", "E"),
        strCard("TTYPE2", "MEDIAN"), strCard("TFORM2", "E")))
      keys.zipWithIndex.foreach { case (_, i) =>
        fib.writeFloat(1.5f + i); fib.writeFloat(2.5f + i)
      }
      padBlock(fib, 8L * keys.length)
    } finally fib.close()
  }

  /** Synthetic `ccd_gain.tsv` / `ccd_dark_variance.tsv` in the schema
    * `SdssFits.readCcdTsv` parses (camcol, run predicate, one column per
    * band): one row per camcol 1-6 matching every run, so frames decode
    * without the reference's config directory. PipelineSpec, UpdateSpec,
    * FitsDataSourceSpec and IngestParallelismSpec decode their frames
    * with it. The gain and dark-variance values are synthetic, not
    * SDSS's, so no test may assert on them or on the image sigma they
    * yield, beyond equality of two paths that read the same config. */
  def writeCcdConfig(dir: String): Unit = {
    def table(base: Double): String =
      ("camcol\trun\tu\tg\tr\ti\tz" +: (1 to 6).map { c =>
        (Seq(c.toString, ">0") ++ (0 until 5).map(b => f"${base + 0.1 * c + 0.05 * b}%.3f"))
          .mkString("\t")
      }).mkString("", "\n", "\n")
    Files.createDirectories(Paths.get(dir))
    Seq("ccd_gain.tsv" -> 1.5, "ccd_dark_variance.tsv" -> 8.0).foreach { case (f, base) =>
      Files.write(Paths.get(dir, f), table(base).getBytes(StandardCharsets.US_ASCII))
    }
  }

  /** Standard synthetic spectrum grid: loglam over [3.59, 3.95], all
    * inside the rebin range with margins outside it. */
  def specGrid(n: Int = 3700): (Array[Double], Array[Double], Array[Double]) = {
    val loglam = Array.tabulate(n)(i => 3.575 + 1e-4 * i)
    val flux = loglam.map(l => 5.0 + math.sin(l * 40))
    val ivar = loglam.map(_ => 4.0)
    (loglam, flux, ivar)
  }
}
