package graft.pipeline

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Golden-literal parity on the REAL committed galaxy_small spectra
  * (`/root/reference/data/raw/galaxy_small/spectra`, the 11 files the
  * reference's `tests/test_serial_builders.py:213-229` rebins): exact
  * rebinned-flux checksums, positions, spatial index ids and the
  * two-target stacking structure — not just the pyramid laws. The
  * 185-image golden set is absent from the snapshot, so these literals
  * pin the spectra side of the reference contract across rounds.
  *
  * Values were computed from this pipeline once and frozen; the MATH
  * they depend on (rebin law, healpix, IVW) is independently asserted
  * against published formulas in KernelSpec/HealpixSpec/IvwSpec — this
  * suite catches any future drift on the real data.
  *
  * The 11 files are not in this repository and no synthetic file can
  * reproduce frozen checksums of real data, so each test cancels where
  * the snapshot directory is absent and runs wherever it exists.
  */
class GoldenSpectraSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val specDir = "/root/reference/data/raw/galaxy_small/spectra"

  // fits_name -> (plate, mjd, fiber, healpix15, ra, dec, fluxSum, sigmaSum)
  val golden: Map[String, (Long, Long, Int, Long, Double, Double, Double, Double)] = Map(
    "spec-0411-51817-0119.fits" -> (411L, 51817L, 119, 6084054584L, 46.557380, -0.341545, 2.631706e-13, 3.104371e-14),
    "spec-0411-51873-0101.fits" -> (411L, 51873L, 101, 6084054584L, 46.557380, -0.341545, 2.682905e-13, 3.369668e-14),
    "spec-0411-51914-0103.fits" -> (411L, 51914L, 103, 6084054584L, 46.557380, -0.341545, 3.300758e-13, 5.113634e-14),
    "spec-0412-51871-0308.fits" -> (412L, 51871L, 308, 6084054576L, 46.560472, -0.344359, 3.083163e-12, 8.580462e-14),
    "spec-0412-51931-0319.fits" -> (412L, 51931L, 319, 6084054576L, 46.560472, -0.344359, 3.039120e-12, 7.161198e-14),
    "spec-0412-51936-0318.fits" -> (412L, 51936L, 318, 6084054576L, 46.560472, -0.344359, 3.194886e-12, 1.285414e-13),
    "spec-0412-51942-0318.fits" -> (412L, 51942L, 318, 6084054576L, 46.560472, -0.344359, 3.260504e-12, 9.848333e-14),
    "spec-0412-52235-0305.fits" -> (412L, 52235L, 305, 6084054576L, 46.560472, -0.344359, 2.995446e-12, 8.520381e-14),
    "spec-0412-52250-0319.fits" -> (412L, 52250L, 319, 6084054576L, 46.560472, -0.344359, 3.163319e-12, 8.201209e-14),
    "spec-0412-52254-0320.fits" -> (412L, 52254L, 320, 6084054576L, 46.560472, -0.344359, 3.110902e-12, 7.556298e-14),
    "spec-0412-52258-0302.fits" -> (412L, 52258L, 302, 6084054576L, 46.560472, -0.344359, 2.961516e-12, 6.735620e-14))

  lazy val zoom0 = Ingest.spectra(spark, specDir).collect().filter(_.zoom == 0)

  test("all 11 committed spectra ingest with exact metadata + spatial ids") {
    assume(Files.isDirectory(Paths.get(specDir)), "reference galaxy_small spectra not available")
    assert(zoom0.length == 11)
    zoom0.foreach { s =>
      val g = golden(s.fits_name)
      assert(s.plateid == g._1, s.fits_name)
      assert(s.mjd == g._2, s.fits_name)
      assert(s.fiberid == g._3, s.fits_name)
      assert(s.healpix == g._4, s"${s.fits_name} healpix ${s.healpix}")
      assert(math.abs(s.ra - g._5) < 5e-7, s"${s.fits_name} ra ${s.ra}")
      assert(math.abs(s.dec - g._6) < 5e-7, s"${s.fits_name} dec ${s.dec}")
    }
  }

  test("rebinned flux/sigma checksums match the frozen literals exactly") {
    assume(Files.isDirectory(Paths.get(specDir)), "reference galaxy_small spectra not available")
    zoom0.foreach { s =>
      val g = golden(s.fits_name)
      assert(s.flux.length == 4620 && s.flux.forall(v => !v.isNaN), s.fits_name)
      // fixed rebin grid endpoints (REBIN_MIN/MAX at 4620 samples)
      assert(math.abs(s.wl(0) - 3839.724) < 1e-3)
      assert(math.abs(s.wl.last - 8914.597) < 1e-3)
      val fluxSum = s.flux.map(_.toDouble).sum
      val sigmaSum = s.sigma.filter(v => !v.isNaN).map(_.toDouble).sum
      assert(math.abs(fluxSum / g._7 - 1) < 2e-6, s"${s.fits_name} fluxSum $fluxSum")
      assert(math.abs(sigmaSum / g._8 - 1) < 2e-6, s"${s.fits_name} sigmaSum $sigmaSum")
    }
  }

  test("two real targets stack to (3, 8) spectra with time-ordered provenance") {
    assume(Files.isDirectory(Paths.get(specDir)), "reference galaxy_small spectra not available")
    val specs = Ingest.spectra(spark, specDir)
    val stacks = MlCube.specStacks(specs).collect()
    assert(stacks.length == 2 * 5) // 2 targets × 5 zooms
    val z0 = stacks.filter(_.zoom == 0).sortBy(_.target_healpix)
    assert(z0.map(_.n_spectra).sorted.sameElements(Array(3, 8)))
    assert(z0.map(_.target_healpix).toSet == Set(6084054576L, 6084054584L))
    // provenance: first_spec_id is the earliest observation of each target
    z0.foreach { st =>
      assert(st.spec_ids.length == st.n_spectra)
      assert(st.first_spec_id == st.spec_ids.head)
    }
    // plate 411's earliest spectrum is mjd 51817; its id must lead
    val plate411 = z0.find(_.n_spectra == 3).get
    val byId = zoom0.map(s => s.spec_id -> s.mjd).toMap
    assert(byId(plate411.first_spec_id) == 51817L)
    // stacked spectral pyramid law holds on the real stack too
    val lens = stacks.groupBy(_.zoom).view.mapValues(_.head.spec_flux.length).toMap
    assert(lens == Map(0 -> 4620, 1 -> 2310, 2 -> 1155, 3 -> 577, 4 -> 288))
  }

  test("IVW-stacked flux/sigma checksums on the real targets match frozen literals") {
    assume(Files.isDirectory(Paths.get(specDir)), "reference galaxy_small spectra not available")
    val specs = Ingest.spectra(spark, specDir)
    val stacks = MlCube.specStacks(specs).collect()
    // (target, zoom) -> (n_spectra, fluxSum, sigmaSum); all samples finite
    val expected = Map(
      (6084054576L, 0) -> (8, 3.071686e-12, 2.920273e-14),
      (6084054576L, 2) -> (8, 7.675102e-13, 1.827958e-15),
      (6084054584L, 0) -> (3, 2.760813e-13, 2.054233e-14),
      (6084054584L, 2) -> (3, 6.901362e-14, 1.286791e-15))
    expected.foreach { case ((hp, zoom), (n, fSum, sSum)) =>
      val st = stacks.find(s => s.target_healpix == hp && s.zoom == zoom).get
      assert(st.n_spectra == n)
      assert(st.spec_flux.forall(v => !v.isNaN))
      val f = st.spec_flux.map(_.toDouble).sum
      val s = st.spec_sigma.map(_.toDouble).sum
      assert(math.abs(f / fSum - 1) < 2e-6, s"($hp,$zoom) fluxSum $f")
      assert(math.abs(s / sSum - 1) < 2e-6, s"($hp,$zoom) sigmaSum $s")
    }
  }
}
