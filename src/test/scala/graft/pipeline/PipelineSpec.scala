package graft.pipeline

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Healpix
import graft.sources.{Export, Fits}

/** End-to-end pipeline test over synthetic SDSS-shaped FITS and a
  * synthetic CCD config (FitsFixtures): ingest → link → ML cube → viz cube → SFR merge.
  * Mirrors the reference's builder tests with formula-level expectations
  * (the golden 185-image galaxy_small set is not in the snapshot).
  */
class PipelineSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  // --- fixture layout -----------------------------------------------------
  lazy val root: Path = {
    val dir = graft.TempDirs.create("pipeline")
    val specDir = dir.resolve("spectra"); Files.createDirectories(specDir)
    val imgDir = dir.resolve("images"); Files.createDirectories(imgDir)

    val (loglam, flux, ivar) = FitsFixtures.specGrid()
    // target A: two spectra in the same order-15 cell
    FitsFixtures.writeSpectrum(specDir.resolve("spec-1001-53000-0001.fits").toString,
      150.0, 2.0, 1001, 53000, 1, loglam, flux, ivar)
    FitsFixtures.writeSpectrum(specDir.resolve("spec-1001-53050-0002.fits").toString,
      150.0 + 0.2 / 3600, 2.0, 1001, 53050, 2, loglam, flux, ivar)
    // target B: one spectrum elsewhere
    FitsFixtures.writeSpectrum(specDir.resolve("spec-1002-53100-0003.fits").toString,
      150.2, 2.1, 1002, 53100, 3, loglam, flux, ivar)

    // one frame per band per target, centered on the target
    var run = 1000
    for (band <- Seq("u", "g", "r", "i", "z"); (ra, dec) <- Seq((150.0, 2.0), (150.2, 2.1))) {
      FitsFixtures.writeFrame(
        imgDir.resolve(f"frame-$band-$run%06d-3-0001.fits").toString,
        band, run, 3, 1, 512, 372, ra, dec)
      run += 1
    }
    dir
  }

  // synthetic CCD gain/dark-variance tables; no assertion reads their values
  lazy val ccdConfig: String = {
    val dir = graft.TempDirs.create("pipeline-ccd").toString
    FitsFixtures.writeCcdConfig(dir)
    dir
  }

  lazy val spectra = Ingest.spectra(spark, root.resolve("spectra").toString).cache()
  lazy val images =
    Ingest.images(spark, root.resolve("images").toString, ccdConfig).cache()
  lazy val links = Link.linkCutouts(spectra, images).cache()

  test("ingest: 3 spectra and 10 images, 5 zoom levels each") {
    assert(spectra.count() == 3 * 5)
    assert(images.count() == 10 * 5)
    val z = spectra.collect().groupBy(_.zoom).view.mapValues(_.head.flux.length).toMap
    assert(z == Map(0 -> 4620, 1 -> 2310, 2 -> 1155, 3 -> 577, 4 -> 288))
    val iz = images.collect().groupBy(_.zoom)
      .view.mapValues(v => (v.head.width, v.head.height)).toMap
    assert(iz == Map(0 -> ((512, 372)), 1 -> ((256, 186)), 2 -> ((128, 93)),
      3 -> ((64, 46)), 4 -> ((32, 23))))
  }

  test("target A's spectra share an order-15 healpix cell; B differs") {
    val byId = spectra.filter(_.zoom == 0).collect().sortBy(_.fiberid)
    assert(byId(0).healpix == byId(1).healpix, "spectra 1,2 must share a target cell")
    assert(byId(0).healpix != byId(2).healpix)
  }

  test("link: each spectrum gets its target's 5 bands at every zoom, whole cutouts only") {
    val l = links.collect()
    // 3 spectra × 5 bands × 5 zooms
    assert(l.length == 3 * 5 * 5, s"got ${l.length}")
    assert(l.forall(c => c.x_max - c.x_min == 64 >> c.zoom))
    assert(l.forall(c => c.y_max - c.y_min == 64 >> c.zoom))
    // bounds inside the image at that zoom
    assert(l.forall(c => c.x_min >= 0 && c.y_min >= 0))
    val bands = l.filter(c => c.zoom == 0).groupBy(_.spec_id).view.mapValues(_.map(_.band).sorted.toSeq)
    assert(bands.values.forall(_ == Seq("g", "i", "r", "u", "z")))
  }

  test("ml cube: 2 targets × 5 zooms, 5 bands each, IVW stacking laws") {
    val ml = MlCube.build(spectra, links, images).collect()
    assert(ml.length == 2 * 5, s"got ${ml.length}")
    val byTz = ml.groupBy(r => (r.target_healpix, r.zoom))
    assert(byTz.values.forall(_.length == 1))
    assert(ml.forall(_.cutouts.length == 5))
    assert(ml.forall(_.cutouts.map(_.band).sorted.sameElements(Array("g", "i", "r", "u", "z"))))
    // spectral stack lengths follow the pyramid law
    val lens = ml.groupBy(_.zoom).view.mapValues(_.head.spec_flux.length).toMap
    assert(lens == Map(0 -> 4620, 1 -> 2310, 2 -> 1155, 3 -> 577, 4 -> 288))
    // cutout shapes 64/2^z (reference ml cube (2,5,16,16) at zoom 2)
    val z2 = ml.filter(_.zoom == 2)
    assert(z2.forall(_.cutouts.forall(c =>
      c.flux.length == 16 && c.flux.head.length == 16)))
    // target A has 2 spectra; identical inputs → stacked flux == input flux,
    // stacked sigma == sigma/sqrt(2)
    val a = ml.find(r => r.zoom == 0 && r.n_spectra == 2).get
    val one = spectra.filter(s => s.zoom == 0 && s.fiberid == 1).head()
    val i0 = one.flux.indexWhere(v => !v.isNaN)
    assert(math.abs(a.spec_flux(i0) - one.flux(i0)) < 1e-6 * math.abs(one.flux(i0)))
    assert(math.abs(a.spec_sigma(i0) - one.sigma(i0) / math.sqrt(2)) < 1e-6 * one.sigma(i0))
    val b = ml.find(r => r.zoom == 0 && r.n_spectra == 1).get
    assert(math.abs(b.spec_sigma(i0) - one.sigma(i0)) < 1e-6 * one.sigma(i0))
  }

  test("viz cube: spectral rows follow the pyramid law; cutout rows match link areas") {
    val sRows = VizCube.spectrumRows(spectra)
    assert(sRows.count() == 3L * (4620 + 2310 + 1155 + 577 + 288))
    val cRows = VizCube.cutoutRows(links, images)
    val expected = links.collect().map(c => (c.x_max - c.x_min) * (c.y_max - c.y_min)).sum
    assert(cRows.count() == expected)
    // per-pixel coords are in range and near the frame center
    val sample = cRows.filter(_.zoom == 4).take(20)
    assert(sample.forall(r => r.ra >= 149 && r.ra <= 151 && r.dec >= 1 && r.dec <= 3))
    assert(sample.forall(r => Healpix.nPix(19) > r.heal_id && r.heal_id >= 0))
  }

  test("sfr: FITS table source + positional concat + left merge (test_sfr.py semantics)") {
    val dir = graft.TempDirs.create("sfr")
    val info = dir.resolve("gal_info.fits").toString
    val fib = dir.resolve("gal_fibsfr.fits").toString
    // SFR catalog covers plates 1001 (both fibers) but not 1002
    FitsFixtures.writeGalTables(info, fib,
      Seq((1001, 53000, 1), (1001, 53050, 2), (999, 50000, 9)))
    val sfr = Sfr.sfrTable(spark, info, fib)
    assert(!sfr.columns.contains("PHOTOID")) // dropped like the reference
    assert(sfr.count() == 3)
    val merged = Sfr.mergeWithSpectraMetadata(Sfr.spectraMetadata(spectra), sfr)
    assert(merged.count() == 3) // all 3 spectra survive the left join
    assert(merged.filter(merged("MEDIAN").isNull).count() == 1) // spectrum 3 unmatched
  }

  test("BuildCube: full construction writes the partitioned layout; V3 reads back pruned") {
    val out = graft.TempDirs.create("out").toString
    val (s, plans) = CubePlans.collecting(spark)(BuildCube.build(spark,
      root.resolve("spectra").toString, root.resolve("images").toString,
      ccdConfig, out))
    // the viz write reruns the flatten for the range sample rather than
    // read it from a cache (the ingest and link caches it reads are fine)
    val vizWrites = plans.filter(p => CubePlans.writes(p._2, "viz_cube"))
    assert(vizWrites.size == 1, plans.map(_._1))
    assert(CubePlans.cachedFlattens(vizWrites.head._2).isEmpty, vizWrites.head._2)
    assert(s.spectra == 15 && s.images == 50)
    assert(s.links == 75)
    assert(s.mlRows == 10)
    val vizExpected = 3L * (4620 + 2310 + 1155 + 577 + 288) +
      links.collect().map(c => (c.x_max - c.x_min) * (c.y_max - c.y_min)).sum
    assert(s.vizRows == vizExpected)
    // ML read path: reference shape (2, 5, 16, 16) image cube and
    // (2, 1155) spectral cube at zoom 2 (test_export.py:94-99)
    val ml2 = BuildCube.readMlAtZoom(spark, out, 2).collect()
    assert(ml2.length == 2)
    ml2.foreach { r =>
      val imgCube = r.getSeq[Any](r.fieldIndex("image_cube"))
      assert(imgCube.length == 5) // bands
      val band0 = imgCube.head.asInstanceOf[scala.collection.Seq[_]]
      assert(band0.length == 16)
      assert(band0.head.asInstanceOf[scala.collection.Seq[_]].length == 16)
      assert(r.getSeq[Float](r.fieldIndex("spectral_cube")).length == 1155)
      assert(r.getSeq[Float](r.fieldIndex("spectral_errors")).length == 1155)
    }

    // V3: zoom-partition pruning on read-back
    val v3 = BuildCube.readVizAtZoom(spark, out, 3)
    assert(v3.count() == spark.read.parquet(s"$out/viz_cube")
      .where(org.apache.spark.sql.functions.col("zoom") === 3).count())
    val scan = v3.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters"), scan)
    // both read paths keep an inferred read's names, types and order
    // (Export and `.as[VizRow]` consume them): data columns, then `zoom`
    assert(Seq(v3.schema.simpleString,
      BuildCube.readMlAtZoom(spark, out, 2).schema.simpleString) == Seq(
      "struct<heal_id:bigint,ra:double,dec:double,time:double,wl:double," +
        "mean:double,sigma:double,fits_name:string,zoom:int>",
      "struct<target_healpix:bigint,image_cube:array<array<array<float>>>," +
        "image_errors:array<array<array<float>>>,spectral_cube:array<float>," +
        "spectral_errors:array<float>,n_spectra:int,spec_ids:array<bigint>," +
        "image_ids:array<bigint>>"))
  }

  test("similarity read path: nearest target by target_distance, top-k plan") {
    val ml = MlCube.build(spectra, links, images).cache()
    val targets = ml.filter(_.zoom == 2).collect().map(_.target_healpix).sorted
    val probe = targets.head
    val top = MlCube.similarTargets(ml, probe, zoom = 2, k = 5)
    val rows = top.collect()
    assert(rows.length == 1) // only one other target exists
    assert(rows.head.getLong(0) == targets(1))
    assert(rows.head.getDouble(1) >= 0.0)
    // top-k compiles to TakeOrderedAndProject, not a global sort
    assert(top.queryExecution.executedPlan.toString.contains("TakeOrderedAndProject"))
  }

  test("S2 manifest scan matches the directory scan and prunes unlisted rows") {
    // SDSS layout: imageRoot/301/{run}/{camcol}/frame-...-%04d.fits
    val mroot = graft.TempDirs.create("manifest")
    val imgRoot = mroot.resolve("images")
    val manifest = new StringBuilder("run,camcol,field\n")
    for ((band, run) <- Seq(("u", 2000), ("g", 2001))) {
      val d = imgRoot.resolve("301").resolve(run.toString).resolve("3")
      Files.createDirectories(d)
      FitsFixtures.writeFrame(d.resolve(f"frame-$band-$run%06d-3-0001.fits").toString,
        band, run, 3, 1, 64, 46, 150.0, 2.0)
      manifest.append(s"$run,3,1\n")
    }
    // same directory, field 2: listed dir but unlisted field — must be pruned
    FitsFixtures.writeFrame(
      imgRoot.resolve("301").resolve("2000").resolve("3")
        .resolve("frame-r-002000-3-0002.fits").toString,
      "r", 2000, 3, 2, 64, 46, 150.0, 2.0)
    // unlisted run entirely
    val dOther = imgRoot.resolve("301").resolve("2999").resolve("3")
    Files.createDirectories(dOther)
    FitsFixtures.writeFrame(dOther.resolve("frame-z-002999-3-0001.fits").toString,
      "z", 2999, 3, 1, 64, 46, 150.0, 2.0)
    val csv = mroot.resolve("manifest.csv")
    Files.writeString(csv, manifest.toString)

    val viaManifest = Ingest.imagesFromManifest(
      spark, csv.toString, imgRoot.toString, ccdConfig).collect()
    assert(viaManifest.length == 2 * 5, s"got ${viaManifest.length}")
    assert(viaManifest.map(_.run).toSet == Set(2000, 2001))
    assert(viaManifest.forall(_.field == 1))
    // identical observation rows to a direct directory scan of those files
    val viaScan = Ingest.images(spark, imgRoot.toString, ccdConfig)
      .collect().filter(o => o.field == 1 && o.run != 2999)
    assert(viaManifest.map(o => (o.image_id, o.zoom)).toSet ==
      viaScan.map(o => (o.image_id, o.zoom)).toSet)

    // spectra: spectraRoot/%04d(plate)/*.fits
    val specRoot = mroot.resolve("spectra")
    val (loglam, flux, ivar) = FitsFixtures.specGrid()
    Files.createDirectories(specRoot.resolve("1001"))
    Files.createDirectories(specRoot.resolve("1002"))
    FitsFixtures.writeSpectrum(specRoot.resolve("1001")
      .resolve("spec-1001-53000-0001.fits").toString,
      150.0, 2.0, 1001, 53000, 1, loglam, flux, ivar)
    FitsFixtures.writeSpectrum(specRoot.resolve("1002")
      .resolve("spec-1002-53100-0003.fits").toString,
      150.2, 2.1, 1002, 53100, 3, loglam, flux, ivar)
    val specCsv = mroot.resolve("spectra.csv")
    Files.writeString(specCsv, "plate\n1001\n")
    val sm = Ingest.spectraFromManifest(spark, specCsv.toString, specRoot.toString).collect()
    assert(sm.length == 5) // one spectrum × 5 zooms; plate 1002 pruned
    assert(sm.forall(_.plateid == 1001L))
  }

  test("export: VOTable and FITS sinks roundtrip the viz table") {
    val rows = VizCube.spectrumRows(spectra).filter(_.zoom == 4).collect().toSeq
    val dir = graft.TempDirs.create("export")
    val vot = dir.resolve("cube.vot.xml").toString
    assert(Export.writeVOTable(rows.iterator, vot) == rows.length)
    val xml = new String(Files.readAllBytes(java.nio.file.Paths.get(vot)))
    assert(xml.contains("<VOTABLE") && xml.contains("<TR>"))
    // heal_id must serialize as an integer, not a widened double
    assert(xml.contains(s"<TD>${rows.head.heal_id}</TD>"), xml.take(2000))

    // BINARY serialization (reference tabledata_format="binary") roundtrip
    val votBin = dir.resolve("cube_binary.vot.xml").toString
    assert(Export.writeVOTableBinary(rows.iterator, votBin) == rows.length)
    val binXml = new String(Files.readAllBytes(java.nio.file.Paths.get(votBin)))
    assert(binXml.contains("<BINARY>") && binXml.contains("encoding=\"base64\""))
    val back = Export.readVOTableBinary(votBin)
    assert(back.length == rows.length)
    back.zip(rows).foreach { case (g, e) =>
      assert(g.heal_id == e.heal_id)
      assert(math.abs(g.wl - e.wl) < 1e-12 && (g.mean == e.mean || (g.mean.isNaN && e.mean.isNaN)))
    }

    // distributed sink: each partition writes its own part file
    val partDir = dir.resolve("vot_parts").toString
    val ds4 = VizCube.spectrumRows(spectra).filter(_.zoom == 4).repartition(3)
    Export.writeVOTableBinaryPartitioned(ds4, partDir)
    val parts = new java.io.File(partDir).listFiles().filter(_.getName.endsWith(".vot.xml"))
    assert(parts.nonEmpty)
    assert(parts.map(p => Export.readVOTableBinary(p.toString).length).sum == rows.length)

    val fits = dir.resolve("cube.fits").toString
    Export.writeFitsTable(rows, fits)
    val bytes = Files.readAllBytes(java.nio.file.Paths.get(fits))
    val hdus = Fits.readHdus(bytes)
    val t = Fits.readBinTable(bytes, hdus(1))
    assert(t.nRows == rows.length)
    val wl0 = Fits.readDoubles(bytes, t, t.column("wl"), 0)(0)
    assert(math.abs(wl0 - rows.head.wl) < 1e-9)

    // distributed FITS sink: executor-side part files, rows conserved —
    // the unbounded-export path (the driver Seq API stays for small cubes)
    val fitsPartDir = dir.resolve("fits_parts").toString
    Export.writeFitsTablePartitioned(ds4, fitsPartDir)
    val fitsParts = new java.io.File(fitsPartDir).listFiles()
      .filter(_.getName.endsWith(".fits")).sortBy(_.getName)
    assert(fitsParts.length > 1, "expected a multi-partition FITS export")
    val partRows = fitsParts.map { p =>
      val b = Files.readAllBytes(p.toPath)
      val bt = Fits.readBinTable(b, Fits.readHdus(b)(1))
      // every part header carries its own patched, non-zero NAXIS2
      assert(bt.nRows > 0)
      bt.nRows
    }
    assert(partRows.sum == rows.length)
  }
}
