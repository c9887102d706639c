package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.Row

/** The benchmark's own smoke test, at a tiny size: every workload runs
  * untraced and traced, every metric BENCHMARK.json names must come out
  * with its unit, no check may fire on the real outputs, and every check
  * must fire when fed a tampered value. Exits non-zero on any problem. */
object Smoke {

  val TinyCube: CubeFixtures.Size = CubeFixtures.Size(targets = 2, spectra = 6, width = 128, height = 96)
  val TinySlice: Seq[String] = Seq("q01_agg", "q11_ivw")

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = Paths.get(a("work")).toAbsolutePath
    val cpus = a("cpus").toInt
    val spark = Main.session(cpus, work)
    val meter = new Meter(spark.sparkContext)
    val problems = ArrayBuffer.empty[String]
    val json = new ObjectMapper()

    val spec = json.readTree(Files.readAllBytes(Paths.get(a("benchmark-json"))))
    def declared(key: String) =
      spec.get(key).elements().asScala.map(m => m.get("name").asText() -> m.get("unit").asText()).toMap
    val declaredE2e = declared("end_to_end")
    val declaredLayer = declared("per_layer")
    if (declaredE2e != Metrics.EndToEnd.toMap) problems += s"end_to_end in BENCHMARK.json != $declaredE2e"
    if (declaredLayer != Metrics.PerLayer.toMap) problems += "per_layer in BENCHMARK.json differs from Metrics.PerLayer"

    for (traced <- Seq(false, true)) {
      val ctx = new Ctx(spark, meter, new Tracer(meter, traced), 7L, 0, work)
      val runs: Seq[(String, Seq[(String, String)], Outcome => Unit)] = Seq(
        ("cube", Metrics.CubeBuild ++ Metrics.CubeUpdate, o => CubeWorkloads.cube(ctx, o, TinyCube, nNew = 2)),
        ("query_mix", Metrics.queryMix(TinySlice), o => QueryMix.run(ctx, o, Paths.get(a("data")), TinySlice)))
      runs.foreach { case (w, own, body) =>
        val out = new Outcome
        body(out)
        if (out.failed != 0 || out.attempted == 0)
          problems += s"$w traced=$traced: ${out.failed}/${out.attempted} failed: ${out.failures.mkString("; ")}"
        // the report fills the layer metrics of other workloads with 0, so
        // a workload's own ones are checked before it
        if (traced) problems ++= Metrics.unmeasured(own, out.layer).map(p => s"$w: $p")
        val m = json.readTree(Main.report(ctx, w, out, cpus).trim.split("\n").last).get("metrics")
        (if (traced) declaredLayer else declaredE2e).foreach { case (n, u) =>
          val got = Option(m.get(n))
          if (!got.exists(g => g.get("unit").asText() == u && g.get("value").isNumber))
            problems += s"$w traced=$traced: metric $n [$u] missing or not a number, got $got"
        }
      }
    }

    // every check fires on a tampered value and stays quiet on the true one
    def fires(name: String, clean: Seq[String], tampered: Seq[String]): Unit = {
      if (clean.nonEmpty) problems += s"check $name fired on clean input: $clean"
      if (tampered.isEmpty) problems += s"check $name did not fire on tampered input"
    }
    val layer = Metrics.CubeBuild.map { case (n, u) => n -> Metric(n, 1.0, u) }.toMap
    fires("unmeasured", Metrics.unmeasured(Metrics.CubeBuild, layer), Metrics.unmeasured(Metrics.CubeBuild, layer - "ml.s"))
    fires("unmeasured(NaN)", Nil, Metrics.unmeasured(Metrics.CubeBuild, layer.updated("ml.s", Metric("ml.s", Double.NaN, "s"))))
    fires("unmeasured(unit)", Nil, Metrics.unmeasured(Metrics.CubeBuild, layer.updated("ml.s", Metric("ml.s", 1.0, "ms"))))
    val counts = Map(("viz_cube", 0) -> 10L, ("ml_cube", 0) -> 2L)
    val dirs = Set("ml_cube/zoom=0/bucket=3", "viz_cube/zoom=0")
    val built = Seq(6L, 10L, 30L, 2L, 10L)
    fires("sameBuild", Checks.sameBuild(built, built, counts, counts, dirs, dirs),
      Checks.sameBuild(built, built.updated(3, 3L), counts, counts, dirs, dirs))
    fires("sameBuild(rows)", Nil, Checks.sameBuild(built, built, counts, counts.updated(("ml_cube", 0), 3L), dirs, dirs))
    fires("sameBuild(layout)", Nil, Checks.sameBuild(built, built, counts, counts, dirs, dirs + "ml_cube/zoom=0"))
    fires("rowCounts", Checks.rowCounts(counts, counts), Checks.rowCounts(counts, counts.updated(("ml_cube", 0), 3L)))
    fires("rowCounts(missing)", Nil, Checks.rowCounts(counts, counts - (("viz_cube", 0))))
    fires("linkCap", Checks.linkCap(200), Checks.linkCap(201))
    val five = CubeFixtures.Bands
    fires("bandComplete", Checks.bandComplete(Seq(five, five.reverse)), Checks.bandComplete(Seq(five, five.take(4))))
    val flux = Seq(Array(1f, 2f, Float.NaN, 1f), Array(3f, 4f, 5f, 2f))
    val sigma = Seq(Array(0.5f, 0f, 1f, 0f), Array(1f, 1f, Float.NaN, 0f))
    val mean = Checks.ivwMean(flux, sigma)
    val stored = mean.map(_.toFloat)
    fires("ivw", Checks.ivw(1L, mean, stored), Checks.ivw(1L, mean, stored.updated(0, stored(0) * 1.0001f)))
    fires("ivw(length)", Nil, Checks.ivw(1L, mean, stored.take(3)))
    val rows = Seq(Row(1L, 0.1 + 0.2, "a"), Row(2L, Double.NaN, null))
    val fp = Checks.fingerprint(Seq("k", "v", "s"), rows)
    if (Checks.fingerprint(Seq("k", "v", "s"), rows.reverse) != fp) problems += "fingerprint depends on row order"
    fires("fingerprint", Checks.fingerprintMatch("q", Some(fp), fp), Checks.fingerprintMatch("q", Some(fp),
      Checks.fingerprint(Seq("k", "v", "s"), rows.updated(0, Row(1L, 0.3001, "a")))))
    fires("fingerprint(rows)", Nil, Checks.fingerprintMatch("q", Some(fp), Checks.fingerprint(Seq("k", "v", "s"), rows.take(1))))
    // the IVW recomputation follows the reference's rules: zero or NaN
    // sigma adds no weight, a NaN flux adds weight but no flux, and zero
    // total weight gives NaN
    if (!(mean(0) == 7.0 / 5 && mean(1) == 4.0 && mean(2) == 0.0 && mean(3).isNaN))
      problems += s"ivwMean rules: ${mean.toSeq}"

    spark.stop()
    problems.foreach(p => println(s"smoke_problem $p"))
    println(if (problems.isEmpty) "smoke ok" else s"smoke FAILED (${problems.size} problems)")
    sys.exit(if (problems.isEmpty) 0 else 1)
  }
}
