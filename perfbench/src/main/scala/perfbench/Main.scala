package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Everything a workload needs: the session, the listener, the tracer,
  * the seed, the measuring time and a scratch directory of its own. */
final class Ctx(
    val spark: SparkSession, val meter: Meter, val trace: Tracer,
    val seed: Long, val seconds: Int, val work: Path) {

  /** Runs the whole plan and drops the rows: the full output is computed,
    * unlike `.count()`, which Catalyst prunes down to a row count. */
  def materialize(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def fresh(name: String): Path = { Ctx.rm(work.resolve(name)); Files.createDirectories(work.resolve(name)) }

  /** Closed loop, one client: runs `rep` back to back for `seconds`,
    * at least `minReps` times, and starts no further rep that would end
    * past `seconds` at the mean pace so far. */
  def measure(seconds: Double, minReps: Int = 1)(rep: Int => Unit): Unit = {
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var n = 0
    while (n < minReps || elapsed * (n + 1) / n <= seconds) { rep(n); n += 1 }
  }

  /** A timed segment: the most bytes pinned at once by blocks it created
    * counts toward the run's peak, so the figure depends neither on what
    * earlier segments left behind nor on when their blocks are cleaned. */
  def pinned[T](out: Outcome)(body: => T): T = {
    meter.resetPeak()
    val v = body
    out.peakBytes = math.max(out.peakBytes, meter.peakBytes())
    v
  }
}

object Ctx {
  def rm(p: Path): Unit = {
    val f = p.toFile
    if (f.isDirectory) f.listFiles().foreach(c => rm(c.toPath))
    f.delete(); ()
  }

  def copy(from: Path, to: Path): Unit = {
    import scala.jdk.CollectionConverters._
    Files.walk(from).iterator().asScala.foreach { p =>
      val t = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    }
  }

  def median(xs: Iterable[Double]): Double = {
    val s = xs.toIndexedSeq.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** Benchmark entry point:
  * `Main --workload <cube|query_mix> --seed <n>
  *  --seconds <s> --trace <0|1> --work <dir> --cpus <n> --data <dir>`.
  * Prints every metric as `metric <name> <value> <unit>` lines, then one
  * JSON result line last. */
object Main {

  def session(cpus: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.maxMetadataStringLength", "500")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val work = Paths.get(a("work")).toAbsolutePath
    Files.createDirectories(work)
    val cpus = a("cpus").toInt
    val t0 = System.nanoTime()
    val spark = session(cpus, work)
    val meter = new Meter(spark.sparkContext)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val ctx = new Ctx(spark, meter, new Tracer(meter, a("trace") == "1"),
      a("seed").toLong, a("seconds").toInt, work)
    val out = new Outcome
    try workload match {
      case "cube" => CubeWorkloads.cube(ctx, out, CubeWorkloads.Size)
      case "query_mix" => QueryMix.run(ctx, out, Paths.get(a("data")), QuerySlice.all)
      case "record_fingerprints" => QueryMix.record(ctx, Paths.get(a("data")), Paths.get(a("out")))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    } catch {
      case t: Throwable =>
        t.printStackTrace()
        out.attempted += 1
        out.failed += 1
        out.failures += s"$workload aborted: $t"
    }
    // session start runs no engine code and is left out of setup_s
    out.notes += f"session_s $sessionS%.3f"
    print(report(ctx, workload, out, cpus))
    spark.stop()
  }

  def report(ctx: Ctx, workload: String, out: Outcome, cpus: Int): String = {
    val e2e = Seq(
      Metric("op_s", out.opS, "s"),
      Metric("setup_s", out.setupS, "s"),
      Metric("peak_pinned_mb", Metrics.mb(out.peakBytes), "MB"))
    val metrics =
      if (!ctx.trace.traced) e2e
      else Metrics.PerLayer.map { case (n, u) => out.layer.getOrElse(n, Metric(n, 0.0, u)) }
    if (ctx.trace.traced) ctx.trace.write(ctx.work.resolve(s"trace-$workload-${ctx.seed}.json"))
    val failedRatio = out.failed.toDouble / math.max(1, out.attempted)
    val correct = out.failed == 0 && out.attempted > 0
    val sb = new StringBuilder
    out.failures.foreach(f => sb ++= s"check_failed $f\n")
    out.notes.foreach(n => sb ++= s"$n\n")
    sb ++= s"env cpus=$cpus heap_max_mb=${Runtime.getRuntime.maxMemory >> 20} " +
      s"workload=$workload seed=${ctx.seed} seconds=${ctx.seconds} trace=${ctx.trace.traced}\n"
    (metrics :+ Metric("failed_ratio", failedRatio, "ratio")).foreach { m =>
      sb ++= s"metric ${m.name} ${m.value} ${m.unit}\n"
    }
    val js = metrics.map(m => s""""${m.name}":{"value":${json(m.value)},"unit":"${m.unit}"}""")
      .mkString("{", ",", "}")
    sb ++= s"""{"correct":$correct,"attempted":${out.attempted},"failed":${out.failed},"metrics":$js}""" + "\n"
    sb.toString
  }

  private def json(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString
}
