package perfbench

import scala.collection.mutable

final case class Metric(name: String, value: Double, unit: String)

/** The benchmark's metric catalogue: every name a run may print, with its
  * unit. BENCHMARK.json lists the same names; the smoke test holds the
  * two together. */
object Metrics {

  /** Untraced runs report these on every workload. `op_s` is the wall
    * time of one timed operation: one build + update + read rep (`cube`,
    * median over reps), or the sum over the slice of each query's faster
    * run (`query_mix`). */
  val EndToEnd: Seq[(String, String)] =
    Seq("op_s" -> "s", "setup_s" -> "s", "peak_pinned_mb" -> "MB")

  val BuildPhases: Seq[String] =
    Seq("ingest_spectra", "ingest_images", "ingest_write", "link", "ml", "viz")
  val ReadKinds: Seq[String] = Seq("read_viz", "read_ml", "read_similar", "export")

  private val phaseStats = Seq("s" -> "s", "jobs" -> "count", "tasks" -> "count",
    "task_s" -> "s", "shuffle_mb" -> "MB", "gc_s" -> "s")

  val CubeBuild: Seq[(String, String)] =
    BuildPhases.flatMap(p => (phaseStats :+ ("rows" -> "count")).map { case (s, u) => s"$p.$s" -> u }) ++
      Seq("ml.spec_stack.s" -> "s", "ml.count_only_s" -> "s", "decode.spectrum_ms" -> "ms", "decode.frame_ms" -> "ms",
        "link.candidates_per_link" -> "ratio", "viz.rows_per_s" -> "rows/s",
        "build.spill_mb" -> "MB", "build.trace_overhead_s" -> "s")

  val CubeUpdate: Seq[(String, String)] =
    (phaseStats ++ Seq("read_mb" -> "MB", "written_mb" -> "MB")).map { case (s, u) => s"update.$s" -> u } ++
      Seq("update.read_per_new_byte" -> "ratio") ++
      ReadKinds.flatMap(r => Seq("s" -> "s", "jobs" -> "count", "input_mb" -> "MB", "rows" -> "count")
        .map { case (s, u) => s"$r.$s" -> u }) ++
      Seq("read_viz.scanned_per_returned" -> "ratio")

  /** The layer metrics `query_mix` measures when it runs `slice`. */
  def queryMix(slice: Seq[String]): Seq[(String, String)] =
    QuerySlice.families.map(_._1).flatMap(f => (phaseStats :+ ("small_stage_tasks" -> "count")).map { case (s, u) => s"$f.$s" -> u }) ++
      slice.map(q => s"q.$q.s" -> "s")

  def PerLayer: Seq[(String, String)] = CubeBuild ++ CubeUpdate ++ queryMix(QuerySlice.all)

  /** The names in `own` that a traced run left out of `layer`, or put in
    * with another unit or a value that is not finite. */
  def unmeasured(own: Seq[(String, String)], layer: collection.Map[String, Metric]): Seq[String] =
    own.collect {
      case (n, u) if !layer.get(n).exists(m => m.unit == u && java.lang.Double.isFinite(m.value)) =>
        s"layer metric $n [$u] not measured: got ${layer.get(n)}"
    }

  def mb(bytes: Long): Double = bytes / 1e6

  /** Layer stats from a listener delta, under `prefix.`. */
  def stats(prefix: String, seconds: Double, c: Counts): Seq[Metric] = Seq(
    Metric(s"$prefix.s", seconds, "s"),
    Metric(s"$prefix.jobs", c.jobs.toDouble, "count"),
    Metric(s"$prefix.tasks", c.tasks.toDouble, "count"),
    Metric(s"$prefix.task_s", c.taskMs / 1e3, "s"),
    Metric(s"$prefix.shuffle_mb", mb(c.shuffleBytes), "MB"),
    Metric(s"$prefix.gc_s", c.gcMs / 1e3, "s"))
}

/** What one workload run produced. */
final class Outcome {
  var attempted = 0
  var failed = 0
  var setupS = 0.0
  var opS: Double = Double.NaN
  var peakBytes = 0L
  val failures: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
  val layer: mutable.LinkedHashMap[String, Metric] = mutable.LinkedHashMap.empty
  /** Human-readable extras printed above the result line. */
  val notes: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty

  def put(ms: Metric*): Unit = ms.foreach(m => layer(m.name) = m)

  /** Counts one operation; it fails if it threw or any check fired. */
  def op(problems: Seq[String]): Unit = {
    attempted += 1
    lastFailed = problems.nonEmpty
    if (lastFailed) { failed += 1; failures ++= problems }
  }
  private var lastFailed = false

  /** A check on the last rep's full output: if it fires, that rep
    * fails (once). */
  def failLast(problems: Seq[String]): Unit = if (problems.nonEmpty) {
    if (!lastFailed) { failed += 1; lastFailed = true }
    failures ++= problems
  }
}
