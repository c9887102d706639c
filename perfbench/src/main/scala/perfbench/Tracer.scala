package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

/** A timed call. `counts` is the listener delta over the call in a
  * traced run, and all zero in an untraced one. */
final case class Timed[T](value: T, seconds: Double, counts: Counts)

final case class Span(
    id: Int, name: String, startNs: Long, endNs: Long,
    parent: Option[Int], traceId: String, counts: Counts)

/** Times calls into the engine from outside. With tracing on, every call
  * becomes a span `{name, start, end, parent, trace_id}` carrying the
  * listener counts taken between its start and end; spans stay in memory
  * and [[write]] puts them in one file when the run ends. With tracing
  * off, a call costs two clock reads. */
final class Tracer(meter: Meter, val traced: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  private var trace = "t0"

  /** Spans until the next call share this trace id (one id per rep). */
  def newTrace(id: String): Unit = trace = id

  def apply[T](name: String)(body: => T): Timed[T] = {
    if (!traced) {
      val t0 = System.nanoTime()
      val v = body
      return Timed(v, (System.nanoTime() - t0) / 1e9, Counts())
    }
    val id = spans.length
    val parent = open.headOption
    spans += null // reserve the id so children numbered later nest under it
    open = id :: open
    val c0 = meter.snapshot()
    val t0 = System.nanoTime()
    try {
      val v = body
      val t1 = System.nanoTime()
      val c = meter.snapshot() - c0
      spans(id) = Span(id, name, t0, t1, parent, trace, c)
      Timed(v, (t1 - t0) / 1e9, c)
    } finally open = open.tail
  }

  def all: Seq[Span] = spans.filter(_ != null).toSeq

  /** A span's duration minus the part of it its children cover. */
  def selfSeconds(s: Span): Double = {
    val kids = all.filter(_.parent.contains(s.id)).map(k => (k.startNs, k.endNs)).sortBy(_._1)
    var covered = 0L
    var reach = s.startNs
    kids.foreach { case (a, b) =>
      val from = math.max(a, reach)
      if (b > from) { covered += b - from; reach = b }
    }
    (s.endNs - s.startNs - covered) / 1e9
  }

  def write(path: Path): Unit = {
    val t0 = all.headOption.map(_.startNs).getOrElse(0L)
    val lines = all.map { s =>
      val c = s.counts
      f"""{"id":${s.id},"name":"${s.name}","start_s":${(s.startNs - t0) / 1e9}%.6f,""" +
        f""""end_s":${(s.endNs - t0) / 1e9}%.6f,"parent":${s.parent.getOrElse(-1)},""" +
        f""""trace_id":"${s.traceId}","self_s":${selfSeconds(s)}%.6f,""" +
        s""""jobs":${c.jobs},"tasks":${c.tasks},"task_ms":${c.taskMs},"gc_ms":${c.gcMs},""" +
        s""""shuffle_bytes":${c.shuffleBytes},"spill_bytes":${c.spillBytes},""" +
        s""""input_bytes":${c.inputBytes},"input_records":${c.inputRecords},""" +
        s""""output_bytes":${c.outputBytes},"small_stage_tasks":${c.smallStageTasks}}"""
    }
    Files.createDirectories(path.getParent)
    Files.write(path, lines.mkString("[\n", ",\n", "\n]\n").getBytes(StandardCharsets.UTF_8))
  }
}
