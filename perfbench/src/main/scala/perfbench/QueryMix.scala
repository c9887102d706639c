package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import graft.SparkEntry

/** The fixed slice of `SparkEntry.queries` the `query_mix` workload runs,
  * by family. */
object QuerySlice {
  val families: Seq[(String, Seq[String])] = Seq(
    "olap" -> Seq("q01_agg", "q03_join_agg", "q34_cube", "q237_star_join"),
    "astro" -> Seq("q08_pyramid_explode", "q11_ivw", "q30_ivw_stack", "q42_disc_cover"),
    "summary" -> Seq("q243_summary_rewrite", "q261_summary_rollup"),
    "graph" -> Seq("q197_triangles", "q205_label_prop"),
    "stream" -> Seq("q90_stream_interval_join"))
  val all: Seq[String] = families.flatMap(_._2)
}

/** `query_mix`: passes over the slice in a seeded order, each query timed
  * from plan to collected rows and checked against its recorded
  * fingerprint. The tables are the committed sf0.01 testdata, copied to
  * scratch so that queries staging artifacts next to their inputs leave
  * the checkout clean. */
object QueryMix {

  val FingerprintFile = "fingerprints.tsv"
  val SetupReps = 3
  val Reps = 2

  def loadFingerprints(data: Path): Map[String, (Long, String)] =
    Files.readAllLines(data.resolve(FingerprintFile)).asScala.toSeq
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\t")).map(a => a(0) -> (a(1).toLong, a(2))).toMap

  private def runQuery(ctx: Ctx, dir: String, q: String): Timed[(Long, String)] = {
    val rows = ctx.trace(q) {
      val df = SparkEntry.queries(q)(ctx.spark, dir)
      (df.columns.toSeq, df.collect().toSeq)
    }
    Timed(Checks.fingerprint(rows.value._1, rows.value._2), rows.seconds, rows.counts)
  }

  private def copyTables(ctx: Ctx, data: Path): String = {
    val dir = ctx.fresh("tables")
    Files.list(data).iterator().asScala.filter(_.toString.endsWith(".parquet"))
      .foreach(p => Ctx.copy(p, dir.resolve(p.getFileName.toString)))
    dir.toString
  }

  /** One set-up: copy the tables to scratch and read every one of them
    * in full. */
  private def setUp(ctx: Ctx, data: Path): String = {
    val dir = copyTables(ctx, data)
    graft.Tables.names.foreach(t => ctx.materialize(graft.Tables.load(ctx.spark, dir, t)))
    dir
  }

  /** Set-up is [[SetupReps]] table set-ups; the median counts. A timed
    * pass visits the slice in a seeded order and runs each query [[Reps]]
    * times back to back; a query counts its fastest run, as `graft.Bench`
    * does: even on a warm JVM, its first run after another query is
    * 20-50% slower than the next one. */
  def run(ctx: Ctx, out: Outcome, data: Path, slice: Seq[String]): Unit = {
    val expected = loadFingerprints(data)
    var dir = ""
    val setup = (1 to SetupReps).map { _ =>
      val t0 = System.nanoTime()
      dir = setUp(ctx, data)
      (System.nanoTime() - t0) / 1e9
    }
    out.setupS = Ctx.median(setup)
    out.notes += setup.map(t => f"$t%.3f").mkString("table_setup_s ", " ", "")

    val rnd = new Random(ctx.seed)
    val runs = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val counts = mutable.Map.empty[String, Counts]
    ctx.measure(ctx.seconds) { pass =>
      ctx.trace.newTrace(s"pass-$pass")
      rnd.shuffle(slice).foreach { q =>
        val reps = (1 to Reps).map { _ =>
          // reap dead shuffle and broadcast state outside the timed calls,
          // so a query's time does not depend on what ran before it
          System.gc()
          ctx.pinned(out)(runQuery(ctx, dir, q))
        }
        runs.getOrElseUpdate(q, mutable.ArrayBuffer.empty) ++= reps.map(_.seconds)
        counts.getOrElseUpdate(q, reps.last.counts)
        out.op(reps.flatMap(r => Checks.fingerprintMatch(q, expected.get(q), r.value)).distinct)
      }
    }
    def time(q: String) = runs(q).min
    out.opS = slice.map(time).sum
    out.notes += f"query_total_s ${out.opS}%.4f passes ${runs.head._2.size / Reps}"
    slice.foreach(q => out.notes += runs(q).map(t => f"$t%.3f").mkString(s"q $q ", " ", ""))
    slice.foreach(q => out.put(Metric(s"q.$q.s", time(q), "s")))
    QuerySlice.families.foreach { case (f, all) =>
      val qs = all.filter(slice.contains)
      val c = qs.map(counts).foldLeft(Counts())(_ + _)
      out.put(Metrics.stats(f, qs.map(time).sum, c) :+
        Metric(s"$f.small_stage_tasks", c.smallStageTasks.toDouble, "count"): _*)
    }
  }

  /** Writes the fingerprint file for the slice from this tree's results. */
  def record(ctx: Ctx, data: Path, target: Path): Unit = {
    val dir = copyTables(ctx, data)
    val lines = QuerySlice.all.map { q =>
      val (n, h) = runQuery(ctx, dir, q).value
      s"$q\t$n\t$h"
    }
    Files.write(target, (("# query\trows\tsha256/12 of sorted canonical rows") +: lines)
      .mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    lines.foreach(println)
  }
}
