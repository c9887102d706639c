package graft.functions

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Law: the native [[IvwStackAggregator]] computes exactly what the
  * encoder-based `Aggregator[(Seq[Double], Seq[Double]), …]` it replaced
  * computed. [[IvwStackLawSpec.Ref]] is a plain-Scala port of that
  * aggregator's zero/reduce/merge/finish; fed the same rows in the same
  * order the two agree bit for bit, and any merge order agrees to 1e-12
  * relative. */
class IvwStackLawSpec extends AnyFunSuite {
  import IvwStackLawSpec._

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val nan = Double.NaN
  private val inf = Double.PositiveInfinity

  /** (group, flux, sigma) — null arrays allowed. */
  private val rows: Seq[Obs] = {
    val rnd = new scala.util.Random(7)
    def wide(): Obs = Obs(4,
      // positive flux: no cancellation, so merge order moves only the
      // last bits and the 1e-12 relative bound below is meaningful
      Vector.fill(4620)(if (rnd.nextInt(50) == 0) nan else math.abs(rnd.nextGaussian()) * 3 + 0.5),
      Vector.fill(4620)(rnd.nextInt(40) match {
        case 0 => 0.0
        case 1 => nan
        case 2 => inf
        case _ => 0.05 + rnd.nextDouble()
      }))
    Seq(
      // NaN flux with a valid sigma; sigma in {0, NaN, +inf, -inf}
      Obs(1, Seq(1.0, nan, 3.0, 4.0, 5.0, 6.0), Seq(0.5, 2.0, 0.0, nan, inf, -inf)),
      Obs(1, Seq(2.0, 3.0, nan, 1.0, 2.0, -3.0), Seq(1.0, 1.5, 2.0, 0.25, 3.0, 1.0)),
      Obs(1, null, Seq(1.0)),
      Obs(1, Seq(1.0), null),
      Obs(1, Seq(-7.5, 0.3, 1e-3, 2.0, nan, 9.0), Seq(0.3, 0.7, 1.1, 0.0, 0.2, 1e-3)),
      // ragged: a later row longer than the first; sigma longer than flux
      Obs(2, Seq(1.0, 2.0, 3.0), Seq(1.0, 1.0, 1.0)),
      Obs(2, Seq(4.0, 5.0, 6.0, 7.0, 8.0), Seq(2.0, 0.5, 1.0, 1.0, 3.0, 9.0)),
      Obs(2, Seq(-1.0, 2.5), Seq(0.1, 0.2, 0.3)),
      // nothing valid at all: empty arrays out
      Obs(3, null, null),
      // full-resolution spectra
      wide(), wide(), wide())
  }

  private def stackDf(df: DataFrame): Map[Int, (Array[Double], Array[Double])] =
    df.groupBy(col("g"))
      .agg(IvwStackAggregator.stack(col("flux"), col("sigma")).as("r"))
      .select(col("g"), col("r._1"), col("r._2")).collect()
      .map((r: Row) => r.getInt(0) ->
        (r.getSeq[Double](1).toArray, r.getSeq[Double](2).toArray))
      .toMap

  /** Rows in input order through the reference: one partial buffer per
    * group (the single input partition), merged into a fresh buffer. */
  private def expected(in: Seq[Obs]): Map[Int, (Array[Double], Array[Double])] =
    in.groupBy(_.g).map { case (g, obs) =>
      val partial = obs.foldLeft(Ref.zero)((b, o) => Ref.reduce(b, o.flux, o.sigma))
      g -> Ref.finish(Ref.merge(Ref.zero, partial))
    }

  private def assertBitIdentical(
      got: Map[Int, (Array[Double], Array[Double])],
      want: Map[Int, (Array[Double], Array[Double])]): Unit = {
    assert(got.keySet == want.keySet)
    want.foreach { case (g, (mu, sg)) =>
      Seq("mu" -> (got(g)._1, mu), "sigma" -> (got(g)._2, sg)).foreach {
        case (what, (a, b)) =>
          assert(a.map(java.lang.Double.doubleToLongBits).toSeq ==
            b.map(java.lang.Double.doubleToLongBits).toSeq, s"g=$g $what")
      }
    }
  }

  test("double input: bit-identical to the reference fed in the same order") {
    import spark.implicits._
    val got = stackDf(rows.toDF().coalesce(1))
    assert(got(3)._1.isEmpty && got(3)._2.isEmpty)
    assert(got(2)._1.length == 5, "a later, longer row must grow the buffer")
    assert(got(4)._1.length == 4620)
    assertBitIdentical(got, expected(rows))
  }

  test("float input: read in place, bit-identical to the reference over widened floats") {
    import spark.implicits._
    val asFloat = rows.map(o => ObsF(o.g,
      Option(o.flux).map(_.map(_.toFloat)).orNull,
      Option(o.sigma).map(_.map(_.toFloat)).orNull))
    val widened = asFloat.map(o => Obs(o.g,
      Option(o.flux).map(_.map(_.toDouble)).orNull,
      Option(o.sigma).map(_.map(_.toDouble)).orNull))
    val df = asFloat.toDF().coalesce(1)
    assert(df.schema("flux").dataType.simpleString == "array<float>")
    assertBitIdentical(stackDf(df), expected(widened))
  }

  test("any merge order (repartition(7), sort-based fallback) agrees to 1e-12 relative") {
    import spark.implicits._
    // repeats so that every group spans several partitions
    val many = Seq.fill(5)(rows).flatten
    val want = expected(many)
    def check(got: Map[Int, (Array[Double], Array[Double])]): Unit = {
      assert(got.keySet == want.keySet)
      want.foreach { case (g, (mu, sg)) =>
        Seq((got(g)._1, mu), (got(g)._2, sg)).foreach { case (a, b) =>
          assert(a.length == b.length, s"g=$g")
          a.indices.foreach { i =>
            val ok = (a(i).isNaN && b(i).isNaN) || a(i) == b(i) ||
              math.abs(a(i) - b(i)) <= 1e-12 * math.max(math.abs(a(i)), math.abs(b(i)))
            assert(ok, s"g=$g i=$i: ${a(i)} vs ${b(i)}")
          }
        }
      }
    }
    check(stackDf(many.toDF().repartition(7)))
    // a one-key hash map forces the sort-based path, which keeps its
    // buffers serialized between rows
    val key = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, "1")
    try check(stackDf(many.toDF().repartition(7)))
    finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("non-vector inputs fail analysis") {
    import spark.implicits._
    val df = Seq((1, Seq(1, 2), Seq(1.0, 1.0))).toDF("g", "flux", "sigma")
    val e = intercept[org.apache.spark.sql.AnalysisException](stackDf(df))
    assert(e.getMessage.contains("array<float> or array<double>"), e.getMessage)
  }
}

object IvwStackLawSpec {
  final case class Obs(g: Int, flux: Seq[Double], sigma: Seq[Double])
  final case class ObsF(g: Int, flux: Seq[Float], sigma: Seq[Float])

  /** Plain-Scala port of the encoder-based aggregator's arithmetic. */
  object Ref {
    type Buf = (Array[Double], Array[Double])

    def zero: Buf = (Array.fill(0)(0.0), Array.fill(0)(0.0))

    private def grown(a: Array[Double], n: Int): Array[Double] =
      if (a.length >= n) a else java.util.Arrays.copyOf(a, n)

    def reduce(buf: Buf, flux: Seq[Double], sigma: Seq[Double]): Buf = {
      if (flux == null || sigma == null) return buf
      val m = math.min(flux.length, sigma.length)
      val sumW = grown(buf._1, m)
      val sumWF = grown(buf._2, m)
      var i = 0
      while (i < m) {
        val f = flux(i)
        val s = sigma(i)
        if (s != 0.0 && !s.isNaN && !s.isInfinite) {
          val w = 1.0 / (s * s)
          sumW(i) += w
          if (!f.isNaN) sumWF(i) += f * w
        }
        i += 1
      }
      (sumW, sumWF)
    }

    def merge(a: Buf, b: Buf): Buf = {
      val n = math.max(a._1.length, b._1.length)
      val sumW = grown(a._1, n)
      val sumWF = grown(a._2, n)
      var i = 0
      while (i < b._1.length) {
        sumW(i) += b._1(i)
        sumWF(i) += b._2(i)
        i += 1
      }
      (sumW, sumWF)
    }

    def finish(buf: Buf): Buf = {
      val (sumW, sumWF) = buf
      val n = sumW.length
      val mu = new Array[Double](n)
      val sg = new Array[Double](n)
      var i = 0
      while (i < n) {
        mu(i) = sumWF(i) / sumW(i)
        sg(i) = if (sumW(i) == 0.0) 0.0 else math.sqrt(1.0 / sumW(i))
        i += 1
      }
      (mu, sg)
    }
  }
}
