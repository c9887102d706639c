package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Reference NaN/zero-sigma rules of the IVW stack
  * (`metadata_strategy_cube_ml.py:26-37`): sigma==0 and non-finite sigma
  * contribute nothing; NaN flux with a valid sigma is skipped in the
  * numerator ONLY — its weight still counts in both denominators (numpy
  * nansum with the where= guard on the divide, not the sums); zero total
  * weight → NaN mean (unguarded 0/0) but sigma' = 0 (guarded divide). */
class IvwSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("IvwStackAggregator matches hand-computed values and NaN rules") {
    import spark.implicits._
    val nan = Double.NaN
    val rows = Seq(
      // (group, flux, sigma)
      (1, Seq(2.0, 4.0, nan, 5.0), Seq(1.0, 2.0, 1.0, 0.0)),
      (1, Seq(6.0, 8.0, 3.0, 7.0), Seq(1.0, 2.0, 1.0, Double.PositiveInfinity)))
    val ivw = IvwStackAggregator.stack _
    val out = rows.toDF("g", "flux", "sigma")
      .groupBy($"g").agg(ivw($"flux", $"sigma").as("r"))
      .select(col("r._1").as("mu"), col("r._2").as("sg"))
      .head()
    val mu = out.getSeq[Double](0)
    val sg = out.getSeq[Double](1)

    // element 0: two obs sigma=1 → mean 4.0, sigma 1/sqrt(2)
    assert(math.abs(mu(0) - 4.0) < 1e-12)
    assert(math.abs(sg(0) - 1.0 / math.sqrt(2)) < 1e-12)
    // element 1: sigma=2 both → mean 6.0, sigma sqrt(1/(2*(1/4)))
    assert(math.abs(mu(1) - 6.0) < 1e-12)
    assert(math.abs(sg(1) - math.sqrt(2.0)) < 1e-12)
    // element 2: NaN flux skipped in numerator only — its weight (sigma=1)
    // still counts: mu = (0 + 3/1) / (1 + 1) = 1.5, sigma 1/sqrt(2)
    assert(math.abs(mu(2) - 1.5) < 1e-12)
    assert(math.abs(sg(2) - 1.0 / math.sqrt(2)) < 1e-12)
    // element 3: sigma 0 and inf excluded → no contributions →
    // NaN mean (0/0) but sigma' = 0 (reference's guarded divide)
    assert(mu(3).isNaN)
    assert(sg(3) == 0.0)
  }

  test("partial aggregation merge path (multi-partition) is identical") {
    import spark.implicits._
    val ivw = IvwStackAggregator.stack _
    val rows = (1 to 100).map(i => (i % 3, Seq(i.toDouble, 2.0 * i), Seq(1.0, 2.0)))
    val df = rows.toDF("g", "flux", "sigma").repartition(7)
    val got = df.groupBy($"g").agg(ivw($"flux", $"sigma").as("r"))
      .select($"g", col("r._1").as("mu")).collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    (0 until 3).foreach { g =>
      val xs = rows.filter(_._1 == g).map(_._2.head)
      val expect = xs.sum / xs.length // equal weights → plain mean
      assert(math.abs(got(g)(0) - expect) < 1e-9, s"g=$g")
    }
  }
}
