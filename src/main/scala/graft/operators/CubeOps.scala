package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.load
import graft.functions.IvwStackAggregator
import graft.syntax._

/** Cube-engine aggregation semantics exercised over the generic testdata
  * so the DuckDB oracle can gate them (the astronomy pipeline reuses the
  * same components on FITS-derived tables).
  */
object CubeOps {

  /** A1 element-wise IVW stack over vectors — groups embeddings by label
    * and stacks the 64-dim f32 vectors with per-row sigma, via the native
    * [[IvwStackAggregator]] (a `TypedImperativeAggregate`: partial-agg
    * friendly, only one buffer pair per group crosses the shuffle).
    * Result flattened to (label, idx) rows for the oracle.
    * (SURVEY §2.6 A1/A2)
    */
  def q30IvwStack(s: SparkSession, dir: String): DataFrame = {
    val sig = ($"vec_id" % 7).cast("double") * 0.1 + 0.5
    load(s, dir, "embeddings")
      .select(
        $"label",
        $"embedding".as("flux"),
        transform($"embedding", x => sig).as("sigma"))
      .groupBy($"label")
      .agg(IvwStackAggregator.stack($"flux", $"sigma").as("stk"))
      .select($"label", posexplode(col("stk._1")).as(Seq("pos", "mu")))
      .withColumn("idx", ($"pos" + 1).cast("long"))
      .select(
        $"label".cast("long").as("label"),
        $"idx",
        round($"mu", 5).as("mu"))
  }

  /** A2-shaped assembly filter: the "all 5 bands present" HAVING rule of
    * the ML cube, over (label-as-target, source-as-band): keep labels
    * observed in ≥ 3 sources with per-source counts. Exercises
    * count(distinct) + conditional aggregation in one pass. */
  def q31BandComplete(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "documents")
      .groupBy($"lang")
      .agg(
        countDistinct($"source").as("n_sources"),
        count(lit(1)).as("n_docs"))
      .filter($"n_sources" >= 3)

  val oracles: Map[String, String] = Map(
    "q30_ivw_stack" ->
      """WITH x AS (SELECT label, (vec_id % 7)*0.1 + 0.5 AS sig,
        |  CAST(unnest(embedding) AS DOUBLE) AS v,
        |  CAST(generate_subscripts(embedding,1) AS BIGINT) AS idx FROM embeddings)
        |SELECT CAST(label AS BIGINT) AS label, idx,
        |round(sum(v/(sig*sig))/sum(1.0/(sig*sig)),5) AS mu
        |FROM x GROUP BY 1,2""".stripMargin,
    "q31_band_complete" ->
      """SELECT lang, CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
        |CAST(count(*) AS BIGINT) AS n_docs
        |FROM documents GROUP BY 1 HAVING count(DISTINCT source) >= 3""".stripMargin,
  )
}
