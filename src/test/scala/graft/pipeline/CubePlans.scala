package graft.pipeline

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Executed-plan probes shared by the cube build and update tests. */
object CubePlans {

  /** Every physical node of `p`, through adaptive plans, query stages,
    * reused exchanges, subqueries and cached relations. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case r: ReusedExchangeExec => nodes(r.child)
    case m: InMemoryTableScanExec => nodes(m.relation.cachedPlan)
    case o => (o.children ++ o.subqueries).flatMap(nodes)
  })

  /** Whether `p` writes files into the cube table `table`. */
  def writes(p: SparkPlan, table: String): Boolean = nodes(p).exists {
    case DataWritingCommandExec(i: InsertIntoHadoopFsRelationCommand, _) =>
      i.outputPath.getName == table
    case _ => false
  }

  /** The in-memory scans in `p` of a cached viz flatten: a cached
    * relation with a `heal_id` column, which no ingest table, link or
    * ML row has. */
  def cachedFlattens(p: SparkPlan): Seq[InMemoryTableScanExec] = nodes(p).collect {
    case m: InMemoryTableScanExec if m.relation.output.exists(_.name == "heal_id") => m
  }

  /** `body`'s result and the executed plan of every query it ran,
    * keyed by the listener's function name. */
  def collecting[T](spark: SparkSession)(body: => T): (T, Seq[(String, SparkPlan)]) = {
    val plans = new ConcurrentLinkedQueue[(String, SparkPlan)]()
    val collector = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        plans.add(funcName -> qe.executedPlan); ()
      }
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    ListenerBusDrain(spark.sparkContext)
    spark.listenerManager.register(collector)
    val out = try body finally {
      ListenerBusDrain(spark.sparkContext)
      spark.listenerManager.unregister(collector)
    }
    (out, plans.asScala.toSeq)
  }
}
