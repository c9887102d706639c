package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, UnaryNode, Window, WindowGroupLimit}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

/** Whole-operator Catalyst extension: grouped top-k without sorting.
  *
  * `row_number().over(partitionBy(k).orderBy(o)) <= k` — the standard
  * "top N per key" idiom — executes as a full per-partition SORT of
  * every group (Spark's WindowExec sorts the whole partition, then the
  * filter throws away all but k rows). At corpus scale that is the
  * dominant cost of every per-key report: sort n·log n rows to keep k.
  *
  * This module swaps the physical plan, not the API: an optimizer
  * [[TopKRewriteRule]] recognizes the filtered-row_number shape in the
  * OPTIMIZED logical plan and replaces it with a [[TopKPerKeyNode]],
  * which [[TopKPerKeyStrategy]] plans as two [[TopKPerKeyExec]] stages —
  * per-partition bounded heaps (size k per key, the map-side combine),
  * one shuffle of the ≤ k·keys survivors, then a final heap pass.
  *
  * What this buys (measured once by a since-deleted benchmark main,
  * `TopKBench`, recoverable from git history): CPU is ~parity
  * with Spark 4's own sort-based WindowGroupLimit at in-memory local
  * scale (both scan-bound; radix sort is fast) — the win is MEMORY:
  * WindowGroupLimit's partial stage SORTS the whole map partition, so
  * its footprint is the partition (and under executor pressure, a
  * spill); the heap stage holds k rows per key regardless of partition
  * size. At 100 TB with wide document rows that is the difference
  * between a streaming pass and a spilling sort.
  *
  * The rewrite only fires when the rank column itself is dropped by the
  * enclosing projection (kept rank = the caller wants the numbers, not
  * just the rows) and the rank bound is a literal. All three rank-like
  * idioms are covered: `row_number` (bounded heap, exactly k rows per
  * key), and `rank`/`dense_rank` (ordered tie-buckets — every row tied
  * at or above the k-th value / k-th distinct value survives, exactly
  * the window semantics; the buckets hold only rows that ARE the
  * answer, so memory is output-bounded). Tie handling matches
  * row_number exactly when the window order is total; under a non-total
  * order row_number is itself nondeterministic, and the heap returns
  * one of the same admissible subsets — rank/dense_rank outputs are
  * tie-deterministic SETS either way.
  *
  * Registered per-session by [[TopKPerKey.install]] (idempotent, wired
  * into `graft.Tables.load`) or for SQL-only surfaces via
  * `spark.sql.extensions=graft.plans.GraftExtensions`.
  */
sealed trait RankKind extends Serializable
case object RowNumberKind extends RankKind
case object RankValueKind extends RankKind
case object DenseRankKind extends RankKind

case class TopKPerKeyNode(
    grouping: Seq[Expression], ordering: Seq[SortOrder], k: Int,
    kind: RankKind, child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): LogicalPlan =
    copy(child = newChild)
}

object TopKRewriteRule extends Rule[LogicalPlan] {

  private def kindOf(fn: Expression): Option[RankKind] = fn match {
    case RowNumber() => Some(RowNumberKind)
    case _: Rank => Some(RankValueKind)
    case _: DenseRank => Some(DenseRankKind)
    case _ => None
  }

  /** rank-bound forms: rk <= K, rk < K, rk = 1. */
  private def bound(cond: Expression): Option[(Attribute, Int)] = cond match {
    case LessThanOrEqual(a: Attribute, Literal(k: Int, _)) => Some((a, k))
    case LessThan(a: Attribute, Literal(k: Int, _)) => Some((a, k - 1))
    case EqualTo(a: Attribute, Literal(1, _)) => Some((a, 1))
    case GreaterThanOrEqual(Literal(k: Int, _), a: Attribute) => Some((a, k))
    case GreaterThan(Literal(k: Int, _), a: Attribute) => Some((a, k - 1))
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case p @ Project(projectList,
        Filter(cond, w @ Window(Seq(Alias(WindowExpression(rankFn, spec), _)), part, order, child, _)))
      if spec.partitionSpec == part && spec.orderSpec == order &&
        kindOf(rankFn).isDefined =>
      bound(cond) match {
        case Some((rankAttr, k)) if k > 0 &&
            w.windowOutputSet.contains(rankAttr) &&
            // the projection must drop the rank column and reference
            // only the window INPUT — then rows-only top-k is enough
            projectList.forall(_.references.subsetOf(child.outputSet)) =>
          // Spark's own InferWindowGroupLimit has usually already slid a
          // sort-based WindowGroupLimit below the window by the time user
          // rules run — unwrap it, or the heap operator would run on top
          // of the very sort it exists to remove
          val source = child match {
            case wgl: WindowGroupLimit if wgl.partitionSpec == part &&
              wgl.orderSpec == order => wgl.child
            case c => c
          }
          Project(projectList,
            TopKPerKeyNode(part, order, k, kindOf(rankFn).get, source))
        case _ => p
      }
  }
}

object TopKPerKeyStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKeyNode(g, o, k, kind, child) =>
      val partial = TopKPerKeyExec(g, o, k, kind, partial = true, planLater(child))
      TopKPerKeyExec(g, o, k, kind, partial = false, partial) :: Nil
    case _ => Nil
  }
}

/** Per-key tie-bucket store for rank/dense_rank top-k: a TreeMap from
  * order-key (a representative row, compared by the window ordering) to
  * the rows tied at that value. Pruning drops whole trailing buckets the
  * moment they can no longer hold a qualifying row, so the store only
  * ever holds rows that are currently part of the answer:
  *  - rank ≤ k       ⇔ value ≤ k-th smallest value (with multiplicity):
  *                     drop the last bucket while the rows BEFORE it
  *                     already number ≥ k;
  *  - dense_rank ≤ k ⇔ value among the k smallest DISTINCT values:
  *                     drop the last bucket while there are > k buckets.
  */
private final class RankBuckets(
    ord: java.util.Comparator[InternalRow], k: Int, dense: Boolean) {
  private val tm =
    new java.util.TreeMap[InternalRow, java.util.ArrayList[InternalRow]](ord)
  private var total = 0

  def add(row: InternalRow): Unit = {
    if (!tm.isEmpty && ord.compare(row, tm.lastKey()) > 0) {
      // strictly worse than the current last bucket: qualifies only if
      // that bucket is itself unsaturated (otherwise skip the copy)
      val lastRows = tm.lastEntry().getValue.size
      val before = total - lastRows
      if (dense) { if (tm.size >= k) return }
      else if (before + lastRows >= k) return
    }
    val existing = tm.get(row)
    if (existing != null) existing.add(row.copy())
    else {
      val l = new java.util.ArrayList[InternalRow]()
      val copy = row.copy()
      l.add(copy)
      tm.put(copy, l)
    }
    total += 1
    if (dense) {
      while (tm.size > k) total -= tm.pollLastEntry().getValue.size
    } else {
      while (tm.size > 1 && total - tm.lastEntry().getValue.size >= k)
        total -= tm.pollLastEntry().getValue.size
    }
  }

  def rows: Iterator[InternalRow] = {
    import scala.jdk.CollectionConverters._
    tm.values.asScala.iterator.flatMap(_.iterator.asScala)
  }
}

/** Bounded-heap grouped top-k. `partial = true` runs before the
  * exchange (per map partition — lossless for all three rank kinds: a
  * row in the global answer is ≤ its partition-local threshold, since a
  * partition's k-th (distinct) value can only be ≥ the global one); the
  * final stage demands clustering on the grouping keys, so
  * EnsureRequirements inserts exactly one hash exchange of the pruned
  * survivors. */
case class TopKPerKeyExec(
    grouping: Seq[Expression], ordering: Seq[SortOrder], k: Int,
    kind: RankKind, partial: Boolean, child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def nodeName: String =
    if (partial) "TopKPerKeyPartial" else "TopKPerKey"

  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) UnspecifiedDistribution :: Nil
    else ClusteredDistribution(grouping) :: Nil

  override protected def doExecute(): RDD[InternalRow] = {
    val groupingExprs = grouping
    val orderingExprs = ordering
    val limit = k
    val rankKind = kind
    val childOutput = child.output
    child.execute().mapPartitions { it =>
      val keyProj = UnsafeProjection.create(groupingExprs, childOutput)
      val ord = RowOrdering.create(orderingExprs, childOutput)
      rankKind match {
        case RowNumberKind =>
          // max-heap on the CURRENT WORST of the kept k (peek = first to evict)
          val cmp = new java.util.Comparator[InternalRow] {
            override def compare(a: InternalRow, b: InternalRow): Int = ord.compare(b, a)
          }
          val heaps = new java.util.HashMap[UnsafeRow, java.util.PriorityQueue[InternalRow]]()
          while (it.hasNext) {
            val row = it.next()
            val key = keyProj(row)
            var q = heaps.get(key)
            if (q == null) {
              q = new java.util.PriorityQueue[InternalRow](limit.min(16).max(1), cmp)
              heaps.put(key.copy(), q)
            }
            if (q.size < limit) q.add(row.copy())
            else if (ord.compare(row, q.peek()) < 0) { q.poll(); q.add(row.copy()) }
          }
          import scala.jdk.CollectionConverters._
          heaps.values.asScala.iterator.flatMap(_.iterator.asScala)
        case _ =>
          val dense = rankKind == DenseRankKind
          val groups = new java.util.HashMap[UnsafeRow, RankBuckets]()
          while (it.hasNext) {
            val row = it.next()
            val key = keyProj(row)
            var b = groups.get(key)
            if (b == null) {
              b = new RankBuckets(ord, limit, dense)
              groups.put(key.copy(), b)
            }
            b.add(row)
          }
          import scala.jdk.CollectionConverters._
          groups.values.asScala.iterator.flatMap(_.rows)
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): SparkPlan =
    copy(child = newChild)
}

object TopKPerKey {
  /** Idempotent per-session registration of the rewrite + strategy. */
  def install(spark: SparkSession): Unit = {
    if (!spark.experimental.extraStrategies.contains(TopKPerKeyStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ TopKPerKeyStrategy
    if (!spark.experimental.extraOptimizations.contains(TopKRewriteRule))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ TopKRewriteRule
  }
}
