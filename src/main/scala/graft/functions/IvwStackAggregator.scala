package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._

/** Element-wise inverse-variance-weighted stack over (flux, sigma)
  * vectors — the reference's ML-cube aggregation
  * (`metadata_strategy_cube_ml.py:26-37`):
  *
  *   mu_i     = Σ_k (f_ki / s_ki²) / Σ_k (1 / s_ki²)
  *   sigma'_i = sqrt(1 / Σ_k (1 / s_ki²))
  *
  * Reference NaN rules preserved exactly (numpy semantics of
  * `metadata_strategy_cube_ml.py:28-37`): the `where=flux_sigma!=0` guard
  * zeroes both weight terms when sigma==0 (and NaN/Inf sigma contributes
  * nothing via `nansum` / 1/inf²=0); but a NaN flux with a valid sigma is
  * skipped only in the NUMERATOR (`nansum` of f/s²) while its weight 1/s²
  * still counts in both denominators. Elements with zero total weight
  * yield NaN mean (0/0, unguarded divide at line 33) and sigma' = 0 (the
  * guarded `np.divide(1, sigma_sum, zeros, where=sigma_sum!=0)` at 35-36).
  * A NULL flux or sigma array skips its row; a NULL element reads as NaN.
  *
  * Accumulation is f64 (reference computes f64, stores f32 —
  * `metadata_strategy_cube_ml.py:27,37`); `array<float>` and
  * `array<double>` inputs are read element by element in place from
  * `ArrayData`, so no cast pass or encoder copy feeds the stack. The
  * caller decides whether to cast the result down to f32.
  *
  * A `TypedImperativeAggregate` over a pair of `double[]` sums (the
  * [[graft.plans.HllSummary]] pattern): it plans as ObjectHashAggregate,
  * so map-side combine reduces each partition to one (ΣW, ΣWF) buffer
  * pair per group before the shuffle — the 100 TB path moves only
  * #groups × 2×n doubles, serialized as raw doubles.
  *
  * The buffer grows to the longest observation seen, so one aggregate
  * serves every zoom level (4620/2^zoom spectra, flattened cutouts) — no
  * per-zoom plan specialization needed. Output:
  * `struct<_1: array<double> (mu), _2: array<double> (sigma')>`.
  */
case class IvwStackAggregator(
    flux: Expression, sigma: Expression,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[IvwStackAggregator.Sums]
    with BinaryLike[Expression] {
  import IvwStackAggregator._

  override def left: Expression = flux
  override def right: Expression = sigma

  override def checkInputDataTypes(): TypeCheckResult =
    Seq(flux, sigma).find(e => !isVector(e.dataType)) match {
      case Some(e) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName takes array<float> or array<double>, got ${e.dataType.simpleString}")
      case None => TypeCheckResult.TypeCheckSuccess
    }

  @transient private lazy val fluxF = isFloat(flux.dataType)
  @transient private lazy val sigmaF = isFloat(sigma.dataType)

  override def createAggregationBuffer(): Sums = new Sums(Empty, Empty)

  /** buffer = (Σ 1/s², Σ f/s²) per element */
  override def update(buf: Sums, input: InternalRow): Sums = {
    val fa = flux.eval(input).asInstanceOf[ArrayData]
    val sa = sigma.eval(input).asInstanceOf[ArrayData]
    if (fa == null || sa == null) return buf
    val m = math.min(fa.numElements(), sa.numElements())
    buf.grow(m)
    val sumW = buf.w
    val sumWF = buf.wf
    var i = 0
    while (i < m) {
      val f = elem(fa, i, fluxF)
      val s = elem(sa, i, sigmaF)
      if (s != 0.0 && !s.isNaN && !s.isInfinite) {
        val w = 1.0 / (s * s)
        sumW(i) += w
        if (!f.isNaN) sumWF(i) += f * w
      }
      i += 1
    }
    buf
  }

  override def merge(a: Sums, b: Sums): Sums = {
    a.grow(b.w.length)
    var i = 0
    while (i < b.w.length) {
      a.w(i) += b.w(i)
      a.wf(i) += b.wf(i)
      i += 1
    }
    a
  }

  /** (mu, sigma') — where nothing contributed: mu = NaN (numpy's
    * unguarded 0/0) but sigma' = 0 (the reference's guarded divide). */
  override def eval(buf: Sums): Any = {
    val n = buf.w.length
    val mu = new Array[Double](n)
    val sg = new Array[Double](n)
    var i = 0
    while (i < n) {
      mu(i) = buf.wf(i) / buf.w(i)
      sg(i) = if (buf.w(i) == 0.0) 0.0 else math.sqrt(1.0 / buf.w(i))
      i += 1
    }
    InternalRow(new GenericArrayData(mu), new GenericArrayData(sg))
  }

  /** Raw doubles: n of ΣW, then n of ΣWF. */
  override def serialize(buf: Sums): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(buf.w.length * 16)
    bb.asDoubleBuffer().put(buf.w).put(buf.wf)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Sums = {
    val n = bytes.length / 16
    val w = new Array[Double](n)
    val wf = new Array[Double](n)
    java.nio.ByteBuffer.wrap(bytes).asDoubleBuffer().get(w).get(wf)
    new Sums(w, wf)
  }

  override def dataType: DataType = OutputType
  override def nullable: Boolean = false
  override def withNewMutableAggBufferOffset(n: Int): IvwStackAggregator =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): IvwStackAggregator =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): IvwStackAggregator =
    copy(flux = l, sigma = r)
  override def prettyName: String = Name
}

object IvwStackAggregator {

  /** Aggregation buffer: the two running sums, zero-extended on demand. */
  final class Sums(var w: Array[Double], var wf: Array[Double]) {
    def grow(n: Int): Unit = if (w.length < n) {
      w = java.util.Arrays.copyOf(w, n)
      wf = java.util.Arrays.copyOf(wf, n)
    }
  }

  private val Empty = new Array[Double](0)
  private val Name = "graft_ivw_stack"
  private val OutputType = StructType(Seq(
    StructField("_1", ArrayType(DoubleType, containsNull = false), nullable = false),
    StructField("_2", ArrayType(DoubleType, containsNull = false), nullable = false)))

  private def isFloat(t: DataType): Boolean = t match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  private def isVector(t: DataType): Boolean = t match {
    case ArrayType(FloatType | DoubleType, _) => true
    case _ => false
  }

  @inline private def elem(a: ArrayData, i: Int, float: Boolean): Double =
    if (a.isNullAt(i)) Double.NaN
    else if (float) a.getFloat(i).toDouble
    else a.getDouble(i)

  /** IVW stack of `flux` by `sigma` (`array<float>` or `array<double>`)
    * as an aggregate column: `(mu, sigma')` in fields `_1`, `_2`. */
  def stack(flux: Column, sigma: Column): Column = {
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .foreach(register)
    call_function(Name, flux, sigma)
  }

  /** Idempotent per-session registration (the VectorExpressions
    * pattern); the analyzer wraps the returned AggregateFunction in a
    * Complete AggregateExpression. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    if (!reg.functionExists(
        org.apache.spark.sql.catalyst.FunctionIdentifier(Name))) {
      reg.createOrReplaceTempFunction(Name, exprs => {
        require(exprs.length == 2, s"$Name takes (flux, sigma), got ${exprs.length} arguments")
        IvwStackAggregator(exprs(0), exprs(1))
      }, "scala_udf")
    }
  }
}
