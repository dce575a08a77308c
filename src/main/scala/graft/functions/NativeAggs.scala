package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.dsl.expressions._
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Coalesce, CreateNamedStruct, EqualNullSafe, Expression, If, IsNotNull, IsNull, Literal, Not}
import org.apache.spark.sql.catalyst.expressions.aggregate.{DeclarativeAggregate, TypedImperativeAggregate}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

private[functions] object NativeAggChecks {
  def scoreVec(name: String, score: Expression, value: Expression): TypeCheckResult =
    (score.dataType, value.dataType) match {
      case (DoubleType, ArrayType(DoubleType, _)) => TypeCheckResult.TypeCheckSuccess
      case (s, v) => TypeCheckResult.TypeCheckFailure(
        s"$name requires (double, array<double>), got ($s, $v)")
    }

  /** A vector monoid's value width is fixed by its first row; a row of
    * another width would read past the shorter buffer or drop elements. */
  def sameWidth(name: String, width: Int, got: Int): Unit =
    if (got != width) throw new IllegalArgumentException(
      s"$name: vector width $got differs from $width")
}

/** Native `TypedImperativeAggregate` forms of the vector-valued reference
  * monoids (reference core.py:15-64: `zero`=`init`, `update`=`proj_fold`,
  * `merge`=`binary_reduce`). These replace the round-1 typed-`Aggregator` udaf
  * wrappers, whose per-row `ExpressionEncoder` round-trip of the
  * `(score, Seq[Double])` input was ~35× of the attention runtime: here the
  * child expressions are evaluated directly against the input row and the
  * value array is read element-wise off the `ArrayData` buffer — no boxing,
  * no encoder, one primitive `double[]` per group.
  *
  * The buffer lives as a JVM object inside `ObjectHashAggregateExec`'s hash
  * map; `serialize`/`deserialize` (plain ByteBuffer layout) run only on
  * spill and on the partial→final exchange, which is exactly the reference's
  * chunk-boundary `binary_reduce` granularity. The value width is unknown
  * at plan time, so these cannot have primitive buffer slots, and each
  * input row is copied out of the codegen stage into the hash map. The
  * forward attention and mlp therefore feed them one partial value per
  * (query row, tile) from the codegen'd tile folds ([[AttentionTileFold]],
  * [[MlpTileFold]]), never one row per pair; a partial value is itself a
  * monoid element, so `update` merges it unchanged. The scalar monoids
  * have primitive slots: [[LogSumExpDecl]] and [[ArgMaxPertAgg]] are
  * declarative and fold inside whole-stage codegen. The first row fixes a
  * group's value width; a row or partial of another width throws.
  */

/** Mutable buffer: z = running logsumexp of scores; v = softmax-weighted
  * running mean of value vectors (null until the first row — the monoid
  * identity `(-inf, ·)` of reference attention.py:43). */
final class LWVBuf(var z: Double, var v: Array[Double]) extends Serializable

/** The attention monoid (reference attention.py:31-44):
  * `(z_a,v_a) ⊕ (z_b,v_b) = (logaddexp(z_a,z_b), v_a·e^{z_a−z'} +
  * v_b·e^{z_b−z'})` — numerically-stable streaming softmax (never a raw
  * `sum(exp)`, SURVEY.md §2.4.1). Output struct (z, v). Its scalar case,
  * the entropy monoid (entropy.py:18-23), is [[LogSumExpDecl]] with a
  * value. */
case class LogWeightedVecAgg(
    score: Expression,
    value: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[LWVBuf] {

  override def children: Seq[Expression] = Seq(score, value)
  override def checkInputDataTypes(): TypeCheckResult =
    NativeAggChecks.scoreVec(prettyName, score, value)
  override def nullable: Boolean = false
  override def dataType: DataType = StructType(Seq(
    StructField("z", DoubleType, nullable = false),
    StructField("v", ArrayType(DoubleType, containsNull = false))))
  override def prettyName: String = "graft_log_weighted_vec"

  override def createAggregationBuffer(): LWVBuf =
    new LWVBuf(Double.NegativeInfinity, null)

  override def update(b: LWVBuf, input: InternalRow): LWVBuf = {
    val s = score.eval(input)
    if (s == null) return b
    val arr = value.eval(input).asInstanceOf[ArrayData]
    if (arr == null) return b
    val zb = s.asInstanceOf[Double]
    if (b.v == null) {
      val n = arr.numElements()
      val v = new Array[Double](n)
      var i = 0
      while (i < n) { v(i) = arr.getDouble(i); i += 1 }
      b.z = zb
      b.v = v
      b
    } else {
      NativeAggChecks.sameWidth(prettyName, b.v.length, arr.numElements())
      combineInto(b, zb, arr.getDouble)
    }
  }

  override def merge(a: LWVBuf, o: LWVBuf): LWVBuf =
    if (o.v == null) a
    else if (a.v == null) { a.z = o.z; a.v = o.v; a }
    else {
      NativeAggChecks.sameWidth(prettyName, a.v.length, o.v.length)
      combineInto(a, o.z, o.v)
    }

  /** a ⊕ (zb, vb), mutating a in place (a owns its array). */
  private def combineInto(a: LWVBuf, zb: Double, vb: Int => Double): LWVBuf = {
    if (zb == Double.NegativeInfinity) return a
    val za = a.z
    val v = a.v
    val n = v.length
    if (za == Double.NegativeInfinity) {
      var i = 0
      while (i < n) { v(i) = vb(i); i += 1 }
      a.z = zb
      return a
    }
    val z =
      if (za >= zb) za + math.log1p(math.exp(zb - za))
      else zb + math.log1p(math.exp(za - zb))
    val wa = math.exp(za - z)
    val wb = math.exp(zb - z)
    var i = 0
    while (i < n) { v(i) = v(i) * wa + vb(i) * wb; i += 1 }
    a.z = z
    a
  }

  override def eval(b: LWVBuf): Any = {
    val arr =
      if (b.v == null) new GenericArrayData(Array.empty[Double])
      else new GenericArrayData(b.v)
    InternalRow(b.z, arr)
  }

  override def serialize(b: LWVBuf): Array[Byte] = {
    val n = if (b.v == null) -1 else b.v.length
    val bb = ByteBuffer.allocate(12 + math.max(n, 0) * 8)
    bb.putDouble(b.z)
    bb.putInt(n)
    var i = 0
    while (i < n) { bb.putDouble(b.v(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): LWVBuf = {
    val bb = ByteBuffer.wrap(bytes)
    val z = bb.getDouble
    val n = bb.getInt
    if (n < 0) new LWVBuf(z, null)
    else {
      val v = new Array[Double](n)
      var i = 0
      while (i < n) { v(i) = bb.getDouble; i += 1 }
      new LWVBuf(z, v)
    }
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): LogWeightedVecAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): LogWeightedVecAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): LogWeightedVecAgg =
    copy(score = newChildren(0), value = newChildren(1))
}

/** Elementwise weighted vector sum: `acc += w · vec` — the MLP hidden-fold
  * monoid (reference mlp.py:18-21: plain `+` over B×N chunks) lifted to one
  * vector-valued aggregate so the pair stream is NEVER exploded per element:
  * only the M×D result is. Identity = null (treated as the zero vector). */
final class VecSumBuf(var v: Array[Double]) extends Serializable

case class VecWeightedSumAgg(
    weight: Expression,
    value: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[VecSumBuf] {

  override def children: Seq[Expression] = Seq(weight, value)
  override def checkInputDataTypes(): TypeCheckResult =
    NativeAggChecks.scoreVec(prettyName, weight, value)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "graft_vec_weighted_sum"

  override def createAggregationBuffer(): VecSumBuf = new VecSumBuf(null)

  override def update(b: VecSumBuf, input: InternalRow): VecSumBuf = {
    val w = weight.eval(input)
    if (w == null) return b
    val arr = value.eval(input).asInstanceOf[ArrayData]
    if (arr == null) return b
    val wd = w.asInstanceOf[Double]
    if (b.v == null) b.v = new Array[Double](arr.numElements())
    else NativeAggChecks.sameWidth(prettyName, b.v.length, arr.numElements())
    val v = b.v
    val n = v.length
    var i = 0
    while (i < n) { v(i) += wd * arr.getDouble(i); i += 1 }
    b
  }

  override def merge(a: VecSumBuf, o: VecSumBuf): VecSumBuf = {
    if (o.v == null) return a
    if (a.v == null) { a.v = o.v; return a }
    NativeAggChecks.sameWidth(prettyName, a.v.length, o.v.length)
    val v = a.v
    val n = v.length
    var i = 0
    while (i < n) { v(i) += o.v(i); i += 1 }
    a
  }

  override def eval(b: VecSumBuf): Any =
    new GenericArrayData(if (b.v == null) Array.empty[Double] else b.v)

  override def serialize(b: VecSumBuf): Array[Byte] = {
    val n = if (b.v == null) -1 else b.v.length
    val bb = ByteBuffer.allocate(4 + math.max(n, 0) * 8)
    bb.putInt(n)
    var i = 0
    while (i < n) { bb.putDouble(b.v(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): VecSumBuf = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    if (n < 0) new VecSumBuf(null)
    else {
      val v = new Array[Double](n)
      var i = 0
      while (i < n) { v(i) = bb.getDouble; i += 1 }
      new VecSumBuf(v)
    }
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): VecWeightedSumAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): VecWeightedSumAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): VecWeightedSumAgg =
    copy(weight = newChildren(0), value = newChildren(1))
}

/** The Gumbel-max sampler monoid (reference sampling.py:5-48, via the
  * exact-argmax reformulation of SURVEY §2.4.3): the lexicographic max of
  * (pert, sc, k_id) — `max(struct(pert, sc, k_id))`'s ordering, nulls
  * lowest — as a `DeclarativeAggregate` over four primitive buffer slots
  * (pert, sc, k_id, set), so it folds inside whole-stage codegen next to
  * [[LogSumExpDecl]] in one `HashAggregateExec`. A max over a struct
  * column would carry a non-primitive buffer, which rules out
  * `HashAggregateExec` for the whole `.agg(...)` and sorts the pair
  * stream. The comparisons are Catalyst's `>` and `<=>` on doubles,
  * which order NaN largest and treat ±0.0 as equal, exactly as struct
  * ordering does, so the result is bit-identical to the struct max.
  * `set` = false is the monoid identity; an empty group yields null. */
case class ArgMaxPertAgg(pert: Expression, sc: Expression, kId: Expression)
  extends DeclarativeAggregate {

  override def children: Seq[Expression] = Seq(pert, sc, kId)
  override def checkInputDataTypes(): TypeCheckResult =
    (pert.dataType, sc.dataType, kId.dataType) match {
      case (DoubleType, DoubleType, LongType) =>
        TypeCheckResult.TypeCheckSuccess
      case (p, s, k) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (double, double, bigint), got ($p, $s, $k)")
    }
  override def nullable: Boolean = true
  override def dataType: DataType = StructType(keys.map(k => StructField(k.name, k.dataType)))
  override def prettyName: String = "graft_argmax_pert"

  private lazy val keys = Seq(
    AttributeReference("pert", DoubleType)(),
    AttributeReference("sc", DoubleType)(),
    AttributeReference("k_id", LongType)())
  private lazy val set = AttributeReference("set", BooleanType, nullable = false)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] = keys :+ set
  override lazy val initialValues: Seq[Expression] =
    keys.map(k => Literal(null, k.dataType)) :+ Literal(false)

  /** a > b in struct ordering: first unequal field decides, null lowest. */
  private def greater(a: Seq[Expression], b: Seq[Expression]): Expression = {
    def gt(x: Expression, y: Expression): Expression =
      Coalesce(Seq(x > y, IsNotNull(x) && IsNull(y)))
    a.zip(b).init.foldRight(gt(a.last, b.last)) { case ((x, y), rest) =>
      gt(x, y) || (EqualNullSafe(x, y) && rest)
    }
  }

  override lazy val updateExpressions: Seq[Expression] = {
    val take = Not(set) || greater(children, keys)
    keys.zip(children).map { case (k, c) => If(take, c, k) } :+ Literal(true)
  }

  override lazy val mergeExpressions: Seq[Expression] = {
    val take = set.right &&
      (Not(set.left) || greater(keys.map(_.right), keys.map(_.left)))
    keys.map(k => If(take, k.right, k.left)) :+ (set.left || set.right)
  }

  override lazy val evaluateExpression: Expression =
    If(set, CreateNamedStruct(keys.flatMap(k => Seq(Literal(k.name), k))),
      Literal(null, dataType))

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): ArgMaxPertAgg =
    copy(pert = newChildren(0), sc = newChildren(1), kId = newChildren(2))
}
