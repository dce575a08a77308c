package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.dsl.expressions._
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, CreateNamedStruct, Expression, If, IsNull, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.expressions.{Exp, Greatest, Log}
import org.apache.spark.sql.types.{DataType, DoubleType, StructField, StructType}

/** Streaming logsumexp as a DeclarativeAggregate: the whole monoid —
  * identity (-inf, 0), running-max renormalized update, stable merge
  * (reference xentropy.py:10-11,39-44) — is expressed as Catalyst
  * expressions, so the aggregate runs fully inside whole-stage codegen
  * with primitive buffer slots and no object buffer or encoder at all
  * (the previous udaf form paid a ScalaAggregator round-trip per row).
  *
  * With a `value`, the same fold also carries the softmax-weighted mean
  * of that scalar — the scalar (D=1) attention/entropy monoid (reference
  * entropy.py:18-23). The buffer becomes (mx, s, t) with t = Σ e^{x−mx}·value,
  * rescaled exactly like s, and the result is struct(z = mx + ln s,
  * v = t / s). A group with no finite mass has z = -inf and v = NaN.
  * Without a value the buffer is exactly (mx, s) and the result is z.
  *
  * Inputs are assumed finite or null (scores are dot products); rows with
  * a null score or value are skipped, -inf scores are treated as absent
  * mass like the monoid identity.
  */
case class LogSumExpDecl(child: Expression, value: Option[Expression] = None)
  extends DeclarativeAggregate {

  override def children: Seq[Expression] = child +: value.toSeq
  override def nullable: Boolean = false
  override def dataType: DataType =
    if (value.isEmpty) DoubleType
    else StructType(Seq(StructField("z", DoubleType, nullable = false),
      StructField("v", DoubleType, nullable = false)))
  override def prettyName: String = "graft_logsumexp"
  // plan strings show the inputs, not the Option around the value
  override protected def flatArguments: Iterator[Any] = children.iterator

  override def checkInputDataTypes(): TypeCheckResult =
    if (children.forall(_.dataType == DoubleType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires double inputs, got ${children.map(_.dataType).mkString(", ")}")

  private val negInf = Literal(Double.NegativeInfinity)
  private lazy val mx = AttributeReference("mx", DoubleType, nullable = false)()
  private lazy val s = AttributeReference("s", DoubleType, nullable = false)()
  private lazy val t = value.map(_ => AttributeReference("t", DoubleType, nullable = false)())

  override lazy val aggBufferAttributes: Seq[AttributeReference] = Seq(mx, s) ++ t
  override lazy val initialValues: Seq[Expression] =
    Seq(negInf, Literal(0.0)) ++ t.map(_ => Literal(0.0))

  override lazy val updateExpressions: Seq[Expression] = {
    val skip = value.foldLeft(IsNull(child) || child === negInf)(_ || IsNull(_))
    Seq(
      If(skip, mx, If(child > mx, child, mx)),
      // new max -> renormalize the running sum; exp(-inf - x) = 0 makes the
      // first row come out as s = 1 without a special case
      If(skip, s,
        If(child > mx, s * Exp(mx - child) + Literal(1.0), s + Exp(child - mx)))) ++
    t.zip(value).map { case (acc, v) =>
      If(skip, acc, If(child > mx, acc * Exp(mx - child) + v, acc + Exp(child - mx) * v))
    }
  }

  override lazy val mergeExpressions: Seq[Expression] =
    Greatest(Seq(mx.left, mx.right)) +: (s +: t.toSeq).map { x =>
      // empty-side guards: exp(-inf - -inf) is NaN, so pick the other side
      If(mx.left === negInf, x.right,
        If(mx.right === negInf, x.left,
          If(mx.left >= mx.right,
            x.left + x.right * Exp(mx.right - mx.left),
            x.right + x.left * Exp(mx.left - mx.right))))
    }

  override lazy val evaluateExpression: Expression = {
    val z = If(mx === negInf, negInf, mx + Log(s))
    t.fold(z: Expression) { acc =>
      CreateNamedStruct(Seq(Literal("z"), z,
        Literal("v"), If(mx === negInf, Literal(Double.NaN), acc / s)))
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): LogSumExpDecl =
    copy(child = newChildren(0), value = newChildren.lift(1))
}
