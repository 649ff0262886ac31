package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native integer-recurrence folds over one group's collected series —
  * the codegen'd replacement for the interpreted `aggregate()` HOF the
  * sequential-smoothing family used through r10 (the [[SimHash64]] /
  * [[IsotonicPav]] posture: one static call per group, inside
  * whole-stage codegen, O(n) primitive long arithmetic — no per-element
  * closure dispatch, no InternalRow boxing, no O(n²) array-concat
  * accumulator).
  *
  * Each member evaluates the DECLARED truncating recurrence
  * of its operator bit-for-bit (Java long division already truncates
  * toward zero, as Spark `div` and DuckDB `//` do, so the
  * step is a single `/`). Multiplications and additions go through
  * `Math.multiplyExact`/`addExact` — the interpreted folds ran under
  * ANSI mode where overflow raises, and that loud-failure contract is
  * preserved, never wrapped.
  *
  * Input everywhere: the operator's `sort_array(collect_list(struct(…)))`
  * array — pre-sorted, non-null elements with non-null long fields (the
  * operators filter NULL idx/value before collecting). A null ARRAY
  * yields null (no group collects to null in practice). The fold
  * recurrences themselves are documented at their operators:
  * [[graft.operators.ExpSmooth]], [[graft.operators.Croston]],
  * [[graft.operators.TokenBucket]].
  */
object SeqFold {

  /** s_1 = x_1·scale; s_t = (p·x_t·scale + (q−p)·s_{t−1}) / q. */
  def ewma(arr: ArrayData, p: Long, q: Long, scale: Long): ArrayData = {
    val n = arr.numElements()
    val out = new Array[Any](n)
    var prev = 0L
    var i = 0
    while (i < n) {
      val e = arr.getStruct(i, 2)
      val idx = e.getLong(0)
      val xs = Math.multiplyExact(e.getLong(1), scale)
      val s =
        if (i == 0) xs
        else Math.addExact(Math.multiplyExact(p, xs),
          Math.multiplyExact(q - p, prev)) / q
      out(i) = new GenericInternalRow(Array[Any](idx, s))
      prev = s
      i += 1
    }
    new GenericArrayData(out)
  }

  /** l_1 = x_1·scale, b_1 = 0; l_t = (p·x_t·scale + (q−p)·(l+b)) / q,
    * b_t = (r·(l_t − l_{t−1}) + (w−r)·b_{t−1}) / w.
    */
  def holt(arr: ArrayData, p: Long, q: Long, r: Long, w: Long,
           scale: Long): ArrayData = {
    val n = arr.numElements()
    val out = new Array[Any](n)
    var pl = 0L; var pb = 0L
    var i = 0
    while (i < n) {
      val e = arr.getStruct(i, 2)
      val idx = e.getLong(0)
      val xs = Math.multiplyExact(e.getLong(1), scale)
      var nl = 0L; var nb = 0L
      if (i == 0) { nl = xs; nb = 0L }
      else {
        nl = Math.addExact(Math.multiplyExact(p, xs),
          Math.multiplyExact(q - p, Math.addExact(pl, pb))) / q
        nb = Math.addExact(Math.multiplyExact(r, Math.subtractExact(nl, pl)),
          Math.multiplyExact(w - r, pb)) / w
      }
      out(i) = new GenericInternalRow(Array[Any](idx, nl, nb))
      pl = nl; pb = nb
      i += 1
    }
    new GenericArrayData(out)
  }

  /** [[holt]] plus the additive seasonal state: s̃ is the stored s from
    * `period` steps back (0 during the first season), l_t subtracts s̃,
    * s_t = (g·(x_t·scale − l_t) + (v−g)·s̃) / v.
    */
  def holtWinters(arr: ArrayData, period: Int, p: Long, q: Long,
                  r: Long, w: Long, g: Long, v: Long,
                  scale: Long): ArrayData = {
    val n = arr.numElements()
    val out = new Array[Any](n)
    val sHist = new Array[Long](n)
    var pl = 0L; var pb = 0L
    var i = 0
    while (i < n) {
      val e = arr.getStruct(i, 2)
      val idx = e.getLong(0)
      val xs = Math.multiplyExact(e.getLong(1), scale)
      val sm = if (i >= period) sHist(i - period) else 0L
      var nl = 0L; var nb = 0L; var ns = 0L
      if (i == 0) { nl = xs; nb = 0L; ns = 0L }
      else {
        nl = Math.addExact(Math.multiplyExact(p, Math.subtractExact(xs, sm)),
          Math.multiplyExact(q - p, Math.addExact(pl, pb))) / q
        nb = Math.addExact(Math.multiplyExact(r, Math.subtractExact(nl, pl)),
          Math.multiplyExact(w - r, pb)) / w
        ns = Math.addExact(Math.multiplyExact(g, Math.subtractExact(xs, nl)),
          Math.multiplyExact(v - g, sm)) / v
      }
      out(i) = new GenericInternalRow(Array[Any](idx, nl, nb, ns))
      sHist(i) = ns
      pl = nl; pb = nb
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Two coupled EWMAs over demand points only: z tracks size, p tracks
    * the inter-arrival gap (first gap measured from `startIdx`).
    */
  def croston(arr: ArrayData, a: Long, d: Long, startIdx: Long,
              scale: Long): ArrayData = {
    val n = arr.numElements()
    val out = new Array[Any](n)
    var pi = 0L; var pz = 0L; var pp = 0L
    var i = 0
    while (i < n) {
      val e = arr.getStruct(i, 2)
      val idx = e.getLong(0)
      val xs = Math.multiplyExact(e.getLong(1), scale)
      var gap = 0L; var nz = 0L; var np = 0L
      if (i == 0) {
        gap = Math.subtractExact(idx, startIdx)
        nz = xs
        np = Math.multiplyExact(gap, scale)
      } else {
        gap = Math.subtractExact(idx, pi)
        nz = Math.addExact(Math.multiplyExact(a, xs),
          Math.multiplyExact(d - a, pz)) / d
        np = Math.addExact(Math.multiplyExact(a, Math.multiplyExact(gap, scale)),
          Math.multiplyExact(d - a, pp)) / d
      }
      out(i) = new GenericInternalRow(Array[Any](idx, gap, nz, np))
      pi = idx; pz = nz; pp = np
      i += 1
    }
    new GenericArrayData(out)
  }

  /** The limiter replay: pre = min(cap, level + Δt·rate), admit if
    * pre ≥ rateDen (one token = rateDen level units). `fresh` starts a
    * full bucket at the first event; otherwise the fold continues from
    * the seeded (seedI, seedLvl) high-water — a seeded fold with a NULL
    * stored level is a store-corruption contract violation and raises.
    */
  def tokenBucket(arr: ArrayData, fresh: Boolean, seedI: Long,
                  seedLvlNull: Boolean, seedLvl: Long, rateNum: Long,
                  rateDen: Long, burst: Long): ArrayData = {
    if (!fresh && seedLvlNull)
      throw new IllegalArgumentException(
        "tokenBucket: seeded fold requires a stored level alongside the stored index")
    val cap = Math.multiplyExact(burst, rateDen)
    val n = arr.numElements()
    val out = new Array[Any](n)
    var first = fresh
    var pi = seedI; var pl = seedLvl
    var i = 0
    while (i < n) {
      val e = arr.getStruct(i, 2)
      val idx = e.getLong(0)
      val id = e.getLong(1)
      val pre =
        if (first) cap
        else Math.min(cap, Math.addExact(pl,
          Math.multiplyExact(Math.subtractExact(idx, pi), rateNum)))
      val adm = pre >= rateDen
      val lvl = if (adm) pre - rateDen else pre
      out(i) = new GenericInternalRow(
        Array[Any](id, idx, java.lang.Boolean.valueOf(adm), lvl))
      pi = idx; pl = lvl; first = false
      i += 1
    }
    new GenericArrayData(out)
  }

  private[functions] def checkPairArray(dt: DataType,
                                        name: String): TypeCheckResult =
    dt match {
      case ArrayType(StructType(Array(a, b)), _)
        if a.dataType == LongType && b.dataType == LongType =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$name requires array<struct<bigint, bigint>>, got ${other.catalogString}")
    }
}

/** [[SeqFold.ewma]] as an expression over array<struct<i, x>>. */
case class EwmaFold(child: Expression, alphaNum: Long, alphaDen: Long,
                    scale: Long) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    SeqFold.checkPairArray(child.dataType, prettyName)
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("i", LongType, nullable = false),
    StructField("s", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "ewma_fold"
  override protected def nullSafeEval(input: Any): Any =
    SeqFold.ewma(input.asInstanceOf[ArrayData], alphaNum, alphaDen, scale)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.SeqFold.ewma($c, ${alphaNum}L, ${alphaDen}L, ${scale}L)")
  override protected def withNewChildInternal(newChild: Expression): EwmaFold =
    copy(child = newChild)
}

object EwmaFold {
  def apply(arr: Column, alphaNum: Long, alphaDen: Long, scale: Long): Column =
    GraftBridge.column(
      EwmaFold(GraftBridge.expression(arr), alphaNum, alphaDen, scale))
}

/** [[SeqFold.holt]] as an expression over array<struct<i, x>>. */
case class HoltFold(child: Expression, alphaNum: Long, alphaDen: Long,
                    betaNum: Long, betaDen: Long, scale: Long)
  extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    SeqFold.checkPairArray(child.dataType, prettyName)
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("i", LongType, nullable = false),
    StructField("l", LongType, nullable = false),
    StructField("b", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "holt_fold"
  override protected def nullSafeEval(input: Any): Any =
    SeqFold.holt(input.asInstanceOf[ArrayData], alphaNum, alphaDen,
      betaNum, betaDen, scale)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.SeqFold.holt($c, ${alphaNum}L, ${alphaDen}L, " +
        s"${betaNum}L, ${betaDen}L, ${scale}L)")
  override protected def withNewChildInternal(newChild: Expression): HoltFold =
    copy(child = newChild)
}

object HoltFold {
  def apply(arr: Column, alphaNum: Long, alphaDen: Long, betaNum: Long,
            betaDen: Long, scale: Long): Column =
    GraftBridge.column(HoltFold(GraftBridge.expression(arr), alphaNum,
      alphaDen, betaNum, betaDen, scale))
}

/** [[SeqFold.holtWinters]] as an expression over array<struct<i, x>>. */
case class HoltWintersFold(child: Expression, period: Int, alphaNum: Long,
                           alphaDen: Long, betaNum: Long, betaDen: Long,
                           gammaNum: Long, gammaDen: Long, scale: Long)
  extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    SeqFold.checkPairArray(child.dataType, prettyName)
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("i", LongType, nullable = false),
    StructField("l", LongType, nullable = false),
    StructField("b", LongType, nullable = false),
    StructField("s", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "holt_winters_fold"
  override protected def nullSafeEval(input: Any): Any =
    SeqFold.holtWinters(input.asInstanceOf[ArrayData], period, alphaNum,
      alphaDen, betaNum, betaDen, gammaNum, gammaDen, scale)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.SeqFold.holtWinters($c, $period, ${alphaNum}L, " +
        s"${alphaDen}L, ${betaNum}L, ${betaDen}L, ${gammaNum}L, " +
        s"${gammaDen}L, ${scale}L)")
  override protected def withNewChildInternal(newChild: Expression): HoltWintersFold =
    copy(child = newChild)
}

object HoltWintersFold {
  def apply(arr: Column, period: Int, alphaNum: Long, alphaDen: Long,
            betaNum: Long, betaDen: Long, gammaNum: Long, gammaDen: Long,
            scale: Long): Column =
    GraftBridge.column(HoltWintersFold(GraftBridge.expression(arr), period,
      alphaNum, alphaDen, betaNum, betaDen, gammaNum, gammaDen, scale))
}

/** [[SeqFold.croston]] as an expression over array<struct<i, x>>. */
case class CrostonFold(child: Expression, alphaNum: Long, alphaDen: Long,
                       startIdx: Long, scale: Long) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    SeqFold.checkPairArray(child.dataType, prettyName)
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("i", LongType, nullable = false),
    StructField("g", LongType, nullable = false),
    StructField("z", LongType, nullable = false),
    StructField("p", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "croston_fold"
  override protected def nullSafeEval(input: Any): Any =
    SeqFold.croston(input.asInstanceOf[ArrayData], alphaNum, alphaDen,
      startIdx, scale)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.SeqFold.croston($c, ${alphaNum}L, ${alphaDen}L, " +
        s"${startIdx}L, ${scale}L)")
  override protected def withNewChildInternal(newChild: Expression): CrostonFold =
    copy(child = newChild)
}

object CrostonFold {
  def apply(arr: Column, alphaNum: Long, alphaDen: Long, startIdx: Long,
            scale: Long): Column =
    GraftBridge.column(CrostonFold(GraftBridge.expression(arr), alphaNum,
      alphaDen, startIdx, scale))
}

/** [[SeqFold.tokenBucket]] as an expression over array<struct<i, id>>
  * plus the two (nullable) seed columns — NULL seedI means a fresh full
  * bucket, the batch-replay entry; non-NULL seeds continue from the
  * streaming store's high-water. Hand-rolled eval/codegen because the
  * seed children are nullable by design (nullSafeCodeGen would turn a
  * legitimate fresh start into a NULL result).
  */
case class TokenBucketFold(arr: Expression, seedI: Expression,
                           seedLvl: Expression, rateNum: Long,
                           rateDen: Long, burst: Long) extends Expression {
  override def children: Seq[Expression] = Seq(arr, seedI, seedLvl)
  override def checkInputDataTypes(): TypeCheckResult = {
    val arrOk = SeqFold.checkPairArray(arr.dataType, prettyName)
    if (arrOk != TypeCheckResult.TypeCheckSuccess) arrOk
    else if (seedI.dataType != LongType || seedLvl.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName seeds must be bigint, got " +
          s"${seedI.dataType.catalogString}, ${seedLvl.dataType.catalogString}")
    else TypeCheckResult.TypeCheckSuccess
  }
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("i", LongType, nullable = false),
    StructField("adm", BooleanType, nullable = false),
    StructField("lvl", LongType, nullable = false))), containsNull = false)
  override def nullable: Boolean = arr.nullable
  override def prettyName: String = "token_bucket_fold"

  override def eval(input: InternalRow): Any = {
    val a = arr.eval(input)
    if (a == null) null
    else {
      val si = seedI.eval(input)
      val sl = seedLvl.eval(input)
      SeqFold.tokenBucket(a.asInstanceOf[ArrayData], si == null,
        if (si == null) 0L else si.asInstanceOf[Long], sl == null,
        if (sl == null) 0L else sl.asInstanceOf[Long],
        rateNum, rateDen, burst)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val arrGen = arr.genCode(ctx)
    val siGen = seedI.genCode(ctx)
    val slGen = seedLvl.genCode(ctx)
    val ad = classOf[ArrayData].getName
    ev.copy(code =
      code"""
        ${arrGen.code}
        boolean ${ev.isNull} = ${arrGen.isNull};
        $ad ${ev.value} = null;
        if (!${ev.isNull}) {
          ${siGen.code}
          ${slGen.code}
          ${ev.value} = graft.functions.SeqFold.tokenBucket(${arrGen.value},
            ${siGen.isNull}, ${siGen.isNull} ? 0L : ${siGen.value},
            ${slGen.isNull}, ${slGen.isNull} ? 0L : ${slGen.value},
            ${rateNum}L, ${rateDen}L, ${burst}L);
        }
      """)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TokenBucketFold =
    copy(arr = newChildren(0), seedI = newChildren(1), seedLvl = newChildren(2))
}

object TokenBucketFold {
  def apply(arr: Column, seedI: Column, seedLvl: Column, rateNum: Long,
            rateDen: Long, burst: Long): Column =
    GraftBridge.column(TokenBucketFold(GraftBridge.expression(arr),
      GraftBridge.expression(seedI), GraftBridge.expression(seedLvl),
      rateNum, rateDen, burst))
}
