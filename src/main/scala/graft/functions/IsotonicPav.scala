package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._

/** Pool-Adjacent-Violators over one group's collected series — the
  * isotonic (monotone non-decreasing) least-squares fit as a NATIVE
  * expression, because PAV's merge step is a stack algorithm (pop while
  * the previous block's average exceeds the current's) that neither a
  * window nor an `aggregate` HOF can express (HOF lambdas are loop-free
  * per element; the stack pops a data-dependent number of times). One
  * static call per group, inside codegen, O(n) — the same
  * native-over-collected-array posture as [[KllOps]].
  *
  * Input: `array<struct<i: bigint, x: bigint>>` sorted ascending by `i`
  * (the operator sorts and guards). Output: `array<struct<i: bigint,
  * fit_q6: bigint>>` where fit_q6 = truncating
  * ⌊10⁶·blockSum/blockLen⌋ of the element's fitted block average —
  * trunc is monotone, so quantizing the fit ≡ the max-min of
  * per-candidate quantized averages, which is what lets the DuckDB
  * minimax oracle ([[graft.operators.Isotonic]]) replay it exactly.
  *
  * Violation compares and the quantization use `Math.multiplyExact` —
  * |block sum|·10⁶ and |block sum|·n must fit a Long (|x| ≤ ~9·10¹²
  * at the default maxPoints; overflow fails LOUDLY, never wraps).
  */
case class IsotonicPav(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StructType(Array(a, b)), _)
      if a.dataType == LongType && b.dataType == LongType =>
      TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"isotonic_pav requires array<struct<bigint, bigint>>, got ${dt.catalogString}")
  }

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("i", LongType, nullable = false),
    StructField("fit_q6", LongType, nullable = false))), containsNull = false)

  override def prettyName: String = "isotonic_pav"

  override protected def nullSafeEval(input: Any): Any =
    IsotonicPav.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.IsotonicPav.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): IsotonicPav =
    copy(child = newChild)
}

object IsotonicPav {

  val Scale = 1000000L

  /** Scale·s/c truncated toward zero, c > 0. */
  private def quantize(s: Long, c: Long): Long = Math.multiplyExact(s, Scale) / c

  def compute(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val idx = new Array[Long](n)
    val x = new Array[Long](n)
    var i = 0
    while (i < n) {
      val row = arr.getStruct(i, 2)
      idx(i) = row.getLong(0)
      x(i) = row.getLong(1)
      i += 1
    }
    // PAV stack: per block (sum, count); merge while the previous block's
    // average STRICTLY exceeds the current's (equal averages need no
    // merge — the fitted values coincide either way)
    val sum = new Array[Long](n)
    val cnt = new Array[Long](n)
    var top = -1
    i = 0
    while (i < n) {
      top += 1
      sum(top) = x(i)
      cnt(top) = 1L
      while (top > 0 &&
        Math.multiplyExact(sum(top - 1), cnt(top)) >
          Math.multiplyExact(sum(top), cnt(top - 1))) {
        sum(top - 1) += sum(top)
        cnt(top - 1) += cnt(top)
        top -= 1
      }
      i += 1
    }
    // expand blocks back to elements, in input (= index) order
    val out = new Array[Any](n)
    var b = 0
    var pos = 0
    while (b <= top) {
      val q = quantize(sum(b), cnt(b))
      var j = 0L
      while (j < cnt(b)) {
        out(pos) = new GenericInternalRow(Array[Any](idx(pos), q))
        pos += 1
        j += 1
      }
      b += 1
    }
    new GenericArrayData(out.asInstanceOf[Array[Any]])
  }

  def apply(seriesArr: Column): Column =
    GraftBridge.column(IsotonicPav(GraftBridge.expression(seriesArr)))
}
