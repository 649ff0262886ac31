package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The one exact scaled quotient: ⌊num·scale / den⌋ truncated toward
  * zero, as a LONG, in Spark ([[quot]]) and in DuckDB ([[quotSql]]).
  *
  * Measured semantics (Spark 4.1.2, DuckDB 1.0.0):
  *  - Spark `div` truncates toward zero on LONG and on DECIMAL(38,0):
  *    `-7 div 2 = -3`, `7 div -2 = -3`. Truncation is odd in each
  *    operand, so a sign split (`sign(n) · (|n| div d)`) computes the
  *    same value and is not needed.
  *  - Spark `div` on DECIMAL wraps past LONG, even with ANSI on:
  *    `CAST(-700000000000000000000 AS DECIMAL(38,0)) div 3` returns
  *    `6474339624890837675`. [[quot]] therefore checks its result (see
  *    there); on LONG operands ANSI raises by itself (`Long.MinValue div
  *    -1`, an overflowing `num·scale`).
  *  - DuckDB `//` truncates toward zero on BIGINT and HUGEINT, but on
  *    DECIMAL or DOUBLE it is true division (`(-7)::DECIMAL(38,0) // 2
  *    = -3.5`, a DOUBLE). The twin casts both operands to HUGEINT, so a
  *    DECIMAL(38,0) sum or a BIGINT product divides as integers, and
  *    its closing `CAST(… AS BIGINT)` raises past LONG as Spark does.
  *
  * The Spark side adds no casts: pass `num` in the type the caller
  * multiplies in (LONG, or DECIMAL(38,0) for headroom), so the plan
  * keeps its arithmetic types. Zero-denominator policy (NULL or a loud
  * error) stays with the caller; an unguarded zero raises under ANSI.
  * [[graft.ExactDivSpec]] pins both twins to a `BigInt` reference.
  */
object ExactDiv {

  /** `(num · scale) div den` as LONG, truncated toward zero; NULL in,
    * NULL out. Raises when the quotient falls outside LONG. A numerator
    * inside (−2⁶³, 2⁶³) gives a quotient inside LONG, so the common path
    * costs two compares; past that, a correct quotient q leaves a
    * remainder `num·scale − q·den` smaller than `den` in magnitude and a
    * wrapped one misses by at least 2⁶⁴·|den| − |den|, so one
    * multiply-subtract (in DECIMAL: `q·den` can pass LONG there) tells
    * them apart exactly. */
  def quot(num: Column, den: Column, scale: Long = 1L): Column = {
    val n = if (scale == 1L) num else num * lit(scale)
    val q = call_function("div", n, den)
    val wide = n < lit(-Long.MaxValue) || n > lit(Long.MaxValue)
    when(wide && abs(n - q.cast("decimal(38,0)") * den) >= abs(den),
      raise_error(lit("ExactDiv.quot: quotient outside LONG")))
      .otherwise(q)
  }

  /** DuckDB twin of [[quot]]: HUGEINT operands (so `//` is integer
    * division, see the object doc), BIGINT result. */
  def quotSql(num: String, den: String, scale: Long = 1L): String = {
    val n = s"CAST(($num) AS HUGEINT)" + (if (scale == 1L) "" else s" * $scale")
    s"CAST(($n) // CAST(($den) AS HUGEINT) AS BIGINT)"
  }
}
