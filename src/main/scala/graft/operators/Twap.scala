package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-weighted average — the honest mean of an irregularly-sampled
  * level series (price, inventory, connection count): the plain mean
  * over-weights busy periods (many samples = many votes); TWAP weights
  * each observed level by HOW LONG it held, Σ vᵢ·(tᵢ₊₁−tᵢ) / (t_end −
  * t_start) — the finance/ops convention, and the right aggregation
  * before comparing groups sampled at different rates.
  *
  * Exact semantics: each observation holds until the NEXT one (step
  * interpolation — the [[Resample]] ffill convention); the final
  * observation holds until `endIdx` (a DECLARED horizon — without it
  * the last level would have zero weight, which is never what a caller
  * means); duplicate indexes raise in-plan (which level held?). The
  * weighted sum rides DECIMAL(38,0) (value·duration products), and
  * `twap_q6 = quot(10⁶·Σ vᵢ·dᵢ, t_end − t_start)` is ONE truncating
  * division. Published beside the exact (num, den) pair so
  * the integers gate and downstream algebra never re-rounds.
  *
  * Scale shape: one lead window per group over the observation series
  * (series-bounded — observations, not raw ticks if you pre-collapse),
  * then a partial-agg'd group sum. NULL idx/value rows drop; NULL
  * groups are a real stratum.
  */
object Twap {

  val Scale = 1000000L

  /** (groupCol, t_start, t_end, wsum, span, twap_q6). Requires at least
    * one observation per group; `endIdx` must be ≥ every index (raise
    * in-plan otherwise — silently clipping durations would corrupt the
    * average).
    */
  def twap(df: DataFrame, groupCol: String, idxCol: String,
           valueCol: String, endIdx: Long): DataFrame = {
    graft.Guards.requireIntegral(df, idxCol, "twap")
    graft.Guards.requireIntegral(df, valueCol, "twap")
    val dec = "decimal(38,0)"
    val rows = df
      .where(col(idxCol).isNotNull && col(valueCol).isNotNull)
      .select(col(groupCol), col(idxCol).cast("long").as("__t"),
        col(valueCol).cast("long").as("__v"))
    val w = Window.partitionBy(col(groupCol)).orderBy(col("__t"))
    val dupW = Window.partitionBy(col(groupCol), col("__t"))
    val marked = rows
      .withColumn("__dup", count(lit(1)).over(dupW) > 1)
      .withColumn("__next", coalesce(lead(col("__t"), 1).over(w), lit(endIdx)))
      .withColumn("__over", col("__t") > endIdx)
    val agg = marked.groupBy(col(groupCol))
      .agg(max(col("__dup")).as("__anyDup"),
        max(col("__over")).as("__anyOver"),
        min(col("__t")).as("t_start"),
        sum(col("__v").cast(dec) * (col("__next") - col("__t")).cast(dec))
          .cast(dec).as("__ws"))
    val span = (lit(endIdx) - col("t_start")).cast(dec)
    val q = when(col("t_start") === endIdx, lit(null).cast("long"))
      .otherwise(graft.ExactDiv.quot(col("__ws"), span, Scale))
    // the guards ride BOTH published columns — a caller projecting only
    // twap_q6 must still hit the raise (the holt discipline)
    def guarded(out: org.apache.spark.sql.Column) =
      when(col("__anyOver"), raise_error(concat(
        lit("twap: an index exceeds endIdx in group '"),
        col(groupCol).cast("string"),
        lit("' — durations would clip silently; raise endIdx"))).cast("string"))
        .when(col("__anyDup"), raise_error(concat(
          lit("twap: duplicate idx within group '"),
          col(groupCol).cast("string"),
          lit("' — which level held? pre-aggregate to one row per (group, idx)")))
          .cast("string"))
        .otherwise(out.cast("string"))
    agg.select(col(groupCol), col("t_start"), lit(endIdx).as("t_end"),
      guarded(col("__ws")).as("wsum"),
      span.cast("long").as("span"),
      guarded(q).cast("long").as("twap_q6"))
  }

  /** DuckDB replay — the same lead window, HUGEINT weighted sum,
    * truncating division. `seriesSql` yields (grp, t, v), one row per
    * (grp, t).
    */
  def oracleSql(seriesSql: String, groupName: String, endIdx: Long): String =
    s"""WITH s AS (SELECT grp, t, v FROM ($seriesSql)
  WHERE t IS NOT NULL AND v IS NOT NULL),
l AS (SELECT grp, t, v,
    COALESCE(lead(t) OVER (PARTITION BY grp ORDER BY t), $endIdx) AS nxt
  FROM s),
a AS (SELECT grp, min(t) AS t_start,
    CAST(sum(CAST(v AS HUGEINT) * (nxt - t)) AS HUGEINT) AS ws
  FROM l GROUP BY grp)
SELECT grp AS $groupName, t_start, CAST($endIdx AS BIGINT) AS t_end,
  CAST(ws AS VARCHAR) AS wsum,
  CAST($endIdx - t_start AS BIGINT) AS span,
  CASE WHEN t_start = $endIdx THEN NULL
       ELSE ${graft.ExactDiv.quotSql("ws", s"$endIdx - t_start", Scale)} END AS twap_q6
FROM a ORDER BY $groupName"""
}
