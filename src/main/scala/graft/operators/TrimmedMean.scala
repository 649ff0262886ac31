package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ExactDiv.{quot, quotSql}

/** Trimmed mean — the robust location estimate ops dashboards want
  * when [[WeightedStats]]' median is too coarse and the plain mean is
  * one bot away from useless: drop the k smallest and k largest
  * observations, average the rest. The classical formulation sorts
  * every group (a window rank); at scale that is the whole problem,
  * so here the extremes come from two BOUNDED [[graft.functions
  * .BottomK]] multiset buffers (≤k values per (group, partition) ship
  * — the TopK partial-agg posture) and the trimmed sum is
  * total − Σbottom − Σtop: one partial-agg'd pass, NO per-group sort
  * anywhere, identical on any partitioning.
  *
  * Exact semantics: ties trim by VALUE multiset (which duplicate of a
  * tied value goes is unobservable in the sum — the published numbers
  * are tie-invariant); trimmed_sum is exact, the mean one
  * truncating q6 division; groups with n ≤ 2k publish NULL (a small
  * group is data, not a config error); values are integral cents
  * (|v| < 2⁶²/k for the negation trick, documented). NULL values
  * drop; NULL groups are real strata.
  */
object TrimmedMean {

  val Scale = 1000000L

  /** (groupCol, n, trimmed_n, trimmed_sum, mean_q6). */
  def trimmedMean(df: DataFrame, groupCol: String, valueCol: String,
                  k: Int): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    graft.Guards.requireIntegral(df, valueCol, "trimmedMean")
    val v = col(valueCol).cast("long")
    val agg = df.where(col(valueCol).isNotNull)
      .select(col(groupCol), v.as("__v"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"), sum(col("__v")).as("__sum"),
        graft.functions.BottomK(k)(col("__v")).as("__lo"),
        graft.functions.BottomK(k)(-col("__v")).as("__hiNeg"))
    val sumArr = (c: org.apache.spark.sql.Column) =>
      aggregate(c, lit(0L), (acc, x) => acc + x)
    val trimmedN = col("n") - 2L * k
    val trimmedSum = col("__sum") - sumArr(col("__lo")) +
      sumArr(col("__hiNeg")) // hi values were negated: adding removes them
    val meanQ = quot(trimmedSum, trimmedN, Scale)
    agg.select(col(groupCol), col("n"),
      when(trimmedN > 0L, trimmedN).as("trimmed_n"),
      when(trimmedN > 0L, trimmedSum).as("trimmed_sum"),
      when(trimmedN > 0L, meanQ).as("mean_q6"))
  }

  /** Winsorized mean — the trim family's CLAMP sibling: instead of
    * dropping the k extremes, pin them to the (k+1)-th order statistic
    * on each side (all n observations still count, so the estimate
    * keeps the sample size while capping leverage — the robust mean a
    * billing dashboard wants when dropped rows must still bill). Same
    * bounded-buffer posture with k+1-deep [[graft.functions.BottomK]]
    * multisets: winsorized_sum = total − Σlo_k + k·lo_{k+1} − Σhi_k +
    * k·hi_{k+1} — one partial-agg'd pass, no per-group sort. Ties at a
    * boundary clamp to themselves (identity — value-multiset
    * invariant, same argument as the trim). Groups with n ≤ 2k publish
    * NULL (no boundary to clamp to on both sides); |v| < 2⁶²/(k+1) for
    * the negation trick.
    */
  def winsorizedMean(df: DataFrame, groupCol: String, valueCol: String,
                     k: Int): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    graft.Guards.requireIntegral(df, valueCol, "winsorizedMean")
    val v = col(valueCol).cast("long")
    val agg = df.where(col(valueCol).isNotNull)
      .select(col(groupCol), v.as("__v"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"), sum(col("__v")).as("__sum"),
        graft.functions.BottomK(k + 1)(col("__v")).as("__lo"),
        graft.functions.BottomK(k + 1)(-col("__v")).as("__hiNeg"))
    val sumArr = (c: org.apache.spark.sql.Column) =>
      aggregate(c, lit(0L), (acc, x) => acc + x)
    // hi values ride negated: adding Σ__hiNeg removes the k largest,
    // and the hi boundary is −__hiNeg(k+1)
    // get() (0-based) yields NULL instead of an ANSI raise on groups
    // smaller than k+1 — those publish NULL anyway via the n guard
    val ws = col("__sum") -
      sumArr(slice(col("__lo"), 1, k)) +
      lit(k.toLong) * get(col("__lo"), lit(k)) +
      sumArr(slice(col("__hiNeg"), 1, k)) -
      lit(k.toLong) * get(col("__hiNeg"), lit(k))
    val meanQ = quot(ws, col("n"), Scale)
    agg.select(col(groupCol), col("n"),
      when(col("n") > 2L * k, ws).as("wins_sum"),
      when(col("n") > 2L * k, meanQ).as("mean_q6"))
  }

  /** DuckDB replay of [[winsorizedMean]] — the window-clamp
    * formulation; `rowsSql` yields (grp, v).
    */
  def winsorizedOracleSql(rowsSql: String, groupName: String, k: Int): String =
    s"""WITH r AS (SELECT grp, v,
    row_number() OVER (PARTITION BY grp ORDER BY v ASC) AS ra,
    row_number() OVER (PARTITION BY grp ORDER BY v DESC) AS rd
  FROM ($rowsSql) WHERE v IS NOT NULL),
b AS (SELECT grp,
    min(CASE WHEN ra = ${k + 1} THEN v END) AS lob,
    min(CASE WHEN rd = ${k + 1} THEN v END) AS hib
  FROM r GROUP BY grp),
t AS (SELECT r.grp, CAST(count(*) AS BIGINT) AS n,
    CAST(sum(CASE WHEN ra <= $k THEN lob WHEN rd <= $k THEN hib
      ELSE v END) AS BIGINT) AS ws
  FROM r JOIN b ON r.grp IS NOT DISTINCT FROM b.grp
  GROUP BY r.grp)
SELECT grp AS $groupName, n,
  CASE WHEN n > ${2 * k} THEN ws END AS wins_sum,
  CASE WHEN n > ${2 * k} THEN ${quotSql("ws", "n", Scale)} END AS mean_q6
FROM t ORDER BY grp"""

  /** DuckDB replay — the window formulation (an oracle, not the
    * plan); `rowsSql` yields (grp, v).
    */
  def oracleSql(rowsSql: String, groupName: String, k: Int): String =
    s"""WITH r AS (SELECT grp, v,
    row_number() OVER (PARTITION BY grp ORDER BY v ASC, v ASC) AS ra,
    row_number() OVER (PARTITION BY grp ORDER BY v DESC, v DESC) AS rd
  FROM ($rowsSql) WHERE v IS NOT NULL),
t AS (SELECT grp, CAST(count(*) AS BIGINT) AS n,
    CAST(sum(v) FILTER (WHERE ra > $k AND rd > $k) AS BIGINT) AS ts,
    CAST(count(*) FILTER (WHERE ra > $k AND rd > $k) AS BIGINT) AS tn
  FROM r GROUP BY grp)
SELECT grp AS $groupName, n,
  CASE WHEN n > ${2 * k} THEN tn END AS trimmed_n,
  CASE WHEN n > ${2 * k} THEN ts END AS trimmed_sum,
  CASE WHEN n > ${2 * k} THEN ${quotSql("ts", "tn", Scale)} END AS mean_q6
FROM t ORDER BY grp"""
}
