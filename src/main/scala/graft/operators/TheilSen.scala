package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Theil–Sen robust trend — the median of all pairwise slopes: the
  * outlier-proof member of the trend family ([[GroupedTrend]]'s OLS
  * moves arbitrarily far for ONE bad point; the Theil–Sen estimator
  * tolerates ~29% contamination, the right default for telemetry
  * series with ingestion glitches). Exactness is by declaration, the
  * repo's ladder: each pair's slope quantizes independently —
  * 10⁶·(yⱼ−yᵢ)/(xⱼ−xᵢ) truncated — and the estimate is the
  * discrete median (the ⌈n/2⌉-th smallest, the quantile_disc parity
  * law) of those integers, so both engines replay the whole multiset.
  *
  * The pair set is quadratic BY DEFINITION (n(n−1)/2 — that IS the
  * estimator), so inputs are the bounded-series kind: feed the
  * [[DenseSeries]] daily spine or a pre-aggregated series, never raw
  * events — groups above `maxPoints` raise loudly INSIDE the plan
  * before the join can amplify them. One row per (group, x) required
  * (duplicate x within a group would divide by zero — they raise via
  * the dx > 0 contract below); NULL x/y drop; NULL groups a real
  * stratum; a single-point group has no pairs and reports NULL.
  */
object TheilSen {

  val Scale = 1000000L

  /** (groupCol, n_points, n_pairs, slope_q6). */
  def slope(df: DataFrame, groupCol: String, xCol: String, yCol: String,
            maxPoints: Long = 5000L): DataFrame = {
    require(maxPoints >= 2, s"maxPoints must be >= 2, got $maxPoints")
    graft.Guards.requireIntegral(df, xCol, "slope")
    graft.Guards.requireIntegral(df, yCol, "slope")
    val rows = df
      .where(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(col(groupCol), col(xCol).cast(LongType).as("__x"),
        col(yCol).cast(LongType).as("__y"))
    val full0 = Window.partitionBy(col(groupCol))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val perX = Window.partitionBy(col(groupCol), col("__x"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    // both guards ride __x — the column every pair consumes
    val sized = rows
      .withColumn("__n", count(lit(1)).over(full0))
      .withColumn("__nx", count(lit(1)).over(perX))
      .withColumn("__x",
        when(col("__n") > maxPoints,
          raise_error(concat(lit("theilSen: group '"),
            col(groupCol).cast("string"), lit("' carries "),
            col("__n").cast("string"),
            lit(" points — the O(n^2) pair set needs bounded series; " +
              "pre-aggregate or raise maxPoints"))).cast("long"))
          .when(col("__nx") > 1L,
            raise_error(concat(lit("theilSen: duplicate x "),
              col("__x").cast("string"),
              lit(" within a group — one row per (group, x) required")))
              .cast("long"))
          .otherwise(col("__x")))
      .select(col(groupCol), col("__x"), col("__y"))
      .localCheckpoint(true)
    val a = sized.select(col(groupCol), col("__x").as("__xa"),
      col("__y").as("__ya"))
    val b = sized.select(col(groupCol).as("__g"), col("__x").as("__xb"),
      col("__y").as("__yb"))
    val dy = col("__yb") - col("__ya")
    val dx = col("__xb") - col("__xa")
    val pairSlope = graft.ExactDiv.quot(dy, dx, Scale)
    val all = a.join(b, col(groupCol) <=> col("__g") &&
        col("__xa") < col("__xb"), "inner")
      .select(col(groupCol), pairSlope.as("__s"))
    val rk = Window.partitionBy(col(groupCol)).orderBy(col("__s").asc)
    val full = Window.partitionBy(col(groupCol))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val med = all
      .withColumn("__np", count(lit(1)).over(full))
      .withColumn("__rk", row_number().over(rk).cast(LongType))
      .where(col("__rk") ===
        call_function("div", col("__np") + 1L, lit(2L)))
      .select(col(groupCol).as("__mg"), col("__np").as("n_pairs"),
        col("__s").as("slope_q6"))
    // null-safe join: a NULL group is a real stratum and must keep its
    // slope (a Seq-based equi-join would silently NULL it — caught by
    // the Siegel twin's spec, r10)
    sized.groupBy(col(groupCol)).agg(count(lit(1)).as("n_points"))
      .join(med, col(groupCol) <=> col("__mg"), "left")
      .select(col(groupCol), col("n_points"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"), col("slope_q6"))
  }

  /** DuckDB replay of [[slope]]. `seriesSql` must yield (grp, x, y). */
  def oracleSql(seriesSql: String, groupName: String): String =
    s"""WITH r AS (
  SELECT grp AS $groupName, CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y
  FROM ($seriesSql) WHERE x IS NOT NULL AND y IS NOT NULL),
p AS (
  SELECT a.$groupName,
    ${graft.ExactDiv.quotSql("b.y - a.y", "b.x - a.x", Scale)} AS s
  FROM r a JOIN r b
    ON a.$groupName IS NOT DISTINCT FROM b.$groupName AND a.x < b.x),
m AS (
  SELECT $groupName, s,
    count(*) OVER (PARTITION BY $groupName) AS np,
    row_number() OVER (PARTITION BY $groupName ORDER BY s ASC) AS rk
  FROM p),
med AS (SELECT $groupName, CAST(np AS BIGINT) AS n_pairs, s AS slope_q6
  FROM m WHERE rk = (np + 1) // 2),
pts AS (SELECT $groupName, CAST(count(*) AS BIGINT) AS n_points
  FROM r GROUP BY $groupName)
SELECT pts.$groupName, n_points, coalesce(n_pairs, 0) AS n_pairs, slope_q6
FROM pts LEFT JOIN med USING ($groupName)
ORDER BY $groupName"""
}
