package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Siegel repeated-median slope — the 50%-breakdown member of the
  * robust-trend family: [[GroupedTrend]]'s OLS breaks at ONE outlier,
  * [[TheilSen]]'s pairwise median tolerates ~29%; Siegel's
  * median-of-medians (per point, the median slope to every OTHER
  * point; then the median of those) survives until HALF the points
  * are corrupt — the estimator for series where whole segments go bad
  * (a sensor stuck for weeks, a backfill that doubled a month).
  *
  * Exactness by the TheilSen declaration: each pair slope quantizes
  * independently (10⁶·Δy/Δx truncated toward zero), each INNER median is the
  * discrete ⌈m/2⌉-th smallest of the point's n−1 quantized slopes, and
  * the OUTER median is the discrete median of those n inner medians —
  * every step integer-exact, both engines replay the whole lattice.
  *
  * Same contracts as TheilSen verbatim: the pair set is quadratic by
  * definition, so `maxPoints` raises in-plan before the join can
  * amplify (feed spines, not events); duplicate x raises (slope
  * undefined); NULL x/y drop; NULL groups are real strata;
  * single-point groups publish NULL slope.
  */
object Siegel {

  val Scale = 1000000L

  /** (groupCol, n_points, slope_q6). */
  def slope(df: DataFrame, groupCol: String, xCol: String, yCol: String,
            maxPoints: Long = 5000L): DataFrame = {
    require(maxPoints >= 2, s"maxPoints must be >= 2, got $maxPoints")
    graft.Guards.requireIntegral(df, xCol, "siegel")
    graft.Guards.requireIntegral(df, yCol, "siegel")
    val rows = df
      .where(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(col(groupCol), col(xCol).cast(LongType).as("__x"),
        col(yCol).cast(LongType).as("__y"))
    val full = Window.partitionBy(col(groupCol))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val perX = Window.partitionBy(col(groupCol), col("__x"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val sized = rows
      .withColumn("__n", count(lit(1)).over(full))
      .withColumn("__nx", count(lit(1)).over(perX))
      .withColumn("__x",
        when(col("__n") > maxPoints,
          raise_error(concat(lit("siegel: group '"),
            col(groupCol).cast("string"), lit("' carries "),
            col("__n").cast("string"),
            lit(" points — the O(n^2) pair set needs bounded series")))
            .cast("long"))
          .when(col("__nx") > 1L,
            raise_error(concat(lit("siegel: duplicate x "),
              col("__x").cast("string"),
              lit(" within a group — one row per (group, x) required")))
              .cast("long"))
          .otherwise(col("__x")))
      .select(col(groupCol), col("__x"), col("__y"))
      .localCheckpoint(true)
    val b = sized.select(col(groupCol).as("__g"), col("__x").as("__xb"),
      col("__y").as("__yb"))
    val dy = col("__yb") - col("__y")
    val dx = col("__xb") - col("__x")
    val pairSlope = graft.ExactDiv.quot(dy, dx, Scale)
    // anchored pairs: BOTH orientations, so each point sees all others
    val anchored = sized.join(b, col(groupCol) <=> col("__g") &&
        col("__x") =!= col("__xb"), "inner")
      .select(col(groupCol), col("__x"), pairSlope.as("__s"))
    val rkIn = Window.partitionBy(col(groupCol), col("__x"))
      .orderBy(col("__s").asc)
    val fullIn = Window.partitionBy(col(groupCol), col("__x"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val inner = anchored
      .withColumn("__m", count(lit(1)).over(fullIn))
      .withColumn("__rk", row_number().over(rkIn).cast(LongType))
      .where(col("__rk") === call_function("div", col("__m") + 1L, lit(2L)))
      .select(col(groupCol), col("__s").as("__med"))
    val rkOut = Window.partitionBy(col(groupCol)).orderBy(col("__med").asc)
    val fullOut = Window.partitionBy(col(groupCol))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val outer = inner
      .withColumn("__k", count(lit(1)).over(fullOut))
      .withColumn("__rk", row_number().over(rkOut).cast(LongType))
      .where(col("__rk") === call_function("div", col("__k") + 1L, lit(2L)))
      .select(col(groupCol).as("__og"), col("__med").as("slope_q6"))
    // null-safe join: a NULL group is a real stratum and must keep its
    // slope (a Seq-based equi-join would silently NULL it)
    sized.groupBy(col(groupCol)).agg(count(lit(1)).as("n_points"))
      .join(outer, col(groupCol) <=> col("__og"), "left")
      .select(col(groupCol), col("n_points"), col("slope_q6"))
  }

  /** DuckDB replay; `seriesSql` yields (grp, x, y). */
  def oracleSql(seriesSql: String, groupName: String): String =
    s"""WITH r AS (
  SELECT grp AS $groupName, CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y
  FROM ($seriesSql) WHERE x IS NOT NULL AND y IS NOT NULL),
p AS (
  SELECT a.$groupName, a.x,
    ${graft.ExactDiv.quotSql("b.y - a.y", "b.x - a.x", Scale)} AS s
  FROM r a JOIN r b
    ON a.$groupName IS NOT DISTINCT FROM b.$groupName AND a.x <> b.x),
im AS (
  SELECT $groupName, x, s,
    count(*) OVER (PARTITION BY $groupName, x) AS m,
    row_number() OVER (PARTITION BY $groupName, x ORDER BY s ASC) AS rk
  FROM p),
inner_med AS (SELECT $groupName, s AS med FROM im WHERE rk = (m + 1) // 2),
om AS (
  SELECT $groupName, med,
    count(*) OVER (PARTITION BY $groupName) AS k,
    row_number() OVER (PARTITION BY $groupName ORDER BY med ASC) AS rk
  FROM inner_med),
outer_med AS (SELECT $groupName, med AS slope_q6 FROM om
  WHERE rk = (k + 1) // 2),
pts AS (SELECT $groupName, CAST(count(*) AS BIGINT) AS n_points
  FROM r GROUP BY $groupName)
SELECT pts.$groupName, pts.n_points, outer_med.slope_q6
FROM pts LEFT JOIN outer_med
  ON outer_med.$groupName IS NOT DISTINCT FROM pts.$groupName
ORDER BY pts.$groupName"""
}
