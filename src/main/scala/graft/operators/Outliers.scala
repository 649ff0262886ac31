package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

/** Per-group z-score standardization and outlier flagging — the numeric
  * screen a curation pipeline runs over quality scores, token counts, and
  * feature columns before training: standardize within a stratum (source,
  * language), flag rows far from their group's distribution.
  *
  * Cross-engine determinism is the design constraint: group sums and
  * sums-of-squares accumulate in DECIMAL (exact, order-independent), are
  * cast to double ONCE, and the remaining arithmetic — mean = s/n,
  * var = ss/n − mean², std = √var, z = (x − mean)/std — is a fixed
  * sequence of IEEE-754 double ops (division, multiply, subtract, and a
  * correctly-rounded sqrt) that every conforming engine evaluates to the
  * same bits. The emitted `z_scaled = ⌊z·10⁴⌋` is therefore hashable
  * across engines — the [[graft.functions.QuantizedDot]] quantization
  * contract applied to standardization.
  *
  * Scale shape (100 TB): group moments are ONE partial-agg'd shuffle of
  * three decimals per (group, partition) — the decomposable-aggregate
  * posture, whale-group safe; the moments table (|groups| rows) broadcast
  * joins back and scoring is scan-stage arithmetic. No window, no second
  * pass over row data.
  *
  * Degenerate groups: std = 0 (constant group, or a single row) yields
  * NULL z — no row of such a group is an outlier.
  */
object Outliers {

  /** Input columns plus `z_scaled` (⌊z·10⁴⌋, NULL when the group std is
    * zero) and `is_outlier` (|z| > threshold, false when z is NULL).
    */
  def zscore(df: DataFrame, groupCol: String, valueCol: String,
             threshold: Double = 3.0): DataFrame = {
    val dec = col(valueCol).cast(DecimalType(18, 2))
    val stats = df.groupBy(col(groupCol)).agg(
      count(col(valueCol)).cast(LongType).as("__cnt"),
      sum(dec).as("__s"),
      sum(dec * dec).as("__ss"))
    val n = col("__cnt").cast(DoubleType)
    val mean = col("__s").cast(DoubleType) / n
    val variance = col("__ss").cast(DoubleType) / n - mean * mean
    val std = sqrt(variance)
    val z = (col(valueCol).cast(DoubleType) - mean) / std
    // guard on variance (not std): a constant group's variance can round to
    // a tiny NEGATIVE double, and sqrt of a negative must never evaluate.
    // coalesce: a NULL value row has NULL z even in a live group — the
    // flag contract is "false whenever z is NULL", not NULL (which would
    // silently drop the row from a `where(!is_outlier)` keep-filter)
    df.join(broadcast(stats), groupCol)
      .withColumn("z_scaled",
        when(variance > 0.0, floor(z * lit(1e4)).cast(LongType)))
      .withColumn("is_outlier",
        coalesce(when(variance > 0.0, abs(z) > threshold), lit(false)))
      .drop("__cnt", "__s", "__ss")
  }

  /** Robust per-group outliers on the MEDIAN absolute deviation — the
    * screen that survives what breaks [[zscore]]: one whale value drags a
    * mean/std enough to mask every other outlier (and to flag itself
    * less), while the median and MAD ignore it. Everything is integer:
    * the group median is the DISCRETE lower median (the ⌈n/2⌉-th smallest
    * — `quantile_disc(0.5)` parity, no interpolation, no floats),
    * deviations are exact longs, and the flag is the cross-multiplied
    * integer comparison `dev·kDen > kNum·mad` (deviation above kNum/kDen
    * MADs), routed through DECIMAL(38,0) so extreme magnitudes cannot
    * overflow under ANSI.
    *
    * Scale shape: two rank passes (median of values, median of
    * deviations), each a per-group window — the rank-normalize wall-clock
    * posture: hash by group, spill-backed per-group sort, no frame
    * buffer; a whale group costs one task's wall-clock, never memory. The
    * medians table is group-sized and broadcast back; flagging is
    * scan-stage arithmetic.
    *
    * Degenerate groups: MAD = 0 (over half the group shares one value)
    * flags EVERY deviating row — the standard MAD-screen behavior;
    * pre-filter constant-heavy groups if that is too eager. NULL values
    * are unrankable and drop; a NULL GROUP is a real stratum and is
    * screened like any other (null-safe median joins — the
    * [[WeightedStats.weightedMedian]] null-group contract).
    */
  def madOutliers(df: DataFrame, groupCol: String, valueCol: String,
                  idCol: String, kNum: Long = 3L, kDen: Long = 1L): DataFrame = {
    graft.Guards.requireIntegral(df, valueCol, "madOutliers")
    require(kNum > 0 && kDen > 0, s"threshold $kNum/$kDen must be positive")
    val v = col(valueCol).cast(LongType)
    val vals = df.where(col(valueCol).isNotNull)
      .select(col(groupCol), col(idCol), v.as("__v"))

    def discMedian(in: DataFrame, c: String, out: String): DataFrame =
      discQuantile(in, groupCol, c, out, 1L, 2L)

    val med = discMedian(vals, "__v", "__med").withColumnRenamed(groupCol, "__g")
    val devs = vals.join(broadcast(med), col(groupCol) <=> col("__g")).drop("__g")
      .withColumn("__dev", abs(col("__v") - col("__med")))
    val mad = discMedian(devs.select(col(groupCol), col("__dev")), "__dev", "__mad")
      .withColumnRenamed(groupCol, "__g")
    devs.join(broadcast(mad), col(groupCol) <=> col("__g")).drop("__g")
      .where(col("__dev").cast(DecimalType(38, 0)) * kDen >
        lit(kNum) * col("__mad").cast(DecimalType(38, 0)))
      .select(col(groupCol), col(idCol), col("__v").as("value"),
        col("__dev").as("abs_dev"), col("__mad").as("mad"))
  }

  /** The ⌈q·n⌉-th smallest `c` per group (q = num/den as an integer
    * fraction — no float rank arithmetic): the DISCRETE quantile,
    * `quantile_disc` parity for every (q, n) (spot-verified exhaustively
    * to n = 400 across seven fractions). One per-group rank window — the
    * rank-normalize wall-clock posture.
    */
  private def discQuantile(in: DataFrame, groupCol: String, c: String,
                           out: String, num: Long, den: Long): DataFrame = {
    val byG = Window.partitionBy(col(groupCol)).orderBy(col(c))
    val whole = Window.partitionBy(col(groupCol))
    in.withColumn("__rn", row_number().over(byG))
      .withColumn("__cnt", count(lit(1)).over(whole))
      .where(col("__rn") === expr(s"($num * __cnt + ${den - 1}) div $den"))
      .select(col(groupCol), col(c).as(out))
  }

  /** Per-group winsorization — clip values into their group's
    * [q_lo, q_hi] discrete-quantile band instead of dropping them: the
    * standard tail-taming transform before means, regressions, and
    * revenue rollups where a handful of whale values would otherwise own
    * the statistic but deletion would bias it. Quantile fractions are
    * integer (num, den) pairs; the cut values are DISCRETE order
    * statistics (⌈q·n⌉-th smallest — `quantile_disc` parity, engine-exact
    * on integral values, no interpolation).
    *
    * Output: (groupCol, idCol, value, lo, hi, clipped) for every non-NULL
    * value row — `clipped` is `least(greatest(value, lo), hi)`; a NULL
    * GROUP clips within its own stratum (null-safe cut joins, the
    * [[madOutliers]] contract). Same wall-clock posture as
    * [[madOutliers]] (two rank passes share one group sort); the cut
    * table is group-sized and broadcast back.
    */
  def winsorize(df: DataFrame, groupCol: String, valueCol: String,
                idCol: String, loNum: Long = 1L, loDen: Long = 20L,
                hiNum: Long = 19L, hiDen: Long = 20L): DataFrame = {
    graft.Guards.requireIntegral(df, valueCol, "winsorize")
    require(loNum > 0 && loDen > 0 && hiNum > 0 && hiDen > 0 &&
      loNum * hiDen <= hiNum * loDen && hiNum <= hiDen,
      s"need 0 < $loNum/$loDen <= $hiNum/$hiDen <= 1")
    val vals = df.where(col(valueCol).isNotNull)
      .select(col(groupCol), col(idCol), col(valueCol).cast(LongType).as("__v"))
    val lo = discQuantile(vals, groupCol, "__v", "lo", loNum, loDen)
      .withColumnRenamed(groupCol, "__gl")
    val hi = discQuantile(vals, groupCol, "__v", "hi", hiNum, hiDen)
      .withColumnRenamed(groupCol, "__gh")
    vals
      .join(broadcast(lo), col(groupCol) <=> col("__gl")).drop("__gl")
      .join(broadcast(hi), col(groupCol) <=> col("__gh")).drop("__gh")
      .select(col(groupCol), col(idCol), col("__v").as("value"),
        col("lo"), col("hi"),
        least(greatest(col("__v"), col("lo")), col("hi")).as("clipped"))
  }

  /** Tukey's boxplot fences — the third member of the robust screen
    * family, between [[zscore]] (parametric, whale-maskable) and
    * [[madOutliers]] (heaviest-tailed): flag rows outside
    * `[q1 − k·IQR, q3 + k·IQR]` with k = kNum/kDen (the boxplot's 1.5 =
    * 3/2 default). Quartiles are DISCRETE order statistics (⌈n/4⌉-th and
    * ⌈3n/4⌉-th smallest — quantile_disc parity) and the fences
    * cross-multiply to exact integers (`kDen·v < kDen·q1 − kNum·(q3−q1)`
    * through DECIMAL(38,0)), so no float fence ever disagrees between
    * engines. Same posture and NULL-group contract as [[madOutliers]].
    *
    * Output: (groupCol, idCol, value, q1, q3, side) for flagged rows only
    * — `side` is 'low' or 'high'.
    */
  def tukeyFences(df: DataFrame, groupCol: String, valueCol: String,
                  idCol: String, kNum: Long = 3L, kDen: Long = 2L): DataFrame = {
    graft.Guards.requireIntegral(df, valueCol, "tukeyFences")
    require(kNum > 0 && kDen > 0, s"fence factor $kNum/$kDen must be positive")
    val vals = df.where(col(valueCol).isNotNull)
      .select(col(groupCol), col(idCol), col(valueCol).cast(LongType).as("__v"))
    val q1 = discQuantile(vals, groupCol, "__v", "q1", 1L, 4L)
      .withColumnRenamed(groupCol, "__g1")
    val q3 = discQuantile(vals, groupCol, "__v", "q3", 3L, 4L)
      .withColumnRenamed(groupCol, "__g3")
    val d = DecimalType(38, 0)
    val iqr = col("q3").cast(d) - col("q1").cast(d)
    val low = col("__v").cast(d) * kDen < col("q1").cast(d) * kDen - lit(kNum) * iqr
    val high = col("__v").cast(d) * kDen > col("q3").cast(d) * kDen + lit(kNum) * iqr
    vals
      .join(broadcast(q1), col(groupCol) <=> col("__g1")).drop("__g1")
      .join(broadcast(q3), col(groupCol) <=> col("__g3")).drop("__g3")
      .where(low || high)
      .select(col(groupCol), col(idCol), col("__v").as("value"),
        col("q1"), col("q3"), when(low, lit("low")).otherwise(lit("high")).as("side"))
  }

  /** DuckDB replay of [[tukeyFences]]. */
  def tukeyOracleSql(table: String, groupCol: String, valueCol: String,
                     idCol: String, kNum: Long = 3L, kDen: Long = 2L): String =
    s"""WITH v AS (SELECT $groupCol, $idCol, CAST($valueCol AS BIGINT) AS v
  FROM $table WHERE $valueCol IS NOT NULL),
c AS (SELECT $groupCol, quantile_disc(v, 0.25) AS q1, quantile_disc(v, 0.75) AS q3
  FROM v GROUP BY 1)
SELECT v.$groupCol, v.$idCol, v.v AS value, c.q1, c.q3,
  CASE WHEN CAST(v.v AS DECIMAL(38,0)) * $kDen
         < CAST(c.q1 AS DECIMAL(38,0)) * $kDen
           - $kNum * (CAST(c.q3 AS DECIMAL(38,0)) - c.q1)
       THEN 'low' ELSE 'high' END AS side
FROM v JOIN c ON v.$groupCol IS NOT DISTINCT FROM c.$groupCol
WHERE CAST(v.v AS DECIMAL(38,0)) * $kDen
    < CAST(c.q1 AS DECIMAL(38,0)) * $kDen
      - $kNum * (CAST(c.q3 AS DECIMAL(38,0)) - c.q1)
  OR CAST(v.v AS DECIMAL(38,0)) * $kDen
    > CAST(c.q3 AS DECIMAL(38,0)) * $kDen
      + $kNum * (CAST(c.q3 AS DECIMAL(38,0)) - c.q1)
ORDER BY 1, 2""".stripMargin

  /** Per-group TRIMMED mean — [[winsorize]]'s deleting sibling: the mean
    * of the rows INSIDE the [q_lo, q_hi] discrete-quantile band (the
    * olympic-scoring / fair-average readout; winsorize keeps clipped
    * whales' presence, trimming removes their votes entirely). Exact:
    * decimal sum over kept rows, ONE truncating division.
    * Output: (groupCol, n_kept, trimmed_mean).
    */
  def trimmedMean(df: DataFrame, groupCol: String, valueCol: String,
                  loNum: Long = 1L, loDen: Long = 20L,
                  hiNum: Long = 19L, hiDen: Long = 20L): DataFrame = {
    graft.Guards.requireIntegral(df, valueCol, "trimmedMean")
    require(loNum > 0 && loDen > 0 && hiNum > 0 && hiDen > 0 &&
      loNum * hiDen <= hiNum * loDen && hiNum <= hiDen,
      s"need 0 < $loNum/$loDen <= $hiNum/$hiDen <= 1")
    val vals = df.where(col(valueCol).isNotNull)
      .select(col(groupCol), col(valueCol).cast(LongType).as("__v"))
    val lo = discQuantile(vals, groupCol, "__v", "__lo", loNum, loDen)
      .withColumnRenamed(groupCol, "__gl")
    val hi = discQuantile(vals, groupCol, "__v", "__hi", hiNum, hiDen)
      .withColumnRenamed(groupCol, "__gh")
    vals
      .join(broadcast(lo), col(groupCol) <=> col("__gl")).drop("__gl")
      .join(broadcast(hi), col(groupCol) <=> col("__gh")).drop("__gh")
      .where(col("__v") >= col("__lo") && col("__v") <= col("__hi"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_kept"),
        sum(col("__v").cast(DecimalType(38, 0))).as("__s"))
      .select(col(groupCol), col("n_kept"),
        graft.ExactDiv.quot(col("__s"), col("n_kept")).as("trimmed_mean"))
  }

  /** DuckDB replay of [[trimmedMean]] — the same truncating division. */
  def trimmedMeanOracleSql(table: String, groupCol: String, valueCol: String,
                           loNum: Long = 1L, loDen: Long = 20L,
                           hiNum: Long = 19L, hiDen: Long = 20L): String = {
    val qLo = loNum.toDouble / loDen
    val qHi = hiNum.toDouble / hiDen
    s"""WITH v AS (SELECT $groupCol, CAST($valueCol AS BIGINT) AS v
  FROM $table WHERE $valueCol IS NOT NULL),
c AS (SELECT $groupCol, quantile_disc(v, $qLo) AS lo, quantile_disc(v, $qHi) AS hi
  FROM v GROUP BY 1)
SELECT v.$groupCol, count(*) AS n_kept,
  ${graft.ExactDiv.quotSql("sum(CAST(v.v AS DECIMAL(38,0)))", "count(*)")} AS trimmed_mean
FROM v JOIN c ON v.$groupCol IS NOT DISTINCT FROM c.$groupCol
WHERE v.v >= c.lo AND v.v <= c.hi
GROUP BY v.$groupCol
ORDER BY v.$groupCol""".stripMargin
  }

  /** DuckDB replay of [[winsorize]]. */
  def winsorizeOracleSql(table: String, groupCol: String, valueCol: String,
                         idCol: String, loNum: Long = 1L, loDen: Long = 20L,
                         hiNum: Long = 19L, hiDen: Long = 20L): String = {
    val qLo = loNum.toDouble / loDen
    val qHi = hiNum.toDouble / hiDen
    s"""WITH v AS (SELECT $groupCol, $idCol, CAST($valueCol AS BIGINT) AS v
  FROM $table WHERE $valueCol IS NOT NULL),
c AS (SELECT $groupCol, quantile_disc(v, $qLo) AS lo, quantile_disc(v, $qHi) AS hi
  FROM v GROUP BY 1)
SELECT v.$groupCol, v.$idCol, v.v AS value, c.lo, c.hi,
  least(greatest(v.v, c.lo), c.hi) AS clipped
FROM v JOIN c ON v.$groupCol IS NOT DISTINCT FROM c.$groupCol
ORDER BY 1, 2""".stripMargin
  }

  /** DuckDB replay of [[madOutliers]] — quantile_disc(0.5) IS the
    * ⌈n/2⌉-th smallest, the same cross-multiplied flag.
    */
  def madOracleSql(table: String, groupCol: String, valueCol: String,
                   idCol: String, kNum: Long = 3L, kDen: Long = 1L): String =
    s"""WITH v AS (SELECT $groupCol, $idCol, CAST($valueCol AS BIGINT) AS v
  FROM $table WHERE $valueCol IS NOT NULL),
m AS (SELECT $groupCol, quantile_disc(v, 0.5) AS med FROM v GROUP BY 1),
d AS (SELECT v.$groupCol, v.$idCol, v.v, abs(v.v - m.med) AS dev
  FROM v JOIN m ON v.$groupCol IS NOT DISTINCT FROM m.$groupCol),
md AS (SELECT $groupCol, quantile_disc(dev, 0.5) AS mad FROM d GROUP BY 1)
SELECT d.$groupCol, d.$idCol, d.v AS value,
  CAST(d.dev AS BIGINT) AS abs_dev, CAST(md.mad AS BIGINT) AS mad
FROM d JOIN md ON d.$groupCol IS NOT DISTINCT FROM md.$groupCol
WHERE CAST(d.dev AS DECIMAL(38,0)) * $kDen > $kNum * CAST(md.mad AS DECIMAL(38,0))
ORDER BY 1, 2""".stripMargin

  /** DuckDB replay of [[zscore]]: the same decimal moments, the same
    * double expression sequence (operation-for-operation — IEEE
    * determinism needs the identical tree, not an algebraic equivalent).
    */
  def oracleSql(table: String, groupCol: String, valueCol: String,
                threshold: Double, keepCols: Seq[String]): String = {
    val cols = keepCols.map(c => s"t.$c").mkString(", ")
    s"""WITH g AS (SELECT $groupCol, count($valueCol) AS cnt,
  sum(CAST($valueCol AS DECIMAL(18,2))) AS s,
  sum(CAST($valueCol AS DECIMAL(18,2)) * CAST($valueCol AS DECIMAL(18,2))) AS ss
  FROM $table GROUP BY $groupCol),
d AS (SELECT $groupCol, CAST(cnt AS DOUBLE) AS n,
  CAST(s AS DOUBLE) / CAST(cnt AS DOUBLE) AS mean,
  CAST(ss AS DOUBLE) / CAST(cnt AS DOUBLE)
    - (CAST(s AS DOUBLE) / CAST(cnt AS DOUBLE)) * (CAST(s AS DOUBLE) / CAST(cnt AS DOUBLE)) AS variance
  FROM g)
SELECT $cols,
  CASE WHEN d.variance > 0
    THEN CAST(floor((CAST(t.$valueCol AS DOUBLE) - d.mean) / sqrt(d.variance) * 1e4) AS BIGINT)
  END AS z_scaled,
  coalesce(CASE WHEN d.variance > 0
    THEN abs((CAST(t.$valueCol AS DOUBLE) - d.mean) / sqrt(d.variance)) > $threshold
  END, false) AS is_outlier
FROM $table t JOIN d ON t.$groupCol = d.$groupCol""".stripMargin
  }
}
