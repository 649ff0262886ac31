package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Per-group least-squares trend (slope of y over x) — the grouped
  * regression primitive behind drift detection (is this customer's spend
  * rising?), metric trend scans, and cohort health scoring.
  *
  * The OLS slope is a RATIONAL of four sums:
  *
  *   slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)
  *
  * so with integer-valued x and y every term is exact: sums accumulate in
  * DECIMAL(38,0) (order-independent, no float drift at any partitioning),
  * and the quantized slope is emitted via truncating division
  * `(num·SCALE) div den` ([[graft.ExactDiv]] — both engines truncate
  * toward zero). den = 0 (a single distinct x, slope undefined) yields
  * NULL.
  *
  * Scale shape (100 TB fact table): ONE shuffle — the groupBy — carrying
  * four decimal partials per (group, partition) whatever the group sizes;
  * a whale group costs map-side accumulation only (the
  * decomposable-aggregate discipline of [[IncrementalAgg]]), never a
  * buffered value list.
  *
  * Reference scope note: fabrix has no regression operators — extension
  * surface beside the analytics family ([[Profiling]], [[Skyline]]).
  */
object GroupedTrend {

  /** Quantization scale: slope in units of 1/SCALE (y-units per x-unit). */
  val Scale: Long = 10000L

  /** (groupCols*, n, slope_q) per group; `xCol`/`yCol` must be
    * integer-valued (cast upstream — cents, epoch days, counts).
    */
  def slope(df: DataFrame, groupCols: Seq[String], xCol: String,
            yCol: String): DataFrame = {
    require(groupCols.nonEmpty, "groupCols must not be empty")
    // one-shot path: long rows + limb sums ([[graft.ExactSum.sumLong]] —
    // three codegen'd long partials per moment, recombined to the same
    // decimal(38,0) once per group). The incremental-store path keeps
    // [[withTrendColumns]]' decimal columns (its store schema is the
    // contract); only this in-memory pass changes representation.
    val xl = col(xCol).cast("long")
    val yl = col(yCol).cast("long")
    val rows = df.where(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(groupCols.map(col) :+ xl.as("__lx") :+ yl.as("__ly"): _*)
    val sums = rows
      .groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("__tn"),
        graft.ExactSum.sumLong(col("__lx")).as("__tsx"),
        graft.ExactSum.sumLong(col("__ly")).as("__tsy"),
        graft.ExactSum.sumLong(col("__lx") * col("__ly")).as("__tsxy"),
        graft.ExactSum.sumLong(col("__lx") * col("__lx")).as("__tsxx"))
    slopeFromSums(sums, groupCols)
  }

  /** The four trend sums as [[IncrementalAgg]] specs over the columns
    * [[withTrendColumns]] derives — count/sum are decomposable, so a
    * per-batch fold through the maintained store equals the direct
    * [[slope]] over the union of batches exactly (the materialized-view
    * form of trend tracking: the slope of a 100 TB history stays current
    * at one partial-aggregate pass per batch).
    */
  def trendSpecs: Seq[IncrementalAgg.AggSpec] = Seq(
    IncrementalAgg.Count("__tn"),
    IncrementalAgg.Sum("__tx", "__tsx"), IncrementalAgg.Sum("__ty", "__tsy"),
    IncrementalAgg.Sum("__txy", "__tsxy"), IncrementalAgg.Sum("__txx", "__tsxx"))

  /** Derive the decimal input columns [[trendSpecs]] aggregates. */
  def withTrendColumns(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val xl = col(xCol).cast("long")
    val yl = col(yCol).cast("long")
    // products in exact LONG arithmetic (ANSI raises loudly if |x·y|
    // exceeds 2⁶³ — the quantized-units contract), widened to
    // decimal(38,0) only for overflow-free accumulation: one codegen'd
    // long multiply per row instead of a BigDecimal multiply
    df.where(col(xCol).isNotNull && col(yCol).isNotNull)
      .withColumn("__tx", xl.cast(dec)).withColumn("__ty", yl.cast(dec))
      .withColumn("__txy", (xl * yl).cast(dec))
      .withColumn("__txx", (xl * xl).cast(dec))
  }

  /** Finish a store read (or any frame carrying the [[trendSpecs]] sum
    * columns) into (groupCols*, n, slope_q) — the same quantization and
    * NULL contract as [[slope]].
    */
  private val Dec = "decimal(38,0)"

  /** The shared exact moment n·Σab − Σa·Σb in DECIMAL(38,0) — the
    * numerator/denominator building block of [[slopeFromSums]] and every
    * [[correlation]] component (one definition, no drift).
    */
  private def crossMoment(sab: String, sa: String, sb: String) =
    (col("__tn").cast(Dec) * col(sab) - col(sa) * col(sb)).cast(Dec)

  def slopeFromSums(sums: DataFrame, groupCols: Seq[String]): DataFrame =
    sums
      .withColumn("__num", crossMoment("__tsxy", "__tsx", "__tsy"))
      .withColumn("__den", crossMoment("__tsxx", "__tsx", "__tsx"))
      .withColumn("slope_q",
        when(col("__den") === lit(0).cast(Dec), lit(null).cast("long"))
          .otherwise(graft.ExactDiv.quot(col("__num"), col("__den"), Scale)))
      .select(groupCols.map(col) ++ Seq(col("__tn").as("n"), col("slope_q")): _*)

  /** Per-group Pearson correlation in the same exact-integer discipline —
    * the feature-screening sibling of [[slope]] ("which columns move
    * together before we train on them"). Emits the three EXACT integer
    * components
    *
    *   corr_num = n·Σxy − Σx·Σy,  var_x = n·Σx² − (Σx)²,
    *   var_y = n·Σy² − (Σy)²     (so r = corr_num / √(var_x·var_y))
    *
    * which hash cross-engine (the gate checks these), plus the derived
    * double `corr` for direct use — ONE double chain ending in an IEEE
    * sqrt (correctly rounded by spec, so even the float agrees across
    * engines; NULL when either variance is zero). Same ONE-shuffle /
    * five-decimal-partials scale shape as [[slope]]; a whale group is
    * map-side accumulation only.
    */
  def correlation(df: DataFrame, groupCols: Seq[String], xCol: String,
                  yCol: String): DataFrame = {
    require(groupCols.nonEmpty, "groupCols must not be empty")
    val dec = Dec
    // long rows + limb sums, same posture (and rationale) as [[slope]]
    val xl = col(xCol).cast("long")
    val yl = col(yCol).cast("long")
    val rows = df.where(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(groupCols.map(col) :+ xl.as("__lx") :+ yl.as("__ly"): _*)
    val sums = rows
      .groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("__tn"),
        graft.ExactSum.sumLong(col("__lx")).as("__tsx"),
        graft.ExactSum.sumLong(col("__ly")).as("__tsy"),
        graft.ExactSum.sumLong(col("__lx") * col("__ly")).as("__tsxy"),
        graft.ExactSum.sumLong(col("__lx") * col("__lx")).as("__tsxx"),
        graft.ExactSum.sumLong(col("__ly") * col("__ly")).as("__tsyy"))
    sums
      .withColumn("corr_num", crossMoment("__tsxy", "__tsx", "__tsy"))
      .withColumn("var_x", crossMoment("__tsxx", "__tsx", "__tsx"))
      .withColumn("var_y", crossMoment("__tsyy", "__tsy", "__tsy"))
      .withColumn("corr",
        when(col("var_x") === lit(0).cast(dec) || col("var_y") === lit(0).cast(dec),
          lit(null).cast("double"))
          .otherwise(col("corr_num").cast("double") /
            sqrt(col("var_x").cast("double") * col("var_y").cast("double"))))
      .select(groupCols.map(col) ++ Seq(col("__tn").as("n"), col("corr_num"),
        col("var_x"), col("var_y"), col("corr")): _*)
  }

  /** DuckDB replay of [[correlation]]'s integer components (floats aren't
    * gated — CorrSpec covers the double). The moments exceed 64-bit range
    * in general and 128-bit integers hash differently across engines, so
    * each is projected as its canonical decimal string — the portable
    * exact form; the gate casts the Spark DECIMAL(38,0) side to match.
    */
  def correlationOracle(table: String, groupCols: Seq[String], xSql: String,
                        ySql: String): String = {
    val g = groupCols.mkString(", ")
    s"""WITH s AS (${sumsCteSql(table, g, xSql, ySql, withYY = true)})
SELECT $g, n,
  CAST(n * sxy - sx * sy AS VARCHAR) AS corr_num,
  CAST(n * sxx - sx * sx AS VARCHAR) AS var_x,
  CAST(n * syy - sy * sy AS VARCHAR) AS var_y
FROM s"""
  }

  /** The HUGEINT sums subquery both oracles build on — one definition,
    * matching [[withTrendColumns]]' NULL filter and integer casts.
    */
  private def sumsCteSql(table: String, g: String, xSql: String, ySql: String,
                         withYY: Boolean): String = {
    val yy = if (withYY)
      s",\n    sum(CAST($ySql AS HUGEINT) * CAST($ySql AS HUGEINT)) AS syy" else ""
    s"""
  SELECT $g, CAST(count(*) AS BIGINT) AS n,
    sum(CAST($xSql AS HUGEINT)) AS sx, sum(CAST($ySql AS HUGEINT)) AS sy,
    sum(CAST($xSql AS HUGEINT) * CAST($ySql AS HUGEINT)) AS sxy,
    sum(CAST($xSql AS HUGEINT) * CAST($xSql AS HUGEINT)) AS sxx$yy
  FROM $table WHERE ($xSql) IS NOT NULL AND ($ySql) IS NOT NULL GROUP BY $g"""
  }

  /** DuckDB replay of [[slope]] — HUGEINT sums (exact 128-bit), the same
    * truncating division ([[graft.ExactDiv]]).
    */
  def oracleSql(table: String, groupCols: Seq[String], xSql: String,
                ySql: String): String = {
    val g = groupCols.mkString(", ")
    s"""WITH s AS (${sumsCteSql(table, g, xSql, ySql, withYY = false)})
SELECT $g, n,
  CASE WHEN n * sxx - sx * sx = 0 THEN NULL
       ELSE ${graft.ExactDiv.quotSql("n * sxy - sx * sy", "n * sxx - sx * sx", Scale)}
  END AS slope_q
FROM s"""
  }
}
