package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Cohort LTV curves — cumulative revenue per acquisition cohort by
  * age: the finance-facing twin of the retention matrix ([[Retention]]
  * counts who came back; this sums what they were worth), the table
  * behind payback-period and "month-12 LTV" readouts.
  *
  * Months are INTEGER indices (`year·12 + month`) so cohort and age
  * arithmetic is exact on any engine — no interval types, no
  * months_between float. Ages densify to the corpus horizon (every
  * cohort gets rows 0..max observable age, the [[DenseSeries]]
  * posture): a month with no revenue is an explicit zero row, so the
  * cumulative curve is flat there instead of silently skipping — and
  * every cohort's curve ends at the SAME calendar month, making curves
  * comparable. `ltv_cents = cum_cents div cohort_size` truncating
  * (non-negative = floor both engines).
  *
  * Scale shape: two corpus passes (first-month per customer, revenue
  * per cohort-month), both partial-agg'd; the spine is
  * cohorts × horizon (output-sized); the cumsum window is per-cohort
  * over AGES (horizon-bounded, ≤ a few hundred rows each); the horizon
  * is a 1-row grand agg crossed in broadcast.
  *
  * Contract: rows with NULL customer/date drop (unattributable);
  * revenue may be negative (refunds) — the cumulative can dip; sums
  * are exact decimal(38,0) values (computed via [[graft.ExactSum]]
  * limb sums when the cents column is integral, plain decimal sums
  * otherwise).
  */
object CohortLtv {

  /** (cohort_month 'YYYY-MM', age_months, cohort_size, rev_cents,
    * cum_cents, ltv_cents) for every cohort × age up to the corpus
    * horizon.
    */
  def curves(df: DataFrame, custCol: String, dateCol: String,
             centsCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    // integral inputs take the limb-sum fast path (graft.ExactSum): the
    // decimal(38,0) aggregate and window sums are exact but pay the
    // BigInteger-buffer tax per row. cast(long) of an integral column is
    // an identity (no rounding hazard — the hazard that keeps fractional
    // inputs on the decimal path, where cast(long) truncates but
    // cast(decimal) rounds), and rev_cents is PUBLISHED as BIGINT anyway,
    // so moving its long cast before the cumsum only moves the ANSI
    // overflow raise earlier, never changes a published value.
    val integral = df.schema(centsCol).dataType match {
      case org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType => true
      case _ => false
    }
    val rows = df
      .where(col(custCol).isNotNull && col(dateCol).isNotNull)
      .select(col(custCol).as("__c"),
        (year(col(dateCol)) * 12 + month(col(dateCol))).as("__m"),
        col(centsCol).as("__v"))
      .localCheckpoint(true)
    val cohorts = rows.groupBy(col("__c")).agg(min(col("__m")).as("__coh"))
    val sizes = cohorts.groupBy(col("__coh"))
      .agg(count(lit(1)).as("cohort_size"))
    val revAgg =
      if (integral) graft.ExactSum.sumLong(col("__v").cast("long"))
      else sum(col("__v").cast(dec))
    val rev = rows.join(cohorts, "__c")
      .groupBy(col("__coh"), (col("__m") - col("__coh")).as("age_months"))
      .agg(revAgg.as("__rev"))
    val horizon = rows.agg(max(col("__m")).as("__maxm"))
    val spine = sizes.crossJoin(broadcast(horizon))
      .select(col("__coh"), col("cohort_size"),
        explode(sequence(lit(0), (col("__maxm") - col("__coh")).cast("int")))
          .as("age_months"))
    val cum = Window.partitionBy(col("__coh")).orderBy(col("age_months"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val joined = spine.join(rev, Seq("__coh", "age_months"), "left")
    val cummed =
      if (integral)
        joined
          .withColumn("rev_cents", coalesce(col("__rev").cast("long"), lit(0L)))
          .withColumn("__cum", graft.ExactSum.sumLongOver(col("rev_cents"), cum))
      else
        joined
          .withColumn("rev_cents", coalesce(col("__rev"), lit(0).cast(dec)))
          .withColumn("__cum", sum(col("rev_cents")).over(cum))
    cummed
      .select(
        concat(expr("CAST((__coh - 1) div 12 AS STRING)"), lit("-"),
          lpad((pmod(col("__coh") - 1, lit(12)) + 1).cast("string"), 2, "0"))
          .as("cohort_month"),
        col("age_months").cast("long").as("age_months"),
        col("cohort_size"),
        col("rev_cents").cast("long").as("rev_cents"),
        col("__cum").cast("long").as("cum_cents"),
        // refunds can dip the cumulative negative: both engines
        // truncate toward zero
        graft.ExactDiv.quot(col("__cum"), col("cohort_size")).as("ltv_cents"))
  }

  /** DuckDB replay of [[curves]] — same integer month indices,
    * generate_series spine, HUGEINT magnitudes.
    */
  def oracleSql(table: String, custCol: String, dateCol: String,
                centsSql: String): String =
    s"""WITH rows_ AS (
  SELECT $custCol AS c, year($dateCol) * 12 + month($dateCol) AS m,
    $centsSql AS v
  FROM $table WHERE $custCol IS NOT NULL AND $dateCol IS NOT NULL),
coh AS (SELECT c, min(m) AS coh FROM rows_ GROUP BY c),
sizes AS (SELECT coh, CAST(count(*) AS BIGINT) AS cohort_size
  FROM coh GROUP BY coh),
rev AS (SELECT coh.coh, rows_.m - coh.coh AS age,
    CAST(sum(CAST(v AS HUGEINT)) AS HUGEINT) AS rev
  FROM rows_ JOIN coh USING (c) GROUP BY 1, 2),
hor AS (SELECT max(m) AS maxm FROM rows_),
spine AS (
  SELECT s.coh, s.cohort_size,
    unnest(generate_series(0, hor.maxm - s.coh)) AS age
  FROM sizes s CROSS JOIN hor),
cumd AS (
  SELECT spine.coh, spine.cohort_size, spine.age,
    coalesce(rev.rev, 0) AS rev_cents,
    sum(coalesce(rev.rev, 0)) OVER (PARTITION BY spine.coh ORDER BY spine.age
      ROWS UNBOUNDED PRECEDING) AS cum
  FROM spine LEFT JOIN rev ON spine.coh = rev.coh AND spine.age = rev.age)
SELECT CAST((coh - 1) // 12 AS VARCHAR) || '-' ||
    lpad(CAST(((coh - 1) % 12) + 1 AS VARCHAR), 2, '0') AS cohort_month,
  CAST(age AS BIGINT) AS age_months, cohort_size,
  CAST(rev_cents AS BIGINT) AS rev_cents, CAST(cum AS BIGINT) AS cum_cents,
  ${graft.ExactDiv.quotSql("cum", "cohort_size")} AS ltv_cents
FROM cumd ORDER BY cohort_month, age_months""".stripMargin
}
