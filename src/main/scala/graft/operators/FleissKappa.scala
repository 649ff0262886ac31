package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fleiss' kappa — chance-corrected agreement for MANY raters: Cohen's
  * kappa ([[ModelEval.kappa]]) compares exactly two labelers;
  * [[Krippendorff]] handles missing ratings and general distance
  * metrics; Fleiss is the standard REPORTED statistic when every item
  * got the same number r of categorical ratings from an anonymous rater
  * pool (the label-quality number in annotation-campaign papers, r ≥ 2).
  *
  * Entirely exact — kappa is rational in the category counts. With
  * n_ij = ratings of item i in category j, N items, r raters per item:
  * A = Σ_i Σ_j n_ij² − N·r (the agreement numerator over N·r(r−1)),
  * C = Σ_j (Σ_i n_ij)² (the chance numerator over N²r²), and
  *
  *   κ = (A·N²r² − C·N·r(r−1)) / (N·r(r−1)·(N²r² − C))
  *
  * — one truncating q6 division over DECIMAL(38,0)
  * magnitudes (N ≤ ~10⁶ items with r ≤ 100 stays inside the window).
  * C = N²r² means every rating fell in one category — agreement is
  * vacuous and kappa publishes NULL (the [[ModelEval.kappa]]
  * convention).
  *
  * Contracts enforced IN-PLAN: every item must carry exactly r ratings
  * (an unbalanced panel is [[Krippendorff]]'s job — the raise names it)
  * and r ≥ 2; NULL item/category rows drop.
  *
  * Scale shape: one (item, category) partial-agg collapse, then
  * item-sized and category-sized re-aggregates to 1-row broadcasts —
  * a billion ratings cost one shuffle of distinct cells.
  */
object FleissKappa {

  val Scale = 1000000L

  /** One row: (n_items, raters, kappa_q6). */
  def kappa(df: DataFrame, itemCol: String, categoryCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val cells = df
      .where(col(itemCol).isNotNull && col(categoryCol).isNotNull)
      .groupBy(col(itemCol).as("__i"), col(categoryCol).as("__c"))
      .agg(count(lit(1)).as("__n"))
    val perItem = cells.groupBy(col("__i"))
      .agg(sum(col("__n")).as("__r"),
        sum(col("__n") * col("__n")).as("__s2"))
    val itemAgg = perItem.agg(
      count(lit(1)).as("__N"),
      min(col("__r")).as("__rmin"), max(col("__r")).as("__rmax"),
      sum(col("__s2")).as("__sumS2"))
    val catAgg = cells.groupBy(col("__c")).agg(sum(col("__n")).as("__ct"))
      .agg(sum(col("__ct").cast(dec) * col("__ct")).as("__C"))
    itemAgg.crossJoin(catAgg)
      .select(
        when(col("__rmin") =!= col("__rmax"), raise_error(concat(
          lit("fleissKappa: items carry between "), col("__rmin").cast("string"),
          lit(" and "), col("__rmax").cast("string"),
          lit(" ratings — Fleiss requires a balanced panel; " +
            "use Krippendorff for missing ratings"))).cast("long"))
          .when(col("__rmax") < 2L, raise_error(
            lit("fleissKappa: needs at least 2 raters per item")).cast("long"))
          .otherwise(col("__N")).as("n_items"),
        col("__rmax").as("raters"),
        col("__N"), col("__sumS2"), col("__C"), col("__rmax"))
      .select(col("n_items"), col("raters"), {
        val n = col("__N").cast(dec); val r = col("__rmax").cast(dec)
        val a = col("__sumS2").cast(dec) - n * r
        val c = col("__C").cast(dec)
        val n2r2 = n * n * r * r
        val nrr1 = n * r * (r - lit(1))
        when(n2r2 === c, lit(null).cast("long"))
          .otherwise(graft.ExactDiv.quot(a * n2r2 - c * nrr1, nrr1 * (n2r2 - c), Scale))
      }.as("kappa_q6"))
  }

  /** DuckDB replay of [[kappa]]; `ratingsSql` yields (item, cat). */
  def oracleSql(ratingsSql: String): String =
    s"""WITH cells AS (
  SELECT item, cat, count(*) AS n
  FROM ($ratingsSql) WHERE item IS NOT NULL AND cat IS NOT NULL
  GROUP BY item, cat),
per_item AS (
  SELECT item, sum(n) AS r, sum(n * n) AS s2 FROM cells GROUP BY item),
ia AS (
  SELECT count(*) AS nitems, min(r) AS rr, sum(s2) AS sums2 FROM per_item),
ca AS (
  SELECT sum(CAST(ct AS HUGEINT) * ct) AS c
  FROM (SELECT cat, sum(n) AS ct FROM cells GROUP BY cat))
SELECT CAST(nitems AS BIGINT) AS n_items, CAST(rr AS BIGINT) AS raters,
  CASE WHEN CAST(nitems AS HUGEINT) * nitems * rr * rr = c THEN NULL
    ELSE ${graft.ExactDiv.quotSql(
      "(CAST(sums2 AS HUGEINT) - CAST(nitems AS HUGEINT) * rr)" +
        " * (CAST(nitems AS HUGEINT) * nitems * rr * rr)" +
        " - c * (CAST(nitems AS HUGEINT) * rr * (rr - 1))",
      "(CAST(nitems AS HUGEINT) * rr * (rr - 1))" +
        " * (CAST(nitems AS HUGEINT) * nitems * rr * rr - c)", Scale)}
  END AS kappa_q6
FROM ia, ca"""
}
