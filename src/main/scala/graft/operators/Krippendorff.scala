package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Krippendorff's alpha (nominal) — multi-annotator agreement for label
  * pipelines: [[ModelEval.cohensKappa]] scores exactly TWO aligned
  * raters; real annotation fleets have k raters, uneven coverage, and
  * missing ratings, which is precisely Krippendorff's setting (the
  * rater-quality readout an RLHF/label vendor audit ships). Nominal
  * data, any number of ratings per unit; units with fewer than two
  * ratings drop (no pairable information — the standard rule).
  *
  * The usual implementation carries 1/(mᵤ−1) float weights through the
  * coincidence matrix; here the fractional DISAGREEMENT mass scales by
  * Λ = lcm of the observed (mᵤ−1) into an exact integer, while the
  * margins need no scaling at all — they collapse analytically
  * (n_c = Σᵤ n_uc, the per-unit denominators cancel exactly) — so
  *
  *   α = 1 − Do/De = (A − B)/A,   A = Λ·(n² − Σ_c n_c²),
  *   B = (n−1)·Σᵤ Λ·(mᵤ² − Σ_c n_uc²)/(mᵤ−1)
  *
  * is ONE truncating division of DECIMAL(38,0) integers
  * (negative alpha — systematic disagreement — is a real finding). A
  * single observed label (A = 0) reports NULL: agreement about a
  * vacuous label space is undefined. Rating multiplicities are bounded
  * loudly (max mᵤ ≤ 21 keeps Λ ≤ 2.3·10⁸ and n = Λ·N inside the
  * decimal budget for N ≤ ~10¹²).
  *
  * Scale shape: one partial-agg'd (unit, value) count (a whale unit
  * collapses map-side), per-unit rollups of that table, two tiny
  * metadata collects (the distinct mᵤ−1 list for Λ and nothing else);
  * the label-margin table is values-sized. NULL unit/value rows drop.
  */
object Krippendorff {

  val Scale = 1000000L

  private def lcm(a: Long, b: Long): Long = {
    @annotation.tailrec
    def gcd(x: Long, y: Long): Long = if (y == 0) x else gcd(y, x % y)
    a / gcd(a, b) * b
  }

  /** One row: (n_units, n_ratings, alpha_q6). */
  def alphaNominal(df: DataFrame, unitCol: String,
                   valueCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val spark = df.sparkSession
    val uv = df
      .where(col(unitCol).isNotNull && col(valueCol).isNotNull)
      .groupBy(col(unitCol).as("__u"), col(valueCol).as("__v"))
      .agg(count(lit(1)).as("__nuc"))
      .localCheckpoint(true)
    val units = uv.groupBy(col("__u"))
      .agg(sum(col("__nuc")).as("__m"),
        sum(col("__nuc") * col("__nuc")).as("__s2"))
      .where(col("__m") >= 2L)
      .localCheckpoint(true)
    val ms = units.select(col("__m")).distinct().collect()
      .map(_.getLong(0)).sorted.toSeq
    require(ms.isEmpty || ms.last <= 21L,
      s"alphaNominal: a unit carries ${ms.headOption.getOrElse(0L)}.." +
        s"${ms.lastOption.getOrElse(0L)} ratings — multiplicities above " +
        "21 blow the exact lcm scaling; dedupe raters upstream")
    val lam = ms.map(_ - 1).foldLeft(1L)(lcm)
    val qualifying = uv.join(units.select(col("__u")), Seq("__u"))
    val margins = qualifying.groupBy(col("__v"))
      .agg(sum(col("__nuc")).as("__nc"))
    val totals = margins.agg(
      coalesce(sum(col("__nc")), lit(0L)).as("__nn"),
      coalesce(sum(col("__nc").cast(dec) * col("__nc").cast(dec)),
        lit(0).cast(dec)).as("__sc2"),
      count(lit(1)).as("__nvals"))
    // (m−1) divides Λ by construction, so the quotient is exact — but it
    // runs through integral div, never decimal `/` (HALF_UP at scale 6)
    val doTerm = call_function("div",
      (col("__m").cast(dec) * col("__m").cast(dec) - col("__s2").cast(dec))
        * lit(lam).cast(dec),
      (col("__m") - 1L).cast(dec))
    val doSum = units.agg(
      coalesce(sum(doTerm.cast(dec)), lit(0).cast(dec)).as("__do"),
      count(lit(1)).as("n_units"))
    val lamD = lit(lam).cast(dec)
    val n = col("__nn").cast(dec)
    val a = lamD * (n * n - col("__sc2"))
    val b = (n - lit(1).cast(dec)) * col("__do")
    val num = a - b
    doSum.crossJoin(broadcast(totals))
      .select(col("n_units"), col("__nn").as("n_ratings"),
        when(col("__nvals") <= 1 || a === lit(0).cast(dec),
          lit(null).cast("long"))
          .otherwise(graft.ExactDiv.quot(num, a, Scale))
          .as("alpha_q6"))
  }

  /** DuckDB replay of [[alphaNominal]] — the same lcm-scaled integers in
    * HUGEINT (the lcm recomputed in SQL over the observed multiplicity
    * set, so the oracle shares no runtime value with the Spark side).
    */
  def oracleSql(table: String, unitSql: String, valueSql: String): String =
    s"""WITH uv AS (
  SELECT $unitSql AS u, $valueSql AS v, CAST(count(*) AS BIGINT) AS nuc
  FROM $table
  WHERE ($unitSql) IS NOT NULL AND ($valueSql) IS NOT NULL GROUP BY 1, 2),
un AS (SELECT u, sum(nuc) AS m, sum(nuc * nuc) AS s2 FROM uv
  GROUP BY u HAVING sum(nuc) >= 2),
lam AS (SELECT coalesce(list_reduce(list(DISTINCT m - 1),
    (a, b) -> a * b // greatest_common_divisor(a, b)), 1) AS l FROM un),
mg AS (SELECT v, CAST(sum(nuc) AS HUGEINT) AS nc
  FROM uv JOIN un USING (u) GROUP BY v),
tot AS (SELECT CAST(coalesce(sum(nc), 0) AS HUGEINT) AS nn,
    CAST(coalesce(sum(nc * nc), 0) AS HUGEINT) AS sc2,
    count(*) AS nvals FROM mg),
ds AS (SELECT CAST(coalesce(sum(
      (CAST(m AS HUGEINT) * m - s2) * (SELECT l FROM lam) // (m - 1)),
      0) AS HUGEINT) AS do_s,
    CAST(count(*) AS BIGINT) AS n_units
  FROM un)
SELECT n_units, CAST(nn AS BIGINT) AS n_ratings,
  CASE WHEN nvals <= 1 OR l * (nn * nn - sc2) = 0 THEN NULL
       ELSE ${graft.ExactDiv.quotSql(
         "l * (nn * nn - sc2) - (nn - 1) * do_s", "l * (nn * nn - sc2)", Scale)}
  END AS alpha_q6
FROM ds, tot, lam"""
}
