package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ExactDiv.{quot, quotSql}

/** Classifier-output evaluation — the per-class report and the
  * chance-corrected agreement coefficient, both exact. These close the
  * model-eval layer's classification corner (L192 audits labels
  * against neighbors, L213 backtests sequence predictions, [[RocAuc]]
  * scores a ranking; this scores hard class assignments — a
  * router's predicted language vs annotated, an annotator vs another
  * annotator, a heuristic vs ground truth).
  *
  * [[classReport]] — per class c: tp, fp, fn and the quantized
  * precision/recall/F1, each ONE truncating division on non-negative
  * integers (F1 via its tp form, 2tp/(2tp+fp+fn), so it needs no
  * float composition of p and r); support = tp+fn. A class never
  * predicted has NULL precision (0/0 — not a zero); a class never
  * true has NULL recall; F1 NULL only when all three counts are 0
  * (the class appears on neither side — impossible for emitted rows).
  *
  * [[cohensKappa]] — (po − pe)/(1 − pe) cross-multiplied into exact
  * integers: with n total, `agree` the diagonal sum and
  * `chance = Σ_c n_true(c)·n_pred(c)`,
  *
  *   kappa_q6 = 10⁶·(n·agree − chance)/(n² − chance), truncated
  *
  * (the numerator CAN be negative — worse-than-chance agreement is a
  * real finding — so it truncates toward zero; n² = chance means both sides
  * are the same constant class: agreement is vacuous, kappa NULL).
  * Magnitudes ride DECIMAL(38,0) — n·agree ≤ n² overflows Long past
  * ~3·10⁹ rows.
  *
  * Scale shape: everything derives from the (true, pred) contingency
  * table — ONE partial-agg'd groupBy collapses any corpus to
  * |classes|² counts map-side; the report and kappa are class-sized
  * arithmetic after that. NULL on either side drops the row (an
  * unlabeled or unpredicted row belongs to coverage metrics — L189 —
  * not to agreement).
  */
object ModelEval {

  val Scale = 1000000L

  /** The shared (true, pred, n) contingency collapse. */
  private def cells(df: DataFrame, trueCol: String,
                    predCol: String): DataFrame =
    df.where(col(trueCol).isNotNull && col(predCol).isNotNull)
      .groupBy(col(trueCol).as("__t"), col(predCol).as("__p"))
      .agg(count(lit(1)).as("__n"))
      .localCheckpoint(true)

  /** (class, tp, fp, fn, support, precision_q6, recall_q6, f1_q6) for
    * every class appearing as a true or predicted label.
    */
  def classReport(df: DataFrame, trueCol: String,
                  predCol: String): DataFrame = {
    val c = cells(df, trueCol, predCol)
    val byTrue = c.groupBy(col("__t").as("clazz"))
      .agg(sum(col("__n")).as("__nt"),
        sum(when(col("__t") === col("__p"), col("__n")).otherwise(lit(0L)))
          .as("__tp1"))
    val byPred = c.groupBy(col("__p").as("__cp"))
      .agg(sum(col("__n")).as("__np"))
    def q6(num: org.apache.spark.sql.Column, den: org.apache.spark.sql.Column) =
      when(den === 0L, lit(null).cast("long"))
        .otherwise(call_function("div", num * Scale, den))
    byTrue.join(byPred, col("clazz") === col("__cp"), "full_outer")
      .select(
        coalesce(col("clazz"), col("__cp")).as("clazz"),
        coalesce(col("__tp1"), lit(0L)).as("tp"),
        (coalesce(col("__np"), lit(0L)) - coalesce(col("__tp1"), lit(0L)))
          .as("fp"),
        (coalesce(col("__nt"), lit(0L)) - coalesce(col("__tp1"), lit(0L)))
          .as("fn"))
      .withColumn("support", col("tp") + col("fn"))
      .withColumn("precision_q6", q6(col("tp"), col("tp") + col("fp")))
      .withColumn("recall_q6", q6(col("tp"), col("tp") + col("fn")))
      .withColumn("f1_q6",
        q6(lit(2L) * col("tp"), lit(2L) * col("tp") + col("fp") + col("fn")))
  }

  /** One row: (n, agree, kappa_q6). */
  def cohensKappa(df: DataFrame, trueCol: String,
                  predCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val c = cells(df, trueCol, predCol)
    val n = c.agg(coalesce(sum(col("__n")), lit(0L)).as("__tot"),
      coalesce(sum(when(col("__t") === col("__p"), col("__n"))
        .otherwise(lit(0L))), lit(0L)).as("__agree"))
    val byTrue = c.groupBy(col("__t").as("__c1"))
      .agg(sum(col("__n")).cast(dec).as("__nt"))
    val byPred = c.groupBy(col("__p").as("__c2"))
      .agg(sum(col("__n")).cast(dec).as("__np"))
    val chance = byTrue
      .join(byPred, col("__c1") <=> col("__c2"), "inner")
      .agg(coalesce(sum(col("__nt") * col("__np")), lit(0).cast(dec))
        .as("__chance"))
    val joined = n.crossJoin(broadcast(chance))
    val nD = col("__tot").cast(dec)
    val num = nD * col("__agree").cast(dec) - col("__chance")
    val den = nD * nD - col("__chance")
    joined.select(
      col("__tot").as("n"),
      col("__agree").as("agree"),
      when(den === lit(0).cast(dec), lit(null).cast("long"))
        .otherwise(quot(num, den, Scale))
        .as("kappa_q6"))
  }

  /** Signed squared Matthews correlation per group — the imbalanced-data
    * binary metric ([[classReport]]'s F1 ignores true negatives; accuracy
    * saturates at 99% on a 1% class; MCC only scores high when ALL four
    * confusion cells are good). MCC itself carries a square root, so the
    * EXACT publishable is its signed square: with d = TP·TN − FP·FN,
    *
    *   mcc2_signed_q6 = sgn(d)·⌊10⁶·d² / ((TP+FP)(TP+FN)(TN+FP)(TN+FN))⌋
    *
    * — the reader takes √(|·|/10⁶) with the sign; +10⁶ is a perfect
    * classifier, −10⁶ a perfect inverter, 0 chance-level. Any empty
    * margin (a degenerate all-one-class truth or prediction) makes MCC
    * undefined → NULL. Magnitudes: d²·10⁶ ≤ n⁴·10⁶ must fit
    * DECIMAL(38,0) ⇒ n ≲ 10⁸ rows per group — ANSI raises loudly past
    * it. Outcomes must be 0/1 (raise in-plan); NULL rows drop; NULL
    * groups are real strata. One partial-agg'd pass.
    */
  def mccSigned(df: DataFrame, groupCol: String, trueCol: String,
                predCol: String): DataFrame = {
    Seq(trueCol, predCol).foreach(c =>
      graft.Guards.requireIntegral(df, c, "mccSigned"))
    val dec = "decimal(38,0)"
    def bit(c: String) =
      when(!col(c).cast("long").isin(0L, 1L), raise_error(concat(
        lit(s"mccSigned: $c must be 0 or 1, got "), col(c).cast("string")))
        .cast("long"))
        .otherwise(col(c).cast("long"))
    val agg = df.where(col(trueCol).isNotNull && col(predCol).isNotNull)
      .select(col(groupCol), bit(trueCol).as("__y"), bit(predCol).as("__p"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        sum(col("__y") * col("__p")).as("tp"),
        sum((lit(1L) - col("__y")) * col("__p")).as("fp"),
        sum(col("__y") * (lit(1L) - col("__p"))).as("fn"),
        sum((lit(1L) - col("__y")) * (lit(1L) - col("__p"))).as("tn"))
    val d = col("tp").cast(dec) * col("tn") - col("fp").cast(dec) * col("fn")
    val prod = (col("tp") + col("fp")).cast(dec) *
      (col("tp") + col("fn")).cast(dec) *
      (col("tn") + col("fp")).cast(dec) * (col("tn") + col("fn")).cast(dec)
    agg.select(col(groupCol), col("n"), col("tp"), col("fp"), col("fn"),
      col("tn"),
      // d·|d| carries d's sign with d²'s magnitude
      when(prod > 0, quot(d * abs(d), prod, Scale)).as("mcc2_signed_q6"))
  }

  /** DuckDB replay of [[mccSigned]]; `pairsSql` yields (grp, y, p). */
  def mccOracleSql(pairsSql: String, groupName: String): String = {
    val tp = "CAST(sum(y * p) AS HUGEINT)"
    val fp = "CAST(sum((1 - y) * p) AS HUGEINT)"
    val fn = "CAST(sum(y * (1 - p)) AS HUGEINT)"
    val tn = "CAST(sum((1 - y) * (1 - p)) AS HUGEINT)"
    val d = s"($tp * $tn - $fp * $fn)"
    val prod = s"(($tp + $fp) * ($tp + $fn) * ($tn + $fp) * ($tn + $fn))"
    s"""SELECT grp AS $groupName, CAST(count(*) AS BIGINT) AS n,
  CAST(sum(y * p) AS BIGINT) AS tp,
  CAST(sum((1 - y) * p) AS BIGINT) AS fp,
  CAST(sum(y * (1 - p)) AS BIGINT) AS fn,
  CAST(sum((1 - y) * (1 - p)) AS BIGINT) AS tn,
  CASE WHEN $prod > 0 THEN ${quotSql(s"$d * abs($d)", prod, Scale)}
  END AS mcc2_signed_q6
FROM ($pairsSql) WHERE y IS NOT NULL AND p IS NOT NULL
GROUP BY grp ORDER BY $groupName"""
  }

  /** Per-group exact regression error metrics over integer targets —
    * the continuous corner of the eval layer ([[classReport]] scores
    * hard classes, [[RocAuc]] rankings, [[Backtest]] forecast series
    * against naive baselines; this scores a PREDICTION COLUMN against
    * a numeric target): n, signed bias Σe, ⌊10⁶·Σ|e|/n⌋ MAE,
    * ⌊Σe²/n⌋ MSE (whole units — e² outgrows the 10⁶ scale), R² via
    * the n-scaled identity (n·Σy² − (Σy)² − n·Σe²)/(n·Σy² − (Σy)²)
    * truncated in 10⁻⁶ (negative = worse than predicting the mean, a
    * real finding; constant-target groups NULL), and MAPE with
    * per-row-floored terms ⌊10⁶·|e|/|y|⌋ over the y≠0 rows only (the
    * declared per-term quantization, NULL when no nonzero targets).
    * Magnitudes ride DECIMAL(38,0): n²·ȳ²·10⁶ must fit 38 digits
    * (~10⁹ rows/group at 10⁷-unit targets) — ANSI throws loudly past
    * it. NULL y/pred rows drop; NULL groups are a real stratum. One
    * partial-agg'd pass (the decomposable-moment posture).
    */
  def regressionReport(df: DataFrame, groupCols: Seq[String],
                       yCol: String, predCol: String): DataFrame = {
    require(groupCols.nonEmpty, "groupCols must not be empty")
    graft.Guards.requireIntegral(df, yCol, "regressionReport")
    graft.Guards.requireIntegral(df, predCol, "regressionReport")
    val dec = "decimal(38,0)"
    val base = df
      .where(col(yCol).isNotNull && col(predCol).isNotNull)
      .select(groupCols.map(col) :+
        col(yCol).cast("long").as("__y") :+
        col(predCol).cast("long").as("__p"): _*)
      .withColumn("__e", col("__p") - col("__y"))
    val agg = base.groupBy(groupCols.map(col): _*).agg(
      count(lit(1)).as("n"),
      sum(col("__e").cast(dec)).as("__se"),
      sum(abs(col("__e")).cast(dec)).as("__sae"),
      sum(col("__e").cast(dec) * col("__e").cast(dec)).as("__se2"),
      sum(col("__y").cast(dec)).as("__sy"),
      sum(col("__y").cast(dec) * col("__y").cast(dec)).as("__sy2"),
      sum(when(col("__y") =!= 0L, lit(1L)).otherwise(lit(0L))).as("n_nz"),
      sum(when(col("__y") =!= 0L,
        call_function("div", abs(col("__e")) * lit(Scale), abs(col("__y"))))
        .otherwise(lit(0L))).as("__st"))
    val nD = col("n").cast(dec)
    val sstotN = nD * col("__sy2") - col("__sy") * col("__sy")
    val r2num = sstotN - nD * col("__se2")
    agg.select(groupCols.map(col) ++ Seq(
      col("n"),
      col("__se").cast("long").as("bias"),
      call_function("div", col("__sae") * lit(Scale).cast(dec), nD)
        .cast("long").as("mae_q6"),
      call_function("div", col("__se2"), nD).cast("long").as("mse"),
      when(sstotN === lit(0).cast(dec), lit(null).cast("long"))
        .otherwise(quot(r2num, sstotN, Scale))
        .as("r2_q6"),
      col("n_nz"),
      when(col("n_nz") === 0L, lit(null).cast("long"))
        .otherwise(call_function("div", col("__st"), col("n_nz")))
        .as("mape_q6")): _*)
  }

  /** DuckDB replay of [[regressionReport]] — HUGEINT moments, same
    * truncating divisions and per-row-floored MAPE terms.
    */
  def regressionOracle(table: String, groupCols: Seq[String], ySql: String,
                       predSql: String): String = {
    val g = groupCols.mkString(", ")
    s"""WITH b AS (
  SELECT $g, CAST($ySql AS BIGINT) AS y,
    CAST($predSql AS BIGINT) - CAST($ySql AS BIGINT) AS e
  FROM $table WHERE ($ySql) IS NOT NULL AND ($predSql) IS NOT NULL),
a AS (
  SELECT $g, CAST(count(*) AS HUGEINT) AS n,
    CAST(sum(e) AS HUGEINT) AS se,
    CAST(sum(abs(e)) AS HUGEINT) AS sae,
    sum(CAST(e AS HUGEINT) * CAST(e AS HUGEINT)) AS se2,
    CAST(sum(y) AS HUGEINT) AS sy,
    sum(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS sy2,
    CAST(count(*) FILTER (WHERE y <> 0) AS BIGINT) AS n_nz,
    CAST(coalesce(sum((abs(CAST(e AS HUGEINT)) * $Scale) // abs(y))
      FILTER (WHERE y <> 0), 0) AS HUGEINT) AS st
  FROM b GROUP BY $g)
SELECT $g, CAST(n AS BIGINT) AS n, CAST(se AS BIGINT) AS bias,
  CAST((sae * $Scale) // n AS BIGINT) AS mae_q6,
  CAST(se2 // n AS BIGINT) AS mse,
  CASE WHEN n * sy2 - sy * sy = 0 THEN NULL
       ELSE ${quotSql("n * sy2 - sy * sy - n * se2", "n * sy2 - sy * sy", Scale)}
  END AS r2_q6,
  n_nz,
  CASE WHEN n_nz = 0 THEN NULL
       ELSE CAST(st // n_nz AS BIGINT) END AS mape_q6
FROM a ORDER BY $g"""
  }

  /** DuckDB replay of [[classReport]]. */
  def classReportOracle(table: String, trueSql: String,
                        predSql: String): String =
    s"""WITH c AS (
  SELECT $trueSql AS t, $predSql AS p, count(*) AS n FROM $table
  WHERE ($trueSql) IS NOT NULL AND ($predSql) IS NOT NULL GROUP BY 1, 2),
bt AS (SELECT t AS clazz, sum(n) AS nt,
    sum(CASE WHEN t = p THEN n ELSE 0 END) AS tp1 FROM c GROUP BY 1),
bp AS (SELECT p AS clazz, sum(n) AS np FROM c GROUP BY 1),
j AS (
  SELECT coalesce(bt.clazz, bp.clazz) AS clazz,
    CAST(coalesce(tp1, 0) AS BIGINT) AS tp,
    CAST(coalesce(np, 0) - coalesce(tp1, 0) AS BIGINT) AS fp,
    CAST(coalesce(nt, 0) - coalesce(tp1, 0) AS BIGINT) AS fn
  FROM bt FULL OUTER JOIN bp ON bt.clazz = bp.clazz)
SELECT clazz, tp, fp, fn, tp + fn AS support,
  CASE WHEN tp + fp = 0 THEN NULL
       ELSE CAST((tp * $Scale) // (tp + fp) AS BIGINT) END AS precision_q6,
  CASE WHEN tp + fn = 0 THEN NULL
       ELSE CAST((tp * $Scale) // (tp + fn) AS BIGINT) END AS recall_q6,
  CASE WHEN 2 * tp + fp + fn = 0 THEN NULL
       ELSE CAST((2 * tp * $Scale) // (2 * tp + fp + fn) AS BIGINT)
  END AS f1_q6
FROM j ORDER BY clazz"""

  /** DuckDB replay of [[cohensKappa]] — HUGEINT magnitudes, the same
    * truncating division.
    */
  def kappaOracleSql(table: String, trueSql: String,
                     predSql: String): String =
    s"""WITH c AS (
  SELECT $trueSql AS t, $predSql AS p, count(*) AS n FROM $table
  WHERE ($trueSql) IS NOT NULL AND ($predSql) IS NOT NULL GROUP BY 1, 2),
tot AS (SELECT CAST(coalesce(sum(n), 0) AS HUGEINT) AS nn,
    CAST(coalesce(sum(CASE WHEN t = p THEN n ELSE 0 END), 0) AS HUGEINT)
      AS agree FROM c),
bt AS (SELECT t AS clazz, CAST(sum(n) AS HUGEINT) AS nt FROM c GROUP BY 1),
bp AS (SELECT p AS clazz, CAST(sum(n) AS HUGEINT) AS np FROM c GROUP BY 1),
ch AS (SELECT CAST(coalesce(sum(nt * np), 0) AS HUGEINT) AS chance
  FROM bt JOIN bp ON bt.clazz = bp.clazz)
SELECT CAST(nn AS BIGINT) AS n, CAST(agree AS BIGINT) AS agree,
  CASE WHEN nn * nn - chance = 0 THEN NULL
       ELSE ${quotSql("nn * agree - chance", "nn * nn - chance", Scale)}
  END AS kappa_q6
FROM tot, ch"""
}
