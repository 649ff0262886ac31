package graft.text

import graft.operators.GroupedTrend
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Zipf rank–frequency slope — the corpus-health scalar: natural text
  * follows freq ∝ rank^s with s ≈ −1, and a corpus (or one source/
  * language slice) that bends far off it is telling you something —
  * template/machine spam flattens the head (s → 0 among repeated
  * boilerplate), truncated or over-deduped corpora steepen the tail.
  * [[VocabDrift]] compares two corpora's vocabularies; this scores ONE
  * corpus against the law itself.
  *
  * Per group: token frequencies, deterministic rank (freq DESC, token
  * ASC — ties must not make "top N" ambiguous), the top `topN` vocab
  * rows, then the exact-integer OLS of ⌊10⁶·ln freq⌋ on ⌊10⁶·ln rank⌋
  * — per-term quantized-ln (one double chain per term, never a
  * cross-row float sum) feeding [[GroupedTrend.slope]]'s
  * DECIMAL(38,0) moment machinery, so the published `slope_q` (10⁻⁴
  * units; Zipf ⇒ ≈ −10000) is ONE truncating division of exact
  * integers and both the ln floors and the division replay in DuckDB.
  *
  * Scale shape: the token count is one partial-agg'd (group, token)
  * groupBy (a 10⁹-occurrence stopword is one hot counter absorbed
  * map-side); the rank window runs over each group's VOCABULARY (the
  * healthy side of the rank posture — vocabularies are bounded, raw
  * corpora are not); the OLS is GroupedTrend's one-shuffle
  * five-partial aggregate over ≤ topN rows per group. NULL group/text
  * rows drop; a single-distinct-rank group (vocab of 1) reports NULL.
  */
object ZipfLaw {

  val LnScale = 1000000L

  /** (groupCol, n, slope_q) — n the vocab rows regressed (≤ topN). */
  def rankFrequencySlope(df: DataFrame, groupCol: String, textCol: String,
                         topN: Int = 1000): DataFrame = {
    require(topN >= 2, s"topN must be >= 2, got $topN")
    val counts = df
      .where(col(groupCol).isNotNull && col(textCol).isNotNull)
      .select(col(groupCol), explode(TextFunctions.tokens(col(textCol)))
        .as("__tok"))
      .groupBy(col(groupCol), col("__tok"))
      .agg(count(lit(1)).as("__freq"))
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col("__freq").desc, col("__tok").asc)
    val pairs = counts
      .withColumn("__rk", row_number().over(w))
      .where(col("__rk") <= topN)
      .select(col(groupCol),
        floor(lit(LnScale.toDouble) * log(col("__rk").cast("double")))
          .cast("long").as("__lnr"),
        floor(lit(LnScale.toDouble) * log(col("__freq").cast("double")))
          .cast("long").as("__lnf"))
    GroupedTrend.slope(pairs, Seq(groupCol), "__lnr", "__lnf")
  }

  /** Heaps' law vocabulary-growth exponent — the other corpus law
    * ([[rankFrequencySlope]] scores the frequency SHAPE; this scores
    * vocabulary GROWTH): natural text obeys V(n) ∝ n^β with β ≈
    * 0.4–0.6 — template spam saturates (β → 0: the vocabulary stops
    * growing), concatenated unrelated corpora overshoot. The curve
    * V(n) is known EXACTLY at each first occurrence: when the i-th
    * distinct token debuts at global token position pᵢ, V(pᵢ) = i — so
    * the regression set is just (⌊10⁶·ln pᵢ⌋, ⌊10⁶·ln i⌋) over the
    * vocabulary, no running distinct count anywhere (the GrowthCurve
    * first-occurrence collapse, applied to tokens).
    *
    * Position axis: docs ordered by `idCol` (ties impossible — ids),
    * tokens by in-doc position; the doc offset is one exclusive
    * running sum over the group's DOC list, the first-occurrence
    * collapse one partial-agg'd min per (group, token), the debut rank
    * one vocabulary-sized window. slope_q ≈ β·10⁴.
    */
  def vocabularyGrowthSlope(df: DataFrame, groupCol: String, idCol: String,
                            textCol: String): DataFrame = {
    val docs = df
      .where(col(groupCol).isNotNull && col(idCol).isNotNull &&
        col(textCol).isNotNull)
      .select(col(groupCol), col(idCol),
        TextFunctions.tokens(col(textCol)).as("__toks"))
      .withColumn("__len", size(col("__toks")).cast("long"))
    val offW = Window.partitionBy(col(groupCol)).orderBy(col(idCol).asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val positioned = docs
      .withColumn("__off", coalesce(sum(col("__len")).over(offW), lit(0L)))
      .select(col(groupCol), col("__off"),
        posexplode(col("__toks")).as(Seq("__p", "__tok")))
      .select(col(groupCol), col("__tok"),
        (col("__off") + col("__p") + 1L).as("__gpos"))
    val firsts = positioned.groupBy(col(groupCol), col("__tok"))
      .agg(min(col("__gpos")).as("__fp"))
    val rkW = Window.partitionBy(col(groupCol)).orderBy(col("__fp").asc)
    val pairs = firsts
      .withColumn("__i", row_number().over(rkW).cast("long"))
      .select(col(groupCol),
        floor(lit(LnScale.toDouble) * log(col("__fp").cast("double")))
          .cast("long").as("__lnp"),
        floor(lit(LnScale.toDouble) * log(col("__i").cast("double")))
          .cast("long").as("__lnv"))
    GroupedTrend.slope(pairs, Seq(groupCol), "__lnp", "__lnv")
  }

  /** DuckDB replay of [[vocabularyGrowthSlope]]. */
  def vocabularyGrowthOracle(table: String, groupSql: String,
                             groupName: String, idSql: String,
                             textSql: String): String = {
    val pairs = s"""(WITH docs AS (
  SELECT $groupSql AS $groupName, $idSql AS id,
    string_split($textSql, ' ') AS t
  FROM $table
  WHERE ($groupSql) IS NOT NULL AND ($idSql) IS NOT NULL
    AND ($textSql) IS NOT NULL),
offs AS (SELECT $groupName, id, t,
    coalesce(sum(len(t)) OVER (PARTITION BY $groupName ORDER BY id ASC
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
  FROM docs),
pos AS (SELECT $groupName, unnest(list_transform(
    generate_series(1, len(t)), i -> {'tok': t[i], 'gp': off + i})) AS u
  FROM offs),
fst AS (SELECT $groupName, u.tok, min(u.gp) AS fp
  FROM pos GROUP BY $groupName, u.tok),
rk AS (SELECT $groupName, fp, row_number() OVER
    (PARTITION BY $groupName ORDER BY fp ASC) AS i
  FROM fst)
SELECT $groupName,
  CAST(floor($LnScale.0 * ln(CAST(fp AS DOUBLE))) AS BIGINT) AS lnp,
  CAST(floor($LnScale.0 * ln(CAST(i AS DOUBLE))) AS BIGINT) AS lnv
FROM rk)"""
    GroupedTrend.oracleSql(pairs, Seq(groupName), "lnp", "lnv") +
      s" ORDER BY $groupName"
  }

  /** DuckDB replay of [[rankFrequencySlope]] — same split/rank/floor
    * chain feeding [[GroupedTrend.oracleSql]].
    */
  def oracleSql(table: String, groupSql: String, groupName: String,
                textSql: String, topN: Int = 1000): String = {
    val pairs = s"""(WITH cnt AS (
  SELECT $groupSql AS $groupName, unnest(string_split($textSql, ' ')) AS tok
  FROM $table
  WHERE ($groupSql) IS NOT NULL AND ($textSql) IS NOT NULL),
fq AS (SELECT $groupName, tok, count(*) AS freq FROM cnt GROUP BY 1, 2),
rk AS (SELECT $groupName, freq,
    row_number() OVER (PARTITION BY $groupName
      ORDER BY freq DESC, tok ASC) AS r
  FROM fq)
SELECT $groupName,
  CAST(floor($LnScale.0 * ln(CAST(r AS DOUBLE))) AS BIGINT) AS lnr,
  CAST(floor($LnScale.0 * ln(CAST(freq AS DOUBLE))) AS BIGINT) AS lnf
FROM rk WHERE r <= $topN)"""
    GroupedTrend.oracleSql(pairs, Seq(groupName), "lnr", "lnf") +
      s" ORDER BY $groupName"
  }
}
