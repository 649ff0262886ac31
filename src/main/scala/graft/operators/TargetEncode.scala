package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ExactDiv.{quot, quotSql}

/** Target encoding — the feature-engineering step that turns a
  * high-cardinality categorical into "what target value does this
  * category predict", done with the two standard leakage disciplines:
  *
  *  - [[smoothedMean]]: per CATEGORY, the m-smoothed (empirical-Bayes)
  *    encoding `(s_c + m·ḡ) / (n_c + m)` — rare categories shrink
  *    toward the global mean instead of memorizing noise. Published
  *    exactly: cross-multiplying by the global count N gives
  *    `(s_c·N + m·S) / (N·(n_c + m))`, an integer rational
  *    divided to micro-units, truncated toward zero.
  *  - [[looMean]]: per ROW, the leave-one-out mean
  *    `(s_c − y_i) / (n_c − 1)` — the training-time form that keeps a
  *    row's own target out of its feature (the classic target-leakage
  *    hole). Singleton categories have no LOO estimate and report NULL
  *    by contract (coalesce with the smoothed prior downstream —
  *    fabricating a number here IS the leak).
  *
  * NULL categories are a real stratum (they encode like any other
  * value — a missing category is still a category); NULL targets drop.
  *
  * Scale shape: category stats are ONE partial-agg'd groupBy (a whale
  * category collapses map-side); the global row is a 1-row broadcast;
  * smoothed output is category-sized. LOO adds one null-safe equi-join
  * of the rows against the category table — row-sized output because
  * the QUESTION is row-sized.
  */
object TargetEncode {

  private val Dec = "decimal(38,0)"

  /** (category, n, enc_micro) — the m-smoothed encoding per category. */
  def smoothedMean(df: DataFrame, catCol: String, targetCol: String,
                   m: Long): DataFrame = {
    require(m >= 1, s"smoothing m must be positive, got $m")
    graft.Guards.requireIntegral(df, targetCol, "smoothedMean")
    val base = df.where(col(targetCol).isNotNull)
      .select(col(catCol).as("category"),
        col(targetCol).cast("long").cast(Dec).as("__y"))
    val cats = base.groupBy(col("category"))
      .agg(count(lit(1)).cast(Dec).as("__n"), sum(col("__y")).as("__s"))
    // totals from the category-sized frame, NOT a second corpus scan —
    // every row lands in exactly one category (the psiFromCounts rule)
    val tot = cats.agg(sum(col("__n")).cast(Dec).as("__gn"),
      sum(col("__s")).cast(Dec).as("__gs"))
    cats.crossJoin(broadcast(tot))
      .select(col("category"), col("__n").cast("long").as("n"),
        quot(col("__s") * col("__gn") + lit(m) * col("__gs"),
          col("__gn") * (col("__n") + lit(m)), 1000000).as("enc_micro"))
  }

  /** (id, category, loo_micro) per input row; NULL for singletons. */
  def looMean(df: DataFrame, idCol: String, catCol: String,
              targetCol: String): DataFrame = {
    graft.Guards.requireIntegral(df, targetCol, "looMean")
    val base = df.where(col(targetCol).isNotNull)
      .select(col(idCol).as("id"), col(catCol).as("category"),
        col(targetCol).cast("long").cast(Dec).as("__y"))
    val cats = base.groupBy(col("category").as("__c"))
      .agg(count(lit(1)).cast(Dec).as("__n"), sum(col("__y")).as("__s"))
    base.join(cats, col("category") <=> col("__c"))
      .select(col("id"), col("category"),
        when(col("__n") === lit(1).cast(Dec), lit(null).cast("long"))
          .otherwise(quot(col("__s") - col("__y"), col("__n") - 1, 1000000))
          .as("loo_micro"))
  }

  /** DuckDB replay of [[smoothedMean]]. */
  def smoothedOracle(table: String, catSql: String, targetSql: String,
                     m: Long): String =
    s"""WITH b AS (SELECT $catSql AS category, CAST($targetSql AS HUGEINT) AS y
  FROM $table WHERE ($targetSql) IS NOT NULL),
c AS (SELECT category, CAST(count(*) AS HUGEINT) AS n, sum(y) AS s
  FROM b GROUP BY category),
t AS (SELECT CAST(count(*) AS HUGEINT) AS N, sum(y) AS S FROM b)
SELECT c.category, CAST(c.n AS BIGINT) AS n,
  ${quotSql(s"c.s * t.N + $m * t.S", s"t.N * (c.n + $m)", 1000000)} AS enc_micro
FROM c CROSS JOIN t ORDER BY c.category""".stripMargin

  /** DuckDB replay of [[looMean]]. */
  def looOracle(table: String, idSql: String, catSql: String,
                targetSql: String): String =
    s"""WITH b AS (SELECT $idSql AS id, $catSql AS category,
    CAST($targetSql AS HUGEINT) AS y
  FROM $table WHERE ($targetSql) IS NOT NULL),
c AS (SELECT category, CAST(count(*) AS HUGEINT) AS n, sum(y) AS s
  FROM b GROUP BY category)
SELECT b.id, b.category,
  CASE WHEN c.n = 1 THEN NULL
    ELSE ${quotSql("c.s - b.y", "c.n - 1", 1000000)}
  END AS loo_micro
FROM b JOIN c ON b.category IS NOT DISTINCT FROM c.category
ORDER BY b.id""".stripMargin
}
