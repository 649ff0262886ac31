package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ExactDiv.{quot, quotSql}

/** Hierarchical share-of-parent rollup — the two-level BI readout behind
  * every drill-down table: per (parent, child), the child's value total,
  * its share WITHIN the parent, and the parent's share of the grand
  * total, both as exact 1e−8 integers (`⌊10⁸·child/parent⌋`,
  * `⌊10⁸·parent/total⌋`). Unlike a grouping-sets rollup (which emits
  * the levels as separate rows), the shares land ON the leaf row —
  * the shape a report renders directly.
  *
  * Values may be negative (refund lines): shares truncate toward zero
  * ([[graft.ExactDiv]]) and can legitimately leave [0, 10⁸] when signs
  * mix — a child can exceed its parent when a sibling is negative
  * (documented; the arithmetic stays exact). Parents or the grand total
  * at exactly 0 yield NULL shares (a share of nothing is undefined, not
  * 0 or ∞). NULL parent/child values are real strata; NULL values drop.
  *
  * Scale shape: one partial-agg'd (parent, child) groupBy; the parent
  * re-aggregate is parent-cardinality-sized and joins back null-safe;
  * the grand total is a 1-row broadcast.
  */
object ShareOfParent {

  private val Dec = "decimal(38,0)"

  // a negative parent flips the share's sign, as real division would
  private val ShareScale = 100000000L

  /** (parent, child, child_value, parent_value, share_of_parent_e8,
    * parent_share_e8).
    */
  def shares(df: DataFrame, parentCol: String, childCol: String,
             valueCol: String): DataFrame = {
    graft.Guards.requireIntegral(df, valueCol, "shares")
    val leaf = df.where(col(valueCol).isNotNull)
      .groupBy(col(parentCol).as("parent"), col(childCol).as("child"))
      .agg(sum(col(valueCol).cast("long").cast(Dec)).as("__cv"))
      .localCheckpoint(true)
    val parents = leaf.groupBy(col("parent").as("__p"))
      .agg(sum(col("__cv")).as("__pv"))
    val tot = leaf.agg(sum(col("__cv")).as("__tv"))
    leaf
      .join(parents, col("parent") <=> col("__p"))
      .crossJoin(broadcast(tot))
      .select(col("parent"), col("child"),
        col("__cv").cast("long").as("child_value"),
        col("__pv").cast("long").as("parent_value"),
        when(col("__pv") === 0, lit(null).cast("long"))
          .otherwise(quot(col("__cv"), col("__pv"), ShareScale)).as("share_of_parent_e8"),
        when(col("__tv") === 0, lit(null).cast("long"))
          .otherwise(quot(col("__pv"), col("__tv"), ShareScale)).as("parent_share_e8"))
  }

  /** DuckDB replay of [[shares]]. */
  def oracleSql(table: String, parentSql: String, childSql: String,
                valueSql: String): String =
    s"""WITH leaf AS (
  SELECT $parentSql AS parent, $childSql AS child,
    sum(CAST($valueSql AS HUGEINT)) AS cv
  FROM $table WHERE ($valueSql) IS NOT NULL GROUP BY 1, 2),
p AS (SELECT parent, sum(cv) AS pv FROM leaf GROUP BY parent),
t AS (SELECT sum(cv) AS tv FROM leaf)
SELECT leaf.parent, leaf.child,
  CAST(leaf.cv AS BIGINT) AS child_value, CAST(p.pv AS BIGINT) AS parent_value,
  CASE WHEN p.pv = 0 THEN NULL ELSE
    ${quotSql("leaf.cv", "p.pv", ShareScale)} END AS share_of_parent_e8,
  CASE WHEN t.tv = 0 THEN NULL ELSE
    ${quotSql("p.pv", "t.tv", ShareScale)} END AS parent_share_e8
FROM leaf JOIN p ON leaf.parent IS NOT DISTINCT FROM p.parent
CROSS JOIN t ORDER BY leaf.parent, leaf.child""".stripMargin
}
