package graft.operators

import graft.sources.AtomicStore
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Continuously-maintained top-k leaderboard — the store-backed member of
  * the bounded-buffer family ([[graft.functions.TopK]] is the one-shot
  * aggregate; this folds BATCHES into a persisted per-group top-k, the
  * [[IncrementalAgg]] shape for ranking): "top customers per segment /
  * hottest items per category, current as of the last batch, without
  * re-scanning history".
  *
  * Semantics: HIGH-WATER ranking — an entity's score is the MAX it has
  * ever posted (per group), entities rank by (score desc, id asc), the
  * store keeps the top `k` per group. Max is idempotent and top-k is a
  * mergeable semilattice over it, so
  * `fold(batches) ≡ direct(union(batches))` EXACTLY for any batching —
  * the oracle-checkable property — and replaying a batch is a no-op
  * (unlike the additive stores; this one is naturally at-least-once
  * safe).
  *
  * Scale shape: per batch one bounded partial-agg'd top-k (≤k entries
  * per group-partition map-side); the store merge de-dups (group, id)
  * by max then re-ranks — store-sized (groups × k), never history-sized;
  * [[graft.sources.AtomicStore]] crash discipline.
  */
object TopKStore {

  /** Fold one batch into the leaderboard at `storeDir` (bootstraps on
    * first use). Store rows: (groupCols*, rank, id, score).
    */
  def update(spark: SparkSession, storeDir: String, batch: DataFrame,
             groupCols: Seq[String], score: Column, id: Column, k: Int): Unit = {
    require(groupCols.nonEmpty, "groupCols must not be empty")
    require(k > 0, s"k must be positive, got $k")
    // high-water dedup BEFORE the top-k: TopK.perGroup ranks ROWS, so an
    // entity posting two top-k scores in one batch would occupy two slots
    // and squeeze out the k-th entity — dedup (group, id) by max first
    val hwBatch = batch
      .select((groupCols.map(col) :+ score.as("__s") :+ id.as("__i")): _*)
      .where(col("__s").isNotNull && col("__i").isNotNull)
      .groupBy((groupCols.map(col) :+ col("__i")): _*)
      .agg(max(col("__s")).as("__s"))
    val part = graft.functions.TopK.perGroup(
      hwBatch, groupCols, col("__s"), col("__i"), k)
    val merged = AtomicStore.current(spark, storeDir) match {
      case None => part
      case Some(stored) =>
        val all = stored
          .select((groupCols.map(col) :+ col("id") :+ col("score")): _*)
          .unionByName(part.select(
            (groupCols.map(col) :+ col("id") :+ col("score")): _*))
        // high-water dedup per (group, id), then re-rank — k slots are
        // never wasted on an entity that appears in both store and batch
        val hw = all.groupBy((groupCols.map(col) :+ col("id")): _*)
          .agg(max(col("score")).as("score"))
        graft.functions.TopK.perGroup(hw, groupCols, col("score"), col("id"), k)
    }
    AtomicStore.publish(spark, storeDir, merged)
  }

  /** The maintained leaderboard. */
  def read(spark: SparkSession, storeDir: String): DataFrame =
    AtomicStore.read(spark, storeDir)

  /** DuckDB replay of n folds ≡ the direct high-water top-k over the
    * whole table.
    */
  def oracleSql(table: String, groupCols: Seq[String], scoreSql: String,
                idSql: String, k: Int): String = {
    val g = groupCols.mkString(", ")
    s"""WITH hw AS (SELECT $g, CAST($idSql AS BIGINT) AS id,
    CAST(max($scoreSql) AS DOUBLE) AS score
  FROM $table WHERE ($scoreSql) IS NOT NULL AND ($idSql) IS NOT NULL
  GROUP BY $g, $idSql)
SELECT $g, CAST(row_number() OVER w AS BIGINT) AS rank, id, score
FROM hw
WINDOW w AS (PARTITION BY $g ORDER BY score DESC, id ASC)
QUALIFY row_number() OVER w <= $k
ORDER BY $g, rank""".stripMargin
  }
}
