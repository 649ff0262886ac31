package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Markov next-event backtest — the evaluation step for the transition
  * matrix [[EventWindows.eventTransitions]] estimates: train a
  * first-order model on the stream BEFORE a time cut, predict each
  * from-type's most likely successor, and score top-1 accuracy on the
  * transitions AFTER the cut. The number that separates "the transition
  * matrix is product insight" from "the transition matrix is noise",
  * and the regression gate a behavioral model ships against.
  *
  * Split rule: a transition (e → e′) belongs to TRAIN when its
  * destination event lands strictly before `cutTs`, else to TEST — the
  * destination is what a deployed model would have had to predict, so
  * no train transition peeks past the cut. Prediction per from-type:
  * the max-count successor, ties to the lexicographically smallest
  * to-type (deterministic, replay-stable). From-types never seen in
  * train carry no model and are excluded (documented); from-types with
  * no test transitions report `n_test = 0` with a NULL accuracy (no
  * division by zero is performed).
  *
  * Pure integer counts; `hit_bp = (10⁴·hits) div n_test` non-negative
  * truncating = floor both engines.
  *
  * Scale shape: transitions ride the same per-user lead window as
  * `eventTransitions(maxEvents = 0)` (hash by user, spill-backed sort —
  * the sessionized posture and whale caveat); everything downstream
  * aggregates the |types|²-bounded count table, and the model election
  * is a rank-1 window over it.
  */
object MarkovBacktest {

  /** (from_type, predicted, n_train, n_test, n_hits, hit_bp). */
  def backtest(events: DataFrame, cutTs: String, userCol: String = "user_id",
               tsCol: String = "ts", typeCol: String = "event_type",
               idCol: String = "event_id"): DataFrame = {
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(idCol))
    val trans = events
      .where(col(tsCol).isNotNull && col(idCol).isNotNull)
      .select(col(typeCol).as("from_type"),
        lead(col(typeCol), 1).over(w).as("to_type"),
        lead(col(tsCol), 1).over(w).as("__to_ts"))
      .where(col("to_type").isNotNull)
      // NTZ on both sides: the events table declares ts TIMESTAMP_NTZ, and
      // spec-built TimestampType columns cast losslessly under the UTC
      // session contract
      .withColumn("__train",
        col("__to_ts").cast("timestamp_ntz") < lit(cutTs).cast("timestamp_ntz"))
      .localCheckpoint(true)
    val trainCounts = trans.where(col("__train"))
      .groupBy("from_type", "to_type").agg(count(lit(1)).as("__c"))
    val rank = Window.partitionBy(col("from_type"))
      .orderBy(col("__c").desc, col("to_type").asc)
    val model = trainCounts
      .withColumn("__rn", row_number().over(rank))
      .withColumn("n_train",
        sum(col("__c")).over(Window.partitionBy(col("from_type"))))
      .where(col("__rn") === 1)
      .select(col("from_type"), col("to_type").as("predicted"), col("n_train"))
    val test = trans.where(!col("__train"))
      .groupBy("from_type", "to_type").agg(count(lit(1)).as("__t"))
    model.join(test, Seq("from_type"), "left")
      .groupBy(col("from_type"))
      .agg(first(col("predicted")).as("predicted"),
        first(col("n_train")).as("n_train"),
        coalesce(sum(col("__t")), lit(0L)).as("n_test"),
        coalesce(sum(when(col("to_type") === col("predicted"), col("__t"))),
          lit(0L)).as("n_hits"))
      .withColumn("hit_bp", when(col("n_test") > 0,
        expr("(10000 * n_hits) div n_test")))
  }

  /** DuckDB replay of [[backtest]] — same lead split, same rank-1
    * election, same zero-test contract.
    */
  def oracleSql(table: String, cutTs: String, userCol: String = "user_id",
                tsCol: String = "ts", typeCol: String = "event_type",
                idCol: String = "event_id"): String =
    s"""WITH trans AS (
  SELECT $typeCol AS from_type,
    lead($typeCol, 1) OVER w AS to_type,
    lead($tsCol, 1) OVER w AS to_ts
  FROM $table WHERE $tsCol IS NOT NULL AND $idCol IS NOT NULL
  WINDOW w AS (PARTITION BY $userCol ORDER BY $tsCol, $idCol)),
t2 AS (SELECT from_type, to_type, to_ts < TIMESTAMP '$cutTs' AS is_train
  FROM trans WHERE to_type IS NOT NULL),
tc AS (SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS c
  FROM t2 WHERE is_train GROUP BY 1, 2),
model AS (
  SELECT from_type, to_type AS predicted, n_train FROM (
    SELECT from_type, to_type, c,
      row_number() OVER (PARTITION BY from_type ORDER BY c DESC, to_type ASC) AS rn,
      sum(c) OVER (PARTITION BY from_type) AS n_train
    FROM tc) WHERE rn = 1),
test AS (SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS t
  FROM t2 WHERE NOT is_train GROUP BY 1, 2)
SELECT m.from_type, m.predicted, CAST(m.n_train AS BIGINT) AS n_train,
  CAST(coalesce(sum(test.t), 0) AS BIGINT) AS n_test,
  CAST(coalesce(sum(CASE WHEN test.to_type = m.predicted THEN test.t END), 0) AS BIGINT) AS n_hits,
  CASE WHEN coalesce(sum(test.t), 0) > 0 THEN
    CAST((10000 * coalesce(sum(CASE WHEN test.to_type = m.predicted THEN test.t END), 0))
      // coalesce(sum(test.t), 0) AS BIGINT) END AS hit_bp
FROM model m LEFT JOIN test ON m.from_type = test.from_type
GROUP BY m.from_type, m.predicted, m.n_train
ORDER BY m.from_type""".stripMargin
}
