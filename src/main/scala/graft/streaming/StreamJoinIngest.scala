package graft.streaming

import graft.sources.AtomicStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** [[StreamingJoins.intervalJoin]] driver-faced — the watermarked
  * stream-stream join's state machine replayed over ordered batch
  * chunks, so its output is oracle-checkable against the plain batch
  * interval join (the [[AlarmIngest]] device applied to two-sided join
  * state).
  *
  * Per chunk, exactly Spark's stream-stream join rules:
  *  - rows older than the current watermark (max event time seen −
  *    `lateness`) are DROPPED as late;
  *  - surviving new rows join against (buffered ∪ new) opposite-side
  *    rows under `key equal ∧ rTs ∈ [lTs − before, lTs + after]`, and
  *    the matched pairs append to the lake;
  *  - each side's buffer then retains only rows the advanced watermark
  *    could still pair (left: ts ≥ wm − after; right: ts ≥ wm − before)
  *    — the eviction that bounds state to input-rate × (lateness +
  *    window width) per side, independent of stream length.
  *
  * Exactly-once without a dedup pass — WITHIN an orderly run: every
  * emitted pair involves ≥1 NEW row (buffered×buffered pairs were
  * emitted when their later element arrived), and a pair's earlier
  * element is provably still buffered when the later one lands on time
  * — the later element not being late forces wm ≤ its ts, which sits
  * inside the earlier element's retention horizon. So over chunks with
  * no late rows the lake is EXACTLY the one-shot batch interval join —
  * what the gate hash-pins. Delivery under CRASH-RETRY is the family's
  * at-least-once: the lake append lands before the store swap, so a
  * crash between the two followed by a chunk replay re-emits that
  * chunk's pairs — run under a checkpointed source like [[MetricsIngest]]
  * (r10 review: the claim is scoped, not absolute).
  *
  * State (side, key, ts, id) swaps through [[AtomicStore]]; the
  * watermark needs no extra record — the max buffered ts is always the
  * newest row, which eviction never removes first, so wm recomputes
  * from the store.
  */
object StreamJoinIngest {

  private val Side = "__side"

  /** One micro-batch step. Left chunk columns: (keyCol, tsCol, idCol);
    * right chunk columns: (rightKeyCol, rightTsCol, rightIdCol). Lake
    * rows: (key, left_id, right_id, left_ts, right_ts).
    */
  def ingestBatch(newLeft: DataFrame, newRight: DataFrame,
                  storeDir: String, lakeDir: String,
                  keyCol: String, tsCol: String, idCol: String,
                  rightKeyCol: String, rightTsCol: String, rightIdCol: String,
                  before: String, after: String, lateness: String): Unit = {
    val spark = newLeft.sparkSession
    val store: DataFrame = AtomicStore.current(spark, storeDir).getOrElse(
      spark.emptyDataFrame
        .select(lit("L").as(Side), lit(0L).as("key"),
          lit(null).cast("timestamp_ntz").as("ts"), lit(0L).as("id"))
        .limit(0))
    val wmPrevRow = store.agg(max(col("ts")).as("mx")).head()
    val wmPrev: Option[java.time.LocalDateTime] =
      if (wmPrevRow.isNullAt(0)) None
      else Some(wmPrevRow.getAs[java.time.LocalDateTime](0)
        .minus(java.time.Duration.ofSeconds(intervalSeconds(spark, lateness))))
    def dropLate(df: DataFrame, ts: String): DataFrame = wmPrev match {
      case Some(w) => df.where(col(ts) >= lit(w))
      case None => df
    }
    val nl = dropLate(
      newLeft.where(col(keyCol).isNotNull && col(tsCol).isNotNull)
        .select(col(keyCol).cast("long").as("key"),
          col(tsCol).cast("timestamp_ntz").as("ts"),
          col(idCol).cast("long").as("id")), "ts")
      // lazy: materializes in the pair-emit job, then the watermark agg
      // and the buffer swap read the pinned blocks (two jobs fewer/batch)
      .localCheckpoint(false)
    val nr = dropLate(
      newRight.where(col(rightKeyCol).isNotNull && col(rightTsCol).isNotNull)
        .select(col(rightKeyCol).cast("long").as("key"),
          col(rightTsCol).cast("timestamp_ntz").as("ts"),
          col(rightIdCol).cast("long").as("id")), "ts")
      .localCheckpoint(false)
    val bufL = store.where(col(Side) === "L").select("key", "ts", "id")
    val bufR = store.where(col(Side) === "R").select("key", "ts", "id")
    def cond(l: DataFrame, r: DataFrame) =
      l("key") === r("key") &&
        r("ts") >= l("ts") - expr(s"INTERVAL $before") &&
        r("ts") <= l("ts") + expr(s"INTERVAL $after")
    def pairs(l: DataFrame, r: DataFrame): DataFrame =
      l.join(r, cond(l, r))
        .select(l("key").as("key"), l("id").as("left_id"),
          r("id").as("right_id"), l("ts").as("left_ts"),
          r("ts").as("right_ts"))
    // new-left × (buffered ∪ new) right, plus buffered-left × new-right:
    // covers every pair with ≥1 new element exactly once
    val emitted = pairs(nl, bufR.unionByName(nr)).unionByName(pairs(bufL, nr))
    emitted.write.mode("append").parquet(lakeDir)
    // advance the watermark over everything seen this batch, then evict
    val mxRow = nl.select(col("ts")).unionByName(nr.select(col("ts")))
      .unionByName(store.select(col("ts")))
      .agg(max(col("ts"))).head()
    val newStore =
      if (mxRow.isNullAt(0)) store.limit(0)
      else {
        val wm = mxRow.getAs[java.time.LocalDateTime](0)
          .minus(java.time.Duration.ofSeconds(intervalSeconds(spark, lateness)))
        val keepL = lit(wm) - expr(s"INTERVAL $after")
        val keepR = lit(wm) - expr(s"INTERVAL $before")
        bufL.unionByName(nl).where(col("ts") >= keepL)
          .select(lit("L").as(Side), col("key"), col("ts"), col("id"))
          .unionByName(
            bufR.unionByName(nr).where(col("ts") >= keepR)
              .select(lit("R").as(Side), col("key"), col("ts"), col("id")))
      }
    AtomicStore.publish(spark, storeDir, newStore, coalesceTo = 1)
  }

  /** Interval-literal seconds, resolved by the engine itself so the
    * eviction math can never drift from the join condition's parsing.
    */
  private def intervalSeconds(spark: SparkSession, interval: String): Long =
    spark.sql(
      s"SELECT timestampdiff(SECOND, TIMESTAMP_NTZ '2000-01-02 00:00:00', " +
        s"TIMESTAMP_NTZ '2000-01-02 00:00:00' + INTERVAL $interval)")
      .head().getLong(0)

  /** DuckDB replay: the one-shot batch interval join (chunks with no
    * late rows emit exactly this set).
    */
  def oracleSql(leftSql: String, rightSql: String,
                before: String, after: String): String =
    s"""SELECT l.key, l.id AS left_id, r.id AS right_id,
  l.ts AS left_ts, r.ts AS right_ts
FROM ($leftSql) l JOIN ($rightSql) r
  ON l.key = r.key
 AND r.ts >= l.ts - INTERVAL $before
 AND r.ts <= l.ts + INTERVAL $after
ORDER BY 1, 2, 3"""
}
