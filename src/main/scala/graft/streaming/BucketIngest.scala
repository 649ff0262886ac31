package graft.streaming

import graft.sources.AtomicStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.LongType

/** Continuously-enforced token-bucket limits —
  * [[graft.operators.TokenBucket]] kept live under streaming ingest
  * (the limiter as it would actually run, not just the forensic
  * replay): the bucket recurrence is Markov in (last index, level), so
  * the per-key store carries exactly those two numbers plus the
  * (last_i, last_id) high-water, and N micro-batches emit bit-for-bit
  * the admissions of one batch pass over the concatenated stream (the
  * [[AlarmIngest]] sealed-prefix protocol; gate hash-matches the
  * one-shot oracle).
  *
  * Contract: batches must arrive in (idx, id) order per key — a batch
  * event at or below the stored high-water raises inside the plan,
  * riding the output columns (a bucket folded out of order admits the
  * wrong events). Id uniqueness per key is the SOURCE's contract
  * across the stream: the ingest enforces it within each batch and
  * through the (idx, id) high-water, but an id reused at a HIGHER idx
  * in a later batch is undetectable without unbounded id history —
  * the batch operator would raise on the concatenation, this admits
  * it (declared; the one-shot equivalence holds for streams honoring
  * the contract). Same at-least-once / checkpoint-required posture as
  * [[MetricsIngest]] (replaying a batch double-drains). Decisions
  * append to a lake dir; the per-key tail state swaps through
  * [[AtomicStore]].
  *
  * Scale: per batch one per-key collected fold over BATCH events (the
  * session-scale contract of the batch operator) + a store-sized
  * merge; the store stays ONE row per key forever.
  */
object BucketIngest {

  def start(stream: DataFrame, storeDir: String, lakeDir: String,
            keyCol: String, idxCol: String, idCol: String,
            rateNum: Long, rateDen: Long, burst: Long,
            checkpointDir: String): StreamingQuery =
    stream.writeStream.outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        ingestBatch(batch, storeDir, lakeDir, keyCol, idxCol, idCol,
          rateNum, rateDen, burst)
      }
      .start()

  /** One fold step — N calls over (idx, id)-ordered chunks ≡ one
    * [[graft.operators.TokenBucket.replay]] over the concatenation.
    */
  def ingestBatch(batch: DataFrame, storeDir: String, lakeDir: String,
                  keyCol: String, idxCol: String, idCol: String,
                  rateNum: Long, rateDen: Long, burst: Long): Unit = {
    require(rateNum > 0 && rateDen > 0 && burst >= 1,
      s"need positive rate and burst >= 1, got $rateNum/$rateDen burst $burst")
    val spark = batch.sparkSession
    val collected = batch
      .where(col(idxCol).isNotNull && col(idCol).isNotNull)
      .groupBy(col(keyCol))
      .agg(sort_array(collect_list(struct(
        col(idxCol).cast(LongType).as("i"),
        col(idCol).cast(LongType).as("id")))).as("__arr"))
    val prev: DataFrame = AtomicStore.current(spark, storeDir).getOrElse(
      collected.select(col(keyCol)).limit(0)
        .select(col(keyCol), lit(null).cast("long").as("last_i"),
          lit(null).cast("long").as("last_id"),
          lit(null).cast("long").as("level")))
    val prevR = prev.select(col(keyCol).as("__g"), col("last_i"),
      col("last_id"), col("level"))
    val joined = collected.join(prevR, col(keyCol) <=> col("__g"), "left")
    // lazy checkpoint: ONE pinned snapshot of the per-key fold for its two
    // consumers (decision append + tail swap) — materialization rides the
    // append job; previously the fold ran twice (the eager checkpoint
    // pinned only the exploded output, and the tail re-derived the fold)
    val folded = joined.select(col(keyCol),
      col("last_i").as("__li"), col("last_id").as("__lid"),
      (size(col("__arr")) =!=
        size(array_distinct(transform(col("__arr"), e => e.getField("id")))))
        .as("__dup"),
      graft.operators.TokenBucket.foldArr(col("__arr"),
        col("last_i"), col("level"),
        rateNum, rateDen, burst).as("__out"))
      .localCheckpoint(false)
    // order + dup guards ride inside every published column
    def guarded(out: org.apache.spark.sql.Column) =
      when(col("__li").isNotNull &&
        struct(col("__e.i"), col("__e.id")) <=
          struct(col("__li"), col("__lid")),
        raise_error(concat(lit("BucketIngest: batch event (idx "),
          col("__e.i").cast("string"), lit(", id "),
          col("__e.id").cast("string"),
          lit(") at or below the stored high-water — batches must arrive "),
          lit("in (idx, id) order per key"))).cast("long"))
        .when(col("__dup"), raise_error(concat(
          lit("BucketIngest: duplicate id within key '"),
          col(keyCol).cast("string"), lit("' in one batch")))
          .cast("long"))
        .otherwise(out)
    val out = folded
      .select(col(keyCol), col("__dup"), col("__li"), col("__lid"),
        explode(col("__out")).as("__e"))
      .select(col(keyCol), guarded(col("__e.id")).as("id"),
        guarded(col("__e.i")).as("idx"),
        (guarded(when(col("__e.adm"), 1L).otherwise(0L)) === 1L)
          .as("admitted"),
        guarded(col("__e.lvl")).as("level_q"))
    out.write.mode("append").parquet(lakeDir)
    // new tail per key: the LAST folded element (arrays are sorted, so
    // element_at(-1) is the (idx, id) maximum)
    val newKeys = folded.select(col(keyCol),
      element_at(col("__out"), -1).as("__last"))
      .select(col(keyCol), col("__last.i").as("last_i"),
        col("__last.id").as("last_id"), col("__last.lvl").as("level"))
    val carried = prev.join(newKeys.select(col(keyCol).as("__nk")),
        col(keyCol) <=> col("__nk"), "left_anti")
      .select(col(keyCol), col("last_i"), col("last_id"), col("level"))
    val newStore = newKeys.unionByName(carried)
    AtomicStore.publish(spark, storeDir, newStore, coalesceTo = 1)
  }
}
