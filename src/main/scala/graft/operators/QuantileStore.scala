package graft.operators

import graft.sources.AtomicStore
import graft.functions.{QuantileSummaryAgg, SummaryFoldAgg, SummaryMergeAgg}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Continuously-maintained quantile summaries — the sketch-algebra
  * sibling of [[IncrementalAgg]]: where that store folds ALGEBRAIC
  * aggregates (count/sum/min/max), this one folds per-group KLL
  * summaries, so p50/p95-per-window monitoring
  * stays current under streaming ingest without ever re-scanning
  * history. The missing piece algebraic stores can't cover: quantiles
  * don't decompose into sums, but KLL summaries MERGE — and the carried
  * compaction-parity bits make REHYDRATION lossless (a fresh buffer
  * absorbing the stored summary adopts its parities, so it compacts
  * exactly as if the buffer had never left memory). In the exact regime
  * the folded store IS the direct aggregation (the gate's bar); in the
  * compacting regime it carries the same O(n/k) rank-error bound as any
  * KLL merge tree — merge-order differences move results within the
  * bound, never outside it (spec-checked).
  *
  * Scale shape: per batch, one partial-agg'd groupBy ships
  * O(k·log(n/k))-entry summaries per (group, partition); the store merge
  * is store-sized (groups × summary), never history-sized. Same
  * [[graft.sources.AtomicStore]] crash discipline as IncrementalAgg
  * (fold replay is NOT a no-op — checkpoint the stream source; see
  * [[graft.streaming.MetricsIngest]]).
  */
object QuantileStore {

  /** The batch partial: one (groupCols*, summary, k) row per group. `k`
    * rides in the store because it is PART of the summary's meaning: a
    * fold or merge under a smaller cap would silently compact
    * exact-regime summaries and break the exactness contract — so every
    * entry point checks the caller's k against the stored one.
    */
  def partial(batch: DataFrame, groupCols: Seq[String], value: Column,
              k: Int): DataFrame =
    batch.groupBy(groupCols.map(col): _*)
      .agg(udaf(new QuantileSummaryAgg(k)).apply(value.cast("long")).as("summary"))
      .withColumn("k", lit(k))

  /** Fail loudly when a summary frame was built with a different k than
    * the caller is about to merge with (frames predating the k column
    * pass — nothing to check against).
    */
  private def requireStoreK(df: DataFrame, k: Int, what: String): Unit =
    if (df.columns.contains("k")) {
      val r = df.agg(min(col("k")), max(col("k"))).head()
      if (!r.isNullAt(0))
        require(r.getInt(0) == k && r.getInt(1) == k,
          s"$what carries summaries built with k=${r.getInt(0)}..${r.getInt(1)} " +
            s"but the caller passed k=$k — merging under a different cap would " +
            "compact exact-regime summaries silently; use the stored k")
    }

  /** Fold one batch into the store at `storeDir` (bootstraps on first
    * use). In the exact regime (group sizes < 2k) n folds equal the
    * direct aggregation exactly, whatever the batching; past it, the
    * KLL rank-error bound holds for any fold order.
    */
  def update(spark: SparkSession, storeDir: String, batch: DataFrame,
             groupCols: Seq[String], value: Column, k: Int): Unit = {
    val part = partial(batch, groupCols, value, k)
    val next = AtomicStore.current(spark, storeDir) match {
      case None => part
      case Some(stored0) =>
        requireStoreK(stored0, k, s"store $storeDir")
        val stored = if (stored0.columns.contains("k")) stored0
                     else stored0.withColumn("k", lit(k)) // legacy store: stamp it
        // a case-class-input UDAF takes the struct's FIELDS as its arguments
        stored.unionByName(part)
          .groupBy(groupCols.map(col): _*)
          .agg(udaf(new SummaryFoldAgg(k))
            .apply(col("summary.levels"), col("summary.parities")).as("summary"))
          .withColumn("k", lit(k))
    }
    AtomicStore.publish(spark, storeDir, next)
  }

  /** Continuous form: a stream folded into the store one micro-batch at
    * a time — the [[graft.streaming.MetricsIngest]] shape with the KLL
    * fold as the step. Same delivery contract: `foreachBatch` is
    * at-least-once and a fold replay is NOT a no-op, so `checkpointDir`
    * is required; the residual one-batch replay window slightly
    * over-weights those values in the summary (acceptable for
    * monitoring quantiles — land batches to the lake where exactness
    * across restarts is required).
    */
  def start(stream: DataFrame, storeDir: String, groupCols: Seq[String],
            valueCol: String, k: Int,
            checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream.outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        update(batch.sparkSession, storeDir, batch, groupCols, col(valueCol), k)
      }
      .start()

  /** The maintained summaries: one row per group seen so far. */
  def read(spark: SparkSession, storeDir: String): DataFrame =
    AtomicStore.read(spark, storeDir)

  /** Quantiles off a summary frame (a [[read]] result): one row per
    * group, one column per fraction — the store-backed form of
    * [[graft.functions.Quantiles.perGroup]].
    */
  def quantiles(store: DataFrame, groupCols: Seq[String], k: Int,
                qs: Seq[(Long, Long)], names: Seq[String]): DataFrame = {
    require(names.length == qs.length, "one name per fraction")
    requireStoreK(store, k, "summary frame")
    store.groupBy(groupCols.map(col): _*)
      .agg(udaf(new SummaryMergeAgg(k, qs))
        .apply(col("summary.levels"), col("summary.parities")).as("__q"))
      .select(groupCols.map(col) ++ names.zipWithIndex.map { case (n, i) =>
        element_at(col("__q"), i + 1).as(n)
      }: _*)
  }
}
