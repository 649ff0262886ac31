package graft.operators

import graft.sources.AtomicStore
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Continuously-maintained distinct counts — the KMV member of the
  * maintained-store family ([[IncrementalAgg]] for algebraic aggregates,
  * [[QuantileStore]] for quantiles, this for COUNT DISTINCT): "unique
  * users per campaign", "distinct documents per source" stay current
  * under streaming ingest without re-scanning history, because DISTINCT
  * doesn't decompose into sums but bottom-k (KMV) sketches MERGE
  * EXACTLY: `sketch(A) ⊕ sketch(B) = sketch(A ∪ B)` (both sides keep the
  * k smallest distinct hashes — [[graft.functions.BottomK.kmvMerge]]'s
  * closure), so fold(batches) ≡ sketch(union) bit-for-bit whatever the
  * batching, and the estimate is the deterministic, oracle-replayable
  * KMV formula ([[graft.functions.BottomK.kmvEstimate]] — exact below k
  * distinct values, (k−1)·M/h_k beyond; no RNG, no HLL seed).
  *
  * Values canonicalize exactly like [[Profiling.tableProfile]]: string
  * form with NULL → a sentinel, 60-bit md5 fingerprints uniform in
  * [0, 2⁶⁰) — so the integers/strings/dates contract applies
  * (float renderings are engine-dependent; [[graft.Guards]] posture) and
  * the DuckDB replay is bit-identical.
  *
  * Scale shape: per batch one partial-agg'd groupBy ships ≤k longs per
  * (group, partition); the store merge re-aggregates sketch ENTRIES
  * (store-sized, never history-sized); the store swap rides
  * [[graft.sources.AtomicStore]] (fold replay is NOT a no-op for counts
  * that matter — checkpoint the stream source, the
  * [[graft.streaming.MetricsIngest]] contract).
  */
object DistinctStore {

  private val M60 = 1L << 60

  private def canon(value: Column): Column =
    graft.text.TextFunctions.fingerprint(
      coalesce(value.cast("string"), lit("<NULL>")))

  /** The batch partial: one (groupCols*, sketch, k) row per group. */
  def partial(batch: DataFrame, groupCols: Seq[String], value: Column,
              k: Int): DataFrame = {
    require(k >= 2, s"KMV needs k >= 2, got $k")
    batch.groupBy(groupCols.map(col): _*)
      .agg(graft.functions.BottomK.distinct(k)(canon(value)).as("sketch"))
      .withColumn("k", lit(k))
  }

  private def requireStoreK(df: DataFrame, k: Int, what: String): Unit =
    if (df.columns.contains("k")) {
      val r = df.agg(min(col("k")), max(col("k"))).head()
      if (!r.isNullAt(0))
        require(r.getInt(0) == k && r.getInt(1) == k,
          s"$what carries sketches built with k=${r.getInt(0)}..${r.getInt(1)} " +
            s"but the caller passed k=$k — a smaller cap would truncate " +
            "sketches and silently bias estimates; use the stored k")
    }

  /** Fold one batch into the store at `storeDir` (bootstraps on first
    * use). After n folds the store's sketches equal one aggregation over
    * the concatenated batches — exactly, by KMV closure.
    */
  def update(spark: SparkSession, storeDir: String, batch: DataFrame,
             groupCols: Seq[String], value: Column, k: Int): Unit = {
    val part = partial(batch, groupCols, value, k)
    val next = AtomicStore.current(spark, storeDir) match {
      case None => part
      case Some(stored) =>
        requireStoreK(stored, k, s"store $storeDir")
        // merge = re-sketch the sketch ENTRIES: the distinct bottom-k of a
        // union of bottom-k sets is the union's bottom-k (closure), and the
        // entries are already the hashes, so no re-canonicalization happens
        stored.unionByName(part)
          .select((groupCols.map(col) :+ explode(col("sketch")).as("__h")): _*)
          .groupBy(groupCols.map(col): _*)
          .agg(graft.functions.BottomK.distinct(k)(col("__h")).as("sketch"))
          .withColumn("k", lit(k))
    }
    AtomicStore.publish(spark, storeDir, next)
  }

  /** The maintained store: (groupCols*, sketch, k). */
  def read(spark: SparkSession, storeDir: String): DataFrame =
    AtomicStore.read(spark, storeDir)

  /** (groupCols*, est_distinct, sk_size) from a store frame. */
  def estimate(store: DataFrame, groupCols: Seq[String], k: Int): DataFrame = {
    requireStoreK(store, k, "estimate input")
    store.select((groupCols.map(col) :+
      graft.functions.BottomK.kmvEstimate(col("sketch"), k, M60).as("est_distinct") :+
      size(col("sketch")).cast("long").as("sk_size")): _*)
  }

  /** DuckDB replay: per-group distinct-hash KMV over the same sentinel/
    * fingerprint arithmetic (the [[Profiling.tableProfileOracle]] formula,
    * grouped).
    */
  def estimateOracle(table: String, groupCol: String, valueSql: String,
                     k: Int): String = {
    val sc = s"coalesce(CAST($valueSql AS VARCHAR), '<NULL>')"
    val hv = s"CAST(('0x'||substr(md5($sc),1,15)) AS BIGINT)"
    s"""WITH h AS (SELECT DISTINCT $groupCol, $hv AS hv FROM $table),
r AS (SELECT $groupCol, hv,
    row_number() OVER (PARTITION BY $groupCol ORDER BY hv) AS rk
  FROM h),
d AS (SELECT $groupCol, CAST(count(*) AS BIGINT) AS nd,
    CAST(min(CASE WHEN rk = $k THEN hv END) AS DOUBLE) AS hk
  FROM r GROUP BY 1)
SELECT $groupCol,
  CASE WHEN nd < $k THEN CAST(nd AS DOUBLE)
       ELSE ${(k - 1).toDouble} * $M60 / hk END AS est_distinct,
  CAST(least(nd, $k) AS BIGINT) AS sk_size
FROM d ORDER BY $groupCol""".stripMargin
  }
}
