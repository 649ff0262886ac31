package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions.col

/** Copy-on-write MERGE (upsert by key) and DELETE by key on a
  * hive-partitioned parquet lake — the Delta/Hudi CoW primitive on plain
  * files: rewrite ONLY the partitions the write touches, leave every other
  * partition's files in place.
  *
  * Touched = partitions holding OLD versions of the keys ∪ (for a merge)
  * partitions the batch lands in. The first set is what makes
  * partition-MOVING updates correct: when a row's partition value changes,
  * its old partition must be rewritten to drop the stale copy — a merge
  * that only rewrites the batch's own partitions leaves a duplicate behind
  * (the classic CoW bug; spec-pinned). A touched partition the rewrite
  * leaves empty is dropped, not left as an empty husk.
  *
  * Scale shape: the rewrite cost is proportional to the touched partitions'
  * data, not the lake — `kept` is a null-SAFE semi-join on the partition
  * key (null-safe so the `__HIVE_DEFAULT_PARTITION__` rows survive; the
  * touched side is a collected few-row local relation) then an anti-join on
  * the keys (small by contract, broadcastable).
  *
  * Crash safety: every write goes through [[AtomicStore]]'s stage → commit
  * → apply → replay protocol. The bootstrap stages the whole lake as the
  * root leaf; a merge or delete stages the touched partitions and applies
  * them by renaming each staged leaf over its lake counterpart (O(touched
  * partitions) metadata ops, not a second write of the batch), dropping
  * the touched partitions the stage did not reproduce.
  *
  * Reference anchor: the lake-side analog of the reference's SQL
  * `SaveStrategy::Upsert` (fabrix-sql executor) — same upsert semantics,
  * expressed as partition-scoped file rewrite instead of row DML.
  */
object LakeMerge {

  /** Upsert `batch` into the partitioned lake at `lakeDir` by `keyCols`.
    * Batch rows replace lake rows with equal keys; new keys append. The
    * batch must carry the lake's full schema (including `partitionCols`).
    * Bootstraps the lake (plain partitioned write) when it doesn't exist.
    */
  def merge(spark: SparkSession, lakeDir: String, batch: DataFrame,
            keyCols: Seq[String], partitionCols: Seq[String]): Unit = {
    require(keyCols.nonEmpty, "merge needs at least one key column")
    require(partitionCols.nonEmpty, "merge targets a partitioned lake")
    require(keyCols.intersect(partitionCols).isEmpty,
      s"key columns $keyCols must be disjoint from partition columns $partitionCols")
    if (!AtomicStore.exists(spark, lakeDir)) {
      AtomicStore.rewrite(spark, lakeDir) { stage =>
        batch.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(stage.toString)
        (AtomicStore.Plan.Whole, ())
      }
      return
    }
    val base = spark.read.parquet(lakeDir)
    // the batch plan feeds two jobs (touched-set collect, staged write) —
    // cache it so an expensive batch source evaluates once
    val aligned = batch.select(base.columns.map(col): _*).persist()
    try rewriteTouched(spark, lakeDir, base,
      aligned.select(keyCols.map(col): _*).distinct(), keyCols, partitionCols, Some(aligned))
    finally aligned.unpersist()
  }

  /** Copy-on-write DELETE by key — the right-to-be-forgotten / retention
    * primitive: every lake row whose `keyCols` tuple appears in `keys` is
    * removed, rewriting ONLY the partitions that held such rows. A
    * deletion key that matches nothing touches nothing.
    */
  def delete(spark: SparkSession, lakeDir: String, keys: DataFrame,
             keyCols: Seq[String], partitionCols: Seq[String]): Unit = {
    require(keyCols.nonEmpty, "delete needs at least one key column")
    require(partitionCols.nonEmpty, "delete targets a partitioned lake")
    if (!AtomicStore.exists(spark, lakeDir)) return // nothing to delete from
    val base = spark.read.parquet(lakeDir)
    val distinctKeys = keys.select(keyCols.map(col): _*).distinct().persist()
    try rewriteTouched(spark, lakeDir, base, distinctKeys, keyCols, partitionCols, None)
    finally distinctKeys.unpersist()
  }

  /** The one staged-rewrite body: the touched set is the old homes of
    * `keys` ∪ the partitions of `batch`; each touched partition is rewritten
    * to its rows minus `keys`, plus `batch`. The touched set is COLLECTED
    * once (≤ partition count by the hive-layout contract): it drives the
    * kept-side semi join as a local relation, the empty early-out and the
    * driver-side drop list, so a write schedules exactly two jobs (touched
    * scan + staged write).
    */
  private def rewriteTouched(spark: SparkSession, lakeDir: String, base: DataFrame,
                             keys: DataFrame, keyCols: Seq[String], partitionCols: Seq[String],
                             batch: Option[DataFrame]): Unit = {
    val parts = partitionCols.map(col)
    val homes = base.join(keys, keyCols, "left_semi").select(parts: _*)
    val (touched, touchedPaths) = collectTouched(spark, base, partitionCols,
      batch.fold(homes)(b => homes.union(b.select(parts: _*))))
    if (touchedPaths.isEmpty) return // nothing touched
    val touchedT = touched.toDF(partitionCols.map("__t_" + _): _*)
    val kept = base.join(touchedT,
        partitionCols.map(c => col(c) <=> col("__t_" + c)).reduce(_ && _),
        "left_semi")
      .join(keys, keyCols, "left_anti")
    val next = batch.fold(kept)(kept.unionByName)
    val (fs, _) = AtomicStore.resolve(spark, lakeDir)
    AtomicStore.rewrite(spark, lakeDir) { stage =>
      // REBALANCE by the partition key: without it every write task leaves
      // a file in every partition it touches, and since apply renames
      // staged dirs as they are, fragmentation would compound across
      // writes. One exchange of the touched partitions' bytes.
      next.hint("rebalance", parts: _*)
        .write.mode("overwrite").partitionBy(partitionCols: _*).parquet(stage.toString)
      val staged = AtomicStore.leaves(fs, stage).map(_.rel).toSeq
      (AtomicStore.Plan(staged, touchedPaths.filterNot(staged.toSet)), ())
    }
  }

  /** Collect the distinct touched partition values (one job) as a local
    * relation typed like `base`, with the hive path of each partition as
    * Spark's writer names it. The writer formats a value with its cast to
    * string under the session time zone — for a timestamp that is not the
    * value's `toString` — so the same cast rides the collect.
    */
  private def collectTouched(spark: SparkSession, base: DataFrame, partitionCols: Seq[String],
                             touched: DataFrame): (DataFrame, Seq[String]) = {
    val n = partitionCols.size
    val rows = touched.distinct()
      .select(partitionCols.map(col) ++ partitionCols.map(c => col(c).cast("string")): _*)
      .collect().toSeq
    val typed = rows.map(r => org.apache.spark.sql.Row.fromSeq(r.toSeq.take(n)))
    val local = spark.createDataFrame(java.util.Arrays.asList(typed: _*),
      org.apache.spark.sql.types.StructType(partitionCols.map(c => base.schema(c))))
    val paths = rows.map(r => partitionCols.zipWithIndex.map { case (c, i) =>
      ExternalCatalogUtils.getPartitionPathString(c, r.getString(n + i))
    }.mkString("/"))
    (local, paths)
  }
}
