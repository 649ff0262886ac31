package graft.operators

import graft.sources.AtomicStore
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally-maintained aggregate store — materialized-view maintenance
  * for the metrics a 100 TB pipeline tracks continuously (tokens per
  * domain, rows per source per day, min/max watermarks): each batch is
  * reduced to PARTIAL aggregates and folded into a persisted per-group
  * store, so the running totals cost one pass over each batch ever — never
  * a re-scan of history.
  *
  * Only decomposable aggregates are offered (count/sum/min/max — the
  * classic self-maintainable set): each merges by an aggregate of the same
  * shape, so `fold(batches) ≡ aggregate(union(batches))` exactly, however
  * the stream is batched. Averages are derived at read time (sum/count);
  * exact sums over fractional inputs should pass a DECIMAL column (integer
  * decimal sums are order-exact cross-engine; double sums are not).
  *
  * Scale shape: the batch side is a partial aggregate (map-side combine —
  * the shuffle carries one row per (group, partition)); the store holds
  * one row per group and the fold is a union + re-aggregate costing one
  * shuffle of store+partials. The whole-store rewrite per fold is the
  * snapshot-store shape — right while group cardinality ≪ event count
  * (the usual case: domains, sources, days). For a giant group space,
  * partition the store and fold via [[graft.sources.LakeMerge]]'s
  * partition-scoped rewrite instead; the merge algebra here is unchanged.
  *
  * Crash safety: folds replace the store via [[graft.sources.AtomicStore]]
  * (stage, commit, rename; every entry point replays a committed stage
  * first), so a killed fold leaves either the old store or the new one —
  * never a mix, never nothing.
  *
  * Reference anchor: the maintained-store analog of A1-A3 grouped
  * aggregation (fabrix-core agg AST) — an extension row, no reference
  * counterpart.
  */
object IncrementalAgg {

  sealed trait AggSpec { def name: String }
  /** Row count per group (merges by sum). */
  final case class Count(name: String) extends AggSpec
  /** Sum of `column` (pass a DECIMAL column for cross-engine-exact totals). */
  final case class Sum(column: String, name: String) extends AggSpec
  final case class Min(column: String, name: String) extends AggSpec
  final case class Max(column: String, name: String) extends AggSpec

  /** One batch reduced to the store schema: `groupCols` ++ one column per
    * spec. This is the partial-aggregate shape the store folds over.
    */
  def partial(batch: DataFrame, groupCols: Seq[String], specs: Seq[AggSpec]): DataFrame = {
    require(groupCols.nonEmpty, "grouped store needs group columns")
    require(specs.nonEmpty, "at least one aggregate spec")
    require(specs.map(_.name).distinct.size == specs.size, "spec names must be unique")
    val aggs = specs.map {
      case Count(n)   => count(lit(1)).as(n)
      case Sum(c, n)  => sum(col(c)).as(n)
      case Min(c, n)  => min(col(c)).as(n)
      case Max(c, n)  => max(col(c)).as(n)
    }
    batch.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Fold one batch into the store at `storeDir` (bootstraps it on first
    * use). After n calls the store equals [[partial]] over the
    * concatenation of all n batches — exactly, whatever the batching.
    */
  def update(spark: SparkSession, storeDir: String, batch: DataFrame,
             groupCols: Seq[String], specs: Seq[AggSpec]): Unit = {
    val part = partial(batch, groupCols, specs)
    AtomicStore.publish(spark, storeDir, AtomicStore.current(spark, storeDir)
      .fold(part)(merge(_, part, groupCols, specs)))
  }

  /** The running aggregates: one row per group seen so far. */
  def read(spark: SparkSession, storeDir: String): DataFrame =
    AtomicStore.read(spark, storeDir)

  /** Merge two frames in store schema (the decomposable-aggregate fold).
    * Result columns are cast back to `b`'s dtypes — Spark widens decimal
    * sums by 10 digits per aggregation, which would otherwise creep the
    * store schema wider on every fold.
    */
  private def merge(a: DataFrame, b: DataFrame, groupCols: Seq[String],
                    specs: Seq[AggSpec]): DataFrame = {
    val stable = b.schema
    val aggs = specs.map { s =>
      val m: Column = s match {
        case Count(n)  => sum(col(n))
        case Sum(_, n) => sum(col(n))
        case Min(_, n) => min(col(n))
        case Max(_, n) => max(col(n))
      }
      m.cast(stable(s.name).dataType).as(s.name)
    }
    a.select(stable.fieldNames.map(col): _*).unionByName(b)
      .groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }
}
