package graft.operators

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** Maintained-aggregate contracts: fold-of-batches ≡ direct aggregate
  * however the stream is batched, schema stability across folds, the
  * partial-agg plan shape, and crash-stash recovery at every entry point.
  */
class IncrementalAggSpec extends SparkSpec {

  import IncrementalAgg._

  private val groupCols = Seq("l_returnflag", "l_linestatus")
  private def specs = Seq(Count("cnt"), Sum("qty", "sum_qty"),
    Min("l_extendedprice", "min_p"), Max("l_extendedprice", "max_p"))

  private lazy val li = spark.read.parquet(s"$sf/lineitem.parquet")
    .withColumn("qty", col("l_quantity").cast("decimal(18,6)"))

  private def freshDir(name: String): String = {
    val d = s"/tmp/graft_incagg_spec/$name"
    graft.sources.AtomicStore.drop(spark, d)
    d
  }

  private def asMap(df: org.apache.spark.sql.DataFrame): Map[(String, String), (Long, BigDecimal, Double, Double)] =
    df.collect().map { r =>
      (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), BigDecimal(r.getDecimal(3)), r.getDouble(4), r.getDouble(5)))
    }.toMap

  private def direct = asMap(partial(li, groupCols, specs)
    .select(col("l_returnflag"), col("l_linestatus"),
      col("cnt"), col("sum_qty"), col("min_p"), col("max_p")))

  private def foldAndRead(dir: String, nSplits: Int): Map[(String, String), (Long, BigDecimal, Double, Double)] = {
    (0 until nSplits).foreach { b =>
      update(spark, dir, li.where(pmod(col("l_orderkey"), lit(nSplits)) === b),
        groupCols, specs)
    }
    asMap(read(spark, dir).select(col("l_returnflag"), col("l_linestatus"),
      col("cnt"), col("sum_qty"), col("min_p"), col("max_p")))
  }

  test("fold of batches equals the direct aggregate, for any batching") {
    assert(foldAndRead(freshDir("f3"), 3) == direct)
    assert(foldAndRead(freshDir("f5"), 5) == direct)
  }

  test("store schema is identical after every fold (no decimal widening creep)") {
    val dir = freshDir("schema")
    update(spark, dir, li.limit(100), groupCols, specs)
    val s1 = read(spark, dir).schema
    update(spark, dir, li.limit(200), groupCols, specs)
    assert(read(spark, dir).schema == s1)
  }

  test("an empty batch is an algebraic no-op") {
    val dir = freshDir("empty")
    update(spark, dir, li.limit(500), groupCols, specs)
    val before = asMap(read(spark, dir).select(col("l_returnflag"),
      col("l_linestatus"), col("cnt"), col("sum_qty"), col("min_p"), col("max_p")))
    update(spark, dir, li.limit(0), groupCols, specs)
    assert(asMap(read(spark, dir).select(col("l_returnflag"), col("l_linestatus"),
      col("cnt"), col("sum_qty"), col("min_p"), col("max_p"))) == before)
  }

  test("a mid-swap crash stash is restored by the next entry point") {
    val dir = freshDir("stash")
    update(spark, dir, li.limit(500), groupCols, specs)
    val before = read(spark, dir).collect().toSet
    // simulate the crash window: store renamed aside, nothing in its place
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(p, graft.sources.AtomicStore.stashPath(p)))
    assert(read(spark, dir).collect().toSet == before, "read() must restore the stash")
    // and update() on a stashed store folds into the RESTORED history
    assert(fs.rename(p, graft.sources.AtomicStore.stashPath(p)))
    update(spark, dir, li.limit(0), groupCols, specs)
    assert(read(spark, dir).collect().toSet == before)
  }

  test("the batch side is a partial aggregate (map-side combine)") {
    val plan = partial(li, groupCols, specs).queryExecution.executedPlan.toString
    assert(plan.contains("partial_"), plan)
  }
}
