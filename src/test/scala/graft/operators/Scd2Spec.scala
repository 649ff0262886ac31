package graft.operators

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** SCD2 contracts: hand-checked versioning, no-op collapse, tie ordering,
  * fold-of-batches ≡ direct build under the in-order contract, late-data
  * rejection, crash replay, and the windows-only plan shape.
  */
class Scd2Spec extends SparkSpec {

  private def d(s: String) = java.sql.Date.valueOf(s)

  private def changesDf = {
    import spark.implicits._
    Seq(
      (1L, "bronze", d("2024-01-01"), 10L),
      (1L, "bronze", d("2024-02-01"), 20L), // no-op change, collapses
      (1L, "silver", d("2024-03-01"), 30L),
      (1L, "gold",   d("2024-03-01"), 31L), // same-day tie, seq orders it
      (2L, "gold",   d("2024-01-15"), 11L)
    ).toDF("k", "status", "eff", "seq")
  }

  private def freshDir(name: String): String = {
    val dir = s"/tmp/graft_scd2_spec/$name"
    graft.sources.AtomicStore.drop(spark, dir)
    val marks = new Path(dir + "__applied")
    marks.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(marks, true)
    dir
  }

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.select("k", "status", "valid_from", "seq", "valid_to", "is_current")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.get(2).toString, r.getLong(3),
        Option(r.get(4)).map(_.toString), r.getBoolean(5))).toSet

  test("hand-checked versions: collapse, validity chain, same-day ties") {
    assert(rows(Scd2.build(changesDf, "k", Seq("status"), "eff", "seq")) == Set(
      (1L, "bronze", "2024-01-01", 10L, Some("2024-03-01"), false),
      (1L, "silver", "2024-03-01", 30L, Some("2024-03-01"), false),
      (1L, "gold",   "2024-03-01", 31L, None, true),
      (2L, "gold",   "2024-01-15", 11L, None, true)))
  }

  test("fold of in-order batches equals the direct build") {
    val dir = freshDir("fold")
    val li = spark.read.parquet(s"$sf/orders.parquet").select(
      col("o_custkey").as("k"), col("o_orderstatus").as("status"),
      col("o_orderdate").as("eff"), col("o_orderkey").as("seq"))
    val cuts = Seq(d("1994-01-01"), d("1996-06-01"))
    Seq(
      li.where(col("eff") < cuts(0)),
      li.where(col("eff") >= cuts(0) && col("eff") < cuts(1)),
      li.where(col("eff") >= cuts(1))
    ).foreach(b => Scd2.update(spark, dir, b, "k", Seq("status"), "eff", "seq"))
    assert(rows(Scd2.read(spark, dir)) ==
      rows(Scd2.build(li, "k", Seq("status"), "eff", "seq")))
  }

  test("late data is rejected under strict, not silently mis-folded") {
    import spark.implicits._
    val dir = freshDir("late")
    Scd2.update(spark, dir, changesDf, "k", Seq("status"), "eff", "seq")
    val beforeReject = rows(Scd2.read(spark, dir))
    val late = Seq((1L, "iron", d("2023-12-01"), 5L)).toDF("k", "status", "eff", "seq")
    intercept[IllegalArgumentException](
      Scd2.update(spark, dir, late, "k", Seq("status"), "eff", "seq"))
    // the rejection happens after the staged tmp write but before the swap
    // (the late count rides the rebuild job as an observed metric) — the
    // live store must come out of a rejected fold exactly as it went in
    assert(rows(Scd2.read(spark, dir)) == beforeReject)
    // an in-order continuation for an existing key folds fine
    val next = Seq((2L, "silver", d("2024-06-01"), 40L)).toDF("k", "status", "eff", "seq")
    Scd2.update(spark, dir, next, "k", Seq("status"), "eff", "seq")
    val r = rows(Scd2.read(spark, dir))
    assert(r.contains((2L, "gold", "2024-01-15", 11L, Some("2024-06-01"), false)) &&
      r.contains((2L, "silver", "2024-06-01", 40L, None, true)))
  }

  test("strict update with an empty batch returns at once and leaves the store unwritten") {
    import org.scalatest.concurrent.{Signaler, ThreadSignaler}
    import org.scalatest.concurrent.TimeLimits.failAfter
    import org.scalatest.time.SpanSugar._
    // interrupts a blocked Observation.get instead of waiting forever
    implicit val signaler: Signaler = ThreadSignaler
    import spark.implicits._
    val dir = freshDir("empty_batch")
    Scd2.update(spark, dir, changesDf, "k", Seq("status"), "eff", "seq")
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def files = fs.listStatus(new Path(dir)).map(_.getPath.getName).toSet
    val (beforeRows, beforeFiles) = (rows(Scd2.read(spark, dir)), files)
    val empties = Seq(
      "empty local relation" -> Seq.empty[(Long, String, java.sql.Date, Long)]
        .toDF("k", "status", "eff", "seq"),
      "limit 0" -> changesDf.limit(0),
      "empty only at run time" -> spark.read.parquet(s"$sf/orders.parquet").select(
        col("o_custkey").as("k"), col("o_orderstatus").as("status"),
        col("o_orderdate").cast("date").as("eff"), col("o_orderkey").as("seq"))
        .where(col("seq") < 0))
    empties.foreach { case (what, batch) =>
      withClue(what) {
        failAfter(60.seconds) {
          Scd2.update(spark, dir, batch, "k", Seq("status"), "eff", "seq")
        }
        assert(files == beforeFiles, "an empty batch must not rewrite the store")
      }
    }
    assert(rows(Scd2.read(spark, dir)) == beforeRows)
  }

  test("tolerant fold: a LATE batch folds exactly — store equals build(union)") {
    import spark.implicits._
    val dir = freshDir("tolerant"); val log = freshDir("tolerant_log")
    // fold the 2024 history first...
    Scd2.updateTolerant(spark, dir, log, changesDf, "k", Seq("status"), "eff", "seq")
    // ...then a LATE 2023 change for key 1 (strict update rejects this) and
    // a brand-new key in the same batch
    val late = Seq(
      (1L, "iron", d("2023-12-01"), 5L),
      (3L, "bronze", d("2024-02-02"), 50L)).toDF("k", "status", "eff", "seq")
    Scd2.updateTolerant(spark, dir, log, late, "k", Seq("status"), "eff", "seq")
    assert(rows(Scd2.read(spark, dir)) ==
      rows(Scd2.build(changesDf.unionByName(late), "k", Seq("status"), "eff", "seq")))
    // the late row reopened key 1's history: iron is its first version now
    assert(rows(Scd2.read(spark, dir))
      .contains((1L, "iron", "2023-12-01", 5L, Some("2024-01-01"), false)))
  }

  test("tolerant fold: late no-op change re-derives the collapse correctly") {
    import spark.implicits._
    val dir = freshDir("tolerant_noop"); val log = freshDir("tolerant_noop_log")
    Scd2.updateTolerant(spark, dir, log, changesDf, "k", Seq("status"), "eff", "seq")
    // late "bronze" between the two stored bronze changes: still a no-op
    // chain — the rebuild must keep exactly one bronze version
    val late = Seq((1L, "bronze", d("2024-01-15"), 15L)).toDF("k", "status", "eff", "seq")
    Scd2.updateTolerant(spark, dir, log, late, "k", Seq("status"), "eff", "seq")
    assert(rows(Scd2.read(spark, dir)) ==
      rows(Scd2.build(changesDf.unionByName(late), "k", Seq("status"), "eff", "seq")))
  }

  test("tolerant fold ignores hidden crash debris in the change log") {
    import spark.implicits._
    val dir = freshDir("tolerant_debris"); val log = freshDir("tolerant_debris_log")
    Scd2.updateTolerant(spark, dir, log, changesDf, "k", Seq("status"), "eff", "seq")
    // a crashed append leaves a dot-prefixed temp dir: it must stay invisible
    Seq((9L, "ghost", d("2020-01-01"), 1L)).toDF("k", "status", "eff", "seq")
      .write.parquet(s"$log/.batch_crashed_tmp")
    val next = Seq((2L, "silver", d("2024-06-01"), 40L)).toDF("k", "status", "eff", "seq")
    Scd2.updateTolerant(spark, dir, log, next, "k", Seq("status"), "eff", "seq")
    assert(rows(Scd2.read(spark, dir)) ==
      rows(Scd2.build(changesDf.unionByName(next), "k", Seq("status"), "eff", "seq")))
  }

  test("tolerant fold of in-order batches also equals the direct build") {
    val dir = freshDir("tolerant_inorder"); val log = freshDir("tolerant_inorder_log")
    val li = spark.read.parquet(s"$sf/orders.parquet").select(
      col("o_custkey").as("k"), col("o_orderstatus").as("status"),
      col("o_orderdate").as("eff"), col("o_orderkey").as("seq"))
    val cut = d("1995-01-01")
    Seq(li.where(col("eff") < cut), li.where(col("eff") >= cut))
      .foreach(b => Scd2.updateTolerant(spark, dir, log, b, "k", Seq("status"), "eff", "seq"))
    assert(rows(Scd2.read(spark, dir)) ==
      rows(Scd2.build(li, "k", Seq("status"), "eff", "seq")))
  }

  test("recover replays a log-ahead-of-store crash; healthy store is a no-op") {
    import spark.implicits._
    val dir = freshDir("recover"); val log = freshDir("recover_log")
    Scd2.updateTolerant(spark, dir, log, changesDf, "k", Seq("status"), "eff", "seq")
    // healthy: high-water marks agree, nothing rebuilt
    assert(Scd2.recover(spark, dir, log, "k", Seq("status"), "eff", "seq") == 0L)
    val healthy = rows(Scd2.read(spark, dir))
    // simulate the crash window: the batch reached the LOG (visible dir)
    // but the store swap never ran — read() now serves stale history
    val crashed = Seq(
      (2L, "silver", d("2024-06-01"), 40L),
      (3L, "bronze", d("2024-07-01"), 50L)).toDF("k", "status", "eff", "seq")
    crashed.write.parquet(s"$log/batch_9999999999999_9_deadbeef")
    assert(rows(Scd2.read(spark, dir)) == healthy, "store is stale pre-recover")
    val healed = Scd2.recover(spark, dir, log, "k", Seq("status"), "eff", "seq")
    assert(healed == 2L, s"keys 2 and 3 lag the log, got $healed")
    assert(rows(Scd2.read(spark, dir)) ==
      rows(Scd2.build(changesDf.unionByName(crashed), "k", Seq("status"), "eff", "seq")))
    // idempotent: a second pass only re-proves the conservative candidates
    Scd2.recover(spark, dir, log, "k", Seq("status"), "eff", "seq")
    assert(rows(Scd2.read(spark, dir)) ==
      rows(Scd2.build(changesDf.unionByName(crashed), "k", Seq("status"), "eff", "seq")))
  }

  test("recover heals a crashed LATE batch (below the store's high-water mark)") {
    import spark.implicits._
    val dir = freshDir("recover_late"); val log = freshDir("recover_late_log")
    Scd2.updateTolerant(spark, dir, log, changesDf, "k", Seq("status"), "eff", "seq")
    // key 1's stored high-water is (2024-03-01, 31); this batch is LATE
    // (eff 2024-02-15 < that) — a per-key high-water diff cannot see it.
    // Simulate the crash window: log append landed, swap did not.
    val late = Seq((1L, "silver", d("2024-02-15"), 25L))
      .toDF("k", "status", "eff", "seq")
    late.write.parquet(s"$log/batch_8888888888888_7_cafebabe")
    val before = rows(Scd2.read(spark, dir))
    assert(!before.exists(_._3 == "2024-02-15"), "store is stale pre-recover")
    val healed = Scd2.recover(spark, dir, log, "k", Seq("status"), "eff", "seq")
    assert(healed == 1L, s"key 1's crashed late batch must be detected, got $healed")
    assert(rows(Scd2.read(spark, dir)) ==
      rows(Scd2.build(changesDf.unionByName(late), "k", Seq("status"), "eff", "seq")))
    // and the batch is now marked: a second recover is a no-op
    assert(Scd2.recover(spark, dir, log, "k", Seq("status"), "eff", "seq") == 0L)
  }

  test("recover bootstraps an entirely missing store from the log") {
    val dir = freshDir("recover_boot"); val log = freshDir("recover_boot_log")
    val other = freshDir("recover_boot_store2")
    // build the log via a tolerant fold into a throwaway store, then
    // recover into a store dir that never saw the swap at all
    Scd2.updateTolerant(spark, other, log, changesDf, "k", Seq("status"), "eff", "seq")
    val healed = Scd2.recover(spark, dir, log, "k", Seq("status"), "eff", "seq")
    assert(healed == 2L)
    assert(rows(Scd2.read(spark, dir)) ==
      rows(Scd2.build(changesDf, "k", Seq("status"), "eff", "seq")))
  }

  test("a mid-swap crash is replayed by the next entry point") {
    val dir = freshDir("stash")
    val (early, late) = (changesDf.where(col("eff") < d("2024-02-15")),
      changesDf.where(col("eff") >= d("2024-02-15")))
    Scd2.update(spark, dir, early, "k", Seq("status"), "eff", "seq")
    val before = rows(Scd2.read(spark, dir))
    // before the commit: the fold never happened
    graft.sources.Crash.at(0)(Scd2.update(spark, dir, late, "k", Seq("status"), "eff", "seq"))
    assert(rows(Scd2.read(spark, dir)) == before)
    // committed, the old store deleted, the new one not yet in place
    graft.sources.Crash.at(2)(Scd2.update(spark, dir, late, "k", Seq("status"), "eff", "seq"))
    assert(rows(Scd2.read(spark, dir)) ==
      rows(Scd2.build(changesDf, "k", Seq("status"), "eff", "seq")))
  }

  test("asOfDimension: boundary goes to the new version; pre-history drops") {
    import spark.implicits._
    val dim = Scd2.build(changesDf, "k", Seq("status"), "eff", "seq")
    val facts = Seq(
      (100L, 1L, d("2024-02-15")), // inside bronze
      (101L, 1L, d("2024-03-01")), // exactly at change: gold (zero-length silver skipped)
      (102L, 1L, d("2023-06-01")), // before first version: drops
      (103L, 9L, d("2024-01-01"))  // unknown key: drops
    ).toDF("fid", "k", "ft")
    val out = Scd2.asOfDimension(facts, dim, "k", "ft")
      .select("fid", "status").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(out == Set((100L, "bronze"), (101L, "gold")))
  }

  test("asOfDimension plan: hash join on the key, no nested loop") {
    import spark.implicits._
    val dim = Scd2.build(changesDf, "k", Seq("status"), "eff", "seq")
    val facts = Seq((100L, 1L, d("2024-02-15"))).toDF("fid", "k", "ft")
    val plan = Scd2.asOfDimension(facts, dim, "k", "ft")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("plan: per-key windows and one key shuffle; no cartesian") {
    val plan = Scd2.build(changesDf, "k", Seq("status"), "eff", "seq")
      .queryExecution.executedPlan.toString
    assert(plan.contains("Window"), plan)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }
}
