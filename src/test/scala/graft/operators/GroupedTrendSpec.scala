package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Exact grouped OLS slope: hand-checked lines, sign handling, degenerate
  * groups, partitioning independence, partial-agg plan shape.
  */
class GroupedTrendSpec extends SparkSpec {

  import spark.implicits._

  private def run(rows: Seq[(String, Long, Long)], parts: Int = 4): Map[String, Option[Long]] =
    GroupedTrend.slope(rows.toDF("g", "x", "y").repartition(parts),
        Seq("g"), "x", "y")
      .collect().map(r => r.getString(0) ->
        (if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap

  test("exact lines recover their slope exactly") {
    val rows = Seq(
      // y = 3x + 7 → slope_q = 3·10⁴
      ("up", 1L, 10L), ("up", 2L, 13L), ("up", 5L, 22L),
      // y = -2x → slope_q = -2·10⁴
      ("down", 0L, 0L), ("down", 3L, -6L), ("down", 10L, -20L),
      // constant y → slope 0
      ("flat", 1L, 9L), ("flat", 4L, 9L), ("flat", 6L, 9L))
    assert(run(rows) === Map(
      "up" -> Some(30000L), "down" -> Some(-20000L), "flat" -> Some(0L)))
  }

  test("non-integer slope truncates toward zero on both signs") {
    // two points: slope 1/3 → 3333; and slope -1/3 → -3333 (toward zero,
    // NOT floor's -3334 — the sign-split contract)
    val rows = Seq(("p", 0L, 0L), ("p", 3L, 1L), ("q", 0L, 0L), ("q", 3L, -1L))
    assert(run(rows) === Map("p" -> Some(3333L), "q" -> Some(-3333L)))
  }

  test("single point and single distinct x are NULL (undefined slope)") {
    val rows = Seq(("one", 5L, 9L), ("same", 2L, 1L), ("same", 2L, 5L))
    assert(run(rows) === Map("one" -> None, "same" -> None))
  }

  test("partitioning-independent (decimal sums, no float drift)") {
    val rows = (1L to 500L).map(i => ("g", i, i * 17 - 3))
    for (parts <- Seq(1, 13)) {
      assert(run(rows, parts) === Map("g" -> Some(170000L)), s"parts $parts")
    }
  }

  test("plan: partial aggregation before the exchange (no value buffering)") {
    val df = GroupedTrend.slope(
      (1L to 100L).map(i => ("g", i, i)).toDF("g", "x", "y"), Seq("g"), "x", "y")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("partial"), plan.take(2000))
  }

  test("incremental fold through the maintained store equals the direct slope") {
    val store = "/tmp/graft_trend_store"
    graft.sources.AtomicStore.drop(spark, store)
    val rows = (1L to 300L).map(i => (s"g${i % 5}", i, i * ((i % 5) + 1) + (i % 13)))
    val all = rows.toDF("g", "x", "y")
    (0 until 3).foreach { b =>
      IncrementalAgg.update(spark, store,
        GroupedTrend.withTrendColumns(
          rows.filter(_._2 % 3 == b).toDF("g", "x", "y"), "x", "y"),
        Seq("g"), GroupedTrend.trendSpecs)
    }
    val folded = GroupedTrend.slopeFromSums(
        IncrementalAgg.read(spark, store), Seq("g"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val direct = GroupedTrend.slope(all, Seq("g"), "x", "y")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(folded === direct)
  }

  test("correlation: hand-checked components and the IEEE-sqrt double") {
    import spark.implicits._
    // g1: y = 2x exactly → r = 1; g2: y constant → var_y = 0 → NULL corr
    val d = Seq(("g1", 1L, 2L), ("g1", 2L, 4L), ("g1", 3L, 6L),
      ("g2", 1L, 5L), ("g2", 2L, 5L)).toDF("g", "x", "y")
    val rows = GroupedTrend.correlation(d, Seq("g"), "x", "y")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDecimal(2).longValueExact(),
          r.getDecimal(3).longValueExact(), r.getDecimal(4).longValueExact(),
          Option(r.get(5)).map(_.asInstanceOf[Double]))).toMap
    // g1: n=3 sx=6 sy=12 sxy=28 sxx=14 syy=56 → num=3·28−72=12,
    // var_x=42−36=6, var_y=168−144=24; r = 12/√144 = 1
    assert(rows("g1") === ((3L, 12L, 6L, 24L, Some(1.0))))
    // g2: var_y = 0 → corr NULL, components still exact
    val g2 = rows("g2")
    assert(g2._4 === 0L && g2._5.isEmpty)
  }

  test("correlation: negative and near-zero relationships keep exact signs") {
    import spark.implicits._
    val d = ((1 to 50).map(i => ("neg", i.toLong, -3L * i + 7L)) ++
      (1 to 50).map(i => ("mix", i.toLong, (i % 2).toLong))).toDF("g", "x", "y")
    val rows = GroupedTrend.correlation(d, Seq("g"), "x", "y")
      .collect().map(r => r.getString(0) ->
        (r.getDecimal(2).longValueExact(), r.get(5).asInstanceOf[Double])).toMap
    assert(rows("neg")._1 < 0L && math.abs(rows("neg")._2 + 1.0) < 1e-12)
    assert(math.abs(rows("mix")._2) < 0.2)
  }

  test("correlation plan: one shuffle, partial aggregation before it") {
    import spark.implicits._
    val d = Seq(("g", 1L, 2L)).toDF("g", "x", "y")
    val plan = GroupedTrend.correlation(d, Seq("g"), "x", "y")
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_sum") || plan.contains("partial_count"))
  }
}
