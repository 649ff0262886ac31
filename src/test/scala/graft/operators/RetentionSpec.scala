package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Retention-matrix contracts: a hand-checked cohort triangle, the
  * offset-zero diagonal (every cohort is fully "retained" at offset 0),
  * null hygiene, and the no-Expand plan shape.
  */
class RetentionSpec extends SparkSpec {

  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("hand-checked triangle: cohorts, offsets, and counts") {
    // week(Mon) of 2024-01-01; u1 active wk0+wk1, u2 wk0 only (twice —
    // dedup), u3 joins wk1 active wk1+wk3
    val ev = Seq(
      (1L, ts("2024-01-02 10:00:00")), (1L, ts("2024-01-10 10:00:00")),
      (2L, ts("2024-01-03 10:00:00")), (2L, ts("2024-01-04 09:00:00")),
      (3L, ts("2024-01-09 08:00:00")), (3L, ts("2024-01-24 08:00:00")))
      .toDF("user_id", "tstamp")
    val got = Retention.weeklyCohorts(ev, "user_id", "tstamp").collect()
      .map(r => (r.getDate(0).toString, r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == Map(
      ("2024-01-01", 0L) -> 2L, // u1, u2
      ("2024-01-01", 1L) -> 1L, // u1
      ("2024-01-08", 0L) -> 1L, // u3
      ("2024-01-08", 2L) -> 1L)) // u3, two weeks later
  }

  test("offset 0 counts every user of the cohort exactly once") {
    val ev = graft.Tables.resolve(spark, sf)("events")
    val m = Retention.weeklyCohorts(ev, "user_id", "ts").collect()
      .map(r => (r.getDate(0).toString, r.getLong(1)) -> r.getLong(2)).toMap
    val cohortSizes = ev.where(col("user_id").isNotNull && col("ts").isNotNull)
      .groupBy("user_id").agg(min(date_trunc("week", col("ts")).cast("date")).as("c"))
      .groupBy("c").agg(count(lit(1)).as("n")).collect()
      .map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    cohortSizes.foreach { case (c, n) => assert(m((c, 0L)) == n, s"cohort $c") }
  }

  test("null users and timestamps are excluded") {
    val ev = Seq(
      (Some(1L), Some(ts("2024-01-02 10:00:00"))),
      (None, Some(ts("2024-01-02 11:00:00"))),
      (Some(2L), Option.empty[java.sql.Timestamp]))
      .toDF("user_id", "tstamp")
    val got = Retention.weeklyCohorts(ev, "user_id", "tstamp").collect()
    assert(got.map(_.getLong(2)).sum == 1L)
  }

  test("plan: no count-distinct Expand; aggregates are partial") {
    val ev = graft.Tables.resolve(spark, sf)("events")
    val plan = Retention.weeklyCohorts(ev, "user_id", "ts")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Expand"), plan)
    assert(plan.contains("partial_"), plan)
  }
}
