package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._

class EventFunnelsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(us: Long) = new java.sql.Timestamp(us / 1000).toInstant
    .atZone(java.time.ZoneOffset.UTC).toLocalDateTime

  private def mkEvents(rows: (Long, Long, String)*) =
    rows.map { case (u, t, ty) => (u, ts(t * 1000000), ty) }
      .toDF("user_id", "ts", "event_type")

  private val steps = Seq("a", "b", "c")

  test("strict ordering: steps must advance in time") {
    val e = mkEvents(
      (1L, 10, "a"), (1L, 20, "b"), (1L, 30, "c"),   // full funnel
      (2L, 20, "b"), (2L, 10, "a"), (2L, 5, "c"),    // c before a ⇒ stops at b
      (3L, 10, "b"), (3L, 20, "c"),                  // never did a ⇒ 0
      (4L, 10, "a"), (4L, 10, "b"))                  // same-time b does not count
    val got = EventFunnels.funnel(e, steps)
      .orderBy("user_id")
      .select("user_id", "steps_completed").as[(Long, Int)].collect()
    assert(got.toSeq === Seq((1L, 3), (2L, 2), (3L, 0), (4L, 1)))
  }

  test("earliest-first walk and conversion time") {
    val e = mkEvents(
      (1L, 10, "a"), (1L, 50, "a"),   // t1 anchors at the FIRST a
      (1L, 60, "b"), (1L, 70, "c"))
    val r = EventFunnels.funnel(e, steps).collect().head
    assert(r.getAs[Int]("steps_completed") === 3)
    assert(r.getAs[Long]("first_us") === 10L * 1000000)
    assert(r.getAs[Long]("convert_us") === 60L * 1000000)
  }

  test("horizon bounds the walk from first touch") {
    val e = mkEvents(
      (1L, 0, "a"), (1L, 30, "b"), (1L, 200, "c"),  // c outside 100s horizon
      (2L, 0, "a"), (2L, 30, "b"), (2L, 90, "c"))   // inside
    val got = EventFunnels.funnel(e, steps, horizonUs = Some(100L * 1000000))
      .orderBy("user_id")
      .select("user_id", "steps_completed").as[(Long, Int)].collect()
    assert(got.toSeq === Seq((1L, 2), (2L, 3)))
  }

  test("users with no funnel events still appear with 0 steps") {
    val e = mkEvents((1L, 10, "x"), (2L, 10, "a"))
    val got = EventFunnels.funnel(e, steps)
      .orderBy("user_id")
      .select("user_id", "steps_completed").as[(Long, Int)].collect()
    assert(got.toSeq === Seq((1L, 0), (2L, 1)))
  }

  test("result is partitioning-independent") {
    val e = graft.Tables.resolve(spark, sf)("events")
    def run(df: org.apache.spark.sql.DataFrame) =
      EventFunnels.funnel(df, Seq("view", "click", "purchase"))
        .orderBy("user_id").collect().toSeq
    assert(run(e.repartition(1)) === run(e.repartition(11)))
  }

  test("funnelSummary counts users reaching each step (monotone)") {
    val e = mkEvents(
      (1L, 10, "a"), (1L, 20, "b"), (1L, 30, "c"),
      (2L, 10, "a"), (2L, 20, "b"),
      (3L, 10, "a"))
    val per = EventFunnels.funnel(e, steps)
    val got = EventFunnels.funnelSummary(per, 3)
      .orderBy("step").select("n_users").as[Long].collect()
    assert(got.toSeq === Seq(3L, 2L, 1L))
  }
  test("funnelLatency: exact-regime quantiles over converter times") {
    val e = mkEvents(
      (1L, 10, "a"), (1L, 20, "b"), (1L, 30, "c"),   // convert 20s
      (2L, 0, "a"), (2L, 5, "b"), (2L, 10, "c"),     // convert 10s
      (3L, 0, "a"), (3L, 50, "b"), (3L, 100, "c"),   // convert 100s
      (4L, 0, "a"))                                  // non-converter
    val r = EventFunnels.funnelLatency(EventFunnels.funnel(e, steps))
      .collect().head
    assert(r.getLong(0) == 3L)
    // sorted converts (us): 10s, 20s, 100s -> p25=10s p50=20s p75=100s p90=100s
    assert(r.getLong(1) == 10000000L && r.getLong(2) == 20000000L)
    assert(r.getLong(3) == 100000000L && r.getLong(4) == 100000000L)
  }

  test("funnelLatency with zero converters: one row, count 0, NULL quantiles") {
    val e = mkEvents((1L, 10, "a"), (2L, 10, "b"))
    val r = EventFunnels.funnelLatency(EventFunnels.funnel(e, steps))
      .collect().head
    assert(r.getLong(0) == 0L && r.isNullAt(1) && r.isNullAt(4))
  }

}
