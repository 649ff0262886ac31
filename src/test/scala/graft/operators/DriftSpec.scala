package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** PSI drift: hand-computed contributions, identical-distribution zero,
  * empty-bucket nulls, and the bounded-join plan shape.
  */
class DriftSpec extends SparkSpec {

  import spark.implicits._

  private def df(vs: Seq[Long]) = vs.map(Tuple1(_)).toDF("v")

  test("identical distributions: every occupied bucket has psi_q in {-1, 0}") {
    // floor of an exactly-zero product is 0; tiny negative round-off → -1
    val d = df(Seq(1L, 5L, 9L, 14L, 20L))
    val got = Drift.psiByBucket(d, d, "v", Seq(10L))
      .select("psi_q").as[Option[Long]].collect()
    assert(got.forall(o => o.contains(0L) || o.contains(-1L)))
  }

  test("hand-computed two-bucket drift") {
    // ref: 3 low 1 high; cur: 1 low 3 high; cut at 10
    val ref = df(Seq(1L, 2L, 3L, 11L))
    val cur = df(Seq(4L, 12L, 13L, 14L))
    val got = Drift.psiByBucket(ref, cur, "v", Seq(10L))
      .select("bucket", "n_ref", "n_cur", "psi_q")
      .as[(Long, Long, Long, Option[Long])].collect()
      .map(r => r._1 -> r).toMap
    assert(got(1L)._2 === 3L && got(1L)._3 === 1L)
    val psiLow = (0.75 - 0.25) * math.log(0.75 / 0.25)
    val psiHigh = (0.25 - 0.75) * math.log(0.25 / 0.75)
    assert(got(1L)._4 === Some(math.floor(1e6 * psiLow).toLong))
    assert(got(2L)._4 === Some(math.floor(1e6 * psiHigh).toLong))
    // symmetric shift: both contributions positive (PSI always ≥ 0 per bucket)
    assert(got.values.forall(_._4.get > 0))
  }

  test("bucket empty on one side: counted, psi_q NULL") {
    val ref = df(Seq(1L, 2L))
    val cur = df(Seq(11L, 12L))
    val got = Drift.psiByBucket(ref, cur, "v", Seq(10L))
      .select("bucket", "n_ref", "n_cur", "psi_q")
      .as[(Long, Long, Long, Option[Long])].collect().toSet
    assert(got === Set((1L, 2L, 0L, None), (2L, 0L, 2L, None)))
  }

  test("null values are excluded from both counts and totals") {
    val ref = Seq(Some(1L), None, Some(2L)).map(Tuple1(_)).toDF("v")
    val cur = Seq(Some(3L), Some(4L)).map(Tuple1(_)).toDF("v")
    val got = Drift.psiByBucket(ref, cur, "v", Seq(10L))
      .select("n_ref", "n_cur").as[(Long, Long)].collect()
    assert(got === Array((2L, 2L)))
  }

  test("categorical PSI: category buckets, new-category NULL signal") {
    val ref = Seq("a", "a", "a", "b").map(Tuple1(_)).toDF("cat")
    val cur = Seq("a", "b", "b", "c").map(Tuple1(_)).toDF("cat")
    val got = Drift.psiCategorical(ref, cur, "cat")
      .orderBy("category").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3))))
    // a: p=3/4 q=1/4, (p−q)·ln(3) = 0.5·1.0986 → 549306
    assert(got.map(t => (t._1, t._2, t._3)).toSeq ==
      Seq(("a", 3L, 1L), ("b", 1L, 2L), ("c", 0L, 1L)))
    assert(got(0)._4.contains(549306L))
    assert(got(2)._4.isEmpty) // new category: NULL psi, the alert signal
    // NULL categories are excluded like the numeric form's NULL values
    val withNull = Seq(Some("a"), None).map(Tuple1(_)).toDF("cat")
    assert(Drift.psiCategorical(withNull, withNull, "cat").count() == 1L)
  }

  test("cuts must be strictly increasing") {
    intercept[IllegalArgumentException] {
      Drift.psiByBucket(df(Seq(1L)), df(Seq(1L)), "v", Seq(10L, 10L))
    }
    intercept[IllegalArgumentException] {
      Drift.psiByBucket(df(Seq(1L)), df(Seq(1L)), "v", Seq(20L, 10L))
    }
  }

  test("maintained-store composition: N incremental batches equal the batch PSI") {
    import org.apache.spark.sql.functions.lit
    val store = "/tmp/graft_drift_store"
    graft.sources.AtomicStore.drop(spark, store)
    val cuts = Seq(20L, 40L, 60L)
    val ref = df((1L to 80L).map(i => (i * 7) % 90))
    val batches = Seq(df(Seq(5L, 25L, 45L)), df(Seq(65L, 66L)), df(Seq(10L, 30L)))
    // fold each micro-batch's bucketed rows into the count store
    batches.foreach { b =>
      IncrementalAgg.update(spark, store,
        b.where(col("v").isNotNull)
          .select(Drift.psiBucketColumn(col("v"), cuts).as("bucket")),
        Seq("bucket"), Seq(IncrementalAgg.Count("n_cur")))
    }
    val streamed = Drift.psiFromCounts(
        Drift.bucketCounts(ref, "v", cuts, "n_ref"),
        IncrementalAgg.read(spark, store))
      .orderBy("bucket").collect().toSeq
    val batch = Drift.psiByBucket(ref,
        batches.reduce(_ unionByName _), "v", cuts)
      .orderBy("bucket").collect().toSeq
    assert(streamed === batch)
  }

  test("plan: two aggregates + a buckets-sized join; no corpus-width join or window") {
    val plan = Drift.psiByBucket(df(1L to 100L), df(1L to 100L), "v",
        Seq(25L, 50L, 75L))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"))
    assert(!plan.contains("CartesianProduct"))
  }
}
