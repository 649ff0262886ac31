package graft.streaming

import graft.SparkSpec
import graft.operators.Cusum
import org.apache.spark.sql.functions._

/** AlarmIngest: N ordered folds ≡ one-shot Cusum, late-start groups,
  * out-of-order raise.
  */
class AlarmIngestSpec extends SparkSpec {

  import spark.implicits._

  private def cleanDirs(dirs: String*): Unit =
    dirs.foreach(graft.sources.AtomicStore.drop(spark, _))

  // group g spans all chunks; group z only appears from chunk 2
  private def series = Seq(
    ("g", 1L, 12L), ("g", 2L, 13L), ("g", 3L, 8L),
    ("g", 4L, 9L), ("g", 5L, 15L), ("z", 5L, 30L),
    ("g", 6L, 2L), ("g", 7L, 25L), ("z", 7L, 1L))
    .toDF("grp", "i", "x")

  test("three ordered folds reproduce the one-shot monitor bit-for-bit") {
    val store = "/tmp/graft_alarm_ingest_store"
    val alarms = "/tmp/graft_alarm_ingest_lake"
    cleanDirs(store, alarms)
    val want = Cusum.twoSided(series, "grp", "i", "x", k = 10, h = 5)
      .collect().map(_.toSeq).toSet
    Seq(series.where(col("i") <= 3), series.where(col("i").between(4, 5)),
      series.where(col("i") >= 6)).foreach { b =>
      AlarmIngest.ingestBatch(b, store, alarms, "grp", "i", "x",
        k = 10, h = 5)
    }
    val got = spark.read.parquet(alarms)
      .select("grp", "idx", "s_pos", "s_neg", "alarm_up", "alarm_dn")
      .collect().map(_.toSeq).toSet
    // one-shot output uses the same column set (grp, idx, ...)
    assert(got == want, s"got=$got want=$want")
  }

  test("NULL group is a real stratum: its state folds, never duplicates") {
    val store = "/tmp/graft_alarm_ingest_store3"
    val alarms = "/tmp/graft_alarm_ingest_lake3"
    cleanDirs(store, alarms)
    val s = Seq((Option.empty[String], 1L, 12L),
      (Option.empty[String], 2L, 13L), (Option.empty[String], 3L, 15L))
      .toDF("grp", "i", "x")
    val want = Cusum.twoSided(s, "grp", "i", "x", k = 10, h = 5)
      .collect().map(_.toSeq).toSet
    Seq(s.where(col("i") <= 1), s.where(col("i") === 2),
      s.where(col("i") === 3)).foreach { b =>
      AlarmIngest.ingestBatch(b, store, alarms, "grp", "i", "x",
        k = 10, h = 5)
    }
    val got = spark.read.parquet(alarms)
      .select("grp", "idx", "s_pos", "s_neg", "alarm_up", "alarm_dn")
      .collect().map(_.toSeq)
    assert(got.length == 3 && got.toSet == want)
    // the store holds exactly ONE row for the NULL stratum
    assert(spark.read.parquet(store).count() == 1L)
  }

  test("out-of-order batch raises loudly") {
    val store = "/tmp/graft_alarm_ingest_store2"
    val alarms = "/tmp/graft_alarm_ingest_lake2"
    cleanDirs(store, alarms)
    AlarmIngest.ingestBatch(series.where(col("i") >= 4), store, alarms,
      "grp", "i", "x", k = 10, h = 5)
    val e = intercept[Exception] {
      AlarmIngest.ingestBatch(series.where(col("i") <= 3), store, alarms,
        "grp", "i", "x", k = 10, h = 5)
    }
    assert(e.getMessage.contains("index order"))
  }
}
