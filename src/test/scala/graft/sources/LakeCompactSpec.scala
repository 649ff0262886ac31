package graft.sources

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions.col

/** Compaction contracts: fragmented partitions collapse to one file with
  * bit-identical content, oversized and single-file partitions are left
  * physically untouched, and the report names exactly the candidates.
  */
class LakeCompactSpec extends SparkSpec {

  import spark.implicits._

  private def freshDir(name: String): String = {
    val d = s"/tmp/graft_lakecompact_spec/$name"
    AtomicStore.drop(spark, d)
    d
  }

  private def dataFiles(dir: String, part: String): Array[String] = {
    val p = new Path(s"$dir/p=$part")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Array.empty
    else fs.listStatus(p).map(_.getPath.getName)
      .filter(n => !n.startsWith("_") && !n.startsWith("."))
  }

  private def content(dir: String): Map[Long, (Long, String)] =
    spark.read.parquet(dir).select("k", "v", "p").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap

  test("fragmented partitions compact to one file; content identical") {
    val lake = freshDir("basic")
    val rows = (1L to 100L).map(i => (i, i * 7, if (i % 2 == 0) "a" else "b"))
    rows.toDF("k", "v", "p").repartition(8)
      .write.partitionBy("p").parquet(lake)
    assert(dataFiles(lake, "a").length > 1)
    val before = content(lake)
    val n = LakeCompact.compact(spark, lake, Seq("p"), targetBytes = 10L * 1024 * 1024)
    assert(n == 2)
    assert(dataFiles(lake, "a").length == 1 && dataFiles(lake, "b").length == 1)
    assert(content(lake) == before)
    // second pass: nothing fragmented anymore
    assert(LakeCompact.compact(spark, lake, Seq("p"), 10L * 1024 * 1024) == 0)
  }

  test("partitions above targetBytes and single-file partitions are untouched") {
    val lake = freshDir("skip")
    (1L to 60L).map(i => (i, i, if (i <= 30) "big" else "one"))
      .toDF("k", "v", "p").repartition(6)
      .write.partitionBy("p").parquet(lake)
    // make "one" a single file via a first compaction with a huge target
    LakeCompact.compact(spark, lake, Seq("p"), targetBytes = 10L * 1024 * 1024)
    val fs = new Path(lake).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def stamp(part: String) =
      fs.listStatus(new Path(s"$lake/p=$part"))
        .map(st => st.getPath.getName -> st.getModificationTime).toMap
    val bigBefore = stamp("big"); val oneBefore = stamp("one")
    // target of 1 byte: every multi-file partition is "too big" to qualify
    assert(LakeCompact.compact(spark, lake, Seq("p"), targetBytes = 1L) == 0)
    assert(stamp("big") == bigBefore && stamp("one") == oneBefore)
  }

  test("non-canonical alias dirs (p=01 vs p=1) compact without duplicating rows") {
    val lake = freshDir("alias")
    // externally written lake: two directories aliasing one NUMERIC value
    Seq((1L, 10L)).toDF("k", "v").repartition(2).write.parquet(s"$lake/p=01")
    Seq((2L, 20L)).toDF("k", "v").repartition(2).write.parquet(s"$lake/p=1")
    val before = spark.read.parquet(lake).select("k", "v").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(before == Map(1L -> 10L, 2L -> 20L))
    val n = LakeCompact.compact(spark, lake, Seq("p"), targetBytes = 10L * 1024 * 1024)
    assert(n == 2)
    val after = spark.read.parquet(lake).select("k", "v").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(after == before, "rows must not duplicate or vanish")
    val fs = new Path(lake).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new Path(s"$lake/p=01")), "alias husk must be evacuated")
    assert(fs.exists(new Path(s"$lake/p=1")))
  }

  test("alias candidate colliding with a healthy canonical dir pulls it in — no data loss") {
    val lake = freshDir("alias_collide")
    // canonical p=1: single file → NOT a compaction candidate
    Seq((2L, 20L), (3L, 30L)).toDF("k", "v").coalesce(1).write.parquet(s"$lake/p=1")
    // alias p=01: fragmented → candidate; its rows stage under canonical p=1
    Seq((1L, 10L)).toDF("k", "v").repartition(2).write.parquet(s"$lake/p=01")
    val before = spark.read.parquet(lake).select("k", "v").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(before == Map(1L -> 10L, 2L -> 20L, 3L -> 30L))
    val n = LakeCompact.compact(spark, lake, Seq("p"), targetBytes = 10L * 1024 * 1024)
    assert(n == 2, "collision pulls the canonical dir into the rewrite set")
    val after = spark.read.parquet(lake).select("k", "v").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(after == before, "canonical rows must survive the alias compaction")
    val fs = new Path(lake).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new Path(s"$lake/p=01")), "alias husk must be evacuated")
    assert(dataFiles(lake, "1").length == 1)
  }

  test("the fragmentation report names exactly the qualifying partitions") {
    val lake = freshDir("report")
    (1L to 40L).map(i => (i, i, if (i % 2 == 0) "x" else "y"))
      .toDF("k", "v", "p").repartition(4)
      .write.partitionBy("p").parquet(lake)
    val rep = LakeCompact.fragmented(spark, lake, 10L * 1024 * 1024)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rep.keySet == Set("x", "y"))
    assert(rep.values.forall(_ > 1))
    assert(LakeCompact.fragmented(spark, lake, 1L).count() == 0)
  }
}
