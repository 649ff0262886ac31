package graft

import java.security.MessageDigest
import org.apache.spark.sql.DataFrame

/** The graph family's gates, whose loops all run through the
  * `operators.GraphEdges` round driver: each runs its exact job budget at
  * sf0.001, so a change to the round pinning cannot add jobs unnoticed,
  * and each result is the same under any shuffle partition count and with
  * AQE off.
  */
class GraphGatesSpec extends SparkSpec {

  private lazy val queries = SparkEntry.queries

  private val graphGates = Seq("q_pagerank", "q_ppr", "q_hits", "q_label_prop",
    "q_bfs_hops", "q_kcore", "q_ktruss", "q_connected_components",
    "q_shortest_path", "q_dedup_clusters", "q_cluster_clean", "q_leakage_split")

  /** Order-free content hash of a gate's result: schema plus sorted rows. */
  private def resultHash(df: DataFrame): String = {
    val rows = df.collect().map(_.toSeq.mkString("\u0001")).sorted
    MessageDigest.getInstance("SHA-256")
      .digest((df.schema.toDDL +: rows).mkString("\n").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }

  private def withConf(kv: (String, String))(body: => Unit): Unit = {
    val (k, v) = kv
    val prev = spark.conf.getOption(k)
    spark.conf.set(k, v)
    try body finally prev.fold(spark.conf.unset(k))(spark.conf.set(k, _))
  }

  test("graph gates run their exact job budget at sf0.001") {
    // q_hits is left out: its count varies between runs of the same code
    val budget = Map("q_pagerank" -> 19, "q_ppr" -> 25, "q_label_prop" -> 17,
      "q_bfs_hops" -> 20, "q_kcore" -> 38, "q_ktruss" -> 37,
      "q_connected_components" -> 68, "q_shortest_path" -> 30,
      "q_dedup_clusters" -> 27)
    val ran = budget.keys.map(n => n -> jobsOf(queries(n)(spark, sf).collect())).toMap
    assert(ran == budget)
  }

  test("graph gate results do not depend on shuffle partitions or AQE") {
    def hashes = graphGates.map(n => n -> resultHash(queries(n)(spark, sf))).toMap
    val reference = hashes
    for (conf <- Seq("spark.sql.shuffle.partitions" -> "1",
      "spark.sql.shuffle.partitions" -> "7", "spark.sql.adaptive.enabled" -> "false"))
      withConf(conf) {
        val got = hashes
        assert(got == reference, s"under $conf: moved " +
          graphGates.filter(n => got(n) != reference(n)).mkString(", "))
      }
  }
}
