package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Connected-components clustering semantics over tiny inline graphs — the
  * gate (q_dedup_clusters) covers the sf-scale differential vs DuckDB's
  * recursive-CTE oracle.
  */
class DedupClustersSpec extends SparkSpec {

  test("chain components merge transitively; singletons rep themselves") {
    import spark.implicits._
    // edges: 1-2, 2-3 (one component via transitivity), 5-6; 4 isolated
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("left_id", "right_id")
    val verts = Seq(1L, 2L, 3L, 4L, 5L, 6L).toDF("id")
    val reps = DedupClusters.connectedComponents(pairs, verts, "id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(reps == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 5L, 6L -> 5L))
  }

  test("long chain needs diameter rounds and still converges") {
    import spark.implicits._
    val n = 12L
    val pairs = (1L until n).map(i => (i, i + 1)).toDF("left_id", "right_id")
    val verts = (1L to n).toDF("id")
    val reps = DedupClusters.connectedComponents(pairs, verts, "id")
      .collect().map(_.getLong(1)).distinct
    assert(reps.toSeq == Seq(1L))
  }

  test("convergence bound enforced") {
    import spark.implicits._
    val pairs = (1L until 8L).map(i => (i, i + 1)).toDF("left_id", "right_id")
    val verts = (1L to 8L).toDF("id")
    intercept[IllegalStateException] {
      DedupClusters.connectedComponents(pairs, verts, "id", maxRounds = 2)
    }
  }

  test("minhashClusters groups exact+near dups, keeps distinct docs apart") {
    import spark.implicits._
    val docs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "the quick brown fox jumps over the lazy cat"), // near-dup of 0
      (2L, "completely different words entirely here folks"),
      (3L, "the quick brown fox jumps over the lazy dog")  // exact dup of 0
    ).toDF("doc_id", "text")
    val reps = DedupClusters.minhashClusters(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(reps(0L) == 0L && reps(3L) == 0L)
    assert(reps(2L) == 2L)
    // near-dup 1 joins cluster 0 iff its jaccard clears the 0.5 default —
    // with 7-of-9 shared shingles it does
    assert(reps(1L) == 0L)
    // survivors = rows whose id equals the rep
    val survivors = reps.filter { case (id, rep) => id == rep }.keySet
    assert(survivors == Set(0L, 2L))
  }

  test("clusterKeepBest keeps the highest-scoring member, ties to lowest id") {
    import spark.implicits._
    // docs 0/1/2 identical (guaranteed one cluster whatever the banding);
    // doc 3 a singleton. Scores pick doc 1; 0 vs 2 tie is never reached.
    val docs = Seq(
      (0L, "alpha beta gamma delta epsilon zeta", 1L),
      (1L, "alpha beta gamma delta epsilon zeta", 5L),
      (2L, "alpha beta gamma delta epsilon zeta", 1L),
      (3L, "unrelated standalone document text here", 2L)
    ).toDF("doc_id", "text", "score")
    val out = DedupClusters.clusterKeepBest(docs, "text", "doc_id", col("score"))
      .select("doc_id").as[Long].collect().toSet
    assert(out == Set(1L, 3L))
  }

  test("clusterKeepBest tie-break falls to the lowest id") {
    import spark.implicits._
    val docs = Seq(
      (7L, "alpha beta gamma delta epsilon zeta", 3L),
      (4L, "alpha beta gamma delta epsilon zeta", 3L)
    ).toDF("doc_id", "text", "score")
    val out = DedupClusters.clusterKeepBest(docs, "text", "doc_id", col("score"))
      .select("doc_id").as[Long].collect().toSeq
    assert(out == Seq(4L))
  }

  // --------------------------- large-star/small-star (adversarial scale) --

  test("alt components match min-propagation on a random graph") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val pairs = (1 to 120).map(_ => (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .filter { case (a, b) => a != b }
      .toDF("left_id", "right_id")
    val verts = (0L until 60L).toDF("id")
    val a = DedupClusters.connectedComponents(pairs, verts, "id", maxRounds = 60)
      .orderBy("id").collect().toSeq
    val b = DedupClusters.connectedComponentsAlt(pairs, verts, "id")
      .orderBy("id").collect().toSeq
    assert(a === b)
  }

  test("alt components collapse a 200-hop chain in O(log) rounds") {
    import spark.implicits._
    // diameter 200: min-propagation would need 200 rounds; the star
    // alternation must converge well inside 20
    val pairs = (1L until 200L).map(i => (i, i + 1)).toDF("left_id", "right_id")
    val verts = (1L to 200L).toDF("id")
    val reps = DedupClusters.connectedComponentsAlt(pairs, verts, "id", maxRounds = 20)
      .collect().map(_.getLong(1)).distinct
    assert(reps.toSeq === Seq(1L))
  }

  test("alt components: singletons and empty edge set") {
    import spark.implicits._
    val verts = (1L to 5L).toDF("id")
    val empty = Seq.empty[(Long, Long)].toDF("left_id", "right_id")
    val reps = DedupClusters.connectedComponentsAlt(empty, verts, "id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(reps === (1L to 5L).map(i => i -> i).toMap)
  }
}
