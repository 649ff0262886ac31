package graft.operators

import graft.SparkSpec

/** Min-label CC: component naming, multi-component separation, chain
  * propagation, the maxRounds guard.
  */
class MinLabelSpec extends SparkSpec {

  import spark.implicits._

  test("two components each take their minimum id") {
    val edges = Seq((3L, 2L), (2L, 1L), (10L, 11L)).toDF("src", "dst")
    val got = MinLabel.components(edges, "src", "dst")
      .orderBy("vertex").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((1L, 1L), (2L, 1L), (3L, 1L),
      (10L, 10L), (11L, 10L)))
  }

  test("a long chain propagates one hop per round and still converges") {
    val chain = (1L until 20L).map(i => (i, i + 1)).toDF("src", "dst")
    val got = MinLabel.components(chain, "src", "dst", maxRounds = 25)
      .collect().map(_.getLong(1)).distinct
    assert(got.toSeq == Seq(1L))
  }

  test("maxRounds below the diameter fails loudly") {
    val chain = (1L until 12L).map(i => (i, i + 1)).toDF("src", "dst")
    intercept[IllegalStateException] {
      MinLabel.components(chain, "src", "dst", maxRounds = 3)
    }
  }

  test("pointer jumping has no log bound: a shuffled 200-hop chain needs the star path") {
    val ids = new scala.util.Random(11).shuffle((1L to 200L).toVector)
    val chain = ids.zip(ids.tail)
    intercept[IllegalStateException] {
      MinLabel.components(chain.toDF("src", "dst"), "src", "dst", maxRounds = 20)
    }
    val reps = graft.llm.DedupClusters.connectedComponentsAlt(
        chain.toDF("left_id", "right_id"), (1L to 200L).toDF("id"), "id",
        maxRounds = 20)
      .collect().map(_.getLong(1)).distinct
    assert(reps.toSeq == Seq(1L))
  }

  test("duplicate, reversed edges and self-loops never change the answer") {
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 2L), (2L, 2L), (5L, 4L))
      .toDF("src", "dst")
    val got = MinLabel.components(edges, "src", "dst")
      .orderBy("vertex").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((1L, 1L), (2L, 1L), (4L, 4L), (5L, 4L)))
  }
}
