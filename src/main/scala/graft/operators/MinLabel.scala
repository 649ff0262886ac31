package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components by synchronized min-label propagation — every
  * vertex ends up labeled with the smallest vertex id reachable from it,
  * which IS its component id: the partition step behind duplicate-
  * cluster formation, identity stitching, and subgraph extraction.
  *
  * This is the DRIVER-GATEABLE member of the CC family: the large-star/
  * small-star algorithm ([[graft.llm.DedupClusters.connectedComponentsAlt]])
  * converges in O(log n) rounds and is the 100 TB path, but its intermediate states
  * are algorithm-specific; min-label's synchronized rounds are a pure
  * recurrence another engine can replay — each round every vertex takes
  * `min(own label, neighbors' labels)` — so the whole run faces a
  * cross-engine oracle ([[oracleSql]], unrolled MATERIALIZED CTEs).
  * The loop adds a pointer-jumping shortcut (min with the label of
  * one's label) on top of the per-hop step. It shortens the rounds on
  * most graphs but gives no log bound: a shuffled 200-hop chain still
  * fails at `maxRounds` 20, so `connectedComponentsAlt` is the
  * long-chain path. The FIXPOINT — the
  * only thing gated, and what the per-hop oracle converges to — is the
  * schedule-independent per-component minimum, so the replay is
  * unaffected.
  *
  * Runs to FIXPOINT through the [[GraphEdges.toFixpoint]] driver: labels
  * are non-increasing per vertex, so "total label sum unchanged" is the
  * fixpoint test (one cheap aggregate per round against the pinned
  * frame, which also materializes it); throws loudly past `maxRounds`
  * instead of returning a half-propagated labeling.
  *
  * Scale shape: per round ONE equi-join of the edge list against the
  * labels and one partial-agg'd min per destination — 8-byte id
  * shuffles, no windows. Contracts: undirected ([[GraphEdges]] canonicalization);
  * only vertices with ≥ 1 surviving edge appear (an isolated id has no
  * component membership to report); vertex ids must be orderable — the
  * MINIMUM id is the component name.
  */
object MinLabel {

  /** (vertex, component) at the propagation fixpoint. */
  def components(edges: DataFrame, srcCol: String, dstCol: String,
                 maxRounds: Int = 50): DataFrame = {
    val e = GraphEdges.symmetrize(edges, srcCol, dstCol)
    val init = e.select(col("__s").as("vertex")).distinct()
      .withColumn("label", col("vertex"))
    GraphEdges.toFixpoint(init, maxRounds, "min-label propagation") { (lab, _) =>
      val nb = e
        .join(lab.select(col("vertex").as("__s"), col("label").as("__nl")), "__s")
        .groupBy(col("__d").as("vertex"))
        .agg(min(col("__nl")).as("__m"))
      val hop = lab.join(nb, Seq("vertex"), "left")
        .select(col("vertex"),
          least(col("label"), coalesce(col("__m"), col("label"))).as("label"))
        // EAGER: the shortcut below reads `hop` through two different
        // join keys (vertex and label) — two exchanges, so an unpinned
        // frame would evaluate the hop join twice (and a lazy pin would
        // let the two exchange stages race-compute it)
        .localCheckpoint(true)
      // pointer-jumping shortcut: also take the label OF one's label
      // (labels are always vertex ids — the min over a subset of the
      // component's ids — so the inner self-join is total). A label can
      // then travel further than one hop per round, which cuts the rounds
      // on most graphs, but with no log bound (see the object doc). Every
      // step is still monotone non-increasing toward the SAME unique
      // fixpoint (per-component min), so the gated result — and the
      // per-hop oracle replay, which is stable past its own fixpoint — is
      // unchanged.
      hop.join(
          hop.select(col("vertex").as("__lv"), col("label").as("__ll")),
          col("label") === col("__lv"))
        .select(col("vertex"), least(col("label"), col("__ll")).as("label"))
    }(labelSum).select(col("vertex"), col("label").as("component"))
  }

  /** The fixpoint measure: labels are non-increasing per vertex, so the
    * exact label sum is unchanged only at the fixpoint. An empty graph
    * sums to zero.
    */
  private def labelSum(df: DataFrame): java.math.BigDecimal =
    df.agg(coalesce(graft.ExactSum.sumLong(col("label")),
      lit(0).cast("decimal(38,0)"))).head().getDecimal(0)

  /** DuckDB replay of [[components]] — rounds unrolled as MATERIALIZED
    * CTEs (the [[KCore.oracleSql]] discipline); `rounds` must be ≥ the
    * Spark side's rounds-to-fixpoint (stable past it).
    */
  def oracleSql(edgesSql: String, rounds: Int): String = {
    val base =
      s"""${GraphEdges.symmetrizeCteSql("e", edgesSql)},
l0 AS MATERIALIZED (SELECT DISTINCT s AS v, s AS lab FROM e)"""
    val steps = (1 to rounds).map { i =>
      s"""l$i AS MATERIALIZED (
  SELECT l.v, least(l.lab, coalesce(m.ml, l.lab)) AS lab
  FROM l${i - 1} l LEFT JOIN (
    SELECT e.d AS v, min(l2.lab) AS ml
    FROM e JOIN l${i - 1} l2 ON e.s = l2.v GROUP BY e.d) m
  ON l.v = m.v)"""
    }
    s"""WITH $base,
${steps.mkString(",\n")}
SELECT v AS vertex, CAST(lab AS BIGINT) AS component
FROM l$rounds ORDER BY v""".stripMargin
  }
}
