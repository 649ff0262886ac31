package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multi-source bounded-hop BFS — exact hop distance from a seed SET to
  * every vertex reachable within `maxHops`: blast-radius questions
  * ("everything within 3 hops of the compromised accounts", "parts
  * co-purchased within 2 steps of the recalled SKU"), the reachability
  * member of the graph family beside [[KCore]] (density), [[Triangles]]
  * (closure) and [[GraphRank]] (influence).
  *
  * Synchronized frontier expansion, one round per hop: the round-r
  * frontier is the hop-(r−1) layer's unlabeled neighbors — every round
  * is ONE equi-join of the edge list against the LAST layer only (not
  * the whole labeled set) plus an anti-join to drop already-labeled
  * vertices; distances are exact by induction (a vertex is labeled r
  * the first round it becomes reachable, and BFS layers ARE shortest
  * hop counts). The bounded-rounds discipline of [[KCore.peel]]: the
  * plan is data-independent (`maxHops` rounds always run), the oracle
  * unrolls the same rounds as MATERIALIZED CTEs.
  *
  * Scale shape: per round, the frontier join shuffles (last-layer ×
  * avg-degree) 8-byte id pairs — frontier-sized, never graph-sized; the
  * labeled set is pinned lazily per round by the [[GraphEdges.rounds]]
  * driver. A whale-degree hub explodes one round's frontier
  * candidates but collapses in the frontier's map-side distinct.
  *
  * Contracts: edges are undirected (symmetrized + deduplicated,
  * self-loops and NULL endpoints drop — the [[KCore]] contract); seeds
  * appear at hops 0 even when isolated (a monitored account with no
  * links is still in the blast radius at distance 0); NULL seeds drop;
  * vertices beyond `maxHops` are ABSENT — the bound is the contract,
  * not an approximation (rerun with a larger bound to see further).
  */
object BfsHops {

  /** (vertex, hops) for every vertex within `maxHops` of any seed. */
  def distances(edges: DataFrame, srcCol: String, dstCol: String,
                seeds: DataFrame, seedCol: String, maxHops: Int): DataFrame = {
    require(maxHops >= 1 && maxHops <= 50,
      s"maxHops must be in [1, 50], got $maxHops")
    val e = GraphEdges.symmetrize(edges, srcCol, dstCol)
    val seeded = seeds
      .where(col(seedCol).isNotNull)
      .select(col(seedCol).as("vertex")).distinct()
      .withColumn("hops", lit(0L))
    GraphEdges.rounds(seeded, maxHops) { (labeled, r) =>
      // the last layer is the labeled set's hop-(r−1) rows
      val frontier = e
        .join(labeled.where(col("hops") === r - 1)
            .select(col("vertex").as("__v")),
          col("__s") === col("__v"), "left_semi")
        .select(col("__d").as("vertex")).distinct()
        .join(labeled.select(col("vertex").as("__l")),
          col("vertex") === col("__l"), "left_anti")
        .withColumn("hops", lit(r.toLong))
      labeled.unionAll(frontier)
    }
  }

  /** DuckDB replay of [[distances]] — rounds unrolled as MATERIALIZED
    * CTEs (each round references the previous several times; plain CTEs
    * would re-expand exponentially — the [[KCore.oracleSql]] lesson).
    */
  def oracleSql(edgesSql: String, seedsSql: String, maxHops: Int): String = {
    val base =
      s"""${GraphEdges.symmetrizeCteSql("e", edgesSql)},
l0 AS MATERIALIZED (
  SELECT DISTINCT seed AS v, CAST(0 AS BIGINT) AS hops FROM ($seedsSql)
  WHERE seed IS NOT NULL)"""
    val steps = (1 to maxHops).map { i =>
      s"""f$i AS MATERIALIZED (
  SELECT DISTINCT e.d AS v FROM e
  JOIN l${i - 1} ON e.s = l${i - 1}.v AND l${i - 1}.hops = ${i - 1}),
l$i AS MATERIALIZED (
  SELECT v, hops FROM l${i - 1}
  UNION ALL
  SELECT v, CAST($i AS BIGINT) AS hops FROM f$i
  WHERE v NOT IN (SELECT v FROM l${i - 1}))"""
    }
    s"""WITH $base,
${steps.mkString(",\n")}
SELECT v AS vertex, hops FROM l$maxHops ORDER BY vertex""".stripMargin
  }
}
