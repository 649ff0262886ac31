package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bounded-hop weighted shortest distance (Bellman–Ford relaxation) —
  * the weighted member of the graph family beside [[BfsHops]] (hop
  * counts): cheapest-route questions where edges carry a cost
  * (latency, toll, dissimilarity) and "how far" means summed weight,
  * not hop count.
  *
  * [[distances]] runs `maxHops` synchronized relaxation rounds from a
  * seed SET; after round r every labeled vertex holds EXACTLY the
  * minimum weight over paths from any seed using ≤ r edges — bounded
  * rounds are a complete semantics here, not an approximation cut
  * short (rerun with a larger bound to price longer routes).
  * [[toFixpoint]] keeps relaxing until a round improves nothing and
  * returns true shortest distances, with the loud maxRounds guard of
  * [[KCore.peelToFixpoint]].
  *
  * Each round relaxes only from the FRONTIER — vertices whose distance
  * improved last round — which is sound by induction: if the best
  * ≤r-edge path to v ends with edge (u,v), its prefix improved u at
  * some round < r, so u relaxed (u,v) the following round. The oracle
  * replays full (all-vertex) relaxation instead; hash equality across
  * the two formulations proves the frontier cut.
  *
  * Scale shape: per round, one equi-join of the edge list against the
  * frontier (frontier × avg-degree candidate rows, collapsed by a
  * partial-agg'd min BEFORE the improvement test), one improvement
  * anti-filter join, one partial-agg'd min merge; everything keyed on
  * 8-byte vertex ids, every round pinned lazily by the [[GraphEdges]]
  * round driver. A whale-degree hub fans one round's
  * candidates wide but they collapse map-side in the min.
  *
  * Contracts: edges are undirected (both orientations relaxed);
  * parallel edges collapse to their MINIMUM weight (canonicalization,
  * not a choice — a cheaper parallel route is simply the road taken);
  * self-loops, NULL endpoints and NULL weights drop (an unpriceable
  * edge cannot price a path); negative weights fail the plan loudly —
  * bounded-hop minima remain well-defined under them, but a negative
  * edge under the undirected (symmetrized) reading is a negative cycle
  * by itself, so the honest move is refusal; path sums ride ANSI Long
  * arithmetic and overflow loudly rather than wrapping; seeds are
  * distance 0 even when isolated, NULL seeds drop; vertices beyond the
  * bound are ABSENT.
  */
object ShortestPath {

  /** Symmetrized (__s, __d, __w) with parallel edges collapsed to min
    * weight, pinned lazily like [[GraphEdges.symmetrize]]; the
    * negative-weight guard rides INSIDE the weight column it protects
    * (the optimizer cannot prune it away with the column in use).
    */
  private def wSymmetrize(edges: DataFrame, srcCol: String, dstCol: String,
                          wCol: String): DataFrame = {
    val guarded = when(col(wCol) < 0,
        raise_error(concat(lit("ShortestPath: negative edge weight "),
          col(wCol).cast("string"))))
      .otherwise(col(wCol)).cast("long")
    val base = edges
      .where(col(srcCol).isNotNull && col(dstCol).isNotNull &&
        col(srcCol) =!= col(dstCol) && col(wCol).isNotNull)
      .select(col(srcCol).as("__s"), col(dstCol).as("__d"), guarded.as("__w"))
    base
      .unionAll(base.select(col("__d").as("__s"), col("__s").as("__d"),
        col("__w")))
      .groupBy(col("__s"), col("__d")).agg(min(col("__w")).as("__w"))
      .localCheckpoint(false)
  }

  /** Relaxation round `r` over the state (vertex, dist, __r), where `__r`
    * is the round that last improved the vertex: candidates from the
    * frontier (the rows round r−1 improved), collapsed, kept only where
    * they beat (or first-label) the current distance, and merged in.
    */
  private def relax(e: DataFrame)(dist: DataFrame, r: Int): DataFrame = {
    val cand = e
      .join(dist.where(col("__r") === r - 1)
          .select(col("vertex").as("__v"), col("dist").as("__dv")),
        col("__s") === col("__v"))
      .groupBy(col("__d").as("vertex"))
      .agg(min(col("__dv") + col("__w")).as("dist"))
    val improved = cand
      .join(dist.select(col("vertex").as("__ov"), col("dist").as("__od")),
        col("vertex") === col("__ov"), "left_outer")
      .where(col("__od").isNull || col("dist") < col("__od"))
      .select(col("vertex"), col("dist"), lit(r).as("__r"))
    // an improved row is strictly shorter and carries the newest round,
    // so the min distance and the max round come from the same row
    dist.unionAll(improved)
      .groupBy(col("vertex"))
      .agg(min(col("dist")).as("dist"), max(col("__r")).as("__r"))
  }

  private def seedDist(seeds: DataFrame, seedCol: String): DataFrame =
    seeds.where(col(seedCol).isNotNull)
      .select(col(seedCol).as("vertex")).distinct()
      .select(col("vertex"), lit(0L).as("dist"), lit(0).as("__r"))

  /** (vertex, dist): minimum path weight from any seed using ≤ maxHops
    * edges, for every vertex so reachable.
    */
  def distances(edges: DataFrame, srcCol: String, dstCol: String,
                wCol: String, seeds: DataFrame, seedCol: String,
                maxHops: Int): DataFrame = {
    require(maxHops >= 1 && maxHops <= 50,
      s"maxHops must be in [1, 50], got $maxHops")
    val e = wSymmetrize(edges, srcCol, dstCol, wCol)
    GraphEdges.rounds(seedDist(seeds, seedCol), maxHops)(relax(e))
      .select(col("vertex"), col("dist"))
  }

  /** True shortest distances: relax until a round improves nothing, i.e.
    * until the newest improving round stops moving (one aggregate over
    * the pinned state per round); throws loudly past `maxRounds` (a
    * graph needs at most |V|−1 rounds plus the confirming one — more
    * means the guard is set too low or the graph is pathological).
    */
  def toFixpoint(edges: DataFrame, srcCol: String, dstCol: String,
                 wCol: String, seeds: DataFrame, seedCol: String,
                 maxRounds: Int = 100): DataFrame = {
    val e = wSymmetrize(edges, srcCol, dstCol, wCol)
    GraphEdges.toFixpoint(seedDist(seeds, seedCol), maxRounds,
        "shortest-path relaxation")(relax(e))(_.agg(max("__r")).head())
      .select(col("vertex"), col("dist"))
  }

  /** DuckDB replay of [[distances]] — FULL relaxation per round (every
    * labeled vertex, not just the frontier), unrolled as MATERIALIZED
    * CTEs; matching the frontier-cut Spark plan by hash proves the cut
    * sound on this graph.
    */
  def oracleSql(edgesSql: String, seedsSql: String, maxHops: Int): String = {
    val base =
      s"""we AS MATERIALIZED (
  SELECT s, d, min(w) AS w FROM (
    SELECT src AS s, dst AS d, CAST(w AS BIGINT) AS w FROM ($edgesSql)
    WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst
      AND w IS NOT NULL
    UNION ALL
    SELECT dst AS s, src AS d, CAST(w AS BIGINT) AS w FROM ($edgesSql)
    WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst
      AND w IS NOT NULL)
  GROUP BY s, d),
d0 AS MATERIALIZED (
  SELECT DISTINCT seed AS v, CAST(0 AS BIGINT) AS dist FROM ($seedsSql)
  WHERE seed IS NOT NULL)"""
    val steps = (1 to maxHops).map { i =>
      s"""d$i AS MATERIALIZED (
  SELECT v, min(dist) AS dist FROM (
    SELECT v, dist FROM d${i - 1}
    UNION ALL
    SELECT we.d AS v, d${i - 1}.dist + we.w AS dist
    FROM we JOIN d${i - 1} ON we.s = d${i - 1}.v)
  GROUP BY v)"""
    }
    s"""WITH $base,
${steps.mkString(",\n")}
SELECT v AS vertex, dist FROM d$maxHops ORDER BY vertex"""
  }
}
