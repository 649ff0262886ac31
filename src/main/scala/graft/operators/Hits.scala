package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** HITS hubs & authorities in EXACT integer arithmetic — the
  * bipartite-flavored centrality beside [[GraphRank]]'s PageRank: a good
  * HUB points at good authorities, a good AUTHORITY is pointed at by
  * good hubs (Kleinberg 1999). The corpus-curation reading: in a
  * page→page or doc→cited-source graph, authorities are the
  * canonical sources worth up-weighting and hubs are the link
  * collectors/directories — a different signal from PageRank's single
  * stationary score, and the one a citation-quality weighting wants.
  *
  * Why integer: float HITS normalizes by an L2 norm no two engines
  * replay. Here each half-round is (1) an exact integer mutual
  * reinforcement sum and (2) MAX-normalization as one truncating
  * division — a'(v) = (Σ_{u→v} h(u))·10⁶ div max — all in
  * DECIMAL(38,0)/HUGEINT (a 10⁸-in-degree hub's raw sum times 10⁶
  * outgrows a Long; decimal keeps it exact), so the result is
  * bit-identical on any engine and partitioning. The round maximum is
  * provably positive whenever the graph has an edge (the max-score
  * node's neighbors carry ≥ one full-scale term), so the division is
  * total. Scores live in [0, 10⁶] with the per-side max exactly 10⁶.
  *
  * Scale shape: per round TWO degree-sum shuffles (dst-keyed then
  * src-keyed, partial-agg'd — a whale vertex's incoming mass collapses
  * map-side) and two 1-row max broadcasts; the edge list is
  * checkpointed once and each round joins only the current scores;
  * lineage truncates per half-round (the [[GraphEdges.rounds]] driver).
  * Normalized scores live in [0, 10⁶] so they ship as 8-byte LONGS and
  * accumulate through [[graft.ExactSum.sumLong]]'s codegen'd limb sums;
  * only the raw reinforcement sums (Scale × whale in-degree) carry
  * decimal magnitude, and each one is computed ONCE per half-round (a
  * lazy checkpoint feeds both the max build and the scaling pass).
  *
  * Semantics both engines pin: synchronous update order (a from
  * h_{t−1}, then h from a_t); nodes with no in-links have authority 0,
  * no out-links hub 0; duplicate edges count double (dedup upstream for
  * set semantics).
  */
object Hits {

  val Scale = 1000000L

  /** (id, hub_q6, auth_q6) for every vertex appearing as src or dst. */
  def hubsAuthorities(edges: DataFrame, iters: Int = 4): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val dec = "decimal(38,0)"
    val e = edges
      .select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
      .localCheckpoint(false)
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct().localCheckpoint(false)
    def normalize(rawIn: DataFrame): DataFrame = {
      // LAZY checkpoint: __raw feeds BOTH the broadcast max build and
      // the scaling pass — uncached it would evaluate the whole
      // reinforcement sum twice per half-round (the broadcast subquery
      // runs the child plan independently); the checkpoint's blocks
      // materialize in the broadcast job and the main pass re-reads them
      val raw = rawIn.localCheckpoint(false)
      val mx = raw.agg(max(col("__raw")).as("__mx"))
      // scores are exact in [0, Scale] after the max-normalization (and
      // start AT Scale), so they travel as 8-byte LONGS; only the raw
      // reinforcement sums need decimal magnitude (Scale × whale
      // in-degree), and those accumulate via the codegen'd limb sums
      raw.crossJoin(broadcast(mx))
        .select(col("id"),
          call_function("div", col("__raw") * lit(Scale).cast(dec), col("__mx"))
            .cast("long").as("__s"))
    }
    def pushTo(scores: DataFrame, from: String, to: String): DataFrame =
      nodes.join(
          e.join(scores, col("id") === col(from))
            .groupBy(col(to).as("__t"))
            .agg(graft.ExactSum.sumLong(col("__s")).as("__acc")),
          col("id") === col("__t"), "left")
        .select(col("id"),
          coalesce(col("__acc"), lit(0).cast(dec)).as("__raw"))
    // half-round r: odd pushes hub scores to authorities, even pushes
    // authority scores back to hubs; the driver pins every half-round but
    // the last, whose hubs feed only the final join
    def half(scores: DataFrame, r: Int): DataFrame =
      if (r % 2 == 1) normalize(pushTo(scores, from = "src", to = "dst"))
      else normalize(pushTo(scores, from = "dst", to = "src"))
    val auths = GraphEdges.rounds(nodes.select(col("id"), lit(Scale).as("__s")),
      2 * iters - 1)(half)
    val hubs = half(auths, 2 * iters)
    nodes
      .join(hubs.select(col("id").as("__hi"), col("__s").as("__h")),
        col("id") === col("__hi"))
      .join(auths.select(col("id").as("__ai"), col("__s").as("__a")),
        col("id") === col("__ai"))
      .select(col("id"), col("__h").cast("long").as("hub_q6"),
        col("__a").cast("long").as("auth_q6"))
  }

  /** DuckDB replay: the same synchronous rounds as an unrolled CTE
    * chain, HUGEINT magnitudes, `//` ≡ `div` on non-negatives.
    */
  def oracleSql(edgesSelect: String, iters: Int = 4): String = {
    val sb = new StringBuilder
    sb.append(s"WITH e AS (SELECT src, dst FROM ($edgesSelect) " +
      "WHERE src IS NOT NULL AND dst IS NOT NULL),\n")
    sb.append("n AS (SELECT DISTINCT src AS id FROM e UNION SELECT DISTINCT dst FROM e),\n")
    sb.append(s"h0 AS (SELECT id, CAST($Scale AS HUGEINT) AS s FROM n)")
    for (t <- 1 to iters) {
      sb.append(s""",
ar$t AS (SELECT n.id, COALESCE(m.acc, 0) AS raw FROM n LEFT JOIN (
    SELECT e.dst AS id, CAST(sum(h.s) AS HUGEINT) AS acc
    FROM e JOIN h${t - 1} h ON h.id = e.src GROUP BY e.dst) m ON n.id = m.id),
am$t AS (SELECT max(raw) AS mx FROM ar$t),
a$t AS (SELECT id, (raw * $Scale) // mx AS s FROM ar$t, am$t),
hr$t AS (SELECT n.id, COALESCE(m.acc, 0) AS raw FROM n LEFT JOIN (
    SELECT e.src AS id, CAST(sum(a.s) AS HUGEINT) AS acc
    FROM e JOIN a$t a ON a.id = e.dst GROUP BY e.src) m ON n.id = m.id),
hm$t AS (SELECT max(raw) AS mx FROM hr$t),
h$t AS (SELECT id, (raw * $Scale) // mx AS s FROM hr$t, hm$t)""")
    }
    sb.append(s"""
SELECT n.id, CAST(h.s AS BIGINT) AS hub_q6, CAST(a.s AS BIGINT) AS auth_q6
FROM n JOIN h$iters h ON h.id = n.id JOIN a$iters a ON a.id = n.id
ORDER BY n.id""")
    sb.toString
  }
}
