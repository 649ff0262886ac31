package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** k-core peeling — the graph family's density screen beside
  * [[Triangles]] (local clustering) and [[GraphRank]] (global
  * influence): iteratively remove vertices of degree < k; what survives
  * is the k-core, the standard coherent-community / bot-ring /
  * spam-farm signal (a vertex with many low-engagement neighbors
  * drops out even when its raw degree is high).
  *
  * Two forms. [[peel]] is the BOUNDED-ROUNDS peel: `rounds`
  * synchronized removal sweeps, each removing every currently-under-k
  * vertex at once — the [[GraphRank]] fixed-iteration discipline (a
  * data-independent plan), whose result after R rounds is a SUPERSET of
  * the true k-core that shrinks monotonically. [[peelToFixpoint]] loops
  * sweeps until one removes nothing (edge-count test per round, loud
  * maxRounds guard) and returns the TRUE k-core — the form to ship when
  * the degree ≥ k guarantee matters more than a fixed plan shape. Real
  * graphs converge in a few sweeps; KCoreSpec pins a path graph, the
  * worst-case chain.
  *
  * Scale shape: per round, ONE partial-agg'd degree count and two
  * semi-joins against the surviving-vertex set — all equi-joins on
  * 8-byte ids, no windows; each round's edge set is pinned by the
  * [[GraphEdges]] round driver (lineage would otherwise double per
  * round).
  *
  * Contracts: edges are undirected — input rows are symmetrized and
  * deduplicated; self-loops and NULL endpoints drop; `degree` in the
  * output is the degree WITHIN the surviving subgraph (that is the
  * k-core definition; survivors can show degree < k only when
  * `rounds` stopped short of the fixpoint).
  */
object KCore {

  /** One synchronized removal sweep: drop every vertex currently under
    * degree k, returning the surviving edge set.
    */
  private def sweep(e: DataFrame, k: Int): DataFrame = {
    // `keep` feeds both semi-joins: a LAZY pin computes it once and the
    // second consumer reads the persisted blocks
    val keep = e.groupBy(col("__s")).agg(count(lit(1)).as("__n"))
      .where(col("__n") >= k)
      .select(col("__s").as("__v"))
      .localCheckpoint(false)
    e.join(keep, col("__s") === col("__v"), "left_semi")
      .join(keep, col("__d") === col("__v"), "left_semi")
  }

  private def degrees(e: DataFrame): DataFrame =
    e.groupBy(col("__s").as("vertex")).agg(count(lit(1)).as("degree"))

  /** (vertex, degree) after `rounds` peel sweeps at threshold `k`. */
  def peel(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
           rounds: Int): DataFrame = {
    require(k >= 1, s"k must be at least 1, got $k")
    require(rounds >= 1 && rounds <= 50,
      s"rounds must be in [1, 50], got $rounds")
    degrees(GraphEdges.rounds(GraphEdges.symmetrize(edges, srcCol, dstCol),
      rounds)((e, _) => sweep(e, k)))
  }

  /** The TRUE k-core: sweeps until one removes nothing. Every removed
    * vertex takes ≥ 1 edge with it, so "edge count unchanged" IS the
    * fixpoint test — and each round's count materializes that round's
    * lazy pin, making the fixpoint test a one-job-per-round action
    * (the data-independent-plan discipline of [[peel]] trades away here
    * for the guarantee a caller can ship: survivors all have degree ≥ k).
    * Throws loudly after `maxRounds` non-converged sweeps rather than
    * returning a silent superset — a graph needs one round per peel
    * layer plus the confirming round (a path graph peels ~n/2 layers;
    * real graphs a handful).
    */
  def peelToFixpoint(edges: DataFrame, srcCol: String, dstCol: String,
                     k: Int, maxRounds: Int = 100): DataFrame = {
    require(k >= 1, s"k must be at least 1, got $k")
    degrees(GraphEdges.toFixpoint(GraphEdges.symmetrize(edges, srcCol, dstCol),
      maxRounds, "k-core peel")((e, _) => sweep(e, k))(_.count()))
  }

  /** DuckDB replay of [[peel]] — the rounds unrolled as chained
    * MATERIALIZED CTEs (the BPE-replay discipline: bounded iteration
    * becomes a bounded expression; without MATERIALIZED each round
    * references the previous three times and the expansion is 3^rounds
    * scans of the base table).
    */
  def oracleSql(edgesSql: String, k: Int, rounds: Int): String = {
    val base = GraphEdges.symmetrizeCteSql("e0", edgesSql)
    val steps = (1 to rounds).map { i =>
      s"""v$i AS MATERIALIZED (SELECT s FROM e${i - 1} GROUP BY s HAVING count(*) >= $k),
e$i AS MATERIALIZED (SELECT s, d FROM e${i - 1}
  WHERE s IN (SELECT s FROM v$i) AND d IN (SELECT s FROM v$i))"""
    }
    s"""WITH $base,
${steps.mkString(",\n")}
SELECT s AS vertex, CAST(count(*) AS BIGINT) AS degree
FROM e$rounds GROUP BY s ORDER BY vertex""".stripMargin
  }
}
