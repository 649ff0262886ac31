package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** k-truss peeling — the EDGE-density sibling of [[KCore]]: iteratively
  * remove every edge in fewer than k−2 triangles; what survives is the
  * k-truss, a strictly stronger cohesion signal than the k-core (each
  * truss edge has k−2 common-neighbor witnesses, so bridges and
  * star-centers that survive core peeling fall out of the truss —
  * the community-detection / spam-ring screen you run when degree
  * alone is gameable).
  *
  * Per round: one triangle enumeration over the surviving canonical
  * edge set (the [[Triangles]] degree-oriented wedge plan — Σ deg²
  * bounded, never all pairs), each triangle votes on its three edges
  * (explode ×3, partial-agg'd count = edge support), edges below
  * k−2 drop, and the [[GraphEdges]] round driver pins the round's edge
  * set. Runs to the FIXPOINT with the
  * edge-count convergence test and a loud `maxRounds` raise —
  * survivors provably all carry support ≥ k−2 within the truss.
  *
  * Contracts: edges canonicalize first (undirected, deduplicated,
  * self-loop-free); k ≥ 3 (k = 2 is "every edge", not a truss); an
  * edge in NO triangle has support 0 and drops in round one. Output:
  * (src, dst, support) over the surviving canonical edges with
  * support measured IN the final subgraph.
  */
object KTruss {

  private def support(e: DataFrame): DataFrame = {
    val tri = Triangles.triangles(
      e.select(col("u").as("src"), col("v").as("dst")), "src", "dst")
    def pair(x: String, y: String) = tri.select(
      least(col(x), col(y)).as("u"), greatest(col(x), col(y)).as("v"))
    pair("a", "b").unionAll(pair("a", "c")).unionAll(pair("b", "c"))
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("support"))
  }

  /** The true k-truss: (src, dst, support). Each round keeps the edges
    * whose support in the current subgraph reaches k−2; at the fixpoint
    * nothing dropped, so `support` was measured in the final subgraph.
    */
  def trussToFixpoint(edges: DataFrame, srcCol: String, dstCol: String,
                      k: Int, maxRounds: Int = 50): DataFrame = {
    require(k >= 3, s"k must be at least 3, got $k")
    GraphEdges.toFixpoint(Triangles.canonicalEdges(edges, srcCol, dstCol),
        maxRounds, "k-truss peel") { (kept, _) =>
      val e = kept.select(col("u"), col("v"))
      e.join(support(e), Seq("u", "v"))
        .where(col("support") >= (k - 2).toLong)
    }(_.count())
      .select(col("u").as("src"), col("v").as("dst"), col("support"))
  }

  /** DuckDB replay: `rounds` unrolled peel rounds (extra rounds past
    * the fixpoint are no-ops, so choose it at the Spark `maxRounds`);
    * triangles via the canonical a<b<c three-way join.
    */
  def oracleSql(edgesSql: String, k: Int, rounds: Int): String = {
    val base = s"""e0 AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
  FROM ($edgesSql) WHERE src IS NOT NULL AND dst IS NOT NULL
    AND src <> dst)"""
    def triSql(i: Int) =
      s"""SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM e$i e1 JOIN e$i e2 ON e2.u = e1.v
  JOIN e$i e3 ON e3.u = e1.u AND e3.v = e2.v"""
    def supSql(t: String) =
      s"""SELECT u, v, CAST(count(*) AS BIGINT) AS sup FROM (
    SELECT a AS u, b AS v FROM $t
    UNION ALL SELECT a, c FROM $t
    UNION ALL SELECT b, c FROM $t) GROUP BY u, v"""
    val steps = (1 to rounds).map { i =>
      s"""t${i - 1} AS MATERIALIZED (${triSql(i - 1)}),
s${i - 1} AS MATERIALIZED (${supSql(s"t${i - 1}")}),
e$i AS MATERIALIZED (SELECT e.u, e.v FROM e${i - 1} e
  JOIN s${i - 1} s ON s.u = e.u AND s.v = e.v WHERE s.sup >= ${k - 2})"""
    }
    s"""WITH $base,
${steps.mkString(",\n")},
tf AS MATERIALIZED (${triSql(rounds)}),
sf AS (${supSql("tf")})
SELECT e.u AS src, e.v AS dst, sf.sup AS support
FROM e$rounds e JOIN sf ON sf.u = e.u AND sf.v = e.v
ORDER BY src, dst"""
  }
}
