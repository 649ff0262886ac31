package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Label-propagation communities in deterministic integer form — the
  * community-detection member of the graph family ([[MinLabel]] finds
  * CONNECTED components; this finds the denser sub-groups inside them,
  * the modularity-flavored structure a link-graph curation pipeline
  * uses to diversify sampling or spot citation cliques).
  *
  * Classical LPA is notoriously nondeterministic (random visit order,
  * random tie-breaks). This is the SYNCHRONOUS, fully-pinned variant:
  * every node starts as its own label, and each round every node adopts
  * the most frequent label among its neighbors with ties broken by the
  * SMALLEST label — one `min(struct(-count, label))` per node, no RNG,
  * no visit order — run for a declared `iters` rounds (synchronous LPA
  * can oscillate on bipartite structure, so a fixed round count is the
  * honest contract; pick odd/even per your graph or read both). Edges
  * are treated as undirected (symmetrized internally); duplicate edges
  * count double (dedup upstream for set semantics); isolated nodes
  * never appear (no edge ⇒ no row).
  *
  * Scale shape per round: one 8-byte-keyed join of the edge list
  * against current labels, one partial-agg'd (node, label) count, one
  * partial-agg'd min-struct election per node — a whale vertex's
  * neighbor votes collapse map-side twice. Edges checkpointed once,
  * labels pinned per round by the [[GraphEdges.rounds]] driver.
  */
object LabelProp {

  /** (id, label) after `iters` synchronous rounds. */
  def communities(edges: DataFrame, iters: Int = 4): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val e0 = edges
      .select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
    val e = e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
      .localCheckpoint(false)
    val nodes = e.select(col("src").as("id")).distinct().localCheckpoint(false)
    GraphEdges.rounds(nodes.select(col("id"), col("id").as("label")), iters) {
      (labels, _) => e
        .join(labels.select(col("id").as("__s"), col("label")),
          col("src") === col("__s"))
        .groupBy(col("dst").as("id"), col("label"))
        .agg(count(lit(1)).as("__c"))
        .groupBy(col("id"))
        .agg(min(struct((-col("__c")).as("nc"), col("label").as("l")))
          .as("__e"))
        .select(col("id"), col("__e.l").as("label"))
    }
  }

  /** DuckDB replay — the same unrolled synchronous rounds with the same
    * min-struct election.
    */
  def oracleSql(edgesSelect: String, iters: Int = 4): String = {
    val sb = new StringBuilder
    sb.append(s"WITH e0 AS (SELECT src, dst FROM ($edgesSelect) " +
      "WHERE src IS NOT NULL AND dst IS NOT NULL),\n")
    sb.append("e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),\n")
    sb.append("n AS (SELECT DISTINCT src AS id FROM e),\n")
    sb.append("l0 AS (SELECT id, id AS label FROM n)")
    for (t <- 1 to iters) {
      sb.append(s""",
l$t AS (
  SELECT id, (min({'nc': -c, 'l': label})).l AS label FROM (
    SELECT e.dst AS id, p.label, CAST(count(*) AS BIGINT) AS c
    FROM e JOIN l${t - 1} p ON p.id = e.src GROUP BY 1, 2)
  GROUP BY id)""")
    }
    sb.append(s"\nSELECT id, label FROM l$iters ORDER BY id")
    sb.toString
  }
}
