package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.operators.GraphEdges

/** Duplicate-cluster formation: near-dup PAIRS (from [[Dedup.dedupMinhashPairs]]
  * or [[Similarity.cosineDupPairs]]) are only half the dedup story — a corpus
  * clean needs one canonical survivor per connected GROUP of duplicates
  * (A~B, B~C ⇒ {A,B,C} is one cluster even though A~C was never emitted).
  *
  * Algorithm: iterative min-label propagation. Every vertex starts labeled
  * with its own id; each round, a vertex takes the min of its label and its
  * neighbors' labels. Labels are monotonically non-increasing, so the global
  * `sum(label)` strictly decreases until the fixpoint — equality between
  * rounds IS convergence, checked with one scalar aggregate (no row-level
  * diff join).
  *
  * Scale shape (100 TB): the iteration runs ONLY over vertices that appear
  * in at least one duplicate pair — a vanishing fraction of the corpus (the
  * duplicate subgraph), so each round is one shuffle over frames sized by
  * the duplicates, not the corpus; singletons never enter the loop and join
  * back at the end with one left join (they rep themselves). Each round is
  * an equi-join of edges with labels on the 8-byte vertex id plus a
  * min-aggregate, both partial-agg/codegen friendly; nothing is ever
  * all-pairs and no adjacency list is materialized per-vertex. Rounds
  * needed = graph diameter, which for duplicate clusters is small (near-dup
  * groups are dense — typically 2-4 hops); the [[graft.operators.GraphEdges]]
  * round driver pins every round, so plan depth stays O(1) regardless of
  * rounds. For adversarial long-chain graphs the O(log n) alternating
  * large-star/small-star scheme, [[connectedComponentsAlt]], is the
  * upgrade path; the gated [[minhashClusters]] runs the plain
  * propagation.
  *
  * Reference scope note: the fabrix reference has no graph/dedup operators —
  * this is the LLM-pipeline extension surface built on [[Dedup]].
  */
object DedupClusters {

  /** Connected components over undirected `pairs` (left_id, right_id).
    * Returns (`idCol`, cluster_rep) for EVERY vertex in `vertices` —
    * singletons map to themselves, so the output doubles as a total
    * dedup-assignment table: keep rows where id == cluster_rep.
    */
  def connectedComponents(
      pairs: DataFrame, vertices: DataFrame, idCol: String,
      maxRounds: Int = 20): DataFrame = {
    // eager localCheckpoint, not persist: pair generation (minhash / cosine)
    // runs exactly once, every round re-reads block-manager blocks, and the
    // ContextCleaner frees them when the plan is GC'd — no unpersist
    // bookkeeping, no leak on the non-converged failure path.
    val sym = pairs
      .select(col("left_id").as("src"), col("right_id").as("dst"))
      .union(pairs.select(col("right_id").as("src"), col("left_id").as("dst")))
      .localCheckpoint(true)
    // iterate ONLY over edge-touched vertices (both endpoints appear in sym
    // by symmetry); the corpus-sized singleton mass joins back at the end
    val init = sym.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("label"))
    // convergence: labels are monotonically non-increasing, so the global
    // label sum strictly decreases until fixpoint. Decimal(38,0)
    // accumulation — a Long sum could wrap at extreme id magnitudes and
    // alias two different label states; a null sum means zero
    // edge-touched vertices, which converges on the first round
    val labels = GraphEdges.toFixpoint(init, maxRounds, "connectedComponents") {
      (lab, _) => sym.join(lab, sym("src") === lab("id"))
        .select(col("dst").as("id"), col("label"))
        .union(lab)
        .groupBy("id").agg(min("label").as("label"))
    }(_.agg(graft.ExactSum.sumLong(col("label"))).head.get(0))
    val v = vertices.select(col(idCol).as("__v_id"))
    v.join(labels, v("__v_id") === labels("id"), "left")
      .select(col("__v_id").as(idCol),
        coalesce(col("label"), col("__v_id")).as("cluster_rep"))
  }

  /** Connected components via alternating large-star / small-star (Kiveris
    * et al., "Connected Components in MapReduce and Beyond", SoCC'14) — the
    * O(log n)-round scale path for ADVERSARIAL graphs. [[connectedComponents]]'
    * min-label propagation needs diameter-many rounds, which is right for
    * near-dup clusters (dense, 2-4 hops) but degenerates on long chains (a
    * 10⁶-hop path graph = 10⁶ shuffles). The star operations contract paths
    * exponentially instead:
    *
    *  - large-star: every vertex points its LARGER neighbors at the minimum
    *    of its neighborhood (∪ itself);
    *  - small-star: on edges oriented high→low, every vertex points its
    *    smaller neighbors (and itself) at the neighborhood minimum.
    *
    * Each step is one groupBy-min + one equi-join on the 8-byte vertex id —
    * partial-agg/codegen friendly, nothing all-pairs — and the alternation
    * provably converges to per-component stars rooted at the component
    * minimum. Same output contract as [[connectedComponents]]: (`idCol`,
    * cluster_rep) for every vertex in `vertices`.
    */
  def connectedComponentsAlt(
      pairs: DataFrame, vertices: DataFrame, idCol: String,
      maxRounds: Int = 50): DataFrame = {
    import org.apache.spark.sql.functions.{greatest, least}
    val pairEdges = pairs
      .select(col("left_id").as("src"), col("right_id").as("dst"))
      .where(col("src") =!= col("dst"))
      .distinct()

    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      val mins = sym.groupBy("src")
        .agg(min("dst").as("__mn"))
        .select(col("src"), least(col("__mn"), col("src")).as("m"))
      sym.join(mins, "src")
        .where(col("dst") > col("src") && col("dst") =!= col("m"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .distinct()
    }

    def smallStar(e: DataFrame): DataFrame = {
      val oriented = e
        .select(greatest(col("src"), col("dst")).as("src"), least(col("src"), col("dst")).as("dst"))
      // dst < src everywhere, so the neighborhood min IS min(dst)
      val mins = oriented.groupBy("src").agg(min("dst").as("m"))
      oriented.join(mins, "src")
        .select(col("dst").as("v"), col("m"))
        .union(mins.select(col("src").as("v"), col("m")))
        .where(col("v") =!= col("m"))
        .select(col("v").as("src"), col("m").as("dst"))
        .distinct()
    }

    // exact fixpoint test on the (small, duplicate-subgraph-sized) edge
    // set: same size and nothing new; both frames are pinned, so each
    // side evaluates once and each size is counted once
    val edges = GraphEdges.toFixpoint(pairEdges, maxRounds, "connectedComponentsAlt")(
        (e, _) => smallStar(largeStar(e)))(
      e => (e, e.count()),
      (prev: (DataFrame, Long), next: (DataFrame, Long)) =>
        prev._2 == next._2 && next._1.exceptAll(prev._1).isEmpty)
    // at fixpoint every edge is (member, component-min); roots rep themselves
    val labels = edges.select(col("src").as("id"), col("dst").as("label"))
    val v = vertices.select(col(idCol).as("__v_id"))
    v.join(labels, v("__v_id") === labels("id"), "left")
      .select(col("__v_id").as(idCol),
        coalesce(col("label"), col("__v_id")).as("cluster_rep"))
  }

  /** End-to-end near-dup clustering of a corpus: banded-MinHash pairs
    * ([[Dedup.dedupMinhashPairs]]) → connected components → one
    * (id, cluster_rep) row per document.
    */
  def minhashClusters(
      df: DataFrame, textCol: String, idCol: String,
      shingleN: Int = 3,
      bands: Int = Dedup.DefaultBands,
      rowsPerBand: Int = Dedup.DefaultRowsPerBand,
      minJaccard: Double = 0.5): DataFrame = {
    val pairs = Dedup.dedupMinhashPairs(df, textCol, idCol, shingleN, bands, rowsPerBand, minJaccard)
    connectedComponents(pairs, df.select(idCol), idCol)
  }

  /** One survivor per near-dup cluster — the step that turns cluster
    * assignments into a cleaned corpus. Members of a NEAR-dup cluster have
    * different texts (unlike exact-dup groups), so a text-derived quality
    * `score` is meaningful here; highest score survives, ties fall to
    * lowest id.
    *
    * Scale shape: the best-per-cluster reduction runs on slim
    * (id, cluster_rep, score) rows — one partial-agg'd groupBy shuffle of
    * 24 bytes/row, never the documents themselves — then one semi-join
    * brings back the full survivor rows. (A window over the joined corpus
    * would shuffle every full-width row instead.)
    */
  def clusterKeepBest(
      df: DataFrame, textCol: String, idCol: String, score: Column,
      shingleN: Int = 3,
      bands: Int = Dedup.DefaultBands,
      rowsPerBand: Int = Dedup.DefaultRowsPerBand,
      minJaccard: Double = 0.5): DataFrame = {
    val clusters = minhashClusters(df, textCol, idCol, shingleN, bands, rowsPerBand, minJaccard)
    val scored = df.select(col(idCol), score.as("__score")).join(clusters, Seq(idCol))
    // max of (score, -id) ⇒ highest score, then lowest id — one struct-max
    // aggregate instead of a row_number window (partial-agg friendly)
    val best = scored.groupBy(col("cluster_rep"))
      .agg(max(struct(col("__score"), (-col(idCol)).as("__negid"))).as("b"))
      .select((-col("b.__negid")).as(idCol))
    df.join(best, Seq(idCol), "left_semi")
  }

  /** DuckDB oracle for [[clusterKeepBest]]: the shared reachability walk,
    * then keep the best-scoring member per component.
    */
  def clusterKeepBestOracle(
      table: String, idCol: String, textCol: String,
      scoreSql: String, keepCols: Seq[String],
      shingleN: Int = 3,
      bands: Int = Dedup.DefaultBands,
      rowsPerBand: Int = Dedup.DefaultRowsPerBand,
      minJaccard: Double = 0.5): String =
    s"""WITH RECURSIVE ${Dedup.minhashPairCtes(table, idCol, textCol, shingleN, bands, rowsPerBand)},
pairs AS (SELECT left_id, right_id FROM verified WHERE jaccard >= $minJaccard),
sym AS (SELECT left_id AS src, right_id AS dst FROM pairs
  UNION ALL SELECT right_id, left_id FROM pairs),
walk(id, r) AS (
  SELECT $idCol, $idCol FROM $table
  UNION
  SELECT w.id, s.dst FROM walk w JOIN sym s ON s.src = w.r),
comp AS (SELECT id, min(r) AS rep FROM walk GROUP BY id)
SELECT ${keepCols.map(c => s"d.$c").mkString(", ")} FROM $table d JOIN comp c ON c.id = d.$idCol
QUALIFY row_number() OVER (PARTITION BY c.rep ORDER BY $scoreSql DESC, d.$idCol ASC) = 1
ORDER BY d.$idCol""".stripMargin

  /** DuckDB oracle: the shared minhash pair CTEs + a recursive reachability
    * walk — min over everything reachable from a vertex is its component
    * representative. (The recursive UNION dedups (id, r) states, so the walk
    * terminates; state count is Σ cluster_size², fine at gate scale — the
    * oracle verifies semantics, the Spark loop carries the scale.)
    */
  def clustersOracle(
      table: String, idCol: String, textCol: String,
      shingleN: Int = 3,
      bands: Int = Dedup.DefaultBands,
      rowsPerBand: Int = Dedup.DefaultRowsPerBand,
      minJaccard: Double = 0.5): String =
    s"""WITH RECURSIVE ${Dedup.minhashPairCtes(table, idCol, textCol, shingleN, bands, rowsPerBand)},
pairs AS (SELECT left_id, right_id FROM verified WHERE jaccard >= $minJaccard),
sym AS (SELECT left_id AS src, right_id AS dst FROM pairs
  UNION ALL SELECT right_id, left_id FROM pairs),
walk(id, r) AS (
  SELECT $idCol, $idCol FROM $table
  UNION
  SELECT w.id, s.dst FROM walk w JOIN sym s ON s.src = w.r)
SELECT id AS $idCol, min(r) AS cluster_rep FROM walk GROUP BY id ORDER BY id""".stripMargin
}
