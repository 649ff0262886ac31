package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** PageRank in EXACT integer arithmetic — link-graph centrality for corpus
  * curation (rank domains/documents by the link structure before sampling
  * or quality-weighting them, the CommonCrawl-preparation step every
  * web-scale training pipeline runs).
  *
  * Why integer: the textbook float power iteration is not cross-engine
  * replayable (per-partition sum order changes the low bits). Here every
  * step is closed over the integers — scores start at `startScore`, each
  * vertex emits `score div outdeg` along its out-edges, and the damped
  * update is `base + (dampNum · Σ incoming) div dampDen` with
  * `base = (startScore · (dampDen − dampNum)) div dampDen`. Integer sums
  * are order-independent, so the result is bit-identical on any engine and
  * any partitioning — the [[oracleSql]] replay is an unrolled k-layer CTE
  * chain. Magnitudes stay far below 2⁶³: scores never exceed
  * `startScore · n/outdeg` mass bounds and the damped sum is ≤
  * `dampNum · n · startScore`.
  *
  * Semantics notes (both sides of the oracle agree): dangling vertices
  * (outdeg 0) leak their mass — they keep receiving but never emit, the
  * plain power-iteration behavior without the dangling-redistribution
  * term; `div` truncation loses ≤1 unit per edge per round, which is the
  * price of exactness (pick `startScore` large enough that the truncation
  * is relative noise — 10⁶ gives 6 significant digits).
  *
  * Scale shape (100 TB link graph): each round is TWO shuffles — the
  * contribution join keyed on `src` and the incoming-sum aggregate keyed
  * on `dst` (partial-agg combines map-side, so the shuffle carries one
  * partial per (dst, partition), not one row per edge). The loop-invariant
  * outdeg join is paid ONCE up front: the degree-annotated edge list is
  * `localCheckpoint`ed and re-read from block storage every round, so each
  * round joins only the current scores; the [[GraphEdges.rounds]] driver
  * truncates lineage per round so plan depth stays O(1) in `iters`.
  * Nothing is ever all-pairs and no per-vertex adjacency list is
  * materialized. Whale vertices (a hub with 10⁸ in-links) are
  * absorbed by the map-side partial sums — the reduce side sees one row
  * per partition, the [[SkewJoin]] salting path is NOT needed for the
  * aggregate (only a skewed contribution JOIN on a whale `src` would want
  * it, and src fan-out is bounded by outdeg by construction).
  *
  * Reference scope note: fabrix has no graph operators — this extends the
  * graph family ([[graft.llm.DedupClusters]] connected components) on the
  * same iterate-with-checkpoint driver-loop shape.
  */
object GraphRank {

  /** Checkpoint `df` pinned to a hash(`key`) layout, sorted within
    * partitions, with the partitioning VISIBLE to later planning: under
    * AQE, `localCheckpoint` captures the AdaptiveSparkPlan's
    * outputPartitioning, which is Unknown before the final plan exists —
    * so every per-round join would re-exchange the checkpointed frame
    * (measured: plan-identical to the unpinned form). Scoping AQE off
    * around this ONE setup planning makes the LogicalRDD carry
    * hash(key, n) + the sort order, so EnsureRequirements skips the
    * exchange and sort on this side of every subsequent join. The conf
    * flip is driver-side and momentary (the same single-threaded-harness
    * posture as StreamStage's scoped override); the frame itself is
    * loop-invariant setup, so losing AQE for its one materialization is
    * irrelevant.
    */
  private[graft] def pinnedLayout(onLayout: DataFrame => DataFrame = identity)
                                     (df: DataFrame, key: String, n: Int): DataFrame = {
    val spark = df.sparkSession
    val k = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(k)
    spark.conf.set(k, "false")
    try {
      val laid = onLayout(df.repartition(n, col(key)))
      laid.sortWithinPartitions(key).localCheckpoint(false)
    } finally spark.conf.set(k, prev)
  }

  /** Integer PageRank over directed `edges` (`src`, `dst` long columns).
    * Returns (`id`, `score`) for every vertex appearing as src or dst.
    * Self-loops and duplicate edges count like any other edge (dedup
    * upstream if the graph is a set).
    */
  def pageRankInt(edges: DataFrame, iters: Int = 5, startScore: Long = 1000000L,
                  dampNum: Long = 85, dampDen: Long = 100): DataFrame = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    require(dampDen > 0 && dampNum >= 0 && dampNum <= dampDen,
      s"damping $dampNum/$dampDen must be a fraction in [0, 1]")
    require(startScore > 0, s"startScore must be positive, got $startScore")
    // setup checkpoints LAZY: they still truncate lineage and pin blocks,
    // but materialization rides the next action instead of a blocking
    // per-call job
    val e = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst")).localCheckpoint(false)
    val n = edges.sparkSession.sessionState.conf.numShufflePartitions
    // outdeg is loop-invariant: annotate the edge list ONCE and checkpoint
    // the result PINNED to a hash(src) layout, sorted within partitions
    // (explicit partition count so nothing coalesces it out of alignment)
    // — localCheckpoint preserves the declared partitioning and ordering,
    // so the per-round contribution join never re-shuffles or re-sorts
    // the EDGE list: only vertex-sized frames move each round, leaving
    // the incoming-sum aggregate as the round's one edge-volume shuffle.
    // The degree comes from a same-partitioning WINDOW over the pinned
    // layout, not a join — the whole pinned build is exchange→sort→window,
    // cheap to materialize even in pinnedLayout's non-adaptive scope
    val eDeg = pinnedLayout(_
      .withColumn("__outdeg", count(lit(1)).over(Window.partitionBy("src")))
    )(e, "src", n)
    // nodes pinned hash(id) with the SAME count: the damped-update left
    // join streams it in place, and the aggregate side arrives hash(dst)
    // at the same n, so neither side of that join re-exchanges; distinct
    // rides the pinned exchange (same-key hash aggregate, no re-shuffle)
    val nodes = pinnedLayout(_.distinct())(
      e.select(col("src").as("id")).union(e.select(col("dst").as("id"))),
      "id", n)
    val baseAdd = (startScore * (dampDen - dampNum)) / dampDen
    GraphEdges.rounds(nodes.select(col("id"), lit(startScore).as("score")),
      iters)((scores, _) => step(eDeg, nodes, scores, baseAdd, dampNum, dampDen))
  }

  /** One damped update round (un-checkpointed — the round driver pins
    * each round's scores; exposed separately so the plan shape is
    * spec-pinnable).
    */
  private[graft] def step(eDeg: DataFrame, nodes: DataFrame,
                              scores: DataFrame, baseAdd: Long,
                              dampNum: Long, dampDen: Long): DataFrame =
    stepBase(eDeg, nodes.withColumn("__base", lit(baseAdd)), scores,
      dampNum, dampDen)

  /** The generalized round: the restart mass comes from the per-vertex
    * `__base` column of `nodesB` — a constant column IS plain PageRank,
    * seed-concentrated mass is the personalized variant.
    */
  private[graft] def stepBase(eDeg: DataFrame, nodesB: DataFrame,
                                  scores: DataFrame,
                                  dampNum: Long, dampDen: Long): DataFrame = {
    val contribs = eDeg
      .join(scores.withColumnRenamed("id", "src"), "src")
      .select(col("dst"), expr("score div __outdeg").as("__c"))
    val inSums = contribs.groupBy("dst").agg(sum("__c").as("__in"))
    nodesB
      .join(inSums.withColumnRenamed("dst", "id"), Seq("id"), "left")
      .select(col("id"),
        (col("__base") +
          expr(s"($dampNum * coalesce(__in, CAST(0 AS BIGINT))) div $dampDen"))
          .as("score"))
  }

  /** PERSONALIZED integer PageRank — proximity to a SEED set instead of
    * global importance ("parts relevant to this catalog section", "users
    * near these flagged accounts"): the restart mass lands only on seeds
    * (`__base = baseAdd` there, 0 elsewhere; scores start at
    * `startScore` on seeds, 0 elsewhere), so score IS seed-relative
    * relevance — the standard recommendation/expansion walk. Same exact
    * integer recurrence, same two-shuffle round, same unrolled-CTE
    * replay as [[pageRankInt]]; the one extra cost is a seeds-sized flag
    * join paid once. Seeds outside the graph carry no mass; at least one
    * seed must be a graph vertex (checked loudly — an all-zero walk is a
    * configuration error, not a result).
    */
  def personalizedPageRankInt(edges: DataFrame, seeds: DataFrame,
                              seedCol: String, iters: Int = 5,
                              startScore: Long = 1000000L,
                              dampNum: Long = 85, dampDen: Long = 100): DataFrame = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    require(dampDen > 0 && dampNum >= 0 && dampNum <= dampDen,
      s"damping $dampNum/$dampDen must be a fraction in [0, 1]")
    require(startScore > 0, s"startScore must be positive, got $startScore")
    val e = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst")).localCheckpoint(false)
    val n = edges.sparkSession.sessionState.conf.numShufflePartitions
    // same pinned-layout discipline as [[pageRankInt]]: the edge list
    // keeps one hash(src)-sorted layout across every round
    val eDeg = pinnedLayout(_
      .withColumn("__outdeg", count(lit(1)).over(Window.partitionBy("src")))
    )(e, "src", n)
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
    val seedIds = seeds.where(col(seedCol).isNotNull)
      .select(col(seedCol).cast("long").as("id")).distinct()
      .withColumn("__sf", lit(1))
    val flagged = nodes.join(seedIds, Seq("id"), "left").localCheckpoint(true)
    require(flagged.where(col("__sf") === 1).limit(1).count() > 0,
      "personalizedPageRankInt: no seed is a vertex of the graph")
    val baseAdd = (startScore * (dampDen - dampNum)) / dampDen
    val nodesB = pinnedLayout()(
      flagged.select(col("id"),
        when(col("__sf") === 1, lit(baseAdd)).otherwise(lit(0L)).as("__base")),
      "id", n)
    GraphEdges.rounds(flagged.select(col("id"),
        when(col("__sf") === 1, lit(startScore)).otherwise(lit(0L)).as("score")),
      iters)((scores, _) => stepBase(eDeg, nodesB, scores, dampNum, dampDen))
  }

  /** DuckDB replay of [[personalizedPageRankInt]] — the seeded recurrence
    * unrolled; `seedsSelect` yields a `seed` column.
    */
  def personalizedOracleSql(edgesSelect: String, seedsSelect: String,
                            iters: Int = 5, startScore: Long = 1000000L,
                            dampNum: Long = 85, dampDen: Long = 100): String = {
    val baseAdd = (startScore * (dampDen - dampNum)) / dampDen
    val sb = new StringBuilder
    sb.append(s"WITH e AS ($edgesSelect),\n")
    sb.append("n AS (SELECT DISTINCT src AS id FROM e UNION SELECT DISTINCT dst FROM e),\n")
    sb.append("od AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),\n")
    sb.append(s"sd AS (SELECT DISTINCT CAST(seed AS BIGINT) AS id FROM ($seedsSelect) WHERE seed IS NOT NULL),\n")
    sb.append("nb AS (SELECT n.id, " +
      s"CASE WHEN sd.id IS NOT NULL THEN CAST($baseAdd AS BIGINT) ELSE 0 END AS base, " +
      s"CASE WHEN sd.id IS NOT NULL THEN CAST($startScore AS BIGINT) ELSE 0 END AS st " +
      "FROM n LEFT JOIN sd ON n.id = sd.id),\n")
    sb.append("s0 AS (SELECT id, st AS score FROM nb)")
    for (i <- 1 to iters) {
      sb.append(s""",
s$i AS (
  SELECT nb.id,
    CAST(nb.base + ($dampNum * COALESCE(m.acc, 0)) // $dampDen AS BIGINT) AS score
  FROM nb LEFT JOIN (
    SELECT e.dst AS id, sum(s.score // od.outdeg) AS acc
    FROM e JOIN s${i - 1} s ON s.id = e.src JOIN od ON od.src = e.src
    GROUP BY e.dst) m ON nb.id = m.id)""")
    }
    sb.append(s"\nSELECT id, score FROM s$iters ORDER BY id")
    sb.toString
  }

  /** DuckDB replay of [[pageRankInt]]: the same integer recurrence unrolled
    * into `iters` CTE layers over the edge set produced by `edgesSelect`
    * (a SELECT yielding `src`, `dst`). DuckDB's `//` on integers truncates
    * toward zero, as Spark's `div` does (see [[graft.ExactDiv]]).
    */
  def oracleSql(edgesSelect: String, iters: Int = 5, startScore: Long = 1000000L,
                dampNum: Long = 85, dampDen: Long = 100): String = {
    val baseAdd = (startScore * (dampDen - dampNum)) / dampDen
    val sb = new StringBuilder
    sb.append(s"WITH e AS ($edgesSelect),\n")
    sb.append("n AS (SELECT DISTINCT src AS id FROM e UNION SELECT DISTINCT dst FROM e),\n")
    sb.append("od AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),\n")
    sb.append(s"s0 AS (SELECT id, CAST($startScore AS BIGINT) AS score FROM n)")
    for (i <- 1 to iters) {
      sb.append(s""",
s$i AS (
  SELECT n.id,
    CAST($baseAdd + ($dampNum * COALESCE(m.acc, 0)) // $dampDen AS BIGINT) AS score
  FROM n LEFT JOIN (
    SELECT e.dst AS id, sum(s.score // od.outdeg) AS acc
    FROM e JOIN s${i - 1} s ON s.id = e.src JOIN od ON od.src = e.src
    GROUP BY e.dst) m ON n.id = m.id)""")
    }
    sb.append(s"\nSELECT id, score FROM s$iters ORDER BY id")
    sb.toString
  }
}
