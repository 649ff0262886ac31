package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic Lloyd k-means over integer vectors — the
  * CROSS-ENGINE-REPLAYABLE trainer beside [[graft.llm.IvfIndex]]'s
  * sampled Spark-ML KMeans (that one trains float coarse quantizers
  * from a driver sample, seeded but engine-specific — fine for an ANN
  * index whose recall is audited, useless for a hash gate;
  * [[graft.functions.NearestCentroid]] only ASSIGNS against given
  * centroids): this one trains on vectors already integer-quantized
  * (int8 embeddings, scaled features) with every decision declared, so
  * corpus sharding by content region and quota bucketing can be AUDITED
  * bit-for-bit by a second engine.
  *
  * Everything that is usually left to chance is DECLARED here so both
  * engines replay the run bit-for-bit: init centroids are the vectors
  * of the k SMALLEST ids (k-means++ needs RNG; a declared init is the
  * price of determinism — callers wanting spread pass a pre-shuffled id
  * space); assignment is exact integer squared-L2 argmin with ties to
  * the LOWER cluster index; the centroid update is the
  * truncating per-dimension mean ⌊Σv/n⌋ (centroids stay integer — the
  * declared quantization, same ladder as every q6 in the repo); an
  * empty cluster KEEPS its previous centroid; a fixed `rounds` count
  * (Lloyd converges but round-count-to-convergence is data-dependent —
  * a fixed count is the replayable contract, the L302 LPA precedent).
  *
  * Scale shape per round: centroids are a k×d driver artifact (bounded
  * by construction — the IvfIndex broadcast posture) unrolled into
  * scan-stage argmin literals, so ASSIGNMENT never shuffles; the update
  * is one partial-agg'd (cluster, dim) sum off a d-wide posexplode.
  * Vectors must all carry exactly d elements with no NULLs — raise
  * in-plan (a ragged vector table is corrupt input, not data).
  */
object KMeans {

  /** Final assignments after `rounds` Lloyd iterations:
    * (idCol, cluster, dist2) with dist2 the exact squared distance to
    * the winning final centroid.
    */
  def lloydAssign(df: DataFrame, idCol: String, vecCol: String,
                  k: Int, rounds: Int, dim: Int): DataFrame = {
    val (pts, centroids) = run(df, idCol, vecCol, k, rounds, dim)
    assign(pts, centroids).select(col(idCol), col("__cluster").as("cluster"),
      col("__d2").as("dist2"))
  }

  /** Final centroids: (cluster, dim, value) relational form. */
  def lloydCentroids(df: DataFrame, idCol: String, vecCol: String,
                     k: Int, rounds: Int, dim: Int): DataFrame = {
    val (_, centroids) = run(df, idCol, vecCol, k, rounds, dim)
    val spark = df.sparkSession
    import spark.implicits._
    centroids.zipWithIndex.flatMap { case (c, ci) =>
      c.zipWithIndex.map { case (v, di) => (ci.toLong, di.toLong, v) }
    }.toSeq.toDF("cluster", "dim", "value")
  }

  private def run(df: DataFrame, idCol: String, vecCol: String,
                  k: Int, rounds: Int,
                  dim: Int): (DataFrame, Array[Array[Long]]) = {
    require(k > 0 && rounds >= 0 && dim > 0,
      s"need k > 0, rounds >= 0, dim > 0; got k=$k rounds=$rounds dim=$dim")
    val wellFormed = col(vecCol).isNotNull && size(col(vecCol)) === dim &&
      !array_contains(transform(col(vecCol), v => v.isNull), true)
    val pts = df
      .where(col(idCol).isNotNull)
      .select(col(idCol),
        when(wellFormed, col(vecCol).cast("array<long>"))
          .otherwise(raise_error(concat(
            lit(s"kmeans: every vector must carry exactly $dim non-null"),
            lit(" elements"))).cast("array<long>")).as("__v"))
      .localCheckpoint(true)
    // declared init: the k smallest ids' vectors, cluster = id rank.
    // k×d driver artifact — bounded by construction (IvfIndex posture)
    var centroids: Array[Array[Long]] = pts.orderBy(col(idCol)).limit(k)
      .select(col("__v")).collect()
      .map(_.getSeq[Long](0).toArray)
    require(centroids.length == k,
      s"kmeans: need at least k=$k rows, got ${centroids.length}")
    for (_ <- 0 until rounds) {
      val assigned = assign(pts, centroids)
      val sums = assigned
        .select(col("__cluster"), posexplode(col("__v")).as(Seq("__d", "__x")))
        .groupBy(col("__cluster"), col("__d"))
        .agg(sum(col("__x")).as("__s"), count(lit(1)).as("__n"))
        .collect()
      val next = centroids.map(_.clone())
      sums.foreach { r =>
        val (c, d) = (r.getLong(0).toInt, r.getInt(1))
        val (s, n) = (r.getLong(2), r.getLong(3))
        // truncating mean — the declared integer quantization
        next(c)(d) = s / n
      }
      centroids = next
    }
    (pts, centroids)
  }

  /** Scan-stage argmin: dist² to every centroid as unrolled literals,
    * ties to the lower cluster index via struct-min.
    */
  private def assign(pts: DataFrame, centroids: Array[Array[Long]]): DataFrame = {
    def d2(c: Array[Long]): Column =
      c.indices.map { i =>
        val diff = element_at(col("__v"), i + 1) - lit(c(i))
        diff * diff
      }.reduce(_ + _)
    val best = array_min(array(centroids.zipWithIndex.map { case (c, ci) =>
      struct(d2(c).as("d"), lit(ci.toLong).as("c")) }: _*))
    pts.withColumn("__best", best)
      .withColumn("__cluster", col("__best.c"))
      .withColumn("__d2", col("__best.d"))
      .drop("__best")
  }

  /** DuckDB replay: the unrolled-CTE round chain (the HITS/LPA
    * precedent) — cross-join argmin with the same tie rule, per-dim
    * truncating means, empty clusters carrying forward.
    * `pointsSql` yields (id, v LIST); d must match `dim`.
    */
  def assignOracle(pointsSql: String, idName: String, k: Int, rounds: Int,
                   dim: Int): String = {
    val dims = 1 to dim
    def meanExpr(i: Int) = graft.ExactDiv.quotSql(s"sum(v[$i])", "count(*)")
    val distExpr = dims.map(i => s"(p.v[$i] - c.v[$i]) * (p.v[$i] - c.v[$i])")
      .mkString(" + ")
    val roundsCtes = (1 to rounds).map { r =>
      s"""a$r AS (SELECT id, v, cluster FROM (
  SELECT p.id, p.v, c.cluster,
    row_number() OVER (PARTITION BY p.id
      ORDER BY ($distExpr) ASC, c.cluster ASC) AS rn
  FROM p, c${r - 1} c) WHERE rn = 1),
c$r AS (SELECT cluster, [${dims.map(meanExpr).mkString(", ")}] AS v
  FROM a$r GROUP BY cluster
  UNION ALL
  SELECT cluster, v FROM c${r - 1}
  WHERE cluster NOT IN (SELECT cluster FROM a$r))"""
    }.mkString(",\n")
    val sep = if (rounds > 0) ",\n" else ""
    s"""WITH p AS (SELECT id, v FROM ($pointsSql)),
c0 AS (SELECT CAST(row_number() OVER (ORDER BY id) - 1 AS BIGINT) AS cluster, v
  FROM (SELECT id, v FROM p ORDER BY id LIMIT $k))$sep$roundsCtes
SELECT id AS $idName, cluster, CAST(d2 AS BIGINT) AS dist2 FROM (
  SELECT p.id, c.cluster, ($distExpr) AS d2,
    row_number() OVER (PARTITION BY p.id
      ORDER BY ($distExpr) ASC, c.cluster ASC) AS rn
  FROM p, c$rounds c) WHERE rn = 1 ORDER BY id"""
  }
}
