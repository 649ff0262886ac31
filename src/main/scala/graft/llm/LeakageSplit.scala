package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Leakage-free train/val splitting — the evaluation-integrity rule the
  * plain content-hash split (CorpusFilters.splitAssign) cannot give: when
  * near-duplicates of a training document land in the validation set, the
  * benchmark leaks and the val loss lies. Here the split is keyed on the
  * NEAR-DUP CLUSTER representative, not the document: banded-MinHash
  * pairs → connected components → every member of a cluster hashes to the
  * same side, deterministically (content-keyed — stable under
  * re-sharding, re-ordering, engine choice). Singletons split exactly
  * like the plain hash split, so the train fraction still lands near
  * `trainPct` for a mostly-unique corpus.
  *
  * Scale shape: inherits the L2/L38 posture wholesale (banded equi-join
  * pairs, min-label propagation components); the split itself is
  * scan-stage hash arithmetic on the (id, cluster_rep) frame — 16-byte
  * rows, never documents.
  *
  * The audit twin [[splitLeakage]] checks an EXTERNALLY produced split
  * against the pair graph: any near-dup pair straddling splits is a leak.
  */
object LeakageSplit {

  /** (idCol, cluster_rep, split) — 'train' / 'val' per document, constant
    * within every near-dup cluster.
    */
  def leakageFreeSplit(df: DataFrame, textCol: String, idCol: String,
                       trainPct: Int,
                       shingleN: Int = 3,
                       bands: Int = Dedup.DefaultBands,
                       rowsPerBand: Int = Dedup.DefaultRowsPerBand,
                       minJaccard: Double = 0.5): DataFrame = {
    require(trainPct >= 0 && trainPct <= 100, s"trainPct must be 0..100, got $trainPct")
    DedupClusters.minhashClusters(df, textCol, idCol, shingleN, bands, rowsPerBand, minJaccard)
      .withColumn("split", graft.text.CorpusFilters.splitAssign(
        col("cluster_rep").cast("string"), trainPct))
  }

  /** Leaking pairs in an existing split: near-dup pairs whose two sides
    * landed in different splits — (left_id, right_id, left_split,
    * right_split), empty iff the split is leakage-free w.r.t. `pairs`.
    * Two 8-byte-keyed joins of the pair list against the slim (id, split)
    * frame.
    */
  def splitLeakage(pairs: DataFrame, splits: DataFrame,
                   idCol: String, splitCol: String): DataFrame =
    pairs
      .join(splits.select(col(idCol).as("left_id"), col(splitCol).as("left_split")),
        "left_id")
      .join(splits.select(col(idCol).as("right_id"), col(splitCol).as("right_split")),
        "right_id")
      .where(col("left_split") =!= col("right_split"))
      .select("left_id", "right_id", "left_split", "right_split")

  /** DuckDB replay of [[leakageFreeSplit]] — the shared recursive
    * reachability walk, then the same md5-bucket assignment keyed on the
    * representative's decimal string.
    */
  def splitOracle(table: String, idCol: String, textCol: String,
                  trainPct: Int,
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
SELECT id AS $idCol, rep AS cluster_rep,
  ${graft.text.CorpusFilters.splitAssignSql("CAST(rep AS VARCHAR)", trainPct)} AS split
FROM comp ORDER BY id""".stripMargin
}
