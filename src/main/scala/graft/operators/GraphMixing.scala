package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ExactDiv.{quot, quotSql}

/** Graph mixing summary — reciprocity and degree assortativity over a
  * directed edge list: the two one-number diagnostics that say what KIND
  * of graph this is before any per-vertex analysis runs. Reciprocity
  * (share of edges whose reverse edge exists) separates genuinely
  * directed flows (citation, follow, supply) from effectively-undirected
  * ones; degree assortativity (Pearson correlation between source
  * out-degree and target in-degree across edges, the directed out–in
  * variant) separates hub-to-hub cores (assortative, r > 0) from
  * hub-to-leaf stars (disassortative, r < 0) — which decides whether
  * hub-cut estimators like [[LinkPredict]]'s maxDeg and skew postures
  * apply.
  *
  * Exact semantics: edges dedup first; NULL endpoints and self-loops
  * drop (declared — a self-loop is its own reverse and would inflate
  * reciprocity). All five correlation moments (Σj, Σk, Σjk, Σj², Σk²)
  * ride DECIMAL(38,0); the published `cov = M·Σjk − Σj·Σk`, `varj`,
  * `vark` are the exact Pearson components (the [[GroupedTrend]] L134
  * discipline — downstream algebra never re-rounds), and `r2s_q6` is the
  * SIGNED squared correlation under a DECLARED two-step truncating
  * division `sign·((cov² div varj)·10⁶ div vark)` — two steps keep every
  * intermediate inside 38 digits where the single-division form `10⁶·
  * cov²/(varj·vark)` can overflow; the ≤2·10⁻⁶ quantization slack is the
  * price, both engines replay it bit-identically. NULL when either
  * variance is 0 (a degree-regular side has no correlation to report).
  *
  * Scale shape: dedup is one edge-keyed shuffle; degrees are two
  * partial-agg'd collapses joined back on 8-byte endpoint keys;
  * reciprocity is one self-semi-join on the reversed key; the final
  * moments are ONE grand aggregate. Component envelope: Longs hold the
  * published components while M·maxdeg² < 2⁶³ — community/dim-scale
  * graphs; beyond that the exact decimals are the contract and the cast
  * raises loudly (ANSI).
  */
object GraphMixing {

  val Scale = 1000000L

  /** One row: (m, recip_edges, reciprocity_q6, cov, varj, vark, r2s_q6).
    * Empty graph (m = 0) reports zeros with NULL ratios.
    */
  def summary(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val e = edges
      .select(col(srcCol).as("__s"), col(dstCol).as("__d"))
      .where(col("__s").isNotNull && col("__d").isNotNull &&
        col("__s") =!= col("__d"))
      .distinct()
    val outDeg = e.groupBy(col("__s")).agg(count(lit(1)).as("__od"))
    val inDeg = e.groupBy(col("__d")).agg(count(lit(1)).as("__id"))
    val withDeg = e.join(outDeg, "__s").join(inDeg, "__d")
    val moments = withDeg.agg(
      count(lit(1)).as("m"),
      sum(col("__od").cast(dec)).cast(dec).as("__sj"),
      sum(col("__id").cast(dec)).cast(dec).as("__sk"),
      sum((col("__od").cast(dec) * col("__id").cast(dec)).cast(dec)).cast(dec).as("__sjk"),
      sum((col("__od").cast(dec) * col("__od").cast(dec)).cast(dec)).cast(dec).as("__sj2"),
      sum((col("__id").cast(dec) * col("__id").cast(dec)).cast(dec)).cast(dec).as("__sk2"))
    val rev = e.select(col("__s").as("__rs"), col("__d").as("__rd"))
    val recip = e
      .join(rev, col("__s") === col("__rd") && col("__d") === col("__rs"), "left_semi")
      .agg(count(lit(1)).as("recip_edges"))
    // two 1-row frames — the declared-safe cross join shape
    val joined = moments.crossJoin(recip)
    val md = col("m").cast(dec)
    val cov = (md * col("__sjk") - col("__sj") * col("__sk")).cast(dec)
    val varj = (md * col("__sj2") - col("__sj") * col("__sj")).cast(dec)
    val vark = (md * col("__sk2") - col("__sk") * col("__sk")).cast(dec)
    def div(a: Column, b: Column): Column = call_function("div", a, b)
    val r2s = when(col("m") === 0 || varj === lit(0).cast(dec) || vark === lit(0).cast(dec),
      lit(null).cast("long"))
      // cov·|cov| carries cov's sign with cov²'s magnitude
      .otherwise(quot(quot(cov * abs(cov), varj).cast(dec), vark, Scale))
    joined.select(
      col("m"),
      col("recip_edges"),
      when(col("m") === 0, lit(null).cast("long"))
        .otherwise(div(lit(Scale).cast(dec) * col("recip_edges").cast(dec), md)
          .cast("long")).as("reciprocity_q6"),
      when(col("m") === 0, lit(null).cast("long")).otherwise(cov.cast("long")).as("cov"),
      when(col("m") === 0, lit(null).cast("long")).otherwise(varj.cast("long")).as("varj"),
      when(col("m") === 0, lit(null).cast("long")).otherwise(vark.cast("long")).as("vark"),
      r2s.as("r2s_q6"))
  }

  /** DuckDB replay — same dedup, degree joins, HUGEINT moments, same
    * two-step division. `edgesSql` yields (s, d).
    */
  def oracleSql(edgesSql: String): String =
    s"""WITH e AS (SELECT DISTINCT s, d FROM ($edgesSql)
  WHERE s IS NOT NULL AND d IS NOT NULL AND s <> d),
od AS (SELECT s, count(*) AS odeg FROM e GROUP BY s),
idg AS (SELECT d, count(*) AS ideg FROM e GROUP BY d),
j AS (SELECT CAST(od.odeg AS HUGEINT) AS jd, CAST(idg.ideg AS HUGEINT) AS kd
  FROM e JOIN od ON e.s = od.s JOIN idg ON e.d = idg.d),
mo AS (SELECT CAST(count(*) AS HUGEINT) AS m, sum(jd) AS sj, sum(kd) AS sk,
  sum(jd * kd) AS sjk, sum(jd * jd) AS sj2, sum(kd * kd) AS sk2 FROM j),
r AS (SELECT CAST(count(*) AS HUGEINT) AS rc FROM e
  WHERE EXISTS (SELECT 1 FROM e e2 WHERE e2.s = e.d AND e2.d = e.s))
SELECT CAST(m AS BIGINT) AS m, CAST(rc AS BIGINT) AS recip_edges,
  CASE WHEN m = 0 THEN NULL
       ELSE CAST(($Scale * rc) // m AS BIGINT) END AS reciprocity_q6,
  CASE WHEN m = 0 THEN NULL ELSE CAST(m * sjk - sj * sk AS BIGINT) END AS cov,
  CASE WHEN m = 0 THEN NULL ELSE CAST(m * sj2 - sj * sj AS BIGINT) END AS varj,
  CASE WHEN m = 0 THEN NULL ELSE CAST(m * sk2 - sk * sk AS BIGINT) END AS vark,
  CASE WHEN m = 0 OR m * sj2 - sj * sj = 0 OR m * sk2 - sk * sk = 0 THEN NULL
       ELSE ${quotSql(quotSql("(m * sjk - sj * sk) * abs(m * sjk - sj * sk)",
         "m * sj2 - sj * sj"), "m * sk2 - sk * sk", Scale)} END AS r2s_q6
FROM mo, r"""
}
