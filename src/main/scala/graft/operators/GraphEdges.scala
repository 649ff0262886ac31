package graft.operators

import scala.annotation.tailrec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

/** What the iterating graph operators share: the undirected-graph
  * canonicalization ([[symmetrize]], ONE definition on each side of the
  * oracle so the graph semantics cannot drift between operators) and the
  * ONE round driver every graph loop runs through — [[rounds]] for a
  * declared round count, [[toFixpoint]] to a caller-given convergence
  * measure. The driver alone decides how each round's state is pinned.
  */
private[graft] object GraphEdges {

  /** Directed (__s, __d) edge list containing both orientations of every
    * undirected input edge, self-loops and NULL endpoints dropped,
    * deduplicated and pinned lazily (the first consuming job materializes
    * the edge set; later rounds re-read the blocks).
    */
  def symmetrize(edges: DataFrame, srcCol: String,
                 dstCol: String): DataFrame = {
    val base = edges
      .where(col(srcCol).isNotNull && col(dstCol).isNotNull &&
        col(srcCol) =!= col(dstCol))
      .select(col(srcCol).as("__s"), col(dstCol).as("__d"))
    base
      .unionAll(base.select(col("__d").as("__s"), col("__s").as("__d")))
      .distinct()
      .localCheckpoint(false)
  }

  /** The round-state pin: a LAZY localCheckpoint. It truncates lineage
    * (plan depth stays O(1) in rounds) and keeps the state's blocks for
    * the next round, while its last stage rides the next job — the next
    * round's, or the fixpoint measure's — instead of a blocking job of
    * its own (an eager pin adds one pure-latency job per round). A frame
    * that already is a checkpoint leaf is kept as it is, not copied.
    */
  private def pin(df: DataFrame): DataFrame = df.queryExecution.logical match {
    case _: LogicalRDD => df
    case _ => df.localCheckpoint(false)
  }

  /** `n` rounds of `step` (given the state and the 1-based round number)
    * from `init`, each round's state pinned. `init` itself is not pinned:
    * every caller's is a cheap projection of setup frames.
    */
  def rounds(init: DataFrame, n: Int)(step: (DataFrame, Int) => DataFrame): DataFrame =
    (1 to n).foldLeft(init)((s, r) => pin(step(s, r)))

  /** Rounds of `step` from `init` until `measure` of the state repeats
    * (`same`, equality by default), returning the state that repeated it.
    * `init` is pinned too, since it is measured. Throws loudly after
    * `maxRounds` rounds without a fixpoint instead of returning a
    * half-converged state.
    */
  def toFixpoint[M](init: DataFrame, maxRounds: Int, what: String)
                   (step: (DataFrame, Int) => DataFrame)
                   (measure: DataFrame => M,
                    same: (M, M) => Boolean = (a: M, b: M) => a == b): DataFrame = {
    require(maxRounds >= 1, s"maxRounds must be positive, got $maxRounds")
    @tailrec def go(s: DataFrame, m: M, r: Int): DataFrame = {
      if (r > maxRounds) throw new IllegalStateException(
        s"$what did not reach a fixpoint in $maxRounds rounds — raise maxRounds")
      val next = pin(step(s, r))
      val m2 = measure(next)
      if (same(m, m2)) next else go(next, m2, r + 1)
    }
    val s0 = pin(init)
    go(s0, measure(s0), 1)
  }

  /** The DuckDB replica as a MATERIALIZED CTE named `name`, yielding
    * (s, d). MATERIALIZED matters: the iterating oracles reference each
    * round's CTE several times and a plain CTE would re-expand
    * exponentially.
    */
  def symmetrizeCteSql(name: String, edgesSql: String): String =
    s"""$name AS MATERIALIZED (
  SELECT DISTINCT s, d FROM (
    SELECT src AS s, dst AS d FROM ($edgesSql)
    WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst
    UNION ALL
    SELECT dst AS s, src AS d FROM ($edgesSql)
    WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst))"""
}
