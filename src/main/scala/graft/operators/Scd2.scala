package graft.operators

import graft.sources.AtomicStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Slowly-changing-dimension Type 2 maintenance — turn a change stream
  * (key, attributes, effective time, change sequence) into versioned
  * dimension rows `[valid_from, valid_to)` with an `is_current` flag, and
  * fold new change batches into a persisted dimension incrementally. The
  * warehouse primitive behind "what was this customer's segment WHEN the
  * event happened" joins (the dimension-side complement of the as-of
  * family, which solves the same question from the event side).
  *
  * Semantics: versions per key are ordered by (`effCol`, `seqCol`) —
  * `seqCol` is the change-sequence tie-break every CDC stream carries
  * (LSN, log offset, source PK); consecutive changes with identical
  * attributes collapse to the first (the standard no-op-change rule);
  * `valid_to` is the next surviving change's effective time, null while
  * current. Everything is windows over (eff, seq) ordering — no floats,
  * no engine hazards; the DuckDB oracle replays it bit-identically.
  *
  * Incremental contract: batches must arrive IN ORDER per key (each
  * batch's changes at-or-after the key's stored history — the normal
  * time-partitioned CDC shape). Under that contract
  * `fold(batches) ≡ build(union(batches))` exactly: collapse only ever
  * compares a batch's first change against the key's last stored version,
  * which is the same comparison the direct build makes. Out-of-order
  * deliveries are detected (`strict = true`, the default) and rejected —
  * a late change CANNOT be folded correctly because already-collapsed
  * no-op changes are unrecoverable; route late data through a rebuild.
  *
  * Scale shape: build is one hash shuffle on the key + per-key sort
  * windows (spill-safe — no per-key array buffering); the fold rebuilds
  * ONLY keys present in the batch (semi/anti split of the store) and the
  * strict check is a semi-join-sized aggregate over those same keys. The
  * store rewrite per fold goes through [[graft.sources.AtomicStore]]
  * (crash = old store or new, never a mix); for a giant dimension,
  * partition the store and rewrite only affected partitions via
  * [[graft.sources.LakeMerge]] — the fold algebra is unchanged.
  *
  * Reference anchor: the versioned-dimension analog of S9's Upsert
  * SaveStrategy (fabrix-sources upsert splits current rows; SCD2 keeps
  * the history those upserts overwrite) — extension row.
  */
object Scd2 {

  /** Versioned dimension from a complete change log: (`keyCol`, attrs...,
    * `valid_from`, `seqCol`, `valid_to`, `is_current`).
    */
  def build(changes: DataFrame, keyCol: String, attrCols: Seq[String],
            effCol: String, seqCol: String): DataFrame = {
    require(attrCols.nonEmpty, "SCD2 needs at least one tracked attribute")
    val ord = Window.partitionBy(keyCol).orderBy(col(effCol), col(seqCol))
    val attrTuple = struct(attrCols.map(col): _*)
    val kept = changes
      .where(col(keyCol).isNotNull && col(effCol).isNotNull)
      .withColumn("__prev", lag(attrTuple, 1).over(ord))
      .where(col("__prev").isNull || !(attrTuple <=> col("__prev")))
    val ord2 = Window.partitionBy(keyCol).orderBy(col(effCol), col(seqCol))
    kept
      .withColumn("valid_to", lead(col(effCol), 1).over(ord2))
      .select((Seq(col(keyCol)) ++ attrCols.map(col) ++ Seq(
        col(effCol).as("valid_from"), col(seqCol),
        col("valid_to"), col("valid_to").isNull.as("is_current"))): _*)
  }

  /** Fold one in-order change batch into the dimension store at `storeDir`
    * (bootstraps on first use; an empty batch leaves an existing store
    * unwritten). After n folds the store equals [[build]]
    * over the concatenation — exactly, given the in-order contract.
    */
  def update(spark: SparkSession, storeDir: String, batch: DataFrame,
             keyCol: String, attrCols: Seq[String], effCol: String,
             seqCol: String, strict: Boolean = true): Unit = {
    val dim = AtomicStore.current(spark, storeDir) match {
      case Some(d) => d
      case None =>
        AtomicStore.publish(spark, storeDir, build(batch, keyCol, attrCols, effCol, seqCol))
        return
    }
    // the batch is referenced several times inside the single rebuild job
    // below (key set + rebuild union) — cache it so an expensive batch
    // source evaluates once per fold (the LakeMerge `aligned` posture)
    val b = batch.persist()
    try {
      // an empty batch changes nothing: return before the rebuild, so the
      // strict check's unbounded Observation.get never waits on a plan
      // that an empty input may have let the optimizer cut away
      if (b.isEmpty) return
      val keys = b.select(col(keyCol)).distinct()
      val affected = dim.join(keys, Seq(keyCol), "left_semi")
      // stored versions ARE the key's surviving change log: replay them with
      // the batch through the same build
      val versionCols = (Seq(col(keyCol)) ++ attrCols.map(col) ++
        Seq(col("valid_from").as(effCol), col(seqCol)))
      val storedChanges = affected.select(versionCols: _*)
      val batchChanges = b.select((Seq(col(keyCol)) ++ attrCols.map(col) ++
        Seq(col(effCol), col(seqCol))): _*)
      val untouched = dim.join(keys, Seq(keyCol), "left_anti")
      if (strict) {
        // a batch change strictly before its key's last STORED version is
        // late data and the fold must be rejected. The check no longer runs
        // as its own count job: the rebuild's union is tagged by source, an
        // unordered window over the same key partitioning the build windows
        // shuffle on recovers each key's last stored (eff, seq), and the
        // late-row count rides the store-rebuild write as an observed
        // metric — checked AFTER the staged write but BEFORE the atomic
        // swap, so a late batch still leaves the live store untouched (the
        // staged tmp is deleted) exactly as the standalone pre-check did.
        val ord = struct(col(effCol).as("e"), col(seqCol).as("q"))
        val wKey = org.apache.spark.sql.expressions.Window.partitionBy(keyCol)
        val tagged = storedChanges.withColumn("__src", lit(0))
          .unionByName(batchChanges.withColumn("__src", lit(1)))
        val lastStored =
          max(when(col("__src") === 0, ord)).over(wKey)
        val flagged = tagged
          .withColumn("__late", col("__src") === 1 && ord < lastStored)
        val obs = org.apache.spark.sql.Observation()
        val observed = flagged
          .observe(obs, sum(when(col("__late"), 1L).otherwise(0L)).as("late"))
          .drop("__src", "__late")
        val rebuilt = build(observed, keyCol, attrCols, effCol, seqCol)
        AtomicStore.publish(spark, storeDir, untouched.unionByName(rebuilt),
          beforeSwap = () => {
            val late = Option(obs.get("late")).map(_.asInstanceOf[Long]).getOrElse(0L)
            require(late == 0,
              s"$late out-of-order change(s): batches must arrive in (eff, seq) order " +
                "per key; already-collapsed no-op changes make late folds unsound — rebuild instead")
          })
      } else {
        val rebuilt = build(storedChanges.unionByName(batchChanges),
          keyCol, attrCols, effCol, seqCol)
        AtomicStore.publish(spark, storeDir, untouched.unionByName(rebuilt))
      }
    } finally b.unpersist()
  }

  /** Reorder-TOLERANT fold: the production CDC path where late deliveries
    * are a fact of life. Alongside the dimension it retains the per-key
    * CHANGE LOG (the raw, uncollapsed changes — which a CDC pipeline keeps
    * anyway); each fold appends the batch to the log and rebuilds the
    * dimension for AFFECTED KEYS ONLY from their full logged history. A
    * late change is therefore exact, not rejected: after any sequence of
    * folds, in any arrival order, the store equals
    * `build(union of every change ever folded)` — the collapse rule is
    * re-derived from the log, so no-op changes collapsed under a stale
    * order are recovered.
    *
    * Scale shape: the log append is an APPEND-mode parquet write (new
    * files, no rewrite of history); the rebuild reads only the affected
    * keys' log rows (semi-join prune — with the log time- or
    * key-partitioned, a partition-pruned scan) through the same one-key-
    * shuffle [[build]]; the store rewrite stays AtomicStore-crash-safe.
    * Trade vs [[update]]: strict mode never re-reads history (stored
    * versions suffice); tolerant mode re-reads the affected slice of the
    * log — the price of exactness under reordering.
    *
    * Idempotence note: replaying the SAME batch twice appends duplicate
    * log rows; dedup upstream on (key, eff, seq) or give replays the same
    * seq so the (eff, seq) order (and the collapse) is unchanged. A crash
    * BETWEEN the (atomic) log append and the store swap leaves the store
    * lagging the log for the batch's keys — the next fold touching them
    * heals exactly (the rebuild always reads the full logged history),
    * and [[recover]] detects and replays the lag explicitly so a crashed
    * fold never waits on a coincidental later batch.
    */
  def updateTolerant(spark: SparkSession, storeDir: String, logDir: String,
                     batch: DataFrame, keyCol: String, attrCols: Seq[String],
                     effCol: String, seqCol: String): Unit = {
    import org.apache.hadoop.fs.Path
    val changeCols = (Seq(col(keyCol)) ++ attrCols.map(col) ++
      Seq(col(effCol), col(seqCol)))
    // localCheckpoint the batch first: it is read twice (log append + keys)
    // and may itself be a derived frame
    val b = batch.select(changeCols: _*).localCheckpoint(true)
    // ATOMIC log append: the batch lands as its own subdirectory, written
    // hidden (Spark's file index skips dot-prefixed paths) and renamed
    // visible in one filesystem op — a crash mid-write leaves invisible
    // debris, never a half-appended batch folded into history
    val logPath = new Path(logDir)
    val fs = logPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(logPath)
    // name = timestamp + count + random suffix: sortable for humans, and
    // the suffix keeps concurrent writers from colliding on a batch dir
    // (rename-to-existing would fail the require below, never mix rows)
    val batchName = f"batch_${System.currentTimeMillis()}%013d_" +
      f"${fs.listStatus(logPath).length}%d_" +
      java.util.UUID.randomUUID().toString.take(8)
    val tmp = new Path(logPath, s".$batchName")
    b.write.mode("overwrite").parquet(tmp.toString)
    require(fs.rename(tmp, new Path(logPath, batchName)),
      s"log append rename failed: $tmp -> $batchName")
    val log = spark.read.option("recursiveFileLookup", "true").parquet(logDir)
    val keys = b.select(col(keyCol)).distinct()
    rebuildKeys(spark, storeDir, log, keys, keyCol, attrCols, effCol, seqCol)
    // applied marker LAST: a crash between the swap and the marker leaves
    // the batch looking unapplied, and recover() replays it idempotently
    markApplied(fs, storeDir, batchName)
  }

  /** Detect-and-replay healing for the [[updateTolerant]] crash window: a
    * crash between the (atomic) log append and the store swap leaves the
    * store permanently behind the log for that batch's keys, and [[read]]
    * would serve the stale dimension with no signal. Detection is by
    * APPLIED-BATCH MARKERS, not data inference: every completed fold
    * records its log batch name under the `<store>__applied` sibling, so
    * the set difference (log batch dirs) ∖ (markers) IS the set of folds
    * whose swap never completed — exact for in-order AND late batches
    * alike (a per-key high-water diff cannot see a crashed LATE batch:
    * its eff sits below the store's high-water). Every key appearing in
    * an unapplied batch is rebuilt from its full logged history; the
    * batches are then marked. Returns the number of keys rebuilt; 0 =
    * log and markers agree.
    *
    * A store with batches but NO markers (created before this protocol,
    * or markers lost) treats every batch as unapplied — a conservative
    * full-key rebuild, idempotent by construction. Run at pipeline
    * startup or after any fold whose completion is in doubt; safe to run
    * anytime, including on a healthy store.
    */
  def recover(spark: SparkSession, storeDir: String, logDir: String,
              keyCol: String, attrCols: Seq[String], effCol: String,
              seqCol: String): Long = {
    import org.apache.hadoop.fs.Path
    val logPath = new Path(logDir)
    val fs = logPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(logPath)) return 0L
    val batches = fs.listStatus(logPath)
      .filter(st => st.isDirectory && !st.getPath.getName.startsWith("."))
      .map(_.getPath).toSeq
    if (batches.isEmpty) return 0L
    val marks = appliedPath(storeDir)
    val appliedNames =
      if (!fs.exists(marks)) Set.empty[String]
      else fs.listStatus(marks).map(_.getPath.getName).toSet
    val unapplied = batches.filterNot(b => appliedNames.contains(b.getName))
    if (unapplied.isEmpty) return 0L
    val keys = spark.read.parquet(unapplied.map(_.toString): _*)
      .where(col(keyCol).isNotNull)
      .select(col(keyCol)).distinct().localCheckpoint(true)
    val nStale = keys.count()
    if (nStale > 0L)
      rebuildKeys(spark, storeDir,
        spark.read.option("recursiveFileLookup", "true").parquet(logDir),
        keys, keyCol, attrCols, effCol, seqCol)
    unapplied.foreach(b => markApplied(fs, storeDir, b.getName))
    nStale
  }

  /** Rebuild the dimension rows of `keys` from their full logged history
    * and swap them into the store beside the untouched keys' rows.
    */
  private def rebuildKeys(spark: SparkSession, storeDir: String, log: DataFrame,
                          keys: DataFrame, keyCol: String, attrCols: Seq[String],
                          effCol: String, seqCol: String): Unit = {
    val rebuilt = build(log.join(keys, Seq(keyCol), "left_semi"),
      keyCol, attrCols, effCol, seqCol)
    AtomicStore.publish(spark, storeDir, AtomicStore.current(spark, storeDir)
      .fold(rebuilt)(_.join(keys, Seq(keyCol), "left_anti").unionByName(rebuilt)))
  }

  /** Marker sibling recording which log batches a store has folded — a
    * directory of empty files named after applied batch dirs. Lives
    * BESIDE the store so AtomicStore swaps never touch it.
    */
  private def appliedPath(storeDir: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(storeDir + "__applied")

  private def markApplied(fs: org.apache.hadoop.fs.FileSystem,
                          storeDir: String, batchName: String): Unit = {
    val dir = appliedPath(storeDir)
    fs.mkdirs(dir)
    fs.create(new org.apache.hadoop.fs.Path(dir, batchName), true).close()
  }

  /** The maintained dimension: every version of every key seen so far. */
  def read(spark: SparkSession, storeDir: String): DataFrame =
    AtomicStore.read(spark, storeDir)

  /** Join facts to the dimension version valid at each fact's timestamp —
    * the point-in-interval (temporal) join SCD2 exists to serve: equi-join
    * on the key with the `[valid_from, valid_to)` containment as a
    * residual join condition, so the plan is a HASH join on the key (the
    * per-key version list is small by construction — one row per real
    * change), never an inequality-driven nested loop. Facts before the
    * key's first version (or with no dimension key) drop out, the inner
    * temporal-join semantic.
    */
  def asOfDimension(facts: DataFrame, dim: DataFrame, keyCol: String,
                    tsCol: String): DataFrame = {
    val d = dim.as("d"); val f = facts.as("f")
    f.join(d,
      col(s"f.$keyCol") === col(s"d.$keyCol") &&
        col(s"f.$tsCol") >= col("d.valid_from") &&
        (col("d.valid_to").isNull || col(s"f.$tsCol") < col("d.valid_to")))
      .select((facts.columns.map(c => col(s"f.$c")) ++
        dim.columns.filter(_ != keyCol).map(c => col(s"d.$c"))): _*)
  }

  /** [[buildOracle]] without the final ORDER BY — embeddable as a
    * subquery/CTE body (nested WITH is legal DuckDB).
    */
  def buildOracleBody(table: String, keyE: String, attrs: Seq[(String, String)],
                      effE: String, seqE: String): String = {
    val attrAliases = attrs.map(_._2)
    val attrSel = attrs.map { case (e, a) => s"$e AS $a" }.mkString(", ")
    val tup = attrAliases.mkString("(", ", ", ")")
    s"""WITH ch AS (SELECT $keyE AS k, $attrSel, $effE AS eff, $seqE AS seq
  FROM $table WHERE $keyE IS NOT NULL AND $effE IS NOT NULL),
o AS (SELECT *, lag($tup) OVER (PARTITION BY k ORDER BY eff, seq) AS prev FROM ch),
kept AS (SELECT k, ${attrAliases.mkString(", ")}, eff, seq FROM o
  WHERE prev IS NULL OR $tup IS DISTINCT FROM prev)
SELECT k, ${attrAliases.mkString(", ")}, eff AS valid_from, seq,
  lead(eff) OVER (PARTITION BY k ORDER BY eff, seq) AS valid_to,
  lead(eff) OVER (PARTITION BY k ORDER BY eff, seq) IS NULL AS is_current
FROM kept"""
  }

  /** DuckDB replay of [[build]] — same (eff, seq) ordering, same collapse
    * rule, same window-derived validity. `attrs` are (expr, alias) pairs;
    * the distinct-from collapse matches Spark's null-safe struct
    * comparison.
    */
  def buildOracle(table: String, keyE: String, attrs: Seq[(String, String)],
                  effE: String, seqE: String): String =
    buildOracleBody(table, keyE, attrs, effE, seqE) + " ORDER BY k, valid_from, seq"
}
