package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The shared lifecycle of the COUNT-FORM model stores — persisted
  * models whose state is additive integer sufficient statistics, so an
  * append ADDS a batch's counts and a takedown SUBTRACTS a victim's,
  * yielding exactly the statistics of retraining on the changed corpus
  * ([[Classifier.nbModelWrite]]'s NB classifier,
  * [[Sampling.dsirStoreWrite]]'s DSIR importance model). One
  * implementation of the store protocol, so a hardening fix cannot
  * silently miss one of the stores (the [[AtomicBatches]] rationale,
  * one level up):
  *
  *  - base tables overwritten by a rebuild, which also retires the
  *    delta channel and any maintenance marker — AFTER the new base
  *    landed (the bm25IndexWrite discipline),
  *  - updates staged under `deltas/<n>/` and made visible atomically
  *    via the `_COMMIT` marker ([[AtomicBatches]]); readers fold
  *    base + committed deltas by exact integer sums, so batch order is
  *    invisible,
  *  - staged-swap compaction (the trianglesIndexCompact discipline):
  *    the fresh base is computed under `base_next/` and `_COMMIT`-marked
  *    BEFORE the swap touches anything readers use; a re-run
  *    (`takeover = true` on a stale `_MAINT`) either recomputes the
  *    stage from the still-intact old state or just redoes the
  *    idempotent swap.
  */
private[graft] object CountStore {

  private def fsOf(spark: SparkSession, path: String)
      : org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Loud guard against INTRA-batch duplicate keys — the corruption the
    * fresh-ids ledger guard cannot see: the table builders emit one +1
    * ledger row and one count contribution per input ROW, so a batch
    * holding the same key twice double-counts silently, and a later
    * delete subtracts ONCE (victims are de-duplicated), leaving the
    * counts permanently drifted and the compaction invariant ("a
    * present id has exactly one +1 row") broken. Every ingest face
    * (write, append, stream-append) places this before building its
    * tables. One batch-sized aggregation; nothing corpus-sized moves.
    */
  def requireUniqueBatchKeys(batch: org.apache.spark.sql.DataFrame,
      keyCols: Seq[String], face: String): Unit =
    raiseDuplicateKeys(face, keyCols,
      uniqueKeyViolations(batch, keyCols).limit(5).collect()
        .map(_.getString(0)))

  /** The duplicate-key probe of [[requireUniqueBatchKeys]] as a frame —
    * one stringified key per violating group — so the append faces can
    * fold it into a single tagged-union guard job with their other
    * probes (one driver round trip, and one plan: a lone reader of the
    * caller's expression instances — the nbModelTables rule).
    */
  def uniqueKeyViolations(batch: org.apache.spark.sql.DataFrame,
      keyCols: Seq[String]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, col, concat_ws, count, lit}
    batch.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("__n")).filter(col("__n") > 1)
      // coalesce each component: concat_ws SKIPS nulls, so a duplicate
      // NULL key (or null component of a composite key) would render as
      // an empty/partial example in the error message
      .select(concat_ws("/",
        keyCols.map(c => coalesce(col(c).cast("string"), lit("null"))): _*)
        .as("__key"))
  }

  /** The loud raise of [[requireUniqueBatchKeys]], shared so a fused
    * guard reports the identical message.
    */
  def raiseDuplicateKeys(face: String, keyCols: Seq[String],
      examples: Seq[String]): Unit =
    require(examples.isEmpty,
      s"$face: the batch contains DUPLICATE ${keyCols.mkString("(", ", ", ")")} " +
      s"keys (e.g. ${examples.mkString(", ")}) — each input row contributes " +
      "its counts and one ledger row, so a repeated key would " +
      "double-count silently and a later delete would subtract only " +
      "once, permanently corrupting the store. De-duplicate or " +
      "aggregate the batch per key first.")

  /** Overwrite the base tables, then retire the delta channel AND any
    * committed `base_next` compaction stage (a rebuild supersedes both;
    * a stale committed stage left behind would be swapped IN by a later
    * compaction — a silent rollback of the rebuild). The whole rebuild
    * runs under the `_MAINT` marker ([[AtomicBatches.withRebuildMarker]]):
    * a crash after the base landed but before the channels were retired
    * used to leave readers silently folding stale deltas onto the fresh
    * base; now every face fails loudly until a rebuild completes.
    */
  def writeBase(spark: SparkSession, path: String,
      tables: Seq[(String, DataFrame)]): Unit =
    AtomicBatches.withRebuildMarker(spark, path) {
      // write order never mattered here: any crash inside the marker
      // demands a full rebuild
      writeTables(path, tables)
      val fs = fsOf(spark, path)
      fs.delete(new org.apache.hadoop.fs.Path(s"$path/deltas"), true)
      fs.delete(new org.apache.hadoop.fs.Path(s"$path/base_next"), true)
    }

  /** Stage one atomic delta batch (several tables, one `_COMMIT`). The
    * marker lands strictly after every table, so the batch stays
    * invisible until complete.
    */
  def stageDelta(spark: SparkSession, path: String,
      tables: Seq[(String, DataFrame)]): Unit = {
    val bdir =
      s"$path/deltas/${AtomicBatches.nextBatchN(spark, s"$path/deltas")}"
    writeTables(bdir, tables)
    AtomicBatches.commit(spark, bdir)
  }

  /** The one table writer of every face: the tables of a base or a
    * batch are independent outputs and nothing reads them before the
    * caller's rebuild marker clears or its `_COMMIT` lands, so their
    * write JOBS run concurrently — wall-clock = the widest table, not
    * the sum. Each table must be its own plan (the
    * [[Classifier.nbModelTables]] single-reader rule).
    */
  private def writeTables(dir: String,
      tables: Seq[(String, DataFrame)]): Unit =
    Takedown.inParallel(tables) { case (name, df) =>
      df.write.mode("overwrite").parquet(s"$dir/$name")
    }

  /** One table read across base + every committed delta batch. */
  def fold(spark: SparkSession, path: String, table: String): DataFrame = {
    val deltas = AtomicBatches.committedDirs(spark, s"$path/deltas")
    spark.read.parquet(
      s"$path/$table" +: deltas.map(d => s"$d/$table"): _*)
  }

  /** True when stream batch `batchId` already committed — the callers'
    * replay check, placed BEFORE their ledger guards (a redelivered
    * batch's own ids are legitimately in the ledger from the first
    * delivery, so the guard would misfire on a replay).
    */
  def streamBatchCommitted(spark: SparkSession, path: String,
      batchId: Long): Boolean =
    fsOf(spark, path).exists(new org.apache.hadoop.fs.Path(
      s"$path/deltas/s$batchId/_COMMIT"))

  /** The REPLAY-SAFE staging face for stream-driven ingestion
    * (`foreachBatch` at-least-once delivery): a micro-batch that was
    * already committed must be a NO-OP on redelivery, not a second
    * delta — integer counts double-apply silently, which is the one
    * corruption the `_COMMIT` protocol alone cannot prevent (a retry
    * through [[stageDelta]] would land as a NEW batch). Batches stage
    * under `deltas/s<batchId>` — a name [[AtomicBatches.nextBatchN]]'s
    * numeric parse ignores, so manual maintenance appends can never
    * collide with a resumed stream's id sequence — and redelivery of a
    * committed id returns false without touching disk; a crashed
    * (uncommitted) attempt is deleted and restaged verbatim.
    *
    * Returns true when the batch was staged, false on a replay skip.
    */
  def stageStreamDelta(spark: SparkSession, path: String, batchId: Long,
      tables: Seq[(String, DataFrame)]): Boolean = {
    require(batchId >= 0, "batchId must be non-negative")
    val fs = fsOf(spark, path)
    val bdir = s"$path/deltas/s$batchId"
    if (streamBatchCommitted(spark, path, batchId)) return false
    fs.delete(new org.apache.hadoop.fs.Path(bdir), true)
    writeTables(bdir, tables)
    AtomicBatches.commit(spark, bdir)
    true
  }

  /** Staged-swap compaction: compute each named table's folded
    * replacement via `fresh`, commit the stage, then idempotently swap
    * it in and retire the delta channel. Tables NOT named (e.g. a
    * frozen `meta`) are left untouched — deltas never carry them.
    */
  def compactSwap(spark: SparkSession, path: String, takeover: Boolean,
      tableNames: Seq[String])(fresh: String => DataFrame): Unit = {
    val fs = fsOf(spark, path)
    val nextDir = s"$path/base_next"
    if (AtomicBatches.committedDirs(spark, s"$path/deltas").isEmpty &&
        !AtomicBatches.maintenanceActive(spark, path) &&
        !fs.exists(new org.apache.hadoop.fs.Path(nextDir))) return
    AtomicBatches.withMaintenanceLock(spark, path, takeover) {
      val committed = fs.exists(
        new org.apache.hadoop.fs.Path(s"$nextDir/_COMMIT"))
      if (!committed) {
        fs.delete(new org.apache.hadoop.fs.Path(nextDir), true)
        // stage builds are independent folds; nothing reads the stage
        // before its _COMMIT below, so they run concurrently too
        Takedown.inParallel(tableNames) { name =>
          fresh(name).write.parquet(s"$nextDir/$name")
        }
        AtomicBatches.commit(spark, nextDir)
      }
      // idempotent swap: any crash point here is re-runnable verbatim
      // (rename-based — the stage is already the final folded form, so
      // re-writing it through parquet would pay the fold's I/O twice)
      fs.delete(new org.apache.hadoop.fs.Path(s"$path/deltas"), true)
      AtomicBatches.swapCommittedStage(spark, path, nextDir, tableNames)
    }
  }
}
