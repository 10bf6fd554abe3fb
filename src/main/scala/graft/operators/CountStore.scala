package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, lit, max, md5, sum, when}
import graft.Frames

/** The shared lifecycle of the COUNT-FORM model stores — persisted
  * models whose state is additive integer sufficient statistics, so an
  * append ADDS a batch's counts and a takedown SUBTRACTS a victim's,
  * yielding exactly the statistics of retraining on the changed corpus
  * ([[Classifier.nbModelWrite]]'s NB classifier,
  * [[Sampling.dsirStoreWrite]]'s DSIR importance model). One
  * implementation of the store protocol, so a hardening fix cannot
  * silently miss one of the stores (the [[AtomicBatches]] rationale,
  * one level up). The stores own only their table builders and model
  * readers; the protocol is:
  *
  *  - base tables overwritten by a rebuild, which also retires the
  *    delta channel and any maintenance marker — AFTER the new base
  *    landed (the bm25IndexWrite discipline),
  *  - updates staged under `deltas/<n>/` and made visible atomically
  *    via the `_COMMIT` marker ([[AtomicBatches]]); readers fold
  *    base + committed deltas by exact integer sums, so batch order is
  *    invisible,
  *  - the membership ledger ([[Ledger]]): a `members` table with one
  *    `mult = +1` row per ingested key with non-null text and one
  *    `mult = −1` row per deleted key; a key is PRESENT while
  *    Σ `mult` > 0. Its `text_md5` pins the exact ingested text, so
  *    [[stageDelete]] refuses a drifted victim text (subtracting counts
  *    recomputed from it would silently corrupt the model),
  *    [[requireFresh]] refuses re-ingestion and divergent texts under
  *    two keys of one id, [[presentIds]] is the audit probe, and
  *    compaction folds the ledger to one +1 row per present key,
  *  - staged-swap compaction (the trianglesIndexCompact discipline):
  *    the fresh base is computed under `base_next/` and `_COMMIT`-marked
  *    BEFORE the swap touches anything readers use; a re-run
  *    (`takeover = true` on a stale `_MAINT`) either recomputes the
  *    stage from the still-intact old state or just redoes the
  *    idempotent swap.
  */
private[graft] object CountStore {

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
  def requireUniqueBatchKeys(batch: DataFrame,
      keyCols: Seq[String], face: String): Unit =
    raiseDuplicateKeys(face, keyCols,
      uniqueKeyViolations(batch, keyCols).limit(5).collect()
        .map(_.getString(0)))

  /** The duplicate-key probe of [[requireUniqueBatchKeys]] as a frame —
    * one stringified key per violating group — so [[requireFresh]] and
    * DSIR's two-role write guard can fold it into a single tagged-union
    * guard job with their other probes (one driver round trip, and one
    * plan: a lone reader of the caller's expression instances — the
    * nbModelTables rule).
    */
  def uniqueKeyViolations(batch: DataFrame,
      keyCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, concat_ws, count}
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
      val fs = StoreRoot.fs(spark, path)
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
  def fold(root: StoreRoot, table: String): DataFrame =
    root.read(table, root.committed("deltas"))

  /** A store's membership ledger layout: the `members` table's key
    * columns (`id` first — DSIR adds `role`) and the per-key columns its
    * compaction fold carries (`text_md5`, the pinned digest of the
    * ingested text, among them). `faces` is the store's face-name prefix
    * (`nbModel` → `nbModelWrite`, `nbModelDelete`, …), so the shared
    * checks name the store's own faces in their errors.
    */
  final case class Ledger(keys: Seq[String], carried: Seq[String],
      faces: String) {
    require(keys.headOption.contains("id") && carried.contains("text_md5"),
      "a ledger is keyed by id first and carries text_md5")

    /** The store's handle for `face`; its write face rebuilds it. */
    def open(spark: SparkSession, path: String, face: String): StoreRoot =
      new StoreRoot(spark, path, face, s"${faces}Write")
  }

  // the ONE present rule: a key influences the model while Σ mult > 0.
  // `carried` re-reads the key's pinned +1 row via max() — a present key
  // has exactly one +1 row and no −1 row, because the append guard
  // refuses re-ingestion of any key the ledger still holds
  private def present(root: StoreRoot, ledger: Ledger,
      carried: Seq[String]): DataFrame =
    fold(root, "members").groupBy(ledger.keys.map(col): _*)
      .agg(sum(col("mult")).as("__m"), carried.map(c => max(col(c)).as(c)): _*)
      .filter(col("__m") > 0)
      .select((ledger.keys ++ carried).map(col): _*)

  /** AUDIT probe: the ids whose counts still influence the model under
    * any key — one `id` column, lazily corpus-sized (compose with a
    * semi-join; [[Takedown.audit]] does). A takedown is PROVEN here: an
    * id [[stageDelete]] subtracted no longer appears, compacted or not.
    */
  def presentIds(spark: SparkSession, path: String,
      ledger: Ledger): DataFrame =
    present(ledger.open(spark, path, s"${ledger.faces}PresentIds"), ledger,
      Nil).select("id").distinct()

  /** Loud guard for the append faces, run BEFORE anything is staged:
    * the batch's non-null-text rows are keyed by `id` plus `keyValues`
    * (one value per further ledger key column, e.g. DSIR's role), and
    * the batch is refused when
    *
    *  - it holds one key twice ([[raiseDuplicateKeys]]),
    *  - an id is in the ledger under the SAME key, currently or formerly
    *    (until a compaction retires its rows): re-ingesting a changed
    *    doc would leave the counts describing neither version, and the
    *    ledger could no longer say what to subtract on a takedown,
    *  - an id is in the ledger under ANY key with a DIFFERENT text
    *    digest: a takedown subtracts one submitted text from every key
    *    the id holds, so divergent texts would make the id undeletable.
    *
    * Both probes run as ONE bounded collect of a tagged union: one
    * driver round trip, and one PLAN — the probes share the caller's
    * batch frame, and a single plan keeps every stateful expression
    * instance single-reader (the [[Classifier.nbModelTables]] rule).
    * The ledger side broadcasts the BOUNDED batch; the other direction
    * would broadcast a corpus-sized id set.
    */
  def requireFresh(ledger: Ledger, root: StoreRoot, docs: DataFrame,
      idCol: String, textCol: String, face: String,
      keyValues: Column*): Unit = {
    val extra = ledger.keys.tail
    require(keyValues.size == extra.size,
      s"$face: one key value per ledger key column ${extra.mkString(", ")}")
    val batch = docs.filter(col(textCol).isNotNull).select(
      (col(idCol).as("id") +:
        keyValues.zip(extra).map { case (v, k) => v.as(k) }) :+
        md5(col(textCol).cast("binary")).as("__bmd5"): _*)
    val dup = uniqueKeyViolations(batch, ledger.keys).limit(5)
      .select(lit("dup").as("__k"), col("__key").as("__v"))
    val sameKey =
      extra.map(k => col(k) === col(s"__b_$k")).foldLeft(lit(true))(_ && _)
    val clash = fold(root, "members")
      .select((ledger.keys :+ "text_md5").map(col): _*)
      .join(broadcast(batch.select((col("id") +:
          extra.map(k => col(k).as(s"__b_$k"))) :+ col("__bmd5"): _*)
        .dropDuplicates("id")), Seq("id"))
      .filter(sameKey || col("text_md5") =!= col("__bmd5"))
      .limit(5)
      .select(when(sameKey, lit("same")).otherwise(lit("cross")).as("__k"),
        col("id").cast("string").as("__v"))
    val viol = dup.unionByName(clash).collect()
    def tagged(k: String): Seq[String] =
      viol.filter(_.getString(0) == k).map(_.getString(1)).toSeq
    raiseDuplicateKeys(face, ledger.keys, tagged("dup"))
    val same = tagged("same")
    require(same.isEmpty,
      s"$face to ${root.path} includes ids already in the model's " +
      s"membership ledger (e.g. ${same.mkString(", ")}): re-ingesting an " +
      "id already " +
      s"in the ledger under the same ${ledger.keys.mkString("(", ", ", ")")} " +
      "key would corrupt the counts (and a formerly-deleted id's ledger " +
      s"rows are retired only by ${ledger.faces}Compact). Compact first, " +
      s"or rebuild with ${ledger.faces}Write.")
    val cross = tagged("cross")
    require(cross.isEmpty,
      s"$face to ${root.path}: ids ${cross.mkString(", ")} are in the " +
      s"ledger under the other ${extra.mkString("/")} with DIFFERENT text — a " +
      "takedown subtracts one submitted text from every key an id holds, " +
      "so divergent texts would make these ids undeletable. Ingest " +
      s"byte-identical text under every key, or rebuild with " +
      s"${ledger.faces}Write.")
  }

  /** DELETE (takedown / exact unlearning) face: subtract the victims'
    * counts, staged as one atomic `_COMMIT` delta. ONE ledger pass joins
    * the victims (non-null text, one row per id) to their present keys
    * and pinned `text_md5` — one row per (victim, held key), the frame
    * `tables` receives as (`idCol`, `textCol`, further key columns) to
    * build the store's tables with `sign = -1`. The submitted text is
    * VERIFIED against the pinned digest byte for byte: a drifted text
    * fails loudly, since its recomputed counts would silently corrupt
    * the model. Ids not currently present (never added, or already
    * deleted) are skipped — double-deleting must not double-subtract,
    * the bm25IndexDelete rule. O(victim-size) beyond the column-pruned
    * ledger pass.
    */
  def stageDelete(ledger: Ledger, victimDocs: DataFrame, idCol: String,
      textCol: String, path: String)(
      tables: (StoreRoot, DataFrame) => Seq[(String, DataFrame)]): Unit = {
    val spark = victimDocs.sparkSession
    val face = s"${ledger.faces}Delete"
    val root = ledger.open(spark, path, face)
    AtomicBatches.sweepUncommitted(spark, s"$path/deltas")
    Frames.scoped { f =>
      // drift check + every delta table read it
      val victims = f.checkpoint(victimDocs.filter(col(textCol).isNotNull)
        .select(col(idCol).as("id"), col(textCol).as("__text"))
        .dropDuplicates("id")
        .join(present(root, ledger, Seq("text_md5")), Seq("id")))
      // the emptiness probe and the drift check are independent actions
      // on the checkpointed victims frame — one concurrent round trip
      @volatile var empty = false
      @volatile var drift: Array[Any] = Array.empty
      Takedown.inParallel(Seq[() => Unit](
        () => empty = victims.isEmpty,
        () => drift = victims
          .filter(md5(col("__text").cast("binary")) =!= col("text_md5"))
          .select("id").limit(5).collect().map(_.get(0))))(_.apply())
      require(drift.isEmpty,
        s"$face on $path: submitted text for ids ${drift.mkString(", ")} " +
        "does not match what was ingested (text digest differs) — " +
        "subtracting drifted counts would silently corrupt the model. " +
        s"Submit the ingested text, or rebuild with ${ledger.faces}Write " +
        "over the surviving corpus.")
      if (!empty) stageDelta(spark, path, tables(root, victims.select(
        (col("id").as(idCol) +: col("__text").as(textCol) +:
          ledger.keys.tail.map(col)): _*)))
    }
  }

  /** True when stream batch `batchId` already committed — the callers'
    * replay check, placed BEFORE their ledger guards (a redelivered
    * batch's own ids are legitimately in the ledger from the first
    * delivery, so the guard would misfire on a replay).
    */
  def streamBatchCommitted(spark: SparkSession, path: String,
      batchId: Long): Boolean =
    StoreRoot.fs(spark, path).exists(new org.apache.hadoop.fs.Path(
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
    val fs = StoreRoot.fs(spark, path)
    val bdir = s"$path/deltas/s$batchId"
    if (streamBatchCommitted(spark, path, batchId)) return false
    fs.delete(new org.apache.hadoop.fs.Path(bdir), true)
    writeTables(bdir, tables)
    AtomicBatches.commit(spark, bdir)
    true
  }

  /** Staged-swap compaction: compute each named table's folded
    * replacement via `fresh` (handed the lock holder's handle) and the
    * ledger's fold (one +1 row per present key, carrying the ledger's
    * pinned columns) as `members`,
    * commit the stage, then idempotently swap it in and retire the delta
    * channel. Tables NOT named (e.g. a frozen `meta`) are left untouched
    * — deltas never carry them.
    */
  def compactSwap(spark: SparkSession, path: String, takeover: Boolean,
      ledger: Ledger, tableNames: Seq[String])(
      fresh: (StoreRoot, String) => DataFrame): Unit = {
    val staged = tableNames :+ "members"
    val fs = StoreRoot.fs(spark, path)
    val nextDir = s"$path/base_next"
    if (AtomicBatches.committedDirs(spark, s"$path/deltas").isEmpty &&
        !AtomicBatches.maintenanceActive(spark, path) &&
        !fs.exists(new org.apache.hadoop.fs.Path(nextDir))) return
    StoreRoot.maintain(spark, path, takeover, s"${ledger.faces}Compact",
        s"${ledger.faces}Write") { root =>
      val committed = fs.exists(
        new org.apache.hadoop.fs.Path(s"$nextDir/_COMMIT"))
      if (!committed) {
        fs.delete(new org.apache.hadoop.fs.Path(nextDir), true)
        // stage builds are independent folds; nothing reads the stage
        // before its _COMMIT below, so they run concurrently too
        Takedown.inParallel(staged) { name =>
          val df = if (name == "members")
            present(root, ledger, ledger.carried).withColumn("mult", lit(1))
          else fresh(root, name)
          df.write.parquet(s"$nextDir/$name")
        }
        AtomicBatches.commit(spark, nextDir)
      }
      // idempotent swap: any crash point here is re-runnable verbatim
      // (rename-based — the stage is already the final folded form, so
      // re-writing it through parquet would pay the fold's I/O twice)
      fs.delete(new org.apache.hadoop.fs.Path(s"$path/deltas"), true)
      AtomicBatches.swapCommittedStage(spark, path, nextDir, staged)
    }
  }
}
