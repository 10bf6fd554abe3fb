package graft.operators

import org.apache.spark.sql.SparkSession
import graft.Frames

/** The `_COMMIT` batch protocol shared by the append-only index
  * channels (the triangle index's `batches/`, the [[VictimChannel]]
  * `victims/`): each logical append stages its tables under one
  * numbered directory and becomes visible ATOMICALLY via a zero-byte
  * `_COMMIT` marker — a crash mid-stage leaves an uncommitted
  * directory that every reader ignores and the next writer sweeps, so
  * multi-table updates can neither half-apply nor double-apply on
  * retry. One implementation, so a hardening fix cannot silently miss
  * one of the channels.
  *
  * Writers are sequential per channel (the ingestion contract every
  * maintenance face here documents); numbering is max-existing + 1.
  *
  * MAINTENANCE LOCK: compaction rewrites corpus-partitioned tables in
  * place, so its exclusivity contract ("don't probe concurrently;
  * re-run after a crash") used to be docstring-only — a probe racing a
  * half-rewritten postings bucket or cells partition would silently
  * double-fold or miss rows. [[withMaintenanceLock]] turns that into
  * an error: a `_MAINT` marker at the index root is created when
  * compaction starts and removed when it COMPLETES; every read/write
  * face opens a [[StoreRoot]], which runs [[assertNotInMaintenance]],
  * and fails loudly while it is present. A crashed compaction
  * deliberately LEAVES the marker (the index may be mid-rewrite —
  * probes must keep failing), and the next
  * compaction refuses to start on the stale marker unless the caller
  * passes `takeover = true`, asserting no other maintenance is live.
  * A FULL rebuild also clears the marker: it overwrites every table,
  * making the interrupted compaction moot.
  */
private[graft] object AtomicBatches {

  /** Marker TYPES: the `_MAINT` file's content records WHICH kind of
    * maintenance owns the index, because the two recovery stories
    * differ and confusing them silently corrupts state. A crashed
    * COMPACTION is resumed by re-running the compaction with
    * `takeover = true` (its steps are pure functions of the current
    * tables). A crashed REBUILD must be recovered by RE-RUNNING THE
    * REBUILD: the base may be half-overwritten and the superseded side
    * channels (deltas / a committed `base_next` stage) not yet retired,
    * so a compaction taking over would fold stale deltas — or swap a
    * stale committed stage — onto the fresh base, exactly the silent
    * corruption the rebuild marker exists to make loud.
    * [[withMaintenanceLock]] therefore REFUSES takeover of a
    * rebuild-typed marker. (A pre-typing empty marker reads as
    * compact-typed — the only writer of empty markers was the old
    * compaction path.)
    */
  private val KindCompact = "compact"
  private val KindRebuild = "rebuild"

  /** True while a maintenance (compaction or rebuild) pass owns the
    * index.
    */
  def maintenanceActive(spark: SparkSession, indexPath: String): Boolean = {
    val fs = StoreRoot.fs(spark, indexPath)
    fs.exists(new org.apache.hadoop.fs.Path(s"$indexPath/_MAINT"))
  }

  /** The live marker's type (compact/rebuild), or None when no
    * maintenance owns the index.
    */
  def maintenanceKind(spark: SparkSession, indexPath: String)
      : Option[String] = {
    val fs = StoreRoot.fs(spark, indexPath)
    val m = new org.apache.hadoop.fs.Path(s"$indexPath/_MAINT")
    if (!fs.exists(m)) None
    else try {
      val in = fs.open(m)
      val content =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
      Some(if (content == KindRebuild) KindRebuild else KindCompact)
    } catch {
      // exists() raced a completing pass's marker delete: the index is
      // consistent at this instant — report "no maintenance", exactly
      // what the pre-typing exists()-only check would have said
      case _: java.io.FileNotFoundException => None
    }
  }

  // `overwrite = false` is the LOCK acquisition (atomic exclusive
  // create — the loser of a check-then-create race throws instead of
  // silently sharing the index); rebuilds pass true, they supersede
  // any marker by contract
  private def createMarker(fs: org.apache.hadoop.fs.FileSystem,
      m: org.apache.hadoop.fs.Path, kind: String,
      overwrite: Boolean): Unit = {
    val out = fs.create(m, overwrite)
    out.write(kind.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    out.close()
  }

  /** Loud guard of every probe/delete/append face, run once per
    * [[StoreRoot]] before any table is read — `face` names the caller in
    * the error, and the message names the right recovery for the
    * marker's TYPE.
    */
  def assertNotInMaintenance(spark: SparkSession, indexPath: String,
      face: String): Unit =
    maintenanceKind(spark, indexPath).foreach { kind =>
      val fix =
        if (kind == KindRebuild)
          "Wait for / RE-RUN THE REBUILD to completion (it overwrites " +
          "every table and clears the marker); compaction takeover is " +
          "refused on a rebuild marker."
        else
          "Wait for / re-run the compaction (takeover = true resumes " +
          "after a crash); a full rebuild also clears the marker."
      throw new IllegalArgumentException(
        s"requirement failed: $face: index at $indexPath is under " +
        s"maintenance (_MAINT marker present, type: $kind) — a $kind " +
        s"pass is running, or one crashed mid-rewrite and the index " +
        s"may be inconsistent. $fix")
    }

  /** Run `body` holding the index's exclusive maintenance marker
    * (compact-typed). The marker is removed only on SUCCESS — a crash
    * leaves it so every face keeps failing until compaction re-runs to
    * completion (`takeover = true`, required on a stale marker) or a
    * rebuild supersedes the index. Takeover of a REBUILD-typed marker
    * is refused regardless of the flag: a half-done rebuild's stale
    * side channels would be folded onto its fresh base (see
    * [[maintenanceKind]]); only re-running the rebuild recovers.
    * `body` must not use non-local returns (they would skip the
    * release and strand the marker).
    */
  def withMaintenanceLock[T](spark: SparkSession, indexPath: String,
      takeover: Boolean)(body: => T): T = {
    val fs = StoreRoot.fs(spark, indexPath)
    val m = new org.apache.hadoop.fs.Path(s"$indexPath/_MAINT")
    maintenanceKind(spark, indexPath) match {
      case Some(KindRebuild) => throw new IllegalArgumentException(
        s"requirement failed: _MAINT marker at $indexPath is " +
        "REBUILD-typed: a rebuild crashed mid-overwrite (base possibly " +
        "half-written, stale side channels not yet retired). A " +
        "compaction must NOT take this over — folding the stale " +
        "deltas/stage onto the fresh base is a silent rollback. " +
        "Re-run the rebuild; it supersedes everything and clears the " +
        "marker.")
      case Some(_) => require(takeover,
        s"stale _MAINT marker at $indexPath: a maintenance pass is live " +
        "or crashed mid-rewrite. Confirm none is running, then re-run " +
        "with takeover = true to resume (safe: compaction steps are pure " +
        "functions of the current tables and re-runnable).")
      case None =>
        try createMarker(fs, m, KindCompact, overwrite = false)
        catch {
          case e: java.io.IOException => throw new IllegalArgumentException(
            s"lost the _MAINT acquisition race at $indexPath: another " +
            "maintenance pass created the marker between the check and " +
            "the exclusive create — exactly one pass may own an index.", e)
        }
    }
    val out = body
    fs.delete(m, false)
    out
  }

  /** Remove the maintenance marker if present — the full-rebuild faces
    * call this: a rebuild overwrites every table, making whatever the
    * interrupted compaction left behind moot.
    */
  def clearMaintenance(spark: SparkSession, indexPath: String): Unit = {
    val fs = StoreRoot.fs(spark, indexPath)
    val m = new org.apache.hadoop.fs.Path(s"$indexPath/_MAINT")
    if (fs.exists(m)) fs.delete(m, false)
  }

  /** Run a FULL REBUILD holding the `_MAINT` marker. Rebuilds are
    * multi-step too — base tables land, THEN the stale side channels
    * (deltas / victims / batches / a committed `base_next` stage) are
    * retired — so a crash between the steps used to leave readers
    * silently folding stale channel state onto the fresh base (or a
    * later compaction swapping a stale committed stage IN). Under the
    * marker the window is loud instead: every face fails until a
    * rebuild runs to completion. Unlike [[withMaintenanceLock]], an
    * existing marker is taken over without a flag — a rebuild
    * supersedes any live-or-crashed maintenance by definition (it
    * overwrites every table), which is also why re-running a crashed
    * rebuild is always the fix. The marker is written REBUILD-typed
    * (re-typing any marker it takes over): should THIS pass crash,
    * [[withMaintenanceLock]] must refuse a compaction takeover — only
    * another rebuild recovers a half-overwritten base.
    *
    * AVAILABILITY caveat (deliberate): the marker is planted before
    * `body` does any work, so a failure even BEFORE the first
    * destructive write leaves a fully intact index unavailable until a
    * rebuild completes (or [[clearMaintenance]] after verifying nothing
    * was written). Callers should therefore run failure-prone
    * validation/training BEFORE entering the marker — the ivfWriteIndex
    * faces train their quantizers outside it for exactly this reason.
    */
  def withRebuildMarker[T](spark: SparkSession, indexPath: String)
      (body: => T): T = {
    val fs = StoreRoot.fs(spark, indexPath)
    val m = new org.apache.hadoop.fs.Path(s"$indexPath/_MAINT")
    createMarker(fs, m, KindRebuild, overwrite = true)
    val out = body
    fs.delete(m, false)
    out
  }

  /** Delete crashed (uncommitted) batch directories under `root` —
    * invisible garbage from a failed staging attempt.
    */
  def sweepUncommitted(spark: SparkSession, root: String): Unit = {
    val (fs, r) =
      (StoreRoot.fs(spark, root), new org.apache.hadoop.fs.Path(root))
    if (fs.exists(r)) fs.listStatus(r).foreach { st =>
      if (st.isDirectory &&
          !fs.exists(new org.apache.hadoop.fs.Path(st.getPath, "_COMMIT")))
        fs.delete(st.getPath, true)
    }
  }

  /** The committed batch directories under `root` (marker exists). */
  def committedDirs(spark: SparkSession, root: String): Seq[String] = {
    val (fs, r) =
      (StoreRoot.fs(spark, root), new org.apache.hadoop.fs.Path(root))
    if (!fs.exists(r)) Seq.empty
    else fs.listStatus(r).toSeq
      .filter(st => st.isDirectory &&
        fs.exists(new org.apache.hadoop.fs.Path(st.getPath, "_COMMIT")))
      .map(_.getPath.toString)
  }

  /** 1 + the highest numeric batch directory name under `root` (0 when
    * none exist).
    */
  def nextBatchN(spark: SparkSession, root: String): Long = {
    val (fs, r) =
      (StoreRoot.fs(spark, root), new org.apache.hadoop.fs.Path(root))
    (Seq(-1L) ++ (if (fs.exists(r))
      fs.listStatus(r).toSeq.flatMap(st =>
        scala.util.Try(st.getPath.getName.toLong).toOption)
      else Seq.empty)).max + 1
  }

  /** The atomic commit point: one zero-byte marker create. */
  def commit(spark: SparkSession, batchDir: String): Unit = {
    val fs = StoreRoot.fs(spark, batchDir)
    fs.create(new org.apache.hadoop.fs.Path(s"$batchDir/_COMMIT"), true)
      .close()
  }

  /** Swap a COMMITTED compaction stage's tables into the live base by
    * filesystem rename instead of a Spark read-back + rewrite: the
    * stage under `nextDir` was already written in its final folded
    * form, so copying it through parquet paid the whole fold's I/O a
    * second time — at 100 TB that is re-writing (and re-reading) the
    * entire store to move it one directory. A rename is a metadata
    * operation on any hierarchical filesystem (the [[Tables]] staged
    * delete and the ModelStore manifest swap already rely on exactly
    * this; object stores without atomic rename keep the maintenance
    * marker as their guard — the window is loud, not silent).
    *
    * Idempotent per table, so any crash point re-runs verbatim under
    * the caller's `_MAINT` + `_COMMIT` protocol: a table still present
    * under the stage replaces the live one (delete + rename); a table
    * ABSENT from the stage was already swapped by a crashed prior
    * attempt and is left alone. The stage directory (with its
    * `_COMMIT`) is dropped last. Callers must hold the maintenance
    * marker and have verified the stage's `_COMMIT` before calling.
    */
  def swapCommittedStage(spark: SparkSession, path: String,
      nextDir: String, tableNames: Seq[String]): Unit = {
    val fs = StoreRoot.fs(spark, nextDir)
    tableNames.foreach { name =>
      val staged = new org.apache.hadoop.fs.Path(s"$nextDir/$name")
      if (fs.exists(staged)) {
        val live = new org.apache.hadoop.fs.Path(s"$path/$name")
        fs.delete(live, true)
        if (!fs.rename(staged, live)) throw new IllegalStateException(
          s"compaction stage swap: rename $staged -> $live failed")
      }
    }
    fs.delete(new org.apache.hadoop.fs.Path(nextDir), true)
  }

  /** The one victim-partition rewrite protocol every compaction face
    * shares: find the partitions holding DEAD rows (driver-bounded —
    * one value per partition), rewrite ONLY those via dynamic partition
    * overwrite, and explicitly delete any partition the rewrite emptied
    * (dynamic overwrite only replaces partitions PRESENT in the output —
    * a stale directory left behind silently resurrects its rows).
    *
    * `store` may carry join-helper columns; `outColumns` are the real
    * store columns written back. `dead` must ALSO encode any horizon
    * bound (a partition is touched iff some row satisfies `dead`).
    * `sortWithin` preserves a store's row-group skipping order. The
    * FileSystem is resolved from `path` itself — the stores of one
    * logical state may live on different filesystems.
    */
  def pruneDeadPartitionRows(spark: SparkSession, path: String,
      partitionCol: String, store: org.apache.spark.sql.DataFrame,
      dead: org.apache.spark.sql.Column, outColumns: Seq[String],
      sortWithin: Option[String] = None): Unit = {
    import org.apache.spark.sql.functions.col
    val fs = StoreRoot.fs(spark, path)
    val withP = store.withColumn("__pv", col(partitionCol).cast("long"))
    val touched = withP.filter(dead).select(col("__pv")).distinct()
      .collect().map(_.getLong(0)).sorted
    if (touched.isEmpty) return
    Frames.scoped { f =>
      // rewrite + emptied-partition scan read it
      val kept = f.checkpoint(withP
        .filter(col("__pv").isin(touched: _*) && !dead)
        .select(outColumns.map(col): _*))
      val parted = kept.repartition(col(partitionCol))
      sortWithin.map(parted.sortWithinPartitions(_)).getOrElse(parted)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partitionCol)
        .parquet(path)
      val out = kept.select(col(partitionCol).cast("long")).distinct()
        .collect().map(_.getLong(0)).toSet
      touched.filterNot(out).foreach { v =>
        fs.delete(
          new org.apache.hadoop.fs.Path(s"$path/$partitionCol=$v"), true)
      }
    }
  }
}
