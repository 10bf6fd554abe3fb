package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col}
import graft.Frames

/** The pending-deletion channel of the indexed stores (prefix-join,
  * decontamination grams, containment shingles, BM25, k-means/PQ
  * models): an id staged here is hidden from every read face until
  * compaction retires it. One module, so a hardening fix cannot land in
  * one store and miss the others.
  *
  * Layout: `<path>/victims/<n>/ids`, one [[AtomicBatches]] batch per
  * delete, visible only once its `_COMMIT` lands (a crashed stage
  * leaves a directory readers ignore and the next stage sweeps). The
  * ids sit under one canonical `id` column — deletes passing different
  * column names would otherwise write mixed-schema files whose rows
  * read back NULL, a silently lost takedown — and [[read]] renames them
  * to the caller's column. A store may stage payload tables beside the
  * ids (BM25's negative `df`/`stats`) and read them from [[batches]].
  *
  * The stores are versionless, so every append face runs
  * [[VictimChannel.requireFresh]]; physical removal is the store's own
  * rewrite, handed the ids by [[VictimChannel.compact]]; a rebuild calls
  * [[VictimChannel.retire]] after its new base lands. IVF tombstones
  * (an `up_to` rank applied after the recency fold), the triangle
  * index's `removals` (an edge-recency fold) and the streaming stores'
  * channels ([[graft.streaming.BatchState]]) stay outside.
  *
  * An instance is the channel as of ONE listing of its committed
  * batches, so a delete committing mid-probe reaches all of a probe's
  * reads or none (BM25 folds the ids and payloads of the same batches).
  */
private[graft] final class VictimChannel(root: StoreRoot) {

  /** The committed batch directories. */
  val batches: Seq[String] = root.committed("victims")

  /** The pending ids as one column `as`, or None when no batch is
    * committed (no Spark job). An id deleted twice appears twice: the
    * anti- and semi-joins below answer the same either way, so only the
    * compaction pays a shuffle to deduplicate before it pins the ids.
    */
  def read(as: String): Option[DataFrame] =
    root.inBatches("ids", batches).map(_.select(col("id").as(as)))

  /** `store` with the pending ids hidden: one broadcast left-anti join
    * on `idCol` against the bounded takedown list.
    */
  def minus(store: DataFrame, idCol: String): DataFrame = read(idCol) match {
    case None => store
    case Some(v) => store.join(broadcast(v), Seq(idCol), "left_anti")
  }
}

private[graft] object VictimChannel {

  private def channel(path: String): String = s"$path/victims"

  /** True when a delete batch is committed (a listing, no Spark job). */
  def pending(spark: SparkSession, path: String): Boolean =
    AtomicBatches.committedDirs(spark, channel(path)).nonEmpty

  /** Stage one delete batch: sweep crashed attempts, write the ids of
    * the one-column frame `ids` under `id`, and the `payload` tables
    * the caller writes into the batch directory, concurrently — then
    * commit. Nothing of the batch is visible before the `_COMMIT`.
    */
  def stage(root: StoreRoot, ids: DataFrame)
      (payload: String => Seq[() => Unit] = _ => Nil): Unit = {
    val (spark, ch) = (root.spark, channel(root.path))
    AtomicBatches.sweepUncommitted(spark, ch)
    val dir = s"$ch/${AtomicBatches.nextBatchN(spark, ch)}"
    Takedown.inParallel((() => ids.toDF("id").write.mode("overwrite")
      .parquet(s"$dir/ids")) +: payload(dir))(_.apply())
    AtomicBatches.commit(spark, dir)
  }

  /** The append guard: refuse a batch holding a pending id (its rows
    * would land yet stay hidden). Runs no job while the channel is
    * empty.
    */
  def requireFresh(root: StoreRoot, df: DataFrame, idCol: String): Unit =
    root.victims.read(idCol).foreach { v =>
      val hits = df.select(col(idCol))
        .join(broadcast(v), Seq(idCol), "left_semi")
        .limit(5).collect().map(_.get(0))
      require(hits.isEmpty,
        s"${root.face} to ${root.path} includes ids with PENDING " +
        s"deletions (e.g. ${hits.mkString(", ")}): the appended rows " +
        "would be hidden by the victim list. Compact the index first, " +
        "then re-append.")
    }

  /** Compaction: skip when no batch is pending and no `_MAINT` marker
    * is left to resume; otherwise, under the exclusive maintenance lock,
    * hand the lock holder's handle and the deduplicated, checkpointed
    * pending ids (column `id`) to the store's `rewrite`, then retire the
    * channel. A crash leaves the marker and the channel in place, so the
    * re-run (`takeover = true`) hands the same ids to the rewrite, which
    * must be a pure function of the current tables and those ids.
    */
  def compact(spark: SparkSession, path: String, takeover: Boolean,
      face: String, rebuild: String)
      (rewrite: (StoreRoot, DataFrame) => Unit): Unit = {
    if (!pending(spark, path) &&
        !AtomicBatches.maintenanceActive(spark, path)) return
    StoreRoot.maintain(spark, path, takeover, face, rebuild) { root =>
      // every rewrite reads the checkpointed ids
      root.victims.read("id").foreach(v0 =>
        Frames.scoped(f => rewrite(root, f.checkpoint(v0.distinct()))))
      retire(spark, path)
    }
  }

  /** Drop the channel, committed or not: after a compaction applied it,
    * or after a rebuild's new base landed.
    */
  def retire(spark: SparkSession, path: String): Unit =
    StoreRoot.fs(spark, path)
      .delete(new org.apache.hadoop.fs.Path(channel(path)), true)
}
