package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode}

import graft.Frames
import graft.operators.StoreRoot

/** The batch-partitioned state protocol every `foreachBatch` store of
  * [[StreamingOps]] shares.
  *
  * Structured Streaming delivers a micro-batch at least once: a batch
  * whose commit did not land runs again, with the same id. Every store
  * is a parquet table partitioned by `batch_id`, written by a dynamic
  * overwrite of the writing batch's own partition ([[writeBatch]]), so
  * a second delivery replaces the first instead of adding to it; and a
  * batch reads the state of every OTHER batch ([[priorRows]]), never
  * its own first attempt. That turns at-least-once delivery into
  * exactly-once state.
  *
  * Deletions are `(id, up_to)` victim records ([[withVictims]]): a row
  * of batch `b` is dead iff a victim record for its id has
  * `up_to ≥ b`, so a later batch that re-ingests the id resurrects it.
  */
private[graft] object BatchState {

  /** The stream sink: `body(batch, batchId, frames)` once per
    * micro-batch, checkpointed at `checkpoint`. `frames` is the batch's
    * own scope: what the body pins there is freed when the batch ends,
    * so executor blocks never accumulate for the stream's lifetime.
    */
  def eachBatch(df: DataFrame, checkpoint: String)(
      body: (DataFrame, Long, Frames) => Unit): DataStreamWriter[Row] =
    df.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        Frames.scoped(body(batch.toDF(), batchId, _))
      }

  /** Write `df` as partition `batch_id = batchId` of `path`, replacing
    * only that partition (a replay replaces its first attempt).
    * Compactions write their snapshot at `batchId = -1`.
    */
  def writeBatch(df: DataFrame, path: String, batchId: Long): Unit =
    df.withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(path)

  /** The rows of every batch of the store at `root` except `batchId`,
    * `batch_id` kept; None when the store has no rows to read — never
    * written, or emptied by a compaction. Any other read error
    * surfaces: a store written without `batch_id` partitions fails the
    * batch instead of silently reading as empty.
    */
  def priorRows(root: StoreRoot, batchId: Long): Option[DataFrame] =
    root.side("").map(_.where(col("batch_id") =!= batchId))

  /** The highest `batch_id` of `rows`, None when it has no rows. */
  def maxBatch(rows: DataFrame): Option[Long] =
    Option(rows.agg(max(col("batch_id").cast("long"))).head.get(0))
      .map(_.toString.toLong)

  /** The latest batch's rows of a carried-state store (`batch_id`
    * dropped), None when it has no rows.
    */
  def latest(rows: DataFrame): Option[DataFrame] =
    maxBatch(rows).map(b =>
      rows.where(col("batch_id") === b).drop("batch_id"))

  private val stateRoot = StoreRoot.of("its stream face")

  /** The current state of a carried-state store, for its readers. */
  def current(spark: SparkSession, path: String): DataFrame =
    stateRoot(spark, path, "current-state read")
      .side("").flatMap(latest).getOrElse(
        throw new IllegalArgumentException(s"no committed state under $path"))

  /** One batch of a carried-state store: `next` folds the batch into
    * the latest prior state (`empty`'s columns; `empty` itself before
    * the first batch), the result lands at `batchId`, and partitions
    * older than the previous batch are pruned — the previous one stays,
    * since a replay of this batch must find it. The prune runs after
    * the write, so a crash leaves extra partitions, never missing ones.
    */
  def carry(path: String, batchId: Long, empty: DataFrame)(
      next: DataFrame => DataFrame): Unit = {
    val spark = empty.sparkSession
    val prev = priorRows(stateRoot(spark, path, s"stream batch $batchId"),
      batchId).flatMap(latest)
      .fold(empty)(_.select(empty.columns.map(col): _*))
    writeBatch(next(prev), path, batchId)
    prune(spark, path)(b => b != batchId && b != batchId - 1)
  }

  /** Delete the `batch_id=<b>` directories of `path` for which
    * `drop(b)` holds.
    */
  def prune(spark: SparkSession, path: String)(drop: Long => Boolean): Unit = {
    val (fs, root) =
      (StoreRoot.fs(spark, path), new org.apache.hadoop.fs.Path(path))
    if (fs.exists(root)) fs.listStatus(root).foreach { st =>
      val name = st.getPath.getName
      if (st.isDirectory && name.startsWith("batch_id="))
        scala.util.Try(name.stripPrefix("batch_id=").toLong).toOption
          .filter(drop).foreach(_ => fs.delete(st.getPath, true))
    }
  }

  /** `store` with the `(id, up_to)` victim records joined on each of
    * `idCols`, and the condition that kills a row: some id column's
    * victim has `up_to ≥` the row's batch.
    */
  def withVictims(store: DataFrame, victims: DataFrame,
      idCols: Seq[String]): (DataFrame, Column) = {
    val joined = idCols.zipWithIndex.foldLeft(store) { case (df, (c, i)) =>
      df.join(victims.select(col("id").as(c), col("up_to").as(s"__u$i")),
        Seq(c), "left_outer")
    }
    val dead = idCols.indices.map(i => col(s"__u$i").isNotNull &&
      col("batch_id").cast("long") <= col(s"__u$i")).reduce(_ || _)
    (joined, dead)
  }

  /** The rows of `store` no victim record kills ([[withVictims]]). */
  def live(store: DataFrame, victims: Option[DataFrame],
      idCols: Seq[String]): DataFrame =
    victims.fold(store) { v =>
      val (joined, dead) = withVictims(store, v, idCols)
      joined.filter(!dead).select(store.columns.map(col): _*)
    }

  /** Per `keys`, `value` of the row with the highest `batch_id`, as
    * `as`, and that batch as `__b`.
    */
  def latestPerKey(rows: DataFrame, keys: Seq[String], value: Column,
      as: String): DataFrame =
    rows.groupBy(keys.map(col): _*)
      .agg(max_by(value, col("batch_id")).as(as),
        max(col("batch_id").cast("long")).as("__b"))

  /** The label fold of a cluster-labels store: the latest `cluster_id`
    * per `id`, with takedown corrections (id, cluster_id nullable,
    * up_to, seq) applied — the latest correction per id (by `seq`)
    * replaces the label, or removes it when NULL, iff its `up_to`
    * covers the label's batch; a later batch's label outranks it.
    */
  def foldLabels(rows: DataFrame, corrections: Option[DataFrame]): DataFrame = {
    val latest = latestPerKey(rows, Seq("id"), col("cluster_id"), "cluster_id")
    corrections match {
      case None => latest.drop("__b")
      case Some(corr) =>
        val latestCorr = corr.groupBy("id")
          .agg(max_by(struct(col("cluster_id"), col("up_to")), col("seq"))
            .as("__c"))
          .select(col("id"), col("__c.cluster_id").as("__cc"),
            col("__c.up_to").as("__upto"))
        latest.join(latestCorr, Seq("id"), "left_outer")
          .select(col("id"),
            when(col("__upto").isNotNull && col("__b") <= col("__upto"),
              col("__cc")).otherwise(col("cluster_id")).as("cluster_id"))
          .filter(col("cluster_id").isNotNull)
    }
  }
}
