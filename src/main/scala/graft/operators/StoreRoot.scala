package graft.operators

import org.apache.spark.sql.{AnalysisException, DataFrame, Row, SparkSession}

/** One handle on a persisted store's root directory: the only way a
  * store face reads a store table. Building it runs the `_MAINT` check
  * ([[AtomicBatches.assertNotInMaintenance]]) once, so a table can only
  * be read after the check has run; a compaction reads through the
  * handle [[StoreRoot.maintain]] gives the lock holder instead.
  *
  * `face` names the caller in every error; `rebuild` names the write
  * face that rebuilds the store, the instruction a missing table
  * reports. Table `""` is the root itself — the batch-partitioned
  * stream stores ([[graft.streaming.BatchState]]) are one table there.
  */
private[graft] final class StoreRoot private (
    private[graft] val spark: SparkSession, val path: String,
    private[graft] val face: String, rebuild: String, held: Boolean) {

  def this(spark: SparkSession, path: String, face: String,
      rebuild: String) = this(spark, path, face, rebuild, held = false)

  if (!held) AtomicBatches.assertNotInMaintenance(spark, path, face)

  private def at(table: String): String =
    if (table.isEmpty) path else s"$path/$table"

  private def missing(table: String, e: Throwable = null) =
    new IllegalArgumentException(
      s"$face: ${at(table)} does not exist - $path is not a store $face " +
        s"reads, or it predates that table; rebuild with $rebuild", e)

  /** True when `table` exists (a directory check, no Spark job). */
  def has(table: String): Boolean =
    StoreRoot.fs(spark, path).exists(new org.apache.hadoop.fs.Path(at(table)))

  /** Fails loudly, naming the rebuild face, unless `table` exists. */
  def expect(table: String): Unit = if (!has(table)) throw missing(table)

  /** `table` in one scan with the same table of each committed batch
    * directory in `batches` — loud when the root's table is missing.
    */
  def read(table: String, batches: Seq[String] = Nil): DataFrame =
    try spark.read.parquet(at(table) +: batches.map(d => s"$d/$table"): _*)
    catch {
      case e: AnalysisException if e.getCondition == "PATH_NOT_FOUND" =>
        throw missing(table, e)
    }

  /** `table` of the committed batch directories `batches` in one scan,
    * None when there are none.
    */
  def inBatches(table: String, batches: Seq[String]): Option[DataFrame] =
    Option.when(batches.nonEmpty)(
      spark.read.parquet(batches.map(d => s"$d/$table"): _*))

  /** A table that may legitimately hold no rows: None when it was never
    * written, or is an EMPTY directory (a compaction that pruned every
    * `batch_id=` partition leaves the root, and schema inference over
    * zero files throws rather than returning empty). The existence check
    * comes first — Spark's read of a missing path logs a stack trace —
    * and the catch covers an emptied directory and a delete racing the
    * read.
    */
  def side(table: String): Option[DataFrame] =
    if (!has(table)) None
    else try Some(spark.read.parquet(at(table)))
    catch {
      case e: AnalysisException
          if e.getCondition == "PATH_NOT_FOUND" ||
             e.getCondition == "UNABLE_TO_INFER_SCHEMA" => None
    }

  /** The committed batch directories of the `channel` under the root
    * ([[AtomicBatches]]).
    */
  def committed(channel: String): Seq[String] =
    AtomicBatches.committedDirs(spark, at(channel))

  /** The store's one-row `meta` table, read at most once. */
  lazy val meta: Row = read("meta").head()

  /** The store's pending deletions, as of one listing. */
  lazy val victims: VictimChannel = new VictimChannel(this)
}

private[graft] object StoreRoot {

  /** The handle factory, `(spark, path, face)`, of the stores the write
    * face `rebuild` builds.
    */
  def of(rebuild: String): (SparkSession, String, String) => StoreRoot =
    new StoreRoot(_, _, _, rebuild)

  /** The FileSystem `path` lives on. */
  def fs(spark: SparkSession, path: String): org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Run `body` holding the store's exclusive compaction lock
    * ([[AtomicBatches.withMaintenanceLock]]) with the lock holder's
    * handle, whose reads skip the check the lock stands for.
    */
  def maintain[T](spark: SparkSession, path: String, takeover: Boolean,
      face: String, rebuild: String)(body: StoreRoot => T): T =
    AtomicBatches.withMaintenanceLock(spark, path, takeover)(
      body(new StoreRoot(spark, path, face, rebuild, held = true)))
}
