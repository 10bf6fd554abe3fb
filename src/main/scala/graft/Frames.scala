package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The one owner of the frames a call materializes and does not return.
  * A [[Frames.scoped]] body pins each intermediate — [[checkpoint]]
  * (eager local checkpoint) or [[persist]] (lazy cache) — and may
  * [[release]] one early, strictly after its last read; the scope frees
  * the rest, newest first, when the body returns or throws. Executor
  * blocks are freed deterministically (per micro-batch, per takedown
  * request), not by GC-driven ContextCleaner reclamation, and a failure
  * path cannot leak them.
  *
  * A frame the call RETURNS is not pinned here: it stays a plain
  * `localCheckpoint(true)` (or reads a [[Frames.returning]] scope's
  * frames) and is left to session cleanup (`Bench.clearState`).
  */
private[graft] final class Frames private {
  // newest last; each entry frees one pinned frame
  private val held =
    scala.collection.mutable.ArrayBuffer.empty[(DataFrame, () => Unit)]

  private def pin(df: DataFrame, free: () => Unit): DataFrame =
    held.synchronized { held += (df -> free); df }

  /** `df.localCheckpoint(true)`, pinned by the checkpoint's own RDD. */
  def checkpoint(df: DataFrame): DataFrame = {
    val cp = df.localCheckpoint(true)
    val rdd = cp.queryExecution.analyzed
      .collectFirst { case r: LogicalRDD => r.rdd }.get
    pin(cp, () => rdd.unpersist(blocking = false))
  }

  /** `df.persist(MEMORY_AND_DISK)`, pinned (lazy: the first action
    * fills it).
    */
  def persist(df: DataFrame): DataFrame =
    pin(df.persist(StorageLevel.MEMORY_AND_DISK),
      () => df.unpersist(blocking = false))

  /** Free `df` now. Only the very frame [[checkpoint]] or [[persist]]
    * returned in this scope can be released; anything else is refused.
    */
  def release(df: DataFrame): Unit = held.synchronized {
    val i = held.indexWhere(_._1 eq df)
    require(i >= 0, "release of a frame this scope did not pin")
    held.remove(i)._2
  }.apply()

  private def close(): Unit = held.synchronized {
    try held.reverseIterator.map(_._2).toList finally held.clear()
  }.foreach(_.apply())
}

private[graft] object Frames {

  /** Run `body` with a fresh scope; free what it still holds on return
    * and on exception.
    */
  def scoped[T](body: Frames => T): T = {
    val f = new Frames
    try body(f) finally f.close()
  }

  /** A scope for a call whose result reads what it pinned: on exception
    * everything is freed (nothing is returned); on return what it still
    * holds is left to session cleanup with the result.
    */
  def returning[T](body: Frames => T): T = {
    val f = new Frames
    try body(f) catch { case e: Throwable => f.close(); throw e }
  }
}
