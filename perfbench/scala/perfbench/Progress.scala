package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** One micro-batch of a streaming query, from its `StreamingQueryProgress`:
  * the source offset range (-1 when not a plain number), the rows read, the
  * wall time the trigger ended, and the progress durations in ms.
  */
final case class BatchInfo(start: Long, end: Long, rows: Long, endMs: Long, triggerMs: Long,
    addBatchMs: Long, planningMs: Long, walCommitMs: Long)

/** A finished query: when it was started, its batches, and the sums of its
  * observed metrics by name (`<observation>.<column>`).
  */
final case class StreamRun(startMs: Long, batches: Seq[BatchInfo], observed: Map[String, Long])

/** Collects the progress of every streaming query; read after the listener
  * bus is drained.
  */
final class ProgressLog extends StreamingQueryListener {
  private val seen = ArrayBuffer.empty[StreamingQueryProgress]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized { seen += e.progress }

  /** Removes and returns the progress of one query. */
  def take(queryId: String, startMs: Long): StreamRun = synchronized {
    val mine = seen.filter(_.id.toString == queryId).sortBy(_.batchId)
    seen --= mine
    val observed = mutable.Map.empty[String, Long].withDefaultValue(0L)
    val batches = mine.flatMap { p =>
      p.observedMetrics.asScala.foreach { case (name, row) =>
        row.schema.fieldNames.foreach(f => observed(s"$name.$f") += row.getAs[Long](f))
      }
      val src = p.sources.head
      if (src.endOffset == null || p.numInputRows == 0) None
      else {
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.withDefaultValue(0L)
        def offset(json: String) = Option(json).map(j => Try(j.toLong).getOrElse(-1L)).getOrElse(0L)
        Some(BatchInfo(offset(src.startOffset), offset(src.endOffset), p.numInputRows,
          java.time.Instant.parse(p.timestamp).toEpochMilli + d("triggerExecution"),
          d("triggerExecution"), d("addBatch"), d("queryPlanning"), d("walCommit")))
      }
    }
    StreamRun(startMs, batches.toSeq, observed.toMap)
  }
}

object ProgressLog {
  /** streaming.* per-layer metrics over the batches that read rows. */
  def layers(batches: Seq[BatchInfo], backlogMax: Long): Seq[(String, Double)] = {
    def p50(f: BatchInfo => Double) = Stats.median(batches.map(f))
    Seq(
      "streaming.batches" -> batches.size.toDouble,
      "streaming.rows_per_batch_p50" -> p50(_.rows.toDouble),
      "streaming.trigger_ms_p50" -> p50(_.triggerMs.toDouble),
      "streaming.add_batch_ms_p50" -> p50(_.addBatchMs.toDouble),
      "streaming.overhead_ms_p50" -> p50(b => (b.triggerMs - b.addBatchMs).toDouble),
      "streaming.planning_ms_p50" -> p50(_.planningMs.toDouble),
      "streaming.wal_commit_ms_p50" -> p50(_.walCommitMs.toDouble),
      "streaming.backlog_msgs_max" -> backlogMax.toDouble)
  }
}
