package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming._
import org.apache.spark.sql.types.{BinaryType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The benchmark's micro-batch message source: a backlog of `total`
  * messages from a [[MessageGen.Pool]], made visible on a wall-clock
  * schedule. With `ratePerSec > 0` message `i` is due `i * 1000 / rate` ms
  * after the stream's first offset request (open loop, millisecond
  * granularity); with `ratePerSec == 0` the whole backlog is due at once
  * and each trigger admits at most `maxPerTrigger` messages (drain).
  *
  * Feeds live in this JVM's registry, so the source is for `local[*]` only.
  * `skipOffset` (fault injection) makes the reader lose one message.
  */
final class Feed(val pool: MessageGen.Pool, val total: Long,
    val ratePerSec: Double, val maxPerTrigger: Long, val skipOffset: Long = -1L,
    val partitions: Int = 4) {
  @volatile var t0Ms: Long = -1L
  /** (trigger time ms, messages due but not yet admitted) at each trigger */
  val backlog = ArrayBuffer.empty[(Long, Long)]

  def dueMs(i: Long): Double = t0Ms + i * 1000.0 / ratePerSec

  private[perfbench] def dueCount(nowMs: Long): Long =
    if (ratePerSec <= 0) total
    else math.min(total, ((nowMs - t0Ms) * ratePerSec / 1000.0).toLong + 1)

  private[perfbench] def admit(start: Long): Long = synchronized {
    val now = System.currentTimeMillis()
    if (t0Ms < 0) t0Ms = now
    val due = dueCount(now)
    backlog += ((now, math.max(0L, due - start)))
    if (maxPerTrigger > 0) math.min(due, start + maxPerTrigger) else due
  }
}

object Feed {
  private val registry = new ConcurrentHashMap[String, Feed]()
  def register(id: String, f: Feed): Unit = registry.put(id, f)
  def get(id: String): Feed = registry.get(id)
  def remove(id: String): Unit = registry.remove(id)

  val schema: StructType = StructType(Seq(StructField("value", BinaryType, nullable = false)))
}

final case class FeedOffset(n: Long) extends Offset {
  override def json(): String = n.toString
}

final case class FeedPartition(feedId: String, from: Long, until: Long) extends InputPartition

class FeedProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = Feed.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new FeedTable(properties.get("feed"))
}

final class FeedTable(feedId: String) extends Table with SupportsRead {
  override def name(): String = s"feed-$feedId"
  override def schema(): StructType = Feed.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan {
      override def readSchema(): StructType = Feed.schema
      override def toMicroBatchStream(checkpoint: String): MicroBatchStream =
        new FeedStream(feedId)
    }
}

final class FeedStream(feedId: String) extends MicroBatchStream with SupportsAdmissionControl {
  private val feed = Feed.get(feedId)

  override def initialOffset(): Offset = FeedOffset(0)
  override def deserializeOffset(json: String): Offset = FeedOffset(json.toLong)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
  override def latestOffset(): Offset =
    throw new UnsupportedOperationException("latestOffset(start, limit) is used")
  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()
  override def latestOffset(start: Offset, limit: ReadLimit): Offset =
    FeedOffset(feed.admit(start.asInstanceOf[FeedOffset].n))

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val (s, e) = (start.asInstanceOf[FeedOffset].n, end.asInstanceOf[FeedOffset].n)
    val step = math.max(1L, (e - s + feed.partitions - 1) / feed.partitions)
    (s until e by step).map(a => FeedPartition(feedId, a, math.min(e, a + step)): InputPartition)
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = FeedReaderFactory
}

object FeedReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val part = p.asInstanceOf[FeedPartition]
    val feed = Feed.get(part.feedId)
    new PartitionReader[InternalRow] {
      private var i = part.from - 1
      override def next(): Boolean = {
        i += 1
        if (i == feed.skipOffset) i += 1
        i < part.until
      }
      override def get(): InternalRow = new GenericInternalRow(Array[Any](feed.pool.at(i)))
      override def close(): Unit = ()
    }
  }
}
