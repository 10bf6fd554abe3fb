package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Spark work attributed to one span: jobs started under the span's local
  * property and the metrics of their tasks.
  */
final class SparkCounters {
  var jobs = 0L
  var taskMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var gcMs = 0L
  def add(o: SparkCounters): Unit = {
    jobs += o.jobs; taskMs += o.taskMs; shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes; gcMs += o.gcMs
  }
}

/** Keys jobs and their tasks by the `Tracer.Key` local property in force
  * where the job was submitted; work without it is `Tracer.Unattributed`.
  */
final class SpanListener extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, String]()
  val bySpan = new ConcurrentHashMap[String, SparkCounters]()

  private def counters(span: String) = bySpan.computeIfAbsent(span, _ => new SparkCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Key)))
      .getOrElse(Tracer.Unattributed)
    counters(span).jobs += 1
    e.stageIds.foreach(stageSpan.putIfAbsent(_, span))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val c = counters(stageSpan.getOrDefault(e.stageId, Tracer.Unattributed))
      c.taskMs += m.executorRunTime
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.diskBytesSpilled
      c.gcMs += m.jvmGCTime
    }
  }
}

/** Spans around the benchmark's calls into the program's layers. Each span
  * sets the `Tracer.Key` local property while it is open, so the Spark work
  * it causes is attributed to it. A disabled tracer only runs the body.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  /** `opens` marks the span whose duration is its phase's wall time. */
  final case class Span(id: Int, name: String, phase: String, parent: Int,
      opens: Boolean, startNs: Long, var endNs: Long)

  private val origin = System.nanoTime()
  private val spans = ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  private val listener = new SpanListener
  if (enabled) spark.sparkContext.addSparkListener(listener)

  /** `phase` names the unit whose Spark counters are reported together;
    * by default a span belongs to its parent's phase.
    */
  def span[T](name: String, phase: String = null)(body: => T): T =
    if (!enabled) body
    else {
      val sc = spark.sparkContext
      val parent = open.headOption
      val ph = Option(phase).orElse(parent.map(_.phase)).getOrElse(name)
      val opens = !parent.exists(_.phase == ph)
      val s = Span(spans.size, name, ph, parent.map(_.id).getOrElse(-1), opens,
        System.nanoTime(), 0L)
      spans += s
      open = s :: open
      val prev = sc.getLocalProperty(Tracer.Key)
      sc.setLocalProperty(Tracer.Key, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        sc.setLocalProperty(Tracer.Key, prev)
        open = open.tail
      }
    }

  /** Waits until every event posted so far has reached the listener. */
  def drain(): Unit = if (enabled) PerfbenchBus.drain(spark.sparkContext)

  /** Forgets Spark work seen so far (set-up and warm-up). */
  def resetCounters(): Unit = if (enabled) { drain(); listener.bySpan.clear() }

  private def countersOf(id: String) =
    Option(listener.bySpan.get(id)).getOrElse(new SparkCounters)

  /** Per phase: spark.<phase>.{jobs,task_s,slot_util,shuffle_write_bytes,
    * spill_bytes,gc_s}, plus workload totals under spark.* and
    * spark.unattributed_task_s.
    */
  def sparkMetrics(cores: Int): Map[String, Double] = {
    drain()
    val perPhase = mutable.LinkedHashMap.empty[String, (SparkCounters, Double)]
    spans.foreach { s =>
      val (c, wall) = perPhase.getOrElseUpdate(s.phase, (new SparkCounters, 0.0))
      c.add(countersOf(s.id.toString))
      val w = if (s.opens) (s.endNs - s.startNs) / 1e9 else 0.0
      perPhase(s.phase) = (c, wall + w)
    }
    def fields(prefix: String, c: SparkCounters, wall: Double) = Map(
      s"$prefix.jobs" -> c.jobs.toDouble,
      s"$prefix.task_s" -> c.taskMs / 1e3,
      s"$prefix.slot_util" -> (if (wall > 0) c.taskMs / 1e3 / (wall * cores) else 0.0),
      s"$prefix.shuffle_write_bytes" -> c.shuffleWriteBytes.toDouble,
      s"$prefix.spill_bytes" -> c.spillBytes.toDouble,
      s"$prefix.gc_s" -> c.gcMs / 1e3)
    val total = new SparkCounters
    perPhase.values.foreach(v => total.add(v._1))
    val totalWall = perPhase.values.map(_._2).sum
    perPhase.flatMap { case (p, (c, w)) => fields(s"spark.$p", c, w) }.toMap ++
      fields("spark", total, totalWall) ++
      Map("spark.unattributed_task_s" -> countersOf(Tracer.Unattributed).taskMs / 1e3)
  }

  /** Writes every span once, with the Spark counters attributed to it. */
  def write(path: String): Unit = if (enabled) {
    drain()
    val rows = spans.map { s =>
      val c = countersOf(s.id.toString)
      Map("id" -> s.id, "name" -> s.name, "phase" -> s.phase, "parent" -> s.parent,
        "start_ms" -> (s.startNs - origin) / 1e6, "end_ms" -> (s.endNs - origin) / 1e6,
        "spark_jobs" -> c.jobs, "task_s" -> c.taskMs / 1e3,
        "shuffle_write_bytes" -> c.shuffleWriteBytes, "spill_bytes" -> c.spillBytes,
        "gc_s" -> c.gcMs / 1e3)
    }
    Json.write(path, Map("spans" -> rows.toSeq,
      "unattributed_task_s" -> countersOf(Tracer.Unattributed).taskMs / 1e3))
  }
}

object Tracer {
  val Key = "perfbench.span"
  val Unattributed = "unattributed"
}

/** Peak heap in use after a full collection, sampled at operation
  * boundaries outside any timing: what the program retains between
  * operations, independent of when the JVM chooses to collect.
  */
object HeapPeak {
  private var peak = 0L

  def reset(): Unit = synchronized { peak = 0L }

  def sample(): Unit = synchronized {
    System.gc()
    val used = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).flatMap(p => Option(p.getCollectionUsage))
      .map(_.getUsed).sum
    peak = math.max(peak, used)
  }

  def peakMb: Double = peak / (1024.0 * 1024.0)
}

/** Minimal JSON rendering for the benchmark's result and span files. */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def write(path: String, v: Any): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      render(v).getBytes(java.nio.charset.StandardCharsets.UTF_8))
}
