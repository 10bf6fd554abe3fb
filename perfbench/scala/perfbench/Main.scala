package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** Settings of one benchmark run, from the command line. */
final case class Ctx(spark: SparkSession, workload: String, seed: Long, seconds: Double,
    trace: Boolean, work: String, fault: String, liveRate: Double, cores: Int) {
  def dir(name: String): String = {
    val d = new java.io.File(work, name); d.mkdirs(); d.getPath
  }
}

/** What one pass over a workload's measured section produced. */
final class Outcome {
  var attempted = 0L
  var failed = 0L
  /** the workload-independent end-to-end metrics (see BENCHMARK.json) */
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  /** the workload's own named metrics: name -> (value, unit) */
  val report = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** per-layer metrics gathered while tracing */
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val checks = ArrayBuffer.empty[Map[String, Any]]

  def check(name: String, ok: Boolean, detail: String = ""): Unit =
    checks += Map("name" -> name, "ok" -> ok, "detail" -> detail)
}

/** A workload: untimed set-up (inputs, staging, warm-up), then a measured
  * section that can run more than once in one JVM (untraced and traced).
  */
trait Workload {
  def setup(): Unit
  def measure(tracer: Tracer): Outcome
  /** per-layer measurements taken alone, after the traced pass */
  def layerProbes(tracer: Tracer, out: Outcome): Unit = ()
}

object Main {
  /** A failed operation counts as taking this long, so a failure never
    * shortens a timing: no operation of a run may take longer.
    */
  val FailurePenaltyMs = 180000.0
  private val jvmStart = System.nanoTime()

  /** Progress line in the run's log, with seconds since JVM start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - jvmStart) / 1e9}%8.3f] $msg")

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val processStartMs = opt("process-start-ms").toLong
    val cores = 4
    val work = opt("work")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    log("session started")
    val ctx = Ctx(spark, opt("workload"), opt("seed").toLong, opt("seconds").toDouble,
      opt("trace") == "1", work, opt.getOrElse("inject", "none"),
      opt("live-rate").toDouble, cores)
    val result = mutable.LinkedHashMap.empty[String, Any]
    try {
      val w: Workload = ctx.workload match {
        case "chain_live" => new ChainLive(ctx)
        case "store_churn" => new StoreChurn(ctx)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      w.setup()
      log("setup done")
      val setupS = (System.currentTimeMillis() - processStartMs) / 1e3
      HeapPeak.reset()
      val plain = w.measure(new Tracer(spark, enabled = false))
      plain.e2e("heap_peak_mb") = HeapPeak.peakMb
      plain.e2e("setup_s") = setupS
      plain.report("setup_s") = (setupS, "s")
      plain.report("heap_peak_mb") = (plain.e2e("heap_peak_mb"), "MB")
      val out = if (!ctx.trace) plain else {
        val tracer = new Tracer(spark, enabled = true)
        tracer.resetCounters()
        HeapPeak.reset()
        val traced = w.measure(tracer)
        traced.e2e("heap_peak_mb") = HeapPeak.peakMb
        w.layerProbes(tracer, traced)
        traced.layers ++= tracer.sparkMetrics(cores)
        // tracing overhead: traced minus untraced, per end-to-end metric
        traced.e2e.foreach { case (k, v) =>
          plain.e2e.get(k).foreach(p => traced.layers(s"trace.overhead.$k") = v - p)
        }
        // latency swings with the box's speed too much to carry a bound
        // (see DESIGN.md); the untraced figures are reported here
        Seq("latency_p50_ms", "latency_p99_ms").foreach(k => traced.layers(k) = plain.e2e(k))
        traced.checks ++= plain.checks.map(c => c + ("name" -> s"untraced.${c("name")}"))
        traced.attempted += plain.attempted
        traced.failed += plain.failed
        traced.report ++= plain.report.filter(kv => !traced.report.contains(kv._1))
        val spans = s"$work/spans.json"
        tracer.write(spans)
        result("spans_file") = spans
        traced
      }
      result("attempted") = out.attempted
      result("failed") = out.failed
      result("e2e") = plain.e2e
      result("report") = out.report.map { case (k, (v, u)) => Seq(k, v, u) }.toSeq
      result("layers") = out.layers
      result("checks") = out.checks.toSeq
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        result("error") = s"${e.getClass.getName}: ${e.getMessage}"
    } finally {
      Json.write(opt("out"), result)
      spark.stop()
    }
  }
}

/** Exact-enough percentiles of latency samples: 10 µs bins up to 20 s,
  * exact values beyond. Samples can carry a weight (a batch of messages
  * that share one latency).
  */
final class LatencyHist {
  private val binMs = 0.01
  private val bins = new Array[Long](2000000)
  private val over = ArrayBuffer.empty[(Double, Long)]
  var count = 0L

  def add(ms: Double, weight: Long = 1L): Unit = if (weight > 0) {
    val b = math.max(0L, math.round(ms / binMs))
    if (b < bins.length) bins(b.toInt) += weight else over += ((ms, weight))
    count += weight
  }

  /** The `q` percentile if at least ten samples lie beyond it, else the
    * median: a tail the sample cannot support is not reported as one.
    */
  def tail(q: Double): Double =
    if (count * (1 - q) >= 10) percentile(q) else percentile(0.5)

  def percentile(q: Double): Double = {
    require(count > 0, "no latency samples")
    val rank = math.max(1L, math.ceil(q * count).toLong)
    var seen = 0L
    var i = 0
    while (i < bins.length) {
      seen += bins(i)
      if (seen >= rank) return i * binMs
      i += 1
    }
    over.sortBy(_._1).foreach { case (v, w) => seen += w; if (seen >= rank) return v }
    over.map(_._1).max
  }
}

object Stats {
  def median(xs: Iterable[Double]): Double = {
    val s = xs.toIndexedSeq.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
  def time[T](body: => T): (T, Double) = {
    val t = System.nanoTime(); val r = body; (r, (System.nanoTime() - t) / 1e9)
  }
}
