package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.PipelineRunner
import graft.codec.ConfluentAvro
import graft.pipeline.PipelineDef

/** Confluent-Avro messages go through `PipelineRunner.decodeAndRoute` with
  * the reference chain parseNum(DLQ) → capitalize → add10 → isEven into the
  * streaming `noop` sink: first in an open loop, due at a fixed offered rate
  * for the run's seconds, where latency runs from each delivered message's
  * due time to the end of the trigger that wrote it; then in a closed loop,
  * draining backlogs as fast as the program can.
  */
final class ChainLive(ctx: Ctx) extends Workload {
  import ChainLive._
  private val spark = ctx.spark
  private var pool: MessageGen.Pool = _
  private var genNsPerMsg = 0.0
  private val progressLog = new ProgressLog
  private var runs = 0

  /** Untimed: the message pool, the generator self-test, then one drain
    * like the measured ones to get the JIT past cold.
    */
  override def setup(): Unit = {
    val (p, sec) = Stats.time(MessageGen.pool(ctx.seed))
    pool = p
    genNsPerMsg = sec * 1e9 / MessageGen.PoolSize
    selfTest()
    Main.log("generator self-test passed")
    spark.streams.addListener(progressLog)
    drainRun(new Tracer(spark, enabled = false))
    Main.log("warm-up drain done")
  }

  /** The program's safe decoder must return exactly the generator's fields,
    * and null on exactly the poison messages, over the whole pool.
    */
  private def selfTest(): Unit = {
    val matches = udf { (i: Int, isNull: Boolean, key: String, value: String, num: Integer) =>
      val p = MessageGen.shared
      if (p.kinds(i) == MessageGen.Poison) isNull
      else {
        val f = p.fields(i)
        !isNull && key == f.key && value == f.value && num != null && num.intValue == f.num
      }
    }
    val bad = poolFrame()
      .select(col("i"), ConfluentAvro.fromConfluentAvroSafe(col("value"),
        ConfluentAvro.eventSchemaJson).as("m"))
      .filter(!matches(col("i"), col("m").isNull, col("m.key"), col("m.value"), col("m.num")))
      .count()
    require(bad == 0, s"generator self-test: $bad of ${MessageGen.PoolSize} messages differ")
  }

  /** The pool as a batch frame (i, value). */
  private def poolFrame(): DataFrame = {
    MessageGen.shared = pool
    val bytes = udf((i: Int) => MessageGen.shared.bytes(i))
    spark.range(0, MessageGen.PoolSize, 1, ctx.cores).select(col("id").cast("int").as("i"))
      .select(col("i"), bytes(col("i")).as("value"))
  }

  /** Runs one chain query over `feed` until `await` returns, then stops it. */
  private def stream(feed: Feed, tracer: Tracer, phase: String)(await: StreamingQuery => Unit): StreamRun = {
    runs += 1
    val id = s"chain-$runs"
    Feed.register(id, feed)
    try tracer.span(phase, phase = phase) {
      val src = spark.readStream.format(classOf[FeedProvider].getName)
        .option("feed", id).load()
      val routed = PipelineRunner.decodeAndRoute(src, Spec,
        ConfluentAvro.eventSchemaJson, ConfluentAvro.eventSchemaJson, MessageGen.SchemaId)
      val startMs = System.currentTimeMillis()
      val q = routed.writeStream.format("noop")
        .option("checkpointLocation", ctx.dir(s"ckpt-$id")).start()
      try await(q) finally q.stop()
      q.exception.foreach(e => throw e)
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      progressLog.take(q.id.toString, startMs)
    } finally Feed.remove(id)
  }

  /** Offers the feed's messages on its schedule, then waits for the rest. */
  private def liveRun(feed: Feed, tracer: Tracer): StreamRun = stream(feed, tracer, "chain") { q =>
    while (feed.t0Ms < 0) Thread.sleep(1)
    val endOffer = feed.t0Ms + (feed.total * 1000 / feed.ratePerSec).toLong
    while (System.currentTimeMillis() < endOffer && q.isActive) Thread.sleep(5)
    q.processAllAvailable()
    HeapPeak.sample() // every message is delivered: no latency sample pays for it
  }

  /** A backlog of `DrainMessages`, all due at once, admitted
    * `DrainPerTrigger` a trigger; its time runs from query start to the end
    * of the last trigger.
    */
  private def drainRun(tracer: Tracer): (StreamRun, Double) = {
    // 16 partitions a trigger: a core slowed by the host holds up less of it
    val feed = new Feed(pool, DrainMessages, 0, DrainPerTrigger, partitions = 16)
    val run = stream(feed, tracer, "drain") { q =>
      q.processAllAvailable()
      HeapPeak.sample()
    }
    (run, (run.batches.map(_.endMs).maxOption.getOrElse(run.startMs) - run.startMs) / 1e3)
  }

  /** Checks a run's route counts, from the decode and chain observations,
    * against the generator's for its first `n` messages; returns the counts
    * and how many messages were lost or misrouted.
    */
  private def checkRoutes(out: Outcome, name: String, run: StreamRun,
      n: Long): (Map[String, Long], Long) = {
    def obs(k: String) = run.observed.getOrElse(s"pipeline_metrics.messages_${k}_total", 0L)
    val routes = Map(
      "received" -> (obs("received") + run.observed.getOrElse("decode_metrics.messages_received_total", 0L)),
      "completed" -> obs("completed"), "dlq" -> obs("dlq"), "dropped" -> obs("dropped"),
      "error" -> (obs("error") + run.observed.getOrElse("decode_metrics.messages_error_total", 0L)))
    val exp = pool.expected(n)
    val expected = Map("received" -> n, "completed" -> exp(MessageGen.Completed),
      "dlq" -> exp(MessageGen.Dlq), "dropped" -> exp(MessageGen.Dropped),
      "error" -> exp(MessageGen.Poison))
    out.check(s"$name.routes", routes == expected, s"expected $expected, observed $routes")
    val routed = Seq("completed", "dlq", "dropped", "error").map(routes).sum
    out.check(s"$name.conservation", routes("received") > 0 && routed == routes("received"),
      s"received=${routes("received")} routed=$routed")
    val lost = expected.collect { case (k, v) if k != "received" => math.max(0L, v - routes(k)) }.sum
    (routes, lost)
  }

  /** Two parts, both through the same chain:
    *   - live (open loop): the query runs for a lead-in and then the run's
    *     seconds at the offered rate; latency is sampled from messages due
    *     after the lead-in, so the query's start-up transient (first
    *     trigger, JIT) is not part of it;
    *   - drain (closed loop): `Drains` backlogs of `DrainMessages`; the
    *     median drain's time is `total_s`, a time the program controls.
    */
  override def measure(tracer: Tracer): Outcome = {
    val out = new Outcome
    val lead = (ctx.liveRate * LeadInSeconds).toLong
    val total = lead + (ctx.liveRate * ctx.seconds).toLong
    val skip = if (ctx.fault == "lost_message") (lead + total) / 2 else -1L
    val feed = new Feed(pool, total, ctx.liveRate, 0, skip)
    val live = liveRun(feed, tracer)
    val (routes, liveLost) = checkRoutes(out, "chain_live.live", live, total)

    // backlog grows when the second half of the offer window waits on
    // clearly more messages than the first half did
    val window = feed.backlog
      .filter(b => b._1 >= feed.dueMs(lead) && b._1 <= feed.dueMs(total - 1)).map(_._2.toDouble)
    val (first, second) = window.splitAt(window.size / 2)
    val growing = window.size >= 4 &&
      Stats.median(second) > 2 * Stats.median(first) + ctx.liveRate * 0.1
    out.check("chain_live.backlog_steady", !growing,
      s"backlog medians ${Stats.median(first)} -> ${Stats.median(second)}")

    val hist = new LatencyHist
    live.batches.foreach { b =>
      var i = math.max(b.start, lead)
      while (i < b.end) {
        val k = pool.kindAt(i)
        if ((k == MessageGen.Completed || k == MessageGen.Dlq) && i != skip)
          hist.add(b.endMs - feed.dueMs(i))
        i += 1
      }
    }
    hist.add(Main.FailurePenaltyMs, if (growing) total else liveLost)

    val drains = (1 to Drains).map { k =>
      val (run, sec) = drainRun(tracer)
      Main.log(f"drain $k: $sec%.3f s in ${run.batches.size} triggers")
      (run, sec)
    }
    val drainLost = drains.zipWithIndex.map { case ((run, _), k) =>
      checkRoutes(out, s"chain_live.drain${k + 1}", run, DrainMessages)._2
    }.sum
    out.attempted = total + Drains * DrainMessages
    out.failed = (if (growing) total else liveLost) + drainLost
    val drainS = Stats.median(drains.map(_._2))
    val totalS = drainS + out.failed * Main.FailurePenaltyMs / 1e3
    val (p50, p99) = (hist.percentile(0.5), hist.tail(0.99))
    out.e2e ++= Seq("total_s" -> totalS, "latency_p50_ms" -> p50, "latency_p99_ms" -> p99)
    out.report ++= Seq("latency_p50_ms" -> (p50, "ms"), "latency_p99_ms" -> (p99, "ms"),
      "latency_samples" -> (hist.count.toDouble, "count"),
      "offered_msgs_per_s" -> (ctx.liveRate, "msg/s"),
      "live_busy_frac" -> (live.batches.map(_.triggerMs).sum / 1e3 /
        ((live.batches.map(_.endMs).max - live.startMs) / 1e3), "ratio"),
      "drain_s" -> (drainS, "s"), "msgs_per_s" -> (DrainMessages / totalS, "msg/s"),
      "total_s" -> (totalS, "s"),
      "failed_frac" -> (out.failed.toDouble / out.attempted, "ratio"))
    if (tracer.enabled) {
      out.layers ++= ProgressLog.layers(live.batches, feed.backlog.map(_._2).maxOption.getOrElse(0L))
      out.layers ++= routes.map { case (k, v) => s"pipeline.$k" -> v.toDouble }
      out.layers("pipeline.conservation") =
        Seq("completed", "dlq", "dropped", "error").map(routes).sum.toDouble /
          math.max(1L, routes("received"))
    }
    out
  }

  /** gen, codec and pipeline layers, each forced alone over the pool ×8. */
  override def layerProbes(tracer: Tracer, out: Outcome): Unit = tracer.span("probes") {
    out.layers("gen.ns_per_msg") = genNsPerMsg
    val wire = (1 until 8).foldLeft(poolFrame())((df, _) => df.union(poolFrame()))
      .select("value").cache()
    val n = wire.count().toDouble
    def nsPerMsg(name: String, df: DataFrame, rows: Double): Double = tracer.span(name) {
      Stats.median((1 to 3).map(_ =>
        Stats.time(df.write.format("noop").mode("overwrite").save())._2)) * 1e9 / rows
    }
    val decode = wire.select(ConfluentAvro.fromConfluentAvroSafe(col("value"),
      ConfluentAvro.eventSchemaJson).as("m"))
    out.layers("codec.decode_ns_per_msg") = nsPerMsg("codec.decode", decode, n)
    val decoded = decode.filter(col("m").isNotNull).select("m.key", "m.value", "m.num").cache()
    val nDecoded = decoded.count().toDouble
    val poison = 8 * pool.expected(MessageGen.PoolSize)(MessageGen.Poison)
    out.layers("codec.decode_errors") = n - nDecoded
    out.check("codec.decode_errors", n - nDecoded == poison,
      s"decode errors ${n - nDecoded}, generator poison $poison")
    out.layers("codec.encode_ns_per_msg") = nsPerMsg("codec.encode", decoded.select(
      ConfluentAvro.toConfluentAvro(struct(col("key"), col("value"), col("num")),
        ConfluentAvro.eventSchemaJson, MessageGen.SchemaId)), nDecoded)
    out.layers("pipeline.chain_ns_per_msg") = nsPerMsg("pipeline.chain",
      Spec.toPipeline.observed(decoded).df, nDecoded)
    wire.unpersist(); decoded.unpersist()
  }
}

object ChainLive {
  val Spec: PipelineDef = PipelineDef(1, "perfbench", "in", "target", "event", "event",
    Seq("parseNum", "capitalize", "add10", "isEven"), Seq(Some("dlq_parse"), None, None, None))
  val LeadInSeconds = 2
  /** drain: backlogs of 2 M messages, 1 M (about 1.5 s of work) a trigger */
  val Drains = 5
  val DrainMessages = 2000000L
  val DrainPerTrigger = 1000000L
}
