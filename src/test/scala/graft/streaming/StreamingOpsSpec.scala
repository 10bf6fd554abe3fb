package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.SparkSpec
import graft.pipeline.{Pipeline, Processors, Step}

/** Streaming semantics over MemoryStream (no Kafka broker in this
  * container): the Column-compiled pipeline chain runs unchanged on a
  * streaming frame, and the watermarked north-star ops hold their
  * contracts.
  */
class StreamingOpsSpec extends SparkSpec {

  private def runToMemory(df: org.apache.spark.sql.DataFrame, name: String,
      mode: OutputMode = OutputMode.Append()): Unit = {
    val q = df.writeStream.format("memory").queryName(name).outputMode(mode).start()
    q.processAllAvailable()
    q.stop()
  }

  test("pipeline chain runs unchanged over a streaming source") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[(String, String, Int)]
    in.addData(("a", "x", 1), ("b", "y", 2), ("c", "z", 3))
    val msgs = in.toDF().toDF("key", "value", "num")
    val routed = Pipeline(Seq(Step(Processors.capitalize), Step(Processors.isEven)))(msgs)
    runToMemory(routed.df, "routed_out")
    val out = spark.table("routed_out").collect()
      .map(r => (r.getAs[String]("topic"), r.getAs[String]("key"), r.getAs[String]("value")))
      .toSet
    out shouldBe Set(("__dropped__", "a", "X"), ("target", "b", "Y"),
      ("__dropped__", "c", "Z"))
  }

  test("streaming dedup drops duplicate keys within the watermark horizon") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[(Timestamp, String)]
    val t0 = Timestamp.valueOf("2026-01-01 00:00:00")
    def ts(m: Int) = new Timestamp(t0.getTime + m * 60000L)
    in.addData((ts(0), "k1"), (ts(1), "k1"), (ts(2), "k2"))
    val dd = StreamingOps.streamingDedup(
      in.toDF().toDF("ts", "k"), "ts", "10 minutes", Seq("k"))
    runToMemory(dd, "dedup_out")
    spark.table("dedup_out").select("k").collect().map(_.getString(0)).sorted shouldBe
      Array("k1", "k2")
  }

  test("statefulRunningCount accumulates per-key state across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[String]
    val counts = StreamingOps.statefulRunningCount(spark, in.toDF().toDF("k"), "k")
    val q = counts.toDF().writeStream.format("memory")
      .queryName("state_out").outputMode("update").start()
    in.addData("a", "a", "b")
    q.processAllAvailable()
    in.addData("a", "b", "b")   // second micro-batch: state must carry over
    q.processAllAvailable()
    q.stop()
    val last = spark.table("state_out").groupBy("key")
      .agg(org.apache.spark.sql.functions.max("n").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    last shouldBe Map("a" -> 3L, "b" -> 3L)
  }

  test("stream-stream join pairs rows within the time window per key") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val t0 = Timestamp.valueOf("2026-01-01 00:00:00")
    def ts(m: Int) = new Timestamp(t0.getTime + m * 60000L)
    val clicks = MemoryStream[(String, Timestamp)]
    val buys = MemoryStream[(String, Timestamp)]
    clicks.addData(("u1", ts(0)), ("u2", ts(1)))
    buys.addData(("u1", ts(3)), ("u2", ts(90))) // u2's buy is outside 10m
    val joined = StreamingOps.streamStreamJoin(
      clicks.toDF().toDF("user", "click_ts"),
      buys.toDF().toDF("user", "buy_ts"),
      "user", "click_ts", "buy_ts", "1 minute", "10 minutes")
    runToMemory(joined, "ssj_out")
    val out = spark.table("ssj_out").select("user").collect().map(_.getString(0))
    out shouldBe Array("u1")
  }

  test("left-outer stream-stream join emits unmatched lefts after the watermark closes") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val t0 = Timestamp.valueOf("2026-01-01 00:00:00")
    def ts(m: Int) = new Timestamp(t0.getTime + m * 60000L)
    val clicks = MemoryStream[(String, Timestamp)]
    val buys = MemoryStream[(String, Timestamp)]
    clicks.addData(("u1", ts(0)), ("u2", ts(0)))
    buys.addData(("u1", ts(3)))
    val joined = StreamingOps.streamStreamLeftJoin(
      clicks.toDF().toDF("user", "click_ts"),
      buys.toDF().toDF("user", "buy_ts"),
      "user", "click_ts", "buy_ts", "1 minute", "10 minutes")
    val q = joined.writeStream.format("memory").queryName("sslj_out").start()
    q.processAllAvailable()
    // push both watermarks far past the join window so u2's null row emits
    clicks.addData(("zz", ts(120)))
    buys.addData(("zz", ts(120)))
    q.processAllAvailable()
    clicks.addData(("zz2", ts(180)))
    buys.addData(("zz2", ts(180)))
    q.processAllAvailable()
    q.stop()
    val byUser = spark.table("sslj_out")
      .filter(col("user").isin("u1", "u2"))
      .collect().map(r => r.getAs[String]("user") -> Option(r.getAs[Any]("buy_ts"))).toMap
    byUser("u1") shouldBe defined
    byUser.get("u2").flatten shouldBe None // unmatched left emitted with null
  }

  test("full-outer stream-stream join emits unmatched rows from BOTH sides") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val t0 = Timestamp.valueOf("2026-01-01 00:00:00")
    def ts(m: Int) = new Timestamp(t0.getTime + m * 60000L)
    val orders = MemoryStream[(String, Timestamp)]
    val pays = MemoryStream[(String, Timestamp)]
    orders.addData(("o1", ts(0)), ("o2", ts(0)))  // o2 never paid
    pays.addData(("o1", ts(3)), ("o9", ts(4)))    // o9 pay without order
    val joined = StreamingOps.streamStreamFullOuterJoin(
      orders.toDF().toDF("oid", "order_ts"),
      pays.toDF().toDF("oid", "pay_ts"),
      "oid", "order_ts", "pay_ts", "1 minute", "10 minutes")
    val q = joined.writeStream.format("memory").queryName("ssfo_out").start()
    q.processAllAvailable()
    // advance both watermarks far past the window so unmatched rows emit
    orders.addData(("zz", ts(120))); pays.addData(("zz", ts(120)))
    q.processAllAvailable()
    orders.addData(("zz2", ts(180))); pays.addData(("zz2", ts(180)))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("ssfo_out").collect()
    val matched = rows.filter(r => r.getAs[String]("oid") == "o1")
    matched should have length 1
    matched.head.getAs[Timestamp]("pay_ts") should not be null
    // unmatched left: order with null pay side
    rows.exists(r => r.getAs[String]("oid") == "o2" &&
      r.getAs[Any]("pay_ts") == null) shouldBe true
    // unmatched right: pay with null order side (oid comes back as oid_r)
    rows.exists(r => r.getAs[Any]("oid") == null &&
      r.getAs[String]("oid_r") == "o9" &&
      r.getAs[Any]("order_ts") == null) shouldBe true
  }

  test("foreachBatch sink observes every micro-batch") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Int]
    val seen = new java.util.concurrent.atomic.AtomicLong(0)
    val q = in.toDF().writeStream
      .foreachBatch((batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        seen.addAndGet(batch.count()): Unit)
      .start()
    in.addData(1, 2, 3)
    q.processAllAvailable()
    in.addData(4)
    q.processAllAvailable()
    q.stop()
    seen.get() shouldBe 4L
  }

  test("PipelineMetricsListener accumulates the conservation counters") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val listener = new StreamingOps.PipelineMetricsListener
    spark.streams.addListener(listener)
    try {
      val in = MemoryStream[(String, String, Int)]
      in.addData(("a", "x", 2), ("b", "y", 3))
      val p = Pipeline(Seq(Step(Processors.isEven)))
      val observed = p.observed(in.toDF().toDF("key", "value", "num"))
      val q = observed.df.writeStream.format("memory")
        .queryName("metrics_out").start()
      q.processAllAvailable()
      q.stop()
      // listener events fire asynchronously after batch completion
      val deadline = System.currentTimeMillis() + 10000
      while (listener.snapshot().getOrElse("messages_received_total", 0L) < 2L &&
        System.currentTimeMillis() < deadline) Thread.sleep(100)
      val m = listener.snapshot()
      m("messages_received_total") shouldBe 2L
      m("messages_completed_total") shouldBe 1L
      m("messages_dropped_total") shouldBe 1L
    } finally spark.streams.removeListener(listener)
  }

  test("rate source produces rows through the streaming pipeline") {
    val rate = spark.readStream.format("rate")
      .option("rowsPerSecond", "500").load()
    val q = rate.writeStream.format("memory").queryName("rate_out").start()
    // wait for at least one non-empty micro-batch
    val deadline = System.currentTimeMillis() + 20000
    while (spark.table("rate_out").isEmpty && System.currentTimeMillis() < deadline) {
      Thread.sleep(200)
    }
    q.stop()
    spark.table("rate_out").count() should be > 0L
  }

  test("tumbling window counts with watermark close as the watermark passes") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[(Timestamp, String, Double)]
    val t0 = Timestamp.valueOf("2026-01-01 00:00:00")
    def ts(m: Int) = new Timestamp(t0.getTime + m * 60000L)
    in.addData((ts(0), "a", 1.0), (ts(1), "a", 2.0), (ts(6), "b", 3.0))
    // advance watermark far past the first window
    in.addData((ts(60), "a", 0.0))
    val agg = StreamingOps.tumblingCounts(
      in.toDF().toDF("ts", "event_type", "value"),
      "ts", "5 minutes", "1 minute", Seq("event_type"), sumCol = Some("value"))
    runToMemory(agg, "tumble_out", OutputMode.Append())
    val out = spark.table("tumble_out")
      .select("window_start", "event_type", "n", "sum_value").collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    out should contain((ts(0), "a", 2L, 3.0))
    out should contain((ts(5), "b", 1L, 3.0))
  }

  test("sliding windows assign each event to width/slide windows") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[(Timestamp, String)]
    val t0 = Timestamp.valueOf("2026-01-01 00:07:00")
    in.addData((t0, "a"))
    in.addData((new Timestamp(t0.getTime + 3600000L), "a")) // advance watermark
    val agg = StreamingOps.slidingCounts(
      in.toDF().toDF("ts", "k"), "ts", "10 minutes", "5 minutes",
      "1 minute", Seq("k"))
    runToMemory(agg, "slide_out", OutputMode.Append())
    val starts = spark.table("slide_out").filter(col("n") === 1)
      .select("window_start").collect().map(_.getTimestamp(0).toString).sorted
    // event at 00:07 belongs to [00:00,00:10) and [00:05,00:15)
    starts should contain allOf("2026-01-01 00:00:00.0", "2026-01-01 00:05:00.0")
  }

  test("transformWithState running agg accumulates across micro-batches (RocksDB)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[(String, Double)]
      val agg = StreamingOps.statefulRunningAgg(
        spark, in.toDF().toDF("k", "v"), "k", "v")
      val q = agg.toDF().writeStream.format("memory").queryName("tws_out")
        .outputMode(OutputMode.Update()).start()
      in.addData(("a", 1.0), ("a", 2.0), ("b", 10.0))
      q.processAllAvailable()
      in.addData(("a", 4.0))
      q.processAllAvailable()
      q.stop()
      val latest = spark.table("tws_out").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
        .groupBy(_._1).map { case (k, rs) => k -> rs.maxBy(_._2) }
      latest("a") shouldBe (("a", 3L, 7.0))
      latest("b") shouldBe (("b", 1L, 10.0))
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("transformWithState running agg state encoder compiles (CODEGEN_ONLY)") {
    // CODEGEN_ONLY turns a state projection Spark cannot compile into a
    // failure instead of a silent fall-back to interpreted mode
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val keys = Seq("spark.sql.streaming.stateStore.providerClass",
      "spark.sql.codegen.factoryMode")
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set(keys(0),
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    spark.conf.set(keys(1), "CODEGEN_ONLY")
    try {
      val in = MemoryStream[(String, Double)]
      val q = StreamingOps.statefulRunningAgg(
          spark, in.toDF().toDF("k", "v"), "k", "v")
        .toDF().writeStream.format("memory").queryName("tws_codegen_out")
        .outputMode(OutputMode.Update()).start()
      try {
        in.addData(("a", 1.0), ("a", 2.0))
        q.processAllAvailable()
        in.addData(("a", 4.0))
        q.processAllAvailable()
      } finally q.stop()
      spark.table("tws_codegen_out").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
        .maxBy(_._2) shouldBe (("a", 3L, 7.0))
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("continuousCapPerGroup: streamed selection equals batch cap on the union") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("ccap").toString
    val in = MemoryStream[(String, Long, Double)]
    val q = StreamingOps.continuousCapPerGroup(
      in.toDF().toDF("domain", "doc_id", "score"),
      Seq("domain"), "doc_id", "score", n = 2,
      s"$dir/state", s"$dir/ckpt").start()
    val b1 = Seq(("a", 1L, 0.9), ("a", 2L, 0.5), ("a", 3L, 0.7), ("b", 10L, 0.1))
    val b2 = Seq(("a", 4L, 0.8), ("b", 11L, 0.3), ("b", 12L, 0.2))
    try {
      in.addData(b1: _*)
      q.processAllAvailable()
      // batch 2: a better doc displaces a's weakest; b fills its quota
      in.addData(b2: _*)
      q.processAllAvailable()
    } finally q.stop()
    val got = StreamingOps.currentCapSelection(spark, s"$dir/state")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val expect = graft.operators.Sampling.capPerGroup(
      (b1 ++ b2).toDF("domain", "doc_id", "score"),
      Seq("domain"), "doc_id", col("score"), 2)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    got shouldBe expect
    expect shouldBe Set(1L, 4L, 11L, 12L) // a keeps {1,4}; b keeps {11,12}
    // state pruned to the replay margin: latest + previous partition only
    spark.read.parquet(s"$dir/state")
      .select("batch_id").distinct().count() should be <= 2L
  }

  test("continuousFunnel: streamed reach state equals batch funnel on the union") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("cfun").toString
    def t(h: Int) = Timestamp.valueOf(f"2026-01-01 $h%02d:00:00")
    val in = MemoryStream[(Long, String, Timestamp)]
    val q = StreamingOps.continuousFunnel(
      in.toDF().toDF("user_id", "event_type", "ts"),
      "user_id", "event_type", "ts", Seq("A", "B", "C"), None,
      s"$dir/state", s"$dir/ckpt").start()
    // in-order arrival per user (the documented contract); u1 progresses
    // across batches, u2 stalls (its C precedes its B overall), u3 starts
    // in batch 2
    val b1 = Seq((1L, "A", t(1)), (2L, "A", t(1)), (2L, "C", t(2)))
    val b2 = Seq((1L, "B", t(3)), (1L, "C", t(4)), (2L, "B", t(3)),
      (3L, "A", t(5)))
    try {
      in.addData(b1: _*)
      q.processAllAvailable()
      in.addData(b2: _*)
      q.processAllAvailable()
    } finally q.stop()
    val got = StreamingOps.currentFunnelReach(spark, s"$dir/state")
      .orderBy("user_id").collect()
      .map(r => (r.getLong(0), (1 to 3).map(i =>
        if (r.isNullAt(i)) null else r.getTimestamp(i)).toSeq)).toSeq
    val expect = graft.operators.Funnel.reach(
      (b1 ++ b2).toDF("user_id", "event_type", "ts"),
      "user_id", "event_type", "ts", Seq("A", "B", "C"))
      .orderBy("user_id").collect()
      .map(r => (r.getLong(0), (1 to 3).map(i =>
        if (r.isNullAt(i)) null else r.getTimestamp(i)).toSeq)).toSeq
    got shouldBe expect
    // sanity: u1 completed; u2 reached B (its earlier C can't count);
    // u3 is at A
    got.map { case (u, ts) => u -> ts.count(_ != null) } shouldBe
      Seq(1L -> 3, 2L -> 2, 3L -> 1)
    // the headline view matches Funnel.counts' shape over the state
    val counts = StreamingOps.currentFunnelCounts(spark, s"$dir/state", 3).head()
    (counts.getLong(0), counts.getLong(1), counts.getLong(2)) shouldBe ((3L, 2L, 1L))
  }

  test("continuousDistinctSketch: streamed estimates equal the batch sketch on the union") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.{hll_sketch_agg, hll_sketch_estimate}
    val dir = java.nio.file.Files.createTempDirectory("cdsk").toString
    val in = MemoryStream[(String, Long)]
    val q = StreamingOps.continuousDistinctSketch(
      in.toDF().toDF("g", "v"), Seq("g"), "v",
      s"$dir/state", s"$dir/ckpt").start()
    // overlapping values across batches: distinct-union must not double
    val b1 = Seq(("a", 1L), ("a", 2L), ("a", 2L), ("b", 10L))
    val b2 = Seq(("a", 2L), ("a", 3L), ("b", 10L), ("b", 11L))
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    val got = StreamingOps.currentDistinctEstimates(spark, s"$dir/state", Seq("g"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val expect = (b1 ++ b2).toDF("g", "v")
      .groupBy("g").agg(hll_sketch_estimate(hll_sketch_agg($"v")).as("e"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    got shouldBe expect
    // at these cardinalities the sketch is exact
    got shouldBe Map("a" -> 3L, "b" -> 2L)
  }

  test("continuousScd2: streamed version history equals the batch rebuild") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("cscd").toString
    def t(h: Int) = Timestamp.valueOf(f"2026-01-01 $h%02d:00:00")
    val in = MemoryStream[(Long, Long, String, Timestamp)]
    val q = StreamingOps.continuousScd2(
      in.toDF().toDF("k", "id", "tier", "ts"),
      keyCols = Seq("k"), tsCol = "ts", tieCol = "id",
      attrCols = Seq("tier"), s"$dir/state", s"$dir/ckpt").start()
    // k1 changes across batches (b2's first obs repeats b1's last — must
    // compress across the batch boundary); k2 appears once then never
    // again (its rows must never be rewritten); k3 starts in b3
    val b1 = Seq((1L, 1L, "gold", t(1)), (1L, 2L, "gold", t(2)),
      (2L, 3L, "bronze", t(1)))
    val b2 = Seq((1L, 4L, "gold", t(3)), (1L, 5L, "silver", t(4)))
    val b3 = Seq((1L, 6L, "gold", t(5)), (3L, 7L, "new", t(5)))
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
      in.addData(b3: _*); q.processAllAvailable()
    } finally q.stop()
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "id", "tier", "effective_from", "effective_to",
        "is_current")
        .collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    val got = canon(StreamingOps.currentScd2History(
      spark, s"$dir/state", Seq("k"), "id"))
    val expect = canon(graft.operators.Scd2.history(
      (b1 ++ b2 ++ b3).toDF("k", "id", "tier", "ts"),
      Seq("k"), "ts", "id", Seq("tier")))
    got shouldBe expect
    // k2's only version was written in batch 0 and never touched again
    spark.read.parquet(s"$dir/state")
      .where(col("k") === 2L).select("batch_id").distinct()
      .collect().map(_.get(0).toString.toLong).toSeq shouldBe Seq(0L)
    // compaction folds committed deltas into the -1 snapshot; the live
    // view is unchanged and only {-1, latest} partitions remain
    StreamingOps.compactScd2History(spark, s"$dir/state", Seq("k"), "id")
    canon(StreamingOps.currentScd2History(
      spark, s"$dir/state", Seq("k"), "id")) shouldBe expect
    spark.read.parquet(s"$dir/state").select("batch_id").distinct()
      .collect().map(_.get(0).toString.toLong).toSet shouldBe Set(-1L, 2L)
  }

  test("continuousNearDup: batches probe and grow the persisted index") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("cnd").toString
    val a = "the quick brown fox jumps over the lazy dog in the morning sun"
    val c = "another brand new document about spark catalyst internals today"
    val in = MemoryStream[(Long, String)]
    val q = StreamingOps.continuousNearDup(
      in.toDF().toDF("doc_id", "text"), "doc_id", "text",
      s"$dir/index", s"$dir/pairs", s"$dir/ckpt",
      bands = 8, threshold = 0.5).start()
    try {
      in.addData((0L, a), (1L, a), (2L, "totally unrelated text about databases"))
      q.processAllAvailable()
      // batch 2: 10 duplicates batch 1's doc 1; 11/12 duplicate each other
      in.addData((10L, a), (11L, c), (12L, c))
      q.processAllAvailable()
    } finally q.stop()
    val pairs = spark.read.parquet(s"$dir/pairs")
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // (0,1) found within batch 1; batch 2 finds its cross-batch and
    // in-batch pairs but never re-derives (0,1)
    pairs shouldBe Set((0L, 1L), (0L, 10L), (1L, 10L), (11L, 12L))
    // the index now covers both batches, one batch_id partition each
    spark.read.parquet(s"$dir/index").select("batch_id").distinct().count() shouldBe 2
  }

  test("continuousIvfAppend: stream-built index answers like a batch-built one") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.Similarity
    val dir = java.nio.file.Files.createTempDirectory("civf").toString
    val base = Seq(
      (0L, Seq(1.0, 0.0, 0.0, 0.0)),
      (1L, Seq(0.99, 0.14, 0.0, 0.0)),
      (2L, Seq(0.0, 1.0, 0.0, 0.0)),
      (3L, Seq(-1.0, 0.0, 0.0, 0.0))).toDF("vec_id", "embedding")
    // seed both indexes with the same frozen quantizer + base cells
    Similarity.ivfWriteIndex(base, "vec_id", "embedding", dim = 4,
      path = s"$dir/stream", nBits = 2, lloydIters = 1)
    Similarity.ivfWriteIndex(base, "vec_id", "embedding", dim = 4,
      path = s"$dir/batch", nBits = 2, lloydIters = 1)
    val extra1 = Seq((6L, Seq(1.0, 0.01, 0.0, 0.0)), (7L, Seq(0.01, 1.0, 0.0, 0.0)))
    val extra2 = Seq((8L, Seq(0.98, 0.2, 0.0, 0.0)))
    val in = MemoryStream[(Long, Seq[Double])]
    val q = StreamingOps.continuousIvfAppend(
      in.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      s"$dir/stream", s"$dir/ckpt").start()
    try {
      in.addData(extra1: _*)
      q.processAllAvailable()
      in.addData(extra2: _*)
      q.processAllAvailable()
    } finally q.stop()
    // same rows appended to the batch index through ivfAppend
    Similarity.ivfAppend((extra1 ++ extra2).toDF("vec_id", "embedding"),
      "vec_id", "embedding", s"$dir/batch")
    val probe = Seq(1.0, 0.05, 0.0, 0.0)
    // identical frozen quantizer + identical rows ⇒ identical answers,
    // at the widest probe AND at the narrowest
    for (np <- Seq(4, 1)) {
      StreamingOps.ivfTopKFromStreamIndex(spark, s"$dir/stream", "vec_id",
        probe, k = 3, nProbe = np).collect().map(_.toSeq).toSeq shouldBe
        Similarity.ivfTopKFromIndex(spark, s"$dir/batch", "vec_id",
          probe, k = 3, nProbe = np).collect().map(_.toSeq).toSeq
    }
    // deltas partition per batch — a replayed batch would replace its own
    spark.read.parquet(s"$dir/stream/deltas")
      .select("batch_id").distinct().count() shouldBe 2
  }

  test("continuousPqAppend: stream-built PQ index answers like a batch-built one") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.Similarity
    val dir = java.nio.file.Files.createTempDirectory("cpq").toString
    val base = Seq(
      (0L, Seq(1.0, 0.0, 0.0, 0.0)),
      (1L, Seq(0.99, 0.14, 0.0, 0.0)),
      (2L, Seq(0.0, 1.0, 0.0, 0.0)),
      (3L, Seq(-1.0, 0.0, 0.0, 0.0))).toDF("vec_id", "embedding")
    // same frozen quantizer + codebooks on both sides
    for (p <- Seq("stream", "batch"))
      Similarity.ivfWriteIndexPQ(base, "vec_id", "embedding", dim = 4,
        path = s"$dir/$p", nBits = 2, lloydIters = 1, m = 2, codebookK = 3,
        pqIters = 2)
    val extra1 = Seq((6L, Seq(1.0, 0.01, 0.0, 0.0)), (7L, Seq(0.01, 1.0, 0.0, 0.0)))
    val extra2 = Seq((8L, Seq(0.98, 0.2, 0.0, 0.0)))
    val in = MemoryStream[(Long, Seq[Double])]
    val q = StreamingOps.continuousPqAppend(
      in.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      s"$dir/stream", s"$dir/ckpt").start()
    try {
      in.addData(extra1: _*)
      q.processAllAvailable()
      in.addData(extra2: _*)
      q.processAllAvailable()
    } finally q.stop()
    Similarity.ivfAppendPQ((extra1 ++ extra2).toDF("vec_id", "embedding"),
      "vec_id", "embedding", s"$dir/batch")
    val probe = Seq(1.0, 0.05, 0.0, 0.0)
    // identical frozen quantizer + codebooks + rows ⇒ identical answers
    for (np <- Seq(4, 1)) {
      StreamingOps.ivfPqTopKFromStreamIndex(spark, s"$dir/stream", "vec_id",
        probe, k = 3, nProbe = np).collect().map(_.toSeq).toSeq shouldBe
        Similarity.ivfTopKFromIndexPQ(spark, s"$dir/batch", "vec_id",
          probe, k = 3, nProbe = np).collect().map(_.toSeq).toSeq
    }
    spark.read.parquet(s"$dir/stream/deltas")
      .select("batch_id").distinct().count() shouldBe 2
  }

  test("compactIvfDeltas is layout-generic: folds PQ code deltas, probe unchanged") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.Similarity
    val dir = java.nio.file.Files.createTempDirectory("cpqc").toString
    val base = Seq(
      (0L, Seq(1.0, 0.0, 0.0, 0.0)),
      (2L, Seq(0.0, 1.0, 0.0, 0.0)),
      (3L, Seq(-1.0, 0.0, 0.0, 0.0))).toDF("vec_id", "embedding")
    Similarity.ivfWriteIndexPQ(base, "vec_id", "embedding", dim = 4,
      path = dir, nBits = 2, lloydIters = 1, m = 2, codebookK = 3,
      pqIters = 2)
    val in = MemoryStream[(Long, Seq[Double])]
    val q = StreamingOps.continuousPqAppend(
      in.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      dir, s"$dir-ckpt", compactEveryBatches = 2).start()
    try {
      in.addData((6L, Seq(1.0, 0.01, 0.0, 0.0)))
      q.processAllAvailable()
      in.addData((7L, Seq(0.01, 1.0, 0.0, 0.0)))
      q.processAllAvailable()
      in.addData((8L, Seq(0.98, 0.2, 0.0, 0.0)))
      q.processAllAvailable()
    } finally q.stop()
    spark.read.parquet(s"$dir/deltas")
      .select(col("batch_id").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSeq shouldBe Seq(2L)
    spark.read.parquet(s"$dir/cells")
      .select("vec_id").collect().map(_.getLong(0)).toSet shouldBe
      Set(0L, 2L, 3L, 6L, 7L)
    val all = StreamingOps.ivfPqTopKFromStreamIndex(spark, dir, "vec_id",
      Seq(1.0, 0.05, 0.0, 0.0), k = 6, nProbe = 4).collect()
    all.map(_.getLong(0)).toSet shouldBe Set(0L, 2L, 3L, 6L, 7L, 8L)
    all.length shouldBe 6
  }

  test("compactIvfDeltas folds committed deltas into cells, probe unchanged") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.Similarity
    val dir = java.nio.file.Files.createTempDirectory("civfc").toString
    val base = Seq(
      (0L, Seq(1.0, 0.0, 0.0, 0.0)),
      (2L, Seq(0.0, 1.0, 0.0, 0.0)),
      (3L, Seq(-1.0, 0.0, 0.0, 0.0))).toDF("vec_id", "embedding")
    Similarity.ivfWriteIndex(base, "vec_id", "embedding", dim = 4,
      path = dir, nBits = 2, lloydIters = 1)
    val in = MemoryStream[(Long, Seq[Double])]
    // compact inline after every 2nd batch (batch id 2 folds 0 and 1)
    val q = StreamingOps.continuousIvfAppend(
      in.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      dir, s"$dir-ckpt", compactEveryBatches = 2).start()
    try {
      in.addData((6L, Seq(1.0, 0.01, 0.0, 0.0)))
      q.processAllAvailable()
      in.addData((7L, Seq(0.01, 1.0, 0.0, 0.0)))
      q.processAllAvailable()
      in.addData((8L, Seq(0.98, 0.2, 0.0, 0.0)))
      q.processAllAvailable()
    } finally q.stop()
    // batches 0 and 1 folded into the base; only the latest delta remains
    spark.read.parquet(s"$dir/deltas")
      .select(col("batch_id").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSeq shouldBe Seq(2L)
    val folded = spark.read.parquet(s"$dir/cells")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    folded shouldBe Set(0L, 2L, 3L, 6L, 7L)
    // probe sees every vector exactly once, base ∪ remaining delta
    val all = StreamingOps.ivfTopKFromStreamIndex(spark, dir, "vec_id",
      Seq(1.0, 0.05, 0.0, 0.0), k = 6, nProbe = 4).collect()
    all.map(_.getLong(0)).toSet shouldBe Set(0L, 2L, 3L, 6L, 7L, 8L)
    all.length shouldBe 6
    // filtered stream probe (the batch faces' rowFilter hook): k rows
    // from the FILTERED candidate set, base ∪ delta both visible
    val even = StreamingOps.ivfTopKFromStreamIndex(spark, dir, "vec_id",
      Seq(1.0, 0.05, 0.0, 0.0), k = 3, nProbe = 4,
      rowFilter = _.filter(col("vec_id") % 2 === 0)).collect()
    even.map(_.getLong(0)).toSet shouldBe Set(0L, 6L, 8L)
    // re-running compaction is a safe no-op shape (idempotent on id)
    StreamingOps.compactIvfDeltas(spark, dir)
    StreamingOps.ivfTopKFromStreamIndex(spark, dir, "vec_id",
      Seq(1.0, 0.05, 0.0, 0.0), k = 6, nProbe = 4).count() shouldBe 6
  }

  test("IVF re-ingested id resolves by recency; compaction rewrites its stale cell") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.Similarity
    val dir = java.nio.file.Files.createTempDirectory("civfu").toString
    val vOld = Seq(-1.0, 0.0, 0.0, 0.0)
    val vNew = Seq(0.999, 0.05, 0.0, 0.0)
    val base = Seq((0L, Seq(1.0, 0.0, 0.0, 0.0)), (3L, vOld))
      .toDF("vec_id", "embedding")
    Similarity.ivfWriteIndex(base, "vec_id", "embedding", dim = 4,
      path = dir, nBits = 2, lloydIters = 1)
    val cents = Similarity.readCentroids(spark, dir)
    def cellOf(v: Seq[Double]): Long =
      Similarity.assignToCells(Seq((99L, v)).toDF("vec_id", "embedding"),
        "vec_id", "embedding", cents)
        .select(col("cell").cast("long")).head().getLong(0)
    val oldCell = cellOf(vOld)
    val newCell = cellOf(vNew)
    // precondition for the stale-cell claim: the update MOVES cells,
    // and id 3 was alone in its old cell
    oldCell should not be newCell
    val in = MemoryStream[(Long, Seq[Double])]
    val q = StreamingOps.continuousIvfAppend(
      in.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      dir, s"$dir-ckpt").start()
    try {
      in.addData((3L, vNew)) // batch 0: UPDATE of an existing id
      q.processAllAvailable()
      in.addData((9L, Seq(0.0, 1.0, 0.0, 0.0))) // batch 1 commits batch 0
      q.processAllAvailable()
    } finally q.stop()
    // probe-time recency: BEFORE compaction, the delta row beats the
    // stale base row deterministically (not an arbitrary dropDuplicates)
    val pre = StreamingOps.ivfTopKFromStreamIndex(spark, dir, "vec_id",
      Seq(1.0, 0.0, 0.0, 0.0), k = 3, nProbe = 4).collect()
    pre.count(_.getLong(0) == 3L) shouldBe 1
    pre.find(_.getLong(0) == 3L).get.getDouble(1) should be > 0.99 // vNew, not vOld's -1
    // rowFilter runs AFTER the recency dedup: a predicate matching only
    // the SUPERSEDED version (vOld points along -e1) must not resurrect
    // it — the filter sees the index's CURRENT row per id, nothing here
    StreamingOps.ivfTopKFromStreamIndex(spark, dir, "vec_id",
      Seq(1.0, 0.0, 0.0, 0.0), k = 3, nProbe = 4,
      rowFilter = _.filter(col("v").getItem(0) < 0.0)).count() shouldBe 0L
    StreamingOps.compactIvfDeltas(spark, dir)
    val cells = spark.read.parquet(s"$dir/cells")
      .select(col("vec_id"), col("cell").cast("long").as("cell"))
    // exactly one surviving row for id 3, in the NEW cell
    val r3 = cells.filter(col("vec_id") === 3L).collect()
    r3.map(_.getLong(1)).toSeq shouldBe Seq(newCell)
    // the old cell held only id 3: its directory is deleted outright
    // (dynamic overwrite alone would have left the stale file behind)
    cells.filter(col("cell") === oldCell).count() shouldBe 0L
    // post-compaction probe: every id once, id 3 scored on vNew
    val post = StreamingOps.ivfTopKFromStreamIndex(spark, dir, "vec_id",
      Seq(1.0, 0.0, 0.0, 0.0), k = 4, nProbe = 4).collect()
    post.map(_.getLong(0)).toSet shouldBe Set(0L, 3L, 9L)
    post.find(_.getLong(0) == 3L).get.getDouble(1) should be > 0.99
  }

  test("continuousApplyMixturePlan: streamed epochs equal the batch materialization") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("camp").toString
    val plan = Seq(("web", 2.5), ("books", 0.25)).toDF("source", "rate")
    val b1 = (0L until 60L).map(i => (i, if (i < 40) "web" else "books"))
    val b2 = (60L until 120L).map(i => (i, if (i % 2 == 0) "web" else "books"))
    val in = MemoryStream[(Long, String)]
    val q = StreamingOps.continuousApplyMixturePlan(
      in.toDF().toDF("doc_id", "source"), "source", "doc_id", plan,
      s"$dir/out", s"$dir/ckpt").start()
    try {
      in.addData(b1: _*)
      q.processAllAvailable()
      in.addData(b2: _*)
      q.processAllAvailable()
    } finally q.stop()
    // emission is a pure per-row function of (id, source, plan), so
    // ingestion batching is invisible: streamed union == batch run
    val streamed = spark.read.parquet(s"$dir/out")
      .select("doc_id", "source", "epoch_idx").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).sorted.toSeq
    val direct = graft.operators.Sampling.applyMixturePlan(
      (b1 ++ b2).toDF("doc_id", "source"), "source", "doc_id", plan)
      .select("doc_id", "source", "epoch_idx").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).sorted.toSeq
    streamed shouldBe direct
    streamed should not be empty
  }

  test("continuousQuantileSketch: carried state equals the batch sketch of the union") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.functions.{QuantileSketch => QS}
    val dir = java.nio.file.Files.createTempDirectory("cqs").toString
    val in = MemoryStream[(String, Double)]
    val q = StreamingOps.continuousQuantileSketch(
      in.toDF().toDF("g", "v"), Seq("g"), "v",
      s"$dir/state", s"$dir/ckpt", bins = 32).start()
    val b1 = (1 to 50).map(i => ("a", i.toDouble)) ++
      (1 to 30).map(i => ("b", i * 10.0))
    val b2 = (51 to 100).map(i => ("a", i.toDouble))
    try {
      in.addData(b1: _*)
      q.processAllAvailable()
      in.addData(b2: _*)
      q.processAllAvailable()
    } finally q.stop()
    // canonical form: the carried per-group sketch is EXACTLY the batch
    // sketch of all streamed rows — not approximately
    val streamed = spark.read.parquet(s"$dir/state")
    val mb = streamed.agg(max(col("batch_id"))).head.get(0).toString.toLong
    val carried = streamed.where(col("batch_id") === mb)
      .select(col("g"), col("sk")).collect()
      .map(r => r.getString(0) -> r.getStruct(1)).toMap
    val direct = (b1 ++ b2).toDF("g", "v").groupBy("g")
      .agg(QS.sketchAgg(col("v"), 32).as("sk"))
      .collect().map(r => r.getString(0) -> r.getStruct(1)).toMap
    carried shouldBe direct
    // and the view extracts sane quantiles per group
    val est = StreamingOps.currentQuantileEstimates(spark, s"$dir/state",
      Seq("g"), Seq(0.5)).collect()
      .map(r => r.getAs[String]("g") ->
        (r.getAs[Long]("n_values"), r.getAs[Double]("p50"))).toMap
    est("a")._1 shouldBe 100L
    est("b")._1 shouldBe 30L
    math.abs(est("a")._2 - 50.0) should be <= 8.0  // within a 32-bin bucket
    math.abs(est("b")._2 - 150.0) should be <= 16.0
  }

  test("continuousThetaSketch: carried state equals the batch sketch; sketches intersect") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.functions.{ThetaSketch => TS}
    val dir = java.nio.file.Files.createTempDirectory("cts").toString
    val in = MemoryStream[(String, String)]
    val q = StreamingOps.continuousThetaSketch(
      in.toDF().toDF("g", "v"), Seq("g"), "v",
      s"$dir/state", s"$dir/ckpt", k = 32).start()
    // sources a and b share users 20..40 across two batches
    val b1 = (1 to 30).map(i => ("a", s"u$i")) ++
      (20 to 45).map(i => ("b", s"u$i"))
    val b2 = (25 to 40).map(i => ("a", s"u$i")) ++ Seq(("b", "u99"))
    try {
      in.addData(b1: _*)
      q.processAllAvailable()
      in.addData(b2: _*)
      q.processAllAvailable()
    } finally q.stop()
    // KMV canonical form: the carried per-group sketch is EXACTLY the
    // batch sketch of all streamed rows
    val streamed = spark.read.parquet(s"$dir/state")
    val mb = streamed.agg(max(col("batch_id"))).head.get(0).toString.toLong
    val carried = streamed.where(col("batch_id") === mb)
      .select(col("g"), col("sk.vs")).collect()
      .map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    val direct = (b1 ++ b2).toDF("g", "v").groupBy("g")
      .agg(TS.thetaSketch(col("v"), 32).as("sk"))
      .select(col("g"), col("sk.vs")).collect()
      .map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    carried shouldBe direct
    // and the persisted sketches answer the overlap question: |a|=40,
    // |b|=27, shared = 20..40 (21 users) — exact here (sets > k would
    // estimate; these stay under k=32 only for a... b has 27 < 32, a has
    // 40 > 32 so the intersection is ESTIMATED; assert within 30%)
    val two = streamed.where(col("batch_id") === mb)
      .groupBy().pivot("g", Seq("a", "b")).agg(first(col("sk")))
    val inter = two.select(TS.thetaIntersect(col("a"), col("b")))
      .head().getDouble(0)
    math.abs(inter - 21.0) / 21.0 should be <= 0.3
  }

  test("continuousClusteredDedup maintains labels matching a batch rebuild") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("ccd").toString
    val a = "the quick brown fox jumps over the lazy dog in the morning sun"
    val c = "another brand new document about spark catalyst internals today"
    val in = MemoryStream[(Long, String)]
    val q = StreamingOps.continuousClusteredDedup(
      in.toDF().toDF("doc_id", "text"), "doc_id", "text",
      s"$dir/index", s"$dir/pairs", s"$dir/labels", s"$dir/ckpt",
      bands = 8, threshold = 0.5).start()
    try {
      in.addData((0L, a), (1L, a), (2L, "totally unrelated text about databases"))
      q.processAllAvailable()
      // batch 2: 10 joins the {0,1} cluster cross-batch; {11,12} is new
      in.addData((10L, a), (11L, c), (12L, c))
      q.processAllAvailable()
    } finally q.stop()
    val labels = StreamingOps.currentClusterLabels(spark, s"$dir/labels")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the maintained view equals a batch connectedComponents over the
    // full accumulated pair set
    val allPairs = spark.read.parquet(s"$dir/pairs")
    val rebuilt = graft.operators.Dedup.connectedComponents(allPairs, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    labels shouldBe rebuilt
    labels shouldBe Map(0L -> 0L, 1L -> 0L, 10L -> 0L, 11L -> 11L, 12L -> 11L)
    // batch 1 wrote only its own cluster's labels; batch 2's delta
    // re-propagated {0,1,10} and added {11,12} — per-batch partitions
    val deltas = spark.read.parquet(s"$dir/labels")
      // partition-column type inference may read batch_id as int
      .select(col("batch_id").cast("long"), col("id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).groupBy(_._1)
    deltas(0L).map(_._2).toSet shouldBe Set(0L, 1L)
    deltas(1L).map(_._2).toSet shouldBe Set(0L, 1L, 10L, 11L, 12L)
  }

  test("compactClusterLabels folds committed deltas; current view unchanged") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("ccdc").toString
    val a = "the quick brown fox jumps over the lazy dog in the morning sun"
    val c = "another brand new document about spark catalyst internals today"
    val in = MemoryStream[(Long, String)]
    val q = StreamingOps.continuousClusteredDedup(
      in.toDF().toDF("doc_id", "text"), "doc_id", "text",
      s"$dir/index", s"$dir/pairs", s"$dir/labels", s"$dir/ckpt",
      bands = 8, threshold = 0.5).start()
    try {
      in.addData((0L, a), (1L, a))
      q.processAllAvailable()
      in.addData((10L, a), (11L, c), (12L, c))
      q.processAllAvailable()
      // batch 3 extends the c-cluster so the latest delta is non-trivial
      in.addData((13L, c))
      q.processAllAvailable()
    } finally q.stop()
    val before = StreamingOps.currentClusterLabels(spark, s"$dir/labels")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    StreamingOps.compactClusterLabels(spark, s"$dir/labels")
    val after = StreamingOps.currentClusterLabels(spark, s"$dir/labels")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    after shouldBe before
    // on disk only the snapshot (-1) and the LATEST delta partition
    // remain — a read now touches snapshot + post-snapshot deltas only
    val parts = new java.io.File(s"$dir/labels").listFiles()
      .filter(_.isDirectory).map(_.getName)
      .filter(_.startsWith("batch_id=")).toSet
    parts shouldBe Set("batch_id=-1", "batch_id=2")
    // idempotent: compacting again changes nothing
    StreamingOps.compactClusterLabels(spark, s"$dir/labels")
    StreamingOps.currentClusterLabels(spark, s"$dir/labels")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap shouldBe before
  }

  test("continuousClusteredDedup auto-compacts every N batches; labels unchanged") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val a = "the quick brown fox jumps over the lazy dog in the morning sun"
    val c = "another brand new document about spark catalyst internals today"
    val feed = Seq(
      Seq((0L, a), (1L, a)),
      Seq((10L, a), (11L, c), (12L, c)),
      Seq((13L, c)),
      Seq((20L, a), (21L, "totally unrelated text about databases")),
      Seq((22L, c)))
    def run(dir: String, every: Int): Map[Long, Long] = {
      val in = MemoryStream[(Long, String)]
      val q = StreamingOps.continuousClusteredDedup(
        in.toDF().toDF("doc_id", "text"), "doc_id", "text",
        s"$dir/index", s"$dir/pairs", s"$dir/labels", s"$dir/ckpt",
        bands = 8, threshold = 0.5, compactEveryBatches = every).start()
      try feed.foreach { b => in.addData(b: _*); q.processAllAvailable() }
      finally q.stop()
      StreamingOps.currentClusterLabels(spark, s"$dir/labels")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    val plain = java.nio.file.Files.createTempDirectory("ccda0").toString
    val auto = java.nio.file.Files.createTempDirectory("ccda2").toString
    val expected = run(plain, every = 0)
    run(auto, every = 2) shouldBe expected
    // the stream compacted itself at batches 2 and 4: on disk only the
    // snapshot and the post-snapshot deltas remain (batch 4 was the
    // latest at compaction time, so it survives alongside -1)
    val parts = new java.io.File(s"$auto/labels").listFiles()
      .filter(_.isDirectory).map(_.getName)
      .filter(_.startsWith("batch_id=")).toSet
    parts shouldBe Set("batch_id=-1", "batch_id=4")
    // no-compaction run kept every delta partition
    new java.io.File(s"$plain/labels").listFiles()
      .filter(_.isDirectory).count(_.getName.startsWith("batch_id=")) shouldBe 5
  }

  test("continuousNbScore scores a stream against a persisted model") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("cnb").toString
    val fluent = Seq("the", "quick", "brown", "fox", "jumps", "over", "lazy", "dogs")
    val corpus = (1L to 12L).map { i =>
      if (i % 2 == 0)
        (i, (0 until 56).map(j => fluent((j + i.toInt) % fluent.size)).mkString(" "))
      else (i, s"buy cheap pills zzz qqq spam$i")
    }
    val corpusDf = corpus.toDF("doc_id", "text")
    graft.operators.Classifier.nbTrain(corpusDf, "doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/model")
    val model = spark.read.parquet(s"$dir/model")

    val in = MemoryStream[(Long, String)]
    val q = StreamingOps.continuousNbScore(
      in.toDF().toDF("doc_id", "text"), "doc_id", "text",
      model, s"$dir/scores", s"$dir/ckpt").start()
    try {
      in.addData(corpus.take(6): _*); q.processAllAvailable()
      in.addData(corpus.drop(6): _*); q.processAllAvailable()
    } finally q.stop()

    val streamed = spark.read.parquet(s"$dir/scores")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Boolean]("label"), r.getAs[Double]("nb_score")))).toMap
    val batchRun = graft.operators.Classifier
      .naiveBayesQuality(corpusDf, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getBoolean(1), r.getDouble(3)))).toMap
    streamed.keySet shouldBe batchRun.keySet
    batchRun.foreach { case (id, (lab, s)) =>
      streamed(id)._1 shouldBe lab
      streamed(id)._2 shouldBe s +- 1e-12
    }
  }

  test("continuousDsirScore scores a stream against a persisted model") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("cdsir").toString
    val corpus = (1L to 12L).map { i =>
      if (i % 2 == 0) (i, "the quick study of science and history")
      else (i, s"buy cheap deal now win prize$i")
    }
    val corpusDf = corpus.toDF("doc_id", "text")
    val target = corpusDf.filter(org.apache.spark.sql.functions.col("doc_id") <= 2)
    graft.operators.Sampling.dsirTrain(corpusDf, target, "doc_id", "text", 128)
      .write.mode("overwrite").parquet(s"$dir/model")
    val model = spark.read.parquet(s"$dir/model")

    val in = MemoryStream[(Long, String)]
    val q = StreamingOps.continuousDsirScore(
      in.toDF().toDF("doc_id", "text"), "doc_id", "text",
      model, 128, s"$dir/scores", s"$dir/ckpt").start()
    try {
      in.addData(corpus.take(5): _*); q.processAllAvailable()
      in.addData(corpus.drop(5): _*); q.processAllAvailable()
    } finally q.stop()

    val streamed = spark.read.parquet(s"$dir/scores")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("logw"))
      .toMap
    val batchRun = graft.operators.Sampling
      .importanceWeights(corpusDf, target, "doc_id", "text", 128)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    streamed.keySet shouldBe batchRun.keySet
    batchRun.foreach { case (id, w) => streamed(id) shouldBe w +- 1e-12 }
  }

  test("continuousKmeansAssign labels a stream against persisted centroids") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("ckm").toString
    val vecs = (0L until 30L).map { i =>
      val base = if (i % 3 == 0) Seq(1.0, 0.0, 0.0)
      else if (i % 3 == 1) Seq(0.0, 1.0, 0.0) else Seq(0.0, 0.0, 1.0)
      (i, base.map(_ + 0.01 * (i % 5)))
    }
    val vecsDf = vecs.toDF("vec_id", "v")
    graft.operators.Embeddings.kmeansTrain(vecsDf, "vec_id", "v",
      dim = 3, k = 3, iters = 3)
      .write.mode("overwrite").parquet(s"$dir/model")
    val model = spark.read.parquet(s"$dir/model")

    val in = MemoryStream[(Long, Seq[Double])]
    val q = StreamingOps.continuousKmeansAssign(
      in.toDF().toDF("vec_id", "v"), "vec_id", "v",
      model, s"$dir/labels", s"$dir/ckpt").start()
    try {
      in.addData(vecs.take(15): _*); q.processAllAvailable()
      in.addData(vecs.drop(15): _*); q.processAllAvailable()
    } finally q.stop()

    val streamed = spark.read.parquet(s"$dir/labels")
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("cluster"))
      .toMap
    val batchRun = graft.operators.Embeddings
      .kmeans(vecsDf, "vec_id", "v", dim = 3, k = 3, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    streamed shouldBe batchRun
  }

  test("continuousKCenterAssign routes a stream into the frozen coreset regions") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("ckc").toString
    val rnd = new scala.util.Random(23)
    val vecs = (0L until 24L).map(i => i -> Seq.fill(4)(rnd.nextDouble()))
    val vecsDf = vecs.toDF("vec_id", "v")
    graft.operators.Sampling.kCenterCenters(vecsDf, "vec_id", "v", t = 3)
      .write.mode("overwrite").parquet(s"$dir/coreset")
    val centers = spark.read.parquet(s"$dir/coreset")

    val in = MemoryStream[(Long, Seq[Double])]
    val q = StreamingOps.continuousKCenterAssign(
      in.toDF().toDF("vec_id", "v"), "vec_id", "v",
      centers, s"$dir/assigned", s"$dir/ckpt").start()
    try {
      in.addData(vecs.take(12): _*); q.processAllAvailable()
      in.addData(vecs.drop(12): _*); q.processAllAvailable()
    } finally q.stop()

    val streamed = spark.read.parquet(s"$dir/assigned")
      .collect()
      .map(r => r.getAs[Long]("vec_id") ->
        ((r.getAs[Long]("center_id"), r.getAs[Double]("d2"))))
      .toMap
    // stream scoring against the frozen coreset equals the one-shot
    // traversal's own assignment (same corpus, same centers)
    val batchRun = graft.operators.Sampling
      .kCenterSelect(vecsDf, "vec_id", "v", t = 3)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    streamed shouldBe batchRun
  }

  test("continuousSpanDedup strips cross-batch repeated spans, grows the block index") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("csd").toString
    val in = MemoryStream[(Long, String)]
    val q = StreamingOps.continuousSpanDedup(
      in.toDF().toDF("doc_id", "text"), "doc_id", "text",
      s"$dir/index", s"$dir/out", s"$dir/ckpt", k = 3).start()
    try {
      in.addData((0L, "a b c d e f"), (1L, "g h i tail1"))
      q.processAllAvailable()
      // batch 2: doc 10 repeats doc 0's blocks (stripped via the
      // persisted index), doc 11 repeats doc 10's fresh block IN-batch
      in.addData((10L, "a b c x y z"), (11L, "x y z t2"))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.read.parquet(s"$dir/out")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        Option(r.getAs[String]("text"))).toMap
    out(0L) shouldBe Some("a b c d e f")
    out(1L) shouldBe Some("g h i tail1")
    out(10L) shouldBe Some("x y z") // "a b c" owned by doc 0
    out(11L) shouldBe Some("t2")    // "x y z" owned by doc 10, tail kept
    // equals the full-corpus rebuild (ingestion order == id order)
    val full = graft.operators.TrainingData.dedupSpans(
      Seq((0L, "a b c d e f"), (1L, "g h i tail1"),
        (10L, "a b c x y z"), (11L, "x y z t2")).toDF("doc_id", "text"),
      "doc_id", "text", k = 3)
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    out shouldBe full
    // index holds one row per distinct block, owned by its first doc
    val idx = spark.read.parquet(s"$dir/index")
      .collect().map(r => r.getAs[Long]("doc_id")).toSeq
    idx.size shouldBe 4 // "a b c", "d e f", "g h i", "x y z"
    idx.count(_ == 10L) shouldBe 1 // doc 10 owns only its fresh block
  }

  test("continuousCdcDedup strips cross-batch repeated chunks, grows the chunk index") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("ccdc").toString
    val body = "the quick brown fox jumps over the lazy dog and then " +
      "runs far away into the deep dark forest tonight while owls watch"
    val fresh = "fresh never seen prose about sailing boats across quiet " +
      "lakes under pale morning light with gulls overhead"
    val in = MemoryStream[(Long, String)]
    val q = StreamingOps.continuousCdcDedup(
      in.toDF().toDF("doc_id", "text"), "doc_id", "text",
      s"$dir/index", s"$dir/out", s"$dir/ckpt", w = 8, maskBits = 4).start()
    try {
      in.addData((0L, body), (1L, fresh))
      q.processAllAvailable()
      // batch 2: doc 10 repeats doc 0 exactly (every chunk stripped via
      // the persisted index); doc 11 is a prefix-insertion variant that
      // re-syncs to doc 0's chunks after its first boundary
      in.addData((10L, body), (11L, "XX " + body))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.read.parquet(s"$dir/out")
      .select("doc_id", "n_chunks", "n_chunks_kept", "dedup_md5")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toSet
    // equals the full-corpus rebuild (ingestion order == id order)
    val full = graft.operators.TrainingData.cdcDedup(
      Seq((0L, body), (1L, fresh), (10L, body), (11L, "XX " + body))
        .toDF("doc_id", "text"),
      "doc_id", "text", w = 8, maskBits = 4)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toSet
    out shouldBe full
    val byId = out.map(r => r._1 -> ((r._2, r._3))).toMap
    byId(0L)._2 shouldBe byId(0L)._1  // first doc keeps everything
    byId(10L)._2 shouldBe 0L          // cross-batch exact dup keeps nothing
    byId(11L)._2 should be < byId(11L)._1 // re-syncs to mostly-owned chunks
    // index holds one row per distinct chunk ever seen, first-doc owned
    val idx = spark.read.parquet(s"$dir/index")
    idx.groupBy("chunk_md5").count().filter(col("count") > 1).count() shouldBe 0L
    idx.filter(col("doc_id") === 10L).count() shouldBe 0L // 10 owns nothing
  }

  test("continuousSimhashDedup: hamming family probes and grows its chunk index") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("chd").toString
    val a = "the quick brown fox jumps over the lazy dog in the morning sun"
    val far = "completely unrelated text about databases and query engines today"
    val in = MemoryStream[(Long, String)]
    val q = StreamingOps.continuousSimhashDedup(
      in.toDF().toDF("doc_id", "text"), "doc_id", "text",
      s"$dir/index", s"$dir/pairs", s"$dir/ckpt", maxHamming = 8).start()
    try {
      in.addData((0L, a), (1L, a), (2L, far))
      q.processAllAvailable()
      // batch 2: 10 duplicates batch 1's 0/1 across batches; 11 is new
      in.addData((10L, a), (11L, "something else entirely different here"))
      q.processAllAvailable()
    } finally q.stop()
    val pairs = spark.read.parquet(s"$dir/pairs")
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    pairs should contain((0L, 1L))   // in-batch exact dup, batch 1
    pairs should contain((0L, 10L))  // cross-batch near-dup
    pairs should contain((1L, 10L))
    // existing×existing pairs are never re-derived: (0,1) appears once
    spark.read.parquet(s"$dir/pairs")
      .filter(col("id_a") === 0 && col("id_b") === 1).count() shouldBe 1L
    pairs.exists { case (x, y) => x == 2L || y == 2L || y == 11L } shouldBe false
    spark.read.parquet(s"$dir/index")
      .select("batch_id").distinct().count() shouldBe 2
  }

  test("continuousHammingDedup composes with image perceptual hashes") {
    // the generalization claim made real: continuous image near-dup —
    // per batch, decode → DCT pHash → chunk index, probe prior batches;
    // pixels are read once ever, only 8-byte hashes accumulate
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.multimodal.Multimodal
    val dir = java.nio.file.Files.createTempDirectory("cpd").toString
    val in = MemoryStream[(Long, Array[Byte])]
    val indexOf = (batch: org.apache.spark.sql.DataFrame) =>
      graft.operators.Dedup.chunkBuckets(
        Multimodal.perceptualHashes(spark, batch, "img_id", "payload")
          .toDF("img_id", "sig"),
        "img_id", "sig", maxHamming = 6)
    val q = StreamingOps.continuousHammingDedup(
      in.toDF().toDF("img_id", "payload"),
      indexOf, "img_id", s"$dir/index", s"$dir/pairs", s"$dir/ckpt",
      maxHamming = 6).start()
    try {
      // batch 1: pattern 1 at two resolutions (near-dup), pattern 2
      in.addData(
        (0L, Multimodal.MediaDecoder.patternPng(1L, 64, 64)),
        (1L, Multimodal.MediaDecoder.patternPng(1L, 96, 96)),
        (2L, Multimodal.MediaDecoder.patternPng(2L, 64, 64)))
      q.processAllAvailable()
      // batch 2: pattern 1 again at a third resolution
      in.addData((10L, Multimodal.MediaDecoder.patternPng(1L, 128, 128)))
      q.processAllAvailable()
    } finally q.stop()
    val pairs = spark.read.parquet(s"$dir/pairs")
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    pairs should contain((0L, 1L))   // in-batch, different resolutions
    pairs should contain((0L, 10L))  // cross-batch vs the persisted index
    pairs should contain((1L, 10L))
    pairs.exists { case (x, y) => x == 2L || y == 2L } shouldBe false
  }

  test("continuousEmbeddingDedup: cosine pairs across batches via the persisted index") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("ced").toString
    def vec(seed: Int): Seq[Double] =
      Seq.tabulate(4)(j => math.sin(seed * 13 + j).abs + 0.1)
    val in = MemoryStream[(Long, Seq[Double])]
    val q = StreamingOps.continuousEmbeddingDedup(
      in.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      s"$dir/index", s"$dir/pairs", s"$dir/ckpt",
      dim = 4, nBits = 4, threshold = 0.95, kernel = "md5").start()
    try {
      in.addData((0L, vec(1)), (1L, vec(1)), (2L, vec(9)))
      q.processAllAvailable()
      in.addData((10L, vec(1))) // collides with batch 1's 0 and 1
      q.processAllAvailable()
    } finally q.stop()
    val pairs = spark.read.parquet(s"$dir/pairs")
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    pairs should contain((0L, 1L))
    pairs should contain((0L, 10L))
    pairs should contain((1L, 10L))
    spark.read.parquet(s"$dir/index")
      .select("batch_id").distinct().count() shouldBe 2
  }

  test("stream-static enrich broadcasts the dimension (no stream shuffle)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dim = Seq(("a", "alpha"), ("b", "beta")).toDF("k", "label")
    val in = MemoryStream[String]
    in.addData("a", "b", "c")
    val joined = StreamingOps.enrich(in.toDF().toDF("k"), dim, Seq("k"))
    runToMemory(joined, "enrich_out")
    val out = spark.table("enrich_out").collect()
      .map(r => (r.getString(0), Option(r.getString(1)))).toSet
    out shouldBe Set(("a", Some("alpha")), ("b", Some("beta")), ("c", None))
    // batch plan shape: broadcast join, no Exchange on the stream side
    val batchPlan = StreamingOps.enrich(
      Seq("a").toDF("k"), dim, Seq("k")).queryExecution.executedPlan.toString
    batchPlan should include("BroadcastHashJoin")
  }
}
