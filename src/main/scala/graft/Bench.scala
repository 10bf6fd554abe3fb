package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.codec.ConfluentAvro
import graft.pipeline.PipelineDef

/** Benchmark main — one JSON line per run for the driver's BENCH_r{N}.json.
  *
  * Each query is forced through the `noop` sink, not `count()`: count()
  * lets Catalyst prune every computed column (a map-only pipeline would
  * "run" in zero time without executing its projections), while noop
  * materializes every row.
  *
  * Also measures the BASELINE.md headline: msg/s through the full
  * decode → chain → encode path (reference consumer loop,
  * src/consumer.js:153-175) over synthetic messages shaped like
  * loadTest.js:57-61, at 2M messages.
  */
object Bench {

  private def force(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def time[A](f: => A): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  /** The summary line — the run's gate record, printed LAST on
    * stdout and copied to `BENCH_SUMMARY.json`. A failed query is timed
    * as `-1.0`: it is left out of `value` and the top ten but COUNTED in
    * `n_failed` (a run with failures exits 1 — its total is not a
    * valid measurement, never a faster one). Keys and the SF path are
    * escaped with [[Verify.jsonStr]], so the line is strict JSON.
    */
  private[graft] def summaryJson(results: Seq[(String, Double)],
      throughput: Double, sfDir: String, cpus: Int): String = {
    val ok = results.filter(_._2 >= 0)
    val top10 = ok.sortBy(-_._2).take(10)
      .map { case (k, v) => s"${Verify.jsonStr(k)}:${math.round(v * 1000) / 1000.0}" }
      .mkString("{", ",", "}")
    s"""{"metric":"total_queries","value":${ok.map(_._2).sum},""" +
      s""""unit":"sec","queries":$top10,"n_queries":${results.size},""" +
      s""""n_failed":${results.size - ok.size},"cpus":$cpus,""" +
      s""""pipeline_throughput_msgs_per_sec":$throughput,""" +
      s""""sf":${Verify.jsonStr(sfDir)}}"""
  }

  /** The record files a run writes: none for a subset run (a partial
    * record must not clobber the complete one); a full run with a failed
    * query, or one on fewer `cpus` than the shipping summary was taken on
    * (`shippingCpus`, None for a summary without the field), keeps the
    * shipping LATEST and SUMMARY records and writes only its SF's history
    * and best record, whose readers skip -1 entries.
    */
  private[graft] def recordFiles(subset: Boolean,
      results: Seq[(String, Double)], sfName: String,
      cpus: Int = 0, shippingCpus: Option[Int] = None): Seq[String] =
    if (subset) Nil
    else Seq(s"BENCH_FULL_$sfName.json", s"BENCH_BEST_$sfName.json") ++
      (if (results.exists(_._2 < 0) || shippingCpus.exists(_ > cpus)) Nil
       else Seq("BENCH_FULL_LATEST.json", "BENCH_SUMMARY.json"))

  /** The `cpus` a summary record was taken on; None for a record from
    * before the field. A malformed record throws (an `IOException`).
    */
  private[graft] def summaryCpus(record: String): Option[Int] = {
    val n = new com.fasterxml.jackson.databind.ObjectMapper().readTree(record).path("cpus")
    if (n.isInt) Some(n.asInt) else None
  }

  // the one record writer: every record file lands relative to the
  // working directory (the repo root under sbt's forked run and
  // tools/run_main.sh); a failed write is reported, not swallowed
  private def writeRecord(file: String, json: String): Unit =
    try java.nio.file.Files.write(java.nio.file.Paths.get(file),
      (json + "\n").getBytes("UTF-8"))
    catch { case e: java.io.IOException =>
      System.err.println(s"[bench] could not write $file: $e") }

  /** loadTest.js-shaped messages, pre-encoded in Confluent wire format. */
  private def wireMessages(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).select(
      ConfluentAvro.toConfluentAvro(
        struct(
          concat(lit("key-0-"), (col("id") / 25000).cast("long"), lit("-"), col("id") % 25000).as("key"),
          concat(lit("value-0-"), col("id")).as("value"),
          col("id").cast("int").as("num")),
        ConfluentAvro.eventSchemaJson, schemaId = 1).as("value"))

  /** The shipping data plane end-to-end, `PipelineRunner.decodeAndRoute`
    * over a batch frame: guarded decode, 3-step chain with its
    * conservation observation, route, encode. Returns msg/s.
    */
  private def pipelineThroughput(spark: SparkSession, n: Long): Double =
    Frames.scoped { f =>
      val wire = f.persist(wireMessages(spark, n))
      wire.count() // materialize input outside the timed section
      val spec = PipelineDef(0, "bench", "in", "target", "event", "event",
        Seq("capitalize", "add10", "isEven"), Seq.empty)
      n / time {
        force(PipelineRunner.decodeAndRoute(wire, spec,
          ConfluentAvro.eventSchemaJson, ConfluentAvro.eventSchemaJson, outSchemaId = 1))
      }
    }

  /** The per-query seconds of one bench record (`BENCH_FULL_*.json` or
    * `BENCH_BEST_*.json` text) when it was taken at `sfDir`, else None.
    * Failed (`-1`) entries are dropped. A JSON read, so an SF path the
    * writer escaped ([[Verify.jsonStr]]) still matches its own history;
    * a malformed record throws (an `IOException`).
    */
  private[graft] def timingsAtSf(record: String,
      sfDir: String): Option[Map[String, Double]] = {
    import scala.jdk.CollectionConverters._
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(record)
    val timings = root.path("timings_ms")
    if (root.path("sf").asText(null) != sfDir || !timings.isObject) None
    else Some(timings.properties().asScala.map(e =>
        e.getKey -> e.getValue.asDouble(-1) / 1000.0)
      .filter(_._2 > 0).toMap)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // doc/embedding side tables at bench SFs are tens of MB — broadcast
      // them instead of shuffling wide array columns to every pair
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // JVM/codegen warmup on the flagship path (not timed)
    try force(SparkEntry.queries("q1_pricing")(spark, sfDir))
    catch { case _: Throwable => }

    // SPARK_GRAFT_ONLY=q1,q2 — iterate on a subset without paying for the
    // whole suite ("throughput" enables the pipeline number)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)

    // An operator frees its own intermediates (graft.Frames); a frame it
    // RETURNS (dedup pair-gen, IVF probes, CCNet thresholds, connected
    // components) is left to this session cleanup. Left in place they
    // accumulate across ~200 executions and tax every later query with
    // storage pressure — numbers stop being per-query.
    def clearState(): Unit = {
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }

    // Two full passes in OPPOSITE query orders, per-query min. r4-r7 each
    // saw the same family-wide drift on unchanged code: with a fixed
    // alphabetical order, JIT/GC/page-cache state systematically biases
    // late-alphabet families (text_* ran after the heavy dedup_* block
    // every time). Running pass 2 in reverse means every query gets one
    // early-position and one late-position sample; min() keeps whichever
    // escaped the warm-up/pressure tax.
    // oracle-gated queries plus the bench-only scale entries (contracts
    // checked small in Verify, cost shape measured large here)
    val allQueries = SparkEntry.queries ++ SparkEntry.benchQueries
    val names = allQueries.keys.toSeq.sorted
      .filter(name => only.forall(_.contains(name)))
    def runPass(order: Seq[String]): Map[String, Double] =
      order.map { name =>
        val sec =
          try time(force(allQueries(name)(spark, sfDir)))
          catch { case _: Throwable => -1.0 }
          finally clearState()
        name -> sec
      }.toMap
    val passA = runPass(names)
    val passB = runPass(names.reverse)
    val twoPass = names.map { name =>
      val (a, b) = (passA(name), passB(name))
      name -> (if (a < 0 || b < 0) -1.0 else math.min(a, b))
    }

    // Drift guard: min-of-two-passes-in-one-JVM-session does not defend
    // against a CORRELATED slow window (r9 committed text_wordpiece at
    // 12.78 s; the same query re-measured at 0.92 s — both passes hit
    // the same swell). Any query whose two-pass min exceeds 2× its value
    // in the PREVIOUS round's record (same SF only) gets one more fresh
    // run; the committed value is the min of three, and the retried
    // names land in the record so the regression story is auditable.
    //
    // History is PER-SF (BENCH_FULL_<sf>.json): r11's record shipped
    // four unretried >2× swings because the single LATEST slot held an
    // sf0.01 record when the sf0.1 run started — the SF check correctly
    // rejected it, but that left the guard with NO history and it
    // silently disabled itself. A cross-SF run must never wipe (or
    // shadow) same-SF history, so each SF keeps its own record file;
    // LATEST stays the shipping record and doubles as a fallback for
    // pre-split history.
    val sfName = java.nio.file.Paths.get(sfDir).getFileName.toString
    def parseSameSf(path: java.nio.file.Path): Option[Map[String, Double]] =
      try {
        if (!java.nio.file.Files.isReadable(path)) None
        else timingsAtSf(
          new String(java.nio.file.Files.readAllBytes(path), "UTF-8"), sfDir)
      } catch { case e: java.io.IOException =>
        System.err.println(s"[bench] could not read $path: $e"); None }
    val prevTimings: Map[String, Double] = {
      // per-SF file first, then LATEST (still SF-checked) — the paths
      // the writer uses, so the guard works wherever the writer does
      Seq(s"BENCH_FULL_$sfName.json", "BENCH_FULL_LATEST.json")
        .iterator
        .flatMap(p => parseSameSf(java.nio.file.Paths.get(p)))
        .nextOption()
        .getOrElse(Map.empty)
    }
    // Best-ever-per-SF history: adjacent-round comparison misses
    // CUMULATIVE creep (dedup_products_shared climbed 3.07 → 4.18 →
    // 6.25 s over three rounds, each step under the 2× bar, then
    // reverted the moment a guard compared further back). The best file
    // carries each query's all-time min at this SF; a query above 2×
    // its best gets the same one-more-fresh-run remedy, and whatever
    // remains above the bar is published as drift_vs_best so the
    // round-over-round story is auditable.
    val bestPath = s"BENCH_BEST_$sfName.json"
    val bestTimings: Map[String, Double] =
      parseSameSf(java.nio.file.Paths.get(bestPath)).getOrElse(Map.empty)
    def above2x(hist: Map[String, Double])(name: String, v: Double): Boolean =
      v >= 0 && hist.get(name).exists(p => v > 2 * p)
    val retried = twoPass.collect { case (name, v)
      if above2x(prevTimings)(name, v) || above2x(bestTimings)(name, v) =>
        name }
    if (retried.nonEmpty)
      System.err.println(s"[bench] drift-guard retries: ${retried.mkString(", ")}")
    val passC = runPass(retried)
    val results = twoPass.map { case (name, v) =>
      name -> (if (passC.get(name).exists(_ >= 0)) math.min(v, passC(name)) else v)
    }
    // still above 2× best after the retry = sustained drift, published
    val driftVsBest = results.collect { case (name, v)
      if above2x(bestTimings)(name, v) => name }.sorted
    // every sample lands in the full record (r8 verdict nit: the round
    // was quoted from a builder sample, not the committed record — one
    // citable set ends that); the max stays the headline gate number
    val throughputSamples: Seq[Double] = {
      if (only.exists(!_.contains("throughput"))) Seq.empty
      else {
        // throwaway warmup run (small n, not recorded): the codec +
        // chain codegen paths are cold here — q1_pricing's warmup above
        // covers the QUERY side only — and r14's committed record
        // carried a 0.23 M first sample (pure cold-start) that tripped
        // the designed drift retry on a healthy host every run
        pipelineThroughput(spark, 200000L)
        val two = Seq(
          pipelineThroughput(spark, 2000000L), pipelineThroughput(spark, 2000000L))
        // same drift rule as the queries: a >2× intra-session spread
        // (r10's committed record carried [3.74 M, 0.62 M] — one sample
        // hit a slow window) earns ONE more fresh sample; all samples
        // land in the record so the spread stays auditable
        if (two.max > 2 * two.min) {
          System.err.println("[bench] throughput drift-guard retry")
          two :+ pipelineThroughput(spark, 2000000L)
        } else two
      }
    }
    val throughput =
      if (throughputSamples.isEmpty) 0.0 else throughputSamples.max

    // Output layout for the driver's fixed-size stdout TAIL: r4/r5
    // front-truncated the one giant summary line; r6 put 118 per-query
    // lines last and the summary scrolled off; r7 put 5 packed chunks
    // before the summary and ~60% of timings scrolled off. The tail size
    // is unknowable from here, so this round we stop fighting it:
    //   (1) the COMPLETE record (every timing, throughput, sf) is
    //       written to BENCH_FULL_LATEST.json — always readable
    //       regardless of what stdout survives;
    //   (2) stdout ends with: packed timing chunks (SLOWEST queries in
    //       the final chunk, so the highest-signal numbers sit closest
    //       to the guaranteed-kept end) and then the <300-byte summary
    //       line LAST — inside any tail window, carrying the gates.
    val cores = spark.sparkContext.defaultParallelism
    val summary = summaryJson(results, throughput, sfDir, cores)
    def ms(v: Double): String = if (v < 0) "-1" else math.round(v * 1000).toString

    val allMs = results.sortBy(_._1)
      .map { case (k, v) => Verify.jsonStr(k) + ":" + ms(v) }.mkString("{", ",", "}")
    val samplesJson = throughputSamples
      .map(s => math.round(s).toString).mkString("[", ",", "]")
    val retriedJson = retried.map("\"" + _ + "\"").mkString("[", ",", "]")
    val driftBestJson = driftVsBest.map("\"" + _ + "\"").mkString("[", ",", "]")
    val fullJson = summary.dropRight(1) +
      s""","throughput_samples":$samplesJson,"drift_retried":$retriedJson,"drift_vs_best":$driftBestJson,"timings_ms":$allMs}"""
    // fold this run into the all-time best record (min per query)
    val newBest = (bestTimings.keySet ++ results.collect {
      case (k, v) if v >= 0 => k }.toSet).toSeq.sorted.map { k =>
      val cand = Seq(bestTimings.get(k),
        results.toMap.get(k).filter(_ >= 0)).flatten
      k -> cand.min
    }
    val bestMs = newBest
      .map { case (k, v) => Verify.jsonStr(k) + ":" + ms(v) }.mkString("{", ",", "}")
    // LATEST = the shipping record; BENCH_FULL_<sf>.json = this SF's
    // drift-guard history, immune to runs at other SFs; the exact
    // summary line also lands in a stable root-level file, for readers
    // that cannot parse the stdout tail
    val records = Map("BENCH_FULL_LATEST.json" -> fullJson,
      s"BENCH_FULL_$sfName.json" -> fullJson,
      bestPath -> s"""{"sf":${Verify.jsonStr(sfDir)},"timings_ms":$bestMs}""",
      "BENCH_SUMMARY.json" -> summary)
    val shippingCpus =
      try {
        val path = java.nio.file.Paths.get("BENCH_SUMMARY.json")
        if (!java.nio.file.Files.isReadable(path)) None
        else summaryCpus(new String(java.nio.file.Files.readAllBytes(path), "UTF-8"))
      } catch { case e: java.io.IOException =>
        System.err.println(s"[bench] could not read BENCH_SUMMARY.json: $e"); None }
    recordFiles(only.nonEmpty, results, sfName, cores, shippingCpus)
      .foreach(file => writeRecord(file, records(file)))

    // slowest-last so a byte- or line-limited tail keeps the queries most
    // worth comparing round-over-round
    val packed = results.sortBy(_._2)
      .map { case (k, v) => Verify.jsonStr(k) + ":" + ms(v) }.grouped(30).toSeq
    packed.zipWithIndex.foreach { case (chunk, i) =>
      println(s"""{"timings_ms_${i + 1}of${packed.size}":${chunk.mkString("{", ",", "}")}}""")
    }
    println(summary)
    spark.stop()
    if (results.exists(_._2 < 0)) sys.exit(1)
  }
}
