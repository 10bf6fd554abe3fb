package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col

import graft.operators.{Classifier, Dedup, Sampling, Takedown, TrainingData}
import graft.operators.Takedown.Store
import graft.streaming.StreamingOps
import graft.tables.Tables

/** Closed loop: each batch is offered only after the previous one returned.
  *   1. ingest: the documents arrive in 250-document micro-batches through
  *      `StreamingOps.continuousClusteredDedup` with inline compaction;
  *   2. build: NB, DSIR and BM25 stores over the same documents;
  *   3. takedown: `Takedown.forgetCompactAssert` removes a seed-chosen
  *      residue class mod 9 of ids from all four stores.
  */
final class StoreChurn(ctx: Ctx) extends Workload {
  import StoreChurn._
  private val spark = ctx.spark
  private val sf = s"${ctx.work}/sf"
  private lazy val docs = Tables.documents(spark, sf).filter(col("doc_id") < Docs)
    .select(col("doc_id"), col("text"), col("source")).cache()
  private lazy val batches: Seq[Seq[(Long, String)]] =
    docs.orderBy("doc_id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq.grouped(BatchDocs).toSeq
  private val residue = new scala.util.Random(ctx.seed).nextInt(9)
  private val progressLog = new ProgressLog
  private var passes = 0

  /** Untimed: the three steps once over the first batch's documents, into
    * scratch stores, so the measured pass runs warm code.
    */
  override def setup(): Unit = {
    spark.streams.addListener(progressLog)
    val base = ctx.dir("warm-up")
    val (in, q) = ingestQuery(base)
    try { in.addData(batches.head); q.processAllAvailable() } finally q.stop()
    val first = docs.filter(col("doc_id") < BatchDocs)
    build(first, base, new Tracer(spark, enabled = false))
    Takedown.forgetCompactAssert(victimsOf(first), storesOf(base), bestEffort = true).collect()
    Main.log("warm-up done")
  }

  private def build(docs: DataFrame, base: String, tracer: Tracer): Unit = {
    tracer.span("Classifier.nbModelWrite") {
      Classifier.nbModelWrite(docs, "doc_id", "text", s"$base/nb")
    }
    tracer.span("Sampling.dsirStoreWrite") {
      Sampling.dsirStoreWrite(docs, docs.filter(col("source").isin("src0", "src1")), "doc_id",
        "text", s"$base/dsir", numBuckets = 256)
    }
    tracer.span("TrainingData.bm25IndexWrite") {
      TrainingData.bm25IndexWrite(docs, "doc_id", "text", s"$base/bm25")
    }
  }

  private def storesOf(base: String): Seq[Store] = Seq(
    Store("nb_model", s"$base/nb", Map("idCol" -> "doc_id")),
    Store("dsir", s"$base/dsir", Map("idCol" -> "doc_id")),
    Store("bm25", s"$base/bm25", Map("idCol" -> "doc_id")),
    Store("cluster_state", s"$base/cs", Map("includeLatest" -> "true")))

  private def victimsOf(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % 9 === residue).select(col("doc_id").as("id"), col("text"))

  private def ingestQuery(base: String) = {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[(Long, String)]
    val q = StreamingOps.continuousClusteredDedup(in.toDF().toDF("doc_id", "text"),
      "doc_id", "text", s"$base/cs/index", s"$base/cs/pairs", s"$base/cs/labels",
      s"$base/ckpt", bands = 8, threshold = 0.5, compactEveryBatches = CompactEvery).start()
    (in, q)
  }

  override def measure(tracer: Tracer): Outcome = {
    val out = new Outcome
    passes += 1
    val base = ctx.dir(s"stores-$passes")
    val cs = s"$base/cs"
    val batchMs = ArrayBuffer.empty[Double]
    // a full collection after each operation, outside its timing, samples
    // the heap, and no operation pays for the garbage of the one before it
    def settle(): Unit = HeapPeak.sample()
    settle()
    val ingest = tracer.span("ingest", phase = "ingest") {
      val (in, q) = ingestQuery(base)
      val startMs = System.currentTimeMillis()
      try batches.foreach { b =>
        out.attempted += 1
        val t = System.nanoTime()
        in.addData(b)
        q.processAllAvailable()
        batchMs += (System.nanoTime() - t) / 1e6
        settle()
      } finally q.stop()
      q.exception.foreach(e => throw e)
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      progressLog.take(q.id.toString, startMs)
    }
    val diff = tracer.span("labels_check", phase = "checks") {
      val labels = StreamingOps.currentClusterLabels(spark, s"$cs/labels")
      val closure = Dedup.connectedComponents(
        StreamingOps.currentClusterPairs(spark, s"$cs/pairs", s"$cs/labels"), "id_a", "id_b")
      labels.exceptAll(closure).count() + closure.exceptAll(labels).count()
    }
    out.check("store_churn.labels_equal_closure", diff == 0, s"$diff rows differ")
    val afterIngest = onDisk(base)

    val buildS = Stats.time(tracer.span("build", phase = "build")(build(docs, base, tracer)))._2
    settle()

    out.attempted += 1
    val stores = storesOf(base) ++ (ctx.fault match {
      // negative control: a store of no registered kind makes the takedown throw
      case "throwing_takedown" => Seq(Store("no_such_kind", s"$base/none"))
      // negative control: a store that was never built comes back not purged
      case "unclean_takedown" => Seq(Store("nb_model", s"$base/none", Map("idCol" -> "doc_id")))
      case _ => Nil
    })
    // best effort: the program reports each store's outcome instead of
    // throwing, and the audit is graded here
    val (audit, takedownS) = Stats.time(tracer.span("takedown", phase = "takedown") {
      try Right(Takedown.forgetCompactAssert(victimsOf(docs), stores, bestEffort = true)
        .collect().toSeq)
      catch { case e: Exception => Left(e.getMessage) }
    })
    val unclean = audit match {
      case Right(rows) =>
        rows.filter(_.getAs[String]("status") != "purged")
          .map(r => s"${r.getAs[String]("kind")} @ ${r.getAs[String]("path")}: ${r.getAs[String]("status")}") ++
          (if (rows.size == stores.size) Nil else Seq(s"${rows.size} audit rows for ${stores.size} stores"))
      case Left(error) => Seq(s"threw: $error")
    }
    out.check("store_churn.takedown_audit", unclean.isEmpty, unclean.mkString("; "))
    if (unclean.nonEmpty) out.failed += 1
    settle()
    // a takedown that failed in any way counts at the penalty, never at the
    // (possibly shorter) time it took
    val takedownMs = if (unclean.isEmpty) takedownS * 1e3 else Main.FailurePenaltyMs
    val afterTakedown = onDisk(base)
    // the operations' own times: checks and heap samples in between are not
    // part of it
    val totalS = batchMs.sum / 1e3 + buildS + takedownMs / 1e3

    // three batches support no percentile above the median (LatencyHist.tail)
    val p50 = Stats.median(batchMs)
    out.e2e ++= Seq("total_s" -> totalS, "latency_p50_ms" -> p50, "latency_p99_ms" -> p50)
    out.report ++= Seq("total_s" -> (totalS, "s"), "batch_p50_ms" -> (p50, "ms"),
      "batch_max_ms" -> (batchMs.max, "ms"),
      "batches" -> (batchMs.size.toDouble, "count"), "build_s" -> (buildS, "s"),
      "takedown_s" -> (takedownMs / 1e3, "s"),
      "failed_frac" -> (out.failed.toDouble / out.attempted, "ratio"))
    out.layers ++= Seq("stores.ingest.state_bytes" -> afterIngest._1.toDouble,
      "stores.ingest.state_files" -> afterIngest._2.toDouble,
      "stores.takedown.state_bytes" -> afterTakedown._1.toDouble,
      "stores.takedown.state_files" -> afterTakedown._2.toDouble)
    out.layers ++= ProgressLog.layers(ingest.batches, 0L)
    out
  }

  override def layerProbes(tracer: Tracer, out: Outcome): Unit =
    out.layers("functions.minhash_index_s") = tracer.span("functions.minhash_index", phase = "probes") {
      minhashIndexSeconds(docs)
    }
}

object StoreChurn {
  val BatchDocs = 250
  /** the first documents by id: three ingest batches */
  val Docs = 750
  /** label compaction inline on the last batch only */
  val CompactEvery = 3

  /** `Dedup.minhashIndex` over the corpus with the streaming dedup's
    * parameters, forced alone; median of three.
    */
  def minhashIndexSeconds(docs: DataFrame): Double =
    Stats.median((1 to 3).map(_ => Stats.time(
      Dedup.minhashIndex(docs.select(col("doc_id"), col("text")), "doc_id", "text", 16, 8, 5)
        .write.format("noop").mode("overwrite").save())._2))

  /** (bytes, files) of the stores under `base`, checkpoints excluded. */
  def onDisk(base: String): (Long, Long) = {
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(base))
    try {
      val xs = files.filter(p => java.nio.file.Files.isRegularFile(p) &&
        !p.toString.contains("/ckpt/")).toArray.map(_.asInstanceOf[java.nio.file.Path])
      (xs.map(java.nio.file.Files.size).sum, xs.length.toLong)
    } finally files.close()
  }
}
