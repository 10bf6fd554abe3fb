package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Frames
import graft.operators.{Takedown, Classifier, Sampling, TrainingData,
  Graph, Embeddings, Dedup, Similarity}
import graft.operators.Takedown.Store
import graft.tables.Tables

/** Dev profiler: per-phase wall times of the orchestrated-takedown
  * bench query (build / forget / compactAll / assertForgotten / probe),
  * plus per-store build times — where the 29 s actually sits. Mirrors
  * the pipeline_takedown_all lambda exactly. Not part of the driver
  * contract.
  */
object ProfileTakedown {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // arg(1) == "fair": the scheduler experiment arm — FAIR mode with
    // one on-demand pool per store build (set thread-locally below), so
    // concurrent chains round-robin task slots instead of FIFO backfill
    val fair = args.length > 1 && args(1) == "fair"
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.scheduler.mode", if (fair) "FAIR" else "FIFO")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val s = spark

    // stage-metrics capture: aggregate executor task time per phase, so
    // a slow phase can be attributed to WORK (task seconds ≈ wall ×
    // cores → compute-bound) vs SCHEDULING/STRAGGLERS (task seconds ≪
    // wall × cores → idle slots) — the "what would FAIR buy" evidence
    val taskNanos = new java.util.concurrent.atomic.AtomicLong(0L)
    val taskCount = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = te.taskMetrics
          if (m != null) {
            taskNanos.addAndGet(m.executorRunTime * 1000000L)
            taskCount.incrementAndGet()
          }
        }
      })

    def t[A](name: String)(f: => A): A = {
      val n0 = taskNanos.get(); val c0 = taskCount.get()
      val t0 = System.nanoTime(); val r = f
      val wall = (System.nanoTime() - t0) / 1e9
      // listener events drain asynchronously; the fixed settle is
      // best-effort — late TaskEnd events can still be attributed to
      // the FOLLOWING phase, so task-seconds/slot-util on very short
      // phases are approximate (dev tool; wall times are exact)
      Thread.sleep(300)
      val task = (taskNanos.get() - n0) / 1e9
      val util = task / (wall * cpus.toInt) * 100
      println(f"[profile] $name%-28s $wall%8.2f s  " +
        f"task ${task}%9.1f s  tasks ${taskCount.get() - c0}%6d  " +
        f"slot-util $util%5.1f%%")
      r
    }
    def force(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    try force(graft.SparkEntry.queries("q1_pricing")(spark, dir))
    catch { case _: Throwable => }

    val docs = Tables.documents(s, dir)
    val emb = Tables.embeddings(s, dir)
    val base = s"${System.getProperty("java.io.tmpdir")}/graft-prof-takedown"
    val tgt = col("source").isin("src0", "src1")
    def writeBatch0(df: DataFrame, path: String): Unit =
      df.withColumn("batch_id", lit(0L))
        .write.mode("overwrite").partitionBy("batch_id").parquet(path)
    def writeBatch1(df: DataFrame, path: String): Unit =
      df.withColumn("batch_id", lit(1L))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id").parquet(path)
    def coPurchaseEdges(modulus: Int, residue: Int): DataFrame = {
      val li = Tables.lineitem(s, dir)
        .filter(col("l_orderkey") % modulus === residue)
        .select(col("l_orderkey").as("k"),
          col("l_partkey").cast("long").as("p"))
      li.join(li.select(col("k"), col("p").as("q")), Seq("k"))
        .filter(col("p") =!= col("q"))
        .select(col("p").as("src"), col("q").as("dst"))
    }
    val builds: Seq[(String, () => Unit)] = Seq(
      "nb" -> (() => Classifier.nbModelWrite(docs, "doc_id", "text", s"$base/nb")),
      "dsir" -> (() => Sampling.dsirStoreWrite(docs, docs.filter(tgt), "doc_id",
        "text", s"$base/dsir", numBuckets = 256)),
      "bm25" -> (() => TrainingData.bm25IndexWrite(docs, "doc_id", "text",
        s"$base/bm25")),
      "dc" -> (() => TrainingData.decontamIndexWrite(docs.filter(col("doc_id") >= 5),
        "doc_id", "text", s"$base/dc", n = 4)),
      "ct" -> (() => TrainingData.containmentIndexWrite(
        docs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text",
        s"$base/ct", shingleN = 12)),
      "jp" -> (() => Dedup.jaccardPrefixIndexWrite(docs.filter(col("doc_id") < 250),
        "doc_id", "text", s"$base/jp", shingleN = 5, threshold = 0.7)),
      "ivf" -> (() => Similarity.ivfWriteIndex(emb, "vec_id", "embedding", dim = 64,
        path = s"$base/ivf", nBits = 4, lloydIters = 0)),
      "km" -> (() => Embeddings.kmeansModelWrite(emb, "vec_id", "embedding",
        dim = 64, k = 4, iters = 2, s"$base/km")),
      "pq" -> (() => Embeddings.pqModelWrite(emb, "vec_id", "embedding",
        dim = 64, m = 4, k = 8, iters = 2, s"$base/pq")),
      "tri" -> (() => Graph.trianglesIndexWrite(coPurchaseEdges(4, 0),
        "src", "dst", s"$base/tri")),
      "cdc" -> (() => {
        val cdc0 = TrainingData.cdcIndex(
          docs.filter(col("doc_id") < 250), "doc_id", "text",
          w = 8, maskBits = 6)
        writeBatch0(cdc0, s"$base/cdc")
        writeBatch1(TrainingData.cdcIndexDelta(
          docs.filter(col("doc_id") >= 250), "doc_id", "text",
          w = 8, maskBits = 6, cdc0), s"$base/cdc")
      }),
      "cs" -> (() => Frames.scoped { f =>
        val csPairs = f.checkpoint(Dedup.minhashLsh(docs, "doc_id", "text",
          numHashes = 16, bands = 8, shingleN = 5, threshold = 0.4,
          estimateSlack = 0.05)
          .select(col("id_a"), col("id_b")))
        writeBatch0(csPairs, s"$base/cs/pairs")
        writeBatch0(Dedup.connectedComponents(csPairs, "id_a", "id_b"),
          s"$base/cs/labels")
        writeBatch0(docs.select(col("doc_id").as("id")),
          s"$base/cs/index")
      }),
      "tbl" -> (() => docs.select(col("doc_id"), (col("doc_id") % 16).as("p"),
          col("source"))
        .write.mode("overwrite").partitionBy("p").parquet(s"$base/tbl")))

    // sequential per-store build times first (the concurrency hides who
    // is slow), then the concurrent wall-clock like the bench. In the
    // "fair" arm each build thread claims its own on-demand pool
    // (FAIR shares across pools; pools are thread-local properties)
    if (args.length > 1 && args(1) == "seq")
      builds.foreach { case (n, f) => t(s"build:$n")(f()) }
    else
      t(s"build ALL (concurrent${if (fair) ", FAIR" else ""})") {
        Takedown.inParallel(builds) { b =>
          if (fair) s.sparkContext.setLocalProperty(
            "spark.scheduler.pool", s"store-${b._1}")
          b._2.apply()
        }
      }

    val victims = docs.filter(col("doc_id") % 9 === 2)
      .select(col("doc_id").as("id"), col("text"))
      .unionByName(emb.filter(col("vec_id") % 9 === 2)
        .select(col("vec_id").as("id"),
          lit(null).cast("string").as("text")))
      .unionByName(Tables.lineitem(s, dir)
        .select(col("l_partkey").cast("long").as("id"))
        .filter(col("id") % 9 === 2).distinct()
        .select(col("id"), lit(null).cast("string").as("text")))
    val stores = Seq(
      Store("nb_model", s"$base/nb", Map("idCol" -> "doc_id")),
      Store("dsir", s"$base/dsir", Map("idCol" -> "doc_id")),
      Store("bm25", s"$base/bm25", Map("idCol" -> "doc_id")),
      Store("decontam", s"$base/dc", Map("idCol" -> "doc_id")),
      Store("containment", s"$base/ct", Map("idCol" -> "doc_id")),
      Store("jaccard_prefix", s"$base/jp", Map("idCol" -> "doc_id")),
      Store("ivf", s"$base/ivf", Map("idCol" -> "vec_id")),
      Store("kmeans_model", s"$base/km", Map("idCol" -> "vec_id")),
      Store("pq_model", s"$base/pq", Map("idCol" -> "vec_id")),
      Store("triangles", s"$base/tri"),
      Store("cdc_state", s"$base/cdc",
        Map("idCol" -> "doc_id", "includeLatest" -> "true")),
      Store("cluster_state", s"$base/cs",
        Map("includeLatest" -> "true")),
      Store("table", s"$base/tbl",
        Map("idCol" -> "doc_id", "partitionCol" -> "p")))
    // arg(1) == "fused": the single-walk delete→compact→audit chain;
    // default: the three phase-barriered entry points
    if (args.length > 1 && args(1) == "fused")
      t("forgetCompactAssert (fused)")(
        Takedown.forgetCompactAssert(victims, stores))
    else {
      t("forget")(Takedown.forget(victims, stores))
      t("compactAll")(Takedown.compactAll(s, stores))
      t("assertForgotten")(Takedown.assertForgotten(victims, stores))
    }
    spark.stop()
  }
}
