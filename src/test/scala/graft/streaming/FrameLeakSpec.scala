package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.{Classifier, Graph, Sampling, Similarity, Takedown,
  TrainingData}
import graft.operators.Takedown.Store

/** Nothing a store protocol materializes outlives the call, on the
  * failure path or per micro-batch: the session's persisted RDDs and
  * cache entries are those it had before.
  */
class FrameLeakSpec extends SparkSpec {

  private def held: (Set[Int], Int) =
    (spark.sparkContext.getPersistentRDDs.keySet.toSet,
      org.apache.spark.sql.graft.CacheEntries.count(spark))

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"frames-$tag").toString

  test("clusterStateDelete frees its frames when the re-closure throws") {
    import spark.implicits._
    val dir = tmp("nonconv")
    // a stored chain 1-2-3-4-5, every id labeled 1, all at batch 0
    BatchState.writeBatch(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
      .toDF("id_a", "id_b"), s"$dir/pairs", 0L)
    BatchState.writeBatch((1L to 5L).map(i => (i, 1L)).toDF("id", "cluster_id"),
      s"$dir/labels", 0L)
    BatchState.writeBatch((1L to 5L).map(i => (i, s"sig$i")).toDF("id", "sig"),
      s"$dir/index", 0L)
    val before = held
    // without the end id 5 the chain 1-2-3-4 needs three rounds
    val e = intercept[IllegalStateException] {
      StreamingOps.clusterStateDelete(Seq(5L).toDF("id"), "id",
        s"$dir/index", s"$dir/pairs", s"$dir/labels", maxIter = 1)
    }
    e.getMessage should include("did not converge")
    held shouldBe before
  }

  test("index builds free the frames their training and counting pin") {
    import spark.implicits._
    val edges = Seq((0L, 1L), (1L, 2L), (0L, 2L), (2L, 3L), (3L, 4L), (2L, 4L))
      .toDF("src", "dst")
    val vecs = (0L to 11L).map(i =>
      (i, Seq(math.cos(i * 0.5), math.sin(i * 0.5), 0.1 * i, 1.0)))
      .toDF("vec_id", "embedding")
    val before = held
    Graph.trianglesIndexWrite(edges, "src", "dst", tmp("tri"))
    Similarity.ivfWriteIndex(vecs, "vec_id", "embedding", dim = 4,
      path = tmp("ivf"), nBits = 2, lloydIters = 1)
    held shouldBe before
  }

  test("stream batches and a four-store takedown leave no frame behind") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val base = tmp("churn")
    def t(seed: Int): String =
      (0 until 30).map(i => s"w${(i * 5 + seed) % 17}x").mkString(" ")
    // near-dup pairs inside and across batches; victims are ids % 3 == 1
    val docs = (0L until 24L).map(i => (i, t((i % 7).toInt)))
    val corpus: DataFrame = docs.toDF("doc_id", "text")
    Classifier.nbModelWrite(corpus, "doc_id", "text", s"$base/nb")
    Sampling.dsirStoreWrite(corpus, corpus.filter(col("doc_id") < 8),
      "doc_id", "text", s"$base/dsir", numBuckets = 256)
    TrainingData.bm25IndexWrite(corpus, "doc_id", "text", s"$base/bm25")
    val before = held
    val in = MemoryStream[(Long, String)]
    val q = StreamingOps.continuousClusteredDedup(
      in.toDF().toDF("doc_id", "text"), "doc_id", "text",
      s"$base/cs/index", s"$base/cs/pairs", s"$base/cs/labels",
      s"$base/ckpt", bands = 8, threshold = 0.5,
      compactEveryBatches = 3).start()
    try docs.grouped(8).foreach { b =>
      in.addData(b: _*)
      q.processAllAvailable()
    } finally q.stop()
    q.exception shouldBe None
    val stores = Seq(
      Store("nb_model", s"$base/nb", Map("idCol" -> "doc_id")),
      Store("dsir", s"$base/dsir", Map("idCol" -> "doc_id")),
      Store("bm25", s"$base/bm25", Map("idCol" -> "doc_id")),
      Store("cluster_state", s"$base/cs", Map("includeLatest" -> "true")))
    val audit = Takedown.forgetCompactAssert(
      corpus.filter(col("doc_id") % 3 === 1)
        .select(col("doc_id").as("id"), col("text")), stores)
      .collect()
    audit.map(_.getAs[String]("status")).toSet shouldBe Set("purged")
    held shouldBe before
  }
}
