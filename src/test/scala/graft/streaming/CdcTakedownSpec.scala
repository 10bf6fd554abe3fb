package graft.streaming

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.operators.{AtomicBatches, Takedown}

/** Takedown on a [[StreamingOps.continuousCdcDedup]] persisted chunk
  * index: [[StreamingOps.cdcStateDelete]] hides the victim's owned
  * digests (owner-forgetting semantics — conservative under-dedup), a
  * later batch re-owns them, and [[StreamingOps.compactCdcIndex]]
  * removes the bytes under the `_MAINT` lock.
  */
class CdcTakedownSpec extends SparkSpec {

  /** One MemoryStream per test dir, reused across restarts; each
    * `run(...)` call is one stream lifetime.
    */
  private def harness(dir: String): Seq[Seq[(Long, String)]] => Unit = {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val in = MemoryStream[(Long, String)]
    batches => {
      val q = StreamingOps.continuousCdcDedup(
        in.toDF().toDF("doc_id", "text"), "doc_id", "text",
        s"$dir/index", s"$dir/out", s"$dir/ckpt").start()
      try batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
      finally q.stop()
    }
  }

  private val textX =
    "the quick brown fox jumps over the lazy dog in the morning sun today"
  private val textY =
    "another brand new document about spark catalyst internals right here"

  test("delete forgets victim-owned digests; re-ingest re-owns; compact removes bytes") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = java.nio.file.Files.createTempDirectory("cdc-del").toString
    val in = MemoryStream[(Long, String)]
    def run(batches: Seq[(Long, String)]*): Unit = {
      val q = StreamingOps.continuousCdcDedup(
        in.toDF().toDF("doc_id", "text"), "doc_id", "text",
        s"$dir/index", s"$dir/out", s"$dir/ckpt").start()
      try batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
      finally q.stop()
    }
    // batch 0: 0 (X) and 1 (Y) own their chunks; batch 1: 10 (X) dedups
    run(Seq((0L, textX), (1L, textY)), Seq((10L, textX)))
    val kept10 = spark.read.parquet(s"$dir/out")
      .filter(col("doc_id") === 10L).select("n_chunks_kept")
      .head().getLong(0)
    kept10 shouldBe 0L // full duplicate of an indexed doc
    // takedown of 0: its owned digests are forgotten
    StreamingOps.cdcStateDelete(Seq(0L).toDF("doc_id"), "doc_id",
      s"$dir/index")
    // a new copy of X is now KEPT whole (under-dedup, never wrong
    // removal) and RE-OWNS the digests in its own batch
    run(Seq(Seq((11L, textX)): _*))
    val out11 = spark.read.parquet(s"$dir/out")
      .filter(col("doc_id") === 11L)
      .select("n_chunks", "n_chunks_kept").head()
    out11.getLong(1) shouldBe out11.getLong(0)
    spark.read.parquet(s"$dir/index")
      .filter(col("doc_id") === 11L).count() should be > 0L
    // compaction: victim bytes gone, victims channel retired, and the
    // re-owned rows untouched
    StreamingOps.compactCdcIndex(spark, s"$dir/index")
    spark.read.parquet(s"$dir/index")
      .filter(col("doc_id") === 0L).count() shouldBe 0L
    new java.io.File(s"$dir/index/_victims").exists() shouldBe false
    spark.read.parquet(s"$dir/index")
      .filter(col("doc_id") === 11L).count() should be > 0L
    // a further copy of X dedups against the re-owned rows
    run(Seq(Seq((12L, textX)): _*))
    spark.read.parquet(s"$dir/out")
      .filter(col("doc_id") === 12L).select("n_chunks_kept")
      .head().getLong(0) shouldBe 0L
    // crashed maintenance blocks the faces until takeover
    intercept[RuntimeException] {
      AtomicBatches.withMaintenanceLock(spark, s"$dir/index",
        takeover = false) { throw new RuntimeException("boom") }
    }
    intercept[IllegalArgumentException] {
      StreamingOps.cdcStateDelete(Seq(1L).toDF("doc_id"), "doc_id",
        s"$dir/index")
    }.getMessage should include ("_MAINT")
    StreamingOps.compactCdcIndex(spark, s"$dir/index", takeover = true)
    AtomicBatches.maintenanceActive(spark, s"$dir/index") shouldBe false
  }

  test("a delete at the stream head stays pending until the next batch") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = java.nio.file.Files.createTempDirectory("cdc-pend").toString
    val in = MemoryStream[(Long, String)]
    def run(batches: Seq[(Long, String)]*): Unit = {
      val q = StreamingOps.continuousCdcDedup(
        in.toDF().toDF("doc_id", "text"), "doc_id", "text",
        s"$dir/index", s"$dir/out", s"$dir/ckpt").start()
      try batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
      finally q.stop()
    }
    run(Seq((0L, textX)))
    StreamingOps.cdcStateDelete(Seq(0L).toDF("doc_id"), "doc_id",
      s"$dir/index")
    // up_to = the latest batch: default compaction preserves that batch
    // for the replay contract, so the victim record stays PENDING and
    // keeps hiding the rows logically
    StreamingOps.compactCdcIndex(spark, s"$dir/index")
    spark.read.parquet(s"$dir/index/_victims").count() shouldBe 1L
    run(Seq(Seq((11L, textX)): _*)) // kept: victim digests hidden
    spark.read.parquet(s"$dir/out")
      .filter(col("doc_id") === 11L).select("n_chunks_kept").head()
      .getLong(0) should be > 0L
    // with a newer batch on disk the pending delete is now applicable
    StreamingOps.compactCdcIndex(spark, s"$dir/index")
    spark.read.parquet(s"$dir/index")
      .filter(col("doc_id") === 0L).count() shouldBe 0L
    new java.io.File(s"$dir/index/_victims").exists() shouldBe false
  }

  test("a stream resumes after a complete takedown compacted with includeLatest") {
    // regression: the compaction leaves the index root with no data
    // files, and the resumed stream's index probe failed to infer a
    // schema instead of reading "no prior rows"
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("cdc-full").toString
    val run = harness(dir)
    run(Seq(Seq((0L, textX), (1L, textY))))
    StreamingOps.cdcStateDelete(Seq(0L, 1L).toDF("doc_id"), "doc_id",
      s"$dir/index")
    StreamingOps.compactCdcIndex(spark, s"$dir/index", includeLatest = true)
    // nothing is indexed any more: a new copy of X is kept whole and
    // owns its chunks
    run(Seq(Seq((10L, textX))))
    val out10 = spark.read.parquet(s"$dir/out")
      .filter(col("doc_id") === 10L)
      .select("n_chunks", "n_chunks_kept").head()
    out10.getLong(1) shouldBe out10.getLong(0)
    StreamingOps.cdcStatePresentIds(spark, s"$dir/index")
      .collect().map(_.getLong(0)).toSet shouldBe Set(10L)
  }

  test("a full cdc_state purge through forgetCompactAssert reports purged") {
    // regression: the audit read the compacted, now empty index with a
    // bare parquet read and reported the purge as failed
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("cdc-purge").toString
    harness(dir)(Seq(Seq((0L, textX), (1L, textY))))
    val out = Takedown.forgetCompactAssert(
      Seq((0L, textX), (1L, textY)).toDF("id", "text"),
      Seq(Takedown.Store("cdc_state", s"$dir/index",
        Map("idCol" -> "doc_id", "includeLatest" -> "true"))),
      bestEffort = true).collect()
    out.map(_.getAs[String]("status")).toSeq shouldBe Seq("purged")
    StreamingOps.cdcStatePresentIds(spark, s"$dir/index").count() shouldBe 0L
  }
}
