package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.SparkSpec

/** Replay safety of the batch-partitioned stores: Structured Streaming
  * delivers a micro-batch again when its commit did not land, with the
  * same batch id. Deleting the checkpoint's last `commits/<n>` entry and
  * restarting on the same MemoryStream makes Spark re-run batch `n`; the
  * persisted state after the second delivery must equal the state after
  * the first.
  */
class BatchStateSpec extends SparkSpec {

  private val docA = "the quick brown fox jumps over the lazy dog in the morning sun"
  private val docC = "another brand new document about spark catalyst internals today"

  /** Drop the last commit of `ckpt` so the next start re-runs that batch;
    * returns its id.
    */
  private def uncommitLast(ckpt: String): Long = {
    val commits = new java.io.File(s"$ckpt/commits")
    val n = commits.list().filter(_.forall(_.isDigit)).map(_.toLong).max
    new java.io.File(commits, n.toString).delete() shouldBe true
    new java.io.File(commits, s".$n.crc").delete()
    n
  }

  /** Run `start` once per batch, then uncommit the last batch and start
    * again: returns the state read before and after the replay.
    */
  private def replayLast[A](ckpt: String, batches: Seq[Seq[A]],
      in: MemoryStream[A], start: () => StreamingQuery)(
      state: () => Seq[String]): (Seq[String], Seq[String]) = {
    val q = start()
    try batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
    finally q.stop()
    val once = state()
    val n = uncommitLast(ckpt)
    val again = start()
    try again.processAllAvailable() finally again.stop()
    // the restart really delivered batch n a second time, with input
    again.recentProgress.exists(p => p.batchId == n && p.numInputRows > 0) shouldBe
      true
    (once, state())
  }

  private def dump(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  test("continuousClusteredDedup: a replayed batch leaves labels, pairs and index unchanged") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("bs-cluster").toString
    val in = MemoryStream[(Long, String)]
    val (once, twice) = replayLast(s"$dir/ckpt",
      Seq(Seq((0L, docA), (1L, docA), (2L, docC)),
        Seq((10L, docA), (11L, docC))), in,
      () => StreamingOps.continuousClusteredDedup(
        in.toDF().toDF("doc_id", "text"), "doc_id", "text",
        s"$dir/index", s"$dir/pairs", s"$dir/labels", s"$dir/ckpt").start()) {
      () =>
        dump(StreamingOps.currentClusterLabels(spark, s"$dir/labels")) ++
          dump(spark.read.parquet(s"$dir/pairs")) ++
          dump(spark.read.parquet(s"$dir/index").select("doc_id", "batch_id"))
    }
    once should not be empty
    twice shouldBe once
    StreamingOps.currentClusterLabels(spark, s"$dir/labels")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap shouldBe
      Map(0L -> 0L, 1L -> 0L, 10L -> 0L, 2L -> 2L, 11L -> 2L)
  }

  test("continuousCapPerGroup: a replayed batch leaves the carried selection unchanged") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("bs-cap").toString
    val in = MemoryStream[(String, Long, Double)]
    val b1 = Seq(("a", 1L, 0.9), ("a", 2L, 0.5), ("a", 3L, 0.7), ("b", 10L, 0.1))
    val b2 = Seq(("a", 4L, 0.8), ("b", 11L, 0.3), ("b", 12L, 0.2))
    val (once, twice) = replayLast(s"$dir/ckpt", Seq(b1, b2), in,
      () => StreamingOps.continuousCapPerGroup(
        in.toDF().toDF("domain", "doc_id", "score"),
        Seq("domain"), "doc_id", "score", n = 2,
        s"$dir/state", s"$dir/ckpt").start()) {
      () => dump(spark.read.parquet(s"$dir/state"))
    }
    twice shouldBe once
    StreamingOps.currentCapSelection(spark, s"$dir/state")
      .select("doc_id").collect().map(_.getLong(0)).toSet shouldBe
      graft.operators.Sampling.capPerGroup(
        (b1 ++ b2).toDF("domain", "doc_id", "score"),
        Seq("domain"), "doc_id", col("score"), 2)
        .select("doc_id").collect().map(_.getLong(0)).toSet
  }

  test("continuousScd2: a replayed batch leaves the version history unchanged") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("bs-scd2").toString
    def t(h: Int) = Timestamp.valueOf(f"2026-01-01 $h%02d:00:00")
    val in = MemoryStream[(Long, Long, String, Timestamp)]
    val b1 = Seq((1L, 1L, "gold", t(1)), (2L, 2L, "bronze", t(1)))
    val b2 = Seq((1L, 3L, "silver", t(2)), (3L, 4L, "new", t(2)))
    val (once, twice) = replayLast(s"$dir/ckpt", Seq(b1, b2), in,
      () => StreamingOps.continuousScd2(
        in.toDF().toDF("k", "id", "tier", "ts"),
        keyCols = Seq("k"), tsCol = "ts", tieCol = "id",
        attrCols = Seq("tier"), s"$dir/state", s"$dir/ckpt").start()) {
      () => dump(spark.read.parquet(s"$dir/state"))
    }
    twice shouldBe once
    dump(StreamingOps.currentScd2History(spark, s"$dir/state", Seq("k"), "id")
      .select("k", "id", "tier", "effective_from", "effective_to",
        "is_current")) shouldBe
      dump(graft.operators.Scd2.history(
        (b1 ++ b2).toDF("k", "id", "tier", "ts"), Seq("k"), "ts", "id",
        Seq("tier")).select("k", "id", "tier", "effective_from",
        "effective_to", "is_current"))
  }
}
