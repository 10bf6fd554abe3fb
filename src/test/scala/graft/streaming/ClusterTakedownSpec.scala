package graft.streaming

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.operators.{AtomicBatches, Dedup}

/** The takedown discipline on a [[StreamingOps.continuousClusteredDedup]]
  * persisted state (index + pairs + labels):
  * [[StreamingOps.clusterStateDelete]] stages one atomic correction
  * batch, every read face re-closes around the victims, a resumed
  * stream neither erases the correction nor pairs against deleted
  * docs, and [[StreamingOps.compactClusterState]] makes the removal
  * physical across all three stores.
  */
class ClusterTakedownSpec extends SparkSpec {

  private val docA = "the quick brown fox jumps over the lazy dog in the morning sun"
  private val docC = "another brand new document about spark catalyst internals today"

  private def ids(xs: Long*) = {
    import spark.implicits._
    xs.toDF("doc_id")
  }

  /** One MemoryStream per test dir, reused across restarts so the
    * checkpoint's source offsets stay valid (the TombstoneSpec resume
    * pattern); each `run(...)` is one stream lifetime.
    */
  private def harness(dir: String): Seq[Seq[(Long, String)]] => Unit = {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val in = MemoryStream[(Long, String)]
    batches => {
      val q = StreamingOps.continuousClusteredDedup(
        in.toDF().toDF("doc_id", "text"), "doc_id", "text",
        s"$dir/index", s"$dir/pairs", s"$dir/labels", s"$dir/ckpt",
        bands = 8, threshold = 0.5).start()
      try batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
      finally q.stop()
    }
  }

  private def labelMap(dir: String): Map[Long, Long] =
    StreamingOps.currentClusterLabels(spark, s"$dir/labels")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Ground truth: batch closure over the current (victim-pruned) pairs. */
  private def rebuild(dir: String): Map[Long, Long] =
    Dedup.connectedComponents(
        StreamingOps.currentClusterPairs(spark, s"$dir/pairs", s"$dir/labels"),
        "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("delete re-elects the representative; views equal a rebuild over survivors") {
    val dir = java.nio.file.Files.createTempDirectory("ctd").toString
    val run = harness(dir)
    // batch 0: cluster {0,1} + loner 2; batch 1: 10 joins {0,1}, {11,12} new
    run(Seq(
      Seq((0L, docA), (1L, docA), (2L, "totally unrelated text about databases")),
      Seq((10L, docA), (11L, docC), (12L, docC))))
    labelMap(dir) shouldBe Map(0L -> 0L, 1L -> 0L, 10L -> 0L, 11L -> 11L, 12L -> 11L)
    // takedown of the representative 0: {1,10} re-closes under min 1
    StreamingOps.clusterStateDelete(ids(0L), "doc_id",
      s"$dir/index", s"$dir/pairs", s"$dir/labels")
    val after = labelMap(dir)
    after shouldBe Map(1L -> 1L, 10L -> 1L, 11L -> 11L, 12L -> 11L)
    after shouldBe rebuild(dir)
    // no pair touching the victim survives the current-pairs view
    StreamingOps.currentClusterPairs(spark, s"$dir/pairs", s"$dir/labels")
      .filter(col("id_a") === 0L || col("id_b") === 0L)
      .count() shouldBe 0L
    // survivors: victim out of the corpus view, 1 re-elected over 10
    import spark.implicits._
    val docs = Seq(1L, 2L, 10L, 11L, 12L).toDF("doc_id")
    Dedup.survivorsFromLabels(docs, "doc_id",
        StreamingOps.currentClusterLabels(spark, s"$dir/labels"))
      .collect().map(_.getLong(0)).toSet shouldBe Set(1L, 2L, 11L)
  }

  test("a resumed stream never pairs against a deleted doc; re-ingest resurrects") {
    val dir = java.nio.file.Files.createTempDirectory("ctd-res").toString
    val run = harness(dir)
    run(Seq(Seq((0L, docA), (1L, docA))))
    StreamingOps.clusterStateDelete(ids(0L), "doc_id",
      s"$dir/index", s"$dir/pairs", s"$dir/labels")
    labelMap(dir) shouldBe empty // {0,1} dissolves: 1 is an orphan now
    // resume: 10 matches only the SURVIVOR 1 (0's index rows are hidden),
    // and the correction survives the resumed stream's partition writes
    run(Seq(Seq((10L, docA))))
    val afterResume = labelMap(dir)
    afterResume shouldBe Map(1L -> 1L, 10L -> 1L)
    afterResume shouldBe rebuild(dir)
    StreamingOps.currentClusterPairs(spark, s"$dir/pairs", s"$dir/labels")
      .filter(col("id_a") === 0L || col("id_b") === 0L)
      .count() shouldBe 0L
    // a LATER batch re-ingesting the victim resurrects it: its new index
    // rows and pairs outrank the deletion's up_to
    run(Seq(Seq((0L, docA))))
    labelMap(dir) shouldBe Map(0L -> 0L, 1L -> 0L, 10L -> 0L)
  }

  test("crash mid-staging is invisible and swept; delete of unknown id is a no-op") {
    val dir = java.nio.file.Files.createTempDirectory("ctd-crash").toString
    val run = harness(dir)
    run(Seq(Seq((0L, docA), (1L, docA), (11L, docC), (12L, docC))))
    val before = labelMap(dir)
    // simulate a delete that crashed between staging and _COMMIT: write
    // an uncommitted correction directory by hand
    import spark.implicits._
    val croot = s"$dir/labels/_corrections"
    val n = AtomicBatches.nextBatchN(spark, croot)
    Seq((0L, null.asInstanceOf[java.lang.Long], 99L, n))
      .toDF("id", "cluster_id", "up_to", "seq")
      .write.parquet(s"$croot/$n/labels")
    Seq((0L, 99L)).toDF("id", "up_to").write.parquet(s"$croot/$n/victims")
    // no _COMMIT: every read ignores it
    labelMap(dir) shouldBe before
    // the next delete sweeps the crashed attempt and stages its own;
    // deleting a never-ingested id changes nothing
    StreamingOps.clusterStateDelete(ids(999L), "doc_id",
      s"$dir/index", s"$dir/pairs", s"$dir/labels")
    labelMap(dir) shouldBe before
    // the crashed 0-victim staging is gone: only committed batches
    // remain, and none of them records id 0 as a victim
    val fs = new org.apache.hadoop.fs.Path(croot)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirs = fs.listStatus(new org.apache.hadoop.fs.Path(croot))
      .filter(_.isDirectory).map(_.getPath.toString)
    dirs.toSet shouldBe AtomicBatches.committedDirs(spark, croot).toSet
    spark.read.parquet(dirs.map(d => s"$d/victims"): _*)
      .filter(col("id") === 0L).count() shouldBe 0L
  }

  test("compactClusterState removes victims physically from all three stores") {
    val dir = java.nio.file.Files.createTempDirectory("ctd-comp").toString
    val run = harness(dir)
    run(Seq(
      Seq((0L, docA), (1L, docA)),
      Seq((10L, docA), (11L, docC), (12L, docC)),
      Seq((13L, docC)))) // a trailing batch so the delete folds as committed
    StreamingOps.clusterStateDelete(ids(0L), "doc_id",
      s"$dir/index", s"$dir/pairs", s"$dir/labels")
    run(Seq(Seq((20L, "yet more filler text that matches nobody at all"))))
    val before = labelMap(dir)
    before shouldBe Map(1L -> 1L, 10L -> 1L,
      11L -> 11L, 12L -> 11L, 13L -> 11L)
    StreamingOps.compactClusterState(spark,
      s"$dir/index", s"$dir/pairs", s"$dir/labels")
    // views unchanged, victims' bytes gone from labels, pairs, and index
    labelMap(dir) shouldBe before
    AtomicBatches.maintenanceActive(spark, s"$dir/labels") shouldBe false
    spark.read.parquet(s"$dir/labels").filter(col("id") === 0L)
      .count() shouldBe 0L
    spark.read.parquet(s"$dir/pairs")
      .filter(col("id_a") === 0L || col("id_b") === 0L).count() shouldBe 0L
    spark.read.parquet(s"$dir/index").filter(col("doc_id") === 0L)
      .count() shouldBe 0L
    // the applied correction batch is garbage-collected
    AtomicBatches.committedDirs(spark, s"$dir/labels/_corrections") shouldBe
      empty
    // and the stream keeps working on the compacted state
    run(Seq(Seq((21L, docA))))
    labelMap(dir) shouldBe Map(1L -> 1L, 10L -> 1L, 21L -> 1L,
      11L -> 11L, 12L -> 11L, 13L -> 11L)
  }

  test("complete takedown of every labeled doc compacts to an empty label store") {
    // regression: an EMPTY corrected fold used to leave the stale
    // pre-takedown batch_id=-1 snapshot in place (dynamic overwrite of
    // zero rows replaces nothing) while GC'ing the corrections that hid
    // it — the takedown silently reversed
    val dir = java.nio.file.Files.createTempDirectory("ctd-empty").toString
    val run = harness(dir)
    run(Seq(Seq((0L, docA), (1L, docA)), Seq((2L, docC), (3L, docC))))
    // fold batch 0 into the -1 snapshot (the stale partition at risk)
    StreamingOps.compactClusterLabels(spark, s"$dir/labels")
    StreamingOps.clusterStateDelete(ids(0L, 1L, 2L, 3L), "doc_id",
      s"$dir/index", s"$dir/pairs", s"$dir/labels")
    labelMap(dir) shouldBe empty
    // a pair-less trailing batch advances the stream position so the
    // corrections become applicable
    run(Seq(Seq((5L, "completely unique filler matching nothing else"))))
    StreamingOps.compactClusterState(spark,
      s"$dir/index", s"$dir/pairs", s"$dir/labels")
    labelMap(dir) shouldBe empty // the bug resurrected {0->0, 1->0}
    AtomicBatches.committedDirs(spark, s"$dir/labels/_corrections") shouldBe
      empty
    spark.read.parquet(s"$dir/index")
      .filter(col("doc_id").isin(0L, 1L, 2L, 3L)).count() shouldBe 0L
    // the emptied store keeps working
    run(Seq(Seq((10L, docA), (11L, docA))))
    labelMap(dir) shouldBe Map(10L -> 10L, 11L -> 10L)
  }

  test("a stream resumes after a complete takedown compacted with includeLatest") {
    // regression: the compaction leaves the index root with no data
    // files, and the resumed stream's index probe failed to infer a
    // schema instead of reading "no prior rows"
    val dir = java.nio.file.Files.createTempDirectory("ctd-full").toString
    val run = harness(dir)
    run(Seq(Seq((0L, docA), (1L, docA))))
    StreamingOps.clusterStateDelete(ids(0L, 1L), "doc_id",
      s"$dir/index", s"$dir/pairs", s"$dir/labels")
    StreamingOps.compactClusterState(spark,
      s"$dir/index", s"$dir/pairs", s"$dir/labels", includeLatest = true)
    labelMap(dir) shouldBe empty
    run(Seq(Seq((10L, docA), (11L, docA))))
    labelMap(dir) shouldBe Map(10L -> 10L, 11L -> 10L)
    labelMap(dir) shouldBe rebuild(dir)
  }

  test("takedown works on a stream that never produced pairs or labels") {
    // regression: clusterStateDelete used to crash reading the empty
    // labels/pairs stores (a pair-less batch writes no partition), so
    // the victim's INDEX rows stayed probe-visible forever
    val dir = java.nio.file.Files.createTempDirectory("ctd-nolbl").toString
    val run = harness(dir)
    run(Seq(Seq((0L, docA),
      (1L, "some entirely different text with zero overlap"))))
    StreamingOps.clusterStateDelete(ids(0L), "doc_id",
      s"$dir/index", s"$dir/pairs", s"$dir/labels")
    // a new copy of the victim's text pairs with NOTHING: the victim's
    // index rows are hidden even though no label row ever existed
    run(Seq(Seq((10L, docA))))
    labelMap(dir) shouldBe empty
  }

  test("compactClusterLabels pins its horizon below pending corrections") {
    val dir = java.nio.file.Files.createTempDirectory("ctd-pin").toString
    val run = harness(dir)
    run(Seq(
      Seq((0L, docA), (1L, docA)),
      Seq((10L, docA)),
      Seq((11L, docC), (12L, docC))))
    // delete staged at up_to = 2 (the latest batch): folding batches ≤ 2
    // into the −1 snapshot must not flip the correction's applicability
    StreamingOps.clusterStateDelete(ids(0L), "doc_id",
      s"$dir/index", s"$dir/pairs", s"$dir/labels")
    val before = labelMap(dir)
    before shouldBe Map(1L -> 1L, 10L -> 1L, 11L -> 11L, 12L -> 11L)
    StreamingOps.compactClusterLabels(spark, s"$dir/labels")
    labelMap(dir) shouldBe before
    // a crash-marked state: reads and deletes fail, takeover recovers
    intercept[RuntimeException] {
      AtomicBatches.withMaintenanceLock(spark, s"$dir/labels",
        takeover = false) { throw new RuntimeException("simulated crash") }
    }
    intercept[IllegalArgumentException] {
      labelMap(dir)
    }.getMessage should include ("_MAINT")
    intercept[IllegalArgumentException] {
      StreamingOps.clusterStateDelete(ids(1L), "doc_id",
        s"$dir/index", s"$dir/pairs", s"$dir/labels")
    }.getMessage should include ("_MAINT")
    StreamingOps.compactClusterState(spark,
      s"$dir/index", s"$dir/pairs", s"$dir/labels", takeover = true)
    labelMap(dir) shouldBe before
  }
}
