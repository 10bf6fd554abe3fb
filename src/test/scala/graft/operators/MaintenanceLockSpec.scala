package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.streaming.StreamingOps

/** The `_MAINT` exclusive-maintenance marker
  * ([[AtomicBatches.withMaintenanceLock]]): compaction holds it for the
  * whole in-place rewrite, every probe/delete/append face fails loudly
  * while it is present, a crashed compaction leaves it (the index may be
  * mid-rewrite) and only a `takeover = true` re-run — or a full
  * rebuild — clears it.
  */
class MaintenanceLockSpec extends SparkSpec {

  private def vecs = {
    import spark.implicits._
    Seq(
      (0L, Seq(1.0, 0.0, 0.0, 0.0)),
      (1L, Seq(0.99, 0.14, 0.0, 0.0)),
      (2L, Seq(0.7, 0.7, 0.0, 0.0)),
      (3L, Seq(0.0, 1.0, 0.0, 0.0)),
      (4L, Seq(-1.0, 0.0, 0.0, 0.0))
    ).toDF("vec_id", "embedding")
  }

  private def docs = {
    import spark.implicits._
    Seq((1L, "alpha beta gamma"), (2L, "beta delta"),
      (3L, "gamma gamma epsilon"), (4L, "alpha zeta"))
      .toDF("doc_id", "text")
  }

  private val q = Seq(1.0, 0.05, 0.0, 0.0)

  private def crashMidCompaction(dir: String): Unit = {
    // simulate a compaction that died mid-rewrite: the lock is taken,
    // the body throws before completing, the marker must survive
    intercept[RuntimeException] {
      AtomicBatches.withMaintenanceLock(spark, dir, takeover = false) {
        throw new RuntimeException("simulated mid-rewrite crash")
      }
    }
    AtomicBatches.maintenanceActive(spark, dir) shouldBe true
  }

  test("ivf: faces fail during maintenance; takeover re-run restores them") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("maint-ivf").toString
    Similarity.ivfWriteIndexSQ8(vecs, "vec_id", "embedding", dim = 4,
      path = dir, nBits = 2, lloydIters = 1)
    Similarity.ivfDelete(Seq(1L).toDF("vec_id"), "vec_id", dir)
    crashMidCompaction(dir)
    // probe, delete, and batch append all refuse the inconsistent index
    intercept[IllegalArgumentException] {
      Similarity.ivfTopKFromIndexSQ8(spark, dir, "vec_id", q, k = 3,
        nProbe = 4).collect()
    }.getMessage should include ("_MAINT")
    intercept[IllegalArgumentException] {
      Similarity.ivfDelete(Seq(2L).toDF("vec_id"), "vec_id", dir)
    }.getMessage should include ("_MAINT")
    intercept[IllegalArgumentException] {
      Similarity.ivfAppendSQ8(Seq((9L, Seq(0.5, -0.8, 0.0, 0.0)))
        .toDF("vec_id", "embedding"), "vec_id", "embedding", dir)
    }.getMessage should include ("_MAINT")
    // a fresh compaction refuses the stale marker without takeover
    intercept[IllegalArgumentException] {
      StreamingOps.compactIvfDeltas(spark, dir)
    }.getMessage should include ("takeover")
    // the takeover re-run completes the interrupted pass and unlocks
    StreamingOps.compactIvfDeltas(spark, dir, takeover = true)
    AtomicBatches.maintenanceActive(spark, dir) shouldBe false
    val got = Similarity.ivfTopKFromIndexSQ8(spark, dir, "vec_id", q,
      k = 4, nProbe = 4).collect().map(_.getLong(0))
    got should not contain 1L // the delete survived the crash + re-run
    got.length shouldBe 4
  }

  test("ivf: a full rebuild supersedes a crashed compaction") {
    val dir = java.nio.file.Files.createTempDirectory("maint-rb").toString
    Similarity.ivfWriteIndexSQ8(vecs, "vec_id", "embedding", dim = 4,
      path = dir, nBits = 2, lloydIters = 1)
    crashMidCompaction(dir)
    Similarity.ivfWriteIndexSQ8(vecs, "vec_id", "embedding", dim = 4,
      path = dir, nBits = 2, lloydIters = 1)
    AtomicBatches.maintenanceActive(spark, dir) shouldBe false
    Similarity.ivfTopKFromIndexSQ8(spark, dir, "vec_id", q, k = 5,
      nProbe = 4).count() shouldBe 5L
  }

  test("bm25: faces fail during maintenance; takeover re-run restores them") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("maint-bm25").toString
    TrainingData.bm25IndexWrite(docs, "doc_id", "text", dir, nBuckets = 4)
    TrainingData.bm25IndexDelete(Seq(2L).toDF("doc_id"), "doc_id", dir)
    crashMidCompaction(dir)
    intercept[IllegalArgumentException] {
      TrainingData.bm25FromIndex(spark, dir, "doc_id", Seq("beta")).collect()
    }.getMessage should include ("_MAINT")
    intercept[IllegalArgumentException] {
      TrainingData.bm25IndexDelete(Seq(3L).toDF("doc_id"), "doc_id", dir)
    }.getMessage should include ("_MAINT")
    intercept[IllegalArgumentException] {
      TrainingData.bm25IndexAppend(Seq((9L, "eta theta")).toDF("doc_id",
        "text"), "doc_id", "text", dir)
    }.getMessage should include ("_MAINT")
    intercept[IllegalArgumentException] {
      TrainingData.bm25IndexCompact(spark, dir)
    }.getMessage should include ("takeover")
    TrainingData.bm25IndexCompact(spark, dir, takeover = true)
    AtomicBatches.maintenanceActive(spark, dir) shouldBe false
    // scores after the recovered compaction = direct bm25 over survivors
    val expected = TrainingData.bm25(docs.filter(col("doc_id") =!= 2L),
      "doc_id", "text", Seq("beta")).collect().map(_.toSeq).toSeq
    TrainingData.bm25FromIndex(spark, dir, "doc_id", Seq("beta"))
      .collect().map(_.toSeq).toSeq should
      contain theSameElementsAs expected
  }

  test("a crashed REBUILD refuses compaction takeover; re-rebuild recovers") {
    val dir = java.nio.file.Files.createTempDirectory("maint-rbtype").toString
    Classifier.nbModelWrite(docs, "doc_id", "text", dir)
    // crash a rebuild mid-overwrite: the marker survives REBUILD-typed
    intercept[RuntimeException] {
      AtomicBatches.withRebuildMarker(spark, dir) {
        throw new RuntimeException("simulated mid-rebuild crash")
      }
    }
    AtomicBatches.maintenanceKind(spark, dir) shouldBe Some("rebuild")
    // faces name the right recovery (re-run the rebuild)
    intercept[IllegalArgumentException] {
      Classifier.nbScoreFromModel(docs, "doc_id", "text", dir).collect()
    }.getMessage should include ("RE-RUN THE REBUILD")
    // a compaction must NOT take this over even with takeover = true —
    // it would fold the not-yet-retired stale deltas / base_next stage
    // onto the half-written base, a silent rollback of the rebuild
    intercept[IllegalArgumentException] {
      Classifier.nbModelCompact(spark, dir, takeover = true)
    }.getMessage should include ("REBUILD-typed")
    // re-running the rebuild supersedes everything and clears the marker
    Classifier.nbModelWrite(docs, "doc_id", "text", dir)
    AtomicBatches.maintenanceKind(spark, dir) shouldBe None
    Classifier.nbScoreFromModel(docs, "doc_id", "text", dir).count() should
      be > 0L
  }

  test("decontam probes check the marker before reading meta or running a job") {
    import spark.implicits._
    val bench = Seq((100L, "alpha beta gamma")).toDF("eval_id", "text")
    Seq("grams" -> { (dir: String) =>
        TrainingData.decontamIndexWrite(docs, "doc_id", "text", dir, n = 2,
          nBuckets = 4)
        () => TrainingData.decontaminateFromIndex(bench, "text", dir,
          "doc_id").collect()
      }, "shingles" -> { (dir: String) =>
        TrainingData.containmentIndexWrite(docs, "doc_id", "text", dir,
          shingleN = 2, nBuckets = 4)
        () => TrainingData.decontaminateContainmentFromIndex(bench,
          "eval_id", "text", dir, "doc_id").collect()
      }).foreach { case (layout, build) =>
      val dir = java.nio.file.Files.createTempDirectory(s"maint-$layout")
        .toString
      val probe = build(dir)
      // the state a rebuild that crashed during its meta overwrite leaves
      intercept[RuntimeException] {
        AtomicBatches.withRebuildMarker(spark, dir) {
          throw new RuntimeException("simulated crash mid-meta-overwrite")
        }
      }
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(s"$dir/meta"), true)
      withClue(layout) {
        intercept[IllegalArgumentException](probe())
          .getMessage should include ("RE-RUN THE REBUILD")
      }
    }
  }

  test("a crashed compaction's marker is compact-typed; takeover works") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("maint-ctype").toString
    Similarity.ivfWriteIndexSQ8(vecs, "vec_id", "embedding", dim = 4,
      path = dir, nBits = 2, lloydIters = 1)
    Similarity.ivfDelete(Seq(1L).toDF("vec_id"), "vec_id", dir)
    crashMidCompaction(dir)
    AtomicBatches.maintenanceKind(spark, dir) shouldBe Some("compact")
    StreamingOps.compactIvfDeltas(spark, dir, takeover = true)
    AtomicBatches.maintenanceKind(spark, dir) shouldBe None
  }

  test("a training failure does not brick an intact index behind _MAINT") {
    // trainCells runs BEFORE the rebuild marker is planted: a rebuild
    // attempt that dies in training (here: a bad vector column) leaves
    // the previous index fully AVAILABLE, not locked until manual repair
    val dir = java.nio.file.Files.createTempDirectory("maint-avail").toString
    Similarity.ivfWriteIndexSQ8(vecs, "vec_id", "embedding", dim = 4,
      path = dir, nBits = 2, lloydIters = 1)
    intercept[org.apache.spark.sql.AnalysisException] {
      Similarity.ivfWriteIndexSQ8(vecs, "vec_id", "no_such_column",
        dim = 4, path = dir, nBits = 2, lloydIters = 1)
    }
    AtomicBatches.maintenanceActive(spark, dir) shouldBe false
    Similarity.ivfTopKFromIndexSQ8(spark, dir, "vec_id", q, k = 5,
      nProbe = 4).count() shouldBe 5L
  }

  test("no-op compaction paths skip the lock; completed runs clear it") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("maint-noop").toString
    Similarity.ivfWriteIndexSQ8(vecs, "vec_id", "embedding", dim = 4,
      path = dir, nBits = 2, lloydIters = 1)
    // nothing staged: no marker churn, still unlocked
    StreamingOps.compactIvfDeltas(spark, dir)
    AtomicBatches.maintenanceActive(spark, dir) shouldBe false
    // a real pass locks transiently and unlocks on success
    Similarity.ivfDelete(Seq(0L).toDF("vec_id"), "vec_id", dir)
    StreamingOps.compactIvfDeltas(spark, dir)
    AtomicBatches.maintenanceActive(spark, dir) shouldBe false
    Similarity.ivfTopKFromIndexSQ8(spark, dir, "vec_id", q, k = 5,
      nProbe = 4).collect().map(_.getLong(0)) should not contain 0L
  }
}
