package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Exact machine unlearning on the persisted count-form NB model
  * ([[Classifier.nbModelWrite]] family): appends ADD and takedowns
  * SUBTRACT the integer sufficient statistics, so scores through the
  * store are bit-identical to retraining on the changed corpus — the
  * property every test here checks against [[Classifier.naiveBayesQuality]]
  * (the retrain yardstick) rather than against saved expectations.
  */
class NbUnlearnSpec extends SparkSpec {

  // 60 four-char tokens → gopherPass true; short texts → false. Doc 3
  // carries a UNIQUE term ("zzzq") so deleting it must shrink the
  // vocabulary, not just the counts.
  private def corpus: DataFrame = {
    import spark.implicits._
    def long(seed: Int, extra: String = ""): String =
      ((0 until 60).map(i => s"w${(i * 7 + seed) % 23}ab") ++
        (if (extra.nonEmpty) Seq(extra) else Nil)).mkString(" ")
    Seq(
      (0L, long(1)),
      (1L, long(2)),
      (2L, "tiny doc few words"),
      (3L, long(3, extra = "zzzq")),
      (4L, "short and junky text right here"),
      (5L, long(5)),
      (6L, ""), // token-less: membership row, no count contribution
      (7L, long(7))
    ).toDF("doc_id", "text")
  }

  // the derived llr model is bit-identical between store and retrain
  // (identical integer counts through identical expressions — asserted
  // below); the per-DOC Σ llr is a double sum whose partial order Spark
  // doesn't pin across different physical plans, so score equality
  // holds at the driver oracle's round-6 contract (the contract
  // text_nb_classifier itself ships under)
  private def scores(df: DataFrame): Seq[Seq[Any]] =
    df.select(col("doc_id"), col("label"), col("n_tokens_scored"),
      round(col("nb_score"), 6).as("nb_score"), col("predicted_pass"))
      .orderBy("doc_id").collect().map(_.toSeq).toSeq

  private def retrain(docs: DataFrame): Seq[Seq[Any]] =
    scores(Classifier.naiveBayesQuality(docs, "doc_id", "text"))

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"nb-$tag").toString

  test("write + scoreFromModel equals one-shot training") {
    val dir = tmp("write")
    Classifier.nbModelWrite(corpus, "doc_id", "text", dir)
    scores(Classifier.nbScoreFromModel(corpus, "doc_id", "text", dir)) shouldBe
      retrain(corpus)
  }

  test("append equals retraining on the union") {
    val dir = tmp("append")
    Classifier.nbModelWrite(corpus.filter(col("doc_id") < 5), "doc_id",
      "text", dir)
    Classifier.nbModelAppend(corpus.filter(col("doc_id") >= 5), "doc_id",
      "text", dir)
    scores(Classifier.nbScoreFromModel(corpus, "doc_id", "text", dir)) shouldBe
      retrain(corpus)
  }

  test("intra-batch duplicate ids fail loudly on write, append, stream") {
    // the same-batch case the fresh-ids ledger guard cannot see: two
    // rows with one id would double-count (two +1 ledger rows, double
    // term counts), and a later delete subtracts ONCE — permanent drift
    val dir = tmp("dup")
    val dup = corpus.filter(col("doc_id") === 1L)
      .unionByName(corpus.filter(col("doc_id") === 1L))
    intercept[IllegalArgumentException] {
      Classifier.nbModelWrite(dup, "doc_id", "text", dir)
    }.getMessage should include ("DUPLICATE")
    Classifier.nbModelWrite(corpus.filter(col("doc_id") < 5), "doc_id",
      "text", dir)
    intercept[IllegalArgumentException] {
      Classifier.nbModelAppend(
        corpus.filter(col("doc_id") === 7L).unionByName(
          corpus.filter(col("doc_id") === 7L)), "doc_id", "text", dir)
    }.getMessage should include ("DUPLICATE")
    intercept[IllegalArgumentException] {
      Classifier.nbModelAppendStream(
        corpus.filter(col("doc_id") === 7L).unionByName(
          corpus.filter(col("doc_id") === 7L)), "doc_id", "text", dir,
        batchId = 0L)
    }.getMessage should include ("DUPLICATE")
    // duplicate NULL-text rows are fine — they contribute nothing
    Classifier.nbModelAppend(
      corpus.filter(col("doc_id") === 7L).unionByName(
        corpus.filter(col("doc_id") === 7L)
          .select(col("doc_id"), lit(null).cast("string").as("text"))),
      "doc_id", "text", dir)
    // nothing was staged by the refused faces: store equals retrain
    scores(Classifier.nbScoreFromModel(
      corpus.filter(col("doc_id") < 5 || col("doc_id") === 7L),
      "doc_id", "text", dir)) shouldBe
      retrain(corpus.filter(col("doc_id") < 5 || col("doc_id") === 7L))
  }

  test("delete equals retraining on the survivors (vocab shrinks too)") {
    val dir = tmp("delete")
    Classifier.nbModelWrite(corpus, "doc_id", "text", dir)
    // doc 3 owns the unique term zzzq: its total count must hit zero
    // and LEAVE the vocabulary (v shrinks), exactly as a retrain never
    // seeing it; doc 2 subtracts from the negative class
    val victims = corpus.filter(col("doc_id").isin(2L, 3L))
    Classifier.nbModelDelete(victims, "doc_id", "text", dir)
    val survivors = corpus.filter(!col("doc_id").isin(2L, 3L))
    scores(Classifier.nbScoreFromModel(survivors, "doc_id", "text", dir)) shouldBe
      retrain(survivors)
    // the unique term is gone from the derived model, not just zeroed
    Classifier.nbModelAsLlr(spark, dir)
      .filter(col("term") === "zzzq").count() shouldBe 0L
    // and the derived model itself is BIT-identical to a retrain's:
    // identical folded integer counts through identical expressions
    Classifier.nbModelAsLlr(spark, dir)
      .collect().map(_.toSeq).sortBy(_.toString) shouldBe
      Classifier.nbTrain(survivors, "doc_id", "text")
        .collect().map(_.toSeq).sortBy(_.toString)
  }

  test("double-delete, unknown-id delete, and token-less delete are no-ops") {
    val dir = tmp("noop")
    Classifier.nbModelWrite(corpus, "doc_id", "text", dir)
    Classifier.nbModelDelete(corpus.filter(col("doc_id") === 3L), "doc_id",
      "text", dir)
    val after = scores(
      Classifier.nbScoreFromModel(corpus, "doc_id", "text", dir))
    // same victim again: must not double-subtract
    Classifier.nbModelDelete(corpus.filter(col("doc_id") === 3L), "doc_id",
      "text", dir)
    // an id the model never held
    import spark.implicits._
    Classifier.nbModelDelete(Seq((99L, "never seen")).toDF("doc_id", "text"),
      "doc_id", "text", dir)
    // a token-less member: ledger row leaves, counts and stats untouched
    Classifier.nbModelDelete(corpus.filter(col("doc_id") === 6L), "doc_id",
      "text", dir)
    scores(Classifier.nbScoreFromModel(corpus, "doc_id", "text", dir)) shouldBe
      after
  }

  test("drifted victim text fails loudly instead of corrupting counts") {
    val dir = tmp("drift")
    Classifier.nbModelWrite(corpus, "doc_id", "text", dir)
    import spark.implicits._
    val ex = intercept[IllegalArgumentException] {
      Classifier.nbModelDelete(
        Seq((0L, "not the ingested text")).toDF("doc_id", "text"),
        "doc_id", "text", dir)
    }
    ex.getMessage should include("does not match what was ingested")
    // the sharp case: SAME token count, SAME label, different tokens —
    // a (label, n_tokens) guard would pass this and subtract counts for
    // terms that were never ingested (negative counts, -Inf llr); the
    // pinned text digest catches it
    val doc0Swapped = corpus.filter(col("doc_id") === 5L)
      .select(lit(0L).as("doc_id"), col("text")) // doc 5: also 60 tokens, label true
    intercept[IllegalArgumentException] {
      Classifier.nbModelDelete(doc0Swapped, "doc_id", "text", dir)
    }.getMessage should include("does not match what was ingested")
    // nothing was staged: scores unchanged
    scores(Classifier.nbScoreFromModel(corpus, "doc_id", "text", dir)) shouldBe
      retrain(corpus)
  }

  test("rebuild sweeps a stale committed compaction stage and holds _MAINT") {
    import spark.implicits._
    val dir = tmp("rebuild")
    Classifier.nbModelWrite(corpus.filter(col("doc_id") < 5), "doc_id",
      "text", dir)
    Classifier.nbModelAppend(corpus.filter(col("doc_id") >= 5), "doc_id",
      "text", dir)
    // plant a stale COMMITTED compaction stage (as a crash between a
    // compaction's stage commit and its swap would): wrong content that
    // a later compact must never resurrect
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq("counts", "members", "stats").foreach { t =>
      spark.read.parquet(s"$dir/$t").limit(0)
        .write.parquet(s"$dir/base_next/$t")
    }
    fs.create(new org.apache.hadoop.fs.Path(s"$dir/base_next/_COMMIT"), true)
      .close()
    // and a stale maintenance marker: a rebuild supersedes it without a
    // takeover flag
    fs.create(new org.apache.hadoop.fs.Path(s"$dir/_MAINT"), true).close()
    Classifier.nbModelWrite(corpus, "doc_id", "text", dir)
    fs.exists(new org.apache.hadoop.fs.Path(s"$dir/_MAINT")) shouldBe false
    fs.exists(new org.apache.hadoop.fs.Path(s"$dir/base_next")) shouldBe false
    // a later compact must be a no-op (nothing pending), NOT a swap of
    // the stale stage
    Classifier.nbModelCompact(spark, dir)
    scores(Classifier.nbScoreFromModel(corpus, "doc_id", "text", dir)) shouldBe
      retrain(corpus)
  }

  test("re-ingesting an id fails until a compact retires its ledger rows") {
    val dir = tmp("reingest")
    Classifier.nbModelWrite(corpus, "doc_id", "text", dir)
    val doc3 = corpus.filter(col("doc_id") === 3L)
    // present id: always an error
    intercept[IllegalArgumentException] {
      Classifier.nbModelAppend(doc3, "doc_id", "text", dir)
    }.getMessage should include("already in the model's membership ledger")
    Classifier.nbModelDelete(doc3, "doc_id", "text", dir)
    // deleted id: still an error (ledger rows pending) until compaction
    intercept[IllegalArgumentException] {
      Classifier.nbModelAppend(doc3, "doc_id", "text", dir)
    }
    Classifier.nbModelCompact(spark, dir)
    Classifier.nbModelAppend(doc3, "doc_id", "text", dir)
    scores(Classifier.nbScoreFromModel(corpus, "doc_id", "text", dir)) shouldBe
      retrain(corpus)
  }

  test("uncommitted delta batches are invisible and swept") {
    val dir = tmp("crash")
    Classifier.nbModelWrite(corpus.filter(col("doc_id") < 5), "doc_id",
      "text", dir)
    val before = scores(Classifier.nbScoreFromModel(
      corpus.filter(col("doc_id") < 5), "doc_id", "text", dir))
    Classifier.nbModelAppend(corpus.filter(col("doc_id") >= 5), "doc_id",
      "text", dir)
    // simulate a crash mid-stage: drop the batch's commit marker
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/deltas/0/_COMMIT"), false)
    scores(Classifier.nbScoreFromModel(
      corpus.filter(col("doc_id") < 5), "doc_id", "text", dir)) shouldBe before
    // the next maintenance call sweeps the crashed directory (the
    // re-staged append legitimately reuses the freed number), and the
    // re-staged append lands committed with full effect
    Classifier.nbModelAppend(corpus.filter(col("doc_id") >= 5), "doc_id",
      "text", dir)
    fs.exists(
      new org.apache.hadoop.fs.Path(s"$dir/deltas/0/_COMMIT")) shouldBe true
    fs.exists(new org.apache.hadoop.fs.Path(s"$dir/deltas/1")) shouldBe false
    scores(Classifier.nbScoreFromModel(corpus, "doc_id", "text", dir)) shouldBe
      retrain(corpus)
  }

  test("stream append face: replays never double-apply, crashes restage") {
    val dir = tmp("stream")
    Classifier.nbModelWrite(corpus.filter(col("doc_id") < 2), "doc_id",
      "text", dir)
    val b0 = corpus.filter(col("doc_id").isin(2L, 3L))
    Classifier.nbModelAppendStream(b0, "doc_id", "text", dir,
      batchId = 0L) shouldBe true
    val after0 = scores(Classifier.nbScoreFromModel(
      corpus.filter(col("doc_id") < 4), "doc_id", "text", dir))
    // at-least-once redelivery: a committed batch is a no-op, NOT a
    // second delta (integer counts would double-apply silently)
    Classifier.nbModelAppendStream(b0, "doc_id", "text", dir,
      batchId = 0L) shouldBe false
    scores(Classifier.nbScoreFromModel(
      corpus.filter(col("doc_id") < 4), "doc_id", "text", dir)) shouldBe after0
    // crash mid-stage (no _COMMIT): the SAME batchId restages verbatim
    val b1 = corpus.filter(col("doc_id").isin(4L, 5L))
    Classifier.nbModelAppendStream(b1, "doc_id", "text", dir,
      batchId = 1L) shouldBe true
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/deltas/s1/_COMMIT"), false)
    Classifier.nbModelAppendStream(b1, "doc_id", "text", dir,
      batchId = 1L) shouldBe true
    // manual maintenance appends number from max-existing+1 over the
    // NUMERIC names only — the s<id> stream dirs can't collide
    Classifier.nbModelAppend(corpus.filter(col("doc_id").isin(6L, 7L)),
      "doc_id", "text", dir)
    scores(Classifier.nbScoreFromModel(corpus, "doc_id", "text", dir)) shouldBe
      retrain(corpus)
    // compaction retires the replay markers: a batch redelivered from
    // BEFORE it fails the fresh-ids guard loudly (its ids are in the
    // compacted ledger) instead of double-applying silently
    Classifier.nbModelCompact(spark, dir)
    intercept[IllegalArgumentException] {
      Classifier.nbModelAppendStream(b0, "doc_id", "text", dir, batchId = 0L)
    }.getMessage should include("already in the model's membership ledger")
  }

  test("compaction: identical scores, retired channel, loud _MAINT faces") {
    val dir = tmp("compact")
    Classifier.nbModelWrite(corpus.filter(col("doc_id") < 5), "doc_id",
      "text", dir)
    Classifier.nbModelAppend(corpus.filter(col("doc_id") >= 5), "doc_id",
      "text", dir)
    Classifier.nbModelDelete(corpus.filter(col("doc_id").isin(2L, 3L)),
      "doc_id", "text", dir)
    val survivors = corpus.filter(!col("doc_id").isin(2L, 3L))
    val before = scores(
      Classifier.nbScoreFromModel(survivors, "doc_id", "text", dir))
    Classifier.nbModelCompact(spark, dir)
    scores(Classifier.nbScoreFromModel(survivors, "doc_id", "text", dir)) shouldBe
      before
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(new org.apache.hadoop.fs.Path(s"$dir/deltas")) shouldBe false
    // victim evidence is physically gone from the ledger
    spark.read.parquet(s"$dir/members")
      .filter(col("id").isin(2L, 3L)).count() shouldBe 0L
    // every face fails loudly while a maintenance marker is present
    fs.create(new org.apache.hadoop.fs.Path(s"$dir/_MAINT"), false).close()
    intercept[IllegalArgumentException] {
      Classifier.nbScoreFromModel(survivors, "doc_id", "text", dir).collect()
    }.getMessage should include("under maintenance")
    intercept[IllegalArgumentException] {
      Classifier.nbModelDelete(survivors.limit(1), "doc_id", "text", dir)
    }
    // a stale marker: compaction refuses without takeover, resumes with
    intercept[IllegalArgumentException] {
      Classifier.nbModelCompact(spark, dir)
    }.getMessage should include("takeover")
    Classifier.nbModelCompact(spark, dir, takeover = true)
    scores(Classifier.nbScoreFromModel(survivors, "doc_id", "text", dir)) shouldBe
      before
  }

  test("staged model tables share no stateful expression instances") {
    // the write faces stage counts/members/stats with CONCURRENT jobs
    // (CountStore's one table writer); two plans holding the SAME
    // higher-order-function instance race on its mutable lambda-variable
    // holders during concurrent driver-side optimizer evaluation — the
    // intermittent label flip this test pins (stats built as
    // members.agg shared gopherPass's `aggregate`; about 1 run in 45).
    // Pin the fix structurally: every stateful expression instance in
    // the staged plans must have exactly ONE reading plan — for the
    // ingest faces (sign = +1) and the delete face (sign = -1).
    import org.apache.spark.sql.catalyst.expressions.HigherOrderFunction
    import scala.jdk.CollectionConverters._
    for (sign <- Seq(1, -1)) {
      val tables = Classifier.nbModelTables(corpus, "doc_id", "text", sign)
      tables.map(_._1) should contain allOf ("counts", "members", "stats")
      val perTable = tables.map { case (name, df) =>
        val set = java.util.Collections.newSetFromMap(
          new java.util.IdentityHashMap[HigherOrderFunction, java.lang.Boolean]())
        // the ANALYZED plan: that is the tree Dataset-to-Dataset
        // composition embeds by reference (stats = members.agg built on
        // members' analyzed instances — the sharing that raced), and the
        // raw .logical plan still holds unresolved builder nodes
        df.queryExecution.analyzed.foreach(_.expressions.foreach(_.foreach {
          case h: HigherOrderFunction => set.add(h)
          case _ =>
        }))
        name -> set
      }
      perTable.foreach { case (_, s) => s.isEmpty shouldBe false } // non-vacuous
      perTable.combinations(2).foreach { case Seq((na, a), (nb, b)) =>
        // intersect by IDENTITY (b is IdentityHashMap-backed): Catalyst
        // expressions are structurally equal across fresh builds — that
        // sharing is fine; only same-INSTANCE sharing races
        val shared = a.asScala.filter(b.contains)
        shared.foreach(h => info(s"SHARED $na/$nb: ${h.getClass.getName} ${h.toString.take(120)}"))
        withClue(s"sign $sign: tables $na and $nb share a stateful " +
            "expression instance: ") {
          shared.isEmpty shouldBe true
        }
      }
    }
  }
}
