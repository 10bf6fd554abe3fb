package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Exact machine unlearning on the persisted count-form DSIR model
  * ([[Sampling.dsirStoreWrite]] family, the [[Classifier.nbModelWrite]]
  * twin on the shared [[CountStore]] protocol): every test checks
  * against retraining ([[Sampling.importanceWeights]] /
  * [[Sampling.dsirTrain]]) on the changed corpora, not against saved
  * expectations. The store-protocol edge cases (crash sweep, _MAINT
  * faces, staged-swap re-run) are NbUnlearnSpec's ground — shared
  * implementation; here the DSIR-specific arithmetic and the two-role
  * ledger are what's exercised.
  */
class DsirUnlearnSpec extends SparkSpec {

  // docs 0-7 raw; 0-2 also target. Doc 3 carries bigrams no other doc
  // has, so deleting it must move bucket counts only it produced.
  private def corpus: DataFrame = {
    import spark.implicits._
    Seq(
      (0L, "alpha beta gamma delta alpha beta"),
      (1L, "alpha beta epsilon zeta"),
      (2L, "beta gamma delta epsilon"),
      (3L, "unique pair here only once zzzq qqzz"),
      (4L, "alpha gamma beta delta"),
      (5L, "single"), // one token: zero features, still a ledger row
      (6L, ""),       // empty text: zero features
      (7L, "zeta epsilon alpha beta gamma")
    ).toDF("doc_id", "text")
  }
  private def target(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") < 3)

  private val NB = 64

  private def scores(df: DataFrame): Seq[Seq[Any]] =
    df.select(col("doc_id"), col("n_feats"),
      round(col("logw"), 6).as("logw"))
      .orderBy("doc_id").collect().map(_.toSeq).toSeq

  private def retrain(raw: DataFrame): Seq[Seq[Any]] =
    scores(Sampling.importanceWeights(raw, target(raw), "doc_id", "text", NB))

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"dsir-$tag").toString

  test("write + storeScore equals one-shot importanceWeights") {
    val dir = tmp("write")
    Sampling.dsirStoreWrite(corpus, target(corpus), "doc_id", "text", dir, NB)
    scores(Sampling.dsirStoreScore(corpus, "doc_id", "text", dir)) shouldBe
      retrain(corpus)
  }

  test("raw append equals retraining on the union") {
    val dir = tmp("append")
    Sampling.dsirStoreWrite(corpus.filter(col("doc_id") < 5),
      target(corpus), "doc_id", "text", dir, NB)
    Sampling.dsirStoreAppend(corpus.filter(col("doc_id") >= 5),
      "doc_id", "text", dir, role = "raw")
    scores(Sampling.dsirStoreScore(corpus, "doc_id", "text", dir)) shouldBe
      retrain(corpus)
    // appending an id already held under the role fails loudly; the
    // OTHER role is free (target corpora draw from the raw pool)
    intercept[IllegalArgumentException] {
      Sampling.dsirStoreAppend(corpus.filter(col("doc_id") === 7L),
        "doc_id", "text", dir, role = "raw")
    }.getMessage should include("already in the ledger")
    Sampling.dsirStoreAppend(corpus.filter(col("doc_id") === 7L),
      "doc_id", "text", dir, role = "target")
    val t2 = target(corpus).unionByName(corpus.filter(col("doc_id") === 7L))
    scores(Sampling.dsirStoreScore(corpus, "doc_id", "text", dir)) shouldBe
      scores(Sampling.importanceWeights(corpus, t2, "doc_id", "text", NB))
  }

  test("intra-batch duplicate ids fail loudly on every ingest face") {
    // the corruption the fresh-ids LEDGER guard cannot see: a batch
    // holding the same id twice emits two +1 ledger rows and two count
    // contributions, a later delete subtracts once — permanent drift.
    // Every face refuses BEFORE staging anything.
    val dir = tmp("dup")
    val dup = corpus.filter(col("doc_id") === 1L)
      .unionByName(corpus.filter(col("doc_id") === 1L))
    intercept[IllegalArgumentException] {
      Sampling.dsirStoreWrite(dup, target(corpus), "doc_id", "text", dir, NB)
    }.getMessage should include ("DUPLICATE")
    Sampling.dsirStoreWrite(corpus.filter(col("doc_id") < 5),
      target(corpus), "doc_id", "text", dir, NB)
    intercept[IllegalArgumentException] {
      Sampling.dsirStoreAppend(
        corpus.filter(col("doc_id") === 7L).unionByName(
          corpus.filter(col("doc_id") === 7L)),
        "doc_id", "text", dir, role = "raw")
    }.getMessage should include ("DUPLICATE")
    // nothing staged by the refused append: store still equals retrain
    scores(Sampling.dsirStoreScore(corpus.filter(col("doc_id") < 5),
      "doc_id", "text", dir)) shouldBe
      retrain(corpus.filter(col("doc_id") < 5))
  }

  test("delete equals retraining on the survivors — both roles leave") {
    val dir = tmp("delete")
    Sampling.dsirStoreWrite(corpus, target(corpus), "doc_id", "text", dir, NB)
    // doc 1 is raw AND target: one delete subtracts from both
    // distributions; doc 3's unique bigrams leave the bucket counts
    val victims = corpus.filter(col("doc_id").isin(1L, 3L))
    Sampling.dsirStoreDelete(victims, "doc_id", "text", dir)
    val survivors = corpus.filter(!col("doc_id").isin(1L, 3L))
    scores(Sampling.dsirStoreScore(survivors, "doc_id", "text", dir)) shouldBe
      retrain(survivors)
    // the derived ratio model is BIT-identical to a retrain's
    Sampling.dsirStoreModel(spark, dir)
      .collect().map(_.toSeq).sortBy(_.toString) shouldBe
      Sampling.dsirTrain(survivors, target(survivors), "doc_id", "text", NB)
        .collect().map(_.toSeq).sortBy(_.toString)
  }

  test("double-delete, unknown-id, and featureless deletes are no-ops") {
    val dir = tmp("noop")
    Sampling.dsirStoreWrite(corpus, target(corpus), "doc_id", "text", dir, NB)
    Sampling.dsirStoreDelete(corpus.filter(col("doc_id") === 3L),
      "doc_id", "text", dir)
    val after = scores(
      Sampling.dsirStoreScore(corpus, "doc_id", "text", dir))
    Sampling.dsirStoreDelete(corpus.filter(col("doc_id") === 3L),
      "doc_id", "text", dir)
    import spark.implicits._
    Sampling.dsirStoreDelete(Seq((99L, "never seen")).toDF("doc_id", "text"),
      "doc_id", "text", dir)
    // one-token and empty-text members: ledger rows leave, counts stay
    Sampling.dsirStoreDelete(corpus.filter(col("doc_id").isin(5L, 6L)),
      "doc_id", "text", dir)
    scores(Sampling.dsirStoreScore(corpus, "doc_id", "text", dir)) shouldBe
      after
  }

  test("drifted victim text fails loudly") {
    val dir = tmp("drift")
    Sampling.dsirStoreWrite(corpus, target(corpus), "doc_id", "text", dir, NB)
    import spark.implicits._
    intercept[IllegalArgumentException] {
      Sampling.dsirStoreDelete(
        Seq((0L, "totally different words now")).toDF("doc_id", "text"),
        "doc_id", "text", dir)
    }.getMessage should include("does not match what was ingested")
    // the sharp case: SAME feature count, different bigrams — an
    // n_feats-only guard would pass this and subtract counts from
    // buckets the doc never touched; the pinned text digest catches it
    intercept[IllegalArgumentException] {
      Sampling.dsirStoreDelete(
        Seq((0L, "alpha beta gamma delta alpha ZETA")).toDF("doc_id", "text"),
        "doc_id", "text", dir)
    }.getMessage should include("does not match what was ingested")
    scores(Sampling.dsirStoreScore(corpus, "doc_id", "text", dir)) shouldBe
      retrain(corpus)
  }

  test("cross-role text drift is rejected at append time (undeletable ids)") {
    val dir = tmp("crossrole")
    Sampling.dsirStoreWrite(corpus, target(corpus), "doc_id", "text", dir, NB)
    import spark.implicits._
    // doc 4 is raw-only; appending it under 'target' with DIFFERENT
    // text would make it undeletable (one takedown text cannot verify
    // against both pinned digests) — the guard refuses up front
    intercept[IllegalArgumentException] {
      Sampling.dsirStoreAppend(
        Seq((4L, "different text for the target side")).toDF("doc_id", "text"),
        "doc_id", "text", dir, role = "target")
    }.getMessage should include("other role with DIFFERENT text")
    // byte-identical text is the supported shape
    Sampling.dsirStoreAppend(corpus.filter(col("doc_id") === 4L),
      "doc_id", "text", dir, role = "target")
    val t2 = target(corpus).unionByName(corpus.filter(col("doc_id") === 4L))
    scores(Sampling.dsirStoreScore(corpus, "doc_id", "text", dir)) shouldBe
      scores(Sampling.importanceWeights(corpus, t2, "doc_id", "text", NB))
    // and ONE takedown now removes the doc from both distributions
    Sampling.dsirStoreDelete(corpus.filter(col("doc_id") === 4L),
      "doc_id", "text", dir)
    val survivors = corpus.filter(col("doc_id") =!= 4L)
    scores(Sampling.dsirStoreScore(survivors, "doc_id", "text", dir)) shouldBe
      scores(Sampling.importanceWeights(survivors, target(survivors),
        "doc_id", "text", NB))
  }

  test("re-ingesting a deleted (id, role) fails until a compact retires " +
      "its ledger rows") {
    val dir = tmp("reingest")
    Sampling.dsirStoreWrite(corpus, target(corpus), "doc_id", "text", dir, NB)
    val doc3 = corpus.filter(col("doc_id") === 3L)
    // present (id, role): always an error
    intercept[IllegalArgumentException] {
      Sampling.dsirStoreAppend(doc3, "doc_id", "text", dir, role = "raw")
    }.getMessage should include("already in the ledger")
    Sampling.dsirStoreDelete(doc3, "doc_id", "text", dir)
    // deleted: still an error (ledger rows pending) until compaction
    intercept[IllegalArgumentException] {
      Sampling.dsirStoreAppend(doc3, "doc_id", "text", dir, role = "raw")
    }.getMessage should include("already in the ledger")
    Sampling.dsirStoreCompact(spark, dir)
    Sampling.dsirStoreAppend(doc3, "doc_id", "text", dir, role = "raw")
    scores(Sampling.dsirStoreScore(corpus, "doc_id", "text", dir)) shouldBe
      retrain(corpus)
  }

  test("uncommitted delta batches are invisible and swept") {
    val dir = tmp("crash")
    val head = corpus.filter(col("doc_id") < 5)
    Sampling.dsirStoreWrite(head, target(corpus), "doc_id", "text", dir, NB)
    val before = scores(Sampling.dsirStoreScore(head, "doc_id", "text", dir))
    val tail = corpus.filter(col("doc_id") >= 5)
    Sampling.dsirStoreAppend(tail, "doc_id", "text", dir, role = "raw")
    // simulate a crash mid-stage: drop the batch's commit marker
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/deltas/0/_COMMIT"), false)
    // neither its counts nor its ledger rows are visible
    scores(Sampling.dsirStoreScore(head, "doc_id", "text", dir)) shouldBe
      before
    Sampling.dsirStorePresentIds(spark, dir)
      .filter(col("id") >= 5L).count() shouldBe 0L
    // the next append sweeps the crashed directory (reusing its number)
    // and lands committed with full effect
    Sampling.dsirStoreAppend(tail, "doc_id", "text", dir, role = "raw")
    fs.exists(
      new org.apache.hadoop.fs.Path(s"$dir/deltas/0/_COMMIT")) shouldBe true
    fs.exists(new org.apache.hadoop.fs.Path(s"$dir/deltas/1")) shouldBe false
    scores(Sampling.dsirStoreScore(corpus, "doc_id", "text", dir)) shouldBe
      retrain(corpus)
  }

  test("stream append face: replayed micro-batches are no-ops") {
    val dir = tmp("stream")
    Sampling.dsirStoreWrite(corpus.filter(col("doc_id") < 5),
      target(corpus), "doc_id", "text", dir, NB)
    val b0 = corpus.filter(col("doc_id") >= 5)
    Sampling.dsirStoreAppendStream(b0, "doc_id", "text", dir, "raw",
      batchId = 0L) shouldBe true
    val after = scores(Sampling.dsirStoreScore(corpus, "doc_id", "text", dir))
    Sampling.dsirStoreAppendStream(b0, "doc_id", "text", dir, "raw",
      batchId = 0L) shouldBe false
    scores(Sampling.dsirStoreScore(corpus, "doc_id", "text", dir)) shouldBe
      after
    after shouldBe retrain(corpus)
  }

  test("compaction: identical scores, retired channel and ledger rows") {
    val dir = tmp("compact")
    Sampling.dsirStoreWrite(corpus.filter(col("doc_id") < 5),
      target(corpus), "doc_id", "text", dir, NB)
    Sampling.dsirStoreAppend(corpus.filter(col("doc_id") >= 5),
      "doc_id", "text", dir, role = "raw")
    Sampling.dsirStoreDelete(corpus.filter(col("doc_id").isin(1L, 3L)),
      "doc_id", "text", dir)
    val survivors = corpus.filter(!col("doc_id").isin(1L, 3L))
    val before = scores(
      Sampling.dsirStoreScore(survivors, "doc_id", "text", dir))
    Sampling.dsirStoreCompact(spark, dir)
    scores(Sampling.dsirStoreScore(survivors, "doc_id", "text", dir)) shouldBe
      before
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(new org.apache.hadoop.fs.Path(s"$dir/deltas")) shouldBe false
    spark.read.parquet(s"$dir/members")
      .filter(col("id").isin(1L, 3L)).count() shouldBe 0L
    // deleted (id, role) re-appendable only after the compact
    Sampling.dsirStoreAppend(corpus.filter(col("doc_id") === 3L),
      "doc_id", "text", dir, role = "raw")
    scores(Sampling.dsirStoreScore(
      corpus.filter(col("doc_id") =!= 1L), "doc_id", "text", dir)) shouldBe
      retrain(corpus.filter(col("doc_id") =!= 1L))
  }
}
