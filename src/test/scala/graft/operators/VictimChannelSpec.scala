package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.operators.Takedown.Store

/** The [[VictimChannel]] protocol, once per store kind that keeps its
  * pending deletions there: a delete hides the ids from the audit probe,
  * a compaction purges them and retires the channel root, an append of a
  * pending id is refused until compaction, deletes under different id
  * column names are all honoured, and a batch that never committed is
  * invisible until the delete is delivered again.
  */
class VictimChannelSpec extends SparkSpec {

  /** One store kind: how to build it over `corpus`, and its append face
    * when it has one.
    */
  private case class Kind(name: String, build: (DataFrame, String) => Unit,
      append: Option[(DataFrame, String) => Unit])

  private val kinds = Seq(
    Kind("jaccard_prefix",
      (df, p) => Dedup.jaccardPrefixIndexWrite(df, "id", "text", p,
        shingleN = 3, threshold = 0.5),
      Some((df, p) => Dedup.jaccardPrefixIndexAppend(df, "id", "text", p))),
    Kind("decontam",
      (df, p) => TrainingData.decontamIndexWrite(df, "id", "text", p,
        n = 3, nBuckets = 4),
      Some((df, p) => TrainingData.decontamIndexAppend(df, "id", "text", p))),
    Kind("containment",
      (df, p) => TrainingData.containmentIndexWrite(df, "id", "text", p,
        shingleN = 3, nBuckets = 4),
      Some((df, p) =>
        TrainingData.containmentIndexAppend(df, "id", "text", p))),
    Kind("bm25",
      (df, p) => TrainingData.bm25IndexWrite(df, "id", "text", p,
        nBuckets = 4),
      Some((df, p) => TrainingData.bm25IndexAppend(df, "id", "text", p))),
    Kind("kmeans_model",
      (df, p) => Embeddings.kmeansModelWrite(df, "id", "vec", dim = 2,
        k = 2, iters = 2, p),
      None))

  private val allIds = (1L to 6L).toSet

  private def corpus: DataFrame = {
    import spark.implicits._
    (1L to 6L).map(i =>
      (i, s"doc $i shares alpha beta gamma delta then word$i ends$i",
        Seq(math.cos(i.toDouble), math.sin(i.toDouble))))
      .toDF("id", "text", "vec")
  }

  private def victims(col: String, xs: Long*): DataFrame = {
    import spark.implicits._
    xs.toDF(col)
  }

  private def built(k: Kind, tag: String): Store = {
    val path = java.nio.file.Files.createTempDirectory(s"vc-$tag").toString +
      s"/${k.name}"
    k.build(corpus, path)
    Store(k.name, path)
  }

  private def present(st: Store): Set[Long] =
    Takedown.kinds(st.kind).present(spark, "id", st)
      .collect().map(_.getAs[Number](0).longValue).toSet

  private def delete(st: Store, v: DataFrame, idCol: String): Unit =
    Takedown.kinds(st.kind).invoke(v, idCol, "text", st)

  private def exists(p: String): Boolean = new java.io.File(p).exists()

  kinds.foreach { k =>
    test(s"${k.name}: delete hides the ids, compaction purges them and " +
        "retires the channel root") {
      val st = built(k, "purge")
      delete(st, victims("id", 2L, 5L), "id")
      present(st) shouldBe allIds -- Set(2L, 5L)
      exists(s"${st.path}/victims") shouldBe true
      val out = Takedown.forgetCompactAssert(victims("id", 2L, 5L), Seq(st))
        .collect()
      out.map(_.getAs[String]("status")).toSeq shouldBe Seq("purged")
      present(st) shouldBe allIds -- Set(2L, 5L)
      exists(s"${st.path}/victims") shouldBe false
    }

    test(s"${k.name}: deletes passing different id column names are " +
        "all hidden") {
      val st = built(k, "names")
      delete(st, victims("doc_id", 2L), "doc_id")
      delete(st, victims("victim", 5L), "victim")
      present(st) shouldBe allIds -- Set(2L, 5L)
    }

    test(s"${k.name}: a batch that never committed stays visible until " +
        "the delete is delivered again") {
      val st = built(k, "crash")
      delete(st, victims("id", 3L), "id")
      // a crash between stage and commit: the batch's marker never landed
      new java.io.File(s"${st.path}/victims/0/_COMMIT").delete() shouldBe true
      present(st) shouldBe allIds
      delete(st, victims("id", 3L), "id")
      present(st) shouldBe allIds - 3L
      Takedown.forgetCompactAssert(victims("id", 3L), Seq(st)).collect()
        .map(_.getAs[String]("status")).toSeq shouldBe Seq("purged")
    }

    k.append.foreach { append =>
      test(s"${k.name}: re-appending a pending id is refused until " +
          "compaction") {
        import spark.implicits._
        val st = built(k, "append")
        delete(st, victims("id", 4L), "id")
        val again = Seq((4L, "doc 4 comes back with fresh words here"))
          .toDF("id", "text")
        intercept[IllegalArgumentException] { append(again, st.path) }
          .getMessage should include("PENDING deletions")
        present(st) shouldBe allIds - 4L
        Takedown.kinds(st.kind).compact.get(spark, st)
        append(again, st.path)
        present(st) shouldBe allIds
      }
    }
  }
}
