package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.streaming.StreamingOps

/** An IVF index keeps the storage layout it was built with: the
  * layout-generic append faces ([[Similarity.ivfAppend]],
  * [[StreamingOps.continuousIvfAppend]]) write rows in the index's
  * stored layout, so an SQ8 or PQ-refine index answers after them —
  * point probes, join probes, compaction — exactly as after the
  * layout-named faces (`ivfAppendSQ8`, `ivfAppendPQ`,
  * `continuousPqAppend`).
  */
class IvfLayoutSpec extends SparkSpec {

  private def vecs: DataFrame = {
    import spark.implicits._
    Seq(
      (0L, Seq(1.0, 0.0, 0.0, 0.0)),
      (1L, Seq(0.99, 0.14, 0.0, 0.0)),
      (2L, Seq(0.7, 0.7, 0.0, 0.0)),
      (3L, Seq(0.0, 1.0, 0.0, 0.0)),
      (4L, Seq(-1.0, 0.0, 0.0, 0.0)),
      (5L, Seq(0.9, -0.43, 0.0, 0.0))
    ).toDF("vec_id", "embedding")
  }

  private val batch1 = Seq((6L, Seq(1.0, 0.01, 0.0, 0.0)),
    (7L, Seq(0.01, 1.0, 0.0, 0.0)))
  private val batch2 = Seq((8L, Seq(0.98, 0.2, 0.0, 0.0)))

  private def extra: DataFrame = {
    import spark.implicits._
    (batch1 ++ batch2).toDF("vec_id", "embedding")
  }

  private val q = Seq(1.0, 0.05, 0.0, 0.0)

  private def build(layout: String, path: String): Unit = layout match {
    case "sq8" => Similarity.ivfWriteIndexSQ8(vecs, "vec_id", "embedding",
      dim = 4, path = path, nBits = 2, lloydIters = 1)
    case "pq" => Similarity.ivfWriteIndexPQ(vecs, "vec_id", "embedding",
      dim = 4, path = path, nBits = 2, lloydIters = 1, m = 2,
      codebookK = 3, pqIters = 2, withRefine = true)
  }

  private def namedAppend(layout: String, path: String): Unit =
    layout match {
      case "sq8" => Similarity.ivfAppendSQ8(extra, "vec_id", "embedding", path)
      case "pq" => Similarity.ivfAppendPQ(extra, "vec_id", "embedding", path)
    }

  // rows in a canonical order, binary payloads as byte lists
  private def sorted(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq.map {
      case b: Array[Byte] => b.toSeq
      case x => x
    }).sortBy(_.mkString("|"))

  // every probe face of the layout: point probes keep their rank order,
  // the join faces are compared as sets of (q_id, id, cosine, rank)
  private def answers(layout: String, path: String): Seq[Seq[Seq[Any]]] = {
    val queries = vecs.filter(col("vec_id") < 3)
    layout match {
      case "sq8" => Seq(
        rows(Similarity.ivfTopKFromIndexSQ8(spark, path, "vec_id", q,
          k = 8, nProbe = 4)),
        rows(Similarity.ivfTopKFromIndexSQ8(spark, path, "vec_id", q,
          k = 3, nProbe = 1)),
        sorted(Similarity.ivfTopKJoinSQ8(queries, "vec_id", "embedding",
          path, "vec_id", k = 3, nProbe = 4)))
      case "pq" => Seq(
        rows(Similarity.ivfTopKFromIndexPQ(spark, path, "vec_id", q,
          k = 8, nProbe = 4)),
        rows(Similarity.ivfTopKFromIndexPQRefine(spark, path, "vec_id", q,
          k = 3, nProbe = 4, refineFactor = 2)),
        sorted(Similarity.ivfPqTopKJoinRefine(queries, "vec_id",
          "embedding", path, "vec_id", k = 3, nProbe = 4,
          refineFactor = 2)))
    }
  }

  // the stored cell rows
  private def stored(path: String): Seq[Seq[Any]] = {
    val cells = spark.read.parquet(s"$path/cells")
    sorted(cells.select(cells.columns.sorted.map(col): _*))
  }

  private def stream(path: String, named: Boolean): Unit = {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val in = MemoryStream[(Long, Seq[Double])]
    val df = in.toDF().toDF("vec_id", "embedding")
    val sq = (if (named) StreamingOps.continuousPqAppend(df, "vec_id",
        "embedding", path, s"$path-ckpt")
      else StreamingOps.continuousIvfAppend(df, "vec_id", "embedding",
        path, s"$path-ckpt")).start()
    try {
      in.addData(batch1: _*)
      sq.processAllAvailable()
      in.addData(batch2: _*)
      sq.processAllAvailable()
    } finally sq.stop()
  }

  for (layout <- Seq("sq8", "pq")) {
    test(s"ivfAppend into a $layout index follows the stored layout") {
      import spark.implicits._
      val dir = java.nio.file.Files.createTempDirectory(s"ivflay-$layout")
        .toString
      val (generic, named) = (s"$dir/generic", s"$dir/named")
      Seq(generic, named).foreach(build(layout, _))
      Similarity.ivfAppend(extra, "vec_id", "embedding", generic)
      namedAppend(layout, named)
      stored(generic) shouldBe stored(named)
      answers(layout, generic) shouldBe answers(layout, named)
      // a takedown folded through compaction leaves them equal too
      for (p <- Seq(generic, named)) {
        Similarity.ivfDelete(Seq(1L).toDF("vec_id"), "vec_id", p)
        StreamingOps.compactIvfDeltas(spark, p, includeLatest = true)
      }
      stored(generic) shouldBe stored(named)
      answers(layout, generic) shouldBe answers(layout, named)
    }

    test(s"continuousIvfAppend into a $layout index follows the stored layout") {
      val dir = java.nio.file.Files.createTempDirectory(s"ivflays-$layout")
        .toString
      val (generic, named) = (s"$dir/generic", s"$dir/named")
      Seq(generic, named).foreach(build(layout, _))
      stream(generic, named = false)
      // PQ has a layout-named stream face; SQ8's reference is its
      // layout-named batch append of the same rows
      if (layout == "pq") stream(named, named = true)
      else namedAppend(layout, named)
      answers(layout, generic) shouldBe answers(layout, named)
      for (p <- Seq(generic, named))
        StreamingOps.compactIvfDeltas(spark, p, includeLatest = true)
      stored(generic) shouldBe stored(named)
      answers(layout, generic) shouldBe answers(layout, named)
    }
  }
}
