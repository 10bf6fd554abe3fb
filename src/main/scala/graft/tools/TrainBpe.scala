package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Frames
import graft.functions.{Bpe, TextFunctions}

/** Trains the bundled byte-level BPE fixture (merges_byte.txt +
  * vocab_byte.json) on the synthetic documents corpus, in the real GPT-2
  * file format: `#version: 0.2` header, one `a b` rule per line over the
  * [[Bpe.byteToUnicode]] alphabet, and a `{"token": id}` vocab whose
  * first 256 ids are the byte alphabet in byte order (ids 256+i follow
  * merge order) — the same layout `loadMergesFile`/`loadVocabFile`
  * accept for production tokenizers.
  *
  * Training is the textbook Sennrich et al. 2016 loop over DISTINCT
  * pre-token segments weighted by corpus frequency. Segment counting is
  * distributed (explode + groupBy); the merge loop itself runs on the
  * driver over the distinct-segment table — fixture-building tooling,
  * not a pipeline operator.
  *
  * Usage: runMain graft.tools.TrainBpe <sfDir> <outDir> [nMerges]
  */
object TrainBpe {

  /** Pure training loop, exposed for tests: (segment, freq) pairs →
    * merge rules in rank order. Ties break on (count desc, pair asc) so
    * the fixture is reproducible run-to-run.
    */
  def train(segFreqs: Seq[(String, Long)], nMerges: Int): Seq[(String, String)] = {
    // each distinct segment as its mutable symbol sequence + weight
    val words: Array[(Array[String], Long)] = segFreqs.map { case (seg, f) =>
      (seg.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        .map(b => String.valueOf(Bpe.byteToUnicode(b & 0xff))), f)
    }.toArray
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var active = words
    var iter = 0
    while (iter < nMerges) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      active.foreach { case (w, f) =>
        var i = 0
        while (i < w.length - 1) {
          val k = (w(i), w(i + 1))
          counts(k) = counts.getOrElse(k, 0L) + f
          i += 1
        }
      }
      if (counts.isEmpty) iter = nMerges
      else {
        val (pair, _) = counts.toSeq.minBy { case ((a, b), c) => (-c, a, b) }
        merges += pair
        val (a, b) = pair
        val ab = a + b
        active = active.map { case (w, f) =>
          if (w.length < 2) (w, f)
          else {
            val out = new scala.collection.mutable.ArrayBuffer[String](w.length)
            var j = 0
            while (j < w.length) {
              if (j < w.length - 1 && w(j) == a && w(j + 1) == b) { out += ab; j += 2 }
              else { out += w(j); j += 1 }
            }
            (out.toArray, f)
          }
        }
        iter += 1
      }
    }
    merges.toSeq
  }

  /** [[train]] at cluster scale: the distinct-segment table never
    * leaves the executors. Per merge iteration the only shuffle is the
    * pair-count aggregation (bounded by distinct adjacent symbol pairs,
    * map-side combined); the argmax is a `limit(1)` reduce — the driver
    * receives ONE row per iteration and holds only the merge rules.
    * The merge itself applies as a narrow `aggregate` fold over the
    * symbol arrays, so iterations chain without data movement; a
    * rotating local checkpoint every `checkpointEvery` rounds stops
    * lineage (and the fold-expression nesting) growing unboundedly,
    * releasing the previous checkpoint's blocks eagerly.
    *
    * Semantics are exactly [[train]]'s (same overlapping pair counting
    * weighted by segment frequency, same (count desc, pair asc)
    * tie-break, same greedy left-to-right merge application) —
    * DistTrainBpeSpec asserts sequence equality, and the fold is the
    * same shape the DuckDB oracle replays. Fully-merged single-symbol
    * segments are dropped each round: they can neither change nor
    * produce pairs, so the working table shrinks as training proceeds.
    */
  def distTrain(docs: DataFrame, textCol: String, nMerges: Int,
      checkpointEvery: Int = 16): Seq[(String, String)] = Frames.scoped { f =>
    require(nMerges >= 0, "nMerges >= 0")
    require(checkpointEvery >= 1, "checkpointEvery >= 1")
    val spark = docs.sparkSession
    import spark.implicits._
    // the one corpus-sized pass: distinct pre-token segments + corpus
    // frequency, then byte-level initial symbols (vocabulary-sized map)
    var cur = f.checkpoint(docs
      .select(explode(regexp_extract_all(
        col(textCol), lit(TextFunctions.subwordPattern), lit(0))).as("g"))
      .groupBy("g").count()
      .as[(String, Long)]
      .map { case (seg, f) =>
        (seg.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          .toSeq.map(b => String.valueOf(Bpe.byteToUnicode(b & 0xff))), f)
      }
      .toDF("syms", "cnt")
      .filter(size(col("syms")) >= 2))
    var lastCkpt = cur
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var sinceCkpt = 0
    var done = false
    while (merges.size < nMerges && !done) {
      val top = cur
        .select(explode(transform(sequence(lit(0), size(col("syms")) - 2),
          j => struct(element_at(col("syms"), j + 1).as("a"),
            element_at(col("syms"), j + 2).as("b")))).as("p"), col("cnt"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum("cnt").as("c"))
        .orderBy(desc("c"), asc("a"), asc("b"))
        .limit(1).collect()
      if (top.isEmpty) done = true
      else {
        val (a, b) = (top(0).getString(0), top(0).getString(1))
        merges += ((a, b))
        cur = cur
          .withColumn("syms", applyMerge(col("syms"), a, b))
          .filter(size(col("syms")) >= 2)
        sinceCkpt += 1
        if (sinceCkpt >= checkpointEvery) {
          cur = f.checkpoint(cur)
          f.release(lastCkpt)
          lastCkpt = cur
          sinceCkpt = 0
        }
      }
    }
    merges.toSeq
  }

  /** One greedy left-to-right application of merge rule (a, b) as a
    * fold: if the running output ends with `a` and the next symbol is
    * `b`, the pair collapses to `a+b` (and, exactly like the sequential
    * scan, the freshly merged symbol is never itself the left partner
    * of the SAME pass — `a+b` can only equal `a` if `b` were empty).
    */
  private def applyMerge(syms: Column, a: String, b: String): Column =
    aggregate(syms, array().cast("array<string>"), (acc, x) =>
      when(x === lit(b) && size(acc) > 0 && element_at(acc, -1) === lit(a),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
        .otherwise(concat(acc, array(x))))

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outDir = args.lift(1).getOrElse("/tmp/bpe_out")
    val nMerges = args.lift(2).map(_.toInt).getOrElse(300)
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", 8)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val segFreqs = graft.tables.Tables.documents(spark, sfDir)
      .select(explode(regexp_extract_all(
        col("text"), lit(TextFunctions.subwordPattern), lit(0))).as("g"))
      .groupBy("g").count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq

    val merges = train(segFreqs, nMerges)

    val dir = new java.io.File(outDir)
    dir.mkdirs()
    val mw = new java.io.PrintWriter(new java.io.File(dir, "merges_byte.txt"), "UTF-8")
    try {
      mw.println("#version: 0.2")
      merges.foreach { case (a, b) => mw.println(s"$a $b") }
    } finally mw.close()

    val vocab: Seq[(String, Int)] =
      Bpe.byteToUnicode.zipWithIndex.map { case (c, b) => (String.valueOf(c), b) }.toSeq ++
        merges.zipWithIndex.map { case ((a, b), i) => (a + b, 256 + i) }
    val vw = new java.io.PrintWriter(new java.io.File(dir, "vocab_byte.json"), "UTF-8")
    try {
      import org.json4s.JsonDSL._
      vw.print(org.json4s.jackson.JsonMethods.compact(
        org.json4s.JObject(vocab.map { case (k, v) => k -> org.json4s.JInt(v) }.toList)))
    } finally vw.close()

    println(s"wrote ${merges.size} merges + ${vocab.size}-entry vocab to $outDir")
    spark.stop()
  }
}
