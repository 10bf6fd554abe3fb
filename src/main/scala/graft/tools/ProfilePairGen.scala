package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Frames
import graft.functions.{VectorFunctions => V}
import graft.operators.Dedup

/** Dev profiler: volume counters for the LSH candidate-pair kernel —
  * how many (bucket, id, sig) rows enter the group stage, how many
  * pairs are ENUMERATED in-bucket, how many pass the signature
  * estimate (emitted into distinct()), how many are duplicate
  * emissions of the same pair from later colliding bands (the volume a
  * first-colliding-band dedup would remove), and the final distinct
  * count. Decides whether the dedup is worth shipping. Not part of the
  * driver contract.
  */
object ProfilePairGen {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    def t[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"[profile] $name%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }

    val docs = graft.tables.Tables.documents(spark, dir)
    val (numHashes, bands, shingleN) = (16, 8, 5)
    val (threshold, slack) = (0.4, 0.05)
    val estMin = math.max(0.0, threshold - slack)
    val minAgree = math.ceil(estMin * numHashes - 1e-9).toInt
    val rows = numHashes / bands
    val maxBucketSize = 1000

    Frames.scoped { f =>
      // replicate minhashLsh's bucketed relation
      val shingled = t("shingle + checkpoint") {
        f.checkpoint(docs.filter(col("text").isNotNull)
          .select(col("doc_id"),
            graft.functions.ArrayOps.shingleHashes(
              regexp_replace(trim(lower(col("text"))), "\\s+", " "), shingleN).as("sh")))
      }
      val sig = shingled.select(col("doc_id"),
        V.minhashSignatureOfHashes(col("sh"), numHashes).as("sig"))
      val bucketed = sig
        .select(col("doc_id"), col("sig"),
          explode(V.minhashBands(col("sig"), numHashes, bands)).as("bandStruct"))
        .select(col("doc_id"), col("sig"),
          concat_ws(":", col("bandStruct.band"), col("bandStruct.bucket")).as("bucket"))

      val nGroupRows = spark.sparkContext.longAccumulator("groupRows")
      val nEnumerated = spark.sparkContext.longAccumulator("enumerated")
      val nEmitted = spark.sparkContext.longAccumulator("emitted")
      val nFirstBand = spark.sparkContext.longAccumulator("firstBandOnly")
      val emitted = bucketed
        .select(col("bucket"), col("doc_id").cast("long"), col("sig"))
        .as[(String, Long, Array[Long])]
        .groupByKey(_._1)
        .flatMapGroups { (key, it) =>
          val bandIdx = key.substring(0, key.indexOf(':')).toInt
          val m = it.take(maxBucketSize + 1).toArray
          nGroupRows.add(m.length)
          if (m.length > maxBucketSize) Iterator.empty
          else {
            val out = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
            var i = 0
            while (i < m.length) {
              var j = i + 1
              while (j < m.length) {
                nEnumerated.add(1)
                val sa = m(i)._3; val sb = m(j)._3
                var agree = 0; var k = 0
                while (k < sa.length) { if (sa(k) == sb(k)) agree += 1; k += 1 }
                if (agree >= minAgree) {
                  nEmitted.add(1)
                  // would a first-colliding-band (slice-equality) check
                  // have suppressed this emission?
                  var dup = false; var b2 = 0
                  while (!dup && b2 < bandIdx) {
                    var p = b2 * rows; val end = p + rows; var eq = true
                    while (eq && p < end) { if (sa(p) != sb(p)) eq = false; p += 1 }
                    if (eq) dup = true
                    b2 += 1
                  }
                  if (!dup) {
                    nFirstBand.add(1)
                    if (m(i)._2 < m(j)._2) out += ((m(i)._2, m(j)._2))
                    else out += ((m(j)._2, m(i)._2))
                  }
                }
                j += 1
              }
              i += 1
            }
            out.iterator
          }
        }
        .toDF("id_a", "id_b")
      val distinctPairs = f.checkpoint(emitted.distinct())
      val nDistinct = t("pair-gen + distinct")(distinctPairs.count())
      // dedupe-by-content potential: how many DISTINCT shingle-set
      // contents exist (identical template docs verify once), and how
      // selective the exact size-ratio bound j <= min/max is on the
      // candidate pairs
      val contentIds = f.checkpoint(shingled.select(
        col("doc_id").cast("long").as("__id"),
        xxhash64(col("sh")).as("__csh"), size(col("sh")).as("__n")))
      println(s"[profile] docs=${contentIds.count()} distinct sh contents=" +
        contentIds.select("__csh").distinct().count())
      val withSizes = distinctPairs
        .join(contentIds.select(col("__id").as("id_a"), col("__n").as("na"),
          col("__csh").as("ca")), Seq("id_a"))
        .join(contentIds.select(col("__id").as("id_b"), col("__n").as("nb"),
          col("__csh").as("cb")), Seq("id_b"))
      println("[profile] pairs passing size filter = " + withSizes
        .filter(least(col("na"), col("nb")).cast("double") >=
          lit(threshold) * greatest(col("na"), col("nb")).cast("double")).count())
      println("[profile] distinct CONTENT pairs    = " + withSizes
        .select(least(col("ca"), col("cb")), greatest(col("ca"), col("cb")))
        .distinct().count())
      // the exact-verify join in isolation (shingled + pairs are leaves)
      val shById = shingled.select(col("doc_id").as("__id"), col("sh"))
      t("verify join") {
        val n = distinctPairs
          .join(shById.select(col("__id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
          .join(shById.select(col("__id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
          .select(col("id_a"), col("id_b"),
            graft.functions.ArrayOps.jaccardSortedLong(
              col("sh_a"), col("sh_b")).as("jaccard"))
          .filter(col("jaccard") >= threshold).count()
        println(s"[profile] verified pairs     = $n")
      }
      println(s"[profile] group rows        = ${nGroupRows.value}")
      println(s"[profile] pairs enumerated  = ${nEnumerated.value}")
      println(s"[profile] pairs emitted     = ${nEmitted.value} (pre first-band dedup)")
      println(s"[profile] first-band only   = ${nFirstBand.value}")
      println("[profile] (the four counters above are accumulators updated " +
        "inside flatMapGroups: task retries and speculative attempts add " +
        "again, so they are upper bounds; trust them only from a run with " +
        "no failed or speculative tasks)")
      println(s"[profile] distinct pairs    = $nDistinct")

      // and the shipped kernel end-to-end for wall-time reference
      (1 to 2).foreach { i =>
        t(s"Dedup.minhashLsh e2e #$i") {
          println("[profile] final pairs       = " + Dedup.minhashLsh(
            docs, "doc_id", "text", numHashes = numHashes, bands = bands,
            shingleN = shingleN, threshold = threshold,
            estimateSlack = slack).count())
        }
      }
      // decompose the shingle pass: normalization alone vs + shingleHashes
      def force(df: DataFrame): Unit =
        df.write.format("noop").mode("overwrite").save()
      (1 to 2).foreach { i =>
        t(s"scan only #$i")(force(docs.filter(col("text").isNotNull)
          .select(col("doc_id"), col("text"))))
        t(s"normalize only #$i")(force(docs.filter(col("text").isNotNull)
          .select(col("doc_id"),
            regexp_replace(trim(lower(col("text"))), "\\s+", " ").as("n"))))
        t(s"normalize + shingle #$i")(force(docs.filter(col("text").isNotNull)
          .select(col("doc_id"), graft.functions.ArrayOps.shingleHashes(
            regexp_replace(trim(lower(col("text"))), "\\s+", " "), shingleN).as("sh"))))
        t(s"norm + shingle + sig #$i")(force(docs.filter(col("text").isNotNull)
          .select(col("doc_id"), V.minhashSignatureOfHashes(
            graft.functions.ArrayOps.shingleHashes(
              regexp_replace(trim(lower(col("text"))), "\\s+", " "), shingleN),
            numHashes).as("sig"))))
      }
    }
    spark.stop()
  }
}
