package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

class TrainingDataSpec extends SparkSpec {

  private lazy val corpus = {
    import spark.implicits._
    Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta"),
      (11L, "alpha beta gamma delta something entirely different here"),
      (12L, "no overlap with anything else at all whatsoever now"),
      (13L, "unique words only in this particular document body text")
    ).toDF("doc_id", "text")
  }

  private lazy val bench = {
    import spark.implicits._
    // shares the 4-gram "alpha beta gamma delta" with docs 10 and 11
    Seq((1L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
  }

  test("decontaminate counts distinct shared word-n-grams per doc") {
    val r = TrainingData.decontaminate(corpus, "doc_id", "text", bench, "text", n = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // bench has 2 distinct 4-grams: "alpha beta gamma delta",
    // "beta gamma delta epsilon" — doc 10 shares both, doc 11 one
    r shouldBe Map(10L -> 2L, 11L -> 1L)
  }

  test("decontaminate broadcasts the benchmark gram set") {
    val plan = TrainingData.decontaminate(corpus, "doc_id", "text", bench, "text", n = 4)
      .queryExecution.executedPlan.toString
    plan should include("BroadcastHashJoin")
  }

  test("prepare and decontaminate catch decomposed-form duplicates raw bytes miss") {
    import spark.implicits._
    // same visible text, different codepoints: U+00E9 vs e + U+0301
    val pre = "caf\u00e9"
    val dec = "cafe\u0301"
    val body = " society often gathers where people meet and talk for " +
      "hours about the day"
    val docs = Seq((1L, "the " + pre + body), (2L, "the " + dec + body))
      .toDF("doc_id", "text")
    // raw bytes differ — a byte-keyed dedup would keep both
    docs.select(md5(col("text"))).distinct().count() shouldBe 2L
    // prepare's NFC-before-digest keeps exactly one survivor
    val out = TrainingData.prepare(docs, "doc_id", "text",
      minQuality = 0.0, langs = Seq("en", "de", "fr", "es"), minTokens = 5)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    out shouldBe Seq(1L)
    // decontamination: the benchmark quotes the passage in DECOMPOSED
    // form, the corpus carries precomposed bytes — n-gram hashes must
    // still collide (NFC on both sides), shingles likewise
    val corpus1 = docs.filter(col("doc_id") === 1)
    val benchD = Seq((100L, "the " + dec + body)).toDF("doc_id", "text")
    val overlap = TrainingData.decontaminate(corpus1, "doc_id", "text",
      benchD, "text", n = 4).collect()
    overlap.length shouldBe 1
    overlap.head.getLong(1) should be > 0L
    val contain = TrainingData.decontaminateContainment(corpus1, "doc_id",
      "text", benchD, "doc_id", "text", shingleN = 5, threshold = 0.8)
      .collect()
    contain.length shouldBe 1
    contain.head.getDouble(2) shouldBe 1.0 +- 1e-9
  }

  test("packShards cuts by cumulative tokens; oversized doc claims its own shard") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c"),                                    // 3 tokens  → shard 0
      (2L, (1 to 12).map(i => s"w$i").mkString(" ")),   // 12 tokens → shard 0 (starts at 3)
      (3L, "x y"),                                      // starts at 15 → shard 1
      (4L, "z")                                         // starts at 17 → shard 1
    ).toDF("doc_id", "text")
    val r = TrainingData.packShards(docs, "doc_id", "text", tokenBudget = 10)
      .collect().map(row => row.getLong(0) -> (row.getLong(1), row.getLong(2))).toMap
    r shouldBe Map(1L -> (3L, 0L), 2L -> (12L, 0L), 3L -> (2L, 1L), 4L -> (1L, 1L))
  }

  test("packFoldedPairs: longest pairs with shortest, oversized pairs split") {
    import spark.implicits._
    import graft.functions.{TextFunctions => T}
    // token counts: 10, 7, 5, 3, 2 (N = 5, ranks in that order)
    val docs = Seq(
      (1L, (1 to 10).map(i => s"a$i").mkString(" ")),
      (2L, (1 to 7).map(i => s"b$i").mkString(" ")),
      (3L, (1 to 5).map(i => s"c$i").mkString(" ")),
      (4L, "d1 d2 d3"),
      (5L, "e1 e2")).toDF("doc_id", "text")
    // maxLen 12: fold pairs (10,2)=12 fits, (7,3)=10 fits, middle 5 solo
    val fit = TrainingData.packFoldedPairs(docs, "doc_id",
      T.tokenCount(col("text")), maxLen = 12L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2),
        r.getLong(3), r.getLong(4))).sortBy(_._1).toSeq
    fit shouldBe Seq(
      (2L, "1,5", 2, 12L, 0L),  // pair 1: ranks 1 & 5
      (4L, "2,4", 2, 10L, 2L),  // pair 2: ranks 2 & 4
      (6L, "3", 1, 5L, 7L))     // middle doc solo
    // maxLen 11: (10,2) no longer fits → splits into two solos
    val split = TrainingData.packFoldedPairs(docs, "doc_id",
      T.tokenCount(col("text")), maxLen = 11L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
      .sortBy(_._1).toSeq
    split.take(2) shouldBe Seq((2L, "1", 1), (3L, "5", 1))
    // conservation under any budget: every doc lands in exactly one seq
    split.flatMap(_._2.split(",")).sorted shouldBe
      Seq("1", "2", "3", "4", "5")
  }

  test("packFoldedPairs matches a sequential reference on random corpora") {
    import spark.implicits._
    import graft.functions.{TextFunctions => T}
    val rnd = new scala.util.Random(11)
    (1 to 3).foreach { trial =>
      val n = 20 + rnd.nextInt(60)
      val docs = (0 until n).map { i =>
        (i.toLong, Seq.fill(1 + rnd.nextInt(30))("w").mkString(" "))
      }
      val maxLen = 10L + rnd.nextInt(30)
      // sequential reference: sort desc by (count, then id asc), fold,
      // fit-or-split
      val byRank = docs.map { case (id, t) => (id, t.split(" ").length.toLong) }
        .sortBy { case (id, c) => (-c, id) }
      val nn = byRank.length
      val expected = (1 to (nn + 1) / 2).flatMap { pair =>
        val (idA, nA) = byRank(pair - 1)
        val other = nn + 1 - pair
        if (other == pair) Seq((pair * 2L, s"$idA", 1, nA))
        else {
          val (idB, nB) = byRank(other - 1)
          if (nA + nB <= maxLen) Seq((pair * 2L, s"$idA,$idB", 2, nA + nB))
          else Seq((pair * 2L, s"$idA", 1, nA), (pair * 2L + 1, s"$idB", 1, nB))
        }
      }.sortBy(_._1)
      val got = TrainingData.packFoldedPairs(docs.toDF("doc_id", "text"),
        "doc_id", T.tokenCount(col("text")), maxLen)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2),
          r.getLong(3))).sortBy(_._1).toSeq
      withClue(s"trial $trial (n=$n, maxLen=$maxLen): ") {
        got shouldBe expected
      }
    }
  }

  test("packFoldedPairs padding beats naive one-doc-per-sequence packing") {
    import spark.implicits._
    val docs = (1L to 100L)
      .map(i => (i, (1L to (i % 40 + 10)).map(j => s"t$j").mkString(" ")))
      .toDF("doc_id", "text")
    import graft.functions.{TextFunctions => T}
    val packed = TrainingData.packFoldedPairs(docs, "doc_id",
      T.tokenCount(col("text")), maxLen = 64L)
      .collect().map(r => (r.getLong(3), r.getLong(4)))
    val naivePadding = docs
      .select(org.apache.spark.sql.functions.greatest(lit(0L),
        lit(64L) - T.tokenCount(col("text")).cast("long")))
      .collect().map(_.getLong(0)).sum
    packed.map(_._2).sum should be < naivePadding / 2
  }

  test("shufflePositions is the md5-seeded permutation; deterministic, seed-sensitive") {
    import spark.implicits._
    val docs = (1L to 100L).toDF("doc_id")
    val got = TrainingData.shufflePositions(docs, "doc_id", "s1")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    got.values.toSeq.sorted shouldBe (0L until 100L)
    // matches the sequential reference: rank of md5("s1 <id>")
    val md = java.security.MessageDigest.getInstance("MD5")
    def key(id: Long) =
      md.digest(s"s1 $id".getBytes("UTF-8")).map("%02x".format(_)).mkString
    val expected = (1L to 100L).sortBy(id => (key(id), id)).zipWithIndex
      .map { case (id, i) => id -> i.toLong }.toMap
    got shouldBe expected
    TrainingData.shufflePositions(docs, "doc_id", "s1")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap shouldBe got
    TrainingData.shufflePositions(docs, "doc_id", "s2")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap should not be got
  }

  test("writeTokenShards emits chunked ids partitioned by shard, reassemblable") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "spark catalyst optimizes the declarative plan"),
      (3L, "a third document with enough words to cross a chunk boundary maybe")
    ).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft-shards").toString
    TrainingData.writeTokenShards(docs, "doc_id", "text", dir,
      tokenBudget = 20, size = 8, overlap = 2)
    val back = spark.read.parquet(dir)
    back.columns.toSet shouldBe Set("doc_id", "chunk_idx", "token_ids", "n_tokens", "shard_id")
    // shard dirs exist on disk (partitioned layout a trainer streams)
    new java.io.File(dir).listFiles.count(_.getName.startsWith("shard_id=")) should be >= 2
    // chunks of a doc reassemble to its full id sequence (overlap dropped)
    val enc = new graft.functions.Bpe.Encoder(
      graft.functions.Bpe.defaultByteMerges, byteLevel = true,
      vocab = graft.functions.Bpe.defaultByteVocab)
    docs.collect().foreach { r =>
      val id = r.getLong(0)
      val chunks = back.filter(col("doc_id") === id)
        .orderBy("chunk_idx").collect().map(_.getSeq[Int](2))
      val rebuilt = chunks.head ++ chunks.tail.flatMap(_.drop(2))
      rebuilt shouldBe enc.encodeIds(r.getString(1)).toSeq
    }
  }

  test("writeTokenShards BPE-encodes the corpus exactly once") {
    import spark.implicits._
    val docs = Seq(
      (1L, "one pass over this text"),
      (2L, "and one pass over that text"),
      (3L, "never a second encode of any doc")
    ).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft-shards1p").toString
    val before = graft.functions.Bpe.idsEvalCount.get()
    TrainingData.writeTokenShards(docs, "doc_id", "text", dir,
      tokenBudget = 10, size = 4, overlap = 1)
    // BpeIds evaluated once per doc: the persisted ids frame feeds BOTH
    // the shard packer and the chunker — the old shape paid 2 encodes
    (graft.functions.Bpe.idsEvalCount.get() - before) shouldBe 3L
  }

  test("packShardsBy cuts by the supplied count column") {
    import spark.implicits._
    val docs = Seq((1L, 5L), (2L, 5L), (3L, 5L)).toDF("doc_id", "w")
    val r = TrainingData.packShardsBy(docs, "doc_id", col("w"), tokenBudget = 10)
      .collect().map(x => x.getLong(0) -> x.getLong(2)).toMap
    r shouldBe Map(1L -> 0L, 2L -> 0L, 3L -> 1L) // cut at cumulative 10
  }

  test("dedupSpans: first block occurrence wins globally, tails kept") {
    import spark.implicits._
    // k=3 blocks; doc 1 owns "a b c" and "d e f"; doc 2 repeats "a b c"
    // (dropped) then has its own "x y z" (kept) + tail "t1 t2"; doc 3
    // repeats "a b c" at block 0 AND block 1-shifted content that is NOT
    // block-aligned ("b c a") so it survives; doc 4 is short (tail only)
    val docs = Seq(
      (1L, Option("a b c d e f")),
      (2L, Option("a b c x y z t1 t2")),
      (3L, Option("a b c b c a")),
      (4L, Option("just two")),
      (5L, Option.empty[String])
    ).toDF("doc_id", "text")
    val got = TrainingData.dedupSpans(docs, "doc_id", "text", k = 3)
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    got(1L) shouldBe Some("a b c d e f")
    got(2L) shouldBe Some("x y z t1 t2") // dup block gone, tail kept
    got(3L) shouldBe Some("b c a")       // only the block-aligned copy drops
    got(4L) shouldBe Some("just two")    // sub-k doc is pure tail
    got(5L) shouldBe None
    // in-doc repetition: the SECOND aligned copy inside one doc drops too
    val one = TrainingData.dedupSpans(
      Seq((9L, "p q r p q r")).toDF("doc_id", "text"), "doc_id", "text", 3)
      .collect().head.getString(1)
    one shouldBe "p q r"
  }

  test("decontaminateFuzzy flags near-dups of benchmark docs; exact misses them") {
    import spark.implicits._
    val evalDoc = "what is the capital of france the capital of france is paris " +
      "and it has been the capital since the tenth century more or less"
    // light edit: word swapped — exact 4-gram overlap shrinks, shingle
    // jaccard stays high
    val contaminated = evalDoc.replace("tenth", "ninth")
    val clean = "completely unrelated text about spark catalyst internals " +
      "and how adaptive query execution replans shuffles at runtime"
    val corpus = Seq((10L, contaminated), (11L, clean)).toDF("doc_id", "text")
    val bench = Seq((1L, evalDoc)).toDF("doc_id", "text")
    val got = TrainingData.decontaminateFuzzy(
      corpus, "doc_id", "text", bench, "doc_id", "text",
      threshold = 0.4, estimateSlack = 0.05)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    got.keySet shouldBe Set(10L)
    got(10L)._1 shouldBe 1L
    got(10L)._2 should be > 0.8
  }

  test("dedupSpansSliding catches off-aligned dups that tiling misses") {
    import spark.implicits._
    // doc 2 repeats doc 1's "b c d e" at an offset that is NOT a
    // multiple of k — tiling (k=4) misses it, sliding stride=1 removes it
    val docs = Seq(
      (1L, Option("a b c d e f g h")),
      (2L, Option("x b c d e f y z")),
      (3L, Option.empty[String]))
      .toDF("doc_id", "text")
    val tiled = TrainingData.dedupSpans(docs, "doc_id", "text", k = 4)
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    tiled(2L) shouldBe Some("x b c d e f y z") // recall gap: unchanged
    val slid = TrainingData.dedupSpansSliding(docs, "doc_id", "text", k = 4, stride = 1)
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    slid(1L) shouldBe Some("a b c d e f g h") // first occurrences all kept
    slid(2L) shouldBe Some("x y z")           // the repeated span is gone
    slid(3L) shouldBe None
  }

  /** Sequential reference of the sliding-window rule: first global
    * occurrence of each window (by (id, start)) wins; every other
    * occurrence marks [start, start+k); text = tokens outside marks.
    */
  private def refSliding(docs: Seq[(Long, Option[String])], k: Int, s: Int)
      : Map[Long, Option[String]] = {
    def norm(t: String): Vector[String] = {
      val tr = t.toLowerCase.trim
      if (tr.isEmpty) Vector.empty else tr.split("\\s+").toVector
    }
    val toks = docs.collect { case (id, Some(t)) => id -> norm(t) }.sortBy(_._1)
    val firsts = collection.mutable.Map.empty[String, (Long, Int)]
    for ((id, ts) <- toks; st <- 0 to ts.length - k by s)
      firsts.getOrElseUpdate(ts.slice(st, st + k).mkString(" "), (id, st))
    val rebuilt = toks.map { case (id, ts) =>
      val marked = (0 to ts.length - k by s).filter { st =>
        firsts(ts.slice(st, st + k).mkString(" ")) != ((id, st))
      }
      id -> Some(ts.zipWithIndex.collect {
        case (t, p) if !marked.exists(st => st <= p && p < st + k) => t
      }.mkString(" "))
    }.toMap
    docs.map { case (id, t) => id -> (if (t.isEmpty) None else rebuilt(id)) }.toMap
  }

  test("dedupSpansSliding matches a sequential reference on random corpora") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import spark.implicits._
    // tiny vocab forces window collisions within and across docs
    val docGen = Gen.listOfN(14, Gen.zip(
      Gen.choose(0, 24),
      Gen.listOfN(18, Gen.oneOf("a", "b", "c"))))
    (1 to 5).foreach { i =>
      val k = 2 + (i % 3)          // 2..4
      val s = 1 + (i % k)          // 1..k
      val raw = docGen(Gen.Parameters.default, Seed(4200L + i)).get
      val docs = raw.zipWithIndex.map { case ((n, ws), j) =>
        (j.toLong, Option(ws.take(n).mkString(" "))) // includes "" docs
      } :+ (99L, Option.empty[String])
      val df = docs.toDF("doc_id", "text").repartition(5)
      val got = TrainingData.dedupSpansSliding(df, "doc_id", "text", k, s)
        .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
      withClue(s"seed=${4200 + i} k=$k stride=$s") {
        got shouldBe refSliding(docs, k, s)
      }
    }
  }

  test("dedupSpansIncremental equals the full rebuild restricted to new ids") {
    import spark.implicits._
    val old = Seq(
      (1L, "a b c d e f"),          // owns blocks "a b c", "d e f"
      (2L, "g h i j k l m"))        // owns "g h i", "j k l"; tail "m"
      .toDF("doc_id", "text")
    val fresh = Seq(
      (10L, "a b c x y z"),         // "a b c" owned by doc 1 → drops
      (11L, "x y z q r s"),         // "x y z" first seen in doc 10 → drops
      (12L, "d e f d e f tail"))    // both copies drop (owned by doc 1)
      .toDF("doc_id", "text")
    val idx = TrainingData.spanIndex(old, "doc_id", "text", k = 3)
    val inc = TrainingData.dedupSpansIncremental(
      fresh, "doc_id", "text", k = 3, idx)
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    inc(10L) shouldBe Some("x y z")
    inc(11L) shouldBe Some("q r s")
    inc(12L) shouldBe Some("tail")
    // equivalence with the batch rebuild over old ∪ fresh, new ids only
    val full = TrainingData.dedupSpans(old.union(fresh), "doc_id", "text", 3)
      .filter(col("doc_id") >= 10L)
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    inc shouldBe full
    // the index delta holds exactly the batch's NEW first occurrences
    val delta = TrainingData.spanIndexDelta(fresh, "doc_id", "text", 3, idx)
      .select(col("doc_id").cast("long"), col("bidx").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    delta shouldBe Set((10L, 1L), (11L, 1L)) // "x y z" @10, "q r s" @11
  }

  test("spanIndexDelete forgets victim-owned blocks (owner-forgetting)") {
    import spark.implicits._
    val old = Seq(
      (1L, "a b c d e f"),          // victim: owns "a b c", "d e f"
      (2L, "a b c g h i"))          // survivor holds "a b c" too — but
                                    // the index never stored its copy
      .toDF("doc_id", "text")
    val idx = TrainingData.spanIndex(old, "doc_id", "text", k = 3)
    val reduced = TrainingData.spanIndexDelete(idx,
      Seq(Tuple1(1L)).toDF("doc_id"), "doc_id")
    // every block doc 1 owned is gone — content evidence removed, even
    // "a b c" which doc 2 also holds (conservative under-fire)
    reduced.filter(col("doc_id") === 1L).count() shouldBe 0L
    // doc 2's own first occurrence ("g h i") survives
    reduced.count() shouldBe 1L
    // a new doc repeating a forgotten block KEEPS it; a block still
    // owned by the survivor drops
    val inc = TrainingData.dedupSpansIncremental(
      Seq((10L, "a b c g h i tail")).toDF("doc_id", "text"),
      "doc_id", "text", k = 3, reduced)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    inc(10L) shouldBe "a b c tail"
  }

  test("packTokenStream: windows tile the global doc-order token stream") {
    import spark.implicits._
    val docs = Seq(
      (3L, "the quick brown fox jumps over the lazy dog"),
      (1L, "hello world"),
      (2L, null.asInstanceOf[String]),   // null text: skipped entirely
      (7L, ""),                          // empty text: contributes one EOD
      (5L, "pack my box with five dozen liquor jugs"))
      .toDF("doc_id", "text")
    val eod = graft.functions.Bpe.defaultByteVocab.size
    val out = TrainingData.packTokenStream(docs, "doc_id", "text",
      size = 7, eodId = eod)
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1), r.getLong(2)))
      .sortBy(_._1)
    // the reference stream: each doc's ids + EOD, ascending id order
    val perDoc = docs.filter(col("text").isNotNull)
      .select(col("doc_id"),
        graft.functions.Bpe.bpeIdsBytes(col("text")).as("ids"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).sortBy(_._1)
    val stream = perDoc.flatMap { case (_, ids) => ids :+ eod }.toSeq
    out.map(_._1).toSeq shouldBe (0L until out.length.toLong)
    out.flatMap(_._2).toSeq shouldBe stream           // exact tiling
    out.dropRight(1).foreach(_._3 shouldBe 7L)        // full windows
    out.last._3 shouldBe (stream.length - 7L * (out.length - 1))
    out.foreach(w => w._3 shouldBe w._2.length.toLong)
  }

  test("cdcChunks rejects windows past the exact-64-bit fold bound") {
    import spark.implicits._
    val docs = Seq((1L, "some text")).toDF("doc_id", "text")
    // w = 10 would overflow the mod-free Long fold for U+10FFFF input
    // (Σ code·31^j ≈ 3e19 > 2^63), silently downgrading the documented
    // exact-replay contract to two's-complement congruence
    val e = intercept[IllegalArgumentException] {
      TrainingData.cdcChunks(docs, "doc_id", "text", w = 10)
    }
    e.getMessage should include("[2, 9]")
    TrainingData.cdcChunks(docs, "doc_id", "text", w = 9).collect() // boundary ok
  }

  test("cdcChunks: chunks reassemble the doc and boundaries anchor to content") {
    import spark.implicits._
    val body = "the quick brown fox jumps over the lazy dog and then " +
      "runs far away into the deep dark forest tonight while owls watch " +
      "silently from the tall old trees near the cold riverbank"
    val docs = Seq(
      (1L, body),
      (2L, "XX " + body),   // 3-char prefix insertion
      (3L, "")).toDF("doc_id", "text")
    val out = TrainingData.cdcChunks(docs, "doc_id", "text",
      w = 8, maskBits = 4)
    val rows = out.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
    // empty docs emit nothing
    rows.map(_._1).toSet shouldBe Set(1L, 2L)
    // per-doc: contiguous 0-based chunk_idx and lengths summing to the
    // normalized doc length (chunks partition the text exactly)
    Seq(1L, 2L).foreach { id =>
      val cs = rows.filter(_._1 == id).sortBy(_._2)
      cs.map(_._2).toSeq shouldBe cs.indices.toSeq
      val normLen = id match { case 1L => body.length; case _ => body.length + 3 }
      cs.map(_._3).sum shouldBe normLen
    }
    // the CDC property: after a PREFIX insertion the boundary stream
    // re-synchronizes, so all but the first chunk(s) are byte-identical —
    // block tiling at any fixed size would re-align every block
    val md1 = rows.filter(_._1 == 1L).map(_._4).toSet
    val md2 = rows.filter(_._1 == 2L).map(_._4).toSet
    val shared = md1.intersect(md2).size
    shared should be >= md1.size - 1
    assert(md1.size > 2, "fixture must produce several chunks")
  }

  test("decontaminateContainment catches a quoted passage Jaccard cannot") {
    import spark.implicits._
    import graft.functions.ArrayOps
    val passage = "what is the capital of france the answer is paris"
    val filler = (1 to 40).map(i => s"unrelated training sentence number $i").mkString(" ")
    val corpus = Seq(
      (1L, filler + " " + passage + " " + filler), // quotes the eval doc
      (2L, filler)).toDF("doc_id", "text")
    val evalSet = Seq((100L, passage)).toDF("eval_id", "text")
    val r = TrainingData.decontaminateContainment(corpus, "doc_id", "text",
      evalSet, "eval_id", "text", shingleN = 5, threshold = 0.9)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getDouble(2)))
    r.map(t => (t._1, t._2)).toSeq shouldBe Seq((1L, 100L))
    r.head._3 should be >= 0.9
    // the SAME pair under symmetric Jaccard sits far below any usable
    // threshold — the asymmetric measure is the point
    def sh(s: String) = Seq(s).toDF("t")
      .select(ArrayOps.shingleHashes(
        regexp_replace(trim(lower(col("t"))), "\\s+", " "), 5))
      .head().getSeq[Long](0).toSet
    val e = sh(passage); val d = sh(filler + " " + passage + " " + filler)
    val jac = e.intersect(d).size.toDouble / e.union(d).size
    jac should be < 0.25
  }

  test("cdcDedup: first doc keeps everything, an exact dup keeps nothing") {
    import spark.implicits._
    val body = "the quick brown fox jumps over the lazy dog and then " +
      "runs far away into the deep dark forest tonight while owls watch"
    val docs = Seq(
      (1L, body),
      (2L, body),            // exact dup: every chunk first-seen in doc 1
      (3L, "entirely different content with zero overlap whatsoever here " +
        "nothing shared between documents at all in any chunk"))
      .toDF("doc_id", "text")
    val r = TrainingData.cdcDedup(docs, "doc_id", "text",
      w = 8, maskBits = 4)
      .collect()
      .map(x => x.getLong(0) ->
        ((x.getLong(1), x.getLong(2), x.getString(3)))).toMap
    r.keySet shouldBe Set(1L, 2L, 3L)
    // doc 1 keeps all chunks and reassembles to its own normalized text
    val (n1, k1, m1) = r(1L)
    k1 shouldBe n1
    val norm = body // already lowercase single-spaced
    m1 shouldBe java.security.MessageDigest.getInstance("MD5")
      .digest(norm.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // doc 2 loses every chunk to doc 1 → empty reassembly
    val (n2, k2, m2) = r(2L)
    n2 shouldBe n1
    k2 shouldBe 0L
    m2 shouldBe java.security.MessageDigest.getInstance("MD5")
      .digest(Array.empty[Byte]).map("%02x".format(_)).mkString
    // unrelated doc untouched
    val (n3, k3, _) = r(3L)
    k3 shouldBe n3
  }

  test("cdcDedupIncremental equals the full rebuild restricted to the new batch") {
    import spark.implicits._
    val body = "the quick brown fox jumps over the lazy dog and then " +
      "runs far away into the deep dark forest tonight while owls watch"
    val corpus = Seq(
      (1L, body),
      (2L, "entirely different content with zero overlap whatsoever here " +
        "nothing shared between documents at all in any chunk"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, body),                       // every chunk owned by doc 1
      (11L, "XX " + body),               // re-syncs to mostly-owned chunks
      (12L, "fresh never seen prose about sailing boats across quiet lakes " +
        "under pale morning light with gulls overhead"),
      (13L, "fresh never seen prose about sailing boats across quiet lakes " +
        "under pale morning light with gulls overhead")) // in-batch dup of 12
      .toDF("doc_id", "text")
    val index = TrainingData.cdcIndex(corpus, "doc_id", "text",
      w = 8, maskBits = 4)
    val inc = TrainingData.cdcDedupIncremental(batch, "doc_id", "text",
        w = 8, maskBits = 4, index)
      .collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getString(3)))
      .toSet
    // the incremental contract: batch result == full-corpus rebuild
    // restricted to the new ids (existing ids sort before new ids)
    val full = TrainingData.cdcDedup(corpus.union(batch), "doc_id", "text",
        w = 8, maskBits = 4)
      .filter(col("doc_id") >= 10)
      .collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getString(3)))
      .toSet
    inc shouldBe full
    val byId = inc.map(r => r._1 -> ((r._2, r._3))).toMap
    byId(10L)._2 shouldBe 0L                 // exact dup loses everything
    byId(12L)._2 shouldBe byId(12L)._1       // fresh doc keeps all chunks
    byId(13L)._2 shouldBe 0L                 // in-batch dup loses to 12
    // the delta holds exactly the batch's new-vocabulary winners: no
    // digest already in the corpus index, every kept chunk present
    val delta = TrainingData.cdcIndexDelta(batch, "doc_id", "text",
      w = 8, maskBits = 4, existingIndex = index)
    delta.join(index, Seq("chunk_md5"), "left_semi").count() shouldBe 0L
    delta.filter(col("doc_id") === 13L).count() shouldBe 0L // 12 owns them
  }

  test("bm25FromIndex: bit-identical to direct bm25, appends fold exactly, probe prunes") {
    import spark.implicits._
    val mk = (id: Long, t: String) => (id, t)
    val base = Seq(
      mk(1L, "spark spark spark common common common common"),
      mk(2L, "vector common common common common common common"),
      mk(3L, "common common common common common common common"),
      mk(4L, "")).toDF("doc_id", "text")
    val extra = Seq(
      mk(10L, "spark vector spark common words appear here too"),
      mk(11L, "nothing relevant in this one at all")).toDF("doc_id", "text")
    val q = Seq("spark", "vector", "absentterm")
    val dir = java.nio.file.Files.createTempDirectory("bm25idx").toString
    TrainingData.bm25IndexWrite(base, "doc_id", "text", dir, nBuckets = 16)
    // n_buckets is frozen in the index meta: probe and append read it
    // from there (a caller-supplied mismatch would silently drop postings)
    spark.read.parquet(s"$dir/meta").head().getAs[Int]("n_buckets") shouldBe 16
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // probe == direct scan, bit-for-bit (same scoring tail, exact folds)
    rows(TrainingData.bm25FromIndex(spark, dir, "doc_id", q)) shouldBe
      rows(TrainingData.bm25(base, "doc_id", "text", q))
    // append: df sums across batch rows, stats fold by exact longs —
    // the probe must now equal the direct scan over the UNION (doc 10
    // changes 'spark'/'vector' df AND avgdl, so every score moves)
    TrainingData.bm25IndexAppend(extra, "doc_id", "text", dir)
    rows(TrainingData.bm25FromIndex(spark, dir, "doc_id", q)) shouldBe
      rows(TrainingData.bm25(base.union(extra), "doc_id", "text", q))
    // the probe partition-prunes the postings tree to its terms' buckets
    val plan = TrainingData.bm25FromIndex(spark, dir, "doc_id", Seq("spark"))
      .queryExecution.executedPlan.toString
    plan should include("PartitionFilters")
    plan should include("tb")
  }

  test("bm25TopKJoin: per-query scores equal the single probe; ranks are deterministic") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spark spark spark common common common common"),
      (2L, "vector common common common common common common"),
      (3L, "common common common common common common common"),
      (4L, "spark vector common words appear here too"),
      (5L, "")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("bm25join").toString
    TrainingData.bm25IndexWrite(docs, "doc_id", "text", dir, nBuckets = 16)
    val queries = Seq(
      ("a", "spark vector spark"), // duplicate term counts once
      ("b", "common"),
      ("c", "absentterm another")) // all-miss query: no rows
      .toDF("qid", "qtext")
    val got = TrainingData.bm25TopKJoin(
      spark, dir, queries, "qid", "qtext", "doc_id", k = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getLong(4))).toSet
    // each query's (doc, hits, score) rows == its single probe's top-2
    // by (score desc, id asc) — the shared-tail bit-identity contract
    def single(terms: Seq[String], k: Int) =
      TrainingData.bm25FromIndex(spark, dir, "doc_id", terms)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(t => (-t._3, t._1)).take(k).zipWithIndex
        .map { case ((id, h, s), i) => (id, h, s, i + 1L) }.toSet
    got.filter(_._1 == "a").map(t => (t._2, t._3, t._4, t._5)) shouldBe
      single(Seq("spark", "vector"), 2)
    got.filter(_._1 == "b").map(t => (t._2, t._3, t._4, t._5)) shouldBe
      single(Seq("common"), 2)
    got.count(_._1 == "c") shouldBe 0
    // duplicate-terms-count-once holds ACROSS rows sharing a qid too:
    // two 'a' rows whose union is {spark, vector} must score exactly
    // like the single two-term query (a row-local array_distinct alone
    // would double-count 'spark' here)
    val split = TrainingData.bm25TopKJoin(spark, dir,
      Seq(("a", "spark vector"), ("a", "spark")).toDF("qid", "qtext"),
      "qid", "qtext", "doc_id", k = 2)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getLong(4))).toSet
    split shouldBe single(Seq("spark", "vector"), 2)
  }

  test("bm25IndexDelete: probe equals direct bm25 over survivors; compact is physical") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spark spark spark common common common common"),
      (2L, "vector common common common common common common"),
      (3L, "common common common common common common common"),
      (4L, ""), // token-less doc: its stats live only in doclens
      (5L, "spark vector spark common words appear here too"),
      (6L, "nothing relevant in this one at all")).toDF("doc_id", "text")
    val q = Seq("spark", "vector", "absentterm")
    val dir = java.nio.file.Files.createTempDirectory("bm25del").toString
    TrainingData.bm25IndexWrite(docs, "doc_id", "text", dir, nBuckets = 16)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    def direct(ids: Long*) = rows(TrainingData.bm25(
      docs.filter(!col("doc_id").isin(ids: _*)), "doc_id", "text", q))
    // delete a scoring doc AND the token-less doc: df ('spark' loses a
    // doc), N, and avgdl all move — every surviving score changes
    TrainingData.bm25IndexDelete(Seq(1L, 4L).toDF("doc_id"), "doc_id", dir)
    rows(TrainingData.bm25FromIndex(spark, dir, "doc_id", q)) shouldBe
      direct(1L, 4L)
    // double-delete (1 again) plus a fresh victim: counted once each
    TrainingData.bm25IndexDelete(Seq(1L, 2L).toDF("doc_id"), "doc_id", dir)
    rows(TrainingData.bm25FromIndex(spark, dir, "doc_id", q)) shouldBe
      direct(1L, 2L, 4L)
    // deleting an id the index never held is a no-op (no delete batch)
    TrainingData.bm25IndexDelete(Seq(99L).toDF("doc_id"), "doc_id", dir)
    rows(TrainingData.bm25FromIndex(spark, dir, "doc_id", q)) shouldBe
      direct(1L, 2L, 4L)
    // compaction: postings/doclens physically lose the victims, df and
    // stats are recomputed from ground truth, the channel is gone, and
    // the probe is unchanged
    TrainingData.bm25IndexCompact(spark, dir)
    spark.read.parquet(s"$dir/postings")
      .filter(col("doc_id").isin(1L, 2L)).count() shouldBe 0L
    spark.read.parquet(s"$dir/doclens")
      .filter(col("doc_id").isin(1L, 2L, 4L)).count() shouldBe 0L
    new java.io.File(s"$dir/deletes").exists() shouldBe false
    rows(TrainingData.bm25FromIndex(spark, dir, "doc_id", q)) shouldBe
      direct(1L, 2L, 4L)
    // post-compaction the id is re-appendable (the re-insert contract)
    TrainingData.bm25IndexAppend(
      Seq((1L, "spark spark spark common common common common"))
        .toDF("doc_id", "text"), "doc_id", "text", dir)
    rows(TrainingData.bm25FromIndex(spark, dir, "doc_id", q)) shouldBe
      direct(2L, 4L)
    // an index built before the doclens table refuses to delete AND to
    // append (an append would create a partial doclens, silently
    // no-opping base-id deletes and corrupting a later compaction's
    // recomputed stats)
    val old = java.nio.file.Files.createTempDirectory("bm25old").toString
    TrainingData.bm25IndexWrite(docs, "doc_id", "text", old, nBuckets = 4)
    val fs = new org.apache.hadoop.fs.Path(old)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$old/doclens"), true)
    val e = intercept[IllegalArgumentException] {
      TrainingData.bm25IndexDelete(Seq(1L).toDF("doc_id"), "doc_id", old)
    }
    e.getMessage should include("doclens")
    intercept[IllegalArgumentException] {
      TrainingData.bm25IndexAppend(
        Seq((50L, "more text")).toDF("doc_id", "text"), "doc_id", "text", old)
    }.getMessage should include("doclens")
  }

  test("bm25: deleting every doc then compacting leaves a probeable empty index") {
    import spark.implicits._
    val docs = Seq((1L, "spark common"), (2L, "vector common"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("bm25empty").toString
    TrainingData.bm25IndexWrite(docs, "doc_id", "text", dir, nBuckets = 4)
    TrainingData.bm25IndexDelete(Seq(1L, 2L).toDF("doc_id"), "doc_id", dir)
    val q = Seq("spark", "vector")
    TrainingData.bm25FromIndex(spark, dir, "doc_id", q).count() shouldBe 0L
    // compaction empties every posting bucket; the probe must answer
    // empty, not crash on schema inference over zero partitions
    TrainingData.bm25IndexCompact(spark, dir)
    TrainingData.bm25FromIndex(spark, dir, "doc_id", q).count() shouldBe 0L
  }

  test("decontaminateFromIndex: identical to direct, appends fold, probe prunes") {
    import spark.implicits._
    val evalDoc = "the quick brown fox jumps over the lazy dog today"
    val base = Seq(
      (10L, "something about the quick brown fox jumps over fences"),
      (11L, "entirely unrelated content with no shared phrases here at all"),
      (12L, "")).toDF("doc_id", "text")
    val extra = Seq(
      (20L, "another doc where the quick brown fox jumps over the lazy dog"),
      (21L, "more unrelated filler text nothing matches this one"))
      .toDF("doc_id", "text")
    val bench = Seq((0L, evalDoc)).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("dcidx").toString
    TrainingData.decontamIndexWrite(base, "doc_id", "text", dir, n = 4)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // probe == direct scan over the indexed corpus
    rows(TrainingData.decontaminateFromIndex(bench, "text", dir, "doc_id")) shouldBe
      rows(TrainingData.decontaminate(base, "doc_id", "text", bench, "text", n = 4))
    // append folds: the probe now equals the direct scan over the union
    TrainingData.decontamIndexAppend(extra, "doc_id", "text", dir)
    val afterAppend =
      rows(TrainingData.decontaminateFromIndex(bench, "text", dir, "doc_id"))
    afterAppend shouldBe rows(TrainingData.decontaminate(
      base.union(extra), "doc_id", "text", bench, "text", n = 4))
    afterAppend.map(_._1) should contain(20L) // the appended overlap doc
    // the gram width is frozen in the index meta, not a caller argument:
    // the probe reuses n = 4 even though the default is 8
    spark.read.parquet(s"$dir/meta").head().getAs[Int]("n") shouldBe 4
    // the probe statically prunes the grams tree to its buckets
    val plan = TrainingData.decontaminateFromIndex(bench, "text", dir, "doc_id")
      .queryExecution.executedPlan.toString
    plan should include("PartitionFilters")
    plan should include("gb")
  }

  test("decontaminateContainmentFromIndex: identical to direct, appends fold") {
    import spark.implicits._
    val passage = "the secret benchmark answer is forty two exactly"
    val base = Seq(
      (10L, s"a very long training document that quotes $passage inside " +
        "a much larger body of unrelated prose about many other topics"),
      (11L, "nothing in common with the benchmark in this one at all"))
      .toDF("doc_id", "text")
    val extra = Seq(
      (20L, s"another later crawl document containing $passage verbatim"))
      .toDF("doc_id", "text")
    val bench = Seq((0L, passage)).toDF("eval_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("ctidx").toString
    TrainingData.containmentIndexWrite(base, "doc_id", "text", dir, shingleN = 8)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    rows(TrainingData.decontaminateContainmentFromIndex(
      bench, "eval_id", "text", dir, "doc_id", threshold = 0.8)) shouldBe
      rows(TrainingData.decontaminateContainment(base, "doc_id", "text",
        bench, "eval_id", "text", shingleN = 8, threshold = 0.8))
    // append folds: the probe equals the direct scan over the union and
    // picks up the appended containing doc
    TrainingData.containmentIndexAppend(extra, "doc_id", "text", dir)
    val after = rows(TrainingData.decontaminateContainmentFromIndex(
      bench, "eval_id", "text", dir, "doc_id", threshold = 0.8))
    after shouldBe rows(TrainingData.decontaminateContainment(
      base.union(extra), "doc_id", "text", bench, "eval_id", "text",
      shingleN = 8, threshold = 0.8))
    after.map(_._1) should contain allOf (10L, 20L)
  }

  test("cdcChunks plan is scan-side only — no shuffle") {
    import spark.implicits._
    val docs = (0L until 50L).map(i => (i, s"some text $i " * 10)).toDF("doc_id", "text")
    val plan = TrainingData.cdcChunks(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    plan should not include "Exchange"
    plan should include("Generate")
  }

  test("bm25: by-hand score, rarity ordering, absent terms ignored") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spark spark spark common common common common"),
      (2L, "vector common common common common common common"),
      (3L, "common common common common common common common"),
      (4L, "")).toDF("doc_id", "text")
    val got = TrainingData.bm25(docs, "doc_id", "text",
      query = Seq("spark", "vector", "absentterm"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    // only docs hitting a query term appear; the empty and common-only
    // docs do not
    got.keySet shouldBe Set(1L, 2L)
    got(1L)._1 shouldBe 1L
    got(2L)._1 shouldBe 1L
    // by hand: N=4, avgdl=(7+7+7+0)/4=5.25, df(spark)=df(vector)=1,
    // idf=ln(1+(4-1+0.5)/1.5); tf(spark@1)=3, tf(vector@2)=1, dl=7
    def s(tf: Double): Double = {
      val idf = math.log(1 + (4 - 1 + 0.5) / 1.5)
      val raw = idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * 7 / 5.25))
      math.rint(raw * 1e6) / 1e6
    }
    got(1L)._2 shouldBe s(3) +- 1e-6
    got(2L)._2 shouldBe s(1) +- 1e-6
    // higher tf at equal idf/dl ranks higher
    got(1L)._2 should be > got(2L)._2
  }

  test("bigramLogProb: interpolated transition probabilities, by hand") {
    import spark.implicits._
    // corpus: uni a=3 b=3 c=1 (N=7); bigrams (a,b)=3, (b,a)=1
    val docs = Seq((1L, "a b a b"), (2L, "a b"), (3L, "c"))
      .toDF("doc_id", "text")
    val got = TrainingData.bigramLogProb(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
    val lpAB = math.log(0.5 * 3 / 3 + 0.5 * 3 / 7)
    val lpBA = math.log(0.5 * 1 / 3 + 0.5 * 3 / 7)
    got(1L)._1 shouldBe ((lpAB + lpBA + lpAB) / 3) +- 1e-9
    got(1L)._2 shouldBe 3L
    got(2L)._1 shouldBe lpAB +- 1e-9
    got.contains(3L) shouldBe false // no bigrams in a 1-token doc
    // the order-2 property: against a corpus of fluent docs, a doc of
    // the same words in shuffled order has RARE transitions and scores
    // lower — invisible to the unigram model (identical word counts)
    val corpus = (1L to 5L).map(i => (i, "the cat sat on the mat")) :+
      (9L, "mat the on sat the cat")
    val two = TrainingData.bigramLogProb(
      corpus.toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    two(1L) should be > two(9L)
  }

  test("dedupLines: first occurrence wins, blanks stay, order preserved") {
    import spark.implicits._
    val docs = Seq(
      (1L, Option("intro line\nshared footer\n\nunique one")),
      (2L, Option("second doc\nshared footer\nunique two")), // footer deduped
      (3L, Option("intro line")),                            // whole doc deduped
      (4L, Option.empty[String])                             // null stays null
    ).toDF("doc_id", "text").repartition(3)
    val r = graft.operators.TrainingData.dedupLines(docs, "doc_id", "text")
      .collect().map(x => x.getLong(0) -> Option(x.getString(1))).toMap
    r(1L) shouldBe Some("intro line\nshared footer\n\nunique one")
    r(2L) shouldBe Some("second doc\nunique two")
    r(3L) shouldBe None // its only line lives in doc 1
    r(4L) shouldBe None
  }

  test("boilerplateScore: corpus-common n-grams dominate template docs") {
    import spark.implicits._
    val boiler = "all rights reserved click here to subscribe"
    val docs = ((1L to 10L).map(i => (i, s"$boiler unique words $i alpha$i beta$i")) :+
      ((99L, "totally fresh content with no shared phrases at all"))).toDF("doc_id", "text")
    val r = TrainingData.boilerplateScore(docs, "doc_id", "text", n = 3, minDf = 10)
      .collect().map(row => (row.getLong(0), (row.getLong(1), row.getLong(2),
        row.getDouble(3)))).toMap
    // template docs: 12 tokens → 10 grams, 7 inside the shared prefix
    r(1L) shouldBe ((10L, 7L, 0.7))
    r(5L) shouldBe ((10L, 7L, 0.7))
    // fresh doc: all grams unique in the corpus
    r(99L) shouldBe ((7L, 0L, 0.0))
  }

  test("chunkTokens: overlapping windows, short last chunk, short docs whole") {
    import spark.implicits._
    val docs = Seq(
      (1L, (1 to 10).map(i => s"w$i").mkString(" ")), // 10 tokens
      (2L, "a b c"),                                  // shorter than size
      (3L, ""), (4L, null.asInstanceOf[String])       // no chunks
    ).toDF("doc_id", "text")
    val r = TrainingData.chunkTokens(docs, "doc_id", "text", size = 8, overlap = 2)
      .collect().map(x => (x.getLong(0), x.getLong(1)) ->
        ((x.getString(2), x.getLong(3)))).toMap
    r.keySet shouldBe Set((1L, 0L), (1L, 1L), (2L, 0L))
    r((1L, 0L)) shouldBe (("w1 w2 w3 w4 w5 w6 w7 w8", 8L))
    // stride 6: second chunk starts at token 7, runs to the end (4 tokens)
    r((1L, 1L)) shouldBe (("w7 w8 w9 w10", 4L))
    r((2L, 0L)) shouldBe (("a b c", 3L))
  }

  test("perplexityBuckets: tercile-ish split + per-bucket md5 sampling") {
    import spark.implicits._
    // doc i: i copies of a corpus-common token + (101-i) singletons, so
    // avg_logprob increases strictly with i — bucket boundaries land at
    // i=25/75 (q1/q3 interpolate between adjacent distinct scores)
    val docs = (1L to 100L).map { i =>
      (i, (Seq.fill(i.toInt)("common") ++
        (1 to (101 - i.toInt)).map(j => s"rare_${i}_$j")).mkString(" "))
    }.toDF("doc_id", "text")
    val out = TrainingData.perplexityBuckets(docs, "doc_id", "text",
        headFraction = 1.0, middleFraction = 0.5, tailFraction = 0.1)
      .select("doc_id", "bucket").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // independent md5-bucket replica (first two digest bytes, big-endian)
    def md5val(id: Long): Int = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      ((d(0) & 0xFF) << 8) | (d(1) & 0xFF)
    }
    val expected =
      (76L to 100L).map(_ -> "head") ++
      (26L to 75L).filter(md5val(_) < 32768).map(_ -> "middle") ++
      (1L to 25L).filter(md5val(_) < 6553).map(_ -> "tail")
    out shouldBe expected.toMap
  }

  test("prepareStream filters and dedups a live feed like the batch chain") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import java.sql.Timestamp
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val good = "the quick brown fox jumps over the lazy dog and it is a fine " +
      "day for running in the sun with friends and the weather is good"
    val in = MemoryStream[(Long, Timestamp, String)]
    val t0 = Timestamp.valueOf("2026-01-01 00:00:00")
    in.addData(
      (1L, t0, good),
      (2L, new Timestamp(t0.getTime + 1000), good),      // dup content → dropped
      (3L, new Timestamp(t0.getTime + 2000), "kurz und klein und so")) // not en / low
    val out = TrainingData.prepareStream(
      in.toDF().toDF("doc_id", "ts", "text"),
      "doc_id", "text", "ts", "10 minutes",
      minQuality = 0.5, langs = Seq("en"), minTokens = 10)
    val q = out.writeStream.format("memory").queryName("prep_stream").start()
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("prep_stream").collect()
    rows.map(_.getAs[Long]("doc_id")).toSeq shouldBe Seq(1L)
    rows.head.getAs[String]("lang") shouldBe "en"
  }

  test("bm25IndexAppend refuses an id with a pending delete; after the " +
      "compaction the re-appended doc scores like a fresh index") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spark spark common common"),
      (2L, "vector common common common"),
      (3L, "spark vector words here")).toDF("doc_id", "text")
    val q = Seq("spark", "vector")
    val dir = java.nio.file.Files.createTempDirectory("bm25re").toString
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    TrainingData.bm25IndexWrite(docs, "doc_id", "text", dir, nBuckets = 4)
    TrainingData.bm25IndexDelete(Seq(1L).toDF("doc_id"), "doc_id", dir)
    val back = Seq((1L, "spark vector vector")).toDF("doc_id", "text")
    // accepted, the new postings would stay hidden behind the pending
    // delete, and the compaction would then delete them too
    intercept[IllegalArgumentException] {
      TrainingData.bm25IndexAppend(back, "doc_id", "text", dir)
    }.getMessage should include("PENDING deletions")
    TrainingData.bm25PresentIds(spark, dir).collect().map(_.getLong(0))
      .toSet shouldBe Set(2L, 3L)
    TrainingData.bm25IndexCompact(spark, dir)
    TrainingData.bm25IndexAppend(back, "doc_id", "text", dir)
    val now = docs.filter(col("doc_id") =!= 1L).unionByName(back)
    rows(TrainingData.bm25FromIndex(spark, dir, "doc_id", q)) shouldBe
      rows(TrainingData.bm25(now, "doc_id", "text", q))
    TrainingData.bm25PresentIds(spark, dir).collect().map(_.getLong(0))
      .toSet shouldBe Set(1L, 2L, 3L)
  }
}
