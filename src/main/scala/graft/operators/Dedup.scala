package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Frames
import graft.functions.{ArrayOps, TextFunctions => T, VectorFunctions => V}

/** Deduplication operators for LLM training-data pipelines — the
  * north-star extension (BASELINE.json) beyond the reference's surface.
  *
  * Scale design (the point at 100 TB):
  *  - Exact dedup groups on a fixed-width digest of the content, never on
  *    the content itself — the shuffle moves 16-byte keys, not documents.
  *  - Near-dup never does an all-pairs join. MinHash/SimHash/hyperplane
  *    LSH bucket first (narrow, codegen'd projections), then join only
  *    within buckets; candidate verification touches a tiny fraction of
  *    the cross product.
  *  - Pair generation uses a self-join on the bucket key with `id < id`
  *    so each pair appears once and the join is a plain shuffled
  *    hash/sort-merge join on a well-distributed key. Oversized buckets
  *    (degenerate shingles) can be capped upstream by filtering bucket
  *    counts — see `candidatePairs`.
  */
object Dedup {

  /** The ONE content-digest construction, shared by [[exact]] and
    * [[incrementalExact]]: digests persisted by one must keep matching
    * the other byte-for-byte across releases, so the expression exists
    * exactly once. NUL ("\\u0000") joins columns; "\\u0001" marks NULL so
    * NULL and empty content differ and values cannot slide across column
    * positions.
    */
  private def contentDigest(contentCols: Seq[String]): Column =
    md5(concat_ws("\u0000",
      contentCols.map(c => coalesce(col(c), lit("\u0001"))): _*))

  /** Exact dedup on a content digest. Returns one survivor per distinct
    * content (the minimum id — deterministic, unlike dropDuplicates) plus
    * the duplicate count.
    */
  def exact(df: DataFrame, idCol: String, contentCols: Seq[String]): DataFrame = {
    df.groupBy(contentDigest(contentCols).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))
  }

  /** Survivors only — the projection a pipeline would continue with. */
  def exactSurvivors(df: DataFrame, idCol: String, contentCols: Seq[String]): DataFrame = {
    val keep = exact(df, idCol, contentCols).select(col("keep_id").as(idCol))
    df.join(keep, Seq(idCol), "left_semi")
  }

  /** Incremental exact dedup — the shape production pipelines actually
    * run: a NEW batch deduped against itself and against the digests of
    * everything already ingested, without touching the existing corpus's
    * text. Returns the new-batch survivors (min id per new content that
    * doesn't collide with an existing digest).
    *
    * Scale note: `existingDigests` is the 16-byte digest column persisted
    * from prior runs (`exact(...).select("content_hash")`) — the
    * anti-join shuffles digests only, never documents, and a
    * bucketed/partitioned digest table makes it co-located.
    */
  def incrementalExact(newDocs: DataFrame, idCol: String,
      contentCols: Seq[String], existingDigests: DataFrame,
      digestCol: String = "content_hash"): DataFrame = {
    val keepIds = newDocs
      .select(col(idCol), contentDigest(contentCols).as("__digest"))
      .groupBy("__digest").agg(min(col(idCol)).as(idCol))
      .join(existingDigests.select(col(digestCol).as("__digest")),
        Seq("__digest"), "left_anti")
      .select(idCol)
    newDocs.join(keepIds, Seq(idCol), "left_semi")
  }

  /** Candidate pairs from an exploded (id, bucket) relation: self-join on
    * bucket, `a.id < b.id`, distinct. `maxBucketSize` drops degenerate
    * buckets (a bucket of size s yields s²/2 pairs — one hot bucket can
    * dominate the whole job at scale; standard LSH practice is to cap).
    *
    */
  private def candidatePairs(buckets: DataFrame, idCol: String,
      maxBucketSize: Int = 1000): DataFrame = {
    // bucket sizes via groupBy (partial agg, no sort) + a broadcast-sized
    // join back — cheaper than a count() window, which shuffle-SORTS
    // every (bucket, id) row
    val keep = buckets.groupBy("bucket").agg(count(lit(1)).as("__n"))
      .filter(col("__n") <= maxBucketSize).select("bucket")
    val sized = buckets.join(keep, Seq("bucket"))
    val a = sized.select(col(idCol).as("id_a"), col("bucket"))
    val b = sized.select(col(idCol).as("id_b"), col("bucket"))
    a.join(b, Seq("bucket")).filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** MinHash + LSH near-dup: shingle → k-minhash signature → band →
    * bucket-join → signature-estimate prefilter → exact Jaccard on the
    * survivors.
    *
    * Scale shape: shingles are hashed to 64-bit longs once (set identity
    * preserved up to 2^-64 collisions), so every later stage moves and
    * compares fixed-width ints, not strings. The expensive exact verify
    * joins the full shingle-hash arrays ONLY for pairs whose 16-long
    * signatures estimate `jaccard >= threshold - slack` — at a 0.4
    * threshold that cuts the verify join by ~15× versus verifying every
    * band collision (band FPs are mostly far pairs).
    *
    * Returns (id_a, id_b, jaccard) for pairs with jaccard >= threshold.
    * `idCol` must be long-castable (the one-shuffle pair generator works
    * on primitive ids; hash string ids to 64-bit first if needed).
    */
  def minhashLsh(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 16, bands: Int = 4, shingleN: Int = 5,
      threshold: Double = 0.5, estimateSlack: Double = 0.25,
      maxBucketSize: Int = 1000): DataFrame = {
    // the one-shuffle pair generator works on primitive longs; a silent
    // cast of string ids could both NPE and collapse distinct ids
    require(Set("ByteType", "ShortType", "IntegerType", "LongType")
      .contains(df.schema(idCol).dataType.toString),
      s"minhashLsh needs an integral id column; got " +
        s"${df.schema(idCol).dataType.simpleString} — hash string ids to " +
        "64-bit (xxhash64) upstream first")
    // null text has no shingles and can never reach a positive threshold;
    // keeping such rows would thread NULL signature arrays into the
    // pair generator (NPE on the primitive compare)
    // one native pass over the normalized string (see ArrayOps.ShingleHashes),
    // RECOMPUTED per plan branch (signatures + both verify sides), not
    // checkpointed: the pass itself is a cheap scan-side projection
    // (~0.2 s at sf0.1/32), while materializing the shingle ARRAYS is a
    // multi-×-corpus block write bottlenecked on scan parallelism
    // (measured 1.5–3.5 s at sf0.1 — the r6 "tokenize twice, never store
    // the tokens" lesson; at 100 TB the arrays are several times the
    // text they came from). All three readers live inside ONE action, so
    // no concurrency/single-reader hazard.
    val shingled = df
      .filter(col(textCol).isNotNull)
      .select(col(idCol),
        ArrayOps.shingleHashes(
          regexp_replace(trim(lower(col(textCol))), "\\s+", " "), shingleN).as("sh"))
    val sig = shingled.select(col(idCol),
      V.minhashSignatureOfHashes(col("sh"), numHashes).as("sig"))
    val bucketed = sig
      .select(col(idCol), col("sig"),
        explode(V.minhashBands(col("sig"), numHashes, bands)).as("bandStruct"))
      .select(col(idCol), col("sig"),
        concat_ws(":", col("bandStruct.band"), col("bandStruct.bucket")).as("bucket"))

    // candidate generation in ONE shuffle: group by band-bucket, emit
    // pairs per bucket with the signature-agreement estimate applied
    // INLINE — a sub-estimate pair is never materialized, never joined,
    // never shuffled (the naive bucket self-join materializes every band
    // collision; on a template-heavy corpus that is ~20% of the full
    // cross product). Oversized buckets are dropped at the same point.
    // Only estimate survivors — a tiny fraction — reach the exact verify
    // join, which attaches full shingle-hash arrays (broadcast-sized per
    // id) and runs the merge-walk Jaccard.
    val estMin = math.max(0.0, threshold - estimateSlack)
    val minAgree = math.ceil(estMin * numHashes - 1e-9).toInt
    val survivors = lshCandidatePairs(bucketed, idCol, minAgree, maxBucketSize)
    val shById = shingled.select(col(idCol).as("__id"), col("sh"))
    survivors
      .join(shById.select(col("__id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(shById.select(col("__id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        ArrayOps.jaccardSortedLong(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Candidate pairs from an (id, sig, bucket) relation in one shuffle:
    * group by bucket, generate `id_a < id_b` pairs per bucket, keep only
    * pairs whose signatures agree on >= `minAgree` of the k positions.
    * Buckets larger than `maxBucketSize` are dropped whole (degenerate
    * buckets are quadratic; standard LSH capping). State per group is
    * bounded by the cap, so a skewed bucket cannot blow an executor.
    *
    * When the relation carries a `__new` flag (incremental mode), only
    * pairs with at least one new side are emitted — existing×existing
    * pairs were found in prior runs.
    */
  private def lshCandidatePairs(bucketed: DataFrame, idCol: String,
      minAgree: Int, maxBucketSize: Int,
      incremental: Boolean = false): DataFrame = {
    val spark = bucketed.sparkSession
    import spark.implicits._
    val flagged =
      if (incremental) bucketed.select(col("bucket"), col(idCol).cast("long"),
        col("sig"), col("__new"))
      else bucketed.select(col("bucket"), col(idCol).cast("long"),
        col("sig"), lit(true).as("__new"))
    flagged.as[(String, Long, Array[Long], Boolean)]
      .groupByKey(_._1)
      .flatMapGroups { (_, it) =>
        val m = it.take(maxBucketSize + 1).toArray
        if (m.length > maxBucketSize) Iterator.empty
        else {
          val out = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
          var i = 0
          while (i < m.length) {
            var j = i + 1
            while (j < m.length) {
              if (m(i)._4 || m(j)._4) {
                val sa = m(i)._3; val sb = m(j)._3
                // a persisted index probed with a different numHashes
                // must fail loudly — comparing prefixes would silently
                // collapse recall (or read past the shorter array)
                if (sa.length != sb.length) throw new IllegalStateException(
                  s"signature length mismatch in bucket (${sa.length} vs " +
                    s"${sb.length}) — index built with a different numHashes?")
                var agree = 0; var k = 0
                while (k < sa.length) { if (sa(k) == sb(k)) agree += 1; k += 1 }
                if (agree >= minAgree) {
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
      .toDF("id_a", "id_b").distinct()
  }

  /** The persistable MinHash index of a corpus: one row per (id, band)
    * with the id's full signature and shingle-hash set attached —
    * everything [[minhashLshIncremental]] needs to match FUTURE batches
    * against this corpus without re-reading its text. Write it
    * partitioned/bucketed by `bucket` and the incremental join
    * co-locates.
    */
  def minhashIndex(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 16, bands: Int = 4, shingleN: Int = 5): DataFrame = {
    val shingled = df
      .filter(col(textCol).isNotNull)
      .select(col(idCol),
        ArrayOps.shingleHashes(
          regexp_replace(trim(lower(col(textCol))), "\\s+", " "), shingleN).as("sh"))
    shingled
      .select(col(idCol), col("sh"),
        V.minhashSignatureOfHashes(col("sh"), numHashes).as("sig"))
      .select(col(idCol), col("sh"), col("sig"),
        explode(V.minhashBands(col("sig"), numHashes, bands)).as("bandStruct"))
      .select(col(idCol), col("sh"), col("sig"),
        concat_ws(":", col("bandStruct.band"), col("bandStruct.bucket")).as("bucket"))
  }

  /** DELETE (takedown) face shared by the per-id dedup indexes —
    * [[minhashIndex]], [[simhashIndex]], [[embeddingIndex]], and any
    * index whose rows are keyed by the contributing id alone: the index
    * minus every victim row, one broadcast anti-join on the bounded
    * victim list. EXACT, unlike the first-occurrence stores
    * ([[TrainingData.cdcIndexDelete]]/[[TrainingData.spanIndexDelete]]'s
    * owner-forgetting): these indexes keep EVERY id's signature/bucket
    * rows — nothing was elided in favor of an earlier owner — so
    * dropping the victims' rows yields state identical to rebuilding
    * over the survivors, and probes after the delete answer as if the
    * victims were never ingested (hash-gated by the `*_deleted`
    * oracles). No compaction or re-election step exists because none is
    * needed.
    */
  def indexDeleteById(index: DataFrame, ids: DataFrame,
      idCol: String): DataFrame =
    index.join(broadcast(ids.select(col(idCol)).distinct()),
      Seq(idCol), "left_anti")
      .select(index.columns.map(col): _*)

  /** Incremental near-dup: match a NEW batch against a persisted
    * [[minhashIndex]] and against itself, in one LSH pass — the
    * continuous-ingestion shape. Returns (id_a, id_b, jaccard) for every
    * pair involving at least one new doc; existing×existing pairs are
    * not re-derived (prior runs own them). Candidate generation,
    * capping, and verification are IDENTICAL to running [[minhashLsh]]
    * over (existing ∪ new) and keeping new-involving pairs, so recall
    * properties carry over unchanged — but the existing corpus's text is
    * never touched, only its index.
    */
  def minhashLshIncremental(newDocs: DataFrame, idCol: String, textCol: String,
      existingIndex: DataFrame, numHashes: Int = 16, bands: Int = 4,
      shingleN: Int = 5, threshold: Double = 0.5,
      estimateSlack: Double = 0.25, maxBucketSize: Int = 1000): DataFrame = {
    require(Set("ByteType", "ShortType", "IntegerType", "LongType")
      .contains(newDocs.schema(idCol).dataType.toString),
      "minhashLshIncremental needs an integral id column")
    // NOT checkpointed: the index relation repeats each doc's full
    // shingle array once PER BAND, so materializing it writes
    // bands × the shingle volume through scan-bounded partitions
    // (measured: the write dwarfs the recompute — the minhashLsh
    // `shingled` judgment, amplified 8×); the 2–3 consumer branches
    // below re-run the cheap scan-side index projection instead, all
    // inside one action
    val newIndex = minhashIndex(newDocs, idCol, textCol,
      numHashes, bands, shingleN)
    minhashLshIncrementalFromIndex(newIndex, idCol, existingIndex,
      numHashes, threshold, estimateSlack, maxBucketSize)
  }

  /** [[minhashLshIncremental]] with the new batch's index already built —
    * the seam the streaming path uses, where one [[minhashIndex]] pass
    * must serve both the probe and the index append without recomputing.
    */
  def minhashLshIncrementalFromIndex(newIndex: DataFrame, idCol: String,
      existingIndex: DataFrame, numHashes: Int, threshold: Double,
      estimateSlack: Double = 0.25, maxBucketSize: Int = 1000): DataFrame = {
    // same guard as the doc-level entry points: lshCandidatePairs works
    // on primitive longs, and a silent string cast would NPE or collapse
    // distinct ids ("07" vs "7")
    Seq(newIndex, existingIndex).foreach { idx =>
      require(Set("ByteType", "ShortType", "IntegerType", "LongType")
        .contains(idx.schema(idCol).dataType.toString),
        "minhashLshIncrementalFromIndex needs an integral id column")
    }
    val all = existingIndex
      .select(col(idCol), col("sh"), col("sig"), col("bucket"),
        lit(false).as("__new"))
      .unionByName(newIndex.withColumn("__new", lit(true)))
    val estMin = math.max(0.0, threshold - estimateSlack)
    val minAgree = math.ceil(estMin * numHashes - 1e-9).toInt
    val survivors = lshCandidatePairs(
      all.select(col(idCol), col("sig"), col("bucket"), col("__new")),
      idCol, minAgree, maxBucketSize, incremental = true)
    // one sh row per id (the index repeats sh per band), chosen
    // DETERMINISTICALLY: prefer the new batch's row for a re-ingested
    // id, break remaining ties by content hash — dropDuplicates would
    // pick per-run-arbitrarily and a replayed batch could emit
    // different pairs than its first attempt
    val pick = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__id"))
      .orderBy(col("__new").desc, xxhash64(col("sh")))
    val shById = all
      .select(col(idCol).cast("long").as("__id"), col("sh"), col("__new"))
      .withColumn("__rn", row_number().over(pick))
      .filter(col("__rn") === 1).select(col("__id"), col("sh"))
    survivors
      .join(shById.select(col("__id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(shById.select(col("__id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        ArrayOps.jaccardSortedLong(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** SimHash near-dup: 64-bit signature, bucket on `maxHamming + 1`
    * disjoint bit-range chunks (a pair within Hamming distance h of 64
    * bits differs in at most h chunks, so with h+1 chunks at least one is
    * IDENTICAL — pigeonhole; the blocked output therefore equals the
    * all-pairs `hamming <= maxHamming` set exactly, up to the bucket
    * cap), then verify Hamming on candidates.
    *
    * `kernel` "md5" makes the signature SQL-replicable (exact DuckDB
    * oracle — see [[graft.functions.ArrayOps.Md5Kernel]]); "xxhash" is
    * the fast default.
    */
  def simhash(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxBucketSize: Int = 1000,
      kernel: String = "xxhash"): DataFrame = {
    // tokens in their own projection: simhash64 references them multiple
    // times and attribute reads are free while re-tokenizing is not.
    // Null text is excluded (no signature → no pairs, like minhashLsh);
    // EMPTY text keeps its all-zero signature and pairs with other
    // empty docs.
    val sigs = df
      .filter(col(textCol).isNotNull)
      .select(col(idCol), T.normTokens(col(textCol)).as("__toks"))
      .select(col(idCol), V.simhash64(col("__toks"), kernel).as("sig"))
    // chunk boundaries floor(sigBits·c/n): widths differ by at most one
    // bit and cover the POPULATED bits disjointly for any chunk count.
    // The md5 kernel is 60-bit (bits 60-63 always 0) — chunking those
    // dead bits would give the last chunk almost no entropy, so its
    // buckets degenerate toward N²-candidate blobs and can overflow the
    // bucket cap (silently losing pairs the all-pairs oracle keeps).
    val sigBits = if (kernel == "md5") 60 else 64
    hammingPairs(sigs, idCol, "sig", maxHamming, maxBucketSize, sigBits)
  }

  /** Chunk-blocked Hamming pair generation over ANY 64-bit signature
    * column (SimHash, image perceptual hash, audio fingerprint):
    * `maxHamming + 1` disjoint bit-range chunks, pigeonhole-complete (the
    * blocked output equals the all-pairs `hamming <= maxHamming` set
    * exactly, up to the bucket cap). Shared by [[simhash]] and the
    * multimodal pHash dedup.
    */
  def hammingPairs(sigs: DataFrame, idCol: String, sigCol: String,
      maxHamming: Int, maxBucketSize: Int = 1000, sigBits: Int = 64): DataFrame = {
    val bucketed = chunkBuckets(sigs, idCol, sigCol, maxHamming, sigBits)
      .withColumn("__new", lit(true))
    hammingPairsOfBuckets(bucketed, idCol, maxHamming, maxBucketSize)
  }

  /** The (id, sig, bucket) chunk-block relation behind [[hammingPairs]]:
    * `maxHamming + 1` disjoint bit-range chunks of the signature, one row
    * per (id, chunk). Persist this (partitioned by `bucket`) and it is
    * the incremental index [[hammingPairsIncremental]] probes.
    */
  def chunkBuckets(sigs: DataFrame, idCol: String, sigCol: String,
      maxHamming: Int, sigBits: Int = 64): DataFrame = {
    val nChunks = maxHamming + 1
    require(nChunks <= sigBits, s"maxHamming must be < $sigBits")
    val chunks = (0 until nChunks).map { c =>
      val lo = (sigBits * c) / nChunks
      val hi = (sigBits * (c + 1)) / nChunks
      val mask = if (hi - lo == 64) -1L else (1L << (hi - lo)) - 1L
      struct(lit(c).as("chunk"),
        shiftright(col(sigCol), lo).bitwiseAND(mask).as("bits"))
    }
    sigs
      .select(col(idCol), col(sigCol).as("sig"), explode(array(chunks: _*)).as("b"))
      .select(col(idCol), col("sig"),
        concat_ws(":", col("b.chunk"), col("b.bits")).as("bucket"))
  }

  /** Bucket-capped Hamming verification over a flagged (id, sig, bucket,
    * __new) relation; only pairs with at least one new side are emitted
    * (existing×existing pairs were found in prior runs; in the
    * from-scratch path every row is new).
    */
  private def hammingPairsOfBuckets(bucketed: DataFrame, idCol: String,
      maxHamming: Int, maxBucketSize: Int): DataFrame = {
    // the 8-byte signature rides through the bucket self-join (no re-join
    // per side, no re-compute per branch); hamming is functionally
    // dependent on the pair, so filter-then-distinct keeps it in the
    // output
    val keep = bucketed.groupBy("bucket").agg(count(lit(1)).as("__n"))
      .filter(col("__n") <= maxBucketSize).select("bucket")
    val sized = bucketed.join(keep, Seq("bucket"))
    val a = sized.select(col("bucket"), col(idCol).as("id_a"),
      col("sig").as("sig_a"), col("__new").as("__new_a"))
    val b = sized.select(col("bucket"), col(idCol).as("id_b"),
      col("sig").as("sig_b"), col("__new").as("__new_b"))
    a.join(b, Seq("bucket"))
      .filter(col("id_a") < col("id_b") && (col("__new_a") || col("__new_b")))
      .select(col("id_a"), col("id_b"),
        V.hamming64(col("sig_a"), col("sig_b")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** The persistable SimHash index of a corpus: one row per (id, chunk
    * bucket) with the 64-bit signature attached — everything
    * [[simhashIncremental]] needs to match FUTURE batches against this
    * corpus without re-reading its text. Write it partitioned/bucketed by
    * `bucket` and the incremental probe co-locates. The index is bound to
    * its (maxHamming, kernel) build parameters — probe with the same ones
    * (a different chunk count or kernel mis-aligns buckets and silently
    * loses pairs).
    */
  def simhashIndex(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, kernel: String = "xxhash"): DataFrame = {
    val sigs = df
      .filter(col(textCol).isNotNull)
      .select(col(idCol), T.normTokens(col(textCol)).as("__toks"))
      .select(col(idCol), V.simhash64(col("__toks"), kernel).as("sig"))
    val sigBits = if (kernel == "md5") 60 else 64
    chunkBuckets(sigs, idCol, "sig", maxHamming, sigBits)
  }

  /** Incremental SimHash near-dup: match a NEW batch against a persisted
    * [[simhashIndex]] and against itself, in one chunk-blocked pass — the
    * continuous-ingestion shape, mirroring [[minhashLshIncremental]].
    * Returns (id_a, id_b, hamming) for every pair within `maxHamming`
    * involving at least one new doc; existing×existing pairs are not
    * re-derived (prior runs own them). Blocking, capping, and Hamming
    * verification are IDENTICAL to running [[simhash]] over
    * (existing ∪ new) and keeping new-involving pairs, so the pigeonhole
    * completeness guarantee carries over — but the existing corpus's text
    * is never touched, only its index.
    */
  def simhashIncremental(newDocs: DataFrame, idCol: String, textCol: String,
      existingIndex: DataFrame, maxHamming: Int = 3,
      maxBucketSize: Int = 1000, kernel: String = "xxhash"): DataFrame = {
    val newIndex = simhashIndex(newDocs, idCol, textCol, maxHamming, kernel)
    simhashIncrementalFromIndex(newIndex, idCol, existingIndex,
      maxHamming, maxBucketSize)
  }

  /** [[simhashIncremental]] with the new batch's index already built —
    * the seam a streaming path uses, where one [[simhashIndex]] pass
    * serves both the probe and the index append without recomputing.
    */
  def simhashIncrementalFromIndex(newIndex: DataFrame, idCol: String,
      existingIndex: DataFrame, maxHamming: Int,
      maxBucketSize: Int = 1000): DataFrame = {
    val all = existingIndex
      .select(col(idCol), col("sig"), col("bucket"), lit(false).as("__new"))
      .unionByName(newIndex.withColumn("__new", lit(true)))
    hammingPairsOfBuckets(all, idCol, maxHamming, maxBucketSize)
  }

  /** Word-n-gram Jaccard near-dup within explicit blocks (e.g. same
    * source) — exact pairwise similarity, but only inside each block.
    * Blocking keys make this SQL-expressible (DuckDB oracle) and bound
    * the pair count; for unblocked corpora use `minhashLsh`.
    */
  def ngramJaccardBlocked(df: DataFrame, idCol: String, textCol: String,
      blockCols: Seq[String], n: Int = 3, threshold: Double = 0.4): DataFrame = {
    // grams hashed to longs: pairwise set ops compare 8-byte ints, not
    // strings, and the self-join shuffles fixed-width arrays. Jaccard is
    // unchanged up to 2^-64 hash collisions. One native pass builds the
    // sorted distinct gram hashes (see ArrayOps.WordNgramHashes).
    val grams = df
      .select((col(idCol) +: blockCols.map(col)) :+
        T.normTokens(col(textCol)).as("__toks"): _*)
      .select((col(idCol) +: blockCols.map(col)) :+
        ArrayOps.wordNgramHashes(col("__toks"), n).as("g"): _*)
    val a = grams.select(
      (col(idCol).as("id_a") +: blockCols.map(col)) :+ col("g").as("g_a"): _*)
    val b = grams.select(
      (col(idCol).as("id_b") +: blockCols.map(col)) :+ col("g").as("g_b"): _*)
    // size-ratio prune (exact, not approximate): |∩| <= min(|a|,|b|) and
    // |∪| >= max(|a|,|b|), so jaccard <= min/max — pairs failing the
    // ratio can never reach the threshold and skip the merge-walk
    val sizeOk = least(size(col("g_a")), size(col("g_b"))).cast("double") >=
      greatest(size(col("g_a")), size(col("g_b"))) * threshold
    a.join(b, blockCols).filter(col("id_a") < col("id_b") && sizeOk)
      .select(col("id_a"), col("id_b"),
        round(ArrayOps.jaccardSortedLong(col("g_a"), col("g_b")), 6).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Embedding near-dup: hyperplane-LSH bucket, then exact cosine on
    * candidates. Pairs with cosine >= threshold. `kernel` "md5" derives
    * SQL-replicable planes (exact DuckDB oracle for the whole output).
    */
  def embeddingCosine(df: DataFrame, idCol: String, vecCol: String, dim: Int,
      nBits: Int = 8, threshold: Double = 0.95,
      kernel: String = "xxhash"): DataFrame = {
    // double-cast once per row, not per candidate pair (see Similarity)
    val withBucket = df.select(col(idCol),
      col(vecCol).cast("array<double>").as("v"),
      V.hyperplaneLshBucket(col(vecCol), nBits, dim, kernel).as("bucket"))
    val pairs = candidatePairs(withBucket.select(col(idCol), col("bucket")), idCol)
    val byId = withBucket.select(col(idCol).as("__id"), col("v"))
    pairs
      .join(byId.select(col("__id").as("id_a"), col("v").as("v_a")), Seq("id_a"))
      .join(byId.select(col("__id").as("id_b"), col("v").as("v_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), V.cosine(col("v_a"), col("v_b")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** The persistable hyperplane-LSH index of an embedding corpus: one row
    * per id with its double-cast vector and single LSH bucket — everything
    * [[embeddingCosineIncremental]] needs to match FUTURE batches against
    * this corpus without re-reading its vectors from the source table.
    * Bound to its (dim, nBits, kernel) build parameters — probe with the
    * same ones.
    */
  def embeddingIndex(df: DataFrame, idCol: String, vecCol: String, dim: Int,
      nBits: Int = 8, kernel: String = "xxhash"): DataFrame =
    df.filter(col(vecCol).isNotNull)
      .select(col(idCol), col(vecCol).cast("array<double>").as("v"),
        V.hyperplaneLshBucket(col(vecCol), nBits, dim, kernel).as("bucket"))

  /** Incremental embedding near-dup: match a NEW batch against a
    * persisted [[embeddingIndex]] and against itself — completing the
    * continuous-ingestion story for the third near-dup family
    * (MinHash-Jaccard, SimHash-Hamming, hyperplane-cosine). Returns
    * (id_a, id_b, cosine) for pairs >= threshold with at least one new
    * side; existing×existing pairs are not re-derived. Blocking, capping,
    * and verification match [[embeddingCosine]] over (existing ∪ new)
    * exactly.
    */
  def embeddingCosineIncremental(newDocs: DataFrame, idCol: String,
      vecCol: String, existingIndex: DataFrame, dim: Int, nBits: Int = 8,
      threshold: Double = 0.95, kernel: String = "xxhash",
      maxBucketSize: Int = 1000): DataFrame = {
    val newIdx = embeddingIndex(newDocs, idCol, vecCol, dim, nBits, kernel)
    embeddingCosineIncrementalFromIndex(newIdx, idCol, existingIndex,
      threshold, maxBucketSize)
  }

  /** [[embeddingCosineIncremental]] with the new batch's index already
    * built — the seam a streaming path uses. Each id has exactly ONE
    * bucket row (hyperplane LSH does not explode bands), so the bucket
    * self-join emits each candidate pair at most once and the vectors
    * ride the join without duplication.
    */
  def embeddingCosineIncrementalFromIndex(newIndex: DataFrame, idCol: String,
      existingIndex: DataFrame, threshold: Double,
      maxBucketSize: Int = 1000): DataFrame = {
    val all = existingIndex
      .select(col(idCol), col("v"), col("bucket"), lit(false).as("__new"))
      .unionByName(newIndex.withColumn("__new", lit(true)))
    val keep = all.groupBy("bucket").agg(count(lit(1)).as("__n"))
      .filter(col("__n") <= maxBucketSize).select("bucket")
    val sized = all.join(keep, Seq("bucket"))
    val a = sized.select(col("bucket"), col(idCol).as("id_a"),
      col("v").as("v_a"), col("__new").as("__new_a"))
    val b = sized.select(col("bucket"), col(idCol).as("id_b"),
      col("v").as("v_b"), col("__new").as("__new_b"))
    a.join(b, Seq("bucket"))
      .filter(col("id_a") < col("id_b") && (col("__new_a") || col("__new_b")))
      .select(col("id_a"), col("id_b"), V.cosine(col("v_a"), col("v_b")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** EXACT set-similarity self-join via prefix filtering (the
    * SSJoin/PPJoin family: Chaudhuri et al. ICDE 2006, Xiao et al. WWW
    * 2008): EVERY pair with shingle-set Jaccard ≥ `threshold`, recall
    * 1.0 by construction — the exact sibling of [[minhashLsh]] for
    * compliance-grade dedup where banding's probabilistic recall is not
    * acceptable.
    *
    * The pruning theorem: order all shingles by one global total order
    * (here: ascending document frequency, rarest first, ties by hash —
    * the order that makes prefixes maximally selective) and take from
    * each size-`s` set only its first `s − ⌈t·s⌉ + 1` tokens (its
    * PREFIX). Any two sets with Jaccard ≥ t overlap in ≥ ⌈t·max(sa,sb)⌉
    * elements, and two sets that overlap that much MUST share a prefix
    * token — so joining prefixes alone generates a candidate superset,
    * and the exact merge-walk Jaccard verify keeps truth. A corpus-wide
    * stop-shingle has maximal df, sorts LAST, and therefore almost never
    * enters a prefix: frequency skew prunes itself (no bucket cap
    * needed, unlike LSH banding).
    *
    * Scale shape: one native shingle pass (checkpointed — feeds df
    * counts, prefixes, and the verify); df is one map-side-combined
    * count; per-doc prefix construction is one (id)-keyed sort of that
    * doc's own tokens (bounded by doc length, the same bound the shingle
    * array itself already carries); the candidate join streams only
    * prefix tokens (a t=0.9 join ships ~10% of each doc's tokens); the
    * exact verify attaches full arrays only for deduplicated candidate
    * pairs. `idCol` must be integral (the [[minhashLsh]] contract).
    */
  def jaccardJoinPrefix(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 5, threshold: Double = 0.5): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, "threshold in (0, 1]")
    requireIntegralId(df, idCol, "jaccardJoinPrefix")
    // the shingle pass is NOT checkpointed (the minhashLsh judgment:
    // scan-side recompute beats materializing the arrays); the PREFIX
    // frame IS — its collect_list/sort aggregation is the expensive
    // part and only the Exchange below it would be reused across the
    // two candidate-join sides (A/B'd: dropping this checkpoint cost
    // +30% on dedup_jaccard_prefix)
    val shingled = prefixShingled(df, idCol, textCol, shingleN)
    val toks = shingled.select(col(idCol), explode(col("sh")).as("tok"))
    val freq = toks.groupBy("tok").agg(count(lit(1)).as("__df"))
    val prefixes = prefixRows(toks, idCol, freq, threshold)
      .localCheckpoint(true)
    val cands = prefixCandidates(prefixes, prefixes, threshold,
      col("id_a") < col("id_b"))
    val shById = shingled.select(col(idCol).cast("long").as("__id"), col("sh"))
    verifyJaccard(cands, shById, shById, threshold)
  }

  private def requireIntegralId(df: DataFrame, idCol: String, op: String): Unit =
    require(Set("ByteType", "ShortType", "IntegerType", "LongType")
      .contains(df.schema(idCol).dataType.toString),
      s"$op needs an integral id column; hash string ids " +
        "to 64-bit (xxhash64) upstream first")

  /** (id, sh) shingle-set rows for the prefix-join family — empty sets
    * dropped up front (an empty set can only pair with another empty at
    * J = 0/0 := 0, below any positive threshold).
    */
  private def prefixShingled(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int): DataFrame =
    df.filter(col(textCol).isNotNull)
      .select(col(idCol),
        ArrayOps.shingleHashes(
          regexp_replace(trim(lower(col(textCol))), "\\s+", " "), shingleN)
          .as("sh"))
      .filter(size(col("sh")) > 0)

  /** Per-doc prefix rows (__pid, s, tok, p) under the (`__df` asc, tok
    * asc) global order carried by `freq`; prefix length s − ⌈t·s⌉ + 1
    * (the 1e-9 guards ceil against FP noise at exact multiples);
    * posexplode keeps each prefix token's 0-based POSITION for the
    * positional filter. Tokens missing from `freq` order FIRST (df 0 —
    * rarest): any consistent total order keeps the theorem, and a
    * frozen-index probe meets exactly that case.
    */
  private def prefixRows(toks: DataFrame, idCol: String, freq: DataFrame,
      threshold: Double): DataFrame =
    toks.join(freq, Seq("tok"), "left")
      .withColumn("__df", coalesce(col("__df"), lit(0L)))
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(struct(col("__df"), col("tok")))).as("__r"),
        count(lit(1)).as("s"))
      .select(col(idCol).cast("long").as("__pid"), col("s"),
        posexplode(slice(transform(col("__r"), x => x("tok")), lit(1),
          (col("s") - ceil(lit(threshold) * col("s") - lit(1e-9)) + 1)
            .cast("int"))))
      .withColumnRenamed("col", "tok").withColumnRenamed("pos", "p")

  /** Prefix-token candidate join with the length and PPJoin positional
    * filters. J ≥ t needs overlap α = ⌈t/(1+t)·(sa+sb)⌉, and at a true
    * pair's FIRST shared token (positions pa, pb) no earlier token is
    * shared, so overlap ≤ 1 + min(sa−pa−1, sb−pb−1) — collisions whose
    * bound can't reach α prune before the distinct. Honest measurement
    * note: on the synthetic bench corpus (2k-token shingle vocabulary,
    * NO rare tokens — the adversarial case for any prefix scheme) this
    * trims ~15%; on Zipfian real-corpus vocabularies the
    * prefix+positional pair is the classic order-of-magnitude filter
    * (Xiao et al. 2008 §4).
    */
  private def prefixCandidates(prefA: DataFrame, prefB: DataFrame,
      threshold: Double, pairPred: Column): DataFrame = {
    val a = prefA.select(col("tok"), col("__pid").as("id_a"),
      col("s").as("sa"), col("p").as("pa"))
    val b = prefB.select(col("tok"), col("__pid").as("id_b"),
      col("s").as("sb"), col("p").as("pb"))
    val alpha = ceil(lit(threshold / (1 + threshold)) *
      (col("sa") + col("sb")).cast("double") - lit(1e-9))
    a.join(b, Seq("tok"))
      .filter(pairPred &&
        least(col("sa"), col("sb")).cast("double") >=
          lit(threshold) * greatest(col("sa"), col("sb")).cast("double") &&
        (lit(1) + least(col("sa") - col("pa") - 1, col("sb") - col("pb") - 1))
          .cast("double") >= alpha)
      .select("id_a", "id_b").distinct()
  }

  /** Exact merge-walk Jaccard verify over deduplicated candidate pairs:
    * full arrays attach here ONLY — the candidate join itself ships
    * prefix tokens. `shA`/`shB` are (__id long, sh) frames.
    */
  private def verifyJaccard(cands: DataFrame, shA: DataFrame, shB: DataFrame,
      threshold: Double): DataFrame =
    cands
      .join(shA.select(col("__id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(shB.select(col("__id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        ArrayOps.jaccardSortedLong(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)

  /** EXACT bipartite set-similarity join — every (left, right) pair with
    * shingle Jaccard ≥ `threshold`, recall 1.0 by construction: the
    * [[jaccardJoinPrefix]] machinery in the
    * [[graft.operators.TrainingData.decontaminateFuzzy]] shape (a new
    * batch, an eval set, or any probe frame vs a corpus) without
    * banding's probabilistic recall. Returns (id_a = left id, id_b =
    * right id, jaccard); ids are NOT compared across frames (the two
    * sides are distinct tables — same-id rows in both still pair).
    *
    * The global token order is document frequency over the UNION of both
    * sides (ascending, ties by hash) — one combined map-side count; any
    * consistent total order preserves the theorem, and the union df is
    * the most selective one available without an index. For repeated
    * probes against the same corpus, build [[jaccardPrefixIndexWrite]]
    * once and probe with [[jaccardJoinPrefixIncremental]] instead.
    *
    * Scale shape: identical to the self-join — one shingle pass per side
    * (each checkpointed: df count + prefix + verify all read it), the
    * candidate join ships prefix tokens only, the exact verify touches
    * deduplicated cross-side candidates.
    */
  def jaccardJoinPrefixBipartite(left: DataFrame, right: DataFrame,
      idCol: String, textCol: String, shingleN: Int = 5,
      threshold: Double = 0.5): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, "threshold in (0, 1]")
    requireIntegralId(left, idCol, "jaccardJoinPrefixBipartite")
    requireIntegralId(right, idCol, "jaccardJoinPrefixBipartite")
    // the shingle passes are NOT checkpointed (the minhashLsh judgment:
    // scan-side recompute beats materializing the arrays); the union-df
    // count IS — both sides' prefix builds read it and only its
    // Exchange would be reused
    val shL = prefixShingled(left, idCol, textCol, shingleN)
    val shR = prefixShingled(right, idCol, textCol, shingleN)
    val toksL = shL.select(col(idCol), explode(col("sh")).as("tok"))
    val toksR = shR.select(col(idCol), explode(col("sh")).as("tok"))
    val freq = toksL.unionByName(toksR)
      .groupBy("tok").agg(count(lit(1)).as("__df"))
      .localCheckpoint(true)
    val prefL = prefixRows(toksL, idCol, freq, threshold)
    val prefR = prefixRows(toksR, idCol, freq, threshold)
    val cands = prefixCandidates(prefL, prefR, threshold, lit(true))
    verifyJaccard(cands,
      shL.select(col(idCol).cast("long").as("__id"), col("sh")),
      shR.select(col(idCol).cast("long").as("__id"), col("sh")), threshold)
  }

  /** Persist the exact prefix-join index of a corpus under `path`:
    *
    *  - `docs`    — (id, sh): full sorted shingle sets (the verify side)
    *  - `prefix`  — (__pid, s, tok, p): prefix tokens with positions
    *                under the order FROZEN at build time
    *  - `df`      — (tok, __df): the frozen global order itself
    *  - `dfdelta` — (tok, __df): append-only batch counts (drift
    *                accounting for the rebuild decision; NEVER read for
    *                ordering)
    *  - `meta`    — (shingle_n, threshold): the build parameters probes
    *                must honor
    *
    * The FROZEN-ORDER contract: correctness of the exact join needs only
    * that every side orders tokens by the SAME total order — the df-asc
    * order is a selectivity heuristic, not a correctness input (verify
    * is exact). Freezing it at build means [[jaccardPrefixIndexAppend]]
    * never recomputes existing docs' prefixes (the whole point of an
    * index at 100 TB); the cost is that pruning power drifts as the true
    * df distribution moves away from the frozen one — `dfdelta` holds
    * the evidence, and a rebuild (re-run this) re-freezes. Tokens never
    * seen at build order FIRST (df 0, "rarest"): maximally selective for
    * genuinely-new vocabulary, and consistent on every side.
    */
  def jaccardPrefixIndexWrite(df: DataFrame, idCol: String, textCol: String,
      path: String, shingleN: Int = 5, threshold: Double = 0.5): Unit = {
    require(threshold > 0.0 && threshold <= 1.0, "threshold in (0, 1]")
    requireIntegralId(df, idCol, "jaccardPrefixIndexWrite")
    val spark = df.sparkSession
    // rebuild under _MAINT — the land-base-then-retire-victims crash
    // window fails loudly instead of silently folding stale victims
    // onto the fresh base (AtomicBatches.withRebuildMarker)
    AtomicBatches.withRebuildMarker(spark, path)(Frames.scoped { f =>
      // docs write + df count + prefix all read it
      val shingled = f.checkpoint(prefixShingled(df, idCol, textCol, shingleN)
        .select(col(idCol).cast("long").as("__id"), col("sh")))
      val toks = shingled.select(col("__id"), explode(col("sh")).as("tok"))
      // df write + prefix build read it
      val freq = f.checkpoint(toks.groupBy("tok").agg(count(lit(1)).as("__df")))
      import spark.implicits._
      // with both checkpoints landed the four table writes are
      // independent jobs over materialized frames — concurrent (the
      // CountStore.writeBase judgment); any crash point is under the
      // rebuild marker, so write order carries no recovery semantics
      Takedown.inParallel(Seq[() => Unit](
        () => shingled.write.mode("overwrite").parquet(s"$path/docs"),
        () => freq.write.mode("overwrite").parquet(s"$path/df"),
        () => prefixRows(toks, "__id", freq, threshold)
          .write.mode("overwrite").parquet(s"$path/prefix"),
        () => Seq((shingleN, threshold)).toDF("shingle_n", "threshold")
          .repartition(1).write.mode("overwrite").parquet(s"$path/meta")))(
        _.apply())
      // a rebuild supersedes pending deletions and an interrupted
      // compaction — retired AFTER the new base lands
      VictimChannel.retire(spark, path)
    })
  }

  /** DELETE (takedown) face of a [[jaccardPrefixIndexWrite]] index: one
    * bounded id-list batch staged to the [[VictimChannel]]. The probe
    * ([[jaccardJoinPrefixIncremental]]) anti-joins victims out of both
    * the candidate (prefix) and verify (docs) sides, so a deleted doc
    * pairs with nothing — exactly as if the index held only the
    * survivors (the frozen token ORDER keeps the victims' df counts,
    * which is fine: order is a selectivity heuristic, never a
    * correctness input — see the frozen-order contract on the writer).
    * Physical removal is [[jaccardPrefixIndexCompact]]'s job; appends
    * of a deleted id fail loudly until then (versionless index — the
    * new-ids-only append contract).
    */
  def jaccardPrefixIndexDelete(ids: DataFrame, idCol: String,
      path: String): Unit = {
    val root = prefixRoot(ids.sparkSession, path, "jaccardPrefixIndexDelete")
    root.read("meta") // loud on a non-index path
    VictimChannel.stage(root, ids.select(col(idCol).cast("long")).distinct())()
  }

  /** AUDIT face: the ids whose docs a prefix-index probe can still pair
    * against (docs table minus the pending victim channel), as one `id`
    * column ([[graft.operators.Takedown.audit]]'s jaccard_prefix row).
    */
  def jaccardPrefixPresentIds(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    val root = prefixRoot(spark, path, "jaccardPrefixPresentIds")
    root.victims.minus(root.read("docs").select(col("__id")), "__id")
      .select(col("__id").as("id"))
  }

  /** Physically remove a [[jaccardPrefixIndexWrite]] index's pending
    * victims: rewrite `docs` and `prefix` minus the victims' rows and
    * retire the victim list. The tables are unpartitioned (the probe
    * reads them whole), so this is a full rewrite of both — the
    * deferred, amortized cost the bounded-write delete face avoids.
    * `df`/`dfdelta` keep the victims' token counts: the frozen order is
    * a heuristic, and rewriting it would invalidate every stored
    * prefix. EXCLUSIVE maintenance (`_MAINT`): probes/deletes/appends
    * fail loudly while it runs; crash leaves the marker; re-run with
    * `takeover = true`.
    */
  def jaccardPrefixIndexCompact(spark: org.apache.spark.sql.SparkSession,
      path: String, takeover: Boolean = false): Unit =
    VictimChannel.compact(spark, path, takeover, "jaccardPrefixIndexCompact",
        "jaccardPrefixIndexWrite") { (root, v) =>
      // the two rewrite chains touch disjoint tables and read only the
      // checkpointed victim frame — concurrent under the _MAINT lock
      // (the CountStore.compactSwap stage-build judgment)
      Takedown.inParallel(Seq("docs" -> "__id", "prefix" -> "__pid")) {
        case (table, idc) =>
          // checkpoint BEFORE overwriting the table being read
          Frames.scoped(_.checkpoint(root.read(table)
            .join(v.select(col("id").as(idc)), Seq(idc), "left_anti"))
            .write.mode("overwrite").parquet(s"$path/$table"))
      }
    }

  private val prefixRoot = StoreRoot.of("jaccardPrefixIndexWrite")

  private def prefixMeta(root: StoreRoot): (Int, Double) =
    (root.meta.getAs[Int]("shingle_n"), root.meta.getAs[Double]("threshold"))

  /** Append a new batch to a [[jaccardPrefixIndexWrite]] index: shingle
    * sets to `docs`, prefix rows UNDER THE FROZEN ORDER to `prefix`, and
    * the batch's token counts to `dfdelta` (drift accounting only). The
    * frozen `df` table is never touched, so existing prefixes stay
    * valid — see the frozen-order contract on the writer.
    */
  def jaccardPrefixIndexAppend(newDocs: DataFrame, idCol: String,
      textCol: String, path: String): Unit = {
    requireIntegralId(newDocs, idCol, "jaccardPrefixIndexAppend")
    val root = prefixRoot(newDocs.sparkSession, path,
      "jaccardPrefixIndexAppend")
    VictimChannel.requireFresh(root, newDocs, idCol)
    val (shingleN, threshold) = prefixMeta(root)
    Frames.scoped { f =>
      val shingled = f.checkpoint(prefixShingled(newDocs, idCol, textCol,
        shingleN).select(col(idCol).cast("long").as("__id"), col("sh")))
      val toks = shingled.select(col("__id"), explode(col("sh")).as("tok"))
      val frozen = root.read("df")
      // the three appends are independent jobs over the checkpointed
      // shingle frame (+ the immutable frozen df) — concurrent, the
      // bm25IndexOut append-face judgment: a mid-append crash was equally
      // partial sequentially (no _COMMIT on this face; rebuild recovers)
      Takedown.inParallel(Seq[() => Unit](
        () => shingled.write.mode("append").parquet(s"$path/docs"),
        () => prefixRows(toks, "__id", frozen, threshold)
          .write.mode("append").parquet(s"$path/prefix"),
        () => toks.groupBy("tok").agg(count(lit(1)).as("__df"))
          .write.mode("append").parquet(s"$path/dfdelta")))(_.apply())
    }
  }

  /** Incremental EXACT near-dup: every pair with Jaccard ≥ `threshold`
    * involving at least one NEW doc — new×corpus and new×new in one
    * pass against a persisted [[jaccardPrefixIndexWrite]] index;
    * existing×existing pairs are not re-derived (prior runs own them),
    * and the corpus text is never re-read. The exact-compliance sibling
    * of [[minhashLshIncremental]]: candidate generation under the
    * index's frozen order, recall 1.0 by the prefix theorem + exact
    * verify. `threshold` must be ≥ the index's build threshold (stored
    * prefixes are long enough exactly for t ≥ t_build; probing below
    * would silently lose pairs, so it fails loudly instead).
    *
    * A re-ingested id (already in the index) pairs by its NEW content:
    * the verify side prefers the new batch's shingle set, the
    * [[minhashLshIncrementalFromIndex]] determinism rule.
    */
  def jaccardJoinPrefixIncremental(newDocs: DataFrame, idCol: String,
      textCol: String, path: String, threshold: Double): DataFrame = {
    requireIntegralId(newDocs, idCol, "jaccardJoinPrefixIncremental")
    val root = prefixRoot(newDocs.sparkSession, path,
      "jaccardJoinPrefixIncremental")
    val (shingleN, buildT) = prefixMeta(root)
    require(threshold >= buildT && threshold <= 1.0,
      s"probe threshold $threshold must be in [index build threshold " +
        s"$buildT, 1] — stored prefixes are too short below it")
    // not checkpointed (the jaccardJoinPrefix judgment): both readers
    // live in one action and the batch shingle pass recomputes cheaply
    val shNew = prefixShingled(newDocs, idCol, textCol, shingleN)
      .select(col(idCol).cast("long").as("__id"), col("sh"))
    val toksNew = shNew.select(col("__id"), explode(col("sh")).as("tok"))
    val frozen = root.read("df")
    // new-batch prefixes at the BUILD threshold (not the probe one): the
    // index side's stored prefixes have build-threshold length, and the
    // prefix theorem needs the SHARED token to fall in both prefixes —
    // probing with shorter (probe-t) prefixes on one side only is safe,
    // but symmetric build-length prefixes keep the candidate logic one
    // code path; the length/positional filters prune at the probe t
    val prefNew = prefixRows(toksNew, "__id", frozen, buildT)
      .localCheckpoint(true) // both candidate branches read the
      // expensive collect_list/sort agg (the jaccardJoinPrefix judgment)
    // takedown-aware: deleted docs leave the candidate side immediately
    // (one broadcast anti-join against the bounded victim list)
    val prefOld = root.victims.minus(root.read("prefix"), "__pid")
    // new×corpus (both orientations — corpus ids can sit on either side
    // of the id order) ∪ new×new, one union of prefix rows with a flag
    val all = prefOld.withColumn("__new", lit(false))
      .unionByName(prefNew.withColumn("__new", lit(true)))
    val cands = {
      val a = all.select(col("tok"), col("__pid").as("id_a"),
        col("s").as("sa"), col("p").as("pa"), col("__new").as("__na"))
      val b = all.select(col("tok"), col("__pid").as("id_b"),
        col("s").as("sb"), col("p").as("pb"), col("__new").as("__nb"))
      val alpha = ceil(lit(threshold / (1 + threshold)) *
        (col("sa") + col("sb")).cast("double") - lit(1e-9))
      a.join(b, Seq("tok"))
        .filter(col("id_a") < col("id_b") && (col("__na") || col("__nb")) &&
          least(col("sa"), col("sb")).cast("double") >=
            lit(threshold) * greatest(col("sa"), col("sb")).cast("double") &&
          (lit(1) + least(col("sa") - col("pa") - 1, col("sb") - col("pb") - 1))
            .cast("double") >= alpha)
        .select("id_a", "id_b").distinct()
    }
    // verify side: corpus sets from the index ∪ new sets, new preferred
    // for a re-ingested id (deterministic — same rule as minhash)
    val pick = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__id"))
      .orderBy(col("__new").desc, xxhash64(col("sh")))
    // ...and the verify side (belt-and-braces: no candidate references a
    // victim once the prefix side is pruned, but the dropped rows keep
    // the picked-set deterministic if one ever did)
    val shById = root.victims.minus(root.read("docs"), "__id")
      .withColumn("__new", lit(false))
      .unionByName(shNew.withColumn("__new", lit(true)))
      .withColumn("__rn", row_number().over(pick))
      .filter(col("__rn") === 1).select(col("__id"), col("sh"))
    verifyJaccard(cands, shById, shById, threshold)
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    * cluster the embedding space, find near-identical pairs WITHIN each
    * cluster, and keep one representative per duplicate group — the
    * member FARTHEST from the cluster centroid (lowest cosine; the
    * paper's best-performing keep rule, which biases survivors toward
    * the diverse edge of each semantic neighborhood). Ties break to the
    * lowest id.
    *
    * The clustering is the same hyperplane-LSH partition the other
    * embedding paths use (deterministic, and with `kernel = "md5"`
    * exactly SQL-replayable) rather than k-means — every member of a
    * duplicate group lands in ONE bucket, which is what the centroid and
    * the pair search need; [[graft.operators.Similarity.ivfTopK]] holds
    * the Lloyd-trained variant of the same partition.
    *
    * Returns one row per doc that appears in a >=`threshold` pair:
    * (id, cluster_id, centroid_cos, keep). Docs in no pair are
    * untouched by dedup and are not emitted (same contract as
    * [[connectedComponents]]).
    *
    * Scale shape: vectors ride one capped within-bucket self-join (the
    * [[embeddingCosine]] discipline); centroids are ONE partial-agg
    * bucket aggregation, never collected; label propagation touches only
    * pair members; the final keep decision is a cluster-keyed min over
    * (cosine, id) structs — every stage shuffles fixed-width keys and
    * the corpus-sized frames never leave the executors.
    */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String, dim: Int,
      nBits: Int = 6, threshold: Double = 0.9, kernel: String = "xxhash",
      maxBucketSize: Int = 1000): DataFrame = {
    // one checkpointed (id, v, bucket) frame feeds the cap count, both
    // pair sides, the centroid agg, and the member join-back
    val idx = embeddingIndex(df, idCol, vecCol, dim, nBits, kernel)
      .localCheckpoint(true)
    val keep = idx.groupBy("bucket").agg(count(lit(1)).as("__n"))
      .filter(col("__n") <= maxBucketSize).select("bucket")
    val sized = idx.join(keep, Seq("bucket"))
    val a = sized.select(col("bucket"), col(idCol).as("id_a"), col("v").as("v_a"))
    val b = sized.select(col("bucket"), col(idCol).as("id_b"), col("v").as("v_b"))
    val pairs = a.join(b, Seq("bucket"))
      .filter(col("id_a") < col("id_b") &&
        V.cosine(col("v_a"), col("v_b")) >= threshold)
      .select("id_a", "id_b")
    val labels = connectedComponents(pairs, "id_a", "id_b")
    val cents = sized.groupBy("bucket")
      .agg(graft.functions.Aggregators.vectorCentroid(col("v"), dim).as("__c"))
    val members = labels
      .join(sized.select(col(idCol).cast("long").as("id"), col("v"), col("bucket")),
        Seq("id"))
      .join(cents, Seq("bucket"))
      .select(col("id"), col("cluster_id"),
        V.cosine(col("v"), col("__c")).as("centroid_cos"))
    val best = members.groupBy("cluster_id")
      .agg(min(struct(col("centroid_cos"), col("id"))).as("__best"))
    members.join(best, Seq("cluster_id"))
      .select(col("id"), col("cluster_id"), col("centroid_cos"),
        (struct(col("centroid_cos"), col("id")) === col("__best")).as("keep"))
  }

  /** [[semanticDedup]] with the paper's ACTUAL clustering stage: a
    * trained spherical k-means partition ([[Embeddings.kmeansTrain]],
    * Lloyd 1982 — Abbas et al. 2023 §3 cluster with k-means on GPU)
    * instead of the hyperplane-LSH approximation. Data-adaptive cells
    * hug the corpus's real semantic clusters, so duplicate groups that
    * straddle a random hyperplane (invisible to the LSH variant) land in
    * ONE cell here — the same recall argument as [[Similarity.ivfTopK]]'s
    * Lloyd refinement. The LSH variant stays as the cheap
    * training-free path.
    *
    * Same contract as [[semanticDedup]]: rows only for docs in a
    * ≥`threshold` pair, keep = member FARTHEST from its k-means cell
    * centroid (lowest cosine, ties → lowest id; the paper's
    * diversity-preserving survivor rule), with `centroid_cos` measured
    * against the TRAINED model centroid (round-9 components — the
    * engine-replicable kmeansTrain recipe). Pairs never cross cells, so
    * every duplicate component lives in exactly one cell and the keep
    * rule is well-defined.
    *
    * Scale shape: training is [[Embeddings.kmeansTrain]]'s k-centroid
    * driver loop (corpus never collected); assignment is one codegen'd
    * projection; the pair search is the capped within-cell self-join of
    * the other dedup paths (size k so that N/k ≈ 10³: the paper's
    * 50k-cluster regime at web scale); `maxClusterSize` drops degenerate
    * cells outright.
    */
  def semanticDedupKmeans(df: DataFrame, idCol: String, vecCol: String,
      dim: Int, k: Int, iters: Int, threshold: Double = 0.9,
      maxClusterSize: Int = 1000): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val model = Embeddings.kmeansTrain(df, idCol, vecCol, dim, k, iters)
    val cents = model.collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1)).sortBy(_._1).toSeq
    // one checkpointed (id, v, cluster) frame feeds the cap count, both
    // pair sides, and the member join-back (the semanticDedup discipline)
    val assigned = df.filter(col(vecCol).isNotNull)
      .select(col(idCol), col(vecCol).cast("array<double>").as("v"))
      .select(col(idCol), col("v"), Embeddings.nearest(col("v"), cents))
      .localCheckpoint(true)
    val keep = assigned.groupBy("cluster").agg(count(lit(1)).as("__n"))
      .filter(col("__n") <= maxClusterSize).select("cluster")
    val sized = assigned.join(keep, Seq("cluster"))
    val a = sized.select(col("cluster"), col(idCol).as("id_a"), col("v").as("v_a"))
    val b = sized.select(col("cluster"), col(idCol).as("id_b"), col("v").as("v_b"))
    val pairs = a.join(b, Seq("cluster"))
      .filter(col("id_a") < col("id_b") &&
        V.cosine(col("v_a"), col("v_b")) >= threshold)
      .select("id_a", "id_b")
    val labels = connectedComponents(pairs, "id_a", "id_b")
    // the trained centroids as a broadcast k-row table — centroid_cos is
    // against the MODEL, not a recomputed group mean, so persisted-model
    // reruns score identically
    val centDf = broadcast(cents.toDF("cluster", "__c"))
    val members = labels
      .join(sized.select(col(idCol).cast("long").as("id"), col("v"),
        col("cluster")), Seq("id"))
      .join(centDf, Seq("cluster"))
      .select(col("id"), col("cluster_id"),
        V.cosine(col("v"), col("__c")).as("centroid_cos"))
    val best = members.groupBy("cluster_id")
      .agg(min(struct(col("centroid_cos"), col("id"))).as("__best"))
    members.join(best, Seq("cluster_id"))
      .select(col("id"), col("cluster_id"), col("centroid_cos"),
        (struct(col("centroid_cos"), col("id")) === col("__best")).as("keep"))
  }

  /** Assigned-vector index of a corpus under a TRAINED k-means model
    * ([[Embeddings.kmeansTrain]]): one row per non-null vector —
    * (id, v, cluster). The persistable state
    * [[semanticDedupKmeansIncremental]] probes: write it once, append
    * each accepted batch's rows, and future batches dedup against the
    * corpus without re-reading source vectors or retraining — the
    * train-offline / score-online split of `continuousKmeansAssign`,
    * applied to SemDeDup.
    *
    * Takedown contract for a PERSISTED index:
    * [[Takedown.userPersisted]] — rebuild from the surviving corpus
    * with a RETRAINED model (every row is a projection of the model, so
    * a victim-trained model leaks through survivors' assignments too).
    */
  def semanticKmeansIndex(df: DataFrame, idCol: String, vecCol: String,
      model: DataFrame): DataFrame = {
    val cents = model.collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1)).sortBy(_._1).toSeq
    df.filter(col(vecCol).isNotNull)
      .select(col(idCol), V.doubles(df, vecCol).as("v"))
      .select(col(idCol), col("v"), Embeddings.nearest(col("v"), cents))
  }

  /** [[semanticDedupKmeans]] for continuous ingestion: score a NEW batch
    * against the FROZEN model and the persisted corpus index
    * ([[semanticKmeansIndex]]) instead of retraining — corpus vectors
    * come from the index, never the source table, and the Lloyd loop
    * never re-runs. Emits (id, cluster_id, centroid_cos, keep) for every
    * member — new OR existing — of a duplicate component that contains
    * at least one new doc: a new doc can bridge two existing components
    * or displace an existing survivor (it sits farther from the cell
    * centroid), so touched components are re-decided whole; untouched
    * components keep their prior decisions (prior runs own them).
    * Equals the frozen-model rebuild over (corpus ∪ batch) restricted to
    * new-involving components — the oracle contract. Ids must be
    * disjoint from the corpus (a changed re-ingested vector is a
    * rebuild, the [[graft.streaming.StreamingOps.continuousIvfAppend]]
    * stance).
    *
    * Scale shape: pairs never cross cells, so every stage prunes to the
    * ≤k cells the BATCH touches (a broadcast semi join on the cell id) —
    * compaction-style delta locality: the corpus-sized index is read
    * once cell-pruned, the capped self-join runs only in touched cells,
    * and the closure touches only their pair members. Centroid distance
    * is against the MODEL (k-row broadcast), so decisions replay
    * identically from a persisted model.
    */
  def semanticDedupKmeansIncremental(newDocs: DataFrame, idCol: String,
      vecCol: String, model: DataFrame, corpusIndex: DataFrame,
      threshold: Double = 0.9, maxClusterSize: Int = 1000): DataFrame = {
    val spark = newDocs.sparkSession
    import spark.implicits._
    val cents = model.collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1)).sortBy(_._1).toSeq
    val all = corpusIndex
      .select(col(idCol), col("v"), col("cluster"), lit(false).as("__new"))
      .unionByName(semanticKmeansIndex(newDocs, idCol, vecCol, model)
        .withColumn("__new", lit(true)))
      .localCheckpoint(true) // touched cells + cap + both pair sides + members
    // only cells the batch touches can host a new-involving component
    // (pairs never cross cells) — ≤k rows, broadcast
    val touchedCells = all.filter(col("__new")).select("cluster").distinct()
    val inTouched = all.join(broadcast(touchedCells), Seq("cluster"))
    // cap on the UNION size of each cell — identical to the rebuild's
    // cap (every row of a touched cell is in `inTouched`)
    val keep = inTouched.groupBy("cluster").agg(count(lit(1)).as("__n"))
      .filter(col("__n") <= maxClusterSize).select("cluster")
    val sized = inTouched.join(keep, Seq("cluster"))
    val a = sized.select(col("cluster"), col(idCol).as("id_a"), col("v").as("v_a"))
    val b = sized.select(col("cluster"), col(idCol).as("id_b"), col("v").as("v_b"))
    // ALL within-cell pairs, old-old included: an old-old edge can be
    // the path that joins an old doc into a new-involving component
    val pairs = a.join(b, Seq("cluster"))
      .filter(col("id_a") < col("id_b") &&
        V.cosine(col("v_a"), col("v_b")) >= threshold)
      .select("id_a", "id_b")
    val labels = connectedComponents(pairs, "id_a", "id_b")
    val newIds = all.filter(col("__new"))
      .select(col(idCol).cast("long").as("id"))
    val newComps = labels.join(newIds, Seq("id"), "left_semi")
      .select("cluster_id").distinct()
    val centDf = broadcast(cents.toDF("cluster", "__c"))
    val members = labels.join(newComps, Seq("cluster_id"), "left_semi")
      .join(sized.select(col(idCol).cast("long").as("id"), col("v"),
        col("cluster")), Seq("id"))
      .join(centDf, Seq("cluster"))
      .select(col("id"), col("cluster_id"),
        V.cosine(col("v"), col("__c")).as("centroid_cos"))
    val best = members.groupBy("cluster_id")
      .agg(min(struct(col("centroid_cos"), col("id"))).as("__best"))
    members.join(best, Seq("cluster_id"))
      .select(col("id"), col("cluster_id"), col("centroid_cos"),
        (struct(col("centroid_cos"), col("id")) === col("__best")).as("keep"))
  }

  /** Connected components over a near-dup PAIR relation — the step that
    * turns pairwise matches into dedup decisions: docs A-B and B-C are
    * one duplicate CLUSTER even though A-C was never compared, and a
    * pipeline keeps one survivor per cluster, not per pair.
    *
    * Min-label propagation to fixpoint (Pregel-style): every node starts
    * as its own label; each round takes the min label over itself and its
    * neighbors. Rounds needed = graph diameter, and LSH duplicate
    * clusters are near-cliques (diameter 2-3), so this converges in a
    * handful of BROADCAST- or shuffle-joined rounds; each round is one
    * join + one groupBy on well-distributed keys. The driver loop holds
    * only the convergence counter — labels never leave the cluster.
    *
    * Returns (id, cluster_id) for every id appearing in `pairs`, where
    * cluster_id = min id of the component (deterministic).
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 20): DataFrame =
    Frames.returning(connectedComponentsIn(_, pairs, aCol, bCol, maxIter))

  /** [[connectedComponents]] with its frames pinned in the caller's
    * scope `f`; the result reads the last round, which `f` frees.
    */
  private[graft] def connectedComponentsIn(f: Frames, pairs: DataFrame,
      aCol: String, bCol: String, maxIter: Int): DataFrame = {
    // materialize the pair relation ONCE: the undirected-edge union reads
    // it twice, and `pairs` is typically the output of a whole LSH
    // pipeline that must not re-execute per direction (or per round)
    val p = f.checkpoint(pairs
      .select(col(aCol).cast("long").as("a"), col(bCol).cast("long").as("b")))
    val edges = f.persist(p
      .union(p.select(col("b").as("a"), col("a").as("b")))
      .distinct())
    edges.count() // materialize so the pair relation can release NOW
    f.release(p)
    // eager localCheckpoint each round: an iterative join loop otherwise
    // grows a lineage that DOUBLES per round (`labels` appears twice in
    // the next round's plan) — plain persist leaves plan analysis /
    // rendering exponential even though execution would hit the cache.
    // The checkpoint truncates the plan to a flat LogicalRDD; round k−1's
    // blocks are released once round k is materialized. (On a real
    // cluster point spark.checkpoint.dir at durable storage and use
    // checkpoint() for executor-loss tolerance.)
    var labels = f.checkpoint(edges.select(col("a").as("id")).distinct()
      .select(col("id"), col("id").as("label")))
    var prevRound = labels
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val nbrMin = edges
        .join(labels.select(col("id").as("b"), col("label").as("nl")), Seq("b"))
        .groupBy(col("a").as("id")).agg(min("nl").as("nbr_min"))
      val next = f.checkpoint(labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"), col("label"),
          least(col("label"), coalesce(col("nbr_min"), col("label"))).as("next_label")))
      converged = next.filter(col("next_label") < col("label")).isEmpty
      // round k−1 is never read again (round k is a flat checkpoint)
      f.release(prevRound)
      prevRound = next
      labels = next.select(col("id"), col("next_label").as("label"))
      iter += 1
    }
    f.release(edges)
    // a silent early exit would split one component across cluster ids —
    // multiple "survivors" for one duplicate cluster. Labels move one hop
    // per round, so this only trips on components of diameter > maxIter;
    // fail loudly rather than dedup wrongly.
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds — a " +
          "component has diameter > maxIter; raise maxIter")
    labels.select(col("id"), col("label").as("cluster_id"))
  }

  /** Incremental cluster-label maintenance for continuous ingestion:
    * merge a new batch's pairs into PERSISTED labels without recomputing
    * the closure of the whole accumulated pair set.
    *
    * Old labels are a closure summary — each (id, cluster_id) row is an
    * edge to the component's representative — so correctness needs
    * propagation only over the components the new pairs TOUCH:
    *  1. touched ids = ids in `newPairs`; affected components = their
    *     old cluster ids (one semi-join; batch-sized, broadcastable);
    *  2. subgraph = affected components' label rows as (id, cluster_id)
    *     edges ∪ `newPairs`; run [[connectedComponents]] on it — the
    *     iterative loop never sees the untouched corpus;
    *  3. untouched labels pass through an anti-join byte-identical.
    *
    * New pairs can bridge two old components through a new doc — both
    * are affected and re-label to the global min id. Persist the result
    * (e.g. parquet, like the pair/index state in
    * [[graft.streaming.StreamingOps.continuousNearDup]]) and feed it back
    * as `oldLabels` on the next batch.
    *
    * 100 TB shape: corpus-sized `oldLabels` crosses exactly three
    * single-shuffle joins (semi on id, semi + anti on cluster_id, all
    * against batch-sized broadcast sides); the multi-round propagation
    * cost scales with the batch's neighborhood, not the corpus.
    */
  def incrementalConnectedComponents(oldLabels: DataFrame, newPairs: DataFrame,
      aCol: String = "id_a", bCol: String = "id_b", maxIter: Int = 20): DataFrame =
    Frames.returning { f =>
      val (labels, affected, subLabels) =
        incrementalComponentParts(f, oldLabels, newPairs, aCol, bCol, maxIter)
      labels.join(affected, Seq("cluster_id"), "left_anti")
        .select(col("id"), col("cluster_id"))
        .union(subLabels)
    }

  /** Only the labels CHANGED by the new pairs (re-propagated affected
    * components + newly labeled ids) — the append-only delta a
    * continuous pipeline persists per batch
    * ([[graft.streaming.StreamingOps.continuousClusteredDedup]]); the
    * current label of an id is its row in the LATEST batch that touched
    * it. Same semantics as [[incrementalConnectedComponents]] minus the
    * corpus-sized untouched pass-through.
    */
  def incrementalComponentDelta(oldLabels: DataFrame, newPairs: DataFrame,
      aCol: String = "id_a", bCol: String = "id_b", maxIter: Int = 20): DataFrame =
    Frames.returning(
      incrementalComponentParts(_, oldLabels, newPairs, aCol, bCol, maxIter)._3)

  /** (old labels, affected cluster ids, re-propagated labels); the
    * last two read frames pinned in the caller's scope `f`. */
  private[graft] def incrementalComponentParts(f: Frames,
      oldLabels: DataFrame, newPairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int): (DataFrame, DataFrame, DataFrame) = {
    // materialize once: read for touched ids AND as subgraph edges (and
    // newPairs is typically a whole incremental-LSH pipeline)
    val np = f.persist(newPairs
      .select(col(aCol).cast("long").as("a"), col(bCol).cast("long").as("b")))
    val labels = oldLabels.select(
      col("id").cast("long").as("id"), col("cluster_id").cast("long").as("cluster_id"))
    val touched = np.select(col("a").as("id"))
      .union(np.select(col("b").as("id"))).distinct()
    val affected = f.persist(labels.join(touched, Seq("id"), "left_semi")
      .select("cluster_id").distinct())
    // the semi-join scans ALL of np, so this one action materializes both
    // caches — np's via the scan, affected's via the persist
    affected.count()
    val subEdges = labels.join(affected, Seq("cluster_id"), "left_semi")
      .select(col("id").as("a"), col("cluster_id").as("b"))
      .union(np)
    val subLabels = connectedComponentsIn(f, subEdges, "a", "b", maxIter)
      .select(col("id"), col("cluster_id"))
    // the propagation result is materialized inside the loop above; np
    // is never read again (the anti-join pass-through needs only
    // `labels` + cached `affected`) — release it now
    f.release(np)
    (labels, affected, subLabels)
  }

  /** DELETE (takedown) face of the cluster-label state — the tombstone
    * discipline ([[graft.operators.Similarity.ivfDelete]]) applied to
    * dedup decisions: remove `victims` from a maintained
    * (id, cluster_id) label relation so the result equals REBUILDING
    * the closure over the surviving pairs — victims' label rows gone,
    * and every component a victim belonged to re-closured, because a
    * victim's departure can do more than drop one row:
    *
    *  - re-elect the representative (cluster_id is the component's min
    *    id — deleting the min re-labels every member to the next min,
    *    which re-elects the cluster's SURVIVOR in
    *    [[survivorsFromLabels]]);
    *  - SPLIT the component (a victim can be the only bridge between
    *    two sub-clusters — the label summary alone cannot see this,
    *    which is why this face requires the accumulated PAIR relation,
    *    the system of record the label store summarizes);
    *  - orphan members entirely (an id whose every pair touched a
    *    victim drops out of the label set, exactly as a rebuild over
    *    survivors would never label it).
    *
    * `labels` must be the closure over exactly `pairs` (the
    * [[incrementalConnectedComponents]] maintenance invariant); then
    * both endpoints of any pair share a component, so the affected
    * subgraph is recovered with ONE endpoint semi-join.
    *
    * 100 TB shape ([[incrementalConnectedComponents]]'s): the
    * corpus-sized frames cross single-shuffle joins only — `labels`
    * one semi (victims, broadcastable) + one semi + one anti (affected
    * cluster ids, broadcastable); `pairs` one semi (affected members)
    * + two anti joins (victims) — and the multi-round propagation runs
    * on the affected components' subgraph alone, never the corpus.
    */
  def deleteFromLabels(labels: DataFrame, pairs: DataFrame,
      victims: DataFrame, idCol: String, aCol: String = "id_a",
      bCol: String = "id_b", maxIter: Int = 20): DataFrame =
    Frames.returning { f =>
      // read thrice (affected semi + two pair anti-joins): materialize once
      val v = f.persist(
        victims.select(col(idCol).cast("long").as("id")).distinct())
      val lab = labels.select(col("id").cast("long").as("id"),
        col("cluster_id").cast("long").as("cluster_id"))
      val p = pairs
        .select(col(aCol).cast("long").as("a"), col(bCol).cast("long").as("b"))
      val (affected, _, reclosed) =
        affectedReclosure(f, lab, v, p, maxIter, materializeMembers = false)
      // everything outside the affected components passes through
      // untouched, byte-identical
      lab.join(affected, Seq("cluster_id"), "left_anti")
        .select(col("id"), col("cluster_id"))
        .union(reclosed.select(col("id"), col("cluster_id")))
    }

  /** The victims→affected-components→surviving-subgraph→re-closure core
    * shared by the batch label-store takedown ([[deleteFromLabels]]) and
    * the streaming cluster-state takedown
    * ([[graft.streaming.StreamingOps.clusterStateDelete]]) — ONE
    * implementation of the proven-subtle closure logic (representative
    * re-election, bridge-removal splits, orphan drops — see
    * [[deleteFromLabels]]'s scaladoc for why each matters), so a
    * hardening fix cannot land in one face and silently miss the other.
    *
    * `lab` (id, cluster_id) must be the CURRENT closure over exactly the
    * pair relation `p` (a, b) — then both endpoints of any pair share a
    * component and the affected subgraph is recovered with ONE endpoint
    * semi-join. `v` (id) is the victim list, already materialized by the
    * caller (it is scanned several times here and typically again by the
    * caller). All columns long-typed by the caller.
    *
    * Returns (affected cluster ids, affected members (id), re-closed
    * labels (id, cluster_id) over the affected subgraph's surviving
    * pairs); what they read is pinned in the caller's scope `f`.
    * 100 TB shape: the corpus-sized frames cross single-shuffle joins
    * against the broadcastable victim/affected frames only; the
    * multi-round propagation runs on the affected components' subgraph
    * alone.
    */
  private[graft] def affectedReclosure(f: Frames, lab: DataFrame,
      v: DataFrame, p: DataFrame, maxIter: Int,
      materializeMembers: Boolean = true)
      : (DataFrame, DataFrame, DataFrame) = {
    // the components a victim belongs to — bounded, read repeatedly
    val affected = f.persist(lab.join(v, Seq("id"), "left_semi")
      .select("cluster_id").distinct())
    affected.count() // one action materializes v (scanned) + affected
    val members0 = lab.join(affected, Seq("cluster_id"), "left_semi")
      .select(col("id"))
    // the STREAMING caller reads `members` a second time after the
    // re-closure (its per-member override rows) — checkpoint it once
    // there; the batch caller consumes it exactly once (subPairs), where
    // an eager materialization is pure cost (A/B'd pre/post-unification
    // at sf0.1: the batch face carries no penalty in the lazy shape)
    val members = if (materializeMembers) f.checkpoint(members0) else members0
    // surviving pairs WITHIN affected components: closure ⇒ one
    // endpoint's membership implies the other's
    val subPairs = p
      .join(members.select(col("id").as("a")), Seq("a"), "left_semi")
      .join(v.select(col("id").as("a")), Seq("a"), "left_anti")
      .join(v.select(col("id").as("b")), Seq("b"), "left_anti")
    (affected, members,
      connectedComponentsIn(f, subPairs, "a", "b", maxIter))
  }

  /** The end product of near-dup dedup: the corpus with one survivor per
    * duplicate cluster (the min id) — every non-survivor cluster member
    * anti-joined away, docs with no near-dup untouched. `pairs` is any
    * near-dup pair relation ([[minhashLsh]], [[simhash]],
    * [[embeddingCosine]], ...).
    */
  def nearDupSurvivors(docs: DataFrame, idCol: String,
      pairs: DataFrame, aCol: String = "id_a", bCol: String = "id_b",
      maxIter: Int = 20): DataFrame =
    survivorsFromLabels(docs, idCol,
      connectedComponents(pairs, aCol, bCol, maxIter))

  /** Survivors from an existing (id, cluster_id) label relation — e.g.
    * the maintained labels of [[incrementalConnectedComponents]] or
    * [[graft.streaming.StreamingOps.currentClusterLabels]]: a
    * continuously-ingesting pipeline gets its deduped corpus view
    * without re-deriving pairs or closures.
    */
  def survivorsFromLabels(docs: DataFrame, idCol: String,
      labels: DataFrame): DataFrame = {
    val losers = labels
      .filter(col("id") =!= col("cluster_id"))
      .select(col("id").as(idCol))
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /** Exact pairwise embedding cosine within blocks (oracle-friendly
    * companion to `embeddingCosine`, same contract as
    * `ngramJaccardBlocked`).
    */
  def embeddingCosineBlocked(df: DataFrame, idCol: String, vecCol: String,
      blockCols: Seq[String], threshold: Double): DataFrame = {
    val a = df.select(
      (col(idCol).as("id_a") +: blockCols.map(col)) :+ col(vecCol).as("v_a"): _*)
    val b = df.select(
      (col(idCol).as("id_b") +: blockCols.map(col)) :+ col(vecCol).as("v_b"): _*)
    a.join(b, blockCols).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(V.cosine(col("v_a"), col("v_b")), 6).as("cosine"))
      .filter(col("cosine") >= threshold)
  }
}
