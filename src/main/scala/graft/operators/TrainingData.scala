package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Frames
import graft.functions.{TextFunctions => T}

/** The composed product use-case: prepare a raw document corpus for LLM
  * training — quality scoring, language filtering, deduplication, token
  * accounting — as one declarative chain.
  *
  * Every stage is column expressions or a digest-keyed groupBy, so the
  * whole filter chain collapses into the scan projection and the only
  * shuffle is the dedup's 16-byte-digest aggregation. Near-dup stages
  * (minhashLsh / simhash) compose after this deterministic core.
  */
object TrainingData {

  /** Unicode NFC at every text entry of the composed pipelines: the same
    * visible text can arrive precomposed or decomposed, and byte-keyed
    * dedup digests / shingle hashes / n-gram hashes silently treat the
    * two forms as different documents ([[graft.functions.UnicodeNorm]]).
    * Normalizing INSIDE the operators (not as a caller convention) is
    * what makes the guarantee hold: a decomposed-form duplicate dedups,
    * and a decomposed-form benchmark quote still decontaminates.
    * Null-propagating; a no-op (with an ASCII fast path) on the
    * overwhelming majority of crawl bytes.
    */
  private def nfc(c: Column): Column = graft.functions.UnicodeNorm.nfc(c)

  /** Deterministic preparation chain:
    *  1. Unicode-NFC the text (see [[nfc]] — the dedup digest must not
    *     split canonical-equivalent duplicates),
    *  2. annotate quality / language / token count,
    *  3. keep docs meeting the quality floor in accepted languages with
    *     at least `minTokens` tokens,
    *  4. exact-dedup survivors (min doc id per identical text).
    *
    * Returns the surviving docs with their annotations.
    */
  def prepare(docs: DataFrame, idCol: String, textCol: String,
      minQuality: Double, langs: Seq[String], minTokens: Int): DataFrame = {
    val annotated = docs
      .select(col(idCol), nfc(col(textCol)).as(textCol))
      .select(
      col(idCol),
      col(textCol),
      T.qualityScore(col(textCol)).as("quality"),
      T.langId(col(textCol)).as("lang"),
      T.tokenCount(col(textCol)).cast("long").as("n_tokens"))
    val kept = annotated.filter(
      col("quality") >= minQuality &&
        col("lang").isin(langs: _*) &&
        col("n_tokens") >= minTokens)
    Dedup.exactSurvivors(kept, idCol, Seq(textCol))
      .select(col(idCol), col("quality"), col("lang"), col("n_tokens"))
  }

  /** Streaming variant of [[prepare]]: the quality / language / token
    * annotations are stateless column expressions, so they run unchanged
    * inside a streaming projection; exact dedup becomes watermarked
    * content dedup (same md5 content digest as the batch path,
    * `dropDuplicatesWithinWatermark` state bounded by the horizon).
    * One chain serves both the backfill (batch) and the live feed.
    */
  def prepareStream(docs: DataFrame, idCol: String, textCol: String,
      tsCol: String, watermark: String,
      minQuality: Double, langs: Seq[String], minTokens: Int): DataFrame = {
    val annotated = docs
      // same NFC-before-digest rule as the batch path — the two faces
      // must produce one digest for one canonical text
      .select(col(idCol), col(tsCol), nfc(col(textCol)).as(textCol))
      .select(
      col(idCol), col(tsCol),
      md5(coalesce(col(textCol), lit("\u0001"))).as("__digest"),
      T.qualityScore(col(textCol)).as("quality"),
      T.langId(col(textCol)).as("lang"),
      T.tokenCount(col(textCol)).cast("long").as("n_tokens"))
    val kept = annotated.filter(
      col("quality") >= minQuality &&
        col("lang").isin(langs: _*) &&
        col("n_tokens") >= minTokens)
    graft.streaming.StreamingOps
      .streamingDedup(kept, tsCol, watermark, Seq("__digest"))
      .select(col(idCol), col(tsCol), col("quality"), col("lang"), col("n_tokens"))
  }

  /** Benchmark decontamination (train/test overlap removal): count, per
    * corpus doc, the distinct word-`n`-grams it shares with a benchmark /
    * evaluation set. Docs with any overlap are the contamination set a
    * pipeline drops before training.
    *
    * Scale shape: eval sets are small, so the benchmark's distinct gram
    * HASHES (8-byte longs, not strings) broadcast; the corpus side is one
    * narrow pass (native n-gram hashing in the scan projection, explode,
    * broadcast-hash semi join) — corpus grams for non-matching docs never
    * shuffle, and the only exchange carries (id, gram-hash) pairs for
    * actual matches into the per-doc count.
    */
  def decontaminate(docs: DataFrame, idCol: String, textCol: String,
      benchmark: DataFrame, benchTextCol: String, n: Int = 8): DataFrame = {
    import graft.functions.ArrayOps
    // NFC on BOTH sides (see [[nfc]]): a decomposed-form crawl copy of a
    // precomposed benchmark passage must still hash to the same grams
    val docGrams = docs.select(col(idCol),
      explode(ArrayOps.wordNgramHashes(T.normTokens(nfc(col(textCol))), n)).as("g"))
    val benchGrams = benchmark.select(
      explode(ArrayOps.wordNgramHashes(T.normTokens(nfc(col(benchTextCol))), n)).as("g"))
      .distinct()
    // per-doc gram hashes are already distinct (wordNgramHashes dedups),
    // so the join emits each overlapping gram once and count == distinct
    docGrams.join(broadcast(benchGrams), Seq("g"))
      .groupBy(idCol).agg(count(lit(1)).as("n_overlap_grams"))
  }

  /** [[decontaminate]] for benchmark sets too big to broadcast raw: a
    * [[graft.functions.Bloom]] prefilter over the gram hashes, then the
    * exact confirm join on the (tiny) bloom survivors. Output is
    * IDENTICAL to [[decontaminate]] — bloom false positives are removed
    * by the confirm join, and false negatives cannot exist — so the two
    * share one oracle; the bloom only changes WHERE work happens.
    *
    * Scale shape: at `bitsPerElem = 16` the driver/broadcast cost is
    * 2 bytes per benchmark gram versus 8 for the raw hash set (plus
    * hashing the whole union of eval sets once, not per probe); on the
    * corpus side the k bit tests run inside the scan's codegen'd
    * projection, so non-matching grams (approximately all of them, fpp
    * ~0.05 %) die before the explode output ever reaches a shuffle. The
    * confirm join then touches only true overlaps + the fpp sliver —
    * and is broadcast ONLY when the gram set actually fits under the
    * session's auto-broadcast threshold (`nGrams` is already counted
    * for the bloom sizing, so the gate is free); above it, both sides
    * shuffle on the well-distributed 8-byte gram hash, which is cheap
    * precisely because the bloom already shrank the probe side to
    * ~true-overlaps. Forcing the broadcast would re-create the problem
    * this operator exists to avoid.
    *
    * Size ceiling: the bloom word array itself is a broadcast plan
    * literal of `bitsPerElem/8` bytes per gram — linear in the
    * benchmark, just 4× smaller than the raw hash set at the default
    * 16 bits. It caps out around a few hundred million grams (~1 GB of
    * literal at 5e8 grams); past that, split the gram space and run
    * per-bucket blooms, or skip the prefilter and let the confirm join
    * shuffle both full sides.
    */
  def decontaminateBloom(docs: DataFrame, idCol: String, textCol: String,
      benchmark: DataFrame, benchTextCol: String, n: Int = 8,
      bitsPerElem: Int = 16, k: Int = 4): DataFrame = {
    import graft.functions.{ArrayOps, Bloom}
    require(bitsPerElem >= 2, "bitsPerElem >= 2")
    val benchGrams = benchmark.select(
      explode(ArrayOps.wordNgramHashes(T.normTokens(nfc(col(benchTextCol))), n)).as("g"))
      .distinct()
      .localCheckpoint(true) // feeds the size count, the build, the confirm
    val nGrams = benchGrams.count()
    val numWords = math.max(1L, (nGrams * bitsPerElem + 63L) / 64L).toInt
    val words = Bloom.build(benchGrams, "g", numWords, k)
    val docGrams = docs.select(col(idCol),
      explode(ArrayOps.wordNgramHashes(T.normTokens(nfc(col(textCol))), n)).as("g"))
    // ~32 bytes per broadcast hash-relation row of one long; only hint
    // the broadcast when the whole gram set provably fits
    val threshold = docs.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    val confirm =
      if (threshold > 0 && nGrams * 32L < threshold) broadcast(benchGrams)
      else benchGrams
    docGrams
      .filter(Bloom.mightContain(col("g"), words, k))
      .join(confirm, Seq("g"))
      .groupBy(idCol).agg(count(lit(1)).as("n_overlap_grams"))
  }

  /** FUZZY decontamination: corpus docs NEAR-duplicating a benchmark doc
    * (MinHash-LSH over character shingles, exact-Jaccard verified) — the
    * contamination [[decontaminate]]'s exact n-gram overlap misses when
    * eval items were paraphrased, reformatted, or lightly edited before
    * landing in the crawl (the GPT-3/PaLM appendices document exactly
    * this failure mode). Returns one row per contaminated corpus doc:
    * `(id, n_bench_matches, max_jaccard)`.
    *
    * Scale shape ([[Dedup.minhashLsh]]'s discipline, bipartite): each
    * side's shingle pass is checkpointed once (it feeds the bucket
    * branch AND the verify join); candidates meet in a BIPARTITE
    * band-bucket join of NARROW (id, sig, bucket) rows — corpus×bench
    * only, never corpus×corpus, and a hot bucket costs
    * |docs-in-bucket| × |bench-in-bucket| where the bench factor is
    * eval-set-sized; the signature-agreement estimate runs INLINE on the
    * joined row, so a sub-estimate candidate is never deduped, never
    * re-joined, never carries shingles. Only estimate survivors (a tiny
    * distinct pair set) pull in the full shingle arrays — bench side
    * first (eval-set-sized, broadcast), then the doc side streams off
    * its checkpoint against the broadcast candidate set, so the
    * corpus-sized shingle table itself never shuffles. One doc-keyed
    * aggregation emits the drop list. (A first cut deduped WIDE rows —
    * shingle arrays through the bucket-join shuffle — and ran 9× slower
    * than the self-LSH at the same SF.)
    */
  /** Containment decontamination — the ASYMMETRIC overlap the Jaccard
    * paths structurally miss: a short benchmark passage quoted inside a
    * long training document has containment |E ∩ D| / |E| ≈ 1 but
    * Jaccard |E ∩ D| / |E ∪ D| ≈ |E|/|D| ≈ 0, so a symmetric threshold
    * can never fire (Broder 1997 separates resemblance from containment
    * for exactly this reason). Returns every (corpus doc, eval doc) pair
    * whose distinct-shingle containment of the EVAL side meets
    * `threshold` — the "training doc contains the eval answer" detector.
    *
    * Scale shape: the benchmark side is eval-set-sized and rides a
    * BROADCAST of its exploded shingles; the corpus is ONE streamed
    * pass — the broadcast join keeps only shingles the eval set
    * contains (nothing corpus-sized shuffles), and the per-pair match
    * count is a map-side-combined aggregation on (corpus, eval) keys.
    * Shared shingles count once per pair: both sides' shingle sets are
    * DISTINCT by construction, so the token join emits exactly one row
    * per shared shingle.
    */
  def decontaminateContainment(docs: DataFrame, idCol: String, textCol: String,
      benchmark: DataFrame, benchIdCol: String, benchTextCol: String,
      shingleN: Int = 5, threshold: Double = 0.8): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, "threshold in (0, 1]")
    import graft.functions.ArrayOps
    // NFC before the byte-level shingles (see [[nfc]]) — containment is
    // exactly the quoted-benchmark-passage check canonical-form drift
    // would blind
    def norm(c: Column) = regexp_replace(trim(lower(nfc(c))), "\\s+", " ")
    val evalToks = benchmark.filter(col(benchTextCol).isNotNull)
      .select(col(benchIdCol).as("__eid"),
        ArrayOps.shingleHashes(norm(col(benchTextCol)), shingleN).as("__eg"))
      .filter(size(col("__eg")) > 0)
      .select(col("__eid"), size(col("__eg")).as("__se"),
        explode(col("__eg")).as("__tok"))
    val corpusToks = docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("__cid"),
        ArrayOps.shingleHashes(norm(col(textCol)), shingleN).as("__cg"))
      .select(col("__cid"), explode(col("__cg")).as("__tok"))
    corpusToks.join(broadcast(evalToks), Seq("__tok"))
      .groupBy("__cid", "__eid", "__se")
      .agg(count(lit(1)).as("__m"))
      // filter on the RAW ratio, round for output (the operator-order
      // convention every thresholded query follows)
      .filter(col("__m").cast("double") / col("__se") >= threshold)
      .select(col("__cid").as(idCol), col("__eid").as(benchIdCol),
        round(col("__m").cast("double") / col("__se"), 6).as("containment"))
  }

  private val decontamRoot = StoreRoot.of("decontamIndexWrite")
  private val containmentRoot = StoreRoot.of("containmentIndexWrite")
  // the faces both layouts share
  private val gramsRoot =
    StoreRoot.of("decontamIndexWrite or containmentIndexWrite")

  /** Persist the decontamination gram index of a corpus under `path` —
    * the probe-and-append discipline ([[bm25IndexWrite]],
    * [[Dedup.minhashIndex]]) applied to benchmark screening:
    * [[decontaminate]] re-tokenizes and re-shingles the WHOLE corpus on
    * every probe, right for a one-off audit but wasteful for the real
    * cadence — new benchmarks arrive monthly, the corpus barely changes.
    * Two tables:
    *
    *  - `grams` — (doc_id, g) for every distinct word-n-gram hash of
    *    every doc, hash-partitioned on `gb = pmod(g, nBuckets)` and
    *    sorted by `g` within partitions: a probe prunes to its grams'
    *    bucket partitions statically, and the sort gives parquet
    *    row-group min/max skipping on `g` within them — probe cost
    *    scales with the BENCHMARK's gram footprint, not the corpus.
    *  - `meta` — one (n, n_buckets) row: the gram width is a BUILD-time
    *    property (grams of a different n can never match), so the probe
    *    reads it from the index instead of trusting a caller argument.
    *
    * Text is NFC-normalized before hashing on both build and probe
    * sides (see [[nfc]]), matching [[decontaminate]]. Append new corpus
    * docs with [[decontamIndexAppend]] (ids must be new — a changed
    * re-ingested doc is a rebuild); probe with
    * [[decontaminateFromIndex]], whose output is IDENTICAL to running
    * [[decontaminate]] against the indexed corpus — equality is the
    * index's contract and the shared oracle.
    */
  def decontamIndexWrite(docs: DataFrame, idCol: String, textCol: String,
      path: String, n: Int = 8, nBuckets: Int = 64): Unit = {
    require(n >= 1, "n >= 1")
    require(nBuckets >= 1, "nBuckets >= 1")
    // rebuild under _MAINT: the land-base-then-retire-victims crash
    // window is loud, not a silent stale-victim fold (withRebuildMarker)
    AtomicBatches.withRebuildMarker(docs.sparkSession, path) {
      decontamGramsOut(docs, idCol, textCol, path, n, nBuckets,
        overwrite = true)
      docs.sparkSession.range(1)
        .select(lit(n).as("n"), lit(nBuckets).as("n_buckets"))
        .write.mode("overwrite").parquet(s"$path/meta")
      // a rebuild supersedes pending deletions and an interrupted
      // compaction — retired AFTER the new base lands
      VictimChannel.retire(docs.sparkSession, path)
    }
  }

  /** DELETE (takedown) face of a [[decontamIndexWrite]] index: one
    * bounded id-list batch staged to the [[VictimChannel]] — nothing
    * bucket-partitioned is rewritten at delete time. Every probe
    * anti-joins the (small, broadcast) victim list, so a deleted doc's
    * grams stop matching immediately — the probe answers exactly as if
    * the index had been built over the corpus minus the victims.
    * Physical removal is [[decontamIndexCompact]]'s job; appends of a
    * deleted id fail loudly until then (these indexes are versionless —
    * the new-ids-only append contract — so a pending victim entry would
    * silently hide the re-inserted rows).
    */
  def decontamIndexDelete(ids: DataFrame, idCol: String,
      path: String): Unit = {
    val root = gramsRoot(ids.sparkSession, path, "index delete")
    // loud on a non-index path: both layouts persist a meta table
    root.read("meta")
    VictimChannel.stage(root, ids.select(col(idCol)).distinct())()
  }

  /** [[decontamIndexDelete]] for a [[containmentIndexWrite]] index. */
  def containmentIndexDelete(ids: DataFrame, idCol: String,
      path: String): Unit =
    decontamIndexDelete(ids, idCol, path)

  /** Physically remove a [[decontamIndexWrite]] index's pending victims:
    * rewrite only the victim-touched gram buckets (dynamic partition
    * overwrite, g-sorted within partitions so probes keep their
    * row-group skipping), then retire the victim list. EXCLUSIVE
    * maintenance via the `_MAINT` marker: probes/deletes/appends fail
    * loudly while it runs; a crash leaves the marker; re-run with
    * `takeover = true`.
    */
  def decontamIndexCompact(spark: org.apache.spark.sql.SparkSession,
      path: String, takeover: Boolean = false): Unit =
    indexCompact(spark, path, "decontamIndex", "grams", "gb", "g", takeover)

  /** [[decontamIndexCompact]] for a [[containmentIndexWrite]] index. */
  def containmentIndexCompact(spark: org.apache.spark.sql.SparkSession,
      path: String, takeover: Boolean = false): Unit =
    indexCompact(spark, path, "containmentIndex", "shingles", "sb", "tok",
      takeover)

  private def indexCompact(spark: org.apache.spark.sql.SparkSession,
      path: String, index: String, table: String, bucketCol: String,
      sortCol: String, takeover: Boolean): Unit =
    VictimChannel.compact(spark, path, takeover, s"${index}Compact",
        s"${index}Write") { (root, v) =>
      val store = root.read(table)
      // the store's id column is its FIRST column
      val storeIdCol = store.columns.head
      // shared rewrite protocol (AtomicBatches): only victim-touched
      // buckets rewrite; sort order preserved for row-group skipping
      val joined = store.join(
        v.select(col("id").as(storeIdCol), lit(true).as("__dead")),
        Seq(storeIdCol), "left_outer")
      AtomicBatches.pruneDeadPartitionRows(spark, s"$path/$table",
        bucketCol, joined, col("__dead").isNotNull,
        store.columns.toSeq, sortWithin = Some(sortCol))
    }

  /** Append a new corpus batch to a [[decontamIndexWrite]] index under
    * its frozen gram width. Ids must be disjoint from the indexed
    * corpus.
    */
  def decontamIndexAppend(newDocs: DataFrame, idCol: String,
      textCol: String, path: String): Unit = {
    val root = decontamRoot(newDocs.sparkSession, path, "decontamIndexAppend")
    VictimChannel.requireFresh(root, newDocs, idCol)
    val meta = root.meta
    decontamGramsOut(newDocs, idCol, textCol, path,
      meta.getAs[Int]("n"), meta.getAs[Int]("n_buckets"), overwrite = false)
  }

  private def decontamGramsOut(docs: DataFrame, idCol: String,
      textCol: String, path: String, n: Int, nBuckets: Int,
      overwrite: Boolean): Unit = {
    import graft.functions.ArrayOps
    docs
      .select(col(idCol),
        explode(ArrayOps.wordNgramHashes(T.normTokens(nfc(col(textCol))), n))
          .as("g"))
      .withColumn("gb", pmod(col("g"), lit(nBuckets.toLong)))
      .repartition(col("gb")) // one file per bucket, not files × tasks
      .sortWithinPartitions("g") // row-group min/max skipping on probes
      .write.mode(if (overwrite) "overwrite" else "append")
      .partitionBy("gb").parquet(s"$path/grams")
  }

  /** Probe a [[decontamIndexWrite]] index with a benchmark set:
    * identical output to [[decontaminate]] over the indexed corpus
    * (doc_id, n_overlap_grams), WITHOUT re-scanning corpus text. Reads:
    * the benchmark grams' bucket partitions of the narrow (doc_id, g)
    * index — statically pruned via the collected ≤nBuckets bucket list —
    * with the broadcast-hash join's `g` filter reaching the sorted
    * row groups. A monthly benchmark probe against 100 TB of indexed
    * text touches gigabytes of longs, not the text.
    */
  def decontaminateFromIndex(benchmark: DataFrame, benchTextCol: String,
      path: String, idCol: String): DataFrame = {
    import graft.functions.ArrayOps
    val root = decontamRoot(benchmark.sparkSession, path,
      "decontaminateFromIndex")
    val n = root.meta.getAs[Int]("n")
    val nBuckets = root.meta.getAs[Int]("n_buckets")
    val benchGrams = benchmark.select(
      explode(ArrayOps.wordNgramHashes(T.normTokens(nfc(col(benchTextCol))), n))
        .as("g"))
      .distinct()
      .localCheckpoint(true) // bucket-list collect + join both read it
    // ≤nBuckets driver rows through the SAME pmod the writer used
    val buckets = benchGrams
      .select(pmod(col("g"), lit(nBuckets.toLong)))
      .distinct().collect().map(_.getLong(0))
    root.victims.minus(root.read("grams")
        .filter(col("gb").isin(buckets: _*)), idCol)
      .join(broadcast(benchGrams), Seq("g"))
      .groupBy(idCol).agg(count(lit(1)).as("n_overlap_grams"))
  }

  /** [[decontamIndexWrite]]'s sibling for CONTAINMENT screening: the
    * persisted distinct-shingle index of a corpus. Same layout
    * discipline — `shingles` (doc_id, tok) hash-partitioned on
    * `sb = pmod(tok, nBuckets)`, tok-sorted within partitions; `meta`
    * freezes (shingle_n, n_buckets) at build time (shingles of a
    * different width can never match). Probe with
    * [[decontaminateContainmentFromIndex]] — identical output to
    * [[decontaminateContainment]] over the indexed corpus; append with
    * [[containmentIndexAppend]] (new ids only).
    */
  def containmentIndexWrite(docs: DataFrame, idCol: String, textCol: String,
      path: String, shingleN: Int = 5, nBuckets: Int = 64): Unit = {
    require(shingleN >= 1, "shingleN >= 1")
    require(nBuckets >= 1, "nBuckets >= 1")
    // rebuild under _MAINT — the decontamIndexWrite rationale
    AtomicBatches.withRebuildMarker(docs.sparkSession, path) {
      containmentShinglesOut(docs, idCol, textCol, path, shingleN, nBuckets,
        overwrite = true)
      docs.sparkSession.range(1)
        .select(lit(shingleN).as("shingle_n"), lit(nBuckets).as("n_buckets"))
        .write.mode("overwrite").parquet(s"$path/meta")
      VictimChannel.retire(docs.sparkSession, path)
    }
  }

  /** Append a new corpus batch under the index's frozen shingle width.
    * Ids must be disjoint from the indexed corpus.
    */
  def containmentIndexAppend(newDocs: DataFrame, idCol: String,
      textCol: String, path: String): Unit = {
    val root = containmentRoot(newDocs.sparkSession, path,
      "containmentIndexAppend")
    VictimChannel.requireFresh(root, newDocs, idCol)
    val meta = root.meta
    containmentShinglesOut(newDocs, idCol, textCol, path,
      meta.getAs[Int]("shingle_n"), meta.getAs[Int]("n_buckets"),
      overwrite = false)
  }

  private def containmentShinglesOut(docs: DataFrame, idCol: String,
      textCol: String, path: String, shingleN: Int, nBuckets: Int,
      overwrite: Boolean): Unit = {
    import graft.functions.ArrayOps
    def norm(c: Column) = regexp_replace(trim(lower(nfc(c))), "\\s+", " ")
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol),
        explode(ArrayOps.shingleHashes(norm(col(textCol)), shingleN))
          .as("tok"))
      .withColumn("sb", pmod(col("tok"), lit(nBuckets.toLong)))
      .repartition(col("sb"))
      .sortWithinPartitions("tok")
      .write.mode(if (overwrite) "overwrite" else "append")
      .partitionBy("sb").parquet(s"$path/shingles")
  }

  /** Probe a [[containmentIndexWrite]] index with a benchmark set:
    * identical output to [[decontaminateContainment]] over the indexed
    * corpus — every (corpus doc, eval doc) pair whose eval-side
    * containment meets `threshold` — WITHOUT re-shingling corpus text.
    * The eval side broadcasts its exploded shingles exactly like the
    * direct operator; the corpus side is the statically bucket-pruned
    * narrow (doc_id, tok) index instead of a full text scan.
    */
  def decontaminateContainmentFromIndex(benchmark: DataFrame,
      benchIdCol: String, benchTextCol: String, path: String,
      idCol: String, threshold: Double = 0.8): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, "threshold in (0, 1]")
    import graft.functions.ArrayOps
    val root = containmentRoot(benchmark.sparkSession, path,
      "decontaminateContainmentFromIndex")
    val shingleN = root.meta.getAs[Int]("shingle_n")
    val nBuckets = root.meta.getAs[Int]("n_buckets")
    def norm(c: Column) = regexp_replace(trim(lower(nfc(c))), "\\s+", " ")
    val evalToks = benchmark.filter(col(benchTextCol).isNotNull)
      .select(col(benchIdCol).as("__eid"),
        ArrayOps.shingleHashes(norm(col(benchTextCol)), shingleN).as("__eg"))
      .filter(size(col("__eg")) > 0)
      .select(col("__eid"), size(col("__eg")).as("__se"),
        explode(col("__eg")).as("tok"))
      .localCheckpoint(true) // bucket-list collect + join both read it
    val buckets = evalToks
      .select(pmod(col("tok"), lit(nBuckets.toLong)))
      .distinct().collect().map(_.getLong(0))
    root.victims.minus(root.read("shingles")
        .filter(col("sb").isin(buckets: _*)), idCol)
      .join(broadcast(evalToks), Seq("tok"))
      .groupBy(col(idCol), col("__eid"), col("__se"))
      .agg(count(lit(1)).as("__m"))
      // raw-ratio filter, rounded output — the direct operator's order
      .filter(col("__m").cast("double") / col("__se") >= threshold)
      .select(col(idCol), col("__eid").as(benchIdCol),
        round(col("__m").cast("double") / col("__se"), 6).as("containment"))
  }

  def decontaminateFuzzy(docs: DataFrame, idCol: String, textCol: String,
      benchmark: DataFrame, benchIdCol: String, benchTextCol: String,
      numHashes: Int = 16, bands: Int = 8, shingleN: Int = 5,
      threshold: Double = 0.5, estimateSlack: Double = 0.25): DataFrame = {
    import graft.functions.{ArrayOps, VectorFunctions => V}
    // NOT checkpointed: both readers (bucketing + verify) live inside
    // one action, and the scan-side shingle pass is far cheaper to run
    // twice than its array output is to materialize (the
    // Dedup.minhashLsh judgment — measured at sf0.1 the block write
    // costs seconds while the recompute costs ~0.2 s)
    def shingled(df: DataFrame, id: String, text: String): DataFrame = df
      .filter(col(text).isNotNull)
      .select(col(id), ArrayOps.shingleHashes(
        regexp_replace(trim(lower(nfc(col(text)))), "\\s+", " "), shingleN)
        .as("sh")) // NFC before shingle hashes — see [[nfc]]
    def buckets(sh: DataFrame, id: String): DataFrame = sh
      .select(col(id), V.minhashSignatureOfHashes(col("sh"), numHashes).as("sig"))
      .select(col(id), col("sig"),
        explode(V.minhashBands(col("sig"), numHashes, bands)).as("b"))
      .select(col(id), col("sig"),
        concat_ws(":", col("b.band"), col("b.bucket")).as("bucket"))
    val docSh = shingled(docs, idCol, textCol)
    val benchSh = shingled(benchmark, benchIdCol, benchTextCol)
      .select(col(benchIdCol).as("__bid"), col("sh"))
    val estMin = math.max(0.0, threshold - estimateSlack)
    val minAgree = math.ceil(estMin * numHashes - 1e-9).toInt
    val agree = aggregate(
      zip_with(col("sig"), col("__bsig"),
        (a, b) => when(a === b, 1).otherwise(0)),
      lit(0), (acc, x) => acc + x)
    val cands = buckets(docSh, idCol)
      .join(buckets(benchSh, "__bid")
        .select(col("__bid"), col("sig").as("__bsig"), col("bucket")),
        Seq("bucket"))
      .filter(agree >= minAgree)
      .select(col(idCol), col("__bid")).distinct()
    cands
      .join(benchSh.select(col("__bid"), col("sh").as("__bsh")), Seq("__bid"))
      .join(docSh, Seq(idCol))
      .select(col(idCol),
        ArrayOps.jaccardSortedLong(col("sh"), col("__bsh")).as("__j"))
      .filter(col("__j") >= threshold)
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_bench_matches"),
        max(col("__j")).as("max_jaccard"))
  }

  /** Split every doc into overlapping token windows — the standard
    * embedding/RAG prep step (a context-limited encoder can't take whole
    * docs; overlap keeps boundary context). Chunk k covers tokens
    * [k·(size−overlap), k·(size−overlap)+size); the last chunk may be
    * shorter; docs shorter than `size` yield one chunk; empty/null docs
    * yield none.
    *
    * Pure column expressions (tokens split once, `sequence` + `explode` +
    * `slice`), so the 1→N expansion happens in the scan projection with
    * no shuffle at all.
    */
  def chunkTokens(docs: DataFrame, idCol: String, textCol: String,
      size: Int, overlap: Int): DataFrame = {
    require(size > 0 && overlap >= 0 && overlap < size,
      "need size > 0 and 0 <= overlap < size")
    val stride = size - overlap
    val nChunks = greatest(
      (org.apache.spark.sql.functions.size(col("__toks")) - overlap + (stride - 1))
        .divide(stride).cast("long"), lit(1L))
    docs
      .select(col(idCol), T.normTokens(col(textCol)).as("__toks"))
      .filter(org.apache.spark.sql.functions.size(col("__toks")) > 0)
      .select(col(idCol), col("__toks"),
        explode(sequence(lit(0L), nChunks - 1)).as("chunk_idx"))
      .select(col(idCol), col("chunk_idx"),
        array_join(slice(col("__toks"),
          (col("chunk_idx") * stride + 1).cast("int"), lit(size)), " ").as("chunk_text"),
        org.apache.spark.sql.functions.size(slice(col("__toks"),
          (col("chunk_idx") * stride + 1).cast("int"), lit(size))).cast("long")
          .as("n_tokens"))
  }

  /** [[chunkTokens]] over real byte-level BPE token IDS — the windows a
    * trainer actually consumes: fixed `size`-id chunks with `overlap`
    * ids of context carry-over. Same scan-side explode+slice shape (no
    * shuffle); emits the id slice itself, so the output IS the training
    * example (and byte-level decode can recover each chunk's text
    * losslessly when needed — [[graft.functions.Bpe.Encoder.decodeIds]]).
    */
  def chunkTokenIds(docs: DataFrame, idCol: String, textCol: String,
      size: Int, overlap: Int): DataFrame =
    chunkIdsFrame(
      docs.select(col(idCol),
        graft.functions.Bpe.bpeIdsBytes(col(textCol)).as("__ids")),
      idCol, size, overlap)

  /** Windowing half of [[chunkTokenIds]]: `ids` already carries the
    * encoded `__ids` array column. Split out so [[writeTokenShards]] can
    * feed a single persisted encode pass to both the shard packer and
    * the chunker instead of encoding the corpus twice.
    */
  private def chunkIdsFrame(ids: DataFrame, idCol: String,
      size: Int, overlap: Int): DataFrame = {
    require(size > 0 && overlap >= 0 && overlap < size,
      "need size > 0 and 0 <= overlap < size")
    val stride = size - overlap
    val nChunks = greatest(
      (org.apache.spark.sql.functions.size(col("__ids")) - overlap + (stride - 1))
        .divide(stride).cast("long"), lit(1L))
    ids
      .filter(org.apache.spark.sql.functions.size(col("__ids")) > 0)
      .select(col(idCol), col("__ids"),
        explode(sequence(lit(0L), nChunks - 1)).as("chunk_idx"))
      .select(col(idCol), col("chunk_idx"),
        slice(col("__ids"),
          (col("chunk_idx") * stride + 1).cast("int"), lit(size)).as("token_ids"),
        org.apache.spark.sql.functions.size(slice(col("__ids"),
          (col("chunk_idx") * stride + 1).cast("int"), lit(size))).cast("long")
          .as("n_tokens"))
  }

  /** The emission step end-to-end: cut the corpus into ~`tokenBudget`
    * shards by REAL byte-level BPE counts ([[packShardsBy]]), window
    * each doc into `size`-id training chunks ([[chunkTokenIds]]), and
    * write them partitioned by shard — the directory layout a trainer
    * streams, one shard per reader task, resumable by shard id.
    *
    * One wide-side join (chunk rows ↔ narrow (id, shard) assignment,
    * broadcast-eligible since the assignment is 2 longs per doc), then a
    * partitioned write; nothing corpus-sized on the driver.
    *
    * The corpus is BPE-encoded exactly ONCE: the (id, ids-array) frame
    * is persisted (memory, spilling to disk) and feeds BOTH the shard
    * packer (`n_tokens = size(__ids)` — same null/empty semantics as
    * `bpeCountBytes`) and the chunker. At 100 TB the encode dominates
    * the job; one materialized pass + a disk spill beats two encodes.
    */
  def writeTokenShards(docs: DataFrame, idCol: String, textCol: String,
      path: String, tokenBudget: Long, size: Int, overlap: Int): Unit =
    Frames.scoped { f =>
      val ids = f.persist(docs.select(col(idCol),
        graft.functions.Bpe.bpeIdsBytes(col(textCol)).as("__ids")))
      // packShardsBy's per-partition totals collect is the first action
      // and populates the cache; every later stage reads cached blocks
      // explicit null guard: size(null) is conf-dependent (-1 under
      // legacy.sizeOfNull) and a -1 would corrupt the running totals
      val nTokens = when(col("__ids").isNull, lit(null))
        .otherwise(org.apache.spark.sql.functions.size(col("__ids")))
      val shards = packShardsBy(ids, idCol, nTokens, tokenBudget)
        .select(col(idCol), col("shard_id"))
      chunkIdsFrame(ids, idCol, size, overlap)
        .join(shards, Seq(idCol))
        .write.mode("overwrite").partitionBy("shard_id").parquet(path)
    }

  /** GPT-style token-stream packing: concatenate every doc's byte-level
    * BPE ids in ascending-id order with `eodId` appended after each doc,
    * then slice the ONE global stream into fixed `size`-token training
    * windows — windows CROSS doc boundaries (unlike [[chunkTokenIds]],
    * which windows within a doc). The trailing window may be short.
    * This is the packing GPT-2/3-style pretraining actually consumes:
    * zero padding waste, every window exactly `size` ids (except the
    * global tail).
    *
    * Scale shape: the corpus is BPE-encoded ONCE, before the
    * range-partition shuffle; the two offset passes reuse the same
    * shuffle files (skipped stages), so the encode never re-runs. Each
    * doc's global start offset comes from the [[packShardsBy]] two-pass
    * (per-partition token totals → O(partitions) longs on the driver →
    * broadcast offsets — no single-task global window). Window assembly
    * is scan-side explode+slice into per-window fragments plus ONE hash
    * shuffle keyed by the 8-byte window index; per-window state is
    * bounded (≤ `size` ids + one struct per contributing doc).
    */
  def packTokenStream(docs: DataFrame, idCol: String, textCol: String,
      size: Int, eodId: Int): DataFrame = {
    require(size > 0, "size (window length in tokens) must be positive")
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val S = org.apache.spark.sql.functions
    val spark = docs.sparkSession
    val ids = docs.filter(col(textCol).isNotNull)
      .select(col(idCol),
        concat(graft.functions.Bpe.bpeIdsBytes(col(textCol)),
          array(lit(eodId))).as("__ids"))
    val parts = math.max(1, spark.sessionState.conf.numShufflePartitions)
    val sorted = ids.repartitionByRange(parts, col(idCol))
      .sortWithinPartitions(col(idCol)).rdd

    // pass 1: per-partition token totals (EOD already counted in __ids)
    val totals: Array[(Int, Long)] = sorted.mapPartitionsWithIndex { (pid, it) =>
      var s = 0L
      it.foreach(r => s += r.getSeq[Int](1).length)
      Iterator.single((pid, s))
    }.collect()
    val offsets = new Array[Long](sorted.getNumPartitions)
    var acc = 0L
    totals.sortBy(_._1).foreach { case (pid, s) => offsets(pid) = acc; acc += s }
    val bOff = spark.sparkContext.broadcast(offsets)

    // pass 2 (reused shuffle): each doc's global start offset
    val rows = sorted.mapPartitionsWithIndex { (pid, it) =>
      var at = bOff.value(pid)
      it.map { r =>
        val ts = r.getSeq[Int](1)
        val out = Row(r.get(0), ts, at)
        at += ts.length
        out
      }
    }
    val withStart = spark.createDataFrame(rows,
      StructType(ids.schema.fields.toSeq :+
        StructField("__start", LongType, nullable = false)))

    // explode each doc into the windows it overlaps; slice out the
    // fragment each window takes (all scan-side column expressions)
    val len = S.size(col("__ids")).cast("long")
    val frag = withStart
      .select(col("__ids"), col("__start"),
        explode(sequence(
          floor(col("__start") / size).cast("long"),
          floor((col("__start") + len - 1) / size).cast("long")))
          .as("window_idx"))
      .select(col("window_idx"),
        greatest(col("__start"), col("window_idx") * size).as("__fs"),
        col("__ids"), col("__start"))
      .select(col("window_idx"), col("__fs"),
        slice(col("__ids"), (col("__fs") - col("__start") + 1).cast("int"),
          (least(col("__start") + S.size(col("__ids")),
            (col("window_idx") + 1) * size) - col("__fs")).cast("int"))
          .as("__frag"))
    frag.groupBy("window_idx")
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("__fs"), col("__frag")))),
        s => s("__frag"))).as("token_ids"))
      .select(col("window_idx"), col("token_ids"),
        S.size(col("token_ids")).cast("long").as("n_tokens"))
  }

  /** CCNet-style perplexity bucketing + resampling: score every doc with
    * the corpus-unigram LM ([[unigramLogProb]]), split at the exact
    * 25th/75th percentiles into head (most fluent) / middle / tail, then
    * keep a deterministic md5-hash fraction per bucket — the standard
    * "keep all head, half of middle, a sliver of tail" pretraining mix.
    *
    * Scale shape: the score frame (id, double) is checkpointed once and
    * feeds both the quantile pass and the output; the percentiles come
    * from the distributed rank-and-flank quantile (no value buffering)
    * and only the TWO threshold doubles ever reach the driver. The
    * bucket assignment and sample predicate are pure column expressions.
    */
  def perplexityBuckets(docs: DataFrame, idCol: String, textCol: String,
      headFraction: Double = 1.0, middleFraction: Double = 0.5,
      tailFraction: Double = 0.1): DataFrame = {
    val scored = unigramLogProb(docs, idCol, textCol)
      .select(col(idCol), col("avg_logprob")).localCheckpoint(true)
    val qs = Quantiles.exactQuantiles(scored, "avg_logprob", Seq(0.25, 0.75))
      .collect().sortBy(_.getInt(0)).map(_.getDouble(1))
    require(qs.length == 2, "empty corpus: no quantiles to bucket on")
    val bucketed = scored.withColumn("bucket",
      when(col("avg_logprob") >= qs(1), lit("head"))
        .when(col("avg_logprob") >= qs(0), lit("middle"))
        .otherwise(lit("tail")))
    Sampling.mixtureSample(bucketed, "bucket", idCol,
      Map("head" -> headFraction, "middle" -> middleFraction,
        "tail" -> tailFraction), defaultFraction = 0.0)
  }

  /** Token-budget shard assignment — the "assemble docs into ~N-token
    * training shards" step. Docs are laid out in a deterministic order
    * (ascending id) and cut into shards by cumulative token count:
    * shard k holds the docs whose running total lands in
    * [k·budget, (k+1)·budget). A doc never straddles two shards; a doc
    * larger than the budget lands in whatever shard its predecessors
    * occupy and pushes the NEXT doc several shard ids ahead (shard ids
    * may skip — per-shard token totals are bounded below, not above).
    *
    * Scale shape: a global running sum WITHOUT the single-task
    * unpartitioned window (`Window.orderBy(id)` puts the whole corpus
    * through one task). Instead: one range sort by id (each partition
    * holds a bounded id slice), a per-partition token-total pass whose
    * O(partitions) longs fold into per-partition starting offsets on the
    * driver, then a second pass over the SAME sorted partitions (shuffle
    * files reused as skipped stages) that carries the running sum from
    * its partition's offset. Peak memory per task is one partition
    * slice; nothing scales with corpus size on the driver.
    */
  def packShards(docs: DataFrame, idCol: String, textCol: String,
      tokenBudget: Long): DataFrame =
    packShardsBy(docs, idCol, T.tokenCount(col(textCol)), tokenBudget)

  /** [[packShards]] with a caller-supplied token-count column — point it
    * at real byte-level BPE counts ([[graft.functions.Bpe.bpeCountBytes]])
    * and shards are cut by the budget a trainer actually consumes, not
    * the whitespace proxy.
    */
  def packShardsBy(docs: DataFrame, idCol: String, tokenCount: Column,
      tokenBudget: Long): DataFrame = {
    require(tokenBudget > 0, "tokenBudget must be positive")
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val spark = docs.sparkSession
    val base = docs.select(col(idCol), tokenCount.cast("long").as("n_tokens"))
    val parts = math.max(1, spark.sessionState.conf.numShufflePartitions)
    val sorted = base.repartitionByRange(parts, col(idCol))
      .sortWithinPartitions(col(idCol)).rdd

    // pass 1: per-partition token totals (null token counts add nothing,
    // matching SQL sum-over-window semantics)
    val totals: Array[(Int, Long)] = sorted.mapPartitionsWithIndex { (pid, it) =>
      var s = 0L
      it.foreach(r => if (!r.isNullAt(1)) s += r.getLong(1))
      Iterator.single((pid, s))
    }.collect()
    val offsets = new Array[Long](sorted.getNumPartitions)
    var acc = 0L
    totals.sortBy(_._1).foreach { case (pid, s) => offsets(pid) = acc; acc += s }
    val bOff = spark.sparkContext.broadcast(offsets)

    // pass 2: tokens BEFORE this doc decide its shard — a doc never
    // straddles two shards and an oversized doc claims its own
    val rows = sorted.mapPartitionsWithIndex { (pid, it) =>
      var before = bOff.value(pid)
      it.map { r =>
        val shard = math.floorDiv(before, tokenBudget)
        if (!r.isNullAt(1)) before += r.getLong(1)
        Row(r.get(0), if (r.isNullAt(1)) null else r.getLong(1), shard)
      }
    }
    spark.createDataFrame(rows, StructType(base.schema.fields.toSeq :+
      StructField("shard_id", LongType, nullable = false)))
  }

  /** Deterministic global corpus shuffle: every doc gets a stable
    * permutation position under `seed` — the order a trainer consumes
    * examples in. Change the seed, get an independent permutation;
    * rerun the same seed, get the identical one (resume-safe).
    *
    * Scale shape: the permutation key is a fixed-width md5 of
    * (seed, id), so the sort is a range sort on 32-byte keys — same
    * two-pass shape as [[packShardsBy]]: range-partition + sort by key,
    * per-partition ROW COUNTS to the driver (O(partitions) longs),
    * offsets broadcast back, positions assigned in a second pass over
    * the reused shuffle. No global single-task window, nothing
    * corpus-sized anywhere. To emit in shuffled order, sort the payload
    * by the same key — the positions are for manifests/resume points.
    */
  def shufflePositions(docs: DataFrame, idCol: String, seed: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val spark = docs.sparkSession
    val base = docs.select(col(idCol),
      md5(concat_ws(" ", lit(seed), col(idCol).cast("string"))).as("__key"))
    val parts = math.max(1, spark.sessionState.conf.numShufflePartitions)
    // id is the tie-break so the permutation is total even under a
    // (cryptographically negligible) md5 collision
    val sorted = base.repartitionByRange(parts, col("__key"), col(idCol))
      .sortWithinPartitions(col("__key"), col(idCol)).rdd

    val counts: Array[(Int, Long)] = sorted.mapPartitionsWithIndex { (pid, it) =>
      var n = 0L; it.foreach(_ => n += 1); Iterator.single((pid, n))
    }.collect()
    val offsets = new Array[Long](sorted.getNumPartitions)
    var acc = 0L
    counts.sortBy(_._1).foreach { case (pid, n) => offsets(pid) = acc; acc += n }
    val bOff = spark.sparkContext.broadcast(offsets)

    val rows = sorted.mapPartitionsWithIndex { (pid, it) =>
      var pos = bOff.value(pid)
      it.map { r => val out = Row(r.get(0), pos); pos += 1; out }
    }
    spark.createDataFrame(rows, StructType(Seq(base.schema.fields.head,
      StructField("shuffle_pos", LongType, nullable = false))))
  }

  /** Length-aware sequence packing, packing depth 2 (the "folded"
    * pairing of Krell et al. 2021, arXiv:2107.02027): rank docs by token
    * count descending and pair rank r with rank N+1−r — the longest doc
    * packs with the shortest — emitting one training sequence per pair
    * that fits `maxLen` and splitting the pair into two solo sequences
    * when it does not (solo also for the odd middle doc). Cuts padding
    * waste versus one-doc-per-sequence without crossing document
    * boundaries (the boundary-crossing alternative is
    * [[packTokenStream]]).
    *
    * Scale shape: the global rank is the [[packShardsBy]] two-pass
    * recipe — range sort by (count desc, id), O(partitions) row counts
    * to the driver, rank assigned over the reused shuffle — then ONE
    * pair-keyed aggregation (≤2 rows per key, skew-free by
    * construction). Deterministic and engine-replicable throughout:
    * integer counts, total tie order.
    *
    * Returns one row per sequence:
    * (seq_id, doc_ids CSV longest-first, n_docs, total_tokens, padding).
    */
  def packFoldedPairs(docs: DataFrame, idCol: String, tokenCount: Column,
      maxLen: Long): DataFrame = {
    require(maxLen > 0, "maxLen must be positive")
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val spark = docs.sparkSession
    val base = docs.select(col(idCol).cast("long").as("id"),
      coalesce(tokenCount.cast("long"), lit(0L)).as("n"))
    val parts = math.max(1, spark.sessionState.conf.numShufflePartitions)
    val sorted = base.repartitionByRange(parts, col("n").desc, col("id").asc)
      .sortWithinPartitions(col("n").desc, col("id").asc).rdd

    val counts: Array[(Int, Long)] = sorted.mapPartitionsWithIndex { (pid, it) =>
      var c = 0L; it.foreach(_ => c += 1); Iterator.single((pid, c))
    }.collect()
    val offsets = new Array[Long](sorted.getNumPartitions)
    var acc = 0L
    counts.sortBy(_._1).foreach { case (pid, c) => offsets(pid) = acc; acc += c }
    val nTotal = acc
    val bOff = spark.sparkContext.broadcast(offsets)

    val rows = sorted.mapPartitionsWithIndex { (pid, it) =>
      var r = bOff.value(pid)
      it.map { row => r += 1; Row(row.getLong(0), row.getLong(1), r) }
    }
    val ranked = spark.createDataFrame(rows, StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("n", LongType, nullable = false),
      StructField("r", LongType, nullable = false))))

    val paired = ranked
      .withColumn("pair", least(col("r"), lit(nTotal + 1) - col("r")))
      .withColumn("role", when(col("r") * 2 <= lit(nTotal + 1), 0).otherwise(1))
    val pairs = paired.groupBy("pair").agg(
      min(when(col("role") === 0, col("id"))).as("id0"),
      min(when(col("role") === 1, col("id"))).as("id1"),
      min(when(col("role") === 0, col("n"))).as("n0"),
      min(when(col("role") === 1, col("n"))).as("n1"))
    val fits = col("id1").isNull || (col("n0") + col("n1")) <= maxLen
    val one = struct(lit(0).as("sub"),
      concat_ws(",", col("id0").cast("string"), col("id1").cast("string"))
        .as("doc_ids"),
      when(col("id1").isNull, 1).otherwise(2).as("n_docs"),
      (col("n0") + coalesce(col("n1"), lit(0L))).as("total"))
    val soloA = struct(lit(0).as("sub"), col("id0").cast("string").as("doc_ids"),
      lit(1).as("n_docs"), col("n0").as("total"))
    val soloB = struct(lit(1).as("sub"), col("id1").cast("string").as("doc_ids"),
      lit(1).as("n_docs"), col("n1").as("total"))
    pairs
      .select(col("pair"),
        explode(when(fits, array(one)).otherwise(array(soloA, soloB))).as("s"))
      .select((col("pair") * 2 + col("s.sub")).as("seq_id"),
        col("s.doc_ids").as("doc_ids"),
        col("s.n_docs").as("n_docs"),
        col("s.total").as("total_tokens"),
        greatest(lit(0L), lit(maxLen) - col("s.total")).as("padding"))
  }

  /** Cross-document exact LINE dedup (CCNet/RefinedWeb preprocessing):
    * a line duplicated anywhere in the corpus survives only at its first
    * occurrence (lowest (doc id, line position)); blank lines are
    * document structure, not content, and always stay. Docs are
    * reassembled in original line order; a doc whose every line was
    * deduped away comes back with NULL text (and null-text docs stay
    * NULL).
    *
    * Scale shape: NO per-line window — the first-occurrence choice is a
    * `min(struct(id, pos))` aggregation over a fixed-width line digest
    * (partial-aggregatable: map-side combine collapses each partition's
    * occurrences of a line to one candidate, so a line duplicated a
    * billion times shuffles one row per partition). The join back is a
    * semi join on (id, pos) — unique on both sides, so no corpus-wide
    * hot line can concentrate on one reducer. Reassembly is one groupBy
    * on the doc id with an in-row sort.
    */
  /** Cross-document repeated-SPAN removal — the training-data dedup of
    * Lee et al. 2021 ("Deduplicating Training Data Makes Language Models
    * Better") at block granularity: tile each doc's token stream into
    * fixed `k`-token blocks, keep only the globally FIRST occurrence of
    * each distinct block (ordered by (doc id, block index)), drop every
    * later copy — in the same doc or any other — and reassemble each doc
    * from its kept blocks plus its always-kept tail (the `len % k`
    * remainder tokens). Returns (id, text) with the text rebuilt from
    * normalized tokens; docs with null text stay null.
    *
    * Blocks instead of the paper's suffix array deliberately: a suffix
    * array over 100 TB does not distribute, while block hashing is one
    * narrow-shuffle pass (this is the standard scale adaptation; raise
    * recall by lowering `k`). Same scale shape as [[dedupLines]]: block
    * keys travel as 60-bit md5 prefixes (fixed width regardless of `k`),
    * first-occurrence is a map-side-combinable min-struct agg, and the
    * join back is SEMI on (id, block idx) — unique on both sides by
    * construction, so no corpus-wide hot block (boilerplate in every
    * doc) can skew a reducer. Reassembly groups by doc id, bounded by
    * doc length.
    */
  def dedupSpans(docs: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    val toksed = spanToks(docs, idCol, textCol, k)
    val blocks = spanBlocks(toksed, idCol, k)
    val firsts = spanFirsts(blocks, idCol)
      .select(col("__first.__id").as(idCol), col("__first.__bidx").as("bidx"))
    val kept = blocks.join(firsts, Seq(idCol, "bidx"), "left_semi")
    spanReassemble(docs, toksed, kept, idCol, textCol, k)
  }

  /** Sliding-window variant of [[dedupSpans]], closing its documented
    * recall gap: block TILING misses a duplicated span whose alignment
    * is offset by fewer than `k` tokens, while windows every `stride`
    * (< `k`) tokens catch any repeat of length ≥ `k + stride − 1`
    * at ANY alignment (and exactly length-`k` repeats at stride-aligned
    * offsets — stride 1 recovers the full Lee et al. 2021 guarantee of
    * catching every ≥`k`-token repeat, at `k`× the window rows).
    * Removal is position-anchored: every NON-first occurrence of a
    * window (global order by (doc id, window start)) marks its token
    * range [start, start+k) for deletion; a doc's surviving text is its
    * tokens outside all marked ranges (so a kept first-occurrence
    * window overlapping a marked range in the same doc loses the
    * overlap — duplicated SPANS are removed, window identity is only
    * the detector). Docs shorter than `k` tokens pass through; null
    * text stays null.
    *
    * Scale shape: identical discipline to [[dedupSpans]] — window keys
    * travel as 60-bit md5 prefixes, first-occurrence is one
    * map-side-combinable min-struct agg, the dup set comes back via an
    * ANTI join on (id, wstart) (unique on both sides — a corpus-wide
    * hot window cannot concentrate on one reducer), and per-doc mark
    * lists are bounded by doc length. The token-survival filter is an
    * indexed HOF over attributes only (nothing re-evaluates per
    * element). Window rows are `k/stride`× the tiling variant's — the
    * price of the recall, paid in narrow rows.
    */
  def dedupSpansSliding(docs: DataFrame, idCol: String, textCol: String,
      k: Int, stride: Int): DataFrame = {
    require(k > 0, "k (window size in tokens) must be positive")
    require(stride > 0 && stride <= k, "need 0 < stride <= k")
    val S = org.apache.spark.sql.functions
    val toksed = docs.filter(col(textCol).isNotNull)
      .select(col(idCol), T.normTokens(col(textCol)).as("__toks"))
      .select(col(idCol), col("__toks"),
        when(S.size(col("__toks")) >= k,
          (floor((S.size(col("__toks")) - k) / stride) + 1).cast("int"))
          .otherwise(lit(0)).as("__nw"))
    val windows = toksed.filter(col("__nw") > 0)
      .select(col(idCol), col("__toks"),
        explode(sequence(lit(0), col("__nw") - 1)).as("__widx"))
      .select(col(idCol), (col("__widx") * stride).as("wstart"),
        array_join(slice(col("__toks"), col("__widx") * stride + 1, lit(k)), " ")
          .as("__wtext"))
    val firsts = windows
      .groupBy(substring(md5(col("__wtext")), 1, 15).as("__wk"))
      .agg(min(struct(col(idCol).as("__id"), col("wstart").as("__ws"))).as("__first"))
      .select(col("__first.__id").as(idCol), col("__first.__ws").as("wstart"))
    val dups = windows.select(col(idCol), col("wstart"))
      .join(firsts, Seq(idCol, "wstart"), "left_anti")
    val marks = dups.groupBy(col(idCol))
      .agg(collect_list(col("wstart")).as("__starts"))
    val rebuilt = toksed.join(marks, Seq(idCol), "left")
      .select(col(idCol), col("__toks"),
        coalesce(col("__starts"), array().cast("array<int>")).as("__st"))
      .select(col(idCol),
        array_join(S.filter(col("__toks"),
          (tok, p) => !S.exists(col("__st"), st => st <= p && p < st + k)), " ")
          .as(textCol))
    docs.select(col(idCol)).join(rebuilt, Seq(idCol), "left")
  }

  /** Corpus duplication profile at `k`-token block granularity — the
    * "how duplicated is this crawl" number a pipeline reads BEFORE
    * deciding to run [[dedupSpans]] (Lee et al. 2021 report it as
    * the fraction of tokens in duplicated spans). One row:
    * `(n_docs, total_tokens, n_blocks, n_distinct_blocks,
    * dup_token_fraction)` over docs with non-null text.
    *
    * Scale shape: two partial-aggregatable global aggregations (token
    * totals off the scan; block count + distinct 60-bit digests off the
    * block stream) joined as single-row broadcasts — nothing collects,
    * nothing is corpus-sized off-scan.
    */
  def spanStats(docs: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    val S = org.apache.spark.sql.functions
    val toksed = spanToks(docs, idCol, textCol, k)
    val blocks = spanBlocks(toksed, idCol, k)
    val tokAgg = toksed.agg(count(lit(1)).as("n_docs"),
      coalesce(sum(S.size(col("__toks")).cast("long")), lit(0L))
        .as("total_tokens"))
    val blockAgg = blocks.agg(count(lit(1)).as("n_blocks"),
      countDistinct(substring(md5(col("__btext")), 1, 15))
        .as("n_distinct_blocks"))
    tokAgg.crossJoin(broadcast(blockAgg))
      .withColumn("dup_token_fraction",
        round((col("n_blocks") - col("n_distinct_blocks")) * k /
          greatest(col("total_tokens"), lit(1L)).cast("double"), 6))
  }

  /** Persisted first-occurrence block index of a corpus: one row per
    * distinct `k`-token block — `(block_key, id, bidx)` of its globally
    * first occurrence, keyed by the 60-bit md5 block digest. This is the
    * state [[dedupSpansIncremental]] probes against and appends
    * ([[spanIndexDelta]]) — the span-dedup face of the same
    * probe-and-append index discipline as [[Dedup.incrementalExact]]'s
    * digest table.
    */
  def spanIndex(docs: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame =
    spanFirsts(spanBlocks(spanToks(docs, idCol, textCol, k), idCol, k), idCol)
      .select(col("__bk").as("block_key"),
        col("__first.__id").as(idCol), col("__first.__bidx").as("bidx"))

  /** The index rows a new batch ADDS: its batch-local first occurrences
    * whose block key is absent from `existingIndex`. Append these to the
    * persisted index after processing the batch.
    */
  def spanIndexDelta(newDocs: DataFrame, idCol: String, textCol: String,
      k: Int, existingIndex: DataFrame): DataFrame =
    spanIndex(newDocs, idCol, textCol, k)
      .join(existingIndex.select("block_key"), Seq("block_key"), "left_anti")

  /** DELETE (takedown) face of the [[spanIndex]] state: the index minus
    * every block the victims OWN — one broadcast anti-join on the
    * bounded victim list. Same owner-forgetting semantics (and the same
    * docstring reasoning) as [[cdcIndexDelete]]: the index stores only
    * each block's FIRST occurrence, so a block key first owned by a
    * victim is FORGOTTEN even when a surviving doc also holds it —
    * conservative for both takedown goals (the victim's block digests
    * are fully gone; future copies of a forgotten block are KEPT rather
    * than wrongly dropped — span dedup under-fires, never removes text
    * it shouldn't). A periodic rebuild ([[spanIndex]] over the
    * surviving corpus) re-elects surviving owners and restores full
    * dedup pressure.
    */
  def spanIndexDelete(index: DataFrame, ids: DataFrame,
      idCol: String): DataFrame =
    Dedup.indexDeleteById(index, ids, idCol)

  /** [[dedupSpans]] for continuous ingestion: rebuild only the NEW batch,
    * dropping blocks already owned by the ingested corpus (present in
    * `existingIndex`, built/maintained via [[spanIndex]] /
    * [[spanIndexDelta]]) as well as later in-batch copies. Equals the
    * full-corpus [[dedupSpans]] restricted to the new ids whenever
    * ingestion order matches id order (existing ids sort before new
    * ids) — the same invariant the other incremental dedups state.
    * The existing corpus's TEXT is never touched, only its index; the
    * index probe is an anti join on fixed-width block keys.
    */
  def dedupSpansIncremental(newDocs: DataFrame, idCol: String,
      textCol: String, k: Int, existingIndex: DataFrame): DataFrame = {
    val toksed = spanToks(newDocs, idCol, textCol, k)
    val blocks = spanBlocks(toksed, idCol, k)
    val keepFirsts = spanFirsts(blocks, idCol)
      .join(existingIndex.select("block_key").withColumnRenamed("block_key", "__bk"),
        Seq("__bk"), "left_anti")
      .select(col("__first.__id").as(idCol), col("__first.__bidx").as("bidx"))
    val kept = blocks.join(keepFirsts, Seq(idCol, "bidx"), "left_semi")
    spanReassemble(newDocs, toksed, kept, idCol, textCol, k)
  }

  // tokens split ONCE in their own projection (CollapseProject keeps a
  // multiply-referenced non-trivial alias un-inlined)
  private def spanToks(docs: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    require(k > 0, "k (block size in tokens) must be positive")
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol), T.normTokens(col(textCol)).as("__toks"))
      .select(col(idCol), col("__toks"),
        floor(org.apache.spark.sql.functions.size(col("__toks")) / k)
          .cast("int").as("__nb"))
  }

  private def spanBlocks(toksed: DataFrame, idCol: String, k: Int): DataFrame =
    toksed.filter(col("__nb") > 0)
      .select(col(idCol), col("__toks"),
        explode(sequence(lit(0), col("__nb") - 1)).as("bidx"))
      .select(col(idCol), col("bidx"),
        array_join(slice(col("__toks"), col("bidx") * k + 1, lit(k)), " ")
          .as("__btext"))

  // (__bk, __first(__id, __bidx)): first occurrence per distinct block —
  // partial-aggregatable min over the fixed-width digest key
  private def spanFirsts(blocks: DataFrame, idCol: String): DataFrame =
    blocks
      .groupBy(substring(md5(col("__btext")), 1, 15).as("__bk"))
      .agg(min(struct(col(idCol).as("__id"), col("bidx").as("__bidx"))).as("__first"))

  private def spanReassemble(docs: DataFrame, toksed: DataFrame,
      kept: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val S = org.apache.spark.sql.functions
    val heads = kept.groupBy(col(idCol))
      .agg(transform(array_sort(collect_list(struct(col("bidx"), col("__btext")))),
        s => s("__btext")).as("__blocks"))
    val rebuilt = toksed.join(heads, Seq(idCol), "left")
      .select(col(idCol),
        array_join(
          concat(
            coalesce(col("__blocks"), array().cast("array<string>")),
            slice(col("__toks"), col("__nb") * k + 1,
              S.size(col("__toks")) - col("__nb") * k)),
          " ").as(textCol))
    docs.select(col(idCol)).join(rebuilt, Seq(idCol), "left")
  }

  def dedupLines(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // the first-occurrence shuffle keys on a 60-bit md5 prefix of the
    // line, NOT the line itself: key width stays fixed no matter how long
    // lines get, and the text rides only where reassembly needs it. Same
    // collision stance as the other digest ops ([[Dedup.exact]],
    // boilerplateScore): a 60-bit collision conflates two distinct lines
    // (~birthday bound 2^30 ≈ 1B distinct lines per corpus before a
    // single expected collision — acceptable for preprocessing; widen
    // the prefix if not).
    val lines = docs.filter(col(textCol).isNotNull)
      .select(col(idCol), posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
    val content = trim(col("line")) =!= ""
    // `firsts` IS the kept set: (min id, pos) per distinct line. Joining
    // it back on the line key would concentrate a corpus-wide hot line
    // (boilerplate in every doc) on one reducer — and Spark's AQE skew
    // split can't rescue a join whose build side is an aggregation
    // output (OptimizeSkewedJoin only matches joins fed directly by
    // shuffle stages). So join back SEMI on (id, pos) instead: unique on
    // both sides by construction, so NO key can be hot, for any corpus.
    val firsts = lines.filter(content)
      .groupBy(substring(md5(col("line")), 1, 15).as("__lk"))
      .agg(min(struct(col(idCol).as("__id"), col("pos").as("__pos"))).as("__first"))
      .select(col("__first.__id").as(idCol), col("__first.__pos").as("pos"))
    val kept = lines.filter(content).join(firsts, Seq(idCol, "pos"), "left_semi")
      .unionByName(lines.filter(!content))
    val rebuilt = kept.groupBy(idCol)
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("line")))),
          s => s("line")), "\n").as(textCol))
    docs.select(col(idCol)).join(rebuilt, Seq(idCol), "left")
  }

  /** Corpus-boilerplate scoring (RefinedWeb/CCNet-style): the fraction of
    * each doc's distinct word-`n`-grams that are corpus-common (document
    * frequency ≥ `minDf`). Docs dominated by grams every other doc also
    * has are navigation chrome / templates / license headers — the usual
    * drop or down-weight set.
    *
    * Scale shape: grams travel as 15-hex-nibble md5 prefixes (60 bits —
    * fixed-width keys, not unbounded strings), so both shuffles move
    * narrow rows. The expensive part — tokenize, build n-grams, hash —
    * feeds TWO consumers (the df count and the per-doc score), so the
    * narrow (id, gram) frame is checkpointed once instead of recomputed
    * per consumer. The common-gram set (df ≥ minDf) is the heavy tail of
    * the df distribution — bounded by total-grams/minDf — so AQE picks a
    * broadcast for the marker join at runtime; per-doc totals and common
    * counts then come from ONE aggregation (count all / count marked),
    * no join back to the docs. Docs with fewer than `n` tokens have no
    * grams and are excluded (no 0/0 row).
    */
  def boilerplateScore(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, minDf: Int = 20): DataFrame = {
    val exploded = docs
      .select(col(idCol), T.normTokens(col(textCol)).as("__toks"))
      .select(col(idCol),
        explode(transform(T.wordNgramsOfTokens(col("__toks"), n),
          g => substring(md5(g), 1, 15))).as("g"))
      .localCheckpoint(true)
    val common = exploded.groupBy("g").agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
      .select(col("g"), lit(1).as("__common"))
    // wordNgramsOfTokens dedups per doc, so the gram rows are distinct
    // per doc and count == distinct count on both totals
    exploded.join(common, Seq("g"), "left")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_grams"),
        count(col("__common")).as("n_common"))
      .select(col(idCol), col("n_grams"), col("n_common"),
        round(col("n_common").cast("double") /
          col("n_grams").cast("double"), 6).as("boilerplate_frac"))
  }

  /** CCNet-style language-model quality signal without an external model:
    * a unigram LM estimated from the corpus itself, scoring each doc by
    * its mean token log-probability. Template spam full of globally rare
    * filler scores low; docs made of common words score high. The real
    * CCNet uses a pretrained KenLM — the aggregation shape (score each
    * doc against a frequency table) is identical.
    *
    * Scale shape: two shuffles on the term key (frequency count, then
    * score join — both well-distributed), one on the doc id for the final
    * mean. The vocabulary table stays distributed; nothing collects.
    */
  def unigramLogProb(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val terms = docs.select(col(idCol), explode(T.normTokens(col(textCol))).as("term"))
    val freq = terms.groupBy("term").agg(count(lit(1)).as("cnt"))
    val total = freq.agg(sum("cnt").as("total"))
    terms
      .join(freq, Seq("term"))
      .crossJoin(broadcast(total))
      .groupBy(idCol)
      .agg(
        avg(log(col("cnt").cast("double") / col("total").cast("double")))
          .as("avg_logprob"),
        count(lit(1)).as("n_tokens_scored"))
  }

  /** [[unigramLogProb]] upgraded one Markov order: each doc scored by
    * its mean log of an INTERPOLATED bigram probability,
    * `λ·c(w1,w2)/c(w1) + (1−λ)·c(w2)/N` — the Jelinek-Mercer smoothing
    * a KenLM-style fluency filter reduces to at order 2. Catches what
    * the unigram model cannot: shuffled common words ("the of and the")
    * score high on unigrams but low here, because the TRANSITIONS are
    * rare. Returns (id, avg_logprob2, n_bigrams_scored) for docs with at
    * least one bigram.
    *
    * Default λ = 0.5: both mixture weights are then exactly
    * representable, so scores are bit-reproducible by any engine (an
    * arbitrary λ makes `1−λ` carry float error). Scale shape: the bigram
    * and unigram tables are built once (one narrow shuffle each), the
    * unigram counts and corpus total fold INTO the bigram table
    * (bigram-table-sized joins), and the doc stream joins that enriched
    * table once on (w1, w2) before the per-doc mean — same
    * frequency-table discipline as [[unigramLogProb]]; nothing collects.
    */
  def bigramLogProb(docs: DataFrame, idCol: String, textCol: String,
      lambda: Double = 0.5): DataFrame = {
    require(lambda > 0.0 && lambda < 1.0, "lambda in (0, 1)")
    val S = org.apache.spark.sql.functions
    val toksed = docs.filter(col(textCol).isNotNull)
      .select(col(idCol), T.normTokens(col(textCol)).as("__toks"))
    val pairs = toksed.filter(S.size(col("__toks")) >= 2)
      .select(col(idCol),
        explode(zip_with(
          slice(col("__toks"), lit(1), S.size(col("__toks")) - 1),
          slice(col("__toks"), lit(2), S.size(col("__toks")) - 1),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("__bg"))
      .select(col(idCol), col("__bg.w1").as("w1"), col("__bg.w2").as("w2"))
    val uni = toksed.select(explode(col("__toks")).as("w"))
      .groupBy("w").agg(count(lit(1)).cast("double").as("c"))
    val total = uni.agg(sum("c").as("n"))
    val big = pairs.groupBy("w1", "w2").agg(count(lit(1)).cast("double").as("c2"))
    val enriched = big
      .join(uni.select(col("w").as("w1"), col("c").as("c1")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("c").as("cu")), Seq("w2"))
      .crossJoin(broadcast(total))
      .select(col("w1"), col("w2"),
        log(lit(lambda) * col("c2") / col("c1") +
          lit(1.0 - lambda) * col("cu") / col("n")).as("__lp"))
    pairs.join(enriched, Seq("w1", "w2"))
      .groupBy(idCol)
      .agg(avg(col("__lp")).as("avg_logprob2"),
        count(lit(1)).as("n_bigrams_scored"))
  }

  /** Content-defined chunking (CDC — the Rabin-fingerprint boundary
    * rule of LBFS, Muthitacharoen et al. SOSP 2001; the storage-dedup
    * standard): split each document at positions where a w-char rolling
    * polynomial hash lands on a zero residue (`H & (2^maskBits − 1) ==
    * 0`), giving content-anchored chunks of ~2^maskBits chars. The
    * property block tiling ([[dedupSpans]]) lacks: boundaries are
    * functions of local CONTENT, not position, so inserting one
    * character early in a document re-synchronizes at the next boundary
    * and every later chunk is byte-identical — cross-doc chunk dedup
    * survives shifts/insertions that re-align every fixed-size block.
    *
    * Returns one row per chunk: (id, chunk_idx 0-based, chunk_len,
    * chunk_md5) — feed the md5 keys to the existing first-occurrence /
    * survivor machinery for chunk-level dedup. Deterministic and
    * engine-replicable: codepoint polynomial `Σ code·31^(w−j) (mod 2^20)`
    * over exact 64-bit integers (max term 31^7·code — no overflow, no
    * FP), text normalized to lowercase + collapsed whitespace first.
    *
    * Scale shape: one scan-side projection + one generator — the hash
    * is O(chars·w) inside codegen'd HOFs, boundaries/chunks never leave
    * the row, NO shuffle anywhere; the md5 keys are what downstream
    * aggregations move.
    */
  def cdcChunks(docs: DataFrame, idCol: String, textCol: String,
      w: Int = 8, maskBits: Int = 6): DataFrame =
    cdcChunkRows(docs, idCol, textCol, w, maskBits)
      .select(col(idCol), col("chunk_idx"),
        length(col("__chunk")).as("chunk_len"),
        md5(col("__chunk")).as("chunk_md5"))

  /** Chunk rows with the chunk TEXT retained — the internal face
    * [[cdcDedup]] reassembles from; [[cdcChunks]] projects it down to
    * (len, md5) so chunk bodies never reach the public row.
    */
  private def cdcChunkRows(docs: DataFrame, idCol: String, textCol: String,
      w: Int, maskBits: Int): DataFrame = {
    // w ≤ 9 is the exact-arithmetic bound: worst-case fold value
    // Σ_{j<w} 0x10FFFF·31^j ≈ 9.8e17 < 2^63 at w=9 and ≈ 3e19 at w=10 —
    // larger windows would stay "correct" only via two's-complement
    // congruence mod 2^maskBits, breaking the documented exact-64-bit
    // replay contract (and DuckDB's double 31**(w-1) past 2^53)
    require(w >= 2 && w <= 9, "window w in [2, 9] (exact 64-bit fold bound)")
    require(maskBits >= 1 && maskBits <= 20, "maskBits in [1, 20]")
    val mask = (1L << maskBits) - 1L
    // normalized text and its codepoint array as ATTRIBUTES before any
    // lambda references them (outer-expression re-evaluation trap)
    val base = docs
      .filter(col(textCol).isNotNull)
      .select(col(idCol),
        regexp_replace(trim(lower(col(textCol))), "\\s+", " ").as("__t"))
      .filter(length(col("__t")) > 0) // empty docs have no chunks
      .select(col(idCol), col("__t"),
        transform(split(col("__t"), ""), ch => ascii(ch).cast("long"))
          .as("__codes"))
      .select(col(idCol), col("__t"), col("__codes"),
        size(col("__codes")).as("__n"))
    // boundary positions: i in [w, n] where the w-window hash ending at
    // i has a zero masked residue; fold is mod-free (max Σ code·31^j at
    // w=9 still < 2^63 even for U+10FFFF codepoints — hence the w ≤ 9
    // require) with one mod at the end — identical to the closed-form
    // Σ code·31^(w−j) mod 2^20 any engine replays
    val bounds = base.select(col(idCol), col("__t"), col("__n"),
      when(col("__n") >= w,
        filter(sequence(lit(w), col("__n")), i =>
          (aggregate(slice(col("__codes"), i - (w - 1), lit(w)), lit(0L),
            (acc, c) => acc * 31L + c) % 1048576L).bitwiseAND(mask) === 0L))
        .otherwise(array().cast("array<int>")).as("__b"))
    // chunk [start, end] pairs: starts = 1 :: bounds+1, ends = bounds :: n
    bounds.select(col(idCol),
      posexplode(zip_with(
        concat(array(lit(1)), transform(col("__b"), b => b + 1)),
        concat(col("__b"), array(col("__n"))),
        (s, e) => when(e >= s, col("__t").substr(s, e - s + 1)))))
      .filter(col("col").isNotNull)
      .select(col(idCol), col("pos").as("chunk_idx"), col("col").as("__chunk"))
  }

  /** Cross-doc CHUNK dedup over [[cdcChunks]] boundaries — storage-style
    * dedup for text: each distinct chunk survives only at its globally
    * first (doc, chunk_idx) occurrence (in-doc repeats drop too), and
    * every doc is reassembled from its surviving chunks in order. The
    * content-anchored boundaries make this robust to insertions/shifts
    * ([[cdcChunks]] scaladoc) — the byte-level sibling of [[dedupLines]]
    * (line granularity) and [[dedupSpans]] (token blocks).
    *
    * Returns (id, n_chunks, n_chunks_kept, dedup_md5) — the digest of
    * the reassembled doc, the same hash-checkable contract as the other
    * reassembly dedups.
    *
    * Scale shape: the first-occurrence choice is a partial-aggregatable
    * min(struct(id, idx)) on the 16-byte chunk digest (a chunk repeated
    * a billion times shuffles one row per partition — the dedupLines
    * discipline), the join back is a broadcast-eligible semi join on
    * unique winners, and the reassembly is one doc-keyed agg whose state
    * is bounded by the doc's own size.
    */
  def cdcDedup(docs: DataFrame, idCol: String, textCol: String,
      w: Int = 8, maskBits: Int = 6): DataFrame = {
    val rows = cdcChunkRows(docs, idCol, textCol, w, maskBits)
      .select(col(idCol).cast("long").as("__id"), col("chunk_idx"),
        col("__chunk"), md5(col("__chunk")).as("__d"))
      .localCheckpoint(true) // winners + join-back both read it
    val winners = cdcWinners(rows)
    cdcAssemble(rows, winners, idCol)
  }

  // (__d, __id, chunk_idx) digest rows → first-occurrence winners
  // (__wd, __wid, __widx): partial-aggregatable min-struct on the
  // 16-byte digest (the dedupLines skew discipline)
  private def cdcWinners(rows: DataFrame): DataFrame =
    rows.groupBy("__d")
      .agg(min(struct(col("__id"), col("chunk_idx"))).as("__w"))
      .select(col("__d").as("__wd"), col("__w.__id").as("__wid"),
        col("__w.chunk_idx").as("__widx"))

  // keep each doc's winning chunks, reassemble in order, digest — one
  // doc-keyed agg whose state is bounded by the doc's own size
  private def cdcAssemble(rows: DataFrame, winners: DataFrame,
      idCol: String): DataFrame = {
    val kept = rows.join(winners,
      col("__d") === col("__wd") && col("__id") === col("__wid") &&
        col("chunk_idx") === col("__widx"),
      "left_semi")
    kept.groupBy(col("__id"))
      .agg(count(lit(1)).as("n_chunks_kept"),
        md5(array_join(transform(
          sort_array(collect_list(struct(col("chunk_idx"), col("__chunk")))),
          x => x("__chunk")), "")).as("dedup_md5"))
      .join(rows.groupBy(col("__id"))
        .agg(count(lit(1)).as("n_chunks")), Seq("__id"), "right_outer")
      .na.fill(0L, Seq("n_chunks_kept"))
      .select(col("__id").as(idCol), col("n_chunks"), col("n_chunks_kept"),
        // a fully-deduplicated doc reassembles to the empty string, not
        // to a NULL digest
        coalesce(col("dedup_md5"), md5(lit(""))).as("dedup_md5"))
  }

  /** Persisted first-occurrence CHUNK index of a corpus: one row per
    * distinct CDC chunk — `(chunk_md5, id, chunk_idx)` of its globally
    * first occurrence. The state [[cdcDedupIncremental]] probes against
    * and appends ([[cdcIndexDelta]]) — the CDC face of the
    * [[spanIndex]] / [[Dedup.incrementalExact]] probe-and-append index
    * discipline. At 100 TB this is the whole point of chunk dedup:
    * checking a new delta without re-chunking the corpus; the index is
    * one fixed-width row per distinct chunk ever seen, never text.
    */
  def cdcIndex(docs: DataFrame, idCol: String, textCol: String,
      w: Int = 8, maskBits: Int = 6): DataFrame =
    cdcWinners(cdcChunkRows(docs, idCol, textCol, w, maskBits)
      .select(col(idCol).cast("long").as("__id"), col("chunk_idx"),
        md5(col("__chunk")).as("__d")))
      .select(col("__wd").as("chunk_md5"), col("__wid").as(idCol),
        col("__widx").as("chunk_idx"))

  /** The index rows a new batch ADDS: its batch-local first occurrences
    * whose chunk digest is absent from `existingIndex`. Append these to
    * the persisted index after processing the batch.
    */
  def cdcIndexDelta(newDocs: DataFrame, idCol: String, textCol: String,
      w: Int, maskBits: Int, existingIndex: DataFrame): DataFrame =
    cdcIndex(newDocs, idCol, textCol, w, maskBits)
      .join(existingIndex.select("chunk_md5"), Seq("chunk_md5"), "left_anti")

  /** DELETE (takedown) face of the [[cdcIndex]] state: the index minus
    * every row the victims OWN — one broadcast anti-join on the bounded
    * victim list; the persisted-store twin is
    * [[graft.streaming.StreamingOps.cdcStateDelete]].
    *
    * SEMANTICS (documented, deliberate): the index stores only each
    * chunk's FIRST occurrence, so a digest whose first occurrence was a
    * victim is FORGOTTEN even when a surviving doc also holds it — the
    * index cannot know (it never stored the second occurrence), and
    * finding out would mean re-chunking the corpus at delete time. The
    * error is CONSERVATIVE for both goals of a takedown: the victim's
    * chunk digests (its content evidence) are fully gone, and future
    * copies of a forgotten chunk are KEPT rather than wrongly dropped —
    * dedup under-fires, never removes data it shouldn't. A periodic
    * rebuild ([[cdcIndex]] over the surviving corpus) re-elects
    * surviving owners and restores full dedup pressure.
    */
  def cdcIndexDelete(index: DataFrame, ids: DataFrame,
      idCol: String): DataFrame =
    // one shared anti-join implementation (a hardening fix to the
    // victim-list mechanics must not silently miss a face)
    Dedup.indexDeleteById(index, ids, idCol)

  /** [[cdcDedup]] for continuous ingestion: dedup only the NEW batch,
    * dropping chunks already owned by the ingested corpus (present in
    * `existingIndex`, built/maintained via [[cdcIndex]] /
    * [[cdcIndexDelta]]) as well as later in-batch copies. Equals the
    * full-corpus [[cdcDedup]] restricted to the new ids whenever
    * ingestion order matches id order (existing ids sort before new
    * ids) — the invariant every incremental dedup in this engine
    * states. The existing corpus's TEXT is never re-chunked, only its
    * fixed-width digest index is anti-joined.
    */
  def cdcDedupIncremental(newDocs: DataFrame, idCol: String,
      textCol: String, w: Int, maskBits: Int,
      existingIndex: DataFrame): DataFrame = {
    val rows = cdcChunkRows(newDocs, idCol, textCol, w, maskBits)
      .select(col(idCol).cast("long").as("__id"), col("chunk_idx"),
        col("__chunk"), md5(col("__chunk")).as("__d"))
      .localCheckpoint(true) // winners + join-back both read it
    val winners = cdcWinners(rows)
      .join(existingIndex.select(col("chunk_md5").as("__wd")),
        Seq("__wd"), "left_anti")
    cdcAssemble(rows, winners, idCol)
  }

  /** BM25 relevance of every document against one query (Robertson &
    * Spärck Jones probabilistic model, the Okapi BM25 form — the scoring
    * function behind Lucene/Elasticsearch defaults): per matched term,
    * `idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))` with the
    * non-negative idf `ln(1 + (N − df + 0.5)/(df + 0.5))`. The curation
    * use: retrieve corpus documents most relevant to a topic probe
    * (targeted inspection, topic-coverage audits, retrieval-based
    * decontamination against a benchmark's questions) — the ranking
    * sibling of the frequency-only tf·idf surface.
    *
    * Engine-replicable: the per-doc sum runs in exact integer
    * micro-units (`Σ round(score·10⁶)` as longs — order-free, so
    * distributed summation and any replaying engine agree bit-for-bit;
    * the curation-report discipline). Returns (id, n_query_terms_hit,
    * bm25) for docs matching ≥ 1 query term.
    *
    * Scale shape: one tokenize pass (checkpointed — corpus stats and the
    * term stream both read it); only QUERY-TERM occurrences survive the
    * explode filter (the `isin` literal prunes before any shuffle), so
    * the tf aggregation is query-hits-sized, not corpus-token-sized; df
    * and the (N, avgdl) stats fold in as broadcasts; nothing collects.
    */
  def bm25(docs: DataFrame, idCol: String, textCol: String,
      query: Seq[String], k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(query.nonEmpty, "query must be non-empty")
    require(k1 >= 0 && b >= 0 && b <= 1, "k1 >= 0, b in [0, 1]")
    val qTerms = query.map(_.trim.toLowerCase).filter(_.nonEmpty).distinct
    val toks = docs
      .select(col(idCol), T.normTokens(col(textCol)).as("__t"))
      .select(col(idCol), col("__t"),
        size(col("__t")).cast("double").as("__dl"))
      .localCheckpoint(true)
    // N counts every doc (null-text docs score nothing but still shape
    // idf); avgdl averages real token counts (null text → null dl,
    // excluded — empty text contributes 0)
    val stats = toks.agg(count(lit(1)).cast("double").as("__n"),
      coalesce(avg(col("__dl")), lit(1.0)).as("__avgdl"))
    val hits = toks
      .select(col(idCol), col("__dl"), explode(col("__t")).as("term"))
      .filter(col("term").isin(qTerms: _*))
    val tf = hits.groupBy(col(idCol), col("__dl"), col("term"))
      .agg(count(lit(1)).cast("double").as("__tf"))
    val dfT = tf.groupBy("term").agg(count(lit(1)).cast("double").as("__df"))
    bm25Score(tf, dfT, stats, Seq(idCol), k1, b)
  }

  // the ONE scoring tail ([[bm25]], [[bm25FromIndex]], and
  // [[bm25TopKJoin]] must stay bit-identical): non-negative idf, tf
  // saturation, per-key sum in exact integer micro-units (order-free,
  // bit-reproducible). `keyCols` is (id) for the single-probe faces and
  // (qid, id) for the batched join face.
  private def bm25Score(tf: DataFrame, dfT: DataFrame, stats: DataFrame,
      keyCols: Seq[String], k1: Double, b: Double): DataFrame =
    tf.join(broadcast(dfT), Seq("term"))
      .crossJoin(broadcast(stats))
      .select(keyCols.map(col) :+
        (log(lit(1.0) + (col("__n") - col("__df") + 0.5) / (col("__df") + 0.5)) *
          col("__tf") * lit(k1 + 1.0) /
          (col("__tf") +
            lit(k1) * (lit(1.0 - b) + col("__dl") * lit(b) / col("__avgdl"))))
          .as("__s"): _*)
      .groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n_query_terms_hit"),
        round(sum(round(col("__s") * 1e6).cast("long")).cast("double") / 1e6, 6)
          .as("bm25"))

  /** Persist the BM25 inverted index of a corpus under `path` — the
    * retrieval face of the probe-and-append index discipline
    * ([[Dedup.minhashIndex]], [[cdcIndex]]): [[bm25]] is one full
    * corpus pass per probe, right for one-off audits but wasteful for
    * REPEATED retrieval / decontamination probes against the same
    * corpus. Three tables:
    *
    *  - `postings` — (term, id, tf, dl), hash-partitioned on
    *    `tb = pmod(xxhash64(term), nBuckets)`: a probe reads ONLY its
    *    query terms' buckets (static partition pruning) and the `term`
    *    predicate prunes row groups within them — probe cost scales
    *    with the terms' posting lists, never the corpus. dl rides
    *    denormalized on the posting row so scoring joins nothing
    *    corpus-sized.
    *  - `df` — (term, df) per build/append batch, same partitioning;
    *    effective df = sum over batch rows (exact longs).
    *  - `stats` — one (n_docs, n_dl, sum_dl) row per build/append
    *    batch; N and avgdl fold by exact-integer sums (dl is a token
    *    COUNT, so `sum_dl` is a long — append order can never move a
    *    ulp, which is what keeps indexed scores bit-identical to
    *    direct [[bm25]]).
    *  - `meta` — one (n_buckets) row: the bucket count is a BUILD-time
    *    property (a probe or append hashing into a different count
    *    silently drops postings), so the readers take it from the
    *    index, never from a caller argument.
    *
    * Append new docs with [[bm25IndexAppend]] (ids must be new — a
    * changed re-ingested doc is a rebuild); probe with
    * [[bm25FromIndex]].
    */
  def bm25IndexWrite(docs: DataFrame, idCol: String, textCol: String,
      path: String, nBuckets: Int = 64): Unit =
    // the whole rebuild holds _MAINT (withRebuildMarker): a crash after
    // the base landed but before the stale victim channel was retired
    // used to leave probes silently folding the old negative deltas
    // onto the fresh base — now the window fails loudly instead
    AtomicBatches.withRebuildMarker(docs.sparkSession, path) {
      bm25IndexOut(docs, idCol, textCol, path, nBuckets, overwrite = true)
      // n_buckets is a BUILD-time property: an append or probe with a
      // different bucket count would compute wrong partitions — silently
      // dropped postings, wrong scores. Persist it (the decontamIndexWrite
      // pattern) so the readers never trust a caller argument.
      docs.sparkSession.range(1)
        .select(lit(nBuckets).as("n_buckets"))
        .write.mode("overwrite").parquet(s"$path/meta")
      // a rebuild supersedes every pending delete — retired only AFTER
      // the new base lands (a failed rebuild keeps failing loudly under
      // the marker rather than quietly serving a half-state)
      VictimChannel.retire(docs.sparkSession, path)
    }

  /** Append a new batch to a [[bm25IndexWrite]] index: postings + df
    * batch counts + one stats row, under the index's frozen bucket
    * count. Ids must be disjoint from the indexed corpus, and an id
    * deleted by [[bm25IndexDelete]] is refused until a compaction
    * applied the delete (its new postings would stay hidden, and the
    * compaction would then remove them too).
    */
  def bm25IndexAppend(newDocs: DataFrame, idCol: String,
      textCol: String, path: String): Unit = {
    // appending to a pre-doclens (legacy) index would CREATE a doclens
    // table holding only the new batch — bm25IndexDelete's loud-error
    // guard would then pass while silently no-opping deletes of base
    // ids, and a compaction would recompute stats from the partial
    // table. Fail here instead, like the missing-meta case.
    val root = bm25Root(newDocs.sparkSession, path, "bm25IndexAppend")
    VictimChannel.requireFresh(root, newDocs, idCol)
    root.expect("doclens")
    bm25IndexOut(newDocs, idCol, textCol, path,
      root.meta.getAs[Int]("n_buckets"), overwrite = false)
  }

  // an index written before the meta table existed has no trustworthy
  // bucket count (guessing one silently drops postings): its missing
  // meta fails with the rebuild instruction
  private val bm25Root = StoreRoot.of("bm25IndexWrite")

  private def bm25IndexOut(docs: DataFrame, idCol: String, textCol: String,
      path: String, nBuckets: Int, overwrite: Boolean): Unit = {
    require(nBuckets >= 1, "nBuckets >= 1")
    val mode = if (overwrite) "overwrite" else "append"
    // the append face is a repeat-called ingestion path: the scope frees
    // this call's pinned blocks (the trianglesIndexAppend discipline)
    Frames.scoped { f =>
      // stats + postings + doclens read it
      val toks = f.checkpoint(docs
        .select(col(idCol), T.normTokens(col(textCol)).as("__t"))
        .select(col(idCol), col("__t"), size(col("__t")).as("__dli")))
      // postings write + df derive read it
      val postings = f.checkpoint(toks
        .select(col(idCol), col("__dli"), explode(col("__t")).as("term"))
        .groupBy(col(idCol), col("__dli"), col("term"))
        .agg(count(lit(1)).as("tf"))
        .select(col("term"), col(idCol), col("tf"), col("__dli").as("dl"),
          pmod(xxhash64(col("term")), lit(nBuckets.toLong)).as("tb")))
      // with both checkpoints landed the four table writes are independent
      // jobs over materialized frames — run them concurrently (the
      // CountStore.writeBase judgment): wall = the postings write, not the
      // sum of four. Write order never carried crash semantics here (the
      // rebuild face holds _MAINT; a mid-append crash was equally partial
      // sequentially).
      // doclens carries (id, dl) for EVERY indexed doc — including
      // null-text (dl NULL) and token-less (dl 0) docs that never reach
      // the postings table: bm25IndexDelete needs each victim's exact
      // stats contribution, and postings alone cannot reconstruct it
      Takedown.inParallel(Seq[() => Unit](
        () => toks.select(col(idCol), col("__dli").cast("long").as("dl"))
          .write.mode(mode).parquet(s"$path/doclens"),
        () => postings
          .repartition(col("tb")) // one file per bucket, not files × tasks
          .write.mode(mode).partitionBy("tb").parquet(s"$path/postings"),
        () => postings.groupBy(col("term"), col("tb"))
          .agg(count(lit(1)).as("df"))
          .repartition(col("tb"))
          .write.mode(mode).partitionBy("tb").parquet(s"$path/df"),
        () => toks.agg(count(lit(1)).as("n_docs"),
            count(col("__dli")).as("n_dl"),
            coalesce(sum(col("__dli").cast("long")), lit(0L)).as("sum_dl"))
          .repartition(1)
          .write.mode(mode).parquet(s"$path/stats")))(_.apply())
    }
  }

  /** Probe a [[bm25IndexWrite]] index: identical scores to running
    * [[bm25]] over the indexed corpus (same non-negative idf, same
    * integer micro-unit sums — the shared scoring tail), WITHOUT a
    * corpus scan. Reads: the query terms' posting-list buckets
    * (partition-pruned), the same buckets of the df table, and the
    * O(batches) stats rows — a probe against 100 TB touches megabytes.
    */
  def bm25FromIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      idCol: String, query: Seq[String], k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(query.nonEmpty, "query must be non-empty")
    require(k1 >= 0 && b >= 0 && b <= 1, "k1 >= 0, b in [0, 1]")
    import spark.implicits._
    // compaction rewrites posting buckets in place: a probe racing it
    // (or reading a crashed half-rewrite) would double-fold deletes
    val root = bm25Root(spark, path, "bm25FromIndex")
    val nBuckets = root.meta.getAs[Int]("n_buckets")
    val qTerms = query.map(_.trim.toLowerCase).filter(_.nonEmpty).distinct
    // the buckets through the SAME expression the writer used — the
    // hash definition lives in one place; ≤|query| driver rows
    val buckets = qTerms.toDF("term")
      .select(pmod(xxhash64(col("term")), lit(nBuckets.toLong)))
      .distinct().collect().map(_.getLong(0))
    // a compaction that deleted EVERY doc leaves postings/df as roots
    // with zero partitions — schema inference over zero files throws,
    // and an empty index must answer with no hits, not crash
    def pruned(sub: String): DataFrame =
      root.side(sub)
        .map(_.filter(col("tb").isin(buckets: _*) &&
          col("term").isin(qTerms: _*)))
        .getOrElse(spark.range(0).select(lit(0L).as(idCol),
          lit("").as("term"), lit(0L).as("tf"), lit(0L).as("dl"),
          lit(0L).as("tb"), lit(0L).as("df")))
    // committed deletes fold in like any other batch: their df/stats
    // rows are NEGATIVE exact integers (sum order invisible) and their
    // victim postings are anti-joined out of scoring. No deletes → the
    // plan is byte-identical to the pre-deletion one.
    val tf = root.victims.minus(pruned("postings")
      .select(col(idCol), col("term"), col("tf").cast("double").as("__tf"),
        col("dl").cast("double").as("__dl")), idCol)
    val dfT = withDeletes(root, pruned("df"), "df")(
        _.filter(col("tb").isin(buckets: _*) && col("term").isin(qTerms: _*)))
      .groupBy("term").agg(sum(col("df")).cast("double").as("__df"))
    bm25Score(tf, dfT, bm25IndexStats(root), Seq(idCol), k1, b)
  }

  // `base` ∪ the `sub` payload rows of the committed delete batches,
  // pruned like the base read
  private def withDeletes(root: StoreRoot, base: DataFrame, sub: String)
      (prune: DataFrame => DataFrame = identity): DataFrame =
    root.inBatches(sub, root.victims.batches)
      .fold(base)(d => base.unionByName(prune(d)))

  // the (N, avgdl) fold shared by every index probe face: base + append
  // batches + negative delete rows, all exact long sums (order invisible;
  // the coalesce mirrors bm25's all-null-dl fallback)
  private def bm25IndexStats(root: StoreRoot): DataFrame =
    withDeletes(root, root.read("stats"), "stats")()
      .agg(sum(col("n_docs")).cast("double").as("__n"),
        when(sum(col("n_dl")) > 0,
          sum(col("sum_dl")).cast("double") / sum(col("n_dl")).cast("double"))
          .otherwise(lit(1.0)).as("__avgdl"))

  /** Batched retrieval against a [[bm25IndexWrite]] index: the top-`k`
    * documents PER QUERY for a whole query table in ONE job — the
    * retrieval face of the batched similarity joins
    * ([[Similarity.ivfTopKJoin]]), and the production shape behind
    * topic-coverage audits and retrieval-based decontamination ("score
    * every corpus doc against N benchmark questions"). Per-query scores
    * are bit-identical to [[bm25FromIndex]] with that query (the shared
    * [[bm25Score]] tail; committed deletes fold in identically);
    * duplicate terms within a query count once (the [[bm25]] contract),
    * and queries whose terms all miss the index emit no rows.
    *
    * Scale shape: reads only the query terms' posting-list buckets —
    * the bucket list is one bounded driver collect (≤ the index's
    * frozen bucket count) turned into a static partition-pruning
    * literal; within them the posting rows join the (qid, term) table
    * (broadcast when it fits). Ranking is deterministic (round-6 score
    * desc, id asc — engine-replicable) through the bounded top-k
    * AGGREGATOR with map-side combine: a per-query window would push
    * each query's entire posting universe through one task. Hit counts
    * ride back via one semi-join of the #queries × k selection.
    *
    * Returns (`qidCol`, `idCol`, n_query_terms_hit, bm25, rank).
    * `idCol` must be integral (the top-k aggregator's key contract,
    * like [[Sampling.capPerGroup]]).
    */
  def bm25TopKJoin(spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, qidCol: String, qTextCol: String, idCol: String,
      k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k > 0, "k must be positive")
    require(k1 >= 0 && b >= 0 && b <= 1, "k1 >= 0, b in [0, 1]")
    val root = bm25Root(spark, path, "bm25TopKJoin")
    val nBuckets = root.meta.getAs[Int]("n_buckets")
    // one (qid, term) row per DISTINCT query term, through the SAME
    // tokenizer the index was built with; bounded by Σ query terms
    // (benchmark question sets), so the checkpoint is small and both
    // the bucket collect and the joins read it once
    val qTerms = queries
      .select(col(qidCol).as("__qid"), T.normTokens(col(qTextCol)).as("__t"))
      .select(col("__qid"), explode(array_distinct(col("__t"))).as("term"))
      // distinct across ROWS too: two queries rows sharing a qid would
      // otherwise double-count their shared terms (array_distinct only
      // dedups within one row)
      .distinct()
      .withColumn("tb", pmod(xxhash64(col("term")), lit(nBuckets.toLong)))
      .localCheckpoint(true)
    // ≤ nBuckets values: the static partition-pruning literal
    val buckets = qTerms.select("tb").distinct().collect().map(_.getLong(0))
    val qTermKeys = qTerms.select("term").distinct()
    def pruned(sub: String): DataFrame =
      root.side(sub)
        .map(_.filter(col("tb").isin(buckets: _*))
          .join(broadcast(qTermKeys), Seq("term"), "left_semi"))
        .getOrElse(spark.range(0).select(lit(0L).as(idCol),
          lit("").as("term"), lit(0L).as("tf"), lit(0L).as("dl"),
          lit(0L).as("tb"), lit(0L).as("df")))
    val tf = root.victims.minus(pruned("postings")
      .join(broadcast(qTerms.select("__qid", "term")), Seq("term"))
      .select(col("__qid"), col(idCol), col("term"),
        col("tf").cast("double").as("__tf"),
        col("dl").cast("double").as("__dl")), idCol)
    val dfT = withDeletes(root, pruned("df"), "df")(
        _.filter(col("tb").isin(buckets: _*))
          .join(broadcast(qTermKeys), Seq("term"), "left_semi"))
      .groupBy("term").agg(sum(col("df")).cast("double").as("__df"))
    val scored = bm25Score(tf, dfT, bm25IndexStats(root), Seq("__qid", idCol),
      k1, b)
    // bounded top-k per query (score desc, id asc — the round-6 score
    // makes the order engine-replicable), then hit counts ride back on
    // the #queries × k selection
    val sel = scored.groupBy(col("__qid"))
      .agg(graft.functions.Aggregators.topKByScore(
        col(idCol).cast("long"), col("bm25"), k).as("__sel"))
      .select(col("__qid"), posexplode(col("__sel")).as(Seq("__p", "__kv")))
      .select(col("__qid"), col("__kv._1").as(idCol),
        (col("__p") + 1).cast("long").as("rank"))
    scored.join(sel, Seq("__qid", idCol), "inner")
      .select(col("__qid").as(qidCol), col(idCol),
        col("n_query_terms_hit"), col("bm25"), col("rank"))
  }

  /** DELETE (takedown) face of the BM25 index — the tombstone
    * discipline ([[graft.operators.Similarity.ivfDelete]]) applied to
    * retrieval: each call stages one atomic batch to the index's
    * [[VictimChannel]] holding
    *
    *  - `ids` — the victim ids actually present in the index (and not
    *    already deleted: double-deleting must not double-subtract),
    *  - `df` — NEGATIVE per-(term, tb) document-frequency deltas, from
    *    one column-pruned postings pass over the victims' rows,
    *  - `stats` — one NEGATIVE (n_docs, n_dl, sum_dl) row, exact from
    *    the `doclens` table (postings alone cannot reconstruct a
    *    token-less or null-text victim's stats contribution),
    *
    * made visible ATOMICALLY by the channel's `_COMMIT` marker — a
    * crash between the three writes can neither half-apply a delete nor
    * double-apply it on retry. [[bm25FromIndex]] then
    * folds the negative deltas into df/stats — both are exact-integer
    * sums, so order is invisible — and anti-joins victim postings out
    * of scoring; [[bm25IndexCompact]] makes the removal physical.
    *
    * Nothing corpus-partitioned is rewritten at delete time. A deleted
    * id cannot be re-appended until after a compact or rebuild
    * ([[bm25IndexAppend]] refuses it); indexes built before the
    * `doclens` table fail loudly with a rebuild instruction.
    */
  def bm25IndexDelete(ids: DataFrame, idCol: String, path: String): Unit = {
    // a delete staged while compaction retires the victim channel
    // would be silently erased — a lost takedown
    val root = bm25Root(ids.sparkSession, path, "bm25IndexDelete")
    val doclens = root.read("doclens")
    // victims = requested ∩ indexed ∖ already-deleted, with their exact
    // stats contribution from doclens, keyed by the index's own id
    // column whatever the request calls it
    val dlId = doclens.columns.head
    Frames.scoped { f =>
      val victims = f.checkpoint(root.victims.minus(
        doclens.join(ids.select(col(idCol).as(dlId)).distinct(), Seq(dlId),
          "left_semi"), dlId)) // ids + stats + df read it
      // the ids and the two payload tables are written concurrently over
      // the checkpointed victims (the bm25IndexOut judgment)
      if (!victims.isEmpty)
        VictimChannel.stage(root, victims.select(col(dlId))) { dir =>
          Seq(
            () => victims.agg((-count(lit(1))).as("n_docs"),
                (-count(col("dl"))).as("n_dl"),
                (-coalesce(sum(col("dl")), lit(0L))).as("sum_dl"))
              .repartition(1)
              .write.mode("overwrite").parquet(s"$dir/stats"),
            // one column-pruned postings pass: each victim posting row is
            // one df unit to give back on its (term, tb)
            () => root.read("postings")
              .select(col("term"), col(dlId), col("tb"))
              .join(victims.select(col(dlId)), Seq(dlId), "left_semi")
              .groupBy(col("term"), col("tb"))
              .agg((-count(lit(1))).as("df"))
              .write.mode("overwrite").parquet(s"$dir/df"))
        }
    }
  }

  /** AUDIT face: the doc ids whose postings still influence BM25
    * scores — `doclens` minus the committed delete batches, as one `id`
    * column ([[graft.operators.Takedown.audit]]'s bm25 row).
    */
  def bm25PresentIds(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    val root = bm25Root(spark, path, "bm25PresentIds")
    val doclens = root.read("doclens")
    root.victims.minus(doclens.select(col(doclens.columns.head).as("id")), "id")
  }

  /** AUDIT face of the gram/shingle decontamination indexes: the ids
    * whose rows a probe can still match (index minus the pending victim
    * channel), as one `id` column. Shared by the decontam (`grams`) and
    * containment (`shingles`) layouts — both store (idCol, key, bucket).
    */
  def decontamPresentIds(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    val root = gramsRoot(spark, path, "decontamPresentIds")
    val rows = root.read(if (root.has("grams")) "grams" else "shingles")
    val idCol = rows.columns.head
    root.victims.minus(rows.select(col(idCol)).distinct(), idCol)
      .select(col(idCol).as("id"))
  }

  /** Physically apply a BM25 index's committed deletes: rewrite the
    * victim-touched posting buckets minus the victims (dynamic partition
    * overwrite — untouched buckets keep their files), rewrite `doclens`
    * minus the victims, then RECOMPUTE `df` for the touched buckets and
    * `stats` for the whole index from the compacted ground truth —
    * recomputation (not delta folding) is what makes a crashed
    * compaction safely re-runnable: every step is a pure function of
    * (current tables, committed victims). Finally the victim channel is
    * retired ([[VictimChannel]]). Maintenance is EXCLUSIVE: don't probe
    * concurrently, and re-run to completion after a crash before
    * resuming probes (between the stats rewrite and the channel removal
    * a reader would fold the delete twice). ENFORCED via the `_MAINT`
    * marker (`AtomicBatches.withMaintenanceLock`): probe/delete/append
    * faces fail loudly while compaction holds it, a crash leaves it in
    * place, and the re-run must pass `takeover = true`.
    */
  def bm25IndexCompact(spark: org.apache.spark.sql.SparkSession,
      path: String, takeover: Boolean = false): Unit =
    VictimChannel.compact(spark, path, takeover, "bm25IndexCompact",
        "bm25IndexWrite") { (root, ids) =>
      val doclens = root.read("doclens")
      val idCol = doclens.columns.head
      val victims = ids.select(col("id").as(idCol))
      val fs = StoreRoot.fs(spark, path)
      // every checkpoint is pinned in the scope — a failed bucket
      // rewrite must not leak posting-scale pinned blocks into the
      // re-run the docstring requires
      Frames.scoped { f =>
        // touched buckets: driver-bounded (≤nBuckets) from the delete
        // batches' df deltas — buckets without victims are never read
        val touched = root.inBatches("df", root.victims.batches).toSeq
          .flatMap(_.select(col("tb").cast("long")).distinct()
            .collect().map(_.getLong(0))).sorted
        if (touched.nonEmpty) {
          // postings rewrite + df recompute read it
          val kept = f.checkpoint(root.read("postings")
            .filter(col("tb").isin(touched: _*))
            .join(victims, Seq(idCol), "left_anti"))
          kept.repartition(col("tb"))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("tb")
            .parquet(s"$path/postings")
          // a bucket emptied entirely keeps its stale directory under
          // dynamic overwrite — remove it, and its df partition, directly
          val outTb = kept.select(col("tb").cast("long")).distinct()
            .collect().map(_.getLong(0)).toSet
          // recompute df for the touched buckets from the compacted rows
          kept.groupBy(col("term"), col("tb"))
            .agg(count(lit(1)).as("df"))
            .repartition(col("tb"))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("tb")
            .parquet(s"$path/df")
          touched.filterNot(outTb).foreach { tb =>
            Seq("postings", "df").foreach { t =>
              fs.delete(
                new org.apache.hadoop.fs.Path(s"$path/$t/tb=$tb"), true)
            }
          }
        }
        // doclens minus victims — checkpointed before overwriting the
        // table it reads
        val dlKept =
          f.checkpoint(doclens.join(victims, Seq(idCol), "left_anti"))
        dlKept.write.mode("overwrite").parquet(s"$path/doclens")
        // stats from ground truth: one row replacing every batch row
        f.checkpoint(dlKept
          .agg(count(lit(1)).as("n_docs"), count(col("dl")).as("n_dl"),
            coalesce(sum(col("dl")), lit(0L)).as("sum_dl"))
          .repartition(1))
          .write.mode("overwrite").parquet(s"$path/stats")
      }
    }
}
