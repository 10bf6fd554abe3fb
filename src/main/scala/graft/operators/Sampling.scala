package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Frames

/** Deterministic sampling for training-data budgeting.
  *
  * `df.sample()` is seed-dependent per partition SPLIT — re-partitioning
  * or re-running over different file layouts changes the sample. Content-
  * hash sampling is layout-independent: the same row is in or out of the
  * sample on every run, on every cluster size, which is what data
  * budgeting, ablations, and incremental re-runs need. (The md5-bucket
  * construction is also SQL-replicable, so the driver oracle checks these
  * exactly.)
  *
  * Scale shape: `hashSample` is a pure filter — it folds into the scan
  * projection, no shuffle. `stratifiedSample` is a bounded bottom-k
  * aggregation (map-side combine, at most n entries per stratum per
  * partition in the shuffle) + a broadcast semi-join — stratum size never
  * bounds a task.
  */
object Sampling {

  /** md5-bucket in [0, 65536): first 4 hex nibbles of md5(id as string). */
  private def md5Bucket(id: Column): Column =
    conv(substring(md5(id.cast("string")), 1, 4), 16, 10).cast("long")

  /** Keep a deterministic `fraction` of rows keyed on `idCol` content.
    * Same id → same verdict regardless of layout, partitioning, or run.
    */
  def hashSample(df: DataFrame, idCol: String, fraction: Double): DataFrame = {
    require(fraction >= 0.0 && fraction <= 1.0, "fraction in [0, 1]")
    df.filter(md5Bucket(col(idCol)) < lit((fraction * 65536).toLong))
  }

  /** Weighted mixture sampling — the data-mixing knob: keep a different
    * deterministic fraction per group value (e.g. 100% of `en`, 25% of
    * everything else) to hit a target corpus composition. Same md5-bucket
    * construction as [[hashSample]], so it is layout-independent and a
    * group's sample at fraction p is a SUBSET of its sample at p' > p
    * (nested samples — raising a weight only adds rows).
    *
    * Still a pure filter: folds into the scan, no shuffle.
    */
  def mixtureSample(df: DataFrame, groupCol: String, idCol: String,
      fractions: Map[String, Double], defaultFraction: Double): DataFrame = {
    require((defaultFraction +: fractions.values.toSeq)
      .forall(f => f >= 0.0 && f <= 1.0), "fractions in [0, 1]")
    // group values compare through a string cast so a numeric / date
    // domain column works with the same Map[String, Double] keying
    // (no-op for string columns)
    val threshold = fractions.foldLeft(
      lit((defaultFraction * 65536).toLong)) { case (acc, (k, f)) =>
      when(col(groupCol).cast("string") === k, lit((f * 65536).toLong)).otherwise(acc)
    }
    df.filter(md5Bucket(col(idCol)) < threshold)
  }

  /** Temperature-based domain mixing (the multilingual-pretraining knob,
    * e.g. XLM-R's α-sampling): the sample's domain shares follow
    * count^alpha instead of raw counts — alpha < 1 flattens the mix,
    * upweighting small domains. Keep-fraction per domain d:
    * `min(1, targetFraction · N · c_d^alpha / Σc^alpha / c_d)` (capped:
    * a filter cannot upsample), applied via [[mixtureSample]]'s
    * deterministic md5 buckets — layout-independent, nested samples.
    *
    * The per-domain count collect is DISTINCT-domain-sized (languages /
    * sources — driver-trivial). Rows with a NULL domain are dropped
    * (fraction 0). alpha = 0.5 routes through `sqrt`, which IEEE
    * guarantees correctly rounded on every platform — the fractions are
    * then reproducible bit-for-bit by any engine (generic `pow` is not
    * correctly rounded and may differ across libms in the last ulp).
    */
  def temperatureMixture(df: DataFrame, groupCol: String, idCol: String,
      alpha: Double, targetFraction: Double): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, "alpha in (0, 1]")
    require(targetFraction > 0.0 && targetFraction <= 1.0, "targetFraction in (0, 1]")
    def w(c: Double): Double =
      if (alpha == 0.5) math.sqrt(c) else math.pow(c, alpha)
    // sorted by key so the floating-point sum order is deterministic
    // (and replicable by an oracle summing in key order); domain values
    // read through a string cast so non-string domain columns (int
    // source ids, dates) work instead of ClassCastException
    val counts = df.filter(col(groupCol).isNotNull)
      .groupBy(col(groupCol).cast("string").as(groupCol)).count()
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .sortBy(_._1)
    val total = counts.map(_._2).sum.toDouble
    val wsum = counts.map { case (_, c) => w(c.toDouble) }.sum
    val fractions = counts.map { case (k, c) =>
      k -> math.min(1.0, targetFraction * total * w(c.toDouble) / wsum / c.toDouble)
    }.toMap
    mixtureSample(df, groupCol, idCol, fractions, defaultFraction = 0.0)
  }

  /** Static data-mixing plan — the per-source budgeting table every
    * pretraining run starts from (The Pile / LLaMA-style mixture specs):
    * given target mixture `weights` (normalized over the sources present)
    * and a global `tokenBudget`, compute for each source its available
    * tokens, target tokens, and the sampling RATE that realizes the
    * target — `rate > 1` means the source must repeat (epochs), capped at
    * `maxEpochs` (Muennighoff et al. 2023's repeat ceiling); the
    * uncovered remainder is reported as `shortfall_tokens` rather than
    * silently redistributed, so the operator stays a pure function of
    * its inputs (re-weighting is the caller's policy decision).
    * Sources in the data but absent from `weights` get weight 0 (rate 0);
    * weights for absent sources are ignored by the normalization.
    *
    * Scale shape: ONE aggregation over (source) — map-side combined,
    * distinct-source-sized output — then pure column arithmetic against
    * broadcast literals; nothing corpus-sized moves, nothing collects.
    * Feed `rate ≤ 1` rows to [[mixtureSample]] (fractions = rate) and
    * `rate > 1` rows to a repeat-and-sample emission to realize the plan.
    */
  def mixturePlan(docs: DataFrame, sourceCol: String, tokenCount: Column,
      weights: Map[String, Double], tokenBudget: Long,
      maxEpochs: Double = 4.0): DataFrame = {
    require(tokenBudget > 0, "tokenBudget must be positive")
    require(maxEpochs > 0, "maxEpochs must be positive")
    require(weights.values.forall(_ >= 0), "weights must be non-negative")
    val avail = docs
      .groupBy(col(sourceCol).cast("string").as(sourceCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(tokenCount.cast("long")).as("n_tokens"))
    // normalize over the sources actually present: the weight column is
    // a when-chain (distinct-source-sized), the normalizer one literal
    val weightCol = weights.foldLeft(lit(0.0)) { case (acc, (k, w)) =>
      when(col(sourceCol) === k, lit(w)).otherwise(acc)
    }
    val present = avail.select(col(sourceCol)).collect()
      .map(_.getString(0)).toSet
    val norm = weights.collect { case (k, w) if present(k) => w }.sum
    require(norm > 0, "no positive weight matches a present source")
    avail
      .withColumn("weight", round(weightCol / norm, 6))
      .withColumn("target_tokens",
        floor(col("weight") * tokenBudget).cast("long"))
      .withColumn("rate",
        round(least(
          lit(maxEpochs),
          col("target_tokens").cast("double") /
            greatest(col("n_tokens").cast("double"), lit(1.0))), 6))
      .withColumn("planned_tokens",
        floor(col("rate") * col("n_tokens")).cast("long"))
      .withColumn("shortfall_tokens",
        greatest(col("target_tokens") - col("planned_tokens"), lit(0L)))
  }

  /** Materialize a [[mixturePlan]]: emit each document `rate` times —
    * `floor(rate)` full epoch repeats plus one more copy for the
    * deterministic md5 fraction of ids covering the remainder — so the
    * trainer consumes the REALIZED mixture, not the plan table. Output
    * carries every input column plus `epoch_idx` (0-based repeat
    * counter): a resumable consumer can restart at a given epoch of a
    * given source, and shuffling downstream ([[graft.operators
    * .TrainingData]] shard shuffle) interleaves the repeats.
    *
    * The fractional remainder reuses [[hashSample]]'s md5-bucket rule —
    * `md5Bucket(id) < (rate − floor(rate)) · 65536` — so rates ≤ 1
    * reproduce [[mixtureSample]]'s selection EXACTLY (same rows, epoch 0)
    * and the materialization stays layout-independent: the same id gets
    * the same epoch count on every run at any cluster size. Sources
    * absent from the plan (and NULL-source rows) emit nothing.
    *
    * Scale shape: one broadcast join against the distinct-source-sized
    * plan, then one projection + one generator — no shuffle, the corpus
    * is scanned once, and output volume is Σ_s rate_s · N_s rows (what a
    * repeat-respecting epoch loop would read anyway, here materialized
    * with the dedup/shard machinery able to run over it).
    */
  def applyMixturePlan(docs: DataFrame, sourceCol: String, idCol: String,
      plan: DataFrame): DataFrame = {
    require(plan.columns.contains("rate"),
      "plan must carry a rate column (mixturePlan output)")
    // a duplicated source row would silently multiply that source's
    // docs through the join — fail loudly (one job on the
    // distinct-source-sized plan, the mixturePlan collect discipline)
    val dup = plan.groupBy(col(sourceCol)).count()
      .filter(col("count") > 1).take(1)
    require(dup.isEmpty,
      s"plan has duplicate rows for source ${dup.headOption.map(_.get(0))}")
    val rates = broadcast(plan.select(
      col(sourceCol).cast("string").as("__src"),
      col("rate").cast("double").as("__rate")))
    val emptyInts = array().cast("array<int>")
    docs
      .join(rates, col(sourceCol).cast("string") === col("__src"))
      .withColumn("__full", floor(col("__rate")).cast("int"))
      .withColumn("__thr",
        floor((col("__rate") - floor(col("__rate"))) * 65536).cast("long"))
      // epochs array first, the generator alone in the next projection
      // (generator-adjacency discipline)
      .withColumn("__epochs", concat(
        when(col("__full") >= 1, sequence(lit(0), col("__full") - 1))
          .otherwise(emptyInts),
        when(md5Bucket(col(idCol)) < col("__thr"), array(col("__full")))
          .otherwise(emptyInts)))
      .withColumn("epoch_idx", explode(col("__epochs")))
      .drop("__src", "__rate", "__full", "__thr", "__epochs")
  }

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling", arXiv:2302.03169): score
    * each raw document by how much more likely its hashed word-bigram
    * features are under the TARGET corpus's feature distribution than
    * under the RAW corpus's —
    * `log w(x) = Σ_f c_f(x) · (ln p̂_t(f) − ln p̂_r(f))`, with add-one
    * smoothing over the `numBuckets` hashed-feature space. High-weight
    * docs "look like" the target domain; resampling by weight steers a
    * pretraining mix toward it without training a classifier.
    *
    * Features are consecutive word bigrams of the lowercased whitespace
    * tokens, hashed into `numBuckets` buckets via the library's md5-bucket
    * kernel (first 4 md5 nibbles mod numBuckets) — SQL-replicable, so the
    * driver oracle checks the weights exactly. Docs with fewer than two
    * tokens have no features and get weight 0 (the empty product).
    *
    * Scale shape: both feature distributions are ONE map-side-combined
    * aggregation each, with output bounded by `numBuckets` (the whole
    * point of feature hashing — the model size is fixed at any corpus
    * size). The per-bucket log-ratio table is then a broadcast join onto
    * the exploded raw-doc features, followed by one doc-keyed aggregation
    * — one shuffle carries (doc, bucket) partial sums, nothing
    * corpus-sized is ever collected or broadcast unbounded.
    */
  def importanceWeights(raw: DataFrame, target: DataFrame, idCol: String,
      textCol: String, numBuckets: Int = 1024): DataFrame = {
    // one-shot form: train on (raw, target), score raw itself. Every raw
    // bucket is in the model by construction, so the unseen-bucket
    // default never fires and this is the exact Σ c_f · lr recipe. The
    // raw feature stream feeds BOTH the model counts and the scoring
    // join, so it is materialized once (narrow (id, bucket) rows) rather
    // than re-scanning and re-tokenizing the corpus — the encode-once
    // discipline of writeTokenShards.
    val rawFeats = dsirFeats(raw, Seq(col(idCol)), textCol, numBuckets)
      .localCheckpoint(true)
    val model = dsirModelFrom(rawFeats.select("__b"),
      dsirFeats(target, Seq.empty, textCol, numBuckets), numBuckets)
    dsirScoreFeats(raw.select(col(idCol)), rawFeats, model, idCol)
  }

  /** Hashed word-bigram feature stream: one (row-keys, bucket) row per
    * bigram occurrence. Bigrams come from a zip of the token array with
    * its own tail — the trailing (last, null) pair concats to null and
    * is filtered; the token split runs ONCE in its own projection
    * (generator-adjacency discipline: nothing non-trivial next to the
    * explode).
    */
  private def dsirFeats(df: DataFrame, keep: Seq[Column], textCol: String,
      numBuckets: Int): DataFrame = {
    import graft.functions.{TextFunctions => T}
    df.select(keep :+ T.normTokens(col(textCol)).as("__t"): _*)
      .select(keep :+ explode(filter(
        zip_with(col("__t"), slice(col("__t"), lit(2), size(col("__t"))),
          (a, b) => concat(a, lit(" "), b)),
        g => g.isNotNull)).as("__g"): _*)
      .select(keep :+
        (conv(substring(md5(col("__g")), 1, 4), 16, 10).cast("long")
          % numBuckets.toLong).as("__b"): _*)
  }

  /** Training half of DSIR: the per-bucket log-ratio MODEL as a small
    * DataFrame — (b, lr) for every bucket the raw corpus hits, plus one
    * b = NULL row carrying the unseen-bucket default
    * `ln(R+B) − ln(T+B)` (the smoothed ratio at count 0/0) — persist it
    * with `model.write.parquet(...)` and score arbitrary future batches
    * against it, the same persisted-state discipline as
    * [[graft.operators.Classifier.nbTrain]] and the dedup indexes.
    * Bounded by `numBuckets + 1` rows at any corpus size.
    *
    * Takedown contract for the persisted model:
    * [[Takedown.userPersisted]] — retrain over survivors and replace,
    * or ingest through [[dsirStoreWrite]] for exact unlearning.
    */
  def dsirTrain(raw: DataFrame, target: DataFrame, idCol: String,
      textCol: String, numBuckets: Int = 1024): DataFrame =
    dsirModelFrom(dsirFeats(raw, Seq.empty, textCol, numBuckets),
      dsirFeats(target, Seq.empty, textCol, numBuckets), numBuckets)

  /** Model construction from pre-built feature streams (each a `__b`
    * bucket column, one row per feature occurrence).
    */
  private def dsirModelFrom(rawFeats: DataFrame, targetFeats: DataFrame,
      numBuckets: Int): DataFrame = {
    require(numBuckets > 0 && numBuckets <= 65536,
      "numBuckets in [1, 65536] (the md5-bucket kernel has 16 bits)")
    val B = lit(numBuckets.toDouble)
    val tCounts = targetFeats
      .groupBy("__b").agg(count(lit(1)).cast("double").as("__ct"))
    val rCounts = rawFeats
      .groupBy("__b").agg(count(lit(1)).cast("double").as("__cr"))
    // totals fold into the plan as 1-row broadcasts (tfidf precedent):
    // one job per run, no driver-side count()
    val tTot = tCounts.agg(coalesce(sum("__ct"), lit(0.0)).as("__tt"))
    val rTot = rCounts.agg(coalesce(sum("__cr"), lit(0.0)).as("__rt"))
    // only buckets some raw feature hits matter; target-only buckets can
    // never be referenced by a raw doc — a left join from the raw side
    val ratios = rCounts
      .join(tCounts, Seq("__b"), "left_outer")
      .na.fill(0.0, Seq("__ct"))
      .crossJoin(broadcast(tTot)).crossJoin(broadcast(rTot))
      .select(col("__b").as("b"),
        (log((col("__ct") + 1d) / (col("__tt") + B)) -
          log((col("__cr") + 1d) / (col("__rt") + B))).as("lr"))
    ratios.unionByName(
      tTot.crossJoin(rTot).select(lit(null).cast("long").as("b"),
        log((col("__rt") + B) / (col("__tt") + B)).as("lr")))
  }

  /** Scoring half: per-doc importance weights for a NEW batch against a
    * persisted [[dsirTrain]] model (pass the SAME `numBuckets` the model
    * was trained with). Buckets absent from the model fall back to its
    * NULL-row default; featureless docs (0-1 tokens) score 0 (the empty
    * product). When the model's raw corpus contains the scored docs this
    * reproduces [[importanceWeights]] restricted to them exactly.
    */
  def dsirScore(docs: DataFrame, idCol: String, textCol: String,
      model: DataFrame, numBuckets: Int): DataFrame =
    dsirScoreFeats(docs.select(col(idCol)),
      dsirFeats(docs, Seq(col(idCol)), textCol, numBuckets), model, idCol)

  /** Scoring core over a pre-built (id, bucket) feature stream. */
  private def dsirScoreFeats(ids: DataFrame, feats: DataFrame,
      model: DataFrame, idCol: String): DataFrame = {
    val ratios = model.filter(col("b").isNotNull)
    val dflt = model.filter(col("b").isNull).select(col("lr").as("__dflt"))
    val scored = feats
      .join(broadcast(ratios), col("__b") === col("b"), "left_outer")
      .crossJoin(broadcast(dflt))
      .select(col(idCol), coalesce(col("lr"), col("__dflt")).as("__lr"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_feats"), sum("__lr").as("logw"))
    ids.join(scored, Seq(idCol), "left_outer")
      .na.fill(0L, Seq("n_feats")).na.fill(0.0, Seq("logw"))
  }

  /** The resampling half of DSIR: the `k` raw docs with the highest
    * importance weight (deterministic top-k — ties broken on rounded
    * weight then id, so the selected SET is engine-replicable; the
    * published recipe's Gumbel noise is a seeded jitter on the same
    * ordering). Plans as TakeOrderedAndProject: per-partition heaps +
    * a driver merge of k rows, no global sort.
    */
  def importanceResampleTopK(raw: DataFrame, target: DataFrame, idCol: String,
      textCol: String, numBuckets: Int, k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    importanceWeights(raw, target, idCol, textCol, numBuckets)
      .select(col(idCol), round(col("logw"), 6).as("logw"))
      .orderBy(col("logw").desc, col(idCol))
      .limit(k)
  }

  // ------------------------------------------------------------------
  // Persisted COUNT-form DSIR model store: exact unlearning
  // ------------------------------------------------------------------

  /** Persist the COUNT form of the DSIR model under `path` — the
    * machine-unlearning face of importance sampling, on the shared
    * [[CountStore]] protocol (the [[Classifier.nbModelWrite]] twin).
    * [[dsirTrain]] persists the DERIVED model (per-bucket log-ratio),
    * which mixes every bucket's count with both corpus totals — neither
    * an append nor a takedown can touch it without retraining. The
    * count form CAN, exactly: the model's sufficient statistics are
    * integer feature counts per hashed bucket, so adding a batch's
    * counts or subtracting a victim's yields bit-for-bit the statistics
    * of retraining on the changed corpora — a takedown ("this document
    * must stop influencing the sampling weights") is O(victim-size).
    * Tables:
    *
    *  - `meta` — one (num_buckets) row: the hash width is a BUILD-time
    *    property (an update hashing into a different width silently
    *    corrupts counts), frozen like the BM25 index's bucket count.
    *  - `counts` — (b, c_raw, c_target): per-bucket feature counts of
    *    the two corpora; at most `numBuckets` rows per batch.
    *  - `members` — (id, role, n_feats, text_md5, mult): the
    *    membership ledger, keyed by (id, role) ([[dsirLedger]]); `role`
    *    is "raw" or "target" — the same id may hold both, since target
    *    corpora are typically drawn from the raw pool.
    *
    * The store protocol — atomic delta batches, the ledger's guards and
    * present rule, staged-swap compaction, rebuild discipline — is
    * [[CountStore]]'s.
    *
    * The per-bucket totals stay exact through the double arithmetic:
    * every count is an integer, and integer-valued double sums below
    * 2^53 never round — so [[dsirStoreModel]]'s (b, lr) rows are
    * bit-identical to [[dsirTrain]] over the surviving corpora.
    */
  def dsirStoreWrite(raw: DataFrame, target: DataFrame, idCol: String,
      textCol: String, path: String, numBuckets: Int = 1024): Unit = {
    require(numBuckets > 0 && numBuckets <= 65536,
      "numBuckets in [1, 65536] (the md5-bucket kernel has 16 bits)")
    val spark = raw.sparkSession
    // both role frames' duplicate-id probes in ONE tagged-union collect:
    // a single round trip, and a single plan — raw and target may share
    // subtrees (callers often filter one frame two ways), so one plan
    // keeps their expression instances single-reader (nbModelTables)
    def dupProbe(docs: DataFrame, tag: String): DataFrame =
      CountStore.uniqueKeyViolations(
          docs.filter(col(textCol).isNotNull).select(col(idCol).as("id")),
          Seq("id")).limit(5)
        .select(lit(tag).as("__k"), col("__key").as("__v"))
    val viol = dupProbe(raw, "raw").unionByName(dupProbe(target, "target"))
      .collect()
    Seq("raw", "target").foreach { tag =>
      CountStore.raiseDuplicateKeys(s"dsirStoreWrite($tag)", Seq("id"),
        viol.filter(_.getString(0) == tag).map(_.getString(1)).toSeq)
    }
    CountStore.writeBase(spark, path, dsirStoreTables(
      Seq("raw" -> raw, "target" -> target), idCol, textCol, numBuckets) :+
      ("meta" -> spark.range(1).select(lit(numBuckets).as("num_buckets"))))
  }

  // the store's ledger layout: keyed by (id, role); the compaction fold
  // carries each key's feature count and pinned text digest (n_feats
  // alone would pass any same-token-count text)
  private val dsirLedger = CountStore.Ledger(Seq("id", "role"),
    Seq("n_feats", "text_md5"), "dsirStore")

  // the (counts, members) tables of one batch of per-role doc frames,
  // with `sign` applied to every additive quantity — the ONE place the
  // store's arithmetic lives (the nbModelTables discipline)
  private def dsirStoreTables(byRole: Seq[(String, DataFrame)],
      idCol: String, textCol: String, numBuckets: Int,
      sign: Int = 1): Seq[(String, DataFrame)] = {
    import graft.functions.{TextFunctions => T}
    val s = lit(sign.toLong)
    val counts = byRole.map { case (role, docs) =>
        dsirFeats(docs, Seq.empty, textCol, numBuckets).select(
          col("__b").as("b"), lit(if (role == "raw") 1L else 0L).as("c_raw"),
          lit(if (role == "raw") 0L else 1L).as("c_target"))
      }.reduce(_ unionByName _)
      .groupBy("b").agg((s * sum("c_raw")).as("c_raw"),
        (s * sum("c_target")).as("c_target"))
    val members = byRole.map { case (role, docs) =>
      docs.filter(col(textCol).isNotNull)
        .select(col(idCol).as("id"), lit(role).as("role"),
          greatest(size(T.normTokens(col(textCol))) - 1, lit(0))
            .cast("long").as("n_feats"),
          md5(col(textCol).cast("binary")).as("text_md5"),
          s.cast("int").as("mult"))
    }.reduce(_ unionByName _)
    Seq("counts" -> counts, "members" -> members)
  }

  private def dsirBuckets(root: StoreRoot): Int =
    root.meta.getAs[Int]("num_buckets")

  /** Append a new doc batch under `role` ("raw" or "target") — the
    * batch's counts/members staged as one atomic `_COMMIT` delta under
    * the store's frozen hash width. (id, role) pairs must be NEW, and an
    * id held under the other role must carry byte-identical text
    * ([[CountStore.requireFresh]], the nbModelAppend contract).
    */
  def dsirStoreAppend(newDocs: DataFrame, idCol: String, textCol: String,
      path: String, role: String): Unit = {
    val spark = newDocs.sparkSession
    val root = dsirLedger.open(spark, path, "dsirStoreAppend")
    AtomicBatches.sweepUncommitted(spark, s"$path/deltas")
    CountStore.stageDelta(spark, path,
      dsirAppendTables(root, newDocs, idCol, textCol, role))
  }

  /** REPLAY-SAFE ingestion face — the [[Classifier.nbModelAppendStream]]
    * twin: call from `foreachBatch` with the sink's `batchId`;
    * redelivery of a committed micro-batch is a no-op instead of a
    * silent double-apply, and the replay check runs BEFORE the
    * fresh-ids guard (whose misfire on a redelivered batch's own ids
    * would wedge the stream). Returns false on a replay skip.
    */
  def dsirStoreAppendStream(newDocs: DataFrame, idCol: String,
      textCol: String, path: String, role: String,
      batchId: Long): Boolean = {
    val spark = newDocs.sparkSession
    val root = dsirLedger.open(spark, path, "dsirStoreAppendStream")
    if (CountStore.streamBatchCommitted(spark, path, batchId)) return false
    CountStore.stageStreamDelta(spark, path, batchId,
      dsirAppendTables(root, newDocs, idCol, textCol, role))
  }

  // the append faces' guard and delta tables: the fused ledger guard job
  // and the one-row meta read are independent probes over DISJOINT trees
  // — one concurrent round trip
  private def dsirAppendTables(root: StoreRoot, newDocs: DataFrame,
      idCol: String, textCol: String,
      role: String): Seq[(String, DataFrame)] = {
    require(role == "raw" || role == "target", "role is 'raw' or 'target'")
    @volatile var nb = 0
    Takedown.inParallel(Seq[() => Unit](
      () => CountStore.requireFresh(dsirLedger, root, newDocs, idCol,
        textCol, s"${root.face}($role)", lit(role)),
      () => nb = dsirBuckets(root)))(_.apply())
    dsirStoreTables(Seq(role -> newDocs), idCol, textCol, nb)
  }

  /** DELETE (takedown / exact unlearning) face: subtract the victims'
    * feature counts from EVERY role they hold — after which
    * [[dsirStoreModel]] is bit-identical to retraining on the corpora
    * without them. The victims' counts are recomputed from the
    * submitted text; the drift check against the pinned digest, the
    * skip of absent ids and the staging are
    * [[CountStore.stageDelete]]'s. O(victim-size).
    */
  def dsirStoreDelete(victimDocs: DataFrame, idCol: String,
      textCol: String, path: String): Unit =
    CountStore.stageDelete(dsirLedger, victimDocs, idCol, textCol, path) {
      (root, victims) =>
        dsirStoreTables(Seq("raw", "target").map(role =>
            role -> victims.filter(col("role") === role)),
          idCol, textCol, dsirBuckets(root), sign = -1)
    }

  /** AUDIT face: the ids whose feature counts still influence the
    * model under ANY role — one `id` column, lazily corpus-sized
    * ([[CountStore.presentIds]], the [[Classifier.nbModelPresentIds]]
    * twin, consumed by [[graft.operators.Takedown.audit]]'s semi-join).
    */
  def dsirStorePresentIds(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame =
    CountStore.presentIds(spark, path, dsirLedger)

  /** The store's CURRENT model in [[dsirTrain]]'s derived form — (b,
    * lr) rows plus the `b = NULL` default row — from the folded integer
    * counts through [[dsirTrain]]'s exact expressions: a bucket whose
    * raw count hits zero LEAVES the ratio table (scoring falls back to
    * the default, as a retrain would), while its surviving target count
    * still shapes the target total. Integer-valued double sums below
    * 2^53 never round, so these rows are bit-identical to retraining
    * on the surviving corpora (per-doc score sums then agree at the
    * round-6 oracle contract).
    */
  def dsirStoreModel(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame =
    dsirModel(dsirLedger.open(spark, path, "dsirStoreModel"))

  private def dsirModel(root: StoreRoot): DataFrame = {
    val B = lit(dsirBuckets(root).toDouble)
    val counts = CountStore.fold(root, "counts").groupBy("b")
      .agg(sum("c_raw").cast("double").as("__cr"),
        sum("c_target").cast("double").as("__ct"))
      .filter(col("__cr") + col("__ct") > 0)
      .localCheckpoint(true)
    // ONE totals row (both sums are exact: integer-valued doubles below
    // 2^53), so the ratio projection broadcasts one frame, not two
    val tots = counts.agg(coalesce(sum("__ct"), lit(0.0)).as("__tt"),
      coalesce(sum("__cr"), lit(0.0)).as("__rt"))
    val ratios = counts.filter(col("__cr") > 0)
      .crossJoin(broadcast(tots))
      .select(col("b"),
        (log((col("__ct") + 1d) / (col("__tt") + B)) -
          log((col("__cr") + 1d) / (col("__rt") + B))).as("lr"))
    ratios.unionByName(
      tots.select(lit(null).cast("long").as("b"),
        log((col("__rt") + B) / (col("__tt") + B)).as("lr")))
  }

  /** Score `docs` against the store's current model — [[dsirScore]]
    * through [[dsirStoreModel]] under the frozen hash width. After
    * deletes: equal to scoring against a model retrained on the
    * corpora minus the victims (ratio table bit-identical; per-doc
    * sums round-6 identical).
    */
  def dsirStoreScore(docs: DataFrame, idCol: String, textCol: String,
      path: String): DataFrame = {
    // the handle reads the one-row meta table once for model and kernel
    val root = dsirLedger.open(docs.sparkSession, path, "dsirStoreScore")
    dsirScore(docs, idCol, textCol, dsirModel(root), dsirBuckets(root))
  }

  /** Fold the committed delta history into a fresh base and retire the
    * `deltas/` channel — the physical-removal half of
    * [[dsirStoreDelete]] (victim evidence leaves the ledger;
    * zero-count buckets leave disk). Crash safety, `_MAINT`
    * exclusivity, the takeover contract and the ledger fold are the
    * shared staged-swap protocol ([[CountStore.compactSwap]]); `meta` is
    * frozen and never touched.
    */
  def dsirStoreCompact(spark: org.apache.spark.sql.SparkSession,
      path: String, takeover: Boolean = false): Unit =
    CountStore.compactSwap(spark, path, takeover, dsirLedger,
      Seq("counts")) {
      case (root, "counts") =>
        CountStore.fold(root, "counts").groupBy("b")
          .agg(sum("c_raw").as("c_raw"), sum("c_target").as("c_target"))
          .filter(col("c_raw") =!= 0L || col("c_target") =!= 0L)
    }

  /** Per-group quality cap — "keep at most `n` best docs per domain",
    * the standard guard against one crawl source flooding the mix: the
    * `n` rows per group with the highest `score` (ties → lowest id).
    *
    * Same physical discipline as [[stratifiedSample]]: a bounded top-k
    * AGGREGATION with map-side combine (the shuffle carries at most n
    * (id, score) entries per group per partition) + a broadcast
    * semi-join — NOT a per-group window, which would push each entire
    * group through one task and make the hottest domain the job's
    * critical path. The selected set is #groups × n rows
    * (broadcast-sized in the per-domain-cap regime this targets).
    * `idCol` must be integral and unique.
    */
  def capPerGroup(df: DataFrame, groupCols: Seq[String], idCol: String,
      score: Column, n: Int): DataFrame = {
    require(n > 0, "n must be positive")
    val sel = df.filter(col(idCol).isNotNull)
      .groupBy(groupCols.map(col): _*)
      .agg(graft.functions.Aggregators.topKByScore(
        col(idCol).cast("long"), score.cast("double"), n).as("__sel"))
      .select(groupCols.map(c => col(c).as(s"__g_$c")) :+
        explode(col("__sel")).as("__kv"): _*)
      .select(groupCols.map(c => col(s"__g_$c")) :+ col("__kv._1").as("__id"): _*)
    df.join(broadcast(sel),
      groupCols.map(c => col(c) <=> col(s"__g_$c"))
        .reduce(_ && _) && col(idCol).cast("long") === col("__id"),
      "left_semi")
  }

  /** Deterministic fixed-quota sample per stratum: the `n` rows with the
    * smallest md5(id) in each strata group (ties broken by id). Standard
    * per-language / per-source quota sampling.
    *
    * NOT a per-stratum window (`row_number() OVER (PARTITION BY strata)`
    * sends each ENTIRE stratum through one task — with 4 languages at
    * 100 TB that is 4 tasks): a bounded bottom-k AGGREGATION with
    * map-side combine — the shuffle carries at most n (md5, id) entries
    * per stratum per partition, and no stratum-sized sort ever happens —
    * then a broadcast-sized semi-join brings back the selected rows.
    * `idCol` must be integral and unique per stratum (it is the row id
    * the md5 lottery draws on).
    */
  def stratifiedSample(df: DataFrame, strataCols: Seq[String], idCol: String,
      n: Int): DataFrame = {
    require(n > 0, "n must be positive")
    require(Set("ByteType", "ShortType", "IntegerType", "LongType")
      .contains(df.schema(idCol).dataType.toString),
      "stratifiedSample needs an integral id column (hash string ids to " +
        "64-bit upstream first)")
    // md5(NULL) is NULL and would sort FIRST — null-id rows must not
    // steal the quota; hashSample's predicate already drops them, keep
    // the two samplers consistent (reduce() also skips null keys)
    val sel = df.filter(col(idCol).isNotNull)
      .groupBy(strataCols.map(col): _*)
      .agg(graft.functions.Aggregators.bottomKByKey(
        md5(col(idCol).cast("string")), col(idCol).cast("long"), n).as("__sel"))
      .select(strataCols.map(c => col(c).as(s"__s_$c")) :+
        explode(col("__sel")).as("__id"): _*)
    // selected set is #strata × n rows — broadcast-sized for quota use;
    // null-safe on strata so a NULL stratum is a real group
    df.join(broadcast(sel),
      strataCols.map(c => col(c) <=> col(s"__s_$c"))
        .reduce(_ && _) && col(idCol).cast("long") === col("__id"),
      "left_semi")
  }

  /** Greedy k-center coreset selection (Gonzalez 1985 farthest-point
    * traversal; the core-set active-learning selector of Sener &
    * Savarese 2018) — the DIVERSITY sampler this file's hash/stratified/
    * temperature/mixture samplers don't cover: pick `t` rows whose
    * embeddings spread over the corpus (each new center is the point
    * farthest from every already-chosen center — a 2-approximation of
    * the optimal k-center cover), then assign every row to its nearest
    * center. Dedup keeps one of each near-duplicate group; k-center
    * keeps one of each REGION — the "small but representative subset"
    * selector for expensive downstream passes (human eval, distillation
    * seeds, embedding-space audits).
    *
    * Deterministic and engine-replayable: the seed is the lowest id;
    * each round scores every row by its ROUND-6 squared distance
    * ([[graft.functions.VectorFunctions.sqDist]]) to its nearest chosen
    * center and takes the (distance DESC, id ASC) maximum; the final
    * assignment argmins round-6 distance with ties to the EARLIEST-
    * chosen center. The `sample_kcenter` oracle unrolls the rounds.
    *
    * Scale shape: the running min distance `__dmin` is CARRIED as a
    * column, so each round scores every row against ONLY the one new
    * center (`least(__dmin, sqDist(v, new))`) — one codegen'd
    * projection into a TakeOrderedAndProject of a single row — t
    * bounded driver reads of one row each, the corpus never collected,
    * no shuffle anywhere; rounds compose lazily with a lineage cut
    * (checkpoint + predecessor block release, the pageRank discipline)
    * every few rounds, so one cut frame is held at a time. O(t·N)
    * distance evaluations total up to a bounded re-fold constant, the
    * textbook greedy cost. The traversal stops early when the farthest
    * remaining distance is 0 — every row already coincides with a
    * chosen center, so further rounds could only re-pick duplicates
    * (the t > distinct-vectors case). Assignment against the finished
    * coreset is one projection: a linear fold of round-6 argmins for
    * small t, one native [[graft.functions.NearestCenterFn]] expression
    * node above [[NativeAssignAbove]] centers (the PqEncode precedent —
    * t HOF subtrees in one projection cost linear plan-analysis time).
    *
    * Returns (id, center_id, d2): every non-null-vector row, its
    * assigned center's id, and the round-6 squared distance to it.
    * Rows of the returned frame with `id == center_id` ARE the coreset.
    */
  def kCenterSelect(df: DataFrame, idCol: String, vecCol: String,
      t: Int): DataFrame = {
    val base = kCenterBase(df, idCol, vecCol).localCheckpoint(true)
    kCenterAssignImpl(base, kCenterTraverse(base, t))
      .toDF(idCol, "center_id", "d2")
  }

  /** The coreset itself, with its traversal order: (ord, center_id,
    * centroid) — persist this table and score future batches against
    * the FROZEN coreset with [[kCenterAssign]] (the train-offline /
    * score-online split every model-carrying operator here uses). `ord`
    * matters: assignment ties break to the earliest-CHOSEN center, so
    * the order is part of the model, not presentation.
    */
  def kCenterCenters(df: DataFrame, idCol: String, vecCol: String,
      t: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    Frames.scoped(f =>
      kCenterTraverse(f.checkpoint(kCenterBase(df, idCol, vecCol)), t))
      .zipWithIndex
      .map { case ((cid, cv), i) => (i + 1, cid, cv) }
      .toDF("ord", "center_id", "centroid")
  }

  /** Score a batch against a persisted [[kCenterCenters]] coreset: the
    * same (id, center_id, d2) shape and the same round-6 argmin with
    * ties to the earliest-chosen center as [[kCenterSelect]]'s own
    * assignment — new rows route into the FROZEN regions without
    * re-running the traversal. Bounded driver read: t coreset rows.
    */
  def kCenterAssign(df: DataFrame, idCol: String, vecCol: String,
      centers: DataFrame): DataFrame = {
    val ctr = centers.select("ord", "center_id", "centroid").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Double](2)))
      .sortBy(_._1)
      .map { case (_, cid, cv) => cid -> cv }.toVector
    require(ctr.nonEmpty, "kCenterAssign: empty coreset")
    kCenterAssignImpl(
      kCenterBase(df, idCol, vecCol).localCheckpoint(true), ctr)
      .toDF(idCol, "center_id", "d2")
  }

  /** GROW a frozen [[kCenterCenters]] coreset from a NEW batch — the
    * ingestion half of the coreset discipline (frozen regions never
    * re-traverse; [[kCenterAssign]] is the score-only half): each new
    * row's initial running min is its round-6 distance to the nearest
    * FROZEN center (one projection — [[bestCenter]], native above the
    * [[NativeAssignAbove]] bar — never |coreset| scoring rounds), then
    * the usual farthest-point rounds run over the BATCH only, adding up
    * to `tExtra` centers where the frozen coreset under-covers most
    * (greedy fills the worst-covered batch region first; a batch whose
    * rows all coincide with existing centers adds none — the early stop
    * on farthest distance 0). Returns the extended
    * (ord, center_id, centroid) table: frozen rows first in their
    * original order (ties still break to the earliest-chosen center),
    * new centers after in chosen order — persist it back and the next
    * batch extends THAT.
    */
  def kCenterExtend(df: DataFrame, idCol: String, vecCol: String,
      centers: DataFrame, tExtra: Int): DataFrame = {
    require(tExtra >= 0, "tExtra must be >= 0")
    val spark = df.sparkSession
    import spark.implicits._
    val frozen = centers.select("ord", "center_id", "centroid").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Double](2)))
      .sortBy(_._1)
    require(frozen.nonEmpty, "kCenterExtend: empty coreset")
    val dmin0 = bestCenter(frozen.map(c => (c._2, c._3)).toVector)
      .getField("d")
    val added = Frames.scoped(f => kCenterGreedy(
      f.checkpoint(kCenterBase(df, idCol, vecCol))
        .select(col("__id"), col("__v"), dmin0.as("__dmin")), tExtra))
    val maxOrd = frozen.map(_._1).max
    (frozen.toSeq.map { case (ord, cid, cv) => (ord, cid, cv) } ++
      added.zipWithIndex.map { case ((cid, cv), i) =>
        (maxOrd + i + 1, cid, cv)
      }).toDF("ord", "center_id", "centroid")
  }

  /** PARALLEL (oversampled) k-center for t in the thousands — the
    * k-means‖ idea (Bahmani et al. 2012, "Scalable k-means++") applied
    * to the k-center coreset. The exact greedy ([[kCenterCenters]], the
    * yardstick) is inherently t SEQUENTIAL driver rounds — one full
    * scan per center — so a coreset of thousands means thousands of
    * scans. Here each of `rounds` scans SAMPLES ~`oversample · t` new
    * candidate centers, each point independently with probability
    * min(1, l·d²/Σd²) (d² = its current round-6 squared distance to
    * the nearest candidate — the farthest regions greedy would pick
    * from are the likeliest to be sampled), and the ≤ 1 + rounds·l
    * candidates are REDUCED to t on the driver by the exact greedy
    * traversal — candidate-count-bounded arithmetic, no scans.
    *
    * Scale shape: O(rounds) distributed scans instead of O(t) — at
    * t = 2048 that is `rounds` scans, not 2048 driver round-trips.
    * Each scan is one projection; its distance fold is ONE native
    * [[graft.functions.NearestCenterFn]] node against the round's NEW
    * candidate batch (the carried `__dmin` recurrence, batched), plus
    * one exact integer micro-unit mass aggregation.
    *
    * DERANDOMIZED: the per-(round, id) uniform is the 60-bit md5
    * kernel (`conv(substr(md5('kcp:<round>:<id>'), 1, 15), 16, 10) /
    * 2^60` — the hashSample discipline, SQL-replicable) and the d²
    * mass sums round-6 micro-units as exact integers (order-free), so
    * the candidate set — and therefore the output — is a pure function
    * of the corpus.
    *
    * Approximation: greedy's 2-approximation holds WITHIN the
    * candidate set; what the sampling missed is the only extra loss
    * (SamplingSpec bounds the covering radius against the exact
    * yardstick on fixtures). Expected driver reads: ~l rows per round
    * — the t ≪ N contract every coreset face here assumes.
    *
    * Returns the [[kCenterCenters]] shape (ord, center_id, centroid),
    * first the corpus seed (lowest id), then centers in reduction
    * order — persist it and score/grow with [[kCenterAssign]] /
    * [[kCenterExtend]] exactly like the greedy coreset.
    *
    * SHORTFALL CONTRACT (unlike [[kCenterCenters]], which yields
    * exactly t given ≥ t distinct vectors): the result can carry FEWER
    * than t centers in two cases — (a) the corpus's residual mass hit
    * zero (every row coincides with a candidate: full coverage, benign,
    * mirrors the greedy's early stop), or (b) the sampled candidate
    * pool ran out before t centers (raise `rounds` / `oversample`).
    * Case (b) is surfaced with a stderr warning so callers sizing
    * downstream structures to t get a signal; check `count()` of the
    * returned frame before depending on t.
    */
  def kCenterParCenters(df: DataFrame, idCol: String, vecCol: String,
      t: Int, rounds: Int = 5, oversample: Double = 2.0): DataFrame = {
    require(t >= 1 && rounds >= 1 && oversample > 0.0,
      "t and rounds must be >= 1, oversample > 0")
    val spark = df.sparkSession
    import spark.implicits._
    import graft.functions.{VectorFunctions => V}
    Frames.scoped { f =>
      val base = f.checkpoint(kCenterBase(df, idCol, vecCol))
      val first = base.orderBy(col("__id")).limit(1).collect()
      require(first.nonEmpty, "kCenterPar: no rows with a non-null vector")
      var cands = Vector(first(0).getLong(0) -> first(0).getSeq[Double](1))
      var scored = f.checkpoint(base.select(col("__id"), col("__v"),
        round(V.sqDist(col("__v"), typedLit(cands.head._2)), 6).as("__dmin")))
      val ell = math.max(1.0, oversample * t)
      var r = 0
      var exhausted = false
      while (r < rounds && !exhausted) {
        // exact integer micro-units: the sampling threshold must not
        // depend on a float sum's accumulation order
        val massRow = scored
          .agg(sum(round(col("__dmin") * 1e6).cast("long"))).head
        val mass = if (massRow.isNullAt(0)) 0L else massRow.getLong(0)
        if (mass <= 0L) exhausted = true // every row coincides with a candidate
        else {
          val sumD = mass / 1e6
          val u = conv(substring(md5(
              concat(lit(s"kcp:$r:"), col("__id").cast("string"))), 1, 15),
            16, 10).cast("long").cast("double") /
            lit(graft.functions.ThetaSketch.Two60)
          val newC = scored
            .filter(u < lit(ell) * col("__dmin") / lit(sumD))
            .select(col("__id"), col("__v"))
            .collect()
            .map(w => w.getLong(0) -> w.getSeq[Double](1))
            .toVector
          if (newC.nonEmpty) {
            cands = cands ++ newC
            val cut = f.checkpoint(scored.select(col("__id"), col("__v"),
              least(col("__dmin"), bestCenter(newC).getField("d")).as("__dmin")))
            f.release(scored)
            scored = cut
          }
          r += 1
        }
      }
      // driver-side reduction: the exact greedy over the candidate set —
      // same semantics as kCenterGreedy (round-6 distances, farthest
      // first, ties to the lowest id, stop when the farthest distance
      // hits 0), in plain arithmetic over ≤ 1 + rounds·l rows
      val reduced = greedyReduce(cands, t)
      // shortfall signal (doc contract above): fewer than t centers is
      // benign only under full corpus coverage (`exhausted` — residual
      // mass hit zero); a pool-limited shortfall deserves a loud note
      if (reduced.length < t && !exhausted)
        System.err.println(s"[graft] kCenterParCenters: ${reduced.length}" +
          s" < t=$t centers — candidate pool exhausted before t (corpus" +
          " not fully covered); raise rounds/oversample")
      reduced.zipWithIndex
        .map { case ((cid, cv), i) => (i + 1, cid, cv) }
        .toDF("ord", "center_id", "centroid")
    }
  }

  /** Exact greedy farthest-point over a DRIVER-HELD candidate list —
    * [[kCenterGreedy]]'s semantics (round-6 HALF_UP distances, farthest
    * first, ties to the lowest id, early stop at distance 0) without
    * the scans. Seeds with the list's FIRST element (the corpus seed).
    */
  private def greedyReduce(cands: Vector[(Long, Seq[Double])],
      t: Int): Vector[(Long, Seq[Double])] = {
    def d2r(a: Seq[Double], b: Seq[Double]): Double = {
      var d = 0.0
      var i = 0
      while (i < math.min(a.length, b.length)) {
        val x = a(i) - b(i); d += x * x; i += 1
      }
      BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    var chosen = Vector(cands.head)
    val dmin = cands.map(c => d2r(c._2, cands.head._2)).toArray
    while (chosen.length < t) {
      var bi = -1
      var bd = 0.0
      var i = 0
      while (i < cands.length) {
        if (dmin(i) > bd ||
            (dmin(i) == bd && bd > 0.0 && bi >= 0 &&
              cands(i)._1 < cands(bi)._1)) { bd = dmin(i); bi = i }
        i += 1
      }
      if (bi < 0 || bd <= 0.0) return chosen // every candidate covered
      chosen = chosen :+ cands(bi)
      i = 0
      while (i < cands.length) {
        val d = d2r(cands(i)._2, cands(bi)._2)
        if (d < dmin(i)) dmin(i) = d
        i += 1
      }
    }
    chosen
  }

  // every caller checkpoints it: re-read once per round + for assignment
  private def kCenterBase(df: DataFrame, idCol: String,
      vecCol: String): DataFrame =
    df.filter(col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as("__id"),
        graft.functions.VectorFunctions.doubles(df, vecCol).as("__v"))

  /** One traversal round's fold-in: the running min against the single
    * NEW centroid. `round(·, 6)` is applied per-distance before the
    * `least`, so the carried `__dmin` recurrence is algebraically
    * identical to folding `least` over all chosen centers' round-6
    * distances (min is associative) — the cached-min rewrite cannot
    * change which point is farthest. `private[graft]` so the plan-shape
    * spec can assert the round plan contains exactly ONE sqDist.
    */
  private[graft] def kCenterRound(scored: DataFrame,
      centroid: Seq[Double]): DataFrame = {
    import graft.functions.{VectorFunctions => V}
    scored.select(col("__id"), col("__v"),
      least(col("__dmin"),
        round(V.sqDist(col("__v"), typedLit(centroid)), 6)).as("__dmin"))
  }

  /** The greedy farthest-point traversal over a prepared (__id, __v)
    * frame: up to t (center_id, centroid) pairs in CHOSEN order (fewer
    * when the farthest remaining distance hits 0 — all rows coincide
    * with chosen centers and more rounds would only duplicate them).
    */
  private def kCenterTraverse(base: DataFrame,
      t: Int): Vector[(Long, Seq[Double])] = {
    require(t >= 1, "t must be >= 1")
    import graft.functions.{VectorFunctions => V}
    val first = base.orderBy(col("__id")).limit(1).collect()
    require(first.nonEmpty, "kCenter: no rows with a non-null vector")
    var centers = Vector(first(0).getLong(0) -> first(0).getSeq[Double](1))
    // __dmin carried as a column, the pageRankImpl composition: a round
    // references the previous frame ONCE, so rounds compose LAZILY and
    // the lineage cut (eager checkpoint + predecessor block release)
    // lands only every TraverseCheckpointEvery rounds — one full-scan
    // job per cut instead of one per round (a per-round eager
    // checkpoint measured 2.3× the wall-clock at t=256; between cuts a
    // round's farthest-point job re-folds ≤TraverseCheckpointEvery
    // sqDists from the cached cut, trivial compute). Each round's OWN
    // plan still folds exactly ONE new sqDist.
    val scored0 = base.select(col("__id"), col("__v"),
      round(V.sqDist(col("__v"), typedLit(centers.head._2)), 6).as("__dmin"))
    centers ++ kCenterGreedy(scored0, t - 1)
  }

  /** The greedy farthest-point continuation over a scored
    * (__id, __v, __dmin) frame — shared by [[kCenterTraverse]] (seeded
    * by the lowest id) and [[kCenterExtend]] (seeded by the frozen
    * coreset's running min): up to `tMore` additional
    * (center_id, centroid) pairs in chosen order, stopping early when
    * the farthest remaining distance hits 0.
    */
  private def kCenterGreedy(scored0: DataFrame,
      tMore: Int): Vector[(Long, Seq[Double])] = Frames.scoped { f =>
    var added = Vector.empty[(Long, Seq[Double])]
    var scored = scored0
    var cp: DataFrame = null
    var sinceCp = 0
    var exhausted = false
    while (added.length < tMore && !exhausted) {
      val top = scored.orderBy(col("__dmin").desc, col("__id"))
        .limit(1).collect()
      // an EMPTY frame is a legitimate no-op batch for kCenterExtend
      // (all-null vectors filter to nothing) — stop, don't crash.
      // The distance stop is on the ROUND-6 running min: a row within
      // one rounding granule (raw d² < 5e-7) of a center counts as
      // covered — adding it would create a center round-6-indistinct
      // from an existing one (never observed on real embeddings; exact
      // duplicates are the case this guards, per the t > distinct rule)
      if (top.isEmpty || top(0).getDouble(2) <= 0.0) exhausted = true
      else {
        val next = top(0)
        val cv = next.getSeq[Double](1)
        added = added :+ (next.getLong(0) -> cv)
        scored = kCenterRound(scored, cv)
        sinceCp += 1
        if (sinceCp >= TraverseCheckpointEvery) {
          val cut = f.checkpoint(scored) // eager: materialized NOW,
          if (cp != null) f.release(cp) // so this is safe
          cp = cut
          scored = cut
          sinceCp = 0
        }
      }
    }
    added
  }

  /** Lineage-cut cadence for [[kCenterTraverse]]'s lazy round
    * composition (the pageRank discipline).
    */
  private val TraverseCheckpointEvery = 16

  /** Above this many centers, [[kCenterAssignImpl]] switches from the
    * per-center HOF fold (t `aggregate(zip_with(...))` subtrees in one
    * projection — linear plan-analysis cost) to the single native
    * [[graft.functions.NearestCenterFn]] expression node. The two are
    * bit-exact (lazy exact rounding inside the 1e-6 granule, ascending
    * scan = earliest-center ties); the fold stays the default below the
    * bar because it is whole-stage-codegen'd.
    */
  private[graft] val NativeAssignAbove = 100

  /** struct(d: round-6 min squared distance, cid: nearest center,
    * earliest on ties) of `__v` against centers in chosen order — the
    * fold below the [[NativeAssignAbove]] bar, one native
    * [[graft.functions.NearestCenterFn]] node above it (bit-exact, see
    * the bar's doc).
    */
  private def bestCenter(centers: Vector[(Long, Seq[Double])]): Column = {
    import graft.functions.{VectorFunctions => V}
    if (centers.length > NativeAssignAbove)
      graft.functions.NearestCenterFn.nearestCenter(
        col("__v"), centers.map(_._1), centers.map(_._2))
    else {
      val scored = array(centers.map { case (cid, cv) =>
        struct(round(V.sqDist(col("__v"), typedLit(cv)), 6).as("d"),
          lit(cid).as("cid"))
      }: _*)
      val zero = struct(lit(Double.MaxValue).as("d"), lit(-1L).as("cid"))
      aggregate(scored, zero,
        (acc, x) => when(x("d") < acc("d"), x).otherwise(acc))
    }
  }

  /** Round-6 argmin assignment against centers in chosen order — a
    * linear fold; strict < keeps the earliest center on ties (the
    * PQ-argmin discipline). Returns (__id, center_id, d2).
    */
  private def kCenterAssignImpl(base: DataFrame,
      centers: Vector[(Long, Seq[Double])]): DataFrame = {
    val best = bestCenter(centers)
    base.select(col("__id"), best.getField("cid").as("center_id"),
      best.getField("d").as("d2"))
  }
}
