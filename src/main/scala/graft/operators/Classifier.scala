package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions => T}

/** Model-based quality filtering trained on the corpus itself: the
  * fastText/CCNet recipe ("train a cheap linear classifier on weak
  * labels, score everything") reduced to pure relational algebra so the
  * training pass IS a Spark aggregation — no external ML runtime, no
  * driver-side model fit, and the whole thing re-trains in one job on
  * each corpus snapshot.
  *
  * The reference pipeline has no model-based filtering (its processors
  * are stateless per-message transforms, `src/processor.js`); this is
  * part of the LLM-training-data surface layered on top.
  */
object Classifier {

  /** Multinomial Naive Bayes quality classifier, trained with weak
    * supervision from the Gopher heuristic ([[T.gopherPass]]) and scored
    * over the same corpus — the standard bootstrap when no labeled
    * quality data exists (CCNet uses Wikipedia-vs-crawl the same way;
    * here the weak labeler is in-corpus so the oracle can replay it).
    *
    * Math (add-one smoothing everywhere, so zero-shot tokens and empty
    * classes are defined): per token `w`,
    * `llr(w) = ln((c_pos+1)/(T_pos+V)) − ln((c_neg+1)/(T_neg+V))`; per
    * doc, `nb_score = ln((D_pos+1)/(D_neg+1)) + Σ_occurrences llr(w)`
    * and `predicted_pass = nb_score > 0`. Docs with no tokens have no
    * evidence and are excluded (same contract as [[TrainingData.unigramLogProb]]).
    *
    * Scale shape: training is ONE corpus pass — a token-keyed
    * aggregation (map-side partial counts, vocabulary stays
    * distributed) whose vocabulary-sized result is what gets
    * checkpointed; the exploded corpus-sized token stream is never
    * materialized (an earlier version eagerly localCheckpoint'ed the
    * token stream itself and paid a scan-parallelism-bounded multi-GB
    * block write before any real work; tokenizing twice is far cheaper
    * than storing the tokens once). The five model scalars (class token
    * totals, vocab size, class doc counts) are read with one bounded
    * driver action and inlined as plan literals — the bounded-collect
    * discipline the other operators follow — so scoring is a plain
    * projection over the token stream joined to the vocabulary-sized
    * llr table (AQE broadcasts it when it fits, otherwise both sides
    * shuffle on the well-distributed token key) followed by one
    * doc-keyed aggregation.
    */
  def naiveBayesQuality(docs: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val model = nbTrain(docs, idCol, textCol)
    nbScore(docs, idCol, textCol, model)
  }

  /** (id, label, pos, term) token stream. The weak label and the token
    * array are computed in their OWN projection below the explode: a
    * non-trivial expression placed next to a generator lands in the
    * Project ABOVE the Generate and re-evaluates per output TOKEN, not
    * per doc — measured 30× slower at sf0.1 (the r6 "fixed ~23 s stall":
    * every pass over `terms` was paying gopherPass × tokens). Below the
    * Generate, both evaluate once per doc and ride along as plain
    * attributes. `pos` is the token's position, so `pos == 0` marks each
    * doc exactly once (the doc-count trick in [[nbTrain]]).
    */
  private def termsOf(docs: DataFrame, idCol: String, textCol: String)
      : DataFrame = docs
    .filter(col(textCol).isNotNull)
    .select(col(idCol), T.gopherPass(col(textCol)).as("label"),
      T.normTokens(col(textCol)).as("__toks"))
    .select(col(idCol), col("label"),
      posexplode(col("__toks")).as(Seq("pos", "term")))

  /** Training half of [[naiveBayesQuality]]: the persisted-model form.
    * Returns the model AS a DataFrame, so it round-trips through parquet
    * with the same probe-and-append discipline as the dedup indexes
    * ([[Dedup.minhashIndex]] etc.): one row per vocabulary term —
    * `(term, llr)` — plus ONE metadata row with `term = NULL` carrying
    * the class prior `ln((D_pos+1)/(D_neg+1))` (normTokens never yields
    * null, so the slot cannot collide with a real term).
    *
    * The exploded token stream exists only as a streaming input to the
    * token-keyed count aggregation; what persists is vocabulary-sized.
    */
  def nbTrain(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val terms = termsOf(docs, idCol, textCol)
    // ONE corpus pass: the vocabulary-sized token-keyed agg ALSO carries
    // the per-doc class counts — each doc with ≥1 token contributes
    // exactly one pos==0 row, so summing the pos==0 markers over the
    // vocab table recovers (D_pos, D_neg) without a second scan or a
    // distinct shuffle
    val counts = terms.groupBy("term").agg(
      sum(when(col("label"), 1L).otherwise(0L)).as("c_pos"),
      sum(when(!col("label"), 1L).otherwise(0L)).as("c_neg"),
      sum(when(col("pos") === 0 && col("label"), 1L).otherwise(0L)).as("__dp"),
      sum(when(col("pos") === 0 && !col("label"), 1L).otherwise(0L)).as("__dn"))
      .localCheckpoint(true)
    // one bounded driver action: 5 longs
    val t = counts.agg(
      sum("c_pos").as("t_pos"), sum("c_neg").as("t_neg"), count(lit(1)).as("v"),
      sum("__dp").as("d_pos"), sum("__dn").as("d_neg")).head()
    def l(i: Int): Long = if (t.isNullAt(i)) 0L else t.getLong(i)
    val (tPos, tNeg, v, dPos, dNeg) = (l(0), l(1), t.getLong(2), l(3), l(4))
    val prior = math.log((dPos + 1).toDouble / (dNeg + 1).toDouble)
    counts.select(col("term"),
      (log((col("c_pos") + 1).cast("double") / lit((tPos + v).toDouble)) -
        log((col("c_neg") + 1).cast("double") / lit((tNeg + v).toDouble)))
        .as("llr"))
      .unionByName(counts.sparkSession.range(1)
        .select(lit(null).cast("string").as("term"), lit(prior).as("llr")))
  }

  /** Scoring half: score `docs` against a persisted `model` (the
    * [[nbTrain]] output, possibly read back from parquet). Tokens absent
    * from the model vocabulary carry no evidence and are skipped (the
    * same contract as [[TrainingData.unigramLogProb]]); docs with no
    * in-vocabulary tokens are excluded. When the model was trained on a
    * corpus containing the scored docs, this reproduces
    * [[naiveBayesQuality]] restricted to them exactly.
    */
  def nbScore(docs: DataFrame, idCol: String, textCol: String,
      model: DataFrame): DataFrame = {
    // one bounded driver action: the single metadata row
    val prior = model.filter(col("term").isNull)
      .select(col("llr")).head().getDouble(0)
    val llr = model.filter(col("term").isNotNull)
      .select(col("term"), col("llr").as("__llr"))
    termsOf(docs, idCol, textCol)
      .join(llr, Seq("term"))
      .groupBy(col(idCol), col("label"))
      .agg(count(lit(1)).as("n_tokens_scored"), sum("__llr").as("__sum"))
      .select(col(idCol), col("label"), col("n_tokens_scored"),
        (lit(prior) + col("__sum")).as("nb_score"))
      .withColumn("predicted_pass", col("nb_score") > 0)
  }

  // ------------------------------------------------------------------
  // Persisted COUNT-form model store: exact unlearning
  // ------------------------------------------------------------------

  /** Persist the COUNT form of the NB model under `path` — the
    * machine-unlearning face of the classifier. [[nbTrain]] persists
    * the DERIVED model (per-term llr), which cannot be updated: llr
    * mixes every term's count with the corpus totals, so neither an
    * append nor a takedown can be applied to it without retraining.
    * The count form CAN, exactly: multinomial NB's sufficient
    * statistics are integer sums (per-term class counts, per-class doc
    * counts), so adding a batch's counts or subtracting a victim's
    * counts yields bit-for-bit the statistics of retraining on the
    * changed corpus — NB is one of the few models where a takedown
    * ("this document must stop influencing the quality filter") has an
    * EXACT O(victim-size) answer instead of a full retrain. Three
    * tables:
    *
    *  - `counts` — (term, c_pos, c_neg): per-term class token counts,
    *    vocabulary-sized.
    *  - `members` — (id, label, n_tokens, text_md5, mult): the
    *    membership ledger, keyed by id ([[nbLedger]]).
    *  - `stats` — one (d_pos, d_neg) row per batch: class doc counts
    *    (docs with ≥ 1 token, the [[nbTrain]] contract).
    *
    * The store protocol — atomic delta batches, the ledger's guards and
    * present rule, staged-swap compaction, and a rebuild (this method)
    * superseding pending deltas and an interrupted compaction — is
    * [[CountStore]]'s.
    */
  def nbModelWrite(docs: DataFrame, idCol: String, textCol: String,
      path: String): Unit = {
    nbRequireUniqueIds(docs, idCol, textCol, "nbModelWrite")
    CountStore.writeBase(docs.sparkSession, path,
      nbModelTables(docs, idCol, textCol))
  }

  // intra-batch duplicate-id guard over the rows that actually
  // contribute (non-null text) — see CountStore.requireUniqueBatchKeys
  private def nbRequireUniqueIds(docs: DataFrame, idCol: String,
      textCol: String, face: String): Unit =
    CountStore.requireUniqueBatchKeys(
      docs.filter(col(textCol).isNotNull).select(col(idCol).as("id")),
      Seq("id"), face)

  // the store's ledger layout: keyed by id; the compaction fold carries
  // each doc's class, token count and pinned text digest
  private val nbLedger = CountStore.Ledger(Seq("id"),
    Seq("label", "n_tokens", "text_md5"), "nbModel")

  // the three model tables of one doc batch, with `sign` applied to
  // every additive quantity — the ONE place the store's arithmetic
  // lives, so build, append, and delete cannot drift apart
  private[graft] def nbModelTables(docs: DataFrame, idCol: String,
      textCol: String, sign: Int = 1): Seq[(String, DataFrame)] = {
    val s = lit(sign.toLong)
    val terms = termsOf(docs, idCol, textCol)
    val counts = terms.groupBy("term").agg(
      (s * sum(when(col("label"), 1L).otherwise(0L))).as("c_pos"),
      (s * sum(when(!col("label"), 1L).otherwise(0L))).as("c_neg"))
    // per-doc ledger from its own projection (NOT termsOf: a token-less
    // doc produces no term rows yet still needs a membership row).
    // text_md5 pins the EXACT ingested text: label/n_tokens alone would
    // pass a same-length same-label different-token text, whose
    // subtraction silently corrupts the counts.
    // `def`, not `val`: the three tables are written by CONCURRENT
    // jobs (CountStore's one table writer), and a table built FROM
    // another table's frame (stats as members.agg(...) over ONE members
    // frame) makes both plans share the SAME expression instances —
    // gopherPass's higher-order `aggregate` carries per-instance
    // mutable lambda-variable holders, so two driver-side optimizer
    // evaluations of the shared instance (ConvertToLocalRelation on
    // driver-local batches) raced and intermittently flipped a doc's
    // label in ONE of the plans (the NbUnlearnSpec prior-shift flake,
    // about 1 run in 45). A fresh projection per table (stats
    // aggregates its OWN memberRows call) keeps every stateful
    // expression instance single-reader; NbUnlearnSpec pins this
    // structurally.
    def memberRows: DataFrame = docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"), T.gopherPass(col(textCol)).as("label"),
        size(T.normTokens(col(textCol))).cast("long").as("n_tokens"),
        md5(col(textCol).cast("binary")).as("text_md5"),
        s.cast("int").as("mult"))
    val stats = memberRows
      .agg((s * sum(when(col("label") && col("n_tokens") > 0, 1L)
          .otherwise(0L))).as("d_pos"),
        (s * sum(when(!col("label") && col("n_tokens") > 0, 1L)
          .otherwise(0L))).as("d_neg"))
      .repartition(1)
    Seq("counts" -> counts, "members" -> memberRows, "stats" -> stats)
  }

  /** Append a new doc batch to a [[nbModelWrite]] store: the batch's
    * counts/members/stats staged as one atomic `_COMMIT` delta. Ids
    * must be NEW — an id currently or formerly in the model fails
    * loudly until a compact retires its ledger rows
    * ([[CountStore.requireFresh]]).
    */
  def nbModelAppend(newDocs: DataFrame, idCol: String, textCol: String,
      path: String): Unit = {
    val spark = newDocs.sparkSession
    val root = nbLedger.open(spark, path, "nbModelAppend")
    AtomicBatches.sweepUncommitted(spark, s"$path/deltas")
    CountStore.requireFresh(nbLedger, root, newDocs, idCol, textCol,
      "nbModelAppend")
    CountStore.stageDelta(spark, path, nbModelTables(newDocs, idCol, textCol))
  }

  /** REPLAY-SAFE ingestion face for stream-driven training — call from
    * `foreachBatch` with the sink's `batchId`: at-least-once redelivery
    * of a committed micro-batch is a no-op (integer counts would
    * otherwise double-apply SILENTLY — the one corruption the atomic
    * batch protocol alone cannot stop, since a retry through
    * [[nbModelAppend]] lands as a new batch). The replay check runs
    * BEFORE the fresh-ids guard, whose misfire on a redelivered batch's
    * own ids would wedge the stream. Returns false on a replay skip.
    *
    * Compaction retires the replay markers with the rest of the delta
    * channel, so a micro-batch redelivered from BEFORE a compaction can
    * no longer be recognized as a replay — it then fails the fresh-ids
    * guard LOUDLY (its ids are in the compacted ledger) instead of
    * double-applying silently; quiesce the stream across compactions
    * (the `_MAINT` marker already forces this for the overlap window)
    * and resume from a checkpoint at or beyond the compaction point.
    */
  def nbModelAppendStream(newDocs: DataFrame, idCol: String,
      textCol: String, path: String, batchId: Long): Boolean = {
    val spark = newDocs.sparkSession
    val root = nbLedger.open(spark, path, "nbModelAppendStream")
    if (CountStore.streamBatchCommitted(spark, path, batchId)) return false
    CountStore.requireFresh(nbLedger, root, newDocs, idCol, textCol,
      "nbModelAppendStream")
    CountStore.stageStreamDelta(spark, path, batchId,
      nbModelTables(newDocs, idCol, textCol))
  }

  /** DELETE (takedown / exact unlearning) face: subtract the victims'
    * sufficient statistics, staged as one atomic `_COMMIT` delta —
    * after which the DERIVED model (per-term llr + prior) is
    * bit-identical to retraining on the corpus WITHOUT the victims
    * ([[nbModelAsLlr]] folds exact integer counts through [[nbTrain]]'s
    * expressions; per-doc score sums then agree with a retrain at the
    * driver oracle's round-6 contract — double-sum order is the only
    * thing Spark doesn't pin). The victims' counts are recomputed from
    * the submitted text (tokenization is deterministic); the drift
    * check, the skip of absent ids and the staging are
    * [[CountStore.stageDelete]]'s.
    */
  def nbModelDelete(victimDocs: DataFrame, idCol: String,
      textCol: String, path: String): Unit =
    CountStore.stageDelete(nbLedger, victimDocs, idCol, textCol, path)(
      (_, victims) => nbModelTables(victims, idCol, textCol, sign = -1))

  /** AUDIT face: the ids whose counts still influence the model — one
    * `id` column, lazily corpus-sized ([[CountStore.presentIds]], the
    * [[graft.operators.Takedown.audit]] consumer's probe). An id
    * [[nbModelDelete]] subtracted no longer appears, compacted or not.
    */
  def nbModelPresentIds(spark: SparkSession, path: String): DataFrame =
    CountStore.presentIds(spark, path, nbLedger)

  /** The store's CURRENT model in [[nbTrain]]'s derived form — (term,
    * llr) rows plus the `term = NULL` prior row — from the folded
    * integer counts. Exact-integer folds first (term counts summed per
    * term, a term whose total hits zero LEAVES the vocabulary — just as
    * a retrain would never see it; doc counts summed across batch
    * rows), then [[nbTrain]]'s llr/prior expressions over the folded
    * values: identical integer inputs through identical double
    * arithmetic, so the (term, llr, prior) rows are bit-identical to
    * [[nbTrain]] over the surviving corpus (scores add per-doc llr
    * sums on top, where only double-sum ORDER can differ — round-6
    * identical, the oracle contract).
    */
  def nbModelAsLlr(spark: SparkSession, path: String): DataFrame = {
    val root = nbLedger.open(spark, path, "nbModelAsLlr")
    val counts = CountStore.fold(root, "counts").groupBy("term")
      .agg(sum(col("c_pos")).as("c_pos"), sum(col("c_neg")).as("c_neg"))
      .filter(col("c_pos") + col("c_neg") > 0)
      .localCheckpoint(true)
    // the vocab totals and the doc-count fold are independent bounded
    // driver actions over DISJOINT trees (the checkpointed counts leaf
    // and a fresh stats read — no shared stateful expression instances,
    // the nbModelTables single-reader rule) — one concurrent round trip
    @volatile var t: org.apache.spark.sql.Row = null
    @volatile var d: org.apache.spark.sql.Row = null
    Takedown.inParallel(Seq[() => Unit](
      () => t = counts.agg(
        sum("c_pos").as("t_pos"), sum("c_neg").as("t_neg"),
        count(lit(1)).as("v")).head(),
      () => d = CountStore.fold(root, "stats")
        .agg(sum("d_pos").as("d_pos"), sum("d_neg").as("d_neg")).head()))(
      _.apply())
    def l(i: Int): Long = if (t.isNullAt(i)) 0L else t.getLong(i)
    val (tPos, tNeg, v) = (l(0), l(1), t.getLong(2))
    val (dPos, dNeg) =
      (if (d.isNullAt(0)) 0L else d.getLong(0),
       if (d.isNullAt(1)) 0L else d.getLong(1))
    val prior = math.log((dPos + 1).toDouble / (dNeg + 1).toDouble)
    counts.select(col("term"),
      (log((col("c_pos") + 1).cast("double") / lit((tPos + v).toDouble)) -
        log((col("c_neg") + 1).cast("double") / lit((tNeg + v).toDouble)))
        .as("llr"))
      .unionByName(spark.range(1)
        .select(lit(null).cast("string").as("term"), lit(prior).as("llr")))
  }

  /** Score `docs` against the store's current model — [[nbScore]]
    * through [[nbModelAsLlr]]. After deletes: equal to scoring against
    * a model retrained on the corpus minus the victims (llr table
    * bit-identical; per-doc sums round-6 identical).
    */
  def nbScoreFromModel(docs: DataFrame, idCol: String, textCol: String,
      path: String): DataFrame =
    nbScore(docs, idCol, textCol, nbModelAsLlr(docs.sparkSession, path))

  /** Fold the committed delta history into a fresh base and retire the
    * `deltas/` channel — the physical-removal half of [[nbModelDelete]]
    * (victim evidence leaves the ledger; zero-count vocabulary rows
    * leave disk) and the read-cost bound for long histories. Crash
    * safety, `_MAINT` exclusivity, the takeover contract and the ledger
    * fold are the shared staged-swap protocol ([[CountStore.compactSwap]]).
    */
  def nbModelCompact(spark: SparkSession, path: String,
      takeover: Boolean = false): Unit =
    CountStore.compactSwap(spark, path, takeover, nbLedger,
      Seq("counts", "stats")) {
      case (root, "counts") =>
        CountStore.fold(root, "counts").groupBy("term")
          .agg(sum(col("c_pos")).as("c_pos"), sum(col("c_neg")).as("c_neg"))
          .filter(col("c_pos") + col("c_neg") > 0)
      case (root, "stats") =>
        CountStore.fold(root, "stats")
          .agg(coalesce(sum("d_pos"), lit(0L)).as("d_pos"),
            coalesce(sum("d_neg"), lit(0L)).as("d_neg"))
          .repartition(1)
    }
}
