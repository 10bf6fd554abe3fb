package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupStateTimeout, OutputMode, Trigger}

import graft.Frames
import graft.operators.StoreRoot
import graft.pipeline.{Pipeline, Routing, RoutedMessages}

/** Structured Streaming surface of the engine.
  *
  * The reference's whole data plane is one streaming job per pipeline:
  * Kafka source → decode → processor chain → DLQ/target routing → Kafka
  * sink, at-least-once via produce-then-commit (reference
  * src/consumer.js:153-175,239-254). Structured Streaming gives the same
  * contract with checkpointing; the Column-expression chain compiled by
  * [[graft.pipeline.Pipeline]] is source-agnostic, so the exact same plan
  * fragment runs over `read` and `readStream`.
  */
object StreamingOps {

  /** Kafka streaming source with the reference's consumer tuning mapped
    * onto Spark options (reference src/consumer.js:198-221):
    * fromBeginning → startingOffsets=earliest; batchSize 5000 →
    * maxOffsetsPerTrigger; minPartitions decouples Spark parallelism from
    * topic partitions (what the reference needed a partition-scaler
    * sidecar for, partition-scaler.js:72-77).
    */
  def kafkaSource(spark: org.apache.spark.sql.SparkSession, brokers: String,
      topic: String, maxOffsetsPerTrigger: Long = 5000,
      minPartitions: Option[Int] = None): DataFrame = {
    val r = spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", brokers)
      .option("subscribe", topic)
      .option("startingOffsets", "earliest")
      .option("maxOffsetsPerTrigger", maxOffsetsPerTrigger)
    minPartitions.fold(r)(n => r.option("minPartitions", n)).load()
  }

  /** Run a compiled pipeline over a streaming message frame
    * (key/value/num columns) and shape the output for a Kafka sink:
    * per-row `topic` column routes target vs DLQ in ONE sink — the
    * distributed replacement for the reference's per-message DLQ sends
    * (src/consumer.js:166-172). Dropped/error rows are filtered (the
    * reference produces them nowhere, src/consumer.js:134-150).
    */
  def routeForKafka(pipeline: Pipeline, messages: DataFrame,
      encodeValue: DataFrame => Column): DataFrame =
    pipeline(messages).kafkaShape(encodeValue)

  /** Kafka sink writer with checkpointing — at-least-once, matching the
    * reference's produce-before-commit contract.
    */
  def kafkaSink(routed: DataFrame, brokers: String,
      checkpointDir: String): DataStreamWriter[Row] =
    routed.writeStream.format("kafka")
      .option("kafka.bootstrap.servers", brokers)
      .option("checkpointLocation", checkpointDir)

  /** Tumbling-window aggregate with watermark — the north-star streaming
    * aggregation the reference lacks entirely (SURVEY §2.3).
    */
  def tumblingCounts(events: DataFrame, tsCol: String, width: String,
      watermark: String, groupCols: Seq[String],
      sumCol: Option[String] = None): DataFrame = {
    // the summed measure is opt-in like every other column here — a
    // hardcoded sum("value") would fail analysis on frames without one
    val aggs = count(lit(1)).as("n") +:
      sumCol.map(c => sum(col(c)).as(s"sum_$c")).toSeq
    events.withWatermark(tsCol, watermark)
      .groupBy((window(col(tsCol), width) +: groupCols.map(col)): _*)
      .agg(aggs.head, aggs.tail: _*)
      .select((col("window.start").as("window_start") +: groupCols.map(col)) ++
        Seq(col("n")) ++ sumCol.map(c => col(s"sum_$c")): _*)
  }

  /** Sliding-window aggregate: each event contributes to width/slide
    * overlapping windows (Spark explodes the assignment inside the
    * aggregation — no self-join).
    */
  def slidingCounts(events: DataFrame, tsCol: String, width: String,
      slide: String, watermark: String, groupCols: Seq[String]): DataFrame =
    events.withWatermark(tsCol, watermark)
      .groupBy((window(col(tsCol), width, slide) +: groupCols.map(col)): _*)
      .agg(count(lit(1)).as("n"))
      .select((col("window.start").as("window_start") +:
        groupCols.map(col)) :+ col("n"): _*)

  /** Stream-static enrichment join: the static dimension is broadcast to
    * every task, so the stream never shuffles — the Spark-native version
    * of the reference's driver-side catalog caches (consumer.js:55,74)
    * applied to data-plane enrichment. Works identically over batch.
    */
  def enrich(stream: DataFrame, dim: DataFrame, keys: Seq[String]): DataFrame =
    stream.join(broadcast(dim), keys, "left")

  /** Session windows with a gap — stateful sessionization. */
  def sessionAgg(events: DataFrame, tsCol: String, gap: String,
      watermark: String, keyCol: String): DataFrame =
    events.withWatermark(tsCol, watermark)
      .groupBy(session_window(col(tsCol), gap), col(keyCol))
      .agg(count(lit(1)).as("n"))
      .select(col(keyCol), col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"), col("n"))

  /** Streaming exact dedup within a watermark horizon — bounded state:
    * Spark evicts keys older than the watermark, so state stays
    * proportional to the horizon, not the stream history.
    */
  def streamingDedup(events: DataFrame, tsCol: String, watermark: String,
      keyCols: Seq[String]): DataFrame =
    events.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Continuous-ingestion near-dup: each micro-batch probes the parquet
    * MinHash index of everything ingested before it
    * ([[graft.operators.Dedup.minhashLshIncrementalFromIndex]]), appends
    * the resulting new-involving pairs, then appends its own index rows
    * so later batches match against them — the shared probe-and-append
    * loop of [[continuousClusteredDedup]], without the labels. The corpus
    * text is read exactly once, ever; the accumulated state is the
    * (id, band, sig, shingles) index on disk — restart-safe and
    * corpus-sized on storage, never in executor memory.
    *
    * Both writes replace their own `batch_id` partition
    * ([[BatchState]]), so a replayed batch (at-least-once foreachBatch)
    * replaces its first attempt instead of duplicating rows —
    * effectively exactly-once output.
    */
  def continuousNearDup(docs: DataFrame, idCol: String, textCol: String,
      indexPath: String, pairsPath: String, checkpoint: String,
      numHashes: Int = 16, bands: Int = 8, shingleN: Int = 5,
      threshold: Double = 0.5, estimateSlack: Double = 0.25): DataStreamWriter[Row] =
    continuousIndexedDedup(docs, minhashIndexOf(idCol, textCol, numHashes,
        bands, shingleN),
      minhashProbe(idCol, numHashes, threshold, estimateSlack),
      idCol, indexPath, pairsPath, checkpoint)

  private def minhashIndexOf(idCol: String, textCol: String, numHashes: Int,
      bands: Int, shingleN: Int): DataFrame => DataFrame =
    b => graft.operators.Dedup.minhashIndex(b, idCol, textCol, numHashes,
      bands, shingleN)

  private def minhashProbe(idCol: String, numHashes: Int, threshold: Double,
      estimateSlack: Double): (DataFrame, DataFrame) => DataFrame =
    (newIdx, existing) => graft.operators.Dedup.minhashLshIncrementalFromIndex(
      newIdx, idCol, existing, numHashes, threshold, estimateSlack)

  /** Continuous quality scoring against a persisted Naive Bayes model
    * ([[graft.operators.Classifier.nbTrain]] output, read back from
    * parquet): each micro-batch is scored with
    * [[graft.operators.Classifier.nbScore]] and written per-batch-id
    * (dynamic overwrite — replays replace). The model is STATIC for the
    * stream's lifetime — the standard train-offline / score-online
    * split; retraining is a new model path and a stream restart. Scoring
    * is a vocabulary-table join + one per-doc aggregation per batch;
    * nothing stateful accumulates.
    */
  def continuousNbScore(docs: DataFrame, idCol: String, textCol: String,
      model: DataFrame, outPath: String, checkpoint: String)
      : DataStreamWriter[Row] =
    BatchState.eachBatch(docs, checkpoint) { (batch, batchId, _) =>
      BatchState.writeBatch(
        graft.operators.Classifier.nbScore(batch, idCol, textCol, model),
        outPath, batchId)
    }

  /** Continuous domain-relevance scoring against a persisted DSIR model
    * ([[graft.operators.Sampling.dsirTrain]] output, read back from
    * parquet): each micro-batch is scored with
    * [[graft.operators.Sampling.dsirScore]] and written per-batch-id
    * (dynamic overwrite — replays replace). Same train-offline /
    * score-online split as [[continuousNbScore]]; the model is a
    * bucket-bounded broadcast per batch, nothing stateful accumulates.
    * Downstream, a threshold on `logw` is the online keep/drop gate.
    */
  def continuousDsirScore(docs: DataFrame, idCol: String, textCol: String,
      model: DataFrame, numBuckets: Int, outPath: String, checkpoint: String)
      : DataStreamWriter[Row] =
    BatchState.eachBatch(docs, checkpoint) { (batch, batchId, _) =>
      BatchState.writeBatch(
        graft.operators.Sampling.dsirScore(batch, idCol, textCol, model,
          numBuckets),
        outPath, batchId)
    }

  /** Continuous realization of a static mixture plan
    * ([[graft.operators.Sampling.mixturePlan]] output, read back from
    * parquet): each micro-batch of raw docs is materialized through
    * [[graft.operators.Sampling.applyMixturePlan]] — floor-epochs full
    * repeats + the md5-deterministic fractional remainder, `epoch_idx`
    * per copy — and lands per-batch-id (dynamic overwrite — replays
    * replace). Because the emission rule is a pure per-row function of
    * (id, source, plan), the union of the per-batch outputs EQUALS the
    * batch materialization of the union: ingestion batching is
    * invisible to the realized mixture. Same train-offline /
    * apply-online split as NB / DSIR / k-means scoring; re-planning is a
    * new plan path and a stream restart.
    */
  def continuousApplyMixturePlan(docs: DataFrame, sourceCol: String,
      idCol: String, plan: DataFrame, outPath: String, checkpoint: String)
      : DataStreamWriter[Row] =
    BatchState.eachBatch(docs, checkpoint) { (batch, batchId, _) =>
      BatchState.writeBatch(
        graft.operators.Sampling.applyMixturePlan(batch, sourceCol, idCol,
          plan),
        outPath, batchId)
    }

  /** Continuous topic-shard assignment against a persisted k-means
    * model ([[graft.operators.Embeddings.kmeansTrain]] output): each
    * micro-batch labels via [[graft.operators.Embeddings.kmeansAssign]]
    * — one shuffle-free projection per batch against the k-row model —
    * and lands per-batch-id (dynamic overwrite — replays replace). Same
    * train-offline / score-online split as NB and DSIR.
    */
  def continuousKmeansAssign(vecs: DataFrame, idCol: String, vecCol: String,
      model: DataFrame, outPath: String, checkpoint: String)
      : DataStreamWriter[Row] =
    BatchState.eachBatch(vecs, checkpoint) { (batch, batchId, _) =>
      BatchState.writeBatch(
        graft.operators.Embeddings.kmeansAssign(batch, idCol, vecCol, model),
        outPath, batchId)
    }

  /** [[continuousKmeansAssign]] for a persisted
    * [[graft.operators.Sampling.kCenterCenters]] coreset: each
    * micro-batch routes into the FROZEN k-center regions
    * ([[graft.operators.Sampling.kCenterAssign]]'s exact argmin, shared
    * code — ties to the earliest-chosen center), landing per-batch-id
    * with dynamic overwrite (replay-safe). The streaming half of the
    * diversity sampler's train-offline / score-online split: the
    * traversal is inherently sequential and runs offline, the stream
    * only ever scores. Coreset drift → re-traverse offline, swap the
    * centers table, restart.
    */
  def continuousKCenterAssign(vecs: DataFrame, idCol: String,
      vecCol: String, centers: DataFrame, outPath: String,
      checkpoint: String): DataStreamWriter[Row] =
    BatchState.eachBatch(vecs, checkpoint) { (batch, batchId, _) =>
      BatchState.writeBatch(
        graft.operators.Sampling.kCenterAssign(batch, idCol, vecCol, centers),
        outPath, batchId)
    }

  /** Continuous per-group quality cap — the streaming face of
    * [[graft.operators.Sampling.capPerGroup]] ("keep at most `n` best
    * docs per domain"), same persisted-state discipline as the dedup
    * families: the best-so-far SELECTED SET (≤ n rows per group:
    * group cols + id + score) persists in parquet; each micro-batch
    * unions its candidates with the latest committed set, re-caps with
    * the batch operator (bounded top-k aggregation — never a per-group
    * window), and writes the new set at its own `batch_id` partition
    * (dynamic overwrite — replays replace). The previous batch's
    * partition is kept (a replay of batch B must find B−1's state);
    * older ones are pruned, so state on disk is ≤ 2 × #groups × n rows.
    *
    * Invariant (spec-checked): after any prefix of batches, the
    * selection equals `capPerGroup` over the union of those batches —
    * holds because top-n-by-score is an associative fold: the best n of
    * (best-so-far ∪ batch) = best n of all rows seen.
    */
  def continuousCapPerGroup(docs: DataFrame, groupCols: Seq[String],
      idCol: String, scoreCol: String, n: Int, statePath: String,
      checkpoint: String): DataStreamWriter[Row] =
    BatchState.eachBatch(docs, checkpoint) { (batch, batchId, _) =>
      val cur = batch.select((groupCols ++ Seq(idCol, scoreCol)).map(col): _*)
      // distinct: a row present in the carried state AND re-sent in this
      // batch must occupy one top-k slot, not two
      BatchState.carry(statePath, batchId, cur.limit(0))(prev =>
        graft.operators.Sampling.capPerGroup(
          prev.union(cur).distinct(), groupCols, idCol, col(scoreCol), n))
    }

  /** The current selection of a [[continuousCapPerGroup]] state table:
    * the latest batch's partition (older partitions exist only as the
    * replay safety margin).
    */
  def currentCapSelection(spark: org.apache.spark.sql.SparkSession,
      statePath: String): DataFrame =
    BatchState.current(spark, statePath)

  /** Continuous per-group distinct counting via MERGEABLE sketches —
    * the streaming face of `q_hll_merge`'s contract: the per-group
    * DataSketches HLL sketch (a fixed-size binary) persists per
    * batch_id; each micro-batch sketches its own rows
    * (`hll_sketch_agg`) and unions them into the carried sketches
    * (`hll_union_agg`) — state is #groups × sketch bytes FOREVER,
    * independent of how many distinct values streamed through, and
    * history is never re-scanned. Same replace-per-batch /
    * replay-margin discipline as [[continuousCapPerGroup]].
    */
  def continuousDistinctSketch(rows: DataFrame, groupCols: Seq[String],
      valueCol: String, statePath: String, checkpoint: String)
      : DataStreamWriter[Row] =
    BatchState.eachBatch(rows, checkpoint) { (batch, batchId, _) =>
      val cur = batch.groupBy(groupCols.map(col): _*)
        .agg(hll_sketch_agg(col(valueCol)).as("sk"))
      BatchState.carry(statePath, batchId, cur.limit(0))(prev =>
        prev.union(cur)
          .groupBy(groupCols.map(col): _*)
          .agg(hll_union_agg(col("sk")).as("sk")))
    }

  /** Current per-group distinct estimates of a
    * [[continuousDistinctSketch]] state table.
    */
  def currentDistinctEstimates(spark: org.apache.spark.sql.SparkSession,
      statePath: String, groupCols: Seq[String]): DataFrame =
    BatchState.current(spark, statePath)
      .select(groupCols.map(col) :+
        hll_sketch_estimate(col("sk")).as("n_distinct_est"): _*)

  /** Continuous per-group DISTINCT-WITH-SET-ALGEBRA tracking via the
    * KMV theta sketch ([[graft.functions.ThetaSketch]]) — the
    * set-algebra sibling of [[continuousDistinctSketch]] (HLL can union
    * but never intersect), same replace-per-batch / replay-margin
    * discipline: each micro-batch sketches its own rows and union-merges
    * them into the carried per-group sketches; state is #groups × ≤k
    * longs FOREVER. The KMV canonical form (k smallest distinct hashes
    * of the value SET) means the carried state after N batches is
    * EXACTLY the sketch of the union of all N batches — so persisted
    * per-group sketches answer cross-group overlap questions
    * ([[graft.functions.ThetaSketch.thetaIntersect]] / `thetaJaccard`)
    * at any point in the stream's life, byte-identical to a batch
    * rebuild.
    */
  def continuousThetaSketch(rows: DataFrame, groupCols: Seq[String],
      valueCol: String, statePath: String, checkpoint: String,
      k: Int = 256): DataStreamWriter[Row] = {
    import graft.functions.{ThetaSketch => TS}
    BatchState.eachBatch(rows, checkpoint) { (batch, batchId, _) =>
      val cur = batch.groupBy(groupCols.map(col): _*)
        .agg(TS.thetaSketch(col(valueCol), k).as("sk"))
      BatchState.carry(statePath, batchId, cur.limit(0))(prev =>
        prev.union(cur)
          .groupBy(groupCols.map(col): _*)
          .agg(TS.thetaUnion(col("sk"), k).as("sk")))
    }
  }

  /** Continuous per-group QUANTILE tracking via the engine's mergeable
    * quantile sketch ([[graft.functions.QuantileSketch]]) — the quantile
    * sibling of [[continuousDistinctSketch]], same replace-per-batch /
    * replay-margin discipline: each micro-batch sketches its own rows
    * and merges them into the carried per-group sketches; state is
    * #groups × ≤bins buckets FOREVER, history never re-scanned. The
    * sketch's canonical form means the carried state after N batches is
    * EXACTLY the sketch of the union of all N batches — restart, replay,
    * and batch/stream parity are all byte-identical, not approximately
    * equal.
    */
  def continuousQuantileSketch(rows: DataFrame, groupCols: Seq[String],
      valueCol: String, statePath: String, checkpoint: String,
      bins: Int = 256): DataStreamWriter[Row] = {
    import graft.functions.{QuantileSketch => QS}
    BatchState.eachBatch(rows, checkpoint) { (batch, batchId, _) =>
      val cur = batch.groupBy(groupCols.map(col): _*)
        .agg(QS.sketchAgg(col(valueCol).cast("double"), bins).as("sk"))
      BatchState.carry(statePath, batchId, cur.limit(0))(prev =>
        prev.union(cur)
          .groupBy(groupCols.map(col): _*)
          .agg(QS.sketchMerge(col("sk"), bins).as("sk")))
    }
  }

  /** Current per-group quantile estimates of a
    * [[continuousQuantileSketch]] state table, one output column per
    * requested probability (`p50`-style names from the rounded
    * percentage).
    */
  def currentQuantileEstimates(spark: org.apache.spark.sql.SparkSession,
      statePath: String, groupCols: Seq[String],
      probs: Seq[Double]): DataFrame = {
    import graft.functions.{QuantileSketch => QS}
    BatchState.current(spark, statePath)
      .select(groupCols.map(col) :+ col("sk") :+ col("sk.n").as("n_values"): _*)
      .select(groupCols.map(col) ++ Seq(col("n_values")) ++ probs.map(p =>
        QS.sketchQuantile(col("sk"), p)
          .as(s"p${math.round(p * 100)}")): _*)
  }

  /** Continuous N-step funnel — the streaming face of
    * [[graft.operators.Funnel]]: the per-user reach frame
    * (user, t_1 .. t_N) persists per batch_id (same
    * dynamic-overwrite/replay-margin/prune discipline as
    * [[continuousCapPerGroup]]); each micro-batch REPLAYS the carried
    * state as synthetic step events (one event of step i's type at t_i
    * per reached user — exactly the information the chained min-agg
    * needs) unioned with the batch's events, and recomputes
    * [[graft.operators.Funnel.reach]] over that union. State is
    * #reached-users × N timestamps — user-bounded, not event-bounded.
    *
    * CONTRACT (the standard event-time streaming assumption): each
    * user's events arrive in non-decreasing `ts` order ACROSS batches
    * (within a batch, any order — reach computes exactly). An event
    * arriving after a later-ts event of the same user may be chained
    * against already-frozen step times, like a closed window: e.g. a
    * step-1 event arriving after the user's step-2 event was discarded
    * cannot resurrect it. Under in-order arrival the spec-checked
    * invariant holds: after any prefix of batches, the state equals
    * `Funnel.reach` over the union of those batches.
    */
  def continuousFunnel(events: DataFrame, userCol: String, typeCol: String,
      tsCol: String, steps: Seq[String], conversionWindow: Option[String],
      statePath: String, checkpoint: String): DataStreamWriter[Row] =
    BatchState.eachBatch(events, checkpoint) { (batch, batchId, _) =>
      val cur = batch.select(col(userCol), col(typeCol), col(tsCol))
      val emptyState = graft.operators.Funnel.reach(
        cur.limit(0), userCol, typeCol, tsCol, steps, conversionWindow)
      BatchState.carry(statePath, batchId, emptyState) { prev =>
        val synth = steps.indices.map { i =>
          prev.filter(col(s"t_${i + 1}").isNotNull)
            .select(col(userCol), lit(steps(i)).as(typeCol),
              col(s"t_${i + 1}").as(tsCol))
        }.reduce(_ union _)
        graft.operators.Funnel.reach(
          synth.union(cur), userCol, typeCol, tsCol, steps, conversionWindow)
      }
    }

  /** The current per-user reach frame of a [[continuousFunnel]] state
    * table (latest batch partition).
    */
  def currentFunnelReach(spark: org.apache.spark.sql.SparkSession,
      statePath: String): DataFrame =
    BatchState.current(spark, statePath)

  /** The funnel headline over the current stream state — the same
    * one-row (n_step_1 .. n_step_N) shape as
    * [[graft.operators.Funnel.counts]], read from [[currentFunnelReach]].
    */
  def currentFunnelCounts(spark: org.apache.spark.sql.SparkSession,
      statePath: String, nSteps: Int): DataFrame = {
    require(nSteps >= 1, "nSteps must be positive")
    currentFunnelReach(spark, statePath).agg(
      count(col("t_1")).as("n_step_1"),
      (2 to nSteps).map(i => count(col(s"t_$i")).as(s"n_step_$i")): _*)
  }

  /** Continuous SCD2 dimension maintenance — the CDC-stream face of
    * [[graft.operators.Scd2]]: each micro-batch of attribute
    * observations folds into a persisted version history WITHOUT
    * rewriting it. Closed versions are immutable under the in-order
    * contract (each key's observations arrive in non-decreasing ts
    * order across batches — same contract as [[continuousFunnel]]), so
    * a batch can only (a) CLOSE a key's current version and (b) open
    * new versions. The batch therefore writes an append-only DELTA:
    * for each key the batch touches, the current version row is
    * replayed as a synthetic observation through `Scd2.history`
    * together with the batch's updates, and the resulting rows land at
    * this batch_id — the labels-delta discipline
    * ([[continuousClusteredDedup]]): the live row of a (key,
    * effective_from) version is its row in the LATEST batch that wrote
    * it ([[currentScd2History]]); untouched keys' rows are never
    * rewritten.
    */
  def continuousScd2(updates: DataFrame, keyCols: Seq[String], tsCol: String,
      tieCol: String, attrCols: Seq[String], statePath: String,
      checkpoint: String): DataStreamWriter[Row] =
    BatchState.eachBatch(updates, checkpoint) { (batch, batchId, f) =>
      val spark = batch.sparkSession
      val cur = f.persist(batch.select(
        (keyCols ++ Seq(tsCol, tieCol) ++ attrCols).map(col): _*))
      cur.count()
      // the open version of every key this batch touches
      val currentOfTouched = BatchState.priorRows(
          scd2Root(spark, statePath, "continuousScd2"), batchId)
        .map(hist => scd2Live(hist, keyCols, tieCol)
          .where(col("is_current"))
          .join(cur.select(keyCols.map(col): _*).distinct(),
            keyCols, "left_semi"))
        // first batch: empty frame with the history schema
        .getOrElse(graft.operators.Scd2.history(cur.limit(0),
          keyCols, tsCol, tieCol, attrCols))
      // synthetic observation per touched key's open version: its
      // effective_from + attrs re-enter the change-compression walk
      val synth = currentOfTouched.select(
        (keyCols.map(col) :+ col("effective_from").as(tsCol) :+
          col(tieCol)) ++ attrCols.map(col): _*)
      BatchState.writeBatch(graft.operators.Scd2.history(
        synth.union(cur), keyCols, tsCol, tieCol, attrCols),
        statePath, batchId)
    }

  /** The live row per version of SCD2 history rows: the row of the
    * latest batch that wrote the version. Identity is (key,
    * effective_from, tie): equal-ts observations may open two versions
    * at one effective_from, and the synthetic replay carries the
    * original tie so rewrites collide with their own version.
    */
  private val scd2Root = StoreRoot.of("continuousScd2")

  private def scd2Live(hist: DataFrame, keyCols: Seq[String],
      tieCol: String): DataFrame =
    BatchState.latestPerKey(hist, keyCols ++ Seq("effective_from", tieCol),
      struct(hist.columns.filter(_ != "batch_id").map(col): _*), "__r")
      .select(col("__r.*"))

  /** The live SCD2 history of a [[continuousScd2]] state table: the
    * latest batch's row per (key, effective_from) version. Read cost
    * scales with accumulated deltas; [[compactScd2History]] folds them
    * periodically if the stream runs for months.
    */
  def currentScd2History(spark: org.apache.spark.sql.SparkSession,
      statePath: String, keyCols: Seq[String], tieCol: String): DataFrame =
    scd2Live(scd2Root(spark, statePath, "currentScd2History").read(""),
      keyCols, tieCol)

  /** Compact a [[continuousScd2]] state table — the
    * [[compactClusterLabels]] discipline ported to version rows: fold
    * every COMMITTED delta partition (all but the latest batch, plus any
    * prior snapshot) into one live-row snapshot at `batch_id = -1`, then
    * prune the folded deltas. Real batch ids are ≥ 0, so `max_by`
    * always prefers a live delta over the snapshot; the latest delta is
    * never folded, so Structured Streaming's replay of the one batch it
    * ever replays stays safe; the snapshot lands BEFORE the prune, so a
    * crash between the two leaves duplicate rows that agree in value.
    */
  def compactScd2History(spark: org.apache.spark.sql.SparkSession,
      statePath: String, keyCols: Seq[String], tieCol: String): Unit =
    for {
      all <- scd2Root(spark, statePath, "compactScd2History").side("")
      maxBatch <- BatchState.maxBatch(all) if maxBatch > 0
    } {
      BatchState.writeBatch(
        scd2Live(all.where(col("batch_id") < maxBatch), keyCols, tieCol),
        statePath, -1L)
      BatchState.prune(spark, statePath)(b => b >= 0 && b < maxBatch)
    }

  /** Continuous-ingestion SPAN dedup — the exact-substring face of the
    * probe-and-append loop, completing the family symmetry (MinHash,
    * SimHash, embedding, and now spans all stream the same way): each
    * micro-batch is rebuilt against the persisted first-occurrence block
    * index ([[graft.operators.TrainingData.dedupSpansIncremental]]) —
    * blocks already owned by the ingested corpus, or by an earlier doc
    * in the batch, are stripped — and the deduped text is written to
    * `outPath`; then the batch's NEW first-occurrence blocks
    * ([[graft.operators.TrainingData.spanIndexDelta]]) append to the
    * index so later batches match against them.
    *
    * Accumulated state is the fixed-width block-key index on disk
    * (one row per distinct block ever seen), never text; both writes
    * are per-batch-id dynamic-partition overwrites, so replays replace
    * rather than duplicate (the index read excludes the replaying
    * batch's own failed rows). The rebuilt output equals the batch
    * restriction of a full-corpus [[graft.operators.TrainingData.dedupSpans]]
    * whenever ingestion order matches id order — the same invariant the
    * other incremental dedups state.
    */
  def continuousSpanDedup(docs: DataFrame, idCol: String, textCol: String,
      indexPath: String, outPath: String, checkpoint: String,
      k: Int = 8): DataStreamWriter[Row] = {
    import graft.operators.TrainingData
    BatchState.eachBatch(docs, checkpoint) { (batch, batchId, f) =>
      val spark = batch.sparkSession
      // the batch feeds two tokenize passes (rebuild + index delta) —
      // persist the raw batch once, freed with the batch
      val b = f.persist(batch)
      b.count()
      val existing = BatchState.priorRows(StoreRoot.of("continuousSpanDedup")(
          spark, indexPath, "continuousSpanDedup"), batchId)
        .map(_.drop("batch_id"))
        .getOrElse(TrainingData.spanIndex(b.limit(0), idCol, textCol, k))
      // output first, index second: a crash between the two replays
      // the batch with the index still excluding its own rows
      BatchState.writeBatch(
        TrainingData.dedupSpansIncremental(b, idCol, textCol, k, existing),
        outPath, batchId)
      BatchState.writeBatch(
        TrainingData.spanIndexDelta(b, idCol, textCol, k, existing),
        indexPath, batchId)
    }
  }

  /** Continuous-ingestion CDC chunk dedup — the content-defined-boundary
    * face of the same probe-and-append loop as [[continuousSpanDedup]]:
    * each micro-batch is deduped against the persisted first-occurrence
    * chunk index ([[graft.operators.TrainingData.cdcDedupIncremental]]) —
    * chunks already owned by the ingested corpus, or by an earlier doc
    * in the batch, are dropped — and the per-doc dedup summary
    * (n_chunks, n_chunks_kept, dedup_md5) is written to `outPath`; then
    * the batch's NEW first-occurrence chunks
    * ([[graft.operators.TrainingData.cdcIndexDelta]]) append to the
    * index so later batches match against them.
    *
    * Accumulated state is the fixed-width chunk-digest index on disk
    * (one row per distinct chunk ever seen), never text; both writes
    * are per-batch-id dynamic-partition overwrites, so replays replace
    * rather than duplicate (the index read excludes the replaying
    * batch's own failed rows). The output equals the batch restriction
    * of a full-corpus [[graft.operators.TrainingData.cdcDedup]]
    * whenever ingestion order matches id order — the invariant the
    * other incremental dedups state.
    */
  def continuousCdcDedup(docs: DataFrame, idCol: String, textCol: String,
      indexPath: String, outPath: String, checkpoint: String,
      w: Int = 8, maskBits: Int = 6): DataStreamWriter[Row] = {
    import graft.operators.TrainingData
    BatchState.eachBatch(docs, checkpoint) { (batch, batchId, f) =>
      val spark = batch.sparkSession
      // fail the batch loudly while compactCdcIndex holds the store —
      // reading half-rewritten partitions would silently mis-dedup;
      // the failed batch replays after the maintenance completes
      val root = cdcRoot(spark, indexPath, "continuousCdcDedup")
      // the batch feeds two chunking passes (dedup + index delta) —
      // persist the raw batch once, freed with the batch
      val b = f.persist(batch)
      b.count()
      // takedown-aware ([[cdcStateDelete]]): a deleted doc's owned
      // chunks are hidden, so the new batch neither dedups against
      // them nor fails to re-own them; a re-ingested victim's newer
      // rows outrank the deletion
      val existing = BatchState.priorRows(root, batchId)
        .map(raw => BatchState.live(raw, cdcVictims(root), Seq(idCol))
          .drop("batch_id"))
        .getOrElse(TrainingData.cdcIndex(b.limit(0), idCol, textCol, w,
          maskBits))
      // output first, index second: a crash between the two replays
      // the batch with the index still excluding its own rows
      BatchState.writeBatch(
        TrainingData.cdcDedupIncremental(b, idCol, textCol, w, maskBits,
          existing),
        outPath, batchId)
      BatchState.writeBatch(
        TrainingData.cdcIndexDelta(b, idCol, textCol, w, maskBits,
          existing),
        indexPath, batchId)
    }
  }

  /** Deleted ids of a [[continuousCdcDedup]] index as (id, up_to) —
    * latest deletion per id — or None. The `_victims` channel lives
    * inside `indexPath` (underscore-hidden from the batch-partition
    * reads, collision-free with the stream's `batch_id=` overwrites).
    */
  private def cdcVictims(root: StoreRoot): Option[DataFrame] =
    root.side("_victims")
      .map(_.groupBy("id").agg(max(col("up_to")).as("up_to")))

  private val cdcRoot = StoreRoot.of("continuousCdcDedup")

  /** DELETE (takedown) face of a [[continuousCdcDedup]] persisted chunk
    * index: one bounded (id, up_to) append to the `_victims` channel —
    * no index partition is rewritten at delete time. The stream's probe
    * hides the victims' owned rows (batch_id ≤ up_to), with the
    * [[graft.operators.TrainingData.cdcIndexDelete]] owner-forgetting
    * semantics (conservative: dedup under-fires on digests first-owned
    * by a victim; a rebuild re-elects). A later batch re-ingesting the
    * victim re-owns its chunks — its rows outrank the deletion.
    * Physical removal is [[compactCdcIndex]]'s job. The dedup OUTPUT
    * stream at `outPath` is downstream data, not index state — purge it
    * through the downstream store's own takedown.
    */
  def cdcStateDelete(victims: DataFrame, idCol: String,
      indexPath: String): Unit = {
    val upTo = cdcRoot(victims.sparkSession, indexPath, "cdcStateDelete")
      .side("").flatMap(BatchState.maxBatch)
      .getOrElse(throw new IllegalArgumentException(
        s"no chunk index under $indexPath - nothing to delete from"))
    victims.select(col(idCol).cast("long").as("id")).distinct()
      .withColumn("up_to", lit(upTo))
      .write.mode("append").parquet(s"$indexPath/_victims")
  }

  /** Physically remove a CDC chunk index's deleted rows: rewrite only
    * the victim-touched COMMITTED batch partitions (the latest batch
    * stays untouched for the replay contract — victims deleted at the
    * stream head stay pending until the next batch or an
    * `includeLatest` quiesced pass), then GC victim records whose rows
    * are all physical (`up_to` below the horizon). EXCLUSIVE
    * maintenance via the `_MAINT` marker; crash leaves it; re-run with
    * `takeover = true`.
    */
  def compactCdcIndex(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, includeLatest: Boolean = false,
      takeover: Boolean = false): Unit = {
    import graft.operators.AtomicBatches
    if (!AtomicBatches.maintenanceActive(spark, indexPath) &&
        cdcVictims(cdcRoot(spark, indexPath, "compactCdcIndex")).isEmpty)
      return
    StoreRoot.maintain(spark, indexPath, takeover, "compactCdcIndex",
        "continuousCdcDedup") { root =>
      cdcVictims(root).foreach(v0 => Frames.scoped { f =>
        // NO non-local return in here (it would skip the lock release);
        // a store a prior compaction emptied has no rows to prune
        val storeOpt = root.side("")
        val horizon = if (includeLatest) Long.MaxValue
          else storeOpt.flatMap(BatchState.maxBatch).getOrElse(Long.MinValue)
        val v = f.checkpoint(v0)
        val fs = StoreRoot.fs(spark, indexPath)
        // shared rewrite protocol: touched-only dynamic overwrite +
        // emptied-partition deletion (AtomicBatches)
        storeOpt.foreach { store =>
          val (joined, dead) =
            BatchState.withVictims(store, v, Seq(cdcIdCol(store)))
          AtomicBatches.pruneDeadPartitionRows(spark, indexPath,
            "batch_id", joined,
            col("batch_id").cast("long") < lit(horizon) && dead,
            store.columns.toSeq)
        }
        // GC victims whose every possible row is now physical; later
        // deletions (up_to ≥ horizon) stay pending and keep hiding
        val pending = f.checkpoint(v.filter(col("up_to") >= lit(horizon)))
        val vroot = new org.apache.hadoop.fs.Path(s"$indexPath/_victims")
        if (pending.isEmpty) fs.delete(vroot, true)
        else pending.write.mode("overwrite").parquet(vroot.toString)
      })
    }
  }

  /** The owner-id column of a CDC chunk index. */
  private def cdcIdCol(store: DataFrame): String =
    store.columns.filterNot(Set("chunk_md5", "chunk_idx", "batch_id")).head

  /** Continuous-ingestion near-dup for the HAMMING family — the chunk-
    * blocked analog of [[continuousNearDup]]: each micro-batch builds its
    * (id, sig, bucket) chunk index rows via `indexOf` (text SimHash, image
    * perceptual hash, audio fingerprint — anything emitting
    * [[graft.operators.Dedup.chunkBuckets]] shape), probes the persisted
    * index of everything ingested before it
    * ([[graft.operators.Dedup.simhashIncrementalFromIndex]]), appends the
    * new-involving pairs, then appends its own index rows. Media/text
    * bytes are read exactly once, ever; accumulated state is the 8-byte-
    * signature index on disk. Same per-batch-id dynamic partition
    * overwrite as [[continuousNearDup]], so replays replace rather than
    * duplicate.
    */
  def continuousHammingDedup(docs: DataFrame, indexOf: DataFrame => DataFrame,
      idCol: String, indexPath: String, pairsPath: String, checkpoint: String,
      maxHamming: Int, maxBucketSize: Int = 1000): DataStreamWriter[Row] =
    continuousIndexedDedup(docs, indexOf,
      (newIdx, existing) => graft.operators.Dedup
        .simhashIncrementalFromIndex(newIdx, idCol, existing,
          maxHamming, maxBucketSize),
      idCol, indexPath, pairsPath, checkpoint)

  /** Continuous-ingestion embedding near-dup — the hyperplane-LSH face of
    * the same loop ([[graft.operators.Dedup.embeddingCosineIncremental]]):
    * per batch, vector → single LSH bucket → probe the persisted index +
    * self → append cosine pairs and index rows.
    */
  def continuousEmbeddingDedup(docs: DataFrame, idCol: String, vecCol: String,
      indexPath: String, pairsPath: String, checkpoint: String,
      dim: Int, nBits: Int = 8, threshold: Double = 0.95,
      kernel: String = "xxhash", maxBucketSize: Int = 1000): DataStreamWriter[Row] =
    continuousIndexedDedup(docs,
      b => graft.operators.Dedup.embeddingIndex(b, idCol, vecCol, dim, nBits, kernel),
      (newIdx, existing) => graft.operators.Dedup
        .embeddingCosineIncrementalFromIndex(newIdx, idCol, existing,
          threshold, maxBucketSize),
      idCol, indexPath, pairsPath, checkpoint)

  /** Continuous near-dup WITH cluster-label maintenance: the MinHash
    * probe-and-append loop of [[continuousNearDup]], plus per-batch
    * incremental connected components
    * ([[graft.operators.Dedup.incrementalComponentDelta]]) into an
    * append-only labels table at `labelsPath`.
    *
    * Labels are stored as DELTAS partitioned by batch id — each batch
    * writes only the labels its pairs changed (re-propagated affected
    * components + newly clustered ids), never the corpus-sized label
    * set. The current label of an id is its row in the latest batch
    * that touched it ([[currentClusterLabels]]); a batch replay
    * overwrites its own partition like the pair/index writes.
    *
    * `compactEveryBatches > 0` runs [[compactClusterLabels]] inline
    * after every Nth batch's label write, so a long-running stream's
    * delta history stays bounded without a separate maintenance job
    * (reads then touch the snapshot + ≤N deltas). Safe at any cadence:
    * compaction never folds the latest delta, so the streaming replay
    * contract is untouched, and it only ever rewrites partition -1.
    */
  def continuousClusteredDedup(docs: DataFrame, idCol: String, textCol: String,
      indexPath: String, pairsPath: String, labelsPath: String,
      checkpoint: String, numHashes: Int = 16, bands: Int = 8,
      shingleN: Int = 5, threshold: Double = 0.5,
      estimateSlack: Double = 0.25,
      compactEveryBatches: Int = 0): DataStreamWriter[Row] =
    continuousIndexedDedup(docs, minhashIndexOf(idCol, textCol, numHashes,
        bands, shingleN),
      minhashProbe(idCol, numHashes, threshold, estimateSlack),
      idCol, indexPath, pairsPath, checkpoint, labelsPath = Some(labelsPath),
      compactEveryBatches = compactEveryBatches)

  /** Current (id, cluster_id) view over a [[continuousClusteredDedup]]
    * labels table: latest batch's row per id, with committed takedown
    * corrections ([[clusterStateDelete]]) applied — a correction
    * replaces an id's label (or removes it, NULL) unless a LATER batch
    * re-touched the id (batch_id > the correction's `up_to`: the delta
    * wins, the legitimate resurrection path). Cost scales with the
    * ever-clustered id count (pairs are sparse relative to the corpus),
    * not the corpus.
    */
  def currentClusterLabels(spark: org.apache.spark.sql.SparkSession,
      labelsPath: String): DataFrame =
    labelsAt(clusterRoot(spark, labelsPath, "cluster-label read"),
      excludeBatch = None)

  /** [[currentClusterLabels]] of the labels store at `labels`, with one
    * delta partition excluded for the stream loop's own read (a
    * replayed batch must not fold its prior attempt's rows into the
    * state it rebuilds from).
    */
  private def labelsAt(labels: StoreRoot,
      excludeBatch: Option[Long]): DataFrame =
    // a COMPLETE takedown legitimately leaves the store with zero delta
    // partitions (every labeled id corrected to NULL, the snapshot
    // deleted): "no labels" is an answer, not an error
    labels.side("").fold(labels.spark.range(0).select(
        col("id").cast("long").as("id"),
        col("id").cast("long").as("cluster_id"))) { raw =>
      labelsOf(labels, excludeBatch.fold(raw)(b =>
        raw.where(col("batch_id") =!= b)))
    }

  // the label fold over the delta rows `raw` of the store at `labels`
  private def labelsOf(labels: StoreRoot, raw: DataFrame): DataFrame =
    BatchState.foldLabels(raw, clusterCorrections(labels))

  // a store of a continuousClusteredDedup state: labels, pairs or index
  private val clusterRoot = StoreRoot.of("continuousClusteredDedup")

  /** Committed takedown correction rows (id, cluster_id NULLABLE,
    * up_to, seq) of a labels store, or None. The `_corrections` channel
    * lives INSIDE `labelsPath` — the underscore prefix hides it from
    * the plain parquet read of the delta partitions, and a resumed
    * stream's `batch_id=` dynamic overwrites can never collide with it
    * (the lesson the ANN tombstones channel was built on).
    */
  private def clusterCorrections(labels: StoreRoot): Option[DataFrame] =
    labels.inBatches("labels", labels.committed("_corrections"))

  /** Deleted ids of a labels store as (id, up_to) — latest deletion per
    * id — or None. Read by every face that must HIDE a victim's rows:
    * the stream loop's index probe and [[currentClusterPairs]].
    */
  private def clusterVictims(labels: StoreRoot): Option[DataFrame] =
    labels.inBatches("victims", labels.committed("_corrections"))
      .map(_.groupBy("id").agg(max(col("up_to")).as("up_to")))

  /** Current pair relation of a [[continuousClusteredDedup]] state:
    * the accumulated pair store minus every pair touching a deleted doc
    * (a pair row dies iff either endpoint is a victim whose deletion
    * covers the pair's batch — batch_id ≤ up_to; a post-delete batch's
    * pairs survive, the resurrection path). This is the system of
    * record [[clusterStateDelete]] re-closes over.
    */
  def currentClusterPairs(spark: org.apache.spark.sql.SparkSession,
      pairsPath: String, labelsPath: String): DataFrame = {
    // compactClusterState rewrites victim-touched pair partitions in
    // place under the labels store's _MAINT — a read racing it would
    // silently miss or double rows
    pairsOf(clusterRoot(spark, pairsPath, "currentClusterPairs").read(""),
      clusterRoot(spark, labelsPath, "currentClusterPairs"))
  }

  private def pairsOf(pairs: DataFrame, labels: StoreRoot): DataFrame =
    BatchState.live(pairs, clusterVictims(labels), Seq("id_a", "id_b"))

  /** DELETE (takedown) face of a [[continuousClusteredDedup]] state —
    * the tombstone discipline applied to the THREE stores the stream
    * maintains, in one bounded, atomic staging write (nothing
    * corpus-partitioned is rewritten at delete time):
    *
    *  - the VICTIMS' records (id, up_to = max stream batch at delete
    *    time) hide their index rows from future probes (no new pairs
    *    against deleted docs) and their pair rows from future
    *    re-closures ([[currentClusterPairs]]);
    *  - the LABEL OVERRIDES re-close every component a victim belonged
    *    to over the surviving pairs ([[graft.operators.Dedup
    *    .deleteFromLabels]] semantics: representatives re-elect,
    *    bridge-removal splits are honored, orphaned members drop —
    *    cluster_id NULL removes a row), computed eagerly here because
    *    they need the pair store, and bounded by the affected
    *    components' subgraph;
    *
    * both staged under `labelsPath/_corrections/<n>/` and made visible
    * atomically by the `_COMMIT` marker — a crash mid-staging leaves an
    * invisible directory the next delete sweeps; a half takedown
    * (victims hidden but clusters not re-closed, or vice versa) cannot
    * be observed. A LATER stream batch that re-ingests a victim
    * resurrects it (its delta rows outrank the correction's `up_to`).
    * Physical removal is [[compactClusterState]]'s job.
    *
    * Run with the stream quiesced for strict semantics: a batch
    * processing CONCURRENTLY with the delete may fold pairs it derived
    * from pre-takedown state (its delta outranks the correction — the
    * replay-safe ordering), leaving the victim's id visible as a label
    * row until the next touch or compaction.
    */
  def clusterStateDelete(victims: DataFrame, idCol: String,
      indexPath: String, pairsPath: String, labelsPath: String,
      maxIter: Int = 20): Unit = {
    import graft.operators.{AtomicBatches, Dedup}
    val spark = victims.sparkSession
    val Seq(labels, pairs, index) = Seq(labelsPath, pairsPath, indexPath)
      .map(clusterRoot(spark, _, "clusterStateDelete"))
    val croot = s"$labelsPath/_corrections"
    AtomicBatches.sweepUncommitted(spark, croot)
    // up_to: the takedown kills state up to and including the latest
    // batch at delete time; later batches legitimately resurrect. Read
    // from the INDEX store, not the labels store: a pair-less batch
    // writes an EMPTY label delta (dynamic overwrite of zero rows is a
    // no-op, no partition lands) but its docs' index rows DO land — a
    // labels-derived up_to would under-read and leave such a doc's
    // index rows visible, an un-hidden victim. Fails loudly when
    // there is no state at all.
    val upTo = Seq(index, labels).flatMap(_.side(""))
      .flatMap(BatchState.maxBatch)
      .maxOption
      .getOrElse(throw new IllegalArgumentException(
        s"no index/label state under $indexPath / $labelsPath - " +
          "nothing to delete from"))
    Frames.scoped { f =>
      // read by affected, subPairs ×2, staging
      val v = f.checkpoint(
        victims.select(col(idCol).cast("long").as("id")).distinct())
      if (!v.isEmpty) {
        // a stream of all-unique docs writes EMPTY label/pair deltas — no
        // partition, possibly no directory — yet its victims still need
        // their records staged (that is what hides their INDEX rows):
        // treat an unreadable labels/pairs store as empty, never abort
        def emptyLongs(names: String*): DataFrame =
          names.map(n => spark.range(0).select(col("id").cast("long").as(n)))
            .reduce((a, b) => a.crossJoin(b))
        // read for affected + members
        val lab = f.checkpoint(labels.side("").map(labelsOf(labels, _))
          .getOrElse(emptyLongs("id", "cluster_id")))
        val p = pairs.side("").map(pairsOf(_, labels))
          .getOrElse(emptyLongs("id_a", "id_b"))
          .select(col("id_a").cast("long").as("a"),
            col("id_b").cast("long").as("b"))
        // the shared victims→affected→re-closure core
        // (Dedup.affectedReclosure — one implementation with the batch
        // label-store takedown, so a closure fix cannot miss a face)
        val (_, members, reclosed) =
          Dedup.affectedReclosure(f, lab, v, p, maxIter)
        val n = AtomicBatches.nextBatchN(spark, croot)
        val bdir = s"$croot/$n"
        // both staged tables are invisible until the _COMMIT below and
        // read only checkpointed frames — concurrent (the
        // CountStore.stageDelta judgment): the tiny victims write
        // overlaps the label-override join.
        // One override row per affected-component member: the
        // re-closed label, or NULL for victims and orphans (ids a
        // rebuild over survivors would never label)
        graft.operators.Takedown.inParallel(Seq[() => Unit](
          () => members
            .join(reclosed.select(col("id"), col("cluster_id").as("__nc")),
              Seq("id"), "left_outer")
            .select(col("id"), col("__nc").as("cluster_id"),
              lit(upTo).as("up_to"), lit(n).as("seq"))
            .write.mode("overwrite").parquet(s"$bdir/labels"),
          () => v.select(col("id"), lit(upTo).as("up_to"))
            .write.mode("overwrite").parquet(s"$bdir/victims")))(_.apply())
        AtomicBatches.commit(spark, bdir)
      }
    }
  }

  /** AUDIT face of a [[continuousClusteredDedup]] state: the ids that
    * still influence ANY of its read faces — a current label row, a
    * current pair endpoint, or a visible index row (the stream probes a
    * victim-pruned index: an index row is visible iff no victim record
    * covers its batch). One `id` column, missing stores fold as empty
    * ([[graft.operators.Takedown.audit]]'s cluster_state row).
    */
  def clusterStatePresentIds(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, pairsPath: String, labelsPath: String)
      : DataFrame = {
    val Seq(labels, pairs, index) = Seq(labelsPath, pairsPath, indexPath)
      .map(clusterRoot(spark, _, "clusterStatePresentIds"))
    val labelIds = labels.side("").map(labelsOf(labels, _).select(col("id")))
    val pairIds = pairs.side("").map(pairsOf(_, labels)
      .select(explode(array(col("id_a"), col("id_b"))).as("id")))
    val indexIds = index.side("").map { idx =>
      val idCol = idx.columns.find(_ == "doc_id").getOrElse(
        idx.columns.filterNot(Set("batch_id", "sh", "sig", "bucket"))
          .head)
      BatchState.live(
        idx.select(col(idCol).cast("long").as("id"), col("batch_id")),
        clusterVictims(labels), Seq("id")).select("id")
    }
    (labelIds.toSeq ++ pairIds.toSeq ++ indexIds.toSeq)
      .reduceOption(_ unionByName _)
      .map(_.distinct())
      .getOrElse(spark.range(0).select(col("id")))
  }

  /** AUDIT face of a [[continuousCdcDedup]] chunk index: the owner ids
    * whose chunk rows a probe can still see (victim records hide rows
    * at or below their `up_to`; a later re-ingest resurrects). One `id`
    * column ([[graft.operators.Takedown.audit]]'s cdc_state row).
    */
  def cdcStatePresentIds(spark: org.apache.spark.sql.SparkSession,
      indexPath: String): DataFrame = {
    val root = cdcRoot(spark, indexPath, "cdcStatePresentIds")
    // a store a full takedown emptied holds no ids
    root.side("")
      .map(store => BatchState.live(
        store.select(col(cdcIdCol(store)).cast("long").as("id"),
          col("batch_id")),
        cdcVictims(root), Seq("id")).select("id").distinct())
      .getOrElse(spark.range(0).select(col("id")))
  }

  /** Compact a [[continuousClusteredDedup]] labels table: fold every
    * COMMITTED delta partition (all but the latest batch, plus any prior
    * snapshot) into one snapshot partition at `batch_id = -1`, then prune
    * the folded delta directories. Without this, a long-running stream's
    * [[currentClusterLabels]] re-aggregates the whole delta history on
    * every read; after compaction a read touches only the snapshot + the
    * post-snapshot deltas. Run it periodically (e.g. every N batches,
    * from the maintenance side — it only rewrites partition -1).
    *
    * Safety: the view semantics are unchanged — real batch ids are ≥ 0,
    * so `max_by(batch_id)` always prefers a live delta over the snapshot.
    * The LATEST delta partition is never folded, so Structured
    * Streaming's replay of the last uncommitted batch (the only batch it
    * ever replays) cannot resurrect stale labels over the snapshot. The
    * snapshot is written BEFORE the deltas are pruned, so a crash between
    * the two leaves duplicate rows that agree in value (the snapshot
    * folded exactly those deltas); re-running compaction completes the
    * prune.
    */
  def compactClusterLabels(spark: org.apache.spark.sql.SparkSession,
      labelsPath: String): Unit = {
    // a labels store under compactClusterState maintenance may be
    // mid-rewrite — rewriting the −1 snapshot from it would bake the
    // inconsistent state in before a takeover re-run can repair it
    val labels = clusterRoot(spark, labelsPath, "compactClusterLabels")
    val all = labels.side("").getOrElse(return)
    val maxBatch = BatchState.maxBatch(all).getOrElse(return)
    if (maxBatch <= 0) return // nothing strictly below the latest batch
    // pending takedown corrections PIN the fold horizon: a delta row
    // NEWER than a correction's up_to outranks it (the resurrection
    // rule), and folding that row to batch −1 would flip the verdict
    // (−1 ≤ up_to) — the correction would wrongly override it at read
    // time. Rows at or below EVERY correction's up_to fold safely
    // (already overridden before, still overridden at −1). Physical
    // application + GC of the corrections is compactClusterState's job.
    val minUpTo = clusterCorrections(labels)
      .flatMap(c => Option(c.agg(min(col("up_to"))).head.get(0)))
      .map(_.toString.toLong)
    val horizon = math.min(maxBatch, minUpTo.map(_ + 1).getOrElse(Long.MaxValue))
    if (horizon <= 0) return
    BatchState.writeBatch(
      BatchState.foldLabels(all.where(col("batch_id") < horizon), None),
      labelsPath, -1L)
    // prune the folded delta partitions (0 ≤ batch_id < horizon)
    BatchState.prune(spark, labelsPath)(b => b >= 0 && b < horizon)
  }

  /** FULL maintenance pass of a [[continuousClusteredDedup]] state —
    * the physical-removal half of [[clusterStateDelete]], the
    * [[compactIvfDeltas]] discipline across all three stores:
    *
    *  1. label deltas below the fold horizon collapse into the
    *     `batch_id = -1` snapshot WITH the applied corrections folded
    *     in (an id's override wins unless a newer unfolded delta
    *     outranks it; NULL overrides drop the row);
    *  2. victim rows are physically removed from the committed PAIR
    *     and INDEX partitions (only victim-touched partitions are
    *     rewritten — dynamic partition overwrite, emptied directories
    *     deleted);
    *  3. correction batches whose `up_to` lies below the horizon are
    *     garbage-collected — everything they guard is now physical
    *     (mandatory in the same pass: folded rows collapse to batch
    *     −1, where a stale applied correction would wrongly re-fire);
    *     corrections at or above the horizon stay pending and remain
    *     consistent (every folded row ranks below their up_to too).
    *
    * `includeLatest = true` folds the newest delta as well — for a
    * fully-quiesced state (no stream running); the default preserves
    * the latest batch for the streaming replay contract, so a delete
    * staged after the last batch (up_to = that batch) stays PENDING
    * until more batches arrive or a quiesced `includeLatest` pass runs.
    *
    * EXCLUSIVE MAINTENANCE, enforced via the `_MAINT` marker at
    * `labelsPath` (the `AtomicBatches.withMaintenanceLock` contract):
    * label reads, deletes, and the stream loop fail loudly while it is
    * held; a crash leaves it; re-run with `takeover = true` (every
    * step is a pure function of the current tables — re-runnable).
    */
  def compactClusterState(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, pairsPath: String, labelsPath: String,
      includeLatest: Boolean = false, takeover: Boolean = false): Unit = {
    import graft.operators.AtomicBatches
    val hasCorr =
      AtomicBatches.committedDirs(spark, s"$labelsPath/_corrections").nonEmpty
    if (!hasCorr && !AtomicBatches.maintenanceActive(spark, labelsPath)) {
      // no takedown state: plain label folding is the whole job
      compactClusterLabels(spark, labelsPath)
      return
    }
    StoreRoot.maintain(spark, labelsPath, takeover, "compactClusterState",
        "continuousClusteredDedup") { labels =>
      compactClusterStateBody(labels,
        clusterRoot(spark, indexPath, "compactClusterState"),
        clusterRoot(spark, pairsPath, "compactClusterState"), includeLatest)
    }
  }

  // `labels` is the lock holder's handle; the pair and index stores
  // have no marker of their own
  private def compactClusterStateBody(labels: StoreRoot, index: StoreRoot,
      pairs: StoreRoot, includeLatest: Boolean): Unit = {
    import graft.operators.AtomicBatches
    val (spark, labelsPath) = (labels.spark, labels.path)
    val allOpt = labels.side("")
    // the stream's true position is the max batch across the stores —
    // the labels store alone under-reads it when recent batches were
    // pair-less (their empty label deltas write no partition), and an
    // ALL-unique stream has no readable labels partitions at all while
    // its INDEX still holds the victims' rows: an early return on the
    // unreadable labels store used to skip the physical prune and the
    // corrections GC entirely — a silent, permanent non-removal of
    // takedown data (r14 self-review)
    val maxBatch = (allOpt.toSeq ++ index.side("").toSeq)
      .flatMap(BatchState.maxBatch)
      .maxOption
      // NO readable store at all: with includeLatest there is no latest
      // batch to guard (horizon = ∞, pending corrections resolve over
      // empty stores); without it the horizon is unknowable and nothing
      // physical exists to prune — corrections stay pending
      .getOrElse { if (includeLatest) -1L else return }
    val horizon = if (includeLatest) Long.MaxValue else maxBatch
    // per-batch up_to is a staging-time constant — one driver row each
    val dirUpTo = labels.committed("_corrections").map { d =>
      d -> labels.inBatches("victims", Seq(d)).get
        .agg(max(col("up_to"))).head.getLong(0)
    }
    val appliedDirs = dirUpTo.filter(_._2 < horizon).map(_._1)
    // 1) fold labels below the horizon, applying the APPLIED corrections
    // — only when the labels store has readable partitions (an
    // all-unique stream never writes one; the victim prune and GC below
    // still run)
    allOpt.foreach { all =>
      if (maxBatch > 0 || includeLatest) {
        val applied = labels.inBatches("labels", appliedDirs)
        // the fold can be EMPTY (every folded id overridden to NULL by an
        // applied correction): dynamic overwrite of zero rows replaces
        // nothing, so a stale pre-takedown −1 snapshot would survive the
        // corrections' GC and silently resurrect the victims — delete the
        // snapshot partition explicitly in that case
        Frames.scoped { f =>
          // read by the isEmpty and the write
          val snapped = f.checkpoint(BatchState.foldLabels(
            all.where(col("batch_id") < lit(horizon)), applied))
          if (snapped.isEmpty) BatchState.prune(spark, labelsPath)(_ == -1L)
          else BatchState.writeBatch(snapped, labelsPath, -1L)
        }
        BatchState.prune(spark, labelsPath)(b => b >= 0 && b < horizon)
      }
    }
    // 2) physically remove victim rows from the committed pair and
    // index partitions — victims from ALL correction batches (pending
    // ones keep their read-time rule for whatever this pass leaves)
    clusterVictims(labels).foreach(v => Frames.scoped { f =>
      val victims = f.checkpoint(v)
      // a row dies iff ANY of its id columns is a victim whose
      // deletion covers the row's batch — shared rewrite protocol
      // (AtomicBatches.pruneDeadPartitionRows handles touched-only
      // dynamic overwrite + emptied-partition deletion, with the
      // FileSystem resolved per store path)
      def pruneStore(root: StoreRoot, idCols: DataFrame => Seq[String]) =
        root.side("").foreach { store =>
          val (joined, dead) =
            BatchState.withVictims(store, victims, idCols(store))
          AtomicBatches.pruneDeadPartitionRows(spark, root.path, "batch_id",
            joined, col("batch_id").cast("long") < lit(horizon) && dead,
            store.columns.toSeq)
        }
      pruneStore(pairs, _ => Seq("id_a", "id_b"))
      // the index store's id column is its FIRST column (the
      // minhash/simhash/embedding index faces all put idCol first)
      pruneStore(index, store => Seq(store.columns.head))
    })
    // 3) GC the applied correction batches — their kills and overrides
    // are physical now; pending ones keep guarding. Deleted in ASCENDING
    // numeric order (committedDirs lists lexicographically, where "10"
    // sorts before "2"): a crash mid-GC must only ever leave the NEWEST
    // corrections behind, whose re-application over the baked snapshot
    // is exactly the newest-wins rule — the other order could leave an
    // OLDER correction to re-apply on the takeover re-run, rolling a
    // later takedown's re-closure back (r14 self-review)
    val fs = StoreRoot.fs(spark, labelsPath)
    appliedDirs.sortBy(_.split('/').last.toLong).foreach(d =>
      fs.delete(new org.apache.hadoop.fs.Path(d), true))
  }

  /** The shared probe-and-append micro-batch loop behind the continuous
    * dedup variants: build the new batch's index rows, probe them against
    * the persisted index of all prior batches, append pairs and index —
    * both writes replace their own `batch_id` partition, so replays
    * replace rather than duplicate. With `labelsPath` set, each batch
    * also folds its pairs into the persisted cluster labels (see
    * [[continuousClusteredDedup]]).
    */
  private def continuousIndexedDedup(docs: DataFrame,
      indexOf: DataFrame => DataFrame,
      probe: (DataFrame, DataFrame) => DataFrame,
      idCol: String,
      indexPath: String, pairsPath: String,
      checkpoint: String, labelsPath: Option[String] = None,
      compactEveryBatches: Int = 0): DataStreamWriter[Row] =
    BatchState.eachBatch(docs, checkpoint) { (batch, batchId, f) =>
      val spark = batch.sparkSession
      // fail EARLY while compactClusterState holds the labels store —
      // without this the batch would write pairs/index before the
      // label fold's own assert fired (replay-safe either way, but a
      // clean refusal beats a half-written batch)
      val labels =
        labelsPath.map(clusterRoot(spark, _, "continuousIndexedDedup"))
      // persist (not localCheckpoint): compute the batch index once for
      // both the probe and the index write
      val newIdx = f.persist(indexOf(batch))
      newIdx.count()
      // takedown-aware probe: a deleted doc's index rows are hidden,
      // so no new pairs ever form against it; rows a later batch
      // re-ingested outrank the deletion and stay probeable
      // (resurrection)
      val existing = BatchState.priorRows(
          clusterRoot(spark, indexPath, "continuousIndexedDedup"), batchId)
        .map(raw => BatchState.live(raw, labels.flatMap(clusterVictims),
          Seq(idCol)).drop("batch_id"))
        .getOrElse(newIdx.limit(0))
      // with labels, the pair relation feeds the pair write AND the
      // label fold — materialize it once (bounded: new-involving pairs)
      val probed = probe(newIdx, existing)
      val pairs = labelsPath.fold(probed)(_ => f.persist(probed))
      BatchState.writeBatch(pairs, pairsPath, batchId)
      BatchState.writeBatch(newIdx, indexPath, batchId)
      labelsPath.foreach { lp =>
        // corrections-aware ([[labelsAt]], its own handle — a
        // compaction may have started since the batch's first read): a
        // batch folding pairs after a takedown must build on the
        // RE-CLOSED state, or it would propagate a deleted doc's
        // id as a cluster representative
        val current = labelsAt(
          clusterRoot(spark, lp, "cluster-label read"), Some(batchId))
        // the delta's own scope frees its frames before the compaction
        Frames.scoped(g => BatchState.writeBatch(graft.operators.Dedup
          .incrementalComponentParts(g, current, pairs, "id_a", "id_b", 20)._3,
          lp, batchId))
        // inline maintenance: fold committed deltas into the -1
        // snapshot every N batches (batch 0 has nothing to fold)
        if (compactEveryBatches > 0 && batchId > 0 &&
            batchId % compactEveryBatches == 0)
          compactClusterLabels(spark, lp)
      }
    }

  /** [[continuousHammingDedup]] specialized to text SimHash — the
    * streaming face of [[graft.operators.Dedup.simhashIncremental]].
    */
  def continuousSimhashDedup(docs: DataFrame, idCol: String, textCol: String,
      indexPath: String, pairsPath: String, checkpoint: String,
      maxHamming: Int = 3, maxBucketSize: Int = 1000,
      kernel: String = "xxhash"): DataStreamWriter[Row] =
    continuousHammingDedup(docs,
      b => graft.operators.Dedup.simhashIndex(b, idCol, textCol, maxHamming, kernel),
      idCol, indexPath, pairsPath, checkpoint, maxHamming, maxBucketSize)

  /** Continuous maintenance of a persisted IVF ANN index (any layout —
    * flat [[graft.operators.Similarity.ivfWriteIndex]], SQ8 or PQ): each
    * micro-batch of new vectors is assigned to its nearest FROZEN
    * centroid and stored in the index's own layout
    * ([[graft.operators.Similarity.ivfAppend]]'s rule, shared code —
    * batch and stream apply the identical quantizer and codebooks) and
    * lands as a per-batch-id DELTA partition under `<indexPath>/deltas`
    * with dynamic partition overwrite, so an at-least-once replay
    * replaces its own partition instead of duplicating vectors
    * (`ivfAppend`'s `mode("append")` is NOT replay-safe — that is exactly
    * why the streaming face writes deltas, the [[continuousNearDup]]
    * discipline). The frozen quantizer, codebooks and layout are re-read
    * per batch, so an offline rebuild is picked up at the next batch
    * boundary.
    *
    * Probe with [[ivfTopKFromStreamIndex]] (base cells ∪ deltas, both
    * cell-pruned). `compactEveryBatches > 0` folds committed deltas into
    * the cell-partitioned base every Nth batch ([[compactIvfDeltas]]), so
    * a long-running stream's probe cost stays one base read + ≤N small
    * deltas. Retraining the coarse quantizer itself (centroid drift) is a
    * REBUILD — the write face over the union to a fresh path and a
    * stream restart, the same train-offline / score-online split as
    * [[continuousKmeansAssign]]: frozen assignment is what makes batch
    * and stream indexes interchangeable.
    */
  def continuousIvfAppend(vecs: DataFrame, idCol: String, vecCol: String,
      indexPath: String, checkpoint: String,
      compactEveryBatches: Int = 0): DataStreamWriter[Row] =
    BatchState.eachBatch(vecs, checkpoint) { (batch, batchId, _) =>
      BatchState.writeBatch(
        graft.operators.Similarity.appendRows(graft.operators.Similarity
          .ivfRoot(batch.sparkSession, indexPath, "continuousIvfAppend"),
          batch, idCol, vecCol)
          // cluster by cell: each task writes one cell-coherent file, so
          // the delta read's cell predicate prunes via row-group stats
          // even though the delta tree partitions on batch_id
          .repartition(col("cell")),
        s"$indexPath/deltas", batchId)
      if (compactEveryBatches > 0 && batchId > 0 &&
          batchId % compactEveryBatches == 0)
        compactIvfDeltas(batch.sparkSession, indexPath)
    }

  /** Fold a [[continuousIvfAppend]] (or [[continuousPqAppend]] — the
    * fold is layout-generic over the columns between id and `cell`)
    * stream's COMMITTED delta partitions (all but the latest batch)
    * into the cell-partitioned base at `<indexPath>/cells`, then prune
    * the folded delta directories — the [[compactClusterLabels]]
    * discipline on vector rows.
    *
    * Cost is bounded by delta locality, not corpus size: only the cell
    * partitions the deltas TOUCH are rewritten (read cell-pruned via an
    * `isin` literal over the delta's distinct cells — ≤2^nBits longs on
    * the driver — then dynamic-partition-overwritten), plus one
    * column-pruned (id, cell) pass over the base to find the PRIOR cell
    * of any re-ingested id (so an id whose vector changed — and with it
    * its nearest centroid — has its stale row rewritten away, not left
    * behind in an untouched cell). Duplicate ids resolve by RECENCY, not
    * arbitrarily: the highest delta batch_id wins, and any delta beats
    * the base — deterministic for updates, and a no-op for crash-window
    * replays whose duplicates agree in value. Crash safety: a crash
    * between the base write and the delta prune leaves winner rows in
    * both; the re-run's anti-join removes the base copies and completes
    * the prune; the latest delta is never folded, so the streaming
    * replay contract (a replayed batch overwrites its own partition) is
    * untouched.
    *
    * TOMBSTONE-AWARE ([[graft.operators.Similarity.ivfDelete]]): the
    * delete face writes `(id, up_to)` rows into the dedicated
    * `tombstones/` channel (up_to = max batch id at delete time; a
    * version dies iff its batch_id ≤ up_to, the base ranking −1).
    * Compaction resolves every tombstone whose up_to lies below the
    * fold horizon — anti-joining the victim's base row away and
    * dropping its killed delta versions from the fold — and GCs those
    * applied tombstones in the same pass (mandatory: folded survivors
    * collapse to rank −1, where a stale tombstone would wrongly kill
    * them). Deleted rows' bytes are gone from `cells` after compaction;
    * a cell emptied by deletes has its directory removed like any
    * emptied prior cell. When the index has no deltas channel (batch
    * maintained, never streamed) there is no latest batch to guard and
    * ALL tombstones resolve regardless of `includeLatest`.
    *
    * `includeLatest = true` folds EVERY delta batch including the
    * newest — for batch-maintained indexes (delete-then-compact with no
    * stream running). It trades away the replay-safety margin above, so
    * only call it with the writer quiesced; a stream's own periodic
    * compaction must keep the default.
    *
    * EXCLUSIVE MAINTENANCE: like [[graft.operators.TrainingData
    * .bm25IndexCompact]], this is a maintenance operation — do not run
    * it concurrently with [[graft.operators.Similarity.ivfDelete]] (or a
    * second compaction) on the same index. The tombstone GC is a
    * read-then-overwrite of `tombstones/`; a delete racing into the
    * window between the read and the rewrite would be silently erased —
    * a lost takedown. Probes may run concurrently only under the default
    * `includeLatest = false` with a live deltas channel; the `_MAINT`
    * marker (`AtomicBatches.withMaintenanceLock`) enforces the writer
    * side of this contract: the marker is held for the whole rewrite,
    * every probe/delete/batch-append face fails loudly while it is
    * present, a crash leaves it in place (the index may be mid-rewrite)
    * and the re-run must pass `takeover = true` — compaction steps are
    * pure functions of the current tables, so the re-run completes what
    * the crash interrupted.
    */
  def compactIvfDeltas(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, includeLatest: Boolean = false,
      takeover: Boolean = false): Unit = {
    import graft.operators.{AtomicBatches, Similarity}
    // nothing staged and no crashed pass to resume: skip the lock — the
    // common poll-compact loop must not churn marker creates
    if (!AtomicBatches.maintenanceActive(spark, indexPath) && {
          val root = Similarity.ivfRoot(spark, indexPath, "compactIvfDeltas")
          root.side("deltas").isEmpty && root.side("tombstones").isEmpty
        }) return
    StoreRoot.maintain(spark, indexPath, takeover, "compactIvfDeltas",
        "the ivfWriteIndex face it was built with") { root =>
      Frames.scoped(compactIvfDeltasBody(_, root, includeLatest))
    }
  }

  private def compactIvfDeltasBody(f: Frames, root: StoreRoot,
      includeLatest: Boolean): Unit = {
    val (spark, indexPath) = (root.spark, root.path)
    val deltasOpt = root.side("deltas")
    val tombsOpt = root.side("tombstones")
    if (deltasOpt.isEmpty && tombsOpt.isEmpty) return
    val maxBatch = deltasOpt.flatMap(BatchState.maxBatch).getOrElse(-1L)
    val baseOpt = root.side("cells")
    // layout-generic: (id, <payload...>, cell) — whatever the stored
    // layout's payload is (v, scale + q, codes)
    val refCols = baseOpt.map(_.columns)
      .orElse(deltasOpt.map(_.drop("batch_id").columns))
      .getOrElse(return) // tombstones over a rowless index: nothing to do
    val idCol = refCols.head
    val payload = refCols.filter(c => c != idCol && c != "cell").toSeq
    // the fold horizon: versions with batch_id < horizon are folded into
    // the base this compaction; the latest batch stays a delta for the
    // streaming replay contract unless includeLatest. A batch-only index
    // (no deltas channel) has NO latest batch to guard, so every
    // tombstone is resolvable now — without this, maxBatch = −1 would
    // make `up_to < horizon` unsatisfiable and compaction would silently
    // leave victim bytes on disk and tombstones pending forever (a
    // non-removal a takedown caller would never notice).
    val horizon =
      if (includeLatest || deltasOpt.isEmpty) Long.MaxValue else maxBatch
    // tombstones whose up_to lies BELOW the horizon are fully resolvable
    // now — and MUST be resolved now: a surviving version with batch_id
    // in (up_to, horizon) folds into the base at rank −1, where a stale
    // tombstone would wrongly kill it later. Tombstones at or above the
    // horizon keep guarding the unfolded latest batch and stay pending
    // (they also correctly kill every folded row: all folded batch_ids
    // are < horizon ≤ up_to).
    val applyKill = tombsOpt.map(_.filter(col("up_to") < lit(horizon))
      .groupBy(col(idCol)).agg(max(col("up_to")).as("__kill")))
    val committedOpt = deltasOpt
      .map(d => if (includeLatest) d else d.where(col("batch_id") < maxBatch))
      .map { committedAll =>
        // recency dedup WITHIN the committed deltas: the max-batch_id row
        // per id wins (deterministic — equal batch_ids only arise from
        // replays whose rows agree in value), carrying its rank for the
        // tombstone horizon check; read by touched-cells, prior-cells, fold
        f.checkpoint(committedAll
          .groupBy(col(idCol))
          .agg(max_by(struct((payload :+ "cell").map(col): _*),
            col("batch_id")).as("__w"),
            max(col("batch_id").cast("long")).as("__b"))
          .select(col(idCol) +: (payload :+ "cell").map(c =>
            col(s"__w.$c").as(c)) :+ col("__b"): _*))
      }
    // committed winners minus the ones an applied tombstone kills
    val liveOpt = committedOpt.map { committed =>
      (applyKill match {
        case None => committed
        case Some(kill) => committed.join(kill, Seq(idCol), "left_outer")
          .filter(col("__kill").isNull || col("__kill") < col("__b"))
          .drop("__kill")
      }).drop("__b")
    }
    // ids whose BASE row must go: any committed winner (a delta beats
    // the base) and any applied-tombstone victim (base ranks −1 ≤ up_to)
    val removalIds = (committedOpt.map(_.select(col(idCol))).toSeq ++
      applyKill.map(_.select(col(idCol))).toSeq)
      .reduceOption(_ unionByName _).map(_.distinct())
      .getOrElse(return)
    // driver-bounded: ≤2^nBits distinct cells — the literal prunes the
    // base read to the touched partitions only. Tombstone victims and
    // re-ingested ids that MOVED cells both surface through the
    // column-pruned (id, cell) prior-cells pass over the base.
    val newCells = committedOpt.toSeq.flatMap(_.select("cell").distinct()
      .collect().map(_.getLong(0)))
    val priorCells = baseOpt.toSeq.flatMap { base =>
      // cast: a partition column read back from parquet may infer as int
      base.select(col(idCol), col("cell").cast("long").as("cell"))
        .join(removalIds, Seq(idCol), "left_semi")
        .select("cell").distinct().collect().map(_.getLong(0))
    }
    val touched = (newCells ++ priorCells).distinct.sorted
    if (touched.nonEmpty) {
      val existing = baseOpt match {
        case Some(base) =>
          base.filter(col("cell").isin(touched: _*))
            .select(col(idCol) +: (payload :+ "cell").map(col): _*)
            .join(removalIds, Seq(idCol), "left_anti")
        case None => liveOpt.get.limit(0)
      }
      val folded = f.checkpoint(liveOpt
        .map(existing.unionByName(_))
        .getOrElse(existing))
      folded
        .repartition(col("cell")) // one file per touched cell
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("cell")
        .parquet(s"$indexPath/cells")
      val fs = StoreRoot.fs(spark, indexPath)
      // dynamic overwrite only rewrites partitions PRESENT in the output:
      // a prior cell emptied by an update (its only rows were re-ingested
      // or deleted ids) keeps its stale directory — delete those explicitly
      val outCells = folded.select(col("cell").cast("long")).distinct()
        .collect().map(_.getLong(0)).toSet
      touched.filterNot(outCells).foreach { c =>
        fs.delete(new org.apache.hadoop.fs.Path(s"$indexPath/cells/cell=$c"),
          true)
      }
      f.release(folded)
    }
    committedOpt.foreach(f.release)
    // prune the folded delta partitions
    if (deltasOpt.nonEmpty) BatchState.prune(spark, s"$indexPath/deltas")(b =>
      b < maxBatch || includeLatest)
    val fs = StoreRoot.fs(spark, indexPath)
    // garbage-collect the APPLIED tombstones (their kills are physical
    // now); pending ones (up_to ≥ horizon) keep guarding the latest batch
    tombsOpt.foreach { ts =>
      val troot = new org.apache.hadoop.fs.Path(s"$indexPath/tombstones")
      if (includeLatest) fs.delete(troot, true)
      else {
        // materialize survivors BEFORE overwriting the table they read
        f.checkpoint(ts.filter(col("up_to") >= lit(horizon)))
          .write.mode("overwrite").parquet(troot.toString)
      }
    }
  }

  /** Probe a [[continuousIvfAppend]]-maintained index: the batch faces'
    * point probe ([[graft.operators.Similarity.ivfTopKFromIndex]]) —
    * nearest-centroid cell selection on the driver (≤2^nBits rows), then
    * the `Similarity.cellsCurrent` read: base cells (partition-pruned
    * directories) ∪ un-compacted deltas, de-duplicated on id by RECENCY
    * (max delta batch_id wins; the base ranks as batch −1),
    * tombstone-killed versions dropped — scored in the index's stored
    * layout: a stream-built index answers identically to a batch-built
    * one over the same rows.
    *
    * `rowFilter` is the batch faces' filtered-probe hook
    * ([[graft.operators.Similarity.ivfTopKJoinSQ8]] doc), applied AFTER
    * the recency dedup and the tombstone drop — the predicate sees the
    * index's CURRENT row per id, so a payload predicate can never
    * resurrect a superseded or deleted version — and before the top-k,
    * so the probe still returns k rows from the filtered candidate set.
    */
  def ivfTopKFromStreamIndex(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, idCol: String, queryVec: Seq[Double], k: Int,
      nProbe: Int = 4,
      rowFilter: DataFrame => DataFrame = identity): DataFrame =
    graft.operators.Similarity.ivfProbe(spark, indexPath, idCol, queryVec,
      k, nProbe, rowFilter, rounded = false)

  /** [[continuousIvfAppend]] (kept as API: the index's stored layout
    * decides, so a PQ index gets codes encoded against its frozen
    * codebooks — m bytes per vector in flight).
    */
  def continuousPqAppend(vecs: DataFrame, idCol: String, vecCol: String,
      indexPath: String, checkpoint: String,
      compactEveryBatches: Int = 0): DataStreamWriter[Row] =
    continuousIvfAppend(vecs, idCol, vecCol, indexPath, checkpoint,
      compactEveryBatches)

  /** [[ivfTopKFromStreamIndex]] for a [[continuousPqAppend]]-maintained
    * PQ index: the probe-cell selection is the PQ faces' round-6 rule
    * ([[graft.operators.Similarity.ivfTopKFromIndexPQ]]).
    */
  def ivfPqTopKFromStreamIndex(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, idCol: String, queryVec: Seq[Double], k: Int,
      nProbe: Int = 4,
      rowFilter: DataFrame => DataFrame = identity): DataFrame =
    graft.operators.Similarity.ivfProbe(spark, indexPath, idCol, queryVec,
      k, nProbe, rowFilter, rounded = true)

  /** Stream-stream inner join with watermark-bounded state (SURVEY §2.3
    * joins row): both sides buffer only rows newer than their watermark,
    * and the time-range condition lets Spark evict state as the
    * watermarks advance — without it a stream-stream join's state grows
    * forever.
    */
  def streamStreamJoin(left: DataFrame, right: DataFrame,
      keyCol: String, leftTs: String, rightTs: String,
      watermark: String, joinWindow: String): DataFrame = {
    require(leftTs != rightTs, "rename one side's timestamp column first")
    val l = left.withWatermark(leftTs, watermark)
    val r = right.withColumnRenamed(keyCol, s"${keyCol}_r")
      .withWatermark(rightTs, watermark)
    l.join(r, expr(
      s"""$keyCol = ${keyCol}_r AND
          $rightTs >= $leftTs - INTERVAL $joinWindow AND
          $rightTs <= $leftTs + INTERVAL $joinWindow"""))
  }

  /** Left-outer stream-stream join: unmatched left rows are emitted with
    * nulls once the watermark proves no match can still arrive — the
    * "click with no purchase within the window" shape. Same state bounds
    * as the inner variant.
    */
  def streamStreamLeftJoin(left: DataFrame, right: DataFrame,
      keyCol: String, leftTs: String, rightTs: String,
      watermark: String, joinWindow: String): DataFrame = {
    require(leftTs != rightTs, "rename one side's timestamp column first")
    val l = left.withWatermark(leftTs, watermark)
    val r = right.withColumnRenamed(keyCol, s"${keyCol}_r")
      .withWatermark(rightTs, watermark)
    l.join(r, expr(
      s"""$keyCol = ${keyCol}_r AND
          $rightTs >= $leftTs - INTERVAL $joinWindow AND
          $rightTs <= $leftTs + INTERVAL $joinWindow"""), "left_outer")
  }

  /** Full-outer stream-stream join: each side's unmatched rows are
    * emitted with nulls once BOTH watermarks prove no partner can still
    * arrive — the reconciliation shape (orders vs. payments, either side
    * may be missing). Same watermark-bounded state as the inner variant;
    * outputs for unmatched rows are naturally delayed by the watermark.
    */
  def streamStreamFullOuterJoin(left: DataFrame, right: DataFrame,
      keyCol: String, leftTs: String, rightTs: String,
      watermark: String, joinWindow: String): DataFrame = {
    require(leftTs != rightTs, "rename one side's timestamp column first")
    val l = left.withWatermark(leftTs, watermark)
    val r = right.withColumnRenamed(keyCol, s"${keyCol}_r")
      .withWatermark(rightTs, watermark)
    l.join(r, expr(
      s"""$keyCol = ${keyCol}_r AND
          $rightTs >= $leftTs - INTERVAL $joinWindow AND
          $rightTs <= $leftTs + INTERVAL $joinWindow"""), "full_outer")
  }

  /** Collects per-batch observed metrics from streaming progress events —
    * the Prometheus-exporter seam (reference src/metrics.js:5-52 +
    * /metrics endpoint at listen.js:9-30). A real deployment forwards
    * `snapshot()` to a Prometheus registry or uses
    * spark.sql.streaming.metricsEnabled; the listener keeps the
    * reference's counter names verbatim.
    */
  final class PipelineMetricsListener
      extends org.apache.spark.sql.streaming.StreamingQueryListener {
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    private val totals = new java.util.concurrent.ConcurrentHashMap[String, Long]()
    private val durationMs = new java.util.concurrent.atomic.AtomicLong()
    private val batches = new java.util.concurrent.atomic.AtomicLong()

    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      // sum every *_metrics observation by counter name across batches
      // and queries, like the reference's single registry; the data
      // plane's one observation, "pipeline_metrics", already counts the
      // messages that failed to decode as received and errored
      e.progress.observedMetrics.forEach { (obsName, row) =>
        if (obsName.endsWith("_metrics")) {
          row.schema.fieldNames.foreach { name =>
            totals.merge(name, row.getAs[Long](name), (a, b) => a + b)
          }
        }
      }
      // processing-duration seam: the reference histograms per-message
      // duration (src/metrics.js:48-53); the closest per-batch analog is
      // triggerExecution time, exported as histogram sum/count
      Option(e.progress.durationMs.get("triggerExecution")).foreach { ms =>
        durationMs.addAndGet(ms)
        batches.incrementAndGet()
      }
    }
    def snapshot(): Map[String, Long] = {
      import scala.jdk.CollectionConverters._
      totals.asScala.toMap
    }
    /** (total trigger-execution seconds, batch count) for the duration
      * histogram exposition.
      */
    def durationSecondsAndBatches: (Double, Long) =
      (durationMs.get() / 1000.0, batches.get())
  }

  /** Output row of [[statefulRunningCount]]. */
  case class KeyCount(key: String, n: Long)

  /** Output row of [[statefulRunningAgg]]. */
  case class KeyAgg(key: String, n: Long, total: Double)

  /** Per-key state of [[statefulRunningAgg]]. Public: Spark's generated
    * state projection cannot call a private case class's accessors (it
    * would fall back to interpreted mode).
    */
  case class AggState(n: Long, total: Double)

  /** StatefulProcessor behind [[statefulRunningAgg]]: one typed
    * ValueState per key, optional TTL handled by the state store.
    */
  private class RunningAggProcessor(ttl: org.apache.spark.sql.streaming.TTLConfig)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, (String, Double), KeyAgg] {
    @transient private var state: org.apache.spark.sql.streaming.ValueState[AggState] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      state = getHandle.getValueState[AggState]("agg",
        org.apache.spark.sql.Encoders.product[AggState], ttl)
    override def handleInputRows(key: String, rows: Iterator[(String, Double)],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[KeyAgg] = {
      val prev = if (state.exists()) state.get() else AggState(0L, 0.0)
      var n = prev.n; var total = prev.total
      rows.foreach { r => n += 1; total += r._2 }
      state.update(AggState(n, total))
      Iterator(KeyAgg(key, n, total))
    }
  }

  /** Cross-batch running count+sum per key via `transformWithState` —
    * Spark 4's arbitrary-state API (typed state variables, store-managed
    * TTL, timers), the successor to (flat)MapGroupsWithState. Requires
    * the RocksDB state store provider
    * (`spark.sql.streaming.stateStore.providerClass`), which also gives
    * the 100 TB state story: state lives off-heap/on-disk per partition
    * with changelog checkpointing, not in executor heap.
    *
    * `ttl` expires idle keys' state (processing-time) so unbounded key
    * spaces cannot grow state forever; pass None for no expiry.
    */
  def statefulRunningAgg(spark: org.apache.spark.sql.SparkSession,
      events: DataFrame, keyCol: String, valueCol: String,
      ttl: Option[java.time.Duration] = None): Dataset[KeyAgg] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{TimeMode, TTLConfig}
    val ttlConf = ttl.map(TTLConfig.apply).getOrElse(TTLConfig.NONE)
    val timeMode = if (ttl.isDefined) TimeMode.ProcessingTime() else TimeMode.None()
    events.select(col(keyCol).cast("string"), col(valueCol).cast("double"))
      .as[(String, Double)]
      .groupByKey(_._1)
      .transformWithState(new RunningAggProcessor(ttlConf),
        timeMode, OutputMode.Update())
  }

  /** Custom cross-batch state via flatMapGroupsWithState: a running count
    * per key that survives micro-batch boundaries — the primitive behind
    * any "counter/accumulator/session object per key" operator the
    * built-in aggregations can't express. State is one Long per key;
    * partitioned by key, so it scales horizontally with executors.
    */
  def statefulRunningCount(spark: org.apache.spark.sql.SparkSession,
      events: DataFrame, keyCol: String): Dataset[KeyCount] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.GroupState
    events.select(col(keyCol).cast("string")).as[String]
      .groupByKey(identity)
      .flatMapGroupsWithState(OutputMode.Update(),
        GroupStateTimeout.NoTimeout())(
        (key: String, rows: Iterator[String], state: GroupState[Long]) => {
          val n = state.getOption.getOrElse(0L) + rows.size
          state.update(n)
          Iterator(KeyCount(key, n))
        })
  }
}
