package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Frames
import graft.functions.{VectorFunctions => V}

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Scale design: the query vector (or small query set) is a literal /
  * broadcast side — the corpus is never collected. Brute force is one
  * narrow codegen'd pass + a top-k (TakeOrderedAndProject, no full sort).
  * The LSH variant prunes the scan to matching buckets; with the bucket
  * column persisted (partition or cluster by bucket at write time) the
  * 100 TB path prunes whole files before reading them.
  */
object Similarity {

  /** Exact brute-force top-k by cosine against one query vector.
    * `orderBy(...).limit(k)` plans as TakeOrderedAndProject: per-partition
    * heap + driver merge of k rows, NOT a global sort — this is the right
    * physical shape at any scale.
    */
  def bruteForceTopK(df: DataFrame, idCol: String, vecCol: String,
      queryVec: Seq[Double], k: Int): DataFrame = {
    val q = typedLit(queryVec)
    df.select(col(idCol), round(V.cosine(col(vecCol), q), 6).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }

  /** LSH-bucketed ANN: probe only corpus rows whose hyperplane bucket is
    * within `probeHamming` bits of the query's bucket (multi-probe LSH),
    * then exact cosine + top-k on the survivors. Recall/latency trade-off
    * via nBits and probeHamming.
    */
  def annTopK(df: DataFrame, idCol: String, vecCol: String,
      queryVec: Seq[Double], k: Int, dim: Int,
      nBits: Int = 8, probeHamming: Int = 2): DataFrame = {
    val q = typedLit(queryVec)
    val bucketed = df.select(col(idCol), col(vecCol).as("v"),
      V.hyperplaneLshBucket(col(vecCol), nBits, dim).as("bucket"))
    // query bucket: same expression over a literal vector — evaluated by
    // Catalyst constant folding, no action needed
    val qBucket = V.hyperplaneLshBucket(q, nBits, dim)
    bucketed
      .filter(V.hamming64(col("bucket"), qBucket) <= probeHamming)
      .select(col(idCol), round(V.cosine(col("v"), q), 6).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }

  /** IVF-flat ANN: the corpus is coarse-quantized into cells, a centroid
    * per cell is aggregated (map-side partial combine), and a query
    * probes only the `nProbe` cells whose CENTROIDS are most
    * cosine-similar to it — better-targeted than Hamming multi-probe on
    * raw bucket bits.
    *
    * `lloydIters` trains the coarse quantizer: hyperplane-LSH buckets
    * seed the cells, then each iteration reassigns every vector to its
    * nearest centroid (one distributed projection — ≤2^nBits cosines per
    * row against a broadcast centroid literal) and re-aggregates
    * centroids. Data-adaptive cells hug the corpus's actual clusters, so
    * the same recall needs fewer probes than raw LSH cells (k-means as
    * in IVF-Flat/FAISS; Lloyd 1982).
    *
    * Scale shape: the driver holds only ≤2^nBits centroids (the coarse
    * quantizer); the corpus is never collected, reassignment is
    * shuffle-free. Persist/partition by `cell` at write time and the
    * probe prunes whole files before reading them.
    */
  def ivfTopK(df: DataFrame, idCol: String, vecCol: String,
      queryVec: Seq[Double], k: Int, dim: Int,
      nBits: Int = 6, nProbe: Int = 4, lloydIters: Int = 0): DataFrame =
    Frames.returning { f =>
      val (assigned, cents) =
        trainCells(f, df, idCol, vecCol, dim, nBits, lloydIters)
      val probes = probeCells(cents, queryVec, nProbe)
      val q = typedLit(queryVec)
      assigned.filter(col("cell").isin(probes: _*))
        .select(col(idCol), round(V.cosine(col("v"), q), 6).as("cosine"))
        .orderBy(col("cosine").desc, col(idCol))
        .limit(k)
    }

  /** Train (see [[ivfTopK]]) and PERSIST the IVF index: cell assignments
    * partitioned by `cell` under `<path>/cells`, centroids under
    * `<path>/centroids`. The production shape — build once, then every
    * [[ivfTopKFromIndex]] probe reads ONLY its `nProbe` cell directories
    * (partition pruning, no corpus scan) after a driver-side read of
    * ≤2^nBits centroid rows.
    */
  def ivfWriteIndex(df: DataFrame, idCol: String, vecCol: String,
      dim: Int, path: String, nBits: Int = 6,
      lloydIters: Int = 1): Unit =
    ivfWriteLayout(df, idCol, vecCol, dim, path, nBits, lloydIters,
      "xxhash", roundedCentroids = false)(_ => IvfLayout.Flat)

  /** [[ivfWriteIndex]] with scalar int8 quantization of the stored
    * vectors — the standard IVF-SQ8 shape (FAISS `IndexIVFScalarQuantizer`
    * with QT_8bit, [[IvfLayout.Sq8]]): each cell row keeps the vector as
    * `dim` signed bytes packed into ONE contiguous `binary` value plus
    * one float32 scale — 4× smaller vector payload (measured ~3.2× at
    * the file level for dim=64) for the identical probe plan (same cell
    * partitioning, same partition pruning). Packing to binary (not
    * `array<tinyint>`) matters: parquet stores list-of-int at INT32
    * width plus repetition levels, which gives back half the savings.
    *
    * `roundedCentroids`: the PQ faces' round-9 discipline, opt-in here
    * so the original SQ8 faces' recall-contract hashes are untouched —
    * with kernel = "md5" and lloydIters = 0 the whole index becomes a
    * pure function of the corpus (the sim_bitext_margin_indexed replay).
    */
  def ivfWriteIndexSQ8(df: DataFrame, idCol: String, vecCol: String,
      dim: Int, path: String, nBits: Int = 6, lloydIters: Int = 1,
      kernel: String = "xxhash",
      roundedCentroids: Boolean = false): Unit =
    ivfWriteLayout(df, idCol, vecCol, dim, path, nBits, lloydIters, kernel,
      roundedCentroids)(_ => IvfLayout.Sq8)

  /** [[ivfWriteIndex]] with PRODUCT-quantized storage — the IVF-PQ
    * composition (FAISS `IndexIVFPQ` shape; Jégou et al. 2011 §IV):
    * the coarse quantizer prunes WHICH cells are scanned, the
    * [[Embeddings.pqTrain]] codebooks shrink WHAT each scanned row
    * costs ([[IvfLayout.Pq]]: `m` code bytes per row — 64× smaller than
    * the raw 64-double payload, 16× smaller than SQ8; `codebookK ≤ 128`
    * keeps the codes signed-byte clean). `withRefine` also stores the
    * SQ8 payload the refine probes re-rank against (FAISS
    * `IndexIVFPQR`'s two-tier idea: m + dim + 4 bytes/vector).
    *
    * Codebooks train over the FULL corpus (not per cell): one model
    * serves every cell, appends never retrain it, and the probe decodes
    * against one broadcast m·k-row literal. (True IVFPQ encodes
    * residuals against the coarse centroid; with cosine scoring the
    * residual trick loses its meaning — normalization is not additive —
    * so this is the IVFFlat-style composition: PQ over raw vectors,
    * cells purely for pruning.) The model lands under `<path>/pqmodel`
    * (sub, cluster, centroid).
    *
    * DERANDOMIZED index metadata, unlike the flat/SQ8 faces: coarse
    * centroids are written with round-9 components (the
    * [[Embeddings.kmeansTrain]] discipline) and [[ivfTopKFromIndexPQ]]
    * ranks probe cells by ROUND-6 centroid cosine with ties to the
    * lowest cell id. With `kernel = "md5"` and `lloydIters = 0` the
    * whole index — cells, centroids, codebooks, codes — is a pure
    * function of the corpus that an independent engine replays
    * bit-for-bit; that is what lets the `sim_ivfpq` oracle replay the
    * FULL probe (cell assignment, probe selection, ADC ranking) in SQL
    * rather than settling for a recall contract.
    */
  def ivfWriteIndexPQ(df: DataFrame, idCol: String, vecCol: String,
      dim: Int, path: String, nBits: Int = 6, lloydIters: Int = 1,
      m: Int = 8, codebookK: Int = 16, pqIters: Int = 2,
      kernel: String = "xxhash",
      withRefine: Boolean = false): Unit = {
    require(codebookK >= 1 && codebookK <= 128,
      "PQ codes are stored as signed bytes - codebookK in [1, 128]")
    ivfWriteLayout(df, idCol, vecCol, dim, path, nBits, lloydIters, kernel,
      roundedCentroids = true)(assigned => IvfLayout.Pq(
        Embeddings.pqTrain(assigned, idCol, "v", dim, m, codebookK, pqIters),
        withRefine))
  }

  /** The one IVF build behind the three write faces: train the coarse
    * quantizer ([[trainCells]]; centroid components rounded to 9
    * decimals when `roundedCentroids`), then the layout (`layoutOf`
    * trains the PQ codebooks over the assignment), then — under the
    * rebuild marker — write cells, centroids and the PQ model
    * concurrently and retire the side channels.
    */
  private[graft] def ivfWriteLayout(df: DataFrame, idCol: String,
      vecCol: String, dim: Int, path: String, nBits: Int, lloydIters: Int,
      kernel: String, roundedCentroids: Boolean)(
      layoutOf: DataFrame => IvfLayout): Unit = Frames.scoped { f =>
    // train BEFORE planting the rebuild marker: training is the
    // failure-prone half (bad dim, empty corpus, Lloyd's driver loop),
    // and the marker makes a fully intact previous index unavailable
    // from the moment it exists — a training error must not brick it
    val (assigned, cents0) =
      trainCells(f, df, idCol, vecCol, dim, nBits, lloydIters, kernel)
    val cents = if (!roundedCentroids) cents0 else cents0.map { case (id, c) =>
      id -> c.map(x =>
        BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    val layout = layoutOf(assigned)
    // the destructive half holds _MAINT (withRebuildMarker): a crash
    // after the base landed but before the stale tombstones/deltas
    // channels were retired used to leave old tombstones silently
    // killing fresh base rows — now the window fails loudly instead
    AtomicBatches.withRebuildMarker(df.sparkSession, path) {
      val spark = df.sparkSession
      import spark.implicits._
      val model = layout match {
        case IvfLayout.Pq(m, _) => Seq[() => Unit](() =>
          m.repartition(1).write.mode("overwrite").parquet(s"$path/pqmodel"))
        case _ => Nil
      }
      // the tables are independent outputs (cells projects the
      // checkpointed training frame, centroids and the PQ model are
      // driver-side) and any crash inside the marker demands a full
      // rebuild — so the tiny writes ride along the cells job
      // (CountStore.writeBase)
      Takedown.inParallel(model ++ Seq[() => Unit](
        // repartition on cell first: without it every task writes into
        // every cell directory it touches (tasks × cells small files —
        // the small-file problem at birth); one shuffle gives one file
        // per cell
        () => layout.rows(assigned, idCol).repartition(col("cell"))
          .write.mode("overwrite").partitionBy("cell")
          .parquet(s"$path/cells"),
        () => cents.toSeq.toDF("cell", "centroid")
          .repartition(1)
          .write.mode("overwrite").parquet(s"$path/centroids")))(_.apply())
      // the new base is fully landed — only now retire the old channels
      // (a crash inside this block leaves the previous index's DATA
      // intact but the faces failing on the rebuild-typed _MAINT marker
      // until a rebuild completes)
      clearSideChannels(spark, path)
    }
  }

  /** Batch-append new vectors to a persisted IVF index WITHOUT
    * retraining, in the layout the index was BUILT with
    * ([[IvfLayout.of]] reads it from the stored rows — an SQ8 or PQ
    * index gets SQ8 or PQ rows, so a probe cannot tell appended rows
    * from built rows): each new row is assigned to its nearest existing
    * centroid (the frozen coarse quantizer — the same rule a Lloyd
    * reassignment round applies; round-6 with ties to the lowest cell
    * for PQ, so the `sim_ivfpq_append` oracle replays it) and appended
    * to that cell's partition, PQ codes encoded against the persisted
    * codebooks. One shuffle on `cell` keeps one new file per touched
    * cell per append. The incremental half of the probe-and-append
    * discipline; retrain via the write face when drift accumulates (or
    * on a trigger — [[graft.streaming.StreamingOps
    * .continuousIvfAppend]]).
    *
    * NOTE for `lloydIters = 0`-built indexes: built rows sit in their
    * raw LSH bucket while appended rows go to the nearest centroid —
    * cells are pruning buckets, not semantics, so probes are unaffected;
    * a full rebuild may place appended rows differently.
    */
  def ivfAppend(df: DataFrame, idCol: String, vecCol: String,
      indexPath: String): Unit = {
    // compaction rewrites the very cell partitions an append lands in
    val root = ivfRoot(df.sparkSession, indexPath, "batch append")
    requireNoPendingTombstones(root, df, idCol)
    appendRows(root, df, idCol, vecCol)
      .repartition(col("cell"))
      .write.mode("append").partitionBy("cell").parquet(s"$indexPath/cells")
  }

  /** [[ivfAppend]] (kept as API: the index's stored layout decides). */
  def ivfAppendSQ8(df: DataFrame, idCol: String, vecCol: String,
      indexPath: String): Unit = ivfAppend(df, idCol, vecCol, indexPath)

  /** [[ivfAppend]] (kept as API: the index's stored layout decides). */
  def ivfAppendPQ(df: DataFrame, idCol: String, vecCol: String,
      indexPath: String): Unit = ivfAppend(df, idCol, vecCol, indexPath)

  /** A new batch's rows in the stored layout of the index at `root`
    * — the frozen-quantizer assignment and the layout's row
    * projection behind [[ivfAppend]] and the streaming
    * [[graft.streaming.StreamingOps.continuousIvfAppend]], so batch and
    * stream write identical rows for the same input. The layout read is
    * NOT exception-guarded: swallowing a transient read failure would
    * silently append rows of the wrong layout — fail loudly instead.
    */
  private[graft] def appendRows(root: StoreRoot, df: DataFrame,
      idCol: String, vecCol: String): DataFrame = {
    val layout = IvfLayout.of(root)
    layout.rows(assignToCells(df, idCol, vecCol, readCentroids(root),
      layout.roundedAssign), idCol)
  }

  /** Guard on the BATCH append faces ([[ivfAppend]]/[[ivfAppendSQ8]]/
    * [[ivfAppendPQ]]): they write straight into the base, where rows
    * rank −1 — BELOW every pending tombstone — so appending a
    * tombstoned id would succeed on disk yet stay invisible to every
    * probe (the tombstone kills it), a silent write the caller would
    * misread as a re-insert. Fail loudly with the fix instead:
    * compact first ([[graft.streaming.StreamingOps.compactIvfDeltas]]
    * GCs applied tombstones), then re-append. One broadcast semi-join
    * of the append batch against the small tombstone id list — no
    * index scan. The STREAM append faces are exempt by design: their
    * delta rows carry a batch_id above any tombstone's `up_to`, so a
    * stream append legitimately resurrects.
    */
  private def requireNoPendingTombstones(root: StoreRoot, df: DataFrame,
      idCol: String): Unit =
    root.side("tombstones").foreach { ts =>
        val victims = df.select(col(idCol))
          .join(broadcast(ts.select(col(idCol)).distinct()),
            Seq(idCol), "left_semi")
          .limit(5).collect().map(_.get(0))
        require(victims.isEmpty,
          s"batch append to ${root.path} includes ids with PENDING " +
          s"tombstones (e.g. ${victims.mkString(", ")}): base rows rank " +
          "below every tombstone, so the append would be silently " +
          "invisible to probes. Run StreamingOps.compactIvfDeltas first " +
          "(GCs applied tombstones), then re-append — or use the stream " +
          "append face, whose delta batches legitimately resurrect ids.")
      }

  /** Query a persisted [[ivfWriteIndex]] index. */
  def ivfTopKFromIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      idCol: String, queryVec: Seq[Double], k: Int, nProbe: Int = 4,
      rowFilter: DataFrame => DataFrame = identity): DataFrame =
    ivfProbe(spark, path, idCol, queryVec, k, nProbe, rowFilter,
      rounded = false)

  /** Query a persisted [[ivfWriteIndexSQ8]] index: the probe
    * DEQUANTIZES INLINE in the scan projection (code·scale/127 feeding
    * the same CosineDouble as the flat path — one pass, nothing
    * materialized at float width). Cosine is scale-invariant, so
    * ranking error comes only from the ≤ scale/254 per-component
    * rounding; the `sim_ivf_sq8` recall contract checks it against the
    * exact top-50.
    */
  def ivfTopKFromIndexSQ8(spark: org.apache.spark.sql.SparkSession,
      path: String, idCol: String, queryVec: Seq[Double], k: Int,
      nProbe: Int = 4,
      rowFilter: DataFrame => DataFrame = identity): DataFrame =
    ivfProbe(spark, path, idCol, queryVec, k, nProbe, rowFilter,
      rounded = false)

  /** Query a persisted [[ivfWriteIndexPQ]] index: the candidate cosine is
    * computed against the PQ RECONSTRUCTION — Jégou et al.'s asymmetric
    * distance (exact query side, quantized document side),
    * cosine-normalized as in [[Embeddings.pqTopK]]. Probe-cell ranking
    * is round-6 cosine with ties to the lowest cell id — deterministic
    * against the round-9 centroids the PQ face writes, so the
    * `sim_ivfpq` oracle replays the probe selection exactly.
    */
  def ivfTopKFromIndexPQ(spark: org.apache.spark.sql.SparkSession,
      path: String, idCol: String, queryVec: Seq[Double], k: Int,
      nProbe: Int = 4,
      rowFilter: DataFrame => DataFrame = identity): DataFrame =
    ivfProbe(spark, path, idCol, queryVec, k, nProbe, rowFilter,
      rounded = true)

  /** The PQ REFINE probe (FAISS refine step; `IndexIVFPQR` two-tier
    * shape): ADC-rank the probed cells as [[ivfTopKFromIndexPQ]] does,
    * keep a SHORTLIST of `refineFactor · k` candidates
    * (TakeOrderedAndProject — per-partition heap, bounded), then
    * re-rank the shortlist by cosine against the SQ8 refinement payload
    * and return the top k. Requires an index built with
    * `ivfWriteIndexPQ(..., withRefine = true)`.
    *
    * Why: raw ADC ranking carries the full m-subspace quantization
    * error — on this corpus its top-10 needs an exact-top-50 contract.
    * The refine pass spends one bounded re-rank (refineFactor·k rows,
    * ≤ scale/254 per-component error — the [[ivfTopKFromIndexSQ8]]
    * fidelity) to tighten that to exact-top-10: ADC only has to get
    * the true neighbors INTO the shortlist, not ORDER them. At 100 TB
    * the economics are the point — the ADC scan touches m bytes/row
    * over the probed cells, the SQ8 payload is read for just
    * refineFactor·k rows.
    */
  def ivfTopKFromIndexPQRefine(spark: org.apache.spark.sql.SparkSession,
      path: String, idCol: String, queryVec: Seq[Double], k: Int,
      nProbe: Int = 4, refineFactor: Int = 4,
      rowFilter: DataFrame => DataFrame = identity): DataFrame = {
    require(k >= 1 && refineFactor >= 1, "k and refineFactor must be >= 1")
    ivfProbe(spark, path, idCol, queryVec, k, nProbe, rowFilter,
      rounded = true, refineFactor)
  }

  /** The one point probe behind the batch and stream probe faces: the
    * `nProbe` cells whose centroids are nearest the query
    * ([[probeCells]]; round-6 ranking when `rounded`), the
    * tombstone-aware current rows of those cells ([[cellsCurrent]] —
    * partition pruning, base ∪ deltas) through `rowFilter`, scored by
    * round-6 cosine against the stored layout's candidate vector, top
    * k by (cosine desc, id asc). `refineFactor > 0` ranks a shortlist
    * of `refineFactor · k` that way and re-ranks it against the
    * layout's refine tier (fails loudly without one).
    */
  private[graft] def ivfProbe(spark: org.apache.spark.sql.SparkSession,
      path: String, idCol: String, queryVec: Seq[Double], k: Int,
      nProbe: Int, rowFilter: DataFrame => DataFrame, rounded: Boolean,
      refineFactor: Int = 0): DataFrame = {
    val root = ivfRoot(spark, path, "index probe")
    val probes = probeCells(readCentroids(root), queryVec, nProbe, rounded)
    val current = cellsCurrent(root, idCol, col("cell").isin(probes: _*))
    val layout = IvfLayout.of(root, current.columns)
    val q = typedLit(queryVec)
    def topK(rows: DataFrame, keep: Seq[String], v: Column, score: String,
        n: Int): DataFrame =
      rows.select(col(idCol) +: keep.map(col) :+
          round(V.cosine(v, q), 6).as(score): _*)
        .orderBy(col(score).desc, col(idCol))
        .limit(n)
    if (refineFactor == 0) topK(rowFilter(current), Nil, layout.candidate,
      "cosine", k)
    else {
      val fine = refineTierOf(layout, path)
      topK(topK(rowFilter(current), fine.columns, layout.candidate, "__adc",
        refineFactor * k), Nil, fine.candidate, "cosine", k)
    }
  }

  private def refineTierOf(layout: IvfLayout, path: String)
      : IvfLayout.Sq8.type =
    layout.refineTier.getOrElse(throw new IllegalArgumentException(
      s"$path was not built with withRefine = true - no SQ8 tier to re-rank"))

  /** Batched ANN join: the top-`k` index neighbors of EVERY row of a
    * query DataFrame against a persisted [[ivfWriteIndexSQ8]] index —
    * the production shape at 100 TB ("dedup this new batch against the
    * vector index"), where [[ivfTopKFromIndexSQ8]]'s single-literal
    * probe would mean one job per query row.
    *
    * Scale shape, stage by stage:
    *   1. per-query cell assignment is ONE codegen'd projection against
    *      the BROADCAST centroid literal (≤2^nBits × dim doubles) —
    *      score every cell, `array_sort` the ≤2^nBits (−cos, cell)
    *      structs, slice `nProbe`; queries are never collected;
    *   2. the probed-cell set (driver read bounded by the CELL COUNT,
    *      ≤2^nBits longs, independent of query count) becomes a literal
    *      `isin` filter, so the cell scan prunes whole partition
    *      directories BEFORE the join — a join on the partition column
    *      alone cannot guarantee static pruning;
    *   3. query×cell rows join candidates cell-to-cell (broadcast when
    *      the exploded query side is small — the common case; pass
    *      `broadcastQueries = false` for huge query batches and the join
    *      shuffles both sides on `cell` instead);
    *   4. per-query top-k is the bounded [[graft.functions.Aggregators
    *      .topKByScore]] AGGREGATION (≤k entries per query per partition
    *      in the shuffle), not a window — no query's candidate set ever
    *      funnels through one task-sized sort.
    *
    * Dequantization (code·scale/127) happens inline in the candidate
    * projection, same as the point-probe path. Ranking: (round-6 cosine
    * desc, id asc); cell-assignment ties: (cosine desc, cell asc).
    * Returns (q_id, id, cosine, rank), rank 1..≤k per query.
    * `excludeSelf` drops candidates whose index id equals the query id —
    * for the self-join shape where queries are corpus members.
    * `roundedProbe` ranks probe cells by ROUND-6 centroid cosine with
    * ties to the lowest cell id — [[probeCells]]'s derandomized rule,
    * per query — so a face that needs a bit-for-bit oracle replay (the
    * indexed margin miner) selects the identical probe set in any
    * engine; the default raw-cosine ranking keeps the recall-contract
    * hashes untouched.
    *
    * FILTERED (predicated) probe — `rowFilter`, here and on every
    * point-probe face: the single most common real ANN query is top-k
    * AMONG ROWS SATISFYING A PREDICATE ("nearest docs WHERE lang='en'",
    * "dedup within source X"). `rowFilter` transforms the pruned cell
    * scan BEFORE scoring and the top-k, so each query still returns k
    * rows from the FILTERED candidate set (not a post-filtered, shorter
    * list). Two shapes: a column predicate over the index rows
    * (`_.filter(col("id") % 2 === 0)` — Catalyst pushes it into the
    * scan), or an allowed-id frame
    * (`_.join(broadcast(allowed), Seq("id"), "left_semi")` — the
    * metadata-predicate route when the predicate lives in another
    * table). The recall contract then holds PER FILTERED SUBSET; as
    * selectivity drops, raise `nProbe` so the probed cells still hold
    * ≥k matching rows (the filter thins every cell uniformly in
    * expectation — cells are geometric, predicates usually aren't
    * geometric, so selectivity composes multiplicatively).
    */
  def ivfTopKJoinSQ8(queries: DataFrame, qIdCol: String, qVecCol: String,
      indexPath: String, idCol: String, k: Int, nProbe: Int = 4,
      excludeSelf: Boolean = false, broadcastQueries: Boolean = true,
      rowFilter: DataFrame => DataFrame = identity,
      roundedProbe: Boolean = false): DataFrame =
    ivfJoin(queries, qIdCol, qVecCol, indexPath, idCol, k, nProbe,
      excludeSelf, broadcastQueries, rowFilter, roundedProbe)

  /** [[ivfTopKJoinSQ8]] against a flat (unquantized) [[ivfWriteIndex]]
    * index — identical plan, no dequantize step.
    */
  def ivfTopKJoin(queries: DataFrame, qIdCol: String, qVecCol: String,
      indexPath: String, idCol: String, k: Int, nProbe: Int = 4,
      excludeSelf: Boolean = false, broadcastQueries: Boolean = true,
      rowFilter: DataFrame => DataFrame = identity): DataFrame =
    ivfJoin(queries, qIdCol, qVecCol, indexPath, idCol, k, nProbe,
      excludeSelf, broadcastQueries, rowFilter, roundedProbe = false)

  /** [[ivfTopKJoinSQ8]] against a product-quantized [[ivfWriteIndexPQ]]
    * index — identical plan, candidates scored against the PQ
    * reconstruction ([[ivfTopKFromIndexPQ]]'s asymmetric distance).
    * The batched probe over the 64×-compressed index: at 100 TB this is
    * the shape where the scanned cells' payload is small enough to
    * broadcast-join against a large query batch.
    */
  def ivfPqTopKJoin(queries: DataFrame, qIdCol: String, qVecCol: String,
      indexPath: String, idCol: String, k: Int, nProbe: Int = 4,
      excludeSelf: Boolean = false, broadcastQueries: Boolean = true,
      rowFilter: DataFrame => DataFrame = identity): DataFrame =
    ivfJoin(queries, qIdCol, qVecCol, indexPath, idCol, k, nProbe,
      excludeSelf, broadcastQueries, rowFilter, roundedProbe = false)

  /** The REFINE tier on the batched join face —
    * [[ivfTopKFromIndexPQRefine]]'s two-tier discipline applied per
    * query of a batch, against an `ivfWriteIndexPQ(..., withRefine =
    * true)` index (fails loudly otherwise). The batched join is the
    * production dedup shape ("dedup this batch against the index"), so
    * it is where the exact-top-k contract matters most:
    *
    *   1. ADC stage: [[ivfPqTopKJoin]]'s plan — probe cells per query
    *      (ROUND-6 centroid cosine, ties to the lowest cell: the PQ
    *      faces' derandomized rule, so the `sim_ivfpq_join_refine`
    *      oracle replays the probe selection), candidates scored
    *      against the PQ reconstruction, and a per-query SHORTLIST of
    *      `refineFactor · k` ids kept by the bounded
    *      [[graft.functions.Aggregators.topKByScore]] aggregation
    *      (map-side combine — no query's candidates funnel through one
    *      sort).
    *   2. Refine stage: the shortlist joins BACK to the pruned cell
    *      frame for its SQ8 payload (a second column-pruned read that
    *      touches the `q` bytes for shortlist rows' files only — the
    *      ADC scan never reads them) and to the query vectors, re-ranks
    *      by (round-6 SQ8 cosine desc, id asc), keeps k.
    *
    * Returns (q_id, id, cosine, rank) like every join face — `cosine`
    * is the REFINED (SQ8) score. Scale shape: the only frames beyond
    * stage 1's are shortlist-sized (|queries| · refineFactor · k rows).
    */
  def ivfPqTopKJoinRefine(queries: DataFrame, qIdCol: String,
      qVecCol: String, indexPath: String, idCol: String, k: Int,
      nProbe: Int = 4, refineFactor: Int = 4, excludeSelf: Boolean = false,
      broadcastQueries: Boolean = true,
      rowFilter: DataFrame => DataFrame = identity): DataFrame = {
    require(k >= 1 && nProbe >= 1 && refineFactor >= 1,
      "k, nProbe and refineFactor must be >= 1")
    ivfJoin(queries, qIdCol, qVecCol, indexPath, idCol, k, nProbe,
      excludeSelf, broadcastQueries, rowFilter, roundedProbe = true,
      refineFactor)
  }

  /** The one batched join behind the four join faces (stages in
    * [[ivfTopKJoinSQ8]]): per-query probe cells against the broadcast
    * centroid literal, the probed-cell collect, the tombstone-aware
    * pruned candidate read scored against the stored layout's candidate
    * vector, and the per-query top-k — with `refineFactor > 0`, a
    * shortlist re-ranked against the refine tier
    * ([[ivfPqTopKJoinRefine]]).
    */
  private def ivfJoin(queries: DataFrame, qIdCol: String, qVecCol: String,
      indexPath: String, idCol: String, k: Int, nProbe: Int,
      excludeSelf: Boolean, broadcastQueries: Boolean,
      rowFilter: DataFrame => DataFrame, roundedProbe: Boolean,
      refineFactor: Int = 0): DataFrame = {
    require(k >= 1 && nProbe >= 1, "k and nProbe must be >= 1")
    val root = ivfRoot(queries.sparkSession, indexPath, "index probe")
    // driver-bounded: ≤2^nBits centroid rows
    val cents = readCentroids(root)
    val nCells = cents.length
    val centVecs = typedLit(cents.map(_._2).toSeq)
    val cellIds = typedLit(cents.map(_._1).toSeq)
    val qv = V.doubles(queries, qVecCol)
    // (−cosine, cell) structs sort lexicographically = cosine desc,
    // cell asc on ties — deterministic probe order
    val scoredCells = transform(sequence(lit(1), lit(nCells)), i => {
      val c = V.cosine(qv, element_at(centVecs, i))
      struct((-(if (roundedProbe) round(c, 6) else c)).as("negcos"),
        element_at(cellIds, i).as("cell"))
    })
    val probeList = transform(
      slice(array_sort(scoredCells), 1, math.min(nProbe, nCells)),
      s => s("cell"))
    // checkpointed (the trainCells / deleteMatching discipline): the
    // exploded frame feeds BOTH the probed-cell collect and the join —
    // without it the query plan evaluates twice, and a non-deterministic
    // query source could probe cells in the join that the collected
    // `isin` filter already pruned, silently dropping candidates
    val exploded = queries
      .filter(col(qVecCol).isNotNull)
      .select(col(qIdCol).cast("long").as("q_id"), qv.as("__qv"),
        explode(probeList).as("cell"))
      .localCheckpoint(true)
    // bounded driver read (≤2^nBits longs, NOT query-count-sized): the
    // distinct probed cells as a literal filter = static partition
    // pruning on the cell scan
    val probed = exploded.select("cell").distinct()
      .collect().map(_.getLong(0)).sorted
    val current = cellsCurrent(root, idCol, col("cell").isin(probed: _*))
    val layout = IvfLayout.of(root, current.columns)
    val fine = Option.when(refineFactor > 0)(refineTierOf(layout, indexPath))
    val cellsDf = rowFilter(current)
    val qSide = if (broadcastQueries) broadcast(exploded) else exploded
    def topK(cand: DataFrame, score: String, n: Int): DataFrame =
      cand.groupBy("q_id").agg(graft.functions.Aggregators.topKByScore(
        col("id"), col(score), n).as("__top"))
    val score = if (fine.isEmpty) "cosine" else "__adc"
    val cand0 = qSide.join(cellsDf, Seq("cell"))
      .select(col("q_id"), col(idCol).cast("long").as("id"),
        round(V.cosine(layout.candidate, col("__qv")), 6).as(score))
    val cand = if (excludeSelf) cand0.filter(col("q_id") =!= col("id"))
      else cand0
    val top = fine match {
      case None => topK(cand, score, k)
      case Some(tier) =>
        val shortlist = topK(cand, score, refineFactor * k)
          .select(col("q_id"), explode(col("__top")).as("__e"))
          .select(col("q_id"), col("__e._1").as("id"))
        // the refine payload, read for shortlist rows only; cellsCurrent
        // already deduped ids, so this join cannot fan out
        val payload = cellsDf.select(col(idCol).cast("long").as("id") +:
          tier.columns.map(col): _*)
        val qVecs = qSide.select(col("q_id"), col("__qv")).dropDuplicates("q_id")
        topK(shortlist.join(payload, Seq("id")).join(qVecs, Seq("q_id"))
          .select(col("q_id"), col("id"),
            round(V.cosine(tier.candidate, col("__qv")), 6).as("cosine")),
          "cosine", k)
    }
    top.select(col("q_id"), posexplode(col("__top")))
      .select(col("q_id"), col("col._1").as("id"), col("col._2").as("cosine"),
        (col("pos") + 1).as("rank"))
  }

  /** DELETE (takedown) face for every persisted index layout — flat
    * [[ivfWriteIndex]], SQ8 [[ivfWriteIndexSQ8]], PQ [[ivfWriteIndexPQ]]
    * (with or without the refine tier) — and their stream-maintained
    * twins: writes TOMBSTONE rows `(id, up_to)` into the index's OWN
    * tombstone channel (`<indexPath>/tombstones`), where `up_to` is the
    * highest delta batch_id at delete time (−1 when the index has never
    * streamed). A tombstone KILLS every version of the id whose
    * batch_id ≤ up_to — the base ranks as −1, so it always kills base
    * rows — while a LATER append (batch_id > up_to) legitimately
    * re-inserts the id.
    *
    * Why a separate channel and not tombstone rows inside `deltas`: a
    * resumed stream's next micro-batch id is exactly 1 + the highest
    * existing batch, and its replay-safe dynamic partition overwrite
    * would ERASE a tombstone batch stamped with that id — a takedown
    * silently undone by a routine stream restart. The tombstone table
    * has no batch partitioning to collide with, and the delete itself
    * is one bounded write of the id list: no index scan, no victim-cell
    * lookup (probes read the small tombstone table unpruned).
    *
    * Why tombstones and not rewrite-on-delete: at 100 TB a takedown
    * request must not rewrite cell partitions synchronously. Physical
    * removal is deferred to [[graft.streaming.StreamingOps
    * .compactIvfDeltas]] (tombstone-aware: drops killed rows from the
    * base, then garbage-collects fully-applied tombstones). Every
    * probe/join face — point, batched join, refine, stream — honors
    * tombstones BEFORE its `rowFilter`, so no predicate can resurrect a
    * deleted row.
    *
    * Re-insert contract: a stream append after the delete (higher
    * batch_id) resurrects the id; the batch [[ivfAppend]] faces write
    * straight into the base (rank −1, below any tombstone), so a batch
    * re-insert of a pending-tombstoned id FAILS LOUDLY with a
    * compact-first instruction (the guard on every batch append face —
    * without it the write would land yet stay invisible). `ids` is a
    * one-column-relevant frame holding `idCol` (extra columns ignored);
    * ids absent from the index are a harmless no-op kill.
    */
  def ivfDelete(ids: DataFrame, idCol: String, indexPath: String): Unit = {
    // a delete racing compaction's tombstone GC (read-then-overwrite of
    // tombstones/) would be silently erased — a lost takedown
    val root = ivfRoot(ids.sparkSession, indexPath, "ivfDelete")
    val base = root.side("cells")
    val deltas = root.side("deltas")
    require(base.nonEmpty || deltas.nonEmpty, s"no index at $indexPath")
    val upTo = deltas
      .map(_.agg(max(col("batch_id"))).head.get(0))
      .flatMap(Option(_)).map(_.toString.toLong).getOrElse(-1L)
    ids.select(col(idCol)).distinct()
      .withColumn("up_to", lit(upTo))
      .write.mode("append").parquet(s"$indexPath/tombstones")
  }

  /** AUDIT face: the ids a probe can still return — the tombstone-aware
    * current view's id column (base + stream deltas, killed rows out),
    * named `id`. Works for all three layouts (flat/SQ8/PQ share the
    * cells protocol). Consumed by [[graft.operators.Takedown.audit]].
    */
  def ivfPresentIds(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, idCol: String): DataFrame =
    cellsCurrent(ivfRoot(spark, indexPath, "ivfPresentIds"), idCol, lit(true))
      .select(col(idCol).as("id"))

  /** A FULL index build supersedes every side channel — appended delta
    * batches and tombstones alike ([[ivfDelete]] removes rows precisely
    * because a rebuild is too expensive; a rebuild makes them moot).
    * The write faces only overwrite `cells`/`centroids`, so stale
    * channels left at a reused path would silently keep folding into
    * the fresh index. Called AFTER the new base lands: a rebuild that
    * fails mid-way must leave the OLD index fully intact, channels
    * included.
    */
  private def clearSideChannels(spark: org.apache.spark.sql.SparkSession,
      indexPath: String): Unit = {
    val fs = StoreRoot.fs(spark, indexPath)
    Seq("deltas", "tombstones").foreach(ch =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$indexPath/$ch"), true))
    // a rebuild also supersedes an interrupted compaction: whatever the
    // crash left half-rewritten was just overwritten wholesale
    AtomicBatches.clearMaintenance(spark, indexPath)
  }

  /** The handle factory of the IVF indexes. */
  private[graft] val ivfRoot =
    StoreRoot.of("the ivfWriteIndex face it was built with")

  /** The CURRENT rows of a persisted index, cell-pruned: base cells
    * under `cellPred` ∪ un-compacted deltas, de-duplicated on id by
    * RECENCY (max delta `batch_id` wins, the base ranks as −1), with
    * tombstone-KILLED versions dropped ([[ivfDelete]]: a tombstone
    * kills every version with batch_id ≤ its `up_to`). When no side
    * channel exists the base scan is returned VERBATIM — the pure-batch
    * probe plan (partition pruning, predicate pushdown into the scan)
    * is untouched; the fold only appears once a channel exists.
    *
    * Pruning order matters for correctness: the BASE read is
    * cell-pruned up front (that is the partition-pruning win), but the
    * DELTAS are read UNPRUNED and `cellPred` is applied to the fold
    * WINNER's cell — a re-ingested id whose latest version moved to an
    * unprobed cell must hide its stale base row in the probed cell, not
    * resurface it. Deltas are bounded by the compaction cadence (≤N
    * micro-batches), so the unpruned read is small by construction;
    * the tombstone table is an id list, read unpruned for the same
    * reason.
    *
    * Shared by every batch probe/join face AND the stream faces
    * ([[graft.streaming.StreamingOps.ivfTopKFromStreamIndex]]), so all
    * of them honor stream appends and tombstones identically.
    */
  private[graft] def cellsCurrent(root: StoreRoot, idCol: String,
      cellPred: Column): DataFrame = {
    val base = root.side("cells").map(_.filter(cellPred))
    val deltas = root.side("deltas")
    val tombs = root.side("tombstones")
    (base, deltas, tombs) match {
      case (Some(b), None, None) => b
      case (b, d, t) =>
        require(b.nonEmpty || d.nonEmpty,
          s"no cells or deltas under ${root.path}")
        val ref = b.getOrElse(d.get.drop("batch_id"))
        val payload = ref.columns.filterNot(c => c == idCol || c == "cell")
        def shape(df: DataFrame, bCol: Column): DataFrame =
          df.select(col(idCol) +: payload.map(col) :+
            col("cell").cast("long").as("cell") :+ bCol.as("__b"): _*)
        val parts = b.map(shape(_, lit(-1L))).toSeq ++
          d.map(x => shape(x, col("batch_id").cast("long")))
        val folded = parts.reduce(_ unionByName _)
          .groupBy(col(idCol))
          .agg(max_by(struct((payload :+ "cell").map(col): _*), col("__b"))
            .as("__w"),
            max(col("__b")).as("__b"))
          .select(col(idCol) +: (payload :+ "cell").map(c =>
            col(s"__w.$c").as(c)) :+ col("__b"): _*)
        val killed = t match {
          case None => folded
          case Some(ts) =>
            val kill = ts.groupBy(col(idCol)).agg(max(col("up_to")).as("__kill"))
            folded.join(kill, Seq(idCol), "left_outer")
              .filter(col("__kill").isNull || col("__kill") < col("__b"))
              .drop("__kill")
        }
        killed.filter(cellPred).drop("__b")
    }
  }

  /** Driver-side read of a persisted index's coarse quantizer — ≤2^nBits
    * rows, sorted by cell id. Fails loudly on an empty/corrupt table.
    */
  private[graft] def readCentroids(root: StoreRoot)
      : Array[(Long, Seq[Double])] = {
    val cents = root.read("centroids")
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1))
      .sortBy(_._1)
    require(cents.nonEmpty, s"no centroids at ${root.path}/centroids")
    cents
  }

  /** Per-row kth-nearest-neighbor outlier scores (Ramaswamy, Rastogi &
    * Shim 2000, "Efficient algorithms for mining outliers"): a row
    * whose kth neighbor is already far (low cosine) sits in a sparse
    * region of embedding space — mislabeled content, encoding garbage,
    * or genuinely novel data. Returns (id, knn_cos): each row's ROUND-6
    * cosine to its kth-nearest neighbor, ascending knn_cos = most
    * outlying first when sorted.
    *
    * This face composes the exact [[knnJoinExact]] yardstick (quadratic
    * — the audit-scale tool). At corpus scale swap the neighbor source:
    * `ivfTopKJoin(SQ8/PQ)` emits the same (q_id, id, cosine, rank)
    * shape from the cell-pruned index, and `rank = k` over it gives the
    * approximate score with the index's recall.
    */
  def knnOutlierScores(df: DataFrame, idCol: String, vecCol: String,
      dim: Int, k: Int): DataFrame =
    knnJoinExact(df, idCol, vecCol, dim, k)
      .filter(col("rank") === k)
      .select(col("id_a").as(idCol), round(col("cosine"), 6).as("knn_cos"))

  /** Margin-based pair mining (Artetxe & Schwenk 2019, "Margin-based
    * parallel corpus mining with multilingual sentence embeddings" —
    * the LASER/CCMatrix recipe): raw cosine over-fires in dense regions
    * of embedding space, so each candidate pair (x, y) is scored by its
    * cosine NORMALIZED by the average similarity of each side's own
    * k-neighborhood — margin = cos(x, y) / ((avgₖ(x) + avgₖ(y)) / 2) —
    * and only MUTUAL-best pairs above the threshold survive. THE
    * standard aligner for parallel-corpus mining, and the same
    * machinery aligns any two embedded corpora (near-dup pairing across
    * crawl snapshots, image-caption linking).
    *
    * Inputs are the two DIRECTIONAL top-k frames in the
    * (q_id, id, cosine, rank) shape every kNN face here emits —
    * [[knnJoinExactBipartite]] at audit scale, [[ivfTopKJoinSQ8]] /
    * [[ivfPqTopKJoin]] against a persisted index at corpus scale. The
    * candidate set is the UNION of both directions (a pair ranked only
    * from one side still competes); each side's denominator averages
    * its own k list.
    *
    * Deterministic and engine-replayable: cosines enter as round-6;
    * neighborhood averages sum exact integer micro-units (order-free,
    * the curation-report discipline) and divide by the side's ACTUAL
    * list length; margins are round-6; mutual-best ranks by
    * (margin DESC, partner id ASC) on each side.
    *
    * Scale shape: pure composition over k-bounded frames — the
    * group-bys carry ≤k rows per id, the mutual-best windows partition
    * by id over ≤2k candidate rows, nothing corpus-sized moves. Returns
    * (src_id, dst_id, cosine, margin).
    */
  def marginMine(fwd: DataFrame, bwd: DataFrame,
      threshold: Double = 1.0): DataFrame = {
    def micro(c: Column): Column = round(c * 1e6).cast("long")
    val dF = fwd.groupBy(col("q_id").cast("long").as("__x"))
      .agg(((sum(micro(round(col("cosine"), 6))).cast("double") / 1e6) /
        count(lit(1))).as("__dF"))
    val dB = bwd.groupBy(col("q_id").cast("long").as("__y"))
      .agg(((sum(micro(round(col("cosine"), 6))).cast("double") / 1e6) /
        count(lit(1))).as("__dB"))
    // union of both directions, swapped into (src, dst). On exact
    // frames cosine is symmetric bit-for-bit (commutative-exact
    // multiplies) and the two sightings agree; on ASYMMETRIC frames —
    // the quantized-index joins, where each direction scores against
    // the OTHER side's quantization — they can differ, so pairs
    // canonicalize to their HIGHER score (deterministic, and equal to
    // the old distinct() when the sightings agree)
    val cand = fwd.select(col("q_id").cast("long").as("src_id"),
        col("id").cast("long").as("dst_id"),
        round(col("cosine"), 6).as("cosine"))
      .union(bwd.select(col("id").cast("long").as("src_id"),
        col("q_id").cast("long").as("dst_id"),
        round(col("cosine"), 6).as("cosine")))
      .groupBy("src_id", "dst_id").agg(max(col("cosine")).as("cosine"))
    val scored = cand
      .join(dF, col("src_id") === col("__x"))
      .join(dB, col("dst_id") === col("__y"))
      .select(col("src_id"), col("dst_id"), col("cosine"),
        round(col("cosine") / ((col("__dF") + col("__dB")) / 2.0), 6)
          .as("margin"))
    val wx = org.apache.spark.sql.expressions.Window
      .partitionBy("src_id").orderBy(col("margin").desc, col("dst_id"))
    val wy = org.apache.spark.sql.expressions.Window
      .partitionBy("dst_id").orderBy(col("margin").desc, col("src_id"))
    scored
      .withColumn("__rx", row_number().over(wx))
      .withColumn("__ry", row_number().over(wy))
      .filter(col("__rx") === 1 && col("__ry") === 1 &&
        col("margin") >= threshold)
      .select("src_id", "dst_id", "cosine", "margin")
  }

  /** Frozen-quantizer assignment: (id, v, cell) with cell = the id of the
    * nearest centroid ([[nearestCell]]; round-6 cosine when `rounded`,
    * the PQ layout's derandomized rule — `cents` arrives id-sorted from
    * [[readCentroids]], so ties go to the lowest cell id). Behind
    * [[appendRows]], so batch and stream apply the identical rule.
    */
  private[graft] def assignToCells(df: DataFrame, idCol: String, vecCol: String,
      cents: Array[(Long, Seq[Double])], rounded: Boolean = false): DataFrame = {
    // frozen-quantizer assignment must agree with nearestCell's
    // 0-based-index rule: cell ids from ivfWriteIndex are exactly the
    // positions Lloyd assigned, so index-by-sorted-position is identity
    val byPos = cents.map(_._2).toSeq
    // nearestCell reads the INPUT column directly, not the sibling "v"
    // alias — lateral-column-alias resolution precedence is version- and
    // config-sensitive, and an input column already named "v" must not
    // win over the vector being assigned
    df.filter(col(vecCol).isNotNull)
      .select(col(idCol), col(vecCol).as("v"),
        nearestCell(col(vecCol).cast("array<double>"), byPos, rounded)
          .as("__pos"))
      .select(col(idCol), col("v"),
        element_at(typedLit(cents.map(_._1).toSeq), col("__pos").cast("int") + 1)
          .as("cell"))
  }

  /** Shared coarse-quantizer build: LSH-seeded cells, `lloydIters`
    * k-means refinements. Returns the (id, v, cell) assignment, which
    * reads a frame pinned in the caller's scope `f`, and the driver-held
    * centroids.
    */
  private def trainCells(f: Frames, df: DataFrame, idCol: String,
      vecCol: String, dim: Int, nBits: Int, lloydIters: Int,
      kernel: String = "xxhash")
      : (DataFrame, Array[(Long, Seq[Double])]) = {
    // checkpointed: the centroid collect(s) and the probe filter all read
    // this — without it the scan + bucket projection runs per consumer.
    // Null embeddings have no cell (and can never rank) — dropped up
    // front so the driver-side centroid read never sees a null cell row
    val base = f.checkpoint(df
      .filter(col(vecCol).isNotNull)
      .select(col(idCol), col(vecCol).as("v"),
        V.hyperplaneLshBucket(col(vecCol), nBits, dim, kernel).as("cell")))

    def centroidsOf(assigned: DataFrame): Array[(Long, Seq[Double])] = assigned
      .groupBy("cell")
      .agg(graft.functions.Aggregators.vectorCentroid(
        col("v").cast("array<double>"), dim).as("c"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1))

    var assigned = base
    var cents = centroidsOf(base)
    (1 to lloydIters).foreach { _ =>
      assigned = base.select(col(idCol), col("v"),
        nearestCell(col("v"), cents.map(_._2).toSeq).as("cell"))
      cents = centroidsOf(assigned)
    }
    (assigned, cents)
  }

  /** The `nProbe` cell ids whose centroids are most cosine-similar to
    * the query (driver-side over ≤2^nBits centroids). `rounded` is the
    * derandomized rule of the PQ faces: ROUND-6 cosine (SQL `round`
    * semantics — half away from zero), ties to the lowest cell id — the
    * rounding absorbs last-ulp arithmetic differences so an independent
    * engine selects the identical probe set. Raw ties keep input order.
    */
  private[graft] def probeCells(cents: Array[(Long, Seq[Double])],
      queryVec: Seq[Double], nProbe: Int,
      rounded: Boolean = false): Seq[Long] = {
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < math.min(a.length, b.length)) {
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      val d = math.sqrt(na) * math.sqrt(nb)
      if (d == 0.0) 0.0 else dot / d
    }
    val scored = cents.map { case (id, c) =>
      val x = cos(c, queryVec)
      id -> (if (!rounded) x
        else BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    (if (rounded) scored.sortBy { case (id, r) => (-r, id) }
      else scored.sortBy(-_._2))
      .take(nProbe).map(_._1).toSeq
  }

  /** Index (0-based, as long) of the centroid most cosine-similar to
    * `v` (round-6 cosine when `rounded`), evaluated as one HOF fold over
    * a broadcast centroid literal — ties break to the LOWEST index, so
    * reassignment is deterministic.
    */
  private def nearestCell(v: Column, cents: Seq[Seq[Double]],
      rounded: Boolean = false): Column = {
    val centLit = typedLit(cents)
    val scored = transform(sequence(lit(0), lit(cents.length - 1)), i => {
      val c = V.cosine(v, element_at(centLit, i + lit(1)))
      struct((if (rounded) round(c, 6) else c).as("c"), i.as("i"))
    })
    aggregate(scored,
      struct(lit(Double.NegativeInfinity).as("c"), lit(-1).as("i")),
      (acc, x) => when(x("c") > acc("c"), x).otherwise(acc))
      .getField("i").cast("long")
  }

  /** All-pairs top-k neighbors per row, blocked by an LSH bucket: for
    * each id, its k most-similar bucket-mates.
    *
    * Scale shape: nBits sizes buckets so the within-bucket self-join is
    * ~N·avgBucketSize pairs, never N²/2^small; degenerate buckets (skewed
    * regions of embedding space) are dropped by `maxBucketSize`, exactly
    * like the dedup LSH paths. The per-id top-k windows on
    * (bucket, id_a) — each id lives in exactly ONE bucket, so this equals
    * per-id rank, and hash(bucket) from the join already satisfies the
    * window's clustering: no second shuffle, only a partition-local sort
    * of capped buckets.
    */
  def neighborsWithinBuckets(df: DataFrame, idCol: String, vecCol: String,
      dim: Int, k: Int, nBits: Int = 12, maxBucketSize: Int = 1000,
      kernel: String = "xxhash"): DataFrame = {
    // cast to double ONCE per row: a float->double array cast inside the
    // pairwise cosine would re-box every element per candidate PAIR
    val bucketed = df.select(col(idCol),
      col(vecCol).cast("array<double>").as("v"),
      V.hyperplaneLshBucket(col(vecCol), nBits, dim, kernel).as("bucket"))
    val keep = bucketed.groupBy("bucket").agg(count(lit(1)).as("__n"))
      .filter(col("__n").between(2, maxBucketSize)).select("bucket")
    val sized = bucketed.join(keep, Seq("bucket"))
    val a = sized.select(col("bucket"), col(idCol).as("id_a"), col("v").as("v_a"))
    val b = sized.select(col("bucket"), col(idCol).as("id_b"), col("v").as("v_b"))
    val pairs = a.join(b, Seq("bucket")).filter(col("id_a") =!= col("id_b"))
      .select(col("bucket"), col("id_a"), col("id_b"),
        V.cosine(col("v_a"), col("v_b")).as("cosine"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("bucket"), col("id_a")).orderBy(col("cosine").desc, col("id_b"))
    pairs.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select("id_a", "id_b", "cosine", "rank")
  }

  /** EXACT k-nearest-neighbor self-join: for every row, its k most
    * cosine-similar other rows over the WHOLE corpus. Deterministic
    * tiebreak on (cosine desc, id_b).
    *
    * Scale note: exact all-pairs kNN is inherently quadratic — this is
    * the ground-truth / small-corpus path (recall evaluation, oracle
    * checks, corpora that fit one broadcast; the broadcast IS the
    * documented bound, identical to what a broadcast join would ship).
    * A join-based formulation was measured 10× slower at sf0.1: a
    * BroadcastNestedLoopJoin materializes every candidate PAIR as a row
    * carrying both 64-double vectors before the cosine can run, so the
    * row plumbing — not the math — dominates. Here the corpus rides a
    * broadcast variable once per executor and each partition streams its
    * rows against it in primitive arrays with a bounded insertion top-k
    * (cosine desc, id asc — bit-identical accumulation order to
    * [[graft.functions.ArrayOps.CosineDouble]]). This is the
    * mapPartitions-as-deliberate-choice case: per-row work over an
    * executor-resident matrix that no join/agg shape can express without
    * materializing N² rows. At 100 TB use [[neighborsWithinBuckets]]
    * (LSH-blocked) and validate its recall on a sampled partition with
    * this operator.
    *
    * `idCol` must be integral (same contract as `Dedup.minhashLsh`).
    */
  def knnJoinExact(df: DataFrame, idCol: String, vecCol: String,
      dim: Int, k: Int): DataFrame =
    knnJoinExactImpl(df, idCol, vecCol, df, idCol, vecCol, dim, k,
      excludeSameId = true)

  /** [[knnJoinExact]]'s BIPARTITE generalization: for every row of
    * `queries`, its k most cosine-similar rows of `corpus` (a different
    * frame — the cross-lingual / cross-snapshot shape [[marginMine]]
    * consumes). Same scale stance: the CORPUS side broadcasts (the
    * documented bound), queries stream against it — at corpus scale
    * swap in [[ivfTopKJoinSQ8]]/[[ivfPqTopKJoin]] against a persisted
    * index of the corpus side, which emits the same
    * (id_a, id_b, cosine, rank) shape.
    */
  def knnJoinExactBipartite(queries: DataFrame, qIdCol: String,
      qVecCol: String, corpus: DataFrame, cIdCol: String, cVecCol: String,
      dim: Int, k: Int): DataFrame =
    knnJoinExactImpl(queries, qIdCol, qVecCol, corpus, cIdCol, cVecCol,
      dim, k, excludeSameId = false)
      .toDF("q_id", "id", "cosine", "rank") // the ivf-join-face shape

  private def knnJoinExactImpl(queries: DataFrame, qIdCol: String,
      qVecCol: String, corpusDf: DataFrame, cIdCol: String, cVecCol: String,
      dim: Int, k: Int, excludeSameId: Boolean): DataFrame = {
    require(k >= 1, "k must be >= 1")
    // enforce the documented contract (same reason as Dedup.minhashLsh:
    // a silent string cast would null out or collapse distinct ids)
    Seq(queries.schema(qIdCol), corpusDf.schema(cIdCol)).foreach { f =>
      require(Set("ByteType", "ShortType", "IntegerType", "LongType")
        .contains(f.dataType.toString),
        "knnJoinExact needs an integral id column")
    }
    val spark = queries.sparkSession
    import spark.implicits._
    val typed = queries
      .select(col(qIdCol).cast("long").as("id"),
        col(qVecCol).cast("array<double>").as("v"))
      .as[(Long, Array[Double])]
    // validate corpus vectors ONCE at broadcast build: a mismatched
    // vector must fail here, not only when its own row streams (and the
    // dot product below can then trust both lengths — no silent min())
    val corpus = corpusDf
      .select(col(cIdCol).cast("long").as("id"),
        col(cVecCol).cast("array<double>").as("v"))
      .as[(Long, Array[Double])]
      .collect().sortBy(_._1)
    corpus.foreach { case (id, v) =>
      require(v == null || v.length == dim,
        s"corpus vector for id $id has length ${v.length}, expected $dim")
    }
    val bc = spark.sparkContext.broadcast(corpus)
    typed.mapPartitions { it =>
      val corp = bc.value
      it.flatMap { case (ida, va) =>
        if (va == null) Iterator.empty
        else {
          // a short/corrupt vector would silently rank on a partial dot
          // product — fail loudly instead
          require(va.length == dim,
            s"vector for id $ida has length ${va.length}, expected $dim")
          val ids = new Array[Long](k); val cos = new Array[Double](k)
          var n = 0
          def beats(c: Double, id: Long, i: Int): Boolean =
            c > cos(i) || (c == cos(i) && id < ids(i))
          var ci = 0
          while (ci < corp.length) {
            val (idb, vb) = corp(ci)
            if ((!excludeSameId || idb != ida) && vb != null) {
              var dot = 0.0; var na = 0.0; var nb = 0.0
              val m = dim // both sides validated against dim
              var j = 0
              while (j < m) {
                val x = va(j); val y = vb(j)
                dot += x * y; na += x * x; nb += y * y; j += 1
              }
              val d = math.sqrt(na) * math.sqrt(nb)
              val c = if (d == 0.0) 0.0 else dot / d
              if (n < k || beats(c, idb, n - 1)) {
                var pos = if (n < k) n else n - 1
                while (pos > 0 && beats(c, idb, pos - 1)) pos -= 1
                var i = math.min(n, k - 1)
                while (i > pos) { ids(i) = ids(i - 1); cos(i) = cos(i - 1); i -= 1 }
                ids(pos) = idb; cos(pos) = c
                if (n < k) n += 1
              }
            }
            ci += 1
          }
          (0 until n).iterator.map(r => (ida, ids(r), cos(r), r + 1))
        }
      }
    }.toDF("id_a", "id_b", "cosine", "rank")
  }
}
