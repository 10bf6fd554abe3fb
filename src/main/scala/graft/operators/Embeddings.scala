package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Frames

/** Embedding-column utilities beyond similarity search: storage-size
  * reduction for the 100 TB case, where float32 embeddings often dominate
  * the table footprint.
  */
object Embeddings {

  /** Symmetric int8 quantization per vector: scale = max |x_i|,
    * q_i = floor(x_i / scale * 127 + 0.5) (round-half-up — `floor`
    * behaves identically in every SQL engine, unlike banker's rounding),
    * zero vectors quantize to all zeros. 4× smaller than float32 with
    * the scale kept per row for dequantization.
    *
    * Two projections on purpose: `scale` must be a plain attribute by
    * the time the packing lambda references it — a lambda body that
    * references an outer EXPRESSION re-evaluates it per element (the
    * max-abs pass would run 64× per row).
    */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    int8Rows(df, Seq(idCol), col(vecCol))

  /** [[quantizeInt8]]'s rule over any frame: `keep` columns, then
    * `scale` (double) and the unpacked codes `q` (array<int>) of `vec`.
    * The one copy of the rule — the SQ8 storage layout of the IVF index
    * ([[IvfLayout]]) packs these codes.
    */
  private[operators] def int8Rows(df: DataFrame, keep: Seq[String],
      vec: Column): DataFrame = {
    val v = vec.cast("array<double>")
    df.select(keep.map(col) :+ v.as("__v") :+
        array_max(transform(v, x => abs(x))).as("scale"): _*)
      .select(keep.map(col) :+ col("scale") :+
        transform(col("__v"), x =>
          when(col("scale") === 0.0, lit(0))
            .otherwise(floor(x / col("scale") * 127.0 + 0.5))
            .cast("int")).as("q"): _*)
  }

  /** Dequantize back to doubles: x_i ≈ q_i * scale / 127. */
  def dequantizeInt8(df: DataFrame, qCol: String, scaleCol: String): DataFrame =
    df.withColumn("v_approx",
      transform(col(qCol), q => q.cast("double") * col(scaleCol) / 127.0))

  /** Spherical k-means corpus clustering (Lloyd 1982, cosine kernel) —
    * the topic-sharding step of cluster-based pipelines (SemDeDup's
    * cluster stage, cluster-balanced sampling): `iters` update rounds
    * from deterministic seeds (the vectors of the `k` smallest ids),
    * then the assignment against the final centroids.
    *
    * Engine-replicable by construction, so the driver oracle checks the
    * assignment EXACTLY: assignments argmax a cosine ROUNDED to 6
    * decimals (ties → lowest cluster index) and recomputed centroids are
    * rounded per-component to 9 decimals — both absorb the last-ulp
    * differences of distributed vs sequential summation, in this engine
    * and in any re-implementation. An empty cluster keeps its previous
    * centroid.
    *
    * Scale shape: centroids live on the driver (k×dim doubles — the
    * coarse-quantizer discipline of [[Similarity.ivfTopK]]); each round
    * is ONE distributed projection (k cosines per row against centroid
    * literals, whole-stage codegen'd — the k ≤ a-few-hundred regime this
    * targets) plus ONE map-side-combined centroid aggregation. The
    * corpus is never collected; the seed read collects exactly k rows.
    */
  def kmeans(df: DataFrame, idCol: String, vecCol: String, dim: Int,
      k: Int, iters: Int): DataFrame =
    kmeansAssign(df, idCol, vecCol,
      kmeansTrain(df, idCol, vecCol, dim, k, iters))

  /** The greedy-first argmax over round-6 cosines: ties break to the
    * lowest cluster index (a left fold keeps the FIRST max).
    */
  private[operators] def nearest(v: Column, cents: Seq[(Int, Seq[Double])]): Column = {
    import graft.functions.{VectorFunctions => V}
    val scored = array(cents.map { case (i, c) =>
      struct(round(V.cosine(v, typedLit(c)), 6).as("c"), lit(i).as("i"))
    }: _*)
    // left fold via aggregate(): the accumulator is a lambda VARIABLE,
    // so the plan stays linear in k. The previous reduceLeft of
    // when(b.c > a.c, b).otherwise(a) DUPLICATED the accumulator
    // subtree in both branches — exponential 2^k expression growth,
    // invisible at the k ≤ 4 call sites but a multi-minute analysis
    // stall at PQ's k = 16. Same keep-first-max semantics: strict `>`
    // keeps the earlier (lowest-index) struct on round-6 ties, and the
    // sentinel (-2 < any round-6 cosine ≥ -1) loses to the first
    // scored entry.
    val zero = struct(lit(-2.0).as("c"), lit(-1).as("i"))
    aggregate(scored, zero,
      (acc, x) => when(x("c") > acc("c"), x).otherwise(acc))
      .getField("i").as("cluster")
  }

  // The PQ codebook assignment rule is L2, not cosine (Jégou et al.
  // 2011 train/encode in L2): unlike cosine, it quantizes slice
  // MAGNITUDE as well as direction, which is what makes the
  // centroid-concat reconstruction track the full-vector dot product
  // (measured at sf0.1/m=32/k=32: cosine assignment left 2 of an
  // IVF-PQ probe's top-10 outside the exact top-50 and 1 outside the
  // top-100; L2 assignment pulls all 10 inside the top-50). The
  // argmin itself — round-6 squared distance, ties to the lowest
  // cluster — lives in the native
  // [[graft.functions.PqEncodeFn.PqEncode]] expression.

  /** Training half of [[kmeans]]: the final (cluster, centroid) MODEL as
    * a k-row DataFrame — persist it with `model.write.parquet(...)` and
    * assign arbitrary future batches against it
    * ([[kmeansAssign]]), the same train-offline / score-online split as
    * the NB classifier and DSIR.
    *
    * Takedown contract for the persisted model:
    * [[Takedown.userPersisted]] — RETRAIN over the surviving corpus and
    * replace (centroids are many-to-one aggregates; a model trained on
    * victims is influence no in-place correction can provably remove).
    * Prefer [[kmeansModelWrite]] for persistence: its registered
    * `kmeans_model` kind lets the takedown orchestrator fence, audit,
    * and retrain the store instead of relying on this doc contract.
    */
  def kmeansTrain(df: DataFrame, idCol: String, vecCol: String, dim: Int,
      k: Int, iters: Int): DataFrame = {
    require(k >= 1 && iters >= 0, "k >= 1, iters >= 0")
    // the model is a driver-built frame: the scope frees the training
    // checkpoint, or retrain-at-compact callers ([[kmeansModelCompact]])
    // would accumulate one block set per pass
    Frames.scoped { f =>
      // read once per round + once for seeds
      val base = f.checkpoint(df.filter(col(vecCol).isNotNull)
        .select(col(idCol), col(vecCol).cast("array<double>").as("__v")))
      // deterministic seeds: the k lowest-id vectors (bounded collect)
      var cents: Seq[(Int, Seq[Double])] = base.orderBy(col(idCol)).limit(k)
        .collect().map(_.getSeq[Double](1)).toSeq.zipWithIndex.map(_.swap)
      (1 to iters).foreach { _ =>
        val updated = base.select(nearest(col("__v"), cents), col("__v"))
          .groupBy("cluster")
          .agg(graft.functions.Aggregators.vectorCentroid(col("__v"), dim).as("c"))
          .collect()
          .map(r => r.getInt(0) -> r.getSeq[Double](1).map(x =>
            // SQL round() semantics (half away from zero), 9 decimals —
            // engine-stable centroid components
            BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP)
              .toDouble))
          .toMap
        cents = cents.map { case (i, prev) =>
          i -> updated.getOrElse(i, prev) // empty cluster keeps its centroid
        }
      }
      val spark = df.sparkSession
      import spark.implicits._
      cents.toDF("cluster", "centroid")
    }
  }

  /** Assignment half: nearest model centroid per vector (argmax of
    * round-6 cosine, ties → lowest cluster) — one codegen'd projection
    * against the collected k-row model, no shuffle. When the model was
    * trained on a corpus containing these vectors this reproduces
    * [[kmeans]] restricted to them exactly.
    */
  def kmeansAssign(df: DataFrame, idCol: String, vecCol: String,
      model: DataFrame): DataFrame = {
    // bounded collect: k rows
    val cents = model.collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1))
      .sortBy(_._1).toSeq
    df.filter(col(vecCol).isNotNull)
      .select(col(idCol), col(vecCol).cast("array<double>").as("__v"))
      .select(col(idCol), nearest(col("__v"), cents))
  }

  /** Product-quantization codebooks (Jégou et al. 2011, "Product
    * quantization for nearest neighbor search"): the vector splits into
    * `m` contiguous subspaces of `dim / m` components and each subspace
    * trains its OWN [[kmeansTrain]] codebook — k^m composite cells from
    * only m·k stored centroids, the compression regime beyond
    * [[quantizeInt8]]'s 8-bit-per-COMPONENT scalar quantization (PQ at
    * m = 8, k = 16 stores 8 nibbles per vector: 64× smaller than the
    * raw 64-double embedding, 16× smaller than SQ8). Codebooks train
    * and encode in L2 ([[graft.functions.PqEncodeFn.PqEncode]] —
    * Jégou's metric; cosine stays the
    * SCORING metric in [[pqTopK]]), with the engine's determinism
    * recipe — lowest-id seeds, round-6 argmin with ties to the lowest
    * cluster, round-9 centroids — so an independent engine replays the
    * codebooks exactly.
    *
    * Returns the model as (sub, cluster, centroid) — m·k rows; persist
    * with `model.write.parquet(...)`. Takedown contract for the
    * persisted codebooks: [[Takedown.userPersisted]] — retrain over
    * survivors and replace (and re-encode stored codes). Prefer
    * [[pqModelWrite]] for persistence: its registered `pq_model` kind
    * lets the takedown orchestrator fence, audit, and retrain the
    * store instead of relying on this doc contract.
    */
  def pqTrain(df: DataFrame, idCol: String, vecCol: String, dim: Int,
      m: Int, k: Int, iters: Int): DataFrame = {
    require(m >= 1 && dim % m == 0, "m must divide dim")
    require(k >= 1 && iters >= 0, "k >= 1, iters >= 0")
    val sub = dim / m
    val v = graft.functions.VectorFunctions.doubles(df, vecCol)
    // ALL m codebooks train from one frame in ONE aggregation pass per
    // Lloyd iteration (the native PqEncode expression computes every
    // subspace's argmin in one tight loop, posexplode fans the codes out
    // to (sub, cluster, slice) rows, group on the compound key): a
    // per-subspace kmeansTrain loop would scan the corpus m times per
    // iteration — the difference between 2 and 16 corpus passes at m=8
    // driver-built model → the training checkpoint is releasable the
    // moment the loop ends (the kmeansTrain discipline)
    Frames.scoped { f =>
      // seeds + every iteration read it
      val base = f.checkpoint(df.filter(v.isNotNull)
        .select(col(idCol).as("__id"), v.as("__v")))
      // deterministic seeds: the k lowest-id vectors' slices (one bounded
      // collect serves all m subspaces)
      val seedRows = base.orderBy(col("__id")).limit(k).collect()
      var cents: Map[Int, Seq[(Int, Seq[Double])]] = (0 until m).map { s =>
        s -> seedRows.map(_.getSeq[Double](1).slice(s * sub, (s + 1) * sub))
          .toSeq.zipWithIndex.map(_.swap)
      }.toMap
      (1 to iters).foreach { _ =>
        val codes = graft.functions.PqEncodeFn.pqEncode(col("__v"),
          (0 until m).map(s => cents(s).map(_._2)))
        val updated = base
          .select(col("__v"), posexplode(codes).as(Seq("sub", "cluster")))
          .select(col("sub"), col("cluster"),
            slice(col("__v"), col("sub") * sub + 1, lit(sub)).as("sv"))
          .groupBy("sub", "cluster")
          .agg(graft.functions.Aggregators.vectorCentroid(col("sv"), sub).as("c"))
          .collect()
          .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2).map(x =>
            // SQL round() semantics (half away from zero), 9 decimals —
            // engine-stable centroid components (the kmeansTrain recipe)
            BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP)
              .toDouble))
          .toMap
        cents = cents.map { case (s, cs) =>
          s -> cs.map { case (i, prev) =>
            i -> updated.getOrElse((s, i), prev) // empty cell keeps centroid
          }
        }
      }
      val spark = df.sparkSession
      import spark.implicits._
      cents.toSeq.flatMap { case (s, cs) =>
        cs.map { case (i, c) => (s, i, c) }
      }.sortBy(t => (t._1, t._2)).toDF("sub", "cluster", "centroid")
    }
  }

  /** Collected [[pqTrain]] model: per-sub centroid tables in cluster
    * order. Bounded: m·k rows.
    */
  private[operators] def pqModel(model: DataFrame): Seq[Seq[(Int, Seq[Double])]] = {
    val rows = model.collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2)))
    require(rows.nonEmpty, "empty PQ model")
    (0 until rows.map(_._1).max + 1).map(s =>
      rows.filter(_._1 == s).map(t => t._2 -> t._3).sortBy(_._1).toSeq)
  }

  /** Encode vectors against a [[pqTrain]] model: per subspace the L2
    * codebook argmin (round-6 squared distance, ties → lowest cluster),
    * all m subspaces in the single native
    * [[graft.functions.PqEncodeFn.PqEncode]] expression — one
    * projection, no shuffle, no join, and no m·k-subtree expression
    * blowup. Returns (id, codes: array<int>).
    */
  def pqEncode(df: DataFrame, idCol: String, vecCol: String,
      model: DataFrame): DataFrame = {
    val bySub = pqModel(model)
    val v = col(vecCol).cast("array<double>")
    df.filter(v.isNotNull)
      .select(col(idCol),
        graft.functions.PqEncodeFn.pqEncode(v, bySub.map(_.map(_._2)))
          .as("codes"))
  }

  /** Reconstruction column: codes → the concatenation of their
    * subspace centroids (the PQ decode). Pure column expression over
    * the model literal.
    */
  def pqDecode(codes: Column, model: DataFrame): Column = {
    val bySub = pqModel(model)
    flatten(array(bySub.indices.map { s =>
      val cents: Seq[Seq[Double]] = bySub(s).map(_._2)
      element_at(typedLit(cents), element_at(codes, s + 1) + 1)
    }: _*))
  }

  /** Compressed-domain top-k (FAISS `IndexPQ` shape): score every code
    * row by the cosine between the RAW query vector and the document's
    * reconstructed centroid concatenation — the normalized asymmetric
    * distance (query side exact, document side quantized; Jégou et al.
    * 2011 §III.B's ADC, with cosine's normalization replacing the inner
    * product since this engine's vectors are similarity-scored).
    * Deterministic: round-6 scores, ties → lowest id.
    *
    * Scale shape: the scan is EXHAUSTIVE but over codes (m ints per
    * doc), not raw vectors — the point of PQ is that the compressed
    * corpus fits where the raw one cannot; queries broadcast
    * (query-set-bounded), reconstruction is a projection against the
    * m·k-row model literal, and per-query top-k is the bounded
    * [[graft.functions.Aggregators.topKByScore]] aggregation (map-side
    * combine, ≤k entries per query per partition — never a group-sized
    * window sort). Compose with the IVF cell pruning
    * ([[graft.operators.Similarity.ivfTopKJoin]]) when even the code
    * scan must shrink.
    */
  def pqTopK(encoded: DataFrame, idCol: String,
      queries: DataFrame, qIdCol: String, qVecCol: String,
      model: DataFrame, k: Int, excludeSelf: Boolean = false): DataFrame = {
    import graft.functions.{VectorFunctions => V}
    val q = queries.filter(col(qVecCol).isNotNull)
      .select(col(qIdCol).cast("long").as("q_id"),
        col(qVecCol).cast("array<double>").as("__qv"))
    val dec = encoded.select(col(idCol).cast("long").as("id"),
      pqDecode(col("codes"), model).as("__dv"))
    val cand0 = dec.crossJoin(broadcast(q))
      .select(col("q_id"), col("id"),
        round(V.cosine(col("__qv"), col("__dv")), 6).as("pq_cos"))
    val cand = if (excludeSelf) cand0.filter(col("q_id") =!= col("id"))
      else cand0
    cand.groupBy("q_id")
      .agg(graft.functions.Aggregators.topKByScore(
        col("id"), col("pq_cos"), k).as("__top"))
      .select(col("q_id"), posexplode(col("__top")))
      .select(col("q_id"), col("col._1").as("id"), col("col._2").as("pq_cos"),
        (col("pos") + 1).as("rank"))
  }

  // ---------------------------------------------------------------
  // Persisted MODEL STORES as registered takedown kinds (the stronger
  // shape of the [[Takedown.userPersisted]] doc contract): k-means
  // centroids (`kmeans_model`) and PQ codebooks (`pq_model`) are
  // many-to-one aggregates — no in-place correction can provably
  // remove one training row's influence — so each store keeps a
  // training MANIFEST beside the model and the registered faces give
  // the orchestrator what a bare persisted frame never could:
  //
  //   path/<model table>  — the served model (centroids / codebooks)
  //   path/manifest       — (id, vec): the rows the model was trained
  //                         on (provenance)
  //   path/victims        — tombstoned training ids ([[VictimChannel]])
  //   path/meta           — the retrain recipe (dim/k/iters, + m)
  //   path/_STALE         — victim-influence fence
  //
  // forget-time delete is O(victim): it FENCES the model (reads refuse
  // until retrain — serving a victim-trained model after a takedown is
  // the governance violation the fence makes impossible) and
  // tombstones the victim ids; compact = RETRAIN over the manifest
  // survivors, the one provable removal path for an aggregate model.
  // The audit probe reports manifest-minus-tombstoned ids: with the
  // fence up no read face can surface victim influence, so a
  // post-forget audit is already `clean` and physical/model removal
  // stays with compaction — the same split every other store kind has.
  // ONE protocol implementation ([[ModelStore]]) so a lifecycle fix
  // cannot land in one model kind and miss the other (the CountStore /
  // AtomicBatches rationale again).
  //
  // Scale shape: model training corpora are SAMPLES (the coarse-
  // quantizer discipline — nobody Lloyd-iterates 100 TB), so the
  // manifest persists the training sample itself: bounded by the
  // sample, and exactly what retrain-over-survivors needs, with no
  // dependence on the source corpus still existing unchanged.
  // ---------------------------------------------------------------
  private object ModelStore {

    private def staleMarker(path: String) = s"$path/_STALE"

    /** True while the store carries tombstoned-but-not-yet-retrained
      * victim influence (the [[delete]] fence).
      */
    def stale(spark: org.apache.spark.sql.SparkSession,
        path: String): Boolean =
      StoreRoot.fs(spark, path)
        .exists(new org.apache.hadoop.fs.Path(staleMarker(path)))

    /** The store's handle for `face` of the `kind` ("kmeansModel" or
      * "pqModel") store.
      */
    def open(spark: org.apache.spark.sql.SparkSession, path: String,
        kind: String, face: String): StoreRoot =
      new StoreRoot(spark, path, face, s"${kind}Write")

    /** The served `table` — refused while the model is victim-stale. */
    def served(spark: org.apache.spark.sql.SparkSession, path: String,
        kind: String, face: String, table: String): DataFrame = {
      val root = open(spark, path, kind, face)
      require(!stale(spark, path),
        s"$face: model at $path is VICTIM-STALE (_STALE fence " +
        "present): a takedown tombstoned training rows and the model " +
        s"still embeds them. Run ${kind}Compact " +
        "(retrain-over-survivors) to produce a servable model.")
      root.read(table)
    }

    /** Full (re)build: manifest + recipe + the model table, under the
      * rebuild marker (training itself runs before it — the
      * [[AtomicBatches.withRebuildMarker]] availability caveat is the
      * CALLER's obligation, since training happens caller-side). A
      * rebuild supersedes any pending takedown state: the new model
      * carries no old-manifest influence.
      */
    def write(spark: org.apache.spark.sql.SparkSession, path: String,
        manifest: DataFrame, modelTable: (String, DataFrame),
        meta: DataFrame): Unit =
      AtomicBatches.withRebuildMarker(spark, path) {
        modelTable._2.write.mode("overwrite")
          .parquet(s"$path/${modelTable._1}")
        manifest.write.mode("overwrite").parquet(s"$path/manifest")
        meta.write.mode("overwrite").parquet(s"$path/meta")
        VictimChannel.retire(spark, path)
        StoreRoot.fs(spark, path)
          .delete(new org.apache.hadoop.fs.Path(staleMarker(path)), false)
      }

    /** Takedown face: fence, then tombstone — see the section note.
      * Order matters for crash honesty: the fence goes up BEFORE the
      * tombstone batch commits, so a crash between leaves a
      * refused-but-auditable store (probe still reports the victims →
      * `held`, loud), never a servable victim-trained model. Victims
      * absent from the manifest are no-ops; re-delivery is idempotent.
      */
    def delete(victims: DataFrame, idCol: String, path: String,
        kind: String): Unit = Frames.scoped { f =>
      val spark = victims.sparkSession
      val root = open(spark, path, kind, s"${kind}Delete")
      // counted, then joined
      val vids = f.checkpoint(
        victims.select(col(idCol).cast("long").as("id")).distinct())
      // count-gated broadcast, the victimDeletePlans discipline: the
      // request is unbounded, so hinting it into a driver-built
      // broadcast relation is only safe below the planner's own
      // threshold — beyond it (or with auto-broadcast off) the semi
      // join shuffles
      val thresholdBytes = org.apache.spark.sql.graft.Bridge
        .autoBroadcastJoinThreshold(spark)
      val side = if (thresholdBytes > 0 && vids.count() <= thresholdBytes / 8)
        broadcast(vids) else vids
      // existence probe + tombstone write read it
      val hit = f.checkpoint(root.read("manifest")
        .select("id").join(side, Seq("id"), "left_semi"))
      f.release(vids)
      if (hit.limit(1).count() > 0) {
        StoreRoot.fs(spark, path)
          .create(new org.apache.hadoop.fs.Path(staleMarker(path)), true)
          .close()
        VictimChannel.stage(root, hit)()
      }
    }

    /** Audit probe: manifest minus tombstoned victims — the
      * read-visibility rule (see the section note).
      */
    def presentIds(spark: org.apache.spark.sql.SparkSession,
        path: String, kind: String): DataFrame = {
      val root = open(spark, path, kind, s"${kind}PresentIds")
      root.victims.minus(root.read("manifest").select("id"), "id")
    }

    /** Physical removal = RETRAIN over the manifest survivors, then
      * swap the manifest to the survivor set, lift the fence and retire
      * the tombstones ([[VictimChannel.compact]]). `retrain` maps the
      * survivor manifest frame and the store's `meta` recipe to the new
      * model table's rows (each face handles the empty-survivors
      * edge). No-op when nothing is tombstoned. Runs
      * under the `_MAINT` lock; a crashed pass re-runs with
      * `takeover = true` (every step is a pure function of the current
      * tables — the manifest swap is recovered from `manifest_next` if a
      * crash landed between its delete and rename).
      */
    def compact(spark: org.apache.spark.sql.SparkSession, path: String,
        takeover: Boolean, kind: String, modelTable: String)
        (retrain: (DataFrame, org.apache.spark.sql.Row) => DataFrame)
        : Unit = {
      val fs = StoreRoot.fs(spark, path)
      val mPath = new org.apache.hadoop.fs.Path(s"$path/manifest")
      val mNext = new org.apache.hadoop.fs.Path(s"$path/manifest_next")
      // fence WITHOUT tombstones = a delete crashed between fence-up
      // and its tombstone commit (the rewrite below drops the fence
      // BEFORE the channel retires, so a crashed COMPACT can never
      // leave this state): the victim set is unknown here, and
      // retraining over the full manifest would lift the fence while
      // every victim still influences the model — refuse, the recovery
      // is re-running the forget (re-delivery is safe)
      require(!stale(spark, path) || VictimChannel.pending(spark, path) ||
          fs.exists(mNext),
        s"model store at $path is FENCED (_STALE) with no tombstones " +
        "recorded: a delete crashed between the fence and its tombstone " +
        "write, so the victim set is unknown — re-run the forget (its " +
        "re-delivery is idempotent) before compacting; retraining now " +
        "would lift the fence with every victim still in the model.")
      VictimChannel.compact(spark, path, takeover, s"${kind}Compact",
          s"${kind}Write") { (root, victims) =>
        if (!fs.exists(mPath) && fs.exists(mNext) &&
            !fs.rename(mNext, mPath))
          throw new java.io.IOException(
            s"manifest swap recovery rename $mNext -> $mPath failed")
        root.read("manifest")
          .join(broadcast(victims), Seq("id"), "left_anti")
          .write.mode("overwrite").parquet(mNext.toString)
        retrain(root.read("manifest_next"), root.meta)
          .write.mode("overwrite").parquet(s"$path/$modelTable")
        if (!fs.delete(mPath, true) || !fs.rename(mNext, mPath))
          throw new java.io.IOException(
            s"manifest swap $mNext -> $mPath failed mid-way; re-run the " +
            "compaction with takeover = true — it recovers the swap")
        // the fence drops BEFORE the channel retires, so "stale with no
        // tombstones" only ever means a crashed DELETE (refused above); a
        // crash between the two leaves applied tombstones that the next
        // pass harmlessly re-folds (they left the manifest)
        fs.delete(new org.apache.hadoop.fs.Path(staleMarker(path)), false)
      }
    }
  }

  // the shared manifest projection: the exact rows a train face
  // consumes, in the exact value space it trains on
  private def modelManifest(train: DataFrame, idCol: String,
      vecCol: String): DataFrame =
    train.filter(col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("vec"))

  /** True while the k-means model store carries
    * tombstoned-but-not-yet-retrained victim influence.
    */
  def kmeansModelStale(spark: org.apache.spark.sql.SparkSession,
      path: String): Boolean = ModelStore.stale(spark, path)

  /** Train a [[kmeansTrain]] model AND persist it as a kmeans_model
    * store: centroids + the training manifest + the retrain recipe.
    * This is the registered-takedown alternative to persisting the
    * bare model frame yourself — `Takedown.kinds("kmeans_model")`
    * can fence, tombstone, audit, and retrain this store; a frame you
    * wrote out on your own is invisible to the orchestrator
    * ([[Takedown.userPersisted]]). Training runs BEFORE the rebuild
    * marker (the [[AtomicBatches.withRebuildMarker]] availability
    * caveat).
    */
  def kmeansModelWrite(train: DataFrame, idCol: String, vecCol: String,
      dim: Int, k: Int, iters: Int, path: String): Unit = {
    val spark = train.sparkSession
    import spark.implicits._
    Frames.scoped { f =>
      // trained on AND persisted
      val manifest = f.checkpoint(modelManifest(train, idCol, vecCol))
      val model = kmeansTrain(manifest, "id", "vec", dim, k, iters)
      ModelStore.write(spark, path, manifest, "centroids" -> model,
        Seq((dim, k, iters)).toDF("dim", "k", "iters"))
    }
  }

  /** The served model (cluster, centroid) — REFUSES while the store is
    * victim-stale: between a takedown and its compaction the centroids
    * still embed the victims, and serving them would hand out exactly
    * the influence the takedown removed. Run [[kmeansModelCompact]]
    * (retrain-over-survivors) to clear.
    */
  def kmeansModelCentroids(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    ModelStore.served(spark, path, "kmeansModel", "kmeansModelCentroids",
      "centroids").select("cluster", "centroid")
  }

  /** [[kmeansAssign]] against the persisted store's current centroids
    * (same stale fence as [[kmeansModelCentroids]]).
    */
  def kmeansModelAssign(df: DataFrame, idCol: String, vecCol: String,
      path: String): DataFrame =
    kmeansAssign(df, idCol, vecCol,
      kmeansModelCentroids(df.sparkSession, path))

  /** Takedown face: fence + tombstone, O(victim-size) — retraining is
    * [[kmeansModelCompact]]'s job ([[ModelStore.delete]]).
    */
  def kmeansModelDelete(victims: DataFrame, idCol: String,
      path: String): Unit =
    ModelStore.delete(victims, idCol, path, "kmeansModel")

  /** Audit probe: manifest minus tombstoned victims
    * ([[ModelStore.presentIds]]).
    */
  def kmeansModelPresentIds(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame =
    ModelStore.presentIds(spark, path, "kmeansModel")

  /** Retrain-over-survivors compaction ([[ModelStore.compact]]). An
    * all-victims manifest retrains to an EMPTY model (no training rows
    * → no defensible centroids); reads of it are the caller's
    * decision, the store just refuses to serve victim influence.
    */
  def kmeansModelCompact(spark: org.apache.spark.sql.SparkSession,
      path: String, takeover: Boolean = false): Unit =
    ModelStore.compact(spark, path, takeover, "kmeansModel", "centroids") {
      (survivors, meta) =>
      if (survivors.limit(1).count() == 0) {
        import spark.implicits._
        Seq.empty[(Int, Seq[Double])].toDF("cluster", "centroid")
      } else kmeansTrain(survivors, "id", "vec", meta.getAs[Int]("dim"),
        meta.getAs[Int]("k"), meta.getAs[Int]("iters"))
    }

  /** True while the PQ codebook store carries
    * tombstoned-but-not-yet-retrained victim influence.
    */
  def pqModelStale(spark: org.apache.spark.sql.SparkSession,
      path: String): Boolean = ModelStore.stale(spark, path)

  /** Train [[pqTrain]] codebooks AND persist them as a pq_model store
    * (codebooks + training manifest + recipe) — the registered-
    * takedown alternative to persisting the bare codebook frame
    * ([[Takedown.userPersisted]]'s pqTrain row): the `pq_model` kind
    * can fence, tombstone, audit, and retrain this store. Training
    * runs BEFORE the rebuild marker.
    */
  def pqModelWrite(train: DataFrame, idCol: String, vecCol: String,
      dim: Int, m: Int, k: Int, iters: Int, path: String): Unit = {
    val spark = train.sparkSession
    import spark.implicits._
    Frames.scoped { f =>
      // trained on AND persisted
      val manifest = f.checkpoint(modelManifest(train, idCol, vecCol))
      val model = pqTrain(manifest, "id", "vec", dim, m, k, iters)
      ModelStore.write(spark, path, manifest, "codebooks" -> model,
        Seq((dim, m, k, iters)).toDF("dim", "m", "k", "iters"))
    }
  }

  /** The served codebooks (sub, cluster, centroid) — REFUSES while
    * victim-stale, like [[kmeansModelCentroids]]. Run
    * [[pqModelCompact]] to clear.
    */
  def pqModelCodebooks(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    ModelStore.served(spark, path, "pqModel", "pqModelCodebooks",
      "codebooks").select("sub", "cluster", "centroid")
  }

  /** [[pqEncode]] against the persisted store's current codebooks
    * (same stale fence).
    */
  def pqModelEncode(df: DataFrame, idCol: String, vecCol: String,
      path: String): DataFrame =
    pqEncode(df, idCol, vecCol, pqModelCodebooks(df.sparkSession, path))

  /** Takedown face: fence + tombstone ([[ModelStore.delete]]). */
  def pqModelDelete(victims: DataFrame, idCol: String,
      path: String): Unit =
    ModelStore.delete(victims, idCol, path, "pqModel")

  /** Audit probe ([[ModelStore.presentIds]]). */
  def pqModelPresentIds(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame =
    ModelStore.presentIds(spark, path, "pqModel")

  /** Retrain-over-survivors compaction ([[ModelStore.compact]]);
    * empty-survivors edge as in [[kmeansModelCompact]]. Anything
    * ENCODED against the old codebooks is a derived artifact — re-run
    * [[pqModelEncode]] over it after compaction (the
    * [[Takedown.userPersisted]] re-encode note, unchanged).
    */
  def pqModelCompact(spark: org.apache.spark.sql.SparkSession,
      path: String, takeover: Boolean = false): Unit =
    ModelStore.compact(spark, path, takeover, "pqModel", "codebooks") {
      (survivors, meta) =>
      if (survivors.limit(1).count() == 0) {
        import spark.implicits._
        Seq.empty[(Int, Int, Seq[Double])].toDF("sub", "cluster", "centroid")
      } else pqTrain(survivors, "id", "vec", meta.getAs[Int]("dim"),
        meta.getAs[Int]("m"), meta.getAs[Int]("k"),
        meta.getAs[Int]("iters"))
    }
}
